"""Physical-plan hygiene: programmatic checks over executed plans.

Catalyst plans this engine's physical execution; these helpers make the
properties the engine relies on (shuffle counts, Python stages)
assertable in tests, so a regression that silently adds a raw-size
shuffle fails CI instead of surfacing at 100 TB.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@dataclass
class PlanAudit:
    exchanges: list[str]  # each Exchange with its subtree, one node a line
    python_stages: int

    @property
    def n_exchanges(self) -> int:
        return len(self.exchanges)

    @property
    def n_exchanges_unique(self) -> int:
        """Exchanges after collapsing identical subtrees (modulo expression
        and plan ids): repeated branches of a DAG (e.g. the candidate
        pipeline referenced by both sides of a verify join) print one
        Exchange per occurrence, but Spark's ReuseExchange executes the
        shuffle once — this is the count that reflects runtime cost. Two
        different shuffles on the same key have different subtrees, so
        each counts."""
        return len({re.sub(r"#\d+L?|\[plan_id=\d+\]", "", e) for e in self.exchanges})


def _depth(line: str) -> int:
    """Tree depth of a plan line: the tree-drawing prefix is 3 characters
    (``+- ``, ``:- ``, ``:  ``, blanks) per level."""
    return (len(line) - len(line.lstrip(" :+-"))) // 3


def audit(df: DataFrame) -> PlanAudit:
    lines = executed_plan(df).splitlines()
    exchanges = []
    for i, line in enumerate(lines):
        if re.search(r"\bExchange (hash|range|Single)", line):
            d = _depth(line)
            end = next((j for j in range(i + 1, len(lines)) if _depth(lines[j]) <= d), len(lines))
            # drop the prefix of the levels above the Exchange, which
            # differs with where the subtree hangs
            exchanges.append("\n".join(l[3 * d:] for l in lines[i:end]))
    python_stages = sum(
        1 for l in lines
        if "ArrowEvalPython" in l or "FlatMapGroupsInPandas" in l or "MapInPandas" in l
        or "BatchEvalPython" in l
    )
    return PlanAudit(exchanges, python_stages)
