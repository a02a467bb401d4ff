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
    exchanges: list[str]
    python_stages: int

    @property
    def n_exchanges(self) -> int:
        return len(self.exchanges)

    @property
    def n_exchanges_unique(self) -> int:
        """Exchanges after collapsing textually-identical subtrees (modulo
        expression ids): repeated branches of a DAG (e.g. the candidate
        pipeline referenced by both sides of a verify join) print one
        Exchange per occurrence, but Spark's ReuseExchange executes the
        shuffle once — this is the count that reflects runtime cost."""
        norm = set()
        for e in self.exchanges:
            e = e[e.index("Exchange"):]  # drop tree-drawing prefix
            norm.add(re.sub(r"#\d+L?|\[plan_id=\d+\]", "", e))
        return len(norm)


def audit(df: DataFrame) -> PlanAudit:
    lines = executed_plan(df).splitlines()
    exchanges = [
        l.strip() for l in lines if re.search(r"\bExchange (hash|range|Single)", l)
    ]
    python_stages = sum(
        1 for l in lines
        if "ArrowEvalPython" in l or "FlatMapGroupsInPandas" in l or "MapInPandas" in l
        or "BatchEvalPython" in l
    )
    return PlanAudit(exchanges, python_stages)
