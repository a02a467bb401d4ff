"""Independent reference results, computed with DuckDB over the landed
Parquet, and the comparisons the benchmark's output checks use."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

UNIT_US = {"1m": 60_000_000, "1h": 3_600_000_000, "1d": 86_400_000_000}

# Stats every plain-stats tier carries (operators.rollup._STATS + first/last)
STATS = [
    "n_turns",
    "n_tool_calls",
    "sum_text_len",
    "min_text_len",
    "max_text_len",
    "first_text_len",
    "last_text_len",
]


class Oracle:
    """DuckDB view ``t`` over a Parquet glob of transcripts, with the text
    length, epoch microseconds and the engine's total order key
    (epoch-millis * 2^20 + turn_idx) precomputed."""

    def __init__(self, parquet_glob: str) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone='UTC'")
        self.con.execute("SET threads=2")
        self.con.execute(
            f"""CREATE TABLE t AS SELECT conv_id,
                  epoch_us(ts::TIMESTAMP) AS us,
                  length(text)::DOUBLE AS text_len,
                  tool,
                  epoch_ms(ts::TIMESTAMP) * 1048576 + turn_idx AS ord
                FROM read_parquet('{parquet_glob}')"""
        )

    def query(self, sql: str, *params) -> pd.DataFrame:
        return self.con.execute(sql, list(params)).df()

    def rows(self, where: str = "TRUE", *params) -> int:
        return int(
            self.con.execute(f"SELECT count(*) FROM t WHERE {where}", list(params))
            .fetchone()[0]
        )

    def rollup(self, tier: str, where: str = "TRUE", *params) -> pd.DataFrame:
        """Batch rollup of the rows matching ``where`` at ``tier``; the
        window is ``w`` in epoch microseconds."""
        u = UNIT_US[tier]
        return self.query(
            f"""SELECT conv_id, (us // {u}) * {u} AS w,
                  count(*) AS n_turns, count(tool) AS n_tool_calls,
                  sum(text_len) AS sum_text_len,
                  min(text_len) AS min_text_len, max(text_len) AS max_text_len,
                  arg_min(text_len, ord) AS first_text_len,
                  arg_max(text_len, ord) AS last_text_len
                FROM t WHERE {where} GROUP BY ALL""",
            *params,
        )

    def days(self, where: str = "TRUE", *params) -> list[str]:
        df = self.query(
            f"SELECT DISTINCT strftime(make_timestamp(us), '%Y-%m-%d') AS d "
            f"FROM t WHERE {where} ORDER BY d",
            *params,
        )
        return df["d"].tolist()

    def close(self) -> None:
        self.con.close()


def window_us(col: pd.Series) -> np.ndarray:
    """Spark ``window_start`` (collected as naive UTC datetimes) as epoch
    microseconds."""
    return col.to_numpy("datetime64[us]").astype("int64")


def diff_rollup(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` (engine rows: conv_id, window_start, STATS) holds
    exactly the rows of ``want`` (oracle rows: conv_id, w, STATS); else a
    one-line description of the first difference."""
    g = got.assign(w=window_us(got["window_start"]))[["conv_id", "w", *STATS]]
    key = ["conv_id", "w"]
    g = g.sort_values(key).reset_index(drop=True)
    o = want[["conv_id", "w", *STATS]].sort_values(key).reset_index(drop=True)
    if len(g) != len(o):
        return f"{len(g)} rows, reference has {len(o)}"
    if not (g[key].to_numpy() == o[key].to_numpy()).all():
        return "window keys differ from the reference"
    for c in STATS:
        a = g[c].to_numpy(dtype="float64")
        b = o[c].to_numpy(dtype="float64")
        bad = ~((a == b) | (np.isnan(a) & np.isnan(b)))
        if bad.any():
            i = int(np.argmax(bad))
            return f"{c} differs at {g.loc[i, 'conv_id']}/{g.loc[i, 'w']}: {a[i]} vs {b[i]}"
    return None
