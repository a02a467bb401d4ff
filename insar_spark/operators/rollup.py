"""Continuous aggregates: 1m/1h/1d retention-tier rollups + tier cascade.

The retention tiers are the engine's grouping-set analog of the reference's
stack averages (insar/prepare.py:258-348, insar/stackavg.py:34-105): a
NaN-aware sum/count per (series, window). Catalyst executes each rollup as a
partial (map-side) + final hash aggregate — the same two-phase pattern the
reference hand-codes with running accumulators.

Key scale property: the coarser tier is computed FROM the finer tier
(`cascade`), never from raw turns — at 10^12 turns the 1h rollup reads the
~60×-smaller 1m table, and the reaggregation is exact because every tier
carries decomposable stats (sums + counts, min/max, first/last), never
pre-divided averages. Within a 1m window first/last are the arg-min/arg-max
of the (ts, turn_idx) order key; above it they come from window order, so
no tier stores an order key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from insar_spark.operators.series import KEY, ord_key

# tier name -> date_trunc unit; ordered fine -> coarse
TIERS: dict[str, str] = {"1m": "minute", "1h": "hour", "1d": "day"}


def rollup_turns(df: DataFrame, tier: str = "1m") -> DataFrame:
    """Tier-0 rollup: raw transcript turns -> per-(conv, window) aggregates.

    One shuffle on (conv_id, window_start); map-side partial agg handles
    mega-conversation skew for all stats here (every stat is decomposable, so
    hot keys are pre-reduced inside each input partition before the exchange).
    """
    unit = TIERS[tier]
    win = F.date_trunc(unit, F.col("ts")).alias("window_start")
    o = ord_key()
    return (
        df.select(
            KEY,
            win,
            F.length("text").cast("double").alias("text_len"),
            F.col("tool"),
            o,
        )
        .groupBy(KEY, "window_start")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.count("tool").alias("n_tool_calls"),
            F.sum("text_len").alias("sum_text_len"),
            F.min("text_len").alias("min_text_len"),
            F.max("text_len").alias("max_text_len"),
            F.min_by("text_len", "ord").alias("first_text_len"),
            F.max_by("text_len", "ord").alias("last_text_len"),
        )
    )


def cascade(rolled: DataFrame, to_tier: str) -> DataFrame:
    """Re-aggregate a finer tier into ``to_tier`` (1m -> 1h -> 1d).

    Exact partial->final reaggregation: sums of sums, counts of counts,
    min/max of min/max, and first/last taken from the earliest/latest finer
    window. That is exact because each input row is a distinct finer window
    of its conversation (stored tiers are unique per (conv_id,
    window_start); a live view runs latest-epoch-wins first), and windows
    are disjoint, so the earliest window holds the turn with the smallest
    (ts, turn_idx) key. The identity rollup_1h(turns) ==
    cascade(rollup_1m(turns), '1h') is a test invariant (FIXTURES.md §4).
    """
    unit = TIERS[to_tier]
    win = F.date_trunc(unit, F.col("window_start")).alias("window_start")
    return (
        rolled.groupBy(KEY, win)
        .agg(
            F.sum("n_turns").alias("n_turns"),
            F.sum("n_tool_calls").alias("n_tool_calls"),
            F.sum("sum_text_len").alias("sum_text_len"),
            F.min("min_text_len").alias("min_text_len"),
            F.max("max_text_len").alias("max_text_len"),
            F.min_by("first_text_len", "window_start").alias("first_text_len"),
            F.max_by("last_text_len", "window_start").alias("last_text_len"),
        )
    )

