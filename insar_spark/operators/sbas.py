"""Distributed SBAS inversion: per-series least squares as a grouped-map UDF.

The reference solves pixels in 10 MB blocks on a ProcessPoolExecutor
(insar/timeseries.py:326-404); here each *series* (conv_id) is one Arrow
group handed to a vectorized NumPy kernel via ``applyInPandas`` — Spark's
scheduler is the pool, and partial locality comes free from the groupBy
exchange. No per-row Python anywhere.

Scale notes (100 TB design):
* The only shuffle is the groupBy(conv_id) exchange.
* Series whose deltas are all 0 or null are short-circuited BEFORE the UDF
  (insar/timeseries.py:512-516 analog) — see ``invert_pairs(prefilter=)``.
* A mega-conversation can't be split for a whole-series solve; memory is
  bounded because the solve is O(pairs × dates) per group and the pair
  network is bandwidth-limited upstream (operators.series.adjacent_pairs).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from insar_spark.functions.sbas_kernels import solve_series
from insar_spark.operators.series import KEY

SOLVE_SCHEMA = (
    f"{KEY} string, date_num double, phase double, temporal_coherence double"
)

_SEC_PER_DAY = 86_400.0


def invert_pairs(
    pairs: DataFrame,
    delta_col: str = "delta_v",
    use_b_matrix: bool = False,
    weight_col: str | None = None,
    scale: float = 1.0,
    prefilter: bool = True,
    l1: bool = False,
) -> DataFrame:
    """Solve A·φ = Δφ per conv_id over a pair table.

    ``pairs``: (conv_id, early_ts, late_ts, <delta_col>[, weight_col]) — the
    output of operators.series.adjacent_pairs / all_pairs, or any filtered
    pair network (F1–F4 applied upstream so Catalyst pushes them into the
    scan). Returns one row per (conv_id, date): the reconstructed cumulative
    series with a temporal-coherence quality column (A7/A8 + A4).

    ``prefilter`` (F8) drops, before the solve UDF, every series whose
    deltas are all 0 or null (insar/timeseries.py:512-516). A NaN delta
    sums to NaN and Spark orders NaN above every number, so a series with
    a NaN delta is kept. The per-series sum is a window over ``conv_id``,
    which rides the pairs' own ``conv_id`` partitioning and order: no
    second shuffle of the pair table.
    """
    cols = [KEY, "early_ts", "late_ts", F.col(delta_col).alias("_delta")]
    if weight_col:
        cols.append(F.col(weight_col).alias("_w"))
    df = pairs.select(*cols)
    if prefilter:
        signal = F.sum(F.abs(F.coalesce(F.col("_delta"), F.lit(0.0))))
        df = (
            df.withColumn("_s", signal.over(Window.partitionBy(KEY)))
            .filter(F.col("_s") > 0)
            .drop("_s")
        )

    has_w = weight_col is not None

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:  # noqa: C901 — one kernel
        import numpy as np

        early = pdf["early_ts"].to_numpy("datetime64[us]").astype("int64")
        late = pdf["late_ts"].to_numpy("datetime64[us]").astype("int64")
        # float day-numbers, matching the reference's date2num convention
        # (insar/ts_utils.py:22-27) with the Unix epoch
        e_days = early / 1e6 / _SEC_PER_DAY
        l_days = late / 1e6 / _SEC_PER_DAY
        # deterministic order: sort pairs by (early, late) for fixed
        # accumulation order (bit-for-bit reproducibility)
        order = np.lexsort((l_days, e_days))
        e_days, l_days = e_days[order], l_days[order]
        deltas = pdf["_delta"].to_numpy(dtype="float64")[order]
        weights = pdf["_w"].to_numpy(dtype="float64")[order] if has_w else None
        date_nums = np.unique(np.concatenate([e_days, l_days]))
        phases, coh = solve_series(
            date_nums,
            e_days,
            l_days,
            deltas,
            use_b_matrix=use_b_matrix,
            weights=weights,
            scale=scale,
            l1=l1,
        )
        # columnar return (r6): scalars broadcast to the sized columns —
        # skips the per-group DataFrame construction in keyed_map
        return {
            KEY: pdf[KEY].iloc[0],
            "date_num": date_nums,
            "phase": phases,
            "temporal_coherence": (
                np.broadcast_to(coh, np.shape(phases)) if np.ndim(coh) == 0
                else coh
            ),
        }

    # batched per-key execution: fleets of small series share one Arrow
    # invocation instead of paying per-group serde (operators.batched)
    from insar_spark.operators.batched import keyed_map

    return keyed_map(
        df, KEY, ["early_ts", "late_ts"], solve, SOLVE_SCHEMA
    )


def invert_blobs(
    blobs: DataFrame,
    use_b_matrix: bool = False,
    scale: float = 1.0,
) -> DataFrame:
    """SBAS solve straight from Gorilla-compressed series blobs.

    The north-star transport: one (conv_id, ts_blob, v_blob) row per series
    moves through the exchange instead of N turn rows; delta-of-delta +
    XOR decode happens inside the same Arrow batch as the solve
    (compression *inside* the vectorized UDFs, not just at rest). The pair
    network is the adjacent chain (np.diff of the decoded series), i.e.
    the production bandwidth-1 network.
    """
    from typing import Iterator

    from insar_spark.functions.gorilla import decode_timestamps, decode_values

    def solve(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            # r6: accumulate flat arrays instead of one pandas DataFrame
            # per series + concat — at fleet scale the per-series frame
            # construction dominated the decode+solve work itself
            keys: list[str] = []
            dn_parts, ph_parts, coh_parts = [], [], []
            for row in pdf.itertuples(index=False):
                ts = decode_timestamps(bytes(row.ts_blob))
                vals = decode_values(bytes(row.v_blob))
                date_nums = ts / 1e6 / _SEC_PER_DAY
                if len(date_nums) < 2:
                    continue
                deltas = np.diff(vals)
                phases, coh = solve_series(
                    date_nums,
                    date_nums[:-1],
                    date_nums[1:],
                    deltas,
                    use_b_matrix=use_b_matrix,
                    scale=scale,
                )
                keys.extend([row.conv_id] * len(date_nums))
                dn_parts.append(date_nums)
                ph_parts.append(phases)
                coh_parts.append(
                    np.broadcast_to(coh, np.shape(phases))
                    if np.ndim(coh) == 0
                    else coh
                )
            if keys:
                yield pd.DataFrame(
                    {
                        KEY: keys,
                        "date_num": np.concatenate(dn_parts),
                        "phase": np.concatenate(ph_parts),
                        "temporal_coherence": np.concatenate(coh_parts),
                    }
                )

    return blobs.mapInPandas(solve, schema=SOLVE_SCHEMA)
