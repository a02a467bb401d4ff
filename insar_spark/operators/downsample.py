"""Visualization-grade per-series downsampling: M4 and LTTB.

The tier cascade (rollup.py) downsamples by AGGREGATING (mean/min/max per
window) — the right thing for analytics. Chart serving wants the other
kind: keep a few REAL points per series that preserve the line's shape.
Two standard operators, both over the transcript event series
(reference analog: the reference decimates interferogram stacks for
browse products, insar/prepare.py ``looks``/downsample paths — here
re-expressed as first-class per-series operators):

* ``m4_downsample`` — per (series, time bucket) keep the first / min /
  max / last points (M4, Jugel et al., VLDB 2014: the minimal point set
  that renders a pixel-exact line chart). Pure JVM aggregation — one
  shuffle, map-side partials; at 100 TB this is the same plan class as
  the stats tier build.
* ``lttb_downsample`` — Largest-Triangle-Three-Buckets (Steinarsson
  2013): fixed ``n_out`` points per series, each bucket contributing the
  point that maximizes the triangle area with the previously selected
  point and the next bucket's centroid. Inherently sequential per series
  -> batched keyed-map Arrow kernel (operators/batched.py), one shuffle.

Cross-engine determinism: both operators break ties on the PACKED integer
key ``round(v*100) * 2^30 ± turn_idx`` (values in the synthetic corpus
are exact 2-decimals; turn_idx < 2^30), and the LTTB areas are computed
in exact integer arithmetic — y scaled by 100, x as microsecond offsets
from the series start, Python ints in the kernel / HUGEINT in the DuckDB
oracle — so the argmax selection cannot flip on float summation order.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from insar_spark.operators.series import KEY

# tie-break packing: v100 * 2^30 + idx keeps (value, index) lexicographic
# order in one comparable int64 (v100 ≲ 2^23 at the corpus value range)
_PACK = 1 << 30


def m4_downsample(
    df: DataFrame,
    every: str = "week",
    value_col: str = "v",
    idx_col: str = "turn_idx",
) -> DataFrame:
    """M4: one row per (series, bucket) carrying the first/min/max/last
    points. ``every`` is a date_trunc unit (week/day/hour — calendar
    truncation, identical in Spark and DuckDB); ``min``/``max`` ties
    resolve to the earliest point in the bucket (packed-key
    arg_min/arg_max — deterministic cross-engine). Values are assumed
    EXACT 2-DECIMALS (the corpus contract, module header): the tie-break
    key packs round(v*100), so a >2-decimal value can resolve ts_min to
    a point not attaining v_min."""
    v100 = F.round(F.col(value_col) * 100).cast("bigint")
    key_min = v100 * _PACK + F.col(idx_col)
    key_max = v100 * _PACK + (F.lit(_PACK - 1) - F.col(idx_col))
    return (
        df.withColumn("_kmin", key_min)
        .withColumn("_kmax", key_max)
        .groupBy(KEY, F.date_trunc(every, "ts").alias("window_start"))
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.expr(f"min_by({value_col}, {idx_col})").alias("v_first"),
            F.expr(f"min_by(ts, {idx_col})").alias("ts_first"),
            F.min(value_col).alias("v_min"),
            F.expr("min_by(ts, _kmin)").alias("ts_min"),
            F.max(value_col).alias("v_max"),
            F.expr("max_by(ts, _kmax)").alias("ts_max"),
            F.expr(f"max_by({value_col}, {idx_col})").alias("v_last"),
            F.expr(f"max_by(ts, {idx_col})").alias("ts_last"),
        )
    )


def m4_cascade(m4: DataFrame, every: str = "week") -> DataFrame:
    """Merge a STORED fine M4 tier into coarser buckets — exact, because
    every M4 component composes: fine buckets are disjoint time ranges,
    so first/last compose on bucket order, and the coarse min/max
    tie-break ("earliest point attaining the extreme") resolves to the
    earliest fine bucket attaining it, whose own ts_min/ts_max is
    already the earliest within the bucket. m4_cascade(m4(raw, day),
    week) == m4(raw, week) row-for-row (tested)."""
    src = m4.withColumnRenamed("window_start", "ws0")
    return src.groupBy(
        KEY, F.date_trunc(every, "ws0").alias("window_start")
    ).agg(
        F.sum("n_points").alias("n_points"),
        F.expr("min_by(v_first, ws0)").alias("v_first"),
        F.expr("min_by(ts_first, ws0)").alias("ts_first"),
        F.min("v_min").alias("v_min"),
        F.expr("min_by(ts_min, struct(v_min, unix_micros(ws0)))").alias(
            "ts_min"
        ),
        F.max("v_max").alias("v_max"),
        F.expr("max_by(ts_max, struct(v_max, -unix_micros(ws0)))").alias(
            "ts_max"
        ),
        F.expr("max_by(v_last, ws0)").alias("v_last"),
        F.expr("max_by(ts_last, ws0)").alias("ts_last"),
    )


# below this series length the vectorized path loses to the plain-int
# loop (per-call numpy conversion overhead: measured 4.2 s vs 0.69 s for
# 15000 x 67-point series; at 100k points the two are equal and beyond it
# numpy wins) — the int64 path is the MEGA-series route, like the
# ewma/holt Arrow scan
_LTTB_NP_MIN = 50_000


def _lttb_select(
    x: list[int], y: list[int], n_out: int, np_min: int = _LTTB_NP_MIN
) -> list[int]:
    """Exact-integer LTTB index selection (no float areas).

    Buckets split the n-2 interior points by INDEX (bucket k = indices i
    with floor((i-1)*(n_out-2)/(n-2)) == k); the candidate maximizing
    |(px*m - Sx)*(cy - py) - (px - cx)*(Sy - py*m)| wins (the triangle
    area against the previous pick and the next bucket's centroid,
    scaled by the bucket size m to stay integral), earliest index on
    ties. First and last points are always kept.

    r6: when a conservative magnitude bound proves every intermediate
    fits int64, the per-bucket argmax runs vectorized in numpy int64
    (bit-identical: int64 ops are exact below overflow, and np.argmax
    returns the FIRST maximum — the same earliest-index tie rule);
    otherwise the arbitrary-precision Python-int path below keeps
    exactness for pathological spans. Per-point Python work drops to the
    O(n_out) bucket loop."""
    n = len(x)
    if n <= n_out:
        return list(range(n))
    b = n_out - 2
    interior = n - 2
    # bucket of interior index i (1-based over 1..n-2): floor((i-1)*b/interior)
    # — the same membership formula the SQL oracle evaluates per row; the
    # first index of bucket k is therefore 1 + ceil(k*interior/b)
    starts = [1 + (k * interior + b - 1) // b for k in range(b)]
    ends = starts[1:] + [n - 1]  # exclusive
    # overflow guard (Python ints, exact): |area| <= 6 * X * Y * M with
    # X = max|x|, Y = max|y|, M = max bucket size — every intermediate
    # term is bounded by 4*X*Y*M, so 6XYM < 2^62 leaves a 2x margin
    X = max(abs(min(x)), abs(max(x)), 1)
    Y = max(abs(min(y)), abs(max(y)), 1)
    M = max(e - s for s, e in zip(starts, ends)) + 1
    if n >= np_min and 6 * X * Y * M < (1 << 62):
        return _lttb_select_np(x, y, n, b, starts, ends)
    sel = [0]
    px, py = x[0], y[0]
    for k in range(b):
        if k + 1 < b:
            lo, hi = starts[k + 1], ends[k + 1]
            m = hi - lo
            sx = sum(x[lo:hi])
            sy = sum(y[lo:hi])
        else:  # last bucket's "next" is the final point
            m, sx, sy = 1, x[n - 1], y[n - 1]
        best, best_area = None, -1
        for i in range(starts[k], ends[k]):
            area = abs((px * m - sx) * (y[i] - py) - (px - x[i]) * (sy - py * m))
            if area > best_area:
                best, best_area = i, area
        sel.append(best)
        px, py = x[best], y[best]
    sel.append(n - 1)
    return sel


def _lttb_select_np(
    x: list[int], y: list[int], n: int, b: int,
    starts: list[int], ends: list[int],
) -> list[int]:
    """Vectorized int64 core of :func:`_lttb_select` — identical bucket
    membership, area arithmetic, and earliest-index tie rule; only called
    under the caller's no-overflow bound."""
    xa = np.asarray(x, dtype=np.int64)
    ya = np.asarray(y, dtype=np.int64)
    sel = [0]
    px, py = int(xa[0]), int(ya[0])
    for k in range(b):
        if k + 1 < b:
            lo, hi = starts[k + 1], ends[k + 1]
            m = hi - lo
            sx = int(xa[lo:hi].sum())
            sy = int(ya[lo:hi].sum())
        else:
            m, sx, sy = 1, int(xa[n - 1]), int(ya[n - 1])
        s, e = starts[k], ends[k]
        area = np.abs(
            (px * m - sx) * (ya[s:e] - py) - (px - xa[s:e]) * (sy - py * m)
        )
        best = s + int(np.argmax(area))  # first max == earliest index
        sel.append(best)
        px, py = int(xa[best]), int(ya[best])
    sel.append(n - 1)
    return sel


def lttb_downsample(
    df: DataFrame,
    n_out: int = 24,
    value_col: str = "v",
    order_cols: list[str] | None = None,
) -> DataFrame:
    """LTTB to ``n_out`` points per series (passthrough when the series is
    already that short). Output: (conv_id, sel_idx, ts, v) — sel_idx is
    the selection rank, ts/v are the ORIGINAL point's coordinates.
    Values are assumed EXACT 2-DECIMALS (module header): y = round(v*100)
    uses numpy half-to-even, which diverges from the Spark/DuckDB
    half-away convention at exact .5 midpoints of >2-decimal inputs.

    ``order_cols`` overrides the series order columns (default
    ["turn_idx"]). Passing the raw order turn_idx is a row_number over
    (e.g. ["ts", "event_id"]) yields the identical point sequence while
    letting the caller skip materializing turn_idx — r6: drops the
    row_number Window + second Sort from the plan."""
    order = order_cols if order_cols is not None else ["turn_idx"]
    schema = f"{KEY} string, sel_idx int, ts timestamp, {value_col} double"

    def pick(pdf: pd.DataFrame):
        # rows arrive sorted by ``order`` (keyed_map's partition-level
        # sort) — the per-group re-sort this kernel used to do was a
        # no-op costing ~0.5 ms/group (r6, guide §4)
        ts = pdf["ts"].to_numpy("datetime64[us]").astype("int64")
        x = [int(t - ts[0]) for t in ts]
        y = [int(v) for v in np.round(pdf[value_col].to_numpy() * 100)]
        sel = _lttb_select(x, y, n_out)
        return {
            KEY: pdf[KEY].to_numpy()[sel],
            "sel_idx": np.arange(len(sel), dtype="int32"),
            "ts": pdf["ts"].to_numpy()[sel],
            value_col: pdf[value_col].to_numpy()[sel],
        }

    from insar_spark.operators.batched import keyed_map

    cols = list(dict.fromkeys([KEY, *order, "ts", value_col]))
    return keyed_map(df.select(*cols), KEY, order, pick, schema)
