"""DuckDB oracles for the engine's per-series, sketch, downsample, SBAS,
gap-fill, Gorilla and quality operators.

Each case runs one engine query in Spark and its independent DuckDB
twin over the ``events`` table of the sf0.001 test data (the
``documents`` table for ``doc_len_p95_by_source``), then compares row
count, column names and values (``compare``): columns sorted by name,
rows sorted by every column, floats equal to 1e-9 and then byte-equal. The UDF paths (SBAS solves, natural-cubic
spline, Gorilla round-trip) are re-executed in DuckDB via closed forms,
unrolled recurrence CTEs or list folds, so the check covers their values,
not only their row counts.

Float columns are rounded to 6 decimals on BOTH sides and IEEE -0.0 is
normalized after rounding, so summation-order ulp differences between
the engines do not show.

The engine's native input is the transcripts table (conv_id, turn_idx,
role, text, tool, ts). The ``events`` table (event_id, ts, user_id,
event_type, value, props) has the same *shape* as a transcript stream,
so the queries run over a deterministic transcript view of it
(``events_series`` in Spark, ``SERIES_CTE`` in DuckDB):

    conv_id  := cast(user_id as string)       (series key)
    turn_idx := row_number() over (user, ts, event_id) - 1   (stable order)
    v        := value                         (metric, like text_len)
    tool     := event_type                    (categorical, like tool)

Both derivations use the identical window ordering (ts, event_id), so
turn_idx is bit-identical on both sides.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from insar_spark.operators import series as S

SF = "/root/testdata/sf0.001"


# DuckDB CTE prefix mirrored by every oracle query (keep in sync with
# events_series below).
SERIES_CTE = """
WITH t AS (
  SELECT cast(user_id AS varchar)                                    AS conv_id,
         cast(row_number() OVER w - 1 AS int)                        AS turn_idx,
         ts,
         value                                                       AS v,
         event_type,
         epoch_ms(ts) * 1048576
           + (row_number() OVER w - 1)                               AS ord
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
"""


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def spread_scan(df: DataFrame, key: str = "conv_id") -> DataFrame:
    """Hash-repartition a narrow-split scan across the cluster BEFORE
    expression-heavy map work.

    Parquet cannot split below a row group, and a small single-row-group
    file arrives as ONE input split — so every map-side expression
    (md5 chains, partial aggregates) of an aggregation-shaped query runs
    single-threaded until the first exchange. Spreading by a
    high-cardinality column moves only the raw bytes once and unlocks
    every core for the projection (measured: the HLL tier build dropped
    2.0 s -> 0.9 s at sf1.0). Hash (not round-robin) partitioning avoids
    the local sort round-robin repartition pays for retry determinism,
    and hash(key) co-locates series, so a downstream groupBy leading
    with ``key`` reuses the exchange. At 100-TB scale the source already
    has >= parallelism splits and this is a no-op. Worth it only when
    per-row map work dominates — cheap projections (e.g. the lb bucket
    math) lose more to the extra shuffle than they gain (measured
    0.78 s -> 1.11 s), so callers opt in per query."""
    want = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < want:
        return df.repartition(want, key)
    return df


def events_series(
    spark: SparkSession,
    sf_dir: str,
    ts_min: str | None = None,
    ts_max: str | None = None,
) -> DataFrame:
    """Transcript-shaped series view over the events table (Spark side).

    ``ts_min``/``ts_max`` (F1 date-range filter) are applied to the raw scan
    so Catalyst pushes them into the parquet reader and turn_idx numbers the
    *filtered* network.
    """
    # UTC session TZ: required so date_trunc / epoch math agrees with the
    # (TZ-naive) DuckDB oracle regardless of the caller's session default.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # parquet ts is TIMESTAMP_NTZ; cast to TIMESTAMP under the UTC session TZ
    # (wall-clock preserving) so unix_micros/date_trunc work uniformly
    ev = load(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    if ts_min is not None:
        ev = ev.filter(F.col("ts") >= ts_min)
    if ts_max is not None:
        ev = ev.filter(F.col("ts") < ts_max)
    # Select conv_id FIRST and partition the row_number window by it: the
    # one raw-size exchange this induces is then reused by every downstream
    # per-series window/groupBy on conv_id (HashPartitioning(conv_id)
    # satisfies ClusteredDistribution(conv_id, ...)) — without this, each
    # operator pays a second raw-size shuffle on the casted key.
    ev = ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        "ts",
        F.col("value").alias("v"),
        "event_type",
        "event_id",
    )
    w = Window.partitionBy("conv_id").orderBy("ts", "event_id")
    rn = F.row_number().over(w) - F.lit(1)
    return ev.select(
        "conv_id",
        rn.cast("int").alias("turn_idx"),
        "ts",
        "v",
        "event_type",
        (
            F.floor(F.unix_micros("ts") / F.lit(1000)) * F.lit(1 << 20)
            + rn.cast("bigint")
        ).alias("ord"),
    )


def _r(c, n: int = 6):
    return F.round(c, n)


def q_w1_turn_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = events_series(spark, sf_dir)
    d = S.turn_deltas(t, "v")
    return d.select(
        "conv_id", "turn_idx", _r("delta_v").alias("delta_v"), _r("dt_sec").alias("dt_sec")
    )


_SQL_W1 = (
    SERIES_CTE
    + """
SELECT conv_id, turn_idx,
       round(v - lag(v) OVER w, 6) AS delta_v,
       round((epoch_us(ts) - lag(epoch_us(ts)) OVER w) / 1000000.0, 6) AS dt_sec
FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
"""
)


def q_w2_cumsum_reconstruct(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = events_series(spark, sf_dir)
    d = S.cumulative_reconstruct(S.turn_deltas(t, "v"))
    # + 0.0 normalizes IEEE -0.0: a cumsum that lands on an algebraic zero
    # can carry opposite zero signs across engines (caught at sf0.1)
    return d.select(
        "conv_id", "turn_idx", (_r("recon_v") + F.lit(0.0)).alias("recon_v")
    )


_SQL_W2 = (
    SERIES_CTE
    + """
, d AS (
  SELECT conv_id, turn_idx, ts,
         coalesce(v - lag(v) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx), 0) AS dv
  FROM t
)
SELECT conv_id, turn_idx,
       round(sum(dv) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
       + 0.0 AS recon_v
FROM d
"""
)


def q_w4_reference_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = events_series(spark, sf_dir)
    return S.reference_align(t, "v").select(
        "conv_id", "turn_idx", _r("v_aligned").alias("v_aligned")
    )


_SQL_W4 = (
    SERIES_CTE
    + """
SELECT conv_id, turn_idx,
       round(v - first_value(v) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS v_aligned
FROM t
"""
)


def q_w8_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = events_series(spark, sf_dir).withColumn(
        "v_sparse", F.when(F.col("turn_idx") % 3 == 0, F.col("v"))
    )
    return S.ffill(t, "v_sparse").select(
        "conv_id", "turn_idx", _r("v_sparse_ffill").alias("v_ffill")
    )


_SQL_W8 = (
    SERIES_CTE
    + """
SELECT conv_id, turn_idx,
       round(last_value(CASE WHEN turn_idx % 3 = 0 THEN v END IGNORE NULLS)
             OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS v_ffill
FROM t
"""
)


def q_w9_diff_k3(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = events_series(spark, sf_dir)
    return S.diff_k(t, "v", 3).select(
        "conv_id", "turn_idx", _r("v_diff3").alias("v_diff3")
    )


_SQL_W9 = (
    SERIES_CTE
    + """
SELECT conv_id, turn_idx, round(v - lag(v, 3) OVER w, 6) AS v_diff3
FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
"""
)


def q_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact EWMA (alpha=1/4) per series — the O(1)-state
    streaming smoother complementing W5/W6 (`series.ewma_int`). The
    oracle replays the identical integer recursion with prefix-slice
    list_reduce, so the match is bit-for-bit, not tolerance-based."""
    t = events_series(spark, sf_dir)
    return S.ewma_int(t, "v").select("conv_id", "turn_idx", "v_ewma")


_SQL_EWMA = (
    SERIES_CTE
    + """
, g AS (
  SELECT conv_id,
         list(cast(round(v*100) AS BIGINT) ORDER BY ord) AS vs,
         list(turn_idx ORDER BY ord) AS idxs
  FROM t GROUP BY conv_id
)
SELECT conv_id,
       unnest(idxs) AS turn_idx,
       unnest(list_transform(generate_series(1, len(vs)),
         i -> list_reduce(list_slice(vs, 1, i),
                (acc, x) -> (x + 3*acc) >> 2) / 100.0)) AS v_ewma
FROM g
"""
)


def q_holt_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact Holt double-exponential smoother (alpha=gamma=1/4)
    per series — level + trend + one-step FORECAST (`series.holt_int`).
    EWMA's level-only recursion lags sustained drift; Holt's second
    recursion estimates the drift. The trend is signed, so the oracle
    (a thin recursive CTE, one join per step) also pins the
    negative-operand arithmetic-shift agreement between engines."""
    t = events_series(spark, sf_dir)
    return S.holt_int(t, "v").select(
        "conv_id", "turn_idx", "v_level", "v_trend", "v_forecast"
    )


# the Holt oracle's stepwise CTE is recursive, so the shared prefix needs
# the RECURSIVE keyword at the statement head (it covers all CTEs)
_SQL_HOLT = (
    SERIES_CTE.replace("WITH t AS", "WITH RECURSIVE t AS", 1)
    + """
, s0 AS (
  SELECT conv_id, turn_idx,
         cast(row_number() OVER (PARTITION BY conv_id ORDER BY ord) AS int) AS i,
         cast(round(v * 100) AS bigint) AS x
  FROM t
), r AS (
  SELECT conv_id, turn_idx, i, x AS l, cast(0 AS bigint) AS b
  FROM s0 WHERE i = 1
  UNION ALL
  SELECT t2.conv_id, t2.turn_idx, t2.i,
         (t2.x + 3 * (r.l + r.b)) >> 2,
         ((((t2.x + 3 * (r.l + r.b)) >> 2) - r.l) + 3 * r.b) >> 2
  FROM r JOIN s0 t2 ON t2.conv_id = r.conv_id AND t2.i = r.i + 1
)
SELECT conv_id, turn_idx,
       l / 100.0       AS v_level,
       b / 100.0       AS v_trend,
       (l + b) / 100.0 AS v_forecast
FROM r
"""
)


def q_a12_rolling_mean_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = events_series(spark, sf_dir)
    return S.rolling_mean_time(t, "v", 3600).select(
        "conv_id", "turn_idx", _r("v_roll").alias("v_roll")
    )


_SQL_A12 = (
    SERIES_CTE
    + """
SELECT conv_id, turn_idx,
       round(avg(v) OVER (PARTITION BY conv_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
                       AND INTERVAL 1 HOUR FOLLOWING), 6) AS v_roll
FROM t
"""
)


def q_j1_adjacent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = events_series(spark, sf_dir)
    p = S.adjacent_pairs(t, "v", k=1)
    return p.select(
        "conv_id", "early_idx", "late_idx", _r("delta_v").alias("delta_v")
    )


_SQL_J1 = (
    SERIES_CTE
    + """
SELECT conv_id,
       turn_idx                 AS early_idx,
       lead(turn_idx) OVER w    AS late_idx,
       round(lead(v) OVER w - v, 6) AS delta_v
FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
QUALIFY lead(turn_idx) OVER w IS NOT NULL
"""
)


def q_f1_f3_filtered_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 date-range + F3 max-temporal-baseline on the pair network.

    The date filter is applied to the raw scan (predicate pushdown into
    parquet) BEFORE series derivation — turn indices are positions within
    the filtered network, matching the reference's subset_A re-indexing
    (insar/ts_numba.py:111-114)."""
    t = events_series(
        spark, sf_dir, ts_min="2024-01-08", ts_max="2024-02-20"
    )
    p = S.adjacent_pairs(t, "v", k=1)
    dt = (F.unix_micros("late_ts") - F.unix_micros("early_ts")) / F.lit(1e6)
    return p.withColumn("dt_sec", dt).filter(F.col("dt_sec") <= 1800).select(
        "conv_id", "early_idx", "late_idx", _r("dt_sec").alias("dt_sec")
    )


_SQL_F1F3 = """
WITH t AS (
  SELECT cast(user_id AS varchar) AS conv_id,
         cast(row_number() OVER w - 1 AS int) AS turn_idx, ts, value AS v
  FROM events
  WHERE ts >= timestamp '2024-01-08' AND ts < timestamp '2024-02-20'
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT * FROM (
  SELECT conv_id, turn_idx AS early_idx, lead(turn_idx) OVER w2 AS late_idx,
         round((lead(epoch_us(ts)) OVER w2 - epoch_us(ts)) / 1000000.0, 6) AS dt_sec
  FROM t WINDOW w2 AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
) WHERE late_idx IS NOT NULL AND dt_sec <= 1800
"""


def q_a2_short_baseline_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: conditional mean over short-baseline pairs only
    (insar/prepare.py:443-487, baseline ≤ 180 → here dt ≤ 600 s)."""
    t = events_series(spark, sf_dir)
    d = S.turn_deltas(t, "v")
    return d.groupBy("conv_id").agg(
        _r(F.avg(F.when(F.col("dt_sec") <= 600, F.col("delta_v")))).alias(
            "short_baseline_mean"
        ),
        F.count(F.when(F.col("dt_sec") <= 600, 1)).alias("n_short"),
    )


_SQL_A2 = (
    SERIES_CTE
    + """
, d AS (
  SELECT conv_id,
         v - lag(v) OVER w AS delta_v,
         (epoch_us(ts) - lag(epoch_us(ts)) OVER w) / 1000000.0 AS dt_sec
  FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
)
SELECT conv_id,
       round(avg(CASE WHEN dt_sec <= 600 THEN delta_v END), 6) AS short_baseline_mean,
       count(CASE WHEN dt_sec <= 600 THEN 1 END)               AS n_short
FROM d GROUP BY conv_id
"""
)


def q_e1_union_distinct_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1: distinct date set from both pair endpoints
    (insar/prepare.py:88)."""
    t = events_series(spark, sf_dir)
    p = S.adjacent_pairs(t, "v", k=1)
    return (
        p.select(F.col("early_ts").alias("d"))
        .union(p.select(F.col("late_ts").alias("d")))
        .distinct()
    )


_SQL_E1 = (
    SERIES_CTE
    + """
, p AS (
  SELECT ts AS early_ts, lead(ts) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS late_ts
  FROM t
)
SELECT early_ts AS d FROM p WHERE late_ts IS NOT NULL
UNION
SELECT late_ts AS d FROM p WHERE late_ts IS NOT NULL
"""
)


def q_w7_gapfill_linear_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7: calendar-grid resample + linear gap interpolation at a 1-day
    grid (insar utils.interpolate_xr semantics — no extrapolation)."""
    from insar_spark.operators.gapfill import resample_linear

    t = events_series(spark, sf_dir)
    out = resample_linear(t, interval_sec=86_400, ord_col="ord")
    return out.select(
        "conv_id",
        "grid_ts",
        (_r("v_filled") + F.lit(0.0)).alias("v_filled"),
        "is_observed",
    )


_SQL_W7 = (
    SERIES_CTE
    + """
, obs AS (
  SELECT conv_id, date_trunc('day', ts) AS grid_ts, arg_max(v, ord) AS v
  FROM t GROUP BY 1, 2
), bounds AS (
  SELECT conv_id, min(grid_ts) AS lo, max(grid_ts) AS hi FROM obs GROUP BY 1
), grid AS (
  SELECT conv_id, unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS grid_ts
  FROM bounds
), j AS (
  SELECT g.conv_id, g.grid_ts, o.v
  FROM grid g LEFT JOIN obs o USING (conv_id, grid_ts)
), f AS (
  SELECT conv_id, grid_ts, v,
    last_value(v IGNORE NULLS) OVER wb AS pv,
    last_value(CASE WHEN v IS NOT NULL THEN epoch_us(grid_ts) END IGNORE NULLS)
      OVER wb AS pt,
    first_value(v IGNORE NULLS) OVER wf AS nv,
    first_value(CASE WHEN v IS NOT NULL THEN epoch_us(grid_ts) END IGNORE NULLS)
      OVER wf AS nt
  FROM j
  WINDOW wb AS (PARTITION BY conv_id ORDER BY grid_ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY conv_id ORDER BY grid_ts
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT conv_id, grid_ts,
       round(CASE WHEN v IS NOT NULL THEN v
             WHEN pv IS NULL OR nv IS NULL THEN NULL
             ELSE pv + (nv - pv) * ((epoch_us(grid_ts) - pt) * 1.0 / (nt - pt))
             END, 6) + 0.0 AS v_filled,
       v IS NOT NULL AS is_observed
FROM f
"""
)


def q_f9_event_window_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9: pairs straddling an event date (coseismic_stack.py:63-91)."""
    t = events_series(spark, sf_dir)
    p = S.adjacent_pairs(t, "v", k=1)
    d = F.lit("2024-01-10 12:00:00").cast("timestamp")
    return p.filter((F.col("early_ts") < d) & (F.col("late_ts") > d)).select(
        "conv_id", "early_idx", "late_idx", _r("delta_v").alias("delta_v")
    )


_SQL_F9 = (
    SERIES_CTE
    + """
SELECT conv_id, early_idx, late_idx, delta_v FROM (
  SELECT conv_id, ts AS early_ts, lead(ts) OVER w AS late_ts,
         turn_idx AS early_idx, lead(turn_idx) OVER w AS late_idx,
         round(lead(v) OVER w - v, 6) AS delta_v
  FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
) WHERE early_ts < timestamp '2024-01-10 12:00:00' AND late_ts > timestamp '2024-01-10 12:00:00'
"""
)


def q_sbas_solve_bandwidth1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 through the full UDF path, oracle-checked via the bandwidth-1
    identity: on an adjacent-pair network the pinv solve equals the
    cumulative reconstruction v - first(v) (SURVEY.md §7)."""
    from insar_spark.operators.sbas import invert_pairs

    t = events_series(spark, sf_dir)
    pairs = S.adjacent_pairs(t, "v", k=1)
    out = invert_pairs(pairs, prefilter=False)
    return out.select(
        "conv_id", F.col("date_num"), _r("phase").alias("phase")
    )


_SQL_SBAS_BW1 = (
    SERIES_CTE
    + """
SELECT conv_id,
       epoch_us(ts) / 1000000.0 / 86400.0 AS date_num,
       round(v - first_value(v) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS phase
FROM t
"""
)


def q_w7_gapfill_spline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7 spline variant: natural-cubic-spline resample to a 1-day grid.
    The oracle re-runs the ENTIRE spline independently in DuckDB — the
    Thomas tridiagonal solve as list_reduce recurrences (forward cp/dp,
    backward M) and the piecewise-cubic evaluation — value-hash checked
    at 6dp (sequential recurrences are order-identical in both engines)."""
    from insar_spark.operators.gapfill import resample_spline

    t = events_series(spark, sf_dir)
    return resample_spline(t, interval_sec=86_400, ord_col="ord").select(
        "conv_id",
        "grid_ts",
        (_r("v_filled") + F.lit(0.0)).alias("v_filled"),
        "is_observed",
    )


def q_w7_gapfill_spline_n2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spline resample over SHORT series: restricting the scan to a 2-day
    window leaves every conversation with only 1 or 2 observed daily
    points, forcing the n==1 constant and n==2 linear (np.interp) branches
    of both engines — branches the full-range spline query never reaches
    (the SQL linear formula must be bit-equal to np.interp). Same oracle
    body as w7_gapfill_spline, same
    date filter."""
    from insar_spark.operators.gapfill import resample_spline

    t = events_series(spark, sf_dir, ts_min="2024-01-10", ts_max="2024-01-12")
    return resample_spline(t, interval_sec=86_400, ord_col="ord").select(
        "conv_id",
        "grid_ts",
        (_r("v_filled") + F.lit(0.0)).alias("v_filled"),
        "is_observed",
    )


_SERIES_CTE_2DAY = SERIES_CTE.replace(
    "FROM events",
    "FROM events\n"
    "  WHERE ts >= timestamp '2024-01-10' AND ts < timestamp '2024-01-12'",
)


_SQL_W7_SPLINE_BODY = """
, obs AS (
  SELECT conv_id, date_trunc('day', ts) AS grid_ts, arg_max(v, ord) AS v
  FROM t GROUP BY 1, 2
), ser AS (
  SELECT conv_id,
         list(epoch_us(grid_ts) ORDER BY grid_ts) AS xi,
         list(v ORDER BY grid_ts) AS y,
         count(*)::INT AS n
  FROM obs GROUP BY conv_id
), xs AS (SELECT *, list_transform(xi, _v -> _v::DOUBLE) AS x FROM ser),
hh AS (SELECT *, list_transform(range(1, n), i -> x[i+1] - x[i]) AS h FROM xs),
abc AS (
  SELECT *,
    list_transform(range(1, n-1), k -> h[k] / (h[k] + h[k+1])) AS a,
    list_transform(range(1, n-1), k -> h[k+1] / (h[k] + h[k+1])) AS c,
    list_transform(range(1, n-1), k ->
      6.0 * ((y[k+2]-y[k+1])/h[k+1] - (y[k+1]-y[k])/h[k]) / (h[k] + h[k+1])) AS d
  FROM hh
),
fwd AS (  -- Thomas forward sweep: cp/dp recurrence as a list fold
  SELECT *, CASE WHEN n < 3 THEN NULL ELSE list_reduce(
      list_prepend([{'cp': c[1] / 2.0, 'dp': d[1] / 2.0, 'k': NULL::INT}],
        list_transform(range(2, n-1), k ->
          [{'cp': NULL::DOUBLE, 'dp': NULL::DOUBLE, 'k': k::INT}])),
      (acc, e) -> list_append(acc, {
        'cp': c[e[1].k] / (2.0 - a[e[1].k] * acc[len(acc)].cp),
        'dp': (d[e[1].k] - a[e[1].k] * acc[len(acc)].dp)
              / (2.0 - a[e[1].k] * acc[len(acc)].cp),
        'k': NULL::INT})) END AS f
  FROM abc
),
bwd AS (  -- back-substitution, prepending so M comes out in order
  SELECT *, CASE WHEN n < 3 THEN NULL
    WHEN n = 3 THEN [f[1].dp]
    ELSE list_transform(list_reduce(
      list_prepend([{'m': f[n-2].dp, 'k': NULL::INT}],
        list_transform(range(2, n-1), j -> [{'m': NULL::DOUBLE, 'k': (n-1-j)::INT}])),
      (acc, e) -> list_prepend(
        {'m': f[e[1].k].dp - f[e[1].k].cp * acc[1].m, 'k': NULL::INT}, acc)
    ), _s -> _s.m) END AS Mint
  FROM fwd
),
mm AS (SELECT *, list_concat([0.0], list_concat(Mint, [0.0])) AS M FROM bwd),
g AS (SELECT *, unnest(generate_series(xi[1], xi[n], 86400000000)) AS q FROM mm),
ev AS (
  SELECT conv_id, q, x, xi, y, n, M,
    greatest(1, least(n - 1, len(list_filter(xi, e -> e <= q)))) AS i,
    q::DOUBLE AS qd
  FROM g
)
SELECT conv_id, make_timestamp(q) AS grid_ts,
  round(CASE WHEN n = 1 THEN y[1]
    WHEN n = 2 THEN y[1] + (qd - x[1]) * ((y[2] - y[1]) / (x[2] - x[1]))
    ELSE M[i]*((x[i+1]-qd)*(x[i+1]-qd)*(x[i+1]-qd))/(6*(x[i+1]-x[i]))
       + M[i+1]*((qd-x[i])*(qd-x[i])*(qd-x[i]))/(6*(x[i+1]-x[i]))
       + (y[i]/(x[i+1]-x[i]) - M[i]*(x[i+1]-x[i])/6)*(x[i+1]-qd)
       + (y[i+1]/(x[i+1]-x[i]) - M[i+1]*(x[i+1]-x[i])/6)*(qd-x[i]) END, 6)
    + 0.0 AS v_filled,
  list_contains(xi, q) AS is_observed
FROM ev
"""


_SQL_W7_SPLINE = SERIES_CTE + _SQL_W7_SPLINE_BODY


_SQL_W7_SPLINE_N2 = _SERIES_CTE_2DAY + _SQL_W7_SPLINE_BODY


def q_hist_p95_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch percentile tier: per-(conv, hour) p95/p50 with
    the fixed-edge histogram's bin convention (error <= one bin width).
    The serve plan computes the quantiles directly at 1h (the
    1m -> 1h cascade is exact — a pytest invariant — so the intermediate
    wide tier added only shuffle bytes); the STORED tier keeps the
    array form and its cascade in rollup_job. The oracle builds the 1h
    histogram in SQL and replays the same rank/upper-edge convention."""
    from insar_spark.operators.sketch import hist_rank_quantiles

    # the 1m -> 1h cascade is EXACT (pytest-proven identity), so
    # the serve query computes the identical result directly at 1h via
    # the single-exchange rank read — the wide 64-conditional-agg tier
    # shuffled ~66 longs per raw row at 1-minute sparsity (3.8 s -> 2.0 s
    # at sf1.0, plan: 2 Exchange -> 1; guide §2.3). The stored-tier path
    # (rollup_job --sketch) still builds and cascades the array tier.
    t = spread_scan(events_series(spark, sf_dir).select("conv_id", "ts", "v"))
    return hist_rank_quantiles(
        t, "1h", {"p95_est": 0.95, "p50_est": 0.50}, value_col="v"
    )


_SQL_HIST_P95 = (
    SERIES_CTE
    + """
, b AS (
  SELECT conv_id, date_trunc('hour', ts) AS window_start,
         least(63, greatest(0, floor(v / 16.0)::INT)) AS bin
  FROM t
), c AS (
  SELECT conv_id, window_start, bin, count(*) AS cnt
  FROM b GROUP BY 1, 2, 3
), w AS (
  SELECT conv_id, window_start, bin, cnt,
         sum(cnt) OVER (PARTITION BY conv_id, window_start ORDER BY bin) AS cum,
         sum(cnt) OVER (PARTITION BY conv_id, window_start) AS total
  FROM c
)
SELECT conv_id, window_start, max(total)::BIGINT AS n_points,
       0.0 + 16.0 * (min(bin) FILTER (cum >= ceil(total * 0.95)) + 1) AS p95_est,
       0.0 + 16.0 * (min(bin) FILTER (cum >= ceil(total * 0.50)) + 1) AS p50_est
FROM w GROUP BY conv_id, window_start
"""
)


def q_hist_p95_global_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleet-wide percentile tier: the per-conversation 1m sketches merge
    into ONE global histogram per hour (series key dropped), then the same
    fold yields global p50/p95 — the dashboard query a raw-value
    percentile could never serve from a continuous aggregate. Input is the
    (stored, 60×-reduced) 1m tier, output is one row per hour."""
    from insar_spark.operators.sketch import hist_rank_quantiles

    # bin-count merges are exact, so the global read builds
    # directly at 1h with no series key and no intermediate keyed tier
    # (one narrow exchange; the cascade/merge identity stays pytest-
    # proven and runs in the store path — guide §2.3/§2.4)
    t = spread_scan(events_series(spark, sf_dir).select("conv_id", "ts", "v"))
    return hist_rank_quantiles(
        t, "1h", {"p95_est": 0.95, "p50_est": 0.50}, value_col="v",
        group_cols=(),
    )


_SQL_HIST_P95_GLOBAL = (
    SERIES_CTE
    + """
, b AS (
  SELECT date_trunc('hour', ts) AS window_start,
         least(63, greatest(0, floor(v / 16.0)::INT)) AS bin
  FROM t
), c AS (
  SELECT window_start, bin, count(*) AS cnt
  FROM b GROUP BY 1, 2
), w AS (
  SELECT window_start, bin, cnt,
         sum(cnt) OVER (PARTITION BY window_start ORDER BY bin) AS cum,
         sum(cnt) OVER (PARTITION BY window_start) AS total
  FROM c
)
SELECT window_start, max(total)::BIGINT AS n_points,
       0.0 + 16.0 * (min(bin) FILTER (cum >= ceil(total * 0.95)) + 1) AS p95_est,
       0.0 + 16.0 * (min(bin) FILTER (cum >= ceil(total * 0.50)) + 1) AS p50_est
FROM w GROUP BY window_start
"""
)


def q_hist_saturation_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clamp-saturation visibility for the sketch tier: the histogram is
    built with a DELIBERATELY small range (hi=128 while p95(v)≈147), so
    the fixed-edge sketch's "error ≤ one bin width" guarantee degrades in
    hours whose rank mass rides the clamp edge. The n_clamped_lo/hi
    counters merge through hist_merge_global like bins, making that
    degradation detectable from the stored tier alone; `saturated` is the
    read-time flag (hist_saturated). The oracle replays bins, clamp
    counts, and the rank/upper-edge convention in SQL."""
    from insar_spark.operators.sketch import (
        hist_quantile,
        hist_rollup_global,
        hist_saturated,
    )

    # direct global 1h build (bin + clamp sums are exact merges;
    # the per-(conv, minute) keyed intermediate only added a 34-column
    # raw-sized shuffle — guide §2.3/§2.4)
    lo, hi, bins = 0.0, 128.0, 32
    t = events_series(spark, sf_dir)
    g1h = hist_rollup_global(
        spread_scan(t.select("conv_id", "ts", "v")), "1h",
        value_col="v", lo=lo, hi=hi, bins=bins,
    )
    return g1h.select(
        "window_start",
        F.aggregate("hist", F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "n_points"
        ),
        "n_clamped_lo",
        "n_clamped_hi",
        hist_quantile("hist", 0.95, lo, hi, bins).alias("p95_est"),
        hist_saturated("hist", 0.95, lo, hi, bins).cast("int").alias(
            "saturated"
        ),
    )


_SQL_HIST_SATURATION = (
    SERIES_CTE
    + """
, b AS (
  SELECT date_trunc('hour', ts) AS window_start,
         floor(v / 4.0) AS raw,
         least(31, greatest(0, floor(v / 4.0)::INT)) AS bin
  FROM t
), c AS (
  SELECT window_start, bin, count(*) AS cnt
  FROM b GROUP BY 1, 2
), cl AS (
  SELECT window_start,
         count(*) FILTER (raw < 0)   AS clo,
         count(*) FILTER (raw >= 32) AS chi
  FROM b GROUP BY 1
), w AS (
  SELECT window_start, bin, cnt,
         sum(cnt) OVER (PARTITION BY window_start ORDER BY bin) AS cum,
         sum(cnt) OVER (PARTITION BY window_start) AS total
  FROM c
), p AS (
  SELECT window_start, max(total)::BIGINT AS n_points,
         0.0 + 4.0 * (min(bin) FILTER (cum >= ceil(total * 0.95)) + 1)
           AS p95_est
  FROM w GROUP BY window_start
)
SELECT p.window_start, p.n_points, cl.clo AS n_clamped_lo,
       cl.chi AS n_clamped_hi, p.p95_est,
       CASE WHEN (p.p95_est = 128.0 AND cl.chi > 0)
              OR (p.p95_est = 4.0 AND cl.clo > 0)
            THEN 1 ELSE 0 END AS saturated
FROM p JOIN cl USING (window_start)
"""
)


def q_lb_rank_p99_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-free rank-sketch tier (second sketch family): base-2
    log-bucket sketch (DDSketch-style, integer-exact — msb via
    length(bin(v)), sub-bucket via shiftright, so the sketch is
    bit-reproducible cross-engine, unlike float log-gamma bucketing).
    No [lo,hi) assumption, no clamp edge to saturate: relative error
    ≤ 2^-5 everywhere, EXACT below 2^5. Doubles enter via an exact
    power-of-two scale (×1024, floor). Tall (window, bucket, cnt) tier
    rows merge by plain groupBy-sum; p50/p99 read off one cumsum pass."""
    from insar_spark.operators.sketch import lb_quantiles, lb_rollup_global

    # the read is global-per-hour, so the per-(conv, minute)
    # keyed tier this query used to build and immediately merge away is
    # pure shuffle overhead (sums are associative); grouping straight to
    # (hour, bucket) is bit-identical and lets map-side partials reduce
    # to <= windows x buckets rows (1.7 s -> 0.8 s at sf1.0, plan:
    # 3 Exchange -> 2; guide §2.3/§2.4). The keyed stored tier still
    # exists for per-series serves (lb_rank_series_1h, rollup_job).
    t = events_series(spark, sf_dir).withColumn(
        "v_scaled", F.expr("cast(floor(v * 1024.0d) as bigint)")
    )
    g1h = lb_rollup_global(t, "1h", value_col="v_scaled")
    est = lb_quantiles(
        g1h, {"p50_scaled": 0.50, "p99_scaled": 0.99}, ("window_start",)
    )
    return est.select(
        "window_start",
        "n_points",
        (F.col("p50_scaled") / F.lit(1024.0)).alias("p50_est"),
        (F.col("p99_scaled") / F.lit(1024.0)).alias("p99_est"),
    )


_SQL_LB_RANK = (
    SERIES_CTE
    + """
, s AS (
  SELECT date_trunc('hour', ts) AS window_start,
         cast(floor(v * 1024.0) AS BIGINT) AS vi
  FROM t
), bkt AS (
  SELECT window_start,
         CASE WHEN vi < 0 THEN -1
              WHEN vi < 32 THEN vi
              ELSE (length(bin(vi)) - 5) * 32
                   + (vi >> (length(bin(vi)) - 6)) - 32
         END AS bucket,
         count(*) AS cnt
  FROM s GROUP BY 1, 2
), w AS (
  SELECT window_start, bucket, cnt,
         sum(cnt) OVER (PARTITION BY window_start ORDER BY bucket) AS cum,
         sum(cnt) OVER (PARTITION BY window_start) AS total
  FROM bkt
), p AS (
  SELECT window_start, max(total)::BIGINT AS n_points,
         min(bucket) FILTER (cum >= ceil(total * 0.50)) AS b50,
         min(bucket) FILTER (cum >= ceil(total * 0.99)) AS b99
  FROM w GROUP BY 1
)
SELECT window_start, n_points,
       (CASE WHEN b50 < 32 THEN b50
             ELSE ((32 + b50 % 32) << ((b50 // 32) - 1))
                  + ((1::BIGINT << ((b50 // 32) - 1)) - 1) END) / 1024.0
         AS p50_est,
       (CASE WHEN b99 < 32 THEN b99
             ELSE ((32 + b99 % 32) << ((b99 // 32) - 1))
                  + ((1::BIGINT << ((b99 // 32) - 1)) - 1) END) / 1024.0
         AS p99_est
FROM p
"""
)


def q_lb_rank_series_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series rank-sketch tier: the tall 1m log-bucket sketch CASCADED
    to 1h (groupBy-sum merge — the tall analog of hist_cascade, exact by
    construction), then per-(series, hour) p50/p95 off one cumsum pass.
    Exercises the keyed cascade + quantile path of the lb family the
    global query (lb_rank_p99_1h) doesn't touch. Values are integer
    (floor(v)); estimates are exact integers, no float-parity risk."""
    from insar_spark.operators.sketch import lb_quantiles, lb_rollup

    t = events_series(spark, sf_dir).withColumn(
        "vi", F.floor("v").cast("long")
    )
    # counts sum associatively — direct keyed 1h build, one
    # fewer raw-sized exchange (guide §2.4)
    s1h = lb_rollup(t, "1h", value_col="vi")
    return lb_quantiles(
        s1h, {"p50_est": 0.50, "p95_est": 0.95}, ("conv_id", "window_start")
    )


_SQL_LB_RANK_SERIES = (
    SERIES_CTE
    + """
, s AS (
  SELECT conv_id, date_trunc('hour', ts) AS window_start,
         cast(floor(v) AS BIGINT) AS vi
  FROM t
), bkt AS (
  SELECT conv_id, window_start,
         CASE WHEN vi < 0 THEN -1
              WHEN vi < 32 THEN vi
              ELSE (length(bin(vi)) - 5) * 32
                   + (vi >> (length(bin(vi)) - 6)) - 32
         END AS bucket,
         count(*) AS cnt
  FROM s GROUP BY 1, 2, 3
), w AS (
  SELECT conv_id, window_start, bucket, cnt,
         sum(cnt) OVER (PARTITION BY conv_id, window_start
                        ORDER BY bucket) AS cum,
         sum(cnt) OVER (PARTITION BY conv_id, window_start) AS total
  FROM bkt
), p AS (
  SELECT conv_id, window_start, max(total)::BIGINT AS n_points,
         min(bucket) FILTER (cum >= ceil(total * 0.50)) AS b50,
         min(bucket) FILTER (cum >= ceil(total * 0.95)) AS b95
  FROM w GROUP BY 1, 2
)
SELECT conv_id, window_start, n_points,
       CASE WHEN b50 < 32 THEN b50
            ELSE ((32 + b50 % 32) << ((b50 // 32) - 1))
                 + ((1::BIGINT << ((b50 // 32) - 1)) - 1) END AS p50_est,
       CASE WHEN b95 < 32 THEN b95
            ELSE ((32 + b95 % 32) << ((b95 // 32) - 1))
                 + ((1::BIGINT << ((b95 // 32) - 1)) - 1) END AS p95_est
FROM p
"""
)


def q_delta_p05_p95_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail percentiles of a SIGNED series from the lb sketch — mirrored
    negative octaves (lb_bucket_signed: bucket(v<0) = -2 - bucket(-v),
    monotone across the sign boundary, so the cumsum/rank scan works
    unchanged). The input is the engine's flagship signed series: W1
    text-length deltas per conversation (reference analog: the solved
    deformation series is signed, insar/timeseries.py:540-553, and the
    reference quantile-scans signed values, insar/ts_utils.py:282-289).
    Before this, a "p05/p95 of turn deltas per hour" tier needed either
    a range guess (hist) or lost the whole negative tail (unsigned lb
    underflow bucket). All-integer bucket math, exact for |delta| < 32,
    relative error <= 2^-5 on both tails; the oracle re-implements the
    signed buckets and mirrored edge decode independently in SQL."""
    from insar_spark.operators.sketch import lb_quantiles, lb_rollup_global

    # Two result-identical choices: (a) the lag orders by
    # (ts, event_id) directly — turn_idx is row_number() over exactly
    # that order, so the ordering is the same and the row_number window
    # (a second sort over the same exchange) disappears from the plan;
    # (b) the global-per-hour read groups straight to (hour, bucket)
    # instead of building the per-(conv, minute) keyed tier and merging
    # it away (1.5 s -> 1.1 s at sf1.0, plan: 3 Exchange + 2 Window ->
    # 2 Exchange + 1 Window; guide §2.3/§2.4).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("ts").cast("timestamp").alias("ts"),
        "event_id",
        F.floor("value").cast("long").alias("vi"),
    )
    w = Window.partitionBy("conv_id").orderBy("ts", "event_id")
    d = ev.withColumn("delta", F.col("vi") - F.lag("vi").over(w)).filter(
        F.col("delta").isNotNull()
    )
    return lb_quantiles(
        lb_rollup_global(d, "1h", value_col="delta", signed=True),
        {"p05_est": 0.05, "p50_est": 0.50, "p95_est": 0.95},
        ("window_start",),
        signed=True,
    )


def _lb_sql_bucket_signed(x: str) -> str:
    """DuckDB fragment: signed log-bucket id (independent re-statement of
    the mirrored-octave math, k=5)."""
    pos = (
        f"(CASE WHEN {x} < 32 THEN {x} ELSE (length(bin({x})) - 5) * 32 "
        f"+ ({x} >> (length(bin({x})) - 6)) - 32 END)"
    )
    neg_a = f"(-{x})"
    neg = (
        f"(CASE WHEN {neg_a} < 32 THEN {neg_a} "
        f"ELSE (length(bin({neg_a})) - 5) * 32 "
        f"+ ({neg_a} >> (length(bin({neg_a})) - 6)) - 32 END)"
    )
    return f"(CASE WHEN {x} >= 0 THEN {pos} ELSE -2 - {neg} END)"


def _lb_sql_edge_signed(b: str) -> str:
    """DuckDB fragment: largest value in signed bucket ``b`` (upper edge
    for b >= 0, negated LOWER edge of the magnitude bucket for b <= -3)."""
    upper = (
        f"(CASE WHEN {b} < 32 THEN {b} "
        f"ELSE ((32 + {b} % 32) << (({b} // 32) - 1)) "
        f"+ ((1::BIGINT << (({b} // 32) - 1)) - 1) END)"
    )
    p = f"(-2 - {b})"
    lower = (
        f"(CASE WHEN {p} < 32 THEN {p} "
        f"ELSE ((32 + {p} % 32) << (({p} // 32) - 1)) END)"
    )
    return f"(CASE WHEN {b} >= 0 THEN {upper} ELSE -{lower} END)"


_SQL_DELTA_TAILS = (
    SERIES_CTE
    + f"""
, d AS (
  SELECT date_trunc('hour', ts) AS window_start,
         floor(v)::BIGINT
           - lag(floor(v)::BIGINT)
             OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS delta
  FROM t
), bkt AS (
  SELECT window_start, {_lb_sql_bucket_signed('delta')} AS bucket,
         count(*) AS cnt
  FROM d WHERE delta IS NOT NULL GROUP BY 1, 2
), w AS (
  SELECT window_start, bucket, cnt,
         sum(cnt) OVER (PARTITION BY window_start ORDER BY bucket) AS cum,
         sum(cnt) OVER (PARTITION BY window_start) AS total
  FROM bkt
), p AS (
  SELECT window_start, max(total)::BIGINT AS n_points,
         min(bucket) FILTER (cum >= ceil(total * 0.05)) AS b05,
         min(bucket) FILTER (cum >= ceil(total * 0.50)) AS b50,
         min(bucket) FILTER (cum >= ceil(total * 0.95)) AS b95
  FROM w GROUP BY 1
)
SELECT window_start, n_points,
       {_lb_sql_edge_signed('b05')} AS p05_est,
       {_lb_sql_edge_signed('b50')} AS p50_est,
       {_lb_sql_edge_signed('b95')} AS p95_est
FROM p
"""
)


def q_gorilla_compress_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gorilla round-trip identity: compress each series (delta-of-delta ts +
    XOR values), decompress, and aggregate the decoded rows. Because the
    codec is lossless, the oracle is the same aggregation straight off the
    source table — any encode/decode defect breaks the value hash."""
    from insar_spark.operators.compression import (
        compress_series,
        decompress_series,
    )

    t = events_series(spark, sf_dir)
    dec = decompress_series(compress_series(t))
    return dec.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        _r(F.sum("v")).alias("sum_v"),
        _r(F.min("v")).alias("min_v"),
        _r(F.max("v")).alias("max_v"),
        F.min("ts").alias("ts_min"),
        F.max("ts").alias("ts_max"),
    )


_SQL_GORILLA = (
    SERIES_CTE
    + """
SELECT conv_id, count(*) AS n_points,
       round(sum(v), 6) AS sum_v, round(min(v), 6) AS min_v,
       round(max(v), 6) AS max_v, min(ts) AS ts_min, max(ts) AS ts_max
FROM t GROUP BY conv_id
"""
)


def q_a9_l1_solve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: L1 inversion per series via IRLS (UDF path; on the consistent
    bandwidth-1 network the L1 and L2 solutions coincide, so the same
    cumsum oracle applies)."""
    from insar_spark.operators import series as S2
    from insar_spark.operators.sbas import invert_pairs

    t = events_series(spark, sf_dir)
    pairs = S2.adjacent_pairs(t, "v", k=1)
    out = invert_pairs(pairs, prefilter=False, l1=True)
    return out.select(
        "conv_id", F.col("date_num"), _r("phase").alias("phase")
    )


def q_sbas_solve_allpairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 on a REDUNDANT network: all pairs up to 4 turns apart per series
    (the true SBAS shape — self-join J1 + bandwidth cap F4). The network is
    consistent (deltas are differences of observed values), so the exact LS
    solution is still v - first(v): the full Cholesky/pinv path gets a SQL
    oracle. Restricted to 25 series to bound the O(n·k) pair join."""
    from insar_spark.operators import series as S2
    from insar_spark.operators.sbas import invert_pairs

    t = events_series(spark, sf_dir).filter(F.col("conv_id").cast("int") < 25)
    pairs = S2.all_pairs(t, "v", max_gap_turns=4)
    out = invert_pairs(pairs, prefilter=False)
    return out.select(
        "conv_id", F.col("date_num"), _r("phase", 5).alias("phase")
    )


_SQL_SBAS_ALLPAIRS = (
    SERIES_CTE
    + """
SELECT conv_id,
       epoch_us(ts) / 1000000.0 / 86400.0 AS date_num,
       round(v - first_value(v) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 5) AS phase
FROM t WHERE cast(conv_id AS int) < 25
"""
)


def q_sbas_solve_from_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star transport path: Gorilla-compress each series, solve
    straight from the blobs (decode inside the Arrow UDF). Same cumsum
    oracle as the pair-row path — proves the compressed transport is
    lossless end-to-end."""
    from insar_spark.operators.compression import compress_series
    from insar_spark.operators.sbas import invert_blobs

    t = events_series(spark, sf_dir)
    blobs = compress_series(t.select("conv_id", "ts", "v"))
    out = invert_blobs(blobs)
    return out.select(
        "conv_id", F.col("date_num"), _r("phase").alias("phase")
    )


def q_a8_weighted_solve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: correlation-weighted WLS (insar/timeseries.py:561-648). Weights
    vary per pair but the network is consistent, so the weighted solution
    equals the unweighted one — cumsum oracle, WLS code path exercised."""
    from insar_spark.operators import series as S2
    from insar_spark.operators.sbas import invert_pairs

    t = events_series(spark, sf_dir).filter(F.col("conv_id").cast("int") < 25)
    pairs = S2.all_pairs(t, "v", max_gap_turns=3).withColumn(
        "w", F.lit(0.5) + F.pmod(F.col("late_idx"), F.lit(4)).cast("double") / 4
    )
    out = invert_pairs(pairs, weight_col="w", prefilter=False)
    return out.select(
        "conv_id", F.col("date_num"), _r("phase", 5).alias("phase")
    )


def q_w10_rolling_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W10: centered ±2-row rolling mean (window_stack analog)."""
    t = events_series(spark, sf_dir)
    return S.rolling_mean_rows(t, "v", 2).select(
        "conv_id", "turn_idx", _r("v_rollrows").alias("v_rollrows")
    )


_SQL_W10 = (
    SERIES_CTE
    + """
SELECT conv_id, turn_idx,
       round(avg(v) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
             ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING), 6) AS v_rollrows
FROM t
"""
)


def q_topk_per_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 values per series (ranking window + filter)."""
    t = events_series(spark, sf_dir)
    return S.topk_per_series(t, "v", k=3).select(
        "conv_id", "turn_idx", _r("v").alias("v"), "rank"
    )


_SQL_TOPK = (
    SERIES_CTE
    + """
SELECT conv_id, turn_idx, round(v, 6) AS v,
       cast(row_number() OVER w AS int) AS rank
FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY v DESC, turn_idx)
QUALIFY row_number() OVER w <= 3
"""
)


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: 30-minute-gap sessions per series."""
    t = events_series(spark, sf_dir)
    s = S.sessionize(t, gap_sec=1800)
    return s.groupBy("conv_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_turns"), _r(F.sum("v")).alias("sum_v")
    )


_SQL_SESSIONIZE = (
    SERIES_CTE
    + """
, g AS (
  SELECT conv_id, ts, turn_idx, v,
         (epoch_us(ts) - lag(epoch_us(ts)) OVER w) / 1000000.0 AS gap
  FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
), s AS (
  SELECT conv_id, ts, turn_idx, v,
         cast(sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
           OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
           AS bigint) AS session_id
  FROM g
)
SELECT conv_id, session_id, count(*) AS n_turns, round(sum(v), 6) AS sum_v
FROM s GROUP BY conv_id, session_id
"""
)


# simulated per-shard delivery delay for the late-data profile: shard =
# event_type, delay = len(type) minutes (deterministic, SQL-replayable).
# 60000 ms * 2^20 = 62914560000 in the packed ord domain.
_SHARD_DELAY_ORD = 60000 * (1 << 20)


def q_late_data_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arrival telemetry per series: n_late / max lateness / frontier
    ts-ties under a simulated per-shard delivery order (shard = event_type,
    delay proportional to the shard name length — deterministic on both
    engines; in production ``arrival`` is the ingest offset). Sizes the
    stream watermark and the --restate-day window (jobs/stream_job.py)."""
    from insar_spark.operators import quality as Q

    t = events_series(spark, sf_dir)
    t = t.withColumn(
        "arrival",
        F.col("ord") + F.length("event_type").cast("long") * F.lit(_SHARD_DELAY_ORD),
    )
    return Q.late_data_profile(t, key_col="conv_id", arrival_col="arrival")


_SQL_LATE_DATA = (
    SERIES_CTE
    + f"""
, e AS (
  SELECT conv_id, ts, epoch_us(ts) AS us,
         max(epoch_us(ts)) OVER (
           PARTITION BY conv_id
           ORDER BY ord + length(event_type) * {_SHARD_DELAY_ORD}
           RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
  FROM t
)
SELECT conv_id,
       count(*)                                                   AS n_events,
       count(CASE WHEN us < prev_max THEN 1 END)                  AS n_late,
       max(CASE WHEN us < prev_max THEN prev_max - us ELSE 0 END) AS max_lateness_us,
       count(CASE WHEN us = prev_max THEN 1 END)                  AS n_ts_dups
FROM e GROUP BY conv_id
"""
)


def q_cusum_level_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact CUSUM level-shift score + change-point estimate per
    series (Page 1954) over centi-scaled values."""
    from insar_spark.operators import quality as Q

    t = events_series(spark, sf_dir)
    t = t.withColumn("cv", F.round(F.col("v") * 100).cast("long"))
    return Q.cusum_level_shift(t, "cv")


_SQL_CUSUM = (
    SERIES_CTE
    + """
, s0 AS (
  SELECT conv_id, turn_idx, ord, cast(round(v * 100) AS bigint) AS cv FROM t
), s1 AS (
  SELECT conv_id, turn_idx, ord,
         count(*) OVER (PARTITION BY conv_id)  AS n,
         sum(cv)  OVER (PARTITION BY conv_id)  AS tot,
         sum(cv)  OVER w                       AS c,
         row_number() OVER w                   AS i
  FROM s0 WINDOW w AS (PARTITION BY conv_id ORDER BY ord
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), s2 AS (
  SELECT conv_id, turn_idx, ord, n,
         cast(n * c - i * tot AS bigint) AS s
  FROM s1
), s3 AS (
  SELECT conv_id, turn_idx, n, s,
         s - min(s) OVER w AS up,
         max(s) OVER w - s AS down,
         abs(s) AS a,
         max(abs(s)) OVER (PARTITION BY conv_id) AS peak
  FROM s2 WINDOW w AS (PARTITION BY conv_id ORDER BY ord
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT conv_id,
       max(n)                                        AS n_turns,
       max(up)                                       AS up_score,
       max(down)                                     AS down_score,
       min(CASE WHEN a = peak THEN turn_idx END)     AS shift_turn_idx,
       round(cast(greatest(max(up), max(down)) AS double)
             / (cast(max(n) AS double) * cast(max(n) AS double)), 6)
                                                     AS score_norm
FROM s3 GROUP BY conv_id
"""
)


def q_counter_increase_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monitoring-counter ``increase`` per (series, hour) with reset
    handling: a within-run cumulative centi-value counter resets at every
    'error' event (process restart), the sampler sees every 3rd turn
    (scrapes, not raw increments), and the increase is rebuilt from the
    sampled counter alone — Prometheus non-negative-derivative semantics,
    all int64."""
    from insar_spark.operators import quality as Q
    from insar_spark.operators.series import series_window

    t = events_series(spark, sf_dir)
    w_run = series_window().rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t = t.withColumn("cv", F.round(F.col("v") * 100).cast("long"))
    t = t.withColumn(
        "seg",
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).over(w_run),
    )
    w_seg = (
        Window.partitionBy("conv_id", "seg")
        .orderBy("ord")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = t.withColumn("cnt", F.sum("cv").over(w_seg))
    scraped = t.filter(F.col("turn_idx") % 3 == 0)
    return Q.counter_increase(scraped, "cnt", window_unit="hour")


_SQL_COUNTER_INC = (
    SERIES_CTE
    + """
, c0 AS (
  SELECT conv_id, turn_idx, ts, ord,
         cast(round(v * 100) AS bigint) AS cv,
         sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) OVER (
           PARTITION BY conv_id ORDER BY ord
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
  FROM t
), c1 AS (
  SELECT conv_id, turn_idx, ts, ord,
         sum(cv) OVER (PARTITION BY conv_id, seg ORDER BY ord
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cnt
  FROM c0
), scraped AS (
  SELECT conv_id, ts, ord, cast(cnt AS bigint) AS cnt
  FROM c1 WHERE turn_idx % 3 = 0
), d AS (
  SELECT conv_id, ts, cnt,
         cnt - lag(cnt) OVER (PARTITION BY conv_id ORDER BY ord) AS delta
  FROM scraped
)
SELECT conv_id,
       date_trunc('hour', ts) AS window_start,
       cast(sum(CASE WHEN delta IS NULL THEN cnt
                     WHEN delta >= 0 THEN delta ELSE cnt END)
            AS bigint)                                   AS increase,
       count(CASE WHEN delta < 0 THEN 1 END)             AS n_resets,
       count(*)                                          AS n_scrapes
FROM d GROUP BY 1, 2
"""
)


def q_anomaly_hod_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal hour-of-day anomaly flags per event type over the 1h
    count tier — the flag is an integer cross-multiplied 2-sigma compare,
    so the oracle hashes the decision itself."""
    from insar_spark.operators import quality as Q

    t = events_series(spark, sf_dir)
    tier = t.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("window_start")
    ).agg(F.count(F.lit(1)).alias("n"))
    return Q.hod_anomaly_flags(tier, "n", group_cols=("event_type",))


_SQL_ANOMALY_HOD = (
    SERIES_CTE
    + """
, tier AS (
  SELECT event_type, date_trunc('hour', ts) AS window_start, count(*) AS g
  FROM t GROUP BY 1, 2
), b AS (
  SELECT event_type, window_start,
         cast(extract(hour FROM window_start) AS int) AS hod, g,
         count(*)   OVER c AS n,
         sum(g)     OVER c AS s,
         sum(g * g) OVER c AS q
  FROM tier
  WINDOW c AS (PARTITION BY event_type, extract(hour FROM window_start))
)
SELECT event_type, window_start, hod,
       g AS n_obs,
       n AS cohort_n,
       cast((n*g - s) * (n*g - s) > 4 * (n*q - s*s) AS int) AS is_anomaly
FROM b
"""
)


def q_metric_corr_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series Pearson correlation between 1h-tier turn counts and
    centi-value sums ("does this conversation's message rate track its
    message volume?"): exact int64 component sums on the hash surface,
    one deterministic rounded double built from them. 1h (not 1m)
    windows so the count column has within-series variance."""
    from insar_spark.operators import quality as Q

    t = events_series(spark, sf_dir)
    tier = t.groupBy(
        "conv_id", F.date_trunc("hour", "ts").alias("ws")
    ).agg(
        F.count(F.lit(1)).alias("x"),
        F.sum(F.round(F.col("v") * 100).cast("long")).alias("y"),
    )
    return Q.corr_components(tier, "x", "y")


_SQL_METRIC_CORR = (
    SERIES_CTE
    + """
, tier AS (
  SELECT conv_id, date_trunc('hour', ts) AS ws,
         count(*) AS x,
         sum(cast(round(v * 100) AS bigint)) AS y
  FROM t GROUP BY 1, 2
), a AS (
  SELECT conv_id,
         count(*)     AS n_windows,
         sum(x)       AS sum_x,
         sum(y)       AS sum_y,
         sum(x * x)   AS sxx,
         sum(x * y)   AS sxy,
         sum(y * y)   AS syy
  FROM tier GROUP BY conv_id
)
SELECT conv_id, n_windows,
       cast(sum_x AS bigint) AS sum_x,
       cast(sum_y AS bigint) AS sum_y,
       CASE WHEN n_windows >= 2
             AND (cast(n_windows AS double) * cast(sxx AS double)
                  - cast(sum_x AS double) * cast(sum_x AS double)) > 0
             AND (cast(n_windows AS double) * cast(syy AS double)
                  - cast(sum_y AS double) * cast(sum_y AS double)) > 0
       THEN round(
         (cast(n_windows AS double) * cast(sxy AS double)
          - cast(sum_x AS double) * cast(sum_y AS double))
         / (sqrt(cast(n_windows AS double) * cast(sxx AS double)
                 - cast(sum_x AS double) * cast(sum_x AS double))
            * sqrt(cast(n_windows AS double) * cast(syy AS double)
                   - cast(sum_y AS double) * cast(sum_y AS double))), 6)
       END AS corr6
FROM a
"""
)


def q_watermark_sizing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-driven watermark sizing: the p99.9 of per-event lateness
    (0 for in-order events) under the simulated per-shard delivery
    order, summarized through the range-free lb sketch — lateness in µs
    spans orders of magnitude, so the latency-domain sketch is the right
    summary, and the upper-edge convention overshoots (never undershoots)
    the true quantile: the safe direction for a watermark."""
    from insar_spark.operators import quality as Q

    t = events_series(spark, sf_dir)
    t = t.withColumn(
        "arrival",
        F.col("ord") + F.length("event_type").cast("long") * F.lit(_SHARD_DELAY_ORD),
    )
    return Q.watermark_recommendation(
        t, key_col="conv_id", arrival_col="arrival", q=0.999
    )


_SQL_WATERMARK = (
    SERIES_CTE
    + f"""
, e AS (
  SELECT conv_id, epoch_us(ts) AS us,
         max(epoch_us(ts)) OVER (
           PARTITION BY conv_id
           ORDER BY ord + length(event_type) * {_SHARD_DELAY_ORD}
           RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
  FROM t
), l AS (
  SELECT CASE WHEN us < prev_max THEN prev_max - us ELSE 0 END AS late_us
  FROM e
), bkt AS (
  SELECT CASE WHEN late_us < 32 THEN late_us
              ELSE (length(bin(late_us)) - 5) * 32
                   + (late_us >> (length(bin(late_us)) - 6)) - 32
         END AS bucket,
         count(*) AS cnt,
         count(CASE WHEN late_us > 0 THEN 1 END) AS n_late
  FROM l GROUP BY 1
), w AS (
  SELECT bucket, cnt,
         sum(cnt) OVER (ORDER BY bucket) AS cum,
         sum(cnt) OVER ()                AS total
  FROM bkt
), p AS (
  SELECT min(bucket) FILTER (cum >= ceil(total * 0.999)) AS b FROM w
)
SELECT (SELECT sum(cnt)::BIGINT FROM bkt)    AS n_events,
       (SELECT sum(n_late)::BIGINT FROM bkt) AS n_late,
       CASE WHEN b < 32 THEN b
            ELSE ((32 + b % 32) << ((b // 32) - 1))
                 + ((1::BIGINT << ((b // 32) - 1)) - 1) END AS wm_us
FROM p
"""
)


def q_tier_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day reconciliation of two tier builds (operators/quality.py
    tier_reconcile): the 1h count tier vs a deterministically doctored
    copy — every 13th row (by conv+hour hash) dropped, every 7th
    perturbed, plus a shadow-key extra per 11th row — so all four
    counters (match / mismatch / only_a / only_b) are exercised and the
    full-outer-join status logic is replayed end-to-end in SQL."""
    from insar_spark.operators import quality as Q

    t = events_series(spark, sf_dir)
    tier = t.groupBy(
        "conv_id", F.date_trunc("hour", "ts").alias("window_start")
    ).agg(F.count(F.lit(1)).alias("n_turns"))
    sel = F.pmod(
        F.col("conv_id").cast("long") + F.hour("window_start"), F.lit(13)
    )
    doctored = (
        tier.withColumn("_sel", sel)
        .filter(F.col("_sel") != 0)  # dropped rows -> only_a
        .withColumn(
            "n_turns",
            F.when(F.col("_sel") == 1, F.col("n_turns") + 1).otherwise(
                F.col("n_turns")
            ),
        )
    )
    extras = doctored.filter(F.col("_sel") == 2).select(
        F.concat(F.col("conv_id"), F.lit("_x")).alias("conv_id"),
        "window_start",
        "n_turns",
    )
    b = doctored.drop("_sel").unionByName(extras)
    return Q.tier_reconcile(tier, b, keys=("conv_id", "window_start"))


_SQL_TIER_RECONCILE = (
    SERIES_CTE
    + """
, tier AS (
  SELECT conv_id, date_trunc('hour', ts) AS window_start, count(*) AS n_turns
  FROM t GROUP BY 1, 2
), sel AS (
  SELECT conv_id, window_start, n_turns,
         ((conv_id::BIGINT + extract(hour FROM window_start)) % 13
          + 13) % 13 AS s
  FROM tier
), b AS (
  SELECT conv_id, window_start,
         CASE WHEN s = 1 THEN n_turns + 1 ELSE n_turns END AS n_turns
  FROM sel WHERE s != 0
  UNION ALL
  SELECT conv_id || '_x', window_start,
         CASE WHEN s = 1 THEN n_turns + 1 ELSE n_turns END
  FROM sel WHERE s = 2
), j AS (
  SELECT coalesce(a.window_start, b.window_start) AS ws,
         CASE WHEN a.conv_id IS NULL THEN 'only_b'
              WHEN b.conv_id IS NULL THEN 'only_a'
              WHEN a.n_turns = b.n_turns THEN 'match'
              ELSE 'mismatch' END AS st
  FROM tier a FULL OUTER JOIN b
    ON a.conv_id = b.conv_id AND a.window_start = b.window_start
)
SELECT date_trunc('day', ws) AS day,
       count(CASE WHEN st = 'match'    THEN 1 END) AS n_match,
       count(CASE WHEN st = 'mismatch' THEN 1 END) AS n_mismatch,
       count(CASE WHEN st = 'only_a'   THEN 1 END) AS n_only_a,
       count(CASE WHEN st = 'only_b'   THEN 1 END) AS n_only_b
FROM j GROUP BY 1
"""
)


def q_distinct_hll_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL register sketch tier (Flajolet et al. 2007): distinct
    conversations per hour with NO cardinality ceiling. The HLL tier's
    merge is groupBy-MAX per (window, register): associative, commutative
    AND idempotent, so replays are absorbed for free and the tier rides
    the seal cycle unchanged; error stays ~3% (p=10) at any cardinality.
    Spark builds the tall tier directly at 1h (register-MAX is
    associative, so direct == 1m-then-cascade bit-for-bit; the cascade
    itself stays pytest-proven and runs in the store path); the oracle
    computes 1h from the same md5-60 register/rho math independently.
    Checked surface is all-INTEGER
    (present-register count, the 2^51-scaled harmonic-mean denominator,
    and the small-range-regime flag via one precomputed int64 cutoff);
    the transcendental estimate (hll_estimate) stays out of the hash
    gate and is tolerance-tested in pytest.
    Reference analog: prepare.py:258-348 keeps only decomposable running
    stats per layer — HLL is the decomposable form of count-distinct."""
    from insar_spark.operators.sketch import hll_read, hll_rollup

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("ts").cast("timestamp").alias("ts"),
    )
    # register-MAX is associative, so building the tier directly
    # at 1h is bit-identical to 1m -> cascade while skipping one raw-sized
    # (minute, reg) exchange (the sparse 1m tier had ~1 row per raw row;
    # 2.3 s -> 1.6 s at sf1.0, plan: 3 Exchange -> 2; guide §2.4). The
    # max-merge exactness itself stays pytest-proven (stream==batch and
    # cascade tests), and the stored tier still cascades in rollup_job.
    # spread_scan parallelizes the single-split scan's md5 projection
    # (1.6 s -> 0.9 s; see spread_scan).
    return hll_read(hll_rollup(spread_scan(ev), "1h"))


def _sql_distinct_hll() -> str:
    from insar_spark.functions.shared_hash import sql_h60
    from insar_spark.operators.sketch import HLL_LC_CUTOFF

    h = sql_h60("cast(user_id as varchar)")
    return f"""
WITH b AS (
  SELECT date_trunc('hour', ts) AS window_start,
         (h % 1024)::INT AS reg,
         CASE WHEN (h >> 10) = 0 THEN 51
              ELSE 51 - length(bin(h >> 10)) END AS rho
  FROM (SELECT {h} AS h, ts FROM events)
), r AS (
  SELECT window_start, reg, max(rho) AS max_rho FROM b GROUP BY 1, 2
), s AS (
  SELECT window_start,
         count(*)::BIGINT AS n_regs,
         (sum(1::BIGINT << (51 - max_rho)::INT)::BIGINT
          + (1024 - count(*)) * (1::BIGINT << 51))::BIGINT AS sum_scaled
  FROM r GROUP BY window_start
)
SELECT window_start, n_regs, sum_scaled,
       (CASE WHEN n_regs < 1024 AND sum_scaled >= {HLL_LC_CUTOFF}
             THEN 1 ELSE 0 END)::INT AS lc_regime
FROM s
"""


_CMS_WATCHLIST = [str(i) for i in range(20)]


def q_hot_convs_cms_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency tier (Cormode & Muthukrishnan 2005): per-hour
    turn-count estimates for a conversation watchlist, served from d*w
    counters per window instead of the exact per-(window, conv) count
    table (billions of rows/day at 10^12 turns). This is the monitoring
    signal that FINDS mega-conversations — the hot keys the engine's
    skew handling must route around.
    The inline build+probe pushes the watchlist filter below
    the counting aggregation (cms_probe_inline: broadcast join on the
    DRIVER-precomputed constant cells BEFORE the count — bit-identical,
    since a cell's count is the number of raw rows hashing into it) and
    takes min-over-d-cells per (window, key); count-min never
    undercounts, and an absent cell short-circuits to 0. The store path
    keeps the full d*w tier + sum-merge cascade.
    The oracle recomputes the register math AND the watchlist coordinates
    from the item strings in SQL (independent md5 path), builds 1h
    directly, and probes — equality proves both the sum-merge and the
    probe. All-integer checked surface."""
    from insar_spark.operators.sketch import cms_probe_inline

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("ts").cast("timestamp").alias("ts"),
    )
    # build + probe in one plan means the watchlist filter can
    # move BELOW the counting aggregation — a cell's count is the number
    # of raw rows hashing into it, so broadcast-joining the 80 driver-
    # precomputed (row_j, cell) coordinates before the count is
    # bit-identical while the aggregation input drops from d x raw to
    # the colliding rows only (5.0 s -> 1.8 s at sf1.0, plan: 3 big
    # Exchange -> 1 BroadcastHashJoin + 2 tiny Exchange; guide §3.2).
    # The full d*w tier still exists where it belongs: the store path
    # (rollup_job --sketch) builds, cascades and serves it unchanged.
    return cms_probe_inline(
        spark, spread_scan(ev), _CMS_WATCHLIST, "1h", item_col="conv_id",
        item_alias="conv_id",
    )


def _sql_hot_convs_cms() -> str:
    from insar_spark.functions.shared_hash import P31, sql_h60
    from insar_spark.operators.sketch import CMS_D, CMS_W, cms_params

    a, b = cms_params()
    h = sql_h60("cast(user_id as varchar)")
    hi = sql_h60("item")
    items = ", ".join(f"'{x}'" for x in _CMS_WATCHLIST)
    case_a = "CASE j " + " ".join(
        f"WHEN {j} THEN {a[j]}" for j in range(CMS_D)
    ) + " END"
    case_b = "CASE j " + " ".join(
        f"WHEN {j} THEN {b[j]}" for j in range(CMS_D)
    ) + " END"
    rows = " UNION ALL ".join(
        f"SELECT window_start, {j} AS row_j, "
        f"((({a[j]} * x + {b[j]}) % {P31}) % {CMS_W}) AS cell FROM hsh"
        for j in range(CMS_D)
    )
    return f"""
WITH hsh AS (
  SELECT date_trunc('hour', ts) AS window_start,
         ({h} % {P31}) AS x
  FROM events
), cells AS (
  {rows}
), t AS (
  SELECT window_start, row_j, cell, count(*)::BIGINT AS cnt
  FROM cells GROUP BY 1, 2, 3
), cand AS (
  SELECT item, j AS row_j,
         ((({case_a}) * ({hi} % {P31}) + ({case_b})) % {P31}) % {CMS_W}
           AS cell
  FROM (SELECT unnest([{items}]) AS item),
       (SELECT unnest(range({CMS_D})) AS j)
)
SELECT t.window_start, cand.item AS conv_id,
       (CASE WHEN count(*) < {CMS_D} THEN 0 ELSE min(t.cnt) END)::BIGINT
         AS est_count,
       count(*)::INT AS n_cells
FROM t JOIN cand USING (row_j, cell)
GROUP BY 1, 2
"""


def q_doc_len_p95_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length-distribution QC (pretraining mixture monitoring):
    p50/p95 document length per (lang, source) from the range-free
    log-bucket rank sketch — the lb building blocks composed OUTSIDE the
    time-tier path (groupBy dimensions instead of windows), showing the
    sketch is a general mergeable-percentile primitive. At 100 TB the
    (lang, source, bucket) sketch is thousands of rows regardless of
    corpus size; per-stratum percentiles read off one cumsum pass. All
    integer arithmetic — bit-reproducible in the SQL oracle."""
    from insar_spark.operators.sketch import lb_bucket, lb_quantiles

    d = load(spark, sf_dir, "documents").select(
        "lang", "source", F.col("n_chars").cast("long").alias("n_chars")
    )
    sk = (
        d.withColumn("bucket", lb_bucket("n_chars"))
        .groupBy("lang", "source", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return lb_quantiles(
        sk, {"p50_len": 0.50, "p95_len": 0.95}, ("lang", "source")
    )


_SQL_DOC_LEN_P95 = """
WITH bkt AS (
  SELECT lang, source,
         CASE WHEN n_chars < 0 THEN -1
              WHEN n_chars < 32 THEN n_chars
              ELSE (length(bin(n_chars)) - 5) * 32
                   + (n_chars >> (length(bin(n_chars)) - 6)) - 32
         END AS bucket,
         count(*) AS cnt
  FROM documents GROUP BY 1, 2, 3
), w AS (
  SELECT lang, source, bucket, cnt,
         sum(cnt) OVER (PARTITION BY lang, source ORDER BY bucket) AS cum,
         sum(cnt) OVER (PARTITION BY lang, source) AS total
  FROM bkt
), p AS (
  SELECT lang, source, max(total)::BIGINT AS n_points,
         min(bucket) FILTER (cum >= ceil(total * 0.50)) AS b50,
         min(bucket) FILTER (cum >= ceil(total * 0.95)) AS b95
  FROM w GROUP BY 1, 2
)
SELECT lang, source, n_points,
       CASE WHEN b50 < 32 THEN b50
            ELSE ((32 + b50 % 32) << ((b50 // 32) - 1))
                 + ((1::BIGINT << ((b50 // 32) - 1)) - 1) END AS p50_len,
       CASE WHEN b95 < 32 THEN b95
            ELSE ((32 + b95 % 32) << ((b95 // 32) - 1))
                 + ((1::BIGINT << ((b95 // 32) - 1)) - 1) END AS p95_len
FROM p
"""


def q_gap_p99_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latency-style tail percentiles over inter-event gaps — DDSketch's
    original domain and the reason the lb sketch is range-free: gaps span
    microseconds to days (6+ orders of magnitude), where any fixed-edge
    histogram either clamps the tail or wastes its bins. p50/p99 gap per
    event_type from the integer-exact log-bucket sketch; relative-error
    ≤ 3.125% is the right contract for a latency tail. One lag window +
    one tall groupBy + one cumsum pass."""
    from insar_spark.operators.sketch import lb_bucket, lb_quantiles

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "event_type",
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias(
            "gap_us"
        ),
    ).where(F.col("gap_us").isNotNull())
    sk = (
        gaps.withColumn("bucket", lb_bucket("gap_us"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return lb_quantiles(
        sk, {"p50_gap_us": 0.50, "p99_gap_us": 0.99}, ("event_type",)
    )


_SQL_GAP_P99 = """
WITH g AS (
  SELECT event_type,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events
), bkt AS (
  SELECT event_type,
         CASE WHEN gap_us < 0 THEN -1
              WHEN gap_us < 32 THEN gap_us
              ELSE (length(bin(gap_us)) - 5) * 32
                   + (gap_us >> (length(bin(gap_us)) - 6)) - 32
         END AS bucket,
         count(*) AS cnt
  FROM g WHERE gap_us IS NOT NULL GROUP BY 1, 2
), w AS (
  SELECT event_type, bucket, cnt,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
         sum(cnt) OVER (PARTITION BY event_type) AS total
  FROM bkt
), p AS (
  SELECT event_type, max(total)::BIGINT AS n_points,
         min(bucket) FILTER (cum >= ceil(total * 0.50)) AS b50,
         min(bucket) FILTER (cum >= ceil(total * 0.99)) AS b99
  FROM w GROUP BY 1
)
SELECT event_type, n_points,
       CASE WHEN b50 < 32 THEN b50
            ELSE ((32 + b50 % 32) << ((b50 // 32) - 1))
                 + ((1::BIGINT << ((b50 // 32) - 1)) - 1) END AS p50_gap_us,
       CASE WHEN b99 < 32 THEN b99
            ELSE ((32 + b99 % 32) << ((b99 // 32) - 1))
                 + ((1::BIGINT << ((b99 // 32) - 1)) - 1) END AS p99_gap_us
FROM p
"""


def q_m4_downsample_1w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 visualization downsample (Jugel et al., VLDB 2014): per series
    and calendar week, the first/min/max/last points — the minimal point
    set that renders the week's line segment pixel-exactly. Pure JVM
    aggregation with packed-integer tie-breaks (earliest point wins on
    equal values), one shuffle with map-side partials."""
    from insar_spark.operators.downsample import m4_downsample

    return m4_downsample(events_series(spark, sf_dir), "week")


_SQL_M4_1W = f"""
{SERIES_CTE}
, p AS (
  SELECT conv_id, turn_idx, ts, v,
         date_trunc('week', ts) AS window_start,
         CAST(round(v*100) AS BIGINT) * 1073741824 + turn_idx AS kmin,
         CAST(round(v*100) AS BIGINT) * 1073741824
           + (1073741823 - turn_idx) AS kmax
  FROM t
)
SELECT conv_id, window_start,
       count(*)::BIGINT      AS n_points,
       arg_min(v, turn_idx)  AS v_first,
       arg_min(ts, turn_idx) AS ts_first,
       min(v)                AS v_min,
       arg_min(ts, kmin)     AS ts_min,
       max(v)                AS v_max,
       arg_max(ts, kmax)     AS ts_max,
       arg_max(v, turn_idx)  AS v_last,
       arg_max(ts, turn_idx) AS ts_last
FROM p GROUP BY 1, 2
"""


def q_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTTB downsample (Steinarsson 2013) to 24 points per series —
    shape-preserving chart decimation. Sequential per series, so it runs
    in the batched keyed-map Arrow kernel; selection uses EXACT integer
    areas (y scaled x100, x as µs offsets), so the oracle — the same
    recurrence unrolled into 22 chained argmax CTEs over HUGEINT — picks
    bit-identical points (no float-summation lottery)."""
    from insar_spark.operators.downsample import lttb_downsample

    # turn_idx is a row_number over (ts, event_id), so ordering by
    # the raw (ts, event_id) is the same order without materializing it —
    # the plan loses the row_number Window and its second Sort (guide §2.4).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    t = load(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("value").alias("v"),
        "event_id",
    )
    return lttb_downsample(t, 24, order_cols=["ts", "event_id"])


def _lttb_sql(n_out: int = 24) -> str:
    """DuckDB mirror of the LTTB recurrence: the sequential previous-point
    dependency is unrolled into one argmax CTE per bucket (the repo's
    standard oracle move for per-series recurrences, cf. the W6 fold)."""
    b = n_out - 2
    parts = [SERIES_CTE]
    parts.append(f"""
, s AS (
  SELECT conv_id, turn_idx, ts, v,
         count(*) OVER (PARTITION BY conv_id) AS n,
         (epoch_us(ts)
           - min(epoch_us(ts)) OVER (PARTITION BY conv_id))::HUGEINT AS x,
         CAST(round(v*100) AS HUGEINT) AS y
  FROM t
)
, short AS (
  SELECT conv_id, turn_idx AS sel_idx, ts, v FROM s WHERE n <= {n_out}
)
, pts AS (
  SELECT *, CASE WHEN turn_idx = 0 THEN -1
                 WHEN turn_idx = n - 1 THEN {b}
                 ELSE ((turn_idx - 1) * {b}) // (n - 2) END AS bucket
  FROM s WHERE n > {n_out}
)
, agg AS (
  SELECT conv_id, bucket, count(*)::HUGEINT AS m, sum(x) AS sx, sum(y) AS sy
  FROM pts WHERE bucket BETWEEN 0 AND {b - 1} GROUP BY 1, 2
)
, nxt AS (
  SELECT conv_id, bucket - 1 AS k, m, sx, sy FROM agg WHERE bucket >= 1
  UNION ALL
  SELECT conv_id, {b - 1} AS k, 1::HUGEINT AS m, x AS sx, y AS sy
  FROM pts WHERE bucket = {b}
)
, s0 AS (SELECT conv_id, x AS px, y AS py, ts, v FROM pts WHERE bucket = -1)""")
    for k in range(b):
        parts.append(f"""
, s{k + 1} AS (
  SELECT c.conv_id, c.x AS px, c.y AS py, c.ts, c.v
  FROM pts c
  JOIN s{k} p ON p.conv_id = c.conv_id
  JOIN nxt a ON a.conv_id = c.conv_id AND a.k = {k}
  WHERE c.bucket = {k}
  QUALIFY row_number() OVER (PARTITION BY c.conv_id ORDER BY
    abs((p.px * a.m - a.sx) * (c.y - p.py)
        - (p.px - c.x) * (a.sy - p.py * a.m)) DESC, c.turn_idx) = 1
)""")
    sels = "\nUNION ALL\n".join(
        f"SELECT conv_id, {i} AS sel_idx, ts, v FROM s{i}" for i in range(b + 1)
    )
    parts.append(
        f"""
SELECT * FROM short
UNION ALL
{sels}
UNION ALL
SELECT conv_id, {n_out - 1} AS sel_idx, ts, v FROM pts WHERE bucket = {b}"""
    )
    return "".join(parts)


_SQL_LTTB = _lttb_sql(24)


ORACLES = {
    "holt_smooth": (q_holt_smooth, _SQL_HOLT),
    "ewma_smooth": (q_ewma_smooth, _SQL_EWMA),
    "m4_downsample_1w": (q_m4_downsample_1w, _SQL_M4_1W),
    "lttb_downsample": (q_lttb_downsample, _SQL_LTTB),
    "hot_convs_cms_1h": (q_hot_convs_cms_1h, _sql_hot_convs_cms()),
    "distinct_hll_1h": (q_distinct_hll_1h, _sql_distinct_hll()),
    "delta_p05_p95_1h": (q_delta_p05_p95_1h, _SQL_DELTA_TAILS),
    "hist_p95_global_1h": (q_hist_p95_global_1h, _SQL_HIST_P95_GLOBAL),
    "hist_saturation_1h": (q_hist_saturation_1h, _SQL_HIST_SATURATION),
    "lb_rank_p99_1h": (q_lb_rank_p99_1h, _SQL_LB_RANK),
    "lb_rank_series_1h": (q_lb_rank_series_1h, _SQL_LB_RANK_SERIES),
    "doc_len_p95_by_source": (q_doc_len_p95_by_source, _SQL_DOC_LEN_P95),
    "a8_weighted_solve": (q_a8_weighted_solve, _SQL_SBAS_ALLPAIRS),
    "sbas_solve_from_blobs": (q_sbas_solve_from_blobs, _SQL_SBAS_BW1),
    "sbas_solve_bandwidth1": (q_sbas_solve_bandwidth1, _SQL_SBAS_BW1),
    "w7_gapfill_spline": (q_w7_gapfill_spline, _SQL_W7_SPLINE),
    "gorilla_compress_stats": (q_gorilla_compress_stats, _SQL_GORILLA),
    "a9_l1_solve": (q_a9_l1_solve, _SQL_SBAS_BW1),
    "sbas_solve_allpairs": (q_sbas_solve_allpairs, _SQL_SBAS_ALLPAIRS),
    "w7_gapfill_spline_n2": (q_w7_gapfill_spline_n2, _SQL_W7_SPLINE_N2),
    "hist_p95_1h": (q_hist_p95_1h, _SQL_HIST_P95),
    "w1_turn_deltas": (q_w1_turn_deltas, _SQL_W1),
    "w2_cumsum_reconstruct": (q_w2_cumsum_reconstruct, _SQL_W2),
    "w7_gapfill_linear_1d": (q_w7_gapfill_linear_1d, _SQL_W7),
    "w10_rolling_rows": (q_w10_rolling_rows, _SQL_W10),
    "gap_p99_by_type": (q_gap_p99_by_type, _SQL_GAP_P99),
    "cusum_level_shift": (q_cusum_level_shift, _SQL_CUSUM),
    "anomaly_hod_1h": (q_anomaly_hod_1h, _SQL_ANOMALY_HOD),
    "watermark_sizing": (q_watermark_sizing, _SQL_WATERMARK),
    "late_data_profile": (q_late_data_profile, _SQL_LATE_DATA),
    "counter_increase_1h": (q_counter_increase_1h, _SQL_COUNTER_INC),
    "metric_corr_1h": (q_metric_corr_1h, _SQL_METRIC_CORR),
    "tier_reconcile_1h": (q_tier_reconcile, _SQL_TIER_RECONCILE),
    "w8_ffill": (q_w8_ffill, _SQL_W8),
    "w9_diff_k3": (q_w9_diff_k3, _SQL_W9),
    "a12_rolling_mean_1h": (q_a12_rolling_mean_1h, _SQL_A12),
    "e1_union_distinct_dates": (q_e1_union_distinct_dates, _SQL_E1),
    "a2_short_baseline_mean": (q_a2_short_baseline_mean, _SQL_A2),
    "f9_event_window_pairs": (q_f9_event_window_pairs, _SQL_F9),
    "w4_reference_align": (q_w4_reference_align, _SQL_W4),
    "j1_adjacent_pairs": (q_j1_adjacent_pairs, _SQL_J1),
    "f1_f3_filtered_pairs": (q_f1_f3_filtered_pairs, _SQL_F1F3),
    "topk_per_series": (q_topk_per_series, _SQL_TOPK),
    "sessionize_30m": (q_sessionize, _SQL_SESSIONIZE),
}


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("float64")
        elif pd.api.types.is_integer_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("int64")
        elif pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    return pdf.sort_values(list(pdf.columns), na_position="first").reset_index(
        drop=True
    )


def compare(name: str, got: pd.DataFrame, exp: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(got.columns) != sorted(exp.columns):
        return [f"columns differ: spark={sorted(got.columns)} duck={sorted(exp.columns)}"]
    # Dtype-kind gate: an integer column on the Spark side vs a float
    # column on the DuckDB side (e.g. DuckDB sum(BIGINT) -> HUGEINT ->
    # float64 "149174.0") is a different value to any consumer that hashes
    # bytes, even when every value is equal. normalize() below would mask
    # that, so flag the dtype-kind mismatch itself.
    for c in sorted(got.columns):
        gk, ek = got[c].dtype.kind, exp[c].dtype.kind
        if {gk, ek} == {"i", "f"} or {gk, ek} == {"u", "f"}:
            side = "duck" if ek == "f" else "spark"
            problems.append(
                f"col {c}: DTYPE-KIND mismatch spark={got[c].dtype} "
                f"duck={exp[c].dtype} — {side} side is float where the other "
                f"is integer; a byte hash of the result breaks (cast the "
                f"oracle, e.g. sum(x)::bigint)"
            )
    if problems:
        return problems
    if len(got) != len(exp):
        problems.append(f"row count: spark={len(got)} duck={len(exp)}")
        return problems
    g, e = normalize(got), normalize(exp)
    for c in g.columns:
        gv, ev = g[c], e[c]
        if pd.api.types.is_float_dtype(gv):
            ok = np.isclose(
                gv.to_numpy(), ev.to_numpy("float64"), rtol=0, atol=1e-9, equal_nan=True
            )
        else:
            ok = (gv == ev) | (gv.isna() & ev.isna())
            ok = ok.to_numpy()
        n_bad = int((~ok).sum())
        if n_bad:
            i = int(np.argmax(~ok))
            problems.append(
                f"col {c}: {n_bad}/{len(g)} mismatched, first at row {i}: "
                f"spark={gv.iloc[i]!r} duck={ev.iloc[i]!r}"
            )
        elif pd.api.types.is_float_dtype(gv):
            # Strict byte compare: byte-identical floats (catches
            # -0.0 vs 0.0, which isclose does not).
            ga, ea = gv.to_numpy("float64"), ev.to_numpy("float64")
            nan = np.isnan(ga) & np.isnan(ea)
            if ga[~nan].tobytes() != ea[~nan].tobytes():
                d = ga.copy()
                d[nan] = 0.0
                e2 = ea.copy()
                e2[nan] = 0.0
                i = int(np.argmax(d.view("int64") != e2.view("int64")))
                problems.append(
                    f"col {c}: HASH mismatch (value-equal), first byte-diff "
                    f"row {i}: spark={gv.iloc[i]!r} duck={ev.iloc[i]!r}"
                )
    return problems


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ("events", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", list(ORACLES))
def test_matches_duckdb(spark, duck, name):
    query, oracle = ORACLES[name]
    got = query(spark, SF).toPandas()
    exp = duck.execute(oracle).df()
    assert compare(name, got, exp) == []
