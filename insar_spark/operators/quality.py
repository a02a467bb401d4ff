"""Data-quality, anomaly, and monitoring telemetry over series and tiers.

A 10^12-turn ingest is never clean: events arrive late and out of order,
conversations drift or shift level mid-stream, counters reset when agents
restart, and fleet traffic has hour-of-day seasonality that makes naive
thresholds useless. This module adds the telemetry layer a production
rollup store runs NEXT TO the tiers — each operator consumes either the
raw series or an already-stored tier, and each is built so its decision
columns are INTEGER-exact (cross-multiplied compares, scaled-integer
values), so the DuckDB oracle replays every flag bit-for-bit and its
byte compare covers the whole surface. Floats appear only in
explicitly-rounded convenience columns computed from those integers.

Reference analogs (file:line into /root/reference): the reference scans
solved series against quantile bounds to find outliers
(insar/ts_utils.py:282-289) and masks layers by stack variance
(insar/prepare.py:258-348); these operators are the streaming-ingest
generalization of that QC pass. CUSUM is Page (1954); the counter
``increase`` semantics follow the Prometheus/monitoring convention
(non-negative derivative with reset detection).

Scale shape: every operator is one window exchange on the series key (or
a groupBy over an already-tiny stored tier) — the same single-shuffle
budget as the series operators, reusing the conv_id partitioning the
ingest already paid for. Nothing here collects, loops driver-side, or
crosses into Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from insar_spark.operators.series import KEY

# anomaly threshold: flag when (x - mean)^2 > K_SIGMA^2 * variance,
# evaluated as an integer cross-multiplication (see hod_anomaly_flags)
K_SIGMA = 2


def _lateness_us(
    key_col: str, arrival_col: str, ts_col: str
) -> tuple["Column", "Column"]:
    """The ONE lateness definition both profile and watermark sizing use:
    per-event lateness vs the max event time among STRICTLY EARLIER
    arrivals (RANGE frame over the numeric arrival value, not ROWS — rows
    sharing an arrival value are concurrent deliveries, so neither sees
    the other's timestamp and the result is deterministic under ties;
    a ROWS frame would make tied rows' prev_max depend on arbitrary
    intra-tie order). Returns (lateness_us, prev_max_us); lateness is 0
    for an in-order or first event. Mirrored by the ``e`` CTE in the
    oracles of tests/test_duckdb_oracle.py — keep in sync."""
    w_prev = (
        Window.partitionBy(key_col)
        .orderBy(F.col(arrival_col).cast("long"))
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    us = F.unix_micros(F.col(ts_col))
    prev_max = F.max(us).over(w_prev)
    lateness = F.when(us < prev_max, prev_max - us).otherwise(F.lit(0))
    return lateness, prev_max


def late_data_profile(
    events: DataFrame,
    key_col: str = "conv_id",
    arrival_col: str = "event_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-key late-arrival telemetry: how disordered is the ingest?

    ``arrival_col`` is the ingest order (a monotone ingest id / offset;
    numeric — ties are treated as concurrent, see :func:`_lateness_us`);
    an event is LATE when its event time is older than the max event time
    already ingested for the key — exactly the rows a streaming watermark
    would drop or a sealed tier would need restated (jobs/stream_job.py's
    --restate-day exists because n_late > 0 happens). Knowing the late
    fraction and the worst lateness per key is how the watermark delay
    and the restatement window are SIZED; without this profile those are
    guesses.

    Output per key: ``n_events``, ``n_late``, ``max_lateness_us`` (0 when
    nothing is late), ``n_ts_dups`` (events tying an already-seen max
    timestamp — ties need the stable turn_idx tiebreak, FIXTURES.md §1).
    All int64, no floats anywhere. One window exchange on the key; the
    running max is a range-unbounded-preceding fold, and the final groupBy
    reuses the window's partitioning (no second raw-size shuffle).
    """
    lateness, prev_max = _lateness_us(key_col, arrival_col, ts_col)
    us = F.unix_micros(F.col(ts_col))
    base = events.select(
        F.col(key_col),
        lateness.alias("_late_us"),
        F.when(us == prev_max, 1).otherwise(0).alias("_dup"),
    )
    return base.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(F.when(F.col("_late_us") > 0, 1)).alias("n_late"),
        F.max("_late_us").alias("max_lateness_us"),
        F.sum("_dup").cast("long").alias("n_ts_dups"),
    )


def watermark_recommendation(
    events: DataFrame,
    key_col: str = "conv_id",
    arrival_col: str = "event_id",
    ts_col: str = "ts",
    q: float = 0.999,
    sub_bits: int | None = None,
) -> DataFrame:
    """Data-driven watermark sizing: the q-quantile of per-event lateness.

    The watermark question is "what delay d covers a fraction q of all
    events?" — exactly the q-quantile of the lateness distribution where
    an in-order event has lateness 0. Lateness per event is the same
    one-window-exchange computation as :func:`late_data_profile`; the
    distribution is then summarized by the range-free log-bucket rank
    sketch (operators.sketch.lb_*) because lateness in microseconds spans
    many orders of magnitude with no sane fixed range — the same reason
    the inter-event gap percentiles use it. ``wm_us`` is the lb UPPER
    edge at rank q, so it always covers at least the true q-quantile and
    overshoots by <= 2^-sub_bits relative (3.125 % at the default
    resolution) — the safe direction for a watermark.

    Output is ONE row (n_events, n_late, wm_us) — zeros, not NULLs, on an
    empty input. The raw-size work is the lateness window; everything
    after is bucket-count-sized (n_events rides lb_quantiles' n_points
    and n_late is the mass outside bucket 0 — bucket 0 is exactly
    late_us == 0 — so no second raw-size branch), and the
    single-partition rank scan at the end is over <= ~2k rows no matter
    the input. All integer end to end.
    """
    from insar_spark.operators.sketch import LB_SUB_BITS, lb_bucket, lb_quantiles

    k = LB_SUB_BITS if sub_bits is None else sub_bits
    lateness, _ = _lateness_us(key_col, arrival_col, ts_col)
    base = events.select(lateness.alias("_late_us"))
    rolled = (
        base.withColumn("bucket", lb_bucket("_late_us", k))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    qd = lb_quantiles(rolled, {"wm_us": q}, group_cols=(), sub_bits=k)
    late = rolled.groupBy().agg(
        F.sum(F.when(F.col("bucket") != 0, F.col("cnt"))).alias("_nl")
    )
    zero = F.lit(0).cast("long")
    return qd.crossJoin(late).select(
        F.coalesce(F.col("n_points"), zero).alias("n_events"),
        F.coalesce(F.col("_nl"), zero).alias("n_late"),
        F.coalesce(F.col("wm_us"), zero).alias("wm_us"),
    )


def cusum_level_shift(
    df: DataFrame,
    value_col: str,
    order_col: str = "ord",
    turn_col: str = "turn_idx",
) -> DataFrame:
    """Per-series CUSUM level-shift score (Page 1954), integer-exact.

    ``value_col`` must be int64 (scale fractional metrics first — e.g.
    centi-values via round(v*100)); NULL values are dropped up front (a
    null would be skipped by the sum but counted by row_number/count,
    silently breaking the S_i identity — the series is the NON-NULL
    observations). With C_i the value cumsum, i the row
    number, n the series length and T the series total, the SCALED
    deviation cumsum

        S_i = n*C_i - i*T

    is n× the classic cumsum of (x - mean) with the fractional mean
    cleared — pure int64, so both engines agree bit-for-bit. An upward
    level shift makes S climb after the change point; the score is the
    max drawup (and symmetrically drawdown for downward shifts):

        up_score   = max_i (S_i - min_{j<=i} S_j)
        down_score = max_i (max_{j<=i} S_j - S_i)

    ``shift_turn_idx`` is the first turn at which |S| attains its
    maximum — the classic CUSUM change-point estimator (the deviation
    cumsum is extremal exactly at a single level shift's boundary; the
    drawup/drawdown argmax would land at the segment END instead).
    ``score_norm`` = round(max_score/n^2, 6)
    rescales the n× factor back out for cross-series comparison — the
    one float column, a single deterministic division of two int64s.

    Overflow: |S_i| <= 2*n^2*max|x|, so int64 holds through n ~ 1.5e7
    turns per series at centi-values <= 2e4; past that ANSI mode raises
    loudly instead of wrapping. One window exchange on the series key;
    the reference's analogous QC is the quantile outlier scan over
    solved series (insar/ts_utils.py:282-289) — CUSUM localizes WHERE
    the series changed, not just that tails exist.
    """
    w = Window.partitionBy(KEY).orderBy("_ord")
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy(KEY)
    x = F.col(value_col).cast("long")
    staged = df.filter(F.col(value_col).isNotNull()).select(
        KEY,
        F.col(turn_col).alias("_turn"),
        F.col(order_col).alias("_ord"),
        x.alias("_x"),
    )
    staged = (
        staged.withColumn("_c", F.sum("_x").over(w_run))
        .withColumn("_i", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(w_all))
        .withColumn("_t", F.sum("_x").over(w_all))
    )
    s = (F.col("_n") * F.col("_c") - F.col("_i") * F.col("_t")).alias("_s")
    staged = staged.withColumn("_s", s)
    staged = (
        staged.withColumn("_runmin", F.min("_s").over(w_run))
        .withColumn("_runmax", F.max("_s").over(w_run))
        .withColumn("_up", F.col("_s") - F.col("_runmin"))
        .withColumn("_down", F.col("_runmax") - F.col("_s"))
    )
    staged = staged.withColumn("_abs", F.abs(F.col("_s"))).withColumn(
        "_peak", F.max(F.abs(F.col("_s"))).over(w_all)
    )
    out = staged.groupBy(KEY).agg(
        F.max("_n").alias("n_turns"),
        F.max("_up").alias("up_score"),
        F.max("_down").alias("down_score"),
        F.min(F.when(F.col("_abs") == F.col("_peak"), F.col("_turn"))).alias(
            "shift_turn_idx"
        ),
    )
    norm = F.round(
        F.greatest("up_score", "down_score").cast("double")
        / (F.col("n_turns").cast("double") * F.col("n_turns").cast("double")),
        6,
    )
    return out.withColumn("score_norm", norm)


def counter_increase(
    df: DataFrame,
    counter_col: str,
    ts_col: str = "ts",
    order_col: str = "ord",
    window_unit: str = "hour",
) -> DataFrame:
    """Monitoring-counter ``increase`` per (series, window) with reset
    handling — the Prometheus non-negative-derivative convention.

    ``counter_col`` is a sampled cumulative int64 counter that RESETS to
    a fresh run on process restart (the sampler sees scrapes, never the
    raw increments). Per adjacent scrape pair the contribution is

        delta = c_i - c_{i-1}     if delta >= 0   (normal growth)
        c_i                       otherwise       (reset: counter restarted
                                                   from 0, everything seen
                                                   since IS the increase)

    and the first scrape of a series contributes its own value (growth
    from the 0 start). The per-window ``increase`` is the sum of
    contributions of scrapes falling in the window — a lower bound on
    true growth when resets hide inter-scrape increments, exact when
    none do. All int64: flag math and sums replay bit-for-bit in SQL.

    One window exchange (lag over the series order), then a groupBy that
    reuses the same partitioning. ``n_resets`` per window makes the
    lower-bound caveat visible, mirroring the sketch tiers' saturation
    counters: an estimate whose degradation is invisible is a lie.
    """
    w = Window.partitionBy(KEY).orderBy(order_col)
    c = F.col(counter_col).cast("long")
    prev = F.lag(c).over(w)
    delta = c - prev
    contrib = (
        F.when(prev.isNull(), c)
        .when(delta >= 0, delta)
        .otherwise(c)
    )
    is_reset = F.when(delta < 0, 1).otherwise(0)
    staged = df.select(
        KEY,
        F.date_trunc(window_unit, F.col(ts_col)).alias("window_start"),
        contrib.alias("_inc"),
        is_reset.alias("_reset"),
    )
    return staged.groupBy(KEY, "window_start").agg(
        F.sum("_inc").cast("long").alias("increase"),
        F.sum("_reset").cast("long").alias("n_resets"),
        F.count(F.lit(1)).alias("n_scrapes"),
    )


def hod_anomaly_flags(
    tier: DataFrame,
    count_col: str,
    group_cols: tuple[str, ...] = (),
    window_col: str = "window_start",
    k_sigma: int = K_SIGMA,
) -> DataFrame:
    """Seasonal hour-of-day anomaly flags over a stored 1h tier —
    integer-exact z-score via cross-multiplication.

    Fleet traffic is seasonal: 3 AM and 3 PM have different normals, so
    a flat threshold either misses daytime anomalies or pages all night.
    The baseline groups the tier's windows by (group, hour-of-day) and
    flags window w with count g against its cohort's n/S=Σg/Q=Σg² as

        anomalous  <=>  (n*g - S)^2  >  k^2 * (n*Q - S^2)

    which is |g - mean| > k*sigma (population sigma) with every division
    cleared: g-mean = (ng-S)/n and sigma^2 = (nQ-S^2)/n^2, so squaring
    and multiplying both sides by n^2 leaves pure int64 on both sides —
    the flag itself (not a float reconstruction of it) is what the
    oracle hashes. Overflow: |n*g - S| <= 2*n*g_max, so the square needs
    n*g_max < 3e9 — with n = days-in-retention (<= ~400) that is
    g_max ~ 10^7 per (group, hour); shard the group dimension
    (per-type, per-tenant) before counts approach that, or the ANSI
    error surfaces it loudly.

    Input is the STORED tier (already 3600× reduced), so both window
    passes here are over sketch-sized data — this is a serve-path query,
    never a raw scan. Output: one row per tier window with the cohort
    size and the flag (plus the raw integers so a dashboard can render
    the band).
    """
    g = list(group_cols)
    hod = F.hour(F.col(window_col)).alias("hod")
    staged = tier.select(
        *g, F.col(window_col), hod, F.col(count_col).cast("long").alias("_g")
    )
    w_cohort = Window.partitionBy(*g, "hod")
    staged = (
        staged.withColumn("_n", F.count(F.lit(1)).over(w_cohort))
        .withColumn("_s", F.sum("_g").over(w_cohort))
        .withColumn(
            "_q", F.sum(F.col("_g") * F.col("_g")).over(w_cohort)
        )
    )
    dev = F.col("_n") * F.col("_g") - F.col("_s")
    var_scaled = F.col("_n") * F.col("_q") - F.col("_s") * F.col("_s")
    flag = (dev * dev) > (F.lit(k_sigma * k_sigma) * var_scaled)
    return staged.select(
        *g,
        window_col,
        "hod",
        F.col("_g").alias("n_obs"),
        F.col("_n").alias("cohort_n"),
        flag.cast("int").alias("is_anomaly"),
    )


def tier_reconcile(
    a: DataFrame,
    b: DataFrame,
    keys: tuple[str, ...] = (KEY, "window_start"),
    value_cols: tuple[str, ...] | None = None,
    day_col: str = "window_start",
) -> DataFrame:
    """Per-day reconciliation of two builds of the same tier — the ops
    check behind every bit-for-bit claim in this engine: "is the
    stream-built tier REALLY equal to the batch backfill?", "did the
    restatement change anything outside the restated day?", "does
    today's tier match snapshot N?" (pair with
    ``TierStore.read_tier(as_of=)``).

    Full-outer join on the tier keys (tier-sized, never raw), null-safe
    equality on every value column (works for the sketch tiers' array
    columns too — eqNullSafe compares arrays element-wise), then one
    groupBy localizing discrepancies to days: ``n_match``,
    ``n_mismatch`` (both sides present, values differ), ``n_only_a``,
    ``n_only_b``. A clean reconcile is all-match rows; anything else
    names the day to restate. Output is days-sized — the whole check is
    two tier scans and one tier-keyed shuffle.
    """
    if value_cols is None:
        value_cols = tuple(
            c for c in a.columns if c not in keys and c != "day"
        )
    aa = a.alias("a").withColumn("_in_a", F.lit(1))
    bb = b.alias("b").withColumn("_in_b", F.lit(1))
    joined = aa.join(bb, on=list(keys), how="full_outer")
    same = None
    for c in value_cols:
        eq = F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}"))
        same = eq if same is None else (same & eq)
    status = (
        F.when(F.col("_in_a").isNull(), F.lit("only_b"))
        .when(F.col("_in_b").isNull(), F.lit("only_a"))
        .when(same, F.lit("match"))
        .otherwise(F.lit("mismatch"))
    )
    day = F.date_trunc("day", F.col(day_col)).alias("day")
    return (
        joined.select(day, status.alias("_st"))
        .groupBy("day")
        .agg(
            F.count(F.when(F.col("_st") == "match", 1)).alias("n_match"),
            F.count(F.when(F.col("_st") == "mismatch", 1)).alias("n_mismatch"),
            F.count(F.when(F.col("_st") == "only_a", 1)).alias("n_only_a"),
            F.count(F.when(F.col("_st") == "only_b", 1)).alias("n_only_b"),
        )
    )


def corr_components(
    tier: DataFrame,
    x_col: str,
    y_col: str,
    min_windows: int = 2,
) -> DataFrame:
    """Per-series Pearson correlation between two tier metrics, split
    into int64 components + one rounded float.

    The hash-gated surface is the exact integer sums (n, Σx, Σy — Σx²,
    Σxy, Σy² feed the float but stay internal: n·Σy² can overflow int64
    for long series, so the normalized pieces are combined in doubles).
    ``corr6`` = round((nΣxy - ΣxΣy) / (sqrt(nΣx² - Σx²)·sqrt(nΣy² - Σy²)), 6)
    with every operand cast from the exact integers — deterministic
    IEEE ops over identical inputs, so both engines produce the same
    double before rounding. NULL when either variance is zero or the
    series has fewer than ``min_windows`` windows.

    Consumes a stored tier (x = turns/window, y = value-sum/window), so
    one groupBy over already-reduced data: "does this conversation's
    message rate track its message size?" is answered per series without
    touching raw turns. Reference analog: the correlation-weighted solve
    consumes per-pair cor means the same way (insar/timeseries.py:561-648
    — a stored summary, not the raw stack).
    """
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    agg = tier.groupBy(KEY).agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum(x).alias("sum_x"),
        F.sum(y).alias("sum_y"),
        F.sum(x * x).alias("_sxx"),
        F.sum(x * y).alias("_sxy"),
        F.sum(y * y).alias("_syy"),
    )
    n = F.col("n_windows").cast("double")
    sx = F.col("sum_x").cast("double")
    sy = F.col("sum_y").cast("double")
    num = n * F.col("_sxy").cast("double") - sx * sy
    dx = n * F.col("_sxx").cast("double") - sx * sx
    dy = n * F.col("_syy").cast("double") - sy * sy
    corr = F.when(
        (F.col("n_windows") >= min_windows) & (dx > 0) & (dy > 0),
        F.round(num / (F.sqrt(dx) * F.sqrt(dy)), 6),
    )
    return agg.select(
        KEY, "n_windows", "sum_x", "sum_y", corr.alias("corr6")
    )
