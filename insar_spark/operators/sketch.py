"""Mergeable histogram sketches: percentile estimates as a retention tier.

The exact-percentile operator (A6, `percentile` over raw values) cannot
live in a continuous aggregate — percentiles are not decomposable, so a
1h percentile cannot be rebuilt from 1m percentiles. The classic fix
(TimescaleDB/Druid continuous aggregates, monitoring rollups) is a
MERGEABLE sketch per window: here a fixed-edge histogram, whose merge is
element-wise integer addition — associative, commutative, exact. The
trade is bounded quantile error (≤ one bin width) for tier-cascade
exactness of the sketch itself.

Design for the 100-TB tier store:
* ``hist_rollup`` builds one ``array<long>`` per (series, window) with
  the bins as 64 independent conditional-sum aggregates — decomposable,
  so Catalyst's map-side partial agg absorbs mega-series skew exactly
  like the plain tier stats (operators.rollup), and there is no explode
  (a bins× fan-out shuffle would multiply the exchange by 64).
* ``hist_cascade`` re-aggregates a finer tier to a coarser window by
  per-bin sums — same shape, same partial-agg properties; bit-exact
  merge (tested: cascade(1m)->1h == direct 1h).
* ``hist_quantile`` turns a histogram column into a quantile estimate
  with a single JVM ``aggregate`` fold (no UDF): rank = ceil(q·total),
  answer = upper edge of the first bin whose cumulative count reaches
  the rank. All arithmetic is integer-derived with one exact
  multiplication at the end (edges chosen so step is a power of two),
  so an independent SQL engine reproduces it bit-for-bit.

Reference analog: the stack-average family (insar/prepare.py:258-348)
keeps decomposable running stats per layer for exactly this reason —
only mergeable summaries survive incremental recomputation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from insar_spark.operators.rollup import TIERS
from insar_spark.operators.series import KEY

# fixed edges: [0, 1024) in 64 bins -> step 16.0, exact in float64
DEFAULT_LO = 0.0
DEFAULT_HI = 1024.0
DEFAULT_BINS = 64


def bin_index(
    value_col: str, lo: float = DEFAULT_LO, hi: float = DEFAULT_HI,
    bins: int = DEFAULT_BINS,
) -> Column:
    """Clamped fixed-width bin index (out-of-range mass lands in the edge
    bins — the sketch never drops rows, so counts stay exact).

    The clamp happens on the LONG floor result and the int cast comes
    last: casting first would wrap a raw index >= 2^31 negative (non-ANSI)
    and drop an extreme value into bin 0 while ``n_clamped_hi`` reported
    it high-clamped — and the DuckDB oracle's ``::INT`` would error
    instead of wrapping, a latent cross-engine divergence."""
    step = (hi - lo) / bins
    raw = F.floor((F.col(value_col) - F.lit(lo)) / F.lit(step))
    clamped = F.least(
        F.lit(bins - 1).cast("long"), F.greatest(F.lit(0).cast("long"), raw)
    )
    return clamped.cast("int")


def hist_rollup(
    df: DataFrame, tier: str = "1m", value_col: str = "v",
    ts_col: str = "ts", lo: float = DEFAULT_LO, hi: float = DEFAULT_HI,
    bins: int = DEFAULT_BINS,
) -> DataFrame:
    """(conv_id, window_start, hist array<long>, n_clamped_lo/hi) — tier-0
    sketch.

    One shuffle on (conv_id, window); each bin is its own conditional-sum
    aggregate, so the whole histogram participates in map-side partial
    aggregation (no explode, no bins× shuffle fan-out).

    ``n_clamped_lo``/``n_clamped_hi`` count the rows whose value fell
    outside [lo, hi) and was clamped into an edge bin. They merge by
    plain sum (exactly like a bin), so saturation stays DETECTABLE from
    the stored tier alone at every cascade level: the "error ≤ one bin
    width" quantile guarantee silently degrades to "error ≤ distance to
    the clamp edge" once rank mass rides an edge bin, and a mis-sized
    ``hi`` is otherwise baked in at ingest (see :func:`hist_saturated`).
    """
    unit = TIERS[tier]
    b = bin_index(value_col, lo, hi, bins)
    step = (hi - lo) / bins
    raw = F.floor((F.col(value_col) - F.lit(lo)) / F.lit(step))
    base = df.select(
        KEY,
        F.date_trunc(unit, F.col(ts_col)).alias("window_start"),
        b.alias("_b"),
        raw.alias("_raw"),
    )
    aggs = [
        F.count(F.when(F.col("_b") == i, 1)).alias(f"_c{i}")
        for i in range(bins)
    ] + [
        F.count(F.when(F.col("_raw") < 0, 1)).alias("_clo"),
        F.count(F.when(F.col("_raw") >= bins, 1)).alias("_chi"),
    ]
    rolled = base.groupBy(KEY, "window_start").agg(*aggs)
    return rolled.select(
        KEY,
        "window_start",
        F.array(*[F.col(f"_c{i}") for i in range(bins)]).alias("hist"),
        F.col("_clo").alias("n_clamped_lo"),
        F.col("_chi").alias("n_clamped_hi"),
    )


def hist_rollup_global(
    df: DataFrame, tier: str = "1h", value_col: str = "v",
    ts_col: str = "ts", lo: float = DEFAULT_LO, hi: float = DEFAULT_HI,
    bins: int = DEFAULT_BINS,
) -> DataFrame:
    """Fleet-wide histogram built DIRECTLY at the target tier: one row
    per window (hist + clamp counters), no per-series key.

    :func:`hist_rollup` keys the tier by conv_id for the STORE; a global
    read that merges the key away (:func:`hist_merge_global`) paid a
    per-(conv, window) intermediate whose 66-column rows shuffled ~66
    longs per raw row at sparse granularities. Bin counts and clamp
    counters are plain sums, so grouping straight to the window is exact
    and the wide agg collapses to windows-many rows via map-side partials
    (r6; guide §2.3/§2.4)."""
    unit = TIERS[tier]
    b = bin_index(value_col, lo, hi, bins)
    step = (hi - lo) / bins
    raw = F.floor((F.col(value_col) - F.lit(lo)) / F.lit(step))
    base = df.select(
        F.date_trunc(unit, F.col(ts_col)).alias("window_start"),
        b.alias("_b"),
        raw.alias("_raw"),
    )
    aggs = [
        F.count(F.when(F.col("_b") == i, 1)).alias(f"_c{i}")
        for i in range(bins)
    ] + [
        F.count(F.when(F.col("_raw") < 0, 1)).alias("_clo"),
        F.count(F.when(F.col("_raw") >= bins, 1)).alias("_chi"),
    ]
    rolled = base.groupBy("window_start").agg(*aggs)
    return rolled.select(
        "window_start",
        F.array(*[F.col(f"_c{i}") for i in range(bins)]).alias("hist"),
        F.col("_clo").alias("n_clamped_lo"),
        F.col("_chi").alias("n_clamped_hi"),
    )


def hist_cascade(rolled: DataFrame, tier: str, bins: int = DEFAULT_BINS) -> DataFrame:
    """Coarsen a histogram tier: element-wise sum per bin — the exact,
    associative merge that makes the sketch a continuous aggregate. Clamp
    counters (when present in the stored tier) merge by the same sums."""
    unit = TIERS[tier]
    clamp = "n_clamped_hi" in rolled.columns
    aggs = [
        F.sum(F.element_at("hist", i + 1)).alias(f"_c{i}") for i in range(bins)
    ]
    if clamp:
        aggs += [
            F.sum("n_clamped_lo").alias("_clo"),
            F.sum("n_clamped_hi").alias("_chi"),
        ]
    out = (
        rolled.groupBy(
            KEY, F.date_trunc(unit, F.col("window_start")).alias("window_start")
        )
        .agg(*aggs)
    )
    cols = [
        F.col(c) for c in (KEY if isinstance(KEY, list) else [KEY])
    ] + [
        F.col("window_start"),
        F.array(*[F.col(f"_c{i}") for i in range(bins)]).alias("hist"),
    ]
    if clamp:
        cols += [
            F.col("_clo").alias("n_clamped_lo"),
            F.col("_chi").alias("n_clamped_hi"),
        ]
    return out.select(*cols)


def hist_quantile(
    hist_col: str | Column, q: float, lo: float = DEFAULT_LO,
    hi: float = DEFAULT_HI, bins: int = DEFAULT_BINS,
) -> Column:
    """Quantile estimate from a histogram column — pure JVM fold.

    rank = ceil(q * total); the estimate is the UPPER edge of the first
    bin whose cumulative count reaches the rank (a deterministic,
    SQL-reproducible convention; error ≤ one bin width by construction).
    Empty histograms yield NULL.

    Implementation notes, both measured: (a) the rank (itself an O(bins)
    fold) is LET-BOUND — an expression referenced inside a higher-order
    lambda is re-evaluated per element, which would make the scan
    O(bins²)/row; (b) the scan's accumulator is ONE packed long
    (cum << 6 | bins-below-rank) — a struct accumulator runs the
    interpreted lambda ~4× slower per step than plain long arithmetic
    (~1.6 s vs ~0.4 s per quantile over the sf0.1 1h tier's 95 k rows).
    The packing is safe while per-window counts stay below 2^57 (10¹²
    turns is 2^40)."""
    step = (hi - lo) / bins
    idx = hist_quantile_idx(hist_col, q)
    return F.lit(lo) + (idx + 1).cast("double") * F.lit(step)


def hist_quantile_idx(hist_col: str | Column, q: float) -> Column:
    """Bin INDEX the q-rank lands in (NULL for an empty histogram) — the
    integer core of :func:`hist_quantile`, exposed so edge-riding checks
    (:func:`hist_saturated`) compare indices instead of reconstructed
    floats, which is only reliable when lo/hi/step are exactly
    representable. Same packed-long fold as documented above."""
    from insar_spark.functions.shared_hash import let_col

    h = F.col(hist_col) if isinstance(hist_col, str) else hist_col
    idx_mask = (1 << 6) - 1  # bins <= 64 by construction

    def body(rank: Column) -> Column:
        folded = F.aggregate(
            h,
            F.lit(0).cast("long"),
            lambda acc, x: (
                F.shiftleft(F.shiftright(acc, 6) + x, 6)
                + (
                    acc.bitwiseAND(F.lit(idx_mask))
                    + F.when(F.shiftright(acc, 6) + x < rank, 1).otherwise(0)
                ).cast("long")
            ),
        )
        return F.when(rank > 0, folded.bitwiseAND(F.lit(idx_mask)))

    total = F.aggregate(h, F.lit(0).cast("long"), lambda a, x: a + x)
    rank = F.ceil(total.cast("double") * F.lit(float(q))).cast("long")
    return let_col(rank, body)


def hist_rank_quantiles(
    df: DataFrame, tier: str, qs: dict[str, float], value_col: str = "v",
    ts_col: str = "ts", lo: float = DEFAULT_LO, hi: float = DEFAULT_HI,
    bins: int = DEFAULT_BINS, group_cols: tuple[str, ...] | None = None,
) -> DataFrame:
    """Serve histogram quantiles DIRECTLY at the target tier — the
    single-exchange read shape for ad-hoc (non-store) percentile queries.

    The wide ``hist_rollup`` + ``hist_cascade`` path exists for the STORED
    tier (fixed-width array rows, map-side partials, exact bin merges);
    when a query computes fine tier -> coarse tier -> quantile in one
    plan, the cascade identity (cascade(rollup(raw, fine), coarse) ==
    rollup(raw, coarse), pytest-proven in test_rollup/test_metrics) means
    the intermediate tier is pure overhead: at 1-minute granularity over
    sparse series the per-(key, minute) histograms have ~1 row each, so
    the 64-wide conditional-agg exchange carries ~66 longs per raw row
    (measured 3.8 s -> 2.0 s at sf1.0 for hist_p95_1h; "Project before
    the exchange" + "aggregate before you shuffle", optimization guide
    §2.3).

    Shape: one groupBy (group..., window) collecting the SORTED bin
    multiset; quantile q = the rank-th smallest bin (rank = ceil(q*n)),
    identical to the cumulative-scan convention of :func:`hist_quantile`
    (the rank-th element of the sorted multiset IS the first bin whose
    cumulative count reaches the rank). Per-group state is bounded by
    the rows of one (key, window) group — the same envelope as the
    engine's whole-series folds (ewma/holt collect a whole conv; this
    collects one conv-window).
    """
    unit = TIERS[tier]
    group = list(group_cols) if group_cols is not None else (
        KEY if isinstance(KEY, list) else [KEY]
    )
    b = bin_index(value_col, lo, hi, bins)
    step = (hi - lo) / bins
    packed = (
        df.select(
            *group,
            F.date_trunc(unit, F.col(ts_col)).alias("window_start"),
            b.alias("_b"),
        )
        .groupBy(*group, "window_start")
        .agg(
            F.array_sort(F.collect_list("_b")).alias("_bins"),
            F.count(F.lit(1)).alias("n_points"),
        )
    )

    def est(q: float) -> Column:
        rank = F.ceil(
            F.col("n_points").cast("double") * F.lit(float(q))
        ).cast("int")
        return (
            F.lit(lo)
            + (F.element_at("_bins", rank) + 1).cast("double") * F.lit(step)
        )

    return packed.select(
        *group,
        "window_start",
        F.col("n_points").cast("long").alias("n_points"),
        *[est(q).alias(name) for name, q in qs.items()],
    )


def hist_saturated(
    hist_col: str | Column, q: float, lo: float = DEFAULT_LO,
    hi: float = DEFAULT_HI, bins: int = DEFAULT_BINS,
    clamped_lo_col: str | Column = "n_clamped_lo",
    clamped_hi_col: str | Column = "n_clamped_hi",
) -> Column:
    """True when the q-quantile estimate rides a CLAMP edge — i.e. the
    returned value's "error ≤ one bin width" guarantee has silently
    degraded because out-of-range mass was clamped into the edge bin the
    rank landed in. Detectable from the stored tier alone (the clamp
    counters merge through every cascade level), so a mis-sized ``hi``
    baked in at ingest is visible at read time instead of lying.

    hi-side: the rank is reached only in the LAST bin (index bins-1)
    while ``n_clamped_hi > 0``. lo-side: the rank is satisfied inside
    bin 0 while ``n_clamped_lo > 0``. The comparison is on the integer
    bin index from :func:`hist_quantile_idx`, not the reconstructed
    float estimate — float equality against ``hi``/``lo+step`` can
    silently never fire when the edges are not exactly representable
    (arbitrary lo/hi); the index compare is exact for any edges."""
    clo = (
        F.col(clamped_lo_col)
        if isinstance(clamped_lo_col, str)
        else clamped_lo_col
    )
    chi = (
        F.col(clamped_hi_col)
        if isinstance(clamped_hi_col, str)
        else clamped_hi_col
    )
    idx = hist_quantile_idx(hist_col, q)
    rides_hi = (idx == F.lit(bins - 1)) & (chi > 0)
    rides_lo = (idx == F.lit(0)) & (clo > 0)
    return F.coalesce(rides_hi | rides_lo, F.lit(False))


def hist_merge_global(
    rolled: DataFrame, tier: str, bins: int = DEFAULT_BINS
) -> DataFrame:
    """Merge per-series histograms into one GLOBAL sketch per window —
    the fleet-wide dashboard percentile ("p95 across all conversations
    this hour") built from the stored per-series tier, never from raw.

    Same per-bin element-wise sums as :func:`hist_cascade`, with the
    series key dropped from the grouping: one shuffle whose width is the
    number of windows (tiny), map-side partials absorbing everything
    else. At 100 TB the input is the 60×-reduced stored 1m tier and the
    output is thousands of rows — this is why the sketch is mergeable.
    """
    unit = TIERS[tier]
    clamp = "n_clamped_hi" in rolled.columns
    aggs = [
        F.sum(F.element_at("hist", i + 1)).alias(f"_c{i}") for i in range(bins)
    ]
    if clamp:
        aggs += [
            F.sum("n_clamped_lo").alias("_clo"),
            F.sum("n_clamped_hi").alias("_chi"),
        ]
    out = rolled.groupBy(
        F.date_trunc(unit, F.col("window_start")).alias("window_start")
    ).agg(*aggs)
    cols = [
        F.col("window_start"),
        F.array(*[F.col(f"_c{i}") for i in range(bins)]).alias("hist"),
    ]
    if clamp:
        cols += [
            F.col("_clo").alias("n_clamped_lo"),
            F.col("_chi").alias("n_clamped_hi"),
        ]
    return out.select(*cols)


# --------------------------------------------- log-bucket rank sketch
#
# The histogram sketch above trades a FIXED value range [lo, hi) for a
# constant-width array row; out-of-range mass clamps (visibly, via the
# n_clamped_* counters, but the quantile guarantee still degrades). This
# second sketch family removes the range assumption entirely: buckets are
# base-2 log buckets with LB_SUB_BITS mantissa bits (a DDSketch-style
# relative-error sketch, Masson et al. 2019, built on powers of two), so
# ONE static bucket function covers all of [0, 2^63) with
#   * EXACT answers for values < 2^LB_SUB_BITS (singleton buckets), and
#   * relative error <= 2^-LB_SUB_BITS everywhere else,
# and it can never saturate — there is no edge to clamp into.
#
# Everything is INTEGER arithmetic: msb(v) = length(bin(v)) - 1 and
# shiftright are bit-exact in both Spark and DuckDB (measured), so the
# sketch — not just its estimates — is bit-reproducible cross-engine,
# unlike float log-gamma bucketing whose last-ulp differences flip bucket
# boundaries. Doubles enter via a caller-chosen power-of-two scale
# (exponent shift: exact in IEEE754, floor deterministic).
#
# Representation is TALL: one row per (key, window, bucket) with a count.
# Merge/cascade/global-merge are all plain groupBy-sum — associative,
# exact, map-side partial-agged — and the tier never pays a wide
# conditional-agg list or an array column. Per window the sketch holds at
# most 64 * 2^LB_SUB_BITS rows (~2k at k=5), sparse in practice, so the
# stored tier stays tiny at 100 TB exactly like the histogram tier.

LB_SUB_BITS = 5  # 32 sub-buckets per octave -> relative error <= 3.125 %


def lb_bucket(value_col: str | Column, sub_bits: int = LB_SUB_BITS) -> Column:
    """Monotone integer bucket id for a nonnegative long value.

    v < 2^k            -> bucket = v                     (exact region)
    v >= 2^k, msb m    -> bucket = (m-k+1)*2^k + (v >> (m-k)) - 2^k
    v < 0              -> bucket = -1 (underflow bucket; merges/cascades
                          like any bucket, so negative mass stays visible
                          instead of being dropped or silently clamped)

    Contiguous and monotone in v, so a cumulative-count scan in bucket
    order is a rank scan in value order."""
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    v = v.cast("long")
    k = sub_bits
    cap = 1 << k
    m = F.length(F.bin(v)) - F.lit(1)
    hi = (
        (m - F.lit(k - 1)) * F.lit(cap)
        + F.expr(f"shiftright(cast({_col_sql(value_col)} as bigint), "
                 f"length(bin(cast({_col_sql(value_col)} as bigint))) - 1 - {k})")
        - F.lit(cap)
    )
    return (
        F.when(v < 0, F.lit(-1))
        .when(v < cap, v)
        .otherwise(hi)
        .cast("long")
    )


def _col_sql(value_col: str | Column) -> str:
    """SQL fragment for a column reference usable inside F.expr (column
    shift amounts need the SQL form of shiftright; the Python wrapper
    only accepts int literals)."""
    if isinstance(value_col, str):
        return f"`{value_col}`"
    raise TypeError("lb_bucket needs a column NAME when v >= 2^sub_bits "
                    "(column-shift shiftright is only reachable via SQL)")


def lb_upper_edge(
    bucket_col: str | Column, sub_bits: int = LB_SUB_BITS
) -> Column:
    """Largest value in a bucket (the quantile estimate convention —
    deterministic, integer, SQL-reproducible).

    bucket < 2^k -> bucket itself (exact region; -1 for the underflow
    bucket, a sentinel the caller can recognize). Otherwise invert
    lb_bucket: m = (bucket >> k) + k - 1, sub = bucket & (2^k - 1),
    edge = ((2^k + sub + 1) << (m-k)) - 1 — computed in the
    overflow-free form (2^k + sub) << (m-k) + (2^(m-k) - 1), which stays
    below 2^63 for every valid bucket (the naive form's intermediate
    wraps for the top octave m=62 even though the true edge 2^63-1 is
    representable; under ANSI mode that wrap is a runtime error)."""
    b = F.col(bucket_col) if isinstance(bucket_col, str) else bucket_col
    k = sub_bits
    cap = 1 << k
    name = bucket_col if isinstance(bucket_col, str) else None
    if name is None:
        raise TypeError("lb_upper_edge needs a column name (SQL shifts)")
    shift = f"(cast(shiftright(`{name}`, {k}) as int) - 1)"
    edge = F.expr(
        f"shiftleft({cap} + (`{name}` % {cap}), {shift}) "
        f"+ (shiftleft(cast(1 as bigint), {shift}) - 1)"
    )
    return F.when(b < cap, b).otherwise(edge).cast("long")


def _lb_pos_bucket_sql(x: str, k: int) -> str:
    """SQL fragment: log-bucket id of a NONNEGATIVE long expression —
    the integer core shared by the unsigned and signed bucket functions
    (msb via length(bin(.)), sub-bucket via shiftright; bit-identical in
    Spark and DuckDB)."""
    cap = 1 << k
    return (
        f"(CASE WHEN {x} < {cap} THEN {x} "
        f"ELSE (length(bin({x})) - {k}) * {cap} "
        f"+ shiftright({x}, length(bin({x})) - 1 - {k}) - {cap} END)"
    )


def lb_bucket_signed(value_col: str, sub_bits: int = LB_SUB_BITS) -> Column:
    """Monotone integer bucket id over the FULL signed long range —
    mirrored negative octaves:

    v >= 0  -> lb_bucket(v)                (0, 1, 2, ...)
    v <  0  -> -2 - lb_bucket(-v)          (-3, -4, ... more negative as
                                            |v| grows)

    Monotone end to end (v=-1 -> -3, v=0 -> 0; ids -2/-1 are never
    produced), so the cumsum/rank scan of lb_quantiles works unchanged —
    buckets sort in value order across the sign boundary. Exactness and
    the <= 2^-k relative-error bound hold symmetrically (EXACT for
    |v| < 2^k). Long.MIN has no representable negation; it is clamped to
    -(2^63-1) first, which lands in the same top octave (monotonicity
    preserved, no ANSI overflow). The engine's flagship signed series —
    text-length deltas (W1), detrended/aligned values (reference analog:
    signed deformation, insar/timeseries.py:540-553; quantile scans over
    signed values, insar/ts_utils.py:282-289) — get tail percentiles
    without a range guess (hist) or a collapsed negative tail (the
    unsigned lb underflow bucket)."""
    k = sub_bits
    pos = f"cast(`{value_col}` as bigint)"
    neg = f"(0 - greatest({pos}, -9223372036854775807))"
    sql = (
        f"CASE WHEN {pos} >= 0 THEN {_lb_pos_bucket_sql(pos, k)} "
        f"ELSE -2 - {_lb_pos_bucket_sql(neg, k)} END"
    )
    return F.expr(sql).cast("long")


def lb_edge_signed(bucket_col: str, sub_bits: int = LB_SUB_BITS) -> Column:
    """Quantile-estimate convention for signed buckets: the LARGEST value
    in the bucket (ceil convention, matching lb_upper_edge). For b >= 0
    that is the positive upper edge; for a mirrored bucket b <= -3 the
    largest value is the NEGATED LOWER edge of the magnitude bucket
    p = -2 - b (values in the bucket are -[lower_p, upper_p]). All
    integer, overflow-free (the shifted intermediate stays < 2^63 for
    every valid bucket), SQL-reproducible."""
    k = sub_bits
    cap = 1 << k
    b = f"cast(`{bucket_col}` as bigint)"
    shift_pos = f"(cast(shiftright({b}, {k}) as int) - 1)"
    upper = (
        f"CASE WHEN {b} < {cap} THEN {b} "
        f"ELSE shiftleft({cap} + ({b} % {cap}), {shift_pos}) "
        f"+ (shiftleft(cast(1 as bigint), {shift_pos}) - 1) END"
    )
    p = f"(-2 - {b})"
    shift_neg = f"(cast(shiftright({p}, {k}) as int) - 1)"
    lower = (
        f"CASE WHEN {p} < {cap} THEN {p} "
        f"ELSE shiftleft({cap} + ({p} % {cap}), {shift_neg}) END"
    )
    sql = f"CASE WHEN {b} >= 0 THEN ({upper}) ELSE -({lower}) END"
    return F.expr(sql).cast("long")


def lb_rollup(
    df: DataFrame, tier: str = "1m", value_col: str = "v",
    ts_col: str = "ts", sub_bits: int = LB_SUB_BITS,
    signed: bool = False,
) -> DataFrame:
    """(conv_id, window_start, bucket, cnt) — tall tier-0 rank sketch.
    One shuffle on (key, window, bucket); counts are exact.

    ``signed=True`` buckets with the mirrored-negative-octave function
    (full resolution on both tails) instead of the single underflow
    bucket; the tall shape, merge and cascade are identical either way
    (the bucket id is just a grouping key)."""
    unit = TIERS[tier]
    tmp = df.select(
        KEY,
        F.date_trunc(unit, F.col(ts_col)).alias("window_start"),
        F.col(value_col).cast("long").alias("_v"),
    )
    b = (
        lb_bucket_signed("_v", sub_bits)
        if signed
        else lb_bucket("_v", sub_bits)
    )
    return (
        tmp.withColumn("bucket", b)
        .groupBy(KEY, "window_start", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def lb_cascade(rolled: DataFrame, tier: str) -> DataFrame:
    """Coarsen a tall sketch tier: groupBy sum — the merge IS the engine's
    native partial-aggregated sum, nothing bespoke to maintain."""
    unit = TIERS[tier]
    return (
        rolled.groupBy(
            KEY,
            F.date_trunc(unit, F.col("window_start")).alias("window_start"),
            "bucket",
        )
        .agg(F.sum("cnt").alias("cnt"))
    )


def lb_merge_global(rolled: DataFrame, tier: str) -> DataFrame:
    """Drop the series key: fleet-wide rank sketch per window."""
    unit = TIERS[tier]
    return (
        rolled.groupBy(
            F.date_trunc(unit, F.col("window_start")).alias("window_start"),
            "bucket",
        )
        .agg(F.sum("cnt").alias("cnt"))
    )


def lb_rollup_global(
    df: DataFrame, tier: str = "1h", value_col: str = "v",
    ts_col: str = "ts", sub_bits: int = LB_SUB_BITS, signed: bool = False,
) -> DataFrame:
    """Fleet-wide tall rank sketch built DIRECTLY at the target tier:
    (window_start, bucket, cnt) with no per-series key.

    ``lb_rollup`` keys the tier by conv_id because the STORE serves
    per-series reads; a global read that immediately drops the key
    (``lb_merge_global``) pays a raw-sized per-(conv, minute, bucket)
    exchange for nothing — sums are associative, so grouping straight to
    (window, bucket) yields the identical sketch while the map-side
    partial agg now reduces to <= windows x buckets rows per task
    (measured 1.7 s -> 0.8 s at sf1.0 for lb_rank_p99_1h; optimization
    guide §2.3 "aggregate before you shuffle" / §2.4 "remove shuffles
    outright")."""
    unit = TIERS[tier]
    tmp = df.select(
        F.date_trunc(unit, F.col(ts_col)).alias("window_start"),
        F.col(value_col).cast("long").alias("_v"),
    )
    b = (
        lb_bucket_signed("_v", sub_bits)
        if signed
        else lb_bucket("_v", sub_bits)
    )
    return (
        tmp.withColumn("bucket", b)
        .groupBy("window_start", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def lb_quantiles(
    rolled: DataFrame, qs: dict[str, float], group_cols: tuple[str, ...],
    sub_bits: int = LB_SUB_BITS, signed: bool = False,
) -> DataFrame:
    """Quantile estimates from a tall sketch, ALL in one pass: rank =
    ceil(q*total); answer = upper edge of the first bucket whose
    cumulative count reaches the rank (same convention as hist_quantile).
    One window cumsum in bucket order, then a conditional-min per
    requested quantile — pure DataFrame ops over the (tiny) tier, no
    second scan per quantile.

    ``signed=True`` decodes buckets with :func:`lb_edge_signed` (pair
    with a ``signed=True`` rollup); the scan itself is unchanged because
    the signed bucket ids still sort in value order."""
    from pyspark.sql import Window as W

    g = list(group_cols)
    wcum = W.partitionBy(*g).orderBy("bucket")
    wall = W.partitionBy(*g)
    t = (
        rolled.withColumn("_cum", F.sum("cnt").over(wcum))
        .withColumn("_total", F.sum("cnt").over(wall))
    )
    aggs = [F.max("_total").alias("n_points")]
    for name, q in qs.items():
        rank = F.ceil(
            F.col("_total").cast("double") * F.lit(float(q))
        ).cast("long")
        aggs.append(
            F.min(F.when(F.col("_cum") >= rank, F.col("bucket"))).alias(
                f"_b_{name}"
            )
        )
    picked = t.groupBy(*g).agg(*aggs)
    edge = lb_edge_signed if signed else lb_upper_edge
    return picked.select(
        *g,
        "n_points",
        *[edge(f"_b_{name}", sub_bits).alias(name) for name in qs],
    )


# --------------------------------------------- HyperLogLog register sketch
#
# The distinct-count sketch. The HLL register sketch (Flajolet et al.
# 2007) keeps, in each of m registers, the MAX leading-zero run (rho)
# seen in its hash-suffix stream, so it counts billions of distincts in m
# small integers with relative error ~1.04/sqrt(m) (~3% at p=10, flat at
# any cardinality) and CANNOT saturate — max() never overruns.
#
# Same tall playbook as the lb sketch: one row per (key?, window,
# register) holding max_rho. Merge/cascade = groupBy-MAX — associative,
# commutative, idempotent (better than sum: replays are absorbed), so
# the tier streams through the seal cycle and cascades 1m -> 1h -> 1d
# unchanged. Per window at most m=2^p rows (1024 at p=10), sparse when
# quiet — the stored tier stays tiny at 100 TB.
#
# Everything on the hash-gated contract surface is INTEGER: the register
# id and rho come from the shared md5-60 hash (shared_hash.py — the
# oracle recomputes them independently), and the harmonic-mean
# denominator sum(2^-rho) is exposed scaled by 2^51 so it is an exact
# int64 (each register term is a power of two <= 2^51; 1024 of them sum
# below 2^62). The float estimate — alpha_m * m^2 * 2^51 / sum_scaled,
# with the standard small-range linear-counting correction — is a
# single deterministic expression over those integers, kept OUT of the
# byte-hash contract and tolerance-tested in pytest instead. Even the correction-regime flag is an integer compare
# (sum_scaled >= HLL_LC_CUTOFF precomputed as one literal), so regime
# selection is byte-stable cross-engine.

HLL_P = 10  # 2^10 = 1024 registers -> stderr ~ 1.04/sqrt(m) = 3.25 %
HLL_M = 1 << HLL_P
# the md5-60 hash leaves 60 - p suffix bits; rho ranges 1..(60-p+1),
# with the max value reserved for an all-zero suffix
HLL_RHO_MAX = 60 - HLL_P + 1  # 51
# alpha_m for m >= 128 (Flajolet et al. 2007, fig. 3)
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
# small-range regime: raw_est <= 2.5*m  <=>  sum_scaled >= this cutoff
# (one precomputed literal so the compare is pure int64 on both engines)
HLL_LC_CUTOFF = int(HLL_ALPHA * HLL_M * (1 << HLL_RHO_MAX) / 2.5) + 1


def hll_rho(hash_col: Column, p: int = HLL_P) -> Column:
    """rho = leading-zero count of the (60-p)-bit hash suffix, plus one —
    pure integer via length(bin(suffix)) (bit-length), the same
    msb-by-binary-string trick the lb sketch uses, bit-reproducible in
    DuckDB. All-zero suffix maps to the reserved max (60-p+1)."""
    rho_max = 60 - p + 1
    suffix = F.shiftright(hash_col, p)
    return (
        F.when(suffix == 0, F.lit(rho_max))
        .otherwise(F.lit(rho_max) - F.length(F.bin(suffix)))
        .cast("int")
    )


def hll_rollup(
    df: DataFrame, tier: str = "1m", key_col: str = "conv_id",
    ts_col: str = "ts", p: int = HLL_P, group_col: str | None = None,
) -> DataFrame:
    """Tall HLL tier: one row per (group?, window, register) with the max
    rho. One shuffle on (window, reg); max() partial-aggregates map-side,
    so mega-window skew is absorbed exactly like the lb sketch's sum.
    ``group_col`` adds the keyed dimension ("distinct convs per event
    type per hour") the other sketch families already have."""
    from insar_spark.functions.shared_hash import h60_col

    unit = TIERS[tier]
    m = 1 << p
    group = [group_col] if group_col else []
    # bind the md5 hash in its own projection: reg and rho both consume
    # it, and CollapseProject will not inline a non-cheap expression
    # into multiple consumers — one md5 per row instead of three
    # (measured 21% off the warm full-query time at sf0.1)
    hashed = df.select(
        *group,
        F.date_trunc(unit, F.col(ts_col)).alias("window_start"),
        h60_col(F.col(key_col).cast("string")).alias("_h"),
    )
    base = hashed.select(
        *group,
        "window_start",
        F.pmod(F.col("_h"), F.lit(m)).cast("int").alias("reg"),
        hll_rho(F.col("_h"), p).alias("_rho"),
    )
    return base.groupBy(*group, "window_start", "reg").agg(
        F.max("_rho").alias("max_rho")
    )


def hll_cascade(
    rolled: DataFrame, tier: str, group_col: str | None = None
) -> DataFrame:
    """Coarsen an HLL tier: groupBy-MAX per (window, reg). Associative,
    commutative AND idempotent — a replayed partition merges to the same
    sketch, which is why the streaming seal cycle can carry this tier
    with no dedup buffer."""
    unit = TIERS[tier]
    group = [group_col] if group_col else []
    return (
        rolled.groupBy(
            *group,
            F.date_trunc(unit, F.col("window_start")).alias("window_start"),
            "reg",
        )
        .agg(F.max("max_rho").alias("max_rho"))
    )


def hll_read(
    rolled: DataFrame, p: int = HLL_P, group_col: str | None = None
) -> DataFrame:
    """Serve an HLL tier: per (group?, window) the INTEGER contract
    surface — present-register count, the 2^51-scaled harmonic-mean
    denominator (absent registers contribute the full 2^51 each, i.e.
    rho=0), and the small-range-regime flag as a pure int64 compare.
    One groupBy-sum over the (tiny) stored tier. The float estimate is
    :func:`hll_estimate` over these columns — off the byte-hash
    contract."""
    m = 1 << p
    rho_max = 60 - p + 1
    group = [group_col] if group_col else []
    agg = rolled.groupBy(*group, "window_start").agg(
        F.count(F.lit(1)).cast("long").alias("n_regs"),
        F.sum(
            F.expr(f"shiftleft(cast(1 as bigint), {rho_max} - max_rho)")
        ).cast("long").alias("_present"),
    )
    sum_scaled = (
        F.col("_present")
        + (F.lit(m) - F.col("n_regs")) * F.lit(1 << rho_max)
    )
    return agg.select(
        *group,
        "window_start",
        "n_regs",
        sum_scaled.cast("long").alias("sum_scaled"),
        (
            (F.col("n_regs") < m)
            & (sum_scaled >= F.lit(HLL_LC_CUTOFF))
        ).cast("int").alias("lc_regime"),
    )


def hll_estimate(
    n_regs_col: str | Column, sum_scaled_col: str | Column, p: int = HLL_P
) -> Column:
    """Cardinality estimate from the integer contract columns: raw HLL
    harmonic mean alpha_m * m^2 * 2^51 / sum_scaled, switched to linear
    counting m*ln(m/V) in the small-range regime (raw <= 2.5m with V > 0
    empty registers, per Flajolet et al. 2007). Transcendental in the
    small-range branch — NOT part of the byte-hash contract;
    tolerance-tested in pytest."""
    m = 1 << p
    rho_max = 60 - p + 1
    n = F.col(n_regs_col) if isinstance(n_regs_col, str) else n_regs_col
    s = (
        F.col(sum_scaled_col)
        if isinstance(sum_scaled_col, str)
        else sum_scaled_col
    )
    raw = (
        F.lit(HLL_ALPHA * float(m) * float(m) * float(1 << rho_max))
        / s.cast("double")
    )
    v = (F.lit(m) - n).cast("double")
    lc = F.lit(float(m)) * F.log(F.lit(float(m)) / v)
    in_lc = (n < m) & (s >= F.lit(HLL_LC_CUTOFF))
    return F.when(in_lc, lc).otherwise(raw)


# ------------------------------------------------ count-min frequency sketch
#
# Fourth mergeable-sketch family: FREQUENCY. The tier question "how many
# turns did conversation X contribute this hour?" needs per-(window, key)
# counts — at 10^12 turns that exact table is billions of rows per day,
# and the only reason to keep it is to find the heavy keys (the
# mega-conversations). The count-min
# sketch (Cormode & Muthukrishnan 2005) answers point-frequency queries
# from d*w counters per window: cell (j, h_j(x)) accumulates every
# occurrence of x; the estimate min_j cnt[j][h_j(x)] is NEVER an
# undercount and overshoots by at most eps*N (eps = e/w) with
# probability 1 - delta (delta = e^-d). With d=4, w=2048 a window costs
# at most 8192 tall rows no matter how many distinct keys it saw.
#
# Hashes are the public universal family of shared_hash.perm_params —
# h_j(x) = ((a_j * (h60(x) mod P31) + b_j) mod P31) mod w with
# seeded (a_j, b_j) literals inlined on both engines — so the sketch is
# integer-exact and the DuckDB oracle replays it bit-for-bit. Merge and
# cascade are plain groupBy-SUM over (window, row, cell): associative,
# exact, map-side partial-agged. The d-way per-input fan-out happens
# map-side and collapses to <= d*w rows per window inside the partial
# agg, so the shuffle carries sketch-sized data, not d x raw.
#
# Serving is probe-shaped: candidate keys' (row, cell) coordinates are
# PRECOMPUTED driver-side (shared_hash.py_h60 — same md5, ~zero cost for
# a bounded watchlist) and the plan filters the stored tier on those
# constant cells, then takes min per (window, key) — a broadcast
# semi-probe, never a raw-table groupBy. A cell with no stored row means
# count 0, so a key seen in fewer than d cells estimates 0 via the
# count(*)-complete guard.

CMS_D = 4  # sketch rows -> overestimate prob per query <= e^-4 ~ 1.8 %
CMS_W = 2048  # cells per row -> overestimate <= e/2048 * N ~ 0.13 % of N
CMS_SEED = 91  # perm_params seed for the (a_j, b_j) literals


def cms_params(d: int = CMS_D, seed: int = CMS_SEED):
    """Seeded universal-hash literals shared by build, probe and oracle."""
    from insar_spark.functions.shared_hash import perm_params

    return perm_params(d, seed=seed)


def cms_rollup(
    df: DataFrame, tier: str = "1m", item_col: str = "conv_id",
    ts_col: str = "ts", d: int = CMS_D, w: int = CMS_W,
    seed: int = CMS_SEED, group_col: str | None = None,
) -> DataFrame:
    """Tall count-min tier: one row per (group?, window, row j, cell)
    with the occurrence count. The d-way fan-out is a map-side inline
    array (no join, md5 computed ONCE per input row via the bound
    projection); groupBy (window, j, cell) sums with map-side partials,
    so the exchange carries at most d*w rows per window per partition."""
    from insar_spark.functions.shared_hash import P31, h60_col

    a, b = cms_params(d, seed)
    unit = TIERS[tier]
    group = [group_col] if group_col else []
    hashed = df.select(
        *group,
        F.date_trunc(unit, F.col(ts_col)).alias("window_start"),
        F.pmod(
            h60_col(F.col(item_col).cast("string")), F.lit(P31)
        ).alias("_x"),
    )
    cells = hashed.select(
        *group,
        "window_start",
        F.posexplode(
            F.array(
                *[
                    F.pmod(
                        F.pmod(
                            F.lit(a[j]) * F.col("_x") + F.lit(b[j]),
                            F.lit(P31),
                        ),
                        F.lit(w),
                    ).cast("int")
                    for j in range(d)
                ]
            )
        ).alias("row_j", "cell"),
    )
    return cells.groupBy(*group, "window_start", "row_j", "cell").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def cms_cascade(
    rolled: DataFrame, tier: str, group_col: str | None = None
) -> DataFrame:
    """Coarsen a count-min tier: groupBy-sum per (window, row, cell) —
    associative, exact, the same shape as lb_cascade."""
    unit = TIERS[tier]
    group = [group_col] if group_col else []
    return (
        rolled.groupBy(
            *group,
            F.date_trunc(unit, F.col("window_start")).alias("window_start"),
            "row_j",
            "cell",
        )
        .agg(F.sum("cnt").alias("cnt"))
    )


def cms_probe(
    spark, rolled: DataFrame, items: list[str], d: int = CMS_D,
    w: int = CMS_W, seed: int = CMS_SEED, item_alias: str = "item",
) -> DataFrame:
    """Point-frequency estimates for a candidate watchlist: est(x) =
    min over the d cells (0 if any cell is absent — count-min never
    undercounts, so an absent cell means the true count is 0). The
    candidates' (row, cell) coordinates are computed DRIVER-SIDE with
    the shared md5 twin and broadcast; the stored tier is filtered to
    those constant cells before the min — sketch-sized work end to end.
    """
    from insar_spark.functions.shared_hash import P31, py_h60

    a, b = cms_params(d, seed)
    coords = [
        (x, j, int((a[j] * (py_h60(x) % P31) + b[j]) % P31 % w))
        for x in items
        for j in range(d)
    ]
    cand = spark.createDataFrame(
        coords, schema=f"{item_alias} string, row_j int, cell int"
    )
    joined = rolled.join(
        F.broadcast(cand), on=["row_j", "cell"], how="inner"
    )
    return (
        joined.groupBy("window_start", item_alias)
        .agg(
            F.when(F.count(F.lit(1)) < d, F.lit(0).cast("long"))
            .otherwise(F.min("cnt"))
            .alias("est_count"),
            F.count(F.lit(1)).cast("int").alias("n_cells"),
        )
    )


def cms_probe_inline(
    spark, df: DataFrame, items: list[str], tier: str = "1h",
    item_col: str = "conv_id", ts_col: str = "ts", d: int = CMS_D,
    w: int = CMS_W, seed: int = CMS_SEED, item_alias: str = "item",
) -> DataFrame:
    """Probe a count-min sketch computed INLINE from raw events — the
    watchlist filter pushed below the counting aggregation.

    ``cms_rollup`` + ``cms_cascade`` + ``cms_probe`` is the STORE shape:
    build all d*w cells per window once, serve many probes later. When
    build and probe live in one plan, counting every cell only to keep
    the watchlist's d*len(items) cells is wasted shuffle: a cell's count
    is the number of raw rows hashing into it, so filtering rows to the
    candidate cells BEFORE the count (broadcast inner join on the
    driver-precomputed (row_j, cell) coordinates) produces the identical
    estimates while the aggregation input drops from d x raw rows to the
    rows that actually collide with a watchlist cell (measured 5.0 s ->
    1.8 s at sf1.0 for hot_convs_cms_1h; optimization guide §3.2's
    pre-filter-the-big-side pattern, with the exact candidate set
    standing in for the Bloom filter). The join also attaches the item,
    so when two watchlist items share a coordinate the cell's full count
    reaches both — exactly what the store-path probe's join does."""
    from insar_spark.functions.shared_hash import P31, h60_col, py_h60

    a, b = cms_params(d, seed)
    unit = TIERS[tier]
    coords = [
        (x, j, int((a[j] * (py_h60(x) % P31) + b[j]) % P31 % w))
        for x in items
        for j in range(d)
    ]
    cand = spark.createDataFrame(
        coords, schema=f"{item_alias} string, row_j int, cell int"
    )
    hashed = df.select(
        F.date_trunc(unit, F.col(ts_col)).alias("window_start"),
        F.pmod(
            h60_col(F.col(item_col).cast("string")), F.lit(P31)
        ).alias("_x"),
    )
    cells = hashed.select(
        "window_start",
        F.posexplode(
            F.array(
                *[
                    F.pmod(
                        F.pmod(
                            F.lit(a[j]) * F.col("_x") + F.lit(b[j]),
                            F.lit(P31),
                        ),
                        F.lit(w),
                    ).cast("int")
                    for j in range(d)
                ]
            )
        ).alias("row_j", "cell"),
    )
    per_cell = (
        cells.join(F.broadcast(cand), on=["row_j", "cell"], how="inner")
        .groupBy("window_start", item_alias, "row_j", "cell")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        per_cell.groupBy("window_start", item_alias)
        .agg(
            F.when(F.count(F.lit(1)) < d, F.lit(0).cast("long"))
            .otherwise(F.min("cnt"))
            .alias("est_count"),
            F.count(F.lit(1)).cast("int").alias("n_cells"),
        )
    )
