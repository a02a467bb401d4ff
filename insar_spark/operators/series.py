"""Ordered per-series window operators — the engine's heart (SURVEY.md §2.5).

Every operator here is a pure DataFrame transformation over a "long" series
table keyed by ``conv_id`` and totally ordered by ``(ts, turn_idx)``. They are
the Spark-native re-expression of the reference's dense-stack axis-0 NumPy
operations; Catalyst turns them into a single window exchange per
partition-key, so consecutive operators over the same key reuse one shuffle.

Reference semantics implemented (file:line cites into /root/reference):

* W1 turn deltas          <- np.diff over dates    insar/timeseries.py:536-537
* W2 cumulative integrate <- cumsum of v*dt        insar/ts_utils.py:166-187,
                                                   insar/ts_numba.py:84-106
* W3 zero-prepended first row                      insar/timeseries.py:540-543
* W4 reference alignment  <- subtract ref value    insar/prepare.py:381-386
* W8 forward-fill reindex                          insar/scripts/create_east_up.py:293-295
* W9 k-lag differencing                            insar/scripts/create_east_up.py:628-647
* A12 centered rolling mean (time-range window)    insar/scripts/create_east_up.py:293-297
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

KEY = "conv_id"
ORDER = ("ts", "turn_idx")


def series_window(key: str = KEY, order: tuple[str, ...] = ORDER) -> WindowSpec:
    """The canonical per-series window: partition by key, stable total order.

    ``turn_idx`` is the tie-breaker — the per-turn text-equality invariant
    requires a *stable* turn ordering even when timestamps collide.
    """
    return Window.partitionBy(key).orderBy(*[F.col(c) for c in order])


def ord_key(ts: str = "ts", turn_idx: str = "turn_idx") -> Column:
    """A single BIGINT totally ordering turns: epoch-millis * 2^20 + turn_idx.

    Used where a composite ordering key is awkward (min_by/arg_min in both
    Spark and the DuckDB oracle: `epoch_ms(ts)*1048576 + turn_idx`).
    Millis (not micros) keeps the product inside int64 through year 2200+;
    turn_idx is the designated tie-breaker below the millisecond, per the
    stable-turn-ordering invariant (FIXTURES.md §1).

    turn_idx >= 2^20 would bleed into the next millisecond and silently
    corrupt first/last ordering, so the packing fails loudly instead
    (raise_error) — a mega-conversation past ~10^6 turns must route
    through the composite (ts, turn_idx) ordering, not the packed key.
    """
    guarded_idx = F.when(
        F.col(turn_idx) < F.lit(1 << 20), F.col(turn_idx)
    ).otherwise(
        F.raise_error(
            F.format_string(
                "ord_key overflow: turn_idx %s >= 2^20 no longer fits below "
                "the millisecond; use composite (ts, turn_idx) ordering",
                F.col(turn_idx).cast("string"),
            )
        ).cast("long")
    )
    return (
        F.floor(F.unix_micros(F.col(ts)) / F.lit(1000)) * F.lit(1 << 20)
        + guarded_idx
    ).alias("ord")


def with_text_len(df: DataFrame) -> DataFrame:
    """C12: the text-length metric — the transcript analog of phase value."""
    return df.withColumn("text_len", F.length("text").cast("double"))


def turn_deltas(df: DataFrame, value_col: str = "text_len") -> DataFrame:
    """W1: adjacent-turn deltas of ``value_col`` and of time (seconds).

    The bandwidth-1 interferogram network: each row becomes the "pair"
    (prev_turn, this_turn) with delta value and day-gap, the exact analog of
    np.diff over the date axis (insar/timeseries.py:536-537). Generated with
    ``lag`` — no self-join, no extra shuffle beyond the series window.
    """
    w = series_window()
    return (
        df.withColumn("prev_v", F.lag(value_col).over(w))
        .withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn("delta_v", F.col(value_col) - F.col("prev_v"))
        .withColumn(
            "dt_sec",
            (F.unix_micros("ts") - F.unix_micros("prev_ts")) / F.lit(1_000_000.0),
        )
        .drop("prev_v", "prev_ts")
    )


def cumulative_reconstruct(
    df_deltas: DataFrame, delta_col: str = "delta_v", out_col: str = "recon_v"
) -> DataFrame:
    """W2+W3: rebuild the cumulative series from adjacent deltas.

    This *is* SBAS inversion for a bandwidth-1 pair network: A is bidiagonal
    and pinv(A) reduces to a running sum, with an implicit zero first row
    (integrate_velocities, insar/ts_utils.py:166-187: "Add 0 as first entry").
    The first turn's delta is NULL -> coalesced to 0, so recon_v starts at 0.
    """
    w = series_window().rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df_deltas.withColumn(
        out_col, F.sum(F.coalesce(F.col(delta_col), F.lit(0.0))).over(w)
    )


def reference_align(df: DataFrame, value_col: str = "text_len") -> DataFrame:
    """W4: subtract each series' reference (first) value.

    The reference-point shift of insar/prepare.py:381-386 (`_shift`): every
    layer minus the value at the reference — here the series head, selected
    by the stable (ts, turn_idx) order.
    """
    w = series_window().rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn(
        f"{value_col}_aligned", F.col(value_col) - F.first(value_col).over(w)
    )


def ffill(df: DataFrame, value_col: str) -> DataFrame:
    """W8: forward-fill nulls within a series (reindex().ffill() analog)."""
    w = series_window().rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn(
        f"{value_col}_ffill", F.last(value_col, ignorenulls=True).over(w)
    )


def diff_k(df: DataFrame, value_col: str, k: int = 1) -> DataFrame:
    """W9: difference against the value k turns earlier (src2 - src1)."""
    w = series_window()
    return df.withColumn(
        f"{value_col}_diff{k}", F.col(value_col) - F.lag(value_col, k).over(w)
    )


def rolling_mean_time(
    df: DataFrame, value_col: str, half_window_sec: int
) -> DataFrame:
    """A12: centered rolling mean over a ±time range (seconds).

    The GPS 720-sample centered rolling mean
    (insar/scripts/create_east_up.py:293-297), expressed as a RANGE window
    over epoch-seconds so irregular sampling is handled natively.
    """
    w = (
        Window.partitionBy(KEY)
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-half_window_sec * 1_000_000, half_window_sec * 1_000_000)
    )
    return df.withColumn(f"{value_col}_roll", F.avg(value_col).over(w))


def rolling_mean_rows(df: DataFrame, value_col: str, half_width: int) -> DataFrame:
    """W10: centered rolling mean over ±half_width rows (window_stack analog)."""
    w = series_window().rowsBetween(-half_width, half_width)
    return df.withColumn(f"{value_col}_rollrows", F.avg(value_col).over(w))


# Series-length routing threshold for ewma_int/holt_int. The JVM
# concat-fold is quadratic: Catalyst's array concat copies the accumulator
# every step, so a series of n turns does ~n^2/2 element copies in ONE
# task (the recursion is sequential — no salt can split it; at the
# 10^5-turn composed-skew scale that is ~5e9 copies, hours at 10^6). The
# Arrow int64 scan replays the IDENTICAL integer recursion in linear time
# (Python ints; >> is floor division for both signs, exactly like Spark's
# shiftright), so outputs are bit-equal by construction — pytest-pinned in
# test_series_ops. Default 0 = every series takes the linear Arrow scan:
# measured FASTER than the fold even at bench scale (1.16 s vs 1.20 s at
# sf1.0 — the interpreted per-element lambda costs as much as the Arrow
# crossing) and it keeps one code path hot. A positive threshold routes
# short series through the zero-Python fold instead (the two branches
# reuse one collect exchange), for callers that must keep Python out of
# the plan.
EWMA_FOLD_MAX_TURNS = 0


def _scan_pts(df: DataFrame, value_col: str) -> DataFrame:
    """(conv_id, pts) with pts = array<struct<o, turn_idx, v100>> sorted by
    the packed total order — the shared collect stage of ewma_int/holt_int.
    v100 = round(v*100) is computed JVM-SIDE so both the fold and the
    Arrow route consume the same integers (no numpy-rounding divergence)."""
    pts = F.array_sort(
        F.collect_list(
            F.struct(
                ord_key().alias("o"),
                F.col("turn_idx").alias("turn_idx"),
                F.round(F.col(value_col) * 100).cast("long").alias("v100"),
            )
        )
    )
    return df.groupBy(KEY).agg(pts.alias("pts"))


def ewma_int(
    df: DataFrame, value_col: str = "v", shift: int = 2,
    fold_max: int = EWMA_FOLD_MAX_TURNS,
) -> DataFrame:
    """EWMA smoother with alpha = 1/2**shift, in INTEGER arithmetic at
    2-decimal resolution so the recursion is bit-reproducible across
    engines:

        s_0 = v100_0 ;  s_i = (v100_i + (2**shift - 1) * s_{i-1}) >> shift

    with v100 = round(v*100) as BIGINT and >> the arithmetic shift (floor
    division by 2**shift, exact for both signs) — the same integer-exact
    discipline as the lb rank sketch and the M4/LTTB tie-breaks, so the
    DuckDB oracle replays the scan bit-for-bit via prefix-slice
    list_reduce. The reference smooths solved series with lowess
    (insar/timeseries.py:934-937); EWMA is its O(1)-state streaming
    complement (one shifted add per turn — what a live per-turn smoother
    keeps as state).

    Plan: one shuffle collecting each series, then a LINEAR Arrow int64
    scan of the collected arrays (default ``fold_max=0``). The previous
    pure-JVM aggregate fold survives behind ``fold_max > 0`` (series up
    to the threshold run it, longer ones route to the Arrow scan, both
    branches reusing the one collect exchange), but its array-concat
    accumulator is O(n²) copies inside one task — the one scale-killer
    plan shape left after round 5 — and the interpreted per-element
    lambda measured no faster than the Arrow crossing even at bench
    scale (see EWMA_FOLD_MAX_TURNS). Both paths emit the integer state s
    and share one final s/100.0 projection, so outputs are bit-identical
    (pytest-pinned). The recursion's floor shift is NOT associative, so
    neither route can use the salted two-phase pattern; the linear scan
    is the mega-series escape."""
    mul = F.lit((1 << shift) - 1)
    collected = _scan_pts(df, value_col)

    def step(acc: Column, x: Column) -> Column:
        s_new = F.when(F.size(acc["ss"]) == 0, x["v100"]).otherwise(
            F.shiftright(x["v100"] + mul * acc["s"], shift)
        )
        return F.struct(
            F.concat(acc["ss"], F.array(s_new)).alias("ss"), s_new.alias("s")
        )

    fold = F.aggregate(
        F.col("pts"),
        F.struct(
            F.expr("cast(array() as array<bigint>)").alias("ss"),
            F.lit(0).cast("long").alias("s"),
        ),
        step,
        lambda acc: acc["ss"],
    )

    mul_i, shift_i = (1 << shift) - 1, shift

    def scan(batches):
        import pandas as pd

        for pdf in batches:
            keys, idxs, states = [], [], []
            for key, pt_idx, pt_v in zip(
                pdf[KEY], pdf["_idx"], pdf["_v100"]
            ):
                s = None
                for i, v in zip(pt_idx, pt_v):
                    v = int(v)
                    s = v if s is None else (v + mul_i * s) >> shift_i
                    keys.append(key)
                    idxs.append(int(i))
                    states.append(s)
            yield pd.DataFrame(
                {KEY: keys, "turn_idx": idxs, "s": states}
            )

    def arrow_rows(src: DataFrame) -> DataFrame:
        return src.select(
            KEY,
            F.col("pts.turn_idx").alias("_idx"),
            F.col("pts.v100").alias("_v100"),
        ).mapInPandas(scan, schema=f"{KEY} string, turn_idx int, s long")

    if fold_max <= 0:
        routed = arrow_rows(collected)
    else:
        short = (
            collected.filter(F.size("pts") <= fold_max)
            .withColumn("ss", fold)
            .select(KEY, F.explode(F.arrays_zip("pts", "ss")).alias("z"))
            .select(
                KEY,
                F.col("z.pts.turn_idx").alias("turn_idx"),
                F.col("z.ss").alias("s"),
            )
        )
        routed = short.unionByName(
            arrow_rows(collected.filter(F.size("pts") > fold_max))
        )
    return routed.select(
        KEY, "turn_idx", (F.col("s") / F.lit(100.0)).alias("v_ewma")
    )


def holt_int(
    df: DataFrame, value_col: str = "v", shift: int = 2,
    fold_max: int = EWMA_FOLD_MAX_TURNS,
) -> DataFrame:
    """Holt double-exponential smoother (level + trend) with
    alpha = gamma = 1/2**shift, in the same integer-exact discipline as
    :func:`ewma_int` — EWMA tracks a level but lags any sustained drift;
    Holt's second recursion estimates the drift and folds it back in,
    and ``level + trend`` is the classic one-step-ahead FORECAST:

        l_0 = v100_0 ;  b_0 = 0
        l_i = (v100_i + (2**s - 1)*(l_{i-1} + b_{i-1})) >> s
        b_i = ((l_i - l_{i-1}) + (2**s - 1)*b_{i-1})    >> s

    with v100 = round(v*100) as BIGINT. The trend b is genuinely SIGNED,
    so the recursion leans on arithmetic shiftright being floor division
    for negatives in BOTH engines (verified: Spark shiftright and DuckDB
    ``>>`` agree on negative BIGINTs — and Python's ``>>`` is the same
    floor shift, which is what makes the Arrow route below bit-equal),
    and the oracle replays the exact recursion as a thin recursive CTE
    (one join per step, no prefix slices). Same plan and routing as
    ewma_int: one shuffle collecting each series, then the linear Arrow
    int64 scan (default ``fold_max=0``), with the O(n²)-copy JVM fold
    available behind ``fold_max > 0`` (both branches reuse the one
    collect exchange and share the final /100.0 projections —
    bit-identical outputs, pytest-pinned). The floor shift is not
    associative, so neither route can use the salted two-phase pattern.
    """
    mul = F.lit((1 << shift) - 1)
    collected = _scan_pts(df, value_col)

    def step(acc: Column, x: Column) -> Column:
        first = F.size(acc["ls"]) == 0
        l_new = F.when(first, x["v100"]).otherwise(
            F.shiftright(x["v100"] + mul * (acc["l"] + acc["b"]), shift)
        )
        b_new = F.when(first, F.lit(0).cast("long")).otherwise(
            F.shiftright((l_new - acc["l"]) + mul * acc["b"], shift)
        )
        return F.struct(
            F.concat(acc["ls"], F.array(l_new)).alias("ls"),
            F.concat(acc["bs"], F.array(b_new)).alias("bs"),
            l_new.alias("l"),
            b_new.alias("b"),
        )

    fold = F.aggregate(
        F.col("pts"),
        F.struct(
            F.expr("cast(array() as array<bigint>)").alias("ls"),
            F.expr("cast(array() as array<bigint>)").alias("bs"),
            F.lit(0).cast("long").alias("l"),
            F.lit(0).cast("long").alias("b"),
        ),
        step,
        lambda acc: F.arrays_zip(acc["ls"], acc["bs"]),
    )
    short = (
        collected.filter(F.size("pts") <= fold_max)
        .withColumn("lb", fold)
        .select(KEY, F.explode(F.arrays_zip("pts", "lb")).alias("z"))
        .select(
            KEY,
            F.col("z.pts.turn_idx").alias("turn_idx"),
            F.col("z.lb.ls").alias("l"),
            F.col("z.lb.bs").alias("b"),
        )
    )

    mul_i, shift_i = (1 << shift) - 1, shift

    def scan(batches):
        import pandas as pd

        for pdf in batches:
            keys, idxs, ls, bs = [], [], [], []
            for key, pt_idx, pt_v in zip(
                pdf[KEY], pdf["_idx"], pdf["_v100"]
            ):
                l = b = None
                for i, v in zip(pt_idx, pt_v):
                    v = int(v)
                    if l is None:
                        l, b = v, 0
                    else:
                        l_new = (v + mul_i * (l + b)) >> shift_i
                        b = ((l_new - l) + mul_i * b) >> shift_i
                        l = l_new
                    keys.append(key)
                    idxs.append(int(i))
                    ls.append(l)
                    bs.append(b)
            yield pd.DataFrame(
                {KEY: keys, "turn_idx": idxs, "l": ls, "b": bs}
            )

    def arrow_rows(src: DataFrame) -> DataFrame:
        return src.select(
            KEY,
            F.col("pts.turn_idx").alias("_idx"),
            F.col("pts.v100").alias("_v100"),
        ).mapInPandas(
            scan, schema=f"{KEY} string, turn_idx int, l long, b long"
        )

    if fold_max <= 0:
        routed = arrow_rows(collected)
    else:
        routed = short.unionByName(
            arrow_rows(collected.filter(F.size("pts") > fold_max))
        )
    return routed.select(
        KEY,
        "turn_idx",
        (F.col("l") / F.lit(100.0)).alias("v_level"),
        (F.col("b") / F.lit(100.0)).alias("v_trend"),
        ((F.col("l") + F.col("b")) / F.lit(100.0)).alias("v_forecast"),
    )


def sessionize(df: DataFrame, value_col: str = "text_len", gap_sec: int = 1800) -> DataFrame:
    """Batch sessionization: a new session starts when the inter-turn gap
    exceeds ``gap_sec`` (the batch analog of session_window; lag + running
    sum of session-start indicators — one window exchange)."""
    w = series_window()
    w_run = series_window().rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap = (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)) / F.lit(1e6)
    is_start = F.when(gap.isNull() | (gap > gap_sec), 1).otherwise(0)
    return df.withColumn("session_id", F.sum(is_start).over(w_run) - F.lit(1))


def topk_per_series(
    df: DataFrame, value_col: str, k: int = 3, ties_by: str = "turn_idx"
) -> DataFrame:
    """Top-k rows per series by value (row_number window + filter)."""
    w = Window.partitionBy(KEY).orderBy(F.desc(value_col), F.col(ties_by))
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .withColumnRenamed("_rk", "rank")
    )


def adjacent_pairs(df: DataFrame, value_col: str = "text_len", k: int = 1) -> DataFrame:
    """J1 (nearest-neighbor form): emit (early, late) turn pairs k apart.

    Pair formation via ``lead`` — the hot path replaces the reference's
    all-combinations self-join (insar/sbas/synthetic.py:89-107) with a
    shuffle-free window for the k-nearest-neighbor network (bandwidth filter
    F4 built in: only pairs exactly k apart in turn order are produced).
    """
    w = series_window()
    return (
        df.select(
            KEY,
            F.col("ts").alias("early_ts"),
            F.col("turn_idx").alias("early_idx"),
            F.col(value_col).alias("early_v"),
            F.lead("ts", k).over(w).alias("late_ts"),
            F.lead("turn_idx", k).over(w).alias("late_idx"),
            F.lead(value_col, k).over(w).alias("late_v"),
        )
        .filter(F.col("late_ts").isNotNull())
        .withColumn("delta_v", F.col("late_v") - F.col("early_v"))
    )


def all_pairs(df: DataFrame, value_col: str = "text_len", max_gap_turns: int | None = None) -> DataFrame:
    """J1 (all-combinations form): the full SBAS pair network via self-join.

    For N turns this is O(N^2) — only used for small windows / diagnostics,
    matching itertools.combinations(dates, 2) at insar/sbas/synthetic.py:89-107.
    ``max_gap_turns`` is the temporal-baseline cap (F3) pushed into the join
    condition so Catalyst prunes before the join output materializes.
    """
    a = df.select(
        KEY,
        F.col("turn_idx").alias("early_idx"),
        F.col("ts").alias("early_ts"),
        F.col(value_col).alias("early_v"),
    )
    b = df.select(
        F.col(KEY).alias("conv_id_b"),
        F.col("turn_idx").alias("late_idx"),
        F.col("ts").alias("late_ts"),
        F.col(value_col).alias("late_v"),
    )
    cond = (a[KEY] == b["conv_id_b"]) & (a["early_idx"] < b["late_idx"])
    if max_gap_turns is not None:
        cond = cond & (b["late_idx"] - a["early_idx"] <= max_gap_turns)
    return (
        a.join(b, cond)
        .drop("conv_id_b")
        .withColumn("delta_v", F.col("late_v") - F.col("early_v"))
    )
