"""Structured-Streaming ingestion of the 1m tier.

The reference is batch-only, but its incremental semantics (idempotent
re-runs, resume from offsets — insar/prepare.py:228, :942) map directly to
Structured Streaming: tumbling ``window(ts, '1 minute')`` is the 1m tier,
the watermark bounds out-of-order turns, and ``foreachBatch`` writes each
micro-batch through the same TierStore commit path as batch ingest —
exactly-once at the partition level via the snapshot manifest.

At cluster scale the source is Kafka/Iceberg-CDC; here the file source
replays parquet drops, which exercises identical operator semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from insar_spark.families import FAMILIES
from insar_spark.sources.catalog import footer_range, latest_epoch
from insar_spark.synth import TRANSCRIPT_SCHEMA


def read_transcript_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over parquet drops; every available file goes
    into ONE micro-batch.

    The files of one drop carry no time ordering among themselves, so
    slicing a drop into several micro-batches (``maxFilesPerTrigger``)
    would let the first slice advance the event-time watermark past rows
    still waiting in a later slice, and the aggregation would then drop
    them as late (real data loss, caught by
    test_stream_job_two_cycles_with_mid_arrival)."""
    return spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(path)


def streaming_rollup_1m(
    turns: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Watermarked tumbling-window rollup, append-mode compatible.

    Same decomposable stats as the batch tier (operators.rollup) so a
    streaming-built 1m tier cascades identically to a batch-built one:
    first/last are min_by/max_by over the (ts, turn_idx) ord key, a
    struct-free bigint (supported inside windowed aggs in Spark 4), and
    the key itself is not emitted, since cascades above 1m pick first/last
    by window order.
    """
    # same guarded packing as the batch path (series.ord_key): turn_idx >=
    # 2^20 must raise identically here, not silently corrupt first/last
    from insar_spark.operators.series import ord_key

    o = ord_key()
    return (
        turns.select(
            "conv_id",
            "ts",
            F.length("text").cast("double").alias("text_len"),
            "tool",
            o,
        )
        .withWatermark("ts", watermark)
        .groupBy("conv_id", F.window("ts", "1 minute").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.count("tool").alias("n_tool_calls"),
            F.sum("text_len").alias("sum_text_len"),
            F.min("text_len").alias("min_text_len"),
            F.max("text_len").alias("max_text_len"),
            F.min_by("text_len", "ord").alias("first_text_len"),
            F.max_by("text_len", "ord").alias("last_text_len"),
        )
        .select(
            "conv_id",
            F.col("w.start").alias("window_start"),
            "n_turns",
            "n_tool_calls",
            "sum_text_len",
            "min_text_len",
            "max_text_len",
            "first_text_len",
            "last_text_len",
        )
    )


def stream_to_tierstore(
    spark: SparkSession,
    src_path: str,
    store,
    checkpoint_dir: str,
    watermark: str = "10 minutes",
    tier: str = "1m",
    rollup_builder=None,
):
    """Continuous 1m-tier ingestion committed through TierStore.

    ``rollup_builder`` (default :func:`streaming_rollup_1m`) maps the raw
    stream to the tier rows — pass :func:`streaming_hist_1m` (or any
    builder producing (conv_id, window_start, ...) rows) to ingest a
    sketch tier through the identical epoch-log commit machinery.

    Each micro-batch takes every file available (a whole drop): see
    :func:`read_transcript_stream` for why a bounded trigger over an
    unordered drop loses beyond-watermark rows.

    ``foreachBatch`` gives exactly-once at the partition level: each
    micro-batch's rollup goes through the same snapshot-manifest commit as
    batch ingest, so replays skip already-committed day-partitions and a
    crash between write and commit is healed by the next batch (the
    reference's check_dset/start_layer resume, insar/prepare.py:228,942).
    Update-mode emits refined windows as late turns arrive within the
    watermark; the TierStore day-commit granularity means a day is sealed
    once its last window has been finalized.
    """
    builder = rollup_builder if rollup_builder is not None else streaming_rollup_1m
    stream = builder(read_transcript_stream(spark, src_path), watermark)

    def sink(batch_df, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        store.write_tier_log(
            batch_df, tier, epoch=epoch_id,
            run_params={"source": "stream"},
        )

    return (
        stream.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
        .start()
    )


def seal_and_compact(
    spark: SparkSession,
    store,
    log_tier: str = "1m_log",
    sealed_tier: str = "1m",
    watermark: str = "10 minutes",
    truncate_log: bool = True,
    log_keys: tuple[str, ...] = ("conv_id", "window_start"),
) -> dict:
    """Watermark-sealed day compaction: move finalized days from the
    streaming epoch log into committed TierStore day partitions.

    This completes the append-mode story (the batch analog of the
    reference's check_dset overwrite semantics, insar/prepare.py:228-242):
    the epoch log absorbs update-mode refinements while a day is still
    inside the watermark; once the max observed window time passes
    day_end + watermark no refinement can arrive, so the day's
    latest-epoch-wins view is final and is committed through the ordinary
    resume-mode ``write_tier`` path (skip-if-committed ⇒ the compactor is
    idempotent and crash-restartable). ``truncate_log`` then drops the
    sealed days from the log (manifest-first, vacuumed after commit),
    together with any log day below the sealed tier's expiry floor.

    The max observed window comes from the Parquet footers of the latest
    log day's files (on the driver; a log row's day is its window's day);
    only files without statistics fall back to one ``max`` job over that
    day's raw log. The days due are decided from the manifests
    (``pending_days`` of the log days before the horizon), and only their
    log files are read; with no day due the seal builds no plan, so it
    launches no Spark job (the truncation still runs).

    Returns {"seal_before": day, "written_days": [...], "truncated": [...]}.
    """
    import datetime as dt

    # parse "N minutes"/"N hours"/"N days" (the Spark watermark grammar
    # subset this engine uses)
    qty, unit = watermark.split()
    delta = dt.timedelta(**{unit.rstrip("s") + "s": float(qty)})

    nothing = {"seal_before": None, "written_days": [], "truncated": []}
    log_days = store.committed_days(log_tier)
    if not log_days:  # nothing committed to the log yet
        return nothing
    # a log row's day is its window's day: the latest day holds the max
    last = [max(log_days)]
    rng = footer_range(store.day_files(log_tier, last), "window_start")
    if rng is not None:
        mx = rng[2]
    else:
        # latest-epoch-wins only drops superseded rows of the same window,
        # so the raw log has the same max window without the dedup shuffle
        raw = store.read_tier(spark, log_tier, days=last)
        mx = raw.agg(F.max("window_start").alias("m")).first()["m"]
    if mx is None:
        return nothing
    seal_before = (mx - delta).date().isoformat()

    written = []
    due = store.pending_days(sealed_tier, [d for d in log_days if d < seal_before])
    if due:
        final = store.read_tier_log(spark, log_tier, keys=log_keys, days=due)
        written = store.write_tier(
            final.drop("day"),
            sealed_tier,
            run_params={"source": "seal_compact", "log_tier": log_tier},
            seal_before=seal_before,
        )["written_days"]
    truncated = []
    if truncate_log:
        # log days below the sealed tier's expiry floor are never sealed
        # (write_tier skips them): truncate them with the sealed days
        sealed = store.manifest(sealed_tier)
        floor = sealed.get("expired_before", "")
        sealed_days = sorted(
            d
            for d in log_days
            if d < floor or (d < seal_before and d in sealed["partitions"])
        )
        truncated = store.drop_partitions(log_tier, sealed_days, op="seal-truncate")
    return {
        "seal_before": seal_before,
        "written_days": written,
        "truncated": truncated,
    }


# Live-layer rows up to which sealed_union_view runs latest-epoch-wins and
# the cascade in one task instead of behind one exchange. The cost is the
# rows' sort, so the rule counts rows, not bytes (a stored hll row is ~1 B,
# a stats row ~35 B). Measured with tools/live_split.py on 4 cores, median
# wall ms one task / exchange: an unfiltered stats read 322/395 at 56k live
# rows, 431/392 at 112k, 2589/1054 at 881k; an unfiltered hll read breaks
# even between 439k and 878k rows; a conv_id-filtered stats read is within
# 40 ms either way from 28k to 1.76M rows. One task uses less CPU
# throughout; past the cutoff the exchange wins on wall time.
ONE_TASK_ROWS = 100_000


def sealed_union_view(
    spark: SparkSession,
    store,
    log_tier: str = "1m_log",
    sealed_tier: str = "1m",
    log_keys: tuple[str, ...] = ("conv_id", "window_start"),
    exclude=(),
) -> DataFrame:
    """The continuous-aggregate read path: committed sealed days plus the
    latest-epoch-wins view of the still-open log days.

    Each layer reads only the days it alone contributes, decided from the
    manifests: sealed = the sealed tier's days minus ``exclude`` (the days
    a coarser tier already covers), log = the log's days minus the sealed
    tier's days and ``exclude`` (sealed days not yet truncated from the
    log are never read twice). Sealed rows join the one latest-epoch-wins
    with the sentinel ``_epoch = -1``; the day sets are disjoint, so it
    never competes with a real epoch.

    One-task rule: when the two layers hold at most ``ONE_TASK_ROWS``
    rows (``TierStore.tier_rows``: manifest counts, footers for log days),
    the union is coalesced to one partition, which satisfies the
    latest-epoch-wins window and any aggregate above it (a cascade) with
    no exchange. Otherwise it is repartitioned once on the log keys minus
    ``window_start`` (every family's log keys hold another column), the one
    exchange both operators use.
    Raises ``ValueError`` when neither layer has a day to contribute."""
    exclude = set(exclude)
    sealed_days = store.committed_days(sealed_tier) - exclude
    log_days = store.committed_days(log_tier) - exclude - sealed_days
    layers = []
    if sealed_days:
        layers.append(
            store.read_tier(spark, sealed_tier, days=sealed_days)
            .withColumn("_epoch", F.lit(-1))
        )
    if log_days:
        layers.append(store.read_tier(spark, log_tier, days=log_days))
    if not layers:
        raise ValueError(
            f"neither '{sealed_tier}' nor '{log_tier}' has a committed day "
            f"outside the {len(exclude)} excluded"
        )
    live = layers[0] if len(layers) == 1 else layers[0].unionByName(layers[1])
    rows = store.tier_rows(sealed_tier, sealed_days) + store.tier_rows(
        log_tier, log_days
    )
    if rows <= ONE_TASK_ROWS:
        live = live.coalesce(1)
    else:
        live = live.repartition(*[k for k in log_keys if k != "window_start"])
    return latest_epoch(live, log_keys).drop("day")


def streaming_hist_1m(
    turns: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Watermarked 1m HISTOGRAM tier over a transcript stream.

    The sketch's decomposability is exactly what streaming needs: each of
    the 64 bins is an independent conditional count, so the windowed
    aggregation is incremental (partial per micro-batch, merged by the
    state store) with no custom stateful operator. A streaming-built
    sketch tier merges/cascades identically to a batch-built one
    (stream == batch test in tests/test_streaming_skew.py), so the global
    dashboard percentile can be served continuously from the live tier.
    """
    from insar_spark.operators.sketch import (
        DEFAULT_BINS,
        DEFAULT_HI,
        DEFAULT_LO,
        bin_index,
    )

    b = bin_index("text_len")
    step = (DEFAULT_HI - DEFAULT_LO) / DEFAULT_BINS
    raw = F.floor((F.col("text_len") - F.lit(DEFAULT_LO)) / F.lit(step))
    aggs = [
        F.count(F.when(F.col("_b") == i, 1)).alias(f"_c{i}")
        for i in range(DEFAULT_BINS)
    ] + [
        # clamp counters: merge like bins, keep saturation detectable
        # from the streamed tier exactly as from the batch-built one
        F.count(F.when(F.col("_raw") < 0, 1)).alias("_clo"),
        F.count(F.when(F.col("_raw") >= DEFAULT_BINS, 1)).alias("_chi"),
    ]
    return (
        turns.select(
            "conv_id",
            "ts",
            F.length("text").cast("double").alias("text_len"),
        )
        .withColumn("_b", b)
        .withColumn("_raw", raw)
        .withWatermark("ts", watermark)
        .groupBy("conv_id", F.window("ts", "1 minute").alias("w"))
        .agg(*aggs)
        .select(
            "conv_id",
            F.col("w.start").alias("window_start"),
            F.array(
                *[F.col(f"_c{i}") for i in range(DEFAULT_BINS)]
            ).alias("hist"),
            F.col("_clo").alias("n_clamped_lo"),
            F.col("_chi").alias("n_clamped_hi"),
        )
    )


def streaming_m4_1m(
    turns: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Watermarked 1m M4 downsample tier: the first/min/max/last REAL
    points per (series, window). All four components are min_by/max_by
    over packed bigint keys — plain incremental SQL aggregates, so no
    custom state — and every component composes across buckets, so the
    streamed tier cascades through ``downsample.m4_cascade`` identically
    to a batch-built one (stream == batch test)."""
    from insar_spark.operators.downsample import _PACK

    src = turns.select(
        "conv_id",
        "ts",
        "turn_idx",
        F.length("text").cast("double").alias("text_len"),
    )
    v100 = F.round(F.col("text_len") * 100).cast("bigint")
    return (
        src.withColumn("_kmin", v100 * _PACK + F.col("turn_idx"))
        .withColumn(
            "_kmax", v100 * _PACK + (F.lit(_PACK - 1) - F.col("turn_idx"))
        )
        .withWatermark("ts", watermark)
        .groupBy("conv_id", F.window("ts", "1 minute").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.min_by("text_len", "turn_idx").alias("v_first"),
            F.min_by("ts", "turn_idx").alias("ts_first"),
            F.min("text_len").alias("v_min"),
            F.min_by("ts", "_kmin").alias("ts_min"),
            F.max("text_len").alias("v_max"),
            F.max_by("ts", "_kmax").alias("ts_max"),
            F.max_by("text_len", "turn_idx").alias("v_last"),
            F.max_by("ts", "turn_idx").alias("ts_last"),
        )
        .select(
            "conv_id",
            F.col("w.start").alias("window_start"),
            "n_points",
            "v_first",
            "ts_first",
            "v_min",
            "ts_min",
            "v_max",
            "ts_max",
            "v_last",
            "ts_last",
        )
    )


def realtime_1h_view(spark: SparkSession, store, family: str) -> DataFrame:
    """Real-time continuous aggregate ACROSS retention tiers — the
    TimescaleDB real-time-aggregate pattern, generic over the tier
    families of ``insar_spark.families``: serve "the last 24 h right now"
    by stitching three layers of ``family``, coarsest-first:

      1. committed day partitions of its second tier (1h; M4: 1d),
      2. the sealed 1m layer cascaded on the fly for days the coarse
         cascade hasn't sealed yet,
      3. the live epoch log (update-mode partials still inside the
         watermark), latest-epoch-wins, also cascaded.

    No double counting, decided from the manifests before anything is
    read: each finer layer opens only the day files of days no coarser
    committed tier covers (day is the seal granularity, so day-level
    exclusion is exact; for M4's daily tier window_start IS the day).
    Layers 2-3 are one :func:`sealed_union_view` (sealed rows enter its
    latest-epoch-wins with the sentinel epoch -1): when they hold at most
    ``ONE_TASK_ROWS`` rows they run latest-epoch-wins and the cascade in
    one partition with no exchange, else behind one shared exchange; a
    per-conversation filtered read of such a store is one Spark job.
    Legal mid-window
    for every family whose merge is associative over partials (sum for
    plain/hist/lb/cms, max for hll, composing components for M4) — the
    result is bit-equal to a batch rollup over everything that has arrived
    (stream==batch tested per family). At 100 TB the expensive layer (3)
    is bounded by the watermark horizon; layers 1–2 are stored-tier scans,
    never raw.

    The view is memoized per family in ``store.views`` (the plan only,
    nothing cached): it is rebuilt only when the session, the store root,
    or the live days or committed file list of one of the three tiers
    changed (``TierStore.live_key``, one manifest read per tier).
    Committed files are immutable and uniquely named, so every commit,
    seal or truncation changes the files; an expiry or drop of some days
    of a month file leaves the file live and changes the days, so the
    rebuilt plan filters them out. The row counts the plan was built from
    derive from those days and files; snapshot ids would not (a store
    recreated or restored at the same root repeats them over new
    files)."""
    fam = FAMILIES[family]
    fine_tier, coarse_tier = fam.tiers[:2]
    state = (spark, store.root) + tuple(
        store.live_key(t) for t in (coarse_tier, fine_tier, fam.log_tier)
    )
    hit = store.views.get(family)
    if hit is not None and hit[0] == state:
        return hit[1]
    view = _stitch_1h_view(spark, store, fam)
    store.views[family] = (state, view)
    return view


def _stitch_1h_view(spark: SparkSession, store, fam) -> DataFrame:
    """Build :func:`realtime_1h_view`'s three-layer stitch."""
    (fine_tier, _), (coarse_tier, window) = fam.chain[:2]
    coarse_days = store.committed_days(coarse_tier)
    try:
        fine = sealed_union_view(
            spark, store, log_tier=fam.log_tier, sealed_tier=fine_tier,
            log_keys=fam.log_keys, exclude=coarse_days,
        )
        live = fam.cascade(fine, window)
    except ValueError:  # no fine day outside the coarse tier
        live = None
    if not coarse_days:
        if live is None:
            raise ValueError(
                f"none of '{coarse_tier}'/'{fine_tier}'/'{fam.log_tier}' has data"
            )
        return live
    coarse = store.read_tier(spark, coarse_tier).drop("day")
    return coarse if live is None else coarse.unionByName(live)


def stats_realtime_1h_view(spark: SparkSession, store) -> DataFrame:
    """Real-time PLAIN-STATS serve — the flagship tier family through the
    same three-layer stitch the sketch families use: every stat in the
    stats tier is decomposable (sums/counts/min/max; first/last by ord
    within a 1m window and by window order above it, exact because
    latest-epoch-wins leaves one live row per 1m window), so
    ``operators.rollup.cascade`` merges sealed 1h days, sealed 1m days
    the 1h cascade hasn't covered, and the live epoch log into a view
    bit-equal to a batch 1h rollup over everything that has arrived."""
    return realtime_1h_view(spark, store, "stats")


def anomaly_realtime_1h(spark: SparkSession, store, k_sigma: int | None = None) -> DataFrame:
    """Hour-of-day anomaly flags over the REAL-TIME stats view — "is this
    hour anomalous for this conversation, including turns that arrived
    seconds ago". The flag math (operators.quality.hod_anomaly_flags) is
    an integer cross-multiplied k-sigma compare over per-window counts,
    and the counts come from the three-layer stitch, so streaming
    ingestion and batch backfill produce identical alert decisions
    (stream == batch tested). This is the alerting loop a monitoring
    deployment actually runs: stored-tier-sized input, live edge bounded
    by the watermark horizon."""
    from insar_spark.operators.quality import K_SIGMA, hod_anomaly_flags

    if k_sigma is None:
        # reuse quality.K_SIGMA so a retuned default cannot silently split
        # the real-time and batch alert thresholds (stream == batch holds
        # for default-argument callers by construction)
        k_sigma = K_SIGMA
    view = stats_realtime_1h_view(spark, store).select("conv_id", "window_start", "n_turns")
    return hod_anomaly_flags(
        view, "n_turns", group_cols=("conv_id",), k_sigma=k_sigma
    )


def streaming_lb_1m(
    turns: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Watermarked 1m LOG-BUCKET rank-sketch tier over a transcript
    stream. The tall (key, window, bucket) representation needs nothing
    streaming-specific: the count per bucket is an ordinary incremental
    aggregate, so the streamed tier merges/cascades bit-identically with
    a batch-built one (stream == batch test), and — being range-free —
    the live tier can never saturate no matter what text lengths arrive.
    """
    from insar_spark.operators.sketch import lb_bucket

    return (
        turns.select(
            "conv_id",
            "ts",
            F.length("text").cast("long").alias("text_len"),
        )
        .withColumn("bucket", lb_bucket("text_len"))
        .withWatermark("ts", watermark)
        .groupBy("conv_id", F.window("ts", "1 minute").alias("w"), "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "conv_id",
            F.col("w.start").alias("window_start"),
            "bucket",
            "cnt",
        )
    )


def streaming_hll_1m(
    turns: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Watermarked 1m HLL register tier over a transcript stream: the
    streamed distinct-conversation count. ``max(rho)`` per (window,
    register) is an ordinary incremental aggregate (and idempotent, so
    replayed micro-batches are absorbed with no dedup buffer), so the
    streamed tier merges bit-for-bit with batch-built HLL sketches
    (stream == batch test) and can never saturate — "active conversations
    this hour" stays servable live at fleet cardinality."""
    from insar_spark.functions.shared_hash import h60_col
    from insar_spark.operators.sketch import HLL_M, hll_rho

    return (
        turns.select(
            "ts", h60_col(F.col("conv_id").cast("string")).alias("_h")
        )
        .select(
            "ts",
            F.pmod(F.col("_h"), F.lit(HLL_M)).cast("int").alias("reg"),
            hll_rho(F.col("_h")).alias("_rho"),
        )
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 minute").alias("w"), "reg")
        .agg(F.max("_rho").alias("max_rho"))
        .select(F.col("w.start").alias("window_start"), "reg", "max_rho")
    )


def streaming_cms_1m(
    turns: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Watermarked 1m COUNT-MIN frequency tier over a transcript stream.

    The d-way cell fan-out (``posexplode`` of the d universal-hash cells,
    md5 computed once per turn) happens BEFORE the watermarked window
    aggregation, so the stateful operator is a plain incremental count
    per (window, row, cell) — bounded at d*w rows of state per window
    regardless of traffic, the same ceiling the stored tier has. Counts
    sum-merge, so a streamed tier cascades bit-identically with a
    batch-built :func:`~insar_spark.operators.sketch.cms_rollup` one
    (stream == batch test), keeping hot-key probes servable live.
    """
    from insar_spark.functions.shared_hash import P31, h60_col
    from insar_spark.operators.sketch import CMS_D, CMS_W, cms_params

    a, b = cms_params()
    return (
        turns.select(
            "ts",
            F.pmod(
                h60_col(F.col("conv_id").cast("string")), F.lit(P31)
            ).alias("_x"),
        )
        .select(
            "ts",
            F.posexplode(
                F.array(
                    *[
                        F.pmod(
                            F.pmod(
                                F.lit(a[j]) * F.col("_x") + F.lit(b[j]),
                                F.lit(P31),
                            ),
                            F.lit(CMS_W),
                        ).cast("int")
                        for j in range(CMS_D)
                    ]
                )
            ).alias("row_j", "cell"),
        )
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 minute").alias("w"), "row_j", "cell")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("w.start").alias("window_start"), "row_j", "cell", "cnt"
        )
    )
