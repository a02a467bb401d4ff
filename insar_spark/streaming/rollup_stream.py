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
from insar_spark.synth import TRANSCRIPT_SCHEMA


def read_transcript_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = 4
) -> DataFrame:
    """File-source stream over parquet drops.

    ``max_files_per_trigger=None`` processes every available file in ONE
    micro-batch. That is the right setting for drop/backfill replay: the
    files of one drop carry no time ordering among themselves, so slicing
    a drop into several micro-batches lets the first slice advance the
    event-time watermark past rows still waiting in a later slice — the
    aggregation then drops them as late (real data loss, caught by
    test_stream_job_two_cycles_with_mid_arrival). A bounded trigger is
    only safe when files arrive (and are picked up) in event-time order,
    e.g. a live tail of minute-granular drops."""
    rs = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger is not None:
        rs = rs.option("maxFilesPerTrigger", max_files_per_trigger)
    return rs.parquet(path)


def streaming_rollup_1m(
    turns: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Watermarked tumbling-window rollup, append-mode compatible.

    Same decomposable stats as the batch tier (operators.rollup) so a
    streaming-built 1m tier cascades identically to a batch-built one.
    min_by/max_by aren't streaming-supported pre-shuffle, so first/last use
    the (ts, turn_idx) ord key via max_by on a struct-free bigint, which IS
    supported inside windowed aggs in Spark 4.
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
            F.min("ord").alias("first_ord"),
            F.max("ord").alias("last_ord"),
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
            "first_ord",
            "last_ord",
        )
    )


def run_stream_to_memory(
    spark: SparkSession, src_path: str, query_name: str = "tier_1m_stream"
):
    """Drive the stream synchronously over whatever files exist (tests /
    smoke); returns the StreamingQuery (already stopped). Whole-drop
    trigger (None): replayed files carry no time order among themselves."""
    stream = streaming_rollup_1m(
        read_transcript_stream(spark, src_path, max_files_per_trigger=None)
    )
    q = (
        stream.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q


def stream_to_tierstore(
    spark: SparkSession,
    src_path: str,
    store,
    checkpoint_dir: str,
    watermark: str = "10 minutes",
    tier: str = "1m",
    max_files_per_trigger: int | None = None,
    rollup_builder=None,
):
    """Continuous 1m-tier ingestion committed through TierStore.

    ``rollup_builder`` (default :func:`streaming_rollup_1m`) maps the raw
    stream to the tier rows — pass :func:`streaming_hist_1m` (or any
    builder producing (conv_id, window_start, ...) rows) to ingest a
    sketch tier through the identical epoch-log commit machinery.

    ``max_files_per_trigger`` defaults to None (whole drop per
    micro-batch) — see read_transcript_stream for why a bounded trigger
    over an unordered drop loses beyond-watermark rows.

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
    stream = builder(
        read_transcript_stream(spark, src_path, max_files_per_trigger),
        watermark,
    )

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

    Returns {"seal_before": day, "written_days": [...], "truncated": [...]}.
    """
    import datetime as dt

    # parse "N minutes"/"N hours"/"N days" (the Spark watermark grammar
    # subset this engine uses)
    qty, unit = watermark.split()
    delta = dt.timedelta(**{unit.rstrip("s") + "s": float(qty)})

    try:
        raw = store.read_tier(spark, log_tier)
    except ValueError:  # nothing committed to the log yet
        return {"seal_before": None, "written_days": [], "truncated": []}
    # latest-epoch-wins only drops superseded rows of the same window, so
    # the raw log has the same max window without the dedup shuffle
    mx = raw.agg(F.max("window_start").alias("m")).first()["m"]
    if mx is None:
        return {"seal_before": None, "written_days": [], "truncated": []}
    seal_before = (mx - delta).date().isoformat()

    final = store.read_tier_log(spark, log_tier, keys=log_keys).drop("day")
    res = store.write_tier(
        final,
        sealed_tier,
        run_params={"source": "seal_compact", "log_tier": log_tier},
        seal_before=seal_before,
    )
    truncated = []
    if truncate_log:
        # log days below the sealed tier's expiry floor are never sealed
        # (write_tier skips them): truncate them with the sealed days
        sealed = store.manifest(sealed_tier)
        floor = sealed.get("expired_before", "")
        sealed_days = sorted(
            d
            for d in store.committed_days(log_tier)
            if d < floor or (d < seal_before and d in sealed["partitions"])
        )
        truncated = store.drop_partitions(log_tier, sealed_days, op="seal-truncate")
    return {
        "seal_before": seal_before,
        "written_days": res["written_days"],
        "truncated": truncated,
    }


def sealed_union_view(
    spark: SparkSession,
    store,
    log_tier: str = "1m_log",
    sealed_tier: str = "1m",
    log_keys: tuple[str, ...] = ("conv_id", "window_start"),
) -> DataFrame:
    """The continuous-aggregate read path: committed sealed days plus the
    latest-epoch-wins view of the still-open log days (minus any sealed
    days not yet truncated from the log — no double counting)."""
    sealed_days = store.committed_days(sealed_tier)
    try:
        live = store.read_tier_log(spark, log_tier, keys=log_keys).drop("day")
    except ValueError:
        live = None
    try:
        sealed = store.read_tier(spark, sealed_tier).drop("day")
    except ValueError:
        sealed = None
    if sealed is None and live is None:
        raise ValueError(
            f"neither '{sealed_tier}' nor '{log_tier}' has committed data"
        )
    if sealed is None:
        return live
    if live is None:
        return sealed
    if sealed_days:
        live = live.filter(
            ~F.date_format("window_start", "yyyy-MM-dd").isin(sorted(sealed_days))
        )
    return sealed.unionByName(live)


def stateful_cumulative_reconstruction(turns: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: continuous
    per-conversation cumulative text-length reconstruction across
    micro-batches.

    The streaming form of W2+W4 (cumsum of deltas, zero-referenced at the
    series head): state carries (last emitted turn_idx, last text length,
    running cumulative delta) plus a buffer of out-of-order turns. A turn
    is emitted only when it is contiguous with the last emitted index, so
    arbitrary cross-batch arrival order (and replays) produce exactly the
    batch window-cumsum result — the incremental analog of the reference's
    start_layer resume (insar/prepare.py:942) with late-data buffering.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState

    out_schema = (
        "conv_id string, turn_idx int, ts timestamp, text_len double, "
        "recon_v double"
    )
    state_schema = (
        "last_idx int, last_len double, cum double, "
        "pend_idx array<int>, pend_len array<double>, pend_ts array<long>"
    )

    def update(key, pdfs, state: GroupState):
        (conv_id,) = key
        if state.exists:
            last_idx, last_len, cum, p_idx, p_len, p_ts = state.get
            pending = {
                int(i): (float(l), int(t))
                for i, l, t in zip(p_idx or [], p_len or [], p_ts or [])
            }
        else:
            last_idx, last_len, cum, pending = -1, 0.0, 0.0, {}
        for pdf in pdfs:
            lens = pdf["text"].str.len().astype("float64")
            ts_us = pdf["ts"].to_numpy("datetime64[us]").astype("int64")
            for idx, ln, t in zip(pdf["turn_idx"], lens, ts_us):
                if int(idx) > last_idx:  # replay/duplicate guard
                    pending[int(idx)] = (float(ln), int(t))
        out_rows = []
        while (last_idx + 1) in pending:
            nxt = last_idx + 1
            ln, t = pending.pop(nxt)
            if last_idx >= 0:
                cum += ln - last_len
            last_len = ln
            last_idx = nxt
            out_rows.append((nxt, t, ln, cum))
        state.update(
            (
                last_idx,
                last_len,
                cum,
                sorted(pending),
                [pending[i][0] for i in sorted(pending)],
                [pending[i][1] for i in sorted(pending)],
            )
        )
        if out_rows:
            yield pd.DataFrame(
                {
                    "conv_id": conv_id,
                    "turn_idx": [r[0] for r in out_rows],
                    "ts": pd.to_datetime([r[1] for r in out_rows], unit="us"),
                    "text_len": [r[2] for r in out_rows],
                    "recon_v": [r[3] for r in out_rows],
                }
            )

    return (
        turns.select("conv_id", "turn_idx", "ts", "text")
        .groupBy("conv_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "append", "NoTimeout"
        )
    )


def stateful_session_metric(
    turns: DataFrame, gap: str = "30 minutes"
) -> DataFrame:
    """Custom stateful operator: session windows per conversation via the
    built-in session_window (gap-based), yielding per-session turn counts
    and text-length delta — the streaming analog of per-series alignment."""
    return (
        turns.select(
            "conv_id", "ts", F.length("text").cast("double").alias("text_len")
        )
        .withWatermark("ts", "10 minutes")
        .groupBy("conv_id", F.session_window("ts", gap).alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            (F.max("text_len") - F.min("text_len")).alias("text_len_span"),
        )
        .select(
            "conv_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_turns",
            "text_len_span",
        )
    )


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


def streaming_distinct_by_role_1m(
    turns: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """KEYED streamed bitmap: distinct conversations per (role, minute).
    Same zero-custom-state property as the global bitmap — each packed
    word is an ordinary ``bit_or`` aggregate, now grouped by the role
    dimension as well; merges bit-for-bit with batch-built keyed bitmaps.
    """
    from insar_spark.functions.shared_hash import h60_col
    from insar_spark.operators.sketch import DISTINCT_M

    words = DISTINCT_M // 32
    base = (
        turns.select(
            "role",
            "ts",
            F.pmod(
                h60_col(F.col("conv_id").cast("string")),
                F.lit(DISTINCT_M),
            ).alias("_p"),
        )
        .select(
            "role",
            "ts",
            F.floor(F.col("_p") / 32).cast("int").alias("_word"),
            (F.col("_p") % 32).cast("int").alias("_bit"),
        )
        .withColumn("_one", F.expr("cast(1 as bigint)"))
        .withColumn("_mask", F.expr("shiftleft(_one, _bit)"))
    )
    aggs = [
        F.coalesce(
            F.bit_or(F.when(F.col("_word") == i, F.col("_mask"))), F.lit(0)
        ).cast("long").alias(f"_w{i}")
        for i in range(words)
    ]
    return (
        base.withWatermark("ts", watermark)
        .groupBy("role", F.window("ts", "1 minute").alias("w"))
        .agg(*aggs)
        .select(
            "role",
            F.col("w.start").alias("window_start"),
            F.array(*[F.col(f"_w{i}") for i in range(words)]).alias("bitmap"),
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

    No double counting: each finer layer is filtered to the days the
    coarser committed tier does NOT cover (day is the seal granularity,
    so day-level exclusion is exact; for M4's daily tier window_start IS
    the day). Legal mid-window for every family whose merge is
    associative over partials (sum for plain/hist/lb/cms, max for hll,
    composing components for M4) — the result is bit-equal to a batch
    rollup over everything that has arrived (stream==batch tested per
    family). At 100 TB the expensive layer (3) is bounded by the
    watermark horizon; layers 1–2 are stored-tier scans, never raw.

    The view is memoized per family in ``store.views`` (the plan only,
    nothing cached): it is rebuilt only when the session, the store root or
    the committed file list of one of the three tiers changed. Committed
    files are immutable and uniquely named, so every commit, seal,
    truncation or expiry changes the key; snapshot ids would not (a store
    recreated or restored at the same root repeats them over new files)."""
    fam = FAMILIES[family]
    fine_tier, coarse_tier = fam.tiers[:2]
    state = (spark, store.root) + tuple(
        store.committed_files(t) for t in (coarse_tier, fine_tier, fam.log_tier)
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
        coarse = store.read_tier(spark, coarse_tier).drop("day")
    except ValueError:
        coarse = None
    try:
        fine = sealed_union_view(
            spark, store, log_tier=fam.log_tier, sealed_tier=fine_tier,
            log_keys=fam.log_keys,
        )
        live = fam.cascade(fine, window)
    except ValueError:  # fine layers fully expired/truncated
        live = None
    if coarse is None and live is None:
        raise ValueError(
            f"none of '{coarse_tier}'/'{fine_tier}'/'{fam.log_tier}' has data"
        )
    if coarse is None:
        return live
    if live is None:
        return coarse
    if coarse_days:
        live = live.filter(
            ~F.date_format("window_start", "yyyy-MM-dd").isin(
                sorted(coarse_days)
            )
        )
    return coarse.unionByName(live)


def stats_realtime_1h_view(spark: SparkSession, store) -> DataFrame:
    """Real-time PLAIN-STATS serve — the flagship tier family through the
    same three-layer stitch the sketch families use: every stat in the
    stats tier is decomposable (sums/counts/min/max/ord-keyed first+last),
    so ``operators.rollup.cascade`` merges sealed 1h days, sealed 1m days
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


def streaming_distinct_1m(
    turns: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Watermarked 1m DISTINCT-CONVERSATION bitmap tier over a stream.

    Streaming count-distinct normally needs custom state (dedup buffers,
    approx sketches); the linear-counting bitmap needs none — each of the
    32 packed words is a plain ``bit_or`` aggregate, incremental across
    micro-batches exactly like a sum. The streaming-built tier merges with
    batch-built bitmaps bit-for-bit (stream == batch test), so "active
    conversations this hour" is servable live from the same tier cascade.
    """
    from insar_spark.functions.shared_hash import h60_col
    from insar_spark.operators.sketch import DISTINCT_M

    words = DISTINCT_M // 32
    base = (
        turns.select(
            "ts",
            F.pmod(
                h60_col(F.col("conv_id").cast("string")),
                F.lit(DISTINCT_M),
            ).alias("_p"),
        )
        .select(
            "ts",
            F.floor(F.col("_p") / 32).cast("int").alias("_word"),
            (F.col("_p") % 32).cast("int").alias("_bit"),
        )
        .withColumn("_one", F.expr("cast(1 as bigint)"))
        .withColumn("_mask", F.expr("shiftleft(_one, _bit)"))
    )
    aggs = [
        F.coalesce(
            F.bit_or(F.when(F.col("_word") == i, F.col("_mask"))), F.lit(0)
        ).cast("long").alias(f"_w{i}")
        for i in range(words)
    ]
    return (
        base.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(*aggs)
        .select(
            F.col("w.start").alias("window_start"),
            F.array(*[F.col(f"_w{i}") for i in range(words)]).alias("bitmap"),
        )
    )


def streaming_hll_1m(
    turns: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Watermarked 1m HLL register tier over a transcript stream — the
    unbounded-cardinality companion to :func:`streaming_distinct_1m`.
    ``max(rho)`` per (window, register) is an ordinary incremental
    aggregate (and idempotent, so replayed micro-batches are absorbed
    with no dedup buffer), so the streamed tier merges bit-for-bit with
    batch-built HLL sketches (stream == batch test) and, unlike the
    bitmap, can never saturate — "active conversations this hour" stays
    servable live at fleet cardinality."""
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


def stateful_kmv_1m(turns: DataFrame, k: int = 256) -> DataFrame:
    """Custom stateful operator: streaming KMV distinct sample per 1m
    window via ``applyInPandasWithState``.

    The other sketch tiers stream as plain incremental SQL aggregates
    (conditional counts, bit_or, max, sum); KMV's merge —
    union-and-retake-the-k-smallest — is NOT an incremental aggregate
    Spark's state store can fold, so it takes the custom-stateful path.
    State per window is EXACTLY the sketch: one sorted array of ≤ k
    int64 hashes, bounded no matter the traffic (the trimming that makes
    the sketch cheap is the same trimming that bounds the state). The
    md5-60 hash is computed JVM-side BEFORE the grouping so the Python
    stage only merges int lists (Arrow-batched, no per-row text work).
    Each trigger emits the window's refreshed sketch; the LAST emission
    per window equals the batch ``kmv_rollup`` array bit-for-bit
    (stream == batch test), so a live window's distinct estimate — and
    its overlap against any stored KMV tier — is servable mid-window.
    
    SCOPE (advisor r5): this runs with NoTimeout and no watermark, so a
    long-running stream accumulates one state entry per 1-minute window
    forever — it is the drain-style test/backfill path. A production
    deployment must add an event-time watermark +
    GroupStateTimeout.EventTimeTimeout (state for windows past the
    watermark is final — the batch cascade covers them) before running
    unbounded.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState

    from insar_spark.functions.shared_hash import h60_col

    out_schema = "window_start timestamp, kmv array<long>, n_sample int"
    state_schema = "kmv array<long>"

    def update(key, pdfs, state: GroupState):
        (window_start,) = key
        kept = list(state.get[0]) if state.exists else []
        seen = set(kept)
        for pdf in pdfs:
            seen.update(int(h) for h in pdf["_h"])
        kept = sorted(seen)[:k]
        state.update((kept,))
        yield pd.DataFrame(
            {
                "window_start": [window_start],
                "kmv": [kept],
                "n_sample": [len(kept)],
            }
        )

    return (
        turns.select(
            F.date_trunc("minute", F.col("ts")).alias("window_start"),
            h60_col(F.col("conv_id").cast("string")).alias("_h"),
        )
        .groupBy("window_start")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", "NoTimeout"
        )
    )
