"""Watermark-sealed day compaction: stream -> epoch log -> committed tier."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from insar_spark.operators.rollup import rollup_turns
from insar_spark.sources.catalog import TierStore
from insar_spark.streaming.rollup_stream import (
    seal_and_compact,
    sealed_union_view,
    stream_to_tierstore,
)


def _frame(df, cols=None):
    pdf = df.toPandas()
    cols = cols or sorted(pdf.columns)
    return pdf[cols].sort_values(cols).reset_index(drop=True)


def test_stream_seal_compact_equals_batch(spark, tmp_path, transcripts):
    src = str(tmp_path / "src")
    transcripts.write.mode("overwrite").parquet(src)
    store = TierStore(str(tmp_path / "tiers"))
    q = stream_to_tierstore(
        spark, src, store, checkpoint_dir=str(tmp_path / "ckpt"),
        watermark="3650 days", tier="1m_log",
    )
    q.processAllAvailable()
    q.stop()

    res = seal_and_compact(
        spark, store, log_tier="1m_log", sealed_tier="1m",
        watermark="60 minutes",
    )
    assert res["written_days"], "some days must seal"
    sb = res["seal_before"]

    batch = rollup_turns(transcripts, "1m")
    sealed_batch = batch.filter(
        F.date_format("window_start", "yyyy-MM-dd") < sb
    )
    got = store.read_tier(spark, "1m").drop("day")
    cols = sorted(sealed_batch.columns)
    pd.testing.assert_frame_equal(
        _frame(got, cols), _frame(sealed_batch, cols), check_exact=True
    )

    # sealed days were truncated from the log
    assert set(res["truncated"]) == set(res["written_days"])
    assert not (set(store.committed_days("1m_log")) & set(res["written_days"]))

    # the union view equals the full batch rollup (no loss, no double count)
    union = sealed_union_view(spark, store, "1m_log", "1m")
    pd.testing.assert_frame_equal(
        _frame(union, cols), _frame(batch, cols), check_exact=True
    )


def test_seal_compact_is_idempotent(spark, tmp_path, transcripts):
    src = str(tmp_path / "src")
    transcripts.write.mode("overwrite").parquet(src)
    store = TierStore(str(tmp_path / "tiers"))
    q = stream_to_tierstore(
        spark, src, store, checkpoint_dir=str(tmp_path / "ckpt"),
        watermark="3650 days", tier="1m_log",
    )
    q.processAllAvailable()
    q.stop()

    first = seal_and_compact(spark, store, watermark="60 minutes")
    assert first["written_days"]
    n = store.read_tier(spark, "1m").count()
    # crash-restart: running the compactor again writes nothing new
    second = seal_and_compact(spark, store, watermark="60 minutes")
    assert second["written_days"] == []
    assert store.read_tier(spark, "1m").count() == n


def test_stream_job_cli_drain_and_restart(spark, tmp_path):
    """jobs/stream_job.py end to end: drain -> seal -> metrics; a second
    invocation on the same checkpoint+store writes nothing new."""
    from jobs.stream_job import main as job_main

    store_path = str(tmp_path / "tiers_cli")
    args = [
        "--input", "synth:120", "--store", store_path,
        "--checkpoint", str(tmp_path / "ckpt_cli"),
        "--watermark", "60 minutes", "--master", "local[4]", "--drain",
    ]
    m1 = job_main(args)
    assert m1["sealed_days"] > 0
    assert m1["truncated_log_days"] == m1["sealed_days"]
    m2 = job_main(args)
    assert m2["sealed_days"] == 0  # resume: nothing re-sealed
    assert m2["committed_1m_days"] == m1["committed_1m_days"]


def test_stream_job_two_cycles_with_mid_arrival(spark, tmp_path):
    """The quiesced-cycle loop (stream drained and STOPPED before each
    seal): a second parquet drop landing between cycles is picked up by
    the checkpoint-resumed stream in cycle 2, and the sealed+open union
    equals the batch rollup over everything — no duplicates, no loss,
    no seal racing an epoch commit (the stream is never live during a
    seal by construction)."""
    from insar_spark.operators.rollup import rollup_turns
    from insar_spark.sources.catalog import TierStore
    from insar_spark.streaming.rollup_stream import sealed_union_view
    from insar_spark.synth import synth_transcripts
    from jobs.stream_job import run_cycle

    store = TierStore(str(tmp_path / "tiers_cycles"))
    src = str(tmp_path / "drops")
    ckpt = str(tmp_path / "ckpt_cycles")

    a = synth_transcripts(spark, n_convs=40, seed=5)
    # the second drop is LATER event time (the stream moves forward —
    # data for an already-sealed day would be beyond-watermark late data,
    # which the seal contract finalizes away by design)
    b = (
        synth_transcripts(spark, n_convs=40, seed=6)
        .withColumn("conv_id", F.concat(F.lit("x"), "conv_id"))
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 40 DAYS"))
    )
    a.write.mode("overwrite").parquet(src)
    s1 = run_cycle(spark, store, src, ckpt, watermark="60 minutes")
    assert s1["written_days"]
    b.write.mode("append").parquet(src)  # arrives between cycles
    s2 = run_cycle(spark, store, src, ckpt, watermark="60 minutes")
    assert s2["written_days"]  # cycle 2 sealed the new data's days

    got = (
        sealed_union_view(spark, store)
        .toPandas()
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )
    exp = (
        rollup_turns(a.unionByName(b), "1m")
        .toPandas()
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp)
    for c in ["n_turns", "sum_text_len", "first_text_len", "last_text_len"]:
        np.testing.assert_allclose(
            got[c].to_numpy("float64"), exp[c].to_numpy("float64"), err_msg=c
        )

    # the cycle also maintained the coarser continuous aggregates: each
    # stored tier is the exact cascade of the stored finer tier
    from insar_spark.operators.rollup import cascade

    s1m = store.read_tier(spark, "1m").drop("day")
    s1h = store.read_tier(spark, "1h").drop("day")
    s1d = store.read_tier(spark, "1d").drop("day")
    for got_t, exp_t, name in (
        (s1h, cascade(s1m, "1h"), "1h"),
        (s1d, cascade(s1h, "1d"), "1d"),
    ):
        g = got_t.toPandas().sort_values(["conv_id", "window_start"]).reset_index(drop=True)
        e = exp_t.toPandas().sort_values(["conv_id", "window_start"]).reset_index(drop=True)
        assert len(g) == len(e) > 0, name
        for c in ["n_turns", "sum_text_len", "first_text_len", "last_text_len"]:
            np.testing.assert_allclose(
                g[c].to_numpy("float64"), e[c].to_numpy("float64"),
                err_msg=f"{name}.{c}",
            )


def test_stream_cycle_sketch_tier_seals_and_matches_batch(spark, tmp_path, transcripts):
    """--sketch path: the histogram tier rides the same quiesced
    ingest -> seal -> cascade cycle; sealed hist_1m days are bit-equal to
    a batch hist_rollup over the same turns, and a second cycle on the
    same checkpoint+store seals nothing new."""
    from insar_spark.operators.sketch import hist_rollup
    from jobs.stream_job import run_cycle

    src = str(tmp_path / "drop_sk")
    transcripts.write.mode("overwrite").parquet(src)
    store = TierStore(str(tmp_path / "tiers_sk"))
    ckpt = str(tmp_path / "ckpt_sk")

    s1 = run_cycle(spark, store, src, ckpt, watermark="60 minutes", sketch=True)
    hseal = s1["families"]["hist"]
    assert len(hseal["written_days"]) > 0
    assert hseal["cascaded"]["hist_1h"]
    assert len(s1["families"]["lb"]["written_days"]) > 0
    assert s1["families"]["lb"]["cascaded"]["lb_1h"]
    assert len(s1["families"]["m4"]["written_days"]) > 0
    assert s1["families"]["m4"]["cascaded"]["m4_1d"]

    sealed = (
        store.read_tier(spark, "hist_1m")
        .toPandas()
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )
    direct = hist_rollup(
        transcripts.select(
            "conv_id", "ts", F.length("text").cast("double").alias("text_len")
        ),
        "1m",
        value_col="text_len",
    )
    direct = (
        direct.withColumn(
            "day", F.date_format("window_start", "yyyy-MM-dd")
        )
        .filter(F.col("day") < hseal["seal_before"])
        .toPandas()
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )
    assert len(sealed) == len(direct) > 0
    assert [list(h) for h in sealed["hist"]] == [list(h) for h in direct["hist"]]

    # the sealed M4 days are bit-equal to the batch minute M4
    from insar_spark.operators.downsample import m4_downsample

    m4_sealed = (
        store.read_tier(spark, "m4_1m")
        .drop("day")
        .toPandas()
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )
    m4_direct = m4_downsample(
        transcripts.select(
            "conv_id", "turn_idx", "ts",
            F.length("text").cast("double").alias("text_len"),
        ),
        "minute",
        value_col="text_len",
    )
    m4_direct = (
        m4_direct.withColumn(
            "day", F.date_format("window_start", "yyyy-MM-dd")
        )
        .filter(F.col("day") < s1["families"]["m4"]["seal_before"])
        .drop("day")
        .toPandas()
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )
    assert len(m4_sealed) == len(m4_direct) > 0
    pd.testing.assert_frame_equal(
        m4_sealed[m4_direct.columns.tolist()], m4_direct, check_exact=True
    )

    s2 = run_cycle(spark, store, src, ckpt, watermark="60 minutes", sketch=True)
    assert len(s2["families"]["hist"]["written_days"]) == 0
    assert len(s2["families"]["lb"]["written_days"]) == 0
    assert len(s2["families"]["m4"]["written_days"]) == 0


def test_stream_seal_lb_rank_tier(spark, tmp_path, transcripts):
    """The tall log-bucket rank sketch through the same log->seal
    machinery: streams via the generic rollup_builder with
    (conv_id, window_start, bucket) log keys, and the sealed days are
    bit-equal to the batch lb_rollup over the same turns."""
    from insar_spark.operators.sketch import lb_rollup
    from insar_spark.streaming.rollup_stream import (
        seal_and_compact,
        stream_to_tierstore,
        streaming_lb_1m,
    )

    src = str(tmp_path / "drop_lb")
    transcripts.write.mode("overwrite").parquet(src)
    store = TierStore(str(tmp_path / "tiers_lb"))

    q = stream_to_tierstore(
        spark, src, store, checkpoint_dir=str(tmp_path / "ckpt_lb"),
        watermark="60 minutes", tier="lb_1m_log",
        rollup_builder=streaming_lb_1m,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    seal = seal_and_compact(
        spark, store, log_tier="lb_1m_log", sealed_tier="lb_1m",
        watermark="60 minutes",
        log_keys=("conv_id", "window_start", "bucket"),
    )
    assert len(seal["written_days"]) > 0

    sealed = (
        store.read_tier(spark, "lb_1m")
        .toPandas()
        .sort_values(["conv_id", "window_start", "bucket"])
        .reset_index(drop=True)
    )
    direct = (
        lb_rollup(
            transcripts.select(
                "conv_id", "ts",
                F.length("text").cast("long").alias("text_len"),
            ),
            "1m",
            value_col="text_len",
        )
        .withColumn("day", F.date_format("window_start", "yyyy-MM-dd"))
        .filter(F.col("day") < seal["seal_before"])
        .drop("day")
        .toPandas()
        .sort_values(["conv_id", "window_start", "bucket"])
        .reset_index(drop=True)
    )
    assert len(sealed) == len(direct) > 0
    assert (sealed["bucket"].to_numpy() == direct["bucket"].to_numpy()).all()
    assert (sealed["cnt"].to_numpy() == direct["cnt"].to_numpy()).all()

    # continuous-aggregate READ path: the sealed+live union view serves
    # the fleet-wide p95 identical to a batch build over ALL turns
    from insar_spark.operators.sketch import lb_merge_global, lb_quantiles
    from insar_spark.streaming.rollup_stream import sealed_union_view

    view = sealed_union_view(
        spark, store, log_tier="lb_1m_log", sealed_tier="lb_1m",
        log_keys=("conv_id", "window_start", "bucket"),
    )
    served = (
        lb_quantiles(
            lb_merge_global(view, "1h"), {"p95": 0.95}, ("window_start",)
        )
        .toPandas()
        .sort_values("window_start")
        .reset_index(drop=True)
    )
    batch_all = (
        lb_quantiles(
            lb_merge_global(
                lb_rollup(
                    transcripts.select(
                        "conv_id", "ts",
                        F.length("text").cast("long").alias("text_len"),
                    ),
                    "1m",
                    value_col="text_len",
                ),
                "1h",
            ),
            {"p95": 0.95},
            ("window_start",),
        )
        .toPandas()
        .sort_values("window_start")
        .reset_index(drop=True)
    )
    assert len(served) == len(batch_all) > 0
    assert (served["p95"].to_numpy() == batch_all["p95"].to_numpy()).all()
    assert (
        served["n_points"].to_numpy() == batch_all["n_points"].to_numpy()
    ).all()


def test_lb_realtime_view_stitches_three_tiers(spark, tmp_path, transcripts):
    """Cross-tier real-time aggregate (the TimescaleDB pattern): "last
    24h p99 right now" served from committed lb_1h days + sealed lb_1m
    days the 1h cascade hasn't covered + the live epoch log — with all
    THREE layers genuinely populated — is bit-equal to a batch 1h rollup
    over every turn that has arrived."""
    import datetime as dt

    from insar_spark.operators.sketch import (
        lb_cascade,
        lb_merge_global,
        lb_quantiles,
        lb_rollup,
    )
    from insar_spark.streaming.rollup_stream import (
        realtime_1h_view,
        seal_and_compact,
        stream_to_tierstore,
        streaming_lb_1m,
    )

    src = str(tmp_path / "drop_rt")
    transcripts.write.mode("overwrite").parquet(src)
    store = TierStore(str(tmp_path / "tiers_rt"))

    q = stream_to_tierstore(
        spark, src, store, checkpoint_dir=str(tmp_path / "ckpt_rt"),
        watermark="60 minutes", tier="lb_1m_log",
        rollup_builder=streaming_lb_1m,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    seal = seal_and_compact(
        spark, store, log_tier="lb_1m_log", sealed_tier="lb_1m",
        watermark="60 minutes",
        log_keys=("conv_id", "window_start", "bucket"),
    )
    assert len(seal["written_days"]) > 1

    # cascade the sealed 1m to 1h with a STRICTER seal horizon (one day
    # earlier), leaving at least one sealed day only in lb_1m — so the
    # view must stitch coarse(1h) + mid(sealed 1m) + live(log)
    sb = seal["seal_before"]
    sb_1h = (dt.date.fromisoformat(sb) - dt.timedelta(days=1)).isoformat()
    stored_1m = store.read_tier(spark, "lb_1m").drop("day")
    store.write_tier(
        lb_cascade(stored_1m, "1h"), "lb_1h",
        run_params={"source": "test_cascade"}, seal_before=sb_1h,
    )
    coarse_days = store.committed_days("lb_1h")
    mid_days = {d for d in store.committed_days("lb_1m")} - coarse_days
    assert coarse_days and mid_days  # both stored layers contribute

    view = realtime_1h_view(spark, store, "lb")
    got = (
        view.toPandas()
        .sort_values(["conv_id", "window_start", "bucket"])
        .reset_index(drop=True)
    )
    batch = (
        lb_rollup(
            transcripts.select(
                "conv_id", "ts",
                F.length("text").cast("long").alias("text_len"),
            ),
            "1h",
            value_col="text_len",
        )
        .toPandas()
        .sort_values(["conv_id", "window_start", "bucket"])
        .reset_index(drop=True)
    )
    assert len(got) == len(batch) > 0
    assert (got["bucket"].to_numpy() == batch["bucket"].to_numpy()).all()
    assert (got["cnt"].to_numpy() == batch["cnt"].to_numpy()).all()
    # the live (log) layer really contributes: view covers days past the
    # 1m seal horizon
    assert (
        got["window_start"].dt.strftime("%Y-%m-%d") >= sb
    ).any()

    # and the serve shape: last-24h fleet p99 equals the batch answer
    hi = batch["window_start"].max()
    lo = hi - dt.timedelta(hours=24)
    served = (
        lb_quantiles(
            lb_merge_global(
                view.filter(F.col("window_start") > F.lit(lo)), "1h"
            ),
            {"p99": 0.99},
            ("window_start",),
        )
        .toPandas()
        .sort_values("window_start")
        .reset_index(drop=True)
    )
    batch_q = (
        lb_quantiles(
            lb_merge_global(
                lb_rollup(
                    transcripts.filter(
                        F.date_trunc("hour", F.col("ts")) > F.lit(lo)
                    ).select(
                        "conv_id", "ts",
                        F.length("text").cast("long").alias("text_len"),
                    ),
                    "1h",
                    value_col="text_len",
                ),
                "1h",
            ),
            {"p99": 0.99},
            ("window_start",),
        )
        .toPandas()
        .sort_values("window_start")
        .reset_index(drop=True)
    )
    assert len(served) == len(batch_q) > 0
    assert (served["p99"].to_numpy() == batch_q["p99"].to_numpy()).all()
    assert (
        served["n_points"].to_numpy() == batch_q["n_points"].to_numpy()
    ).all()


def test_stream_seal_hll_tier(spark, tmp_path, transcripts):
    """The HLL register tier through the log->seal machinery: streams via
    the generic rollup_builder with (window, reg) log keys; sealed days
    are bit-equal to the batch hll_rollup over the same turns. The merge
    being MAX (idempotent) means latest-epoch-wins sealing needs no
    special casing — the running max in the newest epoch IS the merge."""
    from insar_spark.operators.sketch import hll_rollup
    from insar_spark.streaming.rollup_stream import (
        seal_and_compact,
        stream_to_tierstore,
        streaming_hll_1m,
    )

    src = str(tmp_path / "drop_hll")
    transcripts.write.mode("overwrite").parquet(src)
    store = TierStore(str(tmp_path / "tiers_hll"))

    q = stream_to_tierstore(
        spark, src, store, checkpoint_dir=str(tmp_path / "ckpt_hll"),
        watermark="60 minutes", tier="hll_1m_log",
        rollup_builder=streaming_hll_1m,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    seal = seal_and_compact(
        spark, store, log_tier="hll_1m_log", sealed_tier="hll_1m",
        watermark="60 minutes", log_keys=("window_start", "reg"),
    )
    assert len(seal["written_days"]) > 0

    key = ["window_start", "reg", "max_rho"]
    sealed = {
        tuple(r)
        for r in store.read_tier(spark, "hll_1m").select(*key).collect()
    }
    direct = {
        tuple(r)
        for r in hll_rollup(transcripts.select("conv_id", "ts"), "1m")
        .withColumn("day", F.date_format("window_start", "yyyy-MM-dd"))
        .filter(F.col("day") < seal["seal_before"])
        .select(*key)
        .collect()
    }
    assert sealed == direct and len(sealed) > 0


def test_stream_seal_cms_tier(spark, tmp_path, transcripts):
    """The count-min frequency tier through the log->seal machinery:
    streams via the generic rollup_builder with (window, row, cell) log
    keys; sealed days carry counts bit-equal to the batch cms_rollup
    over the same turns, so hot-key probes against a streamed store and
    a batch-built store give identical estimates."""
    from insar_spark.operators.sketch import cms_rollup
    from insar_spark.streaming.rollup_stream import (
        seal_and_compact,
        stream_to_tierstore,
        streaming_cms_1m,
    )

    src = str(tmp_path / "drop_cms")
    transcripts.write.mode("overwrite").parquet(src)
    store = TierStore(str(tmp_path / "tiers_cms"))

    q = stream_to_tierstore(
        spark, src, store, checkpoint_dir=str(tmp_path / "ckpt_cms"),
        watermark="60 minutes", tier="cms_1m_log",
        rollup_builder=streaming_cms_1m,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    seal = seal_and_compact(
        spark, store, log_tier="cms_1m_log", sealed_tier="cms_1m",
        watermark="60 minutes",
        log_keys=("window_start", "row_j", "cell"),
    )
    assert len(seal["written_days"]) > 0

    key = ["window_start", "row_j", "cell", "cnt"]
    sealed = {
        tuple(r)
        for r in store.read_tier(spark, "cms_1m").select(*key).collect()
    }
    direct = {
        tuple(r)
        for r in cms_rollup(transcripts.select("conv_id", "ts"), "1m")
        .withColumn("day", F.date_format("window_start", "yyyy-MM-dd"))
        .filter(F.col("day") < seal["seal_before"])
        .select(*key)
        .collect()
    }
    assert sealed == direct and len(sealed) > 0


def test_hll_realtime_view_three_layers(spark, tmp_path, transcripts):
    """The generic realtime_1h_view on the HLL family: "active
    conversations in the last 24 h right now" served from committed
    hll_1h days + sealed hll_1m days the 1h cascade hasn't covered + the
    live epoch log — with all THREE layers genuinely populated — is
    register-for-register equal to a batch 1h HLL over every turn that
    has arrived (max-merge is idempotent, so the stitch needs no replay
    special-casing). The live layer is within ``ONE_TASK_ROWS``, so the
    view takes no exchange."""
    _check_hll_realtime_view(spark, tmp_path, transcripts, None)


def test_hll_realtime_view_three_layers_with_exchange(
    spark, tmp_path, transcripts, monkeypatch
):
    """The same three-layer HLL view with ``ONE_TASK_ROWS`` below the live
    layer's rows: the live layer takes one exchange on ``reg`` (HLL has
    no ``conv_id``) and the registers are unchanged."""
    _check_hll_realtime_view(spark, tmp_path, transcripts, monkeypatch)


def _check_hll_realtime_view(spark, tmp_path, transcripts, monkeypatch):
    """``monkeypatch`` given: run with ``ONE_TASK_ROWS`` at half the live
    layer's rows (the exchange branch)."""
    import datetime as dt

    from insar_spark.operators.sketch import hll_cascade, hll_rollup
    from insar_spark.streaming import rollup_stream
    from insar_spark.streaming.rollup_stream import (
        realtime_1h_view,
        seal_and_compact,
        stream_to_tierstore,
        streaming_hll_1m,
    )

    src = str(tmp_path / "drop_hllrt")
    transcripts.write.mode("overwrite").parquet(src)
    store = TierStore(str(tmp_path / "tiers_hllrt"))

    q = stream_to_tierstore(
        spark, src, store, checkpoint_dir=str(tmp_path / "ckpt_hllrt"),
        watermark="60 minutes", tier="hll_1m_log",
        rollup_builder=streaming_hll_1m,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    seal = seal_and_compact(
        spark, store, log_tier="hll_1m_log", sealed_tier="hll_1m",
        watermark="60 minutes", log_keys=("window_start", "reg"),
    )
    assert len(seal["written_days"]) > 1

    sb = seal["seal_before"]
    sb_1h = (dt.date.fromisoformat(sb) - dt.timedelta(days=1)).isoformat()
    stored_1m = store.read_tier(spark, "hll_1m").drop("day")
    store.write_tier(
        hll_cascade(stored_1m, "1h"), "hll_1h",
        run_params={"source": "test_cascade"}, seal_before=sb_1h,
    )
    coarse_days = store.committed_days("hll_1h")
    mid_days = set(store.committed_days("hll_1m")) - coarse_days
    assert coarse_days and mid_days  # both stored layers contribute

    from plan_inspect import audit

    open_days = store.committed_days("hll_1m_log") - store.committed_days("hll_1m")
    live = store.tier_rows("hll_1m", mid_days) + store.tier_rows("hll_1m_log", open_days)
    if monkeypatch is None:
        assert live <= rollup_stream.ONE_TASK_ROWS
    else:
        monkeypatch.setattr(rollup_stream, "ONE_TASK_ROWS", live // 2)
    view = realtime_1h_view(spark, store, "hll")
    key = ["window_start", "reg", "max_rho"]
    got = {tuple(r) for r in view.select(*key).collect()}
    assert audit(view).n_exchanges == (monkeypatch is not None)
    batch = {
        tuple(r)
        for r in hll_rollup(transcripts.select("conv_id", "ts"), "1h")
        .select(*key)
        .collect()
    }
    assert got == batch and len(got) > 0
    # the live (log) layer really contributes: view covers days past the
    # 1m seal horizon
    assert any(str(t[0].date()) >= sb for t in got)


def test_m4_realtime_view_three_layers(spark, tmp_path, transcripts):
    """The generic three-layer view on the M4 downsample family: "today's
    chart right now" served from committed m4_1d days + sealed m4_1m days
    the daily cascade hasn't covered + the live epoch log — with all THREE
    layers genuinely populated — is bit-equal to a batch day-M4 over every
    turn that has arrived."""
    import datetime as dt

    from insar_spark.operators.downsample import m4_cascade, m4_downsample
    from insar_spark.streaming.rollup_stream import (
        realtime_1h_view,
        seal_and_compact,
        stream_to_tierstore,
        streaming_m4_1m,
    )

    src = str(tmp_path / "drop_m4rt")
    transcripts.write.mode("overwrite").parquet(src)
    store = TierStore(str(tmp_path / "tiers_m4rt"))

    q = stream_to_tierstore(
        spark, src, store, checkpoint_dir=str(tmp_path / "ckpt_m4rt"),
        watermark="60 minutes", tier="m4_1m_log",
        rollup_builder=streaming_m4_1m,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    seal = seal_and_compact(
        spark, store, log_tier="m4_1m_log", sealed_tier="m4_1m",
        watermark="60 minutes", log_keys=("conv_id", "window_start"),
    )
    assert len(seal["written_days"]) > 1

    sb = seal["seal_before"]
    sb_1d = (dt.date.fromisoformat(sb) - dt.timedelta(days=1)).isoformat()
    stored_1m = store.read_tier(spark, "m4_1m").drop("day")
    store.write_tier(
        m4_cascade(stored_1m, "day"), "m4_1d",
        run_params={"source": "test_cascade"}, seal_before=sb_1d,
    )
    coarse_days = store.committed_days("m4_1d")
    mid_days = set(store.committed_days("m4_1m")) - coarse_days
    assert coarse_days and mid_days  # both stored layers contribute

    view = realtime_1h_view(spark, store, "m4")
    batch = m4_downsample(
        transcripts.select(
            "conv_id", "turn_idx", "ts",
            F.length("text").cast("double").alias("text_len"),
        ),
        "day",
        value_col="text_len",
    )
    cols = batch.columns
    g = (
        view.toPandas()[cols]
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )
    e = (
        batch.toPandas()
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )
    assert len(g) == len(e) > 0
    pd.testing.assert_frame_equal(g, e, check_exact=True)
    # the live (log) layer really contributes: view covers days past the
    # 1m seal horizon
    assert (g["window_start"].dt.strftime("%Y-%m-%d") >= sb).any()


def test_seal_truncates_log_days_below_the_expiry_floor(spark, tmp_path, transcripts):
    """A log day older than the sealed tier's expiry floor is never sealed
    (no expired day comes back) and is truncated with the sealed days, so
    it cannot linger in the real-time view."""
    store = TierStore(str(tmp_path / "tiers"))
    rolled = rollup_turns(transcripts, "1m")
    store.write_tier(rolled, "1m")
    expired = store.expire("1m", "2025-01-10")  # floor 2025-01-03
    assert expired
    kept = store.committed_days("1m")
    store.write_tier_log(rolled, "1m_log", epoch=0)  # a replay of every day
    res = seal_and_compact(spark, store, watermark="60 minutes")
    assert res["written_days"] == []
    assert store.committed_days("1m") == kept
    assert set(expired) <= set(res["truncated"])
    assert all(d >= res["seal_before"] for d in store.committed_days("1m_log"))


def _manifests(store):
    import glob
    import os

    return {
        p: open(p).read()
        for p in glob.glob(os.path.join(store.root, "_snapshots", "*.json"))
    }


def test_seal_with_no_day_due_runs_no_spark_job(spark, tmp_path, transcripts, spark_jobs):
    """The seal horizon comes from the log files' footers and the days due
    from the manifests: a seal with nothing to commit launches no Spark
    job, whether its days are already sealed but not truncated or not yet
    past the horizon."""
    store = TierStore(str(tmp_path / "tiers"))
    store.write_tier_log(rollup_turns(transcripts, "1m"), "1m_log", epoch=0)
    first = seal_and_compact(spark, store, watermark="60 minutes", truncate_log=False)
    assert first["written_days"] and first["truncated"] == []
    sealed = store.manifest("1m")

    # sealed days still in the log: truncated, nothing re-sealed
    second, jobs = spark_jobs(
        lambda: seal_and_compact(spark, store, watermark="60 minutes")
    )
    assert jobs == []
    assert second["seal_before"] == first["seal_before"]
    assert second["written_days"] == []
    assert second["truncated"] == first["written_days"]
    assert store.manifest("1m") == sealed

    # only open days left: no day due, no manifest changes
    before = _manifests(store)
    third, jobs = spark_jobs(
        lambda: seal_and_compact(spark, store, watermark="60 minutes")
    )
    assert jobs == []
    assert third == {**second, "truncated": []}
    assert _manifests(store) == before


@pytest.mark.parametrize("split", ["one", "exchange"])
def test_realtime_read_is_one_job_over_contributing_files(
    spark, tmp_path, transcripts, spark_jobs, monkeypatch, split
):
    """A per-conversation real-time read over all three layers — committed
    1h days, a sealed 1m day not yet cascaded, and an open log day whose 1m
    windows two epochs refine — opens only the files of the days each
    layer contributes and equals a batch 1h rollup. Its live layer is
    within ``ONE_TASK_ROWS``, so the read is one Spark job with no
    exchange; with ``ONE_TASK_ROWS`` below the live layer's rows it takes
    one exchange instead, with the same rows."""
    import os

    from insar_spark.operators.rollup import cascade
    from insar_spark.streaming import rollup_stream
    from plan_inspect import audit
    from insar_spark.streaming.rollup_stream import stats_realtime_1h_view

    # four busy days: two committed to 1h, one sealed in 1m only, one open
    turns = transcripts.filter(F.col("ts") < "2025-01-05")
    store = TierStore(str(tmp_path / "tiers"))
    day = F.date_format("ts", "yyyy-MM-dd")
    days = sorted(r[0] for r in turns.select(day).distinct().collect())
    fine_day, open_day = days[-2:]
    store.write_tier(rollup_turns(turns, "1m"), "1m", seal_before=open_day)
    store.write_tier(
        cascade(store.read_tier(spark, "1m").drop("day"), "1h"), "1h",
        seal_before=fine_day,
    )
    # epoch 0 holds half the turns of every day (log days a seal has not
    # truncated yet); epoch 1 refines the open day's windows to all turns
    half = rollup_turns(turns.filter(F.col("turn_idx") % 2 == 0), "1m")
    full = rollup_turns(turns.filter(day == open_day), "1m")
    store.write_tier_log(half, "1m_log", epoch=0)
    store.write_tier_log(full, "1m_log", epoch=1)
    refined = half.alias("h").join(full.alias("f"), ["conv_id", "window_start"])
    assert refined.filter(F.col("h.n_turns") != F.col("f.n_turns")).count() > 0
    coarse_days = store.committed_days("1h")
    assert len(coarse_days) == 2 and fine_day not in coarse_days
    assert store.committed_days("1m") == coarse_days | {fine_day}

    # the conversation with turns on the fine and the open day and the
    # most coarse days
    on = lambda d: F.col("conv_id").isin(  # noqa: E731
        [r[0] for r in turns.filter(day == d).select("conv_id").distinct().collect()]
    )
    conv, n_days = (
        turns.filter(on(fine_day) & on(open_day))
        .groupBy("conv_id").agg(F.countDistinct(day).alias("n"))
        .orderBy(F.desc("n"), "conv_id").first()
    )
    assert n_days > 2

    live = store.tier_rows("1m", [fine_day]) + store.tier_rows("1m_log", [open_day])
    if split == "one":
        assert live <= rollup_stream.ONE_TASK_ROWS
    else:
        monkeypatch.setattr(rollup_stream, "ONE_TASK_ROWS", live // 2)

    def read():
        view = stats_realtime_1h_view(spark, store)
        return view, view.filter(F.col("conv_id") == conv).collect()

    (view, rows), jobs = spark_jobs(read)
    exchanges = audit(view).n_exchanges

    if split == "one":
        assert len(jobs) == 1 and exchanges == 0
    else:
        assert exchanges == 1
    for path in view.inputFiles():
        tier, d = (p.split("=", 1)[1] for p in path.split(os.sep)[-3:-1])
        assert tier == "1h" or d not in coarse_days, path
        assert tier != "1m_log" or d == open_day, path

    got = pd.DataFrame([r.asDict() for r in rows])
    want = rollup_turns(turns, "1h").filter(F.col("conv_id") == conv).toPandas()
    cols = list(want.columns)
    assert len(got) == len(want) > 0
    pd.testing.assert_frame_equal(
        got[cols].sort_values("window_start").reset_index(drop=True),
        want.sort_values("window_start").reset_index(drop=True),
        check_exact=True,
    )
