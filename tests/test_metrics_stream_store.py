"""Streaming -> TierStore ingestion: exactly-once epoch logs and the
real-time view over them."""

from __future__ import annotations

from insar_spark.sources.catalog import TierStore
from insar_spark.streaming.rollup_stream import stream_to_tierstore


def test_stream_to_tierstore_exactly_once(spark, tmp_path, transcripts):
    src = str(tmp_path / "src")
    transcripts.write.mode("overwrite").parquet(src)
    store = TierStore(str(tmp_path / "tiers"))
    # file replay has unbounded time disorder (each parquet file spans the
    # whole range), so the watermark must cover it or late rows are dropped
    q = stream_to_tierstore(
        spark, src, store, checkpoint_dir=str(tmp_path / "ckpt"),
        watermark="3650 days",
    )
    q.processAllAvailable()
    q.stop()

    stored = store.read_tier_log(spark, "1m")
    from insar_spark.operators.rollup import rollup_turns

    direct = rollup_turns(transcripts, "1m")
    assert stored.count() == direct.count()
    # latest-epoch-wins view equals the batch rollup exactly
    a = stored.selectExpr("sum(n_turns) s").first()["s"]
    b = direct.selectExpr("sum(n_turns) s").first()["s"]
    assert a == b
    man = store.manifest("1m")
    assert man["snapshots"][0]["run_params"]["source"] == "stream"

    # restart the stream on the same checkpoint: no new data -> no commits
    n_snaps = len(man["snapshots"])
    q2 = stream_to_tierstore(
        spark, src, store, checkpoint_dir=str(tmp_path / "ckpt"),
        watermark="3650 days",
    )
    q2.processAllAvailable()
    q2.stop()
    assert len(store.manifest("1m")["snapshots"]) == n_snaps
    assert store.read_tier_log(spark, "1m").count() == direct.count()


def test_write_tier_log_epoch_replay_dropped(spark, tmp_path, transcripts):
    from insar_spark.operators.rollup import rollup_turns

    store = TierStore(str(tmp_path / "tiers2"))
    r = rollup_turns(transcripts.filter("conv_id < 'conv00000005'"), "1m")
    first = store.write_tier_log(r, "1m", epoch=0)
    assert first["written"] > 0
    replay = store.write_tier_log(r, "1m", epoch=0)  # crash-replay of epoch 0
    assert replay["skipped_epoch"] == 0
    assert store.read_tier_log(spark, "1m").count() == r.count()


def test_write_tier_log_onto_legacy_entry_keeps_old_files(spark, tmp_path, transcripts):
    """A pre-file-tracking day entry (no 'files' list — read via the
    whole-directory fallback) that receives a new epoch append must not
    flip to a file list containing ONLY the new epoch: the older parquet
    files in the day dir would silently vanish from read_tier."""
    import json

    from insar_spark.operators.rollup import rollup_turns

    store = TierStore(str(tmp_path / "tiers3"))
    r = rollup_turns(transcripts.filter("conv_id < 'conv00000005'"), "1m")
    store.write_tier_log(r, "1m", epoch=0)
    n0 = store.read_tier(spark, "1m").count()

    # simulate a store written before file tracking: strip 'files'
    mp = store._manifest_path("1m")
    man = json.load(open(mp))
    for part in man["partitions"].values():
        part.pop("files", None)
    json.dump(man, open(mp, "w"))
    assert store.read_tier(spark, "1m").count() == n0  # dir fallback works

    r2 = rollup_turns(transcripts.filter("conv_id < 'conv00000003'"), "1m")
    second = store.write_tier_log(r2, "1m", epoch=1)
    assert second["written"] > 0
    # both generations visible: old (enumerated into the list) + new epoch
    assert store.read_tier(spark, "1m").count() == n0 + second["written"]


def test_realtime_view_reuse_follows_every_commit(spark, tmp_path, transcripts):
    """stats_realtime_1h_view is reused while no tier commits and rebuilt
    after every append, seal, cascade and expiry: each time it equals a
    batch 1h rollup of everything appended so far. A pristine copy
    restored at the same root repeats the snapshot ids over new files; the
    view then serves the new rows, never a stale plan over vacuumed
    files."""
    import shutil

    import pandas as pd
    from pyspark.sql import functions as F

    from insar_spark.operators.rollup import cascade, rollup_turns
    from insar_spark.streaming.rollup_stream import (
        seal_and_compact,
        stats_realtime_1h_view,
        streaming_rollup_1m,
    )

    # drops cut at midnight, so no 1m window spans two appends
    cuts = ["2025-01-01", "2025-01-06", "2025-01-10", "2025-01-13"]
    d0, d1, d2 = (
        transcripts.filter((F.col("ts") >= lo) & (F.col("ts") < hi))
        for lo, hi in zip(cuts, cuts[1:])
    )
    root = str(tmp_path / "tiers_reuse")
    pristine = str(tmp_path / "pristine")
    store = TierStore(root)
    key = ["conv_id", "window_start"]

    def assert_view_equals_batch(*appended):
        view = stats_realtime_1h_view(spark, store)
        assert stats_realtime_1h_view(spark, store) is view
        turns = appended[0]
        for d in appended[1:]:
            turns = turns.unionByName(d)
        want = rollup_turns(turns, "1h").toPandas()
        cols = [c for c in want.columns if c in view.columns]
        got = view.toPandas()[cols].sort_values(key).reset_index(drop=True)
        want = want[cols].sort_values(key).reset_index(drop=True)
        pd.testing.assert_frame_equal(got, want, check_dtype=False)

    store.write_tier_log(streaming_rollup_1m(d0), "1m_log", epoch=0)
    assert_view_equals_batch(d0)
    shutil.copytree(root, pristine)
    store.write_tier_log(streaming_rollup_1m(d1), "1m_log", epoch=1)
    assert_view_equals_batch(d0, d1)

    # same root, same snapshot ids, new file names
    shutil.rmtree(root)
    shutil.copytree(pristine, root)
    store.write_tier_log(streaming_rollup_1m(d2), "1m_log", epoch=1)
    assert store.current_snapshot_id("1m_log") == 2
    assert_view_equals_batch(d0, d2)

    assert seal_and_compact(spark, store)["written_days"]
    assert_view_equals_batch(d0, d2)
    store.write_tier(cascade(store.read_tier(spark, "1m").drop("day"), "1h"), "1h")
    assert_view_equals_batch(d0, d2)
    assert store.expire("1m", "2025-01-12")  # days the 1h tier covers
    assert_view_equals_batch(d0, d2)
