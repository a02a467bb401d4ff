"""TierStore: commit/resume/expire/compact semantics."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from insar_spark.operators.rollup import rollup_turns
from insar_spark.sources.catalog import TierStore


@pytest.fixture()
def store(tmp_path):
    return TierStore(str(tmp_path / "tiers"))


def test_write_read_roundtrip(spark, transcripts, store):
    rolled = rollup_turns(transcripts, "1h")
    res = store.write_tier(rolled, "1h", run_params={"tier": "1h", "seed": 42})
    assert res["written_days"] and not res["skipped_days"]
    back = store.read_tier(spark, "1h").drop("day")
    a = rolled.toPandas().sort_values(["conv_id", "window_start"]).reset_index(drop=True)
    b = (
        back.toPandas()[a.columns.tolist()]
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b, check_exact=True)


def test_resume_skips_committed_days(spark, transcripts, store):
    rolled = rollup_turns(transcripts, "1d")
    first = store.write_tier(rolled, "1d")
    n_first = store.read_tier(spark, "1d").count()
    # re-run the exact same ingest: nothing written, nothing duplicated
    second = store.write_tier(rolled, "1d")
    assert second["written_days"] == []
    assert set(second["skipped_days"]) == set(first["written_days"])
    assert store.read_tier(spark, "1d").count() == n_first


def test_manifest_lineage_and_metrics(spark, transcripts, store):
    rolled = rollup_turns(transcripts, "1d")
    store.write_tier(rolled, "1d", run_params={"engine": "insar_spark"})
    man = store.manifest("1d")
    assert man["snapshots"][0]["run_params"]["engine"] == "insar_spark"
    total = sum(p["rows"] for p in man["partitions"].values())
    assert total == rolled.count()
    for p in man["partitions"].values():
        assert p["rows"] > 0 and p["w_min"] <= p["w_max"] and p["snapshot"] == 1


def test_commit_stats_come_from_footers_and_equal_the_data(spark, transcripts, store):
    """One-pass commit: each day's manifest rows/w_min/w_max (read from the
    written files' window_start column) equal a groupBy(day) over the
    stored tier. A session writing INT96 timestamps (no footer min/max) is
    refused before anything is written."""
    from pyspark.sql import functions as F

    store.write_tier(rollup_turns(transcripts, "1m"), "1m")
    want = {
        r["day"]: {"rows": r["rows"], "w_min": r["w_min"], "w_max": r["w_max"]}
        for r in store.read_tier(spark, "1m")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.min("window_start").cast("string").alias("w_min"),
            F.max("window_start").cast("string").alias("w_max"),
        )
        .collect()
    }
    parts = store.manifest("1m")["partitions"]
    got = {
        d: {k: p[k] for k in ("rows", "w_min", "w_max")} for d, p in parts.items()
    }
    assert got == want and len(got) > 1

    key = "spark.sql.parquet.outputTimestampType"
    spark.conf.set(key, "INT96")
    try:
        with pytest.raises(ValueError, match="TIMESTAMP_MICROS"):
            store.write_tier(rollup_turns(transcripts, "1h"), "1h")
    finally:
        spark.conf.set(key, "TIMESTAMP_MICROS")
    assert not os.path.exists(store.tier_path("1h"))


def test_expire_drops_old_partitions(spark, transcripts, store):
    rolled = rollup_turns(transcripts, "1d")
    store.write_tier(rolled, "1d")
    days = sorted(store.committed_days("1d"))
    store.retention["1d"] = 3
    # expire as-of 5 days after the last day: everything older than last-2
    import datetime as dt

    now = (dt.date.fromisoformat(days[-1])).isoformat()
    expired = store.expire("1d", now)
    assert expired == [d for d in days if d < (dt.date.fromisoformat(now) - dt.timedelta(days=3)).isoformat()]
    live = store.read_tier(spark, "1d")
    remaining_days = {r["day"] for r in live.select("day").distinct().collect()}
    assert remaining_days == set(days) - set(expired)


def test_compact_preserves_rows(spark, transcripts, store):
    rolled = rollup_turns(transcripts, "1d")
    store.write_tier(rolled, "1d")
    day = sorted(store.committed_days("1d"))[0]
    before = store.read_tier(spark, "1d").filter(f"day = '{day}'").count()
    n = store.compact(spark, "1d", day)
    assert n == before
    after = store.read_tier(spark, "1d").filter(f"day = '{day}'").count()
    assert after == before
    ops = [s["op"] for s in store.manifest("1d")["snapshots"]]
    assert ops == ["append", "compact"]


def test_incremental_day_arrival(spark, store):
    """Data arriving in two chunks split by time: the second ingest writes
    only the new days, and the stored tier equals a single full ingest."""
    from pyspark.sql import functions as F

    from insar_spark.synth import synth_transcripts

    full = synth_transcripts(spark, n_convs=30, seed=9, mega_every=0).cache()
    cut = "2025-01-15"
    first = rollup_turns(full.filter(F.col("ts") < cut), "1d")
    store.write_tier(first, "1d")
    days_first = set(store.committed_days("1d"))

    second = store.write_tier(rollup_turns(full, "1d"), "1d")
    assert set(second["skipped_days"]) == days_first
    assert all(d >= cut[:10] for d in second["written_days"])

    stored = (
        store.read_tier(spark, "1d")
        .drop("day")
        .toPandas()
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )
    direct = (
        rollup_turns(full, "1d")
        .toPandas()
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )
    # boundary day: windows of the cut day may exist in both chunks — the
    # day-commit rule keeps the FIRST commit's (partial) version, which is
    # exactly why production ingest must arrive day-aligned; assert
    # equality away from the boundary day and presence for all days
    cut_day = cut[:10]
    s2 = stored[stored["window_start"].dt.strftime("%Y-%m-%d") != cut_day]
    d2 = direct[direct["window_start"].dt.strftime("%Y-%m-%d") != cut_day]
    pd.testing.assert_frame_equal(
        s2.reset_index(drop=True), d2[s2.columns].reset_index(drop=True), check_exact=True
    )
    full.unpersist()


def test_seal_before_prevents_partial_day_commit(spark, store):
    """With the ingest watermark, the two-chunk arrival of the previous
    test becomes exactly equal to a single full ingest: the in-flight
    boundary day is not committed until the second pass."""
    from pyspark.sql import functions as F

    from insar_spark.synth import synth_transcripts

    full = synth_transcripts(spark, n_convs=30, seed=9, mega_every=0).cache()
    cut = "2025-01-15"
    first = rollup_turns(full.filter(F.col("ts") < cut), "1d")
    res1 = store.write_tier(first, "1d", seal_before=cut)
    assert all(d < cut for d in res1["written_days"])

    store.write_tier(rollup_turns(full, "1d"), "1d")  # final pass seals rest
    stored = (
        store.read_tier(spark, "1d")
        .drop("day")
        .toPandas()
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )
    direct = (
        rollup_turns(full, "1d")
        .toPandas()
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(stored[direct.columns.tolist()], direct, check_exact=True)
    full.unpersist()


def test_orphan_files_from_crashed_write_are_invisible(spark, transcripts, store):
    """A crash between the data-file move and the manifest commit leaves
    unmanifested files in day dirs; read_tier must not see them."""
    import os
    import shutil

    rolled = rollup_turns(transcripts, "1m")
    store.write_tier(rolled, "1m")
    n = store.read_tier(spark, "1m").count()
    # simulate the crash: copy a committed file into the same day dir under
    # an unmanifested name (exactly what a re-run after a mid-move crash
    # would leave behind)
    man = store.manifest("1m")
    day = sorted(man["partitions"])[0]
    day_dir = store.tier_path("1m", day)
    src = os.path.join(day_dir, man["partitions"][day]["files"][0])
    shutil.copy(src, os.path.join(day_dir, "snap99-orphan.parquet"))
    assert store.read_tier(spark, "1m").count() == n  # orphan ignored


def test_read_empty_tier_raises_clearly(spark, store):
    with pytest.raises(ValueError, match="no committed partitions"):
        store.read_tier(spark, "1h")


def test_read_tier_days_scans_only_those_days(spark, store, spark_jobs):
    """``read_tier(days=...)`` opens only the committed files of those days,
    decided from the manifest (no Spark job to build it); days with no
    commit among them raise like an empty tier. ``read_tier_log`` and
    ``tier_rows`` (manifest counts; footers for log days) prune the same
    way."""
    from pyspark.sql import functions as F

    rolled = spark.range(6).select(
        F.format_string("c%02d", (F.col("id") % 2).cast("int")).alias("conv_id"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("id") * 86400).alias(
            "window_start"
        ),
        F.col("id").alias("n_turns"),
    )
    store.write_tier(rolled, "1m")
    store.write_tier_log(rolled, "1m_log", epoch=0)
    store.write_tier_log(rolled.withColumn("n_turns", F.col("n_turns") + 10), "1m_log", epoch=1)
    days = sorted(store.committed_days("1m"))
    pick = {days[1], days[4], "1999-01-01"}

    (df, log, rows), jobs = spark_jobs(
        lambda: (
            store.read_tier(spark, "1m", days=pick),
            store.read_tier_log(spark, "1m_log", days=pick),
            [store.tier_rows(t, d) for t in ("1m", "1m_log") for d in (pick, None)],
        )
    )
    assert jobs == []

    want = {days[1], days[4]}
    assert {p.split("day=")[1].split("/")[0] for p in df.inputFiles()} == want
    assert {r["day"] for r in df.select("day").distinct().collect()} == want
    assert sorted(r["n_turns"] for r in df.collect()) == [1, 4]
    assert sorted(r["n_turns"] for r in log.collect()) == [11, 14]
    assert rows == [2, 6, 4, 12]
    assert store.tier_bytes("1m") == sum(
        os.path.getsize(p) for p in store.day_files("1m")
    ) > sum(os.path.getsize(p) for p in store.day_files("1m", want))
    with pytest.raises(ValueError, match="no committed partitions"):
        store.read_tier(spark, "1m", days=["1999-01-01"])
    with pytest.raises(ValueError, match="no committed partitions"):
        store.read_tier(spark, "1m", days=[])


def test_compact_is_side_by_side_and_size_targeted(spark, transcripts, store):
    import os

    rolled = rollup_turns(transcripts, "1m")
    store.write_tier(rolled, "1m")
    man = store.manifest("1m")
    day = sorted(man["partitions"])[0]
    before = store.read_tier(spark, "1m").toPandas()
    # tiny byte budget -> multiple output files (no coalesce(1) ceiling)
    n = store.compact(spark, "1m", day, target_file_bytes=4096)
    assert n > 0
    man2 = store.manifest("1m")
    new_files = man2["partitions"][day]["files"]
    assert all(f.startswith("compact") for f in new_files)
    assert len(new_files) >= 2  # size-targeted, not single-task
    # old generation vacuumed
    day_dir = store.tier_path("1m", day)
    on_disk = {f for f in os.listdir(day_dir) if f.endswith(".parquet")}
    assert on_disk == set(new_files)
    after = store.read_tier(spark, "1m").toPandas()
    cols = sorted(before.columns)
    a = before[cols].sort_values(cols).reset_index(drop=True)
    b = after[cols].sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_exact=True)


def test_read_tier_runs_no_job_and_keeps_recorded_schema(spark, store):
    """Building a tier DataFrame launches no Spark job: the schema comes
    from the manifest (no inference job) and the explicit file list is
    stat'ed on the driver (no distributed listing job past 32 files).
    Dtypes read back equal the written ones, `day` a string."""
    import json

    from pyspark.sql import functions as F

    sc = spark.sparkContext
    # 40 days, one conversation-sorted file per day -> a 40-file commit
    rolled = spark.range(40).select(
        F.format_string("c%02d", (F.col("id") % 3).cast("int")).alias("conv_id"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("id") * 86400).alias(
            "window_start"
        ),
        F.col("id").alias("n_turns"),
    )
    store.write_tier(rolled, "1m")
    store.write_tier_log(rolled, "1m_log", epoch=0)
    store.write_tier(rolled.drop("conv_id"), "g_1d")
    assert len(store.committed_files("1m")) > 32

    def build(tier):
        group = f"read_tier-{tier}"
        sc.setJobGroup(group, "read_tier builds a DataFrame")
        try:
            df = store.read_tier(spark, tier)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], tier
        return df

    cases = {
        "1m": rolled.dtypes + [("day", "string")],
        "1m_log": rolled.dtypes + [("_epoch", "int"), ("day", "string")],
        "g_1d": rolled.drop("conv_id").dtypes + [("day", "string")],
    }
    for tier, want in cases.items():
        df = build(tier)
        assert df.dtypes == want, tier
        assert df.count() == 40

    # a commit with a changed column type is refused (new days, so it
    # would otherwise write)
    later = rolled.select(
        "conv_id",
        (F.col("window_start") + F.expr("INTERVAL 100 DAYS")).alias("window_start"),
        F.col("n_turns").cast("double").alias("n_turns"),
    )
    with pytest.raises(ValueError, match="differs from the recorded"):
        store.write_tier(later, "1m")
    with pytest.raises(ValueError, match="differs from the recorded"):
        store.write_tier_log(later, "1m_log", epoch=1)
    assert store.read_tier(spark, "1m").count() == 40
    assert len(store.manifest("1m_log")["snapshots"]) == 1
    # nullability and column order are not compared
    store.write_tier(
        later.select(
            F.when(F.col("n_turns") >= 0, F.col("n_turns").cast("long")).alias("n_turns"),
            "window_start",
            "conv_id",
        ),
        "1m",
    )
    assert store.read_tier(spark, "1m").count() == 80

    # a store written before schemas were recorded still reads (inferred)
    mp = store._manifest_path("1m")
    man = json.load(open(mp))
    del man["schema"]
    json.dump(man, open(mp, "w"))
    legacy = store.read_tier(spark, "1m")
    assert legacy.dtypes == cases["1m"] and legacy.count() == 80
