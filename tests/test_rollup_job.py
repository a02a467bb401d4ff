"""End-to-end rollup job: write, resume, expire, cascade-from-storage."""

from __future__ import annotations

import pandas as pd

from jobs.rollup_job import main as job_main


def test_job_end_to_end_and_resume(spark, tmp_path):
    store_path = str(tmp_path / "tiers")
    m1 = job_main(["--input", "synth:60", "--store", store_path, "--master", "local[4]"])
    assert m1["tiers"]["1m"]["written_days"] > 0
    assert m1["rolled_up_points"] > 0

    # resume: nothing re-written, identical point count
    m2 = job_main(["--input", "synth:60", "--store", store_path, "--master", "local[4]"])
    assert m2["tiers"]["1m"]["written_days"] == 0
    assert m2["tiers"]["1m"]["skipped_days"] == m1["tiers"]["1m"]["written_days"]
    assert m2["rolled_up_points"] == m1["rolled_up_points"]


def test_job_cascade_matches_direct(spark, tmp_path):
    """1h tier built from the STORED 1m tier == direct 1h rollup of raw."""
    from insar_spark.operators.rollup import rollup_turns
    from insar_spark.sources.catalog import TierStore
    from insar_spark.synth import synth_transcripts

    store_path = str(tmp_path / "tiers2")
    job_main(["--input", "synth:60", "--store", store_path, "--master", "local[4]"])
    store = TierStore(store_path)
    stored_1h = (
        store.read_tier(spark, "1h")
        .drop("day")
        .toPandas()
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )
    turns = synth_transcripts(spark, n_convs=60)
    direct = (
        rollup_turns(turns, "1h")
        .toPandas()
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        stored_1h[direct.columns.tolist()], direct, check_exact=True
    )


def test_job_sketch_tiers_resume_and_match_direct(spark, tmp_path):
    """--sketch maintains every family's batch tiers (its chain from
    ``batch_from`` on) through the same TierStore: the first run commits
    days to each, a re-run commits none (day-commit resume), and the
    STORED cascades equal direct 1h builds of the raw turns."""
    from pyspark.sql import functions as F

    from insar_spark.families import enabled
    from insar_spark.operators.sketch import hist_rollup
    from insar_spark.sources.catalog import TierStore
    from insar_spark.synth import synth_transcripts

    tiers = {
        t for fam in enabled(True) for t in fam.tiers[fam.tiers.index(fam.batch_from):]
    }
    store_path = str(tmp_path / "tiers_sk")
    argv = ["--input", "synth:60", "--store", store_path,
            "--master", "local[4]", "--sketch"]
    m1 = job_main(argv)
    assert set(m1["tiers"]) == tiers
    assert [t for t in sorted(tiers) if m1["tiers"][t]["written_days"] <= 0] == []
    # lb store policy: the batch-persisted family starts at 1h (the tall
    # sketch barely collapses sparse series at 1m; lb_1m is stream-only)
    assert "lb_1m" not in m1["tiers"]

    m2 = job_main(argv)
    assert set(m2["tiers"]) == tiers
    assert [t for t in sorted(tiers) if m2["tiers"][t]["written_days"] != 0] == []

    store = TierStore(store_path)
    stored = (
        store.read_tier(spark, "hist_1h")
        .drop("day")
        .toPandas()
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )
    turns = synth_transcripts(spark, n_convs=60)
    direct = (
        hist_rollup(
            turns.select(
                "conv_id", "ts",
                F.length("text").cast("double").alias("text_len"),
            ),
            "1h",
            value_col="text_len",
        )
        .toPandas()
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )
    assert len(stored) == len(direct) > 0
    assert [list(h) for h in stored["hist"]] == [list(h) for h in direct["hist"]]

    # the stored log-bucket cascade equals a direct 1h sketch of the raw
    # turns, and the manifest records the sketch's resolution
    from insar_spark.operators.sketch import LB_SUB_BITS, lb_rollup

    stored_lb = (
        store.read_tier(spark, "lb_1h")
        .drop("day")
        .toPandas()
        .sort_values(["conv_id", "window_start", "bucket"])
        .reset_index(drop=True)
    )
    direct_lb = (
        lb_rollup(
            turns.select(
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
    assert len(stored_lb) == len(direct_lb) > 0
    assert (stored_lb["bucket"] == direct_lb["bucket"]).all()
    assert (stored_lb["cnt"] == direct_lb["cnt"]).all()
    snap = store.manifest("lb_1h")["snapshots"][-1]["run_params"]
    assert snap["lb_sub_bits"] == LB_SUB_BITS

    # store policy, enforced: the lb family's finest PERSISTED tier never
    # exceeds the hist tier's tier-0 FOOTPRINT (on-disk bytes — row
    # counts mislead across tier shapes: this ultra-sparse synth corpus
    # barely collapses rows even at 1h, but a tall lb row is ~30 B vs a
    # ~530 B 64-bin array row) on the sparse synth corpus, and the row
    # count stays strictly below the raw turn count
    assert 0 < store.tier_bytes("lb_1h") <= store.tier_bytes("hist_1m")
    lb_rows = sum(
        p["rows"] for p in store.manifest("lb_1h")["partitions"].values()
    )
    assert 0 < lb_rows < turns.count()
    import os

    assert not os.path.exists(store.tier_path("lb_1m"))

    # the HLL register tier rides the same store: p in the manifest
    # (reader derives register count + LC cutoff from the stored tier),
    # and the stored max-cascade equals a direct 1h rollup of raw turns
    from insar_spark.operators.sketch import HLL_P, hll_rollup

    for hll_tier in ("hll_1m", "hll_1h"):
        snap = store.manifest(hll_tier)["snapshots"][-1]["run_params"]
        assert snap["hll_p"] == HLL_P
    stored_hll = (
        store.read_tier(spark, "hll_1h")
        .drop("day")
        .toPandas()
        .sort_values(["window_start", "reg"])
        .reset_index(drop=True)
    )
    direct_hll = (
        hll_rollup(turns.select("conv_id", "ts"), "1h")
        .toPandas()
        .sort_values(["window_start", "reg"])
        .reset_index(drop=True)
    )
    assert len(stored_hll) == len(direct_hll) > 0
    assert (stored_hll["reg"] == direct_hll["reg"]).all()
    assert (stored_hll["max_rho"] == direct_hll["max_rho"]).all()

    # the count-min tier: d/w/seed in the manifest (probes must use the
    # cells the tier was built with), stored sum-cascade == direct 1h
    from insar_spark.operators.sketch import (
        CMS_D,
        CMS_SEED,
        CMS_W,
        cms_rollup,
    )

    for cms_tier in ("cms_1m", "cms_1h"):
        snap = store.manifest(cms_tier)["snapshots"][-1]["run_params"]
        assert (snap["cms_d"], snap["cms_w"], snap["cms_seed"]) == (
            CMS_D, CMS_W, CMS_SEED,
        )
    cms_key = ["window_start", "row_j", "cell"]
    stored_cms = (
        store.read_tier(spark, "cms_1h")
        .drop("day")
        .toPandas()
        .sort_values(cms_key)
        .reset_index(drop=True)
    )
    direct_cms = (
        cms_rollup(turns.select("conv_id", "ts"), "1h")
        .toPandas()
        .sort_values(cms_key)
        .reset_index(drop=True)
    )
    assert len(stored_cms) == len(direct_cms) > 0
    assert (stored_cms["cell"] == direct_cms["cell"]).all()
    assert (stored_cms["cnt"] == direct_cms["cnt"]).all()


def test_job_snapshot_keep_time_travel(spark, tmp_path):
    """--snapshot-keep N: a retention-expired tier stays readable at its
    pre-expire snapshot, and rollback restores it — the job-level
    Iceberg-snapshot checkpoint story (expire defers its vacuum)."""
    from insar_spark.sources.catalog import TierStore

    store_path = str(tmp_path / "tiers_tt")
    argv = [
        "--input", "synth:40", "--store", store_path,
        "--master", "local[4]", "--snapshot-keep", "5",
    ]
    job_main(argv)
    store = TierStore(store_path, snapshot_keep=5)
    snap = store.current_snapshot_id("1m")
    n = store.read_tier(spark, "1m").count()
    assert n > 0

    # re-run far past every retention horizon: all 1m days expire
    m2 = job_main(argv + ["--expire-asof", "2030-01-01"])
    assert m2["expired"]["1m"]
    assert store.committed_days("1m") == set()
    # the pre-expire snapshot still serves reads (files tombstoned, kept)
    assert store.read_tier(spark, "1m", as_of=snap).count() == n
    # rollback makes it live again; closing the horizon afterwards must
    # not tear the restored state (tombstones were cancelled)
    store.rollback("1m", snap)
    store.expire_snapshots("1m", keep_last=0)
    assert store.read_tier(spark, "1m").count() == n


def test_job_restate_day_rebuilds_all_tiers(spark, tmp_path):
    """--restate-day (late/corrected data after a day is sealed): the
    day's partitions are dropped across every tier the run maintains and
    the normal idempotent build refills exactly them from the corrected
    input — every restated tier ends bit-equal to a from-scratch build on
    the corrected corpus, untouched days keep their exact file lists, and
    the pre-restate numbers stay readable via snapshot time travel."""
    from pyspark.sql import functions as F

    from insar_spark.sources.catalog import TierStore
    from insar_spark.synth import synth_transcripts

    turns = synth_transcripts(spark, n_convs=40)
    # the untouched day lies in another month: a commit to a month-file
    # tier (1d, hist_1h, m4_1w) rewrites the file of each month it touches
    turns = turns.unionByName(
        turns.filter(F.date_format("ts", "yyyy-MM-dd") == "2025-01-02")
        .withColumn("conv_id", F.concat(F.lit("m"), "conv_id"))
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 40 DAYS"))
    )
    days = sorted(
        r["d"]
        for r in turns.select(
            F.date_format("ts", "yyyy-MM-dd").alias("d")
        ).distinct().collect()
    )
    day = days[len(days) // 2]
    other = days[-1]
    assert day[:7] != other[:7]
    v1 = str(tmp_path / "v1")
    v2 = str(tmp_path / "v2")
    turns.write.mode("overwrite").parquet(v1)
    # the correction: every turn on `day` gets longer text (changes the
    # stats, histogram, lb, M4, and dedup-relevant columns for that day)
    turns.withColumn(
        "text",
        F.when(
            F.date_format("ts", "yyyy-MM-dd") == day,
            F.concat(F.col("text"), F.lit("-corrected")),
        ).otherwise(F.col("text")),
    ).write.mode("overwrite").parquet(v2)

    store_path = str(tmp_path / "tiers_rs")
    base_argv = [
        "--store", store_path, "--master", "local[4]",
        "--sketch", "--snapshot-keep", "8",
    ]
    job_main(["--input", v1] + base_argv)
    store = TierStore(store_path, snapshot_keep=8)
    snap_1d = store.current_snapshot_id("1d")
    v1_day_1d = (
        store.read_tier(spark, "1d")
        .filter(F.col("day") == day)
        .drop("day")
        .toPandas()
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )
    other_files_before = store.manifest("1d")["partitions"][other]["files"]

    m = job_main(["--input", v2, "--restate-day", day] + base_argv)
    assert m["restated"]["1d"] == [day]
    assert m["restated"]["hist_1h"] == [day]
    # weekly tier: the containing Monday's partition was restated
    import datetime as dt

    monday = (
        dt.date.fromisoformat(day)
        - dt.timedelta(days=dt.date.fromisoformat(day).weekday())
    ).isoformat()
    assert m["restated"]["m4_1w"] == [monday]
    assert m["tiers"]["1d"]["written_days"] == 1  # only the dropped day

    # every restated tier == a from-scratch build on the corrected corpus
    fresh_path = str(tmp_path / "tiers_fresh")
    job_main(["--input", v2, "--store", fresh_path, "--master", "local[4]",
              "--sketch"])
    fresh = TierStore(fresh_path)
    for tier, keys in [
        ("1d", ["conv_id", "window_start"]),
        ("hist_1h", ["conv_id", "window_start"]),
        ("m4_1w", ["conv_id", "window_start"]),
    ]:
        got = (
            store.read_tier(spark, tier)
            .drop("day")
            .toPandas()
            .sort_values(keys)
            .reset_index(drop=True)
        )
        exp = (
            fresh.read_tier(spark, tier)
            .drop("day")
            .toPandas()
            .sort_values(keys)
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got[exp.columns.tolist()], exp,
                                      check_exact=True)

    # untouched days were not rewritten (exact same committed files)
    assert store.manifest("1d")["partitions"][other]["files"] \
        == other_files_before
    # the pre-restate snapshot still serves the V1 numbers for the day
    v1_again = (
        store.read_tier(spark, "1d", as_of=snap_1d)
        .filter(F.col("day") == day)
        .drop("day")
        .toPandas()
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        v1_again[v1_day_1d.columns.tolist()], v1_day_1d, check_exact=True
    )


def test_batch_restate_heals_a_stream_built_store(spark, tmp_path, transcripts):
    """The documented backfill path: a day sealed by the STREAMING job is
    invalidated and rebuilt by the batch job's --restate-day with a
    day-filtered corrected input. The two jobs interoperate on one store:
    the restated day equals a batch rollup of the corrected turns, every
    other sealed day keeps its exact stream-built file list."""
    from pyspark.sql import functions as F

    from insar_spark.operators.rollup import rollup_turns
    from insar_spark.sources.catalog import TierStore
    from jobs.stream_job import run_cycle

    src = str(tmp_path / "drop_bf")
    transcripts.write.mode("overwrite").parquet(src)
    store = TierStore(str(tmp_path / "tiers_bf"))
    seal = run_cycle(
        spark, store, src, str(tmp_path / "ckpt_bf"), watermark="60 minutes"
    )
    sealed_days = sorted(store.committed_days("1m"))
    assert len(sealed_days) > 2
    day = sealed_days[len(sealed_days) // 2]
    other = sealed_days[0]
    other_files = store.manifest("1m")["partitions"][other]["files"]

    # the correction, day-filtered as a real backfill job would pass it
    corrected = transcripts.filter(
        F.date_format("ts", "yyyy-MM-dd") == day
    ).withColumn("text", F.concat(F.col("text"), F.lit("-fixed")))
    v2 = str(tmp_path / "v2_bf")
    corrected.write.mode("overwrite").parquet(v2)

    m = job_main([
        "--input", v2, "--store", str(tmp_path / "tiers_bf"),
        "--master", "local[4]", "--restate-day", day,
    ])
    assert m["restated"]["1m"] == [day]
    assert m["tiers"]["1m"]["written_days"] == 1

    got = (
        store.read_tier(spark, "1m")
        .filter(F.col("day") == day)
        .drop("day")
        .toPandas()
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )
    exp = (
        rollup_turns(corrected, "1m")
        .toPandas()
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got[exp.columns.tolist()], exp,
                                  check_exact=True)
    # stream-built days outside the restate are untouched files
    assert store.manifest("1m")["partitions"][other]["files"] == other_files


def _land(path, turns, mode="overwrite"):
    turns.write.mode(mode).parquet(path)
    return path


def test_job_rerun_after_new_days_land_commits_only_those_days(spark, tmp_path):
    """The daily run: new days' files land in the input dir the job read
    before. The re-run commits exactly the new days to 1m, 1h and 1d and
    skips the old ones, and every tier then equals a one-shot build of
    the whole input."""
    from pyspark.sql import functions as F

    from insar_spark.sources.catalog import TierStore
    from insar_spark.synth import synth_transcripts

    turns = synth_transcripts(spark, n_convs=40)
    day = F.date_format("ts", "yyyy-MM-dd")
    days = sorted(r[0] for r in turns.select(day).distinct().collect())
    cut = days[len(days) // 2]
    old, new = [d for d in days if d < cut], [d for d in days if d >= cut]
    assert old and new

    src = _land(str(tmp_path / "in"), turns.filter(day < cut))
    sp = str(tmp_path / "t")
    argv = ["--input", src, "--store", sp, "--master", "local[4]"]
    first = job_main(argv)
    assert first["tiers"]["1m"]["written_days"] == len(old)

    _land(src, turns.filter(day >= cut), mode="append")
    m = job_main(argv)
    store = TierStore(sp)
    for tier in ("1m", "1h", "1d"):
        assert m["tiers"][tier]["written_days"] == len(new), tier
        assert m["tiers"][tier]["skipped_days"] == len(old), tier
        assert sorted(store.committed_days(tier)) == days, tier

    whole = _land(str(tmp_path / "whole"), turns)
    job_main(["--input", whole, "--store", str(tmp_path / "one"), "--master", "local[4]"])
    one = TierStore(str(tmp_path / "one"))

    def rows(s, tier):
        pdf = s.read_tier(spark, tier).drop("day").toPandas()
        return pdf.sort_values(["conv_id", "window_start"]).reset_index(drop=True)

    for tier in ("1m", "1h", "1d"):
        pd.testing.assert_frame_equal(rows(store, tier), rows(one, tier), check_exact=True)


def test_job_noop_resume_runs_no_spark_job(spark, tmp_path, spark_jobs):
    """A re-run over a landed parquet input with nothing pending decides
    from the manifests and the input footers alone: zero Spark jobs, with
    and without --sketch. An input whose ts range spans a day without
    rows takes the build path for that day, commits nothing and leaves
    every manifest unchanged."""
    from pyspark.sql import functions as F

    from insar_spark.sources.catalog import TierStore
    from insar_spark.synth import synth_transcripts

    turns = synth_transcripts(spark, n_convs=20)
    src = _land(str(tmp_path / "in"), turns)
    argv = ["--input", src, "--store", str(tmp_path / "t"), "--master", "local[4]"]
    first = job_main(argv + ["--sketch"])
    assert all(t["decided"] == "plan" for t in first["tiers"].values())
    assert first["tiers"]["1m"]["written_days"] > 2
    for extra in ([], ["--sketch"]):
        m, jobs = spark_jobs(lambda: job_main(argv + extra))
        assert jobs == [], extra
        assert len(m["tiers"]) == (13 if extra else 3)
        for tier, t in m["tiers"].items():
            assert t["decided"] == "manifest" and t["written_days"] == 0, tier
            assert t["skipped_days"] == first["tiers"][tier]["written_days"], tier
            assert t["ms"] >= 0
        assert m["rolled_up_points"] == first["rolled_up_points"]

    # a day inside the ts range holds no rows: 1m cannot be decided from
    # the footers, builds, and writes nothing; the cascades skip
    day = F.date_format("ts", "yyyy-MM-dd")
    gap = sorted(r[0] for r in turns.select(day).distinct().collect())[1]
    holed = _land(str(tmp_path / "holed"), turns.filter(day != gap))
    hargv = ["--input", holed, "--store", str(tmp_path / "h"), "--master", "local[4]"]
    job_main(hargv)
    store = TierStore(str(tmp_path / "h"))
    before = {t: store.manifest(t) for t in ("1m", "1h", "1d")}
    assert gap not in store.committed_days("1m")
    m = job_main(hargv)
    assert m["tiers"]["1m"]["decided"] == "plan"
    assert m["tiers"]["1h"]["decided"] == m["tiers"]["1d"]["decided"] == "manifest"
    assert all(t["written_days"] == 0 for t in m["tiers"].values())
    assert {t: store.manifest(t) for t in ("1m", "1h", "1d")} == before


def test_job_rerun_on_expired_store_commits_nothing(spark, tmp_path, spark_jobs):
    """Expired days never come back: a re-run without --expire-asof on an
    expired store writes no day and runs no Spark job (the 1m expiry
    floor excludes the expired days). Rolling 1m back to its pre-expire
    snapshot restores that snapshot's floor (none), so a --restate-day on
    a rolled-back day refills it."""
    from insar_spark.sources.catalog import TierStore
    from insar_spark.synth import synth_transcripts

    src = _land(str(tmp_path / "in"), synth_transcripts(spark, n_convs=40))
    sp = str(tmp_path / "t")
    argv = ["--input", src, "--store", sp, "--master", "local[4]", "--snapshot-keep", "5"]
    m1 = job_main(argv + ["--expire-asof", "2025-01-10"])
    expired = m1["expired"]["1m"]
    store = TierStore(sp, snapshot_keep=5)
    kept = store.committed_days("1m")
    assert expired and kept and not set(expired) & kept
    assert store.manifest("1m")["expired_before"] == "2025-01-03"
    rows = {d: p["rows"] for d, p in store.state_at("1m", 1).items()}

    m2, jobs = spark_jobs(lambda: job_main(argv))
    assert jobs == []
    assert all(t["written_days"] == 0 for t in m2["tiers"].values())
    assert store.committed_days("1m") == kept

    store.rollback("1m", 1)  # the pre-expire append
    assert "expired_before" not in store.manifest("1m")
    assert set(expired) <= store.committed_days("1m")
    m3 = job_main(argv + ["--restate-day", expired[0]])
    assert m3["restated"]["1m"] == [expired[0]]
    assert m3["tiers"]["1m"]["written_days"] == 1
    assert store.manifest("1m")["partitions"][expired[0]]["rows"] == rows[expired[0]]


def test_job_sketch_tiers_expire_at_their_family_horizons(spark, tmp_path):
    """Every sketch family declares its tiers' retention: hll/cms 1m days
    expire at the 1m horizon (7 days) with the stats 1m days, and their
    1h days stay until the 1h horizon (90 days)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from insar_spark.sources.catalog import TierStore
    from insar_spark.synth import synth_transcripts

    turns = synth_transcripts(spark, n_convs=20)
    last = turns.agg(F.max("ts")).first()[0].date()
    src = _land(str(tmp_path / "in"), turns)
    sp = str(tmp_path / "t")
    argv = ["--input", src, "--store", sp, "--master", "local[4]", "--sketch"]
    m1 = job_main(argv + ["--expire-asof", (last + dt.timedelta(days=8)).isoformat()])
    days = m1["expired"]["1m"]
    assert days and max(days) == last.isoformat()
    store = TierStore(sp)
    m2 = job_main(argv + ["--expire-asof", "2030-01-01"])
    for fam in ("hll", "cms"):
        assert m1["expired"][f"{fam}_1m"] == days, fam
        assert store.committed_days(f"{fam}_1m") == set(), fam
        assert m1["expired"][f"{fam}_1h"] == [], fam
        assert m2["expired"][f"{fam}_1h"] == days, fam
        assert store.committed_days(f"{fam}_1h") == set(), fam
