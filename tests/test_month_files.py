"""Month files for cascaded tiers: every tier after its family chain's
first stores one file per UTC calendar month. Reads open one file per
month; a shared file never serves a day that is not requested, expired or
dropped; expiry, restate, time travel and byte counts treat it as one file.
"""

from __future__ import annotations

import datetime as dt
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from insar_spark.operators.rollup import cascade, rollup_turns
from insar_spark.sources.catalog import TierStore

def _day():
    return F.date_format("window_start", "yyyy-MM-dd")


def _days(first: str, n: int) -> list[str]:
    d = dt.date.fromisoformat(first)
    return [(d + dt.timedelta(days=i)).isoformat() for i in range(n)]


def _turns(spark, start: str, hours: int, n_convs: int = 4, step_min: int = 50):
    """Transcript turns: each of ``n_convs`` conversations has one turn
    every ``step_min`` minutes for ``hours`` hours from ``start``."""
    i = F.col("id")
    step = (i / n_convs).cast("long")
    t0 = F.lit(start).cast("timestamp").cast("long")
    return spark.range(hours * 60 // step_min * n_convs).select(
        F.format_string("c%d", (i % n_convs).cast("int")).alias("conv_id"),
        ((t0 - 1735689600) / 600 + step).cast("int").alias("turn_idx"),
        F.element_at(
            F.array(*map(F.lit, ("user", "assistant", "tool"))), (i % 3 + 1).cast("int")
        ).alias("role"),
        F.repeat(F.lit("ab "), (F.pmod(F.xxhash64(i), F.lit(13)) + 1).cast("int")).alias("text"),
        F.when(i % 3 == 2, F.lit("bash")).alias("tool"),
        F.timestamp_seconds(t0 + step * step_min * 60 + i % n_convs * 7).alias("ts"),
    )


def _hourly(spark, first: str, n_days: int):
    """1h-tier-shaped rows: 3 conversations x 4 windows per day."""
    i = F.col("id")
    return spark.range(n_days * 12).select(
        F.format_string("c%d", (i % 3).cast("int")).alias("conv_id"),
        F.timestamp_seconds(
            F.lit(first).cast("timestamp").cast("long") + (i / 3).cast("long") * 6 * 3600
        ).alias("window_start"),
        i.alias("n_turns"),
    )


def _frame(df) -> pd.DataFrame:
    pdf = df.toPandas()
    cols = sorted(pdf.columns)
    return pdf[cols].sort_values(["conv_id", "window_start"]).reset_index(drop=True)


def _names(paths) -> set[str]:
    return {os.path.basename(p) for p in paths}


@pytest.mark.parametrize("first,n_files", [("2025-02-01", 1), ("2025-01-20", 2)])
def test_realtime_read_opens_one_coarse_file_per_month(spark, tmp_path, first, n_files):
    """28 committed 1h days, a sealed 1m day and an open log day: a
    filtered real-time read opens one 1h file per month the 28 days span
    (28 day files before) and equals a batch 1h rollup."""
    from insar_spark.streaming.rollup_stream import stats_realtime_1h_view

    days = _days(first, 30)
    coarse, fine_day, open_day = days[:28], days[28], days[29]
    turns = _turns(spark, first, 30 * 24)
    store = TierStore(str(tmp_path / "tiers"))
    store.write_tier(rollup_turns(turns, "1m"), "1m", seal_before=open_day)
    store.write_tier(
        cascade(store.read_tier(spark, "1m").drop("day"), "1h"), "1h", seal_before=fine_day
    )
    store.write_tier_log(
        rollup_turns(turns.filter(F.date_format("ts", "yyyy-MM-dd") == open_day), "1m"),
        "1m_log", epoch=0,
    )
    assert sorted(store.committed_days("1h")) == coarse

    view = stats_realtime_1h_view(spark, store).filter(F.col("conv_id") == "c1")
    rows = view.collect()
    opened = [p for p in view.inputFiles() if f"{os.sep}tier=1h{os.sep}" in p]
    assert len(opened) == n_files
    assert _names(opened) == _names(store.day_files("1h"))

    got = pd.DataFrame([r.asDict() for r in rows])
    want = rollup_turns(turns, "1h").filter(F.col("conv_id") == "c1").toPandas()
    assert len(got) == len(want) == 30 * 24
    pd.testing.assert_frame_equal(
        got[list(want.columns)].sort_values("window_start").reset_index(drop=True),
        want.sort_values("window_start").reset_index(drop=True),
        check_exact=True,
    )


def test_read_tier_days_of_part_of_a_month_file(spark, tmp_path, spark_jobs):
    """``read_tier(days=)`` of some days of a month file opens that one
    file and returns exactly those days; a read of every live day adds no
    filter. Neither build launches a Spark job."""
    store = TierStore(str(tmp_path / "tiers"))
    rows = _hourly(spark, "2025-02-01", 28)
    store.write_tier(rows, "1h")
    pick = {"2025-02-03", "2025-02-04", "2025-02-20", "1999-01-01"}
    want = pick - {"1999-01-01"}

    (part, full), jobs = spark_jobs(
        lambda: (store.read_tier(spark, "1h", days=pick), store.read_tier(spark, "1h"))
    )
    assert jobs == []
    assert len(part.inputFiles()) == 1 and part.inputFiles() == full.inputFiles()
    assert {r["day"] for r in part.select("day").distinct().collect()} == want
    expect = rows.filter(_day().isin(sorted(want)))
    pd.testing.assert_frame_equal(_frame(part.drop("day")), _frame(expect), check_exact=True)
    plan = lambda df: df._jdf.queryExecution().optimizedPlan().toString()  # noqa: E731
    assert "Filter" in plan(part) and "Filter" not in plan(full)
    assert full.count() == rows.count()


def test_tier_bytes_counts_a_shared_file_once(spark, tmp_path):
    store = TierStore(str(tmp_path / "tiers"))
    store.write_tier(_hourly(spark, "2025-02-01", 31), "1h")  # Feb 1 .. Mar 3
    files = store.day_files("1h")
    assert len(files) == 2 == len(store.committed_files("1h"))
    assert len(store.committed_days("1h")) == 31
    assert store.tier_bytes("1h") == sum(os.path.getsize(p) for p in files)
    assert store.day_files("1h", ["2025-02-03", "2025-02-04"]) == files[:1]


def test_mid_month_expiry_serves_no_expired_day_and_vacuums_the_file_last(spark, tmp_path):
    """Expiry is manifest-only: a month file whose early days expired is
    still read, with only its live days returned; it is vacuumed only
    after its last day expires and that snapshot passes ``snapshot_keep``."""
    store = TierStore(str(tmp_path / "tiers"), snapshot_keep=2)
    store.retention["1h"] = 5
    rows = _hourly(spark, "2025-02-01", 33)  # Feb 1 .. Mar 5
    store.write_tier(rows, "1h")  # snapshot 1
    feb_days = _days("2025-02-01", 28)
    (feb,) = store.day_files("1h", feb_days)

    def served(floor):
        got = store.read_tier(spark, "1h")
        assert got.filter(F.col("day") < floor).count() == 0
        expect = rows.filter(_day() >= floor)
        pd.testing.assert_frame_equal(_frame(got.drop("day")), _frame(expect), check_exact=True)

    prev = ""
    for now, floor in [
        ("2025-02-15", "2025-02-10"), ("2025-02-20", "2025-02-15"), ("2025-02-25", "2025-02-20")
    ]:  # snapshots 2-4
        assert store.expire("1h", now) == [d for d in feb_days if prev <= d < floor]
        served(floor)
        assert os.path.exists(feb)  # a live day still references it
        prev = floor
    # the last February day goes at snapshot 5; the file stays readable
    # for the kept snapshots and is vacuumed once snapshot 5 ages out
    store.expire("1h", "2025-03-06")  # snapshot 5, floor Mar 1
    served("2025-03-01")
    assert store.day_files("1h", feb_days) == []
    assert os.path.exists(feb)
    assert store.read_tier(spark, "1h", as_of=4).filter(F.col("day") < "2025-03-01").count() > 0
    store.expire("1h", "2025-03-07")  # snapshot 6
    assert os.path.exists(feb)
    store.expire("1h", "2025-03-08")  # snapshot 7: snapshot 5 is past the keep
    assert not os.path.exists(feb)
    served("2025-03-03")


def test_memoized_view_serves_no_day_expired_from_a_month_file(spark, tmp_path):
    """The memoized real-time view is rebuilt when an expiry removes some
    days of a 1h month file: the file stays live, the served days change,
    and no expired day's rows are returned."""
    from insar_spark.streaming.rollup_stream import stats_realtime_1h_view

    days = _days("2025-02-01", 30)
    fine_day, open_day = days[28], days[29]
    turns = _turns(spark, days[0], 30 * 24)
    day = F.date_format("ts", "yyyy-MM-dd")
    store = TierStore(str(tmp_path / "tiers"))
    store.retention["1h"] = 14
    store.write_tier(rollup_turns(turns, "1h"), "1h", seal_before=fine_day)
    store.write_tier(rollup_turns(turns.filter(day == fine_day), "1m"), "1m")
    store.write_tier_log(rollup_turns(turns.filter(day == open_day), "1m"), "1m_log", epoch=0)

    view = stats_realtime_1h_view(spark, store)
    assert stats_realtime_1h_view(spark, store) is view  # memo hit
    assert view.filter(F.col("window_start") < "2025-02-15").count() > 0
    files = store.committed_files("1h")
    assert store.expire("1h", fine_day) == days[:14]  # floor Feb 15
    assert store.committed_files("1h") == files  # the month file stays live

    got = stats_realtime_1h_view(spark, store)
    assert got is not view
    assert got.filter(F.col("window_start") < "2025-02-15").count() == 0
    want = rollup_turns(turns.filter(day >= "2025-02-15"), "1h")
    pd.testing.assert_frame_equal(_frame(got), _frame(want), check_exact=True)
    assert stats_realtime_1h_view(spark, store) is got


def test_restate_a_day_of_a_month_equals_fresh_build(spark, tmp_path):
    """``--restate-day`` of one day of a month: every tier equals a fresh
    build over the corrected input, each cascaded month is still one file,
    and ``as_of`` still reads the pre-merge rows."""
    import jobs.rollup_job as rollup_job

    turns = _turns(spark, "2025-02-01", 10 * 24)
    late = _turns(spark, "2025-02-05 03:00:00", 6, n_convs=6, step_min=13)
    src, src2 = str(tmp_path / "in"), str(tmp_path / "in2")
    turns.write.parquet(src)
    turns.unionByName(late).write.parquet(src2)
    root, fresh = str(tmp_path / "tiers"), str(tmp_path / "fresh")

    rollup_job.main(
        ["--input", src, "--store", root, "--snapshot-keep", "5", "--master", "local[4]"]
    )
    store = TierStore(root, snapshot_keep=5)
    pre = {t: store.current_snapshot_id(t) for t in ("1h", "1d")}
    old = {t: _frame(store.read_tier(spark, t)) for t in pre}
    rollup_job.main([
        "--input", src2, "--store", root, "--snapshot-keep", "5",
        "--restate-day", "2025-02-05", "--master", "local[4]",
    ])
    rollup_job.main(["--input", src2, "--store", fresh, "--master", "local[4]"])
    for t in ("1m", "1h", "1d"):
        pd.testing.assert_frame_equal(
            _frame(store.read_tier(spark, t)),
            _frame(TierStore(fresh).read_tier(spark, t)),
            check_exact=True,
            obj=t,
        )
    for t in pre:
        assert len(_frame(store.read_tier(spark, t))) > len(old[t]), t  # the late turns landed
        assert len(store.committed_files(t)) == 1, t
        assert store.current_snapshot_id(t) == pre[t] + 2  # drop + merged refill
        pd.testing.assert_frame_equal(
            _frame(store.read_tier(spark, t, as_of=pre[t])), old[t], check_exact=True, obj=t
        )


def test_stream_cycles_cascade_into_one_file_per_month(spark, tmp_path, monkeypatch):
    """Two stream cycles across a month boundary with every streaming
    family. The second cycle seals one day; its 1d cascade reads only the
    1h month file holding that day (not every 1h file) and equals a batch
    rollup. Afterwards every month of every cascaded tier is one file, and
    each tier equals a batch ``rollup_job --sketch`` build over the same
    turns on the days the stream committed."""
    import jobs.rollup_job as rollup_job
    from jobs.stream_job import run_cycle

    src, ckpt = str(tmp_path / "drops"), str(tmp_path / "ckpt")
    a = _turns(spark, "2025-01-28", 5 * 24 + 12)  # to Feb 2 12:00
    b = _turns(spark, "2025-02-02 12:00:00", 24)  # to Feb 3 12:00
    store = TierStore(str(tmp_path / "tiers"))
    a.write.mode("overwrite").parquet(src)
    s1 = run_cycle(spark, store, src, ckpt, watermark="60 minutes", sketch=True)
    assert s1["cascaded"]["1d"] == _days("2025-01-28", 5)
    b.write.mode("append").parquet(src)

    reads = []
    read_tier = store.read_tier

    def recording(spark_, tier, *args, **kw):
        df = read_tier(spark_, tier, *args, **kw)
        reads.append((tier, kw.get("days"), df.inputFiles()))
        return df

    monkeypatch.setattr(store, "read_tier", recording)
    s2 = run_cycle(spark, store, src, ckpt, watermark="60 minutes", sketch=True)
    monkeypatch.undo()
    assert s2["cascaded"] == {"1h": ["2025-02-02"], "1d": ["2025-02-02"]}
    # the 1d cascade's source read (the 1h commit's merge reads back Feb 1)
    (opened,) = [f for t, d, f in reads if t == "1h" and (d is None or "2025-02-02" in d)]
    assert len(opened) == 1
    assert _names(opened) == _names(store.day_files("1h", ["2025-02-02"]))
    assert len(store.day_files("1h")) == 2  # January's file stays unopened
    turns = a.unionByName(b)
    pd.testing.assert_frame_equal(
        _frame(store.read_tier(spark, "1d", days=["2025-02-02"]).drop("day")),
        _frame(rollup_turns(turns, "1d").filter(_day() == "2025-02-02")),
        check_exact=True,
    )

    batch_src = str(tmp_path / "batch_in")
    turns.write.parquet(batch_src)
    batch = TierStore(str(tmp_path / "batch"))
    rollup_job.main(
        ["--input", batch_src, "--store", batch.root, "--sketch", "--master", "local[4]"]
    )
    stream_tiers = [t for t in sorted(os.listdir(store.root)) if t.startswith("tier=")]
    cascaded = {"1h", "1d", "hist_1h", "lb_1h", "hll_1h", "cms_1h", "m4_1d"}
    compared = []
    for t in (t.split("=", 1)[1] for t in stream_tiers):
        dirs = [os.path.dirname(p) for p in store.committed_files(t)]
        if t in cascaded:
            assert all(f"{os.sep}month=" in d for d in dirs) and len(dirs) == len(set(dirs)), t
        if t.endswith("_log") or not batch.committed_days(t):
            continue
        days = store.committed_days(t)
        want = batch.read_tier(spark, t, days=days)
        got = store.read_tier(spark, t).select(*sorted(want.columns))
        want = want.select(*sorted(want.columns))
        assert sorted(map(str, got.collect())) == sorted(map(str, want.collect())), t
        compared.append(t)
    assert set(compared) >= cascaded | {"1m", "hist_1m", "hll_1m", "cms_1m"}


def test_day_file_tier_reads_and_merges_into_month_files(spark, tmp_path, monkeypatch):
    """A coarse tier stored as day files (a store written before month
    files) reads through the same path; the next commit to a month
    rewrites that month's day files into one month file and tombstones
    them, and other months keep their day files."""
    from insar_spark import families

    store = TierStore(str(tmp_path / "tiers"))
    rows = _hourly(spark, "2025-01-25", 14)  # Jan 25 .. Feb 7
    old = rows.filter(_day() < "2025-02-05")
    monkeypatch.setattr(families, "file_period", lambda tier: "day")
    store.write_tier(old, "1h")
    monkeypatch.undo()
    assert len(store.committed_files("1h")) == 11
    pd.testing.assert_frame_equal(
        _frame(store.read_tier(spark, "1h").drop("day")), _frame(old), check_exact=True
    )

    feb_day_files = store.day_files("1h", _days("2025-02-01", 4))
    assert len(feb_day_files) == 4
    store.write_tier(rows, "1h", days=_days("2025-02-05", 3))
    files = store.committed_files("1h")
    assert sum(f"{os.sep}month=2025-02-01{os.sep}" in f for f in files) == 1
    assert sum(f"{os.sep}day=2025-01-" in f for f in files) == 7 and len(files) == 8
    assert not any(map(os.path.exists, feb_day_files))  # vacuumed (snapshot_keep=0)
    pd.testing.assert_frame_equal(
        _frame(store.read_tier(spark, "1h").drop("day")), _frame(rows), check_exact=True
    )
