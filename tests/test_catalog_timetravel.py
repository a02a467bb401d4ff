"""Snapshot time travel: as-of reads, rollback, deferred vacuum,
expire_snapshots — Iceberg snapshot semantics over the TierStore.

The north rule requires resumability "from Iceberg-snapshot checkpoints";
these tests pin the snapshot half of that contract: every commit is a
readable version while kept, destructive ops defer their deletes past the
keep horizon, rollback is a new commit (never history rewrite), and
``snapshot_keep=0`` degrades to the pre-time-travel store byte-for-byte
(immediate vacuum — the default the rest of the suite pins).
"""

from __future__ import annotations

import os

import pytest

from insar_spark.operators.rollup import rollup_turns
from insar_spark.sources.catalog import SnapshotExpiredError, TierStore


@pytest.fixture()
def store(tmp_path):
    # keep the last 10 snapshots travelable
    return TierStore(str(tmp_path / "tiers"), snapshot_keep=10)


def _days(store, tier):
    return sorted(store.committed_days(tier))


def _split_write(store, rolled, tier):
    """Commit the rollup as two snapshots: all-but-last day, then the rest."""
    from pyspark.sql import functions as F

    days = sorted(
        r["day"]
        for r in rolled.select(
            F.date_format("window_start", "yyyy-MM-dd").alias("day")
        )
        .distinct()
        .collect()
    )
    assert len(days) >= 2, "fixture must span >=2 days"
    first = rolled.filter(F.date_format("window_start", "yyyy-MM-dd") < days[-1])
    store.write_tier(first, tier)  # snapshot 1
    store.write_tier(rolled, tier)  # snapshot 2: only the last day is new
    return days


def test_as_of_read_sees_past_state(spark, transcripts, store):
    rolled = rollup_turns(transcripts, "1d")
    days = _split_write(store, rolled, "1d")
    assert store.current_snapshot_id("1d") == 2
    old = store.read_tier(spark, "1d", as_of=1)
    cur = store.read_tier(spark, "1d")
    assert set(r["day"] for r in old.select("day").distinct().collect()) == set(
        days[:-1]
    )
    assert cur.count() == rolled.count()
    assert old.count() < cur.count()


def test_as_of_unknown_snapshot_raises(spark, transcripts, store):
    store.write_tier(rollup_turns(transcripts, "1d"), "1d")
    with pytest.raises(ValueError, match="no snapshot 99"):
        store.read_tier(spark, "1d", as_of=99)


def test_compact_keeps_old_generation_readable(spark, transcripts, store):
    rolled = rollup_turns(transcripts, "1h")
    store.write_tier(rolled, "1h")
    day = _days(store, "1h")[0]
    before = store.read_tier(spark, "1h", as_of=1).filter(f"day = '{day}'")
    n_before = before.count()
    store.compact(spark, "1h", day, target_file_bytes=4096)  # snapshot 2
    # old generation still on disk (tombstoned, not vacuumed) and readable
    old = store.read_tier(spark, "1h", as_of=1).filter(f"day = '{day}'")
    assert old.count() == n_before
    cur = store.read_tier(spark, "1h").filter(f"day = '{day}'")
    assert cur.count() == n_before
    assert store.manifest("1h")["tombstones"]


def test_expire_is_deferred_then_vacuumed(spark, transcripts, store):
    store.retention["1m"] = 1
    rolled = rollup_turns(transcripts, "1m")
    store.write_tier(rolled, "1m")
    last = max(_days(store, "1m"))
    expired = store.expire("1m", last)  # snapshot 2
    assert expired
    # the expired day's files survive on disk for time travel
    gone_dir = store.tier_path("1m", expired[0])
    assert os.path.isdir(gone_dir) and os.listdir(gone_dir)
    assert store.read_tier(spark, "1m", as_of=1).count() == rolled.count()
    # force the horizon shut: everything older than the latest snapshot goes
    removed = store.expire_snapshots("1m", keep_last=0)
    assert removed
    assert not any(os.scandir(gone_dir)) if os.path.isdir(gone_dir) else True
    with pytest.raises(SnapshotExpiredError):
        store.read_tier(spark, "1m", as_of=1)
    # current read unaffected
    assert store.read_tier(spark, "1m").count() > 0


def test_rollback_restores_and_appends_history(spark, transcripts, store):
    rolled = rollup_turns(transcripts, "1d")
    _split_write(store, rolled, "1d")
    n_v1 = store.read_tier(spark, "1d", as_of=1).count()
    res = store.rollback("1d", 1)  # snapshot 3
    assert res == {"snapshot": 3, "restored": 1}
    assert store.current_snapshot_id("1d") == 3
    assert store.read_tier(spark, "1d").count() == n_v1
    # history not rewritten: snapshot 2 is still travelable pre-vacuum
    assert store.read_tier(spark, "1d", as_of=2).count() == rolled.count()
    ops = [s["op"] for s in store.manifest("1d")["snapshots"]]
    assert ops == ["append", "append", "rollback"]
    # resume semantics follow the restored state: the rolled-back day is
    # uncommitted again, so a re-run re-writes exactly that day
    res2 = store.write_tier(rolled, "1d")  # snapshot 4
    assert len(res2["written_days"]) == 1
    assert store.read_tier(spark, "1d").count() == rolled.count()


def test_rollback_unvacuums_files_the_target_needs(spark, transcripts, store):
    """compact then rollback: the pending tombstone on the old generation
    must be cancelled, or a later vacuum would tear the restored state."""
    rolled = rollup_turns(transcripts, "1h")
    store.write_tier(rolled, "1h")
    day = _days(store, "1h")[0]
    n = store.read_tier(spark, "1h").count()
    store.compact(spark, "1h", day, target_file_bytes=4096)  # snapshot 2
    store.rollback("1h", 1)  # snapshot 3: old generation live again
    # vacuum everything old; the restored files must survive
    store.expire_snapshots("1h", keep_last=0)
    assert store.read_tier(spark, "1h").count() == n


def test_recommitted_day_survives_legacy_dir_tombstone(spark, transcripts, store):
    """r6 advisor fix: a legacy pre-file-tracking partition entry is
    tombstoned as its whole DAY DIRECTORY; if the same day is re-committed
    into that directory before the tombstone ages past the keep horizon,
    the deferred rmtree must not take the new, manifest-referenced files
    with it. The finalize pass now expands such a tombstone to the
    directory's non-live files."""
    rolled = rollup_turns(transcripts, "1m")
    store.write_tier(rolled, "1m")  # snapshot 1
    day = _days(store, "1m")[0]
    # simulate a legacy manifest entry (no per-file tracking) for that day
    man = store.manifest("1m")
    man["partitions"][day].pop("files", None)
    store._commit("1m", man)
    store.drop_partitions("1m", [day])  # snapshot 2: dir-level tombstone
    res = store.write_tier(rolled, "1m")  # snapshot 3: same day, same dir
    assert day in res["written_days"]
    n = store.read_tier(spark, "1m").count()
    assert n == rolled.count()
    # age every tombstone out: the re-committed day must survive the vacuum
    store.expire_snapshots("1m", keep_last=0)
    assert store.read_tier(spark, "1m").count() == n
    day_dir = store.tier_path("1m", day)
    assert os.path.isdir(day_dir) and os.listdir(day_dir)


def test_keep_zero_matches_legacy_eager_vacuum(spark, transcripts, tmp_path):
    """The default store (snapshot_keep=0) vacuums retired files at commit
    time, exactly like the pre-time-travel TierStore."""
    eager = TierStore(str(tmp_path / "eager"))
    eager.retention["1d"] = 1
    rolled = rollup_turns(transcripts, "1d")
    eager.write_tier(rolled, "1d")
    last = max(_days(eager, "1d"))
    expired = eager.expire("1d", last)
    gone_dir = eager.tier_path("1d", expired[0])
    assert not os.path.isdir(gone_dir) or not os.listdir(gone_dir)
    assert "tombstones" not in eager.manifest("1d")
    # the current snapshot is still always as-of readable
    cur = eager.current_snapshot_id("1d")
    assert eager.read_tier(spark, "1d", as_of=cur).count() == eager.read_tier(
        spark, "1d"
    ).count()
    # but history is not
    with pytest.raises(SnapshotExpiredError):
        eager.read_tier(spark, "1d", as_of=1)
