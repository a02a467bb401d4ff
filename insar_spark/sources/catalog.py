"""Tiered table store: snapshot-committed, partition-pruned, resumable.

Iceberg is the target catalog at cluster scale (``write.parquet.compression-
codec=zstd``, snapshot commits, partition rewrite). The sandbox image ships
no Iceberg jars, so this module implements the same *semantics* over plain
Parquet + JSON snapshot manifests, behind one interface — swapping in
Iceberg means replacing the three ``_fs_*`` primitives with
``df.writeTo(...)`` / snapshot API calls.

Semantics mirrored from the reference:

* skip-if-committed resume — ``sario.check_dset`` + ``start_layer``
  re-entry (insar/prepare.py:228, :942; insar/timeseries.py:215-216):
  an ingest re-run only processes partitions absent from the manifest.
* per-partition lineage + metrics — run-params YAML
  (insar/timeseries.py:188-213) generalized: every commit records, per
  day-partition, the row count and min/max window, plus the run params.
  They come from the Parquet footers of the files the commit wrote (read
  on the driver), so a commit runs its plan once.
* tier-expiry compaction — overwrite-dset pattern
  (insar/prepare.py:228-242): partitions older than the tier's retention
  horizon are dropped atomically via a manifest commit; the data files go
  with them. The cutoff stays in the manifest as the tier's expiry floor
  (``expired_before``), so no later commit brings an expired day back.

A caller that can name the days its input covers asks ``pending_days``
first: the no-op decision reads only the manifest, so a re-run with
nothing pending builds no plan and launches no Spark job.

Snapshot time travel (Iceberg snapshot semantics): every commit writes a
per-snapshot state file (``_snapshots/<tier>/snap-<id>.json`` — the
manifest-list analog) capturing the full post-commit partition→file map,
and destructive ops (expire / drop / compact / rollback) tombstone the
files they retire instead of deleting them inline. With
``snapshot_keep=N`` the last N snapshots stay readable via
``read_tier(..., as_of=id)`` and restorable via ``rollback``; tombstoned
files are vacuumed only once their creating snapshot ages past the keep
horizon (``expire_snapshots``). ``snapshot_keep=0`` (default) vacuums
immediately — identical behavior and cost to the pre-time-travel store.

Layout: ``root/tier=<t>/day=YYYY-MM-DD/*.parquet`` — day partitioning gives
partition pruning for retention and time-range scans. Each commit writes
one file per day, sorted by ``conv_id`` then ``window_start``, so a series
never spans files of one commit (the full-depth-chunk locality rule,
insar/timeseries.py:152-153); ``compact`` splits a day that outgrows its
byte target. The manifest records the tier's Spark schema (the string
``day`` column included), so a read needs no schema inference, and reads
open the manifest's explicit file list, stat'ed on the driver (the engine
session pins the parallel-listing threshold above any tier's file count):
building a tier DataFrame launches no Spark job.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import shutil
import uuid
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from insar_spark.families import FAMILIES

# tier -> retention horizon in days (None = keep forever), as declared on
# each tier's family entry in insar_spark.families (the one place that
# decides it); the continuous-aggregate pattern: fine tiers age out,
# coarse tiers persist. A tier absent here (the epoch logs) never expires.
DEFAULT_RETENTION: dict[str, int | None] = {
    tier: days
    for fam in FAMILIES.values()
    for tier, days in zip(fam.tiers, fam.retention, strict=True)
}


_NULLABILITY_KEYS = ("nullable", "containsNull", "valueContainsNull", "metadata")


def _column_types(schema_json: str) -> dict[str, object]:
    """Column name -> type of a ``StructType.json()``, with nullability
    (and field metadata) dropped at every depth: commits of one tier may
    differ there (the seal and the batch job both commit ``1m``), and a
    file-source read makes every column nullable anyway."""

    def strip(t):
        if isinstance(t, dict):
            return {k: strip(v) for k, v in t.items() if k not in _NULLABILITY_KEYS}
        if isinstance(t, list):
            return [strip(v) for v in t]
        return t

    return {f["name"]: strip(f["type"]) for f in json.loads(schema_json)["fields"]}


def footer_range(
    paths: list[str], column: str
) -> tuple[int, dt.datetime | None, dt.datetime | None] | None:
    """Row count and min/max of timestamp ``column`` over Parquet files,
    from their footers alone (driver-side, no Spark job). Bounds are naive
    UTC for UTC-adjusted columns, as stored for the rest. None when a file
    lacks the column or a non-empty row group lacks min/max statistics
    (INT96 timestamps never have them)."""
    rows, lo, hi = 0, None, None
    for p in paths:
        md = pq.read_metadata(p)
        cols = [md.schema.column(i).path for i in range(md.num_columns)]
        if column not in cols:
            return None
        i = cols.index(column)
        rows += md.num_rows
        for g in range(md.num_row_groups):
            c = md.row_group(g).column(i)
            if c.num_values == 0:
                continue
            st = c.statistics
            if st is None or not st.has_min_max or not isinstance(st.min, dt.datetime):
                return None
            a, b = (
                v.astimezone(dt.timezone.utc).replace(tzinfo=None) if v.tzinfo else v
                for v in (st.min, st.max)
            )
            lo = a if lo is None else min(lo, a)
            hi = b if hi is None else max(hi, b)
    return rows, lo, hi


def _hidden(name: str) -> bool:
    """Spark's rule for the paths a file source skips."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def footer_days(path: str, column: str = "ts") -> list[str] | None:
    """Every day from the min to the max of timestamp ``column`` in a
    Parquet input (a file, or a directory listed recursively the way Spark
    lists it), from the footers alone: a superset of the days it holds.
    Days are UTC dates, the zone the engine session pins and tier ``day``
    partitions use. None when unknown: a path that is no local file or
    directory, or a file without min/max statistics on ``column``."""
    if os.path.isfile(path):
        files = [path]
    elif os.path.isdir(path):
        files = []
        for d, dirs, names in os.walk(path):
            dirs[:] = [n for n in dirs if not _hidden(n)]
            files += [os.path.join(d, n) for n in names if not _hidden(n)]
    else:
        return None
    rng = footer_range(files, column)
    if rng is None:
        return None
    _, lo, hi = rng
    if lo is None:
        return []
    first, n = lo.date(), (hi.date() - lo.date()).days
    return [(first + dt.timedelta(days=i)).isoformat() for i in range(n + 1)]


class SnapshotExpiredError(LookupError):
    """The snapshot existed but its state (or data files) were vacuumed
    past the ``snapshot_keep`` horizon — time travel to it is gone."""


@dataclass
class TierStore:
    root: str
    retention: dict[str, int | None] = field(
        default_factory=lambda: dict(DEFAULT_RETENTION)
    )
    # how many snapshots remain time-travelable, INCLUDING the current
    # one (advisor r5: keep=N prunes state with sid <= latest-N, so N=1
    # keeps only the live snapshot readable — N-1 PAST states survive).
    # 0 = vacuum retired files at commit time (the pre-time-travel
    # behavior); a drop-and-refill flow (--restate-day) that must keep
    # the pre-restate state readable needs N >= 3 (pre-drop, drop,
    # refill). N keeps the last N snapshots' state files + data files.
    snapshot_keep: int = 0
    # real-time view family -> (committed state it was built on, DataFrame
    # plan); filled by streaming.rollup_stream.realtime_1h_view
    views: dict = field(default_factory=dict, init=False, repr=False, compare=False)

    # ------------------------------------------------------------ manifest

    def _manifest_path(self, tier: str) -> str:
        return os.path.join(self.root, "_snapshots", f"{tier}.json")

    def manifest(self, tier: str) -> dict:
        p = self._manifest_path(tier)
        if not os.path.exists(p):
            return {"tier": tier, "snapshots": [], "partitions": {}}
        with open(p) as f:
            return json.load(f)

    def _commit(self, tier: str, manifest: dict) -> None:
        p = self._manifest_path(tier)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, p)  # atomic snapshot commit

    # ------------------------------------------------- snapshot time travel

    def _state_dir(self, tier: str) -> str:
        return os.path.join(self.root, "_snapshots", tier)

    def _write_state(self, tier: str, snap_id: int, man: dict) -> None:
        """Per-snapshot full partition→file state and expiry floor (Iceberg
        manifest-list analog): written BEFORE the live-manifest commit, so
        a crash between the two leaves an orphan state file (never read —
        the live manifest still points at the previous snapshot)."""
        os.makedirs(self._state_dir(tier), exist_ok=True)
        p = os.path.join(self._state_dir(tier), f"snap-{snap_id}.json")
        state = {"id": snap_id, "partitions": man["partitions"]}
        if "expired_before" in man:
            state["expired_before"] = man["expired_before"]
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f, sort_keys=True)
        os.replace(tmp, p)

    def current_snapshot_id(self, tier: str) -> int:
        snaps = self.manifest(tier)["snapshots"]
        return snaps[-1]["id"] if snaps else 0

    def state_at(self, tier: str, snapshot_id: int) -> dict:
        """Partition state as of ``snapshot_id``. Raises
        ``SnapshotExpiredError`` if the snapshot existed but was vacuumed,
        ``ValueError`` if it never existed."""
        return self._state(tier, snapshot_id)["partitions"]

    def _state(self, tier: str, snapshot_id: int) -> dict:
        """The state file of ``snapshot_id`` (see ``state_at``)."""
        p = os.path.join(self._state_dir(tier), f"snap-{snapshot_id}.json")
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        if any(s["id"] == snapshot_id for s in self.manifest(tier)["snapshots"]):
            raise SnapshotExpiredError(
                f"tier '{tier}' snapshot {snapshot_id} is past the "
                f"snapshot_keep={self.snapshot_keep} horizon (state vacuumed)"
            )
        raise ValueError(f"tier '{tier}' has no snapshot {snapshot_id}")

    def _tombstone(self, man: dict, snap_id: int, paths: list[str]) -> None:
        """Record retired file/dir paths (relative to root) for deferred
        vacuum — they stay on disk while any kept snapshot references
        them."""
        if paths:
            man.setdefault("tombstones", []).append(
                {"snapshot": snap_id, "paths": sorted(paths)}
            )

    def _finalize(self, tier: str, man: dict, keep: int | None = None) -> list[str]:
        """Commit a mutated manifest and vacuum what aged out.

        Order: state file → prune eligible tombstones/states from the
        manifest → atomic manifest commit → physical delete. A crash
        after the commit leaves orphan files (invisible to every reader —
        read_tier scans manifest file lists), reclaimed by the next
        vacuum-eligible commit or a coarse fs sweep; never a correctness
        issue. Single-writer per tier is assumed throughout (the jobs
        serialize commits per tier), matching the pre-time-travel store.
        """
        keep = self.snapshot_keep if keep is None else keep
        latest = man["snapshots"][-1]["id"] if man["snapshots"] else 0
        if latest:
            self._write_state(tier, latest, man)
        # A pending tombstone must never cover a path the CURRENT state
        # references (r6, advisor finding): a day re-committed into the
        # same directory before a dir-level (legacy pre-file-tracking)
        # tombstone aged out would otherwise be rmtree'd together with
        # its new, manifest-referenced files. Live file paths are dropped
        # from every tombstone (the rollback-path un-tombstoning, applied
        # on every finalize); a dir-level tombstone whose day is live
        # again is EXPANDED to the directory's non-live files, so the
        # old bytes still age out on the original snapshot's horizon
        # while the re-committed files survive.
        live_files = set(self._part_paths(tier, man["partitions"]))
        live_day_dirs = {
            os.path.relpath(self.tier_path(tier, d), self.root)
            for d in man["partitions"]
        }
        for ts in man.get("tombstones", []):
            new_paths: list[str] = []
            for p in ts["paths"]:
                if p in live_files:
                    continue
                if p in live_day_dirs:
                    full = os.path.join(self.root, p)
                    if os.path.isdir(full):
                        new_paths.extend(
                            os.path.join(p, f)
                            for f in sorted(os.listdir(full))
                            if os.path.join(p, f) not in live_files
                        )
                    continue
                new_paths.append(p)
            ts["paths"] = new_paths
        man["tombstones"] = [
            t for t in man.get("tombstones", []) if t["paths"]
        ]
        cutoff = latest - keep
        doomed: list[str] = []
        kept_stones = []
        for ts in man.get("tombstones", []):
            # a tombstone at snapshot s retires files referenced only by
            # snapshots < s; once s itself ages past the keep horizon no
            # travelable state references them
            if ts["snapshot"] <= cutoff:
                doomed.extend(ts["paths"])
            else:
                kept_stones.append(ts)
        if kept_stones:
            man["tombstones"] = kept_stones
        else:
            man.pop("tombstones", None)
        self._commit(tier, man)
        for rel in doomed:
            p = os.path.join(self.root, rel)
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                try:
                    os.remove(p)
                except FileNotFoundError:
                    pass
        # state files age out on the same horizon (a kept state never
        # references vacuumed files: the tombstone that retired them is,
        # by the check above, older than every kept snapshot)
        for sp in glob.glob(os.path.join(self._state_dir(tier), "snap-*.json")):
            sid = int(os.path.basename(sp)[5:-5])
            if sid <= cutoff and sid != latest:  # latest is always readable
                try:
                    os.remove(sp)
                except FileNotFoundError:
                    pass
        return doomed

    def _part_paths(self, tier: str, partitions: dict) -> list[str]:
        """Root-relative paths of every file a partition state references
        (legacy pre-file-tracking entries resolve to the day directory)."""
        out = []
        for d in sorted(partitions):
            part = partitions[d]
            day_rel = os.path.relpath(self.tier_path(tier, d), self.root)
            names = part.get("files")
            if names:
                out.extend(os.path.join(day_rel, n) for n in names)
            else:
                out.append(day_rel)
        return out

    def rollback(self, tier: str, snapshot_id: int) -> dict:
        """Restore the tier's live state to ``snapshot_id`` via a NEW
        snapshot commit (history is never rewritten — Iceberg
        rollback_to_snapshot). Files that only the abandoned snapshots
        reference are tombstoned under the new snapshot; files the target
        references are un-tombstoned (live again). The target's expiry
        floor comes back with it (a state recorded without one has none)."""
        state = self._state(tier, snapshot_id)  # raises if gone
        target = state["partitions"]
        man = self.manifest(tier)
        snap_id = len(man["snapshots"]) + 1
        target_paths = set(self._part_paths(tier, target))
        current_paths = set(self._part_paths(tier, man["partitions"]))
        # files the target still needs must survive any pending tombstone
        for ts in man.get("tombstones", []):
            ts["paths"] = [p for p in ts["paths"] if p not in target_paths]
        man["tombstones"] = [t for t in man.get("tombstones", []) if t["paths"]]
        missing = [
            p for p in target_paths if not os.path.exists(os.path.join(self.root, p))
        ]
        if missing:
            raise SnapshotExpiredError(
                f"tier '{tier}' snapshot {snapshot_id}: {len(missing)} data "
                f"file(s) already vacuumed (e.g. {missing[0]})"
            )
        self._tombstone(man, snap_id, sorted(current_paths - target_paths))
        man["partitions"] = target
        man.pop("expired_before", None)
        if "expired_before" in state:
            man["expired_before"] = state["expired_before"]
        man["snapshots"].append(
            {"id": snap_id, "op": "rollback", "to": snapshot_id}
        )
        self._finalize(tier, man)
        return {"snapshot": snap_id, "restored": snapshot_id}

    def expire_snapshots(self, tier: str, keep_last: int = 0) -> list[str]:
        """Force-vacuum tombstones and state files older than the last
        ``keep_last`` snapshots (Iceberg expire_snapshots). Returns the
        root-relative paths physically removed."""
        man = self.manifest(tier)
        return self._finalize(tier, man, keep=keep_last)

    def committed_days(self, tier: str) -> set[str]:
        return set(self.manifest(tier)["partitions"])

    def pending_days(self, tier: str, days) -> list[str]:
        """The days of ``days`` a commit to ``tier`` would still write:
        neither committed nor below the tier's expiry floor. Reads only
        the manifest."""
        man = self.manifest(tier)
        floor = man.get("expired_before", "")
        return sorted(
            d for d in set(days) if d >= floor and d not in man["partitions"]
        )

    def committed_files(self, tier: str) -> tuple[str, ...]:
        """Root-relative paths of the tier's live files. Committed files
        are immutable and uniquely named, so an unchanged tuple means
        unchanged contents."""
        return tuple(self._part_paths(tier, self.manifest(tier)["partitions"]))

    def _check_schema(self, tier: str, man: dict, df: DataFrame) -> None:
        """Refuse a commit whose column names or types differ from the
        tier's recorded schema; record the schema on the first commit (and
        on the first commit to a store written before schemas were
        recorded). Nullability and column order are not compared."""
        new = df.schema.json()
        old = man.get("schema")
        if old is not None and _column_types(old) != _column_types(new):
            raise ValueError(
                f"tier '{tier}': commit schema {df.schema.simpleString()} "
                f"differs from the recorded "
                f"{StructType.fromJson(json.loads(old)).simpleString()}"
            )
        man.setdefault("schema", new)

    # ------------------------------------------------------------- write

    def tier_path(self, tier: str, day: str | None = None) -> str:
        p = os.path.join(self.root, f"tier={tier}")
        return os.path.join(p, f"day={day}") if day else p

    def _stage_and_promote(
        self, write, tier: str, prefix: str
    ) -> dict[str, list[str]]:
        """Write through a unique staging dir, then move the data files into
        their final day directories under snapshot-unique names.

        Returns {day: [filename, ...]} for the manifest. Crash safety: a
        crash before the move leaves files only in staging (never read,
        vacuumable); a crash mid-move leaves unmanifested files in day dirs
        which read_tier ignores (it scans the manifest's file list, not the
        directory) — so a re-run never produces duplicate rows.
        """
        staging = os.path.join(self.root, "_staging", f"{prefix}-{uuid.uuid4().hex[:8]}")
        write(staging)
        out: dict[str, list[str]] = {}
        for day_dir in sorted(glob.glob(os.path.join(staging, "day=*"))):
            day = os.path.basename(day_dir).split("=", 1)[1]
            dest = self.tier_path(tier, day)
            os.makedirs(dest, exist_ok=True)
            names = []
            for f in sorted(os.listdir(day_dir)):
                if not f.endswith(".parquet"):
                    continue
                new = f"{prefix}-{f}"
                os.replace(os.path.join(day_dir, f), os.path.join(dest, new))
                names.append(new)
            out[day] = names
        shutil.rmtree(staging, ignore_errors=True)
        return out

    def write_tier_log(
        self,
        rolled: DataFrame,
        tier: str,
        epoch: int,
        run_params: dict | None = None,
    ) -> dict:
        """Streaming-append commit: epoch-tagged batch of (possibly refined)
        windows, no day skipping.

        Exactly-once: a replayed epoch (foreachBatch re-execution after a
        crash) is dropped by the manifest tag check. Refinements of the
        same (conv_id, window) across epochs are resolved at read time —
        latest epoch wins (see read_tier_log) — the append-log +
        compact-on-read pattern of streaming upserts into Iceberg.
        """
        man = self.manifest(tier)
        tag = f"epoch-{epoch}"
        if any(s.get("tag") == tag for s in man["snapshots"]):
            return {"written": 0, "skipped_epoch": epoch}
        df = rolled.withColumn("_epoch", F.lit(int(epoch))).withColumn(
            "day", F.date_format("window_start", "yyyy-MM-dd")
        )
        self._check_schema(tier, man, df)
        files = self._stage_and_promote(
            lambda staging: (
                df.repartition(2, "day")
                .write.partitionBy("day")
                .option("compression", "zstd")
                .parquet(staging)
            ),
            tier,
            tag,
        )
        # row count from the promoted files' footers: no second pass over
        # the micro-batch plan
        n = sum(
            pq.read_metadata(os.path.join(self.tier_path(tier, d), name)).num_rows
            for d, names in files.items()
            for name in names
        )
        man["snapshots"].append(
            {
                "id": len(man["snapshots"]) + 1,
                "op": "append-log",
                "tag": tag,
                "rows": n,
                "run_params": run_params or {},
            }
        )
        for d, names in files.items():
            part = man["partitions"].setdefault(
                d, {"rows": None, "log": True, "files": []}
            )
            if "files" not in part:
                # legacy pre-file-tracking entry: it was read via the
                # whole-directory fallback, so adding a 'files' list holding
                # only the NEW epoch would hide every older parquet file in
                # the day dir. Enumerate the current directory contents into
                # the list first (same visibility as the fallback), minus
                # this epoch's freshly promoted files.
                day_dir = self.tier_path(tier, d)
                existing = (
                    sorted(
                        f
                        for f in os.listdir(day_dir)
                        if f.endswith(".parquet") and f not in set(names)
                    )
                    if os.path.isdir(day_dir)
                    else []
                )
                part["files"] = existing
            part["files"].extend(names)
        self._finalize(tier, man)
        return {"written": n, "skipped_epoch": None}

    def read_tier_log(
        self,
        spark: SparkSession,
        tier: str,
        keys: tuple[str, ...] = ("conv_id", "window_start"),
    ) -> DataFrame:
        """Latest-epoch-wins view over a log-mode tier. ``keys`` is the
        window identity — (conv_id, window_start) for per-series tiers,
        ("window_start",) for global ones (e.g. the distinct bitmap)."""
        from pyspark.sql import Window

        df = self.read_tier(spark, tier)
        w = Window.partitionBy(*keys).orderBy(F.desc("_epoch"))
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_epoch")
        )

    def write_tier(
        self,
        rolled: DataFrame,
        tier: str,
        run_params: dict | None = None,
        seal_before: str | None = None,
    ) -> dict:
        """Append day-partitions of a rollup DataFrame; skip days already
        committed (idempotent resume). Returns the commit record.

        ``seal_before`` (YYYY-MM-DD) is the ingest watermark: only days
        strictly before it are committed — an in-flight day is never
        sealed with partial data, so the day-level resume skip is always
        safe (the streaming analog is the event-time watermark). Days
        below the tier's expiry floor are never committed again.

        One pass: the plan is written to staging once, and each day's
        ``rows``/``w_min``/``w_max`` come from the written files' footers.
        Each committed day is one file, sorted by ``conv_id`` and
        ``window_start``; ``compact`` splits a day too large for one file.
        """
        conf = rolled.sparkSession.conf
        if conf.get("spark.sql.parquet.outputTimestampType") == "INT96":
            raise ValueError(
                "TierStore commits read window ranges from Parquet footers, and "
                "INT96 timestamps have none: set spark.sql.parquet."
                "outputTimestampType=TIMESTAMP_MICROS (insar_spark.session."
                "get_spark pins it)"
            )
        man = self.manifest(tier)
        done = set(man["partitions"])

        df = rolled.withColumn(
            "day", F.date_format("window_start", "yyyy-MM-dd")
        )
        self._check_schema(tier, man, df)
        if seal_before is not None:
            df = df.filter(F.col("day") < seal_before)
        if "expired_before" in man:
            df = df.filter(F.col("day") >= man["expired_before"])
        if done:
            df = df.filter(~F.col("day").isin(sorted(done)))

        snap_id = len(man["snapshots"]) + 1
        # global tiers (no series key, e.g. the distinct bitmap) cluster
        # by day only
        cluster = ["day", "conv_id"] if "conv_id" in df.columns else ["day"]
        files = self._stage_and_promote(
            lambda staging: (
                df.repartition("day")
                .sortWithinPartitions(*cluster, "window_start")
                .write.partitionBy("day")
                .option("compression", "zstd")
                .parquet(staging)
            ),
            tier,
            f"snap{snap_id}",
        )
        if not files:
            return {"written_days": [], "skipped_days": sorted(done)}
        for day, names in files.items():
            rows, lo, hi = footer_range(
                [os.path.join(self.tier_path(tier, day), n) for n in names],
                "window_start",
            )
            man["partitions"][day] = {
                "rows": rows,
                "w_min": str(lo),
                "w_max": str(hi),
                "snapshot": snap_id,
                "files": names,
            }
        man["snapshots"].append(
            {
                "id": snap_id,
                "op": "append",
                "days": sorted(files),
                "run_params": run_params or {},
            }
        )
        self._finalize(tier, man)
        return {"written_days": sorted(files), "skipped_days": sorted(done)}

    # -------------------------------------------------------------- read

    def read_tier(
        self, spark: SparkSession, tier: str, as_of: int | None = None
    ) -> DataFrame:
        """Scan only the files committed in the manifest — or, with
        ``as_of=<snapshot id>``, the files of that PAST snapshot's state
        (Iceberg ``VERSION AS OF``; requires the snapshot inside the
        store's ``snapshot_keep`` horizon, else ``SnapshotExpiredError``).
        Orphan files from a crashed write are invisible either way.

        Builds the DataFrame without a Spark job: the schema comes from the
        manifest and the explicit file list is stat'ed on the driver."""
        man = self.manifest(tier)
        parts = man["partitions"] if as_of is None else self.state_at(tier, as_of)
        if not parts:
            raise ValueError(
                f"tier '{tier}' has no committed partitions "
                f"(manifest {self._manifest_path(tier)}, as_of={as_of})"
            )
        paths = [
            os.path.join(self.root, rel)
            for rel in self._part_paths(tier, parts)
        ]
        reader = spark.read.option("basePath", self.tier_path(tier))
        if "schema" not in man:
            # a store written before commits recorded the schema: infer it
            # (one Spark job), and re-cast `day`, which partition inference
            # types as DATE, to the manifest's string form
            df = reader.parquet(*paths)
            return df.withColumn("day", F.date_format("day", "yyyy-MM-dd"))
        schema = StructType.fromJson(json.loads(man["schema"]))
        return reader.schema(schema).parquet(*paths)

    def tier_bytes(self, tier: str) -> int:
        """On-disk bytes of the tier's committed files — the footprint
        number store policies compare (row counts mislead across tier
        shapes: a tall lb row is ~30 B, a 64-bin hist array row ~530 B).
        Missing files (concurrent vacuum) count as 0."""
        man = self.manifest(tier)
        total = 0
        for d, part in man["partitions"].items():
            day_dir = self.tier_path(tier, d)
            names = part.get("files") or (
                os.listdir(day_dir) if os.path.isdir(day_dir) else []
            )
            for n in names:
                try:
                    total += os.path.getsize(os.path.join(day_dir, n))
                except OSError:
                    pass
        return total

    # --------------------------------------------------- retention / compact

    def expire(self, tier: str, now_day: str) -> list[str]:
        """Drop partitions past the tier's retention horizon (manifest-first:
        the commit makes them invisible, then files are vacuumed). The
        cutoff becomes the tier's expiry floor, which only moves forward:
        ``write_tier`` and ``pending_days`` skip every day below it."""
        horizon = self.retention.get(tier)
        if horizon is None:
            return []
        cutoff = (
            dt.date.fromisoformat(now_day) - dt.timedelta(days=horizon)
        ).isoformat()
        man = self.manifest(tier)
        expired = sorted(d for d in man["partitions"] if d < cutoff)
        floor = man.get("expired_before", "")
        if not expired and cutoff <= floor:
            return []
        man["expired_before"] = max(cutoff, floor)
        snap_id = len(man["snapshots"]) + 1
        retired = self._part_paths(
            tier, {d: man["partitions"][d] for d in expired}
        )
        for d in expired:
            del man["partitions"][d]
        man["snapshots"].append({"id": snap_id, "op": "expire", "days": expired})
        self._tombstone(man, snap_id, retired)
        self._finalize(tier, man)
        return expired

    def drop_partitions(self, tier: str, days: list[str], op: str = "drop") -> list[str]:
        """Manifest-first removal of specific day partitions (log truncation
        after seal-compaction, or targeted deletes). The commit makes them
        invisible, then only THEIR files are vacuumed (other generations in
        the same directory are untouched)."""
        man = self.manifest(tier)
        hit = [d for d in days if d in man["partitions"]]
        if not hit:
            return []
        snap_id = len(man["snapshots"]) + 1
        retired = self._part_paths(tier, {d: man["partitions"][d] for d in hit})
        for d in hit:
            del man["partitions"][d]
        man["snapshots"].append({"id": snap_id, "op": op, "days": sorted(hit)})
        self._tombstone(man, snap_id, retired)
        self._finalize(tier, man)
        return sorted(hit)

    def compact(
        self,
        spark: SparkSession,
        tier: str,
        day: str,
        target_file_bytes: int = 128 << 20,
    ) -> int:
        """Rewrite one day-partition into size-targeted zstd files
        (small-file compaction; Iceberg rewrite_data_files analog).

        The rewrite is side-by-side, never in-place: new files land next to
        the old ones under a snapshot-unique prefix, THEN the manifest swaps
        the file list, THEN the old files are vacuumed — a crash at any
        point leaves one complete committed file set readable (no
        rmtree-then-rename window). Output file count is sized by the
        current partition bytes / ``target_file_bytes`` (not coalesce(1),
        which would serialize a 100-TB day through one task).
        Returns the row count.
        """
        import math

        man = self.manifest(tier)
        if day not in man["partitions"]:
            raise ValueError(f"day {day} not committed in tier '{tier}'")
        path = self.tier_path(tier, day)
        old_names = man["partitions"][day].get("files") or [
            f for f in sorted(os.listdir(path)) if f.endswith(".parquet")
        ]
        old_paths = [os.path.join(path, f) for f in old_names]
        total_bytes = sum(os.path.getsize(p) for p in old_paths)
        n_files = max(1, math.ceil(total_bytes / target_file_bytes))

        df = spark.read.parquet(*old_paths).cache()
        n = df.count()
        snap_id = len(man["snapshots"]) + 1
        staging = os.path.join(
            self.root, "_staging", f"compact{snap_id}-{uuid.uuid4().hex[:8]}"
        )
        (
            df.repartition(n_files, "conv_id")
            .sortWithinPartitions("conv_id", "window_start")
            .write.option("compression", "zstd")
            .parquet(staging)
        )
        df.unpersist()
        new_names = []
        for f in sorted(os.listdir(staging)):
            if not f.endswith(".parquet"):
                continue
            new = f"compact{snap_id}-{f}"
            os.replace(os.path.join(staging, f), os.path.join(path, new))
            new_names.append(new)
        shutil.rmtree(staging, ignore_errors=True)

        man["partitions"][day]["files"] = new_names
        man["snapshots"].append(
            {"id": snap_id, "op": "compact", "days": [day], "files": len(new_names)}
        )
        self._tombstone(
            man, snap_id, [os.path.relpath(p, self.root) for p in old_paths]
        )
        self._finalize(tier, man)
        return n
