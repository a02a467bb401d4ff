"""Production tier-rollup job (spark-submit entry).

Usage (cluster):
    spark-submit --py-files insar_spark.zip jobs/rollup_job.py \
        --input /data/transcripts --store /data/tiers --expire-asof 2025-06-01

    (build the zip with:  cd /root/repo && zip -qr insar_spark.zip insar_spark)

Usage (sandbox, synthesized input):
    python jobs/rollup_job.py --input synth:2000 --store /tmp/tiers

Flow (one raw scan total):
  transcripts -> rollup 1m -> TierStore commit (skips already-committed
  day-partitions: resume) -> read STORED 1m -> cascade 1h -> commit ->
  read STORED 1h -> cascade 1d -> commit -> retention expiry -> metrics
  JSON on stdout (per-tier days written/skipped and wall ms, wall seconds,
  rolled-up points/sec; per-partition lineage lives in the store
  manifests).

Each tier step first asks the store which of its days are still pending:
tier-0 days come from the input files' Parquet footers (the ``ts`` range),
cascade days from the finer tier's manifest. A tier with nothing pending
is skipped without building a plan (``"decided": "manifest"``), so a
re-run with nothing to do launches no Spark job; otherwise the plan is
built and committed (``"decided": "plan"``).
"""

from __future__ import annotations

import argparse
import datetime as dt
import functools
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def _partition_day(window: str, day: str) -> str:
    """The store partition holding ``day``'s data in a tier of ``window``:
    the day itself for day-or-finer windows, the containing Monday for the
    weekly M4 tier (date_trunc('week') semantics)."""
    if window != "week":
        return day
    d = dt.date.fromisoformat(day)
    return (d - dt.timedelta(days=d.weekday())).isoformat()


def main(argv: list[str] | None = None) -> dict:
    from insar_spark.families import enabled
    from insar_spark.session import get_spark
    from insar_spark.sources.catalog import TierStore, footer_days
    from insar_spark.synth import synth_transcripts

    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="parquet dir or synth:N")
    p.add_argument("--store", required=True, help="tier store root")
    p.add_argument("--expire-asof", default=None, help="YYYY-MM-DD")
    p.add_argument("--master", default=None)
    p.add_argument(
        "--bucketize",
        type=int,
        default=0,
        metavar="N_BUCKETS",
        help="first land the input as a conv_id-bucketed table "
        "(<store>/_bucketed warehouse); the tier cascade then runs "
        "shuffle-free (the 100TB layout, see SCALE.md §1)",
    )
    p.add_argument(
        "--sketch",
        action="store_true",
        help="also maintain the mergeable sketch tiers: fixed-edge "
        "histogram (hist_1m -> hist_1h over text_len), range-free "
        "log-bucket rank sketch (lb_1h -> lb_1d; 1m opt-in via "
        "--lb-tier0), tall distinct-count bitmap (dist_1m -> dist_1h, "
        "m=2^20), HLL registers (hll_1m -> hll_1h, unbounded "
        "cardinality), count-min frequency (cms_1m -> cms_1h, "
        "hot-key probes), KMV distinct samples (kmv_1m -> kmv_1h, "
        "set intersection) and the M4 chart downsample (m4_1d -> m4_1w, "
        "first/min/max/last points). Same TierStore commit/resume/expiry "
        "semantics; every cascade reads the STORED finer tier",
    )
    p.add_argument(
        "--lb-tier0",
        action="store_true",
        dest="lb_tier0",
        help="with --sketch: ALSO persist the log-bucket sketch at 1m. "
        "Default policy starts the persisted lb family at 1h because the "
        "tall sketch barely collapses sparse series at 1m (measured "
        "~1.6x the hist tier's rows); opting in records the measured "
        "lb_1m/hist_1m row ratio in the job metrics",
    )
    p.add_argument(
        "--restate-day",
        action="append",
        default=None,
        metavar="YYYY-MM-DD",
        dest="restate_days",
        help="late/corrected data: DROP this day's committed partitions "
        "from every tier this run maintains (the containing week for "
        "m4_1w), then let the normal idempotent build refill exactly "
        "those days from --input (TimescaleDB continuous-aggregate "
        "invalidation analog). The drop is a snapshot, not a mutation: "
        "with --snapshot-keep N the pre-restate numbers stay readable "
        "via read_tier(as_of=...) and rollback-able. Covers the tiers "
        "THIS job maintains; stream-only tiers (m4_1m, lb_1m without "
        "--lb-tier0, *_1m_log) have no restate path. Repeatable",
    )
    p.add_argument(
        "--snapshot-keep",
        type=int,
        default=0,
        metavar="N",
        help="keep the last N tier-store snapshots (INCLUDING the "
        "current one) time-travelable (read_tier as_of / rollback); "
        "retired files are tombstoned and vacuumed only past this "
        "horizon. 0 (default) vacuums at commit; --restate-day needs "
        "N>=3 to keep the pre-restate state readable",
    )
    args = p.parse_args(argv)

    extra = (
        {"spark.sql.warehouse.dir": os.path.join(args.store, "_bucketed")}
        if args.bucketize
        else None
    )
    spark = get_spark("rollup_job", master=args.master, extra_conf=extra)
    store = TierStore(args.store, snapshot_keep=args.snapshot_keep)
    run_params = {"input": args.input, "job": "rollup_job", "version": 1}

    t0 = time.perf_counter()
    metrics: dict = {"tiers": {}, "expired": {}}

    @functools.cache
    def turns():
        """The input, read (and bucketed) only when a tier-0 tier has
        pending days: reading parquet infers its schema with a Spark job."""
        if args.input.startswith("synth:"):
            df = synth_transcripts(spark, n_convs=int(args.input.split(":")[1]))
        else:
            df = spark.read.parquet(args.input).withColumn(
                "ts", F.col("ts").cast("timestamp")
            )
        if not args.bucketize:
            return df
        from insar_spark.sources.bucketed import attach_bucketed, write_bucketed

        wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        loc = os.path.join(wh, "transcripts_bucketed")
        if not os.path.exists(loc):
            write_bucketed(df, "transcripts_bucketed", args.bucketize)
        return attach_bucketed(spark, "transcripts_bucketed", loc, args.bucketize)

    input_days = None if args.input.startswith("synth:") else footer_days(args.input)

    def commit(tier, build, days, params):
        """One tier step: skip it from the manifest when ``days`` (the
        days its source holds; None = unknown) has none pending, else
        build the plan and commit it."""
        t = time.perf_counter()
        if days is not None and not store.pending_days(tier, days):
            written, skipped = 0, len(store.committed_days(tier))
            decided = "manifest"
        else:
            res = store.write_tier(build(), tier, run_params=params)
            written, skipped = len(res["written_days"]), len(res["skipped_days"])
            decided = "plan"
        metrics["tiers"][tier] = {
            "written_days": written,
            "skipped_days": skipped,
            "ms": round(1000 * (time.perf_counter() - t), 1),
            "decided": decided,
        }

    def cascade_from(source, tier, fn, window, params):
        """Commit ``tier`` as ``fn`` over the STORED ``source`` tier; its
        days are the source's committed days."""
        def build():
            return fn(store.read_tier(spark, source).drop("day"), window)

        days = {_partition_day(window, d) for d in store.committed_days(source)}
        commit(tier, build, days, params)

    def first_tier(fam):
        # --lb-tier0 opts the lb family into persisting its finest tier
        return fam.tiers[0] if fam.name == "lb" and args.lb_tier0 else fam.batch_from

    families = enabled(args.sketch)
    job_tiers = [
        link for fam in families for link in fam.chain[fam.tiers.index(first_tier(fam)):]
    ]

    if args.restate_days:
        # Invalidation first, rebuild via the normal flow below: dropping
        # the day makes it "uncommitted", so write_tier refills exactly it
        # (and the cascades, reading the STORED finer tier, pick up the
        # restated partitions). At cluster scale the raw scan still covers
        # the full input — the write is day-pruned, the scan is not; a
        # backfill-only deployment would pass a day-filtered --input.
        metrics["restated"] = {}
        for tier, window in job_tiers:
            days = sorted({_partition_day(window, d) for d in args.restate_days})
            hit = store.drop_partitions(tier, days, op="restate")
            if hit:
                metrics["restated"][tier] = hit

    # each family: its first tier is the only raw scan; cascades read the
    # STORED finer tier (60x+ smaller than raw) — the merges being
    # associative is what makes "cascade from storage" legal
    for fam in families:
        first = first_tier(fam)
        params = {**run_params, **fam.params()}
        if fam.name == "lb":
            params["lb_tier0_policy"] = "1m" if args.lb_tier0 else "1h+"
        commit(first, lambda: fam.tier0(turns(), dict(fam.chain)[first]), input_days, params)
        for source, tier, window in fam.cascades(first):
            cascade_from(source, tier, fam.cascade, window, params)

    if args.sketch and args.lb_tier0:
        lb_rows, hist_rows = (
            sum(p["rows"] for p in store.manifest(t)["partitions"].values())
            for t in ("lb_1m", "hist_1m")
        )
        metrics["lb_tier0_rows_ratio"] = round(lb_rows / hist_rows, 3) if hist_rows else None

    if args.expire_asof:
        for tier, _ in job_tiers:
            metrics["expired"][tier] = store.expire(tier, args.expire_asof)

    wall = time.perf_counter() - t0
    total_points = sum(
        p["rows"]
        for tier in ("1m", "1h", "1d")
        for p in store.manifest(tier)["partitions"].values()
    )
    metrics.update(
        {
            "wall_sec": round(wall, 3),
            "rolled_up_points": total_points,
            "points_per_sec": round(total_points / wall, 1),
        }
    )
    print(json.dumps(metrics))
    return metrics


if __name__ == "__main__":
    main()
