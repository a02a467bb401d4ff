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
cascade days from the finer tier's manifest, and a cascade reads only the
stored source days of its pending days. A tier with nothing pending
is skipped without building a plan (``"decided": "manifest"``), so a
re-run with nothing to do launches no Spark job; otherwise the plan is
built and committed (``"decided": "plan"``).
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def main(argv: list[str] | None = None) -> dict:
    from insar_spark.families import enabled, pending_cascade, window_day
    from insar_spark.session import get_spark
    from insar_spark.sources.catalog import TierStore, footer_days
    from insar_spark.synth import synth_transcripts

    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="parquet dir or synth:N")
    p.add_argument("--store", required=True, help="tier store root")
    p.add_argument("--expire-asof", default=None, help="YYYY-MM-DD")
    p.add_argument("--master", default=None)
    p.add_argument(
        "--sketch",
        action="store_true",
        help="also maintain the mergeable sketch tiers: fixed-edge "
        "histogram (hist_1m -> hist_1h over text_len), range-free "
        "log-bucket rank sketch (lb_1h -> lb_1d; lb_1m is stream-only), "
        "HLL registers (hll_1m -> hll_1h, distinct conversations), "
        "count-min frequency (cms_1m -> cms_1h, hot-key probes) and the "
        "M4 chart downsample (m4_1d -> m4_1w, "
        "first/min/max/last points). Same TierStore commit/resume/expiry "
        "semantics; every cascade reads the STORED finer tier",
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
        "THIS job maintains; stream-only tiers (m4_1m, lb_1m, *_1m_log) "
        "have no restate path. Repeatable",
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

    spark = get_spark("rollup_job", master=args.master)
    store = TierStore(args.store, snapshot_keep=args.snapshot_keep)
    run_params = {"input": args.input, "job": "rollup_job", "version": 1}

    t0 = time.perf_counter()
    metrics: dict = {"tiers": {}, "expired": {}}

    @functools.cache
    def turns():
        """The input, read only when a tier-0 tier has pending days:
        reading parquet infers its schema with a Spark job."""
        if args.input.startswith("synth:"):
            return synth_transcripts(spark, n_convs=int(args.input.split(":")[1]))
        return spark.read.parquet(args.input).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )

    input_days = None if args.input.startswith("synth:") else footer_days(args.input)

    def commit(tier, pending, build, params):
        """One tier step: skip it from the manifest when ``pending`` (its
        pending days; None = unknown) is empty, else build the plan and
        commit it, restricted to ``pending``."""
        t = time.perf_counter()
        if pending == []:
            written, skipped = 0, len(store.committed_days(tier))
            decided = "manifest"
        else:
            res = store.write_tier(build(), tier, run_params=params, days=pending)
            written, skipped = len(res["written_days"]), len(res["skipped_days"])
            decided = "plan"
        metrics["tiers"][tier] = {
            "written_days": written,
            "skipped_days": skipped,
            "ms": round(1000 * (time.perf_counter() - t), 1),
            "decided": decided,
        }

    def cascade_from(source, tier, fn, window, params):
        """Commit ``tier`` as ``fn`` over the STORED ``source`` tier,
        reading only the source days of its pending days."""
        pending, reads = pending_cascade(store, source, tier, window)
        commit(
            tier, pending,
            lambda: fn(store.read_tier(spark, source, days=reads).drop("day"), window),
            params,
        )

    families = enabled(args.sketch)
    job_tiers = [
        link for fam in families for link in fam.chain[fam.tiers.index(fam.batch_from):]
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
            days = sorted({window_day(window, d) for d in args.restate_days})
            hit = store.drop_partitions(tier, days, op="restate")
            if hit:
                metrics["restated"][tier] = hit

    # each family: its first tier is the only raw scan; cascades read the
    # STORED finer tier (60x+ smaller than raw) — the merges being
    # associative is what makes "cascade from storage" legal
    for fam in families:
        first = fam.batch_from
        params = {**run_params, **fam.params()}
        pending = None if input_days is None else store.pending_days(first, input_days)
        commit(first, pending, lambda: fam.tier0(turns(), dict(fam.chain)[first]), params)
        for source, tier, window in fam.cascades(first):
            cascade_from(source, tier, fam.cascade, window, params)

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
