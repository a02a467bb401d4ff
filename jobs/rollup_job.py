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


def _job_tiers(args) -> tuple[str, ...]:
    """Every tier this invocation maintains, given its flags."""
    return ("1m", "1h", "1d") + (
        (
            "hist_1m", "hist_1h", "lb_1h", "lb_1d",
            "dist_1m", "dist_1h", "hll_1m", "hll_1h",
            "cms_1m", "cms_1h", "kmv_1m", "kmv_1h",
            "m4_1d", "m4_1w",
        )
        + (("lb_1m",) if args.lb_tier0 else ())
        if args.sketch
        else ()
    )


def _partition_day(tier: str, day: str) -> str:
    """The store partition holding ``day``'s data in ``tier``: the day
    itself for day-or-finer windows, the containing Monday for the
    weekly M4 tier (date_trunc('week') semantics)."""
    if tier != "m4_1w":
        return day
    d = dt.date.fromisoformat(day)
    return (d - dt.timedelta(days=d.weekday())).isoformat()


def main(argv: list[str] | None = None) -> dict:
    from insar_spark.operators.rollup import cascade, rollup_turns
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
        "hot-key probes) and KMV distinct samples (kmv_1m -> kmv_1h, "
        "set intersection). Same TierStore commit/resume/expiry "
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
        "THIS job maintains; stream-only tiers (m4_1m, *_1m_log) must "
        "be restated by stream_job. Repeatable",
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

    def commit(tier, build, days, params=run_params):
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

    def cascade_from(source, tier, fn, window, params=run_params):
        """Commit ``tier`` as ``fn`` over the STORED ``source`` tier; its
        days are the source's committed days."""
        def build():
            return fn(store.read_tier(spark, source).drop("day"), window)

        days = {_partition_day(tier, d) for d in store.committed_days(source)}
        commit(tier, build, days, params)

    if args.restate_days:
        # Invalidation first, rebuild via the normal flow below: dropping
        # the day makes it "uncommitted", so write_tier refills exactly it
        # (and the cascades, reading the STORED finer tier, pick up the
        # restated partitions). At cluster scale the raw scan still covers
        # the full input — the write is day-pruned, the scan is not; a
        # backfill-only deployment would pass a day-filtered --input.
        metrics["restated"] = {}
        for tier in _job_tiers(args):
            days = sorted({_partition_day(tier, d) for d in args.restate_days})
            hit = store.drop_partitions(tier, days, op="restate")
            if hit:
                metrics["restated"][tier] = hit

    # tier 0: the only raw scan; cascades read the STORED finer tier (60x+
    # smaller than raw)
    commit("1m", lambda: rollup_turns(turns(), "1m"), input_days)
    cascade_from("1m", "1h", cascade, "1h")
    cascade_from("1h", "1d", cascade, "1d")

    if args.sketch:
        # percentile-sketch tiers ride the same store: day-commit resume,
        # manifest lineage, expiry — the bitmap/histogram merge being
        # associative is what makes "cascade from storage" legal here too
        from insar_spark.operators.sketch import (
            DEFAULT_BINS,
            DEFAULT_HI,
            DEFAULT_LO,
            hist_cascade,
            hist_rollup,
        )

        def text_len(cast, *cols):
            return turns().select(
                *cols, F.length("text").cast(cast).alias("text_len")
            )

        # bin edges ride the tier manifest: a reader can tell what range
        # the stored sketch was built for (and, with the n_clamped_*
        # columns, whether that range saturated) without re-scanning raw
        hist_params = {
            **run_params,
            "hist_lo": DEFAULT_LO,
            "hist_hi": DEFAULT_HI,
            "hist_bins": DEFAULT_BINS,
        }
        commit(
            "hist_1m",
            lambda: hist_rollup(
                text_len("double", "conv_id", "ts"), "1m", value_col="text_len"
            ),
            input_days,
            hist_params,
        )
        cascade_from("hist_1m", "hist_1h", hist_cascade, "1h", hist_params)

        # range-free log-bucket rank sketch tier (second sketch family):
        # tall (key, window, bucket, cnt) rows, merge = groupBy sum, no
        # [lo,hi) assumption so nothing ever clamps/saturates.
        #
        # STORE POLICY (round-5): the tall sketch barely collapses sparse
        # series at 1m granularity — measured 1.57x the hist tier's row
        # count on the sparse synth corpus, i.e. a tier-0 sketch
        # comparable to the raw table, which defeats the "cascade reads
        # stored tiers, never raw" rule. So the PERSISTED lb family
        # starts at 1h (a direct 1h rollup — pytest-proven identical to
        # cascading a transient 1m sketch) and cascades 1h -> 1d from
        # storage. --lb-tier0 opts into persisting the 1m sketch too
        # (dense-window deployments); the job then records the measured
        # lb_1m/hist_1m row ratio in its metrics so the operator can see
        # whether the opt-in was justified. The STREAMING path still
        # seals 1m lb partials — that layer is the bounded (7-day
        # retention) real-time serve window, not long-term tier storage.
        from insar_spark.operators.sketch import (
            LB_SUB_BITS,
            lb_cascade,
            lb_rollup,
        )

        lb_params = {
            **run_params,
            "lb_sub_bits": LB_SUB_BITS,
            "lb_tier0_policy": "1m" if args.lb_tier0 else "1h+",
        }

        def lb_direct(window):
            return lb_rollup(
                text_len("long", "conv_id", "ts"), window, value_col="text_len"
            )

        if args.lb_tier0:
            commit("lb_1m", lambda: lb_direct("1m"), input_days, lb_params)
            cascade_from("lb_1m", "lb_1h", lb_cascade, "1h", lb_params)
        else:
            commit("lb_1h", lambda: lb_direct("1h"), input_days, lb_params)
        cascade_from("lb_1h", "lb_1d", lb_cascade, "1d", lb_params)
        if args.lb_tier0:
            lb_rows = sum(
                p["rows"]
                for p in store.manifest("lb_1m")["partitions"].values()
            )
            hist_rows = sum(
                p["rows"]
                for p in store.manifest("hist_1m")["partitions"].values()
            )
            metrics["lb_tier0_rows_ratio"] = (
                round(lb_rows / hist_rows, 3) if hist_rows else None
            )

        # global distinct-conversation bitmap tier (no series key):
        # write_tier clusters by day only. The GLOBAL tier sees fleet
        # cardinality, so it uses the TALL large-m form (m=2^20: load
        # factor < 10% at 1M distincts per window — the array form's
        # m=1024 saturates silently there), and m rides the manifest
        # exactly like the hist bin edges so a reader can derive the load
        # factor / saturation flag from the stored tier alone.
        from insar_spark.operators.sketch import (
            DISTINCT_M_GLOBAL,
            distinct_cascade_tall,
            distinct_rollup_tall,
        )

        dist_params = {
            **run_params,
            "distinct_m": DISTINCT_M_GLOBAL,
            "distinct_form": "tall",
        }
        commit(
            "dist_1m",
            lambda: distinct_rollup_tall(
                turns().select("conv_id", "ts"), "1m", m=DISTINCT_M_GLOBAL
            ),
            input_days,
            dist_params,
        )
        cascade_from("dist_1m", "dist_1h", distinct_cascade_tall, "1h", dist_params)

        # HLL register tier: the UNBOUNDED-cardinality companion to the
        # bitmap — the bitmap is the low-range precision tool (exact bit
        # count below its load-factor ceiling), HLL the fleet-scale one
        # (~3% error flat forever; max-merge is idempotent so replays
        # are free). Global tier at 1m is bounded at 2^p rows per window
        # regardless of traffic, so tier-0 persistence is always cheap —
        # no lb-style store policy needed. p rides the manifest like the
        # hist edges / distinct m, so readers derive the register count
        # (and LC-regime cutoff) from the stored tier alone.
        from insar_spark.operators.sketch import (
            HLL_P,
            hll_cascade,
            hll_rollup,
        )

        hll_params = {**run_params, "hll_p": HLL_P}
        commit(
            "hll_1m",
            lambda: hll_rollup(turns().select("conv_id", "ts"), "1m"),
            input_days,
            hll_params,
        )
        cascade_from("hll_1m", "hll_1h", hll_cascade, "1h", hll_params)

        # count-min frequency tier: point-frequency probes (hot-key /
        # mega-conversation detection) from d*w counters per window.
        # Bounded like HLL (<= d*w rows/window regardless of traffic),
        # so tier-0 persistence is always cheap; sum-merge cascades.
        # d/w/seed ride the manifest so probes recompute the SAME
        # universal-hash cells the stored tier was built with.
        from insar_spark.operators.sketch import (
            CMS_D,
            CMS_SEED,
            CMS_W,
            cms_cascade,
            cms_rollup,
        )

        cms_params_ = {
            **run_params,
            "cms_d": CMS_D,
            "cms_w": CMS_W,
            "cms_seed": CMS_SEED,
        }
        commit(
            "cms_1m",
            lambda: cms_rollup(turns().select("conv_id", "ts"), "1m"),
            input_days,
            cms_params_,
        )
        cascade_from("cms_1m", "cms_1h", cms_cascade, "1h", cms_params_)

        # KMV distinct-sample tier: the only distinct summary whose
        # stored form also answers set INTERSECTION (bitmap/HLL merge by
        # union only). One array row of <= k hashes per window, so
        # tier-0 persistence is always cheap; the cascade is
        # union-and-retake (== direct build, tested). k rides the
        # manifest so intersection readers know the sample contract.
        from insar_spark.operators.sketch import (
            KMV_K,
            kmv_cascade,
            kmv_rollup,
        )

        kmv_params = {**run_params, "kmv_k": KMV_K}
        commit(
            "kmv_1m",
            lambda: kmv_rollup(turns().select("conv_id", "ts"), "1m"),
            input_days,
            kmv_params,
        )
        cascade_from("kmv_1m", "kmv_1h", kmv_cascade, "1h", kmv_params)

        # M4 downsample tier: the chart-serving shape (first/min/max/last
        # real points per bucket, downsample.py). Every component
        # composes exactly, so the weekly tier cascades from the STORED
        # daily tier (== direct weekly build, tested). One row per
        # (series, bucket) — tier-0 persistence always cheap.
        from insar_spark.operators.downsample import m4_cascade, m4_downsample

        commit(
            "m4_1d",
            lambda: m4_downsample(
                text_len("double", "conv_id", "turn_idx", "ts"),
                "day",
                value_col="text_len",
            ),
            input_days,
        )
        cascade_from("m4_1d", "m4_1w", m4_cascade, "week")

    if args.expire_asof:
        for tier in _job_tiers(args):
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
