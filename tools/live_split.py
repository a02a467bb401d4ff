"""Measure where the real-time stitch's live layer should leave one task.

``sealed_union_view`` runs latest-epoch-wins and the cascade over the live
layer (sealed fine days not yet in the coarse tier, plus the open epoch-log
days) either in one task (``coalesce(1)``, no exchange) or behind one
exchange; ``rollup_stream.ONE_TASK_ROWS`` picks between them by the live
layer's row count. This script builds live layers of growing row counts
(half a sealed day, half an open log day whose second epoch refines a
fifth of its windows), forces each plan in turn by setting
``ONE_TASK_ROWS``, and prints one JSON line per size and query with each
plan's median wall and CPU (this process and the JVM) milliseconds:

* stats ``filtered``: ``realtime_1h_view(...).filter(conv_id == c).collect()``
* stats / hll ``full``: the whole view, computed (noop sink)

Stats rows replicate a synthetic 1m rollup over fresh conversation ids;
hll rows hold all 1024 registers of every minute (fleet traffic).

Usage: python tools/live_split.py <stats|hll> <live rows> [...] [--reps N]
Run from the checkout root with ``PYTHONPATH=.`` (Python workers import
insar_spark). Stores go under ``$TMPDIR``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path[:0] = [os.path.dirname(os.path.dirname(os.path.abspath(__file__)))]
sys.path.insert(1, os.path.join(sys.path[0], "perfbench"))

from pyspark.sql import functions as F  # noqa: E402

from common import tree_cpu_s  # noqa: E402
from insar_spark.sources.catalog import TierStore  # noqa: E402
from insar_spark.streaming import rollup_stream  # noqa: E402

SEALED_DAY, OPEN_DAY = "2025-03-01", "2025-03-02"
TIERS = {"stats": ("1m", "1m_log"), "hll": ("hll_1m", "hll_1m_log")}


def layer(spark, family, day, rows, work):
    """About ``rows`` 1m rows of ``family`` on ``day``."""
    if family == "hll":
        minutes = spark.range(max(1, rows // 1024)).withColumnRenamed("id", "m")
        t0 = F.lit(day).cast("timestamp").cast("long")
        return minutes.crossJoin(spark.range(1024).withColumnRenamed("id", "reg")).select(
            (t0 + F.col("m") * 60).cast("timestamp").alias("window_start"),
            F.col("reg").cast("int").alias("reg"),
            (F.pmod(F.xxhash64("m", "reg"), F.lit(20)) + 1).cast("int").alias("max_rho"),
        )
    from insar_spark.operators.rollup import rollup_turns
    from insar_spark.synth import synth_transcripts

    base_path = os.path.join(work, "stats_base")
    if not os.path.exists(base_path):
        turns = synth_transcripts(spark, n_convs=200, seed=7, mega_every=50, mega_turns=2000)
        rollup_turns(turns, "1m").write.parquet(base_path)
    base = spark.read.parquet(base_path)
    reps = spark.range(max(1, round(rows / base.count()))).withColumnRenamed("id", "rep")
    tod = F.col("window_start").cast("long") % 86400
    return (
        base.crossJoin(reps)
        .withColumn(
            "conv_id",
            F.concat_ws("_", "conv_id", F.date_format("window_start", "MMdd"),
                        F.col("rep").cast("string"), F.lit(day)),
        )
        .withColumn("window_start", (F.lit(day).cast("timestamp").cast("long") + tod).cast("timestamp"))
        .withColumn("sum_text_len", F.col("sum_text_len") + F.pmod(F.xxhash64("conv_id"), F.lit(97)))
        .select(*base.columns)
    )


def build(spark, family, rows, work):
    store = TierStore(os.path.join(work, f"{family}_{rows}"))
    sealed_tier, log_tier = TIERS[family]
    store.write_tier(layer(spark, family, SEALED_DAY, rows // 2, work), sealed_tier)
    log0 = layer(spark, family, OPEN_DAY, rows // 2, work)
    store.write_tier_log(log0, log_tier, epoch=0)
    key, col = ("conv_id", "n_turns") if family == "stats" else ("reg", "max_rho")
    refined = log0.filter(F.pmod(F.xxhash64(key), F.lit(5)) == 0)
    store.write_tier_log(refined.withColumn(col, F.col(col) + 1), log_tier, epoch=1)
    return store


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("family", choices=sorted(TIERS))
    p.add_argument("rows", type=int, nargs="+")
    p.add_argument("--reps", type=int, default=5)
    args = p.parse_args()

    from insar_spark.session import get_spark

    spark = get_spark("live_split", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="live_split_")
    plans = {"one": 2**62, "exchange": 0}  # ONE_TASK_ROWS forcing each plan
    try:
        for rows in args.rows:
            store = build(spark, args.family, rows, work)
            live = sum(store.tier_rows(t) for t in TIERS[args.family])
            conv = None
            if args.family == "stats":
                conv = store.read_tier(spark, "1m_log").select("conv_id").first()[0]

            def run(plan, query):
                rollup_stream.ONE_TASK_ROWS = plans[plan]
                store.views.clear()
                view = rollup_stream.realtime_1h_view(spark, store, args.family)
                if query == "filtered":
                    view.filter(F.col("conv_id") == conv).collect()
                else:
                    view.write.format("noop").mode("overwrite").save()

            for query in ["filtered", "full"] if conv else ["full"]:
                times = {plan: [] for plan in plans}
                for plan in plans:
                    run(plan, query)  # warm-up
                for i in range(args.reps):
                    for plan in sorted(plans, reverse=i % 2 == 1):
                        c0, t0 = tree_cpu_s(), time.perf_counter()
                        run(plan, query)
                        times[plan].append(
                            ((time.perf_counter() - t0) * 1e3, (tree_cpu_s() - c0) * 1e3)
                        )
                out = {"family": args.family, "query": query, "live_rows": live}
                for plan, v in times.items():
                    out[f"{plan}_wall_ms"] = round(statistics.median(w for w, _ in v))
                    out[f"{plan}_cpu_ms"] = round(statistics.median(c for _, c in v))
                print(json.dumps(out), flush=True)
            shutil.rmtree(store.root)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
