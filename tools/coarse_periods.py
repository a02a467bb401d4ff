"""Measure the file period of the cascaded tiers: day, ISO-week or month.

A cascaded tier (``1h``, ``1d``, the sketch tiers after their family's
first) stores one file per period (``families.file_period``). This script
forces each layout in turn by patching that rule in-process, builds the
stats ``1h`` tier of a serve-shaped store day by day (one
``write_tier(days=[day])`` commit per day, as a daily cascade does), seals
one more ``1m`` day and opens one epoch-log day, then times filtered
real-time reads, ``stats_realtime_1h_view(...).filter(conv_id == c)
.collect()``, alternating the layouts. One JSON line per tier depth and
layout:

* ``read_cpu_ms`` / ``read_wall_ms``: median filtered read, CPU of this
  process and the JVM, and wall time;
* ``coarse_files`` (1h files one read opens) and ``coarse_bytes``;
* ``commit_bytes_median`` / ``commit_bytes_max``: bytes one daily commit
  writes, the write amplification of an open period (a day file writes
  its day; a month file rewrites the month so far);
* ``commit_cpu_ms_*`` / ``commit_wall_ms_*``: median and max CPU (this
  process and the JVM) and wall time of one daily commit (the layouts'
  commits interleave, so the max is usually a warm-up commit).

Conversations come from the perfbench generator (seed, 2500 conversations)
rebased into the tier's days.

Usage: python tools/coarse_periods.py [--days 28 90] [--reps 15] [--seed 4242]
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

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import gen  # noqa: E402
from common import tree_cpu_s  # noqa: E402
from insar_spark import families  # noqa: E402
from insar_spark.sources.catalog import TierStore  # noqa: E402

LAYOUTS = ("day", "week", "month")


def land(spark, seed: int, n_days: int, work: str):
    """Turns of the perfbench conversations rebased into ``n_days + 2``
    days from the perfbench first day."""
    path = os.path.join(work, f"turns_{n_days}.parquet")
    df = gen.rebase(gen.synthesize(seed), n_days + 2, seed)
    table = pa.Table.from_pandas(
        df.assign(ts=df["ts"].astype("datetime64[us]").dt.tz_localize("UTC")),
        schema=gen.SCHEMA,
        preserve_index=False,
    )
    pq.write_table(table, path)
    return spark.read.parquet(path)


def build(spark, turns, n_days: int, work: str) -> dict[str, tuple[TierStore, list[tuple]]]:
    """Per layout, a store with ``n_days`` 1h days committed one per
    commit, a sealed 1m day and an open log day; also the bytes, CPU ms
    and wall ms of each daily 1h commit. The layouts' daily commits are
    interleaved in rotating order, so JVM warm-up is shared."""
    from insar_spark.operators.rollup import rollup_turns

    rule = families.file_period

    def use(layout):
        families.file_period = lambda t: layout if rule(t) == "month" else rule(t)

    stores = {lay: TierStore(os.path.join(work, f"{lay}_{n_days}")) for lay in LAYOUTS}
    commits = {lay: [] for lay in LAYOUTS}
    days = [gen.day(i) for i in range(n_days + 2)]
    hourly = os.path.join(work, f"1h_{n_days}")
    rollup_turns(turns, "1h").write.parquet(hourly)
    rolled = spark.read.parquet(hourly)
    day = F.date_format("ts", "yyyy-MM-dd")
    try:
        for i, d in enumerate(days[:n_days]):
            for lay in LAYOUTS[i % 3:] + LAYOUTS[:i % 3]:
                use(lay)
                store = stores[lay]
                before = set(store.committed_files("1h"))
                c0, t0 = tree_cpu_s(), time.perf_counter()
                store.write_tier(rolled, "1h", days=[d])
                cpu, wall = (tree_cpu_s() - c0) * 1e3, (time.perf_counter() - t0) * 1e3
                commits[lay].append((sum(
                    os.path.getsize(os.path.join(store.root, p))
                    for p in set(store.committed_files("1h")) - before
                ), cpu, wall))
        for lay, store in stores.items():
            use(lay)
            store.write_tier(rollup_turns(turns.filter(day == days[n_days]), "1m"), "1m")
            store.write_tier_log(
                rollup_turns(turns.filter(day == days[n_days + 1]), "1m"), "1m_log", epoch=0
            )
    finally:
        families.file_period = rule
    return {lay: (stores[lay], commits[lay]) for lay in LAYOUTS}


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--days", type=int, nargs="+", default=[28, 90])
    p.add_argument("--reps", type=int, default=15)
    p.add_argument("--seed", type=int, default=4242)
    args = p.parse_args()

    from insar_spark.session import get_spark
    from insar_spark.streaming import rollup_stream

    spark = get_spark("coarse_periods", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="coarse_periods_")
    try:
        for n_days in args.days:
            turns = land(spark, args.seed, n_days, work)
            convs = [
                r[0]
                for r in turns.groupBy("conv_id").count().orderBy(F.desc("count"), "conv_id")
                .limit(3 * args.reps).collect()
            ][2:]  # past the two mega conversations
            stores = build(spark, turns, n_days, work)

            def read(layout, conv):
                view = rollup_stream.stats_realtime_1h_view(spark, stores[layout][0])
                view = view.filter(F.col("conv_id") == conv)
                view.collect()
                return view

            times = {lay: [] for lay in LAYOUTS}
            files = {lay: read(lay, convs[0]).inputFiles() for lay in LAYOUTS}  # warm-up
            for i in range(args.reps):
                order = LAYOUTS[i % 3:] + LAYOUTS[:i % 3]
                for lay in order if i % 2 == 0 else order[::-1]:
                    c0, t0 = tree_cpu_s(), time.perf_counter()
                    read(lay, convs[i])
                    times[lay].append(((time.perf_counter() - t0) * 1e3, (tree_cpu_s() - c0) * 1e3))
            for lay in LAYOUTS:
                store, commits = stores[lay]
                written, cpu, wall = zip(*commits)
                print(json.dumps({
                    "days": n_days,
                    "layout": lay,
                    "read_cpu_ms": round(statistics.median(c for _, c in times[lay])),
                    "read_wall_ms": round(statistics.median(w for w, _ in times[lay])),
                    "coarse_files": sum(f"{os.sep}tier=1h{os.sep}" in f for f in files[lay]),
                    "coarse_bytes": store.tier_bytes("1h"),
                    "commit_bytes_median": round(statistics.median(written)),
                    "commit_bytes_max": max(written),
                    "commit_cpu_ms_median": round(statistics.median(cpu)),
                    "commit_cpu_ms_max": round(max(cpu)),
                    "commit_wall_ms_median": round(statistics.median(wall)),
                    "commit_wall_ms_max": round(max(wall)),
                }), flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
