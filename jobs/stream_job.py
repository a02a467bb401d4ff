"""Streaming ingestion + sealed-day compaction job (spark-submit entry).

Usage (cluster):
    spark-submit --py-files insar_spark.zip jobs/stream_job.py \
        --input /data/transcript_drops --store /data/tiers \
        --checkpoint /data/ckpt --watermark "10 minutes"

Usage (sandbox, synthesized drop):
    python jobs/stream_job.py --input synth:200 --store /tmp/tiers \
        --checkpoint /tmp/ckpt --drain

Flow — one CYCLE is, per streaming tier family (``insar_spark.families``):
  file-source stream -> watermarked 1m tumbling rollup -> epoch-tagged
  commits into the ``1m_log`` tier (update mode, exactly-once via the
  snapshot manifest) -> stream STOPPED -> ``seal_and_compact``: days the
  watermark has finalized move into ordinary committed ``1m`` partitions
  and are truncated from the log -> the coarser continuous aggregates
  (stats: 1h, 1d) cascade from the STORED finer tier for the newly sealed
  horizon (exact re-aggregation of mergeable summaries; idempotent day-resume).

The seal only ever runs against a quiesced stream: epoch commits
(foreachBatch) and the seal's truncate-commit do read-modify-write on the
same snapshot manifest, so running them concurrently could clobber either
commit (resurrected day entries pointing at vacuumed files, or a lost
epoch tag causing duplicate rows on replay). Stopping the query between
cycles removes the race by construction — the stream resumes from its
checkpoint at the next cycle, replayed epochs are dropped by the manifest
tag, and the compactor's write path skips already-committed days — the
streaming analog of the reference's check_dset/start_layer resume
(insar/prepare.py:228, :942).

``--drain`` runs one cycle and exits (tests / batch-drop backfill);
without it the job loops cycles every ``--seal-interval`` seconds until
interrupted.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run_cycle(
    spark, store, src: str, checkpoint: str, watermark: str,
    sketch: bool = False,
) -> dict:
    """One quiesced ingest+seal+cascade cycle per streaming family (stats,
    plus the streaming sketch families with ``sketch``): drain available
    files into the family's epoch log, stop the query, seal
    watermark-finalized days into its 1m tier, then cascade its coarser
    tiers from the STORED finer tier (never raw turns), idempotent by
    write_tier's day-resume skip. No epoch commit can interleave with any
    manifest read-modify-write (the stream is stopped first). Returns the
    stats seal dict plus ``families[name]``: each family's seal dict with
    ``cascaded`` days per tier and wall ``ms``."""
    from insar_spark.families import enabled, pending_cascade
    from insar_spark.streaming import rollup_stream as rs

    families = {}
    for fam in enabled(sketch):
        t0 = time.perf_counter()
        ckpt = checkpoint if fam.name == "stats" else f"{checkpoint}_{fam.name}"
        q = rs.stream_to_tierstore(
            spark, src, store, checkpoint_dir=ckpt, watermark=watermark,
            tier=fam.log_tier, rollup_builder=fam.stream_1m,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        seal = rs.seal_and_compact(
            spark, store, log_tier=fam.log_tier, sealed_tier=fam.tiers[0],
            watermark=watermark, log_keys=fam.log_keys,
        )
        # a sealed day is final (watermark passed), so its coarser windows
        # are final too — cascade them under the same seal horizon
        seal["cascaded"] = {}
        if seal["written_days"]:
            params = {"source": "stream_cycle_cascade", **fam.params()}
            for source, tier, window in fam.cascades(fam.tiers[0], fam.stream_to):
                # only the source days of the pending target days are read
                pending, reads = pending_cascade(
                    store, source, tier, window, before=seal["seal_before"]
                )
                seal["cascaded"][tier] = []
                if pending:
                    seal["cascaded"][tier] = store.write_tier(
                        fam.cascade(store.read_tier(spark, source, days=reads).drop("day"), window),
                        tier, run_params=params, seal_before=seal["seal_before"], days=pending,
                    )["written_days"]
        seal["ms"] = round(1000 * (time.perf_counter() - t0), 1)
        families[fam.name] = seal
    return {**families["stats"], "families": families}


def main(argv: list[str] | None = None) -> dict:
    from insar_spark.session import get_spark
    from insar_spark.sources.catalog import TierStore
    from insar_spark.synth import synth_transcripts

    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="parquet drop dir or synth:N")
    p.add_argument("--store", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--watermark", default="10 minutes")
    p.add_argument("--master", default=None)
    p.add_argument("--drain", action="store_true",
                   help="run one ingest+seal cycle and exit")
    p.add_argument("--seal-interval", type=float, default=60.0,
                   help="seconds between cycles in continuous mode")
    p.add_argument("--max-cycles", type=int, default=0,
                   help="stop after N cycles (0 = until interrupted)")
    p.add_argument("--sketch", action="store_true",
                   help="also stream-maintain every streaming sketch family "
                   "(<f>_1m_log -> seal <f>_1m -> cascade; checkpoint <checkpoint>_<f>): "
                   "hist, lb, hll, cms (-> <f>_1h) and m4 (-> m4_1d)")
    p.add_argument("--size-watermark", metavar="ARRIVAL_COL", default=None,
                   help="before streaming, profile the drop's lateness "
                   "distribution ordered by ARRIVAL_COL (the ingest "
                   "offset/sequence column) and report the recommended "
                   "watermark (p99.9 lateness via the lb sketch) in the "
                   "metrics line — data-driven sizing for --watermark")
    args = p.parse_args(argv)

    spark = get_spark("stream_job", master=args.master)
    store = TierStore(args.store)

    src = args.input
    if src.startswith("synth:"):
        # land a deterministic drop for the file source to replay
        src = os.path.join(args.store, "_drop")
        if not os.path.exists(src):
            synth_transcripts(
                spark, n_convs=int(args.input.split(":")[1])
            ).write.mode("overwrite").parquet(src)

    wm_metrics: dict = {}
    if args.size_watermark:
        # batch-side ingest QC over the drop: what watermark would cover
        # p99.9 of this feed's lateness? (operators/quality.py — one
        # window exchange + a bucket-sized rank scan; single row back)
        from insar_spark.operators.quality import watermark_recommendation

        drop = spark.read.parquet(src)
        row = watermark_recommendation(
            drop, key_col="conv_id", arrival_col=args.size_watermark,
            ts_col="ts", q=0.999,
        ).collect()[0]
        wm_metrics = {
            "lateness_n_events": row["n_events"],
            "lateness_n_late": row["n_late"],
            "recommended_watermark_us": row["wm_us"],
        }

    cycle = 0
    metrics: dict = {}
    while True:
        cycle += 1
        t0 = time.perf_counter()
        seal = run_cycle(
            spark, store, src, args.checkpoint, args.watermark,
            sketch=args.sketch,
        )
        metrics = {
            "cycle": cycle,
            "seal_before": seal["seal_before"],
            "sealed_days": len(seal["written_days"]),
            "truncated_log_days": len(seal["truncated"]),
            "open_log_days": len(store.committed_days("1m_log")),
            "committed_1m_days": len(store.committed_days("1m")),
            "cascaded_1h_days": len(seal["cascaded"].get("1h", [])),
            "cascaded_1d_days": len(seal["cascaded"].get("1d", [])),
            "wall_sec": round(time.perf_counter() - t0, 3),
            "families": {
                name: {
                    "sealed_days": len(f["written_days"]),
                    "cascaded": {t: len(d) for t, d in f["cascaded"].items()},
                    "ms": f["ms"],
                }
                for name, f in seal["families"].items()
            },
        }
        metrics.update(wm_metrics)
        print(json.dumps(metrics), flush=True)
        if args.drain or (args.max_cycles and cycle >= args.max_cycles):
            return metrics
        time.sleep(args.seal_interval)


if __name__ == "__main__":
    main()
