"""Training-corpus curation pipeline (spark-submit entry).

Composes the engine's LLM-data operators into the production pipeline a
100-TB pretraining-data build runs, end to end:

  documents -> annotate (lang-ID + quality + repetition, one map-only pass)
            -> quality filter -> exact dedup -> deterministic shard export

Usage (cluster):
    spark-submit --py-files insar_spark.zip jobs/corpus_job.py \
        --input /data/documents --out /data/corpus [--n-shards 1024]

Usage (sandbox):
    python jobs/corpus_job.py --input /root/testdata/sf0.01/documents.parquet \
        --out /tmp/corpus

Resume: each stage commits its parquet output plus a ``_COMMITTED`` marker;
a re-run skips every committed stage (checked by the resume pytest). At
scale this means a failed shard export does not re-run the annotate scan.

Scale shape per stage (all verified by the per-operator plan audits):
  annotate       map-only, zero shuffles, pure JVM expressions
  exact dedup    one shuffle on md5(text)
  shards         one n_shards-way balanced exchange, partitionBy layout
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def _committed(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_COMMITTED"))


def _commit(path: str, rows: int | None = None) -> None:
    with open(os.path.join(path, "_COMMITTED"), "w") as f:
        f.write(json.dumps({"ts": time.time(), "rows": rows}))


def _committed_rows(path: str) -> int | None:
    try:
        with open(os.path.join(path, "_COMMITTED")) as f:
            return json.load(f).get("rows")
    except (OSError, ValueError):
        return None


def _stage(out: str, name: str, build, metrics: dict) -> str:
    """Run one stage unless already committed; returns the output path.

    The output row count rides an Observation on the write pass itself
    (and is persisted in the commit marker for resumed runs) — no
    "count the stage we just wrote" re-scan, which at 100 TB would be a
    full extra pass per stage."""
    from pyspark.sql import Observation

    path = os.path.join(out, name)
    t0 = time.perf_counter()
    if _committed(path):
        metrics[name] = {"skipped": True, "rows": _committed_rows(path)}
        return path
    df = build()
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
        "overwrite"
    ).parquet(path)
    rows = int(obs.get["rows"])
    _commit(path, rows)
    metrics[name] = {
        "skipped": False,
        "rows": rows,
        "sec": round(time.perf_counter() - t0, 3),
    }
    return path


def main(argv: list[str] | None = None) -> dict:
    from insar_spark.operators.textstats import (
        lang_id,
        quality_scores,
        repetition_stats,
    )
    from insar_spark.session import get_spark
    from insar_spark.sources.shards import write_shards

    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="documents parquet")
    p.add_argument("--out", required=True, help="pipeline output root")
    p.add_argument("--n-shards", type=int, default=64)
    p.add_argument("--master", default=None)
    p.add_argument("--min-lang-score", type=float, default=0.02)
    p.add_argument("--max-top-bigram-frac", type=float, default=0.6)
    args = p.parse_args(argv)

    spark = get_spark("corpus_job", master=args.master)
    os.makedirs(args.out, exist_ok=True)
    metrics: dict = {"job": "corpus_job", "input": args.input}
    t0 = time.perf_counter()

    from pyspark.sql import Observation

    docs = spark.read.parquet(args.input)

    # -- 1. annotate + quality filter (one map-only pass over the corpus):
    # lang/quality/repetition are all zero-shuffle column expressions, so
    # Catalyst fuses the three joins on doc_id over the same scan. The
    # input row count rides a pre-filter Observation on that same pass —
    # never a separate scan of the corpus just to count it.
    obs_in = Observation()

    def build_filtered() -> DataFrame:
        ann = (
            docs.join(lang_id(docs), "doc_id")
            .join(quality_scores(docs).drop("n_chars"), "doc_id")
            .join(repetition_stats(docs), "doc_id")
        )
        # lang_score is the stopword-profile hit rate: 0 = no recognized
        # language signal (the classic "keyboard mash" junk filter)
        return ann.observe(obs_in, F.count(F.lit(1)).alias("rows")).where(
            (F.col("lang_score") >= args.min_lang_score)
            & (F.col("top_bigram_frac") <= args.max_top_bigram_frac)
        )

    filt_path = _stage(args.out, "filtered", build_filtered, metrics)
    input_marker = os.path.join(args.out, "_input_rows.json")
    if not metrics["filtered"]["skipped"]:
        with open(input_marker, "w") as fh:
            fh.write(json.dumps({"rows": int(obs_in.get["rows"])}))
    with open(input_marker) as fh:
        input_rows = json.load(fh)["rows"]
    filtered = spark.read.parquet(filt_path)

    # -- 2. exact dedup: keep the min doc_id of every identical text
    def build_exact() -> DataFrame:
        keep = (
            filtered.groupBy(F.md5(F.encode("text", "utf-8")).alias("h"))
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id")
        )
        return filtered.join(keep, "doc_id", "left_semi")

    exact_path = _stage(args.out, "exact_dedup", build_exact, metrics)
    final = spark.read.parquet(exact_path)

    # -- 3. shard export (deterministic h60 layout)
    shards_path = os.path.join(args.out, "shards")
    if not _committed(shards_path):
        t1 = time.perf_counter()
        write_shards(final, shards_path, n_shards=args.n_shards)
        _commit(shards_path)
        metrics["shards"] = {
            "skipped": False,
            "sec": round(time.perf_counter() - t1, 3),
        }
    else:
        metrics["shards"] = {"skipped": True}

    # counts come from the write-pass Observations (persisted in the
    # commit markers, so resumed runs report them too) — zero re-scans
    metrics["counts"] = {
        "input": input_rows,
        "filtered": metrics["filtered"]["rows"],
        "exact_dedup": metrics["exact_dedup"]["rows"],
        "final": metrics["exact_dedup"]["rows"],
    }
    metrics["wall_sec"] = round(time.perf_counter() - t0, 3)
    print(json.dumps(metrics))
    return metrics


if __name__ == "__main__":
    main()
