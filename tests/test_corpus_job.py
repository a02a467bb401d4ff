"""End-to-end corpus curation pipeline: filter -> exact dedup -> shard
export, with idempotent stage resume."""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest


@pytest.fixture(scope="module")
def corpus_input(spark, tmp_path_factory):
    """Synthetic corpus with a planted exact dup, a near dup (kept: only
    exact duplicates are dropped) and junk."""
    base = (
        "the quick brown fox jumps over the lazy dog and then the fox "
        "runs far away to the old forest where the dog cannot follow"
    )
    near = base + " again"  # one appended word: not an exact dup
    rows = [
        (0, base, "en", "src0"),
        (1, base, "en", "src0"),            # exact dup of 0
        (2, near, "en", "src1"),            # near dup of 0, kept
        (3, "zzz zzz zzz zzz zzz zzz zzz zzz", "en", "src1"),  # junk: repetition
        (4, "qq ww ee rr tt yy uu ii oo pp", "en", "src2"),    # junk: no stopwords
        (
            5,
            "the exam question is what color is the sky on a clear day "
            "and the answer is blue because the air scatters the light",
            "en",
            "src2",
        ),
        (
            6,
            "a completely ordinary document with the usual words and a "
            "story about the weather in the mountains during the spring",
            "en",
            "src0",
        ),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])
    pdf["n_chars"] = pdf["text"].str.len()
    root = tmp_path_factory.mktemp("corpus")
    docs_path = str(root / "documents.parquet")
    spark.createDataFrame(pdf).write.parquet(docs_path)
    return docs_path, str(root / "out")


def test_pipeline_end_to_end_and_resume(spark, corpus_input, capsys):
    from jobs.corpus_job import main

    docs_path, out = corpus_input
    argv = [
        "--input", docs_path,
        "--out", out,
        "--n-shards", "8",
        "--master", "local[4]",
    ]
    m = main(argv)
    c = m["counts"]
    assert c["input"] == 7
    # junk docs 3 (repetition) and 4 (no stopwords) filtered
    assert c["filtered"] == 5
    # exact dup (doc 1) dropped, min id kept
    assert c["exact_dedup"] == 4
    assert c["final"] == 4
    final_ids = sorted(
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(out, "shards")).collect()
    )
    assert final_ids == [0, 2, 5, 6]
    assert all(not m[s].get("skipped") for s in
               ("filtered", "exact_dedup", "shards"))

    # resume: every stage skips, counts identical
    m2 = main(argv)
    assert all(m2[s]["skipped"] for s in ("filtered", "exact_dedup", "shards"))
    assert m2["counts"] == c

    # stdout is one parseable JSON metrics line per run
    lines = [
        ln for ln in capsys.readouterr().out.strip().splitlines()
        if ln.startswith("{")
    ]
    assert len(lines) == 2 and json.loads(lines[0])["counts"]["final"] == 4


def test_stage_crash_between_write_and_marker_heals(spark, corpus_input):
    """Crash simulation: a stage's parquet exists but its _COMMITTED
    marker does not (death between write and commit). The re-run must
    rebuild that stage (mode=overwrite) and produce the same final
    corpus — no duplicates, no missing docs."""
    import shutil

    from jobs.corpus_job import main

    docs_path, out_base = corpus_input
    out = out_base + "_crash"
    argv = [
        "--input", docs_path,
        "--out", out,
        "--n-shards", "8",
        "--master", "local[4]",
    ]
    m1 = main(argv)

    # simulate the crash: drop the exact_dedup marker (parquet stays) and
    # everything downstream of it entirely
    os.remove(os.path.join(out, "exact_dedup", "_COMMITTED"))
    shutil.rmtree(os.path.join(out, "shards"))

    m2 = main(argv)
    assert m2["filtered"]["skipped"]
    assert not m2["exact_dedup"]["skipped"]  # re-ran the crashed stage
    assert m2["counts"] == m1["counts"]
    final_ids = sorted(
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(out, "shards")).collect()
    )
    assert final_ids == [0, 2, 5, 6]
