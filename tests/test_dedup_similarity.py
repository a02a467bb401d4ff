"""Dedup + textstats operators."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs_with_dups(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while spark rolls "
        "windows and joins tables across many partitions of data"
    )
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base.replace("lazy", "sleepy")),  # near dup of 0
        (3, "completely different text about weather patterns in the alps"),
        (4, "short one"),
        (5, base + " with a small suffix appended here"),  # near dup
        (6, "another unrelated document mentioning databases and query engines"),
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_minhash_lsh_finds_near_dups(spark, docs_with_dups):
    from insar_spark.operators.dedup import minhash_dedup

    pairs = minhash_dedup(docs_with_dups, threshold=0.5).toPandas()
    found = {tuple(sorted((a, b))) for a, b in zip(pairs.id_a, pairs.id_b)}
    assert (0, 1) in found  # exact dup
    assert (0, 2) in found or (1, 2) in found  # near dup
    # unrelated docs never pair
    assert not any(3 in p or 6 in p for p in found)
    # exact dup has jaccard 1.0
    exact = pairs[(pairs.id_a == 0) & (pairs.id_b == 1)]
    assert exact["jaccard"].iloc[0] == pytest.approx(1.0)


def test_minhash_signature_deterministic(spark, docs_with_dups):
    from insar_spark.operators.dedup import minhash_signatures

    a = minhash_signatures(docs_with_dups).toPandas().set_index("doc_id")["sig"]
    b = minhash_signatures(docs_with_dups).toPandas().set_index("doc_id")["sig"]
    for i in a.index:
        assert list(a[i]) == list(b[i])
    # identical docs -> identical signatures
    assert list(a[0]) == list(a[1])


def test_simhash_near_dups(spark, docs_with_dups):
    from insar_spark.operators.dedup import simhash_near_dups, simhash_signatures

    sigs = simhash_signatures(docs_with_dups)
    pairs = simhash_near_dups(sigs, max_hamming=8).toPandas()
    found = {tuple(sorted((a, b))) for a, b in zip(pairs.id_a, pairs.id_b)}
    assert (0, 1) in found
    h01 = pairs[(pairs.id_a == 0) & (pairs.id_b == 1)]["hamming"].iloc[0]
    assert h01 == 0


def test_lang_id(spark):
    from insar_spark.operators.textstats import lang_id

    rows = [
        (0, "the cat sat on the mat and it was happy with the sun"),
        (1, "el perro corre por la calle y no quiere parar con su amigo"),
        (2, "der hund läuft durch die stadt und das ist gut für ihn im park"),
        (3, "le chat est dans la maison et il mange du pain pour le matin"),
        (4, "xyzzy plugh"),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = lang_id(df).toPandas().set_index("doc_id")
    assert out.loc[0, "lang_pred"] == "en"
    assert out.loc[1, "lang_pred"] == "es"
    assert out.loc[2, "lang_pred"] == "de"
    assert out.loc[3, "lang_pred"] == "fr"
    assert out.loc[4, "lang_pred"] == "und"


def test_token_stats_and_quality(spark, docs_with_dups):
    from insar_spark.operators.textstats import quality_scores, token_stats

    ts = token_stats(docs_with_dups).toPandas().set_index("doc_id")
    assert ts.loc[4, "ws_tokens"] == 2
    assert (ts["bpe_ish_tokens"] >= ts["ws_tokens"]).all()

    q = quality_scores(docs_with_dups).toPandas().set_index("doc_id")
    assert ((q["alpha_ratio"] > 0.5) & (q["alpha_ratio"] <= 1.0)).all()
    assert (q["repetition_ratio"] >= 0).all()
    # doc 0 repeats 'the' -> nonzero repetition
    assert q.loc[0, "repetition_ratio"] > 0


def test_winnowing_fingerprints(spark, docs_with_dups):
    from insar_spark.operators.textstats import (
        fingerprint_candidates,
        winnowing_fingerprints,
    )

    fps = winnowing_fingerprints(docs_with_dups)
    pdf = fps.toPandas().set_index("doc_id")["fingerprints"]
    assert list(pdf[0]) == list(pdf[1])  # identical docs, identical prints
    cands = fingerprint_candidates(fps).toPandas()
    found = {tuple(sorted((a, b))) for a, b in zip(cands.id_a, cands.id_b)}
    assert (0, 1) in found
    assert (0, 5) in found  # shared prefix fingerprints
    assert not any(p == (3, 6) for p in found)


def test_fingerprint_flood_is_capped_not_quadratic(spark):
    """One boilerplate fingerprint shared by many docs (license header /
    templated greeting surviving winnowing) must not go quadratic: the
    bucket path caps at max_bucket members — C(cap, 2) pairs from the
    deterministically-lowest ids — while normal fingerprints still pair."""
    import itertools

    from insar_spark.operators.textstats import fingerprint_candidates

    rows = [(i, [42]) for i in range(100)]  # flooded fp
    rows += [(200, [7, 9]), (201, [9]), (300, [11])]  # normal + singleton
    fps = spark.createDataFrame(rows, "doc_id long, fingerprints array<long>")
    got = fingerprint_candidates(fps, max_bucket=8).toPandas()
    pairs = {tuple(sorted((a, b))) for a, b in zip(got.id_a, got.id_b)}
    flooded = {p for p in pairs if p[0] < 100}
    assert flooded == set(itertools.combinations(range(8), 2))  # capped
    assert (200, 201) in pairs  # normal bucket unaffected
    assert not any(300 in p for p in pairs)  # singleton dropped
    assert (got.id_a < got.id_b).all()


def test_redact_pii(spark):
    from insar_spark.operators.textstats import redact_pii

    rows = [
        (0, "write to alice.smith@corp.example.org for details"),
        (1, "call +1 555 123 4567 now or 555 987 6543 later"),
        (2, "no sensitive content here"),
        (3, "bob@x.io and carol@y.co.uk both replied"),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = redact_pii(df).toPandas().set_index("doc_id")
    assert out.loc[0, "n_emails"] == 1
    assert "<EMAIL>" in out.loc[0, "text_redacted"]
    assert "alice" not in out.loc[0, "text_redacted"].split("@")[0][-5:]
    assert out.loc[1, "n_phones"] == 2
    assert out.loc[1, "text_redacted"].count("<PHONE>") == 2
    assert out.loc[2, "n_emails"] == 0 and out.loc[2, "n_phones"] == 0
    assert out.loc[2, "text_redacted"] == rows[2][1]
    assert out.loc[3, "n_emails"] == 2


def test_decontaminate_flags_probe_overlap(spark, docs_with_dups):
    from insar_spark.operators.textstats import decontaminate

    probes = docs_with_dups.filter("doc_id = 0")  # the duplicated base doc
    corpus = docs_with_dups.filter("doc_id != 0")
    hits = decontaminate(corpus, probes).toPandas()
    flagged = set(hits.doc_id)
    assert 1 in flagged  # exact dup of the probe
    assert 5 in flagged  # near dup (shared prefix fingerprints)
    assert 3 not in flagged and 6 not in flagged  # unrelated docs clean
    assert (hits.n_hits >= 1).all()


def test_simhash_overcap_bucket_stays_complete(spark):
    """One 15-bit chunk bucket holds ALL docs (past max_bucket); sub-chunk
    re-banding must still find every Hamming<=3 pair (brute-force parity)
    as long as the remaining bits are diverse enough to split — the
    documented completeness condition. Signatures are crafted directly:
    a shared chunk0 forces the level-1 overflow, distinct high bits give
    level 2 room, planted pairs differ in <=3 high bits."""
    import itertools

    import numpy as np

    from insar_spark.operators.dedup import simhash_near_dups

    rng = np.random.default_rng(23)
    common_chunk0 = 0x5A5A
    sigs = []
    for i in range(30):
        high = int(rng.integers(0, 1 << 45)) << 15
        a = high | common_chunk0
        flip = 0
        for b in rng.choice(45, size=3, replace=False):
            flip |= 1 << (15 + int(b))
        sigs.append((2 * i, a))
        sigs.append((2 * i + 1, a ^ flip))  # planted Hamming<=3 partner
    df = spark.createDataFrame(pd.DataFrame(sigs, columns=["doc_id", "simhash"]))
    sig_map = dict(sigs)
    expected = {
        (a, b)
        for a, b in itertools.combinations(sorted(sig_map), 2)
        if bin(sig_map[a] ^ sig_map[b]).count("1") <= 3
    }
    assert len(expected) >= 30
    # cap of 8 << 60 members: the level-1 chunk0 bucket must overflow
    got_df = simhash_near_dups(df, max_hamming=3, max_bucket=8).toPandas()
    got = {tuple(sorted((a, b))) for a, b in zip(got_df.id_a, got_df.id_b)}
    assert got == expected


def test_simhash_identical_flood_is_capped_not_quadratic(spark):
    """The intrinsic limit: members with (near-)identical signatures do
    not split under re-banding — the level-2 cap bounds the output there
    (by design, logged), instead of emitting C(n,2) pairs."""
    df = spark.createDataFrame(
        pd.DataFrame(
            [(i, 0x123456789ABCD) for i in range(100)],
            columns=["doc_id", "simhash"],
        )
    )
    from insar_spark.operators.dedup import simhash_near_dups

    got = simhash_near_dups(df, max_hamming=3, max_bucket=8).toPandas()
    # bounded: at most C(8,2) pairs per (chunk, sub-chunk) bucket family
    assert 0 < len(got) <= 4 * 4 * 28


def test_chunk_documents_invariants(spark):
    """Token-window chunking: reconstructing the stride-advanced windows
    reproduces every token exactly once per coverage position, chunks
    overlap by exactly `overlap` tokens, and short docs yield one chunk."""
    import pytest

    from insar_spark.operators.textstats import chunk_documents

    docs = spark.createDataFrame(
        [
            (0, " ".join(f"w{i}" for i in range(100))),  # multi-chunk
            (1, "a b c"),  # shorter than one window
            (2, ""),  # empty
        ],
        "doc_id long, text string",
    )
    out = (
        chunk_documents(docs, chunk_tokens=16, overlap=4)
        .toPandas()
        .sort_values(["doc_id", "chunk_idx"])
        .reset_index(drop=True)
    )
    g0 = out[out.doc_id == 0]
    stride = 16 - 4
    # stitching chunks at the stride reconstructs the document exactly
    rebuilt = g0.iloc[0]["chunk_text"].split(" ")
    for _, row in g0.iloc[1:].iterrows():
        toks = row["chunk_text"].split(" ")
        assert toks[:4] == rebuilt[-4:]  # shared overlap context
        rebuilt.extend(toks[4:])
    assert rebuilt == [f"w{i}" for i in range(100)]
    assert g0["chunk_idx"].tolist() == list(range(len(g0)))
    assert (g0["n_tokens"].iloc[:-1] == 16).all()
    # stride math: starts advance by chunk-overlap
    assert len(g0) == (100 - 4 - 1) // stride + 1

    g1 = out[out.doc_id == 1]
    assert len(g1) == 1 and g1.iloc[0]["chunk_text"] == "a b c"
    g2 = out[out.doc_id == 2]
    assert len(g2) == 1 and g2.iloc[0]["n_tokens"] == 1  # [''] token

    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(docs, chunk_tokens=8, overlap=8)


def test_minhash_incremental_equals_full_restricted(spark, tmp_path, docs_with_dups):
    """Incremental dedup of a new batch against the stored corpus index ==
    the full-corpus dedup restricted to pairs involving a new doc — and
    the stored index is pruned, not re-hashed."""
    from insar_spark.operators.dedup import (
        minhash_dedup,
        minhash_dedup_incremental,
        minhash_write,
    )

    corpus = docs_with_dups.filter("doc_id % 2 = 0")
    new = docs_with_dups.filter("doc_id % 2 = 1")
    path = str(tmp_path / "mh_store")
    minhash_write(corpus, path)

    inc = minhash_dedup_incremental(
        spark, new, path, docs_with_dups, threshold=0.5
    ).toPandas()
    got = {tuple(sorted((a, b))) for a, b in zip(inc.id_a, inc.id_b)}

    full = minhash_dedup(docs_with_dups, threshold=0.5).toPandas()
    exp = {
        tuple(sorted((a, b)))
        for a, b in zip(full.id_a, full.id_b)
        if a % 2 == 1 or b % 2 == 1
    }
    assert got == exp and len(got) > 0
    # store layout: one directory per band
    import os

    assert any(f.startswith("band=") for f in os.listdir(path))


