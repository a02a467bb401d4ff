"""Text statistics operators (``operators.textstats``)."""

from __future__ import annotations

import pandas as pd
import pytest


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
