"""Repetition quality signals, event-gap median, and shard export."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from insar_spark.operators.textstats import repetition_stats
from insar_spark.sources.shards import assign_shards, write_shards


def _docs(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    )


class TestRepetitionStats:
    def test_known_values(self, spark):
        rows = [
            (0, "a b a b a b"),          # 6 words, 3 distinct? a,b -> 2
            (1, "x y z w"),               # all unique
            (2, "q q q q"),               # degenerate repetition
            (3, "solo"),                  # single word: no bigrams
        ]
        out = {
            r["doc_id"]: r
            for r in repetition_stats(_docs(spark, rows)).collect()
        }
        # doc 0: 6 words, 2 distinct -> dup 4/6; bigrams: "a b" x3, "b a" x2
        assert out[0]["dup_word_frac"] == (6 - 2) / 6
        assert out[0]["top_bigram_frac"] == 3 / 5
        # doc 1: no dups, every bigram unique -> 1/3
        assert out[1]["dup_word_frac"] == 0.0
        assert out[1]["top_bigram_frac"] == 1 / 3
        # doc 2: max repetition
        assert out[2]["dup_word_frac"] == 3 / 4
        assert out[2]["top_bigram_frac"] == 1.0
        # doc 3: single word -> no bigrams, defined as 0
        assert out[3]["dup_word_frac"] == 0.0
        assert out[3]["top_bigram_frac"] == 0.0

    def test_zero_shuffle_plan(self, spark):
        """Map-only: no exchange in the physical plan."""
        df = repetition_stats(_docs(spark, [(0, "a b c")]))
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


class TestShards:
    def test_deterministic_and_partitioned(self, spark, tmp_path):
        docs = spark.range(200).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("doc "), F.col("id")).alias("text"),
        )
        a = assign_shards(docs, n_shards=16).select("doc_id", "shard")
        b = assign_shards(docs, n_shards=16).select("doc_id", "shard")
        assert a.exceptAll(b).count() == 0  # same input -> same shards
        assert a.agg(F.min("shard"), F.max("shard")).first() == (0, 15)
        # hash balance: no shard holds more than 4x the fair share
        top = a.groupBy("shard").count().agg(F.max("count")).first()[0]
        assert top <= 4 * (200 / 16)

        path = str(tmp_path / "shards")
        write_shards(docs, path, n_shards=16)
        back = spark.read.parquet(path)
        # layout: one directory per shard, union reproduces the input
        assert sorted(
            r["shard"] for r in back.select("shard").distinct().collect()
        ) == list(range(16))
        assert back.count() == 200
        assert back.select("doc_id").exceptAll(
            docs.select("doc_id")
        ).count() == 0
        # re-read rows carry the same shard the assigner computes
        rejoin = back.alias("w").join(
            assign_shards(docs, n_shards=16).alias("m"), "doc_id"
        )
        assert rejoin.where("w.shard <> m.shard").count() == 0


from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# space-joined token soup, matching the documents tokenization (split on
# a single space, no empty tokens)
_WORD = st.text(alphabet="abcxyz", min_size=1, max_size=3)
_DOC = st.lists(_WORD, min_size=1, max_size=40).map(" ".join)


def _expected_repetition(text: str) -> tuple[float, float]:
    words = text.split(" ")
    n = len(words)
    dup = (n - len(set(words))) / n
    if n < 2:
        return dup, 0.0
    bigrams = Counter(zip(words, words[1:]))
    return dup, max(bigrams.values()) / (n - 1)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(st.lists(_DOC, min_size=1, max_size=8))
def test_repetition_fold_matches_reference_impl(spark, texts):
    """The sorted-array longest-run fold == a plain Counter mode count,
    for arbitrary token soups (incl. heavy repetition and 1-word docs)."""
    rows = list(enumerate(texts))
    out = {
        r["doc_id"]: (r["dup_word_frac"], r["top_bigram_frac"])
        for r in repetition_stats(_docs(spark, rows)).collect()
    }
    for i, text in rows:
        assert out[i] == _expected_repetition(text), (i, text)
