"""Cross-engine parity of the shared hashing primitives.

The sketch tiers and their DuckDB oracles rest on
shared_hash.py giving byte-identical values in Spark (``h60_col``), DuckDB
(``sql_h60``) and plain Python (``py_h60``), and on the ``perm_params``
universal hash giving the same count-min cells in every engine. These
property tests drive every engine over generated texts (including
whitespace-edge and short-text shapes the fixed testdata never hits).
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from insar_spark.functions import shared_hash as SH

WORD = st.text(alphabet="abcdefghijklmnopqrstuvwxyz0123456789", min_size=1, max_size=8)
TEXT = st.lists(WORD, min_size=1, max_size=40).map(" ".join)


def _all_engines(spark, texts: list[str]) -> dict[str, list[tuple[list, list]]]:
    """Per text, the md5-60 hash of every space-separated token and the
    8 universal-hash permutations of each hash, from Spark, DuckDB and
    plain Python: ``{engine: [(token_hashes, perms), ...]}``."""
    a, b = SH.perm_params(8, seed=42)
    P = SH.P31

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    tokh = F.transform(F.split(F.col("text"), " "), SH.h60_col)
    perm = lambda h: F.array(  # noqa: E731
        *[(F.lit(aj) * (h % P) + F.lit(bj)) % P for aj, bj in zip(a, b)]
    )
    spark_rows = (
        df.select("doc_id", tokh.alias("tokh"))
        .select("doc_id", "tokh", F.transform("tokh", perm).alias("perm"))
        .orderBy("doc_id")
        .collect()
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", list(enumerate(texts)))
    A = "[" + ",".join(map(str, a)) + "]"
    B = "[" + ",".join(map(str, b)) + "]"
    duck_rows = con.execute(
        f"""
WITH s AS (
  SELECT doc_id, list_transform(string_split(text, ' '), _t -> {SH.sql_h60('_t')}) AS tokh
  FROM d)
SELECT tokh,
  list_transform(tokh, h -> list_transform(range(0, 8),
    j -> ({A}[j+1] * (h % {P}) + {B}[j+1]) % {P})) AS perm
FROM s ORDER BY doc_id"""
    ).fetchall()

    py_rows = []
    for t in texts:
        hs = [SH.py_h60(tok) for tok in t.split(" ")]
        py_rows.append((hs, [[(aj * (h % P) + bj) % P for aj, bj in zip(a, b)] for h in hs]))

    return {
        "spark": [(list(r["tokh"]), [list(p) for p in r["perm"]]) for r in spark_rows],
        "duckdb": [(list(h), [list(p) for p in pm]) for h, pm in duck_rows],
        "python": py_rows,
    }


def _assert_engines_agree(spark, texts: list[str]) -> None:
    rows = _all_engines(spark, texts)
    for engine in ("duckdb", "python"):
        assert len(rows[engine]) == len(texts), engine
        for i, text in enumerate(texts):
            for col, want, got in zip(("tokh", "perm"), rows["spark"][i], rows[engine][i]):
                assert got == want, (engine, col, i, text)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(st.lists(TEXT, min_size=1, max_size=6))
def test_hash_primitives_cross_engine(spark, texts):
    _assert_engines_agree(spark, texts)


def test_hash_edge_shapes(spark):
    """Deterministic edge corpus: one-token and one-char texts, short
    texts, repeated tokens."""
    texts = ["x", "a b", "a a a a a a a a", "one two", "w " * 3 + "w"]
    texts = [t.strip() for t in texts]
    _assert_engines_agree(spark, texts)


def test_h60_matches_known_md5(spark):
    """Anchor: the shared 60-bit hash equals int(md5_hex[:15], 16)."""
    import hashlib

    vals = ["hello", "a", "zz9"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = {
        r["s"]: r["h"]
        for r in df.select("s", SH.h60_col(F.col("s")).alias("h")).collect()
    }
    for v in vals:
        assert got[v] == int(hashlib.md5(v.encode()).hexdigest()[:15], 16)


def test_hash_range_is_60_bits(spark):
    con = duckdb.connect()
    mx = con.execute(
        "SELECT max(" + SH.sql_h60("x") + ") FROM (SELECT 'q'||range::VARCHAR x FROM range(500))"
    ).fetchone()[0]
    assert 0 < mx < (1 << 60)


if __name__ == "__main__":
    pytest.main([__file__, "-q"])
