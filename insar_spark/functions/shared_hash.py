"""Cross-engine deterministic text hashing: identical in Spark and DuckDB.

The dedup/fingerprint operators and the distinct, HLL, KMV and count-min
sketch tiers need hashes that (a) run JVM-side in Spark (no Python in the
hot path) and (b) can be recomputed *independently* in DuckDB; the sketch
tiers also hash probe literals in plain Python (:func:`py_h60`). The
cross-engine tests (``tests/test_shared_hash.py``) cover all three. Every
engine ships md5, so the shared primitive is the top 60 bits of
``md5(token)`` parsed as an integer:

* Spark : ``conv(substring(md5(encode(tok,'utf-8')),1,15), 16, 10)::long``
* DuckDB: ``('0x' || substring(md5(tok),1,15))::BIGINT``
* Python: ``int(md5(tok.encode()).hexdigest()[:15], 16)``

(15 hex chars = 60 bits < 2^63, so the value is identical signed in all.)

MinHash permutations are the classic universal family
``h_j(x) = (a_j * (x mod P) + b_j) mod P`` with ``P = 2^31 - 1`` so every
intermediate fits in int64 in both engines (a_j < 2^31, x mod P < 2^31 →
product < 2^62). Parameters come from one seeded generator and are inlined
as literals on both sides.

Every builder here has a ``*_col`` (Spark Column) and a ``sql_*`` (DuckDB
expression string) twin generated from the same constants — the oracle is
an independent re-execution, not a copy of Spark's result.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column
from pyspark.sql import functions as F

P31 = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
SIMHASH_BITS = 60  # md5-derived hash width (15 hex chars)


def let_col(value: Column, body) -> Column:
    """Bind ``value`` once and use it inside ``body`` (a lambda-variable
    binding via a 1-element transform). Expressions referenced inside
    higher-order-function lambdas are re-evaluated per element — binding an
    expensive array (e.g. md5 shingle hashes) this way makes it compute
    once per row instead of once per lambda iteration."""
    return F.transform(F.array(value), body)[0]


# --------------------------------------------------------------- token hash


def h60_col(c: Column) -> Column:
    """60-bit md5 hash of a string column (JVM-side)."""
    return (
        F.conv(F.substring(F.md5(F.encode(c, "utf-8")), 1, 15), 16, 10)
        .cast("long")
    )


def sql_h60(expr: str) -> str:
    """DuckDB twin of :func:`h60_col`."""
    return f"('0x' || substring(md5({expr}), 1, 15))::BIGINT"


# ---------------------------------------------------------------- shingles


def tokens_col(text: Column) -> Column:
    return F.split(text, " ")


SQL_TOKENS = "string_split({text}, ' ')"


def shingles_col(toks: Column, k: int) -> Column:
    """Word k-gram strings; a doc shorter than k yields one whole-doc gram.
    The token array is let-bound so the split happens once per row, not
    once per shingle."""

    def body(t: Column) -> Column:
        n = F.size(t)
        return F.when(n < k, F.array(F.array_join(t, " "))).otherwise(
            F.transform(
                F.sequence(F.lit(0), n - k),
                lambda i: F.array_join(F.slice(t, i + 1, k), " "),
            )
        )

    return let_col(toks, body)


def sql_shingles(toks: str, k: int) -> str:
    return (
        f"CASE WHEN len({toks}) < {k} "
        f"THEN [list_aggregate({toks}, 'string_agg', ' ')] "
        f"ELSE list_transform(range(1, len({toks}) - {k} + 2), "
        f"i -> list_aggregate({toks}[i:i + {k - 1}], 'string_agg', ' ')) END"
    )


def shingle_hashes_col(text: Column, k: int) -> Column:
    return F.transform(shingles_col(tokens_col(text), k), h60_col)


def sql_shingle_hashes(text: str, k: int) -> str:
    toks = SQL_TOKENS.format(text=text)
    return (
        f"list_transform({sql_shingles(toks, k)}, _sh -> {sql_h60('_sh')})"
    )


# ----------------------------------------------------------------- minhash


def perm_params(num_hashes: int, seed: int = 42) -> tuple[list[int], list[int]]:
    """Seeded (a, b) literals for the universal-hash permutations."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, P31, num_hashes).tolist()
    b = rng.integers(0, P31, num_hashes).tolist()
    return [int(x) for x in a], [int(x) for x in b]


def minhash_sig_col(hashes: Column, a: list[int], b: list[int]) -> Column:
    """array<long> signature: min_j over shingles of (a_j*(h%P)+b_j)%P.

    The md5 hash array and its mod-P reduction are each let-bound (computed
    once per row); each permutation is an independent
    ``array_min(transform(...))`` over the bound mods. r6: this replaces an
    ``aggregate`` whose accumulator rebuilt a 64-long array per shingle
    through two nested ``zip_with`` lambdas — same min over the same
    integers (bit-identical, A/B-verified 0 differing rows at 50k docs)
    but ~24% faster on the signature stage: simple interpreted ops instead
    of per-shingle struct-array allocation."""

    def perm(aj: int, bj: int):
        return lambda m: (F.lit(aj) * m + F.lit(bj)) % P31

    def body(hm: Column) -> Column:
        return F.array(
            *[F.array_min(F.transform(hm, perm(aj, bj))) for aj, bj in zip(a, b)]
        )

    return let_col(F.transform(hashes, lambda h: h % P31), body)


# ----------------------------------------------------------------- simhash


def simhash_col(token_hashes: Column, n_bits: int = SIMHASH_BITS) -> Column:
    """Classic SimHash over a token-hash array (multiset semantics):
    bit j of the signature is 1 iff sum over tokens of ±1 (by bit j of the
    token hash) is > 0. One aggregate pass; bit loop unrolled in Python so
    everything stays a JVM expression."""
    per_token = lambda h: F.array(  # noqa: E731
        *[
            F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1
            for j in range(n_bits)
        ]
    )

    def finish(sums: Column) -> Column:
        out = F.lit(0).cast("long")
        for j in range(n_bits):
            out = out + F.when(
                F.element_at(sums, j + 1) > 0, F.lit(1 << j)
            ).otherwise(F.lit(0))
        return out

    # finish() runs on the bound accumulator, so the bit-sum array is
    # computed once, not once per output bit
    return F.aggregate(
        token_hashes,
        F.array_repeat(F.lit(0).cast("long"), n_bits),
        lambda acc, h: F.zip_with(acc, per_token(h), lambda x, y: x + y),
        finish,
    )


def sql_simhash(token_hashes: str, n_bits: int = SIMHASH_BITS) -> str:
    """DuckDB twin of :func:`simhash_col`."""
    return (
        f"list_sum(list_transform(range(0, {n_bits}), j -> "
        f"CASE WHEN list_sum(list_transform({token_hashes}, "
        f"h -> ((h >> j) & 1) * 2 - 1)) > 0 "
        f"THEN (1::BIGINT << j) ELSE 0 END))::BIGINT"
    )


# --------------------------------------------------------------- winnowing


def winnow_col(kgram_hashes: Column, window: int) -> Column:
    """Winnowing picks (Schleimer et al. 2003): the min of every sliding
    window of k-gram hashes, deduped and sorted. Shorter-than-window docs
    yield the single global min."""
    def body(kg: Column) -> Column:
        m = F.size(kg)
        picks = F.when(m <= window, F.array(F.array_min(kg))).otherwise(
            F.transform(
                F.sequence(F.lit(0), m - window),
                lambda i: F.array_min(F.slice(kg, i + 1, window)),
            )
        )
        return F.array_sort(F.array_distinct(picks))

    # let-bound: the k-gram md5 array is computed once, not once per window
    return let_col(kgram_hashes, body)


def sql_winnow(kgram_hashes: str, window: int) -> str:
    return (
        f"list_sort(list_distinct(CASE WHEN len({kgram_hashes}) <= {window} "
        f"THEN [list_min({kgram_hashes})] "
        f"ELSE list_transform(range(1, len({kgram_hashes}) - {window} + 2), "
        f"i -> list_min({kgram_hashes}[i:i + {window - 1}])) END))"
    )


def py_h60(s: str) -> int:
    """Driver-side twin of :func:`h60_col` / :func:`sql_h60` (same md5,
    same top-15-hex-chars parse). Used to precompute PROBE literals —
    e.g. the (row, cell) coordinates of a candidate item in a count-min
    sketch — so the serve plan filters the stored tier on constants
    instead of hashing at read time. Never in the hot path."""
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
