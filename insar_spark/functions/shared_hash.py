"""Cross-engine deterministic text hashing: identical in Spark and DuckDB.

The HLL and count-min sketch tiers need hashes that (a) run JVM-side in
Spark (no Python in the hot path) and (b) can be recomputed
*independently* in DuckDB; the sketch tiers also hash probe
literals in plain Python (:func:`py_h60`). The cross-engine tests
(``tests/test_shared_hash.py``) cover all three. Every engine ships md5,
so the shared primitive is the top 60 bits of ``md5(token)`` parsed as
an integer:

* Spark : ``conv(substring(md5(encode(tok,'utf-8')),1,15), 16, 10)::long``
* DuckDB: ``('0x' || substring(md5(tok),1,15))::BIGINT``
* Python: ``int(md5(tok.encode()).hexdigest()[:15], 16)``

(15 hex chars = 60 bits < 2^63, so the value is identical signed in all.)

The count-min tier's row hashes are the classic universal family
``h_j(x) = (a_j * (x mod P) + b_j) mod P`` with ``P = 2^31 - 1`` so every
intermediate fits in int64 in both engines (a_j < 2^31, x mod P < 2^31 →
product < 2^62). Parameters come from one seeded generator
(:func:`perm_params`) and are inlined as literals on both sides.

The md5 hash has a Spark Column form (:func:`h60_col`) and a DuckDB
expression twin (:func:`sql_h60`) — the oracle is an independent
re-execution, not a copy of Spark's result.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column
from pyspark.sql import functions as F

P31 = 2_147_483_647  # 2^31 - 1 (Mersenne prime)


def let_col(value: Column, body) -> Column:
    """Bind ``value`` once and use it inside ``body`` (a lambda-variable
    binding via a 1-element transform). Expressions referenced inside
    higher-order-function lambdas are re-evaluated per element — binding an
    expensive value (e.g. a histogram's rank) this way makes it compute
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


# ---------------------------------------------------------- universal hash


def perm_params(num_hashes: int, seed: int = 42) -> tuple[list[int], list[int]]:
    """Seeded (a, b) literals for the universal-hash permutations."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, P31, num_hashes).tolist()
    b = rng.integers(0, P31, num_hashes).tolist()
    return [int(x) for x in a], [int(x) for x in b]


def py_h60(s: str) -> int:
    """Driver-side twin of :func:`h60_col` / :func:`sql_h60` (same md5,
    same top-15-hex-chars parse). Used to precompute PROBE literals —
    e.g. the (row, cell) coordinates of a candidate item in a count-min
    sketch — so the serve plan filters the stored tier on constants
    instead of hashing at read time. Never in the hot path."""
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
