"""keyed_map delivery order: groups in key order, rows NULLS FIRST, and a
kernel mixing DataFrame and dict returns keeps that order."""

from __future__ import annotations

import pandas as pd


def test_keyed_map_mixed_returns_keep_delivered_order(spark):
    from insar_spark.operators.batched import keyed_map

    rows = [(k, t) for k in "abcdef" for t in (3, None, 1)]
    df = spark.createDataFrame(rows, "k string, t int")

    def kernel(g: pd.DataFrame):
        k = g["k"].iloc[0]
        ts = [None if pd.isna(v) else int(v) for v in g["t"]]
        out = {"k": [k] * len(ts), "t": ts}
        # alternate the two return forms group by group
        return pd.DataFrame(out) if k in "bdf" else out

    got = keyed_map(df, "k", ["t"], kernel, "k string, t int", n_partitions=1).collect()
    want = [(k, t) for k in "abcdef" for t in (None, 1, 3)]
    assert [(r["k"], r["t"]) for r in got] == want
