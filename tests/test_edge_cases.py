"""Edge cases and property tests: empties, singletons, ties, null text."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from insar_spark.operators import series as S
from insar_spark.operators.rollup import cascade, rollup_turns
from insar_spark.synth import TRANSCRIPT_SCHEMA

BASE = dt.datetime(2025, 7, 1)


@pytest.fixture(scope="module")
def edge_df(spark):
    rows = [
        # single-turn conversation
        ("solo", 0, "user", "only turn", None, BASE),
        # timestamp ties broken by turn_idx
        ("ties", 0, "user", "a", None, BASE),
        ("ties", 1, "assistant", "bb", "bash", BASE),
        ("ties", 2, "user", "ccc", None, BASE),
        # null text and null tool
        ("nulls", 0, "user", None, None, BASE),
        ("nulls", 1, "assistant", "x", None, BASE + dt.timedelta(seconds=90)),
    ]
    return spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)


def test_empty_input(spark):
    empty = spark.createDataFrame([], schema=TRANSCRIPT_SCHEMA)
    assert rollup_turns(empty, "1m").count() == 0
    assert S.turn_deltas(S.with_text_len(empty)).count() == 0
    assert cascade(rollup_turns(empty, "1m"), "1h").count() == 0


def test_single_turn_conversation(spark, edge_df):
    solo = edge_df.filter("conv_id = 'solo'")
    d = S.turn_deltas(S.with_text_len(solo)).toPandas()
    assert len(d) == 1 and pd.isna(d["delta_v"].iloc[0])
    r = rollup_turns(solo, "1m").toPandas()
    assert len(r) == 1 and r["n_turns"].iloc[0] == 1
    a = S.reference_align(S.with_text_len(solo), "text_len").toPandas()
    assert a["text_len_aligned"].iloc[0] == 0.0


def test_timestamp_ties_stable_order(spark, edge_df):
    ties = edge_df.filter("conv_id = 'ties'")
    d = (
        S.turn_deltas(S.with_text_len(ties))
        .toPandas()
        .sort_values("turn_idx")
        .reset_index(drop=True)
    )
    # ordering must follow turn_idx when ts ties: deltas 1, 1 (len a->bb->ccc)
    np.testing.assert_array_equal(d["delta_v"].to_numpy()[1:], [1.0, 1.0])
    r = rollup_turns(ties, "1m").toPandas()
    assert r["first_text_len"].iloc[0] == 1.0  # "a"
    assert r["last_text_len"].iloc[0] == 3.0  # "ccc"


def test_null_text_and_tool(spark, edge_df):
    nulls = edge_df.filter("conv_id = 'nulls'")
    r = rollup_turns(nulls, "1m").toPandas().sort_values("window_start")
    # null text -> length null -> excluded from sum/min/max but counted as turn
    assert r["n_turns"].sum() == 2
    assert r["n_tool_calls"].sum() == 0
    first = r.iloc[0]
    assert pd.isna(first["sum_text_len"]) or first["sum_text_len"] is None


def test_cascade_identity_property(spark):
    """Random irregular data: cascade(1m->1h->1d) == direct 1d, exactly."""
    rng = np.random.default_rng(11)
    n = 3000
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{int(i)}" for i in rng.integers(0, 40, n)],
            "role": "user",
            "text": ["x" * int(k) for k in rng.integers(0, 300, n)],
            "tool": [None if k < 0.6 else "bash" for k in rng.random(n)],
            "ts": BASE
            + pd.to_timedelta(rng.integers(0, 86_400 * 10, n), unit="s"),
        }
    )
    pdf["turn_idx"] = pdf.groupby("conv_id").cumcount().astype("int32")
    df = spark.createDataFrame(pdf[["conv_id", "turn_idx", "role", "text", "tool", "ts"]])
    direct = (
        rollup_turns(df, "1d")
        .toPandas()
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )
    casc = (
        cascade(cascade(rollup_turns(df, "1m"), "1h"), "1d")
        .toPandas()
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(direct, casc, check_exact=True)


def test_gapfill_property_piecewise_linear(spark):
    """Any piecewise-linear series sampled at grid-aligned points is
    recovered exactly by linear gap-fill on the interior."""
    from insar_spark.operators.gapfill import resample_linear

    rng = np.random.default_rng(5)
    rows = []
    for c in range(6):
        knots = np.sort(rng.choice(np.arange(0, 200), size=8, replace=False))
        vals = rng.uniform(-50, 50, len(knots))
        for k, v in zip(knots, vals):
            rows.append((f"c{c}", BASE + dt.timedelta(minutes=int(k)), float(v)))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["conv_id", "ts", "v"]))
    out = resample_linear(df, interval_sec=60).toPandas()
    for c in range(6):
        g = out[out.conv_id == f"c{c}"].sort_values("grid_ts")
        x = g["grid_ts"].to_numpy("datetime64[us]").astype("int64") / 60e6
        obs = g[g.is_observed]
        xo = obs["grid_ts"].to_numpy("datetime64[us]").astype("int64") / 60e6
        exp = np.interp(x, xo, obs["v_filled"].to_numpy())
        np.testing.assert_allclose(g["v_filled"].to_numpy(), exp, atol=1e-9)
