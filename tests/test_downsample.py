"""M4 + LTTB visualization downsampling: properties and independent
reference checks (the cross-engine SQL-oracle equality is covered by
tests/test_duckdb_oracle.py; here we pin the algorithms themselves)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from insar_spark.operators.downsample import (
    _lttb_select,
    lttb_downsample,
    m4_downsample,
)


def _series_df(spark, n=120, seed=7):
    rng = np.random.default_rng(seed)
    ts = pd.Timestamp("2025-01-01") + pd.to_timedelta(
        np.cumsum(rng.integers(60, 7200, n)), unit="s"
    )
    v = np.round(rng.uniform(0, 500, n), 2)
    pdf = pd.DataFrame(
        {
            "conv_id": "c1",
            "turn_idx": np.arange(n, dtype="int32"),
            "ts": ts,
            "v": v,
        }
    )
    return spark.createDataFrame(pdf), pdf


def _float_lttb(x, y, n_out):
    """Independent straight-from-the-paper float implementation."""
    n = len(x)
    if n <= n_out:
        return list(range(n))
    b = n_out - 2
    bucket = [((i - 1) * b) // (n - 2) for i in range(1, n - 1)]
    sel = [0]
    px, py = x[0], y[0]
    for k in range(b):
        nxt = [i + 1 for i, bk in enumerate(bucket) if bk == k + 1]
        if nxt:
            ax, ay = np.mean([x[i] for i in nxt]), np.mean([y[i] for i in nxt])
        else:
            ax, ay = x[n - 1], y[n - 1]
        cand = [i + 1 for i, bk in enumerate(bucket) if bk == k]
        areas = [
            abs((px - ax) * (y[i] - py) - (px - x[i]) * (ay - py)) for i in cand
        ]
        best = cand[int(np.argmax(areas))]
        sel.append(best)
        px, py = x[best], y[best]
    sel.append(n - 1)
    return sel


@pytest.mark.parametrize("n,n_out", [(120, 24), (26, 24), (25, 24), (300, 50)])
def test_lttb_select_matches_float_reference(n, n_out):
    rng = np.random.default_rng(n)
    x = list(np.cumsum(rng.integers(1, 10_000_000, n)).astype(int))
    y = [int(v) for v in rng.integers(0, 50_000, n)]
    assert _lttb_select(x, y, n_out) == _float_lttb(x, y, n_out)


@pytest.mark.parametrize("n,n_out", [(120, 24), (300, 50), (5000, 24)])
def test_lttb_numpy_path_matches_python_path(n, n_out):
    """r6 kernel parity: the vectorized int64 path and the Python-int
    fallback select identical indices. Scaling x by 2^24 multiplies every
    area by the same positive constant (comparisons and ties preserved
    exactly) while pushing the magnitude bound past the numpy guard, so
    the scaled call exercises the Python path and must agree with the
    unscaled (numpy-path) call."""
    rng = np.random.default_rng(n)
    x = [int(v) for v in np.cumsum(rng.integers(1, 10_000_000, n))]
    y = [int(v) for v in rng.integers(-50_000, 50_000, n)]
    sel_np = _lttb_select(x, y, n_out, np_min=0)  # force the numpy path
    sel_py = _lttb_select([v << 24 for v in x], y, n_out)
    assert sel_np == sel_py


def test_lttb_short_series_passthrough():
    x = list(range(10))
    y = list(range(10))
    assert _lttb_select(x, y, 24) == list(range(10))


def test_lttb_endpoints_count_and_order(spark):
    df, pdf = _series_df(spark)
    out = (
        lttb_downsample(df, 24)
        .toPandas()
        .sort_values("sel_idx")
        .reset_index(drop=True)
    )
    assert len(out) == 24
    assert out.loc[0, "ts"] == pdf["ts"].iloc[0]
    assert out.loc[23, "ts"] == pdf["ts"].iloc[-1]
    assert out["ts"].is_monotonic_increasing
    # every selected point is a real input point
    merged = out.merge(pdf, on=["ts", "v"], how="left", indicator=True)
    assert (merged["_merge"] == "both").all()


def test_m4_matches_pandas_reference(spark):
    df, pdf = _series_df(spark, n=200, seed=11)
    out = (
        m4_downsample(df, "week")
        .toPandas()
        .sort_values("window_start")
        .reset_index(drop=True)
    )
    ref = pdf.assign(week=pdf["ts"].dt.to_period("W").dt.start_time)
    g = ref.groupby("week")
    assert len(out) == g.ngroups
    for _, row in out.iterrows():
        grp = g.get_group(row["window_start"]).sort_values("turn_idx")
        assert row["n_points"] == len(grp)
        assert row["v_first"] == grp["v"].iloc[0]
        assert row["v_last"] == grp["v"].iloc[-1]
        assert row["v_min"] == grp["v"].min()
        assert row["v_max"] == grp["v"].max()
        # min/max timestamps: earliest point attaining the extreme
        assert row["ts_min"] == grp.loc[grp["v"].idxmin(), "ts"]
        assert row["ts_max"] == grp.loc[grp["v"].idxmax(), "ts"]


def test_m4_bounds_contain_all_points(spark):
    df, pdf = _series_df(spark, n=150, seed=3)
    out = m4_downsample(df, "day").toPandas()
    assert (out["v_min"] <= out["v_first"]).all()
    assert (out["v_min"] <= out["v_last"]).all()
    assert (out["v_max"] >= out["v_first"]).all()
    assert (out["v_max"] >= out["v_last"]).all()
    assert out["n_points"].sum() == len(pdf)


def test_m4_cascade_equals_direct(spark, transcripts):
    """m4_cascade(m4(raw, day), week) == m4(raw, week) — the exactness
    property that lets the weekly tier build from the STORED daily tier."""
    from pyspark.sql import functions as F

    from insar_spark.operators.downsample import m4_cascade

    src = transcripts.select(
        "conv_id", "turn_idx", "ts",
        F.length("text").cast("double").alias("text_len"),
    )
    direct = (
        m4_downsample(src, "week", value_col="text_len")
        .toPandas()
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )
    cascaded = (
        m4_cascade(m4_downsample(src, "day", value_col="text_len"), "week")
        .toPandas()[direct.columns.tolist()]
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(direct, cascaded, check_exact=True)
