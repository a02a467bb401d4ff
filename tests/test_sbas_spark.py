"""Distributed SBAS solve (applyInPandas) vs the reference golden fixture
and vs the window-cumsum fast path."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest

from insar_spark.operators import series as S
from insar_spark.operators.sbas import invert_pairs

BASE = dt.datetime(2018, 4, 20)
DATES = [BASE + dt.timedelta(days=d) for d in (0, 2, 8, 12)]
PAIR_IDX = [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3)]
DELTAS = [2.0, 14.0, 12.0, 14.0, 2.0]


@pytest.fixture(scope="module")
def golden_pairs(spark):
    rows = [
        ("px_base", DATES[e], DATES[l], d)
        for (e, l), d in zip(PAIR_IDX, DELTAS)
    ] + [
        ("px_double", DATES[e], DATES[l], 2 * d)
        for (e, l), d in zip(PAIR_IDX, DELTAS)
    ] + [
        ("px_zero", DATES[e], DATES[l], 0.0) for (e, l) in PAIR_IDX
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "early_ts", "late_ts", "delta_v"])
    )


def _phases(pdf, key):
    return (
        pdf[pdf.conv_id == key].sort_values("date_num")["phase"].to_numpy()
    )


def test_invert_pairs_golden(spark, golden_pairs):
    out = invert_pairs(golden_pairs, use_b_matrix=True).toPandas()
    np.testing.assert_allclose(_phases(out, "px_base"), [0, 2, 14, 16], atol=1e-9)
    np.testing.assert_allclose(_phases(out, "px_double"), [0, 4, 28, 32], atol=1e-9)
    # all-zero series short-circuited away by the prefilter
    assert (out.conv_id == "px_zero").sum() == 0
    coh = out[out.conv_id == "px_base"]["temporal_coherence"].iloc[0]
    assert coh == pytest.approx(1.0)


def test_prefilter_drops_only_all_zero_or_null_series(spark, golden_pairs):
    """A null delta counts as 0; a NaN delta sums to NaN, which Spark
    orders above 0, so its series is kept."""
    extra = spark.createDataFrame(
        [("px_null", DATES[e], DATES[l], None) for (e, l) in PAIR_IDX]
        + [
            ("px_nan", DATES[e], DATES[l], float("nan") if i == 0 else 0.0)
            for i, (e, l) in enumerate(PAIR_IDX)
        ],
        "conv_id string, early_ts timestamp, late_ts timestamp, delta_v double",
    )
    out = invert_pairs(golden_pairs.unionByName(extra)).toPandas()
    assert set(out.conv_id) == {"px_base", "px_double", "px_nan"}


def test_invert_pairs_a_matrix_path(spark, golden_pairs):
    out = invert_pairs(golden_pairs, use_b_matrix=False).toPandas()
    np.testing.assert_allclose(_phases(out, "px_base"), [0, 2, 14, 16], atol=1e-9)


def test_invert_pairs_no_prefilter_keeps_zero_series(spark, golden_pairs):
    out = invert_pairs(golden_pairs, prefilter=False).toPandas()
    np.testing.assert_allclose(_phases(out, "px_zero"), np.zeros(4))


def test_bandwidth1_network_equals_window_cumsum(spark, transcripts):
    """For adjacent-pair networks the full pinv solve must equal the
    window-cumsum reconstruction (SURVEY.md §7: A is bidiagonal → cumsum)."""
    df = S.with_text_len(transcripts).filter("conv_id < 'conv00000006'")
    pairs = S.adjacent_pairs(df, "text_len", k=1)
    solved = invert_pairs(pairs, prefilter=False).toPandas()

    recon = (
        S.cumulative_reconstruct(S.turn_deltas(df))
        .select("conv_id", "ts", "recon_v")
        .toPandas()
    )
    solved = solved.sort_values(["conv_id", "date_num"]).reset_index(drop=True)
    recon = recon.sort_values(["conv_id", "ts"]).reset_index(drop=True)
    assert len(solved) == len(recon)
    np.testing.assert_allclose(
        solved["phase"].to_numpy(), recon["recon_v"].to_numpy(), atol=1e-6
    )


def test_mega_series_chain_solve(spark):
    """A 20k-turn mega conversation solves through the O(M) chain fast
    path (no dense factorization) and equals the window cumsum."""
    from insar_spark.synth import synth_transcripts

    with_len = S.with_text_len(
        synth_transcripts(spark, n_convs=2, seed=5, mega_every=1, mega_turns=20_000)
    ).filter("conv_id = 'conv00000001'")
    pairs = S.adjacent_pairs(with_len, "text_len", k=1)
    solved = (
        invert_pairs(pairs, prefilter=False)
        .toPandas()
        .sort_values("date_num")
        .reset_index(drop=True)
    )
    assert len(solved) == 20_000
    recon = (
        S.cumulative_reconstruct(S.turn_deltas(with_len))
        .select("ts", "recon_v")
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )
    np.testing.assert_allclose(
        solved["phase"].to_numpy(), recon["recon_v"].to_numpy(), atol=1e-6
    )
    assert (solved["temporal_coherence"] == 1.0).all()


def test_mega_series_dense_network_guard():
    """Redundant networks over too many dates raise instead of allocating
    an O(N^2) dense system."""
    import pytest as _pytest

    from insar_spark.functions.sbas_kernels import solve_series

    n = 6000
    dates = np.arange(n, dtype=float)
    # non-chain: one extra long pair defeats the chain detection
    early = np.concatenate([dates[:-1], [0.0]])
    late = np.concatenate([dates[1:], [float(n - 1)]])
    deltas = np.ones(len(early))
    with _pytest.raises(ValueError, match="max_dense_dates"):
        solve_series(dates, early, late, deltas)
