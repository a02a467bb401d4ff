"""L1 IRLS solve and closure phases (the robust-inversion kernels)."""

from __future__ import annotations

import numpy as np
import pytest

from insar_spark.functions.sbas_kernels import (
    build_B,
    closure_phases,
    integrate_velocities,
    invert_sbas_l1,
)

# ---------------------------------------------------------------- L1 solve

DATES = np.array([0.0, 2.0, 8.0, 12.0])
PAIRS = [(0.0, 2.0), (0.0, 8.0), (2.0, 8.0), (2.0, 12.0), (8.0, 12.0)]
EARLY = np.array([p[0] for p in PAIRS])
LATE = np.array([p[1] for p in PAIRS])
DELTAS = np.array([2.0, 14.0, 12.0, 14.0, 2.0])


def test_l1_matches_l2_on_consistent_network():
    B = build_B(DATES, EARLY, LATE)
    vel = invert_sbas_l1(DELTAS, B)
    np.testing.assert_allclose(vel, [1.0, 2.0, 0.5], atol=1e-6)
    phases = integrate_velocities(vel, np.diff(DATES))
    np.testing.assert_allclose(phases, [0, 2, 14, 16], atol=1e-5)


def test_l1_robust_to_outlier_pair():
    # redundant network (6 pairs over 4 dates) with ONE corrupted pair:
    # L1 ignores the outlier, L2 smears it
    dates = np.array([0.0, 1.0, 2.0, 3.0])
    pairs = [(0, 1), (1, 2), (2, 3), (0, 2), (1, 3), (0, 3)]
    e = np.array([p[0] for p in pairs], dtype=float)
    l = np.array([p[1] for p in pairs], dtype=float)
    true_vel = np.array([1.0, 1.0, 1.0])
    B = build_B(dates, e, l)
    d = B @ true_vel
    d_bad = d.copy()
    d_bad[3] += 50.0  # corrupt pair (0,2)
    vel_l1 = invert_sbas_l1(d_bad, B)
    np.testing.assert_allclose(vel_l1, true_vel, atol=1e-3)
    from insar_spark.functions.sbas_kernels import invert_sbas

    vel_l2, _ = invert_sbas(d_bad, B)
    assert np.abs(vel_l2 - true_vel).max() > 5.0  # L2 is wrecked


# ----------------------------------------------------------- closure phase


def test_closure_zero_for_consistent_triplets():
    dates = np.array([0.0, 1.0, 2.0, 3.0])
    truth = np.array([0.0, 3.0, 4.0, 10.0])
    pairs = [(0, 1), (1, 2), (0, 2), (1, 3), (2, 3)]
    e = np.array([p[0] for p in pairs], dtype=float)
    l = np.array([p[1] for p in pairs], dtype=float)
    d = np.array([truth[int(b)] - truth[int(a)] for a, b in pairs])
    firsts, closures = closure_phases(dates, e, l, d)
    assert len(closures) == 2  # triplets (0,1,2) and (1,2,3)
    np.testing.assert_allclose(closures, 0.0, atol=1e-12)
    # inject inconsistency
    d2 = d.copy()
    d2[2] += 0.7  # corrupt (0,2)
    _, closures2 = closure_phases(dates, e, l, d2)
    assert closures2[0] == pytest.approx(-0.7)
