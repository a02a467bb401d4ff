"""Regularized inversion, diff matrix, ramp removal — reference goldens."""

from __future__ import annotations

import numpy as np
import pytest
from numpy.testing import assert_array_almost_equal, assert_array_equal

from insar_spark.functions.sbas_kernels import (
    create_diff_matrix,
    estimate_ramp,
    integrate_velocities,
    invert_regularized,
    regularize_G,
    remove_ramp,
)


def test_diff_matrix_goldens():
    # reference doctest goldens (insar/ts_utils.py:249-259)
    assert_array_equal(
        create_diff_matrix(4, order=1),
        [[1, -1, 0, 0], [0, 1, -1, 0], [0, 0, 1, -1]],
    )
    assert_array_equal(
        create_diff_matrix(4, order=2),
        [[1, -1, 0, 0], [-1, 2, -1, 0], [0, -1, 2, -1], [0, 0, -1, 1]],
    )


def test_invert_regularized_shapes():
    # mirrors test_invert_regularize (test_timeseries.py:180-186)
    B = np.arange(15).reshape((5, 3)).astype(float)
    dphis = np.arange(10).reshape((5, 2)).astype(float)
    vs = invert_regularized(dphis, B, alpha=1)
    assert vs.shape == (3, 2)
    integrate_velocities(vs, np.arange(3.0))  # no error
    # difference-matrix variant
    vs2 = invert_regularized(dphis, B, alpha=1, difference=True)
    assert vs2.shape == (3, 2)


def test_regularization_shrinks_solution():
    rng = np.random.default_rng(2)
    B = rng.normal(size=(8, 4))
    d = rng.normal(size=8) * 10
    v0 = invert_regularized(d, B, alpha=0)
    v_big = invert_regularized(d, B, alpha=100.0)
    assert np.linalg.norm(v_big) < np.linalg.norm(v0)


def test_constant_velocity_collapse():
    B = np.arange(15).reshape((5, 3)).astype(float)
    G = regularize_G(B, constant_velocity=True)
    assert G.shape == (5, 1)
    assert_array_equal(G[:, 0], B.sum(axis=1))


def test_ramp_goldens():
    # reference golden (test_timeseries.py:188-201)
    z = np.arange(1, 9, 2).reshape((4, 1)) + np.arange(4)
    assert_array_almost_equal(estimate_ramp(z, order=1), [1, 1, 2])
    assert_array_almost_equal(remove_ramp(z, order=1), np.zeros((4, 4)))
    assert_array_almost_equal(estimate_ramp(z, order=2), [1, 1, 2, 0, 0, 0])
    assert_array_almost_equal(remove_ramp(z, order=2), np.zeros((4, 4)))
