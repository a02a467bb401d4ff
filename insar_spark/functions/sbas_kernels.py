"""NumPy kernels for SBAS-style temporal inversion.

Pure, driverless math used inside Arrow-batched grouped-map UDFs. These are
fresh implementations of the *semantics* pinned down by the reference's
golden unit tests (/root/reference/insar/tests/test_timeseries.py:64-147):

* ``build_A`` — incidence matrix, M pairs × (N-1) dates, −1 early / +1 late,
  first date excluded (time 0). Golden: test_timeseries.py:64-77.
  Semantics source: insar/ts_utils.py:10-43 (re-expressed vectorized via
  searchsorted rather than the reference's double loop).
* ``build_B`` — velocity-coefficient matrix: row j carries the inter-date
  gaps spanned by pair j. Golden: test_timeseries.py:89-102.
  Semantics source: insar/ts_utils.py:46-90.
* ``invert_sbas`` — least squares via pinv(G): insar/timeseries.py:529-531.
* ``integrate_velocities`` — cumsum(v·Δt) with zero first row:
  insar/ts_numba.py:84-106. Golden: test_timeseries.py:116-133
  (deltas [2,14,12,14,2] → velocities [1,2,0.5] → phases [0,2,14,16]).
* ``temporal_coherence`` — |Σ exp(i·resid)|/M: insar/timeseries.py:549-553.

All functions take/return float64 and expect *sorted unique* date numbers
(the engine sorts by (ts, turn_idx) before calling — fixed accumulation
order is what makes tier outputs bit-for-bit reproducible).
"""

from __future__ import annotations

import numpy as np


def _cho_factor(A: np.ndarray):
    """Cholesky factor; raises LinAlgError if not SPD (rank-deficient)."""
    return np.linalg.cholesky(A), True


def _cho_solve(L: np.ndarray, low: bool, b: np.ndarray) -> np.ndarray:
    # forward/back substitution via solve on triangular factors
    y = np.linalg.solve(L, b)
    return np.linalg.solve(L.T, y)


def build_A(date_nums: np.ndarray, early: np.ndarray, late: np.ndarray) -> np.ndarray:
    """Incidence matrix A (M×(N-1)) with A[j, idx(late)-1]=+1, idx(early)-1=−1.

    ``date_nums`` sorted unique float day-numbers; early/late per pair.
    Entries referencing the first date are dropped (it is the zero point).
    """
    n = len(date_nums)
    m = len(early)
    A = np.zeros((m, n - 1), dtype=np.float64)
    e_idx = np.searchsorted(date_nums, early)
    l_idx = np.searchsorted(date_nums, late)
    rows = np.arange(m)
    has_e = e_idx > 0
    A[rows[has_e], e_idx[has_e] - 1] = -1.0
    has_l = l_idx > 0
    A[rows[has_l], l_idx[has_l] - 1] = 1.0
    return A


def build_B(date_nums: np.ndarray, early: np.ndarray, late: np.ndarray) -> np.ndarray:
    """Velocity-coefficient matrix B: row j holds Δt_k over pair j's span."""
    timediffs = np.diff(date_nums).astype(np.float64)
    e_idx = np.searchsorted(date_nums, early)
    l_idx = np.searchsorted(date_nums, late)
    m = len(early)
    B = np.zeros((m, len(date_nums) - 1), dtype=np.float64)
    for j in range(m):
        B[j, e_idx[j] : l_idx[j]] = timediffs[e_idx[j] : l_idx[j]]
    return B


def invert_sbas(
    deltas: np.ndarray, G: np.ndarray, weights: np.ndarray | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """Least-squares solve pinv(G) @ deltas; returns (solution, residuals).

    ``deltas`` is (M,) or (M, P) — multiple series solved in one matmul,
    the reference's pixels-as-columns batching (insar/timeseries.py:529-531).
    NaNs are zeroed first (insar/timeseries.py:510-511). Optional per-pair
    weights scale both sides (WLS path, insar/timeseries.py:561-648).
    """
    d = np.nan_to_num(np.asarray(deltas, dtype=np.float64), nan=0.0)
    G = np.asarray(G, dtype=np.float64)
    if weights is not None:
        w = np.asarray(weights, dtype=np.float64).reshape(-1, 1)
        d = d * w.reshape(-1) if d.ndim == 1 else d * w
        G = G * w
    # normal equations (Cholesky solve) are ~5-10x cheaper than the SVD
    # behind pinv; fall back to pinv for rank-deficient networks
    # (disconnected pair graphs), mirroring the reference's always-pinv
    # (insar/timeseries.py:529-531) on exactly the inputs that need it
    GtG = G.T @ G
    try:
        c, low = _cho_factor(GtG)
        soln = _cho_solve(c, low, G.T @ d)
    except np.linalg.LinAlgError:
        soln = np.linalg.pinv(G) @ d
    resid = d - G @ soln
    return soln, resid


def integrate_velocities(velocities: np.ndarray, timediffs: np.ndarray) -> np.ndarray:
    """cumsum(v·Δt) along axis 0, with a prepended zero row."""
    v = np.asarray(velocities, dtype=np.float64)
    one_d = v.ndim == 1
    if one_d:
        v = v.reshape(-1, 1)
    td = np.asarray(timediffs, dtype=np.float64)
    if len(td) != v.shape[0]:
        raise ValueError(
            f"timediffs length {len(td)} != velocity rows {v.shape[0]}"
        )
    phi = np.vstack(
        [np.zeros((1, v.shape[1])), np.cumsum(v * td.reshape(-1, 1), axis=0)]
    )
    return phi[:, 0] if one_d else phi


def temporal_coherence(residuals: np.ndarray) -> np.ndarray | float:
    """|Σ_j exp(i·r_j)| / M per series column — solution quality in [0, 1]."""
    r = np.asarray(residuals, dtype=np.float64)
    m = r.shape[0]
    if m == 0:
        return 0.0
    # |sum(exp(ir))| = hypot(sum cos, sum sin) — no complex needed
    c = np.hypot(np.sum(np.cos(r), axis=0), np.sum(np.sin(r), axis=0)) / m
    return c


def create_diff_matrix(n: int, order: int = 1) -> np.ndarray:
    """Adjacent-difference regularization matrix (insar/ts_utils.py:245-270).

    Goldens (reference doctest): order 1 -> [[1,-1,0,0],[0,1,-1,0],[0,0,1,-1]];
    order 2 -> tridiagonal [-1, 2, -1] with 1s at the ends.
    """
    if order == 1:
        D = np.eye(n, dtype=np.int64) - np.diag(np.ones(n - 1, dtype=np.int64), k=1)
        return D[:-1, :]
    if order == 2:
        D = (
            2 * np.eye(n, dtype=np.int64)
            - np.diag(np.ones(n - 1, dtype=np.int64), k=1)
            - np.diag(np.ones(n - 1, dtype=np.int64), k=-1)
        )
        D[0, 0] = 1
        D[-1, -1] = 1
        return D
    raise ValueError(f"order must be 1 or 2, got {order}")


def regularize_G(
    G: np.ndarray,
    alpha: float = 0.0,
    difference: bool = False,
    constant_velocity: bool = False,
) -> np.ndarray:
    """prepB adjustments (insar/ts_utils.py:205-222): collapse to a single
    constant-velocity column, or augment with alpha * (I | diff-matrix)
    rows (Tikhonov / smoothness regularization). The data vector must be
    zero-padded to match (see invert_regularized)."""
    if constant_velocity:
        return np.sum(G, axis=1).reshape(-1, 1)
    if alpha > 0:
        R = create_diff_matrix(G.shape[1]) if difference else np.eye(G.shape[1])
        return np.vstack([G, alpha * R])
    return G


def invert_regularized(
    deltas: np.ndarray,
    G: np.ndarray,
    alpha: float = 0.0,
    difference: bool = False,
    constant_velocity: bool = False,
) -> np.ndarray:
    """Regularized least squares: augment G per regularize_G, zero-pad d."""
    d = np.nan_to_num(np.asarray(deltas, dtype=np.float64), nan=0.0)
    Ga = regularize_G(G, alpha, difference, constant_velocity)
    pad = Ga.shape[0] - G.shape[0]
    if pad > 0:
        zeros = np.zeros((pad,) if d.ndim == 1 else (pad, d.shape[1]))
        d = np.concatenate([d, zeros], axis=0)
    soln, _ = invert_sbas(d, Ga)
    return soln


def estimate_ramp(z: np.ndarray, order: int = 1) -> np.ndarray:
    """Least-squares plane/quadratic fit over a 2-D grid
    (insar/timeseries.py _estimate_ramp; golden: z=(1..7 step2)^T+(0..3)
    -> coeffs (1, 1, 2)). Kept for operator parity."""
    rows, cols = z.shape
    yy, xx = np.mgrid[0:rows, 0:cols]
    x = xx.ravel().astype(np.float64)
    y = yy.ravel().astype(np.float64)
    if order == 1:
        A = np.column_stack([np.ones_like(x), x, y])
    elif order == 2:
        A = np.column_stack([np.ones_like(x), x, y, x * y, x**2, y**2])
    else:
        raise ValueError("order must be 1 or 2")
    coeffs, *_ = np.linalg.lstsq(A, z.ravel().astype(np.float64), rcond=None)
    return coeffs


def remove_ramp(z: np.ndarray, order: int = 1) -> np.ndarray:
    """Subtract the fitted ramp surface (insar/timeseries.py remove_ramp)."""
    rows, cols = z.shape
    yy, xx = np.mgrid[0:rows, 0:cols]
    c = estimate_ramp(z, order)
    if order == 1:
        ramp = c[0] + c[1] * xx + c[2] * yy
    else:
        ramp = (
            c[0] + c[1] * xx + c[2] * yy + c[3] * xx * yy
            + c[4] * xx**2 + c[5] * yy**2
        )
    return z - ramp


def invert_sbas_l1(
    deltas: np.ndarray, G: np.ndarray, iters: int = 30, eps: float = 1e-8
) -> np.ndarray:
    """A9: L1-norm solve  min ||G x - d||_1  via IRLS.

    The reference uses cvxpy (insar/ts_utils.py:469-505 ``solve_l1``); IRLS
    (iteratively reweighted least squares, w = 1/max(|r|, eps)) converges to
    the same minimizer for this smooth-free problem without an external
    solver dependency. Robust to gross outlier pairs, unlike the L2 path.
    """
    d = np.nan_to_num(np.asarray(deltas, dtype=np.float64), nan=0.0)
    G = np.asarray(G, dtype=np.float64)
    x, _ = invert_sbas(d, G)  # L2 start
    for _ in range(iters):
        r = d - G @ x
        w = 1.0 / np.maximum(np.abs(r), eps)
        GtWG = G.T @ (G * w.reshape(-1, 1))
        GtWd = G.T @ (w * d)
        try:
            L, low = _cho_factor(GtWG)
            x_new = _cho_solve(L, low, GtWd)
        except np.linalg.LinAlgError:
            x_new = np.linalg.pinv(GtWG) @ GtWd
        if np.allclose(x_new, x, atol=1e-12, rtol=1e-10):
            x = x_new
            break
        x = x_new
    return x


def closure_phases(
    date_nums: np.ndarray, early: np.ndarray, late: np.ndarray, deltas: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """C8: triplet closure  d(i,j) + d(j,k) - d(i,k)  for consecutive-date
    triplets present in the pair network (insar/ts_utils.py:392-439).

    Returns (triplet first-date array, closure values). Exactly zero for a
    consistent (noise-free) network — the engine's network-integrity
    diagnostic.
    """
    pair = {(float(e), float(l)): float(d) for e, l, d in zip(early, late, deltas)}
    firsts, closures = [], []
    for i in range(len(date_nums) - 2):
        a, b, c = date_nums[i], date_nums[i + 1], date_nums[i + 2]
        if ((a, b) in pair) and ((b, c) in pair) and ((a, c) in pair):
            firsts.append(a)
            closures.append(pair[(a, b)] + pair[(b, c)] - pair[(a, c)])
    return np.asarray(firsts), np.asarray(closures)


def solve_series(
    date_nums: np.ndarray,
    early: np.ndarray,
    late: np.ndarray,
    deltas: np.ndarray,
    use_b_matrix: bool = False,
    weights: np.ndarray | None = None,
    scale: float = 1.0,
    l1: bool = False,
    max_dense_dates: int = 5000,
) -> tuple[np.ndarray, float]:
    """Full per-series solve: pairs (early, late, delta) -> cumulative phases.

    Returns (phases aligned to date_nums (N,), temporal coherence). The
    all-zero short-circuit mirrors insar/timeseries.py:512-516. ``l1``
    switches to the IRLS L1 path (A9).
    """
    d = np.nan_to_num(np.asarray(deltas, dtype=np.float64), nan=0.0)
    n = len(date_nums)
    if not np.any(d):
        return np.zeros(n), 0.0
    # bandwidth-1 fast path: a chain network (each pair spans exactly one
    # consecutive-date interval, every interval covered once) makes A
    # bidiagonal and the exact LS solution IS the cumulative sum — O(M)
    # instead of an O(N^3) factorization, same bits (A and B paths agree
    # because integrate(cumsum(d)/dt * dt) == cumsum(d)). Residuals are
    # exactly zero -> temporal coherence 1 (matches the general path).
    if weights is None and n >= 2 and len(d) == n - 1:
        e_idx = np.searchsorted(date_nums, early)
        l_idx = np.searchsorted(date_nums, late)
        if np.array_equal(l_idx, e_idx + 1) and np.array_equal(
            np.sort(e_idx), np.arange(n - 1)
        ):
            order = np.argsort(e_idx)
            phases = np.concatenate([[0.0], np.cumsum(d[order])])
            return phases * scale, 1.0
    # mega-series guard: a dense G for N dates is O(N^2) memory / O(N^3)
    # solve — a 20k-date redundant network would need ~3 GB and minutes
    # per series. Chain networks take the O(M) path above; redundant
    # networks on mega-series must be bandwidth-limited upstream
    # (operators.series.adjacent_pairs k).
    if n > max_dense_dates:
        raise ValueError(
            f"{n} dates exceeds max_dense_dates={max_dense_dates} for a "
            "non-chain network; cap the pair network bandwidth upstream"
        )
    if use_b_matrix:
        G = build_B(date_nums, early, late)
        if l1:
            vel = invert_sbas_l1(d, G)
            resid = d - G @ vel
        else:
            vel, resid = invert_sbas(d, G, weights)
        phases = integrate_velocities(vel, np.diff(date_nums))
    else:
        G = build_A(date_nums, early, late)
        if l1:
            soln = invert_sbas_l1(d, G)
            resid = d - G @ soln
        else:
            soln, resid = invert_sbas(d, G, weights)
        phases = np.concatenate([[0.0], np.atleast_1d(soln)])
    coh = float(np.atleast_1d(temporal_coherence(resid))[0])
    return phases * scale, coh
