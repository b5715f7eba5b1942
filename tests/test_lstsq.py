"""Network-inversion kernel tests: recover a known series from its
pair differences (A16-A19 semantics)."""

import numpy as np
import pytest

from miaplpy_spark.kernels.lstsq import (
    design_matrices,
    estimate_timeseries,
    estimate_timeseries_batch,
    invert_l1,
    network_temporal_coherence,
)
from miaplpy_spark.operators.network_inversion import sequential_pairs_idx

N = 24
RNG = np.random.default_rng(11)
TRUTH = np.concatenate([[0.0], np.cumsum(RNG.normal(0, 0.1, N - 1))])
PAIRS = sequential_pairs_idx(N, 3)
TBASE = np.arange(N, dtype=np.float64)
A, B = design_matrices(PAIRS, TBASE)
Y = np.array([TRUTH[j] - TRUTH[i] for i, j in PAIRS])


def test_design_matrix_shapes():
    assert A.shape == (len(PAIRS), N - 1)
    # every pair row sums to 0 unless it touches the reference date
    touches_ref = np.array([i == 0 for i, _ in PAIRS])
    sums = A.sum(axis=1)
    assert np.allclose(sums[~touches_ref], 0)
    assert np.allclose(sums[touches_ref], 1)


def test_exact_recovery_noise_free():
    ts = estimate_timeseries(A, Y)
    np.testing.assert_allclose(ts, TRUTH - TRUTH[0], atol=1e-10)


def test_batch_matches_scalar_and_quality():
    noise = RNG.normal(0, 0.01, (len(PAIRS), 50))
    Yb = Y[:, None] + noise
    ts_b = estimate_timeseries_batch(A, Yb)
    ts_0 = estimate_timeseries(A, Yb[:, 0])
    np.testing.assert_allclose(ts_b[:, 0], ts_0, atol=1e-10)
    q = network_temporal_coherence(A, ts_b[1:], Yb)
    assert q.shape == (50,)
    assert (q > 0.99).all()  # tiny residuals -> coherence near 1


def test_weighted_solve_downweights_bad_rows():
    Yn = Y.copy()
    Yn[0] += 5.0  # gross outlier on one pair
    w = np.ones(len(PAIRS))
    w[0] = 1e-6
    ts = estimate_timeseries(A, Yn, weight_sqrt=np.sqrt(w))
    np.testing.assert_allclose(ts, TRUTH - TRUTH[0], atol=1e-3)


def test_l1_robust_to_outliers():
    Yn = Y.copy()
    Yn[::10] += 2.0  # 10% gross outliers
    x = invert_l1(A, Yn, alpha=0.001)
    ts = np.concatenate([[0.0], x])
    l2 = estimate_timeseries(A, Yn)
    err_l1 = np.abs(ts - (TRUTH - TRUTH[0])).max()
    err_l2 = np.abs(l2 - (TRUTH - TRUTH[0])).max()
    assert err_l1 < err_l2  # L1 beats L2 under outliers
    assert err_l1 < 0.25


def test_coherence2weight_sqrt():
    from miaplpy_spark.kernels.lstsq import coherence2weight_sqrt

    # Fisher-information value at gamma=0.9, L=1: 2*0.81/0.19
    w = coherence2weight_sqrt(np.array([0.9]), "fim", L=1)
    np.testing.assert_allclose(w**2, [2 * 0.81 / 0.19], rtol=1e-12)
    # monotone in coherence; epsilon clamp keeps 0 and 1 finite
    g = np.array([0.0, 0.2, 0.5, 0.9, 1.0])
    w = coherence2weight_sqrt(g, "var", L=4)
    assert np.all(np.diff(w) >= 0) and np.isfinite(w).all()
    np.testing.assert_allclose(coherence2weight_sqrt(g, "no"), 1.0)
    np.testing.assert_allclose(coherence2weight_sqrt(np.array([0.5]), "coh"),
                               np.sqrt(0.5))
    import pytest as _pytest
    with _pytest.raises(ValueError):
        coherence2weight_sqrt(g, "huh")


def test_wls_batch_matches_scalar_weighted():
    from miaplpy_spark.kernels.lstsq import (
        design_matrices, estimate_timeseries, estimate_timeseries_batch,
        estimate_timeseries_wls_batch)
    from miaplpy_spark.operators.network_inversion import sequential_pairs_idx

    rng = np.random.RandomState(7)
    n = 12
    pairs = sequential_pairs_idx(n, 3)
    A, _ = design_matrices(pairs, np.arange(n, dtype=float))
    Y = rng.normal(0, 1, (len(pairs), 5))
    W = rng.uniform(0.2, 3.0, (len(pairs), 5))
    got = estimate_timeseries_wls_batch(A, Y, W)
    for p in range(5):
        exp = estimate_timeseries(A, Y[:, p], weight_sqrt=W[:, p])
        np.testing.assert_allclose(got[:, p], exp, atol=1e-8)
    # uniform weights == unweighted fast path
    got_u = estimate_timeseries_wls_batch(A, Y, np.ones_like(W))
    np.testing.assert_allclose(got_u, estimate_timeseries_batch(A, Y),
                               atol=1e-8)


def test_l1_batch_matches_scalar():
    from miaplpy_spark.kernels.lstsq import (
        design_matrices, invert_l1, invert_l1_batch)
    from miaplpy_spark.operators.network_inversion import sequential_pairs_idx

    rng = np.random.RandomState(11)
    n = 10
    pairs = sequential_pairs_idx(n, 3)
    A, _ = design_matrices(pairs, np.arange(n, dtype=float))
    truth = np.cumsum(rng.normal(0, 0.3, (n - 1, 3)), axis=0)
    Y = A @ truth
    Y[2, 1] += 3.0  # outlier in one pixel
    got = invert_l1_batch(A, Y)
    for p in range(3):
        exp = invert_l1(A, Y[:, p])
        np.testing.assert_allclose(got[:, p], exp, atol=1e-4)


def test_l1_batch_finite_guard_repairs_degenerate_solves(monkeypatch):
    """np.linalg.solve can return inf/garbage WITHOUT raising when the
    IRLS weight floor drives GtG's condition to ~1e16 (observed ~1 in
    4000 docs at bench scale, poisoning ts_series with NaN). The guard
    must re-solve the pixel with a safer floor and, failing that, keep
    the smoothed-L2 start — never emit a non-finite series."""
    import numpy as np

    from miaplpy_spark.kernels.lstsq import (design_matrices,
                                             invert_l1_batch)
    from miaplpy_spark.operators.network_inversion import \
        sequential_pairs_idx

    rng = np.random.RandomState(7)
    n = 12
    pairs = sequential_pairs_idx(n, 3)
    A, _ = design_matrices(pairs, np.arange(n, dtype=np.float64))
    truth = rng.uniform(-0.2, 0.2, size=(n - 1, 6)).cumsum(axis=0)
    full = np.vstack([np.zeros((1, 6)), truth])
    I = np.array([i for i, _ in pairs])
    J = np.array([j for _, j in pairs])
    Y = full[J] - full[I] + rng.normal(0, 0.01, size=(len(pairs), 6))

    clean = invert_l1_batch(A, Y, alpha=0.01)

    real_solve = np.linalg.solve
    calls = {"n": 0}

    def corrupting_solve(a, b):
        calls["n"] += 1
        out = real_solve(a, b)
        # corrupt only sweep 1 (call 2) and its repair re-solve
        # (call 3): active-set rows shift identity after retirement,
        # so later corruption would hit different pixels
        if calls["n"] in (2, 3) and out.ndim == 2:
            out[0] = np.inf                     # pixel 0 goes degenerate
        return out

    monkeypatch.setattr(np.linalg, "solve", corrupting_solve)
    got = invert_l1_batch(A, Y, alpha=0.01)
    assert np.isfinite(got).all()
    # pixel 0 fell back to the smoothed-L2 start (the initial,
    # uncorrupted solve) and was retired from the working set
    nx = A.shape[1]
    G = np.vstack([A, 0.01 * (np.diag(np.full(nx, -2.0))
                              + np.diag(np.ones(nx - 1), 1)
                              + np.diag(np.ones(nx - 1), -1))])
    d = np.concatenate([Y[:, 0], np.zeros(nx)])
    x0 = np.linalg.lstsq(G, d, rcond=None)[0]
    np.testing.assert_allclose(got[:, 0], x0, atol=1e-8)
    # repaired run must leave well-behaved pixels' results intact
    np.testing.assert_allclose(got[:, 1:], clean[:, 1:], atol=1e-6)


def test_l1_batch_finite_on_residual_collapse():
    """Exactly chain-consistent phases drive every residual to ~0 —
    the weight floor's worst case — and must still solve finite and
    near the truth."""
    import numpy as np

    from miaplpy_spark.kernels.lstsq import (design_matrices,
                                             invert_l1_batch)
    from miaplpy_spark.operators.network_inversion import \
        sequential_pairs_idx

    rng = np.random.RandomState(11)
    n = 48
    pairs = sequential_pairs_idx(n, 3)
    A, _ = design_matrices(pairs, np.arange(n, dtype=np.float64))
    truth = rng.uniform(-0.1, 0.1, size=(n - 1, 64)).cumsum(axis=0)
    full = np.vstack([np.zeros((1, 64)), truth])
    I = np.array([i for i, _ in pairs])
    J = np.array([j for _, j in pairs])
    Y = full[J] - full[I]                      # zero-noise: exact chain
    X = invert_l1_batch(A, Y, alpha=0.01)
    assert np.isfinite(X).all()
    assert np.abs(X).max() < 1e3
    np.testing.assert_allclose(X, truth, atol=0.05)
