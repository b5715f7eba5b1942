"""Kernel tests: estimators must recover simulated ground truth — the
reference's own Monte-Carlo validation strategy (SURVEY.md §5,
/root/reference/src/miaplpy/simulation.py)."""

import numpy as np
import pytest

from miaplpy_spark.kernels import phase_linking as pl
from miaplpy_spark.kernels import shp
from miaplpy_spark.kernels.simulation import (
    simulate_coherence_matrix_exponential,
    simulate_constant_vel_phase,
    simulate_neighborhood_stack,
    wrap_phase,
)

N_IMG = 40
VEL = 4.0 / 1000 / (0.056 / (4 * np.pi))  # 4 mm/y at lambda=56mm -> rad/yr


@pytest.fixture(scope="module")
def sim():
    t, x = simulate_constant_vel_phase(N_IMG, 6)
    truth = (VEL / 365.0) * t  # rad per day * day
    C = simulate_coherence_matrix_exponential(
        t, gamma0=0.6, gammaf=0.1, gamma_fading=0.0,
        vel_phase=VEL / 365.0, decorr_days=50.0,
    )
    Z = simulate_neighborhood_stack(C, neighbor_samples=300, seed=42)
    return truth, C, Z


def _phase_err(vec, truth):
    # C[i,j] = E[z_i z_j*] carries phase +vel*(t_j - t_i) in the sim
    # convention, so the recovered series is the NEGATIVE of truth.
    est = np.angle(vec) - np.angle(vec[0])
    return wrap_phase(est + (truth - truth[0]))


def test_est_corr_matches_direct(sim):
    _, _, Z = sim
    corr = pl.est_corr(Z)
    assert corr.shape == (N_IMG, N_IMG)
    assert np.allclose(np.abs(np.diagonal(corr)), 1.0, atol=1e-5)
    # Hermitian
    assert np.allclose(corr, corr.conj().T, atol=1e-5)
    # batched variant agrees with scalar
    corr_b = pl.est_corr_batch(Z[None])[0]
    assert np.allclose(corr, corr_b, atol=1e-5)


def test_evd_recovers_truth(sim):
    truth, _, Z = sim
    vec, _, quality = pl.phase_linking_process(Z, 0, "EVD", False)
    err = _phase_err(vec, truth)
    assert np.sqrt(np.mean(err**2)) < 0.25  # rad; well under noise floor
    assert 0.5 < quality <= 1.0


def test_emi_recovers_truth(sim):
    truth, _, Z = sim
    vec, _, quality = pl.phase_linking_process(Z, 0, "EMI", False)
    err = _phase_err(vec, truth)
    assert np.sqrt(np.mean(err**2)) < 0.25
    assert 0.5 < quality <= 1.0


def test_batched_evd_emi_match_scalar(sim):
    _, _, Z = sim
    coh = pl.est_corr(Z)
    batch = np.stack([coh, coh.conj()])  # two members
    v_b = pl.evd_phase_batch(batch)
    assert np.allclose(v_b[0], pl.evd_phase(coh), atol=1e-5)
    status, abscoh = pl.regularize_matrix_batch(np.abs(batch))
    assert status.tolist() == [0, 0]
    e_b, ok = pl.emi_phase_batch_status(batch, abscoh)
    assert ok.all()
    assert np.allclose(e_b[0], pl.emi_phase(coh, np.abs(coh)), atol=1e-4)


def test_evd_eigh_failure_stays_with_its_member(monkeypatch):
    """A member whose batched eigh does not converge (the raw gufunc
    NaN-fills it) must not fail the batch: every other member is bit-
    identical to the scalar evd_phase (np.linalg.eigh per member), and
    the failed one's vec is all ones, whose quality gam_pta_batch still
    reports."""
    if pl._ul is None:
        pytest.skip("NumPy build without _umath_linalg")
    rng = np.random.default_rng(7)
    Z = (rng.standard_normal((5, 8, 24))
         + 1j * rng.standard_normal((5, 8, 24))).astype(np.complex64)
    coh = pl.est_corr_batch(Z)
    scalar = np.stack([pl.evd_phase(c) for c in coh])
    bad = 3
    stock_ul = pl._ul

    class NonConverging:
        def __getattr__(self, name):
            return getattr(stock_ul, name)

        def eigh_lo(self, a, **kw):
            w, v = stock_ul.eigh_lo(a, **kw)
            w[bad], v[bad] = np.nan, np.nan
            return w, v

    monkeypatch.setattr(pl, "_ul", NonConverging())
    vec = pl.evd_phase_batch(coh)

    keep = np.arange(5) != bad
    assert vec.dtype == scalar.dtype
    assert vec[keep].tobytes() == scalar[keep].tobytes()
    assert (vec[bad] == 1).all()
    assert np.isfinite(pl.gam_pta_batch(np.angle(coh), vec)).all()


def test_regularize_fixes_non_pd():
    M = np.ones((5, 5), dtype=np.float32)  # rank-1, singular
    M[np.diag_indices(5)] = 1.0
    status, N = pl.regularize_matrix(M - 0.5 * np.eye(5, dtype=np.float32))
    assert status == 0
    np.linalg.cholesky(N)  # must not raise


@pytest.mark.parametrize("max_tries", [1, 3])
def test_regularize_batch_matches_scalar_schedule(max_tries):
    """The batched loading loop follows the scalar probe schedule:
    ``max_tries`` probes, one load after each failed probe. Matrices
    needing exactly k loads (k in 0, 1, max_tries-1, max_tries,
    max_tries+1) get the scalar status and bit-identical output; a
    member needing max_tries loads is status 1 with all of them
    applied, not a success found by one extra probe."""
    def loads_after(k):     # float32 diagonal loading after k loads
        d, en = np.float32(0), 1e-6
        for _ in range(k):
            d, en = d + np.float32(en), en * 2
        return float(d)

    ks = [0, 1, max_tries - 1, max_tries, max_tries + 1]
    mats = []
    for k in ks:
        M = np.eye(4, dtype=np.float32)
        # the one non-positive pivot turns positive at the k-th load
        M[0, 0] = 1.0 if k == 0 else -(loads_after(k - 1)
                                        + loads_after(k)) / 2
        assert pl.regularize_matrix(M, k + 1)[0] == 0
        assert k == 0 or pl.regularize_matrix(M, k)[0] == 1
        mats.append(M)
    rng = np.random.default_rng(5)
    A = rng.standard_normal((4, 4)).astype(np.float32)
    mats.append(A @ A.T)                       # plain PD member
    status, out = pl.regularize_matrix_batch(np.stack(mats), max_tries)
    for b, M in enumerate(mats):
        s_ref, n_ref = pl.regularize_matrix(M, max_tries)
        assert status[b] == s_ref, b
        np.testing.assert_array_equal(out[b], n_ref)
    assert list(status[:len(ks)]) == [int(k >= max_tries) for k in ks]


def test_sequential_plus_datum_matches_full(sim):
    """Mini-stack cascade + datum connect ~= full-stack estimate (the
    reference's sequential path, lib/utils.pyx:603-796)."""
    truth, _, Z = sim
    ms = 10
    k = N_IMG // ms
    vec_seq, squeezed, q = pl.sequential_phase_linking(Z, "EMI", ms, k)
    assert squeezed.shape == (k, Z.shape[1])
    vec_adj = pl.datum_connect(squeezed, vec_seq, ms)
    err = _phase_err(vec_adj, truth)
    assert np.sqrt(np.mean(err**2)) < 0.3
    assert 0.3 < q <= 1.0


def test_sequential_last_window_absorbs_remainder(sim):
    _, _, Z = sim
    ms = 12  # 40 = 12+12+16: last chunk absorbs remainder
    k = N_IMG // ms
    vec, squeezed, _ = pl.sequential_phase_linking(Z, "EMI", ms, k)
    assert squeezed.shape[0] == k
    assert np.all(vec[ms * (k - 1):] != 0)  # remainder rows were filled


def test_squeeze_is_unit_scale(sim):
    _, _, Z = sim
    vec, sq, _ = pl.phase_linking_process(Z[:10], 0, "EMI", True)
    assert sq.shape == (Z.shape[1],)
    assert np.isfinite(sq).all()


def test_gam_pta_perfect_fit_is_one():
    n = 8
    ph = np.random.default_rng(0).uniform(-np.pi, np.pi, n)
    vec = np.exp(1j * ph).astype(np.complex64)
    ph_filt = ph[:, None] - ph[None, :]
    assert abs(pl.gam_pta(ph_filt, vec) - 1.0) < 1e-5
    b = pl.gam_pta_batch(ph_filt[None], vec[None])
    assert abs(b[0] - 1.0) < 1e-4


def test_test_ps_branches():
    # near-rank-1 coherence => PS shortcut fires
    n = 12
    ph = np.linspace(0, 1, n)
    v = np.exp(1j * ph)
    coh = np.outer(v, v.conj()).astype(np.complex64)
    amp = np.ones(n, dtype=np.float32)  # zero dispersion
    quality, vec, amp_disp, l1, l2, top = pl.test_ps(coh, amp)
    assert quality == 1.0 and top > 95 and amp_disp < 0.42
    # noisy matrix => EVD branch
    rng = np.random.default_rng(1)
    A = rng.standard_normal((n, n)) + 1j * rng.standard_normal((n, n))
    coh2 = pl.cov2corr((A @ A.conj().T).astype(np.complex64))
    amp2 = rng.uniform(0.1, 3.0, n).astype(np.float32)
    q2, *_ = pl.test_ps(coh2, amp2)
    assert q2 < 1.0


def test_ks_lut_and_distance():
    thr = shp.ks_lut(40, 40, alpha=0.05)
    assert 0.2 < thr < 0.4
    rng = np.random.default_rng(7)
    a = np.sort(rng.normal(0, 1, 40)).astype(np.float32)
    b = np.sort(rng.normal(0, 1, 40)).astype(np.float32)
    c = np.sort(rng.normal(5, 1, 40)).astype(np.float32)
    assert shp.ecdf_distance(a, b) <= thr
    assert shp.ecdf_distance(a, c) > thr
    # batch path agrees
    d = shp.ecdf_distance_batch(a, np.stack([b, c]))
    assert abs(d[0] - shp.ecdf_distance(a, b)) < 1e-12
    assert abs(d[1] - shp.ecdf_distance(a, c)) < 1e-12


def test_shp_gate_dispatch():
    """The rollup's SHP gate (reference get_shp_row_col_c, shp_test KS):
    ecdf_distance_pairs <= ks_lut keeps the same-distribution pair and
    rejects the shifted one, row by row over a batch of pairs."""
    rng = np.random.RandomState(2)
    n = 40
    ref = np.sort(rng.normal(0, 1, n))
    same = np.sort(rng.normal(0, 1, n))
    far = np.sort(rng.normal(4, 1, n))
    tests = np.stack([same, far])
    refs = np.ascontiguousarray(np.broadcast_to(ref, tests.shape))
    keep = shp.ecdf_distance_pairs(refs, tests) <= shp.ks_lut(n, n)
    assert keep.tolist() == [True, False]
    # the pairwise distances are the scalar KS distances
    d = shp.ecdf_distance_pairs(refs, tests)
    for i in range(2):
        assert abs(d[i] - shp.ecdf_distance(ref, tests[i])) < 1e-12


def test_engine_config_rejects_unknown_method():
    """Every name the phase-linking dispatch knows constructs; any
    other name raises at construction instead of running EVD."""
    from miaplpy_spark.config import EngineConfig

    for name in ("EVD", "EMI"):
        assert EngineConfig(method=name).method == name
    for name in ("PTA", "SBW", "EMl", "emi", "sequential_EMI",
                 "sequential_PTA", "sequential_EVD", ""):
        with pytest.raises(ValueError, match="unknown phase-linking method"):
            EngineConfig(method=name)


def _spd_batch_with_singular(B, N, singular, dtype, seed):
    X = np.random.default_rng(seed).standard_normal((B, N, 2 * N))
    A = (X @ X.transpose(0, 2, 1)).astype(dtype)
    A[singular] = 1.0  # all-ones: exactly singular, not PD
    return A


def test_linalg_status_fallback_without_umath_linalg(monkeypatch):
    """A NumPy build without the private _umath_linalg module takes a
    per-matrix np.linalg loop with the same (result, ok) contract,
    bit-identical to the gufunc path (ADVICE r06). The batched loading
    loop then probes through np.linalg.cholesky, the float64 potrf the
    scalar regularize_matrix runs, so it equals the scalar loop byte
    for byte, members that need diagonal loads included; the lstsq
    solve matches the gufunc and flags the singular member."""
    from miaplpy_spark.kernels import lstsq

    A = _spd_batch_with_singular(6, 5, 3, np.float64, seed=7)
    A32 = _spd_batch_with_singular(6, 5, 3, np.float32, seed=8)
    coh = pl.est_corr_batch(
        (np.random.default_rng(9).standard_normal((6, 5, 16))
         + 1j * np.random.default_rng(10).standard_normal((6, 5, 16))
         ).astype(np.complex64))
    rng = np.random.default_rng(11)
    Z = (rng.standard_normal((60, 8, 12))
         + 1j * rng.standard_normal((60, 8, 12))).astype(np.complex64)
    Z[::7, 1] = Z[::7, 0]          # equal rows: |Γ| singular, needs loads
    absc = np.abs(pl.est_corr_batch(Z)).astype(np.float32)
    rhs = np.random.default_rng(4).standard_normal((6, 5))
    gufunc = (pl.inv_batch_status(A), pl._cholesky_ok_batch(A32),
              pl.emi_phase_batch_status(coh, A),
              lstsq.solve_batch_status(A, rhs))
    monkeypatch.setattr(pl, "_ul", None)
    monkeypatch.setattr(lstsq, "_ul", None)
    loop = (pl.inv_batch_status(A), pl._cholesky_ok_batch(A32),
            pl.emi_phase_batch_status(coh, A),
            lstsq.solve_batch_status(A, rhs))

    (I_g, ok_g), chol_g, (v_g, vok_g), (x_g, xok_g) = gufunc
    (I_l, ok_l), chol_l, (v_l, vok_l), (x_l, xok_l) = loop
    expect = [True, True, True, False, True, True]
    assert ok_g.tolist() == ok_l.tolist() == expect
    assert chol_g.tolist() == chol_l.tolist() == expect
    assert vok_g.tolist() == vok_l.tolist() == expect
    assert xok_g.tolist() == xok_l.tolist() == expect
    assert I_l.dtype == I_g.dtype and I_l.shape == I_g.shape
    assert I_l[ok_l].tobytes() == I_g[ok_g].tobytes()
    assert np.isnan(I_l[3]).all() and np.isnan(I_g[3]).all()
    assert v_l[vok_l].tobytes() == v_g[vok_g].tobytes()
    np.testing.assert_allclose(x_l[xok_l], x_g[xok_g], rtol=1e-12)
    assert np.isnan(x_l[3]).all() and np.isnan(x_g[3]).all()

    status, out = pl.regularize_matrix_batch(absc)
    scalar = [pl.regularize_matrix(m) for m in absc]
    assert status.tolist() == [s for s, _ in scalar]
    assert out.tobytes() == np.stack([m for _, m in scalar]).tobytes()
    assert (out != absc).any(axis=(1, 2)).sum() >= len(Z[::7])


@pytest.mark.parametrize("method", ["EMI"])
@pytest.mark.parametrize("gufuncs", [True, False])
def test_failed_member_takes_the_batched_evd(monkeypatch, gufuncs, method):
    """One member whose eigh does not converge must not fail the Arrow
    batch: EMI marks it alone ok=False and it takes the one batched EVD
    call, byte for byte what evd_phase_batch gives it; the other
    members are what EMI gives them without it. With the raw gufuncs
    LAPACK non-convergence comes back NaN-filled; without them
    np.linalg.eigh raises for the batch."""
    from miaplpy_spark.operators.rollup import _link_batch

    if not gufuncs:
        monkeypatch.setattr(pl, "_ul", None)
    rng = np.random.default_rng(21)
    Z = (rng.standard_normal((5, 8, 24))
         + 1j * rng.standard_normal((5, 8, 24))).astype(np.complex64)
    vec0, q0, sq0 = _link_batch(Z, method)

    bad = 2
    keep = np.arange(5) != bad
    coh = pl.est_corr_batch(Z)
    status, abscoh = pl.regularize_matrix_batch(np.abs(coh).astype(np.float32))
    assert (status == 0).all()
    inv_abs, _ = pl.inv_batch_status(abscoh.astype(np.float64))
    target = (inv_abs[bad] * coh[bad]).astype(np.complex64)

    def hits(a):
        a = np.asarray(a)
        return np.array([np.array_equal(m, target)
                         for m in a.reshape(-1, *a.shape[-2:])])

    stock_eigh = np.linalg.eigh

    def eigh(a, *args, **kw):
        if hits(a).any():
            raise np.linalg.LinAlgError("Eigenvalues did not converge")
        return stock_eigh(a, *args, **kw)

    monkeypatch.setattr(np.linalg, "eigh", eigh)
    if gufuncs:
        stock_ul = pl._ul

        class NonConverging:
            def __getattr__(self, name):
                return getattr(stock_ul, name)

            def eigh_lo(self, a, **kw):
                w, v = stock_ul.eigh_lo(a, **kw)
                h = hits(a)
                w[h], v[h] = np.nan, np.nan
                return w, v

        monkeypatch.setattr(pl, "_ul", NonConverging())

    _, ok = pl.emi_phase_batch_status(coh, abscoh)
    assert ok.tolist() == [True, True, False, True, True]
    with pytest.raises(np.linalg.LinAlgError):
        pl.emi_phase(coh[bad], abscoh[bad])

    vec, q, sq = _link_batch(Z, method)
    assert (vec[bad].tobytes()
            == pl.evd_phase_batch(coh[bad:bad + 1])[0].tobytes()
            == pl.evd_phase(coh[bad]).tobytes())
    assert vec[keep].tobytes() == vec0[keep].tobytes()
    assert q[keep].tobytes() == q0[keep].tobytes()
    assert sq[keep].tobytes() == sq0[keep].tobytes()
