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
    e_b = pl.emi_phase_batch(batch, abscoh)
    assert np.allclose(e_b[0], pl.emi_phase(coh, np.abs(coh)), atol=1e-4)


def test_regularize_fixes_non_pd():
    M = np.ones((5, 5), dtype=np.float32)  # rank-1, singular
    M[np.diag_indices(5)] = 1.0
    status, N = pl.regularize_matrix(M - 0.5 * np.eye(5, dtype=np.float32))
    assert status == 0
    np.linalg.cholesky(N)  # must not raise


def test_sequential_plus_datum_matches_full(sim):
    """Mini-stack cascade + datum connect ~= full-stack estimate (the
    reference's sequential path, lib/utils.pyx:603-796)."""
    truth, _, Z = sim
    ms = 10
    k = N_IMG // ms
    vec_seq, squeezed, q = pl.sequential_phase_linking(Z, "sequential_EMI", ms, k)
    assert squeezed.shape == (k, Z.shape[1])
    vec_adj = pl.datum_connect(squeezed, vec_seq, ms)
    err = _phase_err(vec_adj, truth)
    assert np.sqrt(np.mean(err**2)) < 0.3
    assert 0.3 < q <= 1.0


def test_sequential_last_window_absorbs_remainder(sim):
    _, _, Z = sim
    ms = 12  # 40 = 12+12+16: last chunk absorbs remainder
    k = N_IMG // ms
    vec, squeezed, _ = pl.sequential_phase_linking(Z, "sequential_EMI", ms, k)
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


def test_mask_diag_band():
    coh = np.ones((6, 6), dtype=np.complex64)
    m = pl.mask_diag(coh, 2)
    assert m[0, 0] == 1 and m[0, 1] == 1 and m[0, 2] == 0


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


def test_betainc_reg_closed_forms():
    x = np.linspace(0.01, 0.99, 23)
    # I_x(1,1) = x
    np.testing.assert_allclose(shp.betainc_reg(1.0, 1.0, x), x, atol=1e-10)
    # I_x(1/2,1/2) = (2/pi) asin(sqrt(x))
    np.testing.assert_allclose(
        shp.betainc_reg(0.5, 0.5, x), (2 / np.pi) * np.arcsin(np.sqrt(x)),
        atol=1e-9)
    assert shp.betainc_reg(2.0, 3.0, 0.0) == 0.0
    assert shp.betainc_reg(2.0, 3.0, 1.0) == 1.0


def test_welch_pvalue_hand_computed():
    """Welch t on [1,2,3,4] vs [2,3,4,5]: t = -1.095445, Welch-
    Satterthwaite df = 6, two-sided p = 0.315323 (public t tables /
    scipy.stats.ttest_ind(equal_var=False) reference value)."""
    s1 = np.array([1.0, 2.0, 3.0, 4.0])
    s2 = np.array([2.0, 3.0, 4.0, 5.0])
    p = float(shp.welch_pvalue(s1, s2))
    assert abs(p - 0.315323) < 1e-4
    # symmetry + identical samples
    assert abs(p - float(shp.welch_pvalue(s2, s1))) < 1e-12
    assert float(shp.welch_pvalue(s1, s1)) == 1.0
    # z = 1.96 at huge df -> p ~ 0.05
    rng = np.random.RandomState(0)
    n = 200_000
    a = rng.normal(0, 1, n)
    a = (a - a.mean()) / a.std(ddof=1)
    b = a + 1.96 * np.sqrt(2.0 / n)
    assert abs(float(shp.welch_pvalue(a, b)) - 0.05) < 2e-3
    # monotone in shift
    ps = [float(shp.welch_pvalue(s1, s1 + d)) for d in (0.5, 1.0, 2.0)]
    assert ps[0] > ps[1] > ps[2]


def test_welch_pvalue_batched():
    rng = np.random.RandomState(1)
    ref = rng.normal(0, 1, 30)
    tests = np.stack([ref + d for d in (0.0, 0.1, 1.0, 5.0)])
    p = shp.welch_pvalue(np.broadcast_to(ref, tests.shape), tests)
    assert p.shape == (4,)
    for i in range(4):
        assert abs(p[i] - float(shp.welch_pvalue(ref, tests[i]))) < 1e-12
    assert p[0] == 1.0 and p[3] < 1e-6


def test_shp_gate_dispatch():
    """KS | TTEST | AD dispatch (EngineConfig.shp_test, reference
    shp_test enum get_shp_row_col_c)."""
    rng = np.random.RandomState(2)
    n = 40
    ref = np.sort(rng.normal(0, 1, n))
    same = np.sort(rng.normal(0, 1, n))
    far = np.sort(rng.normal(4, 1, n))
    tests = np.stack([same, far])
    for name in ("KS", "TTEST", "AD"):
        gate = shp.shp_gate(name, n, n, alpha=0.05)
        keep = gate(ref, tests)
        assert keep[0] and not keep[1], name
    import pytest as _pytest
    with _pytest.raises(ValueError):
        shp.shp_gate("nope", n, n)


def _ad_midrank_scalar(s1, s2):
    """Independent scalar transcription of the Scholz-Stephens (1987)
    midrank A2akN + Tk normalization (k=2), searchsorted style — the
    oracle for the vectorized merge-based kernel."""
    s1 = np.sort(np.asarray(s1, float))
    s2 = np.sort(np.asarray(s2, float))
    n = [len(s1), len(s2)]
    Z = np.sort(np.concatenate([s1, s2]))
    Zstar = np.unique(Z)
    N = len(Z)
    lj = (Z.searchsorted(Zstar, "right")
          - Z.searchsorted(Zstar, "left")).astype(float)
    Bj = Z.searchsorted(Zstar, "left") + lj / 2.0
    A2 = 0.0
    for i, s in enumerate((s1, s2)):
        Mij = s.searchsorted(Zstar, "right").astype(float)
        fij = Mij - s.searchsorted(Zstar, "left")
        Maij = Mij - fij / 2.0
        inner = lj / N * (N * Maij - n[i] * Bj) ** 2 / (
            Bj * (N - Bj) - N * lj / 4.0)
        A2 += inner.sum() / n[i]
    A2 *= (N - 1.0) / N
    H = sum(1.0 / ni for ni in n)
    h = sum(1.0 / i for i in range(1, N))
    g = sum(1.0 / ((N - i) * j)
            for i in range(1, N - 1) for j in range(i + 1, N))
    k = 2
    a = (4 * g - 6) * (k - 1) + (10 - 6 * g) * H
    b = (2 * g - 4) * k**2 + 8 * h * k + (2 * g - 14 * h - 4) * H \
        - 8 * h + 4 * g - 6
    c = (6 * h + 2 * g - 2) * k**2 + (4 * h - 4 * g + 6) * k \
        + (2 * h - 6) * H + 4 * h
    d = (2 * h + 6) * k**2 - 4 * h * k
    sigma2 = (a * N**3 + b * N**2 + c * N + d) / (
        (N - 1.0) * (N - 2.0) * (N - 3.0))
    return (A2 - (k - 1)) / np.sqrt(sigma2)


def test_ad_statistic_matches_scalar_oracle():
    """Vectorized AD Tk == independent searchsorted transcription of
    the published formulas, with and without ties."""
    rng = np.random.RandomState(7)
    n = 25
    pairs = [
        (rng.normal(0, 1, n), rng.normal(0, 1, n)),
        (rng.normal(0, 1, n), rng.normal(2, 1, n)),
        (rng.randint(0, 6, n).astype(float),          # heavy ties
         rng.randint(0, 6, n).astype(float)),
        (np.repeat([1.0, 2.0], [10, 15]),             # cross-sample ties
         np.repeat([1.0, 3.0], [12, 13])),
    ]
    a = np.sort(np.stack([p[0] for p in pairs]), axis=1)
    b = np.sort(np.stack([p[1] for p in pairs]), axis=1)
    tk = shp.ad_2samp_statistic(a, b)
    for i, (s1, s2) in enumerate(pairs):
        np.testing.assert_allclose(tk[i], _ad_midrank_scalar(s1, s2),
                                   rtol=1e-10)
    # symmetry
    np.testing.assert_allclose(shp.ad_2samp_statistic(b, a), tk, rtol=1e-10)


def test_ad_pvalue_behaviour():
    """Significance behaves like the reference's anderson_ksamp use:
    capped to [0.001, 0.25], monotone in separation, keeps identical
    samples and rejects disjoint ones at alpha=0.05."""
    rng = np.random.RandomState(11)
    n = 40
    ref = np.sort(rng.normal(0, 1, n))
    shifts = [0.0, 0.5, 1.0, 4.0]
    tests = np.stack([np.sort(ref + s) for s in shifts])
    p = shp.ad_2samp_pvalue(
        np.broadcast_to(ref, tests.shape).copy(), tests)
    assert p[0] == 0.25                 # identical -> table ceiling
    assert p[-1] == 0.001               # disjoint -> table floor
    assert all(p[i] >= p[i + 1] for i in range(len(p) - 1))
    keep = shp.shp_keep_pairs("AD", np.broadcast_to(ref, tests.shape).copy(),
                              tests, alpha=0.05)
    assert keep[0] and not keep[-1]


def test_pta_refines_emi(sim):
    """A5: PTA starts at EMI and must not worsen the |log(v^H M v)|
    objective; on the simulated ensemble it recovers truth."""
    truth, _, Z = sim
    coh = pl.est_corr(Z)
    status, abscoh = pl.regularize_matrix(np.abs(coh))
    assert status == 0
    vec_pta = pl.pta_phase(coh, abscoh)
    vec_emi = pl.emi_phase(coh, abscoh)
    M = (np.linalg.inv(abscoh.astype(np.float64)) * coh)

    def obj(v):
        v = np.exp(1j * (np.angle(v) - np.angle(v[0])))
        return abs(np.log(max((v.conj() @ M @ v).real, 1e-12)))

    assert obj(vec_pta) <= obj(vec_emi) + 1e-9
    # phase recovery quality comparable to EMI
    assert np.sqrt(np.mean(_phase_err(vec_pta, truth) ** 2)) < 0.25
    # dispatch: method='PTA' reaches the PTA estimator
    vec_disp, _, _ = pl.phase_linking_process(Z, 0, "PTA", False, 0)
    np.testing.assert_allclose(np.angle(vec_disp), np.angle(vec_pta),
                               atol=1e-6)


def test_timeseries_cov_propagation():
    """A18: ts_cov = G+ diag(std^2) G+T; identity-weight sanity via a
    fully-determined chain network where propagation is exact."""
    from miaplpy_spark.kernels.lstsq import (
        design_matrices, estimate_timeseries_cov,
        estimate_timeseries_var_batch)

    # chain pairs (i, i+1): G is lower-triangular-ish, G+ recovers
    # increments directly, so var(ts_k) = std_k^2
    n = 6
    pairs = [(i, i + 1) for i in range(n - 1)]
    G, _ = design_matrices(pairs, np.arange(n, dtype=float))
    std = np.array([0.1, 0.2, 0.3, 0.4, 0.5])
    cov = estimate_timeseries_cov(G, std)
    assert cov.shape == (n - 1, n - 1)
    # chain network: increment k depends only on obs 0..k
    np.testing.assert_allclose(np.diag(cov),
                               np.cumsum(std ** 2), rtol=1e-5)
    # batch diag path agrees with the full-cov diagonal
    var = estimate_timeseries_var_batch(G, std[:, None])
    np.testing.assert_allclose(var[:, 0], np.diag(cov), rtol=1e-5)
    # under-redundant network -> zeros (the reference's gate)
    G2 = G.copy()
    G2[:, 0] = 0.0
    assert not estimate_timeseries_cov(G2, std).any()


def test_est_cov_matches_direct(sim):
    """est_cov (est_cov_py, lib/utils.pyx:374-383): unnormalized
    covariance; scalar == batched == direct Z Z^H / S, and
    cov2corr(est_cov) == est_corr."""
    rng = np.random.default_rng(12)
    Z = (rng.normal(size=(6, 10, 32)) + 1j * rng.normal(size=(6, 10, 32))
         ).astype(np.complex64)
    direct = np.stack([(z @ z.conj().T) / z.shape[1] for z in Z])
    batched = pl.est_cov_batch(Z)
    np.testing.assert_allclose(batched, direct.astype(np.complex64),
                               atol=1e-5)
    one = pl.est_cov(Z[0])
    np.testing.assert_allclose(one, batched[0], atol=1e-6)
    np.testing.assert_allclose(pl.cov2corr(one), pl.est_corr(Z[0]),
                               atol=1e-6)


def _spd_batch_with_singular(B, N, singular, dtype, seed):
    X = np.random.default_rng(seed).standard_normal((B, N, 2 * N))
    A = (X @ X.transpose(0, 2, 1)).astype(dtype)
    A[singular] = 1.0  # all-ones: exactly singular, not PD
    return A


def test_linalg_status_fallback_without_umath_linalg(monkeypatch):
    """A NumPy build without the private _umath_linalg module takes a
    per-matrix np.linalg loop with the same (result, ok) contract,
    bit-identical to the gufunc path (ADVICE r06)."""
    A = _spd_batch_with_singular(6, 5, 3, np.float64, seed=7)
    A32 = _spd_batch_with_singular(6, 5, 3, np.float32, seed=8)
    coh = pl.est_corr_batch(
        (np.random.default_rng(9).standard_normal((6, 5, 16))
         + 1j * np.random.default_rng(10).standard_normal((6, 5, 16))
         ).astype(np.complex64))
    gufunc = (pl.inv_batch_status(A), pl._cholesky_ok_batch(A32),
              pl.emi_phase_batch_status(coh, A))
    monkeypatch.setattr(pl, "_ul", None)
    loop = (pl.inv_batch_status(A), pl._cholesky_ok_batch(A32),
            pl.emi_phase_batch_status(coh, A))

    (I_g, ok_g), chol_g, (v_g, vok_g) = gufunc
    (I_l, ok_l), chol_l, (v_l, vok_l) = loop
    expect = [True, True, True, False, True, True]
    assert ok_g.tolist() == ok_l.tolist() == expect
    assert chol_g.tolist() == chol_l.tolist() == expect
    assert vok_g.tolist() == vok_l.tolist() == expect
    assert I_l.dtype == I_g.dtype and I_l.shape == I_g.shape
    assert I_l[ok_l].tobytes() == I_g[ok_g].tobytes()
    assert np.isnan(I_l[3]).all() and np.isnan(I_g[3]).all()
    assert v_l[vok_l].tobytes() == v_g[vok_g].tobytes()


@pytest.mark.parametrize("gufuncs", [True, False])
def test_emi_eigh_failure_takes_the_scalar_chain(monkeypatch, gufuncs):
    """One member whose eigh does not converge must not fail the Arrow
    batch: it alone is marked ok=False and takes the scalar EMI→EVD
    chain; every other member is unchanged bit for bit. With the raw
    gufuncs LAPACK non-convergence comes back NaN-filled; without them
    np.linalg.eigh raises for the batch."""
    from miaplpy_spark.operators.rollup import _link_batch

    if not gufuncs:
        monkeypatch.setattr(pl, "_ul", None)
    rng = np.random.default_rng(21)
    Z = (rng.standard_normal((5, 8, 24))
         + 1j * rng.standard_normal((5, 8, 24))).astype(np.complex64)
    vec0, q0, sq0 = _link_batch(Z, "EMI")

    bad = 2
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

    vec, q, sq = _link_batch(Z, "EMI")
    keep = np.arange(5) != bad
    assert vec[keep].tobytes() == vec0[keep].tobytes()
    assert q[keep].tobytes() == q0[keep].tobytes()
    assert sq[keep].tobytes() == sq0[keep].tobytes()
    assert vec[bad].tobytes() == pl.evd_phase(coh[bad]).tobytes()
