"""Statistically-homogeneous-neighbor (SHP) membership tests.

The reference decides rollup-group membership with a two-sample KS test
of amplitude distributions against a precomputed critical distance
(get_shp_row_col_c, /root/reference/src/miaplpy/lib/utils.pyx:903-998;
ks_lut_cy, lib/utils.pyx:859-877). Here the test is vectorized with
``np.searchsorted`` over whole batches; the LUT threshold is computed
once on the driver and captured in the UDF closure (constant hoisting,
SURVEY.md P7).
"""

from __future__ import annotations

import math

import numpy as np

_lgamma = np.frompyfunc(math.lgamma, 1, 1)


def ks_lut(n1: int, n2: int, alpha: float = 0.05) -> float:
    """Critical KS distance: smallest d in [0.01, 1) step 0.001 whose
    asymptotic p-value (2·Σ_{t=1..100}(−1)^{t−1}exp(−2v²t²) with
    v = d·(√N+0.12+0.11/√N), N = n1·n2/(n1+n2)) is <= alpha."""
    N = (n1 * n2) / (n1 + n2)
    distances = np.arange(0.01, 1, 0.001, dtype=np.float32)
    value = distances * (np.sqrt(N) + 0.12 + 0.11 / np.sqrt(N))
    t = np.arange(1, 101, dtype=np.float64)
    terms = ((-1.0) ** (t - 1))[None, :] * np.exp(
        -2.0 * (value[:, None] ** 2) * (t[None, :] ** 2)
    )
    pvalue = np.clip(2.0 * terms.sum(axis=1), 0.0, 1.0)
    hits = np.nonzero(pvalue <= alpha)[0]
    return float(distances[hits[0]]) if hits.size else 0.1


def ecdf_distance(data1: np.ndarray, data2: np.ndarray) -> float:
    """Max ECDF gap between two SORTED same-length 1-D samples."""
    data_all = np.sort(np.concatenate([data1, data2]))
    nx = data1.shape[0]
    cdf1 = np.searchsorted(data1, data_all, side="right")
    cdf2 = np.searchsorted(data2, data_all, side="right")
    return float(np.max(np.abs(cdf1 - cdf2)) / nx)


def _betacf(a, b, x, maxit: int = 300, eps: float = 3e-12):
    """Continued fraction for the incomplete beta (modified Lentz),
    vectorized over x. Standard public-domain numerics."""
    tiny = 1e-30
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c = np.ones_like(x)
    d = 1.0 - qab * x / qap
    d = np.where(np.abs(d) < tiny, tiny, d)
    d = 1.0 / d
    h = d.copy()
    for m in range(1, maxit + 1):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        d = 1.0 / np.where(np.abs(d) < tiny, tiny, d)
        c = 1.0 + aa / c
        c = np.where(np.abs(c) < tiny, tiny, c)
        h = h * d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        d = 1.0 / np.where(np.abs(d) < tiny, tiny, d)
        c = 1.0 + aa / c
        c = np.where(np.abs(c) < tiny, tiny, c)
        delta = d * c
        h = h * delta
        if np.all(np.abs(delta - 1.0) < eps):
            break
    return h


def betainc_reg(a, b, x):
    """Regularized incomplete beta I_x(a, b), vectorized over x
    (a, b scalars or broadcastable arrays). Both continued-fraction
    branches are evaluated and selected by the usual convergence
    criterion x < (a+1)/(a+b+2)."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    x = np.clip(np.asarray(x, dtype=np.float64), 0.0, 1.0)
    lbeta = np.asarray(_lgamma(a) + _lgamma(b) - _lgamma(a + b),
                       dtype=np.float64)
    xs = np.where((x == 0) | (x == 1), 0.5, x)  # safe logs; masked later
    ln_front = a * np.log(xs) + b * np.log1p(-xs) - lbeta
    front = np.exp(ln_front)
    direct = front / a * _betacf(a, b, xs)
    mirror = 1.0 - front / b * _betacf(b, a, 1.0 - xs)
    use_direct = xs < (a + 1.0) / (a + b + 2.0)
    out = np.where(use_direct, direct, mirror)
    out = np.where(x == 0, 0.0, out)
    out = np.where(x == 1, 1.0, out)
    return np.clip(out, 0.0, 1.0)


def welch_pvalue(s1: np.ndarray, s2: np.ndarray) -> np.ndarray:
    """Two-sided Welch t-test p-value (unequal variances), pure NumPy —
    scipy-free equivalent of ``ttest_ind(s1, s2, equal_var=False)[1]``
    used by the reference's SHP variant (ttest_indtest_cy,
    /root/reference/src/miaplpy/lib/utils.pyx:1220-1229).

    ``s1``/``s2`` are (..., N) sample batches; the test vectorizes over
    all leading axes. p = I_{ν/(ν+t²)}(ν/2, 1/2) with Welch-
    Satterthwaite ν."""
    s1 = np.asarray(s1, dtype=np.float64)
    s2 = np.asarray(s2, dtype=np.float64)
    n1, n2 = s1.shape[-1], s2.shape[-1]
    m1, m2 = s1.mean(axis=-1), s2.mean(axis=-1)
    v1 = s1.var(axis=-1, ddof=1)
    v2 = s2.var(axis=-1, ddof=1)
    vn1, vn2 = v1 / n1, v2 / n2
    se2 = vn1 + vn2
    with np.errstate(divide="ignore", invalid="ignore"):
        t2 = np.where(se2 > 0, (m1 - m2) ** 2 / np.where(se2 > 0, se2, 1.0),
                      np.where(m1 == m2, 0.0, np.inf))
        df = np.where(se2 > 0,
                      se2 ** 2 / (vn1 ** 2 / (n1 - 1) + vn2 ** 2 / (n2 - 1)),
                      1.0)
    p = betainc_reg(df / 2.0, 0.5, df / (df + t2))
    return np.where(np.isinf(t2), 0.0, p)


# --- Anderson-Darling k=2 sample test (N4) ---------------------------------
# Scholz & Stephens (1987), "K-Sample Anderson-Darling Tests", JASA 82.
# The reference's ADtest_cy (/root/reference/src/miaplpy/lib/utils.pyx:
# 1232-1240) keeps a neighbor when the interpolated significance level
# is >= threshold. Everything below is the published midrank statistic
# A2akN, its null normalization Tk, and the paper's Table-2 critical-
# value interpolation - pure NumPy, vectorized over (B, N) pairs.

_AD_SIG = np.array([0.25, 0.10, 0.05, 0.025, 0.01, 0.005, 0.001])
# tm = b0 + b1/sqrt(m) + b2/m at m = k-1 = 1 (Scholz-Stephens Table 2)
_AD_TM = (np.array([0.675, 1.281, 1.645, 1.960, 2.326, 2.573, 3.085])
          + np.array([-0.245, 0.250, 0.678, 1.149, 1.822, 2.364, 3.615])
          + np.array([-0.105, -0.305, -0.362, -0.391, -0.396, -0.345,
                      -0.154]))
_AD_POLY = np.polyfit(_AD_TM, np.log(_AD_SIG), 2)


def ad_2samp_statistic(a_sorted: np.ndarray, b_sorted: np.ndarray) -> np.ndarray:
    """Normalized two-sample Anderson-Darling statistic Tk for (B, N)
    batches of SORTED same-length samples (midrank tie handling).
    Vectorized like ecdf_distance_pairs: one stable merge per row, then
    per-run quantities from cumsums gathered at run starts/ends."""
    a_sorted = np.asarray(a_sorted, dtype=np.float64)
    b_sorted = np.asarray(b_sorted, dtype=np.float64)
    B, n = a_sorted.shape
    N = 2 * n
    allv = np.concatenate([a_sorted, b_sorted], axis=1)
    order = np.argsort(allv, axis=1, kind="stable")
    vals = np.take_along_axis(allv, order, axis=1)
    from_a = order < n
    cum_a = np.cumsum(from_a, axis=1)                      # a-count <= val

    new_run = np.empty((B, N), dtype=bool)
    new_run[:, 0] = True
    new_run[:, 1:] = vals[:, 1:] != vals[:, :-1]
    ends = np.empty((B, N), dtype=bool)
    ends[:, -1] = True
    ends[:, :-1] = new_run[:, 1:]
    idx = np.arange(N)[None, :]
    start = np.maximum.accumulate(np.where(new_run, idx, -1), axis=1)
    run_len = idx - start + 1                              # l_j at run ends
    cum_a_prev = np.take_along_axis(cum_a, np.maximum(start - 1, 0), axis=1)
    cum_a_prev = np.where(start == 0, 0, cum_a_prev)

    # At each run end: M_i = count of sample i <= Zstar_j, f_i = count
    # of sample i == Zstar_j; midrank M_ai = M_i - f_i/2; pooled
    # B_aj = (count < Zstar_j) + l_j/2.
    M1 = cum_a.astype(np.float64)
    f1 = M1 - cum_a_prev
    M2 = (idx + 1.0) - M1
    f2 = run_len - f1
    Ma1 = M1 - f1 / 2.0
    Ma2 = M2 - f2 / 2.0
    Bj = (idx + 1.0) - run_len / 2.0
    denom = Bj * (N - Bj) - N * run_len / 4.0
    lj_N = run_len / float(N)
    inner = (lj_N * (N * Ma1 - n * Bj) ** 2
             + lj_N * (N * Ma2 - n * Bj) ** 2)
    # denom == 0 only when a run spans the whole pool (all values
    # identical in BOTH samples): zero contribution, perfect agreement.
    safe = np.where(denom > 0, denom, 1.0)
    contrib = np.where(ends & (denom > 0), inner / safe, 0.0)
    A2akN = (N - 1.0) / N * contrib.sum(axis=1) / n

    # Null mean k-1 = 1 and variance sigmaN^2 (paper eq. 4 at k=2).
    inv = 1.0 / np.arange(1, N, dtype=np.float64)          # 1/1..1/(N-1)
    h = inv.sum()
    Hcum = np.cumsum(inv)
    i_rng = np.arange(1, N - 1, dtype=np.float64)          # i = 1..N-2
    g = float((((h - Hcum[:-1]) / (N - i_rng))).sum())
    Hk = 2.0 / n
    a_c = (4.0 * g - 6.0) + (10.0 - 6.0 * g) * Hk
    b_c = (2.0 * g - 4.0) * 4 + 8.0 * h * 2 + (2.0 * g - 14.0 * h - 4.0) * Hk \
        - 8.0 * h + 4.0 * g - 6.0
    c_c = (6.0 * h + 2.0 * g - 2.0) * 4 + (4.0 * h - 4.0 * g + 6.0) * 2 \
        + (2.0 * h - 6.0) * Hk + 4.0 * h
    d_c = (2.0 * h + 6.0) * 4 - 4.0 * h * 2
    sigma2 = (a_c * N ** 3 + b_c * N ** 2 + c_c * N + d_c) / (
        (N - 1.0) * (N - 2.0) * (N - 3.0))
    return (A2akN - 1.0) / np.sqrt(sigma2)


def ad_2samp_pvalue(a_sorted: np.ndarray, b_sorted: np.ndarray) -> np.ndarray:
    """Interpolated significance level for the normalized statistic:
    quadratic in Tk through the Table-2 (log-sig, tm) points, clipped
    to the table's [0.001, 0.25] range (the same floor/ceiling the
    reference's scipy call reports outside the table)."""
    tk = ad_2samp_statistic(a_sorted, b_sorted)
    p = np.exp(np.polyval(_AD_POLY, tk))
    return np.clip(p, 0.001, 0.25)


def shp_keep_pairs(test: str, ref_sorted: np.ndarray,
                   tests_sorted: np.ndarray, alpha: float = 0.05) -> np.ndarray:
    """Row-wise SHP membership for (B, N) sorted sample pairs: True
    where ``tests_sorted[b]`` is statistically homogeneous with
    ``ref_sorted[b]`` under the configured test (the reference's
    shp_test enum, get_shp_row_col_c lib/utils.pyx:903-998): KS
    distance against the ks_lut critical value, Welch t-test or
    Anderson-Darling, keeping p >= alpha for the last two."""
    N = ref_sorted.shape[-1]
    if test == "KS":
        thr = ks_lut(N, N, alpha)
        return ecdf_distance_pairs(ref_sorted, tests_sorted) <= thr
    if test == "TTEST":
        return welch_pvalue(ref_sorted, tests_sorted) >= alpha
    if test == "AD":
        return ad_2samp_pvalue(ref_sorted, tests_sorted) >= alpha
    raise ValueError(f"unknown shp test {test!r}")


def ecdf_distance_pairs(a_sorted: np.ndarray, b_sorted: np.ndarray) -> np.ndarray:
    """Row-wise KS distance between two (B, N) batches of SORTED
    same-length samples — fully vectorized (no per-row searchsorted
    loop): merge by stable argsort, walk both ECDFs with cumsums, and
    evaluate only at the end of each equal-value run (tie handling
    identical to searchsorted side='right').

    Exact algebraic shortcuts (identical results, ~40% cheaper):
    cdf_b at merged position i is (i+1) - cdf_a, so ONE int32 cumsum
    yields |cdf_a - cdf_b| = |2·cdf_a - (i+1)| as integers, and the
    division by N happens once per ROW after the max (x -> x/N is
    monotone, so max commutes with it exactly)."""
    B, N = a_sorted.shape
    allv = np.concatenate([a_sorted, b_sorted], axis=1)
    order = np.argsort(allv, axis=1, kind="stable")
    vals = np.take_along_axis(allv, order, axis=1)
    cdf_a = np.cumsum(order < N, axis=1, dtype=np.int32)
    idx1 = np.arange(1, 2 * N + 1, dtype=np.int32)
    diff = np.abs(2 * cdf_a - idx1[None, :])
    valid = np.ones((B, 2 * N), dtype=bool)
    valid[:, :-1] = vals[:, 1:] != vals[:, :-1]
    return np.where(valid, diff, 0).max(axis=1).astype(np.float64) / N


def ecdf_distance_batch(ref_sorted: np.ndarray, tests_sorted: np.ndarray) -> np.ndarray:
    """Distance of one sorted reference (N,) against a batch of sorted
    candidates (B, N) — vectorized over the batch."""
    B, N = tests_sorted.shape
    return ecdf_distance_pairs(
        np.ascontiguousarray(np.broadcast_to(ref_sorted, (B, N))),
        tests_sorted)
