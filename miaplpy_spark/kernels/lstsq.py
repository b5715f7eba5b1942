"""Network-inversion kernels: least-squares timeseries estimation from
pairwise observations.

Re-derivation (vectorized NumPy, no scipy) of the reference's
inversion stage:

- ``design_matrices``       <- get_design_matrix4timeseries,
  /root/reference/src/miaplpy/dev/ifgram_inversion_L1L2.py:309-375
- ``estimate_timeseries``   <- estimate_timeseries, :420-612
  (L2 via lstsq; weighted = scale rows by sqrt(w); assemble
  ts = cumsum(X·Δt) for velocity mode)
- ``estimate_timeseries_batch`` — the P3 trick made total: ONE lstsq
  solve for every pixel with no missing observations (the common
  case), scalar loop only for gappy pixels (:1268-1330)
- ``invert_l1``             <- invert_L1_norm (IRLS with Tikhonov
  smoothing), :378-417
- ``network_temporal_coherence`` <- calc_inv_quality, :677-749
"""

from __future__ import annotations

import numpy as np

try:  # raw LAPACK gufunc: same gesv np.linalg.solve runs, but
    # singular members NaN-fill instead of raising for the whole
    # batch — per-matrix status keeps IRLS fallbacks batched
    from numpy.linalg import _umath_linalg as _ul
except ImportError:  # pragma: no cover
    _ul = None


def solve_batch_status(A: np.ndarray, b: np.ndarray):
    """Batched vector-RHS solve with PER-MATRIX failure status:
    (x (B, N), ok (B,)). Exactly-singular members (where
    np.linalg.solve would raise) come back NaN-filled with ok=False;
    the rest are bit-identical to np.linalg.solve."""
    if _ul is None:
        try:
            return np.linalg.solve(A, b), np.ones(A.shape[0], bool)
        except np.linalg.LinAlgError:
            x = np.full(b.shape, np.nan)
            ok = np.zeros(A.shape[0], bool)
            for p in range(A.shape[0]):
                try:
                    x[p] = np.linalg.solve(A[p], b[p])
                    ok[p] = True
                except np.linalg.LinAlgError:
                    pass
            return x, ok
    with np.errstate(invalid="ignore", divide="ignore", over="ignore"):
        x = _ul.solve1(A, b)
    return x, ~np.isnan(x).any(axis=1)


def design_matrices(pairs: list[tuple[int, int]], tbase: np.ndarray):
    """A (incidence ±1) and B (velocity spans) matrices for a pair
    list over date indexes 1..N-1 (date 0 is the reference and is
    excluded, matching the reference's convention).

    A[k, :]: -1 at ref_idx-1, +1 at sec_idx-1 (0 row entries for
    index 0). B[k, j] = Δt over the spanned intervals.
    """
    n_date = tbase.shape[0]
    n_pair = len(pairs)
    A = np.zeros((n_pair, n_date - 1), dtype=np.float64)
    B = np.zeros((n_pair, n_date - 1), dtype=np.float64)
    for k, (i, j) in enumerate(pairs):
        if i > 0:
            A[k, i - 1] = -1.0
        if j > 0:
            A[k, j - 1] = 1.0
        B[k, i:j] = np.diff(tbase)[i:j]
    return A, B


def estimate_timeseries(A: np.ndarray, y: np.ndarray,
                        weight_sqrt: np.ndarray | None = None) -> np.ndarray:
    """Single-pixel L2 solve: phase increments X from pair obs y;
    weighted rows scaled by sqrt(w). Returns ts (n_date,) with ts[0]=0.
    """
    if weight_sqrt is not None:
        A = A * weight_sqrt[:, None]
        y = y * weight_sqrt
    X, *_ = np.linalg.lstsq(A, y, rcond=None)
    ts = np.zeros(A.shape[1] + 1, dtype=np.float64)
    ts[1:] = X
    return ts


def estimate_timeseries_batch(A: np.ndarray, Y: np.ndarray) -> np.ndarray:
    """All-valid fast path: Y is (n_pair, n_px); ONE pseudo-inverse
    application for the whole batch (the reference's vectorized
    whole-box solve, :1268-1299). Returns (n_date, n_px)."""
    X, *_ = np.linalg.lstsq(A, Y, rcond=None)
    ts = np.zeros((A.shape[1] + 1, Y.shape[1]), dtype=np.float64)
    ts[1:] = X
    return ts


def coherence2weight_sqrt(coh: np.ndarray, weight_func: str = "var",
                          L: int = 1, epsilon: float = 5e-2) -> np.ndarray:
    """Coherence -> sqrt(weight) (A20; the reference's calc_weight_sqrt,
    dev/ifgram_inversion_L1L2.py:969-1013, delegating to mintpy's public
    decorrelation.coherence2weight with the same epsilon=5e-2 clamp).

    - 'var': inverse phase variance from the Cramer-Rao bound,
      w = 2·L·γ² / (1 − γ²)  (1/σ²_CRLB)
    - 'fim': Fisher information measure — same functional form
    - 'coh': the coherence itself
    - 'no' : uniform (SBAS)
    """
    g = np.clip(np.asarray(coh, dtype=np.float64), epsilon, 1.0 - epsilon)
    if weight_func in ("var", "fim"):
        w = 2.0 * L * g * g / (1.0 - g * g)
    elif weight_func == "coh":
        w = g
    elif weight_func == "no":
        w = np.ones_like(g)
    else:
        raise ValueError(f"unknown weight_func {weight_func!r}")
    return np.sqrt(w)


def estimate_timeseries_wls_batch(A: np.ndarray, Y: np.ndarray,
                                  Wsqrt: np.ndarray) -> np.ndarray:
    """Per-pixel weighted L2 (the reference's WLS branch,
    dev/ifgram_inversion_L1L2.py:420-612) without the per-pixel loop:
    weights differ per pixel, so the single shared pseudo-inverse of
    the unweighted fast path no longer applies — instead solve the
    normal equations (AᵀW A) X = AᵀW y batched over pixels with one
    np.linalg.solve call.

    A (n_pair, n_date-1); Y, Wsqrt (n_pair, n_px). Returns
    (n_date, n_px) with ts[0] = 0."""
    Aw = A[None, :, :] * Wsqrt.T[:, :, None]        # (px, pair, date-1)
    Yw = (Y * Wsqrt).T[:, :, None]                  # (px, pair, 1)
    # batched dgemm, not einsum: the pki,pkj->pij contraction does not
    # dispatch to BLAS (measured 3.3x on the IRLS twin of this solve)
    AwT = Aw.transpose(0, 2, 1)
    AtA = AwT @ Aw
    Aty = (AwT @ Yw)[:, :, 0]
    # per-pixel status (solve_batch_status): only singular members
    # fall back to lstsq instead of the whole batch
    X, ok = solve_batch_status(AtA, Aty)            # (px, date-1)
    if not ok.all():
        for p in np.flatnonzero(~ok):
            X[p] = np.linalg.lstsq(Aw[p], Yw[p, :, 0], rcond=None)[0]
    ts = np.zeros((A.shape[1] + 1, Y.shape[1]), dtype=np.float64)
    ts[1:] = X.T
    return ts


def invert_l1_batch(R: np.ndarray, Y: np.ndarray, alpha: float = 0.01,
                    max_iter: int = 100, tol: float = 1e-3) -> np.ndarray:
    """Batched IRLS-L1 (invert_L1_norm, :378-417): same Tikhonov-
    smoothed iteration as the scalar ``invert_l1`` but with per-pixel
    diagonal weights and batched normal-equation solves — one
    np.linalg.solve per IRLS sweep for the ACTIVE pixels instead of a
    pinv per pixel per sweep. Converged pixels leave the working set
    entirely (matching the scalar early exit): each sweep's einsum/
    solve cost tracks the number of still-iterating pixels, so the
    whole batch costs O(sum of per-pixel sweep counts), not
    O(n_px x max_iter) — at bench scale (20k docs, conn=3, 48 h) this
    is the difference between ~49 s and a few seconds, because most
    series converge in a handful of sweeps while a tail runs long.
    Returns (n_x, n_px)."""
    n = R.shape[1]
    n_px = Y.shape[1]
    D = (np.diag(np.full(n, -2.0))
         + np.diag(np.ones(n - 1), 1) + np.diag(np.ones(n - 1), -1))
    G = np.vstack([R, alpha * D])                    # (m, n)
    d = np.vstack([Y, np.zeros((n, n_px))])          # (m, n_px)
    dT = d.T                                         # (px, m)

    def _solve(Wd, dTa):                             # (p, m), (p, m)
        Gw = G[None, :, :] * Wd[:, :, None]
        dw = dTa * Wd
        # batched dgemm (3.3x the einsum route at these shapes —
        # einsum's pki,pkj->pij contraction does not dispatch to BLAS)
        GwT = Gw.transpose(0, 2, 1)
        GtG = GwT @ Gw
        Gtd = (GwT @ dw[:, :, None])[:, :, 0]
        try:
            return np.linalg.solve(GtG, Gtd)         # (p, n)
        except np.linalg.LinAlgError:
            # IRLS weights can zero-out enough rows to make a pixel's
            # normal matrix singular; fall back to the scalar path's
            # pinv semantics for the whole sweep. Deliberately NOT the
            # per-pixel-status routing the WLS solve uses: measured at
            # bench scale, the whole-sweep QR solutions retire pixels
            # FASTER than cond²-normal-equation solves (active set
            # 2.4k vs 4.3k pixel-sweeps per bucket), so the "cheaper"
            # per-pixel fallback is a net kernel slowdown (0.70 ->
            # 0.91 s per bucket).
            return np.stack([np.linalg.lstsq(Gw[p], dw[p], rcond=None)[0]
                             for p in range(Gw.shape[0])])

    X0 = _solve(np.ones((n_px, G.shape[0])), dT)     # smoothed L2 start
    X = X0.copy()
    prev_res = np.abs(X @ G.T - dT)                  # (px, m)
    idx = np.arange(n_px)
    # any |x| beyond this is solver garbage, never phase: entries are
    # cumulative phase offsets, bounded by ~n*pi
    blowup = max(1e6, 1e3 * n)
    for _ in range(max_iter):
        pr = prev_res[idx]
        w = 1.0 / np.maximum(pr, 1e-8)
        w = w / w.max(axis=1, keepdims=True)
        Xa = _solve(w, dT[idx])
        # finite guard: with the 1e-8 relative weight floor, GtG's
        # condition can reach ~1e16 — np.linalg.solve then returns
        # inf/garbage WITHOUT raising (observed ~1/4000 docs at bench
        # scale, poisoning ts_series with NaN). Re-solve those pixels
        # with a safer floor; if still degenerate, keep the smoothed-L2
        # start and retire the pixel — IRLS refinement is meaningless
        # on a system this ill-conditioned.
        bad = (~np.isfinite(Xa).all(axis=1)
               | (np.abs(Xa).max(axis=1) > blowup))
        if bad.any():
            wr = np.maximum(w[bad], 1e-4)
            Xr = _solve(wr, dT[idx][bad])
            rbad = (~np.isfinite(Xr).all(axis=1)
                    | (np.abs(Xr).max(axis=1) > blowup))
            Xr[rbad] = X0[idx[bad][rbad]]
            Xa[bad] = Xr
        X[idx] = Xa
        res = np.abs(Xa @ G.T - dT[idx])
        still = (np.max(np.abs(res - pr), axis=1) > tol) & ~bad
        prev_res[idx] = res
        idx = idx[still]
        if idx.size == 0:
            break
    return X.T


def invert_l1(R: np.ndarray, y: np.ndarray, alpha: float = 0.01,
              max_iter: int = 100, tol: float = 1e-3) -> np.ndarray:
    """IRLS-L1 with Tikhonov smoothing: G = [R; α·D2], W from inverse
    residuals, iterate pinv solves until the max residual change is
    below tol (invert_L1_norm, :378-417)."""
    n = R.shape[1]
    D = (np.diag(np.full(n, -2.0))
         + np.diag(np.ones(n - 1), 1) + np.diag(np.ones(n - 1), -1))
    G = np.vstack([R, alpha * D])
    d = np.concatenate([y, np.zeros(n)])
    W = np.eye(G.shape[0])
    x = np.linalg.pinv(W @ G) @ (W @ d)
    prev_res = np.abs(G @ x - d)
    for _ in range(max_iter):
        w = 1.0 / np.maximum(prev_res, 1e-8)
        W = np.diag(w / w.max())
        x = np.linalg.pinv(W @ G) @ (W @ d)
        res = np.abs(G @ x - d)
        if np.max(np.abs(res - prev_res)) <= tol:
            break
        prev_res = res
    return x


def network_temporal_coherence(A: np.ndarray, ts_incr: np.ndarray,
                               Y: np.ndarray) -> np.ndarray:
    """Inversion quality: |Σ_k exp(i·(y_k − (A·X)_k))| / n_pair per
    pixel (calc_inv_quality, :677-749). ts_incr is (n_date-1, n_px)."""
    e = Y - A @ ts_incr
    return np.abs(np.exp(1j * e).sum(axis=0)) / A.shape[0]
