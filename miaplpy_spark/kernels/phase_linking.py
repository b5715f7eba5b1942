"""Phase-linking estimator kernels, re-derived as vectorized NumPy.

Semantics follow the reference's public kernel exports (studied, not
copied — the reference is Cython+LAPACK scalar loops; these are batched
NumPy):

- ``est_corr``            <- est_corr_cy, /root/reference/src/miaplpy/lib/utils.pyx:359-371
- ``evd_phase``           <- EVD_phase_estimation_cy, lib/utils.pyx:208-223
- ``emi_phase``           <- EMI_phase_estimation_cy, lib/utils.pyx:226-245
- ``regularize_matrix``   <- regularize_matrix_cy, lib/utils.pyx:489-521
- ``squeeze_images``      <- squeeze_images, lib/utils.pyx:470-487
- ``phase_linking_process``<- phase_linking_process_cy, lib/utils.pyx:523-600
- ``sequential_phase_linking`` <- sequential_phase_linking_cy, lib/utils.pyx:603-728
- ``datum_connect``       <- datum_connect_cy, lib/utils.pyx:732-796
- ``gam_pta``             <- gam_pta_c, lib/utils.pyx:1012-1029
- ``test_ps``             <- test_PS_cy, lib/utils.pyx:420-459

All hot paths also have ``*_batch`` variants operating on stacked
(B, N, ...) arrays — one LAPACK call per Arrow batch instead of one per
pixel (the design shift that buys the >=0.8 scaling efficiency target;
the reference loops per pixel, lib/utils.pyx:1110-1187).
"""

from __future__ import annotations

import numpy as np

try:  # raw LAPACK gufuncs: same routines np.linalg dispatches to,
    # but failed matrices come back NaN-filled (info > 0) instead of
    # one exception for the whole batch — the per-matrix status that
    # keeps the fallback paths batched (public NumPy, stable since 1.x)
    from numpy.linalg import _umath_linalg as _ul
except ImportError:  # pragma: no cover - fallback to scalar loops
    _ul = None

C64 = np.complex64
F32 = np.float32


def _cholesky_ok_batch(M: np.ndarray) -> np.ndarray:
    """(B, N, N) -> (B,) bool: per-matrix Cholesky success, via the
    SAME LAPACK potrf np.linalg.cholesky runs (identical pass/fail
    per matrix); failures are detected as NaN fill instead of a
    batch-wide exception. Inputs are finite by construction (gap-fill
    interpolates), so NaN in the factor <=> LAPACK info > 0.
    Without ``_umath_linalg`` each matrix is probed by np.linalg.cholesky
    (potrf in float64, which can flip a float32 matrix at the very edge
    of positive definiteness)."""
    if _ul is None:
        ok = np.ones(M.shape[0], dtype=bool)
        for b in range(M.shape[0]):
            try:
                np.linalg.cholesky(M[b])
            except np.linalg.LinAlgError:
                ok[b] = False
        return ok
    with np.errstate(invalid="ignore", divide="ignore", over="ignore"):
        L = _ul.cholesky_lo(M)
    return ~np.isnan(L).any(axis=(1, 2))


def inv_batch_status(A: np.ndarray):
    """Batched inverse with PER-MATRIX failure status: (inv, ok).
    Exactly-singular members (where np.linalg.inv would raise) come
    back NaN-filled with ok=False; everything else is bit-identical
    to np.linalg.inv (same LAPACK getrf/getri per matrix). Without
    ``_umath_linalg`` the same contract comes from a per-matrix
    np.linalg.inv loop (float64 input: bit-identical)."""
    if _ul is None:
        I = np.full(A.shape, np.nan, dtype=np.result_type(A.dtype, np.float32))
        ok = np.ones(A.shape[0], dtype=bool)
        for b in range(A.shape[0]):
            try:
                I[b] = np.linalg.inv(A[b])
            except np.linalg.LinAlgError:
                ok[b] = False
        return I, ok
    with np.errstate(invalid="ignore", divide="ignore", over="ignore"):
        I = _ul.inv(A)
    return I, ~np.isnan(I).any(axis=(1, 2))

# --------------------------------------------------------------------------
# correlation estimation
# --------------------------------------------------------------------------


def est_corr(ccg: np.ndarray) -> np.ndarray:
    """Sample correlation matrix of an (N, S) complex ensemble.

    C = Z Z^H / S, normalized to correlation by dividing by
    sqrt(|diag|) outer product (0-protected).
    """
    cov = (ccg @ ccg.conj().T) / ccg.shape[1]
    return cov2corr(cov)


def cov2corr(cov: np.ndarray) -> np.ndarray:
    v = np.sqrt(np.abs(np.diagonal(cov)))
    outer = np.multiply.outer(v, v)
    with np.errstate(divide="ignore", invalid="ignore"):
        corr = np.where(cov == 0, 0, cov / outer)
    return corr.astype(C64)


def est_corr_batch(Z: np.ndarray) -> np.ndarray:
    """Batched correlation: Z is (B, N, S) complex -> (B, N, N).

    One einsum/BLAS call for the whole Arrow batch.
    """
    B, N, S = Z.shape
    # batched cgemm (np.matmul), not einsum: einsum loops its own sum
    # while matmul dispatches to BLAS — measured 2.8x faster on
    # (60k, 10, 32) batches
    cov = (Z @ Z.conj().transpose(0, 2, 1)) / S
    d = np.sqrt(np.abs(np.einsum("bii->bi", cov)))
    outer = d[:, :, None] * d[:, None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        corr = np.where(cov == 0, 0, cov / outer)
    return corr.astype(C64)


# --------------------------------------------------------------------------
# eigen estimators
# --------------------------------------------------------------------------


def _rotate_to_ref(vec: np.ndarray) -> np.ndarray:
    """Rotate a complex vector so element 0 has zero phase (keeps
    magnitudes, matching the reference which multiplies by
    conj(exp(i*arg(v[0]))))."""
    x0 = np.exp(1j * np.angle(vec[..., 0]))
    return (vec * np.conj(x0)[..., None]).astype(C64)


def evd_phase(coh: np.ndarray) -> np.ndarray:
    """Max-eigenvector phase estimate (EVD)."""
    _, vecs = np.linalg.eigh(coh)
    return _rotate_to_ref(vecs[:, -1])


def evd_phase_batch(coh: np.ndarray) -> np.ndarray:
    """Batched EVD over complex64 (B, N, N) -> (B, N), bit-identical to
    the scalar evd_phase per member. A member whose eigh does not
    converge (np.linalg.eigh would raise for the whole batch) gets
    vec = ones, so it keeps its raw phase and gam_pta_batch reports its
    quality. Retrying it alone would not help: _eigh_vecs_batch_status
    already solves each member on its own, with the gufunc
    np.linalg.eigh runs or, without it, by a per-member np.linalg.eigh.

    The rotation follows evd_phase's precision, not _rotate_to_ref's
    complex64 batch arithmetic: there NumPy promotes the 0-d reference
    phasor to complex128, so the float32 angle is exponentiated and
    applied in complex128 before the one cast back."""
    vecs, ok = _eigh_vecs_batch_status(coh)
    vecs[~ok] = 1
    v = vecs[..., :, -1]
    x0 = np.exp(1j * np.angle(v[..., 0]).astype(np.float64))
    return (v * np.conj(x0)[..., None]).astype(C64)


def emi_phase(coh: np.ndarray, abscoh: np.ndarray) -> np.ndarray:
    """Min-eigenvector of inv(|Gamma|) ∘ Gamma (EMI, Ansari 2018)."""
    inv_abs = np.linalg.inv(abscoh.astype(np.float64))
    M = (inv_abs * coh).astype(C64)
    _, vecs = np.linalg.eigh(M)
    return _rotate_to_ref(vecs[:, 0])


def _eigh_vecs_batch_status(M: np.ndarray):
    """Batched Hermitian eigenvectors with PER-MATRIX convergence
    status: (vecs (B, N, N), ok (B,)). M is complex64; members where
    LAPACK heevd does not converge (np.linalg.eigh would raise for the
    whole batch) come back NaN-filled with ok=False, everything else
    is bit-identical to np.linalg.eigh (same gufunc, same complex128
    signature). Without ``_umath_linalg`` a failed batched eigh is
    redone per matrix."""
    if _ul is not None:
        with np.errstate(invalid="ignore", divide="ignore", over="ignore"):
            _, vecs = _ul.eigh_lo(M, signature="D->dD")
        vecs = vecs.astype(C64)
        return vecs, ~np.isnan(vecs).any(axis=(1, 2))
    ok = np.ones(M.shape[0], dtype=bool)
    try:
        return np.linalg.eigh(M)[1], ok
    except np.linalg.LinAlgError:
        vecs = np.full(M.shape, np.nan, dtype=C64)
        for b in range(M.shape[0]):
            try:
                vecs[b] = np.linalg.eigh(M[b])[1]
            except np.linalg.LinAlgError:
                ok[b] = False
        return vecs, ok


def emi_phase_batch_status(coh: np.ndarray, abscoh: np.ndarray):
    """Batched EMI with PER-MATRIX status: (vec (B, N), ok (B,)).
    Members whose |Γ| is singular to the float64 inverse or whose eigh
    does not converge (where np.linalg would raise for the WHOLE batch)
    come back with ok=False and undefined vec; the caller sends exactly
    those to evd_phase_batch (the reference's EVD fallback,
    lib/utils.pyx:538-551). Every other member gets the inverse and
    eigenvectors the scalar emi_phase computes (the same LAPACK calls
    per matrix)."""
    inv_abs, ok = inv_batch_status(abscoh.astype(np.float64))
    B, N = coh.shape[0], coh.shape[1]
    vec = np.empty((B, N), dtype=C64)
    if ok.any():
        M = (inv_abs[ok] * coh[ok]).astype(C64)
        vecs, converged = _eigh_vecs_batch_status(M)
        vec[ok] = _rotate_to_ref(vecs[..., :, 0])
        ok[np.flatnonzero(ok)[~converged]] = False
    return vec, ok


def regularize_matrix(M: np.ndarray, max_tries: int = 100):
    """Diagonal loading until Cholesky succeeds: add 1e-6, 2e-6, 4e-6...
    cumulatively (<=100 tries). Returns (status, N): status 0 = PD.
    """
    N = np.array(M, dtype=F32, copy=True)
    en = 1e-6
    for _ in range(max_tries):
        try:
            np.linalg.cholesky(N)
            return 0, N
        except np.linalg.LinAlgError:
            N[np.diag_indices_from(N)] += en
            en *= 2
    return 1, N


def regularize_matrix_batch(M: np.ndarray, max_tries: int = 100):
    """Batched regularization over (B, N, N).

    Fully batched loading loop with the scalar regularize_matrix's
    schedule: at most ``max_tries`` rounds, each one per-matrix
    Cholesky-status probe of the still-pending subset
    (_cholesky_ok_batch — the same LAPACK potrf, so the pass/fail
    criterion is identical) followed by one load of the members that
    failed it (1e-6, 2e-6, 4e-6... cumulative). A member still failing
    its ``max_tries``-th probe gets status 1 with ``max_tries`` loads
    applied, exactly as the scalar routine returns it.
    Real batches routinely need 1-3 loads for MOST members, so the
    old one-collective-probe-then-scalar-loop shape degenerated to
    per-matrix Python calls for nearly every group (~40% of the 1h
    kernel's CPU at bench scale); this loop costs a handful of
    batched potrf sweeps total. Returns (status (B,), out (B, N, N)).
    """
    B = M.shape[0]
    out = np.array(M, dtype=F32, copy=True)
    status = np.zeros(B, dtype=np.int32)
    pend = np.arange(B)
    diag = np.arange(M.shape[1])
    en = np.full(B, 1e-6, dtype=np.float64)
    for _ in range(max_tries):
        # the first round probes the whole batch in place (no copy)
        ok_p = _cholesky_ok_batch(out if pend.size == B else out[pend])
        pend, en = pend[~ok_p], en[~ok_p]
        if pend.size == 0:
            return status, out
        out[pend[:, None], diag[None, :], diag[None, :]] += \
            en[:, None].astype(F32)
        en *= 2
    status[pend] = 1
    return status, out


# --------------------------------------------------------------------------
# quality + squeeze (the partial-aggregate state of the rollup cascade)
# --------------------------------------------------------------------------


def gam_pta(ph_filt: np.ndarray, vec: np.ndarray) -> float:
    """Temporal coherence: 2/(n²−n) · Re Σ_{i<k} exp(i(φ_ik−(ψ_i−ψ_k)))."""
    ang = np.angle(vec)
    n = vec.shape[0]
    diff = ph_filt - (ang[:, None] - ang[None, :])
    iu = np.triu_indices(n, k=1)
    temp = np.exp(1j * diff[iu]).sum()
    return float(np.float32(temp.real * 2 / (n * n - n)))


def gam_pta_batch(ph_filt: np.ndarray, vec: np.ndarray) -> np.ndarray:
    """Batched quality over (B, N, N) phases and (B, N) vectors."""
    ang = np.angle(vec)
    diff = ph_filt - (ang[:, :, None] - ang[:, None, :])
    n = vec.shape[1]
    iu = np.triu_indices(n, k=1)
    temp = np.exp(1j * diff[:, iu[0], iu[1]]).sum(axis=1)
    return (temp.real * 2 / (n * n - n)).astype(F32)


def squeeze_images(x: np.ndarray, ccg: np.ndarray, step: int) -> np.ndarray:
    """Compress a mini-stack to ONE complex sample per ensemble member:
    out[s] = Σ_i ccg[i+step, s]·conj(v̂_i)/‖v̂‖ with v̂ the unit phasors
    of x[step:].
    """
    vm = np.exp(1j * np.angle(x[step:])).astype(C64)
    norm = np.sqrt(float(vm.shape[0]))
    return ((ccg[step:, :] * (vm.conj() / norm)[:, None]).sum(axis=0)).astype(C64)


def test_ps(coh_mat: np.ndarray, amplitude: np.ndarray):
    """PS (persistent-scatterer) shortcut test.

    Returns (quality, vec, amp_dispersion, lam1, lam2, top_percentage);
    quality==1 means "keep raw phase".
    """
    vals, vecs = np.linalg.eigh(coh_mat)
    s = np.sqrt(np.sum(np.abs(vals) ** 2))
    top_percentage = vals[-1] * 100.0 / s
    mean_amp = float(np.mean(amplitude))
    if mean_amp == 0:
        amp_dispersion = 1.0  # dead pixel: never a PS
    else:
        amp_dispersion = min(float(np.std(amplitude) / mean_amp), 1.0)
    n = coh_mat.shape[0]
    if top_percentage > 95 and amp_dispersion < 0.42:
        return 1.0, np.ones(n, dtype=C64), amp_dispersion, vals[-1], vals[-2], top_percentage
    vec = _rotate_to_ref(vecs[:, -1])
    quality = gam_pta(np.angle(coh_mat), vec)
    if quality == 1:
        quality = 0.95
    return quality, vec, amp_dispersion, vals[-1], vals[-2], top_percentage


def test_ps_batch(coh: np.ndarray, amplitude: np.ndarray):
    """Batched PS gate over (B, N, N) coherence + (B, N[, S]) amplitude.

    Same decision as the scalar ``test_ps`` (test_PS_cy,
    /root/reference/src/miaplpy/lib/utils.pyx:420-459): a group is a
    persistent scatterer when the top eigenvalue carries >95% of the
    eigen-spectrum norm AND the amplitude dispersion across dates is
    <0.42 — PS groups keep their raw phase (vec = ones, quality = 1).
    Returns (is_ps (B,) bool, amp_dispersion (B,), top_percentage (B,)).

    The eigendecomposition runs ONLY on groups passing an exact cheap
    prefilter: for Hermitian C, λmax <= max_i Σ_j |C_ij| (Gershgorin)
    and ||λ||₂ = ||C||_F, so Gershgorin_bound < 0.95·||C||_F proves
    top_percentage < 95 without eigvalsh. Random (non-PS) groups — the
    overwhelming majority — never pay the eig (measured ~8% of total
    kernel CPU before this filter). top_percentage is exact for
    prefilter-passing groups and the (over-)bound elsewhere; the
    is_ps decision is exact everywhere."""
    B, N = coh.shape[0], coh.shape[1]
    A = np.abs(coh)
    lam_ub = A.sum(axis=2).max(axis=1)             # Gershgorin
    fro = np.sqrt((A * A).sum(axis=(1, 2)))        # = ||λ||₂ exactly
    fro = np.maximum(fro, np.finfo(np.float64).tiny)
    top_pct = lam_ub * 100.0 / fro                 # upper bound
    cand = top_pct > 95.0
    if cand.any():
        vals = np.linalg.eigvalsh(coh[cand])       # ascending
        s = np.sqrt((np.abs(vals) ** 2).sum(axis=1))
        top_pct[cand] = (vals[:, -1] * 100.0
                         / np.maximum(s, np.finfo(np.float64).tiny))
    amp = amplitude.mean(axis=2) if amplitude.ndim == 3 else amplitude
    mean_amp = amp.mean(axis=1)
    std_amp = amp.std(axis=1)
    with np.errstate(divide="ignore", invalid="ignore"):
        disp = np.where(mean_amp == 0, 1.0,
                        np.minimum(std_amp / np.where(mean_amp == 0, 1.0,
                                                      mean_amp), 1.0))
    is_ps = (top_pct > 95) & (disp < 0.42)
    return is_ps, disp, top_pct


# --------------------------------------------------------------------------
# full per-group process + sequential cascade + datum connect
# --------------------------------------------------------------------------


def phase_linking_process(ccg_sample: np.ndarray, step: int, method: str,
                          squeeze: bool):
    """Dispatch est_corr -> {EMI|EVD with regularize-or-fallback} ->
    gam_pta quality -> optional squeeze.

    Returns (vec, squeezed_or_None, quality). EMI falls back to EVD
    when regularization fails or the estimator raises, as the reference
    does (lib/utils.pyx:538-551).
    """
    coh_mat = est_corr(ccg_sample)
    if method == "EMI":
        status, abscoh = regularize_matrix(np.abs(coh_mat))
        if status == 0:
            try:
                vec = emi_phase(coh_mat, abscoh)
            except np.linalg.LinAlgError:
                # passed the Cholesky probe but singular to float64
                # inv — same EVD downgrade as the reference's fallback
                # chain (lib/utils.pyx:538-551)
                vec = evd_phase(coh_mat)
        else:
            vec = evd_phase(coh_mat)
    else:
        vec = evd_phase(coh_mat)

    quality = gam_pta(np.angle(coh_mat), vec)
    if squeeze:
        return vec, squeeze_images(vec, ccg_sample, step), quality
    return vec, None, quality


def sequential_phase_linking(samples: np.ndarray, method: str,
                             mini_stack_size: int, total_num_mini_stacks: int):
    """Mini-stack cascade: chunk N dates into mini-stacks; each step
    phase-links [prior squeezed rows ‖ current chunk]; the last chunk
    absorbs the remainder. Returns (vec_refined, squeezed_images,
    mean quality) — the squeezed rows ARE the tier-carry state.
    """
    n_image, ns = samples.shape
    vec_refined = np.zeros(n_image, dtype=C64)
    squeezed = np.zeros((total_num_mini_stacks, ns), dtype=C64)
    quality = 0.0
    for sstep in range(total_num_mini_stacks):
        first = sstep * mini_stack_size
        last = n_image if sstep == total_num_mini_stacks - 1 else first + mini_stack_size
        if sstep == 0:
            mini = samples[first:last]
        else:
            mini = np.concatenate([squeezed[:sstep], samples[first:last]], axis=0)
        res, sq, q = phase_linking_process(mini.astype(C64), sstep, method, True)
        quality += q
        vec_refined[first:last] = res[sstep:]
        squeezed[sstep] = sq
    return vec_refined, squeezed, quality / total_num_mini_stacks


def datum_connect(squeezed_images: np.ndarray, vector_refined: np.ndarray,
                  mini_stack_size: int) -> np.ndarray:
    """Final adjustment: phase-link the squeezed-image matrix itself
    (EMI) and multiply each mini-stack segment by its datum phasor."""
    datum_shift = np.angle(
        phase_linking_process(squeezed_images, 0, "EMI", False)[0]
    )
    out = np.array(vector_refined, dtype=C64, copy=True)
    n = vector_refined.shape[0]
    k = datum_shift.shape[0]
    for step in range(k):
        first = step * mini_stack_size
        last = n if step == k - 1 else first + mini_stack_size
        out[first:last] = out[first:last] * np.exp(1j * datum_shift[step]).astype(C64)
    return out
