"""Monte-Carlo oracle generators (the engine's ground-truth harness).

Re-derivation of the reference's validation strategy
(/root/reference/src/miaplpy/simulation.py:100-198): synthesize a known
phase series, build an exponential-decay coherence matrix, draw colored
complex-Gaussian ensembles via the eigen-square-root, and check our
estimators recover the truth. All deterministic via explicit seeds.
"""

from __future__ import annotations

import numpy as np


def simulate_constant_vel_phase(n_img: int = 100, tmp_bl: int = 6):
    """Linear deformation truth: t in days (step tmp_bl), x = t/365."""
    t = np.arange(0, tmp_bl * n_img, tmp_bl)
    return t, t / 365.0


def simulate_coherence_matrix_exponential(
    t: np.ndarray,
    gamma0: float,
    gammaf: float,
    gamma_fading: float,
    vel_phase: float,
    decorr_days: float,
    vel_fading: float = 0.0,
    decorr_days_fading: float = 1e9,
) -> np.ndarray:
    """C[i,j] = ((γ0−γf)·exp(−|ti−tj|/τ)+γf)·exp(i·v·(tj−ti))
               + γ_fade·exp(−|ti−tj|/τ_fade)·exp(i·v_fade·(tj−ti)),
    Hermitian with unit diagonal."""
    dt = t[None, :] - t[:, None]  # dt[i,j] = t[j] - t[i]
    adt = np.abs(dt)
    factor1 = (gamma0 - gammaf) * np.exp(-adt / decorr_days) + gammaf
    factor2 = gamma_fading * np.exp(-adt / decorr_days_fading)
    C = factor1 * np.exp(1j * vel_phase * dt) + factor2 * np.exp(1j * vel_fading * dt)
    np.fill_diagonal(C, 1.0)
    return C.astype(np.complex64)


def coloring_matrix(corr_matrix: np.ndarray) -> np.ndarray:
    """Eigen square root of the coherence matrix (eigenvalues < 1e-3
    clamped to 0), used to color white complex Gaussian draws."""
    vals, vecs = np.linalg.eigh(corr_matrix)
    vals = np.where(vals < 1e-3, 0.0, vals)
    return (vecs @ np.diag(np.sqrt(vals)) @ vecs.conj().T).astype(np.complex64)


def simulate_neighborhood_stack(
    corr_matrix: np.ndarray, neighbor_samples: int = 300, seed: int = 42
) -> np.ndarray:
    """(N, S) complex ensemble: each column an independent colored draw."""
    rng = np.random.default_rng(seed)
    n = corr_matrix.shape[0]
    CM = coloring_matrix(corr_matrix)
    Zr = (rng.standard_normal((n, neighbor_samples))
          + 1j * rng.standard_normal((n, neighbor_samples))) / np.sqrt(2)
    return (CM @ Zr).astype(np.complex64)


def wrap_phase(x: np.ndarray) -> np.ndarray:
    """Rewrap to (−π, π]: angle(exp(i·x))."""
    return np.angle(np.exp(1j * x))
