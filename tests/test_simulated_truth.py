"""Simulated-truth gate for the linked phase (the reference's own
Monte-Carlo validation recipe, kernels/simulation.py).

q30 and q44 certify the cascade's SQL-expressible scalars, and
test_rollup compares the batched kernel with the scalar port; neither
can catch an error both share. Here known phase histories go through
the real ``rollup_1h`` mapInArrow path and the linked phase is scored
against the truth.

Each window is one 1h mini-stack: T = 10 slots six days apart, a
constant phase rate of 0.02 rad/day, and S = 32 colored
complex-Gaussian samples per slot drawn from an exponential-decay
coherence matrix. The kernel sees phases only, so the draws' phases
ride the ``zphi`` lane.
"""

import numpy as np
import pandas as pd
import pytest

from miaplpy_spark.config import PHASE_LINKING_METHODS, EngineConfig
from miaplpy_spark.kernels import phase_linking as pl
from miaplpy_spark.kernels.simulation import (
    simulate_coherence_matrix_exponential,
    simulate_neighborhood_stack,
    wrap_phase,
)
from miaplpy_spark.operators.rollup import rollup_1h

T, S = 10, 32
DAYS = np.arange(T) * 6.0
RATE = 0.02                          # rad/day
GROUPS = 100                         # windows per (regime, seed)
SEEDS = (1, 2)
# regime: (gamma0, gammaf, decorrelation days, every window is a PS
# group). The kernel's ensemble is unit phasors, so the PS test's
# amplitude dispersion is 0 and the top-eigenvalue share alone decides:
# above 95% in every coherent window, below it in every decorrelating one
REGIMES = {"decorrelating": (0.6, 0.2, 12.0, False),
           "coherent": (0.95, 0.6, 50.0, True)}

# RMSE bounds (rad) to the truth, per (method, regime). Measured with
# the scalar port phase_linking_process on the same draws
# (test_scalar_port_meets_the_bounds), seeds 1 / 2:
#   EVD decorrelating 0.4032 / 0.4277, coherent 0.1186 / 0.1167
#   EMI decorrelating 0.4546 / 0.4636, coherent 0.1370 / 0.1410
# Each bound is the worse seed plus 0.02, rounded up to the next 0.01:
# room for the SHP filter, which interpolates the slots it excludes
# (+0.011 at most on these draws).
# A conjugate flip of the linked phase scores about 1.4.
BOUNDS = {("EVD", "decorrelating"): 0.45, ("EVD", "coherent"): 0.14,
          ("EMI", "decorrelating"): 0.49, ("EMI", "coherent"): 0.17}


def _draws(regime: str, seed: int) -> np.ndarray:
    """(GROUPS, T, S) float32 phases of independent simulated windows."""
    g0, gf, tau, _ = REGIMES[regime]
    C = simulate_coherence_matrix_exponential(DAYS, g0, gf, 0.0, RATE, tau)
    return np.stack([
        np.angle(simulate_neighborhood_stack(C, S, seed * 100_000 + g))
        for g in range(GROUPS)]).astype(np.float32)


def _rmse(linked: np.ndarray) -> float:
    # C[i, j] carries phase +RATE·(t_j − t_i), so the linked series
    # recovers the negative of the truth (as in test_kernels)
    err = wrap_phase(linked - linked[:, :1] + RATE * DAYS)
    return float(np.sqrt(np.mean(err ** 2)))


CASES = [(r, s) for r in REGIMES for s in SEEDS]


@pytest.fixture(scope="module")
def draws():
    return {case: _draws(*case) for case in CASES}


@pytest.fixture(scope="module")
def obs(spark, draws):
    """One string-free observation row per (window, slot); doc_key k
    is window k % GROUPS of case k // GROUPS, one hour each."""
    phi = np.concatenate([draws[c] for c in CASES])
    n = phi.shape[0]
    doc_key = np.repeat(np.arange(n, dtype=np.int64), T)
    pdf = pd.DataFrame({
        "doc_key": doc_key,
        "slot": np.tile(np.arange(T, dtype=np.int32), n),
        "bucket": (doc_key % 4).astype(np.int32),
        "n_tok": np.int32(S), "sum_tok": np.int64(0),
        "min_tok": np.int32(0), "max_tok": np.int32(0),
        "zphi": list(phi.reshape(n * T, S))})
    return spark.createDataFrame(
        pdf, "doc_key long, slot int, bucket int, n_tok int, sum_tok long, "
             "min_tok int, max_tok int, zphi array<float>")


@pytest.mark.parametrize("method", PHASE_LINKING_METHODS)
def test_scalar_port_meets_the_bounds(method, draws):
    """The bounds hold for the scalar port itself: every window linked
    on its own by phase_linking_process. Sparkless."""
    for regime, seed in CASES:
        z = np.exp(1j * draws[regime, seed]).astype(np.complex64)
        linked = np.stack([np.angle(pl.phase_linking_process(w, 0, method,
                                                             False)[0])
                           for w in z])
        assert _rmse(linked) < BOUNDS[method, regime], (regime, seed)


@pytest.mark.parametrize("ps_test", [False, True])
@pytest.mark.parametrize("shp_filter", [False, True])
@pytest.mark.parametrize("method", PHASE_LINKING_METHODS)
def test_linked_phase_recovers_the_truth(method, shp_filter, ps_test, obs):
    """The 1h tier's linked phase is within the method's bound of the
    simulated truth, in both regimes and for both seeds, with the SHP
    filter and the PS shortcut each off and on. A window the PS
    shortcut takes keeps its raw phase (linked phase 0, quality 1) and
    is left out of the RMSE."""
    cfg = EngineConfig(n_buckets=4, n_samples=S, method=method,
                       shp_filter=shp_filter, ps_test=ps_test)
    out = (rollup_1h(obs, cfg).select("doc_key", "linked_phase", "quality")
           .toPandas().sort_values("doc_key"))
    assert len(out) == len(CASES) * GROUPS
    linked = np.stack(out["linked_phase"].to_numpy()).astype(np.float64)
    quality = out["quality"].to_numpy()
    for i, (regime, seed) in enumerate(CASES):
        rows = slice(i * GROUPS, (i + 1) * GROUPS)
        is_ps = quality[rows] == 1.0
        assert (is_ps == (ps_test and REGIMES[regime][3])).all(), \
            (regime, seed)
        assert (linked[rows][is_ps] == 0).all()
        if not is_ps.all():
            assert _rmse(linked[rows][~is_ps]) < BOUNDS[method, regime], \
                (regime, seed)
