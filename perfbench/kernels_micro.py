"""Sparkless, single-threaded micro-timings of the NumPy kernels.

Each kernel is called through its public function at the batch shape
the `engine` and `lifecycle` workloads feed it:

- 1h windows: G x 10 slots x 32 samples, G = rows per Arrow batch / 10
- 1d windows: G x 24 hours x 32 samples, G = rows per Arrow batch / 24

where an Arrow batch holds the engine session's default record count.
- inversion: 48-hour docs, conn=3 pair network (138 pairs x 47 dates)
- codecs: one 24-point (doc, day) segment

Every entry reports the median seconds per call, the work count of one
call and the bytes it reads and writes, so a kernel-only change shows
without Spark noise. Inputs are derived from the seed.
"""

from __future__ import annotations

import inspect
import statistics
import time

import numpy as np

from miaplpy_spark.config import EngineConfig
from miaplpy_spark.kernels import codecs, gapfill, lstsq, phase_linking, shp
from miaplpy_spark.operators.network_inversion import sequential_pairs_idx
from miaplpy_spark.session import get_spark

SAMPLES = 32
HOURS_PER_DOC = 48
CONN = 3
BUDGET_S = 0.15             # timing budget per kernel (at least 5 calls)


def _phasors(rng: np.random.Generator, g: int, t: int) -> np.ndarray:
    """(g, t, SAMPLES) complex64 ensemble with a shared per-window phase
    history plus sample noise, like the token-derived ensembles."""
    base = rng.uniform(-np.pi, np.pi, (g, t, 1))
    phi = base + rng.normal(0.0, 0.6, (g, t, SAMPLES))
    return np.exp(1j * phi).astype(np.complex64)


def _window_cases(rng, tag: str, g: int, t: int) -> list[tuple]:
    """(name, fn, work, bytes) for the window kernels at (g, t)."""
    z = _phasors(rng, g, t)
    present = rng.random((g, t)) > 0.05
    present[:, t // 2] = True
    dense = z.real.copy()
    coh = phase_linking.est_corr_batch(z)
    status, abscoh = phase_linking.regularize_matrix_batch(
        np.abs(coh).astype(np.float32))
    ok = status == 0
    coh_ok, abs_ok = coh[ok], abscoh[ok]
    srt = np.sort(np.angle(z), axis=2).reshape(g * t, SAMPLES).astype(np.float32)
    ref = srt[0]
    amp = np.abs(z)
    absf = np.abs(coh).astype(np.float32)
    return [
        (f"gapfill.fill_dense_batch{tag}",
         lambda: gapfill.fill_dense_batch(dense, present),
         g, 2 * dense.nbytes + present.nbytes),
        (f"phase_linking.est_corr_batch{tag}",
         lambda: phase_linking.est_corr_batch(z),
         g, z.nbytes + coh.nbytes),
        (f"phase_linking.regularize_matrix_batch{tag}",
         lambda: phase_linking.regularize_matrix_batch(absf),
         g, 2 * absf.nbytes),
        (f"phase_linking.emi_phase_batch_status{tag}",
         lambda: phase_linking.emi_phase_batch_status(coh_ok, abs_ok),
         int(ok.sum()), coh_ok.nbytes + abs_ok.nbytes + coh_ok.shape[0] * t * 8),
        (f"phase_linking.test_ps_batch{tag}",
         lambda: phase_linking.test_ps_batch(coh, amp),
         g, coh.nbytes + amp.nbytes),
        (f"shp.ecdf_distance_batch{tag}",
         lambda: shp.ecdf_distance_batch(ref, srt),
         g * t, srt.nbytes + ref.nbytes + g * t * 8),
    ]


def _inversion_cases(rng, docs: int) -> list[tuple]:
    pairs = sequential_pairs_idx(HOURS_PER_DOC, CONN)
    A, _ = lstsq.design_matrices(pairs,
                                 np.arange(HOURS_PER_DOC, dtype=np.float64))
    # a slowly drifting phase history, as linked hourly phases are
    theta = np.cumsum(rng.normal(0.0, 0.3, (docs, HOURS_PER_DOC)), axis=1)
    i = np.array([p[0] for p in pairs])
    j = np.array([p[1] for p in pairs])
    Y = np.angle(np.exp(1j * (theta[:, j] - theta[:, i]))).T
    q = rng.uniform(0.2, 1.0, (docs, HOURS_PER_DOC))
    W = lstsq.coherence2weight_sqrt(np.sqrt(q[:, i] * q[:, j]).T, "var")
    out = HOURS_PER_DOC * docs * 8
    return [
        ("lstsq.estimate_timeseries_batch",
         lambda: lstsq.estimate_timeseries_batch(A, Y),
         docs, A.nbytes + Y.nbytes + out),
        ("lstsq.estimate_timeseries_wls_batch",
         lambda: lstsq.estimate_timeseries_wls_batch(A, Y, W),
         docs, A.nbytes + Y.nbytes + W.nbytes + out),
        ("lstsq.invert_l1_batch",
         lambda: lstsq.invert_l1_batch(A, Y),
         docs, A.nbytes + Y.nbytes + out),
    ]


def _codec_cases(rng, cfg: EngineConfig) -> list[tuple]:
    n = cfg.hours_per_day
    ts = cfg.epoch0 + cfg.hour_seconds * np.arange(n, dtype=np.int64)
    vals = rng.uniform(0.0, 1.0, n).round(3)
    ts_blob, val_blob = codecs.encode_dod(ts), codecs.encode_gorilla(vals)
    return [
        ("codecs.encode_dod", lambda: codecs.encode_dod(ts),
         n, ts.nbytes + len(ts_blob)),
        ("codecs.encode_gorilla", lambda: codecs.encode_gorilla(vals),
         n, vals.nbytes + len(val_blob)),
        ("codecs.decode_dod", lambda: codecs.decode_dod(ts_blob),
         n, ts.nbytes + len(ts_blob)),
        ("codecs.decode_gorilla", lambda: codecs.decode_gorilla(val_blob),
         n, vals.nbytes + len(val_blob)),
    ]


def _time_call(fn) -> tuple[float, int]:
    """Median seconds per call over as many calls as fit in BUDGET_S
    (at least 5), after one untimed call."""
    fn()
    times: list[float] = []
    end = time.perf_counter() + BUDGET_S
    while len(times) < 5 or time.perf_counter() < end:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), len(times)


def run(seed: int, groups: set[str]) -> list[dict]:
    """Time the kernels of the named groups ("window", "shp",
    "inversion", "codecs"); returns one row per kernel call shape."""
    cfg = EngineConfig(seed=seed)
    rng = np.random.default_rng(seed)
    batch = inspect.signature(get_spark).parameters["arrow_batch"].default
    g1h = batch // cfg.slots_per_hour
    g1d = batch // cfg.hours_per_day
    cases: list[tuple] = []
    if groups & {"window", "shp"}:
        for tag, g, t in (("", g1h, cfg.slots_per_hour),
                          ("_1d", g1d, cfg.hours_per_day)):
            # the SHP gate runs inside the 1h kernel only
            cases += [c for c in _window_cases(rng, tag, g, t)
                      if ("shp" if c[0].startswith("shp.") else "window")
                      in groups and not (tag and c[0].startswith("shp."))]
    if "inversion" in groups:
        cases += _inversion_cases(rng, batch // HOURS_PER_DOC)
    if "codecs" in groups:
        cases += _codec_cases(rng, cfg)
    rows = []
    for name, fn, work, nbytes in cases:
        sec, n = _time_call(fn)
        rows.append({"name": f"kernels.{name}_s", "seconds": sec,
                     "calls": n, "work": int(work), "bytes": int(nbytes)})
    return rows
