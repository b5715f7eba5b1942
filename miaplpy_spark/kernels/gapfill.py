"""Gap-fill interpolation over missing window slots.

Net-new vs the reference (its gap handling drops NaN observation rows
per pixel, /root/reference/src/miaplpy/dev/ifgram_inversion_L1L2.py:
653-674; the north rule instead requires linear interpolation over
missing windows inside the rollup UDF).
"""

from __future__ import annotations

import numpy as np


def fill_dense_batch(dense: np.ndarray, present: np.ndarray) -> np.ndarray:
    """Vectorized linear gap-fill across a whole batch of windows.

    dense: (G, T) or (G, T, K) float array with garbage at ~present.
    present: (G, T) bool. Interior gaps are linearly interpolated from
    the nearest present slots; edge gaps extend the nearest value.
    All-NumPy, no per-group Python loop (the point: one Arrow batch =
    thousands of windows = a handful of ufunc sweeps).
    """
    G, T = present.shape
    t = np.arange(T)
    # index of previous present slot (-1 if none), next present (T if none)
    prev = np.maximum.accumulate(np.where(present, t[None, :], -1), axis=1)
    nxt = np.minimum.accumulate(
        np.where(present, t[None, :], T)[:, ::-1], axis=1
    )[:, ::-1]
    g = np.arange(G)[:, None]
    vprev = dense[g, np.clip(prev, 0, T - 1)]
    vnxt = dense[g, np.clip(nxt, 0, T - 1)]
    span = (nxt - prev).astype(np.float64)
    w = np.where(span > 0, (t[None, :] - prev) / np.maximum(span, 1), 0.0)
    has_prev, has_next = prev >= 0, nxt < T
    if dense.ndim == 3:
        w = w[:, :, None]
        has_prev = has_prev[:, :, None]
        has_next = has_next[:, :, None]
        pres = present[:, :, None]
    else:
        pres = present
    both = has_prev & has_next
    interp = np.where(both, vprev * (1 - w) + vnxt * w,
                      np.where(has_prev, vprev, vnxt))
    return np.where(pres, dense, interp)
