"""Network inversion operator: per-doc pairwise phase network ->
least-squares time series (the reference's final pipeline stage,
network_inversion.py -> dev/ifgram_inversion_L1L2.py, grafted onto the
hourly tier).

Graft: the per-pixel stack of unwrapped interferograms becomes, per
doc, the sequential pair network over its hourly linked phases
(connNum=3 banded pairs, J1 semantics); the design matrix is built
ONCE on the driver and captured in the kernel closure (constant
hoisting P7, the reference builds it once at :1466); the solve batches
every doc with the same window count through one lstsq (P3's
vectorized whole-box fast path).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..config import EngineConfig
from ..kernels.lstsq import (
    coherence2weight_sqrt,
    design_matrices,
    estimate_timeseries_batch,
    estimate_timeseries_wls_batch,
    invert_l1_batch,
    network_temporal_coherence,
)
from .rollup import (_emit, _extract, _group_change, _pa_schema, _strings,
                     _window_change, carry_groups, doc_bucket, with_doc_keys)

INVERSION_SCHEMA = (
    "doc_id string, source string, bucket int, n_hours int, "
    "hours array<int>, ts_series array<float>, inv_quality float"
)
# ``hours`` carries the hour_idx each ts_series entry refers to — the
# output is self-describing (a reader never re-derives coverage from
# the 1h tier, which may have aged since) and it is what lets
# cascade.merge_timeseries_history splice a hot-window re-solve onto
# checkpointed history exactly (union on hours + datum connect).


def sequential_pairs_idx(n: int, conn: int = 3) -> list[tuple[int, int]]:
    """J1 banded pair network over window indexes 0..n-1."""
    return [(i, j) for i in range(n) for j in range(i + 1, min(i + conn + 1, n))]


def invert_network(df_1h: DataFrame, cfg: EngineConfig = EngineConfig(),
                   conn: int = 3, method: str = "L2",
                   l1_alpha: float = 0.01) -> DataFrame:
    """hourly tier -> per-doc inverted time series + network temporal
    coherence. One exchange (by bucket); per-doc phase series assembled
    in the kernel; docs sharing a window count solve in one batch.

    ``method``: 'L2' (shared-pseudo-inverse fast path), 'WLS'
    (coherence-weighted least squares: per-pair weight from the two
    windows' quality via the Fisher-information mapping
    coherence2weight_sqrt — calc_weight_sqrt,
    dev/ifgram_inversion_L1L2.py:969-1013 + :420-612), or 'L1'
    (batched IRLS with Tikhonov smoothing, invert_L1_norm :378-417).
    """
    if method not in ("L2", "WLS", "L1"):
        raise ValueError(f"unknown inversion method {method!r}")
    theta = F.atan2(
        F.aggregate(F.transform("linked_phase", lambda x: F.sin(x)),
                    F.lit(0.0), lambda a, x: a + x),
        F.aggregate(F.transform("linked_phase", lambda x: F.cos(x)),
                    F.lit(0.0), lambda a, x: a + x))
    keyed = with_doc_keys(df_1h)
    # the OUTPUT bucket is re-derived doc-pure (hash of doc_id, the
    # un-salted bucketing) rather than passed through from the input:
    # under salt_by_day a doc's hourly rows span (doc, day) buckets,
    # and carrying the first row's salted bucket would make the
    # timeseries partitions doc-impure — breaking per-bucket
    # checkpoint resume. With salting off this is identical to the
    # input bucket by construction.
    slim = keyed.select(
        "doc_id", "doc_key", "source", doc_bucket(cfg).alias("bucket"),
        "hour_idx",
        theta.cast("double").alias("theta"),
        F.col("quality").cast("double").alias("q"))

    out_schema = _pa_schema(INVERSION_SCHEMA)
    num_cols = ["doc_key", "hour_idx", "bucket", "theta", "q"]

    def process(region: pa.RecordBatch) -> pa.RecordBatch | None:
        num = _extract(region, num_cols, {})
        dk = num["doc_key"]
        hr = num["hour_idx"]
        t = num["theta"]
        q = num["q"]
        starts = np.flatnonzero(_group_change(dk))
        ends = np.append(starts[1:], dk.shape[0])

        by_n: dict[int, list[int]] = {}
        for g, (s, e) in enumerate(zip(starts, ends)):
            by_n.setdefault(int(e - s), []).append(g)

        out_g, out_n, out_ts, out_q, out_h = [], [], [], [], []
        for n, groups in by_n.items():
            if n < 2:
                continue
            pairs = sequential_pairs_idx(n, conn)
            I = np.fromiter((i for i, _ in pairs), dtype=np.int64)
            J = np.fromiter((j for _, j in pairs), dtype=np.int64)
            A, _ = design_matrices(pairs, np.arange(n, dtype=np.float64))
            gidx = np.asarray(groups)
            pos = starts[gidx][:, None] + np.arange(n)[None, :]  # (D, n)
            series = t[pos]
            # same-row pairwise diffs, rewrapped — index arrays, no loop
            Y = np.angle(np.exp(1j * (series[:, J] - series[:, I]))).T
            if method == "WLS":
                qs = np.clip(q[pos], 0.0, 1.0)
                gamma = np.sqrt(qs[:, I] * qs[:, J]).T   # (pairs, D)
                Wsqrt = coherence2weight_sqrt(gamma, "var")
                ts = estimate_timeseries_wls_batch(A, Y, Wsqrt)
            elif method == "L1":
                X = invert_l1_batch(A, Y, alpha=l1_alpha)
                ts = np.zeros((n, Y.shape[1]), dtype=np.float64)
                ts[1:] = X
            else:
                ts = estimate_timeseries_batch(A, Y)
            qv = network_temporal_coherence(A, ts[1:], Y)
            out_g.append(gidx)
            out_n.append(np.full(gidx.shape[0], n, dtype=np.int32))
            out_ts.append(ts.T.astype(np.float32))   # (D, n)
            out_h.append(hr[pos].astype(np.int32))   # (D, n) coverage
            out_q.append(qv.astype(np.float32))
        if not out_g:
            return None
        gsel = np.concatenate(out_g)
        n_hours = np.concatenate(out_n)
        offsets = np.concatenate([[0], np.cumsum(n_hours)]).astype(np.int32)
        flat = np.concatenate([m.reshape(-1) for m in out_ts])
        flat_h = np.concatenate([m.reshape(-1) for m in out_h])
        g_starts = starts[gsel]
        return _emit({
            **_strings(region, g_starts),
            "bucket": num["bucket"][g_starts],
            "n_hours": n_hours,
            "hours": pa.ListArray.from_arrays(pa.array(offsets),
                                              pa.array(flat_h)),
            "ts_series": pa.ListArray.from_arrays(pa.array(offsets),
                                                  pa.array(flat)),
            "inv_quality": np.concatenate(out_q),
        }, out_schema)

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # input is shuffle-sorted by (doc_key, hour_idx), so carry_groups
        # holds only the trailing — possibly incomplete — doc group
        # between Arrow batches. Per-worker memory is O(one Arrow batch
        # + one doc series), NOT O(partition): with few buckets and
        # many docs the old accumulate-the-partition shape was the one
        # kernel that could OOM a worker at 100x scale.
        for region in carry_groups(batches, _window_change(["doc_key"])):
            out = process(region)
            if out is not None:
                yield out

    # partition by doc_key (not bucket): the inversion groups WHOLE
    # docs, and under salt_by_day a doc's hourly rows span buckets.
    # The in-partition sort moves the ordering work into the shuffle
    # sorter so the kernel can stream with a bounded carry.
    #
    # Partition COUNT is the cluster's parallelism, not the
    # tier-layout constant n_buckets: this stage is a streaming map
    # with O(arrow-batch) worker memory (batch-carry), so larger
    # partitions cost nothing, while every extra partition pays a
    # fixed Python-runner round-trip — at bench scale 128 partitions
    # of 7.5k rows spent more on per-task setup than on the solve
    # (L2 ingress 1.97 -> 0.85 s at 32 = defaultParallelism). Fewer,
    # larger shuffle blocks is also the scale-out direction (guide
    # §2.2); doc_key hashing spreads docs uniformly.
    sc = df_1h.sparkSession.sparkContext
    return (slim.repartition(sc.defaultParallelism, "doc_key")
                .sortWithinPartitions("doc_key", "hour_idx")
                .mapInArrow(kernel, INVERSION_SCHEMA))
