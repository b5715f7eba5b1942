"""Fused raw -> (1h + 1d) cascade: both tiers from ONE Arrow pass.

The pipelined cascade ships every 1h row across the JVM<->Python
boundary twice (out of the 1h kernel, into the 1d kernel). Measured in
this sandbox, that worker-boundary transfer is the dominant
non-scaling cost (BENCH/BASELINE.md). The fused kernel keeps the
hourly intermediates as in-process NumPy and emits BOTH tiers through
a single superset-schema stream with a ``tier`` discriminator column;
callers split with two filters (after a persist, for dual writes).

The window math is rollup's ``hour_windows`` and ``day_windows``, the
same functions the tiered cascade runs; here the day pass reads the
in-process hour arrays instead of a second worker channel. Carry
(``carry_groups``) is held at DAY boundaries (a (doc, day) block = up
to 240 raw rows), so every emitted region contains only complete days.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..config import EngineConfig
from .rollup import (
    _emit,
    _extract,
    _pa_schema,
    _strings,
    _window_change,
    carry_groups,
    day_windows,
    hour_windows,
    with_doc_keys,
)

FUSED_SCHEMA = (
    "tier string, doc_id string, doc_key long, source string, bucket int, "
    "hour_idx int, day_idx int, n_obs int, n_filled int, sum_tok long, "
    "min_tok int, max_tok int, mean_ntok double, linked_phase array<float>, "
    "squeezed array<float>, quality float, n_hours int, "
    "mean_quality_1h double, quality_1d float, datum_shift array<float>, "
    "adjusted_phase array<float>"
)


def make_fused_kernel(cfg: EngineConfig, tok_col: str = "zphi"):
    out_schema = _pa_schema(FUSED_SCHEMA)
    num_cols = ["doc_key", "slot", "bucket", "n_tok", "sum_tok",
                "min_tok", "max_tok"]
    list_cols = {tok_col: (cfg.n_samples,
                           np.int16 if tok_col == "ztok" else np.float32)}
    change = _window_change(["doc_key"], "slot", cfg.slots_per_day)

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for region in carry_groups(batches, change):
            starts, hr = hour_windows(_extract(region, num_cols, list_cols),
                                      cfg)
            strs = _strings(region, starts)
            yield _emit({"tier": pa.repeat("1h", len(starts)), **hr, **strs,
                         "day_idx": hr["hour_idx"] // cfg.hours_per_day},
                        out_schema)
            # daily tier from the in-process hourly arrays
            starts_d, dy = day_windows(hr, cfg)
            idx = pa.array(starts_d)
            yield _emit({"tier": pa.repeat("1d", len(starts_d)), **dy,
                         **{c: a.take(idx) for c, a in strs.items()}},
                        out_schema)

    return kernel


def rollup_cascade_fused(obs: DataFrame, cfg: EngineConfig = EngineConfig(),
                         num_partitions: int | None = None) -> DataFrame:
    """One exchange, one Python pass, both tiers. Split downstream:
    ``fused.filter("tier = '1h'")`` / ``filter("tier = '1d'")`` (persist
    first when writing both)."""
    p = num_partitions or cfg.n_buckets
    if cfg.wide_doc_key:
        # the fused single-pass variant is the measured-slower
        # experiment (BENCH r3: 997k vs 1.05M pts/s) kept for study;
        # 128-bit keys are wired through the default tiered path +
        # inversion only. Fail loudly rather than silently grouping
        # on the narrow key.
        raise ValueError("wide_doc_key is not supported by the fused "
                         "cascade; use the default tiered path")
    obs = with_doc_keys(obs, cfg)
    tok_col = "ztok" if "ztok" in obs.columns else "zphi"
    obs = obs.select("doc_id", "source", "doc_key", "slot", "bucket",
                     "n_tok", "sum_tok", "min_tok", "max_tok", tok_col)
    out = (obs.repartition(p, "bucket")
              .sortWithinPartitions("doc_key", "slot")
              .mapInArrow(make_fused_kernel(cfg, tok_col), FUSED_SCHEMA))
    return out.withColumn(
        "hour_ts",
        F.when(F.col("tier") == "1h", F.timestamp_seconds(
            F.lit(cfg.epoch0) + F.col("hour_idx").cast("long") * cfg.hour_seconds))
    ).withColumn(
        "day_ts",
        F.timestamp_seconds(F.lit(cfg.epoch0)
                            + F.col("day_idx").cast("long") * cfg.day_seconds))
