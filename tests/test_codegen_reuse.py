"""A repeated lifecycle cycle compiles no generated code: every class
the cycle needs stays in Spark's codegen cache
(session.CODEGEN_CACHE_MAX_ENTRIES), and no per-run value (a checkpoint
timestamp, a snapshot id) is inlined into the generated Java, where
each new value would cost a fresh compile and JIT."""

import os

from miaplpy_spark.config import EngineConfig, ScaleSpec
from miaplpy_spark.datagen import generate_sequences, prepare_observations
from miaplpy_spark.operators.cascade import (inversion_lineage,
                                             restamp_inversion_checkpoints,
                                             run_cascade, run_inversion_step)
from miaplpy_spark.operators.compress import apply_retention_1h
from miaplpy_spark.sources.catalog import TierStore

CFG = EngineConfig(n_buckets=2, n_samples=8)
SPEC = ScaleSpec(n_docs=4, n_slots=480, tok_lo=8, tok_hi=16,
                 tok_heavy_lo=32, tok_heavy_hi=48)


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _cycle(spark, seq_path: str, warehouse: str) -> int:
    """cascade -> invert -> retention (the newest of the two days stays
    hot) -> restamp on an empty warehouse; returns buckets restamped."""
    store = TierStore(warehouse)
    obs = prepare_observations(spark.read.parquet(seq_path), CFG)
    run_cascade(spark, obs, store, CFG, input_id="codegen")
    run_inversion_step(spark, store, CFG, input_id="codegen")
    pre = inversion_lineage(spark, store, CFG, input_id="codegen")
    apply_retention_1h(spark, store, 1, CFG)
    return restamp_inversion_checkpoints(spark, store, CFG, pre,
                                         input_id="codegen")


def test_second_lifecycle_cycle_compiles_nothing(spark, workdir):
    seq = os.path.join(workdir, "sequences")
    generate_sequences(spark, SPEC, CFG, with_tokens=False).write.parquet(seq)
    assert _cycle(spark, seq, os.path.join(workdir, "a")) == CFG.n_buckets

    before = _compiles(spark)
    assert _cycle(spark, seq, os.path.join(workdir, "b")) == CFG.n_buckets
    assert _compiles(spark) - before == 0
