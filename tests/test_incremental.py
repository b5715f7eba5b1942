"""Incremental-extension tests (T4): new slot arrivals extend tiers;
closed windows are not recomputed; the final tables equal a
from-scratch run over the full data."""

import os

import pyspark.sql.functions as F
import pytest

from miaplpy_spark.config import EngineConfig, ScaleSpec
from miaplpy_spark.datagen import generate_sequences, prepare_observations
from miaplpy_spark.operators.cascade import (
    run_cascade_incremental,
)
from miaplpy_spark.operators.rollup import rollup_1d, rollup_1h
from miaplpy_spark.sources.catalog import TierStore

CFG = EngineConfig(n_buckets=2, n_samples=8)
SPEC = ScaleSpec(n_docs=4, n_slots=480, tok_lo=8, tok_hi=16,
                 tok_heavy_lo=24, tok_heavy_hi=32)


def _fp(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_incremental_equals_full(spark, workdir):
    raw = prepare_observations(generate_sequences(spark, SPEC, CFG), CFG)
    first = raw.where(F.col("slot") < 250)   # 25 hours, day 1 open
    store = TierStore(os.path.join(workdir, "inc"))

    m1 = run_cascade_incremental(spark, first, store, CFG)
    assert m1["raw->1h"]["recomputed_from_hour"] == 0
    h1 = store.read(spark, "rollup_1h")
    assert h1.agg(F.max("hour_idx")).collect()[0][0] == 24

    # arrival of the remaining slots: only hours >= watermark recompute
    m2 = run_cascade_incremental(spark, raw, store, CFG)
    assert m2["raw->1h"]["recomputed_from_hour"] == 24
    assert m2["1h->1d"]["recomputed_from_day"] == 1

    # equality with a from-scratch run
    inc_1h = store.read(spark, "rollup_1h")
    inc_1d = store.read(spark, "rollup_1d")
    full_1h = rollup_1h(raw, CFG)
    full_1d = rollup_1d(full_1h, CFG, assume_partitioned=True)
    key_h = ["doc_id", "hour_idx", "n_obs", "n_filled", "sum_tok"]
    key_d = ["doc_id", "day_idx", "n_hours", "n_obs", "sum_tok"]
    assert _fp(inc_1h, key_h) == _fp(full_1h, key_h)
    assert _fp(inc_1d, key_d) == _fp(full_1d, key_d)
    # quality values agree too (same kernel over same windows)
    q_inc = {(r["doc_id"], r["hour_idx"]): round(r["quality"], 5)
             for r in inc_1h.select("doc_id", "hour_idx", "quality").collect()}
    q_full = {(r["doc_id"], r["hour_idx"]): round(r["quality"], 5)
              for r in full_1h.select("doc_id", "hour_idx", "quality").collect()}
    assert q_inc == q_full
