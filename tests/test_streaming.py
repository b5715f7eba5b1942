"""Structured Streaming tier tests: the foreachBatch MERGE path
(SURVEY.md §2.10 T3/T4 semantics). Each arrival is picked up by a new
availableNow drain on the same checkpoint dir, the restart path the
lifecycle CLI takes."""

import os

import pyspark.sql.functions as F
import pytest

from miaplpy_spark.config import EngineConfig, ScaleSpec
from miaplpy_spark.datagen import generate_sequences, prepare_observations
from miaplpy_spark.sources.catalog import TierStore
from miaplpy_spark.streaming.rollup_stream import stream_rollup_1h

CFG = EngineConfig(n_buckets=2, n_samples=8)
SPEC = ScaleSpec(n_docs=3, n_slots=40, tok_lo=8, tok_hi=16,
                 tok_heavy_lo=24, tok_heavy_hi=32)


def _drain(spark, glob, schema, store, ckpt, max_files=None, **kw):
    """One availableNow drain of the parquet files under ``glob``."""
    reader = spark.readStream.schema(schema).option("pathGlobFilter",
                                                     "*.parquet")
    if max_files:
        reader = reader.option("maxFilesPerTrigger", str(max_files))
    q = stream_rollup_1h(prepare_observations(reader.parquet(glob), CFG),
                         store, CFG, checkpoint_dir=ckpt, **kw)
    try:
        assert q.awaitTermination(300), "drain did not finish"
    finally:
        q.stop()


@pytest.fixture()
def slices(spark, workdir):
    """Two arrival slices of the same sequences table (slots 0-19 then
    20-39) written as parquet for the file stream source."""
    raw = generate_sequences(spark, SPEC, CFG).cache()
    src = os.path.join(workdir, "arrivals")
    os.makedirs(src)
    first = raw.where(F.col("slot") < 20)
    second = raw.where(F.col("slot") >= 20)
    first.write.parquet(os.path.join(src, "slice=0"))
    schema = raw.schema
    raw.unpersist()
    return src, first, second, schema


def test_stream_rollup_foreachbatch(spark, slices, workdir):
    src, first, second, schema = slices
    store = TierStore(os.path.join(workdir, "tiers"))
    ckpt = os.path.join(workdir, "ckpt")
    _drain(spark, src + "/slice=*", schema, store, ckpt)
    out = store.read(spark, "rollup_1h_stream")
    # slots 0..19 -> hours 0,1 per doc
    assert out.count() == 3 * 2
    assert set(r["hour_idx"] for r in out.select("hour_idx").collect()) == {0, 1}
    # second micro-batch (slots 20-39) must EXTEND the tier, not
    # erase the first micro-batch's hours in the same buckets
    second.write.parquet(os.path.join(src, "slice=1"))
    _drain(spark, src + "/slice=*", schema, store, ckpt)
    out = store.read(spark, "rollup_1h_stream")
    assert out.count() == 3 * 4
    assert (set(r["hour_idx"] for r in out.select("hour_idx").collect())
            == {0, 1, 2, 3})


def test_stream_cascade_1d_equals_batch_tier(spark, workdir):
    """Round-4 VERDICT item 7: the streaming 1h->1d leg. After the
    backlog drains (mid-hour file splits, one file per trigger), the
    streamed rollup_1d_stream tier must equal the BATCH 1d tier over
    the full input, scalar-for-scalar — the per-day recompute from the
    complete 1h rows converges exactly like the hourly leg."""
    raw = generate_sequences(spark, SPEC, CFG).cache()
    src = os.path.join(workdir, "arrivals3")
    os.makedirs(src)
    raw.where(F.col("slot") < 15).write.parquet(os.path.join(src, "s=0"))
    schema = raw.schema
    store = TierStore(os.path.join(workdir, "tiers3"))
    ckpt = os.path.join(workdir, "ckpt3")
    cols = ["doc_id", "day_idx", "n_hours", "n_obs", "sum_tok",
            "min_tok", "max_tok"]
    _drain(spark, src + "/s=*", schema, store, ckpt, max_files=1)
    raw.where(F.col("slot") >= 15).write.parquet(os.path.join(src, "s=1"))
    _drain(spark, src + "/s=*", schema, store, ckpt, max_files=1)
    got = {tuple(r) for r in store.read(spark, "rollup_1d_stream")
           .select(*cols).collect()}
    from miaplpy_spark.operators.rollup import rollup_1d, rollup_1h
    obs = prepare_observations(raw, CFG)
    exp = {tuple(r) for r in rollup_1d(rollup_1h(obs, CFG), CFG)
           .select(*cols).collect()}
    raw.unpersist()
    assert got == exp


def test_staging_partitioned_and_pruned(spark, workdir):
    """Staging is laid out as stage_hour=N partitions; with
    staging_keep_hours the closed hours' directories are aged away
    while the tier stays exact — staging no longer grows with stream
    lifetime."""
    raw = generate_sequences(spark, SPEC, CFG).cache()
    src = os.path.join(workdir, "arr_prune")
    os.makedirs(src)
    raw.where(F.col("slot") < 20).write.parquet(os.path.join(src, "s=0"))
    store = TierStore(os.path.join(workdir, "tiers_prune"))
    ckpt = os.path.join(workdir, "ck_prune")
    _drain(spark, src + "/s=*", raw.schema, store, ckpt,
           staging_keep_hours=1)
    raw.where(F.col("slot") >= 20).write.parquet(os.path.join(src, "s=1"))
    _drain(spark, src + "/s=*", raw.schema, store, ckpt,
           staging_keep_hours=1)
    staging = store.path("stream_staging")
    parts = sorted(p for p in os.listdir(staging)
                   if p.startswith("stage_hour="))
    # after hours 2,3 arrive with keep=1, hours < 2 are gone
    assert parts == ["stage_hour=2", "stage_hour=3"], parts
    out = store.read(spark, "rollup_1h_stream")
    assert out.count() == 3 * 4   # tier still complete and exact
    raw.unpersist()


def test_late_arrival_below_prune_boundary_raises(spark, workdir):
    """A replay touching an hour whose staging was aged away must fail
    loudly — recomputing that hour from partial rows would overwrite a
    complete tier window."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    raw = generate_sequences(spark, SPEC, CFG).cache()
    src = os.path.join(workdir, "arr_late")
    os.makedirs(src)
    raw.where(F.col("slot") >= 20).write.parquet(os.path.join(src, "s=0"))
    store = TierStore(os.path.join(workdir, "tiers_late"))
    ckpt = os.path.join(workdir, "ck_late")
    # hours 2,3 processed, boundary -> 3
    _drain(spark, src + "/s=*", raw.schema, store, ckpt,
           staging_keep_hours=0)
    raw.where(F.col("slot") < 10).write.parquet(os.path.join(src, "s=1"))
    with pytest.raises(StreamingQueryException,
                       match="below the pruned staging boundary"):
        _drain(spark, src + "/s=*", raw.schema, store, ckpt,
               staging_keep_hours=0)
    raw.unpersist()


def test_stream_rollup_hour_spanning_micro_batches(spark, workdir):
    """An hour whose slots arrive across several micro-batches must
    converge to the same rollup as the batch kernel over the full
    input (the touched-hour recompute path)."""
    raw = generate_sequences(spark, SPEC, CFG).cache()
    src = os.path.join(workdir, "arrivals2")
    os.makedirs(src)
    # split MID-hour: slots 0-14 then 15-39 (hour 1 spans both batches)
    raw.where(F.col("slot") < 15).write.parquet(os.path.join(src, "s=0"))
    schema = raw.schema
    store = TierStore(os.path.join(workdir, "tiers2"))
    ckpt = os.path.join(workdir, "ckpt2")
    _drain(spark, src + "/s=*", schema, store, ckpt, max_files=1)
    raw.where(F.col("slot") >= 15).write.parquet(os.path.join(src, "s=1"))
    _drain(spark, src + "/s=*", schema, store, ckpt, max_files=1)
    got = {(r["doc_id"], r["hour_idx"]): (r["n_obs"], r["sum_tok"])
           for r in store.read(spark, "rollup_1h_stream")
           .select("doc_id", "hour_idx", "n_obs", "sum_tok").collect()}
    from miaplpy_spark.operators.rollup import rollup_1h
    exp = {(r["doc_id"], r["hour_idx"]): (r["n_obs"], r["sum_tok"])
           for r in rollup_1h(prepare_observations(raw, CFG), CFG)
           .select("doc_id", "hour_idx", "n_obs", "sum_tok").collect()}
    raw.unpersist()
    assert got == exp
