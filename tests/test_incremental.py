"""Incremental-extension tests (T4): new slot arrivals extend tiers;
closed windows are not recomputed; the final tables equal a
from-scratch run over the full data."""

import os
import shutil
from datetime import datetime, timezone

import pyspark.sql.functions as F
import pytest

from miaplpy_spark.config import EngineConfig, ScaleSpec
from miaplpy_spark.datagen import generate_sequences, prepare_observations
from miaplpy_spark.operators.cascade import (
    run_cascade_incremental,
)
from miaplpy_spark.operators.checkpoint import CheckpointLog
from miaplpy_spark.operators.rollup import rollup_1d, rollup_1h
from miaplpy_spark.sources.catalog import TierStore
from miaplpy_spark.streaming.rollup_stream import PRUNE_MARK, stream_rollup_1h

CFG = EngineConfig(n_buckets=2, n_samples=8)
SPEC = ScaleSpec(n_docs=4, n_slots=480, tok_lo=8, tok_hi=16,
                 tok_heavy_lo=24, tok_heavy_hi=32)


def _fp(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _rows(store, spark, table):
    return sorted(map(repr, store.read(spark, table).collect()))


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

    # the watermarks live in the checkpoint log: no second table, and
    # compaction keeps one row per watermark (1h and 1d)
    assert not store.exists(spark, "tier_watermarks")
    ckpt = CheckpointLog(store)
    assert ckpt.compact(spark) == {"rows_before": 4, "rows_after": 2}
    # a third round on the same input starts from the stored marks and
    # changes nothing
    before = {t: _rows(store, spark, t) for t in ("rollup_1h", "rollup_1d")}
    m3 = run_cascade_incremental(spark, raw, store, CFG)
    assert m3["raw->1h"]["recomputed_from_hour"] == 47
    assert m3["1h->1d"]["recomputed_from_day"] == 1
    assert {t: _rows(store, spark, t) for t in before} == before


def test_legacy_watermark_table_migrates_on_read(spark, workdir):
    """A warehouse from before the watermarks moved into the checkpoint
    log keeps them in ``tier_watermarks``. The first read carries them
    over: the incremental round resumes from the legacy hour, and the
    stream's legacy prune boundary still guards a late replay."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    seqs = generate_sequences(spark, SPEC, CFG)
    raw = prepare_observations(seqs, CFG)
    store = TierStore(os.path.join(workdir, "legacy"))
    run_cascade_incremental(spark, raw.where(F.col("slot") < 250), store, CFG)
    shutil.rmtree(store.path("checkpoints"))
    at = datetime(2026, 1, 1, tzinfo=timezone.utc)
    store.append(spark.createDataFrame(
        [("rollup_1h", 24, at), (PRUNE_MARK, 5, at)],
        "tier string, max_idx long, updated_at timestamp"), "tier_watermarks")

    m = run_cascade_incremental(spark, raw, store, CFG)
    assert m["raw->1h"]["recomputed_from_hour"] == 24
    assert not store.exists(spark, "tier_watermarks")
    assert CheckpointLog(store).watermark(spark, PRUNE_MARK) == 5

    src = os.path.join(workdir, "late")
    seqs.where(F.col("slot") < 10).write.parquet(src)
    q = stream_rollup_1h(
        prepare_observations(spark.readStream.schema(seqs.schema)
                             .parquet(src), CFG),
        store, CFG, checkpoint_dir=os.path.join(workdir, "ck"))
    with pytest.raises(StreamingQueryException,
                       match="below the pruned staging boundary"):
        try:
            q.awaitTermination(300)
        finally:
            q.stop()
