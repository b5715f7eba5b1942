"""Resume-protocol tests (FIXTURES.md F4): checkpointed tier jobs skip
completed buckets; lost checkpoints trigger recompute of exactly the
lost partitions; results are identical either way."""

import os
from dataclasses import fields, replace

import pyspark.sql.functions as F
import pytest

from miaplpy_spark.config import EngineConfig, ScaleSpec
from miaplpy_spark.datagen import generate_sequences, prepare_observations
from miaplpy_spark.operators.cascade import lineage_hash, run_cascade
from miaplpy_spark.operators.checkpoint import CheckpointLog
from miaplpy_spark.sources.catalog import TierStore

CFG = EngineConfig(n_buckets=4, n_samples=8)
# complete days (480 slots = 2 exact days): partial trailing days
# edge-extend the gap-fill into degenerate day matrices whose
# null-space eigenvectors are legitimately batch-order-sensitive —
# fingerprint equality is only meaningful on well-posed windows
SPEC = ScaleSpec(n_docs=6, n_slots=480, tok_lo=16, tok_hi=48,
                 tok_heavy_lo=96, tok_heavy_hi=128)


def _snapshot(spark, store, table):
    """Scalar columns of a tier table as a key-sorted pandas frame."""
    df = store.read(spark, table)
    cols = [c for c, t in df.dtypes if not t.startswith("array")
            and t != "timestamp"]
    pdf = df.select(*cols).toPandas()
    keys = [c for c in ("doc_id", "hour_idx", "day_idx", "bucket")
            if c in pdf.columns]
    return pdf.sort_values(keys).reset_index(drop=True)


def _assert_snapshots_match(got, exp):
    """Tolerance-based table comparison: exact on ints/strings, atol on
    floats — float32 qualities carry ~1e-7 jitter from batch-shape-
    dependent BLAS summation order (same per-group math, different
    einsum blocking when a recovery batch holds fewer groups), and a
    rounded-then-hashed fingerprint would still flip on values near a
    rounding boundary."""
    import numpy as np
    import pandas as pd
    assert len(got) == len(exp)
    assert list(got.columns) == list(exp.columns)
    for c in got.columns:
        if pd.api.types.is_float_dtype(got[c]):
            assert np.allclose(got[c].to_numpy(np.float64),
                               exp[c].to_numpy(np.float64),
                               atol=1e-4, equal_nan=True), c
        else:
            assert (got[c].to_numpy() == exp[c].to_numpy()).all(), c


@pytest.fixture(scope="module")
def obs(spark):
    return prepare_observations(generate_sequences(spark, SPEC, CFG), CFG)


def test_full_run_then_noop_resume(spark, obs, workdir):
    store = TierStore(workdir)
    m1 = run_cascade(spark, obs, store, CFG)
    assert m1["raw->1h"]["buckets_processed"] > 0
    fp1 = _snapshot(spark, store, "rollup_1h")
    # second run: everything checkpointed -> nothing recomputed
    m2 = run_cascade(spark, obs, store, CFG)
    assert m2["raw->1h"]["buckets_processed"] == 0
    assert m2["raw->1h"]["buckets_skipped"] == m1["raw->1h"]["buckets_processed"]
    assert m2["1h->1d"]["buckets_processed"] == 0
    _assert_snapshots_match(_snapshot(spark, store, "rollup_1h"), fp1)


def test_lost_checkpoints_recompute_only_lost_buckets(spark, obs, workdir):
    store = TierStore(workdir)
    run_cascade(spark, obs, store, CFG)
    fp_1h = _snapshot(spark, store, "rollup_1h")
    fp_1d = _snapshot(spark, store, "rollup_1d")

    # deterministically lose the checkpoint rows of bucket 0 (both tiers)
    ck = store.read(spark, "checkpoints").where(F.col("partition_key") != 0)
    ck_pdf = ck.toPandas()
    import shutil
    shutil.rmtree(store.path("checkpoints"))
    store.append(spark.createDataFrame(ck_pdf, ck.schema), "checkpoints")

    # record mtimes of untouched bucket dirs
    untouched = {
        p: os.path.getmtime(os.path.join(store.path("rollup_1h"), p))
        for p in os.listdir(store.path("rollup_1h"))
        if p.startswith("bucket=") and p != "bucket=0"
    }

    m = run_cascade(spark, obs, store, CFG)
    assert m["raw->1h"]["buckets_processed"] == 1  # only bucket 0
    assert m["1h->1d"]["buckets_processed"] == 1

    # untouched bucket partitions were not rewritten (MERGE semantics)
    for p, t in untouched.items():
        assert os.path.getmtime(os.path.join(store.path("rollup_1h"), p)) == t

    # final tables identical to the uninterrupted run
    _assert_snapshots_match(_snapshot(spark, store, "rollup_1h"), fp_1h)
    _assert_snapshots_match(_snapshot(spark, store, "rollup_1d"), fp_1d)


def test_config_change_invalidates_checkpoints(spark, obs, workdir):
    store = TierStore(workdir)
    run_cascade(spark, obs, store, CFG)
    cfg2 = EngineConfig(n_buckets=4, n_samples=8, method="EVD")
    m = run_cascade(spark, obs, store, cfg2)
    assert m["raw->1h"]["buckets_processed"] > 0  # new lineage -> recompute


@pytest.mark.parametrize("field", [f.name for f in fields(EngineConfig)])
def test_every_config_field_reaches_the_lineage(field):
    """Each EngineConfig field is in lineage_hash's payload: another
    valid value of any one field gives another lineage, so no bucket
    checkpointed under one config is skipped under another. Sparkless."""
    cfg = EngineConfig()
    old = getattr(cfg, field)
    new = {"method": "EVD"}.get(field)
    if new is None:
        if isinstance(old, bool):
            new = not old
        elif isinstance(old, (int, float)):
            new = old * 2
        elif isinstance(old, tuple):
            new = old[:-1]
    assert new is not None and new != old, f"no other value for {field}"
    other = replace(cfg, **{field: new})
    assert (lineage_hash(other, "rollup_1h", "x")
            != lineage_hash(cfg, "rollup_1h", "x"))


def test_metrics_view(spark, obs, workdir):
    store = TierStore(workdir)
    run_cascade(spark, obs, store, CFG)
    met = CheckpointLog(store).metrics(spark).toPandas()
    assert set(met["tier"]) == {"rollup_1h", "rollup_1d"}
    assert (met["rows_processed"] > 0).all()
    assert met["lineage"].notna().all()


def test_metrics_view_lists_completions_not_watermarks(spark, workdir):
    """Watermark rows share the log but are not tiers: the metrics view
    keeps only the latest completion row of each (tier, bucket)."""
    ckpt = CheckpointLog(TierStore(workdir))
    ckpt.log_completion(spark, "rollup_1h", "old", [(0, 3)])
    ckpt.log_completion(spark, "rollup_1h", "lin", [(0, 5)])
    ckpt.set_watermark(spark, "rollup_1h", 7)
    rows = [r.asDict() for r in ckpt.metrics(spark).collect()]
    assert [(r["tier"], r["partition_key"], r["rows_processed"],
             r["lineage"]) for r in rows] == [("rollup_1h", 0, 5, "lin")]


def test_checkpoint_compaction_preserves_resume(spark, obs, workdir):
    """compact() collapses the append-only log to one row per (tier,
    bucket) without changing what completed_keys / latest_completions
    return — and the compacted log still drives a full no-op rerun."""
    store = TierStore(os.path.join(workdir, "compact_wh"))
    run_cascade(spark, obs, store, CFG, input_id="v1")
    run_cascade(spark, obs, store, CFG, input_id="v2", resume=False)
    ckpt = CheckpointLog(store)
    from miaplpy_spark.operators.cascade import lineage_hash
    lin = lineage_hash(CFG, "rollup_1h", "v2")
    pre_keys = sorted(ckpt.completed_keys(spark, "rollup_1h", lin))
    pre_latest = ckpt.latest_completions(spark, "rollup_1h", lin)
    assert pre_keys == [0, 1, 2, 3]

    m = ckpt.compact(spark)
    assert m["rows_after"] < m["rows_before"]
    assert m["rows_after"] == 8   # 2 tiers x 4 buckets, latest only

    post_keys = sorted(ckpt.completed_keys(spark, "rollup_1h", lin))
    assert post_keys == pre_keys
    assert ckpt.latest_completions(spark, "rollup_1h", lin) == pre_latest
    m2 = run_cascade(spark, obs, store, CFG, input_id="v2")
    assert m2["raw->1h"]["buckets_processed"] == 0
    assert m2["1h->1d"]["buckets_processed"] == 0


def test_noop_resume_reads_no_step_input(spark, obs, workdir, monkeypatch):
    """A step builds its input only when some bucket remains: a fully
    checkpointed rerun of the 1d step and of the inversion must not
    read the 1h tier they would consume (each read of a tier table
    costs a footer-inference job)."""
    from miaplpy_spark.operators.cascade import run_inversion_step

    store = TierStore(os.path.join(workdir, "lazy_wh"))
    run_cascade(spark, obs, store, CFG)
    run_inversion_step(spark, store, CFG)
    real_read = TierStore.read

    def read(self, spark, table, schema=None):
        if table == "rollup_1h":
            raise AssertionError("rollup_1h read on a no-op rerun")
        return real_read(self, spark, table, schema)

    monkeypatch.setattr(TierStore, "read", read)
    m = run_cascade(spark, obs, store, CFG, resume=True)
    assert m["1h->1d"]["buckets_processed"] == 0
    inv = run_inversion_step(spark, store, CFG, resume=True)
    assert inv["buckets_processed"] == 0
