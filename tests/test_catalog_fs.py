"""TierStore metadata must be filesystem-agnostic (round-4 VERDICT
item 2): every warehouse path, plain or URI (file:, hdfs://, s3a://),
routes exists / content_token / drop_partitions through the Hadoop
FileSystem API, resolved the way Spark resolves the same string for
its reads and writes. file: is the scheme a local session can
exercise; the API calls are identical for the cluster schemes.

Writes of a frame that reads the table it replaces: ``overwrite``
materializes the frame itself, and ``merge_partitions`` relies on the
dynamic overwrite staging its output until every read is done."""

import pyspark.sql.functions as F
import pytest

from miaplpy_spark.config import EngineConfig
from miaplpy_spark.datagen import generate_sequences, prepare_observations
from miaplpy_spark.operators.cascade import run_cascade
from miaplpy_spark.sources.catalog import TierStore

CFG = EngineConfig(n_buckets=2, n_samples=8)


def _obs(spark):
    from miaplpy_spark.config import ScaleSpec
    spec = ScaleSpec(n_docs=3, n_slots=48, tok_lo=8, tok_hi=16,
                     tok_heavy_lo=24, tok_heavy_hi=32)
    return prepare_observations(generate_sequences(spark, spec, CFG), CFG)


def test_uri_warehouse_exists_and_token(spark, tmp_path):
    store = TierStore(f"file:{tmp_path}/wh")
    assert not store.exists(spark, "t")
    assert store.content_token(spark, "t") == "absent"

    df = spark.range(10).select(
        F.col("id"), F.pmod("id", F.lit(2)).cast("int").alias("bucket"))
    store.merge_partitions(df, "t")
    assert store.exists(spark, "t")
    tok1 = store.content_token(spark, "t")
    assert tok1 not in ("absent", "empty")
    # token is stable across reads, rotates on a committed rewrite
    assert store.content_token(spark, "t") == tok1
    store.merge_partitions(df.where(F.col("bucket") == 0), "t")
    assert store.content_token(spark, "t") != tok1


def test_uri_warehouse_matches_posix_semantics(spark, tmp_path):
    """Same physical directory, named as a plain path and as a file:
    URI: both resolve through the Hadoop FS against the session's
    default FS, so they agree on existence and token, and rotate
    together."""
    plain = TierStore(str(tmp_path / "wh2"))
    uri = TierStore(f"file:{tmp_path}/wh2")
    df = spark.range(6).select(
        F.col("id"), F.lit(0).cast("int").alias("bucket"))
    plain.merge_partitions(df, "t")
    assert plain.exists(spark, "t") and uri.exists(spark, "t")
    u1 = uri.content_token(spark, "t")
    p1 = plain.content_token(spark, "t")
    assert u1 == p1
    plain.merge_partitions(df, "t")
    assert uri.content_token(spark, "t") != u1
    assert plain.content_token(spark, "t") != p1


def test_cascade_lifecycle_on_uri_warehouse(spark, tmp_path):
    """The checkpointed cascade end-to-end on a file: URI warehouse —
    first run processes, rerun is a full no-op (the exists/token reads
    all happen through the FS API)."""
    store = TierStore(f"file:{tmp_path}/wh3")
    obs = _obs(spark)
    m1 = run_cascade(spark, obs, store, CFG, input_id="fsuri")
    assert m1["raw->1h"]["buckets_processed"] == 2
    m2 = run_cascade(spark, obs, store, CFG, input_id="fsuri")
    assert m2["raw->1h"]["buckets_processed"] == 0
    assert m2["1h->1d"]["buckets_processed"] == 0
    assert store.read(spark, "rollup_1d").count() > 0


def _warehouse(kind, tmp_path):
    return str(tmp_path / "wh") if kind == "plain" else f"file:{tmp_path}/wh"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("kind", ["plain", "uri"])
def test_overwrite_of_a_frame_reading_its_own_table(spark, tmp_path, kind):
    """A static overwrite deletes the table before its tasks read it;
    overwrite must materialize its input so the caller need not."""
    store = TierStore(_warehouse(kind, tmp_path))
    df = spark.range(12).select(
        F.col("id"), F.pmod("id", F.lit(3)).cast("int").alias("bucket"))
    store.merge_partitions(df, "t")
    store.overwrite(store.read(spark, "t").where(F.col("id") >= 5), "t")
    assert _rows(store.read(spark, "t").select("id", "bucket")) == [
        (i, i % 3) for i in range(5, 12)]


@pytest.mark.parametrize("kind", ["plain", "uri"])
def test_merge_of_a_frame_reading_its_own_table(spark, tmp_path, kind):
    """A dynamic-mode merge of a frame that reads the same table
    replaces exactly the partitions the frame holds, with its rows:
    the staged write commits after every read."""
    store = TierStore(_warehouse(kind, tmp_path))
    df = spark.range(12).select(
        F.col("id"), F.pmod("id", F.lit(3)).cast("int").alias("bucket"))
    store.merge_partitions(df, "t")
    old = store.read(spark, "t")
    kept = old.where((F.col("bucket") == 1) & (F.col("id") < 6))
    fresh = spark.range(100, 102).select(
        F.col("id"), F.lit(1).cast("int").alias("bucket"))
    store.merge_partitions(kept.unionByName(fresh), "t")
    assert _rows(store.read(spark, "t").select("id", "bucket")) == sorted(
        [(i, i % 3) for i in range(12) if i % 3 != 1]
        + [(1, 1), (4, 1), (100, 1), (101, 1)])
