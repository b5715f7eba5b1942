"""128-bit doc-key mode (EngineConfig.wide_doc_key): at 10^12 docs a
single xxhash64 key expects ~3e4 birthday collisions, each silently
merging two docs' windows inside the kernels. Wide mode groups, sorts
and dimension-joins on (doc_key, doc_key2) — two xxhash64 salts.
Default off; these tests prove (a) sandbox results are bit-equal to
narrow mode, and (b) the second key actually separates a planted
first-key collision."""

import pyspark.sql.functions as F

from miaplpy_spark.config import EngineConfig
from miaplpy_spark.operators.network_inversion import invert_network
from miaplpy_spark.operators.rollup import rollup_1d, rollup_1h
from miaplpy_spark.oracle_fixtures import fixture_hourly, fixture_obs

NARROW = EngineConfig(n_buckets=4, n_samples=8)
WIDE = EngineConfig(n_buckets=4, n_samples=8, wide_doc_key=True)


def _rows(df, drop=("doc_key2",)):
    cols = [c for c in df.columns if c not in drop]
    return sorted(df.select(*cols).collect(), key=str)


def test_wide_cascade_roundtrips_bit_equal(spark):
    obs = fixture_obs(spark, n_docs=6, n_slots=480, n_samples=8,
                      n_buckets=4)
    h_n = rollup_1h(obs, NARROW)
    h_w = rollup_1h(obs, WIDE)
    assert "doc_key2" in h_w.columns and "doc_key2" not in h_n.columns
    assert _rows(h_n) == _rows(h_w)
    d_n = rollup_1d(h_n, NARROW)
    d_w = rollup_1d(h_w, WIDE)
    assert _rows(d_n) == _rows(d_w)


def test_wide_inversion_matches_narrow(spark):
    hourly = fixture_hourly(spark, n_docs=8, n_hours=24, n_buckets=4)
    a = sorted(invert_network(hourly, NARROW, conn=1).collect(),
               key=lambda r: r["doc_id"])
    b = sorted(invert_network(hourly, WIDE, conn=1).collect(),
               key=lambda r: r["doc_id"])
    assert a == b


def _collision_obs(spark):
    """Two docs forced onto the SAME doc_key (a planted 64-bit
    collision); doc_key2 still distinguishes them."""
    obs = fixture_obs(spark, n_docs=2, n_slots=40, n_samples=8,
                      n_buckets=1)
    return obs.select(
        "*",
        F.lit(12345).cast("long").alias("doc_key"),
        F.xxhash64("doc_id").alias("doc_key2"))


def test_planted_collision_merges_narrow_splits_wide(spark):
    obs = _collision_obs(spark)
    # narrow mode groups on doc_key alone -> the two docs merge into
    # one output row per hour (the collision failure mode)
    h_n = rollup_1h(obs.drop("doc_key2"), NARROW)
    per_hour_n = (h_n.groupBy("hour_idx").count()
                  .agg(F.max("count")).collect()[0][0])
    assert per_hour_n == 1
    # wide mode splits on doc_key2 -> one row per (doc, hour)
    h_w = rollup_1h(obs, WIDE)
    per_hour_w = (h_w.groupBy("hour_idx").count()
                  .agg(F.min("count")).collect()[0][0])
    assert per_hour_w == 2
    # and each output row still carries its own doc's key pair
    assert h_w.select("doc_key2").distinct().count() == 2


def test_wide_doc_dim_join_disambiguates(spark):
    """attach_doc_dim joins on BOTH keys when present: with a planted
    first-key collision a narrow join would fan out (2 dim matches per
    tier row); the wide join stays 1:1."""
    from miaplpy_spark.operators.rollup import attach_doc_dim

    obs = _collision_obs(spark)
    dim = (obs.select("doc_key", "doc_key2", "doc_id", "source")
           .distinct())
    core = rollup_1h(obs.drop("doc_id", "source"), WIDE)
    out = attach_doc_dim(core, dim)
    assert out.count() == core.count()          # no join fan-out
    assert out.where(F.col("doc_id").isNull()).count() == 0
