"""History-preserving inversion rebuild (round-4 ADVICE, medium): the
steady-state lifecycle — retention ages days away, new data arrives,
the content token rotates — must NOT replace checkpointed full-history
ts_series with hot-window-only series."""

import pyspark.sql.functions as F
import pytest

from miaplpy_spark.config import EngineConfig
from miaplpy_spark.operators.cascade import (TIER_1H, TIER_TS,
                                             merge_timeseries_history,
                                             run_inversion_step)
from miaplpy_spark.oracle_fixtures import fixture_hourly
from miaplpy_spark.sources.catalog import TierStore

SCHEMA = ("doc_id string, source string, bucket int, n_hours int, "
          "hours array<int>, ts_series array<float>, inv_quality float")


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_splice_unit_semantics(spark):
    """Hand-built cases: datum-connected splice, old-only carry,
    new-only passthrough, disjoint fallback."""
    old = _df(spark, [
        ("a", "web", 0, 6, list(range(6)), [0., 1., 2., 3., 4., 5.], 0.9),
        ("b", "web", 0, 2, [0, 1], [1., 2.], 0.8),
        ("d", "web", 1, 2, [0, 1], [7., 8.], 0.7),
    ])
    new = _df(spark, [
        # overlaps old at hours 3..5: anchor=3, offset = 3.0 - 0.0
        ("a", "web", 0, 6, list(range(3, 9)),
         [0., .5, 1., 1.5, 2., 2.5], 0.95),
        ("c", "web", 1, 2, [10, 11], [0., 1.], 0.6),
        # disjoint with old d -> re-solve wins, history dropped
        ("d", "web", 1, 2, [10, 11], [0., 1.], 0.5),
    ])
    out = {r["doc_id"]: r for r in
           merge_timeseries_history(old, new).collect()}
    assert sorted(out) == ["a", "b", "c", "d"]
    a = out["a"]
    assert a["hours"] == list(range(9)) and a["n_hours"] == 9
    assert a["ts_series"] == pytest.approx(
        [0, 1, 2, 3, 3.5, 4, 4.5, 5, 5.5])
    assert a["inv_quality"] == pytest.approx(0.95)   # hot solve's quality
    assert out["b"]["ts_series"] == pytest.approx([1., 2.])  # carried
    assert out["c"]["hours"] == [10, 11]
    assert out["d"]["ts_series"] == pytest.approx([0., 1.])  # disjoint


def test_splice_randomized_against_python_model(spark):
    """40 random coverage/overlap shapes in one DataFrame pair vs a
    pure-Python model of the documented semantics (head below the new
    window start, datum offset at the first common hour, disjoint ->
    new, old-only carry)."""
    import numpy as np

    rng = np.random.RandomState(42)
    old_rows, new_rows, expect = [], [], {}
    for i in range(40):
        doc = f"r{i:03d}"
        o_hours = sorted(rng.choice(40, size=rng.randint(2, 20),
                                    replace=False).tolist())
        o_ts = [float(round(x, 3)) for x in rng.randn(len(o_hours))]
        has_new = i % 5 != 0
        old_rows.append((doc, "web", 0, len(o_hours), o_hours, o_ts, 0.5))
        if not has_new:
            expect[doc] = (o_hours, [round(v, 4) for v in o_ts])
            continue
        n_hours = sorted(rng.choice(60, size=rng.randint(2, 20),
                                    replace=False).tolist())
        n_ts = [float(round(x, 3)) for x in rng.randn(len(n_hours))]
        new_rows.append((doc, "web", 0, len(n_hours), n_hours, n_ts, 0.9))
        common = sorted(set(o_hours) & set(n_hours))
        if not common:
            expect[doc] = (n_hours, [round(v, 4) for v in n_ts])
            continue
        anchor = common[0]
        off = (o_ts[o_hours.index(anchor)] - n_ts[n_hours.index(anchor)])
        head = [(h, v) for h, v in zip(o_hours, o_ts) if h < n_hours[0]]
        hours = [h for h, _ in head] + n_hours
        ts = ([round(v, 4) for _, v in head]
              + [round(np.float32(v + off).item(), 4) for v in n_ts])
        expect[doc] = (hours, ts)
    old = _df(spark, old_rows)
    new = _df(spark, new_rows)
    got = {r["doc_id"]: r for r in
           merge_timeseries_history(old, new).collect()}
    assert sorted(got) == sorted(expect)
    for doc, (hours, ts) in expect.items():
        assert got[doc]["hours"] == hours, doc
        assert [round(v, 4) for v in got[doc]["ts_series"]] \
            == pytest.approx(ts, abs=2e-4), doc
        assert got[doc]["n_hours"] == len(hours), doc


def test_steady_state_lifecycle_keeps_history(spark, tmp_path):
    """retention ages hours 0..23 away; hours 48..71 arrive; the
    re-solve over the hot window [24, 72) splices onto the stored
    series: full 0..71 coverage, aged head bit-identical, continuous
    at the anchor, and a follow-up rerun is a true no-op."""
    cfg = EngineConfig(n_buckets=2, n_samples=8)
    store = TierStore(str(tmp_path / "wh"))
    full = fixture_hourly(spark, n_docs=4, n_hours=72, n_buckets=2)

    store.merge_partitions(full.where(F.col("hour_idx") < 48), TIER_1H)
    m1 = run_inversion_step(spark, store, cfg)
    assert m1["rows_written"] == 4
    before = {r["doc_id"]: r for r in store.read(spark, TIER_TS).collect()}
    assert all(r["hours"] == list(range(48)) for r in before.values())

    # retention (age hours < 24) + new arrivals (hours 48..71): the
    # hot window is now [24, 72) and the content token has rotated
    hot = full.where(F.col("hour_idx") >= 24).localCheckpoint(eager=True)
    store.overwrite(hot, TIER_1H, partition_col="bucket")
    m2 = run_inversion_step(spark, store, cfg)
    assert m2["buckets_processed"] == 2

    after = {r["doc_id"]: r for r in store.read(spark, TIER_TS).collect()}
    assert sorted(after) == sorted(before)
    for doc, row in after.items():
        assert row["hours"] == list(range(72)), doc   # full coverage
        old_ts = before[doc]["ts_series"]
        # aged head (hours < 24) preserved bit-identically
        assert row["ts_series"][:24] == old_ts[:24], doc
        # datum-connected at the first common hour: continuous value
        assert row["ts_series"][24] == pytest.approx(old_ts[24], abs=1e-5)

    # zero-change rerun: token unchanged -> full no-op
    m3 = run_inversion_step(spark, store, cfg)
    assert m3["buckets_processed"] == 0 and m3["buckets_skipped"] == 2


def test_inversion_resume_under_salt_by_day(spark, tmp_path):
    """Per-bucket inversion resume is now safe under salt_by_day: the
    timeseries bucket is re-derived doc-pure from the doc hash, and
    the checkpoint cull keys on the same derived bucket — a rerun is
    a full no-op (resume was force-disabled under salting before)."""
    cfg = EngineConfig(n_buckets=4, n_samples=8, salt_by_day=True)
    store = TierStore(str(tmp_path / "wh"))
    hourly = fixture_hourly(spark, n_docs=8, n_hours=48, n_buckets=4)
    store.merge_partitions(hourly, TIER_1H)
    m1 = run_inversion_step(spark, store, cfg)
    assert m1["buckets_processed"] == 4 and m1["rows_written"] == 8
    m2 = run_inversion_step(spark, store, cfg)
    assert m2["buckets_skipped"] == 4 and m2["buckets_processed"] == 0


def test_preserve_history_off_rebuilds_from_hot(spark, tmp_path):
    cfg = EngineConfig(n_buckets=2, n_samples=8)
    store = TierStore(str(tmp_path / "wh"))
    full = fixture_hourly(spark, n_docs=2, n_hours=48, n_buckets=2)
    store.merge_partitions(full.where(F.col("hour_idx") < 36), TIER_1H)
    run_inversion_step(spark, store, cfg)
    hot = full.where(F.col("hour_idx") >= 12).localCheckpoint(eager=True)
    store.overwrite(hot, TIER_1H, partition_col="bucket")
    run_inversion_step(spark, store, cfg, preserve_history=False)
    rows = store.read(spark, TIER_TS).collect()
    assert all(r["hours"] == list(range(12, 48)) for r in rows)
