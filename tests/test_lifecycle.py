"""Lifecycle CLI: one command sequences cascade -> invert ->
retention over the checkpoint log (the reference's miaplpyApp.py
STEP_LIST + --start/--dostep contract), and a full rerun no-ops."""

import json

import pytest

from scripts.run_cascade import STEP_LIST, main, select_steps


def test_select_steps_contract():
    # canonical order is cascade -> invert -> retention: the solver
    # needs the hot tier's linked_phase ensembles, which retention
    # ages away (round-3 ADVICE)
    assert STEP_LIST == ["cascade", "invert", "retention"]
    assert select_steps("cascade,retention,invert", None, None) == STEP_LIST
    # canonical order regardless of input order
    assert select_steps("invert,cascade", None, None) == ["cascade", "invert"]
    assert select_steps("cascade,retention,invert", "invert", None) == [
        "invert", "retention"]
    assert select_steps("cascade,retention,invert", None, "invert") == [
        "invert"]
    with pytest.raises(SystemExit):
        select_steps("cascade,bogus", None, None)
    with pytest.raises(SystemExit):
        select_steps("cascade", "invert", None)


def _run(capsys, args):
    rc = main(args)
    assert rc == 0
    out = [l for l in capsys.readouterr().out.splitlines()
           if l.startswith("{")]
    return json.loads(out[-1])


def test_full_lifecycle_then_noop_rerun(spark, workdir, capsys):
    args = ["--warehouse", workdir, "--scale", "tiny", "--buckets", "4",
            "--steps", "cascade,retention,invert"]
    m1 = _run(capsys, args)
    assert m1["steps"] == STEP_LIST
    assert m1["cascade"]["raw->1h"]["buckets_processed"] > 0
    assert m1["retention"]["n_blobs"] > 0          # days aged to cold
    assert m1["invert"]["rows_written"] > 0

    # run 1's retention re-stamped the inversion completions under
    # the post-aging content token (retention-only deletes leave the
    # checkpointed FULL-HISTORY ts_series valid — it covers a superset
    # of the post-retention hot window), so run 2 is a TRUE no-op
    assert m1["retention"]["inversion_restamped"] > 0
    # the run report counts the classes Spark compiled during the run
    assert isinstance(m1["codegen_compiles"], int)
    assert m1["codegen_compiles"] >= 0
    # ... and one checkpoint row per (tier, bucket): the rows each
    # bucket's committed partition held, summing to the step's metric
    cps = m1["checkpoints"]
    assert [(c["tier"], c["bucket"]) for c in cps] == [
        (t, b) for t in ("rollup_1d", "rollup_1h", "timeseries")
        for b in range(4)]
    assert all(c["rows_processed"] > 0 for c in cps)
    for tier, step in (("rollup_1h", m1["cascade"]["raw->1h"]),
                       ("rollup_1d", m1["cascade"]["1h->1d"]),
                       ("timeseries", m1["invert"])):
        assert sum(c["rows_processed"] for c in cps
                   if c["tier"] == tier) == step["rows_written"], tier
    assert {c["lineage"] for c in cps if c["tier"] == "rollup_1h"} == {
        m1["cascade"]["raw->1h"]["lineage"]}

    m2 = _run(capsys, args)
    assert m2["checkpoints"] == cps
    assert m2["cascade"]["raw->1h"]["buckets_processed"] == 0
    assert m2["cascade"]["1h->1d"]["buckets_processed"] == 0
    assert m2["retention"]["n_blobs"] == 0
    assert m2["invert"]["buckets_processed"] == 0
    assert m2["invert"]["buckets_skipped"] > 0

    # tiered read still sees every hour exactly once after aging
    from miaplpy_spark.config import EngineConfig
    from miaplpy_spark.operators.compress import read_1h_tiered
    from miaplpy_spark.sources.catalog import TierStore
    store = TierStore(workdir)
    cfg = EngineConfig(n_buckets=4)
    tiered = read_1h_tiered(spark, store, cfg)
    assert tiered.count() == tiered.select("doc_id", "hour_ts").distinct().count()


def test_dostep_runs_single_step(spark, workdir, capsys):
    m = _run(capsys, ["--warehouse", workdir, "--scale", "tiny",
                      "--buckets", "4", "--dostep", "cascade"])
    assert m["steps"] == ["cascade"]
    assert "retention" not in m and "invert" not in m


def test_invert_recomputes_after_tier_extension(spark, workdir, capsys):
    """The inversion checkpoint lineage hashes the 1h tier's content
    watermark: extending the tier must invalidate bucket completions
    (a config-only lineage silently served stale timeseries)."""
    import pyspark.sql.functions as F

    from miaplpy_spark.sources.catalog import TierStore

    args = ["--warehouse", workdir, "--scale", "tiny", "--buckets", "4",
            "--steps", "cascade,invert"]
    m1 = _run(capsys, args)
    assert m1["invert"]["buckets_processed"] > 0
    # extend the 1h tier (new hours -> new max watermark), using the
    # incremental path's materialize-then-merge protocol
    store = TierStore(workdir)
    t = store.read(spark, "rollup_1h")
    extended = t.unionByName(
        t.withColumn("hour_idx", F.col("hour_idx") + 1000)
    ).localCheckpoint(eager=True)
    store.merge_partitions(extended, "rollup_1h")
    m2 = _run(capsys, ["--warehouse", workdir, "--scale", "tiny",
                       "--buckets", "4", "--dostep", "invert"])
    assert m2["invert"]["buckets_processed"] > 0, m2
    # and with NO change, the rerun still no-ops
    m3 = _run(capsys, ["--warehouse", workdir, "--scale", "tiny",
                       "--buckets", "4", "--dostep", "invert"])
    assert m3["invert"]["buckets_processed"] == 0, m3


def test_invert_recomputes_after_in_place_change(spark, workdir, capsys):
    """The staleness class a max-hour watermark cannot see (round-3
    ADVICE): an in-place recompute of existing hours — same row count,
    same max hour, new values (what run_cascade_incremental does to
    the open boundary hour) — must still invalidate the inversion
    checkpoints. The content token hashes the store's write snapshot,
    so ANY committed write moves it."""
    import pyspark.sql.functions as F

    from miaplpy_spark.sources.catalog import TierStore

    args = ["--warehouse", workdir, "--scale", "tiny", "--buckets", "4",
            "--steps", "cascade,invert"]
    m1 = _run(capsys, args)
    assert m1["invert"]["buckets_processed"] > 0
    store = TierStore(workdir)
    t = store.read(spark, "rollup_1h")
    n0, maxh0 = t.count(), t.agg(F.max("hour_idx")).collect()[0][0]
    changed = t.withColumn(
        "linked_phase",
        F.transform("linked_phase", lambda x: x + F.lit(0.1))
    ).localCheckpoint(eager=True)
    store.merge_partitions(changed, "rollup_1h")
    t2 = store.read(spark, "rollup_1h")
    # the change is invisible to count/max-watermark fingerprints
    assert t2.count() == n0
    assert t2.agg(F.max("hour_idx")).collect()[0][0] == maxh0
    m2 = _run(capsys, ["--warehouse", workdir, "--scale", "tiny",
                      "--buckets", "4", "--dostep", "invert"])
    assert m2["invert"]["buckets_processed"] > 0, m2


def test_stream_ingestion_mode(spark, workdir, capsys):
    """--stream drives the Structured Streaming ingestion (availableNow
    drain + 1h->1d leg) from the CLI; the streamed tiers must match
    the batch kernels over the same input."""
    import os

    import pyspark.sql.functions as F

    from miaplpy_spark.config import EngineConfig, ScaleSpec
    from miaplpy_spark.datagen import generate_sequences, prepare_observations
    from miaplpy_spark.operators.rollup import rollup_1d, rollup_1h

    cfg = EngineConfig(n_buckets=4, n_samples=8)
    spec = ScaleSpec(n_docs=3, n_slots=40, tok_lo=8, tok_hi=16,
                     tok_heavy_lo=24, tok_heavy_hi=32)
    raw = generate_sequences(spark, spec, cfg)
    src = os.path.join(workdir, "stream_in")
    raw.repartition(3).write.parquet(src)

    m = _run(capsys, ["--warehouse", os.path.join(workdir, "swh"),
                      "--buckets", "4", "--steps", "cascade",
                      "--stream", "--input", src])
    obs = prepare_observations(spark.read.parquet(src), cfg)
    t1h = rollup_1h(obs, cfg)
    assert m["stream"]["rows_1h"] == t1h.count()
    assert m["stream"]["rows_1d"] == rollup_1d(t1h, cfg).count()


def test_stream_rejects_other_steps(spark, workdir, capsys):
    import pytest

    with pytest.raises(SystemExit, match="ingestion-only"):
        main(["--warehouse", workdir, "--steps", "cascade,invert",
              "--stream", "--input", workdir])
