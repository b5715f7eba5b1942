#!/usr/bin/env python
"""Production lifecycle driver — the spark-submit entry point.

Step list (the reference's miaplpyApp.py:30-59 ``STEP_LIST`` +
``--start``/``--dostep`` contract, grafted to the tier lifecycle):

    cascade    raw -> 1h -> 1d checkpointed tier jobs; with
               --incremental, the watermark extension instead (closed
               windows kept, the watermark hour and the days it
               touches recomputed; the marks live in the checkpoint
               log); with --stream, a Structured Streaming drain of
               --input into the *_stream tiers (availableNow, one file
               per micro-batch, each re-rolling its touched hours and
               days)
    invert     hot 1h tier -> per-doc least-squares timeseries table
               (checkpointed per bucket; --invert-method L2|WLS|L1)
    retention  hot 1h rows older than --retention-day move into the
               DoD+Gorilla compressed cold tier

Invert runs BEFORE retention (round-3 ADVICE): the solver consumes
the per-hour linked_phase ensembles, which only the HOT tier retains
(the cold tier keeps summary series), so inverting after aging would
silently drop aged days from ts_series. The reference likewise runs
ifgram_inversion on the full stack before any history compaction.
Retention then RE-STAMPS the inversion completions under the
post-aging content token (restamp_inversion_checkpoints): the
checkpointed full-history ts_series covers a superset of the reduced
hot window, so it stays valid and a zero-change lifecycle rerun is a
true no-op; any other tier change still rotates the token and forces
a recompute.

Cluster launch (north_rule):

    zip -r miaplpy_spark.zip miaplpy_spark
    spark-submit \
        --py-files miaplpy_spark.zip \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.shuffle.partitions=<2-3x total cores> \
        --conf spark.executorEnv.OMP_NUM_THREADS=1 \
        --conf spark.sql.codegen.cache.maxEntries=<CODEGEN_CACHE_MAX_ENTRIES> \
        --conf "spark.driver.defaultJavaOptions=<JIT_OPTIONS>" \
        --conf "spark.executor.defaultJavaOptions=<JIT_OPTIONS>" \
        scripts/run_cascade.py \
        --input <sequences table/path> --warehouse <tier warehouse> \
        --steps cascade,retention,invert [--incremental] \
        [--scale tiny|small|bench] [--buckets N]

This script applies the codegen cache size and the JIT policy itself,
from ``miaplpy_spark.session.STATIC_CONF`` (``CODEGEN_CACHE_MAX_ENTRIES``
and ``JIT_OPTIONS``; see that module's tuning list); the ``--conf``
lines name them for launches that build the session elsewhere. The JIT
options are JVM launch flags: under spark-submit the driver JVM is
already running when this script builds its session, so they only
take effect when passed with ``--conf``. The printed JSON's
``codegen_compiles`` is the number of classes Spark compiled during
the run, ``jit_compile_s`` the HotSpot JIT compile time it added
(the JVM's CompilationMXBean); its ``checkpoints``
list holds one row per (tier, bucket): the latest completion's
rows_processed (the rows the bucket's committed partition held after
its write) and lineage.

With no --input, a deterministic synthetic sequences table at --scale
is generated (sandbox mode). On a cluster, --warehouse is an Iceberg
namespace (TierStore(use_iceberg=True)); locally it is a directory.
Every step is individually resumable: completed (tier, bucket)
checkpoints skip; a full-lifecycle rerun is a no-op.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import SparkSession

from miaplpy_spark.config import SCALES, EngineConfig
from miaplpy_spark.datagen import generate_sequences, prepare_observations
from miaplpy_spark.operators.cascade import (
    inversion_lineage,
    restamp_inversion_checkpoints,
    run_cascade,
    run_cascade_incremental,
    run_inversion_step,
)
from miaplpy_spark.operators.checkpoint import CheckpointLog
from miaplpy_spark.operators.compress import apply_retention_1h
from miaplpy_spark.session import STATIC_CONF
from miaplpy_spark.sources.catalog import TierStore

STEP_LIST = ["cascade", "invert", "retention"]


def select_steps(steps: str, start: str | None, dostep: str | None) -> list[str]:
    """--dostep X runs exactly one step; --start X drops everything
    before X (the miaplpyApp resume contract); --steps bounds the list."""
    chosen = [s.strip() for s in steps.split(",") if s.strip()]
    bad = [s for s in chosen if s not in STEP_LIST]
    if bad:
        raise SystemExit(f"unknown steps {bad}; valid: {STEP_LIST}")
    chosen = [s for s in STEP_LIST if s in chosen]  # canonical order
    if dostep:
        if dostep not in STEP_LIST:
            raise SystemExit(f"unknown --dostep {dostep}")
        return [dostep]
    if start:
        if start not in chosen:
            raise SystemExit(f"--start {start} not in selected steps {chosen}")
        chosen = chosen[chosen.index(start):]
    return chosen


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="sequences parquet path (else synthetic)")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--scale", default="small", choices=sorted(SCALES))
    ap.add_argument("--no-tokens", action="store_true",
                    help="synthetic mode only: emit per-row stats "
                         "directly instead of materializing token "
                         "arrays (bench convention — excludes synth "
                         "ingest cost from engine measurements)")
    ap.add_argument("--buckets", type=int, default=None)
    ap.add_argument("--salt-by-day", action="store_true",
                    help="bucket on (doc_id, day): spreads hot docs")
    ap.add_argument("--incremental", action="store_true")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--iceberg", action="store_true")
    ap.add_argument("--steps", default="cascade",
                    help=f"comma subset of {STEP_LIST} (canonical order)")
    ap.add_argument("--start", default=None,
                    help="resume the step list from this step")
    ap.add_argument("--dostep", default=None,
                    help="run exactly one step")
    ap.add_argument("--retention-day", type=int, default=None,
                    help="age 1h days below this boundary into the cold "
                         "tier (default: keep only the newest day hot)")
    ap.add_argument("--invert-method", default="L2",
                    choices=["L2", "WLS", "L1"])
    ap.add_argument("--compact-checkpoints", action="store_true",
                    help="after the selected steps, rewrite the "
                         "append-only checkpoint log to its latest row "
                         "per (tier, bucket) — bounds the O(runs) "
                         "metadata scan of long-lived lifecycles")
    ap.add_argument("--stream", action="store_true",
                    help="replace the cascade step with Structured "
                         "Streaming ingestion of --input (file source, "
                         "availableNow drain): foreachBatch drives the "
                         "batch 1h kernel per micro-batch plus the "
                         "1h->1d leg; staging is hour-partitioned and "
                         "aged by --staging-keep-hours")
    ap.add_argument("--staging-keep-hours", type=int, default=48,
                    help="streaming mode: age staged raw partitions "
                         "this many hours behind the newest touched "
                         "hour (must exceed the late-arrival horizon)")
    args = ap.parse_args(argv)

    steps = select_steps(args.steps, args.start, args.dostep)
    spark = (SparkSession.builder.appName("miaplpy_spark.cascade")
             .config(map=STATIC_CONF)
             .getOrCreate())
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles0 = codegen.METRIC_COMPILATION_TIME().getCount()
    jit = spark._jvm.java.lang.management.ManagementFactory \
        .getCompilationMXBean()
    jit_ms0 = jit.getTotalCompilationTime()
    kw = {"salt_by_day": args.salt_by_day}
    if args.buckets:
        kw["n_buckets"] = args.buckets
    cfg = EngineConfig(**kw)

    store = TierStore(args.warehouse, use_iceberg=args.iceberg)
    input_id = args.input or f"synthetic:{args.scale}"
    metrics: dict = {"steps": steps}
    t0 = time.time()

    if args.stream and [s for s in steps if s != "cascade"]:
        raise SystemExit(
            "--stream is ingestion-only (it writes the *_stream "
            "tiers); run invert/retention as separate invocations "
            "against a batch warehouse")
    if "cascade" in steps and args.stream:
        if not args.input:
            raise SystemExit("--stream needs --input (a parquet "
                             "directory consumed as a file stream)")
        from miaplpy_spark.streaming.rollup_stream import (STREAM_TIER,
                                                           STREAM_TIER_1D,
                                                           stream_rollup_1h)
        schema = spark.read.parquet(args.input).schema
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(args.input))
        q = stream_rollup_1h(
            prepare_observations(stream, cfg), store, cfg,
            checkpoint_dir=args.warehouse.rstrip("/") + "/_stream_ckpt",
            staging_keep_hours=args.staging_keep_hours)
        if not q.awaitTermination(3600):
            q.stop()
            raise SystemExit("stream drain exceeded 1 h")
        metrics["stream"] = {
            "rows_1h": store.read(spark, STREAM_TIER).count(),
            "rows_1d": store.read(spark, STREAM_TIER_1D).count(),
        }
    elif "cascade" in steps:
        if args.input:
            raw = spark.read.parquet(args.input)
        else:
            raw = generate_sequences(spark, args.scale, cfg,
                                     with_tokens=not args.no_tokens)
        obs = prepare_observations(raw, cfg)
        if args.incremental:
            metrics["cascade"] = run_cascade_incremental(spark, obs, store, cfg)
        else:
            metrics["cascade"] = run_cascade(
                spark, obs, store, cfg, input_id=input_id,
                resume=not args.no_resume)

    if "invert" in steps:
        metrics["invert"] = run_inversion_step(
            spark, store, cfg, method=args.invert_method,
            input_id=input_id, resume=not args.no_resume)

    if "retention" in steps:
        from pyspark.sql import functions as F
        boundary = args.retention_day
        if boundary is None:
            max_day = (store.read(spark, "rollup_1h")
                       .agg(F.max((F.col("hour_idx") / cfg.hours_per_day)
                                  .cast("int"))).collect()[0][0])
            boundary = int(max_day or 0)   # newest day stays hot
        # snapshot the inversion lineage BEFORE aging: retention-only
        # deletes keep the checkpointed full-history ts_series valid
        # (it covers a superset of the post-retention hot window), so
        # completions are re-stamped under the new content token and a
        # zero-change lifecycle rerun stays a true no-op
        pre_lin = inversion_lineage(spark, store, cfg,
                                    method=args.invert_method,
                                    input_id=input_id)
        metrics["retention"] = apply_retention_1h(spark, store, boundary, cfg)
        metrics["retention"]["day_boundary"] = boundary
        if metrics["retention"]["n_blobs"]:
            metrics["retention"]["inversion_restamped"] = \
                restamp_inversion_checkpoints(
                    spark, store, cfg, pre_lin,
                    method=args.invert_method, input_id=input_id)

    ckpt = CheckpointLog(store)
    if args.compact_checkpoints:
        metrics["compact"] = ckpt.compact(spark)
    # the per-(tier, bucket) run report: each bucket's latest completion
    metrics["checkpoints"] = [
        {"tier": r["tier"], "bucket": r["partition_key"],
         "rows_processed": r["rows_processed"], "lineage": r["lineage"]}
        for r in ckpt.metrics(spark).orderBy("tier", "partition_key")
                     .collect()]

    metrics["wall_s"] = round(time.time() - t0, 2)
    metrics["codegen_compiles"] = int(
        codegen.METRIC_COMPILATION_TIME().getCount() - compiles0)
    metrics["jit_compile_s"] = round(
        (jit.getTotalCompilationTime() - jit_ms0) / 1000, 2)
    print(json.dumps(metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
