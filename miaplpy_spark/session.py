"""SparkSession factory with the engine's tuned configuration.

Tuning rationale (SURVEY.md §4):
- AQE on: runtime partition coalescing + skew-join splitting replaces
  the reference's hand-rolled memory-bounded box splitting
  (dev/ifgram_inversion_L1L2.py:792-824).
- Arrow enabled + bounded batch size: the rollup kernels are Arrow
  pandas UDFs; maxRecordsPerBatch bounds per-batch memory exactly like
  the reference's chunked aggregation (P5).
- OMP_NUM_THREADS=1 in executor env: 1 BLAS thread x many tasks beats
  the opposite — the reference measured this (P9,
  dev/ifgram_inversion_L1L2.py:1432-1449). On a real cluster, set via
  spark.executorEnv.OMP_NUM_THREADS; in local mode we set os.environ
  before NumPy spins up worker threads.
- Python daemon = ``miaplpy_spark.worker_daemon``: the stock daemon
  plus a stamp check on zipimport's directory re-read, which every
  Python task otherwise repeats for each package imported from
  pyspark.zip — about 0.2 CPU-s per task on a 4-core host, close to
  half of a small cascade's CPU.
- The same daemon imports the UDF modules (``worker_daemon.PRELOAD``)
  and runs ``gc.freeze()`` before it forks. The stock daemon's full
  ``gc.collect()`` after every task of a reused worker walked the
  ~73k objects those imports leave: 27-28 CPU-ms per task, and an
  engine round runs 76 Python tasks. Frozen, the collect walks ~200
  objects (0.02 ms), and no worker re-imports the modules (0.35 CPU-s
  each). The daemon pays 0.35 CPU-s and ~51 MB of RSS once.
- Codegen cache = CODEGEN_CACHE_MAX_ENTRIES (256) generated classes;
  Spark's default is 100. One lifecycle round (cold cascade -> invert
  -> retention -> restamp, then its resumed rerun) plus the q52
  curation query uses 170 distinct classes, up to about 190 with the
  input build and the AQE re-plans q52 meets later. At 100 each op
  evicted the next op's classes, so every round recompiled (and
  re-JITted) about 170 of them. Keeping them, with the per-run
  literals below, took the perfbench lifecycle round from 27.4 to
  20.3 CPU-s (4 cores, 20 interleaved pairs).
  Spark's cache is split into 4 LRU segments of maxEntries/4 each, so
  it must hold more than the class count: 180 still evicted 15-41
  classes a round, 200 none; 256 leaves headroom for segment
  imbalance. The cache is JVM-wide and sized once, when the first
  class compiles. Per-run values stay out of generated code for the
  same reason: Spark inlines a numeric literal into the Java source,
  so a fresh timestamp is a fresh class (operators/checkpoint.py:
  CheckpointLog._append).
- C2 thresholds = JIT_OPTIONS: HotSpot's tier-4 (C2) invocation,
  minimum-invocation, compile and back-edge thresholds at 10x the
  JDK 17 defaults (5000, 600, 15000, 40000). Each entry point starts
  a fresh JVM and runs for seconds to minutes, and its C1/C2 compiler
  threads used about a third of a perfbench round's CPU
  (scripts/cpu_split.py, seed 1, median of 5 rounds after warmup:
  engine 3.1 of 9.0 CPU-s, lifecycle 5.3 of 13.7 CPU-s; at 10x, 1.8
  and 2.7 CPU-s). The biggest C2 compiles were per-job and per-task
  driver code, not row loops: the ClosureCleaner's ASM class reader,
  task (de)serialization, py4j class lookups, call-site capture,
  SizeEstimator. At 10x that code stays at C1, while a per-row loop
  that runs millions of times still reaches C2. Grid on perfbench
  (--seconds 5, 4 cores, seeds 11-13, medians), round_cpu_s engine /
  lifecycle and lifecycle setup_s: x1 13.2 / 21.6 s, 33.8 s; x3
  11.8 / 18.4 s, 35.1 s; x10 9.7 / 16.6 s, 34.4 s; x30 9.8 / 18.4 s,
  38.0 s. x10 is the smallest with most of the gain; x30 delays
  warm-up. Rejected: -XX:TieredStopAtLevel=1 (C1 only) slowed the
  3,000-doc cascade to 6.3-6.8 s a round against 4.3-6.1 s;
  -XX:CompileThresholdScaling=10 also delays C1, so warm-up runs
  interpreted (engine setup_s 22.5-25.5 s against 20.0-20.8 s).
  The flags go in spark.{driver,executor}.defaultJavaOptions: callers
  pass their own extraJavaOptions (perfbench does), and the JVM gets
  both. A builder conf overrides spark-defaults.conf, so get_spark
  replaces a deployment's own defaultJavaOptions: such a deployment
  must append JIT_OPTIONS to its value and pass the result through
  extra_conf. Launch flags act on a fresh JVM only.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Must happen before worker NumPy imports; harmless if already set.
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

# spark.sql.codegen.cache.maxEntries (a static conf; see the tuning list)
CODEGEN_CACHE_MAX_ENTRIES = 256

# HotSpot tier-4 (C2) thresholds, 10x the JDK 17 defaults (see the
# tuning list); JVM launch flags, so they apply to a fresh JVM only
JIT_OPTIONS = ("-XX:Tier4InvocationThreshold=50000 "
               "-XX:Tier4MinInvocationThreshold=6000 "
               "-XX:Tier4CompileThreshold=150000 "
               "-XX:Tier4BackEdgeThreshold=400000")

# Static confs every engine session sets, in get_spark and in the
# lifecycle CLI's own builder (scripts/run_cascade.py). The JIT flags
# go in defaultJavaOptions: see the tuning list
STATIC_CONF = {
    "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_MAX_ENTRIES),
    "spark.driver.defaultJavaOptions": JIT_OPTIONS,
    "spark.executor.defaultJavaOptions": JIT_OPTIONS,
}


def get_spark(
    app_name: str = "miaplpy_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch: int = 8192,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or get) the engine session.

    ``master`` defaults to ``local[N]`` from $SPARK_GRAFT_CPUS (32).
    ``shuffle_partitions`` defaults to 2x cores — enough granularity
    for AQE to coalesce, small enough to avoid tiny-task overhead at
    sandbox scale. On a 1000-executor cluster this is instead sized to
    ~2-3x total cores via the same parameter.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    ncores = cpus if master == "local[*]" else _master_cores(master, cpus)
    if shuffle_partitions is None:
        shuffle_partitions = max(8, 2 * ncores)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "miaplpy_spark.worker_daemon")
        .config(map=STATIC_CONF)
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def _master_cores(master: str, default: int) -> int:
    if master.startswith("local[") and master.endswith("]"):
        inner = master[6:-1]
        if inner != "*":
            try:
                return int(inner)
            except ValueError:
                pass
    return default
