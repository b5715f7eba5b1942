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
  utc_now_us).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Must happen before worker NumPy imports; harmless if already set.
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

# spark.sql.codegen.cache.maxEntries (a static conf; see the tuning list)
CODEGEN_CACHE_MAX_ENTRIES = 256


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
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_MAX_ENTRIES))
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
