"""Checkpoint / lineage protocol — the reference's ``flag.npy`` restart
markers (/root/reference/src/miaplpy/phase_linking.py:74-84,
lib/utils.pyx:1098-1099,1195) re-expressed as a table:

- a tier job anti-joins its input's partition keys against the
  checkpoint rows for (tier, lineage) and processes only the remainder;
- the checkpoint row for a bucket is appended ONLY AFTER the tier
  output for that bucket has committed (flag-written-last ordering),
  carrying rows_processed + lineage so a config or input change
  invalidates completions automatically (the reference's update-mode
  mtime/config comparison, objects/utils.py:1220-1241).

Schema (FIXTURES.md F4): tier string, partition_key int, snapshot_id
long, rows_processed long, lineage string, updated_at timestamp.
"""

from __future__ import annotations

import time

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Row, SparkSession

from ..sources.catalog import TierStore

CHECKPOINT_TABLE = "checkpoints"

_SCHEMA = ("tier string, partition_key int, snapshot_id long, "
           "rows_processed long, lineage string, updated_at timestamp")


class CheckpointLog:
    def __init__(self, store: TierStore):
        self.store = store

    def _read(self, spark: SparkSession) -> DataFrame | None:
        if not self.store.exists(spark, CHECKPOINT_TABLE):
            return None
        return self.store.read(spark, CHECKPOINT_TABLE)

    def completed_keys(self, spark: SparkSession, tier: str, lineage: str) -> DataFrame:
        """Distinct partition_key values already finished for this
        (tier, lineage). Latest row per key wins, so a later run with a
        new lineage supersedes old completions."""
        df = self._read(spark)
        if df is None:
            return spark.createDataFrame([], "partition_key int")
        w_latest = (
            df.where(F.col("tier") == tier)
            .groupBy("partition_key")
            .agg(F.max_by("lineage", "updated_at").alias("last_lineage"))
        )
        return (w_latest.where(F.col("last_lineage") == lineage)
                .select("partition_key"))

    def latest_completions(self, spark: SparkSession, tier: str,
                           lineage: str) -> list[tuple[int, int]]:
        """(partition_key, rows_processed) of buckets whose LATEST
        checkpoint row carries ``lineage`` — the set a restamp may
        safely re-validate under a new lineage."""
        df = self._read(spark)
        if df is None:
            return []
        # ONE max_by over a struct: two independent max_by calls could
        # pair lineage and rows_processed from DIFFERENT rows when
        # updated_at ties (same-second appends)
        w = (df.where(F.col("tier") == tier)
             .groupBy("partition_key")
             .agg(F.max_by(F.struct("lineage", "rows_processed"),
                           "updated_at").alias("last")))
        return sorted((int(r["partition_key"]), int(r["last"]["rows_processed"]))
                      for r in w.where(F.col("last")["lineage"] == lineage)
                                .collect())

    def log_completion(self, spark: SparkSession, tier: str, lineage: str,
                       bucket_counts: list[tuple[int, int]]) -> None:
        """Append completion rows — call strictly AFTER the tier write."""
        if not bucket_counts:
            return
        snap = time.time_ns()
        now = time.time()
        rows = [
            Row(tier=tier, partition_key=int(b), snapshot_id=snap,
                rows_processed=int(c), lineage=lineage,
                updated_at=None)
            for b, c in bucket_counts
        ]
        df = (spark.createDataFrame(rows, _SCHEMA)
              .withColumn("updated_at", F.timestamp_seconds(F.lit(now))))
        self.store.append(df, CHECKPOINT_TABLE)

    def compact(self, spark: SparkSession) -> dict:
        """Rewrite the append-only checkpoint log to its LATEST row per
        (tier, partition_key). Every tier job appends one row per
        bucket forever; completed_keys / latest_completions aggregate
        the full history each run, so a long-lived lifecycle pays an
        O(runs) metadata scan — compaction resets it to O(tiers x
        buckets). Resume semantics are untouched: both readers already
        reduce to the max_by(updated_at) row, which is exactly what
        survives (ONE max_by over the full struct, so all surviving
        fields come from the same row even under same-second ties)."""
        df = self._read(spark)
        if df is None:
            return {"rows_before": 0, "rows_after": 0}
        before = df.count()
        rest = [c for c in df.columns
                if c not in ("tier", "partition_key")]
        latest = (df.groupBy("tier", "partition_key")
                  .agg(F.max_by(F.struct(*rest), "updated_at")
                       .alias("last"))
                  .select("tier", "partition_key", "last.*"))
        self.store.overwrite(latest, CHECKPOINT_TABLE, partition_col=None)
        after = self.store.read(spark, CHECKPOINT_TABLE).count()
        return {"rows_before": int(before), "rows_after": int(after)}

    def metrics(self, spark: SparkSession) -> DataFrame:
        """Per-(tier, bucket) lineage + rows-processed view (north_rule
        'every partition emits lineage + rows-processed metrics')."""
        df = self._read(spark)
        if df is None:
            return spark.createDataFrame([], _SCHEMA)
        return (df.groupBy("tier", "partition_key")
                  .agg(F.max_by("rows_processed", "updated_at").alias("rows_processed"),
                       F.max_by("lineage", "updated_at").alias("lineage"),
                       F.max("updated_at").alias("updated_at"),
                       F.count("*").alias("n_runs")))
