"""Checkpoint / lineage protocol — the reference's ``flag.npy`` restart
markers (/root/reference/src/miaplpy/phase_linking.py:74-84,
lib/utils.pyx:1098-1099,1195) re-expressed as a table:

- a tier job drops its input's partition keys that the checkpoint
  rows mark completed for (tier, lineage) and processes only the
  remainder;
- the checkpoint row for a bucket is appended ONLY AFTER the tier
  output for that bucket has committed (flag-written-last ordering),
  carrying rows_processed + lineage so a config or input change
  invalidates completions automatically (the reference's update-mode
  mtime/config comparison, objects/utils.py:1220-1241).

The same log holds the incremental paths' named watermarks (the 1h
and 1d extension marks, the stream's staging prune boundary), so there
is one bookkeeping table, one latest-row reduction and one compaction.
A watermark is written, like a completion, strictly after the write
it describes commits: a parquet dynamic overwrite is not atomic across
buckets, so a mark derived from the tier itself would skip the
buckets a crash mid-commit left behind.

Schema (FIXTURES.md F4): tier string, partition_key int, snapshot_id
long, rows_processed long, lineage string, updated_at timestamp.
"""

from __future__ import annotations

import time
from datetime import datetime, timedelta, timezone

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Row, SparkSession

from ..sources.catalog import TierStore

CHECKPOINT_TABLE = "checkpoints"
_WATERMARK = "watermark:"

_SCHEMA = ("tier string, partition_key int, snapshot_id long, "
           "rows_processed long, lineage string, updated_at timestamp")

_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def _mark(name: str, value: int) -> tuple[str, int, int, str]:
    """The log row of a watermark: (tier, partition_key, rows_processed,
    lineage) = ("watermark:<name>", 0, value, "watermark")."""
    return _WATERMARK + name, 0, value, "watermark"


class CheckpointLog:
    def __init__(self, store: TierStore):
        self.store = store

    def _read(self, spark: SparkSession) -> DataFrame | None:
        if not self.store.exists(spark, CHECKPOINT_TABLE):
            return None
        # the log's schema is fixed: no footer-inference job per read
        return self.store.read(spark, CHECKPOINT_TABLE, schema=_SCHEMA)

    def _latest(self, spark: SparkSession,
                where: F.Column | None = None) -> DataFrame | None:
        """The log's LATEST row per (tier, partition_key), after
        ``where``; None without a log. Every reader reduces through
        here: ONE max_by over the full struct, so all fields of a
        surviving row come from the same appended row even when
        updated_at ties (two independent max_by calls could pair
        lineage and rows_processed from different rows)."""
        df = self._read(spark)
        if df is None:
            return None
        if where is not None:
            df = df.where(where)
        rest = [c for c in df.columns if c not in ("tier", "partition_key")]
        return (df.groupBy("tier", "partition_key")
                  .agg(F.max_by(F.struct(*rest), "updated_at").alias("last"))
                  .select("tier", "partition_key", "last.*"))

    def completed_keys(self, spark: SparkSession, tier: str,
                       lineage: str) -> set[int]:
        """partition_key values already finished for this (tier,
        lineage), collected. Latest row per key wins, so a later run
        with a new lineage supersedes old completions. No log yet: the
        empty set, without a Spark job."""
        return {k for k, _ in self.latest_completions(spark, tier, lineage)}

    def latest_completions(self, spark: SparkSession, tier: str,
                           lineage: str) -> list[tuple[int, int]]:
        """(partition_key, rows_processed) of buckets whose LATEST
        checkpoint row carries ``lineage`` — the set a restamp may
        safely re-validate under a new lineage."""
        df = self._latest(spark, F.col("tier") == tier)
        if df is None:
            return []
        return sorted((int(r["partition_key"]), int(r["rows_processed"]))
                      for r in df.where(F.col("lineage") == lineage)
                                 .collect())

    def _append(self, spark: SparkSession,
                rows: list[tuple[str, int, int, str]]) -> None:
        """Append (tier, partition_key, rows_processed, lineage) rows
        under one snapshot id (epoch ns) and the same instant as a UTC
        timestamp. The timestamp goes into row DATA: a per-call
        timestamp literal is inlined into the generated Java, so every
        append would compile (and JIT) a fresh class."""
        snap = time.time_ns()
        now = _EPOCH + timedelta(microseconds=snap // 1000)
        self.store.append(spark.createDataFrame(
            [Row(tier=t, partition_key=int(k), snapshot_id=snap,
                 rows_processed=int(c), lineage=lin, updated_at=now)
             for t, k, c, lin in rows], _SCHEMA), CHECKPOINT_TABLE)

    def log_completion(self, spark: SparkSession, tier: str, lineage: str,
                       bucket_counts: list[tuple[int, int]]) -> None:
        """Append completion rows — call strictly AFTER the tier write."""
        if bucket_counts:
            self._append(spark, [(tier, b, c, lineage)
                                 for b, c in bucket_counts])

    def watermark(self, spark: SparkSession, name: str) -> int:
        """The latest value stored for watermark ``name``; -1 when it
        was never set."""
        df = self._latest(spark, F.col("tier").startswith(_WATERMARK))
        marks = {} if df is None else {
            r["tier"][len(_WATERMARK):]: int(r["rows_processed"])
            for r in df.collect()}
        if not marks:
            marks = self._migrate_legacy_watermarks(spark)
        return marks.get(name, -1)

    def set_watermark(self, spark: SparkSession, name: str,
                      value: int) -> None:
        """Store watermark ``name`` — call strictly AFTER the write it
        describes has committed."""
        self._append(spark, [_mark(name, value)])

    def _migrate_legacy_watermarks(self, spark: SparkSession) -> dict:
        """Warehouses written before the watermarks moved into this log
        kept them in their own ``tier_watermarks`` table (tier string,
        max_idx long, updated_at timestamp). Copy each name's latest
        value into the log in one append, then delete the old table.
        The marks are carried, not recomputed: the stream's prune
        boundary is what keeps a late replay from overwriting a
        complete hour with partial rows, and nothing else records it.
        A crash between the append and the delete leaves a stale table
        that no read consults again."""
        legacy = "tier_watermarks"
        if not self.store.exists(spark, legacy):
            return {}
        marks = {r["tier"]: int(r["v"]) for r in
                 self.store.read(spark, legacy).groupBy("tier")
                     .agg(F.max_by("max_idx", "updated_at").alias("v"))
                     .collect() if r["v"] is not None}
        if marks:
            self._append(spark, [_mark(n, v) for n, v in marks.items()])
        self.store.drop(spark, legacy)
        return marks

    def compact(self, spark: SparkSession) -> dict:
        """Rewrite the append-only checkpoint log to its LATEST row per
        (tier, partition_key). Every tier job appends one row per
        bucket forever; completed_keys / latest_completions aggregate
        the full history each run, so a long-lived lifecycle pays an
        O(runs) metadata scan — compaction resets it to O(tiers x
        buckets). Resume semantics are untouched: every reader already
        reduces to the latest row (``_latest``), which is exactly what
        survives."""
        df = self._read(spark)
        if df is None:
            return {"rows_before": 0, "rows_after": 0}
        before = df.count()
        self.store.overwrite(self._latest(spark), CHECKPOINT_TABLE,
                             partition_col=None)
        after = self._read(spark).count()
        return {"rows_before": int(before), "rows_after": int(after)}

    def metrics(self, spark: SparkSession) -> DataFrame:
        """Per-(tier, bucket) lineage + rows-processed view (north_rule
        'every partition emits lineage + rows-processed metrics'): the
        latest completion row of each bucket, through ``_latest``.
        Watermark rows are not tiers and are left out."""
        df = self._latest(spark, ~F.col("tier").startswith(_WATERMARK))
        return spark.createDataFrame([], _SCHEMA) if df is None else df
