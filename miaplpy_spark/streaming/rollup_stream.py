"""Streaming ingestion of the raw tier: Structured Streaming
micro-batches feeding the same MERGE protocol as the batch cascade.

The reference's streaming-shaped mechanisms (SURVEY.md §2.10): its
update-mode incremental extension (T3/T4 — new acquisitions extend the
series without recomputing old mini-stacks) maps to a file/rate stream
of new slots; the mini-stack tumbling window (W2) maps to the hour
(slot // slots_per_hour) each micro-batch recomputes; late slots are
bounded by the staging keep window and closed windows become immutable
1h-tier rows.

``stream_rollup_1h`` is ``foreachBatch`` driving the SAME batch rollup
kernel per micro-batch over closed windows, MERGEd into the tier
store. Closed-window replay is idempotent because the MERGE replaces
per (bucket) partitions (the batch cascade's semantics).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..config import EngineConfig
from ..operators.cascade import rollup_touched_days
from ..operators.checkpoint import CheckpointLog
from ..operators.rollup import rollup_1h
from ..sources.catalog import TierStore


STAGING_TABLE = "stream_staging"
STREAM_TIER = "rollup_1h_stream"
STREAM_TIER_1D = "rollup_1d_stream"
PRUNE_MARK = "stream_staging_pruned_below"


def stream_rollup_1h(stream_df: DataFrame, store: TierStore,
                     cfg: EngineConfig = EngineConfig(), *,
                     checkpoint_dir: str,
                     staging_keep_hours: int | None = None):
    """Drain the stream's backlog (an ``availableNow`` trigger: bounded
    micro-batches, then stop; restart on the same ``checkpoint_dir`` to
    pick up later arrivals), driving the batch 1h kernel per
    micro-batch via foreachBatch with continuous-aggregate
    invalidation semantics:

    1. append the micro-batch's raw rows to a staging table;
    2. recompute ONLY the hours touched by this micro-batch, from the
       FULL staged rows of those hours (so an hour whose slots span
       micro-batches converges to the complete rollup — a per-batch
       overwrite would erase the earlier slots' contribution);
    3. MERGE the recomputed hours at (bucket, hour_idx) granularity —
       overwrite granularity matches the window, so untouched hours
       from prior micro-batches are never rewritten;
    4. re-roll the DAYS touched by this micro-batch from the full 1h
       tier rows of those days (``rollup_touched_days``, the batch
       incremental path's 1d leg) and MERGE them into
       ``rollup_1d_stream`` at (bucket, day_idx) granularity. The
       streamed 1d tier therefore equals the batch 1d tier row-for-row
       once the backlog drains (tests/test_streaming.py pins this
       against the batch kernel).

    Replayed micro-batches (restart after a failed commit) double-
    append to staging; the recompute dedups on (doc_id, slot), so the
    tier output is idempotent. Returns the started StreamingQuery.

    Staging is partitioned by hour, so the per-trigger recompute scan
    prunes to the touched hours' directories instead of the full
    staged history. ``staging_keep_hours`` ages closed-hour staging
    partitions (directory-level delete) once the stream has moved
    ``keep`` hours past them — without it staging grows with stream
    lifetime. Set it ABOVE the source's late-arrival horizon: a
    micro-batch touching an hour below the prune boundary (the
    ``PRUNE_MARK`` watermark in the checkpoint log) raises rather than
    overwriting a complete tier window with partial replay rows."""
    ckpt = CheckpointLog(store)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        hour_of = lambda c: (c / cfg.slots_per_hour).cast("int")
        # staging is PARTITIONED BY HOUR: the per-batch recompute reads
        # only the touched hours' directories (partition pruning) —
        # without this, every micro-batch rescanned the FULL staged
        # history, an O(stream lifetime) cost per trigger at 100 TB
        store.append(batch_df.withColumn("stage_hour", hour_of(F.col("slot"))),
                     STAGING_TABLE, partition_col="stage_hour")
        hours = sorted(int(r[0]) for r in batch_df
                       .select(hour_of(F.col("slot"))).distinct().collect())
        boundary = ckpt.watermark(spark, PRUNE_MARK)
        if boundary >= 0 and hours[0] < boundary:
            # the staged history for this hour was already aged away:
            # recomputing it from the partial replay rows would
            # OVERWRITE a complete tier window with partial data —
            # refuse loudly instead of silently corrupting (the keep
            # window must exceed the source's late-arrival horizon)
            raise RuntimeError(
                f"micro-batch {batch_id} touches hour {hours[0]} below "
                f"the pruned staging boundary {boundary}; raise "
                "staging_keep_hours above the late-arrival horizon")
        staged = (store.read(spark, STAGING_TABLE)
                  .where(F.col("stage_hour").isin(hours)))
        rows = staged.drop("stage_hour").dropDuplicates(["doc_id", "slot"])
        store.merge_partitions(rollup_1h(rows, cfg), STREAM_TIER,
                               partition_col=["bucket", "hour_idx"])
        days = sorted({h // cfg.hours_per_day for h in hours})
        store.merge_partitions(
            rollup_touched_days(store.read(spark, STREAM_TIER),
                                lambda day: day.isin(days), cfg),
            STREAM_TIER_1D, partition_col=["bucket", "day_idx"])
        if staging_keep_hours is not None:
            # staged rows for hours long closed are dead weight: the
            # watermark bounds how late a slot may arrive, so dropping
            # partitions below (newest touched hour - keep window) is
            # safe and is a directory-level delete, never a rewrite;
            # the boundary is recorded so a too-late replay trips the
            # guard above instead of corrupting the tier
            below = hours[-1] - staging_keep_hours
            if below > max(boundary, 0):
                if store.drop_partitions(spark, STAGING_TABLE,
                                         "stage_hour", below):
                    ckpt.set_watermark(spark, PRUNE_MARK, below)

    return (stream_df.writeStream
            .foreachBatch(process_batch)
            .outputMode("update")
            .trigger(availableNow=True)
            .option("checkpointLocation", checkpoint_dir)
            .start())
