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
from ..operators.rollup import rollup_1d, rollup_1h
from ..sources.catalog import TierStore


STAGING_TABLE = "stream_staging"
STREAM_TIER = "rollup_1h_stream"
STREAM_TIER_1D = "rollup_1d_stream"
PRUNE_MARK = "stream_staging_pruned_below"


def stream_rollup_1h(stream_df: DataFrame, store: TierStore,
                     cfg: EngineConfig = EngineConfig(),
                     checkpoint_dir: str | None = None,
                     trigger_seconds: int = 10,
                     available_now: bool = False,
                     cascade_1d: bool = False,
                     staging_keep_hours: int | None = None):
    """Drive the batch 1h kernel per micro-batch via foreachBatch,
    with continuous-aggregate invalidation semantics:

    1. append the micro-batch's raw rows (tagged with batch_id) to a
       staging table;
    2. recompute ONLY the hours touched by this micro-batch, from the
       FULL staged rows of those hours (so an hour whose slots span
       micro-batches converges to the complete rollup — a per-batch
       overwrite would erase the earlier slots' contribution);
    3. MERGE the recomputed hours at (bucket, hour_idx) granularity —
       overwrite granularity matches the window, so untouched hours
       from prior micro-batches are never rewritten.

    Replayed micro-batches (restart after a failed commit) double-
    append to staging; the recompute dedups on (doc_id, slot), so the
    tier output is idempotent. Returns the started StreamingQuery.

    Staging is partitioned by hour, so the per-trigger recompute scan
    prunes to the touched hours' directories instead of the full
    staged history. ``staging_keep_hours`` ages closed-hour staging
    partitions (directory-level delete) once the stream has moved
    ``keep`` hours past them — without it staging grows with stream
    lifetime. Set it ABOVE the source's late-arrival horizon: a
    micro-batch touching an hour below the recorded prune boundary
    raises rather than overwriting a complete tier window with
    partial replay rows.

    ``cascade_1d`` extends each micro-batch with the 1h->1d leg
    (round-4 VERDICT item 7): after the 1h MERGE commits, the DAYS
    touched by this micro-batch are re-rolled from the FULL 1h tier
    rows of those days (same recompute-from-complete-window
    convergence argument as the hourly leg — a day whose hours span
    micro-batches converges to the batch rollup_1d result) and MERGEd
    into ``rollup_1d_stream`` at (bucket, day_idx) granularity. The
    streamed 1d tier therefore equals the batch 1d tier row-for-row
    once the backlog drains (tests/test_streaming.py pins this
    against the batch kernel)."""

    from ..operators.cascade import _read_watermark, _write_watermark

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        hour_of = lambda c: (c / cfg.slots_per_hour).cast("int")
        # staging is PARTITIONED BY HOUR: the per-batch recompute reads
        # only the touched hours' directories (partition pruning) —
        # without this, every micro-batch rescanned the FULL staged
        # history, an O(stream lifetime) cost per trigger at 100 TB
        store.append(
            batch_df.withColumn("batch_id", F.lit(batch_id))
                    .withColumn("stage_hour", hour_of(F.col("slot"))),
            STAGING_TABLE, partition_col="stage_hour")
        hours = sorted(int(r[0]) for r in batch_df
                       .select(hour_of(F.col("slot"))).distinct().collect())
        boundary = _read_watermark(spark, store, PRUNE_MARK)
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
        rows = (staged.drop("stage_hour", "batch_id")
                .dropDuplicates(["doc_id", "slot"]))
        out = rollup_1h(rows, cfg)
        store.merge_partitions(out, STREAM_TIER,
                               partition_col=["bucket", "hour_idx"])
        if cascade_1d:
            day_of = lambda h: h // cfg.hours_per_day
            t_days = sorted({day_of(h) for h in hours})
            tier_1h = store.read(spark, STREAM_TIER)
            day_rows = tier_1h.where(
                (F.col("hour_idx") / cfg.hours_per_day).cast("int")
                .isin(t_days))
            store.merge_partitions(rollup_1d(day_rows, cfg),
                                   STREAM_TIER_1D,
                                   partition_col=["bucket", "day_idx"])
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
                    _write_watermark(spark, store, PRUNE_MARK, below)

    writer = (stream_df.writeStream
              .foreachBatch(process_batch)
              .outputMode("update"))
    # availableNow drains the backlog in bounded micro-batches then
    # stops — the batch-drive mode the driver gate (q49) uses
    writer = (writer.trigger(availableNow=True) if available_now else
              writer.trigger(processingTime=f"{trigger_seconds} seconds"))
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
