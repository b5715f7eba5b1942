"""Retention-cascade driver: raw -> 1h -> 1d as incremental,
checkpointed MERGE jobs (SURVEY.md §3.2's Spark replacement of the
patch pipeline; north_rule 'continuous aggregates cascade through
retention tiers').

Per tier:
1. lineage = hash(kernel config + input identity)
2. drop the input's rows whose bucket is in the completed set
   (collected on the driver — at most n_buckets keys)
3. run the rollup kernel on the remaining buckets only
4. MERGE the output per bucket (dynamic partition overwrite /
   Iceberg overwritePartitions)
5. count the committed rows of every attempted bucket from the table
   just written (a grouped count of its ``bucket`` partition column;
   no column data is read), so a retried task can never be counted
   twice
6. append checkpoint rows (bucket, rows_processed, lineage) — only
   after the write commits (flag-written-last, lib/utils.pyx:1195)
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..config import EngineConfig
from ..sources.catalog import TierStore
from .checkpoint import CheckpointLog
from .rollup import doc_bucket, rollup_1d, rollup_1h, with_doc_keys

TIER_1H, TIER_1D = "rollup_1h", "rollup_1d"


def lineage_hash(cfg: EngineConfig, tier: str, input_id: str) -> str:
    payload = json.dumps({"cfg": asdict(cfg), "tier": tier,
                          "input": input_id}, sort_keys=True, default=str)
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


def _checkpointed_step(spark: SparkSession, store: TierStore,
                       cfg: EngineConfig, tier: str, lineage: str,
                       resume: bool, inp, bucket: F.Column,
                       write, **extra) -> dict:
    """The one resume protocol of every checkpointed step: build the
    input with ``inp()`` (only when some bucket remains, so a no-op
    rerun reads nothing), cull its rows whose ``bucket`` is already
    completed for (tier, lineage), run ``write(remaining,
    done_buckets)``, which commits ``tier``, then count each attempted
    bucket's rows in the committed table and only then log them. This
    is the only place rows_processed is computed. ``extra`` items ride
    in the returned metrics after the lineage."""
    ckpt = CheckpointLog(store)
    done_set = set()
    if resume:
        done_set = ckpt.completed_keys(spark, tier, lineage)
        if len(done_set) >= cfg.n_buckets:
            # every possible bucket (partition keys are pmod(hash,
            # n_buckets) by construction) is already checkpointed for
            # this lineage: short-circuit BEFORE building the write
            # plan. Without this, the anti-join culls rows only after
            # the raw scan runs — a fully-checkpointed rerun at 100 TB
            # would still pay one full input scan to write zero rows
            # (measured: the 10x-scale no-op rerun spent minutes
            # regenerating 91M rows into an empty merge).
            return {"tier": tier, "lineage": lineage, **extra,
                    "buckets_skipped": len(done_set),
                    "buckets_processed": 0, "rows_written": 0}
    rest = inp()
    if done_set:
        # the set is already on the driver: cull with it rather than
        # aggregating the log a second time for a join
        rest = rest.where(~bucket.isin(sorted(done_set)))
    write(rest, done_set)
    # count what the commit holds, not what the tasks emitted: a
    # retried task's rows land once. The read's only schema field is
    # the partition column, so the scan plans as partition values
    # plus footer row counts and reads no column data (an empty
    # first write leaves a bare directory, which reads as 0 rows)
    written = store.read(spark, tier, schema="bucket int")
    if done_set:
        written = written.where(~F.col("bucket").isin(sorted(done_set)))
    rows = dict(written.groupBy("bucket").count().collect())
    # EVERY attempted bucket is checkpointed, including buckets the
    # input left empty (rows=0): a permanently-empty bucket would
    # otherwise never reach the full-skip short-circuit, and on
    # Iceberg each rerun's empty overwritePartitions commit would
    # rotate the content token and cascade-invalidate the inversion.
    counts = [(b, rows.get(b, 0))
              for b in range(cfg.n_buckets) if b not in done_set]
    ckpt.log_completion(spark, tier, lineage, counts)
    return {"tier": tier, "lineage": lineage, **extra,
            "buckets_skipped": len(done_set),
            "buckets_processed": len(counts),
            "rows_written": int(sum(c for _, c in counts))}


def run_cascade(
    spark: SparkSession,
    raw_obs: DataFrame,
    store: TierStore,
    cfg: EngineConfig = EngineConfig(),
    input_id: str = "sequences",
    resume: bool = True,
) -> dict:
    """Run both tier jobs; returns per-tier metrics. ``raw_obs`` is the
    output of datagen.prepare_observations (already JVM-side compact).
    Resumable: a rerun after partial failure recomputes only buckets
    missing from the checkpoint log."""
    m1 = _checkpointed_step(
        spark, store, cfg, TIER_1H, lineage_hash(cfg, TIER_1H, input_id),
        resume, lambda: raw_obs, F.col("bucket"),
        lambda rest, _: store.merge_partitions(rollup_1h(rest, cfg), TIER_1H))
    # lineage contract (round-4 ADVICE, resolved by SCOPING): both
    # tier lineages key on the caller's input_id, NOT the store's
    # content token. Within run_cascade the 1h content is a pure
    # function of (input_id, cfg) — a partial 1h rebuild after lost
    # checkpoints reproduces identical bucket content, and 1h/1d
    # buckets are aligned (same bucket = hash(doc) % n), so per-bucket
    # 1d completions stay exactly valid and a bucket-scoped 1h repair
    # does not force a full-tier 1d rebuild. The content-token lineage
    # belongs to steps whose input is the STORE TABLE itself and can
    # change out-of-band (run_inversion_step); a content token here
    # would also rotate on every retention aging pass, defeating the
    # restamp contract. Out-of-band edits to the 1h tier are outside
    # run_cascade's input_id contract by design — route them through a
    # new input_id or the incremental path.
    m2 = _checkpointed_step(
        spark, store, cfg, TIER_1D,
        lineage_hash(cfg, TIER_1D, input_id + ">" + m1["lineage"]), resume,
        lambda: store.read(spark, TIER_1H), F.col("bucket"),
        lambda rest, _: store.merge_partitions(rollup_1d(rest, cfg), TIER_1D))
    return {"raw->1h": m1, "1h->1d": m2}


TIER_TS = "timeseries"


def merge_timeseries_history(old: DataFrame, new: DataFrame) -> DataFrame:
    """Splice a hot-window inversion re-solve onto checkpointed
    full-history series (round-4 ADVICE, medium): in the steady-state
    lifecycle (retention ages days away, then new data arrives and
    rotates the content token) ``run_inversion_step`` re-solves each
    bucket from the post-retention HOT 1h tier only; a plain partition
    overwrite would replace full-history ts_series with hot-window
    series, silently dropping the aged days the invert-before-
    retention ordering was designed to keep.

    Per doc (full outer join on doc_id — doc-cardinality inputs):
    - only old: the doc has no hot rows anymore; its history row is
      carried through unchanged (the overwrite would otherwise drop it);
    - only new: no history; the re-solve lands as-is;
    - both: datum-connected splice (A11 semantics, datum_connect,
      /root/reference/src/miaplpy/lib/utils.pyx:732-796): the new
      series is offset by (old - new) at the FIRST COMMON hour, so the
      merged series keeps the ORIGINAL datum and is continuous at the
      anchor; entries = old entries strictly below the hot window's
      first hour ++ shifted new entries. No common hour (disjoint
      coverage — the tier was gutted, not aged) -> the re-solve wins
      and history for that doc is dropped, since no datum alignment
      exists; this is the documented conservative fallback.

    All array work is built-in expressions (zip/filter/transform/
    concat) — no Python in the plan; the one shuffle is the full-outer
    join of two doc-cardinality tables, keyed on xxhash64 doc_key
    (the engine's one join key), never the doc_id string."""
    cols = ["doc_id", "source", "bucket", "hours", "ts_series",
            "inv_quality"]

    def keyed(df, *names):
        out = with_doc_keys(df.select(*cols))
        return out.select("doc_key", *(F.col(c).alias(n)
                                        for c, n in zip(cols, names)))

    o = keyed(old, "o_doc", "o_source", "o_bucket", "o_hours", "o_ts",
              "o_q")
    n = keyed(new, "n_doc", "n_source", "n_bucket", "n_hours_arr",
              "n_ts", "n_q")
    j = (o.join(n, "doc_key", "full_outer")
         .withColumn("doc_id", F.coalesce("n_doc", "o_doc")))
    anchor = F.array_min(F.array_intersect("n_hours_arr", "o_hours"))
    off = (F.element_at(
               "o_ts", F.array_position("o_hours", anchor).cast("int"))
           - F.element_at(
               "n_ts", F.array_position("n_hours_arr", anchor).cast("int")))
    min_new = F.array_min("n_hours_arr")
    head = F.filter(F.arrays_zip("o_hours", "o_ts"),
                    lambda x: x["o_hours"] < min_new)
    spliced_h = F.concat(F.transform(head, lambda x: x["o_hours"]),
                         F.col("n_hours_arr"))
    spliced_t = F.concat(
        F.transform(head, lambda x: x["o_ts"]),
        F.transform("n_ts", lambda v: (v + off).cast("float")))
    no_old = F.col("o_ts").isNull() | anchor.isNull()
    hours = (F.when(F.col("n_ts").isNull(), F.col("o_hours"))
              .when(no_old, F.col("n_hours_arr"))
              .otherwise(spliced_h))
    ts = (F.when(F.col("n_ts").isNull(), F.col("o_ts"))
           .when(no_old, F.col("n_ts"))
           .otherwise(spliced_t))
    return j.select(
        "doc_id",
        F.coalesce("n_source", "o_source").alias("source"),
        F.coalesce("n_bucket", "o_bucket").alias("bucket"),
        F.size(hours).cast("int").alias("n_hours"),
        hours.alias("hours"),
        ts.alias("ts_series"),
        F.coalesce("n_q", "o_q").alias("inv_quality"))


def run_inversion_step(
    spark: SparkSession,
    store: TierStore,
    cfg: EngineConfig = EngineConfig(),
    method: str = "L2",
    input_id: str = "rollup_1h",
    resume: bool = True,
    preserve_history: bool = True,
) -> dict:
    """Network-inversion lifecycle step: hot 1h tier -> per-doc
    timeseries table, checkpointed per bucket exactly like the tier
    jobs (flag-written-last; a rerun with all buckets completed
    no-ops). The reference runs this as its own pipeline step
    (miaplpyApp.py STEP_LIST 'ifgram_inversion' -> network_inversion.py)
    after phase linking, which is the ordering this step list mirrors.

    ``preserve_history`` (default): when a bucket is re-solved and the
    table already holds series for it, the re-solve is datum-connect
    SPLICED onto the stored history (merge_timeseries_history) instead
    of overwriting it — the steady-state lifecycle (retention aged
    days away, then new data rotated the content token) keeps the full
    ts_series. Pass False for a from-scratch rebuild (e.g. after a
    config change that redefines the series semantics)."""
    from .network_inversion import invert_network

    # the lineage must hash the 1h tier's CONTENT IDENTITY, not just
    # the config: after ANY change to the tier — incremental extension,
    # a late-arriving recompute of the open boundary hour (same row
    # count, same max hour, new values), retention aging hot days away
    # — the same (cfg, method, input_id) would otherwise keep every
    # bucket checkpointed and the timeseries table would silently go
    # stale. content_token is the store's write-snapshot identity
    # (Iceberg snapshot id / parquet file-listing hash), so it moves
    # with every committed write; it also replaces the old
    # max(hour_idx) fingerprint's extra Spark job with a metadata read.
    # Retention-ONLY changes are the one safe exception — the aged
    # history is already inside the checkpointed ts_series — and the
    # lifecycle CLI re-validates them via
    # restamp_inversion_checkpoints; any invalidation here without a
    # restamp is conservative, never stale.
    lineage = inversion_lineage(spark, store, cfg, method, input_id)

    def write(df_1h, done_set):
        inv = invert_network(df_1h, cfg, method=method)
        if preserve_history and store.exists(spark, TIER_TS):
            old = store.read(spark, TIER_TS)
            if "hours" in old.columns:   # pre-coverage tables can't splice
                if done_set:
                    # only the buckets being re-solved participate; done
                    # buckets' partitions are untouched by the MERGE
                    old = old.where(
                        ~F.col("bucket").isin([int(b) for b in done_set]))
                inv = merge_timeseries_history(old, inv)
        store.merge_partitions(inv, TIER_TS)

    # cull on the DOC-PURE derived bucket (the timeseries table's
    # partition key — invert_network re-derives it from the doc hash),
    # NOT the input's bucket column: under salt_by_day the input
    # buckets are (doc, day)-salted and a per-input-bucket skip would
    # feed partial docs to the solver. This is what makes per-bucket
    # resume safe under salting (it was force-disabled before round 5).
    return _checkpointed_step(spark, store, cfg, TIER_TS, lineage, resume,
                              lambda: store.read(spark, TIER_1H),
                              doc_bucket(cfg), write, method=method)


def inversion_lineage(spark: SparkSession, store: TierStore,
                      cfg: EngineConfig, method: str = "L2",
                      input_id: str = "rollup_1h") -> str:
    """The lineage run_inversion_step would use RIGHT NOW — a cheap
    metadata read (content token + hash), used to snapshot the
    pre-retention lineage for restamp_inversion_checkpoints."""
    token = store.content_token(spark, TIER_1H)
    return lineage_hash(cfg, TIER_TS + ":" + method,
                        f"{input_id}@{token}")


def restamp_inversion_checkpoints(spark: SparkSession, store: TierStore,
                                  cfg: EngineConfig, old_lineage: str,
                                  method: str = "L2",
                                  input_id: str = "rollup_1h") -> int:
    """Re-validate inversion completions after a RETENTION-ONLY
    change to the 1h tier. Retention strictly REMOVES aged hot rows
    whose inverted history the checkpointed ts_series already covers,
    so the existing output stays correct — and strictly MORE complete
    than a recompute from the post-retention hot window would be. The
    caller (the lifecycle CLI's retention step) snapshots
    ``old_lineage`` via inversion_lineage() BEFORE aging; only
    buckets whose LATEST checkpoint row still carries that lineage are
    re-logged under the post-retention lineage, so a tier change from
    any other source can never be laundered through a restamp. Returns
    the number of buckets restamped."""
    new_lineage = inversion_lineage(spark, store, cfg, method, input_id)
    if new_lineage == old_lineage:
        return 0
    ckpt = CheckpointLog(store)
    counts = ckpt.latest_completions(spark, TIER_TS, old_lineage)
    if counts:
        ckpt.log_completion(spark, TIER_TS, new_lineage, counts)
    return len(counts)


def incremental_raw_filter(raw_obs: DataFrame, boundary_h: int,
                           cfg: EngineConfig) -> DataFrame:
    """Rows at/after the watermark hour, expressed so the scan prunes.

    The ts >= predicate comes FIRST: the production sequences table is
    partitioned by (bucket, days(ts)) and ts is monotone in slot (ts =
    epoch0 + slot*slot_seconds), so a plain comparison on ts reaches
    the scan as a partition-pruning / parquet min-max
    predicate — the previous (slot/H).cast(int) expression full-scanned
    raw at 100 TB. The slot predicate stays as the exact window
    boundary; both select identical rows by construction."""
    out = raw_obs
    if "ts" in raw_obs.columns:
        boundary_ts = cfg.epoch0 + boundary_h * cfg.hour_seconds
        out = out.where(
            F.col("ts") >= F.timestamp_seconds(F.lit(boundary_ts)))
    return out.where(
        (F.col("slot") / cfg.slots_per_hour).cast("int") >= boundary_h)


def rollup_touched_days(tier_1h: DataFrame, touched,
                        cfg: EngineConfig) -> DataFrame:
    """The 1h -> 1d leg of both incremental paths: ``rollup_1d`` over
    the FULL stored 1h rows of the days ``touched(day_idx)`` selects.
    Re-rolling a day from all of its stored hours, not only the hours
    just recomputed, is what makes a day whose hours arrive across
    rounds or micro-batches converge to the batch rollup_1d result;
    the stored 1h tier is the one sub-aggregate every 1d window
    reuses. Each caller keeps its own merge, because the batch and
    streamed 1d tiers are partitioned differently."""
    day = (F.col("hour_idx") / cfg.hours_per_day).cast("int")
    return rollup_1d(tier_1h.where(touched(day)), cfg)


def run_cascade_incremental(
    spark: SparkSession,
    raw_obs: DataFrame,
    store: TierStore,
    cfg: EngineConfig = EngineConfig(),
) -> dict:
    """Update-mode incremental extension (the reference's T3/T4:
    update_or_skip_inversion + persisted squeezed carry,
    objects/utils.py:1220-1241, objects/inversion_utils.py:149-217):
    new arrivals extend the tiers WITHOUT recomputing closed windows.

    Semantics: windows strictly below the tier's watermark (stored in
    the checkpoint log) are immutable; the watermark window itself
    (possibly open at last run) is recomputed from raw; tier rows =
    old rows below the boundary ∪ freshly-computed rows at/after it,
    MERGEd per bucket. On Iceberg
    this is literally `MERGE INTO tier ... WHEN MATCHED ... ON
    hour_idx >= boundary`; the parquet fallback composes the union and
    overwrites partitions."""
    ckpt = CheckpointLog(store)

    def extend(tier: str, unit: str, fresh) -> tuple[DataFrame, dict]:
        """Splice ``fresh(boundary)`` onto the stored rows below the
        tier's watermark, MERGE, then store the new watermark."""
        idx = unit + "_idx"
        wm = ckpt.watermark(spark, tier)
        boundary = max(wm, 0)
        merged = fresh(boundary)
        if wm >= 0 and store.exists(spark, tier):
            old = store.read(spark, tier).where(F.col(idx) < boundary)
            merged = old.unionByName(merged, allowMissingColumns=True)
        store.merge_partitions(merged, tier)
        stored = store.read(spark, tier)
        new_wm = stored.agg(F.max(idx)).collect()[0][0] or 0
        ckpt.set_watermark(spark, tier, new_wm)   # after the MERGE commits
        return stored, {f"recomputed_from_{unit}": boundary,
                        "new_watermark": int(new_wm)}

    tier_1h, m1 = extend(TIER_1H, "hour", lambda b: rollup_1h(
        incremental_raw_filter(raw_obs, b, cfg), cfg))
    # only days touched by recomputed hours change
    _, m2 = extend(TIER_1D, "day", lambda b: rollup_touched_days(
        tier_1h, lambda day: day >= b, cfg))
    return {"raw->1h": m1, "1h->1d": m2}
