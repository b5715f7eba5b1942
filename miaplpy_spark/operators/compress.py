"""Compressed-series columns for tier tables: delta-of-delta timestamps
+ Gorilla XOR values packed into ``binary`` blobs, one blob per
(doc_id, day) segment (north_rule; see kernels/codecs.py).

At 10^12 scale the hot tier keeps raw columns and the cold tiers keep
only blobs: a day of hourly points shrinks from 24 rows to one ~100-
byte row, and the blob layout preserves mergeability (blobs are
per-partition, so tier MERGE jobs never rewrite neighbors).

Same execution shape as the rollup kernels: ``mapInArrow`` over the
few columns it reads, one ``carry_groups`` region of complete (doc,
day) segments at a time, then pure NumPy bit packing per segment.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame

from ..config import EngineConfig
from ..kernels.codecs import (
    decode_dod,
    decode_gorilla,
    encode_dod,
    encode_gorilla,
)
from .rollup import (_emit, _group_change, _pa_schema, _strings,
                     _window_change, carry_groups, doc_bucket, with_doc_keys)


COMPRESSED_SCHEMA = (
    "doc_id string, source string, bucket int, day_idx int, n_points int, "
    "ts_blob binary, quality_blob binary, mean_ntok_blob binary, "
    "raw_bytes long, blob_bytes long"
)

DECOMPRESSED_SCHEMA = (
    "doc_id string, source string, bucket int, day_idx int, "
    "hour_ts timestamp, quality double, mean_ntok double"
)


def compress_1h(df_1h: DataFrame,
                cfg: EngineConfig = EngineConfig()) -> DataFrame:
    H = cfg.hours_per_day
    out_schema = _pa_schema(COMPRESSED_SCHEMA)

    def process(region: pa.RecordBatch) -> pa.RecordBatch:
        day = region.column("hour_idx").to_numpy() // H
        starts = np.flatnonzero(_group_change(
            region.column("doc_key").to_numpy(), day))
        ends = np.append(starts[1:], region.num_rows)
        # Arrow hands timestamps over as epoch microseconds (UTC: the
        # engine session pins spark.sql.session.timeZone)
        ts = region.column("hour_ts").cast(pa.int64()).to_numpy() // 10**6
        q = region.column("quality").to_numpy(zero_copy_only=False) \
            .astype(np.float64)
        mn = region.column("mean_ntok").to_numpy(zero_copy_only=False) \
            .astype(np.float64)
        tb, qb, mb = zip(*[
            (encode_dod(ts[s:e]), encode_gorilla(q[s:e]),
             encode_gorilla(mn[s:e])) for s, e in zip(starts, ends)])
        n_points = ends - starts
        return _emit({
            **_strings(region, starts),
            "bucket": region.column("bucket").to_numpy()[starts],
            "day_idx": day[starts],
            "n_points": n_points,
            "ts_blob": pa.array(tb, pa.binary()),
            "quality_blob": pa.array(qb, pa.binary()),
            "mean_ntok_blob": pa.array(mb, pa.binary()),
            "raw_bytes": n_points * (8 + 8 + 8),
            "blob_bytes": np.array([len(x) + len(y) + len(z)
                                    for x, y, z in zip(tb, qb, mb)]),
        }, out_schema)

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for region in carry_groups(
                batches, _window_change(["doc_key"], "hour_idx", H)):
            yield process(region)

    # project before the exchange: mapInArrow ships whole rows, and the
    # 1h tier's linked_phase/squeezed lists are never read here
    return (with_doc_keys(df_1h)
            .select("doc_id", "source", "doc_key", "bucket", "hour_idx",
                    "hour_ts", "quality", "mean_ntok")
            .repartition(cfg.n_buckets, "bucket")
            .sortWithinPartitions("doc_key", "hour_idx")
            .mapInArrow(kernel, COMPRESSED_SCHEMA))


COLD_TIER = "rollup_1h_cold"
TIER_1H = "rollup_1h"


def apply_retention_1h(spark, store, day_boundary: int,
                       cfg: EngineConfig = EngineConfig()) -> dict:
    """Retention aging for the 1h tier: rows with ``day_idx <
    day_boundary`` move into the compressed cold tier (one DoD+Gorilla
    blob row per (doc, day) — ~24x fewer rows, summary series only;
    the eigen ensembles age out, which IS the retention downsample).
    The reference keeps only the squeezed/compressed history for
    closed mini-stacks while the current stack stays full-resolution
    (sequential_phase_linking_cy,
    /root/reference/src/miaplpy/lib/utils.pyx:604-666); this operator
    applies the same hot-window/compressed-history split to tier
    storage.

    Cold-tier MERGE is per (bucket, day_idx), so re-running retention
    only rewrites newly-aged days (idempotent), and a rerun with
    nothing left to age is a full no-op (no writes at all). The
    hot-table delete overwrites the 1h tier with its own survivors
    (``TierStore.overwrite`` materializes them first); an Iceberg
    deployment issues ``DELETE FROM rollup_1h WHERE
    hour_idx < boundary`` instead — a metadata-level partition drop
    when the table is partitioned by (bucket, days(hour_ts)).

    Crash window: the cold-merge -> hot-overwrite pair is not atomic
    on the parquet fallback. A crash between the two writes leaves the
    aged days in BOTH tiers, and read_1h_tiered would double-count
    them until retention is re-run (the rerun re-compresses the same
    days into the same (bucket, day_idx) cold partitions — idempotent
    — and then completes the hot overwrite). An Iceberg deployment
    closes the window by committing the cold MERGE and the hot DELETE
    in one multi-table transaction."""
    from pyspark.sql import functions as F

    H = cfg.hours_per_day
    boundary_h = day_boundary * H
    hot = store.read(spark, TIER_1H)
    old = hot.where(F.col("hour_idx") < boundary_h)
    fresh = hot.where(F.col("hour_idx") >= boundary_h)

    # materialize the blobs ONCE: the metrics aggregation and the
    # cold-tier MERGE would otherwise each recompute the compression
    blobs = compress_1h(old, cfg).localCheckpoint(eager=True)
    agg = blobs.agg(F.count("*").alias("n_blobs"),
                    F.sum("n_points").alias("n_aged"),
                    F.sum("raw_bytes").alias("raw_bytes"),
                    F.sum("blob_bytes").alias("blob_bytes")).collect()[0]
    if agg["n_blobs"]:
        store.merge_partitions(blobs, COLD_TIER,
                               partition_col=["bucket", "day_idx"])
        store.overwrite(fresh, TIER_1H, partition_col="bucket")
    return {"n_aged": int(agg["n_aged"] or 0),
            "n_blobs": int(agg["n_blobs"]),
            "raw_bytes": int(agg["raw_bytes"] or 0),
            "blob_bytes": int(agg["blob_bytes"] or 0)}


def read_1h_tiered(spark, store, cfg: EngineConfig = EngineConfig()) -> DataFrame:
    """Transparent read across retention tiers: hot 1h rows unioned
    with decoded cold blobs, projected to the columns both tiers carry
    (the cold tier keeps the summary series; ensembles exist only
    while hot)."""
    from pyspark.sql import functions as F

    cols = ["doc_id", "source", "bucket", "hour_ts", "quality", "mean_ntok"]
    hot = store.read(spark, TIER_1H).select(
        *[F.col(c).cast("double").alias(c) if c in ("quality", "mean_ntok")
          else F.col(c) for c in cols])
    if not store.exists(spark, COLD_TIER):
        return hot
    cold = decompress_1h(store.read(spark, COLD_TIER)).select(*cols)
    return hot.unionByName(cold)


def codec_roundtrip_events(spark, sf_dir: str,
                           cfg: EngineConfig = EngineConfig()) -> DataFrame:
    """Relational proof that the codec tier is lossless on real data:
    the events table's hourly series (per event_type) goes through
    compress_1h (DoD timestamps + two Gorilla double streams) and
    decompress_1h, then re-emerges as (event_type, h, n_events,
    avg_value) — byte-identical to computing the same aggregates
    directly, because both codecs round-trip exact float64/int64 bit
    patterns. The average divides the pre-rounded sum so the final
    6-dp rounding is deterministic across engines (same rule as
    q02)."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    hourly = (
        ev.groupBy(
            F.col("event_type").alias("doc_id"),
            F.floor(F.unix_timestamp("ts") / 3600).cast("int")
             .alias("hour_idx"))
        .agg(F.round(F.sum("value"), 4).alias("quality"),
             F.count("*").cast("double").alias("mean_ntok"))
        .withColumn("source", F.lit("events"))
        .withColumn("bucket", doc_bucket(cfg))
        .withColumn("hour_ts",
                    F.timestamp_seconds(F.col("hour_idx").cast("long") * 3600))
    )
    blobs = compress_1h(hourly, cfg)
    back = decompress_1h(blobs)
    return back.select(
        F.col("doc_id").alias("event_type"),
        F.floor(F.unix_timestamp("hour_ts") / 3600).cast("long").alias("h"),
        F.col("mean_ntok").cast("long").alias("n_events"),
        F.round(F.col("quality") / F.col("mean_ntok"), 6).alias("avg_value"),
    )


def decompress_1h(df_blobs: DataFrame) -> DataFrame:
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            # per-blob decode is inherent (one codec stream per row);
            # everything row-repeated is np.repeat'd, not looped
            ts_all, q_all, m_all, lens = [], [], [], []
            for tsb, qb, mb in zip(pdf["ts_blob"], pdf["quality_blob"],
                                   pdf["mean_ntok_blob"]):
                ts = decode_dod(bytes(tsb))
                ts_all.append(ts)
                q_all.append(decode_gorilla(bytes(qb)))
                m_all.append(decode_gorilla(bytes(mb)))
                lens.append(len(ts))
            lens = np.asarray(lens)
            rep = lambda c: np.repeat(pdf[c].to_numpy(), lens)
            yield pd.DataFrame({
                "doc_id": rep("doc_id"),
                "source": rep("source"),
                "bucket": rep("bucket"),
                "day_idx": rep("day_idx"),
                "hour_ts": pd.to_datetime(np.concatenate(ts_all), unit="s"),
                "quality": np.concatenate(q_all),
                "mean_ntok": np.concatenate(m_all),
            })

    return df_blobs.mapInPandas(kernel, DECOMPRESSED_SCHEMA)
