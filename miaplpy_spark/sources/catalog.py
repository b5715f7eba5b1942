"""Tier-table storage with per-partition MERGE semantics.

Target design is Iceberg: each tier (``rollup_1h``, ``rollup_1d``) is
an Iceberg table partitioned by ``bucket``; tier jobs land with
``MERGE INTO`` / ``overwritePartitions()`` so concurrent or retried
jobs are snapshot-isolated, and incremental runs replace only the
buckets they touched (the reference's block writers S5-S7 +
update-mode T3, re-expressed as table commits).

This sandbox ships no Iceberg runtime jar, so ``TierStore`` falls back
to partitioned parquet + Spark's *dynamic partition overwrite*
(``spark.sql.sources.partitionOverwriteMode=dynamic``), which gives
the same per-partition replace semantics single-writer. The Iceberg
path is kept behind ``use_iceberg`` and is what a cluster deployment
uses verbatim.

Every warehouse path, plain or URI (``file:``, ``hdfs://``,
``s3a://``), goes through the Hadoop FileSystem API resolved against
the session's ``fs.defaultFS`` — the same resolution Spark's own
``read.parquet`` / ``write.parquet`` apply to the same string, so a
metadata call never looks at a different filesystem than the data
it describes.

Writes that read the table they replace: a dynamic-mode merge stages
its output and commits after every read, so ``merge_partitions``
takes such a frame as is; a static-mode overwrite deletes the table
before its tasks read it, so ``overwrite`` materializes its input
first.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession


class TierStore:
    def __init__(self, base_dir: str, use_iceberg: bool = False,
                 namespace: str = "miaplpy"):
        self.base_dir = base_dir
        self.use_iceberg = use_iceberg
        self.namespace = namespace

    def path(self, table: str) -> str:
        return self.base_dir.rstrip("/") + "/" + table

    @staticmethod
    def _hadoop_fs(spark: SparkSession, p: str):
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(p)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        return fs, hpath

    def exists(self, spark: SparkSession, table: str) -> bool:
        if self.use_iceberg:
            return spark.catalog.tableExists(f"{self.namespace}.{table}")
        # cheap driver-side metadata check (one LIST call)
        fs, hpath = self._hadoop_fs(spark, self.path(table))
        if not fs.exists(hpath) or not fs.getFileStatus(hpath).isDirectory():
            return False
        return any(not st.getPath().getName().startswith((".", "_"))
                   for st in fs.listStatus(hpath))

    def read(self, spark: SparkSession, table: str,
             schema: str | None = None) -> DataFrame:
        """``schema`` (DDL) skips the parquet fallback's footer-inference
        job for tables whose layout is fixed; Iceberg tables carry
        their own schema."""
        if self.use_iceberg:
            return spark.read.format("iceberg").load(f"{self.namespace}.{table}")
        reader = spark.read.schema(schema) if schema else spark.read
        return reader.parquet(self.path(table))

    def merge_partitions(self, df: DataFrame, table: str,
                         partition_col: str | list[str] = "bucket") -> None:
        """Replace exactly the partitions present in ``df`` (MERGE-like).

        Iceberg: ``writeTo(t).overwritePartitions()`` — atomic snapshot
        commit. Parquet fallback: dynamic partition overwrite — only
        the partition directories present in df are rewritten. The
        overwrite mode is set PER WRITE so MERGE semantics never depend
        on how the session was constructed (a static-mode session
        default would silently turn this into drop-whole-table).
        ``df`` may read this table: the dynamic overwrite stages its
        output and replaces the partitions only after every task has
        read its input.
        """
        cols = ([partition_col] if isinstance(partition_col, str)
                else list(partition_col))
        if self.use_iceberg:
            (df.writeTo(f"{self.namespace}.{table}")
               .partitionedBy(*cols)
               .createOrReplace()
             if not self.exists(df.sparkSession, table)
             else df.writeTo(f"{self.namespace}.{table}").overwritePartitions())
            return
        (df.write.mode("overwrite")
           .option("partitionOverwriteMode", "dynamic")
           .partitionBy(*cols)
           .parquet(self.path(table)))

    def overwrite(self, df: DataFrame, table: str,
                  partition_col: str | list[str] | None = "bucket") -> None:
        """Replace the WHOLE table (unlike merge_partitions, partitions
        absent from ``df`` are dropped too — retention deletes need
        this). Iceberg: createOrReplace snapshot commit; parquet
        fallback: static-mode overwrite. ``partition_col=None`` keeps
        the table unpartitioned (append-log tables). ``df`` may read
        this table: Iceberg reads a snapshot, but a static overwrite
        deletes the old files before its tasks read them, so the
        parquet fallback materializes the input first."""
        cols = ([partition_col] if isinstance(partition_col, str)
                else list(partition_col or []))
        if self.use_iceberg:
            w = df.writeTo(f"{self.namespace}.{table}")
            (w.partitionedBy(*cols) if cols else w).createOrReplace()
            return
        df = df.localCheckpoint(eager=True)
        if not cols:
            df.write.mode("overwrite").parquet(self.path(table))
            return
        if df.isEmpty():
            # partitioned write of 0 rows leaves no schema-bearing
            # files; a plain single-file empty write stays readable
            df.coalesce(1).write.mode("overwrite").parquet(self.path(table))
            return
        (df.write.mode("overwrite")
           .option("partitionOverwriteMode", "static")
           .partitionBy(*cols)
           .parquet(self.path(table)))

    def content_token(self, spark: SparkSession, table: str) -> str:
        """Cheap content-identity token for checkpoint lineage: moves
        whenever the table's stored data changes, however it changed
        (MERGE of an existing partition, retention delete, append,
        in-place recompute of a boundary hour) — unlike a max-index
        watermark, which only sees max-advancing extensions (round-3
        ADVICE). Iceberg: the current snapshot's data totals, a
        metadata-only read (NOT the snapshot id — see below). Parquet
        fallback: hash of the sorted data-file listing
        (relpath, size, mtime ms) — every committed write creates or
        rewrites files, so any content change moves the token; the
        listing costs the same O(files) metadata pass that planning a
        scan of the table does (on object stores this is the one
        LIST call the scan would issue anyway)."""
        if not self.exists(spark, table):
            return "absent"
        if self.use_iceberg:
            # hash the CURRENT snapshot's data TOTALS rather than its
            # id: an empty overwritePartitions commit (zero-row merge
            # on a fully-culled rerun) creates a new snapshot but
            # changes no data, and must NOT rotate the token — while
            # any real change moves record counts or compressed file
            # bytes. "Current" is resolved through the main branch ref,
            # NOT max(committed_at) (round-4 ADVICE): after a rollback
            # / time-travel restore the latest-committed snapshot is
            # the rolled-back one, so a committed_at read would keep
            # validating checkpoints against state the table no longer
            # exposes and the rollback would go undetected until the
            # next write. Residual collision risk (a rewrite preserving
            # total records, file count AND byte size exactly) is
            # documented and vanishingly unlikely for real data.
            rows = spark.sql(
                f"SELECT s.summary FROM {self.namespace}.{table}.snapshots s"
                f" JOIN {self.namespace}.{table}.refs r"
                " ON s.snapshot_id = r.snapshot_id"
                " WHERE r.name = 'main'").collect()
            if not rows:
                return "empty"
            sm = rows[0][0] or {}
            return "|".join(str(sm.get(k, "")) for k in
                            ("total-records", "total-data-files",
                             "total-files-size"))
        # one recursive LIST, the same pass planning a scan of the
        # table performs
        fs, hpath = self._hadoop_fs(spark, self.path(table))
        prefix = str(fs.getFileStatus(hpath).getPath())
        entries = []
        it = fs.listFiles(hpath, True)
        while it.hasNext():
            st = it.next()
            p = str(st.getPath())
            if p.rsplit("/", 1)[-1].startswith((".", "_")):
                continue
            entries.append(f"{p[len(prefix):].lstrip('/')}|{st.getLen()}|"
                           f"{st.getModificationTime()}\n")
        return hashlib.sha256("".join(sorted(entries)).encode()).hexdigest()[:16]

    def append(self, df: DataFrame, table: str,
               partition_col: str | list[str] | None = None) -> None:
        """Append rows; ``partition_col`` lays the parquet fallback out
        as partition directories so later reads prune and
        drop_partitions can age them without rewrites (Iceberg tables
        carry their partition spec from creation, so the argument is
        ignored there)."""
        if self.use_iceberg:
            df.writeTo(f"{self.namespace}.{table}").append()
            return
        w = df.write.mode("append")
        if partition_col:
            cols = ([partition_col] if isinstance(partition_col, str)
                    else list(partition_col))
            w = w.partitionBy(*cols)
        w.parquet(self.path(table))

    def drop(self, spark: SparkSession, table: str) -> None:
        """Delete the whole table."""
        if self.use_iceberg:
            spark.sql(f"DROP TABLE IF EXISTS {self.namespace}.{table}")
            return
        fs, hpath = self._hadoop_fs(spark, self.path(table))
        fs.delete(hpath, True)

    def drop_partitions(self, spark: SparkSession, table: str,
                        partition_col: str, below: int) -> int:
        """Drop whole partitions with ``partition_col < below`` — a
        metadata/directory-level delete, never a rewrite: Iceberg
        issues a partition-aligned DELETE; the parquet fallback removes
        the ``col=value`` directories. Returns the
        number of partitions dropped."""
        if self.use_iceberg:
            spark.sql(f"DELETE FROM {self.namespace}.{table} "
                      f"WHERE {partition_col} < {int(below)}")
            return -1   # Iceberg reports via snapshot summary
        if not self.exists(spark, table):
            return 0
        fs, hpath = self._hadoop_fs(spark, self.path(table))
        dropped = 0
        for st in fs.listStatus(hpath):
            name = st.getPath().getName()
            if name.startswith(f"{partition_col}="):
                try:
                    if int(name.split("=", 1)[1]) < below:
                        fs.delete(st.getPath(), True)
                        dropped += 1
                except ValueError:
                    continue
        return dropped
