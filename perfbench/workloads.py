"""The two workloads: inputs made from the seed, the ops one
closed-loop round runs, and the check each op's output must pass.

Every op is a call into public `miaplpy_spark` functions (or the
certified queries of `__spark_entry__`) ending in one action whose
result comes back to the client; the op's wall time is that call.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import replace

import pyspark.sql.functions as F

from miaplpy_spark.config import EngineConfig, ScaleSpec
from miaplpy_spark.datagen import (generate_doc_dim, generate_documents,
                                   generate_sequences, prepare_observations)
from miaplpy_spark.operators.cascade import (inversion_lineage,
                                             restamp_inversion_checkpoints,
                                             run_cascade, run_inversion_step)
from miaplpy_spark.operators.compress import apply_retention_1h
from miaplpy_spark.operators.network_inversion import invert_network
from miaplpy_spark.operators.rollup import attach_doc_dim, rollup_1d, rollup_1h
from miaplpy_spark.sources.catalog import TierStore

from probes import TimedTierStore, dir_usage, listing

HERE = os.path.dirname(os.path.abspath(__file__))
REFERENCE_FILE = os.path.join(HERE, "reference.json")
CACHE_FORMAT = 1            # bump when an input's layout changes
CACHE_KEEP = 32             # cached input sets kept per workload
CONN = 3                    # inversion pair-network connectivity
# A float aggregate may differ from its reference by this share of the
# sum of the absolute values it adds up (its "<name>_abs" companion, or
# its own magnitude when all terms are positive). Runs on one host agree
# to about 1e-9; the slack covers BLAS builds that round differently and
# the odd window whose eigensolver status flips on another CPU, while a
# wrong kernel moves the sums by far more.
FLOAT_RTOL = 1e-3

# input sizes per scale (see README.md for how they were chosen);
# `tiny` is the self-test's. `corpus` is the curation corpus in docs.
SIZES = {
    "engine": {"default": {"docs": 150, "slots": 480, "buckets": 16},
               "tiny": {"docs": 40, "slots": 480, "buckets": 4}},
    "lifecycle": {"default": {"docs": 30, "slots": 480, "buckets": 2,
                              "corpus": 1000},
                  "tiny": {"docs": 20, "slots": 480, "buckets": 2,
                           "corpus": 300}},
}


def _pairs(hours: int) -> int:
    """Rows of one doc's conn-banded pair network."""
    if hours >= CONN + 1:
        return CONN * hours - CONN * (CONN + 1) // 2
    return hours * (hours - 1) // 2


def _arr_sum(col: str):
    return F.aggregate(col, F.lit(0.0), lambda a, x: a + x.cast("double"))


def _arr_abs_sum(col: str):
    return F.aggregate(col, F.lit(0.0), lambda a, x: a + F.abs(x.cast("double")))


class Workload:
    """Shared plumbing: the seed-keyed input cache and the output checks.

    Subclasses define ``name``, ``ops``, ``kernel_groups``, ``_build``
    (write inputs into a directory), ``_load`` and ``run_op``."""

    name = ""
    ops: tuple[str, ...] = ()
    op_metric: dict[str, str] = {}      # op -> metric name, if not "<op>_s"
    kernel_groups: set[str] = set()     # kernels_micro groups its ops run

    def __init__(self, root: str, seed: int, scale: str, tracer):
        self.seed = seed
        self.scale = scale
        self.size = SIZES[self.name][scale]
        self.tracer = tracer
        self.work_dir = os.path.join(root, "work")
        self.cache_root = os.path.join(root, "cache")
        self.first_values: dict[str, dict] = {}
        self.reference = self._load_reference()

    # ---- inputs

    def cache_key(self) -> dict:
        return {"workload": self.name, "seed": self.seed,
                "format": CACHE_FORMAT, **self.size}

    def prepare(self, spark) -> str:
        """Make the inputs at the seed available; reuse a cached set
        only when its manifest matches the seed and sizes exactly."""
        key = self.cache_key()
        tag = "-".join(f"{k}{v}" for k, v in key.items() if k != "workload")
        path = os.path.join(self.cache_root, f"{self.name}-{tag}")
        manifest = os.path.join(path, "manifest.json")
        try:
            with open(manifest) as f:
                hit = json.load(f)["key"] == key
        except (OSError, ValueError, KeyError):
            hit = False
        if not hit:
            shutil.rmtree(path, ignore_errors=True)
            tmp = path + f".tmp{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            info = self._build(spark, tmp)
            with open(os.path.join(tmp, "manifest.json"), "w") as f:
                json.dump({"key": key, "info": info}, f)
            os.replace(tmp, path)
            self._evict()
        with open(manifest) as f:
            self.info = json.load(f)["info"]
        self.input_dir = path
        self._load(spark)
        return "hit" if hit else "built"

    def _evict(self) -> None:
        mine = sorted((os.path.join(self.cache_root, d)
                       for d in os.listdir(self.cache_root)
                       if d.startswith(self.name + "-") and ".tmp" not in d),
                      key=os.path.getmtime)
        for old in mine[:-CACHE_KEEP]:
            shutil.rmtree(old, ignore_errors=True)

    # ---- checks

    def _ref_key(self) -> str:
        return f"{self.name}/" + ",".join(
            f"{k}={v}" for k, v in sorted(self.size.items()))

    def _load_reference(self) -> dict:
        try:
            with open(REFERENCE_FILE) as f:
                ref = json.load(f)
        except (OSError, ValueError):
            return {}
        return ref.get(self._ref_key(), {}).get(str(self.seed), {})

    def expected_exact(self, op: str) -> dict:
        return {}

    def check(self, op: str, values: dict) -> list[str]:
        """Exact counts against the sizes; every value against the
        values recorded for this seed (reference.json), or, for a seed
        with no recorded values, against this op's first run in the
        process. Floats agree within FLOAT_RTOL of their absolute sum."""
        errors = []
        for k, want in self.expected_exact(op).items():
            if values.get(k) != want:
                errors.append(f"{op}.{k}={values.get(k)} expected {want}")
        base = self.reference.get(op) or self.first_values.get(op)
        if base is None:
            self.first_values[op] = values
            return errors
        for k, want in base.items():
            got = values.get(k)
            if isinstance(want, float) or isinstance(got, float):
                scale = abs(base.get(k + "_abs", want))
                ok = got is not None and abs(got - want) <= FLOAT_RTOL * max(
                    1.0, scale)
            else:
                ok = got == want
            if not ok:
                errors.append(f"{op}.{k}={got} expected {want}")
        return errors

    def check_mode(self) -> str:
        if self.reference:
            return "recorded values"
        return "first-run values (none recorded for this seed)"

    def record(self, values_by_op: dict) -> None:
        """Store this seed's op values as the reference."""
        try:
            with open(REFERENCE_FILE) as f:
                ref = json.load(f)
        except (OSError, ValueError):
            ref = {}
        ref.setdefault(self._ref_key(), {})[str(self.seed)] = values_by_op
        with open(REFERENCE_FILE, "w") as f:
            json.dump(ref, f, indent=1, sort_keys=True)
            f.write("\n")

    # ---- hooks

    def before_op(self, op: str) -> None:
        """Untimed preparation of one op execution."""

    def after_op(self, spark, op: str, values: dict) -> list[str]:
        """Untimed follow-up of one op execution: may add values to
        check; returns check failures."""
        return []

    def named_metrics(self, medians: dict[str, float]) -> list[tuple]:
        """(name, value, unit) of this workload's own end-to-end
        metrics, in addition to the per-op timings."""
        return []


# ------------------------------------------------------------- engine


class Engine(Workload):
    name = "engine"
    ops = ("cascade", "cascade_shp", "invert_l2", "invert_wls", "invert_l1")
    kernel_groups = {"window", "shp", "inversion"}

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        s = self.size
        self.cfg = EngineConfig(seed=self.seed, n_buckets=s["buckets"])
        self.spec = ScaleSpec(n_docs=s["docs"], n_slots=s["slots"])
        self.hours = s["slots"] // self.cfg.slots_per_hour
        self.days = s["slots"] // self.cfg.slots_per_day

    def _build(self, spark, path: str) -> dict:
        """The string-free obs table, its doc dimension and the
        materialised 1h tier."""
        cfg = self.cfg
        obs = prepare_observations(
            generate_sequences(spark, self.spec, cfg, with_tokens=False), cfg)
        obs = (obs.withColumn("doc_key", F.xxhash64("doc_id"))
                  .drop("doc_id", "source", "ts"))
        obs.write.parquet(f"{path}/obs")
        generate_doc_dim(spark, self.spec, cfg).write.parquet(f"{path}/dim")
        attach_doc_dim(rollup_1h(spark.read.parquet(f"{path}/obs"), cfg),
                       spark.read.parquet(f"{path}/dim")
                       ).write.parquet(f"{path}/tier_1h")
        return {"obs_rows": spark.read.parquet(f"{path}/obs").count()}

    def _load(self, spark) -> None:
        self.obs = spark.read.parquet(f"{self.input_dir}/obs")
        self.dim = spark.read.parquet(f"{self.input_dir}/dim")
        self.tier = spark.read.parquet(f"{self.input_dir}/tier_1h")

    def expected_exact(self, op: str) -> dict:
        docs = self.size["docs"]
        if op.startswith("cascade"):
            return {"rows_1d": docs * self.days, "rows_1h": docs * self.hours,
                    "rows_obs": self.info["obs_rows"]}
        return {"docs": docs, "hours": docs * self.hours,
                "pairs": docs * _pairs(self.hours)}

    def cascade_frames(self, shp: bool) -> list[tuple[str, object]]:
        """The cascade's prefixes, innermost first: (layer, DataFrame)."""
        cfg = replace(self.cfg, shp_filter=shp)
        h = rollup_1h(self.obs, cfg)
        d = rollup_1d(h, cfg, assume_partitioned=True)
        return [("rollup.scan", self.obs), ("rollup_1h", h),
                ("rollup_1d", d), ("attach_doc_dim", attach_doc_dim(d, self.dim))]

    def inversion_frames(self, method: str) -> list[tuple[str, object]]:
        return [("tier.scan", self.tier),
                ("network_inversion",
                 invert_network(self.tier, self.cfg, conn=CONN, method=method))]

    def run_op(self, spark, op: str) -> dict:
        if op.startswith("cascade"):
            out = self.cascade_frames(op == "cascade_shp")[-1][1]
            r = out.agg(F.count("*").alias("rows_1d"),
                        F.sum("n_hours").alias("rows_1h"),
                        F.sum("n_obs").alias("rows_obs"),
                        F.sum("quality_1d").alias("quality_1d"),
                        F.sum("mean_quality_1h").alias("quality_1h"),
                        F.sum(_arr_sum("adjusted_phase")).alias("phase"),
                        F.sum(_arr_abs_sum("adjusted_phase")).alias("phase_abs")
                        ).collect()[0]
            ints = ("rows_1d", "rows_1h", "rows_obs")
        else:
            inv = self.inversion_frames(op.split("_")[1].upper())[-1][1]
            n = F.col("n_hours").cast("long")
            pairs = (F.when(n >= CONN + 1, CONN * n - F.lit(CONN * (CONN + 1) // 2))
                     .otherwise((n * (n - 1) / 2).cast("long")))
            r = inv.agg(F.count("*").alias("docs"),
                        F.sum("n_hours").alias("hours"),
                        F.sum(pairs).alias("pairs"),
                        F.sum("inv_quality").alias("quality"),
                        F.sum(_arr_sum("ts_series")).alias("ts_series"),
                        F.sum(_arr_abs_sum("ts_series")).alias("ts_series_abs")
                        ).collect()[0]
            ints = ("docs", "hours", "pairs")
        return {k: (int(v) if k in ints else float(v))
                for k, v in r.asDict().items()}

    def named_metrics(self, medians):
        # the north-star unit: rolled-up points (1h + 1d rows) per second
        points = self.size["docs"] * (self.hours + self.days)
        return [("rolled_points_per_s", points / medians["cascade"], "rows/s")]


# ---------------------------------------------------------- lifecycle


QUERIES = {"q52": "q52_curate_corpus"}


class Lifecycle(Workload):
    """The production step list (cascade, invert, retention) on a fresh
    warehouse, then the same steps again on the completed warehouse,
    then the certified corpus-curation query over a generated corpus."""

    name = "lifecycle"
    ops = ("cold", "resume", *QUERIES)
    kernel_groups = {"window", "inversion", "codecs"}
    op_metric = {"cold": "lifecycle_s"}
    input_id = "perfbench"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        s = self.size
        self.cfg = EngineConfig(seed=self.seed, n_buckets=s["buckets"])
        self.spec = ScaleSpec(n_docs=s["docs"], n_slots=s["slots"])
        self.hours = s["slots"] // self.cfg.slots_per_hour
        self.days = s["slots"] // self.cfg.slots_per_day
        self.n_cold = 0
        self.warehouse = None
        self.warehouse_usage: dict[str, tuple[int, int]] = {}

    def _build(self, spark, path: str) -> dict:
        generate_sequences(spark, self.spec, self.cfg,
                           with_tokens=False).write.parquet(f"{path}/sequences")
        (generate_documents(spark, self.size["corpus"], self.cfg)
         .write.parquet(f"{path}/documents.parquet"))
        return {"input_bytes": dir_usage(f"{path}/sequences")[1]}

    def _load(self, spark) -> None:
        import __spark_entry__

        self.seq_path = f"{self.input_dir}/sequences"
        self.queries = __spark_entry__.queries()

    def store(self):
        if self.tracer.enabled:
            return TimedTierStore(self.warehouse, self.tracer)
        return TierStore(self.warehouse)

    def before_op(self, op: str) -> None:
        if op in QUERIES:
            return
        if op == "cold":
            if self.warehouse:
                shutil.rmtree(self.warehouse, ignore_errors=True)
            self.n_cold += 1
            self.warehouse = os.path.join(self.work_dir, f"wh{self.n_cold}")
            shutil.rmtree(self.warehouse, ignore_errors=True)
        self._before = listing(self.warehouse)

    def expected_exact(self, op: str) -> dict:
        b, docs = self.size["buckets"], self.size["docs"]
        if op == "q52":     # every document gets exactly one decision
            return {"rows": self.size["corpus"]}
        if op == "cold":
            aged = self.days - 1
            return {"processed_1h": b, "processed_1d": b, "processed_ts": b,
                    "skipped": 0, "rows_1h": docs * self.hours,
                    "rows_1d": docs * self.days, "rows_ts": docs,
                    "n_blobs": docs * aged,
                    "n_aged": docs * aged * self.cfg.hours_per_day,
                    "restamped": b}
        return {"processed_1h": 0, "processed_1d": 0, "processed_ts": 0,
                "skipped": 3 * b, "rows_1h": 0, "rows_1d": 0, "rows_ts": 0,
                "n_blobs": 0, "n_aged": 0, "restamped": 0,
                "files_changed": 0}

    def run_op(self, spark, op: str) -> dict:
        if op in QUERIES:
            return {"rows": self.queries[QUERIES[op]](
                spark, self.input_dir).count()}
        cfg, span = self.cfg, self.tracer.span
        store = self.store()
        obs = prepare_observations(spark.read.parquet(self.seq_path), cfg)
        with span("cascade.run_cascade_s"):
            casc = run_cascade(spark, obs, store, cfg, input_id=self.input_id)
        with span("cascade.run_inversion_step_s"):
            inv = run_inversion_step(spark, store, cfg, method="L2",
                                     input_id=self.input_id)
        with span("cascade.inversion_lineage_s"):
            pre = inversion_lineage(spark, store, cfg, method="L2",
                                    input_id=self.input_id)
        with span("cascade.retention_boundary_s"):
            # the lifecycle CLI's default: the newest day stays hot
            boundary = int(store.read(spark, "rollup_1h").agg(
                F.max((F.col("hour_idx") / cfg.hours_per_day).cast("int"))
            ).collect()[0][0] or 0)
        with span("compress.apply_retention_1h_s"):
            ret = apply_retention_1h(spark, store, boundary, cfg)
        restamped = 0
        if ret["n_blobs"]:
            with span("cascade.restamp_s"):
                restamped = restamp_inversion_checkpoints(
                    spark, store, cfg, pre, method="L2",
                    input_id=self.input_id)
        h, d = casc["raw->1h"], casc["1h->1d"]
        values = {
            "processed_1h": h["buckets_processed"],
            "processed_1d": d["buckets_processed"],
            "processed_ts": inv["buckets_processed"],
            "skipped": (h["buckets_skipped"] + d["buckets_skipped"]
                        + inv["buckets_skipped"]),
            "rows_1h": h["rows_written"], "rows_1d": d["rows_written"],
            "rows_ts": inv["rows_written"], "restamped": restamped,
            **{k: ret[k] for k in ("n_blobs", "n_aged", "raw_bytes",
                                   "blob_bytes")},
        }
        if op == "resume":
            after = listing(self.warehouse)
            values["files_changed"] = sum(
                1 for p in set(after) | set(self._before)
                if after.get(p) != self._before.get(p))
        return values

    def after_op(self, spark, op: str, values: dict) -> list[str]:
        """Untimed: read back the float aggregates of the written
        tables and, after a cold cycle, the warehouse size."""
        if op != "cold":
            return []
        store = TierStore(self.warehouse)
        ts = store.read(spark, "timeseries").agg(
            F.sum("inv_quality").alias("q"),
            F.sum(_arr_sum("ts_series")).alias("ts"),
            F.sum(_arr_abs_sum("ts_series")).alias("ts_abs")).collect()[0]
        hot = store.read(spark, "rollup_1h").agg(
            F.sum("quality").alias("q"),
            F.sum(_arr_sum("linked_phase")).alias("phase"),
            F.sum(_arr_abs_sum("linked_phase")).alias("phase_abs")).collect()[0]
        values.update({"ts_quality": float(ts["q"]),
                       "ts_series": float(ts["ts"]),
                       "ts_series_abs": float(ts["ts_abs"]),
                       "hot_quality": float(hot["q"]),
                       "hot_phase": float(hot["phase"]),
                       "hot_phase_abs": float(hot["phase_abs"])})
        self.warehouse_usage = {
            t: dir_usage(os.path.join(self.warehouse, t))
            for t in sorted(os.listdir(self.warehouse))}
        errors = []
        if not (values["raw_bytes"] > 0 and values["blob_bytes"] > 0):
            errors.append("retention reported no blob bytes")
        return errors

    def doc_pairs(self) -> int:
        return self.size["docs"] * _pairs(self.hours)

    def warehouse_ratio(self) -> float:
        total = sum(b for _, b in self.warehouse_usage.values())
        return total / self.info["input_bytes"]

    def named_metrics(self, medians):
        return [("warehouse_bytes_per_input_byte", self.warehouse_ratio(),
                 "ratio")]


WORKLOADS = {w.name: w for w in (Engine, Lifecycle)}
