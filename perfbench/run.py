#!/usr/bin/env python3
"""Benchmark of the miaplpy_spark engine on local[<cores>].

    python3 perfbench/run.py --workload engine|lifecycle \
        --seed N --seconds S --trace 0|1 [--scale default|tiny] [--record]

One closed-loop client runs the workload's ops back to back; Spark's
task threads are the only concurrency. Inputs are generated from the
seed (and cached by seed and size under .perfbench/cache), every op
runs once untimed, then ops repeat in round-robin order until
--seconds have passed. Every op's output is checked; a failed check
counts as a failed op and is never timed.

--trace 0 prints the end-to-end table and, as the last line, a JSON
object with the end-to-end metrics. --trace 1 runs the same loop
untraced, then again in a fresh session with the Spark event log,
catalog spans, noop-sink prefix spans and kernel micro-timings, prints
one layer table per op and ends with the per-layer metrics as JSON.
--record stores this run's op outputs as the reference for the seed.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
OP_TIMEOUT_S = 120.0
# noop-prefix probes run this many times in turn and keep the fastest:
# the first pass also compiles each prefix's new plan
PROBE_REPEATS = 2
DRIVER_MEMORY = "2g"

# Every workload reports each of these, so they are the bounded ones.
# round_cpu_s is the CPU the process tree spends on one closed-loop round
# (the sum of the ops' median CPU), the core-seconds a user pays. The
# round's wall time, round_s, rides with the per-layer metrics: on a host
# with steal it spread 12-17% over ten runs, too wide to bound.
END_TO_END = [("setup_s", "s"), ("peak_rss_mb", "MB"), ("round_cpu_s", "s")]
# The per-op end-to-end metrics (medians of the untraced timed samples)
# and the workload-specific ones. Each applies to one workload only, so
# they ride with the per-layer metrics, 0 where the workload lacks them.
OP_METRICS = [("round_s", "s"), ("cascade_s", "s"), ("cascade_shp_s", "s"),
              ("rolled_points_per_s", "rows/s"), ("invert_l2_s", "s"),
              ("invert_wls_s", "s"), ("invert_l1_s", "s"), ("lifecycle_s", "s"),
              ("resume_s", "s"), ("warehouse_bytes_per_input_byte", "ratio"),
              ("q52_s", "s"), ("error_rate", "fraction")]

_PY = ("py_sent_bytes", "bytes"), ("py_recv_bytes", "bytes"), ("py_s", "s"), \
      ("rows_in", "rows"), ("rows_out", "rows")
KERNELS = ["gapfill.fill_dense_batch", "phase_linking.est_corr_batch",
           "phase_linking.regularize_matrix_batch",
           "phase_linking.emi_phase_batch_status", "phase_linking.test_ps_batch",
           "shp.ecdf_distance_batch", "lstsq.estimate_timeseries_batch",
           "lstsq.estimate_timeseries_wls_batch", "lstsq.invert_l1_batch",
           "codecs.encode_dod", "codecs.encode_gorilla", "codecs.decode_dod",
           "codecs.decode_gorilla"]
CATALOG_TABLES = ["rollup_1h", "rollup_1d", "timeseries", "rollup_1h_cold",
                  "checkpoints"]
CATALOG_CALLS = ["merge_partitions", "overwrite", "append", "content_token"]
LIFECYCLE_SPANS = ["cascade.run_cascade_s", "cascade.run_inversion_step_s",
                   "compress.apply_retention_1h_s", "cascade.restamp_s"]
CURATE_KEYS = [("exchange.count", "count"), ("exchange.write_bytes", "bytes"),
               ("scan.bytes", "bytes"), ("tasks.cpu_s", "s")]
NOOP_SPANS = {"rollup.scan": "rollup.scan_noop_s", "rollup_1h": "rollup_1h.noop_s",
              "rollup_1d": "rollup_1d.noop_s", "attach_doc_dim": "attach_doc_dim.s"}

PER_LAYER = (
    OP_METRICS
    + [("scan.time_s", "s"), ("scan.bytes", "bytes"), ("scan.rows", "rows"),
     ("exchange.count", "count"), ("exchange.write_bytes", "bytes"),
     ("exchange.fetch_wait_s", "s"), ("sort.time_s", "s"),
     ("sort.spill_bytes", "bytes"), ("jvm.gc_s", "s"), ("tasks.count", "count"),
     ("tasks.cpu_s", "s"), ("python.boot_s", "s"), ("python.init_s", "s")]
    + [(f"{layer}.{m}", u) for layer in ("rollup_1h", "rollup_1d") for m, u in _PY]
    + [("network_inversion.py_sent_bytes", "bytes"), ("network_inversion.py_s", "s"),
       ("network_inversion.rows_in", "rows"), ("network_inversion.rows_out", "rows"),
       ("network_inversion.doc_pairs", "count")]
    + [("compress.py_s", "s"), ("compress.rows_in", "rows"),
       ("compress.n_blobs", "count"), ("compress.raw_bytes", "bytes"),
       ("compress.blob_bytes", "bytes")]
    + [(name, "s") for name in NOOP_SPANS.values()]
    + [(f"kernels.{k}_s", "s") for k in KERNELS]
    + [(name, "s") for name in LIFECYCLE_SPANS]
    + [(f"catalog.{c}_s", "s") for c in CATALOG_CALLS] + [("catalog.calls", "count")]
    + [("cascade.buckets_skipped", "count"), ("cascade.buckets_processed", "count"),
       ("checkpoint.rows", "rows"), ("resume.skip_ratio", "ratio")]
    + [(f"catalog.{t}.{k}", u) for t in CATALOG_TABLES
       for k, u in (("files", "count"), ("bytes", "bytes"))]
    + [(f"q52.{k}", u) for k, u in CURATE_KEYS]
    + [("coverage.cascade_gap", "fraction"), ("coverage.invert_l1_gap", "fraction"),
       ("tracing.overhead_s", "s"), ("host.steal_pct", "%")]
)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["engine", "lifecycle"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["default", "tiny"], default="default")
    ap.add_argument("--record", action="store_true",
                    help="store this run's op outputs as the seed's reference")
    return ap.parse_args(argv)


def pin_cores() -> int:
    """Pin this process tree to the cores it may use; returns their
    number (the N of local[N])."""
    cores = sorted(os.sched_getaffinity(0))
    os.sched_setaffinity(0, cores)
    return len(cores)


def tail_stat(samples: list[float]) -> tuple[str, float] | None:
    """The highest percentile that has at least ten samples beyond it."""
    n = len(samples)
    for p in (99.9, 99, 95, 90, 75, 50):
        if n * (1 - p / 100) >= 10:
            qs = statistics.quantiles(samples, n=1000, method="inclusive")
            return f"p{p:g}", qs[int(round(p * 10)) - 1]
    return None


# ------------------------------------------------------------- session


def start_session(ncores: int, tmp: str, event_log: str | None):
    from miaplpy_spark.session import get_spark

    conf = {"spark.driver.memory": DRIVER_MEMORY,
            # no hsperfdata file under /tmp: the run writes only in its checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false"}
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_log,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark(app_name="perfbench", master=f"local[{ncores}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """End the JVM (and with it any Python workers) and wait until
    every process this run started has exited."""
    from pyspark import SparkContext

    from probes import process_tree

    before = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()       # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 15
    while time.time() < deadline:
        alive = [p for p in before if os.path.exists(f"/proc/{p}")
                 and _state(p) != "Z"]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return "Z"


# --------------------------------------------------------------- phase


class Phase:
    """One session: inputs, warmup, the timed closed loop and, when
    traced, the probes."""

    def __init__(self, args, ncores: int, tmp: str, traced: bool):
        from probes import Tracer
        from workloads import WORKLOADS

        self.args, self.ncores, self.tmp, self.traced = args, ncores, tmp, traced
        self.tracer = Tracer(traced)
        self.event_log = os.path.join(tmp, "eventlog") if traced else None
        self.wl = WORKLOADS[args.workload](STATE, args.seed, args.scale,
                                           self.tracer)
        self.wl.work_dir = os.path.join(tmp, "work")
        self.samples: dict[str, list[dict]] = {op: [] for op in self.wl.ops}
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.probes: dict[str, float] = {}
        self.kernel_rows: list[dict] = []
        self.values: dict[str, dict] = {}
        self.warm: dict[str, float] = {}

    def run_op(self, spark, op: str, label: str) -> None:
        from probes import OP_PROPERTY, tree_cpu_s

        wl, sc = self.wl, spark.sparkContext
        self.attempted += 1
        wl.before_op(op)
        sc.setLocalProperty(OP_PROPERTY, label)
        timer = threading.Timer(OP_TIMEOUT_S, sc.cancelAllJobs)
        timer.start()
        span_idx = len(self.tracer.spans)
        try:
            cpu0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
            with self.tracer.span(op, label=label):
                values = wl.run_op(spark, op)
            wall = time.perf_counter() - t0
            cpu = tree_cpu_s(os.getpid()) - cpu0
            timer.cancel()
            sc.setLocalProperty(OP_PROPERTY, f"check:{label}")
            errors = wl.after_op(spark, op, values) + wl.check(op, values)
        except Exception as exc:     # a failed op is counted, never timed
            timer.cancel()
            errors = [f"{op} ({label}) raised {type(exc).__name__}: "
                      f"{str(exc).splitlines()[0] if str(exc) else ''}"]
        finally:
            sc.setLocalProperty(OP_PROPERTY, None)
        if errors:
            self.failed += 1
            self.errors += errors
            return
        self.values.setdefault(op, values)
        if label.startswith("warm:"):
            self.warm[op] = wall
        else:
            self.samples[op].append({"wall": wall, "cpu": cpu, "label": label,
                                     "span": span_idx if self.traced else None})

    def run(self, t_proc: float):
        from probes import cpu_times, steal_pct

        args = self.args
        t0 = time.perf_counter()
        spark = start_session(self.ncores, self.tmp, self.event_log)
        try:
            t1 = time.perf_counter()
            self.cache = self.wl.prepare(spark)
            t2 = time.perf_counter()
            for op in self.wl.ops:
                self.run_op(spark, op, f"warm:{op}")
            self.setup_s = time.time() - t_proc
            self.setup_parts = {"session": t1 - t0, "inputs": t2 - t1,
                                "warmup": time.perf_counter() - t2}
            steal0, t_loop = cpu_times(), time.perf_counter()
            i = 0
            while True:
                for op in self.wl.ops:
                    done = time.perf_counter() - t_loop >= args.seconds
                    # an op still unsampled after a full round keeps failing
                    if done and (i > 0 or all(self.samples.values())):
                        break
                    self.run_op(spark, op, f"{op}#{i}")
                else:
                    i += 1
                    continue
                break
            self.loop_s = time.perf_counter() - t_loop
            self.steal = steal_pct(steal0, cpu_times())
            if self.traced:
                self.run_probes(spark)
        finally:
            spark.stop()
            stop_jvm()          # each phase warms up from a fresh JVM
        if self.traced:
            from probes import read_event_log
            self.spark_metrics = read_event_log(self.event_log)
        return self

    def run_probes(self, spark) -> None:
        """Noop-sink prefix spans (engine) and kernel micro-timings."""
        import kernels_micro
        from probes import OP_PROPERTY

        if self.args.workload == "engine":
            # each prefix forced into a noop sink, innermost first; the
            # last step is the whole op, so its aggregation is a layer too
            steps = []
            for op, frames in (("cascade", self.wl.cascade_frames(False)),
                               ("invert_l1", self.wl.inversion_frames("L1"))):
                steps += [(op, layer, lambda df=df: df.write.format("noop")
                           .mode("overwrite").save()) for layer, df in frames]
                steps.append((op, "aggregate",
                              lambda op=op: self.wl.run_op(spark, op)))
            times: dict[str, list[float]] = {}
            for _ in range(PROBE_REPEATS):
                for op, layer, fn in steps:
                    spark.sparkContext.setLocalProperty(
                        OP_PROPERTY, f"probe:{op}:{layer}")
                    t0 = time.perf_counter()
                    fn()
                    times.setdefault(f"{op}:{layer}", []).append(
                        time.perf_counter() - t0)
            spark.sparkContext.setLocalProperty(OP_PROPERTY, None)
            self.probes = {k: min(v) for k, v in times.items()}
        self.kernel_rows = kernels_micro.run(self.args.seed, self.wl.kernel_groups)

    # ---- summaries

    def medians(self, key: str = "wall") -> dict[str, float]:
        return {op: statistics.median(s[key] for s in v)
                for op, v in self.samples.items() if v}

    def op_spark(self, op: str) -> dict[str, float]:
        """Median over the op's timed samples of each Spark metric; task
        times as core-seconds divided by the cores used."""
        per = [self.spark_metrics.get(s["label"], {}) for s in self.samples[op]]
        keys = set().union(*per) if per else set()
        out = {}
        for k in keys:
            v = statistics.median(m.get(k, 0.0) for m in per)
            out[k] = v / self.ncores if k.endswith("_s") else v
        return out

    def op_metrics(self, peak_rss: int) -> list[tuple[str, float, str]]:
        """(name, value, unit) of the workload's own end-to-end metrics:
        its op timings, then set-up, memory, errors and derived ones."""
        med = self.medians()
        out = [(self.wl.op_metric.get(op, op + "_s"), v, "s")
               for op, v in med.items()]
        out += [("setup_s", self.setup_s, "s"),
                ("peak_rss_mb", peak_rss / 2**20, "MB"),
                ("error_rate", self.failed / max(self.attempted, 1), "fraction")]
        if len(med) == len(self.wl.ops):
            out += [("round_s", sum(med.values()), "s")]
            out += self.wl.named_metrics(med)
        return out

    def median_sample(self, op: str) -> dict:
        s = sorted(self.samples[op], key=lambda r: r["wall"])
        return s[(len(s) - 1) // 2]


# ------------------------------------------------------------- reports


def fmt(v: float) -> str:
    if v == 0:
        return "0"
    if abs(v) >= 1e5 or abs(v) < 1e-3:
        return f"{v:.4g}"
    return f"{v:.4f}".rstrip("0").rstrip(".")


def end_to_end(ph: Phase, peak_rss: int) -> dict[str, float]:
    med = ph.medians()
    if len(med) < len(ph.wl.ops):
        return {}
    return {"setup_s": ph.setup_s, "peak_rss_mb": peak_rss / 2**20,
            "round_cpu_s": sum(ph.medians("cpu").values())}


def print_e2e(ph: Phase, e2e: dict, peak_rss: int) -> None:
    wl, a = ph.wl, ph.args
    print(f"perfbench {a.workload}: seed={a.seed} scale={a.scale} "
          f"cores={ph.ncores} seconds={a.seconds:g} closed loop, 1 client")
    parts = ", ".join(f"{k} {v:.2f} s" for k, v in ph.setup_parts.items())
    parts += " (" + ", ".join(f"{k} {v:.2f} s" for k, v in ph.warm.items()) + ")"
    print(f"set-up: {parts} (inputs {ph.cache}); timed loop {ph.loop_s:.2f} s; "
          f"host steal {ph.steal:.2f}%; checks against {wl.check_mode()}")
    print(f"{'metric':34} {'median':>12} {'tail':>18} {'n':>4}  unit")
    for op in wl.ops:
        walls = [s["wall"] for s in ph.samples[op]]
        if not walls:
            print(f"{wl.op_metric.get(op, op + '_s'):34} {'failed':>12}")
    for name, v, unit in ph.op_metrics(peak_rss):
        op = next((o for o in wl.ops
                   if wl.op_metric.get(o, o + "_s") == name), None)
        walls = [s["wall"] for s in ph.samples[op]] if op else [v]
        t = tail_stat(walls)
        tail = f"{t[0]}={fmt(t[1])}" if t else "-"
        print(f"{name:34} {fmt(v):>12} {tail:>18} {len(walls):>4}  {unit}")
    for name, unit in END_TO_END:
        if name in e2e and name not in ("setup_s", "peak_rss_mb"):
            print(f"{name:34} {fmt(e2e[name]):>12} {'-':>18} {'1':>4}  {unit}")
    for e in ph.errors:
        print(f"CHECK FAILED: {e}")


def layer_metrics(plain: Phase, ph: Phase, peak_rss: int) -> dict[str, float]:
    """The per-layer metrics of a traced phase, plus the untraced
    phase's per-op end-to-end metrics."""
    wl, out = ph.wl, {name: 0.0 for name, _ in PER_LAYER}
    for name, v, _ in plain.op_metrics(peak_rss):
        if name in out:
            out[name] = v
    per_op = {op: ph.op_spark(op) for op in wl.ops if ph.samples[op]}
    for op, m in per_op.items():
        for k, v in m.items():
            if k in out:
                out[k] += v
        if op == "q52":
            for k, _ in CURATE_KEYS:
                out[f"{op}.{k}"] = m.get(k, 0.0)
    for r in ph.kernel_rows:
        if r["name"] in out:
            out[r["name"]] = r["seconds"]
    med, base = ph.medians(), plain.medians()
    out["tracing.overhead_s"] = sum(med.values()) - sum(base.values())
    out["host.steal_pct"] = ph.steal
    if wl.name == "engine":
        for layer, name in NOOP_SPANS.items():
            out[name] = ph.probes.get(f"cascade:{layer}", 0.0)
        out["coverage.cascade_gap"] = (
            med["cascade"] - ph.probes["cascade:aggregate"]) / med["cascade"]
        out["coverage.invert_l1_gap"] = (
            med["invert_l1"] - ph.probes["invert_l1:aggregate"]
        ) / med["invert_l1"]
        out["network_inversion.doc_pairs"] = sum(
            ph.values[op]["pairs"] for op in wl.ops if op.startswith("invert"))
    if wl.name == "lifecycle":
        cold, resume = ph.values["cold"], ph.values["resume"]
        for k in ("n_blobs", "raw_bytes", "blob_bytes"):
            out[f"compress.{k}"] = cold[k]
        out["network_inversion.doc_pairs"] = wl.doc_pairs()
        out["cascade.buckets_skipped"] = cold["skipped"] + resume["skipped"]
        out["cascade.buckets_processed"] = sum(
            v[k] for v in (cold, resume)
            for k in ("processed_1h", "processed_1d", "processed_ts"))
        out["checkpoint.rows"] = sum(cold[k] for k in ("rows_1h", "rows_1d", "rows_ts"))
        out["resume.skip_ratio"] = resume["skipped"] / (3 * wl.size["buckets"])
        for t in CATALOG_TABLES:
            files, size = wl.warehouse_usage.get(t, (0, 0))
            out[f"catalog.{t}.files"], out[f"catalog.{t}.bytes"] = files, size
        for op in wl.ops:
            tree = ph.tracer.tree(ph.median_sample(op)["span"])
            for _, s, _ in tree:
                name = s["name"]
                if op == "cold" and name in LIFECYCLE_SPANS:
                    out[name] += s["end"] - s["start"]
                if name.startswith("catalog."):
                    out[name + "_s"] += s["end"] - s["start"]
                    out["catalog.calls"] += 1
    return out


def print_layers(plain: Phase, ph: Phase) -> None:
    wl, n = ph.wl, ph.ncores
    base = plain.medians()
    print(f"perfbench {wl.name} traced: seed={ph.args.seed} cores={n}; "
          f"task times are core-seconds / {n} cores")
    for op in wl.ops:
        if not ph.samples[op]:
            print(f"-- {op}: no successful timed sample")
            continue
        wall = statistics.median(s["wall"] for s in ph.samples[op])
        over = wall - base[op] if op in base else float("nan")
        print(f"-- {op}: wall {wall:.3f} s traced (n={len(ph.samples[op])}), "
              f"{base.get(op, float('nan')):.3f} s untraced, "
              f"tracing overhead {over:+.3f} s")
        rows = _span_rows(ph, op, wall)
        print(f"   {'span':40} {'span_s':>9} {'self_s':>9}")
        for depth, name, span, self_s in rows:
            print(f"   {'  ' * depth + name:40} {span:9.3f} {self_s:9.3f}")
        covered = sum(r[2] for r in rows if r[0] == 1)
        if len(rows) > 1:
            print(f"   coverage gap: {(wall - covered) / wall:+.1%} of wall "
                  f"not inside a layer span")
        m = ph.op_spark(op)
        print("   spark: " + ", ".join(f"{k}={fmt(v)}" for k, v in sorted(m.items())))
    print(f"-- kernels (sparkless, 1 thread, median s per call)")
    for r in ph.kernel_rows:
        print(f"   {r['name']:56} {r['seconds']:.6f} s  calls={r['calls']:<5} "
              f"work={r['work']:<6} bytes={r['bytes']}")


def _span_rows(ph: Phase, op: str, wall: float) -> list[tuple]:
    """(depth, name, span_s, self_s) of one op's layer spans."""
    if ph.wl.name == "engine" and op in ("cascade", "invert_l1"):
        # nested noop-sink prefixes: each contains the previous one
        layers = [(k.split(":", 1)[1], v) for k, v in ph.probes.items()
                  if k.startswith(op + ":")]
        rows = [(0, op, wall, wall - layers[-1][1])]
        for depth, i in enumerate(range(len(layers) - 1, -1, -1), start=1):
            inner = layers[i - 1][1] if i > 0 else 0.0
            rows.append((depth, layers[i][0], layers[i][1], layers[i][1] - inner))
        return rows
    if ph.traced and ph.tracer.spans and ph.samples[op][0]["span"] is not None:
        tree = ph.tracer.tree(ph.median_sample(op)["span"])
        return [(d, s["name"] + (f" [{s['table']}]" if "table" in s else ""),
                 s["end"] - s["start"], self_s) for d, s, self_s in tree]
    return [(0, op, wall, wall)]


# ---------------------------------------------------------------- main


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "miaplpy_spark", "__init__.py")):
        print(f"perfbench: no miaplpy_spark package under {ROOT}; run from a "
              f"checkout of the repository", file=sys.stderr)
        return 2
    # one BLAS thread per task, as the engine session configures its
    # workers; set before NumPy is first imported
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    sys.path.insert(0, ROOT)
    from probes import RssSampler, process_start_time

    t_proc = process_start_time()
    ncores = pin_cores()
    tmp = os.path.join(STATE, f"tmp-{os.getpid()}")
    os.makedirs(tmp)
    os.makedirs(os.path.join(STATE, "cache"), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    try:
        with RssSampler() as rss:
            plain = Phase(args, ncores, tmp, traced=False).run(t_proc)
            traced = Phase(args, ncores, tmp, traced=True).run(t_proc) \
                if args.trace else None
            rss.sample()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    phases = [plain] + ([traced] if traced else [])
    attempted = sum(p.attempted for p in phases)
    failed = sum(p.failed for p in phases)
    e2e = end_to_end(plain, rss.peak)
    print_e2e(plain, e2e, rss.peak)
    if traced:
        print_layers(plain, traced)
    correct = failed == 0 and bool(e2e)
    if args.record and correct:
        plain.wl.record(plain.values)
    if traced:
        vals = layer_metrics(plain, traced, rss.peak) if correct else {}
        metrics = {k: {"value": vals.get(k, 0.0), "unit": u} for k, u in PER_LAYER}
    else:
        metrics = {k: {"value": e2e.get(k, 0.0), "unit": u} for k, u in END_TO_END}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
