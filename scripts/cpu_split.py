#!/usr/bin/env python3
"""Where a round of a perfbench workload spends its CPU, by process and
by JVM thread class.

    python3 scripts/cpu_split.py --workload engine|lifecycle --seed N \\
        [--rounds R] [--scale default|tiny]

Runs the workload's ops once (the warmup), then R rounds of them in the
same session, and prints the CPU-s of each round in these groups:

- by process: the client (this Python process), the Python workers
  (every process under the JVM) and the JVM;
- by JVM thread class: C1 and C2 compiler threads, Spark task threads,
  py4j threads (the calls the client makes: planning, job submission,
  collects), GC threads, the other JVM threads, and threads that exited
  during the round (the JVM's own total less its live threads).

Only the ops' own calls are counted, as perfbench's round_cpu_s counts
them; the untimed checks after each op are not. The last line is the
split as JSON: every round, and the median of the rounds after warmup.

The session is perfbench's own (its start_session), and the JVM also
gets -XX:-UseDynamicNumberOfCompilerThreads through JAVA_TOOL_OPTIONS,
which keeps every compiler thread alive so its CPU stays in its own
class instead of "exited". Inputs are read from, or built into,
perfbench's input cache (.perfbench/cache). Each op's output is checked as perfbench checks it;
a failed check is counted and printed, and the round is still measured.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PERFBENCH = os.path.join(ROOT, "perfbench")
STATE = os.path.join(ROOT, ".perfbench")

PROCESS_GROUPS = ["client", "python_workers", "jvm"]
THREAD_GROUPS = ["c1", "c2", "task", "py4j", "gc", "other", "exited"]


def thread_group(name: str) -> str:
    """The class of a JVM thread from its (15-character) comm name."""
    if name.startswith("C1 CompilerThre"):
        return "c1"
    if name.startswith("C2 CompilerThre"):
        return "c2"
    if name.startswith("Executor task l"):
        return "task"
    if name.startswith("Thread-") or name == "java":
        return "py4j"           # py4j connection threads and the main one
    if name.startswith(("GC Thread", "G1 ")):
        return "gc"
    return "other"


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, fields after comm) of a /proc stat file; None if gone."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    head, rest = raw.rsplit(")", 1)
    return head.split("(", 1)[1], rest.split()


def _own_ticks(fields: list[str]) -> int:
    return int(fields[11]) + int(fields[12])        # utime + stime


def snapshot(client: int, jvm: int) -> dict:
    """Cumulative CPU ticks: the process tree, the client, the JVM and
    each live JVM thread (tid -> (group, ticks))."""
    from probes import tree_cpu_s

    threads = {}
    for tid in os.listdir(f"/proc/{jvm}/task"):
        st = _stat(f"/proc/{jvm}/task/{tid}/stat")
        if st is not None:
            threads[tid] = (thread_group(st[0]), _own_ticks(st[1]))
    hz = os.sysconf("SC_CLK_TCK")
    return {"tree": tree_cpu_s(client) * hz,
            "client": _own_ticks(_stat(f"/proc/{client}/stat")[1]),
            "jvm": _own_ticks(_stat(f"/proc/{jvm}/stat")[1]),
            "threads": threads}


def split(a: dict, b: dict) -> dict[str, float]:
    """CPU-s per group between snapshots ``a`` and ``b``."""
    hz = os.sysconf("SC_CLK_TCK")
    out = dict.fromkeys(PROCESS_GROUPS + THREAD_GROUPS, 0.0)
    out["client"] = (b["client"] - a["client"]) / hz
    out["jvm"] = (b["jvm"] - a["jvm"]) / hz
    out["python_workers"] = (b["tree"] - a["tree"]) / hz \
        - out["client"] - out["jvm"]
    live = 0.0
    for tid, (group, ticks) in b["threads"].items():
        d = (ticks - a["threads"].get(tid, (group, 0))[1]) / hz
        out[group] += d
        live += d
    out["exited"] = out["jvm"] - live
    return out


def run(args, tmp: str) -> list[dict]:
    from probes import Tracer
    from run import start_session
    from workloads import WORKLOADS

    ncores = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload](STATE, args.seed, args.scale, Tracer(False))
    wl.work_dir = os.path.join(tmp, "work")
    spark = start_session(ncores, tmp, None)
    try:
        wl.prepare(spark)
        jvm = spark._jvm
        pid = int(jvm.java.lang.ProcessHandle.current().pid())
        comp = jvm.java.lang.management.ManagementFactory \
            .getCompilationMXBean()
        rounds = []
        for i in range(args.rounds + 1):
            total = dict.fromkeys(PROCESS_GROUPS + THREAD_GROUPS, 0.0)
            total["jit_compile_s"] = 0.0
            failed = 0
            for op in wl.ops:
                wl.before_op(op)
                ms0 = comp.getTotalCompilationTime()
                s0 = snapshot(os.getpid(), pid)
                values = wl.run_op(spark, op)
                s1 = snapshot(os.getpid(), pid)
                ms1 = comp.getTotalCompilationTime()
                for k, v in split(s0, s1).items():
                    total[k] += v
                total["jit_compile_s"] += (ms1 - ms0) / 1000
                errors = wl.after_op(spark, op, values) + wl.check(op, values)
                if errors:
                    failed += 1
                    print(f"round {i}: {op} failed its check: {errors[0]}",
                          file=sys.stderr)
            rounds.append({**{k: round(v, 3) for k, v in total.items()},
                           "failed_ops": failed})
    finally:
        spark.stop()
    return rounds


def report(rounds: list[dict]) -> dict:
    keys = PROCESS_GROUPS + THREAD_GROUPS + ["jit_compile_s"]
    timed = rounds[1:]
    med = {k: statistics.median(r[k] for r in timed) for k in keys}
    head = ["warmup"] + [f"r{i}" for i in range(1, len(rounds))] + ["median"]
    print(f"{'CPU-s':<16}" + "".join(f"{h:>9}" for h in head))
    for k in keys:
        if k == "c1":
            print("  JVM threads:")
        cells = [r[k] for r in rounds] + [med[k]]
        print(f"{k:<16}" + "".join(f"{v:>9.2f}" for v in cells))
    med["total"] = sum(med[k] for k in PROCESS_GROUPS)
    print(f"{'total':<16}" + "".join(
        f"{sum(r[k] for k in PROCESS_GROUPS):>9.2f}" for r in rounds)
        + f"{med['total']:>9.2f}")
    return {"median": med, "rounds": rounds,
            "failed_ops": sum(r["failed_ops"] for r in rounds)}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["engine", "lifecycle"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rounds", type=int, default=5)
    ap.add_argument("--scale", choices=["default", "tiny"], default="default")
    args = ap.parse_args(argv)
    if args.rounds < 1:
        ap.error("--rounds must be at least 1")
    # as perfbench: one BLAS thread per task, the package importable by
    # the worker daemon, every temporary file inside the run's directory
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    sys.path[:0] = [ROOT, PERFBENCH]
    tmp = os.path.join(STATE, f"tmp-{os.getpid()}")
    os.makedirs(tmp)
    os.makedirs(os.path.join(STATE, "cache"), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UseDynamicNumberOfCompilerThreads"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    try:
        rounds = run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(report(rounds)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
