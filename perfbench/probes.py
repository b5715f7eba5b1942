"""Measurement plumbing: host probes, spans, the timed TierStore and the
Spark event-log reader that turns task and plan metrics into layers.

Everything here observes the engine from outside: spans wrap calls into
public functions, and Spark's own metrics come from the event log the
traced session writes.
"""

from __future__ import annotations

import collections
import glob
import json
import os
import re
import threading
import time
from contextlib import contextmanager

from miaplpy_spark.sources.catalog import TierStore

# ---------------------------------------------------------------- host


def process_start_time() -> float:
    """Wall-clock time this process was started (Linux /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        fields = list(map(int, f.readline().split()[1:9]))
    return fields[7], sum(fields)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    return 100.0 * (after[0] - before[0]) / max(after[1] - before[1], 1)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = collections.defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids[int(rest[1])].append(int(stat.split("/")[2]))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, including reaped children) used so
    far by the process tree under ``root``. Host steal is not in it."""
    ticks = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def process_tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


class RssSampler:
    """Samples the summed RSS of this process tree (client, JVM, Python
    workers) on a background thread and keeps the peak."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.sample(me)
            self._stop.wait(self.interval_s)

    def sample(self, root: int | None = None) -> None:
        total = sum(_rss_bytes(p) for p in process_tree(root or os.getpid()))
        self.peak = max(self.peak, total)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# --------------------------------------------------------------- spans


class Tracer:
    """Nested wall-clock spans kept in memory. A span's parent is the
    span open when it started; ``enabled=False`` records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def tree(self, root: int) -> list[tuple[int, dict, float]]:
        """(depth, span, self_s) for ``root`` and its descendants, in
        start order; self time is the span minus its child spans."""
        kids = collections.defaultdict(list)
        for i, s in enumerate(self.spans):
            if s["parent"] is not None:
                kids[s["parent"]].append(i)
        out = []

        def walk(i: int, depth: int) -> None:
            s = self.spans[i]
            dur = s["end"] - s["start"]
            child = sum(self.spans[c]["end"] - self.spans[c]["start"]
                        for c in kids[i])
            out.append((depth, s, dur - child))
            for c in kids[i]:
                walk(c, depth + 1)

        walk(root, 0)
        return out


class TimedTierStore(TierStore):
    """TierStore whose catalog calls each open a ``catalog.<call>`` span."""

    def __init__(self, base_dir: str, tracer: Tracer):
        super().__init__(base_dir)
        self.tracer = tracer

    def merge_partitions(self, df, table, partition_col="bucket"):
        with self.tracer.span("catalog.merge_partitions", table=table):
            return super().merge_partitions(df, table, partition_col)

    def overwrite(self, df, table, partition_col="bucket"):
        with self.tracer.span("catalog.overwrite", table=table):
            return super().overwrite(df, table, partition_col)

    def append(self, df, table, partition_col=None):
        with self.tracer.span("catalog.append", table=table):
            return super().append(df, table, partition_col)

    def content_token(self, spark, table):
        with self.tracer.span("catalog.content_token", table=table):
            return super().content_token(spark, table)


def dir_usage(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files under ``path`` (hidden and
    underscore-prefixed Spark bookkeeping files excluded)."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def listing(path: str) -> dict[str, tuple[int, int]]:
    """Every file under ``path`` with its size and mtime."""
    out = {}
    for root, _, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            st = os.stat(p)
            out[os.path.relpath(p, path)] = (st.st_size, st.st_mtime_ns)
    return out


# ---------------------------------------------------------- event log

OP_PROPERTY = "perfbench.op"

PYTHON_NODES = ("MapInArrow", "MapInPandas", "ArrowEvalPython",
                "BatchEvalPython", "FlatMapGroupsInPandas",
                "FlatMapGroupsInArrow", "AggregateInPandas")
# operator module of a Python node, told by a column its output carries
_PY_LAYER_BY_OUTPUT = (("ts_blob#", "compress"),
                       ("ts_series#", "network_inversion"),
                       ("day_idx#", "rollup_1d"),
                       ("linked_phase#", "rollup_1h"))
_PY_METRICS = {"data sent to Python workers": "py_sent_bytes",
               "data returned from Python workers": "py_recv_bytes",
               "time to run Python workers": "py_s",
               "number of output rows": "rows_out"}
_UNIT_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def _py_layer(plan: dict) -> str:
    m = re.search(r"\)#\d+, \[(.*)", plan["simpleString"])
    out = m.group(1) if m else plan["simpleString"]
    for marker, layer in _PY_LAYER_BY_OUTPUT:
        if marker in out:
            return layer
    return "python.other"


def _rows_in_acc(plan: dict) -> int | None:
    """Accumulator counting the rows a Python node consumes: the first
    node below it that counts its output rows (or shuffle records)."""
    node = plan
    while node["children"]:
        node = node["children"][0]
        for m in node["metrics"]:
            if m["name"] in ("number of output rows", "records read"):
                return m["accumulatorId"]
    return None


def _index_plan(plan: dict, accs: dict) -> int:
    """Map the plan's accumulators to (layer, metric, metricType) and
    return its Exchange count."""
    name = plan["nodeName"]
    exchanges = int(name == "Exchange")
    metrics = {m["name"]: m for m in plan["metrics"]}

    def put(acc, layer, metric, mtype):
        accs.setdefault(acc, set()).add((layer, metric, mtype))

    if name in PYTHON_NODES:
        layer = _py_layer(plan)
        for mname, key in _PY_METRICS.items():
            if mname in metrics:
                m = metrics[mname]
                put(m["accumulatorId"], layer, key, m["metricType"])
        for mname, key in (("time to start Python workers", "boot_s"),
                           ("time to initialize Python workers", "init_s")):
            if mname in metrics:
                m = metrics[mname]
                put(m["accumulatorId"], "python", key, m["metricType"])
        rows_in = _rows_in_acc(plan)
        if rows_in is not None:
            put(rows_in, layer, "rows_in", "sum")
    elif "Scan" in name:
        for mname, key in (("scan time", "time_s"),
                           ("size of files read", "bytes")):
            if mname in metrics:
                m = metrics[mname]
                put(m["accumulatorId"], "scan", key, m["metricType"])
    elif name == "Sort" and "sort time" in metrics:
        m = metrics["sort time"]
        put(m["accumulatorId"], "sort", "time_s", m["metricType"])
    for child in plan["children"]:
        exchanges += _index_plan(child, accs)
    return exchanges


def _add(m: dict, accs: dict, acc, value) -> None:
    for layer, metric, mtype in accs.get(acc, ()):
        m[f"{layer}.{metric}"] += float(value or 0) * _UNIT_SCALE.get(mtype, 1.0)


def read_event_log(path: str) -> dict[str, dict[str, float]]:
    """Per op label (the ``perfbench.op`` job property) -> layer metrics
    summed over its tasks and SQL executions."""
    accs: dict[int, set] = {}
    final_exchanges: dict[int, int] = {}
    stage_op: dict[int, str] = {}
    exec_op: dict[int, str] = {}
    tasks: list[dict] = []
    driver_updates: list[dict] = []
    for fn in sorted(glob.glob(os.path.join(path, "*"))):
        with open(fn) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    op = props.get(OP_PROPERTY)
                    if op is None:
                        continue
                    for sid in ev["Stage IDs"]:
                        stage_op.setdefault(sid, op)
                    if "spark.sql.execution.id" in props:
                        exec_op.setdefault(
                            int(props["spark.sql.execution.id"]), op)
                elif "sparkPlanInfo" in ev:
                    final_exchanges[ev["executionId"]] = _index_plan(
                        ev["sparkPlanInfo"], accs)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    driver_updates.append(ev)
    out: dict[str, dict[str, float]] = collections.defaultdict(
        lambda: collections.defaultdict(float))
    for ex, op in exec_op.items():
        out[op]["exchange.count"] += final_exchanges.get(ex, 0)
    for ev in tasks:
        op = stage_op.get(ev["Stage ID"])
        if op is None:
            continue
        m = out[op]
        tm = ev.get("Task Metrics") or {}
        m["tasks.count"] += 1
        m["tasks.cpu_s"] += tm.get("Executor CPU Time", 0) * 1e-9
        m["jvm.gc_s"] += tm.get("JVM GC Time", 0) * 1e-3
        m["sort.spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
        m["scan.rows"] += (tm.get("Input Metrics") or {}).get(
            "Records Read", 0)
        sw = tm.get("Shuffle Write Metrics") or {}
        m["exchange.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        sr = tm.get("Shuffle Read Metrics") or {}
        m["exchange.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) * 1e-3
        for a in ev["Task Info"].get("Accumulables", ()):
            _add(m, accs, a.get("ID"), a.get("Update"))
    # driver-side plan metrics (file sizes listed by the scan)
    for ev in driver_updates:
        op = exec_op.get(ev["executionId"])
        if op is not None:
            for acc, value in ev["accumUpdates"]:
                _add(out[op], accs, acc, value)
    return {op: dict(v) for op, v in out.items()}
