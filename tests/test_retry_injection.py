"""Retried tasks leave no trace (ROADMAP item 1, failure injection).

A task that dies after part of its output went downstream is re-run by
Spark; the committed tiers, the timeseries table and the checkpoint
rows must then equal a run in which nothing failed. The test session
runs at ``local[4]``, where a task gets a single attempt, so both runs
happen in a child process with its own ``local[2,2]`` session (two
attempts per task).

The failure is injected from outside the package: the child wraps
``cascade.rollup_1h``, ``network_inversion.invert_network`` and
``compress.compress_1h`` (the blobs retention ages into the cold tier)
with a pass-through ``mapInArrow`` stage. In the first task attempt
that reaches it, the stage yields its first Arrow batch, drops a marker
file and raises; every other task, and the retry, passes its batches
through untouched. A failed task ends its Python worker, so each retry
runs in a worker freshly forked from the engine daemon."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = {"rollup_1h": ["doc_id", "hour_idx"],
          "rollup_1d": ["doc_id", "day_idx"],
          "timeseries": ["doc_id"]}
# what retention rewrites: the cold tier it writes, the hot rows it keeps
RETAINED = {"rollup_1h_cold": ["doc_id", "day_idx"],
            "rollup_1h": TABLES["rollup_1h"]}
INJECTED = ("rollup_1h", "invert_network", "compress_1h")


def _fail_once(fn, marker):
    """``fn``'s output behind a pass-through stage whose first task
    attempt to emit a batch raises right after emitting it."""
    def wrapped(*args, **kwargs):
        df = fn(*args, **kwargs)

        def stage(batches):
            from pyspark import TaskContext

            armed = TaskContext.get().attemptNumber() == 0
            for batch in batches:
                yield batch
                if not armed:
                    continue
                armed = False
                try:   # exactly one task, across partitions, claims it
                    os.close(os.open(marker, os.O_CREAT | os.O_EXCL))
                except FileExistsError:
                    continue
                raise RuntimeError(f"injected failure after a batch: {marker}")

        return df.mapInArrow(stage, df.schema)
    return wrapped


def _table_hash(spark, store, table, keys) -> str:
    import hashlib
    import io

    import pyarrow as pa

    tbl = store.read(spark, table).toArrow().sort_by(
        [(k, "ascending") for k in keys])
    sink = io.BytesIO()
    with pa.ipc.new_stream(sink, tbl.schema) as w:
        w.write_table(tbl)
    return hashlib.sha256(sink.getvalue()).hexdigest()[:16]


def _child(root: str) -> dict:
    """Run the cascade, the inversion and retention once plainly and
    once with the injected failures, each into its own warehouse."""
    from miaplpy_spark.config import EngineConfig, ScaleSpec
    from miaplpy_spark.datagen import generate_sequences, prepare_observations
    from miaplpy_spark.operators import cascade, compress, network_inversion
    from miaplpy_spark.operators.checkpoint import CheckpointLog
    from miaplpy_spark.session import get_spark
    from miaplpy_spark.sources.catalog import TierStore

    spark = get_spark(app_name="retry_injection", master="local[2,2]",
                      shuffle_partitions=4)
    spark.sparkContext.setLogLevel("OFF")
    cfg = EngineConfig(n_buckets=4, n_samples=8)
    spec = ScaleSpec(n_docs=6, n_slots=480, tok_lo=16, tok_hi=48,
                     tok_heavy_lo=96, tok_heavy_hi=128)
    obs = prepare_observations(generate_sequences(spark, spec, cfg), cfg)

    def run(name: str) -> dict:
        store = TierStore(os.path.join(root, name))
        metrics = cascade.run_cascade(spark, obs, store, cfg)
        inv = cascade.run_inversion_step(spark, store, cfg)
        # the inversion lineage hashes the 1h tier's file listing, so it
        # differs between warehouses; every other field must match
        metrics["invert"] = {k: v for k, v in inv.items() if k != "lineage"}
        hashes = {t: _table_hash(spark, store, t, k)
                  for t, k in TABLES.items()}
        # day 0 of the two ages into the cold tier
        metrics["retention"] = compress.apply_retention_1h(spark, store, 1,
                                                           cfg)
        ckpt = CheckpointLog(store)
        return {
            "metrics": metrics,
            "hashes": hashes,
            "retained": {t: _table_hash(spark, store, t, k)
                         for t, k in RETAINED.items()},
            "completions": {
                tier: ckpt.latest_completions(spark, tier, lin)
                for tier, lin in (
                    ("rollup_1h", metrics["raw->1h"]["lineage"]),
                    ("rollup_1d", metrics["1h->1d"]["lineage"]),
                    ("timeseries", inv["lineage"]))},
            "markers": sorted(m for m in INJECTED
                              if os.path.exists(os.path.join(root, m))),
        }

    out = {"plain": run("plain")}
    cascade.rollup_1h = _fail_once(cascade.rollup_1h,
                                   os.path.join(root, "rollup_1h"))
    network_inversion.invert_network = _fail_once(
        network_inversion.invert_network,
        os.path.join(root, "invert_network"))
    compress.compress_1h = _fail_once(compress.compress_1h,
                                      os.path.join(root, "compress_1h"))
    out["injected"] = run("injected")
    spark.stop()
    return out


def test_retried_tasks_leave_outputs_and_checkpoints_unchanged(workdir):
    env = dict(os.environ, SPARK_DRIVER_MEM="1g",
               PYTHONPATH=os.pathsep.join(
                   p for p in (REPO, os.environ.get("PYTHONPATH")) if p))
    proc = subprocess.run([sys.executable, os.path.abspath(__file__),
                           workdir], cwd=REPO, env=env, capture_output=True,
                          text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-4000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    plain, injected = res["plain"], res["injected"]
    assert plain["markers"] == []
    assert injected["markers"] == sorted(INJECTED)   # each stage failed once
    assert injected["hashes"] == plain["hashes"]
    assert injected["retained"] == plain["retained"]
    assert injected["completions"] == plain["completions"]
    assert injected["metrics"] == plain["metrics"]
    assert all(rows for rows in plain["completions"].values())
    assert plain["metrics"]["retention"]["n_blobs"] > 0


if __name__ == "__main__":
    print(json.dumps(_child(sys.argv[1])))
