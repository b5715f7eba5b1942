#!/usr/bin/env python
"""Benchmark driver.

Default mode (what the round driver runs): headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS], plus the engine rollup cascade on the
deterministic synthetic bench table. Prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Scaling mode (north_rule evidence):
  python bench.py --scaling
runs the IDENTICAL cascade job on the IDENTICAL input parquet at
local[8] and local[32] in fresh subprocesses (clean JVM each), and
reports throughput at both + efficiency = thr32 / (4 * thr8) into
BENCH/BASELINE.md.

  python bench.py --cascade-only <input_dir> <cores>   (internal)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BENCH_DOCS = int(os.environ.get("BENCH_DOCS", "20000"))
BENCH_SLOTS = int(os.environ.get("BENCH_SLOTS", "480"))
N_BUCKETS = int(os.environ.get("BENCH_BUCKETS", "128"))


def _bench_cfg_spec():
    from miaplpy_spark.config import EngineConfig, ScaleSpec

    cfg = EngineConfig(n_buckets=N_BUCKETS)
    spec = ScaleSpec(n_docs=BENCH_DOCS, n_slots=BENCH_SLOTS)
    return cfg, spec


def prepare_input(spark, out_dir: str) -> int:
    """Materialize the bench observation table once (datagen is not
    what we measure). Stats-only path: token arrays are projected to
    their stats JVM-side either way and never reach the kernel.

    The observation table is written STRING-FREE (doc_key instead of
    doc_id/source, int16 token samples instead of float phases, no ts)
    — the scaling-critical representation; the doc dimension goes to a
    sibling path and is joined back onto the G-row tier output inside
    the measured plan (attach_doc_dim)."""
    import pyspark.sql.functions as F

    from miaplpy_spark.datagen import (generate_doc_dim, generate_sequences,
                                       prepare_observations)

    cfg, spec = _bench_cfg_spec()
    obs = prepare_observations(
        generate_sequences(spark, spec, cfg, with_tokens=False), cfg)
    obs = (obs.withColumn("doc_key", F.xxhash64("doc_id"))
              .drop("doc_id", "source", "ts"))
    obs.write.mode("overwrite").parquet(out_dir)
    generate_doc_dim(spark, spec, cfg).write.mode("overwrite").parquet(
        out_dir + "_dim")
    return spark.read.parquet(out_dir).count()


def _steal_pct():
    with open("/proc/stat") as f:
        p = list(map(int, f.readline().split()[1:9]))
    return p[7], sum(p)


def run_cascade_timed(spark, input_dir: str, shp_filter: bool = False) -> dict:
    """The measured job: read obs -> 1h tier -> 1d tier as ONE
    pipelined plan (the 1d stage consumes the 1h output without a
    second exchange — partitioning reuse). The timed action is a
    single aggregation that forces the whole cascade and returns all
    tier counts. Host steal% is sampled around the run."""
    import pyspark.sql.functions as F

    from miaplpy_spark.operators.rollup import (attach_doc_dim, rollup_1d,
                                                rollup_1h)

    cfg, _ = _bench_cfg_spec()
    if shp_filter:
        from dataclasses import replace
        cfg = replace(cfg, shp_filter=True)
    obs = spark.read.parquet(input_dir)
    dim = spark.read.parquet(input_dir + "_dim")
    n_obs = obs.count()
    # string-free core cascade; the doc-dim join back onto the
    # G-row 1d output is INSIDE the measured plan
    df1d = rollup_1d(rollup_1h(obs, cfg), cfg, assume_partitioned=True)
    agg = attach_doc_dim(df1d, dim).agg(
        F.count("*").alias("n_1d"),
        F.sum("n_hours").alias("n_1h"),
        F.sum("n_obs").alias("n_obs"))
    s0, t0_total = _steal_pct()
    t0 = time.time()
    row = agg.collect()[0]
    total = time.time() - t0
    s1, t1_total = _steal_pct()
    steal = 100.0 * (s1 - s0) / max(t1_total - t0_total, 1)
    n_1h, n_1d = int(row["n_1h"]), int(row["n_1d"])
    return {
        "n_obs": n_obs, "n_1h": n_1h, "n_1d": n_1d,
        "t_total_s": round(total, 2),
        "host_steal_pct": round(steal, 1),
        "raw_points_per_s": round(n_obs / total, 1),
        "rolled_points_per_s": round((n_1h + n_1d) / total, 1),
    }


def run_invert_timed(spark, tier_dir: str, method: str = "L2",
                     conn: int = 3) -> dict:
    """Network-inversion throughput — the ONE reference-published perf
    number (~626k px·ifg/s, dev/ifgram_inversion_L1L2.py:1436-1448).
    The analog unit here is doc·pair/s: each doc is a pixel, each
    banded pair an interferogram; ``pairs`` counts the rows of the
    per-doc LS system exactly as the reference counts pixel×ifg."""
    import pyspark.sql.functions as F

    from miaplpy_spark.operators.network_inversion import invert_network

    cfg, _ = _bench_cfg_spec()
    t1h = spark.read.parquet(tier_dir)
    inv = invert_network(t1h, cfg, conn=conn, method=method)
    n = F.col("n_hours").cast("long")
    tri = conn * (conn + 1) // 2
    pairs = F.when(n >= conn + 1, conn * n - F.lit(tri)) \
             .otherwise((n * (n - 1) / 2).cast("long"))
    agg = inv.agg(F.count("*").alias("docs"),
                  F.sum("n_hours").alias("pts"),
                  F.sum(pairs).alias("pairs"))
    s0, st0 = _steal_pct()
    t0 = time.time()
    row = agg.collect()[0]
    total = time.time() - t0
    s1, st1 = _steal_pct()
    return {
        "method": method, "conn": conn,
        "n_docs": int(row["docs"]), "n_points": int(row["pts"]),
        "n_pairs": int(row["pairs"]),
        "t_total_s": round(total, 2),
        "host_steal_pct": round(
            100.0 * (s1 - s0) / max(st1 - st0, 1), 1),
        "px_ifg_per_s": round(row["pairs"] / total, 1),
        "points_per_s": round(row["pts"] / total, 1),
    }


def _get_spark(cores: int):
    from miaplpy_spark.session import get_spark

    # shuffle spill dir on tmpfs: this single-box sandbox shares ONE
    # virtio disk across all simulated executors, so at high core
    # counts shuffle IO saturates it and fakes a scaling ceiling; a
    # real cluster's local-SSD bandwidth grows with node count. tmpfs
    # models per-node disks fairly (shuffle data here is ~6 GB vs
    # 126 GB of RAM).
    local_dir = (f"/dev/shm/spark-bench-{os.getpid()}"
                 if os.path.isdir("/dev/shm") else None)
    extra = {"spark.local.dir": local_dir} if local_dir else {}
    # heap scales with core count: a real cluster brings one executor
    # heap PER executor, but local mode shares a single JVM across all
    # task threads — a fixed heap starves 32 concurrent sort/Arrow
    # tasks into GC thrash (measured: 48.5 -> 40.4 s at local[32] from
    # 8g -> 24g) and would fake a scaling ceiling the cluster doesn't
    # have. 0.75 GB/core matches the default executor sizing story.
    if "SPARK_DRIVER_MEM" not in os.environ:
        extra["spark.driver.memory"] = f"{max(8, (3 * cores) // 4)}g"
    return get_spark(app_name=f"bench[{cores}]", master=f"local[{cores}]",
                     shuffle_partitions=max(2 * cores, N_BUCKETS),
                     extra_conf=extra)


def cascade_only(input_dir: str, cores: int) -> None:
    # pin the whole process tree (JVM + python workers) to `cores`
    # CPUs: local[8] on a 32-core box would otherwise leak shuffle/GC
    # threads onto the spare cores and overstate the small side of the
    # N -> 4N comparison
    try:
        os.sched_setaffinity(0, range(cores))
    except (AttributeError, OSError):
        pass
    spark = _get_spark(cores)
    # steady-state: one warmup pass amortizes JVM/codegen/worker
    # startup, then best-of-N tames local-mode run-to-run variance
    # (this sandbox's host shows minute-scale noisy-neighbor episodes)
    n_runs = int(os.environ.get("BENCH_RUNS", "4"))
    run_cascade_timed(spark, input_dir)
    runs = [run_cascade_timed(spark, input_dir) for _ in range(n_runs)]
    stats = min(runs, key=lambda r: r["t_total_s"])
    stats["cores"] = cores
    stats["all_totals_s"] = [r["t_total_s"] for r in runs]
    print("CASCADE_RESULT " + json.dumps(stats))
    spark.stop()


def prepare_only(input_dir: str) -> None:
    spark = _get_spark(CPUS)
    n = prepare_input(spark, input_dir)
    print(f"prepared {n} observation rows at {input_dir}", file=sys.stderr)
    spark.stop()


def prepare_tier_only(tier_dir: str) -> None:
    """Materialize the 1h tier the inversion-scaling mode measures
    over (obs -> rollup_1h -> parquet, done once, not measured)."""
    from miaplpy_spark.operators.rollup import attach_doc_dim, rollup_1h

    spark = _get_spark(CPUS)
    obs_dir = tier_dir + "_obs"
    prepare_input(spark, obs_dir)
    cfg, _ = _bench_cfg_spec()
    attach_doc_dim(
        rollup_1h(spark.read.parquet(obs_dir), cfg),
        spark.read.parquet(obs_dir + "_dim")
    ).write.mode("overwrite").parquet(tier_dir)
    n = spark.read.parquet(tier_dir).count()
    print(f"prepared {n} hourly tier rows at {tier_dir}", file=sys.stderr)
    spark.stop()


def prepare_docs_only(corpus_dir: str, n_docs: int) -> None:
    """Materialize a synthetic documents corpus at an arbitrary scale
    (datagen.generate_documents: planted exact/near/repetitive/short
    families) — the input the curation-scaling mode measures over.
    The fixed sf corpora top out at 5k docs, where curate_corpus is
    pure fixed overhead at every parallelism level; scaling evidence
    needs a corpus big enough that the engine, not the JVM, is what
    is being measured."""
    from miaplpy_spark.datagen import generate_documents

    spark = _get_spark(CPUS)
    (generate_documents(spark, n_docs)
     .repartition(64)
     .write.mode("overwrite").parquet(f"{corpus_dir}/documents.parquet"))
    n = spark.read.parquet(f"{corpus_dir}/documents.parquet").count()
    print(f"prepared {n} synthetic docs at {corpus_dir}", file=sys.stderr)
    spark.stop()


def invert_only(tier_dir: str, cores: int) -> None:
    """One pinned measurement of the network-inversion job (the
    headline vs-reference operator) — the inversion twin of
    cascade_only for the two-parallelism scaling evidence."""
    try:
        os.sched_setaffinity(0, range(cores))
    except (AttributeError, OSError):
        pass
    spark = _get_spark(cores)
    n_runs = int(os.environ.get("BENCH_RUNS", "4"))
    run_invert_timed(spark, tier_dir, "L2")          # warmup
    runs = [run_invert_timed(spark, tier_dir, "L2") for _ in range(n_runs)]
    stats = min(runs, key=lambda r: r["t_total_s"])
    stats["cores"] = cores
    stats["all_totals_s"] = [r["t_total_s"] for r in runs]
    print("INVERT_RESULT " + json.dumps(stats))
    spark.stop()


def curate_only(sf_dir: str, cores: int) -> None:
    """One pinned measurement of the end-to-end curation composition
    (q52's operator: quality + exact dedup + MinHash-LSH components +
    repetition gates + assembly) — the training-pipeline twin of
    cascade_only for the two-parallelism scaling evidence."""
    try:
        os.sched_setaffinity(0, range(cores))
    except (AttributeError, OSError):
        pass
    from miaplpy_spark.functions.curate import curate_corpus

    spark = _get_spark(cores)
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()

    def once():
        s0, tot0 = _steal_pct()
        t0 = time.time()
        n_out = curate_corpus(spark, sf_dir).count()
        t = round(time.time() - t0, 3)
        s1, tot1 = _steal_pct()
        return {"n_docs": n_docs, "n_out": n_out, "t_total_s": t,
                "docs_per_s": round(n_docs / t, 1),
                "host_steal_pct": round(
                    100.0 * (s1 - s0) / max(tot1 - tot0, 1), 1)}

    n_runs = int(os.environ.get("BENCH_RUNS", "4"))
    once()                                            # warmup
    runs = [once() for _ in range(n_runs)]
    stats = min(runs, key=lambda r: r["t_total_s"])
    stats["cores"] = cores
    stats["all_totals_s"] = [r["t_total_s"] for r in runs]
    print("CURATE_RESULT " + json.dumps(stats))
    spark.stop()


def scaling_curate(sf_dir: str | None = None) -> None:
    """Two-parallelism scaling curve for the curation composition
    (appends a section to BENCH/BASELINE.md; same pinned-subprocess
    palindromic min-of-rounds protocol as the cascade/inversion
    curves).

    Default corpus: a generated BENCH_CURATE_DOCS-doc synthetic
    corpus (prepare_docs_only), NOT the 5k-doc sf directory — at 5k
    docs the whole job is ~4 s of fixed overhead and the "efficiency"
    measures JVM startup, not the engine."""
    if sf_dir is None:
        n_docs = int(os.environ.get("BENCH_CURATE_DOCS", "1600000"))
        sf_dir = f"/tmp/bench_curate_docs_{n_docs}"
        if not os.path.exists(f"{sf_dir}/documents.parquet"):
            prepare_docs_only(sf_dir, n_docs)
    core_list = [int(c) for c in
                 os.environ.get("BENCH_CORES", "8,32").split(",")]
    results = {}
    for rnd, cores in enumerate(core_list + core_list[::-1]):
        out = subprocess.run(
            [sys.executable, __file__, "--curate-only", sf_dir,
             str(cores)],
            capture_output=True, text=True, cwd=os.path.dirname(__file__))
        lines = [l for l in out.stdout.splitlines()
                 if l.startswith("CURATE_RESULT ")]
        if out.returncode != 0 or not lines:
            print(f"round{rnd} local[{cores}] failed: {out.stderr[-500:]}",
                  file=sys.stderr)
            continue
        r = json.loads(lines[-1][len("CURATE_RESULT "):])
        if cores not in results or r["t_total_s"] < results[cores]["t_total_s"]:
            results[cores] = r
        print(f"round{rnd} local[{cores}]: {r}", file=sys.stderr)
    lo, hi = min(core_list), max(core_list)
    eff = round(results[hi]["docs_per_s"]
                / ((hi / lo) * results[lo]["docs_per_s"]), 3)
    report = {f"local{c}": results[c] for c in core_list}
    report[f"curate_scaling_efficiency_{lo}_to_{hi}"] = eff
    print(json.dumps(report))
    md = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "BENCH", "BASELINE.md")
    rows = "\n".join(
        f"| local[{c}] | {r['t_total_s']} | {r['docs_per_s']:,} "
        f"| {r['docs_per_s'] / c:,.0f} | {r.get('host_steal_pct')} |"
        for c, r in ((c, results[c]) for c in core_list))
    with open(md, "a") as f:
        f.write(f"""
## Curation-composition scaling ({lo} vs {hi} cores, same protocol)

Identical curate_corpus job (quality + exact dedup + MinHash-LSH
pair graph + connected components + repetition gates + doc_key
assembly; {results[lo]['n_docs']:,} docs) on the identical corpus
(synthetic generate_documents corpus with planted dup/near-dup/
repetitive/short families under the default mode), pinned fresh
JVMs, warmup + min-of-rounds:

| cores | total (s) | docs/s | per-core | host steal% |
|---|---|---|---|---|
{rows}

**Curation scaling efficiency {lo} -> {hi}: {eff}**
""")


def prepare_incr_only(root: str, n_base: int, n_batch: int) -> None:
    """Materialize one generated corpus as full/ plus its base/batch
    split (batch = the LAST n_batch ids, matching the growing corpus's
    append-only id discipline, so store-wins == min-id-canonical)."""
    import pyspark.sql.functions as F

    from miaplpy_spark.datagen import generate_documents

    spark = _get_spark(CPUS)
    (generate_documents(spark, n_base + n_batch).repartition(64)
     .write.mode("overwrite").parquet(f"{root}/full/documents.parquet"))
    full = spark.read.parquet(f"{root}/full/documents.parquet")
    (full.where(F.col("doc_id") < n_base).write.mode("overwrite")
     .parquet(f"{root}/base/documents.parquet"))
    (full.where(F.col("doc_id") >= n_base).coalesce(8)
     .write.mode("overwrite").parquet(f"{root}/batch/documents.parquet"))
    print(f"prepared incr corpus {n_base}+{n_batch} at {root}",
          file=sys.stderr)
    spark.stop()


def incr_only(root: str, cores: int) -> None:
    """One pinned measurement of the INCREMENTAL curation path: index
    build over the base corpus (one-time, amortized), curate_batch of
    the arriving batch against it (the per-batch steady-state cost),
    and the full-recompute alternative (curate_corpus over base+batch
    — what a pipeline without the index pays per arriving batch)."""
    try:
        os.sched_setaffinity(0, range(cores))
    except (AttributeError, OSError):
        pass
    from miaplpy_spark.functions.curate import curate_batch, curate_corpus
    from miaplpy_spark.functions.dedup import build_minhash_index

    spark = _get_spark(cores)
    idx = f"{root}/idx"
    n_batch = spark.read.parquet(
        f"{root}/batch/documents.parquet").count()

    t0 = time.time()
    n_base = build_minhash_index(spark, f"{root}/base", idx)
    t_index = round(time.time() - t0, 3)

    def once_batch():
        s0, tot0 = _steal_pct()
        t0 = time.time()
        n_out = curate_batch(spark, f"{root}/batch", idx).count()
        t = round(time.time() - t0, 3)
        s1, tot1 = _steal_pct()
        return {"t_batch_s": t, "n_out": n_out,
                "batch_docs_per_s": round(n_batch / t, 1),
                "host_steal_pct": round(
                    100.0 * (s1 - s0) / max(tot1 - tot0, 1), 1)}

    n_runs = int(os.environ.get("BENCH_RUNS", "4"))
    once_batch()                                      # warmup
    runs = [once_batch() for _ in range(n_runs)]
    stats = min(runs, key=lambda r: r["t_batch_s"])
    stats["all_batch_s"] = [r["t_batch_s"] for r in runs]

    full_runs = []
    for _ in range(max(2, n_runs // 2)):
        t0 = time.time()
        curate_corpus(spark, f"{root}/full").count()
        full_runs.append(round(time.time() - t0, 3))
    stats.update({
        "n_base": n_base, "n_batch": n_batch, "t_index_s": t_index,
        "t_full_s": min(full_runs), "all_full_s": full_runs,
        "cores": cores,
        "speedup_vs_full": round(min(full_runs) / stats["t_batch_s"], 1)})
    print("INCR_RESULT " + json.dumps(stats))
    spark.stop()


def scaling_incremental() -> None:
    """Store-size-invariance evidence for the incremental curation
    path (appends a section to BENCH/BASELINE.md): the SAME arriving
    batch is curated against stores of different sizes — at 100 TB the
    claim that matters is that the per-batch cost tracks the BATCH,
    not the store, while the full-recompute alternative grows with the
    corpus. Pinned fresh JVM per store size, warmup + min-of-rounds."""
    bases = [int(x) for x in
             os.environ.get("BENCH_INCR_BASES", "400000,1600000").split(",")]
    n_batch = int(os.environ.get("BENCH_INCR_BATCH", "80000"))
    results = {}
    for n_base in bases:
        root = f"/tmp/bench_incr_{n_base}_{n_batch}"
        if not os.path.exists(f"{root}/full/documents.parquet"):
            out = subprocess.run(
                [sys.executable, __file__, "--prepare-incr", root,
                 str(n_base), str(n_batch)],
                capture_output=True, text=True,
                cwd=os.path.dirname(__file__))
            if out.returncode != 0:
                print(f"prepare {n_base} failed: {out.stderr[-500:]}",
                      file=sys.stderr)
                continue
        out = subprocess.run(
            [sys.executable, __file__, "--incr-only", root, str(CPUS)],
            capture_output=True, text=True, cwd=os.path.dirname(__file__))
        lines = [l for l in out.stdout.splitlines()
                 if l.startswith("INCR_RESULT ")]
        if out.returncode != 0 or not lines:
            print(f"incr {n_base} failed: {out.stderr[-500:]}",
                  file=sys.stderr)
            continue
        results[n_base] = json.loads(lines[-1][len("INCR_RESULT "):])
        print(f"store {n_base}: {results[n_base]}", file=sys.stderr)
    if len(results) < 2:
        raise SystemExit("need at least two store sizes for the curve")
    lo, hi = min(results), max(results)
    flatness = round(results[hi]["t_batch_s"] / results[lo]["t_batch_s"], 2)
    report = {f"store{c}": results[c] for c in results}
    report["incr_batch_time_ratio_big_vs_small_store"] = flatness
    print(json.dumps(report))
    md = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "BENCH", "BASELINE.md")
    rows = "\n".join(
        f"| {c:,} | {r['n_batch']:,} | {r['t_index_s']} | {r['t_batch_s']} "
        f"| {r['batch_docs_per_s']:,} | {r['t_full_s']} "
        f"| {r['speedup_vs_full']}x | {r.get('host_steal_pct')} |"
        for c, r in sorted(results.items()))
    with open(md, "a") as f:
        f.write(f"""
## Incremental curation vs full recompute (local[{CPUS}], same protocol)

The same-size arriving batch ({results[lo]['n_batch']:,} docs) curated
via curate_batch against build_minhash_index stores of two sizes,
versus the full-recompute alternative (curate_corpus over store +
batch — what a pipeline without the index pays per arriving batch).
Index build is the one-time amortized cost; batch time is warmup +
min-of-rounds in a pinned fresh JVM per store size:

| store docs | batch docs | index build (s) | batch (s) | batch docs/s | full recompute (s) | speedup | host steal% |
|---|---|---|---|---|---|---|---|
{rows}

**Per-batch incremental time, {hi // 1000}k-store vs {lo // 1000}k-store:
{flatness}x** — the per-batch cost tracks the batch, not the store
(a 4x larger store must NOT cost ~4x per batch; the full-recompute
column does grow with the store, which is exactly the scan the index
exists to avoid at 10^12 stored docs).
""")


def scaling_invert(tier_dir: str | None = None) -> None:
    """Two-parallelism scaling curve for the INVERSION operator
    (appends a section to BENCH/BASELINE.md; the cascade curve from
    --scaling is the primary north-rule evidence, this is the same
    protocol applied to the vs-reference headline operator)."""
    own_tmp = tier_dir is None
    if own_tmp:
        tier_dir = tempfile.mkdtemp(prefix="bench_tier_") + "/t1h"
        subprocess.run(
            [sys.executable, __file__, "--prepare-tier", tier_dir],
            check=True, cwd=os.path.dirname(os.path.abspath(__file__)))
    core_list = [int(c) for c in
                 os.environ.get("BENCH_CORES", "8,32").split(",")]
    results = {}
    for rnd, cores in enumerate(core_list + core_list[::-1]):
        out = subprocess.run(
            [sys.executable, __file__, "--invert-only", tier_dir,
             str(cores)],
            capture_output=True, text=True, cwd=os.path.dirname(__file__))
        lines = [l for l in out.stdout.splitlines()
                 if l.startswith("INVERT_RESULT ")]
        if out.returncode != 0 or not lines:
            print(f"round{rnd} local[{cores}] failed: {out.stderr[-500:]}",
                  file=sys.stderr)
            continue
        r = json.loads(lines[-1][len("INVERT_RESULT "):])
        if cores not in results or r["t_total_s"] < results[cores]["t_total_s"]:
            results[cores] = r
        print(f"round{rnd} local[{cores}]: {r}", file=sys.stderr)
    lo, hi = min(core_list), max(core_list)
    eff = round(results[hi]["px_ifg_per_s"]
                / ((hi / lo) * results[lo]["px_ifg_per_s"]), 3)
    report = {f"local{c}": results[c] for c in core_list}
    report[f"invert_scaling_efficiency_{lo}_to_{hi}"] = eff
    print(json.dumps(report))
    md = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "BENCH", "BASELINE.md")
    rows = "\n".join(
        f"| local[{c}] | {r['t_total_s']} | {r['px_ifg_per_s']:,} "
        f"| {r['px_ifg_per_s'] / c:,.0f} | {r.get('host_steal_pct')} |"
        for c, r in ((c, results[c]) for c in core_list))
    with open(md, "a") as f:
        f.write(f"""
## Inversion-operator scaling ({lo} vs {hi} cores, same protocol)

Identical invert_network job (L2, conn=3, {results[lo]['n_pairs']:,}
doc-pairs over {results[lo]['n_points']:,} hourly points) on the
identical materialized 1h tier, pinned fresh JVMs, warmup +
min-of-rounds:

| cores | total (s) | doc-pair/s | per-core | host steal% |
|---|---|---|---|---|
{rows}

**Inversion scaling efficiency {lo} -> {hi}: {eff}**
""")


def scaling(input_dir: str | None = None) -> None:
    own_tmp = input_dir is None
    if own_tmp:
        input_dir = tempfile.mkdtemp(prefix="bench_obs_") + "/obs"
        # prepare in a SUBPROCESS: a stopped SparkSession's gateway JVM
        # lives (and measurably burns CPU) until its python process
        # exits — it must be gone before any measurement starts
        subprocess.run(
            [sys.executable, __file__, "--prepare-only", input_dir],
            check=True, cwd=os.path.dirname(os.path.abspath(__file__)))

    # three-point curve (N, 2N, 4N cores) so the fixed single-box tax
    # is identifiable, not just the endpoint ratio. Interleave the
    # configs palindromically so slow host drift hits all sides
    # equally; min-of-rounds per config defuses transient stalls.
    core_list = [int(c) for c in
                 os.environ.get("BENCH_CORES", "8,16,32").split(",")]
    results = {}
    for rnd, cores in enumerate(core_list + core_list[::-1]):
        line = None
        for attempt in range(2):  # retry once: host-pressure JVM deaths
            out = subprocess.run(
                [sys.executable, __file__, "--cascade-only", input_dir,
                 str(cores)],
                capture_output=True, text=True, cwd=os.path.dirname(__file__))
            lines = [l for l in out.stdout.splitlines()
                     if l.startswith("CASCADE_RESULT ")]
            if out.returncode == 0 and lines:
                line = lines[-1]
                break
            print(f"round{rnd} local[{cores}] attempt {attempt} failed "
                  f"(rc={out.returncode}): {out.stderr[-800:]}",
                  file=sys.stderr)
        if line is None:
            continue  # keep whatever rounds succeeded
        r = json.loads(line[len("CASCADE_RESULT "):])
        if cores not in results or r["t_total_s"] < results[cores]["t_total_s"]:
            results[cores] = r
        print(f"round{rnd} local[{cores}]: {r}", file=sys.stderr)

    lo, hi = min(core_list), max(core_list)
    thr = {c: results[c]["raw_points_per_s"] for c in core_list}
    report = {f"local{c}": results[c] for c in core_list}
    report[f"scaling_efficiency_{lo}_to_{hi}"] = round(
        thr[hi] / ((hi / lo) * thr[lo]), 3)
    for a, b in zip(core_list, core_list[1:]):
        report[f"eff_{a}_to_{b}"] = round(thr[b] / ((b / a) * thr[a]), 3)
    # the north rule is stated over N -> 4N specifically: report EVERY
    # quadrupling pair the measured core list contains (e.g. 4->16 and
    # 8->32 from a 4,8,16,32 run), not just the endpoints
    for a in core_list:
        if 4 * a in thr:
            report[f"eff_4x_{a}_to_{4 * a}"] = round(
                thr[4 * a] / (4 * thr[a]), 3)
    print(json.dumps(report))
    _write_bench_md(report, core_list)


def _write_bench_md(report: dict, core_list: list[int]) -> None:
    md = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "BENCH", "BASELINE.md")
    os.makedirs(os.path.dirname(md), exist_ok=True)
    # preserve hand-written analysis sections ("## ..." onwards) across
    # regenerations — only the measured table/header is rewritten
    addendum = ""
    if os.path.exists(md):
        with open(md) as f:
            old = f.read()
        i = old.find("\n## ")
        if i >= 0:
            addendum = old[i:]
    lo, hi = min(core_list), max(core_list)
    r0 = report[f"local{lo}"]
    eff = report[f"scaling_efficiency_{lo}_to_{hi}"]
    rows = "\n".join(
        f"| local[{c}] | {r['t_total_s']} | {r['raw_points_per_s']:,} "
        f"| {r['rolled_points_per_s']:,} | {r['raw_points_per_s']/c:,.0f} "
        f"| {r.get('host_steal_pct')} |"
        for c, r in ((c, report[f"local{c}"]) for c in core_list))
    pair_effs = "; ".join(
        f"{a}->{b}: {report[f'eff_{a}_to_{b}']}"
        for a, b in zip(core_list, core_list[1:]))
    quad_effs = "\n".join(
        f"**Scaling efficiency {a} -> {4 * a} cores (N -> 4N): "
        f"{report[f'eff_4x_{a}_to_{4 * a}']}**"
        for a in core_list if f"eff_4x_{a}_to_{4 * a}" in report)
    with open(md, "w") as f:
        f.write(f"""# BENCH — scaling evidence (north_rule)

Identical cascade job (raw -> 1h -> 1d rollup, batched eigen kernels,
single pipelined plan with partitioning reuse between tiers,
string-free int16-token worker ingress + post-kernel doc-dim join) on
the identical input table ({r0['n_obs']:,} observation rows,
{BENCH_DOCS:,} docs x {BENCH_SLOTS} slots, {N_BUCKETS} buckets), run
at {len(core_list)} parallelism levels in fresh CPU-affinity-pinned
JVMs. Reference's own measured 1->4 worker efficiency: 0.55-0.63
(BASELINE.md).

| cores | total (s) | raw points/s | rolled points/s | per-core raw pts/s | host steal% |
|---|---|---|---|---|---|
{rows}

{quad_effs}
(target >= 0.8; efficiency = throughput_4N / (4 x throughput_N);
endpoint ratio {lo} -> {hi}: {eff} at {hi // lo}x cores)
Per-step efficiencies: {pair_effs}.

Methodology: input materialized once to parquet; each measurement is a
fresh `python bench.py --cascade-only <dir> <cores>` subprocess pinned
to exactly `cores` CPUs via sched_setaffinity (so the small
configuration cannot leak JVM shuffle/GC threads onto spare cores);
one warmup pass then best-of-3 per subprocess; the configurations are
interleaved palindromically across rounds and min-of-rounds is
reported, because this sandbox's host shows intermittent CPU steal
(recorded per run above). Time covers scan + shuffle + sort + Arrow
transfer + batched NumPy eigendecompositions + both tier aggregations
+ the doc-dim broadcast join; not datagen and not tier writes.
""")
        if addendum:
            f.write(addendum)


def headline() -> None:
    import __spark_entry__ as entrymod

    # fit the IVF codebook from the benched corpus (codebook_fit_dir
    # defaults to the sf0.01 oracle directory otherwise), keeping q42
    # timings comparable across rounds
    os.environ.setdefault("SPARK_GRAFT_SF_DIR_T2", SF_DIR)
    spark = _get_spark(CPUS)
    qs = entrymod.queries()
    names = [
        "q01_tier_rollup_1h", "q02_tier_rollup_1d", "q04_cumsum_daily",
        "q05_asof_next_event", "q15_pricing_summary", "q16_revenue_by_nation",
        "q19_text_quality", "q22_shingle_jaccard", "q23_embed_topk",
        "q26_minhash_lsh",
        # scale-path ANN benched alongside its brute-force baseline so
        # the plan that matters at 100 TB gets a trend line (q42 vs q23)
        "q42_ivf_ann",
        # the end-to-end curation composition (quality + exact dedup +
        # LSH components + assembly) — the number a pretraining user
        # actually plans capacity around
        "q52_curate_corpus",
    ]
    # one untimed warmup action first: JVM/codegen/Arrow startup used
    # to land entirely inside q01's number (5+ s of the ~1 s query).
    # Steady-state timing is what a long-lived cluster session sees.
    qs[names[0]](spark, SF_DIR).count()
    # min-of-3 PER QUERY, round-robin so a host noisy-neighbor episode
    # (minute-scale on this box) cannot poison all samples of one
    # query; per-round host steal% is recorded so cross-round deltas
    # can be read as signal or discarded
    n_rounds = int(os.environ.get("BENCH_QUERY_ROUNDS", "3"))
    samples = {name: [] for name in names}
    round_steal = []
    for _ in range(n_rounds):
        s0, tot0 = _steal_pct()
        for name in names:
            t0 = time.time()
            qs[name](spark, SF_DIR).count()
            samples[name].append(round(time.time() - t0, 3))
        s1, tot1 = _steal_pct()
        round_steal.append(round(100.0 * (s1 - s0) / max(tot1 - tot0, 1), 1))
    timings = {name: min(v) for name, v in samples.items()}

    # engine cascade on the synthetic bench table — min-of-N (first
    # run doubles as the table's read warmup and rarely converges)
    n_cascade = int(os.environ.get("BENCH_CASCADE_RUNS", "4"))
    tmp = tempfile.mkdtemp(prefix="bench_obs_") + "/obs"
    prepare_input(spark, tmp)
    runs = [run_cascade_timed(spark, tmp) for _ in range(n_cascade)]
    stats = min(runs, key=lambda r: r["t_total_s"])
    stats["all_totals_s"] = [r["t_total_s"] for r in runs]
    timings["engine_cascade"] = stats["t_total_s"]

    # SHP-gated cascade at the same scale: the KS membership gate's
    # cost is the delta vs the plain cascade (q44 drives the gate for
    # correctness at fixture scale; this measures it at bench scale)
    shp_runs = [run_cascade_timed(spark, tmp, shp_filter=True)
                for _ in range(n_cascade)]
    shp_stats = min(shp_runs, key=lambda r: r["t_total_s"])
    shp_stats["all_totals_s"] = [r["t_total_s"] for r in shp_runs]
    timings["engine_cascade_shp"] = shp_stats["t_total_s"]

    # inversion operator at the same scale: materialize the 1h tier
    # once, then time invert_network (L2 + WLS) — the direct
    # counterpart of the reference's only published perf number
    from miaplpy_spark.operators.rollup import (attach_doc_dim,
                                                rollup_1h)
    cfg_b, _ = _bench_cfg_spec()
    obs_df = spark.read.parquet(tmp)
    dim_df = spark.read.parquet(tmp + "_dim")
    tier_dir = tmp + "_1h"
    attach_doc_dim(rollup_1h(obs_df, cfg_b), dim_df) \
        .write.mode("overwrite").parquet(tier_dir)
    inv_runs = [run_invert_timed(spark, tier_dir, "L2")
                for _ in range(max(3, n_cascade - 1))]
    inv_stats = min(inv_runs, key=lambda r: r["t_total_s"])
    inv_stats["all_totals_s"] = [r["t_total_s"] for r in inv_runs]
    timings["engine_invert"] = inv_stats["t_total_s"]
    inv_wls = min((run_invert_timed(spark, tier_dir, "WLS")
                   for _ in range(3)), key=lambda r: r["t_total_s"])
    timings["engine_invert_wls"] = inv_wls["t_total_s"]
    # IRLS-L1 is the slowest solver (reference ifgram_inversion_L1L2
    # .py:378-417) and the one a capacity planner sizes for — bench it
    # beside L2/WLS (round-4 VERDICT item 3)
    inv_l1 = min((run_invert_timed(spark, tier_dir, "L1")
                  for _ in range(3)), key=lambda r: r["t_total_s"])
    timings["engine_invert_l1"] = inv_l1["t_total_s"]

    total = round(sum(timings.values()), 3)
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    print(json.dumps({
        "metric": "headline_queries_plus_cascade_wall",
        "value": total, "unit": "sec", "queries": timings,
        "queries_all_rounds": samples,
        "host_steal_pct_per_round": round_steal,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cascade": stats,
        "cascade_shp": shp_stats,
        "invert": inv_stats,
        "invert_wls": inv_wls,
        "invert_l1": inv_l1,
    }))
    spark.stop()


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--scaling":
        scaling(sys.argv[2] if len(sys.argv) > 2 else None)
    elif len(sys.argv) > 1 and sys.argv[1] == "--scaling-invert":
        scaling_invert(sys.argv[2] if len(sys.argv) > 2 else None)
    elif len(sys.argv) > 1 and sys.argv[1] == "--cascade-only":
        cascade_only(sys.argv[2], int(sys.argv[3]))
    elif len(sys.argv) > 1 and sys.argv[1] == "--invert-only":
        invert_only(sys.argv[2], int(sys.argv[3]))
    elif len(sys.argv) > 1 and sys.argv[1] == "--scaling-curate":
        scaling_curate(sys.argv[2] if len(sys.argv) > 2 else None)
    elif len(sys.argv) > 1 and sys.argv[1] == "--curate-only":
        curate_only(sys.argv[2], int(sys.argv[3]))
    elif len(sys.argv) > 1 and sys.argv[1] == "--prepare-only":
        prepare_only(sys.argv[2])
    elif len(sys.argv) > 1 and sys.argv[1] == "--prepare-tier":
        prepare_tier_only(sys.argv[2])
    elif len(sys.argv) > 1 and sys.argv[1] == "--prepare-docs":
        prepare_docs_only(sys.argv[2], int(sys.argv[3]))
    elif len(sys.argv) > 1 and sys.argv[1] == "--scaling-incremental":
        scaling_incremental()
    elif len(sys.argv) > 1 and sys.argv[1] == "--prepare-incr":
        prepare_incr_only(sys.argv[2], int(sys.argv[3]), int(sys.argv[4]))
    elif len(sys.argv) > 1 and sys.argv[1] == "--incr-only":
        incr_only(sys.argv[2], int(sys.argv[3]))
    else:
        headline()
