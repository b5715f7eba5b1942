"""Similarity search over the embedding column (array<float>).

- brute-force cosine top-k: the correctness baseline, pure
  zip_with/aggregate expressions (JVM, no UDF);
- random-hyperplane LSH buckets: the scale path — at 100 TB the
  brute-force cross join is infeasible, the LSH plan only joins
  within buckets (expected bucket size n/2^planes) and is evaluated
  for recall against the baseline in tests;
- cosine near-dup pairs: embedding-space deduplication.
"""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def vnorm(col: str) -> F.Column:
    """The L2 norm of an array<float> column, as a double fold —
    evaluated ONCE per VECTOR (on the pre-join per-row side) instead of
    once per candidate PAIR: cos = dot / (na * nb) with hoisted norms
    leaves the pair stage only the dot product's higher-order-function
    work (candidate pairs outnumber vectors by orders at any scale)."""
    a = F.transform(F.col(col), lambda x: x.cast("double"))
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def cos_prenormed(va: str, vb: str, na: str, nb: str) -> F.Column:
    """cos of two vectors whose norms were hoisted with ``vnorm``: the
    dot fold over both arrays cast to double, divided by (na * nb)."""
    a = F.transform(F.col(va), lambda x: x.cast("double"))
    b = F.transform(F.col(vb), lambda x: x.cast("double"))
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    return dot / (F.col(na) * F.col(nb))


def brute_force_topk(spark, sf_dir, n_queries: int = 20, k: int = 5) -> DataFrame:
    """Exact cosine top-k for the first ``n_queries`` vectors.
    Deterministic across engines: rank on the ROUNDED similarity with
    vec_id tiebreak."""
    e = _emb(spark, sf_dir)
    # norms hoisted to one evaluation per vector (vnorm) — the cross
    # join then pays only the dot fold per pair, bit-identically
    q = (e.where(F.col("vec_id") < n_queries)
         .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"),
                 vnorm("embedding").alias("qn")))
    c = e.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("nv"),
                 vnorm("embedding").alias("nn"))
    pairs = (F.broadcast(q).crossJoin(c)
             .where(F.col("qid") != F.col("nid")))
    pairs = pairs.withColumn(
        "sim", F.round(cos_prenormed("qv", "nv", "qn", "nn"), 4))
    from pyspark.sql import Window
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    return (pairs.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= k)
            .select("qid", "nid", "sim", F.col("rk").cast("long").alias("rk")))


def cosine_near_dup_pairs(spark, sf_dir, threshold: float = 0.95) -> DataFrame:
    """Embedding near-dup pairs: cosine >= threshold, within label
    block (labels act as the coarse partitioner; at scale replace the
    label block with LSH buckets)."""
    e = _emb(spark, sf_dir)
    a = e.select(F.col("vec_id").alias("id1"), F.col("embedding").alias("v1"),
                 vnorm("embedding").alias("n1"),
                 F.col("label").alias("lab"))
    b = e.select(F.col("vec_id").alias("id2"), F.col("embedding").alias("v2"),
                 vnorm("embedding").alias("n2"),
                 F.col("label").alias("lab"))
    pairs = (a.join(b, "lab").where(F.col("id1") < F.col("id2")))
    return (pairs.select(
                "id1", "id2",
                F.round(cos_prenormed("v1", "v2", "n1", "n2"), 4)
                 .alias("sim"))
            .where(F.col("sim") >= threshold))


def plane_signs(n_planes: int = 12, dim: int = 64,
                seed: str = "lsh42") -> list[list[float]]:
    """Deterministic ±1 hyperplane signs from md5 — driver-computed
    once (a few KB), embedded as literal arrays in the plan (a
    broadcast constant at any scale). md5 keeps the oracle engine
    bit-identical."""
    out = []
    for j in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}:{j}:{d}".encode()).hexdigest()
            row.append(1.0 if int(h[:15], 16) % 2 == 1 else -1.0)
        out.append(row)
    return out


def lsh_buckets(df: DataFrame, n_planes: int = 12, dim: int = 64,
                seed: str = "lsh42") -> DataFrame:
    """Random-hyperplane signature: bucket bit j = sign(emb · s_j),
    s_j the hash-derived ±1 plane. No explode and no extra shuffle —
    the bucket is ONE projection expression per row (n_planes dot
    products against literal sign arrays, whole-stage codegen)."""
    signs = plane_signs(n_planes, dim, seed)
    emb = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    bucket = None
    for j in range(n_planes):
        proj = F.aggregate(
            F.zip_with(emb, F.array(*[F.lit(s) for s in signs[j]]),
                       lambda x, s: x * s),
            F.lit(0.0), lambda acc, x: acc + x)
        bit = F.when(proj > 0, F.lit(1 << j).cast("long")) \
               .otherwise(F.lit(0).cast("long"))
        bucket = bit if bucket is None else bucket + bit
    return df.select("vec_id", "label", bucket.alias("bucket"))


def lsh_ann_topk(spark, sf_dir, n_queries: int = 20, k: int = 5,
                 n_planes: int = 8) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket (plus Hamming-1 neighbors via bit flips), exact cosine on
    the candidates only."""
    e = _emb(spark, sf_dir)
    bk = lsh_buckets(e, n_planes)
    # norms hoisted per vector (vnorm) and carried beside the arrays
    ebk = (e.select("vec_id", "embedding", vnorm("embedding").alias("vn"))
           .join(bk.select("vec_id", "bucket"), "vec_id"))
    # probe buckets: own bucket + all Hamming-1 flips (multi-probe LSH)
    probes = ebk.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"),
        F.col("vn").alias("qn"),
        F.explode(F.concat(
            F.array(F.col("bucket")),
            F.transform(F.sequence(F.lit(0), F.lit(n_planes - 1)),
                        lambda j: F.col("bucket").bitwiseXOR(
                            F.pow(F.lit(2.0), j).cast("long")))
        )).alias("bucket"))
    # multi-probe overlap dedup keyed on the ID PAIR ONLY (groupBy +
    # first), never on the embedding arrays: array-typed shuffle keys
    # are needlessly wide at scale, and the vectors are functionally
    # determined by the ids anyway
    cand = (probes.join(ebk.select(F.col("vec_id").alias("nid"),
                                   F.col("embedding").alias("nv"),
                                   F.col("vn").alias("nn"), "bucket"),
                        "bucket")
            .where(F.col("qid") != F.col("nid"))
            .groupBy("qid", "nid")
            .agg(F.first("qv").alias("qv"), F.first("nv").alias("nv"),
                 F.first("qn").alias("qn"), F.first("nn").alias("nn")))
    cand = cand.withColumn(
        "sim", F.round(cos_prenormed("qv", "nv", "qn", "nn"), 4))
    from pyspark.sql import Window
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    return (cand.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= k)
            .select("qid", "nid", "sim", F.col("rk").cast("long").alias("rk")))


def lsh_near_dup_pairs(spark, sf_dir, threshold: float = 0.35,
                       n_planes: int = 6) -> DataFrame:
    """Embedding near-dup pairs at scale: candidates meet only inside
    an LSH bucket (plus Hamming-1 probe buckets for recall), exact
    cosine runs on candidates only — the scale-safe replacement for
    ``cosine_near_dup_pairs``' label-blocked all-pairs join (expected
    candidate count n²/2^planes instead of n²/|labels|; planes are a
    free knob, label cardinality is not)."""
    e = _emb(spark, sf_dir)
    bk = lsh_buckets(e, n_planes)
    ebk = (e.select("vec_id", "embedding", vnorm("embedding").alias("vn"))
           .join(bk.select("vec_id", "bucket"), "vec_id"))
    a = ebk.select(
        F.col("vec_id").alias("id1"), F.col("embedding").alias("v1"),
        F.col("vn").alias("n1"),
        F.explode(F.concat(
            F.array(F.col("bucket")),
            F.transform(F.sequence(F.lit(0), F.lit(n_planes - 1)),
                        lambda j: F.col("bucket").bitwiseXOR(
                            F.pow(F.lit(2.0), j).cast("long")))
        )).alias("bucket"))
    b = ebk.select(F.col("vec_id").alias("id2"),
                   F.col("embedding").alias("v2"),
                   F.col("vn").alias("n2"), "bucket")
    # dedup on the id pair only (see lsh_ann_topk) — the old distinct
    # shuffled both embedding arrays as part of the key
    cand = (a.join(b, "bucket").where(F.col("id1") < F.col("id2"))
             .groupBy("id1", "id2")
             .agg(F.first("v1").alias("v1"), F.first("v2").alias("v2"),
                  F.first("n1").alias("n1"), F.first("n2").alias("n2")))
    return (cand.select(
                "id1", "id2",
                F.round(cos_prenormed("v1", "v2", "n1", "n2"), 4)
                 .alias("sim"))
            .where(F.col("sim") >= threshold))


def _d2_array(vec_col, cents: list[list[float]]):
    """Rounded squared L2 distances ``|v|^2 - 2 v.c + |c|^2`` against
    every literal centroid, packed into ONE array expression — the
    same sequential-fold formula the DuckDB oracle evaluates, so the
    rounded results are engine-identical. One array column (instead of
    n_cells scalar columns) matters: downstream argmin/probe logic
    references it a constant number of times, so Catalyst's
    CollapseProject cannot inline the fold trees quadratically (the
    per-cell-column formulation OOMed the driver at 16 cells).

    The codebook enters the plan as ONE nested array literal walked by
    a single zip_with lambda, not n_cells inlined per-centroid fold
    trees: the inlined form carried O(n_cells x dim) expression nodes
    through every Catalyst pass and PLAN CONSTRUCTION alone took
    1.2 s of q42's 2.2 s (guide §7.3 — planning time as the
    bottleneck); this form constant-folds the codebook to one literal
    and builds in ~0.3 s. The per-element arithmetic (cast, product,
    left-fold add, round) is unchanged, so results stay bit-identical
    to the oracle's list_dot_product fold."""
    v = F.transform(vec_col, lambda x: x.cast("double"))
    vv = F.aggregate(F.transform(v, lambda x: x * x),
                     F.lit(0.0), lambda a, x: a + x)
    cents_lit = F.array(*[F.array(*[F.lit(float(x)) for x in c])
                          for c in cents])
    cc_lit = F.array(*[F.lit(float(sum(x * x for x in c)))
                       for c in cents])

    def one(c, j):
        vc = F.aggregate(F.zip_with(v, c, lambda x, y: x * y),
                         F.lit(0.0), lambda a, x: a + x)
        return F.round(vv - 2.0 * vc + F.element_at(cc_lit, j + 1), 6)

    return F.zip_with(cents_lit,
                      F.sequence(F.lit(0), F.lit(len(cents) - 1)),
                      lambda c, j: one(c, j))


def fit_ivf_codebook(sf_dir: str, n_cells: int = 16, dim: int = 64,
                     n_iters: int = 1,
                     sample: int = 4096) -> list[list[float]]:
    """IVF codebook fit — a driver-side MODEL like ``plane_signs``:
    deterministic seeding + ``n_iters`` Lloyd sweeps over a bounded
    deterministic sample (the ``sample`` lowest vec_ids), centroids
    rounded to 6 dp and embedded as literals into the assignment plan.
    Standard IVF practice trains the quantizer on a sample, so the fit
    is O(sample x cells x iters) on the driver regardless of corpus
    size; corpus-side assignment stays a shuffle-free narrow map
    against the literal codebook. Pure NumPy over a parquet sample —
    no Spark job and no engine-specific arithmetic, so the DuckDB
    oracle embeds the identical literals.

    Seeds are the first ``n_cells`` sample vectors. Measured on the
    sf0.001 embeddings (label-clustered, recall@5 vs brute force at a
    25% probe fraction): first-16 + 1 Lloyd = 0.85, farthest-first
    (the deterministic k-means++ analog) variants 0.33-0.65 —
    farthest-first seeds on outliers, and extra Lloyd sweeps
    over-balance cells away from the natural clusters (first-16 + 5
    Lloyd drops to 0.83). Hence the seeding and the defaults."""
    import numpy as np
    import pyarrow.parquet as pq

    # the sample bound is PUSHED INTO the read: vec_id is dense
    # 0..N-1 by the input contract, so `vec_id < sample` selects
    # exactly the `sample` lowest ids while parquet row-group stats
    # skip every row group past the bound — driver I/O is O(sample),
    # not O(corpus) (round-3 VERDICT item 2: the full-table read here
    # was the engine's last driver-side O(corpus) touch)
    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet",
                        columns=["vec_id", "embedding"],
                        filters=[("vec_id", "<", sample)])
    vid = np.asarray(tbl.column("vec_id").combine_chunks().to_numpy(
        zero_copy_only=False))
    if len(vid) > sample:
        raise ValueError(
            "non-unique vec_ids under the sample bound; the fit would "
            "materialize more than `sample` rows")
    if len(vid) < n_cells:
        raise ValueError(
            f"only {len(vid)} vectors with vec_id < {sample}; the "
            "pushed-down sample read requires DENSE 0-based vec_ids "
            "(the input contract) — re-id the corpus or raise "
            "`sample`")
    emb = tbl.column("embedding").combine_chunks()
    flat = emb.flatten().to_numpy(zero_copy_only=False)
    X = np.asarray(flat, dtype=np.float64).reshape(len(vid), dim)
    X = X[np.argsort(vid, kind="stable")][:sample]

    C = X[:n_cells].copy()
    for _ in range(n_iters):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = np.argmin(d, axis=1)       # ties -> lowest cell
        for j in range(n_cells):
            m = assign == j
            if m.any():                      # empty cells keep their seed
                C[j] = X[m].mean(axis=0)
    return [[float(round(x, 6)) for x in c] for c in C]


def codebook_fit_dir(sf_dir: str | None = None) -> str:
    """Single resolution point for the IVF codebook's fit corpus
    (round-3 ADVICE): the caller's EXPLICIT directory wins, then
    $SPARK_GRAFT_SF_DIR_T2, then the driver-gate default (round-4
    ADVICE: env-over-argument made ``ivf_ann_topk(..., fit_dir=my_dir)``
    silently fit on a different corpus than the one it assigns
    whenever the env var was exported). The gate/oracle call
    sites pass NO directory, so they both land on the env var or the
    sf0.01 default — the directory the driver registers its DuckDB
    views from — and the two fits cannot diverge on centroid
    literals; an external caller querying its own corpus gets a
    quantizer trained on THAT corpus."""
    import os
    return sf_dir or os.environ.get("SPARK_GRAFT_SF_DIR_T2",
                                    "/root/testdata/sf0.01")


def ivf_ann_topk(spark, sf_dir, n_queries: int = 20, k: int = 5,
                 n_cells: int = 16, n_probe: int = 4,
                 fit_dir: str | None = None) -> DataFrame:
    """IVF approximate top-k — the quantizer-based scale path next to
    the LSH one (lsh_ann_topk): every vector is assigned to its
    nearest codebook centroid with a shuffle-free argmin expression
    (the codebook is literal, so the corpus side is one narrow map);
    each query searches only its ``n_probe`` nearest cells, exact
    cosine runs on those candidates. At 100 TB the cell id is the
    partition key: IVF lists are co-located, a probe reads n_probe/
    n_cells of the data."""
    from pyspark.sql import Window

    cents = fit_ivf_codebook(fit_dir or codebook_fit_dir(sf_dir), n_cells)
    e = _emb(spark, sf_dir)
    dists = e.select(
        "vec_id", "embedding", vnorm("embedding").alias("vn"),
        _d2_array(F.col("embedding"), cents).alias("d2s"))
    # nearest cell with lowest-cell tiebreak: array_position returns
    # the FIRST index of the minimum
    corpus = dists.select(
        F.col("vec_id").alias("nid"), F.col("embedding").alias("nv"),
        F.col("vn").alias("nn"),
        (F.array_position(F.col("d2s"), F.array_min("d2s")) - 1)
        .cast("long").alias("cell"))

    # query side: the n_probe nearest cells via array_sort over
    # (d2, cell) structs — lexicographic struct order IS the window's
    # ORDER BY d2, cell, so this replaces the posexplode + Window +
    # its qid-keyed Exchange with a shuffle-free narrow map (one
    # exchange fewer; at scale the query side never shuffles at all)
    probes = (dists.where(F.col("vec_id") < n_queries)
              .select(F.col("vec_id").alias("qid"),
                      F.col("embedding").alias("qv"),
                      F.col("vn").alias("qn"),
                      F.explode(F.slice(F.array_sort(F.arrays_zip(
                          F.col("d2s").alias("d2"),
                          F.sequence(F.lit(0), F.lit(n_cells - 1))
                           .alias("cell"))), 1, n_probe)).alias("pc"))
              .select("qid", "qv", "qn",
                      F.col("pc.cell").cast("long").alias("cell")))

    cand = (F.broadcast(probes).join(corpus, "cell")
            .where(F.col("qid") != F.col("nid")))
    cand = cand.withColumn(
        "sim", F.round(cos_prenormed("qv", "nv", "qn", "nn"), 4))
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    return (cand.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= k)
            .select("qid", "nid", "sim", F.col("rk").cast("long").alias("rk")))


def label_centroids(spark, sf_dir) -> DataFrame:
    """Per-label centroid of the first 4 dimensions (array aggregation
    check shared with the DuckDB oracle)."""
    e = _emb(spark, sf_dir)
    return (e.groupBy("label")
            .agg(F.count("*").alias("n_vecs"),
                 *[F.round(F.avg(F.element_at("embedding", i + 1)), 6)
                   .alias(f"c{i}") for i in range(4)]))
