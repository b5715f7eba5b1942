"""Near-duplicate detection operators: MinHash+LSH and SimHash.

All JVM-side (hash functions + groupBy) — no Python UDFs, so these
plans scale to the full corpus: the only shuffles are the per-doc
signature aggregations and the band-bucket self-join, and the band
join only ever materializes docs that share a bucket.

Design notes for 100 TB:
- NO pre-shuffle row explosion: the MinHash permutations are computed
  as one array expression per shingle row (not shingles x n_perm
  exploded rows), and the SimHash per-bit votes are nbits aggregate
  expressions over the word rows (not words x nbits exploded rows).
  The first exchange carries exactly one row per shingle/word.
- Hashes are md5-derived (``conv(substr(md5(x),1,15),16,10)``), which
  every ANSI engine can compute bit-identically — the DuckDB oracles
  in __spark_entry__ verify these operators end-to-end, not rows-only.
- `minhash_lsh_pairs` is the scale path for what
  `text.shingle_jaccard_pairs` computes exactly — bands bound the
  candidate set, the signature-Jaccard verify runs only on candidates.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .text import _docs, shingles

SIMHASH_BITS = 48  # one 12-hex-char md5 chunk = an exact 48-bit integer

# Modulus of the MinHash permutation family: the largest prime below
# 2^51 (2^51 - 129). Both engines (Spark pmod / DuckDB %) compute it
# identically on positive operands, and h1 + 32*h2 < 2^62 stays inside
# ANSI int64 BEFORE the reduction.
MINHASH_PRIME = 2251799813685119


def _h60(col) -> F.Column:
    """Engine-portable 60-bit hash: first 15 hex chars of md5."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def minhash_signatures(df: DataFrame, n_perm: int = 32, k: int = 3) -> DataFrame:
    """(doc_id, sig array<long>[n_perm]): minimum of a keyed hash per
    permutation over the doc's shingle set.

    One row per shingle through the exchange: the n_perm permutation
    hashes come from the classic affine family h_p = h1 + (p+1)·h2
    (two md5 evaluations per shingle, not n_perm), and the
    per-permutation minima are n_perm ``min`` aggregate expressions —
    map-side partial aggregation applies, so the shuffle carries one
    signature-width row per (doc, partition), never shingles x n_perm
    rows. h1 is 60-bit and h2 52-bit so h1 + 32·h2 < 2^62 (no ANSI
    overflow).

    The affine combination is reduced mod MINHASH_PRIME (~2^51).
    Without the reduction the family is DEGENERATE: h1 + (p+1)·h2 is
    monotone in h2 for large p, so the shingle with the smallest h2
    wins nearly every permutation and any two docs sharing one
    low-h2 shingle estimate near-Jaccard-1. On a realistic 400k-doc
    corpus that inflated the verified pair graph ~100x (73k
    false base-base pairs at avg est 0.79); with the modular wrap the
    per-permutation argmins decorrelate and the pair graph matches a
    true independent-permutation (per-p md5) family within a few
    percent at a quarter of its hashing cost.

    The reduction is plain ``%``, not pmod: both operands are provably
    non-negative (h1, h2 are hex-parsed md5 prefixes >= 0 and
    h1 + 32·h2 < 2^62 cannot wrap), where the two operators coincide —
    pmod costs a second modulo per permutation per shingle row, ~25%
    of this aggregation's measured CPU (sig-only count 0.75 -> 0.55 s
    at sf0.1), for nothing. DuckDB's ``%`` on the oracle side is
    identical on non-negative operands."""
    sh = shingles(df, k)
    hs = sh.select(
        "doc_id",
        _h60(F.col("sh")).alias("h1"),
        F.conv(F.substring(F.md5(F.concat(F.col("sh"), F.lit("#"))), 1, 13),
               16, 10).cast("long").alias("h2"))
    mins = hs.groupBy("doc_id").agg(
        *[F.min((F.col("h1") + F.lit(p + 1) * F.col("h2"))
                % F.lit(MINHASH_PRIME)).alias(f"m{p}")
          for p in range(n_perm)])
    return mins.select(
        "doc_id", F.array(*[f"m{p}" for p in range(n_perm)]).alias("sig"))


def _banded(sig: DataFrame, bands: int, rpb: int) -> DataFrame:
    """Slim LSH band rows (doc_id, band, 60-bit bucket hash) from a
    (doc_id, sig) signature table — fixed-width columns only, so band
    joins never shuffle the signature arrays."""
    out = sig.select(
        "doc_id", "sig",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"))
    return out.select(
        "doc_id", "band",
        _h60(F.concat_ws(
            ",", F.col("band").cast("string"),
            F.array_join(F.transform(
                F.slice("sig", F.col("band") * rpb + 1, rpb),
                lambda x: x.cast("string")), ","))).alias("bucket"))


def _verify_pairs(cand: DataFrame, sig: DataFrame,
                  n_perm: int, verify_threshold: float) -> DataFrame:
    """Signature-Jaccard verification of deduplicated (doc1, doc2)
    candidate pairs against a (doc_id, sig) table."""
    s1 = sig.select(F.col("doc_id").alias("doc1"),
                    F.col("sig").alias("sig1"))
    s2 = sig.select(F.col("doc_id").alias("doc2"),
                    F.col("sig").alias("sig2"))
    est = (cand.join(s1, "doc1").join(s2, "doc2")
           .select(
               "doc1", "doc2",
               F.round(
                   F.size(F.filter(
                       F.zip_with("sig1", "sig2", lambda x, y: x == y),
                       lambda v: v)) / F.lit(n_perm), 6
               ).alias("est_jaccard")))
    return est.where(F.col("est_jaccard") >= verify_threshold)


def minhash_lsh_pairs(spark, sf_dir, n_perm: int = 32, bands: int = 8,
                      k: int = 3, verify_threshold: float = 0.35) -> DataFrame:
    """LSH candidate generation + signature-Jaccard verification.

    bands x rows_per_band = n_perm; docs agreeing on ALL rows of any
    band become candidates; candidates are verified against the
    signature Jaccard (an unbiased estimator of the true shingle
    Jaccard)."""
    return minhash_lsh_pairs_df(_docs(spark, sf_dir), n_perm, bands, k,
                                verify_threshold)


def minhash_lsh_pairs_df(d: DataFrame, n_perm: int = 32, bands: int = 8,
                         k: int = 3,
                         verify_threshold: float = 0.35) -> DataFrame:
    """``minhash_lsh_pairs`` over an already-read documents frame."""
    # The plan references sig four times (both band-join sides + the
    # two candidate verify joins). Materialize it ONCE: under AQE
    # (Spark 4.1.2) the four copies of the aggregation do NOT collapse
    # into one reused shuffle stage — the runtime stage cache misses
    # them (the static planner's ReusedExchange does fire with AQE
    # off: 3 reuses, q26 2.08 -> 1.61 s), so without this checkpoint
    # the full scan + shingle explode + 2 md5/row + 32-min aggregation
    # executes four times per query. One eager localCheckpoint makes
    # every consumer read the G-row signature table instead
    # (measured: q26 2.08 -> 1.59 s at sf0.1; the win grows linearly
    # with corpus size since the duplicated work is corpus-sized).
    sig = minhash_signatures(d, n_perm, k).localCheckpoint(eager=True)
    rpb = n_perm // bands
    # The band self-join never carries the signature arrays: banded
    # rows are (doc_id, band, 60-bit bucket hash) — three fixed-width
    # columns — so the join's two exchanges shuffle ~24 B/row instead
    # of the ~512 B sig array (at 400k docs that is ~150 MB vs
    # ~1.7 GB, and the gap grows linearly with the corpus).
    # Signatures are fetched AFTER candidate dedup by joining the
    # (doc1, doc2) id pairs back to the per-doc signature table —
    # candidate-set cardinality, not banded-row cardinality.
    banded = _banded(sig, bands, rpb)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc1"),
                    F.col("b.doc_id").alias("doc2"))
            .distinct())
    return _verify_pairs(cand, sig, n_perm, verify_threshold)


def build_minhash_index(spark, sf_dir: str, index_dir: str,
                        n_perm: int = 32, bands: int = 8,
                        k: int = 3) -> int:
    """Materialize the corpus's MinHash state as a persistent index —
    the shape a CONTINUOUSLY-GROWING corpus needs: signatures and slim
    band rows are computed once per document ever, and each arriving
    batch dedups against the store by joining the (tiny) batch side
    against these tables instead of re-hashing 10^12 existing docs.

    Layout under ``index_dir``:
      signatures/   (doc_id, sig array<long>)          parquet
      bands/        (doc_id, band, bucket)             parquet,
                    partitioned by band (probe joins co-locate
                    per-band; every band is probed, so this is
                    layout, not pruning)
      fingerprints/ (doc_id, fp)                       parquet —
                    the exact-dedup sidecar (text.exact_fingerprint),
                    so curate_batch answers "byte-identical to a
                    stored doc?" from 16 bytes/doc, never stored text
      params/       one-row JSON (n_perm, bands, k)    text

    Params ride THROUGH Spark (a one-row text dataset, not a driver-
    side file) so the index works on any filesystem the session can
    write. Returns the number of docs indexed."""
    import json

    from .text import exact_fingerprint

    d = _docs(spark, sf_dir)
    sig = minhash_signatures(d, n_perm, k)
    sig.write.mode("overwrite").parquet(f"{index_dir}/signatures")
    sig_r = spark.read.parquet(f"{index_dir}/signatures")
    (_banded(sig_r, bands, n_perm // bands)
     .write.mode("overwrite").partitionBy("band")
     .parquet(f"{index_dir}/bands"))
    (d.select("doc_id", exact_fingerprint().alias("fp"))
     .write.mode("overwrite").parquet(f"{index_dir}/fingerprints"))
    params = {"n_perm": n_perm, "bands": bands, "k": k}
    (spark.createDataFrame([(json.dumps(params),)], "p string")
     .coalesce(1).write.mode("overwrite").text(f"{index_dir}/params"))
    return sig_r.count()


def _minhash_index_params(spark, index_dir: str) -> dict:
    import json

    return json.loads(
        spark.read.text(f"{index_dir}/params").collect()[0][0])


def _incremental_candidates(spark, new_sig: DataFrame, index_dir: str,
                            p: dict) -> DataFrame:
    """The LAZY candidate-pair plan of incremental_minhash_pairs —
    split out so its join shape is inspectable (the caller eagerly
    checkpoints the result, which hides the band joins from explain):
    the batch's band rows BROADCAST into a streamed scan of the stored
    band table (the store side is never shuffled), plus the
    batch-internal band self-join."""
    rpb = p["n_perm"] // p["bands"]
    # the batch's band rows feed three joins (store probe, both sides
    # of the internal self-join) and each would otherwise recompute
    # the signature aggregation; they are also the broadcast build
    # side, so materialize once
    new_banded = (_banded(new_sig, p["bands"], rpb)
                  .localCheckpoint(eager=True))
    store_banded = spark.read.parquet(f"{index_dir}/bands")
    nb, sb = F.broadcast(new_banded).alias("nb"), store_banded.alias("sb")
    ext = (sb.join(nb, (F.col("nb.band") == F.col("sb.band"))
                   & (F.col("nb.bucket") == F.col("sb.bucket"))
                   & (F.col("nb.doc_id") != F.col("sb.doc_id")))
           .select(F.least("nb.doc_id", "sb.doc_id").alias("doc1"),
                   F.greatest("nb.doc_id", "sb.doc_id").alias("doc2")))
    a, b = new_banded.alias("a"), new_banded.alias("b")
    internal = (a.join(b, (F.col("a.band") == F.col("b.band"))
                       & (F.col("a.bucket") == F.col("b.bucket"))
                       & (F.col("a.doc_id") < F.col("b.doc_id")))
                .select(F.col("a.doc_id").alias("doc1"),
                        F.col("b.doc_id").alias("doc2")))
    return ext.unionByName(internal).distinct()


def incremental_minhash_pairs(spark, new_docs_dir: str, index_dir: str,
                              verify_threshold: float = 0.35) -> DataFrame:
    """Near-dup pairs INVOLVING a new document batch, against a
    build_minhash_index store — without touching the stored corpus's
    text. Exactly what minhash_lsh_pairs(full corpus) would emit,
    restricted to pairs with at least one batch member (pinned by
    tests/test_incremental_dedup.py against that oracle).

    Cost model at 10^12 stored docs: signatures + banding for the
    BATCH only (linear in batch size); the batch's band rows BROADCAST
    into a streamed scan of the stored band table (the store side —
    the 10^12-row side — is never shuffled; it is read once as slim
    24 B fixed-width rows and probed map-side, the same build-side
    choice a broadcast join makes for a small dimension); one
    self-join of the batch's band rows (batch-internal dups);
    signature fetches bounded by CANDIDATE cardinality — the stored
    signature table is semi-joined against the (tiny, broadcast)
    candidate id set before the wide sig arrays enter any join, so
    stored signatures are scanned but never shuffled either. Nothing
    rescans or re-hashes stored documents.

    Hash params come from the index's params record — a batch hashed
    with different (n_perm, bands, k) would silently find nothing, so
    they are not caller arguments."""
    p = _minhash_index_params(spark, index_dir)
    n_perm = p["n_perm"]
    new_sig = minhash_signatures(_docs(spark, new_docs_dir),
                                 n_perm, p["k"])
    store_sig = spark.read.parquet(f"{index_dir}/signatures")
    # materialize candidates ONCE: they feed both the id-set broadcast
    # and the verify join, and recomputing them would scan the stored
    # band table twice
    cand = (_incremental_candidates(spark, new_sig, index_dir, p)
            .localCheckpoint(eager=True))
    # fetch ONLY the signatures the verify needs: candidate ids are a
    # tiny set — broadcast-semi-join them into the stored signature
    # scan so the wide sig arrays surface at candidate cardinality
    cand_ids = (cand.select(F.col("doc1").alias("doc_id"))
                .unionByName(cand.select(F.col("doc2").alias("doc_id")))
                .distinct())
    sig_needed = (store_sig.join(F.broadcast(cand_ids), "doc_id",
                                 "left_semi")
                  .unionByName(new_sig))
    return _verify_pairs(cand, sig_needed, n_perm, verify_threshold)


def simhash(df: DataFrame, nbits: int = SIMHASH_BITS) -> DataFrame:
    """nbits-wide SimHash per doc from word hashes: per bit, sign of
    the ±1 vote sum over words.

    No bit explode: the per-bit votes are nbits aggregate expressions
    over the word rows (one row per word through the exchange, with
    map-side partial aggregation), then one packing expression."""
    words = df.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    hashed = words.select(
        "doc_id",
        F.conv(F.substring(F.md5("w"), 1, 12), 16, 10).cast("long").alias("h"))
    votes = hashed.groupBy("doc_id").agg(
        *[F.sum((F.shiftright("h", j).bitwiseAND(F.lit(1))) * 2 - 1)
          .alias(f"s{j}") for j in range(nbits)])
    packed = None
    for j in range(nbits):
        bit = F.when(F.col(f"s{j}") > 0, F.lit(1 << j).cast("long")) \
               .otherwise(F.lit(0).cast("long"))
        packed = bit if packed is None else packed + bit
    return votes.select("doc_id", packed.alias("simhash"))


def simhash_candidates(s: DataFrame, n_bands: int = 3,
                       band_bits: int = 16) -> DataFrame:
    """Candidate pairs from multi-band blocking over a (doc_id,
    simhash) DataFrame — the rotate-and-block family: the hash is cut
    into ``n_bands`` disjoint ``band_bits``-wide bands and docs
    agreeing EXACTLY on any band become candidates (pigeonhole: every
    pair with Hamming < n_bands is guaranteed; near-dup pairs with
    more differing bits are caught with high probability because their
    flipped bits rarely hit all bands). One blocked equi-join per band
    through a single posexplode — expected block population n/2^band_
    bits per band, never an all-pairs join; a single-band variant
    would both miss pairs differing inside its band and concentrate
    n/2^16 docs per block."""
    bands = F.array(*[
        F.shiftrightunsigned("simhash", r * band_bits)
         .bitwiseAND(F.lit((1 << band_bits) - 1))
        for r in range(n_bands)])
    b = s.select("doc_id", "simhash",
                 F.posexplode(bands).alias("r", "blk"))
    x, y = b.alias("x"), b.alias("y")
    return (x.join(y, (F.col("x.r") == F.col("y.r"))
                   & (F.col("x.blk") == F.col("y.blk"))
                   & (F.col("x.doc_id") < F.col("y.doc_id")))
            .select(F.col("x.doc_id").alias("doc1"),
                    F.col("y.doc_id").alias("doc2"),
                    F.col("x.simhash").alias("h1"),
                    F.col("y.simhash").alias("h2"))
            .distinct())


def simhash_near_pairs(spark, sf_dir, max_hamming: int = 12,
                       n_bands: int = 3) -> DataFrame:
    """SimHash near-dup pairs by Hamming distance over 3 x 16-bit band
    blocks (union of three blocked joins, deduped on the id pair —
    simhashes ride along as plain longs, so the distinct never
    compares wide keys).

    Recall guarantee (be precise — round-3 ADVICE): with ``n_bands``
    disjoint bands the pigeonhole only GUARANTEES pairs with Hamming
    < n_bands (default 3). A pair with h ≥ n_bands flipped bits
    surfaces iff at least one band is untouched; for UNIFORMLY placed
    flips over 48 bits that probability (inclusion–exclusion over the
    3×16 bands) is 0.763 at h=3, 0.22 at h=6, 0.01 at h=12 — real
    SimHash near-dups concentrate at small h, where the blocking is
    strong, but "max_hamming=12" is a post-FILTER on surfaced
    candidates, NOT an exhaustive Hamming ≤ 12 search. The DuckDB
    oracle mirrors the SAME blocking, so the gate certifies the
    blocked semantics, not exhaustive recall. Exact recall at
    Hamming ≤ 12 would need 13 disjoint bands of <4 bits (block
    population n/2^3.7 — near-quadratic join input) or multi-probe;
    the 3×16 default is the standard scale trade."""
    d = _docs(spark, sf_dir)
    cand = simhash_candidates(simhash(d), n_bands)
    return (cand.select(
                "doc1", "doc2",
                F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
                 .cast("long").alias("hamming"))
            .where(F.col("hamming") <= max_hamming))


def _canonical_edges(pairs: DataFrame) -> DataFrame:
    """Distinct undirected (doc1, doc2) edges in child>parent
    orientation."""
    return (pairs.select(F.col("doc1").alias("c"), F.col("doc2").alias("p"))
            .where(F.col("doc1") != F.col("doc2"))
            .select(F.greatest("c", "p").alias("c"),
                    F.least("c", "p").alias("p"))
            .distinct())


def _driver_components(e: DataFrame, rows) -> DataFrame:
    """Exact union-find on a DRIVER-COLLECTED edge list — the small-
    graph path connected_components picks at or below DRIVER_MAX_EDGES
    (the same adaptivity as a broadcast-join threshold: when the
    deduplicated pair graph fits comfortably on the driver, one
    union-find beats 6-10 distributed rounds of fixed job latency).
    ``e`` is the canonical distinct edge set and ``rows`` its
    already-collected edges, so the size probe and the collect are
    ONE job."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:        # path compression
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        ra, rb = find(r["c"]), find(r["p"])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp_min: dict = {}
    for node in parent:
        root = find(node)
        cur = comp_min.get(root)
        comp_min[root] = node if cur is None else min(cur, node)
    out = [(n, comp_min[find(n)]) for n in parent]
    t = e.schema["c"].dataType.simpleString()
    return e.sparkSession.createDataFrame(
        out, f"node {t}, comp {t}")


def _star_components(e: DataFrame, max_iter: int) -> DataFrame:
    """Alternating large-star/small-star connected components (the
    two-phase MapReduce CC algorithm of Kiveris et al., "Connected
    Components in MapReduce and Beyond") over the canonical edge set
    ``e``: O(log n) rounds on ANY graph, where label propagation to
    the minimum would need O(diameter) sweeps (a 40-node chain: 40
    sweeps vs ~5 rounds here).

    Each round is two (aggregate + join) stages, both shuffling on the
    node key with map-side partial min. Edges are kept in canonical
    child>parent orientation; at the fixpoint every component is a
    star centered on its minimum node, read off directly as the
    labeling.

    large-star(u): m = min(N(u) ∪ {u}); relink every neighbor v > u
    to m. small-star(u): over parent set P(u) (all < u): m = min(P);
    relink u and every other parent to m."""
    for _ in range(max_iter):
        # large-star over the symmetric neighborhoods
        sym = e.unionByName(
            e.select(F.col("p").alias("c"), F.col("c").alias("p")))
        lm = (sym.groupBy("c").agg(F.min("p").alias("mv"))
              .select("c", F.least("mv", "c").alias("m")))
        e = (sym.join(lm, "c").where(F.col("p") > F.col("c"))
             .select(F.col("p").alias("c"), F.col("m").alias("p"))
             .distinct())
        # small-star over the child -> parents orientation
        sm = e.groupBy("c").agg(F.min("p").alias("m"))
        a = sm.select("c", F.col("m").alias("p"))
        b = (e.join(sm, "c").where(F.col("p") != F.col("m"))
             .select(F.col("p").alias("c"), F.col("m").alias("p")))
        e = (a.unionByName(b).where(F.col("c") != F.col("p"))
             .distinct().localCheckpoint(eager=True))
        # converged iff the canonical (child > parent) edge set is a
        # star forest — no node is both a child and a parent. A
        # canonical star's center is below every member, i.e. the
        # component minimum, so this detects the fixpoint in the round
        # that REACHES it (a changed-edges comparison would burn one
        # extra no-op round just to observe stability).
        non_star = (e.select("p").join(
            e.select(F.col("c").alias("p")), "p", "left_semi")
            .limit(1).count())
        if non_star == 0:
            return (e.select(F.col("c").alias("node"),
                             F.col("p").alias("comp"))
                    .unionByName(
                        e.select(F.col("p").alias("node"),
                                 F.col("p").alias("comp")))
                    .distinct())
    raise RuntimeError(
        f"star connected components did not converge in {max_iter} "
        "rounds; raise max_iter")


# Deduplicated edge count at or below which connected_components runs
# the driver union-find instead of the star rounds — a broadcast-
# threshold-style cut: 2M edges are tens of MB on the driver.
DRIVER_MAX_EDGES = 2_000_000


def connected_components(pairs: DataFrame,
                         max_iter: int = 25) -> DataFrame:
    """(node, component) labeling over a near-dup (doc1, doc2) pair
    graph — the step a dedup pipeline needs AFTER pair generation: A~B
    and B~C must collapse into ONE keep-group even when A~C was never
    surfaced. The label is the component's minimum node.

    The deduplicated edge set is probed: at or below DRIVER_MAX_EDGES
    it is labeled by one exact driver-side union-find — for the common
    case where LSH verification leaves a pair graph orders of magnitude
    smaller than the corpus, this replaces 6-10 distributed rounds of
    fixed job latency with microseconds — and above it by the star
    rounds (_star_components), O(log n) rounds at any diameter:
    curation runs over arbitrary corpora, where near-dup chain diameter
    is unbounded. ``max_iter`` bounds the star rounds; the operator
    raises rather than returning a half-propagated labeling.

    At 100 TB: the edge list is the (bounded) output of the LSH/
    SimHash candidate generators, orders of magnitude smaller than
    the corpus; nodes absent from any pair are singletons by
    definition and never enter the labeling (dedup_keep_list's
    ``doc_spine`` joins them back as their own component when a total
    labeling is needed). The per-round localCheckpoint truncates the
    lineage so the plan does not grow with the rounds."""
    e = _canonical_edges(pairs)
    # size probe and edge fetch fused into ONE job: limit(max+1)
    # returns every edge when the graph is under the threshold
    # (the common LSH-verified case), so the driver path pays a
    # single action instead of count-then-collect, and computes the
    # edges once. The star rounds read the edges twice more (both
    # halves of the first round's neighborhoods), so only they get a
    # materialized copy.
    rows = e.limit(DRIVER_MAX_EDGES + 1).collect()
    if len(rows) <= DRIVER_MAX_EDGES:
        return _driver_components(e, rows)
    return _star_components(e.localCheckpoint(eager=True), max_iter)


def dedup_keep_list(pairs: DataFrame,
                    doc_spine: DataFrame | None = None) -> DataFrame:
    """Canonical keep/drop decision per near-dup component: the
    lexicographically-smallest doc id in each connected component is
    kept, every other member is dropped (deterministic — reruns and
    retries pick the same canonical docs). Returns (doc_id, comp,
    keep).

    Without ``doc_spine``, docs in no pair are untouched by
    construction (they never appear), so the drop set is exactly
    `where(~keep)`. With ``doc_spine`` (any DataFrame carrying
    ``doc_id``) the labeling is TOTAL: docs absent from every pair
    come back as their own singleton component with keep=true — one
    left-anti join of the spine against the (tiny) paired-node set,
    so downstream consumers get exactly one row per doc without
    re-deriving the complement themselves.

    The component label connected_components returns IS the
    component's minimum node (driver union-find labels with comp_min;
    the star fixpoint's centers are below every member), so the
    canonical doc falls out as ``node == comp`` directly — no extra
    per-component min aggregation + join-back (one exchange fewer on
    the labeling path)."""
    comps = connected_components(pairs)
    labeled = comps.select(
        F.col("node").alias("doc_id"), "comp",
        (F.col("node") == F.col("comp")).alias("keep"))
    if doc_spine is None:
        return labeled
    singles = (doc_spine.select("doc_id")
               .join(F.broadcast(labeled.select("doc_id")),
                     "doc_id", "left_anti")
               .select("doc_id", F.col("doc_id").alias("comp"),
                       F.lit(True).alias("keep")))
    return labeled.unionByName(singles)
