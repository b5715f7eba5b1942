"""curate_corpus: the end-to-end keep/drop composition must agree
with its independently-certified component operators."""

import pyspark.sql.functions as F

from miaplpy_spark.functions.curate import curate_corpus, exact_dup_losers
from miaplpy_spark.functions.dedup import dedup_keep_list, minhash_lsh_pairs
from miaplpy_spark.functions.text import (repetition_signals, text_quality,
                                          word_gate_exprs)

SF_DIR = "/root/testdata/sf0.001"


def test_total_and_disjoint(spark):
    """Exactly one decision per document; keep iff reason == kept."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = curate_corpus(spark, SF_DIR)
    assert out.count() == docs.count()
    assert out.select("doc_id").distinct().count() == docs.count()
    assert out.where(F.col("keep") != (F.col("reason") == "kept")).count() == 0


def test_reasons_match_component_operators(spark):
    out = {r["doc_id"]: r["reason"]
           for r in curate_corpus(spark, SF_DIR).collect()}
    exact = {r["doc_id"] for r in exact_dup_losers(spark, SF_DIR).collect()}
    near = {r["doc_id"] for r in
            dedup_keep_list(minhash_lsh_pairs(spark, SF_DIR))
            .where(~F.col("keep")).collect()}
    q = {r["doc_id"]: r for r in text_quality(spark, SF_DIR).collect()}
    rep = {r["doc_id"]: r for r in
           repetition_signals(spark, SF_DIR).collect()}
    for doc, reason in out.items():
        if doc in exact:
            assert reason == "exact_dup", doc
        elif doc in near:
            assert reason == "near_dup", doc
        elif q[doc]["n_words"] < 5:
            assert reason == "too_short", doc
        elif (rep[doc]["dup_word_frac"] > 0.7
              or rep[doc]["top_word_frac"] > 0.2
              or rep[doc]["top_ngram_frac"] > 0.2):
            assert reason == "repetitive", doc
        elif q[doc]["stopword_ratio"] > 0.9 or q[doc]["ttr"] < 0.2:
            assert reason == "low_quality", doc
        else:
            assert reason == "kept", doc


def test_keep_list_spine_total(spark):
    """dedup_keep_list(doc_spine=...) is a TOTAL labeling: one row per
    doc, singletons labeled as their own component with keep=true, and
    the paired docs' labels identical to the spine-less call."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs = minhash_lsh_pairs(spark, SF_DIR)
    partial = {r["doc_id"]: (r["comp"], r["keep"])
               for r in dedup_keep_list(pairs).collect()}
    total = {r["doc_id"]: (r["comp"], r["keep"])
             for r in dedup_keep_list(pairs, doc_spine=docs).collect()}
    n_docs = docs.count()
    assert len(total) == n_docs
    for doc, lbl in partial.items():
        assert total[doc] == lbl
    singles = {d: v for d, v in total.items() if d not in partial}
    assert singles, "fixture corpus should have unpaired docs"
    assert all(v == (d, True) for d, v in singles.items())


def test_assembly_shuffles_on_doc_key(spark):
    """100 TB spine discipline (round-4 VERDICT item 4): the curation
    assembly's doc-cardinality joins key on xxhash64 doc_key — a
    fixed-width long — never on the variable-length doc_id string. A
    doc_id-keyed join may appear only as a broadcast (the bounded
    singleton anti-join), never as a shuffle join."""
    from miaplpy_spark.plans.explain import plan_string

    plan = plan_string(curate_corpus(spark, SF_DIR), "simple")
    assert "SortMergeJoin [doc_id" not in plan
    assert "ShuffledHashJoin [doc_id" not in plan
    joins_on_key = plan.count("Join [doc_key")  # SortMerge or Broadcast
    assert joins_on_key >= 2, plan[:2000]
    # the quality + repetition gates ride INLINE on the spine
    # (word_gate_exprs — round-6): only the exact and near legs join,
    # a third doc_key join would mean the gates regressed to a
    # separate text-scanning leg
    assert joins_on_key == 2, plan[:2000]


def test_fused_gate_stats_match_components(spark):
    """The inline curation gates (word_gate_exprs) must be
    bit-identical to the standalone certified operators they fuse
    (text_quality q19 + repetition_signals) on every shared column."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    gates = docs.select("doc_id", *word_gate_exprs(F.split("text", " ")))
    fused = {r["doc_id"]: r for r in gates.collect()}
    q = {r["doc_id"]: r for r in text_quality(spark, SF_DIR).collect()}
    rep = {r["doc_id"]: r for r in
           repetition_signals(spark, SF_DIR).collect()}
    assert set(fused) == set(q) == set(rep)
    for doc, f in fused.items():
        assert f["n_words"] == q[doc]["n_words"] == rep[doc]["n_words"]
        assert f["ttr"] == q[doc]["ttr"]
        assert f["stopword_ratio"] == q[doc]["stopword_ratio"]
        assert f["dup_word_frac"] == rep[doc]["dup_word_frac"]
        assert f["top_word_frac"] == rep[doc]["top_word_frac"]
        assert f["top_ngram_frac"] == rep[doc]["top_ngram_frac"]


def test_repetitive_gate_fires_with_priority(spark, tmp_path):
    """A planted boilerplate doc (one bigram repeated 100x) must be
    dropped as `repetitive`, not `low_quality` — its TTR is also
    pathological (2 distinct words), so this pins the when-chain
    ordering; a planted 3-word loop must fall to `too_short` first."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    base = docs.orderBy("doc_id").limit(1)
    loop = base.withColumn("doc_id", F.col("doc_id") + 10 ** 9) \
        .withColumn("text", F.concat_ws(
            " ", F.array_repeat(F.lit("free tokens"), 100)))
    short = base.withColumn("doc_id", F.col("doc_id") + 2 * 10 ** 9) \
        .withColumn("text", F.lit("buy buy buy"))
    corpus = str(tmp_path / "c")
    docs.unionByName(loop).unionByName(short).write.parquet(
        f"{corpus}/documents.parquet")
    decided = {r["doc_id"]: r["reason"]
               for r in curate_corpus(spark, corpus).collect()}
    loop_id = [d for d in decided if 10 ** 9 <= d < 2 * 10 ** 9][0]
    short_id = [d for d in decided if d >= 2 * 10 ** 9][0]
    assert decided[loop_id] == "repetitive"
    assert decided[short_id] == "too_short"


def test_priority_exact_over_near(spark, tmp_path):
    """A doc that is BOTH an exact and a near dup reports exact_dup.
    sf0.001 ships zero exact dups, so PLANT one: copy the corpus into
    a temp dir and append a byte-identical copy of an existing doc
    under a larger doc_id — identical text means identical MinHash
    signatures, so the plant lands in the exact AND near sets."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plant_src = docs.orderBy("doc_id").limit(1)
    plant = plant_src.withColumn(
        "doc_id",
        F.lit(10 ** 9) + F.col("doc_id"))
    corpus_dir = str(tmp_path / "corpus")
    docs.unionByName(plant).coalesce(1).write.parquet(
        f"{corpus_dir}/documents.parquet")

    exact = {r["doc_id"]
             for r in exact_dup_losers(spark, corpus_dir).collect()}
    near = {r["doc_id"] for r in
            dedup_keep_list(minhash_lsh_pairs(spark, corpus_dir))
            .where(~F.col("keep")).collect()}
    overlap = exact & near
    assert overlap, "planted dup missing from exact+near overlap"
    decided = {r["doc_id"]: r["reason"]
               for r in curate_corpus(spark, corpus_dir).collect()}
    # the overlap docs exercise the when-chain ordering: exact wins
    assert all(decided[d] == "exact_dup" for d in overlap)
    assert all(decided[d] == "exact_dup" for d in exact)
