"""End-to-end corpus curation: the composition a pretraining data
pipeline actually runs over the `documents` table, stitched from the
individually driver-certified operators — quality scoring (q19),
exact dedup (q21), MinHash-LSH near-dup pairs (q26) collapsed by
connected components, and token accounting (q18) — into one
DataFrame graph with a per-doc keep/drop decision and the REASON.

Plan shape at 100 TB: every stage is one of the already-audited
plans (one exchange each, no Python in the hot path except the
bounded component loop over the pair graph, which is orders of
magnitude smaller than the corpus); the final assembly is left joins
of doc-keyed side outputs back onto the doc spine — each side is a
per-doc aggregate (same cardinality). The assembly joins shuffle on
``doc_key = xxhash64(doc_id)`` (the engine's one doc key,
operators/rollup.py) rather than the variable-length doc_id string:
a fixed 8-byte shuffle key through three doc-cardinality exchanges,
the same reason the tier kernels are string-free. Reasons
are evaluated in priority order so a doc dropped for multiple causes
reports the most fundamental one."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.rollup import with_doc_keys
from .dedup import (connected_components, dedup_keep_list,
                    incremental_minhash_pairs, minhash_lsh_pairs_df)
from .text import _docs, exact_fingerprint, word_gate_exprs


def exact_dup_losers(d: DataFrame) -> DataFrame:
    """Docs of the documents frame ``d`` whose full-text md5 matches an
    earlier (smaller doc_id) doc — the exact-dedup drop set:
    deterministic keep-first-by-id.

    One fingerprint-keyed exchange: min(doc_id) OVER (PARTITION BY fp)
    — the oracle's own formulation — instead of the old groupBy +
    join-back, which paid the aggregation exchange AND a second join
    of the full fingerprint table against it (measured 0.43 ->
    0.20 s at sf0.1; one corpus-sized shuffle instead of two at any
    scale)."""
    from pyspark.sql import Window

    fp = d.select("doc_id", exact_fingerprint().alias("fp"))
    keeper = F.min("doc_id").over(Window.partitionBy("fp"))
    return (fp.withColumn("keeper", keeper)
            .where(F.col("doc_id") != F.col("keeper"))
            .select("doc_id", F.col("keeper").alias("dup_of")))


def curate_corpus(spark: SparkSession, sf_dir: str,
                  min_words: int = 5, max_stopword_ratio: float = 0.9,
                  min_ttr: float = 0.2,
                  near_dup_threshold: float = 0.35,
                  max_dup_word_frac: float = 0.7,
                  max_top_word_frac: float = 0.2,
                  max_top_ngram_frac: float = 0.2) -> DataFrame:
    """Per-document curation decision (doc_id, lang, n_words, keep,
    reason). Reasons, in priority order:

      exact_dup   byte-identical (lowercased) text, non-canonical copy
      near_dup    MinHash-LSH component member that is not the
                  component's canonical (minimum-id) doc
      too_short   fewer than ``min_words`` whitespace tokens
      repetitive  Gopher-style within-doc repetition (Rae et al. 2021
                  table A1): duplicate-word fraction, top-word
                  fraction, or top-2-gram fraction above threshold —
                  boilerplate, templated spam, generation loops
      low_quality stopword ratio or type/token ratio outside bounds
      kept        survives everything

    Exact dedup outranks near-dup (a byte copy is also a near-dup;
    report the stronger finding); both outrank the quality gates so
    dedup statistics stay comparable across quality-threshold sweeps.
    Repetition sits between too_short and low_quality: a degenerate
    looping doc is a stronger (more specific) drop signal than a
    merely skewed stopword/TTR profile, and Gopher applies its
    repetition filters before the heuristic quality rules.

    The near-dup leg uses the SPINE-TOTAL keep list
    (dedup_keep_list(doc_spine=...)): every doc gets exactly one
    labeled row (singletons keep=true), so the assembly is a plain
    per-doc column rather than a loser-set semi-join."""
    # the spine KEEPS doc_id (the output needs it); the key column
    # rides alongside and is what the assembly joins shuffle on.
    # The quality + repetition gate scalars are computed INLINE on the
    # spine (word_gate_exprs — pure array expressions over the in-row
    # word list): they used to be a separate explode + 4-exchange leg
    # joined back by doc_key, but every gate is a per-doc function of
    # the text the spine row already holds, so the whole gate family
    # is now one narrow projection of the same scan — no gates leg, no
    # assembly join for it, zero extra exchanges at any corpus size.
    # The documents table is read ONCE and the frame feeds every leg:
    # each read.parquet would otherwise pay its own schema-inference
    # job.
    d = _docs(spark, sf_dir)
    spine = with_doc_keys(d.select(
        "doc_id", "lang", *word_gate_exprs(F.split("text", " "))))

    losers = (exact_dup_losers(d)
              .withColumn("is_exact", F.lit(True))
              .select("doc_id", "is_exact"))
    pairs = minhash_lsh_pairs_df(d, verify_threshold=near_dup_threshold)
    near_rows = (dedup_keep_list(pairs, doc_spine=d.select("doc_id"))
                 .select("doc_id", F.col("keep").alias("near_keep")))
    # side outputs join back onto the spine by key alone, so doc_id
    # never rides through the assembly shuffles
    exact = with_doc_keys(losers).drop("doc_id")
    near = with_doc_keys(near_rows).drop("doc_id")

    return _assemble_decision(
        spine, exact, near, min_words, max_stopword_ratio, min_ttr,
        max_dup_word_frac, max_top_word_frac, max_top_ngram_frac)


def _assemble_decision(spine, exact, near, min_words, max_stopword_ratio,
                       min_ttr, max_dup_word_frac, max_top_word_frac,
                       max_top_ngram_frac) -> DataFrame:
    """The shared assembly + priority CASE of curate_corpus and
    curate_batch — ONE definition so the full-corpus and incremental
    decisions can never diverge on reason semantics. ``spine`` already
    carries the inline gate scalars (word_gate_exprs); ``exact``
    carries is_exact, ``near`` carries near_keep, both keyed by
    doc_key."""
    out = (spine
           .join(exact, "doc_key", "left")
           .join(near, "doc_key", "left"))
    reason = (
        F.when(F.col("is_exact"), F.lit("exact_dup"))
         .when(~F.col("near_keep"), F.lit("near_dup"))
         .when(F.coalesce("n_words", F.lit(0)) < min_words,
               F.lit("too_short"))
         .when((F.col("dup_word_frac") > max_dup_word_frac)
               | (F.col("top_word_frac") > max_top_word_frac)
               | (F.col("top_ngram_frac") > max_top_ngram_frac),
               F.lit("repetitive"))
         .when((F.col("stopword_ratio") > max_stopword_ratio)
               | (F.col("ttr") < min_ttr), F.lit("low_quality"))
         .otherwise(F.lit("kept")))
    return out.select(
        "doc_id", "lang",
        F.coalesce("n_words", F.lit(0)).alias("n_words"),
        reason.alias("reason"),
        (reason == "kept").alias("keep"))


def curate_batch(spark: SparkSession, batch_dir: str, index_dir: str,
                 min_words: int = 5, max_stopword_ratio: float = 0.9,
                 min_ttr: float = 0.2,
                 near_dup_threshold: float = 0.35,
                 max_dup_word_frac: float = 0.7,
                 max_top_word_frac: float = 0.2,
                 max_top_ngram_frac: float = 0.2) -> DataFrame:
    """INCREMENTAL curation: the per-batch decision a continuously-
    growing corpus actually runs — curate an ARRIVING batch against a
    ``dedup.build_minhash_index`` store without rescanning or
    re-hashing any stored document. Same output schema, same reason
    vocabulary, same priority CASE as ``curate_corpus`` (one shared
    ``_assemble_decision``), with the dedup legs under the STORE-WINS
    contract the incremental setting forces:

      exact_dup   the batch doc's fingerprint matches ANY stored doc
                  (the store member was already kept and cannot be
                  revisited), OR an earlier (smaller-id) doc in the
                  SAME batch
      near_dup    the batch doc's near-dup component (over
                  incremental_minhash_pairs, components via
                  connected_components) contains ANY stored doc, or
                  a smaller-id batch doc

    Under the growing corpus's append-only id discipline (every stored
    id precedes every batch id) store-wins coincides exactly with
    curate_corpus's min-id-canonical semantics, so
    ``curate_batch(B, index(A)) == curate_corpus(A + B)`` restricted
    to B — pinned frame-exactly by tests/test_incremental_curate.py.
    (Store-store near-dup edges are invisible to the batch run by
    design; they can only merge components that already contain a
    stored doc, whose batch members drop either way.)

    Cost at 10^12 stored docs: the gates scan the BATCH text only;
    the exact leg reads the store's 16-byte fingerprint sidecar with
    the batch's fingerprint set broadcast into the scan (matched
    fingerprints come out at batch cardinality; the store is never
    shuffled); the near leg inherits incremental_minhash_pairs' cost
    model."""
    from pyspark.sql import Window

    d = _docs(spark, batch_dir)
    # gate scalars inline on the spine (word_gate_exprs) — same
    # no-leg, no-join shape as curate_corpus
    spine = with_doc_keys(d.select(
        "doc_id", "lang", *word_gate_exprs(F.split("text", " "))))

    # exact leg: batch fingerprints vs the stored sidecar + in-batch
    # keep-first. The store side streams (broadcast probe, no store
    # shuffle); `matched` is at most one row per distinct batch fp.
    # In-batch keep-first is a window min over the fp exchange (the
    # exact_dup_losers shape) instead of a groupBy + join-back.
    fp = d.select("doc_id", exact_fingerprint().alias("fp"))
    store_fp = spark.read.parquet(f"{index_dir}/fingerprints")
    matched = (store_fp
               .join(F.broadcast(fp.select("fp").distinct()),
                     "fp", "left_semi")
               .select("fp").distinct()
               .withColumn("in_store", F.lit(True)))
    keeper = F.min("doc_id").over(Window.partitionBy("fp"))
    losers = (fp.withColumn("keeper", keeper)
              .join(F.broadcast(matched), "fp", "left")
              .where(F.col("in_store").isNotNull()
                     | (F.col("doc_id") != F.col("keeper")))
              .select("doc_id", F.lit(True).alias("is_exact")))
    exact = with_doc_keys(losers).drop("doc_id")

    # near leg: components over the pairs touching this batch; a
    # component is store-tainted iff any member is NOT a batch doc.
    # The component graph is candidate-bounded (tiny next to either
    # corpus), so these joins are all small-side.
    pairs = incremental_minhash_pairs(spark, batch_dir, index_dir,
                                      verify_threshold=near_dup_threshold)
    comps = connected_components(pairs)
    batch_ids = d.select(F.col("doc_id").alias("node"),
                         F.lit(True).alias("in_batch"))
    flagged = comps.join(batch_ids, "node", "left")
    comp_stats = flagged.groupBy("comp").agg(
        F.max(F.col("in_batch").isNull().cast("int")).alias("has_store"),
        F.min(F.when(F.col("in_batch").isNotNull(), F.col("node")))
         .alias("min_batch"))
    near_rows = (flagged.where(F.col("in_batch"))
                 .join(comp_stats, "comp")
                 .select(F.col("node").alias("doc_id"),
                         ((F.col("has_store") == 0)
                          & (F.col("node") == F.col("min_batch")))
                         .alias("near_keep")))
    # batch docs in no pair never appear here: the CASE's null
    # fallthrough keeps them, matching the spine-total singleton rule
    near = with_doc_keys(near_rows).drop("doc_id")

    return _assemble_decision(
        spine, exact, near, min_words, max_stopword_ratio, min_ttr,
        max_dup_word_frac, max_top_word_frac, max_top_ngram_frac)
