"""Text-analysis operators for the training-data pipeline over the
``documents`` table: token counting, quality scoring, language
profiling, fingerprinting. All built-in-function plans (no UDFs) so
Catalyst prunes to exactly the columns used.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

STOPWORDS = ("a", "the", "of", "and", "to", "in")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _max_run(sorted_arr) -> F.Column:
    """Length of the longest run of equal adjacent elements in a
    SORTED array column == the count of the most frequent element —
    one aggregate fold, no explode, no shuffle. The accumulator
    carries (prev element, current run, best run); eqNullSafe makes
    the first element start a fresh run."""
    acc0 = F.struct(F.lit(None).cast("string").alias("prev"),
                    F.lit(0).cast("long").alias("cur"),
                    F.lit(0).cast("long").alias("best"))

    def step(acc, x):
        cur = (F.when(x.eqNullSafe(acc["prev"]), acc["cur"] + 1)
               .otherwise(F.lit(1).cast("long")))
        return F.struct(x.alias("prev"), cur.alias("cur"),
                        F.greatest(acc["best"], cur).alias("best"))

    return F.aggregate(sorted_arr, acc0, step, lambda a: a["best"])


def token_count(spark, sf_dir) -> DataFrame:
    """Whitespace token count + char stats per document."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id", "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_words"),
        F.length("text").cast("long").alias("n_chars_actual"),
        F.col("n_chars").cast("long").alias("n_chars_meta"),
    )


def text_quality(spark, sf_dir) -> DataFrame:
    """Quality-scoring heuristics: mean word length, type/token ratio,
    stopword ratio, and a composite score. Mirrors classic pretraining
    quality filters (length + repetition + stopword density).

    Shuffle-free: every scalar is an array expression over the
    in-row word list (counts, distinct size, length fold, stopword
    filter), so the plan is ONE narrow projection over the scan — the
    old explode + two-level groupBy shape shuffled a word-cardinality
    exchange per corpus pass for per-doc answers the row already
    contains (guide §2.4). Integer numerators/denominators are
    identical to the aggregated form (sum of int lengths is exact in
    long; division + round unchanged), so results are bit-equal."""
    d = _docs(spark, sf_dir)
    ws = F.split("text", " ")
    n = F.size(ws).cast("long")
    sum_len = F.aggregate(ws, F.lit(0).cast("long"),
                          lambda a, x: a + F.length(x))
    n_stop = F.size(F.filter(ws, lambda x: x.isin(*STOPWORDS))).cast("long")
    return d.select(
        "doc_id",
        n.alias("n_words"),
        F.size(F.array_distinct(ws)).cast("long").alias("n_distinct"),
        F.round(sum_len / n, 6).alias("avg_word_len"),
        n_stop.alias("n_stop"),
    ).select(
        "doc_id", "n_words", "n_distinct", "avg_word_len",
        F.round(F.col("n_distinct") / F.col("n_words"), 6).alias("ttr"),
        F.round(F.col("n_stop") / F.col("n_words"), 6).alias("stopword_ratio"),
    )


def lang_profile(spark, sf_dir) -> DataFrame:
    """Language-ID support profile: per declared lang, corpus stats
    (the n-gram language-ID heuristic reduces to comparing these
    profiles; the full classifier is lang_id_heuristic below)."""
    d = _docs(spark, sf_dir)
    return (d.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.round(F.avg("n_chars"), 6).alias("avg_chars"),
                 F.round(F.avg(F.size(F.split("text", " "))), 6).alias("avg_words")))


# GPT-2-style pre-tokenizer shape without byte-level merges: letter
# runs, digit runs, single non-space punctuation.
BPE_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"

# Deterministic marker-word profiles (the unigram reduction of an
# n-gram language model: score = marker hits). Fixed literals so the
# Spark plan and the SQL oracle share the exact classifier.
LANG_MARKERS = {
    "de": ("customer", "join", "column", "batch", "group", "key"),
    "en": ("the", "order", "table", "window", "row", "hash"),
    "es": ("slow", "agg", "merge", "vector", "value", "query"),
    "fr": ("scan", "data", "query", "batch", "small", "line"),
    "zh": ("join", "small", "row", "column", "part", "filter"),
}


def bpe_token_count(spark, sf_dir) -> DataFrame:
    """Sub-word token counting with a BPE-ish regex pre-tokenizer:
    tokens per doc, whitespace words per doc, and fertility
    (tokens per word) — all JVM-side regexp_extract_all, no UDF."""
    d = _docs(spark, sf_dir)
    toks = F.regexp_extract_all(F.lower(F.col("text")),
                                F.lit(BPE_PATTERN), F.lit(0))
    words = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_bpe_tokens"),
        F.size(words).cast("long").alias("n_ws_tokens"),
        F.round(F.size(toks) / F.size(words), 6).alias("fertility"),
    )


def lang_id_heuristic(spark, sf_dir) -> DataFrame:
    """Language-ID classifier: per-language marker-word hit counts,
    argmax with alphabetical tiebreak. Integer scores throughout so
    the decision is bit-deterministic across engines; the whole plan
    is higher-order array functions (filter over split), no explode,
    no shuffle — one narrow map over the scan."""
    d = _docs(spark, sf_dir)
    langs = sorted(LANG_MARKERS)
    hits = {
        lang: F.expr(
            "size(filter(split(text, ' '), x -> x IN ({})))".format(
                ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])))
        for lang in langs
    }
    scored = d.select(
        "doc_id", "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_words"),
        *[hits[lang].cast("long").alias(f"c_{lang}") for lang in langs])
    m = F.greatest(*[F.col(f"c_{lang}") for lang in langs])
    pred = None
    for lang in reversed(langs):
        cond = F.col(f"c_{lang}") == m
        pred = F.when(cond, lang) if pred is None else \
            F.when(cond, lang).otherwise(pred)
    return scored.select(
        "doc_id", "lang",
        pred.alias("pred_lang"),
        m.cast("long").alias("top_hits"),
        "n_words",
    )


def exact_fingerprint(col="text") -> F.Column:
    """THE exact-dedup normalization (md5 of lowercased text) — the
    single definition shared by fingerprint_dups (q21-certified) and
    curate.exact_dup_losers, so the two can never diverge."""
    return F.md5(F.lower(F.col(col)))


def fingerprint_dups(spark, sf_dir) -> DataFrame:
    """Document fingerprinting (md5 of normalized text) + exact-dup
    accounting per source — the exact-dedup operator."""
    d = _docs(spark, sf_dir)
    fp = d.select("source", exact_fingerprint().alias("fp"))
    return (fp.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.count_distinct("fp").alias("n_unique"),
                 (F.count("*") - F.count_distinct("fp")).alias("n_dups")))


def repetition_signals(spark, sf_dir, top_ngram: int = 2) -> DataFrame:
    """Within-document repetition signals — the Gopher-style quality
    filters (Rae et al. 2021, "Scaling Language Models", table A1)
    a pretraining pipeline applies beside stopword/TTR gates:

      dup_word_frac     fraction of word occurrences beyond each
                        word's first occurrence (1 - distinct/total)
      top_word_frac     occurrences of the single most frequent word
                        / total words
      top_ngram_frac    words covered by the most frequent
                        ``top_ngram``-gram (count x n / total)

    All JVM-side: one explode to word rows, n-gram assembly via
    slide-by-index transform, two groupBy aggregations on doc_id with
    map-side partials — same plan family as text_quality, so the 100
    TB shape is one doc-keyed exchange per aggregate. Repetitive docs
    (boilerplate, templated spam, generation loops) score high and
    are prime drop candidates."""
    d = _docs(spark, sf_dir)
    ws = d.select("doc_id", F.split("text", " ").alias("ws"))
    words = ws.select("doc_id", F.explode("ws").alias("w"))
    wc = (words.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
          .groupBy("doc_id")
          .agg(F.sum("c").alias("n_words"),
               F.count("*").alias("n_distinct"),
               F.max("c").alias("top_word_c")))
    grams = ws.select(
        "doc_id", F.size("ws").alias("n_words_g"),
        F.explode(F.transform(
            F.slice("ws", 1, F.greatest(F.size("ws") - (top_ngram - 1),
                                        F.lit(0))),
            lambda x, i: F.array_join(
                F.slice("ws", i + 1, top_ngram), " "))).alias("g"))
    gc = (grams.groupBy("doc_id", "g").agg(F.count("*").alias("c"))
          .groupBy("doc_id").agg(F.max("c").alias("top_gram_c")))
    return (wc.join(gc, "doc_id", "left")
            .select(
                "doc_id",
                F.col("n_words").cast("long").alias("n_words"),
                F.round(1 - F.col("n_distinct") / F.col("n_words"), 6)
                 .alias("dup_word_frac"),
                F.round(F.col("top_word_c") / F.col("n_words"), 6)
                 .alias("top_word_frac"),
                F.round(F.coalesce("top_gram_c", F.lit(0))
                        * top_ngram / F.col("n_words"), 6)
                 .alias("top_ngram_frac")))


def word_gate_exprs(ws, top_ngram: int = 2) -> list:
    """The curation gate scalars over an in-row word-array column:
    n_words, ttr, stopword_ratio, dup_word_frac, top_word_frac,
    top_ngram_frac — a fused single-pass twin of ``text_quality`` +
    ``repetition_signals``, which curate_corpus/curate_batch compute
    INLINE on their doc spine (no separate leg, no assembly join).

    Run as separate legs the two operators would scan the full text
    column twice and explode it to word rows twice — at 100 TB the
    text column is the corpus. All numerators and denominators are
    exact integers computed before a single rounded division, so the
    outputs are bit-identical to the standalone certified operators
    (pinned by
    tests/test_curate.py::test_fused_gate_stats_match_components).

    Shuffle-free (round-6): every count is an array expression over
    the in-row word list (n_words = size, n_distinct = size of
    array_distinct, n_stop = size of a stopword filter; the two
    top-frequency counts are longest-equal-run folds over the SORTED
    word/gram arrays, _max_run), so the gates are ONE narrow
    projection. The explode + two-level groupBy shape they replace
    shuffled four word/gram-cardinality exchanges per corpus pass
    (measured 0.80 -> 0.33 s at sf0.1)."""
    n = F.size(ws).cast("long")
    n_distinct = F.size(F.array_distinct(ws)).cast("long")
    n_stop = F.size(F.filter(ws, lambda x: x.isin(*STOPWORDS))).cast("long")
    top_word_c = _max_run(F.array_sort(ws))
    grams = F.transform(
        F.slice(ws, 1, F.greatest(F.size(ws) - (top_ngram - 1), F.lit(0))),
        lambda x, i: F.array_join(F.slice(ws, i + 1, top_ngram), " "))
    # docs with < 2 words have no grams: the old left join surfaced
    # NULL there; when() reproduces it so coalesce semantics match
    top_gram_c = F.when(F.size(grams) > 0, _max_run(F.array_sort(grams)))
    return [
        n.alias("n_words"),
        F.round(n_distinct / n, 6).alias("ttr"),
        F.round(n_stop / n, 6).alias("stopword_ratio"),
        F.round(1 - n_distinct / n, 6).alias("dup_word_frac"),
        F.round(top_word_c / n, 6).alias("top_word_frac"),
        F.round(F.coalesce(top_gram_c, F.lit(0)) * top_ngram / n, 6)
         .alias("top_ngram_frac"),
    ]


def winnow_fingerprints(spark, sf_dir, k: int = 3, w: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    the MOSS local fingerprinting algorithm): hash every k-gram, slide
    a w-wide window over the ordered hash sequence, select each
    window's minimum, dedup — the selected set is a position-robust
    fingerprint whose density is guaranteed ~2/(w+1) regardless of
    document length. Output per doc: fingerprint count + a modular
    digest of the selected hashes.

    Plan: one explode (k-gram positions, JVM-side), one shuffle for
    the per-doc ordered window, one aggregation — no self-join; the
    fingerprint table (doc_id, min_hash) is what a dedup pipeline
    joins on at scale (far smaller than the full shingle index)."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    words = d.select("doc_id", F.split("text", " ").alias("ws"))
    kg = (words
          .select("doc_id", (F.size("ws") - (k - 1)).alias("n_kg"),
                  F.explode(F.sequence(
                      F.lit(1), F.greatest(F.size("ws") - (k - 1), F.lit(1))
                  )).alias("i"), "ws")
          .where(F.col("i") <= F.col("n_kg"))
          .select("doc_id", "n_kg", "i",
                  F.conv(F.substring(F.md5(
                      F.array_join(F.slice("ws", F.col("i"), k), " ")),
                      1, 15), 16, 10).cast("long").alias("h")))
    win = Window.partitionBy("doc_id").orderBy("i").rowsBetween(0, w - 1)
    sel = (kg.withColumn("mh", F.min("h").over(win))
             .where(F.col("i") <= F.col("n_kg") - (w - 1))
             .select("doc_id", "mh").distinct())
    return (sel.groupBy("doc_id")
            .agg(F.count("*").alias("n_fp"),
                 F.sum(F.pmod(F.col("mh"), F.lit(1000003)))
                  .cast("long").alias("fp_digest")))


def cross_source_overlap(spark, sf_dir, prefix_words: int = 8) -> DataFrame:
    """Contamination report (train/test overlap check): documents are
    fingerprinted by their normalized ``prefix_words``-word prefix
    (the practical boilerplate/leakage detector — near-identical docs
    share openings even when tails diverge) and every fingerprint
    shared by >= 2 documents is reported with its duplicate count and
    how many distinct sources it spans (n_sources > 1 = cross-source
    leakage). One groupBy over the fingerprint — no join; the
    duplicated-fingerprint set is tiny relative to the corpus at any
    scale."""
    d = _docs(spark, sf_dir)
    prefix = F.array_join(F.slice(F.split("text", " "), 1, prefix_words), " ")
    fp = d.select("source", F.md5(F.lower(prefix)).alias("fp"))
    return (fp.groupBy("fp")
            .agg(F.count("*").alias("n_docs"),
                 F.count_distinct("source").alias("n_sources"))
            .where(F.col("n_docs") >= 2))


def shingles(df: DataFrame, k: int = 3) -> DataFrame:
    """Distinct k-word shingles per doc: explode positions JVM-side.

    Docs shorter than k words yield no shingles (filtered before the
    explode: ``F.sequence(1, n-k+1)`` would otherwise COUNT DOWN for
    n < k and emit invalid slice starts — Spark's sequence is
    bidirectional)."""
    words = (df.select("doc_id", F.split("text", " ").alias("ws"))
             .where(F.size("ws") >= k))
    return (words
            .select("doc_id", "ws",
                    F.explode(F.sequence(F.lit(1), F.size("ws") - (k - 1))).alias("i"))
            .select("doc_id",
                    F.array_join(F.slice("ws", F.col("i"), k), " ").alias("sh"))
            .distinct())


def shingle_jaccard_pairs(spark, sf_dir, k: int = 2, threshold: float = 0.04,
                          lang: str | None = "zh",
                          df_cap: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs within a language.

    Scale path: the shingle->doc inverted index IS the join key, so
    only docs sharing at least one shingle ever meet (no cross join),
    and stop-shingles are dropped by a document-frequency cap BEFORE
    the self-join — a shingle appearing in f docs would otherwise emit
    f^2 candidate rows, so one hot shingle ("in the") is a quadratic
    straggler task at corpus scale. ``df_cap`` defaults to
    max(100, 0.1% of docs): on the sandbox tables that is above every
    observed df (output unchanged, verified by the driver oracle);
    at 100 TB the capped shingles are exactly the non-discriminative
    ones, so the Jaccard numerator loss is bounded and the denominator
    (true shingle-set sizes, computed pre-cap) stays exact. For full
    recall at scale, front with dedup.minhash_lsh_pairs to bound the
    candidate set instead."""
    d = _docs(spark, sf_dir)
    if df_cap is None:
        # size the cap from the UNFILTERED corpus count: a bare
        # count(*) over parquet is served from row-group footers (no
        # column scan), unlike a count under the lang filter
        df_cap = max(100, int(0.001 * d.count()))
    if lang is not None:
        d = d.where(F.col("lang") == lang)
    return shingle_jaccard_pairs_df(d, k, threshold, df_cap)


def shingle_jaccard_pairs_df(d: DataFrame, k: int = 2,
                             threshold: float = 0.04,
                             df_cap: int | None = None) -> DataFrame:
    """Core of shingle_jaccard_pairs over an explicit documents
    DataFrame (doc_id, lang, text)."""
    from pyspark.sql import Window

    if df_cap is None:
        # note: a count on an already-filtered frame scans the filter
        # column — callers with the raw table should size the cap
        # there (shingle_jaccard_pairs does)
        df_cap = max(100, int(0.001 * d.count()))
    # document frequency via a window over the SAME (sh, lang) shuffle
    # the candidate self-join needs — the inverted index is built and
    # shuffled once and every consumer (sizes, both self-join sides)
    # hangs off the identical subtree. Materialize it ONCE: under AQE
    # (Spark 4.1.2) the three consumers do NOT collapse into one
    # reused shuffle stage (the same stage-cache miss as the MinHash
    # signature aggregation, dedup.py), so without this checkpoint the
    # explode + distinct + window re-executed per branch (measured
    # q22 1.55 -> 1.13 s at sf0.1). The checkpoint's footprint is the
    # same order as the shuffle files the exchange writes anyway.
    sh = (shingles(d, k).join(d.select("doc_id", "lang"), "doc_id")
          .withColumn("df", F.count("*").over(
              Window.partitionBy("sh", "lang")))
          .localCheckpoint(eager=True))
    # true per-doc shingle-set sizes BEFORE the cap: the Jaccard
    # denominator stays exact even when hot shingles are dropped
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    sh = sh.where(F.col("df") <= df_cap).drop("df")
    a, b = sh.alias("a"), sh.alias("b")
    inter = (a.join(b, (F.col("a.sh") == F.col("b.sh"))
                    & (F.col("a.lang") == F.col("b.lang"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("doc1"),
                      F.col("b.doc_id").alias("doc2"))
             .agg(F.count("*").alias("inter")))
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    return (inter
            .join(sa, F.col("doc1") == F.col("sa.doc_id"))
            .join(sb, F.col("doc2") == F.col("sb.doc_id"))
            .select("doc1", "doc2",
                    F.round(F.col("inter")
                            / (F.col("sa.sz") + F.col("sb.sz") - F.col("inter")), 6)
                    .alias("jaccard"))
            .where(F.col("jaccard") >= threshold))
