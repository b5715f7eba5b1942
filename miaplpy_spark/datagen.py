"""Deterministic, fully-distributed synthesis of the `sequences` table
(FIXTURES.md F1 / BASELINE.json input_hint).

Everything is derived JVM-side from ``spark.range`` + hash functions —
no Python UDF, no driver-side data, no external input. The same code
generates 10^4 rows in a unit test and 10^12 rows on a cluster: cost
is linear in rows and embarrassingly parallel (the range source splits
across executors; there is no shuffle).

Schema: doc_id string, slot int, ts timestamp, tokens array<int>,
n_tok int, source string  (+ bucket int, the partition key).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .config import SCALES, EngineConfig, ScaleSpec
from .operators.rollup import doc_bucket, with_doc_keys


def _u(seed_tag: str, *cols):
    """Deterministic uniform [0,1) from xxhash64 of cols + tag."""
    return (
        F.pmod(F.xxhash64(F.lit(seed_tag), *cols), F.lit(1_000_000))
        / F.lit(1_000_000.0)
    )


def zipf_thresholds(n: int, alpha: float) -> list[float]:
    w = [1.0 / (k + 1) ** alpha for k in range(n)]
    s = sum(w)
    acc, out = 0.0, []
    for x in w:
        acc += x / s
        out.append(acc)
    return out


def _source_label(cfg: EngineConfig) -> F.Column:
    """A doc's source: Zipf(zipf_alpha) over ``cfg.sources``, drawn per
    doc_id (not per row), so every generator labels a doc alike."""
    thresholds = zipf_thresholds(len(cfg.sources), cfg.zipf_alpha)
    u = _u("src" + str(cfg.seed), "doc_id")
    src = F.lit(cfg.sources[-1])
    for name, thr in reversed(list(zip(cfg.sources[:-1], thresholds[:-1]))):
        src = F.when(u < thr, F.lit(name)).otherwise(src)
    return src


def generate_sequences(
    spark: SparkSession,
    scale: str | ScaleSpec = "tiny",
    cfg: EngineConfig = EngineConfig(),
    with_tokens: bool = True,
) -> DataFrame:
    """Build the raw sequences DataFrame for a named scale.

    ``with_tokens=False`` skips materializing token arrays and emits
    the derived per-row stats directly — used by throughput benches
    where ingest I/O would otherwise dominate the rollup measurement.
    """
    spec = SCALES[scale] if isinstance(scale, str) else scale
    n_rows = spec.n_docs * spec.n_slots
    seed = str(cfg.seed)

    df = spark.range(0, n_rows).select(
        F.format_string("doc%08d", (F.col("id") / spec.n_slots).cast("long")).alias("doc_id"),
        F.pmod(F.col("id"), F.lit(spec.n_slots)).cast("int").alias("slot"),
    )

    # ~5% deterministic slot drops -> exercises gap-fill downstream
    df = df.where(
        F.pmod(F.xxhash64(F.lit("gap" + seed), "doc_id", "slot"), F.lit(cfg.gap_modulus)) != 0
    )

    # event-time axis
    df = df.withColumn(
        "ts",
        F.timestamp_seconds(F.lit(cfg.epoch0) + F.col("slot") * F.lit(cfg.slot_seconds)),
    )

    # n_tok: 90% light / 10% heavy (skew the salting must absorb)
    heavy = _u("heavy" + seed, "doc_id", "slot") < spec.heavy_pct / 100.0
    light_n = (F.lit(spec.tok_lo)
               + (_u("ntok" + seed, "doc_id", "slot") * (spec.tok_hi - spec.tok_lo)).cast("int"))
    heavy_n = (F.lit(spec.tok_heavy_lo)
               + (_u("ntok" + seed, "doc_id", "slot")
                  * (spec.tok_heavy_hi - spec.tok_heavy_lo)).cast("int"))
    df = df.withColumn("n_tok", F.when(heavy, heavy_n).otherwise(light_n))

    # source: Zipf(alpha) over the category list (hot-key driver)
    df = df.withColumn("source", _source_label(cfg))

    if with_tokens:
        df = df.withColumn(
            "tokens",
            F.transform(
                F.sequence(F.lit(0), F.col("n_tok") - 1),
                lambda i: F.pmod(
                    F.xxhash64(F.lit("tok" + seed), F.col("doc_id"), F.col("slot"), i),
                    F.lit(cfg.vocab_size),
                ).cast("int"),
            ),
        )

    # partition key: doc hash, optionally salted by day so hot docs
    # split across partitions (north_rule skew defusal; every window's
    # rows still share a bucket because windows never cross days)
    if cfg.salt_by_day:
        bucket = F.pmod(F.xxhash64(
            F.col("doc_id"),
            (F.col("slot") / F.lit(cfg.slots_per_day)).cast("long")),
            F.lit(cfg.n_buckets)).cast("int")
    else:
        bucket = doc_bucket(cfg)
    df = df.withColumn("bucket", bucket)
    return df


TOK_I16_OFFSET = 32768  # token-sample int16 bias: tok - 32768 ∈ int16 for V <= 65536


def prepare_observations(df: DataFrame, cfg: EngineConfig = EngineConfig()) -> DataFrame:
    """Project raw rows to the compact per-slot observation the rollup
    kernel consumes — entirely JVM-side (whole-stage codegen; the UDF
    never sees token arrays):

    - token stats: n_tok, sum/min/max of tokens
    - the S-wide ensemble sample of the sequence. TOKEN-SAMPLE
      transport: the ensemble entry is z_k = exp(i·2π·tok_k/V), fully
      determined by the token id, so the row carries the S raw token
      samples as ``ztok`` array<smallint> (biased by TOK_I16_OFFSET;
      2 bytes each) instead of S float32 phases — HALF the previous
      phase-only payload through shuffle + the Python worker channel,
      which BENCH/BASELINE.md measured as the scaling bottleneck. The
      kernel rebuilds phi = tok·2π/V with the identical double ops, so
      results are bit-equal. Falls back to float ``zphi`` when
      vocab_size exceeds int16+bias range.
    """
    S, V = cfg.n_samples, cfg.vocab_size
    two_pi = 6.283185307179586
    idx = F.sequence(F.lit(0), F.lit(S - 1))
    i16 = V <= 2 * TOK_I16_OFFSET

    def tok_at(i):
        # cycle when n_tok < S; element_at is 1-based
        return F.element_at(F.col("tokens"), (F.pmod(i, F.col("n_tok")) + 1).cast("int"))

    def sample_col(tok_fn):
        if i16:
            return F.transform(idx, lambda i: (tok_fn(i) - TOK_I16_OFFSET)
                               .cast("smallint")).alias("ztok")
        return F.transform(idx, lambda i: (tok_fn(i) * two_pi / V)
                           .cast("float")).alias("zphi")

    if "tokens" in df.columns:
        df = df.select(
            "doc_id", "slot", "ts", "source", "bucket", "n_tok",
            F.aggregate(F.col("tokens"), F.lit(0).cast("long"),
                        lambda a, t: a + t).alias("sum_tok"),
            F.array_min("tokens").alias("min_tok"),
            F.array_max("tokens").alias("max_tok"),
            sample_col(tok_at),
        )
    else:
        # stats-only generation path: synthesize the samples directly
        # from hashes (same distribution, no token materialization);
        # seed-tagged exactly like the token path so both paths stay
        # consistent under cfg.seed
        tok_hash = lambda i: F.pmod(
            F.xxhash64(F.lit("tok" + str(cfg.seed)), F.col("doc_id"),
                       F.col("slot"), i),
            F.lit(V))
        df = df.select(
            "doc_id", "slot", "ts", "source", "bucket", "n_tok",
            (F.col("n_tok").cast("long") * F.lit((cfg.vocab_size - 1) // 2)).alias("sum_tok"),
            F.lit(0).alias("min_tok"),
            F.lit(cfg.vocab_size - 1).alias("max_tok"),
            sample_col(tok_hash),
        )
    return df


def generate_doc_dim(spark: SparkSession, scale: str | ScaleSpec = "tiny",
                     cfg: EngineConfig = EngineConfig()) -> DataFrame:
    """The doc dimension (doc_key, doc_id, source) for a named scale —
    one row per doc, same deterministic formulas as generate_sequences.
    The rollup kernels never need the strings row-by-row: the cascade
    runs string-free (doc_key only) and joins this dimension back onto
    the G-row tier outputs (attach_doc_dim), a broadcast join."""
    spec = SCALES[scale] if isinstance(scale, str) else scale
    df = spark.range(0, spec.n_docs).select(
        F.format_string("doc%08d", F.col("id")).alias("doc_id"))
    dim = with_doc_keys(df.select("doc_id", _source_label(cfg).alias("source")))
    return dim.select("doc_key", "doc_id", "source")


def generate_documents(spark: SparkSession, n_docs: int,
                       cfg: EngineConfig = EngineConfig(),
                       with_families: bool = False) -> DataFrame:
    """Deterministic synthetic `documents` corpus (doc_id:long, text,
    lang, source, n_chars — the driver testdata schema) at an
    arbitrary scale, for benching the curation composition beyond the
    fixed sf corpora.

    Like ``generate_sequences``, everything derives JVM-side from
    ``spark.range`` + hash expressions — no Python UDF, no driver
    data, no shuffle: the same code writes 3k docs in a unit test and
    10^9 docs on a cluster, linear and embarrassingly parallel.

    Planted families (upper half of the id range only, so a dup's
    content seed always resolves to a pure base doc in one hop —
    Spark expressions cannot chase recursive dup-of-dup chains):

      base   40–200 words from a 1,200-word pool, ~10% stopwords
      exact  byte-identical copy of a base doc in [0, n/4)
      near   same base doc, ~5% of word positions replaced — lands
             above the MinHash verify threshold and collides in ≥1
             LSH band with high probability
      loop   60 words cycling a per-doc 2-word phrase (Gopher
             repetition gates fire); the phrase varies per doc so
             boilerplate does not collapse into one giant exact group
      short  1–4 words (too_short gate)
      soup   50 words drawn only from STOPWORDS (degenerate quality;
             at default thresholds the repetition gate outranks it)

    ``with_families=True`` keeps the ground-truth (kind,
    content_seed) columns for tests; default output matches the
    testdata schema exactly."""
    from .functions.text import STOPWORDS

    seed = str(cfg.seed)
    pool = 1200          # word-pool size; idx < 120 -> stopword (~10%)
    half = max(n_docs // 2, 1)
    tgt_mod = max(n_docs // 4, 1)

    df = spark.range(0, n_docs).select(F.col("id").alias("doc_id"))
    u = _u("dockind" + seed, "doc_id")
    kind = (F.when(F.col("doc_id") < half, F.lit("base"))
             .when(u < 0.03, F.lit("exact"))
             .when(u < 0.06, F.lit("near"))
             .when(u < 0.07, F.lit("loop"))
             .when(u < 0.08, F.lit("short"))
             .when(u < 0.10, F.lit("soup"))
             .otherwise(F.lit("base")))
    df = df.withColumn("kind", kind)
    target = F.pmod(F.xxhash64(F.lit("duptgt" + seed), F.col("doc_id")),
                    F.lit(tgt_mod))
    df = df.withColumn(
        "content_seed",
        F.when(F.col("kind").isin("exact", "near"), target)
         .otherwise(F.col("doc_id")))

    base_n = (F.lit(40)
              + (_u("nw" + seed, "content_seed") * 160).cast("int"))
    df = df.withColumn(
        "n_words_gen",
        F.when(F.col("kind") == "loop", F.lit(60))
         .when(F.col("kind") == "short",
               F.lit(1) + (_u("sn" + seed, "doc_id") * 4).cast("int"))
         .when(F.col("kind") == "soup", F.lit(50))
         .otherwise(base_n))

    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = len(STOPWORDS)
    loop_a = F.format_string(
        "loop%d", F.pmod(F.xxhash64(F.lit("la" + seed), F.col("doc_id")),
                         F.lit(500)))
    loop_b = F.format_string(
        "loop%d", F.pmod(F.xxhash64(F.lit("lb" + seed), F.col("doc_id")),
                         F.lit(500)))

    def word_at(i):
        idx = F.pmod(
            F.xxhash64(F.lit("dw" + seed), F.col("content_seed"), i),
            F.lit(pool))
        natural = (
            F.when(idx < 120,
                   F.element_at(stop_arr,
                                F.pmod(idx, F.lit(n_stop)).cast("int") + 1))
             .otherwise(F.format_string("w%d", idx)))
        perturb = (
            F.pmod(F.xxhash64(F.lit("pu" + seed), F.col("doc_id"), i),
                   F.lit(1000)) < 50)
        replaced = F.format_string(
            "p%d", F.pmod(F.xxhash64(F.lit("pw" + seed), F.col("doc_id"), i),
                          F.lit(pool)))
        soup_w = F.element_at(
            stop_arr,
            F.pmod(F.xxhash64(F.lit("sw" + seed), F.col("doc_id"), i),
                   F.lit(n_stop)).cast("int") + 1)
        return (F.when(F.col("kind") == "loop",
                       F.when(F.pmod(i, F.lit(2)) == 0, loop_a)
                        .otherwise(loop_b))
                 .when(F.col("kind") == "soup", soup_w)
                 .when((F.col("kind") == "near") & perturb, replaced)
                 .otherwise(natural))

    df = df.withColumn(
        "text",
        F.array_join(
            F.transform(F.sequence(F.lit(0), F.col("n_words_gen") - 1),
                        word_at), " "))

    lang_cuts = [("en", 0.45), ("zh", 0.60), ("fr", 0.73), ("es", 0.87)]
    ul = _u("lang" + seed, "doc_id")
    lang = F.lit("de")
    for name, thr in reversed(lang_cuts):
        lang = F.when(ul < thr, F.lit(name)).otherwise(lang)

    cols = ["doc_id", "text", lang.alias("lang"),
            _source_label(cfg).alias("source"),
            F.length("text").cast("long").alias("n_chars")]
    if with_families:
        cols += ["kind", "content_seed"]
    return df.select(*cols)
