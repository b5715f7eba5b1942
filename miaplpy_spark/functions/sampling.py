"""Corpus-level sampling and split operators for the training-data
pipeline: deterministic source-mixture sampling to a token budget and
a leakage-safe train/validation split.

These are the two decisions a pretraining run makes AFTER curation:
how much of each source to take (mixture weights), and how to carve
out held-out data without contamination (near-duplicates of a
validation doc must not appear in train — Lee et al. 2022,
"Deduplicating Training Data Makes Language Models Better", showed
test-set leakage via near-dups inflates eval).

100 TB shape: mixture sampling is one per-source aggregate (a
handful of rows) broadcast back as a literal CASE over a narrow
deterministic-hash filter — no shuffle of the corpus at all; the
split assigns by the near-dup COMPONENT canon (the keep-list's
canonical doc), so every doc in a duplicate cluster lands on the
same side, at the cost only of the already-computed component join.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .dedup import dedup_keep_list, minhash_lsh_pairs
from .text import _docs

# Deterministic per-doc uniform in [0, 1): a splitmix-style integer
# mix of doc_id, reduced mod 2^20. Pure int64 arithmetic (no float
# rounding, no engine-specific hash) so an external system — or a
# DuckDB oracle — reproduces the exact sample from doc_id alone.
_MIX_MULT = 0x9E3779B1  # 2654435761, Knuth multiplicative constant
_MIX_MOD = 1 << 20


# per-decision salts (ADVICE r05): every downstream decision family
# salts the unit stream with its own constant so decisions are
# pairwise independent — the UNSALTED stream (seed 0) is the
# leakage-safe split's; reusing it for the epoch-copy coin made
# "survives the val split" and "gets the extra epoch copy" perfectly
# correlated (after a split with val_frac >= frac(p), no surviving
# train doc ever got the extra copy and the realized token take
# silently undershot the target by frac(p) * supply)
_EPOCH_SEED = 0xE90C


def mix_mod(col: F.Column) -> F.Column:
    """``(col * 2654435761) mod 2^20`` without int64 overflow: the id
    is reduced mod 2^20 BEFORE the multiply. Bit-identical for every
    int64 input (multiplication mod 2^20 depends only on the operand
    mod 2^20), but the intermediate product stays below 2^52 — the
    naive ``id * MULT`` form overflows long for ids >= ~3.5e9, which
    under Spark's default ANSI mode is an ARITHMETIC_OVERFLOW task
    failure at the engine's own 10^12-doc design scale."""
    return F.pmod(F.pmod(col.cast("long"), F.lit(_MIX_MOD))
                  * F.lit(_MIX_MULT), F.lit(_MIX_MOD))


def mix_mod_salted(col: F.Column, seed: int) -> F.Column:
    """``mix_mod(col + seed)`` where the ADDITION itself cannot
    overflow either: both operands are reduced mod 2^20 first
    (congruence mod 2^20 is preserved, so the result equals the
    naive form wherever that form doesn't overflow) — ANSI-safe at
    ANY id magnitude."""
    return mix_mod(F.pmod(col.cast("long"), F.lit(_MIX_MOD))
                   + F.lit(int(seed) % _MIX_MOD))


def sample_unit(id_col="doc_id", seed: int = 0) -> F.Column:
    """u(doc) in [0, 1): (((doc_id + seed) * 2654435761) mod 2^20)
    / 2^20. ``seed`` selects an independent decision stream; 0 is the
    split's stream."""
    return mix_mod_salted(F.col(id_col), seed) / F.lit(float(_MIX_MOD))


def source_token_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source doc and whitespace-token totals — the table the
    mixture solver reads (rows = number of sources, tiny)."""
    d = _docs(spark, sf_dir)
    return (d.groupBy("source")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum(F.size(F.split("text", " "))).cast("long")
                  .alias("n_tokens")))


def mixture_sample(spark: SparkSession, sf_dir: str,
                   weights: dict[str, float],
                   token_budget: int,
                   upsample: bool = False) -> DataFrame:
    """Deterministic source-mixture sample: pick docs so each source
    contributes ~``weights[source] * token_budget`` whitespace tokens
    (weights are normalized over the sources present). Per source the
    take rate is p = target_tokens / available_tokens and a doc's
    multiplicity is ``n_copies = floor(p) + (sample_unit(doc_id,
    seed=_EPOCH_SEED) < frac(p))`` — a pure function of doc_id, so
    the sample is stable
    across runs, engines, and cluster sizes, and adding new docs never
    flips the decision for an existing doc (the property reservoir
    sampling lacks). E[n_copies * n_tokens] sums to exactly the
    source's target.

    ``upsample=False`` (default) caps p at 1 — a source whose target
    exceeds its supply contributes everything it has, once, and the
    formula degenerates to the single-epoch keep rule (floor 0, keep
    iff u < p). ``upsample=True`` leaves p uncapped: a scarce
    high-weight source (the Wikipedia-at-3-epochs pattern every
    published pretraining mixture uses) is repeated floor(p) times
    plus one more with probability frac(p). Feed the result through
    ``expand_copies`` to materialize one row per epoch copy.

    Plan: one per-source aggregate (rows = |sources|) collected to
    the driver, folded into a literal CASE — the corpus-scale pass is
    a single narrow projection over the scan, zero shuffles. Sources
    not named in ``weights`` get weight 0 (dropped).

    Returns (doc_id, source, n_tokens, n_copies, keep) with
    keep == (n_copies > 0).
    """
    totals = {r["source"]: r["n_tokens"]
              for r in source_token_totals(spark, sf_dir).collect()}
    wsum = sum(weights.get(s, 0.0) for s in totals)
    if wsum <= 0:
        raise ValueError(
            f"no positive weight for any present source {sorted(totals)}")
    probs = {}
    for s, avail in totals.items():
        target = weights.get(s, 0.0) / wsum * token_budget
        probs[s] = (target / avail) if avail else 0.0
        if not upsample:
            probs[s] = min(1.0, probs[s])

    p_col = None
    for s in sorted(probs):
        cond = F.col("source") == s
        p_col = (F.when(cond, F.lit(probs[s])) if p_col is None
                 else p_col.when(cond, F.lit(probs[s])))
    p_col = p_col.otherwise(F.lit(0.0))

    # the fractional-copy coin runs on its OWN salted stream
    # (_EPOCH_SEED): the unsalted stream is the leakage-safe split's,
    # and sharing it correlated 'survives the split' with 'gets the
    # extra epoch copy' (ADVICE r05, medium)
    n_copies = (F.floor(p_col).cast("long")
                + (sample_unit(seed=_EPOCH_SEED)
                   < (p_col - F.floor(p_col))).cast("long"))
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id", "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        n_copies.alias("n_copies"),
        (n_copies > 0).alias("keep"))


def expand_copies(sampled: DataFrame) -> DataFrame:
    """One row per kept epoch copy of a ``mixture_sample`` result:
    (doc_id, source, n_tokens, copy_idx in [0, n_copies), copy_key).
    A narrow generator over the already-filtered rows (no shuffle, no
    join). ``copy_key`` is the COLLISION-SAFE composite identity of
    the copy — a (doc_id, copy_idx) struct, unique by construction
    with no arithmetic to overflow (ADVICE r05: the old docstring
    delegated uniqueness to a ``doc_id * max_epochs + copy_idx``
    recipe that was unenforced and can itself ANSI-overflow for large
    doc_id). Consumers that need a LONG id may still derive one, but
    own the range proof."""
    return (sampled.where(F.col("n_copies") > 0)
            .select("doc_id", "source", "n_tokens",
                    F.explode(F.sequence(
                        F.lit(0), (F.col("n_copies") - 1).cast("int")))
                    .alias("copy_idx"))
            .withColumn("copy_key",
                        F.struct(F.col("doc_id"), F.col("copy_idx"))))


def leakage_safe_split(spark: SparkSession, sf_dir: str,
                       val_frac: float = 0.1,
                       near_dup_threshold: float = 0.35) -> DataFrame:
    """Train/validation split that cannot leak through duplicates:
    the split is decided by ``sample_unit`` of the doc's near-dup
    COMPONENT CANONICAL id (the minimum doc_id of its MinHash-LSH
    connected component, singletons being their own canonical), so
    every member of a duplicate cluster lands on the same side. A
    doc-level split would put near-copies of validation docs in
    train and silently inflate eval.

    Plan: the pair graph -> components -> spine-total keep list is
    the already-certified dedup composition; the only addition is
    one narrow map (unit hash of the canonical) — no new corpus
    shuffle. Returns (doc_id, canon_id, split).
    """
    if not 0.0 <= val_frac <= 1.0:
        raise ValueError(f"val_frac must be in [0, 1], got {val_frac}")
    spine = _docs(spark, sf_dir).select("doc_id")
    pairs = minhash_lsh_pairs(spark, sf_dir,
                              verify_threshold=near_dup_threshold)
    labeled = dedup_keep_list(pairs, doc_spine=spine)
    # `comp` IS the component's canonical (minimum) doc id — both
    # label-propagation modes converge to the component minimum, and
    # spine singletons come back as comp = own doc_id
    return labeled.select(
        "doc_id",
        F.col("comp").cast("long").alias("canon_id"),
        F.when(sample_unit("comp") < F.lit(val_frac), "val")
         .otherwise("train").alias("split"))
