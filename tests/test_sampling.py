"""Mixture sampling + leakage-safe split: determinism, budget
tracking against a pure-pandas oracle, and the no-straddle guarantee
for near-dup components."""

import duckdb
import pyspark.sql.functions as F
import pytest

from miaplpy_spark.functions.dedup import minhash_lsh_pairs
from miaplpy_spark.functions.sampling import (
    _EPOCH_SEED, _MIX_MOD, _MIX_MULT, expand_copies, leakage_safe_split,
    mixture_sample, sample_unit, source_token_totals)

SF_DIR = "/root/testdata/sf0.001"


def _pandas_docs():
    return duckdb.sql(
        f"SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens"
        f" FROM '{SF_DIR}/documents.parquet'").df()


def test_source_totals_match_duckdb(spark):
    got = {r["source"]: (r["n_docs"], r["n_tokens"])
           for r in source_token_totals(spark, SF_DIR).collect()}
    exp = duckdb.sql(
        f"SELECT source, count(*) AS d, sum(len(string_split(text, ' ')))"
        f" AS t FROM '{SF_DIR}/documents.parquet' GROUP BY 1").df()
    assert got == {r.source: (r.d, int(r.t)) for r in exp.itertuples()}


def test_mixture_sample_matches_pandas_oracle(spark):
    """Every keep decision reproduced by the documented pure-integer
    formula; per-source kept tokens land near the weighted budget."""
    docs = _pandas_docs()
    sources = sorted(docs["source"].unique())
    weights = {s: w for s, w in zip(sources, range(1, len(sources) + 1))}
    budget = int(docs["n_tokens"].sum() // 3)

    out = mixture_sample(spark, SF_DIR, weights, budget).collect()
    assert len(out) == len(docs)

    wsum = sum(weights[s] for s in sources)
    avail = docs.groupby("source")["n_tokens"].sum().to_dict()
    probs = {s: min(1.0, (weights[s] / wsum * budget) / avail[s])
             for s in sources}
    kept_total = 0
    for r in out:
        # single-epoch keep == the fractional-copy coin at floor(p)=0,
        # which runs on the salted epoch stream (ADVICE r05)
        u = ((r["doc_id"] % _MIX_MOD + _EPOCH_SEED % _MIX_MOD)
             * _MIX_MULT % _MIX_MOD) / _MIX_MOD
        assert r["keep"] == (u < probs[r["source"]]), r
        if r["keep"]:
            kept_total += r["n_tokens"]
    # per-source counts are too small (25 docs) for tight bounds, but
    # the 500-doc total must land near the budget (no source saturates
    # under these weights, so expected kept tokens == budget)
    assert all(p < 1.0 for p in probs.values()), probs
    assert abs(kept_total - budget) / budget < 0.15, (kept_total, budget)


def test_mixture_sample_saturates_and_drops_unweighted(spark):
    """p caps at 1.0 when the budget exceeds the source's supply, and
    sources with no weight are dropped entirely."""
    base = mixture_sample(spark, SF_DIR, {"src0": 1.0}, 10 ** 9).collect()
    # budget >> corpus: every src0 doc kept, every other source dropped
    for r in base:
        assert r["keep"] == (r["source"] == "src0"), r


def test_mixture_upsample_matches_integer_oracle(spark):
    """Uncapped take rates: n_copies = floor(p) + (u < frac(p)) for
    every doc, reproduced by the documented pure-integer formula; the
    expected token take per source equals its uncapped target."""
    docs = _pandas_docs()
    sources = sorted(docs["source"].unique())
    # all weight on one source, budget 2.5x the corpus: that source's
    # target is ~2.5x its own supply -> p in (2, 3), real upsampling
    budget = int(docs["n_tokens"].sum() * 2.5)
    weights = {sources[0]: 1.0}
    out = mixture_sample(spark, SF_DIR, weights, budget,
                         upsample=True).collect()
    avail = docs.groupby("source")["n_tokens"].sum().to_dict()
    p = budget / avail[sources[0]]
    assert p > 1.0, p
    import math
    fl, fr = math.floor(p), p - math.floor(p)
    for r in out:
        # the epoch-copy coin runs on its own salted stream (ADVICE
        # r05: decorrelated from the split's unsalted stream)
        u = ((r["doc_id"] % _MIX_MOD + _EPOCH_SEED % _MIX_MOD)
             * _MIX_MULT % _MIX_MOD) / _MIX_MOD
        want = (fl + (1 if u < fr else 0)) if r["source"] == sources[0] else 0
        assert r["n_copies"] == want, r
        assert r["keep"] == (want > 0), r


def test_mixture_upsample_agrees_with_default_when_unsaturated(spark):
    """p < 1 everywhere -> upsample=True and the default produce the
    identical frame (the multiplicity rule strictly generalizes the
    single-epoch keep rule)."""
    docs = _pandas_docs()
    sources = sorted(docs["source"].unique())
    weights = {s: 1.0 for s in sources}
    budget = int(docs["n_tokens"].sum() // 4)
    a = sorted(mixture_sample(spark, SF_DIR, weights, budget).collect())
    b = sorted(mixture_sample(spark, SF_DIR, weights, budget,
                              upsample=True).collect())
    assert a == b
    assert all(r["n_copies"] in (0, 1) for r in a)


def test_expand_copies_materializes_multiplicity(spark):
    docs = _pandas_docs()
    sources = sorted(docs["source"].unique())
    budget = int(docs["n_tokens"].sum() * 2.5)
    sampled = mixture_sample(spark, SF_DIR, {sources[0]: 1.0}, budget,
                             upsample=True)
    rows = sampled.collect()
    expanded = expand_copies(sampled).collect()
    assert len(expanded) == sum(r["n_copies"] for r in rows)
    per_doc = {}
    for e in expanded:
        per_doc.setdefault(e["doc_id"], []).append(e["copy_idx"])
    for r in rows:
        if r["n_copies"]:
            assert sorted(per_doc[r["doc_id"]]) == list(range(r["n_copies"]))
        else:
            assert r["doc_id"] not in per_doc
    # narrow generator: no shuffle in the expansion plan
    plan = expand_copies(sampled)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan, plan[:2000]


def test_unit_hash_safe_at_design_scale_ids(spark):
    """ids beyond ~3.5e9 made the naive id * 2654435761 overflow
    int64 — an ARITHMETIC_OVERFLOW task failure under Spark's default
    ANSI mode at the engine's 10^12-doc design scale. The reduce-
    before-multiply form must return the documented formula's exact
    value (Python big-int oracle) for huge ids."""
    ids = [0, 123, 10 ** 12 + 7, 2 ** 40, 2 ** 62, 2 ** 63 - 1]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    rows = df.select("doc_id", sample_unit().alias("u")).collect()
    for r in rows:
        mix = r["doc_id"] * _MIX_MULT % _MIX_MOD
        assert r["u"] == mix / _MIX_MOD, r


def test_unit_hash_is_uniform_enough(spark):
    rows = (spark.range(0, 100_000)
            .select(sample_unit("id").alias("u"))
            .agg(F.avg("u").alias("m"),
                 F.min("u").alias("lo"), F.max("u").alias("hi"))
            .collect()[0])
    assert abs(rows["m"] - 0.5) < 0.01
    assert rows["lo"] < 0.001 and rows["hi"] > 0.999


def test_leakage_safe_split_never_straddles(spark):
    split = {r["doc_id"]: (r["canon_id"], r["split"])
             for r in leakage_safe_split(spark, SF_DIR).collect()}
    docs = _pandas_docs()
    assert set(split) == set(docs["doc_id"])  # total labeling
    pairs = minhash_lsh_pairs(spark, SF_DIR).collect()
    assert pairs, "fixture corpus must surface near-dup pairs"
    for p in pairs:
        assert split[p["doc1"]][1] == split[p["doc2"]][1], p
        assert split[p["doc1"]][0] == split[p["doc2"]][0], p
    # both sides populated at the default val_frac on 500 docs
    sides = {s for _, s in split.values()}
    assert sides == {"train", "val"}
    # split is a pure function of the canonical id
    for doc, (canon, side) in split.items():
        u = (canon * _MIX_MULT % _MIX_MOD) / _MIX_MOD
        assert side == ("val" if u < 0.1 else "train"), doc


def test_leakage_safe_split_rejects_bad_frac(spark):
    with pytest.raises(ValueError):
        leakage_safe_split(spark, SF_DIR, val_frac=1.5)


def test_mixture_sample_rejects_zero_weight_cover(spark):
    with pytest.raises(ValueError):
        mixture_sample(spark, SF_DIR, {"no-such-source": 1.0}, 1000)


def test_mixture_sample_plan_is_one_narrow_filter(spark):
    """The corpus-scale pass must be shuffle-free: the per-source
    probabilities fold into a literal CASE over the scan."""
    df = mixture_sample(spark, SF_DIR, {"src0": 1.0, "src1": 1.0}, 10 ** 6)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:2000]
