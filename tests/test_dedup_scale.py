"""Scale guards for the near-dup operators: hot-shingle df cap and
SimHash multi-band blocking (the two 100 TB scale-killers named in
round-2 review)."""

import pyspark.sql.functions as F

from miaplpy_spark.functions.dedup import simhash_candidates
from miaplpy_spark.functions.text import shingle_jaccard_pairs_df, shingles


def _docs_with_stop_shingle(spark, n_docs=20):
    """Half the docs share the stop-bigram 'hot stop'; every doc also
    has unique filler words so true near-dup pairs are none."""
    rows = []
    for i in range(n_docs):
        words = [f"u{i}a", f"u{i}b", f"u{i}c", f"u{i}d"]
        if i % 2 == 0:
            words = ["hot", "stop"] + words
        rows.append((f"d{i:03d}", "en", " ".join(words)))
    return spark.createDataFrame(rows, "doc_id string, lang string, text string")


def test_df_cap_drops_hot_shingle_candidates(spark):
    d = _docs_with_stop_shingle(spark)
    # without a cap the stop-shingle alone creates C(10,2)=45 candidate
    # pairs; with the cap below its df (10) the join emits none
    uncapped = shingle_jaccard_pairs_df(d, k=2, threshold=0.0, df_cap=10**6)
    capped = shingle_jaccard_pairs_df(d, k=2, threshold=0.0, df_cap=5)
    assert uncapped.count() == 45
    assert capped.count() == 0


def test_df_cap_preserves_sizes_and_true_pairs(spark):
    """The cap must not change the Jaccard DENOMINATOR: a genuine
    near-dup pair sharing rare shingles keeps its exact sizes even
    when a hot shingle is dropped from the join."""
    rows = [
        ("a", "en", "hot stop x y z w"),
        ("b", "en", "hot stop x y z q"),
    ] + [(f"f{i}", "en", f"hot stop u{i}a u{i}b") for i in range(10)]
    d = spark.createDataFrame(rows, "doc_id string, lang string, text string")
    # df of 'hot stop' = 12 > cap=10; the rare shingles 'x y','y z'
    # still connect (a, b). sizes: 5 bigrams each; inter(a,b) without
    # 'hot stop'-only matches = |{stop x, x y, y z}| = 3
    out = shingle_jaccard_pairs_df(d, k=2, threshold=0.0, df_cap=10) \
        .where((F.col("doc1") == "a") & (F.col("doc2") == "b")).collect()
    assert len(out) == 1
    assert abs(out[0]["jaccard"] - round(3 / (5 + 5 - 3), 6)) < 1e-9


def test_simhash_bands_catch_top_bit_divergence(spark):
    """A pair differing ONLY inside the top 16-bit band must surface
    as a candidate (the old single-top-16-block plan missed exactly
    these); a pair differing in every band must not."""
    h0 = 0x123456789ABC            # 48-bit
    pair_top = h0 ^ (0x0FFF << 36)     # 12 bits flipped, all in band 2
    all_bands = h0 ^ 0x000100010001    # one bit flipped in each band
    s = spark.createDataFrame(
        [("base", h0), ("topdiff", pair_top), ("alldiff", all_bands)],
        "doc_id string, simhash long")
    got = {(r["doc1"], r["doc2"])
           for r in simhash_candidates(s).collect()}
    assert ("base", "topdiff") in got
    assert ("alldiff", "base") not in got
    # hamming distances ride along correctly
    for r in simhash_candidates(s).collect():
        assert bin(r["h1"] ^ r["h2"]).count("1") <= 48


def test_simhash_bands_guarantee_small_hamming(spark):
    """Pigeonhole: any pair with Hamming < n_bands shares a band."""
    import random
    rng = random.Random(7)
    base = rng.getrandbits(48)
    rows = [("b", base)]
    for i in range(10):
        flipped = base
        for b in rng.sample(range(48), 2):   # hamming 2 < 3 bands
            flipped ^= 1 << b
        rows.append((f"v{i}", flipped))
    s = spark.createDataFrame(rows, "doc_id string, simhash long")
    got = {tuple(sorted((r["doc1"], r["doc2"])))
           for r in simhash_candidates(s).collect()}
    for i in range(10):
        assert tuple(sorted(("b", f"v{i}"))) in got


def test_winnowing_density_and_robustness(spark):
    """Winnowing guarantees: fingerprint density ~2/(w+1) of k-gram
    count, and a single-word edit changes only a local neighborhood of
    the fingerprint set (position robustness — the property that makes
    it a near-dup detector, Schleimer et al. 2003)."""
    from miaplpy_spark.functions.text import winnow_fingerprints

    import tempfile, os
    rng_words = [f"w{i * 7919 % 997}" for i in range(400)]
    base = " ".join(rng_words)
    edited = " ".join(rng_words[:200] + ["EDIT"] + rng_words[201:])
    d = spark.createDataFrame(
        [("base", "en", base, "s", len(base)),
         ("edit", "en", edited, "s", len(edited))],
        "doc_id string, lang string, text string, source string, n_chars long")
    tmp = tempfile.mkdtemp(prefix="winnow_")
    d.write.parquet(f"{tmp}/documents.parquet")
    out = {r["doc_id"]: r for r in
           winnow_fingerprints(spark, tmp, k=3, w=4).collect()}
    n_kgrams = 400 - 2
    density = out["base"]["n_fp"] / n_kgrams
    assert 0.25 <= density <= 0.6, density   # ~2/(w+1)=0.4 +- slack
    # the digest differs but the counts stay near-identical: the edit
    # perturbs at most ~k+w windows of selections
    assert abs(out["base"]["n_fp"] - out["edit"]["n_fp"]) <= 8
    assert out["base"]["fp_digest"] != out["edit"]["fp_digest"]
