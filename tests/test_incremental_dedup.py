"""Incremental MinHash dedup against a materialized index
(build_minhash_index / incremental_minhash_pairs): an arriving batch
must find exactly the pairs the full-corpus run would emit for it,
without re-hashing the stored corpus."""

import tempfile

import pyspark.sql.functions as F
import pytest

from miaplpy_spark.datagen import generate_documents
from miaplpy_spark.functions.dedup import (
    build_minhash_index,
    incremental_minhash_pairs,
    minhash_lsh_pairs,
)

N = 2000
A_END, B_END = 1400, 1700  # A = [0,1400) B = [1400,1700)


@pytest.fixture(scope="module")
def dirs(spark):
    """One generated corpus; base A and arriving batch B materialized
    as two documents.parquet dirs."""
    docs = generate_documents(spark, N)
    root = tempfile.mkdtemp(prefix="incr_dedup_")
    out = {}
    for name, lo, hi in (("a", 0, A_END), ("b", A_END, B_END)):
        d = f"{root}/{name}"
        (docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
         .write.parquet(f"{d}/documents.parquet"))
        out[name] = d
    out["index"] = f"{root}/index"
    return out


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_incremental_matches_full_run_restricted(spark, dirs):
    """incremental(B vs index(A)) == full-corpus pairs over A∪B
    restricted to pairs touching B — exact equality including the
    est_jaccard values (identical signatures, identical verify)."""
    n_indexed = build_minhash_index(spark, dirs["a"], dirs["index"])
    assert n_indexed > 0
    got = incremental_minhash_pairs(spark, dirs["b"], dirs["index"])

    ab = tempfile.mkdtemp(prefix="incr_ab_")
    (spark.read.parquet(f"{dirs['a']}/documents.parquet")
     .unionByName(spark.read.parquet(f"{dirs['b']}/documents.parquet"))
     .write.parquet(f"{ab}/documents.parquet"))
    full = minhash_lsh_pairs(spark, ab)
    want = full.where(
        ((F.col("doc1") >= A_END) & (F.col("doc1") < B_END))
        | ((F.col("doc2") >= A_END) & (F.col("doc2") < B_END)))

    want_rows = _rows(want)
    assert _rows(got) == want_rows
    # the planted families guarantee the comparison is not vacuous:
    # the batch's exact/near plants all target stored A docs
    assert any(r[0] < A_END for r in want_rows), "no store-batch pair"


def test_batch_internal_pair_found(spark, dirs):
    """Two byte-identical docs arriving in the SAME batch must pair
    with each other even when neither matches the store — the
    batch-internal self-join leg."""
    batch = tempfile.mkdtemp(prefix="incr_twin_")
    text = " ".join(f"w{i * 31 % 211}" for i in range(60))
    spark.createDataFrame(
        [(900001, text, "en", "src0", len(text)),
         (900002, text, "en", "src0", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{batch}/documents.parquet")
    got = incremental_minhash_pairs(spark, batch, dirs["index"]).collect()
    assert [(r["doc1"], r["doc2"], r["est_jaccard"]) for r in got] == \
        [(900001, 900002, 1.0)]


def test_params_travel_with_index(spark, dirs):
    from miaplpy_spark.functions.dedup import _minhash_index_params

    p = _minhash_index_params(spark, dirs["index"])
    assert p == {"n_perm": 32, "bands": 8, "k": 3}
