"""Incremental curation (curate.curate_batch): curating an arriving
batch against a build_minhash_index store must reproduce EXACTLY the
full-corpus curate_corpus decision restricted to the batch — same
reasons, same keeps — under the growing corpus's append-only id
discipline (stored ids precede batch ids, so store-wins == min-id
canonical)."""

import tempfile

import pyspark.sql.functions as F
import pytest

from miaplpy_spark.datagen import generate_documents
from miaplpy_spark.functions.curate import curate_batch, curate_corpus
from miaplpy_spark.functions.dedup import build_minhash_index

N = 2000
A_END, B_END = 1400, 1700


@pytest.fixture(scope="module")
def dirs(spark):
    docs = generate_documents(spark, N)
    root = tempfile.mkdtemp(prefix="incr_curate_")
    out = {}
    for name, lo, hi in (("a", 0, A_END), ("b", A_END, B_END),
                         ("ab", 0, B_END)):
        d = f"{root}/{name}"
        (docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
         .write.parquet(f"{d}/documents.parquet"))
        out[name] = d
    out["index"] = f"{root}/index"
    build_minhash_index(spark, out["a"], out["index"])
    return out


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_batch_matches_full_run_restricted(spark, dirs):
    got = curate_batch(spark, dirs["b"], dirs["index"])
    want = (curate_corpus(spark, dirs["ab"])
            .where(F.col("doc_id") >= A_END))
    want_rows = _rows(want)
    assert _rows(got) == want_rows
    # non-vacuous: the planted families must exercise every branch
    # that distinguishes incremental from batch-local reasoning
    reasons = {r[3] for r in want_rows}
    assert "exact_dup" in reasons, "no exact dup planted into the batch"
    assert "near_dup" in reasons, "no near dup planted into the batch"
    assert "kept" in reasons


def test_store_wins_even_for_smaller_looking_text(spark, dirs):
    """A batch doc byte-identical to a STORED doc must report
    exact_dup even though, batch-locally, it is its fingerprint's
    first occurrence."""
    got = curate_batch(spark, dirs["b"], dirs["index"]).collect()
    by_id = {r["doc_id"]: r for r in got}
    # find a planted exact dup via the generator's ground truth
    fam = (generate_documents(spark, N, with_families=True)
           .where((F.col("doc_id") >= A_END) & (F.col("doc_id") < B_END)
                  & (F.col("kind") == "exact"))
           .select("doc_id").collect())
    assert fam, "fixture lost its planted exact dups"
    for r in fam:
        assert by_id[r["doc_id"]]["reason"] == "exact_dup"
        assert not by_id[r["doc_id"]]["keep"]


def test_batch_internal_twins_keep_first(spark, dirs):
    """Two byte-identical docs arriving in the same batch, neither
    matching the store: smaller id kept, larger dropped exact_dup."""
    batch = tempfile.mkdtemp(prefix="incr_twin_cur_")
    text = " ".join(f"w{i * 37 % 223}" for i in range(80))
    spark.createDataFrame(
        [(900001, text, "en", "src0", len(text)),
         (900002, text, "en", "src0", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{batch}/documents.parquet")
    got = {r["doc_id"]: r
           for r in curate_batch(spark, batch, dirs["index"]).collect()}
    assert got[900001]["reason"] == "kept" and got[900001]["keep"]
    assert got[900002]["reason"] == "exact_dup" and not got[900002]["keep"]
