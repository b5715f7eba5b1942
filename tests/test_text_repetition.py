"""Gopher-style within-document repetition signals vs a pure-pandas
oracle."""

import pandas as pd
import pyspark.sql.functions as F

from miaplpy_spark.functions.text import repetition_signals

SF_DIR = "/root/testdata/sf0.001"


def test_repetition_signals_match_pandas_oracle(spark):
    got = {r["doc_id"]: r for r in
           repetition_signals(spark, SF_DIR).collect()}
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet",
                           columns=["doc_id", "text"])
    assert len(got) == len(docs)
    for _, row in docs.iterrows():
        ws = row["text"].split(" ")
        n = len(ws)
        vc = pd.Series(ws).value_counts()
        grams = [" ".join(ws[i:i + 2]) for i in range(n - 1)]
        top_g = max(pd.Series(grams).value_counts()) if grams else 0
        r = got[row["doc_id"]]
        assert r["n_words"] == n
        assert abs(r["dup_word_frac"] - round(1 - len(vc) / n, 6)) < 1e-9
        assert abs(r["top_word_frac"] - round(vc.iloc[0] / n, 6)) < 1e-9
        assert abs(r["top_ngram_frac"] - round(top_g * 2 / n, 6)) < 1e-9


def test_repetition_flags_planted_boilerplate(spark, tmp_path):
    """A doc that is one sentence repeated 50x must dominate every
    repetition signal; natural docs stay well below it."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plant = (docs.orderBy("doc_id").limit(1)
             .withColumn("doc_id", F.col("doc_id") + 10 ** 9)
             .withColumn("text", F.concat_ws(
                 " ", F.array_repeat(F.lit("free tokens"), 100))))
    corpus = str(tmp_path / "c")
    docs.unionByName(plant).write.parquet(f"{corpus}/documents.parquet")
    out = repetition_signals(spark, corpus).collect()
    planted = [r for r in out if r["doc_id"] >= 10 ** 9][0]
    rest = [r for r in out if r["doc_id"] < 10 ** 9]
    assert planted["dup_word_frac"] > 0.9
    # "free tokens" x 100: the top 2-gram covers every word
    assert planted["top_ngram_frac"] > 0.9
    assert all(r["top_ngram_frac"] < planted["top_ngram_frac"]
               for r in rest)

