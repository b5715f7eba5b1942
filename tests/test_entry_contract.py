"""Mirror of the driver's CORRECTNESS gate: run every queries() entry
at sf0.01 and compare against its oracle_sql() through DuckDB —
row count, column names, and values (order-insensitive)."""

import os

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entrymod

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_T2", "/root/testdata/sf0.01")
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

ORACLES = entrymod.oracle_sql()
QUERIES = entrymod.queries()


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].astype(np.float64)
        elif pd.api.types.is_integer_dtype(pdf[c]):
            pdf[c] = pdf[c].astype(np.int64)
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def test_every_query_has_an_oracle():
    """The driver certifies at most 50 queries; each must carry its
    oracle, or it would silently fall into the rows-only check."""
    assert set(QUERIES) == set(ORACLES)
    assert len(QUERIES) == len(ORACLES) == 50


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, ddb, name):
    got = _normalize(QUERIES[name](spark, SF_DIR).toPandas())
    exp = _normalize(ddb.execute(ORACLES[name]).df())
    assert list(got.columns) == list(exp.columns), (
        f"{name}: columns {list(got.columns)} != {list(exp.columns)}")
    assert len(got) == len(exp), f"{name}: {len(got)} rows != {len(exp)}"
    pd.testing.assert_frame_equal(got, exp, check_dtype=False,
                                  rtol=0, atol=1e-9)


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    # mirror the driver's canonicalizer: the result must survive a
    # pandas all-columns sort (list-typed cells crash factorize)
    pdf = df.toPandas()
    pdf[sorted(pdf.columns)].sort_values(sorted(pdf.columns))
    assert len(pdf) >= 0
    assert len(df.schema.fields) > 0


def test_entry_runs(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
