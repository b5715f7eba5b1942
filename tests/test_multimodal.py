"""Multimodal plumbing tests: schema, Arrow batch shape, deterministic
stub features (decode itself is stubbed — no media libs in this
container)."""

import numpy as np
import pytest

from miaplpy_spark.functions import multimodal

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    return multimodal.attach_blob(docs).cache()


def test_attach_blob_schema(media):
    assert dict(media.dtypes) == {
        "doc_id": "bigint", "mime": "string", "width": "int",
        "height": "int", "n_bytes": "bigint", "payload": "binary"}
    mimes = {r["mime"] for r in media.select("mime").distinct().collect()}
    assert mimes == {"image/png", "audio/wav", "video/mp4"}


def test_features_deterministic(media):
    f1 = multimodal.extract_features(media, 16).toPandas()
    f2 = multimodal.extract_features(media, 16).toPandas()
    f1 = f1.sort_values("doc_id").reset_index(drop=True)
    f2 = f2.sort_values("doc_id").reset_index(drop=True)
    assert len(f1) == media.count()
    for a, b in zip(f1["features"], f2["features"]):
        np.testing.assert_array_equal(a, b)
        assert len(a) == 16 and np.isfinite(a).all()
        assert (0 <= np.asarray(a)).all() and (np.asarray(a) <= 1).all()

