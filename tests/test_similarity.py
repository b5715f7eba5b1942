"""ANN quality: the approximate paths must actually approximate the
brute-force baseline, not just run (recall@k against
brute_force_topk, the correctness baseline per SURVEY.md training-
pipeline ops)."""

import pytest

from miaplpy_spark.functions import similarity as sim

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def truth(spark):
    return {(r.qid, r.nid) for r in sim.brute_force_topk(spark, SF_DIR).collect()}


def test_ivf_recall_beats_lsh(spark, truth, monkeypatch):
    """IVF (Voronoi cells over the label-clustered corpus) recovers
    most true neighbors probing 4 of 16 cells (a 25% scan fraction);
    random-hyperplane LSH on near-orthogonal vectors is the weaker
    approximation. Both return a full top-k for every query. With the
    env override unset, codebook_fit_dir falls back to the runtime
    sf_dir — the quantizer trains on the corpus it serves."""
    monkeypatch.delenv("SPARK_GRAFT_SF_DIR_T2", raising=False)
    ivf = {(r.qid, r.nid) for r in sim.ivf_ann_topk(spark, SF_DIR).collect()}
    lsh = {(r.qid, r.nid) for r in sim.lsh_ann_topk(spark, SF_DIR).collect()}
    assert len(ivf) == len(truth) and len(lsh) == len(truth)
    r_ivf = len(ivf & truth) / len(truth)
    r_lsh = len(lsh & truth) / len(truth)
    assert r_ivf >= 0.8, f"IVF recall {r_ivf}"
    assert r_lsh >= 0.05, f"LSH recall {r_lsh}"
    assert r_ivf > r_lsh


def test_codebook_fit_dir_explicit_wins(monkeypatch):
    """Round-4 ADVICE: an explicit caller directory must beat the env
    override — ivf_ann_topk(..., fit_dir=my_dir) with the var exported
    previously fit the quantizer on a DIFFERENT corpus than the one it
    assigns. Env applies only when the caller passes nothing (the
    gate/oracle call sites)."""
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR_T2", "/env/dir")
    assert sim.codebook_fit_dir("/my/dir") == "/my/dir"
    assert sim.codebook_fit_dir() == "/env/dir"
    monkeypatch.delenv("SPARK_GRAFT_SF_DIR_T2")
    assert sim.codebook_fit_dir() == "/root/testdata/sf0.01"


def test_ivf_codebook_shape():
    cents = sim.fit_ivf_codebook(SF_DIR, n_cells=4)
    assert len(cents) == 4 and all(len(c) == 64 for c in cents)
    # refined centroids are 6-dp rounded (engine-parity contract)
    for c in cents:
        for x in c:
            assert abs(x - round(x, 6)) < 1e-12
    # the fit is deterministic
    assert sim.fit_ivf_codebook(SF_DIR, n_cells=4) == cents
