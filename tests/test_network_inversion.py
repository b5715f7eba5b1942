"""invert_network operator: exact recovery of a smooth per-doc series
from its banded pair network (the full-pipeline closure test)."""

import numpy as np
import pytest

from miaplpy_spark.config import EngineConfig
from miaplpy_spark.operators.network_inversion import invert_network

CFG = EngineConfig(n_buckets=2, n_samples=8)


def test_exact_recovery_from_fake_tier(spark):
    rng = np.random.default_rng(5)
    rows = []
    truths = {}
    for d in range(6):
        n_hours = 24 if d % 2 == 0 else 18  # two window-count groups
        truth = np.concatenate([[0.0], np.cumsum(rng.normal(0, 0.2, n_hours - 1))])
        truths[f"doc{d}"] = truth
        for h in range(n_hours):
            rows.append((f"doc{d}", "web", d % 2, h,
                         [float(truth[h])] * 10, 1.0))
    df = spark.createDataFrame(
        rows, "doc_id string, source string, bucket int, hour_idx int, "
              "linked_phase array<float>, quality float")
    out = invert_network(df, CFG).toPandas()
    assert len(out) == 6
    for _, r in out.iterrows():
        truth = truths[r["doc_id"]]
        ts = np.asarray(r["ts_series"], dtype=np.float64)
        assert len(ts) == len(truth)
        np.testing.assert_allclose(ts, truth - truth[0], atol=1e-4)
        assert r["inv_quality"] > 0.999


def test_quality_degrades_with_noise(spark):
    rng = np.random.default_rng(9)
    rows = []
    for d in range(4):
        # incoherent phases: network residuals large -> low quality
        for h in range(24):
            rows.append((f"noisy{d}", "web", 0, h,
                         [float(rng.uniform(-np.pi, np.pi))] * 10, 1.0))
    df = spark.createDataFrame(
        rows, "doc_id string, source string, bucket int, hour_idx int, "
              "linked_phase array<float>, quality float")
    out = invert_network(df, CFG).toPandas()
    assert (out["inv_quality"] < 0.9).all()


def _fake_tier(spark, truths, qualities):
    rows = []
    for doc, truth in truths.items():
        for h, v in enumerate(truth):
            rows.append((doc, "web", 0, h, [float(v)] * 10,
                         float(qualities[doc][h])))
    return spark.createDataFrame(
        rows, "doc_id string, source string, bucket int, hour_idx int, "
              "linked_phase array<float>, quality float")


def test_wls_downweights_corrupt_window(spark):
    """A20 + weighted inversion end-to-end: one window's phase is
    corrupted and flagged by low quality; the coherence->weight mapping
    must pull the WLS solution toward truth vs the unweighted L2."""
    rng = np.random.default_rng(3)
    n = 20
    truth = np.concatenate([[0.0], np.cumsum(rng.normal(0, 0.25, n - 1))])
    series = truth.copy()
    # corruption ~pi so that SOME pair diffs wrap and others don't: the
    # rewrapped pair observations become mutually inconsistent, which
    # is the regime where weighting matters (a consistent network — and
    # uniformly-wrapped is still consistent up to a 2pi window offset —
    # solves identically under any positive weights)
    series[7] += 3.2
    q = np.full(n, 0.99)
    q[7] = 0.05                           # ...flagged by its quality
    df = _fake_tier(spark, {"d0": series}, {"d0": q})

    l2 = invert_network(df, CFG, method="L2").toPandas().iloc[0]
    wls = invert_network(df, CFG, method="WLS").toPandas().iloc[0]
    ref = truth - truth[0]
    keep = np.arange(n) != 7              # window 7 itself is unknowable
    err = lambda r: np.abs(np.asarray(r["ts_series"], dtype=float)
                           - ref)[keep].mean()
    assert err(wls) < err(l2) * 0.5, (err(wls), err(l2))


def test_l1_method_recovers_truth(spark):
    rng = np.random.default_rng(4)
    n = 16
    truth = np.concatenate([[0.0], np.cumsum(rng.normal(0, 0.1, n - 1))])
    df = _fake_tier(spark, {"d0": truth}, {"d0": np.ones(n)})
    out = invert_network(df, CFG, method="L1").toPandas().iloc[0]
    ts = np.asarray(out["ts_series"], dtype=float)
    np.testing.assert_allclose(ts, truth - truth[0], atol=0.05)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        invert_network(df, CFG, method="L3")

