"""Golden-output tests: the Spark 1h/1d tiers must match a pure-NumPy
oracle run over the identical synthetic rows (SURVEY.md §5 test plan;
FIXTURES.md F3)."""

import numpy as np
import pytest

from miaplpy_spark.config import EngineConfig, ScaleSpec
from miaplpy_spark.datagen import generate_sequences, prepare_observations
from miaplpy_spark.kernels import phase_linking as pl
from miaplpy_spark.kernels.gapfill import fill_dense_batch
from miaplpy_spark.operators.rollup import rollup_1d, rollup_1h

CFG = EngineConfig(n_buckets=4, n_samples=16)
SPEC = ScaleSpec(n_docs=6, n_slots=576, tok_lo=16, tok_hi=48,
                 tok_heavy_lo=96, tok_heavy_hi=128)


@pytest.fixture(scope="module")
def obs_pdf(spark):
    raw = generate_sequences(spark, SPEC, CFG)
    obs = prepare_observations(raw, CFG)
    return obs.toPandas()


@pytest.fixture(scope="module")
def tier1h(spark):
    raw = generate_sequences(spark, SPEC, CFG)
    obs = prepare_observations(raw, CFG)
    return rollup_1h(obs, CFG).toPandas()


def _oracle_window(g, cfg):
    """Reference semantics for ONE (doc, hour) window, scalar kernels —
    including the test_ps dispatch the patch loop applies per pixel."""
    T, S = cfg.slots_per_hour, cfg.n_samples
    sih = (g["slot"] % T).to_numpy()
    if "ztok" in g:
        from miaplpy_spark.operators.rollup import TOK_I16_OFFSET, TWO_PI
        tok = np.stack(g["ztok"].to_numpy()).astype(np.float64) + TOK_I16_OFFSET
        phi = (tok * TWO_PI / cfg.vocab_size).astype(np.float32)
    else:
        phi = np.stack(g["zphi"].to_numpy()).astype(np.float32)
    z = np.exp(1j * phi)
    dense = np.zeros((1, T, S), dtype=np.complex64)
    present = np.zeros((1, T), dtype=bool)
    dense[0, sih] = z
    present[0, sih] = True
    re = fill_dense_batch(dense.real.astype(np.float64), present)
    im = fill_dense_batch(dense.imag.astype(np.float64), present)
    Z = (re + 1j * im).astype(np.complex64)[0]
    if cfg.ps_test:
        coh = pl.est_corr(Z)
        q_ps, vec_ps, *_ = pl.test_ps(coh, np.abs(Z).mean(axis=1))
        if q_ps == 1.0:  # PS: keep raw phase
            sq = pl.squeeze_images(vec_ps, Z, 0)
            return np.angle(vec_ps), sq, 1.0
    vec, sq, q = pl.phase_linking_process(Z, 0, cfg.method, True)
    return np.angle(vec), sq / 1.0, q


def test_1h_matches_scalar_oracle(obs_pdf, tier1h, spark):
    cfg = CFG
    out = tier1h.set_index(["doc_id", "hour_idx"])
    obs_pdf = obs_pdf.sort_values(["doc_id", "slot"])
    hour = obs_pdf["slot"] // cfg.slots_per_hour
    checked = 0
    for (doc, h), g in obs_pdf.groupby([obs_pdf["doc_id"], hour], sort=False):
        if checked >= 40:
            break
        if len(g) < cfg.slots_per_hour - 1:
            # heavily gap-filled windows duplicate ensemble rows ->
            # degenerate min-eigenvalue whose eigenvector is arbitrary
            # within the null space; elementwise comparison is
            # ill-posed there (aggregates still checked via coverage
            # test). Windows with <=1 filled slot are well-conditioned.
            continue
        row = out.loc[(doc, h)]
        ang, sq, q = _oracle_window(g, cfg)
        got = np.asarray(row["linked_phase"], dtype=np.float32)
        # compare as complex phasors (phase is mod 2π)
        np.testing.assert_allclose(
            np.exp(1j * got), np.exp(1j * ang), atol=2e-3,
            err_msg=f"linked phase mismatch doc={doc} hour={h}")
        assert abs(row["quality"] - q) < 2e-3
        sq_packed = np.asarray(row["squeezed"], dtype=np.float32)
        got_sq = sq_packed[:cfg.n_samples] + 1j * sq_packed[cfg.n_samples:]
        # squeeze in the engine divides by sqrt(T); oracle's
        # phase_linking_process uses the same convention
        np.testing.assert_allclose(got_sq, sq, atol=2e-3)
        # aggregates: exact
        assert row["n_obs"] == len(g)
        assert row["n_filled"] == cfg.slots_per_hour - len(g)
        assert row["sum_tok"] == g["sum_tok"].sum()
        assert row["min_tok"] == g["min_tok"].min()
        assert row["max_tok"] == g["max_tok"].max()
        assert abs(row["mean_ntok"] - g["n_tok"].mean()) < 1e-9
        checked += 1
    assert checked == 40


def test_1h_complete_coverage(obs_pdf, tier1h):
    cfg = CFG
    hours = obs_pdf.assign(h=obs_pdf["slot"] // cfg.slots_per_hour)
    expected = hours.groupby(["doc_id", "h"]).size()
    assert len(tier1h) == len(expected)
    # every window present exactly once
    got = tier1h.set_index(["doc_id", "hour_idx"]).index
    assert not got.duplicated().any()
    assert set(got) == set(expected.index)


def test_1d_rolls_up_1h(spark, tier1h):
    cfg = CFG
    sdf_1h = spark.createDataFrame(tier1h)
    out = rollup_1d(sdf_1h, cfg).toPandas()
    day = tier1h["hour_idx"] // cfg.hours_per_day
    exp = tier1h.groupby([tier1h["doc_id"], day]).agg(
        n_hours=("hour_idx", "size"), n_obs=("n_obs", "sum"),
        sum_tok=("sum_tok", "sum"), min_tok=("min_tok", "min"),
        max_tok=("max_tok", "max"), mean_q=("quality", "mean"))
    got = out.set_index(["doc_id", "day_idx"]).sort_index()
    exp = exp.sort_index()
    assert len(got) == len(exp)
    np.testing.assert_array_equal(got["n_hours"].to_numpy(), exp["n_hours"].to_numpy())
    np.testing.assert_array_equal(got["n_obs"].to_numpy(), exp["n_obs"].to_numpy())
    np.testing.assert_array_equal(got["sum_tok"].to_numpy(), exp["sum_tok"].to_numpy())
    np.testing.assert_allclose(got["mean_quality_1h"], exp["mean_q"], atol=1e-6)
    # datum pass: day quality finite and in [-1, 1]; adjusted series
    # is the hourly series rotated by the datum phasor (A11 semantics)
    assert np.isfinite(got["quality_1d"]).all()
    assert (np.abs(got["quality_1d"]) <= 1.0 + 1e-6).all()
    r0 = out.iloc[0]
    H, T = cfg.hours_per_day, cfg.slots_per_hour
    assert len(r0["datum_shift"]) == H
    assert len(r0["adjusted_phase"]) == H * T


def test_datum_semantics_match_kernel(spark, tier1h):
    """The engine's 1d datum pass == kernels.datum_connect on the same
    squeezed rows, for a full day of one doc."""
    cfg = CFG
    one = tier1h[tier1h["doc_id"] == tier1h["doc_id"].iloc[0]]
    one = one[one["hour_idx"] < cfg.hours_per_day].sort_values("hour_idx")
    assert len(one) == cfg.hours_per_day
    packed = np.stack(one["squeezed"].to_numpy()).astype(np.float32)
    S = cfg.n_samples
    sq = (packed[:, :S] + 1j * packed[:, S:]).astype(np.complex64)
    vec, _, q = pl.phase_linking_process(sq, 0, "EMI", False)
    datum_oracle = np.angle(vec)

    out = rollup_1d(spark.createDataFrame(tier1h), cfg).toPandas()
    row = out[(out["doc_id"] == one["doc_id"].iloc[0]) & (out["day_idx"] == 0)].iloc[0]
    np.testing.assert_allclose(
        np.exp(1j * np.asarray(row["datum_shift"], dtype=np.float64)),
        np.exp(1j * datum_oracle), atol=5e-3)
    assert abs(row["quality_1d"] - q) < 5e-3


def test_raw_tokens_unchanged_by_pipeline(spark):
    """Per-row token-array equality invariant (input_hint): the engine
    never mutates its input."""
    import pyspark.sql.functions as F

    raw = generate_sequences(spark, SPEC, CFG)
    chk = lambda df: df.select(
        F.sum(F.pmod(F.xxhash64("doc_id", "slot", F.col("tokens").cast("string")),
                     F.lit(10**9)))
    ).collect()[0][0]
    before = chk(raw)
    obs = prepare_observations(raw, CFG)
    rollup_1h(obs, CFG).count()  # run the pipeline
    assert chk(generate_sequences(spark, SPEC, CFG)) == before


def test_stats_only_datagen_matches_token_path(spark):
    """The with_tokens=False bench path must emit the SAME phases as
    the token-materializing path for any seed (both derive from the
    'tok'+seed hash tag) whenever n_tok >= S (no cycling)."""
    from miaplpy_spark.config import EngineConfig, ScaleSpec
    from miaplpy_spark.datagen import generate_sequences, prepare_observations

    cfg = EngineConfig(n_buckets=2, n_samples=8, seed=7)
    spec = ScaleSpec(n_docs=2, n_slots=20, tok_lo=8, tok_hi=16,
                     tok_heavy_lo=24, tok_heavy_hi=32)
    a = prepare_observations(
        generate_sequences(spark, spec, cfg, with_tokens=True), cfg)
    b = prepare_observations(
        generate_sequences(spark, spec, cfg, with_tokens=False), cfg)
    pa = a.select("doc_id", "slot", "ztok").toPandas().sort_values(
        ["doc_id", "slot"]).reset_index(drop=True)
    pb = b.select("doc_id", "slot", "ztok").toPandas().sort_values(
        ["doc_id", "slot"]).reset_index(drop=True)
    assert (pa["doc_id"] == pb["doc_id"]).all()
    import numpy as np
    za = np.stack(pa["ztok"].to_numpy())
    zb = np.stack(pb["ztok"].to_numpy())
    assert np.array_equal(za, zb)


def test_ps_branch_in_rollup(spark):
    """Planted PS groups (rank-1-coherent windows) must bypass the eigen
    linking inside the distributed kernel and keep their raw phase, per
    the scalar test_ps dispatch (lib/utils.pyx:420-459, 1110-1187);
    non-PS groups in the SAME batch still phase-link normally."""
    import pandas as pd

    cfg = EngineConfig(n_buckets=2, n_samples=8)
    T, S = cfg.slots_per_hour, cfg.n_samples
    rng = np.random.RandomState(0)
    rows = []
    base = rng.uniform(0, 2 * np.pi, size=S).astype(np.float32)
    for d, doc in enumerate(["psdoc", "mixdoc"]):
        for slot in range(2 * T):
            phi = base if doc == "psdoc" else (
                rng.uniform(0, 2 * np.pi, size=S).astype(np.float32))
            rows.append({"doc_id": doc, "slot": slot, "source": "web",
                         "bucket": d % cfg.n_buckets, "n_tok": 8,
                         "sum_tok": 100, "min_tok": 1, "max_tok": 50,
                         "zphi": phi.tolist()})
    obs = spark.createDataFrame(pd.DataFrame(rows))
    out = rollup_1h(obs, cfg).toPandas().set_index(["doc_id", "hour_idx"])
    assert len(out) == 4

    for (doc, h), row in out.iterrows():
        g = [r for r in rows if r["doc_id"] == doc and r["slot"] // T == h]
        z = np.exp(1j * np.array([r["zphi"] for r in g],
                                 dtype=np.float32)).astype(np.complex64)
        coh = pl.est_corr(z)
        q_ps, vec_ps, *_ = pl.test_ps(coh, np.abs(z).mean(axis=1))
        got = np.asarray(row["linked_phase"], dtype=np.float32)
        if doc == "psdoc":
            assert q_ps == 1.0, "scalar gate must classify planted group PS"
            assert row["quality"] == 1.0
            np.testing.assert_allclose(got, 0.0, atol=1e-6)
        else:
            assert q_ps != 1.0
            vec, _, q = pl.phase_linking_process(z, 0, cfg.method, True)
            np.testing.assert_allclose(
                np.exp(1j * got), np.exp(1j * np.angle(vec)), atol=2e-3)
            assert abs(row["quality"] - q) < 2e-3


def test_ps_batch_matches_scalar():
    """test_ps_batch == scalar test_ps decision on mixed batches."""
    rng = np.random.RandomState(3)
    T, S = 10, 8
    Z = np.empty((6, T, S), dtype=np.complex64)
    for b in range(6):
        if b % 2 == 0:
            Z[b] = np.exp(1j * rng.uniform(0, 2 * np.pi, S))[None, :]
        else:
            Z[b] = np.exp(1j * rng.uniform(0, 2 * np.pi, (T, S)))
    coh = pl.est_corr_batch(Z)
    is_ps, disp, top = pl.test_ps_batch(coh, np.abs(Z))
    for b in range(6):
        q, *_ = pl.test_ps(pl.est_corr(Z[b]), np.abs(Z[b]).mean(axis=1))
        assert is_ps[b] == (q == 1.0), f"batch/scalar disagree at {b}"
    assert is_ps[::2].all() and not is_ps[1::2].any()


def test_shp_filter_excludes_outlier_slot(spark):
    """N1 predicate inside the rollup: a slot whose token-sample
    distribution fails the SHP test against the window's center slot is
    excluded from the eigen ensemble (interpolated like a gap);
    aggregates still cover every present row."""
    import pandas as pd

    from miaplpy_spark.operators.rollup import _shp_present

    cfg = EngineConfig(n_buckets=1, n_samples=16, shp_filter=True,
                       ps_test=False)
    T, S = cfg.slots_per_hour, cfg.n_samples
    rng = np.random.RandomState(5)
    phi = rng.uniform(0, 2 * np.pi, (T, S)).astype(np.float32)
    phi[2] = rng.uniform(0, 0.3, S).astype(np.float32)  # planted outlier

    # the KS gate itself: slot 2 excluded, everything else kept
    present = np.ones((1, T), dtype=bool)
    keep = _shp_present(phi[None], present)
    assert keep[0].tolist() == [t != 2 for t in range(T)]

    rows = [{"doc_id": "d0", "slot": t, "source": "web", "bucket": 0,
             "n_tok": 8, "sum_tok": 100, "min_tok": 1, "max_tok": 50,
             "zphi": phi[t].tolist()} for t in range(T)]
    out = rollup_1h(spark.createDataFrame(pd.DataFrame(rows)), cfg).toPandas()
    assert len(out) == 1 and out.iloc[0]["n_obs"] == T  # aggregates intact

    # oracle: same window with slot 2 masked out of the ensemble
    z = np.exp(1j * phi).astype(np.complex64)
    dense = z[None]
    re = fill_dense_batch(dense.real.astype(np.float64), keep)
    im = fill_dense_batch(dense.imag.astype(np.float64), keep)
    Z = (re + 1j * im).astype(np.complex64)[0]
    vec, _, q = pl.phase_linking_process(Z, 0, cfg.method, True)
    got = np.asarray(out.iloc[0]["linked_phase"], dtype=np.float32)
    np.testing.assert_allclose(np.exp(1j * got), np.exp(1j * np.angle(vec)),
                               atol=2e-3)
    assert abs(out.iloc[0]["quality"] - q) < 2e-3

    # and with the filter OFF the output differs (the outlier leaks in)
    cfg_off = EngineConfig(n_buckets=1, n_samples=16, ps_test=False)
    out_off = rollup_1h(spark.createDataFrame(pd.DataFrame(rows)),
                        cfg_off).toPandas()
    got_off = np.asarray(out_off.iloc[0]["linked_phase"], dtype=np.float32)
    assert not np.allclose(np.exp(1j * got_off), np.exp(1j * got), atol=1e-4)


def test_ztok_transport_bit_equal_to_zphi(spark):
    """The int16 token-sample transport must produce BIT-IDENTICAL tier
    output to the float32 phase transport (the kernel rebuilds
    phi = tok*2pi/V with the same double ops the JVM used)."""
    import pyspark.sql.functions as F

    from miaplpy_spark.datagen import TOK_I16_OFFSET

    cfg = EngineConfig(n_buckets=2, n_samples=8)
    spec = ScaleSpec(n_docs=3, n_slots=60, tok_lo=8, tok_hi=16,
                     tok_heavy_lo=24, tok_heavy_hi=32)
    obs = prepare_observations(generate_sequences(spark, spec, cfg), cfg)
    assert "ztok" in obs.columns
    two_pi = 6.283185307179586
    obs_phi = obs.withColumn(
        "zphi", F.transform("ztok", lambda t: (
            (t.cast("int") + TOK_I16_OFFSET) * two_pi / cfg.vocab_size
        ).cast("float"))).drop("ztok")
    a = rollup_1h(obs, cfg).toPandas().sort_values(
        ["doc_id", "hour_idx"]).reset_index(drop=True)
    b = rollup_1h(obs_phi, cfg).toPandas().sort_values(
        ["doc_id", "hour_idx"]).reset_index(drop=True)
    assert len(a) == len(b)
    for c in ("n_obs", "sum_tok", "quality"):
        np.testing.assert_array_equal(a[c].to_numpy(), b[c].to_numpy())
    np.testing.assert_array_equal(np.stack(a["linked_phase"].to_numpy()),
                                  np.stack(b["linked_phase"].to_numpy()))
    np.testing.assert_array_equal(np.stack(a["squeezed"].to_numpy()),
                                  np.stack(b["squeezed"].to_numpy()))


def test_string_free_core_path_matches(spark):
    """String-free kernel ingress + attach_doc_dim == the strings-
    through-kernel path, for both tiers (the scaling-path contract:
    doc_id/source never cross the worker channel per raw row)."""
    from miaplpy_spark.datagen import generate_doc_dim
    from miaplpy_spark.operators.rollup import attach_doc_dim

    cfg = EngineConfig(n_buckets=2, n_samples=8)
    spec = ScaleSpec(n_docs=3, n_slots=120, tok_lo=8, tok_hi=16,
                     tok_heavy_lo=24, tok_heavy_hi=32)
    obs = prepare_observations(generate_sequences(spark, spec, cfg), cfg)
    dim = generate_doc_dim(spark, spec, cfg)

    import pyspark.sql.functions as F

    full_1h = rollup_1h(obs, cfg)
    obs_core = (obs.withColumn("doc_key", F.xxhash64("doc_id"))
                   .drop("doc_id", "source"))
    core_1h = rollup_1h(obs_core, cfg)
    assert "doc_id" not in core_1h.columns

    key = ["doc_id", "hour_idx"]
    a = full_1h.toPandas().sort_values(key).reset_index(drop=True)
    b = (attach_doc_dim(core_1h, dim).toPandas()
         .sort_values(key).reset_index(drop=True))
    assert list(a.columns) == list(b.columns)
    assert (a["doc_id"] == b["doc_id"]).all()
    assert (a["source"] == b["source"]).all()
    np.testing.assert_array_equal(np.stack(a["linked_phase"].to_numpy()),
                                  np.stack(b["linked_phase"].to_numpy()))

    # 1d stays string-free through the pipeline, joined once at the end
    full_1d = rollup_1d(full_1h, cfg).toPandas().sort_values(
        ["doc_id", "day_idx"]).reset_index(drop=True)
    core_1d = attach_doc_dim(
        rollup_1d(core_1h, cfg), dim).toPandas().sort_values(
        ["doc_id", "day_idx"]).reset_index(drop=True)
    assert list(full_1d.columns) == list(core_1d.columns)
    np.testing.assert_array_equal(
        full_1d["n_obs"].to_numpy(), core_1d["n_obs"].to_numpy())
    np.testing.assert_array_equal(
        np.stack(full_1d["adjusted_phase"].to_numpy()),
        np.stack(core_1d["adjusted_phase"].to_numpy()))


def test_attach_doc_dim_keeps_rows_missing_from_the_dimension(spark):
    """attach_doc_dim is a LEFT join: a core tier row whose doc_key the
    dimension lacks surfaces with null doc_id/source, and the output
    keeps exactly one row per kernel output row."""
    import pyspark.sql.functions as F

    from miaplpy_spark.datagen import generate_doc_dim
    from miaplpy_spark.operators.rollup import attach_doc_dim

    cfg = EngineConfig(n_buckets=2, n_samples=8)
    spec = ScaleSpec(n_docs=3, n_slots=120, tok_lo=8, tok_hi=16,
                     tok_heavy_lo=24, tok_heavy_hi=32)
    obs = prepare_observations(generate_sequences(spark, spec, cfg), cfg)
    core = rollup_1h(obs.withColumn("doc_key", F.xxhash64("doc_id"))
                        .drop("doc_id", "source"), cfg)
    dim = generate_doc_dim(spark, spec, cfg)
    gone = dim.orderBy("doc_id").first()["doc_key"]

    key = ["doc_key", "hour_idx"]
    want = core.toPandas().sort_values(key).reset_index(drop=True)
    got = (attach_doc_dim(core, dim.where(F.col("doc_key") != gone))
           .toPandas().sort_values(key).reset_index(drop=True))
    assert len(got) == len(want)
    assert (got[key] == want[key]).all(axis=None)
    lost = got["doc_key"] == gone
    assert lost.any() and not lost.all()
    assert got.loc[lost, ["doc_id", "source"]].isna().all(axis=None)
    assert got.loc[~lost, ["doc_id", "source"]].notna().all(axis=None)


def test_double_zstat_lane_rejects_inexact_integers():
    """The 1d tier packs its integer stats into float64 lanes, exact
    only below 2^53; a larger value may have been rounded by the
    JVM-side cast already, so unpacking it raises. Sparkless."""
    from miaplpy_spark.operators.rollup import _ZSTAT_1D, _unpack_zstat

    names = _ZSTAT_1D.names
    row = np.arange(1, len(names) + 1, dtype=np.float64)
    row[names.index("sum_tok")] = 2.0**53 - 1
    num = {"zstat": row[None, :].copy()}
    _unpack_zstat(num, _ZSTAT_1D)
    assert num["sum_tok"][0] == 2**53 - 1

    row[names.index("quality")] = np.inf   # a float lane: not bounded
    _unpack_zstat({"zstat": row[None, :].copy()}, _ZSTAT_1D)

    row[names.index("sum_tok")] = 2.0**53 + 2
    with pytest.raises(ValueError, match="2\\^53"):
        _unpack_zstat({"zstat": row[None, :].copy()}, _ZSTAT_1D)
