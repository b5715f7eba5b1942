"""Windowed rollup kernels: raw -> 1h and 1h -> 1d tiers.

Execution shape (the engine's core design decision):

    obs.withColumn("doc_key", xxhash64(doc_id))
       .repartition(n_buckets, "bucket")
       .sortWithinPartitions("doc_key", "slot")
       .mapInArrow(kernel, TIER_SCHEMA)

Three deliberate choices, each measured in this sandbox:

1. NOT ``groupBy(doc, window).applyInPandas`` — that invokes Python
   once per (doc, window) group (~10 rows each), re-creating the
   reference's per-pixel-loop bottleneck (lib/utils.pyx:1110-1187)
   that capped its scaling efficiency at 0.55-0.63. Each Arrow batch
   here carries thousands of complete windows through ONE batched
   eigendecomposition.
2. ``mapInArrow``, not ``mapInPandas`` — pandas conversion of list
   columns materializes one numpy object per row (measured ~10 s flat
   overhead on 9M rows, and it does not parallelize well); the Arrow
   kernel reshapes the list column's flat value buffer zero-copy.
3. sort key is ``doc_key`` (xxhash64 of doc_id), not the string —
   long sorts are ~3x cheaper through the shuffle sorter. It is the
   one key every doc-keyed group, sort and join in the package uses;
   the odds that two docs share it are ~1e-11 at sandbox scale.

Every kernel (both tiers here, the network inversion and
compress_1h) streams its sorted partition through ONE
batch-carry generator, ``carry_groups``: the trailing incomplete group
of each Arrow batch is held back as an Arrow slice, so the NumPy code
only ever sees complete groups and doc_id/source ride along as plain
Arrow columns. Output batches are built by one emitter, ``_emit``.

Window semantics: each 1h window (= 10 raw slots = one mini-stack,
defaults/miaplpyApp_auto.cfg:19) is phase-linked independently and
emits its squeezed carry (squeeze_images, lib/utils.pyx:470-487); the
1d tier re-links the 24 carries and applies the datum adjustment
(datum_connect, lib/utils.pyx:732-796). That math is written once, as
the pure-NumPy ``hour_windows`` and ``day_windows``; the 1h and 1d
kernels are thin emitters around them. Independent windows + datum is
the reference's own 'mini_stacks' composition and is what makes the
cascade embarrassingly parallel; the strict prepend-the-carry
sequential mode (lib/utils.pyx:641-660) is available in
kernels.phase_linking.sequential_phase_linking for exact-equivalence
tests.

Gap handling: aggregates cover PRESENT rows only; the eigen ensemble
is gap-filled by vectorized linear interpolation (north_rule; the
filled count is exposed as ``n_filled``).

Complex payloads are packed ``array<float>`` columns (re[0..k) ‖
im[0..k)) — one array header per row instead of two through the
shuffle (measured ~1.7x cheaper).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..config import EngineConfig
from ..kernels import phase_linking as pl
from ..kernels import shp as shp_kernels
from ..kernels.gapfill import fill_dense_batch

ROLLUP_1H_SCHEMA = (
    "doc_id string, doc_key long, source string, bucket int, "
    "hour_idx int, n_obs int, n_filled int, sum_tok long, min_tok int, "
    "max_tok int, mean_ntok double, linked_phase array<float>, "
    "squeezed array<float>, quality float"
)

ROLLUP_1D_SCHEMA = (
    "doc_id string, doc_key long, source string, bucket int, "
    "day_idx int, n_hours int, n_obs int, n_filled int, sum_tok long, "
    "min_tok int, max_tok int, mean_ntok double, mean_quality_1h double, "
    "quality_1d float, datum_shift array<float>, "
    "adjusted_phase array<float>, squeezed array<float>"
)


def _tier_ddl(ddl: str, with_strings: bool) -> str:
    """A tier DDL as the kernel emits it: string-free inputs get the
    core variant (doc_key only; doc_id/source come back via
    attach_doc_dim)."""
    if not with_strings:
        ddl = ", ".join(p for p in ddl.split(", ")
                        if not p.startswith(("doc_id ", "source ")))
    return ddl


def with_doc_keys(df: DataFrame) -> DataFrame:
    """Attach the hashed doc key every doc-keyed shuffle, sort and join
    in the package uses: doc_key = xxhash64(doc_id). String-free inputs
    must already carry it."""
    if "doc_key" not in df.columns:
        if "doc_id" not in df.columns:
            raise ValueError("string-free input must carry doc_key")
        df = df.withColumn("doc_key", F.xxhash64("doc_id"))
    return df


def doc_bucket(cfg: EngineConfig) -> F.Column:
    """The un-salted doc bucket pmod(xxhash64(doc_id), n_buckets): the
    partition key of doc-pure tables (the timeseries table, datagen's
    default bucketing)."""
    return F.pmod(F.xxhash64("doc_id"), F.lit(cfg.n_buckets)).cast("int")


_PA_TYPES = {
    "string": pa.string(), "long": pa.int64(), "int": pa.int32(),
    "smallint": pa.int16(), "double": pa.float64(), "float": pa.float32(),
    "array<float>": pa.list_(pa.float32()),
    "array<smallint>": pa.list_(pa.int16()),
    "array<int>": pa.list_(pa.int32()), "binary": pa.binary(),
}


def _pa_schema(ddl: str) -> pa.Schema:
    fields = []
    for part in ddl.split(", "):
        name, typ = part.split(" ", 1)
        fields.append(pa.field(name, _PA_TYPES[typ]))
    return pa.schema(fields)


TOK_I16_OFFSET = 32768  # must match datagen.TOK_I16_OFFSET
TWO_PI = 6.283185307179586


def _list_col(mat: np.ndarray) -> pa.Array:
    """(G, K) float32 -> Arrow list<float32> without per-row objects."""
    G, K = mat.shape
    return pa.ListArray.from_arrays(
        pa.array(np.arange(0, (G + 1) * K, K, dtype=np.int32)),
        pa.array(np.ascontiguousarray(mat, dtype=np.float32).reshape(-1)),
    )


def _flat_lists(col: pa.Array, width: int, n: int,
                dtype=np.float32) -> np.ndarray:
    """Fixed-width list column -> (n, width) view of the flat value
    buffer (zero copy when possible)."""
    flat = col.flatten().to_numpy(zero_copy_only=False)
    return np.ascontiguousarray(flat, dtype=dtype).reshape(n, width)


def _ensemble_phases(num: dict, vocab_size: int) -> np.ndarray:
    """(n, S) float32 phases from whichever transport the row carries:
    raw int16 token samples (``ztok``: phi = tok·2π/V with the same
    double ops the float path used JVM-side — bit-equal results at half
    the worker-channel bytes) or float32 phases (``zphi``)."""
    if "ztok" in num:
        tok = num["ztok"].astype(np.float64) + TOK_I16_OFFSET
        return (tok * TWO_PI / vocab_size).astype(np.float32)
    return num["zphi"]


def _group_change(*cols: np.ndarray) -> np.ndarray:
    """Boolean new-group markers over sorted rows: a group is a run of
    equal values in every column."""
    chg = np.zeros(cols[0].shape[0], dtype=bool)
    chg[0] = True
    for c in cols:
        chg[1:] |= c[1:] != c[:-1]
    return chg


def _link_batch(Z: np.ndarray, method: str, ps_test: bool = False):
    """(G, T, S) ensemble -> (vec (G,T), quality (G,), squeezed (G,S)).

    Batched correlation, then under EMI batched regularization and
    emi_phase_batch_status, the estimator with per-member status; EVD
    links every member with evd_phase_batch. The squeeze is one
    batched GEMV.

    There is one failure path, the reference's per-pixel EVD fallback
    (lib/utils.pyx:538-551): every member that regularization, the
    float64 inverse or the eigensolver rejects goes to one
    evd_phase_batch call, which gives each the bits the scalar
    evd_phase would.

    ``ps_test=True`` mirrors the reference's per-pixel dispatch in the
    patch loop (lib/utils.pyx:1110-1187 invoking test_PS_cy,
    lib/utils.pyx:420-459): groups whose top eigenvalue carries >95% of
    the spectrum norm with amplitude dispersion <0.42 are persistent
    scatterers — they bypass the eigen linking and keep their raw phase
    (vec = ones, quality = 1). The expensive linking runs only on the
    non-PS subset.
    """
    coh = pl.est_corr_batch(Z)
    G, T = coh.shape[0], coh.shape[1]
    if ps_test:
        is_ps, _, _ = pl.test_ps_batch(coh, np.abs(Z))
    else:
        is_ps = np.zeros(G, dtype=bool)

    vec = np.empty((G, T), dtype=np.complex64)
    quality = np.empty(G, dtype=np.float32)
    vec[is_ps] = 1.0
    quality[is_ps] = 1.0

    link = np.flatnonzero(~is_ps)
    cohL = coh[link] if is_ps.any() else coh
    vecL = np.empty((cohL.shape[0], T), dtype=np.complex64)
    ok = np.zeros(cohL.shape[0], dtype=bool)
    if method == "EMI":
        status, abscoh = pl.regularize_matrix_batch(np.abs(cohL).astype(np.float32))
        reg = np.flatnonzero(status == 0)
        vecL[reg], ok[reg] = pl.emi_phase_batch_status(cohL[reg], abscoh[reg])
    vecL[~ok] = pl.evd_phase_batch(cohL[~ok])

    qualityL = pl.gam_pta_batch(np.angle(cohL), vecL)
    if ps_test:
        # quality == 1.0 is the PS marker ("raw phase kept",
        # test_PS_cy lib/utils.pyx:420-459); a perfectly-fit NON-PS
        # group is downgraded to the reference's 0.95 cap so the
        # sentinel stays unambiguous
        qualityL = np.where(qualityL >= 1.0, np.float32(0.95), qualityL)
    vec[link] = vecL
    quality[link] = qualityL

    vm = np.exp(1j * np.angle(vec)).astype(np.complex64)
    # (G,1,T) @ (G,T,S) batched GEMV — same einsum, BLAS-dispatched
    squeezed = (vm.conj()[:, None, :] @ Z)[:, 0, :] / np.sqrt(T)
    return vec, quality, squeezed.astype(np.complex64)


def carry_groups(batches: Iterable[pa.RecordBatch], group_change
                 ) -> Iterator[pa.RecordBatch]:
    """The batch-carry protocol every tier kernel streams through.

    The input is sorted so each group's rows are contiguous, but Arrow
    batches cut it at arbitrary rows. The trailing (possibly
    incomplete) group of each batch is held back as a zero-copy slice
    and prepended to the next batch, so every yielded region holds only
    complete groups; the last group is flushed at partition end. Worker
    memory stays O(one Arrow batch + one group), and every column —
    doc_id/source strings included — is carried as Arrow data, so the
    carry does not care which key transport is in use.

    ``group_change(batch)`` returns the boolean new-group markers of a
    batch (``_group_change`` over its key and window columns). Empty
    batches are skipped."""
    carry = None
    for batch in batches:
        if batch.num_rows == 0:
            continue
        if carry is not None:
            # pyarrow 16 has no concat_batches
            batch = pa.Table.from_batches([carry, batch]) \
                .combine_chunks().to_batches()[0]
        last = int(np.flatnonzero(group_change(batch))[-1])
        carry = batch.slice(last)
        if last:
            yield batch.slice(0, last)
    if carry is not None:
        yield carry


def _window_change(key_cols: list[str], win_col: str | None = None,
                   width: int = 1):
    """``group_change`` for carry_groups: a group is (key_cols...,
    win_col // width)."""
    def change(batch: pa.RecordBatch) -> np.ndarray:
        cols = [batch.column(c).to_numpy(zero_copy_only=False)
                for c in key_cols]
        if win_col is not None:
            cols.append(batch.column(win_col).to_numpy() // width)
        return _group_change(*cols)
    return change


def _extract(batch: pa.RecordBatch, num_cols: list[str],
             list_cols: dict[str, tuple]) -> dict:
    n = batch.num_rows
    num = {c: batch.column(c).to_numpy(zero_copy_only=False)
           for c in num_cols}
    for c, (width, dtype) in list_cols.items():
        num[c] = _flat_lists(batch.column(c), width, n, dtype)
    return num


def _strings(region: pa.RecordBatch, idx: np.ndarray) -> dict:
    """doc_id/source at ``idx`` as Arrow columns, when the region
    carries them (string transport); empty when string-free."""
    idx = pa.array(idx)
    return {c: region.column(c).take(idx) for c in ("doc_id", "source")
            if c in region.schema.names}


def _emit(cols: dict, schema: pa.Schema) -> pa.RecordBatch:
    """One output batch in ``schema`` order. NumPy vectors are cast to
    the field type, (G, K) matrices become list<float32> columns and
    Arrow arrays pass through; every schema field must be in ``cols``."""
    arrays = []
    for f in schema:
        v = cols[f.name]
        if isinstance(v, np.ndarray):
            v = (_list_col(v) if v.ndim == 2 else
                 pa.array(v.astype(f.type.to_pandas_dtype(), copy=False)))
        arrays.append(v)
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


def _shp_present(phi_dense: np.ndarray, present: np.ndarray) -> np.ndarray:
    """SHP membership inside the window (N1, get_shp_row_col_c
    lib/utils.pyx:903-998 grafted to the token axis): each slot's
    token-sample distribution (phase = affine in token id) is tested
    against the window's center-most present slot with the two-sample
    KS test at alpha = 0.05 (ks_lut's critical distance); failing slots are
    excluded from the eigen ensemble (they fall back to interpolation,
    like gaps). Groups left with <2 member slots keep all present
    slots (the reference's min-SHP fallback). Fully vectorized."""
    G, T, S = phi_dense.shape
    t = np.arange(T)
    cost = np.abs(t[None, :] - (T - 1) / 2.0) + 1e6 * (~present)
    ref_t = np.argmin(cost, axis=1)                     # (G,)
    srt = np.sort(phi_dense, axis=2)
    g = np.arange(G)
    ref = np.ascontiguousarray(
        np.broadcast_to(srt[g, ref_t][:, None, :], (G, T, S))
    ).reshape(G * T, S)
    keep = (shp_kernels.ecdf_distance_pairs(ref, srt.reshape(G * T, S))
            <= shp_kernels.ks_lut(S, S)).reshape(G, T)
    keep[g, ref_t] = True
    keep &= present
    too_few = keep.sum(axis=1) < 2
    keep[too_few] = present[too_few]
    return keep


# Per-slot scalar stats cross the worker channel PACKED into one
# array column (zstat lanes, in this order): the JVM->Python Arrow
# conversion pays a near-fixed cost PER SCALAR COLUMN PER ROW
# (~0.5 s per column over the 9.1M-row bench table) while a list
# column's width is nearly free (8-col ingress 5.4 s vs 3-col-with-
# list 3.3 s, measured with a count-only kernel) — so five scalar
# columns ride one list. Values are exact in the lane type (int64 at
# 1h; float64 at 1d, where every packed int is far below 2^53 --
# _unpack_zstat raises otherwise -- and float32 round-trips exactly),
# so kernels unpack bit-identical arrays and outputs are unchanged.
class _Lanes(NamedTuple):
    type: str          # Spark lane type, declared with its lanes
    names: tuple
    n_int: int         # how many leading lanes hold integers


_ZSTAT_1H = _Lanes("long", ("bucket", "n_tok", "sum_tok", "min_tok",
                            "max_tok"), 5)
_ZSTAT_1D = _Lanes("double", ("bucket", "n_obs", "n_filled", "sum_tok",
                              "min_tok", "max_tok", "mean_ntok",
                              "quality"), 6)


def _pack_zstat(lanes: _Lanes) -> F.Column:
    return F.array(*[F.col(c).cast(lanes.type)
                     for c in lanes.names]).alias("zstat")


def _zstat_list(lanes: _Lanes) -> tuple:
    """``_extract`` list-column spec of the packed lane."""
    return len(lanes.names), _PA_TYPES[lanes.type].to_pandas_dtype()


def _unpack_zstat(num: dict, lanes: _Lanes) -> None:
    zs = num.pop("zstat")
    ints = zs[:, :lanes.n_int]
    if lanes.type == "double" and (np.abs(ints) >= 2.0**53).any():
        # the JVM-side cast may already have rounded such an integer
        raise ValueError("an integer zstat lane holds a value of magnitude "
                         f">= 2^53, where {lanes.names[:lanes.n_int]} are "
                         "not exact in a double")
    for i, name in enumerate(lanes.names):
        num[name] = zs[:, i]


def hour_windows(num: dict, cfg: EngineConfig) -> tuple[np.ndarray, dict]:
    """Raw slot rows of complete (doc, hour) groups -> one 1h row per
    group: the mini-stack is phase-linked on its own and emits its
    squeezed carry (squeeze_images, lib/utils.pyx:470-487).

    ``num`` holds per-row NumPy columns (doc_key, slot,
    bucket, n_tok, sum_tok, min_tok, max_tok, and the ztok|zphi
    ensemble as (n, S)). Returns the group start rows and the
    per-group columns, named as in ROLLUP_1H_SCHEMA — exactly what
    ``day_windows`` consumes."""
    T, S = cfg.slots_per_hour, cfg.n_samples
    doc_key, slot = num["doc_key"], num["slot"]
    hour = slot // T
    sih = slot % T
    chg = _group_change(doc_key, hour)
    starts = np.flatnonzero(chg)
    G = starts.shape[0]
    gid = np.cumsum(chg) - 1

    # reconstitute unit phasors from the compact transport —
    # float32 cos/sin into a preallocated complex64 (np.exp(1j*x)
    # would silently run in complex128)
    phi = _ensemble_phases(num, cfg.vocab_size)
    z = np.empty(phi.shape, dtype=np.complex64)
    np.cos(phi, out=z.real)
    np.sin(phi, out=z.imag)

    dense = np.zeros((G, T, S), dtype=np.complex64)
    present = np.zeros((G, T), dtype=bool)
    dense[gid, sih] = z
    present[gid, sih] = True
    ens_present = present
    if cfg.shp_filter:
        phi_dense = np.zeros((G, T, S), dtype=np.float32)
        phi_dense[gid, sih] = phi
        ens_present = _shp_present(phi_dense, present)
    # float32 fill + preallocated complex64 assembly: the f64
    # round-trip and the complex128 intermediate of (re + 1j*im)
    # were ~25% of the fill cost at zero accuracy benefit (interp
    # weights stay f64 inside fill_dense_batch)
    Z = np.empty(dense.shape, dtype=np.complex64)
    Z.real = fill_dense_batch(dense.real, ens_present)
    Z.imag = fill_dense_batch(dense.imag, ens_present)

    vec, quality, squeezed = _link_batch(Z, cfg.method, ps_test=cfg.ps_test)

    n_obs = np.diff(starts, append=slot.shape[0]).astype(np.int32)
    hr = {
        "doc_key": doc_key[starts],
        "bucket": num["bucket"][starts],
        "hour_idx": hour[starts],
        "n_obs": n_obs,
        "n_filled": T - n_obs,
        "sum_tok": np.add.reduceat(num["sum_tok"], starts),
        "min_tok": np.minimum.reduceat(num["min_tok"], starts),
        "max_tok": np.maximum.reduceat(num["max_tok"], starts),
        "mean_ntok": (np.add.reduceat(num["n_tok"].astype(np.float64),
                                      starts) / n_obs),
        "linked_phase": np.angle(vec).astype(np.float32),
        "squeezed": np.concatenate([squeezed.real, squeezed.imag], axis=1),
        "quality": quality,
    }
    return starts, hr


def day_windows(hr: dict, cfg: EngineConfig) -> tuple[np.ndarray, dict]:
    """1h rows of complete (doc, day) groups -> one 1d row per group:
    re-link the squeezed carries and apply the datum shift to every
    hour's linked phase (datum_connect, lib/utils.pyx:732-796).

    ``hr`` holds the 1h columns as ``hour_windows`` returns them (or as
    read back from the 1h tier; the scalar stats may arrive as float64
    lanes, which hold them exactly). Returns the group start rows and
    the per-group columns, named as in ROLLUP_1D_SCHEMA."""
    H, S, T = cfg.hours_per_day, cfg.n_samples, cfg.slots_per_hour
    doc_key, hour_idx = hr["doc_key"], hr["hour_idx"]
    day = hour_idx // H
    hid = hour_idx % H
    chg = _group_change(doc_key, day)
    starts = np.flatnonzero(chg)
    G = starts.shape[0]
    gid = np.cumsum(chg) - 1

    sq_in = hr["squeezed"]
    dense = np.zeros((G, H, S), dtype=np.complex64)
    present = np.zeros((G, H), dtype=bool)
    dense[gid, hid] = sq_in[:, :S] + 1j * sq_in[:, S:]
    present[gid, hid] = True
    SQ = np.empty(dense.shape, dtype=np.complex64)
    SQ.real = fill_dense_batch(dense.real, present)
    SQ.imag = fill_dense_batch(dense.imag, present)

    # datum pass: re-link the squeezed carries (datum_connect A11)
    vec, quality_1d, day_squeezed = _link_batch(SQ, cfg.method)
    datum = np.angle(vec).astype(np.float32)  # (G, H)

    lp_dense = np.zeros((G, H, T), dtype=np.float32)
    lp_dense[gid, hid] = hr["linked_phase"]
    adj = np.angle(np.exp(1j * (lp_dense + datum[:, :, None]))).astype(np.float32)

    n_hours = np.diff(starts, append=hour_idx.shape[0]).astype(np.int32)
    n_obs = np.add.reduceat(hr["n_obs"], starts).astype(np.int32)
    dy = {
        "doc_key": doc_key[starts],
        "bucket": hr["bucket"][starts],
        "day_idx": day[starts],
        "n_hours": n_hours,
        "n_obs": n_obs,
        "n_filled": np.add.reduceat(hr["n_filled"], starts),
        "sum_tok": np.add.reduceat(hr["sum_tok"], starts),
        "min_tok": np.minimum.reduceat(hr["min_tok"], starts),
        "max_tok": np.maximum.reduceat(hr["max_tok"], starts),
        "mean_ntok": (np.add.reduceat(hr["mean_ntok"] * hr["n_obs"], starts)
                      / np.maximum(n_obs, 1)),
        "mean_quality_1h": (np.add.reduceat(
            hr["quality"].astype(np.float64), starts) / n_hours),
        "quality_1d": quality_1d,
        "datum_shift": datum,
        "adjusted_phase": adj.reshape(G, H * T),
        "squeezed": np.concatenate([day_squeezed.real, day_squeezed.imag],
                                   axis=1),
    }
    return starts, dy


def make_rollup_1h_kernel(cfg: EngineConfig, tok_col: str = "zphi",
                          with_strings: bool = True):
    out_schema = _pa_schema(_tier_ddl(ROLLUP_1H_SCHEMA, with_strings))
    list_cols = {tok_col: (cfg.n_samples,
                           np.int16 if tok_col == "ztok" else np.float32),
                 "zstat": _zstat_list(_ZSTAT_1H)}
    change = _window_change(["doc_key"], "slot", cfg.slots_per_hour)

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for region in carry_groups(batches, change):
            num = _extract(region, ["doc_key", "slot"], list_cols)
            _unpack_zstat(num, _ZSTAT_1H)
            starts, hr = hour_windows(num, cfg)
            yield _emit({**hr, **_strings(region, starts)}, out_schema)

    return kernel


def attach_doc_dim(df_core: DataFrame, doc_dim: DataFrame) -> DataFrame:
    """Join doc_id/source back onto a string-free tier output. The
    tier output has G rows (orders of magnitude below raw), so this is
    a cheap post-kernel broadcast join that never touches the
    raw->Python stream.

    LEFT join: a tier row whose doc_key is missing from the supplied
    dimension surfaces with null doc_id/source instead of silently
    vanishing, so the output keeps one row per kernel output row."""
    dim = F.broadcast(doc_dim.select("doc_key", "doc_id", "source"))
    rest = [c for c in df_core.columns if c != "doc_key"]
    return (df_core.join(dim, "doc_key", "left")
            .select("doc_id", "doc_key", "source", *rest))


def rollup_1h(obs: DataFrame, cfg: EngineConfig = EngineConfig()) -> DataFrame:
    """raw observations -> 1h tier. One shuffle (by bucket), then the
    kernel runs map-side; output stays partitioned by bucket for the
    1d tier and the MERGE write (partitioning reuse, no second
    shuffle). hour_ts is attached JVM-side after the kernel.

    The kernel ingress is explicitly projected: only the columns it
    consumes cross the shuffle and the Python worker channel (``ts``
    etc. are pruned here — mapInArrow ships whole rows, so Catalyst
    cannot prune through it). If ``obs`` carries no doc_id/source
    (string-free mode), the kernel emits the CORE schema (doc_key
    only) — use attach_doc_dim to restore the strings on the G-row
    output instead of streaming them per raw row."""
    with_strings = "doc_id" in obs.columns
    strs = ["doc_id", "source"] if with_strings else []
    obs = with_doc_keys(obs)
    tok_col = "ztok" if "ztok" in obs.columns else "zphi"
    obs = obs.select(*strs, "doc_key", "slot", "bucket", "n_tok", "sum_tok",
                     "min_tok", "max_tok", tok_col)
    part = (obs.repartition(cfg.n_buckets, "bucket")
            .sortWithinPartitions("doc_key", "slot"))
    # pack the scalar stats AFTER the bucket exchange (the shuffle
    # still keys on the plain bucket column); the packing projection
    # is narrow, so partitioning and sort order are preserved and the
    # worker channel sees 4 columns instead of 8
    part = part.select(*strs, "doc_key", "slot", tok_col,
                       _pack_zstat(_ZSTAT_1H))
    out = part.mapInArrow(
        make_rollup_1h_kernel(cfg, tok_col, with_strings),
        _tier_ddl(ROLLUP_1H_SCHEMA, with_strings))
    return out.withColumn(
        "hour_ts",
        F.timestamp_seconds(F.lit(cfg.epoch0)
                            + F.col("hour_idx").cast("long") * cfg.hour_seconds))


def make_rollup_1d_kernel(cfg: EngineConfig, with_strings: bool = True):
    out_schema = _pa_schema(_tier_ddl(ROLLUP_1D_SCHEMA, with_strings))
    list_cols = {"linked_phase": (cfg.slots_per_hour, np.float32),
                 "squeezed": (2 * cfg.n_samples, np.float32),
                 "zstat": _zstat_list(_ZSTAT_1D)}
    change = _window_change(["doc_key"], "hour_idx", cfg.hours_per_day)

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for region in carry_groups(batches, change):
            num = _extract(region, ["doc_key", "hour_idx"], list_cols)
            _unpack_zstat(num, _ZSTAT_1D)
            starts, dy = day_windows(num, cfg)
            yield _emit({**dy, **_strings(region, starts)}, out_schema)

    return kernel


def rollup_1d(df_1h: DataFrame, cfg: EngineConfig = EngineConfig(),
              assume_partitioned: bool = False) -> DataFrame:
    """1h tier -> 1d tier.

    ``assume_partitioned=True`` is the in-pipeline fast path: a
    DataFrame coming straight out of ``rollup_1h`` is ALREADY
    bucket-partitioned and (doc_key, hour)-ordered within partitions
    (mapInArrow is narrow — it preserves both), so the second exchange
    + sort is elided entirely (partitioning reuse, SURVEY.md P2).
    Reading the 1h tier back from storage loses the ordering guarantee
    across files — use the default shuffle path there.

    A string-free 1h input (CORE schema) stays string-free: both tier
    kernels then never see a doc_id/source byte — attach_doc_dim joins
    the strings onto the G-row outputs."""
    with_strings = "doc_id" in df_1h.columns
    strs = ["doc_id", "source"] if with_strings else []
    df_1h = with_doc_keys(df_1h)
    part = df_1h.select(*strs, "doc_key", "bucket", "hour_idx", "n_obs",
                        "n_filled", "sum_tok", "min_tok", "max_tok",
                        "mean_ntok", "linked_phase", "squeezed", "quality")
    if not assume_partitioned:
        part = (part.repartition(cfg.n_buckets, "bucket")
                    .sortWithinPartitions("doc_key", "hour_idx"))
    # pack scalar stats after the exchange — same narrow projection
    # trade as rollup_1h (5 columns through the worker channel
    # instead of 12)
    part = part.select(*strs, "doc_key", "hour_idx", "linked_phase",
                       "squeezed", _pack_zstat(_ZSTAT_1D))
    out = part.mapInArrow(
        make_rollup_1d_kernel(cfg, with_strings),
        _tier_ddl(ROLLUP_1D_SCHEMA, with_strings))
    return out.withColumn(
        "day_ts",
        F.timestamp_seconds(F.lit(cfg.epoch0)
                            + F.col("day_idx").cast("long") * cfg.day_seconds))
