"""The batch-carry protocol (``operators.rollup.carry_groups``): every
tier kernel streams its sorted partition through one generator that
holds the trailing incomplete group between Arrow batches.

The sparkless tests pin the cut points on hand-built batches; the Spark
test forces tiny Arrow batches so that every kernel's groups really
split across batches (at the session's default 8,192 rows no Tier-1
input does)."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pyspark.sql.functions as F
import pytest

from miaplpy_spark.config import EngineConfig, ScaleSpec
from miaplpy_spark.datagen import generate_sequences, prepare_observations
from miaplpy_spark.operators.compress import compress_1h
from miaplpy_spark.operators.network_inversion import invert_network
from miaplpy_spark.operators.rollup import (_emit, _group_change,
                                            _window_change, carry_groups,
                                            rollup_1d, rollup_1h)

W = 10  # window width in slots


def _table(with_strings: bool) -> pa.Table:
    """Sorted rows of 6 (doc, window) groups with sizes 3, 25, 1, 9, 4
    and 2: the 25-row group spans four 7-row batches."""
    sizes = [3, 25, 1, 9, 4, 2]
    docs = [0, 0, 1, 1, 2, 2]
    wins = [0, 1, 0, 3, 0, 2]
    key = np.repeat(docs, sizes).astype(np.int64)
    slot = np.concatenate([w * W + np.arange(n) % W
                           for w, n in zip(wins, sizes)]).astype(np.int32)
    cols = {"doc_key": key, "slot": slot,
            "zphi": pa.array([[float(i), -float(i)]
                              for i in range(key.shape[0])],
                             pa.list_(pa.float32()))}
    if with_strings:
        cols["doc_id"] = pa.array([f"doc-{k}" for k in key])
        cols["source"] = pa.array(["web", "code"] * (key.shape[0] // 2))
    return pa.table(cols)


def _batches(table: pa.Table, sizes: list[int]) -> list[pa.RecordBatch]:
    out, at = [], 0
    for n in sizes:
        out.append(table.slice(at, n).combine_chunks().to_batches()[0]
                   if n else pa.RecordBatch.from_pylist([], table.schema))
        at += n
    assert at == table.num_rows
    return out


@pytest.mark.parametrize("with_strings", [False, True])
def test_carry_groups_cuts_on_group_boundaries(with_strings):
    table = _table(with_strings)
    n = table.num_rows
    # empty batches first, mid-stream and last; the 25-row group spans
    # the first four non-empty batches, three of them entirely inside it
    sizes = [0, 7, 7, 0, 7, 7, 5, 0, 4, 7, 0]
    assert sum(sizes) == n
    key_cols = ["doc_id"] if with_strings else ["doc_key"]
    change = _window_change(key_cols, "slot", W)
    regions = list(carry_groups(iter(_batches(table, sizes)), change))

    # the regions re-concatenate to the input, strings included
    assert all(r.num_rows for r in regions)
    assert pa.Table.from_batches(regions).equals(table)

    # every cut lands on a group boundary ...
    starts = np.flatnonzero(_group_change(
        table.column("doc_key").to_numpy(),
        table.column("slot").to_numpy() // W))
    cuts = np.cumsum([r.num_rows for r in regions])
    assert set(cuts[:-1]) <= set(starts)
    # ... and exactly at the last group start inside each batch seen
    # so far: a region is yielded once a later group begins, and the
    # last group is flushed at partition end
    ends = np.cumsum(sizes)[np.asarray(sizes) > 0]
    expected = sorted({int(starts[starts < e].max()) for e in ends} - {0})
    assert list(cuts[:-1]) == expected and cuts[-1] == n


def test_carry_groups_single_group_and_empty_input():
    table = _table(False).slice(3, 25)           # one group
    change = _window_change(["doc_key"], "slot", W)
    regions = list(carry_groups(iter(_batches(table, [7, 7, 7, 4])), change))
    assert len(regions) == 1 and regions[0].num_rows == 25
    assert list(carry_groups(iter([]), change)) == []


def test_emit_requires_every_schema_field():
    """``_emit`` builds a batch in schema order from the columns given;
    a schema field missing from them is an error, not a null column."""
    schema = pa.schema([("doc_key", pa.int64()), ("n_obs", pa.int32()),
                        ("squeezed", pa.list_(pa.float32()))])
    cols = {"doc_key": np.array([7, 9]),
            "n_obs": np.array([3.0, 10.0]),
            "squeezed": np.array([[1, 2], [3, 4]], dtype=np.float32)}
    batch = _emit(cols, schema)
    assert batch.schema == schema
    assert batch.column("n_obs").to_pylist() == [3, 10]
    assert batch.column("squeezed").to_pylist() == [[1, 2], [3, 4]]
    del cols["n_obs"]
    with pytest.raises(KeyError, match="n_obs"):
        _emit(cols, schema)


CFG = EngineConfig(n_buckets=1, n_samples=8)
# complete days, so no day matrix is degenerate (see
# test_cascade_resume.py) and batch shape only moves float32 rounding
SPEC = ScaleSpec(n_docs=3, n_slots=480, tok_lo=16, tok_hi=48,
                 tok_heavy_lo=96, tok_heavy_hi=128)


OPS = {
    "rollup_1h": lambda obs, hourly: rollup_1h(obs, CFG),
    "rollup_1d": lambda obs, hourly: rollup_1d(hourly, CFG),
    "compress_1h": lambda obs, hourly: compress_1h(hourly, CFG),
    "invert_network": lambda obs, hourly: invert_network(hourly, CFG),
}


@pytest.fixture(scope="module")
def inputs(spark):
    """Raw observations and their 1h tier, so the 1h consumers read the
    same input at either batch size, plus each op's expected row count
    (one per group). The 1h tier is checkpointed, not cached: a cached
    plan would also serve the rollup_1h case, whose kernel would then
    never run at the small batch size."""
    obs = prepare_observations(generate_sequences(spark, SPEC, CFG),
                               CFG).cache()
    hourly = rollup_1h(obs, CFG).localCheckpoint(eager=True)
    groups = {w: obs.select("doc_id", F.floor(F.col("slot") / w))
              .distinct().count()
              for w in (CFG.slots_per_hour, CFG.slots_per_day)}
    n_h, n_d = groups[CFG.slots_per_hour], groups[CFG.slots_per_day]
    expected = {"rollup_1h": n_h, "rollup_1d": n_d, "compress_1h": n_d,
                "invert_network": SPEC.n_docs}
    return obs, hourly, expected


def _sorted(df) -> pd.DataFrame:
    pdf = df.toPandas()
    keys = [c for c in ("doc_id", "hour_idx", "day_idx")
            if c in pdf.columns]
    return pdf.sort_values(keys).reset_index(drop=True)


def _assert_close(a, b, col):
    """One object cell: arrays within tolerance, anything else equal
    (nulls included)."""
    if isinstance(a, np.ndarray) or isinstance(b, np.ndarray):
        np.testing.assert_allclose(a, b, atol=1e-6, err_msg=col)
    else:
        assert a == b, col


@pytest.mark.parametrize("op", sorted(OPS))
def test_carry_across_arrow_batches(spark, spark_conf, inputs, op):
    """7-row Arrow batches (one bucket partition for the tier kernels,
    the default parallelism for the inversion): every (doc, hour),
    (doc, day) and doc group spans several batches, yet each kernel
    emits the same rows as with the default batch size. Floats get an absolute
    tolerance: batch shape moves float32 BLAS rounding."""
    obs, hourly, expected = inputs
    baseline = _sorted(OPS[op](obs, hourly))
    spark_conf("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    tiny = _sorted(OPS[op](obs, hourly))
    assert list(tiny.columns) == list(baseline.columns)
    assert len(tiny) == len(baseline) == expected[op]
    for c in baseline.columns:
        a, b = tiny[c].to_numpy(), baseline[c].to_numpy()
        if np.issubdtype(b.dtype, np.floating):
            np.testing.assert_allclose(a, b, atol=1e-6, err_msg=c)
        elif b.dtype != object:
            assert tiny[c].equals(baseline[c]), c
        else:
            for x, y in zip(a, b):
                _assert_close(x, y, c)
