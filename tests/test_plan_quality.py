"""Plan-quality invariants: pushdown, pruning, broadcasts, exchange
counts. These are the 100 TB design assertions — a plan that reads all
columns for a 2-column projection or shuffles a dimension table is a
regression even if results match."""

import pyspark.sql.functions as F
import pytest

from miaplpy_spark.config import EngineConfig, ScaleSpec
from miaplpy_spark.datagen import generate_sequences, prepare_observations
from miaplpy_spark.functions import relational
from miaplpy_spark.operators.rollup import rollup_1d, rollup_1h
from miaplpy_spark.plans.explain import (
    broadcast_join_count,
    count_exchanges,
    pushed_filters,
    read_schema_width,
)

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_scan(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.where(F.col("l_shipdate") <= "1998-09-02").select("l_quantity")
    pf = pushed_filters(q)
    assert "l_shipdate" in pf, f"shipdate filter not pushed: {pf}"


def test_column_pruning_reaches_scan(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.select("l_orderkey", "l_quantity")
    rs = read_schema_width(q)
    assert rs and all("l_extendedprice" not in l for l in rs), rs


def test_star_join_broadcasts_dimensions(spark):
    q = relational.revenue_by_nation(spark, SF)
    # customer, nation, region must broadcast (explicit hints)
    assert broadcast_join_count(q) >= 3


def test_cascade_pipeline_has_single_exchange_per_tier(spark):
    cfg = EngineConfig(n_buckets=4, n_samples=8)
    spec = ScaleSpec(n_docs=2, n_slots=48, tok_lo=8, tok_hi=16,
                     tok_heavy_lo=24, tok_heavy_hi=32)
    obs = prepare_observations(generate_sequences(spark, spec, cfg), cfg)
    one = rollup_1h(obs, cfg)
    # raw -> 1h: exactly one exchange (the bucket repartition)
    assert count_exchanges(one) == 1
    # in-pipeline 1d with partitioning reuse: still exactly one
    both = rollup_1d(one, cfg, assume_partitioned=True)
    assert count_exchanges(both) == 1
    # storage-path 1d adds its own exchange, no more
    assert count_exchanges(rollup_1d(one, cfg)) == 2


def test_quality_mask_aggregates_before_filter(spark):
    q = relational.quality_mask(spark, SF)
    # HAVING on aggregate: one exchange for the groupBy, none extra
    assert count_exchanges(q) == 1


def test_incremental_raw_filter_prunes_on_ts(spark, tmp_path):
    """The incremental path's watermark predicate must reach the raw
    scan as a ts min-max/partition filter (cascade.incremental_raw_
    filter) — the (slot/H).cast(int) expression alone cannot prune."""
    from miaplpy_spark.operators.cascade import incremental_raw_filter

    cfg = EngineConfig(n_buckets=4, n_samples=8)
    spec = ScaleSpec(n_docs=2, n_slots=48, tok_lo=8, tok_hi=16,
                     tok_heavy_lo=24, tok_heavy_hi=32)
    obs = prepare_observations(generate_sequences(spark, spec, cfg), cfg)
    path = str(tmp_path / "obs")
    obs.write.parquet(path)
    raw = spark.read.parquet(path)

    boundary_h = 3
    filt = incremental_raw_filter(raw, boundary_h, cfg)
    pf = pushed_filters(filt)
    assert "ts" in pf, f"ts watermark predicate not pushed: {pf}"
    # the predicate pair must select exactly the hours >= boundary
    slots = [r["slot"] for r in filt.select("slot").distinct().collect()]
    assert slots and min(slots) >= boundary_h * cfg.slots_per_hour
    expected = raw.where(
        (F.col("slot") / cfg.slots_per_hour).cast("int") >= boundary_h
    ).count()
    assert filt.count() == expected


def test_text_ops_are_shuffle_free(spark):
    """q40/q41 are single narrow maps over the documents scan: all
    scoring is higher-order array expressions, zero exchanges."""
    from miaplpy_spark.functions import text

    assert count_exchanges(text.bpe_token_count(spark, SF)) == 0
    assert count_exchanges(text.lang_id_heuristic(spark, SF)) == 0


def test_ivf_probe_side_broadcasts(spark):
    """IVF search joins the tiny probe set against the cell-assigned
    corpus as a broadcast hash join — the corpus never shuffles for
    the join (its only exchange is the final per-query top-k window,
    bounded by n_queries x cell size)."""
    from miaplpy_spark.functions import similarity as sim

    q = sim.ivf_ann_topk(spark, SF)
    assert broadcast_join_count(q) >= 1


def test_core_cascade_plan_shape(spark):
    """The string-free scaling path keeps the single-exchange pipeline:
    one bucket exchange total, and the doc-dim restore is a BROADCAST
    join on the G-row output (no extra shuffle)."""
    from miaplpy_spark.datagen import generate_doc_dim
    from miaplpy_spark.operators.rollup import (attach_doc_dim, rollup_1d,
                                                rollup_1h)

    cfg = EngineConfig(n_buckets=4, n_samples=8)
    spec = ScaleSpec(n_docs=2, n_slots=48, tok_lo=8, tok_hi=16,
                     tok_heavy_lo=24, tok_heavy_hi=32)
    obs = prepare_observations(generate_sequences(spark, spec, cfg), cfg)
    core = (obs.withColumn("doc_key", F.xxhash64("doc_id"))
               .drop("doc_id", "source"))
    dim = generate_doc_dim(spark, spec, cfg)
    df = attach_doc_dim(
        rollup_1d(rollup_1h(core, cfg), cfg, assume_partitioned=True), dim)
    assert count_exchanges(df) == 1
    assert broadcast_join_count(df) == 1


def test_invert_network_single_exchange(spark):
    """The inversion plan is one doc_key exchange (with the in-shuffle
    sort that enables the bounded batch-carry kernel) — no second
    shuffle, no collect."""
    from miaplpy_spark.operators.network_inversion import invert_network

    df = spark.createDataFrame(
        [("d0", "web", 0, h, [0.1] * 4, 1.0) for h in range(6)],
        "doc_id string, source string, bucket int, hour_idx int, "
        "linked_phase array<float>, quality float")
    q = invert_network(df, EngineConfig(n_buckets=2, n_samples=4))
    assert count_exchanges(q) == 1


def test_shingle_cap_reuses_inverted_index_exchange(spark):
    """The df-cap join keys on the same (sh, lang) the candidate
    self-join shuffles on; the plan must stay within a constant
    exchange budget (no per-shingle recomputation explosion)."""
    from miaplpy_spark.functions import text

    q = text.shingle_jaccard_pairs(spark, SF)
    # shingles agg + sizes agg + freq agg + self join + final joins:
    # bounded small constant, and critically not O(shingle width)
    assert count_exchanges(q) <= 11


def test_repetition_signals_plan_shape(spark):
    """Two aggregate chains (words, 2-grams), each with map-side
    partials = 4 exchanges; the final doc-keyed join reuses both
    sides' aggregate partitioning (no 5th exchange), and never
    shuffle-joins on a string."""
    from miaplpy_spark.functions.text import repetition_signals
    from miaplpy_spark.plans.explain import plan_string

    df = repetition_signals(spark, SF)
    assert count_exchanges(df) <= 4
    assert "SortMergeJoin [doc_id" not in plan_string(df, "simple") or \
        "string" not in str(df.schema["doc_id"].dataType)


def test_minhash_band_join_shuffles_slim_rows(spark):
    """The LSH band self-join must shuffle fixed-width (doc_id, band,
    bucket-hash) rows — never the 32-long signature arrays (at corpus
    scale that is the difference between ~24 B/row and ~512 B/row
    through both join-side exchanges). Signatures may only reappear
    ABOVE the candidate dedup, where cardinality is candidate pairs."""
    import re

    from miaplpy_spark.functions.dedup import minhash_lsh_pairs
    from miaplpy_spark.plans.explain import plan_string

    q = minhash_lsh_pairs(spark, SF)
    plan = plan_string(q, "formatted")
    band_exchanges = 0
    for block in re.split(r"\n\(\d+\) ", plan):
        if "Exchange" not in block.split("\n", 1)[0]:
            continue
        m = re.search(r"Input \[\d+\]: \[([^\]]*)\]", block)
        cols = m.group(1) if m else ""
        if "bucket#" in cols:
            band_exchanges += 1
            assert "sig" not in cols, f"sig rides the band join: {cols}"
    assert band_exchanges >= 1, "no band-join exchange found in plan"


def test_incremental_pairs_store_side_never_shuffles(spark, tmp_path):
    """The incremental dedup probe must stream the STORE side (the
    10^12-row side at scale): the batch's band rows broadcast into the
    stored band scan, and stored signatures surface through a
    broadcast LeftSemi at candidate cardinality — so the only hash
    exchanges carrying band-bucket rows are the batch-internal
    self-join's two sides. A plan that shuffles the store would be a
    full-corpus redistribution per arriving batch."""
    import re

    from miaplpy_spark.datagen import generate_documents
    from miaplpy_spark.functions.dedup import (_incremental_candidates,
                                               _minhash_index_params,
                                               build_minhash_index,
                                               incremental_minhash_pairs,
                                               minhash_signatures)
    from miaplpy_spark.plans.explain import plan_string

    root = str(tmp_path)
    docs = generate_documents(spark, 300)
    docs.where("doc_id < 200").write.parquet(
        f"{root}/base/documents.parquet")
    docs.where("doc_id >= 200").write.parquet(
        f"{root}/batch/documents.parquet")
    build_minhash_index(spark, f"{root}/base", f"{root}/idx")

    # the lazy candidate plan (incremental_minhash_pairs checkpoints
    # it, which would hide the band joins from explain)
    p = _minhash_index_params(spark, f"{root}/idx")
    batch = spark.read.parquet(f"{root}/batch/documents.parquet")
    cand = _incremental_candidates(
        spark, minhash_signatures(batch, p["n_perm"], p["k"]),
        f"{root}/idx", p)
    plan = plan_string(cand, "formatted")
    assert plan.count("BroadcastHashJoin") >= 1, \
        "store band probe lost its broadcast — the store would shuffle"
    bucket_exchanges = 0
    for block in re.split(r"\n\(\d+\) ", plan):
        head = block.split("\n", 1)[0]
        if "Exchange" not in head or "Broadcast" in head:
            continue
        m = re.search(r"Input \[\d+\]: \[([^\]]*)\]", block)
        cols = m.group(1) if m else ""
        if "bucket#" in cols:
            bucket_exchanges += 1
    assert bucket_exchanges <= 2, (
        f"{bucket_exchanges} hash exchanges carry band rows — the "
        "store side is being shuffled (only the batch-internal "
        "self-join's two sides may)")

    # the verify plan: stored signatures surface via a broadcast
    # LeftSemi at candidate cardinality, never a store-wide shuffle
    q = incremental_minhash_pairs(spark, f"{root}/batch", f"{root}/idx")
    vplan = plan_string(q, "formatted")
    assert re.search(r"BroadcastHashJoin .*LeftSemi", vplan), \
        "candidate-id signature semi-join lost its broadcast"
