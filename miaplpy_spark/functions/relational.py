"""Relational operator surface — the reference's dataflow operators
(SURVEY.md §2) re-expressed as pure DataFrame plans over the driver's
TPC-H-ish tables. No Python UDFs anywhere in this module: everything
stays inside whole-stage codegen and Catalyst handles pushdown.

Each function takes (spark, sf_dir) and returns a DataFrame; the
matching DuckDB oracle SQL lives in __spark_entry__.oracle_sql().
Column aliases are shared with the oracles verbatim.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# -- tier rollups (A9-A11 cascade, relational form) ------------------------

def tier_rollup_1h(spark, sf_dir) -> DataFrame:
    """1h windowed rollup of the events stream (W2 tumbling window)."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy(F.col("event_type"),
                       F.date_trunc("hour", "ts").alias("hour_ts"))
              .agg(F.count("*").alias("n_events"),
                   F.round(F.sum("value"), 4).alias("sum_value"),
                   F.round(F.avg("value"), 6).alias("avg_value"),
                   F.round(F.min("value"), 6).alias("min_value"),
                   F.round(F.max("value"), 6).alias("max_value")))


def tier_rollup_1d(spark, sf_dir) -> DataFrame:
    """1d tier re-rolled FROM the 1h tier (partial -> final aggregation,
    the retention-cascade shape: day never re-reads raw rows)."""
    ev = _t(spark, sf_dir, "events")
    h = (ev.groupBy(F.col("event_type"),
                    F.date_trunc("hour", "ts").alias("hour_ts"))
           .agg(F.count("*").alias("n"), F.sum("value").alias("s")))
    return (h.groupBy("event_type",
                      F.date_trunc("day", "hour_ts").alias("day_ts"))
             .agg(F.sum("n").alias("n_events"),
                  F.round(F.sum("s"), 4).alias("sum_value"),
                  # derive the average from the ALREADY-ROUNDED sum so the
                  # 6-dp rounding is deterministic across engines (double
                  # summation order differs between Spark and the oracle;
                  # an unrounded quotient can land on a half-ulp boundary)
                  F.round(F.round(F.sum("s"), 4) / F.sum("n"), 6).alias("avg_value"),
                  F.count("*").alias("n_hours")))


def cumsum_daily(spark, sf_dir) -> DataFrame:
    """Running total over ordered windows (W5: ts = cumsum(X·Δt),
    dev/ifgram_inversion_L1L2.py:550-551)."""
    ev = _t(spark, sf_dir, "events")
    d = (ev.groupBy("event_type", F.date_trunc("day", "ts").alias("day_ts"))
           .agg(F.sum("value").alias("s")))
    w = (Window.partitionBy("event_type").orderBy("day_ts")
         .rowsBetween(Window.unboundedPreceding, 0))
    return d.select(
        "event_type", "day_ts",
        F.round(F.sum("s").over(w), 4).alias("cum_value"))


def asof_next_event(spark, sf_dir) -> DataFrame:
    """As-of pairing with lead(): mean inter-arrival seconds per user
    (J5 nearest-following-date join)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # unix_micros keeps sub-second precision (parity with DuckDB epoch())
    us = lambda c: F.unix_micros(c.cast("timestamp")) / F.lit(1e6)
    gaps = ev.select(
        "user_id",
        (us(F.lead("ts").over(w)) - us(F.col("ts"))).alias("gap_s"))
    return (gaps.where(F.col("gap_s").isNotNull())
            .groupBy("user_id")
            .agg(F.count("*").cast("long").alias("n_gaps"),
                 F.round(F.avg("gap_s"), 4).alias("avg_gap_s")))


def sequential_pairs(spark, sf_dir) -> DataFrame:
    """Sequential interferogram network (J1, miaplpyApp.py:414-422):
    banded self-join of the ordered day dimension, connNum=3."""
    ev = _t(spark, sf_dir, "events")
    days = (ev.select(F.date_trunc("day", "ts").alias("d")).distinct())
    # unpartitioned Window.orderBy collapses to ONE task — acceptable
    # ONLY because this ranks the date DIMENSION (10^2 rows at any
    # data scale, like the reference's driver-side date list); never
    # copy this pattern onto a fact table
    w = Window.orderBy("d")
    idx = days.select("d", F.row_number().over(w).alias("i"))
    a, b = idx.alias("a"), idx.alias("b")
    return (a.join(b, (F.col("b.i") - F.col("a.i")).between(1, 3))
             .select(F.col("a.d").alias("ref_day"),
                     F.col("b.d").alias("sec_day"),
                     (F.col("b.i") - F.col("a.i")).cast("long").alias("lag")))


def single_reference_pairs(spark, sf_dir) -> DataFrame:
    """Single-reference network (J2, miaplpyApp.py:424-428): middle
    date x all others — broadcast cross join minus self."""
    ev = _t(spark, sf_dir, "events")
    days = ev.select(F.date_trunc("day", "ts").alias("d")).distinct()
    # single-task window over the date dimension only — see the note
    # in sequential_pairs
    w = Window.orderBy("d")
    idx = days.select("d", F.row_number().over(w).alias("i"))
    # driver-side count of the DAY dimension only (tens of rows at any
    # data scale — the fact table is never collected); a fully-lazy
    # alternative is a count() window as in ministack_network's oracle
    n = idx.count()
    ref = idx.where(F.col("i") == (n + 1) // 2).select(F.col("d").alias("ref_day"))
    return (idx.crossJoin(F.broadcast(ref))
            .where(F.col("d") != F.col("ref_day"))
            .select("ref_day", F.col("d").alias("sec_day"),
                    F.datediff("d", "ref_day").cast("long").alias("dt_days")))


def delaunay_network(spark, sf_dir, max_temporal_days: float = 14.0,
                     max_perp: float = 30.0) -> DataFrame:
    """J3 Delaunay short-baseline network over the events day dimension
    (find_short_baselines.py:30-109, scipy.spatial.Delaunay at :62):
    triangulate days in the (time, bperp) plane, keep edges under the
    temporal/perpendicular thresholds. The date dimension is tiny at
    ANY data scale (10^2 rows), so — like the reference — the
    triangulation runs on the driver and the resulting pair list
    broadcasts; only the day aggregation is distributed."""
    import numpy as np

    from ..kernels.delaunay import delaunay_pairs

    ev = _t(spark, sf_dir, "events")
    days = (ev.groupBy(F.date_trunc("day", "ts").alias("d"))
            .agg(F.round(F.avg("value"), 6).alias("bperp"))
            .orderBy("d").collect())
    d0 = days[0]["d"]
    t = np.array([(r["d"] - d0).days for r in days], dtype=np.float64)
    b = np.array([r["bperp"] for r in days], dtype=np.float64)
    pairs = delaunay_pairs(t, b, max_temporal_days, max_perp)
    rows = [(days[i]["d"], days[j]["d"], int(t[j] - t[i]),
             float(round(abs(b[j] - b[i]), 6))) for i, j in pairs]
    return spark.createDataFrame(
        rows, "day1 timestamp, day2 timestamp, dt_days bigint, "
              "bperp_diff double")


def ministack_network(spark, sf_dir) -> DataFrame:
    """Mini-stacks network with inter-stack connectors (J4,
    find_mini_stacks /root/reference/src/miaplpy/find_short_baselines.py
    :225-257): days grouped into weekly mini-stacks (the year->week
    graft at testdata scale); per stack a middle reference day; pairs =
    (ref, every other day in the stack) + two connector kinds between
    consecutive stacks: the previous stack's LAST day joined to the new
    stack's day with minimum |Δbaseline| (find_short_pbaseline_pair
    :216-222 — the window + row_number over abs(bperp_diff) plan), and
    consecutive references (datum chain). avg(value) per day plays the
    perpendicular-baseline scalar."""
    ev = _t(spark, sf_dir, "events")
    days = (ev.groupBy(F.date_trunc("day", "ts").alias("d"))
              .agg(F.round(F.avg("value"), 6).alias("bperp")))
    d0 = days.agg(F.min("d").alias("d0"))
    s = (days.crossJoin(F.broadcast(d0))
             .withColumn("wk", F.floor(F.datediff("d", "d0") / 7)
                         .cast("long"))
             .drop("d0"))
    w = Window.partitionBy("wk").orderBy("d")
    idx = s.select("d", "bperp", "wk",
                   F.row_number().over(w).alias("i"),
                   F.count("*").over(Window.partitionBy("wk")).alias("n"))
    ref = (idx.where(F.col("i") == F.floor((F.col("n") + 1) / 2))
              .select("wk", F.col("d").alias("ref_day"),
                      F.col("bperp").alias("ref_b")))
    intra = (idx.join(F.broadcast(ref), "wk")
                .where(F.col("d") != F.col("ref_day"))
                .select(F.col("ref_day").alias("day1"),
                        F.col("d").alias("day2"),
                        F.lit("intra").alias("pair_type"),
                        F.round(F.abs(F.col("ref_b") - F.col("bperp")), 6)
                        .alias("bperp_diff")))
    last = (idx.where(F.col("i") == F.col("n"))
               .select((F.col("wk") + 1).alias("wk"),
                       F.col("d").alias("last_day"),
                       F.col("bperp").alias("last_b")))
    wc = (Window.partitionBy("wk")
          .orderBy(F.abs(F.col("last_b") - F.col("bperp")), "d"))
    conn = (idx.join(F.broadcast(last), "wk")
               .withColumn("rk", F.row_number().over(wc))
               .where(F.col("rk") == 1)
               .select(F.col("last_day").alias("day1"),
                       F.col("d").alias("day2"),
                       F.lit("short_baseline").alias("pair_type"),
                       F.round(F.abs(F.col("last_b") - F.col("bperp")), 6)
                       .alias("bperp_diff")))
    nxt = ref.select((F.col("wk") - 1).alias("wk"),
                     F.col("ref_day").alias("ref2"),
                     F.col("ref_b").alias("ref2_b"))
    datum = (ref.join(nxt, "wk")
                .select(F.col("ref_day").alias("day1"),
                        F.col("ref2").alias("day2"),
                        F.lit("datum").alias("pair_type"),
                        F.round(F.abs(F.col("ref_b") - F.col("ref2_b")), 6)
                        .alias("bperp_diff")))
    return intra.unionByName(conn).unionByName(datum)


def tolerance_asof_pairs(spark, sf_dir) -> DataFrame:
    """Tolerance-window as-of join (J5, find_one_year_interferograms
    /root/reference/src/miaplpy/find_short_baselines.py:259-274 —
    365 d ± 5 d grafted to 7 d ± 1 d at testdata scale): for each day,
    min_by over the candidates in [d+6 d, d+8 d] (the reference's
    np.nanmin over date_diff picks the earliest in-window candidate);
    days with no candidate emit nothing."""
    ev = _t(spark, sf_dir, "events")
    days = ev.select(F.date_trunc("day", "ts").alias("d")).distinct()
    a, b = days.alias("a"), days.alias("b")
    dt = F.datediff(F.col("b.d"), F.col("a.d"))
    return (a.join(b, dt.between(6, 8))
             .groupBy(F.col("a.d").alias("ref_day"))
             .agg(F.min_by(F.col("b.d"), dt).alias("sec_day"),
                  F.min(dt).cast("long").alias("dt_days")))


def anti_join_users(spark, sf_dir) -> DataFrame:
    """Stale-item cleanup (J8, check_ifgs.py:16-37 -> left_anti):
    users who click but never purchase."""
    ev = _t(spark, sf_dir, "events")
    clickers = ev.where(F.col("event_type") == "click").select("user_id").distinct()
    buyers = ev.where(F.col("event_type") == "purchase").select("user_id").distinct()
    return clickers.join(buyers, "user_id", "left_anti").select("user_id")


def masked_agg(spark, sf_dir) -> DataFrame:
    """Threshold masking (F2 mask_stack_obs): NaN-out observations
    outside coherence bounds, then aggregate the survivors."""
    li = _t(spark, sf_dir, "lineitem")
    masked = li.withColumn(
        "v", F.when((F.col("l_discount").between(0.05, 0.07))
                    & (F.col("l_quantity") < 24),
                    F.col("l_extendedprice") * F.col("l_discount")))
    return (masked.groupBy("l_returnflag")
            .agg(F.round(F.sum("v"), 2).alias("revenue"),
                 F.count("v").cast("long").alias("n_kept"),
                 F.count("*").cast("long").alias("n_total")))


def quality_mask(spark, sf_dir) -> DataFrame:
    """Coherence-threshold mask (F6 get_phase_linking_coherence_mask):
    keep series whose mean quality clears minTempCoh."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.round(F.avg("value"), 6).alias("avg_value"))
            .where(F.col("avg_value") >= 40.0))


def amp_dispersion(spark, sf_dir) -> DataFrame:
    """Amplitude-dispersion PS test (A12, test_PS_cy lib/utils.pyx:
    420-459): std/mean clipped at 1."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.round(F.least(F.stddev_samp("value") / F.avg("value"),
                                 F.lit(1.0)), 6).alias("amp_disp"),
                 F.count("*").cast("long").alias("n")))


def sliding_mean(spark, sf_dir) -> DataFrame:
    """Centered sliding-window mean (W4/A15 integral-image box filter,
    generate_ifgram.py:133-176) over the daily series."""
    ev = _t(spark, sf_dir, "events")
    d = (ev.groupBy("event_type", F.date_trunc("day", "ts").alias("day_ts"))
           .agg(F.avg("value").alias("v")))
    w = Window.partitionBy("event_type").orderBy("day_ts").rowsBetween(-3, 3)
    return d.select("event_type", "day_ts",
                    F.round(F.avg("v").over(w), 6).alias("smooth_value"))


def reference_subtract(spark, sf_dir) -> DataFrame:
    """Reference-pixel phase subtraction (A21, read_stack_obs):
    broadcast-join per-series reference value, subtract everywhere."""
    ev = _t(spark, sf_dir, "events")
    ev2 = ev.select(F.col("event_type").alias("et2"),
                    F.date_trunc("day", "ts").alias("d2"),
                    F.col("value").alias("v2"))
    first_day = (ev2.groupBy("et2").agg(F.min("d2").alias("d0"))
                 .withColumnRenamed("et2", "et0"))
    ref = (ev2.join(F.broadcast(first_day),
                    (F.col("et2") == F.col("et0")) & (F.col("d2") == F.col("d0")))
           .groupBy(F.col("et2").alias("et"))
           .agg(F.avg("v2").alias("ref_v")))
    d = (ev.groupBy("event_type", F.date_trunc("day", "ts").alias("day_ts"))
           .agg(F.avg("value").alias("v")))
    return (d.join(F.broadcast(ref), d.event_type == ref.et)
            .select("event_type", "day_ts",
                    F.round(F.col("v") - F.col("ref_v"), 6).alias("rel_value")))


def top_users(spark, sf_dir) -> DataFrame:
    """Deterministic top-k (O3 top-eigenvalue analog): top 10 users by
    purchase value, rounded key + id tiebreak so ranking is
    engine-stable."""
    ev = _t(spark, sf_dir, "events")
    tot = (ev.where(F.col("event_type") == "purchase")
           .groupBy("user_id")
           .agg(F.round(F.sum("value"), 4).alias("total_value")))
    return tot.orderBy(F.desc("total_value"), "user_id").limit(10)


def pricing_summary(spark, sf_dir) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: the canonical multi-aggregate
    scan (exercises partial aggregation + pushdown)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                 .alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
                 F.round(F.avg("l_discount"), 6).alias("avg_disc"),
                 F.count("*").alias("count_order")))


def revenue_by_nation(spark, sf_dir) -> DataFrame:
    """TPC-H Q5-shaped star join: broadcast the small dimensions,
    shuffle only the fact table."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("n_name")
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"),
                 F.count("*").alias("n_items")))


def gapfill_interp(spark, sf_dir) -> DataFrame:
    """Linear gap-fill over the hourly grid (T5/north_rule semantics,
    relational form): missing hours get the linear interpolation of the
    nearest present neighbors; edge gaps extend the nearest value."""
    ev = _t(spark, sf_dir, "events")
    hourly = (ev.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("h"))
        .agg(F.avg("value").alias("v")))
    span = hourly.groupBy("event_type").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1"))
    grid = span.select(
        "event_type",
        F.explode(F.sequence("h0", "h1")).alias("h"))
    g = grid.join(hourly, ["event_type", "h"], "left")
    w_prev = (Window.partitionBy("event_type").orderBy("h")
              .rowsBetween(Window.unboundedPreceding, 0))
    w_next = (Window.partitionBy("event_type").orderBy("h")
              .rowsBetween(0, Window.unboundedFollowing))
    g = (g.withColumn("vp", F.last("v", ignorenulls=True).over(w_prev))
          .withColumn("hp", F.last(F.when(F.col("v").isNotNull(), F.col("h")),
                                   ignorenulls=True).over(w_prev))
          .withColumn("vn", F.first("v", ignorenulls=True).over(w_next))
          .withColumn("hn", F.first(F.when(F.col("v").isNotNull(), F.col("h")),
                                    ignorenulls=True).over(w_next)))
    interp = F.when(
        F.col("v").isNotNull(), F.col("v")).otherwise(
        F.when(F.col("vp").isNull(), F.col("vn"))
         .when(F.col("vn").isNull(), F.col("vp"))
         .otherwise(F.col("vp") + (F.col("vn") - F.col("vp"))
                    * (F.col("h") - F.col("hp"))
                    / (F.col("hn") - F.col("hp"))))
    return g.select(
        "event_type", "h",
        F.round(interp, 6).alias("filled_value"),
        F.col("v").isNull().alias("was_missing"))


def props_sum(spark, sf_dir) -> DataFrame:
    """JSON scalar extraction over the event props column."""
    ev = _t(spark, sf_dir, "events")
    return (ev.select("event_type",
                      F.get_json_object("props", "$.k").cast("long").alias("k"))
            .groupBy("event_type")
            .agg(F.sum("k").alias("sum_k"),
                 F.round(F.avg("k"), 6).alias("avg_k")))
