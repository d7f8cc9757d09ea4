"""Relational query registry: reference-parity operators (SURVEY.md
§2.1–§2.9, §2.12) plus the standard relational surface the reference
lacks but the engine exposes (§2.5–§2.8 engine-surface notes).

Every builder takes ``(spark, sf_dir)`` and returns a DataFrame whose
column names/types align exactly with its DuckDB oracle SQL in
``ORACLES`` (driver compares row-count + schema + order-insensitive
value hash). Aggregated doubles are rounded on BOTH sides (Spark
HALF_UP == DuckDB round-half-away-from-zero for these magnitudes) so
cross-engine float accumulation order can't flip the hash.

LIMIT queries always order by a total (unique-key-tiebroken) ordering
so the selected row set is engine-independent.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.ids import serial_id
from ..operators.joins import asof_join
from ..sources.tables import load_tables, register_views
from ..streaming.windows import sessionize
from .reference_pipeline import run_reference_pipeline


def _t(spark: SparkSession, sf_dir: str, *names: str):
    dfs = load_tables(spark, sf_dir, names)
    return [dfs[n] for n in names]


# ---------------------------------------------------------------- S/P/J/F —
# reference-parity shapes (SURVEY.md §2.1-2.4, §2.9)

def flagship_weather_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship shape (J1+P1..P3+F1+F2 — SURVEY.md §3.1)
    on the lake corpus: fact scan → filter → broadcast-dim join →
    projection with arithmetic conversion + epoch-shift timestamp.
    At 100 TB: lineitem streams map-side; `part` broadcasts; no fact
    shuffle."""
    lineitem, part = _t(spark, sf_dir, "lineitem", "part")
    return (
        lineitem.where(F.col("l_quantity") < 30)
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"), "inner")
        .select(
            F.col("l_orderkey").alias("orderkey"),
            F.col("l_linenumber").alias("linenumber"),
            F.col("p_name").alias("part_name"),
            F.col("p_brand").alias("brand"),
            # raw product (no rounding): decimal-tie values like x.0565
            # round differently under Spark's shortest-repr HALF_UP vs
            # any exact-binary rounding, while the raw IEEE product is
            # bit-identical across engines for the same op order.
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))
             * (1 + F.col("l_tax"))).alias("charge"),
            # F2 shape: naive local wall-clock = instant + utc offset
            F.timestamp_seconds(F.unix_timestamp("l_shipdate") - 18000)
             .alias("local_ship_time"),
        )
    )


def ref_pipeline_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full reference pipeline on the golden fixture payload
    (FIXTURES.md A1-A4).  Oracle-checked as of r9: the correct output
    is one fully-pinned golden row, so the registry oracle is the
    literal row itself and the driver hash-verifies the whole
    flatten/convert/join lineage; the same assertion lives in tests/
    (test_reference_pipeline.test_golden_row)."""
    return run_reference_pipeline(spark)


def serial_id_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERIAL id semantics (SURVEY.md §1.2): deterministic 1-based id
    over a total order replaces Postgres auto-increment.

    Uses the two-phase range-partitioned form (operators/ids.py) — the
    naive ``row_number() OVER (ORDER BY …)`` global window funnels all
    rows through one task (VERDICT r1 'What's wrong' #1)."""
    (orders,) = _t(spark, sf_dir, "orders")
    return serial_id(orders.select("o_orderkey"), ["o_orderkey"])


def filter_project_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4/P2 — predicate + projection; both reach the parquet scan
    (PushedFilters/ReadSchema verified in tests)."""
    (orders,) = _t(spark, sf_dir, "orders")
    return orders.where(
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 350000.0)
    ).select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")


def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 top-k: order by + limit → TakeOrderedAndProject (no global
    sort at scale)."""
    (orders,) = _t(spark, sf_dir, "orders")
    return (orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
            .select("o_orderkey", "o_custkey", "o_totalprice")
            .limit(100))


# ------------------------------------------------------------ aggregations —

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape (public spec): the canonical partial-agg +
    final-agg scan; no join, one shuffle on the 6-group key."""
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def agg_stats_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag price statistics (min/max/avg/stddev), exact distinct part count, and row count -- the multi-aggregate stats surface in one hash aggregate."""
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_returnflag").agg(
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("std_price"),
        F.countDistinct("l_partkey").alias("ndv_parts"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT custkey) per order priority via Spark's two-phase expand-plus-aggregate distinct rewrite."""
    (orders,) = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("ndv_cust"),
        F.count(F.lit(1)).alias("n_orders"),
    )


def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approx distinct — engine surface (SURVEY.md §2.5). Sketch
    internals differ across engines → rows-only gate; exactness is
    bounded vs `agg_count_distinct` in tests."""
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"))


def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (region, nation) on the broadcast customer-nation join: hierarchical subtotals plus grand total with GROUPING-consistent nulls."""
    customer, nation = _t(spark, sf_dir, "customer", "nation")
    return (
        customer.join(F.broadcast(nation),
                      F.col("c_nationkey") == F.col("n_nationkey"))
        .rollup("n_regionkey", "n_name")
        .agg(F.count(F.lit(1)).alias("n_cust"),
             F.round(F.sum("c_acctbal"), 2).alias("sum_bal"))
    )


def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all four grouping combinations materialized in one Expand pass."""
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    return lineitem.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((flag), (status), ()) -- the general form that rollup and cube desugar to."""
    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql("""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               count(*) AS n_rows
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """)


def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot → conditional aggregation (what any engine compiles it
    to; the oracle states the CASE form explicitly)."""
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )


def agg_median_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (engine surface §2.5)."""
    (orders,) = _t(spark, sf_dir, "orders")
    # round at 4dp, not 2: the interpolated median of 2-decimal inputs
    # is exact at 3 decimals, so a 2dp cut lands on true ties that
    # Spark (shortest-repr HALF_UP) and exact-binary rounding resolve
    # differently; 4dp puts every true value on a grid point.
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
    )


# ------------------------------------------------------------------- joins —

def join_inner_3way_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → two hash joins → agg →
    deterministic top-10. Customer/orders broadcast-eligible at this
    SF; at 100 TB AQE picks SMJ for orders⋈lineitem."""
    customer, orders, lineitem = _t(spark, sf_dir, "customer", "orders", "lineitem")
    revenue = F.round(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
    return (
        customer.where(F.col("c_mktsegment") == "BUILDING")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .where(F.col("l_shipdate") > F.col("o_orderdate"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue.alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def join_5way_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: star join through 4 dims; all dims broadcast —
    the fact table never shuffles until the final agg."""
    lineitem, orders, customer, nation, region = _t(
        spark, sf_dir, "lineitem", "orders", "customer", "nation", "region")
    return (
        lineitem
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .where((F.col("o_orderdate") >= F.lit("1996-01-01"))
               & (F.col("o_orderdate") < F.lit("1997-01-01")))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"),
             F.count(F.lit(1)).alias("n_lineitems"))
    )


def join_left_outer_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer join of customers to their large orders then per-customer aggregate: preserved-side rows survive with zeroed/NULL-coalesced aggregates."""
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    big = orders.where(F.col("o_totalprice") > 400000.0)
    return (
        customer.join(big, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.count("o_orderkey").alias("n_big_orders"),
             F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2)
              .alias("big_spend"))
    )


def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS → left-semi: no right-side duplication, right side only
    shuffles its join key."""
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    big = orders.where(F.col("o_totalprice") > 450000.0)
    return customer.join(big, F.col("c_custkey") == F.col("o_custkey"),
                         "left_semi").select("c_custkey", "c_mktsegment")


def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS → left-anti."""
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    big = orders.where(F.col("o_totalprice") > 450000.0)
    return customer.join(big, F.col("c_custkey") == F.col("o_custkey"),
                         "left_anti").select("c_custkey", "c_acctbal")


def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer join of high-balance customers against per-customer finished-order counts: unmatched rows from BOTH sides preserved, keys coalesced."""
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    per_cust = (orders.where(F.col("o_orderstatus") == "F")
                .groupBy("o_custkey")
                .agg(F.count(F.lit(1)).alias("n_f_orders")))
    return (
        customer.where(F.col("c_acctbal") > 9000.0)
        .join(per_cust, F.col("c_custkey") == F.col("o_custkey"), "full_outer")
        .select(
            F.coalesce(F.col("c_custkey"), F.col("o_custkey")).alias("custkey"),
            F.col("c_acctbal"),
            F.coalesce(F.col("n_f_orders"), F.lit(0).cast("long"))
             .alias("n_f_orders"),
        )
    )


def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit Cartesian product region x nation with a same-region flag -- the crossJoin surface (25x5 rows, bounded by construction)."""
    region, nation = _t(spark, sf_dir, "region", "nation")
    return (
        region.crossJoin(nation)
        .select(F.col("r_name"), F.col("n_name"),
                (F.col("r_regionkey") == F.col("n_regionkey")).alias("same_region"))
    )


def join_theta_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta join (equi part + inequality residual): nation pairs
    within a region."""
    (nation,) = _t(spark, sf_dir, "nation")
    a, b = nation.alias("a"), nation.alias("b")
    return (
        a.join(b, (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
               & (F.col("a.n_nationkey") < F.col("b.n_nationkey")))
        .select(F.col("a.n_regionkey").alias("regionkey"),
                F.col("a.n_name").alias("nation_a"),
                F.col("b.n_name").alias("nation_b"))
    )


def join_asof_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (SURVEY.md §2.4 extension list): each event gets the
    customer's latest order at event time. Right side pre-aggregated to
    unique (key, time) so the carried payload is well-defined; oracle
    uses DuckDB's native ASOF JOIN."""
    events, orders = _t(spark, sf_dir, "events", "orders")
    right = (orders.groupBy("o_custkey", "o_orderdate")
             .agg(F.max("o_orderkey").alias("last_orderkey"))
             .withColumnRenamed("o_custkey", "user_id"))
    out = asof_join(
        events.select("event_id", "user_id", "ts"),
        right, on="user_id", left_time="ts", right_time="o_orderdate",
        payload_cols=["last_orderkey"],
    )
    return out.where(F.col("last_orderkey").isNotNull()) \
              .select("event_id", "user_id", "ts", "last_orderkey")


def join_range_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: per 'error' event, count same-user events in the
    following 5 minutes. Equi key (user) drives the hash join; the
    range predicate is a residual filter — the scalable plan shape."""
    (events,) = _t(spark, sf_dir, "events")
    errors = events.where(F.col("event_type") == "error") \
                   .select(F.col("user_id").alias("u"),
                           F.col("event_id").alias("err_id"),
                           F.col("ts").alias("err_ts"))
    follow = events.select(F.col("user_id").alias("u2"),
                           F.col("event_id").alias("f_id"),
                           F.col("ts").alias("f_ts"))
    cond = (
        (F.col("u") == F.col("u2"))
        & (F.col("f_ts") > F.col("err_ts"))
        & (F.col("f_ts") <= F.col("err_ts") + F.expr("INTERVAL 5 MINUTES"))
    )
    return (
        errors.join(follow, cond, "left")
        .groupBy("err_id")
        .agg(F.count("f_id").alias("n_follow"))
    )


# ----------------------------------------------------------------- windows —

def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer: row_number over a (custkey, price desc, key) window then rank filter -- the WindowGroupLimit shape."""
    (orders,) = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (orders.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 3)
            .select("o_custkey", "o_orderkey", "o_totalprice", "rk"))


def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running totals per supplier. Accumulates l_quantity (integral
    doubles → exact in IEEE754) so the 60k-row cumulative output is
    bit-identical across engines regardless of their window-sum
    association (DuckDB uses segment trees, Spark sequential)."""
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    w = (Window.partitionBy("l_suppkey")
         .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return lineitem.select(
        "l_suppkey", "l_orderkey", "l_linenumber",
        F.sum("l_quantity").over(w).alias("running_qty"),
        F.count(F.lit(1)).over(w).alias("running_cnt"),
    )


def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead over each user's time-ordered event stream: seconds since the previous event and the next event's type."""
    (events,) = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "user_id", "event_id",
        (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)))
        .alias("secs_since_prev"),
        F.lead("event_type").over(w).alias("next_type"),
    )


def window_rank_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank, dense_rank, and ntile(4) quartiles per brand ordered by retail price with a key tiebreak."""
    (part,) = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey"))
    return part.select(
        "p_brand", "p_partkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over a double ordering key (typed literal bounds —
    the SQL form, since the PySpark rangeBetween API is long-only)."""
    register_views(spark, sf_dir, ("orders",))
    return spark.sql("""
        SELECT o_orderkey, o_custkey, o_totalprice,
               count(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                              RANGE BETWEEN 1000.0 PRECEDING
                                        AND 1000.0 FOLLOWING) AS n_similar
        FROM orders
    """)


# --------------------------------------------------------- sorts & set ops —

def sort_multi_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global multi-key sort (status asc, date desc, key asc) with LIMIT 1000 -- planned as TakeOrderedAndProject, never a full sort."""
    (orders,) = _t(spark, sf_dir, "orders")
    return (orders.orderBy(F.col("o_orderstatus"),
                           F.col("o_orderdate").desc(),
                           F.col("o_orderkey"))
            .select("o_orderkey", "o_orderstatus", "o_orderdate")
            .limit(1000))


def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of two customer-key selections (bag semantics, duplicates kept -- no shuffle beyond the scans)."""
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    hi_bal = customer.where(F.col("c_acctbal") > 9500.0).select(
        F.col("c_custkey").alias("custkey"))
    hi_spend = orders.where(F.col("o_totalprice") > 480000.0).select(
        F.col("o_custkey").alias("custkey"))
    return hi_bal.unionAll(hi_spend)


def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION DISTINCT of the two key selections: union followed by one dedup hash aggregate."""
    return set_union_all(spark, sf_dir).distinct()


def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (set semantics) of high-balance vs high-spend customer keys -- planned as a left-semi aggregate."""
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    hi_bal = customer.where(F.col("c_acctbal") > 8000.0).select(
        F.col("c_custkey").alias("custkey"))
    hi_spend = orders.where(F.col("o_totalprice") > 450000.0).select(
        F.col("o_custkey").alias("custkey"))
    return hi_bal.intersect(hi_spend)


def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (bag-semantics difference) of the two customer-key selections."""
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    hi_bal = customer.where(F.col("c_acctbal") > 8000.0).select(
        F.col("c_custkey").alias("custkey"))
    hi_spend = orders.where(F.col("o_totalprice") > 450000.0).select(
        F.col("o_custkey").alias("custkey"))
    return hi_bal.exceptAll(hi_spend)


def distinct_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT DISTINCT over a two-column projection: dedup as a partial-then-final hash aggregate on the projected key."""
    (customer,) = _t(spark, sf_dir, "customer")
    return customer.select("c_mktsegment", "c_nationkey").distinct()


# -------------------------------------------------------- scalar functions —

def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar surface per customer: upper, substring, length, concat_ws, lpad, replace -- all whole-stage-codegen expressions."""
    (customer,) = _t(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.substring("c_name", 1, 9).alias("name_prefix"),
        F.length("c_name").cast("long").alias("name_len"),
        F.concat_ws("-", F.col("c_mktsegment"),
                    F.col("c_custkey").cast("string")).alias("seg_key"),
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("key_padded"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("C")).alias("name_short"),
        F.reverse(F.col("c_mktsegment")).alias("seg_rev"),
    )


def scalar_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar surface per order: year/month/day parts, dayofweek, date_trunc, datediff, unix_timestamp."""
    (orders,) = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mth"),
        F.dayofmonth("o_orderdate").alias("dom"),
        (F.dayofweek("o_orderdate") - 1).alias("dow_sun0"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        F.datediff(F.lit("2002-01-01").cast("date"),
                   F.col("o_orderdate").cast("date")).alias("days_to_2002"),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
    )


def scalar_case_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN quantity bucketing plus math scalars (abs, ceil, floor, sqrt, pow) per lineitem row."""
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    return lineitem.select(
        "l_orderkey", "l_linenumber",
        F.when(F.col("l_quantity") < 10, "low")
         .when(F.col("l_quantity") < 30, "mid")
         .otherwise("high").alias("qty_bucket"),
        F.round(F.abs(F.col("l_discount") - 0.05), 4).alias("disc_dev"),
        F.ceil("l_extendedprice").alias("price_ceil"),
        F.floor("l_extendedprice").alias("price_floor"),
        F.round(F.sqrt("l_quantity"), 6).alias("qty_sqrt"),
        F.round(F.pow(F.lit(1.0) + F.col("l_tax"), 2), 6).alias("tax_sq"),
        F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
        (F.col("l_partkey") % 10).alias("part_mod"),
    )


def scalar_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 JSON decode generalized (SURVEY.md §2.9): schema-on-read over
    a JSON string column."""
    (events,) = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (events.select("event_type", k.alias("k_val"))
            .groupBy("event_type")
            .agg(F.round(F.avg("k_val"), 4).alias("avg_k"),
                 F.count(F.lit(1)).alias("n")))


def scalar_conditional_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional scalar surface: coalesce, nullif, greatest, least, and BETWEEN, per customer."""
    (customer,) = _t(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey",
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("MACHINERY")),
                   F.lit("OTHER")).alias("seg_or_other"),
        F.greatest(F.col("c_acctbal"), F.lit(0.0)).alias("bal_floor0"),
        F.least(F.col("c_acctbal"), F.lit(5000.0)).alias("bal_cap"),
        F.col("c_acctbal").between(0.0, 1000.0).alias("small_bal"),
    )


# --------------------------------------------------------------- subqueries —

def subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery: orders priced above 1.9x the global average (subquery becomes a broadcast scalar)."""
    register_views(spark, sf_dir, ("orders",))
    return spark.sql("""
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_totalprice > 1.9 * (SELECT avg(o_totalprice) FROM orders)
    """)


def subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN subquery -- customers with at least one very large order; Catalyst rewrites it to a left-semi join."""
    register_views(spark, sf_dir, ("customer", "orders"))
    return spark.sql("""
        SELECT c_custkey, c_mktsegment
        FROM customer
        WHERE c_custkey IN (
            SELECT o_custkey FROM orders WHERE o_totalprice > 490000.0)
    """)


def subquery_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS -- customers having a finished order over a threshold; decorrelated into a semi-join."""
    register_views(spark, sf_dir, ("customer", "orders"))
    return spark.sql("""
        SELECT c_custkey, c_acctbal
        FROM customer c
        WHERE EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderstatus = 'F' AND o.o_totalprice > 470000.0)
    """)


def cte_multi_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-step CTE with a global-rank top-k.

    The naive form — ``row_number() OVER (ORDER BY …)`` over the whole
    aggregated frame, then ``WHERE rank <= 50`` — funnels every
    per-customer row through one task's sort (VERDICT r1 #4/#8). The
    rewrite pushes ``ORDER BY … LIMIT 50`` first (compiles to
    TakeOrderedAndProject — per-partition top-50 + driver merge) and
    re-ranks only the surviving 50 rows, so the unpartitioned Window
    runs at width k, not input width."""
    register_views(spark, sf_dir, ("customer", "orders"))
    return spark.sql("""
        WITH spend AS (
            SELECT o_custkey, round(sum(o_totalprice), 2) AS total_spend,
                   count(*) AS n_orders
            FROM orders GROUP BY o_custkey
        ), top AS (
            SELECT * FROM spend ORDER BY total_spend DESC, o_custkey LIMIT 50
        ), ranked AS (
            SELECT *, row_number() OVER (ORDER BY total_spend DESC, o_custkey)
                      AS spend_rank
            FROM top
        )
        SELECT r.o_custkey AS custkey, c.c_mktsegment, r.total_spend,
               r.n_orders, r.spend_rank
        FROM ranked r JOIN customer c ON r.o_custkey = c.c_custkey
    """)


# ------------------------------------------------------- events & sessions —

def events_tumbling_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window (batch form — F.window aligns to the
    epoch, so hourly windows == date_trunc('hour'))."""
    (events,) = _t(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"),
                "event_type", "n_events", "sum_value")
    )


def events_date_bin_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom-origin time-bucket downsampling with OHLC rollup — the
    TimescaleDB ``time_bucket(width, ts, origin)`` / OHLC-candle shape
    (continuous-aggregate downsampling a metrics store runs): 15-minute
    bins anchored at a NON-aligned origin (23:05, proving the origin
    offset semantics rather than epoch alignment, which
    ``events_tumbling_hour`` already covers), per (bin, event_type):
    event count, low/high, and deterministic open/close picked by
    ``min_by``/``max_by`` over a compound BIGINT key — a total order,
    so ties on ts cannot flip open/close between engines.

    The ordering key packs (micros-within-bin, event_id) into one
    int64: the intra-bin offset is < 9·10⁸ µs (30 bits), shifted left
    33 bits, leaving event ids up to 2³³ — a fixed-width key ON
    PURPOSE: a string/struct key would give ``min_by`` a variable-
    width buffer and demote the whole rollup from HashAggregate to
    SortAggregate (per-partition sort at 100 TB; plan-gated in
    tests/test_plan_quality.py).

    Plan: bin start is pure epoch arithmetic (zero extra scan cost) and
    the rollup is ONE map-side-combined hash aggregate — at 100 TB this
    is the minimal possible downsampling plan (no window, no join)."""
    (events,) = _t(spark, sf_dir, "events")
    width_us = 15 * 60 * 1_000_000
    origin_us = F.lit("2023-12-31 23:05:00").cast("timestamp")
    o = F.unix_micros(origin_us)
    bin_us = (o + F.floor((F.unix_micros(F.col("ts")) - o) / width_us)
              .cast("long") * width_us)
    bin_start = F.timestamp_micros(bin_us)
    okey = ((F.unix_micros(F.col("ts")) - bin_us) * F.lit(2 ** 33)
            + F.col("event_id"))
    return (events
            .select(bin_start.alias("bin_start"), "event_type", "value",
                    okey.alias("okey"))
            .groupBy("bin_start", "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.min("value"), 4).alias("low"),
                 F.round(F.max("value"), 4).alias("high"),
                 F.round(F.min_by("value", F.col("okey")), 4).alias("open"),
                 F.round(F.max_by("value", F.col("okey")), 4).alias("close")))


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (30-min gap) → per-user session stats."""
    (events,) = _t(spark, sf_dir, "events")
    s = sessionize(events, gap_minutes=30)
    return (
        s.groupBy("user_id")
        .agg(F.max("session_id").alias("n_sessions"),
             F.count(F.lit(1)).alias("n_events"))
    )


# ------------------------------------------------- round-1 widening batch —

def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation with deterministic ordering (collect_set is
    unordered by contract → sort_array pins it), serialized with
    array_join at the final projection so the output is flat-hashable
    (list cells break pandas-based canonicalizers downstream)."""
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    return (lineitem.groupBy("l_returnflag")
            .agg(F.array_join(F.sort_array(F.collect_set("l_linestatus")), ",")
                 .alias("statuses"),
                 F.count(F.lit(1)).alias("n")))


def agg_rollup_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with grouping indicator columns (distinguishes a real
    NULL group key from a super-aggregate row)."""
    customer, nation = _t(spark, sf_dir, "customer", "nation")
    return (
        customer.join(F.broadcast(nation),
                      F.col("c_nationkey") == F.col("n_nationkey"))
        .rollup("n_regionkey", "n_name")
        .agg(F.count(F.lit(1)).alias("n_cust"),
             F.grouping("n_regionkey").cast("int").alias("g_region"),
             F.grouping("n_name").cast("int").alias("g_name"))
    )


def scalar_regexp_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp scalar surface per part: regexp_extract, regexp_replace, rlike, and regexp_extract_all word counting."""
    (part,) = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.regexp_extract("p_brand", r"#(\d+)", 1).alias("brand_num"),
        F.regexp_replace("p_name", r"[aeiou]", "_").alias("name_devoweled"),
        F.col("p_name").rlike(r"^[a-z]+ [a-z]+$").alias("two_words"),
        F.size(F.regexp_extract_all("p_name", F.lit(r"[a-z]+"), 0))
         .cast("long").alias("n_words"),
    )


def unpivot_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long) via stack — the standard melt shape."""
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    return lineitem.selectExpr(
        "l_orderkey", "l_linenumber",
        "stack(3, 'qty', l_quantity, 'price', l_extendedprice, "
        "'discount', l_discount) AS (metric, val)",
    )


def scalar_try_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe casts: try_cast → NULL on malformed input."""
    (orders,) = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.substring("o_orderpriority", 1, 1).try_cast("int").alias("prio_num"),
        F.col("o_orderpriority").try_cast("int").alias("prio_bad"),
        F.col("o_totalprice").cast("string").try_cast("double").alias("price_rt"),
    )


def session_window_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) via the native F.session_window
    aggregation — start = first event, end = last event + gap."""
    (events,) = _t(spark, sf_dir, "events")
    return (
        events.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id",
                F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"),
                "n_events")
    )


def window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist / first_value / last_value with an
    explicit full frame (last_value's default frame stops at the
    current row — a classic cross-engine trap pinned here)."""
    (orders,) = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_orderkey", "o_orderpriority",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.first_value("o_orderkey").over(wf).alias("cheapest_key"),
        F.last_value("o_orderkey").over(wf).alias("priciest_key"),
    )


def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (1 h length, 15 min slide): each
    event lands in 4 overlapping windows. F.window's starts align to
    the epoch, so the oracle can reconstruct them arithmetically."""
    (events,) = _t(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


def agg_salted_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant salted two-phase aggregation — result must equal
    the direct GROUP BY (the oracle states the direct form). Uses the
    integral quantity column so two-phase double summation stays
    exact."""
    from ..operators.skew import salted_sum_count
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    return salted_sum_count(lineitem, ["l_returnflag"], "l_quantity",
                            salt_buckets=32)


def agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate aggregates (corr / sample covariance)."""
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("covar_qty_price"),
        F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
    )


def agg_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates (every/any)."""
    (orders,) = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.bool_and(F.col("o_totalprice") > 1000.0).alias("all_above_1k"),
        F.bool_or(F.col("o_totalprice") > 490000.0).alias("any_huge"),
        F.max(F.col("o_orderstatus") == "F").alias("has_f"),
    )


def scalar_date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic: interval add, month add, month boundary."""
    (orders,) = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        F.date_add(d, 30).alias("plus_30d"),
        F.add_months(d, 2).alias("plus_2mo"),
        F.last_day(d).alias("month_end"),
        (F.col("o_orderdate") + F.expr("INTERVAL 36 HOURS")).alias("plus_36h"),
    )


def agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (t-digest-style sketch) — engine surface;
    sketch internals differ per engine → rows-only, bounded vs the
    exact percentile in tests."""
    (orders,) = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.percentile_approx("o_totalprice", 0.5, 1000).alias("p50_approx"))


def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING over the SQL entry point."""
    register_views(spark, sf_dir, ("orders",))
    return spark.sql("""
        SELECT o_custkey, count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS spend
        FROM orders
        GROUP BY o_custkey
        HAVING count(*) >= 15
    """)


def scalar_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality (<=> / IS NOT DISTINCT FROM)."""
    (customer,) = _t(spark, sf_dir, "customer")
    seg_or_null = F.nullif(F.col("c_mktsegment"), F.lit("MACHINERY"))
    return customer.select(
        "c_custkey",
        seg_or_null.eqNullSafe(F.lit("BUILDING")).alias("is_building"),
        seg_or_null.eqNullSafe(F.lit(None).cast("string")).alias("was_machinery"),
    )


def join_composite_adjacent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-key equi-join: each lineitem matched to the next line
    of the same order ((orderkey, linenumber+1) — the adjacency-join
    shape)."""
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    a = lineitem.select(F.col("l_orderkey").alias("ok"),
                        F.col("l_linenumber").alias("ln"),
                        F.col("l_quantity").alias("qty"))
    b = lineitem.select(F.col("l_orderkey").alias("ok"),
                        (F.col("l_linenumber") - 1).alias("ln"),
                        F.col("l_quantity").alias("next_qty"))
    return (a.join(b, on=["ok", "ln"], how="left")
            .select(F.col("ok").alias("l_orderkey"),
                    F.col("ln").alias("l_linenumber"),
                    "qty", "next_qty"))


def scalar_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array function surface over a token column.

    The array ops (slice / array_distinct / sort_array / reverse) all
    stay inside the plan; only the FINAL projection serializes each
    array with array_join so the result is flat-hashable by any
    downstream comparator (pandas canonicalizers choke on list cells).
    Tokens come from a \\s+ split, so a single-space delimiter is
    collision-free by construction.
    """
    (documents,) = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return documents.select(
        "doc_id",
        F.size(toks).cast("long").alias("n"),
        F.array_join(F.slice(toks, 1, 3), " ").alias("first3"),
        F.array_contains(toks, "spark").alias("mentions_spark"),
        F.array_join(F.sort_array(F.array_distinct(toks)), " ").alias("vocab"),
        F.array_join(F.reverse(toks), " ").alias("rev"),
    )


def generator_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table generator (spark.range) with computed columns — the
    synthetic-data surface."""
    return spark.range(0, 1000).select(
        F.col("id"),
        (F.col("id") * 7 % 13).alias("mod13"),
        F.pow(F.col("id").cast("double"), 2).alias("sq"),
    )


def sample_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Bernoulli sampling via the repo's standard 63-bit-safe
    Knuth multiplicative hash on the key (same scheme as
    ``sample_weighted`` / ``corpus_train_val_split``): keep rows whose
    hash falls below fraction·2³², i.e. a 10 % deterministic sample.
    Oracle-checked as of r10 (VERDICT r9 #6).

    Promoted from rows-only in r10 (VERDICT r9 #6): ``df.sample(seed)``
    draws from Spark's internal XORShift stream — engine-specific, so
    un-oracle-able — while the hash threshold computes identically in
    any engine AND is the sampler you actually want at 100 TB:
    membership depends on the key alone (stable across re-ingestion,
    re-partitioning, and retries, which ``sample()`` is not), and the
    predicate sits in the scan's WholeStageCodegen — zero shuffles."""
    (orders,) = _t(spark, sf_dir, "orders")
    h = ((F.col("o_orderkey") % F.lit(2147483648))
         * F.lit(2654435761).cast("long")) % F.lit(4294967296).cast("long")
    return (orders.where(h < F.lit(int(0.1 * 4294967296)))
            .select("o_orderkey"))


def subquery_correlated_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-style correlated scalar MIN subquery — exercises
    Catalyst's subquery decorrelation (rewritten to an aggregate +
    join, not a per-row loop)."""
    register_views(spark, sf_dir, ("orders",))
    return spark.sql("""
        SELECT o_custkey, o_orderkey, o_totalprice
        FROM orders o
        WHERE o_totalprice = (
            SELECT min(o2.o_totalprice) FROM orders o2
            WHERE o2.o_custkey = o.o_custkey)
    """)


def subquery_in_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-style: IN over a grouped HAVING subquery."""
    register_views(spark, sf_dir, ("orders", "lineitem"))
    return spark.sql("""
        SELECT o_orderkey, o_orderdate, o_totalprice
        FROM orders
        WHERE o_orderkey IN (
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey HAVING sum(l_quantity) > 180)
    """)


def subquery_not_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN anti-pattern over a filtered subquery (null-safe: the
    subquery column is non-null here, so NOT IN == anti join)."""
    register_views(spark, sf_dir, ("customer", "orders"))
    return spark.sql("""
        SELECT c_custkey, c_mktsegment FROM customer
        WHERE c_custkey NOT IN (
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
              AND o_totalprice > 400000.0)
    """)


def agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (listagg shape — deterministic via
    sort before concat)."""
    (orders,) = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.concat_ws(",", F.sort_array(F.collect_set("o_orderstatus")))
         .alias("statuses"),
        F.count(F.lit(1)).alias("n"),
    )


def scalar_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar + aggregate surface."""
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    masked = lineitem.select(
        "l_returnflag",
        (F.col("l_partkey").bitwiseAND(F.lit(255))).alias("low8"),
        (F.col("l_partkey").bitwiseOR(F.lit(7))).alias("or7"),
        (F.col("l_partkey").bitwiseXOR(F.col("l_suppkey"))).alias("xored"),
        F.shiftleft(F.col("l_linenumber"), 2).cast("long").alias("shl2"),
        F.shiftright(F.col("l_partkey"), 3).alias("shr3"),
    )
    return masked.groupBy("l_returnflag").agg(
        F.bit_and("low8").alias("band"),
        F.bit_or("low8").alias("bor"),
        F.bit_xor("xored").alias("bxor"),
        F.sum("shl2").alias("sum_shl2"),
        F.max("shr3").alias("max_shr3"),
        F.max("or7").alias("max_or7"),
    )


def scalar_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """printf-style formatting + repeat."""
    (customer,) = _t(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey",
        F.format_string("%06d-%s", F.col("c_custkey"),
                        F.col("c_mktsegment")).alias("tag"),
        F.repeat(F.substring("c_mktsegment", 1, 2), 3).alias("rep"),
    )


def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — duplicate-preserving intersection."""
    (orders,) = _t(spark, sf_dir, "orders")
    big_cust = orders.where(F.col("o_totalprice") > 300000.0) \
                     .select(F.col("o_custkey").alias("custkey"))
    f_cust = orders.where(F.col("o_orderstatus") == "F") \
                   .select(F.col("o_custkey").alias("custkey"))
    return big_cust.intersectAll(f_cust)


def explode_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode vs explode_outer: rows whose array is empty survive the
    outer variant with a NULL element (the LEFT JOIN UNNEST shape)."""
    (documents,) = _t(spark, sf_dir, "documents")
    longtoks = F.filter(TXT_TOKENS_EXPR(), lambda t: F.length(t) > 5)
    return (documents
            .select("doc_id", longtoks.alias("lt"))
            .select("doc_id", F.explode_outer("lt").alias("long_tok")))


def TXT_TOKENS_EXPR():
    return F.split(F.trim(F.col("text")), r"\s+")


# ------------------------------------------------- r5 SQL-surface growth —
# Native Spark 4 capabilities the engine now exposes as first-class
# operators: recursive CTEs (SPARK-24497), IGNORE NULLS window frames,
# deterministic MODE, discrete percentiles, the VARIANT type, and
# Datasketches HLL.  Reference parity: the reference has no equivalent
# (its one relational op is a Postgres-side join,
# codes/weather_etl_pipeline.py:210-252); these are engine-surface
# entries per SURVEY.md §2.5/§2.6/§2.9 notes.

def recursive_cte_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``WITH RECURSIVE`` (Spark 4): generate a monthly calendar
    spine, then LEFT JOIN monthly order counts so empty months surface
    as zero rows — the canonical gap-free time-series shape.

    Scale: the recursion is depth-bounded (12 tiny local iterations,
    no data-dependent depth); the only distributed
    work is one partial-agg'd groupBy on orders.  Iterative operators
    whose depth DOES depend on data (connected components, PageRank,
    k-means) deliberately stay driver-loop + localCheckpoint instead —
    see operators/graph.py — because recursive CTEs give no checkpoint
    control over lineage growth."""
    register_views(spark, sf_dir, ("orders",))
    return spark.sql("""
        WITH RECURSIVE spine(month_start) AS (
            SELECT DATE '1995-01-01'
            UNION ALL
            SELECT add_months(month_start, 1) FROM spine
            WHERE month_start < DATE '1995-12-01'
        ),
        m AS (
            SELECT trunc(o_orderdate, 'MM') AS month_start,
                   COUNT(*) AS n_orders,
                   CAST(ROUND(SUM(o_totalprice), 2) AS DOUBLE) AS total_price
            FROM orders
            WHERE o_orderdate >= DATE '1995-01-01'
              AND o_orderdate < DATE '1996-01-01'
            GROUP BY 1
        )
        SELECT s.month_start,
               COALESCE(m.n_orders, CAST(0 AS BIGINT)) AS n_orders,
               COALESCE(m.total_price, CAST(0.0 AS DOUBLE)) AS total_price
        FROM spine s LEFT JOIN m ON s.month_start = m.month_start
    """)


def window_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS window frames: last-observation-carried-forward and
    next-observation-carried-backward over a per-user event stream
    ('error' events carry no reading → NULL).  The standard sensor /
    telemetry gap-fill — one shuffle on user_id, frames evaluated
    within each partition, zero Python."""
    (events,) = _t(spark, sf_dir, "events")
    reading = F.when(F.col("event_type") != "error", F.col("value"))
    order = [F.col("ts"), F.col("event_id")]
    w_back = (Window.partitionBy("user_id").orderBy(*order)
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_fwd = (Window.partitionBy("user_id").orderBy(*order)
             .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    return events.select(
        "event_id", "user_id",
        reading.alias("reading"),
        F.last(reading, ignorenulls=True).over(w_back).alias("locf"),
        F.first(reading, ignorenulls=True).over(w_fwd).alias("nocb"),
    )


def agg_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-standard regression aggregates: per-returnflag OLS of
    extended price on quantity — slope, intercept, R², and the pair
    count, all in one grouped pass (regr_* functions; both engines
    implement the identical textbook definitions).  The one-pass
    moment accumulation is the same mergeable-state algebra as
    operators/incremental.py, so per-segment regression states
    re-merge without rescans."""
    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql("""
        SELECT l_returnflag,
               round(regr_slope(l_extendedprice, l_quantity), 6)
                   AS slope,
               round(regr_intercept(l_extendedprice, l_quantity), 6)
                   AS intercept,
               round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
               regr_count(l_extendedprice, l_quantity) AS n
        FROM lineitem GROUP BY l_returnflag
    """)


def join_exists_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mark join: annotate every customer with a has_urgent boolean
    instead of filtering (the EXISTS-in-SELECT shape analytics needs
    when downstream wants BOTH populations).  Spark's left join
    against the distinct key set + null-check is the classic rewrite;
    the distinct side shrinks to unique keys before the join, so the
    shuffle carries keys, not order rows."""
    orders, customer = _t(spark, sf_dir, "orders", "customer")
    urgent = (orders.where(F.col("o_orderpriority") == "1-URGENT")
              .select(F.col("o_custkey").alias("c_custkey")).distinct()
              .withColumn("__hit", F.lit(1)))
    return (customer.join(urgent, "c_custkey", "left_outer")
            .select("c_custkey", "c_mktsegment",
                    F.col("__hit").isNotNull().alias("has_urgent")))


def agg_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third/fourth-moment statistics: per-returnflag skewness and
    kurtosis of l_extendedprice.  Spark's aggregates are the
    POPULATION definitions (m3/m2^1.5, m4/m2²-3); DuckDB's carry
    sample-bias corrections, so the oracle derives the population
    moments from raw power sums — which doubles as an independent
    check of Spark's formula, not just its arithmetic."""
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    return (lineitem.groupBy("l_returnflag")
            .agg(F.round(F.skewness("l_extendedprice"), 6).alias("skew"),
                 F.round(F.kurtosis("l_extendedprice"), 6).alias("kurt")))


def scalar_datetime_make(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime constructors: decompose o_orderdate into parts and
    rebuild it with make_date / make_timestamp — the
    normalize-and-reassemble shape ETL uses when sources deliver
    split date fields (the reference's CSV feed carries dates as
    strings; §2.9 F3 coerces them — this is the part-wise variant)."""
    (orders,) = _t(spark, sf_dir, "orders")
    y, m, d = (F.year("o_orderdate"), F.month("o_orderdate"),
               F.dayofmonth("o_orderdate"))
    return orders.select(
        "o_orderkey",
        F.make_date(y, m, d).alias("rebuilt_date"),
        (F.make_date(y, m, d) == F.col("o_orderdate")).alias("roundtrip_ok"),
        F.make_timestamp(y, m, d, F.lit(12), F.lit(30), F.lit(0.0))
        .alias("noon_ts"),
    )


def window_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k WITH TIES per group: rank() (not row_number) keeps EVERY
    row tied at the boundary — the semantics a 'top 3 priorities per
    status, ties included' report actually wants; row-count varies by
    data, which is exactly what the oracle verifies.  Same single
    window shuffle as the row_number top-k."""
    (orders,) = _t(spark, sf_dir, "orders")
    day_ord = F.datediff(F.col("o_orderdate"),
                         F.lit("1992-01-01").cast("date"))
    w = Window.partitionBy("o_orderstatus").orderBy(day_ord.asc())
    return (orders.select("o_orderkey", "o_orderstatus", "o_orderdate",
                          F.rank().over(w).alias("rnk"))
            .where(F.col("rnk") <= 3))


def sql_udf_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined functions (Spark 4 CREATE FUNCTION ... RETURN):
    the reference's F1 Kelvin→Fahrenheit conversion
    (codes/weather_etl_pipeline.py:154, reimplemented natively in
    functions/weather.py) declared as a catalog-level SQL scalar UDF,
    plus a SQL TABLE function expanded through LATERAL — both are
    pure-SQL bodies, so Catalyst inlines them (full codegen/pushdown,
    no UDF serialization wall; contrast §2.11's Python UDFs, which
    exist for bodies SQL cannot express).  The oracle inlines the same
    expressions."""
    register_views(spark, sf_dir, ("events",))
    spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION k2f(k DOUBLE)
        RETURNS DOUBLE RETURN round((k - 273.15) * 9 / 5 + 32, 2)
    """)
    spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION replicate_idx(n INT)
        RETURNS TABLE(copy_idx INT)
        RETURN SELECT explode(sequence(1, n))
    """)
    return spark.sql("""
        SELECT e.event_id, k2f(e.value + 250.0) AS temp_f, r.copy_idx
        FROM events e, LATERAL replicate_idx(2) r
    """)


def set_union_evolved_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union (``unionByName`` with
    ``allowMissingColumns``): an old-schema batch (no priority column) stacks
    with a new-schema batch — missing columns null-fill, matching is
    BY NAME, not position (a positional union would silently pair
    wrong columns, the classic evolving-ingest bug).  Oracle: DuckDB's
    UNION ALL BY NAME, an independent implementation of the same
    semantics."""
    (orders,) = _t(spark, sf_dir, "orders")
    old_batch = (orders.where(F.col("o_orderkey") % 2 == 0)
                 .select("o_orderkey", "o_totalprice"))
    new_batch = (orders.where(F.col("o_orderkey") % 2 == 1)
                 .select("o_orderkey", "o_orderpriority", "o_totalprice"))
    return old_batch.unionByName(new_batch, allowMissingColumns=True)


def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via mergeable bitmaps (Spark 3.5
    bitmap_construct_agg): integer keys bucket into 32k-bit bitmaps,
    per-(group, bucket) bitmaps OR-merge map-side, and the final count
    is a SUM of per-bucket popcounts.  The exact counterpart of
    agg_hll_sketch_union's sketches — same pre-aggregate-and-merge
    shape (store per-segment bitmaps, re-merge at query time without
    rescanning), but bit-exact, at bitmap-width cost instead of 12 KB.
    The oracle is plain COUNT(DISTINCT), which is the whole point."""
    register_views(spark, sf_dir, ("orders",))
    return spark.sql("""
        WITH b AS (
            SELECT o_orderpriority,
                   bitmap_bucket_number(o_custkey) AS bucket,
                   bitmap_construct_agg(bitmap_bit_position(o_custkey))
                       AS bm
            FROM orders
            GROUP BY o_orderpriority, bitmap_bucket_number(o_custkey)
        )
        SELECT o_orderpriority,
               SUM(bitmap_count(bm)) AS n_distinct_cust
        FROM b GROUP BY o_orderpriority
    """)


def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER-clause aggregates: several differently-conditioned
    aggregates in ONE pass over the group (the standard replacement
    for N self-joins or CASE-wrapped sums).  Plans as a single
    hash-agg with per-function predicates — one shuffle regardless of
    how many conditions."""
    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql("""
        SELECT l_returnflag,
               COUNT(*) AS n_all,
               COUNT(*) FILTER (WHERE l_quantity < 10) AS n_small,
               round(SUM(l_extendedprice)
                     FILTER (WHERE l_discount > 0.05), 2)
                   AS rev_discounted,
               round(AVG(l_extendedprice)
                     FILTER (WHERE l_tax = 0.0), 4) AS avg_taxfree
        FROM lineitem GROUP BY l_returnflag
    """)


def sql_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session variables (Spark 4 DECLARE / SET VAR): a statistic
    computed once into a typed variable parameterizes the main query —
    the ad-hoc-analysis idiom the reference's notebook entry point
    (§3.3) would use instead of string-pasting literals.  The variable
    read is constant-folded into the plan, so the main query still
    gets pushdown on the derived predicate; the oracle inlines the
    same subquery."""
    register_views(spark, sf_dir, ("orders",))
    spark.sql("DECLARE OR REPLACE VARIABLE price_cut DOUBLE")
    spark.sql("SET VAR price_cut = "
              "(SELECT round(avg(o_totalprice), 2) FROM orders)")
    return spark.sql("""
        SELECT o_orderpriority, COUNT(*) AS n_above
        FROM orders WHERE o_totalprice > price_cut
        GROUP BY o_orderpriority
    """)


def sql_scripting_control_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4, BEGIN/DECLARE/WHILE): a data-driven
    threshold search — raise the cutoff by 1.5x until at most 100
    orders exceed it — written imperatively, each loop probe one tiny
    aggregate job.  The oracle proves the imperative loop equals a
    declarative fixpoint: the SAME search expressed as a recursive CTE
    in DuckDB.  Loop depth is data-bounded and logarithmic in the
    price range (not row count), so the pattern survives any scale."""
    register_views(spark, sf_dir, ("orders",))
    prev = spark.conf.get("spark.sql.scripting.enabled", None)
    spark.conf.set("spark.sql.scripting.enabled", "true")
    try:
        return spark.sql("""
            BEGIN
              DECLARE t DOUBLE DEFAULT 100000.0;
              WHILE (SELECT COUNT(*) FROM orders
                     WHERE o_totalprice > t) > 100 DO
                SET t = t * 1.5;
              END WHILE;
              SELECT round(t, 2) AS threshold,
                     (SELECT COUNT(*) FROM orders
                      WHERE o_totalprice > t) AS n_above;
            END
        """)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.scripting.enabled")
        else:
            spark.conf.set("spark.sql.scripting.enabled", prev)


def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (``<=>`` / IS NOT DISTINCT FROM): NULL keys
    match each other instead of vanishing — the semantics CDC/merge
    pipelines need when the business key is nullable.  Spark plans
    ``<=>`` as a regular hash/merge join key (nulls hash together), so
    there is no nested-loop penalty.  Keys here: the reading class
    ('error' rows carry NULL), joined against a per-class aggregate."""
    (events,) = _t(spark, sf_dir, "events")
    cls = F.when(F.col("event_type") != "error", F.col("event_type"))
    rows = events.select("event_id", cls.alias("cls"), "value")
    # distinct name on the aggregate side: a same-lineage self-join on
    # identically-named columns is ambiguous to the analyzer
    per_cls = (rows.groupBy("cls")
               .agg(F.round(F.avg("value"), 6).alias("cls_avg"))
               .withColumnRenamed("cls", "cls_r"))
    return (rows.join(per_cls, F.col("cls").eqNullSafe(F.col("cls_r")))
            .select("event_id", "cls", "cls_avg"))


def agg_histogram_fixed_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width numeric histogram (10 bins over the observed
    [min, max]) — the data-profiling shape behind every distribution
    dashboard.  The bin boundaries come from one metadata-scale agg;
    binning is pure integer arithmetic (floor), so the histogram is
    engine-exact, unlike sampled `histogram_numeric`."""
    (orders,) = _t(spark, sf_dir, "orders")
    b = orders.agg(F.min("o_totalprice"), F.max("o_totalprice")).first()
    lo, hi = float(b[0]), float(b[1])
    width = (hi - lo) / 10.0
    bin_id = F.least(F.floor((F.col("o_totalprice") - F.lit(lo))
                             / F.lit(width)).cast("long"), F.lit(9))
    return (orders.groupBy(bin_id.alias("bin_id"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.min("o_totalprice"), 2).alias("bin_min"),
                 F.round(F.max("o_totalprice"), 2).alias("bin_max")))


def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiler over the orders table: per column the row
    count, null count, distinct count, and min/max (stringified so
    heterogeneous column types stack into one result), computed in ONE
    job over ONE scan, then a constant-width unpivot.

    Honest cost note: six exact COUNT(DISTINCT)s in one aggregate make
    Catalyst plan an Expand — each input row is replicated once per
    distinct-column (7x here) before the de-dup aggregate, and the
    de-dup shuffle keys on the expanded composite.  Exactness is what
    the oracle checks; a 100-TB profile swaps the distinct counts for
    approx_count_distinct (no Expand, no exact-dedup shuffle — the
    engine's agg_approx_distinct entry shows that path) or runs
    per-partition profiles merged via operators/incremental.py.
    Pair with operators/quality.py guards for enforcement."""
    (orders,) = _t(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority"]
    from pyspark.sql import types as T
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        # doubles stringify via DECIMAL(18,2): Java's Double.toString
        # and DuckDB's shortest-repr disagree on edge renderings, and
        # the profile's min/max must be engine-stable text
        strc = (F.col(c).cast("decimal(18,2)").cast("string")
                if isinstance(orders.schema[c].dataType, T.DoubleType)
                else F.col(c).cast("string"))
        aggs += [
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"{c}__nulls"),
            F.count_distinct(F.col(c)).alias(f"{c}__distinct"),
            F.min(strc).alias(f"{c}__min"),
            F.max(strc).alias(f"{c}__max"),
        ]
    one = orders.agg(*aggs)
    rows = [
        F.struct(F.lit(c).alias("column_name"),
                 F.col("__n").alias("n_rows"),
                 F.col(f"{c}__nulls").alias("n_nulls"),
                 F.col(f"{c}__distinct").alias("n_distinct"),
                 F.col(f"{c}__min").alias("min_str"),
                 F.col(f"{c}__max").alias("max_str"))
        for c in cols
    ]
    return (one.select(F.explode(F.array(*rows)).alias("p"))
            .select("p.*"))


def window_time_range_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE frame: per-user rolling 1-hour mean/count over
    event time — the frame is bounded by an INTERVAL of the ORDER BY
    timestamp, not a row count, so irregular event spacing is handled
    exactly (complements window_range_frame's numeric RANGE and the
    tumbling/sliding bucketed windows: this one is per-ROW trailing).
    One shuffle on user_id; frames evaluated within partitions."""
    register_views(spark, sf_dir, ("events",))
    return spark.sql("""
        SELECT event_id, user_id,
               round(avg(value) OVER w, 6) AS rolling_avg_1h,
               count(value) OVER w AS n_in_1h
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
                               AND CURRENT ROW)
    """)


def window_linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted linear interpolation of missing readings — the
    step beyond LOCF (window_gapfill_locf): a gap is filled from BOTH
    neighbors, weighted by where the row's event time sits between
    them; leading/trailing gaps degrade to nearest-neighbor fill.

    The carried (time, value) pairs are two parallel IGNORE NULLS
    window columns (null together, so always consistent) — no struct
    support needed from the frame.  Same single user_id shuffle as the
    LOCF entry; the arithmetic is pure expression."""
    (events,) = _t(spark, sf_dir, "events")
    reading = F.when(F.col("event_type") != "error", F.col("value"))
    r_ts = F.when(F.col("event_type") != "error", F.unix_micros("ts"))
    order = [F.col("ts"), F.col("event_id")]
    w_back = (Window.partitionBy("user_id").orderBy(*order)
              .rowsBetween(Window.unboundedPreceding, -1))
    w_fwd = (Window.partitionBy("user_id").orderBy(*order)
             .rowsBetween(1, Window.unboundedFollowing))
    pv = F.last(reading, ignorenulls=True).over(w_back)
    pt = F.last(r_ts, ignorenulls=True).over(w_back)
    nv = F.first(reading, ignorenulls=True).over(w_fwd)
    nt = F.first(r_ts, ignorenulls=True).over(w_fwd)
    t = F.unix_micros("ts")
    frac = ((t - pt).cast("double") / (nt - pt).cast("double"))
    interp = pv + (nv - pv) * frac
    filled = (F.when(reading.isNotNull(), reading)
              .when(pv.isNotNull() & nv.isNotNull() & (nt != pt),
                    F.round(interp, 6))
              .when(pv.isNotNull(), pv)
              .otherwise(nv))
    return events.select("event_id", "user_id",
                         reading.alias("reading"),
                         filled.alias("filled"))


def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODE aggregate with the deterministic tie-break (Spark 4
    ``mode(col, deterministic=True)`` returns the LOWEST value among
    the most frequent).  One hash-agg shuffle; the oracle spells the
    same semantics as count + row_number since DuckDB's mode() tie
    behavior is unspecified."""
    (orders,) = _t(spark, sf_dir, "orders")
    return (orders.groupBy("o_orderstatus")
            .agg(F.mode("o_orderpriority", deterministic=True)
                 .alias("mode_priority"),
                 F.count(F.lit(1)).alias("n")))


def agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete percentiles (actual data elements, no interpolation) —
    complements the exact-interpolated agg_median_percentile entry.
    percentile_disc picks the smallest element whose cumulative share
    >= q in both engines."""
    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql("""
        SELECT l_returnflag,
               percentile_disc(0.25) WITHIN GROUP (ORDER BY l_extendedprice)
                   AS p25,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)
                   AS p50,
               percentile_disc(0.9) WITHIN GROUP (ORDER BY l_extendedprice)
                   AS p90
        FROM lineitem GROUP BY l_returnflag
    """)


def scalar_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT surface (Spark 4): parse_json into the
    binary VARIANT encoding once, then typed path extraction — the
    shredded-JSON scan pattern (parse in the scan project, extract
    many fields without re-parsing).  Missing paths yield NULL via
    try-mode variant_get."""
    (events,) = _t(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.try_variant_get(v, "$.k", "int")
    return events.select(
        "event_id",
        k.alias("k_val"),
        (k * k).alias("k_sq"),
        F.try_variant_get(v, "$.missing", "int").alias("absent"),
    )


def join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with LIMIT (top-2 orders per
    MACHINERY customer).  Catalyst decorrelates the per-row subquery
    into a WindowGroupLimit + one join — verified in
    tests/test_plan_quality.py — so the 'subquery per outer row'
    spelling costs one shuffle at 100 TB, not a nested loop."""
    register_views(spark, sf_dir, ("customer", "orders"))
    return spark.sql("""
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer c, LATERAL (
            SELECT o_orderkey, o_totalprice FROM orders
            WHERE o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 2) t
        WHERE c.c_mktsegment = 'MACHINERY'
    """)


def window_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) over a window — Spark rejects DISTINCT
    inside window aggregates, so the engine spells it as the standard
    two-window composition: flag each (user, event_type)'s FIRST
    occurrence with row_number, then running-sum the flags.  The
    oracle is DuckDB's NATIVE windowed count(DISTINCT ...), so the
    rewrite's equivalence is checked against an independent
    implementation, not against itself.  Cost: two exchanges — the
    first-occurrence window keys on (user_id, event_type), the running
    sum re-keys on user_id alone (a prefix, but hash partitioning is
    not prefix-compatible, so Catalyst cannot reuse the first
    exchange)."""
    (events,) = _t(spark, sf_dir, "events")
    w_first = Window.partitionBy("user_id", "event_type") \
        .orderBy("ts", "event_id")
    w_run = (Window.partitionBy("user_id").orderBy("ts", "event_id")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    flag = (F.row_number().over(w_first) == 1).cast("long")
    return (events.select("event_id", "user_id", flag.alias("__f"), "ts")
            .select("event_id", "user_id",
                    F.sum("__f").over(w_run).alias("n_distinct_types")))


def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (signup → view → purchase): each stage's
    timestamp must STRICTLY follow the previous stage's.  Stage
    timestamps are conditional MINs computed per user in successive
    aggregations — each stage is one keyed agg + one keyed join, all
    on user_id, so AQE coalesces them onto one partitioning at scale.
    Output is the one-row conversion summary; see `events_funnel` for
    the per-step funnel TABLE sibling (different step chain,
    at-or-after semantics, single-shuffle window plan)."""
    (events,) = _t(spark, sf_dir, "events")
    ev = events.select("user_id", "event_type", "ts")
    s1 = (ev.where(F.col("event_type") == "signup")
          .groupBy("user_id").agg(F.min("ts").alias("t1")))
    s2 = (ev.where(F.col("event_type") == "view")
          .join(s1, "user_id")
          .where(F.col("ts") > F.col("t1"))
          .groupBy("user_id").agg(F.min("ts").alias("t2")))
    s3 = (ev.where(F.col("event_type") == "purchase")
          .join(s2, "user_id")
          .where(F.col("ts") > F.col("t2"))
          .groupBy("user_id").agg(F.min("ts").alias("t3")))
    # one lineage, no driver-side counts: three 1-row aggregates
    # cross-joined (each side is a scalar — broadcast by construction)
    return (s1.agg(F.count(F.lit(1)).alias("n_signup"))
            .crossJoin(s2.agg(F.count(F.lit(1)).alias("n_view_after")))
            .crossJoin(s3.agg(F.count(F.lit(1)).alias("n_purchase_after"))))


def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by the ISO week of their
    first event; for each (cohort_week, week_offset) the count of
    cohort members active that week — the standard product-analytics
    rollup (the matrix complement of the `events_funnel` family).

    Plan UPGRADED in r10: the original shape was distinct → first-week
    agg → join → count-distinct (four census-scale shuffles).  Now the
    event log collapses to per-user state in ONE
    hashpartitioning(user_id) shuffle — min week + collect_set of
    active weeks, both map-side-combined, the set bounded by the
    TIMELINE length (weeks), not event volume — and exploding that set
    makes each (user, week) appear exactly once, so the per-cell count
    is a plain COUNT over metadata-scale keys: no join, no
    count-distinct expand, identical output (oracle unchanged)."""
    (events,) = _t(spark, sf_dir, "events")
    # to_date: Spark's date_trunc returns TIMESTAMP, DuckDB's returns
    # DATE for the same call — normalize to DATE
    ev = events.select("user_id",
                       F.to_date(F.date_trunc("week", F.col("ts")))
                       .alias("wk"))
    per_user = (ev.groupBy("user_id")
                .agg(F.min("wk").alias("cohort_week"),
                     F.collect_set("wk").alias("wks")))
    return (per_user.select("cohort_week", F.explode("wks").alias("wk"))
            .select("cohort_week",
                    (F.datediff(F.col("wk"), F.col("cohort_week")) / 7)
                    .cast("long").alias("week_offset"))
            .groupBy("cohort_week", "week_offset")
            .agg(F.count(F.lit(1)).alias("n_users")))


def udaf_grouped_pandas_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDAF (§2.11, the UDAF leg of the UDF/UDAF/
    UDTF surface): per-group geometric mean — an aggregate Spark has
    no builtin for — as an Arrow-batched vectorized reduction.  The
    oracle is the exp(avg(ln x)) identity in plain SQL; both sides
    round to 6 decimals so numpy's pairwise summation vs DuckDB's
    sequential accumulation cannot flip the hash.

    Scale: GROUPED_AGG ships each group's column (one Arrow batch) to
    Python — right for low-cardinality groups over wide scans; a
    high-cardinality version should use the logsum decomposition in
    pure SQL instead (exactly what the oracle shows)."""
    import pandas as pd

    def _geomean(v):
        import numpy as np
        return float(np.exp(np.log(v).mean()))

    # explicit annotations (not decorator type hints): this module uses
    # `from __future__ import annotations`, which stringizes hints so
    # pandas_udf cannot infer the GROUPED_AGG kind from them
    _geomean.__annotations__ = {"v": pd.Series, "return": float}
    geomean = F.pandas_udf(_geomean, "double")

    def _n(v):
        return len(v)

    # Spark rejects mixing a GROUPED_AGG pandas UDF with built-in
    # aggregates in one agg(), so the count is a second pandas UDAF
    _n.__annotations__ = {"v": pd.Series, "return": int}
    n_rows = F.pandas_udf(_n, "long")

    (lineitem,) = _t(spark, sf_dir, "lineitem")
    return (lineitem.groupBy("l_returnflag")
            .agg(F.round(geomean("l_extendedprice"), 6).alias("geo_price"),
                 n_rows("l_extendedprice").alias("n")))


def grouped_map_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map ``applyInPandas`` (§2.11): per-event-type z-score
    normalization, the classic whole-group pandas transform (each
    group arrives as ONE pandas DataFrame).  Rounding happens
    Spark-side AFTER the UDF — pandas `.round` is half-even while
    F.round is HALF_UP, and the oracle must see HALF_UP.

    Scale: one shuffle on the group key; a group must fit in one
    executor's memory — fine for bounded key domains (5 event types),
    wrong for high-cardinality keys, where the same z-score is two
    window aggregates (the oracle's spelling, no Python at all)."""
    import pandas as pd

    def norm(pdf: pd.DataFrame) -> pd.DataFrame:
        mu, sd = pdf["value"].mean(), pdf["value"].std(ddof=1)
        pdf["z"] = (pdf["value"] - mu) / sd
        return pdf[["event_id", "event_type", "z"]]

    (events,) = _t(spark, sf_dir, "events")
    out = (events.select("event_id", "event_type", "value")
           .groupBy("event_type")
           .applyInPandas(norm, "event_id long, event_type string, z double"))
    return out.select("event_id", "event_type",
                      F.round("z", 4).alias("z"))


def scalar_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-type scalar surface (§2.9): build → transform_values →
    map_filter → explode back to rows (rows are how the oracle can
    check a map without engine-specific map literals).  All four
    higher-order map functions run JVM-side."""
    (customer,) = _t(spark, sf_dir, "customer")
    m = F.create_map(
        F.lit("acct"), F.col("c_acctbal"),
        F.lit("half"), F.col("c_acctbal") / 2)
    doubled = F.transform_values(m, lambda k, v: v * 2)
    kept = F.map_filter(doubled, lambda k, v: v > 5000.0)
    return (customer.select("c_custkey", F.explode(kept).alias("key", "val")))


def agg_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance (operators/incremental.py): the
    history partition and the delta partition are collapsed into
    mergeable states INDEPENDENTLY, then folded — proving
    state(old) ⨁ state(delta) == aggregate(full scan), which is the
    whole contract of O(delta)-cost daily rollups.  The oracle is the
    full-scan GROUP BY.  AVG is derived from merged sums/counts, never
    averaged-of-averages."""
    from ..operators.incremental import aggregate_state, merge_states
    (orders,) = _t(spark, sf_dir, "orders")
    cut = F.lit("1995-01-01").cast("date")
    hist = aggregate_state(orders.where(F.col("o_orderdate") < cut),
                           ["o_orderpriority"], ["o_totalprice"])
    delta = aggregate_state(orders.where(F.col("o_orderdate") >= cut),
                            ["o_orderpriority"], ["o_totalprice"])
    merged = merge_states(hist, delta, keys=["o_orderpriority"])
    return merged.select(
        "o_orderpriority",
        F.col("n_rows").alias("n_orders"),
        F.round("o_totalprice_sum", 2).alias("total_price"),
        F.round(F.col("o_totalprice_sum") / F.col("o_totalprice_cnt"), 4)
        .alias("avg_price"))


def layout_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering keys (sources/layout.py): scale (user_id,
    epoch-day) onto the 2^16 grid, interleave to the Morton code, and
    derive the range-split file bucket — the exact values
    ``write_zordered`` clusters by, surfaced as a query so the mapping
    is oracle-checked bit-for-bit.  The physical win (2-D parquet
    min/max pruning) is asserted separately in
    tests/test_layout.py."""
    from ..sources.layout import zorder_scale, zorder_value
    (events,) = _t(spark, sf_dir, "events")
    ev = events.select(
        "event_id", "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .alias("day"))
    b = ev.agg(F.min("user_id"), F.max("user_id"),
               F.min("day"), F.max("day")).first()
    z = zorder_value(zorder_scale(F.col("user_id"), b[0], b[1]),
                     zorder_scale(F.col("day"), b[2], b[3]))
    return ev.select(
        "event_id",
        z.alias("zval"),
        F.shiftright(z, 29).alias("file_bucket"))  # 8 range buckets


def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join (operators/bloom.py): selective customer
    subset → kilobyte bitmap → expression-only prefilter on orders →
    exact merge semi-join over the survivors, then the usual rollup.
    Bit-equal to the plain EXISTS semi-join (no false negatives), so
    fully oracle-checked.  At 100 TB the prefilter runs inside the
    fact scan's codegen stage and drops non-matching rows BEFORE the
    fact-side Exchange — see the module docstring for sizing."""
    from ..operators.bloom import bloom_semi_join
    orders, customer = _t(spark, sf_dir, "orders", "customer")
    dim = (customer.where((F.col("c_mktsegment") == "BUILDING")
                          & (F.col("c_acctbal") > 7000.0)))
    matched = bloom_semi_join(orders, dim.select("c_custkey"),
                              "o_custkey", "c_custkey")
    return (matched.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("total_price")))


def agg_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Apache Datasketches HLL,
    Spark 3.5+): per-group sketches built in one pass, then re-merged
    with hll_union_agg for the grand total WITHOUT rescanning the
    fact — the pre-aggregated-cube pattern that matters at 100 TB
    (store 12-KB sketches per segment; union at query time).
    Rows-only: estimates are engine-specific; the error bound vs exact
    COUNT(DISTINCT) is asserted in tests/test_operators.py."""
    register_views(spark, sf_dir, ("events",))
    return spark.sql("""
        WITH s AS (
            SELECT event_type, hll_sketch_agg(user_id) AS sk
            FROM events GROUP BY event_type
        )
        SELECT event_type, hll_sketch_estimate(sk) AS approx_users FROM s
        UNION ALL
        SELECT 'ALL' AS event_type, hll_sketch_estimate(hll_union_agg(sk))
        FROM s
    """)


def agg_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY ALL`` / ``ORDER BY ALL`` SQL surface (Spark 3.4+ ≡
    DuckDB): every non-aggregate select item becomes a grouping key
    without restating the list — the ergonomic form analysts actually
    write.  Catalyst resolves it to the identical hash aggregate as the
    explicit GROUP BY (same partial/final split, same exchange), so
    the surface costs nothing; the oracle runs the same text."""
    register_views(spark, sf_dir, ("orders",))
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders
        GROUP BY ALL
        ORDER BY ALL
    """)


def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-format lake surface (§2.1): write a lineitem projection as
    ORC, read it back with a predicate — proving the engine's
    source/sink layer is format-pluggable (parquet is the canonical
    lake format here; ORC is the other columnar format Spark ships
    native, vectorized readers for).  The read-back filter reaches the
    ORC scan as a pushed predicate (asserted in
    tests/test_plan_quality.py) and the projection prunes to the four
    written columns — the same pushdown contract the parquet scans are
    plan-gated on.  The sink is overwrite-idempotent (O7) keyed by the
    scale-factor directory, mirroring the reference's overwrite-reset
    posture (codes/weather_etl_pipeline.py TRUNCATE step,
    README.md DDL)."""
    import os
    import tempfile
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    out = os.path.join(
        tempfile.gettempdir(), "spark_graft_orc",
        os.path.basename(os.path.normpath(sf_dir)), "lineitem")
    (lineitem.select("l_orderkey", "l_linenumber", "l_quantity",
                     "l_shipdate")
     .write.mode("overwrite").orc(out))
    back = spark.read.orc(out)
    return back.where(F.col("l_quantity") < 10)


def agg_max_by_min_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``max_by``/``min_by`` (SQL:2023 arg-max aggregates, Spark 3.3+
    ≡ DuckDB arg_max/arg_min): per priority, the total price of the
    newest/oldest order by the UNIQUE o_orderkey — unique ordering key
    pinned so the arg-aggregates are deterministic cross-engine (both
    engines leave ties unspecified)."""
    (orders,) = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.max_by("o_totalprice", "o_orderkey").alias("newest_price"),
        F.min_by("o_totalprice", "o_orderkey").alias("oldest_price"),
        F.max("o_orderkey").alias("newest_key"),
        F.min("o_orderkey").alias("oldest_key"))


def scalar_url_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing surface (``parse_url`` — host / path / single query
    parameter): the canonical-URL step of web-corpus dedup pipelines.
    Spark's parse_url is a JVM-native expression (java.net.URI-based,
    whole-stage codegen); the oracle mirrors the three extractions
    with regexes over the identically-constructed URL, which pins the
    semantics rather than the implementation."""
    (documents,) = _t(spark, sf_dir, "documents")
    url = F.concat(F.lit("https://"), F.col("source"),
                   F.lit(".example.com/docs/"), F.col("doc_id"),
                   F.lit("?lang="), F.col("lang"), F.lit("&ref=corpus"))
    return documents.select(
        "doc_id", url.alias("url"),
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("lang_param"))


def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-direction as-of join (pandas merge_asof
    direction='nearest'): each event matches the same-customer order
    closest in time in EITHER direction, ties to the past — composed
    from one backward and one forward pass of the shared union+window
    ``operators.joins.asof_join`` (both passes keep the
    no-single-partition two-shuffle shape), then an arithmetic pick on
    epoch-microsecond deltas.  Oracle: two native DuckDB ASOF JOINs +
    the same CASE."""
    events, orders = _t(spark, sf_dir, "events", "orders")
    right = (orders.groupBy("o_custkey", "o_orderdate")
             .agg(F.max("o_orderkey").alias("ok"))
             .withColumnRenamed("o_custkey", "user_id"))
    left = events.select("event_id", "user_id", "ts")
    rb = right.select("user_id", "o_orderdate",
                      F.col("ok").alias("bwd_key"),
                      F.col("o_orderdate").alias("bwd_date"))
    b = asof_join(left, rb, on="user_id", left_time="ts",
                  right_time="o_orderdate",
                  payload_cols=["bwd_key", "bwd_date"],
                  direction="backward")
    rf = right.select("user_id", "o_orderdate",
                      F.col("ok").alias("fwd_key"),
                      F.col("o_orderdate").alias("fwd_date"))
    bf = asof_join(b, rf, on="user_id", left_time="ts",
                   right_time="o_orderdate",
                   payload_cols=["fwd_key", "fwd_date"],
                   direction="forward")
    db = (F.unix_micros(F.col("ts"))
          - F.unix_micros(F.col("bwd_date").cast("timestamp")))
    df_ = (F.unix_micros(F.col("fwd_date").cast("timestamp"))
           - F.unix_micros(F.col("ts")))
    nearest = (F.when(F.col("fwd_key").isNull(), F.col("bwd_key"))
               .when(F.col("bwd_key").isNull(), F.col("fwd_key"))
               .when(db <= df_, F.col("bwd_key"))
               .otherwise(F.col("fwd_key")))
    side = (F.when(F.col("fwd_key").isNull(), F.lit("backward"))
            .when(F.col("bwd_key").isNull(), F.lit("forward"))
            .when(db <= df_, F.lit("backward"))
            .otherwise(F.lit("forward")))
    return (bf.where(F.coalesce("bwd_key", "fwd_key").isNotNull())
            .select("event_id", "user_id", "ts",
                    nearest.alias("nearest_key"), side.alias("side")))


def scalar_collation_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation surface (Spark 4 ``COLLATE UTF8_LCASE``):
    case-insensitive GROUP BY merges spelling variants ('EN' ≡ 'en')
    at the COLLATION level — no lower() rewrite in the plan; the raw
    spellings stay observable via the count-distinct on the binary
    collation.  The oracle states the semantic result with lower(),
    pinning behavior, not implementation."""
    register_views(spark, sf_dir, ("documents",))
    return spark.sql("""
        WITH m AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 2 = 0 THEN upper(lang)
                        ELSE lang END AS lang_mixed
            FROM documents
        )
        SELECT lower(lang_mixed COLLATE UTF8_LCASE) AS lang_ci,
               count(*) AS n_docs,
               count(DISTINCT lang_mixed COLLATE UTF8_BINARY)
                   AS n_raw_spellings
        FROM m
        GROUP BY lang_mixed COLLATE UTF8_LCASE
    """)


def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4.0 ``|>`` operators — the linear
    FROM-first query form): scan |> filter |> aggregate-with-grouping
    |> post-aggregation filter.  Each pipe stage resolves to exactly
    the relational operator the verbose form plans (the final WHERE
    over an aggregate becomes HAVING), so the surface adds zero plan
    cost; the oracle states the classical GROUP BY + HAVING
    equivalent."""
    register_views(spark, sf_dir, ("orders",))
    return spark.sql("""
        FROM orders
        |> WHERE o_totalprice > 1000
        |> AGGREGATE count(*) AS n_orders,
                     round(sum(o_totalprice), 2) AS total_price
           GROUP BY o_orderstatus, o_orderpriority
        |> WHERE n_orders > 5
    """)


def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL:2023 ``LISTAGG (DISTINCT …) WITHIN GROUP (ORDER BY …)``
    (Spark 4.0): the standard ordered string aggregation — distinct
    priorities per order status, comma-joined in collation order.
    DuckDB's string_agg with DISTINCT + ORDER BY is the same standard
    semantics, so the oracle is direct."""
    register_views(spark, sf_dir, ("orders",))
    return spark.sql("""
        SELECT o_orderstatus,
               listagg(DISTINCT o_orderpriority, ',')
                   WITHIN GROUP (ORDER BY o_orderpriority) AS priorities
        FROM orders GROUP BY o_orderstatus
    """)


def scalar_try_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe ``try_*`` arithmetic (ANSI-mode Spark's NULL-instead-
    of-raise family): decimal division that NULLs on zero divisors,
    bigint add/multiply that NULL on overflow, try_element_at beyond
    array bounds — the ingest-hardening surface for dirty numeric
    feeds.  The oracle states each NULL condition explicitly (DuckDB
    raises on decimal div-by-zero and bigint overflow, so the CASE
    guards ARE the semantics being pinned)."""
    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql("""
        SELECT l_orderkey, l_linenumber,
               round(CAST(try_divide(CAST(l_extendedprice AS DECIMAL(18,2)),
                                     CAST(l_discount AS DECIMAL(18,2)))
                          AS DOUBLE), 4) AS safe_ratio,
               try_add(9223372036854775805, CAST(l_linenumber AS BIGINT))
                   AS near_max_add,
               try_multiply(l_orderkey, 4611686018427387904)
                   AS shifted_key,
               try_element_at(array('first', 'second'), l_linenumber)
                   AS pos_label
        FROM lineitem
    """)


def events_value_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of the SAME event_type per user
    in time order (the classic state-change segmentation — uptime
    runs, status stretches).  lag → change-flag → running change count
    (the island id) → one aggregate per island.  Two window passes and
    one aggregate, all partitioned by user — no global funnel; hot
    users are single-key partitions AQE handles."""
    (events,) = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = (F.lag("event_type").over(w).isNull()
           | (F.col("event_type") != F.lag("event_type").over(w))) \
        .cast("long")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    islands = (events
               .select("user_id", "event_id", "ts", "event_type")
               .withColumn("island", F.sum(chg).over(wrun)))
    return (islands.groupBy("user_id", "island", "event_type")
            .agg(F.min("ts").alias("island_start"),
                 F.max("ts").alias("island_end"),
                 F.count(F.lit(1)).alias("n_events"))
            .select("user_id", "island", "event_type",
                    "island_start", "island_end", "n_events"))


def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (Spark 3.4+ named parameter markers — the
    injection-safe templating surface): ``:min_price`` / ``:prio``
    bind server-side; the oracle states the same query with the
    literals inlined, pinning that binding is pure substitution."""
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_orderstatus, count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders
        WHERE o_totalprice > :min_price AND o_orderpriority = :prio
        GROUP BY o_orderstatus
        """,
        args={"min_price": 5000, "prio": "1-URGENT"})


def window_percent_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each order's share of its customer's spend
    (partitioned window) AND of the corpus total (broadcast scalar —
    NOT a partitionless window, which would funnel everything through
    one task; the keyless aggregate's partial/final split is the
    scale-safe spelling).  DECIMAL-summed denominators so both engines
    build identical doubles."""
    (orders,) = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    cust_total = F.sum(F.col("o_totalprice").cast("decimal(28,10)")) \
        .over(w).cast("double")
    grand = orders.agg(
        F.sum(F.col("o_totalprice").cast("decimal(28,10)"))
         .cast("double").alias("grand_total"))
    return (orders
            .withColumn("cust_share",
                        F.round(F.col("o_totalprice") / cust_total, 6))
            .crossJoin(F.broadcast(grand))
            .select("o_orderkey", "o_custkey", "o_totalprice",
                    "cust_share",
                    F.round(F.col("o_totalprice")
                            / F.col("grand_total"), 9)
                     .alias("grand_share")))


def scalar_aes_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level encryption surface (``aes_encrypt``/``aes_decrypt``,
    GCM): every document body encrypts and decrypts back byte-exact,
    and the GCM framing overhead (12-byte IV + 16-byte tag) is visible
    in the ciphertext length — the at-rest PII-column pattern.  The IV
    is random per call, so the CIPHERTEXT is not a cross-engine oracle
    target; the round-trip identity and exact framing arithmetic ARE,
    which is what the oracle states."""
    register_views(spark, sf_dir, ("documents",))
    return spark.sql("""
        WITH enc AS (
            SELECT doc_id, text,
                   aes_encrypt(text, '0123456789abcdef0123456789abcdef',
                               'GCM') AS cipher
            FROM documents
        )
        SELECT doc_id,
               CAST(aes_decrypt(cipher,
                                '0123456789abcdef0123456789abcdef',
                                'GCM') AS STRING) = text AS roundtrip_ok,
               octet_length(cipher) - octet_length(encode(text, 'UTF-8'))
                   AS framing_overhead
        FROM enc
    """)


def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT rolling median over the last 5 same-user events (the
    robust-smoothing window a monitoring pipeline runs where a rolling
    MEAN would chase outliers).  Spark has no exact median window
    function, so the frame's values ride a bounded collect_list →
    array_sort → middle/average-of-middles expression — constant
    per-row cost (frame ≤ 5), one keyed window shuffle, no UDF.
    DuckDB's native windowed ``median`` (average-of-middles on even
    counts, same convention) is the oracle."""
    (events,) = _t(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-4, 0))
    vals = F.array_sort(F.collect_list(F.col("value")).over(w))
    n = F.size(vals)
    mid = F.element_at(vals, ((n + 1) / 2).cast("int"))
    mid2 = (F.element_at(vals, (n / 2).cast("int"))
            + F.element_at(vals, (n / 2 + 1).cast("int"))) / 2
    med = F.when(n % 2 == 1, mid).otherwise(mid2)
    return events.select(
        "event_id", "user_id", "ts", "value",
        F.round(med, 4).alias("rolling_median"))


def scalar_mask_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-masking surface (``mask()``, Spark 3.4+): the
    show-the-shape-hide-the-value redaction for PII columns (the
    complement of ``text_redact_pii``'s pattern deletion) — uppercase →
    X, lowercase → x, digits → n, plus a custom-char variant.  The
    oracle reproduces the class mapping with three regexp passes,
    pinning semantics rather than implementation."""
    (customer,) = _t(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey",
        F.mask(F.col("c_name")).alias("masked_default"),
        F.mask(F.col("c_mktsegment"), F.lit("#"), F.lit("#"), F.lit("*"))
         .alias("masked_segment"))


def sql_identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``IDENTIFIER(:param)`` (Spark 3.4+): SQL-injection-safe DYNAMIC
    table/column references — the templating companion of
    ``sql_parameterized`` for the identifier position, which plain
    parameter markers cannot occupy.  Resolves at analysis time to the
    same scan as the literal name (the oracle states the literal
    form)."""
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n_orders,
               round(max(IDENTIFIER(:col)), 2) AS max_price
        FROM IDENTIFIER(:tab)
        GROUP BY o_orderpriority
        """,
        args={"tab": "orders", "col": "o_totalprice"})


def table_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectation suite (the Deequ/Great-
    Expectations contract shape, distinct from ``table_profile``'s
    unopinionated metrics): each check is (name, measured metric,
    pass/fail), evaluated over the orders table plus one referential-
    integrity check against customer.

    Checks: minimum row count, o_custkey completeness, o_orderkey
    uniqueness, o_totalprice positivity, o_orderstatus domain
    membership, and orphaned-FK count (orders.o_custkey not in
    customer).  All single-table metrics come from ONE aggregate over
    ONE scan (the uniqueness check is the only exact count-distinct —
    swap for approx_count_distinct at 100 TB, same assertion shape);
    the FK check is a key-projected left-anti join whose keyless count
    partial-aggregates map-side.  The two 1-row results cross-join
    (broadcast, trivially) and unpivot into the tall report via one
    explode of literal structs — no extra scan, no driver loop."""
    orders, customer = _t(spark, sf_dir, "orders", "customer")
    m = orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("null_cust"),
        F.count_distinct(F.col("o_orderkey")).alias("distinct_keys"),
        F.min("o_totalprice").alias("min_price"),
        F.count(F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1))
         .alias("bad_status"))
    orphans = (orders.select("o_custkey")
               .join(customer.select(F.col("c_custkey").alias("o_custkey")),
                     "o_custkey", "left_anti")
               .agg(F.count(F.lit(1)).alias("n_orphans")))
    one = m.crossJoin(F.broadcast(orphans))

    def _check(name: str, metric, passed):
        return F.struct(
            F.lit(name).alias("check_name"),
            F.round(metric.cast("double"), 2).alias("metric"),
            passed.alias("passed"))

    checks = F.array(
        _check("row_count_min_10", F.col("n_rows"), F.col("n_rows") >= 10),
        _check("custkey_complete", F.col("null_cust"),
               F.col("null_cust") == 0),
        _check("orderkey_unique", F.col("distinct_keys"),
               F.col("distinct_keys") == F.col("n_rows")),
        _check("totalprice_positive", F.col("min_price"),
               F.col("min_price") > 0),
        _check("status_in_domain", F.col("bad_status"),
               F.col("bad_status") == 0),
        _check("custkey_fk_integrity", F.col("n_orphans"),
               F.col("n_orphans") == 0))
    return (one.select(F.explode(checks).alias("c"))
            .select("c.check_name", "c.metric", "c.passed"))


def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch / last-touch conversion attribution: for every
    purchase event, which touch (view / click / signup) opened the
    user's path and which one immediately preceded the conversion —
    the standard marketing-attribution query, and a second consumer of
    IGNORE-NULLS window semantics beyond ``window_gapfill_locf``.

    One per-user ordered window with a ROWS UNBOUNDED
    PRECEDING..1 PRECEDING frame: ``first``/``last`` with
    ignorenulls=True skip the non-touch events (purchases/errors)
    without a self-join against the touch subset; purchases with no
    prior touch surface as NULL (kept — they are the 'direct'
    bucket).  No global funnel; per-user keys, AQE handles hot
    users."""
    (events,) = _t(spark, sf_dir, "events")
    touch = F.when(
        F.col("event_type").isin("view", "click", "signup"),
        F.col("event_type"))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    marked = events.select(
        "event_id", "user_id", "ts", "event_type", "value",
        touch.alias("touch"))
    out = marked.select(
        "event_id", "user_id", "ts", "value",
        F.first("touch", ignorenulls=True).over(w).alias("first_touch"),
        F.last("touch", ignorenulls=True).over(w).alias("last_touch"),
        F.count("touch").over(w).cast("long").alias("n_prior_touches"),
        F.col("event_type"))
    return (out.where(F.col("event_type") == "purchase")
            .select("event_id", "user_id", "ts", "value",
                    "first_touch", "last_touch", "n_prior_touches"))


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered multi-step funnel TABLE (view → click → purchase): a
    user advances to step k only with an event of step k's type AT OR
    AFTER their step-(k-1) timestamp — one row per step with count and
    conversion share, the Amplitude/Mixpanel funnel-report shape.
    Sibling of `events_funnel_conversion` (different deliverable and
    plan: that entry is the 1-ROW signup→view→purchase count summary
    with strictly-after semantics, built as a chain of keyed agg+join
    stages; this is the per-step table on a single event-log shuffle)
    and the forward complement of `events_attribution` (which walks
    backward from conversions).

    Step times chain as conditional mins: t1 = min ts of 'view';
    t2 = min ts of 'click' with ts ≥ t1; t3 = min ts of 'purchase'
    with ts ≥ t2 — each a whole-partition window over user_id that
    REFERENCES the previous window's column, so Catalyst stacks all
    three Window operators (plus the per-user reduce) on ONE
    hashpartitioning(user_id) exchange: at 100 TB the event log
    shuffles exactly once, and the funnel table is 3 rows.

    Output: (step, step_name, n_users, conv_pct) with conv_pct
    relative to step 1 — monotone non-increasing by construction
    (t_k non-null requires t_{k-1} non-null)."""
    (events,) = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    t1 = F.min(F.when(F.col("event_type") == "view",
                      F.col("ts"))).over(w)
    s1 = events.select("user_id", "ts", "event_type", t1.alias("t1"))
    t2 = F.min(F.when((F.col("event_type") == "click")
                      & (F.col("ts") >= F.col("t1")),
                      F.col("ts"))).over(w)
    s2 = s1.select("user_id", "ts", "event_type", "t1", t2.alias("t2"))
    t3 = F.min(F.when((F.col("event_type") == "purchase")
                      & (F.col("ts") >= F.col("t2")),
                      F.col("ts"))).over(w)
    per_user = (s2.select("user_id", "t1", "t2", t3.alias("t3"))
                .groupBy("user_id")
                .agg(F.min("t1").alias("t1"), F.min("t2").alias("t2"),
                     F.min("t3").alias("t3")))
    c = per_user.agg(F.count("t1").alias("n1"),
                     F.count("t2").alias("n2"),
                     F.count("t3").alias("n3"))
    steps = F.array(
        F.struct(F.lit(1).alias("step"), F.lit("view").alias("step_name"),
                 F.col("n1").alias("n")),
        F.struct(F.lit(2).alias("step"), F.lit("click").alias("step_name"),
                 F.col("n2").alias("n")),
        F.struct(F.lit(3).alias("step"),
                 F.lit("purchase").alias("step_name"),
                 F.col("n3").alias("n")))
    return (c.select(F.explode(steps).alias("s"), "n1")
            .select(F.col("s.step").alias("step"),
                    F.col("s.step_name").alias("step_name"),
                    F.col("s.n").alias("n_users"),
                    F.round(F.col("s.n") / F.col("n1"), 6)
                     .alias("conv_pct")))


def window_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nth_value + IGNORE-NULLS first/last over a full-partition
    frame: per order, the second line's price and the first/last
    non-zero discount — the window surface (SQL:2011 nth_value,
    IGNORE NULLS) not yet covered by the lag/lead/rank entries.

    This lake's l_linenumber is NOT unique within an order (synthetic
    data), so the window orders by (l_linenumber, l_extendedprice,
    l_discount): the first two are unique on today's lakes, and
    l_discount is the belt-and-suspenders tiebreak that keeps
    first/last non-zero discount engine-deterministic even if a
    regenerated lake introduces price ties (ADVICE r5 #3)."""
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    w = (Window.partitionBy("l_orderkey")
         .orderBy("l_linenumber", "l_extendedprice", "l_discount")
         .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    nz_disc = F.when(F.col("l_discount") != 0.0, F.col("l_discount"))
    return lineitem.select(
        "l_orderkey", "l_linenumber",
        F.round(F.nth_value("l_extendedprice", 2).over(w), 2)
         .alias("second_line_price"),
        F.first(nz_disc, ignorenulls=True).over(w).alias("first_nz_discount"),
        F.last(nz_disc, ignorenulls=True).over(w).alias("last_nz_discount"))


def scalar_time_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-typed columns (Spark 4.1 / SQL:2023 TIME WITHOUT TIME
    ZONE): project the time-of-day out of event timestamps with
    ``make_time``, bucket it to the hour, flag business hours, and
    measure minutes since 09:00 — the clock-arithmetic surface that
    previously required timestamp workarounds.  Whole-second
    precision on both engines (the sub-second fraction is truncated
    identically before construction)."""
    (events,) = _t(spark, sf_dir, "events")
    t = F.make_time(F.hour("ts"), F.minute("ts"), F.second("ts"))
    nine = F.make_time(F.lit(9), F.lit(0), F.lit(0))
    five = F.make_time(F.lit(17), F.lit(0), F.lit(0))
    return events.select(
        "event_id",
        t.alias("event_time"),
        F.make_time(F.hour("ts"), F.lit(0), F.lit(0)).alias("hour_bucket"),
        ((t >= nine) & (t < five)).alias("business_hours"),
        # exact second diff then floor-divide: DuckDB's date_diff
        # counts boundary crossings, Spark's time_diff complete units —
        # identical only at SECOND granularity on whole-second TIMEs
        F.floor(F.time_diff(F.lit("SECOND"), nine, t) / 60)
         .alias("mins_since_nine"))


def sql_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE IMMEDIATE (Spark 4.0, SQL/PSM dynamic SQL): run a
    query held in a session variable, with a USING parameter — the
    dynamic-SQL companion of ``sql_parameterized`` (values) and
    ``sql_identifier_clause`` (identifiers).  Resolves to the same
    plan as the literal statement, which is what the oracle states.

    The statement variable is entry-scoped (``exec_imm_stmt_<uuid>``),
    never a shared name: concurrent registry entries on one
    SparkSession can't interleave SET VAR / EXECUTE IMMEDIATE and run
    each other's statement (ADVICE r5 #4)."""
    register_views(spark, sf_dir, ("orders",))
    var = f"exec_imm_stmt_{uuid.uuid4().hex}"
    spark.sql(f"DECLARE OR REPLACE VARIABLE {var} STRING")
    spark.sql(f"""
        SET VAR {var} =
        'SELECT o_orderstatus, count(*) AS n_orders,
                round(avg(o_totalprice), 2) AS avg_price
         FROM orders WHERE o_totalprice > ? GROUP BY o_orderstatus'
    """)
    out = spark.sql(f"EXECUTE IMMEDIATE {var} USING 1000.0")
    spark.sql(f"DROP TEMPORARY VARIABLE IF EXISTS {var}")
    return out


def join_asof_tolerance(spark: SparkSession, sf_dir: str,
                        tolerance_days: int = 30) -> DataFrame:
    """As-of join WITH TOLERANCE (pandas ``merge_asof(tolerance=...)``
    semantics): every event keeps its row, carries the customer's
    latest order at event time, but the match is NULLed when it is
    staler than ``tolerance_days`` — the freshness-bounded variant
    that point-in-time feature stores require (a 2-year-old "latest
    order" must not leak into a training feature).

    Same union+window carry as ``operators.joins.asof_join`` (no UDF,
    no range explosion); tolerance is a pure post-filter on the
    carried match time, so the plan is identical to the unbounded
    as-of plus one map-side conditional."""
    events, orders = _t(spark, sf_dir, "events", "orders")
    right = (orders.groupBy("o_custkey", "o_orderdate")
             .agg(F.max("o_orderkey").alias("last_orderkey"))
             .withColumnRenamed("o_custkey", "user_id")
             .withColumn("matched_date", F.col("o_orderdate")))
    out = asof_join(
        events.select("event_id", "user_id", "ts"),
        right, on="user_id", left_time="ts", right_time="o_orderdate",
        payload_cols=["last_orderkey", "matched_date"],
    )
    fresh = (F.datediff(F.to_date("ts"), F.col("matched_date"))
             <= tolerance_days)
    return out.select(
        "event_id", "user_id", "ts",
        F.when(fresh, F.col("last_orderkey")).alias("last_orderkey"),
        F.when(fresh, F.col("matched_date")).alias("matched_date"))


def window_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average over each event type's
    value stream (bounded 10-row window, alpha = 0.5) — the standard
    time-series smoother next to the plain rolling mean
    (``window_time_range_rolling``).

    alpha is deliberately 1/2: the weights (1/2)^j are EXACT binary
    doubles and scaling by a power of two only shifts the exponent, so
    both engines produce bit-identical terms; the only remaining
    hazard — cross-partition addition order — is closed by the usual
    DECIMAL(28,12) term cast before summation.  The normalizer
    sum_{{j<n}} (1/2)^j = 2 - 2^(1-n) is closed-form.

    Plan: one per-type window (4 partitions, AQE handles the skew),
    collect_list over a ROWS 9-PRECEDING frame (bounded: <= 10
    elements per row), then pure array arithmetic — no UDF, no
    second shuffle."""
    (events,) = _t(spark, sf_dir, "events")
    w = (Window.partitionBy("event_type").orderBy("ts", "event_id")
         .rowsBetween(-9, Window.currentRow))
    arr = F.collect_list(F.col("value")).over(w)
    n = F.size("arr")
    # element i (1-based, oldest first) gets weight (1/2)^(n-i)
    terms = F.zip_with(
        F.col("arr"),
        F.sequence(F.lit(1), n),
        lambda x, i: (x * F.pow(F.lit(0.5), (n - i).cast("double")))
        .cast("decimal(28,12)"))
    denom = F.lit(2.0) - F.pow(F.lit(2.0), (F.lit(1) - n).cast("double"))
    # the merge lambda must return the accumulator type exactly —
    # decimal addition widens (28,12)+(28,12) -> (29,12), so cast back
    # (scale unchanged: no value change, ample precision headroom)
    ewma = (F.aggregate(terms, F.lit(0).cast("decimal(28,12)"),
                        lambda acc, t: (acc + t).cast("decimal(28,12)"))
            .cast("double") / denom)
    return (events.select("event_id", "event_type", "ts", "value")
            .withColumn("arr", arr)
            .select("event_id", "event_type", "ts", "value",
                    F.round(ewma, 4).alias("ewma_10")))
