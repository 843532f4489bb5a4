"""Relational query surface (SURVEY.md §2b: joins, aggregations, windows,
sort/limit/top-k, set ops, scalar functions, subqueries).

Design notes (scale-first):
- Dimension tables (region/nation/customer/supplier/part) get explicit
  ``F.broadcast`` hints: at 100 TB the fact side (lineitem/orders) must never
  shuffle for a dim join. AQE would usually discover this, but the hint makes
  the plan deterministic.
- Aggregations run straight ``groupBy().agg()`` — Catalyst plans partial
  (map-side) aggregation before the shuffle, so the shuffle carries one row
  per (partition × group), not per input row.
- Filters sit as early as possible so they reach the parquet scan as
  PushedFilters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from aws_data_engineering_spark.operators import text as T
from aws_data_engineering_spark.plans.registry import register
from aws_data_engineering_spark.sources.tables import load_table
from aws_data_engineering_spark.storage import scratch_dir


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# q01 — full-table aggregation with computed measures (TPC-H Q1 shape).
# Map-side partial agg → tiny shuffle (one row per group per partition).
# --------------------------------------------------------------------------
@register(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                    AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                               AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)            AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           ROUND(SUM(l_quantity), 2) / COUNT(*)                         AS avg_qty,
           ROUND(SUM(l_extendedprice), 2) / COUNT(*)                    AS avg_price,
           ROUND(SUM(l_discount), 2) / COUNT(*)                         AS avg_disc,
           COUNT(*)                                                     AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2024-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    "groupBy aggregation: sum/avg/count with computed measures",
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2024-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            # avg derived from the 2-dec-rounded sum: both engines then round
            # a bit-identical double, so hash-match survives summation-order
            # ulp drift (raw AVG can land exactly on a .xxxx5 boundary).
            (F.round(F.sum("l_quantity"), 2) / F.count(F.lit(1))).alias("avg_qty"),
            (F.round(F.sum("l_extendedprice"), 2) / F.count(F.lit(1))).alias("avg_price"),
            (F.round(F.sum("l_discount"), 2) / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# q02 — flagship: 5-table star join → revenue by nation. The fact table joins
# only against broadcast dims, so the single shuffle is the final groupBy.
# --------------------------------------------------------------------------
@register(
    "q02_revenue_by_nation",
    """
    SELECT n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY n_name
    """,
    "star join (broadcast dims) + aggregation: revenue per nation",
)
def q02_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    # customer⨝nation⨝region is dim-side: fold it first, broadcast the result
    # so the fact table never shuffles. orders is broadcastable at test SF and
    # handled by AQE at scale (falls back to shuffle-hash join).
    cust_geo = (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "n_name")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust_geo), orders.o_custkey == cust_geo.c_custkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# q03 — join + agg + global top-k. ORDER BY ... LIMIT k compiles to
# TakeOrderedAndProject: each partition keeps k rows, driver merges — no
# full sort at any scale.
# --------------------------------------------------------------------------
@register(
    "q03_top_orders",
    """
    SELECT * FROM (
      SELECT o_orderkey, o_orderdate,
             ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'O'
      GROUP BY o_orderkey, o_orderdate
    ) ORDER BY revenue DESC, o_orderkey LIMIT 10
    """,
    "sort/limit top-k: 10 highest-revenue open orders",
)
def q03_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# q04 — window ranking: per-nation top-3 customers by account balance.
# row_number over partitionBy keeps the shuffle keyed on the partition column.
# --------------------------------------------------------------------------
@register(
    "q04_top_customers_per_nation",
    """
    SELECT n_name, c_name, c_acctbal, rnk FROM (
      SELECT n_name, c_name, c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY n_name
                                ORDER BY c_acctbal DESC, c_custkey) AS rnk
      FROM customer JOIN nation ON c_nationkey = n_nationkey
    ) WHERE rnk <= 3
    """,
    "window ranking: row_number per group, per-group top-k",
)
def q04_top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select("n_name", "c_name", "c_acctbal", "c_custkey")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("n_name", "c_name", "c_acctbal", "rnk")
    )


# --------------------------------------------------------------------------
# q05/q06 — semi/anti joins (EXISTS / NOT EXISTS). left_semi/left_anti never
# materialize the right side's columns and stop at first match.
# --------------------------------------------------------------------------
@register(
    "q05_customers_with_open_orders",
    """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
    """,
    "left-semi join (EXISTS)",
)
def q05_customers_with_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


@register(
    "q06_customers_without_orders",
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    "left-anti join (NOT EXISTS)",
)
def q06_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


# --------------------------------------------------------------------------
# q07 — selective scan aggregate (TPC-H Q6 shape). Every predicate is
# pushdown-able; the scan reads 3 columns of 11.
# --------------------------------------------------------------------------
@register(
    "q07_forecast_revenue",
    """
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS promo_revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '2024-03-01'
      AND l_shipdate <  TIMESTAMP '2024-09-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
    "predicate-pushdown scan aggregate (TPC-H Q6 shape)",
)
def q07_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("2024-03-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("2024-09-01").cast("timestamp"))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "promo_revenue"
            ),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# --------------------------------------------------------------------------
# q08 — rollup (hierarchical subtotals). Keys coalesced to 'ALL' on both
# sides so the NULL markers hash identically.
# --------------------------------------------------------------------------
@register(
    "q08_rollup_region_nation",
    """
    SELECT COALESCE(r_name, 'ALL') AS region_name,
           COALESCE(n_name, 'ALL') AS nation_name,
           COUNT(*) AS n_customers,
           ROUND(SUM(c_acctbal), 2) AS total_balance
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    "rollup aggregation with subtotals",
)
def q08_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_balance"),
        )
        .select(
            F.coalesce(F.col("r_name"), F.lit("ALL")).alias("region_name"),
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation_name"),
            "n_customers",
            "total_balance",
        )
    )


# --------------------------------------------------------------------------
# q09 — set operations: nations that have customers vs suppliers.
# --------------------------------------------------------------------------
@register(
    "q09_set_ops",
    """
    WITH cust_nations AS (SELECT DISTINCT n_name FROM customer
                          JOIN nation ON c_nationkey = n_nationkey),
         supp_nations AS (SELECT DISTINCT n_name FROM supplier
                          JOIN nation ON s_nationkey = n_nationkey)
    SELECT n_name, 'both'          AS membership FROM (SELECT n_name FROM cust_nations INTERSECT SELECT n_name FROM supp_nations)
    UNION ALL
    SELECT n_name, 'customer_only' AS membership FROM (SELECT n_name FROM cust_nations EXCEPT    SELECT n_name FROM supp_nations)
    UNION ALL
    SELECT n_name, 'supplier_only' AS membership FROM (SELECT n_name FROM supp_nations EXCEPT    SELECT n_name FROM cust_nations)
    """,
    "set ops: intersect / except / union",
)
def q09_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    cust_n = (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select("n_name")
        .distinct()
    )
    supp_n = (
        supplier.join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .select("n_name")
        .distinct()
    )
    both = cust_n.intersect(supp_n).withColumn("membership", F.lit("both"))
    c_only = cust_n.exceptAll(supp_n).withColumn("membership", F.lit("customer_only"))
    s_only = supp_n.exceptAll(cust_n).withColumn("membership", F.lit("supplier_only"))
    return both.unionByName(c_only).unionByName(s_only)


# --------------------------------------------------------------------------
# q10 — distinct aggregation. (approx_count_distinct exists as the scale path
# but can't hash-match an oracle; the exact form is verified here.)
# --------------------------------------------------------------------------
@register(
    "q10_distinct_counts",
    """
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(*)                  AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
    "count-distinct aggregation",
)
def q10_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# --------------------------------------------------------------------------
# q11 — scalar function coverage: string + date functions, all JVM-side.
# --------------------------------------------------------------------------
@register(
    "q11_scalar_functions",
    """
    SELECT o_orderkey,
           UPPER(o_orderstatus)                       AS status_uc,
           strftime(o_orderdate, '%Y-%m')             AS order_month,
           CAST(year(o_orderdate) AS INT)             AS order_year,
           SUBSTR(o_orderpriority, 1, 1)              AS priority_code,
           CONCAT(o_orderstatus, '-', o_orderpriority) AS status_priority,
           LENGTH(o_orderpriority)                    AS priority_len,
           ROUND(o_totalprice * 1.1, 3)               AS price_with_tax
    FROM orders
    WHERE o_totalprice > 1000
    """,
    "scalar functions: string/date/math, filter pushdown",
)
def q11_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.filter(F.col("o_totalprice") > 1000).select(
        "o_orderkey",
        F.upper("o_orderstatus").alias("status_uc"),
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.substring("o_orderpriority", 1, 1).alias("priority_code"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("status_priority"),
        F.length("o_orderpriority").alias("priority_len"),
        # round at the product's exact decimal width (2 dec × 1.1 → 3 dec):
        # rounding BELOW the true width can land on a .5 boundary where the
        # engines' rounding modes disagree
        F.round(F.col("o_totalprice") * 1.1, 3).alias("price_with_tax"),
    )


# --------------------------------------------------------------------------
# q12 — conditional aggregation (CASE WHEN pivot, TPC-H Q12 shape).
# --------------------------------------------------------------------------
@register(
    "q12_priority_shipping",
    """
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY l_linestatus
    """,
    "conditional aggregation (CASE WHEN)",
)
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# --------------------------------------------------------------------------
# q13 — cube (all grouping-set combinations).
# --------------------------------------------------------------------------
@register(
    "q13_cube_status_priority",
    """
    SELECT COALESCE(o_orderstatus, 'ALL')   AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    "cube aggregation (all grouping sets)",
)
def q13_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
    )


# --------------------------------------------------------------------------
# q14 — having-clause aggregate: big-ticket part/supplier combos.
# --------------------------------------------------------------------------
@register(
    "q14_parts_by_volume",
    """
    SELECT l_partkey, l_suppkey,
           ROUND(SUM(l_quantity), 2) AS total_qty,
           COUNT(*) AS n_lines
    FROM lineitem
    GROUP BY l_partkey, l_suppkey
    HAVING ROUND(SUM(l_quantity), 2) > 100
    """,
    "aggregation + HAVING filter",
)
def q14_parts_by_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        # filter on the rounded value so both engines cut at the same rows
        .filter(F.col("total_qty") > 100)
    )


# --------------------------------------------------------------------------
# q15 — scalar subquery comparison: customers above their nation's average
# balance. The per-nation average is a tiny aggregate → broadcast back.
# --------------------------------------------------------------------------
@register(
    "q15_above_avg_customers",
    """
    SELECT c_custkey, c_name, n_name, ROUND(c_acctbal, 2) AS acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer c2
                       WHERE c2.c_nationkey = customer.c_nationkey)
    """,
    "correlated scalar subquery via broadcast re-join",
)
def q15_above_avg_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    nation_avg = customer.groupBy("c_nationkey").agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        customer.join(F.broadcast(nation_avg), "c_nationkey")
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            F.round("c_acctbal", 2).alias("acctbal"),
        )
    )


# --------------------------------------------------------------------------
# q16 — as-of join: each purchase matched to the user's most recent prior
# click. Spark has no ASOF JOIN operator; the Spark-native form is a tagged
# union + running last_value over a (user, time) window — ONE shuffle keyed
# by user_id, versus the naive per-row subquery's O(N²). This is the
# standard scale-out shape for time-series point-in-time joins.
# --------------------------------------------------------------------------
@register(
    "q16_asof_join",
    """
    SELECT p.event_id,
           p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
           CAST((epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS BIGINT) AS gap_sec
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    "as-of join (point-in-time): purchase → latest prior click per user",
)
def q16_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.lit(None).cast("bigint").alias("event_id"),
        "user_id",
        "ts",
        F.lit(0).alias("kind"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.lit(1).alias("kind")
    )
    # clicks sort before a same-timestamp purchase (kind 0 < 1), matching
    # ASOF's p.ts >= c.ts inclusivity
    unioned = clicks.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_ts = F.last(
        F.when(F.col("kind") == 0, F.col("ts")), ignorenulls=True
    ).over(w)
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return (
        unioned.withColumn("click_ts_raw", click_ts)
        .filter(F.col("kind") == 1)
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", fmt).alias("purchase_ts"),
            F.date_format("click_ts_raw", fmt).alias("click_ts"),
            F.floor(
                (F.unix_micros("ts") - F.unix_micros("click_ts_raw")) / 1_000_000
            )
            .cast("bigint")
            .alias("gap_sec"),
        )
    )


# --------------------------------------------------------------------------
# q17 — exact percentiles (quartiles + median) per group. Spark's
# percentile() is a full-sort aggregate per group; at 100 TB prefer
# approx_percentile (t-digest, mergeable map-side) — kept exact here so the
# oracle can replicate bit-for-bit (see d-queries for sketch-based ops).
# --------------------------------------------------------------------------
@register(
    "q17_price_percentiles",
    """
    SELECT l_returnflag,
           COUNT(*) AS n_items,
           ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
           ROUND(quantile_cont(l_extendedprice, 0.50), 6) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.75), 6) AS p75
    FROM lineitem
    GROUP BY l_returnflag
    """,
    "exact percentile/median aggregation per group",
)
def q17_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    # round(…,6) sits far above the value granularity (cents interpolated
    # at quarter-points → 4 decimals), so binary noise can't straddle a
    # rounding boundary on either engine
    # one array-percentile aggregate, not three scalar ones: the exact
    # percentile keeps a per-group value-count map as agg state, and three
    # separate aggs build three copies of it (~2× slower at sf0.1)
    pcts = F.percentile(
        "l_extendedprice", F.array(F.lit(0.25), F.lit(0.50), F.lit(0.75))
    )
    return (
        li.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_items"), pcts.alias("ps"))
        .select(
            "l_returnflag",
            "n_items",
            F.round(F.col("ps")[0], 6).alias("p25"),
            F.round(F.col("ps")[1], 6).alias("p50"),
            F.round(F.col("ps")[2], 6).alias("p75"),
        )
    )


# --------------------------------------------------------------------------
# q18 — GROUPING SETS with grouping() disambiguation (generalizes the
# rollup/cube pair q08/q13): three explicit grouping sets in one pass —
# Spark expands to a single shuffle with a grouping-id column, not three
# separate aggregations over the fact table.
# --------------------------------------------------------------------------
@register(
    "q18_grouping_sets",
    """
    SELECT o_orderpriority, o_orderstatus,
           GROUPING(o_orderpriority) AS g_priority,
           GROUPING(o_orderstatus)  AS g_status,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderpriority), ())
    """,
    "GROUPING SETS aggregation with grouping() flags",
)
def q18_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
               CAST(GROUPING(o_orderstatus)  AS INT) AS g_status,
               COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS total_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderpriority), ())
        """
    )


# --------------------------------------------------------------------------
# q19 — range (band) join: orders bucketed into price bands. The dim is a
# handful of rows → broadcast nested-loop join, the right plan for a
# non-equi condition against a tiny build side; the fact table streams
# through map-side with zero shuffle.
# --------------------------------------------------------------------------
_PRICE_BANDS = [
    ("budget", 0.0, 50_000.0),
    ("mid", 50_000.0, 150_000.0),
    ("high", 150_000.0, 300_000.0),
    ("lux", 300_000.0, 1e18),
]


@register(
    "q19_range_join",
    """
    WITH bands(band, lo, hi) AS (
      VALUES ('budget', 0.0, 50000.0),
             ('mid', 50000.0, 150000.0),
             ('high', 150000.0, 300000.0),
             ('lux', 300000.0, 1e18)
    )
    SELECT band,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY band
    """,
    "range/band join (non-equi) via broadcast nested-loop",
)
def q19_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    bands = spark.createDataFrame(_PRICE_BANDS, "band string, lo double, hi double")
    return (
        orders.join(
            F.broadcast(bands),
            (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


# --------------------------------------------------------------------------
# q26 — approximate count-distinct (HyperLogLog++). THE sketch aggregate
# for 100 TB: mergeable map-side partial sketches mean the shuffle carries
# one ~KB sketch per group instead of every distinct value (the exact
# count-distinct q10 shuffles all distinct keys). HLL estimates differ by
# engine → rows-only driver check; the relative-error bound is asserted in
# tests/test_etl_core.py against the exact counts.
# --------------------------------------------------------------------------
@register(
    "q26_approx_distinct",
    None,
    "approx_count_distinct (HLL++ sketch, rsd=0.02) per order priority",
)
def q26_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# --------------------------------------------------------------------------
# q27 — pivot (orders count by priority × status). DataFrame pivot with an
# explicit value list: Catalyst plans ONE aggregation pass with a CASE per
# pivot value — never enumerate values at runtime on big data (that's a
# second full scan); declare them like this.
# --------------------------------------------------------------------------
@register(
    "q27_pivot_status",
    """
    SELECT o_orderpriority,
           COUNT(*) FILTER (o_orderstatus = 'F') AS status_F,
           COUNT(*) FILTER (o_orderstatus = 'O') AS status_O,
           COUNT(*) FILTER (o_orderstatus = 'P') AS status_P
    FROM orders GROUP BY o_orderpriority
    """,
    "pivot aggregation (priority × status counts, one pass)",
)
def q27_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    pivoted = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    out = pivoted
    for s in ("F", "O", "P"):
        out = out.withColumnRenamed(s, f"status_{s}")
        # pivot leaves NULL where a combination is absent; the oracle's
        # FILTER form yields 0 — align
        out = out.withColumn(f"status_{s}", F.coalesce(F.col(f"status_{s}"), F.lit(0)))
    return out


# --------------------------------------------------------------------------
# q28 — ntile + percent_rank analytic windows (quartile assignment of
# customers by balance within nation). Unique tiebreak (custkey) makes the
# tile assignment deterministic → oracle-exact.
# --------------------------------------------------------------------------
@register(
    "q28_balance_quartiles",
    """
    SELECT c_custkey, c_nationkey,
           NTILE(4) OVER w AS bal_quartile,
           ROUND(PERCENT_RANK() OVER w, 6) AS bal_pct_rank
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
    """,
    "ntile/percent_rank analytic windows per nation",
)
def q28_balance_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return customer.select(
        "c_custkey",
        "c_nationkey",
        F.ntile(4).over(w).alias("bal_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("bal_pct_rank"),
    )


# --------------------------------------------------------------------------
# q29 — time-series rollup (monthly revenue). date_trunc on the fact
# table's own timestamp: the group key is derived in the scan stage, so
# this stays one partial-agg shuffle; at 100 TB the same query prunes to
# the requested months when the table is dt-partitioned.
# --------------------------------------------------------------------------
@register(
    "q29_monthly_revenue",
    """
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue,
           COUNT(DISTINCT o_custkey) AS n_customers
    FROM orders
    GROUP BY 1
    """,
    "time-series rollup: monthly order revenue + active customers",
)
def q29_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
    )


# --------------------------------------------------------------------------
# q30 — TPC-H Q17 shape: lineitems below 20% of their part's average
# quantity. The correlated scalar subquery decorrelates into one per-part
# aggregate (tiny: one row per part) broadcast back onto the fact table —
# the fact side never shuffles. Guard: per-part avg joins on the agg's own
# key, so skew is bounded by rows-per-part.
# --------------------------------------------------------------------------
@register(
    "q30_small_quantity_revenue",
    """
    WITH part_avg AS (
      SELECT l_partkey, AVG(l_quantity) AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT COUNT(*) AS n_items,
           ROUND(SUM(l_extendedprice), 2) AS total_price,
           ROUND(SUM(l_extendedprice), 2) / 7.0 AS avg_yearly
    FROM lineitem JOIN part_avg USING (l_partkey)
    WHERE l_quantity < 0.2 * avg_qty
    """,
    "TPC-H Q17 shape: below-avg-quantity revenue via decorrelated agg + broadcast",
)
def q30_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part_avg = li.groupBy("l_partkey").agg(F.avg("l_quantity").alias("avg_qty"))
    filtered = li.join(F.broadcast(part_avg), "l_partkey").filter(
        F.col("l_quantity") < 0.2 * F.col("avg_qty")
    )
    return filtered.agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        (F.round(F.sum("l_extendedprice"), 2) / 7.0).alias("avg_yearly"),
    )


# --------------------------------------------------------------------------
# q31 — TPC-H Q20 shape: suppliers who shipped an excess volume of small
# parts. Two nested IN-subqueries decorrelate into (a) a broadcast semi-join
# against the part dim filter and (b) a per-supplier HAVING aggregate whose
# output is one row per qualifying supplier — small enough to broadcast back
# for the final semi-join, so the supplier dim never shuffles.
# Ref parity: exercises the nested-subquery shape of the reference's
# analytic queries (SURVEY.md §2b joins/subqueries row).
# --------------------------------------------------------------------------
@register(
    "q31_excess_volume_suppliers",
    """
    SELECT s_suppkey, s_name, n_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size <= 15)
        AND l_shipdate >= TIMESTAMP '1997-01-01'
      GROUP BY l_suppkey
      HAVING SUM(l_quantity) > 3000
    )
    """,
    "TPC-H Q20 shape: nested IN subqueries via broadcast semi-joins",
)
def q31_excess_volume_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")

    small_parts = part.filter(F.col("p_size") <= 15).select("p_partkey")
    qualifying = (
        li.filter(F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        .join(F.broadcast(small_parts), li.l_partkey == small_parts.p_partkey, "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 3000)
        .select("l_suppkey")
    )
    return (
        supplier.join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(qualifying), supplier.s_suppkey == qualifying.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name", "n_name")
    )


# --------------------------------------------------------------------------
# q32 — TPC-H Q21 shape: suppliers solely responsible for returns on
# multi-supplier finalized orders (EXISTS + NOT EXISTS correlated
# subqueries). Both EXISTS conditions decorrelate into ONE per-order
# aggregate (distinct suppliers / distinct returning suppliers) — a single
# extra shuffle on l_orderkey that co-partitions with the l1 join, instead
# of two self-join passes over the fact table.
# --------------------------------------------------------------------------
@register(
    "q32_sole_returning_suppliers",
    """
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier, lineitem l1, orders
    WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s_name
    """,
    "TPC-H Q21 shape: EXISTS/NOT EXISTS decorrelated into one per-order agg",
)
def q32_sole_returning_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supplier = _t(spark, sf_dir, "supplier")

    # EXISTS(l2: other supplier)      <=> n_supp >= 2
    # NOT EXISTS(l3: other R supplier) <=> n_r_supp == 1 (l1 itself is R,
    # so its supplier is always counted)
    order_stats = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("n_r_supp"),
    )
    f_orders = orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    l1 = li.filter(F.col("l_returnflag") == "R")
    return (
        l1.join(f_orders, l1.l_orderkey == f_orders.o_orderkey, "left_semi")
        .join(order_stats, "l_orderkey")
        .filter((F.col("n_supp") >= 2) & (F.col("n_r_supp") == 1))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# --------------------------------------------------------------------------
# q33 — TPC-H Q22 shape: well-funded customers gone inactive. A scalar
# subquery (global average balance → broadcast 1-row cross join) plus an
# anti-join against recent orders; the anti-join shuffles both sides on
# custkey once, which is the minimum possible for fact-vs-fact NOT EXISTS.
# --------------------------------------------------------------------------
@register(
    "q33_inactive_rich_customers",
    """
    SELECT c_mktsegment,
           COUNT(*) AS numcust,
           ROUND(SUM(c_acctbal), 2) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c_mktsegment
    """,
    "TPC-H Q22 shape: scalar avg subquery + anti-join on recent orders",
)
def q33_inactive_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")

    avg_bal = (
        customer.filter(F.col("c_acctbal") > 0.0)
        .agg(F.avg("c_acctbal").alias("avg_bal"))
    )
    recent = (
        orders.filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        customer.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, customer.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@register(
    "q34_profit_by_nation_year",
    """
    SELECT n_name AS nation,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
           ROUND(SUM(l_extendedprice * (1 - l_discount)
                     - p_retailprice * l_quantity * 0.1), 4) AS profit
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN part     ON l_partkey = p_partkey
    WHERE p_name LIKE '%widget%'
    GROUP BY n_name, o_year
    """,
    "TPC-H Q9 shape: 5-table join, revenue minus supply-cost proxy, "
    "grouped by supplier nation and order year",
)
def q34_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    part = _t(spark, sf_dir, "part")
    # part is filtered FIRST (predicate reaches the scan) then broadcast —
    # the selective dim prunes lineitem rows before the orders join;
    # supplier⨝nation folds dim-side and broadcasts too. Only shuffle: the
    # lineitem⨝orders equi-join + final groupBy (AQE-coalesced).
    widget_parts = part.filter(F.col("p_name").like("%widget%")).select(
        "p_partkey", "p_retailprice"
    )
    supp_geo = supplier.join(
        F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", "n_name")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.col("l_quantity") * 0.1
    return (
        li.join(F.broadcast(widget_parts), li.l_partkey == widget_parts.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp_geo), li.l_suppkey == supp_geo.s_suppkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        # round at 4 = the expression's true decimal width (2dp·2dp → 4dp;
        # cost term is 3dp): the decimal sum is exact at 4dp, so both
        # engines snap the same — round(…,2) can land on a .xx5 boundary
        .agg(F.round(F.sum(amount), 4).alias("profit"))
    )


@register(
    "q35_yoy_revenue",
    """
    WITH yr AS (
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
             ROUND(SUM(o_totalprice), 2) AS revenue,
             COUNT(*) AS n_orders
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    )
    SELECT o_year, revenue, n_orders,
           COALESCE(LAG(revenue) OVER (ORDER BY o_year), 0.0) AS prev_revenue
    FROM yr
    """,
    "year-over-year revenue: aggregate then analytic lag window "
    "(round-then-lag keeps both engines bit-identical)",
)
def q35_yoy_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # NULL order dates excluded on both sides: the NULL-year group sorts
    # first in Spark's lag window but last in DuckDB's (review r6)
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    yr = orders.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = Window.orderBy("o_year")
    return yr.select(
        "o_year",
        "revenue",
        "n_orders",
        F.coalesce(F.lag("revenue").over(w), F.lit(0.0)).alias("prev_revenue"),
    )


@register(
    "q36_segment_revenue_share",
    """
    WITH seg AS (
      SELECT c_mktsegment,
             ROUND(SUM(o_totalprice), 2) AS seg_revenue,
             COUNT(*) AS n_orders
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment
    )
    SELECT c_mktsegment, seg_revenue, n_orders,
           ROUND(SUM(seg_revenue) OVER (), 2) AS total_revenue,
           seg_revenue / ROUND(SUM(seg_revenue) OVER (), 2) AS revenue_share
    FROM seg
    """,
    "share-of-total via unbounded window over pre-rounded aggregates "
    "(the division of two bit-identical doubles is deterministic)",
)
def q36_segment_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    seg = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("seg_revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    total = F.round(F.sum("seg_revenue").over(w), 2)
    return seg.select(
        "c_mktsegment",
        "seg_revenue",
        "n_orders",
        total.alias("total_revenue"),
        (F.col("seg_revenue") / total).alias("revenue_share"),
    )


@register(
    "q37_unpivot_measures",
    """
    WITH wide AS (
      SELECT l_returnflag,
             ROUND(SUM(l_quantity), 2)      AS qty,
             ROUND(SUM(l_extendedprice), 2) AS price,
             ROUND(SUM(l_tax), 2)           AS tax
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, measure, val
    FROM wide UNPIVOT (val FOR measure IN (qty, price, tax))
    """,
    "wide→long unpivot (melt) of pre-rounded aggregate measures — the "
    "inverse of q27's pivot",
)
def q37_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("price"),
        F.round(F.sum("l_tax"), 2).alias("tax"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["qty", "price", "tax"],
        variableColumnName="measure",
        valueColumnName="val",
    )


@register(
    "q38_segments_per_nation",
    """
    SELECT n_name,
           COUNT(DISTINCT c_mktsegment) AS n_segments,
           array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segments
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
    "set aggregation to a sorted CSV: collect_set → array_sort → array_join "
    "(deterministic string_agg equivalent)",
)
def q38_segments_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.countDistinct("c_mktsegment").alias("n_segments"),
            F.array_join(F.array_sort(F.collect_set("c_mktsegment")), ",").alias(
                "segments"
            ),
        )
    )


@register(
    "q39_approx_percentiles",
    None,  # sketch-based (KLL-style quantile summaries) → rows-only check;
    # accuracy guarded by test_approx_percentile_error_bound
    "approx_percentile quartiles per group — the 100 TB path for q17: the "
    "quantile sketch is mergeable map-side (bounded state), where exact "
    "percentile ships a full per-group value-count map through the shuffle",
)
def q39_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    pcts = F.percentile_approx(
        "l_extendedprice",
        F.array(F.lit(0.25), F.lit(0.50), F.lit(0.75)),
        F.lit(10000),
    )
    return (
        li.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_items"), pcts.alias("ps"))
        .select(
            "l_returnflag",
            "n_items",
            F.col("ps")[0].alias("p25"),
            F.col("ps")[1].alias("p50"),
            F.col("ps")[2].alias("p75"),
        )
    )


@register(
    "q40_null_semantics",
    """
    WITH e AS (
      SELECT o_orderkey,
             nullif(o_orderpriority, '1-URGENT') AS pri,
             o_totalprice
      FROM orders
    )
    SELECT pri IS NOT DISTINCT FROM NULL AS is_urgent,
           COUNT(*) AS n_orders,
           COUNT(pri) AS n_with_pri,
           COALESCE(MIN(pri), 'none') AS min_pri,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM e GROUP BY 1
    """,
    "null semantics: nullif, null-safe equality (<=>), count-ignores-nulls, "
    "coalesce over a derived nullable column",
)
def q40_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    e = orders.select(
        "o_orderkey",
        F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")).alias("pri"),
        "o_totalprice",
    )
    return e.groupBy(
        F.col("pri").eqNullSafe(F.lit(None).cast("string")).alias("is_urgent")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count("pri").alias("n_with_pri"),
        F.coalesce(F.min("pri"), F.lit("none")).alias("min_pri"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "q42_price_histogram",
    """
    SELECT CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS bucket,
           COUNT(*) AS n_orders,
           ROUND(MIN(o_totalprice), 2) AS lo,
           ROUND(MAX(o_totalprice), 2) AS hi
    FROM orders GROUP BY bucket
    """,
    "equi-width histogram binning (explicit FLOOR on both sides: DuckDB // "
    "does not floor double operands, and CAST alone rounds)",
)
def q42_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.floor(F.col("o_totalprice") / 50000).cast("bigint").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


# Shared by q43 (manual salting) and q104 (Spark-native AQE skew split):
# the two answers to the #1 100 TB join hazard, hash-checked against the
# SAME oracle so the skew machinery is proven result-neutral both ways.
_Q43_ORACLE = """
    SELECT o_orderpriority,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """


@register(
    "q43_salted_skew_join",
    _Q43_ORACLE,
    "skew-resistant salted equi-join (deterministic per-row salt spreads "
    "hot keys over n reducers) — result-identical to the plain join, so "
    "fully oracle-checked",
)
def q43_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_data_engineering_spark.operators.joins import salted_equi_join

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), "l_extendedprice", "l_discount"
    )
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"), "o_orderpriority"
    )
    joined = salted_equi_join(li, orders, keys=["ok"], n_salts=8)
    return joined.groupBy("o_orderpriority").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )


# --------------------------------------------------------------------------
# q104 — AQE skew-join twin of q43 (round 11, VERDICT r10 #6): the
# Spark-NATIVE answer to the hazard q43 solves by hand. The skew is
# planted by the join key itself: after the orderkey equi-join, the 6M-row
# fact stream is shuffle-joined to a 5-row priority dim ON
# o_orderpriority — five distinct keys, so five hash partitions hold the
# whole fact table (the worst key distribution a shuffle join can see) —
# and spark.sql.adaptive.skewJoin splits those partitions at runtime
# (SortMergeJoin(skew=true), plan-asserted in tests/test_plans.py).
# Because the dim is DERIVED (distinct priorities) the extra join is
# result-neutral: the aggregate hash-matches q43's oracle verbatim, which
# is the point — both the hand-rolled salt and the built-in skew split
# are proven to leave answers untouched.
#
# Conf handling: AQE reads its confs at ACTION time, not plan time, so
# the skewed join is materialized to a temp parquet inside the
# conf-scoped block and the registered callable returns a plain scan —
# the tuned thresholds never leak into the shared driver session (the
# c23/c18 temp-dir pattern). At 100 TB the same plan needs no tuned
# thresholds at all: the defaults (256MB / 5x median) trigger on real
# skew; the tiny thresholds here only scale the mechanism down to
# fixture-sized partitions.
# --------------------------------------------------------------------------
_Q104_SKEW_CONFS = {
    # force the 5-key join to shuffle (both static and AQE broadcast off);
    # thresholds scaled to fixture partitions so the split actually fires
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
    # the post-join aggregate re-shuffles on the same key; without force,
    # AQE declines to split a partitioning a downstream stage could reuse
    "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    # CoalesceShufflePartitions runs BEFORE OptimizeSkewedJoin: with it on,
    # the 11 empty partitions of the 5-key shuffle merge into the hot ones
    # and the partition-size MEDIAN rises to the hot size itself, so the
    # "size > factor * median" skew test can never pass — the planted skew
    # becomes invisible to the rule (probed; the debug log shows 0 skewed
    # partitions with coalescing on). Real clusters hit this too when a
    # shuffle has few distinct keys; off for the scoped materialization.
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
    # the skew test is size > max(factor * MEDIAN, threshold): with 5 hot
    # keys the shuffle needs enough empty partitions to keep the median at
    # zero (5 hot of 8 ⇒ the median is itself hot-sized and nothing is
    # ever "2x the median") — pin a partition count that leaves the hot
    # keys a clear minority, as any real cluster's thousands-of-partitions
    # shuffle would
    "spark.sql.shuffle.partitions": "32",
}


def _q104_skew_confs(sf_dir: str) -> dict[str, str]:
    """_Q104_SKEW_CONFS plus a DATA-ADAPTIVE advisory (split-target) size:
    a fixed tiny advisory would shatter a 100x corpus's hot partitions
    into tens of thousands of splits (each a task), while a fixed large
    one would never split the fixture — scale it with the fact table's
    bytes so every SF splits its hot partitions into a sane handful, the
    ratio production defaults (256MB advisory vs multi-GB skew) achieve
    on real clusters."""
    import os

    path = f"{sf_dir}/lineitem.parquet"
    if os.path.isdir(path):
        nbytes = sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
    else:
        nbytes = os.path.getsize(path)
    confs = dict(_Q104_SKEW_CONFS)
    confs["spark.sql.adaptive.advisoryPartitionSizeInBytes"] = str(
        max(24 * 1024, nbytes // 128)
    )
    return confs


def _q104_skewed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The declarative plan: orderkey equi-join -> 5-key dim shuffle join
    (the planted skew) -> priority aggregate. Shared by the registered
    query and the plan-assertion test so both see the same shape."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    # NOT broadcast (probed round 11): hinting the dims-sized orders side
    # to broadcast here would drop 2 Exchange + 2 Sort, but it also makes
    # the priority shuffle's map side a single-row-group scan task — and
    # AQE splits a skewed reduce partition into contiguous MAP-OUTPUT
    # ranges, so with one non-empty mapper there is no split point and
    # SortMergeJoin(skew=true) never fires (the plan-asserted mechanism
    # this query exists to prove). The orderkey SMJ is what gives the
    # skewed shuffle its many mappers, exactly like a real cluster's scan.
    fact = li.join(
        orders, li["l_orderkey"] == orders["o_orderkey"]
    ).select("o_orderpriority", "l_extendedprice", "l_discount")
    # coalesce(1) (free on 5 rows) breaks the distinct's hash(prio)
    # partitioning so the join plans a fresh ENSURE_REQUIREMENTS shuffle on
    # BOTH sides — OptimizeSkewedJoin only matches SortMergeJoin whose sort
    # children sit directly on ENSURE_REQUIREMENTS shuffle stages; a dim
    # whose distinct already satisfies the join distribution leaves an
    # aggregate between shuffle and join and the skew rule skips it
    dim = orders.select("o_orderpriority").distinct().coalesce(1)
    j = fact.join(dim, "o_orderpriority")
    return j.groupBy("o_orderpriority").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "q104_aqe_skew_join",
    _Q43_ORACLE,
    "AQE skew-join twin of q43: the fact stream shuffle-joined to a 5-row "
    "dim ON o_orderpriority (five keys = maximal planted partition skew) "
    "with spark.sql.adaptive.skewJoin splitting the hot partitions at "
    "runtime (SortMergeJoin(skew=true), plan-asserted); the derived dim "
    "makes the join result-neutral, so the aggregate hash-matches q43's "
    "oracle verbatim — the built-in and the hand-salted answer to the "
    "same 100 TB hazard, proven equivalent",
)
def q104_aqe_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    out = scratch_dir("q104")
    confs = _q104_skew_confs(sf_dir)
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # coalesce(1): the aggregate is 5 rows but the session's
        # coalescePartitions is OFF inside this scope (see confs), so the
        # write would otherwise emit shuffle.partitions near-empty files
        _q104_skewed_agg(spark, sf_dir).coalesce(1).write.parquet(out)
        # Eager localCheckpoint of the 5-row read-back (the c20 scratch
        # pattern) lets the scratch dir be removed in `finally` rather
        # than at process exit (VERDICT r11 #3); the returned plan no
        # longer references the deleted files.
        return spark.read.parquet(out).localCheckpoint(eager=True)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        shutil.rmtree(out, ignore_errors=True)


@register(
    "q44_two_phase_agg",
    """
    SELECT l_returnflag,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           COUNT(*) AS n_items,
           ROUND(MAX(l_extendedprice), 2) AS max_price
    FROM lineitem GROUP BY l_returnflag
    """,
    "salted two-phase aggregation for low-cardinality hot groups (partial "
    "per (key, salt), then merge) — decomposable aggs are exact, so fully "
    "oracle-checked",
)
def q44_two_phase_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_data_engineering_spark.operators.joins import two_phase_agg

    li = _t(spark, sf_dir, "lineitem")
    merged = two_phase_agg(
        li,
        keys=["l_returnflag"],
        aggs={
            "sum_qty": ("l_quantity", "sum"),
            "n_items": ("l_quantity", "count"),
            "max_price": ("l_extendedprice", "max"),
        },
        n_salts=16,
    )
    return merged.select(
        "l_returnflag",
        F.round("sum_qty", 2).alias("sum_qty"),
        "n_items",
        F.round("max_price", 2).alias("max_price"),
    )


@register(
    "q45_multiset_ops",
    """
    WITH o AS (SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'),
         f AS (SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F')
    SELECT o_orderpriority, 'except_all' AS op, COUNT(*) AS n
    FROM (SELECT * FROM o EXCEPT ALL SELECT * FROM f) GROUP BY 1
    UNION ALL
    SELECT o_orderpriority, 'intersect_all' AS op, COUNT(*) AS n
    FROM (SELECT * FROM o INTERSECT ALL SELECT * FROM f) GROUP BY 1
    """,
    "multiset (bag) semantics: EXCEPT ALL / INTERSECT ALL preserve "
    "duplicate counts — complements q09's distinct set ops",
)
def q45_multiset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_orderpriority")
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_orderpriority")
    ex = (
        o.exceptAll(f)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("op", F.lit("except_all"))
    )
    inter = (
        o.intersectAll(f)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("op", F.lit("intersect_all"))
    )
    return ex.unionByName(inter).select("o_orderpriority", "op", "n")


@register(
    "q46_date_string_functions",
    """
    SELECT o_orderkey,
           CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT)
             AS days_since_epoch_start,
           CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date,
           last_day(CAST(o_orderdate AS DATE))         AS month_end,
           CAST(quarter(o_orderdate) AS INT)           AS q,
           lpad(o_orderstatus, 3, '_')                 AS status_padded,
           translate(o_orderpriority, '-', ' ')        AS priority_spaced,
           levenshtein(o_orderstatus, SUBSTR(o_orderpriority, 1, 1)) AS lev
    FROM orders WHERE o_orderkey < 1000
    """,
    "date arithmetic (datediff/date_add/last_day/quarter) and string "
    "functions (lpad/translate/levenshtein)",
)
def q46_date_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    d = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        F.datediff(d, F.lit("1995-01-01").cast("date")).alias("days_since_epoch_start"),
        F.date_add(d, 30).alias("due_date"),
        F.last_day(d).alias("month_end"),
        F.quarter("o_orderdate").alias("q"),
        F.lpad("o_orderstatus", 3, "_").alias("status_padded"),
        F.translate("o_orderpriority", "-", " ").alias("priority_spaced"),
        F.levenshtein("o_orderstatus", F.substring("o_orderpriority", 1, 1)).alias("lev"),
    )


@register(
    "q48_sql_api_parity",
    """
    SELECT n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
    "the raw-SQL entry path: temp views + spark.sql with a broadcast hint — "
    "same Catalyst plan surface as the DataFrame API (q02), proving the "
    "engine's SQL front door end-to-end",
)
def q48_sql_api_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("lineitem", "orders", "customer", "nation"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"sqlv_{t}")
    return spark.sql(
        """
        SELECT /*+ BROADCAST(sqlv_customer), BROADCAST(sqlv_nation) */
               n_name,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               COUNT(*) AS n_items
        FROM sqlv_lineitem
        JOIN sqlv_orders   ON l_orderkey = o_orderkey
        JOIN sqlv_customer ON o_custkey = c_custkey
        JOIN sqlv_nation   ON c_nationkey = n_nationkey
        GROUP BY n_name
        """
    )


@register(
    "q49_month_spine_gapfill",
    """
    WITH spine AS (
      SELECT CAST(UNNEST(generate_series(DATE '1995-01-01', DATE '2001-08-01',
                                         INTERVAL 1 MONTH)) AS DATE) AS month_start
    ), rev AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
             ROUND(SUM(o_totalprice), 2) AS revenue,
             COUNT(*) AS n_orders
      FROM orders WHERE o_orderstatus = 'F'
      GROUP BY 1
    )
    SELECT s.month_start,
           COALESCE(rev.revenue, 0.0) AS revenue,
           COALESCE(rev.n_orders, 0) AS n_orders
    FROM spine s LEFT JOIN rev ON s.month_start = rev.month_start
    """,
    "gap-filled time series: a generated month spine (sequence+explode — "
    "never collected to the driver) left-joined to sparse monthly revenue, "
    "missing months coalesced to zero",
)
def q49_month_spine_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("date"),
                F.lit("2001-08-01").cast("date"),
                F.expr("interval 1 month"),
            )
        ).alias("month_start")
    )
    rev = (
        orders.filter(F.col("o_orderstatus") == "F")
        .groupBy(F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"))
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    return spine.join(rev, "month_start", "left").select(
        "month_start",
        F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
    )


@register(
    "q50_trailing_window_revenue",
    """
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (
             PARTITION BY o_custkey
             ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
             RANGE BETWEEN 7776000 PRECEDING AND CURRENT ROW), 2)
             AS trailing_90d_revenue
    FROM orders
    WHERE o_custkey < 100 AND o_orderdate IS NOT NULL
    """,
    "RANGE window frame (value-based, not row-based): per-customer trailing "
    "90-day revenue over event-time seconds — complements the ROWS frames "
    "in q24/q36",
)
def q50_trailing_window_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL order dates excluded on both sides: NULL-keyed peer groups sit
    # at opposite ends of the RANGE ordering per engine
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_custkey") < 100) & F.col("o_orderdate").isNotNull()
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-7776000, 0)  # 90 days in seconds
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("trailing_90d_revenue"),
    )


@register(
    "q51_row_udf_dim",
    f"""
    SELECT n_name,
           CAST(LEN(regexp_extract_all({T.ascii_lower_sql('n_name')}, '[aeiou]')) AS INT)
             AS n_vowels,
           CAST(LENGTH(n_name) AS INT) AS name_len
    FROM nation
    """,
    "classic row-at-a-time Python UDF — deliberately applied only to the "
    "25-row dim (the slow path belongs on tiny inputs; hot paths use "
    "pandas UDFs or JVM expressions), oracle-checked",
)
def q51_row_udf_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the contract's A-Z fold, not str.lower (nation names are ASCII anyway)
    lower = T.text_worker_fns().lower
    count_vowels = F.udf(
        lambda s: sum(1 for ch in lower(s or "") if ch in "aeiou"),
        "int",
    )
    nation = _t(spark, sf_dir, "nation")
    return nation.select(
        "n_name",
        count_vowels("n_name").alias("n_vowels"),
        F.length("n_name").alias("name_len"),
    )


# --------------------------------------------------------------------------
# q52 — statistical aggregates: corr/covar/stddev/variance/skewness/kurtosis.
# All single-pass streaming moments in Spark (partial-aggregable → map-side
# combine, one tiny shuffle row per group — same 100 TB shape as q01). The
# oracle computes Spark's population skewness/kurtosis (sqrt(n)·M3/M2^1.5,
# n·M4/M2²−3) from two-pass central moments since DuckDB's built-ins apply
# sample-bias correction.
# --------------------------------------------------------------------------
@register(
    "q52_stat_aggregates",
    """
    WITH mu AS (
      SELECT l_returnflag AS rf, AVG(l_extendedprice) AS mp
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           ROUND(corr(l_quantity, l_extendedprice), 4)        AS qty_price_corr,
           ROUND(covar_samp(l_quantity, l_extendedprice), 2)  AS qty_price_covar,
           ROUND(stddev_samp(l_extendedprice), 2)             AS price_stddev,
           ROUND(var_samp(l_quantity), 4)                     AS qty_var,
           ROUND(SQRT(COUNT(*)) * SUM(POWER(l_extendedprice - mp, 3))
                 / POWER(SUM(POWER(l_extendedprice - mp, 2)), 1.5), 4) AS price_skew,
           ROUND(COUNT(*) * SUM(POWER(l_extendedprice - mp, 4))
                 / POWER(SUM(POWER(l_extendedprice - mp, 2)), 2) - 3.0, 4) AS price_kurt
    FROM lineitem JOIN mu ON l_returnflag = mu.rf
    GROUP BY l_returnflag
    """,
    "statistical aggregates: corr, covar_samp, stddev_samp, var_samp, "
    "skewness, kurtosis — all partial-aggregable streaming moments",
)
def q52_stat_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
            "qty_price_covar"
        ),
        F.round(F.stddev_samp("l_extendedprice"), 2).alias("price_stddev"),
        F.round(F.var_samp("l_quantity"), 4).alias("qty_var"),
        F.round(F.skewness("l_extendedprice"), 4).alias("price_skew"),
        F.round(F.kurtosis("l_extendedprice"), 4).alias("price_kurt"),
    )


# --------------------------------------------------------------------------
# q53 — MapType end-to-end: aggregate per-(segment, priority) counts into a
# map column (map_from_entries ∘ sort_array ∘ collect_list), then consume it
# with element_at / map_keys / map_values + fold. The map stays bounded (5
# priorities) so collect_list is safe at any scale — the unbounded dimension
# (customers × orders) is aggregated away BEFORE collecting. Oracle computes
# the same scalars via conditional aggregation.
# --------------------------------------------------------------------------
@register(
    "q53_priority_count_map",
    """
    SELECT c_mktsegment,
           CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
                AS BIGINT) AS urgent_cnt,
           CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END)
                AS BIGINT) AS low_cnt,
           CAST(COUNT(DISTINCT o_orderpriority) AS INT) AS n_priorities,
           CAST(COUNT(*) AS BIGINT) AS total_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
    "MapType surface: map_from_entries aggregation + element_at / map_keys / "
    "map_values consumption, bounded-cardinality collect",
)
def q53_priority_count_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    per = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    m = per.groupBy("c_mktsegment").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("o_orderpriority", "cnt")))
        ).alias("m")
    )
    zero = F.lit(0).cast("bigint")
    return m.select(
        "c_mktsegment",
        F.coalesce(F.element_at("m", F.lit("1-URGENT")), zero).alias("urgent_cnt"),
        F.coalesce(F.element_at("m", F.lit("5-LOW")), zero).alias("low_cnt"),
        F.size(F.map_keys("m")).alias("n_priorities"),
        F.aggregate(F.map_values("m"), zero, lambda a, x: a + x).alias("total_orders"),
    )


# --------------------------------------------------------------------------
# q54 — higher-order array functions per row: filter / exists / transform /
# aggregate / array_max over the embedding column. All JVM-side expression
# evaluation — no Python in the loop — so it scales as a narrow map stage
# (zero shuffles). The sum-of-squares fold is left-to-right, matching
# DuckDB's list_aggregate order (same contract as s01/e01).
# --------------------------------------------------------------------------
@register(
    "q54_array_hof",
    """
    WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings)
    SELECT vec_id, label,
           CAST(LEN(list_filter(e, x -> x > 0)) AS INT)            AS n_pos,
           ROUND(list_aggregate([x * x FOR x IN e], 'sum'), 4)     AS sum_sq,
           ROUND(list_max(e), 4)                                   AS max_c,
           LEN(list_filter(e, x -> x > 0.25)) > 0                  AS has_big
    FROM v
    """,
    "higher-order array functions: filter, exists, transform, aggregate "
    "(fold), array_max — pure JVM expressions, zero-shuffle map stage",
)
def q54_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    return emb.select(
        "vec_id",
        "label",
        F.size(F.filter(v, lambda x: x > 0)).alias("n_pos"),
        F.round(
            F.aggregate(
                F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
            ),
            4,
        ).alias("sum_sq"),
        F.round(F.array_max(v), 4).alias("max_c"),
        F.exists(v, lambda x: x > 0.25).alias("has_big"),
    )


# --------------------------------------------------------------------------
# q55 — TPC-H Q13 shape (custdist): LEFT OUTER join with an extra non-equi
# predicate in the ON clause, COUNT(col) null semantics (customers with no
# orders count 0), then a distribution over the counts. Two shuffles: the
# customer⨝orders agg and the tiny histogram agg.
# --------------------------------------------------------------------------
@register(
    "q55_order_count_distribution",
    """
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
    "TPC-H Q13 custdist: left outer join + COUNT(col) null semantics + "
    "count-of-counts distribution",
)
def q55_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        customer.join(
            orders,
            (customer["c_custkey"] == orders["o_custkey"])
            & (orders["o_orderpriority"] != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# --------------------------------------------------------------------------
# q56 — TPC-H Q18 shape (large-volume orders): HAVING filter on a grouped
# fact aggregate, re-joined to orders + broadcast customer dim. The heavy
# groupBy(l_orderkey) shares its hash partitioning with the subsequent
# equi-join on the same key — Catalyst reuses the exchange rather than
# shuffling twice.
# --------------------------------------------------------------------------
@register(
    "q56_big_order_customers",
    """
    SELECT c_name, o_orderkey, o_orderdate, o_totalprice,
           ROUND(sum_qty, 2) AS sum_qty
    FROM (
      SELECT l_orderkey, SUM(l_quantity) AS sum_qty
      FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 250
    )
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    """,
    "TPC-H Q18: grouped HAVING on the fact table, exchange-reusing "
    "re-join on the group key, broadcast customer dim",
)
def q56_big_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("raw_qty"))
        .filter(F.col("raw_qty") > 250)
        .select("l_orderkey", F.round("raw_qty", 2).alias("sum_qty"))
    )
    return (
        big.join(orders, big["l_orderkey"] == orders["o_orderkey"])
        .join(
            F.broadcast(customer.select("c_custkey", "c_name")),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .select("c_name", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
    )


# --------------------------------------------------------------------------
# q57 — max_by/min_by argmax aggregates: the single-pass alternative to the
# window-row_number top-1 pattern (q04) — no sort, no window, just a
# partial-aggregable agg (one shuffle row per group). Tie-free by folding
# the unique key into the ordering value.
# --------------------------------------------------------------------------
@register(
    "q57_argmax_customers",
    """
    WITH c AS (
      SELECT n_name, c_name, c_acctbal,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) * 10000000 + c_custkey AS ord
      FROM customer JOIN nation ON c_nationkey = n_nationkey
    )
    SELECT n_name,
           arg_max(c_name, ord) AS richest_customer,
           ROUND(MAX(c_acctbal), 2) AS max_acctbal,
           arg_min(c_name, ord) AS poorest_customer,
           ROUND(MIN(c_acctbal), 2) AS min_acctbal
    FROM c GROUP BY n_name
    """,
    "argmax/argmin aggregates (max_by/min_by): per-nation extreme customers "
    "in one partial-aggregable pass — no window, no sort",
)
def q57_argmax_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    # tie-free ordering value: (acctbal, custkey) folded into one bigint —
    # acctbal has 2 decimals, custkey < 1e7, so the encoding is collision-free
    ord_col = (
        F.round(F.col("c_acctbal") * 100).cast("bigint") * F.lit(10000000).cast("bigint")
        + F.col("c_custkey")
    )
    return (
        customer.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_name", "c_name", "c_acctbal", ord_col.alias("ord"))
        .groupBy("n_name")
        .agg(
            F.max_by("c_name", "ord").alias("richest_customer"),
            F.round(F.max("c_acctbal"), 2).alias("max_acctbal"),
            F.min_by("c_name", "ord").alias("poorest_customer"),
            F.round(F.min("c_acctbal"), 2).alias("min_acctbal"),
        )
    )


# --------------------------------------------------------------------------
# q58 — DataFrameNaFunctions surface: na.replace (value recode), na.fill
# (null default), na.drop (null row filter). All compile to CASE/COALESCE/
# IS NOT NULL expressions — codegen'd, pushdown-friendly, zero extra
# shuffles beyond the final agg.
# --------------------------------------------------------------------------
@register(
    "q58_na_functions",
    """
    WITH w AS (
      SELECT CASE o_orderstatus WHEN 'O' THEN 'OPEN' WHEN 'F' THEN 'FINISHED'
                                WHEN 'P' THEN 'PARTIAL' ELSE o_orderstatus
             END AS status,
             COALESCE(NULLIF(o_orderpriority, '3-MEDIUM'), 'UNKNOWN') AS pri,
             CASE WHEN o_orderstatus = 'O' THEN NULL ELSE o_totalprice
             END AS price_or_null
      FROM orders)
    SELECT status, pri,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(price_or_null), 2) AS total_price
    FROM w WHERE price_or_null IS NOT NULL
    GROUP BY status, pri
    """,
    "DataFrameNaFunctions: na.replace value recode, na.fill null default, "
    "na.drop null filter — all plain codegen'd expressions",
)
def q58_na_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    src = orders.select(
        F.col("o_orderstatus").alias("status"),
        F.when(F.col("o_orderpriority") == "3-MEDIUM", None)
        .otherwise(F.col("o_orderpriority"))
        .alias("pri"),
        F.when(F.col("o_orderstatus") == "O", None)
        .otherwise(F.col("o_totalprice"))
        .alias("price_or_null"),
    )
    cleaned = (
        src.na.replace(
            {"O": "OPEN", "F": "FINISHED", "P": "PARTIAL"}, subset=["status"]
        )
        .na.fill({"pri": "UNKNOWN"})
        .na.drop(subset=["price_or_null"])
    )
    return cleaned.groupBy("status", "pri").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("price_or_null"), 2).alias("total_price"),
    )


# --------------------------------------------------------------------------
# q60 — schema evolution across feed versions: a v1 extract lacking a column
# unioned with the v2 extract that has it (unionByName +
# allowMissingColumns — name-based alignment, never positional), missing
# values surfacing as NULLs. The query-side twin of the writer's
# mergeSchema opt-in (SURVEY §1.3).
# --------------------------------------------------------------------------
@register(
    "q60_schema_evolution_union",
    """
    WITH unioned AS (
      SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority,
             'v1' AS src_ver
      FROM orders
      UNION ALL
      SELECT o_orderkey, o_totalprice, o_orderpriority, 'v2' AS src_ver
      FROM orders)
    SELECT src_ver,
           COALESCE(o_orderpriority, '<absent>') AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM unioned GROUP BY src_ver, priority
    """,
    "schema evolution: unionByName(allowMissingColumns=True) aligns a "
    "column-poorer v1 feed with the v2 schema by NAME, nulls filling the gap",
)
def q60_schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    v1 = orders.drop("o_orderpriority").withColumn("src_ver", F.lit("v1"))
    v2 = orders.withColumn("src_ver", F.lit("v2"))
    unioned = v1.unionByName(v2, allowMissingColumns=True)
    return unioned.groupBy(
        "src_ver",
        F.coalesce("o_orderpriority", F.lit("<absent>")).alias("priority"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


# --------------------------------------------------------------------------
# q62 — ANSI-mode-safe arithmetic: Spark 4 runs with spark.sql.ansi.enabled
# by default, so /0 and bad casts THROW mid-job unless handled. try_divide /
# try_cast / try_to_number return NULL instead — the discipline every
# 100 TB pipeline needs (one malformed row must not kill a 6-hour job).
# --------------------------------------------------------------------------
@register(
    "q62_ansi_safe_arithmetic",
    """
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(CASE WHEN o_orderkey % 10 = 0 THEN NULL
                          ELSE o_totalprice / (o_orderkey % 10) END), 2)
             AS sum_safe_ratio,
           CAST(SUM(CASE WHEN o_orderkey % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_div,
           CAST(SUM(CASE WHEN TRY_CAST(o_orderpriority AS INTEGER) IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_uncastable
    FROM orders GROUP BY o_orderstatus
    """,
    "ANSI-mode-safe arithmetic: try_divide / try_cast return NULL where "
    "ANSI semantics would throw (div-by-zero, malformed cast) — malformed "
    "rows degrade to NULLs instead of failing the job",
)
def q62_ansi_safe_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    denom = F.col("o_orderkey") % 10  # hits 0 on every 10th key
    safe_ratio = F.try_divide(F.col("o_totalprice"), denom)
    uncastable = F.col("o_orderpriority").try_cast("int").isNull()
    return orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum(safe_ratio), 2).alias("sum_safe_ratio"),
        F.sum((denom == 0).cast("int")).cast("bigint").alias("n_null_div"),
        F.sum(uncastable.cast("int")).cast("bigint").alias("n_uncastable"),
    )


# --------------------------------------------------------------------------
# q63 — DataFrameStatFunctions crosstab: contingency table of
# status × priority. One pairwise groupBy count + a driver-side pivot of
# the (tiny: |A|×|B|) distinct-pair grid — valid at any fact-table scale
# as long as the CATEGORY cardinalities stay bounded.
# --------------------------------------------------------------------------
@register(
    "q63_crosstab",
    """
    SELECT o_orderstatus AS o_orderstatus_o_orderpriority,
           CAST(COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS BIGINT)
             AS "1-URGENT",
           CAST(COUNT(*) FILTER (o_orderpriority = '2-HIGH') AS BIGINT)
             AS "2-HIGH",
           CAST(COUNT(*) FILTER (o_orderpriority = '3-MEDIUM') AS BIGINT)
             AS "3-MEDIUM",
           CAST(COUNT(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS BIGINT)
             AS "4-NOT SPECIFIED",
           CAST(COUNT(*) FILTER (o_orderpriority = '5-LOW') AS BIGINT)
             AS "5-LOW"
    FROM orders GROUP BY o_orderstatus
    """,
    "stat-functions crosstab (contingency table): pairwise counts pivoted "
    "into a status x priority grid, column names = category values",
)
def q63_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.stat.crosstab("o_orderstatus", "o_orderpriority")


from aws_data_engineering_spark.operators.transforms import (  # noqa: E402
    morton_code,
    morton_sql,
)


# --------------------------------------------------------------------------
# q64 — Z-order (Morton) clustering value: the data-layout primitive behind
# multi-dimensional data skipping (Delta OPTIMIZE ZORDER, Hudi clustering).
# operators/transforms.zorder_by range-partitions + sorts on this value so
# parquet min/max stats prune scans on EITHER dimension; the query exposes
# the codes themselves so the oracle pins the bit math.
# --------------------------------------------------------------------------
@register(
    "q64_zorder_values",
    f"""
    SELECT p_partkey, p_size,
           {morton_sql("p_size", "p_partkey % 256", 16)} AS zval
    FROM part
    """,
    "Z-order/Morton interleave of (p_size, p_partkey%256) — pure codegen'd "
    "bit arithmetic; zorder_by clusters tables on it for 2-D data skipping",
)
def q64_zorder_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        "p_size",
        morton_code(F.col("p_size"), F.col("p_partkey") % 256, 16).alias("zval"),
    )


# --------------------------------------------------------------------------
# q65 — window navigation + windowed collect: first_value / nth_value /
# cume_dist and a bounded collect_list frame (trailing 3 order totals).
# One user-keyed sort serves every function — Catalyst collapses same-spec
# windows into a single Window operator. The trailing-3 array is serialized
# to a CSV string at the query edge: the driver canonicalizes results via a
# pandas sort over all columns, which cannot factorize list-typed cells
# (CORRECTNESS_r03 q65 TypeError) — top-level output columns must be scalar
# (see tests/oracle_utils._assert_no_nested_output_types). Elements are
# fixed to DECIMAL(12,2) before casting to string so both engines render
# exactly two decimals.
# --------------------------------------------------------------------------
@register(
    "q65_window_navigation",
    """
    SELECT o_orderkey, o_custkey,
           ROUND(FIRST_VALUE(o_totalprice) OVER w, 2) AS first_price,
           ROUND(NTH_VALUE(o_totalprice, 2) OVER w, 2) AS second_price,
           ROUND(CUME_DIST() OVER w, 6) AS price_cume,
           array_to_string(
             [CAST(CAST(ROUND(x, 2) AS DECIMAL(12,2)) AS VARCHAR)
              FOR x IN LIST(o_totalprice) OVER
                (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)],
             ',') AS last3_prices
    FROM orders
    WHERE o_custkey < 200
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    "window navigation (first_value/nth_value/cume_dist) + bounded "
    "collect_list frame, serialized to CSV at the edge; same window spec -> "
    "one Window operator",
)
def q65_window_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    last3 = w.rowsBetween(-2, Window.currentRow)
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.first("o_totalprice").over(frame), 2).alias("first_price"),
        F.round(F.nth_value("o_totalprice", 2).over(frame), 2).alias("second_price"),
        F.round(F.cume_dist().over(w), 6).alias("price_cume"),
        F.concat_ws(
            ",",
            F.transform(
                F.collect_list("o_totalprice").over(last3),
                lambda x: F.round(x, 2).cast("decimal(12,2)").cast("string"),
            ),
        ).alias("last3_prices"),
    )


# --------------------------------------------------------------------------
# q66 — exact decimal aggregation: prices cast to DECIMAL(12,2) and summed
# in fixed-point — bit-exact across engines and summation orders (no float
# drift, no rounding contract needed), the money-math discipline of the
# §1.2 type lattice. Result presented as double only at the edge.
# --------------------------------------------------------------------------
@register(
    "q66_decimal_exact_totals",
    """
    SELECT o_orderstatus,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
             AS total_price_exact,
           CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
             AS max_price_exact,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
    "DECIMAL(12,2) fixed-point aggregation: bit-exact money math across "
    "engines and summation orders — no float-rounding contract required",
)
def q66_decimal_exact_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(12,2)")
    return orders.groupBy("o_orderstatus").agg(
        F.sum(dec).cast("double").alias("total_price_exact"),
        F.max(dec).cast("double").alias("max_price_exact"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# --------------------------------------------------------------------------
# q68 — snapshot reconciliation via FULL OUTER join: diff two table versions
# into added / removed / changed / unchanged row classes — the audit every
# reload strategy (ref W4/W5) needs. One co-partitioned shuffle join; the
# class column is a null-pattern CASE, codegen'd.
# --------------------------------------------------------------------------
@register(
    "q68_snapshot_reconciliation",
    """
    WITH old AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 5 <> 0
    ), new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0
                  THEN ROUND(o_totalprice + 1.0, 2) ELSE o_totalprice
             END AS o_totalprice
      FROM orders WHERE o_orderkey % 5 <> 1
    )
    SELECT CASE WHEN old.o_orderkey IS NULL THEN 'added'
                WHEN new.o_orderkey IS NULL THEN 'removed'
                WHEN old.o_totalprice <> new.o_totalprice THEN 'changed'
                ELSE 'unchanged' END AS change_class,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
    GROUP BY change_class
    """,
    "snapshot reconciliation: FULL OUTER diff of two table versions into "
    "added/removed/changed/unchanged classes — the reload-strategy audit",
)
def q68_snapshot_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    old = orders.filter(k % 5 != 0).select(
        k.alias("old_key"), F.col("o_totalprice").alias("old_price")
    )
    new = orders.filter(k % 5 != 1).select(
        k.alias("new_key"),
        F.when(k % 7 == 0, F.round(F.col("o_totalprice") + 1.0, 2))
        .otherwise(F.col("o_totalprice"))
        .alias("new_price"),
    )
    diff = old.join(new, old["old_key"] == new["new_key"], "full_outer")
    change_class = (
        F.when(F.col("old_key").isNull(), "added")
        .when(F.col("new_key").isNull(), "removed")
        .when(F.col("old_price") != F.col("new_price"), "changed")
        .otherwise("unchanged")
    )
    return diff.groupBy(change_class.alias("change_class")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )


# --------------------------------------------------------------------------
# dq01 — declarative data-quality sweep: referential integrity, domain
# checks, and null checks across the star schema in ONE pass per table,
# unioned into a violation report. Anti-joins broadcast the (small) parent
# key sets; every check is a filter count — no Python, no second scans.
# --------------------------------------------------------------------------
@register(
    "dq01_data_quality_checks",
    """
    SELECT 'orphan_lineitem_order' AS check_name,
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT) AS n_violations
    UNION ALL
    SELECT 'orphan_order_customer',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
    UNION ALL
    SELECT 'negative_extendedprice',
           CAST((SELECT COUNT(*) FROM lineitem WHERE l_extendedprice < 0) AS BIGINT)
    UNION ALL
    SELECT 'discount_out_of_range',
           CAST((SELECT COUNT(*) FROM lineitem
                 WHERE l_discount < 0 OR l_discount > 1) AS BIGINT)
    UNION ALL
    SELECT 'null_order_date',
           CAST((SELECT COUNT(*) FROM orders WHERE o_orderdate IS NULL) AS BIGINT)
    """,
    "data-quality sweep: referential integrity (anti-join orphans), domain "
    "range checks, null checks — one violation-count report row per rule",
)
def dq01_data_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")

    def one(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_violations")).select(
            F.lit(name).alias("check_name"), "n_violations"
        )

    checks = [
        one(
            "orphan_lineitem_order",
            li.join(
                orders.select("o_orderkey"),
                li["l_orderkey"] == F.col("o_orderkey"),
                "left_anti",
            ),
        ),
        one(
            "orphan_order_customer",
            orders.join(
                F.broadcast(customer.select("c_custkey")),
                orders["o_custkey"] == F.col("c_custkey"),
                "left_anti",
            ),
        ),
        one("negative_extendedprice", li.filter(F.col("l_extendedprice") < 0)),
        one(
            "discount_out_of_range",
            li.filter((F.col("l_discount") < 0) | (F.col("l_discount") > 1)),
        ),
        one("null_order_date", orders.filter(F.col("o_orderdate").isNull())),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


# --------------------------------------------------------------------------
# dq02 — table profiling report (ANALYZE-style): per-table row counts, key
# cardinalities, and domain extrema in one pass per table, unioned into a
# profile. The statistics a 100 TB lakehouse publishes after each load so
# downstream consumers (and the CBO) know what landed.
# --------------------------------------------------------------------------
@register(
    "dq02_table_profile",
    """
    SELECT 'lineitem' AS table_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_keys,
           ROUND(MIN(l_extendedprice), 2) AS min_val,
           ROUND(MAX(l_extendedprice), 2) AS max_val
    FROM lineitem
    UNION ALL
    SELECT 'orders',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
           ROUND(MIN(o_totalprice), 2), ROUND(MAX(o_totalprice), 2)
    FROM orders
    UNION ALL
    SELECT 'customer',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT c_nationkey) AS BIGINT),
           ROUND(MIN(c_acctbal), 2), ROUND(MAX(c_acctbal), 2)
    FROM customer
    """,
    "ANALYZE-style table profile: row counts, key cardinalities, domain "
    "extrema — one aggregation pass per table, unioned into a report",
)
def dq02_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    def profile(name: str, df: DataFrame, key: str, val: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(key).alias("n_keys"),
            F.round(F.min(val), 2).alias("min_val"),
            F.round(F.max(val), 2).alias("max_val"),
        ).select(F.lit(name).alias("table_name"), "n_rows", "n_keys", "min_val", "max_val")

    out = profile("lineitem", _t(spark, sf_dir, "lineitem"), "l_orderkey", "l_extendedprice")
    out = out.unionByName(
        profile("orders", _t(spark, sf_dir, "orders"), "o_custkey", "o_totalprice")
    )
    return out.unionByName(
        profile("customer", _t(spark, sf_dir, "customer"), "c_nationkey", "c_acctbal")
    )


@register(
    "q69_recursive_month_spine",
    """
    WITH RECURSIVE bounds AS (
      SELECT date_trunc('year', MIN(o_orderdate)) AS ylo,
             date_trunc('month', MIN(o_orderdate)) AS lo,
             date_trunc('month', MAX(o_orderdate)) AS hi
      FROM orders
    ),
    years(y) AS (
      SELECT ylo FROM bounds
      UNION ALL
      SELECT y + INTERVAL 1 YEAR FROM years, bounds WHERE y < date_trunc('year', hi)
    ),
    spine AS (
      SELECT y + INTERVAL 1 MONTH * k AS m
      FROM years CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS k)
    ),
    clipped AS (
      SELECT m FROM spine CROSS JOIN bounds WHERE m >= lo AND m <= hi
    ),
    rev AS (
      SELECT date_trunc('month', o_orderdate) AS m,
             COUNT(*) AS n_orders,
             ROUND(SUM(o_totalprice), 2) AS revenue
      FROM orders GROUP BY 1
    )
    SELECT strftime(clipped.m, '%Y-%m') AS month,
           COALESCE(rev.n_orders, 0) AS n_orders,
           COALESCE(rev.revenue, 0.0) AS revenue
    FROM clipped LEFT JOIN rev ON clipped.m = rev.m
    """,
    "recursive-CTE month spine (WITH RECURSIVE, Spark 4) left-joined to "
    "monthly revenue — gap-fill via recursion; depth = number of YEARS "
    "(each step emits 12 months) because every recursive step is one Spark "
    "job — per-month recursion costs 12x the driver round-trips for the "
    "same rows; bounded+acyclic, spine joins broadcast",
)
def q69_recursive_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders").createOrReplaceTempView("sqlv69_orders")
    return spark.sql(
        """
        WITH RECURSIVE bounds AS (
          SELECT date_trunc('year', MIN(o_orderdate)) AS ylo,
                 date_trunc('month', MIN(o_orderdate)) AS lo,
                 date_trunc('month', MAX(o_orderdate)) AS hi
          FROM sqlv69_orders
        ),
        years(y) AS (
          SELECT ylo FROM bounds
          UNION ALL
          SELECT y + INTERVAL '1' YEAR FROM years, bounds
          WHERE y < date_trunc('year', hi)
        ),
        spine AS (
          SELECT to_timestamp(add_months(y, k)) AS m
          FROM years LATERAL VIEW explode(sequence(0, 11)) AS k
        ),
        clipped AS (
          SELECT m FROM spine CROSS JOIN bounds WHERE m >= lo AND m <= hi
        ),
        rev AS (
          SELECT date_trunc('month', o_orderdate) AS m,
                 COUNT(*) AS n_orders,
                 ROUND(SUM(o_totalprice), 2) AS revenue
          FROM sqlv69_orders GROUP BY 1
        )
        SELECT date_format(clipped.m, 'yyyy-MM') AS month,
               COALESCE(rev.n_orders, 0) AS n_orders,
               COALESCE(rev.revenue, 0.0) AS revenue
        FROM clipped LEFT JOIN rev ON clipped.m = rev.m
        """
    )


@register(
    "q70_lateral_topk_per_nation",
    """
    SELECT n.n_name AS nation, c.c_custkey, c.c_acctbal
    FROM nation n, LATERAL (
      SELECT c_custkey, c_acctbal FROM customer
      WHERE customer.c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_custkey LIMIT 2
    ) c
    """,
    "correlated LATERAL subquery with per-group ORDER BY + LIMIT (top-2 "
    "customers per nation) — the SQL-standard spelling of q04's window "
    "top-k; Catalyst de-correlates it into a ranked join, no per-row "
    "re-execution",
)
def q70_lateral_topk_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "nation").createOrReplaceTempView("sqlv70_nation")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("sqlv70_customer")
    return spark.sql(
        """
        SELECT n.n_name AS nation, c.c_custkey, c.c_acctbal
        FROM sqlv70_nation n, LATERAL (
          SELECT c_custkey, c_acctbal FROM sqlv70_customer
          WHERE sqlv70_customer.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey LIMIT 2
        ) c
        """
    )


@register(
    "q71_hll_partial_union",
    None,  # DataSketches HLL internals aren't SQL-reproducible in DuckDB →
    # rows-only check; exactness of MERGE parity + error bound are pinned by
    # tests/test_etl_core.py::test_hll_mergeability_and_error
    "two-level sketch aggregation: per-priority HLL sketches of the "
    "customer key, merged with hll_union_agg into the global distinct "
    "estimate — the pre-aggregate-sketches-per-partition / merge-at-query "
    "pattern that replaces full re-scans at 100 TB (sketch bytes per "
    "partition, not rows, cross the final shuffle)",
)
def q71_hll_partial_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    partials = orders.groupBy("o_orderpriority").agg(
        F.expr("hll_sketch_agg(o_custkey)").alias("sk"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return partials.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_partials"),
        F.sum("n_rows").cast("bigint").alias("n_orders"),
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").cast("bigint").alias(
            "approx_distinct_customers"
        ),
    )


@register(
    "q72_parameterized_sql",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders
    WHERE o_orderstatus = 'O' AND o_totalprice > 1000.0
    GROUP BY o_orderpriority
    """,
    "parameterized spark.sql (Spark 4 named-parameter binding, :name args) "
    "— the injection-safe SQL front door; parameters bind as literals so "
    "Catalyst still constant-folds and pushes the predicate to the scan",
)
def q72_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders").createOrReplaceTempView("sqlv72_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS revenue
        FROM sqlv72_orders
        WHERE o_orderstatus = :status AND o_totalprice > :min_price
        GROUP BY o_orderpriority
        """,
        args={"status": "O", "min_price": 1000.0},
    )


@register(
    "q73_scd2_historization",
    """
    SELECT user_id, event_id,
           value AS attr_value,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
           strftime(LEAD(ts) OVER w, '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
           (LEAD(ts) OVER w IS NULL) AS is_current
    FROM events WHERE ts IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    "SCD2 historization: each change event per key becomes a validity "
    "interval [valid_from, valid_to) with an is_current flag — one lead() "
    "window per key (single shuffle on user_id), the warehouse pattern for "
    "turning a CDC/event stream into an as-of-queryable dimension history",
)
def q73_scd2_historization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # NULL-ts change events excluded on both sides: they'd chain at
    # opposite ends of the validity sequence per engine (review r6)
    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        "event_id",
        F.col("value").alias("attr_value"),
        F.date_format("ts", fmt).alias("valid_from"),
        F.date_format(nxt, fmt).alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


@register(
    "dq03_outlier_detection",
    """
    WITH stats AS (
      SELECT o_orderpriority,
             CAST(ROUND(AVG(o_totalprice) * 100) AS BIGINT) AS mu_c,
             CAST(ROUND(STDDEV_SAMP(o_totalprice) * 300) AS BIGINT) AS thr_c
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN ABS(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)
                                  - s.mu_c) > s.thr_c
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           (s.mu_c + s.thr_c) / 100.0 AS upper_bound
    FROM orders o JOIN stats s USING (o_orderpriority)
    GROUP BY o.o_orderpriority, s.mu_c, s.thr_c
    """,
    "z-score outlier detection per group (3-sigma rule): one stats pass, "
    "one broadcast re-join of the tiny per-group stats, one flagging pass "
    "— the data-quality anomaly scan; at 100 TB both passes are shuffle-"
    "partial-agg shaped and the stats side is always broadcastable. The "
    "boundary is quantized to integer cents BEFORE comparison: mu/sigma "
    "carry partition-order ulp jitter, and an exact-count flag comparing "
    "raw doubles against them would be engine- and partitioning-flaky",
)
def dq03_outlier_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    stats = orders.groupBy("o_orderpriority").agg(
        F.round(F.avg("o_totalprice") * 100).cast("bigint").alias("mu_c"),
        F.round(F.stddev_samp("o_totalprice") * 300).cast("bigint").alias("thr_c"),
    )
    joined = orders.join(F.broadcast(stats), "o_orderpriority")
    x_c = F.round(F.col("o_totalprice") * 100).cast("bigint")
    outlier = (F.abs(x_c - F.col("mu_c")) > F.col("thr_c")).cast("int")
    return joined.groupBy("o_orderpriority", "mu_c", "thr_c").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(outlier).cast("bigint").alias("n_outliers"),
        ((F.col("mu_c") + F.col("thr_c")) / 100.0).alias("upper_bound"),
    ).drop("mu_c", "thr_c")


@register(
    "q74_map_hof_pipeline",
    """
    WITH g AS (
      SELECT o_orderstatus, substr(o_orderpriority, 1, 1) AS prio_digit,
             COUNT(*) AS cnt,
             ROUND(SUM(o_totalprice), 2) AS rev
      FROM orders GROUP BY 1, 2
    )
    SELECT o_orderstatus, prio_digit,
           CAST(cnt AS BIGINT) AS n_orders,
           rev / cnt AS avg_order_value
    FROM g WHERE cnt >= 50
    """,
    "map higher-order functions end-to-end: per-status maps built with "
    "map_from_entries, transform_keys (priority -> leading digit, "
    "injective), map_zip_with (revenue ⊗ count -> average), map_filter "
    "(min support), exploded back to rows — the MapType algebra q53 "
    "introduces, exercised as one chained pipeline; the oracle is the "
    "plain relational equivalent",
)
def q74_map_hof_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    per = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("o_totalprice"), 2).alias("rev"),
    )
    maps = per.groupBy("o_orderstatus").agg(
        F.map_from_entries(
            F.collect_list(F.struct("o_orderpriority", "cnt"))
        ).alias("cnt_map"),
        F.map_from_entries(
            F.collect_list(F.struct("o_orderpriority", "rev"))
        ).alias("rev_map"),
    )
    # transform_keys: '1-URGENT' -> '1' (injective on TPC-H priorities);
    # map_zip_with: rev/cnt per key; map_filter: minimum support
    digit = lambda k: F.substring(k, 1, 1)  # noqa: E731
    combined = maps.select(
        "o_orderstatus",
        F.map_filter(
            F.map_zip_with(
                F.transform_keys("cnt_map", lambda k, v: digit(k)),
                F.transform_keys("rev_map", lambda k, v: digit(k)),
                lambda k, c, r: F.struct(c.alias("cnt"), (r / c).alias("avg")),
            ),
            lambda k, v: v["cnt"] >= 50,
        ).alias("m"),
    )
    exploded = combined.select(
        "o_orderstatus", F.explode("m").alias("prio_digit", "v")
    )
    return exploded.select(
        "o_orderstatus",
        "prio_digit",
        F.col("v.cnt").cast("bigint").alias("n_orders"),
        F.col("v.avg").alias("avg_order_value"),
    )
