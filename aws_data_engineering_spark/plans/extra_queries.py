"""Round-3 breadth: remaining TPC-H query shapes (Q2/Q7/Q8/Q11/Q14/Q15/Q19
analogues over the fixture star schema), binary-object ingestion via the
``binaryFile`` source, real MP4 container metadata, embedding-centroid
assignment, partition-volume anomaly detection, and the streaming
session-window twin of q61.

This module registers LAST (see ``registry._load_all``) so the queries land
at the tail of the driver's not-yet-checked sample prefix — earlier rounds'
unchecked queries keep rotation priority.

Hash-match rules as registry docstring: identical aliases both sides, ROUND
on float aggregates, ratio columns derived from already-rounded operands so
both engines divide bit-identical doubles.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_data_engineering_spark.operators import graph as G
from aws_data_engineering_spark.operators import multimodal as M
from aws_data_engineering_spark.operators import similarity as SIM
from aws_data_engineering_spark.operators import sampling as SAMP
from aws_data_engineering_spark.operators import text as T
from aws_data_engineering_spark.plans.registry import register
from aws_data_engineering_spark.sources.readers import (
    read_binary_files,
    write_binary_objects,
)
from aws_data_engineering_spark.sources.tables import load_table
from aws_data_engineering_spark.storage import scratch_dir


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _rev():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


# --------------------------------------------------------------------------
# q75 — TPC-H Q14 shape: promoted-part revenue share by ship month. CASE
# inside SUM (conditional aggregation); part is a broadcast dim; the share
# divides the two already-rounded sums so both engines divide bit-identical
# doubles.
# --------------------------------------------------------------------------
@register(
    "q75_promo_revenue_share",
    """
    SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS ship_month,
           ROUND(SUM(CASE WHEN p_type = 'PROMO'
                          THEN l_extendedprice * (1 - l_discount)
                          ELSE 0 END), 2) AS promo_revenue,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue,
           (100.0 * ROUND(SUM(CASE WHEN p_type = 'PROMO'
                                   THEN l_extendedprice * (1 - l_discount)
                                   ELSE 0 END), 2))
             / ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY 1
    """,
    "TPC-H Q14 shape: conditional aggregation (CASE in SUM) — promo revenue "
    "share per month, part dim broadcast, date filter pushed to the scan",
)
def q75_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    promo = F.when(F.col("p_type") == "PROMO", _rev()).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            F.round(F.sum(promo), 2).alias("promo_revenue"),
            F.round(F.sum(_rev()), 2).alias("total_revenue"),
        )
        .withColumn(
            "promo_pct",
            (F.lit(100.0) * F.col("promo_revenue")) / F.col("total_revenue"),
        )
    )


# --------------------------------------------------------------------------
# q76 — TPC-H Q7 shape: bilateral shipping volume between two nations by
# year. Two independent roles for the same dim (supplier-nation vs
# customer-nation); both geo lookups fold dim-side and broadcast, so the
# fact side shuffles once, for the lineitem⨝orders join.
# --------------------------------------------------------------------------
@register(
    "q76_volume_shipping",
    """
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INT) AS ship_year,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
       OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
    GROUP BY 1, 2, 3
    """,
    "TPC-H Q7 shape: nation-pair trade volume by year — the same dim joined "
    "in two roles (supplier geo + customer geo), both broadcast",
)
def q76_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    # supplier geo: supplier⨝nation folded dim-side, broadcast
    supp_geo = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    # customer geo, same shape
    cust_geo = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust_geo), orders.o_custkey == cust_geo.c_custkey)
        .join(F.broadcast(supp_geo), li.l_suppkey == supp_geo.s_suppkey)
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year")
        )
        .agg(
            F.round(F.sum(_rev()), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# q77 — TPC-H Q8 shape: one nation's market share of a region's ECONOMY-part
# order volume per year. Share = ratio of the two rounded sums.
# --------------------------------------------------------------------------
@register(
    "q77_market_share",
    """
    WITH sales AS (
      SELECT CAST(year(o_orderdate) AS INT) AS order_year,
             l_extendedprice * (1 - l_discount) AS volume,
             sn.n_name AS supp_nation
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN region ON cn.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
    )
    SELECT order_year,
           ROUND(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END), 2)
             AS nation_volume,
           ROUND(SUM(volume), 2) AS total_volume,
           ROUND(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END), 2)
             / ROUND(SUM(volume), 2) AS mkt_share
    FROM sales GROUP BY order_year
    """,
    "TPC-H Q8 shape: supplier-nation market share of ASIA ECONOMY-part "
    "volume per order year — 7-table join, every dim broadcast",
)
def q77_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    # customers in ASIA (filter applied dim-side, so the semi-filter on the
    # fact side is a broadcast join against an already-reduced dim)
    cust_asia = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    supp_geo = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    nation_vol = F.when(F.col("supp_nation") == "NATION_3", _rev()).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust_asia), orders.o_custkey == cust_asia.c_custkey)
        .join(F.broadcast(supp_geo), li.l_suppkey == supp_geo.s_suppkey)
        .groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            F.round(F.sum(nation_vol), 2).alias("nation_volume"),
            F.round(F.sum(_rev()), 2).alias("total_volume"),
        )
        .withColumn("mkt_share", F.col("nation_volume") / F.col("total_volume"))
    )


# --------------------------------------------------------------------------
# q78 — TPC-H Q15 shape: top supplier(s) by quarterly revenue. The "view"
# (per-supplier revenue) is aggregated once; its max comes back as a
# broadcast scalar, not a re-aggregation — one pass over the fact table.
# --------------------------------------------------------------------------
@register(
    "q78_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
    "TPC-H Q15 shape: argmax over an aggregated revenue view via broadcast "
    "scalar max (equality on 2-dec-rounded doubles is engine-stable)",
)
def q78_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(F.sum(_rev()), 2).alias("total_revenue")
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    supplier = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(supplier), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# --------------------------------------------------------------------------
# q79 — TPC-H Q19 shape: disjunction of conjunctive brand/size/quantity
# bands. Catalyst extracts the common p_brand IN (...) / p_size range as a
# pushable filter on the broadcast part side; the residual OR evaluates
# post-join in codegen.
# --------------------------------------------------------------------------
@register(
    "q79_disjunctive_bands",
    """
    SELECT l_returnflag,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 20)
       OR (p_brand = 'Brand#12' AND p_size BETWEEN 10 AND 30
           AND l_quantity >= 10 AND l_quantity <= 30)
       OR (p_brand = 'Brand#13' AND p_size BETWEEN 20 AND 50
           AND l_quantity >= 20 AND l_quantity <= 40)
    GROUP BY l_returnflag
    """,
    "TPC-H Q19 shape: OR-of-ANDs predicate bands over a broadcast part join",
)
def q79_disjunctive_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")

    def band(brand: str, s0: int, s1: int, q0: int, q1: int):
        return (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(s0, s1)
            & (F.col("l_quantity") >= q0)
            & (F.col("l_quantity") <= q1)
        )

    cond = (
        band("Brand#11", 1, 15, 1, 20)
        | band("Brand#12", 10, 30, 10, 30)
        | band("Brand#13", 20, 50, 20, 40)
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .groupBy("l_returnflag")
        .agg(
            F.round(F.sum(_rev()), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# q80 — TPC-H Q11 shape (no partsupp table in the fixture schema, so the
# "stock value" is lineitem revenue per part): parts whose value exceeds
# 1.1× the average part value. Exactness discipline (the dq03 rule —
# round-2-dec doubles were NOT enough: at sf0.1 part 15431's sum drifted a
# cent between engines and flipped the output hash): each row's revenue is
# FLOOR-quantized to integer 1e-4 units (bit-identical doubles → identical
# ints), sums are then order-free BIGINT arithmetic, and the 1.1×-mean
# membership test cross-multiplies (10·val·np > 11·tot) so no division or
# rounding ever touches the compare. The global total/count aggregate is a
# 1-row broadcast.
# --------------------------------------------------------------------------
@register(
    "q80_important_parts",
    """
    WITH v AS (
      SELECT l_partkey,
             CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000)
                           AS BIGINT)) AS BIGINT) AS val_q
      FROM lineitem GROUP BY l_partkey
    ),
    t AS (SELECT CAST(SUM(val_q) AS BIGINT) AS tot_q, COUNT(*) AS np FROM v)
    SELECT l_partkey, val_q / 10000.0 AS part_value
    FROM v, t
    -- widen before multiplying: 10·val·np overflows int64 around sf1k
    -- (HUGEINT here; DECIMAL(38,0) on the Spark side — both exact, and
    -- Spark decimal overflow is LOUD under ANSI instead of wrapping)
    WHERE 10 * CAST(val_q AS HUGEINT) * np > 11 * CAST(tot_q AS HUGEINT)
    """,
    "TPC-H Q11 shape: per-part value filtered against a broadcast global "
    "scalar threshold (1.1x the mean part value) — per-row integer "
    "quantization + cross-multiplied compare, zero float boundaries",
)
def q80_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    v = li.groupBy("l_partkey").agg(
        F.sum(F.floor(_rev() * 10000).cast("bigint")).alias("val_q")
    )
    t = v.agg(F.sum("val_q").alias("tot_q"), F.count(F.lit(1)).alias("np"))
    dec = "decimal(38,0)"
    return (
        v.crossJoin(F.broadcast(t))
        .filter(
            F.lit(10) * F.col("val_q").cast(dec) * F.col("np")
            > F.lit(11) * F.col("tot_q").cast(dec)
        )
        .select("l_partkey", (F.col("val_q") / 10000.0).alias("part_value"))
    )


# --------------------------------------------------------------------------
# q81 — TPC-H Q2 shape (no partsupp: supply cost ≈ min observed unit price
# in lineitem): cheapest supplier per size-25 part. The per-part argmin is
# MIN over a (price, suppkey) struct — partial-aggregable, no window sort —
# with suppkey as the deterministic tie-break. The unit price is
# FLOOR-quantized to integer 1e-4 units per ROW before any aggregation
# (bit-identical doubles → identical ints on both engines): at sf0.1 an
# edge-ROUND(x,4) hit a .5 boundary where Java shortest-repr HALF_UP and
# C binary rounding disagree (312.3088 vs 312.3087) — FLOOR on the same
# bits can never diverge.
# --------------------------------------------------------------------------
@register(
    "q81_min_cost_supplier",
    """
    WITH unit AS (
      SELECT l_partkey, l_suppkey,
             MIN(CAST(FLOOR(l_extendedprice / l_quantity * 10000) AS BIGINT))
               AS unit_q
      FROM lineitem GROUP BY 1, 2
    ),
    best AS (
      SELECT l_partkey, l_suppkey, unit_q,
             ROW_NUMBER() OVER (PARTITION BY l_partkey
                                ORDER BY unit_q, l_suppkey) AS rnk
      FROM unit
    )
    SELECT p_partkey, p_name, s_suppkey, s_name,
           unit_q / 10000.0 AS min_unit_price
    FROM best
    JOIN part ON p_partkey = l_partkey AND p_size = 25
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE rnk = 1
    """,
    "TPC-H Q2 shape: cheapest supplier per part via single-pass "
    "MIN(struct(price, suppkey)) argmin — no window shuffle-sort; "
    "integer-quantized unit price, zero float boundaries",
)
def q81_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    unit = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(
            F.floor(
                F.col("l_extendedprice") / F.col("l_quantity") * 10000
            ).cast("bigint")
        ).alias("unit_q")
    )
    best = unit.groupBy("l_partkey").agg(
        F.min(F.struct("unit_q", "l_suppkey")).alias("m")
    )
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_size") == 25)
        .select("p_partkey", "p_name")
    )
    supplier = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        best.join(F.broadcast(part), best.l_partkey == part.p_partkey)
        .join(F.broadcast(supplier), F.col("m.l_suppkey") == supplier.s_suppkey)
        .select(
            "p_partkey",
            "p_name",
            "s_suppkey",
            "s_name",
            (F.col("m.unit_q") / 10000.0).alias("min_unit_price"),
        )
    )


# --------------------------------------------------------------------------
# dq04 — partition-volume anomaly detection: daily order counts vs the
# table-wide mean/stddev. Mean and variance derive from EXACT integer sums
# (Σn, Σn²) cast to double, so the z-scores are bit-identical across
# engines — no stddev_samp summation-order drift, no boundary flakes on
# the |z| > 2 cut. This is the "did yesterday's load look wrong" check a
# lake pipeline runs after every ingest.
# --------------------------------------------------------------------------
@register(
    "dq04_partition_volume_anomaly",
    """
    WITH d AS (
      SELECT strftime(date_trunc('day', o_orderdate), '%Y-%m-%d') AS order_day,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1
    ),
    s AS (
      SELECT CAST(SUM(n_orders) AS DOUBLE) / COUNT(*) AS mean,
             CAST(SUM(n_orders * n_orders) AS DOUBLE) / COUNT(*) AS m2
      FROM d
    )
    SELECT order_day, n_orders,
           ROUND((n_orders - mean) / sqrt(m2 - mean * mean), 3) AS z_score
    FROM d, s
    -- zero-variance guard: a perfectly steady feed has no outliers; an
    -- unguarded 0/0 divide yields NaN/Inf z-scores (double division is
    -- IEEE 754 on BOTH engines, even under Spark ANSI mode) — the guard
    -- keeps both engines emitting nothing instead of junk rows
    WHERE m2 - mean * mean > 0
      AND abs((n_orders - mean) / sqrt(m2 - mean * mean)) > 2
    """,
    "data quality: daily ingest-volume outliers via z-score from exact "
    "integer moment sums (broadcast 1-row stats, bit-stable cut)",
)
def dq04_partition_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    d = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day")
    ).agg(F.count(F.lit(1)).alias("n_orders"))
    s = d.agg(
        (F.sum("n_orders").cast("double") / F.count(F.lit(1))).alias("mean"),
        (
            F.sum(F.col("n_orders") * F.col("n_orders")).cast("double")
            / F.count(F.lit(1))
        ).alias("m2"),
    )
    z = (F.col("n_orders") - F.col("mean")) / F.sqrt(
        F.col("m2") - F.col("mean") * F.col("mean")
    )
    var = F.col("m2") - F.col("mean") * F.col("mean")
    return (
        d.crossJoin(F.broadcast(s))
        # zero-variance guard BEFORE the divide: double division is IEEE
        # 754 even under ANSI (no crash) — this drops the NaN/Inf z-score
        # rows a perfectly steady feed (0/0 or x/0) would otherwise emit
        .filter(var > 0)
        .filter(F.abs(z) > 2)
        .select("order_day", "n_orders", F.round(z, 3).alias("z_score"))
    )


# --------------------------------------------------------------------------
# c05 — binary-object ingestion through Spark's built-in ``binaryFile``
# source: the front door for multimodal corpora (one image/audio file per
# object in an object store). Objects are materialized executor-side
# (foreachPartition — no blob transits the driver), then scanned back
# distributed; doc identity is recovered from the path, and the md5 proves
# byte-exact round-trip. At 100 TB the same two calls run against s3a://
# with pathGlobFilter pruning at listing time.
# --------------------------------------------------------------------------
@register(
    "c05_binaryfile_scan",
    """
    SELECT doc_id,
           CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents
    """,
    "binaryFile source round-trip: executor-side object write -> "
    "distributed binary scan -> path-derived id + byte length + md5 "
    "(byte-exact content proof)",
)
def c05_binaryfile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("data")
    )
    out_dir = scratch_dir("c05")
    write_binary_objects(docs, out_dir, "doc_id", "data")
    files = read_binary_files(spark, out_dir, glob="obj_*.bin")
    return files.select(
        F.regexp_extract(F.col("path"), r"obj_(\d+)\.bin$", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


# --------------------------------------------------------------------------
# m08 — REAL MP4 container metadata: structurally genuine ISO-BMFF blobs
# (ftyp + moov/mvhd + per-track trak/tkhd, big-endian boxes, 16.16 fixed
# point) parsed back by a real box walker inside mapInPandas. The oracle's
# closed-form values only match if box sizes, the mvhd layout, and the
# fixed-point unpack are all exactly right. duration_ms is the same two
# IEEE ops (int * 1000.0, / timescale) on both engines — no rounding.
# --------------------------------------------------------------------------
@register(
    "m08_mp4_container_metadata",
    """
    SELECT doc_id AS id,
           'isom' AS major_brand,
           CAST(600 AS INT) AS timescale,
           CAST((doc_id % 240 + 1) * 60 AS INT) AS duration_ticks,
           CAST((doc_id % 240 + 1) * 60 AS DOUBLE) * 1000 / 600 AS duration_ms,
           CAST(1 + doc_id % 3 AS INT) AS n_tracks,
           CAST(16 * (1 + doc_id % 8) AS INT) AS width,
           CAST(16 * (1 + doc_id % 6) AS INT) AS height
    FROM documents
    """,
    "REAL video-container decode: genuine ISO-BMFF/MP4 box structure "
    "(ftyp, moov/mvhd timescale+duration, trak/tkhd 16.16 dimensions) "
    "walked by a pure-Python parser inside mapInPandas; sample decode "
    "needs a codec library (absent) and stays out of scope",
)
def m08_mp4_container_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    videos = M.synthesize_mp4_videos(docs, "doc_id")
    return M.decode_mp4_metadata(videos, "id", "data")


# --------------------------------------------------------------------------
# e03 — embedding classification by label centroid: per-label mean vectors
# (rounded to 6dp on both engines, killing summation-order drift), then
# every vector is assigned to its nearest centroid by cosine. The fold
# order of the Spark-side cosine matches DuckDB's list_cosine_similarity
# (see operators/similarity.py), so raw scores are bit-identical and the
# argmax — computed as a single-pass MAX_BY over a (score, -label) struct,
# no window sort — is deterministic. Output is the label confusion matrix.
# --------------------------------------------------------------------------
@register(
    "e03_centroid_assignment",
    """
    WITH ex AS (
      SELECT label, gs AS pos, CAST(embedding AS DOUBLE[])[gs] AS v
      FROM embeddings, generate_series(1, 64) g(gs)
    ),
    comp AS (
      SELECT label, pos, ROUND(SUM(v) / COUNT(*), 6) AS v
      FROM ex GROUP BY label, pos
    ),
    cent AS (
      SELECT label AS cand, list(v ORDER BY pos) AS centroid
      FROM comp GROUP BY label
    ),
    scored AS (
      SELECT e.vec_id, e.label, c.cand,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.centroid)
               AS score
      FROM embeddings e CROSS JOIN cent c
    ),
    best AS (
      SELECT vec_id, label, cand, score,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY score DESC, cand) AS rnk
      FROM scored
    )
    SELECT label, cand AS assigned_label,
           COUNT(*) AS n_vectors,
           ROUND(SUM(score), 4) / COUNT(*) AS avg_score
    FROM best WHERE rnk = 1
    GROUP BY label, cand
    """,
    "embedding-centroid assignment (nearest-class-mean classification): "
    "10 broadcast centroids x fact-side vectors, single-pass MAX_BY argmax, "
    "bit-exact fold-order-matched cosine; output = confusion matrix",
)
def e03_centroid_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    )
    ex = emb.select("label", F.posexplode("e").alias("pos", "v"))
    comp = ex.groupBy("label", "pos").agg(
        F.round(F.sum("v") / F.count(F.lit(1)), 6).alias("v")
    )
    cent = comp.groupBy(F.col("label").alias("cand")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "v"))), lambda s: s["v"]
        ).alias("centroid")
    )
    scored = emb.crossJoin(F.broadcast(cent)).withColumn(
        "score", SIM.cosine(F.col("e"), F.col("centroid"))
    )
    best = scored.groupBy("vec_id", "label").agg(
        F.max_by(
            F.struct("cand", "score"),
            F.struct(F.col("score"), (-F.col("cand")).alias("neg_cand")),
        ).alias("b")
    )
    return best.groupBy("label", F.col("b.cand").alias("assigned_label")).agg(
        F.count(F.lit(1)).alias("n_vectors"),
        (F.round(F.sum("b.score"), 4) / F.count(F.lit(1))).alias("avg_score"),
    )


# --------------------------------------------------------------------------
# st06 — streaming session windows (the streaming twin of q61, oracle
# unchanged): a real Structured Streaming execution of
# F.session_window over the events stream. Append mode only emits a
# session once the watermark proves it can't grow, and a drained bounded
# source never advances the watermark past its last event — so a sentinel
# event 2h past max(ts) (user -1, excluded from output on both sides)
# flushes the final sessions. On an unbounded stream the same plan runs
# verbatim without the sentinel.
# --------------------------------------------------------------------------
@register(
    "st06_stream_session_window",
    """
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                         OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= 1800 * 1000000
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session,
             event_id
      FROM events WHERE ts IS NOT NULL
    ), sessions AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S.%f')
             AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM sessions GROUP BY user_id, session_id
    """,
    "Structured Streaming session_window per user (30min gap, append mode, "
    "availableNow) — engine-managed dynamic-gap state; oracle is q61's "
    "batch gaps-and-islands SQL, so stream/batch parity is hash-checked",
)
def st06_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_data_engineering_spark.streaming import (
        read_events_stream,
        run_to_memory_sink,
        session_window_counts,
    )

    path = os.path.join(sf_dir, "events.parquet")
    events = _t(spark, sf_dir, "events")
    max_us = events.agg(F.max(F.unix_micros(F.col("ts")))).collect()[0][0]
    # sentinel: one event 2h past the last real one, in its own directory
    # (raw ns-encoded bigint ts, the encoding read_events_stream expects
    # from a bigint-typed footer). user -1 never reaches the output: its
    # session can't close (nothing advances the watermark past it).
    sent_dir = scratch_dir("st06")
    sentinel_ns = (max_us + 2 * 3600 * 1_000_000) * 1000
    spark.createDataFrame(
        [(int(1e9), sentinel_ns, -1, "sentinel", 0.0, None)],
        "event_id bigint, ts bigint, user_id bigint, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(sent_dir)

    stream = read_events_stream(spark, path).union(
        read_events_stream(spark, sent_dir)
    )
    sess = session_window_counts(stream, gap="30 minutes", watermark="0 seconds")
    name = f"st06_{uuid.uuid4().hex[:8]}"
    from aws_data_engineering_spark.streaming import scaled_stream_shuffle

    with scaled_stream_shuffle(spark, path, sent_dir):
        out = run_to_memory_sink(sess, name, "append")
    return out.filter(F.col("user_id") >= 0)


# --------------------------------------------------------------------------
# d11 — Bloom-filter decontamination: the compact-membership companion to
# d09's broadcast semi-join. The m=2^16-bit filter is a relational bitmap
# (distinct set positions — bounded by m, not benchmark size, so it
# broadcasts at any corpus scale); membership = all k=4 md5-derived
# positions set. The exact check runs alongside, so the oracle verifies
# the FALSE POSITIVES too — the filter's approximation is itself
# bit-reproducible in DuckDB.
# --------------------------------------------------------------------------
from aws_data_engineering_spark.operators import dedup as D  # noqa: E402

_D11_BENCH = ("src0", "src1")
_D11_IN = "('" + "', '".join(_D11_BENCH) + "')"


@register(
    "d11_bloom_contamination",
    D.bloom_oracle_sql(_D11_IN, shingle_n=5),
    "Bloom-filter benchmark decontamination (m=2^16, k=4): bit positions "
    "as a broadcast relational bitmap, membership as equi-join + count; "
    "exact semi-join alongside quantifies the false-positive rate, and "
    "the oracle reproduces the FPs bit-exactly",
)
def d11_bloom_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    bench_pred = F.col("source").isin(*_D11_BENCH)
    out = D.bloom_contamination(
        docs.filter(~bench_pred), docs.filter(bench_pred), "doc_id", "text", shingle_n=5
    )
    return out.withColumnRenamed("id", "doc_id")


# --------------------------------------------------------------------------
# p07 — class-balanced downsample: exactly min(n, class size) rows per
# label by deterministic md5 rank. The rebalancing step before training on
# skewed class distributions; idempotent under retries/repartitioning.
# --------------------------------------------------------------------------
from aws_data_engineering_spark.operators import sampling as SA  # noqa: E402

_P07_N = 20


@register(
    "p07_stratified_sample",
    f"""
    SELECT vec_id, label, strat_rank FROM (
      SELECT vec_id, label,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY label
               ORDER BY md5(CAST(vec_id AS VARCHAR) || 'strat-v1'), vec_id
             ) AS INT) AS strat_rank
      FROM embeddings
    ) WHERE strat_rank <= {_P07_N}
    """,
    "stratified class-balanced sampling: deterministic md5-ranked top-n "
    "per label (cap the dominant class), idempotent and engine-portable",
)
def p07_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "label")
    return SA.stratified_topn(emb, "label", "vec_id", _P07_N).select(
        "vec_id", "label", "strat_rank"
    )


# --------------------------------------------------------------------------
# c06 — custom SINK through the Python Data Source API (the write half of
# c01/st07's connector story): documents go out through the pyjsonl
# writer's two-phase task commit and come back through spark.read.json;
# the md5 over the round-tripped text proves byte-exact serialization.
# --------------------------------------------------------------------------
@register(
    "c06_python_datasource_sink",
    """
    SELECT doc_id, lang, source, n_chars, md5(text) AS content_md5
    FROM documents
    """,
    "Python Data Source WRITER: distributed JSON-lines sink with real "
    "two-phase commit (executor .tmp parts -> driver atomic publish + "
    "manifest), round-tripped through spark.read.json and md5-checked",
)
def c06_python_datasource_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_data_engineering_spark.sources.python_datasource import write_jsonl

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    out_dir = scratch_dir("c06")
    write_jsonl(docs, out_dir)
    back = spark.read.schema(
        "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).json(os.path.join(out_dir, "part-*.jsonl"))
    return back.select(
        "doc_id", "lang", "source", "n_chars", F.md5(F.encode("text", "utf-8")).alias("content_md5")
    )


# --------------------------------------------------------------------------
# t16 — TF-IDF top terms per document: tf and df from one tokenized pass,
# idf against the full corpus (N and df as broadcast aggregates), top-3
# terms per doc by (tfidf DESC, token ASC). ln() agrees bit-for-bit across
# engines on these inputs (t15 precedent); the rank compares bit-identical
# doubles, and the displayed score is rounded after ranking.
# --------------------------------------------------------------------------
@register(
    "t16_tfidf_top_terms",
    f"""
    WITH tf AS (
      SELECT doc_id, UNNEST({T.tokens_sql('text')}) AS token
      FROM documents
    ), tfc AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM tf GROUP BY 1, 2
    ), dfc AS (
      SELECT token, COUNT(*) AS df FROM tfc GROUP BY token
    ), n AS (
      SELECT COUNT(*) AS n_docs FROM documents
    ), scored AS (
      SELECT t.doc_id, t.token, t.tf,
             t.tf * ln(CAST(n_docs AS DOUBLE) / df) AS tfidf
      FROM tfc t JOIN dfc USING (token) CROSS JOIN n
      WHERE t.doc_id < 50
    )
    SELECT doc_id, token, tf, ROUND(tfidf, 6) AS tfidf, rnk FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                        ORDER BY tfidf DESC, token) AS INT) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """,
    "TF-IDF top-3 terms per doc: corpus-wide df re-joined on token "
    "(shuffle equi-join, no driver-side vocabulary), N as a broadcast "
    "1-row aggregate",
)
def t16_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(T.tokens("text")).alias("token")
    )
    tfc = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfc = tfc.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tfc.filter(F.col("doc_id") < 50)
        .join(dfc, "token")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "token", "tf", F.round("tfidf", 6).alias("tfidf"), "rnk")
    )


# --------------------------------------------------------------------------
# st09 — streaming LEFT OUTER interval join: st02's attribution join plus
# the null-extended unattributed purchases, which the engine may only emit
# once the click-side watermark proves no qualifying click can still
# arrive. Sentinel purchase+click events (user -1) past max(ts)+interval
# flush that tail on the bounded drain; oracle is the batch LEFT JOIN.
# --------------------------------------------------------------------------
@register(
    "st09_stream_outer_attribution",
    """
    SELECT p.event_id AS purchase_id,
           p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
           c.event_id AS click_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts
    FROM (SELECT * FROM events
          WHERE event_type = 'purchase' AND ts IS NOT NULL) p
    LEFT JOIN (SELECT * FROM events
               WHERE event_type = 'click' AND ts IS NOT NULL) c
      ON p.user_id = c.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 30 MINUTES
    """,
    "stream-stream LEFT OUTER interval join (watermark-gated null "
    "emission for unattributed purchases), run as a real streaming "
    "execution and hash-checked against the batch LEFT JOIN",
)
def st09_stream_outer_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_data_engineering_spark.streaming import (
        purchase_click_attribution,
        read_events_stream,
        run_to_memory_sink,
    )

    path = os.path.join(sf_dir, "events.parquet")
    events = _t(spark, sf_dir, "events")
    max_us = events.agg(F.max(F.unix_micros(F.col("ts")))).collect()[0][0]
    sent_dir = scratch_dir("st09")
    sentinel_ns = (max_us + 2 * 3600 * 1_000_000) * 1000
    # one sentinel per branch: each watermark is tracked AFTER the
    # event_type filter, so both the purchase and click branch need to see
    # a far-future event to close their state
    spark.createDataFrame(
        [
            (int(1e9), sentinel_ns, -1, "purchase", 0.0, None),
            (int(1e9) + 1, sentinel_ns, -1, "click", 0.0, None),
        ],
        "event_id bigint, ts bigint, user_id bigint, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(sent_dir)

    stream = read_events_stream(spark, path).union(
        read_events_stream(spark, sent_dir)
    )
    joined = purchase_click_attribution(
        stream, attribution_minutes=30, watermark="0 seconds", join_type="leftOuter"
    )
    name = f"st09_{uuid.uuid4().hex[:8]}"
    from aws_data_engineering_spark.streaming import scaled_stream_shuffle

    with scaled_stream_shuffle(spark, path, sent_dir):
        out = run_to_memory_sink(joined, name, "append")
    return out.filter(F.col("user_id") >= 0)


# --------------------------------------------------------------------------
# s07 — product-quantization ADC top-k (faiss IndexPQ shape): candidates
# compress to M byte codes, queries become integer nano-unit lookup
# tables, scoring is LUT gathers inside one mapInPandas pass with
# per-batch partial top-k. The int64 ADC score makes the cross-subspace
# sum order-free, so even this approximate index is bit-reproducible in
# the DuckDB oracle. Compose with s06's coarse quantizer for IVFPQ.
# --------------------------------------------------------------------------
@register(
    "s07_ann_pq_topk",
    SIM.pq_oracle_sql(m_sub=8, k_codes=16, subdim=8, k=5, query_pred="vec_id < 10"),
    "product quantization + asymmetric distance computation top-k: "
    "deterministic dyadic-rational codebook, integer-quantized ADC scores, "
    "32x vector compression on the candidate side",
)
def s07_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.pq_topk(
        emb.filter(F.col("vec_id") < 10),
        emb,
        SIM.pq_codebook(m_sub=8, k_codes=16, subdim=8),
        k=5,
    )


# --------------------------------------------------------------------------
# t17 — Gopher-style quality rule audit (Rae et al. 2021 §A.1.1): word
# count bounds, mean word length bounds, distinct-token ratio, and
# max-token repetition, each as a per-document boolean plus the combined
# keep flag. All array HOFs over the row's own token list — a 100 TB
# audit is a single shuffle-free map stage — and every ratio is an
# exact-int division, so the booleans are bit-stable across engines.
# --------------------------------------------------------------------------
@register(
    "t17_gopher_quality_rules",
    f"""
    WITH feats AS (
      SELECT doc_id, source,
             {T.tokens_sql('text')} AS toks
      FROM documents
    ), m AS (
      SELECT doc_id, source,
             LEN(toks) AS n_words,
             list_sum(list_transform(toks, t -> LENGTH(t))) AS char_sum,
             LEN(list_distinct(toks)) AS n_distinct,
             list_max(list_transform(list_distinct(toks),
                      t -> LEN(list_filter(toks, x -> x = t)))) AS top_cnt
      FROM feats
    )
    SELECT doc_id, source,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(char_sum AS DOUBLE) / n_words AS mean_word_len,
           CAST(n_distinct AS DOUBLE) / n_words AS distinct_ratio,
           CAST(top_cnt AS DOUBLE) / n_words AS top_token_frac,
           n_words BETWEEN 50 AND 100000 AS r_word_count,
           (CAST(char_sum AS DOUBLE) / n_words) BETWEEN 3.0 AND 10.0
             AS r_mean_len,
           (CAST(n_distinct AS DOUBLE) / n_words) >= 0.2 AS r_distinct,
           (CAST(top_cnt AS DOUBLE) / n_words) <= 0.1 AS r_repetition,
           (n_words BETWEEN 50 AND 100000)
             AND ((CAST(char_sum AS DOUBLE) / n_words) BETWEEN 3.0 AND 10.0)
             AND ((CAST(n_distinct AS DOUBLE) / n_words) >= 0.2)
             AND ((CAST(top_cnt AS DOUBLE) / n_words) <= 0.1) AS keep
    FROM m
    """,
    "Gopher-style quality rule audit: per-document structural thresholds "
    "(word count / mean word length / distinct ratio / repetition) as a "
    "shuffle-free map stage with bit-stable exact-int ratios",
)
def t17_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    lo_w, hi_w, lo_ml, hi_ml, min_dr, max_tf = T.GOPHER_BOUNDS
    docs = _t(spark, sf_dir, "documents")
    # O(n)-per-row Arrow kernel (the JVM HOF mode count is O(distinct x n)
    # interpreted — quadratic on long documents); identical integer outputs
    m = T.gopher_metrics(docs, ("doc_id", "source"), "text")
    mean_len = F.col("char_sum").cast("double") / F.col("n_words")
    dist_ratio = F.col("n_distinct").cast("double") / F.col("n_words")
    top_frac = F.col("top_cnt").cast("double") / F.col("n_words")
    r_wc = F.col("n_words").between(lo_w, hi_w)
    r_ml = mean_len.between(lo_ml, hi_ml)
    r_dr = dist_ratio >= min_dr
    r_tf = top_frac <= max_tf
    return m.select(
        "doc_id",
        "source",
        F.col("n_words").cast("bigint").alias("n_words"),
        mean_len.alias("mean_word_len"),
        dist_ratio.alias("distinct_ratio"),
        top_frac.alias("top_token_frac"),
        r_wc.alias("r_word_count"),
        r_ml.alias("r_mean_len"),
        r_dr.alias("r_distinct"),
        r_tf.alias("r_repetition"),
        (r_wc & r_ml & r_dr & r_tf).alias("keep"),
    )


# --------------------------------------------------------------------------
# q82 — TPC-H Q10 shape: top-20 customers by revenue lost to returned
# items in a quarter. Fact side filters (returnflag + order date window)
# push to the scans; customer/nation fold dim-side and broadcast, so the
# only fact shuffle is lineitem⨝orders on orderkey; top-20 runs as
# TakeOrderedAndProject, never a global sort.
# --------------------------------------------------------------------------
@register(
    "q82_returned_item_revenue",
    """
    SELECT c_custkey, c_name, n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           ROUND(MAX(c_acctbal), 2) AS c_acctbal
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-07-01'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
    "TPC-H Q10 shape: top-20 customers by returned-item revenue — "
    "pushed-down flag+date filters, dim-side geo fold, TakeOrdered top-k",
)
def q82_returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cust_geo = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "c_name", "n_name", "c_acctbal")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust_geo), orders.o_custkey == cust_geo.c_custkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(F.sum(_rev()), 2).alias("revenue"),
            F.round(F.max("c_acctbal"), 2).alias("c_acctbal"),
        )
        .select("c_custkey", "c_name", "n_name", "revenue", "c_acctbal")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# dq05 — freshness/completeness audit: generate the expected hour spine
# between the observed min and max event time (sequence(), no driver
# loop), left-join actual per-hour arrival counts, and report every hour
# whose volume is zero or below threshold. The spine is O(hours), tiny
# next to the fact table at any scale; the per-hour counts are one
# partial-aggregated groupBy over a column-pruned scan.
# --------------------------------------------------------------------------
@register(
    "dq05_freshness_gaps",
    """
    WITH bounds AS (
      SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
      FROM events
    ), spine AS (
      SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_start
      FROM bounds
    ), actual AS (
      SELECT date_trunc('hour', ts) AS hour_start, COUNT(*) AS n_events
      FROM events GROUP BY 1
    )
    SELECT strftime(s.hour_start, '%Y-%m-%d %H:%M:%S') AS hour_start,
           COALESCE(a.n_events, 0) AS n_events,
           COALESCE(a.n_events, 0) = 0 AS is_gap,
           COALESCE(a.n_events, 0) < 5 AS below_threshold
    FROM spine s LEFT JOIN actual a ON s.hour_start = a.hour_start
    """,
    "freshness/completeness audit: expected hour spine vs actual arrival "
    "counts — flags silent gaps and under-delivering hours",
)
def dq05_freshness_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 HOUR"))
        ).alias("hour_start")
    )
    actual = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour_start")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    n = F.coalesce(F.col("n_events"), F.lit(0))
    return (
        spine.join(actual, "hour_start", "left")
        .select(
            F.date_format("hour_start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            n.alias("n_events"),
            (n == 0).alias("is_gap"),
            (n < 5).alias("below_threshold"),
        )
    )


# --------------------------------------------------------------------------
# m09 — audio spectral analysis: real RIFF/PCM16 clips carrying exact-bin
# sine tones, decoded and FFT'd (numpy rfft) inside one Arrow map stage;
# dominant_hz = k * rate / n is closed-form because the tone sits exactly
# on bin k. Proves a genuine O(n log n) DSP kernel runs shuffle-free over
# binary columns with only 5 scalars per clip leaving the stage.
# --------------------------------------------------------------------------
@register(
    "m09_audio_spectral_peak",
    """
    SELECT doc_id AS id,
           CAST(8000 + doc_id % 4 * 4000 AS INT) AS sample_rate,
           CAST(512 AS INT) AS n_samples,
           CAST(5 + doc_id % 32 AS INT) AS peak_bin,
           (5 + doc_id % 32) * (8000 + doc_id % 4 * 4000) / 512.0 AS dominant_hz
    FROM documents
    """,
    "REAL spectral feature extraction: RIFF decode + numpy rfft + argmax "
    "inside one Arrow map stage; exact-bin tones make the dominant "
    "frequency closed-form for the oracle",
)
def m09_audio_spectral_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    clips = M.synthesize_tone_wavs(docs, "doc_id")
    return M.spectral_peak_features(clips, "id", "data")


# --------------------------------------------------------------------------
# d12 — per-document duplicate-shingle fraction (the RefinedWeb/CCNet
# "fraction of the document seen elsewhere" audit): build the corpus
# inverted shingle index (explode + count per shingle — one shuffle,
# map-side combined), re-join each document's shingles against it (second
# shuffle, equi-join on shingle — never all-pairs), and report what
# fraction of each document's distinct 3-gram shingles occur in at least
# one other document. Exact-int counts and division → bit-stable.
# --------------------------------------------------------------------------
@register(
    "d12_duplicate_shingle_fraction",
    f"""
    WITH {T.shingle_ctes_sql(3)}, exploded AS (
      SELECT doc_id, UNNEST(sh) AS shingle FROM grams
    ), freq AS (
      SELECT shingle, COUNT(*) AS ndocs FROM exploded GROUP BY 1
    )
    SELECT e.doc_id,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN f.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_shingles,
           CAST(SUM(CASE WHEN f.ndocs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS dup_frac,
           (CAST(SUM(CASE WHEN f.ndocs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*)) >= 0.5 AS mostly_duplicated
    FROM exploded e JOIN freq f ON e.shingle = f.shingle
    GROUP BY e.doc_id
    """,
    "per-document duplicate-shingle fraction via the corpus inverted "
    "shingle index — two shuffles, equi-joins only, exact-int ratios",
)
def d12_duplicate_shingle_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_data_engineering_spark.operators import dedup as D

    docs = _t(spark, sf_dir, "documents")
    # Arrow shingle kernel (interpreted JVM HOF shingling measured ~6x
    # slower at sf0.1); sets are per-doc DISTINCT, so per-shingle COUNT(*)
    # over the exploded rows == number of docs containing it
    sh = D.exploded_shingles(docs, "doc_id", "text", 3).select(
        F.col("id").alias("doc_id"), "shingle"
    )
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("ndocs"))
    dup = F.sum((F.col("ndocs") >= 2).cast("int")).cast("bigint")
    frac = dup.cast("double") / F.count(F.lit(1))
    return (
        sh.join(freq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            dup.alias("n_dup_shingles"),
            frac.alias("dup_frac"),
            (frac >= 0.5).alias("mostly_duplicated"),
        )
    )


# --------------------------------------------------------------------------
# t18 — bigram-LM cross-entropy (the KenLM-style upgrade of t15's unigram
# scorer): bigrams form JVM-side inside each row (transform over an index
# sequence — no positional self-join), corpus bigram and prefix-unigram
# counts are shuffle equi-joins on the gram itself, the vocabulary size
# rides a 1-task window over the already-aggregated vocab, and add-k
# smoothing keeps unseen transitions finite. No driver-side model state
# anywhere — the LM "fits" in the cluster, not the driver, at any corpus
# size.
# --------------------------------------------------------------------------
@register(
    "t18_bigram_logprob",
    f"""
    WITH toks AS (
      SELECT doc_id, source,
             list_filter({T.tokens_sql(T.ascii_lower_sql('text'))},
                         x -> x <> '') AS t
      FROM documents
    ), uni AS (
      SELECT unnest(t) AS token FROM toks
    ), vocab AS (
      SELECT token, COUNT(*) AS cnt1 FROM uni GROUP BY token
    ), vsize AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM vocab),
    bg AS (
      SELECT doc_id, source,
             unnest([t[i] || ' ' || t[i+1]
                     FOR i IN generate_series(1, len(t) - 1)]) AS bigram
      FROM toks WHERE len(t) >= 2
    ), bgc AS (
      SELECT bigram, COUNT(*) AS cnt2 FROM bg GROUP BY bigram
    ), scored AS (
      SELECT bg.doc_id, bg.source,
             -ln((bgc.cnt2 + 0.5) / (vocab.cnt1 + 0.5 * vsize.v)) AS nll
      FROM bg
      JOIN bgc ON bg.bigram = bgc.bigram
      JOIN vocab ON string_split(bg.bigram, ' ')[1] = vocab.token
      CROSS JOIN vsize
    ), doc_scores AS (
      SELECT doc_id, source, AVG(nll) AS ce FROM scored GROUP BY doc_id, source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(ce), 3) AS avg_cross_entropy,
           ROUND(MIN(ce), 3) AS min_cross_entropy,
           ROUND(MAX(ce), 3) AS max_cross_entropy
    FROM doc_scores GROUP BY source
    """,
    "bigram-LM cross-entropy per source with add-k smoothing: in-row "
    "bigram formation, count tables re-joined on the gram (no driver-side "
    "LM), vocabulary size as a 1-task window",
)
def t18_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.filter(
            T.tokens(T.ascii_lower("text")), lambda x: x != ""
        ).alias("t"),
    )
    uni = toks.select(F.explode("t").alias("token"))
    vocab = uni.groupBy("token").agg(F.count(F.lit(1)).alias("cnt1"))
    # vocab size via the t15 pattern: a 1-task window over the aggregated
    # vocab instead of a second full-corpus agg branch
    vocab = vocab.withColumn(
        "v", F.count(F.lit(1)).over(Window.partitionBy(F.lit(1))).cast("double")
    )
    bg = (
        toks.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - 2),
                    lambda i: F.concat_ws(
                        " ", F.element_at("t", i + 1), F.element_at("t", i + 2)
                    ),
                )
            ).alias("bigram"),
        )
        .withColumn("prefix", F.split(F.col("bigram"), " ").getItem(0))
    )
    bgc = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("cnt2"))
    scored = (
        bg.join(bgc, "bigram")
        .join(vocab, bg.prefix == vocab.token)
        .select(
            "doc_id",
            "source",
            (
                -F.log(
                    (F.col("cnt2") + 0.5) / (F.col("cnt1") + 0.5 * F.col("v"))
                )
            ).alias("nll"),
        )
    )
    doc_scores = scored.groupBy("doc_id", "source").agg(F.avg("nll").alias("ce"))
    return doc_scores.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("ce"), 3).alias("avg_cross_entropy"),
        F.round(F.min("ce"), 3).alias("min_cross_entropy"),
        F.round(F.max("ce"), 3).alias("max_cross_entropy"),
    )


# --------------------------------------------------------------------------
# c07 — schema evolution on read: two landing batches written with
# different schemas (batch 2 adds a column), scanned as ONE dataset with
# parquet mergeSchema. Spark reconciles the footer schemas at listing
# time and null-fills the missing column — the lake-table upgrade path
# the reference's config-driven loader implies (schema changes between
# daily drops; FInal/load_script.py:42-54 rebuilds the schema from config
# each run). Oracle reproduces the union-by-name + NULL-fill semantics.
# --------------------------------------------------------------------------
@register(
    "c07_mergeschema_evolution",
    """
    SELECT o_orderkey, o_totalprice,
           CAST(NULL AS VARCHAR) AS o_orderpriority,
           CAST(1 AS INT) AS batch
    FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_totalprice, o_orderpriority, CAST(2 AS INT) AS batch
    FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 2 = 1
    """,
    "parquet mergeSchema evolution: a later batch adds a column, one scan "
    "reconciles both footers and null-fills the old batch",
)
def c07_mergeschema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = scratch_dir("c07")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    ).write.mode("overwrite").parquet(os.path.join(base, "batch=1"))
    orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    ).write.mode("overwrite").parquet(os.path.join(base, "batch=2"))
    # partition-column type inference is disabled engine-wide (reference
    # semantics keep dt a string), so the batch= partition value needs an
    # explicit cast back to int
    return spark.read.option("mergeSchema", "true").parquet(base).select(
        "o_orderkey",
        "o_totalprice",
        "o_orderpriority",
        F.col("batch").cast("int").alias("batch"),
    )


# --------------------------------------------------------------------------
# q83 — TPC-H Q4 shape: order-priority distribution of orders that had at
# least one late line (shipped >90 days after the order date). The EXISTS
# decorrelates into a LEFT SEMI join whose condition references BOTH
# sides (orderkey equality + the date comparison) — the equality part
# drives the hash join, the date predicate rides along as a join filter,
# and semi-join semantics stop probing an order after its first late
# line. The quarter filter on orders pushes to the scan.
# --------------------------------------------------------------------------
@register(
    "q83_late_order_priority",
    """
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
    GROUP BY o_orderpriority
    """,
    "TPC-H Q4 shape: priority counts of orders with any late-shipped line "
    "— EXISTS as a left-semi hash join with a compound correlated "
    "condition, quarter filter pushed to the scan",
)
def q83_late_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


# --------------------------------------------------------------------------
# s08 — IVFPQ top-k (faiss IVF16,PQ8 with by_residual=False): s06's coarse
# quantizer prunes WHICH candidates are scored (probed inverted lists
# only), s07's PQ-ADC decides HOW (integer LUT gathers over 8-byte
# codes). Both halves are individually bit-exact against their oracles,
# so the composition is too — this is the billion-scale ANN recipe:
# prune lists, scan codes, never touch full vectors after the scan.
# --------------------------------------------------------------------------
_S08_CENTROIDS = SIM._hyperplanes(dim=64, n_planes=16, seed=7)


@register(
    "s08_ann_ivfpq_topk",
    SIM.ivfpq_oracle_sql(
        _S08_CENTROIDS, m_sub=8, k_codes=16, subdim=8, k=5, n_probe=4,
        query_pred="vec_id < 10",
    ),
    "IVFPQ: coarse inverted-list pruning composed with PQ-ADC integer "
    "scoring — candidates carry 8-byte codes after the scan, queries "
    "build per-list LUTs locally; oracle-checked bit-exactly",
)
def s08_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.ivfpq_topk(
        emb.filter(F.col("vec_id") < 10),
        emb,
        _S08_CENTROIDS,
        SIM.pq_codebook(m_sub=8, k_codes=16, subdim=8),
        k=5,
        n_probe=4,
    )


# --------------------------------------------------------------------------
# c08 — malformed-row handling on CSV ingest (the failure mode the
# reference's CSV loader meets daily and silently mis-parses): a feed
# where every 7th record is corrupted (too few columns / non-numeric
# junk) is read in PERMISSIVE mode with columnNameOfCorruptRecord —
# valid rows parse typed, corrupt rows land whole in the quarantine
# column with NULL data fields, and nothing is dropped. The audit output
# proves the classification: per-batch counts of clean vs quarantined
# plus the recoverable key range. Scale: schema-on-read with a corrupt
# column is the same single map-stage scan as a clean read.
# --------------------------------------------------------------------------
@register(
    "c08_csv_corrupt_quarantine",
    """
    WITH feed AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 3 THEN NULL
                  ELSE ROUND(o_totalprice, 2) END AS o_totalprice,
             o_orderpriority,
             o_orderkey % 7 = 3 AS is_corrupt
      FROM orders WHERE o_orderkey % 3 = 0
    )
    SELECT is_corrupt,
           COUNT(*) AS n_rows,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
           ROUND(SUM(COALESCE(o_totalprice, 0)), 2) AS parsed_total
    FROM feed GROUP BY is_corrupt
    """,
    "PERMISSIVE CSV ingest with a quarantine column: corrupt records keep "
    "their raw line, clean records parse typed, nothing is dropped; audit "
    "counts prove the classification",
)
def c08_csv_corrupt_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    base = scratch_dir("c08")
    # build the dirty feed: every o_orderkey % 7 == 3 line is written with a
    # junk price ("N/A") that cannot parse as double; clean lines carry the
    # 2dp-rounded price in shortest-repr decimal form, which parses back to
    # the identical double (the oracle applies the same ROUND(., 2))
    src = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 3 == 0)
        .select(
            F.concat_ws(
                ",",
                F.col("o_orderkey"),
                F.when(F.col("o_orderkey") % 7 == 3, F.lit("N/A")).otherwise(
                    F.round(F.col("o_totalprice"), 2).cast("string")
                ),
                F.col("o_orderpriority"),
            ).alias("value")
        )
    )
    src.write.mode("overwrite").text(base)
    schema = StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_totalprice", DoubleType()),
            StructField("o_orderpriority", StringType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    parsed = (
        spark.read.schema(schema)
        .option("header", "false")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(base)
    )
    is_corrupt = F.col("_corrupt_record").isNotNull()
    # corrupt rows keep the raw line; the key is still recoverable from it
    key = F.when(
        is_corrupt, F.split(F.col("_corrupt_record"), ",").getItem(0).cast("bigint")
    ).otherwise(F.col("o_orderkey"))
    return (
        parsed.select(
            is_corrupt.alias("is_corrupt"),
            key.alias("key"),
            F.col("o_totalprice"),
        )
        .groupBy("is_corrupt")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("key").cast("bigint").alias("min_key"),
            F.max("key").cast("bigint").alias("max_key"),
            F.round(F.sum(F.coalesce(F.col("o_totalprice"), F.lit(0.0))), 2).alias(
                "parsed_total"
            ),
        )
    )


# --------------------------------------------------------------------------
# e04 — symmetric int8 quantization of the embedding column (the
# serving/storage prep step: 4x smaller vectors for ANN serving): per
# vector, scale = 127 / max|v|, code_i = trunc(v_i * scale). Entirely
# JVM array expressions — no kernel, no shuffle, 4 bytes -> 1 byte per
# dim at any scale. Integer outputs make the audit bit-stable; Spark's
# ANSI double->int cast truncates toward zero, mirrored by the oracle's
# explicit trunc() (DuckDB CAST rounds — the documented trap).
# --------------------------------------------------------------------------
@register(
    "e04_int8_quantization",
    """
    WITH v AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), scaled AS (
      SELECT vec_id, label,
             CASE WHEN list_max(list_transform(e, x -> abs(x))) = 0 THEN 1.0
                  ELSE 127.0 / list_max(list_transform(e, x -> abs(x)))
             END AS scale, e
      FROM v
    ), codes AS (
      SELECT vec_id, label, scale,
             list_transform(e, x -> CAST(trunc(x * scale) AS INT)) AS q
      FROM scaled
    )
    SELECT vec_id, label, scale,
           CAST(list_sum(q) AS BIGINT) AS sum_codes,
           CAST(list_min(q) AS INT) AS min_code,
           CAST(list_max(q) AS INT) AS max_code,
           CAST(len(list_filter(q, x -> abs(x) = 127)) AS INT) AS n_saturated
    FROM codes
    """,
    "symmetric int8 embedding quantization: per-vector scale, truncating "
    "cast, saturation audit — pure JVM array expressions, shuffle-free",
)
def e04_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    e = F.col("embedding").cast("array<double>")
    max_abs = F.array_max(F.transform(e, lambda x: F.abs(x)))
    scale = F.when(max_abs == 0, F.lit(1.0)).otherwise(F.lit(127.0) / max_abs)
    scaled = emb.select("vec_id", "label", e.alias("e"), scale.alias("scale"))
    q = F.transform(
        F.col("e"), lambda x: (x * F.col("scale")).cast("int")
    )
    codes = scaled.select("vec_id", "label", "scale", q.alias("q"))
    return codes.select(
        "vec_id",
        "label",
        "scale",
        F.aggregate(F.col("q"), F.lit(0), lambda a, x: a + x)
        .cast("bigint")
        .alias("sum_codes"),
        F.array_min("q").alias("min_code"),
        F.array_max("q").alias("max_code"),
        F.size(F.filter(F.col("q"), lambda x: F.abs(x) == 127)).alias(
            "n_saturated"
        ),
    )


# --------------------------------------------------------------------------
# p08 — temperature-scaled mixture (T=2): keep-rates DERIVED from the
# per-source counts (sqrt upweighting of small corpora), made
# cross-engine-deterministic by quantizing weights to integer milli-units
# before an order-free integer normalizer and DIV thresholds. Broadcast
# threshold probe, md5-bucket keep filter, zero driver-side state.
# --------------------------------------------------------------------------
@register(
    "p08_temperature_mixture",
    SAMP.temperature_mixture_sql("doc_id", "source", target_rows=240),
    "temperature-scaled (T=2) source rebalancing with data-derived "
    "integer-exact keep thresholds and deterministic md5-bucket sampling",
)
def p08_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return SAMP.temperature_mixture(docs, "doc_id", "source", target_rows=240)


# --------------------------------------------------------------------------
# g02 — triangle counting over the embedding near-dup graph (the cluster
# cohesion signal g01's PageRank complements (threshold 0.35 — the near-dup graph is
# triangle-sparse above it): triangles distinguish
# tight duplicate cliques from hub-and-spoke false positives). Canonical
# a<b<c edge orientation means each triangle materializes exactly once
# from two equi-joins on node id — the standard distributed formulation
# (no per-node adjacency collection); per-node participation then sums
# each triangle into its three corners via one explode.
# --------------------------------------------------------------------------
@register(
    "g02_triangle_count",
    f"""
    WITH {G.NEARDUP_EDGES_CTE},
    {G.TRIANGLE_COUNTS_CTE}
    SELECT node, n_triangles FROM tc
    """,
    "triangle counting over the near-dup graph: canonical a<b<c "
    "orientation, two equi-joins per triangle, per-node participation "
    "via corner explode — no adjacency lists, no driver-side graph",
)
def g02_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return G.triangle_counts(G.neardup_edges(_t(spark, sf_dir, "embeddings")))


# --------------------------------------------------------------------------
# m10 — scene-change detection: consecutive-frame mean-absolute-difference
# over the concatenated-frame video stream, cut flag from an
# integer-exact threshold comparison. The oracle reproduces the
# deterministic frame pixels ((seed + j) * 31 mod 256, seed = id + f) so
# the byte-walking diff kernel is fully checkable.
# --------------------------------------------------------------------------
@register(
    "m10_scene_change_detection",
    """
    WITH vids AS (
      SELECT doc_id AS id,
             CAST(4 + doc_id % 4 AS INT) * 4 AS npix,
             CAST(2 + doc_id % 8 AS INT) AS n_frames
      FROM documents
    ), pairs AS (
      SELECT id, npix, UNNEST(generate_series(0, n_frames - 2)) AS f
      FROM vids
    ), diffs AS (
      SELECT id, CAST(f AS INT) AS frame_idx, npix,
             CAST(list_sum([abs((id + f + 1 + j) * 31 % 256
                              - (id + f + j) * 31 % 256)
                            FOR j IN generate_series(0, npix - 1)]) AS BIGINT)
               AS sum_abs_diff
      FROM pairs
    )
    SELECT id, frame_idx, sum_abs_diff, npix AS n_pixels,
           CAST(sum_abs_diff AS DOUBLE) / npix AS mad,
           sum_abs_diff * 10 > 120 * npix AS is_cut
    FROM diffs
    """,
    "scene-change detection: per consecutive frame pair, integer "
    "absolute-pixel-diff sums and an integer-exact cut threshold — the "
    "frame bytes never leave the Arrow worker",
)
def m10_scene_change_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    vids = M.synthesize_fake_videos(docs, "doc_id")
    return M.scene_changes(vids, "id", "data", mad_threshold=12.0)


# --------------------------------------------------------------------------
# d13 — MinHash estimation accuracy audit: for every banded candidate
# pair, the estimated Jaccard (matching signature components / 32) next
# to the exact shingle-set Jaccard, plus the absolute estimation error.
# Integer match counts and exact-int set sizes keep every column
# bit-stable; the estimate/exact spread is the evidence that banding
# parameters (b=8, r=4) sit at the right similarity threshold.
# --------------------------------------------------------------------------
def _d13_oracle() -> str:
    # exact Jaccard over the minhash prefix's own 3-gram shingle sets
    return f"""
    WITH {D.minhash_sig_cte_sql(32)},
    est AS ({D.minhash_pairs_sql(32, 8)}),
    sized AS (SELECT doc_id, sh, len(sh) AS sh_size FROM grams),
    exploded AS (SELECT doc_id, sh_size, UNNEST(sh) AS shingle FROM sized),
    exact AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             ROUND(COUNT(*) / (a.sh_size + b.sh_size - COUNT(*)), 4) AS exact_jaccard
      FROM exploded a JOIN exploded b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2, a.sh_size, b.sh_size
    )
    SELECT est.id_a, est.id_b, est.est_jaccard,
           COALESCE(exact.exact_jaccard, 0.0) AS exact_jaccard,
           ROUND(ABS(est.est_jaccard - COALESCE(exact.exact_jaccard, 0.0)), 4)
             AS abs_error
    FROM est LEFT JOIN exact
      ON est.id_a = exact.id_a AND est.id_b = exact.id_b
    """


# --------------------------------------------------------------------------
# (continued) d13 joins the banded MinHash candidates against the exact
# inverted-index Jaccard — candidates that collide on a band without
# sharing a single shingle surface with exact_jaccard 0.0 via the left
# join, quantifying the banding false-positive rate alongside the
# estimator spread.
# --------------------------------------------------------------------------
@register(
    "d13_minhash_estimate_accuracy",
    _d13_oracle(),
    "MinHash estimation accuracy audit: per candidate pair, signature "
    "estimate vs exact shingle-set Jaccard and the absolute error — the "
    "evidence that b=8/r=4 banding sits at the right threshold",
)
def d13_minhash_estimate_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_data_engineering_spark.operators import dedup as D

    docs = _t(spark, sf_dir, "documents")
    est = D.minhash_candidate_pairs(docs, "doc_id", "text")
    exact = D.jaccard_pairs(docs, "doc_id", "text", shingle_n=3, min_jaccard=0.0)
    exact = exact.select("id_a", "id_b", F.col("jaccard").alias("exact_jaccard"))
    joined = est.join(exact, ["id_a", "id_b"], "left")
    ex = F.coalesce(F.col("exact_jaccard"), F.lit(0.0))
    return joined.select(
        "id_a",
        "id_b",
        "est_jaccard",
        ex.alias("exact_jaccard"),
        F.round(F.abs(F.col("est_jaccard") - ex), 4).alias("abs_error"),
    )


# --------------------------------------------------------------------------
# t19 — lexical diversity audit per source: vocabulary size, hapax
# fraction (tokens seen once — the Zipf tail), and the corpus share of
# the 10 most frequent tokens (the Zipf head). One explode + one
# (source, token) count, then a per-source window rank — all counts
# integer-exact, head ties broken by token text so the rank-10 cut is
# deterministic in both engines.
# --------------------------------------------------------------------------
@register(
    "t19_lexical_diversity",
    f"""
    WITH tok AS (
      SELECT source, unnest({T.tokens_sql(T.ascii_lower_sql('text'))}) AS token
      FROM documents
    ), t2 AS (SELECT * FROM tok WHERE token <> ''),
    counts AS (
      SELECT source, token, COUNT(*) AS cnt FROM t2 GROUP BY 1, 2
    ), ranked AS (
      SELECT source, token, cnt,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY cnt DESC, token ASC) AS rk
      FROM counts
    )
    SELECT source,
           COUNT(*) AS vocab_size,
           CAST(SUM(cnt) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS hapax_frac,
           CAST(SUM(CASE WHEN rk <= 10 THEN cnt ELSE 0 END) AS DOUBLE)
             / SUM(cnt) AS head10_share
    FROM ranked GROUP BY source
    """,
    "lexical diversity per source: vocabulary size, hapax fraction (Zipf "
    "tail) and top-10-token share (Zipf head) — integer-exact counts, "
    "deterministic rank cut",
)
def t19_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "source", F.explode(T.tokens(T.ascii_lower("text"))).alias("token")
        )
        .filter(F.col("token") != "")
    )
    counts = toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("source").orderBy(F.desc("cnt"), F.asc("token"))
    ranked = counts.withColumn("rk", F.row_number().over(w))
    hapax = F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
    head = F.sum(F.when(F.col("rk") <= 10, F.col("cnt")).otherwise(0))
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum("cnt").cast("bigint").alias("total_tokens"),
        hapax.cast("bigint").alias("n_hapax"),
        (hapax.cast("double") / F.count(F.lit(1))).alias("hapax_frac"),
        (head.cast("double") / F.sum("cnt")).alias("head10_share"),
    )


# --------------------------------------------------------------------------
# dq06 — fact-to-fact reconciliation: each order's header total vs the
# sum of its line amounts, compared in integer cents (the documented FP
# rule: never compare raw doubles against aggregate-derived values —
# quantize both sides first). LEFT join keeps headerless/lineless orders
# visible; the audit rolls up mismatch counts and the worst absolute
# drift per order status. One shuffle (the orderkey join/agg) at any
# scale.
# --------------------------------------------------------------------------
@register(
    "dq06_order_reconciliation",
    """
    WITH li AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS line_cents
      FROM lineitem GROUP BY l_orderkey
    ), recon AS (
      SELECT o.o_orderstatus,
             CAST(floor(o.o_totalprice * 100) AS BIGINT) AS header_cents,
             COALESCE(li.line_cents, 0) AS line_cents,
             li.l_orderkey IS NULL AS lineless
      FROM orders o LEFT JOIN li ON o.o_orderkey = li.l_orderkey
    )
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN lineless THEN 1 ELSE 0 END) AS BIGINT)
             AS n_lineless,
           CAST(SUM(CASE WHEN NOT lineless
                          AND header_cents <> line_cents THEN 1 ELSE 0 END)
                AS BIGINT) AS n_mismatched,
           CAST(MAX(CASE WHEN lineless THEN 0
                         ELSE abs(header_cents - line_cents) END) AS BIGINT)
             AS max_drift_cents
    FROM recon GROUP BY o_orderstatus
    """,
    "fact-to-fact reconciliation: order header totals vs summed line "
    "amounts in integer cents — mismatch counts and worst drift per "
    "status, one orderkey shuffle",
)
def dq06_order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = lambda c: F.floor(c * 100).cast("bigint")  # noqa: E731
    li = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
            .cast("bigint")
            .alias("line_cents")
        )
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", cents(F.col("o_totalprice")).alias("header_cents")
    )
    recon = orders.join(li, orders.o_orderkey == li.l_orderkey, "left").select(
        "o_orderstatus",
        "header_cents",
        F.coalesce(F.col("line_cents"), F.lit(0)).alias("line_cents"),
        F.col("l_orderkey").isNull().alias("lineless"),
    )
    mism = F.when(
        (~F.col("lineless")) & (F.col("header_cents") != F.col("line_cents")), 1
    ).otherwise(0)
    drift = F.when(F.col("lineless"), F.lit(0)).otherwise(
        F.abs(F.col("header_cents") - F.col("line_cents"))
    )
    return recon.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("lineless").cast("int")).cast("bigint").alias("n_lineless"),
        F.sum(mism).cast("bigint").alias("n_mismatched"),
        F.max(drift).cast("bigint").alias("max_drift_cents"),
    )


# --------------------------------------------------------------------------
# q84 — TPC-H Q16 shape: supplier diversity per part type, excluding a
# supplier blocklist via NOT IN. Expressed through the SQL front door
# because NOT IN (subquery) is the one anti-join Spark must plan
# null-aware (NullAwareAntiJoin): if the blocklist ever contained a NULL
# key, NOT IN returns no rows — semantics a plain left_anti join cannot
# express. COUNT(DISTINCT) rides the standard two-phase expand.
# --------------------------------------------------------------------------
@register(
    "q84_supplier_diversity_naaj",
    """
    SELECT p_type,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt,
           COUNT(*) AS n_lines
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_size >= 10
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_name LIKE '%3%')
    GROUP BY p_type
    """,
    "TPC-H Q16 shape: NOT IN blocklist as a null-aware anti join plus "
    "COUNT(DISTINCT) supplier diversity per part type",
)
def q84_supplier_diversity_naaj(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("part", "lineitem", "supplier"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"q84v_{t}")
    return spark.sql(
        """
        SELECT p_type,
               COUNT(DISTINCT l_suppkey) AS supplier_cnt,
               COUNT(*) AS n_lines
        FROM q84v_part JOIN q84v_lineitem ON p_partkey = l_partkey
        WHERE p_size >= 10
          AND l_suppkey NOT IN (SELECT s_suppkey FROM q84v_supplier
                                WHERE s_name LIKE '%3%')
        GROUP BY p_type
        """
    )


# --------------------------------------------------------------------------
# c09 — bucketed co-located join: orders and lineitem written as managed
# tables bucketed by orderkey into the same bucket count, then joined.
# Bucket metadata in the catalog lets Catalyst plan the fact-fact join
# with NO exchange on either side — bucketing is paid once at write
# time, and every recurring join afterwards skips both shuffles. The
# exchange-free property is asserted in the plan itself here, not just
# in unit tests; the oracle checks the joined result.
# --------------------------------------------------------------------------
@register(
    "c09_bucketed_colocated_join",
    """
    SELECT o_orderstatus,
           COUNT(*) AS n_lines,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderstatus
    """,
    "bucketed managed tables joined with zero exchanges on the join key "
    "(asserted in-plan) — the co-location recipe for recurring fact-fact "
    "joins",
)
def c09_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_data_engineering_spark.sources.writers import write_bucketed_table

    tag = uuid.uuid4().hex[:8]
    to, tl = f"c09_orders_{tag}", f"c09_lineitem_{tag}"
    write_bucketed_table(
        _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus"),
        to,
        ["o_orderkey"],
        n_buckets=8,
        sort_cols=["o_orderkey"],
    )
    write_bucketed_table(
        _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        ),
        tl,
        ["l_orderkey"],
        n_buckets=8,
        sort_cols=["l_orderkey"],
    )
    # hint("merge") pins the sort-merge strategy: at fixture scale Spark
    # would otherwise broadcast the small side, which is right but proves
    # nothing — the bucketed payoff is the SMJ with NO exchange on either
    # join key, which is what a big-big join would plan unaided
    joined = (
        spark.table(to)
        .hint("merge")
        .join(spark.table(tl), F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    if (
        "SortMergeJoin" not in plan
        or "Exchange hashpartitioning(o_orderkey" in plan
        or "Exchange hashpartitioning(l_orderkey" in plan
    ):
        raise AssertionError(f"bucketed join is not exchange-free:\n{plan}")
    return joined


# --------------------------------------------------------------------------
# m11 — image metadata extraction (the EXIF-shaped op): PNGs carrying
# spec-conformant tEXt chunks, recovered by the CRC-verified chunk
# walker. The decode stays a shuffle-free map stage; only (id, key,
# value) rows leave the worker; oracle regenerates the closed-form tags.
# --------------------------------------------------------------------------
@register(
    "m11_png_text_metadata",
    """
    SELECT doc_id AS id, 'Title' AS key, 'doc-' || doc_id AS value
    FROM documents
    UNION ALL
    SELECT doc_id, 'Author', 'src' || (doc_id % 20) FROM documents
    UNION ALL
    SELECT doc_id, 'Software', 'spark-graft' FROM documents
    """,
    "PNG tEXt metadata extraction: spec-conformant ancillary chunks "
    "written and recovered through the real CRC-verified codec — one "
    "row per (image, keyword)",
)
def m11_png_text_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tagged = M.synthesize_tagged_pngs(docs, "doc_id")
    return M.png_text_metadata(tagged, "id", "data")


# --------------------------------------------------------------------------
# st10 — streaming transactional FILE sink: events stream -> parquet lake
# directory with the sink's _spark_metadata exactly-once log. Run twice
# from the SAME checkpoint: the restart resumes at the recorded offset
# and emits nothing new, so the read-back (resolved THROUGH the metadata
# log) equals the batch table exactly once — the file-sink twin of
# st03's state-store dedup. Oracle is the batch projection.
# --------------------------------------------------------------------------
@register(
    "st10_stream_file_sink",
    """
    SELECT event_id, user_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS event_ts,
           value
    FROM events
    """,
    "streaming exactly-once parquet file sink (_spark_metadata log): "
    "availableNow drain + idempotent restart from the same checkpoint, "
    "read-back hash-checked against the batch table",
)
def st10_stream_file_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_data_engineering_spark.streaming import (
        read_events_stream,
        run_to_file_sink,
    )

    base = scratch_dir("st10")
    out_dir = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    path = os.path.join(sf_dir, "events.parquet")
    stream = read_events_stream(spark, path).select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("event_ts"),
        "value",
    )
    run_to_file_sink(stream, out_dir, ckpt)
    # idempotent restart: same checkpoint -> offsets already committed ->
    # second drain emits zero files; a naive (non-transactional) sink
    # would double every row here
    run_to_file_sink(
        read_events_stream(spark, path).select(
            "event_id",
            "user_id",
            "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("event_ts"),
            "value",
        ),
        out_dir,
        ckpt,
    )
    return spark.read.parquet(out_dir)


# --------------------------------------------------------------------------
# q85 — forward fill (LOCF): click events carry no value, so each takes
# the user's most recent non-null reading — LAST_VALUE ... IGNORE NULLS
# over a running frame, the sensor-gap-repair idiom. One window sort per
# user partition; leading nulls (no prior reading) stay NULL in both
# engines; values pass through untouched so no rounding is needed.
# --------------------------------------------------------------------------
@register(
    "q85_forward_fill",
    """
    WITH base AS (
      SELECT event_id, user_id, ts,
             CASE WHEN event_type = 'click' THEN NULL ELSE value END AS v
      FROM events WHERE ts IS NOT NULL
    )
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS event_ts,
           v AS raw_value,
           LAST_VALUE(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
    FROM base
    """,
    "forward fill / last-observation-carried-forward: LAST_VALUE IGNORE "
    "NULLS over a running per-user frame — the window twin of the q49 "
    "spine-join gapfill",
)
def q85_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # NULL-ts rows excluded on both sides: Spark's ORDER BY ts window is
    # NULLS FIRST, DuckDB's NULLS LAST (review r6)
    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    v = F.when(F.col("event_type") == "click", F.lit(None)).otherwise(
        F.col("value")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("event_ts"),
        v.alias("raw_value"),
        F.last(v, ignorenulls=True).over(w).alias("filled_value"),
    )


# --------------------------------------------------------------------------
# c10 — small-file compaction as a maintenance query: a dt-partitioned
# table deliberately written as 8 shuffled files per partition is
# rewritten to 1 file per partition by compact_table (staging write +
# swap by rename), with the file-count collapse asserted
# in-query and the data proven byte-identical by the aggregation oracle.
# The reference's append-only loader accumulates exactly this small-file
# debt (SURVEY §4); at 100 TB the same op runs per recent partition on a
# schedule.
# --------------------------------------------------------------------------
@register(
    "c10_small_file_compaction",
    """
    SELECT strftime(ts, '%Y-%m-%d') AS dt,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY 1
    """,
    "small-file compaction: 8 files/partition rewritten to 1 via a staging "
    "write swapped in by rename, file collapse asserted in-query, "
    "data equality proven by the oracle",
)
def c10_small_file_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob as _glob

    from aws_data_engineering_spark.sources.writers import compact_table

    base = scratch_dir("c10")
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "value",
        F.date_format("ts", "yyyy-MM-dd").alias("dt"),
    )
    # deliberate small-file debt: 8 shuffled files land in every partition
    ev.repartition(8).write.partitionBy("dt").mode("overwrite").parquet(base)

    def files_per_part():
        parts = [p for p in _glob.glob(os.path.join(base, "dt=*")) if os.path.isdir(p)]
        return {
            p: len(_glob.glob(os.path.join(p, "*.parquet"))) for p in parts
        }

    before = files_per_part()
    if not before or min(before.values()) < 2:
        raise AssertionError(f"fixture did not create small files: {before}")
    compact_table(spark, base, "dt", target_files_per_partition=1)
    after = files_per_part()
    if set(after.values()) != {1}:
        raise AssertionError(f"compaction left multiple files: {after}")
    # a plain session (the driver's) infers the dt partition value as a
    # DATE; cast back to the string contract (same trap as c07)
    return (
        spark.read.parquet(base)
        .groupBy(F.col("dt").cast("string").alias("dt"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


# --------------------------------------------------------------------------
# e05 — Matryoshka-style truncated-dimension retrieval audit: top-5 by
# full 64-dim cosine vs top-5 using only the first 16 dims (the MRL
# deployment question — how much ranking survives a 4x cheaper index?).
# Both rankings reuse the bit-exact brute-force kernel; the output is
# the per-query overlap plus both neighbor sets as sorted arrays, all
# integer/exact so the oracle hash-matches. At scale the truncated
# ranking is the candidate generator and the full ranking the reranker.
# --------------------------------------------------------------------------
@register(
    "e05_matryoshka_overlap",
    """
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
             CAST(embedding[1:16] AS DOUBLE[]) AS e16
      FROM embeddings
    ),
    full_rank AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                ORDER BY list_cosine_similarity(q.e, c.e) DESC,
                                         c.vec_id) AS rnk
      FROM v q JOIN v c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
    trunc_rank AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                ORDER BY list_cosine_similarity(q.e16, c.e16) DESC,
                                         c.vec_id) AS rnk
      FROM v q JOIN v c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
    f5 AS (SELECT query_id, list_sort(list(neighbor_id)) AS f_arr
           FROM full_rank WHERE rnk <= 5 GROUP BY query_id),
    t5 AS (SELECT query_id, list_sort(list(neighbor_id)) AS t_arr
           FROM trunc_rank WHERE rnk <= 5 GROUP BY query_id)
    SELECT f5.query_id,
           array_to_string(f_arr, ',') AS full_top5,
           array_to_string(t_arr, ',') AS trunc_top5,
           CAST(len(list_intersect(f_arr, t_arr)) AS INT) AS n_overlap
    FROM f5 JOIN t5 ON f5.query_id = t5.query_id
    """,
    "Matryoshka truncated-dim retrieval audit: top-5 overlap between "
    "full 64-dim and first-16-dim cosine rankings — the candidate-"
    "generator-vs-reranker calibration",
)
def e05_matryoshka_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    full5 = SIM.brute_force_topk(q, emb, k=5)
    trunc = emb.select(
        "vec_id", F.slice(F.col("embedding"), 1, 16).alias("embedding")
    )
    trunc5 = SIM.brute_force_topk(
        trunc.filter(F.col("vec_id") < 10), trunc, k=5
    )
    f5 = full5.groupBy("query_id").agg(
        F.sort_array(F.collect_list("neighbor_id")).alias("f_arr")
    )
    t5 = trunc5.groupBy("query_id").agg(
        F.sort_array(F.collect_list("neighbor_id")).alias("t_arr")
    )
    # neighbor sets serialized to CSV at the edge: top-level array columns
    # crash the driver's pandas canonicalizer (the q65 lesson)
    return f5.join(t5, "query_id").select(
        "query_id",
        F.array_join(F.col("f_arr").cast("array<string>"), ",").alias("full_top5"),
        F.array_join(F.col("t_arr").cast("array<string>"), ",").alias("trunc_top5"),
        F.size(F.array_intersect(F.col("f_arr"), F.col("t_arr"))).alias("n_overlap"),
    )


# --------------------------------------------------------------------------
# q86 — interval join via bucket decomposition: the 100 TB scale path for
# point-in-interval joins. q19 plans a broadcast nested-loop (fine while the
# interval side fits in one broadcast); with millions of intervals BNLJ is
# O(points x intervals) and dies. Decomposition: points carry their hour
# bucket, intervals EXPLODE into the hour buckets they cover
# (sequence()), and the join becomes a plain shuffled EQUI-join on bucket
# followed by an exact containment re-check. A point falls in exactly one
# bucket and each interval covers that bucket at most once, so no dedup
# step is needed. Both sides scale linearly; skewed buckets fall to AQE.
# --------------------------------------------------------------------------
_INCIDENT_WINDOWS = [
    ("w1", "2024-01-02 06:00:00", "2024-01-02 18:00:00"),
    ("w2", "2024-01-05 00:00:00", "2024-01-06 12:00:00"),
    ("w3", "2024-01-09 20:00:00", "2024-01-10 02:00:00"),
    ("w4", "2024-01-14 00:00:00", "2024-01-17 00:00:00"),
    ("w5", "2024-01-20 12:00:00", "2024-01-20 13:00:00"),
    ("w6", "2024-01-25 03:30:00", "2024-01-26 09:45:00"),
    # w7 nests inside w4: proves overlapping intervals each get their rows
    ("w7", "2024-01-15 00:00:00", "2024-01-15 06:00:00"),
]


def _q86_oracle() -> str:
    vals = ",\n             ".join(
        f"('{w}', TIMESTAMP '{lo}', TIMESTAMP '{hi}')"
        for w, lo, hi in _INCIDENT_WINDOWS
    )
    return f"""
    WITH iv(w, lo, hi) AS (
      VALUES {vals}
    )
    SELECT w,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events JOIN iv ON ts >= lo AND ts < hi
    GROUP BY w
    """


@register(
    "q86_interval_bucket_join",
    _q86_oracle(),
    "point-in-interval join via hour-bucket decomposition: intervals "
    "explode into covered buckets, points equi-join on their own bucket, "
    "exact containment re-checked — the shuffle-parallel scale path that "
    "replaces q19's broadcast nested-loop when the interval side is large",
)
def q86_interval_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("bucket"), "ts", "value"
    )
    iv = spark.createDataFrame(
        _INCIDENT_WINDOWS, "w string, lo string, hi string"
    ).select(
        "w", F.col("lo").cast("timestamp"), F.col("hi").cast("timestamp")
    )
    # sequence() is inclusive of the trunc'd hi endpoint; the extra bucket a
    # half-open interval doesn't actually cover is removed by the exact
    # containment filter below.
    buckets = iv.select(
        "w",
        "lo",
        "hi",
        F.explode(
            F.sequence(
                F.date_trunc("hour", "lo"),
                F.date_trunc("hour", "hi"),
                F.expr("interval 1 hour"),
            )
        ).alias("bucket"),
    )
    return (
        events.join(buckets, "bucket")
        .filter((F.col("ts") >= F.col("lo")) & (F.col("ts") < F.col("hi")))
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


# --------------------------------------------------------------------------
# q87 — TPC-H Q5 exact shape (local supplier volume): the 6-table join whose
# distinguishing feature is the SECOND equi-condition c_nationkey =
# s_nationkey between two already-joined fact-side branches. Plan: lineitem
# is the only fact; orders carries the pushed-down year filter; customer,
# supplier, nation, region are all broadcast dims, so the whole query is one
# shuffle-free scan + broadcast-hash-join chain ending in a 25-group agg.
# --------------------------------------------------------------------------
@register(
    "q87_local_supplier_volume",
    """
    SELECT n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
    "TPC-H Q5 shape: 6-table star join with the customer-supplier "
    "same-nation condition; all dims broadcast, year filter pushed to the "
    "orders scan",
)
def q87_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(_rev()), 2).alias("revenue"))
    )


# --------------------------------------------------------------------------
# e06 — SemDeDup (semantic dedup, Abbas et al. 2023): cluster embeddings
# with a fixed coarse quantizer, then find near-duplicate pairs ONLY within
# each cluster and drop the higher-id member of each pair. The cluster
# restriction is the scale trick: all-pairs O(N^2) becomes sum of per-
# cluster squares, shuffle-parallel by cluster id — the same approximation
# SemDeDup runs on LAION. Deterministic LCG centroids + fold-order-matched
# cosine make even the approximate path bit-exactly oracle-checkable
# (e01 is the exact all-pairs baseline at the same 0.45 threshold).
# --------------------------------------------------------------------------
_E06_CENTROIDS = SIM._hyperplanes(dim=64, n_planes=8, seed=11)
_E06_THRESHOLD = 0.45


def _e06_centroid_values_sql() -> str:
    return " UNION ALL ".join(
        f"SELECT {i} AS cand, {c}::DOUBLE[] AS centroid"
        for i, c in enumerate(_E06_CENTROIDS)
    )


def _e06_oracle() -> str:
    return f"""
    WITH cent AS ({_e06_centroid_values_sql()}),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    scored AS (
      SELECT v.vec_id, cent.cand,
             list_cosine_similarity(v.e, cent.centroid) AS score
      FROM v CROSS JOIN cent),
    best AS (
      SELECT vec_id, cand,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY score DESC, cand) AS rnk
      FROM scored),
    assigned AS (
      SELECT b.vec_id, b.cand, v.e FROM best b JOIN v USING (vec_id)
      WHERE rnk = 1),
    pairs AS (
      SELECT a.cand, a.vec_id AS id_keep, b.vec_id AS id_drop
      FROM assigned a JOIN assigned b
        ON a.cand = b.cand AND a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.e, b.e) >= {_E06_THRESHOLD}),
    dropped AS (
      SELECT cand, COUNT(*) AS n_dup_pairs,
             COUNT(DISTINCT id_drop) AS n_dropped
      FROM pairs GROUP BY cand)
    SELECT a.cand AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(COALESCE(MAX(d.n_dup_pairs), 0) AS BIGINT) AS n_dup_pairs,
           CAST(COALESCE(MAX(d.n_dropped), 0) AS BIGINT) AS n_dropped,
           CAST(COUNT(*) - COALESCE(MAX(d.n_dropped), 0) AS BIGINT) AS n_kept
    FROM assigned a LEFT JOIN dropped d ON a.cand = d.cand
    GROUP BY a.cand
    """


@register(
    "e06_semdedup",
    _e06_oracle(),
    "SemDeDup: fixed-quantizer cluster assignment, then near-dup pruning "
    "(cos >= 0.45) restricted to cluster-local pairs — per-cluster keep/"
    "drop accounting; the all-pairs quadratic dies, compare work shards by "
    "cluster id",
)
def e06_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    cent = spark.createDataFrame(
        [(i, c) for i, c in enumerate(_E06_CENTROIDS)],
        "cand int, centroid array<double>",
    )
    scored = emb.crossJoin(F.broadcast(cent)).withColumn(
        "score", SIM.cosine(F.col("e"), F.col("centroid"))
    )
    assigned = scored.groupBy("vec_id").agg(
        F.max_by(
            F.col("cand"),
            F.struct(F.col("score"), (-F.col("cand")).alias("neg_cand")),
        ).alias("cand"),
        F.first("e").alias("e"),
    )
    a = assigned.select(
        F.col("cand"), F.col("vec_id").alias("id_a"), F.col("e").alias("ea")
    )
    b = assigned.select(
        F.col("cand"), F.col("vec_id").alias("id_b"), F.col("e").alias("eb")
    )
    pairs = (
        a.join(b, "cand")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(SIM.cosine(F.col("ea"), F.col("eb")) >= F.lit(_E06_THRESHOLD))
    )
    dropped = pairs.groupBy("cand").agg(
        F.count(F.lit(1)).alias("n_dup_pairs"),
        F.countDistinct("id_b").alias("n_dropped"),
    )
    return (
        assigned.groupBy("cand")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .join(F.broadcast(dropped), "cand", "left")
        .select(
            F.col("cand").alias("cluster_id"),
            F.col("n_vectors").cast("bigint").alias("n_vectors"),
            F.coalesce("n_dup_pairs", F.lit(0)).cast("bigint").alias("n_dup_pairs"),
            F.coalesce("n_dropped", F.lit(0)).cast("bigint").alias("n_dropped"),
            (F.col("n_vectors") - F.coalesce("n_dropped", F.lit(0)))
            .cast("bigint")
            .alias("n_kept"),
        )
    )


# --------------------------------------------------------------------------
# e07 — k-means Lloyd iterations on DataFrames: 2 rounds of
# assign(argmax cosine) -> recompute(per-dim mean) from a fixed LCG init,
# then report the converged cluster occupancy. Each round is ONE broadcast
# cross-join (k rows) + ONE shuffle agg — the shape that clusters a 100 TB
# embedding corpus (centroids stay k x d, never the data). Per-dim means
# are rounded to 6dp before re-use so both engines score iteration 2 from
# bit-identical centroids (e03 precedent); the oracle un-rolls the same two
# iterations as chained CTEs, like g01's PageRank.
# --------------------------------------------------------------------------
_E07_INIT = SIM._hyperplanes(dim=64, n_planes=4, seed=13)
_E07_ITERS = 2


def _e07_oracle() -> str:
    init_vals = " UNION ALL ".join(
        f"SELECT {i} AS cand, {c}::DOUBLE[] AS centroid"
        for i, c in enumerate(_E07_INIT)
    )
    ctes = [
        "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)",
        f"cent0 AS ({init_vals})",
    ]
    for it in range(1, _E07_ITERS + 1):
        prev = f"cent{it - 1}"
        ctes.append(f"""s{it} AS (
      SELECT v.vec_id, c.cand,
             list_cosine_similarity(v.e, c.centroid) AS score
      FROM v CROSS JOIN {prev} c)""")
        ctes.append(f"""b{it} AS (
      SELECT vec_id, cand, score,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY score DESC, cand) AS rnk
      FROM s{it})""")
        ctes.append(f"""a{it} AS (
      SELECT b.vec_id, b.cand, b.score, v.e
      FROM b{it} b JOIN v USING (vec_id) WHERE rnk = 1)""")
        if it < _E07_ITERS:
            ctes.append(f"""ex{it} AS (
      SELECT cand, gs AS pos, e[gs] AS val
      FROM a{it}, generate_series(1, 64) g(gs))""")
            ctes.append(f"""cm{it} AS (
      SELECT cand, pos, ROUND(SUM(val) / COUNT(*), 6) AS val
      FROM ex{it} GROUP BY cand, pos)""")
            ctes.append(f"""cent{it} AS (
      SELECT cand, list(val ORDER BY pos) AS centroid
      FROM cm{it} GROUP BY cand)""")
    last = f"a{_E07_ITERS}"
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT cand AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           ROUND(SUM(score), 4) / COUNT(*) AS avg_score
    FROM {last} GROUP BY cand
    """
    )


@register(
    "e07_kmeans_lloyd",
    _e07_oracle(),
    "k-means (2 Lloyd iterations, fixed deterministic init): per round one "
    "k-row broadcast join + one shuffle agg; 6dp-rounded centroid means "
    "keep both engines bit-aligned across iterations; oracle un-rolls the "
    "loop as chained CTEs",
)
def e07_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    cent = spark.createDataFrame(
        [(i, c) for i, c in enumerate(_E07_INIT)],
        "cand int, centroid array<double>",
    )
    assigned = None
    for it in range(1, _E07_ITERS + 1):
        scored = emb.crossJoin(F.broadcast(cent)).withColumn(
            "score", SIM.cosine(F.col("e"), F.col("centroid"))
        )
        best = scored.groupBy("vec_id").agg(
            F.max_by(
                F.struct("cand", "score"),
                F.struct(F.col("score"), (-F.col("cand")).alias("neg_cand")),
            ).alias("b"),
            F.first("e").alias("e"),
        )
        assigned = best.select(
            "vec_id",
            F.col("b.cand").alias("cand"),
            F.col("b.score").alias("score"),
            "e",
        )
        if it < _E07_ITERS:
            ex = assigned.select("cand", F.posexplode("e").alias("pos", "val"))
            cm = ex.groupBy("cand", "pos").agg(
                F.round(F.sum("val") / F.count(F.lit(1)), 6).alias("val")
            )
            cent = cm.groupBy("cand").agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "val"))),
                    lambda s: s["val"],
                ).alias("centroid")
            )
    return assigned.groupBy("cand").agg(
        F.count(F.lit(1)).alias("n_vectors")
        .cast("bigint").alias("n_vectors"),
        (F.round(F.sum("score"), 4) / F.count(F.lit(1))).alias("avg_score"),
    ).select(
        F.col("cand").alias("cluster_id"), "n_vectors", "avg_score"
    )


# --------------------------------------------------------------------------
# t20 — DSIR-style importance weighting (Xie et al. 2023): per-doc mean
# log-ratio of a smoothed target unigram LM (docs from the target corpus
# slice) vs the raw-pool LM. All LM state lives in VOCAB-sized tables: the
# raw and target count tables left-join at the vocab level, the three
# normalization constants (N_raw, N_target, |V|) attach via one-task
# windows over that small table, and the corpus re-join is a single
# shuffle equi-join on token — no driver-side LM, no second corpus scan.
# Smoothed ratio stays in integer space ((c+1)*(N+V) products are exact
# in float64) so both engines take ln() of bit-identical inputs.
#
# Round 10: the original ROUND(AVG(w), 3) final op hit the documented
# .5-boundary class at sf0.1 (src7's true mean ≈ -0.0005; DuckDB's
# parallel double sum lands on either side run-to-run). Rewritten to the
# e21 exact-mean pattern: per-token log-ratios FLOOR-quantized to
# integers, integer-summed (order-free), per-doc mean by truncating
# integer division (both engines truncate toward zero — verified), and
# the per-source mean emitted as two deterministic IEEE divisions of
# exact integers.
#
# Round 11 (ADVICE r10): the micro-nat floor still had a latent cross-
# engine seam — floor(1e6·Δln) flips by one if JVM Math.log and DuckDB's
# libm disagree by an ulp on a value within ~1e-8 of an integer. Two
# changes shrink that window to effectively zero: (1) MILLI-nat
# quantization — the absolute error of s·Δln scales with s, so a 1000×
# coarser scale cuts the per-token boundary-hit probability 1000× (to
# ~1e-12); (2) an epsilon-snap, floor(x + 1e-6), which moves the decision
# boundary off the integers entirely — the one systematic attractor
# (identical raw/target count products ⇒ Δln computes to exactly 0.0 in
# both engines) now sits 1e-6 INSIDE the bucket instead of ON its edge.
# eps=1e-6 ≫ any ulp disagreement and ≪ the 1 milli-nat bucket, so both
# engines floor bit-identically everywhere the true value isn't within
# ulps of k−1e-6 — an arbitrary non-attractor point. The ln() inputs
# themselves are bit-identical integer products, as before.
# --------------------------------------------------------------------------
@register(
    "t20_dsir_importance",
    f"""
    WITH tok AS (
      SELECT doc_id, source,
             unnest({T.tokens_sql(T.ascii_lower_sql('text'))}) AS token
      FROM documents
    ), t2 AS (SELECT * FROM tok WHERE token <> ''),
    rc AS (SELECT token, COUNT(*) AS cr FROM t2 GROUP BY token),
    tc AS (SELECT token, COUNT(*) AS ct FROM t2 WHERE source = 'src0'
           GROUP BY token),
    voc AS (
      SELECT rc.token, rc.cr, COALESCE(tc.ct, 0) AS ct,
             SUM(rc.cr) OVER () AS nr,
             COUNT(*) OVER () AS vsz,
             SUM(COALESCE(tc.ct, 0)) OVER () AS nt
      FROM rc LEFT JOIN tc USING (token)),
    doc_w AS (
      SELECT t2.doc_id, t2.source,
             SUM(CAST(FLOOR(CAST(1000 AS DOUBLE) * (
                   ln((voc.ct + 1) * (voc.nr + voc.vsz))
                 - ln((voc.cr + 1) * (voc.nt + voc.vsz))) + 1e-6) AS BIGINT))
               // COUNT(*) AS dm
      FROM t2 JOIN voc USING (token)
      GROUP BY t2.doc_id, t2.source)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dm) AS DOUBLE) / COUNT(*) / 1e3 AS avg_logratio,
           CAST(MIN(dm) AS DOUBLE) / 1e3 AS min_logratio,
           CAST(MAX(dm) AS DOUBLE) / 1e3 AS max_logratio
    FROM doc_w GROUP BY source
    """,
    "DSIR importance weights: smoothed target-vs-raw unigram LM log-ratio "
    "per doc (target = src0 slice), aggregated per source — the "
    "importance-resampling signal for targeted pretraining data selection",
)
def t20_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id", "source",
            F.explode(T.tokens(T.ascii_lower("text"))).alias("token"),
        )
        .filter(F.col("token") != "")
    )
    rc = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cr"))
    tc = (
        toks.filter(F.col("source") == "src0")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    w1 = Window.partitionBy(F.lit(1))
    voc = (
        rc.join(tc, "token", "left")
        .select("token", "cr", F.coalesce("ct", F.lit(0)).alias("ct"))
        .withColumn("nr", F.sum("cr").over(w1))
        .withColumn("vsz", F.count(F.lit(1)).over(w1))
        .withColumn("nt", F.sum("ct").over(w1))
    )
    scored = toks.join(voc, "token").select(
        "doc_id", "source",
        F.floor(
            F.lit(1000.0)
            * (
                F.log((F.col("ct") + 1) * (F.col("nr") + F.col("vsz")))
                - F.log((F.col("cr") + 1) * (F.col("nt") + F.col("vsz")))
            )
            + F.lit(1e-6)
        ).cast("bigint").alias("lr_milli"),
    )
    # per-doc mean in milli-nats by truncating integer division (matches
    # DuckDB //); integer sums are order-free, so no double ever crosses
    # an aggregation
    doc_w = scored.groupBy("doc_id", "source").agg(
        F.expr("sum(lr_milli) div count(1)").alias("dm")
    )
    return doc_w.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (F.sum("dm").cast("double") / F.count(F.lit(1)) / F.lit(1e3)).alias(
            "avg_logratio"
        ),
        (F.min("dm").cast("double") / F.lit(1e3)).alias("min_logratio"),
        (F.max("dm").cast("double") / F.lit(1e3)).alias("max_logratio"),
    )


# --------------------------------------------------------------------------
# g06 — local clustering coefficient over the same near-dup graph as
# g02/g03: lcc(v) = triangles(v) / C(deg(v), 2), the "how clique-like is
# this node's neighborhood" score that separates dense duplicate clusters
# (lcc ~ 1) from hub-and-spoke false-positive stars (lcc ~ 0) — the
# standard triage signal BEFORE collapsing near-dup clusters. Reuses g02's
# canonical a<b<c triangle join (two equi-joins, no adjacency lists) plus
# one degree aggregation; the ratio is exact-integer division so the
# coefficient is bit-stable.
# --------------------------------------------------------------------------
@register(
    "g06_clustering_coefficient",
    f"""
    WITH {G.NEARDUP_EDGES_CTE},
    und AS (
      SELECT src AS a, dst AS b FROM edges
      UNION ALL SELECT dst, src FROM edges
    ), deg AS (
      SELECT a AS node, COUNT(*) AS degree FROM und GROUP BY a
    ), {G.TRIANGLE_COUNTS_CTE}
    SELECT d.node,
           CAST(d.degree AS BIGINT) AS degree,
           CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles,
           ROUND(2.0 * COALESCE(t.n_triangles, 0)
                 / (d.degree * (d.degree - 1)), 6) AS lcc
    FROM deg d LEFT JOIN tc t ON d.node = t.node
    WHERE d.degree >= 2
    """,
    "local clustering coefficient over the near-dup graph: triangles(v) / "
    "C(deg,2) from g02's canonical triangle join + one degree agg — "
    "separates dense dup cliques (~1) from hub-and-spoke stars (~0)",
)
def g06_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    # consumed by the degree agg and three triangle-join branches
    edges = G.neardup_edges(_t(spark, sf_dir, "embeddings"))
    deg = G.symmetric_edges(edges).groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    tc = G.triangle_counts(edges)
    return (
        deg.filter(F.col("degree") >= 2)
        .join(tc, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
            F.round(
                F.lit(2.0)
                * F.coalesce(F.col("n_triangles"), F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
                6,
            ).alias("lcc"),
        )
    )
