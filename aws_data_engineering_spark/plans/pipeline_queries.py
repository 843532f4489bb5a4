"""Training-data pipeline queries: deterministic splits and dataset mixture.

Both queries and their oracles derive from the SAME Python dict of
fractions/rates (``operators/sampling`` generates the DuckDB SQL fragments),
so the two sides cannot drift.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_data_engineering_spark.operators import sampling as P
from aws_data_engineering_spark.operators import text as T
from aws_data_engineering_spark.plans.registry import register
from aws_data_engineering_spark.sources.tables import load_table
from aws_data_engineering_spark.storage import scratch_dir

# Single source of truth shared by Spark plan and oracle SQL.
SPLIT_FRACTIONS = {"train": 0.8, "val": 0.1, "test": 0.1}
MIXTURE_RATES = {"src0": 1.0, "src1": 0.75, "src2": 0.5, "src3": 0.5}
MIXTURE_DEFAULT = 0.25


@register(
    "p01_train_val_test_split",
    f"""
    WITH assigned AS (
      SELECT source, n_chars,
             {P.split_sql("doc_id", SPLIT_FRACTIONS)} AS split
      FROM documents
    )
    SELECT source, split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM assigned GROUP BY source, split
    """,
    "deterministic md5-bucket train/val/test split, counts per source",
)
def p01_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("split", P.split_assignment("doc_id", SPLIT_FRACTIONS))
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


@register(
    "p02_dataset_mixture",
    f"""
    SELECT doc_id, source
    FROM documents
    WHERE {P.mixture_sql("doc_id", "source", MIXTURE_RATES, MIXTURE_DEFAULT)}
    """,
    "dataset-mixture sampling: per-source deterministic keep rates",
)
def p02_dataset_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return P.mixture_sample(
        docs, "doc_id", "source", MIXTURE_RATES, MIXTURE_DEFAULT
    ).select("doc_id", "source")


@register(
    "p03_grouped_map_rank",
    """
    SELECT doc_id, source, n_chars,
           CAST(ROW_NUMBER() OVER (PARTITION BY source
                                   ORDER BY n_chars DESC, doc_id) AS INT)
             AS rank_in_source
    FROM documents
    """,
    "grouped-map applyInPandas (per-group pandas transform — one group per "
    "Arrow batch): per-source size ranking, oracle-checked against the "
    "window row_number equivalent",
)
def p03_grouped_map_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")

    def rank_group(pdf):
        out = pdf.sort_values(["n_chars", "doc_id"], ascending=[False, True]).copy()
        out["rank_in_source"] = range(1, len(out) + 1)
        return out

    return docs.groupBy("source").applyInPandas(
        rank_group, "doc_id bigint, source string, n_chars bigint, rank_in_source int"
    )


@register(
    "p04_grouped_agg_udf",
    """
    SELECT source,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents GROUP BY source
    """,
    "grouped-aggregate pandas_udf (Series -> scalar, partial-merged like a "
    "JVM agg): integer char totals per source, exact oracle",
)
def p04_grouped_agg_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("bigint")
    def int_sum(s: pd.Series) -> int:
        return int(s.sum())

    @pandas_udf("bigint")
    def int_max(s: pd.Series) -> int:
        return int(s.max())

    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        int_sum("n_chars").alias("total_chars"),
        int_max("n_chars").alias("max_chars"),
    )


@register(
    "p05_sequence_packing",
    f"""
    WITH d AS (
      SELECT doc_id, source,
             CAST(LEN({T.tokens_sql('text')}) AS BIGINT) AS n_tokens
      FROM documents
    ), o AS (
      SELECT doc_id, source, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
                    PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS start_offset
      FROM d
    )
    SELECT doc_id, source, n_tokens, start_offset,
           CAST(FLOOR(start_offset / 2048.0) AS BIGINT) AS pack_id,
           CAST(CASE WHEN n_tokens <= 0 THEN 0
                ELSE FLOOR((start_offset + n_tokens - 1) / 2048.0)
                   - FLOOR(start_offset / 2048.0) + 1 END AS BIGINT) AS n_chunks
    FROM o
    """,
    "concat-then-chunk sequence packing: per-corpus deterministic order, "
    "prefix-sum token offsets, 2048-token chunks — one window per group, "
    "parallel across corpora",
)
def p05_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", T.token_count("text").cast("bigint").alias("n_tokens")
    )
    packed = P.sequence_packing(
        docs, "n_tokens", budget=2048, order_col="doc_id", group_col="source"
    )
    return packed.select(
        "doc_id", "source", "n_tokens", "start_offset", "pack_id", "n_chunks"
    )


from aws_data_engineering_spark.sources.python_datasource import (  # noqa: E402
    read_synthlog,
    synthlog_oracle_sql,
)

_SYNTHLOG_ROWS = 20000


@register(
    "c01_python_datasource_scan",
    f"""
    WITH synthlog AS ({synthlog_oracle_sql(_SYNTHLOG_ROWS)})
    SELECT level,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(bucket) AS BIGINT) AS bucket_sum,
           CAST(MIN(id) AS BIGINT) AS first_id
    FROM synthlog GROUP BY level
    """,
    "custom connector on the Python Data Source API: partition-planned "
    "synthetic log source registered as format('synthlog'); oracle "
    "regenerates the identical table via generate_series + md5 arithmetic",
)
def c01_python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = read_synthlog(spark, rows=_SYNTHLOG_ROWS, partitions=8)
    return df.groupBy("level").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("bucket").alias("bucket_sum"),
        F.min("id").alias("first_id"),
    )


@register(
    "p06_token_budget_sample",
    f"""
    WITH d AS (
      SELECT doc_id, source,
             CAST(LEN({T.tokens_sql('text')}) AS BIGINT) AS n_tokens
      FROM documents
    ), o AS (
      SELECT doc_id, source, n_tokens,
             CAST(SUM(n_tokens) OVER (
                    PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS running_tokens
      FROM d
    )
    SELECT doc_id, source, n_tokens, running_tokens
    FROM o WHERE running_tokens - n_tokens < 5000
    """,
    "token-budget corpus sampling: keep docs per source until ~5000 tokens, "
    "selection order randomized-but-deterministic via md5(doc_id) — the "
    "'N tokens per corpus' mixture stage; one prefix-sum window per source, "
    "parallel across corpora",
)
def p06_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", T.token_count("text").cast("bigint").alias("n_tokens")
    )
    # order by content hash: an unbiased shuffle that is still reproducible
    # across runs, partitionings, and engines (same contract as p01/p02)
    w = (
        Window.partitionBy("source")
        .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = docs.withColumn("running_tokens", F.sum("n_tokens").over(w))
    # a doc is kept if the budget was not yet exhausted BEFORE it: the
    # first overflowing doc is included, so every source reaches >= budget
    return ranked.filter(
        (F.col("running_tokens") - F.col("n_tokens")) < 5000
    ).select("doc_id", "source", "n_tokens", "running_tokens")


@register(
    "q67_cdc_apply",
    """
    WITH changes AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 4 = 1 THEN 'D' ELSE 'U' END AS op,
             ROUND(o_totalprice + 10.0, 2) AS o_totalprice
      FROM orders WHERE o_orderkey % 4 IN (0, 1)
    ), final AS (
      SELECT o.o_orderkey,
             CASE WHEN o.o_orderkey % 4 = 0 THEN ROUND(o.o_totalprice + 10.0, 2)
                  ELSE ROUND(o.o_totalprice, 2) END AS price
      FROM orders o
      WHERE o.o_orderkey % 4 <> 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(price), 2) AS total_price,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key
    FROM final
    """,
    "CDC apply (I/U/D) against the orders snapshot: every 4th key updated "
    "(+10.00), keys ≡1 mod 4 deleted; one anti-join + union, no full rewrite "
    "— MERGE-with-delete semantics the reference's upsert lacks",
)
def q67_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_data_engineering_spark.sources.writers import apply_cdc

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.round("o_totalprice", 2).alias("price")
    )
    k = F.col("o_orderkey")
    changes = (
        load_table(spark, sf_dir, "orders")
        .filter((k % 4 == 0) | (k % 4 == 1))
        .select(
            "o_orderkey",
            F.when(k % 4 == 1, "D").otherwise("U").alias("op"),
            F.round(F.col("o_totalprice") + 10.0, 2).alias("price"),
        )
    )
    final = apply_cdc(orders, changes, ["o_orderkey"], op_col="op")
    return final.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("price"), 2).alias("total_price"),
        F.min("o_orderkey").alias("min_key"),
    )


@register(
    "c02_xml_roundtrip",
    """
    SELECT n_regionkey,
           CAST(COUNT(*) AS BIGINT) AS n_nations,
           CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
           MIN(n_name) AS first_name
    FROM nation GROUP BY n_regionkey
    """,
    "XML connector roundtrip (Spark 4 built-in XML source): nation written "
    "as XML, read back with an explicit schema, aggregated — the oracle "
    "aggregates the original table, so any row lost/garbled in the "
    "serialize→parse cycle fails the hash",
)
def c02_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from aws_data_engineering_spark.sources.readers import read_xml
    from aws_data_engineering_spark.sources.writers import write_xml

    nation = load_table(spark, sf_dir, "nation")
    out = os.path.join(scratch_dir("xml_roundtrip"), "nation")
    write_xml(nation, out, row_tag="nation", root_tag="nations")
    back = read_xml(
        spark, out, row_tag="nation",
        schema=nation.schema,  # explicit: inference would widen ints to long
    )
    return back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nations"),
        F.sum("n_nationkey").cast("bigint").alias("key_sum"),
        F.min("n_name").alias("first_name"),
    )


@register(
    "c03_managed_table_roundtrip",
    """
    SELECT r_regionkey,
           CAST(COUNT(*) AS BIGINT) AS n_regions,
           MIN(r_name) AS first_name
    FROM region GROUP BY r_regionkey
    """,
    "catalog surface: saveAsTable into the session warehouse -> "
    "spark.table read-back -> aggregate; the oracle aggregates the source "
    "table, so catalog metadata or data loss in the managed roundtrip "
    "fails the hash",
)
def c03_managed_table_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    region = load_table(spark, sf_dir, "region")
    # uuid-unique table name: a fixed name collides with a previous
    # process's orphaned managed-table directory (LOCATION_ALREADY_EXISTS —
    # the fresh in-memory catalog doesn't know about it) and would race a
    # concurrent session. The table is never dropped (the returned
    # DataFrame reads it lazily); a session from build_session_builder
    # keeps its warehouse under the scratch root, removed at exit
    name = f"spark_graft_c03_region_{uuid.uuid4().hex[:8]}"
    region.write.mode("overwrite").saveAsTable(name)
    # catalog-visibility check: O(1) lookup, survives `python -O` (a bare
    # assert is stripped), and doesn't scan the whole table list
    if not spark.catalog.tableExists(name):
        raise RuntimeError(f"managed table {name} not visible in catalog after save")
    back = spark.table(name)
    return back.groupBy("r_regionkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_regions"),
        F.min("r_name").alias("first_name"),
    )


@register(
    "c04_incremental_rollup",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
    "continuous-aggregate maintenance: hourly rollup built by TWO refresh "
    "calls — the second starts from the stored high-water mark and "
    "dynamic-partition-overwrites only the recomputed buckets — then read "
    "back; the oracle is the from-scratch hourly aggregate, so a bucket "
    "lost, duplicated, or double-counted by the incremental path fails "
    "the hash (the hypertable-rollup pattern at lake scale)",
)
def c04_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_data_engineering_spark.operators.rollup import (
        incremental_rollup_refresh,
        read_rollup,
    )

    events = load_table(spark, sf_dir, "events")
    path = scratch_dir("c04")
    incremental_rollup_refresh(spark, events, path)
    # second refresh: incremental no-op except the newest (possibly
    # partial) bucket — proves the hwm path leaves history untouched
    incremental_rollup_refresh(spark, events, path)
    return read_rollup(spark, path).select(
        "bucket_start", "event_type", "n_events", "total_value"
    )
