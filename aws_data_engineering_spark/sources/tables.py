"""Fixture-table catalog.

The driver's deterministic tables (TESTDATA.md / FIXTURES.md §A) live as one
parquet file per table under a scale-factor directory. ``load_tables``
registers them all as temp views so both the DataFrame API and ``spark.sql``
can reach them, mirroring how the DuckDB oracle sees pre-registered views.

Scale note: these are plain ``spark.read.parquet`` scans — Catalyst handles
column pruning + predicate pushdown into the parquet footer, and
``spark.sql.files.maxPartitionBytes`` splits big files across executors, so
the same loader works unchanged on a 100 TB lake directory.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # events.ts has shipped as three different parquet encodings across
        # fixture generations; normalize every one of them to TimestampType
        # so downstream plans (unix_micros, windows, as-of joins) see ONE
        # contract:
        # - TIMESTAMP(NANOS): Spark rejects it unless nanosAsLong, then it
        #   reads as bigint nanos → integer-divide to micros (DIV, not
        #   double division — ns epoch exceeds double's 2^53 mantissa);
        # - timestamp[us] (current fixtures): reads as TIMESTAMP_NTZ →
        #   cast to TIMESTAMP (identity under a UTC session, and the
        #   oracle compares via naive wall-clock formatting either way);
        # - plain TIMESTAMP: already the contract.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES
) -> dict[str, DataFrame]:
    """Load tables and register each as a temp view of the same name."""
    out: dict[str, DataFrame] = {}
    for name in names:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
