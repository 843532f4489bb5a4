"""Query registry plumbing.

``Query`` pairs a Spark DataFrame plan with its DuckDB oracle SQL. Modules
register queries by importing ``register``; ``queries()``/``oracle_sql()``
feed the driver contract in ``__spark_entry__.py``.

Hash-match rules (driver compares order-insensitive value hashes):
- every computed column is aliased identically on both sides;
- floating-point aggregates are ``round(x, N)``-ed on both sides so
  summation-order ulp drift can't flip the hash;
- both sides produce the same column set (driver sorts columns by name).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    spark: SparkFn
    oracle: str | None  # None → driver runs weaker rows-only check
    description: str = ""


QUERIES: dict[str, Query] = {}


def register(name: str, oracle: str | None, description: str = "") -> Callable[[SparkFn], SparkFn]:
    def deco(fn: SparkFn) -> SparkFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = Query(name=name, spark=fn, oracle=oracle, description=description)
        return fn

    return deco


def _load_all() -> None:
    # Import for side effect: each module registers its queries.
    from aws_data_engineering_spark.plans import (  # noqa: F401
        events_queries,
        llm_queries,
        multimodal_queries,
        pipeline_queries,
        relational_queries,
        streaming_queries,
        extra_queries,
        breadth_queries,
        codec_queries,
        graphdedup_queries,
        lakehouse_queries,
        quality_audit_queries,
        retrieval_queries,
        textstats_queries,
    )


def queries() -> dict[str, SparkFn]:
    _load_all()
    return {name: q.spark for name, q in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    _load_all()
    return {name: q.oracle for name, q in QUERIES.items() if q.oracle is not None}
