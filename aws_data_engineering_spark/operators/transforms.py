"""Row-level transforms — reference operators P1-P5, done columnar.

The reference derives the ingestion date ``dt`` **on the driver** from the S3
key string (regex ``(\\d{8})`` in v1, ``generic_load_script.py:120-123``; a
split chain in v2, ``FInal/load_script.py:207-208``) and stamps it as one
literal per job. That works because each job handles exactly one file; our
engine reads whole directories, so the columnar analog uses
``input_file_name()`` per row — each row gets the date of the file it came
from, the multi-file generalization of the same semantic.

All five transforms are pure narrow operations (no shuffle); Catalyst folds
the literals and fuses everything into the scan's whole-stage-codegen span,
so at 100 TB they add zero extra passes.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# The reference's audit-actor literal (FInal/load_script.py:213-214).
DEFAULT_ACTOR = "EMR-PySpark"


def project(df: DataFrame, select_columns: list[str] | None) -> DataFrame:
    """P1 — optional column whitelist (``generic_load_script.py:116-117``;
    ``FInal/load_script.py:189-191``). No-op when the config omits it."""
    if select_columns:
        return df.select(*select_columns)
    return df


def range_sort(
    df: DataFrame, sort_columns: list[str] | None, num_partitions: int | None = None
) -> DataFrame:
    """P2 — config-driven sort (``FInal/load_script.py:193-195``) in the
    layout a ``dt``-partitioned write keeps: range-partitioned on
    ``sort_columns`` (the file layout ``orderBy`` aims for, one shuffle),
    then sorted by ``dt`` and ``sort_columns`` inside each partition, which
    already satisfies the writer's required ordering. A global ``orderBy``
    under that writer's local ``dt`` sort is reduced by Catalyst to a bare
    range repartition, leaving every file unsorted.

    ``num_partitions`` sizes the range exchange; None leaves it to the
    session count, which AQE coalesces. The range partitioner samples its
    input in a job of its own (one more scan of it) to find the bounds of
    more than one partition; at 1 partition there are no bounds and no
    sample. ``pipeline.run_load`` passes one partition per AQE advisory
    partition size of the inbound bytes (``storage.partitions_for_paths``),
    so a batch under that size is parsed once. AQE leaves an explicit count
    as it is. Compressed files are sized by their stored bytes, so a gzip
    batch gets fewer partitions than its parsed size would."""
    if sort_columns:
        cols = [num_partitions, *sort_columns] if num_partitions else sort_columns
        return df.repartitionByRange(*cols).sortWithinPartitions("dt", *sort_columns)
    return df


def dt_from_filename(col: Column | None = None) -> Column:
    """P3 — ingestion date from the source file path, columnar.

    Mirrors the v1 driver-side regex (``generic_load_script.py:120-126``):
    first 8-digit run in the filename → 'YYYY-MM-DD'; no match → literal
    'unknown' (that fallback is reference behavior, preserved)."""
    src = col if col is not None else F.input_file_name()
    raw = F.regexp_extract(src, r"(\d{8})", 1)
    return F.when(
        raw == "", F.lit("unknown")
    ).otherwise(F.date_format(F.to_date(raw, "yyyyMMdd"), "yyyy-MM-dd"))


def stamp_dt_from_filename(df: DataFrame) -> DataFrame:
    """P3+P4 for directory reads: per-row dt from ``input_file_name()``."""
    return df.withColumn("dt", dt_from_filename())


def stamp_audit_columns(df: DataFrame, actor: str = DEFAULT_ACTOR) -> DataFrame:
    """P5 — audit metadata (``FInal/load_script.py:213-216``): actor
    literals + create/update timestamps, one instant per call (microsecond
    precision, shown in the session time zone).

    The instant is taken on the driver and enters the plan as a string
    literal, which generated code receives by reference, so a repeat load
    reuses the classes of the last one. Catalyst folds any foldable
    expression, ``current_timestamp()`` and every cast or wrapper of a
    literal included, into a timestamp literal, and codegen inlines that
    as a ``long`` constant: every load would compile new classes. Appending
    an empty substring of ``spark_partition_id()``, which is
    non-deterministic, keeps the string unfolded without reading any
    column of ``df``; the cast then parses it once a row."""
    at = datetime.now(timezone.utc).isoformat()
    keep_unfolded = F.substring(F.spark_partition_id().cast("string"), 1, 0)
    return (
        df.withColumn("updt_nm", F.lit(actor))
        .withColumn("cret_nm", F.lit(actor))
        .withColumn("cret_ts", F.concat(F.lit(at), keep_unfolded).cast("timestamp"))
        .withColumn("updt_ts", F.col("cret_ts"))
    )


def rename_columns(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """Bulk rename — single projection, not chained withColumnRenamed
    (each withColumnRenamed adds an analysis pass on wide schemas)."""
    return df.select(
        *[F.col(c).alias(mapping.get(c, c)) for c in df.columns]
    )


def cast_columns(df: DataFrame, casts: dict[str, str]) -> DataFrame:
    """Bulk cast to type strings ('int', 'decimal(12,2)', ...)."""
    return df.select(
        *[
            F.col(c).cast(casts[c]).alias(c) if c in casts else F.col(c)
            for c in df.columns
        ]
    )


def morton_code(a: Column, b: Column, bits: int = 16) -> Column:
    """Z-order (Morton) value: interleave the low ``bits`` bits of two
    non-negative integer columns. Pure JVM bit arithmetic — codegen'd, no
    Python. Max shift is 2*bits+1 (33 for the default), well inside bigint
    under ANSI mode."""
    code = F.lit(0).cast("bigint")
    for i in range(bits):
        abit = F.shiftright(a.cast("bigint"), i).bitwiseAND(F.lit(1))
        bbit = F.shiftright(b.cast("bigint"), i).bitwiseAND(F.lit(1))
        code = code.bitwiseOR(F.shiftleft(abit, 2 * i)).bitwiseOR(
            F.shiftleft(bbit, 2 * i + 1)
        )
    return code


def morton_sql(a_expr: str, b_expr: str, bits: int = 16) -> str:
    """DuckDB expression computing the identical Morton value."""
    terms = []
    for i in range(bits):
        terms.append(f"(((CAST({a_expr} AS BIGINT) >> {i}) & 1) << {2 * i})")
        terms.append(f"(((CAST({b_expr} AS BIGINT) >> {i}) & 1) << {2 * i + 1})")
    return "(" + " | ".join(terms) + ")"


def zorder_by(df: DataFrame, a: str, b: str, bits: int = 16) -> DataFrame:
    """Cluster a table along a 2-D Z-order curve before writing: range-
    partition on the Morton value, then sort within partitions. Rows close
    in BOTH dimensions land in the same files, so min/max file statistics
    prune scans filtered on EITHER column — Delta OPTIMIZE ZORDER's effect
    from plain Spark primitives (SURVEY §4's data-skipping gap)."""
    z = morton_code(F.col(a), F.col(b), bits).alias("__z")
    with_z = df.withColumn("__z", z)
    return with_z.repartitionByRange("__z").sortWithinPartitions("__z").drop("__z")
