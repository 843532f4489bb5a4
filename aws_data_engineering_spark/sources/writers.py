"""Writer strategies — reference operators W1-W6, Spark-first.

The reference's load strategies (``generic_load_script.py:128-173``;
``FInal/load_script.py:73-112,197-204``):

- W1/W2 landing write: append/overwrite, partitioned by ``dt`` (v1 Delta) or
  unpartitioned parquet (v2 — which writes landing *before* stamping ``dt``,
  a bug we don't copy; our landing is always dt-partitioned).
- W3 curated append, W4 curated truncate/overwrite: blind insert / full
  replace, partitioned by ``dt``.
- W5 curated MERGE upsert: Delta ``whenMatchedUpdateAll / whenNotMatchedInsertAll``
  keyed on **primary_key + dt** (``generic_load_script.py:158``;
  ``FInal/load_script.py:94-96``) — the same business key on a new day
  inserts rather than updates. First load creates the table; missing PK is a
  hard error (``generic_load_script.py:155-156``).
- W6 strategy dispatch: unknown strategy → ``ValueError``
  (``generic_load_script.py:172-173``; ``FInal/load_script.py:111-112``).

Delta Lake is used when installed; otherwise ``merge_upsert`` runs a
pure-Spark merge with the identical row semantics. Because the merge key
includes the partition column, a source row can only ever touch its own
``dt`` partition — so the fallback rewrites *only the partitions present in
the incoming batch*, never the whole table: it writes them to a staging
directory once and renames each staged partition over its target (the
commit Spark's own dynamic partition overwrite performs). At 100 TB with
daily ingest that is the difference between rewriting ~1/1000 of the table
and rewriting all of it.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_data_engineering_spark.session import HAS_DELTA
from aws_data_engineering_spark.storage import HadoopPath

VALID_STRATEGIES = ("append", "overwrite", "truncate", "upsert")


def write_append(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = ("dt",),
    fmt: str = "parquet",
) -> None:
    """W1/W3 — blind insert. Not idempotent on re-run (reference behavior:
    re-delivered files duplicate rows under append; use upsert for
    exactly-once)."""
    w = df.write.mode("append").format(fmt)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def write_overwrite(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = ("dt",),
    fmt: str = "parquet",
) -> None:
    """W4 — full replace ('truncate' in v1, 'overwrite' in v2)."""
    w = df.write.mode("overwrite").format(fmt)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def merge_condition(
    primary_key: list[str],
    partition_col: str | None,
    target_alias: str = "t",
    source_alias: str = "s",
) -> str:
    """The Delta MERGE ON condition: equality on every primary key column
    plus the partition column, each backtick-quoted (reference contract:
    FInal/load_script.py:94-96 — ``target.`k` = source.`k``` per PK AND
    ``target.dt = source.dt``; we quote the partition column too, which is
    semantically identical and safe for reserved-word column names).

    Matches ``_merge_upsert_pure_spark`` exactly: both key on
    ``primary_key + [partition_col]``, so the Delta branch and the tested
    pure-Spark branch have identical row semantics.
    """
    keys = list(primary_key) + ([partition_col] if partition_col else [])
    return " AND ".join(
        f"{target_alias}.`{k}` = {source_alias}.`{k}`" for k in keys
    )


def merge_upsert(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    primary_key: list[str],
    partition_col: str | None = "dt",
    fmt: str = "parquet",
) -> None:
    """W5 — MERGE upsert keyed on ``primary_key + partition_col``.

    Matched target rows are replaced column-for-column by the source row
    (update-all); unmatched source rows are inserted (insert-all) — i.e. the
    post-merge table is: (target rows with no source match) ∪ (source rows).
    Idempotent: re-running the same batch yields the same table.
    """
    if not primary_key:
        # reference contract: upsert without a PK is a hard error
        # (generic_load_script.py:155-156; FInal/load_script.py:89-90)
        raise ValueError("primary_key is required for upsert strategy")
    if fmt == "delta" and not HAS_DELTA:
        raise ValueError(
            "fmt='delta' requires delta-spark, which is not installed; "
            "use fmt='parquet' (the pure-Spark merge has identical row semantics)"
        )

    if not HadoopPath(spark, path).holds_visible_entry():
        # first load creates the table (generic_load_script.py:152-154).
        # Probed on the filesystem, never by trying a read: a table that
        # exists but cannot be read must fail the merge, not be replaced
        # by the batch.
        write_overwrite(
            df, path, (partition_col,) if partition_col else (), fmt
        )
        return

    if HAS_DELTA and fmt == "delta":
        from delta.tables import DeltaTable

        cond = merge_condition(primary_key, partition_col)
        (
            DeltaTable.forPath(spark, path)
            .alias("t")
            .merge(df.alias("s"), cond)
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .execute()
        )
        return

    _merge_upsert_pure_spark(spark, df, path, primary_key, partition_col, fmt)


def _merge_upsert_pure_spark(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    primary_key: list[str],
    partition_col: str | None,
    fmt: str,
) -> None:
    """Pure-Spark MERGE: survivors(target) ∪ source, rewritten per-partition.

    Join strategy note: the anti-join's build side is the incoming batch's
    key set — one day of keys, typically MBs even when the table is TBs —
    so Catalyst/AQE broadcasts it and the merge costs one scan of the
    affected partitions, no target-side shuffle.
    """
    target = spark.read.format(fmt).load(path)
    keys = list(primary_key) + ([partition_col] if partition_col else [])
    source = df.select(*target.columns)  # align column order for the union

    survivors = target
    if partition_col:
        # static partition pruning: only scan partitions the batch touches
        batch_parts = [r[0] for r in df.select(partition_col).distinct().collect()]
        survivors = survivors.filter(F.col(partition_col).isin(batch_parts))
    # no distinct(): a left-anti join drops the same rows whether a key
    # occurs once or many times on the build side, and distinct would cost
    # the key set a shuffle of its own
    survivors = survivors.join(
        F.broadcast(df.select(*keys)), on=keys, how="left_anti"
    )
    _write_staged_then_swap(
        spark, survivors.unionByName(source), path, partition_col, fmt,
        "_merge_staging", per_partition=bool(partition_col),
    )


def _write_staged_then_swap(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    partition_col: str | None,
    fmt: str,
    prefix: str,
    per_partition: bool,
) -> None:
    """Write ``df`` (which reads ``path``) to a staging sibling, then
    rename it over ``path``: each staged partition over its target when
    ``per_partition``, else the whole table. Spark refuses to overwrite a
    path it is reading from, hence the staging hop; with Delta installed a
    MERGE or OPTIMIZE is one transaction instead. Staging is removed
    whether or not the write and the swap succeed."""
    table = HadoopPath(spark, path)
    staging = table.sibling(f"{prefix}_{uuid.uuid4().hex[:8]}")
    try:
        w = df.write.mode("overwrite").format(fmt)
        if partition_col:
            w = w.partitionBy(partition_col)
        w.save(str(staging))
        table.replace_with(staging, partitioned=per_partition)
    finally:
        staging.delete()


def compact_table(
    spark: SparkSession,
    path: str,
    partition_col: str | None = "dt",
    target_files_per_partition: int = 1,
    fmt: str = "parquet",
) -> None:
    """Small-file compaction — the gap the reference leaves open (SURVEY.md
    §4: per-day appends accumulate small files; no OPTIMIZE anywhere).

    Rewrites the table via a partition-keyed repartition into a staging
    copy, then swaps the copy in for the whole table. At 100 TB run this
    per-partition (recent ``dt`` values only) on a schedule; with Delta
    installed prefer ``OPTIMIZE`` (transactional, concurrent-reader-safe)."""
    df = spark.read.format(fmt).load(path)
    if partition_col:
        compacted = df.repartition(target_files_per_partition, F.col(partition_col))
    else:
        compacted = df.repartition(target_files_per_partition)
    _write_staged_then_swap(
        spark, compacted, path, partition_col, fmt, "_compact_staging",
        per_partition=False,
    )


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    fmt: str = "parquet",
) -> None:
    """Bucketed managed table — the co-location tool for repeated big-big
    joins. Two tables bucketed by the same key into the same bucket count
    join with NO exchange on either side (the physical plan is scan →
    sort-merge join directly; asserted in tests). At 100 TB this converts
    every recurring fact-fact join from two full shuffles to zero —
    bucketing is paid once at write time.

    Uses ``saveAsTable`` because bucket metadata lives in the catalog
    (path-based writes can't record it)."""
    w = df.write.mode("overwrite").format(fmt).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)


def write_curated(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    strategy: str,
    primary_key: list[str] | None = None,
    partition_col: str | None = "dt",
    fmt: str = "parquet",
) -> None:
    """W6 — strategy dispatch ('truncate' is the v1 spelling of overwrite)."""
    parts = (partition_col,) if partition_col else ()
    if strategy == "append":
        write_append(df, path, parts, fmt)
    elif strategy in ("overwrite", "truncate"):
        write_overwrite(df, path, parts, fmt)
    elif strategy == "upsert":
        merge_upsert(spark, df, path, primary_key or [], partition_col, fmt)
    else:
        raise ValueError(
            f"Unknown load strategy: {strategy!r} (expected one of {VALID_STRATEGIES})"
        )


def apply_cdc(
    base: DataFrame,
    changes: DataFrame,
    keys: list[str],
    op_col: str = "op",
    seq_col: str | None = None,
    tiebreak: str | None = None,
) -> DataFrame:
    """Apply a change-data-capture batch (I/U/D rows) to a snapshot.

    Extends the reference's MERGE semantics (``merge_upsert``,
    ``generic_load_script.py:150-170``) with DELETE — the op Delta MERGE
    expresses as ``whenMatchedDelete`` and the reference never needed
    (append-only feeds). Semantics: with ``seq_col`` given, only each key's
    LATEST change applies (earlier versions are superseded — the Debezium
    compaction rule); ``'D'`` removes the key, anything else upserts the
    row. Plan shape: one window (latest-per-key) + one left-anti join on
    the key + a union — all key-partitioned, no full-table rewrite beyond
    what MERGE itself would touch.
    """
    if not keys:
        raise ValueError("apply_cdc requires a non-empty primary_key")
    latest = changes
    if seq_col is not None:
        from pyspark.sql import Window

        order = [F.col(seq_col).desc()]
        if tiebreak:
            order.append(F.col(tiebreak).asc())
        w = Window.partitionBy(*keys).orderBy(*order)
        latest = (
            changes.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    drop_cols = [op_col] + ([seq_col] if seq_col else [])
    upserts = latest.filter(F.col(op_col) != "D").drop(*drop_cols)
    kept = base.join(latest.select(*keys), keys, "left_anti")
    return kept.unionByName(upserts)


def write_xml(
    df: DataFrame,
    path: str,
    row_tag: str = "row",
    root_tag: str = "rows",
    mode: str = "overwrite",
) -> None:
    """XML sink (Spark 4 built-in XML source). One file per partition, same
    parallel-write model as parquet/csv — the interchange format for
    feeds that still speak XML."""
    (
        df.write.format("xml")
        .option("rowTag", row_tag)
        .option("rootTag", root_tag)
        .mode(mode)
        .save(path)
    )
