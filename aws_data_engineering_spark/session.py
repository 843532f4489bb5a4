"""SparkSession factory.

Generalizes the reference's ``start_spark()`` builders
(``generic_load_script.py:39-48``, ``FInal/load_script.py:58-69``): the
reference configured the Delta extension + catalog, an s3a endpoint, and a
hardcoded ``spark.sql.shuffle.partitions=200``. Our factory keeps the same
knobs but turns on AQE (runtime shuffle-partition coalescing, skew-join
splitting, dynamic broadcast) so the 200-partition hardcode is obsolete at any
scale, and gates Delta behind availability (the engine runs pure-Spark when
delta-spark isn't installed — see writers.merge_upsert for the fallback).

It also sizes Spark's JVM-wide cache of compiled generated classes
(``spark.sql.codegen.cache.maxEntries``) to the registry's working set. A
session here is long-lived and runs the same query shapes again and again;
with Spark's default of 100 entries a repeated shape whose classes were
evicted is compiled again by Janino and then runs interpreted until the JIT
warms it up again.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from aws_data_engineering_spark.storage import scratch_root

# Delta Lake is optional: the reference used it for MERGE upserts
# (generic_load_script.py:131-148); we fall back to a pure-Spark merge.
try:
    import importlib.util

    HAS_DELTA = importlib.util.find_spec("delta") is not None
except Exception:  # pragma: no cover
    HAS_DELTA = False


def _default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def driver_memory() -> str:
    """Driver heap size: ``$SPARK_GRAFT_DRIVER_MEM`` if set, else half of
    the host's physical RAM (local mode runs every executor in this JVM)."""
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{ram // 2 // 2**20}m"


def build_session_builder(
    app_name: str = "aws-data-engineering-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    s3_endpoint: str | None = None,
    glue_warehouse: str | None = None,
    extra_conf: dict[str, str] | None = None,
):
    """Assemble the configured ``SparkSession.builder`` WITHOUT creating the
    session. Split from :func:`get_spark` so the env-gated config branches
    (Iceberg-on-Glue catalog, s3a endpoint, Delta extension) are executable
    and assertable in pytest — catalog impl classes instantiate lazily on
    first use, so the only thing testable without EMR jars is exactly this
    builder contract (see tests/test_etl_core.py)."""
    cpus = _default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Arrow makes pandas UDFs / applyInPandas batch-vectorized.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Read ~128MB per input split: good default for wide parquet scans.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # dt partition values stay StringType on read-back (reference parity:
        # dt is a string date everywhere, e.g. FInal/load_script.py:212);
        # inference would silently retype them to DateType.
        .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
        # Keep generated classes for the session's life: one sweep of the
        # registry generates 3 990; Spark's default LRU of 100 recompiled
        # them (5 779 compiles in one sf0.001 sweep). Cost on a 4-vCPU /
        # 15 GB host: Metaspace after that sweep + System.gc() 253 MB vs
        # 224 MB at 100 (~7.6 KB a class, native memory beside the heap that
        # a small host must leave free); perfbench `queries` peak RSS
        # 1 495 MB vs 1 557 MB (a pass keeps only 133 classes, ~1 MB).
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        # managed tables go under the scratch root (removed at exit), not
        # into ./spark-warehouse
        .config("spark.sql.warehouse.dir", os.path.join(scratch_root(), "warehouse"))
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_GRAFT_NO_MASTER"):
        builder = builder.master(f"local[{cpus}]")

    if HAS_DELTA:
        builder = builder.config(
            "spark.sql.extensions", "io.delta.sql.DeltaSparkSessionExtension"
        ).config(
            "spark.sql.catalog.spark_catalog",
            "org.apache.spark.sql.delta.catalog.DeltaCatalog",
        )
    if s3_endpoint:
        # Mirrors FInal/load_script.py:64-66 (s3a endpoint for EMR/S3).
        builder = (
            builder.config("spark.hadoop.fs.s3a.endpoint", s3_endpoint)
            .config("spark.hadoop.fs.s3a.path.style.access", "true")
        )
    if glue_warehouse:
        # Iceberg-on-Glue catalog, the open-source analog of the reference's
        # hadoop_prod Iceberg catalog (bootstrap.sh:60-64); requires the
        # iceberg-spark-runtime + AWS bundle jars on the cluster (EMR ships
        # them) — config-only here, exercised on a real cluster.
        builder = (
            builder.config("spark.sql.catalog.glue", "org.apache.iceberg.spark.SparkCatalog")
            .config("spark.sql.catalog.glue.catalog-impl", "org.apache.iceberg.aws.glue.GlueCatalog")
            .config("spark.sql.catalog.glue.warehouse", glue_warehouse)
            .config("spark.sql.catalog.glue.io-impl", "org.apache.iceberg.aws.s3.S3FileIO")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder


def get_spark(
    app_name: str = "aws-data-engineering-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    s3_endpoint: str | None = None,
    glue_warehouse: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for lake-table analytics.

    Scale posture: AQE owns shuffle sizing at runtime (coalesce small
    partitions, split skewed ones, demote/promote broadcast joins), so the
    same code runs on local[32] for tests and a 1000-executor cluster — only
    ``shuffle_partitions`` (the pre-AQE upper bound) should grow with the
    cluster. The codegen class cache is sized so that one sweep of the whole
    registry fits: a query shape is compiled once per session, not again
    because other queries ran in between (cost: JVM Metaspace, see the
    comment at the setting).
    """
    return build_session_builder(
        app_name=app_name,
        master=master,
        shuffle_partitions=shuffle_partitions,
        s3_endpoint=s3_endpoint,
        glue_warehouse=glue_warehouse,
        extra_conf=extra_conf,
    ).getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
