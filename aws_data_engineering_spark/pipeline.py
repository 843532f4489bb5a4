"""Config-driven load pipeline — the reference lifecycle (SURVEY.md §3),
collapsed into one composable function and purged of its bugs.

Reference shape (``FInal/load_script.py:115-221``): parse key → fetch config →
build schema → CSV scan → project → sort → landing write → derive dt →
stamp metadata → curated strategy write. We keep the same JSON config
contract (schema / select_columns / sort_columns / delimiter /
landing_load_strategy / curated_load_strategy / primary_key) and the same
zone layout, with these deliberate fixes:

- landing is written *after* the ``dt`` stamp and partitioned by it (v2
  wrote landing pre-``dt``, ``FInal/load_script.py:197-204`` vs ``:212``).
- the date comes from the filename per-row (``input_file_name()``), so one
  run can ingest a whole directory of daily files — the reference was
  one-file-per-job (``Script.sh:10-16``).
- no driver-side gunzip (v1's ``generic_load_script.py:14-24``): Spark reads
  ``.gz`` CSV natively on executors.
- unknown landing strategy is a hard error (v1 silently treated anything
  ≠ 'append' as overwrite, ``generic_load_script.py:130``).

Scale posture: every step is a narrow transform fused into the scan until
the optional range sort. The batch is then materialized once (an eager,
tracked local checkpoint), so the landing write, the curated write and an
upsert's partition probe and key set all read it instead of re-parsing the
CSV; its blocks are released when the load ends. The range sort gets one
partition per AQE advisory partition size of the inbound bytes: a batch
under that size is parsed once, and a larger one is parsed a second time
by the range partitioner's sampling job. A MERGE commits by renaming its
staged partitions over the ones it replaces. Gzip files are
non-splittable — one task per file — so 100 TB ingest parallelism comes
from file count, which the daily-file layout provides.
"""

from __future__ import annotations

import json
import logging
import sys
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from aws_data_engineering_spark.operators import transforms as T
from aws_data_engineering_spark.operators.checkpoints import (
    release_checkpoints,
    tracked_local_checkpoint,
)
from aws_data_engineering_spark.schema import build_schema_from_dict
from aws_data_engineering_spark.sources.readers import read_csv
from aws_data_engineering_spark.sources.writers import write_curated
from aws_data_engineering_spark.storage import partitions_for_paths

VALID_LANDING_STRATEGIES = ("append", "overwrite")


def setup_logger(name: str = "aws_data_engineering_spark", log_file: str | None = None) -> logging.Logger:
    """E4 — stdout (+ optional file) logger, generalizing the reference's
    ``setup_logger`` contract (``FInal/load_script.py:16-29``)."""
    logger = logging.getLogger(name)
    if not logger.handlers:
        fmt = logging.Formatter("%(asctime)s %(levelname)s %(name)s: %(message)s")
        sh = logging.StreamHandler(sys.stdout)
        sh.setFormatter(fmt)
        logger.addHandler(sh)
        if log_file:
            fh = logging.FileHandler(log_file)
            fh.setFormatter(fmt)
            logger.addHandler(fh)
        logger.setLevel(logging.INFO)
    return logger


_log = setup_logger()


@dataclass
class TableConfig:
    """The per-table JSON contract (``<table>_config.json`` in the reference:
    ``generic_load_script.py:88-100``; ``FInal/load_script.py:150-175``)."""

    table_name: str
    schema: dict[str, str]
    primary_key: list[str] = field(default_factory=list)
    select_columns: list[str] = field(default_factory=list)
    sort_columns: list[str] = field(default_factory=list)
    delimiter: str = ","
    landing_load_strategy: str = "append"
    curated_load_strategy: str = "append"
    file_format: str = "parquet"

    @classmethod
    def from_json(cls, text: str) -> "TableConfig":
        raw = json.loads(text)
        known = {f for f in cls.__dataclass_fields__}
        return cls(**{k: v for k, v in raw.items() if k in known})

    @classmethod
    def from_file(cls, path: str) -> "TableConfig":
        return cls.from_json(Path(path).read_text())

    @classmethod
    def from_s3(cls, bucket: str, key: str, s3_client=None) -> "TableConfig":
        """S2 — fetch ``<table>_config.json`` from the config bucket, the
        reference's live path (``generic_load_script.py:27-36``;
        ``FInal/load_script.py:33-38``: ``s3.get_object`` → ``json.loads``).

        The client is injectable so tests run against moto/stubs; the
        default builds a real boto3 client. This is a driver-side fetch of
        a few-KB JSON — never a Spark job.
        """
        if s3_client is None:
            import boto3  # driver-side only; deferred so the engine
            # itself never requires AWS SDKs at import time

            s3_client = boto3.client("s3")
        body = s3_client.get_object(Bucket=bucket, Key=key)["Body"].read()
        return cls.from_json(body.decode("utf-8"))


def to_s3a(path: str) -> str:
    """Normalize an ``s3://`` URI to the ``s3a://`` scheme Spark's Hadoop
    connector needs (``FInal/load_script.py:138-140`` — the reference's
    ``s3a_path`` helper; boto3 paths stay ``s3://``). Non-s3 paths pass
    through untouched, so local/hdfs runs need no special-casing."""
    if path.startswith("s3://"):
        return "s3a://" + path[5:]
    return path


def compose_inbound_path(landing_root: str, file_key: str) -> str:
    """Join the landing root and the landed object key exactly as the
    reference composes ``full_s3_path`` (``FInal/load_script.py:143-144``:
    ``f"{LANDING_PATH.rstrip('/')}/{file_key.lstrip('/')}"`` then
    ``s3a_path``) — minus the reference's bug of reading an undefined
    ``file_key`` variable (its argv binds ``file_path``; the composed path
    crashes with NameError before any Spark work)."""
    return to_s3a(f"{landing_root.rstrip('/')}/{file_key.lstrip('/')}")


def parse_inbound_key(key: str) -> tuple[str, str, str]:
    """S1 — split ``inbound/<source_system>/<table_name>/<file>`` positionally
    (``Script.sh:13-16``; ``FInal/script.sh:13-16``)."""
    parts = key.strip("/").split("/")
    if len(parts) < 4:
        raise ValueError(
            f"Inbound key must be inbound/<source>/<table>/<file>, got {key!r}"
        )
    return parts[1], parts[2], parts[3]


def run_load(
    spark: SparkSession,
    config: TableConfig,
    inbound_path: str,
    landing_path: str,
    curated_path: str,
) -> dict:
    """Execute one config-driven load: inbound CSV → landing → curated.

    The batch is parsed, stamped and sorted once (a batch over one advisory
    partition also pays the sort's sample); both zone writes read that one
    materialization. Returns the load's audit metrics
    (``rows_written``, plus ``null_pk_rows`` when the config declares a
    primary key).
    """
    if config.landing_load_strategy not in VALID_LANDING_STRATEGIES:
        raise ValueError(
            f"Unknown landing strategy: {config.landing_load_strategy!r}"
        )
    schema = build_schema_from_dict(config.schema)
    _log.info(
        "load start: table=%s inbound=%s landing=%s curated=%s strategies=%s/%s",
        config.table_name,
        inbound_path,
        landing_path,
        curated_path,
        config.landing_load_strategy,
        config.curated_load_strategy,
    )

    df = read_csv(spark, inbound_path, schema=schema, delimiter=config.delimiter)
    df = T.project(df, config.select_columns)
    # dt BEFORE the sort: input_file_name() is only defined inside the scan
    # stage — after the sort's range-exchange it evaluates to "" (→ 'unknown')
    df = T.range_sort(
        T.stamp_dt_from_filename(df),
        config.sort_columns,
        partitions_for_paths(spark, inbound_path) if config.sort_columns else None,
    )

    own_ids: set[int] = set()
    try:
        batch = tracked_local_checkpoint(df, own_ids)
        write_curated(
            spark,
            batch,
            landing_path,
            config.landing_load_strategy,
            partition_col="dt",
            fmt=config.file_format,
        )
        # in-flight audit metrics via observe(): row count + null-PK count
        # are computed ON the curated write itself, not by a second pass.
        # The reference only log-stamps progress
        # (FInal/load_script.py:16-29); this gives the load a verifiable
        # data contract at no extra pass.
        obs = Observation(f"load_audit_{config.table_name}")
        metrics = [F.count(F.lit(1)).alias("rows_written")]
        if config.primary_key:
            null_pk = F.lit(False)
            for k in config.primary_key:
                null_pk = null_pk | F.col(k).isNull()
            metrics.append(F.sum(null_pk.cast("int")).alias("null_pk_rows"))
        write_curated(
            spark,
            T.stamp_audit_columns(batch).observe(obs, *metrics),
            curated_path,
            config.curated_load_strategy,
            primary_key=config.primary_key,
            partition_col="dt",
            fmt=config.file_format,
        )
        audit = obs.get
    finally:
        release_checkpoints(spark, own_ids)
    _log.info("load done: table=%s audit=%s", config.table_name, audit)
    if config.primary_key and audit.get("null_pk_rows"):
        _log.warning(
            "table=%s has %s rows with NULL primary-key columns",
            config.table_name,
            audit["null_pk_rows"],
        )
    return audit
