"""Round-12 optimization pins: each test freezes an internal contract a
round-12 change relies on, cheap enough for the default (non-slow) tier."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from tests.oracle_utils import executed_plan


def test_scaled_stream_shuffle_restores_conf(spark, sf_dir):
    """Feeds are sized through the Hadoop FileSystem: a ``file://`` URI gets
    the plain path's partition count, and a path the filesystem cannot
    size keeps the session count instead of dropping to 1."""
    from pathlib import Path

    from aws_data_engineering_spark.streaming import scaled_stream_shuffle

    key = "spark.sql.shuffle.partitions"
    advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    before = spark.conf.get(key)
    prev_advisory = spark.conf.get(advisory)
    events = os.path.join(sf_dir, "events.parquet")
    counts = {}
    spark.conf.set(advisory, "1k")  # small enough that events.parquet > 1
    try:
        for name, path in [
            ("plain", events),
            ("uri", Path(events).resolve().as_uri()),
            ("unsized", "nosuchscheme://bucket/events.parquet"),
        ]:
            with scaled_stream_shuffle(spark, path):
                counts[name] = int(spark.conf.get(key))
            assert spark.conf.get(key) == before
    finally:
        spark.conf.set(advisory, prev_advisory)
    assert 1 < counts["plain"] <= int(before)
    assert counts["uri"] == counts["plain"]
    assert counts["unsized"] == int(before)
    # restore even when the body raises
    try:
        with scaled_stream_shuffle(spark, os.path.join(sf_dir, "events.parquet")):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get(key) == before


def test_d04_signature_pass_single_materialization(spark, sf_dir):
    """The minhash signature table is pinned to ONE RDD identity (lazy
    localCheckpoint): the executed plan must scan an ExistingRDD and carry
    NO Python signature stage per consumer branch — the regression guarded
    against is the 3-4x duplicated ArrowEval/MapInPandas signature pass."""
    from aws_data_engineering_spark.plans.registry import queries

    df = queries()["d04_minhash_candidate_pairs"](spark, sf_dir)
    plan = executed_plan(df)
    assert "ExistingRDD" in plan, plan[:2000]
    assert "MapInPandas" not in plan and "ArrowEval" not in plan, plan[:2000]


def test_rollup_hwm_matches_data_max_and_one_file_per_bucket(spark, sf_dir, tmp_path):
    """_rollup_hwm (partition-directory listing) must equal the scanned
    max(bucket_start), and the repartitioned write must leave exactly one
    parquet file per bucket partition."""
    from aws_data_engineering_spark.operators import rollup as R
    from aws_data_engineering_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "rollup")
    R.incremental_rollup_refresh(spark, events, path)
    listed = R._rollup_hwm(spark, path)
    scanned = (
        R.read_rollup(spark, path).agg(F.max(R.ROLLUP_BUCKET_COL)).first()[0]
    )
    assert listed == scanned
    for d in glob.glob(f"{path}/{R.ROLLUP_BUCKET_COL}=*"):
        files = [f for f in glob.glob(f"{d}/*.parquet")]
        assert len(files) == 1, (d, files)


def test_full_drive_fn_source_extraction():
    """Function-granularity tripwire attribution: _fn_source extracts the
    decorated span and detects body-only changes."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "full_drive",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "tools", "full_drive.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    a = 'x = 1\n\n@deco("n")\ndef q(spark):\n    return 1\n\ndef other():\n    return 2\n'
    b = 'x = 2\n\n@deco("n")\ndef q(spark):\n    return 1\n\ndef other():\n    return 99\n'
    c = a.replace("return 1", "return 3")
    assert mod._fn_source(a, "q") == mod._fn_source(b, "q")  # unrelated hunks
    assert mod._fn_source(a, "q") != mod._fn_source(c, "q")  # body change
    assert mod._fn_source(a, "missing") is None
    # the tripwire also diffs the engine modules the query module imports:
    # d04's minhash kernel lives in operators/dedup.py, not its plan module
    from aws_data_engineering_spark.plans.registry import queries

    deps = mod._engine_modules(queries()["d04_minhash_candidate_pairs"])
    assert os.path.join("aws_data_engineering_spark", "operators", "dedup.py") in deps


def test_write_bucketed_feed_matches_loop_form(spark, tmp_path):
    """The one-scan bucketed feed build must reproduce the per-bucket
    filter+append loop it replaced exactly: one file per bucket, bucket
    composition identical (null keys excluded, out-of-range buckets
    excluded), mtimes strictly increasing in bucket order."""
    from aws_data_engineering_spark.streaming import write_bucketed_feed

    rows = [(i, f"doc {i}", "en", "web", 0) for i in range(10)]
    rows.append((None, "null id", "en", "web", 0))
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, pad int"
    )
    in_dir = str(tmp_path / "in")
    expr = F.pmod(F.col("doc_id"), F.lit(3))  # NULL -> no bucket
    write_bucketed_feed(df, expr, in_dir, 3)

    files = sorted(glob.glob(os.path.join(in_dir, "*.parquet")))
    assert [os.path.basename(f) for f in files] == [
        f"feed-{b}.parquet" for b in range(3)
    ]
    mtimes = [os.path.getmtime(f) for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3
    for b, f in enumerate(files):
        got = {r["doc_id"] for r in spark.read.parquet(f).collect()}
        want = {
            r["doc_id"] for r in df.filter(expr == b).collect()
        }
        assert got == want, (b, got, want)
        # schema matches the plain write the loop form produced
        assert spark.read.parquet(f).columns == df.columns


def test_write_bucketed_feed_pads_empty_bucket(spark, tmp_path):
    """A bucket empty at tiny SFs still yields a schema-only feed file, so
    the micro-batch count stays corpus-independent (the old loop's empty
    coalesce(1) write did the same)."""
    from aws_data_engineering_spark.streaming import write_bucketed_feed

    df = spark.createDataFrame([(0, "a"), (3, "b")], "doc_id bigint, text string")
    in_dir = str(tmp_path / "in")
    write_bucketed_feed(df, F.pmod(F.col("doc_id"), F.lit(3)), in_dir, 3)
    files = sorted(glob.glob(os.path.join(in_dir, "*.parquet")))
    assert len(files) == 3
    counts = [spark.read.parquet(f).count() for f in files]
    assert counts == [2, 0, 0]
    assert spark.read.parquet(files[1]).columns == ["doc_id", "text"]
    # a multi-file split without its deterministic split key is refused
    with pytest.raises(ValueError, match="sub_expr"):
        write_bucketed_feed(
            df, F.pmod(F.col("doc_id"), F.lit(3)), str(tmp_path / "in2"), 3,
            files_per_bucket=2,
        )
