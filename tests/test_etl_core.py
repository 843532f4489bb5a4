"""Unit + end-to-end tests for the reference-parity ETL core
(SURVEY.md §2a: S1/S6, P1-P5, W1-W6) — the test strategy of SURVEY.md §5:
schema builder error paths, dt derivation incl. the 'unknown' fallback,
strategy dispatch errors, MERGE semantics (update vs insert vs
new-partition-insert because dt is part of the merge key), and pipeline
idempotence (upsert re-runs are idempotent; append re-runs duplicate).
"""

from __future__ import annotations

import gzip
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType, IntegerType, StringType

from aws_data_engineering_spark import pipeline as P
from aws_data_engineering_spark import schema as S
from aws_data_engineering_spark.operators import transforms as T
from aws_data_engineering_spark.sources import writers as W


# ---------------------------------------------------------------------------
# schema.py (S6)
# ---------------------------------------------------------------------------
def test_schema_reference_spellings():
    st = S.build_schema_from_dict({"id": "IntegerType", "name": "StringType"})
    assert [f.dataType for f in st.fields] == [IntegerType(), StringType()]
    assert all(f.nullable for f in st.fields)


def test_schema_full_lattice(spark):  # DDL types parse via the session's JVM
    st = S.build_schema_from_dict(
        {
            "a": "bigint",
            "b": "double",
            "c": "timestamp",
            "d": "decimal(12,2)",
            "e": "array<float>",
            "f": "struct<x:int,y:string>",
        }
    )
    assert st["e"].dataType == ArrayType(FloatType())
    assert st["d"].dataType.simpleString() == "decimal(12,2)"


def test_schema_unknown_type_raises():
    with pytest.raises(ValueError, match="Unsupported type"):
        S.build_schema_from_dict({"x": "NotAType!!"})


def test_schema_empty_raises():
    with pytest.raises(ValueError, match="required"):
        S.build_schema_from_dict({})


# ---------------------------------------------------------------------------
# transforms.py (P1-P5)
# ---------------------------------------------------------------------------
def test_dt_from_filename(spark):
    df = spark.createDataFrame(
        [("s3://b/inbound/src/t/t_20240131.gz",), ("no-date-here.csv",)],
        ["path"],
    )
    out = df.select(T.dt_from_filename(F.col("path")).alias("dt")).collect()
    assert [r["dt"] for r in out] == ["2024-01-31", "unknown"]


def test_project_and_sort(spark):
    df = spark.createDataFrame([Row(a=2, b="y"), Row(a=1, b="x")])
    assert T.project(df, ["a"]).columns == ["a"]
    assert T.project(df, None).columns == ["a", "b"]
    assert T.range_sort(df, None) is df
    out = T.range_sort(df.withColumn("dt", F.lit("d1")), ["a"])
    assert [r["a"] for r in out.collect()] == [1, 2]


def test_stamp_audit_columns(spark):
    df = spark.createDataFrame([Row(a=1)])
    out = T.stamp_audit_columns(df)
    assert set(out.columns) == {"a", "updt_nm", "cret_nm", "cret_ts", "updt_ts"}
    assert dict(out.dtypes)["cret_ts"] == "timestamp"
    row = out.collect()[0]
    assert row["updt_nm"] == row["cret_nm"] == T.DEFAULT_ACTOR
    assert row["cret_ts"] is not None and row["cret_ts"] == row["updt_ts"]


def test_rename_and_cast(spark):
    df = spark.createDataFrame([Row(a=1, b="2")])
    out = T.cast_columns(T.rename_columns(df, {"a": "x"}), {"b": "int"})
    assert out.columns == ["x", "b"]
    assert dict(out.dtypes)["b"] == "int"


# ---------------------------------------------------------------------------
# writers.py (W1-W6)
# ---------------------------------------------------------------------------
def _mkdf(spark, rows):
    return spark.createDataFrame(rows, "id int, val string, dt string")


def test_append_then_overwrite(spark, tmp_path):
    p = str(tmp_path / "t")
    W.write_curated(spark, _mkdf(spark, [(1, "a", "d1")]), p, "append")
    W.write_curated(spark, _mkdf(spark, [(1, "a", "d1")]), p, "append")
    assert spark.read.parquet(p).count() == 2  # append duplicates (reference)
    W.write_curated(spark, _mkdf(spark, [(2, "b", "d1")]), p, "truncate")
    out = spark.read.parquet(p).collect()
    assert len(out) == 1 and out[0]["id"] == 2


def test_unknown_strategy_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="Unknown load strategy"):
        W.write_curated(spark, _mkdf(spark, [(1, "a", "d1")]), str(tmp_path / "t"), "bogus")


def test_upsert_requires_pk(spark, tmp_path):
    with pytest.raises(ValueError, match="primary_key"):
        W.merge_upsert(spark, _mkdf(spark, [(1, "a", "d1")]), str(tmp_path / "t"), [])


def test_merge_semantics(spark, tmp_path):
    """update-all on (PK, dt) match; insert on new PK; insert (not update)
    when the same PK arrives under a new dt — the reference's key includes
    dt (generic_load_script.py:158)."""
    p = str(tmp_path / "t")
    W.merge_upsert(spark, _mkdf(spark, [(1, "v1", "d1"), (2, "v1", "d1")]), p, ["id"])
    # batch 2: update id=1@d1, insert id=3@d1, same-PK-new-day id=2@d2
    W.merge_upsert(
        spark,
        _mkdf(spark, [(1, "v2", "d1"), (3, "v2", "d1"), (2, "v2", "d2")]),
        p,
        ["id"],
    )
    rows = {(r["id"], r["dt"]): r["val"] for r in spark.read.parquet(p).collect()}
    assert rows == {
        (1, "d1"): "v2",  # updated in place
        (2, "d1"): "v1",  # untouched (match requires same dt)
        (3, "d1"): "v2",  # inserted
        (2, "d2"): "v2",  # same business key, new day → new row
    }


def _table_path(tmp_path, form: str) -> str:
    """The table path as a plain local path or as its ``file://`` URI."""
    p = tmp_path / "t"
    return p.as_uri() if form == "uri" else str(p)


@pytest.mark.parametrize("form", ["plain", "uri"])
def test_merge_leaves_untouched_partitions(spark, tmp_path, form):
    """The pure-Spark merge must rewrite only partitions present in the
    batch — rows in other dt partitions survive byte-for-byte — and remove
    its staging copy whatever form the table path takes."""
    p = _table_path(tmp_path, form)
    W.merge_upsert(spark, _mkdf(spark, [(1, "old", "d1"), (9, "keep", "d9")]), p, ["id"])
    kept = sorted(os.listdir(tmp_path / "t" / "dt=d9"))
    W.merge_upsert(spark, _mkdf(spark, [(1, "new", "d1")]), p, ["id"])
    rows = {(r["id"], r["dt"]): r["val"] for r in spark.read.parquet(p).collect()}
    assert rows == {(1, "d1"): "new", (9, "d9"): "keep"}
    # the untouched partition is not rewritten: the same files stay
    assert sorted(os.listdir(tmp_path / "t" / "dt=d9")) == kept
    assert os.listdir(tmp_path) == ["t"]
    assert not list(tmp_path.rglob("_merge_staging_*"))


def test_merge_upsert_refuses_unreadable_table(spark, tmp_path):
    """A curated table that exists but cannot be read must fail the merge
    and stay on disk, never be taken for a first load and replaced by the
    batch."""
    p = str(tmp_path / "t")
    rows = [(1, "a", "d1"), (2, "b", "d2"), (3, "c", "d3")]
    W.write_overwrite(_mkdf(spark, rows), p)
    (tmp_path / "t" / "dt=d0").mkdir()
    (tmp_path / "t" / "dt=d0" / "part-00000-x.parquet").write_bytes(b"not parquet")
    with pytest.raises(Exception, match="not a Parquet file"):
        W.merge_upsert(spark, _mkdf(spark, [(1, "z", "d1")]), p, ["id"])
    kept = spark.read.option("basePath", p).parquet(
        *(f"{p}/dt=d{i}" for i in (1, 2, 3))
    )
    assert sorted(map(tuple, kept.select("id", "val", "dt").collect())) == rows


def test_merge_idempotent(spark, tmp_path):
    p = str(tmp_path / "t")
    batch = _mkdf(spark, [(1, "a", "d1"), (2, "b", "d1")])
    W.merge_upsert(spark, batch, p, ["id"])
    W.merge_upsert(spark, batch, p, ["id"])
    assert spark.read.parquet(p).count() == 2


# ---------------------------------------------------------------------------
# pipeline.py (S1 + end-to-end lifecycle)
# ---------------------------------------------------------------------------
def test_parse_inbound_key():
    assert P.parse_inbound_key("inbound/erp/customers/customers_20240131.gz") == (
        "erp",
        "customers",
        "customers_20240131.gz",
    )
    with pytest.raises(ValueError):
        P.parse_inbound_key("not/a/key")


def test_table_config_roundtrip():
    cfg = P.TableConfig.from_json(
        '{"table_name": "c", "schema": {"id": "int"}, "primary_key": ["id"],'
        ' "curated_load_strategy": "upsert", "ignored_extra_key": 1}'
    )
    assert cfg.primary_key == ["id"] and cfg.delimiter == ","


def test_table_config_from_s3_moto():
    """S2 live path: config fetched from an S3 bucket via boto3
    (reference generic_load_script.py:27-36), exercised against moto."""
    moto = pytest.importorskip("moto")
    import boto3

    with moto.mock_aws():
        s3 = boto3.client("s3", region_name="us-east-1")
        s3.create_bucket(Bucket="config-bucket")
        s3.put_object(
            Bucket="config-bucket",
            Key="configs/customers_config.json",
            Body=b'{"table_name": "customers", "schema": {"id": "IntegerType"},'
            b' "primary_key": ["id"], "curated_load_strategy": "upsert"}',
        )
        cfg = P.TableConfig.from_s3(
            "config-bucket", "configs/customers_config.json", s3_client=s3
        )
    assert cfg.table_name == "customers"
    assert cfg.schema == {"id": "IntegerType"}
    assert cfg.curated_load_strategy == "upsert"


def test_table_config_from_s3_stub_client():
    """The injectable-client seam: any object with the boto3 get_object
    shape works (what run-books use to point at non-AWS object stores)."""
    import io

    class StubS3:
        def get_object(self, Bucket, Key):
            assert (Bucket, Key) == ("b", "k.json")
            return {"Body": io.BytesIO(b'{"table_name": "t", "schema": {"x": "StringType"}}')}

    cfg = P.TableConfig.from_s3("b", "k.json", s3_client=StubS3())
    assert cfg.table_name == "t" and cfg.sort_columns == []


def _write_gz_csv(path, text):
    path.parent.mkdir(parents=True, exist_ok=True)
    with gzip.open(path, "wt") as f:
        f.write(text)


def test_pipeline_end_to_end_upsert_idempotent(spark, tmp_path):
    """gz-CSV → landing → curated upsert; re-running the same file must be
    idempotent (MERGE), and landing must be dt-partitioned (v2 bug fixed)."""
    inbound = tmp_path / "inbound" / "erp" / "cust"
    _write_gz_csv(inbound / "cust_20240131.gz", "id,name\n1,ann\n2,bob\n")
    cfg = P.TableConfig(
        table_name="cust",
        schema={"id": "IntegerType", "name": "StringType"},
        primary_key=["id"],
        sort_columns=["id"],
        landing_load_strategy="overwrite",
        curated_load_strategy="upsert",
    )
    landing, curated = str(tmp_path / "landing"), str(tmp_path / "curated")
    for _ in range(2):  # second run = re-delivered file
        P.run_load(spark, cfg, str(inbound), landing, curated)

    cur = spark.read.parquet(curated)
    assert cur.count() == 2  # idempotent
    assert {r["dt"] for r in cur.select("dt").collect()} == {"2024-01-31"}
    assert {"updt_nm", "cret_ts"} <= set(cur.columns)
    land = spark.read.parquet(landing)
    assert "dt" in land.columns and land.count() == 2


def _sorted_load_config(name, strategy, primary_key=("id",)):
    return P.TableConfig(
        table_name=name,
        schema={"id": "IntegerType", "name": "StringType"},
        primary_key=list(primary_key),
        sort_columns=["id"],
        landing_load_strategy="append",
        curated_load_strategy=strategy,
    )


def _write_shuffled_days(inbound, name, days=("20240101", "20240102"), n=200):
    import random

    rng = random.Random(7)
    for day in days:
        ids = list(range(n))
        rng.shuffle(ids)
        _write_gz_csv(
            inbound / f"{name}_{day}.gz",
            "id,name\n" + "".join(f"{i},n{i}\n" for i in ids),
        )


@pytest.mark.parametrize("advisory", [None, "1k"], ids=["one_partition", "sampled"])
def test_run_load_sorts_landing_and_curated_files(spark, tmp_path, advisory):
    """With sort_columns set, every parquet file of both zones holds its ids
    in ascending order (a global orderBy under the dt-partitioned writer's
    own sort loses the order in landing). A batch under one advisory
    partition is range-sorted into one partition without a sample; a 1k
    advisory size makes the same batch take the sampled path."""
    import pyarrow.parquet as pq

    from aws_data_engineering_spark.storage import partitions_for_paths

    inbound = tmp_path / "inbound" / "erp" / "srt"
    _write_shuffled_days(inbound, "srt")
    landing, curated = tmp_path / "landing", tmp_path / "curated"
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    prev = spark.conf.get(key)
    if advisory:
        spark.conf.set(key, advisory)
    try:
        parts = partitions_for_paths(spark, str(inbound))
        audit = P.run_load(
            spark, _sorted_load_config("srt", "upsert"), str(inbound), str(landing), str(curated)
        )
    finally:
        spark.conf.set(key, prev)
    assert (parts == 1) == (advisory is None), parts
    assert audit == {"rows_written": 400, "null_pk_rows": 0}
    for zone in (landing, curated):
        files = sorted(zone.rglob("*.parquet"))
        assert {f.parent.name for f in files} == {"dt=2024-01-01", "dt=2024-01-02"}
        for f in files:
            ids = pq.read_table(f, columns=["id"]).column("id").to_pylist()
            assert ids == sorted(ids), f


def _sql_executions(spark) -> list:
    """The SQL executions the session's status store holds, once every
    posted event has been processed."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [execs.apply(i) for i in range(execs.size())]


def test_run_load_scans_csv_once_and_releases_its_batch(spark, tmp_path):
    """An upsert into an existing table parses the inbound CSV in one SQL
    execution, and no load leaves a persisted block behind — also when it
    fails at the curated write."""
    from aws_data_engineering_spark.operators.checkpoints import persistent_ids

    inbound = tmp_path / "inbound" / "erp" / "one"
    _write_shuffled_days(inbound, "one", n=50)
    cfg = _sorted_load_config("one", "upsert")
    landing, curated = str(tmp_path / "l"), str(tmp_path / "c")
    before = persistent_ids(spark)
    P.run_load(spark, cfg, str(inbound), landing, curated)  # first load
    since = max(e.executionId() for e in _sql_executions(spark))
    P.run_load(spark, cfg, str(inbound), landing, curated)  # MERGE
    csv_scans = [
        e
        for e in _sql_executions(spark)
        if e.executionId() > since and "Scan csv" in e.physicalPlanDescription()
    ]
    assert len(csv_scans) == 1
    assert persistent_ids(spark) == before
    assert spark.read.parquet(curated).count() == 100

    no_pk = _sorted_load_config("one", "upsert", primary_key=())
    with pytest.raises(ValueError, match="primary_key"):
        P.run_load(spark, no_pk, str(inbound), landing, curated)
    assert persistent_ids(spark) == before


def _load_jobs(spark, group: str, load) -> int:
    """Spark jobs ``load()`` runs, counted in a job group of its own."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        load()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_load_job_counts(spark, tmp_path):
    """A warm load runs only the jobs its output needs: an append runs 4
    (the batch checkpoint's shuffle and result, the landing and the curated
    write) and an upsert into an existing table 8. A batch under one
    advisory partition is range-sorted without a sampling job, and the
    MERGE's broadcast key set has no shuffle of its own."""
    inbound = tmp_path / "inbound" / "erp" / "jobs"
    _write_shuffled_days(inbound, "jobs", n=50)
    counts = {}
    for strategy in ("append", "upsert"):
        cfg = _sorted_load_config("jobs", strategy)
        landing, curated = str(tmp_path / strategy / "l"), str(tmp_path / strategy / "c")
        for i in range(2):  # the second load is warm and finds its table
            counts[strategy] = _load_jobs(
                spark,
                f"warm_load_{strategy}_{i}",
                lambda: P.run_load(spark, cfg, str(inbound), landing, curated),
            )
    assert counts == {"append": 4, "upsert": 8}


def test_repeat_load_compiles_nothing_and_stamps_one_instant(spark, tmp_path):
    """A repeated run_load reuses its generated classes (the audit instant
    is no inlined literal), and every row of one load carries one
    cret_ts == updt_ts taken during that load; two loads differ."""
    import time

    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME().getCount
    inbound = tmp_path / "inbound" / "erp" / "ts"
    _write_shuffled_days(inbound, "ts", n=50)
    cfg = _sorted_load_config("ts", "overwrite")
    curated = tmp_path / "c"
    stamps = []
    for i in range(3):
        before_us, c0 = time.time_ns() // 1000, compiles()
        P.run_load(spark, cfg, str(inbound), str(tmp_path / "l"), str(curated))
        after_us, compiled = time.time_ns() // 1000, compiles() - c0
        assert i == 0 or compiled == 0, f"repeat load {i} compiled {compiled} classes"
        rows = (
            spark.read.parquet(str(curated))
            .select(F.unix_micros("cret_ts").alias("c"), F.unix_micros("updt_ts").alias("u"))
            .distinct()
            .collect()
        )
        assert len(rows) == 1 and rows[0]["c"] == rows[0]["u"], rows
        assert before_us <= rows[0]["c"] <= after_us
        stamps.append(rows[0]["c"])
    assert len(set(stamps)) == 3


def test_pipeline_unknown_landing_strategy(spark, tmp_path):
    inbound = tmp_path / "inbound" / "erp" / "c2"
    _write_gz_csv(inbound / "c2_20240101.gz", "id,name\n1,x\n")
    cfg = P.TableConfig(
        table_name="c2",
        schema={"id": "int", "name": "string"},
        landing_load_strategy="sideways",
    )
    with pytest.raises(ValueError, match="Unknown landing strategy"):
        P.run_load(spark, cfg, str(inbound), str(tmp_path / "l"), str(tmp_path / "c"))


# ---------------------------------------------------------------------------
# q26 sketch accuracy (its driver check is rows-only; the bound lives here)
# ---------------------------------------------------------------------------
def test_approx_distinct_error_bound(spark, sf_dir):
    from aws_data_engineering_spark.plans.registry import queries

    approx = {
        r["o_orderpriority"]: r["approx_customers"]
        for r in queries()["q26_approx_distinct"](spark, sf_dir).collect()
    }
    from aws_data_engineering_spark.sources.tables import load_table
    from pyspark.sql import functions as F2

    exact = {
        r["o_orderpriority"]: r["n"]
        for r in load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F2.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    for k, e in exact.items():
        assert abs(approx[k] - e) <= max(3, 0.1 * e), (k, approx[k], e)


def test_delta_format_unavailable_raises(spark, tmp_path):
    from aws_data_engineering_spark.session import HAS_DELTA

    if HAS_DELTA:
        pytest.skip("delta installed — guard not applicable")
    with pytest.raises(ValueError, match="delta-spark"):
        W.merge_upsert(
            spark, _mkdf(spark, [(1, "a", "d1")]), str(tmp_path / "t"), ["id"], fmt="delta"
        )


@pytest.mark.parametrize("form", ["plain", "uri"])
def test_compact_table(spark, tmp_path, form):
    """Many small appended files per partition must collapse to one file
    per partition with identical rows, leaving no staging copy behind."""
    import glob

    p = _table_path(tmp_path, form)
    local = str(tmp_path / "t")
    for i in range(5):  # 5 small appends → ≥5 files per partition
        W.write_append(_mkdf(spark, [(i, f"v{i}", "d1"), (100 + i, f"w{i}", "d2")]), p)
    before = spark.read.parquet(p).collect()
    n_files_before = len(glob.glob(f"{local}/dt=*/part-*.parquet"))
    assert n_files_before >= 10

    W.compact_table(spark, p, "dt", target_files_per_partition=1)
    after = spark.read.parquet(p).collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))
    per_part = {
        d: len(glob.glob(f"{local}/{d}/part-*.parquet"))
        for d in ("dt=d1", "dt=d2")
    }
    assert per_part == {"dt=d1": 1, "dt=d2": 1}
    assert os.listdir(tmp_path) == ["t"]


def test_simhash_banding_complete(spark, sf_dir):
    """Pigeonhole guarantee: banded candidate generation must find EVERY
    pair within max_hamming (compare against the exhaustive cross join)."""
    from aws_data_engineering_spark.operators import dedup as D
    from aws_data_engineering_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(120)
    sigs = docs.select(F.col("doc_id").alias("id"), D.simhash("text").alias("sig"))
    a, b = sigs.alias("a"), sigs.alias("b")
    exhaustive = {
        (r["id_a"], r["id_b"]): r["h"]
        for r in a.join(F.broadcast(b), F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            D.hamming_distance(F.col("a.sig"), F.col("b.sig")).alias("h"),
        )
        .filter(F.col("h") <= 3)
        .collect()
    }
    banded = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in D.simhash_neardup_pairs(docs, "doc_id", "text", max_hamming=3).collect()
    }
    assert banded == exhaustive


def test_partition_pruning_on_dt(spark, tmp_path):
    """A dt filter must reach the scan as a partition filter — the physical
    plan reads one partition, not the table (the layout contract that makes
    the daily-ingest design work at 100 TB)."""
    p = str(tmp_path / "t")
    W.write_append(
        _mkdf(spark, [(i, f"v{i}", f"d{i % 4}") for i in range(40)]), p
    )
    df = spark.read.parquet(p).filter(F.col("dt") == "d1").select("id")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "d1" in plan
    assert df.count() == 10


def test_orc_roundtrip_partitioned(spark, tmp_path):
    """ORC source/sink parity: partitioned write + format-dispatch read with
    partition pruning (same layout contract as the parquet path)."""
    from aws_data_engineering_spark.sources.readers import read_table

    path = str(tmp_path / "orc_tbl")
    df = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "b", "2024-01-01"), (3, "c", "2024-01-02")],
        "id int, v string, dt string",
    )
    W.write_append(df, path, fmt="orc", partition_by=["dt"])
    back = read_table(spark, path, fmt="orc")
    assert sorted((r["id"], r["v"], r["dt"]) for r in back.collect()) == [
        (1, "a", "2024-01-01"),
        (2, "b", "2024-01-01"),
        (3, "c", "2024-01-02"),
    ]
    pruned = back.filter(F.col("dt") == "2024-01-02")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert pruned.count() == 1
    # partition filter applied at scan, not post-filter
    assert "PartitionFilters: [isnotnull(dt" in plan


def test_xml_roundtrip(spark, tmp_path):
    """XML source/sink parity (Spark 4 built-in source): write with row/root
    tags, read back with an explicit schema — values and types survive the
    serialize→parse cycle, including characters XML must escape."""
    from aws_data_engineering_spark.sources.readers import read_xml
    from aws_data_engineering_spark.sources.writers import write_xml

    path = str(tmp_path / "xml_tbl")
    df = spark.createDataFrame(
        [(1, "a<b&c", 1.5), (2, "plain", -0.25), (3, "", 0.0)],
        "id int, v string, x double",
    )
    write_xml(df, path, row_tag="rec", root_tag="recs")
    back = read_xml(spark, path, row_tag="rec", schema=df.schema)
    assert sorted((r["id"], r["v"], r["x"]) for r in back.collect()) == [
        (1, "a<b&c", 1.5),
        (2, "plain", -0.25),
        (3, "", 0.0),
    ]


def test_approx_percentile_error_bound(spark, sf_dir):
    """q39's sketch quartiles must sit within 1% relative error of q17's
    exact quartiles (accuracy=10000 → rank error <= n/10000)."""
    from aws_data_engineering_spark.plans.registry import queries

    qs = queries()
    exact = {r["l_returnflag"]: r for r in qs["q17_price_percentiles"](spark, sf_dir).collect()}
    approx = {r["l_returnflag"]: r for r in qs["q39_approx_percentiles"](spark, sf_dir).collect()}
    assert set(exact) == set(approx)
    for k in exact:
        assert exact[k]["n_items"] == approx[k]["n_items"]
        for p in ("p25", "p50", "p75"):
            e, a = exact[k][p], approx[k][p]
            assert abs(a - e) <= 0.01 * e, (k, p, a, e)


def test_map_type_functions(spark):
    """MapType surface: create_map, map_keys/values, element_at,
    map_concat, transform_values — the collection-type coverage SURVEY §1.2
    commits to beyond the reference's int/string lattice."""
    df = spark.createDataFrame([(1, 10, 20), (2, 30, 40)], "id int, a int, b int")
    m = df.select(
        "id",
        F.create_map(F.lit("a"), F.col("a"), F.lit("b"), F.col("b")).alias("m"),
    )
    out = m.select(
        "id",
        F.map_keys("m").alias("ks"),
        F.element_at("m", "a").alias("va"),
        F.transform_values("m", lambda k, v: v * 2).alias("doubled"),
        F.map_concat("m", F.create_map(F.lit("c"), F.lit(9))).alias("merged"),
    ).collect()
    row = next(r for r in out if r["id"] == 1)
    assert sorted(row["ks"]) == ["a", "b"]
    assert row["va"] == 10
    assert row["doubled"]["a"] == 20 and row["doubled"]["b"] == 40
    assert row["merged"]["c"] == 9 and len(row["merged"]) == 3


def test_python_datasource_partition_planning(spark):
    """synthlog custom source: partition count drives scan parallelism,
    rows are deterministic across reads, slices cover the id range exactly."""
    from aws_data_engineering_spark.sources.python_datasource import read_synthlog

    df = read_synthlog(spark, rows=1000, partitions=4)
    assert df.rdd.getNumPartitions() == 4
    ids = sorted(r["id"] for r in df.collect())
    assert ids == list(range(1000))
    again = sorted(tuple(r) for r in read_synthlog(spark, 1000, 7).collect())
    assert sorted(tuple(r) for r in df.collect()) == again


def test_pipeline_observe_audit(spark, tmp_path, caplog):
    """run_load computes audit metrics ON the write via observe() (no second
    input scan): rows_written always, null_pk_rows when a PK is declared —
    and warns when PK columns come in NULL."""
    import logging

    inbound = tmp_path / "inbound" / "erp" / "aud"
    # second data row has an empty id -> NULL after the int cast
    _write_gz_csv(inbound / "aud_20240601.gz", "id,name\n1,ann\n,bob\n")
    cfg = P.TableConfig(
        table_name="aud",
        schema={"id": "IntegerType", "name": "StringType"},
        primary_key=["id"],
        landing_load_strategy="overwrite",
        curated_load_strategy="append",
    )
    with caplog.at_level(logging.INFO, logger="aws_data_engineering_spark"):
        P.run_load(
            spark, cfg, str(inbound), str(tmp_path / "l"), str(tmp_path / "c")
        )
    text = " ".join(r.getMessage() for r in caplog.records)
    assert "'rows_written': 2" in text, text
    assert "'null_pk_rows': 1" in text, text
    assert "NULL primary-key" in text, text


def test_zorder_by_range_disjoint_sorted_partitions(spark):
    """zorder_by must be row-preserving, sort by the Morton value inside
    every partition, and give partitions disjoint z-ranges — the layout
    parquet min/max stats need for 2-D skipping."""
    df = spark.range(0, 1024).select(
        F.col("id").alias("a"), ((F.col("id") * 7) % 1024).alias("b")
    )
    out = T.zorder_by(df, "a", "b", bits=10)
    z = out.withColumn("z", T.morton_code(F.col("a"), F.col("b"), 10)).withColumn(
        "p", F.spark_partition_id()
    )
    rows = z.select("p", "z").collect()
    assert len(rows) == 1024
    by_part: dict[int, list[int]] = {}
    for r in rows:
        by_part.setdefault(r["p"], []).append(r["z"])
    for vals in by_part.values():
        assert vals == sorted(vals)
    spans = sorted((min(v), max(v)) for v in by_part.values())
    for (_, hi1), (lo2, _) in zip(spans, spans[1:]):
        assert hi1 <= lo2


def test_apply_cdc_latest_wins_and_deletes(spark):
    """CDC apply: only each key's latest change applies (seq compaction),
    'D' removes the key, new keys insert, untouched keys survive."""
    base = spark.createDataFrame(
        [(1, "keep"), (2, "update-me"), (3, "delete-me")], "id int, val string"
    )
    changes = spark.createDataFrame(
        [
            (2, "v1", "U", 10),
            (2, "v2", "U", 20),  # later seq supersedes v1
            (3, "x", "U", 5),
            (3, "x", "D", 6),  # delete wins: it is the latest change
            (4, "new", "I", 1),
            (5, "ghost", "D", 1),  # delete of a key absent from base: no-op
        ],
        "id int, val string, op string, seq int",
    )
    out = {
        r["id"]: r["val"]
        for r in W.apply_cdc(base, changes, ["id"], seq_col="seq").collect()
    }
    assert out == {1: "keep", 2: "v2", 4: "new"}
    with pytest.raises(ValueError, match="primary_key"):
        W.apply_cdc(base, changes, [])


def test_delta_merge_condition_parity():
    """The Delta-branch MERGE ON condition must mirror the reference's
    string contract (FInal/load_script.py:94-96: per-PK backtick-quoted
    equality AND the dt equality) and key on exactly the columns the tested
    pure-Spark merge anti-joins on (primary_key + partition_col) — so the
    env-gated Delta branch provably has the same row semantics."""
    from aws_data_engineering_spark.sources.writers import merge_condition

    cond = merge_condition(["id", "name"], "dt", "target", "source")
    assert cond == (
        "target.`id` = source.`id` AND target.`name` = source.`name` "
        "AND target.`dt` = source.`dt`"
    )
    # reference parity modulo backtick quoting: stripping our quotes yields
    # byte-for-byte the condition the reference builds
    ref_condition = " AND ".join(
        [f"target.{k} = source.{k}" for k in ["id", "name"]]
        + ["target.dt = source.dt"]
    )
    assert cond.replace("`", "") == ref_condition
    # no partition column → PK-only condition, default t/s aliases
    assert merge_condition(["pk"], None) == "t.`pk` = s.`pk`"


def test_hll_mergeability_and_error(spark, sf_dir):
    """The q71 sketch pipeline's merge identity and accuracy: unioning
    per-group HLL sketches must estimate within 2% of the exact distinct
    count, and must equal the single global sketch's estimate (sketch
    insertion is order/partition-insensitive) — the property that makes
    per-day sketch rollups sound at 100 TB."""
    from aws_data_engineering_spark.plans.registry import QUERIES, queries

    queries()
    merged = QUERIES["q71_hll_partial_union"].spark(spark, sf_dir).collect()[0]
    from aws_data_engineering_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    direct = orders.agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(o_custkey))").cast("bigint").alias("e")
    ).collect()[0]["e"]
    exact = orders.select("o_custkey").distinct().count()
    assert merged["approx_distinct_customers"] == direct
    assert abs(merged["approx_distinct_customers"] - exact) / exact < 0.02


def test_incremental_rollup_equals_full_recompute(spark, sf_dir, tmp_path):
    """Refresh on the first half of events, then refresh again after the
    rest 'arrive': the incrementally-maintained rollup must equal the
    from-scratch aggregate — including the boundary bucket that was partial
    at the first refresh and must be recomputed, not trusted."""
    from aws_data_engineering_spark.operators.rollup import (
        incremental_rollup_refresh,
        read_rollup,
        rollup_events,
    )
    from aws_data_engineering_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    cutoff = events.approxQuantile("event_id", [0.5], 0.0)[0]
    path = str(tmp_path / "rollup")
    incremental_rollup_refresh(spark, events.filter(F.col("event_id") <= cutoff), path)
    incremental_rollup_refresh(spark, events, path)

    got = {
        (r["bucket_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in read_rollup(spark, path).collect()
    }
    want = {
        (r["bucket_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in rollup_events(events).collect()
    }
    assert got == want


def test_rollup_corrupt_marker_raises(spark, sf_dir, tmp_path):
    """A granularity marker that EXISTS but is unreadable must abort the
    refresh — silently treating it as 'pre-marker' would bypass the
    mixed-granularity guard and let a wrong `bucket` double-count."""
    import pytest

    from aws_data_engineering_spark.operators.rollup import incremental_rollup_refresh
    from aws_data_engineering_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "rollup")
    incremental_rollup_refresh(spark, events, path)
    # corrupt the marker: garbage bytes where the one-row json should be
    marker_dir = tmp_path / "rollup" / "_rollup_meta"
    for f in marker_dir.glob("part-*"):
        f.write_text("not json at all {{{")
    with pytest.raises(Exception, match="bucket|_rollup_meta|JSON|corrupt"):
        incremental_rollup_refresh(spark, events, path)


def test_rollup_null_ts_rows_are_excluded_consistently(spark, sf_dir, tmp_path):
    """Null-ts events are unbucketable: they must be excluded from BOTH the
    full aggregate and every incremental refresh, so the maintained rollup
    never diverges from a recompute (the refresh filter `ts >= hwm` is
    null-rejecting, so a null partition could never be maintained)."""
    from aws_data_engineering_spark.operators.rollup import (
        incremental_rollup_refresh,
        read_rollup,
        rollup_events,
    )
    from aws_data_engineering_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    null_row = events.limit(1).withColumn("ts", F.lit(None).cast("timestamp"))
    with_nulls = events.unionByName(null_row)
    path = str(tmp_path / "rollup")
    cutoff = events.approxQuantile("event_id", [0.5], 0.0)[0]
    incremental_rollup_refresh(
        spark, with_nulls.filter(F.col("event_id") <= cutoff) , path
    )
    incremental_rollup_refresh(spark, with_nulls, path)
    rolled = read_rollup(spark, path)
    assert rolled.filter(F.col("bucket_start").isNull()).count() == 0
    got = {
        (r["bucket_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in rolled.collect()
    }
    want = {  # nulls excluded == aggregate of the non-null set
        (r["bucket_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in rollup_events(events).collect()
    }
    assert got == want


def test_incremental_rollup_refresh_filter_pushes_down(spark, sf_dir, tmp_path):
    """The incremental refresh must read only `ts >= hwm` AT THE SCAN
    (PushedFilters), not post-filter a full read — the property that keeps
    refresh cost proportional to new data, not to history."""
    from aws_data_engineering_spark.operators import rollup as R
    from aws_data_engineering_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "rollup")
    R.incremental_rollup_refresh(spark, events, path)
    hwm = R.read_rollup(spark, path).agg(F.max(R.ROLLUP_BUCKET_COL)).first()[0]
    filtered = events.filter(F.col("ts") >= F.to_timestamp(F.lit(hwm)))
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "GreaterThanOrEqual(ts" in plan, plan[:800]


def test_cli_entry_runs_full_load(spark, tmp_path):
    """python -m aws_data_engineering_spark drives one config-driven load
    end-to-end through the same CLI contract as the reference's
    spark-submit wrapper (key parsing, config-vs-key guard, v2 path
    layout)."""
    import json

    from aws_data_engineering_spark.__main__ import main

    root = tmp_path / "lake"
    inbound_dir = root / "inbound" / "crm" / "people"
    inbound_dir.mkdir(parents=True)
    (inbound_dir / "people_20240115.csv").write_text(
        "id,name\n2,bob\n1,alice\n"
    )
    cfg = {
        "table_name": "people",
        "schema": {"id": "int", "name": "string"},
        "primary_key": ["id"],
        "select_columns": ["id", "name"],
        "sort_columns": ["id"],
        "landing_load_strategy": "append",
        "curated_load_strategy": "append",
    }
    cfg_path = tmp_path / "people_config.json"
    cfg_path.write_text(json.dumps(cfg))

    rc = main(
        [
            "--inbound-key",
            "inbound/crm/people/people_20240115.csv",
            "--config",
            str(cfg_path),
            "--landing-root",
            str(root),
            "--curated-root",
            str(root / "curated"),
        ]
    )
    assert rc == 0
    curated = spark.read.parquet(str(root / "curated" / "crm" / "people"))
    rows = {(r["id"], r["name"], r["dt"]) for r in curated.collect()}
    assert rows == {(1, "alice", "2024-01-15"), (2, "bob", "2024-01-15")}

    # config naming a different table than the key must refuse to run
    import pytest as _pytest

    cfg["table_name"] = "other"
    cfg_path.write_text(json.dumps(cfg))
    with _pytest.raises(SystemExit):
        main(
            [
                "--inbound-key",
                "inbound/crm/people/people_20240115.csv",
                "--config",
                str(cfg_path),
                "--landing-root",
                str(root),
                "--curated-root",
                str(root / "curated"),
            ]
        )


def test_cli_s3a_path_composition_parity(tmp_path, monkeypatch):
    """The CLI's S3 path composition must match the reference byte-for-byte
    (FInal/load_script.py:138-144): s3:// roots convert to s3a:// for Spark,
    the inbound path is ``f"{LANDING.rstrip('/')}/{key.lstrip('/')}"``, and
    the per-table roots follow the v2 ``<root>/<source>/<table>`` layout —
    minus the reference's bug of composing from an undefined ``file_key``
    variable (its argv binds ``file_path``, so the real script dies with
    NameError before any Spark work). Spark session and load are stubbed:
    this is the path contract, not an s3a round-trip (no Hadoop AWS jars in
    the sandbox)."""
    import json

    import aws_data_engineering_spark.__main__ as cli
    from aws_data_engineering_spark.pipeline import to_s3a

    # unit parity for the s3a_path helper itself
    assert to_s3a("s3://bkt/a/b") == "s3a://bkt/a/b"
    assert to_s3a("s3a://bkt/a") == "s3a://bkt/a"
    assert to_s3a("/local/path") == "/local/path"

    cfg_path = tmp_path / "cust_config.json"
    cfg_path.write_text(
        json.dumps({"table_name": "cust", "schema": {"id": "int"}})
    )
    captured = {}

    def fake_run_load(spark, config, inbound, landing, curated):
        captured.update(inbound=inbound, landing=landing, curated=curated)

    monkeypatch.setattr(cli, "run_load", fake_run_load)
    monkeypatch.setattr(cli, "get_spark", lambda app_name: None)

    key = "inbound/erp/cust/cust_20240131.gz"
    rc = cli.main(
        [
            "--inbound-key", key,
            "--config", str(cfg_path),
            "--landing-root", "s3://landing-bucket/",
            "--curated-root", "s3://curated-bucket",
        ]
    )
    assert rc == 0

    # the reference's composition, re-derived independently here
    def ref_s3a(p):
        return "s3a://" + p[5:] if p.startswith("s3://") else p

    ref_landing_root = ref_s3a("s3://landing-bucket/")
    ref_inbound = ref_s3a(f"{ref_landing_root.rstrip('/')}/{key.lstrip('/')}")
    assert captured["inbound"] == ref_inbound == (
        "s3a://landing-bucket/inbound/erp/cust/cust_20240131.gz"
    )
    assert captured["landing"] == "s3a://landing-bucket/erp/cust"
    assert captured["curated"] == "s3a://curated-bucket/erp/cust"


def test_simhash_kernel_equals_column(spark, sf_dir):
    """The Arrow simhash kernel must be bit-identical to the (slow,
    interpreted-HOF) simhash() Column it replaces in d06/d07."""
    from aws_data_engineering_spark.operators import dedup as D
    from aws_data_engineering_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(120)
    col_sigs = {
        r.id: r.sig
        for r in docs.select(
            F.col("doc_id").alias("id"), D.simhash("text").alias("sig")
        ).collect()
    }
    ker_sigs = {
        r.id: r.sig
        for r in D.simhash_signatures(docs, "doc_id", "text").collect()
    }
    assert ker_sigs == col_sigs
    # whitespace/empty corners through the kernel path
    edge = spark.createDataFrame(
        [(1, "  a  b "), (2, ""), (3, " "), (4, "x\t\ty"), (5, "A a")],
        "doc_id long, text string",
    )
    ec = {
        r.id: r.sig
        for r in edge.select(
            F.col("doc_id").alias("id"), D.simhash("text").alias("sig")
        ).collect()
    }
    ek = {
        r.id: r.sig
        for r in D.simhash_signatures(edge, "doc_id", "text").collect()
    }
    assert ek == ec


def test_delta_merge_branch_executes_against_stub(spark, tmp_path, monkeypatch):
    """Execute the Delta MERGE branch (sources/writers.py:136) against a
    recording stub DeltaTable — delta-spark is not installable here, so
    this is the only way the builder-call sequence ever runs. Asserts the
    exact call chain (forPath -> alias 't' -> merge(source aliased 's',
    cond) -> whenMatchedUpdateAll -> whenNotMatchedInsertAll -> execute)
    and that the ON condition equals merge_condition's tested pure-Spark
    semantics (FInal/load_script.py:94-96 parity)."""
    import sys
    import types

    calls: list[tuple] = []

    class FakeBuilder:
        def whenMatchedUpdateAll(self):
            calls.append(("whenMatchedUpdateAll",))
            return self

        def whenNotMatchedInsertAll(self):
            calls.append(("whenNotMatchedInsertAll",))
            return self

        def execute(self):
            calls.append(("execute",))

    class FakeDeltaTable:
        @staticmethod
        def forPath(sp, path):
            calls.append(("forPath", path))
            return FakeDeltaTable()

        def alias(self, a):
            calls.append(("alias", a))
            return self

        def merge(self, source, cond):
            # source is the batch DataFrame aliased 's'; record the plan's
            # alias node name and the ON condition string
            alias_name = source._jdf.queryExecution().analyzed().toString()
            calls.append(("merge", "s" if "`s`" in alias_name or "s\n" in alias_name else alias_name, cond))
            return FakeBuilder()

    fake_tables = types.ModuleType("delta.tables")
    fake_tables.DeltaTable = FakeDeltaTable
    fake_delta = types.ModuleType("delta")
    fake_delta.tables = fake_tables
    monkeypatch.setitem(sys.modules, "delta", fake_delta)
    monkeypatch.setitem(sys.modules, "delta.tables", fake_tables)
    monkeypatch.setattr(W, "HAS_DELTA", True)
    monkeypatch.setattr(W.HadoopPath, "holds_visible_entry", lambda self: True)

    df = spark.createDataFrame([(1, "a", "2024-01-01")], "id int, v string, dt string")
    W.merge_upsert(spark, df, str(tmp_path / "tbl"), ["id"], "dt", fmt="delta")

    names = [c[0] for c in calls]
    assert names == [
        "forPath", "alias", "merge",
        "whenMatchedUpdateAll", "whenNotMatchedInsertAll", "execute",
    ]
    assert calls[0] == ("forPath", str(tmp_path / "tbl"))
    assert calls[1] == ("alias", "t")
    cond = calls[2][2]
    assert cond == W.merge_condition(["id"], "dt")
    assert cond == "t.`id` = s.`id` AND t.`dt` = s.`dt`"
    assert calls[2][1] == "s"


# ---------------------------------------------------------------------------
# Rows-only trio (q26/q39/q71): their driver rows can't hash-match by
# nature (sketch internals), so the LOCAL evidence must be strong — error
# bounds asserted at BOTH the pytest sf and sf0.1, and sketch mergeability
# across repartitionings (VERDICT r05 #7). s04 left the quartet in round
# 11: registered at n_probe = n_lists (exhaustive probing == brute force)
# it is hash-checked against the s01 oracle; the partial-probe recall
# tests below still guard the approximation.
# ---------------------------------------------------------------------------
_SF01_DIR = "/root/testdata/sf0.1"


@pytest.mark.parametrize("sfd", [None, _SF01_DIR], ids=["default_sf", "sf0.1"])
def test_sketch_error_bounds_both_sfs(spark, sf_dir, sfd):
    """q26 HLL distinct counts within the documented rsd bound and q39
    sketch quartiles within 1% relative error — at the pytest sf AND at
    sf0.1 (boundary behavior of the sketches only shows at larger n)."""
    from aws_data_engineering_spark.plans.registry import queries
    from aws_data_engineering_spark.sources.tables import load_table

    d = sfd or sf_dir
    qs = queries()
    approx = {
        r["o_orderpriority"]: r["approx_customers"]
        for r in qs["q26_approx_distinct"](spark, d).collect()
    }
    exact = {
        r["o_orderpriority"]: r["n"]
        for r in load_table(spark, d, "orders")
        .groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    for k, e in exact.items():
        # approx_count_distinct default rsd = 5%; allow 3*rsd
        assert abs(approx[k] - e) <= max(3, 0.15 * e), (k, approx[k], e)

    exact_p = {r["l_returnflag"]: r for r in qs["q17_price_percentiles"](spark, d).collect()}
    approx_p = {r["l_returnflag"]: r for r in qs["q39_approx_percentiles"](spark, d).collect()}
    assert set(exact_p) == set(approx_p)
    for k in exact_p:
        for p in ("p25", "p50", "p75"):
            e, a = exact_p[k][p], approx_p[k][p]
            assert abs(a - e) <= 0.01 * e, (k, p, a, e)


@pytest.mark.parametrize("sfd", [None, _SF01_DIR], ids=["default_sf", "sf0.1"])
def test_hll_merge_invariant_under_repartitioning(spark, sf_dir, sfd):
    """q71's soundness at 100 TB is exactly this invariant: the merged
    estimate must be IDENTICAL however the rows were partitioned or
    ordered when the partial sketches were built (1 / 7 / 32 partitions,
    reversed order) — sketch insertion commutes, so per-day/per-executor
    rollups equal the global sketch bit-for-bit."""
    from aws_data_engineering_spark.sources.tables import load_table

    d = sfd or sf_dir
    orders = load_table(spark, d, "orders")
    estimates = set()
    for arrangement in (
        orders.repartition(1),
        orders.repartition(7, "o_orderpriority"),
        orders.repartition(32),
        orders.orderBy(F.desc("o_custkey")),
    ):
        est = (
            arrangement.groupBy("o_orderpriority")
            .agg(F.expr("hll_sketch_agg(o_custkey)").alias("sk"))
            .agg(
                F.expr("hll_sketch_estimate(hll_union_agg(sk))")
                .cast("bigint")
                .alias("e")
            )
            .collect()[0]["e"]
        )
        estimates.add(est)
    assert len(estimates) == 1, estimates
    exact = orders.select("o_custkey").distinct().count()
    (only,) = estimates
    assert abs(only - exact) / exact < 0.02


def test_ivf_recall_sf01(spark):
    """s04's IVF recall bound re-asserted at sf0.1 (2000 vectors — real
    inverted lists, not the toy sf0.001 set): partial probing must keep
    >= 50% overlap with exact top-5, exhaustive probing must equal it."""
    from aws_data_engineering_spark.operators import similarity as S
    from aws_data_engineering_spark.sources.tables import load_table

    emb = load_table(spark, _SF01_DIR, "embeddings")
    qdf = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.brute_force_topk(qdf, emb, k=5, max_vectors=4096).collect()
    }
    part = {
        (r["query_id"], r["neighbor_id"])
        for r in S.ivf_topk(qdf, emb, k=5, n_centroids=16, n_probe=6).collect()
    }
    assert len(part & exact) >= len(exact) * 0.5


def test_session_builder_catalog_contract(monkeypatch):
    """E2 (Iceberg-on-Glue catalog, bootstrap.sh:60-64 analog) is env-gated:
    the catalog jars only exist on EMR, and Spark instantiates catalog impls
    lazily on first use — so the testable surface without a cluster is the
    BUILDER contract. Execute the glue/s3a/extra-conf branches and assert
    every config they are responsible for, plus the always-on scale posture
    (AQE, Arrow, partition-type inference off)."""
    from aws_data_engineering_spark.session import build_session_builder

    b = build_session_builder(
        glue_warehouse="s3://wh/iceberg",
        s3_endpoint="http://localhost:9000",
        shuffle_partitions=7,
        extra_conf={"spark.custom.key": "v"},
    )
    opts = b._options
    assert opts["spark.sql.catalog.glue"] == "org.apache.iceberg.spark.SparkCatalog"
    assert (
        opts["spark.sql.catalog.glue.catalog-impl"]
        == "org.apache.iceberg.aws.glue.GlueCatalog"
    )
    assert opts["spark.sql.catalog.glue.warehouse"] == "s3://wh/iceberg"
    assert (
        opts["spark.sql.catalog.glue.io-impl"] == "org.apache.iceberg.aws.s3.S3FileIO"
    )
    assert opts["spark.hadoop.fs.s3a.endpoint"] == "http://localhost:9000"
    assert opts["spark.hadoop.fs.s3a.path.style.access"] == "true"
    assert opts["spark.sql.shuffle.partitions"] == "7"
    assert opts["spark.custom.key"] == "v"
    # scale posture every session carries
    assert opts["spark.sql.adaptive.enabled"] == "true"
    assert opts["spark.sql.execution.arrow.pyspark.enabled"] == "true"
    assert (
        opts["spark.sql.sources.partitionColumnTypeInference.enabled"] == "false"
    )
    # no catalog/endpoint args -> none of the gated keys leak in
    plain = build_session_builder()._options
    assert not any("catalog.glue" in k or "s3a" in k for k in plain)
    # driver heap: half of physical RAM unless SPARK_GRAFT_DRIVER_MEM is set
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    ram_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    assert build_session_builder()._options["spark.driver.memory"] == f"{ram_mb // 2}m"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert build_session_builder()._options["spark.driver.memory"] == "3g"
    # compiled generated classes are kept for the registry's working set
    assert plain["spark.sql.codegen.cache.maxEntries"] == "4096"


def test_managed_tables_land_under_scratch_root(spark):
    """``saveAsTable`` writes under this process's scratch root (removed at
    exit), not into ``./spark-warehouse`` under the working directory; an
    ``extra_conf`` warehouse still wins."""
    import uuid

    from aws_data_engineering_spark.session import build_session_builder
    from aws_data_engineering_spark.storage import scratch_root

    name = f"wh_probe_{uuid.uuid4().hex[:8]}"
    try:
        spark.range(3).write.saveAsTable(name)
        assert os.path.isdir(os.path.join(scratch_root(), "warehouse", name))
        assert not os.path.exists(os.path.join(os.getcwd(), "spark-warehouse", name))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    own = {"spark.sql.warehouse.dir": "/elsewhere"}
    opts = build_session_builder(extra_conf=own)._options
    assert opts["spark.sql.warehouse.dir"] == "/elsewhere"


def test_generated_code_stays_compiled(spark):
    """A query's generated classes survive 150 other distinct ones in the
    same session: re-running it compiles nothing (Spark's default LRU of
    100 entries would have evicted and recompiled it)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME().getCount

    def first():
        return spark.range(8).select((F.col("id") * 3 - 1).alias("y")).collect()

    expected = first()
    for i in range(150):  # the inlined literal makes each class distinct
        spark.range(8).select((F.col("id") + 1000 + i).alias("x")).collect()
    before = compiles()
    assert first() == expected
    assert compiles() - before == 0


# ---------------------------------------------------------------------------
# Round-6c semantic pins: planted scenarios for the new operators, beyond
# the oracle-differential gate (which only proves Spark == DuckDB, not that
# either is RIGHT — see the p15 level-selection bug the invariant check
# caught while both engines agreed).
# ---------------------------------------------------------------------------


def _write_docs(tmp_path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "source": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array([r[4] for r in rows], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))


def test_t31_kneser_ney_hand_computed(spark, tmp_path):
    """Single-source corpus 'a b a b a c' ('a b','b a','a b','b a','a c'):
    hand-computed interpolated KN probabilities. Counts: c(a b)=2, c(b a)=2,
    c(a c)=1; prefixes: a->(tot 3, follow 2), b->(tot 2, follow 1);
    suffixes: N1+(.b)=1, N1+(.a)=1, N1+(.c)=1, B=3."""
    import math

    from aws_data_engineering_spark.plans.registry import QUERIES, queries

    queries()
    _write_docs(tmp_path, [(1, "a b a b a c", "en", "s", 11)])
    rows = (
        QUERIES["t31_kneser_ney_bigram"].spark(spark, str(tmp_path)).collect()
    )
    assert len(rows) == 1
    r = rows[0]
    d = 0.75
    p_ab = (2 - d) / 3 + (d * 2) / 3 * (1 / 3)
    p_ba = (2 - d) / 2 + (d * 1) / 2 * (1 / 3)
    p_ac = (1 - d) / 3 + (d * 2) / 3 * (1 / 3)
    nlls = [-math.log(p) for p in (p_ab, p_ba, p_ab, p_ba, p_ac)]
    ce = sum(nlls) / len(nlls)
    assert r["n_docs"] == 1
    assert r["avg_kn_cross_entropy"] == round(ce, 3)


def test_dq16_planted_level_shift(spark, tmp_path):
    """A flat daily series with one injected step change: the changepoint
    flag must fire exactly inside the 7-day neighborhood of the step and
    nowhere else."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from aws_data_engineering_spark.plans.registry import QUERIES, queries

    queries()
    rows = []
    day0 = dt.datetime(2024, 1, 1)
    for i in range(40):
        # flat 100.00/day, stepping to 200.00/day at day 20
        price = 100.0 if i < 20 else 200.0
        rows.append((i, i, "O", price, day0 + dt.timedelta(days=i), "1-URGENT"))
    tbl = pa.table(
        {
            "o_orderkey": pa.array([r[0] for r in rows], pa.int64()),
            "o_custkey": pa.array([r[1] for r in rows], pa.int64()),
            "o_orderstatus": pa.array([r[2] for r in rows], pa.string()),
            "o_totalprice": pa.array([r[3] for r in rows], pa.float64()),
            "o_orderdate": pa.array([r[4] for r in rows], pa.timestamp("us")),
            "o_orderpriority": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "orders.parquet"))
    got = {
        r["day"].isoformat(): r["is_changepoint"]
        for r in QUERIES["dq16_mean_shift_changepoints"]
        .spark(spark, str(tmp_path))
        .collect()
    }
    flagged = sorted(d for d, f in got.items() if f)
    # |lead - trail| * 4 > trail with a 2x step: fires while the leading
    # window overlaps the step, i.e. days 13..26 (both windows complete)
    assert flagged, "step change not detected"
    assert all("2024-01-14" <= d <= "2024-01-26" for d in flagged), flagged
    # the flat far field (complete windows, away from the step) is quiet
    assert not got["2024-01-10"] and not got["2024-01-31"]


def test_p16_prefix_mixture_property(spark, sf_dir):
    """Any prefix of the interleaved global order contains per-source
    counts within 1 of each other (the round-robin property), and
    global_pos is a collision-free total order."""
    from aws_data_engineering_spark.plans.registry import QUERIES, queries

    queries()
    rows = (
        QUERIES["p16_source_interleave"]
        .spark(spark, sf_dir)
        .orderBy("global_pos")
        .collect()
    )
    pos = [r["global_pos"] for r in rows]
    assert len(set(pos)) == len(pos)
    n_sources = len({r["source"] for r in rows})
    for cut in (n_sources * 3, n_sources * 17):
        prefix = rows[:cut]
        counts = {}
        for r in prefix:
            counts[r["source"]] = counts.get(r["source"], 0) + 1
        assert max(counts.values()) - min(counts.values()) <= 1, counts


@pytest.mark.slow
def test_st13_probe_scenario(spark, tmp_path):
    """The planted 4-batch watermark probe as a regression pin: drops use a
    one-batch-lagged filter watermark (a row arriving one batch after its
    window's data is NOT dropped while state lives; a row arriving after
    eviction IS), and the availableNow drain emits exactly the windows
    whose end <= global max - delay."""
    import time

    from pyspark.sql import functions as F

    from aws_data_engineering_spark.streaming import (
        read_events_stream,
        run_to_memory_sink,
    )
    import uuid as _uuid

    in_dir = str(tmp_path / "in")
    batches = [
        [(1, "2024-01-01 10:15:00"), (2, "2024-01-01 12:30:00")],
        [(3, "2024-01-01 10:20:00"), (4, "2024-01-01 11:40:00"),
         (5, "2024-01-01 13:05:00")],
        [(6, "2024-01-01 11:45:00"), (7, "2024-01-01 12:50:00"),
         (8, "2024-01-01 14:10:00")],
        [(9, "2024-01-01 10:30:00"), (10, "2024-01-01 14:20:00")],
    ]
    for b in batches:
        df = spark.createDataFrame(
            [(i, ts, 1, "t", 1.0, "{}") for i, ts in b],
            "event_id bigint, ts_s string, user_id bigint, "
            "event_type string, value double, props string",
        ).select(
            "event_id",
            (F.unix_micros(F.to_timestamp("ts_s")) * 1000).alias("ts"),
            "user_id", "event_type", "value", "props",
        )
        df.coalesce(1).write.mode("append").parquet(in_dir)
        time.sleep(1.1)
    stream = read_events_stream(spark, in_dir, max_files_per_trigger=1)
    agg = (
        stream.withWatermark("ts", "37 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.date_format("w.start", "HH:mm").alias("ws"), "n")
    )
    out = run_to_memory_sink(agg, f"st13pin_{_uuid.uuid4().hex[:8]}", "append")
    got = {r["ws"]: r["n"] for r in out.collect()}
    # row 3 (10:20, batch 1) joins [10,11) — NOT dropped (lagged filter);
    # row 9 (10:30, batch 3) arrives after eviction — dropped;
    # [13,14) and [14,15) end after the final watermark 13:43 — unemitted
    assert got == {"10:00": 2, "11:00": 2, "12:00": 2}
