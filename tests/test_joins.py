"""Salting rewrites must be result-identical to the plain plan, and the
JSON/gzip readers must round-trip schemas (S-operator coverage)."""

from __future__ import annotations

import gzip
import json

from pyspark.sql import functions as F

from aws_data_engineering_spark.operators.joins import salted_equi_join, two_phase_agg
from aws_data_engineering_spark.sources.readers import read_csv, read_json
from aws_data_engineering_spark.sources.tables import load_table


def test_salted_join_matches_plain(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    # rename to share the key name
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    plain = (
        li.join(orders, ["l_orderkey"])
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_extendedprice"), 2).alias("s"))
    )
    salted = (
        salted_equi_join(li, orders, ["l_orderkey"], n_salts=4)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_extendedprice"), 2).alias("s"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_two_phase_agg_matches_plain(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    plain = li.groupBy("l_returnflag").agg(
        F.sum("l_quantity").alias("q"),
        F.count("l_quantity").alias("n"),
        F.max("l_extendedprice").alias("mx"),
    )
    salted = two_phase_agg(
        li,
        ["l_returnflag"],
        {"q": ("l_quantity", "sum"), "n": ("l_quantity", "count"), "mx": ("l_extendedprice", "max")},
        n_salts=8,
    )
    a = {r["l_returnflag"]: (round(r["q"], 6), r["n"], r["mx"]) for r in plain.collect()}
    b = {r["l_returnflag"]: (round(r["q"], 6), r["n"], r["mx"]) for r in salted.collect()}
    assert a == b


def test_two_phase_agg_rejects_nondecomposable():
    import pytest

    with pytest.raises(ValueError, match="supports"):
        two_phase_agg(None, ["k"], {"a": ("x", "avg")})


def test_read_json_and_gzip(spark, tmp_path):
    rows = [{"id": i, "name": f"n{i}", "score": i * 1.5} for i in range(5)]
    plain = tmp_path / "data.json"
    plain.write_text("\n".join(json.dumps(r) for r in rows))
    gz = tmp_path / "data2.json.gz"
    with gzip.open(gz, "wt") as f:
        f.write("\n".join(json.dumps(r) for r in rows))

    df1 = read_json(spark, str(plain))
    assert df1.count() == 5 and set(df1.columns) == {"id", "name", "score"}
    # explicit schema + native gzip decompression on executors
    from aws_data_engineering_spark.schema import build_schema_from_dict

    schema = build_schema_from_dict({"id": "bigint", "name": "string", "score": "double"})
    df2 = read_json(spark, str(gz), schema=schema)
    assert sorted(r["id"] for r in df2.collect()) == [0, 1, 2, 3, 4]
    assert dict(df2.dtypes)["score"] == "double"


def test_read_csv_delimiter_and_inference(spark, tmp_path):
    p = tmp_path / "pipe.csv"
    p.write_text("a|b\n1|x\n2|y\n")
    df = read_csv(spark, str(p), delimiter="|", infer_schema=True)
    assert dict(df.dtypes)["a"] == "int"
    assert [r["b"] for r in df.orderBy("a").collect()] == ["x", "y"]


def test_bucketed_join_no_exchange(spark, sf_dir, tmp_path):
    """Two tables bucketed on the join key must sort-merge join with zero
    Exchange operators — the write-once/join-free-forever contract."""
    from aws_data_engineering_spark.sources.writers import write_bucketed_table

    # Tables land in the session warehouse, which build_session_builder
    # puts under the scratch root. Hermeticity (VERDICT r08 #2): a FIXED
    # table name is not safe against a dirty warehouse (a plain session's
    # ./spark-warehouse) — an interrupted prior run can leave an orphaned
    # LOCATION that `DROP TABLE IF EXISTS` (fresh metastore, no such table)
    # cannot remove, failing saveAsTable with LOCATION_ALREADY_EXISTS. Use a
    # per-run unique suffix (the c03/c09 pattern) and drop in finally.
    import uuid

    suffix = uuid.uuid4().hex[:8]
    li_tbl, ord_tbl = f"li_b_{suffix}", f"ord_b_{suffix}"
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    try:
        write_bucketed_table(li, li_tbl, ["l_orderkey"], n_buckets=8, sort_cols=["l_orderkey"])
        write_bucketed_table(orders, ord_tbl, ["o_orderkey"], n_buckets=8, sort_cols=["o_orderkey"])

        joined = (
            spark.table(li_tbl)
            .hint("merge")  # force SMJ so the broadcast path can't hide exchanges
            .join(spark.table(ord_tbl), F.col("l_orderkey") == F.col("o_orderkey"))
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
        # and it returns the same rows as the plain join
        plain = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).count()
        assert joined.count() == plain
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {li_tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {ord_tbl}")
