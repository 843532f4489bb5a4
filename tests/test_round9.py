"""Round-9 additions: t38 unigram-LM tokenizer EM (plus its mechanism
invariants; the s16 index-maintenance tests live in test_similarity.py).
The oracle hash checks live in test_queries_oracle.py like every registry
query; these tests pin the MECHANISMS the hashes can't see."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_data_engineering_spark.plans.registry import QUERIES, queries

queries()


def test_t38_viterbi_matches_bruteforce():
    """The integer DP returns the same segmentation as brute-force
    enumeration over ALL segmentations under the registered tie rule
    (min total cost; on ties, lexicographically smallest split-point
    sequence read right-to-left — the smallest-j backtrack)."""
    from aws_data_engineering_spark.plans.textstats_queries import (
        _t38_seg_kernel,
    )
    import pandas as pd

    from tests.oracle_utils import t38_brute_segment

    costs = {"a": 5, "b": 7, "c": 9, "ab": 11, "bc": 10, "abc": 30, "abca": 14}

    def brute(w):
        return t38_brute_segment(w, costs, 4)

    kernel = _t38_seg_kernel(costs, 4)
    for w in ["abc", "abca", "abcabca", "aabbcc", "cab"]:
        [out] = list(kernel(iter([pd.DataFrame({"w": [w], "wfreq": [1]})])))
        got = list(reversed(list(out["piece"])))  # backtrack emits reversed
        assert got == brute(w), f"{w}: DP={got} brute={brute(w)}"
        assert "".join(got) == w


def test_t38_char_mass_conservation(spark, sf_dir):
    """Every censused word is fully segmented in both EM iterations: the
    piece-length-weighted usage totals equal the census's total chars."""
    from aws_data_engineering_spark.plans.registry import QUERIES as Q
    from aws_data_engineering_spark.operators import text as T
    from aws_data_engineering_spark.plans.textstats_queries import _T38_MAX_WORD
    from aws_data_engineering_spark.sources.tables import load_table

    rows = Q["t38_unigram_lm_em"].spark(spark, sf_dir).collect()
    assert rows, "empty vocab"
    total1 = sum(r["uses1"] * len(r["piece"]) for r in rows)
    total2 = sum(r["uses2"] * len(r["piece"]) for r in rows)
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(F.split(T.ascii_trim(F.col("text")), r"\s+")).alias("raw")
        )
        .select(T.ascii_lower(F.col("raw")).alias("w"))
        .filter((F.col("w") != "") & (F.length("w") <= _T38_MAX_WORD))
    )
    n_chars = words.agg(F.sum(F.length("w"))).collect()[0][0]
    assert total1 == n_chars and total2 == n_chars
    # coverage seed: every single char is in the vocab, so uses can never
    # leak outside it
    singles = {r["piece"] for r in rows if len(r["piece"]) == 1}
    corpus_chars = {
        c for (w,) in words.distinct().collect() for c in w
    }
    assert corpus_chars <= singles


def test_export_protobuf_reaches_live_session_workers(spark, sf_dir):
    """The round-9 boundary fix (VERDICT r08 #8): on a session whose JVM
    launched WITHOUT the protobuf shim in its env, exporting via
    sc.environment must still let transformWithStateInPandas's state
    server import google.protobuf — st18 runs end-to-end and its final
    emissions equal the batch aggregate."""
    import pytest as _pytest

    from aws_data_engineering_spark.compat import export_protobuf_to_workers
    from aws_data_engineering_spark.sources.tables import load_table

    if not export_protobuf_to_workers(spark):
        _pytest.skip("no google.protobuf runtime (real or vendored) on host")
    # idempotence: a second call must not grow the PYTHONPATH value
    # (a changed value would fork a fresh worker pool per call)
    env1 = dict(spark.sparkContext.environment)
    assert export_protobuf_to_workers(spark)
    assert dict(spark.sparkContext.environment) == env1

    got = {
        (r["user_id"], r["n_events"], r["total_cents"])
        for r in QUERIES["st18_stream_transform_with_state"]
        .spark(spark, sf_dir)
        .collect()
    }
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    want = {
        (r["user_id"], r["n"], r["c"])
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("c"),
        )
        .collect()
    }
    assert got == want and len(got) > 0


def test_c20_empty_prune_returns_empty(spark, tmp_path):
    """ADVICE r08: when the manifest prunes EVERY file (no orders in the
    transform range), the reader must return an empty frame with the
    output schema instead of raising on an empty path list — matching
    the oracle's zero groups."""
    import datetime as dtm

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.oracle_utils import compare

    days = [dtm.date(1994, 1, 5), dtm.date(1999, 12, 31)]  # all outside range
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([1, 2], pa.int64()),
                "o_custkey": pa.array([1, 1], pa.int64()),
                "o_totalprice": pa.array([100.5, 10.25], pa.float64()),
                "o_orderdate": pa.array(days),
            }
        ),
        str(tmp_path / "orders.parquet"),
    )
    q = QUERIES["c20_hidden_partition_pruning"]
    df = q.spark(spark, str(tmp_path))
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == [
        "m", "n_orders", "revenue_cents",
        "n_files_total", "n_files_scanned", "rows_scanned",
    ]
    compare(df, q.oracle, str(tmp_path))


def test_c22_delete_build_leaves_base_files_untouched(spark, sf_dir, tmp_path):
    """The deletion-vector contract: recording positions rewrites ZERO
    base bytes — only the delete file is new; and the recorded positions
    re-address exactly the predicate's rows on a second scan."""
    from aws_data_engineering_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    data = str(tmp_path / "data")
    (
        orders.withColumn(
            "m", F.year("o_orderdate") * 100 + F.month("o_orderdate")
        )
        .repartition(F.col("m"))
        .write.partitionBy("m")
        .parquet(data)
    )

    from tests.oracle_utils import snapshot_parquet_files

    def snapshot():
        return snapshot_parquet_files(data)

    before = snapshot()
    scan = spark.read.parquet(data).select(
        "o_orderkey",
        "o_orderpriority",
        F.col("_metadata.file_path").alias("fp"),
        F.col("_metadata.row_index").alias("ri"),
    )
    pred = F.col("o_orderpriority") == "1-URGENT"
    scan.filter(pred).select("fp", "ri").write.parquet(str(tmp_path / "dv"))
    assert snapshot() == before, "delete build touched base files"

    dv = spark.read.parquet(str(tmp_path / "dv"))
    live_keys = {
        r["o_orderkey"]
        for r in scan.join(dv, ["fp", "ri"], "left_anti").collect()
    }
    want = {r["o_orderkey"] for r in orders.filter(~pred).collect()}
    assert live_keys == want and dv.count() == orders.filter(pred).count()


def test_c22_fully_deleted_month_disappears(spark, tmp_path):
    """A month whose rows are ALL deleted must vanish from the aggregate
    on both engines (no empty group, no NULL row)."""
    import datetime as dtm

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.oracle_utils import compare

    rows = [
        # March 1996: every order urgent -> whole month deleted
        (1, dtm.date(1996, 3, 1), "1-URGENT", 100.5),
        (2, dtm.date(1996, 3, 9), "1-URGENT", 50.25),
        # April survives partially
        (3, dtm.date(1996, 4, 2), "1-URGENT", 10.0),
        (4, dtm.date(1996, 4, 3), "3-MEDIUM", 20.0),
        # May survives fully
        (5, dtm.date(1996, 5, 4), "2-HIGH", 30.0),
    ]
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([r[0] for r in rows], pa.int64()),
                "o_custkey": pa.array([1] * len(rows), pa.int64()),
                "o_orderdate": pa.array([r[1] for r in rows]),
                "o_orderpriority": pa.array([r[2] for r in rows], pa.string()),
                "o_totalprice": pa.array([r[3] for r in rows], pa.float64()),
            }
        ),
        str(tmp_path / "orders.parquet"),
    )
    q = QUERIES["c22_positional_delete_read"]
    got = q.spark(spark, str(tmp_path))
    months = {r["m"] for r in got.collect()}
    assert months == {199604, 199605}
    compare(got, q.oracle, str(tmp_path))


def test_c22_zero_matching_deletes(spark, tmp_path):
    """A DELETE predicate matching no rows writes an empty delete file;
    the reader must return the full table (not raise on schema inference
    over the empty directory) and match the oracle."""
    import datetime as dtm

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.oracle_utils import compare

    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([1, 2], pa.int64()),
                "o_custkey": pa.array([1, 1], pa.int64()),
                "o_orderdate": pa.array(
                    [dtm.date(1996, 3, 1), dtm.date(1996, 4, 2)]
                ),
                "o_orderpriority": pa.array(["2-HIGH", "3-MEDIUM"], pa.string()),
                "o_totalprice": pa.array([100.5, 50.25], pa.float64()),
            }
        ),
        str(tmp_path / "orders.parquet"),
    )
    q = QUERIES["c22_positional_delete_read"]
    df = q.spark(spark, str(tmp_path))
    rows = df.collect()
    assert {r["m"] for r in rows} == {199603, 199604}
    assert all(r["n_deleted"] == 0 for r in rows)
    compare(df, q.oracle, str(tmp_path))
