"""q-digest sketch semantics: mergeability, mass conservation, the 2LT
internal-node invariant, and the one-sided rank-overshoot bound — the
properties the oracle-differential gate cannot express (it only proves
Spark == DuckDB, not that either is a correct q-digest)."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_data_engineering_spark.operators import sketch as SK
from aws_data_engineering_spark.sources.tables import load_table


def _digest_rows(spark, df):
    return sorted(
        (r["level"], r["node_id"], r["cnt"])
        for r in SK.qdigest_nodes(df, F.floor("o_totalprice")).collect()
    )


def test_qdigest_merge_equals_rebuild(spark, sf_dir):
    """The digest is a pure function of the value multiset: building it
    from two disjoint halves re-unioned (a merge) is bit-identical to
    building it from the whole table — the mergeability contract."""
    orders = load_table(spark, sf_dir, "orders")
    whole = _digest_rows(spark, orders)
    a = orders.filter(F.col("o_orderkey") % 2 == 0)
    b = orders.filter(F.col("o_orderkey") % 2 == 1)
    merged = _digest_rows(spark, a.unionAll(b).repartition(7))
    assert whole == merged


def test_qdigest_invariants(spark, sf_dir):
    """Mass conservation (digest counts sum to n), the <= 2T internal-node
    invariant (each node receives pushes from two children each <= T),
    and non-empty-node positivity."""
    orders = load_table(spark, sf_dir, "orders")
    digest = SK.qdigest_nodes(orders, F.floor("o_totalprice")).collect()
    n = digest[0]["n_total"]
    t = n // SK.QDIGEST_K
    assert sum(r["cnt"] for r in digest) == n
    assert n == orders.count()
    for r in digest:
        if 0 < r["level"] < SK.QDIGEST_LEVELS:
            assert r["cnt"] <= 2 * t, (r, t)
        assert r["cnt"] >= 0


def test_qdigest_quantile_overshoot_bounded(spark, sf_dir):
    """The walk only ever counts values <= est, so rank_achieved >= rank
    (no undershoot), and the overshoot stays inside the 2*levels*T
    q-digest bound — checked through the registered query."""
    from aws_data_engineering_spark.plans.registry import QUERIES, queries

    queries()
    rows = QUERIES["q100_qdigest_quantiles"].spark(spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["rank_achieved"] >= r["rank"], tuple(r)
        assert r["rank_overshoot"] <= r["rank_err_bound"], tuple(r)
        assert r["exact"] <= r["est"], tuple(r)


def test_qdigest_unclamped_census_raises_value_error(spark):
    """Both single-task Arrow stages refuse a census wider than the
    2^levels domain with a ValueError — an explicit raise, so the guard
    still holds under ``python -O``, which strips ``assert``s."""
    import pytest

    leaves = spark.createDataFrame([(v, 1) for v in range(5)], "v long, cnt long")
    for stage in (
        SK.qdigest_nodes_from_leaves(leaves, levels=2),
        SK.qdigest_report_from_leaves(leaves, (0.5,), levels=2),
    ):
        with pytest.raises(Exception) as err:
            stage.collect()
        assert "ValueError" in str(err.value)
        assert "q-digest census has" in str(err.value)
