"""Oracle-differential tests: every registered query with an oracle must
hash-match DuckDB at the test scale factor — mirrors the driver's gate.

Marked `slow` but part of the default run: `pytest tests/` replays every
oracle. Run the replay alone with  pytest tests/test_queries_oracle.py -m slow
or  pytest tests/ -m slow.
"""

from __future__ import annotations

import pytest

from aws_data_engineering_spark.plans.registry import QUERIES, queries

from tests.oracle_utils import compare

pytestmark = pytest.mark.slow

queries()  # force registration


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, sf_dir, name):
    q = QUERIES[name]
    df = q.spark(spark, sf_dir)
    if q.oracle is None:
        # rows-only check: query runs, schema is stable, rows >= 0
        rows = df.collect()
        assert isinstance(rows, list)
        assert len(df.columns) > 0
    else:
        compare(df, q.oracle, sf_dir)


def test_d05_oracle_whitespace_parity(spark, tmp_path):
    """Planted multi-whitespace corpus: the d05 oracle's regexp_replace
    must genuinely collapse runs of whitespace (tabs/newlines/double
    spaces), matching the Spark side's Python normalizer. Guards the
    f-string escaping of the '\\s+' pattern — an over-escaped '\\\\s+'
    reaches DuckDB as a literal-backslash regex, a silent no-op that the
    whitespace-free fixture corpora never exercise (ADVICE r04)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta", "en", "web", 0),
        # same token stream as doc 1 once \s+ collapses — jaccard must be 1.0
        (2, "alpha  beta\tgamma\ndelta epsilon\r\nzeta  eta\ttheta", "en", "web", 0),
        (3, "alpha beta gamma delta unrelated tail words here", "en", "web", 0),
        (4, "totally different content with no shared shingles at all", "en", "web", 0),
    ]
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
    q = QUERIES["d05_ngram_jaccard_pairs"]
    df = q.spark(spark, str(tmp_path))
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in df.collect()}
    # whitespace-only variation is invisible to the shingler
    assert got.get((1, 2)) == 1.0
    compare(q.spark(spark, str(tmp_path)), q.oracle, str(tmp_path))


def test_q99_decorrelation_equals_literal_exists(sf_dir):
    """The registered q99 oracle decorrelates TPC-H Q21's EXISTS/NOT-EXISTS
    pair into per-order counts. Prove the rewrite: a literal
    correlated-subquery formulation (straight from the Q21 text, adapted to
    the shipdate-lateness proxy) must return the identical result set on
    the fixture data — both run in DuckDB."""
    from tests.oracle_utils import duckdb_conn

    conn = duckdb_conn(sf_dir)
    # numwait counts LATE (order, supplier) units — the literal EXISTS form
    # is stated at the (orderkey, suppkey) grain the registered oracle
    # aggregates at
    literal = """
    WITH l1 AS (
      SELECT l.l_orderkey, l.l_suppkey, l.l_shipdate, o.o_orderdate
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
    ), late_units AS (
      SELECT DISTINCT a.l_orderkey, a.l_suppkey
      FROM l1 a
      WHERE a.l_shipdate > a.o_orderdate + INTERVAL 60 DAY
        AND EXISTS (SELECT 1 FROM l1 b
                    WHERE b.l_orderkey = a.l_orderkey
                      AND b.l_suppkey <> a.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM l1 c
                        WHERE c.l_orderkey = a.l_orderkey
                          AND c.l_suppkey <> a.l_suppkey
                          AND c.l_shipdate > c.o_orderdate + INTERVAL 60 DAY)
    )
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM late_units u
    JOIN supplier s ON u.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name IN ('NATION_1', 'NATION_7', 'NATION_13')
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name LIMIT 20
    """
    got_literal = conn.sql(literal).fetchall()
    got_registered = conn.sql(QUERIES["q99_waiting_suppliers"].oracle).fetchall()
    assert got_literal == got_registered
    assert len(got_registered) > 0
