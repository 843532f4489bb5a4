"""Oracle-differential comparison mirroring the driver's check:
row-count + column set + order-insensitive value comparison between the
Spark result and DuckDB running the oracle SQL over the same parquet."""

from __future__ import annotations

import math
import os

import duckdb

from aws_data_engineering_spark.sources.tables import TABLE_NAMES


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    conn = duckdb.connect()
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        # skip absent tables so synthetic partial fixture dirs (e.g. a
        # documents-only corpus with planted whitespace corners) can reuse
        # compare(); the real testdata dirs always have all ten files
        if os.path.exists(path):
            conn.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return conn


def _canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # kill -0.0 and ulp noise surviving ROUND
        return round(v, 9) + 0.0
    if isinstance(v, bool):
        return int(v)
    return v


def _sorted_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_canon(r[i]) for i in idx) for r in rows]
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


# DuckDB integer types wider than int64. Spark has no 128-bit integer, so a
# HUGEINT oracle column types differently from Spark's bigint in the driver's
# typed value-hash even when every value is equal (fetchall() hides this:
# HUGEINT arrives as a plain Python int and 11901 == 11901 passes). DuckDB's
# SUM(int) returns HUGEINT, so any count-style oracle must CAST(... AS BIGINT).
_OVERWIDE_INT_TYPES = {"HUGEINT", "UHUGEINT", "UBIGINT"}


def _assert_driver_hashable_types(cols, types, oracle_sql: str) -> None:
    bad = [(c, t) for c, t in zip(cols, types) if str(t) in _OVERWIDE_INT_TYPES]
    assert not bad, (
        f"oracle columns {bad} have integer types wider than BIGINT; the "
        f"driver's typed hash diverges from Spark's bigint even on equal "
        f"values — wrap in CAST(... AS BIGINT) in the oracle SQL:\n{oracle_sql}"
    )


# Top-level array/map/struct output columns crash the driver's pandas
# canonicalizer: it sort_values over ALL columns, and pandas factorize dies
# on unhashable list/dict cells (CORRECTNESS_r03 q65: "TypeError: unhashable
# type: 'list'"). Arrays/maps are fine INSIDE a plan (q17/q53/q54/s03 all
# consume them) — only the final projected columns must be scalar. Serialize
# at the query edge: concat_ws on the Spark side, array_to_string in the
# oracle (fix floats to DECIMAL first so both engines render identically).
_SPARK_NESTED_TYPES = {"array", "map", "struct"}


def _assert_no_nested_output_types(spark_df, d_cols, d_types) -> None:
    s_bad = [
        (f.name, f.dataType.typeName())
        for f in spark_df.schema.fields
        if f.dataType.typeName() in _SPARK_NESTED_TYPES
    ]
    assert not s_bad, (
        f"Spark output columns {s_bad} are array/map/struct-typed; the "
        f"driver's pandas canonicalizer cannot sort list cells — serialize "
        f"to a string at the query edge (concat_ws / to_json)"
    )
    d_bad = [
        (c, str(t))
        for c, t in zip(d_cols, d_types)
        if "[]" in str(t) or str(t).startswith(("MAP(", "STRUCT(", "UNION("))
    ]
    assert not d_bad, (
        f"oracle output columns {d_bad} are nested-typed; serialize with "
        f"array_to_string/to_json in the oracle SQL"
    )


def compare(spark_df, oracle_sql: str, sf_dir: str) -> None:
    """Assert spark result == duckdb oracle result (order-insensitive)."""
    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]
    conn = duckdb_conn(sf_dir)
    try:
        rel = conn.sql(oracle_sql)
        d_cols = list(rel.columns)
        _assert_driver_hashable_types(d_cols, rel.types, oracle_sql)
        _assert_no_nested_output_types(spark_df, d_cols, rel.types)
        d_rows = rel.fetchall()
    finally:
        conn.close()
    assert sorted(s_cols) == sorted(d_cols), f"columns differ: {s_cols} vs {d_cols}"
    assert len(s_rows) == len(d_rows), f"row counts differ: {len(s_rows)} vs {len(d_rows)}"
    s_sorted = _sorted_rows(s_cols, s_rows)
    d_sorted = _sorted_rows(d_cols, d_rows)
    for i, (a, b) in enumerate(zip(s_sorted, d_sorted)):
        assert a == b, f"row {i} differs:\n  spark : {a}\n  duckdb: {b}"


def t38_brute_segment(word, costs, max_piece=4):
    """Reference Viterbi for t38 tests: exhaustive enumeration over ALL
    segmentations under the registered tie rule — min total cost, then the
    lexicographically smallest reversed-bounds sequence (== smallest split
    point j at every backtrack step). One shared copy so the tie rule can
    never drift between test files."""
    from itertools import combinations

    best = None
    n = len(word)
    for r in range(n):
        for cuts in combinations(range(1, n), r):
            bounds = [0, *cuts, n]
            pieces = [
                word[bounds[i] : bounds[i + 1]] for i in range(len(bounds) - 1)
            ]
            if any(len(p) > max_piece or p not in costs for p in pieces):
                continue
            key = (sum(costs[p] for p in pieces), tuple(reversed(bounds)))
            if best is None or key < best[0]:
                best = (key, pieces)
    return best[1] if best else None


def snapshot_parquet_files(root):
    """(path -> (size, mtime_ns)) for every parquet file under root —
    the 'base files untouched' pin s16/c22 share."""
    import os

    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def executed_plan(df) -> str:
    """The executed physical plan of ``df`` as Spark prints it."""
    return df._jdf.queryExecution().executedPlan().toString()


def write_docs(tmp_path, rows) -> str:
    """Write ``documents.parquet`` into ``tmp_path`` from (doc_id, text,
    lang, source, _) rows — n_chars is len(text), NULL for a NULL text —
    and return the directory for use as an sf_dir."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "source": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array(
                [len(r[1]) if r[1] is not None else None for r in rows], pa.int64()
            ),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    return str(tmp_path)
