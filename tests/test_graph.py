"""Graph-operator tests (``operators/graph.py``): both connected-components
algorithms and the triangle operator, on planted graphs and against
pure-Python references. The registered g*/d10/d18 queries' oracle matches
live in test_queries_oracle.py like every registered query."""

from __future__ import annotations

import pytest
from hypothesis import assume, example, given, settings
from hypothesis import strategies as st

from aws_data_engineering_spark.operators import graph as G

# ---------------------------------------------------------------------------
# Connected components
# ---------------------------------------------------------------------------


def test_connected_components_chain_and_islands(spark):
    """Min-label propagation resolves a 4-node chain (worst-case diameter),
    a 2-clique, and leaves disconnected pairs apart."""
    pairs = spark.createDataFrame(
        [(2, 9), (9, 4), (4, 7), (11, 12), (20, 21)],
        "id_a bigint, id_b bigint",
    )
    out = {
        r["node"]: r["label"]
        for r in G.connected_components(pairs, "id_a", "id_b").collect()
    }
    # chain 2-9-4-7 all collapse to min id 2 despite no direct edges
    assert out[2] == out[9] == out[4] == out[7] == 2
    assert out[11] == out[12] == 11
    assert out[20] == out[21] == 20
    # only nodes that appear in pairs are labeled
    assert set(out) == {2, 9, 4, 7, 11, 12, 20, 21}


def test_connected_components_star_equals_min_label(spark):
    """The lazy-checkpoint rewrite must leave both algorithms' labels
    identical on a planted graph (two components + chain + isolated pair)."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21)],
        "id_a bigint, id_b bigint",
    )
    cc = {
        (r["node"], r["label"])
        for r in G.connected_components(pairs).collect()
    }
    star = {
        (r["node"], r["label"])
        for r in G.connected_components_star(pairs).collect()
    }
    want = {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    }
    assert cc == want
    assert star == want


def test_star_components_refuses_unconverged(spark):
    """connected_components_star must raise (not return silently-wrong
    labels) when max_iter alternations don't reach the star-forest
    fixpoint — the same refusal contract as connected_components."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a bigint, id_b bigint"
    )
    with pytest.raises(RuntimeError, match="star-forest fixpoint"):
        G.connected_components_star(chain, max_iter=1)
    # and with enough rounds the same chain resolves to one component
    labels = G.connected_components_star(chain, max_iter=20).collect()
    assert {r["label"] for r in labels} == {0}


def _py_components(edges):
    """Reference union-find for component labels (min id per component)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@pytest.mark.slow
@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1,
        max_size=40,
    ).map(lambda es: [e for e in es if e[0] != e[1]])
)
def test_star_components_match_union_find(spark, edges):
    """Star contraction must label every edged node with its component
    minimum, for arbitrary graphs — checked against a pure-Python
    union-find reference."""
    assume(edges)
    df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    got = {
        r["node"]: r["label"]
        for r in G.connected_components_star(df).collect()
    }
    assert got == _py_components(edges)


@pytest.mark.slow
def test_star_components_close_chains_minlabel_refuses(spark):
    """The division of labor between the two CC algorithms: a 60-hop chain
    (diameter > d10's 25-round budget) converges under star contraction in
    8 alternations, while min-label propagation must now REFUSE (a silent
    partial labeling was the old, wrong behavior)."""
    chain = [(i, i + 1) for i in range(60)]
    df = spark.createDataFrame(chain, "id_a bigint, id_b bigint")
    got = {
        r["node"]: r["label"]
        for r in G.connected_components_star(df, max_iter=8).collect()
    }
    assert got == {i: 0 for i in range(61)}
    with pytest.raises(RuntimeError, match="connected_components_star"):
        G.connected_components(df, max_iter=10)


# ---------------------------------------------------------------------------
# Triangles
# ---------------------------------------------------------------------------


def test_triangle_count_known_graph(spark):
    """Triangle counting on a hand-built graph: K4 minus one edge has
    exactly 2 triangles; each of the shared-edge nodes sits in both."""
    edges = spark.createDataFrame(
        # K4 on {1,2,3,4} minus edge (3,4): triangles (1,2,3) and (1,2,4)
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4)],
        "src bigint, dst bigint",
    )
    got = {(r["a"], r["b"], r["c"]) for r in G.triangles(edges).collect()}
    assert got == {(1, 2, 3), (1, 2, 4)}


def _py_triangle_counts(edges):
    """Brute force: every node triple whose three edges are all present."""
    es = set(edges)
    nodes = sorted({n for e in es for n in e})
    counts: dict[int, int] = {}
    for i, a in enumerate(nodes):
        for j, b in enumerate(nodes[i + 1 :], i + 1):
            for c in nodes[j + 1 :]:
                if (a, b) in es and (b, c) in es and (a, c) in es:
                    for n in (a, b, c):
                        counts[n] = counts.get(n, 0) + 1
    return counts


@pytest.mark.slow
@settings(max_examples=15, deadline=None)
@given(
    st.sets(
        st.tuples(st.integers(0, 9), st.integers(0, 9))
        .filter(lambda e: e[0] != e[1])
        .map(lambda e: (min(e), max(e))),
        max_size=30,
    )
)
@example(set())
def test_triangle_counts_match_brute_force(spark, edges):
    """The shared triangle operator, Spark side AND its DuckDB CTE, must
    equal a brute-force triple scan on arbitrary small canonical edge sets
    (src < dst, no duplicates), the empty set included."""
    import duckdb

    want = _py_triangle_counts(edges)
    df = spark.createDataFrame(sorted(edges), "src bigint, dst bigint")
    got = {r["node"]: r["n_triangles"] for r in G.triangle_counts(df).collect()}
    assert got == want

    conn = duckdb.connect()
    conn.execute("CREATE TABLE e (src BIGINT, dst BIGINT)")
    if edges:
        conn.executemany("INSERT INTO e VALUES (?, ?)", sorted(edges))
    rows = conn.execute(
        f"WITH edges AS (SELECT src, dst FROM e), {G.TRIANGLE_COUNTS_CTE} "
        "SELECT node, n_triangles FROM tc"
    ).fetchall()
    assert dict(rows) == want
