"""Graph operators over near-dup pair lists — the finishers that turn
candidate pairs (d04/d05/d07/e01/e02) into clusters, centrality and
cohesion signals. Each algorithm is written once here, Spark side next to
the DuckDB SQL that reproduces it:

- the symmetric edge view both directions of an undirected pair list;
- connected components: min-label propagation and large-star/small-star
  contraction, plus the component-labelling join and its recursive
  ``reach`` CTE;
- triangles: the canonical a<b<c self-join and per-node triangle counts;
- PageRank with a fixed iteration count;
- the exact cosine near-dup graph the g02/g03/g04/g06 queries share.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aws_data_engineering_spark.operators.similarity import exact_neardup_pairs


def symmetric_edges(edges: DataFrame, a: str = "src", b: str = "dst") -> DataFrame:
    """Both directions of every undirected edge: ``edges`` plus its
    reversal, as (``a``, ``b``) — UNION ALL, so duplicates survive."""
    return edges.union(edges.select(F.col(b).alias(a), F.col(a).alias(b)))


# ---------------------------------------------------------------------------
# The exact cosine near-dup graph (g02 / g03 / g04 / g06)
# ---------------------------------------------------------------------------

# The near-dup graph is triangle-sparse above 0.35, so this threshold keeps
# the cohesion queries (triangles, clustering coefficient, k-core, label
# propagation) non-vacuous on the fixture corpora.
NEARDUP_THRESHOLD = 0.35

NEARDUP_EDGES_CTE = f"""edges AS (
      SELECT a.vec_id AS src, b.vec_id AS dst
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings) a
      JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings) b
        ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.e, b.e) >= {NEARDUP_THRESHOLD})"""


def neardup_edges(emb: DataFrame) -> DataFrame:
    """Canonical (``src`` < ``dst``) edges of the exact cosine near-dup
    graph over an embeddings frame — :data:`NEARDUP_EDGES_CTE` in DuckDB.
    Eager localCheckpoint: every consumer joins the edge set several times,
    and each replay would rerun the O(N² D) cosine scan; the edge set
    itself is tiny."""
    return (
        exact_neardup_pairs(emb, threshold=NEARDUP_THRESHOLD)
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .localCheckpoint(eager=True)
    )


# ---------------------------------------------------------------------------
# Triangles
# ---------------------------------------------------------------------------


def triangles(edges: DataFrame) -> DataFrame:
    """Every triangle of a canonical edge set (``src`` < ``dst``, no
    duplicates) exactly once, as (``a``, ``b``, ``c``) with a < b < c.
    Canonical orientation makes each triangle materialize once from two
    equi-joins on node id — the standard distributed formulation, no
    per-node adjacency collection."""
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    return (
        e1.join(e2, F.col("e1.dst") == F.col("e2.src"))
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.src"))
            & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .select(
            F.col("e1.src").alias("a"),
            F.col("e1.dst").alias("b"),
            F.col("e2.dst").alias("c"),
        )
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation (``node``, ``n_triangles``) of a
    canonical edge set: each triangle sums into its three corners via one
    explode. Nodes in no triangle produce no row. DuckDB twin:
    :data:`TRIANGLE_COUNTS_CTE`."""
    corners = triangles(edges).select(F.explode(F.array("a", "b", "c")).alias("node"))
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


# Needs an ``edges(src, dst)`` CTE before it; defines ``tc(node,
# n_triangles)`` reproducing :func:`triangle_counts`.
TRIANGLE_COUNTS_CTE = """tri AS (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM edges e1
      JOIN edges e2 ON e1.dst = e2.src
      JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
    ), corners AS (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    ), tc AS (
      SELECT node, COUNT(*) AS n_triangles FROM corners GROUP BY node
    )"""


# ---------------------------------------------------------------------------
# Connected components
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Resolve near-dup pairs into clusters: each node gets the smallest
    node id reachable from it (``node``, ``label``). The step that turns a
    pair list (d04/d05/d07/e01) into an actual deduplicated corpus — keep
    one canonical doc per label.

    Algorithm: iterative min-label propagation — every round each node
    adopts the minimum label among itself and its neighbors; fixpoint when
    no label changes. Rounds = graph diameter, which for near-dup graphs is
    small (dup clusters are dense cliques, not long chains). Each round is
    one shuffle (groupBy node); ``localCheckpoint`` cuts lineage so round
    ``k`` doesn't replan rounds ``1..k-1``. The label table it caches is two
    integer columns per distinct node — negligible storage at any scale.
    For adversarially chain-shaped graphs (diameter > ``max_iter``) this
    propagation cannot finish — and an unconverged label table is silently
    WRONG (labels stop mid-chain), so exhaustion raises RuntimeError naming
    the fix: :func:`connected_components_star`, the alternating
    large-star/small-star contraction (Kiveris et al.) that closes the same
    graph in O(log n) rounds.
    """
    e = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    # LAZY checkpoint on the raw pair list first (VERDICT r11 #6): the
    # symmetric union's two branches each carry the (possibly expensive)
    # pair-generation lineage, and AQE defeats exchange reuse, so the
    # eager union checkpoint below used to EXECUTE that lineage twice.
    # One RDD identity makes the union's second branch block-read what the
    # first computed — half the edge-derivation work, no extra barrier.
    e = e.localCheckpoint(eager=False)
    edges = symmetric_edges(e, "a", "b")
    # eager: edges are re-joined every round — materialize the lineage
    # ONCE instead of re-running it per iteration (lazy checkpoint only
    # cut lineage after first computation, so rounds 1..k each re-planned
    # the upstream until something forced it)
    edges = edges.localCheckpoint(eager=True)
    labels = (
        edges.select("a").distinct().select(F.col("a").alias("node"), F.col("a").alias("label"))
    ).localCheckpoint(eager=True)
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["b"] == labels["node"])
            .groupBy("a")
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neighbor_min, labels["node"] == neighbor_min["a"], "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds — "
            "the graph's diameter exceeds the iteration budget and the "
            "partial labels would be silently wrong; use "
            "connected_components_star (O(log n) star contraction) for "
            "high-diameter graphs"
        )
    return labels


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — the O(log n)-round algorithm :func:`connected_components`'s
    docstring names as the 100 TB swap for chain-shaped graphs, as actual
    code. Same contract: (``node``, ``label``) with label = component
    minimum.

    Why it exists: min-label propagation converges in diameter rounds —
    fine for near-dup cliques, pathological for chains (a 100-node path
    needs 100 shuffles). Star contraction halves component height every
    alternation, so the same path closes in ~log2(n) rounds. Each round is
    two groupBy shuffles over the current edge set:

    - **large-star**: per node u with symmetric neighborhood N(u), let
      m = min(N(u) ∪ {u}); rewire every LARGER neighbor v > u to m;
    - **small-star**: orient edges (a > b); per a let m = min(N(a) ∪ {a});
      rewire every smaller neighbor (and a itself) to m.

    Convergence when the canonical (greater, smaller) edge set reaches a
    fixpoint (checked by count + order-free hash-sum — two scalar aggs,
    no driver-side edge sets); the fixpoint is a star forest rooted at
    each component's minimum. Edges localCheckpoint per round: round k
    never re-plans rounds 1..k-1.
    """
    e0 = pairs.select(
        F.greatest(F.col(id_a), F.col(id_b)).alias("u"),
        F.least(F.col(id_a), F.col(id_b)).alias("v"),
    ).filter(F.col("u") != F.col("v")).distinct()
    # LAZY checkpoint (VERDICT r11 #6): the two eager checkpoints below
    # (nodes, edges) each executed the full pair-generation lineage — for
    # g08 that is the whole LSH edge derivation, run twice back-to-back.
    # Pinning e0 to one RDD identity first makes the second materialization
    # a block read of the first, without adding a barrier of its own.
    e0 = e0.localCheckpoint(eager=False)
    nodes = (
        e0.select(F.col("u").alias("node"))
        .union(e0.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    edges = e0.localCheckpoint(eager=True)

    def _sig(e: DataFrame):
        # order-free set signature: count + xor-fold of row hashes (bit_xor
        # can't overflow under ANSI, unlike SUM(xxhash64); edges are
        # distinct so xor cancellation needs a hash collision to lie, and
        # the signature only gates EARLY stop — max_iter still bounds)
        return e.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).first()

    prev = _sig(edges)
    for _ in range(max_iter):
        # large-star over the symmetric view: rewire larger neighbors to m
        sym = symmetric_edges(edges, "u", "v")
        m_large = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            sym.join(m_large, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        # small-star over (greater, smaller) orientation: rewire smaller
        # neighbors AND the center to m
        e = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        m_small = e.groupBy("u").agg(F.min("v").alias("m"))
        joined = e.join(m_small, "u")
        small = (
            joined.filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(m_small.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
        )
        edges = (
            small.select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        cur = _sig(edges)
        if cur == prev:
            break
        prev = cur
    else:
        # exhausted max_iter without a fixpoint: the edge set is not yet a
        # star forest, so labels extracted from it would be silently WRONG
        # (multi-level trees read as separate components) — refuse, exactly
        # like connected_components' round-budget RuntimeError
        raise RuntimeError(
            f"connected_components_star did not reach its star-forest "
            f"fixpoint within max_iter={max_iter} alternations; raise "
            f"max_iter (rounds needed ~ log2(component size))"
        )
    # fixpoint star forest: every non-root points at its root (u > v = root)
    labels = edges.select(F.col("u").alias("node"), F.col("v").alias("label"))
    roots = edges.select(F.col("v").alias("node"), F.col("v").alias("label")).distinct()
    resolved = labels.union(roots).distinct()
    return (
        nodes.join(resolved, "node", "left")
        .select("node", F.coalesce("label", "node").alias("label"))
    )


def label_components(nodes: DataFrame, node_col: str, comp: DataFrame) -> DataFrame:
    """Every row of ``nodes`` with its component as ``cluster_id``: the
    ``label`` of a (``node``, ``label``) table from either components
    algorithm, or the node's own id when it has no edge (a singleton
    cluster). DuckDB twin: :func:`component_labels_cte_sql`."""
    return nodes.join(comp, nodes[node_col] == comp["node"], "left").select(
        *nodes.columns, F.coalesce("label", node_col).alias("cluster_id")
    )


def component_labels_cte_sql(pairs: str, nodes: str, node_col: str) -> str:
    """DuckDB CTEs reproducing :func:`label_components` over either
    components algorithm: ``edges(a, b)`` is the symmetric view of the
    ``pairs(id_a, id_b)`` relation, a recursive ``reach`` walks it from
    every ``node_col`` of ``nodes``, and ``labeled(node_col, cluster_id)``
    keeps the smallest reachable id. Needs ``WITH RECURSIVE``."""
    return f"""edges AS (SELECT id_a AS a, id_b AS b FROM {pairs}
              UNION SELECT id_b AS a, id_a AS b FROM {pairs}),
    reach(src, dst) AS (
      SELECT {node_col}, {node_col} FROM {nodes}
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
    labeled AS (SELECT src AS {node_col}, MIN(dst) AS cluster_id
                FROM reach GROUP BY src)"""


# ---------------------------------------------------------------------------
# PageRank
# ---------------------------------------------------------------------------


def pagerank(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    damping: float = 0.85,
    iterations: int = 3,
) -> DataFrame:
    """PageRank over an undirected pair list (``node``, ``rank``) — the
    graph-centrality stage of corpus curation: in a near-dup graph, high-rank
    nodes are template/boilerplate hubs worth inspecting before dedup keeps
    a "canonical" copy of spam.

    Shape: degree table once, then ``iterations`` rounds of
    (join ranks→edges on source, groupBy destination, sum contributions) —
    one shuffle join + one shuffle agg per round, the standard Pregel-on-
    DataFrames layout that scales with edge count. A FIXED iteration count
    (not convergence polling) keeps the plan static and the result
    deterministic/oracle-reproducible; rank sums are order-insensitive up to
    float ulps, absorbed by the caller rounding to >=4 decimals.

    Reference scope note: the reference engine has no graph operators; this
    extends the training-data-pipeline surface (SURVEY.md §2b) alongside
    connected_components.
    """
    e = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    # lazy checkpoint: the symmetric union would otherwise execute the
    # pair-generation lineage twice (the connected_components reasoning)
    e = e.localCheckpoint(eager=False)
    # distinct: duplicate pair rows must not become parallel edges (double
    # degree + double contribution) — edge-set semantics keep the operator
    # idempotent to repeated pair emission (e.g. a pair found via several
    # LSH bands)
    edges = symmetric_edges(e, "a", "b").distinct()
    edges = edges.localCheckpoint(eager=True)  # reused every round
    deg = edges.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    nodes = deg.select(F.col("a").alias("node"))
    n_nodes = nodes.count()  # one scalar job; the node list stays distributed
    if n_nodes == 0:
        # empty graph (e.g. no pair cleared the similarity threshold):
        # return an empty (node, rank) frame — the oracle's empty result
        return nodes.withColumn("rank", F.lit(0.0))
    base = (1.0 - damping) / n_nodes
    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    for _ in range(iterations):
        contrib = (
            edges.join(deg, "a")
            .join(ranks, edges["a"] == ranks["node"])
            .select(F.col("b").alias("node"), (F.col("rank") / F.col("deg")).alias("c"))
        )
        ranks = (
            nodes.join(contrib.groupBy("node").agg(F.sum("c").alias("s")), "node", "left")
            .select(
                "node",
                (F.lit(base) + F.lit(damping) * F.coalesce("s", F.lit(0.0))).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks


def pagerank_oracle_sql(
    pairs_cte: str, damping: float = 0.85, iterations: int = 3, round_to: int = 6
) -> str:
    """DuckDB SQL reproducing :func:`pagerank`: the fixed iteration count
    un-rolls into chained CTEs (r0 -> r1 -> ...). ``pairs_cte`` must define
    ``pairs(id_a, id_b)``. Rank sums are FP-order-insensitive to ~1e-15, so
    both engines agree after rounding to ``round_to`` decimals."""
    d = damping
    parts = [
        pairs_cte,
        "edges AS (SELECT id_a AS a, id_b AS b FROM pairs"
        " UNION SELECT id_b, id_a FROM pairs)",  # UNION = edge-SET semantics
        "deg AS (SELECT a, COUNT(*) AS deg FROM edges GROUP BY a)",
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg)",
        "r0 AS (SELECT a AS node, 1.0 / n AS rank FROM deg CROSS JOIN nn)",
    ]
    prev = "r0"
    for k in range(1, iterations + 1):
        parts.append(
            f"r{k} AS (SELECT d.a AS node, (1.0 - {d}) / nn.n + {d} * COALESCE(s.s, 0.0) AS rank "
            f"FROM deg d CROSS JOIN nn LEFT JOIN ("
            f"SELECT e.b AS node, SUM(r.rank / dd.deg) AS s "
            f"FROM edges e JOIN deg dd ON e.a = dd.a JOIN {prev} r ON e.a = r.node "
            f"GROUP BY e.b) s ON d.a = s.node)"
        )
        prev = f"r{k}"
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT node, ROUND(rank, {round_to}) AS rank FROM {prev}"
    )
