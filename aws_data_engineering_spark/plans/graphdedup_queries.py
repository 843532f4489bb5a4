"""Fuzzy-dedup and dedup-graph queries (the d/g families): candidate-pair generation, cluster resolution, graph algorithms over near-dup edges. Split out of breadth_queries.py in round 9 (mechanical move; no semantic change)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_data_engineering_spark.operators import dedup as DD
from aws_data_engineering_spark.operators import graph as G
from aws_data_engineering_spark.operators import similarity as SIM
from aws_data_engineering_spark.operators import text as T
from aws_data_engineering_spark.operators.text import cdc_sql_cte as _cdc_cte
from aws_data_engineering_spark.plans.registry import register
from aws_data_engineering_spark.sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# d14 — exact-substring duplicate SPANS (the deduplicate-text-datasets
# output shape, approximated at gram granularity): build an inverted index
# of 8-token grams, keep grams seen in >=2 distinct docs, then merge each
# doc's duplicated gram positions into maximal spans (gaps-and-islands over
# the position column). Scale: the index is a shuffle equi-join on the gram
# string — no all-pairs doc comparison anywhere — and span merging is a
# per-doc window, so the whole plan is embarrassingly key-parallel at 100 TB.
# Mirrors the span-level output of suffix-array dedup (reference has no such
# operator; this is the LLM-pipeline breadth the brief asks for).
# --------------------------------------------------------------------------
_D14_GRAM = 8


@register(
    "d14_duplicate_span_merge",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), grams AS (
      SELECT doc_id,
             UNNEST(generate_series(0, len(t) - {_D14_GRAM})) AS pos,
             t
      FROM toks WHERE len(t) >= {_D14_GRAM}
    ), g2 AS (
      SELECT doc_id, CAST(pos AS BIGINT) AS pos,
             array_to_string(list_slice(t, pos + 1, pos + {_D14_GRAM}), ' ') AS gram
      FROM grams
    ), dup AS (
      SELECT gram FROM g2 GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
    ), hits AS (
      SELECT g2.doc_id, g2.pos FROM g2 JOIN dup USING (gram)
    ), brk AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       <= {_D14_GRAM} THEN 0 ELSE 1 END AS is_break
      FROM hits
    ), isl AS (
      SELECT doc_id, pos,
             SUM(is_break) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS UNBOUNDED PRECEDING) AS island
      FROM brk
    ), spans AS (
      SELECT doc_id, island, MIN(pos) AS span_start,
             MAX(pos) + {_D14_GRAM} AS span_end
      FROM isl GROUP BY doc_id, island
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(span_end - span_start) AS BIGINT) AS dup_tokens,
           CAST(MIN(span_start) AS BIGINT) AS first_span_start
    FROM spans GROUP BY doc_id
    """,
    "exact-substring duplicate span merging: 8-gram inverted index (equi-join, "
    "no all-pairs), per-doc gaps-and-islands window merges overlapping gram "
    "hits into maximal duplicated spans",
)
def d14_duplicate_span_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    spans = DD.duplicate_spans(docs, "doc_id", "text", gram=_D14_GRAM)
    return spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("span_end") - F.col("span_start")).alias("dup_tokens"),
        F.min("span_start").alias("first_span_start"),
    )


# --------------------------------------------------------------------------
# g03 — synchronous label propagation (2 unrolled rounds) over the same
# exact-near-dup graph as g02's triangles: labels start as node ids; each
# round every node adopts its most frequent neighbor label (ties -> smallest
# label), which is one groupBy(node,label) count plus one row_number window —
# both shuffle-parallel on node id. The edge set is eager-checkpointed once
# (G.neardup_edges) so the O(N^2 D) cosine scan never replays.
# Deterministic: integer labels, total-order tie-break.
# --------------------------------------------------------------------------
@register(
    "g03_label_propagation",
    f"""
    WITH {G.NEARDUP_EDGES_CTE},
    und AS (
      SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges
    ), l0 AS MATERIALIZED (
      SELECT DISTINCT src AS node, src AS lbl FROM und
    ), c1 AS (
      SELECT u.src AS node, l.lbl, COUNT(*) AS c
      FROM und u JOIN l0 l ON u.dst = l.node GROUP BY u.src, l.lbl
    ), l1 AS (
      SELECT node, lbl FROM (
        SELECT node, lbl,
               row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
        FROM c1) WHERE rn = 1
    ), c2 AS (
      SELECT u.src AS node, l.lbl, COUNT(*) AS c
      FROM und u JOIN l1 l ON u.dst = l.node GROUP BY u.src, l.lbl
    ), l2 AS (
      SELECT node, lbl FROM (
        SELECT node, lbl,
               row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
        FROM c2) WHERE rn = 1
    )
    SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MIN(node) AS BIGINT) AS min_node
    FROM l2 GROUP BY lbl
    """,
    "synchronous label propagation, 2 rounds, most-frequent-neighbor-label "
    "update with min-label tie-break — groupBy+window per round, "
    "eager-checkpointed edge set",
)
def g03_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    und = G.symmetric_edges(G.neardup_edges(_t(spark, sf_dir, "embeddings")))
    labels = und.select(F.col("src").alias("node")).distinct().withColumn(
        "lbl", F.col("node")
    )
    w = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("lbl"))
    for _ in range(2):
        msgs = und.join(
            labels.withColumnRenamed("node", "dst"), "dst"
        ).select(F.col("src").alias("node"), "lbl")
        cnt = msgs.groupBy("node", "lbl").agg(F.count(F.lit(1)).alias("c"))
        labels = (
            cnt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "lbl")
        )
    return labels.groupBy(F.col("lbl").alias("community")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("node").alias("min_node"),
    )


# --------------------------------------------------------------------------
# d15 — content-defined chunk dedup accounting (the FastCDC/rsync storage
# shape): chunk boundaries land where the rolling hash is 0 mod 64, so an
# edit shifts only its own chunk and every other chunk keeps its
# fingerprint — chunk-level dedup then counts, per doc, how many chunks
# (and chars) already exist elsewhere in the corpus. Inverted index on the
# chunk fingerprint (equi-join, no all-pairs); the rolling hash is the same
# uint64 polynomial as winnowing, reproduced in HUGEINT by the oracle.
# --------------------------------------------------------------------------


@register(
    "d15_cdc_chunk_dedup",
    f"""
    WITH {_cdc_cte(k=8, divisor=64)},
    shared AS (
      SELECT fp FROM cdc_chunks GROUP BY fp
      HAVING COUNT(DISTINCT doc_id) >= 2
    )
    SELECT c.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(c.chunk_len) AS BIGINT) AS total_chars,
           CAST(SUM(CASE WHEN s.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS dup_chunks,
           CAST(SUM(CASE WHEN s.fp IS NOT NULL THEN c.chunk_len ELSE 0 END)
                AS BIGINT) AS dup_chars
    FROM cdc_chunks c LEFT JOIN shared s ON c.fp = s.fp
    GROUP BY c.doc_id
    """,
    "content-defined chunking dedup audit: rolling-hash boundaries "
    "(0 mod 64), chunk fingerprints shared across >=2 docs counted per doc "
    "— edit-stable chunk dedup, inverted-index joins only",
)
def d15_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    chunks = T.content_defined_chunks(
        docs, "doc_id", "text", k=8, divisor=64
    ).localCheckpoint(eager=True)  # consumed by both the index and the census
    shared = (
        chunks.groupBy("fp")
        .agg(F.countDistinct("id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("fp")
    )
    flagged = chunks.join(
        shared.withColumn("is_shared", F.lit(1)), "fp", "left"
    )
    return flagged.groupBy(F.col("id").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("chunk_len").alias("total_chars"),
        F.sum(F.coalesce(F.col("is_shared"), F.lit(0))).alias("dup_chunks"),
        F.sum(
            F.when(F.col("is_shared").isNotNull(), F.col("chunk_len")).otherwise(0)
        ).alias("dup_chars"),
    )


# --------------------------------------------------------------------------
# g04 — bounded k-core peeling (3 rounds, k=2) over the near-dup graph:
# each round drops nodes of induced degree < k and re-induces the subgraph
# — the standard iterative coreness peel with a fixed round budget (the
# g01 fixed-iteration trade: each round is one degree aggregation + two
# semi-joins, all shuffle-parallel on node id). Output is the surviving
# nodes with their round-3 induced degree — the dense duplicate cliques
# that hub-and-spoke false positives can't reach.
# --------------------------------------------------------------------------
_G04_K, _G04_ROUNDS = 2, 3


def _g04_oracle() -> str:
    sql = f"""
    WITH {G.NEARDUP_EDGES_CTE},
    und0 AS (
      SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges
    )"""
    prev = "und0"
    for r in range(1, _G04_ROUNDS + 1):
        sql += f""",
    deg{r} AS (
      SELECT src AS node, COUNT(*) AS deg FROM {prev} GROUP BY src
    ), keep{r} AS (
      SELECT node FROM deg{r} WHERE deg >= {_G04_K}
    ), und{r} AS (
      SELECT u.src, u.dst FROM {prev} u
      JOIN keep{r} a ON u.src = a.node
      JOIN keep{r} b ON u.dst = b.node
    )"""
        prev = f"und{r}"
    sql += f"""
    SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree
    FROM {prev} GROUP BY src
    """
    return sql


@register(
    "g04_kcore_peeling",
    _g04_oracle(),
    "bounded k-core peeling (3 rounds, k=2): per-round degree aggregation "
    "+ endpoint semi-joins on the eager-checkpointed near-dup graph — "
    "surfaces dense duplicate cliques",
)
def g04_kcore_peeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    und = G.symmetric_edges(G.neardup_edges(_t(spark, sf_dir, "embeddings")))
    for _ in range(_G04_ROUNDS):
        keep = (
            und.groupBy(F.col("src").alias("node"))
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= _G04_K)
            .select("node")
        )
        und = und.join(
            keep.withColumnRenamed("node", "src"), "src", "left_semi"
        ).join(keep.withColumnRenamed("node", "dst"), "dst", "left_semi")
        und = und.localCheckpoint(eager=True)
    return und.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )


# --------------------------------------------------------------------------
# g05 — BFS shortest-hop distances over the part co-purchase graph: parts
# are connected when a high-quantity (>=40) lineitem pair shares an order.
# The Spark side is level-synchronous frontier expansion — each level is one
# shuffle equi-join of the (small) frontier against the eager-checkpointed
# edge set plus an anti-join against the visited set, so no iteration ever
# rescans lineitem and lineage stays flat. The oracle is DuckDB's recursive
# CTE with the textbook MIN(hops) reduction. At 100 TB the edge build is a
# per-order self-join (key-parallel, no all-pairs across orders) and each
# BFS level is one bounded shuffle; hop count is capped so the job graph is
# statically finite.
# --------------------------------------------------------------------------
_G05_QTY, _G05_MAX_HOPS = 40, 4


@register(
    "g05_bfs_copurchase_hops",
    f"""
    WITH RECURSIVE li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE l_quantity >= {_G05_QTY}
    ), edges AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ), s AS (
      SELECT MIN(src) AS root FROM edges
    ), bfs AS (
      SELECT root AS node, 0 AS hops FROM s
      UNION
      SELECT e.dst, bfs.hops + 1
      FROM bfs JOIN edges e ON e.src = bfs.node
      WHERE bfs.hops < {_G05_MAX_HOPS}
    )
    SELECT node AS part, CAST(MIN(hops) AS INT) AS hops
    FROM bfs GROUP BY node
    """,
    "level-synchronous BFS from the min-key part over the co-purchase "
    "graph (parts sharing an order at quantity >= 40), hop-capped; oracle "
    "is a recursive CTE with MIN(hops)",
)
def g05_bfs_copurchase_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= _G05_QTY)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("dst"))
    # consumed once per BFS level: materialize so no level rescans lineitem
    edges = (
        a.join(b, "k")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
        .localCheckpoint(eager=True)
    )
    root = edges.agg(F.min("src")).first()[0]
    dist = spark.createDataFrame(
        [(root, 0)], "node bigint, hops int"
    ).localCheckpoint(eager=True)
    frontier = dist.select("node")
    for h in range(1, _G05_MAX_HOPS + 1):
        nxt = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(dist.select("node"), "node", "left_anti")
            .select("node", F.lit(h).cast("int").alias("hops"))
            .localCheckpoint(eager=True)  # flat lineage per level
        )
        if nxt.isEmpty():
            break
        dist = dist.union(nxt).localCheckpoint(eager=True)
        frontier = nxt.select("node")
    return dist.select(F.col("node").alias("part"), F.col("hops"))


# --------------------------------------------------------------------------
# d16 — shingle-containment near-dup pairs via operators.dedup.
# containment_pairs: the asymmetric |S(a)∩S(b)|/|S(a)| complement to d05's
# Jaccard. A short doc quoted verbatim inside a longer one scores ~1.0 here
# while its Jaccard is diluted below any sane threshold — the "superset
# duplicate" class every LLM-corpus dedup needs. Stop-shingle doc-frequency
# cap bounds the inverted-index fan-out; every join is an equi-join.
# --------------------------------------------------------------------------
_D16_GRAM, _D16_MAXDF, _D16_TH = 3, 20, 0.5


@register(
    "d16_containment_pairs",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE text IS NOT NULL
    ), grams_s AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(t, i.i + 1, i.i + {_D16_GRAM}), ' ')
               AS gram_s
      FROM toks,
           LATERAL (SELECT UNNEST(generate_series(0, len(t) - {_D16_GRAM}))
                    AS i) i
      WHERE len(t) >= {_D16_GRAM}
    ), grams AS (
      -- 48-bit md5-prefix join key, identical to the Spark side's
      -- conv(substr(md5(gram),1,12),16,10): distinctness at the string
      -- level, hashing after, so both engines agree bit-exactly
      SELECT doc_id,
             CAST('0x' || substr(md5(gram_s), 1, 12) AS BIGINT) AS gram
      FROM grams_s
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS src_grams FROM grams GROUP BY doc_id
    ), keep AS (
      SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) <= {_D16_MAXDF}
    ), g2 AS (
      SELECT doc_id, gram FROM grams JOIN keep USING (gram)
    ), shared AS (
      SELECT a.doc_id AS src, b.doc_id AS dst, COUNT(*) AS shared_grams
      FROM g2 a JOIN g2 b ON a.gram = b.gram AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT s.src, s.dst,
           CAST(s.shared_grams AS BIGINT) AS shared_grams,
           CAST(z.src_grams AS BIGINT) AS src_grams,
           ROUND(s.shared_grams * 1.0 / z.src_grams, 6) AS containment
    FROM shared s JOIN sizes z ON s.src = z.doc_id
    WHERE s.shared_grams * 1.0 / z.src_grams >= {_D16_TH}
    """,
    "directed shingle-containment near-dup pairs (|S(a)∩S(b)|/|S(a)| with "
    "a stop-shingle doc-frequency cap) — the asymmetric complement to "
    "Jaccard that catches superset duplicates",
)
def d16_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.containment_pairs(
        _t(spark, sf_dir, "documents"),
        gram=_D16_GRAM,
        max_doc_freq=_D16_MAXDF,
        threshold=_D16_TH,
    )


# --------------------------------------------------------------------------
# g07 — triangle counting over the LSH near-dup graph: the scale-safe
# composition the g02 verdict asked for (g02's registered edge source is
# the exact O(N^2 D) cosine baseline, guarded at 4096 vectors; this one
# builds its edges from e02's hyperplane-LSH buckets, so the edge join is
# an equi-join on bucket id — the 100 TB path end-to-end). Same canonical
# a<b<c two-equi-join triangle enumeration and corner explode as g02;
# deterministic literal hyperplanes keep even the approximate edge set
# bit-exactly oracle-checkable. Threshold 0.30 / 3 planes chosen so the
# LSH recall leaves a non-empty triangle set at sf0.001 AND sf0.01.
# --------------------------------------------------------------------------
_G07_THRESHOLD, _G07_PLANES = 0.30, 3


def _g07_oracle() -> str:
    lsh = SIM.bucketed_neardup_oracle_sql(
        threshold=_G07_THRESHOLD, n_planes=_G07_PLANES, dim=64
    )
    return f"""
    WITH lsh_pairs AS ({lsh}),
    edges AS (SELECT id_a AS src, id_b AS dst FROM lsh_pairs),
    {G.TRIANGLE_COUNTS_CTE}
    SELECT node, n_triangles FROM tc
    """


@register(
    "g07_triangle_count_lsh",
    _g07_oracle(),
    "triangle counting over the LSH-bucketed near-dup graph: bucket-id "
    "equi-join edges (no all-pairs cosine anywhere) feeding the canonical "
    "a<b<c two-equi-join triangle enumeration — g02's scale-safe form",
)
def g07_triangle_count_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    edges = SIM.bucketed_neardup_pairs(
        emb, threshold=_G07_THRESHOLD, n_planes=_G07_PLANES, dim=64
    ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    # the LSH pair scan is cheap but feeds three join branches; one eager
    # materialization beats three bucket-join replays (g02 precedent)
    return G.triangle_counts(edges.localCheckpoint(eager=True))


# --------------------------------------------------------------------------
# d17 — MinHash pairs with the band-bucket pair-emission valve (round-6:
# operationalizes the 100× scale finding, SURVEY §6.2). d04's candidate
# set is C(n,2) per band bucket — quadratic in duplication multiplicity
# (measured 25 → 24.75M pairs on the 100-twin corpus). Here band buckets
# larger than max_bucket emit NO pairs: an oversized bucket is a duplicate
# CLUSTER, to be collapsed by cluster key (d10 components), never
# enumerated pairwise. The census is one partial-agg groupBy on the same
# (band, band_hash) key the join already shuffles on — zero extra shuffle
# keys. max_bucket=2 engages on the fixture corpora (size-3/4 buckets
# exist at both sf0.001 and sf0.01), so the driver evidence is
# non-vacuous: the output genuinely differs from d04's.
# --------------------------------------------------------------------------
_D17_MAX_BUCKET = 2


@register(
    "d17_capped_minhash_pairs",
    DD.minhash_capped_oracle_sql(
        num_hashes=32, num_bands=8, max_bucket=_D17_MAX_BUCKET
    ),
    "MinHash-LSH candidate pairs with a band-bucket size cap: buckets "
    "larger than max_bucket emit no pairs (duplicate clusters are "
    "collapsed by key, not enumerated pairwise) — the pair-emission valve "
    "that bounds fuzzy dedup on duplication-heavy corpora",
)
def d17_capped_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return DD.minhash_candidate_pairs(
        docs, "doc_id", "text", max_bucket=_D17_MAX_BUCKET
    )


# --------------------------------------------------------------------------
# d18 — canonical-document selection over the LSH near-dup graph: the
# "keep the BEST copy" dedup finisher. d10 resolves clusters with min-id
# canonicals over the exact O(N²) pair baseline; this is the production
# form — edges from e02's hyperplane-LSH buckets (equi-join on bucket id,
# the 100 TB path), components via iterative min-label propagation, and
# the kept doc per cluster chosen by QUALITY (longest n_chars, doc_id
# tiebreak) — the heuristic real pipelines use so boilerplate fragments
# don't survive as cluster representatives. Window argmax per cluster_id;
# oracle walks the same LSH edges with a recursive CTE.
#
# Plane count is SIZED FROM THE DATA (e17's measured rule,
# recommended_lsh_planes: p = ceil(log2(N/1024)) holds per-bucket kernel
# matrices ~8 MB at any corpus size) — round 6 shipped these two
# production finishers on fixture-tuned 3-plane constants that SURVEY
# §6.2's own analysis shows build multi-GB kernel tasks at 200k vectors.
# The Spark side derives p from a live count; the oracle derives it from
# the same rule at the driver's correctness corpus size
# (test_d18_oracle_planes_match_fixture pins the two against each other,
# so a regenerated fixture fails loudly instead of hash-diverging).
# --------------------------------------------------------------------------
_D18_THRESHOLD = 0.30
# sf0.001 and sf0.01 both carry 500 embeddings -> p = 1
_D18_ORACLE_N_EMB = 500
_D18_ORACLE_PLANES = SIM.recommended_lsh_planes(_D18_ORACLE_N_EMB)


def _d18_edges(spark: SparkSession, sf_dir: str):
    """Shared d18/g09 edge source: LSH near-dup pairs with the plane count
    derived from the corpus size (one tiny count job, exactly e18's
    pattern)."""
    emb = _t(spark, sf_dir, "embeddings")
    p = SIM.recommended_lsh_planes(emb.count())
    return SIM.bucketed_neardup_pairs(
        emb, threshold=_D18_THRESHOLD, n_planes=p, dim=64
    ).select("id_a", "id_b")


def _d18_oracle() -> str:
    lsh = SIM.bucketed_neardup_oracle_sql(
        threshold=_D18_THRESHOLD, n_planes=_D18_ORACLE_PLANES, dim=64
    )
    return f"""
    WITH RECURSIVE lsh_pairs AS ({lsh}),
    {G.component_labels_cte_sql("lsh_pairs", "documents", "doc_id")},
    j AS (SELECT d.doc_id, d.n_chars, l.cluster_id
          FROM documents d JOIN labeled l USING (doc_id)),
    ranked AS (
      SELECT doc_id, cluster_id,
             CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
               AS cluster_size,
             FIRST_VALUE(doc_id) OVER (
               PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS canonical_doc_id
      FROM j
    )
    SELECT doc_id, cluster_id, cluster_size, canonical_doc_id,
           doc_id = canonical_doc_id AS kept
    FROM ranked
    """


@register(
    "d18_canonical_doc_selection",
    _d18_oracle(),
    "canonical-doc selection: LSH-bucketed near-dup edges (plane count "
    "sized from the corpus via e17's rule) -> connected components -> "
    "keep the highest-quality (longest) doc per cluster via window argmax "
    "— the scale-safe 'keep best copy' dedup finisher",
)
def d18_canonical_doc_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = G.connected_components(_d18_edges(spark, sf_dir), "id_a", "id_b")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    labeled = G.label_components(docs, "doc_id", comp)
    wsize = Window.partitionBy("cluster_id")
    wcanon = (
        Window.partitionBy("cluster_id")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return labeled.select(
        "doc_id",
        "cluster_id",
        F.count(F.lit(1)).over(wsize).cast("bigint").alias("cluster_size"),
        F.first("doc_id").over(wcanon).alias("canonical_doc_id"),
        (F.col("doc_id") == F.first("doc_id").over(wcanon)).alias("kept"),
    )


# --------------------------------------------------------------------------
# g08 — connected components via large-star/small-star contraction
# (Kiveris et al.): the O(log n)-round algorithm d10's min-label docstring
# promised "in prose" since round 1, now registered code. Min-label
# propagation needs diameter rounds — a chain of 100 near-identical
# crawl snapshots (each similar only to its neighbors) is a diameter-100
# graph that d10's 25-round budget now REFUSES (RuntimeError) rather than
# silently mislabeling; star contraction closes it in ~log2(n)
# alternations, each two groupBy shuffles over the shrinking edge set.
# Edges from the LSH buckets (the 100 TB path, as g07/d18); oracle walks
# the same edges with a recursive CTE, so both algorithms' cluster
# labelings are pinned to the same ground truth.
# --------------------------------------------------------------------------
def _g08_oracle() -> str:
    lsh = SIM.bucketed_neardup_oracle_sql(
        threshold=_D18_THRESHOLD, n_planes=_D18_ORACLE_PLANES, dim=64
    )
    return f"""
    WITH RECURSIVE lsh_pairs AS ({lsh}),
    {G.component_labels_cte_sql("lsh_pairs", "embeddings", "vec_id")}
    SELECT vec_id, cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
             AS cluster_size
    FROM labeled
    """


@register(
    "g08_star_components",
    _g08_oracle(),
    "connected components by alternating large-star/small-star contraction "
    "(O(log n) rounds, two shuffles each) over the LSH near-dup graph — "
    "the high-diameter-safe form of d10's min-label propagation, same "
    "min-id labels",
)
def g08_star_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = G.connected_components_star(_d18_edges(spark, sf_dir), "id_a", "id_b")
    emb = _t(spark, sf_dir, "embeddings").select("vec_id")
    labeled = G.label_components(emb, "vec_id", comp)
    w = Window.partitionBy("cluster_id")
    return labeled.select(
        "vec_id",
        "cluster_id",
        F.count(F.lit(1)).over(w).cast("bigint").alias("cluster_size"),
    )


# --------------------------------------------------------------------------
# g09 — duplicate-cluster size census (round-6d): the "blast radius" audit
# run BEFORE committing to a dedup pass — how much of the corpus sits in
# near-dup clusters, at what cluster sizes, and how big is the largest
# cluster (the skew that decides banding caps — see d17). Same scale-safe
# LSH edge set as d18/g07 (equi-join on hyperplane bucket, no all-pairs),
# components via min-label propagation, then a two-level census: cluster
# sizes, then the size HISTOGRAM (n_clusters and n_docs per size) — both
# bounded by the cluster-size vocabulary, tiny at any corpus scale.
# Singleton docs (no near-dup edges) appear as size-1 clusters, so n_docs
# sums to the corpus and the "fraction in dup clusters" falls out exactly.
# --------------------------------------------------------------------------
def _g09_oracle() -> str:
    lsh = SIM.bucketed_neardup_oracle_sql(
        threshold=_D18_THRESHOLD, n_planes=_D18_ORACLE_PLANES, dim=64
    )
    return f"""
    WITH RECURSIVE lsh_pairs AS ({lsh}),
    {G.component_labels_cte_sql("lsh_pairs", "documents", "doc_id")},
    sizes AS (SELECT cluster_id, COUNT(*) AS sz FROM labeled
              GROUP BY cluster_id)
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(sz) AS BIGINT) AS n_docs
    FROM sizes GROUP BY sz
    """


@register(
    "g09_dup_cluster_census",
    _g09_oracle(),
    "duplicate-cluster size census over the LSH near-dup graph (plane "
    "count sized from the corpus via e17's rule): cluster sizes -> size "
    "histogram (n_clusters, n_docs per size) — the dedup blast-radius "
    "audit that sizes banding caps before any 100 TB pass; singletons "
    "included so n_docs sums to the corpus",
)
def g09_dup_cluster_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = G.connected_components(_d18_edges(spark, sf_dir), "id_a", "id_b")
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    labeled = G.label_components(docs, "doc_id", comp)
    sizes = labeled.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("sz"))
    return sizes.groupBy(F.col("sz").cast("bigint").alias("cluster_size")).agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("sz").cast("bigint").alias("n_docs"),
    )


# --------------------------------------------------------------------------
# d20 — blocked sorted-neighborhood edit-distance pairs (round 8): the
# record-linkage family's classic alternative to LSH — sort records within
# a blocking key and compare each record only to its next R sort-order
# neighbors, so candidate pairs are n*R instead of n^2. Block key =
# (first token, token-count//16 bucket): at 100 TB the blocks ARE the
# window partitions, so the whole comparison is embarrassingly
# block-parallel with no all-pairs stage and no global sort (a plain
# sorted-neighborhood over ONE global order would collapse to a single
# window partition — the blocked form is the scale-safe variant, at the
# standard blocking cost of missing cross-block pairs). Distance is exact
# Levenshtein on a 48-char prefix, ASCII-sanitized first on BOTH sides
# (non-printable/non-ASCII chars -> '?'): Spark's levenshtein counts
# codepoints while DuckDB's counts BYTES (measured: 'καλός'->'καλό' is 1
# vs 2), so the portable contract pins the key to the byte==codepoint
# range — the same reasoning as the ascii_lower fold. The single window
# computes all R=3 leads in one pass.
# --------------------------------------------------------------------------
_D20_LEADS = 3
_D20_PREFIX = 48


@register(
    "d20_sorted_neighborhood_pairs",
    f"""
    WITH d AS (
      SELECT doc_id,
             split_part(text, ' ', 1) AS first_tok,
             len(string_split(text, ' ')) AS n_toks,
             regexp_replace(substring(text, 1, {_D20_PREFIX}),
                            '[^\\x20-\\x7e]', '?', 'g') AS prefix
      FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ), nb AS (
      SELECT prefix,
             lead(prefix, 1) OVER w AS p1,
             lead(prefix, 2) OVER w AS p2,
             lead(prefix, 3) OVER w AS p3
      FROM d
      WINDOW w AS (PARTITION BY first_tok, n_toks // 16
                   ORDER BY n_toks, doc_id)
    ), pairs AS (
      SELECT 1 AS k, levenshtein(prefix, p1) AS dist FROM nb WHERE p1 IS NOT NULL
      UNION ALL
      SELECT 2 AS k, levenshtein(prefix, p2) AS dist FROM nb WHERE p2 IS NOT NULL
      UNION ALL
      SELECT 3 AS k, levenshtein(prefix, p3) AS dist FROM nb WHERE p3 IS NOT NULL
    )
    SELECT CAST(k AS INT) AS k,
           CAST(dist // 8 AS INT) AS dist_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(MIN(dist) AS INT) AS min_dist,
           CAST(MAX(dist) AS INT) AS max_dist
    FROM pairs GROUP BY 1, 2
    """,
    "blocked sorted-neighborhood record linkage: within (first-token, "
    "length-bucket) blocks, exact Levenshtein on 48-char prefixes against "
    "the next 3 sort-order neighbors — n*R candidate pairs, never n^2",
)
def d20_sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    d = docs.select(
        "doc_id",
        F.split_part(F.col("text"), F.lit(" "), F.lit(1)).alias("first_tok"),
        F.size(F.split(F.col("text"), " ")).alias("n_toks"),
        # byte==codepoint only in printable ASCII: Spark levenshtein counts
        # codepoints, DuckDB counts bytes — sanitize the key identically
        F.regexp_replace(
            F.substring("text", 1, _D20_PREFIX), r"[^\x20-\x7e]", "?"
        ).alias("prefix"),
    )
    w = Window.partitionBy(
        "first_tok", F.expr("n_toks DIV 16")
    ).orderBy("n_toks", "doc_id")
    nb = d.select(
        "prefix",
        *[F.lead("prefix", k).over(w).alias(f"p{k}") for k in range(1, _D20_LEADS + 1)],
    )
    # one exploded pass over the window output: levenshtein(prefix, NULL)
    # is NULL, dropped by the ok filter — no per-lead re-scan of nb
    pairs = (
        nb.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).alias("k"),
                            F.levenshtein("prefix", f"p{k}").alias("dist"),
                            F.col(f"p{k}").isNotNull().alias("ok"),
                        )
                        for k in range(1, _D20_LEADS + 1)
                    ]
                )
            ).alias("s")
        )
        .filter(F.col("s.ok"))
        .select(F.col("s.k").cast("int").alias("k"), F.col("s.dist").alias("dist"))
    )
    return pairs.groupBy("k", F.expr("dist DIV 8").cast("int").alias("dist_bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.min("dist").cast("int").alias("min_dist"),
        F.max("dist").cast("int").alias("max_dist"),
    )


# --------------------------------------------------------------------------
# d21 — incremental MinHash probe (round 8): the shape a production crawl
# pipeline actually runs daily — dedup the NEW batch against the existing
# corpus index without re-comparing the corpus to itself. At 100 TB the
# index signatures are computed once and persisted; each delta pays only
# its own signature pass plus a band-keyed join. The index-side bucket cap
# keeps probe fan-out bounded (an oversized index bucket is a duplicate
# cluster inside the index — collapse it by key, don't attach every new
# doc to it). Batch = doc_id % 10 == 0 (a deterministic 10% "new crawl"
# stand-in); signatures are bit-identical to d04's, so the oracle
# reproduces everything exactly.
# --------------------------------------------------------------------------
@register(
    "d21_incremental_minhash_probe",
    DD.minhash_probe_oracle_sql(num_hashes=32, num_bands=8),
    "incremental fuzzy dedup: MinHash-band probe of a new 10% batch "
    "against the remaining 90% corpus index — no corpus self-join, "
    "index-side bucket cap bounds probe fan-out",
)
def d21_incremental_minhash_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    index = docs.filter(F.col("doc_id") % 10 != 0)
    return DD.minhash_probe_pairs(index, batch, "doc_id", "text")


# --------------------------------------------------------------------------
# d22 — URL-level exact dedup + registrable-host grouping (round 10,
# VERDICT r09 #4): the shard-by-domain / URL-dedup stage every crawl
# pipeline runs FIRST, before any content fingerprinting — the missing
# sibling of d01/d03. Raw URLs (t40's deterministic composer) collapse
# under canonicalization: the vocabulary residue moduli guarantee every
# RAW url is distinct, so every canonical collision is produced by the
# rules themselves (scheme-case fold, default-port/fragment strip, utm
# removal, param sort) — exactly what the census must detect. Two-level
# aggregation: (host, canon_url) cluster sizes, then a per-host census —
# both partial-agg friendly; the host key is bounded (hosts ≪ pages at
# any scale), and no string leaves the map stage except the grouped keys.
# --------------------------------------------------------------------------
def _d22_oracle() -> str:
    from aws_data_engineering_spark.operators import web as W

    return f"""
    WITH u AS (
      SELECT doc_id, {W.synth_url_sql()} AS url FROM documents
    ), c AS (
      SELECT doc_id, {W.canonicalize_url_sql('url')} AS canon_url FROM u
    ), r AS (
      SELECT doc_id, canon_url,
             {W.registrable_host_sql('canon_url')} AS reg_host
      FROM c
    ), cl AS (
      SELECT reg_host, canon_url, COUNT(*) AS sz FROM r GROUP BY 1, 2
    )
    SELECT reg_host,
           CAST(SUM(sz) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(SUM(CASE WHEN sz > 1 THEN sz ELSE 0 END) AS BIGINT)
             AS n_dup_docs,
           CAST(MAX(sz) AS BIGINT) AS max_cluster
    FROM cl GROUP BY 1
    """


@register(
    "d22_url_host_dedup_census",
    _d22_oracle(),
    "URL exact-dup census grouped by registrable host (the CCNet "
    "shard-by-domain stage): canonical-URL cluster sizes -> per-host doc/"
    "distinct-url/dup counts; every dup cluster is produced by the "
    "canonicalization rules, which the hash therefore pins",
)
def d22_url_host_dedup_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_data_engineering_spark.operators import web as W

    docs = _t(spark, sf_dir, "documents")
    r = docs.select(
        W.canonicalize_url(W.synth_url(F.col("doc_id"))).alias("canon_url")
    ).withColumn("reg_host", W.registrable_host(F.col("canon_url")))
    cl = r.groupBy("reg_host", "canon_url").agg(F.count(F.lit(1)).alias("sz"))
    return cl.groupBy("reg_host").agg(
        F.sum("sz").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_urls"),
        F.sum(F.when(F.col("sz") > 1, F.col("sz")).otherwise(0))
        .cast("bigint")
        .alias("n_dup_docs"),
        F.max("sz").cast("bigint").alias("max_cluster"),
    )
