"""Similarity-search and embedding-audit queries (the s/e families): ANN index shapes, retrieval fusion, embedding-health audits. Split out of breadth_queries.py in round 9 (mechanical move; no semantic change)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_data_engineering_spark.operators import similarity as SIM
from aws_data_engineering_spark.operators import text as T
from aws_data_engineering_spark.operators.similarity import pq_oracle_sql as _pq_sql
from aws_data_engineering_spark.plans.registry import register
from aws_data_engineering_spark.sources.tables import load_table
from aws_data_engineering_spark.storage import scratch_dir


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# e08 — distributed PCA top component via power iteration (2 unrolled
# iterations from the uniform unit vector): each iteration is two partial-agg
# shuffles — dot_i = <x_i, v> (group by row) then w_j = Σ_i x_ij·dot_i
# (group by dimension, 64 groups) — i.e. the Gram-matrix-free A^T(Av)
# product, never materializing A^T A. v is a 64-row DataFrame joined back by
# broadcast, so nothing vector-sized ever leaves the executors; at 100 TB the
# plan is two map-side-combine aggregations per iteration over the exploded
# (row, dim, value) relation. Output is ROUND(...,4)+0.0 so near-zero
# components can't hash-split on IEEE -0.0.
# --------------------------------------------------------------------------
@register(
    "e08_power_iteration_pca",
    """
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ), x AS (
      SELECT vec_id, generate_subscripts(emb, 1) AS j,
             UNNEST(emb) AS val
      FROM e
    ), d1 AS (
      SELECT vec_id, SUM(val) * 0.125 AS dot FROM x GROUP BY vec_id
    ), w1 AS (
      SELECT j, SUM(x.val * d1.dot) AS w FROM x JOIN d1 USING (vec_id) GROUP BY j
    ), n1 AS (
      SELECT sqrt(SUM(w * w)) AS nrm FROM w1
    ), v1 AS (
      SELECT j, w / nrm AS v FROM w1, n1
    ), d2 AS (
      SELECT vec_id, SUM(x.val * v1.v) AS dot FROM x JOIN v1 USING (j)
      GROUP BY vec_id
    ), w2 AS (
      SELECT j, SUM(x.val * d2.dot) AS w FROM x JOIN d2 USING (vec_id) GROUP BY j
    ), n2 AS (
      SELECT sqrt(SUM(w * w)) AS nrm FROM w2
    )
    SELECT CAST(j - 1 AS INT) AS dim,
           ROUND(w / n2.nrm, 4) + 0.0 AS component,
           ROUND(n2.nrm, 2) AS eigval
    FROM w2, n2
    """,
    "top principal component by matrix-free power iteration: per-iteration "
    "A^T(Av) as two partial-agg shuffles over the exploded (row,dim,val) "
    "relation; v stays a broadcast 64-row DataFrame",
)
def e08_power_iteration_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("j", "val"),
    )
    # iteration 1: v0 = (1/8, ..., 1/8) (unit for dim 64), so <x, v0> folds
    # to 0.125 * sum(x)
    d1 = x.groupBy("vec_id").agg((F.sum("val") * F.lit(0.125)).alias("dot"))
    w1 = (
        x.join(d1, "vec_id")
        .groupBy("j")
        .agg(F.sum(F.col("val") * F.col("dot")).alias("w"))
    )
    n1 = w1.agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    v1 = w1.crossJoin(F.broadcast(n1)).select(
        "j", (F.col("w") / F.col("nrm")).alias("v")
    )
    # iteration 2: full <x_i, v1> via broadcast join on the dimension index
    d2 = (
        x.join(F.broadcast(v1), "j")
        .groupBy("vec_id")
        .agg(F.sum(F.col("val") * F.col("v")).alias("dot"))
    )
    w2 = (
        x.join(d2, "vec_id")
        .groupBy("j")
        .agg(F.sum(F.col("val") * F.col("dot")).alias("w"))
    )
    n2 = w2.agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    return w2.crossJoin(F.broadcast(n2)).select(
        F.col("j").cast("int").alias("dim"),
        (F.round(F.col("w") / F.col("nrm"), 4) + F.lit(0.0)).alias("component"),
        F.round("nrm", 2).alias("eigval"),
    )


# --------------------------------------------------------------------------
# e10 — simplified silhouette score per label cluster: centroids are the
# per-label mean vectors (computed distributed over the exploded relation,
# like e03), a(i) = distance to own centroid, b(i) = min distance to any
# other centroid, s = (b-a)/max(a,b). Two partial-agg shuffles (centroid,
# per-(vector,candidate) distance) — the candidate set is |labels| wide, so
# the "cross" join is a bounded fan-out, never an all-pairs. The standard
# cluster-quality audit for the k-means / SemDeDup family (e06/e07).
# --------------------------------------------------------------------------
@register(
    "e09_silhouette_by_label",
    """
    WITH x AS (
      SELECT vec_id, label, gs AS j, CAST(embedding AS DOUBLE[])[gs] AS val
      FROM embeddings, generate_series(1, 64) g(gs)
    ), cent AS (
      SELECT label AS clabel, j, ROUND(SUM(val) / COUNT(*), 6) AS c
      FROM x GROUP BY label, j
    ), d AS (
      SELECT x.vec_id, x.label, cent.clabel,
             SUM((x.val - cent.c) * (x.val - cent.c)) AS d2
      FROM x JOIN cent USING (j)
      GROUP BY x.vec_id, x.label, cent.clabel
    ), s AS (
      SELECT vec_id, label,
             MAX(CASE WHEN clabel = label THEN sqrt(d2) END) AS a,
             MIN(CASE WHEN clabel <> label THEN sqrt(d2) END) AS b
      FROM d GROUP BY vec_id, label
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors,
           ROUND(AVG((b - a) / GREATEST(a, b)), 4) AS avg_silhouette
    FROM s GROUP BY label
    """,
    "simplified silhouette per label: 6dp-rounded mean centroids (drift-"
    "killed like e03), own-vs-nearest-other centroid distance, bounded "
    "|labels| fan-out — no all-pairs",
)
def e09_silhouette_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("j0", "val"),
    ).withColumn("j", F.col("j0") + 1)
    cent = x.groupBy(F.col("label").alias("clabel"), "j").agg(
        F.round(F.sum("val") / F.count(F.lit(1)), 6).alias("c")
    )
    d = (
        x.join(F.broadcast(cent), "j")
        .groupBy("vec_id", "label", "clabel")
        .agg(F.sum((F.col("val") - F.col("c")) * (F.col("val") - F.col("c"))).alias("d2"))
    )
    s = d.groupBy("vec_id", "label").agg(
        F.max(
            F.when(F.col("clabel") == F.col("label"), F.sqrt("d2"))
        ).alias("a"),
        F.min(
            F.when(F.col("clabel") != F.col("label"), F.sqrt("d2"))
        ).alias("b"),
    )
    sil = (F.col("b") - F.col("a")) / F.greatest("a", "b")
    return s.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.avg(sil), 4).alias("avg_silhouette"),
    )


# --------------------------------------------------------------------------
# s09 — MMR-diversified retrieval (k=3, lambda=0.5) from a 12-candidate
# relevance pool: greedy argmax of 0.5*rel - 0.5*max_sim_to_selected,
# unrolled. Every cosine uses the fold-order-matched SIM.cosine (bit-equal
# to DuckDB list_cosine_similarity, the e03 precedent), and every argmax
# tie-breaks on vec_id, so both engines select identical rows. The selected
# set stays a <=2-row broadcast; the candidate pool is the only scan. Scale
# path: swap the brute-force pool for the s02/s06 ANN candidates — the MMR
# re-rank itself is O(k * pool) regardless of corpus size.
# --------------------------------------------------------------------------
_S09_POOL, _S09_LAMBDA = 12, 0.5


@register(
    "s09_mmr_diversified_topk",
    f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), q AS (
      SELECT e AS qe FROM v WHERE vec_id = 0
    ), cand0 AS (
      SELECT c.vec_id, c.e, list_cosine_similarity(c.e, q.qe) AS rel
      FROM v c, q WHERE c.vec_id <> 0
    ), cand AS (
      SELECT vec_id, e, rel FROM (
        SELECT *, row_number() OVER (ORDER BY rel DESC, vec_id) AS rn
        FROM cand0) WHERE rn <= {_S09_POOL}
    ), s1 AS (
      SELECT vec_id, e, rel FROM (
        SELECT *, row_number() OVER (ORDER BY rel DESC, vec_id) AS rn
        FROM cand) WHERE rn = 1
    ), c2 AS (
      SELECT c.vec_id, c.e, c.rel,
             {_S09_LAMBDA} * c.rel
               - {1 - _S09_LAMBDA} * list_cosine_similarity(c.e, s1.e) AS score
      FROM cand c, s1 WHERE c.vec_id <> s1.vec_id
    ), s2 AS (
      SELECT vec_id, e, rel, score FROM (
        SELECT *, row_number() OVER (ORDER BY score DESC, vec_id) AS rn
        FROM c2) WHERE rn = 1
    ), c3 AS (
      SELECT c.vec_id, c.rel,
             {_S09_LAMBDA} * c.rel
               - {1 - _S09_LAMBDA} * GREATEST(
                   list_cosine_similarity(c.e, s1.e),
                   list_cosine_similarity(c.e, s2.e)) AS score
      FROM cand c, s1, s2
      WHERE c.vec_id <> s1.vec_id AND c.vec_id <> s2.vec_id
    ), s3 AS (
      SELECT vec_id, rel, score FROM (
        SELECT *, row_number() OVER (ORDER BY score DESC, vec_id) AS rn
        FROM c3) WHERE rn = 1
    )
    SELECT CAST(1 AS INT) AS rank, vec_id, ROUND(rel, 6) AS relevance,
           ROUND(rel, 6) AS mmr_score FROM s1
    UNION ALL
    SELECT CAST(2 AS INT), vec_id, ROUND(rel, 6), ROUND(score, 6) FROM s2
    UNION ALL
    SELECT CAST(3 AS INT), vec_id, ROUND(rel, 6), ROUND(score, 6) FROM s3
    """,
    "MMR diversified top-3 from a 12-candidate pool: greedy "
    "0.5*rel - 0.5*max-sim-to-selected, bit-parity cosine, vec_id "
    "tie-breaks — selected set stays a broadcast",
)
def s09_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    sel = SIM.mmr_topk(
        emb, query_vec_id=0, k=3, lam=_S09_LAMBDA, pool=_S09_POOL
    )
    return sel.select(
        "rank",
        "vec_id",
        F.round("relevance", 6).alias("relevance"),
        F.round("mmr_score", 6).alias("mmr_score"),
    )


# --------------------------------------------------------------------------
# e11 — embedding-health audit per label: vector-norm distribution,
# centroid norm (anisotropy proxy — near 0 for isotropic clouds), and mean
# cosine-to-centroid (cluster tightness). Centroids are the 6dp-rounded
# distributed means (e03 pattern) so both engines agree bit-exactly before
# the final averages; norms use the fold-order-matched SIM.norm. The whole
# audit is two partial-agg shuffles + one broadcast join.
# --------------------------------------------------------------------------
@register(
    "e11_embedding_health",
    """
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ), ex AS (
      SELECT label, gs AS pos, emb[gs] AS v
      FROM e, generate_series(1, 64) g(gs)
    ), comp AS (
      SELECT label, pos, ROUND(SUM(v) / COUNT(*), 6) AS v
      FROM ex GROUP BY label, pos
    ), cent AS (
      SELECT label, list(v ORDER BY pos) AS centroid FROM comp GROUP BY label
    ), per_vec AS (
      SELECT e.vec_id, e.label,
             sqrt(list_sum(list_transform(e.emb, x -> x * x))) AS nrm,
             list_cosine_similarity(e.emb, c.centroid) AS cosc
      FROM e JOIN cent c USING (label)
    ), cn AS (
      SELECT label,
             sqrt(list_sum(list_transform(centroid, x -> x * x))) AS centroid_norm
      FROM cent
    )
    SELECT p.label, CAST(COUNT(*) AS BIGINT) AS n_vectors,
           ROUND(AVG(nrm), 4) AS avg_norm,
           ROUND(stddev_samp(nrm), 4) AS std_norm,
           ROUND(MIN(cn.centroid_norm), 4) AS centroid_norm,
           ROUND(AVG(cosc), 4) AS avg_cos_to_centroid
    FROM per_vec p JOIN cn USING (label)
    GROUP BY p.label
    """,
    "embedding-health audit: per-label norm distribution, centroid norm "
    "(anisotropy proxy), mean cosine-to-centroid — 6dp-rounded distributed "
    "centroids, fold-order-matched norms, broadcast re-join",
)
def e11_embedding_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    )
    ex = emb.select("label", F.posexplode("emb").alias("pos", "v"))
    comp = ex.groupBy("label", "pos").agg(
        F.round(F.sum("v") / F.count(F.lit(1)), 6).alias("v")
    )
    cent = comp.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "v"))), lambda s: s["v"]
        ).alias("centroid")
    )
    per_vec = emb.join(F.broadcast(cent), "label").select(
        "vec_id",
        "label",
        SIM.norm(F.col("emb")).alias("nrm"),
        SIM.cosine(F.col("emb"), F.col("centroid")).alias("cosc"),
    )
    cn = cent.select("label", SIM.norm(F.col("centroid")).alias("centroid_norm"))
    return (
        per_vec.join(F.broadcast(cn), "label")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg("nrm"), 4).alias("avg_norm"),
            F.round(F.stddev_samp("nrm"), 4).alias("std_norm"),
            F.round(F.min("centroid_norm"), 4).alias("centroid_norm"),
            F.round(F.avg("cosc"), 4).alias("avg_cos_to_centroid"),
        )
    )


# --------------------------------------------------------------------------
# e12 — ANN recall audit: PQ-ADC top-5 (s07's exact parameters) joined
# against the exact-cosine top-5 per query, recall@5 = |intersection|/5.
# The d13 estimator-accuracy pattern applied to the ANN index family: the
# approximate index's quality is itself an oracle-checked query, because
# both rankings are bit-reproducible (integer ADC scores; fold-order-
# matched cosine). At 100 TB the exact side is the guarded baseline on a
# sampled query set — recall auditing is O(queries), not O(corpus).
# --------------------------------------------------------------------------


def _e12_oracle() -> str:
    return f"""
    WITH pq AS ({_pq_sql(m_sub=8, k_codes=16, subdim=8, k=5,
                         query_pred="vec_id < 10")}),
    v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), exact_rank AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                ORDER BY list_cosine_similarity(q.e, c.e) DESC,
                                         c.vec_id) AS rnk
      FROM v q JOIN v c ON q.vec_id < 10 AND q.vec_id <> c.vec_id
    ), ex5 AS (
      SELECT query_id, list_sort(list(neighbor_id)) AS ex_arr
      FROM exact_rank WHERE rnk <= 5 GROUP BY query_id
    ), pq5 AS (
      SELECT query_id, list_sort(list(neighbor_id)) AS pq_arr
      FROM pq GROUP BY query_id
    )
    SELECT ex5.query_id,
           array_to_string(ex_arr, ',') AS exact_top5,
           array_to_string(pq_arr, ',') AS pq_top5,
           CAST(len(list_intersect(ex_arr, pq_arr)) AS INT) AS n_overlap,
           ROUND(len(list_intersect(ex_arr, pq_arr)) / 5.0, 2) AS recall_at_5
    FROM ex5 JOIN pq5 USING (query_id)
    """


@register(
    "e12_pq_recall_audit",
    _e12_oracle(),
    "ANN recall@5 audit: PQ-ADC top-5 vs exact-cosine top-5 per query — "
    "the index-quality measurement as an oracle-checked query (d13's "
    "estimator-audit pattern for the ANN family)",
)
def e12_pq_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    pq = SIM.pq_topk(q, emb, SIM.pq_codebook(m_sub=8, k_codes=16, subdim=8), k=5)
    exact = SIM.brute_force_topk(q, emb, k=5)
    ex5 = exact.groupBy("query_id").agg(
        F.sort_array(F.collect_list("neighbor_id")).alias("ex_arr")
    )
    pq5 = pq.groupBy("query_id").agg(
        F.sort_array(F.collect_list("neighbor_id")).alias("pq_arr")
    )
    inter = F.size(F.array_intersect(F.col("ex_arr"), F.col("pq_arr")))
    # neighbor sets serialized to CSV at the edge: top-level array columns
    # crash the driver's pandas canonicalizer (the q65 lesson)
    return ex5.join(pq5, "query_id").select(
        "query_id",
        F.array_join(F.col("ex_arr").cast("array<string>"), ",").alias("exact_top5"),
        F.array_join(F.col("pq_arr").cast("array<string>"), ",").alias("pq_top5"),
        inter.alias("n_overlap"),
        F.round(inter / F.lit(5.0), 2).alias("recall_at_5"),
    )


# --------------------------------------------------------------------------
# e13 — binary-quantized retrieval: each 64-dim embedding collapses to two
# 32-bit sign words (1 bit per dimension, 64x compression — the binary-
# embedding trick below even e04's int8), and search is hamming distance =
# popcount(xor) on the words, entirely JVM-side. Queries broadcast against
# the packed corpus; at larger corpora the simhash band-blocking (d07)
# applies verbatim to these words. Packing sums exact powers of two per
# word, so both engines build identical integers.
# --------------------------------------------------------------------------
@register(
    "e13_binary_hamming_topk",
    """
    WITH x AS (
      SELECT vec_id, gs - 1 AS j0, CAST(embedding AS DOUBLE[])[gs] AS val
      FROM embeddings, generate_series(1, 64) g(gs)
    ), packed AS (
      SELECT vec_id, j0 // 32 AS word,
             CAST(SUM(CASE WHEN val > 0
                           THEN CAST(power(2, j0 % 32) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS bits
      FROM x GROUP BY vec_id, j0 // 32
    ), pv AS (
      SELECT vec_id,
             MAX(CASE WHEN word = 0 THEN bits END) AS lo,
             MAX(CASE WHEN word = 1 THEN bits END) AS hi
      FROM packed GROUP BY vec_id
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(bit_count(xor(q.lo, c.lo)) + bit_count(xor(q.hi, c.hi))
                  AS INT) AS hamming
      FROM pv q JOIN pv c ON q.vec_id < 10 AND q.vec_id <> c.vec_id
    )
    SELECT query_id, neighbor_id, hamming, CAST(rnk AS INT) AS rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY hamming, neighbor_id) AS rnk
      FROM scored) WHERE rnk <= 5
    """,
    "binary-quantized ANN: sign-bit packing to two 32-bit words (64x "
    "compression), hamming = popcount(xor) top-5 per query — JVM bit ops "
    "end-to-end, d07's band blocking is the documented scale path",
)
def e13_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("j0", "val"),
    )
    weight = F.pow(F.lit(2.0), (F.col("j0") % 32).cast("double")).cast("bigint")
    packed = x.groupBy("vec_id", (F.col("j0") / 32).cast("int").alias("word")).agg(
        F.sum(F.when(F.col("val") > 0, weight).otherwise(F.lit(0))).alias("bits")
    )
    pv = packed.groupBy("vec_id").agg(
        F.max(F.when(F.col("word") == 0, F.col("bits"))).alias("lo"),
        F.max(F.when(F.col("word") == 1, F.col("bits"))).alias("hi"),
    )
    q = pv.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("lo").alias("qlo"),
        F.col("hi").alias("qhi"),
    )
    scored = pv.crossJoin(F.broadcast(q)).filter(
        F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            F.bit_count(F.col("qlo").bitwiseXOR(F.col("lo")))
            + F.bit_count(F.col("qhi").bitwiseXOR(F.col("hi")))
        ).cast("int").alias("hamming"),
    )
    w = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("query_id", "neighbor_id", "hamming", F.col("rnk").cast("int").alias("rnk"))
    )


# --------------------------------------------------------------------------
# e14 — cluster separation map: pairwise cosine between the per-label mean
# centroids (6dp-rounded, the e03/e11 pattern) — the centroid-level
# complement to e09's per-point silhouette: which clusters are actually
# near each other. |labels|^2 rows, so the "all-pairs" is bounded by the
# label vocabulary, never the corpus.
# --------------------------------------------------------------------------
@register(
    "e14_centroid_separation",
    """
    WITH ex AS (
      SELECT label, gs AS pos, CAST(embedding AS DOUBLE[])[gs] AS v
      FROM embeddings, generate_series(1, 64) g(gs)
    ), comp AS (
      SELECT label, pos, ROUND(SUM(v) / COUNT(*), 6) AS v
      FROM ex GROUP BY label, pos
    ), cent AS (
      SELECT label, list(v ORDER BY pos) AS centroid FROM comp GROUP BY label
    )
    SELECT a.label AS label_a, b.label AS label_b,
           ROUND(list_cosine_similarity(a.centroid, b.centroid), 6)
             AS centroid_cosine
    FROM cent a JOIN cent b ON a.label < b.label
    """,
    "cluster separation map: pairwise cosine between 6dp-rounded label "
    "centroids — bounded by the label vocabulary, the centroid-level "
    "complement to the silhouette audit",
)
def e14_centroid_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("p0", "v"),
    ).withColumn("pos", F.col("p0") + 1)
    comp = ex.groupBy("label", "pos").agg(
        F.round(F.sum("v") / F.count(F.lit(1)), 6).alias("v")
    )
    cent = comp.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "v"))), lambda s: s["v"]
        ).alias("centroid")
    )
    a = cent.select(F.col("label").alias("label_a"), F.col("centroid").alias("ca"))
    b = cent.select(F.col("label").alias("label_b"), F.col("centroid").alias("cb"))
    return (
        a.join(F.broadcast(b), F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            F.round(SIM.cosine(F.col("ca"), F.col("cb")), 6).alias(
                "centroid_cosine"
            ),
        )
    )


# --------------------------------------------------------------------------
# e15 — Johnson-Lindenstrauss random-projection distortion audit: project
# 64-d embeddings to 16-d with a deterministic Rademacher sign matrix
# (sign from integer parity of i*73856093 + j*19349663 — pure arithmetic,
# bit-identical on both engines), then compare pairwise squared distances
# before and after on a deterministic vec_id sample. Both sides fold the
# arrays sequentially (F.aggregate / list_sum over list_transform), so the
# floats agree to well past the ROUND precision. The pair join is a
# sample×sample broadcast comparison, bounded by the sampling rate — the
# full-corpus path stays linear (each vector projects independently).
# --------------------------------------------------------------------------
_E15_MOD, _E15_K = 25, 16


@register(
    "e15_jl_projection_audit",
    f"""
    WITH s AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
      FROM embeddings WHERE vec_id % {_E15_MOD} = 0
    ), p AS (
      SELECT vec_id, emb,
             list_transform(range(1, {_E15_K} + 1), j ->
               list_sum(list_transform(range(1, len(emb) + 1), i ->
                 emb[i] * (CASE WHEN (i * 73856093 + j * 19349663) % 2 = 0
                           THEN CAST(1 AS DOUBLE)
                           ELSE CAST(-1 AS DOUBLE) END)))
               / sqrt({_E15_K})) AS proj
      FROM s
    ), pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_sum(list_transform(range(1, len(a.emb) + 1),
               i -> (a.emb[i] - b.emb[i]) ^ 2)) AS d2o,
             list_sum(list_transform(range(1, {_E15_K} + 1),
               j -> (a.proj[j] - b.proj[j]) ^ 2)) AS d2p
      FROM p a JOIN p b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b,
           ROUND(d2o, 6) AS d2_orig,
           ROUND(d2p, 6) AS d2_proj,
           ROUND(d2p / NULLIF(d2o, 0), 4) AS distortion
    FROM pairs
    """,
    "JL random-projection distortion audit: deterministic Rademacher "
    "projection 64d->16d, pairwise squared-distance ratio on a sampled "
    "pair set; projection itself is per-row linear",
)
def e15_jl_projection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = F.col("emb")

    def sign(i: F.Column, j: F.Column) -> F.Column:
        par = (i.cast("long") * 73856093 + j.cast("long") * 19349663) % 2
        return F.when(par == 0, F.lit(1.0)).otherwise(F.lit(-1.0))

    s = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % _E15_MOD == 0)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    )
    proj = F.transform(
        F.sequence(F.lit(1), F.lit(_E15_K)),
        lambda j: F.aggregate(
            F.sequence(F.lit(1), F.size(emb)),
            F.lit(0.0),
            lambda acc, i: acc + F.element_at(emb, i) * sign(i, j),
        )
        / F.sqrt(F.lit(float(_E15_K))),
    )
    p = s.select("vec_id", "emb", proj.alias("proj"))
    a = p.select(
        F.col("vec_id").alias("id_a"),
        F.col("emb").alias("emb_a"),
        F.col("proj").alias("proj_a"),
    )
    b = p.select(
        F.col("vec_id").alias("id_b"),
        F.col("emb").alias("emb_b"),
        F.col("proj").alias("proj_b"),
    )

    def sqdist(x: F.Column, y: F.Column) -> F.Column:
        return F.aggregate(
            F.zip_with(x, y, lambda u, v: (u - v) * (u - v)),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )

    d2o = sqdist(F.col("emb_a"), F.col("emb_b"))
    d2p = sqdist(F.col("proj_a"), F.col("proj_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(d2o, 6).alias("d2_orig"),
            F.round(d2p, 6).alias("d2_proj"),
            F.round(d2p / F.nullif(d2o, F.lit(0.0)), 4).alias("distortion"),
        )
    )


# --------------------------------------------------------------------------
# e16 — diagonal-Mahalanobis out-of-distribution scan: per (label, dim)
# mean and population variance from one exploded-embedding shuffle agg,
# re-joined to score every vector by sum((x-mu)^2 / (var+eps)) — the
# standard data-curation OOD filter (a vector far from its own class
# centroid in variance-normalized units is a label-noise / outlier
# candidate; complements e11's norm-based health audit). Top-5 per label
# ranked on the ROUNDED score with vec_id tie-break, so the cut is
# deterministic under cross-engine ulp drift. Scale: stats table is
# |labels|×dims rows (broadcastable), scoring is one equi-join + one
# per-vector agg — linear end to end.
# --------------------------------------------------------------------------
@register(
    "e16_mahalanobis_ood",
    """
    WITH ex AS (
      SELECT vec_id, label, i.i AS pos,
             CAST(embedding[i.i] AS DOUBLE) AS v
      FROM embeddings,
           LATERAL (SELECT UNNEST(generate_series(1, len(embedding))) AS i) i
    ), st AS (
      SELECT label, pos, AVG(v) AS mu, var_pop(v) AS vr
      FROM ex GROUP BY label, pos
    ), sc AS (
      SELECT e.vec_id, e.label,
             SUM((e.v - s.mu) * (e.v - s.mu) / (s.vr + 1e-6)) AS score
      FROM ex e JOIN st s ON e.label = s.label AND e.pos = s.pos
      GROUP BY e.vec_id, e.label
    ), rk AS (
      SELECT label, vec_id, ROUND(score, 6) AS ood_score,
             row_number() OVER (PARTITION BY label
                                ORDER BY ROUND(score, 6) DESC, vec_id) AS rn
      FROM sc
    )
    SELECT label, vec_id, ood_score FROM rk WHERE rn <= 5
    """,
    "diagonal-Mahalanobis OOD scan: per-(label,dim) mean/variance stats "
    "re-joined to score vectors in variance-normalized units, top-5 per "
    "label on the rounded score — the label-noise/outlier curation filter",
)
def e16_mahalanobis_ood(spark: SparkSession, sf_dir: str) -> DataFrame:
    ex = (
        _t(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "p0", "v"
            ),
        )
        .select("vec_id", "label", (F.col("p0") + 1).alias("pos"), "v")
    )
    st = ex.groupBy("label", "pos").agg(
        F.avg("v").alias("mu"), F.var_pop("v").alias("vr")
    )
    sc = (
        ex.join(F.broadcast(st), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(
                (F.col("v") - F.col("mu"))
                * (F.col("v") - F.col("mu"))
                / (F.col("vr") + F.lit(1e-6))
            ).alias("score")
        )
    )
    w = Window.partitionBy("label").orderBy(
        F.round("score", 6).desc(), F.col("vec_id")
    )
    return (
        sc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("label", "vec_id", F.round("score", 6).alias("ood_score"))
    )


# --------------------------------------------------------------------------
# s10 — hard-negative mining for contrastive training (round-6: wires the
# round-5 operator into the oracle gate). For each of 4 anchor vectors,
# the top-5 most-similar candidates with a DIFFERENT label — the
# dense-retrieval recipe (mine the highest-scoring wrong answers, not
# random ones). The anchor batch is a guarded broadcast inside a numpy
# mapInPandas kernel over the candidate scan; each Arrow batch emits only
# its per-anchor top-k, so the one shuffle moves ~k*A rows — the corpus
# never leaves the scan stage. Cosines use the fold-order-matched
# sequential kernel (bit-equal to DuckDB list_cosine_similarity).
# --------------------------------------------------------------------------
_S10_K, _S10_ANCHORS = 5, 4


@register(
    "s10_hard_negative_topk",
    f"""
    WITH v AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), a AS (SELECT * FROM v WHERE vec_id < {_S10_ANCHORS}),
    scored AS (
      SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
             c.vec_id AS negative_id, c.label AS negative_label,
             list_cosine_similarity(c.e, a.e) AS sim
      FROM a JOIN v c ON c.vec_id <> a.vec_id AND c.label <> a.label
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                                   ORDER BY sim DESC, negative_id) AS rnk
      FROM scored
    )
    SELECT anchor_id, CAST(anchor_label AS INT) AS anchor_label,
           negative_id, CAST(negative_label AS INT) AS negative_label,
           ROUND(sim, 4) AS sim, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= {_S10_K}
    """,
    "hard-negative mining: per-anchor top-5 highest-cosine different-label "
    "candidates via a guarded anchor broadcast + per-batch partial top-k "
    "(corpus map-side only); bit-parity sequential cosine",
)
def s10_hard_negative_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < _S10_ANCHORS)
    return SIM.hard_negative_topk(anchors, emb, k=_S10_K)


# --------------------------------------------------------------------------
# e17 — auto-planed LSH near-dup pairs (round-6): operationalizes the
# 100×-measured plane-count rule as a first-class operator. The Spark side
# COUNTS the corpus and picks p = recommended_lsh_planes(N) (=
# ceil(log2(N/1024)) — per-bucket kernel matrices stay ~8 MB at any N),
# so the same registered query is safe at 500 vectors and at 200k, where
# e02's fixture constant (p=4) would build multi-GB per-task matrices.
# On the fixture corpora (500 / 2000 vectors) the rule resolves to p=1,
# which is what the fixed oracle bakes in — the oracle stays valid for
# any fixture up to 2048 vectors, and the operator stays valid beyond.
# --------------------------------------------------------------------------
_E17_THRESHOLD = 0.45


@register(
    "e17_autoplaned_neardup_lsh",
    SIM.bucketed_neardup_oracle_sql(
        threshold=_E17_THRESHOLD, n_planes=1, dim=64
    ),
    "embedding near-dup pairs with DATA-SIZED hyperplane count: p = "
    "ceil(log2(N/1024)) keeps per-bucket kernel matrices ~constant at any "
    "corpus size (the measured 100x rule, similarity.recommended_lsh_planes)",
)
def e17_autoplaned_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    p = SIM.recommended_lsh_planes(emb.count())
    return SIM.bucketed_neardup_pairs(
        emb, threshold=_E17_THRESHOLD, n_planes=p, dim=64
    )


# --------------------------------------------------------------------------
# e18 — LSH bucket-occupancy audit: the operational pre-flight for every
# bucketed kernel in the repo (e02/e17/g07/d18). The 100× experiment's
# core finding is that per-bucket kernel work is (N/2^p)² — quadratic in
# occupancy — so the audit reports, per bucket, the member count, the
# C(occ,2) candidate pairs the kernel would enumerate, and the occ²·8-byte
# task matrix it would materialize. Plane count sized from the data like
# e17 (p = recommended_lsh_planes(N)); one partial-agg groupBy on the same
# bucket key the kernel shuffles on — the audit is strictly cheaper than
# the kernel it budgets.
# --------------------------------------------------------------------------
@register(
    "e18_lsh_bucket_occupancy",
    SIM.lsh_occupancy_oracle_sql(n_planes=1, dim=64),
    "LSH bucket-occupancy audit: per-bucket member count, C(occ,2) "
    "candidate-pair work, and the occ^2*8-byte kernel task matrix — the "
    "pre-flight that sizes n_planes before any bucketed similarity kernel "
    "runs",
)
def e18_lsh_bucket_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    p = SIM.recommended_lsh_planes(emb.count())
    return SIM.lsh_bucket_occupancy(emb, n_planes=p, dim=64)


# --------------------------------------------------------------------------
# e19 — IVF probe-recall sweep (round-6c): the operational tuning table
# for the inverted-file index — recall@5 as a function of n_probe (1, 2,
# 4, 8 of 16 lists) against the exact-cosine ground truth on the guarded
# 10-anchor query set. This is THE decision faiss users make before any
# billion-scale deployment (probe more lists = more recall, linearly more
# scan), and here the whole frontier is one oracle-checked query: both
# rankings are bit-reproducible (fold-order-matched cosine, centroid-id
# tie-breaks), so the per-probe overlap counts are exact integers. At
# 100 TB the exact side stays O(anchors x corpus) on a sampled query set
# — recall auditing never touches all-pairs.
# --------------------------------------------------------------------------
_E19_PROBES = (1, 2, 4, 8)
_E19_CENTROIDS = SIM._hyperplanes(dim=64, n_planes=16, seed=7)


def _e19_oracle() -> str:
    parts = [f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), exact_rank AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                ORDER BY list_cosine_similarity(q.e, c.e) DESC,
                                         c.vec_id) AS rnk
      FROM v q JOIN v c ON q.vec_id < 10 AND q.vec_id <> c.vec_id
    ), ex5 AS (
      SELECT query_id, list_sort(list(neighbor_id)) AS ex_arr
      FROM exact_rank WHERE rnk <= 5 GROUP BY query_id
    )"""]
    selects = []
    for npb in _E19_PROBES:
        ivf = SIM.ivf_fixed_oracle_sql(
            _E19_CENTROIDS, k=5, n_probe=npb, query_pred="vec_id < 10"
        )
        parts.append(f""", iv{npb} AS ({ivf})
    , iv{npb}_arr AS (
      SELECT query_id, list_sort(list(neighbor_id)) AS iv_arr
      FROM iv{npb} GROUP BY query_id
    )""")
        selects.append(f"""
    SELECT CAST({npb} AS INT) AS n_probe,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(len(list_intersect(ex_arr, iv_arr))) AS BIGINT)
             AS sum_overlap,
           ROUND(SUM(len(list_intersect(ex_arr, iv_arr)))
                 / (5.0 * COUNT(*)), 4) AS recall_at_5
    FROM ex5 JOIN iv{npb}_arr USING (query_id)""")
    return "".join(parts) + " UNION ALL ".join(selects)


@register(
    "e19_ivf_probe_recall_sweep",
    _e19_oracle(),
    "IVF tuning table: recall@5 vs n_probe (1/2/4/8 of 16 lists) against "
    "exact-cosine ground truth on the guarded anchor set — the probe-vs-"
    "recall frontier as one oracle-checked query; exact integer overlap "
    "counts, one final division",
)
def e19_ivf_probe_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = SIM.brute_force_topk(q, emb, k=5)
    ex5 = exact.groupBy("query_id").agg(
        F.sort_array(F.collect_list("neighbor_id")).alias("ex_arr")
    )
    out = None
    for npb in _E19_PROBES:
        ivf = SIM.ivf_fixed_topk(q, emb, _E19_CENTROIDS, k=5, n_probe=npb)
        iv5 = ivf.groupBy("query_id").agg(
            F.sort_array(F.collect_list("neighbor_id")).alias("iv_arr")
        )
        ov = F.size(F.array_intersect(F.col("ex_arr"), F.col("iv_arr")))
        row = (
            ex5.join(iv5, "query_id")
            .agg(
                F.count(F.lit(1)).alias("n_queries"),
                F.sum(ov).alias("sum_overlap"),
            )
            .select(
                F.lit(npb).cast("int").alias("n_probe"),
                F.col("n_queries").cast("bigint").alias("n_queries"),
                F.col("sum_overlap").cast("bigint").alias("sum_overlap"),
                F.round(
                    F.col("sum_overlap") / (F.lit(5.0) * F.col("n_queries")), 4
                ).alias("recall_at_5"),
            )
        )
        out = row if out is None else out.unionAll(row)
    return out


# --------------------------------------------------------------------------
# e20 — clustering-inertia elbow sweep (round-6d): mean cosine distortion
# (1 - best-centroid cosine) as a function of k over fixed deterministic
# quantizers (k = 2/4/8/16) — the k-selection frontier for IVF list counts
# and k-means clustering in ONE oracle-checked query, like e19's probe
# sweep is for n_probe. Per-vector distortions are FLOOR-quantized to
# nano-units and summed exactly (order-free); the mean is one division of
# exact integers on both engines. Ties in best-centroid score don't matter
# — only MAX(score) is consumed. Scale: each k's centroid table is a
# bounded broadcast; one corpus scan per k, no pairwise anything.
# --------------------------------------------------------------------------
_E20_KS = (2, 4, 8, 16)


def _e20_oracle() -> str:
    selects = []
    for k in _E20_KS:
        cents = ", ".join(
            f"([{', '.join(repr(float(x)) for x in c)}]::DOUBLE[])"
            for c in SIM._hyperplanes(dim=64, n_planes=k, seed=11)
        )
        selects.append(f"""
    SELECT CAST({k} AS INT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(q) AS BIGINT) AS inertia_nano,
           CAST(SUM(q) AS DOUBLE) / 1e9 / COUNT(*) AS mean_distortion
    FROM (
      SELECT vec_id,
             CAST(FLOOR(1e9 * (1.0 - MAX(
               list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.c)
             ))) AS BIGINT) AS q
      FROM embeddings e CROSS JOIN (VALUES {cents}) c(c)
      GROUP BY vec_id
    )""")
    return " UNION ALL ".join(selects)


@register(
    "e20_inertia_elbow_sweep",
    _e20_oracle(),
    "clustering-inertia elbow sweep: mean cosine distortion vs k over "
    "fixed quantizers (k=2/4/8/16) — the k-selection frontier as one "
    "oracle-checked query; per-vector distortions nano-quantized and "
    "summed exactly, bounded centroid broadcasts only",
)
def e20_inertia_elbow_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    out = None
    for k in _E20_KS:
        cents = SIM._hyperplanes(dim=64, n_planes=k, seed=11)
        cent_df = emb.sparkSession.createDataFrame(
            [(c,) for c in cents], "c array<double>"
        )
        best = (
            emb.crossJoin(F.broadcast(cent_df))
            .withColumn("score", SIM.cosine(F.col("e"), F.col("c")))
            .groupBy("vec_id")
            .agg(F.max("score").alias("best"))
            .select(
                F.floor(F.lit(1e9) * (F.lit(1.0) - F.col("best")))
                .cast("bigint")
                .alias("q")
            )
        )
        row = best.agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum("q").cast("bigint").alias("inertia_nano"),
        ).select(
            F.lit(k).cast("int").alias("k"),
            "n_vectors",
            "inertia_nano",
            (F.col("inertia_nano").cast("double") / F.lit(1e9) / F.col("n_vectors"))
            .alias("mean_distortion"),
        )
        out = row if out is None else out.unionAll(row)
    return out


# --------------------------------------------------------------------------
# e21 — product-quantization codebook TRAINING (round 7): the missing
# first stage of the faiss recipe whose encode/search stages s07/s08
# already exercise with a fixed deterministic codebook. Per SUBSPACE
# (4 slices of 16 dims), k=4 centroids learned by 2 Lloyd iterations from
# a fixed LCG init — e07's unrolled-loop pattern, but in PQ's metric
# (squared L2, not cosine) and sharded by subspace: one broadcast join of
# the (subspace × k)-row centroid table + one shuffle agg per round, so a
# 100 TB corpus trains all subspace codebooks in the same two passes.
# Distances are FLOOR-quantized per dimension to integer nano-units and
# summed as BIGINTs (order-free, engine-portable — the e20 trick), so
# assignment argmins and the reported total distortion are bit-exact.
# Centroid means are exact too: components FLOOR-quantize to integer
# MICRO-units before the sum (integer addition is order-free, unlike the
# e03/e07 6dp-rounded double mean, which sits one ulp from a .5 boundary
# away from a cross-engine flip), then one deterministic division pair
# (/count, /1e6) recovers the double centroid bit-identically.
# --------------------------------------------------------------------------
_E21_SUBSPACES = 4
_E21_SUBDIM = 16
_E21_K = 4
_E21_ITERS = 2
_E21_INIT = {
    s: SIM._hyperplanes(dim=_E21_SUBDIM, n_planes=_E21_K, seed=211 + s)
    for s in range(_E21_SUBSPACES)
}


def _e21_oracle() -> str:
    init_vals = " UNION ALL ".join(
        f"SELECT {s} AS sub_id, {c} AS cand, {_E21_INIT[s][c]}::DOUBLE[] AS centroid"
        for s in range(_E21_SUBSPACES)
        for c in range(_E21_K)
    )
    d = _E21_SUBDIM
    ctes = [
        f"""sub AS (
      SELECT vec_id, g.s AS sub_id,
             CAST(embedding AS DOUBLE[])[g.s * {d} + 1 : g.s * {d} + {d}] AS sv
      FROM embeddings, generate_series(0, {_E21_SUBSPACES - 1}) g(s))""",
        f"cent0 AS ({init_vals})",
    ]
    for it in range(1, _E21_ITERS + 1):
        prev = f"cent{it - 1}"
        ctes.append(f"""s{it} AS (
      SELECT sub.vec_id, sub.sub_id, c.cand, sub.sv,
             (SELECT CAST(SUM(CAST(FLOOR((sub.sv[i] - c.centroid[i]) *
                                         (sub.sv[i] - c.centroid[i]) * 1e9)
                              AS BIGINT)) AS BIGINT)
              FROM generate_series(1, {d}) t(i)) AS dist
      FROM sub JOIN {prev} c ON sub.sub_id = c.sub_id)""")
        ctes.append(f"""a{it} AS (
      SELECT vec_id, sub_id, cand, dist, sv FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub_id
                                     ORDER BY dist, cand) AS rnk
        FROM s{it}) WHERE rnk = 1)""")
        if it < _E21_ITERS:
            ctes.append(f"""ex{it} AS (
      SELECT sub_id, cand, gs AS pos, sv[gs] AS val
      FROM a{it}, generate_series(1, {d}) g(gs))""")
            ctes.append(f"""cm{it} AS (
      SELECT sub_id, cand, pos,
             CAST(SUM(CAST(FLOOR(val * 1e6) AS BIGINT)) AS DOUBLE)
               / COUNT(*) / 1e6 AS val
      FROM ex{it} GROUP BY sub_id, cand, pos)""")
            ctes.append(f"""cent{it} AS (
      SELECT sub_id, cand, list(val ORDER BY pos) AS centroid
      FROM cm{it} GROUP BY sub_id, cand)""")
    last = f"a{_E21_ITERS}"
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT CAST(sub_id AS INT) AS subspace, CAST(cand AS INT) AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(dist) AS BIGINT) AS total_dist_nano
    FROM {last} GROUP BY sub_id, cand
    """
    )


@register(
    "e21_pq_codebook_training",
    _e21_oracle(),
    "PQ codebook training: per-subspace k-means (2 Lloyd iterations, "
    "fixed LCG init, squared-L2 in exact integer nano-units) — the "
    "train stage in front of s07/s08's encode/search; one broadcast "
    "centroid join + one shuffle agg per round covers ALL subspaces",
)
def e21_pq_codebook_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _E21_SUBDIM
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    sub = emb.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("sub_id"),
                        F.slice("e", s * d + 1, d).alias("sv"),
                    )
                    for s in range(_E21_SUBSPACES)
                ]
            )
        ).alias("x"),
    ).select("vec_id", "x.sub_id", "x.sv")

    def dist_nano(sv, cent):
        diffs = F.zip_with(
            sv, cent, lambda x, y: F.floor((x - y) * (x - y) * F.lit(1e9))
        )
        return F.aggregate(
            diffs, F.lit(0).cast("bigint"), lambda acc, v: acc + v
        )

    cent = spark.createDataFrame(
        [
            (s, c, _E21_INIT[s][c])
            for s in range(_E21_SUBSPACES)
            for c in range(_E21_K)
        ],
        "sub_id int, cand int, centroid array<double>",
    )
    assigned = None
    for it in range(1, _E21_ITERS + 1):
        scored = sub.join(F.broadcast(cent), "sub_id").withColumn(
            "dist", dist_nano(F.col("sv"), F.col("centroid"))
        )
        assigned = (
            scored.groupBy("vec_id", "sub_id")
            .agg(
                F.min_by(
                    F.struct("cand", "dist"), F.struct("dist", "cand")
                ).alias("b"),
                F.first("sv").alias("sv"),
            )
            .select(
                "vec_id",
                "sub_id",
                F.col("b.cand").alias("cand"),
                F.col("b.dist").alias("dist"),
                "sv",
            )
        )
        if it < _E21_ITERS:
            ex = assigned.select(
                "sub_id", "cand", F.posexplode("sv").alias("pos", "val")
            )
            cm = ex.groupBy("sub_id", "cand", "pos").agg(
                (
                    F.sum(F.floor(F.col("val") * F.lit(1e6)).cast("bigint"))
                    .cast("double")
                    / F.count(F.lit(1))
                    / F.lit(1e6)
                ).alias("val")
            )
            cent = cm.groupBy("sub_id", "cand").agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "val"))),
                    lambda s: s["val"],
                ).alias("centroid")
            )
    return assigned.groupBy(
        F.col("sub_id").cast("int").alias("subspace"),
        F.col("cand").cast("int").alias("cluster_id"),
    ).agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum("dist").cast("bigint").alias("total_dist_nano"),
    )


# --------------------------------------------------------------------------
# s11 — reciprocal-rank-fusion hybrid retrieval (VERDICT r07 #5): fuse the
# sparse (t30 BM25) and dense (s01-style cosine) rankings the way every
# production RAG pipeline does (Cormack/Clarke/Buettcher SIGIR'09):
# RRF(d) = Σ_rankings 1/(K + rank_d), K = 60. Both arms reuse the repo's
# bit-exact building blocks (the one BM25 definition via
# T.bm25_scores/bm25_scored_cte_sql; the fold-order-matched cosine), ranks
# are exact integers (row_number with id tiebreaks), and the fused score is
# a fixed-order sum of two integer-reciprocal doubles — bit-identical
# across engines — quantized to floor(rrf·1e9) so the hash compare never
# meets a decimal .5 boundary.
#
# Scale: each arm is the already-audited retrieval plan (BM25: two corpus
# scans + a 1-row broadcast; dense: one corpus scan against a broadcast
# query vector — swap in s02/s08's LSH/IVFPQ arm for ad-hoc query sets);
# the fusion itself touches only 2×POOL ranked rows — a full-outer join and
# a top-k on a bounded table, independent of corpus size. The doc↔vector
# identity contract is positional: embeddings.vec_id is taken as
# documents.doc_id (both fixture tables enumerate the same corpus ids).
# --------------------------------------------------------------------------
_S11_TERMS = ("spark", "merge", "window")  # t30's fixed query
_S11_QVEC = 0  # dense query = this vec_id's embedding
_S11_POOL = 20  # per-arm candidate pool fed to the fusion
_S11_K = 10  # fused output size
_S11_RRFK = 60  # the standard RRF constant


@register(
    "s11_rrf_hybrid_retrieval",
    f"""
    WITH {T.bm25_scored_cte_sql(terms=_S11_TERMS)},
    sr AS (
      SELECT id, s_rnk FROM (
        SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, id) AS INT) AS s_rnk
        FROM scored WHERE bm25 > 0
      ) WHERE s_rnk <= {_S11_POOL}
    ), q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
      WHERE vec_id = {_S11_QVEC}
    ), dense AS (
      SELECT vec_id AS id,
             list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv) AS sim
      FROM embeddings CROSS JOIN q WHERE vec_id <> {_S11_QVEC}
    ), dr AS (
      SELECT id, d_rnk FROM (
        SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, id) AS INT) AS d_rnk
        FROM dense
      ) WHERE d_rnk <= {_S11_POOL}
    ), fused AS (
      SELECT COALESCE(sr.id, dr.id) AS id, sr.s_rnk, dr.d_rnk,
             COALESCE(CAST(1.0 AS DOUBLE) / ({_S11_RRFK} + sr.s_rnk),
                      CAST(0.0 AS DOUBLE))
             + COALESCE(CAST(1.0 AS DOUBLE) / ({_S11_RRFK} + dr.d_rnk),
                        CAST(0.0 AS DOUBLE)) AS rrf
      FROM sr FULL OUTER JOIN dr ON sr.id = dr.id
    )
    SELECT id, rrf_n9, s_rnk, d_rnk, rnk FROM (
      SELECT id, CAST(FLOOR(rrf * 1e9) AS BIGINT) AS rrf_n9, s_rnk, d_rnk,
             CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, id) AS INT) AS rnk
      FROM fused
    ) WHERE rnk <= {_S11_K}
    """,
    "reciprocal-rank-fusion hybrid retrieval: BM25 arm + dense-cosine arm "
    "fused by sum of 1/(60+rank) — bounded-by-pool fusion join, exact "
    "integer ranks, floor-quantized score",
)
def s11_rrf_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")

    sw = Window.orderBy(F.desc("bm25"), F.asc("id"))
    sr = (
        T.bm25_scores(docs, "doc_id", "text", terms=_S11_TERMS)
        .select("id", F.row_number().over(sw).cast("int").alias("s_rnk"))
        .filter(F.col("s_rnk") <= _S11_POOL)
    )

    qv = emb.filter(F.col("vec_id") == _S11_QVEC).select(
        F.col("embedding").cast("array<double>").alias("qv")
    )
    dense = (
        emb.filter(F.col("vec_id") != _S11_QVEC)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("id"),
            SIM.cosine(F.col("embedding").cast("array<double>"), F.col("qv")).alias(
                "sim"
            ),
        )
    )
    dw = Window.orderBy(F.desc("sim"), F.asc("id"))
    dr = dense.select(
        "id", F.row_number().over(dw).cast("int").alias("d_rnk")
    ).filter(F.col("d_rnk") <= _S11_POOL)

    fused = (
        sr.withColumnRenamed("id", "s_id")
        .join(dr.withColumnRenamed("id", "d_id"),
              F.col("s_id") == F.col("d_id"), "full_outer")
        .select(
            F.coalesce(F.col("s_id"), F.col("d_id")).alias("id"),
            "s_rnk",
            "d_rnk",
            (
                F.coalesce(
                    F.lit(1.0) / (F.lit(_S11_RRFK) + F.col("s_rnk")), F.lit(0.0)
                )
                + F.coalesce(
                    F.lit(1.0) / (F.lit(_S11_RRFK) + F.col("d_rnk")), F.lit(0.0)
                )
            ).alias("rrf"),
        )
    )
    fw = Window.orderBy(F.desc("rrf"), F.asc("id"))
    return (
        fused.select(
            "id",
            F.floor(F.col("rrf") * F.lit(1e9)).cast("bigint").alias("rrf_n9"),
            "s_rnk",
            "d_rnk",
            F.row_number().over(fw).cast("int").alias("rnk"),
        )
        .filter(F.col("rnk") <= _S11_K)
    )


# --------------------------------------------------------------------------
# s12 — IVFPQ search + EXACT refine (faiss IndexRefineFlat): the last
# stage of the billion-scale recipe the repo already trains (e21), encodes
# (s07), and searches (s08). The PQ index returns a candidate pool of
# R >> k approximately-ranked ids; the refine stage re-scores ONLY those
# Q×R pairs with exact full-precision cosine and emits the exact top-k.
# Output carries both ranks (adc_rnk vs rnk) so the re-ordering the
# refine performs is itself visible and oracle-checked.
#
# Scale: the candidate pool (Q×R rows) broadcasts into two equi-joins
# against the vector table — refine cost is O(Q·R) full-vector fetches +
# exact distances, independent of corpus size; the corpus is only ever
# touched through s08's prune-lists/scan-codes plan. This is exactly how
# faiss composes IndexIVFPQ + IndexRefineFlat.
# --------------------------------------------------------------------------
_S12_CENTROIDS = SIM._hyperplanes(dim=64, n_planes=16, seed=7)  # == s08's
_S12_R = 10  # PQ candidate pool per query
_S12_K = 5  # exact top-k after refine


@register(
    "s12_ann_ivfpq_refine_topk",
    f"""
    WITH {SIM.ivfpq_scores_cte_sql(_S12_CENTROIDS, m_sub=8, k_codes=16,
                                   subdim=8, n_probe=4,
                                   query_pred="vec_id < 10")},
    cand AS (
      SELECT query_id, neighbor_id, arnk FROM (
        SELECT query_id, neighbor_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY adc_dist ASC, neighbor_id ASC)
                    AS INT) AS arnk
        FROM scores) WHERE arnk <= {_S12_R}),
    refined AS (
      SELECT c.query_id, c.neighbor_id, c.arnk,
             list_cosine_similarity(q.v, n.v) AS sim
      FROM cand c
      JOIN v q ON q.vec_id = c.query_id
      JOIN v n ON n.vec_id = c.neighbor_id)
    SELECT query_id, neighbor_id, ROUND(sim, 4) AS sim,
           arnk AS adc_rnk, rnk
    FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY sim DESC, neighbor_id)
                     AS INT) AS rnk
      FROM refined) WHERE rnk <= {_S12_K}
    """,
    "IVFPQ search + exact refine (faiss IndexRefineFlat): PQ top-R "
    "candidate pool re-scored with exact cosine, both ranks emitted — "
    "refine cost O(Q*R), corpus touched only through the code scan",
)
def s12_ann_ivfpq_refine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    cands = SIM.ivfpq_topk(
        emb.filter(F.col("vec_id") < 10),
        emb,
        _S12_CENTROIDS,
        SIM.pq_codebook(m_sub=8, k_codes=16, subdim=8),
        k=_S12_R,
        n_probe=4,
    ).select("query_id", "neighbor_id", F.col("rnk").alias("adc_rnk"))
    qv = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    nv = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("nv"),
    )
    refined = (
        qv.join(F.broadcast(cands), "query_id")
        .join(nv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            "adc_rnk",
            SIM.cosine(F.col("qv"), F.col("nv")).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        refined.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= _S12_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round("sim", 4).alias("sim"),
            "adc_rnk",
            "rnk",
        )
    )


# --------------------------------------------------------------------------
# s13 — label-filtered vector search (round 8): the "filtered ANN" shape
# every production vector store serves — a metadata predicate restricts the
# candidate set BEFORE the similarity ranking (tenant isolation, language
# filter, time-range filter). Expressed Spark-first as an equi-join on the
# filter key instead of a post-filtered cross join: each query scores ONLY
# its own label's partition of the corpus, so the work is
# sum_q |corpus_label(q)| rather than Q x N. At 100 TB the corpus is
# hash-partitioned (or bucketed) by the tenant key, the tiny query table
# broadcasts, and the scan prunes to the touched labels — the same plan
# this registers. Exact within the filtered set, so fully oracle-checkable
# (the s-family's approximate paths cover the unfiltered scale story).
# --------------------------------------------------------------------------
_S13_K = 5
_S13_NQ = 10  # query vectors: vec_id < 10 (one per label bucket at sf0.01)


@register(
    "s13_ann_label_filtered_topk",
    f"""
    WITH q AS (
      SELECT vec_id AS query_id, label, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < {_S13_NQ}
    ), c AS (
      SELECT vec_id AS neighbor_id, label, CAST(embedding AS DOUBLE[]) AS nv
      FROM embeddings
    ), scored AS (
      SELECT query_id, c.label, neighbor_id,
             list_cosine_similarity(qv, nv) AS sim
      FROM q JOIN c USING (label)
      WHERE query_id <> neighbor_id
    ), ranked AS (
      SELECT query_id, label, neighbor_id, sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, neighbor_id) AS INT)
               AS rnk
      FROM scored
    )
    SELECT query_id, label, neighbor_id, ROUND(sim, 4) AS sim, rnk
    FROM ranked WHERE rnk <= {_S13_K}
    """,
    "label-filtered exact cosine top-k (filtered vector search): the "
    "metadata predicate becomes an equi-join on the filter key, so each "
    "query scores only its label's corpus slice — never a post-filtered "
    "cross join",
)
def s13_ann_label_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _S13_NQ).select(
        F.col("vec_id").alias("query_id"),
        "label",
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        "label",
        F.col("embedding").cast("array<double>").alias("nv"),
    )
    scored = (
        c.join(F.broadcast(q), "label")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "label",
            "neighbor_id",
            # F.aggregate fold: same left-to-right IEEE sequence as
            # DuckDB's list_cosine_similarity (see s01/e01 contract)
            SIM.cosine(F.col("qv"), F.col("nv")).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= _S13_K)
        .select("query_id", "label", "neighbor_id",
                F.round("sim", 4).alias("sim"), "rnk")
    )


# --------------------------------------------------------------------------
# e22 — kNN label-agreement audit (round 8): the standard embedding-quality
# probe — what fraction of each point's top-k neighbors share its label
# (a leave-one-out kNN-classifier consistency score). Complements e09's
# geometric silhouette with a retrieval-semantics answer. Plan: the s05
# brute-force kNN kernel (per-batch top-k, only k·Q rows shuffle) + two
# vec_id-keyed label joins + a label-bounded census; agreement quantized
# to integer ppm so the hash is order-proof.
# --------------------------------------------------------------------------
_E22_K = 5


@register(
    "e22_knn_label_agreement",
    f"""
    WITH v AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), scored AS (
      SELECT a.vec_id AS qid, a.label AS q_label,
             b.vec_id AS nid, b.label AS n_label,
             list_cosine_similarity(a.e, b.e) AS sim
      FROM v a CROSS JOIN v b WHERE a.vec_id <> b.vec_id
    ), ranked AS (
      SELECT q_label, n_label,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY sim DESC, nid) AS rnk
      FROM scored
    )
    SELECT q_label AS label,
           CAST(COUNT(*) AS BIGINT) AS n_edges,
           CAST(SUM(CASE WHEN q_label = n_label THEN 1 ELSE 0 END) AS BIGINT)
             AS n_same,
           CAST(FLOOR(1e6 * SUM(CASE WHEN q_label = n_label THEN 1 ELSE 0 END)
                      / COUNT(*)) AS BIGINT) AS agreement_ppm
    FROM ranked WHERE rnk <= {_E22_K}
    GROUP BY 1
    """,
    "kNN label-agreement audit: fraction of each vector's top-5 cosine "
    "neighbors sharing its label, censused per label — the leave-one-out "
    "kNN-classifier probe of embedding quality",
)
def e22_knn_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    knn = SIM.brute_force_topk(emb, emb, k=_E22_K)
    lab = emb.select("vec_id", "label")
    j = knn.join(
        lab.select(F.col("vec_id").alias("query_id"), F.col("label").alias("q_label")),
        "query_id",
    ).join(
        lab.select(
            F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label")
        ),
        "neighbor_id",
    )
    same = (F.col("q_label") == F.col("n_label")).cast("int")
    return (
        j.groupBy(F.col("q_label").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_edges"),
            F.sum(same).cast("bigint").alias("n_same"),
            F.floor(F.lit(1e6) * F.sum(same) / F.count(F.lit(1)))
            .cast("bigint")
            .alias("agreement_ppm"),
        )
    )


# --------------------------------------------------------------------------
# s15 — projection-tree ANN (round 8): the annoy / RP-tree index family
# (Dasgupta & Freund 2008), completing the repo's index taxonomy — flat
# (s01), hash (s02/e02), inverted-list (s04/s06), product-quantized
# (s07/s08/s12), tree (this). Balanced MEDIAN splits — not hash signs —
# bound every leaf at ~N/2^levels regardless of the data distribution;
# medians come from q101's census walk (bounded coarse-bucket census +
# prefix sum), never a per-node sort of the corpus. All scoring is exact
# integer dot over floor-quantized vectors, so both engines agree
# bit-for-bit with no IEEE accumulation pact.
# --------------------------------------------------------------------------
@register(
    "s15_projection_tree_topk",
    SIM.projection_tree_oracle_sql(levels=3, k=5),
    "projection-tree ANN (annoy family): 3 balanced median splits on "
    "hashed integer directions -> 8 leaves, each query searches only its "
    "own leaf; exact bigint-dot ranking, leaf path + occupancy audited",
)
def s15_projection_tree_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.projection_tree_topk(emb, levels=3, k=5)


# --------------------------------------------------------------------------
# s16 — incremental ANN index maintenance (round 9, VERDICT r08 #5): the
# vector-store INGESTION path that pairs with d21/pp02's incremental
# dedup. A production index is trained once and appended to daily: the
# new batch is encoded with the EXISTING coarse quantizer + PQ codebook
# (no retrain, no rebuild) and its (id, list_id, codes) rows are appended
# into the persisted inverted-list table — here a real parquet layout
# partitioned by list_id, so appending a batch only adds files inside
# existing list directories (the faiss add()/IndexIVF invlists contract,
# reference: this engine's own s08 index, plans/extra_queries.py). The
# codebook is an INPUT here, exactly as in faiss add(): training happens
# once, elsewhere (e21 is that stage — its 2-Lloyd-iteration training is
# oracle-checked on its own); s16 proves the ingest leg never retrains —
# the same fixed codebook the existing index was built with encodes the
# batch, which is what makes appended codes comparable to indexed ones.
#
# The ORACLE IS THE IDENTITY append == rebuild: a probe over the
# read-back (index ∪ appended) lists must hash-match a from-scratch
# IVFPQ built over the union corpus (ivfpq_scores_cte_sql over the full
# embeddings table). Encode is per-row deterministic, so the identity is
# exact — what the hash actually checks is the MECHANISM: nothing lost,
# duplicated, or re-encoded in the persisted layout, batch rows landing
# in the same lists a rebuild would put them in, and the cold read-back
# (partition-column recovery included) feeding search unchanged.
#
# Scale: encode is one Arrow map pass over the batch only (the 10%
# delta, never the corpus); the append writes only the batch's files;
# search work is bounded by the probed lists. At 100 TB the index table
# bucket-partitions by list_id and the daily job pays O(|batch|) encode
# + append, exactly like d21 pays O(|batch|) probe joins.
# --------------------------------------------------------------------------
_S16_CENTROIDS = SIM._hyperplanes(dim=64, n_planes=16, seed=7)  # = s08's
_S16_K = 5
_S16_NPROBE = 4


@register(
    "s16_incremental_index_append",
    f"""
    WITH {SIM.ivfpq_scores_cte_sql(
        _S16_CENTROIDS, m_sub=8, k_codes=16, subdim=8,
        n_probe=_S16_NPROBE, query_pred="vec_id < 10",
    )},
    topk AS ({SIM.adc_topk_sql(_S16_K)}),
    audit AS (
      SELECT CAST(COUNT(*) FILTER (vec_id % 10 <> 7) AS BIGINT) AS n_index,
             CAST(COUNT(*) FILTER (vec_id % 10 = 7) AS BIGINT) AS n_appended
      FROM embeddings)
    SELECT t.query_id, t.neighbor_id, t.adc_dist, t.rnk,
           a.n_index, a.n_appended
    FROM topk t CROSS JOIN audit a
    """,
    "incremental ANN index maintenance: daily embedding batch encoded "
    "with the EXISTING codebook and appended into the persisted "
    "list_id-partitioned inverted-list parquet (no retrain, no rebuild); "
    "the probe over the read-back index hash-matches a from-scratch "
    "IVFPQ over the union corpus — append == rebuild IS the oracle",
)
def s16_incremental_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    emb = _t(spark, sf_dir, "embeddings")
    cb = SIM.pq_codebook(m_sub=8, k_codes=16, subdim=8)
    index_side = emb.filter(F.col("vec_id") % 10 != 7)
    batch = emb.filter(F.col("vec_id") % 10 == 7)
    root = scratch_dir("s16")
    try:
        # day 0: build + persist the inverted lists (partitioned by
        # list_id — each coarse list is a directory, the invlists layout).
        # repartition(list_id) routes each list wholly into one shuffle
        # partition -> exactly ONE file per list per commit (the c20
        # layout trick) instead of n_input_partitions x n_lists tiny
        # files — at 100 TB the file count stays O(lists x commits), and
        # the sf0.1 read-back floor drops with it
        (
            SIM.ivfpq_encode(index_side, _S16_CENTROIDS, cb)
            .withColumn("commit", F.lit(0))
            .repartition(F.col("list_id"))
            .write.partitionBy("list_id")
            .parquet(root)
        )
        # day 1: encode ONLY the batch with the existing quantizer +
        # codebook and APPEND — existing files untouched, no rebuild
        (
            SIM.ivfpq_encode(batch, _S16_CENTROIDS, cb)
            .withColumn("commit", F.lit(1))
            .repartition(F.col("list_id"))
            .write.mode("append")
            .partitionBy("list_id")
            .parquet(root)
        )
        # cold read-back (partition col recovered from directory names —
        # cast explicitly so sessions with partition-type inference off
        # agree with sessions that infer int)
        encoded = spark.read.parquet(root).select(
            F.col("id").cast("bigint").alias("id"),
            F.col("list_id").cast("int").alias("list_id"),
            "codes",
            F.col("commit").cast("int").alias("commit"),
        )
        counts = encoded.groupBy().agg(
            F.sum(F.when(F.col("commit") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_index"),
            F.sum(F.when(F.col("commit") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_appended"),
        )
        probe = SIM.ivfpq_search_encoded(
            emb.filter(F.col("vec_id") < 10),
            encoded,
            _S16_CENTROIDS,
            cb,
            k=_S16_K,
            n_probe=_S16_NPROBE,
        )
        result = probe.crossJoin(F.broadcast(counts))
        # eager: Q*k rows + 2 audit cols materialize into block storage so
        # the scratch index can be removed before returning (c20 pattern)
        return result.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
