"""LLM-data-pipeline query surface: dedup, text analysis, similarity search.

Oracle-checkable queries use deterministic formulas replicated in DuckDB SQL;
genuinely non-SQL ops (MinHash-LSH, SimHash, LSH-ANN) register with
``oracle=None`` → the driver records the weaker rows-only check.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_data_engineering_spark.operators import dedup as D
from aws_data_engineering_spark.operators import graph as G
from aws_data_engineering_spark.operators import similarity as S
from aws_data_engineering_spark.operators import text as T
from aws_data_engineering_spark.plans.registry import register
from aws_data_engineering_spark.sources.tables import load_table

_SW_LIST_SQL = "('" + "', '".join(T.STOPWORDS) + "')"


# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------
@register(
    "d01_exact_dedup_groups",
    """
    SELECT text, MIN(doc_id) AS canonical_id, COUNT(*) AS group_size
    FROM documents GROUP BY text
    """,
    "exact dedup: hash-groupBy duplicate groups with canonical survivor",
)
def d01_exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.dedup_groups(docs, "text", "doc_id")


@register(
    "d02_latest_event_per_user",
    """
    SELECT event_id, user_id, event_type, ROUND(value, 2) AS value
    FROM (SELECT event_id, user_id, event_type, value,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id ASC) AS rn
          FROM events)
    WHERE rn = 1
    """,
    "dedup-latest-by-key: window row_number collapse (reference W5 semantics)",
)
def d02_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return D.latest_by_key(ev, ["user_id"], "ts", "event_id").select(
        "event_id", "user_id", "event_type", F.round("value", 2).alias("value")
    )


@register(
    "d03_fingerprint_dedup",
    f"""
    SELECT md5({T.normalize_sql('text')}) AS fp,
           MIN(doc_id) AS canonical_id,
           COUNT(*) AS group_size
    FROM documents GROUP BY 1
    """,
    "normalized-fingerprint dedup (md5 of lowercased collapsed text)",
)
def d03_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(T.fingerprint("text").alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
    )


@register(
    "d04_minhash_candidate_pairs",
    D.minhash_oracle_sql(num_hashes=32, num_bands=8),
    "fuzzy dedup: MinHash-LSH candidate pairs with estimated Jaccard — "
    "oracle recomputes signatures exactly (md5-derived base hash + literal "
    "affine permutations) and bands via signature-slice equality",
)
def d04_minhash_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_candidate_pairs(docs, "doc_id", "text")


# d05 registers the DF-CAPPED form (max_df: shingles in more than _D05_MAXDF
# docs are dropped before the self-join). The uncapped max_df=None form is
# the small-corpus exact baseline — correct, but one stop-shingle shared by
# d docs emits d·(d−1)/2 pairs (100k docs → 5e9 rows), so the query a user
# copies for a 100 TB corpus must be the capped one. Semantics: Jaccard over
# the df-filtered shingle universe (stopword-removed Jaccard — what large
# dedup pipelines actually want); sizes recompute on surviving shingles and
# the oracle mirrors the df census exactly (the d16 pattern).
_D05_MAXDF = 20


@register(
    "d05_ngram_jaccard_pairs",
    f"""
    WITH {T.shingle_ctes_sql(3)}, exploded AS (
      -- 48-bit md5-prefix shingle key, identical to the Spark side's
      -- conv(substr(md5(shingle),1,12),16,10): 8-byte census/join keys
      SELECT doc_id,
             CAST('0x' || substr(md5(shingle_s), 1, 12) AS BIGINT) AS shingle
      FROM (SELECT doc_id, UNNEST(sh) AS shingle_s FROM grams)
    ), dfreq AS (
      SELECT shingle, COUNT(*) AS doc_freq FROM exploded GROUP BY shingle
    ), survivors AS (
      SELECT e.doc_id, e.shingle, d.doc_freq
      FROM exploded e JOIN dfreq d USING (shingle)
      WHERE d.doc_freq <= {_D05_MAXDF}
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS sh_size FROM survivors GROUP BY doc_id
    ), joinable AS (
      SELECT doc_id, shingle FROM survivors WHERE doc_freq >= 2
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      FROM joinable a JOIN joinable b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(n_inter / (za.sh_size + zb.sh_size - n_inter), 4) AS jaccard
    FROM inter
    JOIN sizes za ON inter.id_a = za.doc_id
    JOIN sizes zb ON inter.id_b = zb.doc_id
    WHERE n_inter / (za.sh_size + zb.sh_size - n_inter) >= 0.2
    """,
    "fuzzy dedup: word-3gram Jaccard via inverted shingle index with the "
    f"stop-shingle df cap (doc_freq <= {_D05_MAXDF}) — the skew valve that "
    "survives a 100 TB corpus; max_df=None is the exact small-corpus "
    "baseline",
)
def d05_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.jaccard_pairs(
        docs, "doc_id", "text", shingle_n=3, min_jaccard=0.2, max_df=_D05_MAXDF
    )


@register(
    "d06_simhash",
    f"""
    WITH n AS (
      SELECT doc_id,
             {T.doc_tokens_sql('text')}
               AS toks
      FROM documents
    ), h AS (
      SELECT doc_id, [CAST((CAST((ascii(substr(md5(x), 1, 1)) - 48 - CASE WHEN ascii(substr(md5(x), 1, 1)) >= 97 THEN 39 ELSE 0 END) AS BIGINT) * CAST(17592186044416 AS BIGINT) + CAST((ascii(substr(md5(x), 2, 1)) - 48 - CASE WHEN ascii(substr(md5(x), 2, 1)) >= 97 THEN 39 ELSE 0 END) AS BIGINT) * CAST(1099511627776 AS BIGINT) + CAST((ascii(substr(md5(x), 3, 1)) - 48 - CASE WHEN ascii(substr(md5(x), 3, 1)) >= 97 THEN 39 ELSE 0 END) AS BIGINT) * CAST(68719476736 AS BIGINT) + CAST((ascii(substr(md5(x), 4, 1)) - 48 - CASE WHEN ascii(substr(md5(x), 4, 1)) >= 97 THEN 39 ELSE 0 END) AS BIGINT) * CAST(4294967296 AS BIGINT) + CAST((ascii(substr(md5(x), 5, 1)) - 48 - CASE WHEN ascii(substr(md5(x), 5, 1)) >= 97 THEN 39 ELSE 0 END) AS BIGINT) * CAST(268435456 AS BIGINT) + CAST((ascii(substr(md5(x), 6, 1)) - 48 - CASE WHEN ascii(substr(md5(x), 6, 1)) >= 97 THEN 39 ELSE 0 END) AS BIGINT) * CAST(16777216 AS BIGINT) + CAST((ascii(substr(md5(x), 7, 1)) - 48 - CASE WHEN ascii(substr(md5(x), 7, 1)) >= 97 THEN 39 ELSE 0 END) AS BIGINT) * CAST(1048576 AS BIGINT) + CAST((ascii(substr(md5(x), 8, 1)) - 48 - CASE WHEN ascii(substr(md5(x), 8, 1)) >= 97 THEN 39 ELSE 0 END) AS BIGINT) * CAST(65536 AS BIGINT) + CAST((ascii(substr(md5(x), 9, 1)) - 48 - CASE WHEN ascii(substr(md5(x), 9, 1)) >= 97 THEN 39 ELSE 0 END) AS BIGINT) * CAST(4096 AS BIGINT) + CAST((ascii(substr(md5(x), 10, 1)) - 48 - CASE WHEN ascii(substr(md5(x), 10, 1)) >= 97 THEN 39 ELSE 0 END) AS BIGINT) * CAST(256 AS BIGINT) + CAST((ascii(substr(md5(x), 11, 1)) - 48 - CASE WHEN ascii(substr(md5(x), 11, 1)) >= 97 THEN 39 ELSE 0 END) AS BIGINT) * CAST(16 AS BIGINT) + CAST((ascii(substr(md5(x), 12, 1)) - 48 - CASE WHEN ascii(substr(md5(x), 12, 1)) >= 97 THEN 39 ELSE 0 END) AS BIGINT) * CAST(1 AS BIGINT)) AS BIGINT) FOR x IN toks] AS hs FROM n
    ), sigs AS (
      SELECT doc_id, CAST((CASE WHEN list_sum([CASE WHEN (h >> 0) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 1 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 1) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 2 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 2) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 4 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 3) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 8 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 4) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 16 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 5) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 32 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 6) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 64 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 7) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 128 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 8) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 256 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 9) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 512 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 10) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 1024 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 11) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 2048 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 12) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 4096 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 13) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 8192 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 14) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 16384 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 15) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 32768 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 16) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 65536 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 17) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 131072 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 18) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 262144 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 19) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 524288 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 20) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 1048576 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 21) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 2097152 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 22) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 4194304 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 23) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 8388608 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 24) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 16777216 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 25) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 33554432 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 26) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 67108864 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 27) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 134217728 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 28) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 268435456 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 29) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 536870912 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 30) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 1073741824 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 31) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 2147483648 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 32) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 4294967296 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 33) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 8589934592 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 34) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 17179869184 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 35) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 34359738368 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 36) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 68719476736 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 37) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 137438953472 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 38) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 274877906944 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 39) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 549755813888 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 40) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 1099511627776 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 41) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 2199023255552 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 42) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 4398046511104 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 43) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 8796093022208 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 44) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 17592186044416 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 45) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 35184372088832 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 46) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 70368744177664 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 47) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 140737488355328 ELSE 0 END) AS BIGINT) AS sig FROM h
    )
    SELECT doc_id, sig AS simhash48 FROM sigs
    """,
    "SimHash 48-bit document signatures (md5-derived token hashes — "
    "engine-portable, so the majority-vote signature is oracle-checked "
    "bit-exactly)",
)
def d06_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_signatures(docs, "doc_id", "text").select(
        F.col("id").alias("doc_id"), F.col("sig").alias("simhash48")
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------
@register(
    "t01_text_stats",
    f"""
    SELECT doc_id,
           LENGTH(text) AS n_chars_actual,
           LEN({T.tokens_sql('text')}) AS n_tokens,
           LEN(regexp_extract_all(text, '[0-9]')) AS n_digits,
           LEN(regexp_extract_all(text, '{T.PUNCT_RE}')) AS n_punct
    FROM documents
    """,
    "per-document text statistics (chars/tokens/digits/punctuation)",
)
def t01_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.char_count("text").alias("n_chars_actual"),
        T.token_count("text").alias("n_tokens"),
        F.regexp_count("text", F.lit("[0-9]")).alias("n_digits"),
        T.punct_count("text").alias("n_punct"),
    )


@register(
    "t02_quality_scores",
    f"""
    WITH feats AS (
      SELECT doc_id, source,
             CAST(LEN({T.tokens_sql('text')}) AS DOUBLE) AS n_tok,
             CAST(LEN(list_filter({T.tokens_sql(T.ascii_lower_sql('text'))},
                                  x -> x IN {_SW_LIST_SQL})) AS DOUBLE) AS n_sw,
             CAST(LEN(regexp_extract_all(text, '[0-9]')) AS DOUBLE) AS n_dig,
             CAST(LENGTH(text) AS DOUBLE) AS n_chars
      FROM documents
    )
    SELECT doc_id, source,
           ROUND(LEAST(n_tok / 20.0, 1.0) * 0.4
                 + LEAST(n_sw / GREATEST(n_tok, 1) * 4, 1.0) * 0.4
                 + (1 - LEAST(n_dig / GREATEST(n_chars, 1) * 10, 1.0)) * 0.2, 4)
             AS quality,
           CASE WHEN n_sw / GREATEST(n_tok, 1) >= 0.05 THEN 'en'
                WHEN n_tok < 3 THEN 'short'
                ELSE 'unknown' END AS lang_pred
    FROM feats
    """,
    "quality scoring + heuristic language-ID per document",
)
def t02_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "source",
        T.quality_score("text").alias("quality"),
        T.lang_id("text").alias("lang_pred"),
    )


@register(
    "t03_token_counts_by_source",
    f"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(LEN({T.tokens_sql('text')})) AS BIGINT) AS total_tokens,
           CAST(SUM(LEN({T.tokens_sql('text')})) AS DOUBLE) / COUNT(*)
             AS avg_tokens,
           CAST(SUM(LEN(regexp_extract_all(text, '{T.BPE_TOKEN_PATTERN}'))) AS BIGINT)
             AS total_bpe_tokens
    FROM documents GROUP BY source
    """,
    "corpus token accounting per source (whitespace + BPE-ish regex tokens)",
)
def t03_token_counts_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(T.token_count("text")).cast("bigint").alias("total_tokens"),
        (F.sum(T.token_count("text")).cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
        F.sum(T.bpe_token_count("text")).cast("bigint").alias("total_bpe_tokens"),
    )


@register(
    "t04_lang_distribution",
    """
    SELECT lang, source, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents GROUP BY lang, source
    """,
    "language × source distribution with char-length stats",
)
def t04_lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------
# Exact cosine top-5 for 10 query vectors — the oracle for BOTH s01 (brute
# force) and s04 (IVF at n_probe = n_lists, which is exactly brute force
# regardless of centroid placement: every candidate lives in exactly one
# inverted list and every list is probed, so the scored set is the full
# corpus and the (sim desc, id asc) top-k is identical).
_EXACT_COSINE_TOPK_ORACLE = """
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
         scored AS (
           SELECT query_id, neighbor_id, list_cosine_similarity(q.v, c.v) AS sim
           FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
         ranked AS (
           SELECT query_id, neighbor_id, sim,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, neighbor_id) AS rnk
           FROM scored)
    SELECT query_id, neighbor_id, ROUND(sim, 4) AS sim, rnk
    FROM ranked WHERE rnk <= 5
    """


@register(
    "s01_ann_bruteforce_topk",
    _EXACT_COSINE_TOPK_ORACLE,
    "exact cosine top-5 neighbors for 10 query vectors (brute force baseline)",
)
def s01_ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return S.brute_force_topk(queries, emb, k=5)


@register(
    "s02_ann_lsh_topk",
    S.lsh_topk_oracle_sql(k=5, n_planes=4, dim=64, query_pred="vec_id < 10"),
    "LSH-bucketed approximate cosine top-k (the 100 TB scale path) — "
    "deterministic literal hyperplanes + fold-order-matched cosine make "
    "the approximation itself oracle-checkable",
)
def s02_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return S.lsh_topk(queries, emb, k=5, n_planes=4)


@register(
    "s03_embedding_stats_by_label",
    """
    SELECT label, COUNT(*) AS n_vecs,
           ROUND(SUM(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                           CAST(embedding AS DOUBLE[]))), 6) / COUNT(*)
             AS avg_self_sim,
           ROUND(SUM(sqrt(list_aggregate([x * x FOR x IN CAST(embedding AS DOUBLE[])],
                                        'sum'))), 6) / COUNT(*)
             AS avg_norm
    FROM embeddings GROUP BY label
    """,
    "embedding column stats: norms per label (multimodal array column agg)",
)
def s03_embedding_stats_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        (F.round(F.sum(S.cosine(v, v)), 6) / F.count(F.lit(1))).alias("avg_self_sim"),
        (F.round(F.sum(S.norm(v)), 6) / F.count(F.lit(1))).alias("avg_norm"),
    )


# ---------------------------------------------------------------------------
# Embedding-based near-duplicate detection (dedup family, embedding flavor)
# ---------------------------------------------------------------------------
@register(
    "e01_embedding_neardup_exact",
    """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(a.e, b.e), 4) AS sim
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.e, b.e) >= 0.45
    """,
    "embedding-cosine near-dup pairs, exact all-pairs (correctness baseline; "
    "e02 is the LSH-bucketed scale path)",
)
def e01_embedding_neardup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # numpy flat-index kernel (see exact_neardup_pairs): ~30x the
    # interpreted-HOF broadcast join at sf0.1, identical IEEE summation
    emb = load_table(spark, sf_dir, "embeddings")
    return S.exact_neardup_pairs(emb, threshold=0.45)


@register(
    "e02_embedding_neardup_lsh",
    S.bucketed_neardup_oracle_sql(threshold=0.45, n_planes=4, dim=64),
    "embedding-cosine near-dup via hyperplane-LSH buckets (100 TB path: "
    "equi-join on bucket id replaces the all-pairs cross join); the "
    "deterministic literal hyperplanes make even this approximate path "
    "bit-exactly oracle-checkable",
)
def e02_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.bucketed_neardup_pairs(emb, threshold=0.45, n_planes=4, dim=64)


@register(
    "s04_ann_ivf_topk",
    _EXACT_COSINE_TOPK_ORACLE,  # exhaustive probing ⇒ exact search, so the
    # trained-k-means IVF plan is hash-checked against the brute-force
    # oracle (VERDICT r10 #3); the partial-probe approximation stays under
    # the recall test in tests/test_similarity.py
    "IVF top-k: k-means coarse quantizer + probed inverted lists (the "
    "faiss-style scale path) driven at n_probe = n_lists — exhaustive "
    "probing is exactly brute force regardless of centroid placement, so "
    "the whole trained pipeline (train -> assign -> probe -> bucket-local "
    "score -> global top-k) is oracle-checked bit-exactly; partial-probe "
    "recall is pytest-guarded",
)
def s04_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return S.ivf_topk(queries, emb, k=5, n_centroids=16, n_probe=16)


# Fixed coarse quantizer for s06: 16 LCG-deterministic pseudo-random
# centroids (same generator as the LSH hyperplanes, different seed) — the
# "trained offline, passed in" contract that makes IVF oracle-checkable.
_S06_CENTROIDS = S._hyperplanes(dim=64, n_planes=16, seed=7)


@register(
    "s06_ann_ivf_fixed_topk",
    S.ivf_fixed_oracle_sql(_S06_CENTROIDS, k=5, n_probe=4, query_pred="vec_id < 10"),
    "IVF approximate top-k with a FIXED (caller-supplied) coarse quantizer "
    "— same inverted-list plan shape as s04 but fully deterministic and "
    "oracle-checked bit-exactly; s04's trained path stays under the recall "
    "test in tests/test_similarity.py",
)
def s06_ann_ivf_fixed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return S.ivf_fixed_topk(queries, emb, _S06_CENTROIDS, k=5, n_probe=4)


@register(
    "t05_token_length_stats",
    f"""
    WITH toks AS (
      SELECT doc_id, lang,
             {T.tokens_sql('text')} AS t
      FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(list_aggregate([LENGTH(x) FOR x IN t], 'sum')) AS DOUBLE)
             / SUM(len(t)) AS avg_token_len
    FROM toks GROUP BY lang
    """,
    "average token length per language (array fold, JVM-side)",
)
def t05_token_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens("text")
    char_sum = F.aggregate(F.transform(toks, F.length), F.lit(0), lambda a, x: a + x)
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum(char_sum).cast("double") / F.sum(F.size(toks))).alias("avg_token_len"),
    )


@register(
    "d07_simhash_neardup_pairs",
    f"""
    WITH n AS (
      SELECT doc_id,
             {T.doc_tokens_sql('text')}
               AS toks
      FROM documents
    ), h AS (
      SELECT doc_id, [CAST((CAST((ascii(substr(md5(x), 1, 1)) - 48 - CASE WHEN ascii(substr(md5(x), 1, 1)) >= 97 THEN 39 ELSE 0 END) AS BIGINT) * CAST(17592186044416 AS BIGINT) + CAST((ascii(substr(md5(x), 2, 1)) - 48 - CASE WHEN ascii(substr(md5(x), 2, 1)) >= 97 THEN 39 ELSE 0 END) AS BIGINT) * CAST(1099511627776 AS BIGINT) + CAST((ascii(substr(md5(x), 3, 1)) - 48 - CASE WHEN ascii(substr(md5(x), 3, 1)) >= 97 THEN 39 ELSE 0 END) AS BIGINT) * CAST(68719476736 AS BIGINT) + CAST((ascii(substr(md5(x), 4, 1)) - 48 - CASE WHEN ascii(substr(md5(x), 4, 1)) >= 97 THEN 39 ELSE 0 END) AS BIGINT) * CAST(4294967296 AS BIGINT) + CAST((ascii(substr(md5(x), 5, 1)) - 48 - CASE WHEN ascii(substr(md5(x), 5, 1)) >= 97 THEN 39 ELSE 0 END) AS BIGINT) * CAST(268435456 AS BIGINT) + CAST((ascii(substr(md5(x), 6, 1)) - 48 - CASE WHEN ascii(substr(md5(x), 6, 1)) >= 97 THEN 39 ELSE 0 END) AS BIGINT) * CAST(16777216 AS BIGINT) + CAST((ascii(substr(md5(x), 7, 1)) - 48 - CASE WHEN ascii(substr(md5(x), 7, 1)) >= 97 THEN 39 ELSE 0 END) AS BIGINT) * CAST(1048576 AS BIGINT) + CAST((ascii(substr(md5(x), 8, 1)) - 48 - CASE WHEN ascii(substr(md5(x), 8, 1)) >= 97 THEN 39 ELSE 0 END) AS BIGINT) * CAST(65536 AS BIGINT) + CAST((ascii(substr(md5(x), 9, 1)) - 48 - CASE WHEN ascii(substr(md5(x), 9, 1)) >= 97 THEN 39 ELSE 0 END) AS BIGINT) * CAST(4096 AS BIGINT) + CAST((ascii(substr(md5(x), 10, 1)) - 48 - CASE WHEN ascii(substr(md5(x), 10, 1)) >= 97 THEN 39 ELSE 0 END) AS BIGINT) * CAST(256 AS BIGINT) + CAST((ascii(substr(md5(x), 11, 1)) - 48 - CASE WHEN ascii(substr(md5(x), 11, 1)) >= 97 THEN 39 ELSE 0 END) AS BIGINT) * CAST(16 AS BIGINT) + CAST((ascii(substr(md5(x), 12, 1)) - 48 - CASE WHEN ascii(substr(md5(x), 12, 1)) >= 97 THEN 39 ELSE 0 END) AS BIGINT) * CAST(1 AS BIGINT)) AS BIGINT) FOR x IN toks] AS hs FROM n
    ), sigs AS (
      SELECT doc_id, CAST((CASE WHEN list_sum([CASE WHEN (h >> 0) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 1 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 1) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 2 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 2) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 4 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 3) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 8 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 4) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 16 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 5) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 32 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 6) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 64 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 7) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 128 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 8) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 256 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 9) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 512 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 10) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 1024 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 11) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 2048 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 12) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 4096 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 13) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 8192 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 14) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 16384 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 15) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 32768 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 16) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 65536 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 17) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 131072 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 18) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 262144 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 19) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 524288 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 20) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 1048576 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 21) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 2097152 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 22) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 4194304 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 23) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 8388608 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 24) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 16777216 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 25) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 33554432 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 26) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 67108864 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 27) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 134217728 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 28) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 268435456 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 29) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 536870912 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 30) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 1073741824 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 31) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 2147483648 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 32) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 4294967296 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 33) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 8589934592 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 34) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 17179869184 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 35) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 34359738368 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 36) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 68719476736 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 37) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 137438953472 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 38) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 274877906944 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 39) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 549755813888 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 40) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 1099511627776 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 41) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 2199023255552 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 42) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 4398046511104 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 43) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 8796093022208 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 44) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 17592186044416 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 45) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 35184372088832 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 46) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 70368744177664 ELSE 0 END + CASE WHEN list_sum([CASE WHEN (h >> 47) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 THEN 140737488355328 ELSE 0 END) AS BIGINT) AS sig FROM h
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= 3
    """,
    "SimHash near-dup pairs: 4x12-bit band blocking (pigeonhole: hamming<=3 "
    "pairs share a band, so the blocking is COMPLETE) then exact hamming "
    "filter; oracle computes exact all-pairs hamming over the same "
    "signatures",
)
def d07_simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_neardup_pairs(docs, "doc_id", "text", max_hamming=3)


@register(
    "t06_winnowing_fingerprints",
    """
    WITH {WINNOW_CTE}
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_distinct_fps,
           CAST(MIN(pos) AS INT) AS first_pos,
           CAST(MAX(pos) AS INT) AS last_pos
    FROM fps GROUP BY doc_id
    """.replace("{WINNOW_CTE}", T.winnowing_sql_cte(5, 4).strip()),
    "per-doc winnowing fingerprint stats (Rabin-Karp rolling k-gram hashes, "
    "window-min selection — SIGMOD'03 MOSS); oracle re-derives the "
    "signatures bit-exactly via HUGEINT polynomial arithmetic",
)
def t06_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fps = T.winnowing_fingerprints(docs, "doc_id", "text", k=5, window=4)
    return (
        fps.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_fingerprints"),
            F.countDistinct("fp").alias("n_distinct_fps"),
            F.min("pos").alias("first_pos"),
            F.max("pos").alias("last_pos"),
        )
    )


@register(
    "d08_winnowing_overlap_pairs",
    """
    WITH {WINNOW_CTE},
    dfp AS (SELECT DISTINCT doc_id, fp FROM fps),
    rare AS (SELECT fp FROM dfp GROUP BY fp HAVING COUNT(*) <= 200),
    kept AS (SELECT doc_id, fp FROM dfp JOIN rare USING (fp))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING COUNT(*) >= 30
    """.replace("{WINNOW_CTE}", T.winnowing_sql_cte(5, 4).strip()),
    "document pairs ranked by shared winnowing fingerprints (MOSS-style "
    "copy/overlap detection; stop-fingerprint cap before the self-join); "
    "oracle recomputes the same signatures and overlap counts exactly",
)
def d08_winnowing_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # min_shared=30: at sf0.01 the n_shared distribution has a clean knee
    # (78k pairs >=5, 3.6k >=20, 47 >=30) — 30 keeps only genuinely copied
    # passages, and bounds the candidate-pair count at scale
    return T.winnowing_overlap_pairs(
        docs, "doc_id", "text", k=5, window=4, min_shared=30
    )


@register(
    "t07_repetition_signals",
    f"""
    WITH toks AS (
      SELECT doc_id, {T.tokens_sql('text')} AS t
      FROM documents
    ), stats AS (
      SELECT doc_id,
             len(t) AS n_tokens,
             len(list_distinct(t)) AS n_distinct_tokens,
             t
      FROM toks
    ), grams AS (
      SELECT doc_id, UNNEST([t[i] || ' ' || t[i + 1]
                             FOR i IN generate_series(1, len(t) - 1)]) AS bigram
      FROM toks WHERE len(t) >= 2
    ), counts AS (
      SELECT doc_id, bigram, COUNT(*) AS c FROM grams GROUP BY doc_id, bigram
    ), top AS (
      SELECT doc_id, MAX(c) AS top_bigram_count FROM counts GROUP BY doc_id
    )
    SELECT s.doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_distinct_tokens AS BIGINT) AS n_distinct_tokens,
           CAST(COALESCE(top_bigram_count, 0) AS BIGINT) AS top_bigram_count
    FROM stats s LEFT JOIN top ON s.doc_id = top.doc_id
    """,
    "Gopher-style repetition signals: distinct-token and top-bigram counts "
    "(integer outputs — no float rounding at the hash boundary)",
)
def t07_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", T.tokens("text").alias("t"))
    stats = base.select(
        "doc_id",
        F.size("t").cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct("t")).cast("bigint").alias("n_distinct_tokens"),
    )
    # bigrams via posexplode + lead: whole-stage-codegen'd, shuffles once on
    # doc_id (bounded per-doc fan-out) — no interpreted HOF in the loop
    w = Window.partitionBy("doc_id").orderBy("pos")
    top = (
        base.select("doc_id", F.posexplode("t").alias("pos", "tok"))
        .withColumn("nxt", F.lead("tok").over(w))
        .where(F.col("nxt").isNotNull())
        .groupBy("doc_id", F.concat_ws(" ", "tok", "nxt").alias("bigram"))
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_bigram_count"))
    )
    return stats.join(top, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "n_distinct_tokens",
        F.coalesce("top_bigram_count", F.lit(0)).cast("bigint").alias("top_bigram_count"),
    )


# Benchmark sources for the contamination check (shared with the oracle SQL).
_BENCH_SOURCES = ("src0", "src1")
_BENCH_IN = "('" + "', '".join(_BENCH_SOURCES) + "')"


@register(
    "d09_benchmark_contamination",
    f"""
    WITH {T.shingle_ctes_sql(5, "doc_id, source")}, ex AS (
      SELECT doc_id, source, UNNEST(sh) AS shingle FROM grams
    ), bench AS (
      SELECT DISTINCT shingle FROM ex WHERE source IN {_BENCH_IN}
    ), cand AS (
      SELECT doc_id, shingle FROM ex WHERE source NOT IN {_BENCH_IN}
    )
    SELECT doc_id, COUNT(*) AS n_shared_grams
    FROM cand JOIN bench USING (shingle)
    GROUP BY doc_id
    """,
    "decontamination: candidate docs sharing a distinct word 5-gram with the "
    "benchmark sources (broadcast semi-join over exploded grams)",
)
def d09_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bench_pred = F.col("source").isin(*_BENCH_SOURCES)
    out = D.ngram_contamination(
        docs.filter(~bench_pred), docs.filter(bench_pred), "doc_id", "text", shingle_n=5
    )
    return out.select(F.col("id").alias("doc_id"), "n_shared_grams")


@register(
    "t08_pandas_udf_tokens",
    f"""
    SELECT source,
           CAST(SUM(LEN({T.tokens_sql(T.doc_text_sql('text'))})) AS BIGINT)
             AS total_tokens,
           COUNT(*) AS n_docs
    FROM documents GROUP BY source
    """,
    "Arrow-vectorized scalar pandas_udf (SCALAR eval over Series batches — "
    "the third Python surface next to mapInPandas and applyInPandas), "
    "oracle-checked against the JVM tokenizer semantics",
)
def t08_pandas_udf_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pandas must be importable as a MODULE-LEVEL name for the type hints:
    # `from __future__ import annotations` stringifies them, and pandas_udf
    # resolves the strings against the function's module globals
    from pyspark.sql.functions import pandas_udf

    # T.tokens(T.doc_text(...)), vectorized: the contract's trim set and
    # split class, bound as locals so the UDF pickles them by value
    ws, ws_run = T.ASCII_WS, T.WS_RUN

    @pandas_udf("int")
    def tok_count(s: pd.Series) -> pd.Series:
        return (
            s.fillna("")
            .str.strip(ws)
            .str.split(ws_run, regex=True)
            .str.len()
            .astype("int32")
        )

    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.sum(tok_count("text")).cast("bigint").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_docs"),
    )


@register(
    "t09_udtf_tokenize",
    f"""
    WITH toks AS (
      SELECT doc_id, {T.tokens_sql(T.doc_text_sql('text'))} AS t
      FROM documents WHERE doc_id < 50
    )
    SELECT doc_id,
           UNNEST([{{'pos': i - 1, 'token': t[i]}}
                   FOR i IN generate_series(1, len(t))], recursive := true)
    FROM toks
    """,
    "Python UDTF (table function: one input row -> many output rows via a "
    "lateral join) tokenizing documents with positions — oracle-checked "
    "against the SQL explode equivalent",
)
def t09_udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    tokens = T.text_worker_fns().tokens

    @udtf(returnType="pos int, token string")
    class Tokenize:
        def eval(self, text: str):
            for i, t in enumerate(tokens(text or "")):
                yield i, t

    name = "t09_tok"
    spark.udtf.register(name, Tokenize)
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    docs.createOrReplaceTempView("t09_docs")
    return spark.sql(
        f"SELECT d.doc_id, u.pos, u.token FROM t09_docs d, LATERAL {name}(d.text) u"
    )


@register(
    "t10_top_tokens",
    f"""
    WITH tok AS (
      SELECT unnest({T.tokens_sql(T.ascii_lower_sql('text'))}) AS token
      FROM documents
    ), counts AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok
      WHERE token <> '' GROUP BY token
    )
    SELECT token, cnt,
           CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS INT) AS rnk
    FROM counts QUALIFY rnk <= 20
    """,
    "corpus-wide top-20 token frequencies: explode -> skewed groupBy (hot "
    "tokens partial-aggregate map-side) -> TakeOrdered top-k, ties broken "
    "lexically",
)
def t10_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(
            F.explode(T.tokens(T.ascii_lower("text"))).alias("token")
        )
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # TakeOrderedAndProject keeps the top-k selection distributed; the
    # 20-row window afterwards only stamps ranks on the already-tiny result.
    from pyspark.sql import Window

    top = counts.orderBy(F.desc("cnt"), F.asc("token")).limit(20)
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    return top.withColumn("rnk", F.row_number().over(w))


@register(
    "d10_neardup_clusters",
    f"""
    WITH RECURSIVE
      v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.e, b.e) >= 0.45),
    {G.component_labels_cte_sql("pairs", "v", "vec_id")}
    SELECT vec_id, cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
             AS cluster_size,
           vec_id = cluster_id AS is_canonical
    FROM labeled
    """,
    "dedup cluster resolution: embedding near-dup pairs -> connected "
    "components (iterative min-label propagation; oracle walks the same "
    "graph with a recursive CTE) -> canonical doc per cluster",
)
def d10_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = S.exact_neardup_pairs(emb, threshold=0.45).select("id_a", "id_b")
    comp = G.connected_components(pairs, "id_a", "id_b")
    labeled = G.label_components(emb.select("vec_id"), "vec_id", comp)
    w = Window.partitionBy("cluster_id")
    return labeled.select(
        "vec_id",
        "cluster_id",
        F.count(F.lit(1)).over(w).cast("bigint").alias("cluster_size"),
        (F.col("vec_id") == F.col("cluster_id")).alias("is_canonical"),
    )


@register(
    "t11_arrow_native_stats",
    """
    SELECT doc_id,
           CAST(LENGTH(text) AS INT) AS n_chars_arrow,
           CAST(LEN(regexp_extract_all(text, '[A-Z]')) AS INT) AS n_upper
    FROM documents
    """,
    "mapInArrow: zero-copy RecordBatch transform via pyarrow.compute "
    "kernels (no pandas conversion on either side) — completes the Python "
    "execution matrix alongside row UDF / scalar + grouped pandas_udf / "
    "applyInPandas / mapInPandas / UDTF",
)
def t11_arrow_native_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    def kernel(batches):
        import pyarrow as pa_w
        import pyarrow.compute as pc_w

        for rb in batches:
            t = pa_w.Table.from_batches([rb])
            out = pa_w.table(
                {
                    "doc_id": t["doc_id"],
                    "n_chars_arrow": pc_w.cast(pc_w.utf8_length(t["text"]), "int32"),
                    "n_upper": pc_w.cast(
                        pc_w.count_substring_regex(t["text"], "[A-Z]"), "int32"
                    ),
                }
            )
            yield from out.to_batches()

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInArrow(kernel, "doc_id bigint, n_chars_arrow int, n_upper int")


@register(
    "t12_collapse_repeated_tokens",
    """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), kept AS (
      SELECT doc_id, toks,
             [toks[i] FOR i IN generate_series(1, len(toks))
              IF i = 1 OR toks[i] <> toks[i - 1]] AS cleaned
      FROM t
    )
    SELECT doc_id,
           CAST(len(toks) AS INT) AS n_before,
           CAST(len(cleaned) AS INT) AS n_after,
           CAST(len(toks) - len(cleaned) AS INT) AS n_removed,
           array_to_string(cleaned, ' ') AS cleaned_text
    FROM kept
    """,
    "training-data cleaning: collapse consecutive repeated tokens "
    "(boilerplate stutter removal) with an index-aware JVM filter lambda — "
    "zero-shuffle map stage, no Python",
)
def t12_collapse_repeated_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    # (x, i) lambda: i is 0-based; element_at is 1-based, so element_at(.., i)
    # is the PREVIOUS token — keep position 0 and any token differing from it
    cleaned = F.filter(toks, lambda x, i: (i == 0) | (x != F.element_at(toks, i)))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_before"),
        F.size(cleaned).alias("n_after"),
        (F.size(toks) - F.size(cleaned)).alias("n_removed"),
        F.array_join(cleaned, " ").alias("cleaned_text"),
    )


def _pp01_oracle() -> str:
    from aws_data_engineering_spark.operators.sampling import split_sql

    split = split_sql("doc_id", {"train": 0.9, "val": 0.05, "test": 0.05})
    return f"""
    WITH feats AS (
      SELECT doc_id, source, text,
             CAST(LEN({T.tokens_sql('text')}) AS DOUBLE) AS n_tok,
             CAST(LEN(list_filter({T.tokens_sql(T.ascii_lower_sql('text'))},
                                  x -> x IN {_SW_LIST_SQL})) AS DOUBLE) AS n_sw,
             CAST(LEN(regexp_extract_all(text, '[0-9]')) AS DOUBLE) AS n_dig,
             CAST(LENGTH(text) AS DOUBLE) AS n_chars
      FROM documents
    ), scored AS (
      SELECT doc_id, source,
             ROUND(LEAST(n_tok / 20.0, 1.0) * 0.4
                   + LEAST(n_sw / GREATEST(n_tok, 1) * 4, 1.0) * 0.4
                   + (1 - LEAST(n_dig / GREATEST(n_chars, 1) * 10, 1.0)) * 0.2, 4)
               AS quality,
             CASE WHEN n_sw / GREATEST(n_tok, 1) >= 0.05 THEN 'en'
                  WHEN n_tok < 3 THEN 'short' ELSE 'unknown' END AS lang_pred,
             CAST(n_tok AS BIGINT) AS n_tokens,
             md5({T.normalize_sql('text')}) AS fp
      FROM feats
    ), filtered AS (
      SELECT * FROM scored WHERE quality >= 0.5 AND lang_pred = 'en'
    ), canon AS (
      SELECT * FROM filtered
      QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY fp)
    )
    SELECT {split} AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(SUM(quality), 4) AS total_quality
    FROM canon GROUP BY split
    """


@register(
    "pp01_training_data_pipeline",
    _pp01_oracle(),
    "the whole training-data prep pipeline as ONE plan: quality score -> "
    "language filter -> fingerprint-dedup keep-canonical -> deterministic "
    "split assignment -> per-split token accounting. Catalyst fuses the "
    "scalar stages into the scan; the only shuffles are the dedup window "
    "and the final tiny agg",
)
def pp01_training_data_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from aws_data_engineering_spark.operators import sampling as P

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        T.quality_score("text").alias("quality"),
        T.lang_id("text").alias("lang_pred"),
        T.token_count("text").cast("bigint").alias("n_tokens"),
        T.fingerprint("text").alias("fp"),
    )
    filtered = scored.filter((F.col("quality") >= 0.5) & (F.col("lang_pred") == "en"))
    w = Window.partitionBy("fp")
    canon = filtered.withColumn("min_id", F.min("doc_id").over(w)).filter(
        F.col("doc_id") == F.col("min_id")
    )
    split = canon.withColumn(
        "split",
        P.split_assignment("doc_id", {"train": 0.9, "val": 0.05, "test": 0.05}),
    )
    return split.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.sum("quality"), 4).alias("total_quality"),
    )


@register(
    "s05_knn_graph",
    """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         scored AS (
           SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                  list_cosine_similarity(a.e, b.e) AS sim
           FROM v a CROSS JOIN v b WHERE a.vec_id <> b.vec_id),
         ranked AS (
           SELECT query_id, neighbor_id, sim,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, neighbor_id) AS rnk
           FROM scored)
    SELECT query_id, neighbor_id, ROUND(sim, 4) AS sim,
           CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 3
    """,
    "full k-NN graph (every vector's top-3 neighbors) — the input structure "
    "for graph dedup / semantic clustering; same numpy flat-index kernel as "
    "s01 with the whole corpus as the query set",
)
def s05_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.brute_force_topk(emb, emb, k=3)


@register(
    "t13_vocab_coverage",
    f"""
    WITH tok AS (
      SELECT source, unnest({T.tokens_sql(T.ascii_lower_sql('text'))}) AS token
      FROM documents
    ), t2 AS (
      SELECT * FROM tok WHERE token <> ''
    ), vocab AS (
      SELECT token FROM t2 GROUP BY token
      ORDER BY COUNT(*) DESC, token LIMIT 100
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN token IN (SELECT token FROM vocab)
                         THEN 1 ELSE 0 END) AS BIGINT) AS covered_tokens,
           CAST(SUM(CASE WHEN token IN (SELECT token FROM vocab)
                         THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS coverage
    FROM t2 GROUP BY source
    """,
    "vocabulary coverage per corpus: global top-100 vocab (TakeOrdered, "
    "ties broken lexically) broadcast back over the token stream — the "
    "'how much of this corpus does my tokenizer vocab cover' accounting",
)
def t13_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "source", F.explode(T.tokens(T.ascii_lower("text"))).alias("token")
        )
        .filter(F.col("token") != "")
    )
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(100)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    tagged = toks.join(F.broadcast(vocab), "token", "left")
    covered = F.sum(F.coalesce(F.col("in_vocab"), F.lit(0))).cast("bigint")
    return tagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("total_tokens"),
        covered.alias("covered_tokens"),
        (covered.cast("double") / F.count(F.lit(1))).alias("coverage"),
    )


def _t14_oracle() -> str:
    # chained global regexp_replace in PII_PATTERNS order == the Spark side;
    # patterns stay in the RE2 ∩ java.util.regex common dialect
    red = "text"
    count_terms = []
    for _, pat in T.PII_PATTERNS:
        sql_pat = pat.replace("\\", "\\\\").replace("'", "''")
        red = f"regexp_replace({red}, e'{sql_pat}', '[REDACTED]', 'g')"
        count_terms.append(f"len(regexp_extract_all(text, e'{sql_pat}'))")
    n_pii = " + ".join(count_terms)
    return f"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM({n_pii}) AS BIGINT) AS total_pii_matches,
           CAST(SUM(LENGTH({red}) - LENGTH(text)) AS BIGINT) AS redaction_len_delta
    FROM documents GROUP BY source
    """


@register(
    "t14_pii_scrub_audit",
    _t14_oracle(),
    "PII scrub audit per corpus: match counts (email/phone/SSN regex tier) "
    "+ redaction length delta — the corpus-scrub pass every training "
    "pipeline runs before tokenization; all-JVM regexp, codegen'd "
    "(planted-PII unit test in tests/test_sampling.py covers nonzero "
    "matches; the fixture corpus is PII-free so the oracle checks zeros)",
)
def t14_pii_scrub_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    delta = F.length(T.redact_pii("text")) - F.length(F.col("text"))
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(T.pii_match_count("text")).cast("bigint").alias("total_pii_matches"),
        F.sum(delta).cast("bigint").alias("redaction_len_delta"),
    )


@register(
    "t15_unigram_logprob",
    f"""
    WITH tok AS (
      SELECT doc_id, source,
             unnest({T.tokens_sql(T.ascii_lower_sql('text'))}) AS token
      FROM documents
    ), t2 AS (SELECT * FROM tok WHERE token <> ''),
    vocab AS (
      SELECT token, COUNT(*) AS cnt FROM t2 GROUP BY token
    ), tot AS (SELECT SUM(cnt) AS n FROM vocab),
    doc_scores AS (
      SELECT t2.doc_id, t2.source,
             AVG(-ln(vocab.cnt / tot.n)) AS ce
      FROM t2 JOIN vocab USING (token) CROSS JOIN tot
      GROUP BY t2.doc_id, t2.source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(ce), 3) AS avg_cross_entropy,
           ROUND(MIN(ce), 3) AS min_cross_entropy,
           ROUND(MAX(ce), 3) AS max_cross_entropy
    FROM doc_scores GROUP BY source
    """,
    "CCNet-style quality signal: per-doc cross-entropy against the corpus "
    "unigram LM (explode -> count -> re-join), aggregated per source. The "
    "vocab re-join is a shuffle equi-join on token — the shape that "
    "survives 100 TB (no driver-side vocab); perplexity filtering drops "
    "docs whose ce is an outlier",
)
def t15_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id", "source",
            F.explode(T.tokens(T.ascii_lower("text"))).alias("token"),
        )
        .filter(F.col("token") != "")
    )
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    # corpus total as a window over vocab, NOT a separate .agg() branch: the
    # agg branch re-planned the whole scan→explode→groupBy lineage (a third
    # full corpus scan at 100 TB); the unpartitioned window is one task over
    # the already-aggregated (token, cnt) table — MBs, not TBs
    from pyspark.sql import Window

    vocab = vocab.withColumn(
        "n", F.sum("cnt").over(Window.partitionBy(F.lit(1)))
    )
    scored = toks.join(vocab, "token").select(
        "doc_id", "source",
        (-F.log(F.col("cnt").cast("double") / F.col("n"))).alias("nll"),
    )
    doc_scores = scored.groupBy("doc_id", "source").agg(F.avg("nll").alias("ce"))
    return doc_scores.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("ce"), 3).alias("avg_cross_entropy"),
        F.round(F.min("ce"), 3).alias("min_cross_entropy"),
        F.round(F.max("ce"), 3).alias("max_cross_entropy"),
    )


_G01_PAIRS_CTE = """pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings) a
      JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings) b
        ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.e, b.e) >= 0.45)"""


@register(
    "g01_pagerank_neardup_graph",
    G.pagerank_oracle_sql(_G01_PAIRS_CTE, damping=0.85, iterations=3, round_to=6),
    "PageRank over the embedding near-dup graph (fixed 3 iterations, "
    "Pregel-on-DataFrames: one join + one agg shuffle per round) — "
    "graph-centrality curation signal: high-rank nodes are boilerplate "
    "hubs; oracle un-rolls the same iterations as chained CTEs",
)
def g01_pagerank_neardup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = S.exact_neardup_pairs(emb, threshold=0.45).select("id_a", "id_b")
    ranks = G.pagerank(pairs, "id_a", "id_b", damping=0.85, iterations=3)
    return ranks.select("node", F.round("rank", 6).alias("rank"))


# --------------------------------------------------------------------------
# d19 — LSH S-curve audit (round-6c): does the banded MinHash actually
# detect near-dups at the rate theory promises? Ground truth = every
# exact (uncapped) 3-gram Jaccard pair sharing >= 1 shingle — the fixture
# pair population is bimodal (thousands of j < 0.1 accidental-overlap
# pairs, a planted j >= 0.9 cohort), so the audit pins BOTH ends of the
# S-curve: near-zero detection at the bottom, ~1.0 at the top. Detection
# = membership in
# d04's banded candidate set (32 hashes, 8 bands x 4 rows). Per exact-
# Jaccard decile: pair count, detected count, the empirical detection
# rate, and the closed-form S-curve 1 - (1 - s^r)^b at the bin midpoint —
# computed with MULTIPLICATION ONLY (s2=s*s, ... u8=u4*u4) because
# pow() is not correctly rounded and differs across engines by ulps. The
# audit that validates (b, r) parameterization before a 100 TB dedup run;
# at scale both inputs swap to their capped forms (d17 / d05's max_df)
# over the exact-collapse survivor set.
# --------------------------------------------------------------------------
_D19_BANDS, _D19_ROWS = 8, 4


def _d19_oracle() -> str:
    # exact Jaccard over the minhash prefix's own 3-gram shingle sets
    return f"""
    WITH {D.minhash_sig_cte_sql(32)}, exploded AS (
      SELECT doc_id, UNNEST(sh) AS shingle FROM grams
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS sh_size FROM exploded GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      FROM exploded a JOIN exploded b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), exact AS (
      SELECT id_a, id_b,
             n_inter / (za.sh_size + zb.sh_size - n_inter) AS jaccard
      FROM inter
      JOIN sizes za ON inter.id_a = za.doc_id
      JOIN sizes zb ON inter.id_b = zb.doc_id
    ), detected AS (
      {D.minhash_pairs_sql(32, _D19_BANDS)}
    ), joined AS (
      -- bin the ROUNDED jaccard: the Spark side consumes jaccard_pairs'
      -- round(jac, 4) output, so a raw-value bin here would shift pairs
      -- within 5e-5 of a decile boundary into the adjacent bin
      SELECT LEAST(CAST(FLOOR(ROUND(e.jaccard, 4) * 10) AS INT), 9) AS j_bin,
             CASE WHEN d.id_a IS NULL THEN 0 ELSE 1 END AS hit
      FROM exact e LEFT JOIN detected d
        ON e.id_a = d.id_a AND e.id_b = d.id_b
    ), binned AS (
      SELECT j_bin, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(hit) AS BIGINT) AS n_detected
      FROM joined GROUP BY j_bin
    )
    , curve AS (
      SELECT *, (j_bin + 0.5) / 10 AS s FROM binned
    ), curve2 AS (
      SELECT *, (1 - s * s * s * s) * (1 - s * s * s * s) AS u2 FROM curve
    )
    SELECT j_bin, n_pairs, n_detected,
           ROUND(CAST(n_detected AS DOUBLE) / n_pairs, 4) AS detect_rate,
           ROUND(1 - (u2 * u2) * (u2 * u2), 4) AS theory_rate
    FROM curve2
    """


@register(
    "d19_lsh_scurve_audit",
    _d19_oracle(),
    "LSH parameter validation: empirical banded-MinHash detection rate "
    "per exact-Jaccard decile vs the closed-form S-curve 1-(1-s^4)^8 at "
    "the bin midpoint (multiplication-only — pow() is not correctly "
    "rounded across engines); the audit run before any 100 TB dedup",
)
def d19_lsh_scurve_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    exact = D.jaccard_pairs(
        docs, "doc_id", "text", shingle_n=3, min_jaccard=0.0, max_df=None
    )
    detected = D.minhash_candidate_pairs(
        docs, "doc_id", "text", num_hashes=32, num_bands=_D19_BANDS
    ).select("id_a", "id_b", F.lit(1).alias("hit"))
    joined = exact.join(detected, ["id_a", "id_b"], "left").select(
        F.least(F.floor(F.col("jaccard") * 10).cast("int"), F.lit(9)).alias(
            "j_bin"
        ),
        F.coalesce("hit", F.lit(0)).alias("hit"),
    )
    binned = joined.groupBy("j_bin").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("hit").cast("bigint").alias("n_detected"),
    )
    s = (F.col("j_bin") + 0.5) / 10
    s4 = s * s * s * s
    u = F.lit(1) - s4
    u2 = u * u
    theory = F.lit(1) - (u2 * u2) * (u2 * u2)
    return binned.select(
        "j_bin",
        "n_pairs",
        "n_detected",
        F.round(F.col("n_detected").cast("double") / F.col("n_pairs"), 4).alias(
            "detect_rate"
        ),
        F.round(theory, 4).alias("theory_rate"),
    )


# ---------------------------------------------------------------------------
# pp02 — the INCREMENTAL curation pipeline (round 8): pp01 is the batch
# bootstrap; this is what actually runs every day after it — the new 10%
# crawl delta flows through a waterfall of drop stages against the existing
# 90% corpus, and the output is the stage-attribution census every
# curation team reports (how many docs/tokens each stage removed). Stages,
# first match wins: exact dup inside the batch (fingerprint window) →
# exact dup vs the index (fp semi-join against the persisted corpus
# fingerprints) → near dup vs the index (the d21 MinHash band probe,
# est >= 0.7) → low quality (t02 scorer) → kept. At 100 TB the index
# fingerprints and signatures are precomputed tables; the delta pays one
# scan of itself plus key-joins — no corpus self-join, no all-pairs.
# ---------------------------------------------------------------------------
_PP02_FUZZY_MIN = 0.7


def _pp02_oracle() -> str:
    probe = D.minhash_probe_oracle_sql(num_hashes=32, num_bands=8)
    return f"""
    WITH feats AS (
      SELECT doc_id,
             CAST(LEN({T.tokens_sql('text')}) AS DOUBLE) AS n_tok,
             CAST(LEN(list_filter({T.tokens_sql(T.ascii_lower_sql('text'))},
                                  x -> x IN {_SW_LIST_SQL})) AS DOUBLE) AS n_sw,
             CAST(LEN(regexp_extract_all(text, '[0-9]')) AS DOUBLE) AS n_dig,
             CAST(LENGTH(text) AS DOUBLE) AS n_chars,
             md5({T.normalize_sql('text')}) AS fp
      FROM documents WHERE doc_id % 10 = 0
    ), scored AS (
      SELECT doc_id, fp,
             ROUND(LEAST(n_tok / 20.0, 1.0) * 0.4
                   + LEAST(n_sw / GREATEST(n_tok, 1) * 4, 1.0) * 0.4
                   + (1 - LEAST(n_dig / GREATEST(n_chars, 1) * 10, 1.0)) * 0.2, 4)
               AS quality,
             CAST(n_tok AS BIGINT) AS n_tokens
      FROM feats
    ), idx_fp AS (
      SELECT DISTINCT md5({T.normalize_sql('text')}) AS fp
      FROM documents WHERE doc_id % 10 <> 0
    ), fuzzy AS (
      SELECT DISTINCT id_new FROM ({probe}) p
      WHERE est_jaccard >= {_PP02_FUZZY_MIN}
    ), verdicts AS (
      SELECT s.doc_id, s.n_tokens,
             CASE WHEN s.doc_id <> MIN(s.doc_id) OVER (PARTITION BY s.fp)
                    THEN 'exact_dup_in_batch'
                  WHEN s.fp IN (SELECT fp FROM idx_fp)
                    THEN 'exact_dup_vs_index'
                  WHEN s.doc_id IN (SELECT id_new FROM fuzzy)
                    THEN 'near_dup_vs_index'
                  WHEN s.quality < 0.5 THEN 'low_quality'
                  ELSE 'kept' END AS verdict
      FROM scored s
    )
    SELECT verdict,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM verdicts GROUP BY 1
    """


@register(
    "pp02_incremental_curation",
    _pp02_oracle(),
    "the daily incremental curation pipeline: the new 10% batch flows "
    "through exact-dup-in-batch -> exact-dup-vs-index -> MinHash-probe "
    "near-dup-vs-index -> quality gate, and the output is the per-stage "
    "drop census (docs + tokens) — no corpus self-join anywhere",
)
def pp02_incremental_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    index = docs.filter(F.col("doc_id") % 10 != 0)
    scored = batch.select(
        "doc_id",
        T.fingerprint("text").alias("fp"),
        T.quality_score("text").alias("quality"),
        T.token_count("text").cast("bigint").alias("n_tokens"),
    )
    w = Window.partitionBy("fp")
    idx_fp = index.select(T.fingerprint("text").alias("fp")).distinct()
    fuzzy = (
        D.minhash_probe_pairs(index, batch, "doc_id", "text")
        .filter(F.col("est_jaccard") >= _PP02_FUZZY_MIN)
        .select(F.col("id_new").alias("doc_id"))
        .distinct()
        .withColumn("__fuzzy", F.lit(1))
    )
    verdicts = (
        scored.withColumn("min_id", F.min("doc_id").over(w))
        .join(idx_fp.withColumn("__idx", F.lit(1)), "fp", "left")
        .join(fuzzy, "doc_id", "left")
        .select(
            "n_tokens",
            F.when(F.col("doc_id") != F.col("min_id"), "exact_dup_in_batch")
            .when(F.col("__idx").isNotNull(), "exact_dup_vs_index")
            .when(F.col("__fuzzy").isNotNull(), "near_dup_vs_index")
            .when(F.col("quality") < 0.5, "low_quality")
            .otherwise("kept")
            .alias("verdict"),
        )
    )
    return verdicts.groupBy("verdict").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )


# ---------------------------------------------------------------------------
# s14 — exact MIPS top-k (round 8): the recommender-system retrieval
# semantics — two-tower models rank by RAW dot product, where vector
# magnitude carries the trained popularity signal cosine would normalize
# away. Same kernel shape as s01 (broadcast queries, per-batch top-k, one
# k·Q window shuffle); dot accumulation is dimension-by-dimension, the
# left-to-right IEEE sequence of DuckDB's list_inner_product.
# ---------------------------------------------------------------------------
@register(
    "s14_mips_topk",
    """
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
         scored AS (
           SELECT query_id, neighbor_id, list_inner_product(q.v, c.v) AS dot
           FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
         ranked AS (
           SELECT query_id, neighbor_id, dot,
                  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY dot DESC, neighbor_id)
                       AS INT) AS rnk
           FROM scored)
    SELECT query_id, neighbor_id, ROUND(dot, 4) AS dot, rnk
    FROM ranked WHERE rnk <= 5
    """,
    "exact maximum-inner-product top-5 (MIPS, the two-tower recommender "
    "semantics): raw dot product keeps the magnitude signal cosine "
    "normalizes away",
)
def s14_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return S.mips_topk(queries, emb, k=5)


# --------------------------------------------------------------------------
# pp03 — the WEB-CURATION front end as ONE plan (round 10): the CCNet-style
# composition of the round-10 stages — synthetic crawl pages (t39's HTML
# wrapper + t40's URL composer with per-page path segments) flow through
# extract -> boilerplate gate -> canonical-URL dedup (first-crawled wins)
# -> quality gate -> per-host accounting, with pp01/pp02's FIRST-MATCH-WINS
# drop attribution. The URL-dedup keeper is a NULL-skipping min over the
# canonical-URL window (min of CASE WHEN boiler-survivor THEN doc_id END),
# so boilerplate casualties never claim a canonical slot yet the whole
# waterfall stays one labeled row set — one window + one census shuffle.
#
# Gates (all exact-integer, both engines): boilerplate fraction
# > 500000 ppm drops ~11% of pages; canonical collisions at doc_id
# distance 420 (PAGE_SEG_MOD — rule-made for sub-cycle corpora; past one
# 1260-doc raw-URL cycle they include identical re-crawls, see
# operators/web.py) drop the crawl-dup tail; extracted word count < 25 (the Gopher word-count rule
# on EXTRACTED text, not raw HTML) drops short pages. Tokenization is a
# plain split-on-space of the paragraph join — identical on both engines
# by construction, no \\s class anywhere.
#
# Scale: every scalar stage fuses into the scan; the canon-URL window
# partitions are dup-cluster-sized (≤ corpus/420 + 1); the census keys on
# registrable host (bounded). Linear in page bytes end-to-end.
# --------------------------------------------------------------------------
_PP03_BOILER_PPM = 500_000
_PP03_MIN_TOKENS = 25


def _pp03_oracle() -> str:
    from aws_data_engineering_spark.operators import web as W

    paras = W.html_paragraphs_sql("html")
    total = W.html_all_text_chars_sql("html")
    canon = W.canonicalize_url_sql("url")
    return f"""
    WITH h AS (
      SELECT doc_id, {W.html_wrap_sql()} AS html,
             {W.synth_url_sql(page_seg=True)} AS url
      FROM documents
    ), p AS (
      SELECT doc_id, url,
             array_to_string({paras}, ' ') AS content,
             {total} AS tc
      FROM h
    ), m AS (
      SELECT doc_id,
             {canon} AS canon_url,
             {W.registrable_host_sql(canon)} AS reg_host,
             (1000000 * (tc - length(array_to_string(
                 list_filter(string_split(content, ' '), t -> t <> ''), ''))))
               // tc AS ppm,
             len(list_filter(string_split(content, ' '), t -> t <> ''))
               AS n_tok
      FROM p
    ), w AS (
      SELECT *,
             MIN(CASE WHEN ppm <= {_PP03_BOILER_PPM} THEN doc_id END)
               OVER (PARTITION BY canon_url) AS keeper
      FROM m
    ), lab AS (
      SELECT reg_host, n_tok,
             CASE WHEN ppm > {_PP03_BOILER_PPM} THEN 'boiler'
                  WHEN doc_id <> keeper THEN 'urldup'
                  WHEN n_tok < {_PP03_MIN_TOKENS} THEN 'quality'
                  ELSE 'kept' END AS label
      FROM w
    )
    SELECT reg_host,
           CAST(COUNT(*) AS BIGINT) AS n_pages,
           CAST(COUNT(*) FILTER (label = 'boiler') AS BIGINT) AS drop_boiler,
           CAST(COUNT(*) FILTER (label = 'urldup') AS BIGINT) AS drop_urldup,
           CAST(COUNT(*) FILTER (label = 'quality') AS BIGINT) AS drop_quality,
           CAST(COUNT(*) FILTER (label = 'kept') AS BIGINT) AS n_kept,
           CAST(COALESCE(SUM(n_tok) FILTER (label = 'kept'), 0) AS BIGINT)
             AS kept_tokens
    FROM lab GROUP BY 1
    """


@register(
    "pp03_web_curation_pipeline",
    _pp03_oracle(),
    "the web-curation front end as ONE plan: synthetic crawl pages -> "
    "HTML boilerplate extraction -> boilerplate-fraction gate -> "
    "canonical-URL dedup (first-crawled wins; collisions are rule-made "
    "plus, past one 1260-doc raw-URL cycle, identical re-crawls) -> "
    "Gopher word-count gate on EXTRACTED text -> per-host drop/keep/token "
    "census with first-match-wins attribution",
)
def pp03_web_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from aws_data_engineering_spark.operators import web as W

    docs = load_table(spark, sf_dir, "documents")
    p = docs.select(
        "doc_id",
        W.html_wrap(F.col("doc_id"), F.col("text")).alias("html"),
        W.synth_url(F.col("doc_id"), page_seg=True).alias("url"),
    ).select(
        "doc_id",
        "url",
        F.array_join(W.html_paragraphs(F.col("html")), " ").alias("content"),
        W.html_all_text_chars(F.col("html")).alias("tc"),
    )
    toks = F.filter(F.split(F.col("content"), " "), lambda t: t != "")
    m = p.select(
        "doc_id",
        W.canonicalize_url(F.col("url")).alias("canon_url"),
        # cast BEFORE the multiply: 1e6 * an int32 char count overflows
        # int32 past ~2147 boilerplate chars (the oracle computes BIGINT)
        (
            F.lit(1_000_000)
            * (F.col("tc") - F.length(F.array_join(toks, ""))).cast("bigint")
        ).alias("boiler_chars_ppm_num"),
        F.col("tc").cast("bigint").alias("tc"),
        F.size(toks).alias("n_tok"),
    ).select(
        "doc_id",
        "canon_url",
        W.registrable_host(F.col("canon_url")).alias("reg_host"),
        F.expr("boiler_chars_ppm_num div tc").alias("ppm"),
        "n_tok",
    )
    w = m.withColumn(
        "keeper",
        F.min(
            F.when(F.col("ppm") <= _PP03_BOILER_PPM, F.col("doc_id"))
        ).over(Window.partitionBy("canon_url")),
    )
    lab = w.select(
        "reg_host",
        "n_tok",
        F.when(F.col("ppm") > _PP03_BOILER_PPM, F.lit("boiler"))
        .when(F.col("doc_id") != F.col("keeper"), F.lit("urldup"))
        .when(F.col("n_tok") < _PP03_MIN_TOKENS, F.lit("quality"))
        .otherwise(F.lit("kept"))
        .alias("label"),
    )
    kept = F.col("label") == "kept"
    return lab.groupBy("reg_host").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pages"),
        F.sum((F.col("label") == "boiler").cast("long")).cast("bigint").alias("drop_boiler"),
        F.sum((F.col("label") == "urldup").cast("long")).cast("bigint").alias("drop_urldup"),
        F.sum((F.col("label") == "quality").cast("long")).cast("bigint").alias("drop_quality"),
        F.sum(kept.cast("long")).cast("bigint").alias("n_kept"),
        F.sum(F.when(kept, F.col("n_tok")).otherwise(0)).cast("bigint").alias("kept_tokens"),
    )


# --------------------------------------------------------------------------
# pp04 — image-text pair curation gate (round 11, VERDICT r10 #5): the
# LAION-shaped composition — the one LLM-pipeline stage family pp01/pp02/
# pp03 did not yet cover. Each (caption, image) pair flows through three
# gate families in ONE plan with the pp01/pp03 FIRST-MATCH-WINS drop
# attribution: (m) REAL image decode stats — the pair's image bytes are
# synthesized and decoded through the m02 Arrow mapInPandas path, and
# pairs whose min dimension is under 6px are dropped (the LAION size
# floor); (t) caption quality — exact whitespace token count (the t02
# splitter), captions under 15 tokens dropped; (s) embedding similarity —
# the CLIP-score analog, sequential-fold cosine between the pair's text
# embedding (vec_id = doc_id) and image embedding (vec_id = doc_id XOR 1,
# the deterministic partner pairing), negative-similarity pairs dropped.
# Survivor statistics carry all three families: token mass, pixel mass,
# and integer-quantized similarity / channel-mean sums (floor-quantized
# per row BEFORE the aggregate, so the sums are order-free integers).
#
# Oracle: the fake-image pixels are a closed form of doc_id (m02's
# contract), the splitter is the t02 SQL twin, and DuckDB's
# list_cosine_similarity is the same IEEE fold as the Spark-side cosine —
# so the whole multimodal waterfall is hash-checked, decode path
# included. Scale: decode is one Arrow map stage over the pair set (blobs
# die inside the worker), the embedding joins are equi-joins on vec_id,
# and the census shuffles only (lang)-keyed partials — linear in pairs.
# --------------------------------------------------------------------------
_PP04_MIN_DIM = 6
_PP04_MIN_TOKENS = 15


def _pp04_oracle() -> str:
    return f"""
    WITH p AS (
      SELECT d.doc_id, d.lang,
             CAST(4 + d.doc_id % 16 AS INT) AS w,
             CAST(4 + d.doc_id % 12 AS INT) AS h,
             LEN({T.tokens_sql('d.text')}) AS n_tok,
             list_cosine_similarity(CAST(et.embedding AS DOUBLE[]),
                                    CAST(ei.embedding AS DOUBLE[])) AS sim
      FROM documents d
      JOIN embeddings et ON d.doc_id = et.vec_id
      JOIN embeddings ei ON xor(d.doc_id, 1) = ei.vec_id
    ), f AS (
      SELECT lang, n_tok, sim,
             CAST(w AS BIGINT) * h AS n_px,
             CAST(list_aggregate(
                    [CAST((doc_id + k) * 31 % 256 AS DOUBLE)
                     FOR k IN generate_series(0, w * h - 1)],
                    'sum') AS DOUBLE) / (w * h) AS mean_px,
             CASE WHEN LEAST(w, h) < {_PP04_MIN_DIM} THEN 'img_small'
                  WHEN n_tok < {_PP04_MIN_TOKENS} THEN 'caption_short'
                  WHEN sim < CAST(0.0 AS DOUBLE) THEN 'low_sim'
                  ELSE 'kept' END AS label
      FROM p
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(*) FILTER (label = 'img_small') AS BIGINT)
             AS drop_img_small,
           CAST(COUNT(*) FILTER (label = 'caption_short') AS BIGINT)
             AS drop_caption,
           CAST(COUNT(*) FILTER (label = 'low_sim') AS BIGINT) AS drop_low_sim,
           CAST(COUNT(*) FILTER (label = 'kept') AS BIGINT) AS n_kept,
           CAST(COALESCE(SUM(n_tok) FILTER (label = 'kept'), 0) AS BIGINT)
             AS kept_tokens,
           CAST(COALESCE(SUM(n_px) FILTER (label = 'kept'), 0) AS BIGINT)
             AS kept_pixels,
           CAST(COALESCE(SUM(CAST(FLOOR(sim * 10000) AS BIGINT))
                         FILTER (label = 'kept'), 0) AS BIGINT) AS kept_sim_e4,
           CAST(COALESCE(SUM(CAST(FLOOR(mean_px * 100) AS BIGINT))
                         FILTER (label = 'kept'), 0) AS BIGINT)
             AS kept_meanpx_e2
    FROM f GROUP BY 1
    """


@register(
    "pp04_image_text_curation",
    _pp04_oracle(),
    "LAION-shaped image-text pair curation as ONE plan: real image decode "
    "stats (m02 Arrow path) -> min-dimension gate -> caption token-count "
    "gate (t02 splitter) -> embedding-cosine CLIP-score gate (text vs "
    "image embedding, XOR-partner pairing) -> per-lang keep/drop census "
    "with first-match-wins attribution and integer-quantized survivor "
    "stats across all three gate families",
)
def pp04_image_text_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_data_engineering_spark.operators import multimodal as M

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    emb = load_table(spark, sf_dir, "embeddings")
    et = emb.select(
        F.col("vec_id").alias("t_id"),
        F.col("embedding").cast("array<double>").alias("t_emb"),
    )
    ei = emb.select(
        F.col("vec_id").alias("i_id"),
        F.col("embedding").cast("array<double>").alias("i_emb"),
    )
    pairs = (
        docs.join(et, F.col("doc_id") == F.col("t_id"))
        .join(ei, F.expr("doc_id ^ 1") == F.col("i_id"))
        .select(
            "doc_id",
            "lang",
            T.token_count("text").alias("n_tok"),
            S.cosine(F.col("t_emb"), F.col("i_emb")).alias("sim"),
        )
    )
    # the REAL decode path: synthesize the pair's image bytes, decode via
    # the m02 Arrow kernel, join the scalar stats back (blobs never leave
    # the worker)
    stats = M.decode_images(
        M.synthesize_fake_images(pairs, "doc_id"), "id", "data", "mime"
    ).select("id", "width", "height", "n_pixels", "mean_pixel")
    m = pairs.join(stats, pairs["doc_id"] == stats["id"]).select(
        "lang",
        "n_tok",
        "sim",
        F.col("n_pixels").cast("bigint").alias("n_px"),
        "mean_pixel",
        F.when(
            F.least(F.col("width"), F.col("height")) < _PP04_MIN_DIM,
            F.lit("img_small"),
        )
        .when(F.col("n_tok") < _PP04_MIN_TOKENS, F.lit("caption_short"))
        .when(F.col("sim") < F.lit(0.0), F.lit("low_sim"))
        .otherwise(F.lit("kept"))
        .alias("label"),
    )
    kept = F.col("label") == "kept"
    return m.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.count(F.when(F.col("label") == "img_small", 1))
        .cast("bigint")
        .alias("drop_img_small"),
        F.count(F.when(F.col("label") == "caption_short", 1))
        .cast("bigint")
        .alias("drop_caption"),
        F.count(F.when(F.col("label") == "low_sim", 1))
        .cast("bigint")
        .alias("drop_low_sim"),
        F.count(F.when(kept, 1)).cast("bigint").alias("n_kept"),
        F.coalesce(F.sum(F.when(kept, F.col("n_tok"))), F.lit(0))
        .cast("bigint")
        .alias("kept_tokens"),
        F.coalesce(F.sum(F.when(kept, F.col("n_px"))), F.lit(0))
        .cast("bigint")
        .alias("kept_pixels"),
        F.coalesce(
            F.sum(F.when(kept, F.floor(F.col("sim") * 10000).cast("bigint"))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("kept_sim_e4"),
        F.coalesce(
            F.sum(
                F.when(kept, F.floor(F.col("mean_pixel") * 100).cast("bigint"))
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("kept_meanpx_e2"),
    )
