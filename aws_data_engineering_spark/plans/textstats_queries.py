"""Text-analysis queries (the t family): LM scoring, tokenizer training, retrieval stats, langid. Split out of breadth_queries.py in round 9 (mechanical move; no semantic change)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_data_engineering_spark.operators import dedup as DD
from aws_data_engineering_spark.operators import sampling as SAMP
from aws_data_engineering_spark.operators import text as T
from aws_data_engineering_spark.plans.registry import register
from aws_data_engineering_spark.sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# t22 — merge-table segmentation (the BPE apply step): text becomes a
# bracket-framed symbol stream ('<t><h><e>< ><f>...' — one '<c>' per char,
# '< >' as the word-boundary symbol no rule names), then an ORDERED merge
# table is applied as literal replaces of '<x><y>' -> '<xy>'. Adjacent
# matches share no characters, so one left-to-right replace() pass merges
# every disjoint occurrence — the standard greedy BPE-apply semantics,
# identical in Spark and DuckDB and pinned against a pure-Python model by
# test_bpe_apply_equals_model. JVM-side string expressions only: no UDF,
# shuffle only for the final symbol count.
# --------------------------------------------------------------------------
_T20_MERGES = [
    ("s", "t"),
    ("t", "h"),
    ("th", "e"),
    ("o", "r"),
    ("a", "n"),
    ("e", "y"),
    ("k", "ey"),
    ("j", "o"),
    ("i", "n"),
    ("jo", "in"),
    ("s", "p"),
    ("sp", "a"),
]


def _t20_oracle() -> str:
    # strip literal '<'/'>' before encoding, mirroring bpe_apply's
    # frame-bracket guard (no-op on the bracket-free fixture corpora)
    expr = "regexp_replace(regexp_replace(text, '[<>]', '', 'g'), '(.)', '<\\1>', 'g')"
    for a, b in _T20_MERGES:
        expr = f"replace({expr}, '<{a}><{b}>', '<{a}{b}>')"
    return f"""
    WITH s AS (
      SELECT {expr} AS s FROM documents
    ), sym AS (
      SELECT UNNEST(string_split(substr(s, 2, greatest(0, length(s) - 2)),
                                 '><')) AS symbol
      FROM s
    )
    SELECT symbol, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM sym WHERE symbol NOT IN ('', ' ')
    GROUP BY symbol ORDER BY cnt DESC, symbol LIMIT 20
    """


@register(
    "t22_bpe_merge_segment",
    _t20_oracle(),
    "BPE merge-table application as pure string expressions: bracket-framed "
    "symbol stream + ordered '<x><y>'->'<xy>' replaces (boundary-exact, "
    "standard greedy semantics, no UDF), then a top-20 symbol count",
)
def t22_bpe_merge_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    s = T.bpe_apply(F.col("text"), _T20_MERGES)
    sym = docs.select(F.explode(T.bpe_symbols(s)).alias("symbol"))
    return (
        sym.groupBy("symbol")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("symbol"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# t21 — RAG document chunking: fixed 32-token windows with stride 16
# (50% overlap), one output row per chunk with a stable md5 fingerprint.
# The chunk spine comes from sequence() + posexplode per row — purely
# columnar, no UDF, and embarrassingly row-parallel (each doc expands
# independently; no shuffle at all until a downstream consumer needs one).
# --------------------------------------------------------------------------
_T21_WIN, _T21_STRIDE = 32, 16


@register(
    "t21_doc_chunking",
    f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), s AS (
      SELECT doc_id, toks,
             UNNEST(generate_series(0, len(toks) - 1, {_T21_STRIDE})) AS start
      FROM t
    ), c AS (
      SELECT doc_id, CAST(start AS BIGINT) AS start,
             list_slice(toks, start + 1, start + {_T21_WIN}) AS chunk
      FROM s
    )
    SELECT doc_id, start // {_T21_STRIDE} AS chunk_idx, start,
           CAST(len(chunk) AS BIGINT) AS chunk_len,
           chunk[1] AS first_tok,
           substr(md5(array_to_string(chunk, ' ')), 1, 8) AS fp
    FROM c
    """,
    "RAG chunking: 32-token windows, stride 16, per-chunk md5 fingerprint — "
    "sequence()+posexplode columnar expansion, zero shuffle",
)
def t21_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.split("text", " ").alias("toks"))
    s = t.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(0), F.size("toks") - 1, F.lit(_T21_STRIDE))
        ).alias("start"),
    ).withColumn("start", F.col("start").cast("long"))
    chunk = F.slice("toks", F.col("start") + 1, _T21_WIN)
    return s.select(
        "doc_id",
        F.expr(f"CAST(start DIV {_T21_STRIDE} AS BIGINT)").alias("chunk_idx"),
        "start",
        F.size(chunk).cast("long").alias("chunk_len"),
        F.element_at("toks", (F.col("start") + 1).cast("int")).alias("first_tok"),
        F.substring(F.md5(F.concat_ws(" ", chunk)), 1, 8).alias("fp"),
    )


# --------------------------------------------------------------------------
# t23 — PMI collocation mining (the word2vec-phrases step): in-doc adjacent
# bigrams via a columnar transform (no window, no shuffle until the count),
# unigram/bigram count tables re-joined on the token — never collected to
# the driver, so an unbounded vocabulary shards across executors. PMI is
# computed in double arithmetic with identical association order on both
# engines, so even out-of-2^53 products stay bit-equal.
# --------------------------------------------------------------------------
_T23_MIN_COUNT = 5


@register(
    "t23_pmi_collocations",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), uni AS (
      SELECT u.tok, COUNT(*) AS cx
      FROM toks, LATERAL UNNEST(t) AS u(tok) GROUP BY u.tok
    ), n1 AS (
      SELECT SUM(cx) AS n_uni FROM uni
    ), big AS (
      SELECT t[i + 1] AS w1, t[i + 2] AS w2
      FROM (SELECT t, UNNEST(generate_series(0, len(t) - 2)) AS i FROM toks
            WHERE len(t) >= 2)
    ), bc AS (
      SELECT w1, w2, COUNT(*) AS cxy FROM big GROUP BY w1, w2
    ), n2 AS (
      SELECT SUM(cxy) AS n_bi FROM bc
    ), scored AS (
      SELECT bc.w1 || ' ' || bc.w2 AS bigram, CAST(bc.cxy AS BIGINT) AS cnt,
             ROUND(ln(CAST(bc.cxy AS DOUBLE) * CAST(n1.n_uni AS DOUBLE)
                      * CAST(n1.n_uni AS DOUBLE)
                      / (CAST(n2.n_bi AS DOUBLE) * CAST(u1.cx AS DOUBLE)
                         * CAST(u2.cx AS DOUBLE))), 6) AS pmi
      FROM bc
      JOIN uni u1 ON bc.w1 = u1.tok
      JOIN uni u2 ON bc.w2 = u2.tok
      CROSS JOIN n1 CROSS JOIN n2
      WHERE bc.cxy >= {_T23_MIN_COUNT}
    )
    SELECT bigram, cnt, pmi FROM scored
    ORDER BY pmi DESC, bigram LIMIT 20
    """,
    "PMI collocation mining: columnar in-doc bigrams, count tables re-joined "
    "on token (no driver-side vocab), double-arithmetic PMI with matched "
    "association order",
)
def t23_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    uni = toks.select(F.explode("t").alias("tok")).groupBy("tok").agg(
        F.count(F.lit(1)).alias("cx")
    )
    n1 = uni.agg(F.sum("cx").alias("n_uni"))
    big = (
        toks.filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - 2),
                    lambda i: F.struct(
                        F.element_at("t", i + 1).alias("w1"),
                        F.element_at("t", i + 2).alias("w2"),
                    ),
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
    )
    bc = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cxy"))
    n2 = bc.agg(F.sum("cxy").alias("n_bi"))
    u1 = uni.select(F.col("tok").alias("w1"), F.col("cx").alias("cx1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("cx").alias("cx2"))
    scored = (
        bc.filter(F.col("cxy") >= _T23_MIN_COUNT)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            F.col("cxy").alias("cnt"),
            F.round(
                F.log(
                    F.col("cxy").cast("double")
                    * F.col("n_uni").cast("double")
                    * F.col("n_uni").cast("double")
                    / (
                        F.col("n_bi").cast("double")
                        * F.col("cx1").cast("double")
                        * F.col("cx2").cast("double")
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), F.asc("bigram")).limit(20)


# --------------------------------------------------------------------------
# t24 — KWIC concordance (keyword in context): every occurrence of the
# target token with its 3-token left/right windows — the corpus-inspection
# utility behind search snippets and annotation tooling. Pure columnar
# array slicing after one posexplode; no shuffle at all (row-parallel),
# deterministic integer positions.
# --------------------------------------------------------------------------
_T24_TARGET, _T24_CTX = "spark", 3


@register(
    "t24_kwic_concordance",
    f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), hits AS (
      SELECT doc_id, toks, i
      FROM (SELECT doc_id, toks, UNNEST(toks) AS tok,
                   generate_subscripts(toks, 1) AS i FROM t)
      WHERE tok = '{_T24_TARGET}'
    )
    SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
           COALESCE(array_to_string(
             list_slice(toks, greatest(i - {_T24_CTX}, 1), i - 1), ' '), '')
             AS left_ctx,
           COALESCE(array_to_string(
             list_slice(toks, i + 1, i + {_T24_CTX}), ' '), '') AS right_ctx
    FROM hits
    """,
    "KWIC concordance: every 'spark' occurrence with 3-token left/right "
    "context — columnar array slicing, zero shuffle",
)
def t24_kwic_concordance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    c = _T24_CTX
    t = docs.select("doc_id", F.split("text", " ").alias("toks"))
    hits = t.select(
        "doc_id", "toks", F.posexplode("toks").alias("pos", "tok")
    ).filter(F.col("tok") == _T24_TARGET)
    i = F.col("pos") + 1  # 1-based, mirrors the oracle's subscripts
    return hits.select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.concat_ws(
            " ",
            F.slice(
                "toks",
                F.greatest(i - c, F.lit(1)),
                F.greatest(i - F.greatest(i - c, F.lit(1)), F.lit(0)),
            ),
        ).alias("left_ctx"),
        F.concat_ws(" ", F.slice("toks", i + 1, c)).alias("right_ctx"),
    )


# --------------------------------------------------------------------------
# t25 — Zipf fit audit: regress ln(frequency) on ln(rank) over the corpus
# token distribution; a healthy natural-language corpus shows slope near
# -1. regr_slope/regr_r2 are order-free moment aggregates (both engines
# accumulate the same sufficient statistics), and rank is deterministic
# via the (count DESC, token) total order. One token count shuffle + one
# tiny regression agg.
# --------------------------------------------------------------------------
@register(
    "t25_zipf_fit",
    """
    WITH tok AS (
      SELECT UNNEST(string_split(text, ' ')) AS token FROM documents
    ), counts AS (
      SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token
    ), ranked AS (
      SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rnk
      FROM counts
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
           ROUND(regr_slope(ln(CAST(cnt AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 4)
             AS zipf_slope,
           ROUND(regr_r2(ln(CAST(cnt AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 4)
             AS r2
    FROM ranked
    """,
    "Zipf fit: ln(freq) ~ ln(rank) regression over the token distribution "
    "(slope ~ -1 for natural language) — order-free moment aggregates, "
    "deterministic rank order",
)
def t25_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    ranked = counts.withColumn("rnk", F.row_number().over(w))
    lnc = F.log(F.col("cnt").cast("double"))
    lnr = F.log(F.col("rnk").cast("double"))
    return ranked.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.round(F.regr_slope(lnc, lnr), 4).alias("zipf_slope"),
        F.round(F.regr_r2(lnc, lnr), 4).alias("r2"),
    )


# --------------------------------------------------------------------------
# t26 — Flesch-style readability per language. Pure column expressions:
# words = non-space runs, sentences = [.!?]+ runs (clamped to >=1),
# syllable proxy = vowel-group runs. Word runs are T.WORD_RE, the negated
# contract class (a bare \S+ diverges on vertical tab). All JVM-side,
# whole-stage-codegen friendly, one shuffle for the lang groupBy.
# --------------------------------------------------------------------------
@register(
    "t26_readability_by_lang",
    rf"""
    WITH d AS (
      SELECT lang,
             len(regexp_extract_all(text, '{T.WORD_RE}')) AS words,
             GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS sentences,
             len(regexp_extract_all({T.ascii_lower_sql('text')}, '[aeiouy]+')) AS syllables
      FROM documents WHERE text IS NOT NULL
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(CAST(words AS DOUBLE)), 4) AS avg_words,
           ROUND(AVG(206.835 - 1.015 * (words * 1.0 / sentences)
                     - 84.6 * (syllables * 1.0 / words)), 4) AS avg_flesch
    FROM d WHERE words > 0 GROUP BY lang
    """,
    "Flesch-style readability score per language from word / sentence / "
    "vowel-group-run counts, all as built-in regexp column expressions",
)
def t26_readability_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "lang",
            F.size(
                F.regexp_extract_all(
                    F.col("text"), F.lit(T.WORD_RE), F.lit(0)
                )
            ).alias("words"),
            F.greatest(
                F.size(
                    F.regexp_extract_all(F.col("text"), F.lit(r"[.!?]+"), F.lit(0))
                ),
                F.lit(1),
            ).alias("sentences"),
            F.size(
                F.regexp_extract_all(
                    T.ascii_lower(F.col("text")), F.lit(r"[aeiouy]+"), F.lit(0)
                )
            ).alias("syllables"),
        )
        .filter(F.col("words") > 0)
    )
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (F.col("words") / F.col("sentences"))
        - F.lit(84.6) * (F.col("syllables") / F.col("words"))
    )
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(F.col("words").cast("double")), 4).alias("avg_words"),
        F.round(F.avg(flesch), 4).alias("avg_flesch"),
    )


# --------------------------------------------------------------------------
# t27 — character-class entropy quality signal: Shannon entropy over the
# five fixed character classes (lower/upper/digit/space/other) per doc,
# averaged per source. The class counts are integer regexp_count
# expressions and the entropy sum is a FIXED-ORDER five-term expression
# (not a group-by), so both engines execute the identical float ops —
# no summation-order drift at all. Low-entropy docs are boilerplate/
# code-dump candidates; the signal complements t02/t17's ratio rules.
# --------------------------------------------------------------------------
def _t27_oracle() -> str:
    cls = {
        "c_lower": "[a-z]",
        "c_upper": "[A-Z]",
        "c_digit": "[0-9]",
        "c_space": r"[ \t\n]",
    }
    counts = ", ".join(
        f"len(regexp_extract_all(text, '{p}')) AS {k}" for k, p in cls.items()
    )
    tot = "GREATEST(length(text), 1)"
    other = f"length(text) - (c_lower + c_upper + c_digit + c_space)"
    terms = " + ".join(
        f"(CASE WHEN {c} > 0 THEN -({c} * 1.0 / t) * ln({c} * 1.0 / t) "
        f"ELSE 0 END)"
        for c in ["c_lower", "c_upper", "c_digit", "c_space", "c_other"]
    )
    return f"""
    WITH d AS (
      SELECT source, text, {counts}, {tot} AS t FROM documents
      WHERE text IS NOT NULL AND length(text) > 0
    ), e AS (
      SELECT source, {other} AS c_other, c_lower, c_upper, c_digit, c_space,
             t
      FROM d
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG({terms}), 4) AS avg_class_entropy
    FROM e GROUP BY source
    """


@register(
    "t27_charclass_entropy",
    _t27_oracle(),
    "Shannon entropy over five fixed character classes per doc, averaged "
    "per source — fixed-order five-term float expression, zero "
    "summation-order drift; boilerplate/code-dump quality signal",
)
def t27_charclass_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & (F.length("text") > 0))
        .select(
            "source",
            F.regexp_count(F.col("text"), F.lit("[a-z]")).alias("c_lower"),
            F.regexp_count(F.col("text"), F.lit("[A-Z]")).alias("c_upper"),
            F.regexp_count(F.col("text"), F.lit("[0-9]")).alias("c_digit"),
            F.regexp_count(F.col("text"), F.lit(r"[ \t\n]")).alias("c_space"),
            F.length("text").alias("len"),
            F.greatest(F.length("text"), F.lit(1)).alias("t"),
        )
        .withColumn(
            "c_other",
            F.col("len")
            - (
                F.col("c_lower")
                + F.col("c_upper")
                + F.col("c_digit")
                + F.col("c_space")
            ),
        )
    )

    def term(c: str) -> F.Column:
        p = F.col(c) * 1.0 / F.col("t")
        return F.when(F.col(c) > 0, -p * F.log(p)).otherwise(F.lit(0.0))

    ent = (
        term("c_lower")
        + term("c_upper")
        + term("c_digit")
        + term("c_space")
        + term("c_other")
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(ent), 4).alias("avg_class_entropy"),
    )


# --------------------------------------------------------------------------
# t28 — count-min sketch frequency estimation, bit-exact: depth 4 × width
# 256 cell table from engine-portable md5 bucketing (operators.sampling.
# hash_bucket / bucket_sql — the same portable-hash spine as p01's
# splits), estimates for the top-20 tokens as min-over-rows of their
# cells. The sketch property (estimate >= exact, overcount >= 0) is
# visible in the output columns. Scale: the cell table is a FIXED 1024
# rows no matter the corpus — sketch cells, not token rows, cross the
# final shuffle, and the estimate lookup is an equi-join on (row, bucket).
# --------------------------------------------------------------------------
_T28_DEPTH, _T28_TOPK = 4, 20


def _t28_oracle() -> str:
    # shared with the streaming twin st15 — see text.cms_report_oracle_sql
    return T.cms_report_oracle_sql(depth=_T28_DEPTH, topk=_T28_TOPK)


@register(
    "t28_count_min_sketch",
    _t28_oracle(),
    "count-min sketch (depth 4 × width 256) token-frequency estimation "
    "with engine-portable md5 bucketing — fixed 1024-cell table crosses "
    "the shuffle, top-20 estimates vs exact counts, overcount >= 0",
)
def t28_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
    )
    tc = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    # cells + report from the one shared CMS definition (st15's streaming
    # twin and the per-batch partial sink use the same helpers)
    return T.cms_report(tc, T.cms_cells(tc, _T28_DEPTH), _T28_DEPTH, _T28_TOPK)


# --------------------------------------------------------------------------
# t29 — BPE merge LEARNING (Sennrich et al. 2016), completing the tokenizer
# story: t22 applies a merge table, t29 learns one. Six rounds of
# (adjacent-pair count, word boundary excluded) -> (argmax, count DESC /
# lexicographic tiebreak) -> (corpus-wide merge), unrolled with zero
# driver-side state: each round's winner is a 1-row aggregate
# broadcast-crossJoined back so the next replace pattern is built from
# Columns, and each round's merged stream (and 1-row winner) is
# localCheckpoint-ed so k merges really cost O(k) corpus scans + k tiny
# shuffles — without the checkpoint every argmax/union branch re-derives
# the whole replace chain (O(k^2) scans; ADVICE r04). The distributed BPE
# recipe at any scale. Oracle un-rolls the same rounds as chained CTEs
# with CROSS JOIN-built replace patterns.
# --------------------------------------------------------------------------
_T29_ROUNDS = 6


@register(
    "t29_bpe_merge_learning",
    T.bpe_learn_oracle_sql(rounds=_T29_ROUNDS),
    "BPE merge-table learning: k rounds of pair-count/argmax/merge as one "
    "unrolled plan (1-row broadcast winners, Column-built replace "
    "patterns, per-round checkpoints so k merges = O(k) corpus scans, no "
    "driver state) — the Sennrich algorithm Spark-first. NOTE: "
    "construction runs jobs eagerly (checkpoint materialization) and "
    "returns a checkpointed k-row result; intermediates are unpersisted "
    "before returning. '<'/'>' are stripped (audit-grade, lossy on "
    "HTML-heavy corpora — documented in bpe_learn)",
)
def t29_bpe_merge_learning(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.bpe_learn(docs, "text", rounds=_T29_ROUNDS)


# --------------------------------------------------------------------------
# t30 — BM25 retrieval for a fixed query over the corpus: the classic
# sparse-retrieval scorer (Robertson & Zaragoza 2009) the dense-retrieval
# operators (s01/s02/s06..) are usually hybridized with. Fixed query terms
# make the whole thing scan-local: per-term tf and doc length are
# higher-order-function expressions (no explode), corpus stats are one
# 1-row broadcast aggregate, and the top-10 is a TakeOrderedAndProject —
# zero data shuffle at any corpus size. Scores are bit-identical to the
# oracle (same literal arithmetic order, ln parity as t15/t16), rounded
# only at the output edge.
# --------------------------------------------------------------------------
_T30_TERMS = ("spark", "merge", "window")
_T30_K = 10


@register(
    "t30_bm25_topk",
    T.bm25_oracle_sql(terms=_T30_TERMS, k=_T30_K),
    "BM25 top-10 for a fixed 3-term query: HOF tf/dl in the scan stage, "
    "1-row broadcast corpus stats, TakeOrdered top-k — shuffle-free sparse "
    "retrieval",
)
def t30_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    scored = T.bm25_scores(docs, "doc_id", "text", terms=_T30_TERMS)
    top = scored.orderBy(F.desc("bm25"), F.asc("id")).limit(_T30_K)
    w = Window.orderBy(F.desc("bm25"), F.asc("id"))
    return top.select(
        "id",
        F.round("bm25", 6).alias("bm25"),
        F.row_number().over(w).cast("int").alias("rnk"),
    )


# --------------------------------------------------------------------------
# t31 — interpolated Kneser-Ney bigram LM (round-6): the smoothing real
# LM-quality filters (CCNet/KenLM lineage) actually use, upgrading t18's
# add-k. Absolute discount D=0.75 with the continuation-probability
# back-off: P(w2|w1) = max(c12-D,0)/c1 + (D*N1+(w1,.)/c1) * N1+(.,w2)/B
# where N1+ are distinct-bigram-type counts and B the total type count.
# All five statistics are partial-agg groupBys over the bigram table,
# re-joined on prefix/suffix (never a driver-side LM); B rides a 1-task
# window over the vocab-bounded suffix table. Both engines evaluate the
# probability in the same literal order; per-doc cross-entropies round at
# the final source-level aggregate only (t18's proven shape).
# --------------------------------------------------------------------------
@register(
    "t31_kneser_ney_bigram",
    rf"""
    WITH toks AS (
      SELECT doc_id, source,
             list_filter({T.tokens_sql(T.ascii_lower_sql('text'))},
                         x -> x <> '') AS t
      FROM documents
    ), bg AS (
      SELECT doc_id, source,
             unnest([{{'p': t[i], 's': t[i+1]}}
                     FOR i IN generate_series(1, len(t) - 1)], recursive := true)
      FROM toks WHERE len(t) >= 2
    ), bgc AS (
      SELECT p, s, COUNT(*) AS cnt2 FROM bg GROUP BY p, s
    ), pref AS (
      SELECT p, SUM(cnt2) AS tot1, COUNT(*) AS n_follow FROM bgc GROUP BY p
    ), succ AS (
      SELECT s, COUNT(*) AS n_prec, SUM(COUNT(*)) OVER () AS n_types
      FROM bgc GROUP BY s
    ), scored AS (
      SELECT bg.doc_id, bg.source,
             -ln(
               (greatest(bgc.cnt2 - 0.75, 0.0) / pref.tot1)
               + ((0.75 * pref.n_follow) / pref.tot1)
                 * (CAST(succ.n_prec AS DOUBLE) / succ.n_types)
             ) AS nll
      FROM bg
      JOIN bgc ON bg.p = bgc.p AND bg.s = bgc.s
      JOIN pref ON bg.p = pref.p
      JOIN succ ON bg.s = succ.s
    ), doc_scores AS (
      SELECT doc_id, source, AVG(nll) AS ce FROM scored GROUP BY doc_id, source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(ce), 3) AS avg_kn_cross_entropy,
           ROUND(MIN(ce), 3) AS min_kn_cross_entropy,
           ROUND(MAX(ce), 3) AS max_kn_cross_entropy
    FROM doc_scores GROUP BY source
    """,
    "interpolated Kneser-Ney bigram cross-entropy per source (D=0.75, "
    "continuation-probability back-off from distinct-type counts): the "
    "real LM-quality-filter smoothing; five partial-agg count tables "
    "re-joined on the gram, no driver-side state",
)
def t31_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.filter(
            T.tokens(T.ascii_lower("text")), lambda x: x != ""
        ).alias("t"),
    )
    bg = toks.filter(F.size("t") >= 2).select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - 2),
                lambda i: F.struct(
                    F.element_at("t", i + 1).alias("p"),
                    F.element_at("t", i + 2).alias("s"),
                ),
            )
        ).alias("g"),
    ).select("doc_id", "source", "g.p", "g.s")
    bgc = bg.groupBy("p", "s").agg(F.count(F.lit(1)).alias("cnt2"))
    pref = bgc.groupBy("p").agg(
        F.sum("cnt2").alias("tot1"), F.count(F.lit(1)).alias("n_follow")
    )
    succ = bgc.groupBy("s").agg(F.count(F.lit(1)).alias("n_prec"))
    succ = succ.withColumn(
        "n_types", F.sum("n_prec").over(Window.partitionBy(F.lit(1)))
    )
    p_kn = (
        F.greatest(F.col("cnt2") - F.lit(0.75), F.lit(0.0)) / F.col("tot1")
    ) + ((F.lit(0.75) * F.col("n_follow")) / F.col("tot1")) * (
        F.col("n_prec").cast("double") / F.col("n_types")
    )
    scored = (
        bg.join(bgc, ["p", "s"])
        .join(pref, "p")
        .join(succ, "s")
        .select("doc_id", "source", (-F.log(p_kn)).alias("nll"))
    )
    doc_scores = scored.groupBy("doc_id", "source").agg(F.avg("nll").alias("ce"))
    return doc_scores.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("ce"), 3).alias("avg_kn_cross_entropy"),
        F.round(F.min("ce"), 3).alias("min_kn_cross_entropy"),
        F.round(F.max("ce"), 3).alias("max_kn_cross_entropy"),
    )


# --------------------------------------------------------------------------
# t32 — Cavnar–Trenkle character-n-gram language identification (round-6d):
# the classic rank-profile langid algorithm (Cavnar & Trenkle 1994), the
# standard pre-neural language filter in web-corpus pipelines. Train: per
# labeled lang, char-trigram counts -> top-K profile ranked by (count DESC,
# gram ASC). Classify: each doc's own top-K trigram profile scored against
# every lang profile by out-of-place distance (|doc_rank - lang_rank|,
# missing gram -> K penalty); predicted lang = argmin with lang tie-break.
# Output is the actual x predicted confusion matrix. Scale: lang profiles
# are a bounded |langs| x K broadcast; the only corpus-sized stages are the
# trigram explode (map-side) and the per-doc top-K window (keyed by doc).
# --------------------------------------------------------------------------
_T32_K = 40


def _t32_oracle() -> str:
    return f"""
    WITH norm AS (
      SELECT doc_id, lang,
             {T.normalize_sql('text')} AS s
      FROM documents WHERE text IS NOT NULL
    ), grams AS (
      SELECT doc_id, lang, substr(s, g, 3) AS gram
      FROM (SELECT doc_id, lang, s,
                   UNNEST(generate_series(1, len(s) - 2)) AS g
            FROM norm WHERE len(s) >= 3)
    ), lang_cnt AS (
      SELECT lang, gram, COUNT(*) AS cnt FROM grams GROUP BY lang, gram
    ), lang_prof AS (
      SELECT lang, gram,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY cnt DESC, gram) AS lrank
      FROM lang_cnt
      QUALIFY lrank <= {_T32_K}
    ), doc_cnt AS (
      SELECT doc_id, gram, COUNT(*) AS cnt FROM grams GROUP BY doc_id, gram
    ), doc_prof AS (
      SELECT doc_id, gram,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY cnt DESC, gram) AS drank
      FROM doc_cnt
      QUALIFY drank <= {_T32_K}
    ), langs AS (
      -- candidates come from the SAME filtered set the profiles train on
      -- (not raw documents): a lang appearing only on null-text docs must
      -- not be a candidate, and a NULL lang never is (NULLS FIRST/LAST
      -- tie-break divergence) — review r6d findings
      SELECT DISTINCT lang AS cand FROM norm WHERE lang IS NOT NULL
    ), dist AS (
      SELECT d.doc_id, l.cand,
             SUM(COALESCE(ABS(d.drank - p.lrank), {_T32_K})) AS oop
      FROM doc_prof d
      CROSS JOIN langs l
      LEFT JOIN lang_prof p ON p.lang = l.cand AND p.gram = d.gram
      GROUP BY d.doc_id, l.cand
    ), pred AS (
      SELECT doc_id, cand AS predicted,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY oop, cand) AS rn
      FROM dist
      QUALIFY rn = 1
    )
    SELECT n.lang AS actual_lang, p.predicted AS predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM norm n JOIN pred p ON n.doc_id = p.doc_id
    GROUP BY 1, 2
    """


@register(
    "t32_langid_ngram_profile",
    _t32_oracle(),
    "Cavnar-Trenkle char-trigram language ID: per-lang top-40 rank "
    "profiles (bounded broadcast) scored against per-doc profiles by "
    "out-of-place distance, argmin prediction, actual x predicted "
    "confusion matrix — exact integer distances, deterministic ranks",
)
def t32_langid_ngram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    norm = docs.select(
        "doc_id",
        "lang",
        T.normalize_text("text").alias("s"),
    )
    grams = (
        norm.filter(F.length("s") >= 3)
        .select(
            "doc_id",
            "lang",
            F.explode(F.sequence(F.lit(1), F.length("s") - 2)).alias("g"),
            "s",
        )
        .select("doc_id", "lang", F.col("s").substr(F.col("g"), F.lit(3)).alias("gram"))
    )
    # Two independent explode scans, deliberately NOT materialized: the
    # doc-grain census is corpus-sized (docs x distinct grams), and an
    # eager localCheckpoint of it OOMs at the 100x corpus where two lazy
    # scans run fine — recompute beats persist for map-stage lineage
    # (measured; the d11/bloom checkpoint pattern applies to expensive
    # PYTHON fan-outs, not to codegen'd explodes).
    lang_prof = (
        grams.groupBy("lang", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "lrank",
            F.row_number().over(
                Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("gram"))
            ),
        )
        .filter(F.col("lrank") <= _T32_K)
        .select("lang", "gram", "lrank")
    )
    doc_prof = (
        grams.groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "drank",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(F.desc("cnt"), F.asc("gram"))
            ),
        )
        .filter(F.col("drank") <= _T32_K)
        .select("doc_id", "gram", "drank")
    )
    # same filtered candidate set as the oracle's langs CTE (see comment
    # there): derived from norm, NULL langs excluded
    langs = (
        norm.filter(F.col("lang").isNotNull())
        .select(F.col("lang").alias("cand"))
        .distinct()
    )
    dist = (
        doc_prof.crossJoin(F.broadcast(langs))
        .join(
            F.broadcast(lang_prof.withColumnRenamed("lang", "cand")),
            ["cand", "gram"],
            "left",
        )
        .groupBy("doc_id", "cand")
        .agg(
            F.sum(
                F.coalesce(
                    F.abs(F.col("drank") - F.col("lrank")), F.lit(_T32_K)
                )
            ).alias("oop")
        )
    )
    pred = (
        dist.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(F.asc("oop"), F.asc("cand"))
            ),
        )
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("cand").alias("predicted"))
    )
    return (
        norm.select("doc_id", "lang")
        .join(pred, "doc_id")
        .groupBy(
            F.col("lang").alias("actual_lang"),
            F.col("predicted").alias("predicted_lang"),
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# --------------------------------------------------------------------------
# t33 — Heaps'-law vocabulary-growth fit (round-6d): V(n) ~ K * n^beta,
# the standard sublinear vocab-growth law (the planning number behind
# "how big must the tokenizer vocab be at 10x the corpus"). Docs are
# ordered by md5(doc_id) — a deterministic, engine-portable shuffle —
# and the cumulative (tokens_seen, vocab_size) curve is ln-ln regressed.
# "Cumulative distinct" is rewritten scalably: each token collapses to its
# FIRST-SEEN doc position (one groupBy), so the curve needs only running
# SUMs. The running sums themselves use a TWO-PHASE prefix sum — per-range
# bucket partials + broadcast bucket offsets + within-bucket windows — so
# no global single-task window appears anywhere (the 1000-executor form of
# q24/q93's running totals; the oracle uses the naive global window, so
# the hash match PROVES two-phase == global). regr_* moments are order-
# free; 4dp rounding absorbs summation ulp drift (the t25 idiom).
# --------------------------------------------------------------------------
_T33_BUCKETS = 64


def _t33_oracle() -> str:
    return """
    WITH docs AS (
      SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS k,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
    ), ordered AS (
      SELECT doc_id, toks, len(toks) AS n_toks,
             ROW_NUMBER() OVER (ORDER BY k) AS doc_order
      FROM docs
    ), tok_pos AS (
      SELECT UNNEST(toks) AS token, doc_order FROM ordered
    ), first_seen AS (
      SELECT token, MIN(doc_order) AS fs FROM tok_pos GROUP BY token
    ), new_types AS (
      SELECT fs AS doc_order, COUNT(*) AS nt FROM first_seen GROUP BY fs
    ), series AS (
      SELECT o.doc_order, o.n_toks, COALESCE(n.nt, 0) AS nt
      FROM ordered o LEFT JOIN new_types n ON o.doc_order = n.doc_order
    ), curve AS (
      SELECT doc_order,
             SUM(n_toks) OVER (ORDER BY doc_order
                               ROWS UNBOUNDED PRECEDING) AS cum_toks,
             SUM(nt) OVER (ORDER BY doc_order
                           ROWS UNBOUNDED PRECEDING) AS cum_vocab
      FROM series
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MAX(cum_toks) AS BIGINT) AS total_tokens,
           CAST(MAX(cum_vocab) AS BIGINT) AS vocab_size,
           ROUND(regr_slope(ln(CAST(cum_vocab AS DOUBLE)),
                            ln(CAST(cum_toks AS DOUBLE))), 4) AS heaps_beta,
           ROUND(regr_intercept(ln(CAST(cum_vocab AS DOUBLE)),
                                ln(CAST(cum_toks AS DOUBLE))), 4) AS heaps_lnk,
           ROUND(regr_r2(ln(CAST(cum_vocab AS DOUBLE)),
                         ln(CAST(cum_toks AS DOUBLE))), 4) AS r2
    FROM curve WHERE cum_toks >= 1 AND cum_vocab >= 1
    """


@register(
    "t33_heaps_law_fit",
    _t33_oracle(),
    "Heaps'-law vocab-growth fit V(n) ~ K*n^beta over an md5-shuffled doc "
    "order: first-seen collapse turns cumulative-distinct into running "
    "sums, computed via a TWO-PHASE prefix sum (bucket partials + "
    "broadcast offsets — no global window task); ln-ln regr_* fit, 4dp",
)
def t33_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL doc_id filtered on BOTH sides: md5(NULL) is NULL, so the row
    # would silently drop at the Spark bucket join while DuckDB's
    # ROW_NUMBER keeps it ordered last (review r6d finding)
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & F.col("doc_id").isNotNull())
        .select(
            "doc_id",
            F.md5(F.col("doc_id").cast("string")).alias("k"),
            F.filter(F.split("text", " "), lambda x: x != "").alias("toks"),
        )
    )
    # ---- global doc_order WITHOUT a global window: md5-prefix range
    # buckets give a deterministic partition of the md5 ORDER (hex sorts
    # lexicographically), ranks are computed within-bucket, and the
    # 256-row bucket-offset table is broadcast back.
    withb = docs.withColumn("b", F.substring("k", 1, 2))
    wrank = F.row_number().over(Window.partitionBy("b").orderBy("k"))
    ranked = withb.withColumn("wr", wrank).withColumn(
        "n_toks", F.size("toks").cast("bigint")
    )
    bstats = ranked.groupBy("b").agg(F.count(F.lit(1)).alias("bn"))
    woff = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    boff = bstats.select(
        "b", F.coalesce(F.sum("bn").over(woff), F.lit(0)).alias("off")
    )
    ordered = ranked.join(F.broadcast(boff), "b").select(
        "doc_id",
        "toks",
        "n_toks",
        (F.col("off") + F.col("wr")).cast("bigint").alias("doc_order"),
    )
    tok_pos = ordered.select(
        F.explode("toks").alias("token"), "doc_order"
    )
    first_seen = tok_pos.groupBy("token").agg(F.min("doc_order").alias("fs"))
    new_types = first_seen.groupBy(F.col("fs").alias("doc_order")).agg(
        F.count(F.lit(1)).alias("nt")
    )
    series = (
        ordered.select("doc_order", "n_toks")
        .join(new_types, "doc_order", "left")
        .withColumn("nt", F.coalesce(F.col("nt"), F.lit(0)).cast("bigint"))
    )
    # ---- two-phase prefix sums over doc_order (range buckets of 64):
    # per-bucket partial sums -> broadcast cumulative offsets -> within-
    # bucket running windows. Identical to the global window by
    # construction; the oracle computes the global form.
    series = series.withColumn(
        "pb", F.floor((F.col("doc_order") - 1) / _T33_BUCKETS).cast("bigint")
    )
    parts = series.groupBy("pb").agg(
        F.sum("n_toks").alias("pt"), F.sum("nt").alias("pv")
    )
    wpoff = Window.orderBy("pb").rowsBetween(Window.unboundedPreceding, -1)
    poffs = parts.select(
        "pb",
        F.coalesce(F.sum("pt").over(wpoff), F.lit(0)).alias("off_toks"),
        F.coalesce(F.sum("pv").over(wpoff), F.lit(0)).alias("off_vocab"),
    )
    wwin = Window.partitionBy("pb").orderBy("doc_order").rowsBetween(
        Window.unboundedPreceding, 0
    )
    curve = series.join(F.broadcast(poffs), "pb").select(
        "doc_order",
        (F.col("off_toks") + F.sum("n_toks").over(wwin)).alias("cum_toks"),
        (F.col("off_vocab") + F.sum("nt").over(wwin)).alias("cum_vocab"),
    )
    pts = curve.filter((F.col("cum_toks") >= 1) & (F.col("cum_vocab") >= 1))
    lnv = F.log(F.col("cum_vocab").cast("double"))
    lnt = F.log(F.col("cum_toks").cast("double"))
    return pts.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("cum_toks").cast("bigint").alias("total_tokens"),
        F.max("cum_vocab").cast("bigint").alias("vocab_size"),
        F.round(F.regr_slope(lnv, lnt), 4).alias("heaps_beta"),
        F.round(F.regr_intercept(lnv, lnt), 4).alias("heaps_lnk"),
        F.round(F.regr_r2(lnv, lnt), 4).alias("r2"),
    )


# --------------------------------------------------------------------------
# t34 — pairwise Jensen-Shannon divergence between language subcorpora
# (round-6d): the corpus-mixture diagnostic — how far apart are the
# unigram distributions of each pair of langs (0 = identical, ln 2 =
# disjoint support). Every KL term's ln() argument is the exact integer
# ratio 2*c_a*N_b / (c_a*N_b + c_b*N_a), so both engines feed ln bit-
# identical doubles (the t15/t20 integer-products discipline); each
# token's contribution is FLOOR-quantized to integer picounits and summed
# exactly, so summation order can't move the hash. Scale: count tables
# are (lang x vocab)-bounded; the pair scaffold is |langs|^2/2 rows cross
# the vocab — never corpus rows. NOTE: the integer products c*N must stay
# under 2^53 for double exactness; at larger scales compute the ratio in
# DECIMAL(38,0) first (same plan shape).
# --------------------------------------------------------------------------
def _t34_oracle() -> str:
    return """
    WITH tok AS (
      SELECT lang, UNNEST(list_filter(string_split(text, ' '), x -> x <> '')) AS token
      FROM documents WHERE text IS NOT NULL
    ), cnt AS (
      SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2
    ), tot AS (
      SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY lang
    ), vocab AS (
      SELECT DISTINCT token FROM cnt
    ), pairs AS (
      SELECT a.lang AS lang_a, a.n AS na, b.lang AS lang_b, b.n AS nb
      FROM tot a JOIN tot b ON a.lang < b.lang
    ), scaffold AS (
      SELECT p.lang_a, p.lang_b, p.na, p.nb, v.token,
             COALESCE(ca.c, 0) AS ca, COALESCE(cb.c, 0) AS cb
      FROM pairs p
      CROSS JOIN vocab v
      LEFT JOIN cnt ca ON ca.lang = p.lang_a AND ca.token = v.token
      LEFT JOIN cnt cb ON cb.lang = p.lang_b AND cb.token = v.token
      WHERE COALESCE(ca.c, 0) + COALESCE(cb.c, 0) > 0
    ), terms AS (
      SELECT lang_a, lang_b,
             CAST(FLOOR(1e12 * 0.5 * (
               (CASE WHEN ca > 0 THEN
                  (CAST(ca AS DOUBLE) / na) *
                  ln((2.0 * ca * nb) / (CAST(ca * nb + cb * na AS DOUBLE)))
                ELSE 0.0 END) +
               (CASE WHEN cb > 0 THEN
                  (CAST(cb AS DOUBLE) / nb) *
                  ln((2.0 * cb * na) / (CAST(ca * nb + cb * na AS DOUBLE)))
                ELSE 0.0 END))) AS BIGINT) AS q
      FROM scaffold
    )
    SELECT lang_a, lang_b,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(q) AS BIGINT) AS jsd_picounits,
           ROUND(SUM(q) / 1e12, 6) AS jsd_nats
    FROM terms GROUP BY lang_a, lang_b
    """


@register(
    "t34_lang_jsd_matrix",
    _t34_oracle(),
    "pairwise Jensen-Shannon divergence between language subcorpora: "
    "unigram KL terms with exact-integer-ratio ln() inputs, FLOOR-"
    "quantized to picounits and summed exactly (order-free) — the "
    "corpus-mixture divergence diagnostic, vocab-bounded tables only",
)
def t34_lang_jsd_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "lang",
            F.explode(
                F.filter(F.split("text", " "), lambda x: x != "")
            ).alias("token"),
        )
    )
    cnt = tok.groupBy("lang", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot = cnt.groupBy("lang").agg(F.sum("c").cast("bigint").alias("n"))
    vocab = cnt.select("token").distinct()
    a = tot.select(
        F.col("lang").alias("lang_a"), F.col("n").alias("na")
    )
    b = tot.select(
        F.col("lang").alias("lang_b"), F.col("n").alias("nb")
    )
    pairs = a.join(b, F.col("lang_a") < F.col("lang_b"))
    ca = cnt.select(
        F.col("lang").alias("lang_a"), "token", F.col("c").alias("ca")
    )
    cb = cnt.select(
        F.col("lang").alias("lang_b"), "token", F.col("c").alias("cb")
    )
    scaffold = (
        pairs.crossJoin(F.broadcast(vocab))
        .join(F.broadcast(ca), ["lang_a", "token"], "left")
        .join(F.broadcast(cb), ["lang_b", "token"], "left")
        .withColumn("ca", F.coalesce(F.col("ca"), F.lit(0)))
        .withColumn("cb", F.coalesce(F.col("cb"), F.lit(0)))
        .filter(F.col("ca") + F.col("cb") > 0)
    )
    denom = (F.col("ca") * F.col("nb") + F.col("cb") * F.col("na")).cast(
        "double"
    )
    term_a = F.when(
        F.col("ca") > 0,
        (F.col("ca").cast("double") / F.col("na"))
        * F.log((F.lit(2.0) * F.col("ca") * F.col("nb")) / denom),
    ).otherwise(F.lit(0.0))
    term_b = F.when(
        F.col("cb") > 0,
        (F.col("cb").cast("double") / F.col("nb"))
        * F.log((F.lit(2.0) * F.col("cb") * F.col("na")) / denom),
    ).otherwise(F.lit(0.0))
    q = F.floor(F.lit(1e12) * F.lit(0.5) * (term_a + term_b)).cast("bigint")
    return (
        scaffold.withColumn("q", q)
        .groupBy("lang_a", "lang_b")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("q").cast("bigint").alias("jsd_picounits"),
            F.round(F.sum("q") / F.lit(1e12), 6).alias("jsd_nats"),
        )
    )


# --------------------------------------------------------------------------
# t35 — hashed-n-gram quality-classifier inference (VERDICT r07 #6): the
# fastText-style linear scorer every production quality filter runs
# (Joulin et al. 2016): score(doc) = Σ_grams w[h(gram) mod B] over word
# unigrams+bigrams, keep iff score ≥ 0 (σ is monotone, so thresholding the
# raw sum IS thresholding the sigmoid — and keeps the oracle exact-integer).
# The weight table is deterministic and engine-portable: bucket = the t28
# md5 trick (hash_bucket/bucket_sql, B=256), weight = a fixed integer mix
# ((bucket·2654435761) mod 2001 − 1000 ∈ [-1000,1000]) computed INLINE from
# the bucket — no weight table to join, no floats anywhere until nothing.
#
# Scale: shuffle-free like t17 — tokenize/gram/hash/score are all
# scan-stage expressions (per-doc HOF over the token list), and the only
# exchange is the final (source, keep) census partial-agg over a bounded
# key space. Linear in corpus bytes, map-parallel at 100 TB. A learned
# (non-toy) model drops in by replacing the weight expression with a
# broadcast bucket→weight table join — same plan shape.
# --------------------------------------------------------------------------
_T35_SALT = "t35-qc-v1"
_T35_MIX = 2654435761  # Knuth multiplicative constant
_T35_RANGE = 2001  # weights in [-1000, 1000]


def _t35_weight_spark(gram):
    """Integer weight for one gram Column (HOF-lambda safe)."""
    b = SAMP.hash_bucket(gram, _T35_SALT)
    return (b.cast("bigint") * F.lit(_T35_MIX)) % F.lit(_T35_RANGE) - F.lit(1000)


def _t35_weight_sql(gram_expr: str) -> str:
    return (
        f"((CAST({SAMP.bucket_sql(gram_expr, _T35_SALT)} AS BIGINT)"
        f" * {_T35_MIX}) % {_T35_RANGE}) - 1000"
    )


@register(
    "t35_hashed_ngram_quality",
    f"""
    WITH base AS (
      SELECT source,
             {T.tokens_sql(T.ascii_lower_sql('text'))} AS t
      FROM documents WHERE text IS NOT NULL
    ), grams AS (
      SELECT source,
             t || [t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))] AS g
      FROM base
    ), scored AS (
      SELECT source,
             len(g) AS n_grams,
             CAST(list_aggregate([{_t35_weight_sql('x')} FOR x IN g], 'sum')
                  AS BIGINT) AS score_units
      FROM grams
    )
    SELECT source,
           CASE WHEN score_units >= 0 THEN 1 ELSE 0 END AS keep,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(score_units) AS BIGINT) AS sum_score_units,
           CAST(SUM(n_grams) AS BIGINT) AS sum_grams
    FROM scored GROUP BY source, keep
    """,
    "fastText-style hashed unigram+bigram linear quality scorer with a "
    "deterministic md5-bucket weight table — shuffle-free scan-stage "
    "scoring, exact-integer keep/drop census per source",
)
def t35_hashed_ngram_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = T.tokens(T.ascii_lower("text"))
    n1 = F.greatest(F.size(toks) - F.lit(1), F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, n1),
        F.slice(toks, 2, n1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    grams = F.concat(toks, bigrams)
    score = F.aggregate(
        F.transform(grams, _t35_weight_spark),
        F.lit(0).cast("bigint"),
        lambda acc, w: acc + w,
    )
    scored = docs.select(
        "source",
        F.size(grams).cast("bigint").alias("n_grams"),
        score.alias("score_units"),
    )
    return scored.groupBy(
        "source",
        F.when(F.col("score_units") >= 0, F.lit(1)).otherwise(F.lit(0)).alias("keep"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("score_units").alias("sum_score_units"),
        F.sum("n_grams").alias("sum_grams"),
    )


# --------------------------------------------------------------------------
# t36 — cross-document n-gram novelty (round 8): the corpus-curation curve
# that tells you when a crawl stops adding new content. Attribution rule:
# a distinct 3-gram is NOVEL in the lowest doc_id that contains it (a
# deterministic stand-in for crawl order), so a doc's novelty is the
# fraction of its distinct grams it introduced. Plan: Arrow-batched shingle
# fanout (exploded_shingles, the d05/d09 kernel) -> gram-keyed min(doc_id)
# partial agg -> big-big shuffle join back on gram -> per-doc agg ->
# bounded per-source census. Both shuffles key on the gram (the inverted-
# index shape d09/d14 already run at 100x); nothing is quadratic and no
# state ever leaves the executors.
# --------------------------------------------------------------------------
@register(
    "t36_crossdoc_ngram_novelty",
    f"""
    WITH {T.shingle_ctes_sql(3)}, ex AS (
      SELECT doc_id, UNNEST(sh) AS shingle FROM grams
    ), firsts AS (
      SELECT shingle, MIN(doc_id) AS first_id FROM ex GROUP BY shingle
    ), per_doc AS (
      SELECT e.doc_id,
             COUNT(*) AS n_grams,
             SUM(CASE WHEN e.doc_id = f.first_id THEN 1 ELSE 0 END) AS n_novel
      FROM ex e JOIN firsts f USING (shingle)
      GROUP BY e.doc_id
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_grams) AS BIGINT) AS total_grams,
           CAST(SUM(n_novel) AS BIGINT) AS novel_grams,
           CAST(FLOOR(1e6 * SUM(n_novel) / SUM(n_grams)) AS BIGINT)
             AS novelty_ppm
    FROM per_doc p JOIN documents d ON p.doc_id = d.doc_id
    GROUP BY d.source
    """,
    "cross-document 3-gram novelty census per source: a gram is novel in "
    "the lowest doc_id containing it — inverted-index min-attribution, "
    "gram-keyed shuffles only",
)
def t36_crossdoc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    ex = DD.exploded_shingles(docs, "doc_id", "text", shingle_n=3)
    firsts = ex.groupBy("shingle").agg(F.min("id").alias("first_id"))
    per_doc = (
        ex.join(firsts, "shingle")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("id") == F.col("first_id")).cast("int")).alias("n_novel"),
        )
    )
    return (
        per_doc.join(
            docs.select(F.col("doc_id").alias("id"), "source"), "id"
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_grams").cast("bigint").alias("total_grams"),
            F.sum("n_novel").cast("bigint").alias("novel_grams"),
            F.floor(
                F.lit(1e6) * F.sum("n_novel") / F.sum("n_grams")
            ).cast("bigint").alias("novelty_ppm"),
        )
    )


# --------------------------------------------------------------------------
# t37 — CCNet-style perplexity bucketing (round 8): the head/middle/tail
# tercile split CCNet (Wenzek et al. 2019) uses to stratify a web corpus
# by LM quality before sampling. The LM score is a Zipf-rank surrogate:
# each token costs bit_length(vocab_rank) — an exact-integer stand-in for
# log2(rank), which under Zipf's law tracks the unigram surprisal
# -log p(token) — so the whole pipeline (rank, per-doc milli-rate,
# per-lang tercile boundaries, bucket census) is integer arithmetic and
# hash-exact across engines, with none of log()'s cross-libm ulp risk.
# Boundaries come from the q101 census walk over the BOUNDED milli-rate
# domain (rate <= 31000), never a per-lang sort of the corpus.
# --------------------------------------------------------------------------
_T37_BITLEN_MAX = 31


def _t37_bitlen_spark(col: Column) -> Column:
    out = F.lit(_T37_BITLEN_MAX + 1)
    for b in range(_T37_BITLEN_MAX, 0, -1):
        out = F.when(col < F.lit(1 << b), F.lit(b)).otherwise(out)
    return out


def _t37_bitlen_sql(expr: str) -> str:
    branches = " ".join(
        f"WHEN {expr} < {1 << b} THEN {b}" for b in range(1, _T37_BITLEN_MAX + 1)
    )
    return f"(CASE {branches} ELSE {_T37_BITLEN_MAX + 1} END)"


def _t37_oracle() -> str:
    tok_expr = f"unnest({T.tokens_sql(T.ascii_lower_sql('text'))})"
    return f"""
    WITH tok AS MATERIALIZED (
      SELECT doc_id, lang, {tok_expr} AS token
      FROM documents WHERE text IS NOT NULL
    ), t2 AS (SELECT * FROM tok WHERE token <> ''),
    vocab AS MATERIALIZED (
      SELECT token,
             ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token) AS rank
      FROM t2 GROUP BY token
    ), doc_scores AS MATERIALIZED (
      SELECT t2.doc_id, t2.lang,
             COUNT(*) AS n_tokens,
             SUM({_t37_bitlen_sql('vocab.rank')}) AS score_units
      FROM t2 JOIN vocab USING (token)
      GROUP BY 1, 2
    ), rates AS MATERIALIZED (
      SELECT doc_id, lang, n_tokens, score_units,
             score_units * 1000 // n_tokens AS milli_rate
      FROM doc_scores
    ), pos AS (
      SELECT lang, milli_rate,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY milli_rate) AS rk,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM rates
    ), bounds AS (
      SELECT lang,
             MAX(CASE WHEN rk = (n + 2) // 3 THEN milli_rate END) AS b1,
             MAX(CASE WHEN rk = (2 * n + 2) // 3 THEN milli_rate END) AS b2
      FROM pos GROUP BY lang
    )
    SELECT r.lang,
           CAST(1 + CASE WHEN r.milli_rate > b.b1 THEN 1 ELSE 0 END
                  + CASE WHEN r.milli_rate > b.b2 THEN 1 ELSE 0 END AS INT)
             AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(r.score_units) AS BIGINT) AS sum_score_units,
           CAST(MIN(r.milli_rate) AS BIGINT) AS min_milli,
           CAST(MAX(r.milli_rate) AS BIGINT) AS max_milli
    FROM rates r JOIN bounds b USING (lang)
    GROUP BY 1, 2
    """


@register(
    "t37_ccnet_surprisal_buckets",
    _t37_oracle(),
    "CCNet-style head/middle/tail quality terciles per language: integer "
    "Zipf-rank surprisal (bit_length of vocab rank) scores each doc, "
    "census-walk tercile boundaries per lang, bucket census — the "
    "perplexity-stratified sampling stage of web-corpus curation",
)
def t37_ccnet_surprisal_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = (
        docs.select(
            "doc_id",
            "lang",
            F.explode(T.tokens(T.ascii_lower("text"))).alias("token"),
        )
        .filter(F.col("token") != "")
    )
    # global frequency rank rides a 1-task window over the AGGREGATED vocab
    # (bounded by language, never corpus-sized — the t15 posture)
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("token"))),
        )
        .select("token", "rank")
    )
    doc_scores = (
        toks.join(vocab, "token")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(_t37_bitlen_spark(F.col("rank"))).alias("score_units"),
        )
        .withColumn("milli_rate", F.expr("score_units * 1000 div n_tokens"))
    )
    # per-lang tercile boundaries via the q101 census walk: the census is
    # (lang, milli_rate) — milli_rate <= 31000, a bounded domain — so no
    # per-lang sort of the doc table ever happens
    census = doc_scores.groupBy("lang", "milli_rate").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wcum = Window.partitionBy("lang").orderBy("milli_rate")
    wall = Window.partitionBy("lang")
    walk = census.select(
        "lang",
        "milli_rate",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wall).alias("n"),
        (F.sum("cnt").over(wcum) - F.col("cnt")).alias("prev"),
    )
    r1 = F.floor((F.col("n") + 2) / 3).cast("bigint")
    r2 = F.floor((2 * F.col("n") + 2) / 3).cast("bigint")
    bounds = walk.groupBy("lang").agg(
        F.max(
            F.when((F.col("prev") < r1) & (F.col("cum") >= r1), F.col("milli_rate"))
        ).alias("b1"),
        F.max(
            F.when((F.col("prev") < r2) & (F.col("cum") >= r2), F.col("milli_rate"))
        ).alias("b2"),
    )
    bucket = (
        F.lit(1)
        + (F.col("milli_rate") > F.col("b1")).cast("int")
        + (F.col("milli_rate") > F.col("b2")).cast("int")
    )
    return (
        doc_scores.join(F.broadcast(bounds), "lang")
        .groupBy("lang", bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("score_units").cast("bigint").alias("sum_score_units"),
            F.min("milli_rate").cast("bigint").alias("min_milli"),
            F.max("milli_rate").cast("bigint").alias("max_milli"),
        )
    )


# --------------------------------------------------------------------------
# t38 — unigram-LM tokenizer training via Viterbi-EM (round 9, VERDICT
# r08 #6): the SentencePiece-style half of the tokenizer-training story
# (BPE t22/t29 is the other). EM over a BOUNDED candidate vocabulary
# (all single chars for coverage + the top-40 len-2..4 grams by corpus
# count — the t10 seeding idiom), 2 fixed iterations:
#
#   E-step: every distinct word is segmented by an exact INTEGER-cost
#   Viterbi DP (min total cost, ties broken toward the smallest split
#   point j — i.e. the longest last piece), piece usage counted with
#   word-frequency weights. Hard (Viterbi) EM is chosen over soft EM
#   deliberately: hard assignment makes the "expected" counts exact
#   integers, so the whole EM loop is bit-reproducible cross-engine
#   (soft EM's forward-backward posteriors are order-sensitive float
#   sums — unverifiable against an independent engine).
#   M-step: cost(p) = floor(1e6 * ln(total / (uses(p)+1))) — the ln of
#   one exact-integer-derived ratio (the t15/t34 pattern), add-1
#   smoothed so unused pieces stay finite, floor-quantized to integer
#   micro-nats so the next E-step's DP is integer again.
#
# Scale: the corpus is touched ONCE (the token census — vocab-bounded
# output by Heaps' law); gram seeding is a <=32x fanout of the DISTINCT
# WORD table, not the corpus; each EM pass is one Arrow map over the
# word census + one piece-keyed partial agg; the cost tables are
# vocab-bounded (<=~100 rows) and travel as closure constants. This is
# exactly how SentencePiece itself trains — on a word-frequency table,
# never the raw corpus. Words longer than 8 chars are excluded (bounds
# the DP unroll the oracle replays; a production variant raises the cap
# — plan shape unchanged). Oracle: the full 2-iteration EM unrolled as
# chained MATERIALIZED CTEs — gram census, vocab, cost0, 8 forward DP
# levels + 8 backtrack levels per iteration, re-costing between.
# --------------------------------------------------------------------------
_T38_MAX_WORD = 8
_T38_MAX_PIECE = 4
_T38_TOP_MULTI = 40


def _t38_oracle() -> str:
    maxw, maxp, topm = _T38_MAX_WORD, _T38_MAX_PIECE, _T38_TOP_MULTI
    lower = f"unnest({T.tokens_sql(T.ascii_lower_sql('text'))})"
    parts = [
        f"""words AS MATERIALIZED (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS wfreq FROM (
        SELECT {lower} AS w FROM documents)
      WHERE w <> '' AND length(w) <= {maxw} GROUP BY w)""",
        f"""grams AS MATERIALIZED (
      SELECT substr(w, CAST(s AS INT), CAST(L AS INT)) AS gram,
             CAST(SUM(wfreq) AS BIGINT) AS seed_n
      FROM words, range(1, {maxp + 1}) tl(L), range(1, {maxw + 1}) ts(s)
      WHERE s + L - 1 <= length(w)
      GROUP BY 1)""",
        f"""vocab AS MATERIALIZED (
      SELECT gram, seed_n FROM grams WHERE length(gram) = 1
      UNION ALL
      SELECT gram, seed_n FROM (
        SELECT gram, seed_n,
               ROW_NUMBER() OVER (ORDER BY seed_n DESC, gram) AS rk
        FROM grams WHERE length(gram) >= 2) WHERE rk <= {topm})""",
        """cost0 AS MATERIALIZED (
      SELECT gram, seed_n,
             CAST(FLOOR(ln(CAST(t.tot AS DOUBLE) / seed_n) * 1e6) AS BIGINT)
               AS cost
      FROM vocab, (SELECT SUM(seed_n) AS tot FROM vocab) t)""",
    ]

    def dp_chain(it: int, cost_tbl: str) -> None:
        parts.append(
            f"""dp{it}_0 AS (
      SELECT w, wfreq, 0 AS pos, CAST(0 AS BIGINT) AS cost,
             CAST(NULL AS INT) AS prev
      FROM words)"""
        )
        for i in range(1, maxw + 1):
            lo = max(0, i - maxp)
            parts.append(
                f"""dp{it}_{i} AS MATERIALIZED (
      SELECT * FROM dp{it}_{i - 1}
      UNION ALL
      SELECT w, wfreq, {i} AS pos, cost, prev FROM (
        SELECT d.w, d.wfreq, d.cost + c.cost AS cost,
               CAST(d.pos AS INT) AS prev,
               ROW_NUMBER() OVER (PARTITION BY d.w
                                  ORDER BY d.cost + c.cost ASC, d.pos ASC)
                 AS rk
        FROM dp{it}_{i - 1} d
        JOIN {cost_tbl} c ON c.gram = substr(d.w, d.pos + 1, {i} - d.pos)
        WHERE d.pos >= {lo} AND d.pos < {i} AND length(d.w) >= {i}
      ) WHERE rk = 1)"""
            )
        parts.append(
            f"""bk{it}_0 AS (
      SELECT w, wfreq, CAST(length(w) AS INT) AS pos,
             CAST(NULL AS VARCHAR) AS piece
      FROM words)"""
        )
        for k in range(1, maxw + 1):
            parts.append(
                f"""bk{it}_{k} AS MATERIALIZED (
      SELECT b.w, b.wfreq, d.prev AS pos,
             substr(b.w, d.prev + 1, b.pos - d.prev) AS piece
      FROM bk{it}_{k - 1} b
      JOIN dp{it}_{maxw} d ON d.w = b.w AND d.pos = b.pos
      WHERE b.pos > 0)"""
            )
        all_bk = " UNION ALL ".join(
            f"SELECT piece, wfreq FROM bk{it}_{k}" for k in range(1, maxw + 1)
        )
        parts.append(
            f"""uses{it} AS MATERIALIZED (
      SELECT piece, CAST(SUM(wfreq) AS BIGINT) AS uses
      FROM ({all_bk}) GROUP BY piece)"""
        )

    dp_chain(1, "cost0")
    parts.append(
        """cost1 AS MATERIALIZED (
      SELECT v.gram, COALESCE(u.uses, 0) + 1 AS c1,
             CAST(FLOOR(ln(CAST(t.tot AS DOUBLE) / (COALESCE(u.uses, 0) + 1))
                        * 1e6) AS BIGINT) AS cost
      FROM vocab v
      LEFT JOIN uses1 u ON u.piece = v.gram,
      (SELECT SUM(COALESCE(u.uses, 0) + 1) AS tot
       FROM vocab v LEFT JOIN uses1 u ON u.piece = v.gram) t)"""
    )
    dp_chain(2, "cost1")
    body = ",\n    ".join(parts)
    return f"""
    WITH {body}
    SELECT v.gram AS piece, v.seed_n,
           CAST(COALESCE(u1.uses, 0) AS BIGINT) AS uses1,
           CAST(COALESCE(u2.uses, 0) AS BIGINT) AS uses2,
           c1.cost AS cost1
    FROM vocab v
    LEFT JOIN uses1 u1 ON u1.piece = v.gram
    LEFT JOIN uses2 u2 ON u2.piece = v.gram
    JOIN cost1 c1 ON c1.gram = v.gram
    """


def _t38_seg_kernel(costs: dict[str, int], max_piece: int):
    """Viterbi segmenter over the word census (pickled BY VALUE: the
    bounded cost dict rides in the closure). Integer min-cost DP; ties
    keep the SMALLEST split point j (ascending-j scan with strict <),
    matching the oracle's ORDER BY cost ASC, j ASC."""

    def kernel(batches):
        import pandas as pd_w

        for pdf in batches:
            out_p, out_add = [], []
            for w, freq in zip(pdf["w"], pdf["wfreq"]):
                n = len(w)
                best: list[int | None] = [0] + [None] * n
                choice = [0] * (n + 1)
                for i in range(1, n + 1):
                    b, bj = None, None
                    for j in range(max(0, i - max_piece), i):
                        if best[j] is None:
                            continue
                        c = costs.get(w[j:i])
                        if c is None:
                            continue
                        t = best[j] + c
                        if b is None or t < b:
                            b, bj = t, j
                    best[i], choice[i] = b, bj
                i = n
                while i > 0:
                    j = choice[i]
                    out_p.append(w[j:i])
                    out_add.append(int(freq))
                    i = j
            yield pd_w.DataFrame({"piece": out_p, "add": out_add})

    return kernel


@register(
    "t38_unigram_lm_em",
    _t38_oracle(),
    "unigram-LM (SentencePiece-style) tokenizer training: bounded "
    "candidate vocab (all chars + top-40 grams), 2 Viterbi-EM "
    "iterations with integer DP costs (micro-nat floor-quantized ln of "
    "exact integer ratios) — piece usage counts after each iteration "
    "hash-match the oracle's fully unrolled CTE EM",
)
def t38_unigram_lm_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(T.tokens(T.ascii_lower("text"))).alias("w")
        )
        .filter((F.col("w") != "") & (F.length("w") <= _T38_MAX_WORD))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("wfreq"))
    )
    # gram seeding: a <=32x fanout of the DISTINCT-WORD census, never the
    # corpus; sequence() guarded against its descending (1, 0) form
    arrs = [
        F.when(
            F.length("w") >= L,
            F.expr(
                f"transform(sequence(1, length(w) - {L} + 1),"
                f" s -> substring(w, s, {L}))"
            ),
        ).otherwise(F.expr("cast(array() as array<string>)"))
        for L in range(1, _T38_MAX_PIECE + 1)
    ]
    cnts = (
        words.select("wfreq", F.explode(F.concat(*arrs)).alias("gram"))
        .groupBy("gram")
        .agg(F.sum("wfreq").cast("bigint").alias("seed_n"))
    )
    vocab = cnts.filter(F.length("gram") == 1).unionByName(
        cnts.filter(F.length("gram") >= 2)
        .orderBy(F.desc("seed_n"), F.asc("gram"))
        .limit(_T38_TOP_MULTI)
    )

    def cost_rows(counts_df):
        # vocab-bounded by construction (all chars + top-40 grams); the
        # collect ships <=~100 integer costs into the DP closure
        tot = counts_df.agg(F.sum("c").alias("tot"))
        rows = (
            counts_df.crossJoin(F.broadcast(tot))
            .select(
                "gram",
                F.floor(
                    F.log(F.col("tot").cast("double") / F.col("c"))
                    * F.lit(1e6)
                )
                .cast("bigint")
                .alias("cost"),
            )
            .collect()
        )
        if len(rows) > 1000:
            raise ValueError(
                f"t38 vocab has {len(rows)} grams, above its 1000-gram bound"
            )
        return {r["gram"]: r["cost"] for r in rows}

    cost0 = cost_rows(vocab.select("gram", F.col("seed_n").alias("c")))

    def em_pass(costs):
        return (
            words.mapInPandas(
                _t38_seg_kernel(costs, _T38_MAX_PIECE),
                "piece string, add bigint",
            )
            .groupBy("piece")
            .agg(F.sum("add").cast("bigint").alias("uses"))
        )

    uses1 = em_pass(cost0)
    smoothed1 = (
        vocab.join(uses1, vocab.gram == uses1.piece, "left")
        .select("gram", (F.coalesce(F.col("uses"), F.lit(0)) + 1).alias("c"))
    )
    cost1 = cost_rows(smoothed1)
    uses2 = em_pass(cost1)

    u1 = uses1.withColumnRenamed("piece", "p1").withColumnRenamed("uses", "_u1")
    u2 = uses2.withColumnRenamed("piece", "p2").withColumnRenamed("uses", "_u2")
    cost1_df = spark.createDataFrame(
        [(g, int(c)) for g, c in sorted(cost1.items())], "g string, cost1 bigint"
    )
    return (
        vocab.join(u1, vocab.gram == u1.p1, "left")
        .join(u2, vocab.gram == u2.p2, "left")
        .join(cost1_df, vocab.gram == cost1_df.g)
        .select(
            F.col("gram").alias("piece"),
            "seed_n",
            F.coalesce(F.col("_u1"), F.lit(0)).cast("bigint").alias("uses1"),
            F.coalesce(F.col("_u2"), F.lit(0)).cast("bigint").alias("uses2"),
            "cost1",
        )
    )


# --------------------------------------------------------------------------
# t39 — HTML boilerplate-removal main-text extraction (round 10, VERDICT
# r09 #3): the first stage of every web-crawl curation pipeline (the
# trafilatura / jusText shape). Fixture documents get a deterministic HTML
# wrapper (title + nav variant + optional aside + inline ad + footer —
# operators/web.py literals; the boilerplate blocks deliberately CONTAIN
# <p> tags, so a naive paragraph reader would ingest them); extraction is
# tag-structure rules as pure JVM string expressions — strip the
# nav/aside/footer/ad blocks, then read the surviving <p> texts. The
# oracle replays generation + extraction from the SAME literal tables, so
# the hash checks the whole mechanism: per-doc paragraph census, content
# vs boilerplate char split, ppm boilerplate fraction (integer division —
# hash-stable), and an md5 fingerprint of the extracted text itself.
# Scale: shuffle-free map stage, linear in page bytes, codegen'd
# regexp_replace/extract_all — no UDF, no driver state.
# --------------------------------------------------------------------------
def _t39_oracle() -> str:
    from aws_data_engineering_spark.operators import web as W

    paras = W.html_paragraphs_sql("html")
    total = W.html_all_text_chars_sql("html")
    return f"""
    WITH h AS (
      SELECT doc_id, {W.html_wrap_sql()} AS html FROM documents
    ), p AS (
      SELECT doc_id, {paras} AS paras, {total} AS total_chars FROM h
    ), m AS (
      SELECT doc_id,
             CAST(len(paras) AS INT) AS n_paras,
             CAST(length(array_to_string(paras, '')) AS BIGINT) AS content_chars,
             CAST(total_chars AS BIGINT) AS total_chars,
             substr(md5(array_to_string(paras, ' ')), 1, 8) AS content_fp
      FROM p
    )
    SELECT doc_id, n_paras, content_chars,
           total_chars - content_chars AS boiler_chars,
           (1000000 * (total_chars - content_chars)) // total_chars
             AS boiler_ppm,
           content_fp
    FROM m
    """


@register(
    "t39_html_boilerplate_extract",
    _t39_oracle(),
    "HTML boilerplate-removal text extraction (trafilatura/jusText stage): "
    "deterministic page wrapper around each fixture doc, tag-structure "
    "block stripping + paragraph extraction as pure JVM regexps; per-doc "
    "content/boilerplate census + extracted-text fingerprint, oracle "
    "replays the closed-form generator",
)
def t39_html_boilerplate_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_data_engineering_spark.operators import web as W

    docs = _t(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id", W.html_wrap(F.col("doc_id"), F.col("text")).alias("html")
    )
    p = h.select(
        "doc_id",
        W.html_paragraphs(F.col("html")).alias("paras"),
        W.html_all_text_chars(F.col("html")).alias("total_chars"),
    )
    m = p.select(
        "doc_id",
        F.size("paras").cast("int").alias("n_paras"),
        F.length(F.array_join("paras", "")).cast("bigint").alias("content_chars"),
        F.col("total_chars").cast("bigint").alias("total_chars"),
        F.substring(F.md5(F.array_join("paras", " ")), 1, 8).alias("content_fp"),
    )
    return m.select(
        "doc_id",
        "n_paras",
        "content_chars",
        (F.col("total_chars") - F.col("content_chars")).alias("boiler_chars"),
        F.expr("(1000000 * (total_chars - content_chars)) DIV total_chars").alias(
            "boiler_ppm"
        ),
        "content_fp",
    )


# --------------------------------------------------------------------------
# t40 — URL canonicalization (round 10, VERDICT r09 #4): the CCNet /
# crawl-frontier normalization stage. A deterministic raw URL is composed
# per doc from literal vocabularies (mixed-case schemes/hosts, default and
# non-default ports, trailing slashes, scrambled + utm-polluted query
# strings, fragments — operators/web.py); canonicalization lowercases
# scheme/host, strips fragments / default ports / 'www.' / trailing
# slashes, drops utm_* params and sorts the rest — all JVM string + array
# expressions (split/filter/array_sort/array_join), no UDF. The
# registrable host comes from a vendored simplified public-suffix table
# (co.uk/ac.uk keep 3 labels). The oracle replays the same rules, so the
# hash pins every rule including param-sort order. Scale: shuffle-free
# map stage, linear in URLs.
# --------------------------------------------------------------------------
def _t40_oracle() -> str:
    from aws_data_engineering_spark.operators import web as W

    return f"""
    WITH u AS (
      SELECT doc_id, {W.synth_url_sql()} AS url FROM documents
    ), c AS (
      SELECT doc_id, url, {W.canonicalize_url_sql('url')} AS canon_url FROM u
    )
    SELECT doc_id, url, canon_url,
           {W.registrable_host_sql('canon_url')} AS reg_host
    FROM c
    """


@register(
    "t40_url_canonicalization",
    _t40_oracle(),
    "URL canonicalization (CCNet stage): scheme/host case fold, fragment +"
    " default-port + www + trailing-slash strip, utm_* removal, query-param"
    " sort — JVM string/array expressions; registrable host via a vendored"
    " simplified public-suffix table",
)
def t40_url_canonicalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_data_engineering_spark.operators import web as W

    docs = _t(spark, sf_dir, "documents")
    u = docs.select("doc_id", W.synth_url(F.col("doc_id")).alias("url"))
    c = u.withColumn("canon_url", W.canonicalize_url(F.col("url")))
    return c.select(
        "doc_id",
        "url",
        "canon_url",
        W.registrable_host(F.col("canon_url")).alias("reg_host"),
    )


# --------------------------------------------------------------------------
# t41 — robots-rules URL filtering (round 10): the crawl-frontier
# politeness stage between t40's canonicalization and the fetch. Rules
# are a vendored literal table per registrable host (in production they
# are fetched per host; the MATCHING semantics are what the engine
# implements): RFC 9309 / Google longest-match-wins — the longest
# matching path prefix decides, allow wins ties, no match means allowed.
# The verdict unrolls the literal table into a scan-stage expression
# (per-rule prefix-length scores folded through GREATEST with -1
# sentinels — no NULL semantics, no join, no shuffle), so filtering is
# free at any corpus size; the only shuffle is the bounded per-host
# census. The rule set exercises every semantic: a blanket disallow '/'
# with a longer allow carve-out (site.org), a sliced disallow inside an
# allowed section (example.com /a/b/p1*), and a rule-free default-allow
# host (site.io).
# --------------------------------------------------------------------------
def _t41_oracle() -> str:
    from aws_data_engineering_spark.operators import web as W

    canon = W.canonicalize_url_sql("url")
    return f"""
    WITH u AS (
      SELECT doc_id, {W.synth_url_sql(page_seg=True)} AS url FROM documents
    ), c AS (
      SELECT doc_id, {canon} AS canon_url FROM u
    ), r AS (
      SELECT doc_id,
             {W.registrable_host_sql('canon_url')} AS reg_host,
             regexp_extract(canon_url, '^[a-z]+://[^/?#]*([^?#]*)', 1) AS path
      FROM c
    ), v AS (
      SELECT reg_host,
             {W.robots_verdict_sql('reg_host', 'path')} AS verdict
      FROM r
    )
    SELECT reg_host,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(COUNT(*) FILTER (verdict = 'allowed') AS BIGINT) AS n_allowed,
           CAST(COUNT(*) FILTER (verdict = 'blocked') AS BIGINT) AS n_blocked
    FROM v GROUP BY 1
    """


@register(
    "t41_robots_url_filter",
    _t41_oracle(),
    "robots-rules URL filtering (RFC 9309 longest-match-wins, allow wins "
    "ties, default allow): vendored per-host rule table unrolled into a "
    "shuffle-free scan-stage verdict; per-host allowed/blocked census "
    "oracle-checked closed-form",
)
def t41_robots_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_data_engineering_spark.operators import web as W

    docs = _t(spark, sf_dir, "documents")
    c = docs.select(
        "doc_id",
        W.canonicalize_url(W.synth_url(F.col("doc_id"), page_seg=True)).alias(
            "canon_url"
        ),
    )
    r = c.select(
        "doc_id",
        W.registrable_host(F.col("canon_url")).alias("reg_host"),
        F.regexp_extract(
            F.col("canon_url"), "^[a-z]+://[^/?#]*([^?#]*)", 1
        ).alias("path"),
    )
    v = r.select(
        "reg_host",
        W.robots_verdict(F.col("reg_host"), F.col("path")).alias("verdict"),
    )
    return v.groupBy("reg_host").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_urls"),
        F.sum((F.col("verdict") == "allowed").cast("long"))
        .cast("bigint")
        .alias("n_allowed"),
        F.sum((F.col("verdict") == "blocked").cast("long"))
        .cast("bigint")
        .alias("n_blocked"),
    )
