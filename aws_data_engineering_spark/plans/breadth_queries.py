"""Round-3 breadth batches 2-4: exact-substring span dedup, merge-table
(BPE-style) segmentation, RAG chunking, weighted priority / k-fold sampling,
power-iteration PCA, silhouette + embedding-health + ANN-recall audits,
label propagation, MMR retrieval, PMI collocations, event transition matrix,
incremental join-view maintenance, RFM segmentation, partition-pruned reads,
and the winsorize / uniqueness / Benford data-quality audits.

This module registers AFTER ``extra_queries`` (see ``registry._load_all``) so
these land at the very tail of the driver's not-yet-checked sample prefix —
earlier rounds' unchecked queries keep rotation priority.

Hash-match rules as the registry docstring: identical aliases both sides,
ROUND on float aggregates, integer outputs CAST to BIGINT on the DuckDB side
(SUM(int) is HUGEINT there), ``+ 0.0`` after ROUND where a near-zero value
could round to IEEE ``-0.0`` on one side only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_data_engineering_spark.operators import sampling as SAMP
from aws_data_engineering_spark.operators import sketch as SK
from aws_data_engineering_spark.operators import text as T
from aws_data_engineering_spark.plans.registry import register
from aws_data_engineering_spark.sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# p09 — deterministic weighted priority sampling: each doc draws a uniform
# 32-bit integer from md5(doc_id) and its priority is u / weight, so heavier
# (longer) docs systematically sort earlier — a seedable, retry-idempotent
# weighted sample (the same md5-bucket determinism as p01/p06, extended with
# per-row weights). Per-source top-30 via one window; selection is exact on
# integer-derived doubles, so Spark and DuckDB pick identical rows.
# --------------------------------------------------------------------------
@register(
    "p09_weighted_priority_sample",
    """
    WITH pri AS (
      SELECT source, doc_id, n_chars,
             CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                       AS BIGINT) AS DOUBLE) / n_chars AS priority
      FROM documents
    ), rk AS (
      SELECT source, doc_id, n_chars, priority,
             row_number() OVER (PARTITION BY source
                                ORDER BY priority, doc_id) AS rn
      FROM pri
    )
    SELECT source, doc_id, n_chars, CAST(rn AS INT) AS rn,
           ROUND(priority, 6) AS priority
    FROM rk WHERE rn <= 30
    """,
    "weighted priority sampling: md5-derived uniform / weight priority, "
    "per-source top-30 window — deterministic and idempotent under retries",
)
def p09_weighted_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    u = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    pri = docs.select(
        "source",
        "doc_id",
        "n_chars",
        (u.cast("double") / F.col("n_chars")).alias("priority"),
    )
    w = Window.partitionBy("source").orderBy("priority", "doc_id")
    return (
        pri.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 30)
        .select(
            "source",
            "doc_id",
            "n_chars",
            F.col("rn").cast("int").alias("rn"),
            F.round("priority", 6).alias("priority"),
        )
    )


# --------------------------------------------------------------------------
# q88 — event transition matrix (first-order Markov estimate): per-user lag
# window over the event stream gives (prev_type, event_type) pairs; counts
# plus a row-normalized transition probability. One shuffle for the window
# (partitioned by user — fully parallel), one partial-agg shuffle for the
# matrix. The probability divides exact integers, so both engines emit
# bit-identical doubles before the ROUND.
# --------------------------------------------------------------------------
@register(
    "q88_event_transition_matrix",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events WHERE ts IS NOT NULL
    ), pairs AS (
      SELECT prev_type, event_type AS curr_type, COUNT(*) AS cnt
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    )
    SELECT prev_type, curr_type, CAST(cnt AS BIGINT) AS cnt,
           ROUND(CAST(cnt AS DOUBLE)
                 / SUM(cnt) OVER (PARTITION BY prev_type), 6) AS prob
    FROM pairs
    """,
    "first-order Markov transition matrix over the event stream: per-user "
    "lag window + pair counts, row-normalized on exact integers",
)
def q88_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL-ts events excluded on both sides (Spark lag windows order them
    # first, DuckDB last — different transition pairs; review r6)
    events = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("curr_type"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wprev = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "curr_type",
        "cnt",
        F.round(F.col("cnt").cast("double") / F.sum("cnt").over(wprev), 6).alias(
            "prob"
        ),
    )


# --------------------------------------------------------------------------
# p10 — deterministic k-fold assignment: fold = md5(doc_id) 32-bit prefix
# mod k, the same seedable bucketing as p01's splits, so folds are disjoint,
# exhaustive, and idempotent under retries — rerunning assignment on a
# 100 TB corpus reproduces byte-identical folds with zero coordination.
# Output is the per-fold census the training loop consumes.
# --------------------------------------------------------------------------
_P10_K = 5


@register(
    "p10_kfold_assignment",
    f"""
    WITH f AS (
      SELECT doc_id, n_chars,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
               % {_P10_K} AS fold
      FROM documents
    )
    SELECT CAST(fold AS INT) AS fold,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
    FROM f GROUP BY fold
    """,
    "deterministic k-fold split: md5-prefix mod k bucketing (disjoint, "
    "exhaustive, retry-idempotent), per-fold census",
)
def p10_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    fold = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % _P10_K
    )
    return (
        docs.withColumn("fold", fold)
        .groupBy(F.col("fold").cast("int").alias("fold"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


# --------------------------------------------------------------------------
# q89 — RFM customer segmentation: recency/frequency/monetary per customer,
# quartiled with ntile(4) (order-by includes custkey so tile boundaries are
# deterministic on both engines), then the 4x4x4 segment census. The ntile
# here is a global-order window (the exact baseline); at 100 TB swap in
# approx_percentile thresholds + a broadcast re-join — the q39/dq07 shape —
# so no single-partition sort is needed.
# --------------------------------------------------------------------------
@register(
    "q89_rfm_segmentation",
    """
    WITH rfm AS (
      SELECT o_custkey AS custkey,
             MAX(o_orderdate) AS recency,
             COUNT(*) AS frequency,
             -- exact integer cents: ntile ordered by a raw double SUM
             -- could reorder customers at a quartile edge on cross-engine
             -- summation ulp drift (the q80 class; review r6)
             SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS monetary_cents
      FROM orders WHERE o_orderdate IS NOT NULL
      GROUP BY o_custkey
    ), tiled AS (
      SELECT custkey,
             ntile(4) OVER (ORDER BY recency, custkey) AS r_q,
             ntile(4) OVER (ORDER BY frequency, custkey) AS f_q,
             ntile(4) OVER (ORDER BY monetary_cents, custkey) AS m_q,
             monetary_cents
      FROM rfm
    )
    SELECT CAST(r_q AS INT) AS r_q, CAST(f_q AS INT) AS f_q,
           CAST(m_q AS INT) AS m_q,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(CAST(SUM(monetary_cents) AS DOUBLE) / 100.0, 2)
             AS total_monetary
    FROM tiled GROUP BY r_q, f_q, m_q
    """,
    "RFM segmentation: per-customer recency/frequency/monetary, "
    "deterministic ntile(4) quartiles, 4x4x4 segment census",
)
def q89_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact-cents monetary (order-free integer sum) so the m_q ntile key
    # can never move on summation ulp drift; NULL order dates excluded on
    # both sides (NULL recency sorts first in Spark, last in DuckDB)
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    rfm = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").alias("recency"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "monetary_cents"
        ),
    )
    tiled = rfm.select(
        "custkey",
        "monetary_cents",
        F.ntile(4).over(Window.orderBy("recency", "custkey")).alias("r_q"),
        F.ntile(4).over(Window.orderBy("frequency", "custkey")).alias("f_q"),
        F.ntile(4).over(
            Window.orderBy("monetary_cents", "custkey")
        ).alias("m_q"),
    )
    return tiled.groupBy(
        F.col("r_q").cast("int").alias("r_q"),
        F.col("f_q").cast("int").alias("f_q"),
        F.col("m_q").cast("int").alias("m_q"),
    ).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(
            F.sum("monetary_cents").cast("double") / F.lit(100.0), 2
        ).alias("total_monetary"),
    )


# --------------------------------------------------------------------------
# q90 — clickstream path mining: top 3-step event-type paths per user
# stream (two lead() windows over the per-user order, then a count) — the
# path-analysis complement to q88's single-step transition matrix. One
# shuffle for the user window, one partial-agg shuffle for the path count,
# TakeOrdered for the top-20.
# --------------------------------------------------------------------------
@register(
    "q90_event_path_mining",
    """
    WITH seq AS (
      SELECT event_type AS e1,
             lead(event_type, 1) OVER w AS e2,
             lead(event_type, 2) OVER w AS e3
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT e1 || ' > ' || e2 || ' > ' || e3 AS path,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM seq WHERE e2 IS NOT NULL AND e3 IS NOT NULL
    GROUP BY path ORDER BY cnt DESC, path LIMIT 20
    """,
    "top 3-step event paths: two lead() windows per user + path count — "
    "the path-mining complement to q88's transition matrix",
)
def q90_event_path_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL-ts events excluded on both sides (see q88)
    events = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
    return (
        seq.groupBy(
            F.concat_ws(" > ", "e1", "e2", "e3").alias("path")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("path"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# q91 — cohort retention: users grouped by first-activity date, retention
# counted as distinct users active at each day offset — the product-
# analytics triangle. Two partial-agg shuffles (first-seen per user,
# distinct activity days) and one join keyed on user — all shuffle-
# parallel, no window over the whole table.
# --------------------------------------------------------------------------
@register(
    "q91_cohort_retention",
    """
    WITH first_seen AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_date
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS active_date FROM events
    )
    SELECT strftime(f.cohort_date, '%Y-%m-%d') AS cohort_date,
           CAST(date_diff('day', f.cohort_date, a.active_date) AS INT)
             AS day_offset,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
    FROM first_seen f JOIN activity a USING (user_id)
    GROUP BY 1, 2
    """,
    "cohort retention triangle: first-seen cohort per user, distinct users "
    "active per day offset — two partial aggs + one user-keyed join",
)
def q91_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    first_seen = events.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("cohort_date")
    )
    activity = events.select(
        "user_id", F.col("ts").cast("date").alias("active_date")
    ).distinct()
    return (
        first_seen.join(activity, "user_id")
        .groupBy(
            F.date_format("cohort_date", "yyyy-MM-dd").alias("cohort_date"),
            F.datediff("active_date", "cohort_date").cast("int").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


# --------------------------------------------------------------------------
# q92 — association rules over per-user behavior (apriori level-1):
# support/confidence/lift for every event-type pair co-performed by the
# same user — co-occurrence, where q88/q90 are sequence. The pair join is
# keyed on user_id (each user holds <=|event types| rows, so the fan-out is
# bounded by the type vocabulary, never by corpus size); ratios divide
# exact integers in a fixed association order, so both engines emit
# identical doubles before ROUND.
# --------------------------------------------------------------------------
@register(
    "q92_association_rules",
    """
    WITH ut AS (
      SELECT DISTINCT user_id, event_type FROM events
    ), n_users AS (
      SELECT COUNT(DISTINCT user_id) AS n FROM ut
    ), type_counts AS (
      SELECT event_type, COUNT(*) AS n_t FROM ut GROUP BY event_type
    ), pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS n_ab
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type
    )
    SELECT type_a, type_b, CAST(n_ab AS BIGINT) AS n_ab,
           ROUND(CAST(n_ab AS DOUBLE) / n, 6) AS support,
           ROUND(CAST(n_ab AS DOUBLE) / ta.n_t, 6) AS confidence,
           ROUND(CAST(n_ab AS DOUBLE) * n / (CAST(ta.n_t AS DOUBLE) * tb.n_t), 6)
             AS lift
    FROM pairs
    JOIN type_counts ta ON pairs.type_a = ta.event_type
    JOIN type_counts tb ON pairs.type_b = tb.event_type
    CROSS JOIN n_users
    """,
    "association rules (apriori level-1): per-user event-type pairs, "
    "support/confidence/lift on exact integer counts — user-keyed join, "
    "fan-out bounded by the type vocabulary",
)
def q92_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    ut = events.select("user_id", "event_type").distinct()
    n_users = ut.agg(F.countDistinct("user_id").alias("n"))
    type_counts = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_t"))
    a = ut.alias("a")
    b = ut.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    ta = type_counts.select(
        F.col("event_type").alias("type_a"), F.col("n_t").alias("n_ta")
    )
    tb = type_counts.select(
        F.col("event_type").alias("type_b"), F.col("n_t").alias("n_tb")
    )
    return (
        pairs.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .crossJoin(F.broadcast(n_users))
        .select(
            "type_a",
            "type_b",
            "n_ab",
            F.round(F.col("n_ab").cast("double") / F.col("n"), 6).alias("support"),
            F.round(F.col("n_ab").cast("double") / F.col("n_ta"), 6).alias(
                "confidence"
            ),
            F.round(
                F.col("n_ab").cast("double")
                * F.col("n")
                / (F.col("n_ta").cast("double") * F.col("n_tb")),
                6,
            ).alias("lift"),
        )
    )


# --------------------------------------------------------------------------
# p11 — padding-waste audit: the quantified rationale for length-bucketed
# batching. Docs are grouped into batches of 8 two ways — arrival order vs
# sorted by token count — and each batch pays max(len)*8 padded tokens;
# the audit reports total waste per strategy (sorted batching should cut
# padding drastically). Global row_number is the exact baseline at test
# scale; at 100 TB the same audit runs per range-partition (sort keys are
# already clustered), which changes only the batch boundaries at partition
# edges.
# --------------------------------------------------------------------------
_P11_BATCH, _P11_MAXLEN = 8, 64


@register(
    "p11_padding_waste_audit",
    f"""
    WITH lens AS (
      SELECT doc_id, LEAST(len(string_split(text, ' ')), {_P11_MAXLEN}) AS n
      FROM documents
    ), naive AS (
      SELECT n, (ROW_NUMBER() OVER (ORDER BY doc_id) - 1) // {_P11_BATCH}
               AS batch_id
      FROM lens
    ), bucketed AS (
      SELECT n, (ROW_NUMBER() OVER (ORDER BY n, doc_id) - 1) // {_P11_BATCH}
               AS batch_id
      FROM lens
    ), naive_b AS (
      SELECT batch_id, MAX(n) * COUNT(*) AS padded, SUM(n) AS used
      FROM naive GROUP BY batch_id
    ), bucketed_b AS (
      SELECT batch_id, MAX(n) * COUNT(*) AS padded, SUM(n) AS used
      FROM bucketed GROUP BY batch_id
    )
    SELECT 'naive' AS strategy,
           CAST(COUNT(*) AS BIGINT) AS n_batches,
           CAST(SUM(used) AS BIGINT) AS total_tokens,
           CAST(SUM(padded) AS BIGINT) AS padded_tokens,
           CAST(SUM(padded) - SUM(used) AS BIGINT) AS wasted_tokens,
           ROUND(CAST(SUM(padded) - SUM(used) AS DOUBLE) / SUM(padded), 4)
             AS waste_frac
    FROM naive_b
    UNION ALL
    SELECT 'length_bucketed', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(used) AS BIGINT), CAST(SUM(padded) AS BIGINT),
           CAST(SUM(padded) - SUM(used) AS BIGINT),
           ROUND(CAST(SUM(padded) - SUM(used) AS DOUBLE) / SUM(padded), 4)
    FROM bucketed_b
    """,
    "padding-waste audit: batches of 8 pay max(len)*8 padded tokens; "
    "arrival-order vs length-sorted batching quantifies why length "
    "bucketing matters before training",
)
def p11_padding_waste_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    lens = docs.select(
        "doc_id",
        F.least(F.size(F.split("text", " ")), F.lit(_P11_MAXLEN)).alias("n"),
    )

    def strategy(order_cols: list, name: str) -> DataFrame:
        w = Window.orderBy(*order_cols)
        batched = lens.select(
            "n",
            ((F.row_number().over(w) - 1) / _P11_BATCH)
            .cast("bigint")
            .alias("batch_id"),
        )
        per_batch = batched.groupBy("batch_id").agg(
            (F.max("n") * F.count(F.lit(1))).alias("padded"),
            F.sum("n").alias("used"),
        )
        return per_batch.agg(
            F.lit(name).alias("strategy"),
            F.count(F.lit(1)).alias("n_batches"),
            F.sum("used").alias("total_tokens"),
            F.sum("padded").alias("padded_tokens"),
            (F.sum("padded") - F.sum("used")).alias("wasted_tokens"),
            F.round(
                (F.sum("padded") - F.sum("used")).cast("double") / F.sum("padded"), 4
            ).alias("waste_frac"),
        )

    return strategy(["doc_id"], "naive").unionByName(
        strategy(["n", "doc_id"], "length_bucketed")
    )


# --------------------------------------------------------------------------
# q93 — daily new vs cumulative users: first-seen date per user, daily
# new-user counts, running cumulative total — the growth-accounting view
# (and the scalable form of "cumulative COUNT DISTINCT over time", which
# no window supports directly: distinct collapses to first-seen, then a
# plain running SUM).
# --------------------------------------------------------------------------
@register(
    "q93_cumulative_users",
    """
    WITH first_seen AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS d FROM events
      WHERE ts IS NOT NULL GROUP BY user_id
    ), daily AS (
      SELECT d, COUNT(*) AS new_users FROM first_seen GROUP BY d
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           CAST(new_users AS BIGINT) AS new_users,
           CAST(SUM(new_users) OVER (ORDER BY d
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cumulative_users
    FROM daily
    """,
    "daily new vs cumulative users: cumulative COUNT DISTINCT rewritten as "
    "first-seen collapse + running SUM — the form that scales",
)
def q93_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL-ts events excluded on both sides: a user with only NULL
    # timestamps would contribute a NULL first-seen day that the running
    # sum orders differently per engine (review r6)
    events = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    first_seen = events.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("d")
    )
    daily = first_seen.groupBy("d").agg(F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "new_users",
        F.sum("new_users").over(w).alias("cumulative_users"),
    )


# --------------------------------------------------------------------------
# q94 — trailing 7-day distinct users per day (the sliding-window COUNT
# DISTINCT every growth dashboard needs). Spark has no DISTINCT window
# aggregate, so the scale-right formulation is: distinct (day, user) pairs
# -> broadcast range-join against the (bounded, one row per calendar day)
# day spine -> countDistinct per spine day. The broadcast side is the day
# spine, never the pair set, so at 100 TB the big side streams map-side.
# The oracle mirrors the join formulation exactly.
# --------------------------------------------------------------------------
@register(
    "q94_trailing_distinct_users",
    """
    WITH pairs AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ), spine AS (
      SELECT DISTINCT day FROM pairs
    )
    SELECT s.day AS day,
           CAST(COUNT(DISTINCT p.user_id) AS BIGINT) AS users_7d
    FROM spine s JOIN pairs p
      ON p.day >= s.day - 6 AND p.day <= s.day
    GROUP BY s.day
    """,
    "trailing 7-day distinct users per day: distinct (day,user) pairs "
    "broadcast-range-joined to the bounded day spine (Spark has no "
    "DISTINCT window aggregate); big side streams, spine broadcasts",
)
def q94_trailing_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = (
        _t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(F.to_date("ts").alias("pday"), "user_id")
        .distinct()
    )
    spine = pairs.select(F.col("pday").alias("day")).distinct()
    return (
        pairs.join(
            F.broadcast(spine),
            (F.col("pday") >= F.date_sub(F.col("day"), 6))
            & (F.col("pday") <= F.col("day")),
        )
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("users_7d"))
    )


# --------------------------------------------------------------------------
# q95 — decile lift table (the campaign-targeting diagnostic): rank
# customers by account balance into ntile(10) deciles over a fully
# deterministic order (score DESC, key ASC — ties can't shuffle rows
# between engines), mark responders via a semi-join on orders, and report
# each decile's response rate and lift vs the global rate. Lift is computed
# from exact integer cross-products (resp*N)/(n*R), never a ratio of
# rounded ratios, so the doubles are bit-identical. The global totals come
# from a window over the 10-row decile aggregate — no scalar broadcast.
# Scale note: the exact unpartitioned ntile is the oracle-checkable form;
# at 100 TB decile edges come from approx_percentile and rows bin against
# the broadcast edge array instead of a global sort (the q89 RFM pattern).
# --------------------------------------------------------------------------
@register(
    "q95_decile_lift",
    """
    WITH resp AS (
      SELECT DISTINCT o_custkey FROM orders
    ), scored AS (
      SELECT c.c_custkey, ntile(10) OVER (ORDER BY c.c_acctbal DESC,
                                          c.c_custkey) AS decile,
             CASE WHEN r.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS is_resp
      FROM customer c LEFT JOIN resp r ON c.c_custkey = r.o_custkey
    ), d AS (
      SELECT decile, COUNT(*) AS n, SUM(is_resp) AS resp
      FROM scored GROUP BY decile
    )
    SELECT CAST(decile AS INT) AS decile,
           CAST(n AS BIGINT) AS n_customers,
           CAST(resp AS BIGINT) AS responders,
           ROUND(resp * 1.0 / n, 6) AS response_rate,
           ROUND((resp * 1.0 * SUM(n) OVER ()) / (n * SUM(resp) OVER ()), 6)
             AS lift
    FROM d
    """,
    "decile lift table: balance-ranked ntile deciles (deterministic "
    "tie-broken order), responder rate per decile, lift vs global rate "
    "from exact integer cross-products",
)
def q95_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    resp = _t(spark, sf_dir, "orders").select("o_custkey").distinct()
    scored = (
        cust.join(resp, cust["c_custkey"] == resp["o_custkey"], "left")
        .select(
            F.ntile(10)
            .over(
                Window.orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
            )
            .alias("decile"),
            F.when(F.col("o_custkey").isNotNull(), 1).otherwise(0).alias(
                "is_resp"
            ),
        )
    )
    d = scored.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"), F.sum("is_resp").alias("resp")
    )
    w = Window.partitionBy()
    return d.select(
        F.col("decile").cast("int").alias("decile"),
        F.col("n").alias("n_customers"),
        F.col("resp").alias("responders"),
        F.round(F.col("resp") * 1.0 / F.col("n"), 6).alias("response_rate"),
        F.round(
            (F.col("resp") * 1.0 * F.sum("n").over(w))
            / (F.col("n") * F.sum("resp").over(w)),
            6,
        ).alias("lift"),
    )


# --------------------------------------------------------------------------
# q96 — bitmap-index activity rollup: each user-month's active days become
# one BIGINT bitmap (bit_or of 1<<(day-1)), active-day count is a popcount.
# The roaring-bitmap idea on DataFrames: a month of per-day activity
# crosses the shuffle as 8 bytes per user instead of up to 31 rows, and
# popcount/AND/OR answer day-count and overlap questions without re-visiting
# raw events. Pure integer bit ops (bit_or agg, shiftleft, bit_count) on
# both engines — bit-exact by construction.
# --------------------------------------------------------------------------
@register(
    "q96_activity_bitmap",
    """
    WITH ud AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('month', ts) AS DATE) AS month,
             day(ts) AS d
      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ), bm AS (
      SELECT user_id, month,
             bit_or(CAST(1 AS BIGINT) << (d - 1)) AS bitmap
      FROM ud GROUP BY user_id, month
    )
    SELECT month,
           CAST(bit_count(bitmap) AS INT) AS active_days,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM bm GROUP BY month, bit_count(bitmap)
    """,
    "bitmap-index activity rollup: user-month active days packed into one "
    "BIGINT via bit_or(1<<day), histogram by popcount — 8 bytes per user "
    "cross the shuffle instead of 31 rows",
)
def q96_activity_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ud = (
        _t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(
            "user_id",
            F.trunc(F.to_date("ts"), "month").alias("month"),
            F.dayofmonth("ts").alias("d"),
        )
        .distinct()
    )
    # F.shiftleft only takes a literal shift amount; the SQL form takes a
    # column
    bm = ud.groupBy("user_id", "month").agg(
        F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), d - 1)")).alias("bitmap")
    )
    return (
        bm.select("month", F.bit_count("bitmap").cast("int").alias("active_days"))
        .groupBy("month", "active_days")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select("month", "active_days", "n_users")
    )


# --------------------------------------------------------------------------
# q97 — ordered funnel with a time bound: users whose earliest view is
# followed by a later click and then a later purchase, all within 24 h of
# the view (q41's funnel checks presence; this one enforces ORDER and a
# completion window — the product-analytics "did the journey happen in
# sequence" question). Each stage is one groupBy-min plus one user-keyed
# equi-join, so the funnel deepens linearly in stages with no window over
# the full event stream; durations are exact integer microseconds.
# --------------------------------------------------------------------------
_Q97_WINDOW_US = 86_400_000_000  # 24 h


@register(
    "q97_ordered_funnel",
    f"""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, v.t1, MIN(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1
      GROUP BY e.user_id, v.t1
    ), p AS (
      SELECT e.user_id, c.t1, MIN(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
      GROUP BY e.user_id, c.t1
    )
    SELECT user_id,
           CAST(epoch_us(t3) - epoch_us(t1) AS BIGINT) AS funnel_us
    FROM p WHERE epoch_us(t3) - epoch_us(t1) <= {_Q97_WINDOW_US}
    """,
    "ordered view->click->purchase funnel completed within 24 h: earliest "
    "view, earliest later click, earliest later purchase via stagewise "
    "groupBy-min + user-keyed equi-joins; exact integer-microsecond "
    "durations",
)
def q97_ordered_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id", "t1")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id", "t1")
        .agg(F.min("ts").alias("t3"))
    )
    dur = F.unix_micros("t3") - F.unix_micros("t1")
    return p.filter(dur <= _Q97_WINDOW_US).select(
        "user_id", dur.alias("funnel_us")
    )


# --------------------------------------------------------------------------
# p12 — deterministic per-epoch shuffle: training loaders need a DIFFERENT
# document order every epoch that is nonetheless reproducible on any
# worker count — sort by md5(doc_id || ':' || epoch). No materialized
# permutation table, no driver-side RNG state; the order key is a pure
# column expression, so at 100 TB each epoch is one sort (or a
# sortWithinPartitions feeding a shuffle-free loader) and resuming a crashed
# epoch re-derives the identical order. Output: the first 5 doc_ids of
# epochs 0-2, proving orders differ across epochs while each is stable.
# --------------------------------------------------------------------------
@register(
    "p12_epoch_shuffle",
    """
    WITH keyed AS (
      SELECT e.epoch, d.doc_id,
             md5(CAST(d.doc_id AS VARCHAR) || ':' ||
                 CAST(e.epoch AS VARCHAR)) AS k
      FROM documents d,
           (SELECT UNNEST(generate_series(0, 2)) AS epoch) e
    ), rk AS (
      SELECT epoch, doc_id,
             row_number() OVER (PARTITION BY epoch ORDER BY k, doc_id)
               AS rank
      FROM keyed
    )
    SELECT CAST(epoch AS INT) AS epoch, CAST(rank AS INT) AS rank, doc_id
    FROM rk WHERE rank <= 5
    """,
    "deterministic per-epoch shuffle order: sort key md5(doc_id:epoch) — "
    "different reproducible order every epoch, no permutation table, no "
    "driver RNG; first 5 docs of epochs 0-2 shown",
)
def p12_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    epochs = spark.range(3).select(F.col("id").cast("int").alias("epoch"))
    keyed = docs.crossJoin(F.broadcast(epochs)).select(
        "epoch",
        "doc_id",
        F.md5(
            F.concat_ws(":", F.col("doc_id").cast("string"),
                        F.col("epoch").cast("string"))
        ).alias("k"),
    )
    w = Window.partitionBy("epoch").orderBy("k", "doc_id")
    return (
        keyed.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("epoch", F.col("rank").cast("int").alias("rank"), "doc_id")
    )


# --------------------------------------------------------------------------
# q98 — week-over-week revenue delta: weekly order revenue (Monday-anchored
# ISO week via date_trunc) with lag() for the prior week and an exact
# integer-cents delta; pct change only where a prior week exists. One
# groupBy plus one 52-row-per-year window — trivially partial-agg friendly.
# --------------------------------------------------------------------------
@register(
    "q98_wow_revenue_delta",
    """
    WITH w AS (
      SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    )
    SELECT week, rev_cents,
           CAST(rev_cents - lag(rev_cents) OVER (ORDER BY week) AS BIGINT)
             AS wow_delta_cents,
           ROUND((rev_cents - lag(rev_cents) OVER (ORDER BY week)) * 1.0
                 / lag(rev_cents) OVER (ORDER BY week), 6) AS wow_pct
    FROM w
    """,
    "week-over-week revenue delta on exact integer cents: weekly groupBy "
    "+ lag window, pct change from integer ratios",
)
def q98_wow_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL order dates excluded on both sides: a NULL week group would sit
    # at opposite ends of the lag window per engine (the q35 class)
    w = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())
        .groupBy(F.trunc(F.to_date("o_orderdate"), "week").alias("week"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "rev_cents"
            )
        )
    )
    win = Window.orderBy("week")
    prev = F.lag("rev_cents").over(win)
    return w.select(
        "week",
        "rev_cents",
        (F.col("rev_cents") - prev).alias("wow_delta_cents"),
        F.round((F.col("rev_cents") - prev) * 1.0 / prev, 6).alias("wow_pct"),
    )


# --------------------------------------------------------------------------
# p13 — quality-weighted epoch upsampling (round-6: wires the round-5
# operator into the oracle gate). n_epochs = doc_id % 5 plants the full
# edge spectrum: 0 (drop — the guarded fan-out must emit NOTHING, the
# ADVICE r05 bug), 1..4 (that many stamped copies). Output is the
# per-copy_idx census plus min/max of the deterministic md5 sample keys,
# proving both the copy counts and the key derivation. Purely columnar
# sequence+posexplode in the scan stage — zero shuffle before the audit agg.
# --------------------------------------------------------------------------
_P13_SALT = "epoch-v1"


@register(
    "p13_epoch_upsample",
    f"""
    WITH src AS (
      SELECT doc_id, CAST(doc_id % 5 AS INT) AS n_epochs FROM documents
    ), fan AS (
      SELECT doc_id, UNNEST(generate_series(1, n_epochs)) AS copy_idx
      FROM src WHERE n_epochs >= 1
    ), k AS (
      SELECT doc_id, copy_idx,
             md5(CAST(doc_id AS VARCHAR) || ':' ||
                 CAST(copy_idx AS VARCHAR) || '{_P13_SALT}') AS sample_key
      FROM fan
    )
    SELECT CAST(copy_idx AS INT) AS copy_idx,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
           MIN(sample_key) AS min_key, MAX(sample_key) AS max_key
    FROM k GROUP BY 1
    """,
    "quality-weighted epoch upsampling: per-row sequence+posexplode fan-out "
    "(n_epochs<1 drops the row — guarded against the descending-sequence "
    "bug), md5 sample keys for a reproducible global shuffle; per-copy "
    "census output",
)
def p13_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_data_engineering_spark.operators.sampling import epoch_upsample

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", (F.col("doc_id") % 5).cast("int").alias("n_epochs")
    )
    up = epoch_upsample(docs, "doc_id", F.col("n_epochs"), salt=_P13_SALT)
    return up.groupBy(F.col("copy_idx").cast("int").alias("copy_idx")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("sum_doc_id"),
        F.min("sample_key").alias("min_key"),
        F.max("sample_key").alias("max_key"),
    )


# --------------------------------------------------------------------------
# q99 — TPC-H Q21 shape (suppliers who kept orders waiting), adapted to
# this schema's lateness proxy (no l_receiptdate/l_commitdate in the
# fixtures; late = shipped > 60 days after order date). The classic
# double-correlated EXISTS / NOT EXISTS is re-expressed as one per-(order,
# supplier) aggregate + one per-order aggregate — "exists another supplier"
# = n_supps > 1, "not exists another LATE supplier" = n_late = 1 — so the
# whole query is equi-join/groupBy shaped: lineitem⨝orders shuffles on
# orderkey once (AQE-sized), both dims broadcast, and the top-20 is a
# TakeOrderedAndProject. No correlated re-scan of lineitem anywhere — the
# form that survives 100 TB where a literal EXISTS-pair translation
# rescans the fact table twice.
# --------------------------------------------------------------------------
_Q99_NATIONS = ("NATION_1", "NATION_7", "NATION_13")


@register(
    "q99_waiting_suppliers",
    f"""
    WITH late AS (
      SELECT l.l_orderkey, l.l_suppkey,
             MAX(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                      THEN 1 ELSE 0 END) AS is_late
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
      GROUP BY l.l_orderkey, l.l_suppkey
    ), per_order AS (
      SELECT l_orderkey, COUNT(*) AS n_supps, SUM(is_late) AS n_late
      FROM late GROUP BY l_orderkey
    ), waiters AS (
      SELECT late.l_suppkey
      FROM late JOIN per_order USING (l_orderkey)
      WHERE late.is_late = 1 AND per_order.n_supps > 1
        AND per_order.n_late = 1
    )
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM waiters w JOIN supplier s ON w.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name IN {_Q99_NATIONS!r}
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name LIMIT 20
    """,
    "TPC-H Q21 shape: sole-late supplier on multi-supplier finished orders "
    "— EXISTS/NOT-EXISTS pair decorrelated into per-order counts (one "
    "orderkey shuffle, dims broadcast, top-20 TakeOrdered)",
)
def q99_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    late = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                F.when(
                    F.col("l_shipdate")
                    > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ).alias("is_late")
        )
    )
    per_order = late.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supps"), F.sum("is_late").alias("n_late")
    )
    waiters = (
        late.filter(F.col("is_late") == 1)
        .join(
            per_order.filter(
                (F.col("n_supps") > 1) & (F.col("n_late") == 1)
            ).select("l_orderkey"),
            "l_orderkey",
        )
        .select("l_suppkey")
    )
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(*_Q99_NATIONS)
    )
    return (
        waiters.join(
            F.broadcast(sup), waiters["l_suppkey"] == sup["s_suppkey"]
        )
        .join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# p14 — curriculum-ordered epoch schedule: easy-first training mixtures
# (Bengio et al. 2009) as a data-pipeline operator. Phase = fixed
# difficulty thresholds on n_chars (a scan-stage expression — deliberately
# NOT ntile(), whose global total-order window is a single-partition sort
# at 100 TB); epoch e trains on phases 1..e via a guarded
# sequence+posexplode fan-out (phase > n_epochs rows fan to NOTHING — the
# same descending-sequence bug class p13 guards). Census output: per
# (epoch, phase) doc counts + md5 sample-key extrema proving the
# deterministic within-epoch shuffle keys.
# --------------------------------------------------------------------------
_P14_THRESHOLDS = (180, 300, 420)
_P14_EPOCHS = 4
_P14_SALT = "curr-v1"


@register(
    "p14_curriculum_schedule",
    f"""
    WITH fan AS ({{inner}})
    SELECT epoch, phase,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(id) AS BIGINT) AS sum_doc_id,
           MIN(sample_key) AS min_key, MAX(sample_key) AS max_key
    FROM fan GROUP BY 1, 2
    """.format(
        inner=SAMP.curriculum_sql(
            "doc_id", "n_chars", _P14_THRESHOLDS, _P14_EPOCHS, salt=_P14_SALT
        )
    ),
    "curriculum schedule: fixed-threshold difficulty phases (scan-stage, "
    "no global ntile sort), epoch fan-in via guarded sequence+posexplode, "
    "deterministic md5 within-epoch shuffle keys; per-(epoch, phase) census",
)
def p14_curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    sched = SAMP.curriculum_schedule(
        docs,
        "doc_id",
        "n_chars",
        thresholds=_P14_THRESHOLDS,
        n_epochs=_P14_EPOCHS,
        salt=_P14_SALT,
    )
    return sched.groupBy(
        F.col("epoch").cast("int").alias("epoch"),
        F.col("phase").cast("int").alias("phase"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("sum_doc_id"),
        F.min("sample_key").alias("min_key"),
        F.max("sample_key").alias("max_key"),
    )


# --------------------------------------------------------------------------
# p15 — token-budget waterfill mixture planning (round-6): given per-
# source token capacities and a global training budget B (here 90% of the
# corpus so the answer mixes fully-granted and truncated sources), find
# the waterfill level L with sum_s min(c_s, L) <= B and allocate
# a_s = min(c_s, L) — the standard "spend the budget proportionally but
# never over-sample a source" planning step that sits in front of p06's
# per-doc budget sampling. Exact INTEGER algorithm on both engines:
# sources sorted by (capacity, name), a source is FULL when topping every
# remaining source up to its capacity still fits the remaining budget
# (cum_prev + c_i * rem_i <= B, monotone in i), and the first non-full
# prefix fixes L = (B - cum_prev) div rem (floor division on
# non-negatives). The fact table collapses to one row per source before
# any window runs, so the window stage is vocabulary-bounded at any data
# scale. Zero floating point end-to-end.
# --------------------------------------------------------------------------
@register(
    "p15_token_budget_waterfill",
    rf"""
    WITH per_src AS (
      SELECT source,
             CAST(SUM(len(list_filter(
                    {T.tokens_sql(T.ascii_lower_sql('text'))},
                    x -> x <> ''))) AS BIGINT) AS c_tokens
      FROM documents GROUP BY source
    ), tot AS MATERIALIZED (
      SELECT source, c_tokens,
             SUM(c_tokens) OVER () AS total,
             (SUM(c_tokens) OVER () * 9) // 10 AS budget,
             COUNT(*) OVER () AS n_src,
             ROW_NUMBER() OVER (ORDER BY c_tokens, source) AS i,
             COALESCE(SUM(c_tokens) OVER (ORDER BY c_tokens, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_prev
      FROM per_src
    ), flagged AS (
      SELECT *,
             (cum_prev + c_tokens * (n_src - i + 1) <= budget) AS is_full,
             MIN(CASE WHEN NOT (cum_prev + c_tokens * (n_src - i + 1) <= budget)
                 THEN i END) OVER () AS first_nf
      FROM tot
    ), lvl AS (
      -- the waterfill level comes from the FIRST infeasible prefix only
      -- (infeasibility is monotone in i; later prefixes have cum_prev >
      -- budget and would yield negative levels)
      SELECT *,
             MIN(CASE WHEN i = first_nf
                 THEN (budget - cum_prev) // (n_src - i + 1) END) OVER ()
               AS level
      FROM flagged
    )
    SELECT source, c_tokens,
           CAST(CASE WHEN is_full THEN c_tokens
                     ELSE least(c_tokens, level) END AS BIGINT) AS allocation,
           CAST(COALESCE(level, c_tokens) AS BIGINT) AS fill_level,
           CAST(budget AS BIGINT) AS budget,
           is_full
    FROM lvl
    """,
    "token-budget waterfill mixture planning: per-source capacities, "
    "global budget = 90% of corpus tokens, exact integer waterfill level "
    "via the sorted-prefix feasibility test — the allocation step in "
    "front of per-doc budget sampling (p06); vocabulary-bounded window "
    "stage, zero floating point",
)
def p15_token_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.size(
            F.filter(
                T.tokens(T.ascii_lower("text")),
                lambda x: x != "",
            )
        ).alias("n_tok"),
    )
    per_src = toks.groupBy("source").agg(
        F.sum("n_tok").cast("bigint").alias("c_tokens")
    )
    w_all = Window.partitionBy(F.lit(1))
    w_ord = Window.partitionBy(F.lit(1)).orderBy("c_tokens", "source")
    tot = per_src.withColumn("total", F.sum("c_tokens").over(w_all))
    tot = (
        tot.withColumn("budget", F.expr("(total * 9) div 10"))
        .withColumn("n_src", F.count(F.lit(1)).over(w_all))
        .withColumn("i", F.row_number().over(w_ord))
        .withColumn(
            "cum_prev",
            F.coalesce(
                F.sum("c_tokens").over(
                    w_ord.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
    )
    feasible = (
        F.col("cum_prev") + F.col("c_tokens") * (F.col("n_src") - F.col("i") + 1)
        <= F.col("budget")
    )
    flagged = tot.withColumn("is_full", feasible).withColumn(
        "first_nf", F.min(F.when(~feasible, F.col("i"))).over(w_all)
    )
    # level from the FIRST infeasible prefix only — infeasibility is
    # monotone in i, and later prefixes (cum_prev > budget) would yield
    # negative levels
    lvl = flagged.withColumn(
        "level",
        F.min(
            F.when(
                F.col("i") == F.col("first_nf"),
                F.expr("(budget - cum_prev) div (n_src - i + 1)"),
            )
        ).over(w_all),
    )
    return lvl.select(
        "source",
        "c_tokens",
        F.when(F.col("is_full"), F.col("c_tokens"))
        .otherwise(F.least("c_tokens", "level"))
        .cast("bigint")
        .alias("allocation"),
        F.coalesce("level", "c_tokens").cast("bigint").alias("fill_level"),
        F.col("budget").cast("bigint").alias("budget"),
        "is_full",
    )


# --------------------------------------------------------------------------
# p16 — deterministic source interleave (round-6): build the single
# global training order a sharded dataloader walks, with sources
# round-robin interleaved so any prefix of the stream preserves the
# source mixture (the property epoch-level shuffling alone does not
# give). Within-source order is the p12 md5 shuffle (seedless,
# crash-resumable); the global position is within_rank * n_sources +
# source_index — a collision-free affine interleave computed with ZERO
# global sort: the only full-table window partitions BY SOURCE (parallel
# across sources), and source_index/n_sources come from a broadcast
# vocabulary-bounded source table. A 100 TB corpus gets a total order
# without any single-partition stage.
# --------------------------------------------------------------------------
@register(
    "p16_source_interleave",
    """
    WITH srcs AS (
      SELECT source,
             ROW_NUMBER() OVER (ORDER BY source) - 1 AS source_index,
             COUNT(*) OVER () AS n_sources
      FROM (SELECT DISTINCT source FROM documents)
    ), ranked AS (
      SELECT d.doc_id, d.source,
             ROW_NUMBER() OVER (PARTITION BY d.source
                                ORDER BY md5(CAST(d.doc_id AS VARCHAR))) - 1
               AS within_rank
      FROM documents d
    )
    SELECT r.doc_id, r.source,
           CAST(r.within_rank AS BIGINT) AS within_rank,
           CAST(r.within_rank * s.n_sources + s.source_index AS BIGINT)
             AS global_pos
    FROM ranked r JOIN srcs s ON r.source = s.source
    """,
    "deterministic source interleave: md5 within-source shuffle + affine "
    "round-robin global position (within_rank * n_sources + source_index) "
    "— any prefix of the stream preserves the source mixture; no global "
    "sort, windows partition by source, source table broadcast",
)
def p16_source_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    srcs = docs.select("source").distinct()
    w_src = Window.partitionBy(F.lit(1)).orderBy("source")
    srcs = srcs.select(
        "source",
        (F.row_number().over(w_src) - 1).alias("source_index"),
        F.count(F.lit(1)).over(Window.partitionBy(F.lit(1))).alias("n_sources"),
    )
    w_in = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string"))
    )
    ranked = docs.select(
        "doc_id", "source", (F.row_number().over(w_in) - 1).alias("within_rank")
    )
    return ranked.join(F.broadcast(srcs), "source").select(
        "doc_id",
        "source",
        F.col("within_rank").cast("bigint").alias("within_rank"),
        (F.col("within_rank") * F.col("n_sources") + F.col("source_index"))
        .cast("bigint")
        .alias("global_pos"),
    )


# --------------------------------------------------------------------------
# q100 — deterministic mergeable q-digest quantiles (round-6c): the
# Shrivastava et al. 2004 quantile summary in a canonical bottom-up form
# (operators/sketch.py). Unlike the engine's approx_percentile/HLL
# (q26/q39 — rows-only, implementation-defined internals), every stage
# here is order-free aggregation, so the digest is a pure function of the
# value multiset and the WHOLE SKETCH is oracle-checked bit-for-bit: 19
# unrolled compression levels on both engines, the canonical (hi, lo)
# rank walk, estimates AND exact percentiles AND the rank-error bound in
# one result. Mergeability (sum leaf histograms, compress once) is pinned
# by pytest across disjoint splits. Scale: level 0 is one partial-agg
# groupBy over the fact table; every later stage is bounded by the 2^19
# domain, not the corpus.
# --------------------------------------------------------------------------
_Q100_QS = (0.25, 0.5, 0.75, 0.9, 0.99)


@register(
    "q100_qdigest_quantiles",
    SK.qdigest_oracle_sql(qs=_Q100_QS),
    "deterministic mergeable q-digest quantile sketch: 19 canonical "
    "bottom-up compression levels over whole-dollar order totals, "
    "(hi,lo)-rank-walk estimates vs exact percentiles vs the rank-error "
    "bound — the entire sketch oracle-checked bit-for-bit (q39's "
    "approx_percentile twin with reproducible internals); merge = sum "
    "leaf histograms, compress once (pytest-pinned)",
)
def q100_qdigest_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    leaves = SK.qdigest_leaves(orders, F.floor("o_totalprice"))
    # compression + rank walk + exact/achieved percentiles fused into ONE
    # Arrow stage over the domain-bounded census (guide §1.2/§4.2): the
    # only corpus-sized stage left is the level-0 groupBy census itself
    return SK.qdigest_report_from_leaves(leaves, _Q100_QS)


# --------------------------------------------------------------------------
# q101 — exact per-group median via value-census prefix sum (round-6d):
# the scalable exact-median recipe. A naive exact median sorts every row
# per group; this form first QUANTIZES to a bounded domain (whole dollars,
# like q100's q-digest) and partial-agg collapses the fact table to a
# (group, value, cnt) census, then one window over the census — bounded by
# distinct quantized values per group, not rows — walks the prefix sums to
# the two middle positions. median = (lo + hi) / 2 is an exact dyadic
# double, so no rounding is needed and DuckDB's interpolating median()
# (an INDEPENDENT implementation) must agree bit-for-bit. Complements
# q100: same census collapse, exact answer instead of a sketch.
# --------------------------------------------------------------------------
@register(
    "q101_exact_group_median",
    """
    WITH census AS (
      SELECT o_orderpriority AS priority,
             CAST(FLOOR(o_totalprice) AS BIGINT) AS v
      FROM orders WHERE o_totalprice IS NOT NULL
    )
    SELECT priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           median(v) AS median_dollars,
           CAST(MIN(v) AS BIGINT) AS min_dollars,
           CAST(MAX(v) AS BIGINT) AS max_dollars
    FROM census GROUP BY priority
    """,
    "exact per-group median the scalable way: whole-dollar census "
    "(partial-agg collapse) + prefix-sum walk to the two middle positions "
    "over the bounded census — (lo+hi)/2 is exact dyadic, hash-matched "
    "against DuckDB's independent interpolating median()",
)
def q101_exact_group_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL totals filtered on BOTH sides: DuckDB's median() ignores NULLs
    # but COUNT(*)/the position walk would not — a NULL row must not
    # occupy a rank (review r6d finding)
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    )
    census = (
        orders.select(
            F.col("o_orderpriority").alias("priority"),
            F.floor("o_totalprice").cast("bigint").alias("v"),
        )
        .groupBy("priority", "v")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wcum = Window.partitionBy("priority").orderBy("v")
    wall = Window.partitionBy("priority")
    walk = census.select(
        "priority",
        "v",
        "cnt",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wall).alias("n"),
        F.min("v").over(wall).alias("min_v"),
        F.max("v").over(wall).alias("max_v"),
    ).withColumn("prev", F.col("cum") - F.col("cnt"))
    # positions of the two middles: lo = (n+1) div 2, hi = (n+2) div 2
    lo_pos = F.floor((F.col("n") + 1) / 2).cast("bigint")
    hi_pos = F.floor((F.col("n") + 2) / 2).cast("bigint")
    return walk.groupBy("priority").agg(
        F.max("n").cast("bigint").alias("n_orders"),
        (
            (
                F.max(
                    F.when(
                        (F.col("prev") < lo_pos) & (F.col("cum") >= lo_pos),
                        F.col("v"),
                    )
                )
                + F.max(
                    F.when(
                        (F.col("prev") < hi_pos) & (F.col("cum") >= hi_pos),
                        F.col("v"),
                    )
                )
            )
            / F.lit(2.0)
        ).alias("median_dollars"),
        F.max("min_v").cast("bigint").alias("min_dollars"),
        F.max("max_v").cast("bigint").alias("max_dollars"),
    )


# --------------------------------------------------------------------------
# q102 — weekly retention cohorts (round 8): the classic product-analytics
# matrix — users grouped by first-seen week, activity counted per weeks-
# since-cohort. Plan: per-user min(ts) agg (map-side combined), distinct
# (user, week) activity pairs, one join on user_id, then a bounded
# (cohort x offset) cell agg; cohort size recovered from the offset-0 cell
# by a window over the already-bounded cells (weeks^2 rows), so no extra
# shuffle of the big table. At 100 TB: two user-keyed shuffles + one
# bounded agg — the same shape as d02/q20.
# --------------------------------------------------------------------------
@register(
    "q102_retention_cohorts",
    """
    WITH f AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cw
      FROM events GROUP BY user_id
    ), a AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS aw FROM events
    ), cells AS (
      SELECT cw,
             CAST(date_diff('day', CAST(cw AS DATE), CAST(aw AS DATE)) / 7
                  AS INT) AS week_offset,
             COUNT(*) AS n_users
      FROM a JOIN f USING (user_id)
      GROUP BY 1, 2
    )
    SELECT strftime(cw, '%Y-%m-%d') AS cohort_week,
           week_offset,
           CAST(n_users AS BIGINT) AS n_users,
           CAST(FLOOR(1e6 * n_users /
                      (MAX(CASE WHEN week_offset = 0 THEN n_users END)
                       OVER (PARTITION BY cw))) AS BIGINT) AS retention_ppm
    FROM cells
    """,
    "weekly retention cohort matrix: first-seen week x weeks-since-cohort "
    "distinct-user counts with ppm retention vs the cohort's week-0 size",
)
def q102_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cw")
    )
    act = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("aw")
    ).distinct()
    cells = (
        act.join(first, "user_id")
        .groupBy(
            "cw",
            (F.datediff(F.col("aw"), F.col("cw")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    w = Window.partitionBy("cw")
    return cells.select(
        F.date_format("cw", "yyyy-MM-dd").alias("cohort_week"),
        "week_offset",
        F.col("n_users").cast("bigint").alias("n_users"),
        F.floor(
            F.lit(1e6)
            * F.col("n_users")
            / F.max(
                F.when(F.col("week_offset") == 0, F.col("n_users"))
            ).over(w)
        )
        .cast("bigint")
        .alias("retention_ppm"),
    )


# --------------------------------------------------------------------------
# q103 — time-weighted average value per event type (round 8): the TWAP /
# time-in-state aggregate — each event's value holds until the user's next
# event, capped at a 3600 s idle horizon, and the average weights value by
# held duration instead of event count. Everything is integer arithmetic
# (cents x whole seconds) so the result is bit-exact regardless of
# aggregation order. Plan: ONE user-keyed window (lead) then a bounded
# group-by on event_type — the same single-shuffle shape as q23/q24, fully
# partition-parallel at 100 TB.
# --------------------------------------------------------------------------
_Q103_IDLE_CAP_S = 3600


@register(
    "q103_time_weighted_value",
    f"""
    WITH e AS (
      SELECT user_id, event_type, event_id,
             epoch_us(ts) AS us,
             CAST(FLOOR(value * 100) AS BIGINT) AS cents
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ), gaps AS (
      SELECT event_type, cents,
             (LEAD(us) OVER (PARTITION BY user_id
                             ORDER BY us, event_id) - us) // 1000000 AS gap_s
      FROM e
    ), seg AS (
      -- LEAST() SKIPS NULLs in both engines, so cap only when a successor
      -- exists — a user's final event must drop, not get the cap value
      SELECT event_type, cents,
             CASE WHEN gap_s IS NULL THEN NULL
                  ELSE LEAST(gap_s, {_Q103_IDLE_CAP_S}) END AS dur_s
      FROM gaps
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(dur_s) AS BIGINT) AS total_s,
           CAST(SUM(cents * dur_s) AS BIGINT) AS weighted_cents_s,
           CAST(SUM(cents * dur_s) // GREATEST(SUM(dur_s), 1) AS BIGINT)
             AS twap_cents
    FROM seg WHERE dur_s IS NOT NULL
    GROUP BY event_type
    """,
    "time-weighted average value (TWAP) per event type: value held until "
    "the user's next event, idle-capped at 1 h — integer cents x seconds, "
    "one user-keyed window + one bounded agg",
)
def q103_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    # load_table normalizes ts to TimestampType; unix_micros keeps the
    # epoch integer (never double — μs epochs exceed double's 2^53)
    e = ev.select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros(F.col("ts")).alias("us"),
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    # least() SKIPS NULLs in both Spark and DuckDB — cap only when a
    # successor exists so each user's final event drops instead of
    # inheriting the cap value
    seg = (
        e.withColumn("lead_us", F.lead("us").over(w))
        .select(
            "event_type",
            "cents",
            F.when(
                F.col("lead_us").isNotNull(),
                F.least(
                    F.expr("(lead_us - us) DIV 1000000"),
                    F.lit(_Q103_IDLE_CAP_S).cast("bigint"),
                ),
            ).alias("dur_s"),
        )
    )
    return (
        seg.filter(F.col("dur_s").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_segments"),
            F.sum("dur_s").cast("bigint").alias("total_s"),
            F.sum(F.col("cents") * F.col("dur_s")).cast("bigint").alias("weighted_cents_s"),
            F.expr(
                "sum(cents * dur_s) DIV greatest(sum(dur_s), 1)"
            ).cast("bigint").alias("twap_cents"),
        )
    )


# --------------------------------------------------------------------------
# p17 — per-user contribution-bounded aggregation (round 8): the
# DP-style pre-aggregation every privacy-reviewed analytics pipeline runs
# (Wilson et al. 2020, "Differentially private SQL with bounded user
# contribution"): before any daily metric, each user contributes at most
# C events per day — rank events per (user, day) by (ts, event_id), keep
# rank <= C — so a single bot account cannot dominate a count or sum.
# Emits the capped metrics NEXT TO the raw ones plus the clipped-user
# census, making the bounding itself auditable. One (user, day)-keyed
# window over naturally partition-parallel groups; values quantized to
# integer cents BEFORE summing (the dq03 rule) so both engines'
# aggregation is order-free.
# --------------------------------------------------------------------------
_P17_CAP = 5


@register(
    "p17_user_contribution_cap",
    f"""
    WITH ev AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(FLOOR(value * 100) AS BIGINT) AS cents,
             ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                ORDER BY ts, event_id) AS rk
      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ), per_user AS (
      SELECT user_id, day,
             COUNT(*) AS n_raw,
             SUM(CASE WHEN rk <= {_P17_CAP} THEN 1 ELSE 0 END) AS n_capped,
             SUM(cents) AS raw_cents,
             SUM(CASE WHEN rk <= {_P17_CAP} THEN cents ELSE 0 END) AS capped_cents
      FROM ev GROUP BY 1, 2
    )
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN n_raw > {_P17_CAP} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_users,
           CAST(SUM(n_raw) AS BIGINT) AS n_events_raw,
           CAST(SUM(n_capped) AS BIGINT) AS n_events_capped,
           CAST(SUM(raw_cents) AS BIGINT) AS raw_cents,
           CAST(SUM(capped_cents) AS BIGINT) AS capped_cents
    FROM per_user GROUP BY 1
    """,
    "DP-style bounded-contribution daily aggregation: each user capped at "
    "5 events/day by a (user, day) window, capped vs raw counts and cent "
    "sums plus the clipped-user census per day",
)
def p17_user_contribution_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    day = F.to_date("ts")
    w = Window.partitionBy("user_id", day).orderBy("ts", "event_id")
    ranked = ev.select(
        "user_id",
        day.alias("day"),
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        F.row_number().over(w).alias("rk"),
    )
    per_user = ranked.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum((F.col("rk") <= _P17_CAP).cast("int")).alias("n_capped"),
        F.sum("cents").alias("raw_cents"),
        F.sum(F.when(F.col("rk") <= _P17_CAP, F.col("cents")).otherwise(F.lit(0))).alias(
            "capped_cents"
        ),
    )
    return per_user.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum((F.col("n_raw") > _P17_CAP).cast("int"))
        .cast("bigint")
        .alias("n_clipped_users"),
        F.sum("n_raw").cast("bigint").alias("n_events_raw"),
        F.sum("n_capped").cast("bigint").alias("n_events_capped"),
        F.sum("raw_cents").cast("bigint").alias("raw_cents"),
        F.sum("capped_cents").cast("bigint").alias("capped_cents"),
    )
