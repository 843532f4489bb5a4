"""Data-quality audit queries (the dq family): drift, outliers, checksums, reconciliation. Split out of breadth_queries.py in round 9 (mechanical move; no semantic change)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_data_engineering_spark.plans.registry import register
from aws_data_engineering_spark.sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# dq07 — winsorized statistics: per-segment p01/p99 exact percentiles of
# customer balance, then mean/stddev before vs after clipping to that band —
# the outlier-robust feature-scaling audit. Percentiles come from one
# groupBy agg over 5 segments (exact interpolated percentile == DuckDB
# quantile_cont), re-joined by broadcast; everything else is plain
# partial-agg arithmetic.
# --------------------------------------------------------------------------
@register(
    "dq07_winsorized_stats",
    """
    WITH q AS (
      SELECT c_mktsegment,
             quantile_cont(c_acctbal, 0.01) AS p01,
             quantile_cont(c_acctbal, 0.99) AS p99
      FROM customer GROUP BY c_mktsegment
    )
    SELECT c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(MIN(q.p01), 2) AS p01,
           ROUND(MIN(q.p99), 2) AS p99,
           ROUND(AVG(c_acctbal), 2) AS avg_raw,
           ROUND(AVG(LEAST(GREATEST(c_acctbal, q.p01), q.p99)), 2) AS avg_winsor,
           ROUND(stddev_samp(c_acctbal), 2) AS std_raw,
           ROUND(stddev_samp(LEAST(GREATEST(c_acctbal, q.p01), q.p99)), 2)
             AS std_winsor
    FROM customer c JOIN q USING (c_mktsegment)
    GROUP BY c.c_mktsegment
    """,
    "winsorized stats: exact per-segment p01/p99 clip band, mean/stddev "
    "before vs after clipping — percentile agg + broadcast re-join",
)
def dq07_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    q = cust.groupBy("c_mktsegment").agg(
        F.percentile("c_acctbal", 0.01).alias("p01"),
        F.percentile("c_acctbal", 0.99).alias("p99"),
    )
    clipped = F.least(F.greatest(F.col("c_acctbal"), F.col("p01")), F.col("p99"))
    return (
        cust.join(F.broadcast(q), "c_mktsegment")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.min("p01"), 2).alias("p01"),
            F.round(F.min("p99"), 2).alias("p99"),
            F.round(F.avg("c_acctbal"), 2).alias("avg_raw"),
            F.round(F.avg(clipped), 2).alias("avg_winsor"),
            F.round(F.stddev_samp("c_acctbal"), 2).alias("std_raw"),
            F.round(F.stddev_samp(clipped), 2).alias("std_winsor"),
        )
    )


# --------------------------------------------------------------------------
# dq08 — uniqueness / candidate-key profile: declared-key cardinality vs
# row count for every keyed fixture table (including lineitem's compound
# key), the "is my primary key actually unique" audit that gates any MERGE
# pipeline (the reference's W5 assumes PK uniqueness; this is the check).
# One partial-agg + exact distinct per table, unioned.
# --------------------------------------------------------------------------
@register(
    "dq08_uniqueness_profile",
    """
    SELECT 'orders.o_orderkey' AS entity, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           CAST(COUNT(DISTINCT o_orderkey) = COUNT(*) AS INT) AS is_unique
    FROM orders
    UNION ALL
    SELECT 'lineitem.(l_orderkey,l_linenumber)', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT),
           CAST(COUNT(DISTINCT (l_orderkey, l_linenumber)) = COUNT(*) AS INT)
    FROM lineitem
    UNION ALL
    SELECT 'customer.c_custkey', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT c_custkey) AS BIGINT),
           CAST(COUNT(DISTINCT c_custkey) = COUNT(*) AS INT)
    FROM customer
    UNION ALL
    SELECT 'events.event_id', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT event_id) AS BIGINT),
           CAST(COUNT(DISTINCT event_id) = COUNT(*) AS INT)
    FROM events
    UNION ALL
    SELECT 'documents.doc_id', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT doc_id) AS BIGINT),
           CAST(COUNT(DISTINCT doc_id) = COUNT(*) AS INT)
    FROM documents
    """,
    "candidate-key uniqueness profile: exact key cardinality vs row count "
    "per keyed table (incl. compound keys) — the PK-uniqueness gate any "
    "MERGE pipeline assumes",
)
def dq08_uniqueness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    def profile(df: DataFrame, entity: str, *cols: str) -> DataFrame:
        return df.agg(
            F.lit(entity).alias("entity"),
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(*cols).alias("n_distinct"),
        ).select(
            "entity",
            "n_rows",
            "n_distinct",
            (F.col("n_distinct") == F.col("n_rows")).cast("int").alias("is_unique"),
        )

    parts = [
        profile(_t(spark, sf_dir, "orders"), "orders.o_orderkey", "o_orderkey"),
        profile(
            _t(spark, sf_dir, "lineitem"),
            "lineitem.(l_orderkey,l_linenumber)",
            "l_orderkey",
            "l_linenumber",
        ),
        profile(_t(spark, sf_dir, "customer"), "customer.c_custkey", "c_custkey"),
        profile(_t(spark, sf_dir, "events"), "events.event_id", "event_id"),
        profile(_t(spark, sf_dir, "documents"), "documents.doc_id", "doc_id"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --------------------------------------------------------------------------
# dq09 — Benford first-digit audit: the fraud/corruption screen for any
# financial column. The leading significant digit is extracted through
# integer cents (ROUND(x*100) -> BIGINT -> first char of the integer's
# decimal string) — never through float log10/pow, whose boundary rounding
# can flip a digit on one engine only. Expected Benford mass log10(1+1/d)
# computes on exact small rationals, so both engines round identically.
# --------------------------------------------------------------------------
@register(
    "dq09_benford_audit",
    """
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
                              AS VARCHAR), 1, 1) AS INT) AS digit
      FROM orders WHERE o_totalprice > 0
    ), c AS (
      SELECT digit, COUNT(*) AS n FROM d GROUP BY digit
    ), t AS (
      SELECT SUM(n) AS total FROM c
    )
    SELECT digit, CAST(n AS BIGINT) AS n,
           ROUND(CAST(n AS DOUBLE) / total, 6) AS observed_frac,
           ROUND(log10(1.0 + 1.0 / digit), 6) AS benford_frac
    FROM c, t
    """,
    "Benford first-digit audit over order totals: digit extracted via "
    "integer cents (no float log paths), observed vs theoretical mass "
    "per digit",
)
def dq09_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    digit = F.substring(
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").cast("string"), 1, 1
    ).cast("int")
    c = (
        orders.filter(F.col("o_totalprice") > 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    t = c.agg(F.sum("n").alias("total"))
    return c.crossJoin(F.broadcast(t)).select(
        "digit",
        "n",
        F.round(F.col("n").cast("double") / F.col("total"), 6).alias("observed_frac"),
        F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6).alias("benford_frac"),
    )


# --------------------------------------------------------------------------
# dq11 — population stability index (PSI): the standard feature-drift
# monitor. Decile edges come from the REFERENCE week's exact percentiles
# (interpolated percentile == DuckDB quantile_cont, the q17/dq07 parity),
# both periods bin against those same edges (pure double comparisons on
# bit-identical edge values), and each bin reports its PSI term
# (p-q)*ln(p/q) on exact-integer count ratios. A bin the current period
# never hits yields NULL on both engines rather than a fabricated epsilon.
# --------------------------------------------------------------------------
_DQ11_REF_END, _DQ11_CUR_START = "2024-01-08", "2024-01-24"


def _dq11_oracle() -> str:
    deciles = ", ".join(f"quantile_cont(value, {i / 10})" for i in range(1, 10))
    bin_expr = "1 + " + " + ".join(
        f"CASE WHEN value > e.edges[{k}] THEN 1 ELSE 0 END" for k in range(1, 10)
    )
    return f"""
    WITH ref AS (
      SELECT value FROM events
      WHERE ts < TIMESTAMP '{_DQ11_REF_END}' AND value IS NOT NULL
    ), cur AS (
      SELECT value FROM events
      WHERE ts >= TIMESTAMP '{_DQ11_CUR_START}' AND value IS NOT NULL
    ), e AS (
      SELECT [{deciles}] AS edges FROM ref
    ), rb AS (
      SELECT {bin_expr} AS bin, COUNT(*) AS n FROM ref, e GROUP BY bin
    ), cb AS (
      SELECT {bin_expr} AS bin, COUNT(*) AS n FROM cur, e GROUP BY bin
    ), tot AS MATERIALIZED (
      SELECT (SELECT SUM(n) FROM rb) AS nr, (SELECT SUM(n) FROM cb) AS nc
    )
    SELECT CAST(rb.bin AS INT) AS bin,
           CAST(rb.n AS BIGINT) AS n_ref,
           CAST(COALESCE(cb.n, 0) AS BIGINT) AS n_cur,
           ROUND((CAST(rb.n AS DOUBLE) / nr - CAST(cb.n AS DOUBLE) / nc)
                 * ln((CAST(rb.n AS DOUBLE) / nr)
                      / (CAST(cb.n AS DOUBLE) / nc)), 6) AS psi_term
    FROM rb LEFT JOIN cb USING (bin) CROSS JOIN tot
    """


@register(
    "dq11_psi_drift",
    _dq11_oracle(),
    "population stability index per decile bin: reference-week percentile "
    "edges, both periods binned on bit-identical edge doubles, PSI terms "
    "on exact-integer count ratios — the standard feature-drift monitor",
)
def dq11_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    ref = events.filter(
        (F.col("ts") < F.lit(_DQ11_REF_END).cast("timestamp"))
        & F.col("value").isNotNull()
    ).select("value")
    cur = events.filter(
        (F.col("ts") >= F.lit(_DQ11_CUR_START).cast("timestamp"))
        & F.col("value").isNotNull()
    ).select("value")
    edges = ref.agg(
        F.percentile("value", F.array(*[F.lit(i / 10) for i in range(1, 10)])).alias(
            "edges"
        )
    )

    def binned(df: DataFrame) -> DataFrame:
        b = F.lit(1)
        for k in range(1, 10):
            b = b + F.when(
                F.col("value") > F.element_at("edges", k), 1
            ).otherwise(0)
        return (
            df.crossJoin(F.broadcast(edges))
            .select(b.alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    rb = binned(ref).select(F.col("bin"), F.col("n").alias("n_ref"))
    cb = binned(cur).select(F.col("bin").alias("cbin"), F.col("n").alias("n_cur0"))
    nr = rb.agg(F.sum("n_ref").alias("nr"))
    nc = cb.agg(F.sum("n_cur0").alias("nc"))
    joined = (
        rb.join(cb, rb["bin"] == cb["cbin"], "left")
        .crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(nc))
    )
    p = F.col("n_ref").cast("double") / F.col("nr")
    q = F.col("n_cur0").cast("double") / F.col("nc")
    return joined.select(
        F.col("bin").cast("int").alias("bin"),
        "n_ref",
        F.coalesce(F.col("n_cur0"), F.lit(0)).alias("n_cur"),
        F.round((p - q) * F.log(p / q), 6).alias("psi_term"),
    )


# --------------------------------------------------------------------------
# dq12 — functional-dependency audit: for each candidate FD X -> Y, how
# many X values map to more than one distinct Y (profilers call these FD
# violations; they catch denormalization drift and bad joins upstream).
# One shuffle groupBy per FD, then a single-row reduce — fully partial-agg
# friendly, nothing driver-side. NULL determinants are excluded, NULL
# dependents are ignored by COUNT(DISTINCT) on both engines.
# --------------------------------------------------------------------------
_DQ12_FDS = [
    ("orders", "o_custkey", "o_orderpriority"),
    ("events", "user_id", "event_type"),
    ("documents", "lang", "source"),
    ("customer", "c_nationkey", "c_mktsegment"),
]


def _dq12_oracle() -> str:
    parts = []
    for table, det, dep in _DQ12_FDS:
        parts.append(f"""
    SELECT '{table}.{det}->{dep}' AS fd,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating,
           ROUND(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
             AS violation_rate
    FROM (
      SELECT {det}, COUNT(DISTINCT {dep}) AS nd
      FROM {table} WHERE {det} IS NOT NULL GROUP BY {det}
    )""")
    return " UNION ALL ".join(parts)


@register(
    "dq12_functional_dependency_audit",
    _dq12_oracle(),
    "candidate functional-dependency audit over four X->Y pairs: count of "
    "determinant values with >1 distinct dependent, as a violation rate",
)
def dq12_functional_dependency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for table, det, dep in _DQ12_FDS:
        g = (
            _t(spark, sf_dir, table)
            .filter(F.col(det).isNotNull())
            .groupBy(det)
            .agg(F.countDistinct(dep).alias("nd"))
        )
        viol = F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
        row = g.agg(
            F.count(F.lit(1)).alias("n_keys"),
            viol.alias("n_violating"),
            F.round(viol / F.count(F.lit(1)), 6).alias("violation_rate"),
        ).select(
            F.lit(f"{table}.{det}->{dep}").alias("fd"),
            "n_keys",
            "n_violating",
            "violation_rate",
        )
        out = row if out is None else out.unionByName(row)
    return out


# --------------------------------------------------------------------------
# dq13 — median-absolute-deviation robust outlier scan: the robust twin of
# dq03's 3-sigma z-score (one far outlier inflates sigma and hides its
# peers; the MAD doesn't break down until half the data is bad). FP rule:
# values are floored to integer micro-units FIRST, so the medians are exact
# dyadic doubles and the |x - med| > 4.4478 * mad compare is bit-identical
# on both engines (no raw-double-vs-aggregate-threshold count flips).
# Two percentile passes + one counting pass, each a shuffle agg; the
# per-type median re-join is a broadcast of |event types| rows.
# --------------------------------------------------------------------------
@register(
    "dq13_mad_outliers",
    """
    WITH u AS (
      SELECT event_type, CAST(FLOOR(value * 1e6) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL
    ), med AS (
      SELECT event_type, quantile_cont(v, 0.5) AS med_u FROM u GROUP BY 1
    ), dev AS (
      SELECT u.event_type, ABS(u.v - m.med_u) AS d, m.med_u
      FROM u JOIN med m USING (event_type)
    ), mad AS (
      SELECT event_type, quantile_cont(d, 0.5) AS mad_u FROM dev GROUP BY 1
    )
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(d.med_u) AS median_u,
           MIN(a.mad_u) AS mad_u,
           CAST(SUM(CASE WHEN d.d > 3 * 1.4826 * a.mad_u THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN mad a USING (event_type)
    GROUP BY d.event_type
    """,
    "median-absolute-deviation robust outlier scan per event type on "
    "integer micro-units (exact medians, bit-stable threshold compare) — "
    "the robust twin of dq03's z-score",
)
def dq13_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.floor(F.col("value") * 1e6).cast("bigint").alias("v"),
        )
    )
    med = u.groupBy("event_type").agg(F.percentile("v", 0.5).alias("med_u"))
    dev = u.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("v") - F.col("med_u")).alias("d"), "med_u"
    )
    mad = dev.groupBy("event_type").agg(F.percentile("d", 0.5).alias("mad_u"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("med_u").alias("median_u"),
            F.min("mad_u").alias("mad_u"),
            F.sum(
                F.when(
                    F.col("d") > F.lit(3) * F.lit(1.4826) * F.col("mad_u"), 1
                ).otherwise(0)
            ).alias("n_outliers"),
        )
    )


# --------------------------------------------------------------------------
# dq14 — order-insensitive cross-engine table checksum: every row hashes to
# a 60-bit integer (first 15 hex chars of md5 over a '|'-joined canonical
# string form — doubles quantized to integer cents first, NULLs mapped to
# a sentinel), and the table fingerprint is the SUM of row hashes mod
# 2^61-1. Addition commutes, so the checksum is partition- and
# order-independent: two engines (or a source and its replicated copy)
# agree iff the row multisets agree (modulo hash collisions) — the
# replication-validation primitive, computed in one pass with only an
# 8-byte accumulator per partition crossing the shuffle. The per-row sum
# accumulates in decimal(38) so no scale of table can overflow it.
# --------------------------------------------------------------------------
_DQ14_MOD = 2305843009213693951  # 2^61 - 1


def _dq14_hash_sql(cols: str) -> str:
    h = f"md5({cols})"

    def hexval(i: int) -> str:
        a = f"ascii(substr({h}, {i}, 1))"
        return f"({a} - 48 - CASE WHEN {a} >= 97 THEN 39 ELSE 0 END)"

    return " + ".join(
        f"CAST({hexval(i + 1)} AS BIGINT) * CAST({16 ** (14 - i)} AS BIGINT)"
        for i in range(15)
    )


def _dq14_oracle() -> str:
    specs = {
        "region": "CAST(r_regionkey AS VARCHAR) || '|' || COALESCE(r_name, chr(1))",
        "nation": (
            "CAST(n_nationkey AS VARCHAR) || '|' || COALESCE(n_name, chr(1))"
            " || '|' || CAST(n_regionkey AS VARCHAR)"
        ),
        "supplier": (
            "CAST(s_suppkey AS VARCHAR) || '|' || COALESCE(s_name, chr(1))"
            " || '|' || CAST(s_nationkey AS VARCHAR) || '|' ||"
            " CAST(CAST(FLOOR(s_acctbal * 100) AS BIGINT) AS VARCHAR)"
        ),
    }
    parts = [
        f"""
    SELECT '{t}' AS tbl,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(({_dq14_hash_sql(expr)}) AS HUGEINT))
                % {_DQ14_MOD} AS BIGINT) AS checksum
    FROM {t}"""
        for t, expr in specs.items()
    ]
    return " UNION ALL ".join(parts)


@register(
    "dq14_table_checksum",
    _dq14_oracle(),
    "order-insensitive cross-engine table fingerprint: 60-bit md5 row "
    "hashes over canonicalized columns (doubles as integer cents) summed "
    "mod 2^61-1 — replication validation in one pass, 8 bytes per "
    "partition cross the shuffle",
)
def dq14_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    sentinel = F.lit("\x01")

    def canon_str(c: F.Column) -> F.Column:
        return F.coalesce(c.cast("string"), sentinel)

    def cents(c: F.Column) -> F.Column:
        return F.floor(c * 100).cast("bigint").cast("string")

    specs = {
        "region": lambda d: F.concat_ws(
            "|", canon_str(d["r_regionkey"]), canon_str(d["r_name"])
        ),
        "nation": lambda d: F.concat_ws(
            "|",
            canon_str(d["n_nationkey"]),
            canon_str(d["n_name"]),
            canon_str(d["n_regionkey"]),
        ),
        "supplier": lambda d: F.concat_ws(
            "|",
            canon_str(d["s_suppkey"]),
            canon_str(d["s_name"]),
            canon_str(d["s_nationkey"]),
            cents(d["s_acctbal"]),
        ),
    }
    out = None
    for t, rowfn in specs.items():
        d = _t(spark, sf_dir, t)
        h = F.conv(F.substring(F.md5(rowfn(d)), 1, 15), 16, 10).cast("bigint")
        row = d.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.pmod(F.sum(h.cast("decimal(38,0)")), F.lit(_DQ14_MOD))
            .cast("bigint")
            .alias("checksum"),
        ).select(F.lit(t).alias("tbl"), "n_rows", "checksum")
        out = row if out is None else out.unionByName(row)
    return out


# --------------------------------------------------------------------------
# dq15 — chi-square independence audit between event_type and day-of-week:
# the contingency table is exact integer counts, expected counts are
# (row_total * col_total) / grand_total on exact integers, and each cell
# reports its (observed-expected)^2/expected term — flags weekly
# seasonality interacting with event mix (a skewed error-by-weekday cell
# is an ops incident signature). Totals come from windows over the
# |types|×|weekdays| cell table (35 rows), so nothing driver-side and no
# scalar broadcast; the raw scan is one groupBy.
# --------------------------------------------------------------------------
@register(
    "dq15_chi2_independence",
    """
    WITH cells AS (
      SELECT event_type, CAST(isodow(ts) AS INT) AS dow, COUNT(*) AS o
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ), tot AS MATERIALIZED (
      SELECT event_type, dow, o,
             SUM(o) OVER (PARTITION BY event_type) AS row_t,
             SUM(o) OVER (PARTITION BY dow) AS col_t,
             SUM(o) OVER () AS grand
      FROM cells
    )
    SELECT event_type, dow,
           CAST(o AS BIGINT) AS observed,
           ROUND(row_t * 1.0 * col_t / grand, 6) AS expected,
           ROUND((o - row_t * 1.0 * col_t / grand)
                 * (o - row_t * 1.0 * col_t / grand)
                 / (row_t * 1.0 * col_t / grand), 6) AS chi2_term
    FROM tot
    """,
    "chi-square independence audit between event type and ISO weekday: "
    "exact-integer contingency table, expected counts from integer "
    "cross-products, per-cell chi2 terms — weekly-seasonality × event-mix "
    "drift detector",
)
def dq15_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = (
        _t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .groupBy(
            "event_type",
            F.dayofweek_iso("ts").cast("int").alias("dow")
            if hasattr(F, "dayofweek_iso")
            else F.expr("(dayofweek(ts) + 5) % 7 + 1").cast("int").alias("dow"),
        )
        .agg(F.count(F.lit(1)).alias("o"))
    )
    row_t = F.sum("o").over(Window.partitionBy("event_type"))
    col_t = F.sum("o").over(Window.partitionBy("dow"))
    grand = F.sum("o").over(Window.partitionBy())
    e = row_t * 1.0 * col_t / grand
    return cells.select(
        "event_type",
        "dow",
        F.col("o").alias("observed"),
        F.round(e, 6).alias("expected"),
        F.round((F.col("o") - e) * (F.col("o") - e) / e, 6).alias("chi2_term"),
    )


# --------------------------------------------------------------------------
# dq16 — mean-shift changepoint scan (round-6): the two-sided sliding-
# window test a monitoring pipeline runs over a metric series ("did daily
# revenue level-shift here?"). Daily revenue is aggregated in exact
# integer cents (floor, matching both engines bit-for-bit), then each day
# compares the trailing-7-day sum against the leading-7-day sum with
# RANGE-keyed windows (day-number key, so calendar gaps can't misalign
# the frames the way ROWS would); the flag is RELATIVE (|shift|*4 > trail,
# i.e. a >25%% level shift) so it stays discriminative at any scale
# factor. shift = lead - trail is pure int64
# arithmetic — the whole query has NO floating point, so the hash match
# is exact by construction (the dq03 quantize-first rule taken to its
# limit). Scale: one partial-agg groupBy(day) collapses the fact table to
# a bounded series before any window runs — the window stage sees ~10^3
# rows however big the input is; a production run would partition the
# window by (year) or metric key to keep it off a single task.
# --------------------------------------------------------------------------
_DQ16_WIN = 7  # days on each side
_DQ16_REL_NUM = 4  # flag when |shift| * 4 > trail (a >25% level shift)


@register(
    "dq16_mean_shift_changepoints",
    f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS day_num,
             SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS rev_cents
      FROM orders GROUP BY 1, 2
    ), shifted AS (
      SELECT day, rev_cents,
             SUM(rev_cents) OVER (ORDER BY day_num
               RANGE BETWEEN {_DQ16_WIN} PRECEDING AND 1 PRECEDING)
               AS trail_cents,
             COUNT(*) OVER (ORDER BY day_num
               RANGE BETWEEN {_DQ16_WIN} PRECEDING AND 1 PRECEDING)
               AS trail_days,
             SUM(rev_cents) OVER (ORDER BY day_num
               RANGE BETWEEN CURRENT ROW AND {_DQ16_WIN - 1} FOLLOWING)
               AS lead_cents,
             COUNT(*) OVER (ORDER BY day_num
               RANGE BETWEEN CURRENT ROW AND {_DQ16_WIN - 1} FOLLOWING)
               AS lead_days
      FROM daily
    )
    SELECT day,
           CAST(rev_cents AS BIGINT) AS rev_cents,
           CAST(trail_cents AS BIGINT) AS trail_cents,
           CAST(lead_cents AS BIGINT) AS lead_cents,
           CAST(lead_cents - trail_cents AS BIGINT) AS shift_cents,
           CAST(abs(lead_cents - trail_cents) * {_DQ16_REL_NUM} > trail_cents
                AND trail_days = {_DQ16_WIN} AND lead_days = {_DQ16_WIN}
                AS BOOLEAN) AS is_changepoint
    FROM shifted
    """,
    "mean-shift changepoint scan over the daily revenue series: trailing "
    "vs leading 7-day RANGE windows in exact integer cents (zero floating "
    "point end-to-end); partial-agg collapses the fact table to a bounded "
    "series before the window stage",
)
def dq16_mean_shift_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.to_date("o_orderdate").alias("day"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).alias(
            "day_num"
        ),
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "rev_cents"
        )
    )
    w_trail = (
        Window.orderBy("day_num").rangeBetween(-_DQ16_WIN, -1)
    )
    w_lead = Window.orderBy("day_num").rangeBetween(0, _DQ16_WIN - 1)
    shifted = daily.select(
        "day",
        "rev_cents",
        F.sum("rev_cents").over(w_trail).alias("trail_cents"),
        F.count(F.lit(1)).over(w_trail).alias("trail_days"),
        F.sum("rev_cents").over(w_lead).alias("lead_cents"),
        F.count(F.lit(1)).over(w_lead).alias("lead_days"),
    )
    return shifted.select(
        "day",
        "rev_cents",
        "trail_cents",
        "lead_cents",
        (F.col("lead_cents") - F.col("trail_cents")).alias("shift_cents"),
        (
            (
                F.abs(F.col("lead_cents") - F.col("trail_cents"))
                * F.lit(_DQ16_REL_NUM)
                > F.col("trail_cents")
            )
            & (F.col("trail_days") == _DQ16_WIN)
            & (F.col("lead_days") == _DQ16_WIN)
        ).alias("is_changepoint"),
    )


# --------------------------------------------------------------------------
# dq17 — schema/profile drift audit (round-6d): the post-ingest check that
# an upstream producer changed SHAPE, not just volume (dq04 catches
# volume) — per column, row/null/distinct counts in two adjacent periods
# plus the distinct-cardinality ratio. Columns are MELTED into (column,
# canonical string value) rows so one groupBy profiles every column in a
# single pass; doubles are quantized to integer micro-units BEFORE the
# string cast (float->string formatting is not an engine-portable
# canonicalization; integers are). All counts exact; the drift ratio is
# one division of exact integers. Scale: 2 scans (one per period side of
# the melt) x partial-agg; output bounded by the column list.
# --------------------------------------------------------------------------
_DQ17_SPLIT = "2024-01-16"


@register(
    "dq17_profile_drift_audit",
    f"""
    WITH melted AS (
      SELECT CASE WHEN ts < TIMESTAMP '{_DQ17_SPLIT}' THEN 'a' ELSE 'b' END
               AS period, col, val
      FROM (
        SELECT ts, 'user_id' AS col, CAST(user_id AS VARCHAR) AS val FROM events
        UNION ALL
        SELECT ts, 'event_type', event_type FROM events
        UNION ALL
        SELECT ts, 'value',
               CAST(CAST(FLOOR(value * 1e6) AS BIGINT) AS VARCHAR) FROM events
        UNION ALL
        SELECT ts, 'props', props FROM events
      ) WHERE ts IS NOT NULL
    ), prof AS (
      SELECT period, col,
             COUNT(*) AS n_rows,
             COUNT(*) - COUNT(val) AS n_nulls,
             COUNT(DISTINCT val) AS n_distinct
      FROM melted GROUP BY period, col
    )
    SELECT a.col AS column_name,
           CAST(a.n_rows AS BIGINT) AS rows_a,
           CAST(a.n_nulls AS BIGINT) AS nulls_a,
           CAST(a.n_distinct AS BIGINT) AS distinct_a,
           CAST(b.n_rows AS BIGINT) AS rows_b,
           CAST(b.n_nulls AS BIGINT) AS nulls_b,
           CAST(b.n_distinct AS BIGINT) AS distinct_b,
           CAST(b.n_distinct AS DOUBLE) / a.n_distinct AS distinct_ratio
    FROM (SELECT * FROM prof WHERE period = 'a') a
    JOIN (SELECT * FROM prof WHERE period = 'b') b ON a.col = b.col
    """,
    "schema/profile drift audit: per-column row/null/distinct counts in "
    "two adjacent periods via a single melted groupBy pass — doubles "
    "micro-quantized before the string canonicalization; exact counts, "
    "one integer-ratio division",
)
def dq17_profile_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    parts = [
        ev.select("ts", F.lit("user_id").alias("col"),
                  F.col("user_id").cast("string").alias("val")),
        ev.select("ts", F.lit("event_type").alias("col"),
                  F.col("event_type").alias("val")),
        ev.select("ts", F.lit("value").alias("col"),
                  F.floor(F.col("value") * 1e6).cast("bigint")
                  .cast("string").alias("val")),
        ev.select("ts", F.lit("props").alias("col"), F.col("props").alias("val")),
    ]
    melted = parts[0]
    for p in parts[1:]:
        melted = melted.unionByName(p)
    melted = melted.select(
        F.when(F.col("ts") < F.lit(_DQ17_SPLIT).cast("timestamp"), "a")
        .otherwise("b")
        .alias("period"),
        "col",
        "val",
    )
    prof = melted.groupBy("period", "col").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("val")).alias("n_nulls"),
        F.countDistinct("val").alias("n_distinct"),
    )
    a = prof.filter(F.col("period") == "a").drop("period")
    b = prof.filter(F.col("period") == "b").drop("period")
    return (
        a.alias("a")
        .join(b.alias("b"), F.col("a.col") == F.col("b.col"))
        .select(
            F.col("a.col").alias("column_name"),
            F.col("a.n_rows").cast("bigint").alias("rows_a"),
            F.col("a.n_nulls").cast("bigint").alias("nulls_a"),
            F.col("a.n_distinct").cast("bigint").alias("distinct_a"),
            F.col("b.n_rows").cast("bigint").alias("rows_b"),
            F.col("b.n_nulls").cast("bigint").alias("nulls_b"),
            F.col("b.n_distinct").cast("bigint").alias("distinct_b"),
            (
                F.col("b.n_distinct").cast("double") / F.col("a.n_distinct")
            ).alias("distinct_ratio"),
        )
    )


# --------------------------------------------------------------------------
# dq18 — line-number continuity audit (round 8): the classic sequence-
# integrity DQ check — within each order, line numbers should be the
# consecutive run 1..n with no duplicates. Naturally partition-parallel
# (per-order groupBy, then a one-row global census): no global sort, no
# window — the scale-correct form of a sequence audit. Fixture lineitem
# genuinely contains duplicate line numbers, so the census is non-vacuous.
# --------------------------------------------------------------------------
@register(
    "dq18_linenumber_continuity",
    """
    WITH per AS (
      SELECT l_orderkey,
             COUNT(*) AS n_rows,
             COUNT(DISTINCT l_linenumber) AS n_distinct,
             MIN(l_linenumber) AS min_ln,
             MAX(l_linenumber) AS max_ln
      FROM lineitem
      WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
      GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN n_rows > n_distinct THEN 1 ELSE 0 END) AS BIGINT)
             AS n_with_dups,
           CAST(SUM(n_rows - n_distinct) AS BIGINT) AS total_dup_rows,
           CAST(SUM(CASE WHEN max_ln - min_ln + 1 > n_distinct
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_with_gaps,
           CAST(SUM(CASE WHEN min_ln <> 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_not_starting_at_1,
           CAST(MAX(n_rows) AS BIGINT) AS max_rows_per_order
    FROM per
    """,
    "sequence-continuity audit: per-order line numbers checked for "
    "duplicates, interior gaps, and wrong starts — per-key groupBy census, "
    "no global sort",
)
def dq18_linenumber_continuity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey").isNotNull() & F.col("l_linenumber").isNotNull()
    )
    per = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_linenumber").alias("n_distinct"),
        F.min("l_linenumber").alias("min_ln"),
        F.max("l_linenumber").alias("max_ln"),
    )
    return per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum((F.col("n_rows") > F.col("n_distinct")).cast("int"))
        .cast("bigint")
        .alias("n_with_dups"),
        F.sum(F.col("n_rows") - F.col("n_distinct")).cast("bigint").alias("total_dup_rows"),
        F.sum(
            (F.col("max_ln") - F.col("min_ln") + 1 > F.col("n_distinct")).cast("int")
        )
        .cast("bigint")
        .alias("n_with_gaps"),
        F.sum((F.col("min_ln") != 1).cast("int")).cast("bigint").alias("n_not_starting_at_1"),
        F.max("n_rows").cast("bigint").alias("max_rows_per_order"),
    )


# --------------------------------------------------------------------------
# dq19 — referential-integrity orphan audit (round 8): every FK edge of
# the TPC-H-ish schema checked in one pass each — child rows whose key is
# NULL, rows whose non-null key has no parent, and the distinct orphan
# keys behind them. One LEFT join per edge against the DISTINCT parent
# keys (dims broadcast; the two fact-sized edges shuffle on their natural
# join key) + a one-row conditional-agg census; the 7 one-row results
# union into the audit table. The fixture is referentially clean, so the
# oracle pins zeros (the t14 PII posture); the planted-orphan pytest
# proves nonzero counts.
# --------------------------------------------------------------------------
_DQ19_EDGES = [
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
]


def _dq19_oracle() -> str:
    selects = []
    for rel, child, fk, parent, pk in _DQ19_EDGES:
        selects.append(f"""
    SELECT '{rel}' AS relationship,
           CAST(COUNT(*) AS BIGINT) AS n_child_rows,
           CAST(SUM(CASE WHEN c.{fk} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_keys,
           CAST(SUM(CASE WHEN c.{fk} IS NOT NULL AND p.pk IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan_rows,
           CAST(COUNT(DISTINCT CASE WHEN c.{fk} IS NOT NULL AND p.pk IS NULL
                                    THEN c.{fk} END) AS BIGINT) AS n_orphan_keys
    FROM {child} c
    LEFT JOIN (SELECT DISTINCT {pk} AS pk FROM {parent}) p ON c.{fk} = p.pk""")
    return " UNION ALL ".join(selects)


@register(
    "dq19_referential_orphans",
    _dq19_oracle(),
    "referential-integrity audit over all 7 FK edges of the schema: "
    "null-key rows, orphan rows, distinct orphan keys — one left join vs "
    "distinct parent keys per edge, conditional-agg census",
)
def dq19_referential_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for rel, child, fk, parent, pk in _DQ19_EDGES:
        c = _t(spark, sf_dir, child)
        # DISTINCT parent keys: defensive against a duplicated parent pk,
        # which would fan out the left join and inflate the row census
        p = _t(spark, sf_dir, parent).select(F.col(pk).alias("pk")).distinct()
        j = c.join(p, c[fk] == F.col("pk"), "left")
        orphan = F.col(fk).isNotNull() & F.col("pk").isNull()
        row = j.agg(
            F.lit(rel).alias("relationship"),
            F.count(F.lit(1)).cast("bigint").alias("n_child_rows"),
            F.sum(F.col(fk).isNull().cast("int")).cast("bigint").alias("n_null_keys"),
            F.sum(orphan.cast("int")).cast("bigint").alias("n_orphan_rows"),
            F.countDistinct(F.when(orphan, F.col(fk)))
            .cast("bigint")
            .alias("n_orphan_keys"),
        )
        out = row if out is None else out.unionByName(row)
    return out
