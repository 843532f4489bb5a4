"""Round-10 pins: HTML boilerplate extraction (t39), URL canonicalization
(t40/d22), delete-vector compaction (c23)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_data_engineering_spark.operators import web as W
from aws_data_engineering_spark.plans.registry import QUERIES, queries
from tests.oracle_utils import write_docs

queries()  # force registration


# --------------------------------------------------------------------------
# t39 — HTML extraction
# --------------------------------------------------------------------------


def test_t39_extraction_drops_boilerplate_paragraphs(spark, tmp_path):
    """The nav/aside/footer blocks CONTAIN <p> tags; extraction must not
    ingest them. doc_id=2 picks nav variant 2 (which has a <p>), is even
    (aside present, two <p>s) and gets the footer (two <p>s) — yet only
    the two content paragraphs survive."""
    sf = write_docs(tmp_path, [(2, "alpha beta gamma", "en", "web", 0)])
    row = QUERIES["t39_html_boilerplate_extract"].spark(spark, sf).collect()[0]
    assert row["n_paras"] == 2  # content + appendix, no boilerplate <p>s
    expected = "alpha beta gamma appendix for doc 2"
    import hashlib

    assert row["content_fp"] == hashlib.md5(expected.encode()).hexdigest()[:8]
    assert row["content_chars"] == len(expected) - 1  # joinless char count
    assert 0 < row["boiler_ppm"] < 1_000_000


def test_t39_frame_guard_strips_angle_brackets(spark, tmp_path):
    """A document containing literal < > cannot forge tags: the wrapper
    strips them before embedding (the t22 bracket-guard precedent)."""
    sf = write_docs(
        tmp_path, [(1, "evil <nav>fake</nav> <p>inject</p> text", "en", "web", 0)]
    )
    row = QUERIES["t39_html_boilerplate_extract"].spark(spark, sf).collect()[0]
    # injected tags are neutralized -> still exactly the 2 real paragraphs
    assert row["n_paras"] == 2


def test_t39_boilerplate_fraction_varies_with_blocks(spark, tmp_path):
    """Even docs carry the aside block -> strictly larger boilerplate ppm
    than the same-text odd doc (same nav variant: ids 1 and 4 differ)."""
    sf = write_docs(
        tmp_path,
        [(3, "same words here", "en", "web", 0), (6, "same words here", "en", "web", 0)],
    )
    rows = {
        r["doc_id"]: r
        for r in QUERIES["t39_html_boilerplate_extract"].spark(spark, sf).collect()
    }
    # doc 6 (even: aside) vs doc 3 (odd: none) — same nav variant (both %3==0)
    assert rows[6]["boiler_ppm"] > rows[3]["boiler_ppm"]


# --------------------------------------------------------------------------
# t40 / d22 — URL canonicalization rules
# --------------------------------------------------------------------------

_CANON_CASES = [
    # (raw, canonical) — one per rule
    ("HTTP://WWW.Example.COM:80/a/b/?b=2&a=1#top", "http://example.com/a/b?a=1&b=2"),
    ("https://example.com:443/", "https://example.com/"),
    ("https://example.com:8080/x", "https://example.com:8080/x"),  # kept port
    ("http://site.org?utm_source=x&a=1", "http://site.org/?a=1"),
    ("http://site.org?utm_campaign=c", "http://site.org/"),
    ("http://blog.example.co.uk/p/", "http://blog.example.co.uk/p"),
]


def test_t40_canonicalization_rules(spark):
    df = spark.createDataFrame([(u,) for u, _ in _CANON_CASES], "url string")
    got = [
        r["c"] for r in df.select(W.canonicalize_url(F.col("url")).alias("c")).collect()
    ]
    assert got == [c for _, c in _CANON_CASES]


def test_t40_canonicalization_sql_twin_agrees(spark):
    """The DuckDB expression must implement the identical rules."""
    import duckdb

    con = duckdb.connect()
    for raw, want in _CANON_CASES:
        (got,) = con.sql(f"SELECT {W.canonicalize_url_sql(repr(raw))}").fetchone()
        assert got == want, (raw, got, want)


def test_registrable_host_psl_rules(spark):
    cases = [
        ("http://example.com/x", "example.com"),
        ("http://cdn.example.com/x", "example.com"),
        ("http://blog.example.co.uk/x", "example.co.uk"),
        ("http://site.io/x", "site.io"),
        ("http://co.uk/x", "co.uk"),  # bare suffix: no 3rd label to keep
        ("http://localhost/x", "localhost"),  # 1-label: ANSI-safe passthrough
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [
        r["h"] for r in df.select(W.registrable_host(F.col("url")).alias("h")).collect()
    ]
    assert got == [h for _, h in cases]


def test_d22_dup_clusters_are_rule_made(spark, sf_dir):
    """For a SUB-CYCLE corpus (raw-URL cycle = lcm of the residue moduli
    = 1260 > this 500-doc fixture) raw URLs are all distinct, so every
    canonical dup cluster is produced by the rules — and clusters must
    exist (doc_id and doc_id+105/+140 collide by construction). Larger
    corpora (e.g. sf0.1's 5000 docs) additionally repeat identical raw
    URLs every 1260 doc_ids — exact re-crawl dups, not rule-made; this
    test's distinctness claim is scoped to the small fixture on purpose
    (see operators/web.py module comment)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert docs.count() <= 1260, "distinctness claim only holds sub-cycle"
    u = docs.select(W.synth_url(F.col("doc_id")).alias("url"))
    assert u.distinct().count() == docs.count()
    census = QUERIES["d22_url_host_dedup_census"].spark(spark, sf_dir)
    total_dups = census.agg(F.sum("n_dup_docs")).collect()[0][0]
    assert total_dups and total_dups > 0


# --------------------------------------------------------------------------
# c23 — delete-vector compaction file mechanics
# --------------------------------------------------------------------------


def test_c23_compaction_file_mechanics(spark, sf_dir, tmp_path):
    """Only over-threshold files are rewritten: kept files' (mtime, size)
    snapshot is unchanged, rewritten month dirs are replaced, retired
    delete entries vanish, and rewritten files contain no deleted rows."""
    import glob
    import os

    from aws_data_engineering_spark.plans import lakehouse_queries as LK

    root = str(tmp_path / "c23")
    LK._c23_write_layout(spark, sf_dir, root)

    def snap():
        return {
            p: (os.path.getmtime(p), os.path.getsize(p))
            for p in glob.glob(f"{root}/data/m=*/*.parquet")
        }

    before = snap()
    audit = LK._c23_compact(spark, root)
    after = snap()

    # non-vacuous classification both ways (pred: ~50% Jan/Feb, ~25% rest)
    assert audit["n_rewritten_files"] > 0
    assert audit["n_kept_files"] > 0

    kept_paths = set(before) & set(after)
    gone = set(before) - set(after)
    new = set(after) - set(before)
    # kept files byte-untouched
    for p in kept_paths:
        assert before[p] == after[p], f"kept file changed: {p}"
    # one file per month both sides -> rewritten count equals replaced count
    assert len(gone) == audit["n_rewritten_files"]
    assert len(new) == audit["n_rewritten_files"]

    # retired delete entries gone: remaining DV references only kept files
    dv2 = spark.read.schema("fp string, ri bigint").parquet(f"{root}/deletes2")
    dv2_fps = {r["fp"] for r in dv2.select("fp").distinct().collect()}
    kept_suffixes = {os.path.relpath(p, root) for p in kept_paths}
    for fp in dv2_fps:
        assert any(fp.endswith(s) for s in kept_suffixes), fp
    assert dv2.count() == audit["n_dv_remaining"]

    # rewritten files carry no deleted rows at all
    rewritten_months = sorted(
        {int(p.split("m=")[1].split("/")[0]) for p in gone}
    )
    data = spark.read.parquet(f"{root}/data")
    n_bad = (
        data.filter(F.col("m").cast("int").isin(rewritten_months))
        .filter(F.expr(LK._C23_PRED_SPARK))
        .count()
    )
    assert n_bad == 0

    # and the end-to-end aggregate equals the pure merge-on-read answer
    res = LK._c23_read(spark, root, audit)
    direct = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderdate").isNotNull())
        .filter(~F.expr(LK._C23_PRED_SPARK))
        .groupBy((F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias("m"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "revenue_cents"
            ),
        )
    )
    got = {
        r["m"]: (r["n_orders"], r["revenue_cents"])
        for r in res.collect()
    }
    want = {
        r["m"]: (r["n_orders"], r["revenue_cents"])
        for r in direct.collect()
    }
    assert got == want


# --------------------------------------------------------------------------
# c24 — WARC container framing
# --------------------------------------------------------------------------


def test_c24_framing_immune_to_payload_content(spark, tmp_path):
    """A payload containing the record marker and fake header text must not
    confuse the byte-driven parser (a marker-split reader would break)."""
    evil = "see WARC/1.0 WARC-Record-ID: urn:doc:999 Content-Length: 3 done"
    sf = write_docs(
        tmp_path,
        [(7, evil, "en", "web", 0), (15, "plain text here", "en", "web", 0)],
    )
    rows = {
        r["doc_id"]: r
        for r in QUERIES["c24_warc_container_ingest"].spark(spark, sf).collect()
    }
    import hashlib

    assert rows[7]["content_length"] == len(evil)
    assert rows[7]["payload_fp"] == hashlib.md5(evil.encode()).hexdigest()[:8]
    assert rows[7]["file_records"] == 2  # 7 % 8 == 15 % 8 -> same container
    assert rows[15]["file_records"] == 2


def test_c24_crlf_guard_normalizes_payload(spark, tmp_path):
    """Embedded CR/LF would break line-based header parsing; the writer
    normalizes them on both engines (fixture text has none)."""
    sf = write_docs(tmp_path, [(3, "line one\r\nline two\nend", "en", "web", 0)])
    row = QUERIES["c24_warc_container_ingest"].spark(spark, sf).collect()[0]
    clean = "line oneline twoend"
    assert row["content_length"] == len(clean)


# --------------------------------------------------------------------------
# pp03 — web-curation waterfall semantics
# --------------------------------------------------------------------------

_LONG = " ".join(["alpha beta gamma delta epsilon"] * 8)  # 40 tokens


def test_pp03_stages_all_nonvacuous(spark, sf_dir):
    census = QUERIES["pp03_web_curation_pipeline"].spark(spark, sf_dir)
    tot = census.agg(
        F.sum("drop_boiler"), F.sum("drop_urldup"), F.sum("drop_quality"),
        F.sum("n_kept"), F.sum("n_pages"),
    ).collect()[0]
    assert all(v > 0 for v in tot), tot
    assert tot[4] == tot[0] + tot[1] + tot[2] + tot[3]  # conservation


def test_pp03_first_match_wins_and_keeper_skips_boiler(spark, tmp_path):
    """Docs 0/420 share a canonical URL (PAGE_SEG_MOD cluster); doc 0 is
    boilerplate-heavy (tiny text) so it must count as 'boiler', NOT claim
    the canonical slot — 420 is kept. Docs 1/421 both survive extraction:
    1 keeps the slot, 421 drops as 'urldup'."""
    sf = write_docs(
        tmp_path,
        [
            (0, "tiny", "en", "web", 0),  # high boiler ppm
            (420, _LONG, "en", "web", 0),
            (1, _LONG, "en", "web", 0),
            (421, _LONG, "en", "web", 0),
        ],
    )
    census = QUERIES["pp03_web_curation_pipeline"].spark(spark, sf)
    tot = census.agg(
        F.sum("drop_boiler").alias("b"),
        F.sum("drop_urldup").alias("u"),
        F.sum("drop_quality").alias("q"),
        F.sum("n_kept").alias("k"),
    ).collect()[0]
    assert (tot["b"], tot["u"], tot["q"], tot["k"]) == (1, 1, 0, 2)


def test_c23_fully_deleted_month_compacts_to_absence(spark, tmp_path):
    """A 100%-deleted over-threshold month writes no staging dir; its
    compacted form is ABSENCE — the publish loop must remove the original
    without crashing (code-review round 10), and the month vanishes from
    the read-back on both engines."""
    import datetime
    import glob

    from aws_data_engineering_spark.plans import lakehouse_queries as LK

    rows = []
    # 1996-01: all custkeys even -> pred (month in (1,2) and %2==0) deletes all
    for i, ck in enumerate([2, 4, 6, 8]):
        rows.append((100 + i, ck, "O", 10.0, datetime.date(1996, 1, 5 + i), "3-MEDIUM"))
    # 1996-03: one of four matches custkey%4==0 -> 25%, under threshold
    for i, ck in enumerate([1, 3, 5, 4]):
        rows.append((200 + i, ck, "O", 10.0, datetime.date(1996, 3, 5 + i), "3-MEDIUM"))
    spark.createDataFrame(
        rows,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate date, o_orderpriority string",
    ).write.parquet(str(tmp_path / "orders.parquet"))

    root = str(tmp_path / "c23")
    LK._c23_write_layout(spark, str(tmp_path), root)
    audit = LK._c23_compact(spark, root)
    assert audit["n_rewritten_files"] == 1
    assert audit["n_kept_files"] == 1
    assert audit["n_dv_remaining"] == 1  # the one deleted row in 1996-03
    # the fully-deleted month directory is gone
    assert glob.glob(f"{root}/data/m=199601*") == []
    res = {r["m"]: r["n_orders"] for r in LK._c23_read(spark, root, audit).collect()}
    assert res == {199603: 3}


def test_pp03_long_document_no_int32_overflow(spark, tmp_path):
    """1e6 * boilerplate-char count must be computed in BIGINT: a ~2500-word
    page carries >2147 space/boiler chars, overflowing an int32 product
    (ANSI throws; non-ANSI wraps) — code-review round 10."""
    long_doc = " ".join(["word"] * 2500)
    sf = write_docs(
        tmp_path, [(0, long_doc, "en", "web", 0), (1, _LONG, "en", "web", 0)]
    )
    census = QUERIES["pp03_web_curation_pipeline"].spark(spark, sf)
    tot = census.agg(F.sum("n_pages"), F.sum("n_kept")).collect()[0]
    assert tot[0] == 2 and tot[1] == 2


def test_t40_canonicalization_idempotent(spark, sf_dir):
    """Canonicalization must be a FIXED POINT: re-canonicalizing its own
    output changes nothing, over every synthetic URL (both composers)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for seg in (False, True):
        u = docs.select(W.synth_url(F.col("doc_id"), page_seg=seg).alias("url"))
        once = u.select(W.canonicalize_url(F.col("url")).alias("c1"))
        twice = once.select(
            "c1", W.canonicalize_url(F.col("c1")).alias("c2")
        )
        bad = twice.filter(F.col("c1") != F.col("c2")).count()
        assert bad == 0, f"non-idempotent canonicalization (page_seg={seg})"


# --------------------------------------------------------------------------
# t41 — robots matching semantics
# --------------------------------------------------------------------------


def test_t41_longest_match_semantics(spark, sf_dir):
    """Unit-pin the RFC 9309 rules: blanket disallow beaten by a longer
    allow carve-out, sliced disallow inside an allowed section, tie ->
    allow, no rule -> allow."""
    cases = [
        # (host, path, verdict)
        ("site.org", "/a/b/p7", "allowed"),   # allow '/a/' beats disallow '/'
        ("site.org", "/p7", "blocked"),        # only disallow '/' matches
        ("site.org", "//p7", "blocked"),
        ("example.com", "/x/y/z/p3", "blocked"),
        ("example.com", "/a/b/p17", "blocked"),  # sliced disallow '/a/b/p1'
        ("example.com", "/a/b/p27", "allowed"),  # outside the p1* slice
        ("site.io", "/x/y/z/p3", "allowed"),   # no rules -> default allow
        ("example.co.uk", "/x/p1", "blocked"),
        ("example.co.uk", "/a/b", "allowed"),
    ]
    df = spark.createDataFrame(
        [(h, p) for h, p, _ in cases], "reg_host string, path string"
    )
    got = [
        r["v"]
        for r in df.select(
            W.robots_verdict(F.col("reg_host"), F.col("path")).alias("v")
        ).collect()
    ]
    assert got == [v for _, _, v in cases]
    # SQL twin agrees rule-for-rule
    import duckdb

    con = duckdb.connect()
    for h, p, want in cases:
        (g,) = con.sql(
            f"SELECT {W.robots_verdict_sql(repr(h), repr(p))}"
        ).fetchone()
        assert g == want, (h, p, g, want)

    # census non-vacuous both ways at the fixture SF
    census = QUERIES["t41_robots_url_filter"].spark(spark, sf_dir)
    tot = census.agg(F.sum("n_allowed"), F.sum("n_blocked")).collect()[0]
    assert tot[0] > 0 and tot[1] > 0
