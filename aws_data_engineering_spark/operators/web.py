"""Web-crawl curation operators: HTML boilerplate-removal text extraction
and URL canonicalization / registrable-host grouping — the first two stages
of every production web pipeline (trafilatura/jusText extraction, CCNet
shard-by-domain), re-expressed as pure JVM columnar expressions.

Reference semantics source: the web-curation pipelines the engine's d/t
families already model (CCNet, Gopher); the reference repo itself
(`generic_load_script.py`, `FInal/load_script.py`) has no web stage — these
extend the engine surface per the training-data-pipeline brief.

Both halves are built so Spark and the DuckDB oracle derive from the SAME
literal tables in this module: the synthetic HTML wrapper / URL composer is
a deterministic function of (doc_id, text), expressed once as Spark columns
and once as SQL, so the oracle replays generation + extraction end-to-end
and the hash checks the whole mechanism.

Scale notes (100 TB): every operator here is a shuffle-free map stage —
string expressions inside whole-stage codegen, no UDF, no driver state.
Extraction/canonicalization cost is linear in bytes and embarrassingly
partition-parallel; the only shuffles belong to downstream consumers
(d22's per-host census groups by registrable host — a bounded-cardinality
key at any scale since hosts ≪ pages).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# HTML wrapper literals. Deliberately: nav variant 2 and the aside/footer
# blocks contain <p> tags, so a naive "extract all <p>" reader WOULD ingest
# boilerplate — the block-removal rules are load-bearing, exactly the
# jusText/trafilatura failure mode this stage exists to solve.
# --------------------------------------------------------------------------
HTML_NAV = (
    '<nav><a href="/">home</a> <a href="/about">about</a></nav>',
    '<nav><a href="/">home</a> <a href="/docs">docs</a>'
    ' <a href="/blog">blog</a> <a href="/contact">contact</a></nav>',
    "<nav><p>site navigation index</p>" '<a href="/">home</a></nav>',
)
HTML_ASIDE = (
    "<aside><p>related links and promotions</p>"
    "<p>subscribe to the newsletter today</p></aside>"
)
HTML_AD = '<span class="ad">sponsored content buy now</span>'
HTML_FOOTER = (
    "<footer><p>copyright example corp all rights reserved</p>"
    "<p>terms privacy cookies</p></footer>"
)

# extraction rules: strip structural boilerplate blocks, then read the
# remaining paragraph text. Lazy quantifiers parse identically in Java
# regex (Spark) and RE2 (DuckDB); the generated HTML is single-line so '.'
# never meets a newline.
_BLOCK_PATTERNS = (
    "<nav>.*?</nav>",
    "<aside>.*?</aside>",
    "<footer>.*?</footer>",
    '<span class="ad">.*?</span>',
)
_PARA_PATTERN = "<p>(.*?)</p>"
_TAG_PATTERN = "<[^>]*>"


def html_wrap(doc_id: Column, text: Column) -> Column:
    """Deterministic HTML page around a fixture document: title + nav
    (variant by doc_id%3) + optional aside (doc_id%2==0) + main content
    paragraphs with an optional inline ad (doc_id%5==0) + footer."""
    clean = F.regexp_replace(text, "[<>]", "")  # frame guard (t22 precedent)
    nav = (
        F.when(doc_id % 3 == 0, F.lit(HTML_NAV[0]))
        .when(doc_id % 3 == 1, F.lit(HTML_NAV[1]))
        .otherwise(F.lit(HTML_NAV[2]))
    )
    aside = F.when(doc_id % 2 == 0, F.lit(HTML_ASIDE)).otherwise(F.lit(""))
    ad = F.when(doc_id % 5 == 0, F.lit(HTML_AD)).otherwise(F.lit(""))
    return F.concat(
        F.lit("<html><head><title>doc "),
        doc_id.cast("string"),
        F.lit("</title></head><body>"),
        nav,
        aside,
        F.lit("<main><p>"),
        clean,
        F.lit("</p>"),
        ad,
        F.lit("<p>appendix for doc "),
        doc_id.cast("string"),
        F.lit("</p></main>"),
        F.lit(HTML_FOOTER),
        F.lit("</body></html>"),
    )


def html_wrap_sql(doc_id: str = "doc_id", text: str = "text") -> str:
    """DuckDB expression producing the identical wrapper string."""
    clean = f"regexp_replace({text}, '[<>]', '', 'g')"
    nav = (
        f"CASE {doc_id} % 3 WHEN 0 THEN '{HTML_NAV[0]}' "
        f"WHEN 1 THEN '{HTML_NAV[1]}' ELSE '{HTML_NAV[2]}' END"
    )
    aside = f"CASE WHEN {doc_id} % 2 = 0 THEN '{HTML_ASIDE}' ELSE '' END"
    ad = f"CASE WHEN {doc_id} % 5 = 0 THEN '{HTML_AD}' ELSE '' END"
    return (
        f"'<html><head><title>doc ' || CAST({doc_id} AS VARCHAR) || "
        f"'</title></head><body>' || {nav} || {aside} || '<main><p>' || "
        f"{clean} || '</p>' || {ad} || '<p>appendix for doc ' || "
        f"CAST({doc_id} AS VARCHAR) || '</p></main>' || "
        f"'{HTML_FOOTER}' || '</body></html>'"
    )


def html_strip_blocks(html: Column) -> Column:
    """Remove nav/aside/footer/inline-ad blocks (tag-structure rules)."""
    out = html
    for pat in _BLOCK_PATTERNS:
        out = F.regexp_replace(out, pat, "")
    return out


def html_strip_blocks_sql(expr: str) -> str:
    out = expr
    for pat in _BLOCK_PATTERNS:
        out = f"regexp_replace({out}, '{pat}', '', 'g')"
    return out


def html_paragraphs(html: Column) -> Column:
    """Array of paragraph texts surviving block removal — the main text."""
    return F.regexp_extract_all(html_strip_blocks(html), F.lit(_PARA_PATTERN), 1)


def html_paragraphs_sql(expr: str) -> str:
    return f"regexp_extract_all({html_strip_blocks_sql(expr)}, '{_PARA_PATTERN}', 1)"


def html_all_text_chars(html: Column) -> Column:
    """Character count of ALL text on the page (every tag stripped) —
    the denominator of the boilerplate fraction."""
    return F.length(F.regexp_replace(html, _TAG_PATTERN, ""))


def html_all_text_chars_sql(expr: str) -> str:
    return f"length(regexp_replace({expr}, '{_TAG_PATTERN}', '', 'g'))"


# --------------------------------------------------------------------------
# URL canonicalization (the CCNet / crawl-frontier stage). The synthetic
# url column is a deterministic composition over small literal vocabularies
# indexed by doc_id residues. For corpora up to the raw-URL cycle length
# (lcm of the residue moduli = 1260 docs — which covers the 500-doc pinned
# fixture but NOT sf0.1's 5000 docs) every raw URL is distinct and every
# canonical collision is produced by the RULES (scheme-case fold,
# default-port strip, fragment strip, utm removal, param sort). Beyond one
# cycle, doc_ids 1260 apart repeat the IDENTICAL raw URL — an
# exact-duplicate re-crawl, which canonicalizes identically and lands in
# the same census cluster as its rule-made siblings. So at every corpus
# size the census detects exactly the collisions canonicalization must
# produce; only the "all collisions are rule-made" distinction is scoped
# to sub-cycle corpora (pinned by the small-fixture test).
# --------------------------------------------------------------------------
URL_SCHEMES = ("http", "HTTP", "https", "HTTPS")  # % 4
URL_HOSTS = (  # % 7
    "WWW.Example.COM",
    "example.com",
    "Blog.Example.CO.UK",
    "news.SITE.org",
    "www.site.ORG",
    "cdn.Example.com",
    "docs.site.IO",
)
URL_PORTS = (":80", "", ":443", "", ":8080")  # % 5 (8080 is non-default)
URL_PATHS = ("/a/b/", "/a/b", "/", "", "/x/y/z/")  # % 5
URL_QUERIES = (  # % 5
    "?b=2&a=1",
    "?utm_source=x&a=1",
    "?a=1&b=2",
    "",
    "?utm_campaign=c",
)
# 9 fragment variants (stripped by canonicalization, so they only add RAW
# diversity): raw-URL cycle = lcm(4,7,5,9) = 1260, so raw URLs are all
# distinct (and every canonical collision rule-made) for corpora up to
# 1260 docs; past that, ids 1260 apart are identical-raw re-crawls (see
# the module comment above)
URL_FRAGS = ("#top", "", "#s2", "#a", "#b", "#c", "#d", "#e", "#f")  # % 9

# simplified public-suffix list, vendored as a literal table (the real PSL
# is a data file): only the two-label suffixes need listing — any other
# host's registrable domain is its last two labels
PSL_2LABEL = ("co.uk", "ac.uk")


def _pick(doc_id: Column, options: tuple[str, ...]) -> Column:
    n = len(options)
    c = F.when(doc_id % n == 0, F.lit(options[0]))
    for i in range(1, n - 1):
        c = c.when(doc_id % n == i, F.lit(options[i]))
    return c.otherwise(F.lit(options[-1]))


def _pick_sql(doc_id: str, options: tuple[str, ...]) -> str:
    n = len(options)
    whens = " ".join(f"WHEN {i} THEN '{options[i]}'" for i in range(n - 1))
    return f"CASE {doc_id} % {n} {whens} ELSE '{options[-1]}' END"


# optional per-page path segment (pp03): '/p<doc_id % 420>' appended to the
# base path makes most raw URLs page-unique while PRESERVING rule-made
# canonical collisions at doc_id distance 420 (420 ≡ 0 mod 4, 7, and 5, so
# every other component repeats too) — a realistic mix of mostly-unique
# pages with a controlled dup tail, instead of t40/d22's deliberately
# collision-dense census corpus.
PAGE_SEG_MOD = 420


def synth_url(doc_id: Column, page_seg: bool = False) -> Column:
    """Deterministic raw URL for a fixture doc."""
    seg = (
        F.concat(F.lit("/p"), (doc_id % PAGE_SEG_MOD).cast("string"))
        if page_seg
        else F.lit("")
    )
    return F.concat(
        _pick(doc_id, URL_SCHEMES),
        F.lit("://"),
        _pick(doc_id, URL_HOSTS),
        _pick(doc_id, URL_PORTS),
        _pick(doc_id, URL_PATHS),
        seg,
        _pick(doc_id, URL_QUERIES),
        _pick(doc_id, URL_FRAGS),
    )


def synth_url_sql(doc_id: str = "doc_id", page_seg: bool = False) -> str:
    seg = (
        f" || '/p' || CAST({doc_id} % {PAGE_SEG_MOD} AS VARCHAR)"
        if page_seg
        else ""
    )
    return (
        f"{_pick_sql(doc_id, URL_SCHEMES)} || '://' || "
        f"{_pick_sql(doc_id, URL_HOSTS)} || {_pick_sql(doc_id, URL_PORTS)} || "
        f"{_pick_sql(doc_id, URL_PATHS)}{seg} || "
        f"{_pick_sql(doc_id, URL_QUERIES)} || "
        f"{_pick_sql(doc_id, URL_FRAGS)}"
    )


# canonicalization rules, applied to scheme://host[:port][/path][?q][#f]:
#  1. lowercase scheme and host (inputs are ASCII by construction);
#  2. strip the fragment;
#  3. strip the default port (:80 http, :443 https; keep others);
#  4. strip a leading 'www.' host label;
#  5. strip one trailing '/' from the path; empty path -> '/';
#  6. drop utm_* query params, sort the rest; empty -> no '?'.


def canonicalize_url(url: Column) -> Column:
    scheme = F.lower(F.regexp_extract(url, "^([A-Za-z]+)://", 1))
    hostport = F.regexp_extract(url, "^[A-Za-z]+://([^/?#]*)", 1)
    host = F.lower(F.regexp_extract(hostport, "^([^:]*)", 1))
    host = F.regexp_replace(host, "^www\\.", "")
    port = F.regexp_extract(hostport, ":([0-9]+)$", 1)
    keep_port = F.when(
        (port == "")
        | ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443")),
        F.lit(""),
    ).otherwise(F.concat(F.lit(":"), port))
    path = F.regexp_extract(url, "^[A-Za-z]+://[^/?#]*([^?#]*)", 1)
    path = F.regexp_replace(path, "/$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(url, "\\?([^#]*)", 1)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.startswith("utm_"),
    )
    qstr = F.array_join(F.array_sort(params), "&")
    qpart = F.when(qstr == "", F.lit("")).otherwise(F.concat(F.lit("?"), qstr))
    return F.concat(scheme, F.lit("://"), host, keep_port, path, qpart)


def canonicalize_url_sql(url_expr: str) -> str:
    """DuckDB twin of :func:`canonicalize_url` (same rule order). Emits a
    single expression; callers typically wrap the pieces in a CTE."""
    scheme = f"lower(regexp_extract({url_expr}, '^([A-Za-z]+)://', 1))"
    hostport = f"regexp_extract({url_expr}, '^[A-Za-z]+://([^/?#]*)', 1)"
    host = (
        "regexp_replace(lower(regexp_extract("
        f"{hostport}, '^([^:]*)', 1)), '^www\\.', '')"
    )
    port = f"regexp_extract({hostport}, ':([0-9]+)$', 1)"
    keep_port = (
        f"CASE WHEN {port} = '' OR ({scheme} = 'http' AND {port} = '80') "
        f"OR ({scheme} = 'https' AND {port} = '443') THEN '' "
        f"ELSE ':' || {port} END"
    )
    path0 = (
        f"regexp_replace(regexp_extract({url_expr}, "
        "'^[A-Za-z]+://[^/?#]*([^?#]*)', 1), '/$', '')"
    )
    path = f"CASE WHEN {path0} = '' THEN '/' ELSE {path0} END"
    query = f"regexp_extract({url_expr}, '\\?([^#]*)', 1)"
    # COALESCE: DuckDB array_to_string([]) is NULL where Spark's is ''
    qstr = (
        "COALESCE(array_to_string(list_sort(list_filter(string_split("
        f"{query}, '&'), p -> p <> '' AND NOT starts_with(p, 'utm_'))), '&'), '')"
    )
    qpart = f"CASE WHEN {qstr} = '' THEN '' ELSE '?' || {qstr} END"
    return f"{scheme} || '://' || {host} || {keep_port} || {path} || {qpart}"


def registrable_host(canon_url: Column) -> Column:
    """Registrable domain (eTLD+1) under the vendored simplified PSL:
    hosts ending in a 2-label suffix keep 3 labels, else 2 labels.
    Single-label hosts (e.g. ``localhost``) pass through unchanged — the
    size guard runs FIRST because ANSI ``element_at(-2)`` throws on a
    1-element array (CASE branches evaluate lazily per row)."""
    host = F.regexp_extract(canon_url, "^[a-z]+://([^:/?#]*)", 1)
    parts = F.split(host, "\\.")
    last2 = F.concat_ws(".", F.element_at(parts, -2), F.element_at(parts, -1))
    two_label = last2.isin(*PSL_2LABEL)
    return (
        F.when(F.size(parts) <= 1, host)
        .when(
            two_label & (F.size(parts) >= 3),
            F.concat_ws(".", F.element_at(parts, -3), last2),
        )
        .otherwise(last2)
    )


def registrable_host_sql(canon_expr: str) -> str:
    host = f"regexp_extract({canon_expr}, '^[a-z]+://([^:/?#]*)', 1)"
    parts = f"string_split({host}, '.')"
    last2 = f"({parts}[-2] || '.' || {parts}[-1])"
    in2 = " OR ".join(f"{last2} = '{s}'" for s in PSL_2LABEL)
    return (
        f"CASE WHEN len({parts}) <= 1 THEN {host} "
        f"WHEN ({in2}) AND len({parts}) >= 3 "
        f"THEN {parts}[-3] || '.' || {last2} ELSE {last2} END"
    )


# --------------------------------------------------------------------------
# robots.txt-style URL filtering (the crawl-frontier politeness stage).
# Rules are a vendored literal table per registrable host — in production
# they are fetched and parsed per host; the MATCHING semantics are what
# the engine implements: RFC 9309 / Google longest-match-wins — the rule
# with the longest matching path prefix decides, allow wins ties, and a
# URL matching no rule is allowed by default.
# --------------------------------------------------------------------------
ROBOTS_RULES = (
    # (registrable host, type, path prefix)
    ("example.com", "disallow", "/x/"),
    ("example.com", "disallow", "/a/b/p1"),  # blocks the p1xx page slice
    ("site.org", "disallow", "/"),
    ("site.org", "allow", "/a/"),  # carve-out: longer match wins
    ("example.co.uk", "disallow", "/x/"),
    # site.io: no rules -> default allow
)


def robots_verdict(reg_host: Column, path: Column) -> Column:
    """RFC 9309 longest-match-wins verdict, unrolled over the literal rule
    table into a SHUFFLE-FREE scan-stage expression: per rule, a matching
    (host, path-prefix) contributes its prefix length, else -1; the
    longest disallow must strictly beat the longest allow to block (ties
    -> allow, no matching rule -> both -1 -> allow). Integer sentinels
    instead of NULLs so both engines' GREATEST agree by construction."""
    allow_terms = [F.lit(-1)]
    dis_terms = [F.lit(-1)]
    for h, t, p in ROBOTS_RULES:
        term = F.when(
            (reg_host == h) & path.startswith(p), F.lit(len(p))
        ).otherwise(F.lit(-1))
        (allow_terms if t == "allow" else dis_terms).append(term)
    allow_s = F.greatest(*allow_terms)
    dis_s = F.greatest(*dis_terms)
    return F.when(dis_s > allow_s, F.lit("blocked")).otherwise(F.lit("allowed"))


def robots_verdict_sql(host_expr: str, path_expr: str) -> str:
    def terms(kind: str) -> str:
        ts = ["-1"]
        for h, t, p in ROBOTS_RULES:
            if t != kind:
                continue
            ts.append(
                f"CASE WHEN {host_expr} = '{h}' AND "
                f"starts_with({path_expr}, '{p}') THEN {len(p)} ELSE -1 END"
            )
        return ", ".join(ts)

    allow_s = f"GREATEST({terms('allow')})"
    dis_s = f"GREATEST({terms('disallow')})"
    return f"CASE WHEN {dis_s} > {allow_s} THEN 'blocked' ELSE 'allowed' END"
