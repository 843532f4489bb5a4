r"""Text-analysis operators for training-data pipelines, and the one owner
of the cross-engine text contract.

All hot-path expressions are built-in ``pyspark.sql.functions`` (JVM-side,
whole-stage-codegen'd) — no Python UDFs. Each helper returns a Column so it
composes into any plan; the deterministic formulas are intentionally
SQL-expressible so the DuckDB oracle can replicate them exactly.

Operators: tokenization, token counting (whitespace + BPE-ish regex),
quality scoring (length/punct/stopword ratios), language-ID heuristic,
document fingerprinting (normalized-text hash).

The text contract
-----------------
Every compared text query trims exactly the ASCII-6 whitespace
``ASCII_WS`` (space, \t, \n, \x0b, \f, \r), folds only A-Z, and splits on
runs of the same six characters (``WS_RUN``). The engines' native
``trim``/``lower``/``\s`` all disagree at the edges (NBSP, U+3000, İ, final
Σ, vertical tab), so each step is written once per engine here and every
query calls these helpers:

==============  ======================  ====================  =====================
step            Spark (Column)          DuckDB (SQL text)     Python worker
==============  ======================  ====================  =====================
trim            ``ascii_trim``          ``ascii_trim_sql``    ``str.strip(ASCII_WS)``
A-Z fold        ``ascii_lower``         ``ascii_lower_sql``   ``text_worker_fns().lower``
tokens          ``tokens``              ``tokens_sql``        ``text_worker_fns().tokens``
normalize       ``normalize_text``      ``normalize_sql``     ``text_worker_fns().normalize``
word n-grams    ``word_ngrams``         ``shingles_sql``      ``text_worker_fns().shingles``
==============  ======================  ====================  =====================

Lower-cased tokens are ``tokens(ascii_lower(x))`` on every engine (fold
first, then trim and split). ``normalize`` is the folded, trimmed text with
each whitespace run collapsed to one space, so splitting it on ' ' gives
the same tokens. Regex constants (``WS_RUN``, ``WORD_RE``, ``PUNCT_RE``) are
spelled with escapes that Java, RE2 and Python ``re`` all read alike.

Empty text: ``tokens('')`` and ``tokens('   ')`` are ``['']`` on all three
engines (one empty token), and their normalized form is ``''``.
NULL: every Spark and DuckDB helper maps NULL to NULL, and so does every
Python twin (``None`` in, ``None`` out). The near-dup family (shingles,
MinHash, SimHash, Bloom and n-gram overlap) reads a document through
``doc_tokens`` / ``doc_tokens_sql`` / ``text_worker_fns().doc_tokens``
instead, where NULL text is empty text on all three engines: its tokens
and shingle set are ``['']``, so NULL and empty documents are near-dups of
each other everywhere. Any other query that counts or lists a document's
tokens reads it the same way, through ``doc_text`` / ``doc_text_sql`` /
``text or ''`` (t08, t09).
Shingles keep a short document whole: fewer than ``n`` tokens give one
shingle, the tokens joined by ' '. DuckDB's shingle list is a set whose
order differs from Spark's and Python's position order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Fixed stopword list shared with the oracle SQL (keep sorted, ASCII-only).
STOPWORDS = ("a", "and", "in", "of", "the", "to")

# Engine-portable ASCII case fold: Spark/Java LOWER is context-sensitive
# Unicode (U+0130 İ -> 'i'+combining dot, final Σ -> ς) while DuckDB's lower
# maps İ -> plain 'i' and never emits final sigma. Every token-identity case
# fold (tokenizers, fingerprints, n-grams, retrieval) therefore folds ONLY
# A-Z via translate on all three engines; non-ASCII codepoints pass through
# unchanged everywhere (tests/test_round8.py keeps the planted corpus green).
ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
ASCII_LOWERED = "abcdefghijklmnopqrstuvwxyz"
ASCII_FOLD_TABLE = str.maketrans(ASCII_UPPER, ASCII_LOWERED)

# Engine-portable ASCII-6 trim: Spark F.trim strips 0x20 SPACES ONLY,
# DuckDB's 1-arg trim strips Unicode space-class chars (NBSP, U+3000) but
# NOT \t/\n/\x0b/\f/\r, and Python str.strip() strips full Unicode
# whitespace. Every compared trim strips exactly this class.
ASCII_WS = " \t\n\x0b\f\r"

# The same six characters as regex classes. Never write \s in a pattern that
# must agree across engines: Java's \s is these six, RE2's lacks \x0b and
# Python's is full Unicode.
_WS_ESC = r" \t\n\x0b\f\r"
WS_RUN = f"[{_WS_ESC}]+"
WORD_RE = f"[^{_WS_ESC}]+"
PUNCT_RE = f"[^A-Za-z0-9{_WS_ESC}]"

# BPE-ish token pattern: letter runs, single digits, single punctuation marks.
BPE_TOKEN_PATTERN = f"[A-Za-z]+|[0-9]|{PUNCT_RE}"


def _col(col: str | Column) -> Column:
    return col if isinstance(col, Column) else F.col(col)


def ascii_lower(col: str | Column) -> Column:
    """A-Z -> a-z only (the Spark member of the fold contract)."""
    return F.translate(_col(col), ASCII_UPPER, ASCII_LOWERED)


def ascii_lower_sql(expr: str) -> str:
    """DuckDB twin of :func:`ascii_lower` as a SQL fragment."""
    return f"translate({expr}, '{ASCII_UPPER}', '{ASCII_LOWERED}')"


def ascii_trim(col: str | Column) -> Column:
    """Strip exactly ASCII_WS from both ends (the Spark member of the trim
    contract)."""
    return F.btrim(_col(col), F.lit(ASCII_WS))


def ascii_trim_sql(expr: str) -> str:
    """DuckDB twin of :func:`ascii_trim` as a SQL fragment."""
    return (
        f"trim({expr}, ' ' || chr(9) || chr(10) || chr(11) || chr(12)"
        f" || chr(13))"
    )


def tokens(col: str | Column) -> Column:
    """Whitespace tokenization: ASCII-6 trim, then split on ``WS_RUN``."""
    return F.split(ascii_trim(col), WS_RUN)


def tokens_sql(expr: str) -> str:
    """DuckDB twin of :func:`tokens`."""
    return f"string_split_regex({ascii_trim_sql(expr)}, '{WS_RUN}')"


def doc_text(col: str | Column) -> Column:
    """A document's text, NULL read as '' (the Python twin is
    ``text or ''``)."""
    return F.coalesce(_col(col), F.lit(""))


def doc_text_sql(expr: str) -> str:
    """DuckDB twin of :func:`doc_text`."""
    return f"coalesce({expr}, '')"


def doc_tokens(col: str | Column) -> Column:
    """A document's lower-cased tokens for the near-dup family, NULL text
    read as ''."""
    return tokens(ascii_lower(doc_text(col)))


def doc_tokens_sql(expr: str) -> str:
    """DuckDB twin of :func:`doc_tokens`."""
    return tokens_sql(ascii_lower_sql(doc_text_sql(expr)))


def normalize_text(col: str | Column) -> Column:
    """Lowercase + trim + collapse whitespace — canonical form for
    fingerprinting."""
    return F.regexp_replace(ascii_trim(ascii_lower(col)), WS_RUN, " ")


def normalize_sql(expr: str) -> str:
    """DuckDB twin of :func:`normalize_text`."""
    return (
        f"regexp_replace({ascii_trim_sql(ascii_lower_sql(expr))},"
        f" '{WS_RUN}', ' ', 'g')"
    )


def word_ngrams(toks: Column, n: int) -> Column:
    """Every ``n``-token window of the array ``toks`` joined by ' ', in
    position order, repeats kept (index ``i`` is the window starting at
    token ``i``). An array shorter than ``n`` gives its one short window."""
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )


def shingles_sql(toks: str, n: int) -> str:
    """DuckDB twin of ``dedup.shingles`` over the token list ``toks``: the
    distinct ``n``-token windows, a short list kept whole."""
    return (
        f"CASE WHEN len({toks}) <= {n} THEN [array_to_string({toks}, ' ')]"
        f" ELSE list_distinct([array_to_string({toks}[i:i+{n - 1}], ' ')"
        f" FOR i IN generate_series(1, len({toks}) - {n - 1})]) END"
    )


def shingle_ctes_sql(n: int, cols: str = "doc_id", source: str = "documents") -> str:
    """Two CTEs over ``source(<cols>, text)``: ``toks(<cols>, t)``, the
    lower-cased tokens, and ``grams(<cols>, sh)``, their
    :func:`shingles_sql` set."""
    return f"""toks AS (
      SELECT {cols}, {doc_tokens_sql('text')} AS t FROM {source}
    ), grams AS (
      SELECT {cols}, {shingles_sql('t', n)} AS sh FROM toks
    )"""


def text_worker_fns():
    """The Python twins for Arrow/UDF workers, as by-value closures.

    Returns a namespace with ``lower``, ``normalize``, ``tokens``
    (str or None -> same type), ``doc_tokens(text)`` and ``shingles(text,
    n)`` (NULL text read as '', as in :func:`doc_tokens`). The constants are
    bound inside this factory so cloudpickle ships the closures by value:
    executors' Python workers cannot import this package when it was
    imported through ``sys.path``.
    """
    import re
    from types import SimpleNamespace

    ws = ASCII_WS
    fold = str.maketrans(ASCII_UPPER, ASCII_LOWERED)
    ws_run = re.compile(WS_RUN)

    def lower(text):
        return None if text is None else text.translate(fold)

    def normalize(text):
        if text is None:
            return None
        return ws_run.sub(" ", text.translate(fold).strip(ws))

    def tokens(text):
        return None if text is None else ws_run.split(text.strip(ws))

    def doc_tokens(text):
        return normalize(text or "").split(" ")

    def shingles(text, n):
        toks = doc_tokens(text)
        if len(toks) < n:
            return [" ".join(toks)]
        return list(dict.fromkeys(
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        ))

    return SimpleNamespace(
        lower=lower, normalize=normalize, tokens=tokens, doc_tokens=doc_tokens,
        shingles=shingles,
    )


def token_count(col: str | Column) -> Column:
    return F.size(tokens(col))


def bpe_token_count(col: str | Column) -> Column:
    """Count of BPE-ish regex tokens — a fast proxy for LLM token counts."""
    return F.regexp_count(col, F.lit(BPE_TOKEN_PATTERN))


def char_count(col: str | Column) -> Column:
    return F.length(col)


def stopword_count(col: str | Column) -> Column:
    toks = tokens(ascii_lower(col))
    return F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))


def stopword_ratio(col: str | Column) -> Column:
    return stopword_count(col) / F.greatest(token_count(col), F.lit(1))


def digit_ratio(col: str | Column) -> Column:
    return F.regexp_count(col, F.lit("[0-9]")) / F.greatest(
        F.length(col), F.lit(1)
    )


def punct_count(col: str | Column) -> Column:
    return F.regexp_count(col, F.lit(PUNCT_RE))


def quality_score(col: str | Column) -> Column:
    """Deterministic [0,1] quality heuristic: rewards stopword presence and
    moderate token length, penalizes punctuation/digit noise. The exact
    formula matters less than determinism — it is replicated in oracle SQL."""
    n_tok = token_count(col).cast("double")
    score = (
        F.least(n_tok / F.lit(20.0), F.lit(1.0)) * 0.4
        + F.least(stopword_ratio(col) * 4, F.lit(1.0)) * 0.4
        + (1 - F.least(digit_ratio(col) * 10, F.lit(1.0))) * 0.2
    )
    return F.round(score, 4)


def lang_id(col: str | Column) -> Column:
    """Heuristic language ID: English-stopword density. A real pipeline
    plugs in fastText/CLD3 here via a pandas UDF; the heuristic keeps the
    operator deterministic and oracle-checkable."""
    return (
        F.when(stopword_ratio(col) >= 0.05, F.lit("en"))
        .when(token_count(col) < 3, F.lit("short"))
        .otherwise(F.lit("unknown"))
    )


def fingerprint(col: str | Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.
    (md5 rather than xxhash so the DuckDB oracle computes the identical
    value.)"""
    return F.md5(normalize_text(col))


# ---------------------------------------------------------------------------
# Winnowing: rolling-hash k-gram fingerprints (Schleimer/Wilkerson/Aiken,
# SIGMOD'03 — the MOSS algorithm). Local-change-robust fingerprints: any
# shared substring of length >= window+k-1 is guaranteed to share at least
# one selected fingerprint, while storage is ~2/(window+1) of all k-grams.
# ---------------------------------------------------------------------------

_RK_BASE = 1000003          # Rabin-Karp polynomial base
_RK_OUT_MASK = (1 << 61) - 1  # final fold below int64 for ANSI-safe bigint


def _winnow_worker_fns(k: int, window: int):
    """Factory so cloudpickle ships everything by value (executors may not
    have the package importable — see :func:`text_worker_fns`)."""
    norm = text_worker_fns().normalize

    def normalize(text: str | None) -> str:
        return norm(text) or ""

    def rolling_hashes(s: str):
        """uint64-wrap polynomial k-gram hashes, equal to the Rabin-Karp
        rolling recurrence h[i+1] = (h[i] - c[i]*B^(k-1))*B + c[i+k] (the
        property test checks value-equality against that recurrence).
        Computed as k vectorized multiply-adds over shifted slices —
        h[i] = sum_j c[i+j]*B^(k-1-j) — so the per-char work is C-speed
        regardless of document length."""
        import numpy as np_w

        codes = np_w.frombuffer(s.encode("utf-32-le"), dtype=np_w.uint32).astype(
            np_w.uint64
        )
        n = codes.size
        if n < k:
            return np_w.empty(0, dtype=np_w.uint64)
        h = np_w.zeros(n - k + 1, dtype=np_w.uint64)
        for j in range(k):
            pw = np_w.uint64(pow(_RK_BASE, k - 1 - j, 1 << 64))
            h += codes[j : j + n - k + 1] * pw
        return h

    def winnow(s: str):
        """Select the rightmost-minimum hash of each sliding window of
        ``window`` consecutive k-gram hashes; dedupe consecutive picks.
        Returns list of (position, hash) pairs."""
        import numpy as np_w

        h = rolling_hashes(s)
        if h.size == 0:
            return []
        if h.size <= window:
            i = int(h.size - 1 - np_w.argmin(h[::-1]))
            return [(i, int(h[i] & np_w.uint64(_RK_OUT_MASK)))]
        sw = np_w.lib.stride_tricks.sliding_window_view(h, window)
        # rightmost min: argmin on the reversed window
        rev_arg = np_w.argmin(sw[:, ::-1], axis=1)
        pos = np_w.arange(sw.shape[0]) + (window - 1 - rev_arg)
        keep = np_w.ones(pos.size, dtype=bool)
        keep[1:] = pos[1:] != pos[:-1]
        sel = pos[keep]
        return [(int(i), int(h[i] & np_w.uint64(_RK_OUT_MASK))) for i in sel]

    return normalize, rolling_hashes, winnow


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Per-document winnowing fingerprints: (doc id, k-gram position, hash).

    Runs as one Arrow-batched pass (mapInPandas) — the rolling hash is a
    sequential recurrence, exactly the per-partition imperative shape Pandas
    UDFs exist for; everything downstream (joins on fingerprint for overlap
    detection) stays JVM-side. Partition-parallel by document, no shuffle.
    """
    normalize, _, winnow = _winnow_worker_fns(k, window)

    def kernel(batches):
        import pandas as pd_w

        for pdf in batches:
            ids, positions, fps = [], [], []
            for doc_id, text in zip(pdf["id"], pdf["text"]):
                for pos, fp in winnow(normalize(text)):
                    ids.append(doc_id)
                    positions.append(pos)
                    fps.append(fp)
            yield pd_w.DataFrame({"doc_id": ids, "pos": positions, "fp": fps})

    spark = df.sparkSession
    fanout = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    ).repartition(spark.sparkContext.defaultParallelism)
    return fanout.mapInPandas(kernel, "doc_id bigint, pos int, fp bigint")


def winnowing_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    window: int = 4,
    min_shared: int = 5,
    max_df: int | None = 200,
) -> DataFrame:
    """Document pairs ranked by shared winnowing fingerprints (MOSS-style
    overlap detection): any pair sharing a run of >= window+k-1 chars shares
    at least one fingerprint, so `n_shared` approximates the amount of
    copied text.

    Plan: fingerprint pass (partition-parallel, no shuffle) → distinct
    (doc, fp) → self-equi-join on fp → count per pair. The join is an
    ordinary shuffle hash join on the fingerprint value — the shape that
    scales linearly on a cluster. ``max_df`` drops fingerprints appearing
    in more than that many documents (boilerplate n-grams) before the join,
    the same stop-shingle cap as n-gram Jaccard (operators/dedup.py) —
    without it one ubiquitous fingerprint creates a quadratic bucket.
    """
    fps = (
        winnowing_fingerprints(df, id_col, text_col, k=k, window=window)
        .select("doc_id", "fp")
        .distinct()
    )
    if max_df is not None:
        rare = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_df)
            .select("fp")
        )
        fps = fps.join(rare, "fp")
    a = fps.select(F.col("doc_id").alias("id_a"), "fp")
    b = fps.select(F.col("doc_id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# Common PII patterns for corpus scrubbing. Order matters: email before
# phone so an address's digits aren't partially consumed by the phone rule.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("phone", r"\+?\d[\d\s().-]{7,}\d"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b"),
)


def redact_pii(col: str | Column, replacement: str = "[REDACTED]") -> Column:
    """Scrub common PII spans (emails, phone numbers, SSNs) from text.

    Chained JVM ``regexp_replace`` — codegen'd, no Python in the path. A
    production pipeline would add NER-based detection via a pandas UDF;
    the regex tier is the deterministic, cheap first pass every corpus
    scrub runs at full scale.
    """
    out = F.col(col) if isinstance(col, str) else col
    for _, pat in PII_PATTERNS:
        out = F.regexp_replace(out, pat, replacement)
    return out


def pii_match_count(col: str | Column) -> Column:
    """Total count of PII-pattern matches (pre-redaction audit metric)."""
    c = F.col(col) if isinstance(col, str) else col
    total = F.lit(0)
    for _, pat in PII_PATTERNS:
        total = total + F.regexp_count(c, F.lit(pat))
    return total


def winnowing_sql_cte(k: int = 5, window: int = 4) -> str:
    """DuckDB CTE fragment reproducing :func:`winnowing_fingerprints`
    bit-exactly as ``fps(doc_id, pos, fp)``.

    Mirrors the numpy kernel operation-for-operation: HUGEINT (int128)
    polynomial sums folded ``% 2^64`` equal uint64-wrap arithmetic (mod is
    distributive over the wrapped products), and ``list_distinct`` over the
    per-window rightmost-min picks equals the kernel's consecutive-pick
    dedupe because winnowing selections are non-decreasing in position —
    verified exactly against 61k fingerprints at sf0.001.
    """
    m64 = 1 << 64
    pw = [pow(_RK_BASE, k - 1 - j, m64) for j in range(k)]
    terms = " + ".join(
        f"CAST(unicode(s[i + {j}]) AS HUGEINT) * CAST({pw[j]} AS HUGEINT)"
        for j in range(k)
    )
    w = window
    return f"""
    __wn AS (
      SELECT doc_id, {normalize_sql('text')} AS s
      FROM documents
    ), __wc AS (
      SELECT doc_id, s, length(s) AS n FROM __wn WHERE length(s) >= {k}
    ), __wh AS (
      SELECT doc_id,
             [CAST(({terms}) % CAST({m64} AS HUGEINT) AS HUGEINT)
              FOR i IN generate_series(1, n - {k - 1})] AS hs
      FROM __wc
    ), __wsel AS (
      SELECT doc_id, hs,
             CASE WHEN len(hs) <= {w} THEN
               [len(hs) - list_position(list_reverse(hs), list_min(hs)) + 1]
             ELSE
               list_distinct([
                 i + ({w} - list_position(list_reverse(hs[i:i+{w - 1}]),
                                          list_min(hs[i:i+{w - 1}])))
                 FOR i IN generate_series(1, len(hs) - {w} + 1)])
             END AS picks
      FROM __wh
    ), fps AS (
      SELECT doc_id, CAST(p - 1 AS INT) AS pos,
             CAST(hs[p] % CAST({1 << 61} AS HUGEINT) AS BIGINT) AS fp
      FROM (SELECT doc_id, hs, unnest(picks) AS p FROM __wsel)
    )"""


# ---------------------------------------------------------------------------
# Gopher-style quality rules (Rae et al. 2021, arXiv:2112.11446 §A.1.1):
# documents fail structural thresholds — word count bounds, mean word
# length bounds, excessive repetition. Everything below is array HOFs over
# the per-row token list: per-row compute with NO shuffle at all (the
# audit of a 100 TB corpus is a single map stage), and every ratio is an
# exact-int division so the oracle reproduces it bit-for-bit.
# ---------------------------------------------------------------------------

# (min_words, max_words, min_mean_len, max_mean_len, min_distinct_ratio,
#  max_top_token_fraction) — tuned to the fixture corpus so every rule
# actually fires on some documents.
GOPHER_BOUNDS = (50, 100_000, 3.0, 10.0, 0.2, 0.1)


def word_lengths_sum(col: str | Column) -> Column:
    """Total characters across whitespace tokens (exact integer)."""
    return F.aggregate(
        F.transform(tokens(col), lambda t: F.length(t)),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def top_token_count(col: str | Column) -> Column:
    """Occurrences of the most frequent token — the Gopher repetition
    signal. O(distinct x n) per row via HOFs, which beats explode+groupBy
    at scale: the mode count never leaves the row, so the whole audit is
    shuffle-free."""
    toks = tokens(col)
    return F.array_max(
        F.transform(
            F.array_distinct(toks),
            lambda t: F.size(F.filter(toks, lambda x: x == t)),
        )
    )


def gopher_metrics(
    df, id_cols: tuple[str, ...], text_col: str
):
    """Arrow-kernel twin of the four Gopher rule metrics (word count, char
    sum, distinct tokens, top-token count). The JVM HOF forms above are
    kept for composability, but the mode count is O(distinct x n) per row
    interpreted — quadratic on long documents. This kernel is O(n) per
    row via a hash counter and measured ~4x faster at sf0.1; tokenization
    is the Python twin of :func:`tokens`, so outputs are identical integers.

    Returns ``id_cols + (n_words, char_sum, n_distinct, top_cnt)``.
    """
    from pyspark.sql import functions as F2

    ids = list(id_cols)
    split_tokens = text_worker_fns().tokens

    def kernel(batches):
        from collections import Counter

        import pandas as pd_w

        for pdf in batches:
            out = {c: [] for c in ids}
            nw, cs, nd, tc = [], [], [], []
            for row in pdf.itertuples(index=False):
                d = row._asdict()
                for c in ids:
                    out[c].append(d[c])
                text = d[text_col]
                if text is None:
                    # JVM: size(split(ascii_trim(NULL))) is NULL in Spark 4
                    nw.append(None); cs.append(None)
                    nd.append(None); tc.append(None)
                    continue
                toks = split_tokens(text)
                counts = Counter(toks)
                nw.append(len(toks))
                cs.append(sum(len(t) for t in toks))
                nd.append(len(counts))
                tc.append(max(counts.values()))
            out["n_words"] = nw
            out["char_sum"] = cs
            out["n_distinct"] = nd
            out["top_cnt"] = tc
            yield pd_w.DataFrame(out)

    src = df.select(*ids, F2.col(text_col).alias(text_col))
    id_ddl = ", ".join(
        f"{c} {t}" for c, t in df.select(*ids).dtypes
    )
    return src.mapInPandas(
        kernel,
        f"{id_ddl}, n_words int, char_sum int, n_distinct int, top_cnt int",
    )


def bpe_escape_brackets(text: Column) -> Column:
    """Lossless frame-bracket escape for the BPE pipeline: '~'→'~0',
    '<'→'~1', '>'→'~2' (classic escape-char scheme — invertible for ALL
    inputs). Paired with the '(~[012]|.)' char split, each escaped
    sequence becomes ONE symbol, so bracket-bearing text tokenizes instead
    of mutating (the ADVICE r05 alternative to the lossy strip)."""
    esc = F.regexp_replace(text, "~", "~0")
    esc = F.regexp_replace(esc, "<", "~1")
    return F.regexp_replace(esc, ">", "~2")


def bpe_apply(
    text: Column, merges: list[tuple[str, str]], lossless: bool = False
) -> Column:
    """Apply an ordered BPE merge table to whitespace text, returning the
    merged bracket-framed symbol stream ('<th><e>< ><f><ast>...').

    Representation: every character becomes a '<c>' symbol (space included,
    as the word-boundary symbol '< >', which no rule ever names). A rule
    (x, y) is the literal replace '<x><y>' -> '<xy>': adjacent matches
    share NO characters, so left-to-right non-rescanning replace() merges
    every disjoint occurrence in one pass — the standard greedy BPE-apply
    semantics (pinned against the Python model by
    ``test_bpe_apply_equals_model``; an earlier separator-sharing encoding
    silently skipped the pair after each merge in runs like 'aaaa').
    Boundary-exact: '<x>' can only be a complete symbol because symbols
    never contain '<' or '>' — literal '<'/'>' chars are STRIPPED from the
    input before encoding (they would otherwise forge frame brackets:
    merged symbols embedding '<' can false-match inside another symbol's
    encoding, and a learned '><' symbol round-trips as two empty symbols).
    The strip is LOSSY by design — acceptable for the audit use-case.
    ``lossless=True`` switches to the :func:`bpe_escape_brackets` scheme
    ('~'→'~0', '<'→'~1', '>'→'~2'; char split '(~[012]|.)' keeps each
    escaped sequence one symbol): bracket-bearing text then tokenizes
    instead of mutating, and the stream is invertible for all inputs
    (pinned by ``test_bpe_lossless_escape_*``). The registered t22/t29
    queries keep the lossy default so their oracles are unchanged.
    Pure JVM string expressions — no UDF; split on '><' downstream
    recovers the symbols.
    """
    if lossless:
        s = F.regexp_replace(bpe_escape_brackets(text), "(~[012]|.)", "<$1>")
    else:
        s = F.regexp_replace(F.regexp_replace(text, "[<>]", ""), "(.)", "<$1>")
    for a, b in merges:
        s = F.replace(s, F.lit(f"<{a}><{b}>"), F.lit(f"<{a}{b}>"))
    return s


def bpe_symbols(stream: Column) -> Column:
    """Explodeable symbol array from a ``bpe_apply`` stream: strip the outer
    brackets, split on '><', drop the word-boundary space symbol."""
    inner = F.substring(
        stream, F.lit(2), F.greatest(F.lit(0), F.length(stream) - 2)
    )
    return F.filter(F.split(inner, "><"), lambda x: (x != " ") & (x != ""))


def bpe_apply_model(
    word: str, merges: list[tuple[str, str]], lossless: bool = False
) -> list[str]:
    """Pure-Python reference model for ``bpe_apply`` on a single word:
    greedy left-to-right single-pass merge per rule (no rescan within a
    rule — a merge's output can't feed the SAME rule's later matches).
    Mirrors :func:`bpe_apply`'s frame-bracket handling: the lossy strip by
    default, the '~0'/'~1'/'~2' escape under ``lossless=True``."""
    if lossless:
        import re as _re

        esc = word.replace("~", "~0").replace("<", "~1").replace(">", "~2")
        syms = _re.findall(r"~[012]|.", esc)
    else:
        syms = list(word.replace("<", "").replace(">", ""))
    for a, b in merges:
        out: list[str] = []
        i = 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def content_defined_chunks(
    df: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    divisor: int = 64,
) -> "DataFrame":
    """Content-defined chunking (the FastCDC/rsync shape): a chunk boundary
    lands wherever the k-char Rabin-Karp rolling hash of normalized text is
    0 mod ``divisor`` (expected chunk ~= divisor chars), plus the document
    end. Because boundaries depend on CONTENT, not offsets, an insertion
    early in a document shifts only the chunk it lands in — every later
    chunk keeps its fingerprint, which is what makes chunk-level dedup
    storage work.

    Returns (id, chunk_idx, start, cend, chunk_len, fp) with 1-based char
    bounds over the normalized text and an md5-prefix fingerprint. Same
    uint64 polynomial machinery as winnowing (oracle-reproducible in
    HUGEINT); Arrow-batched per doc, embarrassingly row-parallel.
    """
    normalize, rolling_hashes, _ = _winnow_worker_fns(k, 4)

    def kernel(batches):
        import hashlib

        import pandas as pd_w

        ids, idxs, starts, ends, lens, fps = [], [], [], [], [], []
        for pdf in batches:
            for doc_id, text in zip(pdf["id"], pdf["text"]):
                s = normalize(text)
                n = len(s)
                if n == 0:
                    continue
                if n < k:
                    cuts = [n]
                else:
                    h = rolling_hashes(s)
                    cuts = [
                        i + k - 1
                        for i in range(1, len(h) + 1)
                        if int(h[i - 1]) % divisor == 0
                    ]
                    if not cuts or cuts[-1] != n:
                        cuts.append(n)
                prev = 0
                for idx, c in enumerate(cuts):
                    chunk = s[prev:c]
                    ids.append(doc_id)
                    idxs.append(idx)
                    starts.append(prev + 1)
                    ends.append(c)
                    lens.append(c - prev)
                    fps.append(
                        hashlib.md5(chunk.encode("utf-8")).hexdigest()[:8]
                    )
                    prev = c
            yield pd_w.DataFrame(
                {
                    "id": pd_w.Series(ids, dtype="int64"),
                    "chunk_idx": pd_w.Series(idxs, dtype="int32"),
                    "start": pd_w.Series(starts, dtype="int64"),
                    "cend": pd_w.Series(ends, dtype="int64"),
                    "chunk_len": pd_w.Series(lens, dtype="int64"),
                    "fp": pd_w.Series(fps, dtype="object"),
                }
            )
            ids, idxs, starts, ends, lens, fps = [], [], [], [], [], []

    spark = df.sparkSession
    return (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
        .repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(
            kernel,
            "id bigint, chunk_idx int, start bigint, cend bigint, "
            "chunk_len bigint, fp string",
        )
    )


def cdc_sql_cte(k: int = 8, divisor: int = 64) -> str:
    """DuckDB CTE reproducing :func:`content_defined_chunks` bit-exactly:
    the uint64 polynomial in HUGEINT, boundary mod test, cut positions,
    gaps-and-islands chunk reconstruction, md5 fingerprints. Exposes
    ``cdc_chunks(doc_id, chunk_idx, start, cend, chunk_len, fp)``."""
    poly = " + ".join(
        f"CAST(unicode(s[i + {j}]) AS HUGEINT) * "
        f"CAST({pow(_RK_BASE, k - 1 - j, 1 << 64)} AS HUGEINT)"
        for j in range(k)
    )
    return f"""__cn AS (
      SELECT doc_id, {normalize_sql('text')} AS s
      FROM documents
    ), __cc AS (
      SELECT doc_id, s, length(s) AS n FROM __cn WHERE length(s) >= 1
    ), __ch AS (
      SELECT doc_id, s, n,
             [CAST(({poly}) % CAST(18446744073709551616 AS HUGEINT) AS HUGEINT)
              FOR i IN generate_series(1, n - {k - 1})] AS hs
      FROM __cc WHERE n >= {k}
    ), __ccut AS (
      SELECT doc_id, s, n,
             [i + {k - 1} FOR i IN generate_series(1, len(hs))
              IF hs[i] % {divisor} = 0] AS cuts0
      FROM __ch
    ), __cfull AS (
      SELECT doc_id, s,
             CASE WHEN len(cuts0) = 0 OR cuts0[-1] <> n
                  THEN list_append(cuts0, n) ELSE cuts0 END AS cuts
      FROM __ccut
      UNION ALL
      SELECT doc_id, s, [n] AS cuts FROM __cc WHERE n < {k}
    ), __cx AS (
      SELECT doc_id, s, UNNEST(cuts) AS cend FROM __cfull
    ), __cse AS (
      SELECT doc_id, s, cend,
             COALESCE(lag(cend) OVER (PARTITION BY doc_id ORDER BY cend), 0)
               AS prev,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cend) - 1
               AS chunk_idx
      FROM __cx
    ), cdc_chunks AS (
      SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
             CAST(prev + 1 AS BIGINT) AS start, CAST(cend AS BIGINT) AS cend,
             CAST(cend - prev AS BIGINT) AS chunk_len,
             substr(md5(substr(s, prev + 1, cend - prev)), 1, 8) AS fp
      FROM __cse
    )"""


def bpe_pair_counts(stream: Column) -> Column:
    """Adjacent-symbol pair array from a ``bpe_apply``-style stream, word
    boundaries excluded: every (sym[i], sym[i+1]) with neither side the
    '< >' boundary symbol. Standard (Sennrich) BPE statistics — overlapping
    occurrences all count ('aaa' contributes (a,a) twice); only the APPLY
    step is greedy non-overlapping."""
    inner = F.substring(
        stream, F.lit(2), F.greatest(F.lit(0), F.length(stream) - 2)
    )
    sym = F.split(inner, "><")
    n = F.size(sym)
    pairs = F.zip_with(
        F.slice(sym, 1, F.greatest(F.lit(0), n - 1)),
        F.slice(sym, 2, F.greatest(F.lit(0), n - 1)),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
    )
    return F.filter(
        pairs,
        lambda p: (p["a"] != " ") & (p["b"] != " ") & (p["a"] != "") & (p["b"] != ""),
    )


def bpe_learn(df, text_col: str, rounds: int = 6, lossless: bool = False):
    """LEARN a BPE merge table from a corpus: ``rounds`` iterations of
    (count adjacent symbol pairs) → (argmax pair, count DESC / lexicographic
    tiebreak) → (merge that pair corpus-wide), the Sennrich et al. 2016
    algorithm, unrolled into ONE lazy DataFrame plan.

    Spark-first iteration shape (the e07/g01 unrolled-round pattern, but
    with zero driver-side state): each round's winning pair is a 1-row
    aggregate DataFrame, broadcast-crossJoined back so the next round's
    ``replace`` pattern is built from COLUMNS (``F.replace`` accepts Column
    patterns) — the merge table never touches the driver. Each round's
    merged stream is localCheckpoint-ed (eager), so k merges really cost
    O(k) corpus scans: without the checkpoint, every round's argmax and
    every final-union branch would recompute the whole replace chain from
    the source (O(k^2) scans). At 100 TB swap localCheckpoint for
    ``checkpoint`` to reliable storage — same O(k) shape (pair-count
    partial aggregation map-side, one scan per merge), executor-local
    blocks just aren't durable enough for a 1000-executor run.

    Literal '<'/'>' chars are stripped from the corpus before encoding
    (see :func:`bpe_apply` — they would forge the frame brackets). This is
    LOSSY by design: on bracket-heavy corpora (raw HTML) the learned merges
    differ from a BPE that keeps brackets as ordinary symbols. Acceptable
    for the audit use-case this operator serves (merge-table statistics,
    not a production tokenizer); a production variant would escape
    ('~'→'~0', '<'→'~1', '>'→'~2', split on '(~[012]|.)') instead of strip.

    Eager-execution note: construction RUNS Spark jobs (the per-round
    checkpoints) — callers get a materialized k-row result, not a lazy
    plan. All intermediate checkpoint blocks (the per-round corpus streams
    and 1-row winners) are unpersisted before returning; only the k-row
    result block itself stays resident until the returned DataFrame is
    GC'd, so repeated runs in one session don't accumulate executor-local
    storage (ADVICE r05).

    Returns a ``rounds``-row DataFrame (round, left_sym, right_sym,
    pair_cnt). Pinned against the pure-Python model by
    ``test_bpe_learn_equals_model``.
    """
    from aws_data_engineering_spark.operators.checkpoints import (
        release_checkpoints,
        tracked_local_checkpoint,
    )

    spark = df.sparkSession
    own_ids: set[int] = set()
    # single-file corpora read as one split; spread the k corpus re-scans
    # across cores (the containment_pairs/exploded_shingles lesson)
    if lossless:
        framed = F.regexp_replace(
            bpe_escape_brackets(F.col(text_col)), "(~[012]|.)", "<$1>"
        )
    else:
        framed = F.regexp_replace(
            F.regexp_replace(F.col(text_col), "[<>]", ""), "(.)", "<$1>"
        )
    stream = tracked_local_checkpoint(
        df.repartition(spark.sparkContext.defaultParallelism).select(
            framed.alias("s")
        ),
        own_ids,
    )
    out = None
    for r in range(1, rounds + 1):
        pair = F.explode(bpe_pair_counts(F.col("s"))).alias("p")
        # 1-row checkpoint: the winner feeds BOTH the next stream and
        # the final union — materialize once, not once per consumer
        best = tracked_local_checkpoint(
            stream.select(pair)
            .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(1),
            own_ids,
        )
        row = best.select(
            F.lit(r).alias("round"),
            F.col("a").alias("left_sym"),
            F.col("b").alias("right_sym"),
            F.col("cnt").alias("pair_cnt"),
        )
        out = row if out is None else out.unionAll(row)
        if r < rounds:
            stream = tracked_local_checkpoint(
                stream.crossJoin(F.broadcast(best)).select(
                    F.replace(
                        F.col("s"),
                        F.concat(
                            F.lit("<"), F.col("a"), F.lit("><"), F.col("b"), F.lit(">")
                        ),
                        F.concat(F.lit("<"), F.col("a"), F.col("b"), F.lit(">")),
                    ).alias("s")
                ),
                own_ids,
            )
    # release every intermediate checkpoint block (streams + 1-row winners):
    # checkpoint the k-row result first so it no longer references them —
    # unpersisting a localCheckpoint DESTROYS it (CHECKPOINT_RDD_BLOCK_ID_
    # NOT_FOUND on reuse), so the order here is load-bearing. Only the ids
    # THIS call created are released (tracked per checkpoint) — a global
    # before/after registry diff would destroy checkpoints a concurrent
    # thread created on the shared session (review r6).
    out = out.localCheckpoint(eager=True)
    release_checkpoints(spark, own_ids)
    return out


def bpe_learn_model(
    corpus: list[str], rounds: int = 6, lossless: bool = False
) -> list[tuple[int, str, str, int]]:
    """Pure-Python reference model for :func:`bpe_learn`: same pair
    statistics (all adjacent occurrences, word boundary ' ' excluded), same
    (count DESC, pair lexicographic ASC) tiebreak, same greedy
    non-overlapping apply between rounds (via :func:`bpe_apply_model` on
    the whole char stream with ' ' kept as a never-merged symbol), same
    '<'/'>' strip before the char split."""
    if lossless:
        import re as _re

        streams = [
            _re.findall(
                r"~[012]|.",
                t.replace("~", "~0").replace("<", "~1").replace(">", "~2"),
            )
            for t in corpus
        ]
    else:
        streams = [list(t.replace("<", "").replace(">", "")) for t in corpus]
    out: list[tuple[int, str, str, int]] = []
    for r in range(1, rounds + 1):
        counts: dict[tuple[str, str], int] = {}
        for syms in streams:
            for x, y in zip(syms, syms[1:]):
                if " " in (x, y) or "" in (x, y):
                    continue
                counts[(x, y)] = counts.get((x, y), 0) + 1
        if not counts:
            break
        (a, b), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        out.append((r, a, b, cnt))
        merged: list[list[str]] = []
        for syms in streams:
            res: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            merged.append(res)
        streams = merged
    return out


def bpe_learn_oracle_sql(rounds: int = 6) -> str:
    """DuckDB SQL reproducing :func:`bpe_learn` over the ``documents``
    view: the k rounds unroll into chained CTEs, and each round's replace
    pattern is built from the previous round's 1-row argmax via a CROSS
    JOIN — dynamic patterns in pure SQL, exactly mirroring the Spark
    side's Column-built ``replace``."""
    parts = [
        "WITH s1 AS (SELECT regexp_replace(regexp_replace(text, '[<>]', '',"
        " 'g'), '(.)', '<\\1>', 'g') AS s"
        " FROM documents)"
    ]
    for r in range(1, rounds + 1):
        parts.append(f"""
    , p{r} AS (
      SELECT pr.a AS a, pr.b AS b, COUNT(*) AS cnt FROM (
        SELECT UNNEST([{{'a': sym[i], 'b': sym[i+1]}}
                       FOR i IN generate_series(1, len(sym) - 1)]) AS pr
        FROM (SELECT string_split(substr(s, 2, greatest(0, length(s) - 2)),
                                  '><') AS sym FROM s{r})
        ) WHERE pr.a NOT IN ('', ' ') AND pr.b NOT IN ('', ' ')
      GROUP BY 1, 2
    ), m{r} AS (
      SELECT a, b, cnt FROM p{r} ORDER BY cnt DESC, a, b LIMIT 1
    )""")
        if r < rounds:
            parts.append(f"""
    , s{r + 1} AS (
      SELECT replace(s, '<' || m.a || '><' || m.b || '>',
                     '<' || m.a || m.b || '>') AS s
      FROM s{r} CROSS JOIN m{r} m
    )""")
    selects = "\n    UNION ALL ".join(
        f"SELECT {r} AS round, a AS left_sym, b AS right_sym,"
        f" CAST(cnt AS BIGINT) AS pair_cnt FROM m{r}"
        for r in range(1, rounds + 1)
    )
    return "".join(parts) + "\n    " + selects


def bm25_scores(
    df,
    id_col: str,
    text_col: str,
    terms: tuple[str, ...],
    k1: float = 1.2,
    b: float = 0.75,
):
    """Per-document BM25 relevance for a FIXED query-term tuple (Robertson &
    Zaragoza 2009, the Lucene ``k1``/``b`` form with the +1-smoothed idf:
    ``idf = ln(1 + (N - df + 0.5)/(df + 0.5))``). Output: (id, ``bm25``
    DOUBLE) for documents scoring > 0.

    Spark-first shape — **no explode, no inverted index, zero data shuffle**:
    per-term ``tf`` and the doc length ``dl`` are higher-order-function
    expressions (``size(filter(tokens, x -> x = term))``) evaluated in the
    scan stage, and the corpus statistics (N, Σdl, per-term df) are ONE
    1-row aggregate broadcast-crossJoined back. At 100 TB the plan is two
    corpus scans (stats + score) with only a single 1-row exchange between
    them — the fixed-query retrieval recipe; for ad-hoc query sets, join a
    broadcast term table against an inverted index instead (t16's shape).

    Cross-engine determinism: every arithmetic step is written in the same
    literal order as :func:`bm25_oracle_sql` (per-term scores summed
    left-to-right with explicit parentheses, ``avgdl`` computed once as
    ``double(Σdl)/N``), so scores are bit-identical to DuckDB modulo the
    final ROUND the registered query applies.
    """
    toks = tokens(ascii_lower(text_col))

    def _eq(term: str):
        # single-arg lambda: a 2-arg function would make pyspark pass the
        # ELEMENT INDEX as the second argument (HOF arity dispatch)
        return lambda x: x == F.lit(term)

    feat = df.select(
        F.col(id_col).alias("id"),
        F.size(toks).alias("dl"),
        *[
            F.size(F.filter(toks, _eq(t))).alias(f"tf{i}")
            for i, t in enumerate(terms)
        ],
    )
    stats = feat.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("dl_sum"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("int")).alias(f"df{i}")
            for i in range(len(terms))
        ],
    )
    scored = feat.crossJoin(F.broadcast(stats)).withColumn(
        "avgdl", F.col("dl_sum").cast("double") / F.col("n_docs")
    )
    k1p1 = k1 + 1.0
    one_minus_b = 1.0 - b
    score = None
    for i in range(len(terms)):
        tf, dfc = F.col(f"tf{i}"), F.col(f"df{i}")
        idf = F.log(
            F.lit(1.0)
            + ((F.col("n_docs") - dfc) + F.lit(0.5)) / (dfc + F.lit(0.5))
        )
        tfn = (tf * F.lit(k1p1)) / (
            tf + F.lit(k1) * (F.lit(one_minus_b) + (F.lit(b) * F.col("dl")) / F.col("avgdl"))
        )
        term_score = idf * tfn
        score = term_score if score is None else score + term_score
    return scored.select("id", score.alias("bm25")).filter(F.col("bm25") > 0)


def bm25_scored_cte_sql(
    terms: tuple[str, ...],
    k1: float = 1.2,
    b: float = 0.75,
    table: str = "documents",
    id_expr: str = "doc_id",
    text_expr: str = "text",
) -> str:
    """The ``base``/``feat``/``stats``/``scored`` CTE chain of
    :func:`bm25_oracle_sql` (``scored`` = (id, bm25)) as a reusable SQL
    fragment, so composite oracles (s11's RRF fusion) share the one
    bit-exact BM25 definition instead of re-deriving it."""
    tf_cols = ",\n             ".join(
        f"len(list_filter(t, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ",\n             ".join(
        f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i in range(len(terms))
    )
    # every float literal CAST to DOUBLE: DuckDB types a bare '2.2' as
    # DECIMAL and evaluates tf*2.2 exactly, diverging from Spark's IEEE
    # multiply by 1 ulp (review r6: bit patterns e346..ae vs e446..ae for
    # tf=3, dl=7) — the bit-identical-scores claim requires double ops
    # end-to-end on both engines
    def _dbl(x: float) -> str:
        return f"CAST({x!r} AS DOUBLE)"

    k1p1, one_minus_b = _dbl(k1 + 1.0), _dbl(1.0 - b)
    half = _dbl(0.5)
    term_exprs = [
        f"(ln(1.0 + ((n_docs - df{i}) + {half}) / (df{i} + {half}))"
        f" * ((tf{i} * {k1p1}) / (tf{i} + {_dbl(k1)} *"
        f" ({one_minus_b} + ({_dbl(b)} * dl) / avgdl))))"
        for i in range(len(terms))
    ]
    score = term_exprs[0]
    for t in term_exprs[1:]:
        score = f"({score} + {t})"
    return f"""base AS (
      SELECT {id_expr} AS id,
             {tokens_sql(ascii_lower_sql(text_expr))} AS t
      FROM {table}
    ), feat AS (
      SELECT id, len(t) AS dl,
             {tf_cols}
      FROM base
    ), stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
             {df_cols}
      FROM feat
    ), scored AS (
      SELECT id, {score} AS bm25
      FROM feat CROSS JOIN stats
    )"""


def bm25_oracle_sql(
    terms: tuple[str, ...],
    k: int,
    k1: float = 1.2,
    b: float = 0.75,
    table: str = "documents",
    id_expr: str = "doc_id",
    text_expr: str = "text",
) -> str:
    """DuckDB SQL twin of :func:`bm25_scores` + top-k ranking — identical
    literal arithmetic order so the unrounded doubles match bit-for-bit."""
    cte = bm25_scored_cte_sql(
        terms, k1=k1, b=b, table=table, id_expr=id_expr, text_expr=text_expr
    )
    return f"""
    WITH {cte}
    SELECT id, ROUND(bm25, 6) AS bm25, rnk FROM (
      SELECT id, bm25,
             CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, id) AS INT) AS rnk
      FROM scored WHERE bm25 > 0
    ) WHERE rnk <= {k}
    """


def cms_report_oracle_sql(depth: int = 4, topk: int = 20) -> str:
    """DuckDB oracle for the count-min-sketch frequency report (t28's
    shape): exact token counts, per-row md5 cell buckets, min-over-rows
    estimates for the top-k tokens. Shared by the batch (t28) and
    streaming (st15) registrations — the streaming sketch merges per-batch
    cell partials and must land on the identical report."""
    from aws_data_engineering_spark.operators.sampling import bucket_sql

    cells = "\n      UNION ALL ".join(
        f"SELECT {r} AS r, {bucket_sql('token', f'cms{r}')} AS bucket, "
        f"CAST(SUM(cnt) AS BIGINT) AS cell FROM tc GROUP BY 2"
        for r in range(depth)
    )
    keys = "\n      UNION ALL ".join(
        f"SELECT token, cnt, {r} AS r, {bucket_sql('token', f'cms{r}')} "
        f"AS bucket FROM top"
        for r in range(depth)
    )
    return f"""
    WITH toks AS (
      SELECT UNNEST(string_split(text, ' ')) AS token FROM documents
      WHERE text IS NOT NULL
    ), tc AS (
      SELECT token, COUNT(*) AS cnt FROM toks WHERE token <> ''
      GROUP BY token
    ), cells AS (
      {cells}
    ), top AS (
      SELECT token, cnt FROM tc ORDER BY cnt DESC, token LIMIT {topk}
    ), keys AS (
      {keys}
    ), est AS (
      SELECT k.token, MIN(c.cell) AS est
      FROM keys k JOIN cells c ON k.r = c.r AND k.bucket = c.bucket
      GROUP BY k.token
    )
    SELECT t.token,
           CAST(t.cnt AS BIGINT) AS exact_cnt,
           CAST(e.est AS BIGINT) AS cms_est,
           CAST(e.est - t.cnt AS BIGINT) AS overcount
    FROM top t JOIN est e ON t.token = e.token
    """


def cms_cells(token_counts: DataFrame, depth: int = 4) -> DataFrame:
    """(token, cnt) census → the (r, bucket, cell) count-min-sketch table
    (md5 bucketing, width 256 per row). The single definition shared by
    the batch query (t28), the streaming per-batch partial sink (st15)
    and tests — CMS geometry changes in exactly one place."""
    from aws_data_engineering_spark.operators.sampling import hash_bucket

    fan = None
    for r in range(depth):
        part = token_counts.select(
            F.lit(r).alias("r"),
            hash_bucket("token", f"cms{r}").alias("bucket"),
            "cnt",
        )
        fan = part if fan is None else fan.unionByName(part)
    return fan.groupBy("r", "bucket").agg(F.sum("cnt").alias("cell"))


def cms_report(
    token_counts: DataFrame, cells: DataFrame, depth: int = 4, topk: int = 20
) -> DataFrame:
    """Top-k exact counts joined with min-over-rows CMS estimates — the
    report half of t28/st15 (see :func:`cms_report_oracle_sql`)."""
    from aws_data_engineering_spark.operators.sampling import hash_bucket

    top = token_counts.orderBy(F.col("cnt").desc(), F.col("token")).limit(topk)
    keys = None
    for r in range(depth):
        part = top.select(
            "token",
            "cnt",
            F.lit(r).alias("r"),
            hash_bucket("token", f"cms{r}").alias("bucket"),
        )
        keys = part if keys is None else keys.unionByName(part)
    est = (
        keys.join(cells, ["r", "bucket"])
        .groupBy("token")
        .agg(F.min("cell").alias("est"))
    )
    return top.join(est, "token").select(
        "token",
        F.col("cnt").alias("exact_cnt"),
        F.col("est").alias("cms_est"),
        (F.col("est") - F.col("cnt")).alias("overcount"),
    )
