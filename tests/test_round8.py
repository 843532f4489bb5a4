"""Round-8 adversarial cross-engine sweep: Unicode case folding.

Spark/Java ``lower()`` is context-sensitive Unicode — U+0130 İ lowers to
'i' + COMBINING DOT ABOVE (two codepoints) and a word-final Σ lowers to ς —
while DuckDB's ``lower()`` maps İ to plain 'i' and always emits σ. Python
``str.lower`` matches Java. Before round 8 unified every token-identity
case fold to the engine-portable ASCII A-Z translate
(operators/text.py ascii_lower / ascii_lower_sql / ASCII_FOLD_TABLE), this
planted corpus flipped four live queries: t10 (token strings), t35 (hashed
grams), d03 (md5 fingerprints), d06 (simhash token hashes). Fixture
corpora are pure ASCII, so the unification changed no fixture outputs —
this sweep is what keeps the class closed.
"""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from aws_data_engineering_spark.plans.registry import QUERIES, queries
from tests.oracle_utils import write_docs

queries()  # load registrations


# Turkish dotted capital İ, Greek final-sigma contexts, capital sharp S,
# fullwidth forms, titlecase digraph ǅ — every known seam between Java
# (context-sensitive Unicode), Python (same), and DuckDB (not) lowercasing.
_UNICODE_CASE_ROWS = [
    (1, "İSTANBUL ticket İÇİN details okay", "tr", "web"),
    (2, "ΣΟΦΟΣ ΣΑΣ words ΟΔΟΣ end", "el", "web"),
    (3, "STRAẞE crossing STRASSE walk", "de", "web"),
    (4, "ＦＵＬＬＷＩＤＴＨ ＴＥＸＴ here now", "ja", "web"),
    (5, "ǅungla Ǆ mixed titlecase words", "hr", "web"),
    (6, "normal ascii CONTROL text for pairs", "en", "web"),
    (7, "normal ascii CONTROL text for pairs ok", "en", "web"),
]

_SWEEP_QUERIES = [
    "t01_text_stats", "t02_quality_scores", "t03_token_counts_by_source",
    "t05_token_length_stats", "t07_repetition_signals", "t10_top_tokens",
    "t12_collapse_repeated_tokens", "t13_vocab_coverage",
    "t15_unigram_logprob", "t16_tfidf_top_terms", "t17_gopher_quality_rules",
    "t18_bigram_logprob", "t19_lexical_diversity", "t20_dsir_importance",
    "t23_pmi_collocations", "t25_zipf_fit", "t26_readability_by_lang",
    "t27_charclass_entropy", "t30_bm25_topk", "t31_kneser_ney_bigram",
    "t32_langid_ngram_profile", "t33_heaps_law_fit", "t34_lang_jsd_matrix",
    "t35_hashed_ngram_quality", "t06_winnowing_fingerprints",
    "d01_exact_dedup_groups", "d03_fingerprint_dedup",
    "d05_ngram_jaccard_pairs", "d06_simhash",
    "d12_duplicate_shingle_fraction",
    # round 9: the unigram-LM EM trainer is a token-identity query (fold +
    # tokenize + substring DP on all three engines) — exactly this sweep's
    # class; words over the 8-char cap drop identically on both engines
    "t38_unigram_lm_em",
]


@pytest.mark.parametrize("name", _SWEEP_QUERIES)
def test_text_queries_unicode_case_parity(spark, tmp_path, name):
    from tests.oracle_utils import compare

    write_docs(tmp_path, _UNICODE_CASE_ROWS)
    q = QUERIES[name]
    compare(q.spark(spark, str(tmp_path)), q.oracle, str(tmp_path))


# ---------------------------------------------------------------------------
# Property test for the round-8 vectorized session fold (streams._session_
# fold_fn): the numpy gaps-and-islands rewrite must agree with the obvious
# per-row reference on arbitrary batch splits of arbitrary event sequences.
# ---------------------------------------------------------------------------
class _FakeState:
    """Minimal stand-in for pyspark's GroupState."""

    def __init__(self):
        self._v = None
        self.hasTimedOut = False
        self.timeout_ms = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def remove(self):
        self._v = None

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = ms


def _reference_sessions(ts_us_sorted, vals, gap_us):
    """Per-row reference fold: list of closed (start, last, n, total) plus
    the open tail."""
    closed, cur = [], None
    for t, v in zip(ts_us_sorted, vals):
        if cur is None:
            cur = [t, t, 1, float(v)]
        elif t - cur[1] > gap_us:
            closed.append(tuple(cur))
            cur = [t, t, 1, float(v)]
        else:
            cur[1], cur[2], cur[3] = t, cur[2] + 1, cur[3] + float(v)
    return closed, tuple(cur) if cur else None


def _drive_fold(fn, batches):
    """Feed time-ordered batches of (ts_us, event_id, value) through fn,
    collecting closed sessions; then fire the timeout."""
    import pandas as pd

    state = _FakeState()
    out = []
    for batch in batches:
        if not batch:
            continue
        pdf = pd.DataFrame(
            {
                "ts": pd.to_datetime([b[0] for b in batch], unit="us"),
                "event_id": [b[1] for b in batch],
                "value": [b[2] for b in batch],
            }
        )
        for emitted in fn((7,), iter([pdf]), state):
            out.extend(
                (int(r.session_start.value // 1000), int(r.session_end.value // 1000),
                 int(r.n_events), float(r.session_value))
                for r in emitted.itertuples()
            )
    state.hasTimedOut = True
    for emitted in fn((7,), iter([]), state):
        out.extend(
            (int(r.session_start.value // 1000), int(r.session_end.value // 1000),
             int(r.n_events), float(r.session_value))
            for r in emitted.itertuples()
        )
    assert not state.exists, "timeout must clear state"
    return out


def test_session_fold_matches_reference_property():
    """Random event sequences, random batch splits (time-ordered across
    batches, shuffled within a batch): the vectorized fold's emitted
    sessions == the per-row reference's closed+open sessions."""
    import random

    from aws_data_engineering_spark.streaming.streams import _session_fold_fn

    gap_min = 30
    gap_us = gap_min * 60 * 1_000_000
    for seed in range(40):
        rng = random.Random(seed)
        n = rng.randint(1, 60)
        # event times: mixture of small (< gap) and large (> gap) steps,
        # including exact-gap ties (boundary: == gap does NOT split)
        t, ts = 1_600_000_000_000_000, []
        for _ in range(n):
            step = rng.choice(
                [0, 1, 999, gap_us, gap_us + 1, gap_us * 3, 60_000_000]
            )
            t += step
            ts.append(t)
        vals = [float(rng.randint(0, 50000)) for _ in range(n)]  # int cents
        rows = [(ts[i], i, vals[i]) for i in range(n)]
        # split into time-ordered batches; shuffle WITHIN each batch
        k = rng.randint(1, min(4, n + 1))
        cuts = sorted(rng.sample(range(n + 1), k - 1)) if k > 1 else []
        batches, prev = [], 0
        for c in cuts + [n]:
            b = rows[prev:c]
            rng.shuffle(b)
            batches.append(b)
            prev = c
        got = sorted(_drive_fold(_session_fold_fn(gap_min), batches))
        ref_closed, ref_open = _reference_sessions(ts, vals, gap_us)
        want = list(ref_closed) + ([ref_open] if ref_open else [])
        want = sorted((s, l, c, round(tot, 2)) for (s, l, c, tot) in want)
        assert got == want, f"seed={seed}\ngot={got}\nwant={want}"


# ---------------------------------------------------------------------------
# Edge cases for the round-8 queries: t35 on degenerate documents.
# ---------------------------------------------------------------------------


def test_t35_degenerate_documents(spark, tmp_path):
    """Empty text, single-token text, and a doc that is ONLY whitespace:
    gram construction (unigrams + bigrams) must agree cross-engine on all
    of them — the bigram comprehension and the Spark zip_with/slice must
    both emit zero bigrams for <2 tokens."""
    from tests.oracle_utils import compare

    rows = [
        (1, "", "en", "a"),
        (2, "solo", "en", "a"),
        (3, "   ", "en", "b"),
        (4, "two tokens", "en", "b"),
        (5, "ordinary document with several tokens inside", "en", "c"),
    ]
    write_docs(tmp_path, rows)
    q = QUERIES["t35_hashed_ngram_quality"]
    compare(q.spark(spark, str(tmp_path)), q.oracle, str(tmp_path))


# ---------------------------------------------------------------------------
# Round-8 sweep #2: LEADING/TRAILING exotic whitespace (the trim seam).
# The three engines' native trims all differ — Spark F.trim strips 0x20
# spaces only, DuckDB's 1-arg trim strips Unicode space-class chars (NBSP,
# U+3000) but NOT \t/\n/\x0b/\f/\r, Python str.strip() strips full Unicode
# whitespace. Round 7's sweep planted only INTERIOR whitespace, so this
# corpus flipped 13 live queries (incl. plain leading ASCII tabs) before
# every compared trim moved to the ASCII-6 contract
# (text.ascii_trim / ascii_trim_sql / .strip(" \t\n\x0b\f\r")).
# ---------------------------------------------------------------------------
_EDGE_WS_ROWS = [
    (1, "\xa0leading nbsp text here", "en", "web"),
    (2, "trailing ideographic space　", "en", "web"),
    (3, "\x0bleading vertical tab words", "en", "web"),
    (4, "\t\tleading ascii tabs fine", "en", "web"),
    (5, "\xa0\xa0double nbsp lead and trail\xa0", "en", "web"),
    (6, "normal control text for pairs", "en", "web"),
    (7, "normal control text for pairs ok", "en", "web"),
]

_EDGE_WS_QUERIES = _SWEEP_QUERIES + [
    "t08_pandas_udf_tokens", "t09_udtf_tokenize", "t11_arrow_native_stats",
]


@pytest.mark.parametrize("name", _EDGE_WS_QUERIES)
def test_text_queries_edge_whitespace_parity(spark, tmp_path, name):
    from tests.oracle_utils import compare

    write_docs(tmp_path, _EDGE_WS_ROWS)
    q = QUERIES[name]
    compare(q.spark(spark, str(tmp_path)), q.oracle, str(tmp_path))


# ---------------------------------------------------------------------------
# Round-8 additions #2 (s13 / t36 / q102) — edge semantics pinned cross-engine.
# ---------------------------------------------------------------------------
def _write_events(tmp_path, rows):
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))


def test_t36_duplicate_doc_has_zero_novelty(spark, tmp_path):
    """An exact duplicate with a HIGHER doc_id introduces nothing (every
    gram's min-doc attribution points at the original); the original owns
    100% of its grams; an empty doc's single ''-gram attributes to the
    lowest empty doc_id. Cross-engine exact."""
    from tests.oracle_utils import compare

    rows = [
        (1, "alpha beta gamma delta epsilon zeta", "en", "orig"),
        (2, "alpha beta gamma delta epsilon zeta", "en", "dup"),
        (3, "", "en", "empty"),
        (4, "  ", "en", "empty2"),
        (5, "alpha beta gamma NEW tokens here", "en", "partial"),
    ]
    write_docs(tmp_path, rows)
    q = QUERIES["t36_crossdoc_ngram_novelty"]
    df = q.spark(spark, str(tmp_path))
    by_src = {r["source"]: r for r in df.collect()}
    assert by_src["orig"]["novel_grams"] == by_src["orig"]["total_grams"]
    assert by_src["dup"]["novel_grams"] == 0
    assert by_src["empty"]["novel_grams"] == 1  # '' gram, lowest empty doc
    assert by_src["empty2"]["novel_grams"] == 0  # same '' gram, higher id
    assert 0 < by_src["partial"]["novel_grams"] < by_src["partial"]["total_grams"]
    compare(df, q.oracle, str(tmp_path))


def test_q102_cohort_edges(spark, tmp_path):
    """Single-event users are their own cohort at offset 0 with
    retention_ppm exactly 1_000_000; a user active across a year boundary
    lands in the right week offsets (Monday-start date_trunc('week') must
    agree between Spark and DuckDB across Jan 1); NULL-ts events form a
    NULL cohort row identically in both engines."""
    import datetime

    from tests.oracle_utils import compare

    d = datetime.datetime
    rows = [
        # user 1: one event only -> cohort=its week, offset 0 only
        (1, d(2024, 3, 5, 10, 0), 1, "view", 1.0, None),
        # user 2: active Dec 29 2023 (Fri, week of Mon Dec 25) and
        # Jan 3 2024 (Wed, week of Mon Jan 1) -> offsets 0 and 1
        (2, d(2023, 12, 29, 8, 0), 2, "view", 1.0, None),
        (3, d(2024, 1, 3, 9, 0), 2, "click", 1.0, None),
        # user 3: three weeks of activity incl. a gap (offsets 0, 2)
        (4, d(2024, 3, 4, 7, 0), 3, "view", 1.0, None),
        (5, d(2024, 3, 18, 7, 0), 3, "view", 1.0, None),
        # user 4: NULL ts only -> NULL cohort row
        (6, None, 4, "view", 1.0, None),
    ]
    _write_events(tmp_path, rows)
    q = QUERIES["q102_retention_cohorts"]
    df = q.spark(spark, str(tmp_path))
    got = {(r["cohort_week"], r["week_offset"]): r for r in df.collect()}
    assert got[("2023-12-25", 0)]["retention_ppm"] == 1_000_000
    assert got[("2023-12-25", 1)]["n_users"] == 1  # year-boundary offset
    assert got[("2024-03-04", 0)]["n_users"] == 2  # users 1 and 3
    assert got[("2024-03-04", 2)]["retention_ppm"] == 500_000
    assert (None, None) in got  # NULL-ts cohort row survives identically
    compare(df, q.oracle, str(tmp_path))


def test_gif_lzw_codec_roundtrip_property():
    """The GIF89a encoder/decoder pair must be exact inverses across the
    LZW regimes: random frames (width growth), a 40k-pixel frame crossing
    the 4096-code dictionary reset, and an all-same-pixel frame (the
    KwKwK corner where the decoder sees a code one past its table)."""
    import random

    from aws_data_engineering_spark.operators.multimodal import (
        GIF_N_COLORS,
        _gif_worker_fns,
    )

    enc, dec = _gif_worker_fns()
    palette = [((j * 17) % 256, (j * 29) % 256, (j * 43) % 256)
               for j in range(GIF_N_COLORS)]
    rng = random.Random(7)
    for _ in range(50):
        w, h = rng.randint(1, 40), rng.randint(1, 40)
        frames = [
            bytes(rng.randrange(16) for _ in range(w * h))
            for _ in range(rng.randint(1, 4))
        ]
        w2, h2, pal2, fr2 = dec(enc(w, h, frames, palette))
        assert (w2, h2, pal2, fr2) == (w, h, palette, frames)
    big = bytes((k * k + 7 * k) % 16 for k in range(200 * 200))
    assert dec(enc(200, 200, [big], palette))[3] == [big]
    mono = bytes([5]) * 997
    assert dec(enc(997, 1, [mono], palette))[3] == [mono]


# ---------------------------------------------------------------------------
# Round-8 third batch: d20 / q103 / m21 / c19 edge cases
# ---------------------------------------------------------------------------


def test_d20_blocking_ties_and_unicode(spark, tmp_path):
    """Blocked sorted-neighborhood contract: duplicate texts in one block
    produce a distance-0 pair; docs in DIFFERENT (first-token, len//16)
    blocks are never compared; NULL text rows drop; non-ASCII chars in the
    48-char key sanitize to '?' identically on both sides (Spark
    levenshtein counts codepoints, DuckDB counts bytes — the ASCII
    sanitization is what keeps them equal)."""
    from tests.oracle_utils import compare

    rows = [
        # block ('dup', 0): two identical + one near docs -> k1 dist 0
        (1, "dup alpha beta gamma delta", "en", "a"),
        (2, "dup alpha beta gamma delta", "en", "a"),
        (3, "dup alpha beta gamma zzzzz", "en", "a"),
        # different first token -> different block, never compared
        (4, "other alpha beta gamma delta", "en", "a"),
        # same first token but 20 tokens (//16 = 1) -> different block
        (5, "dup " + " ".join(["w"] * 19), "en", "a"),
        # unicode: καλός vs καλό sanitize to the same '????' prefix run
        (6, "καλός words end here now", "el", "a"),
        (7, "καλό words end here now", "el", "a"),
    ]
    write_docs(tmp_path, rows)
    q = QUERIES["d20_sorted_neighborhood_pairs"]
    df = q.spark(spark, str(tmp_path))
    rows_out = {(r["k"], r["dist_bucket"]): r for r in df.collect()}
    # block ('dup',0) has 3 docs -> k1 pairs (1,2),(2,3) and k2 pair (1,3)
    assert rows_out[(1, 0)]["min_dist"] == 0  # the exact duplicate pair
    assert (2, 0) in rows_out
    # no k=3 pair anywhere: largest block has 3 docs
    assert not any(k == 3 for k, _ in rows_out)
    compare(df, q.oracle, str(tmp_path))


def test_d20_null_text_dropped(spark, tmp_path):
    from tests.oracle_utils import compare

    write_docs(
        tmp_path,
        [
            (1, "same text here", "en", "a"),
            (2, "same text here", "en", "a"),
            (3, None, "en", "a"),
        ],
    )
    q = QUERIES["d20_sorted_neighborhood_pairs"]
    df = q.spark(spark, str(tmp_path))
    out = df.collect()
    assert len(out) == 1 and out[0]["n_pairs"] == 1  # NULL row contributes nothing
    compare(df, q.oracle, str(tmp_path))


def test_q103_idle_cap_ties_and_last_event(spark, tmp_path):
    """TWAP semantics pinned: a gap over 3600 s caps at exactly 3600; two
    events at the SAME timestamp order by event_id (first gets dur 0); each
    user's final event has no successor and drops; a NULL-ts event drops on
    both sides; floor(value*100) cents match bit-exactly."""
    import datetime

    from tests.oracle_utils import compare

    d = datetime.datetime
    t0 = d(2024, 3, 5, 10, 0, 0)
    rows = [
        # user 1: 2h gap -> capped 3600; then 10s gap; last event drops
        (1, t0, 1, "view", 10.00, None),
        (2, t0 + datetime.timedelta(hours=2), 1, "view", 20.00, None),
        (3, t0 + datetime.timedelta(hours=2, seconds=10), 1, "click", 30.00, None),
        # user 2: tied timestamps -> event_id order, dur 0 segment
        (4, t0, 2, "view", 1.01, None),
        (5, t0, 2, "click", 2.02, None),
        (6, t0 + datetime.timedelta(seconds=5), 2, "view", 3.03, None),
        # user 3: NULL ts (drops) + a single real event (no successor, drops)
        (7, None, 3, "view", 99.0, None),
        (8, t0, 3, "purchase", 50.0, None),
    ]
    _write_events(tmp_path, rows)
    q = QUERIES["q103_time_weighted_value"]
    df = q.spark(spark, str(tmp_path))
    by_type = {r["event_type"]: r for r in df.collect()}
    # view segments: u1 e1 (3600s cap @1000c), u1 e2 (10s @2000c),
    #                u2 e4 (0s @101c), u2 e5->e6? e5 is click. u2 e4 tie
    assert by_type["view"]["total_s"] == 3600 + 10 + 0
    assert by_type["view"]["weighted_cents_s"] == 3600 * 1000 + 10 * 2000
    assert by_type["view"]["twap_cents"] == (3600 * 1000 + 10 * 2000) // 3610
    # click: u2 e5 (5s @202c); u1 e3 is the user's last event -> dropped
    assert by_type["click"]["n_segments"] == 1
    assert by_type["click"]["weighted_cents_s"] == 5 * 202
    assert "purchase" not in by_type  # sole event, no successor
    compare(df, q.oracle, str(tmp_path))


def test_m21_resize_known_pixels_and_negative_ids(spark, tmp_path):
    """id=0 is a 4x4 gradient upscaled 2x2 per source pixel: sum_px is
    exactly 4x the source sum (1928); negative doc_ids are excluded on
    both sides (Python vs DuckDB % sign semantics)."""
    from tests.oracle_utils import compare

    write_docs(
        tmp_path,
        [
            (0, "tiny", "en", "a"),
            (17, "mixed dims", "en", "a"),  # w=21? no: 4+17%16=5, h=4+17%12=9
            (-3, "negative id drops", "en", "a"),
        ],
    )
    q = QUERIES["m21_png_resize_thumbnail"]
    df = q.spark(spark, str(tmp_path))
    got = {r["id"]: r for r in df.collect()}
    assert set(got) == {0, 17}
    # id 0: w=h=4, src pixel k -> (k*31)%256, each repeats 2x2 in the 8x8
    src_sum = sum((k * 31) % 256 for k in range(16))
    assert got[0]["sum_px"] == 4 * src_sum
    assert got[0]["width"] == 4 and got[0]["height"] == 4
    # id 17: 5x9 -> downscale rows, upscale cols; replay the index map
    w, h = 4 + 17 % 16, 4 + 17 % 12
    vals = [
        ((17 + ((y * h) // 8) * w + ((x * w) // 8)) * 31) % 256
        for y in range(8)
        for x in range(8)
    ]
    assert got[17]["sum_px"] == sum(vals)
    assert got[17]["wsum_px"] == sum(v * (i + 1) for i, v in enumerate(vals))
    compare(df, q.oracle, str(tmp_path))


def test_c19_fixed_width_byte_offsets(spark, tmp_path):
    """The byte-offset parse recovers every field exactly: cents floor
    (1013.70 -> 101370), priority right-padding strips, date formats
    identically, and multi-row groups census correctly."""
    import datetime

    from tests.oracle_utils import compare

    d = datetime.datetime
    tbl = pa.table(
        {
            "o_orderkey": pa.array([1, 999999999999 - 1, 3], pa.int64()),
            "o_custkey": pa.array([7, 8, 7], pa.int64()),
            "o_orderstatus": pa.array(["O", "F", "O"], pa.string()),
            "o_totalprice": pa.array([1013.70, 0.01, 499999.99], pa.float64()),
            "o_orderdate": pa.array(
                [d(1998, 10, 3), d(1997, 5, 28), d(1999, 1, 16)],
                pa.timestamp("us"),
            ),
            "o_orderpriority": pa.array(
                ["5-LOW", "4-NOT SPECIFIED", "5-LOW"], pa.string()
            ),
        }
    )
    pq.write_table(tbl, str(tmp_path / "orders.parquet"))
    q = QUERIES["c19_fixed_width_roundtrip"]
    df = q.spark(spark, str(tmp_path))
    got = {(r["status"], r["priority"]): r for r in df.collect()}
    assert got[("O", "5-LOW")]["n_orders"] == 2
    assert got[("O", "5-LOW")]["sum_cents"] == 101370 + 49999999
    assert got[("F", "4-NOT SPECIFIED")]["min_date"] == "1997-05-28"
    compare(df, q.oracle, str(tmp_path))


# ---------------------------------------------------------------------------
# Round-8 fourth batch: d21 / m22 / e22 / dq18 edge cases
# ---------------------------------------------------------------------------


def test_d21_probe_never_joins_within_a_side(spark, tmp_path):
    """The probe emits ONLY batch-vs-index pairs: identical twins both in
    the batch (doc_ids 10, 20) and both in the index (1, 2) produce no
    pair; a batch doc (30) with an index twin (3) matches at est 1.0."""
    from tests.oracle_utils import compare

    texts = {
        "twin_a": "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "twin_b": "one two three four five six seven eight nine ten more here",
        "twin_c": "red green blue cyan magenta yellow black white gray pink",
        "lone": "nothing matches this text at all anywhere in this corpus",
    }
    rows = [
        (1, texts["twin_a"], "en", "idx"),
        (2, texts["twin_a"], "en", "idx"),
        (10, texts["twin_b"], "en", "new"),
        (20, texts["twin_b"], "en", "new"),
        (3, texts["twin_c"], "en", "idx"),
        (30, texts["twin_c"], "en", "new"),
        (4, texts["lone"], "en", "idx"),
    ]
    write_docs(tmp_path, rows)
    q = QUERIES["d21_incremental_minhash_probe"]
    df = q.spark(spark, str(tmp_path))
    got = {(r["id_new"], r["id_idx"]): r["est_jaccard"] for r in df.collect()}
    assert got[(30, 3)] == 1.0
    assert not any(a % 10 != 0 or b % 10 == 0 for a, b in got)
    assert (10, 20) not in got and (20, 10) not in got  # batch-batch never
    compare(df, q.oracle, str(tmp_path))


def test_m22_silence_replay_and_negative_ids(spark, tmp_path):
    """Per-clip silence census replayed in pure Python matches the engine;
    a negative doc_id is excluded on both sides."""
    from tests.oracle_utils import compare

    write_docs(
        tmp_path,
        [(0, "a", "en", "x"), (5, "b", "en", "x"), (-7, "neg", "en", "x")],
    )
    q = QUERIES["m22_wav_silence_segments"]
    df = q.spark(spark, str(tmp_path))
    got = {r["id"]: r for r in df.collect()}
    assert set(got) == {0, 5}
    for i in (0, 5):
        n = 256 + i % 512
        silent = [abs((i + k) * 31 % 256 - 128) < 32 for k in range(n)]
        runs, cur = [], 0
        for s in silent:
            if s:
                cur += 1
            elif cur:
                runs.append(cur)
                cur = 0
        if cur:
            runs.append(cur)
        assert got[i]["n_silent"] == sum(silent)
        assert got[i]["n_segments"] == sum(1 for r in runs if r >= 2)
        assert got[i]["longest_run"] == (max(runs) if runs else 0)
    compare(df, q.oracle, str(tmp_path))


def test_dq18_gap_dup_and_start_detection(spark, tmp_path):
    """Planted per-order line-number pathologies each count exactly once:
    a clean order, an interior gap (1,2,4), a duplicate (1,1,2), and a
    wrong start (2,3) — which is NOT an interior gap (max-min+1 ==
    distinct)."""
    from tests.oracle_utils import compare

    rows = [
        (100, 1), (100, 2), (100, 3),      # clean
        (200, 1), (200, 2), (200, 4),      # interior gap
        (300, 1), (300, 1), (300, 2),      # duplicate
        (400, 2), (400, 3),                # wrong start, no interior gap
    ]
    tbl = pa.table(
        {
            "l_orderkey": pa.array([r[0] for r in rows], pa.int64()),
            "l_partkey": pa.array([1] * len(rows), pa.int64()),
            "l_suppkey": pa.array([1] * len(rows), pa.int64()),
            "l_linenumber": pa.array([r[1] for r in rows], pa.int32()),
            "l_quantity": pa.array([1.0] * len(rows), pa.float64()),
            "l_extendedprice": pa.array([1.0] * len(rows), pa.float64()),
            "l_discount": pa.array([0.0] * len(rows), pa.float64()),
            "l_tax": pa.array([0.0] * len(rows), pa.float64()),
            "l_returnflag": pa.array(["N"] * len(rows), pa.string()),
            "l_linestatus": pa.array(["O"] * len(rows), pa.string()),
            "l_shipdate": pa.array([None] * len(rows), pa.timestamp("us")),
        }
    )
    pq.write_table(tbl, str(tmp_path / "lineitem.parquet"))
    q = QUERIES["dq18_linenumber_continuity"]
    df = q.spark(spark, str(tmp_path))
    r = df.collect()[0]
    assert r["n_orders"] == 4
    assert r["n_with_dups"] == 1 and r["total_dup_rows"] == 1
    assert r["n_with_gaps"] == 1
    assert r["n_not_starting_at_1"] == 1
    assert r["max_rows_per_order"] == 3
    compare(df, q.oracle, str(tmp_path))


def test_pp02_waterfall_all_five_verdicts(spark, tmp_path):
    """A planted delta exercises every stage exactly once, and the CASE
    precedence holds: a doc that is both a batch-dup AND an index-dup
    counts as exact_dup_in_batch (first match wins)."""
    from tests.oracle_utils import compare

    kept = ("the quick brown fox jumps over a lazy dog and then the fox "
            "runs far away to find some more of the good food it wants")
    near = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi")
    dup = "this exact text appears in the batch twice and in the index too"
    rows = [
        # index side (doc_id % 10 != 0)
        (1, dup, "en", "idx"),
        (3, near + " original", "en", "idx"),
        (7, "completely unrelated index content with many words here", "en", "idx"),
        # batch side (doc_id % 10 == 0)
        (10, dup, "en", "new"),              # exact dup vs index (canonical in batch)
        (20, dup, "en", "new"),              # exact dup IN BATCH (precedence)
        (30, near + " changed", "en", "new"),  # near dup vs index
        (40, "99 88 77", "en", "new"),       # low quality
        (50, kept, "en", "new"),             # kept
    ]
    write_docs(tmp_path, rows)
    q = QUERIES["pp02_incremental_curation"]
    df = q.spark(spark, str(tmp_path))
    got = {r["verdict"]: r for r in df.collect()}
    assert got["exact_dup_in_batch"]["n_docs"] == 1   # doc 20
    assert got["exact_dup_vs_index"]["n_docs"] == 1   # doc 10
    assert got["near_dup_vs_index"]["n_docs"] == 1    # doc 30
    assert got["low_quality"]["n_docs"] == 1          # doc 40
    assert got["kept"]["n_docs"] == 1                 # doc 50
    compare(df, q.oracle, str(tmp_path))


# ---------------------------------------------------------------------------
# Round-8 fourth batch: t37 / dq19 / p17 / m23 / c20 edge cases
# ---------------------------------------------------------------------------


def test_t37_tiny_languages_and_tie_rates(spark, tmp_path):
    """Languages with 1 and 2 docs still get well-defined tercile
    boundaries ((n+2)//3 ranks), identical-rate docs land in the same
    bucket (boundaries compare by value, never by row identity), and the
    bucket census is cross-engine exact."""
    from tests.oracle_utils import compare

    rows = [
        (1, "alpha beta gamma", "xx", "a"),          # lone doc -> bucket 1
        (2, "alpha alpha alpha alpha", "yy", "a"),   # 2-doc lang
        (3, "rare1 rare2 rare3 rare4", "yy", "a"),
        # 4 docs, two with IDENTICAL token streams -> identical rates
        (4, "alpha beta alpha beta", "zz", "a"),
        (5, "alpha beta alpha beta", "zz", "a"),
        (6, "alpha alpha alpha alpha alpha", "zz", "a"),
        (7, "unique9 unique8 unique7", "zz", "a"),
    ]
    write_docs(tmp_path, rows)
    q = QUERIES["t37_ccnet_surprisal_buckets"]
    df = q.spark(spark, str(tmp_path))
    got = df.collect()
    xx = [r for r in got if r["lang"] == "xx"]
    assert len(xx) == 1 and xx[0]["bucket"] == 1 and xx[0]["n_docs"] == 1
    # identical docs 4 and 5 must share a bucket: census sums to 4 docs
    zz_total = sum(r["n_docs"] for r in got if r["lang"] == "zz")
    assert zz_total == 4
    compare(df, q.oracle, str(tmp_path))


def _write_tpch_mini(tmp_path, *, orphan=False):
    """Minimal 7-table TPC-H-ish fixture; with ``orphan=True`` plants a
    dangling FK + a NULL FK on every audited edge."""
    def t(name, cols):
        pq.write_table(pa.table(cols), str(tmp_path / f"{name}.parquet"))

    t("region", {"r_regionkey": pa.array([0, 1], pa.int64()),
                 "r_name": pa.array(["AMERICA", "ASIA"], pa.string())})
    t("nation", {"n_nationkey": pa.array([0, 1], pa.int64()),
                 "n_name": pa.array(["BRAZIL", "JAPAN"], pa.string()),
                 "n_regionkey": pa.array([0, 99 if orphan else 1], pa.int64())})
    t("customer", {"c_custkey": pa.array([10, 11], pa.int64()),
                   "c_name": pa.array(["a", "b"], pa.string()),
                   "c_nationkey": pa.array([0, 98 if orphan else 1], pa.int64())})
    t("supplier", {"s_suppkey": pa.array([20, 21], pa.int64()),
                   "s_name": pa.array(["s1", "s2"], pa.string()),
                   "s_nationkey": pa.array([None if orphan else 0, 1], pa.int64())})
    t("part", {"p_partkey": pa.array([30, 31], pa.int64()),
               "p_name": pa.array(["p1", "p2"], pa.string())})
    t("orders", {"o_orderkey": pa.array([40, 41, 42], pa.int64()),
                 "o_custkey": pa.array([10, 97 if orphan else 11, 11], pa.int64()),
                 "o_totalprice": pa.array([10.0, 20.0, 30.0], pa.float64()),
                 "o_orderdate": pa.array([datetime.date(1996, 3, 1)] * 3)})
    t("lineitem", {
        "l_orderkey": pa.array([40, 40, 96 if orphan else 41], pa.int64()),
        "l_partkey": pa.array([30, 95 if orphan else 31, 30], pa.int64()),
        "l_suppkey": pa.array([20, 21, None if orphan else 20], pa.int64()),
        "l_quantity": pa.array([1.0, 2.0, 3.0], pa.float64()),
    })


def test_dq19_planted_orphans_and_null_keys(spark, tmp_path):
    """Every audited FK edge reports its planted orphans and NULL keys
    (orphan rows vs distinct orphan keys differ when one dangling key
    repeats), and a clean fixture reports all zeros — both cross-engine
    exact."""
    from tests.oracle_utils import compare

    _write_tpch_mini(tmp_path, orphan=True)
    q = QUERIES["dq19_referential_orphans"]
    df = q.spark(spark, str(tmp_path))
    got = {r["relationship"]: r for r in df.collect()}
    assert got["lineitem.l_orderkey->orders"]["n_orphan_rows"] == 1
    assert got["lineitem.l_partkey->part"]["n_orphan_rows"] == 1
    assert got["lineitem.l_suppkey->supplier"]["n_null_keys"] == 1
    assert got["lineitem.l_suppkey->supplier"]["n_orphan_rows"] == 0
    assert got["orders.o_custkey->customer"]["n_orphan_rows"] == 1
    assert got["customer.c_nationkey->nation"]["n_orphan_keys"] == 1
    assert got["supplier.s_nationkey->nation"]["n_null_keys"] == 1
    assert got["nation.n_regionkey->region"]["n_orphan_rows"] == 1
    compare(df, q.oracle, str(tmp_path))


def test_p17_cap_boundary_ts_ties_and_null_ts(spark, tmp_path):
    """A user at exactly the cap is NOT clipped; one past the cap is; ties
    on ts resolve by event_id (the lowest-id event wins the capped slot);
    NULL-ts events are dropped on both sides; negative values floor
    toward -inf in both engines."""
    import datetime as dtm

    from tests.oracle_utils import compare

    d = dtm.datetime
    base = d(2024, 5, 1, 12, 0)
    rows = []
    # user 1: exactly 5 events -> not clipped
    for i in range(5):
        rows.append((100 + i, base, 1, "view", 1.0, None))
    # user 2: 7 events, two share ts with the 5th-slot boundary -> the
    # LOWER event_id of the tie is kept inside the cap
    for i in range(7):
        rows.append((200 + i, d(2024, 5, 1, 12, i // 2), 2, "view", 10.0, None))
    # user 3: NULL ts only -> dropped entirely
    rows.append((300, None, 3, "view", 99.0, None))
    # user 4: negative value exercises FLOOR toward -inf
    rows.append((400, base, 4, "refund", -1.015, None))
    _write_events(tmp_path, rows)
    q = QUERIES["p17_user_contribution_cap"]
    df = q.spark(spark, str(tmp_path))
    rows_out = df.collect()
    assert len(rows_out) == 1
    r = rows_out[0]
    assert r["n_users"] == 3  # user 3 (NULL ts) gone
    assert r["n_clipped_users"] == 1  # only user 2
    assert r["n_events_raw"] == 13
    assert r["n_events_capped"] == 11  # 5 + 5 + 1
    assert r["raw_cents"] == 500 + 7000 - 102  # floor(-1.015*100) = -102
    assert r["capped_cents"] == 500 + 5000 - 102
    compare(df, q.oracle, str(tmp_path))


def test_m23_mulaw_known_codes_and_cell_error_bound(spark):
    """The mu-law codec agrees with hand-computed G.711 values (0 encodes
    to 0xFF and round-trips exactly; -1 encodes to 0x7F) and every
    unclipped sample's round-trip error is bounded by half its
    quantization cell (4 << exponent)."""
    import numpy as np

    from aws_data_engineering_spark.operators import multimodal as MM

    # replicate the worker's vectorized codec on a known ramp
    x = np.arange(-8192, 8192, dtype=np.int64)
    sign = x < 0
    mag = np.abs(x)
    v = np.minimum(mag, 8159) + 132
    e = ((v >= 256).astype(np.int64) + (v >= 512) + (v >= 1024)
         + (v >= 2048) + (v >= 4096) + (v >= 8192))
    m = (v >> (e + 3)) & 15
    code = 255 - (sign * 128 + e * 16 + m)
    mid = (2 * m + 33) << (e + 2)
    rec = np.where(sign, -(mid - 132), mid - 132)
    # known anchors from the G.711 tables
    assert code[x.tolist().index(0)] == 0xFF and rec[x.tolist().index(0)] == 0
    assert code[x.tolist().index(-1)] == 0x7F
    # monotone: mu-law codes order-reverse within each sign half
    assert (np.diff(rec) >= 0).all()
    unclipped = mag <= 8159
    assert (np.abs(x - rec)[unclipped] <= (4 << e[unclipped])).all()


def test_c20_manifest_is_sole_pruning_authority(spark, tmp_path):
    """Months outside the derived transform range are never read (files
    scanned < files total), boundary months survive the residual filter
    with partial rows, and the audit columns hash-match the oracle."""
    import datetime as dtm

    from tests.oracle_utils import compare

    days = [
        dtm.date(1996, 1, 5),    # before range -> pruned at manifest level
        dtm.date(1996, 2, 5),    # Feb file read, row CUT by residual (<10th)
        dtm.date(1996, 2, 15),   # Feb row kept
        dtm.date(1996, 8, 25),   # Aug file read, row cut by residual (>20th)
        dtm.date(1996, 12, 31),  # after range -> pruned
        dtm.date(1996, 5, 10),   # mid-range
    ]
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array(list(range(len(days))), pa.int64()),
                "o_custkey": pa.array([1] * len(days), pa.int64()),
                "o_totalprice": pa.array([100.5] * len(days), pa.float64()),
                "o_orderdate": pa.array(days),
            }
        ),
        str(tmp_path / "orders.parquet"),
    )
    q = QUERIES["c20_hidden_partition_pruning"]
    df = q.spark(spark, str(tmp_path))
    rows = df.collect()
    r = rows[0]
    assert r["n_files_total"] == 5  # Jan Feb May Aug Dec
    assert r["n_files_scanned"] == 3  # Feb May Aug
    assert r["rows_scanned"] == 4  # both Feb rows + May + Aug
    months = {x["m"] for x in rows}
    assert months == {199602, 199605}  # Aug row dies in the residual
    compare(df, q.oracle, str(tmp_path))


def test_c21_no_false_negatives_and_empty_build(spark, tmp_path):
    """The bloom pre-filter may only ever OVER-admit: every row that
    survives the exact join also survived the bloom (no false negatives,
    the property that makes the reduction semantics-preserving). An empty
    build side yields an empty result on both engines."""
    from tests.oracle_utils import compare

    days = [datetime.date(1996, 3, 1)] * 4
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([1, 2, 3, 4], pa.int64()),
                "o_custkey": pa.array([1] * 4, pa.int64()),
                "o_totalprice": pa.array([200000.0, 100.0, 300000.0, 100.0]),
                "o_orderpriority": pa.array(
                    ["1-URGENT", "1-URGENT", "2-HIGH", "1-URGENT"], pa.string()
                ),
                "o_orderdate": pa.array(days),
            }
        ),
        str(tmp_path / "orders.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                # two EXACT-DUPLICATE rows for orderkey 1: the row-preserving
                # oracle must count both (a grouped HAVING would collapse them)
                "l_orderkey": pa.array([1, 1, 2, 3, 4], pa.int64()),
                "l_returnflag": pa.array(["N"] * 5, pa.string()),
                "l_extendedprice": pa.array([10.0] * 5, pa.float64()),
                "l_discount": pa.array([0.0] * 5, pa.float64()),
            }
        ),
        str(tmp_path / "lineitem.parquet"),
    )
    q = QUERIES["c21_bloom_semijoin_reduction"]
    df = q.spark(spark, str(tmp_path))
    rows = df.collect()
    # build = order 1 only (urgent + >=150k); lineitems for order 1 = the
    # two duplicate rows, both must survive bloom AND the exact join
    assert rows[0]["n_lineitems"] == 2
    assert rows[0]["n_build_keys"] == 1
    assert rows[0]["probe_rows_after_bloom"] >= rows[0]["n_lineitems"]
    compare(df, q.oracle, str(tmp_path))

    # empty-build variant (ADVICE r08): no order satisfies the build
    # predicate -> the position table is empty, the semi join drops every
    # probe row, and both engines return zero rows
    empty_dir = tmp_path / "empty_build"
    empty_dir.mkdir()
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([1, 2], pa.int64()),
                "o_custkey": pa.array([1, 1], pa.int64()),
                "o_totalprice": pa.array([100.0, 200.0]),  # all below 150k
                "o_orderpriority": pa.array(["2-HIGH", "3-MEDIUM"], pa.string()),
                "o_orderdate": pa.array([datetime.date(1996, 3, 1)] * 2),
            }
        ),
        str(empty_dir / "orders.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([1, 2], pa.int64()),
                "l_returnflag": pa.array(["N"] * 2, pa.string()),
                "l_extendedprice": pa.array([10.0] * 2, pa.float64()),
                "l_discount": pa.array([0.0] * 2, pa.float64()),
            }
        ),
        str(empty_dir / "lineitem.parquet"),
    )
    df_empty = q.spark(spark, str(empty_dir))
    assert df_empty.count() == 0
    compare(df_empty, q.oracle, str(empty_dir))


def test_m24_vtt_parser_roundtrip_and_defect_counts():
    """The WebVTT encoder/parser round-trips arbitrary integer-ms cues
    (including hour-scale timestamps), rejects non-VTT streams, and the
    audit arithmetic separates overlapping-but-in-order from
    out-of-order pairs while the interval union merges touching cues."""
    import pytest as _pytest

    from aws_data_engineering_spark.operators.multimodal import _vtt_worker_fns

    encode_vtt, parse_vtt = _vtt_worker_fns()
    cues = [
        (0, 1500, "hello"),
        (1000, 2000, "overlap in order"),      # starts inside cue 1
        (500, 900, "out of order"),            # starts before cue 2
        (2000, 3000, "touching"),              # == prev end -> merged
        (3_725_999, 7_326_123, "hour scale"),
    ]
    doc = encode_vtt(cues)
    assert doc.startswith("WEBVTT")
    assert "01:02:05.999 --> 02:02:06.123" in doc
    assert parse_vtt(doc) == cues
    with _pytest.raises(ValueError):
        parse_vtt("1\n00:00:00.000 --> 00:00:01.000\nno header\n")
    # replicate the audit arithmetic on the known cues
    overlaps = sum(1 for a, b in zip(cues, cues[1:]) if b[0] < a[1])
    ooo = sum(1 for a, b in zip(cues, cues[1:]) if b[0] < a[0])
    assert overlaps == 2 and ooo == 1
    union = 0
    cur_s = cur_e = None
    for a, b in sorted((c[0], c[1]) for c in cues):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                union += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    union += cur_e - cur_s
    # [0,3000) merged (touching 2000 joins) = 3000, + hour-scale cue
    assert union == 3000 + (7_326_123 - 3_725_999)


def test_c21_plan_shape(spark, sf_dir):
    """c21's physical plan must keep the shape the operator exists to
    demonstrate: the filter applied as a broadcast LEFT SEMI hash join
    (never a nested loop) and the exact join as a SORT-MERGE join (the
    build-cannot-broadcast regime the merge hint models)."""
    q = QUERIES["c21_bloom_semijoin_reduction"]
    plan = q.spark(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" in plan
    # the only nested-loop joins allowed are the two 1-row audit
    # crossJoins; a third would mean a data join decayed
    assert plan.count("BroadcastNestedLoopJoin") <= 2
