"""Planted-scenario tests for the round-6d operators: exact group median
(q101), Cavnar-Trenkle langid (t32), Heaps'-law fit (t33), pairwise JSD
(t34). Each pins the semantics on hand-computable inputs; the sf-fixture
hash match lives in test_queries_oracle.py like every registered query."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from aws_data_engineering_spark.plans.registry import QUERIES, queries
from tests.oracle_utils import write_docs

queries()  # force registration


def test_q101_median_even_and_odd_counts(spark, tmp_path):
    """Even group -> interpolated middle pair; odd group -> exact middle.
    Values chosen so the dyadic (lo+hi)/2 is non-integral for the even
    group (10+20)/2 = 15.0 ... with values 10,20 -> 15.0."""
    rows = [
        # priority A: even count [10, 20, 30, 40] -> median 25.0
        ("A", 10.9), ("A", 20.2), ("A", 30.7), ("A", 40.1),
        # priority B: odd count [5, 7, 1000] -> median 7.0
        ("B", 5.5), ("B", 7.3), ("B", 1000.9),
    ]
    tbl = pa.table(
        {
            "o_orderpriority": pa.array([r[0] for r in rows], pa.string()),
            "o_totalprice": pa.array([r[1] for r in rows], pa.float64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "orders.parquet"))
    df = QUERIES["q101_exact_group_median"].spark(spark, str(tmp_path))
    got = {r["priority"]: r for r in df.collect()}
    assert got["A"]["median_dollars"] == 25.0
    assert got["A"]["n_orders"] == 4
    assert got["A"]["min_dollars"] == 10 and got["A"]["max_dollars"] == 40
    assert got["B"]["median_dollars"] == 7.0
    assert got["B"]["n_orders"] == 3


def test_t32_langid_separable_profiles(spark, tmp_path):
    """Two langs with disjoint character content must classify perfectly:
    the confusion matrix is purely diagonal."""
    rows = []
    for i in range(4):
        rows.append((i, "aaa bbb aab aba bba abb " * 5, "aa", "s", 0))
    for i in range(4, 8):
        rows.append((i, "xxx yyy xxy xyx yyx xyy " * 5, "xx", "s", 0))
    write_docs(tmp_path, rows)
    df = QUERIES["t32_langid_ngram_profile"].spark(spark, str(tmp_path))
    got = {(r["actual_lang"], r["predicted_lang"]): r["n_docs"] for r in df.collect()}
    assert got == {("aa", "aa"): 4, ("xx", "xx"): 4}


def test_t33_heaps_totals_and_two_phase(spark, tmp_path):
    """Hand-checkable totals: 3 docs, token multiset sizes 3/2/4, global
    vocab 4. The two-phase prefix sum must agree with the naive cumulative
    regardless of which md5 order the docs land in."""
    rows = [
        (1, "a b a", "en", "s", 0),
        (2, "b c", "en", "s", 0),
        (3, "a d d d", "en", "s", 0),
    ]
    write_docs(tmp_path, rows)
    df = QUERIES["t33_heaps_law_fit"].spark(spark, str(tmp_path))
    row = df.collect()[0]
    assert row["n_docs"] == 3
    assert row["total_tokens"] == 9
    assert row["vocab_size"] == 4


def test_t34_jsd_bounds(spark, tmp_path):
    """Identical distributions -> JSD 0; disjoint vocabularies -> JSD ln 2
    (within picounit quantization)."""
    rows = [
        (1, "a b c a b c", "same1", "s", 0),
        (2, "a b c a b c", "same2", "s", 0),
        (3, "x y z x y z", "disj", "s", 0),
    ]
    write_docs(tmp_path, rows)
    df = QUERIES["t34_lang_jsd_matrix"].spark(spark, str(tmp_path))
    got = {(r["lang_a"], r["lang_b"]): r["jsd_nats"] for r in df.collect()}
    assert got[("same1", "same2")] == 0.0
    import math

    ln2 = math.log(2.0)
    for pair in [("disj", "same1"), ("disj", "same2")]:
        assert abs(got[pair] - ln2) < 1e-6


def test_palette_png_roundtrip_all_filters():
    """Indexed-color PNG: every scanline filter must reconstruct, and the
    decoded RGB stream must equal the direct palette expansion of the
    index bytes."""
    from aws_data_engineering_spark.operators import multimodal as M

    _, decode_png, _, encode_png_palette = M._png_worker_fns()
    w, h = 7, 5
    palette = [((j * 17) % 256, (j * 29) % 256, (j * 43) % 256) for j in range(16)]
    indices = bytes((5 + 3 * k) % 16 for k in range(w * h))
    want = b"".join(bytes(palette[i]) for i in indices)
    for ft in range(5):
        blob = encode_png_palette(w, h, indices, palette, filter_type=ft)
        dw, dh, ch, out = decode_png(blob)
        assert (dw, dh, ch) == (w, h, 3)
        assert out == want, f"filter {ft} did not round-trip"


def test_palette_png_rejects_bad_index_and_missing_plte():
    import struct
    import zlib

    import pytest

    from aws_data_engineering_spark.operators import multimodal as M

    _, decode_png, _, encode_png_palette = M._png_worker_fns()
    with pytest.raises(ValueError, match="index out of range"):
        encode_png_palette(2, 1, bytes([0, 9]), [(0, 0, 0)] * 4)
    # a short/long index buffer must fail AT THE ENCODER with a precise
    # message, not as a downstream 'corrupt scanline' decode error
    with pytest.raises(ValueError, match="indices length"):
        encode_png_palette(3, 2, bytes([0] * 5), [(0, 0, 0)] * 4)
    with pytest.raises(ValueError, match="pixels length"):
        M._png_worker_fns()[0](3, 2, bytes(5))
    # hand-build a type-3 PNG with no PLTE: decoder must refuse
    def chunk(tag, payload):
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 3, 0, 0, 0)
    raw = zlib.compress(bytes([0, 0, 1]))
    blob = (
        M.PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", raw)
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="PLTE"):
        decode_png(blob)


def test_g09_census_sums_to_corpus(spark, sf_dir):
    """n_docs across the histogram must sum to the document count
    (singletons included) and sum(cluster_size * n_clusters) == n_docs."""
    from aws_data_engineering_spark.plans.registry import QUERIES
    from aws_data_engineering_spark.sources.tables import load_table

    df = QUERIES["g09_dup_cluster_census"].spark(spark, sf_dir)
    rows = df.collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    assert all(r["n_docs"] == r["cluster_size"] * r["n_clusters"] for r in rows)


def test_e20_inertia_monotone_in_k(spark, sf_dir):
    """More centroids can only reduce (or keep) the best-centroid
    distortion: inertia must be non-increasing in k for nested quantizer
    families (seed-11 hyperplanes ARE nested: the first k rows of the
    k'=2k table equal the k-table)."""
    from aws_data_engineering_spark.plans.registry import QUERIES

    rows = QUERIES["e20_inertia_elbow_sweep"].spark(spark, sf_dir).collect()
    by_k = {r["k"]: r["inertia_nano"] for r in rows}
    ks = sorted(by_k)
    for a, b in zip(ks, ks[1:]):
        assert by_k[b] <= by_k[a], f"inertia rose from k={a} to k={b}"


def test_dq17_totals_and_split(spark, sf_dir):
    """Per-column rows_a + rows_b must equal the event count for every
    column, and both periods must be non-empty at the fixture SFs."""
    from aws_data_engineering_spark.plans.registry import QUERIES
    from aws_data_engineering_spark.sources.tables import load_table

    rows = QUERIES["dq17_profile_drift_audit"].spark(spark, sf_dir).collect()
    n = load_table(spark, sf_dir, "events").where("ts IS NOT NULL").count()
    assert len(rows) == 4
    for r in rows:
        assert r["rows_a"] + r["rows_b"] == n
        assert r["rows_a"] > 0 and r["rows_b"] > 0


def test_q101_ignores_null_totals(spark, tmp_path):
    """NULL o_totalprice rows must not occupy a rank in the position walk
    (DuckDB's median() ignores NULLs) — review r6d regression."""
    tbl = pa.table(
        {
            "o_orderpriority": pa.array(["A"] * 4, pa.string()),
            "o_totalprice": pa.array([10.5, 20.5, 30.5, None], pa.float64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "orders.parquet"))
    q = QUERIES["q101_exact_group_median"]
    got = {r["priority"]: r for r in q.spark(spark, str(tmp_path)).collect()}
    assert got["A"]["median_dollars"] == 20.0
    assert got["A"]["n_orders"] == 3
    from tests.oracle_utils import compare

    compare(q.spark(spark, str(tmp_path)), q.oracle, str(tmp_path))


def test_t32_null_text_and_null_lang_not_candidates(spark, tmp_path):
    """A lang present only on NULL-text docs, and a NULL lang, must not be
    candidate languages on either engine — review r6d regression (the
    oracle previously read candidates from raw documents; Spark's
    NULLS FIRST vs DuckDB's NULLS LAST would also split tie-breaks)."""
    rows = [
        (1, None, "aa", "s", 0),  # lang 'aa' exists ONLY on a null text
        (2, "zz zz qq ww ee rr tt yy " * 4, "bb", "s", 0),
        (3, "zz zz qq ww ee rr tt yy " * 4, "bb", "s", 0),
        (4, "mm nn oo pp mm nn oo pp " * 4, None, "s", 0),  # NULL lang
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "source": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array([0] * len(rows), pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    q = QUERIES["t32_langid_ngram_profile"]
    df = q.spark(spark, str(tmp_path))
    preds = {r["predicted_lang"] for r in df.collect()}
    assert "aa" not in preds and None not in preds
    from tests.oracle_utils import compare

    compare(q.spark(spark, str(tmp_path)), q.oracle, str(tmp_path))


def test_t33_m19_null_and_negative_ids(spark, tmp_path):
    """NULL doc_id must drop identically on both engines for t33 (md5(NULL)
    would silently exclude the doc from Spark's bucket join only), and
    negative ids must be excluded from m19 on both engines (Python %
    non-negative vs DuckDB sign-of-dividend %) — review r6d regression."""
    tbl = pa.table(
        {
            "doc_id": pa.array([1, 2, None, -1], pa.int64()),
            "text": pa.array(["a b c", "b c d", "x y z", "m n o"], pa.string()),
            "lang": pa.array(["en"] * 4, pa.string()),
            "source": pa.array(["s"] * 4, pa.string()),
            "n_chars": pa.array([5] * 4, pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    from tests.oracle_utils import compare

    for name in ("t33_heaps_law_fit", "m19_palette_png_channel_sums"):
        q = QUERIES[name]
        compare(q.spark(spark, str(tmp_path)), q.oracle, str(tmp_path))
    row = QUERIES["t33_heaps_law_fit"].spark(spark, str(tmp_path)).collect()[0]
    assert row["n_docs"] == 3  # NULL id excluded; negative id kept (md5 fine)


def test_checkpoint_release_spares_foreign_blocks(spark, tmp_path):
    """bpe_learn's cleanup must release only ITS OWN checkpoint blocks: a
    localCheckpoint created before/alongside the call (simulating another
    thread on the shared session) must survive and stay usable."""
    from pyspark.sql import functions as F

    from aws_data_engineering_spark.operators.text import bpe_learn

    foreign = spark.createDataFrame(
        [(i,) for i in range(10)], "x bigint"
    ).localCheckpoint(eager=True)
    corpus = spark.createDataFrame(
        [("the cat sat",), ("the bat sat",)], "text string"
    )
    merges = bpe_learn(corpus, "text", rounds=2)
    assert len(merges.collect()) == 2
    # the foreign checkpoint must still be computable (an unpersisted
    # localCheckpoint raises CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND here)
    assert foreign.agg(F.sum("x")).first()[0] == 45


@pytest.mark.slow
def test_event_time_queries_null_ts_parity(spark, tmp_path):
    """The NULL-event-time class (review r6, 10 live divergences): Spark
    windows/ntiles order NULLs FIRST and F.window/session_window DROP
    NULL-ts rows, while DuckDB orders NULLs LAST and keeps NULL groups.
    Every event-time query must hash-match on a corpus WITH NULL ts /
    NULL o_orderdate rows."""
    import datetime

    from tests.oracle_utils import compare

    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    eid = 0
    for u in (1, 2):
        for k in range(4):
            rows.append(
                (eid, base + datetime.timedelta(minutes=40 * k), u,
                 ["view", "click", "view", "purchase"][k], 5.0 + k, '{"k": 1}')
            )
            eid += 1
        rows.append((eid, None, u, "view", 10.0, '{"k": 2}'))  # NULL ts
        eid += 1
    rows.append((eid, None, 3, "click", 7.0, None))  # user with ONLY null ts
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
    orders = pa.table(
        {
            "o_orderkey": pa.array([1, 2, 3, 4], pa.int64()),
            "o_custkey": pa.array([1, 1, 2, 2], pa.int64()),
            "o_orderstatus": pa.array(["F"] * 4, pa.string()),
            "o_totalprice": pa.array([100.0, 200.0, 300.5, 400.5], pa.float64()),
            "o_orderdate": pa.array(
                [datetime.date(1996, 1, 1), None, datetime.date(1997, 2, 2),
                 datetime.date(1996, 3, 3)],
                pa.date32(),
            ),
            "o_orderpriority": pa.array(["1-URGENT"] * 4, pa.string()),
        }
    )
    pq.write_table(orders, str(tmp_path / "orders.parquet"))
    names = [
        "q20_events_hourly_tumbling", "q21_events_sliding_window",
        "q24_events_running_total", "q25_events_sessionization",
        "q61_builtin_session_window", "q73_scd2_historization",
        "q85_forward_fill", "q88_event_transition_matrix",
        "q90_event_path_mining", "q93_cumulative_users",
        "q35_yoy_revenue", "q89_rfm_segmentation",
        "q98_wow_revenue_delta", "q50_trailing_window_revenue",
        # round-7 sweep extension: the remaining event-time consumers,
        # probed NULL-safe on this corpus and pinned here so they stay so
        "q22_events_json_extract", "q23_events_user_gaps",
        "q41_conversion_funnel", "q94_trailing_distinct_users",
        "q97_ordered_funnel", "d02_latest_event_per_user",
        "dq04_partition_volume_anomaly", "dq13_mad_outliers",
        "dq15_chi2_independence", "dq17_profile_drift_audit",
        # round-9 sweep extension: the round-8/9 event-time consumers
        "q102_retention_cohorts", "q103_time_weighted_value",
        "st18_stream_transform_with_state",
    ]
    for name in names:
        q = QUERIES[name]
        compare(q.spark(spark, str(tmp_path)), q.oracle, str(tmp_path))


def test_d18_oracle_planes_match_fixture(spark, sf_dir):
    """d18/g08/g09 size their LSH plane count from a live embedding count
    (e17's rule) while their oracles bake the rule's value at the driver's
    correctness corpus size. Pin the two together: if the fixture corpus is
    ever regenerated at a size where the rule yields a different p, this
    fails loudly instead of the queries hash-diverging."""
    from aws_data_engineering_spark.operators import similarity as SIM
    from aws_data_engineering_spark.plans import graphdedup_queries as B

    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert n == B._D18_ORACLE_N_EMB
    assert SIM.recommended_lsh_planes(n) == B._D18_ORACLE_PLANES
    # the driver's sf0.01 corpus must agree too (same 500-vector table);
    # derived from the configured sf_dir so SPARK_GRAFT_TEST_SF_DIR
    # overrides keep working — skipped when no sibling sf0.01 exists
    import os
    import re

    import duckdb

    sf001 = re.sub(r"sf[\d.]+$", "sf0.01", sf_dir.rstrip("/"))
    if os.path.exists(os.path.join(sf001, "embeddings.parquet")):
        n001 = duckdb.sql(
            f"SELECT COUNT(*) FROM '{sf001}/embeddings.parquet'"
        ).fetchone()[0]
        assert SIM.recommended_lsh_planes(n001) == B._D18_ORACLE_PLANES


@pytest.mark.slow
def test_st17_tied_timestamps_and_null_ts_parity(spark, tmp_path):
    """st17 regression corpus for the round-7 review finding: two events
    with an IDENTICAL timestamp right after a gap boundary (the cumulative
    session-id window must tiebreak on event_id on both engines), plus
    NULL-ts rows and a user with only NULL ts — the emitted session set
    must still hash-match the batch oracle exactly."""
    import datetime

    from tests.oracle_utils import compare

    base = datetime.datetime(2024, 1, 5, 9, 0, 0)
    rows = [
        # user 1: one event, 31-min gap, then TWO tied-ts events — the
        # tied pair must open the new session together (gap > 30 min)
        (1, base, 1, "view", 5.0, None),
        (2, base + datetime.timedelta(minutes=31), 1, "click", 7.25, None),
        (3, base + datetime.timedelta(minutes=31), 1, "view", 2.5, None),
        # user 1 continues within-gap: same session as the tied pair
        (4, base + datetime.timedelta(minutes=45), 1, "purchase", 1.0, None),
        # user 2: single event + a NULL-ts row (dropped on both sides)
        (5, base, 2, "view", 3.0, None),
        (6, None, 2, "click", 9.0, None),
        # user 3: ONLY a NULL-ts event — no session on either side
        (7, None, 3, "view", 4.0, None),
    ]
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
    q = QUERIES["st17_stream_stateful_sessions"]
    df = q.spark(spark, str(tmp_path))
    got = {(r["user_id"], r["session_start"]): r for r in df.collect()}
    # user 1: two sessions — the tied pair + event 4 form the second
    u1 = sorted(k for k in got if k[0] == 1)
    assert len(u1) == 2
    second = got[u1[1]]
    assert second["n_events"] == 3
    assert second["session_value"] == 725.0 + 250.0 + 100.0  # cents
    assert (3,) not in {(k[0],) for k in got}  # NULL-only user absent
    compare(q.spark(spark, str(tmp_path)), q.oracle, str(tmp_path))


def test_tracked_checkpoints_concurrent_threads_disjoint(spark):
    """Two threads interleaving tracked_local_checkpoint on the shared
    session must never capture each other's block ids (ADVICE r06: the
    before/after id diff races without the module lock), and releasing
    one thread's set must leave the other thread's checkpoints usable."""
    import threading

    from pyspark.sql import functions as F

    from aws_data_engineering_spark.operators.checkpoints import (
        release_checkpoints,
        tracked_local_checkpoint,
    )

    results: dict[str, list] = {"a": [], "b": []}
    own: dict[str, set] = {"a": set(), "b": set()}
    errs: list = []

    def work(key: str, base: int) -> None:
        try:
            for i in range(8):
                df = spark.range(base + i, base + i + 50).select(
                    F.col("id").alias("x")
                )
                results[key].append(tracked_local_checkpoint(df, own[key]))
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ta = threading.Thread(target=work, args=("a", 0))
    tb = threading.Thread(target=work, args=("b", 10_000))
    ta.start(); tb.start(); ta.join(); tb.join()
    assert not errs, errs
    # the tracked id sets are disjoint: neither thread captured the
    # other's materialization
    assert not (own["a"] & own["b"]), (own["a"], own["b"])
    # releasing thread a's set leaves every b checkpoint computable
    release_checkpoints(spark, own["a"])
    for df in results["b"]:
        assert df.agg(F.count(F.lit(1))).first()[0] == 50
    release_checkpoints(spark, own["b"])


def test_text_queries_exotic_whitespace_parity(spark, tmp_path):
    """The round-7 exotic-whitespace class: Java \\s, Python unicode \\s,
    and RE2 \\s all disagree at the edges (vertical tab is Java/Python
    whitespace but not RE2's; NBSP/U+2028 are Python-unicode whitespace
    only), so every tokenizing query now uses the explicit ASCII-6 class
    [ \\t\\n\\x0b\\f\\r] on ALL THREE engines. This planted corpus (NBSP,
    zero-width space, vertical tab, form feed, ideographic space, empty
    text) found 7 live divergences before the unification; keep it green."""
    from tests.oracle_utils import compare

    NBSP, ZWSP, IDEO, VT, FF = "\xa0", "​", "　", "\x0b", "\x0c"
    rows = [
        (1, f"alpha{NBSP}beta{NBSP}gamma tokens", "en", "web", 24),
        (2, f"zero{ZWSP}width{ZWSP}joined words", "en", "web", 23),
        (3, f"vertical{VT}tab and{FF}formfeed. sentence two!", "en", "web", 24),
        (4, f"ideographic{IDEO}space separated", "zh", "web", 24),
        (5, "normal control text for pairs", "en", "web", 29),
        (6, "normal control text for pairs ok", "en", "web", 32),
        (7, "", "en", "web", 0),
    ]
    write_docs(tmp_path, [(r[0], r[1], r[2], r[3], r[4]) for r in rows])
    names = [
        "t01_text_stats", "t02_quality_scores", "t03_token_counts_by_source",
        "t05_token_length_stats", "t07_repetition_signals", "t10_top_tokens",
        "t17_gopher_quality_rules", "t19_lexical_diversity",
        "t26_readability_by_lang", "d01_exact_dedup_groups",
        "d03_fingerprint_dedup", "d05_ngram_jaccard_pairs", "d06_simhash",
        "t32_langid_ngram_profile", "t33_heaps_law_fit",
        "t31_kneser_ney_bigram", "t20_dsir_importance", "t16_tfidf_top_terms",
    ]
    for name in names:
        q = QUERIES[name]
        compare(q.spark(spark, str(tmp_path)), q.oracle, str(tmp_path))


def test_json_queries_malformed_props_parity(spark, tmp_path):
    """Round-7 malformed-JSON sweep: a web-events corpus WILL contain
    corrupt props rows. Spark's get_json_object/from_json yield NULL on
    them, DuckDB's json functions THROW, and Spark's parse_json is
    FAILFAST — so q22/q47 guard the oracle with json_valid and q59 uses
    try_parse_json. Malformed, empty, NULL, missing-key, and nested
    payloads must all produce identical NULL-semantics on both engines."""
    import datetime

    from tests.oracle_utils import compare

    base = datetime.datetime(2024, 1, 2, 0, 0, 0)
    props = [
        '{"device": "mobile", "k": 12}',
        '{"device": "desktop"}',
        "not json at all",
        '{"k": null}',
        "",
        None,
        '{"k": 77, "nested": {"x": [1,2,3]}}',
        '{"K": 42}',
    ]
    rows = [
        (i, base + datetime.timedelta(minutes=13 * i), 1 + i % 3,
         ["view", "click", "purchase"][i % 3], 5.0 + i, props[i % len(props)])
        for i in range(16)
    ]
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
    for name in (
        "q22_events_json_extract",
        "q47_json_struct_parse",
        "q59_variant_semistructured",
    ):
        q = QUERIES[name]
        compare(q.spark(spark, str(tmp_path)), q.oracle, str(tmp_path))
