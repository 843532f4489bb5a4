"""The cross-engine text contract of ``operators/text.py``.

Every compared text query trims exactly the ASCII-6 whitespace, folds only
A-Z and splits on runs of the same six characters, through one helper per
engine (Spark Column, DuckDB SQL fragment, Python worker closure). These
tests pin that the three twins agree value-for-value, including on empty,
all-whitespace and NULL text, and replay the oracles that embed the
contract on the two planted corpora of ``tests/test_round8.py``
(Unicode case seams and edge whitespace) and the near-dup family on a
planted NULL-text corpus.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from aws_data_engineering_spark.operators import dedup as D
from aws_data_engineering_spark.operators import text as T
from aws_data_engineering_spark.plans.registry import QUERIES, queries
from tests.oracle_utils import compare, write_docs
from tests.test_round8 import _EDGE_WS_ROWS, _UNICODE_CASE_ROWS

queries()  # load registrations

_CORPORA = {"unicode_case": _UNICODE_CASE_ROWS, "edge_ws": _EDGE_WS_ROWS}


def test_ascii_fold_contract():
    """The three-engine fold definitions agree and touch ONLY A-Z."""
    from aws_data_engineering_spark.operators.text import (
        ASCII_FOLD_TABLE,
        ASCII_LOWERED,
        ASCII_UPPER,
        ascii_lower_sql,
    )

    assert ASCII_UPPER == "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    assert ASCII_LOWERED == "abcdefghijklmnopqrstuvwxyz"
    probe = "İSTANBUL Mix ΣΑΣ STRAẞE Ａz09"
    py = probe.translate(ASCII_FOLD_TABLE)
    duck = duckdb.sql(
        f"SELECT {ascii_lower_sql('?')}", params=[probe]
    ).fetchone()[0]
    assert py == duck == "İstanbul mix ΣΑΣ straẞe Ａz09"
    # the fold must NOT equal unicode lower on the seam chars
    assert py != probe.lower()


def test_ascii_trim_contract():
    """The three-engine ASCII-6 trim definitions agree, strip exactly the
    tokenizer class, and differ from every native trim on the seam."""
    from aws_data_engineering_spark.operators.text import (
        ASCII_WS,
        ascii_trim_sql,
    )

    assert ASCII_WS == " \t\n\x0b\f\r"
    probe = "\xa0\t keep me　\n\x0b"
    py = probe.strip(ASCII_WS)
    duck = duckdb.sql(
        f"SELECT {ascii_trim_sql('?')}", params=[probe]
    ).fetchone()[0]
    assert py == duck == "\xa0\t keep me　".strip(" \t")  # NBSP/IDEO kept
    assert py == "\xa0\t keep me　"
    assert py != probe.strip()  # unicode strip would eat NBSP/IDEO too


_HELPERS = (
    "trim", "lower", "tokens", "lower_tokens", "doc_tokens", "normalize", "shingles"
)


def _spark_twins(c):
    return {
        "trim": T.ascii_trim(c),
        "lower": T.ascii_lower(c),
        "tokens": T.tokens(c),
        "lower_tokens": T.tokens(T.ascii_lower(c)),
        "doc_tokens": T.doc_tokens(c),
        "normalize": T.normalize_text(c),
        "shingles": D.shingles(c, 3),
    }


def _sql_twins(e):
    return {
        "trim": T.ascii_trim_sql(e),
        "lower": T.ascii_lower_sql(e),
        "tokens": T.tokens_sql(e),
        "lower_tokens": T.tokens_sql(T.ascii_lower_sql(e)),
        "doc_tokens": T.doc_tokens_sql(e),
        "normalize": T.normalize_sql(e),
        "shingles": T.shingles_sql(T.doc_tokens_sql(e), 3),
    }


def _python_twins(text):
    tw = T.text_worker_fns()
    return {
        "trim": None if text is None else text.strip(T.ASCII_WS),
        "lower": tw.lower(text),
        "tokens": tw.tokens(text),
        "lower_tokens": tw.tokens(tw.lower(text)),
        "doc_tokens": tw.doc_tokens(text),
        "normalize": tw.normalize(text),
        "shingles": tw.shingles(text, 3),
    }


def test_text_helpers_agree_on_all_three_engines(spark):
    """Each helper gives the same value on Spark, DuckDB and Python for
    every row of both planted corpora plus '', all-whitespace and NULL.
    NULL stays NULL, except in ``doc_tokens`` and ``shingles``, where it
    reads as ''."""
    texts = [r[1] for rows in _CORPORA.values() for r in rows]
    texts += ["", "   ", " \t\n\x0b\f\r ", None, "one", "two words", "a b c"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
    got_spark = {
        r["i"]: r.asDict()
        for r in df.select(
            "i", *[v.alias(k) for k, v in _spark_twins(F.col("t")).items()]
        ).collect()
    }
    cols = ", ".join(f"{v} AS {k}" for k, v in _sql_twins("t").items())
    con = duckdb.connect()
    for i, text in enumerate(texts):
        got_duck = dict(
            zip(_HELPERS, con.execute(
                f"SELECT {cols} FROM (SELECT CAST(? AS VARCHAR) AS t)", [text]
            ).fetchone())
        )
        got_py = _python_twins(text)
        for h in _HELPERS:
            s, d, p = got_spark[i][h], got_duck[h], got_py[h]
            if h == "shingles":
                # a set: DuckDB's list_distinct does not keep list order
                s, d, p = sorted(s), sorted(d), sorted(p)
            assert s == d == p, (h, text, s, d, p)
    # the documented empty-text semantics
    tw = T.text_worker_fns()
    assert tw.tokens("") == tw.tokens("   ") == [""]
    assert tw.normalize("   ") == ""
    assert tw.doc_tokens(None) == tw.shingles(None, 3) == [""]


def test_word_ngrams_positions(spark):
    """``word_ngrams`` keeps every window in position order, repeats
    included; ``dedup.shingles`` is its distinct set with short documents
    kept whole, and ``shingles_sql`` is the same set in DuckDB."""
    df = spark.createDataFrame([("a b a b a",), ("x y",)], "t string")
    toks = F.split("t", " ")
    rows = df.select(
        T.word_ngrams(toks, 3).alias("g"), D.shingles("t", 3).alias("s")
    ).collect()
    assert rows[0]["g"] == ["a b a", "b a b", "a b a"]
    assert rows[0]["s"] == ["a b a", "b a b"]
    assert rows[1]["s"] == ["x y"]
    duck = duckdb.sql(
        f"SELECT {T.shingles_sql(T.tokens_sql(chr(39) + 'a b a b a' + chr(39)), 3)}"
    ).fetchone()[0]
    assert sorted(duck) == ["a b a", "b a b"]


# Oracles that embed the text contract but sit in neither round-8 sweep,
# each reading only ``documents`` (s11, q51 and pp04 also read embeddings
# or nation, which the planted corpora do not have).
_CONTRACT_QUERIES = [
    "d04_minhash_candidate_pairs", "d07_simhash_neardup_pairs",
    "d08_winnowing_overlap_pairs", "d09_benchmark_contamination",
    "d11_bloom_contamination", "d13_minhash_estimate_accuracy",
    "d15_cdc_chunk_dedup", "d17_capped_minhash_pairs",
    "d19_lsh_scurve_audit", "d21_incremental_minhash_probe",
    "p05_sequence_packing", "p06_token_budget_sample",
    "p15_token_budget_waterfill", "pp01_training_data_pipeline",
    "pp02_incremental_curation", "st12_stream_minhash_dedup", "st16_stream_bloom_filter",
    "t36_crossdoc_ngram_novelty", "t37_ccnet_surprisal_buckets",
]


@pytest.mark.parametrize("corpus", sorted(_CORPORA))
@pytest.mark.parametrize("name", _CONTRACT_QUERIES)
def test_contract_oracles_on_planted_corpora(spark, tmp_path, name, corpus):
    write_docs(tmp_path, _CORPORA[corpus])
    q = QUERIES[name]
    compare(q.spark(spark, str(tmp_path)), q.oracle, str(tmp_path))


# NULL text is empty text in the near-dup family: the two NULL documents
# and the empty one are near-dups of each other on both engines, beside a
# planted near-dup pair (4, 5) and an unrelated document. Benchmark-style
# sources (src0/src1) put NULL text on both sides of the contamination
# queries.
_BASE = " ".join(f"tok{i}" for i in range(30))
_NULL_TEXT_ROWS = [
    (1, None, "en", "src0", 0),
    (2, None, "en", "web", 0),
    (3, "", "en", "web", 0),
    (4, _BASE, "en", "src0", 0),
    (5, _BASE + " extra", "en", "web", 0),
    (6, " ".join(f"alt{i}" for i in range(30)), "de", "src1", 0),
    (7, None, "de", "src1", 0),
]

_NEAR_DUP_QUERIES = [
    "d04_minhash_candidate_pairs", "d05_ngram_jaccard_pairs", "d06_simhash",
    "d07_simhash_neardup_pairs", "d09_benchmark_contamination",
    "d11_bloom_contamination", "d12_duplicate_shingle_fraction",
    "d13_minhash_estimate_accuracy", "d17_capped_minhash_pairs",
    "d19_lsh_scurve_audit", "d21_incremental_minhash_probe",
    "st12_stream_minhash_dedup", "st16_stream_bloom_filter",
    "t36_crossdoc_ngram_novelty",
]


# t08 counts and t09 lists a document's tokens under the same NULL rule:
# a NULL document has the one empty token of an empty one.
_TOKEN_QUERIES = ["t08_pandas_udf_tokens", "t09_udtf_tokenize"]


@pytest.mark.parametrize("name", _NEAR_DUP_QUERIES + _TOKEN_QUERIES)
def test_near_dup_null_text_is_empty_text(spark, tmp_path, name):
    write_docs(tmp_path, _NULL_TEXT_ROWS)
    q = QUERIES[name]
    compare(q.spark(spark, str(tmp_path)), q.oracle, str(tmp_path))
