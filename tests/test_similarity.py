"""Similarity-operator tests beyond the oracle harness: the approximate
paths against the exact ones (LSH near-dup pairs a subset of all pairs,
IVF and PQ recall), the shared kernels' contracts, every top-k operator on
empty inputs, and the registered retrieval queries on planted corpora."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from aws_data_engineering_spark.operators import dedup as D
from aws_data_engineering_spark.operators import similarity as S
from aws_data_engineering_spark.plans.registry import QUERIES, queries
from aws_data_engineering_spark.sources.tables import load_table
from tests.oracle_utils import write_docs

queries()  # load registrations


def test_seq_cosine_symmetric_fast_path_bit_exact():
    """seq_cos(m, m) / seq_cos(m) must be bit-identical to the general
    two-operand path — the r3 symmetric fast path only skips the duplicated
    norm accumulation, never changes the IEEE operation sequence."""
    import numpy as np

    rng = np.random.default_rng(7)
    m = rng.standard_normal((37, 64))
    m[5] = 0.0  # zero vector: sims must be 0.0, not NaN
    seq_cos = S._seq_cosine_fns()
    general = seq_cos(m, m.copy())  # distinct object → general path
    assert np.array_equal(seq_cos(m, m), general)  # b is a
    assert np.array_equal(seq_cos(m), general)  # b is None
    assert not np.isnan(general).any()


def test_local_topk_matches_per_query_loop():
    """The row-wise lexsort top-k must pick exactly what a per-query loop
    (mask the excluded pairs, lexsort (id, -score), take k) picks, in the
    same order — on scores with many ties and on both score dtypes."""
    import numpy as np

    rng = np.random.default_rng(3)
    local_topk = S._local_topk_fns()
    for dtype in (np.float64, np.int64):
        score = rng.integers(-4, 4, size=(9, 40)).astype(dtype)  # heavy ties
        ids = rng.permutation(1000)[:40]
        excluded = rng.random((9, 40)) < 0.3
        for k in (1, 5, 40, 50):
            rows, cols = local_topk(score, excluded, ids, k)
            want = []
            for q in range(score.shape[0]):
                keep = np.flatnonzero(~excluded[q])
                order = np.lexsort((ids[keep], -score[q, keep]))[:k]
                want += [(q, int(c)) for c in keep[order]]
            assert list(zip(rows.tolist(), cols.tolist())) == want, (dtype, k)
        rows, cols = local_topk(score, None, ids, 3)
        assert len(rows) == 9 * 3


def test_bucketed_neardup_subset_of_exact(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    a, b = v.alias("a"), v.alias("b")
    sim = S.cosine(F.col("a.e"), F.col("b.e"))
    exact = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in (
            a.join(F.broadcast(b), F.col("a.vec_id") < F.col("b.vec_id"))
            .select(
                F.col("a.vec_id").alias("id_a"),
                F.col("b.vec_id").alias("id_b"),
                F.round(sim, 4).alias("sim"),
            )
            .filter(F.col("sim") >= 0.4)
        ).collect()
    }
    approx = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in S.bucketed_neardup_pairs(emb, threshold=0.4).collect()
    }
    assert set(approx) <= set(exact), "LSH found pairs the exact scan did not"
    for pair, s in approx.items():
        assert abs(s - exact[pair]) <= 1e-9, f"sim mismatch for {pair}"


def test_ivf_topk_recall_vs_exact(spark, sf_dir):
    """IVF with generous probing must recover most exact neighbors, and
    every (query, neighbor) it returns must carry the exact-cosine sim."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"]): r["sim"]
        for r in S.brute_force_topk(queries, emb, k=5).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"]): r["sim"]
        for r in S.ivf_topk(queries, emb, k=5, n_centroids=8, n_probe=8).collect()
    }
    # n_probe == n_centroids → exhaustive probing → identical to exact
    assert set(ivf) == set(exact)
    for pair, s in ivf.items():
        assert abs(s - exact[pair]) <= 1e-4
    # partial probing: a true approximation — overlap must stay high
    ivf_part = {
        (r["query_id"], r["neighbor_id"])
        for r in S.ivf_topk(queries, emb, k=5, n_centroids=8, n_probe=4).collect()
    }
    assert len(ivf_part & set(exact)) >= len(exact) * 0.5


_CB = S.pq_codebook()
_CENTS = S._hyperplanes(dim=64, n_planes=16, seed=7)
_TOPK_OPS = {
    "brute_force": lambda q, c: S.brute_force_topk(q, c, k=3),
    "mips": lambda q, c: S.mips_topk(q, c, k=3),
    "pq": lambda q, c: S.pq_topk(q, c, _CB, k=3),
    "hard_negative": lambda q, c: S.hard_negative_topk(q, c, k=3),
    "ivf": lambda q, c: S.ivf_topk(q, c, k=3, n_centroids=8, n_probe=4),
    "ivf_fixed": lambda q, c: S.ivf_fixed_topk(q, c, _CENTS, k=3, n_probe=4),
    "ivfpq": lambda q, c: S.ivfpq_topk(q, c, _CENTS, _CB, k=3, n_probe=4),
}


@pytest.mark.parametrize("empty", ["queries", "candidates"])
@pytest.mark.parametrize("op", list(_TOPK_OPS))
def test_topk_operator_on_empty_input(spark, sf_dir, op, empty):
    """An empty query set or an empty candidate table yields an empty
    result with the operator's usual columns and types, never an error."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    none = emb.filter(F.lit(False))
    got = _TOPK_OPS[op](none, emb) if empty == "queries" else _TOPK_OPS[op](q, none)
    assert got.dtypes == _TOPK_OPS[op](q, emb).dtypes
    assert got.collect() == []


def test_exact_path_scale_guard_fires(spark, sf_dir):
    """The exact similarity paths collect vectors to the driver; past
    ``max_vectors`` that collect is the scale failure, so the guarded
    collect (which stops at ``max_vectors + 1`` rows) must raise, naming
    the LSH alternative — and stay silent under the bound."""
    import pytest

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()

    with pytest.raises(S.ExactPathScaleError, match="bucketed_neardup_pairs"):
        S.exact_neardup_pairs(emb, threshold=0.8, max_vectors=n - 1)
    with pytest.raises(S.ExactPathScaleError, match="lsh_topk"):
        S.brute_force_topk(emb, emb, k=3, max_vectors=n - 1)
    # guard is on the collected query side, not the streamed candidate side
    small_q = emb.filter(F.col("vec_id") < 5)
    assert S.brute_force_topk(small_q, emb, k=3, max_vectors=5).count() > 0
    # at-the-bound is allowed (contract is "more than max_vectors raises")
    assert S.exact_neardup_pairs(emb, threshold=0.95, max_vectors=n).columns == [
        "id_a",
        "id_b",
        "sim",
    ]


def test_jaccard_max_df_cap(spark, sf_dir):
    """max_df semantics: a cap above every shingle's document frequency is a
    no-op (identical to exact), and with a tight cap the hot stop-shingle
    stops generating pairs while rare-shingle pairs survive."""
    from aws_data_engineering_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    exact = sorted(
        map(tuple, D.jaccard_pairs(docs, "doc_id", "text", 3, 0.2).collect())
    )
    capped_noop = sorted(
        map(tuple, D.jaccard_pairs(docs, "doc_id", "text", 3, 0.2, max_df=10**9).collect())
    )
    assert capped_noop == exact

    # constructed skew: 'aaaa' shingles appear in all 4 docs (df=4 > cap=2);
    # the x/y/z tail is unique per pair
    rows = [
        (1, "aaaa xyz1"),
        (2, "aaaa xyz1"),
        (3, "aaaa qqq2"),
        (4, "aaaa zzz3"),
    ]
    tiny = spark.createDataFrame(rows, "doc_id bigint, text string")
    capped = D.jaccard_pairs(tiny, "doc_id", "text", 3, 0.99, max_df=2)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in capped.collect()}
    # docs 1,2 are identical on surviving shingles → jaccard 1.0;
    # 3 and 4 share only the dropped hot shingles → no pair at all
    assert got == {(1, 2): 1.0}


def test_pq_codebook_exact_dyadic_values():
    """Codebook values must be exact dyadic rationals (n/2048 - 0.25) so the
    SQL oracle's integer arithmetic reproduces them bit-for-bit."""
    cb = S.pq_codebook(m_sub=8, k_codes=16, subdim=8)
    assert len(cb) == 8 and len(cb[0]) == 16 and len(cb[0][0]) == 8
    for s in range(8):
        for j in range(16):
            for d in range(8):
                v = cb[s][j][d]
                idx = (s * 16 + j) * 8 + d
                assert v == ((idx * 2654435761) % 1024) / 2048.0 - 0.25
                # dyadic: representable exactly as k/2048
                assert v * 2048 == round(v * 2048)


def test_pq_topk_recall_and_guard(spark, sf_dir):
    """PQ-ADC ranking is approximate, but with 16 codewords per 8-dim
    subspace it must place the true nearest neighbor (exact L2) inside its
    top-5 for most queries; and the exact-path guard must fire."""
    import numpy as np
    import pytest

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    cb = S.pq_codebook()
    got = S.pq_topk(queries, emb, cb, k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    assert len(by_q) == 10 and all(len(v) == 5 for v in by_q.values())
    # exact L2 top-5 per query (numpy reference). The fixture codebook is a
    # data-agnostic lattice (real deployments supply trained codebooks), so
    # the honest bar is overlap far above chance — random top-5 picks from
    # N=500 would overlap the exact top-5 by ~0.05 on average.
    rows = emb.select("vec_id", F.col("embedding").cast("array<double>")).collect()
    ids = np.array([r[0] for r in rows])
    V = np.array([r[1] for r in rows])
    overlap = []
    for q in sorted(by_q):
        qv = V[ids == q][0]
        d2 = ((V - qv) ** 2).sum(axis=1)
        d2[ids == q] = np.inf
        exact5 = set(ids[np.argsort(d2)[:5]].tolist())
        overlap.append(len(exact5 & set(by_q[q])))
    mean_ov = sum(overlap) / len(overlap)
    assert mean_ov >= 0.3, f"PQ top-5 overlap vs exact barely beats chance: {mean_ov}"
    with pytest.raises(S.ExactPathScaleError, match="lsh_topk"):
        S.pq_topk(queries, emb, cb, k=5, max_vectors=3)


def test_ivfpq_subset_of_pq_scores(spark, sf_dir):
    """Every (query, neighbor, adc) IVFPQ emits must carry the identical
    integer ADC score PQ computes for that pair — the coarse quantizer only
    prunes, never rescores."""
    from aws_data_engineering_spark.operators.similarity import (
        _hyperplanes,
        ivfpq_topk,
        pq_codebook,
        pq_topk,
    )
    from aws_data_engineering_spark.sources.tables import load_table as _lt

    emb = _lt(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    cb = pq_codebook()
    cents = _hyperplanes(dim=64, n_planes=16, seed=7)
    full = {
        (r["query_id"], r["neighbor_id"]): r["adc_dist"]
        for r in pq_topk(q, emb, cb, k=500).collect()
    }
    pruned = ivfpq_topk(q, emb, cents, cb, k=5, n_probe=4).collect()
    assert len(pruned) > 0
    for r in pruned:
        key = (r["query_id"], r["neighbor_id"])
        assert key in full and full[key] == r["adc_dist"], key


def test_topk_kernels_partition_invariant(spark, sf_dir):
    """The per-batch partial-top-k kernels (brute force, PQ) must return
    IDENTICAL results regardless of how candidates are partitioned — the
    batch-local top-k is only a shuffle reducer, never a semantics
    change."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    base_bf = rows(S.brute_force_topk(q, emb, k=5))
    base_pq = rows(S.pq_topk(q, emb, S.pq_codebook(), k=5))
    for parts in (1, 7):
        skewed = emb.repartition(parts)
        assert rows(S.brute_force_topk(q, skewed, k=5)) == base_bf, parts
        assert rows(S.pq_topk(q, skewed, S.pq_codebook(), k=5)) == base_pq, parts


def test_gopher_metrics_kernel_matches_jvm_hofs(spark, sf_dir):
    """The O(n) Arrow kernel must produce the exact integers the JVM HOF
    columns define — same tokenization, same counts."""
    from aws_data_engineering_spark.operators import text as T

    docs = load_table(spark, sf_dir, "documents")
    jvm = {
        r["doc_id"]: (r["n_words"], r["char_sum"], r["n_distinct"], r["top_cnt"])
        for r in docs.select(
            "doc_id",
            T.token_count("text").alias("n_words"),
            T.word_lengths_sum("text").alias("char_sum"),
            F.size(F.array_distinct(T.tokens("text"))).alias("n_distinct"),
            T.top_token_count("text").alias("top_cnt"),
        ).collect()
    }
    kern = {
        r["doc_id"]: (r["n_words"], r["char_sum"], r["n_distinct"], r["top_cnt"])
        for r in T.gopher_metrics(docs, ("doc_id",), "text").collect()
    }
    assert kern == jvm


def test_gopher_metrics_kernel_edge_whitespace_and_null(spark):
    """The corner the fixture corpus can't exercise: JVM trim() strips
    SPACES only, so trailing tabs/newlines produce an empty token that
    the kernel must count too; NULL text must yield NULL metrics, not the
    tokenized string 'None'."""
    from aws_data_engineering_spark.operators import text as T

    rows = [
        (1, "foo bar\n"),   # trailing newline -> tokens ['foo','bar','']
        (2, "  foo bar  "), # leading/trailing SPACES do trim away
        (3, None),
        (4, "\tfoo"),       # leading tab survives trim -> tokens ['', 'foo']
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    jvm = {
        r["doc_id"]: (r["n_words"], r["char_sum"], r["n_distinct"], r["top_cnt"])
        for r in df.select(
            "doc_id",
            T.token_count("text").alias("n_words"),
            T.word_lengths_sum("text").alias("char_sum"),
            F.size(F.array_distinct(T.tokens("text"))).alias("n_distinct"),
            T.top_token_count("text").alias("top_cnt"),
        ).collect()
    }
    kern = {
        r["doc_id"]: (r["n_words"], r["char_sum"], r["n_distinct"], r["top_cnt"])
        for r in T.gopher_metrics(df, ("doc_id",), "text").collect()
    }
    # null text: JVM size(NULL) conventions differ from the kernel's NULL
    # contract — compare non-null rows exactly, null row must be all-NULL
    assert kern[3] == (None, None, None, None)
    for k in (1, 2, 4):
        assert kern[k] == jvm[k], (k, kern[k], jvm[k])


def test_mmr_topk_equals_numpy_model(spark, sf_dir):
    """mmr_topk's greedy selection must match a dense numpy MMR reference."""
    import numpy as np

    from aws_data_engineering_spark.operators.similarity import mmr_topk
    from aws_data_engineering_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    k, lam, pool = 4, 0.5, 10
    got = [
        (r.rank, r.vec_id)
        for r in mmr_topk(emb, query_vec_id=0, k=k, lam=lam, pool=pool)
        .orderBy("rank")
        .collect()
    ]

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    q = X[ids == 0][0]
    mask = ids != 0
    cids, C = ids[mask], X[mask]
    rel = C @ q
    # pool: top by (rel desc, id asc)
    order = sorted(range(len(cids)), key=lambda i: (-rel[i], cids[i]))[:pool]
    cids, C, rel = cids[order], C[order], rel[order]
    selected = []
    for rank in range(1, k + 1):
        best = None
        for i in range(len(cids)):
            if any(cids[i] == s for s, _ in selected):
                continue
            if not selected:
                score = rel[i]
            else:
                pen = max(float(C[i] @ C[j]) for _, j in selected)
                score = lam * rel[i] - (1 - lam) * pen
            key = (-score, cids[i])
            if best is None or key < best[0]:
                best = (key, i)
        selected.append((cids[best[1]], best[1]))
    want = [(r + 1, int(s)) for r, (s, _) in enumerate(selected)]
    assert got == want


def test_hard_negative_topk_equals_numpy_model(spark, sf_dir):
    """hard_negative_topk must equal a dense numpy reference: per anchor,
    the k most-cosine-similar candidates with a different label and a
    different id, ties broken by negative_id ascending."""
    import numpy as np

    from aws_data_engineering_spark.operators.similarity import hard_negative_topk
    from aws_data_engineering_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    k = 3
    anchors = emb.filter(F.col("vec_id") < 3)
    got = [
        (r.anchor_id, r.rnk, r.negative_id)
        for r in hard_negative_topk(anchors, emb, k=k)
        .orderBy("anchor_id", "rnk")
        .collect()
    ]

    rows = emb.select("vec_id", "label", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    labs = np.array([r.label for r in rows])
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    want = []
    for a in sorted(ids[ids < 3]):
        av = Xn[ids == a][0]
        alab = labs[ids == a][0]
        sims = Xn @ av
        cand = [
            (float(-sims[i]), int(ids[i]))
            for i in range(len(ids))
            if ids[i] != a and labs[i] != alab
        ]
        cand.sort()
        want.extend((int(a), r + 1, nid) for r, (_, nid) in enumerate(cand[:k]))
    assert got == want


def test_hard_negative_topk_guard(spark, sf_dir):
    """The anchor-count guard must trip instead of collecting an unbounded
    set."""
    import pytest

    from aws_data_engineering_spark.operators.similarity import (
        ExactPathScaleError,
        hard_negative_topk,
    )
    from aws_data_engineering_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    with pytest.raises(ExactPathScaleError):
        hard_negative_topk(emb, emb, k=2, max_anchors=10)


def test_recommended_lsh_planes_bounds_bucket_occupancy():
    """The plane-count rule must keep expected bucket occupancy at or
    under the target (so per-task matrices stay ~constant as N grows) and
    never go below one plane."""
    from aws_data_engineering_spark.operators.similarity import (
        recommended_lsh_planes,
    )

    for n in (500, 2_000, 20_000, 200_000, 2_000_000, 10**9):
        p = recommended_lsh_planes(n, target_bucket=1024)
        assert p >= 1
        assert n / (2**p) <= 1024 or p == 1, (n, p)
    assert recommended_lsh_planes(200_000) == 8
    assert recommended_lsh_planes(20_000) == 5
    assert recommended_lsh_planes(500) == 1


def test_lsh_bucket_occupancy_audit_invariants(spark, sf_dir):
    """The occupancy audit must partition the corpus exactly (occupancies
    sum to N across any plane count), and its pair/bytes columns must be
    the closed-form C(occ,2) and occ^2*8 of each reported occupancy —
    i.e. the audit predicts precisely the work bucketed_neardup_pairs
    would do on the same plane set."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    for p in (1, 3, 5):
        rows = S.lsh_bucket_occupancy(emb, n_planes=p, dim=64).collect()
        assert sum(r["occupancy"] for r in rows) == n
        assert len(rows) <= 2**p
        for r in rows:
            occ = r["occupancy"]
            assert r["candidate_pairs"] == occ * (occ - 1) // 2
            assert r["est_task_bytes"] == occ * occ * 8


def test_e19_probe_recall_monotone(spark, sf_dir):
    """Probing more inverted lists can only add candidates, so recall@5 is
    non-decreasing in n_probe — the frontier property the tuning table
    exists to expose."""
    from aws_data_engineering_spark.plans.registry import QUERIES, queries

    queries()
    rows = sorted(
        (r["n_probe"], r["sum_overlap"])
        for r in QUERIES["e19_ivf_probe_recall_sweep"]
        .spark(spark, sf_dir)
        .collect()
    )
    overlaps = [o for _, o in rows]
    assert overlaps == sorted(overlaps), rows
    assert overlaps[-1] > overlaps[0], "sweep is flat — probes not applied"


def test_e21_pq_training_recovers_planted_subspace_clusters(spark, tmp_path):
    """PQ codebook training on a separable planted corpus: vectors whose
    subspace slices sit in 4 tight blobs around distinct corners. A blob's
    members are near-identical, so a blob must never SPLIT across clusters
    — every cluster size is a whole multiple of 16 summing to 64 (k-means
    may merge blobs when init centroids collide; it must not tear one
    apart) — and DuckDB must reproduce the training bit-exactly."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from aws_data_engineering_spark.plans.registry import QUERIES, queries

    queries()  # force registration

    # 64 vectors; slice s of vector v points at corner (v % 4) scaled
    # well apart, with a tiny deterministic jitter so means differ from
    # the init planes
    vecs = []
    for v in range(64):
        e = []
        for s in range(4):
            corner = v % 4
            base = [0.0] * 16
            base[corner * 4] = 10.0 * (corner + 1)
            base[corner * 4 + 1] = -5.0 * (corner + 1)
            jitter = ((v * 31 + s * 7) % 5) * 1e-3
            e.extend([x + jitter for x in base])
        vecs.append(e)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(64), pa.int64()),
            "label": pa.array([v % 4 for v in range(64)], pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    q = QUERIES["e21_pq_codebook_training"]
    rows = q.spark(spark, str(tmp_path)).collect()
    by_sub = {}
    for r in rows:
        by_sub.setdefault(r["subspace"], []).append(r)
    assert set(by_sub) == {0, 1, 2, 3}
    for s, cl in by_sub.items():
        sizes = sorted(r["n_vectors"] for r in cl)
        assert sum(sizes) == 64, (s, sizes)
        # blobs may merge (init collision) but must never split
        assert all(n % 16 == 0 for n in sizes), (s, sizes)
    # and the oracle agrees on the planted corpus too
    from tests.oracle_utils import compare

    compare(q.spark(spark, str(tmp_path)), q.oracle, str(tmp_path))


# ---------------------------------------------------------------------------
# Registered retrieval queries on planted corpora: s11 fusion with an empty
# sparse arm, s13 label isolation, s14 MIPS ordering, s15 duplicate
# vectors, e22 label agreement, and the s16 incremental-index mechanisms
# (append == rebuild, append-only files, scratch cleanup).
# ---------------------------------------------------------------------------
def _write_embeddings(tmp_path, n=12, dim=8):
    vecs = []
    for i in range(n):
        # deterministic, non-degenerate vectors
        vecs.append([((i * 7 + j * 3) % 13) / 13.0 + 0.1 for j in range(dim)])
    tbl = pa.table(
        {
            "vec_id": pa.array(list(range(n)), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array([i % 3 for i in range(n)], pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))


def test_s11_fusion_with_empty_sparse_arm(spark, tmp_path):
    """No document matches the BM25 terms -> the sparse ranking is empty
    and every fused row comes from the dense arm alone (s_rnk all NULL);
    the full-outer fusion and the oracle must agree exactly."""
    from tests.oracle_utils import compare

    rows = [
        (i, f"nothing relevant here doc{i} filler words", "en", "web")
        for i in range(1, 13)
    ]
    write_docs(tmp_path, rows)
    _write_embeddings(tmp_path)
    q = QUERIES["s11_rrf_hybrid_retrieval"]
    df = q.spark(spark, str(tmp_path))
    got = df.collect()
    assert len(got) > 0
    assert all(r["s_rnk"] is None for r in got), "sparse arm should be empty"
    compare(df, q.oracle, str(tmp_path))


def test_s13_label_isolation_and_short_slices(spark, tmp_path):
    """A label whose only member is the query itself yields NO rows for
    that query (filtered search never leaks across the filter key), and a
    label with fewer than K+1 members yields fewer than K rows — both
    engines must agree on the short result."""
    from tests.oracle_utils import compare

    vecs = []
    labels = []
    # label 0: only vec 0 (a query) -> no candidates for it
    # label 1: vecs 1 (query) + 10, 11 -> 2 neighbors (< K=5)
    # label 2: vecs 2 (query) + 12..17 -> full K
    for i in range(18):
        vecs.append([((i * 5 + j * 2) % 11) / 11.0 + 0.2 for j in range(8)])
        labels.append(0 if i == 0 else (1 if i in (1, 10, 11) else 2))
    tbl = pa.table(
        {
            "vec_id": pa.array(list(range(18)), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    q = QUERIES["s13_ann_label_filtered_topk"]
    df = q.spark(spark, str(tmp_path))
    got = df.collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    assert 0 not in by_q, "label-isolated query must return nothing"
    assert len(by_q[1]) == 2, "short label slice must yield < K rows"
    assert all(r["label"] == 1 for r in by_q[1])
    compare(df, q.oracle, str(tmp_path))


def test_e22_separable_labels_reach_full_agreement(spark, tmp_path):
    """Two well-separated label clusters -> every vector's top neighbors
    share its label (agreement_ppm = 1_000_000 for both labels)."""
    from tests.oracle_utils import compare

    vecs, labels = [], []
    for i in range(12):
        lab = i % 2
        # cluster 0 near e1, cluster 1 near e2; small per-point jitter
        base = [1.0, 0.0] if lab == 0 else [0.0, 1.0]
        vecs.append([base[0] + 0.01 * i, base[1] + 0.02 * (i % 3), 0.1, 0.1])
        labels.append(lab)
    tbl = pa.table(
        {
            "vec_id": pa.array(list(range(12)), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    q = QUERIES["e22_knn_label_agreement"]
    df = q.spark(spark, str(tmp_path))
    got = {r["label"]: r for r in df.collect()}
    assert got[0]["agreement_ppm"] == 1_000_000
    assert got[1]["agreement_ppm"] == 1_000_000
    assert got[0]["n_edges"] == 6 * 5  # 6 members x k=5
    compare(df, q.oracle, str(tmp_path))


def test_s14_mips_magnitude_beats_angle(spark, tmp_path):
    """MIPS semantics pinned: a long vector at a worse angle outranks a
    short near-parallel one (dot 10+5*eps vs ~1), which is exactly the
    ordering cosine would reverse."""
    from tests.oracle_utils import compare

    vecs = [
        [1.0, 0.0, 0.0, 0.0],    # query (vec_id 0 < 10)
        [10.0, 5.0, 0.0, 0.0],   # big magnitude, 63° worse angle: dot 10
        [0.99, 0.01, 0.0, 0.0],  # near-parallel, tiny: dot 0.99
        [0.5, 0.5, 0.5, 0.5],    # filler
    ]
    tbl = pa.table(
        {
            "vec_id": pa.array([0, 11, 12, 13], pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array([0, 0, 0, 0], pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    q = QUERIES["s14_mips_topk"]
    df = q.spark(spark, str(tmp_path))
    ranked = sorted(
        [r for r in df.collect() if r["query_id"] == 0], key=lambda r: r["rnk"]
    )
    assert ranked[0]["neighbor_id"] == 11 and ranked[0]["dot"] == 10.0
    assert ranked[1]["neighbor_id"] == 12
    compare(df, q.oracle, str(tmp_path))


def test_s15_duplicate_vectors_tie_left_and_leaves_balance(spark, tmp_path):
    """Exact duplicate vectors share a projection, so they all land on the
    same side of every median (ties go LEFT, <=) and end in the SAME leaf —
    a projection tree can never split identical points apart. Leaves stay
    near-balanced on skewed data, and both engines agree on the full
    output including leaf paths."""
    from tests.oracle_utils import compare

    vecs = []
    # 8 copies of one vector (a duplicate cluster) + 24 spread vectors
    for i in range(32):
        if i < 8:
            vecs.append([0.5] * 64)
        else:
            vecs.append([((i * 7 + j * 3) % 13) / 13.0 - 0.4 for j in range(64)])
    tbl = pa.table(
        {
            "vec_id": pa.array(list(range(32)), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array([i % 3 for i in range(32)], pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    q = QUERIES["s15_projection_tree_topk"]
    df = q.spark(spark, str(tmp_path))
    rows = df.collect()
    # queries 0..7 are the duplicate cluster: their top neighbors must be
    # the other duplicates (max integer dot), all in one shared leaf
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    dup_leaves = {r["leaf"] for qid in range(8) for r in by_q[qid]}
    assert len(dup_leaves) == 1, "duplicate cluster split across leaves"
    top = sorted(by_q[0], key=lambda r: r["rnk"])[0]
    assert top["neighbor_id"] in range(1, 8)
    # balance: no leaf holds more than half the corpus (median splits)
    leaf_sizes = {r["leaf"]: r["leaf_n"] for r in rows}
    assert all(n <= 16 for n in leaf_sizes.values())
    compare(df, q.oracle, str(tmp_path))


def test_s16_append_is_rebuild(spark, sf_dir):
    """The in-engine identity the oracle also checks cross-engine: probing
    the appended index returns exactly the rows of a from-scratch
    ivfpq_topk over the union corpus."""
    from aws_data_engineering_spark.operators import similarity as SIM
    from aws_data_engineering_spark.plans.retrieval_queries import (
        _S16_CENTROIDS,
        _S16_K,
        _S16_NPROBE,
    )
    from aws_data_engineering_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cb = SIM.pq_codebook(m_sub=8, k_codes=16, subdim=8)
    rebuilt = SIM.ivfpq_topk(
        emb.filter(F.col("vec_id") < 10),
        emb,
        _S16_CENTROIDS,
        cb,
        k=_S16_K,
        n_probe=_S16_NPROBE,
    )
    appended = QUERIES["s16_incremental_index_append"].spark(spark, sf_dir)
    a = {
        (r["query_id"], r["neighbor_id"], r["adc_dist"], r["rnk"])
        for r in appended.collect()
    }
    b = {
        (r["query_id"], r["neighbor_id"], r["adc_dist"], r["rnk"])
        for r in rebuilt.collect()
    }
    assert a == b and len(a) > 0


def test_s16_append_leaves_existing_files_untouched(spark, sf_dir, tmp_path):
    """The append contract that makes daily ingestion O(|batch|): the
    day-0 index files are not rewritten, renamed, or removed by the
    batch append — only new files appear, inside existing list dirs."""
    from aws_data_engineering_spark.operators import similarity as SIM
    from aws_data_engineering_spark.plans.retrieval_queries import _S16_CENTROIDS
    from aws_data_engineering_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cb = SIM.pq_codebook(m_sub=8, k_codes=16, subdim=8)
    root = str(tmp_path / "s16_idx")
    (
        SIM.ivfpq_encode(emb.filter(F.col("vec_id") % 10 != 7), _S16_CENTROIDS, cb)
        .withColumn("commit", F.lit(0))
        .write.partitionBy("list_id")
        .parquet(root)
    )

    from tests.oracle_utils import snapshot_parquet_files

    def snapshot():
        return snapshot_parquet_files(root)

    before = snapshot()
    assert before, "day-0 write produced no parquet files"
    (
        SIM.ivfpq_encode(emb.filter(F.col("vec_id") % 10 == 7), _S16_CENTROIDS, cb)
        .withColumn("commit", F.lit(1))
        .write.mode("append")
        .partitionBy("list_id")
        .parquet(root)
    )
    after = snapshot()
    for p, sig in before.items():
        assert after.get(p) == sig, f"append touched existing index file {p}"
    assert len(after) > len(before), "append added no files"
    # and the appended rows are exactly the batch
    got = (
        spark.read.parquet(root)
        .filter(F.col("commit") == 1)
        .select("id")
        .collect()
    )
    want = emb.filter(F.col("vec_id") % 10 == 7).select("vec_id").collect()
    assert {r["id"] for r in got} == {r["vec_id"] for r in want}


def test_s16_scratch_cleanup(spark, sf_dir):
    """The registered query removes its scratch index after eager
    materialization (the c20 contract — repeated drives must not leak)."""
    import glob

    from aws_data_engineering_spark.storage import scratch_root

    pat = os.path.join(scratch_root(), "s16_*")
    before = set(glob.glob(pat))
    QUERIES["s16_incremental_index_append"].spark(spark, sf_dir).collect()
    leaked = set(glob.glob(pat)) - before
    assert not leaked, f"s16 leaked scratch dirs: {leaked}"
