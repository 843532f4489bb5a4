"""Embedding similarity search (exact and approximate nearest neighbours).

Every top-k search here is a partition-local top-k merged by one global
ranking window, and the numpy search kernels take one of two shared paths:

- the probe scan (:func:`_probe_scan_topk`) behind ``brute_force_topk``,
  ``mips_topk``, ``pq_topk`` and ``hard_negative_topk``: a small, guarded
  probe set is collected and shipped into one ``mapInPandas`` kernel over
  the candidate table; each Arrow batch emits only its per-probe top-k, so
  the one shuffle moves ~k·Q rows per partition. The score (sequential
  cosine, sequential dot, negated integer PQ ADC) and the excluded pairs
  (self matches, same-label negatives) are inputs;
- the inverted lists (:func:`_ivf_fns`) behind ``ivf_topk``,
  ``ivf_fixed_topk`` and the IVFPQ family: candidates join the list of
  their max-cosine centroid, each query probes its ``n_probe`` nearest
  lists, and a per-list kernel keeps each query's list-local top-k.

Both paths share the one row-wise top-k (:func:`_local_topk_fns`) and the
one window (:func:`_rank`). Hyperplane LSH (``lsh_topk``,
``bucketed_neardup_pairs``) and the projection tree bucket instead of
probing. Everything computes in double precision (cast from float32
storage) so results are reproducible and oracle-comparable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Exact-path operators ship a driver-collected vector matrix into their
# kernels (a faiss-style flat index). Past this many vectors the collect
# itself is the failure mode at scale, so the guard raises with the LSH
# alternative to use instead. Overridable per call (tests use a tiny cap).
EXACT_PATH_MAX_VECTORS = 100_000


class ExactPathScaleError(ValueError):
    """Raised when an exact similarity path would collect more vectors to the
    driver than ``max_vectors`` allows. The message names the LSH-bucketed
    operator that handles the same query shape at scale."""


def _collect_guarded(df: DataFrame, max_vectors: int, op: str, alternative: str) -> list:
    """Collect ``df`` in one job, refusing past ``max_vectors`` rows: at
    most ``max_vectors + 1`` rows are ever collected, and one row over the
    bound raises. Turns the documented
    ~100k-vector exact-path contract into code instead of prose."""
    rows = df.limit(max_vectors + 1).collect()
    if len(rows) > max_vectors:
        raise ExactPathScaleError(
            f"{op}: more than {max_vectors} vectors exceed the exact-path "
            f"collect bound; use {alternative} for corpora this size"
        )
    return rows


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right fold — matches the oracle's summation order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _as_double(c: Column) -> Column:
    return c.cast("array<double>")


def _seq_cosine_fns(normalize: bool = True):
    """The ONE definition of the kernel-side cosine contract, as a factory
    (the returned closure is cloudpickle'd BY VALUE into worker closures —
    a module-level helper would need this package importable on executors,
    which the driver-harness sys.path setup does not provide).

    ``seq_cosine_matrix(a, b)``: (Na, D) × (Nb, D) float64 → (Na, Nb)
    cosine similarities, accumulating dot products and squared norms
    dimension-by-dimension (a j-loop of vectorized adds). That is the exact
    left-to-right IEEE sequence of the JVM ``F.aggregate`` fold and of
    DuckDB's ``list_cosine_similarity`` — the property every bit-exact
    similarity oracle in this module depends on. Zero vectors: norms are
    floored at 1e-300 (a no-op for any nonzero vector), so sims come back
    0.0 instead of NaN (NaN sort position differs across engines).

    Symmetric self-comparison (``b is None`` or ``b is a``) reuses the one
    norm accumulator instead of computing it twice — bit-identical output
    (the per-element products are the same IEEE sequence), just without the
    duplicated O(N·D) norm pass the r2 kernel consolidation introduced.

    ``normalize=False`` returns the raw dot-product matrix instead (the
    same fold without the norms) — DuckDB ``list_inner_product``'s order.
    """
    import numpy as np

    def seq_dot_matrix(a, b):
        acc = np.zeros((a.shape[0], b.shape[0]), dtype=np.float64)
        for j in range(a.shape[1]):
            acc += a[:, j : j + 1] * b[None, :, j]
        return acc

    def seq_norms(a):
        n2 = np.zeros(a.shape[0], dtype=np.float64)
        for j in range(a.shape[1]):
            n2 += a[:, j] * a[:, j]
        return np.maximum(np.sqrt(n2), 1e-300)

    def seq_cosine_matrix(a, b=None):
        sym = b is None or b is a
        if sym:
            b = a
        an = seq_norms(a)
        bn = an if sym else seq_norms(b)
        # floor the PRODUCT too: 1e-300 * 1e-300 underflows to 0.0, so a
        # zero×zero pair would be 0/0 = NaN despite the per-norm floors
        return seq_dot_matrix(a, b) / np.maximum(an[:, None] * bn[None, :], 1e-300)

    return seq_cosine_matrix if normalize else seq_dot_matrix


def _local_topk_fns():
    """The ONE partition-local top-k of both search paths, as a by-value
    factory like :func:`_seq_cosine_fns`.

    ``local_topk(score, excluded, ids, k)`` takes a (Q, N) score matrix
    (higher ranks first), an optional (Q, N) mask of pairs that may never
    match and the N candidate ids, and returns the (row, col) indices of
    each row's best ``k`` admissible entries, ties by id ascending — the
    global window's (score desc, id asc) order. One row-wise ``lexsort``
    on (excluded, -score, id) serves every query at once; an IVF query
    picks its probed lists with it too (score = centroid cosine, ids =
    list ids, nothing excluded)."""
    import numpy as np

    def local_topk(score, excluded, ids, k):
        take = min(int(k), score.shape[1])
        keys = (np.broadcast_to(ids, score.shape), -score)
        if excluded is not None:
            keys += (excluded,)
        cols = np.lexsort(keys, axis=1)[:, :take].ravel()
        rows = np.repeat(np.arange(score.shape[0]), take)
        if excluded is not None:
            keep = ~excluded[rows, cols]
            rows, cols = rows[keep], cols[keep]
        return rows, cols

    return local_topk


def _scorer_fns(metric: str, codebook=None):
    """The ranking score of both search paths, as a by-value factory:
    ``score(qm, cands)`` → (Q, N), higher first, for a (Q, D) query matrix
    against a pandas frame of N candidates.

    - ``cosine`` / ``dot``: the sequential folds of :func:`_seq_cosine_fns`
      over the frame's ``v`` vectors;
    - ``adc``: PQ's negated integer asymmetric distance
      (:func:`_pq_fns`), over the frame's ``codes`` when it carries them
      (an encoded inverted list), else encoding its ``v`` on the fly.
    """
    import numpy as np

    if metric == "adc":
        encode, adc = _pq_fns(codebook)

        def score(qm, cands):
            if "codes" in cands:
                codes = np.array(list(cands["codes"]), dtype=np.int64)
            else:
                codes = encode(np.array(list(cands["v"]), dtype=np.float64))
            return -adc(qm, codes)

        return score
    fold = _seq_cosine_fns(normalize=metric == "cosine")

    def score(qm, cands):
        return fold(qm, np.array(list(cands["v"]), dtype=np.float64))

    return score


def _keyed_vectors(df: DataFrame, vec_col: str, **keys: str) -> DataFrame:
    """The kernels' input projection: each ``name=source`` key column, then
    the vector as ``v`` array<double>."""
    return df.select(
        *[F.col(src).alias(name) for name, src in keys.items()],
        _as_double(F.col(vec_col)).alias("v"),
    )


def _rank(scored: DataFrame, k: int, part: str, tie: str, score: str = "score") -> DataFrame:
    """The global top-k window every search ends in: ``rnk`` = row_number
    per ``part`` by (``score`` desc, ``tie`` asc); keeps rnk <= k."""
    w = Window.partitionBy(part).orderBy(F.desc(score), F.asc(tie))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def _probe_scan_topk(
    probes: DataFrame,
    candidates: DataFrame,
    vec_col: str,
    k: int,
    score,
    *,
    probe_keys: dict[str, tuple[str, str]],
    cand_keys: dict[str, tuple[str, str]],
    max_vectors: int,
    op: str,
    alternative: str,
    score_type: str = "double",
    exclude: tuple[tuple[str, str], ...] = (),
) -> DataFrame:
    """The exact-path top-k runner. ``probe_keys`` / ``cand_keys`` map each
    output key to its (source column, type); the first key of each side is
    its id.

    Plan shape: collect the small probe set (guarded by ``max_vectors``;
    past it :class:`ExactPathScaleError` names ``alternative``), ship it
    inside one numpy ``mapInPandas`` kernel over the candidate table, and
    emit only each Arrow batch's per-probe top-k — so the one shuffle (the
    global window keyed by probe id) moves ~k·Q rows per partition, never
    the N×Q score matrix, and the corpus never leaves the scan stage.

    ``score`` is a :func:`_scorer_fns` scorer. A pair never matches when
    its ids are equal or when any ``exclude`` (probe key, candidate key)
    pair is equal. Returns every key, ``score`` and ``rnk``.
    """
    p_names, c_names = list(probe_keys), list(cand_keys)
    probes = _keyed_vectors(probes, vec_col, **{n: src for n, (src, _) in probe_keys.items()})
    rows = _collect_guarded(probes, max_vectors, op, alternative)
    p_keys = {n: [r[n] for r in rows] for n in p_names}
    p_vecs = [list(r["v"]) for r in rows]
    same = ((p_names[0], c_names[0]),) + tuple(exclude)
    local_topk = _local_topk_fns()
    kk = int(k)

    def kernel(batches):
        import numpy as np_w
        import pandas as pd_w

        pm = np_w.asarray(p_vecs, dtype=np_w.float64)  # (Q, D)
        pk = {n: np_w.asarray(v) for n, v in p_keys.items()}
        for pdf in batches:
            if not len(pdf) or not len(pm):
                continue
            ck = {n: pdf[n].to_numpy() for n in c_names}
            s = score(pm, pdf)  # (Q, B)
            excluded = np_w.zeros(s.shape, dtype=bool)
            for p_key, c_key in same:
                excluded |= pk[p_key][:, None] == ck[c_key][None, :]
            r, c = local_topk(s, excluded, ck[c_names[0]], kk)
            yield pd_w.DataFrame(
                {
                    **{n: v[r] for n, v in pk.items()},
                    **{n: v[c] for n, v in ck.items()},
                    "score": s[r, c],
                }
            )

    schema = ", ".join(f"{n} {t}" for n, (_, t) in {**probe_keys, **cand_keys}.items())
    spark = candidates.sparkSession
    scored = (
        _keyed_vectors(candidates, vec_col, **{n: src for n, (src, _) in cand_keys.items()})
        .repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(kernel, f"{schema}, score {score_type}")
    )
    return _rank(scored, kk, p_names[0], c_names[0])


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    query_id: str = "vec_id",
    cand_id: str = "vec_id",
    vec_col: str = "embedding",
    max_vectors: int = EXACT_PATH_MAX_VECTORS,
) -> DataFrame:
    """Exact cosine top-k of every query against all candidates.

    Plan shape: the probe scan (:func:`_probe_scan_topk`) — the (small,
    guarded by ``max_vectors``) query set rides into one ``mapInPandas``
    kernel over the candidate table and each Arrow batch emits only its
    per-query top-k. For large Q, swap to ``lsh_topk``.

    Floating-point contract: the kernel accumulates dot products and norms
    dimension-by-dimension (a loop of vectorized adds), which is the exact
    IEEE operation sequence of the left-to-right ``F.aggregate`` fold and of
    the DuckDB oracle — so values bit-match the previous JVM-HOF
    implementation while running ~10× faster (interpreted higher-order
    lambdas are never codegen'd; see operators/dedup.py for the same trade).
    """
    ranked = _probe_scan_topk(
        queries,
        candidates,
        vec_col,
        k,
        _scorer_fns("cosine"),
        probe_keys={"query_id": (query_id, "bigint")},
        cand_keys={"neighbor_id": (cand_id, "bigint")},
        max_vectors=max_vectors,
        op="brute_force_topk",
        alternative="lsh_topk",
    )
    return ranked.select("query_id", "neighbor_id", F.round("score", 4).alias("sim"), "rnk")


def mips_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    query_id: str = "vec_id",
    cand_id: str = "vec_id",
    vec_col: str = "embedding",
    max_vectors: int = EXACT_PATH_MAX_VECTORS,
) -> DataFrame:
    """Exact maximum-inner-product top-k (MIPS) — the recommender-system
    retrieval semantics, where two-tower models rank by raw dot product and
    a long vector IS a strong match (cosine's normalization would erase the
    popularity/magnitude signal the model trained into the norms).

    Same probe scan and guard as :func:`brute_force_topk`. The dot products accumulate dimension-by-dimension (the
    ``_seq_cosine_fns`` IEEE contract minus the norms), matching DuckDB's
    ``list_inner_product`` fold exactly — so even this approximate-free
    kernel is bit-oracle-checkable."""
    ranked = _probe_scan_topk(
        queries,
        candidates,
        vec_col,
        k,
        _scorer_fns("dot"),
        probe_keys={"query_id": (query_id, "bigint")},
        cand_keys={"neighbor_id": (cand_id, "bigint")},
        max_vectors=max_vectors,
        op="mips_topk",
        alternative="lsh_topk",
    )
    return ranked.select("query_id", "neighbor_id", F.round("score", 4).alias("dot"), "rnk")


# ---------------------------------------------------------------------------
# Random-hyperplane LSH (scale path)
# ---------------------------------------------------------------------------


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes via an LCG (reproducible
    across runs/executors without RNG state)."""
    state = seed
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            # map to [-1, 1)
            row.append(state / float(1 << 62) - 1.0)
        planes.append(row)
    return planes


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id: bit i = sign(vec · plane_i)."""
    bucket = F.lit(0).cast("bigint")
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(v) for v in plane])
        bit = F.when(dot(vec, p) > 0, F.lit(2**i).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        bucket = bucket + bit
    return bucket


def _lsh_bucket_sql(dim: int, n_planes: int) -> str:
    """DuckDB twin of :func:`lsh_bucket` over a DOUBLE[] column ``e``: the
    same literal LCG hyperplanes, bit i = sign(e · plane_i)."""
    return " + ".join(
        f"CASE WHEN list_dot_product(e, [{', '.join(repr(v) for v in plane)}]) > 0 "
        f"THEN {1 << i} ELSE 0 END"
        for i, plane in enumerate(_hyperplanes(dim, n_planes))
    )


def recommended_lsh_planes(n_vectors: int, target_bucket: int = 1024) -> int:
    """Plane count for :func:`bucketed_neardup_pairs` at a given corpus
    size. The per-bucket kernel materializes a (N/2^p)² similarity matrix,
    so p must GROW WITH log2(N) to hold per-task memory constant: a plane
    count that is fine at 20k vectors (p=4 → 1.2k/bucket → 12 MB matrices)
    is a 5 GB/task hazard at 200k (measured in the round-6 100× scale
    experiment, SURVEY §6.2). p = ceil(log2(N / target_bucket)); the
    default 1024-vector buckets cost ~8 MB per task matrix."""
    import math

    return max(1, math.ceil(math.log2(max(2.0, n_vectors / target_bucket))))


def bucketed_neardup_pairs(
    df: DataFrame,
    threshold: float,
    n_planes: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs within hyperplane-LSH buckets, scored by a
    per-bucket numpy kernel (``applyInPandas``): normalize → one matrix
    multiply → pairs above threshold. Replaces O(pairs × dim) interpreted
    per-pair expressions with a vectorized BLAS call per bucket — measured
    ~10× faster — and is exactly the kernel shape a 100 TB run shards by
    bucket across executors (bucket count, via ``n_planes``, bounds the
    per-task matrix size).

    ``n_planes`` must scale with corpus size — per-bucket work is
    (N/2^p)², quadratic in bucket occupancy. Size it with
    :func:`recommended_lsh_planes` (p ≈ log2(N/1024)); the constants in
    the registered e02/g07 queries are tuned for the fixture corpora and
    recall-checked there, not for an arbitrary N."""
    planes = _hyperplanes(dim, n_planes)
    thr = float(threshold)
    seq_cos = _seq_cosine_fns()  # the module's one bit-exact cosine kernel

    def kernel(pdf):
        import numpy as np
        import pandas as pd_w

        ids = pdf["id"].to_numpy()
        m = np.array(list(pdf["v"]), dtype=np.float64)
        sims = seq_cos(m, m)
        ia, ib = np.triu_indices(len(ids), k=1)
        # enforce id_a < id_b regardless of within-bucket row order
        lo, hi = np.minimum(ids[ia], ids[ib]), np.maximum(ids[ia], ids[ib])
        keep = sims[ia, ib] >= thr
        return pd_w.DataFrame(
            {
                "id_a": lo[keep],
                "id_b": hi[keep],
                "sim": np.round(sims[ia, ib][keep], 4),
            }
        )

    v = df.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
    ).withColumn("bucket", lsh_bucket(F.col("v"), planes))
    pairs = v.groupBy("bucket").applyInPandas(kernel, "id_a bigint, id_b bigint, sim double")
    # a pair can share several buckets → dedup on the pair key
    return pairs.dropDuplicates(["id_a", "id_b"])


def lsh_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    query_id: str = "vec_id",
    cand_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k: compare only within the same hyperplane
    bucket. Recall is tunable via ``n_planes`` (fewer planes → bigger
    buckets → higher recall, more compute). The join is an equi-join on
    bucket id → ordinary shuffle-hash join, scales linearly."""
    planes = _hyperplanes(dim, n_planes)
    q = queries.select(
        F.col(query_id).alias("query_id"), _as_double(F.col(vec_col)).alias("q_vec")
    ).withColumn("bucket", lsh_bucket(F.col("q_vec"), planes))
    c = candidates.select(
        F.col(cand_id).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("c_vec")
    ).withColumn("bucket", lsh_bucket(F.col("c_vec"), planes))
    pairs = q.join(c, "bucket").filter(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id", "neighbor_id", cosine(F.col("q_vec"), F.col("c_vec")).alias("sim")
    )
    return _rank(scored, k, "query_id", "neighbor_id", "sim").select(
        "query_id", "neighbor_id", F.round("sim", 4).alias("sim"), "rnk"
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — coarse quantizer + probed bucket search
# ---------------------------------------------------------------------------


def _train_centroids_np(sample, n_centroids: int, iters: int = 5):
    """Deterministic mini k-means on a driver-side sample (numpy).

    IVF trains its coarse quantizer on a bounded sample in every real system
    (faiss trains on ~100k vectors regardless of corpus size) — the collect
    here is capped by the caller, not proportional to data size. Fixed
    init (first k sample rows) + fixed iteration count keeps centroids
    reproducible across runs and cluster sizes."""
    import numpy as np

    m = np.asarray(sample, dtype=np.float64)
    cents = m[:n_centroids].copy()
    for _ in range(iters):
        d = ((m[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(len(cents)):
            members = m[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents


def _ivf_fns(centroids, n_probe: int = 1, k: int = 1, score=None, codebook=None):
    """Worker kernels of the one inverted-list path, pickled BY VALUE
    (everything they touch is built inside this factory):

    - ``assign``: (id, v) → (id, list_id, v) — or (id, list_id, codes), the
      PQ code per subspace, when a ``codebook`` is given. The list is the
      max-cosine centroid; argmax's first maximum is the lowest list id on
      ties, the oracles' ``ORDER BY sim DESC, cid``.
    - ``probe``: (id, v) → one (id, v, list_id) row per probed list, the
      ``n_probe`` highest-cosine centroids by (sim desc, list id asc).
    - ``score_group``: one list's tagged query (``side = 'q'``) and
      candidate (``'c'``) rows → each query's list-local top-k
      (query_id, neighbor_id, score) under the :func:`_scorer_fns`
      ``score``, self-matches excluded. A candidate sits in one list and a
      query's probed lists are distinct, so every pair is scored once; a
      global top-k neighbor precedes < k candidates in the total (score
      desc, id asc) order, hence < k within its own list, so the union of
      the list-local top-k always contains the global top-k.
    """
    import numpy as np

    cents = np.asarray([[float(x) for x in c] for c in centroids], dtype=np.float64)
    list_ids = np.arange(len(cents))
    seq_cos = _seq_cosine_fns()
    local_topk = _local_topk_fns()
    encode = None if codebook is None else _pq_fns(codebook)[0]

    def vectors(col):
        return np.array(list(col), dtype=np.float64)

    def assign(batches):
        import pandas as pd_w

        for pdf in batches:
            if not len(pdf):
                continue
            m = vectors(pdf["v"])
            out = {"id": pdf["id"], "list_id": seq_cos(m, cents).argmax(axis=1)}
            if encode is None:
                out["v"] = pdf["v"]
            else:
                out["codes"] = list(encode(m))
            yield pd_w.DataFrame(out)

    def probe(batches):
        import pandas as pd_w

        for pdf in batches:
            if not len(pdf):
                continue
            sims = seq_cos(vectors(pdf["v"]), cents)
            rows, lists = local_topk(sims, None, list_ids, n_probe)
            yield pd_w.DataFrame(
                {
                    "id": pdf["id"].to_numpy()[rows],
                    "v": pdf["v"].to_numpy()[rows],
                    "list_id": lists,
                }
            )

    def score_group(pdf):
        import pandas as pd_w

        qs = pdf[pdf["side"] == "q"]
        cs = pdf[pdf["side"] == "c"]
        qids = qs["id"].to_numpy()
        cids = cs["id"].to_numpy()
        if not len(qids) or not len(cids):
            return pd_w.DataFrame({"query_id": qids[:0], "neighbor_id": cids[:0], "score": []})
        s = score(vectors(qs["v"]), cs)
        rows, cols = local_topk(s, qids[:, None] == cids[None, :], cids, k)
        return pd_w.DataFrame(
            {"query_id": qids[rows], "neighbor_id": cids[cols], "score": s[rows, cols]}
        )

    return assign, probe, score_group


def _ivf_assign(
    candidates: DataFrame, centroids, cand_id: str, vec_col: str, codebook=None
) -> DataFrame:
    """The inverted lists: one Arrow pass assigning every candidate to its
    list (see :func:`_ivf_fns`), carrying its vector or, with a
    ``codebook``, only its PQ codes. The pass runs in the scan stage: the
    assignment is cheap next to the scoring, which the ``list_id`` shuffle
    spreads over the cluster anyway, so a fan-out repartition would only
    add a stage (measured slower at sf0.1 on a 4-core local[4] host)."""
    assign = _ivf_fns(centroids, codebook=codebook)[0]
    payload = "v array<double>" if codebook is None else "codes array<int>"
    return _keyed_vectors(candidates, vec_col, id=cand_id).mapInPandas(
        assign, f"id bigint, list_id int, {payload}"
    )


def _ivf_search(
    queries: DataFrame,
    lists: DataFrame,
    centroids,
    k: int,
    n_probe: int,
    score,
    score_type: str,
    query_id: str,
    vec_col: str,
) -> DataFrame:
    """Probe, score and rank over :func:`_ivf_assign` lists: each query
    expands to its ``n_probe`` lists, ``groupBy(list_id).applyInPandas``
    keeps each query's list-local top-k — an equi-join on list id, never a
    cross product — and one global window ranks. Returns (query_id,
    neighbor_id, score, rnk)."""
    _, probe, score_group = _ivf_fns(centroids, n_probe, k, score)
    q = _keyed_vectors(queries, vec_col, id=query_id).mapInPandas(
        probe, "id bigint, v array<double>, list_id int"
    )
    tagged = q.withColumn("side", F.lit("q")).unionByName(
        lists.withColumn("side", F.lit("c")), allowMissingColumns=True
    )
    scored = tagged.groupBy("list_id").applyInPandas(
        score_group, f"query_id bigint, neighbor_id bigint, score {score_type}"
    )
    return _rank(scored, k, "query_id", "neighbor_id")


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    train_cap: int = 4096,
    query_id: str = "vec_id",
    cand_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k via an inverted-file index.

    Structure: (1) train centroids with k-means on a deterministic bounded
    sample; (2) search them as :func:`ivf_fixed_topk` does — every
    candidate joins the list of its max-COSINE centroid (the k-means
    itself runs in L2), each query probes its ``n_probe`` highest-cosine
    lists, a per-list numpy kernel keeps each query's list-local top-k,
    and one global window ranks. The expensive compare is list-local — the
    same equi-join-on-list-id shape faiss shards across machines — so cost
    scales with corpus/n_centroids × n_probe, not the full cross product.

    Exactness contract: with ``n_probe == n_centroids`` the scored set is
    the whole corpus and the kernel cosine is the ``_seq_cosine_fns``
    IEEE sequence with (sim desc, id asc) tie-breaks — output is
    BIT-identical to ``brute_force_topk`` regardless of where k-means put
    the centroids, which is what lets the trained path carry the exact
    oracle (s04) while partial probing stays a recall-tested
    approximation. An empty candidate table yields an empty result.
    """
    # orderBy before limit → TakeOrdered: the training sample is the same
    # rows regardless of partitioning/scan order (a bare limit() samples
    # whatever partition responds first, making centroids run-dependent)
    sample = (
        candidates.select(
            F.col(cand_id).alias("k"), _as_double(F.col(vec_col)).alias("v")
        )
        .orderBy("k")
        .limit(train_cap)
        .collect()
    )
    if not sample:
        return candidates.sparkSession.createDataFrame(
            [], "query_id bigint, neighbor_id bigint, sim double, rnk int"
        )
    cents = _train_centroids_np([r["v"] for r in sample], n_centroids)
    return ivf_fixed_topk(
        queries,
        candidates,
        cents.tolist(),
        k=k,
        n_probe=n_probe,
        query_id=query_id,
        cand_id=cand_id,
        vec_col=vec_col,
    )


def ivf_fixed_topk(
    queries: DataFrame,
    candidates: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    n_probe: int = 4,
    query_id: str = "vec_id",
    cand_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-k with a caller-supplied (fixed) coarse quantizer.

    The trained path (:func:`ivf_topk`) learns centroids with k-means, which
    makes its output SQL-irreproducible; real systems train the quantizer
    offline anyway (faiss ships index factories exactly so the quantizer is
    an *input*). This variant takes the centroids as literals, so every
    stage is deterministic and the whole operator is oracle-checkable:

    - assignment: each candidate joins the inverted list of its
      max-cosine centroid (ties → lower centroid id);
    - probing: each query expands to its ``n_probe`` highest-cosine
      centroids (one row per probed list);
    - scoring: cosine within probed lists only → equi-join on list id,
      never a cross product; each list keeps its queries' local top-k and
      one global window ranks.

    All three stages are the inverted-list kernels of :func:`_ivf_fns`,
    whose dot/norm accumulation is dimension-sequential (a j-loop of
    vectorized adds) — the exact IEEE sequence of the DuckDB oracle's
    ``list_cosine_similarity`` (proven bit-exact by s01/e01/e02), so
    assignment, probing, and ranking agree with
    :func:`ivf_fixed_oracle_sql` bit-for-bit while running ~10× faster
    than the interpreted JVM-HOF fold this replaced (higher-order lambdas
    are never codegen'd; K centroids × D dims per row adds up).
    """
    lists = _ivf_assign(candidates, centroids, cand_id, vec_col)
    ranked = _ivf_search(
        queries, lists, centroids, k, n_probe, _scorer_fns("cosine"), "double",
        query_id, vec_col,
    )
    return ranked.select("query_id", "neighbor_id", F.round("score", 4).alias("sim"), "rnk")


def _centroids_sql(centroids: list[list[float]]) -> str:
    """The literal ``VALUES`` rows (cid, DOUBLE[] c) of a coarse quantizer."""
    return ", ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(centroids)
    )


def ivf_fixed_oracle_sql(
    centroids: list[list[float]],
    k: int = 5,
    n_probe: int = 4,
    query_pred: str = "vec_id < 10",
) -> str:
    """DuckDB SQL reproducing :func:`ivf_fixed_topk` exactly — centroids are
    literal rows, assignment/probing rank by the same bit-exact
    ``list_cosine_similarity`` with the same centroid-id tie-break."""
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    cents(cid, c) AS (VALUES {_centroids_sql(centroids)}),
    assign AS (
      SELECT vec_id, e, cid,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY list_cosine_similarity(e, c) DESC, cid)
               AS rk
      FROM v CROSS JOIN cents),
    cand AS (SELECT vec_id, e, cid FROM assign WHERE rk = 1),
    probe AS (SELECT vec_id, e, cid FROM assign
              WHERE rk <= {n_probe} AND {query_pred}),
    pairs AS (
      SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(p.e, c.e) AS sim
      FROM probe p JOIN cand c ON p.cid = c.cid AND p.vec_id <> c.vec_id),
    ranked AS (
      SELECT query_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rnk
      FROM pairs)
    SELECT query_id, neighbor_id, ROUND(sim, 4) AS sim, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= {k}
    """


def exact_neardup_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_vectors: int = EXACT_PATH_MAX_VECTORS,
) -> DataFrame:
    """Exact all-pairs cosine near-dup pairs (id_a < id_b, sim >= threshold).

    Kernel shape: the full (normalized-by-hand) vector matrix rides into a
    numpy ``mapInPandas`` closure (a flat index, faiss-style — a few MB up
    to ~100k vectors); each Arrow batch multiplies against it and emits only
    surviving pairs. Replaces the interpreted JVM HOF cosine over the N²/2
    broadcast join, which at sf0.1 (5k vectors, 12.5M pairs) costs ~60s vs
    ~2s here. Past ``max_vectors`` (default ~100k) the guard raises
    :class:`ExactPathScaleError` pointing at the LSH-bucketed
    :func:`bucketed_neardup_pairs` / e02 instead — this is the exact
    correctness baseline, like s01 for top-k.

    Floating-point contract: dot products and norms accumulate
    dimension-by-dimension (vectorized adds in a j-loop) — the left-to-right
    IEEE sequence of the DuckDB oracle's ``list_cosine_similarity``.
    """
    rows = _collect_guarded(
        df.select(F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")),
        max_vectors,
        "exact_neardup_pairs",
        "bucketed_neardup_pairs",
    )
    all_ids = [r["id"] for r in rows]
    all_vecs = [list(r["v"]) for r in rows]
    thr = float(threshold)

    seq_cos = _seq_cosine_fns()  # the module's one bit-exact cosine kernel

    def kernel(batches):
        import numpy as np_w
        import pandas as pd_w

        cm = np_w.asarray(all_vecs, dtype=np_w.float64)  # (N, D)
        cids = np_w.asarray(all_ids)
        for pdf in batches:
            if not len(pdf):
                continue
            bm = np_w.array(list(pdf["v"]), dtype=np_w.float64)  # (B, D)
            bids = pdf["id"].to_numpy()
            sims = seq_cos(bm, cm)
            keep_b, keep_c = np_w.nonzero(
                (sims >= thr) & (bids[:, None] < cids[None, :])
            )
            yield pd_w.DataFrame(
                {
                    "id_a": bids[keep_b],
                    "id_b": cids[keep_c],
                    "sim": np_w.round(sims[keep_b, keep_c], 4),
                }
            )

    spark = df.sparkSession
    src = df.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
    ).repartition(spark.sparkContext.defaultParallelism)
    return src.mapInPandas(kernel, "id_a bigint, id_b bigint, sim double")


def bucketed_neardup_oracle_sql(
    threshold: float, n_planes: int = 4, dim: int = 64
) -> str:
    """DuckDB SQL reproducing :func:`bucketed_neardup_pairs` exactly: the
    hyperplanes are deterministic literals (LCG — see :func:`_hyperplanes`),
    bucket assignment is a sign-pattern over literal dot products, and the
    per-bucket kernel accumulates dimension-sequentially, i.e. in
    ``list_cosine_similarity``'s exact IEEE order."""
    bucket = _lsh_bucket_sql(dim, n_planes)
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    b AS (SELECT vec_id, e, ({bucket}) AS bucket FROM v)
    SELECT a.vec_id AS id_a, bb.vec_id AS id_b,
           ROUND(list_cosine_similarity(a.e, bb.e), 4) AS sim
    FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
    WHERE list_cosine_similarity(a.e, bb.e) >= {threshold}
    """


def lsh_topk_oracle_sql(
    k: int = 5,
    n_planes: int = 4,
    dim: int = 64,
    query_pred: str = "vec_id < 10",
) -> str:
    """DuckDB SQL reproducing :func:`lsh_topk` exactly — the bucketing uses
    the same literal hyperplanes and the JVM cosine fold equals
    ``list_cosine_similarity``'s summation order, so even the approximate
    path is deterministic and oracle-checkable."""
    bucket = _lsh_bucket_sql(dim, n_planes)
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    b AS (SELECT vec_id, e, ({bucket}) AS bucket FROM v),
    q AS (SELECT * FROM b WHERE {query_pred}),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(q.e, c.e) AS sim
      FROM q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id),
    ranked AS (
      SELECT query_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rnk
      FROM pairs)
    SELECT query_id, neighbor_id, ROUND(sim, 4) AS sim, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= {k}
    """


# ---------------------------------------------------------------------------
# Product quantization (PQ) with asymmetric distance computation (ADC)
# ---------------------------------------------------------------------------


def pq_codebook(
    m_sub: int = 8, k_codes: int = 16, subdim: int = 8
) -> list[list[list[float]]]:
    """Deterministic PQ codebook: ``m_sub`` subspaces x ``k_codes`` codewords
    x ``subdim`` dims. Real systems train codebooks offline with k-means
    (faiss ``IndexPQ``); like :func:`ivf_fixed_topk`'s quantizer, the
    codebook here is an *input*, generated from a Knuth-multiplicative
    integer lattice mapped onto exact dyadic rationals (n/2048 and 0.25 are
    exact doubles), so the identical values are reproducible inside a SQL
    oracle with integer arithmetic alone — no RNG, no transcendentals."""
    cb = []
    for s in range(m_sub):
        rows = []
        for j in range(k_codes):
            row = []
            for d in range(subdim):
                idx = (s * k_codes + j) * subdim + d
                row.append(((idx * 2654435761) % 1024) / 2048.0 - 0.25)
            rows.append(row)
        cb.append(rows)
    return cb


def pq_topk(
    queries: DataFrame,
    candidates: DataFrame,
    codebook: list[list[list[float]]],
    k: int = 5,
    query_id: str = "vec_id",
    cand_id: str = "vec_id",
    vec_col: str = "embedding",
    max_vectors: int = EXACT_PATH_MAX_VECTORS,
) -> DataFrame:
    """PQ-ADC top-k: quantize candidates to ``m_sub`` byte codes, score with
    per-query lookup tables — faiss ``IndexPQ.search`` re-expressed on
    Spark.

    Plan shape: the probe scan (:func:`_probe_scan_topk`) — the (small,
    guarded) query set rides into one ``mapInPandas`` kernel over the
    candidate table, where each Arrow batch builds the per-query LUTs
    ``lut[s][j] = dist(q_s, codebook[s][j])``, encodes its candidates
    (argmin over codewords per subspace, ties -> lower code id), gathers
    LUT entries, and emits only its per-query top-k by the negated ADC —
    the full-precision vectors never leave the scan. At
    100 TB the candidate side streams: codes are M bytes per vector vs
    4D bytes raw (32x compression at D=64, M=8), which is the entire
    point of PQ. Compose with :func:`ivf_fixed_topk`'s coarse quantizer
    for IVFPQ when even scanning codes is too much.

    Determinism contract: subspace distances accumulate
    dimension-sequentially (the module's j-loop IEEE sequence, equal to a
    left-associative ``+`` chain in SQL), then are floored to integer
    nano-units (``floor(dist * 1e9)``) BEFORE the cross-subspace sum — so
    the ADC score is an int64 whose summation order is free, immune to the
    float-associativity drift that plagues cross-engine aggregation. The
    oracle (:func:`pq_oracle_sql`) reproduces encode, LUT, and ranking
    bit-for-bit; ties rank by neighbor_id ascending.
    """
    ranked = _probe_scan_topk(
        queries,
        candidates,
        vec_col,
        k,
        _scorer_fns("adc", codebook),
        probe_keys={"query_id": (query_id, "bigint")},
        cand_keys={"neighbor_id": (cand_id, "bigint")},
        max_vectors=max_vectors,
        op="pq_topk",
        alternative="lsh_topk",
        score_type="bigint",
    )
    return ranked.select("query_id", "neighbor_id", (-F.col("score")).alias("adc_dist"), "rnk")


def pq_oracle_sql(
    m_sub: int = 8,
    k_codes: int = 16,
    subdim: int = 8,
    k: int = 5,
    query_pred: str = "vec_id < 10",
) -> str:
    """DuckDB SQL reproducing :func:`pq_topk` with the
    :func:`pq_codebook` lattice — codebook from integer arithmetic, subspace
    distances as a left-associative ``+`` chain (the kernel's j-loop IEEE
    sequence), ADC as an order-free BIGINT sum of floored nano-unit
    distances, ties by code id then neighbor_id."""
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    {_pq_cte_sql(m_sub, k_codes, subdim, query_pred)},
    scores AS (
      SELECT ql.query_id, c.vec_id AS neighbor_id,
             CAST(SUM(ql.idist) AS BIGINT) AS adc_dist
      FROM codes c JOIN qlut ql ON ql.s = c.s AND ql.j = c.code
      WHERE c.vec_id != ql.query_id
      GROUP BY 1, 2)
    {adc_topk_sql(k)}
    """


def adc_topk_sql(k: int) -> str:
    """The ranking tail of the PQ/IVFPQ oracles: the ``k`` smallest
    ``adc_dist`` per query from a ``scores(query_id, neighbor_id,
    adc_dist)`` CTE, ties by ``neighbor_id``, as (query_id, neighbor_id,
    adc_dist, rnk)."""
    return f"""SELECT query_id, neighbor_id, adc_dist, CAST(rnk AS INT) AS rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY adc_dist ASC, neighbor_id ASC) AS rnk
      FROM scores) WHERE rnk <= {k}"""


def _pq_cte_sql(m_sub: int, k_codes: int, subdim: int, query_pred: str) -> str:
    """The PQ CTEs over ``v`` = (vec_id, DOUBLE[] v): ``cbook`` (the
    :func:`pq_codebook` lattice from integer arithmetic), ``dists``
    (subspace distances as a left-associative ``+`` chain — the kernel's
    j-loop IEEE sequence), ``codes`` (argmin codeword, ties by code id) and
    ``qlut`` (the probes' floored nano-unit lookup tables)."""
    terms = " + ".join(
        f"(v[s*{subdim}+{d + 1}]-cw[{d + 1}])*(v[s*{subdim}+{d + 1}]-cw[{d + 1}])"
        for d in range(subdim)
    )
    return f"""cbook AS (
      SELECT CAST(s AS INT) AS s, CAST(j AS INT) AS j,
             list_transform(range({subdim}),
                            d -> (((s*{k_codes}+j)*{subdim}+d) * 2654435761)
                                 % 1024 / 2048.0 - 0.25) AS cw
      FROM range({m_sub}) t1(s), range({k_codes}) t2(j)),
    dists AS (SELECT vec_id, s, j, {terms} AS dist FROM v, cbook),
    codes AS (
      SELECT vec_id, s, j AS code FROM (
        SELECT vec_id, s, j,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                  ORDER BY dist ASC, j ASC) AS rn
        FROM dists) WHERE rn = 1),
    qlut AS (
      SELECT vec_id AS query_id, s, j, CAST(floor(dist * 1e9) AS BIGINT) AS idist
      FROM dists WHERE {query_pred})"""


def _pq_fns(codebook):
    """Factory for the PQ worker kernels (pickled by value into worker
    closures, like :func:`_seq_cosine_fns`):

    - ``encode(mat)`` → (N, M) codes: per subspace the argmin codeword, the
      first minimum, so the lowest code id on ties;
    - ``adc(qm, codes)`` → (Q, N) int64 asymmetric distances: per query a
      lookup table of subspace distances floored to integer nano-units
      (``floor(dist * 1e9)``), gathered by code and summed — an integer sum
      whose order is free, so the score is exact across engines.

    Subspace squared-L2 distances accumulate dimension-sequentially — the
    exact IEEE sequence of the oracle's left-associative ``+`` chain."""
    import numpy as np

    cbm = np.asarray(codebook, dtype=np.float64)  # (M, K, SUB)
    m_sub, k_codes, subdim = cbm.shape

    def subdists(mat, s):
        o = s * subdim
        acc = np.zeros((mat.shape[0], k_codes), dtype=np.float64)
        for d in range(subdim):
            diff = mat[:, o + d : o + d + 1] - cbm[s][None, :, d]
            acc = acc + diff * diff
        return acc

    def encode(mat):
        return np.stack([subdists(mat, s).argmin(axis=1) for s in range(m_sub)], axis=1)

    def adc(qm, codes):
        out = np.zeros((len(qm), len(codes)), dtype=np.int64)
        for s in range(m_sub):
            ilut = np.floor(subdists(qm, s) * 1e9).astype(np.int64)  # (Q, K)
            out += ilut[:, codes[:, s]]
        return out

    return encode, adc


def ivfpq_encode(
    candidates: DataFrame,
    centroids: list[list[float]],
    codebook: list[list[list[float]]],
    cand_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The ENCODE stage of the IVFPQ index: one Arrow pass over candidates
    emits ``(id, list_id, codes)`` — coarse max-cosine list assignment +
    PQ code per subspace. The full-precision vector dies here; what the
    index persists is M bytes of code per vector. This is the table a
    vector store writes once and appends daily batches to (s16)."""
    return _ivf_assign(candidates, centroids, cand_id, vec_col, codebook)


def ivfpq_search_encoded(
    queries: DataFrame,
    encoded: DataFrame,
    centroids: list[list[float]],
    codebook: list[list[list[float]]],
    k: int = 5,
    n_probe: int = 4,
    query_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The SEARCH stage of the IVFPQ index over an already-encoded
    ``(id, list_id, codes)`` table (e.g. read back from the persisted
    inverted lists): queries expand to ``n_probe`` (id, vec, list) rows;
    scoring is ``groupBy(list_id).applyInPandas`` — an equi-join on list
    id, never a cross product, with each group building its queries' LUTs
    locally (8x16 doubles per query — nothing broadcast, nothing
    driver-side)."""
    ranked = _ivf_search(
        queries,
        encoded.select("id", "list_id", "codes"),
        centroids,
        k,
        n_probe,
        _scorer_fns("adc", codebook),
        "bigint",
        query_id,
        vec_col,
    )
    return ranked.select("query_id", "neighbor_id", (-F.col("score")).alias("adc_dist"), "rnk")


def ivfpq_topk(
    queries: DataFrame,
    candidates: DataFrame,
    centroids: list[list[float]],
    codebook: list[list[list[float]]],
    k: int = 5,
    n_probe: int = 4,
    query_id: str = "vec_id",
    cand_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFPQ top-k (faiss ``IVFx,PQy`` with ``by_residual=False``): coarse
    quantizer prunes WHICH candidates are scored (probed inverted lists
    only), PQ-ADC decides HOW each survivor is scored (integer LUT
    gathers over 8-byte codes). The two indexes this composes —
    :func:`ivf_fixed_topk`'s max-cosine assignment and :func:`pq_topk`'s
    nano-unit ADC — are each bit-exact against their oracles, so the
    composition is too.

    The stages are :func:`ivfpq_encode` and :func:`ivfpq_search_encoded`
    — the inverted-list path with PQ codes as the list payload; s16
    persists the encode output as a partitioned inverted-list table and
    appends daily batches to it.
    At 100 TB this is the faiss billion-scale recipe verbatim: prune
    lists, scan codes.
    """
    encoded = ivfpq_encode(
        candidates, centroids, codebook, cand_id=cand_id, vec_col=vec_col
    )
    return ivfpq_search_encoded(
        queries,
        encoded,
        centroids,
        codebook,
        k=k,
        n_probe=n_probe,
        query_id=query_id,
        vec_col=vec_col,
    )


def ivfpq_scores_cte_sql(
    centroids: list[list[float]],
    m_sub: int = 8,
    k_codes: int = 16,
    subdim: int = 8,
    n_probe: int = 4,
    query_pred: str = "vec_id < 10",
) -> str:
    """The CTE chain of :func:`ivfpq_oracle_sql` up to ``scores`` =
    (query_id, neighbor_id, adc_dist), with ``v`` = (vec_id, DOUBLE[] v)
    also in scope — reusable by composite oracles (s12's exact-refine
    stage re-ranks the same candidate set)."""
    return f"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cents(cid, c) AS (VALUES {_centroids_sql(centroids)}),
    ass AS (
      SELECT vec_id, v, cid,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY list_cosine_similarity(v, c) DESC, cid)
               AS rk
      FROM v CROSS JOIN cents),
    cand_list AS (SELECT vec_id, cid FROM ass WHERE rk = 1),
    probe AS (SELECT vec_id, cid FROM ass WHERE rk <= {n_probe} AND {query_pred}),
    {_pq_cte_sql(m_sub, k_codes, subdim, query_pred)},
    pairs AS (
      SELECT p.vec_id AS query_id, cl.vec_id AS neighbor_id
      FROM probe p JOIN cand_list cl ON p.cid = cl.cid AND p.vec_id <> cl.vec_id),
    scores AS (
      SELECT pr.query_id, pr.neighbor_id, CAST(SUM(ql.idist) AS BIGINT) AS adc_dist
      FROM pairs pr
      JOIN codes c ON c.vec_id = pr.neighbor_id
      JOIN qlut ql ON ql.query_id = pr.query_id AND ql.s = c.s AND ql.j = c.code
      GROUP BY 1, 2)"""


def ivfpq_oracle_sql(
    centroids: list[list[float]],
    m_sub: int = 8,
    k_codes: int = 16,
    subdim: int = 8,
    k: int = 5,
    n_probe: int = 4,
    query_pred: str = "vec_id < 10",
) -> str:
    """DuckDB SQL reproducing :func:`ivfpq_topk`: the ivf_fixed assignment
    CTEs (literal centroids, max-cosine, cid tie-break) restrict which
    pairs the pq CTEs (lattice codebook, nano-unit integer ADC) score."""
    cte = ivfpq_scores_cte_sql(
        centroids,
        m_sub=m_sub,
        k_codes=k_codes,
        subdim=subdim,
        n_probe=n_probe,
        query_pred=query_pred,
    )
    return f"""
    WITH {cte}
    {adc_topk_sql(k)}
    """


def mmr_topk(
    emb: DataFrame,
    query_vec_id: int = 0,
    k: int = 3,
    lam: float = 0.5,
    pool: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance diversified top-k: greedily select
    argmax lam*rel(c) - (1-lam)*max_{s in selected} cos(c, s) from a
    ``pool``-sized relevance candidate set.

    Returns (rank, vec_id, relevance, mmr_score) with RAW doubles (callers
    round). Every cosine is the fold-order-matched :func:`cosine` (bit-equal
    to DuckDB ``list_cosine_similarity``) and every argmax tie-breaks on
    vec_id, so the selection is deterministic across engines.

    Scale: the selected set stays a <=k-row broadcast; the only corpus-wide
    work is the candidate pool. Here the pool is brute-force relevance
    (baseline); at 100 TB swap in the s02/s06 ANN candidates — the MMR
    re-rank itself is O(k * pool) regardless of corpus size.
    """
    v = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("e"),
    )
    qv = v.filter(F.col("vec_id") == query_vec_id).select(F.col("e").alias("qe"))
    w_rel = Window.orderBy(F.desc("rel"), F.asc("vec_id"))
    cand = (
        v.filter(F.col("vec_id") != query_vec_id)
        .crossJoin(F.broadcast(qv))
        .withColumn("rel", cosine(F.col("e"), F.col("qe")))
        .withColumn("rn", F.row_number().over(w_rel))
        .filter(F.col("rn") <= pool)
        .select("vec_id", "e", "rel")
    )
    w_score = Window.orderBy(F.desc("score"), F.asc("vec_id"))
    first = (
        cand.withColumn("rn", F.row_number().over(w_rel))
        .filter(F.col("rn") == 1)
        .select(
            F.lit(1).cast("int").alias("rank"),
            "vec_id",
            "e",
            "rel",
            F.col("rel").alias("score"),
        )
    )
    selected = first
    for step in range(2, k + 1):
        sel_e = selected.select(
            F.col("vec_id").alias("s_id"), F.col("e").alias("s_e")
        )
        pen = (
            cand.join(sel_e.select("s_id"), cand["vec_id"] == F.col("s_id"), "left_anti")
            .crossJoin(F.broadcast(sel_e))
            .withColumn("sim", cosine(F.col("e"), F.col("s_e")))
            .groupBy("vec_id")
            .agg(F.max("sim").alias("pen"))
        )
        nxt = (
            cand.join(pen, "vec_id")
            .withColumn("score", lam * F.col("rel") - (1 - lam) * F.col("pen"))
            .withColumn("rn", F.row_number().over(w_score))
            .filter(F.col("rn") == 1)
            .select(
                F.lit(step).cast("int").alias("rank"),
                "vec_id",
                "e",
                "rel",
                "score",
            )
        )
        selected = selected.unionByName(nxt)
    return selected.select(
        "rank",
        "vec_id",
        F.col("rel").alias("relevance"),
        F.col("score").alias("mmr_score"),
    )


def hard_negative_topk(
    anchors: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    anchor_id: str = "vec_id",
    cand_id: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    max_anchors: int = 4096,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor, the
    top-k most-similar candidates with a DIFFERENT label (and a different
    id) — the near-miss negatives that make embedding models learn, per the
    standard dense-retrieval recipe (mine the highest-scoring wrong answers,
    not random ones).

    Plan shape: the probe scan of :func:`brute_force_topk`
    (:func:`_probe_scan_topk`) with the anchors as probes — small by
    construction (a training batch, guarded by ``max_anchors``) — and
    same-label pairs excluded next to self-matches, so the one shuffle
    (the final per-anchor window) moves ~k·A rows per partition. At 100 TB
    the corpus side streams map-side; mining for MORE anchors shards the
    anchor set across repeated passes (or swaps in the s02/s06 ANN
    candidates as the pool).

    Floating-point contract: the kernel is :func:`_seq_cosine_fns`'s
    dimension-by-dimension accumulation — the exact IEEE sequence of DuckDB
    ``list_cosine_similarity`` — so scores bit-match the oracle.
    """
    ranked = _probe_scan_topk(
        anchors,
        candidates,
        vec_col,
        k,
        _scorer_fns("cosine"),
        probe_keys={"anchor_id": (anchor_id, "bigint"), "anchor_label": (label_col, "int")},
        cand_keys={"negative_id": (cand_id, "bigint"), "negative_label": (label_col, "int")},
        max_vectors=max_anchors,
        op="hard_negative_topk",
        alternative="per-batch anchor sharding (mine k negatives per training batch)",
        exclude=(("anchor_label", "negative_label"),),
    )
    return ranked.select(
        "anchor_id",
        "anchor_label",
        "negative_id",
        "negative_label",
        F.round("score", 4).alias("sim"),
        "rnk",
    )


def lsh_bucket_occupancy(
    df: DataFrame,
    n_planes: int,
    dim: int = 64,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-bucket occupancy audit for the hyperplane-LSH partitioner — the
    pre-flight check the 100× scale experiment says to run BEFORE the
    bucketed kernel: per bucket, the member count, the candidate-pair work
    C(occ, 2) the kernel would enumerate, and the occ²·8-byte similarity
    matrix a task would materialize. One groupBy on the bucket id (the
    exact partitioning the kernel itself shuffles on); if any
    ``est_task_bytes`` is above budget, raise ``n_planes`` per
    :func:`recommended_lsh_planes` instead of discovering the 5 GB task
    matrix in production.
    """
    planes = _hyperplanes(dim, n_planes)
    v = df.select(_as_double(F.col(vec_col)).alias("v")).withColumn(
        "bucket", lsh_bucket(F.col("v"), planes)
    )
    occ = v.groupBy("bucket").agg(F.count(F.lit(1)).alias("occupancy"))
    return occ.select(
        F.col("bucket").cast("bigint").alias("bucket"),
        F.col("occupancy").cast("bigint").alias("occupancy"),
        # exact integer div (not floor-of-double-division): above ~2^27
        # occupancy the double product loses ulps and floor can be off by
        # one vs the oracle's exact bigint // — the huge-bucket regime
        # this audit exists to flag
        F.expr("occupancy * (occupancy - 1) div 2")
        .cast("bigint")
        .alias("candidate_pairs"),
        (F.col("occupancy") * F.col("occupancy") * 8)
        .cast("bigint")
        .alias("est_task_bytes"),
    )


def lsh_occupancy_oracle_sql(n_planes: int, dim: int = 64) -> str:
    """DuckDB SQL twin of :func:`lsh_bucket_occupancy` — same literal LCG
    hyperplanes and sign-pattern bucket id as
    :func:`bucketed_neardup_oracle_sql`."""
    bucket = _lsh_bucket_sql(dim, n_planes)
    return f"""
    WITH v AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    b AS (SELECT ({bucket}) AS bucket FROM v),
    occ AS (SELECT CAST(bucket AS BIGINT) AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS occupancy
            FROM b GROUP BY bucket)
    SELECT bucket, occupancy,
           CAST(occupancy * (occupancy - 1) // 2 AS BIGINT) AS candidate_pairs,
           CAST(occupancy * occupancy * 8 AS BIGINT) AS est_task_bytes
    FROM occ
    """


# ---------------------------------------------------------------------------
# Projection-tree ANN (annoy-family): balanced median-split space partition
# ---------------------------------------------------------------------------

def projection_plane(level: int, dim: int = 64) -> list[int]:
    """Deterministic integer projection direction for one tree level:
    components in [-1000, 1000] derived from md5 bytes (the same
    public-hash trick as ``sampling.hash_bucket`` / t35's weight table),
    inlined as literals on both engines so the plane needs no runtime
    hashing."""
    import hashlib

    out = []
    for i in range(dim):
        b = int(hashlib.md5(f"rp{level}|{i}|s15".encode()).hexdigest()[:2], 16)
        out.append((b * 157) % 2001 - 1000)
    return out


_PT_QUANT = 1000  # per-component quantization: iv_i = floor(x_i * 1000)
_PT_COARSE = 4096  # split thresholds live on floor(proj / 4096)


def _pt_int_vec(vec: Column) -> Column:
    """Integer-quantized copy of a float vector: floor(x * 1000) per
    component. Every downstream dot product is then an exact bigint sum —
    order-free, so no IEEE accumulation-order pact with the oracle is
    needed anywhere in this operator."""
    return F.transform(
        vec, lambda x: F.floor(x.cast("double") * _PT_QUANT).cast("bigint")
    )


def _pt_int_dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def projection_tree_topk(
    df: DataFrame,
    levels: int = 3,
    k: int = 5,
    query_pred: Column | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Projection-tree ANN (the annoy / RP-tree family, Dasgupta & Freund
    2008): recursively split the corpus at the MEDIAN of a projection, so
    leaves stay balanced no matter how the data is distributed — the
    property hyperplane LSH (s02/e02) cannot promise. ``levels`` median
    splits produce ``2^levels`` near-equal leaves; each query searches only
    its own leaf (annoy's search for indexed points).

    Spark-first plan, per level:
    - projection: exact bigint dot of the quantized vector against a fixed
      literal direction (map-side, no shuffle);
    - median: q101's scalable census walk — group by (node,
      floor(proj/4096)) first (partial-agg collapse to a bounded census:
      |proj| <= dim·2e6 keeps the coarse domain under ~64k values), then
      one prefix-sum window over the tiny census, NEVER a per-node sort of
      the corpus;
    - split: broadcast-join the <= 2^level one-row thresholds back and
      append '0'/'1' to the node path.
    Each level's assignment is eagerly localCheckpoint'd (tracked), the
    repo's standard iterative-refinement posture (e07 k-means, g08 star
    contraction): without it the lazy lineage re-plans every prior level
    twice per round.

    Search: queries (already assigned to leaves) equi-join their leaf's
    vectors — candidate work is Q · N/2^levels, bounded by leaf size, never
    Q · N — then exact integer-dot top-k with (score DESC, id ASC)
    tie-break. Output carries the leaf path and leaf occupancy so the
    balance property is itself oracle-checked.
    """
    from aws_data_engineering_spark.operators.checkpoints import (
        release_checkpoints,
        tracked_local_checkpoint,
    )

    if query_pred is None:
        query_pred = F.col(id_col) < 10
    spark = df.sparkSession
    assigned = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        _pt_int_vec(F.col(vec_col)).alias("iv"),
        F.lit("").alias("leaf"),
        query_pred.alias("is_q"),
    )
    own: set[int] = set()
    try:
        for level in range(levels):
            plane = F.array(*[F.lit(h) for h in projection_plane(level, dim)])
            a = assigned.withColumn(
                "cp",
                F.floor(_pt_int_dot(F.col("iv"), plane) / F.lit(_PT_COARSE)).cast(
                    "bigint"
                ),
            )
            a = tracked_local_checkpoint(a, own)
            census = a.groupBy("leaf", "cp").agg(F.count(F.lit(1)).alias("cnt"))
            wcum = Window.partitionBy("leaf").orderBy("cp")
            wall = Window.partitionBy("leaf")
            walk = census.select(
                "leaf",
                "cp",
                F.sum("cnt").over(wcum).alias("cum"),
                F.sum("cnt").over(wall).alias("n"),
                (F.sum("cnt").over(wcum) - F.col("cnt")).alias("prev"),
            )
            pos = F.floor((F.col("n") + 1) / 2).cast("bigint")
            med = walk.groupBy("leaf").agg(
                F.max(
                    F.when((F.col("prev") < pos) & (F.col("cum") >= pos), F.col("cp"))
                ).alias("med_cp")
            )
            assigned = (
                a.join(F.broadcast(med), "leaf")
                .withColumn(
                    "leaf",
                    F.concat(
                        F.col("leaf"),
                        F.when(F.col("cp") <= F.col("med_cp"), F.lit("0")).otherwise(
                            F.lit("1")
                        ),
                    ),
                )
                .select("id", "iv", "leaf", "is_q")
            )
        assigned = tracked_local_checkpoint(assigned, own)
        leaf_n = assigned.groupBy("leaf").agg(
            F.count(F.lit(1)).cast("bigint").alias("leaf_n")
        )
        qs = assigned.filter(F.col("is_q")).select(
            F.col("id").alias("query_id"), F.col("iv").alias("qv"), "leaf"
        )
        pairs = qs.join(assigned, "leaf").filter(F.col("query_id") != F.col("id"))
        scored = pairs.select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            "leaf",
            _pt_int_dot(F.col("qv"), F.col("iv")).alias("score_units"),
        )
        out = (
            _rank(scored, k, "query_id", "neighbor_id", "score_units")
            .join(F.broadcast(leaf_n), "leaf")
            .select("query_id", "neighbor_id", "score_units", "rnk", "leaf", "leaf_n")
        )
        # materialize the result BEFORE the finally releases the per-level
        # blocks its plan still references (the qdigest pattern: the final
        # block stays until GC, exactly the tracked intermediates die)
        return out.localCheckpoint(eager=True)
    finally:
        release_checkpoints(spark, own)


def projection_tree_oracle_sql(
    levels: int = 3,
    k: int = 5,
    query_pred: str = "vec_id < 10",
    dim: int = 64,
) -> str:
    """DuckDB SQL twin of :func:`projection_tree_topk`: the same literal
    integer planes, the same floor-quantized vectors, medians via explicit
    row-rank (value at ascending rank (n+1)//2 — identical to the census
    walk's pick), the same '0'/'1' path building, and the same exact
    bigint-dot ranking. Every per-level CTE is MATERIALIZED so DuckDB does
    not re-inline the whole prefix per level (the q100 lesson)."""
    iv = (
        "list_transform(e, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
    )
    parts = [
        "WITH v AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, "
        f"{iv} AS iv, '' AS leaf FROM embeddings WHERE embedding IS NOT NULL)"
    ]
    prev = "v"
    for level in range(levels):
        plane = projection_plane(level, dim)
        lits = ", ".join(str(h) for h in plane)
        parts.append(
            f"p{level} AS MATERIALIZED (\n"
            f"  SELECT vec_id, e, iv, leaf,\n"
            f"         CAST(FLOOR(CAST(list_dot_product(iv, [{lits}]) AS DOUBLE)"
            f" / 4096.0) AS BIGINT) AS cp\n"
            f"  FROM {prev})"
        )
        parts.append(
            f"m{level} AS (\n"
            f"  SELECT leaf, cp AS med_cp FROM (\n"
            f"    SELECT leaf, cp,\n"
            f"           ROW_NUMBER() OVER (PARTITION BY leaf ORDER BY cp) AS rk,\n"
            f"           COUNT(*) OVER (PARTITION BY leaf) AS n\n"
            f"    FROM p{level})\n"
            f"  WHERE rk = (n + 1) // 2)"
        )
        parts.append(
            f"a{level} AS MATERIALIZED (\n"
            f"  SELECT vec_id, e, iv,\n"
            f"         p.leaf || CASE WHEN p.cp <= m.med_cp THEN '0' ELSE '1' END"
            f" AS leaf\n"
            f"  FROM p{level} p JOIN m{level} m USING (leaf))"
        )
        prev = f"a{level}"
    parts.append(
        f"leaf_n AS (SELECT leaf, CAST(COUNT(*) AS BIGINT) AS leaf_n"
        f" FROM {prev} GROUP BY leaf)"
    )
    parts.append(
        f"pairs AS (\n"
        f"  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.leaf,\n"
        f"         CAST(list_dot_product(q.iv, c.iv) AS BIGINT) AS score_units\n"
        f"  FROM {prev} q JOIN {prev} c USING (leaf)\n"
        f"  WHERE ({query_pred.replace('vec_id', 'q.vec_id')})"
        f" AND q.vec_id <> c.vec_id)"
    )
    parts.append(
        "ranked AS (\n"
        "  SELECT query_id, neighbor_id, leaf, score_units,\n"
        "         ROW_NUMBER() OVER (PARTITION BY query_id\n"
        "                            ORDER BY score_units DESC, neighbor_id)"
        " AS rnk\n"
        "  FROM pairs)"
    )
    sql = ",\n".join(parts)
    return f"""
    {sql}
    SELECT query_id, neighbor_id, score_units, CAST(rnk AS INT) AS rnk,
           r.leaf, leaf_n
    FROM ranked r JOIN leaf_n USING (leaf)
    WHERE rnk <= {k}
    """
