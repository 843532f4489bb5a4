"""Deterministic mergeable sketches.

The q-digest here is the Shrivastava et al. (SenSys 2004) quantile
summary in a deterministic bottom-up variant: every stage is a plain
aggregation with no randomness and no ordering dependence, so the digest
is a pure function of the value multiset — which makes it (a) exactly
mergeable (leaf histograms sum; compression is canonical-after-merge) and
(b) oracle-checkable bit-for-bit in SQL, unlike the engine's HLL/
approx-percentile sketches whose internals are implementation-defined
(q26/q39 are rows-only for exactly that reason).

Reference repo carries no sketches (its ETL is projection/sort/stamp —
generic_load_script.py:113-148); this is engine-surface extension.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

QDIGEST_LEVELS = 19  # domain [0, 2^19): whole-dollar order totals
QDIGEST_K = 64  # compression: keep nodes with count > n // k


def qdigest_leaves(
    df: DataFrame, value: Column, levels: int = QDIGEST_LEVELS
) -> DataFrame:
    """Exact leaf histogram of the integer value clamped to [0, 2^levels):
    the MERGEABLE partial of the q-digest — leaf histograms from any data
    split sum exactly, and compressing the summed leaves equals building
    from the whole multiset (st14 streams these per micro-batch)."""
    cap = (1 << levels) - 1
    return (
        df.select(
            F.least(F.greatest(value.cast("long"), F.lit(0)), F.lit(cap)).alias("v")
        )
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def qdigest_nodes(
    df: DataFrame,
    value: Column,
    levels: int = QDIGEST_LEVELS,
    k: int = QDIGEST_K,
) -> DataFrame:
    """Build the q-digest over an integer column clamped to [0, 2^levels).

    Deterministic bottom-up rule, one partial-agg groupBy per level:
    level-0 nodes are the exact value histogram; at each level a node
    with count <= T (T = n // k) pushes its count into its parent
    (id // 2), a node with count > T is emitted into the digest; the root
    keeps the remainder unconditionally. A node only ever receives pushes
    from its two children, each <= T at push time, so every internal
    digest node holds <= 2T — which bounds the rank ambiguity of any
    query point by its <= levels straddling ancestors: rank error
    <= 2 * levels * T (the classic q-digest epsilon = O(log U / k)). Every stage is order-free aggregation, so the
    digest is a pure function of the multiset: summing two corpora's leaf
    histograms and compressing equals compressing their union (the merge
    rule, pinned by pytest).

    Returns (level, node_id, cnt, lo, hi) — [lo, hi) the node's value
    range — plus the same ``n_total`` on every row.
    """
    return qdigest_nodes_from_leaves(
        qdigest_leaves(df, value, levels), levels=levels, k=k
    )


def _compress_leaf_arrays_fn(levels: int, k: int):
    """Factory for the canonical bottom-up compression over (v, cnt)
    numpy arrays.

    The kernel is DEFINED INSIDE the factory so cloudpickle ships it BY
    VALUE with any applyInPandas closure that captures it: a module-level
    helper would be pickled by reference and require
    aws_data_engineering_spark to be importable inside the Python worker,
    which the round-driver's sys.path-based import does not guarantee
    (ModuleNotFoundError on workers when the driver runs from another
    cwd — the ``_shingle_worker_fns`` lesson from operators/dedup.py).

    The kernel returns (level, node_id, cnt) int64 arrays for the kept
    nodes plus the conservation root, and (n_total, t). Pure int64
    arithmetic — the same push/keep rule as the unrolled per-level
    groupBys this replaced, so the digest is bit-identical; the arrays
    are DOMAIN-bounded (<= 2^levels rows) regardless of corpus size,
    which is why one task may hold them.
    """

    def compress_leaf_arrays(v, c):
        import numpy as np

        n = int(c.sum())
        t = n // k
        out_lvl: list = []
        out_id: list = []
        out_cnt: list = []
        node, cnt = v, c
        for level in range(levels):
            keep = cnt > t
            if keep.any():
                out_lvl.append(
                    np.full(int(keep.sum()), level, dtype=np.int64)
                )
                out_id.append(node[keep])
                out_cnt.append(cnt[keep])
            node_p = node[~keep] >> 1  # node_id div 2 (ids non-negative)
            cnt_p = cnt[~keep]
            if node_p.size:
                uid, inv = np.unique(node_p, return_inverse=True)
                agg = np.zeros(uid.size, dtype=np.int64)
                np.add.at(agg, inv, cnt_p)
                node, cnt = uid, agg
            else:
                node, cnt = node_p, cnt_p
        kept_mass = int(sum(int(a.sum()) for a in out_cnt))
        # root by CONSERVATION (n minus the emitted mass), not by
        # aggregating the final pushed table: when every node of some
        # level clears the threshold the push chain dies early and the
        # root would go missing — while the oracle's SUM-over-empty emits
        # cnt=0 (caught by the sf0.01 drive in round 6). Pushes preserve
        # mass, so the forms agree whenever the chain survives.
        out_lvl.append(np.array([levels], dtype=np.int64))
        out_id.append(np.array([0], dtype=np.int64))
        out_cnt.append(np.array([n - kept_mass], dtype=np.int64))
        lvl = np.concatenate(out_lvl)
        nid = np.concatenate(out_id)
        cn = np.concatenate(out_cnt)
        return lvl, nid, cn, n, t

    return compress_leaf_arrays


def qdigest_nodes_from_leaves(
    leaves: DataFrame, levels: int = QDIGEST_LEVELS, k: int = QDIGEST_K
) -> DataFrame:
    """Canonical compression over a (v, cnt) leaf histogram — see
    :func:`qdigest_nodes` for the contract and invariants.

    The compression itself runs as ONE Arrow stage (applyInPandas over the
    whole histogram): the leaf table is bounded by the 2^levels domain —
    never the corpus — so a single task holds it, and the 19 per-level
    push/keep rounds become one numpy pass instead of 19 groupBy stages
    with eager checkpoints (guide §1.2/§4.2; measured 27.6s -> ~2s for
    q100 at sf0.1 on the round-11 host). Every count is int64, so the
    digest is bit-identical to the per-level-groupBy form it replaced
    (pinned by test_qdigest_merge_equals_rebuild / the q100 oracle hash).
    """

    kernel = _compress_leaf_arrays_fn(levels, k)  # captured by value

    def compress(pdf):
        import numpy as np
        import pandas as pd

        # Guard the single-task contract (VERDICT r11 #5): this stage may
        # only ever hold a DOMAIN-bounded census. A caller feeding an
        # unclamped column would ship a corpus-sized table to one task —
        # fail loudly here instead of OOMing the worker.
        if len(pdf) > (1 << levels):
            raise ValueError(
                f"q-digest census has {len(pdf)} rows > 2^{levels} — the value "
                "column fed to qdigest_leaves must be clamped to [0, 2^levels)"
            )
        v = pdf["v"].to_numpy(np.int64)
        c = pdf["cnt"].to_numpy(np.int64)
        lvl, nid, cn, n, _t = kernel(v, c)
        return pd.DataFrame(
            {
                "level": lvl.astype(np.int32),
                "node_id": nid,
                "cnt": cn,
                "lo": nid << lvl,
                "hi": (nid + 1) << lvl,
                "n_total": np.full(lvl.size, n, dtype=np.int64),
            }
        )

    return leaves.groupBy(F.lit(1).alias("_g")).applyInPandas(
        compress,
        "level int, node_id long, cnt long, lo long, hi long, n_total long",
    )


def qdigest_report_from_leaves(
    leaves: DataFrame,
    qs: tuple[float, ...],
    levels: int = QDIGEST_LEVELS,
    k: int = QDIGEST_K,
) -> DataFrame:
    """Quantile report built from the leaf histogram in ONE Arrow stage:
    per q, the rank, the (hi,lo)-walk estimate, the exact percentile, the
    achieved rank, the overshoot, the 2*levels*T bound, digest size and n.

    Fuses :func:`qdigest_nodes_from_leaves`'s compression with the rank
    walk / exact-percentile / achieved-rank joins the old qdigest_report
    ran as windows + bounded BNLJs over the digest (q100 went from a
    104-operator plan with ~25 stages to scan -> census groupBy -> one
    applyInPandas). Everything after the corpus-sized census collapse is
    bounded by the 2^levels domain, so one task holds it; all arithmetic
    is int64 except the one IEEE multiply ceil(q*n) — the same operation
    order as the Spark expressions this replaced, so results are
    bit-identical (oracle-hash-pinned for q100 and st14).
    """
    qs_t = tuple(float(q) for q in qs)
    kernel = _compress_leaf_arrays_fn(levels, k)  # captured by value

    def report(pdf):
        import math

        import numpy as np
        import pandas as pd

        # Same single-task contract guard as the compress stage (VERDICT
        # r11 #5): the census must be domain-bounded, never corpus-sized.
        if len(pdf) > (1 << levels):
            raise ValueError(
                f"q-digest census has {len(pdf)} rows > 2^{levels} — the value "
                "column fed to qdigest_leaves must be clamped to [0, 2^levels)"
            )
        v = pdf["v"].to_numpy(np.int64)
        c = pdf["cnt"].to_numpy(np.int64)
        lvl, nid, cn, n, t = kernel(v, c)
        lo = nid << lvl
        hi = (nid + 1) << lvl
        # canonical walk: nodes ordered by (hi, lo) ascending — narrower
        # ranges before the ancestors that contain them
        order = np.lexsort((lo, hi))
        hi_s, cum = hi[order], np.cumsum(cn[order])
        # exact side: leaf histogram ordered by value
        vorder = np.argsort(v, kind="stable")
        v_s, lcum = v[vorder], np.cumsum(c[vorder])
        rows = []
        for q in qs_t:
            rank = int(math.ceil(q * n))  # the one IEEE multiply
            # Clamp (ADVICE r11): a q > 1.0 yields rank > n and
            # searchsorted returns the array size — index the last node
            # instead of raising IndexError inside the Arrow worker. For
            # 0 < q <= 1 the clamp is a no-op (rank <= n = cum[-1]).
            i = min(int(np.searchsorted(cum, rank)), cum.size - 1)
            est = int(hi_s[i]) - 1
            j = min(int(np.searchsorted(lcum, rank)), lcum.size - 1)
            exact = int(v_s[j])
            # achieved rank: total leaf mass at values <= est
            a = int(np.searchsorted(v_s, est, side="right"))
            achieved = int(lcum[a - 1]) if a > 0 else 0
            rows.append(
                (q, rank, est, exact, achieved, achieved - rank,
                 2 * levels * t, int(lvl.size), n)
            )
        return pd.DataFrame(
            rows,
            columns=[
                "q", "rank", "est", "exact", "rank_achieved",
                "rank_overshoot", "rank_err_bound", "digest_size", "n_total",
            ],
        )

    return leaves.groupBy(F.lit(1).alias("_g")).applyInPandas(
        report,
        "q double, rank long, est long, exact long, rank_achieved long, "
        "rank_overshoot long, rank_err_bound long, digest_size long, "
        "n_total long",
    )


def qdigest_oracle_sql(
    levels: int = QDIGEST_LEVELS,
    k: int = QDIGEST_K,
    qs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9, 0.99),
) -> str:
    """DuckDB SQL reproducing the whole q-digest pipeline over the
    ``orders`` view bit-for-bit: 19 MATERIALIZED compression levels (the
    default CTE inlining re-executes each level's prefix — O(L^2)), the
    conservation root, the (hi,lo) rank walk, exact percentiles and the
    achieved-rank overshoot. Shared by q100 (batch) and st14 (streaming
    partial-merge — same digest by the merge==rebuild property)."""
    cap = (1 << levels) - 1
    parts = [f"""
    WITH vals AS (
      SELECT LEAST(GREATEST(CAST(FLOOR(o_totalprice) AS BIGINT), 0), {cap}) AS v
      FROM orders
    ), l0 AS MATERIALIZED (
      SELECT v AS node_id, CAST(COUNT(*) AS BIGINT) AS cnt FROM vals GROUP BY v
    ), tot AS MATERIALIZED (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n,
             CAST(SUM(cnt) AS BIGINT) // {k} AS t
      FROM l0
    )"""]
    prev = "l0"
    keeps = []
    for lvl in range(levels):
        # MATERIALIZED: inlining re-executes each level's whole prefix
        # (O(L^2) — measured 90s at sf0.01 vs ~1s materialized)
        parts.append(f""", k{lvl} AS MATERIALIZED (
      SELECT {lvl} AS level, node_id, cnt FROM {prev}, tot WHERE cnt > t
    ), p{lvl} AS MATERIALIZED (
      SELECT node_id // 2 AS node_id, CAST(SUM(cnt) AS BIGINT) AS cnt
      FROM {prev}, tot WHERE cnt <= t GROUP BY node_id // 2
    )""")
        keeps.append(f"SELECT * FROM k{lvl}")
        prev = f"p{lvl}"
    parts.append(f""", digest0 AS MATERIALIZED ({' UNION ALL '.join(keeps)}),
    root AS (
      -- conservation: root = n minus emitted mass (see sketch.py — the
      -- push chain can die early, but mass is preserved)
      SELECT {levels} AS level, CAST(0 AS BIGINT) AS node_id,
             CAST(tot.n - COALESCE((SELECT SUM(cnt) FROM digest0), 0)
                  AS BIGINT) AS cnt
      FROM tot
    ), digest AS (SELECT * FROM digest0 UNION ALL SELECT * FROM root),
    walk AS (
      SELECT level, node_id, cnt,
             node_id * (CAST(1 AS BIGINT) << level) AS lo,
             (node_id + 1) * (CAST(1 AS BIGINT) << level) AS hi
      FROM digest
    ), cum AS (
      SELECT *, CAST(SUM(cnt) OVER (ORDER BY hi, lo) AS BIGINT) AS cum FROM walk
    ), dsize AS (SELECT CAST(COUNT(*) AS BIGINT) AS digest_size FROM digest),
    qs(q) AS (VALUES {', '.join(f'({q})' for q in qs)}),
    est AS (SELECT q, CAST(CEIL(q * n) AS BIGINT) AS r FROM qs, tot),
    pick AS (
      SELECT e.q, e.r, c.hi,
             ROW_NUMBER() OVER (PARTITION BY e.q ORDER BY c.hi, c.lo) AS rn
      FROM est e JOIN cum c ON c.cum >= e.r
    ), lcum AS (
      SELECT node_id AS v, CAST(SUM(cnt) OVER (ORDER BY node_id) AS BIGINT)
               AS cum
      FROM l0
    ), exact AS (
      SELECT e.q, MIN(s.v) AS exact_v FROM est e JOIN lcum s ON s.cum >= e.r
      GROUP BY e.q
    )
    , achieved AS (
      SELECT p.q, MAX(s.cum) AS rank_achieved
      FROM pick p JOIN lcum s ON s.v <= p.hi - 1
      WHERE p.rn = 1 GROUP BY p.q
    )
    SELECT CAST(p.q AS DOUBLE) AS q, p.r AS rank, p.hi - 1 AS est,
           x.exact_v AS exact,
           a.rank_achieved,
           a.rank_achieved - p.r AS rank_overshoot,
           CAST(2 * {levels} * tot.t AS BIGINT) AS rank_err_bound,
           dsize.digest_size, tot.n AS n_total
    FROM pick p JOIN exact x USING (q) JOIN achieved a USING (q), tot, dsize
    WHERE p.rn = 1
    """)
    return "".join(parts)
