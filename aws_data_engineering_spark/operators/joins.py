"""Skew-handling join/aggregation tools.

AQE's skew-join splitting (on in our session factory) handles most skew at
runtime by splitting oversized shuffle partitions. These operators are the
*manual* tools for the cases AQE can't fix:

- ``salted_equi_join``: a single hot key whose rows exceed one executor's
  memory even after splitting — salt fans the hot key's rows across
  ``n_salts`` reducers by replicating the (small) build side per salt.
- ``two_phase_agg``: aggregation onto very few groups (e.g. a global or
  near-global rollup) where all rows of a group must meet at one reducer —
  a salted partial aggregate cuts the final shuffle to
  ``groups × n_salts`` pre-aggregated rows.

Both are algebraic rewrites — results are identical to the unsalted plan
(asserted in tests/test_joins.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_equi_join(
    skewed: DataFrame,
    small: DataFrame,
    keys: list[str],
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join where ``skewed`` has hot keys and ``small`` is modest.

    The skewed side gets a deterministic per-row salt (hash of the whole
    row — no RNG, so retries/speculative tasks agree); the small side is
    replicated ``n_salts``× via an exploded literal range. The join key
    becomes (keys..., salt): a hot key's rows now spread over ``n_salts``
    reducers instead of one. Cost: small side shuffles ``n_salts``× its
    size — which is why this is for skewed-big ⋈ modest-small, not
    big ⋈ big (there, use AQE skew splitting)."""
    salt = F.pmod(F.xxhash64(F.struct(*[F.col(c) for c in skewed.columns])), F.lit(n_salts))
    left = skewed.withColumn("__salt", salt)
    right = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumn("__salt", F.col("__salt").cast("bigint"))
    out = left.join(right, [*keys, "__salt"], how)
    return out.drop("__salt")


def two_phase_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    n_salts: int = 16,
) -> DataFrame:
    """Salted two-phase aggregation for low-cardinality groups.

    ``aggs`` maps output column → (input column, fn) with fn in
    {sum, count, min, max}: the decomposable aggregates where
    partial-then-merge is exact (avg = sum/count composed by the caller).
    Phase 1 groups by (keys, salt) — shuffle spread over ``n_salts`` ×
    groups reducers; phase 2 merges the tiny partials."""
    merge_fn = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    first_fn = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max}
    for _, (_, fn) in aggs.items():
        if fn not in merge_fn:
            raise ValueError(f"two_phase_agg supports {sorted(merge_fn)}, got {fn!r}")

    salt = F.pmod(F.xxhash64(F.struct(*[F.col(c) for c in df.columns])), F.lit(n_salts))
    partial = (
        df.withColumn("__salt", salt)
        .groupBy(*keys, "__salt")
        .agg(*[first_fn[fn](col).alias(out) for out, (col, fn) in aggs.items()])
    )
    return partial.groupBy(*keys).agg(
        *[merge_fn[fn](out).alias(out) for out, (_, fn) in aggs.items()]
    )
