"""Deduplication operators for training-data pipelines.

- exact: hash-groupBy on the raw or normalized text (one shuffle keyed by
  the dedup column; at 100 TB pre-hash to a fixed-width key so the shuffle
  carries 16 bytes/row, not the document).
- latest-by-key: window row_number — the Spark-native form of the
  reference's MERGE "update-all" semantics (SURVEY.md §2a W5).
- MinHash-LSH / SimHash / n-gram Jaccard: fuzzy near-dup, built on
  deterministic hashing so runs are reproducible across cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from aws_data_engineering_spark.operators import text as T

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Canonical-id view of exact duplicate groups: min id survives.
    Deterministic (unlike dropDuplicates) → oracle-checkable."""
    return df.groupBy(text_col).agg(
        F.min(id_col).alias("canonical_id"),
        F.count(F.lit(1)).alias("group_size"),
    )


def latest_by_key(df: DataFrame, keys: list[str], order_col: str, tiebreak: str) -> DataFrame:
    """Keep the newest row per key — the engine's native 'upsert collapse'.
    One shuffle keyed on ``keys``; AQE splits skewed keys."""
    w = Window.partitionBy(*keys).orderBy(F.desc(order_col), F.asc(tiebreak))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# Shingling (shared by MinHash / Jaccard)
# ---------------------------------------------------------------------------


def shingles(col: str | Column, n: int = 3) -> Column:
    """Word n-gram shingles over lower-cased tokens: the distinct
    :func:`~aws_data_engineering_spark.operators.text.word_ngrams`, a
    document shorter than ``n`` tokens kept whole, NULL text read as ''.
    Pure JVM."""
    toks = T.doc_tokens(col)
    return F.when(
        F.size(toks) < n, F.array(F.concat_ws(" ", toks))
    ).otherwise(F.array_distinct(T.word_ngrams(toks, n)))


def _shingle_worker_fns(shingle_n: int):
    """Build the Python mirror of the shingle pipeline for the Arrow
    (mapInPandas) path, as closures.

    Everything is constructed inside this factory so cloudpickle serializes
    the returned functions BY VALUE — the executors' Python workers must not
    need ``aws_data_engineering_spark`` on their import path (the driver
    harness imports this package via sys.path manipulation that does not
    propagate to workers).

    Semantics are the text contract's shingle twin
    (:func:`~aws_data_engineering_spark.operators.text.text_worker_fns`).
    """
    import hashlib

    shingle_text = T.text_worker_fns().shingles
    mersenne_p = (1 << 31) - 1
    n = shingle_n

    def shingle_set(text: str | None) -> list[str]:
        return shingle_text(text, n)

    def base_hash(s: str) -> int:
        # deterministic shingle → [0, 2^31-1) hash: md5-derived, reproducible
        # across runs, processes, and cluster sizes (no PYTHONHASHSEED)
        return int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big") % mersenne_p

    return shingle_set, base_hash


# ---------------------------------------------------------------------------
# MinHash
# ---------------------------------------------------------------------------

# Deterministic universal-hash parameters: h_i(x) = (a_i * x + b_i) mod p.
# p = 2^31-1 (Mersenne): keeps a*x < 2^62 so the affine map never overflows
# a 64-bit long (Spark 4 runs ANSI mode — overflow is an error, not a wrap).
_MERSENNE_P = (1 << 31) - 1


def _hash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs via a simple LCG — reproducible across
    cluster sizes and runs (no RNG state on executors)."""
    params = []
    state = seed
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state % (_MERSENNE_P - 1)) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % _MERSENNE_P
        params.append((a, b))
    return params


def minhash_signature(col: str | Column, num_hashes: int = 32, shingle_n: int = 3) -> Column:
    """MinHash signature as array<bigint>. Each shingle hashes to a base
    integer via the SAME md5-derived map as the Arrow path's ``base_hash``
    (first 8 md5 bytes big-endian mod the Mersenne prime — folded as
    hi*2 + lo since 2^32 ≡ 2 mod 2^31-1, keeping everything in bigint
    range under ANSI); each of the ``num_hashes`` permutations is an affine
    map over the prime. All JVM-side higher-order functions — no UDF, no
    shuffle; cost is O(shingles × hashes) per row, embarrassingly
    parallel. Signatures are bit-identical to the mapInPandas path and the
    d04 DuckDB oracle."""
    sh = shingles(col, shingle_n)

    def md5_base(s: Column) -> Column:
        h = F.md5(s)
        hi = F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint")
        lo = F.conv(F.substring(h, 9, 8), 16, 10).cast("bigint")
        return (hi * 2 + lo) % _MERSENNE_P

    base = F.transform(sh, md5_base)
    # Single-pass structure: one num_hashes-wide row of affine hashes per
    # shingle, folded with an elementwise min. Building num_hashes separate
    # array_min(transform(...)) columns instead re-evaluates the whole
    # shingle pipeline per hash (HOFs are interpreted, no common-subexpr
    # elimination across columns) — measured 30× slower.
    params = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in _hash_params(num_hashes)
        ]
    )
    matrix = F.transform(
        base,
        lambda h: F.transform(params, lambda p: (h * p["a"] + p["b"]) % _MERSENNE_P),
    )
    init = F.array_repeat(F.lit(_MERSENNE_P).cast("bigint"), num_hashes)
    return F.aggregate(matrix, init, lambda acc, row: F.zip_with(acc, row, lambda x, y: F.least(x, y)))


def minhash_band_rows(sigs: DataFrame, num_bands: int, rows_per_band: int) -> DataFrame:
    """LSH banding: one row per signature row and band, carrying every
    column of ``sigs`` plus ``band`` and ``band_hash`` (xxhash64 over the
    band's slice of the array<bigint> ``sig`` column). Docs sharing any
    (band, band_hash) bucket are near-dup candidates."""
    bands = F.array(
        *[
            F.struct(
                F.lit(band).alias("band"),
                F.xxhash64(
                    F.concat_ws(
                        ",",
                        *[
                            F.element_at(F.col("sig"), band * rows_per_band + r + 1).cast(
                                "string"
                            )
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("band_hash"),
            )
            for band in range(num_bands)
        ]
    )
    return sigs.select(*sigs.columns, F.explode(bands).alias("b")).select(
        *sigs.columns, F.col("b.band").alias("band"), F.col("b.band_hash").alias("band_hash")
    )


def _banded_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    num_bands: int,
    materialize_once: bool,
) -> DataFrame:
    """(id, sig, band, band_hash) rows: the Arrow MinHash signature kernel
    exploded into LSH bands.

    Signature computation is CPU-bound per row. The JVM higher-order-
    function form (minhash_signature) is interpreted — no codegen for
    lambda expressions — and measured 6-8× slower than this Arrow path
    with erratic tail latency under session memory pressure. So the hot
    loop runs as a vectorized mapInPandas (numpy affine maps over the
    shingle hash array), the canonical Spark escape hatch for per-row
    numeric kernels. Fan out first (a small parquet file scans as one
    task).

    ``materialize_once`` pins the signature table to ONE RDD identity with
    a LAZY localCheckpoint (VERDICT r11 #4), for callers whose banded rows
    feed several consumers (the bucket census and the band join): AQE
    defeats plan-level exchange reuse, so the Python signature pass
    otherwise executed once per consumer. The first task computes each
    block and concurrent consumers block-read it, WITHOUT the build-time
    barrier that made round 11's EAGER variant serialize the critical path
    (measured flat-to-worse then). Not persist(): nothing could unpersist
    a lazily-returned operator's cache; checkpoint blocks are released by
    the ContextCleaner when the plan's references drop (the r11 leak
    audit's bounded-blocks result). At 100 TB the equivalent is writing
    the signature table out before the join."""
    params = _hash_params(num_hashes)
    shingle_set, base_hash = _shingle_worker_fns(shingle_n=3)
    mersenne_p = _MERSENNE_P

    def compute_sigs(batches):
        import numpy as np
        import pandas as pd_w

        a = np.array([p[0] for p in params], dtype=np.int64)
        b = np.array([p[1] for p in params], dtype=np.int64)
        for pdf in batches:
            ids, sigs_out = [], []
            for doc_id, text in zip(pdf["id"], pdf["text"]):
                base = np.fromiter(
                    (base_hash(s) for s in shingle_set(text)), dtype=np.int64
                )
                # base < 2^31 and a < 2^31 ⇒ products < 2^62: no int64 overflow
                sig = ((base[:, None] * a[None, :] + b) % mersenne_p).min(axis=0)
                ids.append(doc_id)
                sigs_out.append(sig.tolist())
            yield pd_w.DataFrame({"id": ids, "sig": sigs_out})

    fanout = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    ).repartition(df.sparkSession.sparkContext.defaultParallelism)
    sigs = fanout.mapInPandas(compute_sigs, "id bigint, sig array<bigint>")
    if materialize_once:
        sigs = sigs.localCheckpoint(eager=False)
    return minhash_band_rows(sigs, num_bands, num_hashes // num_bands)


def _bucket_census(banded: DataFrame, n_col: str) -> DataFrame:
    """Occupancy of every (band, band_hash) bucket, as ``n_col`` — one
    partial-agg groupBy on the key the band join already shuffles on."""
    return banded.groupBy("band", "band_hash").agg(F.count(F.lit(1)).alias(n_col))


def _drop_oversized_buckets(banded: DataFrame, max_bucket: int, n_col: str) -> DataFrame:
    """``banded`` without the rows of buckets holding more than
    ``max_bucket`` docs."""
    census = _bucket_census(banded, n_col)
    return banded.join(
        census.filter(F.col(n_col) <= max_bucket), ["band", "band_hash"]
    ).drop(n_col)


def _est_jaccard() -> Column:
    """Estimated Jaccard of a candidate pair: the fraction of agreeing
    components of its ``sig_a`` / ``sig_b`` signatures, to 4 decimals."""
    agree = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )
    return F.round(agree / F.size(F.col("sig_a")), 4).alias("est_jaccard")


# Default refusal threshold for minhash_candidate_pairs' uncapped form: a
# band bucket above this size means the corpus has duplicate clusters whose
# pairwise enumeration is quadratic (C(n,2) pairs per bucket). 64 sits well
# above the fixture corpora's benign bucket sizes and well below the
# 100-twin clusters the 100× experiment measured at 24.75M pairs / 187 s.
GUARD_BUCKET_DEFAULT = 64


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    num_bands: int = 8,
    max_bucket: int | None = None,
    guard_bucket: int | None = GUARD_BUCKET_DEFAULT,
) -> DataFrame:
    """Near-dup candidate pairs via MinHash-LSH.

    Pipeline: signature (map-only) → explode bands → self-join on
    (band, band_hash) → distinct pairs → estimated Jaccard from signature
    agreement. The only shuffle is keyed on band buckets, whose size is
    controlled by band count — the standard scale-out for fuzzy dedup at
    100 TB (docs never compare all-pairs).

    ``max_bucket`` is the pair-emission valve the 100× scale experiment
    (SURVEY §6.2) showed this operator needs on duplication-heavy corpora:
    a band bucket holding n docs emits C(n,2) pairs, so at twin
    multiplicity 100 the candidate set is quadratic in duplication (25 →
    24.75M pairs measured). With the cap, band buckets larger than
    ``max_bucket`` emit NO pairs — an oversized bucket is a duplicate
    CLUSTER, which a pipeline should collapse by cluster key (the bucket
    id / d10 connected components), never enumerate pairwise. Census is
    one partial-agg groupBy on the same (band, band_hash) key the join
    already shuffles on.

    The uncapped form (``max_bucket=None``) carries a bucket-census GUARD
    by default (the g02 ``ExactPathScaleError`` treatment, embedded in the
    plan rather than as a driver-side pre-flight so the signature pass is
    never paid twice): the same census the cap uses feeds an
    ``assert_true`` over every banded row, so the job FAILS FAST — after
    signatures + census, before the quadratic self-join emits a single
    pair — the moment any bucket exceeds ``guard_bucket``, with a message
    naming the capped alternative (``max_bucket=…`` /
    ``d17_capped_minhash_pairs``). Pass ``guard_bucket=None`` to force the
    full enumerate (the duplication-audit use-case, where the quadratic
    output is the point).
    """
    # the signature table feeds the bucket census AND both sides of the
    # banded self-join: materialize it once
    banded = _banded_signatures(
        df, id_col, text_col, num_hashes, num_bands, materialize_once=True
    )
    if max_bucket is not None:
        banded = _drop_oversized_buckets(banded, max_bucket, "__bucket_n")
    elif guard_bucket is not None:
        census = _bucket_census(banded, "__bucket_n")
        # assert_true evaluates inside a FILTER so Catalyst cannot prune it
        # (it returns NULL on pass → isNull() is the predicate). The join is
        # 1:1 on the census key, so when every bucket passes the output is
        # row-identical to the unguarded plan — the sf0.01 oracle is
        # unchanged — and an oversized bucket kills the job at the census
        # stage, before any pair is enumerated.
        guard_msg = F.concat(
            F.lit("minhash band bucket of size "),
            F.col("__bucket_n").cast("string"),
            F.lit(
                f" exceeds guard_bucket={guard_bucket}: a bucket this large "
                "is a duplicate CLUSTER whose pairwise enumeration is "
                "quadratic (C(n,2) pairs). Collapse it by bucket key or use "
                "the capped form (max_bucket=..., registered as "
                "d17_capped_minhash_pairs); pass guard_bucket=None to force "
                "the full enumerate."
            ),
        )
        banded = (
            banded.join(census, ["band", "band_hash"])
            .filter(
                F.assert_true(F.col("__bucket_n") <= guard_bucket, guard_msg).isNull()
            )
            .drop("__bucket_n")
        )
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.sig").alias("sig_a"),
            F.col("r.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return pairs.select("id_a", "id_b", _est_jaccard())


def minhash_probe_pairs(
    index_df: DataFrame,
    batch_df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    num_bands: int = 8,
    max_bucket: int = GUARD_BUCKET_DEFAULT,
) -> DataFrame:
    """INCREMENTAL fuzzy dedup: probe a new batch against an existing
    corpus index without re-comparing the corpus to itself — the shape a
    production crawl pipeline runs daily (signatures of the 100 TB corpus
    are computed ONCE and persisted; each day's delta only pays its own
    signature pass plus a band-keyed join against the index).

    Pipeline: signature both sides (the minhash_candidate_pairs Arrow
    kernel) → explode bands → census the INDEX side and drop buckets
    larger than ``max_bucket`` (an oversized index bucket is a duplicate
    cluster inside the index — d04/d17's cap reasoning; probing it would
    attach every new doc to the whole cluster instead of its canonical
    representative) → equi-join batch bands against surviving index bands
    → distinct (new, index) pairs → estimated Jaccard from signature
    agreement. No self-join anywhere: work is |batch| × bucket-occupancy,
    never |corpus|².

    Returns (id_new, id_idx, est_jaccard). Signatures are bit-identical to
    d04's, so the DuckDB oracle (:func:`minhash_probe_oracle_sql`)
    reproduces the whole thing exactly."""
    # the INDEX side feeds the bucket census AND the probe join; the batch
    # side has a single consumer — no checkpoint there
    idx = _banded_signatures(
        index_df, id_col, text_col, num_hashes, num_bands, materialize_once=True
    )
    new = _banded_signatures(
        batch_df, id_col, text_col, num_hashes, num_bands, materialize_once=False
    )
    idx = _drop_oversized_buckets(idx, max_bucket, "__n")
    pairs = (
        new.alias("l")
        .join(
            idx.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash")),
        )
        .select(
            F.col("l.id").alias("id_new"),
            F.col("r.id").alias("id_idx"),
            F.col("l.sig").alias("sig_a"),
            F.col("r.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_new", "id_idx"])
    )
    return pairs.select("id_new", "id_idx", _est_jaccard())


def minhash_probe_oracle_sql(
    num_hashes: int = 32,
    num_bands: int = 8,
    max_bucket: int = GUARD_BUCKET_DEFAULT,
    batch_pred: str = "doc_id % 10 = 0",
) -> str:
    """DuckDB SQL reproducing :func:`minhash_probe_pairs` over ``documents``
    split by ``batch_pred`` (batch side = rows matching, index side = the
    rest). Signatures and band rows via the shared MinHash CTEs; banding
    as signature-slice equality with the census on the INDEX side only,
    mirroring the probe's cap."""
    return f"""
    WITH {_minhash_bandrows_cte_sql(num_hashes, num_bands)}, idx AS (
      SELECT * FROM bandrows WHERE NOT ({batch_pred})
    ), newb AS (
      SELECT * FROM bandrows WHERE {batch_pred}
    ), census AS (
      SELECT band, bkey, COUNT(*) AS n FROM idx GROUP BY 1, 2
    ), kept AS (
      SELECT i.* FROM idx i JOIN census c USING (band, bkey)
      WHERE c.n <= {max_bucket}
    ), cand AS (
      SELECT DISTINCT l.doc_id AS id_new, r.doc_id AS id_idx,
             l.sig AS sig_a, r.sig AS sig_b
      FROM newb l JOIN kept r USING (band, bkey)
    )
    SELECT id_new, id_idx,
           {_est_jaccard_sql("sig_a", "sig_b", num_hashes)}
    FROM cand
    """


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(col: str | Column, bits: int = 48) -> Column:
    """SimHash over whitespace tokens: per-bit majority vote of token
    hashes. Built from higher-order array functions (JVM-side).

    For each bit i: sum over tokens of (+1 if bit set else -1) > 0 → bit=1.

    Token hash = first 12 hex chars of md5 (48 bits) rather than xxhash64:
    engine-portable, so the DuckDB oracle reproduces signatures bit-exactly
    (same trade as text.fingerprint / sampling.hash_bucket). 48 uniform
    bits keep the per-bit majority property that SimHash needs; the two
    missing band bits just shorten the signature, not its semantics.
    """
    toks = T.doc_tokens(col)
    hashes = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 12), 16, 10).cast("bigint")
    )

    def voter(i: int):
        # closure factory: PySpark HOF lambdas must take exactly 1-2 params
        return lambda acc, h: acc + F.when(
            F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    out = F.lit(0).cast("bigint")
    for i in range(bits):
        vote = F.aggregate(hashes, F.lit(0), voter(i))
        bit = F.when(vote > 0, F.lit(1)).otherwise(F.lit(0)).cast("bigint")
        # shiftleft wraps at bit 63 (sign bit) — fine, signatures are opaque
        out = out + F.shiftleft(bit, i)
    return out


def hamming_distance(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    n_bands: int = 4,
    bits: int = 48,
) -> DataFrame:
    """Near-dup pairs by SimHash banding + exact hamming filter.

    Pigeonhole blocking: split the ``bits``-bit signature into ``n_bands``
    equal-width bands — any pair within ``max_hamming`` ≤ n_bands-1 bit
    flips must agree exactly on at least one band, so candidates are found
    with an equi-join on (band_idx, band_bits) and only candidates pay the
    XOR/bit_count. Because n_bands > max_hamming the blocking is COMPLETE
    (finds every qualifying pair), which is what lets the oracle check it
    against exact all-pairs hamming. Entirely JVM-side; the one shuffle is
    keyed by band value, the standard simhash-dedup sharding at corpus
    scale.
    """
    band_width = bits // n_bands
    # Arrow kernel, not the simhash() Column: the interpreted 48-fold
    # Column form would also be inlined once per band struct below
    sigs = simhash_signatures(df, id_col, text_col, bits)
    banded = sigs.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        # logical right shift: the sign bit must not smear
                        F.shiftrightunsigned("sig", i * band_width)
                        .bitwiseAND(F.lit((1 << band_width) - 1))
                        .alias("bits"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select("id", "sig", F.col("b.band").alias("band"), F.col("b.bits").alias("bits"))
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bits") == F.col("b.bits"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming_distance(F.col("a.sig"), F.col("b.sig")).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return cands.filter(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------


def exploded_shingles(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int = 3
) -> DataFrame:
    """Per-document DISTINCT shingle sets, already exploded to
    ``(id, sh_size, shingle)`` rows.

    Shingling runs as Arrow-batched Python (see minhash_candidate_pairs for
    why: interpreted JVM HOFs are the slow path — the JVM ``shingles()``
    column measured ~6x slower at sf0.1); downstream joins/aggregations
    stay JVM-side so plans — and oracle matches — are unchanged. Python
    output is already exploded, skipping the JVM explode."""
    spark = df.sparkSession
    shingle_set, _ = _shingle_worker_fns(shingle_n)

    def explode_kernel(batches):
        import pandas as pd_w

        for pdf in batches:
            ids: list[int] = []
            sizes: list[int] = []
            grams: list[str] = []
            for doc_id, text in zip(pdf["id"], pdf["text"]):
                sh = shingle_set(text)
                ids.extend([doc_id] * len(sh))
                sizes.extend([len(sh)] * len(sh))
                grams.extend(sh)
            yield pd_w.DataFrame({"id": ids, "sh_size": sizes, "shingle": grams})

    # fan out (single-file scans are one task); no persist — see
    # minhash_candidate_pairs for why recompute beats a leaked cache here
    fanout = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    ).repartition(spark.sparkContext.defaultParallelism)
    return fanout.mapInPandas(
        explode_kernel, "id bigint, sh_size int, shingle string"
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    min_jaccard: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over an inverted shingle index.

    explode(shingles) → self-join on shingle (inverted index — only docs
    sharing ≥1 shingle ever meet) → per-pair intersection count →
    |A∪B| = |A|+|B|−|A∩B|. The shuffle is keyed on shingle values; hot
    shingles are the skew risk: a shingle shared by d documents emits
    d·(d−1)/2 pairs, so one stop-shingle in 100k docs is 5e9 rows.

    ``max_df`` is the scale valve: shingles whose document frequency
    exceeds it are dropped BEFORE the self-join, bounding per-shingle
    fan-out at max_df²/2. Semantics shift from exact Jaccard to Jaccard
    over the df-filtered shingle universe (sizes are recomputed on the
    surviving shingles — i.e. stopword-removed Jaccard, the semantic
    large dedup pipelines actually want); ``max_df=None`` keeps the exact
    oracle-checked behavior. The df-count adds one aggregation that
    shuffles on the same shingle key as the join, so AQE co-plans them.
    """
    # the self-join below consumes the Python shingle fan-out on BOTH sides;
    # eager localCheckpoint materializes it once (blocks are freed when the
    # DataFrame is GC'd — not the leaked-persist antipattern)
    exploded = exploded_shingles(df, id_col, text_col, shingle_n).localCheckpoint(
        eager=True
    )
    if max_df is not None:
        # the capped (scale) path keys the census and self-join on 48-bit
        # md5-prefix BIGINTs instead of shingle strings (the
        # containment_pairs trade: 8-byte shuffle keys, engine-portable so
        # the oracle hashes identically and any collision affects both
        # engines the same way). The uncapped exact baseline below keeps
        # literal strings — d13's accuracy-audit oracle joins on them.
        exploded = exploded.select(
            "id",
            F.conv(F.substring(F.md5("shingle"), 1, 12), 16, 10)
            .cast("bigint")
            .alias("shingle"),
        )
        dfreq = exploded.groupBy("shingle").agg(
            F.count(F.lit(1)).alias("doc_freq")
        )
        # sizes recompute over ALL df<=cap survivors (singletons included —
        # they are part of the filtered Jaccard universe); the self-join
        # input additionally drops df=1 shingles, which can never produce a
        # cross-doc pair, so the drop changes nothing but the shuffle volume
        # (the d16 singleton-drop pattern). Sizes are re-attached to the
        # PAIRS (not carried through the index) so the survivors stay
        # shingle-partitioned straight into the self-join — no window-on-id
        # shuffle detour, and the pair table the sizes join touches is
        # orders of magnitude smaller than the inverted index.
        survivors = exploded.select("id", "shingle").join(
            dfreq.filter(F.col("doc_freq") <= max_df), "shingle"
        )
        sizes = survivors.groupBy("id").agg(F.count(F.lit(1)).alias("sh_size"))
        joinable = survivors.filter(F.col("doc_freq") >= 2).select("id", "shingle")
        a = joinable.alias("a")
        b = joinable.alias("b")
        inter = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
        inter = (
            inter.join(
                sizes.select(
                    F.col("id").alias("id_a"), F.col("sh_size").alias("size_a")
                ),
                "id_a",
            ).join(
                sizes.select(
                    F.col("id").alias("id_b"), F.col("sh_size").alias("size_b")
                ),
                "id_b",
            )
        )
    else:
        a = exploded.alias("a")
        b = exploded.alias("b")
        inter = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .groupBy(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.col("a.sh_size").alias("size_a"),
                F.col("b.sh_size").alias("size_b"),
            )
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    jac = F.col("n_inter") / (F.col("size_a") + F.col("size_b") - F.col("n_inter"))
    return inter.select(
        "id_a", "id_b", F.round(jac, 4).alias("jaccard")
    ).filter(F.col("jaccard") >= min_jaccard)


def ngram_contamination(
    candidates: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 5,
) -> DataFrame:
    """Benchmark-contamination check: per candidate doc, how many of its
    distinct word n-grams also occur in ANY benchmark document.

    The decontamination stage of a training-data pipeline: candidate docs
    sharing long n-grams with an eval benchmark are flagged for removal.

    Scale shape: the benchmark n-gram set is tiny relative to the corpus
    (eval suites are MBs; the corpus is TBs), so it is ``broadcast`` and the
    whole check is a map-side semi-join over the exploded candidate grams —
    the only shuffle is the final per-doc count, keyed on doc id (no skew:
    one doc's grams are bounded by its token count).

    Returns (id, n_shared_grams) for contaminated docs only; clean docs
    produce no row. Shingling reuses the d05 Arrow worker (distinct,
    normalized word n-grams) so the DuckDB oracle replicates it exactly.
    """
    bench_grams = _gram_fanout(benchmark, id_col, text_col, shingle_n).select(
        "shingle"
    ).distinct()
    return (
        _gram_fanout(candidates, id_col, text_col, shingle_n)
        .join(F.broadcast(bench_grams), "shingle", "left_semi")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


def _gram_fanout(df: DataFrame, id_col: str, text_col: str, shingle_n: int) -> DataFrame:
    """(id, shingle) rows — one per DISTINCT word n-gram per doc — via the
    d05 Arrow shingle worker (so DuckDB oracles replicate the tokenization
    exactly). Pre-repartitioned so the explode parallelizes regardless of
    the source file's split count."""
    spark = df.sparkSession
    shingle_set, _ = _shingle_worker_fns(shingle_n)

    def explode_grams(batches):
        import pandas as pd_w

        for pdf in batches:
            ids: list[int] = []
            grams: list[str] = []
            for doc_id, text in zip(pdf["id"], pdf["text"]):
                sh = shingle_set(text)
                ids.extend([doc_id] * len(sh))
                grams.extend(sh)
            yield pd_w.DataFrame({"id": ids, "shingle": grams})

    return (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
        .repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(explode_grams, "id bigint, shingle string")
    )


# Bloom-filter geometry for bloom_contamination: m = 2^16 bit positions
# (4 hex chars of md5), k independent position hashes per gram.
_BLOOM_M_HEX_CHARS = 4
_BLOOM_K = 4


def _bloom_pos(col: Column, j: int) -> Column:
    """Bit position j of a gram: 16-bit value from the first 4 hex chars of
    md5(gram || '#b<j>'). Engine-portable ascii arithmetic (no conv/strtol —
    see sampling.hash_bucket)."""
    from aws_data_engineering_spark.operators.sampling import _hexval

    h = F.md5(F.concat(col, F.lit(f"#b{j}")))
    pos = F.lit(0)
    for i in range(1, _BLOOM_M_HEX_CHARS + 1):
        pos = pos * 16 + _hexval(F.substring(h, i, 1))
    return pos


def bloom_contamination(
    candidates: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 5,
) -> DataFrame:
    """Benchmark decontamination through a Bloom filter — the compact-
    membership companion to :func:`ngram_contamination` for when even the
    benchmark gram set is too large to broadcast verbatim.

    The m=2^16-bit array is represented relationally: the DISTINCT set of
    bit positions hit by the benchmark grams (≤ 65,536 rows — bounded by m,
    NOT by benchmark size, so it broadcasts at any scale). A candidate gram
    is a Bloom hit iff ALL k=4 of its positions are set — the standard
    Bloom membership test as an equi-join + count. The exact semi-join runs
    alongside so the output quantifies the false-positive rate instead of
    hiding it (every exact hit is a Bloom hit by construction; the
    difference is the FP count).

    All hashes are md5-derived column expressions (JVM-side, no Python
    workers beyond the shared gram fan-out), so DuckDB reproduces the
    filter — false positives included — bit-exactly.

    Returns (id, n_grams, bloom_hits, exact_hits, false_positives) for
    docs with at least one Bloom hit.
    """
    # The BENCH gram fan-out feeds two branches (bit positions + exact
    # set) — eager localCheckpoint materializes its Python shingle pass
    # once. The CANDIDATE fan-out has exactly one consumer since
    # bloom_probe became single-pass, so it stays lazy: materializing the
    # whole exploded corpus gram table was the dominant cost the 100×
    # experiment measured on st16.
    bench_grams = (
        _gram_fanout(benchmark, id_col, text_col, shingle_n)
        .select("shingle")
        .distinct()
        .localCheckpoint(eager=True)
    )
    cand = _gram_fanout(candidates, id_col, text_col, shingle_n)
    return bloom_probe(cand, bench_grams, bloom_bits(bench_grams))


def bloom_bits(bench_grams: DataFrame) -> DataFrame:
    """The "bit array" of the relational Bloom filter: the DISTINCT set of
    positions hit by any gram in ``bench_grams`` (column ``shingle``).
    Bounded by m = 2^16 rows. Set-union-mergeable: bits(A ∪ B) =
    distinct(bits(A) ∪ bits(B)) — the property st16's streaming
    maintenance relies on (Bloom filters merge by OR)."""
    return (
        bench_grams.select(
            F.explode(
                F.array(*[_bloom_pos(F.col("shingle"), j) for j in range(_BLOOM_K)])
            ).alias("pos")
        )
        .distinct()
    )


def bloom_probe(
    cand: DataFrame, bench_grams: DataFrame, bench_bits: DataFrame
) -> DataFrame:
    """Probe candidate grams (``id``, ``shingle``) against a prebuilt Bloom
    bit set + exact gram set — the report half of
    :func:`bloom_contamination`, shared with the streaming-maintained
    filter (st16).

    Membership probe: gram hits iff all k positions are set. ONE pass over
    the candidate gram stream: k broadcast LEFT joins (one per position
    hash, hit markers) plus the exact-gram broadcast left join, then a
    single per-doc partial aggregate computing the gram census, Bloom
    hits, and exact hits together. The earlier 3-consumer form (semi-join
    probe chain + exact semi-join + separate per-doc census) forced an
    eager localCheckpoint of the WHOLE exploded gram table at every call
    site — the dominant cost the 100× experiment measured on st16 (12×,
    worst streaming ratio). Single consumer ⇒ no materialization; the
    probe work per gram is k+1 broadcast hash lookups either way, and the
    groupBy is map-side-combined to one row per (doc, partition) before
    the only shuffle.

    CONTRACT: ``bench_bits.pos`` and ``bench_grams.shingle`` MUST be
    duplicate-free. The left-join hit markers (unlike the old semi-join
    form) fan out candidate rows on duplicate build-side keys, which would
    inflate n_grams/bloom_hits/exact_hits. Both call sites satisfy this by
    construction (``bloom_contamination`` builds them via ``.distinct()``;
    st16's streaming state upserts by key)."""
    probed = cand.select(
        "id",
        "shingle",
        *[_bloom_pos(F.col("shingle"), j).alias(f"p{j}") for j in range(_BLOOM_K)],
    )
    for j in range(_BLOOM_K):
        probed = probed.join(
            F.broadcast(
                bench_bits.withColumnRenamed("pos", f"p{j}").withColumn(
                    f"h{j}", F.lit(1)
                )
            ),
            f"p{j}",
            "left",
        )
    probed = probed.join(
        F.broadcast(bench_grams.withColumn("is_exact", F.lit(1))),
        "shingle",
        "left",
    )
    bloom_hit = F.when(
        F.expr(" AND ".join(f"h{j} IS NOT NULL" for j in range(_BLOOM_K))),
        F.lit(1),
    ).otherwise(F.lit(0))
    return (
        probed.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(bloom_hit).alias("bloom_hits"),
            F.sum(F.coalesce(F.col("is_exact"), F.lit(0))).alias("exact_hits"),
        )
        .filter(F.col("bloom_hits") > 0)
        .select(
            "id",
            "n_grams",
            "bloom_hits",
            "exact_hits",
            (F.col("bloom_hits") - F.col("exact_hits")).alias("false_positives"),
        )
    )


def minhash_oracle_sql(
    num_hashes: int = 32, num_bands: int = 8, source_sql: str = "documents"
) -> str:
    """DuckDB SQL reproducing :func:`minhash_candidate_pairs` exactly over
    the ``documents`` view (or any ``source_sql`` relation exposing
    ``doc_id, text`` — d17 passes the exact-collapse survivor set).

    Possible because every stage is engine-portable by construction: the
    shingle pipeline is the proven d05 CTE, the base hash is md5-derived
    (first 8 bytes big-endian % Mersenne — HUGEINT hex arithmetic here),
    and the affine permutations are literal (a, b) pairs from
    :func:`_hash_params`. Banding is expressed as signature-slice equality,
    which equals the Spark side's band-hash equi-join for collision-free
    band hashes (xxhash64 over 4×31-bit values — deterministic on fixed
    test data).
    """
    return f"""
    WITH {minhash_sig_cte_sql(num_hashes, source_sql)}
    {minhash_pairs_sql(num_hashes, num_bands)}
    """


def minhash_pairs_sql(num_hashes: int, num_bands: int) -> str:
    """The candidate-pair SELECT of :func:`minhash_oracle_sql` over the
    ``sigs`` CTE of :func:`minhash_sig_cte_sql`: pairs sharing any band
    slice, with their estimated Jaccard."""
    rows = num_hashes // num_bands
    bands = " OR ".join(
        f"(a.sig[{rows * b + 1}:{rows * b + rows}] = "
        f"bb.sig[{rows * b + 1}:{rows * b + rows}])"
        for b in range(num_bands)
    )
    return f"""SELECT a.doc_id AS id_a, bb.doc_id AS id_b,
           {_est_jaccard_sql("a.sig", "bb.sig", num_hashes)}
    FROM sigs a JOIN sigs bb ON a.doc_id < bb.doc_id
    WHERE {bands}"""


def minhash_sig_cte_sql(num_hashes: int, source_sql: str = "documents") -> str:
    """Shared CTE body (toks -> grams -> hashed -> sigs) for the MinHash
    oracles: ``toks(doc_id, t)`` lower-cased tokens, ``grams(doc_id, sh)``
    distinct word 3-gram shingles, ``sigs(doc_id, sig)``."""

    def hexval(i: int, h: str) -> str:
        a = f"ascii(substr({h}, {i}, 1))"
        return f"({a} - 48 - CASE WHEN {a} >= 97 THEN 39 ELSE 0 END)"

    h64 = " + ".join(
        f"CAST({hexval(i + 1, 'md5(x)')} AS HUGEINT) * CAST({16 ** (15 - i)} AS HUGEINT)"
        for i in range(16)
    )
    base = f"CAST(({h64}) % CAST({_MERSENNE_P} AS HUGEINT) AS BIGINT)"
    sig_terms = ", ".join(
        f"list_min([((h * {a}) + {b}) % {_MERSENNE_P} FOR h IN bases])"
        for a, b in _hash_params(num_hashes)
    )
    return f"""{T.shingle_ctes_sql(3, source=source_sql)}, hashed AS (
      SELECT doc_id, [{base} FOR x IN sh] AS bases FROM grams
    ), sigs AS (
      SELECT doc_id, [{sig_terms}] AS sig FROM hashed
    )"""


def _minhash_bandrows_cte_sql(
    num_hashes: int, num_bands: int, source_sql: str = "documents"
) -> str:
    """The signature CTEs plus ``bandrows(doc_id, sig, band, bkey)``: one
    row per doc and band, ``bkey`` the band's signature slice — the
    collision-free stand-in for the Spark side's xxhash64 band hash
    (:func:`minhash_band_rows`)."""
    rows = num_hashes // num_bands
    return f"""{minhash_sig_cte_sql(num_hashes, source_sql)}
    , bandrows AS (
      SELECT doc_id, sig, b.band,
             array_to_string(sig[b.band * {rows} + 1:b.band * {rows} + {rows}],
                             ',') AS bkey
      FROM sigs,
           (SELECT UNNEST(generate_series(0, {num_bands - 1})) AS band) b
    )"""


def _est_jaccard_sql(sig_a: str, sig_b: str, num_hashes: int) -> str:
    """SQL twin of :func:`_est_jaccard` over two signature expressions."""
    return f"""ROUND(CAST(list_sum([CASE WHEN {sig_a}[i] = {sig_b}[i] THEN 1 ELSE 0 END
                                FOR i IN generate_series(1, {num_hashes})])
                      AS DOUBLE) / {num_hashes}, 4) AS est_jaccard"""


def minhash_capped_oracle_sql(
    num_hashes: int = 32, num_bands: int = 8, max_bucket: int = 2
) -> str:
    """DuckDB SQL reproducing :func:`minhash_candidate_pairs` WITH the
    ``max_bucket`` pair-emission valve: bands unnest into (band, slice)
    rows, a census counts bucket occupancy, and only under-cap buckets
    join pairwise. Slice equality stands in for the Spark side's xxhash64
    band hash (collision-free on fixed test data — the same assumption the
    uncapped oracle already makes)."""
    return f"""
    WITH {_minhash_bandrows_cte_sql(num_hashes, num_bands)}, census AS (
      SELECT band, bkey, COUNT(*) AS n FROM bandrows GROUP BY 1, 2
    ), keep AS (
      SELECT br.* FROM bandrows br
      JOIN census c USING (band, bkey) WHERE c.n <= {max_bucket}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, bb.doc_id AS id_b,
             a.sig AS sig_a, bb.sig AS sig_b
      FROM keep a JOIN keep bb USING (band, bkey)
      WHERE a.doc_id < bb.doc_id
    )
    SELECT id_a, id_b,
           {_est_jaccard_sql("sig_a", "sig_b", num_hashes)}
    FROM cand
    """


def bloom_oracle_sql(bench_in: str, shingle_n: int = 5) -> str:
    """DuckDB SQL reproducing :func:`bloom_contamination` exactly over the
    ``documents`` view — false positives included, because the k position
    hashes are md5-derived ascii arithmetic on both engines.

    ``bench_in`` is the SQL IN-list of benchmark sources, e.g.
    ``"('src0', 'src1')"``.
    """
    win = shingle_n - 1
    h = "md5(shingle || '#b' || CAST(j AS VARCHAR))"

    def hexval(i: int) -> str:
        a = f"ascii(substr({h}, {i}, 1))"
        return f"({a} - 48 - CASE WHEN {a} >= 97 THEN 39 ELSE 0 END)"

    pos = "0"
    for i in range(1, _BLOOM_M_HEX_CHARS + 1):
        pos = f"({pos} * 16 + {hexval(i)})"

    return f"""
    WITH {T.shingle_ctes_sql(shingle_n, "doc_id, source")}, ex AS (
      SELECT doc_id, source, UNNEST(sh) AS shingle FROM grams
    ), bench AS (
      SELECT DISTINCT shingle FROM ex WHERE source IN {bench_in}
    ), cand AS (
      SELECT doc_id AS id, shingle FROM ex WHERE source NOT IN {bench_in}
    ), bits AS (
      SELECT DISTINCT {pos} AS pos
      FROM bench, generate_series(0, {_BLOOM_K - 1}) g(j)
    ), probed AS (
      SELECT id, shingle
      FROM (SELECT id, shingle, {pos} AS pos
            FROM cand, generate_series(0, {_BLOOM_K - 1}) g(j)) cp
      JOIN bits USING (pos)
      GROUP BY id, shingle
      HAVING COUNT(*) = {_BLOOM_K}
    ), exact AS (
      SELECT id, shingle, 1 AS is_exact FROM cand
      WHERE shingle IN (SELECT shingle FROM bench)
    ), hits AS (
      SELECT p.id, COUNT(*) AS bloom_hits,
             CAST(SUM(COALESCE(e.is_exact, 0)) AS BIGINT) AS exact_hits
      FROM probed p LEFT JOIN exact e USING (id, shingle)
      GROUP BY p.id
    ), per_doc AS (
      SELECT id, COUNT(*) AS n_grams FROM cand GROUP BY id
    )
    SELECT id AS doc_id, n_grams, bloom_hits, exact_hits,
           bloom_hits - exact_hits AS false_positives
    FROM hits JOIN per_doc USING (id)
    """


def duplicate_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram: int = 8,
) -> DataFrame:
    """Exact-substring duplicate SPANS at gram granularity (the
    deduplicate-text-datasets output shape): inverted index of ``gram``-token
    shingles -> keep grams in >=2 distinct docs -> merge each doc's
    duplicated positions into maximal spans via gaps-and-islands.

    Returns (id_col, span_start, span_end) with token-index bounds,
    span_end exclusive. Scale: one shuffle equi-join on the gram string (no
    all-pairs), one per-doc window — key-parallel at 100 TB.
    """
    toks = docs.select(id_col, F.split(text_col, " ").alias("__t")).filter(
        F.size("__t") >= gram
    )
    grams = toks.select(
        id_col,
        F.posexplode(T.word_ngrams(F.col("__t"), gram)).alias("pos", "gram"),
    ).withColumn("pos", F.col("pos").cast("long"))
    dup = (
        grams.groupBy("gram")
        .agg(F.countDistinct(id_col).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram")
    )
    hits = grams.join(dup, "gram", "left_semi")
    w = Window.partitionBy(id_col).orderBy("pos")
    brk = hits.withColumn(
        "is_break",
        F.when(F.col("pos") - F.lag("pos").over(w) <= gram, F.lit(0)).otherwise(
            F.lit(1)
        ),
    )
    isl = brk.withColumn(
        "island",
        F.sum("is_break").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return isl.groupBy(id_col, "island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + gram).alias("span_end"),
    ).drop("island")


def _simhash_worker_fns(bits: int):
    """Closure factory so cloudpickle ships everything by value (executors
    can't resolve module globals when the driver imported via sys.path —
    the _shingle_worker_fns pattern)."""
    doc_tokens = T.text_worker_fns().doc_tokens

    def sig_batch(texts):
        import hashlib

        import numpy as np_w

        shifts = np_w.arange(bits, dtype=np_w.uint64)
        weights = (np_w.uint64(1) << shifts).astype(np_w.int64)
        out = []
        cache: dict = {}
        for text in texts:
            toks = doc_tokens(text)
            hs = np_w.empty(len(toks), dtype=np_w.uint64)
            for j, tok in enumerate(toks):
                h = cache.get(tok)
                if h is None:
                    h = int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:12], 16)
                    cache[tok] = h
                hs[j] = h
            bitm = ((hs[:, None] >> shifts[None, :]) & np_w.uint64(1)).astype(
                np_w.int64
            )
            votes = (2 * bitm - 1).sum(axis=0)
            out.append(int((weights * (votes > 0)).sum()))
        return out

    return sig_batch


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, bits: int = 48
) -> DataFrame:
    """Arrow-kernel SimHash signatures — bit-identical to the
    :func:`simhash` Column (pinned by ``test_simhash_kernel_equals_column``)
    but one vectorized numpy pass per batch instead of 48 interpreted HOF
    folds per row. The Column form re-evaluates the md5 token-hash array
    once PER BIT (interpreted HOFs aren't codegen'd or CSE'd), measured
    15-30 s at sf0.1; the kernel is ~1 s. Returns (id, sig)."""
    sig_batch = _simhash_worker_fns(bits)

    def kernel(batches):
        import pandas as pd_w

        for pdf in batches:
            yield pd_w.DataFrame({"id": pdf["id"], "sig": sig_batch(pdf["text"])})

    spark = df.sparkSession
    return (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
        .repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(kernel, "id bigint, sig bigint")
    )


def containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram: int = 3,
    max_doc_freq: int = 20,
    threshold: float = 0.5,
) -> DataFrame:
    """Directed shingle-containment near-dup pairs: |S(a) ∩ S(b)| / |S(a)|,
    the asymmetric complement to Jaccard — catches a short doc wholly
    quoted inside a longer one, where Jaccard is diluted by the longer
    doc's extra content (the broder-containment / "superset dup" case).

    Scale shape: distinct (doc, gram) inverted index -> stop-shingle filter
    (grams in more than ``max_doc_freq`` docs are dropped, the standard
    guard that also caps the index join's fan-out) -> gram equi-join ->
    per-(a,b) shared count re-joined to |S(a)|. No all-pairs comparison
    anywhere; every join is a shuffle equi-join, key-parallel at 100 TB.
    The ratio-vs-threshold compare is exact-integer division on both
    engines, so the pair set is bit-stable.

    Returns (src, dst, shared_grams, src_grams, containment).
    """
    # sf-sized corpora often arrive as one parquet file -> one input split;
    # spread the ~100x gram fan-out across cores BEFORE it happens so the
    # checkpoint below materializes in parallel (same reason
    # exploded_shingles repartitions)
    toks = (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("id"), F.split(text_col, " ").alias("__t"))
        .filter(F.size("__t") >= gram)
        .repartition(docs.sparkSession.sparkContext.defaultParallelism)
    )
    grams = toks.select(
        "id",
        F.explode(F.array_distinct(T.word_ngrams(F.col("__t"), gram))).alias(
            "gram_s"
        ),
    )
    # grams cross the shuffle as 48-bit md5-prefix BIGINTs, not 3-token
    # strings: the self-join/census key shrinks to 8 bytes (~5x less shuffle
    # bytes at sf0.1). Distinctness stays at the STRING level (above); the
    # hash is engine-portable (DuckDB: CAST('0x'||substr(md5(g),1,12) AS
    # BIGINT)) so a 48-bit collision — ~n²/2^49, and it would only merge two
    # gram posting lists — affects both engines identically and the oracle
    # stays bit-exact.
    grams = grams.select(
        "id",
        F.conv(F.substring(F.md5("gram_s"), 1, 12), 16, 10)
        .cast("bigint")
        .alias("gram"),
    )
    # consumed by sizes, the stop-shingle census, and BOTH sides of the
    # gram self-join — materialize the shingle fan-out once instead of
    # re-exploding per consumer (the jaccard_pairs lesson)
    grams = grams.localCheckpoint(eager=True)
    sizes = grams.groupBy("id").agg(F.count(F.lit(1)).alias("src_grams"))
    # df >= 2: a gram seen in one doc can never produce a cross-doc pair,
    # so dropping singletons halves-or-better the self-join input without
    # changing the result; df <= cap is the stop-shingle fan-out guard
    keep = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= max_doc_freq))
        .select("gram")
    )
    g2 = grams.join(keep, "gram", "left_semi")
    a = g2.select(F.col("id").alias("src"), "gram")
    b = g2.select(F.col("id").alias("dst"), "gram")
    shared = (
        a.join(b, "gram")
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("shared_grams"))
    )
    return (
        shared.join(sizes.withColumnRenamed("id", "src"), "src")
        .filter(
            F.col("shared_grams") * F.lit(1.0) / F.col("src_grams")
            >= F.lit(float(threshold))
        )
        .select(
            "src",
            "dst",
            "shared_grams",
            "src_grams",
            F.round(F.col("shared_grams") / F.col("src_grams"), 6).alias(
                "containment"
            ),
        )
    )


def minhash_first_seen_oracle_sql(
    num_hashes: int = 32, num_bands: int = 8, source_sql: str = "documents"
) -> str:
    """DuckDB SQL twin of the STREAMING MinHash dedup verdict
    (:func:`aws_data_engineering_spark.streaming.streams.stream_minhash_dedup_sink`):
    ``kept(d)`` iff no smaller doc_id shares any of d's band buckets.
    Valid as a batch statement because the streaming rule is a pure
    function of "docs that arrived no later than mine" and the registered
    stream feeds files in doc_id order — same signature/band-row CTEs as
    the d17/d21 oracles (band keys as signature slices, the collision-free
    stand-in for the Spark side's xxhash64)."""
    return f"""
    WITH {_minhash_bandrows_cte_sql(num_hashes, num_bands, source_sql)}, firsts AS (
      SELECT band, bkey, MIN(doc_id) AS first_doc FROM bandrows GROUP BY 1, 2
    )
    SELECT br.doc_id, MIN(f.first_doc) = br.doc_id AS kept
    FROM bandrows br JOIN firsts f USING (band, bkey)
    GROUP BY br.doc_id
    """
