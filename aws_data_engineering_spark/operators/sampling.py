"""Deterministic sampling / split operators for training-data pipelines.

Everything here is built on a portable content hash: ``md5(id || salt)`` →
first two hex chars → bucket in ``[0, 256)``. No RNG, no partition-dependent
seeds — assignment is a pure function of the row key, so it is

- **idempotent** under retries, repartitioning, and speculative execution
  (``rand()``-based sampling is none of those at cluster scale);
- **reproducible** across engines — the DuckDB oracle replicates the exact
  bucket with ``ascii``/``substr`` arithmetic (see :func:`bucket_sql`);
- **stable across runs**: growing the corpus never reassigns an existing
  row's split, which is the property a train/val/test split must have when
  the corpus is continuously re-ingested.

All expressions are built-in ``pyspark.sql.functions`` (JVM codegen, no
Python). The mixture sampler joins against a tiny broadcast rates table, so
at 100 TB the only work is a broadcast-hash probe + filter — no shuffle.

Reference parity: the reference has no sampling stage; this extends its
config-driven projection contract (``FInal/load_script.py:189-191``) with
the dataset-mixture stage an LLM ingestion pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Number of hash buckets; two hex chars of md5.
NUM_BUCKETS = 256


def _as_col(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _hexval(c: Column) -> Column:
    # hex char -> value 0..15: '0'-'9' are ascii 48..57, 'a'-'f' 97..102.
    a = F.ascii(c)
    return a - 48 - F.when(a >= 97, F.lit(39)).otherwise(F.lit(0))


def hash_bucket(id_col: str | Column, salt: str = "") -> Column:
    """Deterministic bucket in [0, 256) from md5(id || salt).

    Engine-portable: avoids Spark's ``hash``/``xxhash64`` (not available in
    DuckDB) and hex→int conversion (``conv`` has no DuckDB twin); plain
    ascii arithmetic reproduces bit-identically in the oracle.
    """
    h = F.md5(F.concat(_as_col(id_col).cast("string"), F.lit(salt)))
    return (_hexval(F.substring(h, 1, 1)) * 16 + _hexval(F.substring(h, 2, 1))).alias(
        "bucket"
    )


def bucket_sql(id_expr: str, salt: str = "") -> str:
    """DuckDB SQL fragment computing the identical bucket as :func:`hash_bucket`."""

    h = f"md5(concat(CAST({id_expr} AS VARCHAR), '{salt}'))"

    def hexval(i: int) -> str:
        a = f"ascii(substr({h}, {i}, 1))"
        return f"({a} - 48 - CASE WHEN {a} >= 97 THEN 39 ELSE 0 END)"

    return f"({hexval(1)} * 16 + {hexval(2)})"


def split_thresholds(fractions: dict[str, float]) -> list[tuple[str, int]]:
    """Cumulative integer bucket thresholds for a named-split assignment.

    ``{"train": .8, "val": .1, "test": .1}`` → ``[("train", 204),
    ("val", 230), ("test", 256)]``. The last split absorbs rounding slack.
    """
    if not fractions:
        raise ValueError("fractions must be non-empty")
    total = sum(fractions.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"fractions must sum to 1.0, got {total}")
    out: list[tuple[str, int]] = []
    cum = 0.0
    for i, (name, frac) in enumerate(fractions.items()):
        cum += frac
        hi = NUM_BUCKETS if i == len(fractions) - 1 else int(cum * NUM_BUCKETS)
        out.append((name, hi))
    return out


def split_assignment(
    id_col: str | Column,
    fractions: dict[str, float],
    salt: str = "split-v1",
) -> Column:
    """Column assigning each row a deterministic named split."""
    bucket = hash_bucket(id_col, salt)
    (name, hi), *rest = split_thresholds(fractions)
    expr = F.when(bucket < hi, F.lit(name))
    for name, hi in rest:
        expr = expr.when(bucket < hi, F.lit(name))
    return expr.alias("split")


def split_sql(id_expr: str, fractions: dict[str, float], salt: str = "split-v1") -> str:
    """DuckDB CASE expression matching :func:`split_assignment`."""
    b = bucket_sql(id_expr, salt)
    parts = [
        f"WHEN {b} < {hi} THEN '{name}'" for name, hi in split_thresholds(fractions)
    ]
    return "CASE " + " ".join(parts) + " END"


def deterministic_sample(
    df: DataFrame, id_col: str | Column, rate: float, salt: str = ""
) -> DataFrame:
    """Keep a deterministic ~``rate`` fraction of rows keyed by ``id_col``.

    Unlike ``df.sample``, re-runs (and different partitionings) select the
    same rows — required for reproducible corpus subsets.
    """
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    return df.filter(hash_bucket(id_col, salt) < int(rate * NUM_BUCKETS))


def mixture_sample(
    df: DataFrame,
    id_col: str,
    key_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    salt: str = "mix-v1",
) -> DataFrame:
    """Per-group deterministic sampling — the dataset-mixture stage.

    ``rates`` maps ``key_col`` values (e.g. source corpus) to keep
    fractions; unlisted keys fall back to ``default_rate``. Implemented as a
    broadcast join against the tiny rates table + bucket filter: at scale
    this is a map-side probe with zero shuffle.
    """
    spark = df.sparkSession
    rates_df = spark.createDataFrame(
        [(k, int(v * NUM_BUCKETS)) for k, v in rates.items()],
        schema=f"{key_col} string, __thresh int",
    )
    default_thresh = int(default_rate * NUM_BUCKETS)
    return (
        df.join(F.broadcast(rates_df), on=key_col, how="left")
        .filter(
            hash_bucket(id_col, salt)
            < F.coalesce(F.col("__thresh"), F.lit(default_thresh))
        )
        .drop("__thresh")
    )


def sequence_packing(
    df: DataFrame,
    tokens_col: str | Column,
    budget: int,
    order_col: str | Column = "doc_id",
    group_col: str | None = None,
) -> DataFrame:
    """Concat-then-chunk sequence packing (GPT-style pretraining batches).

    Documents are laid end-to-end in a deterministic order and the stream is
    chunked every ``budget`` tokens; a document's ``pack_id`` is the chunk its
    first token lands in, ``n_chunks`` how many chunks it spans (documents may
    cross chunk boundaries — the concat-then-chunk regime, not first-fit
    bin-packing, which needs a sequential scan and is not shuffle-free).

    Implemented as one window prefix-sum: with ``group_col`` (e.g. source
    corpus) the window partitions by group so packing parallelizes per
    group — the 100 TB layout, where each corpus packs independently.
    Without it the window is global (single-partition sort; only for small
    corpora or already-bucketed inputs).
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    from pyspark.sql import Window

    w = (
        Window.partitionBy(group_col) if group_col is not None else Window.partitionBy()
    ).orderBy(_as_col(order_col))
    toks = _as_col(tokens_col)
    start = F.coalesce(
        F.sum(toks).over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
    ).cast("bigint")
    end = start + toks.cast("bigint") - 1  # inclusive last-token offset
    chunk_of = lambda off: F.floor(off / F.lit(budget))  # noqa: E731
    return (
        df.withColumn("start_offset", start)
        .withColumn("pack_id", chunk_of(start))
        .withColumn(
            "n_chunks",
            F.when(toks <= 0, F.lit(0).cast("bigint")).otherwise(
                chunk_of(end) - chunk_of(start) + 1
            ),
        )
    )


def mixture_sql(
    id_expr: str,
    key_expr: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    salt: str = "mix-v1",
) -> str:
    """DuckDB predicate matching :func:`mixture_sample`'s keep-filter."""
    b = bucket_sql(id_expr, salt)
    whens = " ".join(
        f"WHEN {key_expr} = '{k}' THEN {int(v * NUM_BUCKETS)}" for k, v in rates.items()
    )
    return f"{b} < (CASE {whens} ELSE {int(default_rate * NUM_BUCKETS)} END)"


def stratified_topn(
    df: DataFrame,
    stratum_col: str,
    id_col: str,
    n: int,
    salt: str = "strat-v1",
) -> DataFrame:
    """Class-balanced downsample: keep exactly ``min(n, class size)`` rows
    per stratum, chosen by deterministic md5 rank over (id, salt) — the
    class-rebalancing step of a training-data pipeline (cap the dominant
    class instead of sampling a fraction of it like :func:`mixture_sample`).

    Idempotent under retries and repartitioning (rank depends only on row
    identity), and engine-portable (the oracle replays the same md5 order).
    One shuffle keyed on the stratum; per-class parallelism. A single
    pathological mega-class serializes its own sort — at that skew, cap the
    class first with a cheap ``hash < threshold`` pre-filter sized from
    ``n / class_count``, then rank the survivors.
    """
    from pyspark.sql import Window

    key = F.md5(F.concat(_as_col(id_col).cast("string"), F.lit(salt)))
    w = Window.partitionBy(stratum_col).orderBy(key.asc(), _as_col(id_col).asc())
    return (
        df.withColumn("strat_rank", F.row_number().over(w))
        .filter(F.col("strat_rank") <= n)
    )


def temperature_mixture(
    df: DataFrame,
    id_col: str,
    key_col: str,
    target_rows: int,
    salt: str = "temp-v1",
) -> DataFrame:
    """Temperature-scaled source mixture (T=2, the multilingual-corpus
    rebalancing rule: sample source s with probability proportional to
    ``n_s^(1/2)``, so small corpora are upweighted without letting any
    corpus dominate).

    Unlike :func:`mixture_sample`, the rates are DERIVED FROM THE DATA, so
    cross-engine determinism needs care: ``sqrt`` is IEEE-exact in every
    engine, but a float normalizer would make integer thresholds flip on
    ulp boundaries. So weights quantize to integer milli-units FIRST
    (``floor(sqrt(n_s) * 1000)``), the normalizer is an order-free integer
    SUM, and each per-source keep threshold is pure integer arithmetic:
    ``(target * w_s * 256) DIV (W * n_s)``, capped at 256. Rows keep by
    md5-bucket < threshold — deterministic, idempotent under retries, and
    reproducible bit-for-bit in the oracle.

    Plan shape: per-source counts are one partial-aggregated pass; the
    threshold table is O(sources) and broadcast back; the keep filter is a
    map-side probe. Zero driver-side state.
    """
    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("__n"))
    w = F.floor(F.sqrt(F.col("__n")) * 1000).cast("bigint")
    weights = counts.select(key_col, "__n", w.alias("__w"))
    from pyspark.sql import Window

    # NB: SQL identifiers in expr() are case-insensitive — the normalizer
    # must not be named "__W" or it collides with "__w"
    weights = weights.withColumn(
        "__wsum", F.sum("__w").over(Window.partitionBy(F.lit(1)))
    )
    # DECIMAL(38,0) arithmetic: target * w * 256 overflows int64 once
    # per-source counts reach ~1e12 rows (ANSI mode would throw); exact
    # integer division in 38-digit decimals matches DuckDB's HUGEINT twin
    thresh = F.least(
        F.expr(
            f"CAST((CAST({int(target_rows)} AS DECIMAL(38,0)) * __w * "
            f"{NUM_BUCKETS}) DIV (CAST(__wsum AS DECIMAL(38,0)) * __n) "
            "AS BIGINT)"
        ),
        F.lit(NUM_BUCKETS).cast("bigint"),
    )
    thresholds = weights.select(key_col, "__n", thresh.alias("__thresh"))
    kept = df.join(F.broadcast(thresholds), on=key_col).filter(
        hash_bucket(id_col, salt) < F.col("__thresh")
    )
    return (
        kept.groupBy(key_col, "__n", "__thresh")
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .select(
            F.col(key_col),
            F.col("__n").alias("n_total"),
            F.col("__thresh").cast("int").alias("keep_threshold"),
            "n_kept",
        )
    )


def temperature_mixture_sql(
    id_expr: str,
    key_expr: str,
    target_rows: int,
    salt: str = "temp-v1",
    table: str = "documents",
) -> str:
    """DuckDB SQL reproducing :func:`temperature_mixture` exactly — same
    integer milli-unit weights, order-free integer normalizer, DIV
    thresholds, and md5 buckets."""
    b = bucket_sql(id_expr, salt)
    return f"""
    WITH counts AS (
      SELECT {key_expr} AS k, COUNT(*) AS n FROM {table} GROUP BY 1
    ), weights AS (
      SELECT k, n, CAST(floor(sqrt(n) * 1000) AS BIGINT) AS w FROM counts
    ), norm AS (SELECT SUM(w) AS wsum FROM weights),
    thresholds AS (
      SELECT k, n,
             LEAST(CAST((CAST({int(target_rows)} AS HUGEINT) * w * {NUM_BUCKETS})
                        // (CAST(norm.wsum AS HUGEINT) * n) AS BIGINT),
                   {NUM_BUCKETS}) AS thresh
      FROM weights CROSS JOIN norm
    )
    SELECT t.{key_expr} AS {key_expr}, th.n AS n_total,
           CAST(th.thresh AS INT) AS keep_threshold,
           COUNT(*) AS n_kept
    FROM {table} t JOIN thresholds th ON t.{key_expr} = th.k
    WHERE {b} < th.thresh
    GROUP BY 1, 2, 3
    """


def epoch_upsample(
    df: DataFrame,
    id_col: str | Column,
    n_epochs: Column,
    salt: str = "epoch-v1",
) -> DataFrame:
    """Quality-weighted epoch upsampling: repeat each row ``n_epochs`` times
    (a per-row Column, e.g. 1–4 epochs from a quality score — the
    repeat-good-data-more recipe of modern pretraining mixtures), stamping
    each copy with ``copy_idx`` and a deterministic per-copy ``sample_key``
    = md5(id ':' copy_idx salt). Sorting by sample_key yields a reproducible
    global shuffle in which the copies of one document scatter instead of
    clumping — no RNG, no permutation table, retry-idempotent.

    ``n_epochs < 1`` (or NULL) means "drop this document" — the natural
    zero of a quality-weighted mixture. The fan-out is guarded: a bare
    ``sequence(1, n)`` DESCENDS for n < 1 (Spark ``sequence(1, 0)`` is
    ``[1, 0]``), which would hand a zero-weighted doc TWO copies; instead
    the sequence is replaced by an empty array, and exploding an empty
    array drops the row (ADVICE r05).

    Plan shape: ``sequence() + posexplode`` — a purely columnar fan-out in
    the scan stage, zero shuffle (the optional global sort is the caller's
    one exchange). At 100 TB the fan-out multiplies bytes by the mean epoch
    count only; nothing collects and no state exists outside the row.
    """
    idc = _as_col(id_col)
    out = df.withColumn("n_epochs", n_epochs.cast("int"))
    fan = F.when(
        F.col("n_epochs") >= 1, F.sequence(F.lit(1), F.col("n_epochs"))
    ).otherwise(F.array().cast("array<int>"))
    out = out.select(
        "*", F.posexplode(fan).alias("_pos", "copy_idx")
    ).drop("_pos")
    key = F.md5(
        F.concat(idc.cast("string"), F.lit(":"), F.col("copy_idx").cast("string"), F.lit(salt))
    )
    return out.withColumn("sample_key", key)


def curriculum_phase(
    difficulty_col: str | Column, thresholds: tuple[int, ...]
) -> Column:
    """Map a difficulty score to a curriculum phase 1..len(thresholds)+1 by
    FIXED thresholds (phase 1 = easiest). Static boundaries instead of
    ntile(): a global ntile is a total-order window (single-partition sort
    at 100 TB), while a threshold bucket is a per-row expression in the
    scan stage — the curriculum designer picks boundaries once (from an
    approx-quantile profile run) and assignment stays embarrassingly
    parallel and stable as the corpus grows.
    """
    d = _as_col(difficulty_col)
    phase = F.lit(len(thresholds) + 1)
    for i, t in enumerate(reversed(thresholds)):
        phase = F.when(d < F.lit(t), F.lit(len(thresholds) - i)).otherwise(phase)
    return phase.cast("int")


def curriculum_schedule(
    df: DataFrame,
    id_col: str | Column,
    difficulty_col: str | Column,
    thresholds: tuple[int, ...],
    n_epochs: int,
    salt: str = "curr-v1",
) -> DataFrame:
    """Curriculum-ordered epoch schedule: easy documents first, harder ones
    phased in each epoch (Bengio et al. 2009's curriculum learning as a
    data-pipeline operator). Each row is assigned a ``phase`` by fixed
    difficulty thresholds, then fanned out to the epochs that include it —
    epoch ``e`` (1-based) trains on phases ``1..min(e, n_phases)``, so by
    epoch ``n_phases`` the full corpus participates. Every emitted copy is
    stamped with a deterministic ``sample_key`` = md5(id ':' epoch salt)
    for a reproducible within-epoch shuffle (same contract as
    :func:`epoch_upsample` — no RNG, retry-idempotent).

    Plan shape: phase assignment is a scan-stage expression; the epoch
    fan-out is ``sequence(phase..n_epochs) + posexplode`` (a row in phase p
    appears in epochs p..n_epochs), purely columnar, zero shuffle. At
    100 TB the output is at most ``n_epochs`` × input rows and each task
    fans out locally — no coordination, no skew (phase is not a shuffle
    key).
    """
    if n_epochs < 1:
        raise ValueError(f"n_epochs must be >= 1, got {n_epochs}")
    idc = _as_col(id_col)
    out = df.withColumn(
        "phase", curriculum_phase(difficulty_col, thresholds)
    )
    # phases beyond n_epochs never enter any epoch: empty-array fan-out
    # (the epoch_upsample descending-sequence guard, same ADVICE r05 bug
    # class — sequence(p, e) with p > e DESCENDS instead of being empty).
    fan = F.when(
        F.col("phase") <= F.lit(n_epochs),
        F.sequence(F.col("phase"), F.lit(n_epochs)),
    ).otherwise(F.array().cast("array<int>"))
    out = out.select("*", F.posexplode(fan).alias("_pos", "epoch")).drop("_pos")
    key = F.md5(
        F.concat(
            idc.cast("string"), F.lit(":"), F.col("epoch").cast("string"), F.lit(salt)
        )
    )
    return out.withColumn("sample_key", key)


def curriculum_sql(
    id_expr: str,
    difficulty_expr: str,
    thresholds: tuple[int, ...],
    n_epochs: int,
    salt: str = "curr-v1",
    table: str = "documents",
) -> str:
    """DuckDB SQL twin of :func:`curriculum_schedule` (pre-aggregation
    rows: id, phase, epoch, sample_key)."""
    cases = " ".join(
        f"WHEN {difficulty_expr} < {t} THEN {i + 1}"
        for i, t in enumerate(thresholds)
    )
    phase = f"(CASE {cases} ELSE {len(thresholds) + 1} END)"
    return f"""
    WITH fan AS (
      SELECT {id_expr} AS id, CAST({phase} AS INT) AS phase,
             CAST(UNNEST(generate_series({phase}, {n_epochs})) AS INT)
               AS epoch
      FROM {table} WHERE {phase} <= {n_epochs}
    )
    SELECT id, phase, epoch,
           md5(CAST(id AS VARCHAR) || ':' ||
               CAST(epoch AS VARCHAR) || '{salt}') AS sample_key
    FROM fan
    """
