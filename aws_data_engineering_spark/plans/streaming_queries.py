"""Streaming queries surfaced through the driver contract.

Each runs a real Structured Streaming query (``readStream`` → windowed agg →
memory sink, ``availableNow`` trigger) and returns the drained result as a
batch DataFrame — so the DuckDB oracle can check a genuine streaming
execution against the equivalent batch SQL. This is the strongest available
correctness statement for a stream: byte-identical results to batch over the
same input.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from aws_data_engineering_spark.operators import dedup as _D
from aws_data_engineering_spark.operators import sketch as _SK
from aws_data_engineering_spark.operators import text as _T
from aws_data_engineering_spark.plans.registry import register
from aws_data_engineering_spark.storage import scratch_dir
from aws_data_engineering_spark.streaming import (
    BLOOM_SHINGLE_N,
    read_events_stream,
    run_to_memory_sink,
    scaled_stream_shuffle,
    windowed_counts,
)

_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


@register(
    "st01_stream_tumbling_counts",
    f"""
    SELECT strftime(date_trunc('hour', ts), '{_FMT_DUCK}') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """,
    "Structured Streaming tumbling-window counts (readStream → availableNow → memory sink), oracle-checked against batch SQL",
)
def st01_stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = os.path.join(sf_dir, "events.parquet")
    stream = read_events_stream(spark, path)
    name = f"st01_{uuid.uuid4().hex[:8]}"
    # data-derived shuffle/state partitions for the stream's lifetime
    # (micro-batch shuffles can't be AQE-coalesced; see streams.py —
    # measured 2.2 s -> 0.94 s at sf0.1, no-op at cluster scale)
    with scaled_stream_shuffle(spark, path):
        return run_to_memory_sink(
            windowed_counts(stream, "1 hour"), name, "complete"
        )


@register(
    "st02_stream_attribution_join",
    f"""
    SELECT p.event_id AS purchase_id,
           p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
           c.event_id AS click_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 30 MINUTES
    """,
    "stream-stream interval join (purchase←click attribution window), run "
    "as a real streaming execution and oracle-checked against batch SQL",
)
def st02_stream_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_data_engineering_spark.streaming import purchase_click_attribution

    path = os.path.join(sf_dir, "events.parquet")
    stream = read_events_stream(spark, path)
    name = f"st02_{uuid.uuid4().hex[:8]}"
    with scaled_stream_shuffle(spark, path):
        return run_to_memory_sink(
            purchase_click_attribution(stream, attribution_minutes=30),
            name,
            "append",
        )


@register(
    "st03_stream_exactly_once_dedup",
    f"""
    SELECT event_id, user_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS event_ts,
           value
    FROM events WHERE ts IS NOT NULL
    """,
    "at-least-once stream (source unioned with itself = every event delivered "
    "twice) collapsed to exactly-once via dropDuplicatesWithinWatermark; "
    "oracle: the original batch table, byte-identical",
)
def st03_stream_exactly_once_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F

    from aws_data_engineering_spark.streaming import dedup_stream

    path = os.path.join(sf_dir, "events.parquet")
    # two independent readStream sources over the same files — a real
    # duplicated-delivery stream, not a batch-side copy
    doubled = read_events_stream(spark, path).union(read_events_stream(spark, path))
    # NULL-ts rows excluded on both sides: the watermarked dedup state's
    # treatment of NULL event time is implementation-defined (review r6)
    doubled = doubled.filter(F.col("ts").isNotNull())
    deduped = dedup_stream(doubled, keys=["event_id"], watermark="2 hours")
    out = deduped.select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("event_ts"),
        "value",
    )
    name = f"st03_{uuid.uuid4().hex[:8]}"
    with scaled_stream_shuffle(spark, path):
        return run_to_memory_sink(out, name, "append")


@register(
    "st04_stream_static_enrichment",
    """
    SELECT c_mktsegment, event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment, event_type
    """,
    "stream-static join: events stream enriched against the static customer "
    "dim (broadcast — re-resolved per micro-batch, no stream-side shuffle) "
    "then aggregated; oracle-checked against the batch join",
)
def st04_stream_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F

    from aws_data_engineering_spark.sources.tables import load_table

    path = os.path.join(sf_dir, "events.parquet")
    stream = read_events_stream(spark, path)
    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    enriched = stream.join(
        F.broadcast(dim), stream.user_id == dim.c_custkey, "inner"
    )
    agg = enriched.groupBy("c_mktsegment", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    name = f"st04_{uuid.uuid4().hex[:8]}"
    with scaled_stream_shuffle(spark, path):
        return run_to_memory_sink(agg, name, "complete")


@register(
    "st05_stream_sliding_counts",
    f"""
    WITH e AS (SELECT ts, event_type, value,
                      time_bucket(INTERVAL '30 minutes', ts) AS tb
               FROM events WHERE ts IS NOT NULL),
         w AS (
           SELECT tb AS ws, event_type, value FROM e
           UNION ALL
           SELECT tb - INTERVAL 30 MINUTE AS ws, event_type, value FROM e
         )
    SELECT strftime(ws, '{_FMT_DUCK}') AS window_start, event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM w GROUP BY 1, 2
    """,
    "Structured Streaming sliding-window counts (1h window, 30min slide — "
    "each event feeds two open windows); oracle replicates the overlap by "
    "unioning the two shifted 30-min buckets per event",
)
def st05_stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = os.path.join(sf_dir, "events.parquet")
    stream = read_events_stream(spark, path)
    name = f"st05_{uuid.uuid4().hex[:8]}"
    with scaled_stream_shuffle(spark, path):
        return run_to_memory_sink(
            windowed_counts(stream, "1 hour", slide="30 minutes"),
            name,
            "complete",
        )


_ST07_ROWS = 5000


from aws_data_engineering_spark.sources.python_datasource import (  # noqa: E402
    synthlog_oracle_sql,
)

_ST07_ORACLE = """
    WITH synthlog AS ({SRC})
    SELECT level,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(bucket) AS BIGINT) AS bucket_sum,
           CAST(MIN(id) AS BIGINT) AS first_id
    FROM synthlog GROUP BY level
""".replace("{SRC}", synthlog_oracle_sql(5000).strip())


@register(
    "st07_stream_python_datasource",
    _ST07_ORACLE,
    "streaming side of the Python Data Source API: offset-tracked "
    "micro-batches from the synthlog connector drained to a memory sink, "
    "then aggregated; the oracle regenerates the exact table, so a lost or "
    "duplicated micro-batch fails the hash check",
)
def st07_stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F

    from aws_data_engineering_spark.sources.python_datasource import (
        drain_stream_to_memory,
        read_synthlog_stream,
    )

    stream = read_synthlog_stream(spark, rows=_ST07_ROWS, batch=1024)
    name = f"st07_{uuid.uuid4().hex[:8]}"
    drained = drain_stream_to_memory(stream, name, expected_rows=_ST07_ROWS)
    return drained.groupBy("level").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("bucket").cast("bigint").alias("bucket_sum"),
        F.min("id").alias("first_id"),
    )


@register(
    "st08_stream_cdc_upsert",
    """
    SELECT user_id, event_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS event_ts,
           value
    FROM events
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id) = 1
    """,
    "streaming CDC apply end-to-end: events stream -> foreachBatch "
    "latest-by-key collapse -> MERGE upsert into a lake table -> read the "
    "converged table back; the oracle is the batch latest-event-per-user, "
    "so a dropped/duplicated/mis-merged key fails the hash (the streaming "
    "twin of the reference's W5 curated-upsert strategy)",
)
def st08_stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F

    from aws_data_engineering_spark.streaming import stream_upsert_sink

    path = os.path.join(sf_dir, "events.parquet")
    stream = read_events_stream(spark, path)
    base = scratch_dir("st08")
    with scaled_stream_shuffle(spark, path):
        q = stream_upsert_sink(
            stream,
            os.path.join(base, "user_latest"),
            primary_key=["user_id"],
            order_col="ts",
            tiebreak_col="event_id",
            checkpoint_dir=os.path.join(base, "ckpt"),
        )
        q.awaitTermination()
    table = spark.read.parquet(os.path.join(base, "user_latest"))
    return table.select(
        "user_id",
        "event_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("event_ts"),
        "value",
    )


@register(
    "st11_stream_partial_rollup",
    f"""
    SELECT strftime(date_trunc('hour', ts), '{_FMT_DUCK}') AS bucket_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """,
    "streaming continuous aggregate via per-batch partials + merge-on-"
    "read: each micro-batch writes decomposable (bucket, type) partial "
    "count/sum rows to its own batch partition, readers re-aggregate — the third "
    "maintenance strategy beside c04's recompute-overwrite and st08's "
    "MERGE; the oracle is the single-pass batch aggregate, so the hash "
    "match proves partial-merge == full recompute",
)
def st11_stream_partial_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_data_engineering_spark.streaming import (
        read_rollup_view,
        stream_partial_rollup_sink,
    )

    path = os.path.join(sf_dir, "events.parquet")
    stream = read_events_stream(spark, path)
    base = scratch_dir("st11")
    with scaled_stream_shuffle(spark, path):
        q = stream_partial_rollup_sink(
            stream,
            os.path.join(base, "partials"),
            checkpoint_dir=os.path.join(base, "ckpt"),
        )
        q.awaitTermination()
    view = read_rollup_view(spark, os.path.join(base, "partials"))
    from pyspark.sql import functions as F

    return view.select(
        "bucket_start",
        "event_type",
        "n_events",
        F.col("total_value"),
    )


@register(
    "st14_stream_qdigest_quantiles",
    # EXACTLY q100's oracle: the streaming sketch is bit-identical to the
    # batch sketch over the same rows — leaf histograms (the mergeable
    # partial) sum exactly across micro-batches, and the compression is
    # canonical-after-merge (merge == rebuild, pytest-pinned in
    # tests/test_sketch.py)
    _SK.qdigest_oracle_sql(),
    "STREAMING mergeable q-digest: orders fed as 3 files, each micro-"
    "batch writes its leaf histogram to its own batch partition (no state store, "
    "no history re-scan), merge-on-read sums the partials and compresses "
    "once — the streaming sketch hash-matches the BATCH q-digest oracle "
    "bit-for-bit, the strongest possible statement of mergeability",
)
def st14_stream_qdigest_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from aws_data_engineering_spark.sources.tables import load_table
    from aws_data_engineering_spark.streaming import (
        read_orders_stream,
        read_qdigest_view,
        stream_qdigest_partial_sink,
        write_bucketed_feed,
    )

    orders = load_table(spark, sf_dir, "orders")
    base = scratch_dir("st14")
    in_dir = os.path.join(base, "in")
    # three orderkey-class files -> a genuinely multi-batch availableNow
    # run, built in ONE orders scan (write_bucketed_feed; mtimes stamped:
    # FileStreamSource has no tie-break on equal modification times)
    write_bucketed_feed(
        orders,
        F.pmod(F.coalesce(F.col("o_orderkey"), F.lit(0)), F.lit(3)),
        in_dir,
    )
    stream = read_orders_stream(spark, in_dir, max_files_per_trigger=1)
    with scaled_stream_shuffle(spark, in_dir):
        q = stream_qdigest_partial_sink(
            stream,
            "o_totalprice",
            partials_dir=os.path.join(base, "partials"),
            checkpoint_dir=os.path.join(base, "ckpt"),
        )
        q.awaitTermination()
    leaves = read_qdigest_view(spark, os.path.join(base, "partials"))
    # compression + report fused into ONE Arrow stage over the merged
    # domain-bounded partials (same kernel as q100 — merge == rebuild)
    return _SK.qdigest_report_from_leaves(leaves, (0.25, 0.5, 0.75, 0.9, 0.99))


@register(
    "st15_stream_count_min_sketch",
    # EXACTLY the batch CMS oracle (shared builder with t28): per-batch
    # cell partials are counters, so their sum IS the sketch of the full
    # stream — the streaming report must hash-match the batch report
    _T.cms_report_oracle_sql(),
    "STREAMING mergeable count-min sketch: documents fed as 3 files, each "
    "micro-batch writes its (r, bucket, cell) CMS partial + its token "
    "census to its own batch partition (no state store, no history re-scan); "
    "merge-on-read sums both and the top-20 frequency report hash-matches "
    "the BATCH count-min sketch bit-for-bit — the st11/st14 per-batch "
    "partial pattern on a third sketch family",
)
def st15_stream_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from aws_data_engineering_spark.sources.tables import load_table
    from aws_data_engineering_spark.streaming import (
        CMS_DEPTH,
        read_cms_views,
        read_documents_stream,
        stream_cms_partial_sink,
        write_bucketed_feed,
    )

    docs = load_table(spark, sf_dir, "documents")
    base = scratch_dir("st15")
    in_dir = os.path.join(base, "in")
    # three doc_id-class files -> a genuinely multi-batch availableNow
    # run, built in ONE documents scan (write_bucketed_feed)
    write_bucketed_feed(
        docs,
        F.pmod(F.coalesce(F.col("doc_id"), F.lit(0)), F.lit(3)),
        in_dir,
    )
    stream = read_documents_stream(spark, in_dir, max_files_per_trigger=1)
    with scaled_stream_shuffle(spark, in_dir):
        q = stream_cms_partial_sink(
            stream,
            "text",
            partials_dir=os.path.join(base, "partials"),
            checkpoint_dir=os.path.join(base, "ckpt"),
        )
        q.awaitTermination()
    cells, tc = read_cms_views(spark, os.path.join(base, "partials"))
    # the one shared report definition (operators/text.py) — t28's batch
    # form and this streaming form cannot drift apart
    return _T.cms_report(tc, cells, CMS_DEPTH, topk=20)


_ST16_BENCH = ("src0", "src1")
_ST16_IN = "('" + "', '".join(_ST16_BENCH) + "')"


@register(
    "st16_stream_bloom_filter",
    # EXACTLY d11's oracle: OR-merged per-batch bit sets must equal the
    # batch-built filter (bits(A ∪ B) = bits(A) ∪ bits(B)), so the whole
    # contamination report — false positives included — hash-matches the
    # batch Bloom oracle
    _D.bloom_oracle_sql(_ST16_IN, shingle_n=BLOOM_SHINGLE_N),
    "STREAMING mergeable Bloom filter: benchmark docs fed as 3 files, each "
    "micro-batch writes its distinct Bloom bit positions + gram set to its "
    "own batch partition (filters merge by OR = DISTINCT union, bounded by "
    "m=2^16); the merged filter probes the candidate corpus and the full "
    "contamination report — false positives included — hash-matches the "
    "batch d11 oracle bit-for-bit; the per-batch-partial pattern on a "
    "fourth sketch family (OR-merge)",
)
def st16_stream_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from aws_data_engineering_spark.sources.tables import load_table
    from aws_data_engineering_spark.streaming import (
        read_bloom_views,
        read_documents_stream,
        stream_bloom_partial_sink,
        write_bucketed_feed,
    )

    docs = load_table(spark, sf_dir, "documents")
    bench_pred = F.col("source").isin(*_ST16_BENCH)
    base = scratch_dir("st16")
    in_dir = os.path.join(base, "in")
    # three doc_id-class files of BENCHMARK docs -> multi-batch filter
    # build, in ONE documents scan (write_bucketed_feed)
    write_bucketed_feed(
        docs.filter(bench_pred),
        F.pmod(F.coalesce(F.col("doc_id"), F.lit(0)), F.lit(3)),
        in_dir,
    )
    stream = read_documents_stream(spark, in_dir, max_files_per_trigger=1)
    with scaled_stream_shuffle(spark, in_dir):
        q = stream_bloom_partial_sink(
            stream,
            "text",
            partials_dir=os.path.join(base, "partials"),
            checkpoint_dir=os.path.join(base, "ckpt"),
        )
        q.awaitTermination()
    grams, bits = read_bloom_views(spark, os.path.join(base, "partials"))
    # lazy: bloom_probe is single-pass, so the corpus gram fan-out has one
    # consumer and never needs materializing (the 100×-measured st16 cost)
    cand = _D._gram_fanout(
        docs.filter(~bench_pred), "doc_id", "text", BLOOM_SHINGLE_N
    )
    out = _D.bloom_probe(cand, grams, bits)
    return out.withColumnRenamed("id", "doc_id")


# --------------------------------------------------------------------------
# st17 — CUSTOM stateful sessionization as a driver-checked query (round
# 7): q25's inactivity-gap sessions computed by applyInPandasWithState —
# the per-key state machine form (§2b "custom stateful operators"), where
# st06 is the ENGINE-managed session_window twin. State per user is four
# scalars (O(active users), never O(events)); sessions are emitted when a
# later event breaks the gap or the event-time timeout fires. The corpus
# is fed as three TIME-RANGE files (state correctness requires per-user
# arrival in time order, which disjoint ranges guarantee at any SF) plus
# a far-future sentinel file, so the final watermark advance times out
# every open session and the emitted set equals the batch gaps-and-islands
# result EXACTLY — hash-checked, not subset-checked. Event values are
# quantized to integer cents BEFORE the state machine so the Python
# accumulator and the oracle's SUM are both exact (no float-order drift).
# --------------------------------------------------------------------------
_ST17_CUTS = ("2024-01-11", "2024-01-21")
_ST17_SENTINEL_NS = 1_740_787_200_000_000_000  # 2025-03-01 UTC, past any fixture
_ST17_FEED_FILES = 8  # files per time-range feed batch (parallel write)


@register(
    "st17_stream_stateful_sessions",
    """
    WITH ev AS (
      SELECT user_id, ts, event_id,
             CAST(COALESCE(FLOOR(value * 100), 0) AS DOUBLE) AS cents
      FROM events WHERE ts IS NOT NULL
    ), flagged AS (
      SELECT user_id, ts, event_id, cents,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000
                  THEN 1 ELSE 0 END AS new_session
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      -- event_id tiebreak on the cumulative window too: without it, tied
      -- timestamps could be summed in either order and a tied row lands
      -- nondeterministically in the previous session
      SELECT user_id, ts, cents,
             SUM(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           SUM(cents) AS session_value
    FROM sessions GROUP BY user_id, session_id
    """,
    "custom stateful streaming sessionization (applyInPandasWithState, "
    "30-min gap, event-time timeout): three time-range feed files + a "
    "sentinel flush so the emitted session set hash-matches the batch "
    "gaps-and-islands oracle exactly; per-user state is four scalars",
)
def st17_stream_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from aws_data_engineering_spark.sources.tables import load_table
    from aws_data_engineering_spark.streaming import (
        sessionize_with_state,
        stamp_feed_mtimes,
        write_bucketed_feed,
    )

    events = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    feed = events.withColumn("ts", F.unix_micros("ts") * F.lit(1000))
    base = scratch_dir("st17")
    in_dir = os.path.join(base, "in")
    lo = F.lit(_ST17_CUTS[0]).cast("timestamp")
    hi = F.lit(_ST17_CUTS[1]).cast("timestamp")
    # integer DIV, not double /: double division loses precision above
    # 2^53 ns — the exact pitfall read_events_stream's docstring calls out
    t = F.timestamp_micros(F.expr("ts DIV 1000"))
    # ONE events scan builds all three time-range batches (the round-8
    # form paid 3 scan+filter+write passes; write_bucketed_feed keeps the
    # K-files-per-range micro-batch alignment via a deterministic
    # event_id sub-split, pads short ranges to exactly K schema-only
    # files, and raises if a range would exceed K — a later range's file
    # pulled into an earlier batch could deliver a user's events out of
    # time order, so the count invariant stays asserted). Within-batch
    # file order/row placement is free: the state fn sorts each batch.
    bucket = F.when(t < lo, 0).when(t < hi, 1).otherwise(2)
    write_bucketed_feed(
        feed,
        bucket,
        in_dir,
        n_batches=3,
        files_per_bucket=_ST17_FEED_FILES,
        sub_expr=F.pmod(
            F.xxhash64(F.coalesce(F.col("event_id"), F.lit(0))),
            F.lit(_ST17_FEED_FILES),
        ),
    )
    import glob as _glob

    seen: set = set(_glob.glob(os.path.join(in_dir, "*")))
    # sentinel: one far-future event for user -1 — the final batch advances
    # the watermark past every real session's (last + gap), so the
    # event-time timeout flushes ALL open sessions; user -1's own session
    # never closes and is filtered below
    spark.createDataFrame(
        [(int(1e9), _ST17_SENTINEL_NS, -1, "sentinel", 0.0, None)],
        "event_id bigint, ts bigint, user_id bigint, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("append").parquet(in_dir)
    seen = stamp_feed_mtimes(in_dir, seen, 3)

    stream = read_events_stream(
        spark, in_dir, max_files_per_trigger=_ST17_FEED_FILES
    )
    stream = stream.withColumn(
        "value",
        F.coalesce(F.floor(F.col("value") * 100).cast("double"), F.lit(0.0)),
    )
    sess = sessionize_with_state(stream, gap_minutes=30, watermark="0 seconds")
    name = f"st17_{uuid.uuid4().hex[:8]}"
    # 64k-record Arrow batches for the state exchange: the default 10k
    # chunks the ~100k-row per-partition micro-batch into 10+ Arrow
    # batches, and every group straddling a chunk boundary pays an extra
    # per-group pandas concat inside pyspark's serializer. Measured at
    # 100× (SCALING_r08): stream phase 138s -> 112s. Set/restore around
    # the drain so the session-wide setting is untouched.
    arrow_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev_arrow = spark.conf.get(arrow_key, None)
    spark.conf.set(arrow_key, "65536")
    try:
        out = run_to_memory_sink(sess, name, "append")
    finally:
        if prev_arrow is None:
            spark.conf.unset(arrow_key)
        else:
            spark.conf.set(arrow_key, prev_arrow)
    return out.filter(F.col("user_id") >= 0).select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "session_start"
        ),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "session_end"
        ),
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("session_value").alias("session_value"),
    )


# --------------------------------------------------------------------------
# st18 — transformWithStateInPandas as a DRIVER-CHECKED query (round 9,
# VERDICT r08 #8): Spark 4's arbitrary-state API (typed ValueState
# handles, the successor to applyInPandasWithState) running a per-user
# integer-cents running aggregate, registered with a bit-exact batch
# oracle. Two environment boundaries are crossed in-query:
#
#   1. protobuf: the JVM<->Python state server speaks protobuf, absent
#      from PyPI here; compat.export_protobuf_to_workers() path-shims
#      the cloud-sdk vendored 6.32 runtime into the LIVE session's
#      Python workers via sc.environment["PYTHONPATH"] — PySpark ships
#      sc.environment as per-function envVars and PythonWorkerFactory
#      keys worker pools on them, so the already-running JVM spawns a
#      fresh daemon that sees the shim (round 8's addPyFile probe failed
#      because the state server boots before pyfile roots install; this
#      route works — probed round 9).
#   2. state store: transformWithState needs multi-column-family state;
#      the conf flips to RocksDBStateStoreProvider for the run and is
#      restored after.
#
# Values are floor-quantized to integer cents BEFORE the state machine
# (the st17 lesson) so the Python accumulator and SQL SUM are both exact;
# update-mode emissions collapse to the final state per user by max
# n_events (n strictly increases whenever a user appears in a batch).
# State is two int64s per user — O(active users), sharded by the group
# key exactly as the state store shards at cluster scale. st17 proves
# the multi-batch/timeout mechanics of custom state; st18 proves the
# transformWithState PROTOCOL end-to-end under the driver's own session.
# --------------------------------------------------------------------------
@register(
    "st18_stream_transform_with_state",
    """
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM events
    WHERE user_id IS NOT NULL AND value IS NOT NULL
    GROUP BY user_id
    """,
    "transformWithStateInPandas (Spark 4 arbitrary-state API) per-user "
    "running totals as a driver-checked query: vendored-protobuf shim "
    "exported to the live session's workers, RocksDB state store, "
    "integer-cents state — final emissions hash-match the batch oracle",
)
def st18_stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F

    from aws_data_engineering_spark.compat import export_protobuf_to_workers
    from aws_data_engineering_spark.streaming import (
        read_events_stream,
        run_to_memory_sink,
        running_user_totals_cents,
    )

    if not export_protobuf_to_workers(spark):
        raise RuntimeError(
            "no google.protobuf runtime (real or vendored) on this host — "
            "transformWithStateInPandas cannot start its state server"
        )
    stream = read_events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    name = f"st18_{uuid.uuid4().hex[:8]}"
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        mem = run_to_memory_sink(
            running_user_totals_cents(stream), name, "update"
        )
    finally:
        if prev is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev)
    return mem.groupBy("user_id").agg(
        F.max("n_events").cast("bigint").alias("n_events"),
        F.max_by("total_cents", "n_events").cast("bigint").alias("total_cents"),
    )


# --------------------------------------------------------------------------
# st19 — STREAMING incremental ANN index ingest (round 10, VERDICT r09
# #6): s16's batch append composed with the st08/st11 foreachBatch
# pattern — embeddings arrive as a 3-file stream (maxFilesPerTrigger=1 →
# three genuine micro-batches), each batch is encoded with the EXISTING
# coarse quantizer + PQ codebook (no retrain — the faiss add() contract)
# and written to its own batch_id=<n>/list_id=<k> inverted-list partition;
# the probe over the merged cold read-back must hash-match a from-scratch
# IVFPQ over the full corpus (ivfpq_scores_cte_sql), i.e. STREAMING
# ingest == rebuild IS the oracle, closing the loop batch-ingest (s16)
# left open. A replayed batch overwrites its own batch partition
# (streams.write_batch_partition), so the reader needs no dedup. Scale:
# each micro-batch pays O(|batch|) encode + write; index files stay
# one-per-list-per-batch; probe work is bounded by the probed lists —
# identical posture to s16, now with streaming arrival.
# --------------------------------------------------------------------------
def _st19_oracle() -> str:
    from aws_data_engineering_spark.operators import similarity as SIM

    cte = SIM.ivfpq_scores_cte_sql(
        SIM._hyperplanes(dim=64, n_planes=16, seed=7),  # = s16/s08's planes
        m_sub=8,
        k_codes=16,
        subdim=8,
        n_probe=4,
        query_pred="vec_id < 10",
    )
    return f"""
    WITH {cte},
    topk AS ({SIM.adc_topk_sql(5)}),
    audit AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_indexed FROM embeddings)
    SELECT t.query_id, t.neighbor_id, t.adc_dist, t.rnk, a.n_indexed
    FROM topk t CROSS JOIN audit a
    """


@register(
    "st19_stream_ann_ingest",
    _st19_oracle(),
    "streaming incremental ANN index ingest: embeddings stream in three "
    "micro-batches, foreachBatch encodes each with the EXISTING codebook "
    "and writes its inverted-list partials to its own batch partition; "
    "the probe over the merged read-back hash-matches a from-scratch "
    "IVFPQ over the union corpus — streaming ingest == rebuild",
)
def st19_stream_ann_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from aws_data_engineering_spark.operators import similarity as SIM
    from aws_data_engineering_spark.sources.tables import load_table
    from aws_data_engineering_spark.streaming import (
        read_embeddings_stream,
        read_ivfpq_index,
        stream_ivfpq_ingest_sink,
        write_bucketed_feed,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = SIM._hyperplanes(dim=64, n_planes=16, seed=7)
    cb = SIM.pq_codebook(m_sub=8, k_codes=16, subdim=8)

    base = scratch_dir("st19")
    in_dir = os.path.join(base, "in")
    # three vec_id-class feed files -> a genuinely multi-batch availableNow
    # run, built in ONE embeddings scan (write_bucketed_feed; batch order
    # is irrelevant to the final index — batch partitions are commutative
    # and the audit never reads batch ids)
    write_bucketed_feed(emb, F.pmod(F.col("vec_id"), F.lit(3)), in_dir)

    stream = read_embeddings_stream(spark, in_dir, max_files_per_trigger=1)
    with scaled_stream_shuffle(spark, in_dir):
        q = stream_ivfpq_ingest_sink(
            stream,
            os.path.join(base, "index"),
            centroids,
            cb,
            checkpoint_dir=os.path.join(base, "ckpt"),
        )
        q.awaitTermination()

    encoded = read_ivfpq_index(spark, os.path.join(base, "index"))
    counts = encoded.groupBy().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_indexed")
    )
    probe = SIM.ivfpq_search_encoded(
        emb.filter(F.col("vec_id") < 10), encoded, centroids, cb, k=5, n_probe=4
    )
    return probe.crossJoin(F.broadcast(counts))
