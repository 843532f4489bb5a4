"""Structured Streaming surface over the events stream.

The reference is batch-only (no streaming anywhere in its 9 files —
SURVEY.md §2a); this module is part of the engine's §2b surface: the same
window logic the batch queries use (``plans/events_queries.py``), lifted onto
``readStream`` with watermarks, plus a custom stateful sessionization
operator via ``applyInPandasWithState`` (the Spark-native escape hatch for
operators the built-in window aggregates can't express — per-key inactivity
gaps with incremental state).

Scale posture:
- state is keyed by (window, event_type) or user_id — the same keys a
  1000-executor cluster shards its state store by; no global state.
- watermarks bound state size: late rows beyond the watermark are dropped,
  so state never grows with stream length, only with key cardinality.
- file sources at 100 TB: ``maxFilesPerTrigger`` bounds per-microbatch input,
  giving backpressure without any external system.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Iterator
from contextlib import contextmanager

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from aws_data_engineering_spark.storage import HadoopPath, partitions_for_paths

# Streaming sources require an explicit schema. ts is declared bigint so the
# INT64-physical parquet column reads as its raw integer value regardless of
# which logical annotation the fixture generation used (TIMESTAMP(NANOS),
# timestamp[us], or plain TIMESTAMP) — the unit is then resolved per-file by
# read_events_stream (see sources/tables.load_table for the batch-side twin).
EVENTS_DDL = "event_id bigint, ts bigint, user_id bigint, event_type string, value double, props string"

# Plausible-epoch window for the per-batch ts sanity check: a micros value
# misread as nanos lands in ~1970, a nanos value misread as micros lands
# millennia out — both far outside any window containing real event data.
_TS_SANITY_MIN = "1990-01-01"
_TS_SANITY_MAX = "2100-01-01"


@contextmanager
def scaled_stream_shuffle(spark: SparkSession, *feed_paths: str):
    """Scope ``spark.sql.shuffle.partitions`` to the feeds' data-derived
    count (``storage.partitions_for_paths``; the session count when a feed
    cannot be sized) for the duration of a stream's build+drain, restoring
    the session value after.

    Micro-batch shuffles cannot be AQE-coalesced, so a streaming query
    otherwise runs (and, for stateful operators, keeps state stores for)
    the full session partition count per batch however small the batch.
    Measured (interleaved A/B, quiet host, calibration 0.12 s): st01 at
    sf0.1 2.2 s median @32 partitions -> 0.94 s @4 / 0.99 s @1.

    The conf is read at stream START (it locks the state-store partition
    count into the checkpoint), so the scope must cover
    ``writeStream.start()``; every registered streaming query starts a
    fresh uuid-keyed checkpoint, so no restart-compat issue."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    parts = partitions_for_paths(spark, *feed_paths)
    if parts is not None:
        spark.conf.set(key, str(parts))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def read_events_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
    assume_ts_unit: str = "us",
) -> DataFrame:
    """``readStream`` over a directory (or file) of events parquet.

    Emits the batch-identical schema: raw INT64 ts converted to
    TimestampType. The raw unit depends on the fixture generation (nanos
    under TIMESTAMP(NANOS), micros under timestamp[us]/TIMESTAMP), so a
    footer-only batch probe of the same path decides the conversion: bigint
    view → nanos → integer-divide to micros (DIV, not double division — ns
    epoch exceeds double's 2^53 mantissa); timestamp view → already micros.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    probe_path = path
    if HadoopPath(spark, path).is_file():
        # FileStreamSource requires a directory or glob; a trailing '*'
        # turns a single-file path into a glob matching exactly that file
        path = path + "*"
    try:
        ts_view = dict(spark.read.parquet(probe_path).dtypes).get("ts")
    except Exception:
        # empty monitored directory: no footer to probe yet. Streams may
        # legitimately start before the first file lands (the explicit
        # schema exists precisely for that); the unit then comes from
        # ``assume_ts_unit`` ("us" default, "ns" for legacy
        # TIMESTAMP(NANOS) producers) — a probe can't see files that
        # haven't arrived, so pre-data starts must declare their encoding.
        ts_view = "bigint" if assume_ts_unit == "ns" else "timestamp_ntz"
    reader = spark.readStream.schema(EVENTS_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    df = reader.parquet(path)
    if ts_view == "bigint":
        converted = F.timestamp_micros(F.expr("ts DIV 1000"))
    else:
        converted = F.timestamp_micros(F.col("ts"))
    # The unit is resolved ONCE at stream start; single-encoding-per-directory
    # is a hard contract. If a file with the other encoding lands later, the
    # converted epoch is 1000× off — this range check turns that silent
    # corruption into a per-batch failure (JVM-codegen'd expression; null
    # passes through, anything outside the plausible window raises).
    in_range = converted.between(
        F.lit(_TS_SANITY_MIN).cast("timestamp"), F.lit(_TS_SANITY_MAX).cast("timestamp")
    )
    checked = F.when(converted.isNull() | in_range, converted).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "read_events_stream: converted ts outside "
                    f"[{_TS_SANITY_MIN}, {_TS_SANITY_MAX}] — the directory "
                    "likely mixes ns- and us-encoded files (single encoding "
                    "per directory is a hard contract); raw ts="
                ),
                F.col("ts").cast("string"),
            )
        )
    )
    return df.withColumn("ts", checked)


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling (or sliding, when ``slide`` is given) window counts + value
    sums — the streaming twin of q20/q21. Works on batch DataFrames too
    (watermark is a no-op there), so stream/batch parity is testable."""
    df = events
    if df.isStreaming:
        # bound state: windows older than (max event time - watermark) close
        # and can be evicted from the state store
        df = df.withWatermark("ts", watermark)
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        df.groupBy(w.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_window_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "0 seconds",
) -> DataFrame:
    """Engine-managed dynamic-gap session windows per user — the streaming
    form of q61 (and the declarative twin of ``sessionize_with_state``).

    In append mode a session only emits once the watermark passes its end
    (last event + gap): the engine must prove no further event can extend
    it. A drained file source never advances the watermark past its own
    last event, so the final sessions would stay in state forever — callers
    draining a bounded source must append a sentinel event whose timestamp
    exceeds ``max(ts) + gap`` (see st06) to flush them. This is inherent to
    session semantics, not an implementation wart: an unbounded stream has
    no "final" session.
    """
    df = events
    if df.isStreaming:
        df = df.withWatermark("ts", watermark)
    return (
        df.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# Custom stateful operator: inactivity-gap sessionization
# ---------------------------------------------------------------------------

_SESSION_OUT_DDL = (
    "user_id bigint, session_start timestamp, session_end timestamp, "
    "n_events bigint, session_value double"
)
_SESSION_STATE_DDL = "start bigint, last bigint, n bigint, total double"


def sessionize_with_state(
    events: DataFrame, gap_minutes: int = 30, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming sessionization via ``applyInPandasWithState``.

    Semantics match the batch q25 operator: a session is a maximal run of
    per-user events with < ``gap_minutes`` between consecutive events. A
    session is EMITTED when it closes — either a later event arrives past the
    gap, or the event-time timeout fires once the watermark passes
    session_end + gap (so the last session of a finite stream only flushes
    when the watermark advances past it).

    State per user is four scalars (start/last/n/total) — O(active users),
    not O(events); exactly how a production cluster holds millions of
    concurrent sessions.
    """
    fn = _session_fold_fn(gap_minutes)

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=_SESSION_OUT_DDL,
            stateStructType=_SESSION_STATE_DDL,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def _session_fold_fn(gap_minutes: int):
    """Factory for the per-group state fold (factory so the returned
    closure cloudpickles by value — the `_winnow_worker_fns` pattern — and
    so tests/test_round8.py can property-check the vectorized
    gaps-and-islands fold against a reference without a streaming query)."""
    gap_us = gap_minutes * 60 * 1_000_000

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # Per-group Python dispatch is the operator's whole cost at scale
        # (100×: 250k single-user groups × 4 batches — SCALING_r07 measured
        # 175s), so this body avoids pandas per-group machinery: no
        # pd.concat for the common single-chunk case, numpy lexsort instead
        # of DataFrame.sort_values, int64 column arrays instead of
        # per-element pandas Timestamp boxing, and a ts-only fast path for
        # the (typical) batch whose rows extend one open session.
        import numpy as np_w
        import pandas as pd_w

        (user_id,) = key
        closed: list[tuple] = []

        if state.hasTimedOut:
            if state.exists:
                start, last, n, total = state.get
                closed.append((user_id, start, last, n, total))
                state.remove()
        else:
            if state.exists:
                start, last, n, total = state.get
            else:
                start, last, n, total = None, None, 0, 0.0
            chunks = list(pdfs)
            rows = chunks[0] if len(chunks) == 1 else pd_w.concat(chunks)
            ts_us = rows["ts"].to_numpy("datetime64[ns]").astype("int64") // 1000
            vals = rows["value"].to_numpy("float64")
            order = np_w.lexsort((rows["event_id"].to_numpy(), ts_us))
            ts_us, vals = ts_us[order], vals[order]
            # gaps within this sorted batch (first element: vs open state)
            prev = np_w.empty_like(ts_us)
            prev[1:] = ts_us[:-1]
            prev[0] = last if last is not None else ts_us[0] - gap_us - 1
            breaks = np_w.flatnonzero(ts_us - prev > gap_us)
            if breaks.size == 0:
                # whole batch continues the open session — pure numpy fold
                last = int(ts_us[-1])
                n += ts_us.size
                total += float(vals.sum())
            else:
                bounds = np_w.append(breaks, ts_us.size)
                if breaks[0] > 0:
                    # head rows extend the open session before the 1st break
                    last = int(ts_us[breaks[0] - 1])
                    n += int(breaks[0])
                    total += float(vals[: breaks[0]].sum())
                if start is not None:
                    closed.append((user_id, start, last, n, total))
                for i in range(breaks.size):
                    b, e = int(bounds[i]), int(bounds[i + 1])
                    seg = (
                        user_id,
                        int(ts_us[b]),
                        int(ts_us[e - 1]),
                        e - b,
                        float(vals[b:e].sum()),
                    )
                    if i + 1 < breaks.size:
                        closed.append(seg)
                    else:  # the last segment stays open in state
                        start, last, n, total = seg[1], seg[2], seg[3], seg[4]
            state.update((start, last, n, total))
            # close the open session once the watermark passes last + gap
            state.setTimeoutTimestamp((last // 1000) + gap_minutes * 60 * 1000)

        if closed:
            yield pd_w.DataFrame(
                {
                    "user_id": np_w.array([c[0] for c in closed], dtype="int64"),
                    "session_start": np_w.array(
                        [c[1] for c in closed], dtype="datetime64[us]"
                    ),
                    "session_end": np_w.array(
                        [c[2] for c in closed], dtype="datetime64[us]"
                    ),
                    "n_events": np_w.array([c[3] for c in closed], dtype="int64"),
                    "session_value": [round(c[4], 2) for c in closed],
                }
            )

    return fn


def run_to_memory_sink(
    df: DataFrame, name: str, output_mode: str = "complete"
) -> DataFrame:
    """Drain a streaming DataFrame into an in-memory table with the
    ``availableNow`` trigger (process-everything-then-stop — the batch-like
    mode used for backfills) and return the result as a batch DataFrame."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.table(name)


# ---------------------------------------------------------------------------
# Streaming exactly-once dedup (at-least-once delivery -> exactly-once table)
# ---------------------------------------------------------------------------


def dedup_stream(
    events: DataFrame,
    keys: list[str] | tuple[str, ...] = ("event_id",),
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Collapse an at-least-once event stream to exactly-once semantics:
    the first arrival per ``keys`` is emitted, re-deliveries are dropped.

    Spark-native mapping: ``dropDuplicatesWithinWatermark`` keys the
    dedup state store by ``keys`` and — unlike plain ``dropDuplicates`` on
    a stream, whose state grows forever — evicts entries once the event-time
    watermark passes them. State is therefore bounded by (key cardinality x
    watermark horizon), not stream length: the property that lets this run
    indefinitely on a 1000-executor cluster. Duplicates arriving later than
    the watermark horizon are NOT caught (the standard streaming-dedup
    contract; size ``watermark`` to the source's redelivery window).
    """
    df = events.withWatermark(ts_col, watermark)
    return df.dropDuplicatesWithinWatermark(list(keys))


# ---------------------------------------------------------------------------
# foreachBatch sinks. foreachBatch is at-least-once: a crash between a
# batch's write and its commit-log entry makes the restarted query rerun
# that batch with the same batch_id. Every sink below starts through
# start_batch_sink, and every sink but the MERGE upsert (idempotent by key)
# writes through write_batch_partition, whose overwrite of batch_id=<n>
# makes the rerun replace what the first attempt wrote. Readers are then
# plain merges over all partitions.
# ---------------------------------------------------------------------------


def start_batch_sink(stream_df: DataFrame, fn, checkpoint_dir: str):
    """Start ``fn(batch_df, batch_id)`` on every micro-batch of
    ``stream_df`` with the ``availableNow`` trigger, its offsets and
    commits kept under ``checkpoint_dir``. Returns the started
    StreamingQuery (caller awaits)."""
    return (
        stream_df.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def write_batch_partition(
    df: DataFrame, out_dir: str, batch_id: int, *partition_cols: str
) -> None:
    """Write one micro-batch's partial table to ``<out_dir>/batch_id=<n>``
    in overwrite mode, so a replayed batch replaces its own partition
    instead of appending beside it. ``partition_cols`` nest below the
    batch partition. Reading ``out_dir`` recovers ``batch_id`` as a
    partition column."""
    path = os.path.join(out_dir, f"batch_id={batch_id}")
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


# ---------------------------------------------------------------------------
# Streaming upsert sink (CDC pattern: stream → collapse → MERGE per batch)
# ---------------------------------------------------------------------------


def stream_upsert_sink(
    stream_df: DataFrame,
    path: str,
    primary_key: list[str],
    order_col: str,
    tiebreak_col: str,
    checkpoint_dir: str,
    partition_col: str | None = None,
):
    """Continuously upsert a stream into a parquet lake table — the
    streaming twin of the reference's curated-upsert strategy (W5): each
    micro-batch is collapsed to its newest row per key (``latest_by_key``)
    and MERGEd into the target, so re-delivered or out-of-order rows within
    a batch can't fan out duplicate keys.

    Replay: the one sink that does not write through
    :func:`write_batch_partition`. MERGE is idempotent per (key, values),
    so a replayed batch converges to the same table.

    Cross-batch ordering: MERGE's update-all would let a LATER batch
    carrying an OLDER event overwrite a newer target row (micro-batches are
    file-ordered, not event-time-ordered). Before merging, the batch is
    anti-filtered against the current target: a source row survives only if
    its merge key is absent or it beats the existing row on (order_col
    DESC, tiebreak_col ASC). The comparison keys on the FULL merge key —
    primary_key plus partition_col when set (W5 semantics: the same
    business key in a new partition is a new row, and joining on the pk
    alone would fan out against every partition's row) — so with
    partition_col=None the converged table equals the global latest-by-key,
    and with a partition_col it equals the latest-by-(key, partition).

    Returns the started StreamingQuery (caller awaits/stops)."""
    from aws_data_engineering_spark.operators.dedup import latest_by_key
    from aws_data_engineering_spark.sources.writers import merge_upsert

    merge_keys = list(primary_key) + ([partition_col] if partition_col else [])

    def do_merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        collapsed = latest_by_key(batch_df, merge_keys, order_col, tiebreak_col)
        # the first-load probe merge_upsert uses: only a target holding no
        # visible entry skips the guard, and a target that exists but cannot
        # be read fails the batch here rather than merging unguarded
        if HadoopPath(spark, path).holds_visible_entry():
            target = spark.read.parquet(path)
            tgt = target.select(
                *[F.col(k).alias(f"__t_{k}") for k in merge_keys],
                F.col(order_col).alias("__t_ord"),
                F.col(tiebreak_col).alias("__t_tb"),
            )
            cond = [collapsed[k] == tgt[f"__t_{k}"] for k in merge_keys]
            joined = collapsed.join(tgt, cond, "left")
            newer = (
                F.col("__t_ord").isNull()
                | (F.col(order_col) > F.col("__t_ord"))
                | (
                    (F.col(order_col) == F.col("__t_ord"))
                    & (F.col(tiebreak_col) < F.col("__t_tb"))
                )
            )
            collapsed = joined.filter(newer).drop(
                "__t_ord", "__t_tb", *[f"__t_{k}" for k in merge_keys]
            )
        # cache: the plan below is evaluated by the emptiness probe AND by
        # merge_upsert's write (which would otherwise re-run the window +
        # target join + batch scan); unpersisted before return — do_merge
        # is terminal, so nothing leaks past the batch
        collapsed = collapsed.persist()
        try:
            if not collapsed.take(1):
                return
            merge_upsert(spark, collapsed, path, primary_key, partition_col)
        finally:
            collapsed.unpersist()

    return start_batch_sink(stream_df, do_merge, checkpoint_dir)


# ---------------------------------------------------------------------------
# Stream-stream interval join (attribution)
# ---------------------------------------------------------------------------


def purchase_click_attribution(
    events: DataFrame,
    attribution_minutes: int = 30,
    watermark: str = "1 hour",
    join_type: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: every (purchase, click) pair for the
    same user where the click landed within ``attribution_minutes`` before
    the purchase.

    Both sides are watermarked branches of the same stream; the interval
    condition lets Spark bound the join state — each side retains only
    watermark + interval of history per user, so state is O(recent events),
    not O(stream). Works identically on a batch DataFrame (condition-only
    join), which is how the parity test oracles it.

    ``join_type="leftOuter"`` additionally emits unattributed purchases
    with null click columns — but only once the click-side watermark
    proves no qualifying click can still arrive (st09); a bounded drain
    therefore needs sentinel events on BOTH branches to flush the tail."""
    half = events
    is_stream = events.isStreaming
    purchases = half.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    clicks = half.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    if is_stream:
        purchases = purchases.withWatermark("p_ts", watermark)
        clicks = clicks.withWatermark("c_ts", watermark)
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {attribution_minutes} MINUTES"))
    )
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return purchases.join(clicks, cond, join_type).select(
        "purchase_id",
        F.col("p_user").alias("user_id"),
        F.date_format("p_ts", fmt).alias("purchase_ts"),
        "click_id",
        F.date_format("c_ts", fmt).alias("click_ts"),
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user running event count + value total via
    ``transformWithStateInPandas`` — Spark 4's arbitrary-state API (the
    successor to ``applyInPandasWithState``): typed state handles
    (ValueState/ListState/MapState), TTL, and timers managed per key by the
    state store.

    Environment requirements (round 8: both SOLVED in this sandbox, the
    parity test is un-gated): (1) the transformWithState protocol speaks
    protobuf between the JVM and the Python state server — call
    ``compat.ensure_protobuf()`` BEFORE creating the SparkSession so the
    vendored runtime reaches the Python workers via PYTHONPATH; (2) the
    operator creates multiple state-store column families, which
    ``HDFSBackedStateStoreProvider`` rejects — set
    ``spark.sql.streaming.stateStore.providerClass`` to
    ``...state.RocksDBStateStoreProvider`` (rocksdbjni ships with Spark 4).
    Round 9 closed the last boundary: ``compat.export_protobuf_to_workers``
    reaches the workers of an ALREADY-RUNNING session via
    ``sc.environment["PYTHONPATH"]`` (shipped as per-function envVars), so
    the cents-exact twin below is driver-registered as st18.

    State here is one ValueState of two scalars per user — O(active users),
    sharded by the grouping key across executors exactly like the state
    store shards at cluster scale. Each micro-batch folds its rows into the
    state and emits the user's new running totals (output mode ``update``).

    The processor class is defined inside this function so cloudpickle
    ships it by value to Python workers (see operators/dedup.py for the
    same pattern and why module-level references break under sys.path
    imports).
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", "n bigint, total double")

        def handleInputRows(self, key, rows, timer_values):
            import pandas as pd_w

            n, total = 0, 0.0
            if self._totals.exists():
                n, total = self._totals.get()
            for pdf in rows:
                n += len(pdf)
                for v in pdf["value"]:
                    total += float(v)
            self._totals.update((n, total))
            yield pd_w.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [round(total, 2)],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        RunningTotals(),
        outputStructType="user_id bigint, n_events bigint, total_value double",
        outputMode="update",
        timeMode="none",
    )


def running_user_totals_cents(events: DataFrame) -> DataFrame:
    """:func:`running_user_totals`'s hash-checkable twin (round 9): the
    same ``transformWithStateInPandas`` running aggregate, but values are
    quantized to integer CENTS **before** the state machine (the st17
    lesson) — the Python accumulator and SQL ``SUM`` are then both exact,
    so the emitted totals are aggregation-order-proof and the query can be
    driver-registered with a bit-exact oracle (st18). NULL user_id/value
    rows are filtered symmetrically on both engines.

    State is one ValueState of two int64s per user — O(active users)."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningCents(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals", "n bigint, total_cents bigint"
            )

        def handleInputRows(self, key, rows, timer_values):
            import pandas as pd_w

            n, cents = 0, 0
            if self._totals.exists():
                n, cents = self._totals.get()
            for pdf in rows:
                n += len(pdf)
                cents += int(pdf["cents"].sum())
            self._totals.update((n, cents))
            yield pd_w.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_cents": [cents],
                }
            )

        def close(self) -> None:
            pass

    feed = (
        events.filter(F.col("user_id").isNotNull() & F.col("value").isNotNull())
        .select(
            "user_id",
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    return feed.groupBy("user_id").transformWithStateInPandas(
        RunningCents(),
        outputStructType="user_id bigint, n_events bigint, total_cents bigint",
        outputMode="update",
        timeMode="none",
    )


def run_to_file_sink(
    df: DataFrame, out_dir: str, checkpoint_dir: str, fmt: str = "parquet"
) -> None:
    """Drain a streaming DataFrame into Spark's transactional file sink.

    The file sink is the streaming path to a lake table with EXACTLY-ONCE
    output: every micro-batch's files are recorded in the sink's
    ``_spark_metadata`` log, and readers resolve the directory THROUGH
    that log — files from a failed/duplicated batch attempt are never
    visible, the same idempotence contract a Delta txn log provides.
    Restarting from the same checkpoint resumes without re-emitting."""
    q = (
        df.writeStream.format(fmt)
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_partial_rollup_sink(
    stream_df: DataFrame,
    path: str,
    checkpoint_dir: str,
):
    """Streaming continuous aggregate via per-batch partials + merge-on-
    read — the third maintenance strategy beside the batch rollup (c04,
    recompute-and-overwrite) and the streaming MERGE (st08, upsert-in-
    place): each micro-batch writes its own partial (hour bucket,
    event_type) count/sum rows into its ``batch_id=<n>`` partition
    (:func:`write_batch_partition`), and readers re-aggregate at query
    time. SUM/COUNT decompose losslessly over batch partials, so the merged
    view equals a single-pass aggregate over the whole stream, and a
    replayed batch replaces its partition rather than counting twice. No
    batch rewrites another batch's rows, so the sink needs no table locks;
    compaction (c10) bounds the partial-row count when batches are many.

    Returns the started StreamingQuery (caller awaits)."""

    def write_partials(batch_df: DataFrame, batch_id: int) -> None:
        partials = (
            batch_df.filter(F.col("ts").isNotNull())
            .groupBy(
                F.date_format(
                    F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss"
                ).alias("bucket_start"),
                "event_type",
            )
            .agg(
                F.count(F.lit(1)).alias("n_part"),
                F.sum("value").alias("sum_part"),
            )
        )
        write_batch_partition(partials, path, batch_id)

    return start_batch_sink(stream_df, write_partials, checkpoint_dir)


def read_rollup_view(spark, path: str) -> DataFrame:
    """Merge-on-read over the partials ``stream_partial_rollup_sink``
    writes: re-aggregate the decomposable partials into the final view."""
    partials = spark.read.parquet(path)
    return partials.groupBy("bucket_start", "event_type").agg(
        F.sum("n_part").alias("n_events"),
        F.round(F.sum("sum_part"), 2).alias("total_value"),
    )


DOCS_DDL = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)


def read_documents_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """``readStream`` over a directory of documents parquet (explicit
    schema, as every file source requires). ``maxFilesPerTrigger`` bounds
    per-microbatch input — the backpressure knob for a 100 TB landing
    zone."""
    reader = spark.readStream.schema(DOCS_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


# MinHash shape of the streaming dedup: the defaults of its st12 oracle,
# ``dedup.minhash_first_seen_oracle_sql``.
MINHASH_NUM_HASHES = 32
MINHASH_NUM_BANDS = 8


def stream_minhash_dedup_sink(
    docs_stream: DataFrame,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Streaming fuzzy dedup: each arriving document is kept iff no
    earlier-seen document shares any of its MinHash band buckets — the
    continuous-ingestion form of d04 ("is this new doc a near-dup of
    anything already in the corpus?"), which batch dedup can't answer
    without re-scanning the whole lake per increment.

    Per micro-batch:

    1. band rows for the batch — the JVM ``minhash_signature`` column
       through d04's band explode (``minhash_band_rows``), both pinned
       bit-exactly by d04's oracle (at 100 TB swap in the Arrow signature
       kernel of ``minhash_candidate_pairs``; identical output, measured
       6-8× faster per row);
    2. the earliest known holder of every touched bucket = min over the
       batch's own per-bucket minima and the state table (merge-on-read:
       state is per-batch (band, band_hash, first_doc) partitions,
       min-folded at read, never rewritten in place);
    3. verdict: ``kept = (earliest sharer across the doc's buckets ==
       doc_id)``, written to the batch's partition of ``out_dir``;
    4. the batch's per-bucket minima written to its partition of
       ``state_dir``, AFTER the verdict has read the state.

    Both writes go through :func:`write_batch_partition`. A replayed batch
    may find its own state partition from the first attempt; that
    partition holds exactly the batch's own minima, which step 2 folds in
    anyway, so the replay recomputes the same verdicts and overwrites both
    partitions with the same rows.

    Verdicts are a pure function of "which docs arrived no later than
    mine", so any batch decomposition that respects arrival order (the
    file source's modification-time order) yields the same result — the
    registered query exploits exactly that to oracle-check a genuinely
    multi-batch streaming run against one batch SQL statement. At scale
    state and output shard by bucket key with no global state, and the
    per-batch work is one broadcast-or-shuffle equi-join on
    (band, band_hash).
    """
    from aws_data_engineering_spark.operators import dedup as DD

    rows_per_band = MINHASH_NUM_HASHES // MINHASH_NUM_BANDS

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sess = batch_df.sparkSession
        sig = batch_df.select(
            "doc_id", DD.minhash_signature("text", MINHASH_NUM_HASHES).alias("sig")
        )
        bands = (
            DD.minhash_band_rows(sig, MINHASH_NUM_BANDS, rows_per_band)
            .drop("sig")
            # reused by the verdict join AND the state write; one eager
            # materialization beats recomputing the signature HOFs twice
            .localCheckpoint(eager=True)
        )
        bmin = bands.groupBy("band", "band_hash").agg(
            F.min("doc_id").alias("first_doc")
        )
        known = bmin
        # probed on the filesystem, as merge_upsert probes its target: only
        # a directory holding no visible entry means "no state yet", and
        # state that exists but cannot be read fails the batch
        if HadoopPath(sess, state_dir).holds_visible_entry():
            state = sess.read.parquet(state_dir).select(
                "band", "band_hash", "first_doc"
            )
            known = bmin.unionByName(state)
        known = known.groupBy("band", "band_hash").agg(
            F.min("first_doc").alias("first_doc")
        )
        verdict = (
            bands.join(known, ["band", "band_hash"])
            .groupBy("doc_id")
            .agg(F.min("first_doc").alias("earliest_sharer"))
            .select(
                "doc_id",
                (F.col("earliest_sharer") == F.col("doc_id")).alias("kept"),
            )
        )
        write_batch_partition(verdict, out_dir, batch_id)
        write_batch_partition(bmin, state_dir, batch_id)

    return start_batch_sink(docs_stream, process, checkpoint_dir)


# ---------------------------------------------------------------------------
# Streaming mergeable q-digest maintenance (round-6c): the sketch twin of
# stream_partial_rollup_sink. Each micro-batch writes its LEAF HISTOGRAM
# (the q-digest's exactly-mergeable partial — operators/sketch.py) to its
# own batch partition; readers sum leaves and compress ONCE, so the
# streaming sketch is BIT-IDENTICAL to the batch sketch over the same
# rows (merge == rebuild, the canonical-compression property). At 100 TB
# of continuous ingest this is the maintenance shape for quantile
# monitoring: O(2^levels)-bounded partials per batch, no state store, no
# re-scan of history.
# ---------------------------------------------------------------------------

ORDERS_STREAM_DDL = (
    "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)


def read_orders_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """``readStream`` over a directory of orders parquet (Spark-written
    INT96 or timestamp[us] both read into the declared TimestampType)."""
    if HadoopPath(spark, path).is_file():
        path = path + "*"
    reader = spark.readStream.schema(ORDERS_STREAM_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


def stream_qdigest_partial_sink(
    orders: DataFrame,
    value_col: str,
    partials_dir: str,
    checkpoint_dir: str,
):
    """Write each micro-batch's leaf histogram (v, cnt) to its
    ``batch_id=<n>`` partition (:func:`write_batch_partition`).

    Leaves are the mergeable partial: any batch decomposition sums to the
    same global histogram, so the read-side compression yields the same
    digest as a batch build — no ordering sensitivity."""
    from aws_data_engineering_spark.operators import sketch as SK

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        leaves = SK.qdigest_leaves(batch_df, F.floor(F.col(value_col)))
        write_batch_partition(leaves, partials_dir, batch_id)

    return start_batch_sink(orders, write_batch, checkpoint_dir)


def read_qdigest_view(spark: SparkSession, partials_dir: str) -> DataFrame:
    """Merge-on-read: sum the per-batch leaf partials into the global
    histogram."""
    return spark.read.parquet(partials_dir).groupBy("v").agg(
        F.sum("cnt").alias("cnt")
    )


# Rows of the streamed count-min sketch (st15 reports at the same depth).
CMS_DEPTH = 4


def stream_cms_partial_sink(
    docs_stream: DataFrame,
    text_col: str,
    partials_dir: str,
    checkpoint_dir: str,
):
    """Write each micro-batch's count-min-sketch partials, each to its
    ``batch_id=<n>`` partition (:func:`write_batch_partition`).

    Two mergeable partial tables per batch, both order-free sums:

    - ``cells/`` — the batch's (r, bucket, cell) CMS table (the sketch's
      exactly-mergeable partial: CMS cells are counters, so summing
      per-batch cells equals sketching the concatenated stream);
    - ``tokcnt/`` — the batch's (token, cnt) census (itself a mergeable
      partial) so the read side can rank exact top-k without re-scanning
      history.

    No state store, no history re-scan — the st11/st14 per-batch partial
    pattern applied to a third sketch family.
    """
    from aws_data_engineering_spark.operators.text import cms_cells

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        toks = (
            batch_df.filter(F.col(text_col).isNotNull())
            .select(F.explode(F.split(text_col, " ")).alias("token"))
            .filter(F.col("token") != "")
        )
        # consumed twice (cells + census write): cache so the tokenize +
        # count shuffle runs once per micro-batch
        tc = (
            toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt")).cache()
        )
        try:
            cells = cms_cells(tc, CMS_DEPTH)
            write_batch_partition(cells, os.path.join(partials_dir, "cells"), batch_id)
            write_batch_partition(tc, os.path.join(partials_dir, "tokcnt"), batch_id)
        finally:
            tc.unpersist()

    return start_batch_sink(docs_stream, write_batch, checkpoint_dir)


def read_cms_views(spark: SparkSession, partials_dir: str):
    """Merge-on-read for the CMS partials: sum cells and token counts
    across batches."""
    cells = (
        spark.read.parquet(os.path.join(partials_dir, "cells"))
        .groupBy("r", "bucket")
        .agg(F.sum("cell").alias("cell"))
    )
    tokcnt = (
        spark.read.parquet(os.path.join(partials_dir, "tokcnt"))
        .groupBy("token")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return cells, tokcnt


# Word n-gram size of the streamed Bloom filter (st16's probe and oracle
# use the same n).
BLOOM_SHINGLE_N = 5


def stream_bloom_partial_sink(
    bench_stream: DataFrame,
    text_col: str,
    partials_dir: str,
    checkpoint_dir: str,
):
    """Maintain a Bloom decontamination filter incrementally as
    reference/benchmark documents arrive.

    Two set-union-mergeable partial families per batch, stored as ONE
    table (``unified/``, columns ``shingle``/``pos`` with exactly one
    non-null per row), written to the batch's ``batch_id=<n>`` partition
    (:func:`write_batch_partition`):

    - bit rows — the batch's distinct Bloom positions (Bloom filters merge
      by OR, so the DISTINCT union of per-batch bit sets IS the filter of
      the full stream — bounded by m = 2^16 rows regardless of history);
    - gram rows — the batch's distinct gram set, so the read side can also
      run the exact-membership check that quantifies false positives.

    One table instead of the earlier ``grams/`` + ``bits/`` pair halves
    the per-batch job/commit count (guide §6 — measured: each extra tiny
    parquet write cost ~0.3-0.9 s of fixed job+commit overhead per batch);
    the union branches share the cached gram set so the Python shingle
    pass still runs once per micro-batch.

    The st11/st14/st15 per-batch partial pattern on a fourth sketch
    family (OR-merge instead of counter-sum).
    """
    from aws_data_engineering_spark.operators import dedup as DD

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # consumed twice (gram rows + bit derivation): cache so the
        # Python shingle pass runs once per micro-batch (the
        # bloom_contamination single-materialization discipline)
        grams = (
            DD._gram_fanout(batch_df, "doc_id", text_col, BLOOM_SHINGLE_N)
            .select("shingle")
            .distinct()
            .cache()
        )
        try:
            unified = grams.select(
                "shingle", F.lit(None).cast("int").alias("pos")
            ).unionByName(
                DD.bloom_bits(grams).select(
                    F.lit(None).cast("string").alias("shingle"), "pos"
                )
            )
            write_batch_partition(
                unified, os.path.join(partials_dir, "unified"), batch_id
            )
        finally:
            grams.unpersist()

    return start_batch_sink(bench_stream, write_batch, checkpoint_dir)


def read_bloom_views(spark: SparkSession, partials_dir: str):
    """Merge-on-read for the Bloom partials: OR-merge = DISTINCT union of
    the per-batch bit sets; the gram set unions the same way. Reads the
    unified table ``stream_bloom_partial_sink`` writes (one scan lineage,
    split by which column is non-null)."""
    u = spark.read.parquet(os.path.join(partials_dir, "unified"))
    bits = u.filter(F.col("pos").isNotNull()).select("pos").distinct()
    grams = (
        u.filter(F.col("shingle").isNotNull()).select("shingle").distinct()
    )
    return grams, bits


def read_minhash_verdicts(spark: SparkSession, out_dir: str) -> DataFrame:
    """The st12 verdicts: one (doc_id, kept) row per streamed document."""
    return spark.read.parquet(out_dir).select("doc_id", "kept")


def stamp_feed_mtimes(in_dir: str, seen: set, batch_idx: int) -> set:
    """Pin a deterministic micro-batch order for sequentially appended
    feed files: FileStreamSource orders new files by MODIFICATION TIME
    with no documented tie-break, so on coarse-mtime filesystems (1s
    granularity) a fast write burst can reorder batches. Stamp each
    append's new files with a strictly increasing synthetic mtime.
    Returns the updated seen-file set."""
    import glob as _glob

    now = set(_glob.glob(os.path.join(in_dir, "*")))
    t = 1_700_000_000.0 + batch_idx * 60.0
    for f in sorted(now - seen):
        os.utime(f, (t, t))
    return now


def write_bucketed_feed(
    df: DataFrame,
    bucket_expr,
    in_dir: str,
    n_batches: int = 3,
    files_per_bucket: int = 1,
    sub_expr=None,
) -> None:
    """Build an n-batch micro-batch feed in ONE source scan instead of n.

    The per-bucket append loop this replaces (``for b in range(n):
    df.filter(expr == b).coalesce(1).write.append(...)``) scanned the
    source table n times and serialized every write through one task
    (guide §1.2: the algorithm first — n-1 of those passes are pure
    waste). Here the bucket id is computed once, one hash shuffle routes
    each bucket to exactly one task (equal keys co-locate, so a
    ``partitionBy`` write emits exactly one file per non-empty bucket),
    the files are renamed into the flat feed dir in bucket order, and
    mtimes are stamped exactly as before — batch COMPOSITION and ORDER
    are bit-identical to the loop form (rows where ``bucket_expr`` is
    null matched no ``== b`` filter and stay excluded).

    ``files_per_bucket > 1`` (the st17 K-file-aligned shape, where the
    reader's ``max_files_per_trigger = K`` needs EXACTLY K files per
    batch) splits each bucket by the caller-supplied DETERMINISTIC
    ``sub_expr`` (guide §2.5 — never rand-derived) into at most K files;
    within-batch row-to-file assignment is free for such readers.

    Buckets short of their file count at tiny SFs get the schema-only pad
    files the old loop produced, so the batch count stays
    corpus-independent. Raises if a bucket ever yields more files than
    expected or the pad write emits no file (fail loud rather than
    silently change the batch decomposition some oracles pin), and
    ``ValueError`` if ``files_per_bucket > 1`` comes without ``sub_expr``."""
    import glob as _glob
    import shutil as _shutil

    if files_per_bucket > 1 and sub_expr is None:
        raise ValueError(
            f"files_per_bucket={files_per_bucket} needs a deterministic "
            "sub_expr to split each bucket into files"
        )
    scratch = in_dir.rstrip("/") + "__build"
    staged = df.withColumn("__feed_b", bucket_expr.cast("bigint")).filter(
        F.col("__feed_b").isNotNull()
    )
    if files_per_bucket > 1:
        staged = staged.withColumn(
            "__feed_s", sub_expr.cast("bigint")
        ).repartition(F.col("__feed_b"), F.col("__feed_s")).drop("__feed_s")
    else:
        staged = staged.repartition(F.col("__feed_b"))
    (
        staged.write.mode("overwrite").partitionBy("__feed_b").parquet(scratch)
    )
    os.makedirs(in_dir, exist_ok=True)
    seen: set = set()
    short = any(
        len(_glob.glob(os.path.join(scratch, f"__feed_b={b}", "*.parquet")))
        < files_per_bucket
        for b in range(n_batches)
    )
    pad = None
    if short:
        # one extra job only in the (corpus-dependent) short-bucket case
        empty_dir = os.path.join(scratch, "__empty")
        df.limit(0).coalesce(1).write.mode("overwrite").parquet(empty_dir)
        pads = sorted(_glob.glob(os.path.join(empty_dir, "*.parquet")))
        if not pads:
            raise RuntimeError(
                f"bucketed feed pad write to {empty_dir} emitted no parquet "
                "file — cannot fill buckets short of their file count"
            )
        pad = pads[0]
    for b in range(n_batches):
        files = sorted(
            _glob.glob(os.path.join(scratch, f"__feed_b={b}", "*.parquet"))
        )
        if len(files) > files_per_bucket:
            raise RuntimeError(
                f"bucketed feed wrote {len(files)} files for bucket {b}; "
                f"expected at most {files_per_bucket} — batch "
                "decomposition would change"
            )
        for j in range(files_per_bucket):
            suffix = f"-{j}" if files_per_bucket > 1 else ""
            dst = os.path.join(in_dir, f"feed-{b}{suffix}.parquet")
            if j < len(files):
                os.rename(files[j], dst)
            else:
                _shutil.copy(pad, dst)
        seen = stamp_feed_mtimes(in_dir, seen, b)
    _shutil.rmtree(scratch, ignore_errors=True)


EMB_DDL = "vec_id bigint, embedding array<float>, label int"


def read_embeddings_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """``readStream`` over a directory of embeddings parquet (explicit
    schema). ``maxFilesPerTrigger`` bounds per-microbatch input — the
    backpressure knob a 100 TB embedding landing zone needs."""
    reader = spark.readStream.schema(EMB_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


def stream_ivfpq_ingest_sink(
    emb_stream: DataFrame,
    index_dir: str,
    centroids: list[list[float]],
    codebook: list[list[list[float]]],
    checkpoint_dir: str,
):
    """Streaming incremental ANN index ingest — the streaming twin of the
    batch append (s16, plans/retrieval_queries.py): each micro-batch of
    embeddings is encoded with the EXISTING coarse quantizer + PQ codebook
    (never retrained — the faiss add() contract) and its (id, list_id,
    codes) rows are written to ``<index_dir>/batch_id=<n>/list_id=<k>``
    (:func:`write_batch_partition`), so a replayed batch replaces its own
    inverted-list files. ``repartition(list_id)`` before the partitioned
    write keeps the layout at ONE file per list per batch (the s16 lesson:
    file count stays O(lists x batches), not O(lists x input partitions x
    batches)).

    Returns the started StreamingQuery (caller awaits)."""
    from aws_data_engineering_spark.operators import similarity as SIM

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        enc = SIM.ivfpq_encode(batch_df, centroids, codebook)
        write_batch_partition(
            enc.repartition(F.col("list_id")), index_dir, batch_id, "list_id"
        )

    return start_batch_sink(emb_stream, ingest, checkpoint_dir)


def read_ivfpq_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """Cold read-back of the streamed inverted lists (``list_id``
    recovered from the partition directory names, cast explicitly)."""
    return spark.read.parquet(index_dir).select(
        F.col("id").cast("bigint").alias("id"),
        F.col("list_id").cast("int").alias("list_id"),
        "codes",
    )
