"""Structured Streaming integration tests (SURVEY §2.10 T4-T5): real
readStream/writeStream flows with availableNow triggers — watermarked
window aggs, stateful dedup, custom applyInPandasWithState operator,
foreachBatch sink. Batch-equivalent window semantics are oracle-checked
separately via t1/t2/t3 in streaming/windows.py."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dst_spark_k8_lakehouse_spark.sources.catalog import load_table
from dst_spark_k8_lakehouse_spark.streaming import pipelines


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """Streaming file source needs a plain-schema parquet directory;
    re-emit the events table (ts already normalized to microseconds)
    in 4 files so availableNow runs multiple micro-batches."""
    path = str(tmp_path_factory.mktemp("events_stream"))
    load_table(spark, sf_dir, "events").repartition(4).write.mode(
        "overwrite"
    ).parquet(path)
    return path


def test_windowed_counts_match_batch(spark, sf_dir, events_dir, tmp_path):
    stream = pipelines.stream_events(spark, events_dir)
    agg = pipelines.windowed_event_counts(stream)
    pipelines.run_available_now(
        agg, "t4_windows", str(tmp_path / "ckpt"), output_mode="complete"
    )
    got = {
        (r.window_start, r.n_events)
        for r in spark.table("t4_windows").collect()
    }
    batch = {
        (r.w.start, r.n)
        for r in load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == batch


def test_dedup_within_watermark(spark, events_dir, tmp_path):
    """Duplicate the source dir's content logically by unioning the
    stream with itself via two readers? Not expressible — instead dedup
    on a coarse key (user_id) and check one row per user survives."""
    stream = pipelines.stream_events(spark, events_dir)
    dedup = pipelines.dedup_within_watermark(stream, ["user_id"])
    pipelines.run_available_now(dedup, "t5_dedup", str(tmp_path / "ckpt"))
    out = spark.table("t5_dedup")
    n_users = out.select("user_id").distinct().count()
    assert out.count() == n_users  # at most one row kept per user


def test_running_user_totals_stateful(spark, sf_dir, events_dir, tmp_path):
    stream = pipelines.stream_events(spark, events_dir)
    running = pipelines.running_user_totals(stream)
    pipelines.run_available_now(
        running, "t6_running", str(tmp_path / "ckpt"), output_mode="update"
    )
    # last emitted row per user must equal the batch per-user totals
    out = spark.table("t6_running")
    final = {
        r.user_id: r.n_events
        for r in out.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
        .collect()
    }
    batch = {
        r.user_id: r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert final == batch


def test_watermark_drops_late_data(spark, tmp_path):
    """T4: true late-data semantics across restarts. Batch 1 advances
    the watermark (max event time − 10 min, persisted in the
    checkpoint); batch 2 then delivers one event older than the
    watermark (dropped) and one within it (kept)."""
    import datetime as dt

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def mk(rows, fname):
        spark.createDataFrame(
            [(i, t0 + dt.timedelta(minutes=m), 1, "click", 1.0, "{}")
             for i, m in rows],
            pipelines.EVENTS_STREAM_SCHEMA,
        ).coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "out")

    def run_once():
        stream = pipelines.stream_events(spark, src)
        agg = pipelines.windowed_event_counts(
            stream, "10 minutes", "10 minutes"
        )
        q = (
            agg.writeStream.format("parquet")  # file sink: checkpoint-recoverable
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    mk([(1, 0), (2, 60)], "b1")  # watermark after b1: 60min - 10min = 50min
    run_once()
    first = {r.window_start.minute for r in spark.read.parquet(out).collect()}
    assert 0 in first  # the 00:00 window closed and was emitted

    mk([(3, 20), (4, 55)], "b2")  # 20min < watermark 50min → dropped
    run_once()
    emitted = {
        (r.window_start.minute, r.n_events)
        for r in spark.read.parquet(out).collect()
    }
    # the late 00:20 event must NOT create/modify a window; 00:55 may
    # appear once its window closes in a later batch — but 20 never.
    assert not any(m == 20 for m, _ in emitted)


def test_foreach_batch_append_sink(spark, events_dir, tmp_path):
    stream = pipelines.stream_events(spark, events_dir)
    target = str(tmp_path / "bronze_events")
    pipelines.foreach_batch_append(
        stream.filter(F.col("event_type") == "click"),
        target,
        str(tmp_path / "ckpt"),
    )
    written = spark.read.parquet(target)
    expected = (
        spark.read.schema(pipelines.EVENTS_STREAM_SCHEMA)
        .parquet(events_dir)
        .filter(F.col("event_type") == "click")
        .count()
    )
    assert written.count() == expected


def test_foreach_batch_versioned_table_sink(spark, events_dir, tmp_path):
    """Each micro-batch lands as one time-travellable snapshot."""
    from dst_spark_k8_lakehouse_spark.plans import VersionedTable

    stream = pipelines.stream_events(spark, events_dir)
    path = str(tmp_path / "events_table")
    pipelines.foreach_batch_to_table(stream, path, str(tmp_path / "ckpt"))
    table = VersionedTable(spark, path)
    total = spark.read.schema(pipelines.EVENTS_STREAM_SCHEMA).parquet(
        events_dir
    ).count()
    assert table.read().count() == total
    hist = table.history().collect()
    assert len(hist) >= 1  # >=1 snapshot; multiple if several micro-batches
    assert {r.operation for r in hist} <= {"CREATE TABLE AS SELECT", "WRITE"}


def test_stream_batch_retry_is_idempotent(spark, tmp_path):
    """A micro-batch replayed after a crash between the table commit
    and the checkpoint commit must not duplicate rows: the commit
    records the batch in Delta's txn action and the retry is skipped."""
    from dst_spark_k8_lakehouse_spark.plans import VersionedTable

    path = str(tmp_path / "t")
    batch = spark.range(10).withColumnRenamed("id", "v")
    assert pipelines.write_stream_batch_to_table(batch, 0, path) is True
    assert pipelines.write_stream_batch_to_table(batch, 1, path) is True
    # retry of batch 1 (checkpoint commit lost) → skipped, no new snapshot
    assert pipelines.write_stream_batch_to_table(batch, 1, path) is False
    table = VersionedTable(spark, path)
    assert table.read().count() == 20
    assert table.history().count() == 2


def test_stream_batch_retry_survives_checkpoint(spark, tmp_path):
    """The txn watermark lives in the Delta log, so it survives a
    checkpoint that folds the JSON commits: retries of batches 0 and 1
    after ``write_checkpoint`` are still skipped, batch 2 lands."""
    from dst_spark_k8_lakehouse_spark.plans import VersionedTable, delta_writer

    path = str(tmp_path / "t")
    batch = spark.range(10).withColumnRenamed("id", "v")
    assert pipelines.write_stream_batch_to_table(batch, 0, path) is True
    assert pipelines.write_stream_batch_to_table(batch, 1, path) is True
    delta_writer.write_checkpoint(spark, path)
    for log in os.listdir(os.path.join(path, "_delta_log")):
        if log.endswith(".json") and log[:-5].isdigit():
            os.remove(os.path.join(path, "_delta_log", log))  # checkpoint only
    assert pipelines.write_stream_batch_to_table(batch, 0, path) is False
    assert pipelines.write_stream_batch_to_table(batch, 1, path) is False
    assert pipelines.write_stream_batch_to_table(batch, 2, path) is True
    assert VersionedTable(spark, path).read().count() == 30


def test_kafka_wire_parse_roundtrip(spark, events_dir):
    """S13 transform layer: events serialized into Kafka wire frames
    (binary value = JSON payload) deserialize back to the exact typed
    rows, and the parsed stream feeds the same window pipeline."""
    events = spark.read.schema(pipelines.EVENTS_STREAM_SCHEMA).parquet(
        events_dir
    )
    # serialize timestamps at full microsecond precision — to_json's
    # default format truncates to millis, which would fail roundtrip
    wire = events.select(
        F.col("event_id").cast("string").cast("binary").alias("key"),
        F.to_json(
            F.struct(*events.columns),
            {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"},
        ).cast("binary").alias("value"),
        F.lit("events").alias("topic"),
        F.lit(0).alias("partition"),
        F.monotonically_increasing_id().alias("offset"),
        F.col("ts").alias("timestamp"),
        F.lit(0).alias("timestampType"),
    )
    parsed = pipelines.parse_kafka_events(wire)
    assert parsed.schema == pipelines.EVENTS_STREAM_SCHEMA
    orig = {tuple(r) for r in events.collect()}
    back = {tuple(r) for r in parsed.collect()}
    assert back == orig
    # malformed payload → nulls, not a crash
    bad = spark.createDataFrame(
        [(None, b"not json", "events", 0, 0, None, 0)],
        pipelines.KAFKA_WIRE_SCHEMA,
    )
    row = pipelines.parse_kafka_events(bad).head()
    assert row.event_id is None
    # parsed (batch) frame composes with the windowed aggregation
    windowed = pipelines.windowed_event_counts(parsed)
    assert windowed.count() > 0


def test_t4_watermark_matches_batch_expectation(spark, sf_dir):
    """The registered t4 driver query equals its batch-computed
    accepted set: 6-hour tumbling counts over (all events − planted
    late set), windows closed by the final watermark (max ts − 1 day).
    The late set must be non-trivial, else the drop is vacuous."""
    from datetime import timedelta

    got = {
        (r.window_start, r.n_events)
        for r in pipelines.t4_watermark(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    is_late = (F.col("ts") < "2024-01-08") & (F.col("event_id") % 29 == 0)
    assert ev.filter(is_late).count() > 0, "late set vacuous"
    final_wm = ev.agg(F.max("ts")).collect()[0][0] - timedelta(days=1)
    expected = {
        (r.w.start, r.n)
        for r in ev.filter(~is_late)
        .groupBy(F.window("ts", "6 hours").alias("w"))
        .agg(F.count("*").alias("n"))
        .filter(F.col("w.end") <= F.lit(final_wm))
        .collect()
    }
    assert got == expected
    # and the late rows were genuinely dropped: their windows count
    # fewer events than an all-rows aggregation would give
    with_late = {
        (r.w.start, r.n)
        for r in ev.groupBy(F.window("ts", "6 hours").alias("w"))
        .agg(F.count("*").alias("n"))
        .filter(F.col("w.end") <= F.lit(final_wm))
        .collect()
    }
    assert got != with_late


def test_t5_stateful_dedup_matches_batch_expectation(spark, sf_dir):
    """The registered t5 driver query equals originals ∪ evicted-state
    copies; in-state copies are deduped. Both planted classes must be
    non-empty, else the respective behavior is vacuous."""
    out = pipelines.t5_stateful_dedup(spark, sf_dir)
    got = {(r.event_id, r.ts) for r in out.collect()}
    ev = load_table(spark, sf_dir, "events")
    evicted = (
        (F.col("ts") >= "2024-01-03")
        & (F.col("ts") < "2024-01-05")
        & (F.col("event_id") % 17 == 0)
    )
    in_state = (
        (F.col("ts") >= "2024-01-23")
        & (F.col("ts") < "2024-01-24")
        & (F.col("event_id") % 13 == 0)
    )
    n_kept_class = ev.filter(evicted).count()
    n_dropped_class = ev.filter(in_state).count()
    assert n_kept_class > 0, "evicted-state class vacuous"
    assert n_dropped_class > 0, "in-state class vacuous"
    orig = {(r.event_id, r.ts) for r in ev.collect()}
    kept_copies = {
        (r.event_id, r.ts)
        for r in ev.filter(evicted)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 20 DAYS"))
        .collect()
    }
    assert got == orig | kept_copies


# --- round-5 soak: state eviction bound + idempotent sink under retry ---
#
# Both soak tests run at sf0.1 (100k events over a month) regardless of
# the unit-test SF: state-store behavior at a handful of rows is
# vacuous. The month streams as ~10 contiguous 3-day micro-batches via
# the pinned-arrival-order helper.

_SOAK_SF_DIR = "/root/testdata/sf0.1"


def _soak_arrival(spark, n_days: int = 3):
    ev = load_table(spark, _SOAK_SF_DIR, "events")
    cuts = [f"2024-01-{d:02d}" for d in range(1 + n_days, 32, n_days)]
    lo = None
    files = []
    for cut in cuts + [None]:
        f = ev
        if lo is not None:
            f = f.filter(F.col("ts") >= lo)
        if cut is not None:
            f = f.filter(F.col("ts") < cut)
        files.append(f)
        lo = cut
    return ev, pipelines._arrival_stream(spark, *files)


def test_soak_dedup_state_stays_bounded(spark):
    """A 10-micro-batch dedup run keyed on the unique event_id: without
    eviction, state grows to the full corpus (100k rows); with the
    1-day watermark horizon it must stay near one horizon's worth of
    keys. recentProgress is the evidence: numRowsRemoved > 0 and the
    per-batch state total stays a small fraction of the corpus."""
    ev, (stream, ck) = _soak_arrival(spark)
    total = ev.count()
    dedup = pipelines.dedup_within_watermark(stream, ["event_id"], "1 day")
    q = (
        dedup.writeStream.format("memory")
        .queryName("soak_dedup")
        .outputMode("append")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    prog = [p for p in q.recentProgress if p["stateOperators"]]
    assert len(prog) >= 8, f"expected ~10 micro-batches, saw {len(prog)}"
    state_rows = [p["stateOperators"][0]["numRowsTotal"] for p in prog]
    removed = sum(p["stateOperators"][0]["numRowsRemoved"] for p in prog)
    # event_id is unique → nothing dropped, all rows pass through
    assert spark.table("soak_dedup").count() == total
    assert removed > 0, "no state eviction observed across the soak"
    # bound: batches span 3 days, horizon 1 day → live state ≤ ~4 days
    # of keys at the eviction points; corpus spans ~30 days
    bound = 0.35 * total
    assert max(state_rows) < bound, (max(state_rows), bound)
    # cumulative removals must account for almost all corpus keys —
    # state that never evicts would show removals ≪ total
    assert removed > 0.5 * total, (removed, total)


def test_soak_sink_idempotent_under_forced_retry(spark, tmp_path):
    """foreachBatch writing per-batch-id directories with overwrite is
    the documented idempotent-sink pattern: a micro-batch that fails
    AFTER its write lands must, on checkpoint restart, re-run with the
    same batch id and overwrite the same directory — the final sink
    equals a clean run's, no duplicates, no gaps."""
    import os

    _, (stream, ck) = _soak_arrival(spark, n_days=5)
    agg = pipelines.windowed_event_counts(
        stream, window="6 hours", watermark="1 day"
    )
    out = str(tmp_path / "sink")
    flag = str(tmp_path / "fail_once")
    open(flag, "w").close()

    def write_batch(df, bid):
        df.write.mode("overwrite").parquet(f"{out}/batch={bid}")
        if bid == 2 and os.path.exists(flag):
            os.remove(flag)
            raise RuntimeError("injected failure after batch-2 write")

    def start():
        return (
            agg.writeStream.foreachBatch(write_batch)
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )

    from pyspark.errors.exceptions.captured import StreamingQueryException

    q = start()
    with pytest.raises(StreamingQueryException, match="injected failure"):
        q.awaitTermination()
    q2 = start()  # same checkpoint: batch 2 re-runs, then the rest
    q2.awaitTermination()
    got = {
        (r.window_start, r.n_events)
        for r in spark.read.parquet(out).select(
            "window_start", "n_events"
        ).collect()
    }
    # clean-run reference: same pipeline, fresh checkpoint + sink
    _, (stream2, ck2) = _soak_arrival(spark, n_days=5)
    agg2 = pipelines.windowed_event_counts(
        stream2, window="6 hours", watermark="1 day"
    )
    out2 = str(tmp_path / "sink_clean")

    def write_batch_clean(df, bid):
        df.write.mode("overwrite").parquet(f"{out2}/batch={bid}")

    qc = (
        agg2.writeStream.foreachBatch(write_batch_clean)
        .outputMode("append")
        .option("checkpointLocation", ck2)
        .trigger(availableNow=True)
        .start()
    )
    qc.awaitTermination()
    clean = {
        (r.window_start, r.n_events)
        for r in spark.read.parquet(out2).select(
            "window_start", "n_events"
        ).collect()
    }
    assert got == clean
    assert len(got) > 50, "soak window set vacuous"


def test_iceberg_append_txn_idempotence(spark, tmp_path):
    """append_iceberg(txn=...) skips an already-committed epoch and
    records the watermark in the snapshot summary — across days(ts)
    partitioned targets too (the t8 surface)."""
    import datetime

    from dst_spark_k8_lakehouse_spark.plans import (
        iceberg_reader as ir,
        iceberg_writer as iw,
    )

    table = str(tmp_path / "t")
    rows = [
        (i, datetime.datetime(2024, 3, 1 + i % 3, 10)) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp_ntz")
    iw.create_iceberg(df.limit(0), table, partition_by=["days(ts)"])
    assert iw.append_iceberg(df, table, txn=("app", 0)) > 0
    assert iw.append_iceberg(df, table, txn=("app", 0)) == -1  # skip
    assert iw.append_iceberg(df.limit(5), table, txn=("app", 1)) > 0
    # a different app is independent
    assert iw.append_iceberg(df.limit(2), table, txn=("b", 0)) > 0
    assert ir.read_iceberg(spark, table).count() == 37
    meta, _ = iw._load_meta(table)
    assert iw.last_txn_epoch(meta, "app") == 1
    assert iw.last_txn_epoch(meta, "b") == 0
    assert iw.last_txn_epoch(meta, "nope") is None


def test_stream_to_iceberg_sink_requires_table(spark, tmp_path):
    from dst_spark_k8_lakehouse_spark.streaming.iceberg_sink import (
        stream_to_iceberg,
    )

    with pytest.raises(ValueError, match="create_iceberg"):
        stream_to_iceberg(None, str(tmp_path / "nope"), "ckpt")


def test_transform_with_state_profile(spark, sf_dir, events_dir, tmp_path):
    """T9 (r10): transformWithStateInPandas — composable typed state
    (ValueState accumulator + ListState top-3) per user. Two-phase
    check: the drained stream's final row per user equals the batch
    expectation (count, exact total, top-3 values sorted desc), and a
    SECOND drain over a copy of the source proves the state carries
    across micro-batches (counts double, top-3 re-merges).

    ENV-GATED like the delta-spark backend: pyspark's TWS driver
    worker needs google.protobuf, absent in this container — the
    operator refuses with the real cause (asserted below) and this
    test runs fully wherever protobuf exists. TWS also needs the
    RocksDB state store provider, set per-test via the conf
    save/restore."""
    import shutil

    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        with pytest.raises(ImportError, match="protobuf"):
            pipelines.user_running_profile_tws(
                pipelines.stream_events(spark, str(events_dir))
            )
        pytest.skip("google.protobuf not installed (no pip index)")

    _K = "spark.sql.streaming.stateStore.providerClass"
    _old = spark.conf.get(_K, None)
    spark.conf.set(
        _K,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        _run_tws_body(spark, sf_dir, events_dir, tmp_path, shutil)
    finally:
        if _old is None:
            spark.conf.unset(_K)
        else:
            spark.conf.set(_K, _old)


def _run_tws_body(spark, sf_dir, events_dir, tmp_path, shutil):

    src = str(tmp_path / "src")
    shutil.copytree(events_dir, src)
    stream = pipelines.stream_events(spark, src)
    prof = pipelines.user_running_profile_tws(stream)
    ckpt = str(tmp_path / "ckpt")
    pipelines.run_available_now(
        prof, "t9_profile", ckpt, output_mode="update"
    )
    out = spark.table("t9_profile")
    final = {
        r.user_id: (r.n_events, round(r.total_value, 6),
                    tuple(round(v, 6) for v in r.top_values))
        for r in out.join(
            out.groupBy("user_id").agg(F.max("n_events").alias("n_events")),
            ["user_id", "n_events"],
        ).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    batch = {}
    for r in ev.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum("value").alias("total"),
        F.slice(F.sort_array(F.collect_list("value"), asc=False),
                1, 3).alias("top"),
    ).collect():
        batch[r.user_id] = (
            r.n, round(r.total, 6), tuple(round(v, 6) for v in r.top)
        )
    assert final == batch

    # second drain: new files arrive (same content copied under new
    # names) → state resumes from the checkpoint and accumulates
    import os
    for f in os.listdir(events_dir):
        if f.endswith(".parquet"):
            shutil.copy(
                os.path.join(events_dir, f),
                os.path.join(src, "again-" + f),
            )
    pipelines.run_available_now(
        pipelines.user_running_profile_tws(
            pipelines.stream_events(spark, src)
        ),
        "t9_profile2", ckpt, output_mode="update",
    )
    out2 = spark.table("t9_profile2")
    doubled = {
        r.user_id: r.n_events
        for r in out2.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events")).collect()
    }
    assert doubled == {u: 2 * n for u, (n, _t, _v) in batch.items()}


def test_stream_to_iceberg_branch_staging(spark, tmp_path):
    """Streaming WAP (r10): every micro-batch lands on the branch —
    main readers see NOTHING until fast_forward — and the exactly-once
    (app, epoch) watermark holds on branch snapshots (a duplicate
    epoch is a no-op on the branch too)."""
    import os

    from dst_spark_k8_lakehouse_spark.plans import (
        iceberg_reader as ir,
        iceberg_writer as iw,
    )
    from dst_spark_k8_lakehouse_spark.streaming.iceberg_sink import (
        stream_to_iceberg,
    )

    src = str(tmp_path / "src")
    spark.range(40).select(F.col("id")).write.parquet(src)
    table = str(tmp_path / "t")
    iw.create_iceberg(
        spark.range(0).select(F.col("id")), table
    )
    iw.create_branch(table, "ingest")
    stream = spark.readStream.schema("id long").parquet(src)
    q = stream_to_iceberg(
        stream, table, str(tmp_path / "ckpt"),
        app_id="wap-stream", branch="ingest",
    )
    q.awaitTermination()
    assert ir.read_iceberg(spark, table).count() == 0  # main dark
    assert {
        r.id for r in ir.read_iceberg(
            spark, table, ref="ingest"
        ).collect()
    } == set(range(40))
    # duplicate epoch replay: no-op on the branch
    assert iw.append_iceberg(
        spark.range(5).select(F.col("id")), table,
        txn=("wap-stream", 0), branch="ingest",
    ) == -1
    iw.fast_forward(table, "main", "ingest")
    assert ir.read_iceberg(spark, table).count() == 40
