"""Structured Streaming pipelines (SURVEY §2.10 T4-T5 + stateful ops).

Real ``readStream`` → transform → ``writeStream`` flows over the same
window expressions as ``streaming/windows.py``. None of this is
oracle-checkable (late-data/state semantics have no batch-SQL
equivalent) — integration tests drive it with ``availableNow`` triggers
and assert the sink contents.

Late-data posture: every event-time aggregation takes a watermark; the
state store drops windows older than (max event time − watermark), so
state is bounded and late rows beyond the watermark are discarded —
Spark's documented contract, which we adopt unchanged.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from dst_spark_k8_lakehouse_spark.exact import sum_sql
from dst_spark_k8_lakehouse_spark.registry import query
from dst_spark_k8_lakehouse_spark.sources.catalog import load_table

# ts must be TimestampType (LTZ): Spark rejects watermarks on
# TIMESTAMP_NTZ (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE), so the NTZ
# encoding the batch fixtures carry cannot flow into the streaming
# layer unchanged. _arrival_stream casts ts to this exact type BEFORE
# writing its micro-batch files, so the parquet round-trip is
# write-LTZ → read-LTZ on any driver host (writing NTZ bytes under an
# LTZ read schema would shift on a non-UTC driver — ADVICE r4).
EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def stream_events(spark: SparkSession, events_dir: str) -> DataFrame:
    """File-source stream over a parquet directory of events. Streaming
    file sources require an explicit schema (no inference at plan time)
    — same posture as the reference's explicit-StructType rule
    (``modules/dst_metrics/spark_logger.py:14``)."""
    return spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(events_dir)


# The exact frame shape spark.readStream.format("kafka") produces —
# S13's wire contract. The broker connection is untestable in this
# container; everything AFTER the source node (deserialize → typed
# events → the window/watermark pipelines above) is real, tested code.
KAFKA_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("timestampType", T.IntegerType()),
    ]
)

# the stock connector's includeHeaders=true shape: the same frame plus
# a trailing headers column — readers grow it ONLY when asked
KAFKA_WIRE_SCHEMA_HEADERS = T.StructType(
    KAFKA_WIRE_SCHEMA.fields
    + [
        T.StructField(
            "headers",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("key", T.StringType()),
                        T.StructField("value", T.BinaryType()),
                    ]
                )
            ),
        )
    ]
)


def kafka_events_source(
    spark: SparkSession, bootstrap_servers: str, topic: str
) -> DataFrame:
    """S13: Kafka source wiring — returns the raw wire-schema stream.
    Compose with ``parse_kafka_events`` and any pipeline above. (Needs
    the spark-sql-kafka package and a reachable broker; the transform
    layer is covered by tests via synthetic wire frames.)"""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load()
    )


def parse_kafka_events(raw: DataFrame) -> DataFrame:
    """Deserialize a Kafka wire-schema frame (batch or streaming) into
    the typed events stream: ``CAST(value AS STRING)`` → ``from_json``
    with the explicit events schema → flatten. Malformed payloads
    surface as a null ``event_id`` (from_json PERMISSIVE mode) so a
    downstream filter can quarantine instead of killing the stream —
    drop-late-and-malformed is a pipeline policy, not an engine crash.
    """
    return (
        raw.select(
            F.from_json(
                F.col("value").cast("string"), EVENTS_STREAM_SCHEMA
            ).alias("e")
        )
        .select("e.*")
    )


def windowed_event_counts(
    events: DataFrame,
    window: str = "10 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """T1+T4: watermarked tumbling-window counts — the streaming twin of
    ``t1_tumbling``; append-mode emits a window only once it closes."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), "n_events", "total_value"
        )
    )


def dedup_within_watermark(
    events: DataFrame, keys: list[str], watermark: str = "10 minutes"
) -> DataFrame:
    """T5: stateful streaming dedup — drops repeats of ``keys`` arriving
    within the watermark horizon; state for keys older than the
    watermark is evicted (bounded memory, unlike a global distinct)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys
    )


RUNNING_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)
STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
    ]
)


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: running
    per-user event count + value total across micro-batches. The state
    row is two numbers per user — the pattern for any custom accumulator
    Spark's built-in aggs can't express (decayed counters, CDC merge,
    fraud scores...). Update-mode output, one row per user per batch."""

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=RUNNING_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_available_now(
    df: DataFrame,
    query_name: str,
    checkpoint_dir: str,
    output_mode: str = "append",
    shuffle_partitions: int | None = None,
) -> None:
    """Drain everything currently available into an in-memory sink and
    stop — the batch-like trigger used by tests and backfills. The
    result is readable as ``spark.table(query_name)``. Pick the output
    mode per operator: append (stateless / closed windows only),
    update (stateful operators), complete (full agg table).

    ``shuffle_partitions`` bounds the STATE-STORE partition count for
    this stream (the number is read at first start and baked into the
    checkpoint): a plain session defaults to 200, and a stateful
    operator then schedules 200 tiny state tasks PER micro-batch —
    pure task-launch overhead on the fixture-sized drains (measured:
    the t12/t13 drains drop ~4× with 8). The conf is saved/restored
    around the run; at a real 100 TB deployment the right number is
    cluster-sized and set once, not per query."""
    spark = df.sparkSession
    key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(key) if shuffle_partitions else None
    if shuffle_partitions:
        spark.conf.set(key, str(shuffle_partitions))
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prior is not None:
            spark.conf.set(key, prior)


# ---------------------------------------------------------------------------
# Deterministic driver-channel runs of the stateful pipelines (T4/T5).
#
# Late-data and dedup-state semantics are not batch-SQL-expressible, so
# these register as rows-only queries — but the RESULT SET is fully
# deterministic by construction: the events fixture is split into two
# arrival files with pinned names and modification times, the stream
# reads them with ``maxFilesPerTrigger=1`` (two micro-batches, fixed
# boundaries), and ``availableNow`` runs a final flush batch after the
# watermark advance (probed: emitted windows == the batch-computed
# expectation). The pytest suite asserts exact equality against the
# batch-computed accepted/dropped sets (``test_streaming.py``).
# ---------------------------------------------------------------------------

# Arrival cuts and watermark delay: the fixture spans 2024-01-01 ..
# 2024-01-31, split into three in-order micro-batches (t4 thirds at the
# _CUT_* points; t5 uses its own cuts below), 1-day watermark. THREE
# batches are load-bearing for both queries (probed, not assumed): the
# watermark advances per batch, but both window emission and state
# eviction run at the END of the batch whose input they gate — so a
# late row landing in batch N still merges into any window that batch N
# itself will emit, and a duplicate key is still deduped against state
# that batch N will evict. Only a row arriving one batch AFTER the
# emission/eviction batch observes the closed-window / evicted-state
# behavior deterministically.
_CUT_A = "2024-01-11 00:00:00"
_CUT_B = "2024-01-21 00:00:00"
_WATERMARK = "1 day"


def _arrival_stream(
    spark: SparkSession, *files: DataFrame
) -> tuple[DataFrame, str]:
    """Write ``files`` as an n-file stream directory with pinned arrival
    order (one micro-batch per file) and return (stream df, checkpoint
    dir)."""
    import atexit
    import glob
    import os
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix="dst-stream-run-")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    sdir = os.path.join(base, "in")
    os.makedirs(sdir)
    for i, df in enumerate(files):
        d = os.path.join(base, f"w{i}")
        # normalize ts to the stream schema's LTZ type so the written
        # encoding matches the read schema exactly — otherwise NTZ
        # bytes re-read under an LTZ schema shift on a non-UTC driver
        df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
        df.coalesce(1).write.parquet(d)
        part = glob.glob(f"{d}/part-*.parquet")[0]
        dst = os.path.join(sdir, f"{i:02d}.parquet")
        shutil.move(part, dst)
        # arrival order = modification time: pin it so batch 0/1
        # boundaries never depend on filesystem timing
        os.utime(dst, (1_700_000_000 + i * 100,) * 2)
    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(sdir)
    )
    return stream, os.path.join(base, "ck")


def _drain_to_memory(
    df: DataFrame, checkpoint: str, output_mode: str = "append"
) -> DataFrame:
    """availableNow-drain ``df`` into a uniquely named memory sink and
    return the sink table (repeat calls are independent runs). The
    registry queries' drains bound the state-store partitions (see
    ``run_available_now``) — fixture-sized streams, fresh checkpoints
    every call."""
    import uuid

    name = f"t_sink_{uuid.uuid4().hex[:12]}"
    run_available_now(df, name, checkpoint, output_mode,
                      shuffle_partitions=8)
    return df.sparkSession.table(name)


@query("t4_watermark")  # rows-only: late-data semantics, no batch-SQL twin
def t4_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4: watermarked tumbling windows over a deterministic 3-batch
    arrival with planted late data.

    The late set (``event_id % 29 == 0`` before Jan 8) is withheld from
    batch 0 and arrives in batch 2. By then its 6-hour windows are
    emitted and gone: batch 1's close (watermark ≈ Jan 10) locked every
    window ending before Jan 10, so the batch-2 late rows are dropped
    instead of merged — Spark's documented late-data contract,
    observable here as exact window counts (a merge would surface as
    either a higher count or a duplicate window emission; the
    equals-batch pytest rules out both). Expected result,
    batch-computable: 6-hour tumbling counts over (all events − late
    set) restricted to windows with end ≤ final watermark
    (``test_t4_watermark_matches_batch_expectation``)."""
    ev = load_table(spark, sf_dir, "events")
    cut_a = F.lit(_CUT_A).cast("timestamp")
    cut_b = F.lit(_CUT_B).cast("timestamp")
    is_late = (F.col("ts") < "2024-01-08") & (F.col("event_id") % 29 == 0)
    file0 = ev.filter((F.col("ts") < cut_a) & ~is_late)
    file1 = ev.filter((F.col("ts") >= cut_a) & (F.col("ts") < cut_b))
    file2 = ev.filter(F.col("ts") >= cut_b).unionByName(ev.filter(is_late))
    stream, ck = _arrival_stream(spark, file0, file1, file2)
    agg = windowed_event_counts(stream, window="6 hours", watermark=_WATERMARK)
    out = _drain_to_memory(agg, ck)
    return out.select(
        "window_start",
        "n_events",
        F.round("total_value", 6).alias("total_value"),
    )


# t5's three arrival batches: [.., Jan 8) / [Jan 8, Jan 24) / [Jan 24, ..).
# State eviction is LAZY — it runs at the END of a batch with the
# watermark in effect DURING that batch (probed: a 2-batch run never
# evicts, and re-sent old keys are still deduped). Three batches make
# both duplicate fates observable: batch 1 ends with watermark ≈ Jan 7
# (from batch 0), evicting every key whose expiry ts+1d < Jan 7; batch 2
# then re-accepts those keys, while keys from batch 1's tail are still
# in state and keep deduping.
_T5_CUT_A = "2024-01-08 00:00:00"
_T5_CUT_B = "2024-01-24 00:00:00"


@query("t5_stateful_dedup")  # rows-only: dedup-state semantics
def t5_stateful_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5: ``dropDuplicatesWithinWatermark`` over a deterministic
    3-batch arrival with two planted duplicate classes.

    Batch 2 carries (a) IN-STATE copies — events from [Jan 23, Jan 24)
    (``event_id % 13 == 0``) re-sent 1 h later: their keys entered
    state in batch 1 and are inside the 1-day horizon, so state filters
    them → DROPPED; and (b) EVICTED-STATE copies — events from
    [Jan 3, Jan 5) (``event_id % 17 == 0``) re-sent 20 days later
    (arriving above the batch-2 watermark): their key state aged out
    and was evicted at the end of batch 1, so they are accepted again →
    KEPT. That asymmetry (bounded state, unlike a global distinct) is
    exactly what the operator trades for O(watermark-window) memory at
    100 TB. Expected result, batch-computable: original events ∪
    class-(b) copies
    (``test_t5_stateful_dedup_matches_batch_expectation``)."""
    ev = load_table(spark, sf_dir, "events")
    cut_a = F.lit(_T5_CUT_A).cast("timestamp")
    cut_b = F.lit(_T5_CUT_B).cast("timestamp")
    in_state = (
        (F.col("ts") >= F.lit("2024-01-23 00:00:00").cast("timestamp"))
        & (F.col("ts") < cut_b)
        & (F.col("event_id") % 13 == 0)
    )
    evicted = (
        (F.col("ts") >= F.lit("2024-01-03 00:00:00").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-05 00:00:00").cast("timestamp"))
        & (F.col("event_id") % 17 == 0)
    )
    dup_dropped = ev.filter(in_state).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 1 HOUR")
    )
    dup_kept = ev.filter(evicted).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 20 DAYS")
    )
    file0 = ev.filter(F.col("ts") < cut_a)
    file1 = ev.filter((F.col("ts") >= cut_a) & (F.col("ts") < cut_b))
    file2 = (
        ev.filter(F.col("ts") >= cut_b)
        .unionByName(dup_dropped)
        .unionByName(dup_kept)
    )
    stream, ck = _arrival_stream(spark, file0, file1, file2)
    deduped = dedup_within_watermark(stream, ["event_id"], _WATERMARK)
    out = _drain_to_memory(deduped, ck)
    return out.select("event_id", "ts", "user_id", "event_type", "value")


@query(
    "t12_stateful_running_agg",
    oracle=f"""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               {sum_sql('value')} AS total_value,
               CAST(count(DISTINCT event_id % 4) AS BIGINT)
                   AS n_batches_seen
        FROM events
        GROUP BY event_type
    """,
)
def t12_stateful_running_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T12 (r13): CUSTOM stateful streaming via
    ``applyInPandasWithState`` (``streaming/stateful.running_totals``)
    — per-key running totals held in EXPLICIT state across
    micro-batches, value-checked against the relational oracle.

    The arrival is a deterministic 4-file stream split by
    ``event_id % 4`` (one micro-batch per file); each batch a key
    appears in bumps its state's ``n_batches`` and accumulates exact
    integer cents, and the update-mode sink receives the cumulative
    row per (key, contributing batch). The query folds the sink by
    per-key MAXIMA (rows are cumulative, so the final state is the
    max of every column) — ``n_batches_seen`` must equal the oracle's
    ``count(DISTINCT event_id % 4)`` per type, so a key whose state
    reset between batches (lost state), double-counted a batch, or
    missed one flips the hash; ``n_events``/``total_value`` pin the
    accumulated payload exactly. This is the capability
    ``transformWithStateInPandas`` (T9) would provide — T9's worker
    needs ``google.protobuf``, absent here, and the operator ships on
    the protobuf-free ``applyInPandasWithState`` instead."""
    from dst_spark_k8_lakehouse_spark.streaming.stateful import (
        running_totals,
    )

    ev = load_table(spark, sf_dir, "events")
    files = [ev.filter(F.col("event_id") % 4 == b) for b in range(4)]
    stream, ck = _arrival_stream(spark, *files)
    out = _drain_to_memory(
        running_totals(stream, "event_type", "value"), ck,
        output_mode="update",
    )
    return out.groupBy(F.col("key").alias("event_type")).agg(
        F.max("n_events").alias("n_events"),
        (F.max("total_cents") / 100).cast("double").alias("total_value"),
        F.max("n_batches").alias("n_batches_seen"),
    )


@query(
    "t13_sessionize",
    oracle=f"""
        WITH o AS (
          SELECT user_id, ts, value, event_id,
                 CASE WHEN ts > lag(ts) OVER
                          (PARTITION BY user_id
                           ORDER BY ts, event_id)
                          + INTERVAL 60 MINUTE
                      THEN 1 ELSE 0 END AS brk
          FROM events
        ), s AS (
          SELECT *, SUM(brk) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS sess
          FROM o
        ), g AS (
          SELECT user_id, sess,
                 CAST(count(*) AS BIGINT) AS n_events,
                 min(ts) AS session_start,
                 max(ts) AS session_end,
                 {sum_sql('value')} AS total_value
          FROM s GROUP BY user_id, sess
        )
        SELECT user_id, CAST(sess AS BIGINT) AS session_id,
               n_events, session_start, session_end, total_value
        FROM g
        WHERE sess < (SELECT max(sess) FROM s s2
                      WHERE s2.user_id = g.user_id)
    """,
)
def t13_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T13 (r13): CUSTOM SESSIONIZATION via ``applyInPandasWithState``
    (``streaming/stateful.sessionize``) — per-user sessions with a
    60-minute strict-gap rule, emitted EXACTLY ONCE on close, with
    open sessions riding explicit GroupState across micro-batches.

    The arrival is the events month in 4 time-ordered weekly files
    (one micro-batch each), so sessions straddling a week boundary
    must survive in state and close batches later. The emitted set is
    batch-split-invariant — every session except each user's LAST
    (nothing ever proves the last one ended) — which the oracle
    expresses relationally: lag-gap breaks → cumulative session
    ordinals → per-session aggregates, minus each user's max
    ordinal. One lost open session, a double emission, a wrong fold
    at a batch boundary, or a broken ordinal sequence flips the
    hash; exact cents pin the payload."""
    from dst_spark_k8_lakehouse_spark.streaming.stateful import (
        sessionize,
    )

    ev = load_table(spark, sf_dir, "events")
    cuts = ["2024-01-08", "2024-01-15", "2024-01-22"]
    lits = [F.lit(c).cast("timestamp") for c in cuts]
    files = [
        ev.filter(F.col("ts") < lits[0]),
        ev.filter((F.col("ts") >= lits[0]) & (F.col("ts") < lits[1])),
        ev.filter((F.col("ts") >= lits[1]) & (F.col("ts") < lits[2])),
        ev.filter(F.col("ts") >= lits[2]),
    ]
    stream, ck = _arrival_stream(spark, *files)
    out = _drain_to_memory(
        sessionize(stream, "user_id", "ts", "value", "event_id", 60),
        ck, output_mode="update",
    )
    return out.select(
        F.col("key").alias("user_id"),
        "session_id",
        "n_events",
        "session_start",
        "session_end",
        (F.col("total_cents") / 100).cast("double").alias("total_value"),
    )


def foreach_batch_append(
    df: DataFrame, target_dir: str, checkpoint_dir: str
) -> None:
    """T-sink: ``foreachBatch`` bridge into a plain parquet directory,
    effectively-once: each micro-batch OVERWRITES its own
    ``batch_id=<n>`` partition directory, so a batch retried after a
    crash between the sink write and the checkpoint commit replaces its
    previous (possibly partial) output instead of appending duplicate
    rows. Readers see ``batch_id`` as a normal discovered partition
    column (provenance: which micro-batch produced each row)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            f"{target_dir}/batch_id={batch_id}"
        )

    q = (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def write_stream_batch_to_table(
    batch_df: DataFrame, batch_id: int, table_path: str
) -> bool:
    """Idempotent ``foreachBatch`` body for the versioned table sink:
    each micro-batch commits with Delta's ``txn`` action (one app id
    per table, the mechanism ``delta_sink.stream_to_delta`` uses), so
    a batch the log already records is skipped — a retry after a crash
    between the table commit and the checkpoint commit does not produce
    a duplicate version. The first batch creates the table. Returns
    True if the batch was written, False if skipped."""
    from dst_spark_k8_lakehouse_spark.plans import delta_reader, delta_writer

    txn = ("versioned-table-sink", int(batch_id))
    if delta_reader.is_delta_table(table_path):
        return delta_writer.append_delta(
            batch_df, table_path, merge_schema=True, txn=txn
        ) >= 0
    delta_writer.create_delta(batch_df, table_path, txn=txn)
    return True


def foreach_batch_to_table(
    df: DataFrame, table_path: str, checkpoint_dir: str
) -> None:
    """T-sink: ``foreachBatch`` into the versioned lakehouse layer —
    each micro-batch becomes one time-travellable table snapshot
    (append, schema-merging). Effectively-once end to end: the
    checkpoint skips batches the stream knows are done, and
    ``write_stream_batch_to_table`` skips batches the TABLE knows are
    done (the log's ``txn`` watermark), covering the
    crash-between-sink-commit-and-checkpoint-commit window."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_stream_batch_to_table(batch_df, batch_id, table_path)

    q = (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


@query(
    "t6_stream_to_delta",
    oracle="""
        SELECT event_id, user_id, event_type, round(value, 2) AS val
        FROM events
    """,
)
def t6_stream_to_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6: Structured Streaming → NATIVE Delta log, exactly-once.
    The events fixture arrives as a 3-micro-batch file stream; each
    batch appends through ``streaming/delta_sink.stream_to_delta``
    (foreachBatch + the spec's SetTransaction idempotence watermark);
    then a deliberate DUPLICATE re-append of batch 0 is attempted with
    the same (app, batch) — if the skip logic failed, the duplicated
    rows would break the oracle's exact row-set match. Result = the
    Delta table read back through the protocol replay reader: every
    event exactly once."""
    import os
    import tempfile

    from dst_spark_k8_lakehouse_spark.plans import delta_reader, delta_writer
    from dst_spark_k8_lakehouse_spark.streaming.delta_sink import (
        stream_to_delta,
    )

    ev = load_table(spark, sf_dir, "events")
    third = F.col("event_id") % 3
    stream, ckpt = _arrival_stream(
        spark,
        ev.filter(third == 0),
        ev.filter(third == 1),
        ev.filter(third == 2),
    )
    table = os.path.join(tempfile.mkdtemp(prefix="dst-t6-delta-"), "t")
    delta_writer.create_delta(
        spark.createDataFrame([], EVENTS_STREAM_SCHEMA), table
    )
    app = "t6-stream"
    q = stream_to_delta(stream, table, ckpt, app_id=app)
    q.awaitTermination()
    # at-least-once delivery simulation: batch 0 retried after the run
    delta_writer.append_delta(
        ev.filter(third == 0).withColumn(
            "ts", F.col("ts").cast(T.TimestampType())
        ),
        table,
        txn=(app, 0),
    )
    return delta_reader.read_delta(spark, table).select(
        "event_id", "user_id", "event_type",
        F.round("value", 2).alias("val"),
    )


@query(
    "t7_stream_cdf",
    oracle="""
        WITH base AS (
            SELECT c_custkey, round(c_acctbal, 2) AS bal FROM customer
        )
        SELECT c_custkey, bal,
               'insert' AS _change_type, 0 AS _commit_version
        FROM base
        UNION ALL                     -- drained in run 1 (v2 UPDATE)
        SELECT c_custkey, bal, 'update_preimage', 2
        FROM base WHERE c_custkey % 100 = 0
        UNION ALL
        SELECT c_custkey, round(bal + 1, 2), 'update_postimage', 2
        FROM base WHERE c_custkey % 100 = 0
        UNION ALL                     -- drained in run 2 (v3 DELETE)
        SELECT c_custkey,
               round(CASE WHEN c_custkey % 100 = 0
                          THEN bal + 1 ELSE bal END, 2),
               'delete', 3
        FROM base WHERE c_custkey % 10 = 0
    """,
)
def t7_stream_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7: STREAMING CHANGE DATA FEED — ``readStream.format(
    "delta_native").option("readChangeFeed", "true")``
    (``sources/delta_source._CDFStreamReader``; the CDC pipeline
    shape the reference's Delta 4.0 jars expose): a native Delta
    table takes an UPDATE; a first availableNow stream drains the
    creation inserts plus the update's pre/postimages to a collected
    sink; a DELETE lands AFTER that run; a second stream run on the
    SAME checkpoint drains exactly the delete's change set — no
    re-emits, no gaps. Result = union of both drains, value-checked
    against the oracle's full relational change log (version offsets
    prove the incremental contract: duplicated or missed commits
    would break the exact row-set match)."""
    import os
    import tempfile

    from dst_spark_k8_lakehouse_spark.plans import (
        delta_cdf,
        delta_dml,
        delta_writer,
    )
    from dst_spark_k8_lakehouse_spark.sources import delta_source

    delta_source.register(spark)
    base = tempfile.mkdtemp(prefix="dst-t7-cdf-")
    table = os.path.join(base, "t")
    ck = os.path.join(base, "ck")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.round("c_acctbal", 2).alias("bal")
    )
    delta_writer.create_delta(cust.repartition(4), table)     # v0
    delta_cdf.enable_cdf(spark, table)                        # v1
    delta_dml.update_delta(                                   # v2
        spark, table, "c_custkey % 100 = 0",
        {"bal": "round(bal + 1, 2)"},
    )
    collected: list[tuple] = []

    def drain() -> None:
        def sink(batch_df: DataFrame, _bid: int) -> None:
            collected.extend(
                (r.c_custkey, r.bal, r._change_type,
                 int(r._commit_version))
                for r in batch_df.collect()
            )

        q = (
            spark.readStream.format("delta_native")
            .option("readChangeFeed", "true")
            .load(table)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if q.exception():
            raise q.exception()

    drain()
    n_first = len(collected)
    delta_dml.delete_delta(spark, table, "c_custkey % 10 = 0")  # v3
    drain()
    # the second drain must contain ONLY the delete's change set
    assert all(
        kind == "delete" for _, _, kind, _ in collected[n_first:]
    )
    from dst_spark_k8_lakehouse_spark.localrel import local_frame

    return local_frame(
        spark,
        collected,
        "c_custkey long, bal double, _change_type string, "
        "_commit_version int",
    )


@query(
    "t8_stream_to_iceberg",
    oracle="""
        SELECT event_id, user_id, event_type, round(value, 2) AS val
        FROM events
    """,
)
def t8_stream_to_iceberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8: Structured Streaming → NATIVE Iceberg, exactly-once — the
    Iceberg twin of ``t6_stream_to_delta``, into a HIDDEN-PARTITIONED
    target: the events fixture arrives as a 3-micro-batch file stream
    appending into a ``days(ts)`` table (each batch groups by day
    through the transform writer); the idempotence watermark rides the
    snapshot summary (``txn-app-id``/``txn-epoch``), so the deliberate
    DUPLICATE re-append of batch 0 afterwards must be a no-op — a
    failed skip would break the oracle's exact row-set match. Result =
    the table read back through the manifest-replay reader."""
    import os
    import tempfile

    from dst_spark_k8_lakehouse_spark.plans import (
        iceberg_reader,
        iceberg_writer,
    )
    from dst_spark_k8_lakehouse_spark.streaming.iceberg_sink import (
        stream_to_iceberg,
    )

    ev = load_table(spark, sf_dir, "events")
    third = F.col("event_id") % 3
    stream, ckpt = _arrival_stream(
        spark,
        ev.filter(third == 0),
        ev.filter(third == 1),
        ev.filter(third == 2),
    )
    table = os.path.join(tempfile.mkdtemp(prefix="dst-t8-ice-"), "t")
    iceberg_writer.create_iceberg(
        spark.createDataFrame([], EVENTS_STREAM_SCHEMA),
        table,
        partition_by=["days(ts)"],
    )
    app = "t8-stream"
    q = stream_to_iceberg(stream, table, ckpt, app_id=app)
    q.awaitTermination()
    # at-least-once delivery simulation: batch 0 retried after the run
    dup = iceberg_writer.append_iceberg(
        ev.filter(third == 0).withColumn(
            "ts", F.col("ts").cast(T.TimestampType())
        ),
        table,
        txn=(app, 0),
    )
    assert dup == -1, "epoch-0 retry must be skipped"
    return iceberg_reader.read_iceberg(spark, table).select(
        "event_id", "user_id", "event_type",
        F.round("value", 2).alias("val"),
    )


TWS_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("top_values", T.ArrayType(T.DoubleType())),
    ]
)


def user_running_profile_tws(events: DataFrame) -> DataFrame:
    """T9 (r10): Spark 4's ``transformWithStateInPandas`` — the
    arbitrary-stateful successor to ``applyInPandasWithState`` with
    COMPOSABLE typed state (ValueState / ListState / MapState per
    key, each an independent RocksDB column family at scale) instead
    of one monolithic state row. Per user: a ValueState accumulator
    (count + running total) plus a ListState keeping the TOP-3 event
    values seen so far — order-insensitive by construction, so the
    output is deterministic for any batch split of the same input
    (the equals-batch pytest drains it in two availableNow passes).

    Why the new API matters at 100 TB: state evolves per FIELD (a new
    list/map doesn't rewrite the old accumulator), TTL is declarative
    per state (not hand-rolled timeout plumbing), and timers are
    first-class — the operator shape real CDC-merge / fraud-scoring /
    sessionization pipelines need.

    ENV GATE (same class as the delta-spark jar guard): pyspark's
    transformWithState driver worker speaks its state protocol over
    protobuf, and `google.protobuf` is not installed in this container
    (pip index unreachable, re-checked 2026-08-15) — without it the
    query dies mid-stream with an opaque "driver worker exited
    unexpectedly". Refuse HERE with the real cause; the pytest skips
    unless protobuf imports (it passes untouched on an environment
    that has it). Also requires the RocksDB state store provider
    (`spark.sql.streaming.stateStore.providerClass`)."""
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as e:
        raise ImportError(
            "transformWithStateInPandas needs the protobuf package "
            "(pyspark's TWS state-protocol client imports "
            "google.protobuf); not installed in this environment — "
            "`pip install protobuf` where an index is reachable"
        ) from e
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class Profile(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._acc = handle.getValueState(
                "acc", "n LONG, total DOUBLE"
            )
            self._top = handle.getListState("top", "v DOUBLE")

        def handleInputRows(self, key, rows, timerValues):  # noqa: N802
            n, total = (
                self._acc.get() if self._acc.exists() else (0, 0.0)
            )
            top = [r["v"] for r in self._top.get()]
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
                top.extend(float(v) for v in pdf["value"])
                top = sorted(top, reverse=True)[:3]
            self._acc.update((n, total))
            self._top.put([(v,) for v in top])
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [total],
                    "top_values": [top],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        Profile(),
        outputStructType=TWS_OUTPUT_SCHEMA,
        outputMode="update",
        timeMode="none",
    )
