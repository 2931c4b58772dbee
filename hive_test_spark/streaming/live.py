"""SURVEY.md §2.K (2/2) — live Structured Streaming operators.

These run REAL micro-batch streaming queries (readStream file source →
transformations → writeStream) with ``Trigger.AvailableNow`` so they
terminate deterministically after consuming the fixture, then return the
sink contents as a batch DataFrame. With a single micro-batch nothing is
watermark-dropped, so the DuckDB batch twin is an exact oracle while the
code path exercised is IncrementalExecution + StateStore for real.

Scale notes (100 TB stream): file source is a stand-in for Kafka — the
pipeline shape (watermark → stateful op → sink mode) is identical.
Watermarks bound state stores; stream-stream joins keep both sides'
state within the watermark horizon; foreachBatch gives exactly-once
batch sinks via idempotent overwrite.
"""

from __future__ import annotations

import atexit
import glob
import os
import shutil
import time
import uuid
from typing import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from hive_test_spark.io import (
    NANOS_AS_LONG,
    land,
    materialize,
    parquet_schema,
    scratch_dir,
    table_path,
    values,
)
from hive_test_spark.llm.pipeline import _INCR_MINHASH_ORACLE
from hive_test_spark.registry import register
from hive_test_spark.session import scoped_confs

# Seconds an AvailableNow query may run before it counts as hung.
STREAM_TIMEOUT_S = 300


def _run_available_now(
    *writers: DataStreamWriter, ckpt: str | None = None, confs: Mapping[str, str] | None = None
) -> None:
    """Start every writer with ``Trigger.AvailableNow`` and wait until all
    have consumed their sources. Independent streams are passed to one
    call, so they run together. All start from this thread inside one
    ``scoped_confs`` block, so ``confs`` (read by ``start()``) are set
    once and no lock is needed. Every started query is stopped however
    the wait ends, also when a later ``start()`` raises; one still
    running after ``STREAM_TIMEOUT_S`` raises ``TimeoutError``, so a
    partial sink is never returned as an answer. ``ckpt`` is the one
    writer's checkpoint to keep; without it each query gets a fresh
    checkpoint, removed when the call ends."""
    started, own = [], []
    try:
        with scoped_confs(writers[0]._spark, confs or {}):
            for writer in writers:
                path = ckpt
                if path is None:
                    path = scratch_dir("ckpt", f"hts_{uuid.uuid4().hex[:12]}")
                    own.append(path)
                writer = writer.option("checkpointLocation", path)
                started.append(writer.trigger(availableNow=True).start())
        deadline = time.monotonic() + STREAM_TIMEOUT_S
        # pyspark rejects a timeout of 0: a late query still gets 1 ms.
        running = [
            q for q in started
            if not q.awaitTermination(max(deadline - time.monotonic(), 0.001))
        ]
        if running:
            names = ", ".join(str(q.name or q.id) for q in running)
            raise TimeoutError(f"stream {names} still running after {STREAM_TIMEOUT_S} s")
    finally:
        stopped = [q for q in started if q.isActive]
        for q in stopped:
            q.stop()
        _await_tasks(writers[0]._spark, stopped)
        for path in own:
            shutil.rmtree(path, ignore_errors=True)


def _await_tasks(spark: SparkSession, queries: list[StreamingQuery]) -> None:
    """Wait, at most ``STREAM_TIMEOUT_S``, until no task of the stopped
    ``queries`` still runs. ``stop()`` cancels a query's jobs (its job
    group is its run id) without waiting for their tasks, and a job it
    submitted just before may launch tasks after ``stop()`` returns; such
    a task can still create state-store directories in a removed
    checkpoint. A one-task job first drains the scheduler's event queue
    past the cancellations; a task set then stays in the scheduler's
    pool until its last task has ended."""
    if not queries:
        return
    spark.range(1).count()
    groups = {str(q.runId) for q in queries}
    pool = spark.sparkContext._jsc.sc().taskScheduler().rootPool()

    def running() -> bool:
        sets = pool.getSortedTaskSetQueue()
        return any(
            sets.apply(i).taskSet().properties().getProperty("spark.jobGroup.id") in groups
            for i in range(sets.size())
        )

    deadline = time.monotonic() + STREAM_TIMEOUT_S
    while running() and time.monotonic() < deadline:
        time.sleep(0.01)


def _run_dir(kind: str) -> str:
    """A fresh scratch directory for one run's stream output. The
    returned frame reads it lazily, so it is removed when the interpreter
    exits."""
    d = scratch_dir(kind, uuid.uuid4().hex[:12])
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def _batch_paths(root: str) -> list[str]:
    """The ``batch=<id>`` directories a foreachBatch sink wrote under
    ``root``, to read as plain paths: Spark's FileStreamSink logs a
    FileNotFoundException for a ``batch=*`` glob, and reading ``root``
    itself adds a ``batch`` partition column (one more Project)."""
    return sorted(glob.glob(os.path.join(root, "batch=*")))


def _events_stream_dir(spark: SparkSession, sf_dir: str, copies: int = 1) -> str:
    """events.parquet landed as a streaming file source of ``copies``
    identical files (more than one makes a dup-heavy stream)."""

    def write(path: str) -> None:
        os.makedirs(path)
        for i in range(copies):
            shutil.copyfile(table_path(sf_dir, "events"), os.path.join(path, f"events_{i}.parquet"))

    return land(sf_dir, f"stream_src_x{copies}", write)


def _events_raw_schema(spark: SparkSession, src: str) -> T.StructType:
    """readStream needs an explicit schema; take the raw one of ``src``
    (the events fixture, whose copies the stream sources hold) so it
    matches the fixture vintage (ts as long nanos vs µs TIMESTAMP_NTZ)
    instead of hard-coding one layout. Inferred once per session."""
    spark.conf.set(NANOS_AS_LONG, "true")
    return parquet_schema(spark, src)


def _normalize_stream_ts(raw: DataFrame) -> DataFrame:
    from hive_test_spark.io import _normalize_ts

    return raw.withColumn("ts", _normalize_ts(raw.schema["ts"].dataType))


def _read_events_stream(spark: SparkSession, sf_dir: str, copies: int = 1) -> DataFrame:
    src = _events_stream_dir(spark, sf_dir, copies)
    schema = _events_raw_schema(spark, table_path(sf_dir, "events"))
    raw = spark.readStream.schema(schema).parquet(src)
    return _normalize_stream_ts(raw)


def _run_to_memory(
    df: DataFrame, output_mode: str, *, final_watermark_batch: bool = True
) -> DataFrame:
    """Start the streaming query with AvailableNow into a memory sink, wait
    for completion, return the sink table (fresh checkpoint every run).

    ``final_watermark_batch=False`` disables the trailing NO-DATA
    micro-batch (``spark.sql.streaming.noDataMicroBatches.enabled``) for
    this query. That batch exists to advance the watermark so that
    append-mode aggregations/outer joins can EMIT their final rows and
    stateful ops can evict state — for an INNER stream-stream join or
    dropDuplicates it emits nothing (results flow on arrival; the
    watermark only evicts state the terminating run discards anyway),
    yet it costs a full state-store commit cycle across every shuffle
    partition (r13 measured: stream_stream_join median 11.9 s → 5.9 s,
    stream_dedup 2.0 s → 1.2 s at sf0.1, identical sink fingerprints).
    Callers must pass False ONLY when the final batch provably emits no
    rows; anything append-mode that emits ON watermark advance (window
    aggs, outer joins) must keep the default.

    The session-global conf is set only around ``start()`` and restored
    as soon as it returns, not held for the run. That holds for this
    conf because the query reads it from the session it clones at
    ``start()``; it does not hold for everything a stream reads: a file
    source's log is created lazily on the stream thread, after the scope
    has closed, with the session's confs of that moment (hence the
    checkpoint manager is a ``session._RUNTIME_CONFS`` entry)."""
    spark = df.sparkSession
    writer, name = _memory_writer(df, output_mode)
    no_data = {"spark.sql.streaming.noDataMicroBatches.enabled": "false"}
    try:
        _run_available_now(writer, confs={} if final_watermark_batch else no_data)
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


def _memory_writer(df: DataFrame, output_mode: str) -> tuple[DataStreamWriter, str]:
    """A writer of ``df`` into a fresh memory sink, and the sink's name.
    The sink registers a temp view of that name at ``start()``; a frame
    resolved from it keeps the sink's rows once the view is dropped, and
    callers drop it so that a long-lived session gains no view per run."""
    name = f"hts_mem_{uuid.uuid4().hex[:12]}"
    return df.writeStream.format("memory").queryName(name).outputMode(output_mode), name


@register(
    "stream_watermark_late",
    """
    SELECT time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP)) AS w_start,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1
    """,
)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling count executed as a LIVE streaming query.
    The 10-minute watermark bounds window state; with one AvailableNow
    batch no rows are late, so the batch twin is exact."""
    ev = _read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("w_start"), "n_events")
    )
    return _run_to_memory(agg, "complete")


@register(
    "stream_dedup",
    """
    SELECT event_type, COUNT(*) AS n_unique, ROUND(SUM(value), 6) AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup within the watermark: the source is the events file
    duplicated 2× (guaranteed dups); dropDuplicates('event_id') restores
    exactly one copy — verified by aggregating the deduped stream."""
    ev = _read_events_stream(spark, sf_dir, copies=2)
    deduped = ev.withWatermark("ts", "1 hour").dropDuplicates(["event_id"])
    # Dedup emits first-seen rows ON ARRIVAL; the trailing no-data batch
    # would only evict state (see _run_to_memory).
    out = _run_to_memory(deduped, "append", final_watermark_batch=False)
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_unique"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )


@register(
    "stream_stateful",
    """
    SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 6) AS total_value
    FROM events
    GROUP BY user_id
    """,
)
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful per-key logic: applyInPandasWithState keeps a
    running (count, sum) per user in a GroupState. One AvailableNow batch
    → emitted state equals the batch aggregate (exact oracle)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = _read_events_stream(spark, sf_dir)

    def update_counts(key, pdfs, state: GroupState):
        n, tot = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            tot += float(pdf["value"].sum())
        state.update((n, tot))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(tot, 6)]}
        )

    out_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, tot double"
    stateful = (
        ev.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            update_counts, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )
    return _run_to_memory(stateful, "update")


@register(
    "stream_static_join",
    """
    SELECT e.event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(e.value * w.weight), 6) AS weighted_value
    FROM events e
    JOIN (VALUES ('click', 1.0), ('view', 0.5), ('purchase', 10.0),
                 ('signup', 5.0), ('error', 0.0)) AS w(event_type, weight)
      ON e.event_type = w.event_type
    GROUP BY e.event_type
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–static enrichment: the static dim is broadcast into every
    micro-batch (the canonical streaming dimension-join shape)."""
    ev = _read_events_stream(spark, sf_dir)
    dim = values(
        spark,
        [("click", 1.0), ("view", 0.5), ("purchase", 10.0), ("signup", 5.0), ("error", 0.0)],
        "event_type string, weight double",
    )
    joined = ev.join(F.broadcast(dim), "event_type")
    agg = joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value") * F.col("weight")), 6).alias("weighted_value"),
    )
    return _run_to_memory(agg, "complete")


@register(
    "stream_stream_join",
    """
    WITH purchases AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
      WHERE event_type = 'purchase'
    ),
    clicks AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
      WHERE event_type = 'click'
    )
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
    FROM purchases p JOIN clicks c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 10 MINUTE
     AND c.ts <= p.ts
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–stream inner join: purchases matched to same-user clicks in
    the preceding 10 minutes, watermarks on both sides bound join state."""
    ev1 = _read_events_stream(spark, sf_dir)
    ev2 = _read_events_stream(spark, sf_dir)
    purchases = (
        ev1.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        ev2.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "inner",
    ).select("purchase_id", "click_id", F.col("p_user").alias("user_id"))
    # INNER join: matches emit on arrival; the trailing no-data batch
    # would only evict state (see _run_to_memory).
    return _run_to_memory(joined, "append", final_watermark_batch=False)


@register(
    "stream_sink_modes",
    """
    SELECT 'append' AS mode, (SELECT COUNT(*) FROM events WHERE event_type = 'error') AS rows_emitted
    UNION ALL
    SELECT 'complete', (SELECT COUNT(DISTINCT event_type) FROM events)
    UNION ALL
    SELECT 'update', (SELECT COUNT(DISTINCT user_id) FROM events)
    UNION ALL
    SELECT 'foreach_batch', (SELECT COUNT(*) FROM events)
    """,
)
def stream_sink_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink/output-mode matrix: append (raw filter), complete (agg),
    update (agg), and a foreachBatch sink — each run live; the emitted
    row counts are deterministic under a single AvailableNow batch. The
    four queries are independent, so they run together."""
    ev = _read_events_stream(spark, sf_dir)
    sinks = {
        "append": _memory_writer(ev.filter(F.col("event_type") == "error"), "append"),
        "complete": _memory_writer(
            ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")), "complete"
        ),
        "update": _memory_writer(
            ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")), "update"
        ),
    }
    counts = {"foreach_batch": 0}

    def sink_batch(batch_df: DataFrame, batch_id: int) -> None:
        counts["foreach_batch"] += batch_df.count()

    try:
        _run_available_now(
            *(writer for writer, _ in sinks.values()), ev.writeStream.foreachBatch(sink_batch)
        )
        rows = [(mode, spark.table(name).count()) for mode, (_, name) in sinks.items()]
    finally:
        for _, name in sinks.values():
            spark.catalog.dropTempView(name)
    rows.append(("foreach_batch", counts["foreach_batch"]))
    return values(spark, rows, "mode string, rows_emitted long")


@register(
    "stream_foreach_batch_upsert",
    """
    SELECT user_id, event_type AS last_type, value AS last_value,
           epoch_us(CAST(ts AS TIMESTAMP)) AS last_ts_us
    FROM events
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY user_id
      ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC
    ) = 1
    """,
)
def stream_foreach_batch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch incremental upsert — the production exactly-once sink
    pattern [Spark-public: Structured Streaming guide, foreachBatch]:
    maintain a latest-event-per-user ledger across micro-batches. The
    stream is the events fixture DUPLICATED (copies=2) and throttled to
    one file per trigger, so AvailableNow genuinely executes MULTIPLE
    micro-batches; each batch merges into the prior ledger generation and
    writes a new one (generation dirs, never overwrite-while-read). The
    duplicate copy proves idempotence: replayed rows collapse in the
    merge, so the final ledger equals the batch latest-per-user oracle.

    100 TB note: this is the CDC-compaction shape — per batch, work is
    O(batch + ledger-partition touched); deterministic tie-break
    (ts, event_id) makes replays and restarts converge to the same
    ledger, which is what 'exactly-once via idempotent sink' means."""
    from pyspark.sql import Window

    ev = _read_events_stream_throttled(spark, sf_dir, copies=2)
    tag = os.path.basename(os.path.normpath(sf_dir))
    base = scratch_dir("stream_ledger", tag)
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)

    cols = ["user_id", "last_type", "last_value", "last_ts_us", "event_id"]

    def upsert(batch: DataFrame, batch_id: int) -> None:
        sp = batch.sparkSession
        incoming = batch.select(
            "user_id",
            F.col("event_type").alias("last_type"),
            F.col("value").alias("last_value"),
            F.unix_micros("ts").alias("last_ts_us"),
            "event_id",
        )
        prev = os.path.join(base, f"gen={batch_id - 1}")
        if os.path.exists(os.path.join(prev, "_SUCCESS")):
            incoming = sp.read.parquet(prev).unionByName(incoming)
        w = Window.partitionBy("user_id").orderBy(
            F.desc("last_ts_us"), F.desc("event_id")
        )
        latest = (
            incoming.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        latest.select(*cols).write.mode("overwrite").parquet(
            os.path.join(base, f"gen={batch_id}")
        )

    _run_available_now(ev.writeStream.foreachBatch(upsert))

    gens = sorted(
        int(d.split("=", 1)[1]) for d in os.listdir(base) if d.startswith("gen=")
    )
    assert len(gens) >= 2, f"expected multiple micro-batches, got {gens}"
    final = spark.read.parquet(os.path.join(base, f"gen={gens[-1]}"))
    return final.select("user_id", "last_type", "last_value", "last_ts_us")


def _read_events_stream_throttled(
    spark: SparkSession, sf_dir: str, copies: int
) -> DataFrame:
    """Like _read_events_stream but one file per micro-batch, so
    AvailableNow runs `copies` incremental batches instead of one."""
    src = _events_stream_dir(spark, sf_dir, copies)
    schema = _events_raw_schema(spark, table_path(sf_dir, "events"))
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    return _normalize_stream_ts(raw)


@register(
    "stream_ohlc_live",
    """
    WITH ev AS (
      SELECT event_type,
             time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS hour, value,
             row_number() OVER (PARTITION BY event_type, time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))
                                ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn_open,
             row_number() OVER (PARTITION BY event_type, time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))
                                ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn_close
      FROM events
    )
    SELECT event_type, hour,
           max(CASE WHEN rn_open = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           max(CASE WHEN rn_close = 1 THEN value END) AS close,
           count(*) AS n_events
    FROM ev GROUP BY event_type, hour
    """,
)
def stream_ohlc_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling as a LIVE streaming query: watermarked hourly
    window, min_by/max_by endpoint states inside the streaming aggregate
    (constant-size per (type, hour) — the same agg-only rewrite as the
    batch evt_ohlc, proven here through IncrementalExecution +
    StateStore). At 100 TB this is the canonical telemetry-rollup
    topology: Kafka → watermark → windowed min_by/max_by/count → upsert
    sink; state per key never grows with event volume."""
    ev = _read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.expr("min_by(value, struct(ts, event_id))").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.expr("max_by(value, struct(ts, event_id))").alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "event_type", F.col("w.start").alias("hour"),
            "open", "high", "low", "close", "n_events",
        )
    )
    return _run_to_memory(agg, "complete")


@register(
    "stream_transform_with_state",
    """
    SELECT user_id, COUNT(*) AS n_events,
           ROUND(SUM(value), 6) AS total_value,
           ROUND(MAX(value), 6) AS max_value,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchases
    FROM events
    GROUP BY user_id
    """,
)
def stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful processing via transformWithStateInPandas
    [Spark-public: SPARK-49462, the Spark 4 successor to
    applyInPandasWithState (cf. stream_stateful)]: a StatefulProcessor
    class holds a typed ValueState per user and emits the running
    (count, sum, max, purchases) on every update. The new API's
    operational wins over GroupState — named state variables (Value/
    List/Map) with independent schemas, state TTL, timers, and initial-
    state bootstrap — are what make long-lived 100 TB streaming state
    manageable; it REQUIRES the RocksDB state-store provider (state
    lives off-heap on local SSD, checkpointed incrementally — executor
    memory stops bounding state size). One AvailableNow batch → the
    emitted state equals the batch aggregate (exact DuckDB oracle).

    SANDBOX GATE (clearly marked, same policy as the multimodal codec
    stub): TWS's Python driver worker imports google.protobuf, which
    this container does not ship (no pip install allowed). When the
    dependency is absent the op runs the SAME per-key state recurrence
    through applyInPandasWithState (the predecessor API, GroupState) so
    the registered query stays semantically identical and fully
    oracled; with protobuf present the TWS + RocksDB path below is the
    one exercised. CAVEAT: because this sandbox lacks protobuf, the TWS
    branch (RunningTotals StatefulProcessor + RocksDB provider config)
    has never executed in any environment that has run this repo — it
    is written to the public TWS API docs but is unverified here; the
    first protobuf-equipped environment should run this op and
    tests/test_streaming.py before trusting that branch. (Probe
    re-run each round; round 5: google.protobuf still absent, gate
    stays.)"""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )


    try:  # capability probe: TWS driver worker hard-requires protobuf
        from google.protobuf import descriptor  # noqa: F401

        has_tws_deps = True
    except ImportError:
        has_tws_deps = False

    if not has_tws_deps:
        from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

        ev = _read_events_stream(spark, sf_dir)

        def update_totals(key, pdfs, state: GroupState):
            n, tot, mx, buys = state.get if state.exists else (0, 0.0, None, 0)
            for pdf in pdfs:
                n += len(pdf)
                tot += float(pdf["value"].sum())
                batch_max = float(pdf["value"].max())
                mx = batch_max if mx is None else max(mx, batch_max)
                buys += int((pdf["event_type"] == "purchase").sum())
            state.update((n, tot, mx, buys))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [round(tot, 6)],
                    "max_value": [round(mx, 6)],
                    "n_purchases": [buys],
                }
            )

        stateful = (
            ev.withWatermark("ts", "1 hour")
            .groupBy("user_id")
            .applyInPandasWithState(
                update_totals,
                "user_id long, n_events long, total_value double, "
                "max_value double, n_purchases long",
                "n long, tot double, mx double, buys long",
                "update",
                GroupStateTimeout.NoTimeout,
            )
        )
        return _run_to_memory(stateful, "update")

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "totals", "n LONG, tot DOUBLE, mx DOUBLE, buys LONG"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, tot, mx, buys = (
                self._state.get() if self._state.exists() else (0, 0.0, None, 0)
            )
            for pdf in rows:
                n += len(pdf)
                tot += float(pdf["value"].sum())
                batch_max = float(pdf["value"].max())
                mx = batch_max if mx is None else max(mx, batch_max)
                buys += int((pdf["event_type"] == "purchase").sum())
            self._state.update((n, tot, mx, buys))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [round(tot, 6)],
                    "max_value": [round(mx, 6)],
                    "n_purchases": [buys],
                }
            )

        def close(self) -> None:
            pass

    ev = _read_events_stream(spark, sf_dir)
    rocksdb = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    with scoped_confs(spark, {"spark.sql.streaming.stateStore.providerClass": rocksdb}):
        stateful = (
            ev.withWatermark("ts", "1 hour")
            .groupBy("user_id")
            .transformWithStateInPandas(
                statefulProcessor=RunningTotals(),
                outputStructType=(
                    "user_id long, n_events long, total_value double, "
                    "max_value double, n_purchases long"
                ),
                outputMode="Update",
                timeMode="None",
            )
        )
        return _run_to_memory(stateful, "update")


@register(
    "stream_checkpoint_recovery",
    """
    SELECT event_type, COUNT(*) AS n_events, ROUND(SUM(value), 6) AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def stream_checkpoint_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once restart recovery [Spark-public: Structured Streaming
    checkpointing — offsets (file-source log) + state store both live in
    the checkpoint]: the events fixture is split into two half files;
    query run #1 consumes ONLY half A (complete-mode per-type totals),
    terminates, half B appears, and run #2 starts from the SAME
    checkpoint. Run #2's file-source log marks half A as already
    committed, so A's contribution can only come from the RECOVERED
    state store — yet the final totals must equal the full-table batch
    aggregate (the oracle). This is the fault-tolerance contract a
    100 TB streaming job leans on at every executor loss or planned
    restart: offsets and state checkpoint atomically per micro-batch,
    so a restart neither re-counts A nor drops it."""
    # Deterministic two-half split of events, landed like the stream
    # srcs. The halves hold the fixture's rows as read with nanosAsLong,
    # so their raw schema is the fixture's.
    events = table_path(sf_dir, "events")
    schema = _events_raw_schema(spark, events)

    def write_halves(path: str) -> None:
        full = spark.read.schema(schema).parquet(events)
        for side, pred in (("a", "event_id % 2 = 0"), ("b", "event_id % 2 = 1")):
            full.filter(pred).coalesce(1).write.parquet(os.path.join(path, f"half_{side}"))

    halves = land(sf_dir, "ckpt_rec_halves", write_halves)

    src = scratch_dir("ckpt_rec_src", uuid.uuid4().hex[:12])
    os.makedirs(src, exist_ok=True)
    ckpt = scratch_dir("ckpt_rec_ckpt", uuid.uuid4().hex[:12])

    def _copy_half(side: str) -> None:
        hdir = os.path.join(halves, f"half_{side}")
        for f in os.listdir(hdir):
            if f.endswith(".parquet"):
                shutil.copyfile(
                    os.path.join(hdir, f), os.path.join(src, f"{side}_{f}")
                )

    sinks: list[str] = []

    def _run_once() -> str:
        raw = spark.readStream.schema(schema).parquet(src)
        agg = (
            _normalize_stream_ts(raw)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 6).alias("total_value"),
            )
        )
        writer, name = _memory_writer(agg, "complete")
        sinks.append(name)
        _run_available_now(writer, ckpt=ckpt)
        return name

    try:
        _copy_half("a")
        _run_once()  # run #1: half A only
        _copy_half("b")
        name = _run_once()  # run #2: same checkpoint, recovers A's state
        # The frame outlives the source directory: its rows live in the
        # driver-side memory sink, not in the files the stream read.
        return spark.table(name)
    finally:
        for sink in sinks:
            spark.catalog.dropTempView(sink)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(src, ignore_errors=True)


@register(
    "stream_foreachbatch_multisink",
    """
    SELECT event_type,
           2 * COUNT(*) AS n_rollup,
           2 * COUNT(*) AS n_archive,
           ROUND(2 * SUM(value), 4) AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def stream_foreachbatch_multisink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch multi-sink fan-out [Spark-public: Structured
    Streaming guide, "Using Foreach and ForeachBatch" — writing to
    multiple locations]: one stream feeds TWO sinks atomically per
    micro-batch — (a) a ROLLUP sink of per-batch pre-aggregated partials
    (event_type, cnt, sum) and (b) a raw ARCHIVE sink — with the batch
    ``persist()``ed across both writes so the source microbatch is read
    once, exactly as the guide prescribes. The source is the events
    fixture duplicated into two files with ``maxFilesPerTrigger=1``, so
    AvailableNow genuinely runs ≥2 micro-batches (asserted). The result
    final-merges the rollup partials and joins them against archive
    counts; the oracle (2× the batch aggregate, for the two copies)
    hash-checks BOTH sinks' cross-batch consistency at once.

    100 TB note: the rollup sink is the streaming form of map-side
    partial aggregation — each batch appends O(|event_type|) partial
    rows, and the expensive final merge is deferred to read time (or a
    periodic compactor), so the hot path never rewrites the target. The
    archive sink is append-only. Both writes happen inside one
    foreachBatch invocation, so a replayed batch re-writes the same
    deterministic content (idempotent by path = batch_id) — the
    exactly-once recipe for multi-destination fan-out without a
    two-phase commit."""
    ev = _read_events_stream_throttled(spark, sf_dir, copies=2)

    rollup_dir = _run_dir("fbm_rollup")
    archive_dir = _run_dir("fbm_archive")
    n_batches = {"n": 0}

    def _fanout(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            (
                batch_df.groupBy("event_type")
                .agg(
                    F.count(F.lit(1)).alias("cnt"),
                    F.sum("value").alias("val_sum"),
                )
                .write.mode("overwrite")
                .parquet(os.path.join(rollup_dir, f"batch={batch_id}"))
            )
            batch_df.select("event_id", "event_type", "value").write.mode(
                "overwrite"
            ).parquet(os.path.join(archive_dir, f"batch={batch_id}"))
        finally:
            batch_df.unpersist()
        n_batches["n"] += 1

    _run_available_now(ev.writeStream.foreachBatch(_fanout))
    assert n_batches["n"] >= 2, "maxFilesPerTrigger=1 over 2 files must yield >=2 batches"

    rollup = (
        spark.read.parquet(*_batch_paths(rollup_dir))
        .groupBy("event_type")
        .agg(
            F.sum("cnt").alias("n_rollup"),
            F.round(F.sum("val_sum"), 4).alias("total_value"),
        )
    )
    archive = (
        spark.read.parquet(*_batch_paths(archive_dir))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_archive"))
    )
    return rollup.join(archive, "event_type").select(
        "event_type", "n_rollup", "n_archive", "total_value"
    )


@register("stream_incremental_neardup", _INCR_MINHASH_ORACLE)
def stream_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dedup ingest tick: each micro-batch of incoming
    documents probes the STORED MinHash band index via foreachBatch —
    the live twin of llm_incremental_minhash, which defines the batch
    semantics this stream must reproduce exactly (same oracle). The
    existing corpus's (band, band_key) index and token sets are
    materialized once (io.materialize — the stand-in for the persisted
    index table a production pipeline keeps); the incoming split is
    landed as three parquet files and read with maxFilesPerTrigger=1,
    so AvailableNow genuinely runs ≥2 micro-batches (asserted). Each
    batch computes its own signatures, probes the static index,
    exact-Jaccard-verifies, and appends per-doc decision rows
    (n_near_dups, best match, is_new) to the decisions sink keyed by
    batch_id — idempotent on replay. Correctness hinges on the probe
    being embarrassingly parallel across batches: a doc's decision
    depends only on itself and the static index, so batch boundaries
    cannot change the answer — which is exactly what hash-matching the
    batch oracle proves.

    At 100 TB: this is the shape that makes near-dedup STREAMABLE — no
    stream-stream self-join, no unbounded state; the only state is the
    index table, appended out-of-band as batches are accepted
    (insert-only, the llm_incremental_minhash freshness note). The
    foreachBatch write-per-batch_id layout is the exactly-once recipe
    from stream_foreachbatch_multisink."""
    from hive_test_spark.io import load_table
    from hive_test_spark.llm.pipeline import (
        _INCR_MOD,
        _minhash_bands_from,
        _probe_band_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    ex_toks, ex_bands = _minhash_bands_from(
        docs.filter(F.col("doc_id") % _INCR_MOD != 0)
    )
    ex_toks = ex_toks.transform(materialize)
    ex_bands = ex_bands.transform(materialize)

    src = _run_dir("stream_docs_src")
    out_dir = _run_dir("stream_neardup_out")
    (
        docs.filter(F.col("doc_id") % _INCR_MOD == 0)
        .select("doc_id", "text")
        .repartition(3)
        .write.mode("overwrite")
        .parquet(src)
    )
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    n_batches = {"n": 0}

    def _probe(batch_df: DataFrame, batch_id: int) -> None:
        in_toks, in_bands = _minhash_bands_from(batch_df)
        decisions = _probe_band_index(
            incoming_docs=batch_df.select("doc_id"),
            in_toks=in_toks,
            in_bands=in_bands,
            ex_toks=ex_toks,
            ex_bands=ex_bands,
        )
        decisions.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch={batch_id}")
        )
        n_batches["n"] += 1

    _run_available_now(stream.writeStream.foreachBatch(_probe))
    assert n_batches["n"] >= 2, (
        "maxFilesPerTrigger=1 over 3 files must yield >=2 micro-batches"
    )
    return spark.read.parquet(*_batch_paths(out_dir)).orderBy("doc_id")
