"""Streaming behavior tests beyond the single-batch oracle (SURVEY.md §2.K):
multi-micro-batch execution, dedup across batches, twin equivalence."""

from __future__ import annotations

import os
import shutil
import uuid

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_live_watermark_equals_batch_twin(spark, registry):
    """The live streaming tumbling count equals the batch F.window agg."""
    qs, _ = registry
    live = {
        (r["w_start"], r["n_events"])
        for r in qs["stream_watermark_late"](spark, SF_DIR).collect()
    }
    from hive_test_spark.io import load_table

    batch = {
        (r["w_start"], r["n_events"])
        for r in load_table(spark, SF_DIR, "events")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("w_start"), "n_events")
        .collect()
    }
    assert live == batch


def test_multi_microbatch_dedup(spark):
    """Force 2 micro-batches (maxFilesPerTrigger=1 over a 2-copy source):
    dropDuplicates state must dedup ACROSS batches, not just within."""
    from hive_test_spark.io import scratch_dir
    from hive_test_spark.streaming.live import (
        _events_raw_schema,
        _events_stream_dir,
        _normalize_stream_ts,
    )

    src = _events_stream_dir(spark, SF_DIR, copies=2)
    raw = _normalize_stream_ts(
        spark.readStream.schema(_events_raw_schema(spark, src))
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    deduped = raw.withWatermark("ts", "1 hour").dropDuplicates(["event_id"])
    name = f"hts_test_{uuid.uuid4().hex[:8]}"
    ckpt = scratch_dir("ckpt", name)
    q = (
        deduped.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    shutil.rmtree(ckpt, ignore_errors=True)
    out = spark.table(name)
    progress = q.recentProgress
    assert len(progress) >= 2, "expected multiple micro-batches"
    from hive_test_spark.io import load_table

    n_events = load_table(spark, SF_DIR, "events").count()
    assert out.count() == n_events


def test_session_window_twin_equivalence(spark, registry):
    """F.session_window output matches the lag/cumsum sessionization idiom
    on session counts per user."""
    qs, _ = registry
    native = (
        qs["stream_session_window"](spark, SF_DIR)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .collect()
    )
    native_map = {r["user_id"]: r["n_sessions"] for r in native}
    from hive_test_spark.io import load_table
    from pyspark.sql import Window

    ev = load_table(spark, SF_DIR, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    idiom = (
        ev.select(
            "user_id",
            F.when(F.lag("ts").over(w).isNull() | (gap >= 1800), 1).otherwise(0).alias("new_s"),
        )
        .groupBy("user_id")
        .agg(F.sum("new_s").alias("n_sessions"))
        .collect()
    )
    idiom_map = {r["user_id"]: r["n_sessions"] for r in idiom}
    assert native_map == idiom_map


def test_stream_timeout_raises_and_leaves_nothing_running(spark, registry, monkeypatch):
    """A stream still running when ``STREAM_TIMEOUT_S`` is up raises
    ``TimeoutError`` instead of returning its partial sink as the answer;
    the query is stopped and its checkpoint removed. (pyspark rejects a
    timeout of 0, so the test waits 1 ms.)"""
    from hive_test_spark.io import scratch_dir
    from hive_test_spark.streaming import live

    qs, _ = registry
    ckpts = os.path.dirname(scratch_dir("ckpt", "_"))
    before = set(os.listdir(ckpts))
    monkeypatch.setattr(live, "STREAM_TIMEOUT_S", 0.001)
    with pytest.raises(TimeoutError):
        qs["stream_sink_modes"](spark, SF_DIR)
    assert spark.streams.active == []
    assert set(os.listdir(ckpts)) == before


def test_a_failed_start_stops_every_started_stream(spark):
    """Independent streams start together; when a later ``start()``
    raises, the queries already started are stopped and every checkpoint
    the call made is removed."""
    from hive_test_spark.io import scratch_dir
    from hive_test_spark.streaming import live

    ev = live._read_events_stream(spark, SF_DIR)
    ckpts = os.path.dirname(scratch_dir("ckpt", "_"))
    before = set(os.listdir(ckpts))
    started = [live._memory_writer(ev, "append") for _ in range(2)]
    nameless = ev.writeStream.format("memory")  # a memory sink needs a query name
    never, _ = live._memory_writer(ev, "append")
    with pytest.raises(AnalysisException, match="queryName"):
        live._run_available_now(*(w for w, _ in started), nameless, never)
    # The first two did start: a memory sink registers its table at start().
    assert all(spark.catalog.tableExists(name) for _, name in started)
    assert spark.streams.active == []
    assert set(os.listdir(ckpts)) == before


def test_stream_keys_leave_no_temp_view(spark, registry):
    """A memory sink's temp view is dropped once the key's frame is
    resolved: building stream keys leaves the session's temp views as
    they were, and each returned frame still collects the sink's rows."""
    qs, _ = registry

    def temp_views() -> set[str]:
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    before = temp_views()
    keys = ("stream_dedup", "stream_sink_modes", "stream_checkpoint_recovery")
    frames = {key: qs[key](spark, SF_DIR) for key in keys}
    assert temp_views() == before
    for key, df in frames.items():
        assert df.collect(), key


def test_checkpoints_rename_through_the_file_system_with_checksums(spark, tmp_path):
    """A tuned session's checkpoint manager renames with
    ``FileSystem.rename`` (no ``readlink`` fork per rename on a local
    disk), and the state store still wraps it in its checksum manager:
    every state file keeps Spark's checksum file beside it."""
    from hive_test_spark.session import tune
    from hive_test_spark.streaming import live

    tune(spark)
    jvm = spark._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    fm = manager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert fm.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"

    ckpt = tmp_path / "ckpt"
    ev = live._read_events_stream(spark, SF_DIR)
    writer, name = live._memory_writer(ev.groupBy("event_type").count(), "complete")
    live._run_available_now(writer, ckpt=str(ckpt))
    assert spark.table(name).count() > 0
    deltas = sorted((ckpt / "state").rglob("*.delta"))
    assert deltas
    assert all(d.with_name(d.name + ".crc").is_file() for d in deltas)
