"""Per-session parquet schema cache in ``hive_test_spark.io``: a warm load
runs no inference job, a changed file re-infers, and the events ``ts``
vintage still normalizes on a cached read."""

from __future__ import annotations

import datetime as dt
import uuid
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hive_test_spark.io import NANOS_AS_LONG, TABLES, load_table, parquet_schema, table_path
from tests.conftest import SF_DIR


@contextmanager
def _jobs(spark):
    """Collect the ids of the Spark jobs launched inside the block."""
    sc = spark.sparkContext
    group = f"schema-cache-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "io schema cache test")
    ids: list[int] = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_of_every_table_runs_no_job(spark):
    # events first: its load sets nanosAsLong, which is part of the key.
    order = sorted(TABLES, key=lambda t: t != "events")
    first = {t: load_table(spark, SF_DIR, t).schema for t in order}
    with _jobs(spark) as ids:
        second = {t: load_table(spark, SF_DIR, t).schema for t in order}
    assert ids == []
    assert second == first


def test_changed_file_reinfers(spark, tmp_path):
    sf = str(tmp_path)
    path = table_path(sf, "region")
    pq.write_table(pa.table({"r_regionkey": pa.array([0, 1], pa.int64())}), path)
    with _jobs(spark) as cold:
        assert load_table(spark, sf, "region").columns == ["r_regionkey"]
    with _jobs(spark) as warm:
        load_table(spark, sf, "region")
    assert cold and not warm  # the counter sees inference, and the cache skips it

    pq.write_table(
        pa.table({"r_regionkey": pa.array([0, 1, 2], pa.int32()), "r_name": ["A", "B", "C"]}),
        path,
    )
    df = load_table(spark, sf, "region")
    assert df.schema == T.StructType(
        [T.StructField("r_regionkey", T.IntegerType()), T.StructField("r_name", T.StringType())]
    )
    assert sorted(r.r_name for r in df.collect()) == ["A", "B", "C"]


def test_nanos_events_vintage_normalizes_on_cached_read(spark, tmp_path):
    sf = str(tmp_path)
    base = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
    ns = [int(base.timestamp()) * 10**9 + i * 1_000_001_237 for i in range(5)]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(5), pa.int64()),
                "ts": pa.array(ns, pa.timestamp("ns")),
                "value": pa.array([0.5 * i for i in range(5)]),
            }
        ),
        table_path(sf, "events"),
        version="2.6",
    )

    def micros():
        df = load_table(spark, sf, "events")
        assert df.schema["ts"].dataType == T.TimestampType()
        rows = df.select("event_id", F.unix_micros("ts").alias("us")).collect()
        return sorted((r.event_id, r.us) for r in rows)

    cold = micros()
    assert isinstance(parquet_schema(spark, table_path(sf, "events"))["ts"].dataType, T.LongType)
    with _jobs(spark) as ids:
        df = load_table(spark, sf, "events")
        assert df.schema["ts"].dataType == T.TimestampType()
    assert ids == []
    assert micros() == cold == [(i, n // 1000) for i, n in enumerate(ns)]

    # nanosAsLong is part of the key: without it the same file is illegal.
    spark.conf.set(NANOS_AS_LONG, "false")
    try:
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            parquet_schema(spark, table_path(sf, "events"))
    finally:
        spark.conf.set(NANOS_AS_LONG, "true")
