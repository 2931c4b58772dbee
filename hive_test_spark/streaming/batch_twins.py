"""SURVEY.md §2.K (1/2) — streaming window operators, batch-twin form.

Hive has no streaming surface [Hive-public]; the `events` fixture
mandates it (TESTDATA.md). Strategy per SURVEY.md §2.K: every windowing
operator is expressed with the exact Structured Streaming expression
(``F.window`` / ``F.session_window``) but executed on the batch
DataFrame — identical semantics, DuckDB-oracle-able. The live
micro-batch variants are in ``live.py`` and tests.

Scale notes: windowed aggs shuffle on (window, key); watermarking (live
path) bounds state. session_window merges adjacent sessions in-state —
at 100 TB per-key session state is bounded by the gap parameter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_test_spark.io import load_table
from hive_test_spark.registry import register


@register(
    "stream_tumbling_window",
    """
    SELECT time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP)) AS w_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 6) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 10-minute window agg — same F.window expression a
    readStream pipeline uses."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(F.col("w.start").alias("w_start"), "event_type", "n_events", "total_value")
    )


@register(
    "stream_sliding_window",
    """
    SELECT time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP))
             - off * INTERVAL '5 minutes' AS w_start,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 6) AS total_value
    FROM events CROSS JOIN (SELECT unnest([0, 1]) AS off) offs
    GROUP BY 1
    """,
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (10-minute length, 5-minute slide): every event lands
    in exactly 2 windows. Oracle mirrors via the offset-expansion idiom."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(F.col("w.start").alias("w_start"), "n_events", "total_value")
    )


@register(
    "stream_session_window",
    """
    WITH flagged AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
             -- >= gap, not >: Spark merges sessions only when the next event
             -- falls strictly inside [ts, ts+gap)
             CASE WHEN LAG(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                   OR epoch(CAST(ts AS TIMESTAMP)) - epoch(LAG(CAST(ts AS TIMESTAMP)) OVER w) >= 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    numbered AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start,
           COUNT(*) AS n_events, ROUND(SUM(value), 6) AS total_value
    FROM numbered
    GROUP BY user_id, sid
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session window (30-minute gap) via F.session_window — the
    native streaming session operator; oracle is the lag/cumsum idiom."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            "n_events",
            "total_value",
        )
    )
