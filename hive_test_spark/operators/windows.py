"""SURVEY.md §2.E — window functions.

Reference surface: HiveQL windowing (OVER / PARTITION BY / ORDER BY /
frames) [Hive-public] (reference checkout empty — SURVEY.md §0.1).

Scale notes (100 TB): a window = one shuffle on the partition key + a
per-partition sort. All windows below partition on real keys (never a
global ``Window.orderBy`` without partitioning, which funnels everything
to one task — the classic window scale bug). Rank-based top-k pushes the
filter immediately after the window so AQE can drop data early.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_test_spark.io import load_table
from hive_test_spark.registry import register, register_sql


# ROW_NUMBER per customer in order-date order (o_orderkey tiebreak
# keeps it deterministic — SURVEY.md §5.3).
register_sql(
    "win_row_number",
    """
    SELECT o_custkey, o_orderkey,
           ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
    FROM {orders}
    """,
)


# RANK / DENSE_RANK with gaps (floored balance induces real ties;
# floor, not int-cast — double→int cast truncates in Spark but rounds
# in DuckDB, a dialect trap for the oracle).
register_sql(
    "win_rank_dense",
    """
    SELECT c_nationkey, c_custkey,
           RANK() OVER (PARTITION BY c_nationkey ORDER BY FLOOR(c_acctbal) DESC) AS rnk,
           DENSE_RANK() OVER (PARTITION BY c_nationkey ORDER BY FLOOR(c_acctbal) DESC) AS drnk
    FROM {customer}
    """,
)


# NTILE(4) quartile assignment within market segment.
register_sql(
    "win_ntile",
    """
    SELECT c_custkey,
           NTILE(4) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) AS quartile
    FROM {customer}
    """,
)


# PERCENT_RANK / CUME_DIST relative-position functions.
register_sql(
    "win_percent_cume",
    """
    SELECT s_suppkey,
           ROUND(PERCENT_RANK() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal), 6) AS pct_rank,
           ROUND(CUME_DIST() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal), 6) AS cume
    FROM {supplier}
    """,
)


# LAG/LEAD offset access + derived delta column.
register_sql(
    "win_lag_lead",
    """
    SELECT o_custkey, o_orderkey,
           LAG(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
           LEAD(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_price,
           ROUND(o_totalprice - COALESCE(LAG(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 0.0), 6) AS delta
    FROM {orders}
    """,
)


@register(
    "win_first_last",
    """
    SELECT o_custkey, o_orderkey,
           FIRST_VALUE(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_price,
           LAST_VALUE(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_price
    FROM orders
    """,
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST_VALUE / LAST_VALUE with explicit frames (LAST needs the full
    frame — the default frame stops at CURRENT ROW)."""
    o = load_table(spark, sf_dir, "orders")
    base = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_first = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_full = base.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_totalprice").over(w_first).alias("first_price"),
        F.last("o_totalprice").over(w_full).alias("last_price"),
    )


# Running aggregate with a ROWS frame.
register_sql(
    "win_running_sum",
    """
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS running_total,
           COUNT(*) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n
    FROM {orders}
    """,
)


@register(
    "win_range_frame",
    """
    SELECT user_id, event_id,
           ROUND(SUM(value) OVER (
             PARTITION BY user_id ORDER BY epoch_s
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 6) AS sum_1h,
           COUNT(*) OVER (
             PARTITION BY user_id ORDER BY epoch_s
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS n_1h
    FROM (SELECT user_id, event_id, value,
                 epoch(CAST(ts AS TIMESTAMP)) AS epoch_s
          FROM events) e
    """,
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE (value-based) frame: trailing 1-hour sum per user — the batch
    sliding-window idiom. Epoch seconds make the RANGE bound portable."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "epoch_s", F.unix_timestamp("ts")
    )
    w = Window.partitionBy("user_id").orderBy("epoch_s").rangeBetween(-3600, 0)
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(w), 6).alias("sum_1h"),
        F.count(F.lit(1)).over(w).alias("n_1h"),
    )


# Top-K per group (the classic Hive-test exercise): row_number + filter.
# Spark pushes a per-partition rank limit (WindowGroupLimit) before the
# shuffle, so only K rows per group per input partition move.
register_sql(
    "win_topk_per_group",
    """
    SELECT c_nationkey, c_custkey, c_acctbal
    FROM (SELECT c_nationkey, c_custkey, c_acctbal,
                 ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                    ORDER BY c_acctbal DESC, c_custkey) AS rn
          FROM {customer}) t
    WHERE rn <= 3
    """,
)


@register(
    "win_sessionize_batch",
    """
    WITH flagged AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
             CASE WHEN epoch(CAST(ts AS TIMESTAMP))
                       - epoch(LAG(CAST(ts AS TIMESTAMP)) OVER
                               (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
                       OR LAG(CAST(ts AS TIMESTAMP)) OVER
                               (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, event_id,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id_raw
      FROM flagged
    )
    SELECT user_id, CAST(session_id_raw AS BIGINT) AS session_id, COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, CAST(session_id_raw AS BIGINT)
    """,
)
def win_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap): lag → new-session flag →
    running sum as session id → per-session rollup. One shuffle on
    user_id serves both windows and feeds the final agg."""
    ev = load_table(spark, sf_dir, "events")
    order = ["ts", "event_id"]
    w = Window.partitionBy("user_id").orderBy(*order)
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_ts = F.lag("ts").over(w)
    gap_s = F.unix_timestamp("ts") - F.unix_timestamp(prev_ts)
    flagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(prev_ts.isNull() | (gap_s > 1800), 1).otherwise(0).alias("new_session"),
    )
    sess = flagged.select(
        "user_id", "event_id", F.sum("new_session").over(w_run).alias("session_id")
    )
    return sess.groupBy("user_id", "session_id").agg(F.count(F.lit(1)).alias("n_events"))


@register(
    "win_islands",
    """
    WITH iv AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS s,
             CAST(o_orderdate AS DATE) + 30 AS e
      FROM orders
    ),
    w1 AS (
      SELECT o_custkey, s, e,
             MAX(e) OVER (PARTITION BY o_custkey ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max_e
      FROM iv
    ),
    w2 AS (
      SELECT o_custkey, s, e,
             SUM(CASE WHEN prev_max_e IS NULL OR s > prev_max_e
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY o_custkey ORDER BY s, e
                     ROWS UNBOUNDED PRECEDING) AS island
      FROM w1
    ),
    isl AS (
      SELECT o_custkey, island, MIN(s) AS i_start, MAX(e) AS i_end,
             COUNT(*) AS n_orders
      FROM w2 GROUP BY o_custkey, island
    )
    SELECT o_custkey,
           COUNT(*) AS n_islands,
           CAST(SUM(date_diff('day', i_start, i_end)) AS BIGINT) AS covered_days,
           CAST(MAX(n_orders) AS BIGINT) AS max_orders_in_island
    FROM isl GROUP BY o_custkey
    """,
)
def win_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands interval merge [Hive-public: the classic
    overlapping-interval consolidation — each order opens a 30-day
    activity window; overlapping windows merge into activity "islands"]:
    island boundaries via the running-max-of-end trick (a new island
    starts exactly when a start exceeds every previous end), then
    per-customer island stats. The same plan consolidates IP leases,
    sessions, maintenance windows.

    Scale shape: both windows and both rollups are keyed on o_custkey —
    ONE shuffle total (windows and the island groupBy all reuse the
    customer partitioning); the running max is O(1) per row. The
    strictly-prior frame makes the island id exact (an interval never
    compares against its own end). Deterministic tie-break (s, e)."""
    o = load_table(spark, sf_dir, "orders")
    iv = o.select(
        "o_custkey",
        F.to_date("o_orderdate").alias("s"),
        F.date_add(F.to_date("o_orderdate"), 30).alias("e"),
    )
    wprev = (
        Window.partitionBy("o_custkey")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wrun = (
        Window.partitionBy("o_custkey")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w1 = iv.withColumn("prev_max_e", F.max("e").over(wprev))
    w2 = w1.withColumn(
        "island",
        F.sum(
            F.when(
                F.col("prev_max_e").isNull() | (F.col("s") > F.col("prev_max_e")), 1
            ).otherwise(0)
        ).over(wrun),
    )
    isl = w2.groupBy("o_custkey", "island").agg(
        F.min("s").alias("i_start"),
        F.max("e").alias("i_end"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return isl.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.datediff("i_end", "i_start")).alias("covered_days"),
        F.max("n_orders").alias("max_orders_in_island"),
    )


# nth_value window function — both frame personalities: with a FULL
# frame it is a per-group constant (the 2nd-richest customer, visible
# on every row — the 'medalist' reporting idiom), with the DEFAULT
# running frame it is NULL until the nth row has been seen (ANSI
# semantics both engines implement). Completes the ordered-analytic
# set next to first/last/lag/lead (win_first_last, win_lag_lead).
#
# At 100 TB: one keyed shuffle like any window; the full-frame variant
# buffers each partition to its end before emitting — same cost class
# as last_value-with-full-frame, fine on dimension-scale partitions,
# use the top-k join shape on fact-scale ones.
register_sql(
    "win_nth_value",
    """
    SELECT c_custkey, c_nationkey,
           nth_value(c_custkey, 2) OVER (
             PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS second_richest_key,
           nth_value(c_custkey, 3) OVER (
             PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS third_seen_so_far
    FROM {customer}
    """,
)


@register(
    "win_time_range_frame",
    """
    SELECT event_id, user_id,
           COUNT(*) OVER w AS n_trailing_1h,
           ROUND(SUM(value) OVER w, 4) AS sum_trailing_1h,
           ROUND(MAX(value) OVER w, 6) AS max_trailing_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
)
def win_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-interval RANGE frame: a trailing one-HOUR window over raw
    timestamps (`RANGE BETWEEN INTERVAL '1' HOUR PRECEDING AND CURRENT
    ROW`) — the time-based sibling of the numeric range frame
    (win_range_frame, which orders by a number). The frame boundary is a
    VALUE offset on the order key, not a row count: rows at identical
    timestamps are peers, gaps in time shrink the frame, and no
    epoch-seconds conversion is needed on either engine [Spark-public:
    SQL window frames with CalendarInterval bounds; ANSI RANGE frames].

    At 100 TB: identical cost class to any per-key window — one shuffle
    on user_id, then a per-partition ordered sweep with a sliding
    two-pointer frame (Spark's BOUNDED-frame iterator advances both
    ends monotonically, O(n) per partition, no per-row rescan). The
    trailing-hour aggregate over billions of per-user event rows is the
    canonical sessionless rate-limit / rolling-exposure query; for
    cross-user global time windows use the tumbling/sliding
    stream_* ops instead, which need no per-key shuffle at all."""
    return spark.sql(
        """
        SELECT event_id, user_id,
               COUNT(*) OVER w AS n_trailing_1h,
               ROUND(SUM(value) OVER w, 4) AS sum_trailing_1h,
               ROUND(MAX(value) OVER w, 6) AS max_trailing_1h
        FROM {ev}
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL '1' HOUR PRECEDING AND CURRENT ROW)
        """,
        ev=load_table(spark, sf_dir, "events"),
    )


@register(
    "win_count_distinct_over",
    """
    SELECT event_id, user_id,
           count(DISTINCT event_type) OVER w AS n_distinct_types,
           count(*) OVER w AS n_events
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def win_count_distinct_over(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running DISTINCT count over a window — `COUNT(DISTINCT x) OVER w`,
    the HiveQL ask Spark's window engine rejects outright
    [Spark-public: DISTINCT_WINDOW_FUNCTION_UNSUPPORTED]. The
    Spark-first re-expression is size(collect_set(x) OVER w): the set
    dedups inside the frame, size reads its cardinality, and the
    (ts, event_id) tiebreak makes every prefix — hence every count —
    deterministic (the repo-wide convention). The oracle runs the real
    DISTINCT window aggregate, so the workaround is verified against
    the genuine semantics, not against itself.

    At 100 TB: one shuffle on user_id, then a per-partition ordered
    sweep; collect_set state is bounded by |event_type| (small domain),
    NOT frame length, so the growing UNBOUNDED PRECEDING frame carries
    O(|domain|) state per row. For high-cardinality x (e.g. distinct
    URLs per user), swap the exact set for an approx sketch column
    (agg_sketch_distinct's HLL union over a self-joined prefix) — the
    exact set is the right call only when the domain is bounded."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.size(F.collect_set("event_type").over(w)).cast("long").alias(
            "n_distinct_types"
        ),
        F.count(F.lit(1)).over(w).alias("n_events"),
    )
