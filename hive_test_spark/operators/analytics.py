"""Event-analytics operators over the `events` fixture — the classic
warehouse workloads a Hive test corpus exercises beyond plain aggregation
[Hive-public: funnel/retention/histogram queries are standard HiveQL
idioms built from joins + window functions; no new engine surface].

All three are deterministic compositions of built-ins (JVM-side,
codegen'd) with full DuckDB oracles.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_test_spark.io import load_table, materialize
from hive_test_spark.registry import register, register_sql


def midrank(tie: str, order: str, *partition: str) -> Column:
    """Tied-rank rule over a per-distinct-value frame: the rows before this
    value (the prefix sum of ``tie`` in ``order``, per ``partition``) plus
    ``(tie + 1) / 2``. Every rank is an exact multiple of 0.5, so rank sums
    are exact in IEEE double whatever the partition order."""
    w = (
        Window.partitionBy(*partition)
        .orderBy(order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return F.coalesce(F.sum(tie).over(w), F.lit(0)) + (F.col(tie) + 1) / 2.0


@register(
    "evt_funnel",
    """
    WITH fv AS (
      SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS first_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    )
    SELECT f.user_id, f.first_view,
           min(CAST(e.ts AS TIMESTAMP)) AS first_purchase,
           epoch_us(min(CAST(e.ts AS TIMESTAMP))) - epoch_us(f.first_view) AS latency_us
    FROM fv f
    JOIN events e
      ON e.user_id = f.user_id AND e.event_type = 'purchase'
     AND CAST(e.ts AS TIMESTAMP) > f.first_view
     AND CAST(e.ts AS TIMESTAMP) <= f.first_view + INTERVAL 7 DAY
    GROUP BY f.user_id, f.first_view
    """,
)
def evt_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel: per user, first 'view' and the first 'purchase'
    that follows it within 7 days, with conversion latency. Two map-side-
    combinable aggregations + one equi-join on user_id with a pushed time
    range — at 100 TB both sides shuffle on user_id once; the events scan
    prunes to the two event types at the reader (predicate pushdown)."""
    ev = load_table(spark, sf_dir, "events")
    fv = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    return (
        fv.join(
            p,
            (F.col("p_user") == F.col("user_id"))
            & (F.col("p_ts") > F.col("first_view"))
            & (F.col("p_ts") <= F.col("first_view") + F.expr("INTERVAL 7 DAY")),
        )
        .groupBy("user_id", "first_view")
        .agg(
            F.min("p_ts").alias("first_purchase"),
            (F.unix_micros(F.min("p_ts")) - F.unix_micros(F.col("first_view"))).alias(
                "latency_us"
            ),
        )
    )


# Day-over-day retention: per day, distinct active users and how many
# of them return the next day. The (user, day) distinct set is computed
# once and self-joined on (user_id, day+1) — one shuffle each on the
# dedup and the join; day-bucketing keys are low-cardinality so the
# final aggregates broadcast.
register_sql(
    "evt_retention",
    """
    WITH days AS (
      SELECT DISTINCT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS d
      FROM {events}
    ),
    active AS (SELECT d, count(*) AS n_active FROM days GROUP BY d),
    ret AS (
      SELECT a.d, count(*) AS retained
      FROM days a JOIN days b
        ON b.user_id = a.user_id AND b.d = a.d + INTERVAL 1 DAY
      GROUP BY a.d
    )
    SELECT act.d AS day, act.n_active, COALESCE(r.retained, 0) AS retained
    FROM active act LEFT JOIN ret r ON r.d = act.d
    """,
)


# Fixed-width histogram (5000-wide buckets over l_extendedprice) —
# the deterministic replacement for Hive's histogram_numeric (which is
# approximate/NDV-dependent and thus not oracle-able). floor(x/width)
# keeps the whole profile one map-side-combinable aggregation; at
# 100 TB this is the standard first-pass distribution profile before
# choosing range-partition bounds.
register_sql(
    "agg_histogram",
    """
    SELECT CAST(floor(l_extendedprice / 5000) AS BIGINT) AS bucket,
           count(*) AS n_items,
           ROUND(min(l_extendedprice), 6) AS lo,
           ROUND(max(l_extendedprice), 6) AS hi
    FROM {lineitem}
    GROUP BY 1
    """,
)


@register(
    "evt_gapfill",
    """
    WITH bounds AS (
      SELECT date_trunc('day', min(CAST(ts AS TIMESTAMP))) AS d0,
             date_trunc('day', max(CAST(ts AS TIMESTAMP))) AS d1
      FROM events
    ),
    spine_days AS (
      SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS event_day
      FROM bounds
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    spine AS (SELECT t.event_type, s.event_day FROM types t CROSS JOIN spine_days s),
    daily AS (
      SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS event_day,
             count(*) AS n, ROUND(avg(value), 6) AS a
      FROM events WHERE value > 200 GROUP BY 1, 2
    ),
    j AS (
      SELECT s.event_type, s.event_day, COALESCE(d.n, 0) AS n_events, d.a,
             COUNT(d.a) OVER (PARTITION BY s.event_type ORDER BY s.event_day) AS grp
      FROM spine s
      LEFT JOIN daily d ON d.event_type = s.event_type AND d.event_day = s.event_day
    )
    SELECT event_type, event_day, n_events,
           MAX(a) OVER (PARTITION BY event_type, grp) AS avg_val_filled
    FROM j
    """,
)
def evt_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill + LOCF (the hypertable `time_bucket_gapfill` /
    `locf` idiom): build a complete day spine per series key, left-join the
    sparse daily aggregate (high-value events only — `value > 200` leaves
    real gaps in the fixtures), fill counts with 0 and carry the last
    observed daily average forward (null before the first observation).

    Scale shape: the spine is (n_days x n_series) — tiny relative to the
    fact table, generated with sequence()+explode, never collected. The
    LOCF window partitions BY SERIES KEY, so at 100 TB each series fills
    independently after one shuffle on event_type; there is no global
    single-partition window anywhere. The DuckDB oracle expresses LOCF
    portably via the grouped-carry trick (running COUNT of non-nulls as a
    group id, then MAX within the group) — same results as Spark's
    last(ignorenulls=True)."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("day", F.min("ts")).alias("d0"),
        F.date_trunc("day", F.max("ts")).alias("d1"),
    )
    spine_days = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("event_day")
    )
    types = ev.select("event_type").distinct()
    spine = types.crossJoin(spine_days)
    daily = (
        ev.filter(F.col("value") > 200)
        .groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("event_day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 6).alias("avg_val"),
        )
    )
    j = spine.join(daily, ["event_type", "event_day"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "event_type",
        "event_day",
        F.coalesce(F.col("n_events"), F.lit(0)).cast("long").alias("n_events"),
        F.last("avg_val", ignorenulls=True).over(w).alias("avg_val_filled"),
    )


@register(
    "evt_transition_matrix",
    """
    WITH seq AS (
      SELECT user_id, event_type AS from_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id
             ) AS to_type
      FROM events
    )
    SELECT from_type, to_type, COUNT(*) AS n_trans,
           ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (PARTITION BY from_type), 6)
             AS p_trans
    FROM seq WHERE to_type IS NOT NULL
    GROUP BY from_type, to_type
    """,
)
def evt_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-transition (Markov) matrix: per-user consecutive event bigrams
    via LEAD over (ts, event_id), rolled up to transition counts and
    row-normalized probabilities — the user-behavior summary behind churn
    and recommendation features.

    Scale shape: ONE shuffle on user_id for the sequence window (the same
    partitioning every sessionization op needs — at 100 TB you bucket the
    event log by user_id and this becomes shuffle-free), then a tiny
    (|event_types|^2)-row aggregate; the probability window runs on that
    matrix, not on the raw events. Deterministic tie-break on event_id."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    mat = seq.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n_trans"))
    wf = Window.partitionBy("from_type")
    return mat.select(
        "from_type",
        "to_type",
        "n_trans",
        F.round(F.col("n_trans") / F.sum("n_trans").over(wf), 6).alias("p_trans"),
    )


@register(
    "evt_attribution",
    """
    WITH touched AS (
      SELECT event_type, value,
             LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS touch_type,
             LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
                             THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS touch_ts,
             ts
      FROM (SELECT event_id, user_id, event_type, value,
                   CAST(ts AS TIMESTAMP) AS ts FROM events)
    )
    SELECT COALESCE(touch_type, 'organic') AS touch_type,
           COUNT(*) AS n_purchases,
           ROUND(SUM(value), 4) AS attributed_value,
           ROUND(AVG(date_diff('microsecond', touch_ts, ts) / 60000000.0), 4)
             AS avg_minutes_to_convert
    FROM touched WHERE event_type = 'purchase'
    GROUP BY COALESCE(touch_type, 'organic')
    """,
)
def evt_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution [Hive-public: the classic
    sessionized attribution query, windows over the event log]: each
    purchase is credited to the user's most recent PRIOR click or view
    (strictly-before frame, IGNORE NULLS last_value); purchases with no
    prior touch are 'organic'. Output: per-touch-channel purchase count,
    attributed revenue, and mean touch-to-convert latency.

    Scale shape: ONE shuffle on user_id (the canonical event-log
    partitioning — bucket by user_id at 100 TB and it's shuffle-free),
    both attribution columns ride the same window frame, then a tiny
    3-row rollup. Deterministic tie-break on event_id."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin("click", "view")
    touched = ev.select(
        "event_type",
        "value",
        "ts",
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("touch_type"),
        F.last(F.when(is_touch, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("touch_ts"),
    )
    return (
        touched.filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("touch_type", F.lit("organic")).alias("touch_type"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 4).alias("attributed_value"),
            F.round(
                F.avg(
                    (
                        F.col("ts").cast("double") - F.col("touch_ts").cast("double")
                    )
                    / 60.0
                ),
                4,
            ).alias("avg_minutes_to_convert"),
        )
    )


@register(
    "evt_rfm",
    """
    WITH anchor AS (SELECT MAX(o_orderdate) AS mx FROM orders),
    base AS (
      SELECT o_custkey,
             date_diff('day', MAX(o_orderdate), ANY_VALUE(anchor.mx)) AS recency_days,
             COUNT(*) AS frequency,
             SUM(o_totalprice) AS monetary
      FROM orders CROSS JOIN anchor GROUP BY o_custkey
    ),
    scored AS (
      SELECT o_custkey, recency_days, frequency, monetary,
             NTILE(5) OVER (ORDER BY recency_days DESC, o_custkey) AS r_score,
             NTILE(5) OVER (ORDER BY frequency, o_custkey) AS f_score
      FROM base
    )
    SELECT r_score, f_score,
           CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
                WHEN r_score >= 4 THEN 'recent'
                WHEN f_score >= 4 THEN 'loyal-lapsing'
                WHEN r_score <= 2 AND f_score <= 2 THEN 'at-risk'
                ELSE 'regular' END AS segment,
           COUNT(*) AS n_customers,
           ROUND(AVG(recency_days), 4) AS avg_recency_days,
           ROUND(AVG(frequency), 4) AS avg_frequency,
           ROUND(AVG(monetary), 4) AS avg_monetary
    FROM scored GROUP BY r_score, f_score
    """,
)
def evt_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation [Hive-public: the canonical warehouse
    scoring query — recency/frequency/monetary quintiles via NTILE]:
    per-customer recency (days before the corpus max order date),
    order count, and spend; quintile-score each dimension (deterministic
    tie-break on custkey, monetary ROUNDED before ranking so both engines
    order identical values); roll up to the (r,f) segment grid with a
    named-segment CASE.

    Scale shape: one map-side-combinable agg on o_custkey; the corpus
    max date is a 1-row broadcast, never an eager count. The three
    NTILEs are global windows — fine at customer cardinality (dimension
    -sized, ~10^8 at 100 TB: a single-key range partition sort, the
    documented percent_rank/approx-quantile rewrite applies beyond
    that); the raw 10^10-row order log never enters a global sort."""
    o = load_table(spark, sf_dir, "orders")
    anchor = o.agg(F.max("o_orderdate").alias("mx"))
    base = (
        o.crossJoin(anchor)
        .groupBy("o_custkey")
        .agg(
            F.datediff(F.first("mx"), F.max("o_orderdate")).alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum("o_totalprice").alias("monetary"),
        )
    )
    scored = base.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(5)
        .over(Window.orderBy(F.col("recency_days").desc(), "o_custkey"))
        .alias("r_score"),
        F.ntile(5).over(Window.orderBy("frequency", "o_custkey")).alias("f_score"),
    )
    seg = (
        F.when((F.col("r_score") >= 4) & (F.col("f_score") >= 4), "champion")
        .when(F.col("r_score") >= 4, "recent")
        .when(F.col("f_score") >= 4, "loyal-lapsing")
        .when((F.col("r_score") <= 2) & (F.col("f_score") <= 2), "at-risk")
        .otherwise("regular")
    )
    return scored.groupBy("r_score", "f_score").agg(
        F.first(seg).alias("segment"),
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.avg("recency_days"), 4).alias("avg_recency_days"),
        F.round(F.avg("frequency"), 4).alias("avg_frequency"),
        F.round(F.avg("monetary"), 4).alias("avg_monetary"),
    )


@register(
    "evt_anomaly_zscore",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    roll AS (
      SELECT event_type, day, c,
             AVG(c) OVER w AS mu,
             STDDEV_SAMP(c) OVER w AS sigma,
             COUNT(*) OVER w AS n_prior
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day, c AS n_events,
           ROUND(mu, 6) AS baseline_mean,
           ROUND((c - mu) / sigma, 6) AS zscore,
           CAST(abs((c - mu) / sigma) > 2.0 AS INT) AS is_anomaly
    FROM roll WHERE n_prior = 7 AND sigma > 0
    """,
)
def evt_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection on the daily event-count series
    [Hive-public: the standard ops-dashboard query — trailing-window
    mean/stddev, flag |z| > 2]: the baseline window is the STRICTLY PRIOR
    7 days (ROWS 7 PRECEDING .. 1 PRECEDING), so the tested day never
    contaminates its own baseline; days without a full 7-day history are
    withheld.

    Scale shape: the raw log collapses FIRST to (type, day) counts — a
    map-side-combinable agg, ~36 k rows/century per type — and the
    rolling window runs on that tiny series partitioned by type. At
    100 TB the window input is still KBs; the plan's one real shuffle
    is the daily rollup."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-7, -1)
    )
    roll = daily.select(
        "event_type",
        "day",
        "c",
        F.avg("c").over(w).alias("mu"),
        F.stddev_samp("c").over(w).alias("sigma"),
        F.count(F.lit(1)).over(w).alias("n_prior"),
    )
    return roll.filter((F.col("n_prior") == 7) & (F.col("sigma") > 0)).select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("c").alias("n_events"),
        F.round("mu", 6).alias("baseline_mean"),
        F.round((F.col("c") - F.col("mu")) / F.col("sigma"), 6).alias("zscore"),
        (F.abs((F.col("c") - F.col("mu")) / F.col("sigma")) > 2.0)
        .cast("int")
        .alias("is_anomaly"),
    )


@register(
    "evt_ab_lift",
    """
    WITH users AS (
      SELECT user_id % 2 AS variant, COUNT(DISTINCT user_id) AS n_users
      FROM events GROUP BY user_id % 2
    ),
    conv AS (
      SELECT event_type, user_id % 2 AS variant,
             COUNT(DISTINCT user_id) AS n_conv
      FROM events WHERE value > 150
      GROUP BY event_type, user_id % 2
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    grid AS (
      SELECT t.event_type, u.variant, u.n_users, COALESCE(c.n_conv, 0) AS n_conv
      FROM types t CROSS JOIN users u
      LEFT JOIN conv c ON c.event_type = t.event_type AND c.variant = u.variant
    ),
    wide AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN variant = 0 THEN n_conv ELSE 0 END) AS BIGINT) AS conv_a,
             CAST(SUM(CASE WHEN variant = 1 THEN n_conv ELSE 0 END) AS BIGINT) AS conv_b,
             CAST(MAX(CASE WHEN variant = 0 THEN n_users END) AS BIGINT) AS n_a,
             CAST(MAX(CASE WHEN variant = 1 THEN n_users END) AS BIGINT) AS n_b
      FROM grid GROUP BY event_type
    )
    SELECT event_type, n_a, n_b, conv_a, conv_b,
           ROUND(conv_a * 1.0 / n_a, 6) AS rate_a,
           ROUND(conv_b * 1.0 / n_b, 6) AS rate_b,
           ROUND(conv_b * 1.0 / n_b - conv_a * 1.0 / n_a, 6) AS abs_lift,
           ROUND((conv_b * 1.0 / n_b - conv_a * 1.0 / n_a)
                 / NULLIF(sqrt(((conv_a + conv_b) * 1.0 / (n_a + n_b))
                        * (1 - (conv_a + conv_b) * 1.0 / (n_a + n_b))
                        * (1.0 / n_a + 1.0 / n_b)), 0), 6) AS z_score
    FROM wide
    """,
)
def evt_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B conversion-lift report [Hive-public: the standard two-proportion
    experiment readout computed in-warehouse]: deterministic variant
    assignment (user_id parity — a hash bucket in production), per-event-
    type user-level HIGH-VALUE conversion (any event of the type with
    value > 150) rates per arm, absolute lift, and the
    pooled two-proportion z-statistic.

    Scale shape: the raw log collapses to (user, variant, type) in ONE
    map-side-combinable distinct-style agg, then to per-arm counts —
    everything after the first rollup is KB-sized. The per-arm user
    totals are a 2-row broadcast. No window, no skew (parity is
    uniform)."""
    ev = load_table(spark, sf_dir, "events")
    users = ev.groupBy((F.col("user_id") % 2).alias("u_variant")).agg(
        F.countDistinct("user_id").alias("n_users")
    )
    conv = (
        ev.filter(F.col("value") > 150)
        .groupBy("event_type", (F.col("user_id") % 2).alias("variant"))
        .agg(F.countDistinct("user_id").alias("n_conv"))
        .alias("c")
    )
    types = ev.select("event_type").distinct().alias("t")
    grid = (
        types.crossJoin(users)
        .join(
            conv,
            (F.col("t.event_type") == F.col("c.event_type"))
            & (F.col("u_variant") == F.col("c.variant")),
            "left",
        )
        .select(
            F.col("t.event_type").alias("event_type"),
            F.col("u_variant").alias("variant"),
            "n_users",
            F.coalesce("n_conv", F.lit(0)).alias("n_conv"),
        )
    )
    wide = grid.groupBy("event_type").agg(
        F.sum(F.when(F.col("variant") == 0, F.col("n_conv")).otherwise(0)).alias(
            "conv_a"
        ),
        F.sum(F.when(F.col("variant") == 1, F.col("n_conv")).otherwise(0)).alias(
            "conv_b"
        ),
        F.max(F.when(F.col("variant") == 0, F.col("n_users"))).alias("n_a"),
        F.max(F.when(F.col("variant") == 1, F.col("n_users"))).alias("n_b"),
    )
    rate_a = F.col("conv_a") / F.col("n_a")
    rate_b = F.col("conv_b") / F.col("n_b")
    return wide.select(
        "event_type",
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        F.round(rate_a, 6).alias("rate_a"),
        F.round(rate_b, 6).alias("rate_b"),
        F.round(rate_b - rate_a, 6).alias("abs_lift"),
        # NULLIF-guarded denominator: a 0% or 100% pooled rate zeroes the
        # sd, where Spark yields NULL but DuckDB IEEE-divides to NaN/inf
        # (the evt_survival ln(0) divergence class) — both engines must
        # agree on NULL by construction.
        F.round(
            (rate_b - rate_a)
            / F.expr(
                "NULLIF(sqrt(((conv_a + conv_b) / (n_a + n_b))"
                " * (1 - (conv_a + conv_b) / (n_a + n_b))"
                " * (1.0 / n_a + 1.0 / n_b)), 0)"
            ),
            6,
        ).alias("z_score"),
    )


@register(
    "evt_cohort_ltv",
    """
    WITH firstday AS (
      SELECT user_id, MIN(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS cohort_day
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    purch AS (
      SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d, value
      FROM events WHERE event_type = 'purchase'
    )
    SELECT CAST(f.cohort_day AS VARCHAR) AS cohort_day,
           COUNT(DISTINCT f.user_id) AS n_users,
           ROUND(SUM(CASE WHEN p.d < f.cohort_day + 7 THEN p.value ELSE 0 END), 4)
             AS ltv_7,
           ROUND(SUM(CASE WHEN p.d < f.cohort_day + 14 THEN p.value ELSE 0 END), 4)
             AS ltv_14,
           ROUND(SUM(CASE WHEN p.d < f.cohort_day + 30 THEN p.value ELSE 0 END), 4)
             AS ltv_30
    FROM firstday f LEFT JOIN purch p ON p.user_id = f.user_id
    GROUP BY f.cohort_day
    """,
)
def evt_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves [Hive-public: the standard growth-analytics
    rollup — users grouped by first-PURCHASE day (first-seen is degenerate on
    this fixture: everyone appears on day 1), cumulative purchase value
    at fixed horizons]: per cohort, distinct users and total purchase
    value within 7/14/30 days of cohort entry, as one
    conditional-sum pass (no per-horizon subqueries).

    Scale shape: first-seen day is a map-side-combinable MIN per user;
    the purchases join is keyed on user_id (the same bucketing every
    event op here reuses), and all three horizons come from ONE joined
    pass via CASE — at 100 TB, 3 horizons cost the same shuffle as 1.
    The distinct-user count rides the cohort rollup."""
    ev = load_table(spark, sf_dir, "events")
    firstday = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.to_date("ts")).alias("cohort_day"))
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.to_date("ts").alias("d"), "value"
    )
    j = firstday.join(purch, firstday.user_id == purch.p_user, "left")
    def horizon(n):
        return F.round(
            F.sum(
                F.when(F.col("d") < F.date_add(F.col("cohort_day"), n), F.col("value"))
                .otherwise(0.0)
            ),
            4,
        )
    return j.groupBy("cohort_day").agg(
        F.countDistinct("user_id").alias("n_users"),
        horizon(7).alias("ltv_7"),
        horizon(14).alias("ltv_14"),
        horizon(30).alias("ltv_30"),
    ).select(
        F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
        "n_users",
        "ltv_7",
        "ltv_14",
        "ltv_30",
    )


@register(
    "evt_stickiness",
    """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
      FROM events
    ),
    cover AS (
      SELECT user_id, d + CAST(i AS INTEGER) AS wday
      FROM (SELECT user_id, d, unnest(generate_series(0, 6)) AS i FROM ud)
    ),
    wau AS (SELECT wday, COUNT(DISTINCT user_id) AS wau FROM cover GROUP BY wday),
    dau AS (SELECT d AS wday, COUNT(*) AS dau FROM ud GROUP BY d),
    lo AS (SELECT MIN(d) + 6 AS first_full FROM ud),
    hi AS (SELECT MAX(d) AS last_day FROM ud)
    SELECT CAST(d.wday AS VARCHAR) AS day, d.dau, w.wau,
           ROUND(d.dau * 1.0 / w.wau, 6) AS stickiness
    FROM dau d JOIN wau w USING (wday) CROSS JOIN lo CROSS JOIN hi
    WHERE d.wday >= lo.first_full AND d.wday <= hi.last_day
    """,
)
def evt_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness [Hive-public: the standard engagement ratio —
    daily actives over trailing-7-day actives]: COUNT(DISTINCT) over a
    SLIDING window has no direct window-function form, so each (user,
    day) activity pair is exploded to the 7 window-end days it covers
    and WAU becomes a plain distinct count per day — the scalable
    rewrite. Days without a full trailing week are withheld.

    Scale shape: the raw log dedups to (user, day) first (map-side-
    combinable, the same primitive as evt_retention); the ×7 explode
    multiplies that SMALL dedup set, not the log. Both rollups shuffle
    on the day key; bounds are 1-row broadcasts. At 100 TB this is the
    textbook replacement for a per-day 7-day re-scan."""
    ev = load_table(spark, sf_dir, "events")
    # ud feeds four branches (coverage, dau, both date bounds):
    # checkpoint once, scan the corpus once.
    ud = (
        ev.select("user_id", F.to_date("ts").alias("d"))
        .distinct()
        .transform(materialize)
    )
    cover = ud.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
        "d",
    ).select("user_id", F.expr("date_add(d, i)").alias("wday"))
    wau = cover.groupBy("wday").agg(F.countDistinct("user_id").alias("wau"))
    dau = ud.groupBy(F.col("d").alias("wday")).agg(F.count(F.lit(1)).alias("dau"))
    lo = ud.agg(F.date_add(F.min("d"), 6).alias("first_full"))
    hi = ud.agg(F.max("d").alias("last_day"))
    return (
        dau.join(wau, "wday")
        .crossJoin(lo)
        .crossJoin(hi)
        .filter(
            (F.col("wday") >= F.col("first_full")) & (F.col("wday") <= F.col("last_day"))
        )
        .select(
            F.date_format("wday", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            F.round(F.col("dau") / F.col("wau"), 6).alias("stickiness"),
        )
    )


@register(
    "evt_error_burn",
    """
    WITH hourly AS (
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
             COUNT(*) AS n_total,
             COUNT(*) FILTER (WHERE event_type = 'error') AS n_err
      FROM events GROUP BY date_trunc('hour', CAST(ts AS TIMESTAMP))
    ),
    rates AS (
      SELECT h, n_total, n_err,
             n_err * 1.0 / n_total AS err_rate,
             SUM(n_err) OVER w6 * 1.0 / SUM(n_total) OVER w6 AS err_rate_6h,
             COUNT(*) OVER w6 AS n_hours_6h
      FROM hourly
      WINDOW w6 AS (ORDER BY h ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(h AS VARCHAR) AS hour, n_total, n_err,
           ROUND(err_rate, 6) AS err_rate_1h,
           ROUND(err_rate_6h, 6) AS err_rate_6h,
           CAST(err_rate > 2 * 0.2 OR err_rate_6h > 1.5 * 0.2 AS INT)
             AS burn_alert
    FROM rates WHERE n_hours_6h = 6
    """,
)
def evt_error_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO burn-rate alerting [public method: the Google SRE multi-window
    burn-rate alert — error rate measured at a fast (1 h) and slow (6 h)
    window against an error budget, alert when either burns faster than
    its multiplier]: budget = 20% error share (the fixture emits 5 types
    uniformly), fast window fires at 2x budget, slow at 1.5x. Hours
    without a full 6-hour history are withheld.

    Scale shape: the log collapses to hourly (total, error) counts in
    one map-side-combinable agg — the rolling windows then run over
    ~9 k rows/year, a single-partition-safe series (partition by
    service/region key the moment one exists, as every other evt_* op
    here does). The FILTER-ed count shares the scan with the total —
    one pass, no self-join."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("n_err"),
    )
    w6 = Window.orderBy("h").rowsBetween(-5, 0)
    rates = hourly.select(
        "h",
        "n_total",
        "n_err",
        (F.col("n_err") / F.col("n_total")).alias("err_rate"),
        (F.sum("n_err").over(w6) / F.sum("n_total").over(w6)).alias("err_rate_6h"),
        F.count(F.lit(1)).over(w6).alias("n_hours_6h"),
    )
    return rates.filter(F.col("n_hours_6h") == 6).select(
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "n_total",
        "n_err",
        F.round("err_rate", 6).alias("err_rate_1h"),
        F.round("err_rate_6h", 6).alias("err_rate_6h"),
        ((F.col("err_rate") > 2 * 0.2) | (F.col("err_rate_6h") > 1.5 * 0.2))
        .cast("int")
        .alias("burn_alert"),
    )


@register(
    "evt_path_topk",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type, 1) OVER w AS e2,
             LEAD(event_type, 2) OVER w AS e3
      FROM (SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
            FROM events)
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    paths AS (
      SELECT event_type || '>' || e2 || '>' || e3 AS path, COUNT(*) AS n
      FROM seq WHERE e2 IS NOT NULL AND e3 IS NOT NULL
      GROUP BY event_type || '>' || e2 || '>' || e3
    )
    SELECT path, n
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY n DESC, path) AS rn FROM paths)
    WHERE rn <= 10
    """,
)
def evt_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k user paths [Hive-public: path mining — the trigram step up
    from evt_transition_matrix's bigrams; which 3-step journeys dominate
    feeds funnel design and anomaly triage]: per-user ordered event
    trigrams via double LEAD on ONE window, global path counts,
    deterministic top-10.

    Scale shape: the double LEAD rides the same single user_id shuffle
    every sequence op here uses (no self-joins — the join-chain form
    would shuffle the log twice more); the path rollup is
    |types|³-bounded (125 here), so the final top-k ranks a tiny
    table. Tie-break on path string."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    paths = (
        seq.filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
        .groupBy(
            F.concat_ws(">", "event_type", "e2", "e3").alias("path")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wr = Window.orderBy(F.col("n").desc(), "path")
    return (
        paths.select("*", F.row_number().over(wr).alias("rn"))
        .filter(F.col("rn") <= 10)
        .drop("rn")
    )


@register(
    "evt_srm_check",
    """
    WITH arms AS (
      SELECT CASE WHEN ascii(substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) % 2 = 0
                  THEN 'A' ELSE 'B' END AS arm,
             COUNT(DISTINCT user_id) AS n_users
      FROM events GROUP BY 1
    ),
    tot AS (SELECT SUM(n_users) AS n_total FROM arms),
    chi AS (
      SELECT SUM((n_users - n_total / 2.0) * (n_users - n_total / 2.0)
                 / (n_total / 2.0)) AS chi2
      FROM arms CROSS JOIN tot
    )
    SELECT a.arm, a.n_users,
           ROUND(c.chi2, 6) AS chi2,
           CAST(c.chi2 > 3.841 AS BOOLEAN) AS srm_flag
    FROM arms a CROSS JOIN chi c
    """,
)
def evt_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch (SRM) guardrail for A/B experiments: users
    are hash-assigned to arms (md5 parity — the production bucketing
    rule, NOT modulo on a monotone id, which aliases with signup time),
    and a chi-square statistic against the designed 50/50 split flags a
    broken randomizer at alpha=0.05 (3.841 = chi2_1df critical value).
    SRM is the first gate every experimentation platform runs — lift
    numbers (evt_ab_lift) are meaningless when assignment is skewed.

    At 100 TB: one distinct-users aggregate (map-side combinable after
    the user_id shuffle) produces a 2-row arm table; the chi-square is
    driver-free 2-row arithmetic via broadcast cross join. Nothing
    scales with event volume except the first aggregate."""
    ev = load_table(spark, sf_dir, "events")
    arms = (
        ev.select(
            F.when(
                F.ascii(F.substring(F.md5(F.col("user_id").cast("string")), 1, 1)) % 2
                == 0,
                "A",
            )
            .otherwise("B")
            .alias("arm"),
            "user_id",
        )
        .groupBy("arm")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )
    tot = arms.agg(F.sum("n_users").alias("n_total"))
    chi = (
        arms.crossJoin(tot)
        .select(
            (
                (F.col("n_users") - F.col("n_total") / 2.0)
                * (F.col("n_users") - F.col("n_total") / 2.0)
                / (F.col("n_total") / 2.0)
            ).alias("term")
        )
        .agg(F.sum("term").alias("chi2"))
    )
    return arms.crossJoin(chi).select(
        "arm",
        "n_users",
        F.round("chi2", 6).alias("chi2"),
        (F.col("chi2") > 3.841).alias("srm_flag"),
    )


_E2E_GAP_S = 1800  # 30-minute session gap

_EVT_E2E_ORACLE = f"""
    WITH flagged AS (
      SELECT user_id, event_id, ts, event_type, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR date_diff('second', lag(ts) OVER w, ts) > {_E2E_GAP_S}
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessioned AS (
      SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS sess_idx
      FROM flagged
    ),
    sessions AS (
      SELECT user_id, sess_idx,
             COUNT(*) AS n_events,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
      FROM sessioned GROUP BY user_id, sess_idx
    ),
    users AS (
      SELECT user_id, COUNT(*) AS n_sessions, SUM(converted) AS n_conv,
             SUM(n_events) AS n_events
      FROM sessions GROUP BY user_id
    )
    SELECT CASE WHEN n_sessions >= 67 THEN 'heavy'
                WHEN n_sessions >= 60 THEN 'mid' ELSE 'light' END AS band,
           COUNT(*) AS n_users,
           CAST(SUM(n_sessions) AS BIGINT) AS total_sessions,
           CAST(SUM(n_conv) AS BIGINT) AS conv_sessions,
           ROUND(SUM(n_conv) * 1.0 / SUM(n_sessions), 6) AS conv_rate,
           CAST(SUM(n_events) AS BIGINT) AS total_events
    FROM users GROUP BY 1
"""


@register("evt_pipeline_e2e", _EVT_E2E_ORACLE)
def evt_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused product-analytics pipeline as ONE lazy plan (the analytics
    twin of llm_pipeline_e2e): gap-sessionize (30-min) → per-session
    stats with conversion flag → per-user engagement rollup → user-band
    conversion report. Four conceptual stages, but Catalyst plans them
    as a single job with exactly ONE shuffle on user_id serving both
    window passes AND both aggregations (the windows and the session/
    user groupings share the partitioning), plus the final tiny band
    rollup — the fusion is the point: materializing stage boundaries
    (the naive pipeline-as-four-tables design) would pay three extra
    full write/read cycles for zero semantic difference.

    At 100 TB: everything before the band rollup is per-user local once
    the single user_id exchange lands; session state never leaves the
    partition. The band report is a few rows. This is the plan shape to
    hold in mind whenever a 'pipeline' is really a linear dataflow —
    fuse first, checkpoint only where reuse is real (llm_pipeline_e2e's
    docstring makes the same argument for the curation chain)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
                > _E2E_GAP_S
            ),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    sessioned = flagged.select(
        "*", F.sum("new_sess").over(w).alias("sess_idx")
    )
    sessions = sessioned.groupBy("user_id", "sess_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    )
    users = sessions.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("converted").alias("n_conv"),
        F.sum("n_events").alias("n_events"),
    )
    # Band cuts sit at the fixture's tertiles (~60/67 sessions per user
    # across every SF vintage), so all three bands are populated.
    band = (
        F.when(F.col("n_sessions") >= 67, "heavy")
        .when(F.col("n_sessions") >= 60, "mid")
        .otherwise("light")
    )
    return users.groupBy(band.alias("band")).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n_sessions").alias("total_sessions"),
        F.sum("n_conv").alias("conv_sessions"),
        F.round(F.sum("n_conv") / F.sum("n_sessions"), 6).alias("conv_rate"),
        F.sum("n_events").alias("total_events"),
    )


@register(
    "evt_survival",
    """
    WITH per_user AS (
      SELECT user_id,
             MIN(CAST(ts AS DATE)) AS t0,
             MAX(CAST(ts AS DATE)) AS t_end,
             MIN(CASE WHEN event_type = 'error'
                      THEN CAST(ts AS DATE) END) AS first_err
      FROM events
      GROUP BY user_id
    ), times AS (
      SELECT CASE WHEN first_err IS NOT NULL
                  THEN datediff('day', t0, first_err)
                  ELSE datediff('day', t0, t_end) END AS t_days,
             CASE WHEN first_err IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM per_user
    ), by_t AS (
      SELECT t_days,
             CAST(SUM(ev) AS BIGINT) AS d_events,
             CAST(SUM(1 - ev) AS BIGINT) AS c_censored,
             COUNT(*) AS m
      FROM times
      GROUP BY t_days
    ), risk AS (
      SELECT t_days, d_events, c_censored,
             CAST(SUM(m) OVER (ORDER BY t_days
                               ROWS BETWEEN CURRENT ROW
                               AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_at_risk
      FROM by_t
    )
    SELECT t_days, n_at_risk, d_events, c_censored,
           CASE WHEN MAX(CASE WHEN d_events >= n_at_risk THEN 1 ELSE 0 END)
                     OVER (ORDER BY t_days
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) = 1
                THEN 0.0
                ELSE ROUND(exp(SUM(CASE WHEN d_events > 0
                                        AND d_events < n_at_risk
                                        THEN ln(1 - d_events * 1.0 / n_at_risk)
                                        ELSE 0.0 END)
                               OVER (ORDER BY t_days
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW)), 6)
           END AS km_survival
    FROM risk
    """,
)
def evt_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for time-to-first-'error' per user,
    with REAL right-censoring (users who never error are censored at
    their last observed day — the estimator's whole point vs a naive
    empirical CDF, which would treat them as immortal or drop them).
    Per-user event/censor times collapse the event log once; the curve
    then runs on the tiny time axis: risk set n_t via a
    reverse-cumulative window, survival S(t) = Π(1 - d_t/n_t) computed
    in log space (exp of a running ln-sum — the associative form both
    engines evaluate identically), with an explicit absorbing zero once
    d_t = n_t because ln(0) DIVERGES cross-engine (Spark: NULL, DuckDB:
    -inf) — the guard is the determinism contract, not decoration.

    At 100 TB: the only corpus-scale work is the per-user groupBy (one
    shuffle on user_id, map-side combined). by_t has at most
    observation-window-days rows, so the three global-order windows are
    dimension-scale — same shape as evt_anomaly_zscore's
    rollup-before-window rule: NEVER window the raw log when the
    grouped series is bounded."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("date").alias("d"),
        "event_type",
    )
    per_user = ev.groupBy("user_id").agg(
        F.min("d").alias("t0"),
        F.max("d").alias("t_end"),
        F.min(F.when(F.col("event_type") == "error", F.col("d"))).alias(
            "first_err"
        ),
    )
    times = per_user.select(
        F.when(
            F.col("first_err").isNotNull(),
            F.datediff("first_err", "t0"),
        )
        .otherwise(F.datediff("t_end", "t0"))
        .alias("t_days"),
        F.when(F.col("first_err").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    by_t = times.groupBy("t_days").agg(
        F.sum("ev").alias("d_events"),
        F.sum(F.lit(1) - F.col("ev")).alias("c_censored"),
        F.count(F.lit(1)).alias("m"),
    )
    w_fwd = Window.orderBy("t_days").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    w_run = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = by_t.select(
        "t_days",
        "d_events",
        "c_censored",
        F.sum("m").over(w_fwd).alias("n_at_risk"),
    )
    dead = (
        F.max(
            F.when(F.col("d_events") >= F.col("n_at_risk"), 1).otherwise(0)
        ).over(w_run)
        == 1
    )
    cumlog = F.sum(
        F.when(
            (F.col("d_events") > 0) & (F.col("d_events") < F.col("n_at_risk")),
            F.log(F.lit(1) - F.col("d_events") / F.col("n_at_risk")),
        ).otherwise(F.lit(0.0))
    ).over(w_run)
    return risk.select(
        "t_days",
        "n_at_risk",
        "d_events",
        "c_censored",
        F.when(dead, F.lit(0.0))
        .otherwise(F.round(F.exp(cumlog), 6))
        .alias("km_survival"),
    )


@register(
    "evt_user_overlap",
    """
    WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
    tot AS (SELECT event_type, COUNT(*) AS n FROM tu GROUP BY event_type),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS n_both
      FROM tu a JOIN tu b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type
    )
    SELECT type_a, type_b, n_both,
           ta.n AS n_a, tb.n AS n_b,
           ROUND(n_both * 1.0 / (ta.n + tb.n - n_both), 6) AS jaccard
    FROM pairs
    JOIN tot ta ON type_a = ta.event_type
    JOIN tot tb ON type_b = tb.event_type
    """,
)
def evt_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: Jaccard similarity between the user
    sets of every event-type pair (the segmentation question "do
    purchasers and error-reporters overlap?"). The event log collapses
    to distinct (type, user) memberships FIRST — the self-join then
    runs on the membership table, equi-keyed on user_id with the
    ordered type inequality inside the join, so each user contributes
    at most |types|² pair rows and the pair space is
    |types|·(|types|-1)/2 (10 rows here), never user×user.

    At 100 TB: the distinct() is the corpus-scale pass (one shuffle,
    map-side combined); the self-join shuffles the MEMBERSHIP table
    (≤ users × types rows) on user_id — per-key fan-out is bounded by
    the type alphabet, the classic safe self-join shape. The two
    totals joins are type-cardinality dimensions (broadcast). Same
    bounded-alphabet rule as evt_path_topk's |types|³ rollup."""
    ev = load_table(spark, sf_dir, "events")
    # tu feeds three branches (tot + both join sides): checkpoint once,
    # scan the corpus once (the evt_market_basket convention).
    tu = ev.select("event_type", "user_id").distinct().transform(materialize)
    tot = tu.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = tu.alias("a")
    b = tu.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    ta = tot.select(
        F.col("event_type").alias("type_a"), F.col("n").alias("n_a")
    )
    tb = tot.select(
        F.col("event_type").alias("type_b"), F.col("n").alias("n_b")
    )
    return (
        pairs.join(ta, "type_a")
        .join(tb, "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            F.round(
                F.col("n_both")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")),
                6,
            ).alias("jaccard"),
        )
    )


@register(
    "evt_pareto_share",
    """
    WITH per_user AS (
      SELECT user_id, COUNT(*) AS n_ev FROM events GROUP BY user_id
    ), ranked AS (
      SELECT user_id, n_ev,
             NTILE(10) OVER (ORDER BY n_ev DESC, user_id) AS decile
      FROM per_user
    ), by_dec AS (
      SELECT decile, COUNT(*) AS n_users,
             CAST(SUM(n_ev) AS BIGINT) AS n_events
      FROM ranked GROUP BY decile
    ), tot AS (
      SELECT CAST(SUM(n_ev) AS BIGINT) AS total FROM per_user
    )
    SELECT decile, n_users, n_events,
           ROUND(n_events * 1.0 / total, 6) AS share,
           ROUND(CAST(SUM(n_events) OVER (ORDER BY decile
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE) / total, 6) AS cum_share
    FROM by_dec CROSS JOIN tot
    """,
)
def evt_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity-concentration (Pareto/80-20) profile: users ranked by
    event volume into deciles, each decile's share and cumulative
    share of total events — the workload-skew diagnostic that answers
    "how hot are the hot keys?" (the same distribution that decides
    whether join_skew_salted/scale_aqe_skew are needed on user-keyed
    work). NTILE runs on a TOTAL order (count desc, user_id tiebreak)
    so both engines assign identical deciles.

    At 100 TB: the per-user rollup is the only corpus-scale pass. The
    NTILE window is a global sort over the USER dimension — fine at
    user-dimension scale, and for truly unbounded key sets the
    rank-free rewrite is a two-pass quantile bucketing
    (approx_percentile on n_ev, then a broadcast bucket join — the
    agg_approx_percentile contract covers the swap). The decile
    cumulative window is 10 rows."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_ev"))
    ranked = per_user.select(
        "n_ev",
        F.ntile(10)
        .over(Window.orderBy(F.col("n_ev").desc(), F.col("user_id")))
        .alias("decile"),
    )
    by_dec = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n_ev").alias("n_events"),
    )
    tot = per_user.agg(F.sum("n_ev").alias("total"))
    w_cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        by_dec.crossJoin(tot)
        .select(
            "decile",
            "n_users",
            "n_events",
            F.round(F.col("n_events") / F.col("total"), 6).alias("share"),
            F.round(
                F.sum("n_events").over(w_cum).cast("double") / F.col("total"),
                6,
            ).alias("cum_share"),
        )
    )


@register(
    "evt_cusum_changepoint",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), stats AS (
      SELECT event_type, d, n,
             CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) * 1.0
               / COUNT(*) OVER (PARTITION BY event_type) AS mu
      FROM daily
    ), cus AS (
      SELECT event_type, d,
             SUM(n - mu) OVER (PARTITION BY event_type ORDER BY d
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS cusum
      FROM stats
    ), ranked AS (
      SELECT event_type, d, cusum,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs(cusum) DESC, d) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n_days
      FROM cus
    )
    SELECT event_type, CAST(d AS VARCHAR) AS changepoint_day,
           ROUND(cusum, 6) AS peak_cusum, n_days
    FROM ranked WHERE rk = 1
    """,
)
def evt_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per event-type series: the running
    sum of (daily count − series mean) peaks in magnitude at the most
    likely level-shift day — the classic page-break statistic SRE and
    growth teams run on metric series (complement of
    evt_anomaly_zscore, which flags POINT outliers; CUSUM localizes a
    persistent SHIFT). Determinism engineering: the mean is computed
    as exact-integer SUM/COUNT rather than AVG (floating AVG
    accumulates in engine-private partition order; the integer sum is
    exact, so both engines derive a bit-identical mu and therefore a
    bit-identical ordered CUSUM — argmax ties then break on day in
    both).

    At 100 TB: rollup-before-window — the log collapses to
    (type, day) once; all four windows run on the bounded daily
    series, partitioned by series key (one shuffle family, no global
    windows). For millions of series this is the map-reduce CUSUM: a
    per-key sort of ~10² points each."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    w_part = Window.partitionBy("event_type")
    stats = daily.select(
        "event_type",
        "d",
        "n",
        (
            F.sum("n").over(w_part).cast("double")
            / F.count(F.lit(1)).over(w_part)
        ).alias("mu"),
    )
    w_run = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cus = stats.select(
        "event_type",
        "d",
        F.sum(F.col("n") - F.col("mu")).over(w_run).alias("cusum"),
    )
    ranked = cus.select(
        "event_type",
        "d",
        "cusum",
        F.row_number()
        .over(
            Window.partitionBy("event_type").orderBy(
                F.abs("cusum").desc(), F.col("d")
            )
        )
        .alias("rk"),
        F.count(F.lit(1)).over(w_part).alias("n_days"),
    )
    return ranked.filter(F.col("rk") == 1).select(
        "event_type",
        F.col("d").cast("string").alias("changepoint_day"),
        F.round("cusum", 6).alias("peak_cusum"),
        "n_days",
    )


@register(
    "evt_anomaly_mad",
    """
    WITH med AS (
      SELECT event_type, median(value) AS med FROM events GROUP BY event_type
    ),
    j1 AS (
      SELECT e.event_type, e.value, m.med
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, median(abs(value - med)) AS mad
      FROM j1 GROUP BY event_type
    ),
    j2 AS (
      SELECT j1.event_type, j1.value, j1.med, mad.mad
      FROM j1 JOIN mad USING (event_type) WHERE mad.mad > 0
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           ROUND(MIN(med), 6) AS med,
           ROUND(MIN(mad), 6) AS mad,
           COUNT(*) FILTER (abs(0.6745 * (value - med) / mad) > 3.5) AS n_anomalies,
           ROUND(MAX(abs(0.6745 * (value - med) / mad)), 6) AS max_abs_z
    FROM j2 GROUP BY event_type
    """,
)
def evt_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection on event VALUES via the modified z-score
    [public method: Iglewicz & Hoaglin, 0.6745*(x-med)/MAD > 3.5] — the
    outlier gate that, unlike evt_anomaly_zscore's mean/stddev (which the
    outliers themselves inflate), has a 50% breakdown point. Per type:
    median, MAD, anomaly count, worst score.

    Scale shape: two exact-median aggregates keyed on the low-cardinality
    event_type, each followed by a BROADCAST join of the tiny stats table
    back onto the event scan (the big side never shuffles — it is scanned
    twice, the price of exact medians). At 100 TB swap percentile() for
    approx_percentile (t-digest, mergeable, one pass, map-side combine)
    — the plan shape is otherwise identical, which is why the exact form
    is the oracle."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    j1 = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "value", "med"
    )
    mad = j1.groupBy("event_type").agg(
        F.expr("percentile(abs(value - med), 0.5)").alias("mad")
    )
    j2 = j1.join(mad.filter(F.col("mad") > 0), "event_type")
    z = F.abs(0.6745 * (F.col("value") - F.col("med")) / F.col("mad"))
    return j2.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.min("med"), 6).alias("med"),
        F.round(F.min("mad"), 6).alias("mad"),
        F.count(F.when(z > 3.5, 1)).alias("n_anomalies"),
        F.round(F.max(z), 6).alias("max_abs_z"),
    )


# Co-visitation: cap each user's item set at the top-N most-frequent
# items (ties broken by item id) before pairing — the bound that keeps
# per-user pair fan-out at N(N-1)/2 regardless of whale users.
_COVIS_CAP = 16
_COVIS_MIN_USERS = 2


@register(
    "evt_covisitation",
    f"""
    WITH items AS (
      SELECT user_id, CAST(json_extract_string(props, '$.k') AS INT) AS item,
             COUNT(*) AS cnt
      FROM events
      GROUP BY user_id, CAST(json_extract_string(props, '$.k') AS INT)
    ),
    capped AS (
      SELECT user_id, item
      FROM (SELECT user_id, item,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY cnt DESC, item) AS rk
            FROM items)
      WHERE rk <= {_COVIS_CAP}
    )
    SELECT a.item AS item_a, b.item AS item_b,
           COUNT(*) AS n_users
    FROM capped a JOIN capped b
      ON a.user_id = b.user_id AND a.item < b.item
    GROUP BY a.item, b.item
    HAVING COUNT(*) >= {_COVIS_MIN_USERS}
    """,
)
def evt_covisitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item co-visitation matrix — the co-occurrence counting behind
    candidate-generation recommenders [public method: item-item
    collaborative filtering / co-visitation candidate retrieval]: two
    items are related when the same user interacted with both. The item
    id is the JSON ``props.k`` field (the fixture's per-event payload).
    The naive formulation self-joins raw events (quadratic in a whale
    user's history); this plan first reduces to DISTINCT (user, item)
    with frequencies, then caps each user at the top-{_COVIS_CAP} items
    by frequency (deterministic tie-break on item id) so the pair
    fan-out per user is bounded at C({_COVIS_CAP},2)=120 rows, then
    pair-counts with a user-blocked equi-self-join (item_a < item_b
    halves the pairs and fixes orientation).

    At 100 TB: two shuffles — the (user, item) rollup (map-side
    combinable) and the final pair count; the self-join is co-located
    because both sides share the user_id shuffle key. The per-user cap
    is the load-bearing scale decision: without it, one bot user with
    10^5 items would emit 5·10^9 pairs from a single task. A
    production variant lowers the cap or samples pairs per user;
    either way the bound is enforced BEFORE the join, never after."""
    ev = load_table(spark, sf_dir, "events")
    items = (
        ev.select(
            "user_id",
            F.get_json_object("props", "$.k").cast("int").alias("item"),
        )
        .groupBy("user_id", "item")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("user_id").orderBy(F.col("cnt").desc(), F.col("item"))
    capped = (
        items.select("user_id", "item", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= _COVIS_CAP)
        .select("user_id", "item")
    )
    a = capped.alias("a")
    b = capped.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(
            F.col("a.item").alias("item_a"), F.col("b.item").alias("item_b")
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .filter(F.col("n_users") >= _COVIS_MIN_USERS)
    )


# Burst = >=2 events from one user inside one 5-minute bucket (the
# fixture's event stream is minute-grained, so same-bucket pairs are the
# rare tail worth flagging — a real limiter would use 1s-10s buckets).
_RATE_BUCKET_MIN = 5
_RATE_BURST_AT = 2


@register(
    "evt_rate_limit",
    f"""
    WITH b AS (
      SELECT user_id,
             time_bucket(INTERVAL '{_RATE_BUCKET_MIN} minutes',
                         CAST(ts AS TIMESTAMP)) AS w,
             COUNT(*) AS c
      FROM events
      GROUP BY user_id, time_bucket(INTERVAL '{_RATE_BUCKET_MIN} minutes',
                                    CAST(ts AS TIMESTAMP))
    )
    SELECT user_id,
           CAST(SUM(c) AS BIGINT) AS total_events,
           COUNT(*) AS n_buckets,
           CAST(MAX(c) AS BIGINT) AS max_bucket,
           COUNT(CASE WHEN c >= {_RATE_BURST_AT} THEN 1 END) AS n_burst_buckets,
           MAX(c) >= {_RATE_BURST_AT} AS limited
    FROM b
    GROUP BY user_id
    """,
)
def evt_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rate-limit / burst audit [public practice: fixed-window
    rate limiting, the batch twin of an abuse detector]: bucket each
    user's events into {_RATE_BUCKET_MIN}-minute fixed windows, count
    per bucket, then roll up per user — peak bucket, number of bursty
    buckets, and the `limited` verdict a gateway would enforce. Two
    stacked map-side-combinable aggregates on progressively coarser
    keys ((user, bucket) → user); the bucket comes from timestamp
    truncation (Spark ``window()``'s start == DuckDB ``time_bucket``
    for minute-multiple widths — the dialect equivalence this op pins).

    At 100 TB: both aggs combine map-side, so the shuffle carries one
    row per (user, bucket) — already burst-compressed — then one per
    user; no window function, no join, and a hot abuser with millions
    of events still reduces inside their partitions first. The
    streaming twin is stream_tumbling_window + a stateful flag."""
    ev = load_table(spark, sf_dir, "events")
    b = (
        ev.groupBy(
            "user_id",
            F.window("ts", f"{_RATE_BUCKET_MIN} minutes")["start"].alias("w"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return b.groupBy("user_id").agg(
        F.sum("c").alias("total_events"),
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("c").alias("max_bucket"),
        F.count(F.when(F.col("c") >= _RATE_BURST_AT, 1)).alias("n_burst_buckets"),
        (F.max("c") >= _RATE_BURST_AT).alias("limited"),
    )


# Position-based (U-shaped) attribution: 40/20/40 with a 7-day lookback.
_UPOS_LOOKBACK_DAYS = 7


@register(
    "evt_attribution_position",
    f"""
    WITH conv AS (
      SELECT user_id, event_id AS conv_id, CAST(ts AS TIMESTAMP) AS conv_ts, value
      FROM events WHERE event_type = 'purchase'
    ),
    touch AS (
      SELECT user_id, event_id AS touch_id, event_type AS channel,
             CAST(ts AS TIMESTAMP) AS touch_ts
      FROM events WHERE event_type IN ('click', 'view')
    ),
    path AS (
      SELECT c.conv_id, c.value, t.channel,
             ROW_NUMBER() OVER (PARTITION BY c.conv_id
                                ORDER BY t.touch_ts, t.touch_id) AS pos,
             COUNT(*) OVER (PARTITION BY c.conv_id) AS n_touches
      FROM conv c
      JOIN touch t
        ON t.user_id = c.user_id
       AND t.touch_ts < c.conv_ts
       AND t.touch_ts >= c.conv_ts - INTERVAL {_UPOS_LOOKBACK_DAYS} DAY
    ),
    credited AS (
      SELECT conv_id, value, channel,
             CASE WHEN n_touches = 1 THEN 1.0
                  WHEN n_touches = 2 THEN 0.5
                  WHEN pos = 1 OR pos = n_touches THEN 0.4
                  ELSE 0.2 / (n_touches - 2) END AS credit
      FROM path
    )
    SELECT channel,
           COUNT(DISTINCT conv_id) AS n_conversions,
           ROUND(SUM(credit), 4) AS total_credit,
           ROUND(SUM(credit * value), 4) AS attributed_value
    FROM credited
    GROUP BY channel
    """,
)
def evt_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution [public
    method: the 40/20/40 model every marketing warehouse ships beside
    last-touch]: each purchase's conversion path is its user's
    click/view touches inside a {_UPOS_LOOKBACK_DAYS}-day lookback;
    first and last touch take 40% credit each, the middle splits the
    remaining 20% evenly (single-touch paths take 100%, two-touch
    50/50). Contrast evt_attribution (last-touch): that one is a pure
    window rewrite because only ONE touch matters; here every path
    member gets credit, so the conversion×touch pairs must
    materialize — the join is EQUI on user_id with the time range as a
    residual predicate, and the lookback is the load-bearing bound on
    path length (without it a bot user's every purchase joins their
    entire history).

    At 100 TB: one shuffle keyed on user_id for both sides, pairs
    bounded by touches-per-lookback-window; the per-path position
    window repartitions on conv_id (second shuffle, rows already
    path-compressed), and the final channel rollup is map-side
    combinable on a tiny key domain."""
    ev = load_table(spark, sf_dir, "events")
    conv = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("conv_id"),
        F.col("ts").alias("conv_ts"),
        "value",
    )
    touch = ev.filter(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("t_user"),
        F.col("event_id").alias("touch_id"),
        F.col("event_type").alias("channel"),
        F.col("ts").alias("touch_ts"),
    )
    path = conv.join(
        touch,
        (F.col("t_user") == F.col("user_id"))
        & (F.col("touch_ts") < F.col("conv_ts"))
        & (
            F.col("touch_ts")
            >= F.col("conv_ts") - F.expr(f"INTERVAL {_UPOS_LOOKBACK_DAYS} DAY")
        ),
    )
    w_pos = Window.partitionBy("conv_id").orderBy("touch_ts", "touch_id")
    w_all = Window.partitionBy("conv_id")
    credited = path.select(
        "conv_id",
        "value",
        "channel",
        F.row_number().over(w_pos).alias("pos"),
        F.count(F.lit(1)).over(w_all).alias("n_touches"),
    ).select(
        "conv_id",
        "value",
        "channel",
        F.when(F.col("n_touches") == 1, 1.0)
        .when(F.col("n_touches") == 2, 0.5)
        .when((F.col("pos") == 1) | (F.col("pos") == F.col("n_touches")), 0.4)
        .otherwise(0.2 / (F.col("n_touches") - 2))
        .alias("credit"),
    )
    return credited.groupBy("channel").agg(
        F.countDistinct("conv_id").alias("n_conversions"),
        F.round(F.sum("credit"), 4).alias("total_credit"),
        F.round(F.sum(F.col("credit") * F.col("value")), 4).alias("attributed_value"),
    )


@register(
    "evt_benford",
    """
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                  AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ),
    c AS (
      SELECT digit, COUNT(*) AS n, SUM(COUNT(*)) OVER () AS total
      FROM d GROUP BY digit
    )
    SELECT digit, n,
           ROUND(CAST(n AS DOUBLE) / total, 6) AS observed_p,
           ROUND(log10(1.0 + 1.0 / digit), 6) AS expected_p,
           ROUND(power(CAST(n AS DOUBLE) - total * log10(1.0 + 1.0 / digit), 2)
                 / (total * log10(1.0 + 1.0 / digit)), 6) AS chi2_term
    FROM c
    ORDER BY digit
    """,
)
def evt_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit over order totals [public
    method: Benford's-law conformance testing, the standard forensic /
    data-quality screen for fabricated or truncated monetary columns].
    Each price (≥1) maps to its leading digit LEXICALLY — first char of
    the integer part as a string — because the arithmetic route
    floor(p/10^floor(log10 p)) can flip the digit on exact
    power-of-ten boundaries from ULP-level log10/pow differences
    between engines; integer→string→first-char agrees by construction.
    Then the 9-digit observed
    distribution is compared with the Benford expectation log10(1+1/d),
    emitting the per-digit chi-square contribution (Σ of the column is
    the test statistic; a flat or spiky profile flags synthetic data).

    At 100 TB: the digit extraction is a narrow map, the groupBy has a
    9-value key domain so the partial aggregate compresses each
    partition to ≤9 rows before the shuffle, and the grand total rides
    a window over those 9 rows (one extra exchange of 9 rows, not a
    second scan). Nothing here grows with data volume except the scan
    itself."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digit = F.substring(
        F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
    ).cast("bigint")
    c = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    c = c.withColumn("total", F.sum("n").over(Window.partitionBy()))
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return (
        c.select(
            "digit",
            "n",
            F.round(F.col("n").cast("double") / F.col("total"), 6).alias(
                "observed_p"
            ),
            F.round(expected, 6).alias("expected_p"),
            F.round(
                F.pow(F.col("n").cast("double") - F.col("total") * expected, 2)
                / (F.col("total") * expected),
                6,
            ).alias("chi2_term"),
        )
        .orderBy("digit")
    )


@register(
    "evt_gini",
    """
    WITH rev AS (
      SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS revenue
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT revenue,
             ROW_NUMBER() OVER (ORDER BY revenue, o_custkey) AS i,
             COUNT(*) OVER () AS n
      FROM rev
    )
    SELECT MAX(n) AS n_customers,
           ROUND(SUM(revenue), 2) AS total_revenue,
           ROUND(2.0 * SUM(i * revenue) / (MAX(n) * SUM(revenue))
                 - (MAX(n) + 1.0) / MAX(n), 6) AS gini
    FROM ranked
    """,
)
def evt_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of revenue concentration across customers
    [public method: the Lorenz-curve inequality index, the scalar
    companion to evt_pareto_share's decile profile — answers "how
    unequal?" in one number where Pareto answers "where is the mass?"].
    Per-customer revenue is rounded to cents BEFORE ranking so both
    engines rank an identical total order (revenue, custkey) — raw
    double sums differ in summation order across engines, and an
    unrounded sort key could flip ranks between near-equal customers.
    Gini = 2·Σ(i·x_i)/(n·Σx) − (n+1)/n over ascending-ranked x.

    At 100 TB: the per-customer rollup is the only corpus-scale pass
    (map-side combinable on the customer key); the rank window runs
    over the already-reduced CUSTOMER dimension — like
    evt_pareto_share's NTILE it is a single-partition window, fine at
    dimension scale, and for unbounded key sets the rank-free rewrite
    is Gini-from-Lorenz over approx_percentile buckets (the same swap
    evt_pareto_share documents). Ties carry identical revenue so block
    permutations cannot change the Σ(i·x_i) term; the final aggregate
    reduces to one row."""
    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue")
    )
    w = Window.orderBy("revenue", "o_custkey")
    ranked = rev.select(
        "revenue",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    return ranked.agg(
        F.max("n").alias("n_customers"),
        F.round(F.sum("revenue"), 2).alias("total_revenue"),
        F.round(
            F.lit(2.0)
            * F.sum(F.col("i") * F.col("revenue"))
            / (F.max("n") * F.sum("revenue"))
            - (F.max("n") + F.lit(1.0)) / F.max("n"),
            6,
        ).alias("gini"),
    )


# Association rules: minimum co-occurrence count for a (a, b) item pair.
_BASKET_MIN_PAIR = 2


@register(
    "evt_market_basket",
    f"""
    WITH basket AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    item AS (
      SELECT l_partkey, COUNT(*) AS n_item FROM basket GROUP BY l_partkey
    ),
    pair AS (
      SELECT a.l_partkey AS item_a, b.l_partkey AS item_b, COUNT(*) AS n_pair
      FROM basket a JOIN basket b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING COUNT(*) >= {_BASKET_MIN_PAIR}
    ),
    tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM basket)
    SELECT item_a, item_b, n_pair, ia.n_item AS n_a, ib.n_item AS n_b,
           ROUND(CAST(n_pair AS DOUBLE) / n_orders, 6) AS support,
           ROUND(CAST(n_pair AS DOUBLE) / ia.n_item, 6) AS confidence,
           ROUND((CAST(n_pair AS DOUBLE) * n_orders) / (CAST(ia.n_item AS DOUBLE) * ib.n_item), 6) AS lift
    FROM pair
    JOIN item ia ON ia.l_partkey = item_a
    JOIN item ib ON ib.l_partkey = item_b
    CROSS JOIN tot
    ORDER BY lift DESC, item_a, item_b
    LIMIT 20
    """,
)
def evt_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order line items [public
    method: Apriori-style support/confidence/lift rule mining — the
    rule-quality layer on top of evt_covisitation's raw pair counts:
    lift normalizes co-occurrence by both marginals, which is what
    separates "bought together" from "both merely popular"]. Baskets
    are DISTINCT (order, part); pairs come from an equi-self-join on
    the ORDER key with part_a < part_b canonicalization, so pair volume
    is Σ basket_size², bounded by the lines-per-order ceiling (~7 in
    this schema) — never |parts|². Rules below {_BASKET_MIN_PAIR}
    co-occurrences are cut before the marginal joins. The sort key is
    the ROUNDED lift (an exact int-ratio division in both engines), so
    top-20 selection is engine-stable.

    At 100 TB: one shuffle on l_orderkey builds baskets and pairs
    together; the pair groupBy is map-side combinable; the marginal
    joins key on single parts (dimension-scale, AQE broadcasts them);
    a whale basket (one order with thousands of parts) is the skew
    risk, and the DISTINCT-then-cap pattern from evt_covisitation is
    the documented escape hatch. Final top-20 compiles to
    TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem")
    # Four branches (pair a/b, marginals, order total) reference the
    # basket frame; without truncation each re-scans lineitem (audit
    # showed 5 scans). The deduped 2-column projection is the natural
    # stage boundary — checkpoint it once, every branch reads memory.
    basket = (
        li.select("l_orderkey", "l_partkey").distinct().transform(materialize)
    )
    item = basket.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_item"))
    a = basket.alias("a")
    b = basket.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("item_a"),
            F.col("b.l_partkey").alias("item_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= _BASKET_MIN_PAIR)
    )
    tot = basket.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    ia = item.select(
        F.col("l_partkey").alias("item_a"), F.col("n_item").alias("n_a")
    )
    ib = item.select(
        F.col("l_partkey").alias("item_b"), F.col("n_item").alias("n_b")
    )
    return (
        pair.join(ia, "item_a")
        .join(ib, "item_b")
        .crossJoin(tot)
        .select(
            "item_a",
            "item_b",
            "n_pair",
            "n_a",
            "n_b",
            F.round(F.col("n_pair").cast("double") / F.col("n_orders"), 6).alias(
                "support"
            ),
            F.round(F.col("n_pair").cast("double") / F.col("n_a"), 6).alias(
                "confidence"
            ),
            F.round(
                (F.col("n_pair").cast("double") * F.col("n_orders"))
                / (F.col("n_a").cast("double") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "item_a", "item_b")
        .limit(20)
    )


# Autocorrelation: maximum lag (days) of the daily-revenue ACF profile.
_ACF_MAX_LAG = 7


@register(
    "evt_acf",
    f"""
    WITH s AS (
      SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, SUM(value) AS rev
      FROM events GROUP BY 1
    ),
    lags AS (SELECT unnest(generate_series(1, {_ACF_MAX_LAG})) AS lag)
    SELECT l.lag, COUNT(*) AS n_pairs,
           ROUND(corr(a.rev, b.rev), 6) AS acf
    FROM s a
    CROSS JOIN lags l
    JOIN s b ON b.day = a.day + CAST(l.lag AS INTEGER)
    GROUP BY l.lag
    ORDER BY l.lag
    """,
)
def evt_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation profile of the daily-revenue series [public
    method: the ACF at lags 1..{_ACF_MAX_LAG}, the first diagnostic a
    forecaster runs before fitting anything — evt_seasonal_decompose
    assumes a weekly period, this measures whether one exists]. The
    series is the per-day SUM(value); each lag's coefficient is the
    Pearson correlation of (r_t, r_t+k) over the overlapping days,
    built by joining the tiny day-level series to itself on day+k for
    every k at once (a lag × series fan-out of |days|·{_ACF_MAX_LAG}
    rows — there is no per-lag re-scan of the raw events).

    At 100 TB: the only corpus-scale pass is the per-day rollup
    (map-side combinable on a date key with ~10³ distinct values);
    everything after operates on the day-dimension series, so the
    self-join and corr aggregates are metadata-sized however large the
    event log. Spark's corr and DuckDB's corr are both sample Pearson,
    and the coefficient is rounded to 6dp to absorb summation-order
    float noise in the per-day sums."""
    ev = load_table(spark, sf_dir, "events")
    # The self-join references the series twice; without truncation each
    # reference re-scans the raw events (audit showed two corpus passes).
    # The series is day-dimension-sized, so checkpoint it once — the
    # llm_mmr_diversify lineage idiom — and both join sides read memory.
    s = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg(F.sum("value").alias("rev"))
        .transform(materialize)
    )
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = s.alias("a")
    b = s.select(
        F.col("day").alias("b_day"), F.col("rev").alias("b_rev")
    ).alias("b")
    return (
        a.crossJoin(lags)
        .join(b, F.col("b_day") == F.date_add(F.col("a.day"), F.col("lag")))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.corr(F.col("a.rev"), F.col("b_rev")), 6).alias("acf"),
        )
        .orderBy("lag")
    )


# Power analysis constants: two-sided alpha=0.05, power=0.80, 5% relative
# minimum detectable effect. z-values are literals so both engines compute
# the identical closed form.
_PWR_Z_ALPHA = 1.959964
_PWR_Z_BETA = 0.841621
_PWR_MDE_REL = 0.05


# A/B-test power analysis per metric [public method: the standard
# two-sample sample-size formula n = 2(z_α/2+z_β)²σ²/δ² at 80% power
# — the planning companion to evt_abtest_lift's post-hoc z-test:
# before an experiment ships, this says how many users each arm
# needs to detect a _PWR_MDE_REL (5%) relative lift]. Mean and
# sample-stddev are ROUNDED to 6dp before the closed form, so both
# engines evaluate the identical formula on identical inputs and the
# ceil() lands on the same integer (unrounded moments differ in
# summation order across engines; a boundary-straddling ceil would
# hash-mismatch).
#
# At 100 TB: one map-side-combinable aggregate on the metric key —
# scan-bound, the optimal shape; the arithmetic is per-group
# constant work. stddev_samp is Spark's and DuckDB's shared
# definition (n−1 denominator).
register_sql(
    "evt_power_analysis",
    f"""
    WITH m AS (
      SELECT event_type, COUNT(*) AS n_obs,
             ROUND(AVG(value), 6) AS mean_val,
             ROUND(stddev_samp(value), 6) AS sd_val
      FROM {{events}} GROUP BY event_type
    )
    SELECT event_type, n_obs, mean_val, sd_val,
           ROUND({_PWR_MDE_REL} * mean_val, 6) AS mde_abs,
           CAST(ceil(2.0 * power({_PWR_Z_ALPHA} + {_PWR_Z_BETA}, 2)
                     * power(sd_val, 2)
                     / power({_PWR_MDE_REL} * mean_val, 2)) AS BIGINT)
             AS n_per_arm,
           CAST(n_obs >= 2 * CAST(ceil(2.0 * power({_PWR_Z_ALPHA} + {_PWR_Z_BETA}, 2)
                     * power(sd_val, 2)
                     / power({_PWR_MDE_REL} * mean_val, 2)) AS BIGINT)
                AS INT) AS currently_powered
    FROM m
    ORDER BY event_type
    """,
)


# Concurrency sweep: session gap threshold (seconds), matching the
# win_sessionize_batch convention.
_SWEEP_GAP_S = 1800


@register(
    "evt_concurrency_sweep",
    f"""
    WITH g AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
             CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                       - epoch_us(LAG(CAST(ts AS TIMESTAMP)) OVER
                           (PARTITION BY user_id ORDER BY ts, event_id))
                       > {_SWEEP_GAP_S} * 1000000 THEN 1 ELSE 0 END AS brk
      FROM events
    ),
    s AS (
      SELECT user_id, ts,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sess
      FROM g
    ),
    sess AS (
      SELECT user_id, sess, MIN(ts) AS s_ts, MAX(ts) AS e_ts
      FROM s GROUP BY user_id, sess
    ),
    bounds AS (
      SELECT s_ts AS ts, 1 AS delta FROM sess
      UNION ALL
      SELECT e_ts AS ts, -1 AS delta FROM sess
    ),
    run AS (
      SELECT ts, delta,
             SUM(delta) OVER (ORDER BY ts, delta DESC, ts
                              ROWS UNBOUNDED PRECEDING) AS conc
      FROM bounds
    )
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           CAST(MAX(conc) AS BIGINT) AS peak_concurrency,
           CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS sessions_started
    FROM run
    GROUP BY 1
    ORDER BY day
    """,
)
def evt_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak-concurrency profile via the sweep-line idiom [public
    method: interval concurrency = +1 at each start, −1 at each end,
    running sum — how capacity planners size connection pools and
    livestream infra]. Sessions come from the {_SWEEP_GAP_S}s-gap rule
    (the win_sessionize_batch convention); each contributes two
    boundary events, and the running sum over (ts, starts-first) — so
    a session starting exactly when another ends counts as overlap —
    yields instantaneous concurrency, rolled up to per-day peak and
    session starts.

    At 100 TB: sessionization is one user-keyed shuffle + window
    (per-user history, bounded); the sweep window runs over the
    SESSION-BOUNDARY dimension (2 rows per session — already
    corpus-compressed) and is the op's one total-order window, the
    evt_pareto_share trade-off; at true scale the sweep shards by
    coarse time range with per-shard carry-in offsets (a 2-pass
    prefix-sum — the evt_drawdown family note)."""
    ev = load_table(spark, sf_dir, "events")
    w_u = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w_u))
            > _SWEEP_GAP_S * 1_000_000,
            1,
        )
        .otherwise(0)
        .alias("brk"),
    )
    # (ts, event_id) tiebreak matching w_u: with duplicate per-user
    # timestamps a ts-only ROWS running sum is tie-order-dependent and
    # session boundaries could differ between engines/runs.
    w_run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    s = g.select("user_id", "ts", F.sum("brk").over(w_run).alias("sess"))
    sess = (
        s.groupBy("user_id", "sess")
        .agg(F.min("ts").alias("s_ts"), F.max("ts").alias("e_ts"))
        # Both boundary branches reference the session frame; checkpoint
        # the session-dimension rollup so events scans once.
        .transform(materialize)
    )
    bounds = sess.select(F.col("s_ts").alias("ts"), F.lit(1).alias("delta")).unionByName(
        sess.select(F.col("e_ts").alias("ts"), F.lit(-1).alias("delta"))
    )
    w_sweep = Window.orderBy(F.col("ts"), F.col("delta").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    run = bounds.select("ts", "delta", F.sum("delta").over(w_sweep).alias("conc"))
    return (
        run.groupBy(F.to_date("ts").cast("string").alias("day"))
        .agg(
            F.max("conc").alias("peak_concurrency"),
            F.sum(F.when(F.col("delta") == 1, 1).otherwise(0)).alias(
                "sessions_started"
            ),
        )
        .orderBy("day")
    )


@register(
    "evt_new_vs_returning",
    """
    WITH first_seen AS (
      SELECT user_id, MIN(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS first_day
      FROM events GROUP BY user_id
    ),
    daily AS (
      SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
      FROM events
    )
    SELECT CAST(d.day AS VARCHAR) AS day,
           COUNT(*) AS dau,
           CAST(SUM(CASE WHEN f.first_day = d.day THEN 1 ELSE 0 END) AS BIGINT)
             AS new_users,
           CAST(SUM(CASE WHEN f.first_day < d.day THEN 1 ELSE 0 END) AS BIGINT)
             AS returning_users
    FROM daily d JOIN first_seen f USING (user_id)
    GROUP BY d.day
    ORDER BY day
    """,
)
def evt_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-returning DAU decomposition [public method: the standard
    growth-accounting split — every day's actives partition into
    first-ever-seen and returning; the acquisition/retention lens that
    complements evt_retention's day-over-day rate and evt_stickiness's
    DAU/WAU ratio]. First-seen day per user joins back to the distinct
    (user, day) activity — both frames key on user_id, so the join
    rides one co-partitioned shuffle family.

    At 100 TB: first_seen is a map-side-combinable MIN on the user key;
    daily actives are a DISTINCT on (user, day) — same key family; the
    join is user-keyed (no broadcast needed, both sides user-dimension
    after reduction) and the final day rollup has a calendar-bounded
    key domain."""
    ev = load_table(spark, sf_dir, "events")
    day = F.to_date("ts").alias("day")
    first_seen = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("first_day"))
    daily = ev.select("user_id", day).distinct()
    return (
        daily.join(first_seen, "user_id")
        .select(
            F.col("day").cast("string").alias("day"),
            F.when(F.col("first_day") == F.col("day"), 1).otherwise(0).alias("is_new"),
            F.when(F.col("first_day") < F.col("day"), 1).otherwise(0).alias("is_ret"),
        )
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("dau"),
            F.sum("is_new").alias("new_users"),
            F.sum("is_ret").alias("returning_users"),
        )
        .orderBy("day")
    )


@register(
    "evt_interarrival",
    """
    WITH gaps AS (
      SELECT event_type,
             (epoch_us(CAST(ts AS TIMESTAMP))
              - epoch_us(LAG(CAST(ts AS TIMESTAMP)) OVER
                  (PARTITION BY user_id, event_type
                   ORDER BY ts, event_id))) / 1000000.0 AS gap_s
      FROM events
    )
    SELECT event_type,
           COUNT(gap_s) AS n_gaps,
           ROUND(AVG(gap_s), 4) AS mean_gap_s,
           ROUND(quantile_cont(gap_s, 0.5), 4) AS p50_gap_s,
           ROUND(quantile_cont(gap_s, 0.9), 4) AS p90_gap_s,
           ROUND(MAX(gap_s), 4) AS max_gap_s
    FROM gaps
    WHERE gap_s IS NOT NULL
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def evt_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time profile per event type [public method: the
    gap distribution behind every sessionization threshold and Poisson
    rate model — win_sessionize_batch ASSUMES a 30-min gap rule; this
    measures the distribution that justifies (or refutes) it]. Gaps
    come from a (user, type)-keyed LAG over the event stream; the
    rollup reports mean/p50/p90/max per type — heavy-tailed p90/median
    ratios are exactly the signal that a fixed session gap misfits.

    At 100 TB: one shuffle on the (user_id, event_type) window key
    (bounded per-user history), then a map-side-combinable aggregate
    on the 5-value type key; exact quantile buffers are bounded by
    per-group gap counts — at true scale swap percentile for
    approx_percentile (the agg_approx_percentile contract)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gaps = ev.select(
        "event_type",
        (
            (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)))
            / 1_000_000.0
        ).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count("gap_s").alias("n_gaps"),
            F.round(F.avg("gap_s"), 4).alias("mean_gap_s"),
            F.round(F.expr("percentile(gap_s, 0.5)"), 4).alias("p50_gap_s"),
            F.round(F.expr("percentile(gap_s, 0.9)"), 4).alias("p90_gap_s"),
            F.round(F.max("gap_s"), 4).alias("max_gap_s"),
        )
        .orderBy("event_type")
    )


@register(
    "evt_funnel_steps",
    """
    WITH v AS (
      SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT v.user_id, v.t_view, MIN(CAST(e.ts AS TIMESTAMP)) AS t_click
      FROM v JOIN events e
        ON e.user_id = v.user_id AND e.event_type = 'click'
       AND CAST(e.ts AS TIMESTAMP) > v.t_view
      GROUP BY v.user_id, v.t_view
    ),
    p AS (
      SELECT c.user_id, c.t_view, c.t_click,
             MIN(CAST(e.ts AS TIMESTAMP)) AS t_purchase
      FROM c JOIN events e
        ON e.user_id = c.user_id AND e.event_type = 'purchase'
       AND CAST(e.ts AS TIMESTAMP) > c.t_click
      GROUP BY c.user_id, c.t_view, c.t_click
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_click,
           (SELECT COUNT(*) FROM p) AS n_purchase,
           ROUND((SELECT COUNT(*) FROM c) * 1.0
                 / (SELECT COUNT(*) FROM v), 6) AS cvr_view_click,
           ROUND((SELECT COUNT(*) FROM p) * 1.0
                 / NULLIF((SELECT COUNT(*) FROM c), 0), 6) AS cvr_click_purchase,
           ROUND((SELECT COUNT(*) FROM p) * 1.0
                 / (SELECT COUNT(*) FROM v), 6) AS cvr_total,
           ROUND((SELECT quantile_cont(epoch_us(t_purchase) - epoch_us(t_view), 0.5)
                  FROM p) / 1000000.0, 4) AS p50_total_latency_s
    """,
)
def evt_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered multi-step funnel view → click → purchase [public
    method: the N-step funnel report generalizing evt_funnel's 2-step
    pair — each step's timestamp must strictly follow the previous
    step's, per user]. Steps chain as user-keyed joins (each stage's
    MIN-timestamp frame joins the next event stream with the ordering
    predicate as a residual), and the scorecard reports per-step
    survivors, step and total conversion rates, and the median
    end-to-end latency.

    At 100 TB: every stage joins and aggregates on the user key — ONE
    shuffle family end-to-end (co-partitioned stages); per-stage
    frames only shrink (funnel survivors are monotone), and the final
    scorecard is a 1-row reduce. The ordering predicates are residual
    conditions on the equi-join, never driving a range join."""
    ev = load_table(spark, sf_dir, "events")
    # Each stage frame feeds both the next stage and its own count
    # branch; checkpoint the user-dimension rollups so the event log is
    # scanned once per step filter, not once per reference (audit
    # showed 6 scans before truncation).
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
        .transform(materialize)
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    c = (
        v.join(
            clicks,
            (F.col("c_user") == F.col("user_id")) & (F.col("c_ts") > F.col("t_view")),
        )
        .groupBy("user_id", "t_view")
        .agg(F.min("c_ts").alias("t_click"))
        .transform(materialize)
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    p = (
        c.join(
            purchases,
            (F.col("p_user") == F.col("user_id"))
            & (F.col("p_ts") > F.col("t_click")),
        )
        .groupBy("user_id", "t_view", "t_click")
        .agg(F.min("p_ts").alias("t_purchase"))
        .transform(materialize)
    )
    nv = v.agg(F.count(F.lit(1)).alias("n_view"))
    nc = c.agg(F.count(F.lit(1)).alias("n_click"))
    np_ = p.agg(
        F.count(F.lit(1)).alias("n_purchase"),
        F.round(
            F.expr(
                "percentile(unix_micros(t_purchase) - unix_micros(t_view), 0.5)"
            )
            / 1_000_000.0,
            4,
        ).alias("p50_total_latency_s"),
    )
    return (
        nv.crossJoin(nc)
        .crossJoin(np_)
        .select(
            "n_view",
            "n_click",
            "n_purchase",
            F.round(F.col("n_click") / F.col("n_view"), 6).alias("cvr_view_click"),
            F.round(
                F.col("n_purchase") / F.nullif(F.col("n_click"), F.lit(0)), 6
            ).alias("cvr_click_purchase"),
            F.round(F.col("n_purchase") / F.col("n_view"), 6).alias("cvr_total"),
            "p50_total_latency_s",
        )
    )


# Day-of-week convention anchor (2024-01-01 is a Monday): dow = days
# since anchor mod 7 — the evt_seasonal_decompose trick that sidesteps
# Spark dayofweek()=Sunday-1 vs DuckDB dayofweek()=Sunday-0.
_DOW_ANCHOR = "2024-01-01"


# Day-of-week × hour activity heatmap [public practice: the
# weekly-rhythm matrix on every ops dashboard — staffing, batch-
# window placement, and anomaly baselines all read it]. Day-of-week
# comes from days-since-anchor mod 7 (anchor Monday), the
# evt_seasonal_decompose convention that makes both engines agree
# without touching their divergent dayofweek() conventions; hour is
# a plain EXTRACT. Output is the long-form (dow, hour) matrix with
# counts and value mass.
#
# At 100 TB: a narrow map to a 168-value key then one map-side-
# combinable aggregate — partials compress each partition to ≤168
# rows before the shuffle; scan-bound like evt_benford.
register_sql(
    "evt_heatmap_dow_hour",
    f"""
    WITH x AS (
      SELECT CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE)
                  - DATE '{_DOW_ANCHOR}' AS INT) % 7 AS dow,
             EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) AS hour,
             value
      FROM {{events}}
    )
    SELECT dow, CAST(hour AS INT) AS hour,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS total_value
    FROM x
    GROUP BY dow, hour
    ORDER BY dow, hour
    """,
)


@register(
    "evt_shipping_latency",
    """
    WITH lat AS (
      SELECT o.o_orderpriority,
             CAST(CAST(l.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE)
                  AS INT) AS lag_days
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    )
    SELECT o_orderpriority,
           COUNT(*) AS n_lines,
           ROUND(AVG(lag_days), 4) AS mean_days,
           ROUND(quantile_cont(lag_days, 0.5), 4) AS p50_days,
           ROUND(quantile_cont(lag_days, 0.9), 4) AS p90_days,
           MAX(lag_days) AS max_days,
           CAST(SUM(CASE WHEN lag_days < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_anomalous
    FROM lat
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def evt_shipping_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order→ship latency SLA profile per priority class [public
    practice: the fulfilment-latency distribution every logistics
    warehouse tracks — does URGENT actually ship faster, and how fat
    is the tail?]. Latency is datediff(shipdate, orderdate) through
    the orders⋈lineitem equi-join; the per-priority rollup reports
    mean/p50/p90/max plus a negative-latency anomaly count (ship
    before order = data fault — the dq_constraints cross-table rule
    as a measured rate).

    At 100 TB: ONE fact-fact equi-join on the order key (the
    flagship's join family — both sides shuffle once on l_orderkey /
    o_orderkey), then a map-side-combinable aggregate on a 5-value
    key. Exact quantiles bound by per-priority row counts; swap to
    approx_percentile at true scale (the agg_approx_percentile
    contract)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    lat = o.join(li, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "o_orderpriority",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias(
            "lag_days"
        ),
    )
    return (
        lat.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.avg("lag_days"), 4).alias("mean_days"),
            F.round(F.expr("percentile(lag_days, 0.5)"), 4).alias("p50_days"),
            F.round(F.expr("percentile(lag_days, 0.9)"), 4).alias("p90_days"),
            F.max("lag_days").alias("max_days"),
            F.sum(F.when(F.col("lag_days") < 0, 1).otherwise(0)).alias(
                "n_anomalous"
            ),
        )
        .orderBy("o_orderpriority")
    )


# Log-log price elasticity of demand per brand [public method:
# the econometric workhorse — elasticity = d ln(q) / d ln(p),
# estimated as the OLS slope of ln(quantity) on ln(unit price); the
# applied twin of the raw regr_* surface the repo already pins].
# Unit price derives from extendedprice/quantity; regr_slope and
# regr_r2 are the shared two-engine aggregate definitions, rounded
# at 6dp to absorb summation-order noise in the moment sums.
#
# At 100 TB: one part-keyed join (dimension side broadcast by AQE at
# any realistic part-table size — and if parts outgrow that, both
# sides shuffle on the part key), then a map-side-combinable
# aggregate on the brand dimension; regr_* aggregates carry
# constant-size moment state per group.
register_sql(
    "evt_price_elasticity",
    """
    SELECT p.p_brand,
           COUNT(*) AS n_lines,
           ROUND(regr_slope(ln(l.l_quantity), ln(l.l_extendedprice / l.l_quantity)), 6)
             AS elasticity,
           ROUND(regr_r2(ln(l.l_quantity), ln(l.l_extendedprice / l.l_quantity)), 6)
             AS r2,
           ROUND(AVG(l.l_extendedprice / l.l_quantity), 4) AS mean_unit_price
    FROM {lineitem} l JOIN {part} p ON p.p_partkey = l.l_partkey
    WHERE l.l_quantity > 0 AND l.l_extendedprice > 0
    GROUP BY p.p_brand
    ORDER BY p.p_brand
    """,
)


@register(
    "evt_anova_dow",
    f"""
    WITH daily AS (
      SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE)
                  - DATE '{_DOW_ANCHOR}' AS INT) % 7 AS dow,
             ROUND(SUM(value), 6) AS rev
      FROM events GROUP BY 1, 2
    ),
    g AS (
      SELECT dow, COUNT(*) AS n_g, AVG(rev) AS mean_g FROM daily GROUP BY dow
    ),
    tot AS (SELECT COUNT(*) AS n, AVG(rev) AS grand_mean FROM daily),
    ss AS (
      SELECT (SELECT SUM(n_g * (mean_g - grand_mean) * (mean_g - grand_mean))
              FROM g CROSS JOIN tot) AS ssb,
             (SELECT SUM((d.rev - g.mean_g) * (d.rev - g.mean_g))
              FROM daily d JOIN g ON g.dow = d.dow) AS ssw,
             (SELECT COUNT(*) FROM g) AS k,
             (SELECT n FROM tot) AS n
    )
    SELECT k AS n_groups, n AS n_days,
           ROUND(ssb, 4) AS ss_between,
           ROUND(ssw, 4) AS ss_within,
           ROUND((ssb / (k - 1)) / (ssw / (n - k)), 6) AS f_stat,
           ROUND(ssb / (ssb + ssw), 6) AS eta_squared
    FROM ss
    """,
)
def evt_anova_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA for the day-of-week effect on daily revenue
    [public method: Fisher's F = (SSB/(k−1))/(SSW/(n−k)) — the
    significance test behind evt_heatmap_dow_hour's visual and
    evt_seasonal_decompose's assumed weekly period: is the weekday
    pattern real or noise?]. Day groups use the anchor-mod-7 dow; the
    daily revenue is 6dp-rounded BEFORE the sums of squares (the
    recursion/cliff input-rounding rule), and eta² reports effect
    size beside significance.

    At 100 TB: the per-day rollup is the only corpus pass; everything
    downstream operates on the ≤ calendar-sized day dimension — group
    means, the within/between sums, and the final 1-row scorecard are
    all metadata-sized."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            F.to_date("ts").alias("day"),
            (F.datediff(F.to_date("ts"), F.to_date(F.lit(_DOW_ANCHOR))) % 7).alias(
                "dow"
            ),
        )
        .agg(F.round(F.sum("value"), 6).alias("rev"))
        # Three branches (group means, grand mean, within-SS join)
        # reference the day series — checkpoint it (the evt_acf rule).
        .transform(materialize)
    )
    g = daily.groupBy("dow").agg(
        F.count(F.lit(1)).alias("n_g"), F.avg("rev").alias("mean_g")
    )
    tot = daily.agg(F.count(F.lit(1)).alias("n"), F.avg("rev").alias("grand_mean"))
    ssb_df = (
        g.crossJoin(tot)
        .agg(
            F.sum(
                F.col("n_g")
                * (F.col("mean_g") - F.col("grand_mean"))
                * (F.col("mean_g") - F.col("grand_mean"))
            ).alias("ssb"),
            F.count(F.lit(1)).alias("k"),
            F.max("n").alias("n"),
        )
    )
    ssw_df = (
        daily.join(g, "dow")
        .agg(
            F.sum(
                (F.col("rev") - F.col("mean_g")) * (F.col("rev") - F.col("mean_g"))
            ).alias("ssw")
        )
    )
    return (
        ssb_df.crossJoin(ssw_df)
        .select(
            F.col("k").alias("n_groups"),
            F.col("n").alias("n_days"),
            F.round("ssb", 4).alias("ss_between"),
            F.round("ssw", 4).alias("ss_within"),
            F.round(
                (F.col("ssb") / (F.col("k") - 1)) / (F.col("ssw") / (F.col("n") - F.col("k"))),
                6,
            ).alias("f_stat"),
            F.round(F.col("ssb") / (F.col("ssb") + F.col("ssw")), 6).alias(
                "eta_squared"
            ),
        )
    )


# Peak detection: prominence multiple over the centered weekly baseline.
_PEAK_PROM = 1.1


@register(
    "evt_peaks",
    f"""
    WITH s AS (
      SELECT CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE) AS VARCHAR) AS day,
             CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day_d,
             ROUND(SUM(value), 6) AS rev
      FROM events GROUP BY 1, 2
    ),
    w AS (
      SELECT day, rev,
             LAG(rev) OVER (ORDER BY day_d) AS prev_rev,
             LEAD(rev) OVER (ORDER BY day_d) AS next_rev,
             AVG(rev) OVER (ORDER BY day_d
                            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
               AS baseline
      FROM s
    )
    SELECT day, rev,
           ROUND(baseline, 6) AS baseline,
           ROUND(rev / baseline, 6) AS prominence
    FROM w
    WHERE prev_rev IS NOT NULL AND next_rev IS NOT NULL
      AND rev > prev_rev AND rev > next_rev
      AND rev > {_PEAK_PROM} * baseline
    ORDER BY day
    """,
)
def evt_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak detection on the daily-revenue series [public method: the
    local-maximum + prominence rule every monitoring stack runs —
    strictly above both neighbors AND {_PEAK_PROM}× the centered
    weekly moving average; the point-event counterpart of
    evt_cusum_changepoint's level shifts and evt_anomaly_mad's robust
    outliers]. Boundary days (no neighbor on one side) are excluded
    rather than treated as peaks, and the 6dp-rounded daily sums make
    both engines compare identical doubles.

    At 100 TB: one corpus-scale rollup to the day dimension, then
    lag/lead/MA windows over the calendar-bounded series — at
    multi-series scale the windows partition by series id, the
    evt_rolling_median shape."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy(
        F.to_date("ts").alias("day_d")
    ).agg(F.round(F.sum("value"), 6).alias("rev"))
    w_o = Window.orderBy("day_d")
    w_ma = Window.orderBy("day_d").rowsBetween(-3, 3)
    w = s.select(
        F.col("day_d").cast("string").alias("day"),
        "rev",
        F.lag("rev").over(w_o).alias("prev_rev"),
        F.lead("rev").over(w_o).alias("next_rev"),
        F.avg("rev").over(w_ma).alias("baseline"),
    )
    return (
        w.filter(
            F.col("prev_rev").isNotNull()
            & F.col("next_rev").isNotNull()
            & (F.col("rev") > F.col("prev_rev"))
            & (F.col("rev") > F.col("next_rev"))
            & (F.col("rev") > _PEAK_PROM * F.col("baseline"))
        )
        .select(
            "day",
            "rev",
            F.round("baseline", 6).alias("baseline"),
            F.round(F.col("rev") / F.col("baseline"), 6).alias("prominence"),
        )
        .orderBy("day")
    )


# Difference-in-differences design: treatment = odd user ids (the
# deterministic assignment convention of evt_abtest), intervention at
# mid-window.
_DID_CUTOVER = "2024-01-15"


# Difference-in-differences estimator [public method: the 2×2 DiD
# — (treated post − treated pre) − (control post − control pre) —
# the workhorse for launch effects when randomization is impossible;
# completes the causal family beside evt_abtest_lift (randomized),
# evt_power_analysis (planning), and evt_attribution_* (credit)].
# Treatment is the deterministic odd-id assignment, the intervention
# splits the window at _DID_CUTOVER, and the four cell means plus
# the pooled standard error √Σ(s²ᵢ/nᵢ) reduce from ONE pass; the
# t-stat divides the unrounded estimate by the unrounded SE before
# the display rounding.
#
# At 100 TB: a single map-side-combinable aggregate on a 4-value
# key — partials carry (n, mean, M2) per cell, so the scan is the
# whole cost; the DiD arithmetic is a 1-row epilogue over the
# pivoted cells.
register_sql(
    "evt_did",
    f"""
    WITH cells AS (
      SELECT CAST(user_id % 2 AS INT) AS treated,
             CAST(CAST(ts AS TIMESTAMP) >= TIMESTAMP '{_DID_CUTOVER}' AS INT)
               AS post,
             COUNT(*) AS n,
             AVG(value) AS mu,
             var_samp(value) AS v
      FROM {{events}}
      GROUP BY 1, 2
    ),
    wide AS (
      SELECT
        MAX(CASE WHEN treated = 1 AND post = 0 THEN mu END) AS t_pre,
        MAX(CASE WHEN treated = 1 AND post = 1 THEN mu END) AS t_post,
        MAX(CASE WHEN treated = 0 AND post = 0 THEN mu END) AS c_pre,
        MAX(CASE WHEN treated = 0 AND post = 1 THEN mu END) AS c_post,
        SUM(v / n) AS var_sum
      FROM cells
    )
    SELECT ROUND(t_pre, 6) AS treated_pre, ROUND(t_post, 6) AS treated_post,
           ROUND(c_pre, 6) AS control_pre, ROUND(c_post, 6) AS control_post,
           ROUND((t_post - t_pre) - (c_post - c_pre), 6) AS did,
           ROUND(sqrt(var_sum), 6) AS se,
           ROUND(((t_post - t_pre) - (c_post - c_pre)) / sqrt(var_sum), 6)
             AS t_stat
    FROM wide
    """,
)


@register(
    "evt_ols_multifactor",
    """
    WITH daily AS (
      SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value END), 6) AS y,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS x1,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS x2
      FROM events GROUP BY 1
    ),
    m AS (
      SELECT COUNT(*) AS n,
             SUM(x1) AS sx1, SUM(x2) AS sx2, SUM(y) AS sy,
             SUM(x1 * x1) AS sx1x1, SUM(x2 * x2) AS sx2x2,
             SUM(x1 * x2) AS sx1x2,
             SUM(x1 * y) AS sx1y, SUM(x2 * y) AS sx2y,
             SUM(y * y) AS syy
      FROM daily WHERE y IS NOT NULL
    ),
    solved AS (
      SELECT n, sy, syy,
             (n * (sx1x1 * sx2x2 - sx1x2 * sx1x2)
              - sx1 * (sx1 * sx2x2 - sx1x2 * sx2)
              + sx2 * (sx1 * sx1x2 - sx1x1 * sx2)) AS det,
             (sy * (sx1x1 * sx2x2 - sx1x2 * sx1x2)
              - sx1 * (sx1y * sx2x2 - sx1x2 * sx2y)
              + sx2 * (sx1y * sx1x2 - sx1x1 * sx2y)) AS det_b0,
             (n * (sx1y * sx2x2 - sx1x2 * sx2y)
              - sy * (sx1 * sx2x2 - sx1x2 * sx2)
              + sx2 * (sx1 * sx2y - sx1y * sx2)) AS det_b1,
             (n * (sx1x1 * sx2y - sx1y * sx1x2)
              - sx1 * (sx1 * sx2y - sx1y * sx2)
              + sy * (sx1 * sx1x2 - sx1x1 * sx2)) AS det_b2,
             sx1y, sx2y, sx1, sx2
      FROM m
    )
    SELECT n AS n_days,
           ROUND(det_b0 / det, 6) AS b0,
           ROUND(det_b1 / det, 6) AS b1,
           ROUND(det_b2 / det, 6) AS b2,
           ROUND(1.0 - (syy - (det_b0 / det) * sy - (det_b1 / det) * sx1y
                        - (det_b2 / det) * sx2y)
                       / (syy - sy * sy / n), 6) AS r2
    FROM solved
    """,
)
def evt_ols_multifactor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-factor OLS through explicit normal equations [public
    method: multivariate regression without any BLAS — accumulate the
    nine moment sums in ONE pass and solve the 3×3 system by Cramer's
    rule; the marketing-mix workhorse (revenue ~ clicks + views) one
    rung above the single-feature regr_* family, and the pattern that
    scales to any fixed small feature count]. y is 6dp-rounded daily
    purchase revenue, x's are exact integer counts, so every moment is
    identical in both engines; R² comes from the fitted sum of squares
    identity — no residual re-scan.

    At 100 TB: ONE map-side-combinable aggregate carries all nine
    moments (constant state per partition); the solve is a 1-row
    epilogue. The same dataflow handles any regression on a bounded
    feature set; past ~20 features you switch to the iterative
    least-squares the reference architecture would hand to MLlib."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.round(
            F.sum(F.when(F.col("event_type") == "purchase", F.col("value"))), 6
        ).alias("y"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("double")
        .alias("x1"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("double")
        .alias("x2"),
    )
    m = daily.filter(F.col("y").isNotNull()).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("sx1"),
        F.sum("x2").alias("sx2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("sx1x1"),
        F.sum(F.col("x2") * F.col("x2")).alias("sx2x2"),
        F.sum(F.col("x1") * F.col("x2")).alias("sx1x2"),
        F.sum(F.col("x1") * F.col("y")).alias("sx1y"),
        F.sum(F.col("x2") * F.col("y")).alias("sx2y"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    c = F.col
    det = (
        c("n") * (c("sx1x1") * c("sx2x2") - c("sx1x2") * c("sx1x2"))
        - c("sx1") * (c("sx1") * c("sx2x2") - c("sx1x2") * c("sx2"))
        + c("sx2") * (c("sx1") * c("sx1x2") - c("sx1x1") * c("sx2"))
    )
    det_b0 = (
        c("sy") * (c("sx1x1") * c("sx2x2") - c("sx1x2") * c("sx1x2"))
        - c("sx1") * (c("sx1y") * c("sx2x2") - c("sx1x2") * c("sx2y"))
        + c("sx2") * (c("sx1y") * c("sx1x2") - c("sx1x1") * c("sx2y"))
    )
    det_b1 = (
        c("n") * (c("sx1y") * c("sx2x2") - c("sx1x2") * c("sx2y"))
        - c("sy") * (c("sx1") * c("sx2x2") - c("sx1x2") * c("sx2"))
        + c("sx2") * (c("sx1") * c("sx2y") - c("sx1y") * c("sx2"))
    )
    det_b2 = (
        c("n") * (c("sx1x1") * c("sx2y") - c("sx1y") * c("sx1x2"))
        - c("sx1") * (c("sx1") * c("sx2y") - c("sx1y") * c("sx2"))
        + c("sy") * (c("sx1") * c("sx1x2") - c("sx1x1") * c("sx2"))
    )
    b0, b1, b2 = det_b0 / det, det_b1 / det, det_b2 / det
    r2 = 1.0 - (
        c("syy") - b0 * c("sy") - b1 * c("sx1y") - b2 * c("sx2y")
    ) / (c("syy") - c("sy") * c("sy") / c("n"))
    return m.select(
        c("n").alias("n_days"),
        F.round(b0, 6).alias("b0"),
        F.round(b1, 6).alias("b1"),
        F.round(b2, 6).alias("b2"),
        F.round(r2, 6).alias("r2"),
    )


# Stationary-distribution power iterations over the transition matrix.
_STAT_ITERS = 3

# One DuckDB power step: pi_{t+1}(to) = Σ_from pi_t(from)·P(from,to),
# rounded per step so both engines iterate identical doubles.
_DUCK_POWER = """
  SELECT m.to_type AS state, ROUND(SUM(p.pi * m.p_trans), 8) AS pi
  FROM {prev} p JOIN m ON m.from_type = p.state
  GROUP BY m.to_type
"""


@register(
    "evt_markov_stationary",
    f"""
    WITH seq AS (
      SELECT user_id, event_type AS from_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id
             ) AS to_type
      FROM events
    ),
    m AS (
      SELECT from_type, to_type,
             ROUND(COUNT(*) * 1.0
                   / SUM(COUNT(*)) OVER (PARTITION BY from_type), 6) AS p_trans
      FROM seq WHERE to_type IS NOT NULL
      GROUP BY from_type, to_type
    ),
    pi0 AS (
      SELECT from_type AS state,
             ROUND(1.0 / (SELECT COUNT(DISTINCT from_type) FROM m), 8) AS pi
      FROM (SELECT DISTINCT from_type FROM m)
    ),
    pi1 AS ({_DUCK_POWER.format(prev="pi0")}),
    pi2 AS ({_DUCK_POWER.format(prev="pi1")}),
    pi3 AS ({_DUCK_POWER.format(prev="pi2")})
    SELECT p3.state,
           ROUND(p3.pi, 6) AS pi_stationary,
           ROUND(abs(p3.pi - p2.pi), 6) AS delta_last_iter
    FROM pi3 p3 JOIN pi2 p2 ON p2.state = p3.state
    ORDER BY p3.state
    """,
)
def evt_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the behavior Markov chain [public
    method: π = πP via power iteration — the equilibrium share of time
    a user's event stream spends in each state, the churn/engagement
    summary one level above evt_transition_matrix's raw probabilities].
    A FIXED {_STAT_ITERS} iterations run from the uniform vector; each
    step is a matrix-vector product expressed as a join + combinable
    sum over the |states|² matrix, ROUNDED per step (8dp) so both
    engines iterate bit-identical vectors — the llm_kmeans_lloyd
    per-round pinning rule; the last-iteration delta column reports
    convergence honestly.

    At 100 TB: the only corpus-scale work is the user-keyed sequence
    window building the matrix (the evt_transition_matrix shuffle);
    every iteration after runs on the states-dimension matrix —
    metadata-sized however large the log. PageRank is this loop with
    teleportation; the shared shape is the point."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    w_from = Window.partitionBy("event_type")
    m = (
        seq.groupBy(F.col("event_type").alias("from_type"), "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "from_type",
            "to_type",
            F.round(
                F.col("n")
                / F.sum("n").over(Window.partitionBy("from_type")),
                6,
            ).alias("p_trans"),
        )
        .transform(materialize)
    )
    states = m.select("from_type").distinct()
    n_states = states.agg(F.count(F.lit(1)).alias("n_states"))
    pi = states.crossJoin(n_states).select(
        F.col("from_type").alias("state"),
        F.round(F.lit(1.0) / F.col("n_states"), 8).alias("pi"),
    )
    for _ in range(_STAT_ITERS):
        prev = pi
        pi = (
            pi.join(m, pi.state == m.from_type)
            .groupBy(F.col("to_type").alias("new_state"))
            .agg(F.round(F.sum(F.col("pi") * F.col("p_trans")), 8).alias("new_pi"))
            .select(F.col("new_state").alias("state"), F.col("new_pi").alias("pi"))
            .transform(materialize)
        )
    p2 = prev.select(F.col("state").alias("p2_state"), F.col("pi").alias("p2_pi"))
    return (
        pi.join(p2, pi.state == p2.p2_state)
        .select(
            "state",
            F.round("pi", 6).alias("pi_stationary"),
            F.round(F.abs(F.col("pi") - F.col("p2_pi")), 6).alias(
                "delta_last_iter"
            ),
        )
        .orderBy("state")
    )


@register(
    "evt_catalog_coverage",
    """
    WITH inter AS (
      SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
             user_id, event_type
      FROM events
      WHERE json_extract_string(props, '$.k') IS NOT NULL
    ),
    per_item AS (
      SELECT item,
             COUNT(*) AS n_inter,
             COUNT(DISTINCT user_id) AS n_users,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_purchases
      FROM inter GROUP BY item
    )
    SELECT COUNT(*) AS n_items,
           CAST(SUM(CASE WHEN n_users >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_multi_user,
           CAST(SUM(CASE WHEN n_inter = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_singleton,
           CAST(SUM(CASE WHEN n_purchases = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_never_purchased,
           ROUND(SUM(CASE WHEN n_users >= 2 THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS covisitable_share,
           ROUND(AVG(n_inter), 6) AS mean_inter_per_item
    FROM per_item
    """,
)
def evt_catalog_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-coverage / cold-start audit [public practice: the
    recommender health check — what share of the item catalog has
    enough interaction signal to appear in co-visitation or
    collaborative filtering at all? Items below the 2-user line are
    invisible to evt_covisitation BY CONSTRUCTION, and this measures
    that blind spot instead of discovering it in production]. Items
    come from the props.k payload; one per-item combinable rollup
    feeds a 1-row scorecard: multi-user (covisitable) share,
    singletons, never-purchased items, and interaction depth.

    At 100 TB: two stacked map-side-combinable aggregates (item →
    scorecard) — the evt_rate_limit shape — with the JSON extraction a
    narrow map; the per-item distinct-user count is the only Expand,
    bounded by item cardinality."""
    ev = load_table(spark, sf_dir, "events")
    inter = ev.select(
        F.get_json_object("props", "$.k").cast("bigint").alias("item"),
        "user_id",
        "event_type",
    ).filter(F.col("item").isNotNull())
    per_item = inter.groupBy("item").agg(
        F.count(F.lit(1)).alias("n_inter"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "n_purchases"
        ),
    )
    multi = F.sum(F.when(F.col("n_users") >= 2, 1).otherwise(0))
    return per_item.agg(
        F.count(F.lit(1)).alias("n_items"),
        multi.alias("n_multi_user"),
        F.sum(F.when(F.col("n_inter") == 1, 1).otherwise(0)).alias("n_singleton"),
        F.sum(F.when(F.col("n_purchases") == 0, 1).otherwise(0)).alias(
            "n_never_purchased"
        ),
        F.round(multi / F.count(F.lit(1)), 6).alias("covisitable_share"),
        F.round(F.avg("n_inter"), 6).alias("mean_inter_per_item"),
    )


# SPRT design: alpha=0.05, beta=0.2 boundaries; MDE as the H1 shift.
_SPRT_UPPER = 2.772589  # ln((1-beta)/alpha)
_SPRT_LOWER = -1.558145  # ln(beta/(1-alpha))
_SPRT_DELTA = 5.0  # absolute H1 mean shift in value units


@register(
    "evt_sprt",
    f"""
    WITH daily AS (
      SELECT CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE) AS VARCHAR) AS day,
             CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day_d,
             CAST(user_id % 2 AS INT) AS arm,
             COUNT(*) AS n,
             ROUND(AVG(value), 6) AS mu,
             ROUND(var_samp(value), 6) AS v
      FROM events GROUP BY 1, 2, 3
    ),
    wide AS (
      SELECT day, day_d,
             MAX(CASE WHEN arm = 1 THEN mu END) AS mu_t,
             MAX(CASE WHEN arm = 0 THEN mu END) AS mu_c,
             MAX(CASE WHEN arm = 1 THEN n END) AS n_t,
             MAX(CASE WHEN arm = 0 THEN n END) AS n_c,
             MAX(CASE WHEN arm = 1 THEN v END) AS v_t,
             MAX(CASE WHEN arm = 0 THEN v END) AS v_c
      FROM daily GROUP BY day, day_d
      HAVING MAX(CASE WHEN arm = 1 THEN mu END) IS NOT NULL
         AND MAX(CASE WHEN arm = 0 THEN mu END) IS NOT NULL
    ),
    inc AS (
      SELECT day, day_d,
             ROUND({_SPRT_DELTA} * (2 * (mu_t - mu_c) - {_SPRT_DELTA})
                   / (2 * (v_t / n_t + v_c / n_c)), 6) AS llr_inc
      FROM wide
    ),
    walk AS (
      SELECT day, llr_inc,
             ROUND(SUM(llr_inc) OVER (ORDER BY day_d
                     ROWS UNBOUNDED PRECEDING), 6) AS llr_cum
      FROM inc
    )
    SELECT day, llr_inc, llr_cum,
           CASE WHEN llr_cum >= {_SPRT_UPPER} THEN 'accept_h1'
                WHEN llr_cum <= {_SPRT_LOWER} THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM walk
    ORDER BY day
    """,
)
def evt_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential probability ratio test trace [public method: Wald's
    SPRT — the always-valid sequential alternative to the fixed-n
    z-test: accumulate the log-likelihood ratio daily and stop the
    moment it crosses ln((1−β)/α) or ln(β/(1−α)); the trace IS what a
    live experiment dashboard draws]. Each day's increment is the
    Gaussian LLR of the observed arm-mean difference against the
    {_SPRT_DELTA}-unit H1 shift, with the day's own pooled variance —
    all from 6dp-rounded daily cells so both engines walk an
    identical path; the decision column labels each day against the
    Wald boundaries.

    At 100 TB: one combinable (day, arm) rollup is the only corpus
    pass; the walk is a cumulative window over the calendar-bounded
    day series. The odd/even assignment carries no real effect, so a
    healthy trace mostly reads 'continue' — the calibration twin of
    evt_did's bounded-|t| pin."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("day_d"),
        (F.col("user_id") % 2).cast("int").alias("arm"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 6).alias("mu"),
        F.round(F.var_samp("value"), 6).alias("v"),
    )

    def pick(col: str, arm: int):
        return F.max(F.when(F.col("arm") == arm, F.col(col)))

    wide = (
        daily.groupBy("day_d")
        .agg(
            pick("mu", 1).alias("mu_t"),
            pick("mu", 0).alias("mu_c"),
            pick("n", 1).alias("n_t"),
            pick("n", 0).alias("n_c"),
            pick("v", 1).alias("v_t"),
            pick("v", 0).alias("v_c"),
        )
        .filter(F.col("mu_t").isNotNull() & F.col("mu_c").isNotNull())
    )
    d = _SPRT_DELTA
    inc = wide.select(
        F.col("day_d"),
        F.round(
            d
            * (2 * (F.col("mu_t") - F.col("mu_c")) - d)
            / (2 * (F.col("v_t") / F.col("n_t") + F.col("v_c") / F.col("n_c"))),
            6,
        ).alias("llr_inc"),
    )
    w = Window.orderBy("day_d").rowsBetween(Window.unboundedPreceding, 0)
    walk = inc.select(
        F.col("day_d").cast("string").alias("day"),
        "llr_inc",
        F.round(F.sum("llr_inc").over(w), 6).alias("llr_cum"),
    )
    return walk.select(
        "day",
        "llr_inc",
        "llr_cum",
        F.when(F.col("llr_cum") >= _SPRT_UPPER, "accept_h1")
        .when(F.col("llr_cum") <= _SPRT_LOWER, "accept_h0")
        .otherwise("continue")
        .alias("decision"),
    ).orderBy("day")


# Week-over-week growth table [public practice: the standard
# period-over-period executive report — revenue, volume, actives per
# anchored week with absolute and percentage deltas; evt_rolling_slope
# reads the local trend, this is the discrete ratio stakeholders
# actually quote]. Weeks anchor to days-since-2024-01-01 / 7 (the
# convention-free bucket both engines share, like the dow trick);
# the first week's deltas are NULL rather than fabricated.
#
# At 100 TB: one combinable rollup to the week dimension (the only
# corpus pass — the distinct-actives Expand is bounded by user
# cardinality), then a LAG window over the calendar-bounded weekly
# series.
register_sql(
    "evt_wow_growth",
    """
    WITH weekly AS (
      SELECT CAST(floor(CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE)
                             - DATE '2024-01-01' AS INT) / 7) AS INT) AS week,
             ROUND(SUM(value), 4) AS revenue,
             COUNT(*) AS n_events,
             COUNT(DISTINCT user_id) AS active_users
      FROM {events} GROUP BY 1
    ),
    lagged AS (
      SELECT week, revenue, n_events, active_users,
             LAG(revenue) OVER (ORDER BY week) AS prev_rev
      FROM weekly
    )
    SELECT week, revenue, n_events, active_users,
           ROUND(revenue - prev_rev, 4) AS wow_delta,
           ROUND((revenue - prev_rev) / NULLIF(prev_rev, 0), 6) AS wow_pct
    FROM lagged
    ORDER BY week
    """,
)


@register(
    "evt_propensity_balance",
    """
    WITH per_user AS (
      SELECT user_id, CAST(user_id % 2 AS INT) AS arm,
             COUNT(*) AS n_events,
             ROUND(AVG(value), 6) AS mean_value,
             ROUND(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   * 1.0 / COUNT(*), 6) AS purchase_rate
      FROM events GROUP BY user_id
    ),
    long AS (
      SELECT arm, 'n_events' AS covariate, CAST(n_events AS DOUBLE) AS x FROM per_user
      UNION ALL SELECT arm, 'mean_value', mean_value FROM per_user
      UNION ALL SELECT arm, 'purchase_rate', purchase_rate FROM per_user
    ),
    stats AS (
      SELECT covariate,
             AVG(CASE WHEN arm = 1 THEN x END) AS mu_t,
             AVG(CASE WHEN arm = 0 THEN x END) AS mu_c,
             var_samp(CASE WHEN arm = 1 THEN x END) AS v_t,
             var_samp(CASE WHEN arm = 0 THEN x END) AS v_c
      FROM long GROUP BY covariate
    )
    SELECT covariate,
           ROUND(mu_t, 6) AS mean_treated,
           ROUND(mu_c, 6) AS mean_control,
           ROUND((mu_t - mu_c) / sqrt((v_t + v_c) / 2.0), 6) AS smd,
           CAST(abs((mu_t - mu_c) / sqrt((v_t + v_c) / 2.0)) > 0.1 AS INT)
             AS imbalanced
    FROM stats
    ORDER BY covariate
    """,
)
def evt_propensity_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariate balance check via standardized mean differences
    [public method: the |SMD| ≤ 0.1 rule from the propensity-score
    literature — before reading ANY experiment or quasi-experiment,
    verify the arms are exchangeable on pre-treatment covariates;
    evt_srm_check catches broken COUNTS, this catches broken
    COMPOSITION]. Per-user covariates (activity, mean value, purchase
    rate) reduce once; the per-covariate SMD = (μt−μc)/√((vt+vc)/2)
    evaluates from one combinable stats pass with the conventional
    0.1 flag.

    At 100 TB: the user rollup is the corpus pass; the long-form
    unpivot triples the USER-dimension rows only, and the stats
    aggregate carries constant moment state per covariate. The
    odd/even assignment should read balanced — the same calibrated
    null evt_did and evt_sprt pin."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("double").alias("n_events"),
        F.round(F.avg("value"), 6).alias("mean_value"),
        F.round(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("purchase_rate"),
    ).withColumn("arm", (F.col("user_id") % 2).cast("int"))
    long = reduce(
        DataFrame.unionByName,
        [
            per_user.select("arm", F.lit(cov).alias("covariate"), F.col(cov).alias("x"))
            for cov in ("n_events", "mean_value", "purchase_rate")
        ],
    )
    stats = long.groupBy("covariate").agg(
        F.avg(F.when(F.col("arm") == 1, F.col("x"))).alias("mu_t"),
        F.avg(F.when(F.col("arm") == 0, F.col("x"))).alias("mu_c"),
        F.var_samp(F.when(F.col("arm") == 1, F.col("x"))).alias("v_t"),
        F.var_samp(F.when(F.col("arm") == 0, F.col("x"))).alias("v_c"),
    )
    smd = (F.col("mu_t") - F.col("mu_c")) / F.sqrt(
        (F.col("v_t") + F.col("v_c")) / 2.0
    )
    return stats.select(
        "covariate",
        F.round("mu_t", 6).alias("mean_treated"),
        F.round("mu_c", 6).alias("mean_control"),
        F.round(smd, 6).alias("smd"),
        (F.abs(smd) > 0.1).cast("int").alias("imbalanced"),
    ).orderBy("covariate")


@register(
    "evt_feature_matrix",
    f"""
    WITH daily AS (
      SELECT user_id,
             CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE) AS VARCHAR) AS day,
             CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day_d,
             ROUND(SUM(value), 6) AS rev,
             COUNT(*) AS n_events
      FROM events GROUP BY 1, 2, 3
    )
    SELECT user_id, day, rev, n_events,
           CAST(CAST(day_d - DATE '{_DOW_ANCHOR}' AS INT) % 7 AS INT) AS dow,
           LAG(rev, 1) OVER w AS rev_lag1,
           LAG(rev, 7) OVER w AS rev_lag7,
           ROUND(AVG(rev) OVER (PARTITION BY user_id ORDER BY day_d
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS rev_ma7,
           CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY day_d
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS active_days_7
    FROM daily
    WINDOW w AS (PARTITION BY user_id ORDER BY day_d)
    ORDER BY user_id, day
    """,
)
def evt_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline feature-matrix materialization [public practice: the
    feature-store build — per (entity, as-of-day) lag, rolling, and
    calendar features computed WITHOUT leakage: every feature at row
    (u, d) reads only data at or before d, which is exactly what the
    trailing frames and LAG guarantee by construction]. Features per
    user-day: revenue, volume, anchored day-of-week, lag-1 and lag-7
    revenue, 7-day trailing mean, and trailing active-day count —
    honest NULLs where history is short instead of imputed zeros.

    At 100 TB: one combinable rollup to the (user, day) grain, then
    ONE window family partitioned by user — every feature shares the
    same shuffle; point-in-time correctness costs nothing because
    trailing frames are leakage-free by definition (the join_asof
    family handles the cross-table as-of case)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day_d")
    ).agg(
        F.round(F.sum("value"), 6).alias("rev"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w = Window.partitionBy("user_id").orderBy("day_d")
    w7 = w.rowsBetween(-6, 0)
    return (
        daily.select(
            "user_id",
            F.col("day_d").cast("string").alias("day"),
            "rev",
            "n_events",
            (F.datediff("day_d", F.to_date(F.lit(_DOW_ANCHOR))) % 7)
            .cast("int")
            .alias("dow"),
            F.lag("rev", 1).over(w).alias("rev_lag1"),
            F.lag("rev", 7).over(w).alias("rev_lag7"),
            F.round(F.avg("rev").over(w7), 6).alias("rev_ma7"),
            F.count(F.lit(1)).over(w7).alias("active_days_7"),
        )
        .orderBy("user_id", "day")
    )


@register(
    "evt_retention_grid",
    f"""
    WITH weekly AS (
      SELECT DISTINCT user_id,
             CAST(floor(CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE)
                             - DATE '{_DOW_ANCHOR}' AS INT) / 7) AS INT) AS week
      FROM events
    ),
    cohort AS (
      SELECT user_id, MIN(week) AS cohort_week FROM weekly GROUP BY user_id
    ),
    grid AS (
      SELECT c.cohort_week, w.week - c.cohort_week AS offset_weeks,
             COUNT(DISTINCT w.user_id) AS n_active
      FROM weekly w JOIN cohort c USING (user_id)
      GROUP BY 1, 2
    ),
    base AS (
      SELECT cohort_week, n_active AS cohort_size FROM grid
      WHERE offset_weeks = 0
    )
    SELECT g.cohort_week, g.offset_weeks, g.n_active, b.cohort_size,
           ROUND(g.n_active * 1.0 / b.cohort_size, 6) AS retained_share
    FROM grid g JOIN base b USING (cohort_week)
    ORDER BY g.cohort_week, g.offset_weeks
    """,
)
def evt_retention_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention triangle [public practice: THE retention
    artifact — rows are signup cohorts, columns are weeks since, cells
    are the share of the cohort still active; evt_retention's
    day-over-day rate is the diagonal reading, this is the full grid
    growth teams actually inspect]. Cohort = first active week (the
    anchored-week bucket shared with evt_wow_growth); offset 0 defines
    each cohort's base, so retained_share is 1.0 on the diagonal by
    construction — the built-in sanity the property test pins.

    At 100 TB: DISTINCT (user, week) then a user-keyed MIN — one
    co-partitioned shuffle family; the (cohort, offset) rollup and the
    base join run on the weeks² grid, calendar-bounded however large
    the log."""
    ev = load_table(spark, sf_dir, "events")
    week = F.floor(
        F.datediff(F.to_date("ts"), F.to_date(F.lit(_DOW_ANCHOR))) / 7
    ).cast("int")
    weekly = ev.select("user_id", week.alias("week")).distinct()
    cohort = weekly.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    grid = (
        weekly.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("offset_weeks"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
        .transform(materialize)
    )
    base = grid.filter(F.col("offset_weeks") == 0).select(
        "cohort_week", F.col("n_active").alias("cohort_size")
    )
    return (
        grid.join(base, "cohort_week")
        .select(
            "cohort_week",
            "offset_weeks",
            "n_active",
            "cohort_size",
            F.round(F.col("n_active") / F.col("cohort_size"), 6).alias(
                "retained_share"
            ),
        )
        .orderBy("cohort_week", "offset_weeks")
    )


# EWMA control chart: smoothing weight and control-limit width (the
# textbook (lambda, L) = (0.3, 3) operating point).
_EWMA_LAMBDA = 0.3
_EWMA_L = 3.0


@register(
    "evt_ewma_control_chart",
    f"""
    WITH daily AS (
      SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, COUNT(*) AS n
      FROM events GROUP BY 1
    ),
    idx AS (
      SELECT day, n, ROW_NUMBER() OVER (ORDER BY day) AS t,
             AVG(n * 1.0) OVER () AS center,
             STDDEV_SAMP(n * 1.0) OVER () AS sd
      FROM daily
    ),
    ew AS (
      SELECT t.day, t.t, t.n, t.center, t.sd,
             t.center * power(1 - {_EWMA_LAMBDA}, t.t)
             + SUM(i.n * {_EWMA_LAMBDA}
                   * power(1 - {_EWMA_LAMBDA}, t.t - i.t)) AS ewma
      FROM idx t JOIN idx i ON i.t <= t.t
      GROUP BY t.day, t.t, t.n, t.center, t.sd
    )
    SELECT CAST(day AS VARCHAR) AS day, CAST(n AS BIGINT) AS n_events,
           ROUND(ewma, 4) AS ewma,
           ROUND(center + {_EWMA_L} * sd
                 * sqrt({_EWMA_LAMBDA} / (2 - {_EWMA_LAMBDA})
                        * (1 - power(1 - {_EWMA_LAMBDA}, 2 * t))), 4) AS ucl,
           ROUND(center - {_EWMA_L} * sd
                 * sqrt({_EWMA_LAMBDA} / (2 - {_EWMA_LAMBDA})
                        * (1 - power(1 - {_EWMA_LAMBDA}, 2 * t))), 4) AS lcl,
           (ROUND(ewma, 4) > ROUND(center + {_EWMA_L} * sd
                 * sqrt({_EWMA_LAMBDA} / (2 - {_EWMA_LAMBDA})
                        * (1 - power(1 - {_EWMA_LAMBDA}, 2 * t))), 4)
            OR ROUND(ewma, 4) < ROUND(center - {_EWMA_L} * sd
                 * sqrt({_EWMA_LAMBDA} / (2 - {_EWMA_LAMBDA})
                        * (1 - power(1 - {_EWMA_LAMBDA}, 2 * t))), 4))
             AS out_of_control
    FROM ew
    ORDER BY day
    """,
)
def evt_ewma_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart over daily event volume [public method:
    Roberts 1959's exponentially-weighted moving-average chart, the SPC
    standard for catching small sustained shifts that Shewhart/3-sigma
    charts miss — the ops-monitoring complement to the sharp-jump
    detector (evt_cusum_changepoint) and the robust outlier screen
    (evt_anomaly_mad)]. The recursion ewma_t = λ·n_t + (1−λ)·ewma_{{t−1}}
    with the textbook initialization z₀ = center (Montgomery's chart:
    start at the process mean) is evaluated in CLOSED FORM —
    ewma_t = center·(1−λ)^t + λ·Σ_{{i≤t}} (1−λ)^(t−i)·n_i — as a
    triangular self-join over the DAY dimension, so no sequential loop
    exists anywhere. z₀ = center is what makes the finite-horizon
    variance inflation factor (1−(1−λ)^{{2t}}) in the limits EXACT
    (an x₁-initialized chart has Var(z₁) = σ², which these tighter
    early limits would over-flag at ~37% — caught in round-6 review);
    early points get proportionally tighter limits and the statistic
    to match. The out-of-control flag compares ROUNDED ewma against
    ROUNDED limits so both engines decide boundaries identically (the
    evt_benford lesson).

    At 100 TB: the only corpus-scale pass is the daily rollup
    (map-side combinable count on the day key); the triangular join
    and the single-partition window both run over the bounded DAY
    dimension (|days|² pairs ≈ 10⁵ for a year — nothing), the
    evt_pareto_share trade-off. A streaming twin is
    stream_stateful's shape: the recursion IS sequential per key, so
    at serving time you'd carry ewma in state rather than re-expand
    the closed form."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w_all = Window.partitionBy()
    idx = daily.select(
        "day",
        "n",
        F.row_number().over(Window.orderBy("day")).alias("t"),
        F.avg(F.col("n") * 1.0).over(w_all).alias("center"),
        F.stddev_samp(F.col("n") * 1.0).over(w_all).alias("sd"),
    )
    t_, i_ = idx.alias("t"), idx.alias("i")
    lam = _EWMA_LAMBDA
    weight = F.lit(lam) * F.pow(F.lit(1 - lam), F.col("t.t") - F.col("i.t"))
    ew = (
        t_.join(i_, F.col("i.t") <= F.col("t.t"))
        .groupBy(
            F.col("t.day").alias("day"),
            F.col("t.t").alias("t"),
            F.col("t.n").alias("n"),
            F.col("t.center").alias("center"),
            F.col("t.sd").alias("sd"),
        )
        .agg(F.sum(F.col("i.n") * weight).alias("wsum"))
        .withColumn(
            "ewma",
            F.col("center") * F.pow(F.lit(1 - lam), F.col("t")) + F.col("wsum"),
        )
    )
    infl = F.sqrt(
        F.lit(lam / (2 - lam))
        * (F.lit(1.0) - F.pow(F.lit(1 - lam), 2 * F.col("t")))
    )
    ucl = F.round(F.col("center") + F.lit(_EWMA_L) * F.col("sd") * infl, 4)
    lcl = F.round(F.col("center") - F.lit(_EWMA_L) * F.col("sd") * infl, 4)
    ewma_r = F.round("ewma", 4)
    return ew.select(
        F.col("day").cast("string").alias("day"),
        F.col("n").cast("bigint").alias("n_events"),
        ewma_r.alias("ewma"),
        ucl.alias("ucl"),
        lcl.alias("lcl"),
        ((ewma_r > ucl) | (ewma_r < lcl)).alias("out_of_control"),
    ).orderBy("day")


# Path analysis: n-step window and report depth.
_PATH_STEPS = 3
_PATH_TOPK = 10
# Session boundary for path stitching: 30-min inactivity gap, in epoch
# microseconds (exact-integer gap math in both engines).
_PATH_GAP_US = 30 * 60 * 1_000_000


@register(
    "evt_top_paths",
    f"""
    WITH flagged AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id,
             CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                       - epoch_us(LAG(CAST(ts AS TIMESTAMP)) OVER w)
                       > {_PATH_GAP_US} THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
    ),
    sess AS (
      SELECT user_id, event_type, ts, event_id,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sid
      FROM flagged
    ),
    seq AS (
      SELECT event_type,
             LEAD(event_type, 1) OVER w2 AS nxt1,
             LEAD(event_type, 2) OVER w2 AS nxt2
      FROM sess
      WINDOW w2 AS (PARTITION BY user_id, sid ORDER BY ts, event_id)
    ),
    paths AS (
      SELECT event_type || ' > ' || nxt1 || ' > ' || nxt2 AS path
      FROM seq WHERE nxt1 IS NOT NULL AND nxt2 IS NOT NULL
    ),
    counted AS (
      SELECT path, COUNT(*) AS n_occurrences FROM paths GROUP BY path
    )
    SELECT path, n_occurrences,
           CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, path) AS BIGINT)
             AS rank
    FROM counted
    QUALIFY rank <= {_PATH_TOPK}
    ORDER BY rank
    """,
)
def evt_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top SESSION-BOUNDED event paths [public method: n-step path/flow
    analysis — the product-analytics staple behind Sankey funnels:
    which {_PATH_STEPS}-step journeys dominate]. Unlike evt_path_topk
    (which stitches a user's whole history), paths here break at
    {_PATH_GAP_US // 60_000_000}-minute inactivity gaps — the
    win_sessionize_batch rule composed BEFORE the LEAD, so a
    Friday-night exit never chains into Monday's first click (the
    difference that matters for funnel reading). Gap math runs on
    epoch MICROseconds (Spark unix_micros == DuckDB epoch_us, exact
    integers) so second-truncation cannot diverge the break flag; all
    windows share the repo's (ts, event_id) deterministic tiebreak.

    At 100 TB: the session index reuses the SAME user_id exchange as
    the LEAD window (one shuffle serves lag, running-sum, and both
    LEADs — partitionBy(user_id, sid) is a prefix refinement); the
    gram rollup is map-side combinable on a key bounded by
    |event_types|^{_PATH_STEPS}, and the final top-k is a
    single-partition window over that bounded dimension (the
    evt_pareto_share trade-off)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    sess = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(gap_us > _PATH_GAP_US, 1).otherwise(0).alias("brk"),
    ).select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.sum("brk").over(w_run).alias("sid"),
    )
    w2 = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    seq = sess.select(
        "event_type",
        F.lead("event_type", 1).over(w2).alias("nxt1"),
        F.lead("event_type", 2).over(w2).alias("nxt2"),
    ).filter(F.col("nxt1").isNotNull() & F.col("nxt2").isNotNull())
    counted = seq.groupBy(
        F.concat_ws(" > ", "event_type", "nxt1", "nxt2").alias("path")
    ).agg(F.count(F.lit(1)).alias("n_occurrences"))
    ranked = counted.select(
        "path",
        "n_occurrences",
        F.row_number()
        .over(Window.orderBy(F.col("n_occurrences").desc(), F.col("path")))
        .cast("bigint")
        .alias("rank"),
    )
    return ranked.filter(F.col("rank") <= _PATH_TOPK).orderBy("rank")


# CUPED: days in the pre-experiment covariate window (the rest of the
# fixture's span is the experiment period).
_CUPED_PRE_DAYS = 15


@register(
    "evt_ab_cuped",
    f"""
    WITH split AS (
      SELECT CAST(MIN(CAST(ts AS TIMESTAMP)) AS DATE)
             + INTERVAL {_CUPED_PRE_DAYS} DAY AS cutoff
      FROM events
    ),
    per_user AS (
      SELECT user_id,
             COALESCE(SUM(CASE WHEN CAST(CAST(ts AS TIMESTAMP) AS DATE)
                                    < (SELECT cutoff FROM split)
                               THEN value END), 0) AS pre_value,
             COALESCE(SUM(CASE WHEN CAST(CAST(ts AS TIMESTAMP) AS DATE)
                                    >= (SELECT cutoff FROM split)
                               THEN value END), 0) AS post_value
      FROM events GROUP BY user_id
    ),
    theta AS (
      SELECT COVAR_SAMP(pre_value, post_value)
               / NULLIF(VAR_SAMP(pre_value), 0) AS th,
             AVG(pre_value) AS mu_pre
      FROM per_user
    ),
    adj AS (
      SELECT u.user_id, u.user_id % 2 AS variant, u.post_value,
             u.post_value - t.th * (u.pre_value - t.mu_pre) AS adj_value
      FROM per_user u CROSS JOIN theta t
    )
    SELECT variant,
           COUNT(*) AS n_users,
           ROUND(AVG(post_value), 4) AS mean_post,
           ROUND(AVG(adj_value), 4) AS mean_adjusted,
           ROUND(VAR_SAMP(post_value), 2) AS var_post,
           ROUND(VAR_SAMP(adj_value), 2) AS var_adjusted,
           ROUND(1 - VAR_SAMP(adj_value) / NULLIF(VAR_SAMP(post_value), 0), 4)
             AS var_reduction
    FROM adj
    GROUP BY variant
    ORDER BY variant
    """,
)
def evt_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout [public method: Deng et al.
    2013's Controlled-experiment Using Pre-Experiment Data — the
    industry-standard sensitivity boost: regress the experiment metric
    on its pre-period twin and analyze the residual, shrinking variance
    by the squared correlation without biasing the treatment effect;
    the missing member of the repo's experimentation deck beside
    evt_srm_check, evt_power_analysis, evt_sprt, evt_did and
    evt_propensity_balance]. The covariate split is DATA-DERIVED
    (min day + {_CUPED_PRE_DAYS} days — no wall clock); per-user
    pre/post sums come from ONE conditional-aggregation pass; θ =
    cov(pre, post)/var(pre) and the pre-mean ride a 1-row broadcast;
    the readout reports per-variant (deterministic user_id % 2
    assignment) adjusted means and the realized variance-reduction
    share.

    At 100 TB: one corpus-scale pass (user-keyed conditional rollup,
    map-side combinable), one 1-row global aggregate for θ (covar/var
    are combinable sufficient statistics — the agg_corr_matrix
    machinery), a broadcast attach, and a |variants|-key rollup.
    Nothing driver-side, no window at all. The pre-period must be
    frozen BEFORE assignment in production; the deterministic split
    here stands in for that freeze."""
    ev = load_table(spark, sf_dir, "events")
    cutoff = ev.agg(
        F.date_add(F.to_date(F.min("ts")), _CUPED_PRE_DAYS).alias("cutoff")
    )
    per_user = (
        ev.crossJoin(cutoff)
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(F.when(F.to_date("ts") < F.col("cutoff"), F.col("value"))),
                F.lit(0.0),
            ).alias("pre_value"),
            F.coalesce(
                F.sum(F.when(F.to_date("ts") >= F.col("cutoff"), F.col("value"))),
                F.lit(0.0),
            ).alias("post_value"),
        )
        # feeds theta AND the adjusted readout: checkpoint so the
        # docstring's "one corpus-scale pass" is literally true.
        .transform(materialize)
    )
    # NULLIF guard: a degenerate pre-period (all-equal pre sums) zeroes
    # var_samp, where Spark divides to NULL but DuckDB IEEE-divides to
    # NaN/inf — both engines must agree on NULL by construction.
    theta = per_user.agg(
        (
            F.covar_samp("pre_value", "post_value")
            / F.expr("NULLIF(var_samp(pre_value), 0)")
        ).alias("th"),
        F.avg("pre_value").alias("mu_pre"),
    )
    adj = per_user.crossJoin(theta).select(
        (F.col("user_id") % 2).alias("variant"),
        "post_value",
        (
            F.col("post_value")
            - F.col("th") * (F.col("pre_value") - F.col("mu_pre"))
        ).alias("adj_value"),
    )
    return (
        adj.groupBy("variant")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.avg("post_value"), 4).alias("mean_post"),
            F.round(F.avg("adj_value"), 4).alias("mean_adjusted"),
            F.round(F.var_samp("post_value"), 2).alias("var_post"),
            F.round(F.var_samp("adj_value"), 2).alias("var_adjusted"),
            F.round(
                F.lit(1)
                - F.var_samp("adj_value")
                / F.expr("NULLIF(var_samp(post_value), 0)"),
                4,
            ).alias("var_reduction"),
        )
        .orderBy("variant")
    )


# Poisson(1) inverse-CDF thresholds (cumulative pmf at k = 0..6; a uniform
# draw beyond the last threshold maps to weight 7). Rendered into BOTH the
# Spark and the DuckDB CASE expression from this one tuple so the literals
# are byte-identical and the replicate weights agree by construction.
_POISSON1_CDF = (
    "0.36787944117144233",
    "0.7357588823428847",
    "0.919698602928606",
    "0.9810118431238462",
    "0.9963401531726563",
    "0.9994058151824183",
    "0.9999167588507119",
)
_BOOT_REPS = 32


def _poisson1_case(u_expr: str) -> str:
    """CASE text mapping a uniform-[0,1) expression to a Poisson(1) draw."""
    clauses = " ".join(
        f"WHEN {u_expr} < {t} THEN {k}" for k, t in enumerate(_POISSON1_CDF)
    )
    return f"(CASE {clauses} ELSE 7 END)"


# Same md5-derived uniform on (user_id, replicate) in both dialects — the
# llm_dataset_mix idiom (curation.py): first 8 hex chars = 32 bits.
_BOOT_U_SPARK = (
    "(CAST(CONV(SUBSTRING(MD5(CONCAT_WS(':', CAST(user_id AS STRING),"
    " CAST(rep AS STRING))), 1, 8), 16, 10) AS DOUBLE) / 4294967296.0)"
)
_BOOT_U_DUCK = (
    "(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':' ||"
    " CAST(rep AS VARCHAR)), 1, 8)) AS BIGINT) / 4294967296.0)"
)


@register(
    "evt_bootstrap_ci",
    f"""
    WITH per_user AS (
      SELECT user_id, SUM(value) AS user_value
      FROM events GROUP BY user_id
    ),
    point AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
             AVG(user_value) AS mean_user_value
      FROM per_user
    ),
    weighted AS (
      SELECT r.rep, u.user_value,
             {_poisson1_case(_BOOT_U_DUCK)} AS w
      FROM per_user u
      CROSS JOIN (SELECT unnest(generate_series(0, {_BOOT_REPS - 1})) AS rep) r
    ),
    boot AS (
      SELECT rep, SUM(w * user_value) / SUM(w) AS est
      FROM weighted GROUP BY rep
    ),
    ci AS (
      SELECT quantile_cont(est, 0.025) AS ci_lo_raw,
             quantile_cont(est, 0.975) AS ci_hi_raw,
             STDDEV_SAMP(est) AS se_raw,
             CAST(COUNT(*) AS BIGINT) AS n_replicates
      FROM boot
    )
    SELECT p.n_users,
           ROUND(p.mean_user_value, 4) AS mean_user_value,
           ROUND(c.ci_lo_raw, 4) AS ci_lo,
           ROUND(c.ci_hi_raw, 4) AS ci_hi,
           ROUND(c.se_raw, 4) AS se_boot,
           c.n_replicates
    FROM point p CROSS JOIN ci c
    """,
)
def evt_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval [public method: Chamandy et
    al. 2012, "Estimating uncertainty for massive data streams" — the
    standard way to put an error bar on a statistic at cluster scale:
    instead of resampling n rows WITH replacement (which needs global
    coordination), each unit draws an independent Poisson(1) replicate
    weight, which converges to multinomial resampling as n grows]. Units
    are per-user revenue totals; each of {_BOOT_REPS} replicates reweights
    every user by a DETERMINISTIC md5-derived Poisson(1) draw keyed on
    (user_id, replicate) — both engines render the same inverse-CDF CASE
    from one literal table, so weights agree by construction. The readout
    is the point estimate plus the 2.5/97.5 percentile interval and the
    bootstrap standard error across replicates.

    At 100 TB: one corpus-scale user-keyed rollup, then the replicate
    dimension multiplies the USER table (already reduced) by
    {_BOOT_REPS} — map-side combinable straight to {_BOOT_REPS} rows. No
    resampling shuffle, no driver-side randomness, rerun-stable. In
    production the per-(unit, replicate) weights fold into a single pass
    with an array column; the explicit replicate rows here keep the
    oracle twin exact."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.sum("value").alias("user_value"))
    point = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.avg("user_value").alias("mean_user_value"),
    )
    weighted = per_user.select(
        "user_id",
        "user_value",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_REPS - 1))).alias("rep"),
    ).select(
        "user_value",
        "rep",
        F.expr(_poisson1_case(_BOOT_U_SPARK)).alias("w"),
    )
    boot = weighted.groupBy("rep").agg(
        (F.sum(F.col("w") * F.col("user_value")) / F.sum("w")).alias("est")
    )
    ci = boot.agg(
        F.expr("percentile(est, 0.025)").alias("ci_lo_raw"),
        F.expr("percentile(est, 0.975)").alias("ci_hi_raw"),
        F.stddev_samp("est").alias("se_raw"),
        F.count(F.lit(1)).cast("bigint").alias("n_replicates"),
    )
    return point.crossJoin(F.broadcast(ci)).select(
        "n_users",
        F.round("mean_user_value", 4).alias("mean_user_value"),
        F.round("ci_lo_raw", 4).alias("ci_lo"),
        F.round("ci_hi_raw", 4).alias("ci_hi"),
        F.round("se_raw", 4).alias("se_boot"),
        "n_replicates",
    )


# Asymptotic Kolmogorov p-value Q(lam) = 2·Σ_{k=1..5} (-1)^{k-1}·exp(-2k²lam²),
# truncated at k=5 (terms beyond are < 1e-40 for any lam the test reports) —
# one literal expression shared by both engines.
_KS_P_EXPR = (
    "LEAST(1.0, GREATEST(0.0, 2 * ("
    "EXP(-2 * lam * lam) - EXP(-8 * lam * lam) + EXP(-18 * lam * lam)"
    " - EXP(-32 * lam * lam) + EXP(-50 * lam * lam))))"
)


@register(
    "evt_ks_test",
    f"""
    WITH t AS (
      SELECT value AS v,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_a
      FROM events WHERE value IS NOT NULL
    ),
    per_v AS (
      SELECT v, SUM(is_a) AS ca, SUM(1 - is_a) AS cb FROM t GROUP BY v
    ),
    tot AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
      FROM per_v
    ),
    cum AS (
      SELECT SUM(ca) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
             SUM(cb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b
      FROM per_v
    ),
    dmax AS (
      SELECT MAX(ABS(CAST(cum_a AS DOUBLE) / NULLIF(t.na, 0)
                     - CAST(cum_b AS DOUBLE) / NULLIF(t.nb, 0))) AS d
      FROM cum CROSS JOIN tot t
    ),
    lamt AS (
      SELECT t.na AS n_a, t.nb AS n_b, d.d AS d,
             SQRT(CAST(t.na AS DOUBLE) * t.nb / (t.na + t.nb)) * d.d AS lam
      FROM tot t CROSS JOIN dmax d
    )
    SELECT n_a, n_b, ROUND(d, 6) AS d_stat, ROUND({_KS_P_EXPR}, 6) AS p_value
    FROM lamt
    """,
)
def evt_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test [public method: the classic
    nonparametric whole-distribution comparison — D = sup |ECDF_a −
    ECDF_b| with the asymptotic Kolmogorov p-value; the
    distribution-level complement to the repo's mean-level readouts
    (evt_ab_lift/evt_ab_cuped) and the drift detectors
    (llm_corpus_drift, evt_cusum_changepoint)]. Cohort A = purchase
    events' value, cohort B = everything else. The corpus collapses to
    per-DISTINCT-value counts per cohort; both ECDFs are running sums
    over that value dimension, D is the max gap, and the p-value is the
    k≤5-truncated Kolmogorov series rendered from ONE literal expression
    in both engines (cumulative counts are exact integers, so D agrees
    exactly; only exp() is engine math, absorbed by round-6).

    At 100 TB: one map-side-combinable rollup to the distinct-value
    dimension, then windows over THAT dimension only (the
    evt_pareto_share trade-off: fixture prices are 2-decimal so the
    dimension is bounded; for a truly continuous metric, pre-bucket to a
    fixed grid or approx-quantile sketch first — D error is bounded by
    grid resolution). The totals ride a 1-row broadcast; nothing
    driver-side."""
    ev = load_table(spark, sf_dir, "events")
    # value IS NOT NULL before ranking: a NULL metric would land NULLS
    # FIRST in Spark's rank window but NULLS LAST in DuckDB's — the
    # latent cross-engine hazard ADVICE r10 flagged; rank tests drop
    # missing metrics by definition.
    tagged = ev.filter(F.col("value").isNotNull()).select(
        F.col("value").alias("v"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("is_a"),
    )
    per_v = tagged.groupBy("v").agg(
        F.sum("is_a").alias("ca"), F.sum(F.lit(1) - F.col("is_a")).alias("cb")
    )
    tot = per_v.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = per_v.select(
        F.sum("ca").over(w).alias("cum_a"), F.sum("cb").over(w).alias("cum_b")
    )
    # NULLIF guard on the cohort sizes: an empty cohort makes Spark's
    # division NULL but DuckDB's IEEE double division inf — the
    # evt_survival divergence class; both must agree on NULL.
    dmax = cum.crossJoin(tot).agg(
        F.max(
            F.abs(
                F.col("cum_a").cast("double") / F.expr("NULLIF(na, 0)")
                - F.col("cum_b").cast("double") / F.expr("NULLIF(nb, 0)")
            )
        ).alias("d")
    )
    lamt = tot.crossJoin(dmax).select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        "d",
        (
            F.sqrt(F.col("na").cast("double") * F.col("nb") / (F.col("na") + F.col("nb")))
            * F.col("d")
        ).alias("lam"),
    )
    return lamt.select(
        "n_a",
        "n_b",
        F.round("d", 6).alias("d_stat"),
        F.round(F.expr(_KS_P_EXPR), 6).alias("p_value"),
    )


# Two-sided normal tail from |z| — Abramowitz & Stegun 26.2.17 (|err| <
# 7.5e-8), one literal expression shared by both engines (neither Spark
# SQL nor DuckDB ships erf); expects columns z and tt = 1/(1+0.2316419|z|).
_NORM_P2_EXPR = (
    "LEAST(1.0, 2 * (EXP(-ABS(z) * ABS(z) / 2) / 2.5066282746310002) * ("
    "0.319381530 * tt - 0.356563782 * POWER(tt, 2) + 1.781477937 * POWER(tt, 3)"
    " - 1.821255978 * POWER(tt, 4) + 1.330274429 * POWER(tt, 5)))"
)


@register(
    "evt_mann_whitney",
    f"""
    WITH t AS (
      SELECT value AS v,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_a
      FROM events WHERE value IS NOT NULL
    ),
    per_v AS (
      SELECT v, SUM(is_a) AS ca, SUM(1 - is_a) AS cb,
             SUM(is_a) + SUM(1 - is_a) AS tie
      FROM t GROUP BY v
    ),
    ranked AS (
      SELECT ca, tie,
             COALESCE(SUM(tie) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + (tie + 1) / 2.0 AS avg_rank
      FROM per_v
    ),
    s AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS na,
             CAST(SUM(tie - ca) AS BIGINT) AS nb,
             SUM(ca * avg_rank) AS ra,
             SUM(CAST(tie AS DOUBLE) * tie * tie - tie) AS tie3
      FROM ranked
    ),
    u AS (
      SELECT na, nb, ra - na * (na + 1) / 2.0 AS u_a,
             na * CAST(nb AS DOUBLE) / 2 AS mu,
             SQRT(na * CAST(nb AS DOUBLE) / 12.0
                  * ((na + nb + 1)
                     - tie3 / (CAST(na + nb AS DOUBLE) * (na + nb - 1))))
               AS sigma
      FROM s
    ),
    zt AS (
      SELECT na, nb, u_a, (u_a - mu) / NULLIF(sigma, 0) AS z FROM u
    ),
    ztt AS (
      SELECT na, nb, u_a, z, 1 / (1 + 0.2316419 * ABS(z)) AS tt FROM zt
    )
    SELECT na AS n_a, nb AS n_b, ROUND(u_a, 1) AS u_stat,
           ROUND(z, 6) AS z_score, ROUND({_NORM_P2_EXPR}, 6) AS p_value
    FROM ztt
    """,
)
def evt_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) test [public method: the
    nonparametric location test — does one cohort's metric stochastically
    dominate the other's — robust to the heavy tails that break the
    t-test on revenue data; the rank-based companion to evt_ks_test's
    whole-distribution D]. Same cohorts (purchase vs rest). The corpus
    collapses to per-distinct-value cohort counts; midranks come from
    the prefix sum over that value dimension ((cum-before) + (ties+1)/2
    — the textbook tied-rank rule), U from the rank sum, and the normal
    approximation applies the full tie-corrected variance. The two-sided
    p-value renders from ONE shared literal (A&S 26.2.17 — neither
    engine ships erf), so both engines agree by construction. Every
    accumulated term is an exact multiple of 0.5 far below 2^52, so the
    rank sum is EXACT in IEEE double regardless of partition order —
    no summation-order flake by design.

    At 100 TB: identical shape to evt_ks_test — one map-side-combinable
    rollup to the distinct-value dimension, windows over that dimension
    only, then a 1-row reduction; pre-bucket a continuous metric to a
    fixed grid first (midranks within a bucket collapse to the bucket
    midrank, exactly the tie rule)."""
    ev = load_table(spark, sf_dir, "events")
    # value IS NOT NULL before ranking: a NULL metric would land NULLS
    # FIRST in Spark's rank window but NULLS LAST in DuckDB's — the
    # latent cross-engine hazard ADVICE r10 flagged; rank tests drop
    # missing metrics by definition.
    tagged = ev.filter(F.col("value").isNotNull()).select(
        F.col("value").alias("v"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("is_a"),
    )
    per_v = tagged.groupBy("v").agg(
        F.sum("is_a").alias("ca"),
        F.count(F.lit(1)).alias("tie"),
    ).select("v", "ca", "tie")
    ranked = per_v.select("ca", "tie", midrank("tie", "v").alias("avg_rank"))
    s = ranked.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum(F.col("tie") - F.col("ca")).cast("bigint").alias("nb"),
        F.sum(F.col("ca") * F.col("avg_rank")).alias("ra"),
        F.sum(
            F.col("tie").cast("double") * F.col("tie") * F.col("tie")
            - F.col("tie")
        ).alias("tie3"),
    )
    u = s.select(
        "na",
        "nb",
        (F.col("ra") - F.col("na") * (F.col("na") + 1) / 2.0).alias("u_a"),
        (F.col("na") * F.col("nb").cast("double") / 2).alias("mu"),
        F.sqrt(
            F.col("na") * F.col("nb").cast("double") / 12.0
            * (
                (F.col("na") + F.col("nb") + 1)
                - F.col("tie3")
                / (
                    (F.col("na") + F.col("nb")).cast("double")
                    * (F.col("na") + F.col("nb") - 1)
                )
            )
        ).alias("sigma"),
    )
    # NULLIF guard: sigma = 0 (empty arm or a fully-tied sample) must be
    # NULL in both engines, not DuckDB's IEEE NaN/inf.
    zt = u.select(
        "na",
        "nb",
        "u_a",
        ((F.col("u_a") - F.col("mu")) / F.expr("NULLIF(sigma, 0)")).alias("z"),
    )
    ztt = zt.select(
        "na", "nb", "u_a", "z",
        (F.lit(1) / (F.lit(1) + 0.2316419 * F.abs("z"))).alias("tt"),
    )
    return ztt.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.round("u_a", 1).alias("u_stat"),
        F.round("z", 6).alias("z_score"),
        F.round(F.expr(_NORM_P2_EXPR), 6).alias("p_value"),
    )


@register(
    "evt_chi2_cramers",
    f"""
    WITH x AS (
      SELECT event_type,
             CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE)
                  - DATE '{_DOW_ANCHOR}' AS INT) % 7 AS dow
      FROM events
    ),
    obs AS (
      SELECT event_type, dow, COUNT(*) AS o FROM x GROUP BY event_type, dow
    ),
    rt AS (SELECT event_type, SUM(o) AS r_tot FROM obs GROUP BY event_type),
    ct AS (SELECT dow, SUM(o) AS c_tot FROM obs GROUP BY dow),
    n AS (SELECT SUM(o) AS n FROM obs),
    grid AS (
      SELECT rt.event_type, ct.dow,
             COALESCE(obs.o, 0) AS o,
             rt.r_tot * CAST(ct.c_tot AS DOUBLE) / n.n AS e
      FROM rt CROSS JOIN ct CROSS JOIN n
      LEFT JOIN obs ON obs.event_type = rt.event_type AND obs.dow = ct.dow
    ),
    stat AS (
      SELECT SUM((o - e) * (o - e) / e) AS chi2,
             CAST(COUNT(DISTINCT event_type) AS BIGINT) AS r_levels,
             CAST(COUNT(DISTINCT dow) AS BIGINT) AS c_levels
      FROM grid
    )
    SELECT (SELECT CAST(n AS BIGINT) FROM n) AS n,
           r_levels, c_levels,
           ROUND(chi2, 4) AS chi2,
           (r_levels - 1) * (c_levels - 1) AS dof,
           ROUND(SQRT(chi2 / ((SELECT n FROM n)
                              * LEAST(r_levels - 1, c_levels - 1))), 6)
             AS cramers_v
    FROM stat
    """,
)
def evt_chi2_cramers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence + Cramér's V [public method: the
    contingency-table workhorse — is event mix independent of day of
    week — with the effect size (V) that stays comparable across table
    sizes; the categorical companion to evt_anova_dow's continuous
    readout]. The corpus collapses once to (event_type, dow) counts
    (dow via the repo's days-since-anchor convention); the COMPLETE
    r×c grid rebuilds from the two marginals (zero cells still
    contribute their expectation — the llm_corpus_drift grid trick);
    chi2, dof and V are a 1-row reduction. No p-value by design: the
    chi-square CDF needs the regularized incomplete gamma, which
    neither engine ships — chi2 vs dof and V are the decision-grade
    numbers (V > 0.1 = weak association, > 0.3 = moderate).

    At 100 TB: one map-side-combinable rollup to a ≤|event_types|×7
    key, then everything lives on that bounded grid — broadcast
    marginal cross joins, audited intentional, never corpus×corpus.
    Scan prunes to two columns; scan-bound like evt_heatmap_dow_hour."""
    ev = load_table(spark, sf_dir, "events")
    x = ev.select(
        "event_type",
        (F.datediff(F.to_date("ts"), F.to_date(F.lit(_DOW_ANCHOR))) % 7).alias(
            "dow"
        ),
    )
    obs = x.groupBy("event_type", "dow").agg(F.count(F.lit(1)).alias("o"))
    rt = obs.groupBy("event_type").agg(F.sum("o").alias("r_tot"))
    ct = obs.groupBy("dow").agg(F.sum("o").alias("c_tot"))
    n = obs.agg(F.sum("o").alias("n"))
    grid = (
        rt.crossJoin(ct)
        .crossJoin(n)
        .join(obs, ["event_type", "dow"], "left")
        .select(
            "event_type",
            "dow",
            F.coalesce("o", F.lit(0)).alias("o"),
            (F.col("r_tot") * F.col("c_tot").cast("double") / F.col("n")).alias(
                "e"
            ),
        )
    )
    stat = grid.agg(
        F.sum((F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")).alias(
            "chi2"
        ),
        F.countDistinct("event_type").cast("bigint").alias("r_levels"),
        F.countDistinct("dow").cast("bigint").alias("c_levels"),
    )
    return stat.crossJoin(n).select(
        F.col("n").cast("bigint").alias("n"),
        "r_levels",
        "c_levels",
        F.round("chi2", 4).alias("chi2"),
        ((F.col("r_levels") - 1) * (F.col("c_levels") - 1)).alias("dof"),
        F.round(
            F.sqrt(
                F.col("chi2")
                / (F.col("n") * F.least(F.col("r_levels") - 1, F.col("c_levels") - 1))
            ),
            6,
        ).alias("cramers_v"),
    )


# ---------------------------------------------------------------------------
# Bayesian A/B readout (Beta posterior, deterministic grid quadrature)
# ---------------------------------------------------------------------------

_BAYES_GRID = 256  # midpoint-rule quadrature points over (0, 1)
_BAYES_CONV_VALUE = 150.0  # same conversion event as evt_ab_lift


@register(
    "evt_bayes_ab",
    f"""
    WITH conv AS (
      SELECT user_id % 2 AS variant,
             MAX(CASE WHEN value > {_BAYES_CONV_VALUE} THEN 1 ELSE 0 END)
               AS converted
      FROM events GROUP BY user_id
    ),
    counts AS (
      SELECT
        CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        CAST(SUM(CASE WHEN variant = 0 THEN converted ELSE 0 END) AS BIGINT) AS conv_a,
        CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        CAST(SUM(CASE WHEN variant = 1 THEN converted ELSE 0 END) AS BIGINT) AS conv_b
      FROM conv
    ),
    grid AS (
      SELECT c.*, (g.i + 0.5) / {_BAYES_GRID} AS x,
             c.conv_a * ln((g.i + 0.5) / {_BAYES_GRID})
               + (c.n_a - c.conv_a) * ln(1 - (g.i + 0.5) / {_BAYES_GRID}) AS lwa,
             c.conv_b * ln((g.i + 0.5) / {_BAYES_GRID})
               + (c.n_b - c.conv_b) * ln(1 - (g.i + 0.5) / {_BAYES_GRID}) AS lwb,
             g.i
      FROM counts c
      CROSS JOIN (SELECT unnest(generate_series(0, {_BAYES_GRID - 1})) AS i) g
    ),
    mx AS (SELECT MAX(lwa) AS ma, MAX(lwb) AS mb FROM grid),
    w AS (
      SELECT g.i, g.x, g.n_a, g.conv_a, g.n_b, g.conv_b,
             exp(g.lwa - m.ma) AS wa, exp(g.lwb - m.mb) AS wb
      FROM grid g CROSS JOIN mx m
    ),
    cum AS (
      SELECT *,
             COALESCE(SUM(wa) OVER (ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cuma
      FROM w
    )
    SELECT n_a, conv_a, n_b, conv_b,
           ROUND(conv_a * 1.0 / n_a, 6) AS rate_a,
           ROUND(conv_b * 1.0 / n_b, 6) AS rate_b,
           ROUND(SUM(wb * (cuma + 0.5 * wa)) / (SUM(wa) * SUM(wb)), 5)
             AS prob_b_beats_a,
           ROUND(SUM(x * wb) / SUM(wb) - SUM(x * wa) / SUM(wa), 5)
             AS expected_lift
    FROM cum
    GROUP BY n_a, conv_a, n_b, conv_b
    """,
)
def evt_bayes_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian A/B readout [public method: Beta-Bernoulli conjugate
    analysis — with a Beta(1,1) prior the posterior over each arm's
    conversion rate is Beta(conv+1, n-conv+1); P(B > A) and the
    expected lift are posterior integrals]. No closed form is needed
    and no sampling is used: both integrals are evaluated by a
    DETERMINISTIC {_BAYES_GRID}-point midpoint quadrature — posterior
    kernels in log space (exp would underflow at x^conv with thousands
    of conversions), max-shifted, self-normalized by the grid sums (so
    the Beta normalizing constant, which Spark SQL lacks as a builtin,
    cancels), and P(B > A) = sum_j wb_j * (cum_a(<j) + wa_j / 2)
    via one running sum over the shared grid (the j/2 term handles the
    equal-gridpoint diagonal).

    Probability outputs round at 5 decimals: they aggregate ~2^8
    exp/ln terms whose last-ULP placement may differ across libm
    implementations; 1e-5 is far above that noise floor while the
    repo's usual 1e-6 is not guaranteed to be.

    At 100 TB: the event log collapses to per-user conversion flags in
    one map-side-combinable agg, then to a 1-row count vector; the
    quadrature is a fixed {_BAYES_GRID}-row epilogue (a broadcast
    cross join against the 1-row counts and one bounded window) — the
    posterior math costs the same at any data scale."""
    ev = load_table(spark, sf_dir, "events")
    conv = ev.groupBy("user_id").agg(
        (F.col("user_id") % 2).alias("variant"),
        F.max((F.col("value") > _BAYES_CONV_VALUE).cast("int")).alias(
            "converted"
        ),
    )
    counts = conv.agg(
        F.sum((F.col("variant") == 0).cast("int")).alias("n_a"),
        F.sum(F.when(F.col("variant") == 0, F.col("converted")).otherwise(0)).alias("conv_a"),
        F.sum((F.col("variant") == 1).cast("int")).alias("n_b"),
        F.sum(F.when(F.col("variant") == 1, F.col("converted")).otherwise(0)).alias("conv_b"),
    )
    x = (F.col("i") + 0.5) / _BAYES_GRID
    grid = counts.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(_BAYES_GRID - 1))).alias("i")
    ).select(
        "*",
        x.alias("x"),
        (F.col("conv_a") * F.log(x) + (F.col("n_a") - F.col("conv_a")) * F.log(1 - x)).alias("lwa"),
        (F.col("conv_b") * F.log(x) + (F.col("n_b") - F.col("conv_b")) * F.log(1 - x)).alias("lwb"),
    )
    # Bounded epilogue: the max-shift and the running sum are global
    # windows over the fixed 256-row grid (single partition by design —
    # the grid never grows with data, and a second aggregate branch
    # would re-scan the event log for a 1-row max).
    all_win = Window.partitionBy(F.lit(1))
    w = grid.select(
        "i", "x", "n_a", "conv_a", "n_b", "conv_b",
        F.exp(F.col("lwa") - F.max("lwa").over(all_win)).alias("wa"),
        F.exp(F.col("lwb") - F.max("lwb").over(all_win)).alias("wb"),
    )
    cum_win = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, -1)
    cum = w.withColumn("cuma", F.coalesce(F.sum("wa").over(cum_win), F.lit(0.0)))
    return cum.groupBy("n_a", "conv_a", "n_b", "conv_b").agg(
        F.round(F.max(F.col("conv_a") / F.col("n_a")), 6).alias("rate_a"),
        F.round(F.max(F.col("conv_b") / F.col("n_b")), 6).alias("rate_b"),
        F.round(
            F.sum(F.col("wb") * (F.col("cuma") + 0.5 * F.col("wa")))
            / (F.sum("wa") * F.sum("wb")),
            5,
        ).alias("prob_b_beats_a"),
        F.round(
            F.sum(F.col("x") * F.col("wb")) / F.sum("wb")
            - F.sum(F.col("x") * F.col("wa")) / F.sum("wa"),
            5,
        ).alias("expected_lift"),
    ).select(
        "n_a", "conv_a", "n_b", "conv_b",
        "rate_a", "rate_b", "prob_b_beats_a", "expected_lift",
    )


# ---------------------------------------------------------------------------
# Funnel step-latency distribution (time-to-convert percentiles)
# ---------------------------------------------------------------------------


@register(
    "evt_funnel_latency",
    """
    WITH v AS (
      SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t0
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT v.user_id, v.t0, MIN(CAST(e.ts AS TIMESTAMP)) AS t1
      FROM v JOIN events e
        ON e.user_id = v.user_id AND e.event_type = 'click'
       AND CAST(e.ts AS TIMESTAMP) > v.t0
      GROUP BY v.user_id, v.t0
    ),
    p AS (
      SELECT c.user_id, c.t1, MIN(CAST(e.ts AS TIMESTAMP)) AS t2
      FROM c JOIN events e
        ON e.user_id = c.user_id AND e.event_type = 'purchase'
       AND CAST(e.ts AS TIMESTAMP) > c.t1
      GROUP BY c.user_id, c.t1
    ),
    gaps AS (
      SELECT 'view_to_click' AS step, user_id,
             (epoch_us(t1) - epoch_us(t0)) / 1000000.0 AS gap_s
      FROM c
      UNION ALL
      SELECT 'click_to_purchase', user_id,
             (epoch_us(t2) - epoch_us(t1)) / 1000000.0
      FROM p
    )
    SELECT step, COUNT(*) AS n_users,
           ROUND(quantile_cont(gap_s, 0.5), 4) AS p50_s,
           ROUND(quantile_cont(gap_s, 0.9), 4) AS p90_s,
           ROUND(AVG(gap_s), 4) AS mean_s,
           ROUND(MAX(gap_s), 4) AS max_s
    FROM gaps GROUP BY step
    ORDER BY step
    """,
)
def evt_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution per funnel step [public method: the
    step-latency report paired with every conversion funnel — counts
    say WHERE users drop, latency percentiles say how long the healthy
    path takes and set the sessionization / retargeting windows].
    Same strictly-ordered first-occurrence chain as evt_funnel_steps
    (each step's MIN timestamp must follow the previous step's), then
    exact p50/p90/mean/max of the step gaps in seconds.

    At 100 TB: the step chain is the evt_funnel_steps shape — one
    user-keyed shuffle family, frames only shrink. The percentile is
    exact (two-row result per step; percentile state is per-step
    sorted gaps) — at extreme cardinality swap percentile for
    percentile_approx and the plan is otherwise unchanged; the exact
    form is kept here because the oracle pins interpolation
    semantics cross-engine."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.col("ts").cast("timestamp").alias("ts")
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    c = (
        v.join(ev.filter(F.col("event_type") == "click"), "user_id")
        .filter(F.col("ts") > F.col("t0"))
        .groupBy("user_id", "t0")
        .agg(F.min("ts").alias("t1"))
    )
    p = (
        c.select("user_id", "t1")
        .join(ev.filter(F.col("event_type") == "purchase"), "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id", "t1")
        .agg(F.min("ts").alias("t2"))
    )
    # Exact-micros convention (unix_micros == DuckDB epoch_us): the gap
    # derives from an exact integer difference, THEN one double division
    # — identical in both engines. Casting each timestamp to double
    # first would round each endpoint independently (~1.2e-7 s ULP at
    # epoch scale) and can flip a ROUND(..., 4) half-boundary.
    gap = lambda a, b: (  # noqa: E731
        (F.unix_micros(F.col(b)) - F.unix_micros(F.col(a))) / 1000000.0
    )
    gaps = c.select(
        F.lit("view_to_click").alias("step"),
        "user_id",
        gap("t0", "t1").alias("gap_s"),
    ).unionAll(
        p.select(
            F.lit("click_to_purchase").alias("step"),
            "user_id",
            gap("t1", "t2").alias("gap_s"),
        )
    )
    return (
        gaps.groupBy("step")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.expr("percentile(gap_s, 0.5)"), 4).alias("p50_s"),
            F.round(F.expr("percentile(gap_s, 0.9)"), 4).alias("p90_s"),
            F.round(F.avg("gap_s"), 4).alias("mean_s"),
            F.round(F.max("gap_s"), 4).alias("max_s"),
        )
        .orderBy("step")
    )


# ---------------------------------------------------------------------------
# Retention decay-curve fit (power-law over day-k retention)
# ---------------------------------------------------------------------------

_RETFIT_MAX_K = 14


@register(
    "evt_retention_fit",
    f"""
    WITH days AS (
      SELECT DISTINCT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS d
      FROM events
    ),
    cohort AS (
      SELECT user_id, MIN(d) AS d0 FROM days GROUP BY user_id
    ),
    c0 AS (
      SELECT user_id, d0 FROM cohort
      WHERE d0 = (SELECT MIN(d0) FROM cohort)
    ),
    n0 AS (SELECT COUNT(*) AS cohort_n FROM c0),
    ret AS (
      SELECT k.k, COUNT(DISTINCT c.user_id) AS n_retained
      FROM (SELECT unnest(generate_series(1, {_RETFIT_MAX_K})) AS k) k
      LEFT JOIN c0 c ON TRUE
      JOIN days d ON d.user_id = c.user_id
       AND d.d = c.d0 + to_days(CAST(k.k AS INTEGER))
      GROUP BY k.k
    ),
    pts AS (
      SELECT k, n_retained,
             ln(CAST(k AS DOUBLE)) AS x,
             ln(n_retained * 1.0 / (SELECT cohort_n FROM n0)) AS y
      FROM ret WHERE n_retained > 0
    ),
    fit AS (
      SELECT (SUM(x * y) - SUM(x) * SUM(y) / COUNT(*))
             / (SUM(x * x) - SUM(x) * SUM(x) / COUNT(*)) AS slope,
             SUM(y) / COUNT(*) AS ybar, SUM(x) / COUNT(*) AS xbar
      FROM pts
    )
    SELECT p.k AS day_k, p.n_retained,
           (SELECT cohort_n FROM n0) AS cohort_n,
           ROUND(p.n_retained * 1.0 / (SELECT cohort_n FROM n0), 6) AS rate,
           ROUND(-f.slope, 6) AS decay_b,
           ROUND(exp(f.ybar - f.slope * f.xbar), 6) AS level_c
    FROM pts p CROSS JOIN fit f
    ORDER BY p.k
    """,
)
def evt_retention_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention decay-curve fit [public method: day-k retention is
    famously well described by a shifted power law r(k) ≈ c·k^(-b)
    (the "retention curve" of growth accounting); b is THE comparable
    health number across products/cohorts and extrapolates the curve
    beyond the observed window]. The first-activity cohort's day-k
    retention rates (k = 1..{_RETFIT_MAX_K}) are fit by log-log OLS
    through the explicit normal-equation sums (the evt_ols_multifactor
    discipline — no BLAS, engine-exact sufficient statistics), and
    every per-k row carries the observed rate next to the fitted
    (b, c) so curve and fit ship together.

    At 100 TB: the (user, day) distinct set is the only corpus-scale
    rollup (map-side combinable); the cohort anchor is a 1-row min;
    day-k membership is a user-keyed join against a {_RETFIT_MAX_K}-row
    broadcast grid; the OLS runs on ≤{_RETFIT_MAX_K} points."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.date_trunc("day", F.col("ts").cast("timestamp")).alias("d")
    ).distinct()
    cohort = days.groupBy("user_id").agg(F.min("d").alias("d0"))
    dmin = cohort.agg(F.min("d0").alias("dmin"))
    c0 = cohort.join(dmin, F.col("d0") == F.col("dmin")).select(
        "user_id", "d0"
    )
    n0 = c0.agg(F.count(F.lit(1)).alias("cohort_n"))
    grid = spark.range(1, _RETFIT_MAX_K + 1).select(F.col("id").cast("int").alias("k"))
    # c0 derives from days, so an unaliased self-join predicate resolves both
    # user_id refs to the same attribute (Spark warns and auto-rewrites);
    # explicit aliases make the equi-key unambiguous by construction.
    dd = days.alias("dd")
    cc = c0.alias("cc")
    ret = (
        cc.crossJoin(F.broadcast(grid))
        .join(
            dd,
            (F.col("dd.user_id") == F.col("cc.user_id"))
            & (F.col("dd.d") == F.col("cc.d0") + F.make_dt_interval(F.col("k"))),
        )
        .groupBy("k")
        .agg(F.countDistinct(F.col("cc.user_id")).alias("n_retained"))
    )
    pts = (
        ret.filter(F.col("n_retained") > 0)
        .crossJoin(n0)
        .select(
            "k",
            "n_retained",
            "cohort_n",
            F.log(F.col("k").cast("double")).alias("x"),
            F.log(F.col("n_retained") / F.col("cohort_n")).alias("y"),
        )
    )
    fit = pts.agg(
        (
            (F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y") / F.count(F.lit(1)))
            / (F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x") / F.count(F.lit(1)))
        ).alias("slope"),
        (F.sum("y") / F.count(F.lit(1))).alias("ybar"),
        (F.sum("x") / F.count(F.lit(1))).alias("xbar"),
    )
    return (
        pts.crossJoin(fit)
        .select(
            F.col("k").alias("day_k"),
            "n_retained",
            "cohort_n",
            F.round(F.col("n_retained") / F.col("cohort_n"), 6).alias("rate"),
            F.round(-F.col("slope"), 6).alias("decay_b"),
            F.round(F.exp(F.col("ybar") - F.col("slope") * F.col("xbar")), 6).alias(
                "level_c"
            ),
        )
        .orderBy("day_k")
    )


# PACF depth: Durbin-Levinson unrolled to lag 4 (the AR-order
# identification depth a daily series with ~30 points supports).
_PACF_LAGS = 4


def _pacf_oracle() -> str:
    from hive_test_spark.registry import ORACLES

    return f"""
    WITH base AS ({ORACLES["evt_acf"]}),
    w AS (
      SELECT MAX(CASE WHEN lag = 1 THEN acf END) AS r1,
             MAX(CASE WHEN lag = 2 THEN acf END) AS r2,
             MAX(CASE WHEN lag = 3 THEN acf END) AS r3,
             MAX(CASE WHEN lag = 4 THEN acf END) AS r4
      FROM base WHERE lag <= {_PACF_LAGS}
    ),
    p2 AS (SELECT *, (r2 - r1 * r1) / (1 - r1 * r1) AS phi22 FROM w),
    p2b AS (SELECT *, r1 - phi22 * r1 AS phi21 FROM p2),
    p3 AS (SELECT *, (r3 - phi21 * r2 - phi22 * r1)
                     / (1 - phi21 * r1 - phi22 * r2) AS phi33 FROM p2b),
    p3b AS (SELECT *, phi21 - phi33 * phi22 AS phi31,
                      phi22 - phi33 * phi21 AS phi32 FROM p3),
    p4 AS (SELECT *, (r4 - phi31 * r3 - phi32 * r2 - phi33 * r1)
                     / (1 - phi31 * r1 - phi32 * r2 - phi33 * r3) AS phi44
           FROM p3b)
    SELECT lag, acf, pacf FROM (
      SELECT 1 AS lag, r1 AS acf, ROUND(r1, 6) AS pacf FROM p4
      UNION ALL SELECT 2, r2, ROUND(phi22, 6) FROM p4
      UNION ALL SELECT 3, r3, ROUND(phi33, 6) FROM p4
      UNION ALL SELECT 4, r4, ROUND(phi44, 6) FROM p4
    ) u ORDER BY lag
    """


@register("evt_pacf", _pacf_oracle())
def evt_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of the daily-revenue series via the
    Durbin-Levinson recursion unrolled to lag 4 [public method:
    Durbin 1960 — phi_kk from the ACF prefix; THE AR(p) order-selection
    diagnostic: the PACF of an AR(p) process cuts off after lag p,
    where the raw ACF (evt_acf) tails forever]. The recursion consumes
    the 6dp-ROUNDED ACF coefficients evt_acf already oracle-verifies,
    so both engines run identical scalar arithmetic on identical
    inputs — bitwise-equal partials without any new float contract.

    At 100 TB: identical cost profile to evt_acf (one map-side
    date-keyed rollup is the only corpus pass); the Durbin-Levinson
    chain is O(lag^2) scalar math on a ONE-ROW frame — optimizer
    epilogue, not data processing. Composes the registered evt_acf
    function directly (the llm_soft_dedup_weights reuse rule: derived
    diagnostics must consume the verified frame, not re-derive it)."""
    from hive_test_spark.registry import QUERIES

    acf = QUERIES["evt_acf"](spark, sf_dir).filter(F.col("lag") <= _PACF_LAGS)
    w = acf.agg(
        *[
            F.max(F.when(F.col("lag") == k, F.col("acf"))).alias(f"r{k}")
            for k in range(1, _PACF_LAGS + 1)
        ]
    )
    w = w.withColumn(
        "phi22", (F.col("r2") - F.col("r1") * F.col("r1")) / (1 - F.col("r1") * F.col("r1"))
    )
    w = w.withColumn("phi21", F.col("r1") - F.col("phi22") * F.col("r1"))
    w = w.withColumn(
        "phi33",
        (F.col("r3") - F.col("phi21") * F.col("r2") - F.col("phi22") * F.col("r1"))
        / (1 - F.col("phi21") * F.col("r1") - F.col("phi22") * F.col("r2")),
    )
    w = w.withColumn("phi31", F.col("phi21") - F.col("phi33") * F.col("phi22"))
    w = w.withColumn("phi32", F.col("phi22") - F.col("phi33") * F.col("phi21"))
    w = w.withColumn(
        "phi44",
        (
            F.col("r4")
            - F.col("phi31") * F.col("r3")
            - F.col("phi32") * F.col("r2")
            - F.col("phi33") * F.col("r1")
        )
        / (
            1
            - F.col("phi31") * F.col("r1")
            - F.col("phi32") * F.col("r2")
            - F.col("phi33") * F.col("r3")
        ),
    )
    return w.selectExpr(
        "stack(4, "
        "1, r1, ROUND(r1, 6), "
        "2, r2, ROUND(phi22, 6), "
        "3, r3, ROUND(phi33, 6), "
        "4, r4, ROUND(phi44, 6)) AS (lag, acf, pacf)"
    ).orderBy("lag")


@register(
    "evt_entropy_over_time",
    """
    WITH c AS (
      SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, event_type,
             COUNT(*) AS cnt
      FROM events GROUP BY CAST(CAST(ts AS TIMESTAMP) AS DATE), event_type
    ),
    days AS (SELECT DISTINCT day FROM c),
    types AS (SELECT DISTINCT event_type FROM c),
    grid AS (
      SELECT d.day, t.event_type, COALESCE(c.cnt, 0) AS cnt
      FROM days d CROSS JOIN types t
      LEFT JOIN c ON c.day = d.day AND c.event_type = t.event_type
    ),
    tot AS (SELECT day, CAST(SUM(cnt) AS BIGINT) AS n FROM grid GROUP BY day),
    p AS (
      SELECT g.day, g.event_type, g.cnt * 1.0 / t.n AS p, t.n
      FROM grid g JOIN tot t ON t.day = g.day
    ),
    lagged AS (
      SELECT day, event_type, p, n,
             LAG(p) OVER (PARTITION BY event_type ORDER BY day) AS q
      FROM p
    )
    SELECT CAST(day AS VARCHAR) AS dayd, MAX(n) AS n_events,
           ROUND(-SUM(CASE WHEN p > 0 THEN p * ln(p) ELSE 0 END), 6) AS entropy,
           CASE WHEN bool_and(q IS NOT NULL) THEN
             ROUND(SUM(
               CASE WHEN p > 0 THEN 0.5 * p * ln(2 * p / (p + q)) ELSE 0 END
               + CASE WHEN q > 0 THEN 0.5 * q * ln(2 * q / (p + q)) ELSE 0 END
             ), 6)
           END AS js_prev
    FROM lagged
    GROUP BY day
    ORDER BY day
    """,
)
def evt_entropy_over_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily behavioral-mix monitoring: Shannon entropy of each day's
    event-type distribution plus the Jensen-Shannon divergence against
    the PREVIOUS day's mix [public method: the JS day-over-day drift
    statistic — the time-axis, behavior-level sibling of
    llm_corpus_drift's source-vs-rest token JS and dq_drift_psi's
    binned-numeric PSI; a traffic-mix incident (bot flood, outage
    dropping one event type) moves this before any volume alarm]. The
    complete day x type grid keeps zero-count cells so absent types
    still contribute to the divergence, the 0·ln0 = 0 convention is
    explicit CASE arithmetic in both engines, and day 1's JS is NULL
    via a bool_and guard rather than a silently partial sum.

    At 100 TB: one map-side-combinable (day, type) count is the only
    corpus pass; the grid is |days| x |types| (calendar x enum —
    metadata-sized), the LAG pairs consecutive days per type in one
    tiny window, and the per-day reduction is a 5-term sum."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    days = c.select("day").distinct()
    types = c.select("event_type").distinct()
    grid = (
        days.crossJoin(F.broadcast(types))
        .join(c, ["day", "event_type"], "left")
        .select("day", "event_type", F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"))
    )
    tot = grid.groupBy("day").agg(F.sum("cnt").cast("long").alias("n"))
    p = grid.join(tot, "day").select(
        "day", "event_type", (F.col("cnt") * 1.0 / F.col("n")).alias("p"), "n"
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = p.select("*", F.lag("p").over(w).alias("q"))
    ent_term = F.when(F.col("p") > 0, F.col("p") * F.log(F.col("p"))).otherwise(0.0)
    js_term = F.when(
        F.col("p") > 0, 0.5 * F.col("p") * F.log(2 * F.col("p") / (F.col("p") + F.col("q")))
    ).otherwise(0.0) + F.when(
        F.col("q") > 0, 0.5 * F.col("q") * F.log(2 * F.col("q") / (F.col("p") + F.col("q")))
    ).otherwise(0.0)
    return (
        lagged.groupBy("day")
        .agg(
            F.max("n").alias("n_events"),
            F.round(-F.sum(ent_term), 6).alias("entropy"),
            F.when(
                F.expr("bool_and(q IS NOT NULL)"), F.round(F.sum(js_term), 6)
            ).alias("js_prev"),
        )
        .select(
            F.col("day").cast("string").alias("dayd"),
            "n_events",
            "entropy",
            "js_prev",
        )
        .orderBy("dayd")
    )


@register(
    "evt_did_event_study",
    f"""
    WITH cells AS (
      SELECT CAST(FLOOR(date_diff('day', DATE '{_DID_CUTOVER}',
                                  CAST(CAST(ts AS TIMESTAMP) AS DATE)) / 7.0)
                  AS INT) AS rel_week,
             CAST(user_id % 2 AS INT) AS treated,
             COUNT(*) AS n, AVG(value) AS mu, var_samp(value) AS v
      FROM events
      GROUP BY 1, 2
    ),
    wide AS (
      SELECT rel_week,
             MAX(CASE WHEN treated = 1 THEN mu END) AS t_mu,
             MAX(CASE WHEN treated = 0 THEN mu END) AS c_mu,
             MAX(CASE WHEN treated = 1 THEN n END) AS t_n,
             MAX(CASE WHEN treated = 0 THEN n END) AS c_n,
             SUM(v / n) AS var_sum
      FROM cells GROUP BY rel_week
    ),
    base AS (
      SELECT AVG(t_mu - c_mu) AS pre_gap FROM wide WHERE rel_week < 0
    )
    SELECT w.rel_week,
           CAST(w.t_n AS BIGINT) AS n_treated,
           CAST(w.c_n AS BIGINT) AS n_control,
           ROUND(w.t_mu - w.c_mu, 6) AS gap,
           ROUND((w.t_mu - w.c_mu) - b.pre_gap, 6) AS effect,
           ROUND(sqrt(w.var_sum), 6) AS se,
           ROUND(((w.t_mu - w.c_mu) - b.pre_gap) / sqrt(w.var_sum), 6)
             AS t_stat
    FROM wide w CROSS JOIN base b
    ORDER BY w.rel_week
    """,
)
def evt_did_event_study(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-study (dynamic DiD) around the same intervention evt_did
    estimates as a single 2x2 [public method: the event-study
    regression's nonparametric twin — per relative-week treated-vs-
    control gaps, re-centered on the average PRE-period gap; flat
    pre-period effects are THE parallel-trends diagnostic that decides
    whether the 2x2 DiD number can be believed, and the post-period
    profile shows effect dynamics a single pooled estimate hides].
    Treatment is the deterministic odd-id assignment; each week's SE
    pools the two cell variances sqrt(s_t^2/n_t + s_c^2/n_c); the
    t-stat divides unrounded effect by unrounded SE (the evt_did
    rounding rule).

    At 100 TB: ONE map-side-combinable aggregate on the tiny
    (rel_week, treated) key carries (n, mean, M2) partials — the scan
    is the whole cost; the pivot, pre-period baseline (a 1-row
    broadcast), and per-week epilogue run on |weeks| rows."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.floor(
            F.datediff(
                F.to_date("ts"), F.lit(_DID_CUTOVER).cast("date")
            )
            / 7.0
        )
        .cast("int")
        .alias("rel_week"),
        (F.col("user_id") % 2).cast("int").alias("treated"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("mu"),
        F.var_samp("value").alias("v"),
    )
    wide = cells.groupBy("rel_week").agg(
        F.max(F.when(F.col("treated") == 1, F.col("mu"))).alias("t_mu"),
        F.max(F.when(F.col("treated") == 0, F.col("mu"))).alias("c_mu"),
        F.max(F.when(F.col("treated") == 1, F.col("n"))).alias("t_n"),
        F.max(F.when(F.col("treated") == 0, F.col("n"))).alias("c_n"),
        F.sum(F.col("v") / F.col("n")).alias("var_sum"),
    )
    base = wide.filter(F.col("rel_week") < 0).agg(
        F.avg(F.col("t_mu") - F.col("c_mu")).alias("pre_gap")
    )
    gap = F.col("t_mu") - F.col("c_mu")
    eff = gap - F.col("pre_gap")
    return (
        wide.crossJoin(base)
        .select(
            "rel_week",
            F.col("t_n").cast("long").alias("n_treated"),
            F.col("c_n").cast("long").alias("n_control"),
            F.round(gap, 6).alias("gap"),
            F.round(eff, 6).alias("effect"),
            F.round(F.sqrt("var_sum"), 6).alias("se"),
            F.round(eff / F.sqrt("var_sum"), 6).alias("t_stat"),
        )
        .orderBy("rel_week")
    )


@register(
    "evt_kruskal_wallis",
    """
    WITH per_v AS (
      SELECT value AS v, COUNT(*) AS tie FROM events
      WHERE value IS NOT NULL GROUP BY value
    ),
    ranked AS (
      SELECT v, tie,
             COALESCE(SUM(tie) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (tie + 1) / 2.0 AS avg_rank
      FROM per_v
    ),
    per_vt AS (
      SELECT value AS v, event_type, COUNT(*) AS c FROM events
      WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    grp AS (
      SELECT t.event_type, SUM(t.c) AS n, SUM(t.c * r.avg_rank) AS rsum
      FROM per_vt t JOIN ranked r ON r.v = t.v
      GROUP BY t.event_type
    ),
    tot AS (
      SELECT CAST(SUM(tie) AS DOUBLE) AS nn,
             SUM(CAST(tie AS DOUBLE) * tie * tie - tie) AS tsum
      FROM per_v
    ),
    h AS (
      SELECT t.nn, t.tsum,
             12.0 / (t.nn * (t.nn + 1.0)) * SUM(g.rsum * g.rsum / g.n)
               - 3.0 * (t.nn + 1.0) AS h_raw,
             CAST(COUNT(*) AS BIGINT) - 1 AS df
      FROM grp g CROSS JOIN tot t
      GROUP BY t.nn, t.tsum
    )
    SELECT g.event_type,
           CAST(g.n AS BIGINT) AS n,
           ROUND(g.rsum / g.n, 6) AS mean_rank,
           h.df,
           ROUND(h.h_raw, 6) AS h_stat,
           ROUND(h.h_raw / (1.0 - h.tsum / (h.nn * h.nn * h.nn - h.nn)), 6)
             AS h_tie_corrected
    FROM grp g CROSS JOIN h
    ORDER BY g.event_type
    """,
)
def evt_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test across all five event types [public
    method: the K-sample rank ANOVA — does ANY cohort's value
    distribution differ in location? — the K-group generalization of
    evt_mann_whitney's two-sample U and the nonparametric companion to
    evt_anova_dow's parametric F]: the corpus collapses to the
    distinct-value dimension, midranks come from the prefix sum over
    that dimension ((cum-before) + (ties+1)/2, the shared tied-rank
    rule), per-group rank sums reduce from the (value, type) rollup
    joined to the midrank frame, and H applies the full tie
    correction H / (1 - Σ(t³-t)/(N³-N)). Every accumulated rank term
    is an exact multiple of 0.5 far below 2^52, so rank sums are
    EXACT in IEEE double regardless of partition order (the
    evt_mann_whitney argument); only the final H terms are rounded.
    Emits one row per group (n, mean rank) with the H statistic and
    df riding along (the graph_modularity q_total pattern) — compare
    to the chi-square critical value at df = K-1.

    At 100 TB: two map-side-combinable rollups (per-value, per
    (value, type)); the prefix-sum window runs over the DISTINCT
    VALUE dimension only (pre-bucket a continuous metric to a fixed
    grid first — midranks within a bucket collapse to the bucket
    midrank, exactly the tie rule); everything after is a 5-group
    reduction with 1-row broadcast epilogues."""
    ev = load_table(spark, sf_dir, "events")
    # value IS NOT NULL before ranking (the evt_mann_whitney rule —
    # NULLS FIRST/LAST divergence between the engines' rank windows).
    ev = ev.filter(F.col("value").isNotNull())
    per_v = ev.groupBy(F.col("value").alias("v")).agg(
        F.count(F.lit(1)).alias("tie")
    )
    ranked = per_v.select("v", "tie", midrank("tie", "v").alias("avg_rank"))
    per_vt = ev.groupBy(F.col("value").alias("tv"), "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    grp = (
        per_vt.join(ranked, F.col("v") == F.col("tv"))
        .groupBy("event_type")
        .agg(
            F.sum("c").alias("n"),
            F.sum(F.col("c") * F.col("avg_rank")).alias("rsum"),
        )
    )
    tot = per_v.agg(
        F.sum("tie").cast("double").alias("nn"),
        F.sum(
            F.col("tie").cast("double") * F.col("tie") * F.col("tie")
            - F.col("tie")
        ).alias("tsum"),
    )
    h = (
        grp.crossJoin(F.broadcast(tot))
        .groupBy("nn", "tsum")
        .agg(
            (
                12.0
                / (F.col("nn") * (F.col("nn") + 1.0))
                * F.sum(F.col("rsum") * F.col("rsum") / F.col("n"))
                - 3.0 * (F.col("nn") + 1.0)
            ).alias("h_raw"),
            (F.count(F.lit(1)) - 1).cast("long").alias("df"),
        )
    )
    return (
        grp.crossJoin(F.broadcast(h))
        .select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("rsum") / F.col("n"), 6).alias("mean_rank"),
            "df",
            F.round("h_raw", 6).alias("h_stat"),
            F.round(
                F.col("h_raw")
                / (
                    1.0
                    - F.col("tsum")
                    / (F.col("nn") * F.col("nn") * F.col("nn") - F.col("nn"))
                ),
                6,
            ).alias("h_tie_corrected"),
        )
        .orderBy("event_type")
    )


@register(
    "evt_levene",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ),
    z AS (
      SELECT e.event_type, ABS(e.value - m.med) AS z
      FROM events e JOIN med m ON m.event_type = e.event_type
    ),
    g AS (
      SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
             AVG(z) AS mz, SUM(z * z) AS szz
      FROM z GROUP BY event_type
    ),
    tot AS (
      SELECT SUM(n) AS nn, CAST(COUNT(*) AS DOUBLE) AS k,
             SUM(n * mz) / SUM(n) AS gz,
             SUM(n * mz * mz) AS snmz2,
             SUM(szz) AS sszz,
             SUM(szz - n * mz * mz) AS ssw
      FROM g
    ),
    w AS (
      SELECT t.nn, t.k,
             (t.nn - t.k) / (t.k - 1.0)
               * (t.snmz2 - t.nn * t.gz * t.gz) / t.ssw AS w_stat
      FROM tot t
    )
    SELECT g.event_type,
           CAST(g.n AS BIGINT) AS n,
           ROUND(g.mz, 6) AS mean_abs_dev,
           CAST(w.k - 1 AS BIGINT) AS df1,
           CAST(w.nn - w.k AS BIGINT) AS df2,
           ROUND(w.w_stat, 6) AS w_stat
    FROM g CROSS JOIN w
    ORDER BY g.event_type
    """,
)
def evt_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe (median-centered Levene) test for variance
    homogeneity across the five event types [public method: Levene
    1960 / Brown & Forsythe 1974 — one-way ANOVA on the absolute
    deviations from each group's MEDIAN; the robust
    equality-of-variances check that gates whether evt_anova_dow's
    pooled-variance F is even applicable, completing the testing deck:
    location (anova/kruskal-wallis/mann-whitney), distribution (ks),
    association (chi2), and now scale]: exact per-group medians (the
    pinned percentile/quantile_cont interpolation contract) broadcast
    back onto the fact rows; the W statistic reduces from per-group
    (n, mean |dev|, sum |dev|^2) via the between/within sum-of-squares
    identities SSB = Sum n_j m_j^2 - N zbar^2 and SSW = Sum (Szz_j -
    n_j m_j^2) — no second pass over centered rows. Emits one row per
    group with W and its (df1, df2) riding along (the graph_modularity
    pattern); compare to the F critical value.

    At 100 TB: one aggregate for medians, one broadcast join + one
    map-side-combinable aggregate for the moment sums, 1-row epilogue
    — the fact table is scanned twice and shuffled never (group key
    has 5 values; partial aggregation collapses everything)."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy(F.col("event_type").alias("m_type")).agg(
        F.expr("percentile(value, 0.5D)").alias("med")
    )
    z = ev.join(F.broadcast(med), F.col("m_type") == F.col("event_type")).select(
        "event_type", F.abs(F.col("value") - F.col("med")).alias("z")
    )
    g = z.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("z").alias("mz"),
        F.sum(F.col("z") * F.col("z")).alias("szz"),
    )
    tot = g.agg(
        F.sum("n").alias("nn"),
        F.count(F.lit(1)).cast("double").alias("k"),
        (F.sum(F.col("n") * F.col("mz")) / F.sum("n")).alias("gz"),
        F.sum(F.col("n") * F.col("mz") * F.col("mz")).alias("snmz2"),
        F.sum(F.col("szz") - F.col("n") * F.col("mz") * F.col("mz")).alias(
            "ssw"
        ),
    )
    w = tot.select(
        "nn",
        "k",
        (
            (F.col("nn") - F.col("k"))
            / (F.col("k") - 1.0)
            * (F.col("snmz2") - F.col("nn") * F.col("gz") * F.col("gz"))
            / F.col("ssw")
        ).alias("w_stat"),
    )
    return (
        g.crossJoin(w)
        .select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.round("mz", 6).alias("mean_abs_dev"),
            (F.col("k") - 1).cast("long").alias("df1"),
            (F.col("nn") - F.col("k")).cast("long").alias("df2"),
            F.round("w_stat", 6).alias("w_stat"),
        )
        .orderBy("event_type")
    )


_SPEARMAN_RANK_SQL = """
      SELECT v, cum + (tie + 1) / 2.0 AS r FROM (
        SELECT v, tie,
               COALESCE(SUM(tie) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        FROM (SELECT {col} AS v, COUNT(*) AS tie FROM base GROUP BY {col}) t
      ) u
"""

_SPEARMAN_RHO_SQL = (
    "(n * sab - sa * sb) / SQRT((n * saa - sa * sa) * (n * sbb - sb * sb))"
)


@register(
    "evt_spearman",
    f"""
    WITH s AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             ROUND(SUM(value), 6) AS rev
      FROM events
      WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL
      GROUP BY event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE)
    ),
    base AS (
      SELECT x.day, x.rev AS x, y.rev AS y
      FROM (SELECT day, rev FROM s WHERE event_type = 'view') x
      JOIN (SELECT day, rev FROM s WHERE event_type = 'purchase') y
        ON y.day = x.day
    ),
    rx AS ({_SPEARMAN_RANK_SQL.format(col="x")}),
    ry AS ({_SPEARMAN_RANK_SQL.format(col="y")}),
    pairs AS (
      SELECT rx.r AS ra, ry.r AS rb
      FROM base b JOIN rx ON rx.v = b.x JOIN ry ON ry.v = b.y
    ),
    m AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             SUM(ra) AS sa, SUM(rb) AS sb, SUM(ra * rb) AS sab,
             SUM(ra * ra) AS saa, SUM(rb * rb) AS sbb
      FROM pairs
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           ROUND({_SPEARMAN_RHO_SQL}, 6) AS rho,
           ROUND({_SPEARMAN_RHO_SQL}
                 * SQRT((n - 2) / (1 - {_SPEARMAN_RHO_SQL}
                                     * {_SPEARMAN_RHO_SQL})), 6) AS t_stat
    FROM m
    """,
)
def evt_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between the view and purchase daily
    revenue series [public method: Spearman 1904 — Pearson's r over
    midranks; the monotone-association member of the correlation deck
    beside agg_corr_matrix (linear Pearson), evt_ccf (lagged linear),
    and evt_granger (lagged predictive), robust to the outlier days
    that drag a product-moment estimate]: the (type, day) rollup is
    the only corpus pass; each axis ranks through the shared exact-
    midrank machinery (per-distinct-value prefix sum, cum + (tie+1)/2
    — the evt_mann_whitney rule), midranks join back onto the ~|days|
    frame, and rho reduces from the six rank-moment sums. Every rank
    is an exact multiple of 0.5 with products ≤ n² far below 2^52, so
    ALL moment sums are exact in IEEE double regardless of partition
    order — no decimal ingest needed (contrast evt_granger, whose
    moments are revenue-scaled); t = rho·√((n−2)/(1−rho²)) rides
    along for the significance readout.

    At 100 TB: two map-side-combinable rollups to the distinct-value
    dimension, prefix-sum windows over that bounded dimension only,
    two broadcast-size rank joins, then a 1-row reduction — the
    evt_kruskal_wallis scale shape. Millions of series pairs would
    partition every stage by pair key with identical arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    # NULL guard (ADVICE r11): a NULL-summing (type, day) group would
    # enter the ORDER BY v rank window, which sorts NULLS FIRST in
    # Spark but NULLS LAST in DuckDB, shifting every midrank's prefix
    # sum and diverging rho — the exact hazard class the r11 evt_ks/
    # mann_whitney/kruskal_wallis fix targeted. Latent on current
    # fixtures (zero NULL values); hardened at both engines together.
    s = (
        ev.filter(
            F.col("event_type").isin("view", "purchase")
            & F.col("value").isNotNull()
        )
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.round(F.sum("value"), 6).alias("rev"))
    )
    x = s.filter(F.col("event_type") == "view").select(
        "day", F.col("rev").alias("x")
    )
    y = s.filter(F.col("event_type") == "purchase").select(
        F.col("day").alias("yday"), F.col("rev").alias("y")
    )
    # ONE corpus pass: the ~|days| base frame is materialized (the
    # llm_rank_rbo shared-frame idiom) so the two rank legs and the pair
    # join reuse it instead of re-deriving the (type, day) rollup lineage
    # per reference.
    base = (
        x.join(y, F.col("yday") == F.col("day"))
        .select("day", "x", "y")
        .transform(materialize)
    )

    def ranks(col: str) -> DataFrame:
        per_v = base.groupBy(F.col(col).alias("v")).agg(
            F.count(F.lit(1)).alias("tie")
        )
        return per_v.select("v", midrank("tie", "v").alias("r"))

    rx = ranks("x").select(F.col("v").alias("xv"), F.col("r").alias("ra"))
    ry = ranks("y").select(F.col("v").alias("yv"), F.col("r").alias("rb"))
    pairs = (
        base.join(F.broadcast(rx), F.col("xv") == F.col("x"))
        .join(F.broadcast(ry), F.col("yv") == F.col("y"))
        .select("ra", "rb")
    )
    m = pairs.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("ra").alias("sa"),
        F.sum("rb").alias("sb"),
        F.sum(F.col("ra") * F.col("rb")).alias("sab"),
        F.sum(F.col("ra") * F.col("ra")).alias("saa"),
        F.sum(F.col("rb") * F.col("rb")).alias("sbb"),
    )
    c = {k: F.col(k) for k in ("n", "sa", "sb", "sab", "saa", "sbb")}
    rho = (c["n"] * c["sab"] - c["sa"] * c["sb"]) / F.sqrt(
        (c["n"] * c["saa"] - c["sa"] * c["sa"])
        * (c["n"] * c["sbb"] - c["sb"] * c["sb"])
    )
    return m.select(
        c["n"].cast("long").alias("n_days"),
        F.round(rho, 6).alias("rho"),
        F.round(
            rho * F.sqrt((c["n"] - 2) / (1 - rho * rho)), 6
        ).alias("t_stat"),
    )


_BH_ALPHA = 0.05


@register(
    "evt_benjamini_hochberg",
    f"""
    WITH m AS (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS n,
             SUM(CAST(ROUND(value, 6) AS DECIMAL(19,6))) AS s1,
             SUM(CAST(ROUND(value, 6) AS DECIMAL(19,6))
                 * CAST(ROUND(value, 6) AS DECIMAL(19,6))) AS s2
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type
    ),
    tot AS (
      SELECT event_type, n, s1, s2,
             SUM(n) OVER () AS nn, SUM(s1) OVER () AS t1,
             SUM(s2) OVER () AS t2
      FROM m
    ),
    z AS (
      SELECT event_type, n,
             (s1d / n - r1 / nr)
               / SQRT(((s2d - s1d * s1d / n) / (n - 1)) / n
                      + ((r2 - r1 * r1 / nr) / (nr - 1)) / nr) AS z
      FROM (
        SELECT event_type, n,
               CAST(CAST(s1 AS VARCHAR) AS DOUBLE) AS s1d,
               CAST(CAST(s2 AS VARCHAR) AS DOUBLE) AS s2d,
               nn - n AS nr,
               CAST(CAST(t1 - s1 AS VARCHAR) AS DOUBLE) AS r1,
               CAST(CAST(t2 - s2 AS VARCHAR) AS DOUBLE) AS r2
        FROM tot
      ) w
    ),
    p AS (
      SELECT event_type, n, ROUND(z, 6) AS z_score,
             ROUND({{norm_p2}}, 6) AS p_value
      FROM (SELECT event_type, n, z,
                   1 / (1 + 0.2316419 * ABS(z)) AS tt FROM z) zt
    ),
    ranked AS (
      SELECT event_type, n, z_score, p_value,
             ROW_NUMBER() OVER (ORDER BY p_value, event_type) AS i,
             CAST(COUNT(*) OVER () AS DOUBLE) AS mh
      FROM p
    ),
    bh AS (
      SELECT event_type, n, z_score, p_value, i,
             ROUND(i / mh * {_BH_ALPHA}, 6) AS bh_critical,
             ROUND(LEAST(1.0,
               MIN(mh * p_value / i) OVER (ORDER BY i
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)), 6)
               AS q_value,
             MAX(CASE WHEN p_value <= i / mh * {_BH_ALPHA}
                      THEN p_value END) OVER () AS p_star
      FROM ranked
    )
    SELECT event_type, CAST(n AS BIGINT) AS n, z_score, p_value,
           CAST(i AS BIGINT) AS bh_rank, bh_critical, q_value,
           COALESCE(p_value <= p_star, FALSE) AS rejected
    FROM bh
    ORDER BY event_type
    """.format(norm_p2=_NORM_P2_EXPR),
)
def evt_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR step-up over the per-type mean tests
    [public method: Benjamini & Hochberg 1995 — rank the family's
    p-values ascending, find the largest i with p_i <= i/m*alpha,
    reject everything at or below; q-values are the monotone adjusted
    p's min over j>=i of m*p_j/j]: the multiple-testing member that
    completes the testing deck — evt_anova_dow / evt_kruskal_wallis /
    evt_mann_whitney / evt_levene produce per-family statistics, this
    is the correction a dashboard applies before declaring winners.
    One hypothesis per event type: a two-sided z-test of the type's
    mean value against the pooled rest, moments accumulated as exact
    DECIMAL (SCALE.md 9ac rule 2 — the rest-leg subtraction t1-s1
    happens IN decimal, still exact) and surfaced through the
    decimal->string->double parity cast; p from the shared A&S
    26.2.17 literal (the evt_mann_whitney constant, so both engines
    agree by construction). The BH pass ranks the ROUNDED p-values
    (deterministic total order, type tie-break), takes crit = i/m*a,
    the step-up threshold p* = MAX(p_i | p_i <= crit_i), and the
    reverse running-min q-values — all windows over the 5-row family.

    At 100 TB: ONE map-side-combinable pass over the fact table — the
    family totals are WINDOW sums over the K-row per-type frame
    (plan-asserted single scan), not a second aggregate whose
    cross-join would re-scan the lineage;
    the test family and every window after it is K rows. A
    million-hypothesis family (per-SKU tests) keeps the identical
    shape — the BH windows run over the hypothesis dimension, which
    is what it is regardless of corpus size."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    # decimal(18,6), not the oracle's (19,6): Spark's product rule
    # needs p1+p2+1 <= 38 for an exact (37,12) dec*dec, while DuckDB
    # needs a >=19-width operand for its int128 multiply path. Both
    # are exact integers at scale 6 so the sums agree bitwise; (18,6)
    # lifts the silent ANSI-off overflow ceiling from |value| 1e6 to
    # 1e12 (ADVICE r11 — the (12,6) width was a latent divergence if
    # a fixture vintage ships larger values).
    dec = F.round("value", 6).cast("decimal(18,6)")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(dec).alias("s1"),
        F.sum(dec * dec).alias("s2"),
    )
    w_tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tot = m.select(
        "event_type",
        "n",
        "s1",
        "s2",
        F.sum("n").over(w_tot).alias("nn"),
        F.sum("s1").over(w_tot).alias("t1"),
        F.sum("s2").over(w_tot).alias("t2"),
    )
    w = tot.select(
        "event_type",
        "n",
        F.col("s1").cast("string").cast("double").alias("s1d"),
        F.col("s2").cast("string").cast("double").alias("s2d"),
        (F.col("nn") - F.col("n")).alias("nr"),
        (F.col("t1") - F.col("s1")).cast("string").cast("double").alias("r1"),
        (F.col("t2") - F.col("s2")).cast("string").cast("double").alias("r2"),
    )
    c = {k: F.col(k) for k in ("n", "s1d", "s2d", "nr", "r1", "r2")}
    zc = (c["s1d"] / c["n"] - c["r1"] / c["nr"]) / F.sqrt(
        ((c["s2d"] - c["s1d"] * c["s1d"] / c["n"]) / (c["n"] - 1)) / c["n"]
        + ((c["r2"] - c["r1"] * c["r1"] / c["nr"]) / (c["nr"] - 1)) / c["nr"]
    )
    zt = w.select("event_type", "n", zc.alias("z")).select(
        "event_type",
        "n",
        "z",
        (1 / (1 + 0.2316419 * F.abs(F.col("z")))).alias("tt"),
    )
    p = zt.select(
        "event_type",
        "n",
        F.round("z", 6).alias("z_score"),
        F.round(F.expr(_NORM_P2_EXPR), 6).alias("p_value"),
    )
    w_rank = Window.orderBy("p_value", "event_type")
    ranked = p.select(
        "event_type",
        "n",
        "z_score",
        "p_value",
        F.row_number().over(w_rank).alias("i"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).cast("double").alias("mh"),
    )
    w_rev = Window.orderBy("i").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    crit = F.col("i") / F.col("mh") * F.lit(_BH_ALPHA)
    bh = ranked.select(
        "event_type",
        "n",
        "z_score",
        "p_value",
        "i",
        F.round(crit, 6).alias("bh_critical"),
        F.round(
            F.least(
                F.lit(1.0),
                F.min(F.col("mh") * F.col("p_value") / F.col("i")).over(
                    w_rev
                ),
            ),
            6,
        ).alias("q_value"),
        F.max(F.when(F.col("p_value") <= crit, F.col("p_value"))).over(
            w_all
        ).alias("p_star"),
    )
    return bh.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        "z_score",
        "p_value",
        F.col("i").cast("long").alias("bh_rank"),
        "bh_critical",
        "q_value",
        F.coalesce(
            F.col("p_value") <= F.col("p_star"), F.lit(False)
        ).alias("rejected"),
    ).orderBy("event_type")


@register(
    "evt_friedman_test",
    """
    WITH s AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             ROUND(SUM(value), 6) AS rev
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE)
    ),
    full_days AS (
      SELECT day FROM s GROUP BY day
      HAVING COUNT(*) = (SELECT COUNT(DISTINCT event_type) FROM s)
    ),
    b AS (SELECT s.event_type, s.day, s.rev
          FROM s JOIN full_days f ON f.day = s.day),
    per_v AS (SELECT day, rev, COUNT(*) AS tie FROM b GROUP BY day, rev),
    ranked AS (
      SELECT day, rev,
             COALESCE(SUM(tie) OVER (PARTITION BY day ORDER BY rev
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (tie + 1) / 2.0 AS r
      FROM per_v
    ),
    rk AS (
      SELECT b.event_type, r.r
      FROM b JOIN ranked r ON r.day = b.day AND r.rev = b.rev
    ),
    g AS (
      SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n, SUM(r) AS rsum
      FROM rk GROUP BY event_type
    ),
    h AS (
      SELECT event_type, n, rsum, k,
             12.0 / (n * k * (k + 1.0)) * sr2 - 3.0 * n * (k + 1.0) AS chi2
      FROM (SELECT event_type, n, rsum,
                   CAST(COUNT(*) OVER () AS DOUBLE) AS k,
                   SUM(rsum * rsum) OVER () AS sr2
            FROM g) t
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_days,
           ROUND(rsum, 1) AS rank_sum, ROUND(rsum / n, 6) AS mean_rank,
           CAST(k AS BIGINT) - 1 AS df, ROUND(chi2, 6) AS chi2
    FROM h ORDER BY event_type
    """,
)
def evt_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test across the event types with days as blocks
    [public method: Friedman 1937 — the repeated-measures rank ANOVA:
    rank the K treatments WITHIN each block, then ask whether any
    treatment's rank sum deviates; the blocked/paired member that
    completes the testing deck beside evt_kruskal_wallis (independent
    K-sample), evt_mann_whitney (two-sample), evt_levene (scale) and
    evt_benjamini_hochberg (the correction downstream)]: blocks are
    complete days (every type present — incomplete edge days drop),
    treatments are the K event types, the blocked observation is the
    6dp daily revenue. Midranks come from the shared prefix-sum rule
    PARTITIONED BY DAY (cum + (tie+1)/2), so every rank is an exact
    multiple of 0.5 and all rank sums / squared rank sums are exact
    in IEEE double regardless of partition order — the
    evt_mann_whitney exactness argument, blocked. chi2_F =
    12/(nk(k+1)) * sum R_j^2 - 3n(k+1) vs the chi-square at df = K-1;
    the family totals ride window sums over the K-row frame (the
    evt_benjamini_hochberg single-scan shape).

    At 100 TB: one (type, day) rollup is the only corpus pass; ranks
    window over the per-day frame (K rows per block, millions of
    blocks parallelize on the partition key), and the epilogue is a
    K-row reduction. The day-completeness filter is a group-count
    semi-join on the same rollup — no second corpus scan."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    # ONE corpus pass: the (type, day) rollup is referenced by the
    # type-count, the completeness filter, and the block join —
    # checkpoint it (the llm_rank_rbo shared-frame idiom).
    s = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.round(F.sum("value"), 6).alias("rev"))
        .transform(materialize)
    )
    k_types = s.select(
        F.countDistinct("event_type").alias("n_types")
    )
    full_days = (
        s.groupBy("day")
        .agg(F.count(F.lit(1)).alias("c"))
        .join(k_types, F.col("c") == F.col("n_types"))
        .select("day")
    )
    b = s.join(F.broadcast(full_days), "day")
    per_v = b.groupBy("day", "rev").agg(F.count(F.lit(1)).alias("tie"))
    ranked = per_v.select(
        F.col("day").alias("rday"),
        F.col("rev").alias("rrev"),
        midrank("tie", "rev", "day").alias("r"),
    )
    rk = b.join(
        ranked,
        (F.col("rday") == F.col("day")) & (F.col("rrev") == F.col("rev")),
    ).select("event_type", "r")
    g = rk.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("r").alias("rsum"),
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    t = g.select(
        "event_type",
        "n",
        "rsum",
        F.count(F.lit(1)).over(w_all).cast("double").alias("k"),
        F.sum(F.col("rsum") * F.col("rsum")).over(w_all).alias("sr2"),
    )
    c = {x: F.col(x) for x in ("n", "rsum", "k", "sr2")}
    chi2 = (
        12.0 / (c["n"] * c["k"] * (c["k"] + 1.0)) * c["sr2"]
        - 3.0 * c["n"] * (c["k"] + 1.0)
    )
    return t.select(
        "event_type",
        c["n"].cast("long").alias("n_days"),
        F.round("rsum", 1).alias("rank_sum"),
        F.round(c["rsum"] / c["n"], 6).alias("mean_rank"),
        (c["k"].cast("long") - 1).alias("df"),
        F.round(chi2, 6).alias("chi2"),
    ).orderBy("event_type")


@register(
    "evt_kendall_tau",
    """
    WITH s AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             ROUND(SUM(value), 6) AS rev
      FROM events
      WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL
      GROUP BY event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE)
    ),
    base AS (
      SELECT x.day, x.rev AS x, y.rev AS y
      FROM (SELECT day, rev FROM s WHERE event_type = 'view') x
      JOIN (SELECT day, rev FROM s WHERE event_type = 'purchase') y
        ON y.day = x.day
    ),
    pairs AS (
      SELECT CAST(SUM(CASE WHEN (a.x < b.x AND a.y < b.y)
                             OR (a.x > b.x AND a.y > b.y)
                           THEN 1 ELSE 0 END) AS BIGINT) AS conc,
             CAST(SUM(CASE WHEN (a.x < b.x AND a.y > b.y)
                             OR (a.x > b.x AND a.y < b.y)
                           THEN 1 ELSE 0 END) AS BIGINT) AS disc
      FROM base a JOIN base b ON a.day < b.day
    ),
    ties AS (
      SELECT
        (SELECT COALESCE(SUM(c * (c - 1) / 2), 0) FROM
          (SELECT COUNT(*) AS c FROM base GROUP BY x) tx) AS n1,
        (SELECT COALESCE(SUM(c * (c - 1) / 2), 0) FROM
          (SELECT COUNT(*) AS c FROM base GROUP BY y) ty) AS n2,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM base) AS n
    )
    SELECT n AS n_days, conc AS concordant, disc AS discordant,
           CAST(n1 AS BIGINT) AS tied_x, CAST(n2 AS BIGINT) AS tied_y,
           ROUND((conc - disc)
                 / SQRT((CAST(n AS DOUBLE) * (n - 1) / 2 - n1)
                        * (CAST(n AS DOUBLE) * (n - 1) / 2 - n2)), 6)
             AS tau_b,
           ROUND(3.0 * (conc - disc)
                 / SQRT(CAST(n AS DOUBLE) * (n - 1) * (2 * n + 5) / 2.0),
                 6) AS z_score
    FROM pairs CROSS JOIN ties
    """,
)
def evt_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b between the view and purchase daily revenue
    series [public method: Kendall 1938 with the tau-b tie correction
    — the concordant-vs-discordant pair census; the second
    rank-association member beside evt_spearman (midrank Pearson),
    preferred when the n is small enough that tau's cleaner null
    distribution matters]: the (type, day) rollup is the only corpus
    pass, then the CALENDAR-BOUNDED day frame (~|days|, the
    evt_granger argument) self-joins on day < day for the n(n-1)/2
    pair census — concordant/discordant/tie counts are INTEGERS, so
    tau-b and the normal z are single deterministic expressions with
    no accumulation hazard at all. Tie terms n1/n2 come from
    per-distinct-value group counts (consistent with the midrank
    machinery's tie handling).

    At 100 TB: the pair join is over the bounded day dimension, never
    the corpus — 10 years of days is ~6.7M pairs, one task's work;
    millions of series would partition by pair key. The O(n log n)
    merge-sort inversion count is the whale-series rewrite; the pair
    census IS the definition, kept while the frame is bounded."""
    ev = load_table(spark, sf_dir, "events")
    # NULL guard (ADVICE r11): kept in lockstep with evt_spearman's
    # null-hardened contract — the integer pair census happens to
    # treat NULL comparisons identically on both engines, but the
    # guard keeps the (type, day) ingest contract uniform.
    s = (
        ev.filter(
            F.col("event_type").isin("view", "purchase")
            & F.col("value").isNotNull()
        )
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.round(F.sum("value"), 6).alias("rev"))
    )
    x = s.filter(F.col("event_type") == "view").select(
        "day", F.col("rev").alias("x")
    )
    y = s.filter(F.col("event_type") == "purchase").select(
        F.col("day").alias("yday"), F.col("rev").alias("y")
    )
    # ONE corpus pass (the llm_rank_rbo shared-frame idiom): the pair
    # census references base four ways (a, b, ties, n) — checkpoint the
    # ~|days| frame so the rollup lineage isn't re-scanned per leg.
    base = (
        x.join(y, F.col("yday") == F.col("day"))
        .select("day", "x", "y")
        .transform(materialize)
    )
    a = base.select(
        F.col("day").alias("d1"), F.col("x").alias("x1"), F.col("y").alias("y1")
    )
    b = base.select(
        F.col("day").alias("d2"), F.col("x").alias("x2"), F.col("y").alias("y2")
    )
    conc_cond = ((F.col("x1") < F.col("x2")) & (F.col("y1") < F.col("y2"))) | (
        (F.col("x1") > F.col("x2")) & (F.col("y1") > F.col("y2"))
    )
    disc_cond = ((F.col("x1") < F.col("x2")) & (F.col("y1") > F.col("y2"))) | (
        (F.col("x1") > F.col("x2")) & (F.col("y1") < F.col("y2"))
    )
    pairs = (
        a.join(F.broadcast(b), F.col("d1") < F.col("d2"))
        .agg(
            F.sum(F.when(conc_cond, 1).otherwise(0)).cast("long").alias("conc"),
            F.sum(F.when(disc_cond, 1).otherwise(0)).cast("long").alias("disc"),
        )
    )
    tie_x = (
        base.groupBy("x")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.coalesce(
                F.sum(F.col("c") * (F.col("c") - 1) / 2), F.lit(0)
            ).alias("n1")
        )
    )
    tie_y = (
        base.groupBy("y")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.coalesce(
                F.sum(F.col("c") * (F.col("c") - 1) / 2), F.lit(0)
            ).alias("n2")
        )
    )
    n = base.agg(F.count(F.lit(1)).cast("long").alias("n"))
    t = (
        pairs.crossJoin(tie_x)
        .crossJoin(tie_y)
        .crossJoin(n)
    )
    nd = F.col("n").cast("double")
    cd = F.col("conc") - F.col("disc")
    return t.select(
        F.col("n").alias("n_days"),
        F.col("conc").alias("concordant"),
        F.col("disc").alias("discordant"),
        F.col("n1").cast("long").alias("tied_x"),
        F.col("n2").cast("long").alias("tied_y"),
        F.round(
            cd
            / F.sqrt(
                (nd * (F.col("n") - 1) / 2 - F.col("n1"))
                * (nd * (F.col("n") - 1) / 2 - F.col("n2"))
            ),
            6,
        ).alias("tau_b"),
        F.round(
            3.0
            * cd
            / F.sqrt(
                nd * (F.col("n") - 1) * (2 * F.col("n") + 5) / 2.0
            ),
            6,
        ).alias("z_score"),
    )


@register(
    "evt_runs_test",
    f"""
    WITH s AS (
      SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             ROUND(SUM(value), 6) AS rev
      FROM events WHERE value IS NOT NULL
      GROUP BY CAST(CAST(ts AS TIMESTAMP) AS DATE)
    ),
    med AS (SELECT quantile_cont(rev, 0.5) AS med FROM s),
    signed AS (
      SELECT day, rev > m.med AS above
      FROM s CROSS JOIN med m WHERE rev <> m.med
    ),
    runs AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN above THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN above THEN 0 ELSE 1 END) AS BIGINT) AS n2,
             CAST(1 + SUM(CASE WHEN above <> prev THEN 1 ELSE 0 END)
                  AS BIGINT) AS r
      FROM (SELECT above,
                   LAG(above, 1) OVER (ORDER BY day) AS prev
            FROM signed) t
    ),
    zt AS (
      SELECT n, n1, n2, r,
             (r - (2.0 * n1 * n2 / (n1 + n2) + 1))
               / SQRT(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                      / ((CAST(n1 + n2 AS DOUBLE)) * (n1 + n2)
                         * (n1 + n2 - 1))) AS z
      FROM runs
    ),
    ztt AS (
      SELECT n, n1, n2, r, z,
             1 / (1 + 0.2316419 * ABS(z)) AS tt FROM zt
    )
    SELECT n AS n_days, n1 AS n_above, n2 AS n_below, r AS runs,
           ROUND(z, 6) AS z_score, ROUND({{norm_p2}}, 6) AS p_value
    FROM ztt
    """.format(norm_p2=_NORM_P2_EXPR),
)
def evt_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the daily total-revenue series
    [public method: Wald & Wolfowitz 1940 — is the sequence of
    above/below-median days random, or does it cluster (trend/regime)
    the way evt_cusum_changepoint would then localize? The randomness
    gate of the time-series deck beside evt_acf (linear memory) and
    evt_seasonality_strength (structured memory)]: the day rollup is
    the only corpus pass; the exact median (pinned quantile_cont /
    percentile interpolation contract) dichotomizes the ~|days| frame
    (median-equal days drop, the classical rule), runs count from ONE
    LAG pass over the bounded calendar frame, and every input to z is
    an INTEGER (n1, n2, R) — the statistic is a single deterministic
    expression, no accumulation hazard. Two-sided p renders from the
    shared A&S 26.2.17 literal (the evt_mann_whitney constant).

    At 100 TB: one map-side-combinable rollup + a bounded-frame
    window + a 1-row epilogue — the evt_granger scale shape. Per-user
    or per-SKU runs tests partition the LAG window by series key with
    identical arithmetic."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    s = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value"), 6).alias("rev")
    )
    med = s.agg(F.expr("percentile(rev, 0.5D)").alias("med"))
    signed = (
        s.crossJoin(F.broadcast(med))
        .filter(F.col("rev") != F.col("med"))
        .select("day", (F.col("rev") > F.col("med")).alias("above"))
    )
    w = Window.orderBy("day")
    t = signed.select(
        "above", F.lag("above", 1).over(w).alias("prev")
    )
    runs = t.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("above"), 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("above"), 0).otherwise(1))
        .cast("long")
        .alias("n2"),
        (
            1
            + F.sum(
                F.when(F.col("above") != F.col("prev"), 1).otherwise(0)
            )
        )
        .cast("long")
        .alias("r"),
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("r")
    z = (r - (2.0 * n1 * n2 / (n1 + n2) + 1)) / F.sqrt(
        2.0
        * n1
        * n2
        * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2).cast("double") * (n1 + n2) * (n1 + n2 - 1))
    )
    zt = runs.select("n", "n1", "n2", "r", z.alias("z")).select(
        "n",
        "n1",
        "n2",
        "r",
        "z",
        (1 / (1 + 0.2316419 * F.abs(F.col("z")))).alias("tt"),
    )
    return zt.select(
        F.col("n").alias("n_days"),
        F.col("n1").alias("n_above"),
        F.col("n2").alias("n_below"),
        F.col("r").alias("runs"),
        F.round("z", 6).alias("z_score"),
        F.round(F.expr(_NORM_P2_EXPR), 6).alias("p_value"),
    )


_PH_DELTA = 0.5
_PH_LAMBDA = 25.0


@register(
    "evt_page_hinkley",
    f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    st AS (
      SELECT event_type, d, n,
             SUM(n) OVER (PARTITION BY event_type ORDER BY d
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               * 1.0
               / COUNT(*) OVER (PARTITION BY event_type ORDER BY d
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS mu_run
      FROM daily
    ),
    m AS (
      SELECT event_type, d,
             SUM(n - mu_run - {_PH_DELTA}) OVER (
               PARTITION BY event_type ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mt
      FROM st
    ),
    ph AS (
      SELECT event_type, d, mt,
             mt - MIN(mt) OVER (PARTITION BY event_type ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph
      FROM m
    ),
    ranked AS (
      SELECT event_type, d, ph,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ph DESC, d) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n_days
      FROM ph
    )
    SELECT event_type, CAST(d AS VARCHAR) AS peak_day,
           ROUND(ph, 6) AS peak_ph,
           CAST(n_days AS BIGINT) AS n_days,
           ph > {_PH_LAMBDA} AS alarmed
    FROM ranked WHERE rk = 1 ORDER BY event_type
    """,
)
def evt_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley drift detector per event-type daily-count series
    [public method: Page 1954 / the PH test as used in stream-mining
    (Gama et al.) — accumulate deviations from the RUNNING mean minus
    a tolerance delta; the gap between the accumulator and its running
    minimum exceeding lambda signals an upward level shift]: the
    sequential-detection member of the changepoint deck —
    evt_cusum_changepoint localizes a shift retrospectively against
    the GLOBAL mean, PH is the one-pass online rule a monitor
    actually runs (its state is (m_t, min m), mergeable per series).
    Determinism: daily counts are INTEGERS, the running mean is an
    exact-integer prefix sum over one division, and every later stage
    is a RUNNING window (evaluated sequentially in frame order on
    both engines — the evt_cusum_changepoint parity argument); the
    peak day tie-breaks on day.

    At 100 TB: rollup-before-window — the log collapses to (type,
    day) once; all windows run on the bounded per-series daily frame,
    parallel across series. The online deployment is the same
    recurrence inside applyInPandasWithState."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    w_run = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    st = daily.select(
        "event_type",
        "d",
        "n",
        (
            F.sum("n").over(w_run) * 1.0 / F.count(F.lit(1)).over(w_run)
        ).alias("mu_run"),
    )
    m = st.select(
        "event_type",
        "d",
        F.sum(F.col("n") - F.col("mu_run") - _PH_DELTA)
        .over(w_run)
        .alias("mt"),
    )
    ph = m.select(
        "event_type",
        "d",
        (F.col("mt") - F.min("mt").over(w_run)).alias("ph"),
    )
    w_rk = Window.partitionBy("event_type").orderBy(
        F.col("ph").desc(), "d"
    )
    w_all = Window.partitionBy("event_type")
    ranked = ph.select(
        "event_type",
        "d",
        "ph",
        F.row_number().over(w_rk).alias("rk"),
        F.count(F.lit(1)).over(w_all).alias("n_days"),
    )
    return (
        ranked.filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("d").cast("string").alias("peak_day"),
            F.round("ph", 6).alias("peak_ph"),
            F.col("n_days").cast("long").alias("n_days"),
            (F.col("ph") > _PH_LAMBDA).alias("alarmed"),
        )
        .orderBy("event_type")
    )


_HURST_SIZES = (5, 10, 15)


def _hurst_chunk_sql(m: int) -> str:
    """One R/S window size as SQL: chunk the day-ordered daily-count
    series into complete blocks of m, rescaled range per block, then
    the 6dp-rounded ln(R/S) terms accumulate as exact DECIMAL."""
    return f"""
      SELECT {m} AS m,
             CAST(COUNT(*) AS BIGINT) AS n_chunks,
             CAST(CAST(SUM(CAST(ln_rs AS DECIMAL(10,6))) AS VARCHAR)
                  AS DOUBLE) / COUNT(*) AS mean_ln_rs
      FROM (
        SELECT chunk, ROUND(LN((mx - mn) / NULLIF(s, 0)), 6) AS ln_rs
        FROM (
          SELECT chunk,
                 MAX(cumdev) AS mx, MIN(cumdev) AS mn,
                 SQRT(CAST(CAST(SUM(CAST(ROUND(dev * dev, 6)
                                         AS DECIMAL(18,6))) AS VARCHAR)
                           AS DOUBLE) / {m}) AS s
          FROM (
            SELECT chunk, dev,
                   SUM(dev) OVER (PARTITION BY chunk ORDER BY rn
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS cumdev
            FROM (
              SELECT chunk, rn, n - mu AS dev
              FROM (
                SELECT chunk, rn, n,
                       SUM(n) OVER (PARTITION BY chunk) * 1.0 / {m} AS mu,
                       COUNT(*) OVER (PARTITION BY chunk) AS csize
                FROM (
                  SELECT CAST(FLOOR((rn - 1) / {m}) AS BIGINT) AS chunk, rn, n
                  FROM ds
                ) c
              ) cc WHERE csize = {m}
            ) d
          ) cd
          GROUP BY chunk
        ) rs WHERE s <> 0
      ) t
    """


@register(
    "evt_hurst_exponent",
    f"""
    WITH ds AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             ROW_NUMBER() OVER (ORDER BY CAST(ts AS DATE)) AS rn
      FROM events GROUP BY CAST(ts AS DATE)
    ),
    pts AS (
      {" UNION ALL ".join(_hurst_chunk_sql(m) for m in _HURST_SIZES)}
    ),
    xy AS (
      SELECT m, n_chunks, ROUND(mean_ln_rs, 6) AS y,
             ROUND(LN(m), 6) AS x
      FROM pts
    ),
    fit AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS k,
             CAST(CAST(SUM(CAST(x AS DECIMAL(8,6))) AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(y AS DECIMAL(8,6))) AS VARCHAR) AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST(x AS DECIMAL(8,6)) * CAST(y AS DECIMAL(8,6)))
                  AS VARCHAR) AS DOUBLE) AS sxy,
             CAST(CAST(SUM(CAST(x AS DECIMAL(8,6)) * CAST(x AS DECIMAL(8,6)))
                  AS VARCHAR) AS DOUBLE) AS sxx
      FROM xy
    )
    SELECT xy.m, xy.n_chunks, ROUND(xy.y, 6) AS mean_ln_rs,
           ROUND((f.k * f.sxy - f.sx * f.sy)
                 / (f.k * f.sxx - f.sx * f.sx), 6) AS hurst
    FROM xy CROSS JOIN fit f
    ORDER BY xy.m
    """,
)
def evt_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent via rescaled-range analysis of the daily event-
    count series [public method: Hurst 1951 / Mandelbrot-Wallis R/S —
    slope of ln(R/S) against ln(window): H ~ 0.5 = memoryless, > 0.5
    = persistent long memory, < 0.5 = mean-reverting; the long-memory
    member of the time-series deck beside evt_acf (short-lag linear
    memory) and evt_runs_test (sign randomness)]: the day rollup is
    the only corpus pass; for each window size m the bounded daily
    frame chunks into complete blocks, each block's range comes from
    a RUNNING cumulative-deviation window (sequential frame order =
    cross-engine parity, the cusum argument) and its deviation energy
    accumulates as 6dp-rounded exact DECIMAL (SCALE.md 9ac rule 2);
    ln(R/S) terms and the final 3-point log-log slope accumulate the
    same exact-decimal way, so every stage is partition-order-
    independent. Emits one row per window size with the fitted H
    riding along (the graph_modularity pattern).

    At 100 TB: one map-side-combinable rollup, windows over the
    bounded calendar frame, K·|chunks| epilogue rows. Per-series H at
    scale partitions the chunk windows by series key; dyadic window
    ladders just extend _HURST_SIZES."""
    ev = load_table(spark, sf_dir, "events")
    w_day = Window.orderBy(F.col("day"))
    # ONE corpus pass: the day-count frame feeds all three window
    # sizes — checkpoint it (the llm_rank_rbo shared-frame idiom).
    ds = (
        ev.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select("n", F.row_number().over(w_day).alias("rn"))
        .transform(materialize)
    )
    points = []
    for m in _HURST_SIZES:
        chunked = ds.select(
            ((F.col("rn") - 1) / m).cast("long").alias("chunk"),
            "rn",
            "n",
        )
        w_chunk = Window.partitionBy("chunk")
        cc = chunked.select(
            "chunk",
            "rn",
            "n",
            (F.sum("n").over(w_chunk) * 1.0 / m).alias("mu"),
            F.count(F.lit(1)).over(w_chunk).alias("csize"),
        ).filter(F.col("csize") == m)
        w_run = (
            Window.partitionBy("chunk")
            .orderBy("rn")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        d = cc.select(
            "chunk", "rn", (F.col("n") - F.col("mu")).alias("dev")
        ).select(
            "chunk",
            "dev",
            F.sum("dev").over(w_run).alias("cumdev"),
        )
        rs = (
            d.groupBy("chunk")
            .agg(
                F.max("cumdev").alias("mx"),
                F.min("cumdev").alias("mn"),
                F.sqrt(
                    F.sum(
                        F.round(F.col("dev") * F.col("dev"), 6).cast(
                            "decimal(18,6)"
                        )
                    )
                    .cast("string")
                    .cast("double")
                    / m
                ).alias("s"),
            )
            .filter(F.col("s") != 0)
        )
        point = rs.select(
            F.round(
                F.log((F.col("mx") - F.col("mn")) / F.expr("NULLIF(s, 0)")),
                6,
            ).alias("ln_rs")
        ).agg(
            F.lit(m).alias("m"),
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            (
                F.sum(F.col("ln_rs").cast("decimal(10,6)"))
                .cast("string")
                .cast("double")
                / F.count(F.lit(1))
            ).alias("mean_ln_rs"),
        )
        points.append(point)
    pts = reduce(DataFrame.unionByName, points)
    xy = pts.select(
        "m",
        "n_chunks",
        F.round("mean_ln_rs", 6).alias("y"),
        F.round(F.log(F.col("m").cast("double")), 6).alias("x"),
    )
    xd = F.col("x").cast("decimal(8,6)")
    yd = F.col("y").cast("decimal(8,6)")
    fit = xy.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum(xd).cast("string").cast("double").alias("sx"),
        F.sum(yd).cast("string").cast("double").alias("sy"),
        F.sum(xd * yd).cast("string").cast("double").alias("sxy"),
        F.sum(xd * xd).cast("string").cast("double").alias("sxx"),
    )
    c = {k: F.col(k) for k in ("k", "sx", "sy", "sxy", "sxx")}
    hurst = (c["k"] * c["sxy"] - c["sx"] * c["sy"]) / (
        c["k"] * c["sxx"] - c["sx"] * c["sx"]
    )
    return (
        xy.crossJoin(fit)
        .select(
            "m",
            "n_chunks",
            F.round("y", 6).alias("mean_ln_rs"),
            F.round(hurst, 6).alias("hurst"),
        )
        .orderBy("m")
    )


# Chi-square 95th-percentile critical values for df = 1..7, injected as
# identical literals in both engines (the llm_rank_rbo shared-literal
# rule; neither engine ships an inverse chi-square).
_CHI2_CRIT_95 = (3.841459, 5.991465, 7.814728, 9.487729,
                 11.070498, 12.591587, 14.067140)


def _ljung_box_oracle() -> str:
    from hive_test_spark.registry import ORACLES

    crit_case = "CASE lag " + " ".join(
        f"WHEN {df + 1} THEN CAST({c!r} AS DOUBLE)"
        for df, c in enumerate(_CHI2_CRIT_95)
    ) + " END"
    return f"""
    WITH base AS ({ORACLES["evt_acf"]}),
    nn AS (SELECT MAX(n_pairs + lag) AS n FROM base),
    terms AS (
      SELECT b.lag, b.acf, t.n,
             SUM(b.acf * b.acf / b.n_pairs) OVER (ORDER BY b.lag
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ssum
      FROM base b CROSS JOIN nn t
    ),
    withcrit AS (
      SELECT lag, acf, n, ssum, {crit_case} AS chi2_crit FROM terms
    )
    SELECT t.lag, t.acf,
           ROUND(t.n * (t.n + 2.0) * t.ssum, 6) AS q_stat,
           CAST(t.lag AS BIGINT) AS df,
           t.chi2_crit,
           t.n * (t.n + 2.0) * t.ssum > t.chi2_crit AS reject_whiteness
    FROM withcrit t
    ORDER BY t.lag
    """


@register("evt_ljung_box", _ljung_box_oracle())
def evt_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau whiteness test at every h = 1..7 [public
    method: Ljung & Box 1978 — Q(h) = n(n+2) Σ_{{k<=h}} r_k²/(n-k) vs
    the chi-square at df = h; THE residual-diagnostics gate a
    forecaster runs after fitting: if Q rejects, structure remains and
    evt_acf/evt_pacf say where]. Completes the ACF deck — evt_acf
    measures the coefficients, evt_pacf identifies AR order, this
    tests their JOINT significance. Composes the registered evt_acf
    frame directly (the evt_pacf reuse rule: derived diagnostics
    consume the verified frame, never re-derive it); n recovers
    exactly as MAX(n_pairs + lag), the per-lag denominators (n-k) ARE
    the verified n_pairs, and the Q ladder is a RUNNING window over
    the 7-row lag frame (sequential frame order = cross-engine parity,
    the cusum argument) on the 6dp-rounded ACF — identical scalar
    arithmetic on identical inputs, no new float contract. Chi-square
    critical values are shared literals (the llm_rank_rbo rule).

    At 100 TB: identical cost to evt_acf — one map-side date rollup is
    the only corpus pass; everything after is a 7-row epilogue."""
    from hive_test_spark.registry import QUERIES

    acf = QUERIES["evt_acf"](spark, sf_dir)
    nn = acf.agg(F.max(F.col("n_pairs") + F.col("lag")).alias("n"))
    w_run = Window.orderBy("lag").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    terms = acf.crossJoin(nn).select(
        "lag",
        "acf",
        "n",
        F.sum(F.col("acf") * F.col("acf") / F.col("n_pairs"))
        .over(w_run)
        .alias("ssum"),
    )
    # Shared-literal criticals as a CASE chain on the lag column (no
    # extra frame: createDataFrame would plant a Python RDD scan in an
    # otherwise JVM-only plan).
    crit = F.lit(None).cast("double")
    for df_, c in reversed(list(enumerate(_CHI2_CRIT_95))):
        crit = F.when(F.col("lag") == df_ + 1, F.lit(c)).otherwise(crit)
    q = F.col("n") * (F.col("n") + 2.0) * F.col("ssum")
    return (
        terms.select(
            "lag",
            "acf",
            F.round(q, 6).alias("q_stat"),
            F.col("lag").cast("long").alias("df"),
            crit.alias("chi2_crit"),
            (q > crit).alias("reject_whiteness"),
        )
        .orderBy("lag")
    )


# ---------------------------------------------------------------------------
# Round-12 wave: trend / normality / outlier / post-hoc / association deck.

# Two-sided 95% normal critical (6dp literal shared by both engines).
_Z_95 = 1.959964
# Bonferroni-corrected two-sided normal critical for the 21 day-of-week
# pairs: Phi^-1(1 - 0.05/42), computed once with Acklam's rational
# approximation + one Halley/erfc refinement (pure Python, no scipy)
# and injected as the SAME 6dp literal into both engines — the
# llm_rank_rbo shared-literal idiom.
_Z_BONF_21 = 3.038074

# Shared (type, day) 6dp-rounded daily-revenue CTE for the view-vs-
# purchase series deck (the evt_spearman/evt_kendall_tau ingest, NULL
# guard included).
_DAILY_VP_SQL = """s AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             ROUND(SUM(value), 6) AS rev
      FROM events
      WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL
      GROUP BY event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE)
    )"""


def _daily_vp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _DAILY_VP_SQL (one corpus pass, map-side
    combinable; callers materialize when they branch)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(
            F.col("event_type").isin("view", "purchase")
            & F.col("value").isNotNull()
        )
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.round(F.sum("value"), 6).alias("rev"))
    )


@register(
    "evt_mann_kendall",
    f"""
    WITH {_DAILY_VP_SQL},
    census AS (
      SELECT a.event_type,
             CAST(SUM(CASE WHEN b.rev > a.rev THEN 1 ELSE 0 END) AS BIGINT)
               AS n_gt,
             CAST(SUM(CASE WHEN b.rev < a.rev THEN 1 ELSE 0 END) AS BIGINT)
               AS n_lt
      FROM s a JOIN s b
        ON b.event_type = a.event_type AND b.day > a.day
      GROUP BY a.event_type
    ),
    ties AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS tie_term
      FROM (
        SELECT event_type, COUNT(*) AS t FROM s GROUP BY event_type, rev
      ) g GROUP BY event_type
    ),
    stat AS (
      SELECT t.event_type, t.n, c.n_gt - c.n_lt AS s_stat,
             (t.n * (t.n - 1) * (2 * t.n + 5) - t.tie_term) / 18.0 AS var_s
      FROM ties t JOIN census c ON c.event_type = t.event_type
    )
    SELECT event_type, n AS n_days, s_stat,
           ROUND(var_s, 6) AS var_s,
           ROUND(CASE WHEN s_stat > 0 THEN (s_stat - 1) / SQRT(var_s)
                      WHEN s_stat < 0 THEN (s_stat + 1) / SQRT(var_s)
                      ELSE 0.0 END, 6) AS z_score,
           CASE WHEN (CASE WHEN s_stat > 0 THEN (s_stat - 1) / SQRT(var_s)
                           WHEN s_stat < 0 THEN (s_stat + 1) / SQRT(var_s)
                           ELSE 0.0 END) > {_Z_95} THEN 'increasing'
                WHEN (CASE WHEN s_stat > 0 THEN (s_stat - 1) / SQRT(var_s)
                           WHEN s_stat < 0 THEN (s_stat + 1) / SQRT(var_s)
                           ELSE 0.0 END) < -{_Z_95} THEN 'decreasing'
                ELSE 'no_trend' END AS trend
    FROM stat ORDER BY event_type
    """,
)
def evt_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test per daily revenue series
    [public method: Mann 1945 / Kendall 1975 with the tie-corrected
    variance Var(S) = (n(n-1)(2n+5) - SUM t(t-1)(2t+5))/18 and the
    +-1 continuity-corrected normal z — the nonparametric "is this
    series drifting?" gate beside evt_theil_sen (how fast) and
    evt_kendall_tau (cross-series association)]: the (type, day)
    rollup is the only corpus pass; S is an INTEGER pair census over
    the calendar-bounded day frame (the evt_kendall_tau shape), the
    tie term is an integer rollup over per-distinct-value counts, so
    z is a single deterministic expression — no accumulation hazard
    anywhere. The trend label compares z against the shared
    two-sided 95% literal.

    At 100 TB: the self-join is over the bounded day dimension
    (grouped by series key), never the corpus; millions of series
    partition the census by series key with identical arithmetic —
    the O(n log n) merge-sort S-count is the whale-series rewrite."""
    s = _daily_vp(spark, sf_dir).transform(materialize)
    a = s.select(
        F.col("event_type").alias("et"),
        F.col("day").alias("d1"),
        F.col("rev").alias("r1"),
    )
    b = s.select(
        F.col("event_type").alias("et2"),
        F.col("day").alias("d2"),
        F.col("rev").alias("r2"),
    )
    census = (
        a.join(
            b,
            (F.col("et2") == F.col("et")) & (F.col("d2") > F.col("d1")),
        )
        .groupBy(F.col("et").alias("event_type"))
        .agg(
            F.sum(F.when(F.col("r2") > F.col("r1"), 1).otherwise(0))
            .cast("long")
            .alias("n_gt"),
            F.sum(F.when(F.col("r2") < F.col("r1"), 1).otherwise(0))
            .cast("long")
            .alias("n_lt"),
        )
    )
    ties = (
        s.groupBy("event_type", "rev")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.sum("t").cast("long").alias("n"),
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("tie_term"),
        )
        .select("event_type", "n", "tie_term")
    )
    stat = ties.join(census, "event_type").select(
        "event_type",
        "n",
        (F.col("n_gt") - F.col("n_lt")).alias("s_stat"),
        (
            (
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                - F.col("tie_term")
            )
            / 18.0
        ).alias("var_s"),
    )
    z = (
        F.when(
            F.col("s_stat") > 0,
            (F.col("s_stat") - 1) / F.sqrt(F.col("var_s")),
        )
        .when(
            F.col("s_stat") < 0,
            (F.col("s_stat") + 1) / F.sqrt(F.col("var_s")),
        )
        .otherwise(F.lit(0.0))
    )
    return stat.select(
        "event_type",
        F.col("n").alias("n_days"),
        "s_stat",
        F.round("var_s", 6).alias("var_s"),
        F.round(z, 6).alias("z_score"),
        F.when(z > _Z_95, F.lit("increasing"))
        .when(z < -_Z_95, F.lit("decreasing"))
        .otherwise(F.lit("no_trend"))
        .alias("trend"),
    ).orderBy("event_type")


# Chi-square 95% critical at df=2 (the JB statistic's asymptotic null).
_CHI2_95_DF2 = 5.991465


@register(
    "evt_jarque_bera",
    """
    WITH m AS (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(CAST(SUM(v) AS VARCHAR) AS DOUBLE) AS s1,
             CAST(CAST(SUM(v * v) AS VARCHAR) AS DOUBLE) AS s2,
             CAST(CAST(SUM((v * v) * v) AS VARCHAR) AS DOUBLE) AS s3,
             CAST(CAST(SUM((v * v) * (v * v)) AS VARCHAR) AS DOUBLE) AS s4
      FROM (
        -- DECIMAL(19,2) ingest of the 2dp-rounded values: width >= 19
        -- keeps every DuckDB product on the int128 path; all four
        -- power sums are then EXACT and partition-order-independent
        -- (the Spark side uses DECIMAL(8,2) so its (p1+p2+1) product
        -- rule tops out at the exact (35,8) quartic).
        SELECT event_type, CAST(ROUND(value, 2) AS DECIMAL(19,2)) AS v
        FROM events WHERE value IS NOT NULL
      ) t GROUP BY event_type
    ),
    c AS (
      SELECT event_type, n,
             s1 / n AS mu,
             s2 / n - (s1 / n) * (s1 / n) AS m2,
             s3 / n - 3 * (s1 / n) * (s2 / n)
                    + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
             s4 / n - 4 * (s1 / n) * (s3 / n)
                    + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                    - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
      FROM m
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_events,
           ROUND(mu, 6) AS mean_value,
           ROUND(m3 / POWER(m2, 1.5), 6) AS skewness,
           ROUND(m4 / (m2 * m2), 6) AS kurtosis,
           ROUND(n / 6.0 * (POWER(m3 / POWER(m2, 1.5), 2)
                 + POWER(m4 / (m2 * m2) - 3, 2) / 4.0), 6) AS jb_stat,
           (n / 6.0 * (POWER(m3 / POWER(m2, 1.5), 2)
                 + POWER(m4 / (m2 * m2) - 3, 2) / 4.0)) > 5.991465
             AS reject_normality
    FROM c ORDER BY event_type
    """,
)
def evt_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test per event type [public method:
    Jarque & Bera 1980 — JB = n/6 (S^2 + (K-3)^2/4), asymptotically
    chi-square(2) under normality; the moment-based normality gate
    completing the distribution-shape deck beside evt_ks_test
    (distribution equality), evt_levene (variance equality) and
    evt_anova_dow (mean equality)]: values are 2dp at source, so the
    DECIMAL ingest is lossless and all four raw power sums are EXACT
    integers at scale 8 — the SCALE.md 9ac discipline extended to
    third and fourth moments (Spark multiplies (8,2) operands so the
    quartic stays inside precision 38 at (35,8); the oracle widens to
    (19,2) operands so DuckDB's multiply runs on int128). Central
    moments, skewness, kurtosis, and JB are single deterministic
    double expressions from bitwise-equal sums; the reject flag
    compares against the shared chi-square(2) 95% literal.

    At 100 TB: ONE map-side-combinable corpus pass carrying four
    decimal accumulators per group — the same shuffle profile as
    agg_stats; the epilogue is K rows. Per-segment normality scans
    (per SKU, per cohort) reuse the identical shape keyed by the
    segment dimension."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    # decimal(8,2), not (19,2): Spark's product rule (p1+p2+1, s1+s2)
    # must keep the quartic inside precision 38 — (8,2)^2 = (17,4),
    # (17,4)x(8,2) = (26,6), (17,4)^2 = (35,8), all exact.
    v = F.round("value", 2).cast("decimal(8,2)")
    v2 = v * v
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(v).cast("string").cast("double").alias("s1"),
        F.sum(v2).cast("string").cast("double").alias("s2"),
        F.sum(v2 * v).cast("string").cast("double").alias("s3"),
        F.sum(v2 * v2).cast("string").cast("double").alias("s4"),
    )
    n, s1, s2, s3, s4 = (F.col(x) for x in ("n", "s1", "s2", "s3", "s4"))
    mu = s1 / n
    m2 = s2 / n - mu * mu
    m3 = s3 / n - 3 * mu * (s2 / n) + 2 * mu * mu * mu
    m4 = (
        s4 / n
        - 4 * mu * (s3 / n)
        + 6 * mu * mu * (s2 / n)
        - 3 * mu * mu * mu * mu
    )
    skew = m3 / F.pow(m2, 1.5)
    kurt = m4 / (m2 * m2)
    jb = n / 6.0 * (F.pow(skew, 2) + F.pow(kurt - 3, 2) / 4.0)
    return m.select(
        "event_type",
        n.cast("long").alias("n_events"),
        F.round(mu, 6).alias("mean_value"),
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("kurtosis"),
        F.round(jb, 6).alias("jb_stat"),
        (jb > _CHI2_95_DF2).alias("reject_normality"),
    ).orderBy("event_type")


_FENCE_MULT = 1.5


@register(
    "evt_tukey_fences",
    f"""
    WITH q AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             ROUND(quantile_cont(value, 0.25), 6) AS q1,
             ROUND(quantile_cont(value, 0.75), 6) AS q3
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type
    ),
    f AS (
      SELECT event_type, n_events, q1, q3,
             ROUND(q3 - q1, 6) AS iqr,
             q1 - {_FENCE_MULT} * (q3 - q1) AS lo,
             q3 + {_FENCE_MULT} * (q3 - q1) AS hi
      FROM q
    )
    SELECT f.event_type, f.n_events, f.q1, f.q3, f.iqr,
           ROUND(f.lo, 6) AS fence_lo,
           ROUND(f.hi, 6) AS fence_hi,
           CAST(SUM(CASE WHEN e.value < f.lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_below,
           CAST(SUM(CASE WHEN e.value > f.hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_above,
           ROUND(MAX(e.value), 6) AS max_value
    FROM events e JOIN f ON f.event_type = e.event_type
    WHERE e.value IS NOT NULL
    GROUP BY f.event_type, f.n_events, f.q1, f.q3, f.iqr, f.lo, f.hi
    ORDER BY f.event_type
    """,
)
def evt_tukey_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey boxplot-fence outlier profile per event type [public
    method: Tukey 1977 — outliers fall outside Q1/Q3 -/+ 1.5 IQR; the
    rank-based robust companion to evt_anomaly_zscore (moment-based)
    and evt_anomaly_mad (median-based), immune to the outliers it
    hunts]: quartiles are exact percentile_cont/quantile_cont twins
    rounded at 6dp (the agg_percentile parity), fences derive from
    the ROUNDED quartiles so both engines compare raw values against
    bitwise-equal fence doubles, and the outlier census is an
    integer count — strict < / > keeps boundary values inboard in
    both engines identically.

    At 100 TB: two corpus passes — the exact per-group quantile sort
    and the fence-count scan with the 5-row fence table broadcast;
    the first pass swaps to approx_percentile (t-digest sketch,
    map-side combinable) when the group sort outgrows the cluster,
    which changes the fence values but not the operator shape."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    q = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.percentile("value", F.lit(0.25)), 6).alias("q1"),
        F.round(F.percentile("value", F.lit(0.75)), 6).alias("q3"),
    )
    f = q.select(
        "event_type",
        "n_events",
        "q1",
        "q3",
        F.round(F.col("q3") - F.col("q1"), 6).alias("iqr"),
        (F.col("q1") - _FENCE_MULT * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + _FENCE_MULT * (F.col("q3") - F.col("q1"))).alias("hi"),
    )
    return (
        ev.join(F.broadcast(f), "event_type")
        .groupBy("event_type", "n_events", "q1", "q3", "iqr", "lo", "hi")
        .agg(
            F.sum(F.when(F.col("value") < F.col("lo"), 1).otherwise(0))
            .cast("long")
            .alias("n_below"),
            F.sum(F.when(F.col("value") > F.col("hi"), 1).otherwise(0))
            .cast("long")
            .alias("n_above"),
            F.round(F.max("value"), 6).alias("max_value"),
        )
        .select(
            "event_type",
            "n_events",
            "q1",
            "q3",
            "iqr",
            F.round("lo", 6).alias("fence_lo"),
            F.round("hi", 6).alias("fence_hi"),
            "n_below",
            "n_above",
            "max_value",
        )
        .orderBy("event_type")
    )


@register(
    "evt_pairwise_welch",
    f"""
    WITH daily AS (
      SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE)
                  - DATE '{_DOW_ANCHOR}' AS INT) % 7 AS dow,
             ROUND(SUM(value), 6) AS rev
      FROM events GROUP BY 1, 2
    ),
    g AS (
      -- DECIMAL(19,6) ingest of the 6dp daily revenues: group moment
      -- sums are EXACT (int128 products), surfaced via the
      -- decimal->string->double parity cast.
      SELECT dow,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(CAST(SUM(rd) AS VARCHAR) AS DOUBLE) AS s1,
             CAST(CAST(SUM(rd * rd) AS VARCHAR) AS DOUBLE) AS s2
      FROM (SELECT dow, CAST(rev AS DECIMAL(19,6)) AS rd FROM daily) t
      GROUP BY dow
    ),
    pairs AS (
      SELECT a.dow AS dow_a, b.dow AS dow_b,
             a.n AS na, b.n AS nb,
             a.s1 / a.n AS ma, b.s1 / b.n AS mb,
             (a.s2 - a.s1 * a.s1 / a.n) / (a.n - 1) AS va,
             (b.s2 - b.s1 * b.s1 / b.n) / (b.n - 1) AS vb
      FROM g a JOIN g b ON a.dow < b.dow
    )
    SELECT CAST(dow_a AS BIGINT) AS dow_a,
           CAST(dow_b AS BIGINT) AS dow_b,
           CAST(na AS BIGINT) AS n_a,
           CAST(nb AS BIGINT) AS n_b,
           ROUND(ma - mb, 6) AS mean_diff,
           ROUND((ma - mb) / SQRT(va / na + vb / nb), 6) AS t_stat,
           ROUND(POWER(va / na + vb / nb, 2)
                 / (POWER(va / na, 2) / (na - 1)
                    + POWER(vb / nb, 2) / (nb - 1)), 6) AS welch_df,
           ABS((ma - mb) / SQRT(va / na + vb / nb)) > {_Z_BONF_21}
             AS significant
    FROM pairs ORDER BY dow_a, dow_b
    """,
)
def evt_pairwise_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bonferroni-corrected pairwise Welch t-tests between day-of-week
    daily-revenue groups [public method: Welch 1947 unequal-variance t
    with the Welch-Satterthwaite df, Bonferroni 0.05/21 family
    correction — the post-hoc follow-up evt_anova_dow's omnibus F
    cannot answer: WHICH weekdays differ?]: the per-day rollup is the
    only corpus pass (the anova frame); group moments accumulate as
    exact DECIMAL over the 6dp daily revenues (SCALE.md 9ac), so
    means/variances are single deterministic expressions from
    bitwise-equal sums, and the 7x7 pair frame is metadata-sized. The
    significance flag compares |t| against the Acklam-computed
    Phi^-1(1 - 0.05/42) literal shared by both engines (dfs ~= 50 per
    group make the normal approximation conservative to ~2% on the
    critical value — documented contract).

    At 100 TB: one map-side-combinable rollup to the day dimension,
    one 7-row moment aggregate, one broadcast 21-pair epilogue —
    nothing downstream of the first shuffle scales with the corpus."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("day"),
        (
            F.datediff(F.to_date("ts"), F.to_date(F.lit(_DOW_ANCHOR))) % 7
        ).alias("dow"),
    ).agg(F.round(F.sum("value"), 6).alias("rev"))
    rd = F.col("rev").cast("decimal(18,6)")
    g = daily.groupBy("dow").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(rd).cast("string").cast("double").alias("s1"),
        F.sum(rd * rd).cast("string").cast("double").alias("s2"),
    )
    a = g.select(
        F.col("dow").alias("dow_a"),
        F.col("n").alias("na"),
        (F.col("s1") / F.col("n")).alias("ma"),
        (
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("va"),
    )
    b = g.select(
        F.col("dow").alias("dow_b"),
        F.col("n").alias("nb"),
        (F.col("s1") / F.col("n")).alias("mb"),
        (
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("vb"),
    )
    pairs = a.join(b, F.col("dow_a") < F.col("dow_b"))
    se2 = F.col("va") / F.col("na") + F.col("vb") / F.col("nb")
    t = (F.col("ma") - F.col("mb")) / F.sqrt(se2)
    df_w = F.pow(se2, 2) / (
        F.pow(F.col("va") / F.col("na"), 2) / (F.col("na") - 1)
        + F.pow(F.col("vb") / F.col("nb"), 2) / (F.col("nb") - 1)
    )
    return pairs.select(
        F.col("dow_a").cast("long").alias("dow_a"),
        F.col("dow_b").cast("long").alias("dow_b"),
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round(F.col("ma") - F.col("mb"), 6).alias("mean_diff"),
        F.round(t, 6).alias("t_stat"),
        F.round(df_w, 6).alias("welch_df"),
        (F.abs(t) > _Z_BONF_21).alias("significant"),
    ).orderBy("dow_a", "dow_b")


@register(
    "evt_mutual_info",
    f"""
    WITH cells AS (
      SELECT event_type,
             CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE)
                  - DATE '{_DOW_ANCHOR}' AS INT) % 7 AS dow,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    marg AS (
      SELECT event_type, dow, c,
             SUM(c) OVER (PARTITION BY event_type) AS r,
             SUM(c) OVER (PARTITION BY dow) AS cc,
             SUM(c) OVER () AS n
      FROM cells
    ),
    terms AS (
      SELECT
        CAST(CAST(SUM(CAST(ROUND((c * 1.0 / n)
               * LN((c * 1.0 * n) / (r * 1.0 * cc)), 6)
             AS DECIMAL(12,6))) AS VARCHAR) AS DOUBLE) AS mi,
        MAX(n) AS n
      FROM marg
    ),
    hx AS (
      SELECT CAST(CAST(SUM(CAST(ROUND(-(r * 1.0 / n) * LN(r * 1.0 / n), 6)
               AS DECIMAL(12,6))) AS VARCHAR) AS DOUBLE) AS h
      FROM (SELECT event_type, MAX(r) AS r, MAX(n) AS n
            FROM marg GROUP BY event_type) t
    ),
    hy AS (
      SELECT CAST(CAST(SUM(CAST(ROUND(-(cc * 1.0 / n) * LN(cc * 1.0 / n), 6)
               AS DECIMAL(12,6))) AS VARCHAR) AS DOUBLE) AS h
      FROM (SELECT dow, MAX(cc) AS cc, MAX(n) AS n
            FROM marg GROUP BY dow) t
    )
    SELECT CAST(t.n AS BIGINT) AS n_events,
           ROUND(t.mi, 6) AS mi_nats,
           ROUND(hx.h, 6) AS h_type,
           ROUND(hy.h, 6) AS h_dow,
           ROUND(t.mi / SQRT(hx.h * hy.h), 6) AS nmi
    FROM terms t CROSS JOIN hx CROSS JOIN hy
    """,
)
def evt_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event type and day-of-week [public
    method: Shannon MI = SUM p_ij ln(p_ij / p_i p_j) with
    sqrt-normalized NMI (Strehl & Ghosh 2002) — the information-
    theoretic association measure beside evt_chi2_cramers
    (chi-square/Cramer's V on the same contingency shape) and
    evt_entropy_over_time (marginal entropy drift)]: the contingency
    table is ONE map-side-combinable integer count rollup; every MI /
    entropy term is a single deterministic expression over exact
    integer counts (the ratio inside LN is integers-only), rounded at
    6dp per term and accumulated as exact DECIMAL over the <= 5x7
    cell frame (the pca/hits per-term rounding idiom), so the sums
    are partition-order-independent by construction.

    At 100 TB: the corpus collapses to the K x 7 contingency table in
    one combinable pass; the windows and term sums run over that
    metadata-sized frame. Feature-selection sweeps (MI of label vs
    thousands of features) partition the same shape by feature key."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        (
            F.datediff(F.to_date("ts"), F.to_date(F.lit(_DOW_ANCHOR))) % 7
        ).alias("dow"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    w_r = Window.partitionBy("event_type")
    w_c = Window.partitionBy("dow")
    w_n = Window.partitionBy()
    marg = cells.select(
        "event_type",
        "dow",
        "c",
        F.sum("c").over(w_r).alias("r"),
        F.sum("c").over(w_c).alias("cc"),
        F.sum("c").over(w_n).alias("n"),
    ).transform(materialize)
    mi_term = F.round(
        (F.col("c") * 1.0 / F.col("n"))
        * F.log(
            (F.col("c") * 1.0 * F.col("n")) / (F.col("r") * 1.0 * F.col("cc"))
        ),
        6,
    ).cast("decimal(12,6)")
    terms = marg.agg(
        F.sum(mi_term).cast("string").cast("double").alias("mi"),
        F.max("n").alias("n"),
    )
    h_of = lambda col: F.round(
        -(F.col(col) * 1.0 / F.col("n"))
        * F.log(F.col(col) * 1.0 / F.col("n")),
        6,
    ).cast("decimal(12,6)")
    hx = (
        marg.groupBy("event_type")
        .agg(F.max("r").alias("r"), F.max("n").alias("n"))
        .agg(F.sum(h_of("r")).cast("string").cast("double").alias("h_type"))
    )
    hy = (
        marg.groupBy("dow")
        .agg(F.max("cc").alias("cc"), F.max("n").alias("n"))
        .agg(F.sum(h_of("cc")).cast("string").cast("double").alias("h_dow"))
    )
    return (
        terms.crossJoin(hx)
        .crossJoin(hy)
        .select(
            F.col("n").cast("long").alias("n_events"),
            F.round("mi", 6).alias("mi_nats"),
            F.round("h_type", 6).alias("h_type"),
            F.round("h_dow", 6).alias("h_dow"),
            F.round(
                F.col("mi") / F.sqrt(F.col("h_type") * F.col("h_dow")), 6
            ).alias("nmi"),
        )
    )


# Cliff's delta magnitude bands (Romano et al. 2006 conventional cuts).
_CLIFF_SMALL, _CLIFF_MEDIUM, _CLIFF_LARGE = 0.147, 0.33, 0.474


@register(
    "evt_cliffs_delta",
    f"""
    WITH {_DAILY_VP_SQL},
    x AS (SELECT rev FROM s WHERE event_type = 'view'),
    y AS (SELECT rev FROM s WHERE event_type = 'purchase'),
    census AS (
      SELECT CAST(SUM(CASE WHEN x.rev > y.rev THEN 1 ELSE 0 END) AS BIGINT)
               AS n_gt,
             CAST(SUM(CASE WHEN x.rev < y.rev THEN 1 ELSE 0 END) AS BIGINT)
               AS n_lt,
             CAST(SUM(CASE WHEN x.rev = y.rev THEN 1 ELSE 0 END) AS BIGINT)
               AS n_eq
      FROM x CROSS JOIN y
    ),
    sizes AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM x) AS nx,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM y) AS ny
    )
    SELECT nx, ny, n_gt, n_lt, n_eq,
           ROUND((n_gt - n_lt) * 1.0 / (nx * ny), 6) AS cliffs_delta,
           CASE WHEN ABS((n_gt - n_lt) * 1.0 / (nx * ny)) < {_CLIFF_SMALL}
                  THEN 'negligible'
                WHEN ABS((n_gt - n_lt) * 1.0 / (nx * ny)) < {_CLIFF_MEDIUM}
                  THEN 'small'
                WHEN ABS((n_gt - n_lt) * 1.0 / (nx * ny)) < {_CLIFF_LARGE}
                  THEN 'medium'
                ELSE 'large' END AS magnitude
    FROM census CROSS JOIN sizes
    """,
)
def evt_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta ordinal effect size between the view and purchase
    daily revenue distributions [public method: Cliff 1993 — delta =
    (#(x>y) - #(x<y)) / (nx ny), the dominance-probability effect
    size that pairs with evt_mann_whitney's U (delta = 2U/(nx ny) - 1)
    and answers what its p-value cannot: HOW MUCH do the
    distributions separate; banded by the Romano et al. 2006 cuts]:
    the (type, day) rollup is the only corpus pass, the dominance
    census is an INTEGER full cross over the two calendar-bounded day
    frames (~365 x ~365, one broadcast task), so delta and its band
    are single deterministic expressions — no accumulation hazard.

    At 100 TB: the census is over the bounded day dimension, never
    the corpus; for value-level comparisons at corpus scale the
    rewrite is the rank-sum identity via evt_mann_whitney's midrank
    machinery (one sort-free window pass), which this operator's
    day-frame census cross-checks at fixture scale."""
    s = _daily_vp(spark, sf_dir).transform(materialize)
    x = s.filter(F.col("event_type") == "view").select(
        F.col("rev").alias("xr")
    )
    y = s.filter(F.col("event_type") == "purchase").select(
        F.col("rev").alias("yr")
    )
    census = x.crossJoin(y).agg(
        F.sum(F.when(F.col("xr") > F.col("yr"), 1).otherwise(0))
        .cast("long")
        .alias("n_gt"),
        F.sum(F.when(F.col("xr") < F.col("yr"), 1).otherwise(0))
        .cast("long")
        .alias("n_lt"),
        F.sum(F.when(F.col("xr") == F.col("yr"), 1).otherwise(0))
        .cast("long")
        .alias("n_eq"),
    )
    sizes = x.agg(F.count(F.lit(1)).cast("long").alias("nx")).crossJoin(
        y.agg(F.count(F.lit(1)).cast("long").alias("ny"))
    )
    delta = (F.col("n_gt") - F.col("n_lt")) * 1.0 / (
        F.col("nx") * F.col("ny")
    )
    return census.crossJoin(F.broadcast(sizes)).select(
        "nx",
        "ny",
        "n_gt",
        "n_lt",
        "n_eq",
        F.round(delta, 6).alias("cliffs_delta"),
        F.when(F.abs(delta) < _CLIFF_SMALL, F.lit("negligible"))
        .when(F.abs(delta) < _CLIFF_MEDIUM, F.lit("small"))
        .when(F.abs(delta) < _CLIFF_LARGE, F.lit("medium"))
        .otherwise(F.lit("large"))
        .alias("magnitude"),
    )


@register(
    "evt_odds_ratio",
    f"""
    WITH flags AS (
      SELECT CASE WHEN CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE)
                       - DATE '{_DOW_ANCHOR}' AS INT) % 7 IN (5, 6)
                  THEN 1 ELSE 0 END AS weekend,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS outcome
      FROM events
    ),
    cells AS (
      SELECT CAST(SUM(weekend * outcome) AS BIGINT) AS a,
             CAST(SUM(weekend * (1 - outcome)) AS BIGINT) AS b,
             CAST(SUM((1 - weekend) * outcome) AS BIGINT) AS c,
             CAST(SUM((1 - weekend) * (1 - outcome)) AS BIGINT) AS d
      FROM flags
    )
    SELECT a AS weekend_purchases, b AS weekend_other,
           c AS weekday_purchases, d AS weekday_other,
           ROUND((a * 1.0 * d) / (b * 1.0 * c), 6) AS odds_ratio,
           ROUND(EXP(LN((a * 1.0 * d) / (b * 1.0 * c))
                 - {_Z_95} * SQRT(1.0/a + 1.0/b + 1.0/c + 1.0/d)), 6)
             AS or_ci_lo,
           ROUND(EXP(LN((a * 1.0 * d) / (b * 1.0 * c))
                 + {_Z_95} * SQRT(1.0/a + 1.0/b + 1.0/c + 1.0/d)), 6)
             AS or_ci_hi,
           ROUND((a * 1.0 / (a + b)) / (c * 1.0 / (c + d)), 6)
             AS risk_ratio
    FROM cells
    """,
)
def evt_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekend-vs-weekday purchase odds ratio with the Wald CI [public
    method: Woolf 1955 — SE(ln OR) = sqrt(1/a + 1/b + 1/c + 1/d), CI
    = exp(ln OR -/+ z SE); the epidemiology-style 2x2 readout beside
    evt_ab_lift (difference-in-proportions) and evt_chi2_cramers
    (independence test on the full table): multiplicative effect with
    uncertainty]: ONE map-side-combinable pass reduces the corpus to
    the four integer cells, so the OR, risk ratio, and CI bounds are
    single deterministic expressions over exact integers — no
    accumulation hazard; z is the shared two-sided 95% literal.

    At 100 TB: a 4-accumulator combinable aggregate — the cheapest
    shape in the deck. Stratified ORs (per country, per cohort;
    Mantel-Haenszel pooling) key the same pass by the stratum
    dimension."""
    ev = load_table(spark, sf_dir, "events")
    weekend = (
        F.when(
            (
                F.datediff(F.to_date("ts"), F.to_date(F.lit(_DOW_ANCHOR))) % 7
            ).isin(5, 6),
            1,
        ).otherwise(0)
    )
    outcome = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    cells = ev.select(
        weekend.alias("w"), outcome.alias("o")
    ).agg(
        F.sum(F.col("w") * F.col("o")).cast("long").alias("a"),
        F.sum(F.col("w") * (1 - F.col("o"))).cast("long").alias("b"),
        F.sum((1 - F.col("w")) * F.col("o")).cast("long").alias("c"),
        F.sum((1 - F.col("w")) * (1 - F.col("o"))).cast("long").alias("d"),
    )
    a, b, c, d = (F.col(x) for x in ("a", "b", "c", "d"))
    or_ = (a * 1.0 * d) / (b * 1.0 * c)
    se = F.sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)
    return cells.select(
        a.alias("weekend_purchases"),
        b.alias("weekend_other"),
        c.alias("weekday_purchases"),
        d.alias("weekday_other"),
        F.round(or_, 6).alias("odds_ratio"),
        F.round(F.exp(F.log(or_) - _Z_95 * se), 6).alias("or_ci_lo"),
        F.round(F.exp(F.log(or_) + _Z_95 * se), 6).alias("or_ci_hi"),
        F.round((a * 1.0 / (a + b)) / (c * 1.0 / (c + d)), 6).alias(
            "risk_ratio"
        ),
    )


@register(
    "evt_cochran_armitage",
    f"""
    WITH g AS (
      SELECT CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE)
                  - DATE '{_DOW_ANCHOR}' AS INT) % 7 AS w,
             CAST(COUNT(*) AS BIGINT) AS n_i,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS r_i
      FROM events GROUP BY 1
    ),
    s AS (
      SELECT CAST(SUM(n_i) AS BIGINT) AS n,
             CAST(SUM(r_i) AS BIGINT) AS r,
             CAST(SUM(w * r_i) AS BIGINT) AS swr,
             CAST(SUM(w * n_i) AS BIGINT) AS swn,
             CAST(SUM(w * w * n_i) AS BIGINT) AS swwn,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM g
    )
    SELECT n AS n_events, r AS n_purchases, k AS n_groups,
           ROUND(r * 1.0 / n, 6) AS pooled_rate,
           ROUND(swr - swn * (r * 1.0 / n), 6) AS t_num,
           ROUND((swr - swn * (r * 1.0 / n))
                 / SQRT((r * 1.0 / n) * (1 - r * 1.0 / n)
                        * (swwn - swn * 1.0 * swn / n)), 6) AS z_score,
           ABS((swr - swn * (r * 1.0 / n))
               / SQRT((r * 1.0 / n) * (1 - r * 1.0 / n)
                      * (swwn - swn * 1.0 * swn / n))) > {_Z_95}
             AS significant
    FROM s
    """,
)
def evt_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test for the purchase rate across
    ordered day-of-week groups [public method: Cochran 1954 /
    Armitage 1955 — T = SUM w_i (r_i - n_i pbar), Var(T) =
    pbar(1-pbar)(SUM n_i w_i^2 - (SUM n_i w_i)^2 / N), z = T/sqrt(V);
    the ORDERED-groups complement to evt_chi2_cramers' unordered
    independence test: is conversion drifting monotonically through
    the week?]: one map-side-combinable pass reduces the corpus to
    per-group (n_i, r_i) integer cells with dow itself as the score
    w_i, so T, Var, and z are single deterministic expressions over
    exact integer sums — no accumulation hazard; the flag compares
    |z| against the shared two-sided 95% literal.

    At 100 TB: a K-row integer rollup plus a 1-row epilogue — the
    evt_odds_ratio shape. Dose-response sweeps (rate vs ordered
    exposure buckets) key the identical pass by the bucket score."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy(
        (
            F.datediff(F.to_date("ts"), F.to_date(F.lit(_DOW_ANCHOR))) % 7
        ).alias("w")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_i"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("r_i"),
    )
    s = g.agg(
        F.sum("n_i").cast("long").alias("n"),
        F.sum("r_i").cast("long").alias("r"),
        F.sum(F.col("w") * F.col("r_i")).cast("long").alias("swr"),
        F.sum(F.col("w") * F.col("n_i")).cast("long").alias("swn"),
        F.sum(F.col("w") * F.col("w") * F.col("n_i"))
        .cast("long")
        .alias("swwn"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    p = F.col("r") * 1.0 / F.col("n")
    t_num = F.col("swr") - F.col("swn") * p
    z = t_num / F.sqrt(
        p
        * (1 - p)
        * (F.col("swwn") - F.col("swn") * 1.0 * F.col("swn") / F.col("n"))
    )
    return s.select(
        F.col("n").alias("n_events"),
        F.col("r").alias("n_purchases"),
        F.col("k").alias("n_groups"),
        F.round(p, 6).alias("pooled_rate"),
        F.round(t_num, 6).alias("t_num"),
        F.round(z, 6).alias("z_score"),
        (F.abs(z) > _Z_95).alias("significant"),
    )


# One-sided 95% normal critical (TOST legs) + equivalence margin as a
# fraction of the pooled mean.
_Z_95_ONE = 1.644854
_TOST_MARGIN_FRAC = 0.1


@register(
    "evt_tost_equivalence",
    f"""
    WITH {_DAILY_VP_SQL},
    g AS (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(CAST(SUM(rd) AS VARCHAR) AS DOUBLE) AS s1,
             CAST(CAST(SUM(rd * rd) AS VARCHAR) AS DOUBLE) AS s2
      FROM (SELECT event_type, CAST(rev AS DECIMAL(19,6)) AS rd FROM s) t
      GROUP BY event_type
    ),
    m AS (
      SELECT
        (SELECT n FROM g WHERE event_type = 'view') AS n1,
        (SELECT s1 / n FROM g WHERE event_type = 'view') AS m1,
        (SELECT (s2 - s1 * s1 / n) / (n - 1)
         FROM g WHERE event_type = 'view') AS v1,
        (SELECT n FROM g WHERE event_type = 'purchase') AS n2,
        (SELECT s1 / n FROM g WHERE event_type = 'purchase') AS m2,
        (SELECT (s2 - s1 * s1 / n) / (n - 1)
         FROM g WHERE event_type = 'purchase') AS v2
    ),
    t AS (
      SELECT n1, n2, m1, m2,
             m1 - m2 AS diff,
             {_TOST_MARGIN_FRAC} * (m1 + m2) / 2 AS delta,
             SQRT(v1 / n1 + v2 / n2) AS se
      FROM m
    )
    SELECT CAST(n1 AS BIGINT) AS n_view, CAST(n2 AS BIGINT) AS n_purchase,
           ROUND(m1, 6) AS mean_view, ROUND(m2, 6) AS mean_purchase,
           ROUND(diff, 6) AS mean_diff,
           ROUND(delta, 6) AS margin,
           ROUND((diff + delta) / se, 6) AS t_lower,
           ROUND((diff - delta) / se, 6) AS t_upper,
           ((diff + delta) / se > {_Z_95_ONE}
            AND (diff - delta) / se < -{_Z_95_ONE}) AS equivalent
    FROM t
    """,
)
def evt_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence test between the view and purchase daily
    revenue means [public method: Schuirmann 1987 two one-sided
    tests — equivalence is CLAIMED only when BOTH one-sided nulls
    (diff <= -delta, diff >= +delta) reject; the inferential inverse
    of evt_pairwise_welch's difference tests, answering "are these
    means the SAME to within a margin?" — absence of significance is
    not equivalence, TOST is]: the margin is {_TOST_MARGIN_FRAC:.0%}
    of the pooled mean (derived from the same exact sums, so it is a
    deterministic single expression, not a tunable float); group
    moments accumulate as exact DECIMAL over the 6dp daily revenues
    (SCALE.md 9ac) and both z-legs compare against the shared
    one-sided 95% literal. Large day counts justify the normal
    critical (documented contract, the evt_pairwise_welch argument).

    At 100 TB: the (type, day) rollup is the only corpus pass; the
    moment rollup is 2 rows and the TOST epilogue is 1 row.
    Per-experiment equivalence sweeps key the same shape by
    experiment id."""
    s = _daily_vp(spark, sf_dir)
    rd = F.col("rev").cast("decimal(18,6)")
    g = s.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(rd).cast("string").cast("double").alias("s1"),
        F.sum(rd * rd).cast("string").cast("double").alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (
        F.col("n") - 1
    )
    a = g.filter(F.col("event_type") == "view").select(
        F.col("n").alias("n1"), mean.alias("m1"), var.alias("v1")
    )
    b = g.filter(F.col("event_type") == "purchase").select(
        F.col("n").alias("n2"), mean.alias("m2"), var.alias("v2")
    )
    t = a.crossJoin(b).select(
        "n1",
        "n2",
        "m1",
        "m2",
        (F.col("m1") - F.col("m2")).alias("diff"),
        (_TOST_MARGIN_FRAC * (F.col("m1") + F.col("m2")) / 2).alias("delta"),
        F.sqrt(F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2")).alias(
            "se"
        ),
    )
    t_lo = (F.col("diff") + F.col("delta")) / F.col("se")
    t_hi = (F.col("diff") - F.col("delta")) / F.col("se")
    return t.select(
        F.col("n1").cast("long").alias("n_view"),
        F.col("n2").cast("long").alias("n_purchase"),
        F.round("m1", 6).alias("mean_view"),
        F.round("m2", 6).alias("mean_purchase"),
        F.round("diff", 6).alias("mean_diff"),
        F.round("delta", 6).alias("margin"),
        F.round(t_lo, 6).alias("t_lower"),
        F.round(t_hi, 6).alias("t_upper"),
        ((t_lo > _Z_95_ONE) & (t_hi < -_Z_95_ONE)).alias("equivalent"),
    )


@register(
    "evt_poisson_rate_ratio",
    f"""
    WITH d AS (
      SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             CASE WHEN CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE)
                       - DATE '{_DOW_ANCHOR}' AS INT) % 7 IN (5, 6)
                  THEN 1 ELSE 0 END AS weekend,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS purchases
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT CAST(SUM(CASE WHEN weekend = 1 THEN purchases END) AS BIGINT)
               AS c1,
             CAST(SUM(CASE WHEN weekend = 0 THEN purchases END) AS BIGINT)
               AS c2,
             CAST(SUM(weekend) AS BIGINT) AS t1,
             CAST(SUM(1 - weekend) AS BIGINT) AS t2
      FROM d
    )
    SELECT c1 AS weekend_purchases, t1 AS weekend_days,
           c2 AS weekday_purchases, t2 AS weekday_days,
           ROUND(c1 * 1.0 / t1, 6) AS weekend_rate,
           ROUND(c2 * 1.0 / t2, 6) AS weekday_rate,
           ROUND((c1 * 1.0 / t1) / (c2 * 1.0 / t2), 6) AS rate_ratio,
           ROUND(EXP(LN((c1 * 1.0 / t1) / (c2 * 1.0 / t2))
                 - {_Z_95} * SQRT(1.0 / c1 + 1.0 / c2)), 6) AS rr_ci_lo,
           ROUND(EXP(LN((c1 * 1.0 / t1) / (c2 * 1.0 / t2))
                 + {_Z_95} * SQRT(1.0 / c1 + 1.0 / c2)), 6) AS rr_ci_hi
    FROM s
    """,
)
def evt_poisson_rate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekend-vs-weekday purchase RATE ratio under the Poisson model
    [public method: the two-sample Poisson rate comparison with the
    Wald interval on the log rate ratio, SE = sqrt(1/c1 + 1/c2)
    (Rothman/Greenland) — the PER-TIME companion to evt_odds_ratio's
    per-event 2x2: the OR asks "is a weekend event likelier to be a
    purchase", this asks "does a weekend DAY produce purchases
    faster", with day counts as exposure]: the corpus collapses to
    per-day purchase counts in one combinable pass, exposures are
    integer day counts from the same frame, and the ratio with its
    CI is a single deterministic expression over four exact
    integers; z is the shared two-sided 95% literal.

    At 100 TB: a day-dimension rollup plus a 1-row epilogue — the
    evt_odds_ratio shape with exposure tracking. Per-segment rate
    surveillance keys the identical pass by segment."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        F.to_date("ts").alias("day"),
        F.when(
            (
                F.datediff(F.to_date("ts"), F.to_date(F.lit(_DOW_ANCHOR))) % 7
            ).isin(5, 6),
            1,
        )
        .otherwise(0)
        .alias("weekend"),
    ).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("purchases")
    )
    s = d.agg(
        F.sum(F.when(F.col("weekend") == 1, F.col("purchases")))
        .cast("long")
        .alias("c1"),
        F.sum(F.when(F.col("weekend") == 0, F.col("purchases")))
        .cast("long")
        .alias("c2"),
        F.sum("weekend").cast("long").alias("t1"),
        F.sum(1 - F.col("weekend")).cast("long").alias("t2"),
    )
    c1, c2, t1, t2 = (F.col(x) for x in ("c1", "c2", "t1", "t2"))
    rr = (c1 * 1.0 / t1) / (c2 * 1.0 / t2)
    se = F.sqrt(1.0 / c1 + 1.0 / c2)
    return s.select(
        c1.alias("weekend_purchases"),
        t1.alias("weekend_days"),
        c2.alias("weekday_purchases"),
        t2.alias("weekday_days"),
        F.round(c1 * 1.0 / t1, 6).alias("weekend_rate"),
        F.round(c2 * 1.0 / t2, 6).alias("weekday_rate"),
        F.round(rr, 6).alias("rate_ratio"),
        F.round(F.exp(F.log(rr) - _Z_95 * se), 6).alias("rr_ci_lo"),
        F.round(F.exp(F.log(rr) + _Z_95 * se), 6).alias("rr_ci_hi"),
    )


@register(
    "evt_bland_altman",
    f"""
    WITH {_DAILY_VP_SQL},
    paired AS (
      SELECT x.day,
             CAST(x.rev AS DECIMAL(19,6)) AS a,
             CAST(y.rev AS DECIMAL(19,6)) AS b
      FROM (SELECT day, rev FROM s WHERE event_type = 'view') x
      JOIN (SELECT day, rev FROM s WHERE event_type = 'purchase') y
        ON y.day = x.day
    ),
    m AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(CAST(SUM(a - b) AS VARCHAR) AS DOUBLE) AS sd1,
             -- re-cast the scale-6-exact difference to a >=19-width
             -- operand so the square stays on DuckDB's int128 path
             -- (Spark mirrors with (18,6) so its product rule lands
             -- at the exact (37,12), not a 39-precision rescale)
             CAST(CAST(SUM(CAST(a - b AS DECIMAL(19,6))
                           * CAST(a - b AS DECIMAL(19,6)))
                  AS VARCHAR) AS DOUBLE) AS sd2
      FROM paired
    ),
    lim AS (
      SELECT n, sd1 / n AS bias,
             SQRT((sd2 - sd1 * sd1 / n) / (n - 1)) AS sd
      FROM m
    ),
    census AS (
      SELECT CAST(SUM(CASE WHEN CAST(a AS DOUBLE) - CAST(b AS DOUBLE)
                              > l.bias + {_Z_95} * l.sd
                            OR CAST(a AS DOUBLE) - CAST(b AS DOUBLE)
                              < l.bias - {_Z_95} * l.sd
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_outside
      FROM paired CROSS JOIN lim l
    )
    SELECT CAST(l.n AS BIGINT) AS n_days,
           ROUND(l.bias, 6) AS bias,
           ROUND(l.sd, 6) AS sd_diff,
           ROUND(l.bias - {_Z_95} * l.sd, 6) AS loa_lower,
           ROUND(l.bias + {_Z_95} * l.sd, 6) AS loa_upper,
           c.n_outside,
           ROUND(c.n_outside / l.n, 6) AS frac_outside
    FROM lim l CROSS JOIN census c
    """,
)
def evt_bland_altman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bland-Altman agreement analysis between the view and purchase
    daily revenue series [public method: Bland & Altman 1986 — bias =
    mean paired difference, limits of agreement = bias -/+ 1.96 sd of
    the differences, plus the fraction of days outside the limits;
    the AGREEMENT readout the correlation deck cannot give:
    evt_spearman says the series co-move, this says by how much one
    systematically exceeds the other and how wide the disagreement
    band is]: paired differences stay DECIMAL so the two moment sums
    are exact (SCALE.md 9ac), bias/sd/limits are single deterministic
    expressions, and the outside-census compares each raw difference
    against bitwise-equal limit doubles (strict inequalities keep
    boundary days inboard in both engines).

    At 100 TB: the (type, day) rollup is the only corpus pass; the
    paired frame is calendar-bounded and the census re-reads it with
    a 1-row broadcast of the limits. Method-comparison sweeps (every
    sensor pair) key the same shape by pair id."""
    s = _daily_vp(spark, sf_dir)
    x = s.filter(F.col("event_type") == "view").select(
        "day", F.col("rev").cast("decimal(18,6)").alias("a")
    )
    y = s.filter(F.col("event_type") == "purchase").select(
        F.col("day").alias("yday"), F.col("rev").cast("decimal(18,6)").alias("b")
    )
    paired = (
        x.join(y, F.col("yday") == F.col("day"))
        .select("day", "a", "b")
        .transform(materialize)
    )
    diff = F.col("a") - F.col("b")
    # (18,6), not the natural (19,6) subtract width: the square must
    # stay inside Spark's 38-precision product rule — (37,12) exact.
    diff6 = diff.cast("decimal(18,6)")
    m = paired.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(diff).cast("string").cast("double").alias("sd1"),
        F.sum(diff6 * diff6).cast("string").cast("double").alias("sd2"),
    )
    lim = m.select(
        "n",
        (F.col("sd1") / F.col("n")).alias("bias"),
        F.sqrt(
            (F.col("sd2") - F.col("sd1") * F.col("sd1") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("sd"),
    )
    d_dbl = F.col("a").cast("double") - F.col("b").cast("double")
    census = paired.crossJoin(lim).agg(
        F.sum(
            F.when(
                (d_dbl > F.col("bias") + _Z_95 * F.col("sd"))
                | (d_dbl < F.col("bias") - _Z_95 * F.col("sd")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_outside")
    )
    return lim.crossJoin(census).select(
        F.col("n").cast("long").alias("n_days"),
        F.round("bias", 6).alias("bias"),
        F.round("sd", 6).alias("sd_diff"),
        F.round(F.col("bias") - _Z_95 * F.col("sd"), 6).alias("loa_lower"),
        F.round(F.col("bias") + _Z_95 * F.col("sd"), 6).alias("loa_upper"),
        "n_outside",
        F.round(F.col("n_outside") / F.col("n"), 6).alias("frac_outside"),
    )


@register(
    "evt_brier_decomposition",
    f"""
    WITH ev AS (
      SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE)
                  - DATE '{_DOW_ANCHOR}' AS INT) % 7 AS dow,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ),
    split AS (
      SELECT MIN(day) + CAST(FLOOR(
               CAST(MAX(day) - MIN(day) AS INT) / 2.0) AS INT) AS mid
      FROM ev
    ),
    train AS (
      SELECT dow, ROUND(SUM(y) * 1.0 / COUNT(*), 6) AS p_k,
             CAST(COUNT(*) AS BIGINT) AS n_train_k
      FROM ev CROSS JOIN split WHERE day <= mid GROUP BY dow
    ),
    test AS (
      SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_k,
             CAST(SUM(y) AS BIGINT) AS s_k
      FROM ev CROSS JOIN split WHERE day > mid GROUP BY dow
    ),
    tot AS (
      SELECT CAST(SUM(n_k) AS BIGINT) AS n,
             CAST(SUM(s_k) AS BIGINT) AS s
      FROM test
    ),
    terms AS (
      SELECT
        CAST(CAST(SUM(CAST(ROUND(
          (t.s_k * (tr.p_k - 1) * (tr.p_k - 1)
           + (t.n_k - t.s_k) * tr.p_k * tr.p_k) / o.n, 6)
          AS DECIMAL(12,6))) AS VARCHAR) AS DOUBLE) AS brier,
        CAST(CAST(SUM(CAST(ROUND(
          t.n_k * (tr.p_k - t.s_k * 1.0 / t.n_k)
                * (tr.p_k - t.s_k * 1.0 / t.n_k) / o.n, 6)
          AS DECIMAL(12,6))) AS VARCHAR) AS DOUBLE) AS reliability,
        CAST(CAST(SUM(CAST(ROUND(
          t.n_k * (t.s_k * 1.0 / t.n_k - o.s * 1.0 / o.n)
                * (t.s_k * 1.0 / t.n_k - o.s * 1.0 / o.n) / o.n, 6)
          AS DECIMAL(12,6))) AS VARCHAR) AS DOUBLE) AS resolution,
        MAX(o.n) AS n, MAX(o.s) AS s,
        CAST(SUM(tr.n_train_k) AS BIGINT) AS n_train
      FROM test t JOIN train tr ON tr.dow = t.dow CROSS JOIN tot o
    )
    SELECT n_train, n AS n_test,
           ROUND(brier, 6) AS brier,
           ROUND(reliability, 6) AS reliability,
           ROUND(resolution, 6) AS resolution,
           ROUND((s * 1.0 / n) * (1 - s * 1.0 / n), 6) AS uncertainty
    FROM terms
    """,
)
def evt_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score with the Murphy decomposition for the day-of-week
    purchase-probability forecast [public method: Brier 1950; Murphy
    1973 — Brier = REL − RES + UNC over forecast bins: reliability
    (calibration gap), resolution (how much the bins separate), and
    the outcome's own uncertainty; the forecast-EVALUATION member of
    the deck beside evt_forecast_backtest (point accuracy) and
    llm_calibration_ece (classifier calibration)]: the calendar
    splits at its exact integer midpoint (train ≤ mid < test), the
    train half yields one 6dp forecast probability per dow bin, and
    every decomposition term is a per-bin expression over exact
    integer test counts — rounded at 6dp and accumulated as exact
    DECIMAL over the 7-bin frame (the evt_mutual_info idiom).

    At 100 TB: two combinable passes over the event log (train and
    test collapse to 7-row bin tables); the decomposition is a 7-row
    broadcast join. Forecast sweeps (per segment, per horizon) key
    the identical shape by forecast id."""
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"),
        (
            F.datediff(F.to_date("ts"), F.to_date(F.lit(_DOW_ANCHOR))) % 7
        ).alias("dow"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    split = ev.agg(
        (
            F.min("day")
            + F.floor(F.datediff(F.max("day"), F.min("day")) / 2.0).cast(
                "int"
            )
        ).alias("mid")
    )
    evs = ev.crossJoin(split).transform(materialize)
    train = (
        evs.filter(F.col("day") <= F.col("mid"))
        .groupBy("dow")
        .agg(
            F.round(F.sum("y") * 1.0 / F.count(F.lit(1)), 6).alias("p_k"),
            F.count(F.lit(1)).cast("long").alias("n_train_k"),
        )
    )
    test = (
        evs.filter(F.col("day") > F.col("mid"))
        .groupBy("dow")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_k"),
            F.sum("y").cast("long").alias("s_k"),
        )
    )
    tot = test.agg(
        F.sum("n_k").cast("long").alias("n"),
        F.sum("s_k").cast("long").alias("s"),
    )
    j = test.join(train, "dow").crossJoin(tot)
    ybar_k = F.col("s_k") * 1.0 / F.col("n_k")
    ybar = F.col("s") * 1.0 / F.col("n")
    dec = lambda c: F.sum(
        F.round(c, 6).cast("decimal(12,6)")
    ).cast("string").cast("double")
    terms = j.agg(
        dec(
            (
                F.col("s_k") * (F.col("p_k") - 1) * (F.col("p_k") - 1)
                + (F.col("n_k") - F.col("s_k"))
                * F.col("p_k")
                * F.col("p_k")
            )
            / F.col("n")
        ).alias("brier"),
        dec(
            F.col("n_k")
            * (F.col("p_k") - ybar_k)
            * (F.col("p_k") - ybar_k)
            / F.col("n")
        ).alias("reliability"),
        dec(
            F.col("n_k") * (ybar_k - ybar) * (ybar_k - ybar) / F.col("n")
        ).alias("resolution"),
        F.max("n").alias("n"),
        F.max("s").alias("s"),
        F.sum("n_train_k").cast("long").alias("n_train"),
    )
    u = F.col("s") * 1.0 / F.col("n")
    return terms.select(
        "n_train",
        F.col("n").alias("n_test"),
        F.round("brier", 6).alias("brier"),
        F.round("reliability", 6).alias("reliability"),
        F.round("resolution", 6).alias("resolution"),
        F.round(u * (1 - u), 6).alias("uncertainty"),
    )


# Chi-square 95% critical at df=6 (7 dow groups - 1).
_CHI2_95_DF6 = 12.591587


@register(
    "evt_bartlett",
    f"""
    WITH daily AS (
      SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE)
                  - DATE '{_DOW_ANCHOR}' AS INT) % 7 AS dow,
             ROUND(SUM(value), 6) AS rev
      FROM events GROUP BY 1, 2
    ),
    g AS (
      SELECT dow,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(CAST(SUM(rd) AS VARCHAR) AS DOUBLE) AS s1,
             CAST(CAST(SUM(rd * rd) AS VARCHAR) AS DOUBLE) AS s2
      FROM (SELECT dow, CAST(rev AS DECIMAL(19,6)) AS rd FROM daily) t
      GROUP BY dow
    ),
    v AS (
      SELECT dow, n, (s2 - s1 * s1 / n) / (n - 1) AS s2_i FROM g
    ),
    agg AS (
      SELECT CAST(SUM(n) AS DOUBLE) AS nn,
             CAST(COUNT(*) AS DOUBLE) AS k,
             CAST(CAST(SUM(CAST(ROUND((n - 1) * LN(s2_i), 6)
                  AS DECIMAL(14,6))) AS VARCHAR) AS DOUBLE) AS sum_ln,
             CAST(CAST(SUM(CAST(ROUND((n - 1) * s2_i, 6)
                  AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_ss,
             CAST(CAST(SUM(CAST(ROUND(1.0 / (n - 1), 6)
                  AS DECIMAL(10,6))) AS VARCHAR) AS DOUBLE) AS sum_inv
      FROM v
    )
    SELECT CAST(nn AS BIGINT) AS n_days,
           CAST(k AS BIGINT) AS n_groups,
           ROUND(sum_ss / (nn - k), 6) AS pooled_var,
           ROUND(((nn - k) * LN(sum_ss / (nn - k)) - sum_ln)
                 / (1 + (sum_inv - 1.0 / (nn - k)) / (3 * (k - 1))), 6)
             AS chi2_stat,
           CAST(k - 1 AS BIGINT) AS df,
           (((nn - k) * LN(sum_ss / (nn - k)) - sum_ln)
            / (1 + (sum_inv - 1.0 / (nn - k)) / (3 * (k - 1))))
             > {_CHI2_95_DF6} AS reject_homogeneity
    FROM agg
    """,
)
def evt_bartlett(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test for variance homogeneity across day-of-week
    daily-revenue groups [public method: Bartlett 1937 — chi2 =
    ((N-k) ln Sp^2 - SUM (n_i-1) ln s_i^2) / C with the Bartlett
    correction C = 1 + (SUM 1/(n_i-1) - 1/(N-k)) / (3(k-1)); the
    PARAMETRIC scale test beside evt_levene's robust Brown-Forsythe —
    more powerful under normality (which evt_jarque_bera now gates),
    fragile outside it, so the pair belongs together]: group moments
    accumulate as exact DECIMAL over the 6dp daily revenues, each
    per-group term ((n-1) ln s_i^2, (n-1) s_i^2, 1/(n-1)) rounds at
    6dp and folds as exact DECIMAL over the 7-row frame (the
    evt_mutual_info idiom), and the statistic is a single
    deterministic expression; the flag compares against the shared
    chi-square(6) 95% literal.

    At 100 TB: one map-side-combinable rollup to the day dimension,
    a 7-row moment aggregate, a 1-row epilogue — the evt_anova_dow
    profile exactly."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("day"),
        (
            F.datediff(F.to_date("ts"), F.to_date(F.lit(_DOW_ANCHOR))) % 7
        ).alias("dow"),
    ).agg(F.round(F.sum("value"), 6).alias("rev"))
    rd = F.col("rev").cast("decimal(18,6)")
    g = daily.groupBy("dow").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(rd).cast("string").cast("double").alias("s1"),
        F.sum(rd * rd).cast("string").cast("double").alias("s2"),
    )
    v = g.select(
        "dow",
        "n",
        (
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("s2_i"),
    )
    dec = lambda c, w: F.sum(F.round(c, 6).cast(w)).cast("string").cast(
        "double"
    )
    agg = v.agg(
        F.sum("n").alias("nn"),
        F.count(F.lit(1)).cast("double").alias("k"),
        dec((F.col("n") - 1) * F.log("s2_i"), "decimal(14,6)").alias(
            "sum_ln"
        ),
        dec((F.col("n") - 1) * F.col("s2_i"), "decimal(18,6)").alias(
            "sum_ss"
        ),
        dec(1.0 / (F.col("n") - 1), "decimal(10,6)").alias("sum_inv"),
    )
    nn, k = F.col("nn"), F.col("k")
    pooled = F.col("sum_ss") / (nn - k)
    chi2 = ((nn - k) * F.log(pooled) - F.col("sum_ln")) / (
        1 + (F.col("sum_inv") - 1.0 / (nn - k)) / (3 * (k - 1))
    )
    return agg.select(
        nn.cast("long").alias("n_days"),
        k.cast("long").alias("n_groups"),
        F.round(pooled, 6).alias("pooled_var"),
        F.round(chi2, 6).alias("chi2_stat"),
        (k - 1).cast("long").alias("df"),
        (chi2 > _CHI2_95_DF6).alias("reject_homogeneity"),
    )
