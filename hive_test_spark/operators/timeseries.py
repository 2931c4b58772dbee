"""Time-series operators over the `events` fixture: forward-fill with
IGNORE NULLS, exponentially-weighted moving averages, and OHLC
downsampling [Hive-public: FIRST_VALUE/LAST_VALUE ... IGNORE NULLS is
HiveQL windowing surface; EWMA/OHLC are the standard warehouse
time-series rollups built from windows + aggregation].

Scale notes (100 TB): all three shuffle exactly once on their series key
(user_id or event_type×hour). Forward-fill and EWMA are per-series
sequential semantics — the window/grouped-map partitioning puts each
series on one task, so the scale axis is #series (embarrassingly
parallel), not series length; a single whale series would need the
segmented-scan rewrite (chunk + carry-in recombination). OHLC is a plain
two-phase aggregate once the deterministic endpoint choice is expressed
as min_by/max_by over the (ts, event_id) total order.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_test_spark.io import load_table
from hive_test_spark.registry import register


@register(
    "evt_fill_forward",
    """
    SELECT event_id, user_id, event_type,
           last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
             OVER (PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_value
    FROM events
    """,
)
def evt_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill (LOCF): every event carries the most recent preceding
    'purchase' value of the same user — ``last(..., ignorenulls=True)``
    over a running frame, the IGNORE NULLS window surface. One shuffle on
    user_id; the sparse column is manufactured with CASE so no second scan
    or self-join is needed (the naive formulation joins each row to its
    last purchase — a per-row range join this window rewrite avoids)."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sparse = F.when(F.col("event_type") == "purchase", F.col("value"))
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.last(sparse, ignorenulls=True).over(w).alias("last_purchase_value"),
    )


_EWMA_ALPHA = 0.2

_EWMA_ORACLE = """
    WITH RECURSIVE ev AS (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
      FROM events
    ),
    r AS (
      SELECT user_id, event_id, value, rn, value AS ewma FROM ev WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.event_id, e.value, e.rn,
             0.2 * e.value + 0.8 * r.ewma
      FROM ev e JOIN r ON e.user_id = r.user_id AND e.rn = r.rn + 1
    )
    SELECT user_id, event_id, ROUND(ewma, 6) AS ewma FROM r
"""


def _ewma_group(pdf: pd.DataFrame) -> pd.DataFrame:
    # Explicit recurrence (y0 = x0; y = a*x + (1-a)*y_prev) so the float
    # op sequence is identical to the oracle's recursive CTE.
    pdf = pdf.sort_values(["ts", "event_id"])
    out, prev = [], None
    for x in pdf["value"]:
        prev = x if prev is None else _EWMA_ALPHA * x + (1.0 - _EWMA_ALPHA) * prev
        out.append(prev)
    return pd.DataFrame(
        {"user_id": pdf["user_id"], "event_id": pdf["event_id"], "ewma": pd.Series(out, index=pdf.index).round(6)}
    )


@register("evt_ewma", _EWMA_ORACLE)
def evt_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA (α=0.2) of event values — an inherently recursive
    computation SQL windows cannot express (weights depend on distance to
    the CURRENT row). Spark: grouped-map ``applyInPandas`` per user (one
    Arrow batch per series); oracle: the same recurrence as a recursive
    CTE, anchored at rn=1. Fixture series are ≤100 rows so recursion and
    batch sizes stay trivial; a whale series would switch to the
    segmented-scan form: chunk the series, compute per-chunk (ewma,
    (1-α)^len) pairs, then fold the per-chunk carry terms — associative,
    so it distributes."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    schema = "user_id long, event_id long, ewma double"
    return ev.groupBy("user_id").applyInPandas(_ewma_group, schema)


_OHLC_ORACLE = """
    WITH ev AS (
      SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, value,
             row_number() OVER (PARTITION BY event_type, date_trunc('hour', CAST(ts AS TIMESTAMP))
                                ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn_open,
             row_number() OVER (PARTITION BY event_type, date_trunc('hour', CAST(ts AS TIMESTAMP))
                                ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn_close
      FROM events
    )
    SELECT event_type, hour,
           max(CASE WHEN rn_open = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           max(CASE WHEN rn_close = 1 THEN value END) AS close,
           count(*) AS n_events,
           ROUND(sum(value), 6) AS volume
    FROM ev GROUP BY event_type, hour
"""


@register("evt_ohlc", _OHLC_ORACLE)
def evt_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event type: open/close are ``min_by``/``max_by``
    on the (ts, event_id) total order — a single two-phase hash aggregate
    (partial min_by/max_by combine map-side), no window pass. The oracle
    spells the same endpoint choice with row_number CTEs, proving the
    agg-only rewrite equals the window formulation. At 100 TB this is the
    canonical downsampling shape: one shuffle on the (series, bucket) key,
    all states constant-size."""
    ev = load_table(spark, sf_dir, "events")
    order_key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.select("event_type", F.date_trunc("hour", F.col("ts")).alias("hour"), "value", "ts", "event_id")
        .groupBy("event_type", "hour")
        .agg(
            F.expr("min_by(value, struct(ts, event_id))").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.expr("max_by(value, struct(ts, event_id))").alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("volume"),
        )
    )


@register(
    "evt_rolling_median",
    """
    SELECT user_id, event_id,
           ROUND(median(value) OVER (
             PARTITION BY user_id
             ORDER BY CAST(ts AS TIMESTAMP), event_id
             ROWS BETWEEN 20 PRECEDING AND CURRENT ROW), 6) AS rolling_med
    FROM events
    """,
)
def evt_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling median (trailing 21 rows per user) — the robust
    smoother EWMA isn't: Spark's exact ``percentile`` runs as a window
    aggregate, re-ranking the frame per row. That is O(frame²·rows)
    per series — fine when frames are small and bounded like here; at
    100 TB with wide frames the rewrite is approx_percentile over the
    window (t-digest state, mergeable) or the two-heap streaming median
    inside applyInPandas — the oracle stays this exact form either way."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.expr("percentile(value, 0.5)").over(w), 6).alias("rolling_med"),
    )


@register(
    "evt_drawdown",
    """
    WITH sv AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'error' THEN -value ELSE value END AS flow
      FROM events
    ),
    eq AS (
      SELECT user_id, flow, ts, event_id,
             SUM(flow) OVER (
               PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id
               ROWS UNBOUNDED PRECEDING) AS equity
      FROM sv
    ),
    dd AS (
      SELECT user_id, flow, equity,
             MAX(equity) OVER (
               PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id
               ROWS UNBOUNDED PRECEDING) AS peak
      FROM eq
    )
    SELECT user_id,
           COUNT(*) AS n_events,
           ROUND(MAX(peak - equity), 6) AS max_drawdown,
           ROUND(MAX(equity), 6) AS peak_equity,
           ROUND(SUM(flow), 6) AS final_equity
    FROM dd
    GROUP BY user_id
    """,
)
def evt_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per user over the running NET flow of event
    values ('error' events debit, everything else credits — the fixture
    has no negative values, so the signed recode is what makes the curve
    non-monotone) — the risk metric every monitoring/finance rollup
    computes from a cumulative series (peak-to-trough drop).

    Two stacked window aggregates over the SAME (partition, order) spec —
    prefix-sum then prefix-max — so Catalyst plans ONE exchange + one
    sort feeding both Window nodes, then a plain hash aggregate per user.
    At 100 TB the shuffle key is user_id (high-cardinality, unskewed
    here); per-row state is O(1) and series length only affects the
    sequential per-partition pass, the same segmented-scan story as
    evt_ewma above. Ties on ts are broken by event_id on BOTH sides so
    the prefix sums agree bitwise."""
    ev = load_table(spark, sf_dir, "events")
    flow = F.when(F.col("event_type") == "error", -F.col("value")).otherwise(
        F.col("value")
    )
    sv = ev.select("user_id", "ts", "event_id", flow.alias("flow"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    eq = sv.select(
        "user_id", "flow", F.sum("flow").over(w).alias("equity"),
        "ts", "event_id",
    )
    dd = eq.select(
        "user_id", "flow", "equity",
        F.max("equity")
        .over(
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("peak"),
    )
    return dd.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.max(F.col("peak") - F.col("equity")), 6).alias("max_drawdown"),
        F.round(F.max("equity"), 6).alias("peak_equity"),
        F.round(F.sum("flow"), 6).alias("final_equity"),
    )


@register(
    "evt_forecast_snaive",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    j AS (
      SELECT a.event_type, a.day, a.c, f.c AS fc
      FROM daily a JOIN daily f
        ON a.event_type = f.event_type AND f.day = a.day - 7
    )
    SELECT event_type,
           COUNT(*) AS n_days,
           ROUND(AVG(ABS(c - fc)), 6) AS mae,
           ROUND(AVG(ABS(c - fc) * 1.0 / c), 6) AS mape,
           ROUND(AVG(c - fc), 6) AS bias
    FROM j GROUP BY event_type
    """,
)
def evt_forecast_snaive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast evaluation [public method: the M-competition
    baseline — forecast(t) = actual(t - season), here season = 7 days]:
    per event type, score the one-week-ago predictor on the daily count
    series with MAE / MAPE / signed bias. This is the floor every real
    forecasting model must beat, and the backtest report is the query a
    metrics warehouse runs nightly.

    Scale shape: the raw log collapses FIRST to (type, day) counts
    (map-side-combinable; ~365 rows/type/year no matter the log size),
    then the lag is an explicit self-equi-join on (type, day-7) — robust
    to calendar gaps where a window lag(7) silently misaligns — and the
    scorecard is one tiny aggregate. The only corpus-sized shuffle is
    the daily rollup; everything after runs on KBs at any scale."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    fc = daily.select(
        F.col("event_type").alias("f_type"),
        F.date_add("day", 7).alias("f_day"),
        F.col("c").alias("fc"),
    )
    j = daily.join(
        fc,
        (F.col("event_type") == F.col("f_type")) & (F.col("day") == F.col("f_day")),
    )
    err = F.col("c") - F.col("fc")
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(F.avg(F.abs(err)), 6).alias("mae"),
        F.round(F.avg(F.abs(err) / F.col("c")), 6).alias("mape"),
        F.round(F.avg(err), 6).alias("bias"),
    )


@register(
    "evt_seasonal_decompose",
    """
    WITH daily AS (
      SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             ROUND(SUM(value), 6) AS observed
      FROM events
      GROUP BY CAST(CAST(ts AS TIMESTAMP) AS DATE)
    ),
    tr AS (
      SELECT day, observed,
             -- signed-safe modulo: DuckDB % follows the dividend's sign
             -- while Spark pmod is always non-negative — one pre-anchor
             -- event would diverge the dow bucket without this wrap.
             ((CAST(day - DATE '2024-01-01' AS INT) % 7) + 7) % 7 AS dow,
             CASE WHEN COUNT(*) OVER w7 = 7
                  THEN AVG(observed) OVER w7 END AS trend
      FROM daily
      WINDOW w7 AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    seas AS (
      SELECT day, observed, dow, trend,
             AVG(observed - trend) OVER (PARTITION BY dow) AS dow_mean,
             AVG(observed - trend) OVER () AS grand_mean
      FROM tr
    )
    SELECT CAST(day AS VARCHAR) AS day, dow,
           observed,
           ROUND(trend, 6) AS trend,
           ROUND(dow_mean - grand_mean, 6) AS seasonal,
           ROUND(observed - trend - (dow_mean - grand_mean), 6) AS residual
    FROM seas
    """,
)
def evt_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition (observed = trend +
    seasonal + residual) of the daily revenue series [public method:
    the moving-average decomposition behind STL's coarse pass]: trend
    is a centered 7-day moving average (null on the 3-day edges where
    the window is partial — the COUNT(*)=7 guard, so edge days never
    bias the trend), the seasonal index is the day-of-week mean of the
    detrended series re-centered to sum-neutral by subtracting the
    grand detrended mean, and the residual is what remains. Day-of-week
    comes from date arithmetic against a fixed anchor (days-since-epoch
    mod 7), not dayofweek(), because Spark (Sunday=1) and DuckDB
    (Sunday=0) disagree on the convention — a pinned dialect trap.

    Scale shape: ONE shuffle (the daily rollup, map-side combinable —
    at 100 TB this reduces billions of events to #days rows); every
    window after it runs over the tiny daily series. The unpartitioned
    windows are single-task by design and bounded by #days — on a
    multi-year 100 TB corpus decomposition would partition these
    windows by series key (per product / per region), which changes
    nothing in the expression, only the partitionBy."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("day")
    ).agg(F.round(F.sum("value"), 6).alias("observed"))
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    tr = daily.select(
        "day",
        "observed",
        F.pmod(F.datediff("day", F.lit("2024-01-01").cast("date")), F.lit(7)).alias(
            "dow"
        ),
        F.when(F.count(F.lit(1)).over(w7) == 7, F.avg("observed").over(w7)).alias(
            "trend"
        ),
    )
    detr = F.col("observed") - F.col("trend")
    seas = tr.select(
        "*",
        F.avg(detr).over(Window.partitionBy("dow")).alias("dow_mean"),
        F.avg(detr).over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("grand_mean"),
    )
    seasonal = F.col("dow_mean") - F.col("grand_mean")
    return seas.select(
        F.col("day").cast("string").alias("day"),
        "dow",
        "observed",
        F.round("trend", 6).alias("trend"),
        F.round(seasonal, 6).alias("seasonal"),
        F.round(F.col("observed") - F.col("trend") - seasonal, 6).alias("residual"),
    )


# Holt linear (double exponential) smoothing constants.
_HOLT_ALPHA = 0.3
_HOLT_BETA = 0.2


def _holt_group(pdf: pd.DataFrame) -> pd.DataFrame:
    # Explicit coupled recurrence (l1 = x1, b1 = 0; l = a·x + (1-a)(l+b),
    # b = β(l_new − l) + (1-β)b) with the same float-op sequence as the
    # oracle's recursive CTE — inputs are pre-rounded daily sums, so both
    # engines iterate identical doubles.
    pdf = pdf.sort_values("day")
    levels, trends = [], []
    l = b = None
    for x in pdf["rev"]:
        if l is None:
            l, b = x, 0.0
        else:
            l_new = _HOLT_ALPHA * x + (1.0 - _HOLT_ALPHA) * (l + b)
            b = _HOLT_BETA * (l_new - l) + (1.0 - _HOLT_BETA) * b
            l = l_new
        levels.append(l)
        trends.append(b)
    lev = pd.Series(levels, index=pdf.index)
    tr = pd.Series(trends, index=pdf.index)
    return pd.DataFrame(
        {
            "event_type": pdf["event_type"],
            "day": pdf["day"],
            "rev": pdf["rev"],
            "level": lev.round(6),
            "trend": tr.round(6),
            "forecast_next": (lev + tr).round(6),
        }
    )


@register(
    "evt_holt_linear",
    f"""
    WITH RECURSIVE s AS (
      SELECT event_type, CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE) AS VARCHAR) AS day,
             ROUND(SUM(value), 6) AS rev,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS rn
      FROM events
      GROUP BY event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE)
    ),
    rec (event_type, rn, day, rev, l, b) AS (
      SELECT event_type, rn, day, rev,
             CAST(rev AS DOUBLE), CAST(0.0 AS DOUBLE)
      FROM s WHERE rn = 1
      UNION ALL
      SELECT n.event_type, n.rn, n.day, n.rev,
             {_HOLT_ALPHA} * n.rev + (1.0 - {_HOLT_ALPHA}) * (r.l + r.b),
             {_HOLT_BETA} * (({_HOLT_ALPHA} * n.rev
                              + (1.0 - {_HOLT_ALPHA}) * (r.l + r.b)) - r.l)
               + (1.0 - {_HOLT_BETA}) * r.b
      FROM rec r JOIN s n ON n.event_type = r.event_type AND n.rn = r.rn + 1
    )
    SELECT event_type, day, rev,
           ROUND(l, 6) AS level,
           ROUND(b, 6) AS trend,
           ROUND(l + b, 6) AS forecast_next
    FROM rec
    """,
)
def evt_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear (double-exponential) smoothing per event-type daily
    series [public method: Holt 1957 — level + trend recursion, one
    rung above evt_ewma's single smoother and the trend-aware rival of
    evt_forecast_snaive's seasonal-naive baseline]. The coupled
    recursion (weights depend on the whole prefix) is inexpressible in
    SQL windows, so Spark runs it as grouped-map ``applyInPandas`` —
    one Arrow batch per series — while the oracle runs the IDENTICAL
    float-op sequence as a recursive CTE. Per-day revenue is rounded
    to 6dp BEFORE the recursion: the raw sums differ across engines in
    summation order, and a recursion AMPLIFIES input noise (the
    evt_power_analysis round-the-inputs rule, applied one level up).

    At 100 TB: grouping keys the shuffle on the series id; each series
    is one bounded Arrow batch (calendar-bounded days). A whale series
    switches to the segmented-scan fold evt_ewma documents — Holt's
    update is an affine map (l,b) ↦ M(x)·(l,b)+c(x), so per-chunk
    2×2 matrix products fold associatively."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy(
        "event_type", F.to_date("ts").cast("string").alias("day")
    ).agg(F.round(F.sum("value"), 6).alias("rev"))
    schema = (
        "event_type string, day string, rev double, level double, "
        "trend double, forecast_next double"
    )
    return s.groupBy("event_type").applyInPandas(_holt_group, schema)


# Rolling-trend window (days): 7-point centered-causal OLS slope.
_SLOPE_WIN = 7


@register(
    "evt_rolling_slope",
    f"""
    WITH s AS (
      SELECT event_type,
             CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE) AS VARCHAR) AS day,
             CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE)
                  - DATE '2024-01-01' AS INT) AS x,
             ROUND(SUM(value), 6) AS y
      FROM events
      GROUP BY 1, 2, 3
    ),
    w AS (
      SELECT event_type, day,
             COUNT(*) OVER fr AS n,
             SUM(CAST(x AS DOUBLE)) OVER fr AS sx,
             SUM(y) OVER fr AS sy,
             SUM(CAST(x AS DOUBLE) * y) OVER fr AS sxy,
             SUM(CAST(x AS DOUBLE) * x) OVER fr AS sxx
      FROM s
      WINDOW fr AS (PARTITION BY event_type ORDER BY x
                    ROWS BETWEEN {_SLOPE_WIN - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day, n,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope
    FROM w
    WHERE n = {_SLOPE_WIN}
    ORDER BY event_type, day
    """,
)
def evt_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling OLS trend per event-type series [public method: the
    windowed regression slope — "is this metric trending up over the
    last week?" — assembled from FIVE rolling sums, because no engine
    ships regr_slope as a window function: slope = (nΣxy − ΣxΣy)/
    (nΣx² − (Σx)²) over a {_SLOPE_WIN}-row trailing frame]. The x axis
    is days-since-anchor (an exact integer in both engines), y is the
    6dp-rounded daily sum, and partial leading windows are dropped
    (n = {_SLOPE_WIN} only) so every reported slope is a full-window
    estimate. Complements evt_holt_linear: Holt smooths level+trend
    recursively, this reads the local trend directly — and unlike the
    recursion it is a pure window, no Python anywhere.

    At 100 TB: one corpus rollup to the (series, day) dimension, then
    one window family partitioned by series — all five sums share a
    single frame, one shuffle total. The closed form divides exact
    sums of rounded inputs, so 6dp output rounding is stable."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy(
        "event_type",
        F.to_date("ts").cast("string").alias("day"),
        F.datediff(F.to_date("ts"), F.to_date(F.lit("2024-01-01"))).alias("x"),
    ).agg(F.round(F.sum("value"), 6).alias("y"))
    fr = (
        Window.partitionBy("event_type")
        .orderBy("x")
        .rowsBetween(-(_SLOPE_WIN - 1), Window.currentRow)
    )
    xd = F.col("x").cast("double")
    w = s.select(
        "event_type",
        "day",
        F.count(F.lit(1)).over(fr).alias("n"),
        F.sum(xd).over(fr).alias("sx"),
        F.sum("y").over(fr).alias("sy"),
        F.sum(xd * F.col("y")).over(fr).alias("sxy"),
        F.sum(xd * F.col("x")).over(fr).alias("sxx"),
    )
    return (
        w.filter(F.col("n") == _SLOPE_WIN)
        .select(
            "event_type",
            "day",
            "n",
            F.round(
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")),
                6,
            ).alias("slope"),
        )
        .orderBy("event_type", "day")
    )


@register(
    "evt_theil_sen",
    """
    WITH s AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             ROUND(SUM(value), 6) AS rev
      FROM events GROUP BY event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE)
    ),
    t AS (
      SELECT event_type, date_diff('day', DATE '2024-01-01', day) AS t, rev
      FROM s
    ),
    slopes AS (
      SELECT a.event_type, (b.rev - a.rev) / (b.t - a.t) AS sl
      FROM t a JOIN t b ON b.event_type = a.event_type AND b.t > a.t
    ),
    m AS (
      SELECT event_type, quantile_cont(sl, 0.5) AS slope, COUNT(*) AS n_pairs
      FROM slopes GROUP BY event_type
    )
    SELECT m.event_type,
           ROUND(m.slope, 6) AS ts_slope,
           ROUND(quantile_cont(t.rev - m.slope * t.t, 0.5), 6) AS ts_intercept,
           m.n_pairs
    FROM m JOIN t ON t.event_type = m.event_type
    GROUP BY m.event_type, m.slope, m.n_pairs
    ORDER BY m.event_type
    """,
)
def evt_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per event-type daily revenue series
    [public method: Theil 1950 / Sen 1968 — slope = median of all
    pairwise slopes, intercept = median residual; the
    outlier-immune rival of evt_rolling_slope's OLS, with a 29.3%
    breakdown point where one spike day drags OLS arbitrarily]. Daily
    revenue is rounded to 6dp BEFORE the pair join (the
    evt_holt_linear round-the-inputs rule), the day axis is an integer
    ordinal, and both medians interpolate linearly (Spark
    ``percentile`` == DuckDB ``quantile_cont``), so both engines rank
    and interpolate identical doubles.

    At 100 TB: the pairwise join is per-series and CALENDAR-bounded
    (d days -> d(d-1)/2 slope rows per series, d = 30 here), keyed on
    the series id, so the scale axis is #series — embarrassingly
    parallel, one shuffle. The exact median is an in-group sort of
    ~435 values; a year-long whale series (66k pairs) still fits a
    task, and past that the repeated-median variant subsamples pairs
    per point. The intercept pass re-joins the tiny per-series slope
    frame (broadcast) against the daily points — never the raw log."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.round(F.sum("value"), 6).alias("rev"))
    t = s.select(
        "event_type",
        F.datediff("day", F.lit("2024-01-01").cast("date")).alias("t"),
        "rev",
    )
    a = t.select("event_type", F.col("t").alias("ta"), F.col("rev").alias("ra"))
    b = t.select("event_type", F.col("t").alias("tb"), F.col("rev").alias("rb"))
    slopes = (
        a.join(b, "event_type")
        .filter(F.col("tb") > F.col("ta"))
        .select(
            "event_type",
            ((F.col("rb") - F.col("ra")) / (F.col("tb") - F.col("ta"))).alias("sl"),
        )
    )
    m = slopes.groupBy("event_type").agg(
        F.expr("percentile(sl, 0.5D)").alias("slope"),
        F.count(F.lit(1)).alias("n_pairs"),
    )
    return (
        t.join(F.broadcast(m), "event_type")
        .groupBy("event_type", "slope", "n_pairs")
        .agg(
            F.expr("percentile(rev - slope * t, 0.5D)").alias("intercept")
        )
        .select(
            "event_type",
            F.round("slope", 6).alias("ts_slope"),
            F.round("intercept", 6).alias("ts_intercept"),
            "n_pairs",
        )
        .orderBy("event_type")
    )


# Holt-Winters additive smoothing constants (weekly seasonality).
_HW_ALPHA = 0.3
_HW_BETA = 0.2
_HW_GAMMA = 0.25
_HW_M = 7


def _hw_group(pdf: pd.DataFrame) -> pd.DataFrame:
    # Same float-op sequence as the oracle's recursive CTE: init on the
    # first m days (l0 = mean, b0 = 0, s_i = x_i - l0), then the coupled
    # level/trend/seasonal recursion from day m+1. Inputs are pre-rounded
    # daily sums (the evt_holt_linear rule), intermediates are NOT
    # rounded — both engines iterate identical doubles because the op
    # order matches; the smoothers are contractions, so the ~1e-16 init
    # averaging noise cannot amplify past the 6dp output rounding.
    pdf = pdf.sort_values("day").reset_index(drop=True)
    if len(pdf) <= _HW_M:
        return pdf.iloc[0:0].reindex(
            columns=["event_type", "day", "rev", "level", "trend",
                     "seasonal", "forecast_next"]
        )
    xs = list(pdf["rev"])
    l = sum(xs[:_HW_M]) / float(_HW_M)
    b = 0.0
    slist = [x - l for x in xs[:_HW_M]]
    out = []
    for t in range(_HW_M, len(xs)):
        x = xs[t]
        l_new = _HW_ALPHA * (x - slist[0]) + (1.0 - _HW_ALPHA) * (l + b)
        b_new = _HW_BETA * (l_new - l) + (1.0 - _HW_BETA) * b
        s_new = _HW_GAMMA * (x - l_new) + (1.0 - _HW_GAMMA) * slist[0]
        slist = slist[1:] + [s_new]
        l, b = l_new, b_new
        out.append(
            (
                pdf["event_type"].iloc[t],
                pdf["day"].iloc[t],
                x,
                round(l, 6),
                round(b, 6),
                round(s_new, 6),
                round(l + b + slist[0], 6),
            )
        )
    return pd.DataFrame(
        out,
        columns=["event_type", "day", "rev", "level", "trend",
                 "seasonal", "forecast_next"],
    )


@register(
    "evt_holt_winters",
    f"""
    WITH RECURSIVE s AS (
      SELECT event_type,
             CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE) AS VARCHAR) AS day,
             ROUND(SUM(value), 6) AS rev,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS rn
      FROM events
      GROUP BY event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE)
    ),
    init AS (
      SELECT event_type,
             SUM(rev) / {_HW_M}.0 AS l0,
             list(rev ORDER BY rn) AS xs
      FROM s WHERE rn <= {_HW_M} GROUP BY event_type
    ),
    rec (event_type, rn, day, rev, l, b, slist) AS (
      SELECT i.event_type, {_HW_M}, CAST(NULL AS VARCHAR),
             CAST(NULL AS DOUBLE), i.l0, CAST(0.0 AS DOUBLE),
             list_transform(i.xs, x -> x - i.l0)
      FROM init i
      UNION ALL
      SELECT n.event_type, n.rn, n.day, n.rev,
             {_HW_ALPHA} * (n.rev - r.slist[1])
               + (1.0 - {_HW_ALPHA}) * (r.l + r.b),
             {_HW_BETA} * (({_HW_ALPHA} * (n.rev - r.slist[1])
                            + (1.0 - {_HW_ALPHA}) * (r.l + r.b)) - r.l)
               + (1.0 - {_HW_BETA}) * r.b,
             list_append(r.slist[2:{_HW_M}],
                         {_HW_GAMMA} * (n.rev - ({_HW_ALPHA} * (n.rev - r.slist[1])
                                                 + (1.0 - {_HW_ALPHA}) * (r.l + r.b)))
                           + (1.0 - {_HW_GAMMA}) * r.slist[1])
      FROM rec r JOIN s n ON n.event_type = r.event_type AND n.rn = r.rn + 1
    )
    SELECT event_type, day, rev,
           ROUND(l, 6) AS level,
           ROUND(b, 6) AS trend,
           ROUND(slist[{_HW_M}], 6) AS seasonal,
           ROUND(l + b + slist[1], 6) AS forecast_next
    FROM rec WHERE rn > {_HW_M}
    ORDER BY event_type, rn
    """,
)
def evt_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive (triple-exponential) smoothing per
    event-type daily series, weekly seasonality m=7 [public
    method: Winters 1960 — level + trend + seasonal recursion; the
    seasonal rung above evt_holt_linear, and the model-based rival of
    evt_forecast_snaive / evt_seasonal_decompose's moving-average
    split]. Init on the first m days (l0 = mean, b0 = 0, s_i = x_i −
    l0), then l/b/s update jointly from day m+1; emitted rows start at
    day m+1 (the recursion region). The seasonal STATE is a length-m
    vector, so the oracle's recursive CTE carries it as a LIST column
    rotated one slot per step — the Spark side runs the identical
    float-op sequence as grouped-map ``applyInPandas``, one Arrow
    batch per series (the evt_holt_linear execution pattern; coupled
    whole-prefix recursions are inexpressible in SQL windows).

    At 100 TB: grouping keys the shuffle on the series id; each series
    is one bounded Arrow batch (calendar-bounded days). The update is
    affine in (l, b, s-vector), so a whale series folds associatively
    as (m+2)x(m+2) matrix products — the evt_ewma segmented-scan
    escape hatch, one rung bigger."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy(
        "event_type", F.to_date("ts").cast("string").alias("day")
    ).agg(F.round(F.sum("value"), 6).alias("rev"))
    schema = (
        "event_type string, day string, rev double, level double, "
        "trend double, seasonal double, forecast_next double"
    )
    return s.groupBy("event_type").applyInPandas(_hw_group, schema)


def _seasonality_strength_oracle() -> str:
    from hive_test_spark.registry import ORACLES

    return f"""
    WITH d AS ({ORACLES["evt_seasonal_decompose"]}),
    v AS (
      SELECT var_samp(residual) AS vr,
             var_samp(seasonal + residual) AS vsr,
             var_samp(trend + residual) AS vtr,
             COUNT(*) AS n_days
      FROM d WHERE trend IS NOT NULL
    )
    SELECT CAST(n_days AS BIGINT) AS n_days,
           ROUND(GREATEST(0.0, 1 - vr / vsr), 6) AS f_seasonal,
           ROUND(GREATEST(0.0, 1 - vr / vtr), 6) AS f_trend
    FROM v
    """


@register("evt_seasonality_strength", _seasonality_strength_oracle())
def evt_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality / trend strength of the daily revenue series [public
    method: Wang-Smith-Hyndman feature measures, F_s = max(0, 1 -
    Var(R)/Var(S+R)) and F_t = max(0, 1 - Var(R)/Var(T+R)) — the
    scalar that decides whether evt_holt_winters' seasonal state or
    evt_holt_linear's trend-only model is worth fitting at all].
    Composes the registered evt_seasonal_decompose frame (the
    evt_pacf reuse rule: derived diagnostics consume the verified
    decomposition, never re-derive it), restricted to the interior
    days where the centered trend is defined.

    At 100 TB: the decomposition's one date-keyed rollup is the only
    corpus pass; the strength epilogue is two variance aggregates over
    the day-dimension frame — metadata-sized however large the event
    log. Both engines variance identical 6dp-rounded components, and
    the output rounds at 6dp, comfortably above var_samp's
    summation-order noise floor."""
    from hive_test_spark.registry import QUERIES

    d = QUERIES["evt_seasonal_decompose"](spark, sf_dir).filter(
        F.col("trend").isNotNull()
    )
    v = d.agg(
        F.var_samp("residual").alias("vr"),
        F.var_samp(F.col("seasonal") + F.col("residual")).alias("vsr"),
        F.var_samp(F.col("trend") + F.col("residual")).alias("vtr"),
        F.count(F.lit(1)).alias("n_days"),
    )
    return v.select(
        F.col("n_days").cast("long").alias("n_days"),
        F.round(F.greatest(F.lit(0.0), 1 - F.col("vr") / F.col("vsr")), 6).alias(
            "f_seasonal"
        ),
        F.round(F.greatest(F.lit(0.0), 1 - F.col("vr") / F.col("vtr")), 6).alias(
            "f_trend"
        ),
    )


# Backtest region: skip the first 8 days so the seasonal-naive (lag 7)
# and drift baselines are defined at every scored origin.
_BT_MIN_RN = 9


@register(
    "evt_forecast_backtest",
    f"""
    WITH s AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             ROUND(SUM(value), 6) AS rev,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS rn
      FROM events
      GROUP BY event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE)
    ),
    p AS (
      SELECT event_type, rn, rev,
             LAG(rev, 1) OVER w AS p_naive,
             LAG(rev, 7) OVER w AS p_snaive,
             LAG(rev, 1) OVER w
               + (LAG(rev, 1) OVER w - FIRST_VALUE(rev) OVER w) / NULLIF(rn - 2, 0)
               AS p_drift
      FROM s
      WINDOW w AS (PARTITION BY event_type ORDER BY rn)
    ),
    u AS (
      SELECT event_type, rn, rev, 'naive' AS method, p_naive AS pred FROM p
      UNION ALL
      SELECT event_type, rn, rev, 'snaive', p_snaive FROM p
      UNION ALL
      SELECT event_type, rn, rev, 'drift', p_drift FROM p
    )
    SELECT event_type, method,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(COUNT(ABS(rev - pred) / NULLIF(ABS(rev), 0)) AS BIGINT)
             AS n_mape,
           ROUND(AVG(ABS(rev - pred)), 6) AS mae,
           ROUND(AVG(ABS(rev - pred) / NULLIF(ABS(rev), 0)), 6) AS mape
    FROM u WHERE rn >= {_BT_MIN_RN}
    GROUP BY event_type, method
    ORDER BY event_type, method
    """,
)
def evt_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin forecast backtest of the three classical baselines
    [public method: Hyndman & Athanasopoulos's benchmark rule — naive
    (last value), seasonal-naive (value one period back), and drift
    (last value + average historical increment); any model that cannot
    beat these per-series MAE/MAPE numbers is not worth deploying]:
    each day from rn=9 on is scored as a one-step-ahead
    origin using ONLY strictly-prior data (LAG windows — no leakage by
    construction), and errors aggregate per (series, method). MAPE is
    undefined on zero-revenue days (its AVG skips them via the NULLIF
    guard), so ``n_mape`` reports that metric's actual sample size
    beside the full origin count ``n_days``. This is
    the acceptance gate evt_holt_linear / evt_holt_winters /
    evt_forecast_snaive feed into: a 100 TB forecast platform runs
    exactly this shape nightly over millions of series.

    At 100 TB: one map-side-combinable daily rollup (the only corpus
    pass), one series-keyed window pass for all three predictors at
    once, a 3x day-frame unpivot, and a tiny (series, method) agg.
    Daily revenue is rounded to 6dp BEFORE the windows (the
    evt_holt_linear round-the-inputs rule) so both engines difference
    identical doubles."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value"), 6).alias("rev")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    p = s.select(
        "event_type",
        F.row_number().over(w).alias("rn"),
        "rev",
        F.lag("rev", 1).over(w).alias("p_naive"),
        F.lag("rev", 7).over(w).alias("p_snaive"),
        (
            F.lag("rev", 1).over(w)
            + (F.lag("rev", 1).over(w) - F.first("rev").over(w))
            / F.nullif(F.row_number().over(w) - 2, F.lit(0))
        ).alias("p_drift"),
    )
    u = p.selectExpr(
        "event_type",
        "rn",
        "rev",
        "stack(3, 'naive', p_naive, 'snaive', p_snaive, 'drift', p_drift)"
        " AS (method, pred)",
    )
    err = F.abs(F.col("rev") - F.col("pred"))
    return (
        u.filter(F.col("rn") >= _BT_MIN_RN)
        .groupBy("event_type", "method")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            # MAPE's AVG skips zero-revenue days (the NULLIF guard), so
            # n_days does not describe its sample — emit the non-null
            # term count so the metric's support is explicit.
            F.count(err / F.nullif(F.abs(F.col("rev")), F.lit(0)))
            .cast("long")
            .alias("n_mape"),
            F.round(F.avg(err), 6).alias("mae"),
            F.round(
                F.avg(err / F.nullif(F.abs(F.col("rev")), F.lit(0))), 6
            ).alias("mape"),
        )
        .orderBy("event_type", "method")
    )


# Cross-correlation scan range and the fixed lead/lag series pair: does
# browsing activity LEAD purchasing revenue, and by how many days?
_CCF_MAX_LAG = 7


@register(
    "evt_ccf",
    f"""
    WITH s AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             ROUND(SUM(value), 6) AS rev
      FROM events WHERE event_type IN ('view', 'purchase')
      GROUP BY event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE)
    ),
    x AS (SELECT day, rev FROM s WHERE event_type = 'view'),
    y AS (SELECT day, rev FROM s WHERE event_type = 'purchase'),
    lags AS (SELECT unnest(range(-{_CCF_MAX_LAG}, {_CCF_MAX_LAG + 1})) AS lag)
    SELECT CAST(l.lag AS INT) AS lag,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(corr(x.rev, y.rev), 6) AS ccf
    FROM lags l
    CROSS JOIN x
    JOIN y ON y.day = x.day + CAST(l.lag AS INT)
    GROUP BY l.lag
    ORDER BY lag
    """,
)
def evt_ccf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function between two event-type daily series
    [public method: the CCF of classical time-series analysis — Pearson
    correlation of x_t against y_(t+lag) for each lag in a symmetric
    scan window; the lag of the peak is the lead/lag relationship, the
    standard browse-leads-purchase diagnostic]: completes the
    second-order deck beside evt_acf (self-correlation) and evt_pacf
    (partial) with the CROSS-series member those two cannot express.
    Daily revenue is rounded to 6dp BEFORE the correlation (the
    evt_holt_linear round-the-inputs rule); the correlation itself is
    6dp-rounded, absorbing both engines' co-moment accumulation-order
    ulps.

    At 100 TB: one (type, day) rollup is the only corpus pass; the lag
    scan runs on |days| x |lags| rows — the 15-row lag spine broadcasts
    against the day frame and the shifted self-join keys on the
    arithmetic date, so each lag's pairing is an equi-join, never a
    range scan. Millions of series would partition the rollup by
    series key and reuse the identical plan per pair."""
    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type").isin("view", "purchase"))
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.round(F.sum("value"), 6).alias("rev"))
    )
    x = s.filter(F.col("event_type") == "view").select(
        F.col("day").alias("xday"), F.col("rev").alias("xrev")
    )
    y = s.filter(F.col("event_type") == "purchase").select(
        F.col("day").alias("yday"), F.col("rev").alias("yrev")
    )
    lags = spark.range(-_CCF_MAX_LAG, _CCF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    return (
        x.crossJoin(lags)
        .join(y, F.col("yday") == F.date_add(F.col("xday"), F.col("lag")))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.round(F.corr("xrev", "yrev"), 6).alias("ccf"),
        )
        .orderBy("lag")
    )


def _granger_leg_sql(direction: str, t: str, sl: str, cl: str) -> str:
    """One Granger direction as a moment-sum reduction: regress target
    ``t`` on [1, self-lag ``sl``] (restricted) and [1, ``sl``, cross-lag
    ``cl``] (unrestricted) via the evt_ols_multifactor Cramer pattern,
    then F = (RSS_r - RSS_u) / (RSS_u / (n - 3))."""
    return f"""
      SELECT '{direction}' AS direction,
             CAST(n AS BIGINT) AS n_days,
             ROUND(det_b1 / det, 6) AS b_self,
             ROUND(det_b2 / det, 6) AS b_cross,
             ROUND(rss_r, 6) AS rss_r,
             ROUND(rss_u, 6) AS rss_u,
             ROUND((rss_r - rss_u) / (rss_u / (n - 3)), 6) AS f_stat
      FROM (
        SELECT n, det, det_b0, det_b1, det_b2,
               stt - (st - ((n * sslt - ssl * st) / (n * sslsl - ssl * ssl))
                      * ssl) / n * st
                   - ((n * sslt - ssl * st) / (n * sslsl - ssl * ssl)) * sslt
                 AS rss_r,
               stt - (det_b0 / det) * st - (det_b1 / det) * sslt
                   - (det_b2 / det) * sclt AS rss_u
        FROM (
          SELECT n, ssl, scl, st, sslsl, sclcl, sslcl, sslt, sclt, stt,
                 (n * (sslsl * sclcl - sslcl * sslcl)
                  - ssl * (ssl * sclcl - sslcl * scl)
                  + scl * (ssl * sslcl - sslsl * scl)) AS det,
                 (st * (sslsl * sclcl - sslcl * sslcl)
                  - ssl * (sslt * sclcl - sslcl * sclt)
                  + scl * (sslt * sslcl - sslsl * sclt)) AS det_b0,
                 (n * (sslt * sclcl - sslcl * sclt)
                  - st * (ssl * sclcl - sslcl * scl)
                  + scl * (ssl * sclt - sslt * scl)) AS det_b1,
                 (n * (sslsl * sclt - sslt * sslcl)
                  - ssl * (ssl * sclt - sslt * scl)
                  + st * (ssl * sslcl - sslsl * scl)) AS det_b2
          FROM (
            -- decimal -> VARCHAR -> DOUBLE, not a direct double cast:
            -- DuckDB's decimal->double multiplies the int128 unscaled
            -- value by a double 10^-s (two roundings), Spark's
            -- BigDecimal.doubleValue is correctly rounded — they differ
            -- by 1 ulp on ~21-digit sums. decimal->string is exact
            -- digits and string->double is correctly-rounded strtod in
            -- BOTH engines, so the epilogue sees bitwise-equal inputs.
            SELECT COUNT(*) AS n,
                   CAST(CAST(SUM({sl}) AS VARCHAR) AS DOUBLE) AS ssl,
                   CAST(CAST(SUM({cl}) AS VARCHAR) AS DOUBLE) AS scl,
                   CAST(CAST(SUM({t}) AS VARCHAR) AS DOUBLE) AS st,
                   CAST(CAST(SUM({sl} * {sl}) AS VARCHAR) AS DOUBLE) AS sslsl,
                   CAST(CAST(SUM({cl} * {cl}) AS VARCHAR) AS DOUBLE) AS sclcl,
                   CAST(CAST(SUM({sl} * {cl}) AS VARCHAR) AS DOUBLE) AS sslcl,
                   CAST(CAST(SUM({sl} * {t}) AS VARCHAR) AS DOUBLE) AS sslt,
                   CAST(CAST(SUM({cl} * {t}) AS VARCHAR) AS DOUBLE) AS sclt,
                   CAST(CAST(SUM({t} * {t}) AS VARCHAR) AS DOUBLE) AS stt
            FROM lagged WHERE {sl} IS NOT NULL AND {cl} IS NOT NULL
          ) m
        ) solved
      ) rss
    """


_GRANGER_BASE_SQL = """
    WITH s AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             ROUND(SUM(value), 6) AS rev
      FROM events WHERE event_type IN ('view', 'purchase')
      GROUP BY event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE)
    ),
    base AS (
      -- DECIMAL(19,6) ingest of the 6dp-rounded revenues (the
      -- fn_decimal tie-free pattern): every moment sum below is then
      -- EXACT and partition-order-independent — the round-10
      -- driver-red fix. Width 19 keeps DuckDB's multiply on the
      -- int128 path (an 18x18 product overflows its int64 physical
      -- type); the Spark side ingests DECIMAL(18,6) instead because
      -- Spark's product rule (p1+p2+1, s1+s2) must stay within
      -- precision 38 to avoid the lossy rescale — (37,12) is the
      -- widest exact product. Both sides are exact integers at scale
      -- 6, so the sums agree bitwise; only the silent-overflow
      -- headroom differs (Spark NULLs past |rev| ~1e12, DuckDB keeps
      -- to 1e13 — ADVICE r11 widened Spark from (12,6) whose 1e6
      -- ceiling was only ~27x above the sf0.1 maximum).
      SELECT x.day, CAST(x.rev AS DECIMAL(19,6)) AS x,
             CAST(y.rev AS DECIMAL(19,6)) AS y
      FROM (SELECT day, rev FROM s WHERE event_type = 'view') x
      JOIN (SELECT day, rev FROM s WHERE event_type = 'purchase') y
        ON y.day = x.day
    ),
    lagged AS (
      SELECT day, x, y,
             LAG(x, 1) OVER (ORDER BY day) AS xl,
             LAG(y, 1) OVER (ORDER BY day) AS yl
      FROM base
    )
"""


@register(
    "evt_granger",
    _GRANGER_BASE_SQL
    + f"""
    SELECT * FROM ({_granger_leg_sql("view->purchase", "y", "yl", "xl")}
    UNION ALL {_granger_leg_sql("purchase->view", "x", "xl", "yl")}) u
    ORDER BY direction
    """,
)
def evt_granger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 Granger causality test between the view and purchase daily
    revenue series, both directions [public method: Granger 1969 — does
    adding the OTHER series' lag improve the autoregression? F-test of
    the restricted (target on its own lag) vs unrestricted (plus the
    cross lag) OLS fits]: completes the causal deck beside evt_did /
    evt_did_event_study (interventions), evt_ab_cuped (randomized),
    and the new evt_ccf (whose peak lag this formalizes into a test
    statistic). Both regressions reduce to ONE pass of moment sums
    over the lagged day frame; the 3x3 unrestricted system solves by
    Cramer's rule (the evt_ols_multifactor pattern, shared leg builder
    for both directions so the arithmetic cannot drift) and RSS comes
    from the normal-equation identity RSS = Syy - b'X'y. Daily revenue
    is rounded to 6dp before the lags (the evt_holt_linear rule) and
    ingested as DECIMAL so every moment sum is EXACT and partition-
    order-independent — the round-10 driver-red fix: double moment sums
    reach ~3e8 where a 1-ulp reduction-order wiggle amplifies through
    the det/RSS cancellation and flips the 6th decimal of rss_u. The
    finished sums return to DOUBLE via a string cast (decimal→string is
    exact digits, string→double is correctly-rounded in both engines;
    the direct decimal→double casts disagree by 1 ulp: DuckDB scales
    the int128 by a double 10^-12, Spark rounds correctly), so the
    scalar epilogue sees bitwise-equal inputs on both engines.

    At 100 TB: the (type, day) rollup is the only corpus pass; the LAG
    window runs on the |days| calendar frame (bounded, like
    graph_modularity's 25-community window — NOT corpus-scale), and
    each direction is a 1-row moment reduction plus scalar epilogue.
    Millions of series pairs would partition the lag window by pair
    key and keep the identical leg arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type").isin("view", "purchase"))
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.round(F.sum("value"), 6).alias("rev"))
    )
    x = s.filter(F.col("event_type") == "view").select(
        "day", F.col("rev").alias("x")
    )
    y = s.filter(F.col("event_type") == "purchase").select(
        F.col("day").alias("yday"), F.col("rev").alias("y")
    )
    w = Window.orderBy("day")
    lagged = (
        x.join(y, F.col("yday") == F.col("day"))
        .select(
            "day",
            # decimal(18,6), not (19,6): Spark's product rule needs
            # p1+p2+1 <= 38 for an exact (37,12) product; headroom to
            # |rev| ~1e12 before a silent ANSI-off NULL (ADVICE r11).
            F.col("x").cast("decimal(18,6)").alias("x"),
            F.col("y").cast("decimal(18,6)").alias("y"),
        )
        .select(
            "day",
            "x",
            "y",
            F.lag("x", 1).over(w).alias("xl"),
            F.lag("y", 1).over(w).alias("yl"),
        )
    )

    def leg(direction: str, t: str, sl: str, cl: str) -> DataFrame:
        tc, slc, clc = F.col(t), F.col(sl), F.col(cl)
        m = lagged.filter(slc.isNotNull() & clc.isNotNull()).agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(slc).cast("string").cast("double").alias("ssl"),
            F.sum(clc).cast("string").cast("double").alias("scl"),
            F.sum(tc).cast("string").cast("double").alias("st"),
            F.sum(slc * slc).cast("string").cast("double").alias("sslsl"),
            F.sum(clc * clc).cast("string").cast("double").alias("sclcl"),
            F.sum(slc * clc).cast("string").cast("double").alias("sslcl"),
            F.sum(slc * tc).cast("string").cast("double").alias("sslt"),
            F.sum(clc * tc).cast("string").cast("double").alias("sclt"),
            F.sum(tc * tc).cast("string").cast("double").alias("stt"),
        )
        c = {k: F.col(k) for k in
             ("n", "ssl", "scl", "st", "sslsl", "sclcl", "sslcl",
              "sslt", "sclt", "stt")}
        det = (
            c["n"] * (c["sslsl"] * c["sclcl"] - c["sslcl"] * c["sslcl"])
            - c["ssl"] * (c["ssl"] * c["sclcl"] - c["sslcl"] * c["scl"])
            + c["scl"] * (c["ssl"] * c["sslcl"] - c["sslsl"] * c["scl"])
        )
        det_b0 = (
            c["st"] * (c["sslsl"] * c["sclcl"] - c["sslcl"] * c["sslcl"])
            - c["ssl"] * (c["sslt"] * c["sclcl"] - c["sslcl"] * c["sclt"])
            + c["scl"] * (c["sslt"] * c["sslcl"] - c["sslsl"] * c["sclt"])
        )
        det_b1 = (
            c["n"] * (c["sslt"] * c["sclcl"] - c["sslcl"] * c["sclt"])
            - c["st"] * (c["ssl"] * c["sclcl"] - c["sslcl"] * c["scl"])
            + c["scl"] * (c["ssl"] * c["sclt"] - c["sslt"] * c["scl"])
        )
        det_b2 = (
            c["n"] * (c["sslsl"] * c["sclt"] - c["sslt"] * c["sslcl"])
            - c["ssl"] * (c["ssl"] * c["sclt"] - c["sslt"] * c["scl"])
            + c["st"] * (c["ssl"] * c["sslcl"] - c["sslsl"] * c["scl"])
        )
        b1r = (c["n"] * c["sslt"] - c["ssl"] * c["st"]) / (
            c["n"] * c["sslsl"] - c["ssl"] * c["ssl"]
        )
        rss_r = (
            c["stt"]
            - (c["st"] - b1r * c["ssl"]) / c["n"] * c["st"]
            - b1r * c["sslt"]
        )
        rss_u = (
            c["stt"]
            - (det_b0 / det) * c["st"]
            - (det_b1 / det) * c["sslt"]
            - (det_b2 / det) * c["sclt"]
        )
        return m.select(
            F.lit(direction).alias("direction"),
            c["n"].cast("long").alias("n_days"),
            F.round(det_b1 / det, 6).alias("b_self"),
            F.round(det_b2 / det, 6).alias("b_cross"),
            F.round(rss_r, 6).alias("rss_r"),
            F.round(rss_u, 6).alias("rss_u"),
            F.round((rss_r - rss_u) / (rss_u / (c["n"] - 3)), 6).alias(
                "f_stat"
            ),
        )

    return (
        leg("view->purchase", "y", "yl", "xl")
        .unionByName(leg("purchase->view", "x", "xl", "yl"))
        .orderBy("direction")
    )


@register(
    "evt_winsorized_mean",
    """
    WITH q AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS p05,
             quantile_cont(value, 0.95) AS p95
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN e.value >= q.p05 AND e.value <= q.p95
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_inlier,
           ROUND(MIN(q.p05), 6) AS p05,
           ROUND(MIN(q.p95), 6) AS p95,
           ROUND(AVG(e.value), 6) AS mean_raw,
           ROUND(AVG(GREATEST(q.p05, LEAST(q.p95, e.value))), 6)
             AS mean_winsorized,
           ROUND(AVG(CASE WHEN e.value >= q.p05 AND e.value <= q.p95
                          THEN e.value END), 6) AS mean_trimmed
    FROM events e JOIN q ON q.event_type = e.event_type
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
)
def evt_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized and trimmed means per event type [public method: the
    classical robust-location estimators — clamp (winsorize) or drop
    (trim) values outside the exact [p5, p95] quantile band before
    averaging; the robust-aggregation member of the outlier deck
    beside evt_anomaly_mad (detection) and dq_outlier_iqr (flagging),
    which diagnose but never re-estimate]: per-group exact
    percentiles reduce in one aggregate, join back on the group key,
    and the clamped/trimmed means reduce in a second pass. The
    percentile interpolation is the Spark-percentile/DuckDB-
    quantile_cont contract the quantile-interp fuzz grammar pins;
    clamps compare against the UNROUNDED interpolated value in both
    engines, display columns round to 6dp.

    At 100 TB: two map-side-combinable passes over the events table
    keyed on the (5-value) event_type — the quantile frame is
    broadcast-size by construction, so the join back is a broadcast
    hash join, never a shuffle of the fact side."""
    ev = load_table(spark, sf_dir, "events")
    q = ev.groupBy(F.col("event_type").alias("q_type")).agg(
        F.expr("percentile(value, 0.05D)").alias("p05"),
        F.expr("percentile(value, 0.95D)").alias("p95"),
    )
    j = ev.join(F.broadcast(q), F.col("q_type") == F.col("event_type"))
    inlier = (F.col("value") >= F.col("p05")) & (F.col("value") <= F.col("p95"))
    return (
        j.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(inlier.cast("int")).cast("long").alias("n_inlier"),
            F.round(F.min("p05"), 6).alias("p05"),
            F.round(F.min("p95"), 6).alias("p95"),
            F.round(F.avg("value"), 6).alias("mean_raw"),
            F.round(
                F.avg(F.greatest(F.col("p05"), F.least(F.col("p95"), F.col("value")))), 6
            ).alias("mean_winsorized"),
            F.round(F.avg(F.when(inlier, F.col("value"))), 6).alias("mean_trimmed"),
        )
        .orderBy("event_type")
    )
