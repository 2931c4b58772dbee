"""SURVEY.md §2.D — aggregation operators.

Reference surface: HiveQL GROUP BY / DISTINCT aggregates / GROUPING SETS /
ROLLUP / CUBE / percentile & stat UDAFs / HAVING / CASE-matrix pivots
[Hive-public] (reference checkout empty — SURVEY.md §0.1).

Scale notes (100 TB): every groupBy here is a hash aggregate with
map-side partial aggregation (Spark plans partial_+final automatically),
so the shuffle carries one row per (partition × group), not per input
row. Group-by keys are low-cardinality dimension attributes; for
high-cardinality keys AQE coalesces/splits post-shuffle partitions.
COUNT(DISTINCT) expands to a two-phase expand+agg plan; approx variant
(HLL sketch) is the 100 TB path for ungroupable cardinalities.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_test_spark.io import load_table, materialize
from hive_test_spark.registry import register, register_sql


# Hash group-by with count/sum/avg/min/max (partial+final agg).
register_sql(
    "agg_groupby_basic",
    """
    SELECT o_orderpriority,
           COUNT(*) AS num_orders,
           ROUND(SUM(o_totalprice), 6) AS sum_price,
           ROUND(AVG(o_totalprice), 6) AS avg_price,
           ROUND(MIN(o_totalprice), 6) AS min_price,
           ROUND(MAX(o_totalprice), 6) AS max_price
    FROM {orders}
    GROUP BY o_orderpriority
    """,
)


@register(
    "agg_count_distinct",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS distinct_parts,
           COUNT(DISTINCT l_suppkey) AS distinct_supps,
           CAST(SUM(DISTINCT l_linenumber) AS BIGINT) AS sum_distinct_lines
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple exact DISTINCT aggregates (Expand-based multi-distinct plan)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("distinct_parts"),
        F.countDistinct("l_suppkey").alias("distinct_supps"),
        F.sum_distinct(F.col("l_linenumber")).alias("sum_distinct_lines"),
    )


_HLL_RSD = 0.01
_HLL_TOLERANCE = 3 * _HLL_RSD  # 3σ of the rsd guarantee


@register(
    "agg_approx_distinct",
    f"""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS exact_parts,
           TRUE AS approx_within_tol,
           COUNT(*) AS num_rows
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++): the 100 TB cardinality path —
    sketch merges instead of exact expand+shuffle. The raw HLL estimate
    can never hash-match a DuckDB oracle (different register layouts:
    Spark rsd=0.01 gives 2013 vs exact 2000 at sf0.01, and DuckDB's own
    HLL differs again), so the ORACLED contract is the accuracy
    PROPERTY: the estimate lands within 3×rsd of the exact count,
    checked inside the query and emitted as a boolean next to the exact
    count. The HLL path still executes — the boolean is derived from
    the real sketch output — while every emitted column is engine-
    independent. (Driver-hardened from the earlier rows-only version;
    the 3×rsd bound is the standard HLL++ guarantee [Spark-public:
    approx_count_distinct docs].)

    At 100 TB only the sketch runs (drop the exact column): partials
    are fixed-size register arrays merged on the 3-value flag key,
    versus COUNT(DISTINCT)'s expand + |parts|-sized shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    est = F.approx_count_distinct("l_partkey", rsd=_HLL_RSD)
    exact = F.count_distinct(F.col("l_partkey"))
    return (
        li.groupBy("l_returnflag")
        .agg(
            exact.alias("exact_parts"),
            (
                F.abs(est - exact) <= F.lit(_HLL_TOLERANCE) * exact
            ).alias("approx_within_tol"),
            F.count(F.lit(1)).alias("num_rows"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_collect",
    """
    WITH lists AS (
      SELECT c_nationkey,
             array_to_string(list(c_mktsegment ORDER BY c_mktsegment), '|') AS segments_all
      FROM customer GROUP BY c_nationkey
    ),
    sets AS (
      SELECT c_nationkey,
             array_to_string(list(seg ORDER BY seg), '|') AS segments_distinct
      FROM (SELECT DISTINCT c_nationkey, c_mktsegment AS seg FROM customer) d
      GROUP BY c_nationkey
    )
    SELECT l.c_nationkey, l.segments_all, s.segments_distinct
    FROM lists l JOIN sets s ON l.c_nationkey = s.c_nationkey
    """,
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list / collect_set with array_sort for determinism, serialized
    to '|'-joined strings: the driver's canonicalizer sorts result frames in
    pandas, and array cells (numpy.ndarray) are unhashable there — scalar
    string outputs keep the comparison exact (SURVEY.md §5.3 rule 3)."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.array_join(F.array_sort(F.collect_list("c_mktsegment")), "|").alias("segments_all"),
        F.array_join(F.array_sort(F.collect_set("c_mktsegment")), "|").alias("segments_distinct"),
    )


@register(
    "agg_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) AS g_flag,
           GROUPING(l_linestatus) AS g_status,
           COUNT(*) AS num_rows,
           ROUND(SUM(l_quantity), 6) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via the SQL front end (SURVEY.md §3.2 path 2) —
    single Expand node, one shuffle for all three grouping sets."""
    li = load_table(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) AS INT) AS g_flag,
               CAST(grouping(l_linestatus) AS INT) AS g_status,
               COUNT(*) AS num_rows,
               ROUND(SUM(l_quantity), 6) AS sum_qty
        FROM {li}
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """,
        li=li,
    )


@register(
    "agg_rollup",
    """
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) AS g_flag,
           GROUPING(l_linestatus) AS g_status,
           COUNT(*) AS num_rows,
           ROUND(SUM(l_extendedprice), 6) AS sum_price
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH ROLLUP hierarchical subtotals via DataFrame API."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
        F.count(F.lit(1)).alias("num_rows"),
        F.round(F.sum("l_extendedprice"), 6).alias("sum_price"),
    )


@register(
    "agg_cube",
    """
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) AS g_flag,
           GROUPING(l_linestatus) AS g_status,
           COUNT(*) AS num_rows
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH CUBE all-combination subtotals via DataFrame API."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
        F.count(F.lit(1)).alias("num_rows"),
    )


@register(
    "agg_percentile",
    """
    SELECT l_returnflag,
           ROUND(quantile_cont(l_quantity, 0.25), 6) AS q25,
           ROUND(quantile_cont(l_quantity, 0.50), 6) AS median_qty,
           ROUND(quantile_cont(l_quantity, 0.75), 6) AS q75,
           ROUND(quantile_cont(l_extendedprice, 0.90), 6) AS p90_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (percentile_cont interpolation). At 100 TB use
    approx_percentile (t-digest) — exact percentile sorts each group."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.25)), 6).alias("q25"),
        F.round(F.percentile("l_quantity", F.lit(0.50)), 6).alias("median_qty"),
        F.round(F.percentile("l_quantity", F.lit(0.75)), 6).alias("q75"),
        F.round(F.percentile("l_extendedprice", F.lit(0.90)), 6).alias("p90_price"),
    )


# Statistical UDAF family: stddev/variance/corr/covar.
register_sql(
    "agg_stats",
    """
    SELECT l_returnflag,
           ROUND(stddev_samp(l_quantity), 6) AS sd_qty,
           ROUND(var_samp(l_extendedprice), 4) AS var_price,
           ROUND(corr(l_extendedprice, l_quantity), 6) AS corr_price_qty,
           ROUND(covar_samp(l_extendedprice, l_quantity), 4) AS covar_price_qty
    FROM {lineitem}
    GROUP BY l_returnflag
    """,
)


@register(
    "agg_having",
    """
    SELECT o_custkey, COUNT(*) AS num_orders, ROUND(SUM(o_totalprice), 6) AS total_spent
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 12 AND SUM(o_totalprice) > 500000.0
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING = post-aggregation filter over aggregate expressions."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("num_orders"),
            F.round(F.sum("o_totalprice"), 6).alias("total_spent"),
            F.sum("o_totalprice").alias("_raw_total"),
        )
        .filter((F.col("num_orders") >= 12) & (F.col("_raw_total") > 500000.0))
        .drop("_raw_total")
    )


PIVOT_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

@register(
    "agg_pivot",
    """
    SELECT c_nationkey,
           ROUND(COALESCE(SUM(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN c_acctbal END), 0.0), 6) AS "AUTOMOBILE",
           ROUND(COALESCE(SUM(CASE WHEN c_mktsegment = 'BUILDING'   THEN c_acctbal END), 0.0), 6) AS "BUILDING",
           ROUND(COALESCE(SUM(CASE WHEN c_mktsegment = 'FURNITURE'  THEN c_acctbal END), 0.0), 6) AS "FURNITURE",
           ROUND(COALESCE(SUM(CASE WHEN c_mktsegment = 'HOUSEHOLD'  THEN c_acctbal END), 0.0), 6) AS "HOUSEHOLD",
           ROUND(COALESCE(SUM(CASE WHEN c_mktsegment = 'MACHINERY'  THEN c_acctbal END), 0.0), 6) AS "MACHINERY"
    FROM customer
    GROUP BY c_nationkey
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-wide (Hive expresses this as a CASE-WHEN matrix). Explicit
    value list avoids the extra distinct-values job — mandatory at scale."""
    c = load_table(spark, sf_dir, "customer")
    piv = (
        c.groupBy("c_nationkey")
        .pivot("c_mktsegment", PIVOT_SEGMENTS)
        .agg(F.sum("c_acctbal"))
    )
    return piv.select(
        "c_nationkey",
        *[F.round(F.coalesce(F.col(s), F.lit(0.0)), 6).alias(s) for s in PIVOT_SEGMENTS],
    )


# Linear-regression aggregate family [Hive-public: the ANSI regr_*
# UDAFs every warehouse ships — in-database OLS without exporting
# data]: per return flag, slope/intercept/R² of extendedprice against
# quantity plus the regression means — one two-phase hash aggregate,
# identical SQL on both engines.
#
# Scale shape: regr_* are sufficient-statistics aggregates
# (n, Σx, Σy, Σxx, Σxy — all map-side-combinable partials), so a
# 100 TB regression costs exactly one combinable agg pass: the whole
# point of in-engine OLS vs collect-and-fit.
register_sql(
    "agg_regr",
    """
    SELECT l_returnflag,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
           ROUND(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
           ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           ROUND(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
           ROUND(regr_avgx(l_extendedprice, l_quantity), 6) AS avg_x,
           ROUND(regr_avgy(l_extendedprice, l_quantity), 4) AS avg_y
    FROM {lineitem}
    GROUP BY l_returnflag
    """,
)


# Weighted median [Hive-public: the OLAP percentile variant plain
# percentile() can't express — each value counts with a weight
# (here: price weighted by quantity, i.e. the median price of a
# SHIPPED UNIT, not of a line)]: sort within group, running weight,
# first value whose cumulative weight crosses half the total.
# Deterministic tie-break (v, wt).
#
# Scale shape: one shuffle on the group key serves both windows AND
# the crossing-point filter (same partitioning). The within-group
# sort is the unavoidable cost of any exact quantile; the documented
# approx path (weight-replicated percentile_approx digests, which
# merge map-side) takes over when groups stop fitting a
# partition.
register_sql(
    "agg_weighted_median",
    """
    WITH w AS (
      SELECT l_returnflag, l_extendedprice AS v, l_quantity AS wt FROM {lineitem}
    ),
    c AS (
      SELECT l_returnflag, v, wt,
             SUM(wt) OVER (PARTITION BY l_returnflag ORDER BY v, wt
                           ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(wt) OVER (PARTITION BY l_returnflag) AS tot
      FROM w
    ),
    hit AS (
      SELECT l_returnflag, v,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY v, wt) AS rn
      FROM c WHERE cum >= tot / 2.0
    )
    SELECT l_returnflag, ROUND(v, 6) AS weighted_median_price
    FROM hit WHERE rn = 1
    """,
)


# Exact mode (most frequent value) per group [Hive-public: the
# statistical mode() UDAF — engines disagree on tie order, so the
# portable form is count + deterministic rank, lowest value wins
# ties]: two-phase count on (group, value), then a top-1 window on
# the count table.
#
# Scale shape: the count collapses the fact to distinct (group,
# value) pairs map-side; the window ranks that SMALL table. This
# rank-on-aggregate form is also why it oracles exactly, where a
# native mode() with unspecified tie-breaking cannot.
register_sql(
    "agg_mode",
    """
    WITH c AS (
      SELECT l_returnflag, l_quantity AS v, COUNT(*) AS n
      FROM {lineitem} GROUP BY l_returnflag, l_quantity
    )
    SELECT l_returnflag, ROUND(v, 6) AS mode_qty, CAST(n AS BIGINT) AS n_occurrences
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                       ORDER BY n DESC, v) AS rn
          FROM c)
    WHERE rn = 1
    """,
)


@register(
    "agg_listagg",
    """
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations_csv,
           string_agg(DISTINCT CAST(n_nationkey % 5 AS VARCHAR), '|'
                      ORDER BY CAST(n_nationkey % 5 AS VARCHAR)) AS mod_classes
    FROM nation
    GROUP BY n_regionkey
    ORDER BY n_regionkey
    """,
)
def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI LISTAGG ... WITHIN GROUP [Spark-public: SPARK-42746, Spark 4;
    Hive-public: the concat_ws(collect_list()) idiom this replaces]:
    ordered string aggregation per group, plus the DISTINCT variant —
    the report-friendly form of agg_collect's array serialization.
    WITHIN GROUP ordering makes the output deterministic WITHOUT a
    window pass; DuckDB spells it string_agg(... ORDER BY).

    At 100 TB the caveat is the same as collect_list: the aggregated
    string is unbounded in group size — LISTAGG belongs on
    dimension-scale groups (here: 5 nations per region), never on fact
    keys; for fact-scale use the top-k window + join shape instead."""
    return spark.sql(
        """
        SELECT n_regionkey,
               listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)
                 AS nations_csv,
               listagg(DISTINCT CAST(n_nationkey % 5 AS STRING), '|')
                 WITHIN GROUP (ORDER BY CAST(n_nationkey % 5 AS STRING))
                 AS mod_classes
        FROM {n}
        GROUP BY n_regionkey
        ORDER BY n_regionkey
        """,
        n=load_table(spark, sf_dir, "nation"),
    )


@register(
    "agg_grouping_id",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 6) AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), (o_orderpriority), ())
    """,
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive ``GROUPING__ID`` surface via the DataFrame-side
    ``groupingSets`` API (the SQL-text twin is agg_grouping_sets): the
    composite bit vector that tells report consumers WHICH grouping set
    produced each output row — indispensable once sets overlap (here the
    two single-column sets both emit rows with one NULL dimension, and
    only gid disambiguates a real NULL group from a rolled-up one).
    Spark's grouping_id() and DuckDB's GROUPING(a, b) use the same
    encoding: leftmost grouping column = most significant bit.

    At 100 TB: identical plan to any grouping-sets aggregate — ONE
    Expand (4 replicas here) + one shuffle; gid is computed inside the
    Expand for free. The alternative (4 separate aggregates unioned)
    scans the fact 4 times."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"],
             ["o_orderpriority"], []],
            "o_orderstatus", "o_orderpriority",
        )
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 6).alias("total_price"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "n_orders", "total_price")
    )


_APPROX_PCT_ACC = 100  # Spark accuracy knob: err <= 1/accuracy of rank


@register(
    "agg_approx_percentile",
    """
    SELECT l_returnflag, TRUE AS p50_ok, TRUE AS p90_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile accuracy CONTRACT, property-oracled (the
    graduation pattern of agg_approx_distinct): the estimator
    (Greenwald-Khanna summaries, mergeable map-side state — the reason
    every exact-percentile docstring here says "use approx at 100 TB")
    must return a value whose RANK is within 1/accuracy of the target
    rank. Checked in-query per group: the approx p50/p90 are compared
    against the exact value-at-rank window for rank targets padded by
    the guaranteed epsilon; the hash row pins both booleans true. A
    regression in the sketch (wrong merge, bad compression) fails the
    hash, while the raw estimate itself — implementation-specific —
    never enters the compare.

    At 100 TB: approx_percentile is one pass, O(1/eps · log(eps·N))
    state per group, mergeable — exact percentile sorts each group.
    This key is the acceptance gate that makes the swap safe."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    approx = li.groupBy("l_returnflag").agg(
        F.approx_percentile("l_quantity", F.lit(0.5), F.lit(_APPROX_PCT_ACC)).alias("a50"),
        F.approx_percentile("l_quantity", F.lit(0.9), F.lit(_APPROX_PCT_ACC)).alias("a90"),
        F.count(F.lit(1)).alias("n"),
    )
    # Exact rank of each approx value within its group (how many values
    # are <= the estimate), via one group-keyed aggregation.
    ranked = (
        li.join(F.broadcast(approx), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(F.col("l_quantity") <= F.col("a50"), 1).otherwise(0)).alias("r50"),
            F.sum(F.when(F.col("l_quantity") < F.col("a50"), 1).otherwise(0)).alias("r50_lo"),
            F.sum(F.when(F.col("l_quantity") <= F.col("a90"), 1).otherwise(0)).alias("r90"),
            F.sum(F.when(F.col("l_quantity") < F.col("a90"), 1).otherwise(0)).alias("r90_lo"),
            F.max("n").alias("n"),
        )
    )
    eps = 1.0 / _APPROX_PCT_ACC

    def _ok(target, r_hi, r_lo):
        # The returned value's rank interval [r_lo, r_hi] must intersect
        # the target-rank band [n*(q-eps), n*(q+eps)] (+1 slack for the
        # floor/ceiling conventions at tiny groups).
        lo_bound = (F.lit(target) - eps) * F.col("n") - 1
        hi_bound = (F.lit(target) + eps) * F.col("n") + 1
        return (F.col(r_hi) >= lo_bound) & (F.col(r_lo) <= hi_bound)

    return ranked.select(
        "l_returnflag",
        _ok(0.5, "r50", "r50_lo").alias("p50_ok"),
        _ok(0.9, "r90", "r90_lo").alias("p90_ok"),
    )


_HN_BINS = 8


@register(
    "agg_histogram_numeric",
    f"""
    SELECT l_returnflag,
           {_HN_BINS} AS n_bins,
           TRUE AS mass_ok, TRUE AS range_ok, TRUE AS sorted_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_histogram_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive ``histogram_numeric`` (adaptive numeric histogram UDAF —
    Ben-Haim/Tom-Tov streaming bin-merge, mergeable state), property-
    oracled like every approximate op here: bin PLACEMENT is
    implementation-private (merge order dependent), but the sketch's
    contract is checkable in-query per group — exactly b bins come
    back, the bin masses sum to the group's row count, every centroid
    lies within [min, max], and centroids are strictly sorted. The
    deterministic fixed-width twin is agg_histogram (hash-exact);
    this key pins the adaptive UDAF the Hive surface actually ships.

    At 100 TB: O(b) state per group, map-side combinable — the reason
    it exists instead of exact bucketing when the domain is unknown;
    b controls the accuracy/state trade like HLL precision."""
    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    h = li.groupBy("l_returnflag").agg(
        F.expr(f"histogram_numeric(l_quantity, {_HN_BINS})").alias("bins"),
        F.count(F.lit(1)).alias("n"),
        F.min("l_quantity").alias("mn"),
        F.max("l_quantity").alias("mx"),
    )
    return h.select(
        "l_returnflag",
        F.size("bins").alias("n_bins"),
        (
            F.round(F.expr("aggregate(bins, 0D, (acc, b) -> acc + b.y)"), 3)
            == F.col("n").cast("double")
        ).alias("mass_ok"),
        F.expr("forall(bins, b -> b.x >= mn AND b.x <= mx)").alias("range_ok"),
        # Centroids strictly increasing: compare each center to its successor.
        F.expr(
            "aggregate(zip_with(slice(transform(bins, b -> b.x), 1, size(bins) - 1), "
            "slice(transform(bins, b -> b.x), 2, size(bins) - 1), (a, c) -> a < c), "
            "true, (acc, v) -> acc AND v)"
        ).alias("sorted_ok"),
    )


# Count-min sketch geometry: depth (independent hash rows) × width
# (counters per row), and the bounded probe-key panel.
_CMS_DEPTH = 4
_CMS_WIDTH = 256
_CMS_PROBE_MOD = 11


@register(
    "agg_count_min_sketch",
    f"""
    WITH stream AS (SELECT l_partkey AS key FROM lineitem),
    rows_ AS (SELECT unnest(generate_series(0, {_CMS_DEPTH - 1})) AS r),
    counters AS (
      SELECT r.r,
             CAST('0x' || substring(md5(CAST(r.r AS VARCHAR) || ':'
                                        || CAST(s.key AS VARCHAR)), 1, 8)
                  AS BIGINT) % {_CMS_WIDTH} AS bucket,
             COUNT(*) AS c
      FROM stream s CROSS JOIN rows_ r
      GROUP BY 1, 2
    ),
    probes AS (
      SELECT key, COUNT(*) AS exact_n FROM stream
      WHERE key % {_CMS_PROBE_MOD} = 0
      GROUP BY key
    ),
    est AS (
      SELECT p.key, p.exact_n, MIN(c.c) AS cms_estimate
      FROM probes p
      CROSS JOIN rows_ r
      JOIN counters c
        ON c.r = r.r
       AND c.bucket = CAST('0x' || substring(md5(CAST(r.r AS VARCHAR) || ':'
                                             || CAST(p.key AS VARCHAR)), 1, 8)
                           AS BIGINT) % {_CMS_WIDTH}
      GROUP BY p.key, p.exact_n
    )
    SELECT key, exact_n, CAST(cms_estimate AS BIGINT) AS cms_estimate,
           CAST(cms_estimate - exact_n AS BIGINT) AS overestimate,
           CAST(cms_estimate >= exact_n AS INT) AS one_sided_ok
    FROM est
    ORDER BY key
    """,
)
def agg_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point queries [public method: Cormode &
    Muthukrishnan 2005 — {_CMS_DEPTH}×{_CMS_WIDTH} counters answer
    frequency queries with one-sided error (estimate ≥ truth, excess
    bounded by collisions); completes the sketch deck beside HLL
    (distinct), approx_top_k (heavy hitters), bitmap (exact sets),
    and approx_percentile (quantiles)]. Hash rows use md5-derived
    buckets so both engines build the IDENTICAL sketch; the counter
    table materializes as a {_CMS_DEPTH}·{_CMS_WIDTH}-row aggregate —
    the whole point: a bounded-size summary of an unbounded stream —
    and a bounded probe panel reads back MIN over its row buckets,
    with the one-sided flag pinned per key.

    At 100 TB: the counter build is ONE map-side-combinable aggregate
    whose output size is the constant d·w whatever the stream volume
    (partials compress to ≤ d·w rows per partition); probes join the
    tiny counter table. Merging shards = summing counter tables —
    the same agg again."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("key")
    )
    rows_ = spark.range(_CMS_DEPTH).select(F.col("id").cast("int").alias("r"))

    def bucket(key_col, r_col):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":", r_col.cast("string"), key_col.cast("string")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % _CMS_WIDTH
        )

    counters = (
        li.crossJoin(rows_)
        .groupBy("r", bucket(F.col("key"), F.col("r")).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(materialize)
    )
    probes = (
        li.filter(F.col("key") % _CMS_PROBE_MOD == 0)
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("exact_n"))
    )
    ctr = counters.select(
        F.col("r").alias("c_r"), F.col("bucket").alias("c_bucket"), "c"
    )
    est = (
        probes.crossJoin(rows_)
        .join(
            ctr,
            (F.col("c_r") == F.col("r"))
            & (F.col("c_bucket") == bucket(F.col("key"), F.col("r"))),
        )
        .groupBy("key", "exact_n")
        .agg(F.min("c").alias("cms_estimate"))
    )
    return est.select(
        "key",
        "exact_n",
        F.col("cms_estimate").cast("long").alias("cms_estimate"),
        (F.col("cms_estimate") - F.col("exact_n")).cast("long").alias("overestimate"),
        (F.col("cms_estimate") >= F.col("exact_n")).cast("int").alias("one_sided_ok"),
    ).orderBy("key")


@register(
    "agg_corr_matrix",
    """
    WITH s AS (
      SELECT corr(l_quantity, l_extendedprice) AS c0,
             corr(l_quantity, l_discount)      AS c1,
             corr(l_quantity, l_tax)           AS c2,
             corr(l_extendedprice, l_discount) AS c3,
             corr(l_extendedprice, l_tax)      AS c4,
             corr(l_discount, l_tax)           AS c5
      FROM lineitem
    )
    SELECT 'l_quantity' AS var_x, 'l_extendedprice' AS var_y, ROUND(c0, 6) AS corr_val FROM s
    UNION ALL SELECT 'l_quantity', 'l_discount', ROUND(c1, 6) FROM s
    UNION ALL SELECT 'l_quantity', 'l_tax', ROUND(c2, 6) FROM s
    UNION ALL SELECT 'l_extendedprice', 'l_discount', ROUND(c3, 6) FROM s
    UNION ALL SELECT 'l_extendedprice', 'l_tax', ROUND(c4, 6) FROM s
    UNION ALL SELECT 'l_discount', 'l_tax', ROUND(c5, 6) FROM s
    """,
)
def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix [warehouse EDA staple; the
    multi-pair complement of agg_regr's single-pair regr_* family]:
    all C(4,2)=6 correlations among lineitem's numeric measures in ONE
    aggregate pass, then stack() to the tidy (var_x, var_y, corr_val)
    triangle.

    Scale shape: corr() is a sufficient-statistics aggregate
    (n, Σx, Σy, Σxx, Σyy, Σxy — all map-side-combinable partials), so
    the full matrix over 100 TB costs a single combinable agg pass with
    a 1-row result — k² partials travel, never the data. The stack()
    pivot runs on that single row, i.e. driver-free and shuffle-free.
    This is the in-engine alternative to collect-and-np.corrcoef, which
    dies at exactly the scale this repo targets."""
    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    pairs = [(x, y) for i, x in enumerate(cols) for y in cols[i + 1 :]]
    stats = li.agg(
        *[
            F.round(F.corr(x, y), 6).alias(f"c{i}")
            for i, (x, y) in enumerate(pairs)
        ]
    )
    stack_args = ", ".join(
        f"'{x}', '{y}', c{i}" for i, (x, y) in enumerate(pairs)
    )
    return stats.selectExpr(
        f"stack({len(pairs)}, {stack_args}) AS (var_x, var_y, corr_val)"
    )


@register(
    "agg_higher_moments",
    """
    WITH s AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             SUM(CAST(l_quantity AS DOUBLE)) AS s1,
             SUM(POWER(CAST(l_quantity AS DOUBLE), 2)) AS s2,
             SUM(POWER(CAST(l_quantity AS DOUBLE), 3)) AS s3,
             SUM(POWER(CAST(l_quantity AS DOUBLE), 4)) AS s4
      FROM lineitem
      GROUP BY 1
    )
    SELECT l_returnflag, n,
           ROUND(s1 / n, 6) AS mean_qty,
           ROUND(((s3 / n) - 3 * (s1 / n) * (s2 / n) + 2 * POWER(s1 / n, 3))
                 / POWER((s2 / n) - POWER(s1 / n, 2), 1.5), 4) AS skewness_qty,
           ROUND(((s4 / n) - 4 * (s1 / n) * (s3 / n)
                  + 6 * POWER(s1 / n, 2) * (s2 / n) - 3 * POWER(s1 / n, 4))
                 / POWER((s2 / n) - POWER(s1 / n, 2), 2) - 3, 4) AS kurtosis_excess_qty
    FROM s
    """,
)
def agg_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-moment aggregates (skewness, excess kurtosis) from raw
    power sums [the distribution-shape complement of agg_stats'
    second-moment family]. Both engines ship native skewness()/
    kurtosis() builtins, but their bias conventions differ (sample vs
    population adjustment), so the cross-engine-exact form computes
    population moments from the sufficient statistics
    (n, Σx, Σx², Σx³, Σx⁴) with one shared formula.

    Scale shape: the four power sums are plain SUM aggregates —
    map-side-combinable partials — so shape statistics over 100 TB
    cost exactly one two-phase hash aggregate; the moment algebra runs
    on the per-group 5-tuple, data never moves twice. Cancellation
    note: raw-moment subtraction is safe here because quantity's
    mean²/variance ratio is O(1); for near-constant columns the
    streaming (Welford/co-moment) builtins are the right tool and
    agg_stats exhibits them."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("double")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("s1"),
        F.sum(F.pow(x, 2)).alias("s2"),
        F.sum(F.pow(x, 3)).alias("s3"),
        F.sum(F.pow(x, 4)).alias("s4"),
    )
    m = F.col("s1") / F.col("n")
    m2 = F.col("s2") / F.col("n") - F.pow(m, 2)
    m3 = F.col("s3") / F.col("n") - 3 * m * (F.col("s2") / F.col("n")) + 2 * F.pow(m, 3)
    m4 = (
        F.col("s4") / F.col("n")
        - 4 * m * (F.col("s3") / F.col("n"))
        + 6 * F.pow(m, 2) * (F.col("s2") / F.col("n"))
        - 3 * F.pow(m, 4)
    )
    return s.select(
        "l_returnflag",
        "n",
        F.round(m, 6).alias("mean_qty"),
        F.round(m3 / F.pow(m2, 1.5), 4).alias("skewness_qty"),
        F.round(m4 / F.pow(m2, 2) - 3, 4).alias("kurtosis_excess_qty"),
    )


# Pythagorean-means family (arithmetic / geometric / harmonic /
# RMS) [classic OLAP surface neither engine ships as builtins beyond
# AVG]: each expressed through its combinable sufficient statistic —
# geometric via exp(avg(ln x)) (the log-domain trick that avoids
# product overflow), harmonic via n/Σ(1/x), RMS via sqrt(avg(x²)) —
# so all four means compute in ONE two-phase hash aggregate.
#
# Scale shape: Σln x, Σ1/x, Σx² are plain SUM partials, map-side
# combinable like any AVG; the per-group finish is O(1) algebra.
# The positivity guard (x > 0) is a pushed-down scan predicate,
# keeping ln/reciprocal total-function-safe without ANSI traps.
register_sql(
    "agg_mean_family",
    """
    SELECT l_returnflag,
           COUNT(*) AS n,
           ROUND(AVG(CAST(l_quantity AS DOUBLE)), 6) AS mean_arith,
           ROUND(EXP(AVG(LN(CAST(l_quantity AS DOUBLE)))), 6) AS mean_geom,
           ROUND(COUNT(*) / SUM(1.0 / CAST(l_quantity AS DOUBLE)), 6) AS mean_harm,
           ROUND(SQRT(AVG(POWER(CAST(l_quantity AS DOUBLE), 2))), 6) AS mean_rms
    FROM {lineitem}
    WHERE l_quantity > 0
    GROUP BY l_returnflag
    """,
)
