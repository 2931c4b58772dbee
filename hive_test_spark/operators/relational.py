"""SURVEY.md §2.B — projections, filters, predicates, distinct; plus the
M0 flagship query (TPC-H-Q1-shaped pricing summary, SURVEY.md §7.2).

Reference surface: HiveQL SELECT/WHERE/CASE/CAST/DISTINCT [Hive-public]
(reference checkout empty — SURVEY.md §0.1). All operators here are pure
built-in Catalyst expressions: whole-stage-codegen'd, predicate-pushdown
and column-pruning reach the parquet scan.

Scale notes: every query is scan→narrow ops (+ one hash-agg where noted);
no shuffle except the final aggregation, which AQE sizes. Nothing here
collects or loops on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_test_spark.io import load_table
from hive_test_spark.registry import register, register_sql


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: filter → hash-agg (partial+final) → sort on lineitem.

    Exercises scan/filter/project/agg/sort in one pipeline; the filter and
    the 7-column projection are pushed into the parquet scan.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 6).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6).alias("sum_disc_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 6
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


PRICING_SUMMARY_SQL = """
SELECT
  l_returnflag,
  l_linestatus,
  ROUND(SUM(l_quantity), 6) AS sum_qty,
  ROUND(SUM(l_extendedprice), 6) AS sum_base_price,
  ROUND(SUM(l_extendedprice * (1 - l_discount)), 6) AS sum_disc_price,
  ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 6) AS sum_charge,
  ROUND(AVG(l_quantity), 6) AS avg_qty,
  ROUND(AVG(l_extendedprice), 6) AS avg_price,
  ROUND(AVG(l_discount), 6) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

pricing_summary = register("flagship_pricing_summary", PRICING_SUMMARY_SQL)(pricing_summary)


# Column projection + alias + arithmetic. Narrow; scan reads 5 cols only.
register_sql(
    "project_select",
    """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS net_price,
           l_quantity * 2.0 AS double_qty
    FROM {lineitem}
    """,
)


# Conjunctive/disjunctive predicates, pushed to the parquet scan.
register_sql(
    "filter_pred",
    """
    SELECT o_orderkey, o_totalprice, o_orderstatus
    FROM {orders}
    WHERE o_totalprice > 50000.0
      AND (o_orderstatus = 'F' OR o_orderpriority = '1-URGENT')
    """,
)


@register(
    "filter_in_between_like",
    """
    SELECT p_partkey, p_brand, p_type, p_size
    FROM part
    WHERE p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
      AND p_size BETWEEN 10 AND 30
      AND p_type LIKE 'PROMO%'
      AND regexp_matches(p_name, '^[a-z]+ [a-z]+')
    """,
)
def filter_in_between_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN / BETWEEN / LIKE / RLIKE predicates."""
    p = load_table(spark, sf_dir, "part")
    return p.filter(
        F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
        & F.col("p_size").between(10, 30)
        & F.col("p_type").like("PROMO%")
        & F.col("p_name").rlike("^[a-z]+ [a-z]+")
    ).select("p_partkey", "p_brand", "p_type", "p_size")


# Searched + simple CASE projection.
register_sql(
    "project_case_when",
    """
    SELECT o_orderkey,
           CASE WHEN o_totalprice >= 150000.0 THEN 'big'
                WHEN o_totalprice >= 50000.0 THEN 'mid'
                ELSE 'small' END AS price_band,
           CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'done' ELSE 'partial' END AS status_word
    FROM {orders}
    """,
)


@register(
    "project_cast",
    """
    SELECT l_orderkey,
           CAST(l_quantity AS BIGINT) AS qty_int,
           CAST(l_linenumber AS DOUBLE) AS line_dbl,
           CAST(l_orderkey AS VARCHAR) AS key_str,
           CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS ship_day
    FROM lineitem
    """,
)
def project_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAST across numeric/string/date types."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        F.col("l_quantity").cast("bigint").alias("qty_int"),
        F.col("l_linenumber").cast("double").alias("line_dbl"),
        F.col("l_orderkey").cast("string").alias("key_str"),
        # DATE rendered as ISO string: pandas date-vs-midnight-timestamp
        # ambiguity makes raw DATE outputs hash-unstable (SURVEY.md §5.3).
        F.col("l_shipdate").cast("date").cast("string").alias("ship_day"),
    )


# 3-valued NULL logic: synthesized NULLs + IS NULL + COALESCE.
register_sql(
    "filter_null_semantics",
    """
    SELECT o_orderkey,
           CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_totalprice END AS maybe_price,
           COALESCE(CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_totalprice END, -1.0) AS price_or_neg1,
           (CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_totalprice END) IS NULL AS is_missing
    FROM {orders}
    WHERE CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_totalprice END IS NULL
       OR o_totalprice > 100000.0
    """,
)


# SELECT DISTINCT — hash-aggregate dedup (partial map-side combine).
register_sql(
    "distinct_rows",
    """
    SELECT DISTINCT l_returnflag, l_linestatus, l_shipmode
    FROM (SELECT l_returnflag, l_linestatus,
                 CASE WHEN l_linenumber % 2 = 0 THEN 'EVEN' ELSE 'ODD' END AS l_shipmode
          FROM {lineitem}) t
    """,
)
