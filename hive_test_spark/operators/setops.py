"""SURVEY.md §2.G — set operations.

Reference surface: HiveQL UNION [ALL|DISTINCT], INTERSECT, EXCEPT
(Hive 2.3+) [Hive-public] (reference checkout empty — SURVEY.md §0.1).

Scale notes (100 TB): UNION ALL is a zero-shuffle plan concatenation.
UNION DISTINCT / INTERSECT / EXCEPT each cost one hash-dedup shuffle on
the full row; at warehouse scale prefer keyed semi/anti joins over
whole-row set ops when a key exists (the whole row is the shuffle key
here — keep projections narrow first, as these queries do).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_test_spark.io import load_table
from hive_test_spark.registry import register


def _branches(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Two overlapping keysets: customers with big orders vs urgent orders."""
    o = load_table(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 150000.0).select(
        F.col("o_custkey").alias("custkey")
    )
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    return big, urgent

_BRANCH_SQL = {
    "big": "SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 150000.0",
    "urgent": "SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'",
}


@register(
    "set_union_all",
    f"""
    SELECT custkey, COUNT(*) AS n
    FROM (({_BRANCH_SQL['big']}) UNION ALL ({_BRANCH_SQL['urgent']})) u
    GROUP BY custkey
    """,
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (bag semantics — duplicates kept, visible via the count)."""
    big, urgent = _branches(spark, sf_dir)
    return big.unionByName(urgent).groupBy("custkey").agg(F.count(F.lit(1)).alias("n"))


@register(
    "set_union_distinct",
    f"""
    ({_BRANCH_SQL['big']}) UNION ({_BRANCH_SQL['urgent']})
    """,
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION DISTINCT (set semantics)."""
    big, urgent = _branches(spark, sf_dir)
    return big.unionByName(urgent).distinct()


@register(
    "set_intersect",
    f"""
    ({_BRANCH_SQL['big']}) INTERSECT ({_BRANCH_SQL['urgent']})
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct semantics): customers in both branches."""
    big, urgent = _branches(spark, sf_dir)
    return big.intersect(urgent)


@register(
    "set_except",
    f"""
    ({_BRANCH_SQL['big']}) EXCEPT ({_BRANCH_SQL['urgent']})
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct semantics): big-order customers never urgent."""
    big, urgent = _branches(spark, sf_dir)
    return big.subtract(urgent)


@register(
    "set_bag_ops",
    f"""
    SELECT 'except_all' AS op, custkey, COUNT(*) AS n FROM (
      ({_BRANCH_SQL['big']}) EXCEPT ALL ({_BRANCH_SQL['urgent']})
    ) GROUP BY custkey
    UNION ALL
    SELECT 'intersect_all' AS op, custkey, COUNT(*) AS n FROM (
      ({_BRANCH_SQL['big']}) INTERSECT ALL ({_BRANCH_SQL['urgent']})
    ) GROUP BY custkey
    ORDER BY op, custkey
    """,
)
def set_bag_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset (bag) set operations [Spark-public: exceptAll /
    intersectAll, SPARK-21274; ANSI EXCEPT ALL / INTERSECT ALL]:
    duplicate-PRESERVING difference and intersection — a customer with
    3 big orders and 1 urgent order survives EXCEPT ALL twice (3−1),
    where distinct EXCEPT (set_except) drops them entirely. The per-key
    multiplicity is exactly what the distinct variants erase, so the
    result is aggregated to (op, custkey, n) to pin it.

    At 100 TB: Spark plans bag semantics as a count-and-replicate
    (aggregate both sides on the full row, subtract/min the counts,
    regenerate rows) — same single-shuffle cost class as distinct set
    ops, NOT a join explosion; still keep projections narrow since the
    whole row is the shuffle key."""
    big, urgent = _branches(spark, sf_dir)
    exc = (
        big.exceptAll(urgent)
        .groupBy("custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("except_all").alias("op"), "custkey", "n")
    )
    inter = (
        big.intersectAll(urgent)
        .groupBy("custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("intersect_all").alias("op"), "custkey", "n")
    )
    return exc.unionAll(inter).orderBy("op", "custkey")
