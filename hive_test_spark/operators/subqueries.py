"""SURVEY.md §4 subquery-handling rows — exercised as first-class operators.

Hive rewrites IN/EXISTS subqueries into joins [Hive-public]; Catalyst's
equivalents are RewritePredicateSubquery (IN/EXISTS → [null-aware] semi/
anti join) and RewriteCorrelatedScalarSubquery (correlated scalar → agg +
left outer join). These two keys drive both rewrite paths through the SQL
front end so the engine exercises them explicitly (the DataFrame-API
semi/anti variants live in operators/joins.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hive_test_spark.io import load_table
from hive_test_spark.registry import register, register_sql


# Correlated scalar subquery: orders priced >1.5× their customer's
# average. Catalyst decorrelates (RewriteCorrelatedScalarSubquery) into
# a per-custkey aggregate + join — i.e. the subquery is evaluated once
# per key, not once per row. At scale that plan is one map-side-partial
# agg + one shuffle on o_custkey; AQE broadcasts the (small) aggregate
# side when it fits.
register_sql(
    "subq_scalar_correlated",
    """
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
    FROM {orders} o
    WHERE o.o_totalprice > 1.5 * (
      SELECT AVG(o2.o_totalprice) FROM {orders} o2 WHERE o2.o_custkey = o.o_custkey
    )
    """,
)


# NOT IN subquery — the null-aware anti-join path. Unlike NOT EXISTS
# (plain anti join, operators/joins.py join_left_anti), NOT IN must
# return zero rows if the subquery produces any NULL; Catalyst plans a
# null-aware anti join (broadcast-only strategy) to honor 3-valued
# logic. Kept as the canonical example of why production pipelines
# prefer NOT EXISTS on nullable keys at 100 TB: NAAJ cannot shuffle.
register_sql(
    "subq_not_in_nullsafe",
    """
    SELECT c_custkey, c_name
    FROM {customer}
    WHERE c_nationkey NOT IN (
      SELECT n_nationkey FROM {nation} WHERE n_name LIKE 'A%'
    )
    """,
)


# Correlated LATERAL subquery [ANSI / Hive-adjacent: per-row derived
# table]: for every nation, its top-2 customers by balance. Catalyst
# decorrelates the LATERAL (DecorrelateInnerQuery) into a ranked window
# over the child + an equi-join on the correlation key — NOT a per-row
# re-execution, so the plan is one shuffle on c_nationkey regardless of
# the outer row count. Tie-break on c_name keeps the LIMIT
# deterministic so the DuckDB oracle (same LATERAL) is exact.
#
# 100 TB note: decorrelation is the whole game — a naive nested-loop
# lateral is O(outer x inner); the window rewrite is one pass over the
# inner table. Same shape as win_topk_per_group, driven through the
# SQL front end to exercise the decorrelator itself.
register_sql(
    "subq_lateral",
    """
    SELECT n.n_name, c.c_name, c.c_acctbal
    FROM {nation} n, LATERAL (
      SELECT c_name, c_acctbal
      FROM {customer}
      WHERE c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_name
      LIMIT 2
    ) c
    """,
)


# Recursive CTE (WITH RECURSIVE, ANSI / Hive-4-adjacent): walk the
# implicit binary-heap hierarchy over c_custkey (parent = floor(k/2),
# root = 1) and aggregate node count + balance per depth. Spark 4
# executes this as an iterative UnionLoop: each step joins the previous
# frontier against the child table, terminating when the frontier is
# empty — depth is O(log N) for this hierarchy (~11 levels at sf0.01,
# ~24 at 100 TB key ranges), so the iteration count stays tiny even at
# 1000x data.
#
# 100 TB note: every iteration is an ordinary equi-join Catalyst plans
# independently (broadcast when the frontier is small, shuffle when
# wide), and each frontier is materialized once — the recursion never
# re-scans prior levels. The same query text runs verbatim on DuckDB,
# making this one of the few ops whose oracle is literally identical
# SQL.
register_sql(
    "subq_recursive_cte",
    """
    WITH RECURSIVE tree AS (
      SELECT c_custkey AS k, 0 AS depth, c_acctbal AS bal
      FROM {customer} WHERE c_custkey = 1
      UNION ALL
      SELECT c.c_custkey, t.depth + 1, c.c_acctbal
      FROM {customer} c JOIN tree t
        ON CAST(FLOOR(c.c_custkey / 2.0) AS BIGINT) = t.k
      WHERE c.c_custkey > 1
    )
    SELECT depth, COUNT(*) AS n_nodes, ROUND(SUM(bal), 6) AS depth_bal
    FROM tree GROUP BY depth
    """,
)


@register(
    "subq_quantified",
    """
    WITH ref AS (SELECT p_retailprice FROM part WHERE p_brand = 'Brand#4')
    SELECT p_partkey, p_brand, p_retailprice,
           CAST(p_retailprice > ALL (SELECT p_retailprice FROM ref) AS INT)
             AS gt_all_brand4
    FROM part
    WHERE p_retailprice > ANY (SELECT p_retailprice FROM ref)
    """,
)
def subq_quantified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified comparison subqueries — `> ANY (...)` / `> ALL (...)`
    [Hive-public: HiveQL/ANSI quantified predicates; Spark SQL has no
    ANY/ALL subquery syntax, so the engine supplies the standard
    decorrelation itself]: x > ANY(S) ⇔ x > MIN(S) and x > ALL(S) ⇔
    x > MAX(S) for a non-empty NULL-free S (fixture prices are NOT NULL;
    the empty-set edge — ANY→false, ALL→true — would need a COUNT guard,
    documented here, not exercised).

    Scale shape: the subquery collapses to a 1-row (min,max) aggregate
    broadcast to every task — the quantified predicate costs one
    map-side compare per row, no join of S itself. The oracle runs the
    REAL ANY/ALL syntax in DuckDB against the rewrite, proving the
    decorrelation equivalence."""
    from pyspark.sql import functions as F

    p = load_table(spark, sf_dir, "part")
    ref = p.filter(F.col("p_brand") == "Brand#4").agg(
        F.min("p_retailprice").alias("mn"), F.max("p_retailprice").alias("mx")
    )
    return (
        p.crossJoin(ref)
        .filter(F.col("p_retailprice") > F.col("mn"))
        .select(
            "p_partkey",
            "p_brand",
            "p_retailprice",
            (F.col("p_retailprice") > F.col("mx")).cast("int").alias("gt_all_brand4"),
        )
    )
