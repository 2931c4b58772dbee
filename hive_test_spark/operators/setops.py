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

from hive_test_spark.registry import register_sql


# Two overlapping keysets: customers with big orders vs urgent orders.
_BRANCH_SQL = {
    "big": "SELECT o_custkey AS custkey FROM {orders} WHERE o_totalprice > 150000.0",
    "urgent": "SELECT o_custkey AS custkey FROM {orders} WHERE o_orderpriority = '1-URGENT'",
}


# UNION ALL (bag semantics — duplicates kept, visible via the count).
register_sql(
    "set_union_all",
    f"""
    SELECT custkey, COUNT(*) AS n
    FROM (({_BRANCH_SQL['big']}) UNION ALL ({_BRANCH_SQL['urgent']})) u
    GROUP BY custkey
    """,
)


# UNION DISTINCT (set semantics).
register_sql(
    "set_union_distinct",
    f"""
    ({_BRANCH_SQL['big']}) UNION ({_BRANCH_SQL['urgent']})
    """,
)


# INTERSECT (distinct semantics): customers in both branches.
register_sql(
    "set_intersect",
    f"""
    ({_BRANCH_SQL['big']}) INTERSECT ({_BRANCH_SQL['urgent']})
    """,
)


# EXCEPT (distinct semantics): big-order customers never urgent.
register_sql(
    "set_except",
    f"""
    ({_BRANCH_SQL['big']}) EXCEPT ({_BRANCH_SQL['urgent']})
    """,
)


# Multiset (bag) set operations [Spark-public: exceptAll / intersectAll,
# SPARK-21274; ANSI EXCEPT ALL / INTERSECT ALL]: duplicate-PRESERVING
# difference and intersection — a customer with 3 big orders and 1 urgent
# order survives EXCEPT ALL twice (3−1), where distinct EXCEPT (set_except)
# drops them entirely. The per-key multiplicity is exactly what the
# distinct variants erase, so the result is aggregated to (op, custkey, n)
# to pin it.
#
# At 100 TB: Spark plans bag semantics as a count-and-replicate (aggregate
# both sides on the full row, subtract/min the counts, regenerate rows) —
# same single-shuffle cost class as distinct set ops, NOT a join
# explosion; still keep projections narrow since the whole row is the
# shuffle key.
register_sql(
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
