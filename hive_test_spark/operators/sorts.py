"""SURVEY.md §2.F — sorts / limits / top-k.

Reference surface: HiveQL ORDER BY / LIMIT and the Hive-specific
SORT BY / DISTRIBUTE BY / CLUSTER BY partition-local forms [Hive-public]
(reference checkout empty — SURVEY.md §0.1).

Scale notes (100 TB): global ORDER BY is a range-partitioned sort
(sampled range boundaries → shuffle → per-partition sort) — Spark never
funnels to one node. ORDER BY + LIMIT k plans as TakeOrderedAndProject:
per-partition top-k heaps, merged on the driver — O(k) driver memory.
SORT BY (partition-local) skips the range exchange entirely, which is
why Hive workloads use it before per-reducer writes.

The driver hash is order-insensitive, so ordered queries also project a
rank column — that turns row order into hashed values and makes the sort
observable to the correctness gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_test_spark.io import load_table
from hive_test_spark.registry import register, register_sql
from hive_test_spark.session import tune


@register(
    "sort_order_by",
    """
    SELECT c_custkey, c_nationkey, c_acctbal,
           ROW_NUMBER() OVER (ORDER BY c_nationkey ASC, c_acctbal DESC NULLS LAST, c_custkey) AS global_pos
    FROM customer
    """,
)
def sort_order_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key global sort, asc/desc + NULLS LAST. The global_pos column
    materializes the total order so the order-insensitive hash verifies it.
    (The single-partition rank window is the verification device; the
    production sort itself is the range-partitioned orderBy.)"""
    c = load_table(spark, sf_dir, "customer")
    w = Window.orderBy(
        F.col("c_nationkey").asc(), F.col("c_acctbal").desc_nulls_last(), F.col("c_custkey")
    )
    return (
        c.orderBy(F.col("c_nationkey").asc(), F.col("c_acctbal").desc_nulls_last(), "c_custkey")
        .select("c_custkey", "c_nationkey", "c_acctbal", F.row_number().over(w).alias("global_pos"))
    )


# Global top-K: plans as TakeOrderedAndProject (per-partition heaps,
# no full sort, no full shuffle). Deterministic via o_orderkey tiebreak.
register_sql(
    "sort_limit_topk",
    """
    SELECT o_orderkey, o_totalprice
    FROM {orders}
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
)


# LIMIT row cap. Bare LIMIT is partition-order-dependent, so the
# verified form caps an ordered-by-unique-key input (deterministic);
# tests exercise the bare CollectLimit separately.
register_sql(
    "limit_rows",
    """
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM {lineitem}
    ORDER BY l_orderkey, l_linenumber
    LIMIT 100
    """,
)


def sorted_partitions_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw SORT BY + DISTRIBUTE BY layout with partition ids exposed
    (engine-private — used by the monotonicity test, not the oracle)."""
    tune(spark)
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.repartition(8, "l_suppkey")
        .sortWithinPartitions("l_suppkey", "l_shipdate")
        .select("l_suppkey", "l_shipdate", F.spark_partition_id().alias("part_id"))
    )


def _partition_layout_facts(batches):
    """Per-partition physical-layout verifier (runs INSIDE one partition:
    mapInPandas invokes this once per partition, so the Arrow batch
    iterator order IS the partition-local row order)."""
    import pandas as pd

    n = 0
    keys: set = set()
    sorted_ok = True
    prev_key = None
    prev_date = None
    for pdf in batches:
        n += len(pdf)
        keys.update(pdf["l_suppkey"].tolist())
        k = pdf["l_suppkey"].to_numpy()
        d = pdf["l_shipdate"].to_numpy()
        if len(k):
            within = bool(
                ((k[1:] > k[:-1]) | ((k[1:] == k[:-1]) & (d[1:] >= d[:-1]))).all()
            )
            boundary = prev_key is None or (
                k[0] > prev_key or (k[0] == prev_key and d[0] >= prev_date)
            )
            sorted_ok = sorted_ok and within and bool(boundary)
            prev_key, prev_date = k[-1], d[-1]
    yield pd.DataFrame(
        {"n_rows": [n], "sorted_ok": [sorted_ok], "n_keys": [len(keys)]}
    )


@register(
    "sort_within_partitions",
    """
    SELECT COUNT(*) AS total_rows,
           TRUE AS all_partitions_sorted,
           COUNT(DISTINCT l_suppkey) AS n_distinct_keys,
           TRUE AS keys_disjoint
    FROM lineitem
    """,
)
def sort_within_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive SORT BY + DISTRIBUTE BY (= CLUSTER BY when keys match):
    repartition on the key, sort only within partitions — no global
    range exchange. Driver-hardened to a PROPERTY oracle (the same
    graduation as agg_approx_distinct/llm_near_dedup_minhash): the raw
    layout is engine-private (partition ids + physical row order), so
    the ORACLED contract is the layout's defining invariants, measured
    physically and emitted as engine-independent values:

    - `all_partitions_sorted`: a mapInPandas verifier walks every
      partition IN ITS PHYSICAL ORDER (one invocation per partition —
      batch iterator order is partition order, the only way partition-
      local order is observable at all) and confirms (l_suppkey,
      l_shipdate) monotonicity across batch boundaries;
    - `keys_disjoint`: Σ per-partition distinct keys equals the global
      distinct count iff no key straddles two partitions — the
      DISTRIBUTE BY co-location contract that bucket-map joins rest on;
    - `total_rows` / `n_distinct_keys`: exact conservation checks the
      oracle recomputes from the table.

    The Python verifier is verification machinery, not the operator
    (the layout itself is pure JVM shuffle+sort); at 100 TB you run the
    layout, not the audit — or run the audit as a cheap one-pass job
    after a risky layout migration."""
    laid_out = sorted_partitions_frame(spark, sf_dir)
    per_part = laid_out.mapInPandas(
        _partition_layout_facts, "n_rows long, sorted_ok boolean, n_keys long"
    )
    li = load_table(spark, sf_dir, "lineitem")
    globals_ = li.agg(
        F.count_distinct("l_suppkey").alias("gd"),
        F.count(F.lit(1)).alias("gn"),
    )
    return (
        per_part.agg(
            F.sum("n_rows").alias("total_rows"),
            F.bool_and("sorted_ok").alias("all_partitions_sorted"),
            F.sum("n_keys").alias("sum_part_keys"),
        )
        .crossJoin(globals_)
        .select(
            "total_rows",
            "all_partitions_sorted",
            F.col("gd").alias("n_distinct_keys"),
            (F.col("sum_part_keys") == F.col("gd")).alias("keys_disjoint"),
        )
    )


@register(
    "sort_cluster_by",
    """
    SELECT l_suppkey, CAST(1 AS BIGINT) AS n_partitions, COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_suppkey
    """,
)
def sort_cluster_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive CLUSTER BY (= DISTRIBUTE BY + SORT BY on the same key)
    [Hive-public: LanguageManual SortBy — the pre-bucketing co-location
    primitive]. Driven through the SQL front end, then verified by
    OBSERVING the physical layout: spark_partition_id() is captured
    post-shuffle and the rollup proves every l_suppkey landed in exactly
    ONE partition (n_partitions == 1 for all keys, vs the oracle's
    literal 1) while total row counts match. A broken distribution
    (e.g. round-robin) would scatter keys across partitions and fail the
    hash on n_partitions.

    100 TB note: CLUSTER BY before a write is how you co-locate data for
    downstream merge joins / bucketed tables; the per-key single-partition
    invariant is exactly what bucket-map-join correctness rests on. The
    follow-up groupBy reuses the HashPartitioning(l_suppkey) the shuffle
    produced — one exchange total (asserted in tests/test_plans.py)."""
    clustered = spark.sql(
        "SELECT l_suppkey, l_extendedprice FROM {li} CLUSTER BY l_suppkey",
        li=load_table(spark, sf_dir, "lineitem"),
    )
    return (
        clustered.withColumn("pid", F.spark_partition_id())
        .groupBy("l_suppkey")
        .agg(
            F.countDistinct("pid").alias("n_partitions"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "sort_nulls_ordering",
    """
    WITH keyed AS (
      SELECT c_custkey,
             CASE WHEN c_acctbal < 0 THEN NULL
                  ELSE ROUND(c_acctbal, 2) END AS pos_bal
      FROM customer
      WHERE c_custkey <= 2000
    )
    SELECT c_custkey, pos_bal,
           ROW_NUMBER() OVER (
             ORDER BY pos_bal DESC NULLS LAST, c_custkey) AS rk_last,
           ROW_NUMBER() OVER (
             ORDER BY pos_bal ASC NULLS FIRST, c_custkey) AS rk_first
    FROM keyed
    """,
)
def sort_nulls_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit NULL placement in ordering — the classic cross-engine
    trap this op pins shut: Spark's default is NULLS FIRST for ASC /
    NULLS LAST for DESC, DuckDB's is NULLS LAST for everything, so any
    ORDER BY on a nullable key that does not SAY where nulls go is
    engine-dependent. Both personalities are exercised (DESC NULLS
    LAST and ASC NULLS FIRST) over a deliberately nullable key
    (negative balances → NULL), and the resulting positions are
    materialized as row_number ranks — making null placement visible
    to the order-insensitive hash. Ties broken by c_custkey, the §5.3
    determinism rule.

    At 100 TB: null placement costs nothing — it is a flag on the
    range-partitioned sort's comparator, same exchange either way. The
    cost lesson is elsewhere: a rank over ORDER BY without PARTITION BY
    (as here) funnels one window partition; fine on a 2000-row slice,
    use per-shard ranks + offset joins at fact scale
    (llm_curriculum_order shows that decomposition)."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 2000)
    keyed = c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, None)
        .otherwise(F.round("c_acctbal", 2))
        .alias("pos_bal"),
    )
    w_last = Window.orderBy(F.col("pos_bal").desc_nulls_last(), F.col("c_custkey"))
    w_first = Window.orderBy(F.col("pos_bal").asc_nulls_first(), F.col("c_custkey"))
    return keyed.select(
        "c_custkey",
        "pos_bal",
        F.row_number().over(w_last).alias("rk_last"),
        F.row_number().over(w_first).alias("rk_first"),
    )


@register(
    "sort_limit_offset",
    """
    SELECT o_orderkey, ROUND(o_totalprice, 4) AS total
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10 OFFSET 20
    """,
)
def sort_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pagination: ORDER BY ... LIMIT k OFFSET n [Hive-public: LIMIT
    with offset arg since Hive 2.0; Spark-public: SQL OFFSET /
    DataFrame.offset since 3.4] — page 3 of the price-ranked orders.
    The order is a TOTAL order (unique o_orderkey tiebreak), which is
    what makes a page deterministic at all — OFFSET without a total
    order is a different row set every run.

    At 100 TB: OFFSET n LIMIT k plans as TakeOrderedAndProject of
    n + k rows — each partition top-(n+k)s locally, the driver merges
    and drops the first n, so cost grows with the OFFSET. Deep
    pagination (n in the millions) is an anti-pattern: use keyset
    pagination instead (WHERE (price, key) < last-seen ORDER BY ...
    LIMIT k), which this op's total order makes directly possible."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select(
            "o_orderkey",
            F.round("o_totalprice", 4).alias("total"),
        )
        .offset(20)
        .limit(10)
    )
