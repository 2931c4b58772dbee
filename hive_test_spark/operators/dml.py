"""Hive ACID DML surface — DELETE / UPDATE / MERGE [Hive-public: Hive 2.2+
LanguageManual DML; ACID tables rewrite affected buckets/partitions].

Plain Spark over parquet has no in-place DML; the idiomatic equivalent is
copy-on-write: express the post-DML table as a query over the current
snapshot (exactly what Delta/Iceberg/Hive-ACID compaction do underneath).
Each operator here returns the post-DML relation, which makes the
semantics DuckDB-oracle-able without a writable-table harness.

Scale notes (100 TB): copy-on-write DML rewrites only affected files in
production table formats; the *plan shape* below is the real one —
DELETE = pushed-down negated filter, UPDATE = projection with CASE,
MERGE = full-outer join on the key (shuffle both sides or broadcast the
delta when small). AQE handles delta-side skew on hot keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_test_spark.io import load_table
from hive_test_spark.registry import register, register_sql


# DELETE FROM lineitem WHERE l_quantity < 5, as copy-on-write: the
# surviving relation is the negated-predicate filter (pushed to the
# parquet reader), profiled per returnflag so the oracle compares the
# whole surviving content cheaply. In a real ACID table only files
# containing hits are rewritten; the anti-predicate scan is identical.
register_sql(
    "dml_delete_rewrite",
    """
    SELECT l_returnflag, count(*) AS n_rows, ROUND(SUM(l_quantity), 6) AS sum_qty
    FROM {lineitem}
    WHERE NOT (l_quantity < 5)
    GROUP BY l_returnflag
    """,
)


# UPDATE orders SET o_orderpriority='0-URGENT' WHERE o_totalprice >
# 400000, as copy-on-write: a CASE projection over the snapshot. The
# non-updated columns pass through untouched — at scale the rewrite
# touches only files whose zone-map says the predicate can hit.
register_sql(
    "dml_update_rewrite",
    """
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 400000 THEN '0-URGENT' ELSE o_orderpriority END
             AS o_orderpriority,
           o_totalprice
    FROM {orders}
    """,
)


_MERGE_SRC_SQL = """
      SELECT o_orderkey AS m_key, ROUND(o_totalprice * 1.1, 6) AS m_price
      FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey + 10000000 AS m_key, ROUND(o_totalprice, 6) AS m_price
      FROM orders WHERE o_orderkey % 1000 = 0
"""


@register(
    "dml_merge_upsert",
    f"""
    WITH src AS ({_MERGE_SRC_SQL})
    SELECT COALESCE(o.o_orderkey, s.m_key) AS o_orderkey,
           COALESCE(s.m_price, ROUND(o.o_totalprice, 6)) AS o_totalprice,
           CASE WHEN o.o_orderkey IS NULL THEN 'inserted'
                WHEN s.m_key IS NULL THEN 'unchanged'
                ELSE 'updated' END AS merge_action
    FROM orders o FULL OUTER JOIN src s ON o.o_orderkey = s.m_key
    """,
)
def dml_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO orders USING src ON key — WHEN MATCHED UPDATE (price
    +10%), WHEN NOT MATCHED INSERT — as copy-on-write: a full-outer join
    of snapshot and delta with COALESCE per column plus an action tag
    (the tag doubles as the audit column real MERGE pipelines emit).
    The delta here is derived deterministically from orders itself
    (matched rows: key%7==0; new rows: key%1000==0 shifted past the key
    range) so the oracle reproduces it exactly.

    Scale: shuffle join on the merge key; broadcast the delta when it is
    <10% of the table (the common CDC case); Delta/Iceberg turn the same
    join into a file-level rewrite plan."""
    o = load_table(spark, sf_dir, "orders")
    upd = (
        o.filter(F.col("o_orderkey") % 7 == 0)
        .select(
            F.col("o_orderkey").alias("m_key"),
            F.round(F.col("o_totalprice") * 1.1, 6).alias("m_price"),
        )
    )
    ins = (
        o.filter(F.col("o_orderkey") % 1000 == 0)
        .select(
            (F.col("o_orderkey") + 10000000).alias("m_key"),
            F.round(F.col("o_totalprice"), 6).alias("m_price"),
        )
    )
    src = upd.unionByName(ins)
    return (
        o.join(src, o.o_orderkey == src.m_key, "full_outer")
        .select(
            F.coalesce(F.col("o_orderkey"), F.col("m_key")).alias("o_orderkey"),
            F.coalesce(F.col("m_price"), F.round(F.col("o_totalprice"), 6)).alias(
                "o_totalprice"
            ),
            F.when(F.col("o_orderkey").isNull(), F.lit("inserted"))
            .when(F.col("m_key").isNull(), F.lit("unchanged"))
            .otherwise(F.lit("updated"))
            .alias("merge_action"),
        )
    )


@register(
    "dml_insert_overwrite_partition",
    """
    SELECT o_orderstatus,
           COUNT(*) AS n_rows,
           ROUND(SUM(CASE WHEN o_orderstatus = 'P'
                          THEN o_totalprice * 0.9 ELSE o_totalprice END), 6)
             AS sum_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def dml_insert_overwrite_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive dynamic-partition INSERT OVERWRITE [Hive-public: INSERT
    OVERWRITE TABLE t PARTITION (col) SELECT ... — only partitions present
    in the batch are replaced]. Spark-first: a partitioned parquet layout
    plus ``partitionOverwriteMode=dynamic``; the restatement batch holds
    only status='P' rows (price discounted 10%), so partitions F and O
    must SURVIVE the overwrite byte-for-byte while P is replaced. The
    re-read rollup hashes the post-overwrite table against an oracle that
    computes the expected final state relationally — a wrong overwrite
    mode (static would wipe F and O) fails the hash, so the mode itself
    is what's being verified.

    100 TB note: dynamic overwrite is THE idiom for restating one day of
    an event warehouse in place — cost is proportional to the restated
    partitions, never to the table. Discovery of untouched partitions is
    metadata-only."""
    import shutil

    from hive_test_spark.io import scratch_dir
    from hive_test_spark.sources.scans import _sf_tag

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    path = scratch_dir("dml", _sf_tag(sf_dir), "orders_dynpart")
    shutil.rmtree(path, ignore_errors=True)
    o.write.partitionBy("o_orderstatus").mode("overwrite").parquet(path)
    restated = o.filter(F.col("o_orderstatus") == "P").withColumn(
        "o_totalprice", F.col("o_totalprice") * 0.9
    )
    (
        restated.write.partitionBy("o_orderstatus")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(path)
    )
    return (
        spark.read.parquet(path)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("o_totalprice"), 6).alias("sum_price"),
        )
    )


@register(
    "dml_scd2",
    """
    WITH base AS (
      SELECT c_custkey, ROUND(c_acctbal, 2) AS acctbal FROM customer
    ),
    delta AS (
      SELECT c_custkey, ROUND(c_acctbal + 100.0, 2) AS acctbal
      FROM customer WHERE c_custkey % 7 = 0
    ),
    closed AS (
      SELECT b.c_custkey, b.acctbal,
             '2024-01-01' AS valid_from, '2024-06-01' AS valid_to,
             0 AS is_current
      FROM base b WHERE b.c_custkey IN (SELECT c_custkey FROM delta)
    ),
    opened AS (
      SELECT d.c_custkey, d.acctbal,
             '2024-06-01' AS valid_from, '9999-12-31' AS valid_to,
             1 AS is_current
      FROM delta d
    ),
    unchanged AS (
      SELECT b.c_custkey, b.acctbal,
             '2024-01-01' AS valid_from, '9999-12-31' AS valid_to,
             1 AS is_current
      FROM base b WHERE b.c_custkey NOT IN (SELECT c_custkey FROM delta)
    )
    SELECT * FROM closed
    UNION ALL SELECT * FROM opened
    UNION ALL SELECT * FROM unchanged
    """,
)
def dml_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type 2 merge [Hive-public: THE classic
    warehouse dimension-maintenance pattern — history rows get closed
    with a valid_to, new versions open with is_current=1, untouched rows
    pass through]: a simulated balance-change delta (every 7th customer,
    +100) applied to the customer dimension as the three-branch union
    every SCD2 MERGE compiles to: close (semi-join), open (the delta),
    pass-through (anti-join).

    Scale shape: the delta is small by nature (daily changes << dim);
    both the semi- and anti-join broadcast it, so the 10^8-row dimension
    never shuffles — each branch is a map-side membership test, and the
    union is free (no operator barrier). This is exactly how SCD2 runs
    on a non-ACID table format; dml_merge_upsert shows the
    full-outer-join MERGE that replaces it when deltas are large."""
    c = load_table(spark, sf_dir, "customer")
    base = c.select("c_custkey", F.round("c_acctbal", 2).alias("acctbal"))
    delta = c.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey", F.round(F.col("c_acctbal") + 100.0, 2).alias("acctbal")
    )
    dkeys = delta.select("c_custkey")
    closed = base.join(dkeys, "c_custkey", "left_semi").select(
        "c_custkey",
        "acctbal",
        F.lit("2024-01-01").alias("valid_from"),
        F.lit("2024-06-01").alias("valid_to"),
        F.lit(0).alias("is_current"),
    )
    opened = delta.select(
        "c_custkey",
        "acctbal",
        F.lit("2024-06-01").alias("valid_from"),
        F.lit("9999-12-31").alias("valid_to"),
        F.lit(1).alias("is_current"),
    )
    unchanged = base.join(dkeys, "c_custkey", "left_anti").select(
        "c_custkey",
        "acctbal",
        F.lit("2024-01-01").alias("valid_from"),
        F.lit("9999-12-31").alias("valid_to"),
        F.lit(1).alias("is_current"),
    )
    return closed.unionAll(opened).unionAll(unchanged)


@register(
    "dml_snapshot_diff",
    """
    WITH snap_a AS (
      SELECT c_custkey, ROUND(c_acctbal, 2) AS acctbal, c_mktsegment
      FROM customer
    ),
    snap_b AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 11 = 0 THEN ROUND(c_acctbal + 50.0, 2)
                  ELSE ROUND(c_acctbal, 2) END AS acctbal,
             c_mktsegment
      FROM customer WHERE c_custkey % 13 <> 0
      UNION ALL
      SELECT c_custkey + 10000000, ROUND(c_acctbal, 2), c_mktsegment
      FROM customer WHERE c_custkey % 17 = 0
    ),
    diff AS (
      SELECT COALESCE(a.c_custkey, b.c_custkey) AS c_custkey,
             CASE WHEN b.c_custkey IS NULL THEN 'removed'
                  WHEN a.c_custkey IS NULL THEN 'added'
                  WHEN a.acctbal <> b.acctbal
                    OR a.c_mktsegment <> b.c_mktsegment THEN 'modified'
                  ELSE 'unchanged' END AS change_type,
             a.acctbal AS old_bal, b.acctbal AS new_bal
      FROM snap_a a FULL OUTER JOIN snap_b b ON a.c_custkey = b.c_custkey
    )
    SELECT change_type, COUNT(*) AS n_rows,
           ROUND(SUM(COALESCE(new_bal, 0) - COALESCE(old_bal, 0)), 4)
             AS net_balance_delta
    FROM diff GROUP BY change_type
    """,
)
def dml_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation diff [Hive-public: the nightly warehouse
    audit — compare two dimension snapshots, classify every key as
    added / removed / modified / unchanged and account for the value
    drift]: snapshot B simulates a day's churn (every 13th key deleted,
    every 11th rebalanced, every 17th respawned under a new key) and the FULL OUTER join classifies via
    null-side analysis — the same comparison that validates a migration
    or CDC feed end-to-end.

    Scale shape: one key-partitioned full-outer shuffle join (both
    sides co-partition on the key — at 100 TB, bucket both snapshots
    and it's shuffle-free), then a 4-row rollup. The per-row classify
    is pure map logic; nothing materializes the diff except the
    aggregate consumed downstream."""
    c = load_table(spark, sf_dir, "customer")
    snap_a = c.select(
        "c_custkey", F.round("c_acctbal", 2).alias("acctbal"), "c_mktsegment"
    )
    churn = c.filter(F.col("c_custkey") % 13 != 0).select(
        "c_custkey",
        F.when(
            F.col("c_custkey") % 11 == 0, F.round(F.col("c_acctbal") + 50.0, 2)
        )
        .otherwise(F.round("c_acctbal", 2))
        .alias("acctbal"),
        "c_mktsegment",
    )
    arrivals = c.filter(F.col("c_custkey") % 17 == 0).select(
        (F.col("c_custkey") + 10000000).alias("c_custkey"),
        F.round("c_acctbal", 2).alias("acctbal"),
        "c_mktsegment",
    )
    snap_b = churn.unionAll(arrivals)
    a = snap_a.select(
        F.col("c_custkey").alias("a_key"),
        F.col("acctbal").alias("old_bal"),
        F.col("c_mktsegment").alias("a_seg"),
    )
    b = snap_b.select(
        F.col("c_custkey").alias("b_key"),
        F.col("acctbal").alias("new_bal"),
        F.col("c_mktsegment").alias("b_seg"),
    )
    diff = a.join(b, a.a_key == b.b_key, "full_outer").select(
        F.when(F.col("b_key").isNull(), "removed")
        .when(F.col("a_key").isNull(), "added")
        .when(
            (F.col("old_bal") != F.col("new_bal"))
            | (F.col("a_seg") != F.col("b_seg")),
            "modified",
        )
        .otherwise("unchanged")
        .alias("change_type"),
        "old_bal",
        "new_bal",
    )
    return diff.groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(
            F.sum(
                F.coalesce("new_bal", F.lit(0.0)) - F.coalesce("old_bal", F.lit(0.0))
            ),
            4,
        ).alias("net_balance_delta"),
    )


_MULTI_INSERT_ORACLE = """
    SELECT 'open_orders' AS bucket, COUNT(*) AS n_rows,
           ROUND(SUM(o_totalprice), 6) AS sum_price
    FROM orders WHERE o_orderstatus = 'O'
    UNION ALL
    SELECT 'finished_orders', COUNT(*), ROUND(SUM(o_totalprice), 6)
    FROM orders WHERE o_orderstatus = 'F'
"""


@register("dml_multi_insert", _MULTI_INSERT_ORACLE)
def dml_multi_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive multi-table INSERT (``FROM src INSERT INTO a SELECT ... WHERE
    ... INSERT INTO b SELECT ... WHERE ...``) — the classic Hive idiom
    for fanning ONE source scan out into several destination tables in a
    single statement. Spark SQL inherits the grammar; the plan is a
    Union of per-branch InsertIntoDataSource commands over a shared
    scan. The re-read rollup of BOTH destination tables is what gets
    hash-verified, so branch routing (each row landing in exactly the
    tables whose predicate it satisfies) is the property under test.

    100 TB note: multi-insert is the map-side fan-out that saves N-1
    re-scans of the source when materializing N derived tables — the
    scan cost is paid once, each branch writes its own files in the same
    stage. Dynamic-partitioned destinations compose (each branch may
    ``PARTITION`` independently)."""
    import os
    import shutil

    from hive_test_spark.io import scratch_dir
    from hive_test_spark.sources.scans import _sf_tag

    tag = _sf_tag(sf_dir)
    ident = tag.replace(".", "_")  # table identifiers cannot contain dots
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    o.createOrReplaceTempView("hts_mi_orders")
    names = {"open": f"hts_mi_open_{ident}", "fin": f"hts_mi_fin_{ident}"}
    for kind, tbl in names.items():
        path = scratch_dir("dml", tag, f"multi_insert_{kind}")
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(
            f"CREATE TABLE {tbl} (o_orderkey BIGINT, o_totalprice DOUBLE) "
            f"USING parquet LOCATION '{path}'"
        )
    spark.sql(
        f"""
        FROM hts_mi_orders
        INSERT INTO {names['open']}
          SELECT o_orderkey, o_totalprice WHERE o_orderstatus = 'O'
        INSERT INTO {names['fin']}
          SELECT o_orderkey, o_totalprice WHERE o_orderstatus = 'F'
        """
    )
    open_agg = spark.table(names["open"]).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("o_totalprice"), 6).alias("sum_price"),
    ).select(F.lit("open_orders").alias("bucket"), "n_rows", "sum_price")
    fin_agg = spark.table(names["fin"]).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("o_totalprice"), 6).alias("sum_price"),
    ).select(F.lit("finished_orders").alias("bucket"), "n_rows", "sum_price")
    return open_agg.unionAll(fin_agg)


# Erasure request list: every 37th customer key — deterministic stand-in
# for the arbitrary key list a real right-to-be-forgotten batch carries.
_ERASE_MOD = 37


@register(
    "dml_gdpr_erasure",
    f"""
    WITH erase_cust AS (
      SELECT c_custkey FROM customer WHERE c_custkey % {_ERASE_MOD} = 0
    ),
    erase_ord AS (
      SELECT o_orderkey FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM erase_cust)
    ),
    c AS (
      SELECT 'customer' AS table_name, COUNT(*) AS rows_before,
             CAST(SUM(CASE WHEN c_custkey % {_ERASE_MOD} = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS rows_erased
      FROM customer
    ),
    o AS (
      SELECT 'orders' AS table_name, COUNT(*) AS rows_before,
             CAST(SUM(CASE WHEN o_custkey IN (SELECT c_custkey FROM erase_cust)
                           THEN 1 ELSE 0 END) AS BIGINT) AS rows_erased
      FROM orders
    ),
    l AS (
      SELECT 'lineitem' AS table_name, COUNT(*) AS rows_before,
             CAST(SUM(CASE WHEN l_orderkey IN (SELECT o_orderkey FROM erase_ord)
                           THEN 1 ELSE 0 END) AS BIGINT) AS rows_erased
      FROM lineitem
    )
    SELECT table_name, rows_before, rows_erased,
           rows_before - rows_erased AS rows_after
    FROM (SELECT * FROM c UNION ALL SELECT * FROM o UNION ALL SELECT * FROM l)
    """,
)
def dml_gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten cascade audit [public practice: GDPR Art. 17
    erasure over a warehouse without referential actions]: given a batch
    of subject keys, count what a cascading delete would remove from
    every table reachable through the FK chain (customer → orders →
    lineitem) — the impact report a governance pipeline emits BEFORE the
    copy-on-write rewrite (dml_delete_rewrite is the rewrite half). Each
    audit leg scans its table once and aggregates with a membership
    marker from a left join against the key list; customer and orders
    contribute one extra NARROW scan each to derive the next level's
    key list (bounded output: erasure keys, then their order keys) —
    the big fact (lineitem) is read exactly once.

    At 100 TB: the erasure list is bounded by request volume (thousands,
    not billions) — it broadcasts, so neither orders nor lineitem ever
    shuffles; the order-key list derived from it is erasure-bounded too
    and broadcasts down the chain the same way. Marker-join + SUM beats
    an anti-join-then-recount because it reads each fact exactly once
    for both the before and erased numbers."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    erase_cust = cust.filter(F.col("c_custkey") % _ERASE_MOD == 0).select("c_custkey")
    c_audit = cust.agg(
        F.count(F.lit(1)).alias("rows_before"),
        F.sum(
            F.when(F.col("c_custkey") % _ERASE_MOD == 0, 1).otherwise(0)
        ).alias("rows_erased"),
    ).select(F.lit("customer").alias("table_name"), "rows_before", "rows_erased")
    o_marked = orders.join(
        erase_cust.withColumn("erased", F.lit(1)),
        orders["o_custkey"] == F.col("c_custkey"),
        "left",
    )
    o_audit = o_marked.agg(
        F.count(F.lit(1)).alias("rows_before"),
        F.sum(F.coalesce(F.col("erased"), F.lit(0))).alias("rows_erased"),
    ).select(F.lit("orders").alias("table_name"), "rows_before", "rows_erased")
    erase_ord = (
        orders.join(erase_cust, orders["o_custkey"] == F.col("c_custkey"))
        .select("o_orderkey")
    )
    l_marked = li.join(
        F.broadcast(erase_ord.withColumn("erased", F.lit(1))),
        li["l_orderkey"] == F.col("o_orderkey"),
        "left",
    )
    l_audit = l_marked.agg(
        F.count(F.lit(1)).alias("rows_before"),
        F.sum(F.coalesce(F.col("erased"), F.lit(0))).alias("rows_erased"),
    ).select(F.lit("lineitem").alias("table_name"), "rows_before", "rows_erased")
    return (
        c_audit.unionAll(o_audit)
        .unionAll(l_audit)
        .select(
            "table_name",
            "rows_before",
            "rows_erased",
            (F.col("rows_before") - F.col("rows_erased")).alias("rows_after"),
        )
    )
