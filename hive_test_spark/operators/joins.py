"""SURVEY.md §2.C — join operators.

Reference surface: HiveQL JOIN forms incl. MAPJOIN and SMB bucketed joins
[Hive-public] (reference checkout empty — SURVEY.md §0.1); as-of join is a
driver-mandated extension (BASELINE.json:6).

Scale notes (100 TB):
- Equi-joins shuffle both sides on the key unless one side is broadcast;
  dimension tables (region/nation/customer at warehouse scale) go through
  ``F.broadcast`` so the fact table never shuffles for enrichment.
- AQE converts to broadcast at runtime when a side turns out small, and
  splits skewed partitions (skewJoin) — enabled in session.tune().
- The theta/range joins are expressed so the small side is broadcast
  (BroadcastNestedLoopJoin with a 5-row build side), never an all-pairs
  shuffle; the as-of join is a single shuffle on user_id + one window
  pass — the scalable alternative to a range self-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_test_spark.io import load_table
from hive_test_spark.registry import register, register_sql


# Inner equi-join orders↔customer (shuffled hash / SMJ; AQE may broadcast).
register_sql(
    "join_inner_hash",
    """
    SELECT o.o_orderkey, c.c_custkey, c.c_mktsegment, o.o_totalprice
    FROM {orders} o JOIN {customer} c ON o.o_custkey = c.c_custkey
    WHERE c.c_acctbal > 0.0
    """,
)


# Left outer join keeping order-less customers (NULL-extended rows).
register_sql(
    "join_left_outer",
    """
    SELECT c.c_custkey,
           COUNT(o.o_orderkey) AS num_orders,
           ROUND(COALESCE(SUM(o.o_totalprice), 0.0), 6) AS total_spent
    FROM {customer} c LEFT OUTER JOIN {orders} o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
)


# Right outer join — all customers, NULL order columns where unmatched.
register_sql(
    "join_right_outer",
    """
    SELECT o.o_orderkey, c.c_custkey, c.c_name
    FROM {orders} o RIGHT OUTER JOIN {customer} c ON o.o_custkey = c.c_custkey
    """,
)


# Full outer join of two aggregates with disjoint key coverage.
register_sql(
    "join_full_outer",
    """
    WITH cn AS (SELECT c_nationkey AS nk, COUNT(*) AS num_customers
                FROM {customer} WHERE c_acctbal > 9000.0 GROUP BY c_nationkey),
         sn AS (SELECT s_nationkey AS nk, COUNT(*) AS num_suppliers
                FROM {supplier} WHERE s_acctbal > 9000.0 GROUP BY s_nationkey)
    SELECT COALESCE(cn.nk, sn.nk) AS nationkey,
           cn.num_customers, sn.num_suppliers
    FROM cn FULL OUTER JOIN sn ON cn.nk = sn.nk
    """,
)


# Cartesian product (tiny dims only; never cross a fact table at scale).
register_sql(
    "join_cross",
    """
    SELECT r.r_name, n.n_name
    FROM {region} r CROSS JOIN {nation} n
    """,
)


@register(
    "join_left_semi",
    """
    SELECT c.c_custkey, c.c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000.0)
    """,
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI JOIN (Hive's canonical EXISTS): customers with a big order."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000.0)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_mktsegment")


@register(
    "join_left_anti",
    """
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= DATE '1998-01-01')
    """,
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI JOIN (NOT EXISTS rewrite): customers with no 1998+ order.
    The orders side is date-filtered so the survivor set is non-empty at
    every SF — an unfiltered anti-join returns 0 rows at sf0.01 (every
    customer has orders), which would make the oracle hash-match vacuous."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= "1998-01-01")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "join_broadcast",
    """
    SELECT p.p_brand,
           COUNT(*) AS num_lines,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 6) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-side join (Hive MAPJOIN): explicit broadcast of the part dim —
    the fact scan never shuffles for the join, only for the final agg."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("num_lines"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6).alias("revenue"),
        )
    )


@register(
    "join_sort_merge",
    """
    SELECT o.o_orderpriority,
           COUNT(*) AS num_lines,
           ROUND(SUM(l.l_quantity), 6) AS total_qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def join_sort_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-merge join (Hive SMB analogue): MERGE hint pins SMJ for the
    fact-fact join; on a warehouse both sides would be bucketed on the key
    (df.write.bucketBy) making this shuffle-free."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").hint("merge")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("num_lines"),
            F.round(F.sum("l_quantity"), 6).alias("total_qty"),
        )
    )


@register(
    "join_theta",
    """
    SELECT s.s_suppkey, COUNT(*) AS richer_than_suppliers
    FROM supplier s JOIN customer c ON s.s_acctbal > c.c_acctbal
    GROUP BY s.s_suppkey
    """,
)
def join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (theta) join: BroadcastNestedLoopJoin with the supplier side
    broadcast. At 100 TB a pure theta join must be banded (join on a coarse
    bucket equi-key + residual predicate) — see join_range_interval."""
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_acctbal")
    c = load_table(spark, sf_dir, "customer").select("c_acctbal")
    return (
        c.join(s, s.s_acctbal > c.c_acctbal)
        .groupBy("s_suppkey")
        .agg(F.count(F.lit(1)).alias("richer_than_suppliers"))
    )


@register(
    "join_range_interval",
    """
    SELECT b.band_id, COUNT(*) AS num_orders, ROUND(SUM(o.o_totalprice), 6) AS band_total
    FROM orders o
    JOIN (SELECT r_regionkey AS band_id,
                 r_regionkey * 60000.0 AS lo,
                 (r_regionkey + 1) * 60000.0 AS hi
          FROM region) b
      ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band_id
    """,
)
def join_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/range join: fact rows land in value bands. The band table is
    broadcast, so the plan is a map-side nested-loop over 5 rows — the
    scalable shape for banded range joins (no shuffle of the fact side)."""
    o = load_table(spark, sf_dir, "orders")
    bands = (
        load_table(spark, sf_dir, "region")
        .select(
            F.col("r_regionkey").alias("band_id"),
            (F.col("r_regionkey") * 60000.0).alias("lo"),
            ((F.col("r_regionkey") + 1) * 60000.0).alias("hi"),
        )
    )
    return (
        o.join(bands, (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi))
        .groupBy("band_id")
        .agg(
            F.count(F.lit(1)).alias("num_orders"),
            F.round(F.sum("o_totalprice"), 6).alias("band_total"),
        )
    )


@register(
    "join_asof",
    """
    WITH clicks AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, MAX(value) AS click_value
      FROM events WHERE event_type = 'click' GROUP BY 1, 2
    ),
    purchases AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, p.ts AS purchase_ts,
           c.ts AS last_click_ts, c.click_value
    FROM purchases p
    ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (driver extension, BASELINE.json:6): for each purchase,
    the latest click by the same user at-or-before the purchase time.

    Implemented as union-tag + window ``last(..., ignorenulls)`` — one
    shuffle on user_id and one sorted window pass, which scales linearly;
    the naive alternative (range self-join + row_number) is quadratic per
    user. Clicks are pre-deduped per (user, ts) so ties are deterministic.
    """
    ev = load_table(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
        .select(
            "user_id",
            "ts",
            "click_value",
            F.lit(None).cast("long").alias("event_id"),
            F.lit(None).cast("double").alias("value"),
            F.lit(0).alias("side"),
        )
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(None).cast("double").alias("click_value"),
        "event_id",
        "value",
        F.lit(1).alias("side"),
    )
    tagged = clicks.unionByName(purchases)
    # side=0 (click) sorts before side=1 (purchase) at equal ts → "at-or-before".
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_click = F.col("side") == 0
    enriched = tagged.select(
        "event_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "side",
        F.last(F.when(is_click, F.col("ts")), ignorenulls=True).over(w).alias("last_click_ts"),
        F.last(F.when(is_click, F.col("click_value")), ignorenulls=True)
        .over(w)
        .alias("click_value"),
    )
    return enriched.filter(F.col("side") == 1).drop("side")


@register(
    "join_star_multiway",
    """
    SELECT n.n_name, ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 6) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
)
def join_star_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way star join (TPC-H Q5 shape): fact + 5 dims. The FACT
    (lineitem) is the probe side of every join — it is never built into
    a hash relation and never broadcast (the previous c⋈o-first order
    let the static planner broadcast-build the fact, which inverts at
    scale); the date-filtered orders, customer, supplier sides build,
    nation/region broadcast under the size threshold. Catalyst pushes the region
    filter through the join chain and prunes everything else. At 100 TB
    orders outgrows any threshold and AQE turns that first join into a
    keyed shuffle — the code stays the same."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6).alias("revenue")
        )
    )


@register(
    "join_null_safe",
    """
    SELECT NULLIF(c.c_nationkey, 3) AS join_key, COUNT(*) AS n_pairs
    FROM customer c
    JOIN supplier s
      ON NULLIF(c.c_nationkey, 3) IS NOT DISTINCT FROM NULLIF(s.s_nationkey, 3)
    GROUP BY 1
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (HiveQL `<=>` [Hive-public] = Spark
    `eqNullSafe` = SQL IS NOT DISTINCT FROM): NULL keys MATCH each other
    instead of dropping out. NULLIF(nationkey, 3) manufactures a real
    null population on both sides so the null-group row is non-vacuous.

    Scale warning (the reason this operator exists in the inventory):
    null-safe equality hashes every NULL to the SAME reducer — at 100 TB
    a null-heavy key column makes this the single worst skew in the job.
    The standard fix is to split the plan: plain equi-join for non-null
    keys UNION the null×null block handled separately (or salted). Here
    the whole join stays one shuffle on the coalesced key."""
    c = load_table(spark, sf_dir, "customer").select(
        F.expr("nullif(c_nationkey, 3)").alias("join_key")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.expr("nullif(s_nationkey, 3)").alias("s_key")
    )
    return (
        c.join(s, c.join_key.eqNullSafe(s.s_key))
        .groupBy("join_key")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@register(
    "join_fuzzy_levenshtein",
    """
    WITH p AS (SELECT p_partkey, p_type, p_size, p_name FROM part)
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
    FROM p a JOIN p b
      ON a.p_type = b.p_type AND a.p_size = b.p_size
     AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
)
def join_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy-match join [Hive-public: entity-resolution /
    data-cleaning staple — Hive and Spark both ship levenshtein()]:
    candidate pairs come from an EQUI-join on a blocking key
    (p_type, p_size), and only candidates pay the O(len²) edit-distance
    compare; survivors are pairs within distance 2, deduped by key order.

    Scale shape: the blocking join is the whole design — an unblocked
    fuzzy join is O(N²) distance computations (ruinous at any scale);
    blocked, cost is Σ_block |b|², bounded by the largest block. At
    100 TB you pick/composite the blocking key to cap block size
    (add a name-length bucket or first-token key when a block whales)
    — the same family of trade as the LSH band count in llm_ann_lsh.
    The a<b key inequality halves the pair space and makes output
    deterministic."""
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_type", "p_size", "p_name"
    )
    a = p.select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_type").alias("t_a"),
        F.col("p_size").alias("s_a"),
        F.col("p_name").alias("name_a"),
    )
    b = p.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_type").alias("t_b"),
        F.col("p_size").alias("s_b"),
        F.col("p_name").alias("name_b"),
    )
    return (
        a.join(
            b,
            (F.col("t_a") == F.col("t_b"))
            & (F.col("s_a") == F.col("s_b"))
            & (F.col("key_a") < F.col("key_b")),
        )
        .filter(F.levenshtein("name_a", "name_b") <= 2)
        .select(
            "key_a",
            "key_b",
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").cast("long").alias("edit_dist"),
        )
    )


# Existence (mark) join — Spark's 9th physical join type, produced
# when an IN/EXISTS subquery sits inside a DISJUNCTION: the subquery
# can't become a plain semi join (the OR's other leg must still pass
# rows), so the join emits every probe row plus a boolean `exists`
# mark consumed by the residual OR [Spark-public: ExistenceJoin in
# the join-type hierarchy]. Orders from rich customers OR big-ticket
# orders, rolled up by priority — requires SQL text (the DataFrame
# API has no direct spelling for a marked subquery in a disjunct;
# `isin` over a collected list would be the driver-side anti-pattern).
#
# At 100 TB: the mark join keeps the subquery distributed — build
# side is the filtered customer-key set (broadcast here, hash shuffle
# when large); the alternative users write (collect keys to the
# driver, then `.isin(...)`) dies at ~10⁵ keys. The plan-shape test
# asserts ExistenceJoin appears.
register_sql(
    "join_existence_mark",
    """
    SELECT o.o_orderpriority,
           COUNT(*) AS n_orders,
           ROUND(SUM(o.o_totalprice), 4) AS total
    FROM {orders} o
    WHERE o.o_custkey IN (SELECT c_custkey FROM {customer}
                          WHERE c_acctbal > 8000)
       OR o.o_totalprice > 400000
    GROUP BY o.o_orderpriority
    ORDER BY o_orderpriority
    """,
)


_OVERLAP_ORACLE = """
    WITH spans AS (
      SELECT user_id, event_type,
             MIN(ts) AS t_lo, MAX(ts) AS t_hi
      FROM events GROUP BY user_id, event_type
    )
    SELECT a.user_id, a.event_type AS type_a, b.event_type AS type_b,
           CAST(date_diff('second',
                          GREATEST(a.t_lo, b.t_lo),
                          LEAST(a.t_hi, b.t_hi)) AS BIGINT) AS overlap_s
    FROM spans a JOIN spans b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    WHERE a.t_lo <= b.t_hi AND b.t_lo <= a.t_hi
"""


@register("join_interval_overlap", _OVERLAP_ORACLE)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-OVERLAP join (both sides are intervals, emit overlapping
    pairs with overlap length) — the sibling of join_range_interval's
    point-in-band shape. Intervals are per-(user, event_type) activity
    spans; the overlap join is keyed on user_id with the overlap
    predicate (lo_a <= hi_b AND lo_b <= hi_a) evaluated INSIDE the
    equi-join — one shuffle on the key, theta only within key groups,
    and the a.type < b.type orientation emits each pair once.

    At 100 TB: the equi-key is what makes this scale — a keyless
    interval overlap is inherently quadratic, and the standard fix is to
    MANUFACTURE the key by gridding time into buckets (explode each
    interval to its covered buckets, equi-join on bucket, dedup pairs) —
    same plan shape as this one with the bucket id standing in for
    user_id. Spark will not use a specialized interval tree; the
    per-key group sizes bound the quadratic term exactly like
    llm_semdedup's cluster cells."""
    ev = load_table(spark, sf_dir, "events")
    spans = ev.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("t_lo"), F.max("ts").alias("t_hi")
    )
    b = spans.select(
        F.col("user_id").alias("b_uid"),
        F.col("event_type").alias("type_b"),
        F.col("t_lo").alias("b_lo"),
        F.col("t_hi").alias("b_hi"),
    )
    joined = spans.join(
        b,
        (F.col("user_id") == F.col("b_uid"))
        & (F.col("event_type") < F.col("type_b"))
        & (F.col("t_lo") <= F.col("b_hi"))
        & (F.col("b_lo") <= F.col("t_hi")),
    )
    return joined.select(
        "user_id",
        F.col("event_type").alias("type_a"),
        "type_b",
        (
            F.unix_timestamp(F.least("t_hi", "b_hi"))
            - F.unix_timestamp(F.greatest("t_lo", "b_lo"))
        ).alias("overlap_s"),
    )


_TEMPORAL_ORACLE = """
    WITH dim AS (
      SELECT c_custkey, ROUND(c_acctbal, 2) AS acctbal,
             DATE '1992-01-01' AS valid_from,
             CASE WHEN c_custkey % 3 = 0 THEN DATE '1996-01-01'
                  ELSE DATE '9999-12-31' END AS valid_to
      FROM customer
      UNION ALL
      SELECT c_custkey, ROUND(c_acctbal + 500.0, 2),
             DATE '1996-01-01', DATE '9999-12-31'
      FROM customer WHERE c_custkey % 3 = 0
    )
    SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
           d.acctbal AS acctbal_asof,
           CAST(d.valid_from AS VARCHAR) AS valid_from
    FROM orders o
    JOIN dim d
      ON d.c_custkey = o.o_custkey
     AND o.o_orderdate >= d.valid_from
     AND o.o_orderdate < d.valid_to
    WHERE o.o_orderkey < 3000
"""


@register("join_temporal_validity", _TEMPORAL_ORACLE)
def join_temporal_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-validity join: fact rows pick the dimension VERSION that
    was in effect on the fact date (``valid_from <= date < valid_to``) —
    the consumption side of SCD2 (dml_scd2 builds such a dimension;
    this is how facts read it without time-travel leakage). The
    versioned dim is manufactured deterministically: every third
    customer has a second version effective 1996-01-01, so both eras
    are exercised and each fact row matches EXACTLY ONE version — the
    hash would catch both temporal overlap (duplicate matches) and gaps
    (dropped facts).

    At 100 TB: the join is equi-keyed on the surrogate key with the
    validity predicate evaluated inside the key group — dimension
    versions per key are few, so the post-equi filter is O(versions).
    The anti-pattern is joining on the date range alone (keyless
    interval join → quadratic; see join_interval_overlap's gridding
    note). SCD2 dims stay broadcastable far longer than facts grow:
    versions accrete linearly with CHANGE rate, not event rate."""
    c = load_table(spark, sf_dir, "customer")
    v1 = c.select(
        "c_custkey",
        F.round("c_acctbal", 2).alias("acctbal"),
        F.lit("1992-01-01").cast("date").alias("valid_from"),
        F.when(F.col("c_custkey") % 3 == 0, F.lit("1996-01-01"))
        .otherwise(F.lit("9999-12-31"))
        .cast("date")
        .alias("valid_to"),
    )
    v2 = c.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey",
        F.round(F.col("c_acctbal") + 500.0, 2).alias("acctbal"),
        F.lit("1996-01-01").cast("date").alias("valid_from"),
        F.lit("9999-12-31").cast("date").alias("valid_to"),
    )
    dim = v1.unionAll(v2)
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 3000)
    joined = o.join(
        dim,
        (F.col("c_custkey") == F.col("o_custkey"))
        & (F.col("o_orderdate") >= F.col("valid_from"))
        & (F.col("o_orderdate") < F.col("valid_to")),
    )
    return joined.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.col("acctbal").alias("acctbal_asof"),
        F.col("valid_from").cast("string").alias("valid_from"),
    )


@register(
    "join_asof_tolerance",
    """
    WITH clicks AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, MAX(value) AS click_value
      FROM events WHERE event_type = 'click' GROUP BY 1, 2
    ),
    purchases AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'purchase'
    ),
    j AS (
      SELECT p.event_id, p.user_id, p.ts AS purchase_ts,
             c.ts AS raw_click_ts, c.click_value AS raw_click_value
      FROM purchases p
      ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
    )
    SELECT event_id, user_id, purchase_ts,
           CASE WHEN raw_click_ts IS NOT NULL
                 AND purchase_ts - raw_click_ts <= INTERVAL 1 DAY
                THEN raw_click_ts END AS last_click_ts,
           CASE WHEN raw_click_ts IS NOT NULL
                 AND purchase_ts - raw_click_ts <= INTERVAL 1 DAY
                THEN raw_click_value END AS click_value,
           raw_click_ts IS NOT NULL
             AND purchase_ts - raw_click_ts <= INTERVAL 1 DAY AS matched
    FROM j
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness tolerance [public surface: pandas
    merge_asof(tolerance=...), kdb+ wj]: the latest prior click counts
    ONLY if it is at most 1 day older than the purchase; staler matches
    null out exactly like no-match. Because as-of already picks the
    NEAREST prior row, tolerance is a pure post-predicate on the match —
    no second scan, no re-join.

    Same single-shuffle union-tag + window last(ignorenulls) plan as
    join_asof (joins.py above), plus one narrow projection applying the
    staleness gate — identical 100 TB story: linear in events, one
    exchange on user_id. The oracle applies the same gate over DuckDB's
    native ASOF LEFT JOIN, pinning the rewrite equivalence."""
    ev = load_table(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
        .select(
            "user_id", "ts", "click_value",
            F.lit(None).cast("long").alias("event_id"),
            F.lit(0).alias("side"),
        )
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts",
        F.lit(None).cast("double").alias("click_value"),
        "event_id",
        F.lit(1).alias("side"),
    )
    tagged = clicks.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_click = F.col("side") == 0
    enriched = tagged.select(
        "event_id", "user_id",
        F.col("ts").alias("purchase_ts"),
        "side",
        F.last(F.when(is_click, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("raw_click_ts"),
        F.last(F.when(is_click, F.col("click_value")), ignorenulls=True)
        .over(w)
        .alias("raw_click_value"),
    ).filter(F.col("side") == 1)
    fresh = F.col("raw_click_ts").isNotNull() & (
        F.col("purchase_ts") - F.col("raw_click_ts")
        <= F.expr("INTERVAL 1 DAY")
    )
    return enriched.select(
        "event_id", "user_id", "purchase_ts",
        F.when(fresh, F.col("raw_click_ts")).alias("last_click_ts"),
        F.when(fresh, F.col("raw_click_value")).alias("click_value"),
        fresh.alias("matched"),
    )


@register(
    "join_nearest_event",
    """
    WITH p AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS p_ts
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS c_ts,
             value AS click_value
      FROM events WHERE event_type = 'click'
    ),
    cand AS (
      SELECT p.event_id, p.user_id, p.p_ts, c.click_id, c.c_ts, c.click_value,
             abs(epoch_us(p.p_ts) - epoch_us(c.c_ts)) AS gap_us,
             ROW_NUMBER() OVER (
               PARTITION BY p.event_id
               ORDER BY abs(epoch_us(p.p_ts) - epoch_us(c.c_ts)),
                        c.c_ts, c.click_id) AS rk
      FROM p JOIN c ON c.user_id = p.user_id
    )
    SELECT event_id, user_id, p_ts, click_id, c_ts AS nearest_click_ts,
           click_value, gap_us,
           CAST(c_ts <= p_ts AS INT) AS is_backward
    FROM cand WHERE rk = 1
    """,
)
def join_nearest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-event join [public method: pandas merge_asof
    direction='nearest' — the bidirectional sibling of join_asof
    (backward) and join_asof_tolerance (backward+bound): each purchase
    pairs with its user's temporally CLOSEST click, before or after].
    Candidates come from the user-keyed equi-join; the per-purchase
    argmin is a window ranked on (|Δt|, earlier-first, click_id) — the
    deterministic tie policy both engines share. The is_backward flag
    audits how often the asof answer (backward-only) would have
    differed.

    At 100 TB: one shuffle keys BOTH sides on user_id, pairs are
    bounded by per-user activity (the evt_attribution_position bound
    argument; a production variant adds a ±window residual exactly
    like its 7-day lookback to cap bot users), and the argmin window
    repartitions on the purchase id over already pair-compressed rows.
    Never a cross product; never driver-side."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("value").alias("click_value"),
    )
    gap = F.abs(
        F.unix_micros(F.col("p_ts")) - F.unix_micros(F.col("c_ts"))
    )
    w = Window.partitionBy("event_id").orderBy(
        gap, F.col("c_ts"), F.col("click_id")
    )
    cand = (
        p.join(c, F.col("c_user") == F.col("user_id"))
        .withColumn("gap_us", gap)
        .withColumn("rk", F.row_number().over(w))
    )
    return cand.filter(F.col("rk") == 1).select(
        "event_id",
        "user_id",
        "p_ts",
        "click_id",
        F.col("c_ts").alias("nearest_click_ts"),
        "click_value",
        "gap_us",
        (F.col("c_ts") <= F.col("p_ts")).cast("int").alias("is_backward"),
    )


# Geo radius join: deterministic synthetic coordinates (md5-uniform in a
# [40,60]x[-10,30] box), 200 km radius, and a grid sized so a 3x3
# neighborhood PROVABLY covers the radius: 2 deg lat (~221 km/deg) and
# 4 deg lon (>= 200 km even at the box's worst-case cos(60) = 55.7
# km/deg). Radius <= cell size in both axes is the blocking-correctness
# invariant — shrink the cells and the join silently drops true pairs.
_GEO_RADIUS_KM = 200.0
_GEO_CELL_LAT = 2.0
_GEO_CELL_LON = 4.0

_GEO_U = "(CAST(('0x' || substr(md5('{salt}' || CAST({key} AS VARCHAR)), 1, 8)) AS BIGINT) / 4294967296.0)"
_GEO_U_SPARK = "(CAST(conv(substring(md5(concat('{salt}', CAST({key} AS STRING))), 1, 8), 16, 10) AS BIGINT) / 4294967296.0D)"

# One haversine rendering parsed by BOTH engines (identical op order, so
# the floats agree to the last ulp modulo libm; the radius filter runs on
# the UNROUNDED value on both sides — the llm_jaccard_exact rule).
_HAVERSINE = (
    "2 * 6371.0088 * asin(sqrt("
    "pow(sin(radians({lat2} - {lat1}) / 2), 2) "
    "+ cos(radians({lat1})) * cos(radians({lat2})) "
    "* pow(sin(radians({lon2} - {lon1}) / 2), 2)))"
)


@register(
    "join_geo_grid",
    f"""
    WITH c AS (
      SELECT c_custkey,
             40 + 20 * {_GEO_U.format(salt='lat:c', key='c_custkey')} AS lat,
             -10 + 40 * {_GEO_U.format(salt='lon:c', key='c_custkey')} AS lon
      FROM customer
    ),
    s AS (
      SELECT s_suppkey,
             40 + 20 * {_GEO_U.format(salt='lat:s', key='s_suppkey')} AS lat,
             -10 + 40 * {_GEO_U.format(salt='lon:s', key='s_suppkey')} AS lon
      FROM supplier
    ),
    d AS (
      SELECT c.c_custkey, s.s_suppkey,
             {_HAVERSINE.format(lat1='c.lat', lon1='c.lon', lat2='s.lat', lon2='s.lon')} AS km
      FROM c CROSS JOIN s
    )
    SELECT c_custkey, s_suppkey, ROUND(km, 3) AS dist_km
    FROM d WHERE km <= {_GEO_RADIUS_KM}
    ORDER BY c_custkey, s_suppkey
    """,
)
def join_geo_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-blocked geo radius join: every (customer, supplier) pair
    within 200 km of haversine distance, over deterministic md5-derived
    coordinates (the llm_hash_sample uniform idiom — the fixtures carry
    no geo columns, and both engines derive identical doubles from the
    same digests). Spark NEVER builds the cross product the oracle
    brute-forces: suppliers replicate into their 3x3 neighbor cells of
    a (2 deg x 4 deg) grid sized so one cell covers the radius at the
    box's worst-case latitude, customers key into their OWN cell, and
    the join is EQUI on the cell id with the exact haversine as a
    post-filter — the standard distributed spatial-join blocking
    (DJ/PBSM family), same discipline as join_fuzzy_levenshtein's
    equi-block + residual.

    At 100 TB: the cell id is the shuffle key (uniform here by
    construction; real geo data needs hot-cell salting — cities), the
    9x supplier replication is the bounded side, and the pair count is
    SUM over cells of |c_cell| x |s_cell9| — never |C| x |S|. A pair
    is emitted exactly once: the customer's cell is unique and each
    supplier replica lands in a distinct cell, so no post-join
    DISTINCT is needed."""
    cust = load_table(spark, sf_dir, "customer").selectExpr(
        "c_custkey",
        f"40 + 20 * {_GEO_U_SPARK.format(salt='lat:c', key='c_custkey')} AS lat",
        f"-10 + 40 * {_GEO_U_SPARK.format(salt='lon:c', key='c_custkey')} AS lon",
    )
    supp = load_table(spark, sf_dir, "supplier").selectExpr(
        "s_suppkey",
        f"40 + 20 * {_GEO_U_SPARK.format(salt='lat:s', key='s_suppkey')} AS lat",
        f"-10 + 40 * {_GEO_U_SPARK.format(salt='lon:s', key='s_suppkey')} AS lon",
    )
    cell = (
        f"concat(CAST(CAST(floor(lat / {_GEO_CELL_LAT}) AS INT) AS STRING), ':', "
        f"CAST(CAST(floor(lon / {_GEO_CELL_LON}) AS INT) AS STRING))"
    )
    c_cells = cust.selectExpr("*", f"{cell} AS cell")
    s_cells = supp.selectExpr(
        "s_suppkey",
        "lat AS s_lat",
        "lon AS s_lon",
        f"CAST(floor(lat / {_GEO_CELL_LAT}) AS INT) AS cx",
        f"CAST(floor(lon / {_GEO_CELL_LON}) AS INT) AS cy",
    ).select(
        "s_suppkey",
        "s_lat",
        "s_lon",
        F.explode(
            F.expr(
                "flatten(transform(sequence(-1, 1), dx -> "
                "transform(sequence(-1, 1), dy -> "
                "concat(CAST(cx + dx AS STRING), ':', CAST(cy + dy AS STRING)))))"
            )
        ).alias("cell"),
    )
    dist = F.expr(
        _HAVERSINE.format(lat1="lat", lon1="lon", lat2="s_lat", lon2="s_lon")
    )
    return (
        c_cells.join(s_cells, "cell")
        .filter(dist <= _GEO_RADIUS_KM)
        .select("c_custkey", "s_suppkey", F.round(dist, 3).alias("dist_km"))
        .orderBy("c_custkey", "s_suppkey")
    )


@register(
    "join_shuffle_hash",
    """
    SELECT c.c_mktsegment,
           COUNT(*) AS num_orders,
           CAST(SUM(CAST(round(o.o_totalprice, 2) AS DECIMAL(18,2)))
                AS DOUBLE) AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def join_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-hash join: the SHUFFLE_HASH hint pins the third physical
    equi-join strategy, completing the trio beside join_broadcast
    (BroadcastHashJoin) and join_sort_merge (SortMergeJoin) — the plan
    is asserted, not assumed. Spark prefers SMJ for two large sides
    because sort state spills gracefully; shuffle-hash wins when ONE
    side's per-partition share comfortably fits memory but the side is
    too big to broadcast — exactly this orders x customer shape, and
    the hint is how a tuned 100 TB job pins it (or
    spark.sql.join.preferSortMergeJoin=false globally).

    total_price sums as exact DECIMAL(18,2) (the fn_decimal parity
    pattern: tie-free pre-round, exact decimal SUM, DOUBLE on the way
    out) because a double SUM over ~1e5-magnitude prices reaches ~1e9
    per segment where ulp ~1e-7 — partition-merge order then legally
    perturbs the 6th decimal vs DuckDB's sequential sum (the round-10
    driver-red lesson). Decimal partial sums stay map-side combinable;
    order-independence costs nothing at 100 TB.

    At 100 TB: both sides shuffle once on the key (same exchange as
    SMJ) but the build side hashes instead of sorting — no sort, no
    spill-sort merge; the risk is a skewed build partition OOMing,
    which AQE's skew split mitigates. The oracle is strategy-blind
    (same rows whatever the physical join), so the hash gate proves
    result-equivalence across all three strategies together with
    join_broadcast/join_sort_merge over the same fixtures."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").hint("shuffle_hash")
    return (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("num_orders"),
            F.sum(F.round("o_totalprice", 2).cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )
