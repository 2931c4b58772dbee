"""TPC-H-shaped composite benchmark queries (SURVEY.md §2.M) — the
multi-join/agg/top-k shapes a Hive test corpus runs as END-TO-END plans,
adapted to the fixture's column subset [Hive-public: TPC-H is the
standard public OLAP parity suite; `flagship_pricing_summary` already
covers the Q1 shape, `join_star_multiway` the Q5 shape].

Each query here exists to prove a PLAN property at scale, asserted in
tests/test_plans.py: the fact table is filtered before any join, small
sides broadcast, aggregation is two-phase, and top-k is
TakeOrderedAndProject — never a global sort of the fact stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_test_spark.io import load_table
from hive_test_spark.registry import register, register_sql

_Q3_SEGMENT = "BUILDING"
_Q3_DATE = "1996-03-15"
_Q4_START, _Q4_END = "1996-07-01", "1996-10-01"
_Q18_QTY = 250


@register(
    "bench_q3_shipping_priority",
    f"""
    SELECT l.l_orderkey,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           CAST(CAST(o.o_orderdate AS DATE) AS VARCHAR) AS o_orderdate,
           o.o_orderpriority
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = '{_Q3_SEGMENT}'
      AND o.o_orderdate < DATE '{_Q3_DATE}'
      AND l.l_shipdate > DATE '{_Q3_DATE}'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def bench_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): unshipped-revenue top-10 for
    one market segment. o_shippriority isn't in the fixture; its
    output-column role is played by o_orderpriority.

    Plan properties this query exists to prove (asserted in tests): both
    date filters and the segment filter are pushed INTO the parquet
    scans (the fact never surfaces unfiltered rows); the
    segment-filtered customer side (1/5 of a dimension) broadcasts; the
    rollup is two-phase; and the top-10 is TakeOrderedAndProject — at
    100 TB nothing global-sorts the join output, each task keeps a
    10-row heap."""
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == _Q3_SEGMENT)
        .select("c_custkey")
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < F.lit(_Q3_DATE).cast("date"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    l = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > F.lit(_Q3_DATE).cast("date"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "bench_q4_order_priority",
    f"""
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= DATE '{_Q4_START}' AND o.o_orderdate < DATE '{_Q4_END}'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o.o_orderpriority
    """,
)
def bench_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order priority checking): orders in one quarter
    with at least one late-shipped line. The fixture lacks
    l_commitdate/l_receiptdate, so "late" = a line shipped >60 days
    after the order date — the same correlated-EXISTS plan shape.

    Plan properties: the EXISTS decorrelates to a LEFT SEMI join (each
    qualifying order counted once no matter how many late lines — the
    semantics a plain inner join would get wrong); the quarter filter
    prunes orders at the scan; the count is a two-phase agg on the
    5-value priority key. The semi join's non-equi residual
    (l_shipdate > o_orderdate + 60) rides the l_orderkey equi-key, so
    at 100 TB it's a keyed shuffle, never a broadcast of the fact."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(_Q4_START).cast("date"))
        & (F.col("o_orderdate") < F.lit(_Q4_END).cast("date"))
    )
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            l,
            (o.o_orderkey == l.l_orderkey)
            # interval-add, not date_add: the oracle's '+ INTERVAL 60
            # DAY' preserves time-of-day while date_add truncates — the
            # bench_q12 convention.
            & (l.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "bench_q18_large_orders",
    f"""
    WITH big AS (
      SELECT l_orderkey, SUM(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(l_quantity) > {_Q18_QTY}
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           CAST(CAST(o.o_orderdate AS DATE) AS VARCHAR) AS o_orderdate,
           o.o_totalprice, ROUND(b.total_qty, 4) AS total_qty
    FROM big b JOIN orders o ON b.l_orderkey = o.o_orderkey
               JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderdate, o.o_orderkey
    LIMIT 100
    """,
)
def bench_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): orders whose total line
    quantity exceeds {_Q18_QTY} (~top 1% at any SF), joined back to
    orders+customer, top-100 by price.

    Plan properties: the HAVING aggregate runs FIRST and is two-phase
    (partial sums map-side — the 100 TB fact collapses to order keys
    before any join); the surviving ~1% key set then drives the joins,
    and the top-100 is TakeOrderedAndProject. This is the
    aggregate-then-join ordering Catalyst cannot derive on its own when
    written join-first — the query encodes it declaratively."""
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > _Q18_QTY)
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
            F.round("total_qty", 4).alias("total_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderdate", "o_orderkey")
        .limit(100)
    )


_Q7_N1, _Q7_N2 = "NATION_3", "NATION_7"
_Q7_START, _Q7_END = "1996-01-01", "1997-12-31"


@register(
    "bench_q7_nation_volume",
    f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l.l_shipdate) AS l_year,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
    WHERE ((n1.n_name = '{_Q7_N1}' AND n2.n_name = '{_Q7_N2}')
        OR (n1.n_name = '{_Q7_N2}' AND n2.n_name = '{_Q7_N1}'))
      AND l.l_shipdate BETWEEN DATE '{_Q7_START}' AND DATE '{_Q7_END}'
    GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
    """,
)
def bench_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): bilateral trade revenue between
    two nations by ship year. The disjunctive nation-pair predicate can't
    prune either dimension alone — but each nation join IS equi-joinable
    and tiny, so both broadcast and the OR filter runs map-side after
    them; the fact shuffles only for orders/customer. The date range is
    pushed to the lineitem scan."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between(_Q7_START, _Q7_END)
    )
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    pair_ok = (
        (F.col("supp_nation") == _Q7_N1) & (F.col("cust_nation") == _Q7_N2)
    ) | ((F.col("supp_nation") == _Q7_N2) & (F.col("cust_nation") == _Q7_N1))
    return (
        li.join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(n1, F.col("n1_key") == F.col("s_nationkey"))
        .join(n2, F.col("n2_key") == F.col("c_nationkey"))
        .filter(pair_ok)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
    )


_Q16_BRAND = "Brand#2"
_Q16_TYPE_PREFIX = "SMALL"
_Q16_SIZES = (5, 11, 17, 23, 28, 36, 42, 49)


@register(
    "bench_q16_supplier_cnt",
    f"""
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> '{_Q16_BRAND}'
      AND p.p_type NOT LIKE '{_Q16_TYPE_PREFIX}%'
      AND p.p_size IN {_Q16_SIZES}
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def bench_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): distinct supplier
    count per part attribute bucket, excluding a complained-about
    supplier set (fixture stand-ins: lineitem is the part–supplier
    relation, negative-balance suppliers are the exclusion). Plan
    properties: part's triple predicate prunes BEFORE the join, the NOT IN
    set is a broadcast anti-join (keys are guaranteed non-null here, so
    it stays a plain anti join, not the null-aware nested loop), and the
    distinct-count expands AFTER the joins — one Expand, two-phase."""
    p = (
        load_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != _Q16_BRAND)
            & (~F.col("p_type").like(f"{_Q16_TYPE_PREFIX}%"))
            & (F.col("p_size").isin(*_Q16_SIZES))
        )
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("bad_key"))
    )
    return (
        li.join(bad, F.col("bad_key") == F.col("l_suppkey"), "left_anti")
        .join(p, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


_Q22_EARLY = "1996-01-01"


@register(
    "bench_q22_sales_opportunity",
    f"""
    WITH avg_bal AS (
      SELECT avg(c_acctbal) AS a FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_nationkey, COUNT(*) AS numcust,
           ROUND(SUM(c.c_acctbal), 4) AS totacctbal
    FROM customer c CROSS JOIN avg_bal
    WHERE c.c_acctbal > avg_bal.a
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate < DATE '{_Q22_EARLY}'
      )
    GROUP BY c.c_nationkey
    """,
)
def bench_q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): above-average-balance
    late-adopter customers (no order before _Q22_EARLY = 1996-01-01),
    rolled up per
    nation (the fixture has no phone column; nationkey plays the
    country-code role, and the anti-join is date-inverted because every
    fixture customer eventually orders — the 0-row vacuity trap). Plan:
    the scalar average is a
    broadcast 1-row plan feeding a map-side filter — never an eager
    collect; the NOT EXISTS is a shuffle-free broadcast anti join on the
    date-pruned orders scan; the rollup is two-phase."""
    c = load_table(spark, sf_dir, "customer")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal").alias("a"))
    )
    early = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < _Q22_EARLY)
        .select("o_custkey")
    )
    return (
        c.crossJoin(avg_bal)
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(early, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 4).alias("totacctbal"),
        )
    )


_Q11_NATION = "NATION_7"
_Q11_FRACTION = 0.001


@register(
    "bench_q11_important_stock",
    f"""
    WITH v AS (
      SELECT l.l_partkey,
             SUM(l.l_extendedprice * (1 - l.l_discount)) AS val
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
                      JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE n.n_name = '{_Q11_NATION}'
      GROUP BY l.l_partkey)
    SELECT l_partkey, ROUND(val, 4) AS part_value
    FROM v
    WHERE val > (SELECT SUM(val) * {_Q11_FRACTION} FROM v)
    ORDER BY part_value DESC, l_partkey
    """,
)
def bench_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): parts whose supplied value from
    one nation's suppliers exceeds a fraction of that nation's total
    supplied value. The fixture has no partsupp table, so "value" is
    shipped line value — the plan shape (grouped agg filtered by a
    GLOBAL scalar threshold over the same aggregate) is Q11's.

    Plan properties: the nation filter reduces supplier to a ~1/25
    broadcast side BEFORE the fact join; the per-part agg shuffles the
    fact once on l_partkey; the threshold is a one-row scalar subquery
    over the SAME aggregate — Spark executes it as a subquery plan whose
    exchange is reusable, and its result arrives at every task as a
    literal, never a shuffled join. At 100 TB: one keyed shuffle of the
    nation-filtered fact slice; the threshold compare is map-side."""
    n = (
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_name") == _Q11_NATION)
        .select("n_nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").join(
        n, F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    v = (
        li.join(F.broadcast(s), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("val")
        )
    )
    threshold = v.agg((F.sum("val") * F.lit(_Q11_FRACTION)).alias("thr"))
    return (
        v.crossJoin(threshold)
        .filter(F.col("val") > F.col("thr"))
        .select("l_partkey", F.round("val", 4).alias("part_value"))
        .orderBy(F.col("part_value").desc(), "l_partkey")
    )


_Q15_YEAR = "1996"


@register(
    "bench_q15_top_supplier",
    f"""
    WITH revenue AS (
      SELECT QUARTER(l_shipdate) AS qtr, l_suppkey,
             SUM(l_extendedprice * (1 - l_discount)) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= DATE '{_Q15_YEAR}-01-01'
        AND l_shipdate < DATE '{int(_Q15_YEAR) + 1}-01-01'
      GROUP BY QUARTER(l_shipdate), l_suppkey)
    SELECT r.qtr, s.s_suppkey, s.s_name,
           ROUND(r.total_revenue, 4) AS total_revenue
    FROM revenue r JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.total_revenue = (SELECT MAX(r2.total_revenue)
                             FROM revenue r2 WHERE r2.qtr = r.qtr)
    ORDER BY r.qtr, s.s_suppkey
    """,
)
def bench_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): the supplier(s) whose revenue
    EQUALS the maximum, per quarter of {_Q15_YEAR} (per-quarter keeps the
    result non-trivial at small SF; classic Q15 is the single-group
    case). The defining shape is max-EQUALITY against a reaggregation of
    the same view — not a top-k sort.

    Plan properties: the revenue view is ONE two-phase agg of the
    date-pruned fact; the per-quarter max reaggregates the tiny
    (quarter × supplier) result, broadcasts 4 rows back, and supplier
    (a dimension) broadcasts into the equality survivors. At 100 TB the
    fact is read and shuffled exactly once; everything after operates on
    agg-sized data. Ties surface ALL max suppliers — semantics a
    row_number() rewrite would silently break."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(f"{_Q15_YEAR}-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit(f"{int(_Q15_YEAR) + 1}-01-01").cast("date"))
    )
    revenue = li.groupBy(
        F.quarter("l_shipdate").alias("qtr"), "l_suppkey"
    ).agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "total_revenue"
        )
    )
    qmax = revenue.groupBy("qtr").agg(F.max("total_revenue").alias("max_rev"))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.join(qmax, "qtr")
        .filter(F.col("total_revenue") == F.col("max_rev"))
        .join(s, revenue.l_suppkey == s.s_suppkey)
        .select(
            "qtr",
            "s_suppkey",
            "s_name",
            F.round("total_revenue", 4).alias("total_revenue"),
        )
        .orderBy("qtr", "s_suppkey")
    )


_Q17_BRAND = "Brand#13"


@register(
    "bench_q17_small_qty_revenue",
    f"""
    SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 4) AS avg_yearly,
           COUNT(*) AS n_small_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = '{_Q17_BRAND}'
      AND l.l_quantity < (SELECT 0.5 * AVG(l2.l_quantity)
                          FROM lineitem l2
                          WHERE l2.l_partkey = p.p_partkey)
    """,
)
def bench_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): revenue that would
    be lost by dropping orders below half the part's average quantity,
    for one brand. The fixture lacks p_container; brand alone plays the
    filter role.

    Plan properties: the correlated AVG decorrelates to a per-partkey
    aggregate JOINED back on the equi-key — computed only over the
    brand-filtered partkeys (the filter pushes through the join into
    BOTH the avg side and the probe side, so neither scans the full
    fact's groups). The brand dim broadcasts twice (once per fact scan);
    the per-part avg table is partkey-sized and AQE-broadcasts. At
    100 TB: two pruned fact column scans, one partkey shuffle for the
    avg, zero shuffles of unaggregated fact rows."""
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == _Q17_BRAND)
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    branded = li.join(p, li.l_partkey == F.col("p_partkey"))
    part_avg = branded.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (F.avg("l_quantity") * 0.5).alias("half_avg_qty")
    )
    return (
        branded.join(part_avg, branded.l_partkey == F.col("a_partkey"))
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_small_lines"),
        )
    )


_Q20_PART_PREFIX = "small%"
_Q20_YEAR_START, _Q20_YEAR_END = "1996-01-01", "1997-01-01"
_Q20_QTY = 50


@register(
    "bench_q20_part_promotion",
    f"""
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE s.s_suppkey IN (
      SELECT l.l_suppkey FROM lineitem l
      WHERE l.l_partkey IN (SELECT p_partkey FROM part
                            WHERE p_name LIKE '{_Q20_PART_PREFIX}')
        AND l.l_shipdate >= DATE '{_Q20_YEAR_START}'
        AND l.l_shipdate < DATE '{_Q20_YEAR_END}'
      GROUP BY l.l_suppkey, l.l_partkey
      HAVING SUM(l.l_quantity) > {_Q20_QTY})
    ORDER BY s.s_suppkey
    """,
)
def bench_q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (part promotion): suppliers who moved more than a
    threshold quantity of any promo-named part in one year — the
    NESTED-IN chain (supplier IN (... part IN (...))). The fixture has
    no partsupp/availqty, so the threshold applies to shipped quantity;
    the two-level semi-join pipeline is Q20's.

    Plan properties: the inner name-LIKE part filter broadcasts into the
    date-pruned fact scan (semi join); the (suppkey, partkey) HAVING agg
    collapses the fact BEFORE the outer semi join against the
    dimension-sized supplier table. Each IN is a LEFT SEMI — duplicate
    qualifying lines can't duplicate suppliers. At 100 TB: one keyed
    shuffle of the doubly-pruned fact slice, then dimension-scale work."""
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like(_Q20_PART_PREFIX))
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(_Q20_YEAR_START).cast("date"))
        & (F.col("l_shipdate") < F.lit(_Q20_YEAR_END).cast("date"))
    )
    movers = (
        li.join(p, li.l_partkey == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > _Q20_QTY)
        .select("l_suppkey")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        s.join(movers, s.s_suppkey == movers.l_suppkey, "left_semi")
        .orderBy("s_suppkey")
    )


_Q21_NATIONS = ("NATION_3", "NATION_4")
_Q21_LATE_DAYS = 90


@register(
    "bench_q21_waiting_supplier",
    f"""
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
         JOIN orders o ON o.o_orderkey = l1.l_orderkey
         JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE o.o_orderstatus = 'F'
      AND n.n_name IN ('{_Q21_NATIONS[0]}', '{_Q21_NATIONS[1]}')
      AND l1.l_shipdate > o.o_orderdate + INTERVAL {_Q21_LATE_DAYS} DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o3.o_orderdate
                              + INTERVAL {_Q21_LATE_DAYS} DAY)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    """,
)
def bench_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): per-supplier
    count of finished multi-supplier orders where THIS supplier was the
    only late one. "Late" = shipped > {_Q21_LATE_DAYS} days after the
    order date (fixture has no commit/receipt dates).

    Plan properties: the hardest public shape — EXISTS and NOT EXISTS
    both correlate on l_orderkey, so Spark plans LEFT SEMI + null-free
    LEFT ANTI self-joins that all ride ONE l_orderkey shuffle family
    (exchange reuse keeps the fact from rescanning); the status filter
    prunes orders before its join, the two-nation filter shrinks
    supplier to a broadcast. The anti side pre-filters to LATE lines
    only — the self-join probe is the late subset, not the whole fact.
    At 100 TB: three keyed passes over one shuffle layout, no broadcast
    of anything fact-sized."""
    n = (
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(*_Q21_NATIONS))
        .select("n_nationkey")
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name")
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late1 = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {_Q21_LATE_DAYS} DAYS")
        )
        .select("l_orderkey", "l_suppkey", "o_orderdate")
    )
    # Other-supplier probe sides, aliased for the self-joins.
    others = li.select(
        F.col("l_orderkey").alias("x_orderkey"),
        F.col("l_suppkey").alias("x_suppkey"),
    )
    late_others = late1.select(
        F.col("l_orderkey").alias("y_orderkey"),
        F.col("l_suppkey").alias("y_suppkey"),
    )
    waited = (
        late1.join(
            others,
            (F.col("l_orderkey") == F.col("x_orderkey"))
            & (F.col("l_suppkey") != F.col("x_suppkey")),
            "left_semi",
        )
        .join(
            late_others,
            (F.col("l_orderkey") == F.col("y_orderkey"))
            & (F.col("l_suppkey") != F.col("y_suppkey")),
            "left_anti",
        )
    )
    return (
        waited.join(s, waited.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
    )


_Q2_REGION = "EUROPE"
_Q2_TYPE = "ECONOMY"


@register(
    "bench_q2_min_cost_supplier",
    f"""
    WITH cost AS (
      SELECT l.l_partkey, l.l_suppkey,
             MIN(l.l_extendedprice / l.l_quantity) AS unit_cost
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
                      JOIN nation n ON n.n_nationkey = s.s_nationkey
                      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = '{_Q2_REGION}'
      GROUP BY l.l_partkey, l.l_suppkey)
    SELECT p.p_partkey, p.p_brand, s.s_name, n.n_name,
           ROUND(s.s_acctbal, 4) AS s_acctbal,
           ROUND(c.unit_cost, 4) AS unit_cost
    FROM cost c JOIN part p ON p.p_partkey = c.l_partkey
                JOIN supplier s ON s.s_suppkey = c.l_suppkey
                JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_size BETWEEN 10 AND 20 AND p.p_type LIKE '{_Q2_TYPE}%'
      AND c.unit_cost = (SELECT MIN(c2.unit_cost) FROM cost c2
                         WHERE c2.l_partkey = c.l_partkey)
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def bench_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): for each qualifying part,
    the supplier(s) in one region achieving the MINIMUM unit cost, via a
    correlated-min subquery over the supply relation. The fixture has no
    partsupp table, so unit cost is MIN(l_extendedprice / l_quantity)
    observed per (part, supplier) — the defining shape (correlated
    scalar-min decorrelated into a reaggregation + equality join) is
    Q2's.

    Plan properties: the region filter shrinks supplier to a broadcast
    BEFORE the fact sees it; the cost view is ONE two-phase agg of the
    region-filtered fact keyed (partkey, suppkey); the correlated min
    decorrelates into a per-part reagg of that agg-sized view joined
    back by partkey + cost equality (Catalyst does exactly this rewrite
    for the SQL form); the part predicate prunes the probe to a
    broadcastable dimension slice. At 100 TB: one keyed shuffle of the
    fact slice, then agg-sized data only."""
    r = (
        load_table(spark, sf_dir, "region")
        .filter(F.col("r_name") == _Q2_REGION)
        .select("r_regionkey")
    )
    n = (
        load_table(spark, sf_dir, "nation")
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    cost = (
        li.join(
            F.broadcast(s.select("s_suppkey")),
            li.l_suppkey == F.col("s_suppkey"),
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
        )
    )
    pmin = cost.groupBy(F.col("l_partkey").alias("m_partkey")).agg(
        F.min("unit_cost").alias("min_cost")
    )
    p = (
        load_table(spark, sf_dir, "part")
        .filter(
            F.col("p_size").between(10, 20) & F.col("p_type").like(f"{_Q2_TYPE}%")
        )
        .select("p_partkey", "p_brand")
    )
    return (
        cost.join(
            pmin,
            (cost.l_partkey == pmin.m_partkey)
            & (cost.unit_cost == pmin.min_cost),
        )
        .join(p, cost.l_partkey == p.p_partkey)
        .join(F.broadcast(s), cost.l_suppkey == s.s_suppkey)
        .select(
            "p_partkey",
            "p_brand",
            "s_name",
            "n_name",
            F.round("s_acctbal", 4).alias("s_acctbal"),
            F.round("unit_cost", 4).alias("unit_cost"),
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


_Q5_REGION = "ASIA"
_Q5_YEAR = 1996


@register(
    "bench_q5_local_supplier_volume",
    f"""
    SELECT n.n_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
                    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                                   AND c.c_nationkey = s.s_nationkey
                    JOIN nation n ON s.s_nationkey = n.n_nationkey
                    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = '{_Q5_REGION}'
      AND o.o_orderdate >= DATE '{_Q5_YEAR}-01-01'
      AND o.o_orderdate < DATE '{_Q5_YEAR + 1}-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n_name
    """,
)
def bench_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume), exact semantics: revenue per
    nation where the CUSTOMER and the SUPPLIER share a nation in one
    region — the customer-supplier nation-equality correlation is the
    defining twist (join_star_multiway covers the plain star; this
    carries the extra cross-dimension predicate).

    Plan properties: orders is date-pruned at scan; lineitem joins the
    pruned orders on orderkey (the one fact-sized shuffle pair), then
    customer on custkey; the region-filtered supplier slice broadcasts
    with BOTH conditions (suppkey match + nationkey equality) evaluated
    inside the broadcast probe, so the nation correlation costs no
    extra exchange. At 100 TB: two keyed fact shuffles (orderkey,
    custkey), dimensions broadcast, no shuffle carries the nation
    correlation."""
    r = (
        load_table(spark, sf_dir, "region")
        .filter(F.col("r_name") == _Q5_REGION)
        .select("r_regionkey")
    )
    n = (
        load_table(spark, sf_dir, "nation")
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(f"{_Q5_YEAR}-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit(f"{_Q5_YEAR + 1}-01-01").cast("date"))
    ).select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == s.s_suppkey)
            & (F.col("c_nationkey") == s.s_nationkey),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )


_Q6_YEAR = 1996


# TPC-H Q6 (forecast revenue change), exact semantics: the
# pure scan-filter-aggregate — revenue that would have been earned if
# discounts in a band had been eliminated for a year. No join, no
# group key: the whole query is a map-side predicate plus one global
# two-phase sum.
#
# Plan properties: every predicate (two date bounds, discount band,
# quantity cap) reaches the parquet scan as PushedFilters over exactly
# 4 read columns; the aggregate is partial-per-partition then a
# single-row final — the minimal possible plan. At 100 TB this is the
# canonical scan-bound query: throughput equals scan bandwidth times
# predicate selectivity, zero shuffle rows beyond one per
# partition.
register_sql(
    "bench_q6_forecast_revenue",
    f"""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 4) AS revenue,
           COUNT(*) AS n_lines
    FROM {{lineitem}}
    WHERE l_shipdate >= DATE '{_Q6_YEAR}-01-01'
      AND l_shipdate < DATE '{_Q6_YEAR + 1}-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)


_Q8_REGION = "AMERICA"
_Q8_NATION = "NATION_3"
_Q8_TYPE = "STANDARD"


@register(
    "bench_q8_market_share",
    f"""
    WITH volumes AS (
      SELECT YEAR(o.o_orderdate) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n2.n_name AS supp_nation
      FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
                  JOIN supplier s ON s.s_suppkey = l.l_suppkey
                  JOIN orders o ON o.o_orderkey = l.l_orderkey
                  JOIN customer c ON c.c_custkey = o.o_custkey
                  JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
                  JOIN region r ON r.r_regionkey = n1.n_regionkey
                  JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
      WHERE r.r_name = '{_Q8_REGION}' AND p.p_type LIKE '{_Q8_TYPE}%'
        AND o.o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1996-12-31')
    SELECT o_year,
           ROUND(SUM(CASE WHEN supp_nation = '{_Q8_NATION}' THEN volume
                          ELSE 0 END) / SUM(volume), 6) AS mkt_share
    FROM volumes
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def bench_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share), exact semantics: one nation's
    share of revenue, per year, among parts of a type sold to customers
    of one region — the ratio-of-conditional-sums aggregate computed in
    a single grouped pass (never two scans), with the nation dimension
    joined TWICE under different roles (customer side filters, supplier
    side classifies).

    Plan properties: part (type-filtered) and the two nation roles
    broadcast; orders is date-pruned at scan; the fact shuffles on
    partkey→orderkey→custkey only; the CASE ratio is one two-phase agg
    over ~years-many groups. At 100 TB: the numerator/denominator trick
    means the fact is read once — the naive two-query formulation would
    double the dominant cost."""
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type").like(f"{_Q8_TYPE}%"))
        .select("p_partkey")
    )
    nat = load_table(spark, sf_dir, "nation")
    r = (
        load_table(spark, sf_dir, "region")
        .filter(F.col("r_name") == _Q8_REGION)
        .select("r_regionkey")
    )
    n1 = nat.join(
        r, F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("c_natkey"))
    n2 = nat.select(
        F.col("n_nationkey").alias("s_natkey"), F.col("n_name").alias("supp_nation")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
        & (F.col("o_orderdate") <= F.lit("1996-12-31").cast("date"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    vol = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(n1, c.c_nationkey == F.col("c_natkey"))
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(n2, s.s_nationkey == F.col("s_natkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
            "supp_nation",
        )
    )
    share = F.sum(
        F.when(F.col("supp_nation") == _Q8_NATION, F.col("volume")).otherwise(0.0)
    ) / F.sum("volume")
    return (
        vol.groupBy("o_year")
        .agg(F.round(share, 6).alias("mkt_share"))
        .orderBy("o_year")
    )


_Q9_NAME_FRAGMENT = "red"
_Q9_COST_FRACTION = 0.4


@register(
    "bench_q9_product_profit",
    f"""
    SELECT n.n_name AS nation, YEAR(o.o_orderdate) AS o_year,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)
                     - {_Q9_COST_FRACTION} * p.p_retailprice * l.l_quantity),
                 4) AS sum_profit
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
                    JOIN supplier s ON s.s_suppkey = l.l_suppkey
                    JOIN orders o ON o.o_orderkey = l.l_orderkey
                    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%{_Q9_NAME_FRAGMENT}%'
    GROUP BY n.n_name, YEAR(o.o_orderdate)
    ORDER BY nation, o_year DESC
    """,
)
def bench_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): profit per supplier-nation
    per year over parts whose name contains a fragment. The fixture has
    no partsupp, so supply cost is a fixed fraction of p_retailprice —
    the shape (5-way join with a substring part filter, profit as a
    compound expression, nation×year rollup) is Q9's.

    Plan properties: the part filter (non-sargable LIKE '%..%' — read
    but filtered early) shrinks part to a broadcast; supplier and
    nation broadcast; the fact shuffles on partkey then orderkey; the
    agg is two-phase over ~175 groups. At 100 TB the substring filter
    runs vectorized in the scan stage and drops ~2/3 of the fact before
    any exchange."""
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").contains(_Q9_NAME_FRAGMENT))
        .select("p_partkey", "p_retailprice")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount", "l_quantity",
    )
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(
        _Q9_COST_FRACTION
    ) * F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(n, F.col("s_nationkey") == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.round(F.sum(profit), 4).alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


_Q10_START, _Q10_END = "1996-10-01", "1997-01-01"


@register(
    "bench_q10_returned_items",
    f"""
    SELECT c.c_custkey, c.c_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           ROUND(c.c_acctbal, 4) AS c_acctbal, n.n_name
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
                    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= DATE '{_Q10_START}'
      AND o.o_orderdate < DATE '{_Q10_END}'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def bench_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting), exact semantics: the top 20
    customers by revenue lost to returned lines in one quarter — join,
    grouped agg, then top-k.

    Plan properties: BOTH fact-side filters (order date at scan on
    orders, returnflag at scan on lineitem) push down before the
    orderkey join; customer joins the agg-sized result, nation
    broadcasts; the final top-20 is TakeOrderedAndProject over the
    grouped output — never a global sort. At 100 TB: the returnflag
    filter keeps ~1/3 of the fact, the quarter filter ~1/24 of orders,
    so the expensive join is between two heavily-pruned streams; the
    top-k is per-partition heads + one 20-row merge on the driver-side
    stage."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(_Q10_START).cast("date"))
        & (F.col("o_orderdate") < F.lit(_Q10_END).cast("date"))
    ).select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 4).alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


_Q12_YEAR = 1996
_Q12_LATE_DAYS = 90
_Q12_HIGH = ("1-URGENT", "2-HIGH")


@register(
    "bench_q12_late_lines",
    f"""
    SELECT l.l_linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN
                              ('{_Q12_HIGH[0]}', '{_Q12_HIGH[1]}')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN
                              ('{_Q12_HIGH[0]}', '{_Q12_HIGH[1]}')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL {_Q12_LATE_DAYS} DAY
      AND l.l_shipdate >= DATE '{_Q12_YEAR}-01-01'
      AND l.l_shipdate < DATE '{_Q12_YEAR + 1}-01-01'
    GROUP BY l.l_linestatus
    ORDER BY l_linestatus
    """,
)
def bench_q12_late_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-mode priority): conditional counts of
    late-shipped lines split by order priority class. The fixture has
    no l_shipmode/l_commitdate/l_receiptdate, so the grouping dimension
    is l_linestatus and "late" is shipping > {_Q12_LATE_DAYS} days
    after the order date — the defining shape (a join-dependent
    predicate comparing columns of BOTH sides, then CASE-split counts)
    is Q12's.

    Plan properties: the shipdate year bounds push into the lineitem
    scan; the lateness predicate needs both sides so it evaluates as
    the join's post-condition — Catalyst keeps it out of the shuffle
    key; counts are two-phase over 2 groups. At 100 TB: one orderkey
    shuffle pair; the CASE counts combine map-side so the final
    exchange carries ~partitions×2 rows."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(f"{_Q12_YEAR}-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit(f"{_Q12_YEAR + 1}-01-01").cast("date"))
    ).select("l_orderkey", "l_shipdate", "l_linestatus")
    high = F.col("o_orderpriority").isin(*_Q12_HIGH)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {_Q12_LATE_DAYS} DAYS")
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


_Q13_EXCLUDED_PRIORITY = "4-NOT SPECIFIED"


@register(
    "bench_q13_order_count_dist",
    f"""
    WITH c_orders AS (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey
       AND o.o_orderpriority <> '{_Q13_EXCLUDED_PRIORITY}'
      GROUP BY c.c_custkey)
    SELECT c_count, COUNT(*) AS custdist
    FROM c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def bench_q13_order_count_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): how many
    customers placed 0, 1, 2, ... qualifying orders. The fixture has no
    o_comment, so the qualifying filter excludes one order priority —
    the defining shape (LEFT join with the filter INSIDE the join
    condition so zero-order customers survive with count 0, then a
    second aggregation OF the first's counts) is Q13's.

    Plan properties: the priority filter prunes orders BEFORE the join
    (legal inside an outer-join condition, and Catalyst pushes it to
    the orders scan); the join + first agg share one custkey shuffle
    layout; the distribution agg reaggregates customer-sized data on a
    small-domain key. At 100 TB the histogram agg is the cheap half —
    the custkey shuffle of orders dominates, and COUNT(o_orderkey) (not
    COUNT(*)) is what makes the 0-bucket correct."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != _Q13_EXCLUDED_PRIORITY
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


_Q14_START, _Q14_END = "1996-09-01", "1996-10-01"


# TPC-H Q14 (promotion effect), exact semantics: the percentage of
# one month's revenue from promotional parts — the conditional-ratio
# aggregate over a fact-dimension join.
#
# Plan properties: the month bounds push into the lineitem scan
# (~1/80 of the fact survives); part broadcasts with only
# (p_partkey, p_type) read; numerator and denominator come from ONE
# grouped pass — no second scan, no self-join. At 100 TB this is the
# standard "rate metric" template: broadcast dim + single-pass CASE
# ratio; the global (groupless) agg reduces to one row per partition
# then one final row.
register_sql(
    "bench_q14_promo_revenue",
    f"""
    SELECT ROUND(100.0 * SUM(CASE WHEN p.p_type LIKE 'PROMO%'
                                  THEN l.l_extendedprice * (1 - l.l_discount)
                                  ELSE 0 END)
                 / SUM(l.l_extendedprice * (1 - l.l_discount)), 6)
             AS promo_revenue,
           COUNT(*) AS n_lines
    FROM {{lineitem}} l JOIN {{part}} p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= DATE '{_Q14_START}'
      AND l.l_shipdate < DATE '{_Q14_END}'
    """,
)


_Q19_BRANDS = (
    ("Brand#3", 1, 5, 1, 11),
    ("Brand#15", 1, 10, 10, 20),
    ("Brand#24", 1, 15, 20, 30),
)


# TPC-H Q19 (discounted revenue), exact shape: revenue over a
# DISJUNCTION of brand/size/quantity condition triples — the classic
# test that an optimizer extracts the common join key and the
# per-side implied predicates from an OR-of-ANDs instead of falling
# back to a cartesian with a residual filter.
#
# Plan properties: the join stays an equi-join on partkey (the OR
# refers to both sides but every disjunct shares the key); Catalyst
# derives the implied single-side filters — brand/size disjunction
# pushes to the part scan, the quantity range union (1..30) to the
# lineitem scan — before the residual OR evaluates post-join; part
# stays broadcastable. At 100 TB the derived scan filters are the
# difference between joining 3 brands' slice and joining the whole
# fact.
register_sql(
    "bench_q19_disjunctive_revenue",
    f"""
    SELECT ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           COUNT(*) AS n_lines
    FROM {{lineitem}} l JOIN {{part}} p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = '{_Q19_BRANDS[0][0]}'
           AND p.p_size BETWEEN {_Q19_BRANDS[0][1]} AND {_Q19_BRANDS[0][2]}
           AND l.l_quantity BETWEEN {_Q19_BRANDS[0][3]} AND {_Q19_BRANDS[0][4]})
       OR (p.p_brand = '{_Q19_BRANDS[1][0]}'
           AND p.p_size BETWEEN {_Q19_BRANDS[1][1]} AND {_Q19_BRANDS[1][2]}
           AND l.l_quantity BETWEEN {_Q19_BRANDS[1][3]} AND {_Q19_BRANDS[1][4]})
       OR (p.p_brand = '{_Q19_BRANDS[2][0]}'
           AND p.p_size BETWEEN {_Q19_BRANDS[2][1]} AND {_Q19_BRANDS[2][2]}
           AND l.l_quantity BETWEEN {_Q19_BRANDS[2][3]} AND {_Q19_BRANDS[2][4]})
    """,
)
