"""Scale-technique operators: Hive TABLESAMPLE, salted skew join, and
bucketed-table SMB join (Hive bucket surface — SURVEY.md §1.1).

These make the 100 TB playbook executable and testable, not just
documented: sampling for estimation pipelines, manual key-salting for
skew beyond what AQE's skew-join splitting handles, and bucketBy layout
that removes the shuffle from repeated fact-fact joins entirely.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_test_spark.io import SCRATCH_DIR, land, load_table, materialize, scratch_dir
from hive_test_spark.registry import register, register_sql
from hive_test_spark.session import scoped_confs


_SAMPLE_FRAC = 0.1

_TABLESAMPLE_ORACLE = """
    SELECT l_returnflag, TRUE AS bounds_ok, TRUE AS est_ok
    FROM lineitem GROUP BY l_returnflag
"""


@register("scan_tablesample", _TABLESAMPLE_ORACLE)
def scan_tablesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive TABLESAMPLE: seeded Bernoulli sample + aggregate — the sample
    pushed onto the scan, then estimate, is the 100 TB estimation
    pattern.

    WHY THE ORACLE IS A PROPERTY, NOT THE SAMPLE (investigated for
    driver-hardening): a seeded ``df.sample`` IS deterministic per Spark
    version, but membership comes from XORShiftRandom seeded with (seed
    + partitionIndex) and a per-partition draw sequence — a function of
    the physical parquet split layout, not of row values. DuckDB cannot
    reproduce it, and no row-value expression reconstructs it, so the
    sampled row SET is engine-private. What IS cross-engine checkable is
    the sampler's statistical CONTRACT, verified in-query per group:
    (a) the sampled count lies within ±6 binomial sigma of fraction×N,
    (b) the estimated mean lies within 8·sd/√n of the exact mean. The
    hash row pins both booleans true for every group — a broken sampler
    (wrong fraction, biased draw, double-scan) fails the hash. The
    deterministic membership twin is ``llm_hash_sample`` (md5-threshold,
    a pure row-value function) — use that when reproducibility across
    engines matters more than statistical independence."""
    li = load_table(spark, sf_dir, "lineitem")
    sampled = (
        li.sample(fraction=_SAMPLE_FRAC, seed=42)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_s"),
            F.avg("l_extendedprice").alias("avg_s"),
        )
    )
    exact = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_e"),
        F.avg("l_extendedprice").alias("avg_e"),
        F.stddev_samp("l_extendedprice").alias("sd_e"),
    )
    p = F.lit(_SAMPLE_FRAC)
    bounds_ok = (
        F.abs(F.col("n_s") - p * F.col("n_e"))
        <= F.lit(6.0) * F.sqrt(p * (1 - p) * F.col("n_e")) + F.lit(1.0)
    )
    est_ok = (
        F.abs(F.col("avg_s") - F.col("avg_e"))
        <= F.lit(8.0) * F.col("sd_e") / F.sqrt(F.greatest(F.col("n_s"), F.lit(1)))
    )
    return exact.join(sampled, "l_returnflag", "left").select(
        "l_returnflag",
        F.coalesce(bounds_ok, F.lit(False)).alias("bounds_ok"),
        F.coalesce(est_ok, F.lit(False)).alias("est_ok"),
    )


N_SALTS = 8


@register(
    "join_skew_salted",
    """
    SELECT n.n_name, COUNT(*) AS n_customers, ROUND(SUM(c.c_acctbal), 6) AS total_bal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join for skewed keys: fact side gets a random-free
    deterministic salt (hash of a high-cardinality column mod N_SALTS);
    the dim side is exploded N_SALTS× so every (key, salt) pair matches.
    Result is identical to the plain join — the oracle proves it — but the
    hot key's rows now spread over N_SALTS reducers.

    At 100 TB this is the fallback when AQE skew-split cannot help
    (e.g. skewed *aggregation* keys or non-splittable join types).
    """
    c = load_table(spark, sf_dir, "customer").withColumn(
        "salt", F.pmod(F.xxhash64("c_custkey"), F.lit(N_SALTS)).cast("int")
    )
    n = (
        load_table(spark, sf_dir, "nation")
        .withColumn("salt", F.explode(F.array([F.lit(i) for i in range(N_SALTS)])))
    )
    return (
        c.join(n, (c.c_nationkey == n.n_nationkey) & (c.salt == n.salt))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 6).alias("total_bal"),
        )
    )


@register(
    "join_bucketed_smb",
    """
    SELECT o.o_orderpriority, COUNT(*) AS n_lines, ROUND(SUM(l.l_quantity), 6) AS total_qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def join_bucketed_smb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive SMB bucketed join: both fact tables written with
    ``bucketBy(8, join_key)`` + ``sortBy`` into the session catalog, then
    joined — Spark reads bucket layout and plans a SortMergeJoin with NO
    shuffle exchange on either side (asserted in tests/test_plans).

    This is THE repeated-join optimization at warehouse scale: pay the
    bucketed write once, skip the join shuffle forever after.
    """
    from hive_test_spark.sources.scans import _sf_tag

    tag = _sf_tag(sf_dir).replace(".", "_")
    li_tbl, o_tbl = f"hts_li_b_{tag}", f"hts_o_b_{tag}"
    warehouse = os.path.join(SCRATCH_DIR, "warehouse")
    os.makedirs(warehouse, exist_ok=True)

    def ensure(table: str, df_fn, key: str) -> None:
        if not spark.catalog.tableExists(table):
            loc = os.path.join(warehouse, table)
            shutil.rmtree(loc, ignore_errors=True)
            (
                df_fn()
                .write.bucketBy(8, key)
                .sortBy(key)
                .option("path", loc)
                .mode("overwrite")
                .saveAsTable(table)
            )

    ensure(
        li_tbl,
        lambda: load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity"),
        "l_orderkey",
    )
    ensure(
        o_tbl,
        lambda: load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority"),
        "o_orderkey",
    )
    li = spark.table(li_tbl)
    # MERGE hint pins SMJ (AQE would broadcast at fixture scale, hiding the
    # shuffle-free bucketed path this operator demonstrates).
    o = spark.table(o_tbl).hint("merge")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_quantity"), 6).alias("total_qty"),
        )
    )


@register(
    "scale_dpp",
    """
    SELECT CAST(year(l_shipdate) AS BIGINT) AS l_shipyear,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 6) AS revenue
    FROM lineitem
    WHERE year(l_shipdate) IN (
      SELECT DISTINCT year(o_orderdate) FROM orders
      WHERE year(o_orderdate) IN (1996, 1997)
    )
    GROUP BY 1
    """,
)
def scale_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning (SURVEY.md §4 partition-pruning row):
    lineitem is laid out partitioned by ship year (the warehouse layout a
    Hive table would declare), then joined to a filtered dim on the
    partition column. Catalyst injects a `dynamicpruning` subquery into
    the fact scan's partition filters, so only the dim's surviving years
    are *read at all* — at 100 TB this is the difference between scanning
    2 year-partitions and scanning the table. Plan assertion lives in
    tests/test_plans.py.

    The re-read aggregate also round-trips the partitioned write
    (partition-column values survive the directory encoding)."""
    li = load_table(spark, sf_dir, "lineitem").withColumn("l_shipyear", F.year("l_shipdate"))
    path = land(sf_dir, "lineitem_by_year", li.write.partitionBy("l_shipyear").parquet)
    fact = spark.read.parquet(path)
    years = (
        load_table(spark, sf_dir, "orders")
        .select(F.year("o_orderdate").alias("o_year"))
        .filter(F.col("o_year").isin(1996, 1997))
        .distinct()
    )
    return (
        fact.join(years, fact.l_shipyear == years.o_year)
        .groupBy(F.col("l_shipyear").cast("long").alias("l_shipyear"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6).alias(
                "revenue"
            )
        )
    )


@register(
    "scale_cbo_stats",
    """
    SELECT n_name, count(*) AS n_sup, ROUND(SUM(s_acctbal), 6) AS total_bal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def scale_cbo_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based optimization path (SURVEY.md §4 CBO row): register the
    join sides as catalog tables, run `ANALYZE TABLE ... COMPUTE
    STATISTICS` (table-level + all columns), enable `spark.sql.cbo.enabled`,
    and join WITHOUT a broadcast hint — the planner picks the broadcast
    side from catalog statistics (row counts / sizes / NDVs), which is how
    join ordering and strategy selection survive at 100 TB where file
    listing alone misleads (e.g. highly compressed or wide tables).
    Result is hint-free and stats-driven; values hash-match the plain
    join oracle."""
    from hive_test_spark.sources.scans import _sf_tag

    tag = _sf_tag(sf_dir).replace(".", "_")
    sup_t, nat_t = f"cbo_supplier_{tag}", f"cbo_nation_{tag}"

    def ensure(table: str, source: str) -> None:
        # External-table layout in scratch: the session catalog is
        # in-memory, so a fresh session must be able to re-register over a
        # stale on-disk location (managed saveAsTable would refuse).
        if spark.catalog.tableExists(table):
            return
        loc = scratch_dir("cbo", tag, table)
        shutil.rmtree(loc, ignore_errors=True)
        load_table(spark, sf_dir, source).write.option("path", loc).mode(
            "overwrite"
        ).saveAsTable(table)
        spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS FOR ALL COLUMNS")

    ensure(sup_t, "supplier")
    ensure(nat_t, "nation")
    sup = spark.table(sup_t)
    nat = spark.table(nat_t)
    # Save/restore the CBO confs (the AQE_SKEW_CONFS discipline): the
    # result is materialized WHILE CBO is on, then the session confs go
    # back — leaving CBO enabled would silently change every later
    # operator's plans in the shared session.
    cbo_confs = {
        "spark.sql.cbo.enabled": "true",
        "spark.sql.cbo.joinReorder.enabled": "true",
    }
    with scoped_confs(spark, cbo_confs):
        return (
            sup.join(nat, sup.s_nationkey == nat.n_nationkey)
            .groupBy("n_name")
            .agg(
                F.count(F.lit(1)).alias("n_sup"),
                F.round(F.sum("s_acctbal"), 6).alias("total_bal"),
            )
            .transform(materialize)
        )


@register(
    "scale_incremental_agg",
    """
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price,
           ROUND(SUM(o_totalprice) / COUNT(*), 6) AS avg_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def scale_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance: the historical
    partition's PARTIAL aggregate state (count + sum per group, NOT the
    finished average) is persisted once to scratch parquet; when "new"
    data arrives (orders from 2000 onward, simulating a late partition),
    only the delta is aggregated and MERGED with the stored partials —
    count and sum are algebraic, so merge = re-aggregate the union of
    partial states. Finishers (avg = sum/count) run only at the end.

    This is THE recurring-report pattern at 100 TB: a daily rollup never
    re-scans history — it folds one day's partials into the stored state
    (cost = O(delta), not O(table)). The oracle proves merged partials
    equal the full-table aggregate. Storing (count, sum) instead of avg is
    what makes the state mergeable — the same decomposition Spark itself
    uses for partial aggregation pushdown."""
    o = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("2000-01-01").cast("timestamp")
    base = (
        o.filter(F.col("o_orderdate") < cutoff)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("o_totalprice").alias("price_sum"),
        )
    )
    path = land(sf_dir, "orders_base_partials", base.write.parquet)
    stored = spark.read.parquet(path)
    delta = (
        o.filter(F.col("o_orderdate") >= cutoff)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("o_totalprice").alias("price_sum"),
        )
    )
    merged = (
        stored.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(F.sum("cnt").alias("n_orders"), F.sum("price_sum").alias("price_sum"))
    )
    return merged.select(
        "o_orderpriority",
        "n_orders",
        # round to cents, not 1e-6: the sum is ~1e9 where double noise from
        # differing addition order (merged partials vs single pass) is ~1e-7
        F.round(F.col("price_sum"), 2).alias("total_price"),
        F.round(F.col("price_sum") / F.col("n_orders"), 6).alias("avg_price"),
    )


# Z-order (Morton) interleave of two 8-bit quantized dims, generated once
# for both engines — Spark uses shiftleft/shiftright functions, DuckDB the
# operator forms; both reduce to identical integer math.
_Z_BITS = 8


def _z_spark(qx: str, qy: str) -> str:
    return " + ".join(
        f"shiftleft(CAST(shiftright({qx}, {b}) AS INT) & 1, {2 * b + 1})"
        f" + shiftleft(CAST(shiftright({qy}, {b}) AS INT) & 1, {2 * b})"
        for b in range(_Z_BITS)
    )


def _z_duck(qx: str, qy: str) -> str:
    return " + ".join(
        f"((({qx} >> {b}) & 1) << {2 * b + 1}) + ((({qy} >> {b}) & 1) << {2 * b})"
        for b in range(_Z_BITS)
    )


# Fixed, order-preserving 8-bit quantizers (fixture-stable constants:
# l_quantity is 1..50, l_extendedprice ~900..110k).
_QX_SQL = "LEAST(255, CAST(FLOOR(l_quantity * 5) AS INT))"
_QY_SQL = "LEAST(255, CAST(FLOOR(l_extendedprice / 500) AS INT))"


@register(
    "scale_zorder",
    f"""
    WITH q AS (
      SELECT {_QX_SQL} AS qx, {_QY_SQL} AS qy,
             l_quantity, l_extendedprice
      FROM lineitem
    ),
    z AS (SELECT ({_z_duck('qx', 'qy')}) AS zval, l_quantity, l_extendedprice FROM q)
    SELECT CAST(FLOOR(zval / 4096.0) AS BIGINT) AS z_bucket,
           COUNT(*) AS n_rows,
           ROUND(MIN(l_quantity), 6) AS qty_min, ROUND(MAX(l_quantity), 6) AS qty_max,
           ROUND(MIN(l_extendedprice), 6) AS price_min,
           ROUND(MAX(l_extendedprice), 6) AS price_max
    FROM z GROUP BY 1
    """,
)
def scale_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) clustering: quantize two columns to 8 bits
    each with FIXED order-preserving scales, interleave the bits into one
    z-value, then lay the table out with repartitionByRange(z) +
    sortWithinPartitions(z). Files then have narrow min/max ranges on
    BOTH columns simultaneously — so parquet row-group pruning works for
    filters on either dimension, which a linear sort gives only to its
    leading column. This is the Delta/Iceberg OPTIMIZE ZORDER technique
    in plain Spark; at 100 TB it's how you keep two query dimensions
    prunable from one physical layout. tests/test_scale_ops.py asserts
    the per-file footer ranges are actually narrow on both dims.

    The verified result aggregates per z-bucket over the WRITTEN layout
    (round-trips the clustering write); the oracle recomputes the same
    integer interleave, proving the z-math bit-identical."""
    li = load_table(spark, sf_dir, "lineitem").select("l_quantity", "l_extendedprice")
    z = li.withColumn("qx", F.expr(_QX_SQL)).withColumn("qy", F.expr(_QY_SQL)).withColumn(
        "zval", F.expr(_z_spark("qx", "qy"))
    )
    clustered = z.repartitionByRange(16, "zval").sortWithinPartitions("zval")
    path = land(sf_dir, "lineitem_zorder", clustered.write.parquet)
    back = spark.read.parquet(path)
    return (
        back.groupBy(F.floor(F.col("zval") / 4096).cast("long").alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.min("l_quantity"), 6).alias("qty_min"),
            F.round(F.max("l_quantity"), 6).alias("qty_max"),
            F.round(F.min("l_extendedprice"), 6).alias("price_min"),
            F.round(F.max("l_extendedprice"), 6).alias("price_max"),
        )
    )


# AQE skew-join knobs used by scale_aqe_skew (and its plan test): thresholds
# shrunk so the fixture's deliberately skewed key (80% of lineitem on k=0)
# crosses them the way a whale key crosses the 256 MB default at 100 TB.
AQE_SKEW_CONFS = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",  # force a shuffle join
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2KB",
    "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
}


def skew_join_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skewed join scale_aqe_skew executes (exposed for the plan test):
    80% of lineitem lands on synthetic key 0, joined to a 10-key dim that
    CANNOT broadcast (threshold -1), aggregated per key."""
    # repartition(16) first: AQE splits a skewed reduce partition by MAP
    # OUTPUT ranges, so the fixture's single parquet file (one map task)
    # would be indivisible — a real 100 TB table has thousands of input
    # splits; this simulates that precondition, it doesn't help the skew.
    li = (
        load_table(spark, sf_dir, "lineitem")
        .repartition(16)
        .select(
            F.when(F.col("l_orderkey") % 10 < 8, F.lit(0))
            .otherwise(F.col("l_orderkey") % 10)
            .alias("k"),
            "l_extendedprice",
        )
    )
    dim = spark.range(0, 10).select(
        F.col("id").alias("k"), ((F.col("id") + 1) * 1.0).alias("w")
    )
    return (
        li.join(dim, "k")
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("l_extendedprice") * F.col("w")), 4).alias("wsum"),
        )
    )


@register(
    "scale_aqe_skew",
    """
    WITH f AS (
      SELECT CASE WHEN l_orderkey % 10 < 8 THEN 0
                  ELSE l_orderkey % 10 END AS k,
             l_extendedprice
      FROM lineitem
    ),
    d AS (SELECT unnest(generate_series(0, 9)) AS k),
    dd AS (SELECT k, (k + 1) * 1.0 AS w FROM d)
    SELECT f.k, COUNT(*) AS n,
           ROUND(SUM(f.l_extendedprice * dd.w), 4) AS wsum
    FROM f JOIN dd USING (k) GROUP BY f.k
    """,
)
def scale_aqe_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE runtime skew-join splitting — the complement of the MANUAL
    salting in join_skew_salted [Spark-public: OptimizeSkewedJoin splits
    an oversized shuffle partition into chunks and replicates the other
    side's matching partition; the fix a 1000-executor job gets for free
    when one key holds 80% of the fact]. The skewed join EXECUTES here
    with the shrunk thresholds (AQE_SKEW_CONFS) active, materializing to
    scratch; the session's confs are restored afterwards so later
    operators keep the default shuffle sizing. tests/test_plans.py
    asserts `skew=true` appears in the executed adaptive plan.

    forceOptimizeSkewedJoin matters: the post-join rollup needs a
    hash distribution, and without force AQE declines to split rather
    than add the extra exchange — the documented trade (one more small
    shuffle vs one task reading 80% of the fact)."""
    from hive_test_spark.sources.scans import _sf_tag

    path = scratch_dir("scale", _sf_tag(sf_dir), "aqe_skew_result")
    with scoped_confs(spark, AQE_SKEW_CONFS):
        skew_join_frame(spark, sf_dir).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


# Runtime Bloom-filter join-pruning knobs (scale_bloom_filter + its plan
# test): thresholds opened so the fixture-scale selective dim qualifies,
# the way a 100 TB fact's 10 MB-default creation side does in production.
BLOOM_CONFS = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",  # force the shuffle join
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
}


def bloom_join_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join scale_bloom_filter executes (exposed for the plan test):
    lineitem against a selective orders filter, shuffle join forced so
    the optimizer injects a Bloom-filter runtime filter on the fact."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 400000.0
    ).select("o_orderkey")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 4).alias("revenue"),
        )
    )


@register(
    "scale_bloom_filter",
    """
    SELECT l_returnflag, COUNT(*) AS n_lines,
           ROUND(SUM(l_extendedprice), 4) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_totalprice > 400000.0
    GROUP BY l_returnflag
    """,
)
def scale_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join pruning [Spark-public: the
    InjectRuntimeFilter rule builds a bloom_filter_agg over the
    selective (creation) side's join keys and plants might_contain on
    the fact (application) side's scan — rows that cannot join die
    BEFORE the shuffle]: the modern complement to dynamic partition
    pruning (scale_dpp) for joins whose key is NOT the partition column.
    At 100 TB a 1%-selective dim filter means ~99% of fact shuffle bytes
    never leave the mappers — the single biggest shuffle saving
    available when bucketing isn't.

    Same discipline as scale_aqe_skew: the join executes eagerly to
    scratch with BLOOM_CONFS active (thresholds opened to fixture
    scale; broadcast disabled so the shuffle join actually benefits),
    confs restored after; tests/test_plans.py asserts bloom_filter_agg
    + might_contain on the executed plan. Values hash-match the plain
    join oracle — the filter is sound (no false negatives), so results
    are IDENTICAL with and without it."""
    from hive_test_spark.sources.scans import _sf_tag

    path = scratch_dir("scale", _sf_tag(sf_dir), "bloom_filter_result")
    with scoped_confs(spark, BLOOM_CONFS):
        bloom_join_frame(spark, sf_dir).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


@register(
    "scan_bucket_sample",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 8 = 2
    """,
)
def scan_bucket_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive ``TABLESAMPLE(BUCKET 3 OUT OF 8 ON o_orderkey)`` semantics,
    made engine-portable: bucket membership = md5(key) mod 8 (Hive hashes
    the ON column the same way conceptually; native hash functions differ
    across engines, so the content hash is the reproducible form). Unlike
    Bernoulli TABLESAMPLE (scan_tablesample, property-oracled), bucket sampling
    is DETERMINISTIC — the same keys sample in every engine, so this op
    carries a full value oracle. At scale the same expression sits in the
    reader filter and, on a table bucketed by the key, prunes whole
    files instead of scanning-and-filtering."""
    o = load_table(spark, sf_dir, "orders")
    bucket = F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    ) % 8
    return o.filter(bucket == 2).select("o_orderkey", "o_custkey", "o_totalprice")


@register(
    "scale_exchange_reuse",
    """
    WITH nat_rev AS (
      SELECT c_nationkey, ROUND(SUM(o_totalprice), 4) AS rev
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY c_nationkey
    )
    SELECT a.c_nationkey, a.rev, ROUND(m.top_rev, 4) AS top_rev
    FROM nat_rev a
    CROSS JOIN (SELECT max(rev) AS top_rev FROM nat_rev) m
    WHERE a.rev >= 0.8 * m.top_rev
    """,
)
def scale_exchange_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-reuse: the per-nation revenue aggregate feeds BOTH the
    output rows and the global-max subquery. Under AQE the dedup fires
    at RUNTIME — as query stages materialize, the stage cache matches
    the second aggregate's canonicalized shuffle subtree and wires a
    ReusedExchange into the final adaptive plan (asserted post-execution
    in tests) — the aggregation's shuffle is paid a single time. At
    100 TB this is the difference between one and two full fact-table
    passes whenever a query compares rows against a statistic of the
    same derivation — no manual cache() needed."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    nat_rev = (
        o.join(c, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_nationkey")
        .agg(F.round(F.sum("o_totalprice"), 4).alias("rev"))
    )
    top = nat_rev.agg(F.max("rev").alias("top_rev"))
    return (
        nat_rev.crossJoin(top)
        .filter(F.col("rev") >= 0.8 * F.col("top_rev"))
        .select("c_nationkey", "rev", F.round("top_rev", 4).alias("top_rev"))
    )


@register(
    "scale_cache_reuse",
    """
    WITH hot AS (
      SELECT l_suppkey, l_returnflag, l_extendedprice
      FROM lineitem WHERE l_shipdate >= DATE '1998-01-01'
    )
    SELECT 'by_flag' AS dim, l_returnflag AS key,
           COUNT(*) AS n, ROUND(SUM(l_extendedprice), 4) AS total
    FROM hot GROUP BY l_returnflag
    UNION ALL
    SELECT 'by_supp_mod' AS dim, CAST(l_suppkey % 10 AS VARCHAR) AS key,
           COUNT(*) AS n, ROUND(SUM(l_extendedprice), 4) AS total
    FROM hot GROUP BY l_suppkey % 10
    """,
)
def scale_cache_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit materialization-reuse: a filtered hot slice is cache()d
    and consumed by two differently-keyed rollups in one output plan —
    both branches read the InMemoryRelation (asserted), the parquet scan
    runs once. This is the deliberate counterpart to
    scale_exchange_reuse: structural reuse is free but only fires on
    identical subtrees; cache() is the tool when CONSUMERS differ (here:
    different aggregate keys). At 100 TB you cache the slice that fits
    (memory-and-disk) or checkpoint it — the plan shape is the same."""
    li = load_table(spark, sf_dir, "lineitem")
    hot = (
        li.filter(F.col("l_shipdate") >= "1998-01-01")
        .select("l_suppkey", "l_returnflag", "l_extendedprice")
        .cache()
    )
    by_flag = hot.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("l_extendedprice"), 4).alias("total")
    ).select(F.lit("by_flag").alias("dim"), F.col("l_returnflag").alias("key"), "n", "total")
    by_supp = hot.groupBy((F.col("l_suppkey") % 10).alias("k")).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("l_extendedprice"), 4).alias("total")
    ).select(F.lit("by_supp_mod").alias("dim"), F.col("k").cast("string").alias("key"), "n", "total")
    return by_flag.unionAll(by_supp)


# AQE post-shuffle partition coalescing [Spark-public:
# spark.sql.adaptive.coalescePartitions, SPARK-28177] — the fourth
# AQE pillar demonstrated in this engine (with skew-split
# `scale_aqe_skew`, DPP `scale_dpp`, runtime bloom
# `scale_bloom_filter`): a 5-group rollup shuffles into the session's
# 32 configured partitions, but at runtime the map-output statistics
# show a few KB per partition, so AQE coalesces the reducer side down
# to ~1 task (AQEShuffleRead coalesced — asserted post-execution in
# tests). At 100 TB this is what makes one global
# `spark.sql.shuffle.partitions` setting livable: over-partitioned
# stages shrink to match their true output instead of scheduling
# thousands of empty reducers; under-skew the same machinery splits
# (the two are one feature with two directions).
register_sql(
    "scale_aqe_coalesce",
    """
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 4) AS total_price
    FROM {orders}
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)


@register(
    "scale_salted_agg",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_distinct_users,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 6) AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def scale_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage SALTED aggregation — the aggregation-side counterpart
    of join_skew_salted, for the skew AQE cannot fix (AQE splits skewed
    JOIN partitions, not skewed aggregate keys). Stage 1 groups by
    (event_type, salt) where salt = hash(user_id) mod N_SALTS; because
    the salt is a pure function of the aggregated column, each
    (event_type, user_id) pair lands in exactly one salt bucket, so
    per-bucket distinct counts are disjoint and stage 2 just SUMs them.
    Result is exactly the unsalted answer — the oracle proves it — with
    per-task aggregate state bounded at 1/N_SALTS of the hot key's.

    Honesty note: for COUNT(DISTINCT) specifically, Spark's own
    planner rewrite already shuffles on (group, user_id) — well
    distributed — so this exhibit's value is the GENERAL pattern, shown
    on count_distinct because disjoint-bucket counts make it exactly
    oracle-able. The salt is the needed fix when the per-group state is
    large and NOT redistributed by any built-in rewrite: collect_set /
    collect_list state, exact percentile/median state, custom UDAF
    accumulators — anywhere one hot group's state must not land on one
    task.

    At 100 TB: per-task state drops from |hot key's users| to that
    /N_SALTS; every shuffle stays map-side combinable; pick N_SALTS ~
    cluster parallelism / |hot keys|. The salt NEVER uses rand(): a
    deterministic hash keeps the rewrite a pure function of the data
    (retry-safe — a rand() salt double-counts rows replayed by task
    retries, and breaks the disjointness that makes distinct counts
    summable)."""
    ev = load_table(spark, sf_dir, "events")
    stage1 = (
        ev.groupBy(
            "event_type",
            F.pmod(F.xxhash64("user_id"), F.lit(N_SALTS)).cast("int").alias("salt"),
        )
        .agg(
            F.count_distinct("user_id").alias("du"),
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("v"),
        )
    )
    return stage1.groupBy("event_type").agg(
        F.sum("du").alias("n_distinct_users"),
        F.sum("n").alias("n_events"),
        F.round(F.sum("v"), 6).alias("total_value"),
    )


@register(
    "scale_bucket_pruning",
    """
    SELECT o_orderkey, o_orderstatus, ROUND(o_totalprice, 4) AS total
    FROM orders
    WHERE o_orderkey IN (10, 20, 30)
    """,
)
def scale_bucket_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket pruning on read [Hive-public: TABLESAMPLE(BUCKET x) reads
    selected buckets; Spark-public: an equality/IN predicate on the
    bucketBy column lets the scan open ONLY the buckets those keys
    hash to — visible as ``SelectedBucketsCount: k out of 8`` in the
    plan, asserted in tests/test_plans]. The orders table is saved
    bucketed by o_orderkey (8 buckets, the one-time layout cost the
    SMB join also amortizes); a 3-key IN probe then touches at most 3
    bucket files instead of the whole table. The oracle runs the same
    probe on the raw view — values identical, I/O not.

    At 100 TB: bucket pruning is the FILE-level complement of
    partition pruning — partitions prune by directory on
    low-cardinality columns, buckets prune by hash on HIGH-cardinality
    keys (exactly where partitioning is forbidden). A point-lookup
    ETL repair job on a bucketed fact reads 1/N of the data with zero
    index infrastructure. Combine: partition by date, bucket by key —
    a (day, key) probe opens one directory × one bucket.

    Config note: DisableUnnecessaryBucketedScan only reasons about
    avoided SHUFFLES, not bucket-filter pruning, so with
    autoBucketedScan on it downgrades this scan to non-bucketed and
    silently loses the pruning. The op pins
    ``autoBucketedScan.enabled=false`` (session-sticky; the only
    bucketed tables in this engine are the SMB/pruning fixtures,
    which all WANT bucketed reads — the SMB join keeps its
    shuffle-free plan either way)."""
    spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
    )
    from hive_test_spark.sources.scans import _sf_tag

    tag = _sf_tag(sf_dir).replace(".", "_")
    table = f"hts_o_bp_{tag}"
    warehouse = os.path.join(SCRATCH_DIR, "warehouse")
    os.makedirs(warehouse, exist_ok=True)
    if not spark.catalog.tableExists(table):
        loc = os.path.join(warehouse, table)
        shutil.rmtree(loc, ignore_errors=True)
        (
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_orderstatus", "o_totalprice")
            .write.bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .option("path", loc)
            .mode("overwrite")
            .saveAsTable(table)
        )
    return (
        spark.table(table)
        .filter(F.col("o_orderkey").isin(10, 20, 30))
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.round("o_totalprice", 4).alias("total"),
        )
    )


@register(
    "scale_range_join_grid",
    """
    WITH iv AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(o_orderdate AS DATE) AS start_d,
             CAST(o_orderdate AS DATE)
               + CAST((o_orderkey % 4) AS INTEGER) AS end_d
      FROM orders
    )
    SELECT iv.o_orderpriority,
           CAST(iv.end_d - iv.start_d AS BIGINT) AS interval_days,
           COUNT(*) AS n_matches,
           ROUND(SUM(l.l_quantity), 4) AS total_qty
    FROM iv JOIN lineitem l
      ON CAST(l.l_shipdate AS DATE) >= iv.start_d
     AND CAST(l.l_shipdate AS DATE) <= iv.end_d
    GROUP BY iv.o_orderpriority, interval_days
    """,
)
def scale_range_join_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gridded range join — the SHUFFLE-KEYED rewrite of an unbounded
    interval join (join_range_interval broadcasts the small side; this
    is what you do when NEITHER side fits in memory). Each interval
    [start, start + 0..3 days] EXPLODES into its covered day buckets
    (bounded fan-out = max interval length / bucket width); each point
    maps to exactly ONE bucket; the join becomes a plain equi-join on
    the bucket key plus an exact residual filter. A (interval, point)
    pair can match on at most one bucket (the point's own day), so no
    dedup pass is needed — the grid is exact, not a candidate set.

    At 100 TB: this turns an O(N×M) broadcast-or-BNLJ problem into a
    day-keyed shuffle whose per-key size is (intervals covering that
    day) × (points in that day) — both bounded by time locality. Pick
    the bucket width ≈ median interval length: wider buckets inflate
    the residual-filter kill rate, narrower ones inflate the interval
    fan-out. Same shape as llm_minhash_det's band-bucket join: bucket
    first, exact-verify inside the bucket."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_shipdate").cast("date").alias("point_d"), "l_quantity"
    )
    iv = o.select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_orderdate").cast("date").alias("start_d"),
        F.date_add(
            F.col("o_orderdate").cast("date"),
            (F.col("o_orderkey") % 4).cast("int"),
        ).alias("end_d"),
    )
    # Bounded fan-out: one row per covered day bucket (≤ 4).
    grid = iv.select(
        "o_orderkey",
        "o_orderpriority",
        "start_d",
        "end_d",
        F.explode(F.expr("sequence(start_d, end_d)")).alias("bucket_d"),
    )
    # r12 (guide §2.3 "aggregate before you shuffle"): the final rollup
    # only needs per-day COUNT/SUM of the points, so lineitem pre-
    # aggregates to one row per day BEFORE the join — the equi-join then
    # carries |days| rows instead of materializing every (interval,
    # point) pair (~94M rows at sf0.1; measured 25 s → ~2 s). The
    # residual [start_d, end_d] filter is vacuous at day-granularity
    # buckets (point_d == bucket_d ∈ [start_d, end_d] by construction)
    # and drops out. Quantity partials accumulate in exact DECIMAL
    # (SCALE.md §9ac) so the regrouped sum is bitwise the pair-level
    # double sum for any ≤6dp fixture vintage; the final cast emits the
    # oracle's DOUBLE.
    day_agg = li.groupBy("point_d").agg(
        F.count(F.lit(1)).alias("_day_n"),
        F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("_day_qty"),
    )
    joined = grid.join(day_agg, grid.bucket_d == day_agg.point_d)
    return joined.groupBy(
        "o_orderpriority",
        F.datediff("end_d", "start_d").cast("long").alias("interval_days"),
    ).agg(
        F.sum("_day_n").alias("n_matches"),
        F.round(F.sum("_day_qty").cast("double"), 4).alias("total_qty"),
    )


# Skew diagnostic: report depth for the hot-key list.
_SKEW_TOPK = 5


@register(
    "scale_skew_diagnose",
    f"""
    WITH per_key AS (
      SELECT user_id, COUNT(*) AS n_ev FROM events GROUP BY user_id
    ),
    stats AS (
      SELECT COUNT(*) AS n_keys,
             CAST(SUM(n_ev) AS BIGINT) AS n_rows,
             MAX(n_ev) AS max_key,
             quantile_cont(n_ev, 0.5) AS p50,
             quantile_cont(n_ev, 0.99) AS p99
      FROM per_key
    ),
    hot AS (
      SELECT user_id, n_ev,
             ROW_NUMBER() OVER (ORDER BY n_ev DESC, user_id) AS rk
      FROM per_key
    )
    SELECT h.rk, h.user_id, h.n_ev,
           ROUND(CAST(h.n_ev AS DOUBLE) / s.n_rows, 6) AS share,
           s.n_keys, s.n_rows,
           ROUND(CAST(s.max_key AS DOUBLE) * s.n_keys / s.n_rows, 6) AS skew_factor,
           ROUND(s.p50, 4) AS p50_key_size,
           ROUND(s.p99, 4) AS p99_key_size
    FROM hot h CROSS JOIN stats s
    WHERE h.rk <= {_SKEW_TOPK}
    ORDER BY h.rk
    """,
)
def scale_skew_diagnose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostic for user-keyed work [public
    practice: the pre-flight profile run before choosing between a
    plain shuffle join, join_skew_salted, and scale_aqe_skew — AQE
    splits skewed partitions at runtime, but salting and broadcast
    decisions are made at WRITE time from exactly this report]. One
    per-key rollup feeds both the hot-key top-{_SKEW_TOPK} (count,
    share of all rows) and the distribution summary (p50/p99 key
    size, max, and skew_factor = max·n_keys/n_rows — 1.0 means
    perfectly uniform; the factor approximates how much slower the
    straggler partition runs than the average).

    At 100 TB: the rollup is map-side combinable on the diagnosed key
    itself (ironically skew-safe: partial aggregation compresses the
    hot key inside each partition before the shuffle); the rank window
    and quantiles run on the reduced key dimension, and the 1-row
    stats frame broadcasts over the top-k rows."""
    ev = load_table(spark, sf_dir, "events")
    # Both branches (summary stats, hot-key rank) reference the per-key
    # rollup; checkpoint the key-dimension frame so events scans once.
    per_key = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_ev"))
        .transform(materialize)
    )
    stats = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n_ev").alias("n_rows"),
        F.max("n_ev").alias("max_key"),
        F.expr("percentile(n_ev, 0.5)").alias("p50"),
        F.expr("percentile(n_ev, 0.99)").alias("p99"),
    )
    hot = per_key.select(
        "user_id",
        "n_ev",
        F.row_number()
        .over(Window.orderBy(F.col("n_ev").desc(), F.col("user_id")))
        .alias("rk"),
    ).filter(F.col("rk") <= _SKEW_TOPK)
    return (
        hot.crossJoin(stats)
        .select(
            "rk",
            "user_id",
            "n_ev",
            F.round(F.col("n_ev").cast("double") / F.col("n_rows"), 6).alias(
                "share"
            ),
            "n_keys",
            "n_rows",
            F.round(
                F.col("max_key").cast("double") * F.col("n_keys") / F.col("n_rows"),
                6,
            ).alias("skew_factor"),
            F.round("p50", 4).alias("p50_key_size"),
            F.round("p99", 4).alias("p99_key_size"),
        )
        .orderBy("rk")
    )


# AQE runtime join-strategy demotion knobs (scale_aqe_join_switch + its
# plan test): the STATIC planner is forbidden from broadcasting (no CBO
# stats -> a filtered scan still carries the full file-size estimate, the
# normal state of a 100 TB fact-dim join on fresh data), while the
# ADAPTIVE threshold stays open so runtime shuffle statistics can demote
# the sort-merge join to broadcast once the filtered side's true size is
# known.
AQE_JOIN_SWITCH_CONFS = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "10MB",
}


def aqe_switch_join_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join scale_aqe_join_switch executes (exposed for the plan
    test): lineitem against a highly selective orders filter whose
    static size estimate is the whole file."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 450000.0
    ).select("o_orderkey")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 4).alias("revenue"),
        )
    )


@register(
    "scale_aqe_join_switch",
    """
    SELECT l_returnflag, COUNT(*) AS n_lines,
           ROUND(SUM(l_extendedprice), 4) AS revenue
    FROM lineitem
    JOIN (SELECT o_orderkey FROM orders WHERE o_totalprice > 450000.0) o
      ON l_orderkey = o_orderkey
    GROUP BY l_returnflag
    """,
)
def scale_aqe_join_switch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE runtime join-strategy demotion: sort-merge planned, broadcast
    executed [Spark-public: AQE re-plans each query stage from RUNTIME
    shuffle statistics; when the built side's true post-filter size
    lands under spark.sql.adaptive.autoBroadcastJoinThreshold, the SMJ
    becomes a BroadcastHashJoin without a CBO stat in sight]. This is
    the third member of the AQE exhibit family — skew split
    (scale_aqe_skew), partition coalesce (scale_aqe_coalesce), and now
    join demotion — and the one that matters most on fresh data: a
    100 TB warehouse rarely has fresh ANALYZE stats on today's
    partitions, so the static planner sees a filtered dim as
    full-file-sized and plans the conservative shuffle join; AQE's
    demotion recovers the broadcast plan the stats would have bought,
    saving the fact-side exchange. The join EXECUTES here (scratch
    materialization) with the demotion confs active and the session
    restored afterwards; tests/test_plans.py asserts the executed
    adaptive plan carries a BroadcastHashJoin while the static plan
    under the same confs carries SortMergeJoin.

    At 100 TB: the saved exchange is the fact's — the dominant cost of
    the query; the trade is one extra stage boundary (the dim's
    shuffle write completes before re-planning), which AQE's local
    shuffle reader keeps off the critical path."""
    from hive_test_spark.sources.scans import _sf_tag

    path = scratch_dir("scale", _sf_tag(sf_dir), "aqe_join_switch_result")
    with scoped_confs(spark, AQE_JOIN_SWITCH_CONFS):
        aqe_switch_join_frame(spark, sf_dir).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)
