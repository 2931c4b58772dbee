"""SURVEY.md §2.A (write side) — partitioned writes, append insert, CTAS.

Reference surface: HiveQL INSERT OVERWRITE ... PARTITION / INSERT INTO /
CREATE TABLE AS SELECT [Hive-public] (reference checkout empty —
SURVEY.md §0.1).

Each sink operator performs the real distributed write into .scratch/
and re-reads the result, so the verified value flows through the writer
AND the reader. Writes re-run on every invocation (they ARE the operator
under test).

Scale notes (100 TB): partitionBy writes one directory per key —
partition columns must be low-cardinality (o_orderstatus: 3). Dynamic
partition overwrite replaces only touched partitions. At warehouse scale
add ``.sortWithinPartitions(key)`` before the write to get clustered
files, and bucketBy for join-key co-location.
"""

from __future__ import annotations

import os
import shutil
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_test_spark.io import load_table, scratch_dir, values
from hive_test_spark.registry import register
from hive_test_spark.session import temp_functions

from hive_test_spark.sources.scans import _land_orders_by_status, _sf_tag


@register(
    "sink_parquet_partitioned",
    """
    SELECT o_orderstatus, COUNT(*) AS n, ROUND(SUM(o_totalprice), 6) AS total
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT OVERWRITE ... PARTITION(col): partitionBy parquet write, then
    a re-read that prunes to the partition dirs (partition pruning)."""
    o = load_table(spark, sf_dir, "orders")
    path = scratch_dir("sink", _sf_tag(sf_dir), "orders_by_status")
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 6).alias("total"),
    )


@register(
    "sink_append",
    """
    WITH unioned AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F'
      UNION ALL
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'O'
    )
    SELECT COUNT(*) AS n, ROUND(SUM(o_totalprice), 6) AS total FROM unioned
    """,
)
def sink_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT INTO (append): overwrite first batch, append second batch,
    re-read — bag semantics of append are visible in the count."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice", "o_orderstatus")
    path = scratch_dir("sink", _sf_tag(sf_dir), "orders_append")
    shutil.rmtree(path, ignore_errors=True)
    first = o.filter(F.col("o_orderstatus") == "F").drop("o_orderstatus")
    second = o.filter(F.col("o_orderstatus") == "O").drop("o_orderstatus")
    first.write.mode("overwrite").parquet(path)
    second.write.mode("append").parquet(path)
    back = spark.read.parquet(path)
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 6).alias("total"),
    )


@register(
    "ctas",
    """
    SELECT p_brand, num_parts, avg_retail
    FROM (SELECT p_brand, COUNT(*) AS num_parts, ROUND(AVG(p_retailprice), 6) AS avg_retail
          FROM part GROUP BY p_brand) t
    """,
)
def ctas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE TABLE AS SELECT through the SQL front end and the session
    catalog (in-memory catalog; on a warehouse this is the metastore),
    with an explicit LOCATION so data lands in scratch."""
    p = load_table(spark, sf_dir, "part")
    p.createOrReplaceTempView("hts_part_v")
    tag = _sf_tag(sf_dir).replace(".", "_")
    table = f"hts_brand_stats_{tag}"
    path = scratch_dir("sink", _sf_tag(sf_dir), "ctas_brand_stats")
    shutil.rmtree(path, ignore_errors=True)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # sf-tagged name: spark.table() is LAZY, so an untagged shared name
    # re-created at another scale factor in the same session would be
    # read by the first invocation's still-uncollected result.
    spark.sql(
        f"""
        CREATE TABLE {table}
        USING PARQUET LOCATION '{path}'
        AS SELECT p_brand, COUNT(*) AS num_parts, ROUND(AVG(p_retailprice), 6) AS avg_retail
           FROM hts_part_v GROUP BY p_brand
        """
    )
    return spark.table(table)


@register(
    "sink_multi_insert",
    """
    SELECT 'by_returnflag' AS sink_name, l_returnflag AS group_key,
           COUNT(*) AS n_rows, ROUND(SUM(l_quantity), 2) AS metric
    FROM lineitem GROUP BY l_returnflag
    UNION ALL
    SELECT 'by_linestatus' AS sink_name, l_linestatus AS group_key,
           COUNT(*) AS n_rows, ROUND(SUM(l_extendedprice), 2) AS metric
    FROM lineitem GROUP BY l_linestatus
    """,
)
def sink_multi_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive multi-insert (`FROM src INSERT OVERWRITE t1 ... INSERT
    OVERWRITE t2 ...` [Hive-public]): ONE source scan feeding two
    different sinks. Spark has no multi-insert statement; the idiomatic
    equivalent is persist() on the shared source — the first write
    populates the cache, the second reads it, so the fact table is
    scanned once (at 100 TB the scan IS the dominant cost; two scans vs
    one is 2x the job). Both sinks are real parquet writes re-read for
    the verified result, tagged and unioned into one summary.

    Metric sums round to cents: they are ~1e9 where double addition-order
    noise sits at ~1e-7, below round-6 but not round-2."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice"
    ).persist()
    try:
        out_a = scratch_dir("sink", _sf_tag(sf_dir), "multi_by_returnflag")
        out_b = scratch_dir("sink", _sf_tag(sf_dir), "multi_by_linestatus")
        (
            li.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("l_quantity").alias("m"))
            .write.mode("overwrite").parquet(out_a)
        )
        (
            li.groupBy("l_linestatus")
            .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("l_extendedprice").alias("m"))
            .write.mode("overwrite").parquet(out_b)
        )
        a = spark.read.parquet(out_a).select(
            F.lit("by_returnflag").alias("sink_name"),
            F.col("l_returnflag").alias("group_key"),
            "n_rows",
            F.round("m", 2).alias("metric"),
        )
        b = spark.read.parquet(out_b).select(
            F.lit("by_linestatus").alias("sink_name"),
            F.col("l_linestatus").alias("group_key"),
            "n_rows",
            F.round("m", 2).alias("metric"),
        )
        return a.unionByName(b)
    finally:
        li.unpersist()


def _ensure_part_meta_table(spark: SparkSession, sf_dir: str) -> str:
    """Register the shared EXTERNAL partitioned orders table (external
    path idiom: an in-memory catalog can re-register over the scratch
    layout in a fresh process) used by the metastore-readback exhibits
    (SHOW PARTITIONS / SHOW CREATE TABLE)."""
    tag = _sf_tag(sf_dir).replace(".", "_")
    table = f"hts_part_meta_{tag}"
    if not spark.catalog.tableExists(table):
        loc = scratch_dir("meta", tag, table)
        shutil.rmtree(loc, ignore_errors=True)
        (
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_totalprice", "o_orderstatus")
            .write.partitionBy("o_orderstatus")
            .option("path", loc)
            .mode("overwrite")
            .saveAsTable(table)
        )
    return table


@register(
    "meta_show_partitions",
    """
    SELECT 'o_orderstatus=' || o_orderstatus AS partition_spec,
           o_orderstatus,
           COUNT(*) AS n_rows
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY partition_spec
    """,
)
def meta_show_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metastore partition surface [Hive-public: SHOW PARTITIONS — the
    catalog's partition enumeration, backbone of Hive operational
    tooling]: orders is written as an EXTERNAL partitioned table
    (saveAsTable + path, so a fresh in-memory catalog can re-register
    over the scratch layout), then SHOW PARTITIONS enumerates the
    metastore specs and an inner join back to per-partition row counts
    FROM THE TABLE DATA proves catalog and data agree partition-for-
    partition — a dangling spec (no data rows) or an unregistered
    directory (no catalog row) would drop a row and fail the count/hash
    against the data-only oracle.

    At 100 TB: partition enumeration is a METADATA operation — query
    planning must prune on specs without listing data files
    (catalog-level pruning is why over-partitioning kills planners:
    10^6 specs = 10^6 metastore rows per query). Partition columns stay
    low-cardinality; everything finer belongs in bucketing or file
    sort order, not the metastore."""
    table = _ensure_part_meta_table(spark, sf_dir)
    specs = spark.sql(f"SHOW PARTITIONS {table}").select(
        F.col("partition").alias("partition_spec"),
        F.regexp_extract("partition", "o_orderstatus=(.+)$", 1).alias(
            "o_orderstatus"
        ),
    )
    counts = spark.table(table).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    return (
        specs.join(counts, "o_orderstatus")
        .select("partition_spec", "o_orderstatus", "n_rows")
        .orderBy("partition_spec")
    )


_ANALYZE_STATS_ORACLE = """
    SELECT 'o_orderstatus' AS column_name, 'distinct_count' AS stat,
           CAST(COUNT(DISTINCT o_orderstatus) AS VARCHAR) AS value
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', 'num_nulls',
           CAST(COUNT(*) - COUNT(o_orderstatus) AS VARCHAR) FROM orders
    UNION ALL
    SELECT 'o_orderpriority', 'distinct_count',
           CAST(COUNT(DISTINCT o_orderpriority) AS VARCHAR) FROM orders
    UNION ALL
    SELECT 'o_orderpriority', 'num_nulls',
           CAST(COUNT(*) - COUNT(o_orderpriority) AS VARCHAR) FROM orders
    UNION ALL
    SELECT 'o_orderkey', 'num_nulls',
           CAST(COUNT(*) - COUNT(o_orderkey) AS VARCHAR) FROM orders
    UNION ALL
    SELECT 'o_orderkey', 'min', CAST(MIN(o_orderkey) AS VARCHAR) FROM orders
    UNION ALL
    SELECT 'o_orderkey', 'max', CAST(MAX(o_orderkey) AS VARCHAR) FROM orders
"""

# Catalog stats store min/max only for orderable PRIMITIVE NUMERIC/date
# types (strings get NDV + nulls only), and NDV is an HLL++ sketch —
# exact only at tiny cardinality. Each column therefore exposes exactly
# the stats that are deterministic AND stored for its type.
_ANALYZE_COLS: dict[str, tuple[str, ...]] = {
    "o_orderstatus": ("distinct_count", "num_nulls"),
    "o_orderpriority": ("distinct_count", "num_nulls"),
    "o_orderkey": ("num_nulls", "min", "max"),
}


@register("meta_analyze_stats", _ANALYZE_STATS_ORACLE)
def meta_analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS + the DESCRIBE
    EXTENDED readback [Hive-public: the CBO stats surface] — the catalog
    column statistics (NDV, null count, min/max) the cost-based
    optimizer joins/reorders by. The op ANALYZEs three columns and returns the catalog's stored stats in long form; the
    oracle recomputes the same stats FROM THE DATA, so what is verified
    is catalog↔data agreement — a stale or wrong stats row fails the
    hash. (NDV in the catalog is HyperLogLog++; for these cardinalities
    — 3 and 5 — the sketch is exact, which is what makes the key
    hashable rather than rows-only. scale_cbo_stats exercises how plans
    USE these stats; this key pins what gets STORED.)

    At 100 TB: ANALYZE is one pass (all column sketches in a single
    aggregate), run per-partition-batch after ingest; planners read the
    catalog row, never the data. High-NDV columns store the HLL
    estimate — the 2% error is irrelevant to join reordering."""
    tag = _sf_tag(sf_dir).replace(".", "_")
    table = f"hts_stats_meta_{tag}"
    if not spark.catalog.tableExists(table):
        loc = scratch_dir("meta", tag, table)
        shutil.rmtree(loc, ignore_errors=True)
        (
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_orderstatus", "o_orderpriority")
            .write.option("path", loc)
            .mode("overwrite")
            .saveAsTable(table)
        )
    spark.sql(
        f"ANALYZE TABLE {table} COMPUTE STATISTICS FOR COLUMNS "
        + ", ".join(_ANALYZE_COLS)
    )
    return reduce(
        DataFrame.unionAll,
        [
            spark.sql(f"DESCRIBE EXTENDED {table} {col}")
            .filter(F.col("info_name").isin(*stats))
            .select(
                F.lit(col).alias("column_name"),
                F.col("info_name").alias("stat"),
                F.col("info_value").alias("value"),
            )
            for col, stats in _ANALYZE_COLS.items()
        ],
    )


_SHOW_TABLES_ORACLE = """
    SELECT 'regions' AS table_suffix, (SELECT COUNT(*) FROM region) AS n_rows
    UNION ALL
    SELECT 'nations_lo', (SELECT COUNT(*) FROM nation WHERE n_nationkey < 12)
    UNION ALL
    SELECT 'nations_hi', (SELECT COUNT(*) FROM nation WHERE n_nationkey >= 12)
"""


@register("meta_show_tables", _SHOW_TABLES_ORACLE)
def meta_show_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog enumeration surface (Hive SHOW TABLES) completing the
    metastore family (SHOW PARTITIONS = meta_show_partitions, ANALYZE
    readback = meta_analyze_stats): three external tables are registered
    under a deterministic name prefix, SHOW TABLES LIKE enumerates the
    catalog, and each catalog row is joined back to its table's ACTUAL
    row count — so the hash pins catalog completeness (a missing
    registration drops a row) and catalog↔data agreement, not just
    string listing. The LIKE prefix keeps the op independent of
    whatever else the session registered.

    At 100 TB: SHOW TABLES is pure metastore metadata — the row-count
    join here is the verification harness, not the production pattern
    (production reads counts from table-level stats, see
    meta_analyze_stats). Name-prefix namespacing is the poor man's
    schema; real deployments use databases — same enumeration API."""
    tag = _sf_tag(sf_dir).replace(".", "_")
    prefix = f"hts_cat_{tag}"
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    slices = {
        "regions": region.select("r_regionkey"),
        "nations_lo": nation.filter(F.col("n_nationkey") < 12).select("n_nationkey"),
        "nations_hi": nation.filter(F.col("n_nationkey") >= 12).select("n_nationkey"),
    }
    for suffix, df in slices.items():
        table = f"{prefix}_{suffix}"
        if not spark.catalog.tableExists(table):
            loc = scratch_dir("meta", tag, table)
            shutil.rmtree(loc, ignore_errors=True)
            df.write.option("path", loc).mode("overwrite").saveAsTable(table)
    listed = spark.sql(f"SHOW TABLES LIKE '{prefix}_*'").select(
        F.expr(f"substring(tableName, {len(prefix) + 2})").alias("table_suffix")
    )
    counts = reduce(
        DataFrame.unionAll,
        [
            spark.table(f"{prefix}_{suffix}")
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .select(F.lit(suffix).alias("table_suffix"), "n_rows")
            for suffix in slices
        ],
    )
    return listed.join(counts, "table_suffix").select("table_suffix", "n_rows")


_CSV_QUOTE_ORACLE = """
    SELECT c_custkey,
           c_name || ', Esq. "' || c_mktsegment || '"' AS tricky,
           'line1
line2:' || c_name AS multiline
    FROM customer WHERE c_custkey < 300
"""


@register("sink_csv_quoting", _CSV_QUOTE_ORACLE)
def sink_csv_quoting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV writer/reader escaping round-trip: values are manufactured to
    contain every character that breaks naive delimited text — the
    delimiter itself, double quotes, and embedded NEWLINES — written
    with quoting+escaping on, then read back with ``multiLine`` (quoted
    newlines span physical lines). The hash compares the round-tripped
    strings against the oracle's directly-computed originals, so any
    quoting, escaping, or line-splitting defect shows as corruption.
    Classic silent-corruption territory: a reader without multiLine
    sees MORE rows (split records) and fails the row-count gate before
    the hash.

    At 100 TB: multiLine CSV is NOT splittable (a file is one task —
    quoted newlines make record boundaries context-dependent), which is
    the operational reason pipelines re-land CSV as parquet on arrival;
    keep multiline text out of delimited interchange or cap file sizes
    at write time (maxRecordsPerFile)."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 300)
    tricky = c.select(
        "c_custkey",
        F.concat(
            F.col("c_name"), F.lit(', Esq. "'), F.col("c_mktsegment"), F.lit('"')
        ).alias("tricky"),
        F.concat(F.lit("line1\nline2:"), F.col("c_name")).alias("multiline"),
    )
    path = scratch_dir("fmt", _sf_tag(sf_dir).replace(".", "_"), "csv_quoting")
    # The WRITER is the operator under test (module contract: sink writes
    # re-run every invocation) — an io.land gate here would freeze the
    # first run's files and let a quoting/escape regression pass silently.
    tricky.write.mode("overwrite").option("header", "true").option(
        "quoteAll", "true"
    ).csv(path)
    return spark.read.csv(
        path,
        header=True,
        multiLine=True,
        schema="c_custkey LONG, tricky STRING, multiline STRING",
    )


_DESCRIBE_ORACLE = """
    SELECT table_name, CAST(t.ordinal AS BIGINT) AS ordinal,
           column_name AS col_name,
           CASE column_type
             WHEN 'BIGINT' THEN 'bigint'
             WHEN 'INTEGER' THEN 'int'
             WHEN 'DOUBLE' THEN 'double'
             WHEN 'FLOAT' THEN 'float'
             WHEN 'VARCHAR' THEN 'string'
             WHEN 'TIMESTAMP' THEN 'timestamp'
             WHEN 'FLOAT[]' THEN 'array<float>'
             ELSE lower(column_type)
           END AS data_type
    FROM (
      SELECT 'events' AS table_name, column_name, column_type,
             row_number() OVER () AS ordinal
      FROM (DESCRIBE events)
      UNION ALL
      SELECT 'embeddings', column_name, column_type, row_number() OVER ()
      FROM (DESCRIBE embeddings)
    ) t
"""


@register("meta_describe_columns", _DESCRIBE_ORACLE)
def meta_describe_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive DESCRIBE TABLE surface, completing the metastore family
    (SHOW TABLES / SHOW PARTITIONS / ANALYZE readback): the events and
    embeddings fixtures are registered and `DESCRIBE TABLE` enumerates
    (col_name, data_type) per column; each DESCRIBE row is joined back
    to the reader schema's ordinal position, so the hash pins name, SQL
    type string, column COUNT and column ORDER — a type regression in
    the reader (e.g. timestamp vs timestamp_ntz inference, float vs
    double embeddings) or a dropped/reordered column all fail the gate.
    The oracle re-derives the same rows from DuckDB's catalog with an
    explicit DuckDB→Spark type-name map (TIMESTAMP maps to plain
    timestamp: load_table normalizes events.ts to session-tz
    TimestampType across fixture vintages — hive_test_spark/io.py —
    so the catalog string is deterministic, not inference-dependent).

    At 100 TB: DESCRIBE is pure metadata — O(columns) from the
    metastore, no file access at all (contrast scan-level schema
    merging, scan_parquet_schema_evolution). Schema-as-data is the
    contract-testing idiom: diff this output across pipeline versions
    to catch silent type drift before it lands in 800k files."""
    parts = []
    for t in ("events", "embeddings"):
        df = load_table(spark, sf_dir, t)
        view = f"hts_desc_{t}_{_sf_tag(sf_dir).replace('.', '_')}"
        df.createOrReplaceTempView(view)
        desc = spark.sql(f"DESCRIBE TABLE {view}").select(
            F.lit(t).alias("table_name"), "col_name", "data_type"
        )
        ordinals = values(
            spark,
            [(f.name, i + 1) for i, f in enumerate(df.schema.fields)],
            "col_name string, ordinal long",
        )
        parts.append(
            desc.join(ordinals, "col_name").select(
                "table_name", "ordinal", "col_name", "data_type"
            )
        )
    return reduce(DataFrame.unionAll, parts)


@register(
    "meta_msck_repair",
    """
    SELECT 'o_orderstatus=' || o_orderstatus AS partition_spec,
           COUNT(*) AS n_rows,
           0 AS specs_before_repair,
           (SELECT COUNT(DISTINCT o_orderstatus) FROM orders)
             AS specs_after_repair
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY partition_spec
    """,
)
def meta_msck_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MSCK REPAIR TABLE [Hive-public: metastore-check repair, a.k.a.
    ALTER TABLE ... RECOVER PARTITIONS — THE Hive operational idiom for
    partitions that landed on the filesystem without going through the
    metastore]. The fixture reproduces the real sequence: an "ingest
    job" writes partition directories with a plain path-addressed
    ``partitionBy`` write (no catalog involvement), an external
    partitioned table is then declared OVER that location — at which
    point ``SHOW PARTITIONS`` is empty (pinned as
    ``specs_before_repair = 0``: the catalog genuinely does not know
    the directories) — and MSCK REPAIR walks the directory tree and
    registers every spec. The verified result joins the recovered specs
    to per-partition row counts read THROUGH the repaired table, so
    both the discovery (spec set) and the data behind each spec are
    hash-checked against the data-only oracle.

    At 100 TB: MSCK is a LISTING operation — cost is O(directories),
    not O(bytes), but on object stores a deep listing of 10^5+ prefixes
    is minutes; production pipelines prefer targeted ``ALTER TABLE ADD
    PARTITION`` per landed spec and reserve full MSCK for disaster
    recovery. Discovery never reads data files: a spec with corrupt
    parquet still registers (correctness of content is the reader's
    job, which is why the join-back to real counts matters here)."""
    tag = _sf_tag(sf_dir).replace(".", "_")
    table = f"hts_msck_meta_{tag}"
    loc = _land_orders_by_status(spark, sf_dir, "meta_msck_orders")
    # Fresh external table over the landed layout: DROP of an external
    # table forgets specs but keeps files, so every invocation exercises
    # the empty-catalog -> repaired transition, not a cached result.
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(
        f"CREATE TABLE {table} "
        "(o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING) "
        f"USING parquet PARTITIONED BY (o_orderstatus) LOCATION '{loc}'"
    )
    specs_before = spark.sql(f"SHOW PARTITIONS {table}").count()
    spark.sql(f"MSCK REPAIR TABLE {table}")
    specs = spark.sql(f"SHOW PARTITIONS {table}").select(
        F.col("partition").alias("partition_spec"),
        F.regexp_extract("partition", "o_orderstatus=(.+)$", 1).alias(
            "o_orderstatus"
        ),
    )
    specs_after = specs.count()
    counts = spark.table(table).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    return (
        specs.join(counts, "o_orderstatus")
        .select(
            "partition_spec",
            "n_rows",
            F.lit(specs_before).cast("int").alias("specs_before_repair"),
            F.lit(specs_after).cast("long").alias("specs_after_repair"),
        )
        .orderBy("partition_spec")
    )


@register(
    "meta_refresh_table",
    """
    SELECT 'before_append' AS phase,
           COUNT(*) AS n_rows,
           ROUND(SUM(o_totalprice), 4) AS total
    FROM orders WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT 'after_refresh',
           COUNT(*),
           ROUND(SUM(o_totalprice), 4)
    FROM orders WHERE o_orderstatus IN ('F', 'O')
    """,
)
def meta_refresh_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REFRESH TABLE [Hive-public: metadata/cache invalidation — the
    operational sibling of MSCK for FILES rather than partitions].
    Spark caches a table's file listing (InMemoryFileIndex) on first
    use; a write that bypasses the catalog (an out-of-band ingest job
    appending files straight to the table directory — exactly how
    landing zones receive data) is INVISIBLE until REFRESH TABLE drops
    that cache. The op runs the full sequence: external table over an
    era-1 layout, a count that populates the file index, an
    out-of-band path-addressed append of era-2 files, REFRESH TABLE,
    and a re-count — both phase counts (and value sums, proving real
    rows flowed, not just file counts) are hash-pinned against the
    source-derived oracle.

    At 100 TB: REFRESH is O(listing), not O(bytes) — but on object
    stores a million-file table listing is minutes and planners hold
    the index per-session, so production bounds staleness with
    spark.sql.metadataCacheTTLSeconds or routes appends through the
    catalog (ADD PARTITION / transactional table formats) instead of
    refresh-after-the-fact."""
    tag = _sf_tag(sf_dir).replace(".", "_")
    table = f"hts_refresh_meta_{tag}"
    loc = scratch_dir("meta", tag, table)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    shutil.rmtree(loc, ignore_errors=True)
    o.filter(F.col("o_orderstatus") == "F").write.mode("overwrite").parquet(loc)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(
        f"CREATE TABLE {table} "
        "(o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING) "
        f"USING parquet LOCATION '{loc}'"
    )
    # Phase-1 snapshot goes to a scratch sink (NOT .collect(): the
    # aggregate must EXECUTE before the out-of-band append lands, but
    # the value stays executor-side — the write is the barrier).
    phase1 = scratch_dir("meta", tag, f"{table}_phase1")
    (
        spark.table(table)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("o_totalprice"), 4).alias("total"),
        )
        .write.mode("overwrite")
        .parquet(phase1)
    )
    # Out-of-band append: files land in the directory, catalog unaware.
    o.filter(F.col("o_orderstatus") == "O").write.mode("append").parquet(loc)
    spark.sql(f"REFRESH TABLE {table}")
    after = spark.table(table).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("o_totalprice"), 4).alias("total"),
    )
    return (
        spark.read.parquet(phase1)
        .select(F.lit("before_append").alias("phase"), "n_rows", "total")
        .unionByName(
            after.select(
                F.lit("after_refresh").alias("phase"), "n_rows", "total"
            )
        )
    )


@register(
    "sink_insert_directory",
    """
    SELECT n_name,
           COUNT(*) AS n_suppliers,
           ROUND(SUM(s_acctbal), 4) AS total_bal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def sink_insert_directory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT OVERWRITE DIRECTORY [Hive-public: the classic HiveQL
    export statement — query results straight to a filesystem path,
    no table object at all; the batch-export idiom feeding downstream
    non-SQL consumers]. Spark parses the same statement with ``USING
    parquet``; the op runs the real SQL text (not a DataFrame
    ``write``), then re-reads the exported directory so the verified
    values flow through the statement's writer AND a fresh reader.

    At 100 TB: the export is a fully distributed write (one file per
    task, same committer as table writes) — the directory form just
    skips catalog registration, so there is no schema contract for
    consumers: production exports either register an external table
    over the path afterwards or ship the schema out-of-band. Prefer
    per-partition subdirectories (partitioned INSERT OVERWRITE) when
    the consumer filters, because a flat export can only be pruned by
    filename convention."""
    for t in ("supplier", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"hts_sink_{t}")
    out = scratch_dir("sink", _sf_tag(sf_dir), "export_nation_bal")
    shutil.rmtree(out, ignore_errors=True)
    spark.sql(
        f"""
        INSERT OVERWRITE DIRECTORY '{out}' USING parquet
        SELECT n_name,
               COUNT(*) AS n_suppliers,
               ROUND(SUM(s_acctbal), 4) AS total_bal
        FROM hts_sink_supplier JOIN hts_sink_nation ON s_nationkey = n_nationkey
        GROUP BY n_name
        """
    )
    return spark.read.parquet(out)


@register(
    "meta_drop_partition",
    """
    SELECT o_orderstatus,
           COUNT(*) AS n_rows,
           (SELECT COUNT(DISTINCT o_orderstatus) - 1 FROM orders)
             AS specs_after_drop
    FROM orders
    WHERE o_orderstatus <> 'P'
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def meta_drop_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE ... DROP PARTITION [Hive-public: partition-level
    retention — the metastore-only delete that makes time-partitioned
    warehouses manageable: dropping a spec detaches the directory from
    the table without touching a byte of data (external table
    semantics)]. The fixture registers all three o_orderstatus specs
    over a landed layout (MSCK), drops the 'P' spec, and reads the
    table back: the remaining per-partition counts plus the post-drop
    spec count are hash-pinned — a reader that still lists the dropped
    directory (stale file index) or a catalog that dropped the wrong
    spec fails the gate. Files stay on disk (pinned by the landed
    copy staying valid across invocations).

    At 100 TB: DROP PARTITION is THE retention primitive — O(1)
    metastore ops per expired day vs rewriting data; pair with
    lifecycle rules that reap the detached directories later.
    Contrast dml_delete_rewrite (row-level, rewrites files): partition
    drop only works when the retention boundary IS the partition
    key — the reason fact tables partition by ingest date."""
    tag = _sf_tag(sf_dir).replace(".", "_")
    table = f"hts_droppart_meta_{tag}"
    loc = _land_orders_by_status(spark, sf_dir, "meta_droppart_orders")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(
        f"CREATE TABLE {table} "
        "(o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING) "
        f"USING parquet PARTITIONED BY (o_orderstatus) LOCATION '{loc}'"
    )
    spark.sql(f"MSCK REPAIR TABLE {table}")
    spark.sql(f"ALTER TABLE {table} DROP IF EXISTS PARTITION (o_orderstatus = 'P')")
    specs_after = spark.sql(f"SHOW PARTITIONS {table}").count()
    return (
        spark.table(table)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            "o_orderstatus",
            "n_rows",
            F.lit(specs_after).cast("long").alias("specs_after_drop"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "meta_add_partition",
    """
    SELECT 'o_orderstatus=' || o_orderstatus AS partition_spec,
           COUNT(*) AS n_rows,
           ROUND(SUM(o_totalprice), 4) AS total,
           (SELECT COUNT(DISTINCT o_orderstatus) FROM orders)
             AS specs_registered
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY partition_spec
    """,
)
def meta_add_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE ... ADD PARTITION [Hive-public: targeted spec
    registration — the production alternative to MSCK that
    meta_msck_repair's docstring prescribes: an ingest job that KNOWS
    which spec it just landed registers exactly that spec, O(1)
    metastore work instead of an O(directories) listing]. The fixture
    declares the external partitioned table over a landed layout and
    registers each spec with an explicit ADD PARTITION statement (no
    MSCK anywhere); the per-partition counts/sums read back through
    the table plus the registered-spec count are hash-pinned — a
    mis-spelled spec registers an empty partition and fails the count,
    the exact failure mode targeted registration must guard.

    At 100 TB: this completes the partition lifecycle triptych —
    ADD PARTITION on land (O(1) per spec), MSCK for disaster recovery
    (O(listing)), DROP PARTITION for retention (O(1)) — all
    metadata-cost, never data-cost. IF NOT EXISTS makes the ingest
    idempotent under retries, which is why the statement form beats
    implicit discovery in pipelines."""
    tag = _sf_tag(sf_dir).replace(".", "_")
    table = f"hts_addpart_meta_{tag}"
    loc = _land_orders_by_status(spark, sf_dir, "meta_addpart_orders")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(
        f"CREATE TABLE {table} "
        "(o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING) "
        f"USING parquet PARTITIONED BY (o_orderstatus) LOCATION '{loc}'"
    )
    # Register exactly the specs present in the data (bounded catalog
    # metadata — |statuses| <= 3): a hardcoded status list would register
    # an empty spec on a fixture slice lacking it and diverge from the
    # oracle's data-derived COUNT(DISTINCT).
    statuses = sorted(
        r[0]
        for r in load_table(spark, sf_dir, "orders")
        .select("o_orderstatus")
        .distinct()
        .collect()
    )
    for status in statuses:
        spark.sql(
            f"ALTER TABLE {table} ADD IF NOT EXISTS "
            f"PARTITION (o_orderstatus = '{status}')"
        )
    specs = spark.sql(f"SHOW PARTITIONS {table}").count()
    return (
        spark.table(table)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("o_totalprice"), 4).alias("total"),
        )
        .select(
            F.concat(F.lit("o_orderstatus="), F.col("o_orderstatus")).alias(
                "partition_spec"
            ),
            "n_rows",
            "total",
            F.lit(specs).cast("long").alias("specs_registered"),
        )
        .orderBy("partition_spec")
    )


_SHOW_CREATE_ORACLE = """
    SELECT * FROM (VALUES
      ('column:o_orderkey', 'bigint'),
      ('column:o_orderstatus', 'string'),
      ('column:o_totalprice', 'double'),
      ('has_location', 'true'),
      ('partitioned_by', 'o_orderstatus'),
      ('provider', 'parquet')
    ) AS t(element, value)
    ORDER BY element
"""


@register("meta_show_create_table", _SHOW_CREATE_ORACLE)
def meta_show_create_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDL readback surface [Hive-public: SHOW CREATE TABLE — the
    round-trip every migration/backup tool relies on: the emitted DDL
    must faithfully carry schema, format, partitioning, and location].
    The shared external partitioned orders table is created through the
    catalog, then SHOW CREATE TABLE's single DDL string is parsed back
    into (element, value) facts — column types, USING provider,
    PARTITIONED BY column, LOCATION presence — and hash-pinned against
    the expected literals. A regression in any of the four DDL clauses
    (type mangling, provider drop, lost partition spec, missing
    location) flips a row.

    At 100 TB: pure catalog metadata — no data scan at all; the only
    data pass is the one-time exhibit-table write shared with
    meta_show_partitions. Parsing happens on a 1-row DataFrame via
    JVM regexp (no driver-side string handling beyond the plan)."""
    table = _ensure_part_meta_table(spark, sf_dir)
    ddl = spark.sql(f"SHOW CREATE TABLE {table}")
    (col,) = ddl.columns
    stmt = F.col(col)

    def _fact(element: str, value) -> F.Column:  # type: ignore[name-defined]
        return F.struct(
            F.lit(element).alias("element"), value.alias("value")
        )

    facts = F.array(
        _fact(
            "column:o_orderkey",
            F.lower(F.regexp_extract(stmt, r"o_orderkey (\w+)", 1)),
        ),
        _fact(
            "column:o_orderstatus",
            F.lower(F.regexp_extract(stmt, r"o_orderstatus (\w+)", 1)),
        ),
        _fact(
            "column:o_totalprice",
            F.lower(F.regexp_extract(stmt, r"o_totalprice (\w+)", 1)),
        ),
        _fact("has_location", stmt.contains("LOCATION").cast("string")),
        _fact(
            "partitioned_by",
            F.lower(F.regexp_extract(stmt, r"PARTITIONED BY \((\w+)", 1)),
        ),
        _fact("provider", F.lower(F.regexp_extract(stmt, r"USING (\w+)", 1))),
    )
    return (
        ddl.select(F.explode(facts).alias("f"))
        .select("f.element", "f.value")
        .orderBy("element")
    )


@register(
    "dml_exchange_partition",
    """
    WITH p AS (
      SELECT COUNT(*) AS n_p, ROUND(SUM(o_totalprice), 4) AS total_p
      FROM orders WHERE o_orderstatus = 'P'
    )
    SELECT 'source' AS tbl, 2 AS specs_after,
           CAST(0 AS BIGINT) AS p_rows_visible,
           CAST(0.0 AS DOUBLE) AS p_total_visible
    FROM p
    UNION ALL
    SELECT 'target', 1, CAST(n_p AS BIGINT), total_p FROM p
    ORDER BY tbl
    """,
)
def dml_exchange_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE ... EXCHANGE PARTITION [Hive-public: atomically move
    a partition from a staging table into a curated table — the
    land-validate-publish pattern]. Spark has no EXCHANGE statement;
    the engine-native equivalent is exactly what Hive does under the
    hood minus the file move: register the partition in the TARGET
    with a location pointing at the staged directory, then drop the
    spec from the SOURCE — two O(1) metastore operations, zero data
    rewritten (at 100 TB re-pointing beats moving: same atomicity at
    the metastore, no I/O). The verified scorecard reads BOTH tables
    after the exchange: the source no longer serves the 'P' rows, the
    target serves all of them, and the spec counts prove the catalog
    moved with the data.

    The staged layout is landed once per set of fixture files
    (``io.land``); the two catalog tables are re-declared each run so the op is
    idempotent in any fresh session — the external-path idiom."""
    tag = _sf_tag(sf_dir).replace(".", "_")
    src, tgt = f"hts_xchg_src_{tag}", f"hts_xchg_tgt_{tag}"
    loc = _land_orders_by_status(spark, sf_dir, "meta_xchg_staging")
    tgt_loc = scratch_dir("meta", tag, "xchg_curated")
    os.makedirs(tgt_loc, exist_ok=True)
    ddl = (
        "(o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING) "
        "USING parquet PARTITIONED BY (o_orderstatus)"
    )
    spark.sql(f"DROP TABLE IF EXISTS {src}")
    spark.sql(f"DROP TABLE IF EXISTS {tgt}")
    spark.sql(f"CREATE TABLE {src} {ddl} LOCATION '{loc}'")
    spark.sql(f"CREATE TABLE {tgt} {ddl} LOCATION '{tgt_loc}'")
    for status in ("F", "O", "P"):
        spark.sql(
            f"ALTER TABLE {src} ADD IF NOT EXISTS "
            f"PARTITION (o_orderstatus = '{status}')"
        )
    # The exchange: point the target at the staged partition directory,
    # then retire the spec from the source. Two metastore ops, no I/O.
    spark.sql(
        f"ALTER TABLE {tgt} ADD PARTITION (o_orderstatus = 'P') "
        f"LOCATION '{loc}/o_orderstatus=P'"
    )
    spark.sql(f"ALTER TABLE {src} DROP IF EXISTS PARTITION (o_orderstatus = 'P')")
    src_specs = spark.sql(f"SHOW PARTITIONS {src}").count()
    tgt_specs = spark.sql(f"SHOW PARTITIONS {tgt}").count()
    p_src = spark.table(src).filter(F.col("o_orderstatus") == "P")
    p_tgt = spark.table(tgt).filter(F.col("o_orderstatus") == "P")
    src_row = p_src.agg(
        F.lit("source").alias("tbl"),
        F.lit(src_specs).cast("int").alias("specs_after"),
        F.count(F.lit(1)).alias("p_rows_visible"),
        F.coalesce(F.round(F.sum("o_totalprice"), 4), F.lit(0.0)).alias(
            "p_total_visible"
        ),
    )
    tgt_row = p_tgt.agg(
        F.lit("target").alias("tbl"),
        F.lit(tgt_specs).cast("int").alias("specs_after"),
        F.count(F.lit(1)).alias("p_rows_visible"),
        F.coalesce(F.round(F.sum("o_totalprice"), 4), F.lit(0.0)).alias(
            "p_total_visible"
        ),
    )
    return src_row.unionByName(tgt_row).orderBy("tbl")


# "owner" is reserved in Spark's catalog; use a steward tag instead.
_TBLPROPS = (("steward", "pipeline"), ("quality", "gold"), ("retention_days", "90"))

_TBLPROPS_ORACLE = """
    SELECT * FROM (VALUES
      ('quality', 'gold'),
      ('retention_days', '90'),
      ('steward', 'pipeline')
    ) AS t(property, value)
    ORDER BY property
"""


@register("meta_tblproperties", _TBLPROPS_ORACLE)
def meta_tblproperties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-properties round-trip [Hive-public: ALTER TABLE SET
    TBLPROPERTIES / COMMENT and SHOW TBLPROPERTIES — the metadata
    key-value surface that carries ownership, quality tier, retention
    policy, and every governance tag a catalog crawler reads]. The
    shared external exhibit table gets three governance properties
    set through DDL, then SHOW TBLPROPERTIES reads them back and the
    (property, value) rows hash-pin against the exact literals — a
    dropped or mangled property fails the hash, which is precisely the
    regression a catalog-dependent governance pipeline fears.

    At 100 TB: pure catalog metadata, zero data touched; properties
    are the standard channel for table-level contracts (retention
    enforcement jobs, cost attribution, PII classification) because
    they travel with the table through SHOW CREATE TABLE and
    metastore replication."""
    table = _ensure_part_meta_table(spark, sf_dir)
    spark.sql(
        f"ALTER TABLE {table} SET TBLPROPERTIES ("
        + ", ".join(f"'{k}' = '{v}'" for k, v in _TBLPROPS)
        + ")"
    )
    props = spark.sql(f"SHOW TBLPROPERTIES {table}").select(
        F.col("key").alias("property"), "value"
    )
    wanted = [k for k, _ in _TBLPROPS]
    return props.filter(F.col("property").isin(wanted)).orderBy("property")


# SHOW FUNCTIONS probes: one representative per Hive function family
# (string, XML/xpath, approx-percentile UDAF, text UDF, UDTF).
_FN_PROBES = ("concat", "percentile_approx", "sentences", "stack", "xpath")

_SHOW_FUNCTIONS_ORACLE = """
    SELECT * FROM (VALUES
      ('desc:class_is_catalyst', 'true'),
      ('desc:function', 'sentences'),
      ('desc:usage_mentions_name', 'true'),
      ('listed:concat', 'true'),
      ('listed:percentile_approx', 'true'),
      ('listed:sentences', 'true'),
      ('listed:stack', 'true'),
      ('listed:xpath', 'true'),
      ('user_function_listed', 'true'),
      ('xpath_family_size', '9')
    ) AS t(element, value)
    ORDER BY element
"""


@register("meta_show_functions", _SHOW_FUNCTIONS_ORACLE)
def meta_show_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Function-catalog introspection [Hive-public: SHOW FUNCTIONS and
    DESCRIBE FUNCTION [EXTENDED] — the LanguageManual's discovery verbs;
    the last metastore introspection family not covered by meta_*
    (tables/partitions/columns/stats/DDL/properties all are)]. The
    catalog's full function listing is probed for one representative
    per Hive family (string/xpath/UDAF/text/UDTF) via an outer join of
    a literal expected frame onto SHOW FUNCTIONS — a missing builtin
    turns its `listed:` row false and fails the hash. The xpath family
    is counted through SHOW FUNCTIONS LIKE 'xpath*' (Hive ships exactly
    9: xpath + 8 typed extractors). DESCRIBE FUNCTION EXTENDED
    sentences is parsed back into facts (name echoes, implementing
    class is a Catalyst expression, usage text mentions the function) —
    the same readback a SQL IDE's autocomplete relies on. A
    session-registered SQL function (CREATE TEMPORARY FUNCTION surface)
    must appear in SHOW USER FUNCTIONS, proving the catalog separates
    user scope from builtins.

    At 100 TB: pure catalog metadata — zero data scanned; the listing
    is a driver-local catalog enumeration (hundreds of rows) shipped
    through ordinary DataFrames so the facts still flow JVM-side."""
    # Hive's CREATE TEMPORARY FUNCTION takes a Java class; Spark's
    # engine-native user-function surface is the SQL macro form
    # (CREATE TEMPORARY FUNCTION ... RETURNS — fn_sql_macro's subject),
    # which lands in the same user scope of the function catalog.
    # SHOW runs when spark.sql is called, so the listing keeps the
    # probe after the block drops it.
    with temp_functions(spark, "hts_fn_probe") as (fn_probe,):
        spark.sql(
            f"CREATE TEMPORARY FUNCTION {fn_probe}(x DOUBLE) "
            "RETURNS DOUBLE RETURN x * 2"
        )
        user_listing = spark.sql("SHOW USER FUNCTIONS")
    listing = spark.sql("SHOW FUNCTIONS").select(
        F.lower("function").alias("fn")
    )
    expected = values(spark, [(f,) for f in _FN_PROBES], "probe string")
    listed = (
        expected
        .join(listing, F.col("probe") == F.col("fn"), "left")
        .select(
            F.concat(F.lit("listed:"), F.col("probe")).alias("element"),
            F.col("fn").isNotNull().cast("string").alias("value"),
        )
    )
    xfam = spark.sql("SHOW FUNCTIONS LIKE 'xpath*'").agg(
        F.count(F.lit(1)).cast("string").alias("value")
    ).select(F.lit("xpath_family_size").alias("element"), "value")
    userfn = user_listing.agg(
        F.max(
            (F.lower("function") == fn_probe).cast("int")
        ).cast("boolean").cast("string").alias("value")
    ).select(F.lit("user_function_listed").alias("element"), "value")
    desc = spark.sql("DESCRIBE FUNCTION EXTENDED sentences")
    (dcol,) = desc.columns
    facts = desc.agg(
        F.max(F.regexp_extract(dcol, r"^Function: (\w+)$", 1)).alias("fname"),
        F.max(
            F.col(dcol).startswith(
                "Class: org.apache.spark.sql.catalyst.expressions."
            ).cast("int")
        ).alias("is_catalyst"),
        F.max(
            (
                F.col(dcol).startswith("Usage:")
                & F.col(dcol).contains("sentences(")
            ).cast("int")
        ).alias("usage_ok"),
    )
    dfacts = facts.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("desc:function").alias("element"),
                    F.col("fname").alias("value"),
                ),
                F.struct(
                    F.lit("desc:class_is_catalyst").alias("element"),
                    F.col("is_catalyst").cast("boolean").cast("string").alias("value"),
                ),
                F.struct(
                    F.lit("desc:usage_mentions_name").alias("element"),
                    F.col("usage_ok").cast("boolean").cast("string").alias("value"),
                ),
            )
        ).alias("f")
    ).select("f.element", "f.value")
    return (
        listed.unionByName(xfam)
        .unionByName(userfn)
        .unionByName(dfacts)
        .orderBy("element")
    )


@register(
    "sink_export_import",
    """
    WITH src AS (
      SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
    )
    SELECT * FROM (VALUES
      ('partition_specs_imported',
         (SELECT COUNT(DISTINCT o_orderstatus) FROM src)),
      ('rows_exported', (SELECT COUNT(*) FROM src)),
      ('rows_extra_after_import', CAST(0 AS BIGINT)),
      ('rows_imported', (SELECT COUNT(*) FROM src)),
      ('rows_missing_after_import', CAST(0 AS BIGINT)),
      ('schema_carried', CAST(1 AS BIGINT))
    ) AS t(metric, value)
    ORDER BY metric
    """,
)
def sink_export_import(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPORT TABLE / IMPORT TABLE replication round-trip [Hive-public:
    the warehouse-to-warehouse copy verbs — EXPORT writes the table's
    data files plus a `_metadata` descriptor, IMPORT re-creates the
    table from them on the other side]. Spark has no EXPORT/IMPORT
    statements, so this is the engine-native twin with the same
    contract: (1) EXPORT = a distributed partitioned write of the
    table's data plus a metadata descriptor (schema JSON, partition
    columns, provider) alongside it; (2) IMPORT = copy the export tree
    to the destination, re-create the table FROM THE CARRIED METADATA
    ONLY (never re-inferring from data files), MSCK-register its
    partitions. The verified scorecard proves value-level losslessness
    distributively: row counts both sides, EXCEPT-based missing/extra
    probes (0 ⇔ multiset equality of the full projection), schema
    equality between the imported table and the exported descriptor,
    and partition-spec carry-over.

    At 100 TB: the export write and both EXCEPT probes are fully
    distributed (the EXCEPT pair is one hash aggregate family on the
    full row); only the descriptor (a few KB) and the file copy are
    driver-adjacent here — at scale the copy step IS distcp/object-
    store replication, byte-identical semantics. The metadata file is
    the schema contract that makes the landed directory re-importable
    by a cold catalog — exactly why Hive's EXPORT writes `_metadata`
    rather than relying on self-describing data files alone."""
    import json

    tag = _sf_tag(sf_dir).replace(".", "_")
    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    export_dir = scratch_dir("repl", tag, "export_orders")
    import_dir = scratch_dir("repl", tag, "import_orders")
    shutil.rmtree(export_dir, ignore_errors=True)
    shutil.rmtree(import_dir, ignore_errors=True)
    data_dir = os.path.join(export_dir, "data")
    # EXPORT: distributed partitioned write + metadata descriptor.
    src.write.mode("overwrite").partitionBy("o_orderstatus").parquet(data_dir)
    meta = {
        "schema": json.loads(src.schema.json()),
        "partition_columns": ["o_orderstatus"],
        "provider": "parquet",
        "table_properties": {"exported_by": "hive_test_spark"},
    }
    with open(os.path.join(export_dir, "_metadata"), "w") as fh:
        json.dump(meta, fh)
    # IMPORT: replicate the tree (at scale: distcp), then re-create the
    # table from the carried descriptor only.
    shutil.copytree(export_dir, import_dir)
    with open(os.path.join(import_dir, "_metadata")) as fh:
        carried = json.load(fh)
    from pyspark.sql.types import StructType

    carried_schema = StructType.fromJson(carried["schema"])
    part_cols = carried["partition_columns"]
    data_cols = [f for f in carried_schema.fields if f.name not in part_cols]
    ddl_cols = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in carried_schema.fields
    )
    table = f"hts_import_orders_{tag}"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(
        f"CREATE TABLE {table} ({ddl_cols}) USING {carried['provider']} "
        f"PARTITIONED BY ({', '.join(part_cols)}) "
        f"LOCATION '{os.path.join(import_dir, 'data')}'"
    )
    spark.sql(f"MSCK REPAIR TABLE {table}")
    imp = spark.table(table).select(*[f.name for f in carried_schema.fields])
    schema_carried = int(
        [(f.name, f.dataType.simpleString()) for f in imp.schema.fields]
        == [
            (f.name, f.dataType.simpleString())
            for f in carried_schema.fields
        ]
    )
    specs = spark.sql(f"SHOW PARTITIONS {table}").agg(
        F.count(F.lit(1)).alias("value")
    ).select(F.lit("partition_specs_imported").alias("metric"), "value")

    def _metric(name: str, df: DataFrame) -> DataFrame:
        return df.select(F.lit(name).alias("metric"), F.col("value"))

    n_src = _metric("rows_exported", src.agg(F.count(F.lit(1)).alias("value")))
    n_imp = _metric("rows_imported", imp.agg(F.count(F.lit(1)).alias("value")))
    missing = _metric(
        "rows_missing_after_import",
        src.exceptAll(imp).agg(F.count(F.lit(1)).alias("value")),
    )
    extra = _metric(
        "rows_extra_after_import",
        imp.exceptAll(src).agg(F.count(F.lit(1)).alias("value")),
    )
    schema_row = spark.range(1).select(
        F.lit("schema_carried").alias("metric"),
        F.lit(schema_carried).cast("long").alias("value"),
    )
    return (
        specs.unionByName(n_src)
        .unionByName(n_imp)
        .unionByName(missing)
        .unionByName(extra)
        .unionByName(schema_row)
        .orderBy("metric")
    )


@register(
    "meta_materialized_view",
    """
    SELECT strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m') AS month,
           o_orderpriority,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 4) AS revenue
    FROM orders
    GROUP BY 1, 2
    ORDER BY month, o_orderpriority
    """,
)
def meta_materialized_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE MATERIALIZED VIEW surface twin [Hive-public: Hive 3.x's
    CREATE MATERIALIZED VIEW + automatic query rewrite — the optimizer
    answers matching aggregates from the stored MV instead of the fact
    table]. Spark has no MV DDL, so this is the engine-native twin of
    both halves: (1) MATERIALIZE — persist the MV as an external
    parquet table holding COMBINABLE partials (count + sum per
    (day, priority); the scale_incremental_agg maintenance story keeps
    it fresh); (2) REWRITE — answer a COARSER rollup (monthly revenue
    by priority) purely by re-aggregating the MV's partials, exactly
    the algebraic rewrite Hive's planner performs automatically. The
    oracle recomputes the answer FROM THE BASE TABLE, so a hash match
    proves the rewrite is semantics-preserving — the MV contract.
    tests/test_plans.py asserts the returned plan scans the MV
    location, never the base orders parquet (the rewrite really
    happened).

    At 100 TB: the MV holds |days × priorities| rows — orders of
    magnitude below the fact table — so every dashboard-style rollup
    it can answer skips the fact scan entirely; partials must be
    COMMUTATIVE MONOIDS (count/sum/min/max — never avg directly) so
    coarser grains re-aggregate losslessly, which is why the MV stores
    n+sum and derives nothing. Refresh rides partition overwrite of
    changed days only (dynamic partition overwrite), the
    scale_incremental_agg pattern."""
    tag = _sf_tag(sf_dir).replace(".", "_")
    mv = f"hts_mv_daily_rev_{tag}"
    if not spark.catalog.tableExists(mv):
        loc = scratch_dir("meta", tag, mv)
        shutil.rmtree(loc, ignore_errors=True)
        (
            load_table(spark, sf_dir, "orders")
            .groupBy(
                F.to_date("o_orderdate").alias("day"), "o_orderpriority"
            )
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("o_totalprice").alias("sum_price"),
            )
            .write.option("path", loc)
            .mode("overwrite")
            .saveAsTable(mv)
        )
    return (
        spark.table(mv)
        .groupBy(
            F.date_format("day", "yyyy-MM").alias("month"), "o_orderpriority"
        )
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.round(F.sum("sum_price"), 4).alias("revenue"),
        )
        .orderBy("month", "o_orderpriority")
    )


@register(
    "meta_show_views",
    """
    SELECT 'listed:hts_v_open_orders' AS element, 'true' AS value
    UNION ALL SELECT 'listed:hts_v_rev_by_nation', 'true'
    UNION ALL SELECT 'temporary:hts_v_open_orders', 'true'
    UNION ALL SELECT 'temporary:hts_v_rev_by_nation', 'true'
    UNION ALL
    SELECT 'rows_through_open_orders',
           CAST(COUNT(*) AS VARCHAR) FROM orders WHERE o_orderstatus = 'O'
    UNION ALL
    SELECT 'rows_through_rev_by_nation',
           CAST(COUNT(DISTINCT n_name) AS VARCHAR)
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    ORDER BY element
    """,
)
def meta_show_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View-catalog introspection [Hive-public: SHOW VIEWS — the DDL
    LanguageManual's view enumeration verb, completing the SHOW family
    (tables/partitions/functions/create/tblproperties all covered)].
    Two session views are registered — a filter view and a join+agg
    view — then SHOW VIEWS is probed for their presence and temp-ness,
    and a count QUERIES EACH VIEW (not its base tables), so the fact
    rows prove both the catalog listing and that the views actually
    resolve through the analyzer to the right base plans: the oracle
    recomputes both counts from base tables directly.

    At 100 TB: views are pure catalog metadata (a stored logical plan)
    — zero storage, zero freshness lag, full predicate/column pushdown
    THROUGH the view at query time; contrast meta_materialized_view,
    which trades storage + refresh for skipping the fact scan. SHOW
    VIEWS itself is a driver-local catalog enumeration."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o.filter(F.col("o_orderstatus") == "O").createOrReplaceTempView(
        "hts_v_open_orders"
    )
    (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.round(F.sum("c_acctbal"), 4).alias("total_bal"))
        .createOrReplaceTempView("hts_v_rev_by_nation")
    )
    views = spark.sql("SHOW VIEWS").select(
        F.col("viewName").alias("vn"), F.col("isTemporary").alias("tmp")
    )
    expected = values(
        spark, [("hts_v_open_orders",), ("hts_v_rev_by_nation",)], "name string"
    )
    probed = expected.join(
        views, F.col("name") == F.col("vn"), "left"
    )
    listed = probed.select(
        F.concat(F.lit("listed:"), F.col("name")).alias("element"),
        F.col("vn").isNotNull().cast("string").alias("value"),
    )
    temporary = probed.select(
        F.concat(F.lit("temporary:"), F.col("name")).alias("element"),
        F.coalesce(F.col("tmp"), F.lit(False)).cast("string").alias("value"),
    )
    through_open = spark.table("hts_v_open_orders").agg(
        F.count(F.lit(1)).cast("string").alias("value")
    ).select(F.lit("rows_through_open_orders").alias("element"), "value")
    through_rev = spark.table("hts_v_rev_by_nation").agg(
        F.count(F.lit(1)).cast("string").alias("value")
    ).select(F.lit("rows_through_rev_by_nation").alias("element"), "value")
    return (
        listed.unionByName(temporary)
        .unionByName(through_open)
        .unionByName(through_rev)
        .orderBy("element")
    )


_EXPLAIN_ORACLE = """
    SELECT * FROM (VALUES
      ('aggregate_is_two_phase', 'true'),
      ('broadcast_hash_join', 'true'),
      ('equality_filter_pushed_to_scan', 'true'),
      ('n_parquet_scans', '2'),
      ('orders_scan_pruned_to_one_column', 'true')
    ) AS t(element, value)
    ORDER BY element
"""


@register("meta_explain_plan", _EXPLAIN_ORACLE)
def meta_explain_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPLAIN surface [Hive-public: EXPLAIN [EXTENDED|FORMATTED] —
    the LanguageManual's plan-introspection verb, the tool every
    warehouse engineer reads before blessing a query]. A canonical
    fact-dim join (orders ⋈ filtered customer, grouped count) runs
    through the SQL-text EXPLAIN FORMATTED statement, and the emitted
    plan is parsed back — JVM-side regexp over the 1-row plan string —
    into the facts the 100 TB checklist cares about: the selective
    dim-side predicate reached the parquet scan as a PushedFilter
    (EqualTo, not just a post-scan Filter), the join planned as a
    BroadcastHashJoin, the fact scan pruned to exactly its single
    join column, both scans are parquet, and the aggregate is the
    two-phase partial/final shape. Each fact is a contract: a Spark
    upgrade that regresses pushdown or broadcast planning flips a row
    and fails the hash.

    At 100 TB: EXPLAIN is free (no execution) — this op IS the
    pre-flight gate pattern: assert plan facts before launching a
    cluster-scale job; tools/audit_plans.py runs the same checks
    fleet-wide over the registry."""
    for t in ("orders", "customer"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"hts_exp_{t}")
    ex = spark.sql(
        "EXPLAIN FORMATTED "
        "SELECT c_mktsegment, COUNT(*) AS n "
        "FROM hts_exp_orders JOIN hts_exp_customer ON o_custkey = c_custkey "
        "WHERE c_mktsegment = 'BUILDING' GROUP BY c_mktsegment"
    )
    (col,) = ex.columns
    plan = F.col(col)
    facts = F.array(
        F.struct(
            F.lit("aggregate_is_two_phase").alias("element"),
            plan.contains("partial_count").cast("string").alias("value"),
        ),
        F.struct(
            F.lit("broadcast_hash_join").alias("element"),
            plan.contains("BroadcastHashJoin").cast("string").alias("value"),
        ),
        F.struct(
            F.lit("equality_filter_pushed_to_scan").alias("element"),
            plan.rlike(
                r"PushedFilters: \[[^\]]*EqualTo\(c_mktsegment,BUILDING\)"
            ).cast("string").alias("value"),
        ),
        F.struct(
            F.lit("n_parquet_scans").alias("element"),
            # Count numbered detail headers only — each scan also appears
            # once more in the indented tree summary.
            F.regexp_count(plan, F.lit(r"\(\d+\) Scan parquet"))
            .cast("string")
            .alias("value"),
        ),
        F.struct(
            F.lit("orders_scan_pruned_to_one_column").alias("element"),
            plan.contains("ReadSchema: struct<o_custkey:bigint>")
            .cast("string")
            .alias("value"),
        ),
    )
    return (
        ex.select(F.explode(facts).alias("f"))
        .select("f.element", "f.value")
        .orderBy("element")
    )


@register(
    "sink_hive_textfile",
    """
    SELECT c_mktsegment,
           COUNT(*) AS n_rows,
           ROUND(SUM(c_acctbal), 4) AS total_bal,
           CAST(SUM(LENGTH(c_name)) AS BIGINT) AS name_chars
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def sink_hive_textfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-default TEXTFILE round-trip [Hive-public: STORED AS
    TEXTFILE with LazySimpleSerDe and its famous Ctrl-A (\\x01) field
    delimiter — the format every legacy Hive table ever created
    without a STORED AS clause landed in]. The customer projection is
    written as \\x01-delimited text through the distributed CSV writer
    (sep='\\x01', no header, no quoting needed on this charset), then
    re-read with an EXPLICIT schema — the LazySimpleSerDe contract:
    text carries no types, the reader's schema declaration is the only
    truth. The verified aggregate flows through writer AND reader, so
    a delimiter mangling, a double that fails to round-trip through
    its decimal string (Spark writes shortest-round-trip reprs), or a
    type mis-declaration all flip the hash. String lengths are summed
    too, pinning byte-level field integrity, not just numerics.

    At 100 TB: TEXTFILE is the INTEROP format, not the analytics one —
    no column pruning, no predicate pushdown, no encoding, whole-row
    parse on every read (the plan shows a full-width scan, vs the
    parquet scans' pruned ReadSchema everywhere else in this repo);
    the round-trip exhibit exists because real migrations must read
    billions of legacy ^A rows exactly once — straight into parquet —
    and getting the SerDe contract wrong silently corrupts every
    downstream join."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )
    path = scratch_dir("sink", _sf_tag(sf_dir), "customer_textfile")
    (
        c.write.mode("overwrite")
        .option("sep", "\x01")
        .option("header", False)
        .csv(path)
    )
    back = (
        spark.read.schema(
            "c_custkey BIGINT, c_name STRING, c_mktsegment STRING, "
            "c_acctbal DOUBLE"
        )
        .option("sep", "\x01")
        .option("header", False)
        .csv(path)
    )
    return (
        back.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("c_acctbal"), 4).alias("total_bal"),
            F.sum(F.length("c_name")).cast("bigint").alias("name_chars"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "meta_cache_table",
    """
    SELECT 'cached' AS phase, TRUE AS was_cached,
           COUNT(*) AS n_rows,
           ROUND(SUM(l_extendedprice), 4) AS total
    FROM lineitem WHERE l_returnflag = 'R'
    UNION ALL
    SELECT 'uncached', FALSE,
           COUNT(*),
           ROUND(SUM(l_extendedprice), 4)
    FROM lineitem WHERE l_returnflag = 'R'
    """,
)
def meta_cache_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CACHE TABLE / UNCACHE TABLE [Spark-public SQL surface; the
    engine-managed twin of Hive's hot-table pinning]. The op runs the
    full verb lifecycle: CACHE TABLE (eager — materializes the view
    into the block manager before returning), a catalog
    ``isCached`` probe, an aggregate executed while cached (written to
    a scratch sink as the execution barrier, same discipline as
    meta_refresh_table), UNCACHE TABLE, a second probe, and the same
    aggregate re-executed against the de-pinned source. Both phases'
    values are hash-pinned — identical by definition, which is exactly
    the contract: caching must never change results — and the
    was_cached booleans come from the live catalog, so a silently
    ignored CACHE statement fails the hash.

    At 100 TB: CACHE TABLE pins the columnar-deserialized view across
    the cluster's storage memory — reserve it for dimensions and hot
    slices that many queries re-scan (a full fact-table cache evicts
    itself uselessly); prefer LAZY for wide tables so materialization
    rides the first real query instead of a blocking scan; and always
    UNCACHE on pipeline exit — an orphaned cache holds executor memory
    for the session's lifetime (this repo's cache-hygiene rule)."""
    tag = _sf_tag(sf_dir).replace(".", "_")
    view = f"hts_cache_meta_{tag}"
    load_table(spark, sf_dir, "lineitem").select(
        "l_extendedprice", "l_returnflag"
    ).filter(F.col("l_returnflag") == "R").createOrReplaceTempView(view)
    agg = lambda: spark.table(view).agg(  # noqa: E731
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_extendedprice"), 4).alias("total"),
    )
    try:
        spark.sql(f"CACHE TABLE {view}")
        was_cached = bool(spark.catalog.isCached(view))
        phase1 = scratch_dir("meta", tag, f"{view}_cached_phase")
        agg().write.mode("overwrite").parquet(phase1)
    finally:
        # The de-pin must happen even on a failed probe/write — an
        # orphaned cache entry would hold storage memory session-wide.
        spark.sql(f"UNCACHE TABLE IF EXISTS {view}")
    still_cached = bool(spark.catalog.isCached(view))
    return (
        spark.read.parquet(phase1)
        .select(
            F.lit("cached").alias("phase"),
            F.lit(was_cached).alias("was_cached"),
            "n_rows",
            "total",
        )
        .unionByName(
            agg().select(
                F.lit("uncached").alias("phase"),
                F.lit(still_cached).alias("was_cached"),
                "n_rows",
                "total",
            )
        )
    )


_DB_LIFECYCLE_ORACLE = """
    SELECT 'db_listed_after_create' AS element, 'true' AS value
    UNION ALL SELECT 'db_comment', 'governance boundary: curated zone'
    UNION ALL SELECT 'current_db_is_target_after_use', 'true'
    UNION ALL SELECT 'n_tables_in_db', '1'
    UNION ALL SELECT 'table_rowcount',
      CAST((SELECT COUNT(*) FROM customer WHERE c_custkey % 10 = 0)
           AS VARCHAR)
    UNION ALL SELECT 'db_listed_after_drop', 'false'
    UNION ALL SELECT 'current_db_restored', 'true'
"""


@register("meta_database_lifecycle", _DB_LIFECYCLE_ORACLE)
def meta_database_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Database/schema lifecycle verbs [Hive-public: CREATE DATABASE ...
    COMMENT, SHOW DATABASES, USE db, db-qualified tables, DROP DATABASE
    CASCADE — the namespace layer of the metastore, completing the verb
    families beside SHOW TABLES/VIEWS/PARTITIONS/FUNCTIONS and
    TBLPROPERTIES]. The op runs the full lifecycle: CREATE DATABASE
    with a COMMENT, catalog-listing probe (SHOW DATABASES LIKE), USE +
    current_database() probe, DESCRIBE DATABASE comment readback, one
    external table created INSIDE the database (db-qualified name,
    external-path idiom), SHOW TABLES IN db count, then USE default +
    DROP DATABASE CASCADE and a post-drop listing probe. Every phase
    emits a hash-pinned (element, value) fact — a silently ignored
    CREATE, a USE that doesn't switch, or a CASCADE that leaves the
    namespace listed all flip a row. The one DATA fact (table_rowcount)
    flows distributed from a path-based re-read of the table's files
    (catalog-independent, so the already-dropped catalog entry cannot
    poison lazy execution); catalog probes are O(1) driver-side
    metadata, the meta_cache_table discipline.

    At 100 TB: databases are pure metastore namespacing — zero data
    movement at any scale; the operational content is the teardown
    contract (CASCADE drops REGISTRATIONS; external table data files
    survive, exactly like Hive EXTERNAL semantics — this op's files
    stay in scratch after the drop, proving the external contract) and
    the name-scoping that SHOW TABLES LIKE prefix hacks approximate
    without it (see meta_show_tables)."""
    tag = _sf_tag(sf_dir).replace(".", "_")
    db = f"hts_db_{tag}"
    comment = "governance boundary: curated zone"
    spark.sql("USE default")
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    loc = scratch_dir("meta", tag, "db_cust_slice")
    try:
        spark.sql(f"CREATE DATABASE {db} COMMENT '{comment}'")
        listed_after_create = (
            spark.sql(f"SHOW DATABASES LIKE '{db}'").count() == 1
        )
        spark.sql(f"USE {db}")
        current_is_target = (
            spark.sql("SELECT current_database() AS db").first()["db"] == db
        )
        desc = {
            r["info_name"]: r["info_value"]
            for r in spark.sql(f"DESCRIBE DATABASE {db}").collect()
        }
        db_comment = desc.get("Comment", "")
        shutil.rmtree(loc, ignore_errors=True)
        (
            load_table(spark, sf_dir, "customer")
            .filter(F.col("c_custkey") % 10 == 0)
            .select("c_custkey", "c_mktsegment")
            .write.option("path", loc)
            .mode("overwrite")
            .saveAsTable(f"{db}.cust_slice")
        )
        # SHOW TABLES also lists session temp views regardless of the
        # database qualifier — count only the db's own (non-temporary)
        # tables so the fact is independent of session history.
        n_tables = (
            spark.sql(f"SHOW TABLES IN {db}")
            .filter(~F.col("isTemporary"))
            .count()
        )
    finally:
        spark.sql("USE default")
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    listed_after_drop = spark.sql(f"SHOW DATABASES LIKE '{db}'").count() > 0
    current_restored = (
        spark.sql("SELECT current_database() AS db").first()["db"] == "default"
    )

    def fact(element: str, value) -> DataFrame:
        v = str(value).lower() if isinstance(value, bool) else str(value)
        return spark.range(1).select(
            F.lit(element).alias("element"), F.lit(v).alias("value")
        )

    facts = (
        fact("db_listed_after_create", listed_after_create)
        .unionByName(fact("db_comment", db_comment))
        .unionByName(fact("current_db_is_target_after_use", current_is_target))
        .unionByName(fact("n_tables_in_db", n_tables))
        .unionByName(fact("db_listed_after_drop", listed_after_drop))
        .unionByName(fact("current_db_restored", current_restored))
    )
    rowcount = (
        spark.read.parquet(loc)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("table_rowcount").alias("element"),
            F.col("n").cast("string").alias("value"),
        )
    )
    return facts.unionByName(rowcount)
