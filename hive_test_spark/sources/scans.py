"""SURVEY.md §2.A (read side) — scans over parquet/CSV/JSON/ORC + views.

Reference surface: Hive storage handlers & SerDes (TextFile, JsonSerDe,
ORC, Parquet) [Hive-public] (reference checkout empty — SURVEY.md §0.1).

The fixtures ship parquet only, so each scan first lands the format from
the parquet source *with a distributed Spark write* through
``io.land`` (written once per set of fixture files), then reads it
back through the format's own reader — both legs exercise the real
connector code path. The DuckDB oracle reads the original parquet view;
the round-trip must therefore be value-exact.

Scale notes (100 TB): all readers here are splittable, schema-explicit
(no inference job), and support predicate/column pushdown where the
format allows (parquet/ORC; CSV/JSON prune columns only after parse).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hive_test_spark.io import land, load_table, materialize
from hive_test_spark.registry import register, register_sql


def _sf_tag(sf_dir: str) -> str:
    return os.path.basename(os.path.normpath(sf_dir))


def _land_orders_by_status(spark: SparkSession, sf_dir: str, name: str) -> str:
    """Land ``orders`` (key, price, status) partitioned by
    ``o_orderstatus`` as ``name``: partition dirs on the FS only, with no
    catalog entry."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    return land(sf_dir, name, orders.write.partitionBy("o_orderstatus").parquet)


# Vectorized columnar parquet scan: reads exactly 2 columns
# (ReadSchema pruning) regardless of table width.
register_sql(
    "scan_parquet",
    """
    SELECT l_returnflag, COUNT(*) AS n, ROUND(SUM(l_extendedprice), 6) AS total
    FROM {lineitem}
    GROUP BY l_returnflag
    """,
)


CUSTOMER_SCHEMA = T.StructType(
    [
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]
)


@register(
    "scan_csv",
    """
    SELECT c_mktsegment, COUNT(*) AS n, ROUND(SUM(c_acctbal), 6) AS total_bal
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delimited-text scan (Hive TextFile+SerDe): explicit schema — never
    inferSchema at scale (it is a full extra pass over the data)."""
    c = load_table(spark, sf_dir, "customer")
    path = land(sf_dir, "customer_csv", c.write.option("header", "true").csv)
    df = spark.read.csv(path, header=True, schema=CUSTOMER_SCHEMA)
    return df.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("c_acctbal"), 6).alias("total_bal"),
    )


@register(
    "scan_json",
    """
    SELECT s_nationkey, COUNT(*) AS n, ROUND(SUM(s_acctbal), 6) AS total_bal
    FROM supplier
    GROUP BY s_nationkey
    """,
)
def scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines scan (Hive JsonSerDe analogue), explicit schema."""
    s = load_table(spark, sf_dir, "supplier")
    schema = T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    )
    path = land(sf_dir, "supplier_json", s.write.json)
    df = spark.read.json(path, schema=schema)
    return df.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("s_acctbal"), 6).alias("total_bal"),
    )


@register(
    "scan_orc",
    """
    SELECT o_orderstatus, COUNT(*) AS n, ROUND(AVG(o_totalprice), 6) AS avg_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC scan (Hive's native columnar format) — full pushdown support."""
    o = load_table(spark, sf_dir, "orders")
    path = land(sf_dir, "orders_orc", o.write.orc)
    df = spark.read.orc(path)
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("o_totalprice"), 6).alias("avg_price"),
    )


@register(
    "view_over_query",
    """
    SELECT c_mktsegment, big_customers
    FROM (SELECT c_mktsegment, COUNT(*) AS big_customers
          FROM customer WHERE c_acctbal > 5000.0
          GROUP BY c_mktsegment) v
    WHERE big_customers > 10
    """,
)
def view_over_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE VIEW: named logical query re-used through the SQL front end.
    Views are pure plan macros — the optimizer sees through them."""
    c = load_table(spark, sf_dir, "customer")
    c.createOrReplaceTempView("hts_customer_v")
    spark.sql(
        """
        CREATE OR REPLACE TEMP VIEW hts_big_customers AS
        SELECT c_mktsegment, COUNT(*) AS big_customers
        FROM hts_customer_v WHERE c_acctbal > 5000.0
        GROUP BY c_mktsegment
        """
    )
    return spark.sql("SELECT c_mktsegment, big_customers FROM hts_big_customers WHERE big_customers > 10")


@register(
    "scan_regex_serde",
    """
    WITH lines AS (
      SELECT 'order=' || CAST(o_orderkey AS VARCHAR)
             || ' status=' || o_orderstatus
             || ' date=' || strftime(o_orderdate, '%Y-%m-%d')
             || ' cents=' || CAST(CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS VARCHAR)
               AS value
      FROM orders
    )
    SELECT regexp_extract(value, 'status=([A-Z])', 1) AS status,
           CAST(substr(regexp_extract(value, 'date=([0-9-]+)', 1), 1, 4) AS INTEGER) AS yr,
           COUNT(*) AS n,
           CAST(SUM(CAST(regexp_extract(value, 'cents=([0-9]+)', 1) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM lines
    GROUP BY 1, 2
    """,
)
def scan_regex_serde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RegexSerDe-style text ingestion [Hive-public:
    org.apache.hadoop.hive.serde2.RegexSerDe] — raw log lines parsed into
    typed columns by capture groups, the classic Hive weblog pattern.
    Both legs are real: a distributed text write materializes the log
    fixture from `orders` (`order=.. status=.. date=.. cents=..` lines),
    then `spark.read.text` + `regexp_extract` recovers typed columns and
    aggregates. The oracle synthesizes identical lines inline and parses
    them back with the same regexes, so the string round-trip is exact
    (price is FLOOR-ed to integer cents before formatting — double
    rendering never enters the line). The HUGEINT-sum trap is pre-empted
    with CAST(... AS BIGINT).

    100 TB note: text scans are splittable by line; the regex runs
    JVM-side inside codegen. Schema-on-read costs one parse pass — the
    op's own output shows why you convert logs to parquet once parsed."""
    o = load_table(spark, sf_dir, "orders")
    lines = o.select(
        F.concat(
            F.lit("order="), F.col("o_orderkey").cast("string"),
            F.lit(" status="), F.col("o_orderstatus"),
            F.lit(" date="), F.date_format("o_orderdate", "yyyy-MM-dd"),
            F.lit(" cents="),
            F.floor(F.col("o_totalprice") * 100).cast("bigint").cast("string"),
        ).alias("value")
    )
    path = land(sf_dir, "orders_log", lines.write.text)
    raw = spark.read.text(path)
    parsed = raw.select(
        F.regexp_extract("value", r"status=([A-Z])", 1).alias("status"),
        F.substring(F.regexp_extract("value", r"date=([0-9-]+)", 1), 1, 4)
        .cast("int").alias("yr"),
        F.regexp_extract("value", r"cents=([0-9]+)", 1).cast("bigint").alias("cents"),
    )
    return parsed.groupBy("status", "yr").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("total_cents"),
    )


@register(
    "scan_csv_permissive",
    """
    WITH lines AS (
      SELECT o_orderkey AS k, o_orderstatus AS status,
             CASE WHEN o_orderkey % 19 = 0 THEN NULL
                  ELSE CAST(FLOOR(o_totalprice * 100) AS BIGINT) END AS cents,
             CAST(o_orderkey % 19 = 0 AS INT) AS corrupt
      FROM orders
    )
    SELECT status,
           COUNT(*) AS n_rows,
           CAST(SUM(corrupt) AS BIGINT) AS n_corrupt,
           CAST(COUNT(*) - SUM(corrupt) AS BIGINT) AS n_good,
           CAST(SUM(cents) AS BIGINT) AS good_cents
    FROM lines GROUP BY status
    """,
)
def scan_csv_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE malformed-CSV ingestion [Hive-public: schema-on-read
    over dirty text is THE Hive operating mode; Spark's CSV reader
    classifies unparseable rows into a corrupt-record column instead of
    failing the job]: a log fixture derived from `orders` corrupts every
    19th row's numeric field ('N/A'); the PERMISSIVE read yields NULL
    for the bad cell and captures the raw line in `_corrupt_record`,
    and the report rolls up good/corrupt counts + the good-row sum per
    status. The oracle models the same classification arithmetically —
    exactly the contract PERMISSIVE promises (no row loss, no job
    failure, quarantine column for replay).

    100 TB note: this is the ingestion-edge quarantine pattern — bad
    rows stay queryable for reprocessing instead of killing a
    multi-hour load. The parse needs no cache: Spark refuses a raw-CSV
    query only when the corrupt-record column is the sole column it
    reads, and the rollup reads it beside the parsed ones in one pass.
    At scale, quarantine to a separate sink in that same pass."""
    o = load_table(spark, sf_dir, "orders")
    lines = o.select(
        F.concat(
            F.col("o_orderkey").cast("string"),
            F.lit(","),
            F.col("o_orderstatus"),
            F.lit(","),
            F.when(F.col("o_orderkey") % 19 == 0, F.lit("N/A")).otherwise(
                F.floor(F.col("o_totalprice") * 100).cast("bigint").cast("string")
            ),
        ).alias("value")
    )
    path = land(sf_dir, "orders_dirty_csv", lines.write.text)
    parsed = (
        spark.read.schema("k BIGINT, status STRING, cents BIGINT, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    return parsed.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("_corrupt_record").alias("n_corrupt"),
        (F.count(F.lit(1)) - F.count("_corrupt_record")).alias("n_good"),
        F.sum("cents").alias("good_cents"),
    ).transform(materialize)


_N_BINARY_FILES = 12


@register(
    "scan_binary_files",
    f"""
    SELECT printf('b%03d.bin', CAST(i AS INTEGER)) AS file_name,
           CAST(length(printf('blob-%03d:', CAST(i AS INTEGER))
                       || repeat('x', CAST(i AS INTEGER) * 7)) AS BIGINT)
             AS byte_len,
           md5(printf('blob-%03d:', CAST(i AS INTEGER))
               || repeat('x', CAST(i AS INTEGER) * 7)) AS content_md5
    FROM range({_N_BINARY_FILES}) t(i)
    ORDER BY file_name
    """,
)
def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``binaryFile`` source [Spark-public: the whole-file ingest path
    for image/audio/video corpora — each file becomes one row with
    (path, modificationTime, length, content BINARY)]. This is how
    multimodal payloads ENTER the engine before the llm_multimodal_*
    ops process them. Fixture: 12 deterministic blobs landed in
    scratch (driver-side — they stand in for an external object-store
    landing zone), read back through the real connector, projected to
    engine-independent columns (name, byte length, content digest) the
    DuckDB oracle reconstructs from the same generator expression.

    At 100 TB: binaryFile is splittable ACROSS files (never within
    one), so file count = parallelism ceiling — bundle tiny files into
    archives upstream or the scheduler drowns in tasks; pathGlobFilter
    and partitioned directory layouts prune at listing time;
    spark.sql.files.maxPartitionBytes bounds how many small files pack
    into one task. The content column stays opaque BINARY end-to-end —
    decode happens in Arrow-batched Python (llm/multimodal.py), never
    row-at-a-time."""

    def write_blobs(path: str) -> None:
        os.makedirs(path)
        for i in range(_N_BINARY_FILES):
            with open(os.path.join(path, f"b{i:03d}.bin"), "wb") as fh:
                fh.write((f"blob-{i:03d}:" + "x" * (i * 7)).encode("ascii"))

    parent = land(sf_dir, f"binfiles_{_N_BINARY_FILES}", write_blobs)
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(parent)
    )
    return (
        df.select(
            F.element_at(F.split("path", "/"), -1).alias("file_name"),
            F.col("length").alias("byte_len"),
            F.md5("content").alias("content_md5"),
        )
        .orderBy("file_name")
    )


@register(
    "scan_xml",
    """
    SELECT s_nationkey, COUNT(*) AS n, ROUND(SUM(s_acctbal), 6) AS total_bal
    FROM supplier
    GROUP BY s_nationkey
    ORDER BY s_nationkey
    """,
)
def scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML source [Spark-public: spark-xml merged into Spark 4 as
    a built-in format] — the round-trip twin of the CSV/JSON/ORC scans:
    supplier is materialized as XML rowTag documents with a distributed
    write, then read back through the XML reader with an EXPLICIT schema
    (no inference job — at 100 TB schema inference is a full extra pass)
    and re-aggregated; the oracle reads the original parquet. Hive
    corpora carry XML via SerDes + xpath UDFs (fn_xpath); this is the
    modern file-level path.

    At 100 TB: XML files split per-file like JSON-multiline (a row
    document cannot span a split boundary safely), so file sizing drives
    parallelism; columns prune only after parse — prefer converting XML
    landing data to parquet once, then querying the parquet (this op IS
    that conversion pattern, reversed to prove value fidelity). Avro
    note: the avro format is NOT deployable here (external module jar
    absent from this build — "Failed to find data source: avro"), which
    is why the format matrix is parquet/CSV/JSON/ORC/XML/text/binary."""
    s = load_table(spark, sf_dir, "supplier")
    xml = s.write.option("rowTag", "supplier").format("xml")
    path = land(sf_dir, "supplier_xml", xml.save)
    schema = T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    )
    df = (
        spark.read.format("xml")
        .option("rowTag", "supplier")
        .schema(schema)
        .load(path)
    )
    return (
        df.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("s_acctbal"), 6).alias("total_bal"),
        )
        .orderBy("s_nationkey")
    )


_MALFORMED_MOD = 7  # rows with o_orderkey % 7 == 0 are written malformed

_CSV_MALFORMED_ORACLE = f"""
    SELECT
      CAST(SUM(CASE WHEN o_orderkey % {_MALFORMED_MOD} <> 0 THEN 1 ELSE 0 END)
           AS BIGINT) AS n_good,
      CAST(SUM(CASE WHEN o_orderkey % {_MALFORMED_MOD} = 0 THEN 1 ELSE 0 END)
           AS BIGINT) AS n_corrupt,
      CAST(SUM(CASE WHEN o_orderkey % {_MALFORMED_MOD} <> 0 THEN 1 ELSE 0 END)
           AS BIGINT) AS n_dropmalformed,
      ROUND(SUM(CASE WHEN o_orderkey % {_MALFORMED_MOD} <> 0
                     THEN o_totalprice ELSE 0 END), 6) AS sum_price_good
    FROM orders
"""


@register("scan_csv_malformed", _CSV_MALFORMED_ORACLE)
def scan_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record handling on delimited text (Hive's classic
    bad-SerDe-row problem): a CSV is materialized with every 7th order
    written as garbage ('<key>,not_a_number' — wrong arity AND an
    unparseable numeric), then read twice: PERMISSIVE mode with
    ``columnNameOfCorruptRecord`` must capture exactly the malformed
    lines in the corrupt column while parsing every good row, and
    DROPMALFORMED must keep exactly the good rows. The oracle recomputes
    all four counts from the generation rule, so a parser that silently
    NULL-fills garbage, double-counts, or drops good rows fails the
    hash.

    At 100 TB: PERMISSIVE + corrupt-column is the only mode that lets a
    pipeline QUARANTINE bad rows (write them to a dead-letter path) in
    the same single pass that loads the good ones; FAILFAST is for
    contract enforcement, DROPMALFORMED silently loses data and should
    be confined to exploratory reads. Both reads here are one pass,
    schema explicit — inferSchema would add a full extra scan."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    lines = o.select(
        F.when(
            F.col("o_orderkey") % _MALFORMED_MOD == 0,
            F.concat(F.col("o_orderkey").cast("string"), F.lit(",not_a_number")),
        )
        .otherwise(
            F.concat_ws(
                ",",
                F.col("o_orderkey").cast("string"),
                F.col("o_totalprice").cast("string"),
                F.col("o_orderstatus"),
            )
        )
        .alias("value")
    )
    path = land(sf_dir, f"orders_malformed_{_MALFORMED_MOD}", lines.write.text)
    schema = (
        "o_orderkey LONG, o_totalprice DOUBLE, o_orderstatus STRING, _bad STRING"
    )
    permissive = spark.read.csv(
        path, schema=schema, mode="PERMISSIVE", columnNameOfCorruptRecord="_bad"
    )
    perm_row = permissive.agg(
        F.sum(F.when(F.col("_bad").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_good"),
        F.sum(F.when(F.col("_bad").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_corrupt"),
        F.round(
            F.sum(F.when(F.col("_bad").isNull(), F.col("o_totalprice")).otherwise(0.0)),
            6,
        ).alias("sum_price_good"),
    )
    dropped = spark.read.csv(
        path,
        schema="o_orderkey LONG, o_totalprice DOUBLE, o_orderstatus STRING",
        mode="DROPMALFORMED",
    )
    # CSV column pruning parses ONLY referenced columns, and malformedness
    # is judged on the parsed subset — a bare count(1) would parse nothing
    # and drop nothing. The all-columns filter forces a full-row parse so
    # DROPMALFORMED actually sees the bad cells (the same trap the
    # docstring warns about: this mode's semantics depend on projection).
    drop_row = dropped.filter(
        F.col("o_orderkey").isNotNull()
        | F.col("o_totalprice").isNotNull()
        | F.col("o_orderstatus").isNotNull()
    ).agg(F.count(F.lit(1)).alias("n_dropmalformed"))
    return perm_row.crossJoin(drop_row).select(
        "n_good", "n_corrupt", "n_dropmalformed", "sum_price_good"
    )


_SCHEMA_EVO_ORACLE = """
    SELECT batch, COUNT(*) AS n_rows,
           CAST(COUNT(o_comment_len) AS BIGINT) AS n_with_new_col,
           ROUND(SUM(o_totalprice), 6) AS sum_price
    FROM (
      SELECT 'v1' AS batch, o_totalprice, NULL AS o_comment_len
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT 'v2', o_totalprice, CAST(length(o_orderstatus) + o_orderkey % 5 AS BIGINT)
      FROM orders WHERE o_orderkey % 2 = 1
    ) t
    GROUP BY batch
"""


@register("scan_parquet_schema_evolution", _SCHEMA_EVO_ORACLE)
def scan_parquet_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on a parquet directory (the lakehouse add-a-column
    case): batch v1 is written with the original columns, batch v2 adds
    ``o_comment_len``; a ``mergeSchema`` read reconciles both footers
    into the superset schema and the old files' missing column reads as
    NULL. The per-batch rollup pins all three contract points: row
    routing, NULL-fill for pre-evolution files (n_with_new_col = 0 for
    v1), and value fidelity of both eras.

    At 100 TB: mergeSchema is a FOOTER-ONLY operation but it reads every
    file's footer on the driver — on 10^6-file tables that is the known
    listing bottleneck, which is why production tables keep the merged
    schema in a catalog (metastore/table-format) and planners never
    fan out to footers; new columns must be APPENDED nullable — type
    narrowing or renames break old readers and are a table-format
    (rename-by-id) feature, not a parquet one."""
    o = load_table(spark, sf_dir, "orders")
    v1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        F.lit("v1").alias("batch"), "o_orderkey", "o_totalprice"
    )
    v2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        F.lit("v2").alias("batch"),
        "o_orderkey",
        "o_totalprice",
        (F.length("o_orderstatus") + F.col("o_orderkey") % 5)
        .cast("long")
        .alias("o_comment_len"),
    )

    def write_batches(path: str) -> None:
        v1.write.parquet(path)
        v2.write.mode("append").parquet(path)

    path = land(sf_dir, "orders_schema_evo", write_batches)
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    return merged.groupBy("batch").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_comment_len").alias("n_with_new_col"),
        F.round(F.sum("o_totalprice"), 6).alias("sum_price"),
    )


_JSON_NESTED_ORACLE = """
    SELECT o.o_orderstatus,
           COUNT(DISTINCT o.o_orderkey) AS n_orders,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(SUM(l.l_extendedprice), 2) AS total_price
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey < 5000
    GROUP BY o.o_orderstatus
"""


@register("scan_json_nested", _JSON_NESTED_ORACLE)
def scan_json_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested semi-structured JSON round-trip: orders are written as
    documents carrying an ARRAY OF STRUCT line items (the natural shape
    of event/API payloads), read back with an EXPLICIT nested schema
    (never inferSchema at scale — a full extra pass), then exploded and
    rolled up. What the hash verifies is the whole nested path: struct
    construction, collect_list packing, JSON serialization, schema-on-
    read, explode fan-out, and that no item was lost or duplicated
    crossing the text boundary (counts + sums against the relational
    truth).

    At 100 TB: nested JSON is the INGEST format, never the query
    format — this op is the normalization step that lands it columnar.
    The explicit schema keeps the reader single-pass; explode is a
    narrow generator; and the one real shuffle is the packing groupBy
    at write time (query-side rollup shuffles only the exploded keys).
    Columnar formats shred the same nesting (parquet repetition levels)
    so the struct list survives into parquet too — JSON is exercised
    here because schema-on-read text is the harder contract."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 5000)
    li = load_table(spark, sf_dir, "lineitem")
    items = li.groupBy("l_orderkey").agg(
        F.collect_list(
            F.struct(
                F.col("l_linenumber").alias("line"),
                F.col("l_extendedprice").alias("price"),
            )
        ).alias("items")
    )
    nested = o.join(items, o.o_orderkey == items.l_orderkey).select(
        "o_orderkey", "o_orderstatus", "items"
    )
    path = land(sf_dir, "orders_nested_json", nested.write.json)
    schema = (
        "o_orderkey LONG, o_orderstatus STRING, "
        "items ARRAY<STRUCT<line: INT, price: DOUBLE>>"
    )
    docs = spark.read.schema(schema).json(path)
    exploded = docs.select(
        "o_orderkey", "o_orderstatus", F.explode("items").alias("it")
    )
    return exploded.groupBy("o_orderstatus").agg(
        F.countDistinct("o_orderkey").alias("n_orders"),
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("it.price"), 2).alias("total_price"),
    )


@register(
    "scan_file_metadata",
    """
    SELECT o_orderstatus AS file_partition,
           COUNT(*) AS n_rows,
           ROUND(SUM(o_totalprice), 4) AS total
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def scan_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden file-metadata column [Hive-public: the INPUT__FILE__NAME /
    BLOCK__OFFSET__INSIDE__FILE virtual columns; Spark-public: the
    ``_metadata`` struct (file_path, file_name, file_size,
    file_modification_time) available on every file-source scan] — the
    lineage-debugging surface: which physical file did each row come
    from? The op writes a partitioned layout, reads it back selecting
    ``_metadata.file_path``, re-derives each row's partition value BY
    PARSING THE PATH (regexp on the hive-style dir component, exactly
    how INPUT__FILE__NAME is used operationally), and aggregates — the
    oracle recomputes from the DATA column, so path-derived and
    data-derived partition assignment must agree row-for-row.

    At 100 TB: _metadata is constant-per-file — it costs nothing to
    read (populated from the scan's own file listing, no extra I/O)
    and is the standard tool for quarantining a corrupt producer run:
    filter on file_path/modification_time, then rewrite just those
    files. Row-position virtual columns (BLOCK__OFFSET) intentionally
    have no equivalent: row identity at scale belongs in data keys,
    not physical offsets."""
    loc = _land_orders_by_status(spark, sf_dir, "orders_meta_layout")
    back = spark.read.parquet(loc).select(
        "o_totalprice",
        F.regexp_extract(
            F.col("_metadata.file_path"), "o_orderstatus=([^/]+)/", 1
        ).alias("file_partition"),
    )
    return back.groupBy("file_partition").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("o_totalprice"), 4).alias("total"),
    )
