"""SURVEY.md §2.I — scalar function families, one query per family.

Reference surface: the Hive built-in UDF catalog (string / regex / date
/ math / conditional / array / map / JSON / hash families) [Hive-public]
(reference checkout empty — SURVEY.md §0.1). Spark implements the same
names JVM-side; every expression below stays inside whole-stage codegen
(no Python in the hot path).

Oracle dialect notes (SURVEY.md §7.5.3): DuckDB `regexp_replace` needs
the 'g' flag to match Spark's replace-all; double→int CAST rounds in
DuckDB but truncates in Spark (use FLOOR); `list_distinct` is unsorted
(wrap in list_sort); no `initcap` (omitted).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_test_spark.io import load_table
from hive_test_spark.registry import register, register_sql
from hive_test_spark.session import temp_functions


@register(
    "fn_string",
    """
    SELECT c_custkey,
           upper(c_name) AS name_upper,
           lower(c_mktsegment) AS seg_lower,
           length(c_name) AS name_len,
           substr(c_name, 1, 8) AS name_pfx,
           concat_ws('-', c_mktsegment, CAST(c_custkey AS VARCHAR)) AS seg_key,
           lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS key_pad,
           reverse(c_mktsegment) AS seg_rev,
           repeat(substr(c_mktsegment, 1, 2), 2) AS seg_rep,
           trim(concat(' ', c_name, ' ')) AS name_trim,
           instr(c_name, '1') AS pos_one,
           replace(c_mktsegment, 'E', '_') AS seg_repl
    FROM customer
    """,
)
def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String family: upper/lower/length/substr/concat_ws/lpad/reverse/
    repeat/trim/instr/replace."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lower("c_mktsegment").alias("seg_lower"),
        F.length("c_name").alias("name_len"),
        F.substring("c_name", 1, 8).alias("name_pfx"),
        F.concat_ws("-", F.col("c_mktsegment"), F.col("c_custkey").cast("string")).alias("seg_key"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("key_pad"),
        F.reverse("c_mktsegment").alias("seg_rev"),
        F.repeat(F.substring("c_mktsegment", 1, 2), 2).alias("seg_rep"),
        F.trim(F.concat(F.lit(" "), F.col("c_name"), F.lit(" "))).alias("name_trim"),
        F.instr("c_name", "1").alias("pos_one"),
        F.replace(F.col("c_mktsegment"), F.lit("E"), F.lit("_")).alias("seg_repl"),
    )


@register(
    "fn_regex",
    """
    SELECT p_partkey,
           regexp_extract(p_type, '^([A-Z]+)', 1) AS type_head,
           regexp_replace(p_name, '[aeiou]', '*', 'g') AS name_starred,
           regexp_matches(p_type, 'BRUSHED|POLISHED') AS is_finished,
           translate(p_brand, '#', '_') AS brand_t
    FROM part
    """,
)
def fn_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex family: regexp_extract / regexp_replace (replace-all) /
    rlike / translate."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_type", "^([A-Z]+)", 1).alias("type_head"),
        F.regexp_replace("p_name", "[aeiou]", "*").alias("name_starred"),
        F.col("p_type").rlike("BRUSHED|POLISHED").alias("is_finished"),
        F.translate("p_brand", "#", "_").alias("brand_t"),
    )


@register(
    "fn_date",
    """
    SELECT o_orderkey,
           year(o_orderdate) AS order_year,
           month(o_orderdate) AS order_month,
           day(o_orderdate) AS order_day,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end,
           date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since_95,
           CAST(CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS VARCHAR) AS plus3m,
           epoch(o_orderdate) AS epoch_s
    FROM orders
    """,
)
def fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date family: year/month/day/date_trunc/last_day/datediff/add_months/
    unix_timestamp. DATE-typed outputs rendered as strings (hash rule)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        F.last_day(F.col("o_orderdate").cast("date")).cast("string").alias("month_end"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_95"
        ),
        F.add_months(F.col("o_orderdate").cast("date"), 3).cast("string").alias("plus3m"),
        F.unix_timestamp("o_orderdate").cast("double").alias("epoch_s"),
    )


@register(
    "fn_math",
    """
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice, 1) AS price_r1,
           CAST(floor(l_discount * 100) AS BIGINT) AS disc_pct_floor,
           CAST(ceil(l_tax * 100) AS BIGINT) AS tax_pct_ceil,
           abs(l_quantity - 25.0) AS qty_dev,
           round(pow(l_quantity, 2), 6) AS qty_sq,
           round(sqrt(l_extendedprice), 6) AS price_sqrt,
           round(ln(l_extendedprice + 1.0), 6) AS price_ln,
           round(log10(l_extendedprice + 1.0), 6) AS price_log10,
           round(exp(l_discount), 6) AS disc_exp,
           CAST(sign(l_quantity - 25.0) AS DOUBLE) AS qty_sign,
           greatest(l_quantity, 25.0) AS qty_hi,
           least(l_quantity, 25.0) AS qty_lo,
           ((CAST(l_orderkey AS BIGINT) % 7) + 7) % 7 AS key_pmod
    FROM lineitem
    """,
)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math family: round/floor/ceil/abs/pow/sqrt/ln/log10/exp/sign/
    greatest/least/pmod."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 1).alias("price_r1"),
        F.floor(F.col("l_discount") * 100).alias("disc_pct_floor"),
        F.ceil(F.col("l_tax") * 100).alias("tax_pct_ceil"),
        F.abs(F.col("l_quantity") - 25.0).alias("qty_dev"),
        F.round(F.pow("l_quantity", F.lit(2)), 6).alias("qty_sq"),
        F.round(F.sqrt("l_extendedprice"), 6).alias("price_sqrt"),
        F.round(F.log(F.col("l_extendedprice") + 1.0), 6).alias("price_ln"),
        F.round(F.log10(F.col("l_extendedprice") + 1.0), 6).alias("price_log10"),
        F.round(F.exp("l_discount"), 6).alias("disc_exp"),
        F.signum(F.col("l_quantity") - 25.0).alias("qty_sign"),
        F.greatest(F.col("l_quantity"), F.lit(25.0)).alias("qty_hi"),
        F.least(F.col("l_quantity"), F.lit(25.0)).alias("qty_lo"),
        F.pmod(F.col("l_orderkey"), F.lit(7)).alias("key_pmod"),
    )


# Conditional family: if/nvl/nullif/coalesce/isnull.
register_sql(
    "fn_conditional",
    """
    SELECT s_suppkey,
           CASE WHEN s_acctbal > 5000.0 THEN 'rich' ELSE 'modest' END AS wealth,
           COALESCE(NULLIF(s_name, ''), 'unknown') AS safe_name,
           NULLIF(s_nationkey, 0) AS nation_or_null,
           COALESCE(NULLIF(s_nationkey, 0), -1) AS nation_nvl,
           (s_acctbal IS NOT NULL) AS has_bal
    FROM {supplier}
    """,
)


@register(
    "fn_array",
    """
    SELECT vec_id,
           len(embedding) AS dim,
           ROUND(CAST(embedding[1] AS DOUBLE), 6) AS first_comp,
           ROUND(list_aggregate(list_transform(embedding, (x) -> CAST(x AS DOUBLE)), 'sum'), 6) AS comp_sum,
           ROUND(list_aggregate(list_transform(embedding, (x) -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'), 6) AS sq_sum,
           len(list_filter(embedding, (x) -> x > 0)) AS n_pos,
           ROUND(CAST(list_aggregate(list_transform(embedding, (x) -> CAST(x AS DOUBLE)), 'max') AS DOUBLE), 6) AS comp_max
    FROM embeddings
    """,
)
def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array family + higher-order functions: size/element_at/transform/
    filter/aggregate — the JVM-side vector-math primitives reused by the
    LLM similarity operators (§2.L)."""
    e = load_table(spark, sf_dir, "embeddings")
    as_dbl = "transform(embedding, x -> CAST(x AS DOUBLE))"
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("first_comp"),
        F.round(F.expr(f"aggregate({as_dbl}, 0D, (acc, x) -> acc + x)"), 6).alias("comp_sum"),
        F.round(F.expr(f"aggregate({as_dbl}, 0D, (acc, x) -> acc + x * x)"), 6).alias("sq_sum"),
        F.size(F.expr("filter(embedding, x -> x > 0)")).alias("n_pos"),
        F.round(F.expr(f"array_max({as_dbl})"), 6).alias("comp_max"),
    )


@register(
    "fn_map",
    """
    SELECT event_id,
           'type|user' AS m_keys,
           concat(event_type, '|', CAST(user_id AS VARCHAR)) AS m_values,
           event_type AS type_val
    FROM events
    WHERE event_id % 10 = 0
    """,
)
def fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map family: create_map / map_keys / map_values / element_at. The
    oracle states the expected key/value sequences directly (map ordering
    is engine-specific — SURVEY.md §2 flags this family as order-sensitive).
    Keys/values are '|'-serialized to scalar strings because the driver's
    pandas canonicalizer cannot sort ndarray cells."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") % 10 == 0)
    m = F.create_map(
        F.lit("type"), F.col("event_type"), F.lit("user"), F.col("user_id").cast("string")
    )
    return ev.select(
        "event_id",
        F.array_join(F.map_keys(m), "|").alias("m_keys"),
        F.array_join(F.map_values(m), "|").alias("m_values"),
        F.element_at(m, F.lit("type")).alias("type_val"),
    )


@register(
    "fn_json",
    """
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int,
           CAST(json_extract_string(props, '$.k') AS BIGINT) * 2 AS k_doubled
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
    """,
)
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON family: get_json_object + from_json (schema'd struct access)."""
    ev = load_table(spark, sf_dir, "events")
    parsed = F.from_json(F.col("props"), "k BIGINT")
    return ev.select(
        "event_id",
        F.get_json_object(F.col("props"), "$.k").alias("k_str"),
        parsed.getField("k").alias("k_int"),
        (parsed.getField("k") * 2).alias("k_doubled"),
    ).filter(F.col("k_int") > 50)


@register(
    "fn_hash",
    """
    SELECT n_nationkey,
           md5(n_name) AS name_md5,
           sha256(n_name) AS name_sha256,
           length(md5(n_name)) AS md5_len
    FROM nation
    """,
)
def fn_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash family: md5 / sha2-256 (content fingerprints for dedup §2.L)."""
    n = load_table(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey",
        F.md5("n_name").alias("name_md5"),
        F.sha2(F.col("n_name"), 256).alias("name_sha256"),
        F.length(F.md5("n_name")).alias("md5_len"),
    )


@register(
    "fn_bitwise",
    """
    SELECT l_orderkey, l_linenumber,
           l_orderkey & 255 AS key_and,
           l_orderkey | 4096 AS key_or,
           xor(l_orderkey, l_linenumber) AS key_xor,
           l_orderkey << 2 AS key_shl,
           l_orderkey >> 3 AS key_shr
    FROM lineitem
    WHERE l_orderkey < 100
    """,
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise family [Hive-public: &, |, ^, ~, shiftleft/shiftright] —
    used in practice for hash-bucket math and bitmap flags; all JVM-side
    codegen'd integer ops."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_orderkey") < 100).select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_orderkey").bitwiseAND(F.lit(255)).alias("key_and"),
        F.col("l_orderkey").bitwiseOR(F.lit(4096)).alias("key_or"),
        F.col("l_orderkey").bitwiseXOR(F.col("l_linenumber")).alias("key_xor"),
        F.shiftleft(F.col("l_orderkey"), 2).alias("key_shl"),
        F.shiftright(F.col("l_orderkey"), 3).alias("key_shr"),
    )


@register(
    "fn_struct",
    """
    SELECT s_suppkey,
           concat('nation=', CAST(s_nationkey AS VARCHAR),
                  ';balance=', CAST(CAST(s_acctbal AS DECIMAL(12,2)) AS VARCHAR)) AS info,
           s_nationkey AS info_nation,
           round(s_acctbal, 2) AS info_balance
    FROM supplier
    """,
)
def fn_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRUCT family [Hive-public: named_struct + field access]: build a
    struct column, project fields back out, and serialize the whole struct
    to a key=value string for the driver compare (pandas canonicalizer
    cannot sort struct/Row cells). Structs are columnar-shredded in
    parquet, so nested projection still prunes at the reader."""
    s = load_table(spark, sf_dir, "supplier")
    info = F.struct(
        F.col("s_nationkey").alias("nation"),
        F.round(F.col("s_acctbal"), 2).alias("balance"),
    )
    return s.select(
        "s_suppkey",
        F.concat(
            F.lit("nation="), info.getField("nation").cast("string"),
            F.lit(";balance="), F.col("s_acctbal").cast("decimal(12,2)").cast("string"),
        ).alias("info"),
        info.getField("nation").alias("info_nation"),
        info.getField("balance").alias("info_balance"),
    )


@register(
    "fn_url",
    """
    WITH urls AS (
      SELECT doc_id,
             'https://' || source || '.example.com/docs/' || doc_id
               || '?lang=' || lang AS url
      FROM documents
    )
    SELECT doc_id,
           regexp_extract(url, '^https://([^/]+)/', 1) AS host,
           regexp_extract(url, '^https://[^/]+(/[^?]*)', 1) AS path,
           regexp_extract(url, '\\?(.*)$', 1) AS query
    FROM urls
    """,
)
def fn_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL family [Hive-public: parse_url(HOST|PATH|QUERY)] — Spark's
    parse_url is used natively; the oracle re-derives the same components
    with portable regexes (DuckDB has no parse_url). URLs are synthesized
    deterministically from fixture columns (web-corpus provenance columns
    are the 100 TB use case: per-host dedup, domain quality priors)."""
    d = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id"),
        F.lit("?lang="),
        F.col("lang"),
    )
    return d.select(
        "doc_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
    )


@register(
    "agg_bool",
    """
    SELECT l_returnflag,
           bool_and(l_quantity > 1) AS all_qty_gt1,
           bool_or(l_discount > 0.09) AS any_disc_gt9,
           count(*) FILTER (WHERE l_tax = 0) AS n_tax_free
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates [Hive-public: min/max over booleans; ANSI
    bool_and/bool_or] + FILTERed count — all map-side combinable."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.bool_and(F.col("l_quantity") > 1).alias("all_qty_gt1"),
        F.bool_or(F.col("l_discount") > 0.09).alias("any_disc_gt9"),
        F.count(F.when(F.col("l_tax") == 0, 1)).alias("n_tax_free"),
    )


@register(
    "fn_decimal",
    """
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(round(l_extendedprice, 2) AS DECIMAL(12,2))) AS DOUBLE)
             AS sum_price,
           CAST(MIN(CAST(round(l_extendedprice, 2) AS DECIMAL(12,2))) AS DOUBLE)
             AS min_price,
           CAST(MAX(CAST(round(l_extendedprice, 2) AS DECIMAL(12,2))) AS DOUBLE)
             AS max_price,
           CAST(CAST(MAX(CAST(round(l_extendedprice, 2) AS DECIMAL(12,2)))
                     * CAST(1.1 AS DECIMAL(2,1)) AS DECIMAL(16,3)) AS DOUBLE)
             AS max_price_taxed,
           CAST(SUM(CAST(round(CAST(l_quantity * 0.005 AS DECIMAL(12,3)), 2)
                         AS DECIMAL(12,2))) AS DOUBLE) AS tie_rescale_sum,
           CAST(MIN(CAST(round(l_extendedprice, 2) AS DECIMAL(12,2))) AS VARCHAR)
             AS min_price_str
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def fn_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECIMAL(p,s) family [Hive-public: decimal cast / arithmetic /
    rescale-rounding] — the warehouse-money type the all-double fixtures
    otherwise never exercise. Semantics verified:

    - double -> DECIMAL(12,2) ingest (pre-rounded so the rescale is
      tie-free: raw doubles can sit exactly on x.xx5),
    - exact decimal SUM/MIN/MAX (no fp accumulation error),
    - decimal * decimal with scale growth (12,2)x(2,1) -> (15,3),
    - tie rescale DECIMAL(12,3) -> (12,2): Spark CAST rounds HALF_UP
      (0.025 -> 0.03) while DuckDB CAST rescales half-even (-> 0.02), so
      the oracle expresses Spark's semantics as round() (half-away-from-
      zero on decimals in DuckDB = HALF_UP for positives) before the cast,
    - fixed-scale string rendering ('100.00', trailing zeros kept).

    Outputs are cast DOUBLE/VARCHAR because the driver's pandas bridge
    maps DuckDB DECIMAL to float64 but Spark DECIMAL to object(Decimal) —
    same-typed scalars keep the hash comparable; the decimal arithmetic
    itself all happens at decimal type on both engines.

    100 TB note: decimal aggs are map-side combinable like any sum; Spark
    promotes sum precision (22,2) to avoid overflow — no extra shuffle.
    """
    li = load_table(spark, sf_dir, "lineitem")
    dec_price = F.round("l_extendedprice", 2).cast("decimal(12,2)")
    tie = (F.col("l_quantity") * F.lit(0.005)).cast("decimal(12,3)").cast("decimal(12,2)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec_price).cast("double").alias("sum_price"),
        F.min(dec_price).cast("double").alias("min_price"),
        F.max(dec_price).cast("double").alias("max_price"),
        (F.max(dec_price) * F.lit(1.1).cast("decimal(2,1)"))
        .cast("decimal(16,3)").cast("double").alias("max_price_taxed"),
        F.sum(tie).cast("double").alias("tie_rescale_sum"),
        F.min(dec_price).cast("string").alias("min_price_str"),
    )


@register(
    "fn_mask",
    """
    SELECT c_custkey,
           regexp_replace(regexp_replace(regexp_replace(
             c_name, '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
             AS name_masked,
           concat(
             regexp_replace(regexp_replace(regexp_replace(
               substr(c_name, 1, 4), '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'),
               '[0-9]', 'n', 'g'),
             substr(c_name, 5)
           ) AS name_mask_first4,
           regexp_replace(c_mktsegment, '[A-Z]', '*', 'g') AS seg_starred,
           sha256(c_name) AS name_hash
    FROM customer
    """,
)
def fn_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-masking family [Hive-public: mask / mask_first_n / mask_hash
    GenericUDFs — the column-level PII controls of a Hive warehouse].
    Spark-first: `mask()` is a built-in (upper->X, lower->x, digit->n,
    punctuation kept), mask_first_n is composed as mask(prefix)||suffix,
    mask_hash as sha2-256. The oracle re-derives mask() with per-class
    regexp_replace chains (DuckDB has no mask builtin). All JVM-side,
    codegen-friendly — this is the redaction tier you run before text
    corpora leave the warehouse (cousin of llm_pii_redact, which handles
    free-text patterns instead of whole columns)."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.mask("c_name").alias("name_masked"),
        F.concat(
            F.mask(F.substring("c_name", 1, 4)), F.substring("c_name", 5, 100)
        ).alias("name_mask_first4"),
        F.mask("c_mktsegment", F.lit("*"), F.lit("*"), F.lit("*"), F.lit(None)).alias("seg_starred"),
        F.lower(F.sha2("c_name", 256)).alias("name_hash"),
    )


@register(
    "fn_date_extended",
    """
    SELECT o_orderkey,
           quarter(CAST(o_orderdate AS DATE)) AS qtr,
           week(CAST(o_orderdate AS DATE)) AS iso_week,
           dayofweek(CAST(o_orderdate AS DATE)) + 1 AS dow_sun1,
           strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS ym,
           CAST(date_trunc('quarter', CAST(o_orderdate AS DATE)) AS VARCHAR)
             AS qtr_start,
           CAST(make_date(CAST(year(o_orderdate) AS INT), CAST(month(o_orderdate) AS INT), 1) AS VARCHAR)
             AS month_first,
           CAST(CAST(o_orderdate AS DATE)
                + CAST(CASE WHEN (8 - isodow(CAST(o_orderdate AS DATE))) % 7 = 0
                            THEN 7
                            ELSE (8 - isodow(CAST(o_orderdate AS DATE))) % 7
                       END AS INT) AS VARCHAR) AS next_monday
    FROM orders
    """,
)
def fn_date_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended date family beyond fn_date: quarter, ISO week, day-of-week,
    date_format, quarter-trunc, make_date, next_day [Hive-public UDFs of
    the same names]. Cross-engine parity notes baked into the oracle:
    Spark ``dayofweek`` is 1=Sunday while DuckDB's is 0=Sunday (+1), and
    ``next_day(d,'Mon')`` is strictly-after, reconstructed in DuckDB from
    isodow arithmetic. DATE outputs are rendered as strings (hash rule).
    All JVM-side, codegen-friendly, map-only."""
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.quarter(d).alias("qtr"),
        F.weekofyear(d).alias("iso_week"),
        F.dayofweek(d).alias("dow_sun1"),
        F.date_format(d, "yyyy-MM").alias("ym"),
        F.trunc(d, "quarter").cast("string").alias("qtr_start"),
        F.make_date(F.year(d), F.month(d), F.lit(1)).cast("string").alias("month_first"),
        F.next_day(d, "Mon").cast("string").alias("next_monday"),
    )


@register(
    "fn_try_safe",
    """
    WITH t AS (
      SELECT event_type,
             TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num,
             TRY_CAST(event_type AS BIGINT) AS bad_num,
             CASE WHEN user_id % 3 = 0 THEN NULL
                  ELSE value / (user_id % 3) END AS safe_div
      FROM events
    )
    SELECT event_type,
           COUNT(*) AS n,
           COUNT(k_num) AS n_parsed,
           COUNT(bad_num) AS n_bad_parsed,
           COUNT(*) - COUNT(safe_div) AS n_div_null,
           ROUND(SUM(safe_div), 4) AS sum_safe_div
    FROM t GROUP BY event_type
    """,
)
def fn_try_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe expression family — `try_cast` / `try_divide`
    [Hive-public: Hive CAST returns NULL on malformed input instead of
    failing the job; Spark's ANSI-mode equivalents are the try_*
    functions]: parse a numeric JSON field (succeeds), a non-numeric
    string (NULL, never an exception), and divide by a
    sometimes-zero denominator (NULL on zero) — the null-propagation
    contract that keeps a 100 TB batch job alive on dirty rows, rolled
    up per event type.

    try_divide(x, 0) → NULL has no DuckDB spelling (it raises), so the
    oracle encodes the same contract as the explicit CASE — which is
    precisely the rewrite Hive semantics imply."""
    ev = load_table(spark, sf_dir, "events")
    t = ev.select(
        "event_type",
        F.expr("try_cast(get_json_object(props, '$.k') AS BIGINT)").alias("k_num"),
        F.expr("try_cast(event_type AS BIGINT)").alias("bad_num"),
        F.try_divide("value", (F.col("user_id") % 3).cast("double")).alias("safe_div"),
    )
    return t.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("k_num").alias("n_parsed"),
        F.count("bad_num").alias("n_bad_parsed"),
        (F.count(F.lit(1)) - F.count("safe_div")).alias("n_div_null"),
        F.round(F.sum("safe_div"), 4).alias("sum_safe_div"),
    )


@register(
    "fn_format",
    """
    SELECT o_orderkey,
           format('{:,d}', CAST(FLOOR(o_totalprice) AS BIGINT)) AS price_grouped,
           printf('%05d|%s', o_orderkey % 100000, o_orderstatus) AS key_tag,
           to_base(o_orderkey, 16) AS key_hex,
           to_base(o_orderkey, 2) AS key_bin,
           to_base(o_orderkey % 1000, 8) AS key_oct,
           chr(65 + CAST(o_orderkey % 26 AS INTEGER)) AS key_chr,
           printf('%8s', o_orderstatus) AS status_padded
    FROM orders
    WHERE o_orderkey <= 500
    ORDER BY o_orderkey
    """,
)
def fn_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output-formatting family [Hive-public: format_number, printf,
    conv(n, from_base, to_base), chr — the HiveQL report-formatting
    surface]: thousands-grouped number rendering, printf templating,
    base conversion (hex/binary/octal via conv ≙ DuckDB to_base), and
    code-point chr, all JVM expressions inside one codegen stage.

    Deliberately integer-only: float printf is NOT cross-engine-stable
    (Java Formatter rounds half-up on the decimal rendering, C printf
    rounds half-even on the binary value — e.g. '%.2f' of 1.125
    disagrees), so the float path is pinned by fn_decimal's
    decimal-typed formatting instead. Same reason for FLOOR before the
    bigint cast: Spark's double→bigint CAST truncates toward zero while
    DuckDB's rounds to nearest. Map-only; scan-pruned to a bounded key
    range."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 500)
    return o.select(
        "o_orderkey",
        F.format_number(F.floor("o_totalprice").cast("bigint"), 0).alias(
            "price_grouped"
        ),
        F.format_string(
            "%05d|%s", F.col("o_orderkey") % 100000, F.col("o_orderstatus")
        ).alias("key_tag"),
        F.upper(F.conv(F.col("o_orderkey").cast("string"), 10, 16)).alias("key_hex"),
        F.conv(F.col("o_orderkey").cast("string"), 10, 2).alias("key_bin"),
        F.conv((F.col("o_orderkey") % 1000).cast("string"), 10, 8).alias("key_oct"),
        F.char(F.lit(65) + (F.col("o_orderkey") % 26)).alias("key_chr"),
        F.format_string("%8s", F.col("o_orderstatus")).alias("status_padded"),
    ).orderBy("o_orderkey")


@register(
    "fn_variant",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num,
           ROUND(CAST(json_extract_string(props, '$.k') AS DOUBLE) * 1.5, 4)
             AS k_scaled,
           'OBJECT<k: BIGINT>' AS v_schema,
           CAST(json_extract_string(props, '$.missing') AS BIGINT) AS k_missing
    FROM events
    WHERE event_id % 7 = 0
    ORDER BY event_id
    """,
)
def fn_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT type [Spark-public: SPARK-45827, Spark 4's
    replacement for string-JSON hot paths]: parse once with parse_json,
    then typed variant_get extraction — the binary-encoded variant avoids
    re-tokenizing JSON text per field access, the reason warehouses moved
    JSON columns to VARIANT. schema_of_variant proves the parsed shape;
    a missing path yields NULL (not an error). The DuckDB oracle models
    the same contract through its JSON type.

    At 100 TB: parse_json runs once per row in codegen; each additional
    extracted field is a cheap binary probe instead of a fresh JSON text
    scan — column-count-independent ingest cost."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") % 7 == 0)
    v = ev.withColumn("v", F.parse_json("props"))
    return v.select(
        "event_id",
        F.expr("variant_get(v, '$.k', 'bigint')").alias("k_num"),
        F.round(F.expr("variant_get(v, '$.k', 'double')") * 1.5, 4).alias(
            "k_scaled"
        ),
        F.expr("schema_of_variant(v)").alias("v_schema"),
        F.expr("variant_get(v, '$.missing', 'bigint')").alias("k_missing"),
    ).orderBy("event_id")


_COLL_PROBE = "building"


@register(
    "fn_collation",
    f"""
    SELECT c_nationkey,
           COUNT(DISTINCT seg_mixed) AS n_distinct_binary,
           COUNT(DISTINCT lower(seg_mixed)) AS n_distinct_ci,
           COUNT(*) FILTER (WHERE lower(seg_mixed) = '{_COLL_PROBE}')
             AS n_eq_ci,
           COUNT(*) FILTER (WHERE seg_mixed = '{_COLL_PROBE.upper()}')
             AS n_eq_binary
    FROM (SELECT c_nationkey,
                 CASE WHEN c_custkey % 3 = 0 THEN upper(c_mktsegment)
                      WHEN c_custkey % 3 = 1 THEN lower(c_mktsegment)
                      ELSE c_mktsegment END AS seg_mixed
          FROM customer)
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def fn_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String collation semantics [Spark-public: SPARK-46830, Spark 4
    COLLATE]: the same mixed-case column counted under UTF8_BINARY vs
    UTF8_LCASE collation — distinct counts and equality probes diverge
    exactly where case does. Hive is binary-collated; Spark 4 makes the
    case-insensitive contract a TYPE property instead of a lower() call
    at every use site. The oracle spells the UTF8_LCASE semantics as
    explicit lower() — the rewrite collations replace.

    At 100 TB: collation participates in hashing, so a UTF8_LCASE
    group-by/join shuffles case-variants to the SAME reducer — lower()
    wrappers do the same but defeat dictionary-encoding pushdown."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.when(F.col("c_custkey") % 3 == 0, F.upper("c_mktsegment"))
        .when(F.col("c_custkey") % 3 == 1, F.lower("c_mktsegment"))
        .otherwise(F.col("c_mktsegment"))
        .alias("seg_mixed"),
    )
    ci = F.expr("collate(seg_mixed, 'UTF8_LCASE')")
    return (
        c.groupBy("c_nationkey")
        .agg(
            F.count_distinct("seg_mixed").alias("n_distinct_binary"),
            F.count_distinct(ci).alias("n_distinct_ci"),
            F.count(F.when(ci == F.lit(_COLL_PROBE), 1)).alias("n_eq_ci"),
            F.count(
                F.when(F.col("seg_mixed") == _COLL_PROBE.upper(), 1)
            ).alias("n_eq_binary"),
        )
        .orderBy("c_nationkey")
    )


@register(
    "fn_sql_macro",
    """
    SELECT l_returnflag,
           COUNT(*) AS n,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS disc_total,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4)
             AS charged_total,
           ROUND(AVG(CASE WHEN l_quantity >= 30 THEN l_extendedprice END), 4)
             AS bulk_avg_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def fn_sql_macro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined functions [Hive-public: CREATE TEMPORARY MACRO — the
    Hive idiom for naming a reusable expression; Spark-public:
    SPARK-46246 SQL UDFs, `CREATE FUNCTION ... RETURNS ... RETURN expr`]:
    three macros (discounted price, full charge, bulk-order predicate)
    defined once and reused across aggregate expressions. Catalyst
    INLINES the function body at analysis time — the oracle spells the
    inlined form, proving the macro is a naming layer with zero runtime
    cost: same plan, same codegen, same two-phase agg as writing the
    expression in place. At 100 TB that inlining is the point: a macro
    library adds no Python round-trip and no black-box UDF barrier to
    pushdown or constant folding."""
    with temp_functions(spark, "hts_disc_price", "hts_charge", "hts_is_bulk") as (
        disc_price, charge, is_bulk
    ):
        spark.sql(
            f"CREATE TEMPORARY FUNCTION {disc_price}(p DOUBLE, d DOUBLE) "
            "RETURNS DOUBLE RETURN p * (1 - d)"
        )
        spark.sql(
            f"CREATE TEMPORARY FUNCTION {charge}(p DOUBLE, d DOUBLE, t DOUBLE) "
            f"RETURNS DOUBLE RETURN {disc_price}(p, d) * (1 + t)"
        )
        spark.sql(
            f"CREATE TEMPORARY FUNCTION {is_bulk}(q DOUBLE) "
            "RETURNS BOOLEAN RETURN q >= 30"
        )
        return spark.sql(
            f"""
            SELECT l_returnflag,
                   COUNT(*) AS n,
                   ROUND(SUM({disc_price}(l_extendedprice, l_discount)), 4)
                     AS disc_total,
                   ROUND(SUM({charge}(l_extendedprice, l_discount, l_tax)), 4)
                     AS charged_total,
                   ROUND(AVG(CASE WHEN {is_bulk}(l_quantity)
                                  THEN l_extendedprice END), 4) AS bulk_avg_price
            FROM {{li}}
            GROUP BY l_returnflag
            ORDER BY l_returnflag
            """,
            li=load_table(spark, sf_dir, "lineitem"),
        )


@register(
    "fn_timezone",
    """
    SELECT event_id,
           CAST(timezone('America/New_York', CAST(ts AS TIMESTAMPTZ))
                AS VARCHAR) AS ny_wall,
           CAST(timezone('Asia/Tokyo', CAST(ts AS TIMESTAMPTZ))
                AS VARCHAR) AS tokyo_wall,
           CAST(hour(timezone('America/New_York', CAST(ts AS TIMESTAMPTZ)))
                AS INTEGER) AS ny_hour,
           (CAST(timezone('Asia/Tokyo',
                          timezone('Asia/Tokyo', CAST(ts AS TIMESTAMPTZ)))
                 AS TIMESTAMP) = CAST(ts AS TIMESTAMP)) AS roundtrip_ok
    FROM events
    WHERE event_id % 11 = 0
    ORDER BY event_id
    """,
)
def fn_timezone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timezone conversion family [Hive-public: from_utc_timestamp /
    to_utc_timestamp — the Hive idiom for event-time localization]:
    UTC-stored event times rendered as New York and Tokyo wall clocks,
    the local-hour extraction that drives tz-aware hourly rollups, and
    the from→to round-trip identity. Dialect note: with the session
    pinned UTC, Spark `from_utc_timestamp(ts, tz)` ≙ DuckDB
    `timezone(tz, ts::TIMESTAMPTZ)` and `to_utc_timestamp(ts, tz)` ≙
    `timezone(tz, ts)` — DuckDB's single function is direction-typed by
    its argument. The round-trip probe is pinned to Asia/Tokyo (no DST):
    for instants in a DST fall-back ambiguous hour the JVM resolves the
    local→UTC direction to the earlier offset while ICU engines may pick
    the later, so a DST zone could diverge cross-engine. Map-only,
    codegen, scan-pruned.

    At 100 TB: store event time ONCE in UTC and localize at the edge —
    a tz-typed column per market would 25× the storage and break
    cross-region joins; the conversion is a per-row expression, never a
    shuffle."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") % 11 == 0)
    ny = F.from_utc_timestamp("ts", "America/New_York")
    return ev.select(
        "event_id",
        ny.cast("string").alias("ny_wall"),
        F.from_utc_timestamp("ts", "Asia/Tokyo").cast("string").alias("tokyo_wall"),
        F.hour(ny).alias("ny_hour"),
        (
            F.to_utc_timestamp(F.from_utc_timestamp("ts", "Asia/Tokyo"), "Asia/Tokyo")
            == F.col("ts")
        ).alias("roundtrip_ok"),
    ).orderBy("event_id")


@register(
    "fn_binary_codec",
    """
    SELECT c_custkey,
           to_base64(encode(c_name)) AS name_b64,
           decode(from_base64(to_base64(encode(c_name)))) AS name_rt,
           lower(hex(c_mktsegment)) AS seg_hex,
           decode(unhex(hex(c_mktsegment))) AS seg_rt,
           octet_length(encode(c_name)) AS name_bytes
    FROM customer
    WHERE c_custkey % 13 = 0
    ORDER BY c_custkey
    """,
)
def fn_binary_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary codec family [Hive-public: base64 / unbase64 / hex / unhex
    / encode / decode — the Hive binary-transport surface]: base64 and
    hex encodings with full round-trips back to the original string, and
    the UTF-8 byte length (≠ char length for non-ASCII). Spark's hex()
    is uppercase and DuckDB's case differs by input — both sides lower()
    it. Map-only codegen expressions; at 100 TB these run at scan
    bandwidth (the reason binary payloads ride BASE64 text columns
    through Hive tables at all)."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 13 == 0)
    name_bin = F.encode("c_name", "UTF-8")
    return c.select(
        "c_custkey",
        F.base64(name_bin).alias("name_b64"),
        F.decode(F.unbase64(F.base64(name_bin)), "UTF-8").alias("name_rt"),
        F.lower(F.hex("c_mktsegment")).alias("seg_hex"),
        F.decode(F.unhex(F.hex("c_mktsegment")), "UTF-8").alias("seg_rt"),
        F.length(name_bin).alias("name_bytes"),
    ).orderBy("c_custkey")


_AES_KEY = "hts-demo-key-16b"


@register(
    "fn_crypto",
    """
    SELECT n_nationkey,
           n_name AS name_roundtrip,
           TRUE AS rt_ok,
           CAST(NULL AS VARCHAR) AS wrong_key_result,
           16 AS ciphertext_len
    FROM nation
    ORDER BY n_nationkey
    """,
)
def fn_crypto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column encryption family [Hive-public: aes_encrypt / aes_decrypt
    UDFs; Spark-public: SPARK-33721]: AES-128-ECB round-trip of the
    nation name, the error-safe try_aes_decrypt(wrong key) → NULL
    contract, and the padded ciphertext length (NATION_* names of 8-9
    chars → PKCS-padded to one 16-byte block). Mode choice
    is semantic: the round-trip/length columns use ECB because it is
    DETERMINISTIC (GCM salts per call — its ciphertext can't be
    hash-compared); the wrong-key probe uses GCM because it is
    AUTHENTICATED — a wrong key reliably fails the tag check and yields
    NULL, where ECB would emit unauthenticated garbage bytes (only
    detectable ~255/256 of the time via PKCS padding). Production
    guidance: GCM for semantic security, ECB only when
    deterministic-encryption joins are the explicit goal. The
    oracle pins the contract (identity, TRUE, NULL, 16) — DuckDB has no
    AES surface, so the round-trip computed Spark-side must land exactly
    on it. Map-only codegen; at 100 TB encrypt-at-projection runs at
    scan bandwidth — no shuffle participation (but an encrypted column
    can't be pushed down or dictionary-pruned: filter before
    encrypting)."""
    n = load_table(spark, sf_dir, "nation")
    enc = F.expr(f"aes_encrypt(n_name, '{_AES_KEY}', 'ECB')")
    return n.select(
        "n_nationkey",
        F.expr(
            f"CAST(aes_decrypt(aes_encrypt(n_name, '{_AES_KEY}', 'ECB'), "
            f"'{_AES_KEY}', 'ECB') AS STRING)"
        ).alias("name_roundtrip"),
        (
            F.expr(
                f"CAST(aes_decrypt(aes_encrypt(n_name, '{_AES_KEY}', 'ECB'), "
                f"'{_AES_KEY}', 'ECB') AS STRING)"
            )
            == F.col("n_name")
        ).alias("rt_ok"),
        F.expr(
            f"CAST(try_aes_decrypt(aes_encrypt(n_name, '{_AES_KEY}', 'GCM'), "
            f"'0000111122223333', 'GCM') AS STRING)"
        ).alias("wrong_key_result"),
        F.length(enc).cast("int").alias("ciphertext_len"),
    ).orderBy("n_nationkey")


@register(
    "fn_xpath",
    """
    WITH x AS (
      SELECT c_custkey,
             '<c><k>' || CAST(c_custkey AS VARCHAR) || '</k><seg>'
               || c_mktsegment || '</seg></c>' AS xml
      FROM customer WHERE c_custkey % 7 = 0)
    SELECT c_custkey,
           regexp_extract(xml, '<seg>([^<]*)</seg>', 1) AS seg,
           CAST(regexp_extract(xml, '<k>([^<]*)</k>', 1) AS BIGINT) AS key_val,
           (regexp_extract(xml, '<seg>([^<]*)</seg>', 1) = 'BUILDING')
             AS is_building,
           regexp_extract(xml, '<k>([^<]*)</k>', 1) || '|'
             || regexp_extract(xml, '<seg>([^<]*)</seg>', 1) AS all_text
    FROM x
    ORDER BY c_custkey
    """,
)
def fn_xpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive xpath UDF family [Hive-public: xpath, xpath_string,
    xpath_long, xpath_boolean — the LanguageManual XML-extract surface
    every embedded-XML Hive corpus leans on], implemented by Spark SQL
    natively. The XML column is synthesized deterministically from
    customer fields, then re-extracted through four xpath personalities
    (string node, numeric cast, predicate existence, all-nodes array →
    joined). DuckDB has no xpath, so the oracle recomputes the SAME
    extractions via regexp over the identical generated XML — an
    independent derivation, not an echo.

    At 100 TB: xpath runs per-row inside codegen (JVM XML pull-parse,
    no Python); for deeply repeated probing of the same documents,
    parse ONCE to a struct column (from_json/variant idioms) instead of
    N xpath calls re-parsing N times — this op is the migration surface
    for legacy HiveQL, not the recommended storage design."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 7 == 0)
    xml = F.concat(
        F.lit("<c><k>"),
        F.col("c_custkey").cast("string"),
        F.lit("</k><seg>"),
        F.col("c_mktsegment"),
        F.lit("</seg></c>"),
    )
    return (
        c.select("c_custkey", xml.alias("xml"))
        .select(
            "c_custkey",
            F.expr("xpath_string(xml, 'c/seg/text()')").alias("seg"),
            F.expr("xpath_long(xml, 'c/k/text()')").alias("key_val"),
            F.expr("xpath_boolean(xml, \"c/seg[text()='BUILDING']\")").alias(
                "is_building"
            ),
            F.array_join(F.expr("xpath(xml, 'c/*/text()')"), "|").alias(
                "all_text"
            ),
        )
        .orderBy("c_custkey")
    )


@register(
    "fn_sentences",
    """
    SELECT doc_id,
           3 AS n_sentences,
           9 AS n_words,
           'Alpha' AS first_word,
           CAST(doc_id AS VARCHAR) AS last_word,
           'Alpha|' || source || '|scan|Beta|' || lang
             || '|join|Gamma|merge|' || CAST(doc_id AS VARCHAR) AS words_flat
    FROM documents
    """,
)
def fn_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sentences() [Hive-public: tokenizes text into
    array<array<string>> — one inner array of words per sentence, split
    on sentence-ending punctuation, words stripped of punctuation via
    BreakIterator]. A three-sentence document is synthesized per row
    from fixture columns ('... scan. ... join! ... <id>?') so the
    oracle can state the expected segmentation constructively: sentence
    count, flattened word count, first/last word, and the full
    '|'-joined token stream. Downstream n-gram estimation (Hive's
    ngrams()/context_ngrams() companions) is covered by llm_ngram_stats
    / llm_bigram_lm over the same tokenizer machinery.

    At 100 TB: sentences() runs JVM-side inside codegen — this is the
    sentence-segmentation primitive for chunking pipelines
    (llm_chunk_split) without a Python tokenizer hop; the
    array<array<string>> stays columnar (no explode) until a consumer
    actually fans out."""
    d = load_table(spark, sf_dir, "documents")
    synth = F.concat(
        F.lit("Alpha "), F.col("source"), F.lit(" scan. Beta "),
        F.col("lang"), F.lit(" join! Gamma merge "),
        F.col("doc_id"), F.lit("?"),
    )
    sent = F.sentences(synth)
    flat = F.flatten(sent)
    return d.select(
        "doc_id",
        F.size(sent).alias("n_sentences"),
        F.size(flat).alias("n_words"),
        F.element_at(flat, 1).alias("first_word"),
        F.element_at(flat, -1).alias("last_word"),
        F.array_join(flat, "|").alias("words_flat"),
    )


@register(
    "fn_context_ngrams",
    """
    WITH tok AS (
      SELECT string_split(text, ' ') AS t FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    pairs AS (
      SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> CASE WHEN t[i] = 'fast'
                                             THEN t[i + 1] END)) AS follower
      FROM tok
    )
    SELECT follower, COUNT(*) AS n
    FROM pairs WHERE follower IS NOT NULL
    GROUP BY follower
    ORDER BY n DESC, follower
    LIMIT 15
    """,
)
def fn_context_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """context_ngrams [Hive-public: context_ngrams(sentences(text),
    array('fast', null), k) — top-k n-grams matching a context pattern,
    here 'the k most frequent words FOLLOWING «fast»']. Tokens come from
    the same sentences() tokenizer as fn_sentences (the corpus is
    punctuation-free, so segmentation yields one sentence whose words
    the DuckDB oracle reproduces with string_split); adjacent pairs are
    formed positionally with a JVM-side higher-order transform over an
    index sequence — no explode until the candidate followers are
    already filtered to the context hits. Top-k is tie-safe
    (freq DESC, word ASC). The unconstrained-ngram sibling surface
    (ngrams()) is llm_ngram_stats.

    At 100 TB: the context filter drops ~|vocab| of the pair stream
    before the explode+shuffle, so the aggregate state is |followers of
    context|, not |bigrams|; the final top-k is a TakeOrdered, not a
    global sort."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.flatten(F.sentences(F.col("text"))).alias("t")).filter(
        F.size("t") >= 2
    )
    followers = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - 2),
                lambda i: F.when(
                    F.element_at(F.col("t"), i + 1) == "fast",
                    F.element_at(F.col("t"), i + 2),
                ),
            )
        ).alias("follower")
    ).filter(F.col("follower").isNotNull())
    return (
        followers.groupBy("follower")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "follower")
        .limit(15)
    )


@register(
    "fn_bround",
    """
    SELECT l_orderkey, l_linenumber,
           round_even(l_quantity + 0.5, 0) AS q_banker,
           ROUND(l_quantity + 0.5, 0) AS q_half_up,
           round_even(l_extendedprice / 7, 2) AS price_banker
    FROM lineitem
    WHERE l_orderkey < 200
    """,
)
def fn_bround(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive ``bround()`` — HALF_EVEN (banker's) rounding, the statutory
    mode for financial aggregation because it removes the systematic
    upward bias of round-half-up over large sums. ``l_quantity + 0.5``
    manufactures an exact tie on EVERY row, so the banker vs half-up
    columns differ on half the rows — the oracle (DuckDB round_even vs
    ROUND) verifies the tie-break direction itself, not just the easy
    non-tie cases; the divided-price column covers the non-tie path at
    2-decimal scale.

    At 100 TB: a pure codegen'd expression — no shuffle, no Python;
    rounding mode is a correctness choice, not a performance one, but
    divergent modes across engines are a classic silent reconciliation
    bug, which is exactly what the cross-engine oracle pins."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 200)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.bround(F.col("l_quantity") + 0.5, 0).alias("q_banker"),
        F.round(F.col("l_quantity") + 0.5, 0).alias("q_half_up"),
        F.bround(F.col("l_extendedprice") / 7, 2).alias("price_banker"),
    )


@register(
    "fn_elt_field",
    """
    SELECT o_orderkey,
           CASE (o_orderkey % 3) + 1
             WHEN 1 THEN 'alpha' WHEN 2 THEN 'beta' WHEN 3 THEN 'gamma'
           END AS elt_pick,
           CASE o_orderstatus
             WHEN 'O' THEN 1 WHEN 'F' THEN 2 WHEN 'P' THEN 3 ELSE 0
           END AS field_idx,
           'pad:' || repeat(' ', 3) || o_orderstatus AS spaced
    FROM orders WHERE o_orderkey < 500
    """,
)
def fn_elt_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive ``elt()`` / ``field()`` / ``space()`` — the positional string
    pickers MySQL-lineage HiveQL carries: elt(n, s1..sk) returns the
    n-th argument, field(s, s1..sk) the 1-based index of s (0 when
    absent), space(n) = n spaces. Spark ships elt(); field and space
    compose from CASE and repeat(' '), which is also how the DuckDB
    oracle re-derives all three — independent derivation, not an echo.

    At 100 TB: pure codegen'd expressions, no shuffle; these matter
    only because migrated HiveQL uses them — the engine must accept the
    surface, and constant-folding eliminates most uses at plan time."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    return o.select(
        "o_orderkey",
        F.elt(
            (F.col("o_orderkey") % 3 + 1).cast("int"),
            F.lit("alpha"), F.lit("beta"), F.lit("gamma"),
        ).alias("elt_pick"),
        # field(o_orderstatus, 'O','F','P') composed portably:
        F.when(F.col("o_orderstatus") == "O", 1)
        .when(F.col("o_orderstatus") == "F", 2)
        .when(F.col("o_orderstatus") == "P", 3)
        .otherwise(0)
        .alias("field_idx"),
        F.concat(F.lit("pad:"), F.expr("space(3)"), F.col("o_orderstatus")).alias(
            "spaced"
        ),
    )
