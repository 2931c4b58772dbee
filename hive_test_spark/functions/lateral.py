"""SURVEY.md §2.H — lateral views / table-generating functions (UDTFs).

Reference surface: HiveQL LATERAL VIEW explode / posexplode / json_tuple
/ stack [Hive-public] (reference checkout empty — SURVEY.md §0.1).

Scale notes (100 TB): explode is a narrow (pipelined) operator — no
shuffle; output row count is the fan-out. Keep the projection narrow
before exploding so the duplicated columns are small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_test_spark.io import load_table
from hive_test_spark.registry import register


@register(
    "udtf_explode",
    """
    SELECT token, COUNT(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
    GROUP BY token
    HAVING COUNT(*) > 50
    """,
)
def udtf_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL VIEW explode: flatten token arrays → word counts."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 50)
    )


@register(
    "udtf_posexplode",
    """
    SELECT doc_id, pos, token FROM (
      SELECT doc_id,
             generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
             unnest(string_split(text, ' ')) AS token
      FROM documents
    ) t
    WHERE pos < 5
    """,
)
def udtf_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL VIEW posexplode: flatten with ordinal, keep first 5 tokens."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "token"))
        .filter(F.col("pos") < 5)
    )


@register(
    "udtf_json_tuple",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
    FROM events
    GROUP BY event_type
    """,
)
def udtf_json_tuple(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL VIEW json_tuple: multi-field JSON extraction from props."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select("event_type", F.json_tuple(F.col("props"), "k").alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("k").cast("bigint")).alias("sum_k"),
        )
    )


@register(
    "udtf_stack",
    """
    SELECT l_returnflag, metric, val
    FROM (
      SELECT l_returnflag, 'sum_qty' AS metric, ROUND(SUM(l_quantity), 6) AS val
      FROM lineitem GROUP BY l_returnflag
      UNION ALL
      SELECT l_returnflag, 'sum_price' AS metric, ROUND(SUM(l_extendedprice), 6) AS val
      FROM lineitem GROUP BY l_returnflag
      UNION ALL
      SELECT l_returnflag, 'n_rows' AS metric, CAST(COUNT(*) AS DOUBLE) AS val
      FROM lineitem GROUP BY l_returnflag
    ) u
    """,
)
def udtf_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stack(n, ...) — unpivot wide aggregates into (metric, val) rows."""
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 6).alias("sum_price"),
        F.count(F.lit(1)).cast("double").alias("n_rows"),
    )
    return wide.select(
        "l_returnflag",
        F.expr(
            "stack(3, 'sum_qty', sum_qty, 'sum_price', sum_price, 'n_rows', n_rows) AS (metric, val)"
        ),
    )


@register(
    "udtf_inline",
    """
    SELECT o_orderkey, attr, val FROM (
      SELECT o_orderkey, 'priority' AS attr, o_orderpriority AS val
      FROM orders WHERE o_orderkey % 50 = 0
      UNION ALL
      SELECT o_orderkey, 'status' AS attr, o_orderstatus AS val
      FROM orders WHERE o_orderkey % 50 = 0
      UNION ALL
      SELECT o_orderkey, 'custbucket' AS attr, CAST(o_custkey % 7 AS VARCHAR) AS val
      FROM orders WHERE o_orderkey % 50 = 0
    ) u
    """,
)
def udtf_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL VIEW inline(array<struct>) [Hive-public LanguageManual
    UDF: inline] — explode an array of structs into one row per struct
    with the struct fields as top-level columns; the classic HiveQL way
    to unnest array-of-struct columns (the last §2.H family member after
    explode/posexplode/json_tuple/stack). Here each order fans out into
    three (attr, val) rows; the oracle reconstructs the identical bag
    with a 3-way UNION ALL.

    At 100 TB: inline, like explode, is a narrow pipelined generator —
    no shuffle, output rows = input rows x array length. The struct
    array is built from already-read columns, so scan pruning is
    unaffected; keep the carried key columns narrow because they are
    duplicated per emitted row."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 50 == 0)
    arr = F.array(
        F.struct(F.lit("priority").alias("attr"), F.col("o_orderpriority").alias("val")),
        F.struct(F.lit("status").alias("attr"), F.col("o_orderstatus").alias("val")),
        F.struct(
            F.lit("custbucket").alias("attr"),
            (F.col("o_custkey") % 7).cast("string").alias("val"),
        ),
    )
    return o.select("o_orderkey", F.inline(arr))


@register(
    "udtf_explode_map",
    """
    SELECT prop_key, prop_val, COUNT(*) AS n FROM (
      SELECT 'type' AS prop_key, event_type AS prop_val FROM events
      UNION ALL
      SELECT 'bucket' AS prop_key, CAST(user_id % 10 AS VARCHAR) AS prop_val
      FROM events
    ) kv
    GROUP BY prop_key, prop_val
    """,
)
def udtf_explode_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL VIEW explode(map<K,V>) [Hive-public: the map-typed
    explode emitting (key, value) rows] over str_to_map — the standard
    HiveQL idiom for serialized property bags ('k1=v1&k2=v2' columns).
    Each event's synthesized property string is parsed with
    str_to_map(s, '&', '='), exploded to (prop_key, prop_val) rows, and
    aggregated; the oracle rebuilds the same bag with a UNION ALL (map
    iteration order never escapes into the result because the aggregate
    is keyed on the exploded pairs themselves).

    At 100 TB: str_to_map + explode is narrow (no shuffle until the
    count aggregate, which map-side combines on low-cardinality pairs).
    This beats regex-per-key extraction N-fold: one parse emits all
    keys, instead of one full-column regex pass per property."""
    ev = load_table(spark, sf_dir, "events")
    mstr = F.concat(
        F.lit("type="), F.col("event_type"),
        F.lit("&bucket="), (F.col("user_id") % 10).cast("string"),
    )
    m = F.str_to_map(mstr, F.lit("&"), F.lit("="))
    return (
        ev.select(F.explode(m).alias("prop_key", "prop_val"))
        .groupBy("prop_key", "prop_val")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "udtf_parse_url_tuple",
    """
    WITH urls AS (
      SELECT doc_id,
             'https://' || source || '.example.com/docs/' || doc_id
               || '?lang=' || lang || '&src=' || source AS url
      FROM documents
    )
    SELECT doc_id,
           'https' AS proto,
           regexp_extract(url, '^https://([^/]+)/', 1) AS host,
           regexp_extract(url, '^https://[^/]+(/[^?]*)', 1) AS path,
           regexp_extract(url, '\\?(.*)$', 1) AS query,
           regexp_extract(url, 'lang=([^&]*)', 1) AS query_lang,
           regexp_extract(url, 'src=([^&]*)', 1) AS query_src
    FROM urls
    """,
)
def udtf_parse_url_tuple(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parse_url_tuple [Hive-public: the UDTF twin of parse_url —
    extracts N URL parts in ONE pass, emitting exactly one row per
    input]. Spark has no parse_url_tuple builtin, so the one-row-per-
    input UDTF semantics are expressed as a single projection of
    parse_url calls over a shared url expression — Catalyst's common
    subexpression elimination evaluates the url (and its parsed form)
    once per row inside whole-stage codegen, which is precisely the
    one-pass property the Hive UDTF exists for. Includes keyed QUERY
    extraction (QUERY:lang / QUERY:src), the part fn_url does not
    cover; the oracle re-derives every part with portable regexes.

    At 100 TB: stays entirely inside codegen (no Python, no shuffle);
    for web-corpus provenance this is the host/path normalization step
    feeding per-domain dedup and quality priors (llm_domain_cap)."""
    d = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/docs/"),
        F.col("doc_id"), F.lit("?lang="), F.col("lang"),
        F.lit("&src="), F.col("source"),
    )
    return d.select(
        "doc_id",
        F.parse_url(url, F.lit("PROTOCOL")).alias("proto"),
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("query_lang"),
        F.parse_url(url, F.lit("QUERY"), F.lit("src")).alias("query_src"),
    )
