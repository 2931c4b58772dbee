"""SURVEY.md §2.J — UDF / UDAF / UDTF tiers.

Reference surface: Hive Java UDF / GenericUDF / UDAF / UDTF
[Hive-public] (reference checkout empty — SURVEY.md §0.1). The idiomatic
PySpark equivalents are the UDF tiers, worst-to-best:
row-at-a-time Python UDF (pickle per row) → Arrow-vectorized pandas_udf
(Series per batch) → grouped-agg pandas_udf (UDAF) → applyInPandas
(grouped-map UDTF) → mapInPandas (partition-stream transform).

Scale notes (100 TB): every Python-touching operator here ships Arrow
record batches executor↔worker — acceptable when the logic genuinely
needs Python (the docstrings say why), and the row-at-a-time variant
exists only to cover the Hive UDF surface; everything hot elsewhere in
this engine stays JVM-side. applyInPandas shuffles on the group key and
requires groups to fit in worker memory — keys here are bounded-size
groups (per-nation ≤ thousands of rows even at 100 TB after projection).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from hive_test_spark.io import load_table
from hive_test_spark.registry import register
from hive_test_spark.session import temp_functions


# ---- row-at-a-time scalar UDF (the Hive `CREATE FUNCTION` analogue) ----

_PRIORITY_RANK = {
    "1-URGENT": 1,
    "2-HIGH": 2,
    "3-MEDIUM": 3,
    "4-NOT SPECIFIED": 4,
    "5-LOW": 5,
}


def _priority_rank(p: str | None) -> int | None:
    if p is None:
        return None
    return _PRIORITY_RANK.get(p, -1)


@register(
    "udf_python_scalar",
    """
    SELECT o_orderkey,
           CASE o_orderpriority
             WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2 WHEN '3-MEDIUM' THEN 3
             WHEN '4-NOT SPECIFIED' THEN 4 WHEN '5-LOW' THEN 5 ELSE -1 END AS prio_rank
    FROM orders
    WHERE CASE o_orderpriority
             WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2 WHEN '3-MEDIUM' THEN 3
             WHEN '4-NOT SPECIFIED' THEN 4 WHEN '5-LOW' THEN 5 ELSE -1 END <= 2
    """,
)
def udf_python_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF, registered for SQL too. Covers Hive's
    custom-UDF surface; 10-100× slower than pandas_udf — never in a hot
    path, and this dict lookup would be a CASE expression in production."""
    o = load_table(spark, sf_dir, "orders")
    prio_udf = F.udf(_priority_rank, T.IntegerType())
    spark.udf.register("hts_priority_rank", _priority_rank, T.IntegerType())
    return (
        o.select("o_orderkey", prio_udf(F.col("o_orderpriority")).alias("prio_rank"))
        .filter(F.col("prio_rank") <= 2)
    )


# ---- Arrow-vectorized scalar pandas_udf ----


def _net_price(price: pd.Series, disc: pd.Series, tax: pd.Series) -> pd.Series:
    # Vectorized numpy arithmetic over Arrow batches (SNIPPETS.md:39-46 pattern).
    return (price * (1.0 - disc) * (1.0 + tax)).round(6)


@register(
    "udf_pandas_scalar",
    """
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6) AS net_price
    FROM lineitem
    WHERE l_quantity >= 30.0
    """,
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized (Arrow) scalar UDF: Series→Series per batch."""
    # pandas_udf built here, not at import time: type resolution needs an
    # active session, and the driver imports this module before creating one.
    net_price_pdf = pandas_udf(_net_price, T.DoubleType())
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 30.0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        net_price_pdf("l_extendedprice", "l_discount", "l_tax").alias("net_price"),
    )


# ---- grouped-agg pandas_udf (UDAF) ----


def _weighted_avg_price(price: pd.Series, qty: pd.Series) -> float:
    # Custom aggregate: quantity-weighted mean price.
    tot = qty.sum()
    if tot == 0:
        return float("nan")
    return round(float((price * qty).sum() / tot), 6)


@register(
    "udaf_pandas_grouped_agg",
    """
    SELECT l_returnflag,
           ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 6) AS wavg_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def udaf_pandas_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF via grouped-agg pandas_udf (SNIPPETS.md:49-58 pattern):
    whole group's columns arrive as Series, returns one scalar."""
    from pyspark.sql.functions import PandasUDFType

    wavg = pandas_udf(_weighted_avg_price, T.DoubleType(), functionType=PandasUDFType.GROUPED_AGG)
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        wavg("l_extendedprice", "l_quantity").alias("wavg_price")
    )


# ---- grouped-map applyInPandas (UDTF-ish) ----


def _zscore_group(pdf: pd.DataFrame) -> pd.DataFrame:
    sd = pdf["c_acctbal"].std(ddof=1)  # sample std — matches stddev_samp
    mu = pdf["c_acctbal"].mean()
    if pd.isna(sd) or sd == 0.0:
        z = pd.Series(0.0, index=pdf.index)
    else:
        z = (pdf["c_acctbal"] - mu) / sd
    return pd.DataFrame(
        {"c_custkey": pdf["c_custkey"], "c_nationkey": pdf["c_nationkey"], "bal_z": z.round(6)}
    )


@register(
    "udtf_grouped_map",
    """
    SELECT c_custkey, c_nationkey,
           ROUND(CASE WHEN stddev_samp(c_acctbal) OVER w IS NULL
                       OR stddev_samp(c_acctbal) OVER w = 0.0
                      THEN 0.0
                      ELSE (c_acctbal - avg(c_acctbal) OVER w) / stddev_samp(c_acctbal) OVER w
                 END, 6) AS bal_z
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey)
    """,
)
def udtf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-transform (Hive UDTF analogue): applyInPandas z-score
    normalization per nation — arbitrary pandas logic per group, schema
    declared up front."""
    c = load_table(spark, sf_dir, "customer")
    schema = "c_custkey long, c_nationkey int, bal_z double"
    return c.select("c_custkey", "c_nationkey", "c_acctbal").groupBy("c_nationkey").applyInPandas(
        _zscore_group, schema
    )


# ---- partition-wise mapInPandas ----


def _doc_features(batches):
    for pdf in batches:
        toks = pdf["text"].str.split(" ")
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_tokens": toks.str.len().astype("int64"),
                "n_uniq_tokens": toks.map(lambda t: len(set(t))).astype("int64"),
                "mentions_spark": pdf["text"].str.contains("spark", regex=False),
            }
        )


@register(
    "udf_map_in_pandas",
    """
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_uniq_tokens,
           contains(text, 'spark') AS mentions_spark
    FROM documents
    """,
)
def udf_map_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-stream transform: mapInPandas iterates Arrow batches —
    the plumbing tier used for multimodal decode (§2.L). Deterministic
    row-wise features, so the oracle is still exact SQL."""
    d = load_table(spark, sf_dir, "documents")
    schema = "doc_id long, n_tokens long, n_uniq_tokens long, mentions_spark boolean"
    return d.select("doc_id", "text").mapInPandas(_doc_features, schema)


# ---- Hive TRANSFORM ... USING script contract ----


def _transform_via_script(batches):
    """Emulates the Hive streaming-script wire protocol per Arrow batch:
    rows -> tab-delimited lines ('\\N' for NULL) on the script's stdin,
    script emits tab-delimited lines on stdout, lines parsed back into
    typed columns. The 'script' here is an in-process line transformer
    with the exact stdin/stdout framing a real `TRANSFORM ... USING
    'python my.py'` would see."""
    for pdf in batches:
        stdin_lines = (
            pdf["c_custkey"].astype("int64").astype(str)
            + "\t" + pdf["c_mktsegment"].fillna("\\N")
            + "\t" + pdf["c_acctbal"].map(repr)
        )
        keys, segs, bands = [], [], []
        for line in stdin_lines:  # the script reads line-by-line
            key, seg, bal = line.rstrip("\n").split("\t")
            seg = None if seg == "\\N" else seg.lower()
            band = "HIGH" if float(bal) > 5000.0 else "LOW"
            keys.append(int(key))
            segs.append(seg)
            bands.append(band)
        yield pd.DataFrame({"c_custkey": keys, "seg_lower": segs, "bal_band": bands})


@register(
    "transform_script",
    """
    SELECT c_custkey,
           lower(c_mktsegment) AS seg_lower,
           CASE WHEN c_acctbal > 5000.0 THEN 'HIGH' ELSE 'LOW' END AS bal_band
    FROM customer
    """,
)
def transform_script(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive `SELECT TRANSFORM (...) USING 'script' AS (...)` [Hive-public
    grammar; reference checkout empty — SURVEY.md §0.1]: arbitrary
    row-stream rewrite through an external script's stdin/stdout, the
    last HiveQL grammar family without a key. Spark-first construction:
    the tab-delimited/'\\N' wire protocol is framed inside mapInPandas so
    rows stream through the script per Arrow batch with zero driver
    involvement — same contract, vectorized transport. The script logic
    is deliberately SQL-expressible so the DuckDB oracle is exact.

    100 TB note: this is a map-only op — no shuffle, scales linearly;
    per-batch framing cost is the same O(rows) a real pipe would pay,
    minus the process-spawn and context-switch overhead."""
    c = load_table(spark, sf_dir, "customer")
    schema = "c_custkey long, seg_lower string, bal_band string"
    return c.select("c_custkey", "c_mktsegment", "c_acctbal").mapInPandas(
        _transform_via_script, schema
    )


@register(
    "interop_reflect",
    """
    SELECT o_orderkey, lower(to_hex(o_orderkey)) AS hex_key, bin(o_orderkey) AS bin_key
    FROM orders WHERE o_orderkey < 500
    """,
)
def interop_reflect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive ``reflect()``/``java_method()`` parity: call arbitrary static
    JVM methods per row (here Integer.toHexString / toBinaryString,
    oracled against DuckDB's to_hex/bin). This is the Hive escape hatch
    for one-off Java logic WITHOUT a Python round trip — the call happens
    in the executor JVM, so it costs reflection dispatch but never
    serialization. Still codegen-opaque: prefer a built-in when one
    exists; reflect is for the long tail."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    return o.select(
        "o_orderkey",
        F.expr("reflect('java.lang.Integer','toHexString', CAST(o_orderkey AS INT))").alias("hex_key"),
        F.expr("reflect('java.lang.Integer','toBinaryString', CAST(o_orderkey AS INT))").alias("bin_key"),
    )


@register(
    "udtf_python_class",
    """
    SELECT d.doc_id, t.token, CAST(length(t.token) AS INTEGER) AS token_len
    FROM documents d, UNNEST(string_split(d.text, ' ')) AS t(token)
    WHERE d.doc_id % 5 = 0 AND length(t.token) >= 5
    ORDER BY doc_id, token
    """,
)
def udtf_python_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-based Python UDTF [Spark-public: SPARK-43798, the PySpark 4
    `@udtf` API — the direct analogue of Hive's GenericUDTF: a class
    whose eval() yields 0..N output rows per input row], invoked through
    SQL `LATERAL` exactly like a Hive UDTF in a LATERAL VIEW. Splits
    documents into long tokens (≥5 chars); the oracle is the relational
    spelling (UNNEST of string_split) — proving the UDTF's row contract,
    not just that it ran.

    vs udtf_grouped_map (applyInPandas): that tier is grouped
    (one pandas frame per key); THIS tier is per-row streaming with
    arbitrary fan-out and no shuffle requirement. At 100 TB a lateral
    UDTF is map-side — rows never co-locate, state never accumulates;
    Arrow batches flow executor→worker→executor partition-locally."""
    from pyspark.sql.functions import udtf


    @udtf(returnType="token: string, token_len: int")
    class LongTokens:
        def eval(self, text: str):
            if text is None:
                return
            for w in text.split(" "):
                if len(w) >= 5:
                    yield w, len(w)

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    with temp_functions(spark, "hts_long_tokens") as (long_tokens,):
        spark.udtf.register(long_tokens, LongTokens)
        return spark.sql(
            f"""
            SELECT d.doc_id, t.token, t.token_len
            FROM {{docs}} d, LATERAL {long_tokens}(d.text) t
            ORDER BY doc_id, token
            """,
            docs=docs,
        )


_PYDS_ROWS = 600
_PYDS_PARTITIONS = 6
# The reader carves [0, _PYDS_ROWS) into equal floor-division slices; a
# non-divisible pair would silently drop the tail while the oracle keeps
# counting range(_PYDS_ROWS). Fail loudly at import instead.
assert _PYDS_ROWS % _PYDS_PARTITIONS == 0, "partition slices must tile the row range"


@register(
    "interop_python_datasource",
    f"""
    SELECT CAST(i % {_PYDS_PARTITIONS} AS INTEGER) AS shard,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(i AS BIGINT) * CAST(i AS BIGINT)) AS BIGINT)
             AS sum_sq,
           md5(CAST(MIN(i) AS VARCHAR)) AS min_digest
    FROM range({_PYDS_ROWS}) t(i)
    GROUP BY i % {_PYDS_PARTITIONS}
    ORDER BY shard
    """,
)
def interop_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource [Spark-public: the Spark 4 Python Data
    Source API — DataSource/DataSourceReader with partitions(), the
    pure-Python path to expose ANY external system as a DataFrame].
    A deterministic synthetic source emits 600 rows across
    6 reader partitions (each partition generates its own id
    range — the partition list is what Spark parallelizes over); the
    query aggregates per shard, and the DuckDB oracle reconstructs the
    identical rows from a range() generator — proving the custom reader
    delivers exactly the declared row set, no dupes or gaps across
    partition boundaries.

    At 100 TB: partitions() is the scale contract — one entry per
    independent split of the remote system (file, shard, key-range), so
    reader parallelism tracks the source's own partitioning; per-row
    generation happens executor-side in Python workers (Arrow-batched
    by the runtime), and nothing flows through the driver. Use this API
    for systems with no JVM connector; prefer JVM sources when they
    exist (no Python worker hop)."""
    import pyspark.sql.datasource as pyds


    class _Part(pyds.InputPartition):
        def __init__(self, start: int, end: int) -> None:
            self.start, self.end = start, end

    class _SyntheticReader(pyds.DataSourceReader):
        def partitions(self):
            step = _PYDS_ROWS // _PYDS_PARTITIONS
            return [
                _Part(p * step, (p + 1) * step)
                for p in range(_PYDS_PARTITIONS)
            ]

        def read(self, partition):
            for i in range(partition.start, partition.end):
                yield (i,)

    class _SyntheticSource(pyds.DataSource):
        @classmethod
        def name(cls) -> str:
            return "hts_synthetic"

        def schema(self) -> str:
            return "i long"

        def reader(self, schema):
            return _SyntheticReader()

    try:  # idempotent within a session: re-register raises on some builds
        spark.dataSource.register(_SyntheticSource)
    except Exception as exc:  # narrow: only swallow the already-registered case
        if "hts_synthetic" not in str(exc):
            raise
    rows = spark.read.format("hts_synthetic").load()
    return (
        rows.groupBy(
            (F.col("i") % _PYDS_PARTITIONS).cast("int").alias("shard")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("i") * F.col("i")).alias("sum_sq"),
            F.md5(F.min("i").cast("string")).alias("min_digest"),
        )
        .orderBy("shard")
    )


@register(
    "interop_pandas_on_spark",
    """
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 6) AS total_price,
           MAX(o_totalprice) AS max_price
    FROM orders
    WHERE o_totalprice > 1000
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def interop_pandas_on_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas API on Spark [Spark-public: pyspark.pandas, the third
    query front end beside the DataFrame API and SQL text]: a
    pandas-shaped read → boolean-mask filter → groupby-agg →
    reset_index pipeline executed entirely as Spark plans (pandas-on-
    Spark DataFrames are lazy wrappers over Spark plans, not
    materialized pandas), then handed back via to_spark() and compared
    against the plain-SQL oracle — proving front-end equivalence.
    index_col is pinned on read: WITHOUT it pandas-on-Spark attaches a
    'distributed-sequence' default index, which at 100 TB forces an
    extra pass to number rows; with it, the index is just an existing
    column and the read stays a single pruned scan.

    At 100 TB: every step here compiles to the same Catalyst plan the
    DataFrame API would produce (pushdown/pruning/partial aggs apply
    unchanged); the API is for pandas-fluent users, not a different
    engine — but beware pandas idioms with no distributed equivalent
    (positional iloc, implicit global order) which raise or
    re-sort."""
    import os

    import pyspark.pandas as ps

    psdf = ps.read_parquet(
        os.path.join(sf_dir, "orders.parquet"), index_col="o_orderkey"
    )
    psdf = psdf[psdf["o_totalprice"] > 1000]
    agg = (
        psdf.groupby("o_orderstatus")
        .agg({"o_totalprice": ["count", "sum", "max"]})
        .reset_index()
    )
    agg.columns = ["o_orderstatus", "n_orders", "total_price", "max_price"]
    sdf = agg.to_spark()
    return sdf.select(
        "o_orderstatus",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.round("total_price", 6).alias("total_price"),
        "max_price",
    ).orderBy("o_orderstatus")


@register(
    "interop_map_in_arrow",
    """
    SELECT l_orderkey,
           ROUND(SUM(ROUND(l_extendedprice * (1 - l_discount), 4)), 6)
             AS order_revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    GROUP BY l_orderkey
    """,
)
def interop_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow``: the zero-copy RecordBatch sibling of mapInPandas —
    the Python function receives raw ``pyarrow.RecordBatch`` objects, so
    columnar libraries (pyarrow.compute here; polars/numba in the wild)
    can run without the Arrow→pandas conversion mapInPandas pays. The
    batch computes per-line discounted revenue with pyarrow.compute
    kernels (C++ SIMD, no per-row Python), and Spark aggregates the
    result JVM-side — the typical split for a native-columnar extension.

    100 TB note: mapInArrow is a narrow map with Arrow-batch transport —
    cost is one serialize/deserialize per batch, amortized by batch size
    (spark.sql.execution.arrow.maxRecordsPerBatch). Prefer it over
    mapInPandas whenever the payload logic is already Arrow-native: it
    skips the pandas materialization both directions. The groupBy stays
    in the JVM so the shuffle/partial-agg plan is unchanged."""
    import pyarrow as pa
    import pyarrow.compute as pc


    def _line_revenue(batches):
        for batch in batches:
            t = pa.Table.from_batches([batch])
            rev = pc.round(
                pc.multiply(
                    t.column("l_extendedprice"),
                    pc.subtract(pa.scalar(1.0), t.column("l_discount")),
                ),
                ndigits=4,
            )
            yield from pa.table(
                {"l_orderkey": t.column("l_orderkey"), "line_revenue": rev}
            ).to_batches()

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    lines = li.mapInArrow(_line_revenue, "l_orderkey long, line_revenue double")
    return lines.groupBy("l_orderkey").agg(
        F.round(F.sum("line_revenue"), 6).alias("order_revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "interop_observe_metrics",
    """
    SELECT COUNT(*) AS n_rows,
           CAST(COUNT(CASE WHEN l_discount > 0.05 THEN 1 END) AS BIGINT)
             AS n_discounted,
           ROUND(SUM(l_extendedprice), 4) AS sum_price,
           ROUND(MIN(l_extendedprice), 6) AS min_price,
           ROUND(MAX(l_extendedprice), 6) AS max_price
    FROM lineitem
    WHERE l_returnflag = 'A'
    """,
)
def interop_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`DataFrame.observe` / `Observation` metrics [Spark-public:
    SPARK-34806]: named aggregate metrics attached to an EXISTING pass —
    the pipeline-QA idiom where row counts and value bounds are
    harvested from the query you were already running, not from a
    second scan. Here the observed pass's real work is a parquet write
    (the typical ingest step); the observation node collects
    count/conditional-count/sum/min/max as the rows stream through it,
    and those observed values — not a recomputation — are returned and
    hash-checked against the oracle's direct aggregation. A metrics
    bug (dropped batch, double-observed partition, retry double-count)
    shows as a value mismatch.

    At 100 TB this is the difference between free QA and a second
    full-table pass: the observe node is a zero-shuffle streaming
    accumulator inside the existing plan. Caveat worth pinning: task
    RETRIES can double-count observed metrics in failure scenarios —
    Spark de-dupes per-task updates for successful stages, which this
    op relies on; alerting pipelines should treat observe metrics as
    at-least-once under executor loss."""
    import shutil as _shutil

    from pyspark.sql import Observation

    from hive_test_spark.io import scratch_dir
    from hive_test_spark.sources.scans import _sf_tag

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "A")
    obs = Observation("qa")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_discounted"),
        F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
        F.round(F.min("l_extendedprice"), 6).alias("min_price"),
        F.round(F.max("l_extendedprice"), 6).alias("max_price"),
    )
    out = scratch_dir("observe", _sf_tag(sf_dir))
    _shutil.rmtree(out, ignore_errors=True)
    observed.select("l_orderkey", "l_extendedprice", "l_discount").write.mode(
        "overwrite"
    ).parquet(out)
    m = obs.get
    return spark.createDataFrame(
        [
            (
                m["n_rows"],
                m["n_discounted"],
                m["sum_price"],
                m["min_price"],
                m["max_price"],
            )
        ],
        "n_rows long, n_discounted long, sum_price double, "
        "min_price double, max_price double",
    )


@register(
    "interop_arrow_ingest",
    """
    WITH weights(o_orderpriority, weight) AS (
      VALUES ('1-URGENT', 4.0), ('2-HIGH', 3.0), ('3-MEDIUM', 2.0),
             ('4-NOT SPECIFIED', 1.0), ('5-LOW', 0.5)
    )
    SELECT w.o_orderpriority,
           COUNT(*) AS n_orders,
           ROUND(SUM(o.o_totalprice * w.weight), 4) AS weighted_total
    FROM orders o JOIN weights w USING (o_orderpriority)
    GROUP BY w.o_orderpriority
    """,
)
def interop_arrow_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-native ingest boundary [Spark-public:
    ``spark.createDataFrame(pyarrow.Table)`` — since Spark 4 a pyarrow
    Table converts directly, no pandas detour]: a config dimension
    (priority weights) materialized as an Arrow table enters the engine
    typed (utf8 + float64 → StringType + DoubleType with no inference
    pass), then broadcast-joins the orders fact for a weighted rollup.
    The VALUES-based oracle pins that Arrow-typed ingest produces the
    same join keys and arithmetic as SQL literals —
    ``sql_values_inline`` is the text-front twin of this boundary.

    At 100 TB: createDataFrame is a DRIVER-side ingest — correct only
    for dimension/config data (the table ships to executors via
    broadcast, so driver memory bounds it). Bulk Arrow data belongs on
    the executor path: mapInArrow (interop_map_in_arrow) for
    transforms, or parquet/Arrow-IPC files read distributed. The rule:
    Arrow INTO the driver = config; Arrow ON executors = data."""
    import pyarrow as pa

    weights = pa.table(
        {
            "o_orderpriority": pa.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                type=pa.string(),
            ),
            "weight": pa.array([4.0, 3.0, 2.0, 1.0, 0.5], type=pa.float64()),
        }
    )
    dim = spark.createDataFrame(weights)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    )
    return (
        o.join(dim, "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice") * F.col("weight")), 4).alias(
                "weighted_total"
            ),
        )
    )
