"""SQL front end twins (SURVEY.md §3.2): the same engine surface driven
entirely through ``spark.sql(...)`` text instead of the DataFrame API.

SURVEY §3.2 promises BOTH front ends — a Hive-test user migrates HiveQL
text, not DataFrame chains, so the SQL parser path (including
HiveQL-dialect constructs Spark SQL inherits: LATERAL VIEW, DISTRIBUTE
BY / SORT BY / CLUSTER BY, LEFT SEMI / ANTI JOIN, and optimizer hints)
must be exercised against the same DuckDB oracles as the DataFrame ops.
Every operator here parses SQL text into the SAME Catalyst plans the
DataFrame twins produce — tests/test_contract.py counts the registry
entries whose ``__module__`` is this one (the registry's wrapper keeps
it) and asserts there are ≥ 10, each hash-oracled.

Each op passes its input tables to ``spark.sql`` as ``{name}`` arguments.
PySpark's formatter binds each frame to a uniquely named temp view and
drops the view once the text is analysed, so no op reads or shadows a
caller's ``orders`` view, and none leaves a view behind. Keys whose
oracle text runs on Spark SQL with the same plan need no body at all:
they register through ``registry.register_sql``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hive_test_spark.io import load_table, materialize
from hive_test_spark.registry import register
from hive_test_spark.session import scoped_confs, temp_functions


@register(
    "sql_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_rows,
           ROUND(SUM(l_quantity), 4) AS sum_qty,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
           ROUND(AVG(l_discount), 6) AS avg_disc
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def sql_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape submitted as SQL TEXT — the front-end twin of
    ``flagship_pricing_summary``. Identical Catalyst plan: pushed date
    filter, pruned scan, two-phase hash aggregate; the parser is the
    only difference, proving HiveQL text ports run unchanged.

    At 100 TB: plan-identical to the DataFrame twin — the front end
    contributes parse time only (milliseconds, driver-side)."""
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n_rows,
               ROUND(SUM(l_quantity), 4) AS sum_qty,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 4)
                 AS sum_disc_price,
               ROUND(AVG(l_discount), 6) AS avg_disc
        FROM {lineitem}
        WHERE l_shipdate <= DATE '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
        """,
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "sql_star_join_hinted",
    """
    SELECT n.n_name, o.o_orderpriority,
           COUNT(*) AS n_orders,
           ROUND(SUM(o.o_totalprice), 4) AS total
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
                  JOIN nation n ON c.c_nationkey = n.n_nationkey
                  JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name, o.o_orderpriority
    ORDER BY n_name, o_orderpriority
    """,
)
def sql_star_join_hinted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join written in SQL with explicit /*+ BROADCAST */ hints —
    the SQL front end's way to pin dimension broadcast, equivalent to
    ``F.broadcast(...)`` in the DataFrame API [Spark-public: hint
    syntax]. The hint names resolve against the FROM aliases.

    At 100 TB: nation/region always broadcast; hinting customer too is
    correct while customers fit executor memory, and AQE demotes it to
    shuffle if statistics say otherwise (hints are advisory)."""
    return spark.sql(
        """
        SELECT /*+ BROADCAST(n), BROADCAST(r) */
               n.n_name, o.o_orderpriority,
               COUNT(*) AS n_orders,
               ROUND(SUM(o.o_totalprice), 4) AS total
        FROM {orders} o
          JOIN {customer} c ON o.o_custkey = c.c_custkey
          JOIN {nation} n ON c.c_nationkey = n.n_nationkey
          JOIN {region} r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
        GROUP BY n.n_name, o.o_orderpriority
        ORDER BY n_name, o_orderpriority
        """,
        orders=load_table(spark, sf_dir, "orders"),
        customer=load_table(spark, sf_dir, "customer"),
        nation=load_table(spark, sf_dir, "nation"),
        region=load_table(spark, sf_dir, "region"),
    )


@register(
    "sql_lateral_view_explode",
    """
    SELECT d.doc_id, t.tok, COUNT(*) AS n
    FROM documents d, unnest(string_split(d.text, ' ')) AS t(tok)
    WHERE d.lang = 'en' AND length(t.tok) >= 8
    GROUP BY d.doc_id, t.tok
    ORDER BY doc_id, tok
    """,
)
def sql_lateral_view_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HiveQL ``LATERAL VIEW explode()`` — THE table-generating idiom in
    every Hive test corpus [Hive-public: LanguageManual LateralView] —
    parsed natively by Spark SQL. Token counts per English document for
    long tokens. Dialect: LATERAL VIEW ≙ DuckDB ``unnest(...)`` in FROM.

    At 100 TB: explode is a narrow per-row flatMap fused into the scan
    stage (no exchange); the count agg shuffles (doc_id, tok) —
    explode-then-agg is the linear tokenization template the llm_* text
    ops build on."""
    return spark.sql(
        """
        SELECT d.doc_id, t.tok, COUNT(*) AS n
        FROM {documents} d
        LATERAL VIEW explode(split(d.text, ' ')) t AS tok
        WHERE d.lang = 'en' AND length(t.tok) >= 8
        GROUP BY d.doc_id, t.tok
        ORDER BY doc_id, tok
        """,
        documents=load_table(spark, sf_dir, "documents"),
    )


@register(
    "sql_distribute_sort_by",
    """
    SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 4) AS o_totalprice
    FROM orders
    WHERE o_orderstatus = 'O'
    """,
)
def sql_distribute_sort_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HiveQL ``DISTRIBUTE BY ... SORT BY`` [Hive-public: the
    reducer-routing + per-reducer-order idiom, distinct from global
    ORDER BY] — Spark SQL parses it to RepartitionByExpression + a
    partition-local sort. The ROW SET is deterministic (the driver hash
    is order-insensitive), so it oracles exactly; only the global order
    is partition-dependent, and no global order is promised by the
    construct itself.

    At 100 TB this is the write-preparation idiom: cluster rows by key
    and order within files WITHOUT a global sort barrier — one hash
    exchange, no range-partition sampling pass."""
    return spark.sql(
        """
        SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 4) AS o_totalprice
        FROM {orders}
        WHERE o_orderstatus = 'O'
        DISTRIBUTE BY o_custkey SORT BY o_custkey, o_orderkey
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )


@register(
    "sql_semi_anti_join",
    """
    SELECT c.c_custkey, c.c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
      AND NOT EXISTS (SELECT 1 FROM orders o2
                      WHERE o2.o_custkey = c.c_custkey
                        AND o2.o_orderstatus = 'P')
    ORDER BY c_custkey
    """,
)
def sql_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HiveQL ``LEFT SEMI JOIN`` and Spark's ``LEFT ANTI JOIN`` as SQL
    join types [Hive-public: semi join replaced IN-subqueries in
    classic Hive] — customers with ≥1 urgent order and no pending
    order. Oracle: the equivalent EXISTS / NOT EXISTS (what the joins
    desugar to).

    At 100 TB: both run as one orderkey-less custkey shuffle each with
    early-out probing; the semi/anti forms never materialize order
    columns — the payload-free build is what makes them cheaper than
    inner joins + distinct."""
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_mktsegment
        FROM {customer} c
        LEFT SEMI JOIN {orders} o
          ON o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
        LEFT ANTI JOIN {orders} o2
          ON o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'P'
        ORDER BY c_custkey
        """,
        customer=load_table(spark, sf_dir, "customer"),
        orders=load_table(spark, sf_dir, "orders"),
    )


@register(
    "sql_rollup_grouping",
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
           COALESCE(l_linestatus, 'ALL') AS lstatus,
           GROUPING(l_returnflag) + GROUPING(l_linestatus) AS lvl,
           COUNT(*) AS n,
           ROUND(SUM(l_quantity), 4) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY lvl, rflag, lstatus
    """,
)
def sql_rollup_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY ROLLUP`` + ``GROUPING()`` in SQL text [Hive-public:
    Hive's enhanced aggregation syntax] — subtotal levels tagged by
    grouping indicator, NULL group keys disambiguated from real NULLs
    via COALESCE + GROUPING.

    At 100 TB: Spark expands rollup to a single Expand + one hash agg —
    3 output rows per input row pre-combine, NOT three scans; the
    map-side combine keeps the exchange at group-domain size."""
    return spark.sql(
        """
        SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
               COALESCE(l_linestatus, 'ALL') AS lstatus,
               CAST(GROUPING(l_returnflag) + GROUPING(l_linestatus) AS BIGINT)
                 AS lvl,
               COUNT(*) AS n,
               ROUND(SUM(l_quantity), 4) AS sum_qty
        FROM {lineitem}
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY lvl, rflag, lstatus
        """,
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "sql_window_analytics",
    """
    SELECT o_custkey, o_orderkey,
           ROUND(o_totalprice, 4) AS o_totalprice,
           ROW_NUMBER() OVER w AS rn,
           ROUND(SUM(o_totalprice) OVER
                 (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
             AS running_total
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    QUALIFY rn <= 3
    ORDER BY o_custkey, rn
    """,
)
def sql_window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL window functions with a named WINDOW clause — first 3 orders
    per customer with their running spend. Spark has no QUALIFY, so the
    rank filter is the standard subquery wrapper; DuckDB's QUALIFY in
    the oracle proves the semantics equivalence.

    At 100 TB: ONE custkey exchange serves both window functions (same
    partitioning spec); the rank filter cuts output before the final
    sort."""
    return spark.sql(
        """
        SELECT o_custkey, o_orderkey, o_totalprice, rn, running_total
        FROM (
          SELECT o_custkey, o_orderkey,
                 ROUND(o_totalprice, 4) AS o_totalprice,
                 ROW_NUMBER() OVER w AS rn,
                 ROUND(SUM(o_totalprice) OVER
                       (PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
                   AS running_total
          FROM {orders}
          WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        )
        WHERE rn <= 3
        ORDER BY o_custkey, rn
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )


@register(
    "sql_cte_reuse",
    """
    WITH seg AS (
      SELECT c_mktsegment, c_custkey, c_acctbal FROM customer),
    seg_stats AS (
      SELECT c_mktsegment, AVG(c_acctbal) AS seg_avg
      FROM seg GROUP BY c_mktsegment)
    SELECT s.c_mktsegment, COUNT(*) AS n_above,
           ROUND(MAX(s.c_acctbal - st.seg_avg), 4) AS max_excess
    FROM seg s JOIN seg_stats st ON s.c_mktsegment = st.c_mktsegment
    WHERE s.c_acctbal > st.seg_avg
    GROUP BY s.c_mktsegment
    ORDER BY s.c_mktsegment
    """,
)
def sql_cte_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained CTEs with the first CTE referenced TWICE (directly and
    through the second) — customers above their segment's average
    balance. The multi-reference is the interesting bit: Spark inlines
    CTEs and relies on exchange reuse when plans coincide.

    At 100 TB: the segment average is agg-sized and broadcasts back
    against the full customer slice; the pattern (compare each row to
    its group aggregate) is the decorrelated form Catalyst produces for
    correlated scalar subqueries too."""
    return spark.sql(
        """
        WITH seg AS (
          SELECT c_mktsegment, c_custkey, c_acctbal FROM {customer}),
        seg_stats AS (
          SELECT c_mktsegment, AVG(c_acctbal) AS seg_avg
          FROM seg GROUP BY c_mktsegment)
        SELECT s.c_mktsegment, COUNT(*) AS n_above,
               ROUND(MAX(s.c_acctbal - st.seg_avg), 4) AS max_excess
        FROM seg s JOIN seg_stats st ON s.c_mktsegment = st.c_mktsegment
        WHERE s.c_acctbal > st.seg_avg
        GROUP BY s.c_mktsegment
        ORDER BY c_mktsegment
        """,
        customer=load_table(spark, sf_dir, "customer"),
    )


@register(
    "sql_set_ops_chain",
    """
    SELECT c_custkey AS custkey FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
    INTERSECT
    SELECT c_custkey FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderstatus = 'F')
    EXCEPT
    SELECT c_custkey FROM customer WHERE c_acctbal < 0
    ORDER BY custkey
    """,
)
def sql_set_ops_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT chained in one SQL statement with standard
    precedence — customers with urgent orders AND fulfilled orders,
    minus negative balances. SQL-text twin of the setops family.

    At 100 TB: each set op compiles to a semi/anti hash join on the
    single projected column — payload-free and combinable; precedence
    (INTERSECT binds tighter than EXCEPT) is a parser property this op
    pins cross-engine."""
    return spark.sql(
        """
        SELECT c_custkey AS custkey FROM {customer} c
        WHERE EXISTS (SELECT 1 FROM {orders} o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
        INTERSECT
        SELECT c_custkey FROM {customer} c
        WHERE EXISTS (SELECT 1 FROM {orders} o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderstatus = 'F')
        EXCEPT
        SELECT c_custkey FROM {customer} WHERE c_acctbal < 0
        ORDER BY custkey
        """,
        customer=load_table(spark, sf_dir, "customer"),
        orders=load_table(spark, sf_dir, "orders"),
    )


@register(
    "sql_values_inline",
    """
    WITH tiers(tier_name, lo, hi) AS (
      VALUES ('LOW', 0.0, 2000.0), ('MID', 2000.0, 6000.0),
             ('HIGH', 6000.0, 100000000.0))
    SELECT t.tier_name, COUNT(*) AS n_cust,
           ROUND(AVG(c.c_acctbal), 4) AS avg_bal
    FROM customer c JOIN tiers t
      ON c.c_acctbal >= t.lo AND c.c_acctbal < t.hi
    GROUP BY t.tier_name
    ORDER BY tier_name
    """,
)
def sql_values_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline VALUES table used as a range-banding dimension in SQL —
    account-balance tiers without a physical lookup table. The theta
    join against a 3-row literal relation is the SQL-text form of the
    broadcast range join.

    At 100 TB: the VALUES relation is driver-literal → always
    broadcast; the band predicate evaluates in the probe's scan stage,
    so banding costs zero exchanges — the idiom to prefer over a CASE
    ladder when bands live in config, not code."""
    return spark.sql(
        """
        WITH tiers AS (
          SELECT * FROM VALUES ('LOW', 0.0D, 2000.0D),
                               ('MID', 2000.0D, 6000.0D),
                               ('HIGH', 6000.0D, 100000000.0D)
            AS t(tier_name, lo, hi))
        SELECT t.tier_name, COUNT(*) AS n_cust,
               ROUND(AVG(c.c_acctbal), 4) AS avg_bal
        FROM {customer} c JOIN tiers t
          ON c.c_acctbal >= t.lo AND c.c_acctbal < t.hi
        GROUP BY t.tier_name
        ORDER BY tier_name
        """,
        customer=load_table(spark, sf_dir, "customer"),
    )


@register(
    "sql_case_pivot",
    """
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_open,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_fulfilled,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pending
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def sql_case_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The manual CASE-pivot in SQL text [Hive-public: the pre-PIVOT
    Hive idiom — conditional aggregation per target column] — order
    counts per priority spread across status columns. Twin of the
    DataFrame ``agg_pivot`` (which uses the PIVOT relational form).

    At 100 TB: one grouped pass with three combinable conditional sums
    — identical exchange profile to PIVOT; the CASE form is what old
    HiveQL corpora contain, so the parser path matters for ports."""
    return spark.sql(
        """
        SELECT o_orderpriority,
               SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS n_open,
               SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                 AS n_fulfilled,
               SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
                 AS n_pending
        FROM {orders}
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )


@register(
    "sql_cluster_by_bucket",
    """
    SELECT l_suppkey,
           COUNT(*) AS n_lines,
           ROUND(SUM(l_quantity), 4) AS total_qty
    FROM lineitem
    GROUP BY l_suppkey
    """,
)
def sql_cluster_by_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HiveQL ``CLUSTER BY`` (= DISTRIBUTE BY + SORT BY on the same
    key) applied to a grouped result [Hive-public: the bucketing
    write-prep idiom]. The row set is the per-supplier aggregate —
    deterministic and oracled; CLUSTER BY adds the partition-local
    physical layout a bucketed writer would consume.

    At 100 TB: grouped agg and CLUSTER BY share the same hash key, so
    Catalyst reuses ONE exchange for both — this op exists to pin that
    no second shuffle appears."""
    return spark.sql(
        """
        SELECT l_suppkey,
               COUNT(*) AS n_lines,
               ROUND(SUM(l_quantity), 4) AS total_qty
        FROM {lineitem}
        GROUP BY l_suppkey
        CLUSTER BY l_suppkey
        """,
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "sql_parameterized",
    """
    SELECT c_mktsegment, COUNT(*) AS n_cust,
           ROUND(SUM(c_acctbal), 4) AS total_bal
    FROM customer
    WHERE c_acctbal > 2500.0 AND c_mktsegment <> 'MACHINERY'
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL [Spark-public: named-parameter binding in
    ``spark.sql(query, args=...)``, Spark 3.4+] — the injection-safe
    front end for templated HiveQL: values bind as TYPED literals at
    parse time (``:threshold``, ``:excluded``), never string-spliced.

    At 100 TB the binding matters for plan quality too: bound literals
    are visible to Catalyst as constants, so partition pruning and
    filter pushdown work exactly as with inline literals — unlike
    driver-side string formatting, with none of the quoting hazards."""
    return spark.sql(
        """
        SELECT c_mktsegment, COUNT(*) AS n_cust,
               ROUND(SUM(c_acctbal), 4) AS total_bal
        FROM {customer}
        WHERE c_acctbal > :threshold AND c_mktsegment <> :excluded
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
        """,
        customer=load_table(spark, sf_dir, "customer"),
        args={"threshold": 2500.0, "excluded": "MACHINERY"},
    )


@register(
    "sql_transform_using",
    """
    SELECT c_custkey, lower(c_mktsegment) AS seg_lower
    FROM customer
    """,
)
def sql_transform_using(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive ``SELECT TRANSFORM (...) USING 'script' AS (...)`` executed as
    REAL script transformation — Spark forks the POSIX tool and streams
    rows through its stdin/stdout in the tab-delimited wire format, per
    task, executor-side. This is the genuine subprocess-pipe surface;
    ``transform_script`` (functions/udfs.py) is the Arrow-framed twin of
    the same contract. The script (``tr`` to lowercase) is deliberately
    SQL-expressible so the DuckDB oracle verifies the full wire
    round-trip: serialize → pipe → parse → cast to the AS types.

    100 TB note: script transform is map-only (no shuffle) and scales
    with executor count, but pays one OS process per task plus
    row-at-a-time text framing — which is exactly why the mapInPandas
    twin exists; keep USING for legacy script compatibility only."""
    return spark.sql(
        """
        SELECT TRANSFORM(c_custkey, c_mktsegment)
          USING 'tr "[:upper:]" "[:lower:]"'
          AS (c_custkey BIGINT, seg_lower STRING)
        FROM {customer}
        """,
        customer=load_table(spark, sf_dir, "customer"),
    )


def _clamp_bal(s):
    """Series->Series body for the registered function (pandas clip)."""
    return s.clip(lower=0.0, upper=5000.0)


@register(
    "sql_temp_function",
    """
    SELECT c_mktsegment,
           COUNT(*) AS n,
           ROUND(SUM(CASE WHEN c_acctbal < 0 THEN 0.0
                          WHEN c_acctbal > 5000 THEN 5000.0
                          ELSE c_acctbal END), 6) AS clamped_total
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def sql_temp_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive ``CREATE TEMPORARY FUNCTION`` surface: a user function is
    registered into the session catalog (``spark.udf.register`` — the
    programmatic twin of the DDL; Spark also accepts the DDL form for
    JVM classes) and then invoked from SQL TEXT like any built-in. The
    function body is an Arrow-vectorized pandas UDF, so the SQL front
    end transparently drives the same Arrow batch path as the DataFrame
    API — registration changes WHERE the function is visible, not how
    it executes.

    At 100 TB: session-catalog UDF registration is driver-side metadata;
    the cost model is the UDF's own (one Arrow hop per batch here —
    see udf_pandas_scalar's bench ratio). The SQL-visible registry is
    what lets ad-hoc HiveQL users share a vetted function library
    instead of re-implementing clamps/parsers per query."""
    from pyspark.sql.functions import pandas_udf

    # Built here, not at import time (type resolution needs an active
    # session — same note as udf_pandas_scalar); plain function + explicit
    # returnType, no hint inference.
    with temp_functions(spark, "hts_clamp_bal") as (clamp_bal,):
        spark.udf.register(clamp_bal, pandas_udf(_clamp_bal, "double"))
        return spark.sql(
            f"""
            SELECT c_mktsegment,
                   COUNT(*) AS n,
                   ROUND(SUM({clamp_bal}(c_acctbal)), 6) AS clamped_total
            FROM {{customer}}
            GROUP BY c_mktsegment
            """,
            customer=load_table(spark, sf_dir, "customer"),
        )


@register(
    "sql_group_order_by_all",
    """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 4) AS total_price,
           ROW_NUMBER() OVER (
             ORDER BY o_orderstatus, o_orderpriority) AS rk
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    """,
)
def sql_group_order_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern SQL sugar both engines ship: ``GROUP BY ALL`` (group by
    every non-aggregate select item) and ``ORDER BY ALL`` (order by
    every select item, left to right) [Spark-public: SPARK-40218 /
    SPARK-41231, same surface DuckDB popularized]. The Spark side uses
    the sugar; the oracle spells the expansion out longhand — so the
    hash pins that GROUP BY ALL resolves to exactly the expected key
    set (a resolver regression that grouped by a different set changes
    row multiplicity and values and fails). The rank column equals the
    ORDER BY ALL position because the group keys form a unique order
    prefix — re-derived explicitly since an output hash cannot observe
    row order directly.

    At 100 TB: pure parse-time sugar — identical two-phase hash
    aggregate + range-partitioned sort plan as the longhand text."""
    return spark.sql(
        """
        SELECT * FROM (
          SELECT o_orderstatus, o_orderpriority,
                 COUNT(*) AS n_orders,
                 ROUND(SUM(o_totalprice), 4) AS total_price
          FROM {orders}
          GROUP BY ALL
          ORDER BY ALL
        ) t
        """,
        orders=load_table(spark, sf_dir, "orders"),
    ).selectExpr(
        "o_orderstatus",
        "o_orderpriority",
        "n_orders",
        "total_price",
        "row_number() OVER (ORDER BY o_orderstatus, o_orderpriority) AS rk",
    )


@register(
    "sql_file_direct",
    """
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem
    WHERE l_shipdate >= DATE '1997-01-01'
    GROUP BY l_returnflag
    """,
)
def sql_file_direct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL directly over files [Spark-public: ``SELECT ... FROM
    parquet.`path``` — the zero-DDL twin of Hive's external table: query
    a landed dataset without registering ANY catalog object]. The Hive
    workflow is CREATE EXTERNAL TABLE then query; Spark collapses both
    steps — the path is the table. Semantically identical to the
    view-based scan (same vectorized reader, same pushdown), which is
    exactly what the shared oracle pins.

    At 100 TB: the planner still gets parquet statistics (footer
    min/max, row-group pruning) and pushes the shipdate filter into the
    scan — file-direct SQL loses NOTHING at the scan layer. What it
    does lose is catalog metadata: no ANALYZE stats for CBO join
    reordering and no partition specs (path globs replace partition
    pruning), so production keeps file-direct for exploration and
    registers curated tables for recurring joins."""
    path = f"{sf_dir}/lineitem.parquet"
    return spark.sql(
        f"""
        SELECT l_returnflag,
               COUNT(*) AS n_rows,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
        FROM parquet.`{path}`
        WHERE l_shipdate >= DATE '1997-01-01'
        GROUP BY l_returnflag
        """
    )


@register(
    "sql_positional_ordinals",
    """
    SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
           o_orderstatus,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 4) AS total_price
    FROM orders
    WHERE o_orderdate >= DATE '1997-01-01'
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def sql_positional_ordinals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional GROUP BY / ORDER BY ordinals [Hive-public:
    ``hive.groupby.orderby.position.alias``; Spark-public:
    ``spark.sql.groupByOrdinal`` / ``orderByOrdinal``, both on by
    default] — ``GROUP BY 1, 2`` resolves to the SELECT-list positions,
    including position 1 being a COMPUTED expression (``year(...)``),
    not a bare column. Migrated Hive scripts lean on this sugar
    heavily; a resolver that mapped ordinals to the wrong select items
    would change the grouping key set and fail the hash. DuckDB
    supports the identical ordinal syntax, so the oracle runs the
    same shape — two engines' ordinal RESOLUTION is what's compared.

    At 100 TB: parse-time sugar, zero plan impact — the resolved plan
    is the standard partial/final hash aggregate over the pushed-down
    scan, identical to spelling the expressions out."""
    return spark.sql(
        """
        SELECT CAST(year(o_orderdate) AS INT) AS order_year,
               o_orderstatus,
               COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 4) AS total_price
        FROM {orders}
        WHERE o_orderdate >= DATE '1997-01-01'
        GROUP BY 1, 2
        ORDER BY 1, 2
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )


@register(
    "sql_pivot_clause",
    """
    SELECT l_returnflag,
           ROUND(COALESCE(SUM(CASE WHEN l_linestatus = 'F'
                                   THEN l_quantity END), 0), 4) AS qty_F,
           ROUND(COALESCE(SUM(CASE WHEN l_linestatus = 'O'
                                   THEN l_quantity END), 0), 4) AS qty_O
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def sql_pivot_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-text PIVOT clause [Spark-public: ``FROM t PIVOT (agg FOR col
    IN (...))``, the parser twin of DataFrame ``groupBy().pivot()``
    (agg_pivot) and the successor of the Hive CASE-matrix idiom
    (sql_case_pivot)]. Explicit IN-list values — never the implicit
    distinct-scan form. The oracle spells the same rotation as the
    CASE matrix, so what's pinned is that the PIVOT parser produces
    the identical conditional aggregation.

    At 100 TB: PIVOT with an explicit IN list compiles to ONE
    conditional-aggregate pass (no per-value scans) — same plan as the
    CASE matrix. The implicit form (no IN list) needs a prior distinct
    scan to discover values: always enumerate at scale."""
    return spark.sql(
        """
        SELECT l_returnflag,
               ROUND(COALESCE(qty_F, 0), 4) AS qty_F,
               ROUND(COALESCE(qty_O, 0), 4) AS qty_O
        FROM (SELECT l_returnflag, l_linestatus, l_quantity
              FROM {lineitem})
        PIVOT (SUM(l_quantity) FOR l_linestatus IN ('F' AS qty_F, 'O' AS qty_O))
        """,
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "sql_unpivot_clause",
    """
    SELECT l_returnflag, measure, val FROM (
      SELECT l_returnflag, 'qty' AS measure,
             ROUND(SUM(l_quantity), 4) AS val
      FROM lineitem GROUP BY l_returnflag
      UNION ALL
      SELECT l_returnflag, 'revenue',
             ROUND(SUM(l_extendedprice * (1 - l_discount)), 4)
      FROM lineitem GROUP BY l_returnflag
    ) t
    """,
)
def sql_unpivot_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-text UNPIVOT clause [Spark-public: ``FROM t UNPIVOT (val FOR
    measure IN (...))``, the parser twin of DataFrame ``unpivot``/
    ``melt`` (agg_unpivot) and the inverse of sql_pivot_clause]. The
    wide per-flag aggregate melts into (measure, val) rows via the
    parsed clause; the oracle re-derives the long form as the UNION
    ALL bag Hive users wrote before UNPIVOT existed.

    At 100 TB: UNPIVOT is a narrow Expand — each input row emits one
    row per measure with NO shuffle (the aggregate before it already
    collapsed the fact); the UNION-ALL spelling re-SCANS the source
    per measure, which is exactly why the clause form wins at scale."""
    return spark.sql(
        """
        SELECT l_returnflag, measure, val FROM (
          SELECT l_returnflag,
                 ROUND(SUM(l_quantity), 4) AS qty,
                 ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
          FROM {lineitem}
          GROUP BY l_returnflag
        ) wide
        UNPIVOT (val FOR measure IN (qty, revenue))
        """,
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "sql_scripting",
    """
    WITH lv AS (
      SELECT g, CAST(1000 AS BIGINT) * (CAST(1 AS BIGINT) << g) AS thr
      FROM (SELECT UNNEST(generate_series(0, 39)) AS g)
    ),
    cnts AS (
      SELECT g, thr,
             (SELECT COUNT(*) FROM orders o
              WHERE o.o_totalprice > lv.thr) AS n_above
      FROM lv
    ),
    pick AS (
      SELECT g, thr, n_above FROM cnts WHERE n_above <= 150
      ORDER BY g LIMIT 1
    )
    SELECT p.thr AS threshold,
           CAST(p.n_above AS BIGINT) AS n_above,
           CAST(c.n_above AS BIGINT) AS n_above_prev,
           CAST(p.g AS BIGINT) AS n_iterations,
           (p.n_above <= 150 AND (p.g = 0 OR c.n_above > 150)) AS minimal
    FROM pick p LEFT JOIN cnts c ON c.g = p.g - 1
    """,
)
def sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting surface [Spark-public: SQL scripting
    (``BEGIN ... END`` compound statements with DECLARE / SET / WHILE,
    SPARK-48338, Spark 4.0+) — the native twin of Hive's HPL/SQL
    procedural dialect (Hive 2.x+ ``hplsql``: the same
    DECLARE/WHILE/SET control flow HiveQL migrations carry)]. The
    script runs a DATA-DEPENDENT loop — the canonical procedural
    pattern no single declarative statement expresses: starting at
    1000, double a revenue threshold until at most 150 orders exceed
    it. The emitted row carries a minimality certificate (count at the
    found threshold ≤ 150 < count at half of it), so the hash pins the
    loop's exact stopping decision, not just its endpoint; the DuckDB
    oracle re-derives the same fixpoint relationally from a bounded
    power-of-two ladder (counts are monotone in the threshold, so
    first-satisfying == min-satisfying).

    The block executes when ``spark.sql`` is invoked; the single result
    row is pinned with ``materialize`` so the returned frame no
    longer references session variables (which are scoped to the
    script) and the scripting conf can be restored immediately.

    At 100 TB: each loop iteration is one pushed-predicate scan-count
    (a Catalyst job like any other — scripting is driver-side control
    flow around distributed statements, exactly HPL/SQL's model on
    Hive); iterations are O(log(max/base)) ≤ 40 by construction. The
    relational ladder form the oracle uses is ONE pass (39 conditional
    counts in a single aggregate) and is what you deploy when the
    sweep bounds are known up front; the scripting form wins when the
    loop body must see the previous iteration's result — model-fit
    convergence, retry-until-drained compaction, watermark advance."""
    with scoped_confs(spark, {"spark.sql.scripting.enabled": "true"}):
        return spark.sql(
            """
            BEGIN
              DECLARE thr BIGINT DEFAULT 1000;
              DECLARE prev BIGINT DEFAULT NULL;
              DECLARE iters BIGINT DEFAULT 0;
              DECLARE cnt BIGINT DEFAULT 0;
              SET cnt = (SELECT COUNT(*) FROM {orders}
                         WHERE o_totalprice > thr);
              -- Shared bound with the oracle: the DuckDB ladder enumerates
              -- g = 0..39 (thr = 1000 * 2^g), so this loop and the oracle
              -- agree only while the fixpoint lands at iters <= 39. TPC-H
              -- o_totalprice tops out well under 1000*2^39 at any SF, but
              -- a data change that pushed >150 orders past that threshold
              -- would silently desync the engines (ADVICE r7) — the guard
              -- below turns that into a loud empty result instead.
              WHILE cnt > 150 AND iters <= 39 DO
                SET prev = cnt;
                SET thr = thr * 2;
                SET iters = iters + 1;
                SET cnt = (SELECT COUNT(*) FROM {orders}
                           WHERE o_totalprice > thr);
              END WHILE;
              SELECT thr AS threshold, cnt AS n_above,
                     prev AS n_above_prev, iters AS n_iterations,
                     (cnt <= 150 AND (iters = 0 OR prev > 150)) AS minimal;
            END
            """,
            orders=load_table(spark, sf_dir, "orders"),
        ).transform(materialize)
