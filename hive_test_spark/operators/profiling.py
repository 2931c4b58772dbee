"""Reshape + data-quality profiling operators.

``agg_unpivot`` is the inverse of ``agg_pivot`` (Hive expresses it as a
``stack``/UNION ALL — SURVEY.md §2.H lists ``stack`` as the UDTF surface);
``dq_audit`` is the per-column profile a curation pipeline runs before
training-data ingest: one pass over the table, one output row per audited
column. Both are pure built-in compositions with full DuckDB oracles.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_test_spark.io import load_table
from hive_test_spark.registry import register


@register(
    "agg_unpivot",
    """
    SELECT p_partkey, 'p_size' AS metric,
           ROUND(CAST(p_size AS DOUBLE), 6) AS value
    FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS metric,
           ROUND(CAST(p_retailprice AS DOUBLE), 6) AS value
    FROM part
    """,
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt: wide numeric columns to long (key, metric, value)
    form — the inverse of ``agg_pivot`` and the Hive ``stack()`` idiom.
    Spark's native ``DataFrame.unpivot`` is a narrow (map-only) transform:
    no shuffle, output rows = n_rows × n_metrics, so at 100 TB it streams
    — the only cost is the row-count multiplier, which downstream
    aggregations absorb map-side."""
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.round(F.col("p_size").cast("double"), 6).alias("p_size"),
        F.round(F.col("p_retailprice").cast("double"), 6).alias("p_retailprice"),
    )
    return p.unpivot(
        ids=["p_partkey"],
        values=["p_size", "p_retailprice"],
        variableColumnName="metric",
        valueColumnName="value",
    )


# (column, min/max string representation) — min/max are computed on NATIVE
# values (never on the string form: "100.00" < "99.00" lexicographically)
# and rendered afterwards. Dates render via DATE (timezone-stable); doubles
# via DECIMAL(18,2) (identical text in Spark and DuckDB — raw double→string
# diverges at ≥1e7 where Java switches to scientific notation).
_IDENT: Callable[[Column], Column] = lambda c: c.cast("string")  # noqa: E731
_DQ_COLS: list[tuple[str, Callable[[Column], Column]]] = [
    ("o_orderstatus", _IDENT),
    ("o_orderpriority", _IDENT),
    ("o_orderdate", lambda c: c.cast("date").cast("string")),
    ("o_totalprice", lambda c: c.cast("decimal(18,2)").cast("string")),
]

_DQ_ORACLE_PARTS = []
for _name, _repr_sql in [
    ("o_orderstatus", "CAST({m} AS VARCHAR)"),
    ("o_orderpriority", "CAST({m} AS VARCHAR)"),
    ("o_orderdate", "CAST(CAST({m} AS DATE) AS VARCHAR)"),
    ("o_totalprice", "CAST(CAST({m} AS DECIMAL(18,2)) AS VARCHAR)"),
]:
    _DQ_ORACLE_PARTS.append(
        f"""
        SELECT '{_name}' AS column_name,
               COUNT(*) AS n_rows,
               COUNT(*) - COUNT({_name}) AS n_nulls,
               COUNT(DISTINCT {_name}) AS n_distinct,
               {_repr_sql.format(m=f"MIN({_name})")} AS min_repr,
               {_repr_sql.format(m=f"MAX({_name})")} AS max_repr
        FROM orders
        """
    )
_DQ_ORACLE = "\nUNION ALL\n".join(_DQ_ORACLE_PARTS)


@register("dq_audit", _DQ_ORACLE)
def dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit: per-column row/null/distinct counts and min/max,
    one output row per audited column — the profile a training-data
    pipeline ships before ingest (and the input to schema-drift alerts).

    Single full-table pass: ALL columns' metrics are computed in ONE
    ``agg`` (Spark plans the multi-distinct via a single Expand + two-stage
    aggregate), then the 1-row result is reshaped to long form with
    explode(array(struct...)) — a driver-free transform on 1 row. At
    100 TB swap ``countDistinct`` for ``approx_count_distinct`` (HLL,
    map-side combinable, no Expand blow-up) — the audit is an estimate
    there anyway; the exact form here is what makes it oracle-able."""
    o = load_table(spark, sf_dir, "orders")
    agg_exprs = [F.count(F.lit(1)).alias("n_rows")]
    for name, _ in _DQ_COLS:
        c = F.col(name)
        agg_exprs += [
            F.sum(F.when(c.isNull(), 1).otherwise(0)).alias(f"{name}__nulls"),
            F.countDistinct(c).alias(f"{name}__nd"),
            F.min(c).alias(f"{name}__min"),
            F.max(c).alias(f"{name}__max"),
        ]
    row = o.agg(*agg_exprs)
    structs = [
        F.struct(
            F.lit(name).alias("column_name"),
            F.col("n_rows").alias("n_rows"),
            F.col(f"{name}__nulls").cast("long").alias("n_nulls"),
            F.col(f"{name}__nd").alias("n_distinct"),
            repr_fn(F.col(f"{name}__min")).alias("min_repr"),
            repr_fn(F.col(f"{name}__max")).alias("max_repr"),
        )
        for name, repr_fn in _DQ_COLS
    ]
    return row.select(F.explode(F.array(*structs)).alias("m")).select("m.*")


_CONSTRAINTS_ORACLE = """
    SELECT 'pk_orders_unique' AS constraint_name,
           COUNT(*) AS n_checked,
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_violations
    FROM orders
    UNION ALL
    SELECT 'chk_totalprice_positive', COUNT(*),
           CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'dom_orderstatus', COUNT(*),
           CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'pk_lineitem_composite', COUNT(*),
           -- NULL-key rows ARE violations: Spark countDistinct skips
           -- rows with any NULL key, and the CASE makes DuckDB's
           -- struct-counting COUNT(DISTINCT) do the same.
           CAST(COUNT(*) - COUNT(DISTINCT CASE
                  WHEN l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
                  THEN (l_orderkey, l_linenumber) END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'chk_discount_range', COUNT(*),
           CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.5 THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'nn_customer_name', COUNT(*),
           CAST(COUNT(*) - COUNT(c_name) AS BIGINT)
    FROM customer
    UNION ALL
    SELECT 'fk_orders_customer', (SELECT COUNT(*) FROM orders),
           CAST((SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
    UNION ALL
    SELECT 'fk_lineitem_orders', (SELECT COUNT(*) FROM lineitem),
           CAST((SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
"""


@register("dq_constraints", _CONSTRAINTS_ORACLE)
def dq_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint validation suite — the contract checks a warehouse runs
    on every ingest batch before publishing a partition: primary-key
    uniqueness (single and composite), foreign-key integrity, value-range,
    domain-membership, and not-null rules, one
    output row per rule with checked/violation counts.

    Plan shape: all scalar rules on the SAME table fuse into ONE
    aggregation pass (count + conditional sums + distinct counts in a
    single ``agg``), then the 1-row result explodes to long form — three
    table scans total for six scalar rules. Referential rules are LEFT
    ANTI join counts: the dimension side (customer / orders keys) hashes
    or broadcasts, the fact side streams. At 100 TB every rule stays one
    pass; the anti joins shuffle on the key only (2-column scan on the
    dim), and a partition-scoped run (validate only today's ingest)
    prunes the fact scan before any of this starts."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")

    def _long(row: DataFrame, rules: list[str]) -> DataFrame:
        structs = [
            F.struct(
                F.lit(name).alias("constraint_name"),
                F.col("n_checked").alias("n_checked"),
                F.col(f"{name}__v").cast("long").alias("n_violations"),
            )
            for name in rules
        ]
        return row.select(F.explode(F.array(*structs)).alias("m")).select("m.*")

    o_row = o.agg(
        F.count(F.lit(1)).alias("n_checked"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("pk_orders_unique__v"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias(
            "chk_totalprice_positive__v"
        ),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
        ).alias("dom_orderstatus__v"),
    )
    li_row = li.agg(
        F.count(F.lit(1)).alias("n_checked"),
        (
            F.count(F.lit(1)) - F.countDistinct("l_orderkey", "l_linenumber")
        ).alias("pk_lineitem_composite__v"),
        F.sum(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 0.5), 1).otherwise(0)
        ).alias("chk_discount_range__v"),
    )
    c_row = c.agg(
        F.count(F.lit(1)).alias("n_checked"),
        F.sum(F.when(F.col("c_name").isNull(), 1).otherwise(0)).alias(
            "nn_customer_name__v"
        ),
    )
    fk_oc = (
        o.join(c.select("c_custkey"), o.o_custkey == F.col("c_custkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("orphans"))
        # reuse the 1-row o_row aggregate (already computes the orders
        # count) instead of launching a second full count job.
        .crossJoin(o_row.select("n_checked"))
        .select(
            F.lit("fk_orders_customer").alias("constraint_name"),
            "n_checked",
            F.col("orphans").cast("long").alias("n_violations"),
        )
    )
    fk_lo = (
        li.join(o.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("orphans"))
        .crossJoin(li_row.select("n_checked"))
        .select(
            F.lit("fk_lineitem_orders").alias("constraint_name"),
            "n_checked",
            F.col("orphans").cast("long").alias("n_violations"),
        )
    )
    return (
        _long(o_row, ["pk_orders_unique", "chk_totalprice_positive", "dom_orderstatus"])
        .unionAll(_long(li_row, ["pk_lineitem_composite", "chk_discount_range"]))
        .unionAll(_long(c_row, ["nn_customer_name"]))
        .unionAll(fk_oc)
        .unionAll(fk_lo)
    )


# Freshness SLA: a feed is stale when its newest event lags the newest
# event across ALL feeds by more than this many hours. The anchor is
# data-derived (global max ts), never wall-clock — deterministic across
# engines and replays.
_FRESH_SLA_HOURS = 0.5


@register(
    "dq_freshness",
    f"""
    WITH anchor AS (
      SELECT MAX(CAST(ts AS TIMESTAMP)) AS a FROM events
    ),
    per_type AS (
      SELECT event_type,
             COUNT(*) AS n_events,
             MAX(CAST(ts AS TIMESTAMP)) AS last_ts
      FROM events GROUP BY event_type
    )
    SELECT event_type, n_events, last_ts,
           ROUND((epoch_us(a) - epoch_us(last_ts)) / 3600000000.0, 6) AS lag_hours,
           (epoch_us(a) - epoch_us(last_ts)) / 3600000000.0 > {_FRESH_SLA_HOURS} AS stale
    FROM per_type, anchor
    """,
)
def dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed-freshness SLA check — the staleness monitor every warehouse
    runs per source/partition before trusting downstream aggregates:
    each event feed's newest timestamp vs the newest timestamp across
    all feeds, flagged when the lag exceeds the SLA. The anchor is
    data-derived (global max), so the check is deterministic and
    replayable — wall-clock freshness is the same query with
    current_timestamp() as the anchor.

    Scale shape: two map-side-combinable MAX aggregates over the same
    scan — the global anchor is ONE row cross-joined back as a broadcast
    (the scalar-broadcast idiom, never a shuffle of the big side). Lag
    arithmetic is integer microseconds on both engines (unix_micros /
    epoch_us), so the oracle matches bitwise. At 100 TB the per-type
    grain becomes (source, ingest_partition) — same two-agg plan."""
    ev = load_table(spark, sf_dir, "events")
    anchor = ev.agg(F.max("ts").alias("a"))
    per_type = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("ts").alias("last_ts"),
    )
    lag_us = F.unix_micros(F.col("a")) - F.unix_micros(F.col("last_ts"))
    return per_type.crossJoin(anchor).select(
        "event_type",
        "n_events",
        "last_ts",
        F.round(lag_us / 3600000000.0, 6).alias("lag_hours"),
        (lag_us / 3600000000.0 > _FRESH_SLA_HOURS).alias("stale"),
    )


@register(
    "dq_outlier_iqr",
    """
    WITH q AS (
      SELECT o_orderpriority,
             COUNT(*) AS n,
             quantile_cont(o_totalprice, 0.25) AS q1,
             quantile_cont(o_totalprice, 0.75) AS q3
      FROM orders GROUP BY o_orderpriority
    ),
    f AS (
      SELECT o_orderpriority, n, q1, q3,
             q1 - 1.5 * (q3 - q1) AS lo,
             q3 + 1.5 * (q3 - q1) AS hi
      FROM q
    )
    SELECT f.o_orderpriority, f.n,
           ROUND(f.q1, 4) AS q1, ROUND(f.q3, 4) AS q3,
           ROUND(f.lo, 4) AS fence_lo, ROUND(f.hi, 4) AS fence_hi,
           COUNT(*) FILTER (WHERE o.o_totalprice < f.lo
                               OR o.o_totalprice > f.hi) AS n_outliers,
           ROUND(COUNT(*) FILTER (WHERE o.o_totalprice < f.lo
                                     OR o.o_totalprice > f.hi) * 1.0 / f.n,
                 6) AS outlier_share
    FROM f JOIN orders o ON o.o_orderpriority = f.o_orderpriority
    GROUP BY 1, 2, 3, 4, 5, 6
    """,
)
def dq_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence (IQR) outlier profile per order priority [public
    method: the boxplot fences q1−1.5·IQR / q3+1.5·IQR — the robust
    outlier screen that complements evt_anomaly_mad's time-ordered
    variant with a distributional one]. Exact interpolated quartiles
    (Spark percentile == DuckDB quantile_cont, the agg_percentile
    equivalence) feed the fences; a second pass counts rows outside
    them. Fences compare UNROUNDED — both engines interpolate the same
    formula over the same doubles — and only display columns round.

    At 100 TB: pass one is a map-side-combinable agg on a 5-value key
    (exact percentile buffers per group are bounded by group row count
    — at true scale swap percentile → approx_percentile, the
    agg_approx_percentile accuracy contract); pass two re-scans with
    the 5-row fence table broadcast, so the join adds no shuffle. Two
    scans total, both pruned to 2 columns."""
    o = load_table(spark, sf_dir, "orders")
    q = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("percentile(o_totalprice, 0.25)").alias("q1"),
        F.expr("percentile(o_totalprice, 0.75)").alias("q3"),
    )
    f = q.select(
        "o_orderpriority",
        "n",
        "q1",
        "q3",
        (F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias("hi"),
    )
    out = F.col("o_totalprice") < F.col("lo")
    out = out | (F.col("o_totalprice") > F.col("hi"))
    return (
        o.join(F.broadcast(f), "o_orderpriority")
        .groupBy("o_orderpriority", "n", "q1", "q3", "lo", "hi")
        .agg(
            F.count(F.when(out, 1)).alias("n_outliers"),
            F.round(F.count(F.when(out, 1)) / F.col("n"), 6).alias(
                "outlier_share"
            ),
        )
        .select(
            "o_orderpriority",
            "n",
            F.round("q1", 4).alias("q1"),
            F.round("q3", 4).alias("q3"),
            F.round("lo", 4).alias("fence_lo"),
            F.round("hi", 4).alias("fence_hi"),
            "n_outliers",
            "outlier_share",
        )
    )


# The warehouse FK graph, one row per edge: (edge label, child table,
# child key, parent table, parent key). Both the Spark plan and the
# DuckDB oracle are GENERATED from this one tuple, so the audit can never
# silently cover different edges in the two engines.
_FK_EDGES: tuple[tuple[str, str, str, str, str], ...] = (
    ("customer.c_nationkey->nation.n_nationkey",
     "customer", "c_nationkey", "nation", "n_nationkey"),
    ("lineitem.l_orderkey->orders.o_orderkey",
     "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part.p_partkey",
     "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier.s_suppkey",
     "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("nation.n_regionkey->region.r_regionkey",
     "nation", "n_regionkey", "region", "r_regionkey"),
    ("orders.o_custkey->customer.c_custkey",
     "orders", "o_custkey", "customer", "c_custkey"),
    ("supplier.s_nationkey->nation.n_nationkey",
     "supplier", "s_nationkey", "nation", "n_nationkey"),
)

_REFERENTIAL_ORACLE = "\nUNION ALL\n".join(
    f"""
    SELECT '{edge}' AS edge,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {child}
             WHERE {ck} IS NOT NULL) AS n_child,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {child} c
             WHERE c.{ck} IS NOT NULL
               AND NOT EXISTS (SELECT 1 FROM {parent} p
                                WHERE p.{pk} = c.{ck})) AS n_orphans
    """
    for edge, child, ck, parent, pk in _FK_EDGES
) + "\nORDER BY edge"


@register("dq_referential", _REFERENTIAL_ORACLE)
def dq_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit over the whole warehouse FK graph
    [public practice: the orphan scan every ingest gate runs — a fact
    row whose dimension key resolves nowhere silently vanishes from
    every inner join downstream, so the audit must run BEFORE the
    marts; completes the dq_* deck beside dq_audit (column profiles),
    dq_constraints (row predicates) and dq_freshness]. One row per FK
    edge: non-null child keys and the count of orphans (left-anti to
    the parent). Both engines generate their plans from the SAME edge
    table, so coverage cannot drift.

    At 100 TB: each edge is a key-projected anti join — dim-sized
    parents broadcast (5 of 7 edges); the two fact-to-fact edges
    (lineitem->orders/part) shuffle on the key, which AQE skew-splits
    if one hot key dominates. Child scans prune to the single key
    column; counts are map-side-combinable. The audit is embarrassingly
    parallel across edges (independent subtrees under one union)."""
    per_edge = []
    for edge, child, ck, parent, pk in _FK_EDGES:
        ckeys = (
            load_table(spark, sf_dir, child)
            .select(F.col(ck).alias("k"))
            .filter(F.col("k").isNotNull())
        )
        pkeys = load_table(spark, sf_dir, parent).select(F.col(pk).alias("k"))
        n_child = ckeys.agg(F.count(F.lit(1)).cast("bigint").alias("n_child"))
        n_orph = ckeys.join(pkeys, "k", "left_anti").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orphans")
        )
        per_edge.append(
            n_child.crossJoin(n_orph).select(
                F.lit(edge).alias("edge"), "n_child", "n_orphans"
            )
        )
    return reduce(DataFrame.unionByName, per_edge).orderBy("edge")


# PSI drift monitor: fixed-width price bins (edges are CONSTANTS — a
# data-driven edge would make the metric depend on the comparison window
# itself), Laplace-smoothed proportions, reference year 1995.
_PSI_BIN_W = 60000.0
_PSI_BINS = 10
_PSI_REF_YEAR = 1995
_PSI_ALERT = 0.2


@register(
    "dq_drift_psi",
    f"""
    WITH b AS (
      SELECT year(CAST(o_orderdate AS TIMESTAMP)) AS yr,
             LEAST(CAST(FLOOR(o_totalprice / {_PSI_BIN_W}) AS INT), {_PSI_BINS - 1}) AS bin
      FROM orders
    ),
    years AS (SELECT DISTINCT yr FROM b),
    bins AS (SELECT unnest(generate_series(0, {_PSI_BINS - 1})) AS bin),
    grid AS (SELECT y.yr, bn.bin FROM years y CROSS JOIN bins bn),
    cnts AS (SELECT yr, bin, COUNT(*) AS c FROM b GROUP BY yr, bin),
    g AS (
      SELECT grid.yr, grid.bin, COALESCE(c.c, 0) AS c
      FROM grid LEFT JOIN cnts c ON c.yr = grid.yr AND c.bin = grid.bin
    ),
    tot AS (SELECT yr, CAST(SUM(c) AS BIGINT) AS n FROM g GROUP BY yr),
    prop AS (
      SELECT g.yr, g.bin,
             (g.c + 0.5) / (t.n + {_PSI_BINS} * 0.5) AS p, t.n
      FROM g JOIN tot t ON t.yr = g.yr
    ),
    ref AS (SELECT bin, p FROM prop WHERE yr = {_PSI_REF_YEAR}),
    cur AS (SELECT * FROM prop WHERE yr > {_PSI_REF_YEAR}),
    psi AS (
      SELECT cur.yr, cur.n,
             ROUND(SUM((cur.p - ref.p) * ln(cur.p / ref.p)), 6) AS price_psi
      FROM cur JOIN ref ON ref.bin = cur.bin
      GROUP BY cur.yr, cur.n
    )
    SELECT yr AS year, n AS n_rows, price_psi,
           price_psi > {_PSI_ALERT} AS drift_flag
    FROM psi
    ORDER BY year
    """,
)
def dq_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift monitor [public method: the
    standard credit-scoring / ML-monitoring drift statistic, PSI =
    SUM_i (q_i - p_i) ln(q_i / p_i) over binned proportions; rule of
    thumb: > 0.1 investigate, > 0.2 act]: each post-1995 order-year's
    o_totalprice distribution vs the 1995 reference, over FIXED
    constant bin edges (data-driven edges would entangle the metric
    with the window being tested) with Laplace 0.5-smoothing so empty
    bins contribute finite terms. The alert flag derives from the
    ROUNDED statistic, so both engines flip it identically at the
    boundary. Complements llm_corpus_drift (source-vs-rest JS on
    token distributions) with the TIME-axis drift a warehouse DQ
    suite pages on.

    At 100 TB: one map-side-combinable (year, bin) count over the
    fact — the only full scan; the grid completion, smoothing, and
    the reference join all run on |years| x |bins| rows (~70). The
    reference year's proportions broadcast; at web scale the same op
    runs per (table, column) in one pass by stacking a column id into
    the grouping key."""
    o = load_table(spark, sf_dir, "orders")
    b = o.select(
        F.year("o_orderdate").alias("yr"),
        F.least(
            F.floor(F.col("o_totalprice") / _PSI_BIN_W).cast("int"),
            F.lit(_PSI_BINS - 1),
        ).alias("bin"),
    )
    years = b.select("yr").distinct()
    bins = spark.range(_PSI_BINS).select(F.col("id").cast("int").alias("bin"))
    grid = years.crossJoin(bins)
    cnts = b.groupBy("yr", "bin").agg(F.count(F.lit(1)).alias("c"))
    g = grid.join(cnts, ["yr", "bin"], "left").select(
        "yr", "bin", F.coalesce(F.col("c"), F.lit(0)).alias("c")
    )
    tot = g.groupBy("yr").agg(F.sum("c").alias("n"))
    prop = g.join(tot, "yr").select(
        "yr",
        "bin",
        ((F.col("c") + 0.5) / (F.col("n") + _PSI_BINS * 0.5)).alias("p"),
        "n",
    )
    ref = prop.filter(F.col("yr") == _PSI_REF_YEAR).select(
        "bin", F.col("p").alias("p_ref")
    )
    cur = prop.filter(F.col("yr") > _PSI_REF_YEAR)
    psi = (
        cur.join(F.broadcast(ref), "bin")
        .groupBy("yr", "n")
        .agg(
            F.round(
                F.sum(
                    (F.col("p") - F.col("p_ref"))
                    * F.log(F.col("p") / F.col("p_ref"))
                ),
                6,
            ).alias("price_psi")
        )
    )
    return psi.select(
        F.col("yr").alias("year"),
        F.col("n").alias("n_rows"),
        "price_psi",
        (F.col("price_psi") > _PSI_ALERT).alias("drift_flag"),
    ).orderBy("year")
