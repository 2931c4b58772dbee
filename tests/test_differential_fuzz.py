"""Randomized differential testing (SURVEY.md §5.5): hypothesis generates
typed query specs (filters + grouping + aggregates) over the TPC-H-ish
fixtures; each spec is rendered TWICE — once through the DataFrame API
(the engine under test) and once as ANSI SQL for DuckDB — and the results
are compared with the same canonicalizer the driver-mirror gate uses.

This covers the combinatorial space BETWEEN the registry's 515
oracle-checked keys: random predicate/aggregate combinations that no fixed key
exercises, catching wiring bugs (wrong null semantics, precision drift,
filter/projection mix-ups) where both renderings must agree.

Determinism: ``derandomize=True`` makes hypothesis replay the same
example set every run — this is a regression net, not a flaky explorer.
"""

from __future__ import annotations

import pytest

# Slow tier (pytest.ini): randomized differential fuzz is the long tail
# of the suite (~5.5 min); the driver's default gate runs the fast tier.
pytestmark = pytest.mark.slow
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hive_test_spark.io import load_table
from hive_test_spark.oracle import compare, duck_connect
from tests.conftest import SF_DIR

# Typed column inventory per table: (numeric cols, categorical cols with
# their value domains, integer key cols). Domains mirror TESTDATA.md.
TABLES = {
    "lineitem": {
        "num": ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "cat": {
            "l_returnflag": ["A", "N", "R"],
            "l_linestatus": ["F", "O"],
        },
        "key": ["l_orderkey", "l_partkey", "l_suppkey"],
    },
    "orders": {
        "num": ["o_totalprice"],
        "cat": {
            "o_orderstatus": ["F", "O", "P"],
            "o_orderpriority": ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
        },
        "key": ["o_orderkey", "o_custkey"],
    },
    "customer": {
        "num": ["c_acctbal"],
        "cat": {"c_mktsegment": ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]},
        "key": ["c_custkey", "c_nationkey"],
    },
}

_NUM_OPS = ["<", "<=", ">", ">=", "!="]  # = on doubles is fragile; skip


@st.composite
def query_specs(draw):
    table = draw(st.sampled_from(sorted(TABLES)))
    t = TABLES[table]

    preds = []
    for _ in range(draw(st.integers(0, 2))):
        kind = draw(st.sampled_from(["num", "cat", "cat_in", "key_mod"]))
        if kind == "num":
            col = draw(st.sampled_from(t["num"]))
            op = draw(st.sampled_from(_NUM_OPS))
            lit = round(draw(st.floats(0.0, 100.0, allow_nan=False)), 2)
            preds.append(("num", col, op, lit))
        elif kind == "cat":
            col = draw(st.sampled_from(sorted(t["cat"])))
            val = draw(st.sampled_from(t["cat"][col]))
            preds.append(("cat_eq", col, draw(st.sampled_from(["=", "!="])), val))
        elif kind == "cat_in":
            col = draw(st.sampled_from(sorted(t["cat"])))
            vals = draw(
                st.lists(st.sampled_from(t["cat"][col]), min_size=1, unique=True)
            )
            preds.append(("cat_in", col, sorted(vals)))
        else:
            col = draw(st.sampled_from(t["key"]))
            mod = draw(st.integers(2, 7))
            rem = draw(st.integers(0, 1))
            preds.append(("key_mod", col, mod, rem))

    group = draw(
        st.lists(st.sampled_from(sorted(t["cat"])), max_size=2, unique=True)
    )

    aggs = [("count", None)]  # always present: pins the row multiplicity
    for _ in range(draw(st.integers(1, 3))):
        fn = draw(st.sampled_from(["sum", "min", "max", "avg", "count_distinct"]))
        col = draw(
            st.sampled_from(t["key"] if fn == "count_distinct" else t["num"])
        )
        agg = (fn, col)
        if agg not in aggs:
            aggs.append(agg)

    # Optional HAVING on the always-present COUNT(*) — only meaningful
    # with grouping; threshold small so some groups survive.
    having = (
        draw(st.one_of(st.none(), st.integers(1, 40))) if group else None
    )
    return {"table": table, "preds": preds, "group": group, "aggs": aggs,
            "having": having}


def _pred_sql(p) -> str:
    if p[0] == "num":
        return f"{p[1]} {p[2]} {p[3]}"
    if p[0] == "cat_eq":
        return f"{p[1]} {p[2]} '{p[3]}'"
    if p[0] == "cat_in":
        vals = ", ".join(f"'{v}'" for v in p[2])
        return f"{p[1]} IN ({vals})"
    return f"{p[1]} % {p[2]} = {p[3]}"


def _pred_col(p):
    if p[0] == "num":
        c = F.col(p[1])
        return {"<": c < p[3], "<=": c <= p[3], ">": c > p[3], ">=": c >= p[3], "!=": c != p[3]}[p[2]]
    if p[0] == "cat_eq":
        c = F.col(p[1])
        return c == p[3] if p[2] == "=" else c != p[3]
    if p[0] == "cat_in":
        return F.col(p[1]).isin(p[2])
    return F.col(p[1]) % p[2] == p[3]


def _agg_name(fn, col) -> str:
    return f"{fn}_{col}" if col else "n_rows"


def _agg_sql(fn, col) -> str:
    a = _agg_name(fn, col)
    if fn == "count":
        return f"COUNT(*) AS {a}"
    if fn == "count_distinct":
        return f"COUNT(DISTINCT {col}) AS {a}"
    if fn == "avg":
        return f"ROUND(AVG({col}), 6) AS {a}"
    if fn == "sum":
        return f"ROUND(SUM({col}), 6) AS {a}"
    return f"{fn.upper()}({col}) AS {a}"


def _agg_col(fn, col):
    a = _agg_name(fn, col)
    if fn == "count":
        return F.count(F.lit(1)).alias(a)
    if fn == "count_distinct":
        return F.count_distinct(F.col(col)).alias(a)
    if fn == "avg":
        return F.round(F.avg(col), 6).alias(a)
    if fn == "sum":
        return F.round(F.sum(col), 6).alias(a)
    return getattr(F, fn)(F.col(col)).alias(a)


def _render_sql(spec) -> str:
    where = (
        " WHERE " + " AND ".join(_pred_sql(p) for p in spec["preds"])
        if spec["preds"]
        else ""
    )
    aggs = ", ".join(_agg_sql(fn, col) for fn, col in spec["aggs"])
    if spec["group"]:
        keys = ", ".join(spec["group"])
        having = (
            f" HAVING COUNT(*) >= {spec['having']}"
            if spec.get("having") is not None
            else ""
        )
        return (
            f"SELECT {keys}, {aggs} FROM {spec['table']}{where}"
            f" GROUP BY {keys}{having}"
        )
    return f"SELECT {aggs} FROM {spec['table']}{where}"


def _render_df(spark, spec):
    df = load_table(spark, SF_DIR, spec["table"])
    for p in spec["preds"]:
        df = df.filter(_pred_col(p))
    aggs = [_agg_col(fn, col) for fn, col in spec["aggs"]]
    if spec["group"]:
        out = df.groupBy(*spec["group"]).agg(*aggs)
        if spec.get("having") is not None:
            out = out.filter(F.col("n_rows") >= spec["having"])
        return out
    return df.agg(*aggs)


@pytest.fixture(scope="module")
def duck(spark):
    return duck_connect(SF_DIR)


@settings(
    max_examples=25,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=query_specs())
def test_random_query_spec_matches_duckdb(spark, duck, spec):
    spark_pdf = _render_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_render_sql(spec)).df()
    r = compare("fuzz", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nsql={_render_sql(spec)}\nnotes={r['notes']}"


# ---- join grammar -------------------------------------------------------

_JOIN_PAIRS = {
    ("customer", "orders"): ("c_custkey", "o_custkey"),
    ("orders", "lineitem"): ("o_orderkey", "l_orderkey"),
}


@st.composite
def join_specs(draw):
    pair = draw(st.sampled_from(sorted(_JOIN_PAIRS)))
    lk, rk = _JOIN_PAIRS[pair]
    lt, rt = pair
    how = draw(st.sampled_from(["inner", "left", "right", "full"]))

    def side_pred(table):
        t = TABLES[table]
        if not draw(st.booleans()):
            return None
        col = draw(st.sampled_from(t["num"]))
        op = draw(st.sampled_from(_NUM_OPS))
        lit = round(draw(st.floats(0.0, 100.0, allow_nan=False)), 2)
        return ("num", col, op, lit)

    group = draw(st.sampled_from(sorted(TABLES[lt]["cat"])))
    rnum = draw(st.sampled_from(TABLES[rt]["num"]))
    return {
        "lt": lt, "rt": rt, "lk": lk, "rk": rk, "how": how,
        "lpred": side_pred(lt), "rpred": side_pred(rt),
        "group": group, "rnum": rnum,
    }


def _join_sql(spec) -> str:
    lsub = f"SELECT * FROM {spec['lt']}" + (
        f" WHERE {_pred_sql(spec['lpred'])}" if spec["lpred"] else ""
    )
    rsub = f"SELECT * FROM {spec['rt']}" + (
        f" WHERE {_pred_sql(spec['rpred'])}" if spec["rpred"] else ""
    )
    jt = {
        "inner": "JOIN",
        "left": "LEFT JOIN",
        "right": "RIGHT JOIN",
        "full": "FULL OUTER JOIN",
    }[spec["how"]]
    return (
        f"SELECT {spec['group']}, COUNT(*) AS n_rows, "
        f"COUNT({spec['rnum']}) AS n_right, "
        f"COUNT(DISTINCT {spec['rnum']}) AS n_right_distinct, "
        f"ROUND(SUM({spec['rnum']}), 6) AS sum_right "
        f"FROM ({lsub}) l {jt} ({rsub}) r ON l.{spec['lk']} = r.{spec['rk']} "
        f"GROUP BY {spec['group']}"
    )


def _join_df(spark, spec):
    left = load_table(spark, SF_DIR, spec["lt"])
    right = load_table(spark, SF_DIR, spec["rt"])
    if spec["lpred"]:
        left = left.filter(_pred_col(spec["lpred"]))
    if spec["rpred"]:
        right = right.filter(_pred_col(spec["rpred"]))
    joined = left.join(
        right, left[spec["lk"]] == right[spec["rk"]], spec["how"]
    )
    return joined.groupBy(spec["group"]).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(spec["rnum"]).alias("n_right"),
        F.countDistinct(spec["rnum"]).alias("n_right_distinct"),
        F.round(F.sum(spec["rnum"]), 6).alias("sum_right"),
    )


@settings(
    max_examples=15,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=join_specs())
def test_random_join_spec_matches_duckdb(spark, duck, spec):
    """Join fuzz: pre-filtered sides (sub-selects, so outer-join null
    semantics match the DataFrame rendering exactly), all four join
    types — right/full exercise NULL GROUPING KEYS (unmatched right
    rows group under a NULL left category) — with COUNT(col) pinning
    null-row multiplicity and COUNT(DISTINCT col) pinning the
    null-excluded distinct path through the Expand plan."""
    spark_pdf = _join_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_join_sql(spec)).df()
    r = compare("fuzz_join", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nsql={_join_sql(spec)}\nnotes={r['notes']}"


# ---- window grammar -----------------------------------------------------

# Only tables with a UNIQUE single key: the tie-break that makes
# row_number/lag deterministic.
_WIN_TABLES = {"orders": "o_orderkey", "customer": "c_custkey"}


@st.composite
def window_specs(draw):
    table = draw(st.sampled_from(sorted(_WIN_TABLES)))
    t = TABLES[table]
    part = draw(st.sampled_from(sorted(t["cat"])))
    num = draw(st.sampled_from(t["num"]))
    desc = draw(st.booleans())
    fns = draw(
        st.lists(
            st.sampled_from(["rank", "dense_rank", "lag", "running_sum"]),
            min_size=1, max_size=3, unique=True,
        )
    )
    return {"table": table, "key": _WIN_TABLES[table], "part": part,
            "num": num, "desc": desc, "fns": sorted(fns)}


def _win_sql(spec) -> str:
    d = "DESC" if spec["desc"] else "ASC"
    total = f"ORDER BY {spec['num']} {d}, {spec['key']}"
    tie_ok = f"ORDER BY {spec['num']} {d}"
    cols = [spec["key"], spec["part"]]
    for fn in spec["fns"]:
        if fn in ("rank", "dense_rank"):
            cols.append(
                f"{fn.upper()}() OVER (PARTITION BY {spec['part']} {tie_ok}) AS {fn}_v"
            )
        elif fn == "lag":
            cols.append(
                f"LAG({spec['num']}) OVER (PARTITION BY {spec['part']} {total}) AS lag_v"
            )
        else:
            cols.append(
                f"ROUND(SUM({spec['num']}) OVER (PARTITION BY {spec['part']} {total} "
                f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS running_sum_v"
            )
    rn = f"ROW_NUMBER() OVER (PARTITION BY {spec['part']} {total})"
    return (
        f"SELECT * FROM (SELECT {', '.join(cols)}, {rn} AS rn "
        f"FROM {spec['table']}) t WHERE rn <= 5"
    )


def _win_df(spark, spec):
    from pyspark.sql import Window

    num = F.col(spec["num"])
    ordered = [num.desc() if spec["desc"] else num.asc(), F.col(spec["key"])]
    tie_ok = Window.partitionBy(spec["part"]).orderBy(
        num.desc() if spec["desc"] else num.asc()
    )
    total = Window.partitionBy(spec["part"]).orderBy(*ordered)
    df = load_table(spark, SF_DIR, spec["table"])
    cols = [F.col(spec["key"]), F.col(spec["part"])]
    for fn in spec["fns"]:
        if fn == "rank":
            cols.append(F.rank().over(tie_ok).alias("rank_v"))
        elif fn == "dense_rank":
            cols.append(F.dense_rank().over(tie_ok).alias("dense_rank_v"))
        elif fn == "lag":
            cols.append(F.lag(num).over(total).alias("lag_v"))
        else:
            cols.append(
                F.round(
                    F.sum(num).over(
                        total.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                    ),
                    6,
                ).alias("running_sum_v")
            )
    cols.append(F.row_number().over(total).alias("rn"))
    return df.select(*cols).filter(F.col("rn") <= 5)


@settings(
    max_examples=15,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=window_specs())
def test_random_window_spec_matches_duckdb(spark, duck, spec):
    """Window fuzz: rank family on a tie-permitting order (deterministic
    by definition), positional functions on a total order (unique-key
    tie-break), top-5 per partition to bound the diff."""
    spark_pdf = _win_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_win_sql(spec)).df()
    r = compare("fuzz_window", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nsql={_win_sql(spec)}\nnotes={r['notes']}"


# ---- grouping-sets grammar ----------------------------------------------


@st.composite
def grouping_specs(draw):
    table = draw(st.sampled_from(sorted(TABLES)))
    t = TABLES[table]
    cols = draw(
        st.lists(st.sampled_from(sorted(t["cat"])), min_size=1, max_size=2,
                 unique=True)
    )
    mode = draw(st.sampled_from(["rollup", "cube", "sets"]))
    sets = None
    if mode == "sets":
        # Random non-empty family of subsets of cols (always include the
        # full set so at least one fine-grained grouping exists).
        subsets = [cols]
        if draw(st.booleans()):
            subsets.append([])
        for c in cols:
            if draw(st.booleans()):
                subsets.append([c])
        sets = subsets
    num = draw(st.sampled_from(t["num"]))
    pred = None
    if draw(st.booleans()):
        col = draw(st.sampled_from(t["num"]))
        op = draw(st.sampled_from(_NUM_OPS))
        lit = round(draw(st.floats(0.0, 100.0, allow_nan=False)), 2)
        pred = ("num", col, op, lit)
    return {"table": table, "cols": cols, "mode": mode, "sets": sets,
            "num": num, "pred": pred}


def _grouping_sql(spec) -> str:
    cols = spec["cols"]
    where = f" WHERE {_pred_sql(spec['pred'])}" if spec["pred"] else ""
    if spec["mode"] == "rollup":
        by = f"ROLLUP ({', '.join(cols)})"
    elif spec["mode"] == "cube":
        by = f"CUBE ({', '.join(cols)})"
    else:
        rendered = ", ".join(f"({', '.join(s)})" for s in spec["sets"])
        by = f"GROUPING SETS ({rendered})"
    flags = ", ".join(
        f"CAST(GROUPING({c}) AS INT) AS g_{c}" for c in cols
    )
    # Dialect trap (found by this fuzzer): over an EMPTY input,
    # ROLLUP/CUBE/GROUPING SETS containing the () set emit the standard
    # grand-total row (n=0, SUM NULL) in DuckDB but ZERO rows in Spark
    # (even though Spark's plain global aggregate does return its 1-row
    # form). HAVING COUNT(*) > 0 pins the comparison to the semantics
    # both engines share: it is a no-op whenever the input is non-empty
    # (every emitted group covers >= 1 row) and drops only the
    # divergent empty-input grand-total row.
    return (
        f"SELECT {', '.join(cols)}, {flags}, COUNT(*) AS n_rows, "
        f"ROUND(SUM({spec['num']}), 6) AS sum_v "
        f"FROM {spec['table']}{where} GROUP BY {by} HAVING COUNT(*) > 0"
    )


def _grouping_df(spark, spec):
    df = load_table(spark, SF_DIR, spec["table"])
    if spec["pred"]:
        df = df.filter(_pred_col(spec["pred"]))
    cols = spec["cols"]
    if spec["mode"] == "rollup":
        g = df.rollup(*cols)
    elif spec["mode"] == "cube":
        g = df.cube(*cols)
    else:
        g = df.groupingSets(spec["sets"], *cols)
    aggs = [F.grouping(c).cast("int").alias(f"g_{c}") for c in cols]
    aggs += [
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum(spec["num"]), 6).alias("sum_v"),
    ]
    return g.agg(*aggs).select(
        *cols, *[f"g_{c}" for c in cols], "n_rows", "sum_v"
    )


@settings(
    max_examples=15,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=grouping_specs())
def test_random_grouping_spec_matches_duckdb(spark, duck, spec):
    """Grouping fuzz: rollup/cube/random grouping-set families with
    GROUPING() flags (the flags disambiguate rolled-up NULLs from data
    NULLs, so the compare is total even when sets overlap)."""
    spark_pdf = _grouping_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_grouping_sql(spec)).df()
    r = compare("fuzz_grouping", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nsql={_grouping_sql(spec)}\nnotes={r['notes']}"


# ---- set-operation grammar ----------------------------------------------


@st.composite
def setop_specs(draw):
    table = draw(st.sampled_from(sorted(TABLES)))
    t = TABLES[table]
    cat = draw(st.sampled_from(sorted(t["cat"])))
    key = draw(st.sampled_from(t["key"]))

    def leg():
        col = draw(st.sampled_from(t["num"]))
        op = draw(st.sampled_from(_NUM_OPS))
        lit = round(draw(st.floats(0.0, 100.0, allow_nan=False)), 2)
        return ("num", col, op, lit)

    ops = draw(
        st.lists(
            st.sampled_from(["union_all", "union", "intersect", "except"]),
            min_size=1, max_size=2,
        )
    )
    return {"table": table, "cat": cat, "key": key,
            "legs": [leg() for _ in range(len(ops) + 1)], "ops": ops}


_SETOP_SQL = {"union_all": "UNION ALL", "union": "UNION",
              "intersect": "INTERSECT", "except": "EXCEPT"}


def _setop_sql(spec) -> str:
    legs = [
        f"SELECT {spec['cat']} AS c, {spec['key']} % 10 AS k "
        f"FROM {spec['table']} WHERE {_pred_sql(p)}"
        for p in spec["legs"]
    ]
    expr = legs[0]
    for op, leg in zip(spec["ops"], legs[1:]):
        expr = f"({expr}) {_SETOP_SQL[op]} ({leg})"
    return f"SELECT c, k, COUNT(*) AS n FROM ({expr}) t GROUP BY c, k"


def _setop_df(spark, spec):
    def leg(p):
        df = load_table(spark, SF_DIR, spec["table"]).filter(_pred_col(p))
        return df.select(
            F.col(spec["cat"]).alias("c"), (F.col(spec["key"]) % 10).alias("k")
        )

    out = leg(spec["legs"][0])
    for op, p in zip(spec["ops"], spec["legs"][1:]):
        nxt = leg(p)
        if op == "union_all":
            out = out.unionAll(nxt)
        elif op == "union":
            out = out.unionAll(nxt).distinct()
        elif op == "intersect":
            out = out.intersect(nxt)
        else:
            out = out.subtract(nxt)  # EXCEPT DISTINCT, like the SQL leg
    return out.groupBy("c", "k").agg(F.count(F.lit(1)).alias("n"))


@settings(
    max_examples=15,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=setop_specs())
def test_random_setop_spec_matches_duckdb(spark, duck, spec):
    """Set-op fuzz: chains of UNION [ALL]/INTERSECT/EXCEPT over
    pre-filtered projections — SQL's distinct-set semantics for
    INTERSECT/EXCEPT must match DataFrame intersect()/subtract(), and
    the trailing rollup pins multiplicity after every chain."""
    spark_pdf = _setop_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_setop_sql(spec)).df()
    r = compare("fuzz_setop", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nsql={_setop_sql(spec)}\nnotes={r['notes']}"


# ---- correlated-subquery grammar ----------------------------------------

_SUBQ_PAIRS = {
    "customer": ("orders", "c_custkey", "o_custkey"),
    "orders": ("lineitem", "o_orderkey", "l_orderkey"),
}


@st.composite
def subquery_specs(draw):
    outer = draw(st.sampled_from(sorted(_SUBQ_PAIRS)))
    inner, ok, ik = _SUBQ_PAIRS[outer]
    form = draw(st.sampled_from(["exists", "not_exists", "in", "not_in"]))
    icol = draw(st.sampled_from(TABLES[inner]["num"]))
    iop = draw(st.sampled_from(_NUM_OPS))
    ilit = round(draw(st.floats(0.0, 100.0, allow_nan=False)), 2)
    cat = draw(st.sampled_from(sorted(TABLES[outer]["cat"])))
    num = draw(st.sampled_from(TABLES[outer]["num"]))
    return {"outer": outer, "inner": inner, "ok": ok, "ik": ik,
            "form": form, "ipred": ("num", icol, iop, ilit),
            "cat": cat, "num": num}


def _subq_sql(spec) -> str:
    ip = _pred_sql(spec["ipred"])
    if spec["form"] in ("exists", "not_exists"):
        neg = "NOT " if spec["form"] == "not_exists" else ""
        cond = (f"{neg}EXISTS (SELECT 1 FROM {spec['inner']} i "
                f"WHERE i.{spec['ik']} = o.{spec['ok']} AND i.{ip})")
    else:
        neg = "NOT " if spec["form"] == "not_in" else ""
        cond = (f"o.{spec['ok']} {neg}IN (SELECT {spec['ik']} "
                f"FROM {spec['inner']} i WHERE i.{ip})")
    return (
        f"SELECT {spec['cat']}, COUNT(*) AS n, "
        f"ROUND(SUM({spec['num']}), 6) AS sum_v "
        f"FROM {spec['outer']} o WHERE {cond} GROUP BY {spec['cat']}"
    )


def _subq_df(spark, spec):
    outer = load_table(spark, SF_DIR, spec["outer"])
    inner = load_table(spark, SF_DIR, spec["inner"]).filter(
        _pred_col(spec["ipred"])
    )
    how = "left_semi" if spec["form"] in ("exists", "in") else "left_anti"
    # EXISTS≡IN and NOT EXISTS≡NOT IN here: join keys are non-null in
    # the fixtures, so the null-aware NOT IN degenerates to plain anti.
    joined = outer.join(
        inner, outer[spec["ok"]] == inner[spec["ik"]], how
    )
    return joined.groupBy(spec["cat"]).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(spec["num"]), 6).alias("sum_v"),
    )


@settings(
    max_examples=15,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=subquery_specs())
def test_random_subquery_spec_matches_duckdb(spark, duck, spec):
    """Correlated-subquery fuzz: EXISTS/NOT EXISTS/IN/NOT IN with a
    random inner predicate, rendered as semi/anti joins on the Spark
    side — pins the decorrelation equivalence over the predicate space
    (and the rolled-up sums over the surviving outer rows)."""
    spark_pdf = _subq_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_subq_sql(spec)).df()
    r = compare("fuzz_subq", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nsql={_subq_sql(spec)}\nnotes={r['notes']}"


# ---- scalar-expression grammar ------------------------------------------
#
# Random compositions of string/date/math scalar functions whose
# semantics are identical in Spark and DuckDB (the curated common
# surface: 1-based substring, HALF-UP round, IEEE sqrt, extract-style
# date parts). Each expression tree is rendered through the DataFrame
# API (F.*) and as SQL for DuckDB — covering the combinatorial space
# between the fixed fn_* exhibit keys.

_STR_BASE = [("customer", "c_name"), ("customer", "c_mktsegment"),
             ("orders", "o_orderpriority")]
_NUM_BASE = {"customer": "c_acctbal", "orders": "o_totalprice"}
_KEY_BASE = {"customer": "c_custkey", "orders": "o_orderkey"}


@st.composite
def scalar_specs(draw):
    table, scol = draw(st.sampled_from(_STR_BASE))
    ops = []
    for _ in range(draw(st.integers(1, 3))):
        ops.append(draw(st.sampled_from([
            ("upper",), ("lower",), ("trim",), ("reverse",),
            ("lpad", draw(st.integers(5, 20)), "_"),
            ("substr", draw(st.integers(1, 5)), draw(st.integers(1, 8))),
            ("replace", draw(st.sampled_from(["a", "e", "#0"])), "*"),
        ])))
    num_ops = draw(st.lists(
        st.sampled_from(["abs", "sqrt_abs", "round2", "plus_len"]),
        min_size=1, max_size=3))
    mod = draw(st.integers(2, 9))
    return {"table": table, "scol": scol, "ops": ops,
            "num_ops": num_ops, "mod": mod}


def _scalar_sql(spec) -> str:
    e = spec["scol"]
    for op in spec["ops"]:
        if op[0] == "upper":
            e = f"upper({e})"
        elif op[0] == "lower":
            e = f"lower({e})"
        elif op[0] == "trim":
            e = f"trim({e})"
        elif op[0] == "reverse":
            e = f"reverse({e})"
        elif op[0] == "lpad":
            e = f"lpad({e}, {op[1]}, '{op[2]}')"
        elif op[0] == "substr":
            e = f"substring({e}, {op[1]}, {op[2]})"
        else:
            e = f"replace({e}, '{op[1]}', '{op[2]}')"
    n = _NUM_BASE[spec["table"]]
    for op in spec["num_ops"]:
        if op == "abs":
            n = f"abs({n})"
        elif op == "sqrt_abs":
            n = f"sqrt(abs({n}))"
        elif op == "round2":
            n = f"round({n}, 2)"
        else:
            n = f"({n} + length({e}))"
    key = _KEY_BASE[spec["table"]]
    return (
        f"SELECT {key} AS k, {e} AS s, ROUND({n}, 6) AS v,"
        f" CAST(length({e}) AS BIGINT) AS slen"
        f" FROM {spec['table']} WHERE {key} % {spec['mod']} = 1"
    )


def _scalar_df(spark, spec):
    df = load_table(spark, SF_DIR, spec["table"])
    e = F.col(spec["scol"])
    for op in spec["ops"]:
        if op[0] == "upper":
            e = F.upper(e)
        elif op[0] == "lower":
            e = F.lower(e)
        elif op[0] == "trim":
            e = F.trim(e)
        elif op[0] == "reverse":
            e = F.reverse(e)
        elif op[0] == "lpad":
            e = F.lpad(e, op[1], op[2])
        elif op[0] == "substr":
            e = F.substring(e, op[1], op[2])
        else:
            e = F.replace(e, F.lit(op[1]), F.lit(op[2]))
    n = F.col(_NUM_BASE[spec["table"]])
    for op in spec["num_ops"]:
        if op == "abs":
            n = F.abs(n)
        elif op == "sqrt_abs":
            n = F.sqrt(F.abs(n))
        elif op == "round2":
            n = F.round(n, 2)
        else:
            n = n + F.length(e)
    key = F.col(_KEY_BASE[spec["table"]])
    return df.filter(key % spec["mod"] == 1).select(
        key.alias("k"),
        e.alias("s"),
        F.round(n, 6).alias("v"),
        F.length(e).cast("bigint").alias("slen"),
    )


@settings(
    max_examples=25,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=scalar_specs())
def test_random_scalar_expr_matches_duckdb(spark, duck, spec):
    """Scalar-function fuzz: nested string pipelines (case/trim/pad/
    substring/replace/reverse) and numeric towers (abs/sqrt/round,
    string-length bridges) must agree cell-for-cell between the
    DataFrame API and DuckDB — catching 0/1-based indexing drift,
    rounding-mode drift, and padding/truncation asymmetries."""
    spark_pdf = _scalar_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_scalar_sql(spec)).df()
    r = compare("fuzz_scalar", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nsql={_scalar_sql(spec)}\nnotes={r['notes']}"


# ---- date/timestamp grammar ---------------------------------------------

_DATE_TABLES = {
    "lineitem": ("l_orderkey", "l_shipdate"),
    "events": ("event_id", "ts"),
}
_TRUNC_UNITS = ["year", "month", "week", "day", "hour"]
_ANCHOR = "1995-06-01"


@st.composite
def date_specs(draw):
    table = draw(st.sampled_from(sorted(_DATE_TABLES)))
    return {
        "table": table,
        "unit": draw(st.sampled_from(_TRUNC_UNITS)),
        "parts": draw(st.lists(
            st.sampled_from(["year", "month", "day", "hour"]),
            min_size=1, max_size=3, unique=True)),
        "shift": draw(st.integers(-45, 45)),
        "mod": draw(st.integers(2, 9)),
    }


def _date_sql(spec) -> str:
    key, ts = _DATE_TABLES[spec["table"]]
    t = f"CAST({ts} AS TIMESTAMP)"
    parts = ", ".join(
        f"CAST({p}({t}) AS BIGINT) AS p_{p}" for p in spec["parts"]
    )
    return (
        f"SELECT {key} AS k,"
        f" CAST(date_trunc('{spec['unit']}', {t}) AS TIMESTAMP) AS t_trunc,"
        f" {parts},"
        f" CAST(CAST({t} AS DATE) + {spec['shift']} AS VARCHAR) AS d_shift,"
        f" CAST(datediff('day', DATE '{_ANCHOR}', CAST({t} AS DATE)) AS BIGINT)"
        f"   AS diff_days"
        f" FROM {spec['table']} WHERE {key} % {spec['mod']} = 1"
    )


_PART_FNS = {"year": F.year, "month": F.month, "day": F.dayofmonth, "hour": F.hour}


def _date_df(spark, spec):
    key, ts = _DATE_TABLES[spec["table"]]
    df = load_table(spark, SF_DIR, spec["table"])
    t = F.col(ts)
    cols = [
        F.col(key).alias("k"),
        F.date_trunc(spec["unit"], t).alias("t_trunc"),
        *[
            _PART_FNS[p](t).cast("bigint").alias(f"p_{p}")
            for p in spec["parts"]
        ],
        F.date_add(t.cast("date"), spec["shift"]).cast("string").alias("d_shift"),
        F.datediff(t.cast("date"), F.lit(_ANCHOR).cast("date"))
        .cast("bigint")
        .alias("diff_days"),
    ]
    return df.filter(F.col(key) % spec["mod"] == 1).select(*cols)


@settings(
    max_examples=25,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=date_specs())
def test_random_date_expr_matches_duckdb(spark, duck, spec):
    """Date/timestamp fuzz: date_trunc across five units (incl. ISO-week
    Mondays), extract-style parts, day-shifted dates, and anchored
    datediff must agree cell-for-cell across both engines and both
    fixture timestamp vintages (ns-normalized events, µs lineitem) —
    catching truncation-boundary, timezone, and day-arithmetic drift."""
    spark_pdf = _date_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_date_sql(spec)).df()
    r = compare("fuzz_date", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nsql={_date_sql(spec)}\nnotes={r['notes']}"


# ---- array / higher-order-function grammar -------------------------------
#
# Random chains of array ops over token arrays from documents.text —
# the HOF machinery (split/slice/distinct/sort/filter/transform) that the
# llm_* shingling and fingerprinting operators are built from. Spark is
# 1-based slice(arr, start, len); DuckDB is 1-based inclusive
# arr[start:stop] — the chain renderer owns that translation. After a
# `distinct` both sides immediately sort: DuckDB's list_distinct does not
# guarantee order preservation, so order bugs are checked only for the
# order-defined ops (slice/sort/transform/filter).


@st.composite
def array_specs(draw):
    ops = []
    for _ in range(draw(st.integers(1, 3))):
        ops.append(draw(st.sampled_from([
            ("slice", draw(st.integers(1, 3)), draw(st.integers(2, 6))),
            ("distinct",),
            ("sort",),
            ("filter_len", draw(st.integers(3, 6))),
            ("upper",),
        ])))
    return {"ops": ops, "mod": draw(st.integers(2, 9))}


def _array_sql(spec) -> str:
    e = "string_split(text, ' ')"
    for op in spec["ops"]:
        if op[0] == "slice":
            e = f"({e})[{op[1]}:{op[1] + op[2] - 1}]"
        elif op[0] == "distinct":
            e = f"list_sort(list_distinct({e}))"
        elif op[0] == "sort":
            e = f"list_sort({e})"
        elif op[0] == "filter_len":
            e = f"list_filter({e}, x -> length(x) >= {op[1]})"
        else:
            e = f"list_transform({e}, x -> upper(x))"
    # Dialect trap (found by this fuzzer): DuckDB array_to_string([]) is
    # NULL where Spark array_join([]) is '' — COALESCE aligns them.
    return (
        f"SELECT doc_id AS k, len({e}) AS n,"
        f" COALESCE(array_to_string({e}, '|'), '') AS joined"
        f" FROM documents WHERE doc_id % {spec['mod']} = 1"
    )


def _array_df(spark, spec):
    df = load_table(spark, SF_DIR, "documents")
    e = "split(text, ' ')"
    for op in spec["ops"]:
        if op[0] == "slice":
            e = f"slice({e}, {op[1]}, {op[2]})"
        elif op[0] == "distinct":
            e = f"array_sort(array_distinct({e}))"
        elif op[0] == "sort":
            e = f"array_sort({e})"
        elif op[0] == "filter_len":
            e = f"filter({e}, x -> length(x) >= {op[1]})"
        else:
            e = f"transform({e}, x -> upper(x))"
    return df.filter(F.col("doc_id") % spec["mod"] == 1).select(
        F.col("doc_id").alias("k"),
        F.expr(f"size({e})").alias("n"),
        F.expr(f"array_join({e}, '|')").alias("joined"),
    )


@settings(
    max_examples=25,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=array_specs())
def test_random_array_expr_matches_duckdb(spark, duck, spec):
    """Array-HOF fuzz: random slice/distinct/sort/filter/transform chains
    over token arrays must agree element-for-element (joined digest) and
    in length — catching 0/1-based slice drift, filter-lambda semantics,
    and ordering divergence in the HOF surface the shingling ops use."""
    spark_pdf = _array_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_array_sql(spec)).df()
    r = compare("fuzz_array", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nsql={_array_sql(spec)}\nnotes={r['notes']}"


# ---- window-frame grammar ------------------------------------------------
#
# The operator suite pins ONE frame shape per op (running, centered MA,
# range-interval); this grammar sweeps the ROWS-frame lattice — random
# (lo, hi) bounds crossed with the agg function — because off-by-one
# frame-boundary drift between engines is invisible until a frame is
# asymmetric. Aggregates run over a TOTAL order (unique-key tie-break) so
# every frame's membership is deterministic.

_FRAME_FNS = ["sum", "min", "max", "count", "avg"]
_FRAME_LOS = ["unbounded", -3, -2, -1, 0]
_FRAME_HIS = [0, 1, 2, 3, "unbounded"]


@st.composite
def frame_specs(draw):
    table = draw(st.sampled_from(sorted(_WIN_TABLES)))
    t = TABLES[table]
    part = draw(st.sampled_from(sorted(t["cat"])))
    num = draw(st.sampled_from(t["num"]))
    desc = draw(st.booleans())
    fn = draw(st.sampled_from(_FRAME_FNS))
    lo = draw(st.sampled_from(_FRAME_LOS))
    hi = draw(st.sampled_from(_FRAME_HIS))
    return {"table": table, "key": _WIN_TABLES[table], "part": part,
            "num": num, "desc": desc, "fn": fn, "lo": lo, "hi": hi}


def _bound_sql(b, side: str) -> str:
    if b == "unbounded":
        return f"UNBOUNDED {'PRECEDING' if side == 'lo' else 'FOLLOWING'}"
    if b == 0:
        return "CURRENT ROW"
    return f"{-b} PRECEDING" if b < 0 else f"{b} FOLLOWING"


def _frame_sql(spec) -> str:
    d = "DESC" if spec["desc"] else "ASC"
    order = f"ORDER BY {spec['num']} {d}, {spec['key']}"
    frame = f"ROWS BETWEEN {_bound_sql(spec['lo'], 'lo')} AND {_bound_sql(spec['hi'], 'hi')}"
    agg = f"{spec['fn'].upper()}({spec['num']})"
    val = (
        f"{agg} OVER (PARTITION BY {spec['part']} {order} {frame})"
    )
    if spec["fn"] != "count":
        val = f"ROUND({val}, 6)"
    rn = f"ROW_NUMBER() OVER (PARTITION BY {spec['part']} {order})"
    return (
        f"SELECT * FROM (SELECT {spec['key']}, {spec['part']}, {val} AS frame_v, "
        f"{rn} AS rn FROM {spec['table']}) t WHERE rn <= 5"
    )


def _frame_df(spark, spec):
    from pyspark.sql import Window

    num = F.col(spec["num"])
    ordered = [num.desc() if spec["desc"] else num.asc(), F.col(spec["key"])]
    w = Window.partitionBy(spec["part"]).orderBy(*ordered)
    lo = Window.unboundedPreceding if spec["lo"] == "unbounded" else spec["lo"]
    hi = Window.unboundedFollowing if spec["hi"] == "unbounded" else spec["hi"]
    framed = w.rowsBetween(lo, hi)
    fns = {"sum": F.sum, "min": F.min, "max": F.max, "count": F.count, "avg": F.avg}
    val = fns[spec["fn"]](num).over(framed)
    if spec["fn"] != "count":
        val = F.round(val, 6)
    df = load_table(spark, SF_DIR, spec["table"])
    return (
        df.select(
            F.col(spec["key"]),
            F.col(spec["part"]),
            val.alias("frame_v"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 5)
    )


@settings(
    max_examples=20,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=frame_specs())
def test_random_window_frame_matches_duckdb(spark, duck, spec):
    """ROWS-frame fuzz: random (lo, hi) boundary pairs — including empty
    frames (lo > hi ⇒ NULL agg / 0 count) and degenerate CURRENT ROW
    frames — crossed with the agg family, on a total order. Catches
    boundary-inclusion drift the fixed-frame operator tests can't."""
    spark_pdf = _frame_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_frame_sql(spec)).df()
    r = compare("fuzz_frame", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nsql={_frame_sql(spec)}\nnotes={r['notes']}"


# ---- string-function grammar ---------------------------------------------
#
# Random chains of scalar string ops over documents.text — the surface
# fn_string/fn_regex and every text-curation op lean on. Both dialects
# share most names; the renderer owns the two divergences (Spark instr vs
# DuckDB strpos, and trim argument forms). Chains stay shallow (<=3 ops)
# but cross substr windows, padding (which TRUNCATES beyond n in both
# engines — itself worth pinning), case folding, replacement, and
# reversal; the probe row then reports length, a fixed-needle position,
# and the value itself.

_STR_NEEDLES = ["a", "e", "in", "sp"]


@st.composite
def string_specs(draw):
    ops = []
    for _ in range(draw(st.integers(1, 3))):
        ops.append(draw(st.sampled_from([
            ("substr", draw(st.integers(1, 12)), draw(st.integers(3, 24))),
            ("upper",),
            ("lower",),
            ("replace", draw(st.sampled_from("aeio")), draw(st.sampled_from("@#*"))),
            ("reverse",),
            ("lpad", draw(st.integers(4, 20)), draw(st.sampled_from("#_x"))),
            ("trim",),
        ])))
    return {
        "ops": ops,
        "needle": draw(st.sampled_from(_STR_NEEDLES)),
        "mod": draw(st.integers(2, 9)),
    }


def _string_chain(spec, *, duckdb: bool) -> str:
    e = "text"
    for op in spec["ops"]:
        if op[0] == "substr":
            e = f"substr({e}, {op[1]}, {op[2]})"
        elif op[0] == "upper":
            e = f"upper({e})"
        elif op[0] == "lower":
            e = f"lower({e})"
        elif op[0] == "replace":
            e = f"replace({e}, '{op[1]}', '{op[2]}')"
        elif op[0] == "reverse":
            e = f"reverse({e})"
        elif op[0] == "lpad":
            e = f"lpad({e}, {op[1]}, '{op[2]}')"
        else:
            e = f"trim({e})"
    return e


def _string_sql(spec) -> str:
    e = _string_chain(spec, duckdb=True)
    return (
        f"SELECT doc_id AS k, length({e}) AS n,"
        f" strpos({e}, '{spec['needle']}') AS pos,"
        f" {e} AS s"
        f" FROM documents WHERE doc_id % {spec['mod']} = 1"
    )


def _string_df(spark, spec):
    e = _string_chain(spec, duckdb=False)
    df = load_table(spark, SF_DIR, "documents")
    return df.filter(F.col("doc_id") % spec["mod"] == 1).select(
        F.col("doc_id").alias("k"),
        F.expr(f"length({e})").cast("bigint").alias("n"),
        F.expr(f"instr({e}, '{spec['needle']}')").cast("bigint").alias("pos"),
        F.expr(e).alias("s"),
    )


@settings(
    max_examples=25,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=string_specs())
def test_random_string_expr_matches_duckdb(spark, duck, spec):
    """String-chain fuzz: random substr/case/replace/reverse/lpad/trim
    compositions must agree byte-for-byte, in length, and in
    fixed-needle position (Spark instr == DuckDB strpos) — catching
    1-based-offset drift, pad-truncation divergence, and fold/replace
    ordering effects across the scalar string surface."""
    spark_pdf = _string_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_string_sql(spec)).df()
    r = compare("fuzz_string", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nsql={_string_sql(spec)}\nnotes={r['notes']}"


# ---- conditional-aggregate (FILTER clause) grammar -----------------------
#
# Both dialects support `agg(x) FILTER (WHERE pred)` since Spark 3.0 /
# DuckDB forever — the surface behind every conditional-metrics rollup
# (n_pass_*, pivoted CASE sums). Random (fn, filter-pred) pairs ride one
# GROUP BY; the trap pinned here: a filter that matches NOTHING yields
# NULL for sum/min/max/avg but 0 for count — per aggregate, per group.


@st.composite
def filter_agg_specs(draw):
    table = draw(st.sampled_from(sorted(TABLES)))
    t = TABLES[table]
    group = draw(st.sampled_from(sorted(t["cat"])))
    aggs = []
    for _ in range(draw(st.integers(1, 3))):
        fn = draw(st.sampled_from(["sum", "min", "max", "avg", "count"]))
        col = draw(st.sampled_from(t["num"]))
        pcol = draw(st.sampled_from(t["num"]))
        thresh = round(draw(st.floats(0.0, 80.0, allow_nan=False)), 2)
        op = draw(st.sampled_from([">", "<="]))
        aggs.append((fn, col, pcol, op, thresh))
    return {"table": table, "group": group, "aggs": aggs}


def _fagg_alias(i: int) -> str:
    return f"m{i}"


def _fagg_sql(spec) -> str:
    parts = [f"{spec['group']}", "COUNT(*) AS n"]
    for i, (fn, col, pcol, op, thresh) in enumerate(spec["aggs"]):
        expr = f"{fn.upper()}({col}) FILTER (WHERE {pcol} {op} {thresh})"
        if fn != "count":
            expr = f"ROUND({expr}, 6)"
        parts.append(f"{expr} AS {_fagg_alias(i)}")
    return (
        f"SELECT {', '.join(parts)} FROM {spec['table']} "
        f"GROUP BY {spec['group']}"
    )


def _fagg_df(spark, spec):
    df = load_table(spark, SF_DIR, spec["table"])
    fns = {"sum": F.sum, "min": F.min, "max": F.max, "avg": F.avg, "count": F.count}
    cols = [F.count(F.lit(1)).alias("n")]
    for i, (fn, col, pcol, op, thresh) in enumerate(spec["aggs"]):
        pred = F.col(pcol) > thresh if op == ">" else F.col(pcol) <= thresh
        val = fns[fn](F.when(pred, F.col(col)))
        if fn != "count":
            val = F.round(val, 6)
        cols.append(val.alias(_fagg_alias(i)))
    return df.groupBy(spec["group"]).agg(*cols)


@settings(
    max_examples=25,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=filter_agg_specs())
def test_random_filter_agg_matches_duckdb(spark, duck, spec):
    """Conditional-aggregate fuzz: random agg(col) FILTER (WHERE pred)
    stacks per group — Spark expresses the clause as agg(CASE WHEN),
    which must agree including the empty-filter corner (NULL for
    sum/min/max/avg, 0 for count) per aggregate per group."""
    spark_pdf = _fagg_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_fagg_sql(spec)).df()
    r = compare("fuzz_filter_agg", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nsql={_fagg_sql(spec)}\nnotes={r['notes']}"


# ---- join + window composition grammar ----------------------------------

# Single-construct grammars cannot catch wiring bugs BETWEEN constructs;
# this one windows over a join result — including NULL partition keys
# from unmatched left rows — with the unique orders key as tie-break.


@st.composite
def join_window_specs(draw):
    how = draw(st.sampled_from(["inner", "left"]))
    part = draw(st.sampled_from(sorted(TABLES["customer"]["cat"])))
    rpred = None
    if draw(st.booleans()):
        op = draw(st.sampled_from(_NUM_OPS))
        lit = round(draw(st.floats(0.0, 5000.0, allow_nan=False)), 2)
        rpred = ("num", "c_acctbal", op, lit)
    desc = draw(st.booleans())
    fn = draw(st.sampled_from(["rank", "lag", "running_sum"]))
    return {"how": how, "part": part, "rpred": rpred, "desc": desc, "fn": fn}


def _join_win_sql(spec) -> str:
    d = "DESC" if spec["desc"] else "ASC"
    rsub = "SELECT * FROM customer" + (
        f" WHERE {_pred_sql(spec['rpred'])}" if spec["rpred"] else ""
    )
    jt = "JOIN" if spec["how"] == "inner" else "LEFT JOIN"
    base = (
        f"SELECT o_orderkey, o_totalprice, {spec['part']} "
        f"FROM orders o {jt} ({rsub}) c ON o.o_custkey = c.c_custkey"
    )
    total = f"ORDER BY o_totalprice {d}, o_orderkey"
    if spec["fn"] == "rank":
        wcol = (
            f"RANK() OVER (PARTITION BY {spec['part']} "
            f"ORDER BY o_totalprice {d}) AS w_v"
        )
    elif spec["fn"] == "lag":
        wcol = (
            f"LAG(o_totalprice) OVER (PARTITION BY {spec['part']} {total}) AS w_v"
        )
    else:
        wcol = (
            f"ROUND(SUM(o_totalprice) OVER (PARTITION BY {spec['part']} {total} "
            f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS w_v"
        )
    rn = f"ROW_NUMBER() OVER (PARTITION BY {spec['part']} {total})"
    return (
        f"SELECT * FROM (SELECT o_orderkey, {spec['part']}, {wcol}, {rn} AS rn "
        f"FROM ({base}) b) t WHERE rn <= 5"
    )


def _join_win_df(spark, spec):
    from pyspark.sql import Window

    right = load_table(spark, SF_DIR, "customer")
    if spec["rpred"]:
        right = right.filter(_pred_col(spec["rpred"]))
    base = (
        load_table(spark, SF_DIR, "orders")
        .join(
            right,
            F.col("o_custkey") == F.col("c_custkey"),
            spec["how"],
        )
        .select("o_orderkey", "o_totalprice", spec["part"])
    )
    num = F.col("o_totalprice")
    o = num.desc() if spec["desc"] else num.asc()
    total = Window.partitionBy(spec["part"]).orderBy(o, F.col("o_orderkey"))
    if spec["fn"] == "rank":
        wcol = F.rank().over(Window.partitionBy(spec["part"]).orderBy(o))
    elif spec["fn"] == "lag":
        wcol = F.lag(num).over(total)
    else:
        wcol = F.round(
            F.sum(num).over(
                total.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
            6,
        )
    return (
        base.select(
            "o_orderkey",
            spec["part"],
            wcol.alias("w_v"),
            F.row_number().over(total).alias("rn"),
        )
        .filter(F.col("rn") <= 5)
    )


@settings(
    max_examples=15,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=join_window_specs())
def test_random_join_window_matches_duckdb(spark, duck, spec):
    """Join+window integration fuzz: windows over a join result, with
    left joins yielding a NULL partition key (all unmatched rows must
    land in ONE partition in both engines) and the unique orders key
    as the positional tie-break."""
    spark_pdf = _join_win_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_join_win_sql(spec)).df()
    r = compare("fuzz_join_window", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nsql={_join_win_sql(spec)}\nnotes={r['notes']}"


# ---- two-level aggregation grammar --------------------------------------


@st.composite
def nested_agg_specs(draw):
    table = draw(st.sampled_from(sorted(TABLES)))
    t = TABLES[table]
    key = draw(st.sampled_from(t["key"]))
    mod = draw(st.sampled_from([3, 7, 13]))
    num = draw(st.sampled_from(t["num"]))
    inner = draw(st.sampled_from(["sum", "count", "max"]))
    pred = None
    if draw(st.booleans()):
        col = draw(st.sampled_from(t["num"]))
        op = draw(st.sampled_from(_NUM_OPS))
        lit = round(draw(st.floats(0.0, 100.0, allow_nan=False)), 2)
        pred = ("num", col, op, lit)
    return {"table": table, "key": key, "mod": mod, "num": num,
            "inner": inner, "pred": pred}


def _nested_sql(spec) -> str:
    where = f" WHERE {_pred_sql(spec['pred'])}" if spec["pred"] else ""
    inner = {
        "sum": f"SUM({spec['num']})",
        "count": "COUNT(*)",
        "max": f"MAX({spec['num']})",
    }[spec["inner"]]
    return (
        f"SELECT COUNT(*) AS n_groups, "
        f"ROUND(AVG(s), 6) AS avg_s, "
        f"ROUND(MIN(s), 6) AS min_s, "
        f"ROUND(MAX(s), 6) AS max_s "
        f"FROM (SELECT {spec['key']} % {spec['mod']} AS g, "
        f"CAST({inner} AS DOUBLE) AS s "
        f"FROM {spec['table']}{where} GROUP BY 1) t"
    )


def _nested_df(spark, spec):
    df = load_table(spark, SF_DIR, spec["table"])
    if spec["pred"]:
        df = df.filter(_pred_col(spec["pred"]))
    inner = {
        "sum": F.sum(spec["num"]),
        "count": F.count(F.lit(1)),
        "max": F.max(spec["num"]),
    }[spec["inner"]]
    grouped = df.groupBy(
        (F.col(spec["key"]) % spec["mod"]).alias("g")
    ).agg(inner.cast("double").alias("s"))
    return grouped.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.round(F.avg("s"), 6).alias("avg_s"),
        F.round(F.min("s"), 6).alias("min_s"),
        F.round(F.max("s"), 6).alias("max_s"),
    )


@settings(
    max_examples=15,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=nested_agg_specs())
def test_random_nested_agg_matches_duckdb(spark, duck, spec):
    """Two-level aggregation fuzz: aggregate-of-aggregate through a
    subquery (the decorrelation shape) — per-group partials re-rolled
    globally; an empty filtered input must yield n_groups=0 with NULL
    outer stats in BOTH engines (plain aggregates, unlike the
    grouping-sets empty-input divergence this fuzzer pinned)."""
    spark_pdf = _nested_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_nested_sql(spec)).df()
    r = compare("fuzz_nested_agg", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nsql={_nested_sql(spec)}\nnotes={r['notes']}"


# ---- RANGE-frame grammar -------------------------------------------------
#
# Value-based RANGE frames with numeric offsets — the companion to the
# ROWS grammar above, covering the OTHER frame mode: membership is
# decided by ORDER-COLUMN VALUE DISTANCE, not row position, so ties land
# in or out of a frame together and offset arithmetic (plus its DESC
# inversion) is a cross-engine agreement surface the ROWS grammar never
# touches. Order is by the numeric column alone (no tie-break needed:
# the aggregates used are order-insensitive and RANGE frames are
# tie-stable by definition).

_RANGE_LOS = ["unbounded", -50, -10, -1, 0]
_RANGE_HIS = [0, 1, 10, 50, "unbounded"]


@st.composite
def range_frame_specs(draw):
    table = draw(st.sampled_from(sorted(_WIN_TABLES)))
    t = TABLES[table]
    part = draw(st.sampled_from(sorted(t["cat"])))
    num = draw(st.sampled_from(t["num"]))
    desc = draw(st.booleans())
    fn = draw(st.sampled_from(_FRAME_FNS))
    lo = draw(st.sampled_from(_RANGE_LOS))
    hi = draw(st.sampled_from(_RANGE_HIS))
    return {"table": table, "key": _WIN_TABLES[table], "part": part,
            "num": num, "desc": desc, "fn": fn, "lo": lo, "hi": hi}


def _range_sql(spec) -> str:
    d = "DESC" if spec["desc"] else "ASC"
    order = f"ORDER BY {spec['num']} {d}"
    frame = (
        f"RANGE BETWEEN {_bound_sql(spec['lo'], 'lo')} "
        f"AND {_bound_sql(spec['hi'], 'hi')}"
    )
    agg = f"{spec['fn'].upper()}({spec['num']})"
    val = f"{agg} OVER (PARTITION BY {spec['part']} {order} {frame})"
    if spec["fn"] == "count":
        val = f"CAST({val} AS BIGINT)"
    else:
        val = f"ROUND({val}, 6)"
    rn = (
        f"ROW_NUMBER() OVER (PARTITION BY {spec['part']} "
        f"ORDER BY {spec['num']} {d}, {spec['key']})"
    )
    return (
        f"SELECT * FROM (SELECT {spec['key']}, {spec['part']}, {val} AS frame_v, "
        f"{rn} AS rn FROM {spec['table']}) t WHERE rn <= 5"
    )


def _range_df(spark, spec):
    from pyspark.sql import Window

    num = F.col(spec["num"])
    ordered = num.desc() if spec["desc"] else num.asc()
    w = Window.partitionBy(spec["part"]).orderBy(ordered)
    lo = Window.unboundedPreceding if spec["lo"] == "unbounded" else spec["lo"]
    hi = Window.unboundedFollowing if spec["hi"] == "unbounded" else spec["hi"]
    framed = w.rangeBetween(lo, hi)
    fns = {"sum": F.sum, "min": F.min, "max": F.max, "count": F.count, "avg": F.avg}
    val = fns[spec["fn"]](num).over(framed)
    val = val.cast("bigint") if spec["fn"] == "count" else F.round(val, 6)
    rnw = Window.partitionBy(spec["part"]).orderBy(ordered, F.col(spec["key"]))
    df = load_table(spark, SF_DIR, spec["table"])
    return (
        df.select(
            F.col(spec["key"]),
            F.col(spec["part"]),
            val.alias("frame_v"),
            F.row_number().over(rnw).alias("rn"),
        )
        .filter(F.col("rn") <= 5)
    )


@settings(
    max_examples=20,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=range_frame_specs())
def test_random_range_frame_matches_duckdb(spark, duck, spec):
    """RANGE-frame fuzz: random value-distance bound pairs on a numeric
    order — empty frames, pure-lookahead frames, DESC offset inversion —
    with order-insensitive aggregates so ties cannot flake. Top-5 rows
    per partition (by a tie-broken rank) bound the diff."""
    spark_pdf = _range_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_range_sql(spec)).df()
    r = compare("fuzz_range_frame", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nsql={_range_sql(spec)}\nnotes={r['notes']}"


# ---- date-arithmetic grammar ---------------------------------------------
#
# Random shift -> extract/trunc/diff chains over o_orderdate — the
# calendar-semantics surface (month-end clamping, ISO week numbering,
# year boundaries) where engines classically diverge. Uses only the
# construct pairs fn_date already pins (add_months <-> k * INTERVAL 1
# MONTH, datediff <-> date_diff('day', ...), shared date_trunc /
# last_day / weekofyear); dayofweek is deliberately excluded — the
# engines' conventions differ, and the repo's days-since-anchor idiom
# (evt_heatmap_dow_hour) is the pinned alternative. Output is the
# distribution GROUP BY derived value, so row counts stay bounded by
# value cardinality whatever the chain.

_DATE_SHIFTS = [
    ("none", 0), ("days", -31), ("days", 1), ("days", 31),
    ("months", -13), ("months", 1), ("months", 13), ("last_day", 0),
]
_DATE_OUTS = [
    ("extract", "year"), ("extract", "quarter"), ("extract", "month"),
    ("extract", "day"), ("extract", "weekofyear"),
    ("trunc", "year"), ("trunc", "quarter"), ("trunc", "month"),
    ("trunc", "week"),
    ("diff", "1995-06-15"),
]


@st.composite
def date_chain_specs(draw):
    shift = draw(st.sampled_from(range(len(_DATE_SHIFTS))))
    out = draw(st.sampled_from(range(len(_DATE_OUTS))))
    return {"shift": shift, "out": out}


def _date_chain_sql(spec) -> str:
    kind, k = _DATE_SHIFTS[spec["shift"]]
    x = "CAST(o_orderdate AS DATE)"
    if kind == "days":
        x = f"CAST({x} + ({k}) * INTERVAL 1 DAY AS DATE)"
    elif kind == "months":
        x = f"CAST({x} + ({k}) * INTERVAL 1 MONTH AS DATE)"
    elif kind == "last_day":
        x = f"last_day({x})"
    mode, arg = _DATE_OUTS[spec["out"]]
    if mode == "extract":
        val = f"CAST({arg}({x}) AS INT)"
    elif mode == "trunc":
        val = f"CAST(CAST(date_trunc('{arg}', {x}) AS DATE) AS VARCHAR)"
    else:
        val = f"CAST(date_diff('day', DATE '{arg}', {x}) AS INT)"
    return (
        f"SELECT {val} AS dval, COUNT(*) AS n FROM orders "
        f"GROUP BY dval ORDER BY dval"
    )


def _date_chain_df(spark, spec):
    kind, k = _DATE_SHIFTS[spec["shift"]]
    x = F.col("o_orderdate").cast("date")
    if kind == "days":
        x = F.date_add(x, k)
    elif kind == "months":
        x = F.add_months(x, k)
    elif kind == "last_day":
        x = F.last_day(x)
    mode, arg = _DATE_OUTS[spec["out"]]
    if mode == "extract":
        fns = {
            "year": F.year, "quarter": F.quarter, "month": F.month,
            "day": F.dayofmonth, "weekofyear": F.weekofyear,
        }
        val = fns[arg](x).cast("int")
    elif mode == "trunc":
        val = F.date_trunc(arg, x).cast("date").cast("string")
    else:
        val = F.datediff(x, F.lit(arg).cast("date")).cast("int")
    df = load_table(spark, SF_DIR, "orders")
    return (
        df.select(val.alias("dval"))
        .groupBy("dval")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("dval")
    )


@settings(
    max_examples=25,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=date_chain_specs())
def test_random_date_chain_matches_duckdb(spark, duck, spec):
    """Calendar fuzz: every (shift, readout) pair over real order dates —
    month-end clamping under ±13-month shifts, ISO week numbers at year
    boundaries, truncation-then-render — compared as full value
    distributions (GROUP BY derived), not samples."""
    spark_pdf = _date_chain_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_date_chain_sql(spec)).df()
    r = compare("fuzz_date", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nsql={_date_chain_sql(spec)}\nnotes={r['notes']}"


# ---- null-ordering pagination grammar -------------------------------------
#
# Random ORDER BY ... NULLS FIRST/LAST ... LIMIT/OFFSET pages over a
# derived nullable key. The compare itself is order-insensitive, so the
# page makes ordering observable: WHICH rows survive the LIMIT/OFFSET
# window is decided entirely by the null placement and sort directions —
# the exact surface where engine defaults diverge (Spark ASC = NULLS
# FIRST, DuckDB ASC = NULLS LAST), which is why every rendering spells
# the placement explicitly, matching the repo's explicit-nulls-ordering
# convention (sort_order_by, operators/sorts.py). The key chain ends in
# unique o_orderkey, so the total order — and therefore the page — is
# deterministic in both engines.

_NULL_BASES = [("num", "o_totalprice"), ("str", "o_orderpriority")]
_NULL_DIRS = [
    ("ASC", "FIRST"), ("ASC", "LAST"), ("DESC", "FIRST"), ("DESC", "LAST"),
]


@st.composite
def null_order_specs(draw):
    return {
        "base": draw(st.sampled_from(range(len(_NULL_BASES)))),
        "mod": draw(st.integers(2, 6)),
        "rem": draw(st.integers(0, 1)),
        "dir1": draw(st.sampled_from(range(len(_NULL_DIRS)))),
        "dir2": draw(st.sampled_from(["ASC", "DESC"])),
        "limit": draw(st.sampled_from([25, 100, 400])),
        "offset": draw(st.sampled_from([0, 0, 10, 75])),
    }


def _null_order_sql(spec) -> str:
    _, base = _NULL_BASES[spec["base"]]
    d1, n1 = _NULL_DIRS[spec["dir1"]]
    nk = f"CASE WHEN o_custkey % {spec['mod']} = {spec['rem']} THEN NULL ELSE {base} END"
    return (
        f"SELECT o_orderkey AS k, {nk} AS nk FROM orders "
        f"ORDER BY nk {d1} NULLS {n1}, o_custkey {spec['dir2']}, o_orderkey "
        f"LIMIT {spec['limit']} OFFSET {spec['offset']}"
    )


def _null_order_df(spark, spec):
    _, base = _NULL_BASES[spec["base"]]
    d1, n1 = _NULL_DIRS[spec["dir1"]]
    nk = F.when(
        F.col("o_custkey") % spec["mod"] == spec["rem"], F.lit(None)
    ).otherwise(F.col(base))
    key1 = getattr(F.col("nk"), f"{d1.lower()}_nulls_{n1.lower()}")()
    key2 = F.col("o_custkey").asc() if spec["dir2"] == "ASC" else F.col("o_custkey").desc()
    df = load_table(spark, SF_DIR, "orders")
    return (
        df.select(F.col("o_orderkey").alias("k"), nk.alias("nk"), "o_custkey")
        .orderBy(key1, key2, F.col("k").asc())
        .offset(spec["offset"])
        .limit(spec["limit"])
        .select("k", "nk")
    )


@settings(
    max_examples=25,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=null_order_specs())
def test_random_null_order_page_matches_duckdb(spark, duck, spec):
    """Null-placement fuzz: every (direction, NULLS FIRST/LAST) pair over
    numeric and string nullable keys, read back through LIMIT/OFFSET
    pages — the page contents only match if both engines agree on where
    the NULLs sort and on the multi-key total order."""
    spark_pdf = _null_order_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_null_order_sql(spec)).df()
    r = compare("fuzz_null_order", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nsql={_null_order_sql(spec)}\nnotes={r['notes']}"


# ---- decimal-arithmetic grammar -------------------------------------------
#
# Random +/-/* chains over DECIMAL columns DERIVED FROM INTEGER KEYS
# (cast int -> decimal is exact in both engines), so every intermediate
# value is exact and any mismatch is a genuine type-propagation bug —
# precision/scale promotion, overflow-to-null, or silent scale loss —
# not a rounding-mode artifact (binary doubles cast to decimal round
# HALF_UP in Spark but HALF_EVEN in DuckDB; this grammar avoids that
# surface by construction, the same reason fn_decimal pins its inputs).
# The final CAST(... AS DECIMAL(38,6)) is widening-only; the readout is
# CAST(SUM(...) AS DOUBLE) — the repo's fn_decimal convention — because
# Spark decimals surface in pandas as object(Decimal) while DuckDB gives
# float64, the exact dtype hazard the driver canonicalizer rejects.

_DEC_LITS = ["1.07", "0.93", "2.50", "11.11"]


@st.composite
def decimal_specs(draw):
    ops = []
    mul_budget = 2  # bound scale growth: 3+3+2+2 digits max -> well under 38
    for _ in range(draw(st.integers(1, 3))):
        kind = draw(st.sampled_from(["add_lit", "sub_lit", "mul_lit", "mul_col", "add_col"]))
        if kind in ("mul_lit", "mul_col"):
            if not mul_budget:
                kind = "add_lit"
            else:
                mul_budget -= 1
        lit = draw(st.sampled_from(_DEC_LITS))
        col = draw(st.sampled_from(["l_partkey", "l_suppkey"]))
        mod = draw(st.integers(7, 997))
        ops.append((kind, lit, col, mod))
    return {"ops": ops, "base_mod": draw(st.integers(100, 9999))}


def _dec_term(col, mod) -> str:
    return f"CAST(({col} % {mod}) AS DECIMAL(12,3))"


def _dec_chain(spec) -> str:
    e = _dec_term("l_orderkey", spec["base_mod"])
    for kind, lit, col, mod in spec["ops"]:
        if kind == "add_lit":
            e = f"({e} + CAST({lit} AS DECIMAL(6,2)))"
        elif kind == "sub_lit":
            e = f"({e} - CAST({lit} AS DECIMAL(6,2)))"
        elif kind == "mul_lit":
            e = f"({e} * CAST({lit} AS DECIMAL(6,2)))"
        elif kind == "mul_col":
            e = f"({e} * {_dec_term(col, mod)})"
        else:
            e = f"({e} + {_dec_term(col, mod)})"
    return f"CAST({e} AS DECIMAL(38,6))"


def _decimal_sql(spec) -> str:
    e = _dec_chain(spec)
    return (
        f"SELECT l_returnflag, CAST(CAST(SUM({e}) AS DECIMAL(38,6)) AS DOUBLE) AS s, "
        f"COUNT(*) AS n FROM lineitem GROUP BY l_returnflag"
    )


def _decimal_df(spark, spec):
    e = _dec_chain(spec)
    df = load_table(spark, SF_DIR, "lineitem")
    return df.groupBy("l_returnflag").agg(
        F.expr(f"CAST(CAST(SUM({e}) AS DECIMAL(38,6)) AS DOUBLE)").alias("s"),
        F.count(F.lit(1)).alias("n"),
    )


@settings(
    max_examples=25,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=decimal_specs())
def test_random_decimal_chain_matches_duckdb(spark, duck, spec):
    """Decimal-propagation fuzz: exact integer-derived DECIMAL chains
    summed per group must agree to the last digit — catching
    precision/scale promotion drift, overflow-to-null, and scale loss
    across the +/-/* surface, with rounding excluded by construction."""
    spark_pdf = _decimal_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_decimal_sql(spec)).df()
    r = compare("fuzz_decimal", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nsql={_decimal_sql(spec)}\nnotes={r['notes']}"


# ---- LIKE / regex predicate grammar ---------------------------------------
#
# Random LIKE/ILIKE patterns (built from %, _, and corpus-vocabulary
# fragments) and regexes restricted to the Java-regex ∩ RE2 common
# subset (literals, ., anchors, classes, alternation, greedy
# quantifiers — no lookaround, no backrefs), evaluated as a full
# per-corpus match partition (GROUP BY the predicate value) so every row
# participates: count drift on either side of the boolean is a match-
# semantics divergence. Spark rlike(pattern) pairs with DuckDB
# regexp_matches(text, pattern) — partial-match semantics in both.

_LIKE_FRAGS = ["spark", "scan", "join", "key", "ur", "a", "e", "bat"]
_RX_PIECES = ["[aeiou]", "(sp|sc)", "key.", "a+", "b.t", "jo?in", "s.*k"]


@st.composite
def pattern_specs(draw):
    mode = draw(st.sampled_from(["like", "ilike", "not_like", "rx", "rx_anchor"]))
    if mode in ("like", "ilike", "not_like"):
        frags = draw(st.lists(st.sampled_from(_LIKE_FRAGS), min_size=1, max_size=3))
        seps = [draw(st.sampled_from(["%", "_", "%_%"])) for _ in frags]
        pat = "%" + "".join(f + s for f, s in zip(frags, seps))
        if mode == "ilike":
            pat = pat.upper()
        return {"mode": mode, "pat": pat}
    pieces = draw(st.lists(st.sampled_from(_RX_PIECES), min_size=1, max_size=2))
    pat = ".*".join(pieces)
    if mode == "rx_anchor":
        pat = draw(st.sampled_from(["^the ", "^", ""])) + pat + draw(st.sampled_from(["$", ""]))
    return {"mode": mode, "pat": pat}


def _pattern_pred_sql(spec) -> str:
    p = spec["pat"].replace("'", "''")
    if spec["mode"] == "like":
        return f"text LIKE '{p}'"
    if spec["mode"] == "ilike":
        return f"text ILIKE '{p}'"
    if spec["mode"] == "not_like":
        return f"text NOT LIKE '{p}'"
    return f"regexp_matches(text, '{p}')"


def _pattern_sql(spec) -> str:
    return (
        f"SELECT {_pattern_pred_sql(spec)} AS m, COUNT(*) AS n,"
        f" MIN(doc_id) AS first_doc FROM documents GROUP BY m"
    )


def _pattern_df(spark, spec):
    c = F.col("text")
    if spec["mode"] == "like":
        pred = c.like(spec["pat"])
    elif spec["mode"] == "ilike":
        pred = c.ilike(spec["pat"])
    elif spec["mode"] == "not_like":
        pred = ~c.like(spec["pat"])
    else:
        pred = c.rlike(spec["pat"])
    df = load_table(spark, SF_DIR, "documents")
    return df.groupBy(pred.alias("m")).agg(
        F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("first_doc")
    )


@settings(
    max_examples=25,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=pattern_specs())
def test_random_pattern_pred_matches_duckdb(spark, duck, spec):
    """Pattern-matching fuzz: LIKE/ILIKE/NOT LIKE wildcards and
    common-subset regexes must partition the corpus identically —
    wildcard greediness, case folding, and partial-vs-full-match
    semantics all surface as count drift on the boolean."""
    spark_pdf = _pattern_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_pattern_sql(spec)).df()
    r = compare("fuzz_pattern", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nsql={_pattern_sql(spec)}\nnotes={r['notes']}"


# ---- ordered-aggregation grammar ------------------------------------------
#
# Random ordered string_agg / arg-extremum readouts — the repo's core
# determinism idiom (array_sort(collect_list(struct(k, v))) on the
# Spark side vs ORDER BY inside the aggregate in DuckDB, min_by/max_by
# vs arg_min/arg_max). Every hand-written oracle that concatenates or
# picks-by-order leans on this equivalence; the grammar fuzzes it across
# random value derivations, directions, and separators with a UNIQUE
# order key (o_orderkey), so any disagreement is an idiom bug, not a
# tie-break ambiguity.

@st.composite
def ordered_agg_specs(draw):
    return {
        "mod": draw(st.integers(7, 9999)),
        "desc": draw(st.booleans()),
        "sep": draw(st.sampled_from([",", "|", " ", ";"])),
        "pred_mod": draw(st.sampled_from([0, 2, 3, 7])),  # 0 = no filter
    }


def _ordered_agg_sql(spec) -> str:
    v = f"CAST(o_orderkey % {spec['mod']} AS VARCHAR)"
    d = "DESC" if spec["desc"] else "ASC"
    where = (
        f" WHERE o_custkey % {spec['pred_mod']} = 1" if spec["pred_mod"] else ""
    )
    return (
        f"SELECT o_orderstatus,"
        f" string_agg({v}, '{spec['sep']}' ORDER BY o_orderkey {d}) AS cat,"
        f" arg_min({v}, o_orderkey) AS first_v,"
        f" arg_max({v}, o_orderkey) AS last_v,"
        f" COUNT(*) AS n"
        f" FROM orders{where} GROUP BY o_orderstatus"
    )


def _ordered_agg_df(spark, spec):
    df = load_table(spark, SF_DIR, "orders")
    if spec["pred_mod"]:
        df = df.filter(F.col("o_custkey") % spec["pred_mod"] == 1)
    v = (F.col("o_orderkey") % spec["mod"]).cast("string")
    pairs = F.array_sort(
        F.collect_list(F.struct(F.col("o_orderkey").alias("k"), v.alias("v")))
    )
    if spec["desc"]:
        pairs = F.reverse(pairs)
    cat = F.array_join(F.expr("transform(_pairs, x -> x.v)"), spec["sep"])
    return (
        df.groupBy("o_orderstatus")
        .agg(
            pairs.alias("_pairs"),
            F.min_by(v, "o_orderkey").alias("first_v"),
            F.max_by(v, "o_orderkey").alias("last_v"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("o_orderstatus", cat.alias("cat"), "first_v", "last_v", "n")
    )


@settings(
    max_examples=25,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=ordered_agg_specs())
def test_random_ordered_agg_matches_duckdb(spark, duck, spec):
    """Ordered-aggregation fuzz: the array_sort(collect_list(struct))
    idiom must reproduce DuckDB's ORDER BY-inside-aggregate exactly
    (byte-identical concatenations both directions), and min_by/max_by
    must pair with arg_min/arg_max — under random value derivations and
    filters, with a unique order key so ties cannot mask drift."""
    spark_pdf = _ordered_agg_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_ordered_agg_sql(spec)).df()
    r = compare("fuzz_ordered_agg", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nsql={_ordered_agg_sql(spec)}\nnotes={r['notes']}"


# ---- conditional / null-semantics grammar --------------------------------
#
# Three-valued logic is where engines quietly disagree: NULL propagation
# through arithmetic, COALESCE/NULLIF short-circuits, and the
# null-SKIPPING semantics of LEAST/GREATEST (both engines ignore NULL
# arguments rather than propagating them — the llm_rouge_overlap lesson,
# here fuzzed instead of pinned once). NULLs are INJECTED deterministically
# from the key column so every example exercises real null rows.

_COND_TABLES = {
    "lineitem": ("l_orderkey", "l_extendedprice"),
    "orders": ("o_orderkey", "o_totalprice"),
    "customer": ("c_custkey", "c_acctbal"),
}


@st.composite
def cond_specs(draw):
    table = draw(st.sampled_from(sorted(_COND_TABLES)))
    null_mod = draw(st.integers(2, 5))
    null_hit = draw(st.integers(0, 1))
    steps = []
    for _ in range(draw(st.integers(1, 4))):
        steps.append(draw(st.sampled_from([
            ("coalesce", draw(st.integers(-50, 50))),
            ("nullif_self_mod", draw(st.integers(2, 7))),
            ("least", draw(st.integers(0, 1000))),
            ("greatest", draw(st.integers(0, 1000))),
            ("case_gt", draw(st.integers(100, 100000)),
             draw(st.integers(-9, 9))),
            ("add_null_bridge",),
        ])))
    mod = draw(st.integers(2, 9))
    return {"table": table, "null_mod": null_mod, "null_hit": null_hit,
            "steps": steps, "mod": mod}


def _cond_sql(spec) -> str:
    k, n = _COND_TABLES[spec["table"]]
    # Deterministic null injection: NULL on k % null_mod = null_hit.
    e = (f"CASE WHEN {k} % {spec['null_mod']} = {spec['null_hit']} "
         f"THEN NULL ELSE round({n}, 2) END")
    for s in spec["steps"]:
        if s[0] == "coalesce":
            e = f"coalesce({e}, {s[1]})"
        elif s[0] == "nullif_self_mod":
            # re-null where the truncated value lands on the modulus
            e = f"nullif({e}, CAST(floor({e}) AS BIGINT) % {s[1]})"
        elif s[0] == "least":
            e = f"least({e}, {s[1]})"
        elif s[0] == "greatest":
            e = f"greatest({e}, {s[1]})"
        elif s[0] == "case_gt":
            e = f"CASE WHEN {e} > {s[1]} THEN {e} ELSE {e} + {s[2]} END"
        else:  # add_null_bridge: NULL + x must stay NULL in both engines
            e = (f"({e} + CASE WHEN {k} % 11 = 3 THEN NULL ELSE 0 END)")
    return (
        f"SELECT {k} AS kk, ROUND({e}, 6) AS v,"
        f" CAST({e} IS NULL AS INT) AS isnull"
        f" FROM {spec['table']} WHERE {k} % {spec['mod']} = 1"
    )


def _cond_df(spark, spec):
    kc, nc = _COND_TABLES[spec["table"]]
    df = load_table(spark, SF_DIR, spec["table"])
    k = F.col(kc)
    e = F.when(
        k % spec["null_mod"] == spec["null_hit"], F.lit(None).cast("double")
    ).otherwise(F.round(F.col(nc), 2))
    for s in spec["steps"]:
        if s[0] == "coalesce":
            e = F.coalesce(e, F.lit(float(s[1])))
        elif s[0] == "nullif_self_mod":
            e = F.nullif(e, (F.floor(e).cast("bigint") % s[1]).cast("double"))
        elif s[0] == "least":
            e = F.least(e, F.lit(float(s[1])))
        elif s[0] == "greatest":
            e = F.greatest(e, F.lit(float(s[1])))
        elif s[0] == "case_gt":
            e = F.when(e > s[1], e).otherwise(e + s[2])
        else:
            e = e + F.when(k % 11 == 3, F.lit(None).cast("double")).otherwise(
                F.lit(0.0)
            )
    return df.filter(k % spec["mod"] == 1).select(
        k.alias("kk"),
        F.round(e, 6).alias("v"),
        e.isNull().cast("int").alias("isnull"),
    )


@settings(
    max_examples=25,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=cond_specs())
def test_random_cond_expr_matches_duckdb(spark, duck, spec):
    """Conditional/null-semantics fuzz: random CASE/COALESCE/NULLIF/
    LEAST/GREATEST towers over deterministically null-injected columns
    must agree cell-for-cell — including WHERE the NULLs are (the
    isnull flag column), so a null-propagation divergence cannot hide
    behind the value comparison skipping NULL cells."""
    spark_pdf = _cond_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_cond_sql(spec)).df()
    r = compare("fuzz_cond", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nsql={_cond_sql(spec)}\nnotes={r['notes']}"


# ---- percentile / quantile interpolation grammar -------------------------
#
# Spark's exact percentile() and DuckDB's quantile_cont() both promise
# linear interpolation between order statistics; several operators
# (evt_funnel_latency, agg_percentile, evt_rolling_median) lean on that
# equivalence. Fuzz it under random probabilities, groupings, filters,
# and value derivations — interpolation drift would shift every latency
# report in the repo.

_PCT_TABLES = {
    "lineitem": ("l_orderkey", "l_extendedprice", "l_returnflag"),
    "orders": ("o_orderkey", "o_totalprice", "o_orderstatus"),
    "customer": ("c_custkey", "c_acctbal", "c_mktsegment"),
}


@st.composite
def percentile_specs(draw):
    table = draw(st.sampled_from(sorted(_PCT_TABLES)))
    p = round(draw(st.floats(0.05, 0.95, allow_nan=False)), 3)
    q = round(draw(st.floats(0.05, 0.95, allow_nan=False)), 3)
    mod = draw(st.integers(2, 9))
    derive = draw(st.sampled_from(["raw", "round1", "neg", "plus_key_mod"]))
    return {"table": table, "p": p, "q": q, "mod": mod, "derive": derive}


def _pct_val_sql(spec, key, num):
    if spec["derive"] == "round1":
        return f"round({num}, 1)"
    if spec["derive"] == "neg":
        return f"-{num}"
    if spec["derive"] == "plus_key_mod":
        return f"({num} + {key} % 7)"
    return num


def _pct_sql(spec) -> str:
    key, num, cat = _PCT_TABLES[spec["table"]]
    v = _pct_val_sql(spec, key, num)
    return (
        f"SELECT {cat} AS g, COUNT(*) AS n,"
        f" ROUND(quantile_cont({v}, {spec['p']}), 6) AS pa,"
        f" ROUND(quantile_cont({v}, {spec['q']}), 6) AS pb,"
        f" ROUND(median({v}), 6) AS med"
        f" FROM {spec['table']} WHERE {key} % {spec['mod']} = 1"
        f" GROUP BY {cat}"
    )


def _pct_df(spark, spec):
    key, num, cat = _PCT_TABLES[spec["table"]]
    df = load_table(spark, SF_DIR, spec["table"])
    k = F.col(key)
    v = F.col(num)
    if spec["derive"] == "round1":
        v = F.round(v, 1)
    elif spec["derive"] == "neg":
        v = -v
    elif spec["derive"] == "plus_key_mod":
        v = v + (k % 7)
    return (
        df.filter(k % spec["mod"] == 1)
        .select(F.col(cat).alias("g"), v.alias("_v"))
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.expr(f"percentile(_v, {spec['p']})"), 6).alias("pa"),
            F.round(F.expr(f"percentile(_v, {spec['q']})"), 6).alias("pb"),
            F.round(F.expr("percentile(_v, 0.5)"), 6).alias("med"),
        )
    )


@settings(
    max_examples=25,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=percentile_specs())
def test_random_percentile_matches_duckdb(spark, duck, spec):
    """Percentile-interpolation fuzz: Spark exact percentile() vs DuckDB
    quantile_cont()/median() must interpolate identically under random
    probabilities, value derivations (rounding, negation, integer
    shifts), filters, and groupings."""
    spark_pdf = _pct_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_pct_sql(spec)).df()
    r = compare("fuzz_percentile", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nsql={_pct_sql(spec)}\nnotes={r['notes']}"


# ---- guarded HOF-window grammar (SCALE.md §13) ----------------------------
#
# The n-gram/shingle idiom every llm_* windowing op uses: truncate token
# arrays to a RANDOM length L (manufacturing degenerate sub-window docs on
# purpose), then apply the guarded window transform —
# Spark `filter(size >= W)` + `transform(sequence(1, size-W+1), ...)` vs
# DuckDB `WHERE len >= W` + `generate_series(1, len-W+1)`. Spark's
# sequence() DESCENDS when start > stop while generate_series is empty,
# so any doc that slips the guard diverges instantly — this grammar pins
# the repo-wide guard convention for arbitrary (L, W), including L < W
# (all docs filtered) and L == W (exactly one gram per doc).


@st.composite
def hofwin_specs(draw):
    return {
        "L": draw(st.integers(1, 8)),     # truncation length (degenerate when < W)
        "W": draw(st.integers(2, 5)),     # gram window
        "mod": draw(st.integers(2, 7)),
        "by": draw(st.sampled_from(["doc", "gram"])),
        "lower": draw(st.booleans()),
    }


def _hofwin_sql(spec) -> str:
    txt = "lower(text)" if spec["lower"] else "text"
    L, W = spec["L"], spec["W"]
    grams = f"""
      SELECT doc_id, array_to_string(t[i:i+{W - 1}], ' ') AS gram
      FROM (SELECT doc_id, t,
                   unnest(generate_series(1, len(t) - {W - 1})) AS i
            FROM (SELECT doc_id, (string_split({txt}, ' '))[1:{L}] AS t
                  FROM documents WHERE doc_id % {spec["mod"]} = 0)
            WHERE len(t) >= {W})
    """
    if spec["by"] == "doc":
        return (
            f"SELECT doc_id AS k, COUNT(*) AS n_grams,"
            f" COUNT(DISTINCT gram) AS n_distinct, MIN(gram) AS first_gram"
            f" FROM ({grams}) g GROUP BY doc_id"
        )
    return (
        f"SELECT gram AS k, COUNT(*) AS n_grams,"
        f" COUNT(DISTINCT doc_id) AS n_distinct"
        f" FROM ({grams}) g GROUP BY gram"
    )


def _hofwin_df(spark, spec):
    txt = "lower(text)" if spec["lower"] else "text"
    L, W = spec["L"], spec["W"]
    d = load_table(spark, SF_DIR, "documents")
    grams = (
        d.filter(F.col("doc_id") % spec["mod"] == 0)
        .select("doc_id", F.expr(f"slice(split({txt}, ' '), 1, {L})").alias("t"))
        .filter(F.expr(f"size(t) >= {W}"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(t) - {W - 1}),"
                    f" i -> array_join(slice(t, i, {W}), ' '))"
                )
            ).alias("gram"),
        )
    )
    if spec["by"] == "doc":
        return grams.groupBy(F.col("doc_id").alias("k")).agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.countDistinct("gram").alias("n_distinct"),
            F.min("gram").alias("first_gram"),
        )
    return grams.groupBy(F.col("gram").alias("k")).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.countDistinct("doc_id").alias("n_distinct"),
    )


@settings(
    max_examples=25,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=hofwin_specs())
def test_random_hof_window_matches_duckdb(spark, duck, spec):
    """Guarded HOF-window fuzz (SCALE.md §13): the shingle idiom over
    deliberately truncated token arrays must agree gram-for-gram across
    engines for arbitrary (L, W) — incl. L < W (all docs guarded out)
    and L == W (one gram per doc). Pins the sequence()-descends vs
    generate_series()-empty divergence class repo-wide."""
    spark_pdf = _hofwin_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_hofwin_sql(spec)).df()
    r = compare("fuzz_hof_window", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nsql={_hofwin_sql(spec)}\nnotes={r['notes']}"


# ---- rank-statistic grammar (staged evt_* statistical family) --------------
#
# The tied-midrank prefix-sum idiom behind evt_mann_whitney / evt_ks_test
# (round-9 window): collapse to per-distinct-value cohort counts, midrank
# = (cum ties before) + (ties+1)/2, rank-sum by cohort. The grammar
# randomizes the COHORT SPLIT (event_type vs user_id modulus) and the TIE
# DENSITY (floor(value * s) buckets — floor is exact and engine-identical,
# unlike round on binary fractions), including degenerate splits where a
# cohort is empty (NULL propagation through the U formula must agree).
# Every accumulated term is an exact multiple of 0.5 below 2^52, so sums
# are partition-order-proof by design (the repo determinism rule).


@st.composite
def rank_stat_specs(draw):
    split = draw(st.sampled_from(["type", "mod"]))
    return {
        "split": split,
        "type": draw(
            st.sampled_from(["signup", "click", "error", "view", "purchase"])
        ),
        "m": draw(st.integers(2, 7)),
        "scale": draw(st.sampled_from([1, 2, 10])),  # tie density knob
        "vmin": draw(st.sampled_from([0, 50, 300])),  # 300+ nearly empties input
    }


def _rank_is_a_sql(spec) -> str:
    if spec["split"] == "type":
        return f"CASE WHEN event_type = '{spec['type']}' THEN 1 ELSE 0 END"
    return f"CASE WHEN user_id % {spec['m']} = 0 THEN 1 ELSE 0 END"


def _rank_stat_sql(spec) -> str:
    return f"""
    WITH t AS (
      SELECT CAST(FLOOR(value * {spec["scale"]}) AS BIGINT) AS v,
             {_rank_is_a_sql(spec)} AS is_a
      FROM events WHERE value >= {spec["vmin"]}
    ),
    per_v AS (
      SELECT v, SUM(is_a) AS ca, COUNT(*) AS tie FROM t GROUP BY v
    ),
    ranked AS (
      SELECT ca, tie,
             COALESCE(SUM(tie) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + (tie + 1) / 2.0 AS avg_rank
      FROM per_v
    )
    SELECT CAST(COALESCE(SUM(ca), 0) AS BIGINT) AS n_a,
           CAST(COALESCE(SUM(tie - ca), 0) AS BIGINT) AS n_b,
           ROUND(COALESCE(SUM(ca * avg_rank), 0), 1) AS rank_sum_a,
           CAST(COALESCE(SUM(CAST(tie AS BIGINT) * tie * tie - tie), 0)
                AS BIGINT) AS tie3
    FROM ranked
    """


def _rank_stat_df(spark, spec):
    ev = load_table(spark, SF_DIR, "events").filter(
        F.col("value") >= spec["vmin"]
    )
    if spec["split"] == "type":
        is_a = F.when(F.col("event_type") == spec["type"], 1).otherwise(0)
    else:
        is_a = F.when(F.col("user_id") % spec["m"] == 0, 1).otherwise(0)
    t = ev.select(
        F.floor(F.col("value") * spec["scale"]).cast("bigint").alias("v"),
        is_a.alias("is_a"),
    )
    per_v = t.groupBy("v").agg(
        F.sum("is_a").alias("ca"), F.count(F.lit(1)).alias("tie")
    )
    from pyspark.sql.window import Window as _W

    w = _W.orderBy("v").rowsBetween(_W.unboundedPreceding, -1)
    ranked = per_v.select(
        "ca",
        "tie",
        (
            F.coalesce(F.sum("tie").over(w), F.lit(0))
            + (F.col("tie") + 1) / 2.0
        ).alias("avg_rank"),
    )
    return ranked.agg(
        F.coalesce(F.sum("ca"), F.lit(0)).cast("bigint").alias("n_a"),
        F.coalesce(F.sum(F.col("tie") - F.col("ca")), F.lit(0))
        .cast("bigint")
        .alias("n_b"),
        F.round(
            F.coalesce(F.sum(F.col("ca") * F.col("avg_rank")), F.lit(0)), 1
        ).alias("rank_sum_a"),
        F.coalesce(
            F.sum(
                F.col("tie").cast("bigint") * F.col("tie") * F.col("tie")
                - F.col("tie")
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("tie3"),
    )


@settings(
    max_examples=25,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=rank_stat_specs())
def test_random_rank_stat_matches_duckdb(spark, duck, spec):
    """Rank-statistic fuzz (staged evt_* family): tied-midrank rank sums
    over randomized cohort splits and tie densities must agree exactly —
    including empty cohorts and (vmin=300) near-empty inputs where NULL
    handling through the prefix-sum window is the divergence risk."""
    spark_pdf = _rank_stat_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_rank_stat_sql(spec)).df()
    r = compare("fuzz_rank_stat", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nsql={_rank_stat_sql(spec)}\nnotes={r['notes']}"


# ---- graph-derivation grammar (staged graph_* family) ----------------------
#
# The shared trade-graph idioms behind graph_kcore / graph_degree_
# distribution / graph_common_neighbors (round-9/10 windows): DISTINCT
# edge derivation from orders x lineitem, per-side degrees, degree
# thresholds (a k-core's first peel), and the ordered common-neighbor
# self-join (a.cust < b.cust so each pair counts once). The grammar
# randomizes the subgraph (custkey modulus filter), the side, the
# threshold k, and the reporting mode — pinning dedup, symmetrization,
# and threshold semantics across engines for arbitrary subgraphs.


@st.composite
def graph_deriv_specs(draw):
    m = draw(st.integers(2, 5))
    return {
        "m": m,
        "r": draw(st.integers(0, m - 1)),
        "mode": draw(st.sampled_from(["degree_hist", "kfilter", "common"])),
        "side": draw(st.sampled_from(["c", "s", "both"])),
        "k": draw(st.integers(1, 4)),
    }


_GRAPH_PAIRS_SQL = """
    SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_custkey % {m} = {r}
"""

_GRAPH_DEGS_SQL = """
    SELECT 'c' AS side, cust AS node, COUNT(*) AS degree FROM pairs GROUP BY cust
    UNION ALL
    SELECT 's' AS side, supp AS node, COUNT(*) AS degree FROM pairs GROUP BY supp
"""


def _graph_deriv_sql(spec) -> str:
    pairs = _GRAPH_PAIRS_SQL.format(m=spec["m"], r=spec["r"])
    side = "" if spec["side"] == "both" else f"WHERE side = '{spec['side']}'"
    if spec["mode"] == "degree_hist":
        return f"""
        WITH pairs AS ({pairs}), degs AS ({_GRAPH_DEGS_SQL})
        SELECT side, degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
        FROM degs {side} GROUP BY side, degree
        """
    if spec["mode"] == "kfilter":
        return f"""
        WITH pairs AS ({pairs}), degs AS ({_GRAPH_DEGS_SQL})
        SELECT side, node, degree FROM degs
        {side} {"AND" if side else "WHERE"} degree >= {spec["k"]}
        """
    return f"""
    WITH pairs AS ({pairs}),
    common AS (
      SELECT a.cust AS ca, b.cust AS cb, COUNT(*) AS n_common
      FROM pairs a JOIN pairs b ON a.supp = b.supp AND a.cust < b.cust
      GROUP BY a.cust, b.cust HAVING COUNT(*) >= {spec["k"]}
    )
    SELECT n_common, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM common GROUP BY n_common
    """


def _graph_deriv_df(spark, spec):
    o = load_table(spark, SF_DIR, "orders")
    li = load_table(spark, SF_DIR, "lineitem")
    pairs = (
        o.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("o_custkey") % spec["m"] == spec["r"])
        .select(F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp"))
        .distinct()
    )
    if spec["mode"] == "common":
        a, b = pairs.alias("a"), pairs.alias("b")
        common = (
            a.join(
                b,
                (F.col("a.supp") == F.col("b.supp"))
                & (F.col("a.cust") < F.col("b.cust")),
            )
            .groupBy(F.col("a.cust").alias("ca"), F.col("b.cust").alias("cb"))
            .agg(F.count(F.lit(1)).alias("n_common"))
            .filter(F.col("n_common") >= spec["k"])
        )
        return common.groupBy("n_common").agg(
            F.count(F.lit(1)).alias("n_pairs")
        )
    degs = (
        pairs.groupBy(F.col("cust").alias("node"))
        .agg(F.count(F.lit(1)).alias("degree"))
        .select(F.lit("c").alias("side"), "node", "degree")
        .unionByName(
            pairs.groupBy(F.col("supp").alias("node"))
            .agg(F.count(F.lit(1)).alias("degree"))
            .select(F.lit("s").alias("side"), "node", "degree")
        )
    )
    if spec["side"] != "both":
        degs = degs.filter(F.col("side") == spec["side"])
    if spec["mode"] == "degree_hist":
        return degs.groupBy("side", "degree").agg(
            F.count(F.lit(1)).alias("n_nodes")
        )
    return degs.filter(F.col("degree") >= spec["k"])


@settings(
    max_examples=25,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=graph_deriv_specs())
def test_random_graph_deriv_matches_duckdb(spark, duck, spec):
    """Graph-derivation fuzz (staged graph_* family): DISTINCT edge
    derivation, per-side degrees, k thresholds, and the ordered
    common-neighbor self-join must agree across engines for arbitrary
    custkey-modulus subgraphs."""
    spark_pdf = _graph_deriv_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_graph_deriv_sql(spec)).df()
    r = compare("fuzz_graph_deriv", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nsql={_graph_deriv_sql(spec)}\nnotes={r['notes']}"


# ---- transition-matrix grammar (staged evt_* Markov family) -----------------
#
# The per-user sequence → LEAD pairing → transition-count / row-normalize
# idiom behind evt_transition_matrix / evt_markov_stationary /
# llm_bigram_lm (round-9 window). The grammar randomizes the user
# subpopulation and the reporting mode; ordering inside a user is the
# repo's deterministic (ts, event_id) total order, counts are exact
# integers, and every probability is ONE IEEE division rounded at 6dp —
# no sum-of-floats ordering risk by construction.


@st.composite
def transition_specs(draw):
    m = draw(st.integers(2, 6))
    return {
        "m": m,
        "r": draw(st.integers(0, m - 1)),
        "mode": draw(st.sampled_from(["counts", "rownorm", "selfshare"])),
    }


def _transition_sql(spec) -> str:
    seq = f"""
      SELECT event_type AS f,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS t
      FROM events WHERE user_id % {spec["m"]} = {spec["r"]}
    """
    pairs = f"SELECT f, t, COUNT(*) AS n FROM ({seq}) s WHERE t IS NOT NULL GROUP BY f, t"
    if spec["mode"] == "counts":
        return f"SELECT f AS from_type, t AS to_type, n FROM ({pairs}) p"
    if spec["mode"] == "rownorm":
        return f"""
        SELECT f AS from_type, t AS to_type,
               ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY f), 6) AS p
        FROM ({pairs}) p
        """
    return f"""
    SELECT f AS from_type,
           ROUND(SUM(CASE WHEN t = f THEN n ELSE 0 END) * 1.0 / SUM(n), 6)
             AS self_share
    FROM ({pairs}) p GROUP BY f
    """


def _transition_df(spark, spec):
    from pyspark.sql.window import Window as _W

    ev = load_table(spark, SF_DIR, "events").filter(
        F.col("user_id") % spec["m"] == spec["r"]
    )
    w = _W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("f"),
        F.lead("event_type").over(w).alias("t"),
    ).filter(F.col("t").isNotNull())
    pairs = seq.groupBy("f", "t").agg(F.count(F.lit(1)).alias("n"))
    if spec["mode"] == "counts":
        return pairs.select(
            F.col("f").alias("from_type"), F.col("t").alias("to_type"), "n"
        )
    if spec["mode"] == "rownorm":
        wr = _W.partitionBy("f")
        return pairs.select(
            F.col("f").alias("from_type"),
            F.col("t").alias("to_type"),
            F.round(F.col("n") / F.sum("n").over(wr), 6).alias("p"),
        )
    return pairs.groupBy(F.col("f").alias("from_type")).agg(
        F.round(
            F.sum(F.when(F.col("t") == F.col("f"), F.col("n")).otherwise(0))
            / F.sum("n"),
            6,
        ).alias("self_share")
    )


@settings(
    max_examples=25,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=transition_specs())
def test_random_transition_matches_duckdb(spark, duck, spec):
    """Transition-matrix fuzz (staged evt_* Markov family): per-user
    LEAD pairing on the deterministic (ts, event_id) order, transition
    counts, row-normalized probabilities, and self-loop shares must
    agree across engines for arbitrary user subpopulations."""
    spark_pdf = _transition_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_transition_sql(spec)).df()
    r = compare("fuzz_transition", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nsql={_transition_sql(spec)}\nnotes={r['notes']}"


# ---- cohort-grid grammar (staged evt_* retention family) -------------------
#
# The anchor-relative integer-period cohort idiom behind
# evt_retention_grid / evt_retention / evt_wow_growth (round-9 window):
# period = floor((date - anchor) / unit_days) — deliberately portable
# integer arithmetic instead of date_trunc, so week/period semantics are
# identical across engines by construction. The grammar randomizes the
# anchor, the period length, the user subpopulation, and the reporting
# mode (activity grid, cohort sizes, retained share — one IEEE division
# rounded at 6dp).


@st.composite
def cohort_specs(draw):
    m = draw(st.integers(2, 6))
    return {
        "anchor": draw(
            st.sampled_from(["2024-01-01", "2024-01-03", "2023-12-28"])
        ),
        "u": draw(st.integers(5, 9)),  # period length in days
        "m": m,
        "r": draw(st.integers(0, m - 1)),
        "mode": draw(st.sampled_from(["grid", "sizes", "share"])),
    }


def _cohort_core_sql(spec) -> str:
    return f"""
      periods AS (
        SELECT DISTINCT user_id,
               CAST(floor(CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE)
                               - DATE '{spec["anchor"]}' AS INT)
                          / {spec["u"]}) AS INT) AS period
        FROM events WHERE user_id % {spec["m"]} = {spec["r"]}
      ),
      cohort AS (
        SELECT user_id, MIN(period) AS cohort_period
        FROM periods GROUP BY user_id
      ),
      grid AS (
        SELECT c.cohort_period, p.period - c.cohort_period AS offset_p,
               CAST(COUNT(DISTINCT p.user_id) AS BIGINT) AS n_active
        FROM periods p JOIN cohort c USING (user_id)
        GROUP BY 1, 2
      )
    """


def _cohort_sql(spec) -> str:
    core = _cohort_core_sql(spec)
    if spec["mode"] == "grid":
        return f"WITH {core} SELECT cohort_period, offset_p, n_active FROM grid"
    if spec["mode"] == "sizes":
        return f"""
        WITH {core}
        SELECT cohort_period, n_active AS cohort_size FROM grid
        WHERE offset_p = 0
        """
    return f"""
    WITH {core},
    base AS (
      SELECT cohort_period, n_active AS cohort_size FROM grid
      WHERE offset_p = 0
    )
    SELECT g.cohort_period, g.offset_p,
           ROUND(g.n_active * 1.0 / b.cohort_size, 6) AS retained_share
    FROM grid g JOIN base b USING (cohort_period)
    """


def _cohort_df(spark, spec):
    ev = load_table(spark, SF_DIR, "events").filter(
        F.col("user_id") % spec["m"] == spec["r"]
    )
    periods = ev.select(
        "user_id",
        F.floor(
            F.datediff(F.to_date("ts"), F.to_date(F.lit(spec["anchor"])))
            / spec["u"]
        )
        .cast("int")
        .alias("period"),
    ).distinct()
    cohort = periods.groupBy("user_id").agg(
        F.min("period").alias("cohort_period")
    )
    grid = (
        periods.join(cohort, "user_id")
        .groupBy(
            "cohort_period",
            (F.col("period") - F.col("cohort_period")).alias("offset_p"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    if spec["mode"] == "grid":
        return grid
    base = grid.filter(F.col("offset_p") == 0).select(
        "cohort_period", F.col("n_active").alias("cohort_size")
    )
    if spec["mode"] == "sizes":
        return base
    return grid.join(base, "cohort_period").select(
        "cohort_period",
        "offset_p",
        F.round(F.col("n_active") / F.col("cohort_size"), 6).alias(
            "retained_share"
        ),
    )


@settings(
    max_examples=25,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=cohort_specs())
def test_random_cohort_grid_matches_duckdb(spark, duck, spec):
    """Cohort-grid fuzz (staged evt_* retention family): anchor-relative
    integer periods, first-touch cohorts, activity grids, and retained
    shares must agree across engines for arbitrary anchors, period
    lengths, and user subpopulations."""
    spark_pdf = _cohort_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_cohort_sql(spec)).df()
    r = compare("fuzz_cohort_grid", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nsql={_cohort_sql(spec)}\nnotes={r['notes']}"


# ---- funnel-sequence grammar (staged evt_* funnel family) -------------------
#
# The ordered step-matching idiom behind evt_funnel / evt_funnel_steps /
# evt_funnel_latency / evt_sequence_match (round-10 window): first touch
# of step 1, then the earliest STRICTLY-LATER occurrence of each
# subsequent step, per user. The grammar randomizes the step sequence
# (including repeated types — 'click then click again' must match a
# LATER event, the classic funnel bug), the depth, and the user
# subpopulation. Latencies accumulate as floor-second BIGINTs via the
# unix_micros == epoch_us anchor, so every reported number is an exact
# integer sum — no float summation order anywhere.


@st.composite
def funnel_specs(draw):
    types = ["signup", "click", "error", "view", "purchase"]
    depth = draw(st.integers(2, 3))
    m = draw(st.integers(2, 5))
    return {
        "steps": [draw(st.sampled_from(types)) for _ in range(depth)],
        "m": m,
        "r": draw(st.integers(0, m - 1)),
        "mode": draw(st.sampled_from(["counts", "latency"])),
    }


def _funnel_sql(spec) -> str:
    base = (
        f"SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts "
        f"FROM events WHERE user_id % {spec['m']} = {spec['r']}"
    )
    ctes = [f"e AS ({base})"]
    prev = None
    for i, step in enumerate(spec["steps"], start=1):
        if prev is None:
            ctes.append(
                f"s{i} AS (SELECT user_id, MIN(ts) AS t{i} FROM e "
                f"WHERE event_type = '{step}' GROUP BY user_id)"
            )
        else:
            ctes.append(
                f"s{i} AS (SELECT e.user_id, MIN(e.ts) AS t{i} "
                f"FROM e JOIN s{prev} USING (user_id) "
                f"WHERE e.event_type = '{step}' AND e.ts > s{prev}.t{prev} "
                f"GROUP BY e.user_id)"
            )
        prev = i
    with_clause = "WITH " + ",\n".join(ctes)
    if spec["mode"] == "counts":
        unions = " UNION ALL ".join(
            f"SELECT {i} AS depth, CAST(COUNT(*) AS BIGINT) AS n_users FROM s{i}"
            for i in range(1, len(spec["steps"]) + 1)
        )
        return f"{with_clause} {unions}"
    last = len(spec["steps"])
    return f"""
    {with_clause}
    SELECT CAST(COUNT(*) AS BIGINT) AS n_completed,
           CAST(COALESCE(SUM(CAST(floor(
             (epoch_us(s{last}.t{last}) - epoch_us(s1.t1)) / 1000000.0
           ) AS BIGINT)), 0) AS BIGINT) AS total_latency_s
    FROM s{last} JOIN s1 USING (user_id)
    """


def _funnel_df(spark, spec):
    e = (
        load_table(spark, SF_DIR, "events")
        .filter(F.col("user_id") % spec["m"] == spec["r"])
        .select("user_id", "event_type", F.col("ts").cast("timestamp").alias("ts"))
    )
    stages = []
    for i, step in enumerate(spec["steps"], start=1):
        matched = e.filter(F.col("event_type") == step)
        if stages:
            prevdf = stages[-1].select(
                "user_id", F.col(f"t{i - 1}").alias("_pt")
            )
            matched = matched.join(prevdf, "user_id").filter(
                F.col("ts") > F.col("_pt")
            )
        stages.append(
            matched.groupBy("user_id").agg(F.min("ts").alias(f"t{i}"))
        )
    if spec["mode"] == "counts":
        out = None
        for i, s in enumerate(stages, start=1):
            row = s.agg(
                F.lit(i).alias("depth"),
                F.count(F.lit(1)).alias("n_users"),
            )
            out = row if out is None else out.unionByName(row)
        return out
    last = len(stages)
    lat = (
        F.floor(
            (
                F.unix_micros(F.col(f"t{last}")) - F.unix_micros(F.col("t1"))
            )
            / 1000000.0
        )
        .cast("bigint")
    )
    return (
        stages[-1]
        .join(stages[0], "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_completed"),
            F.coalesce(F.sum(lat), F.lit(0))
            .cast("bigint")
            .alias("total_latency_s"),
        )
    )


@settings(
    max_examples=25,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=funnel_specs())
def test_random_funnel_matches_duckdb(spark, duck, spec):
    """Funnel-sequence fuzz (staged evt_* funnel family): first-touch
    then strictly-later step matching, per-depth user counts, and exact
    integer-second completion latencies must agree across engines for
    arbitrary step sequences (including repeated types) and
    subpopulations."""
    spark_pdf = _funnel_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_funnel_sql(spec)).df()
    r = compare("fuzz_funnel", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nsql={_funnel_sql(spec)}\nnotes={r['notes']}"


# ---- Poisson-bootstrap weight grammar (staged evt_* resampling family) ------
#
# The deterministic resampling idiom behind evt_bootstrap_ci (round-9
# window): md5-derived uniform on (unit, replicate) → inverse-CDF CASE →
# Poisson(1) replicate weight. The divergence classes pinned here are
# hex-substring parsing (CONV vs '0x'-cast), string key assembly
# (CONCAT_WS vs ||), and the CDF threshold comparisons — so the grammar
# reports EXACT integer reductions per replicate (Σw and Σw·floor(value))
# and deliberately avoids the op's float ratio estimates: a weight
# mismatch anywhere flips an integer, never a 1-ulp tail. The CASE is
# imported from the operator module so the grammar and the registered op
# can never drift apart.

from hive_test_spark.operators.analytics import _poisson1_case  # noqa: E402


@st.composite
def poisson_boot_specs(draw):
    m = draw(st.integers(2, 5))
    return {
        "reps": draw(st.integers(3, 8)),
        "m": m,
        "r": draw(st.integers(0, m - 1)),
        "unit": draw(st.sampled_from(["user", "event_mod"])),
        "k": draw(st.sampled_from([20, 37, 50])),  # event_mod unit count
    }


def _pboot_unit_sql(spec) -> str:
    if spec["unit"] == "user":
        return "user_id"
    return f"event_id % {spec['k']}"


def _pboot_sql(spec) -> str:
    u = (
        "(CAST(('0x' || substr(md5(CAST(unit AS VARCHAR) || ':' ||"
        " CAST(rep AS VARCHAR)), 1, 8)) AS BIGINT) / 4294967296.0)"
    )
    return f"""
    WITH per_unit AS (
      SELECT {_pboot_unit_sql(spec)} AS unit,
             SUM(CAST(floor(value) AS BIGINT)) AS uval
      FROM events WHERE user_id % {spec["m"]} = {spec["r"]}
      GROUP BY 1
    ),
    weighted AS (
      SELECT r.rep, u.uval, {_poisson1_case(u)} AS w
      FROM per_unit u
      CROSS JOIN (SELECT unnest(generate_series(0, {spec["reps"] - 1})) AS rep) r
    )
    SELECT rep, CAST(SUM(w) AS BIGINT) AS sum_w,
           CAST(SUM(w * uval) AS BIGINT) AS weighted_sum
    FROM weighted GROUP BY rep
    """


def _pboot_df(spark, spec):
    ev = load_table(spark, SF_DIR, "events").filter(
        F.col("user_id") % spec["m"] == spec["r"]
    )
    unit = (
        F.col("user_id")
        if spec["unit"] == "user"
        else F.col("event_id") % spec["k"]
    )
    per_unit = ev.groupBy(unit.alias("unit")).agg(
        F.sum(F.floor("value").cast("bigint")).alias("uval")
    )
    u_spark = (
        "(CAST(CONV(SUBSTRING(MD5(CONCAT_WS(':', CAST(unit AS STRING),"
        " CAST(rep AS STRING))), 1, 8), 16, 10) AS DOUBLE) / 4294967296.0)"
    )
    weighted = per_unit.select(
        "unit",
        "uval",
        F.explode(F.sequence(F.lit(0), F.lit(spec["reps"] - 1))).alias("rep"),
    ).select("rep", "uval", F.expr(_poisson1_case(u_spark)).alias("w"))
    return weighted.groupBy("rep").agg(
        F.sum("w").cast("bigint").alias("sum_w"),
        F.sum(F.col("w") * F.col("uval")).cast("bigint").alias("weighted_sum"),
    )


@settings(
    max_examples=25,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=poisson_boot_specs())
def test_random_poisson_boot_matches_duckdb(spark, duck, spec):
    """Poisson-bootstrap weight fuzz (staged evt_* resampling family):
    md5-uniform → inverse-CDF Poisson(1) weights on randomized units,
    subpopulations, and replicate counts must produce identical exact
    integer reductions (Σw, Σw·floor(value)) per replicate across
    engines."""
    spark_pdf = _pboot_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_pboot_sql(spec)).df()
    r = compare("fuzz_poisson_boot", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nsql={_pboot_sql(spec)}\nnotes={r['notes']}"


# ---- hashed-feature bucket grammar (staged llm_* importance family) ---------
#
# The md5-bucket hashed-feature idiom behind llm_importance_weights (DSIR)
# and llm_dataset_mix: tokenize, bucket each token by a prefix of its
# content md5 (portable hashed features — no vocabulary), and roll up
# exact integer bucket counts per stratum. The grammar randomizes the
# bucket width (1-2 hex chars = 16 or 256 buckets), the tokenizer casing,
# the stratum column, the empty-token guard, and a min-count cut. All
# outputs are exact integer counts — a bucketing or tokenizer divergence
# flips an integer, never a float tail.


@st.composite
def hash_bucket_specs(draw):
    return {
        "width": draw(st.integers(1, 2)),
        "lower": draw(st.booleans()),
        "by": draw(st.sampled_from(["lang", "source"])),
        "minc": draw(st.sampled_from([1, 2, 5])),
        "mode": draw(st.sampled_from(["strata", "marginal"])),
    }


def _hash_bucket_sql(spec) -> str:
    txt = "lower(text)" if spec["lower"] else "text"
    base = f"""
      SELECT doc_id, {spec["by"]} AS stratum,
             substr(md5(tok), 1, {spec["width"]}) AS bucket
      FROM (SELECT doc_id, {spec["by"]}, unnest(string_split({txt}, ' ')) AS tok
            FROM documents) u
      WHERE tok <> ''
    """
    if spec["mode"] == "strata":
        return f"""
        SELECT stratum, bucket, CAST(COUNT(*) AS BIGINT) AS n
        FROM ({base}) b GROUP BY stratum, bucket
        HAVING COUNT(*) >= {spec["minc"]}
        """
    return f"""
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM ({base}) b GROUP BY bucket
    HAVING COUNT(*) >= {spec["minc"]}
    """


def _hash_bucket_df(spark, spec):
    txt = F.lower(F.col("text")) if spec["lower"] else F.col("text")
    d = load_table(spark, SF_DIR, "documents")
    b = (
        d.select(
            "doc_id",
            F.col(spec["by"]).alias("stratum"),
            F.explode(F.split(txt, " ")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .select(
            "doc_id",
            "stratum",
            F.substring(F.md5("tok"), 1, spec["width"]).alias("bucket"),
        )
    )
    if spec["mode"] == "strata":
        return (
            b.groupBy("stratum", "bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") >= spec["minc"])
        )
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n") >= spec["minc"])
    )


@settings(
    max_examples=25,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=hash_bucket_specs())
def test_random_hash_bucket_matches_duckdb(spark, duck, spec):
    """Hashed-feature bucket fuzz (staged llm_* importance family):
    md5-prefix token bucketing with exact integer per-stratum counts
    must agree across engines for arbitrary bucket widths, casings,
    strata, and min-count cuts."""
    spark_pdf = _hash_bucket_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_hash_bucket_sql(spec)).df()
    r = compare("fuzz_hash_bucket", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nsql={_hash_bucket_sql(spec)}\nnotes={r['notes']}"


# ---------------------------------------------------------------------------
# Grammar 31: cosine dot-product fast path (the _DOT_FAST CASE in
# llm/similarity.py). Slicing the embedding to a RANDOM dimensionality
# exercises BOTH branches of the CASE — dim == 64 takes the unrolled
# codegen chain, every other dim the general HOF aggregate — against
# DuckDB's independent list arithmetic. Pins the guard boundary a
# fixed-fixture oracle can never reach (the fixture is always 64-dim).
# ---------------------------------------------------------------------------


@st.composite
def cosine_fastpath_specs(draw):
    return {
        "dim": draw(st.sampled_from([3, 16, 63, 64])),
        "nprobes": draw(st.sampled_from([2, 5, 10])),
        "topk": draw(st.sampled_from([0, 3])),  # 0 = raw pairs
    }


def _cosfp_sql(spec) -> str:
    base = f"""
      SELECT vec_id,
             list_transform(embedding[1:{spec["dim"]}], x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    """
    pairs = f"""
      SELECT a.vec_id AS src, b.vec_id AS nb,
             ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
      FROM ({base}) a JOIN ({base}) b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < {spec["nprobes"]}
    """
    if not spec["topk"]:
        return pairs
    return f"""
    SELECT src, nb, cos_sim FROM (
      SELECT src, nb, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY src
                                ORDER BY cos_sim DESC, nb) AS rk
      FROM ({pairs}) p
    ) t WHERE rk <= {spec["topk"]}
    """


def _cosfp_df(spark, spec):
    from pyspark.sql import Window

    from hive_test_spark.llm.similarity import _NORM, cosine

    e = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", F.slice("embedding", 1, spec["dim"]).alias("v")
    )
    a = e.filter(F.col("vec_id") < spec["nprobes"]).select(
        F.col("vec_id").alias("src"),
        F.col("v").alias("va"),
        F.expr(_NORM.format(a="v")).alias("na"),
    )
    b = e.select(
        F.col("vec_id").alias("nb"),
        F.col("v").alias("vb"),
        F.expr(_NORM.format(a="v")).alias("nb_norm"),
    )
    pairs = (
        F.broadcast(a)
        .join(b, F.col("src") != F.col("nb"))
        .select(
            "src",
            "nb",
            F.round(cosine("va", "vb") / (F.col("na") * F.col("nb_norm")), 6).alias(
                "cos_sim"
            ),
        )
    )
    if not spec["topk"]:
        return pairs
    w = Window.partitionBy("src").orderBy(F.col("cos_sim").desc(), "nb")
    return (
        pairs.select("src", "nb", "cos_sim", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= spec["topk"])
        .select("src", "nb", "cos_sim")
    )


@settings(
    max_examples=25,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=cosine_fastpath_specs())
def test_random_cosine_fastpath_matches_duckdb(spark, duck, spec):
    """Cosine fast-path fuzz: sliced-dimension cosine similarity (raw
    pairs or deterministic top-k) must agree across engines whether the
    unrolled dim-64 codegen branch or the general HOF branch evaluates."""
    spark_pdf = _cosfp_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_cosfp_sql(spec)).df()
    r = compare("fuzz_cosine_fastpath", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nsql={_cosfp_sql(spec)}\nnotes={r['notes']}"


# ---- GRPO group-advantage grammar (staged llm_grpo_advantage family) --------
#
# (reward - group_mean) / group_std from EXACT integer (S, Q) sums, with
# the prompt stride, rollout count, reward modulus, and base feature all
# randomized. A sum/ordering divergence flips an integer before any
# float forms; the epilogue divides only at the end (6dp-rounded), so
# mean/std/advantage agree bit-for-bit across engines.


@st.composite
def grpo_specs(draw):
    return {
        "mod": draw(st.sampled_from([3, 5, 10])),
        "g": draw(st.sampled_from([4, 8, 16])),
        "rmod": draw(st.sampled_from([25, 50])),
        "base": draw(st.sampled_from(["len", "chars"])),
    }


def _grpo_base_sql(spec) -> str:
    return "length(text) % 50" if spec["base"] == "len" else "n_chars % 50"


def _grpo_sql(spec) -> str:
    g = spec["g"]
    return f"""
    WITH prompts AS (
      SELECT doc_id AS prompt_id, {_grpo_base_sql(spec)} AS base
      FROM documents WHERE doc_id % {spec["mod"]} = 0
    ),
    rollouts AS (
      SELECT p.prompt_id, s.i,
             p.base + CAST('0x' || substring(
               md5(CAST(p.prompt_id AS VARCHAR) || ':' || CAST(s.i AS VARCHAR)),
               1, 2) AS INTEGER) % {spec["rmod"]} AS reward
      FROM prompts p
      CROSS JOIN (SELECT unnest(generate_series(0, {g - 1})) AS i) s
    ),
    stats AS (
      SELECT prompt_id,
             CAST(SUM(reward) AS BIGINT) AS s,
             CAST(SUM(reward * reward) AS BIGINT) AS q
      FROM rollouts GROUP BY prompt_id
    )
    SELECT r.prompt_id, r.i AS rollout, CAST(r.reward AS BIGINT) AS reward,
           ROUND(COALESCE(
             (r.reward - t.s / {g}.0)
             / NULLIF(sqrt(t.q / {g}.0 - (t.s / {g}.0) * (t.s / {g}.0)), 0),
             0), 6) AS advantage
    FROM rollouts r JOIN stats t ON t.prompt_id = r.prompt_id
    """


def _grpo_df(spark, spec):
    g = spec["g"]
    base = (
        F.length("text") % 50 if spec["base"] == "len" else F.col("n_chars") % 50
    )
    d = load_table(spark, SF_DIR, "documents")
    prompts = d.filter(F.col("doc_id") % spec["mod"] == 0).select(
        F.col("doc_id").alias("prompt_id"), base.alias("base")
    )
    rollouts = prompts.select(
        "prompt_id",
        "base",
        F.explode(F.sequence(F.lit(0), F.lit(g - 1))).alias("i"),
    ).select(
        "prompt_id",
        "i",
        (
            F.col("base")
            + F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.col("prompt_id").cast("string"),
                            F.col("i").cast("string"),
                        )
                    ),
                    1,
                    2,
                ),
                16,
                10,
            ).cast("int")
            % spec["rmod"]
        ).alias("reward"),
    )
    stats = rollouts.groupBy("prompt_id").agg(
        F.sum("reward").cast("long").alias("s"),
        F.sum(F.col("reward") * F.col("reward")).cast("long").alias("q"),
    )
    mean = F.col("s") / float(g)
    var = F.col("q") / float(g) - mean * mean
    return rollouts.join(stats, "prompt_id").select(
        "prompt_id",
        F.col("i").alias("rollout"),
        F.col("reward").cast("long").alias("reward"),
        F.round(
            F.coalesce(
                (F.col("reward") - mean) / F.nullif(F.sqrt(var), F.lit(0)),
                F.lit(0.0),
            ),
            6,
        ).alias("advantage"),
    )


@settings(
    max_examples=20,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=grpo_specs())
def test_random_grpo_matches_duckdb(spark, duck, spec):
    """GRPO advantage fuzz (r10 llm_grpo_advantage family): randomized
    prompt stride / rollout count / reward modulus / base feature must
    yield identical exact-integer group stats and 6dp advantages."""
    spark_pdf = _grpo_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_grpo_sql(spec)).df()
    r = compare("fuzz_grpo", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nnotes={r['notes']}"


# ---- log-log OLS grammar (r10 evt_retention_fit family) ---------------------
#
# The explicit normal-equation OLS epilogue behind evt_retention_fit
# (and evt_ols_multifactor's 1-factor degenerate case): fit ln(y) vs
# ln(x) through raw Σx/Σy/Σxy/Σxx sums. Randomizes the series (daily
# event counts per type), the prefix length K, and a min-count guard.
# Counts are exact integers; the logs and the closed-form slope agree
# to 6dp because both engines fold the same handful of doubles.


@st.composite
def loglog_specs(draw):
    return {
        "k": draw(st.sampled_from([5, 8, 12])),
        "minc": draw(st.sampled_from([0, 2])),
        "etype": draw(st.sampled_from(["click", "view", "purchase", None])),
    }


def _loglog_sql(spec) -> str:
    where = f"WHERE event_type = '{spec['etype']}'" if spec["etype"] else ""
    return f"""
    WITH daily AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             COUNT(*) AS y
      FROM events {where}
      GROUP BY event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE)
    ),
    ranked AS (
      SELECT event_type, y,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS k
      FROM daily
    ),
    pts AS (
      SELECT event_type, ln(CAST(k AS DOUBLE)) AS x, ln(CAST(y AS DOUBLE)) AS yl
      FROM ranked WHERE k <= {spec["k"]} AND y > {spec["minc"]}
    ),
    sums AS (
      SELECT event_type, COUNT(*) AS n, SUM(x) AS sx, SUM(yl) AS sy,
             SUM(x * yl) AS sxy, SUM(x * x) AS sxx
      FROM pts GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           ROUND((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0), 6) AS slope,
           ROUND((sy - sx * (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0)) / n, 6)
             AS intercept
    FROM sums WHERE n >= 2
    """


def _loglog_df(spark, spec):
    from pyspark.sql import Window

    ev = load_table(spark, SF_DIR, "events")
    if spec["etype"]:
        ev = ev.filter(F.col("event_type") == spec["etype"])
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("y")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    pts = (
        daily.select("event_type", "y", F.row_number().over(w).alias("k"))
        .filter((F.col("k") <= spec["k"]) & (F.col("y") > spec["minc"]))
        .select(
            "event_type",
            F.log(F.col("k").cast("double")).alias("x"),
            F.log(F.col("y").cast("double")).alias("yl"),
        )
    )
    sums = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("yl").alias("sy"),
        F.sum(F.col("x") * F.col("yl")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    den = F.nullif(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0))
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / den
    return sums.filter(F.col("n") >= 2).select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - F.col("sx") * slope) / F.col("n"), 6).alias(
            "intercept"
        ),
    )


@settings(
    max_examples=20,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=loglog_specs())
def test_random_loglog_ols_matches_duckdb(spark, duck, spec):
    """Log-log normal-equation OLS fuzz (r10 evt_retention_fit family):
    randomized series prefix / count guard / type filter must produce
    identical 6dp slope+intercept from raw sums."""
    spark_pdf = _loglog_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_loglog_sql(spec)).df()
    r = compare("fuzz_loglog_ols", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nnotes={r['notes']}"


# ---- segment-ownership rewrite grammar (r10 llm_paragraph_dedup family) -----
#
# First-occurrence segment ownership + in-order reassembly: split each
# doc on a randomized delimiter token, assign each distinct segment to
# its global (doc_id, pos)-min owner, and rebuild each doc from the
# segments it owns. Randomizes the split token, a min-segment-length
# cut, and casing. Output is the reassembled string — any ownership or
# ordering divergence corrupts a concatenation, never a float tail.


@st.composite
def segown_specs(draw):
    return {
        "delim": draw(st.sampled_from([" spark ", " join ", " filter "])),
        "minlen": draw(st.sampled_from([0, 5, 20])),
        "lower": draw(st.booleans()),
    }


def _segown_sql(spec) -> str:
    txt = "lower(text)" if spec["lower"] else "text"
    return f"""
    WITH segs AS (
      SELECT doc_id, pos, seg FROM (
        SELECT doc_id,
               generate_subscripts(string_split({txt}, '{spec["delim"]}'), 1) AS pos,
               unnest(string_split({txt}, '{spec["delim"]}')) AS seg
        FROM documents
      ) u
      WHERE length(seg) > {spec["minlen"]}
    ),
    kept AS (
      SELECT doc_id, pos, seg FROM (
        SELECT doc_id, pos, seg,
               ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
        FROM segs
      ) t WHERE rn = 1
    )
    SELECT doc_id,
           array_to_string(list(seg ORDER BY pos), '|') AS kept_text,
           CAST(COUNT(*) AS BIGINT) AS n_kept
    FROM kept GROUP BY doc_id
    """


def _segown_df(spark, spec):
    txt = F.lower(F.col("text")) if spec["lower"] else F.col("text")
    d = load_table(spark, SF_DIR, "documents")
    segs = (
        d.select(
            "doc_id",
            F.posexplode(F.split(txt, spec["delim"])).alias("pos0", "seg"),
        )
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "seg")
        .filter(F.length("seg") > spec["minlen"])
    )
    owner = segs.groupBy("seg").agg(
        F.min(F.struct("doc_id", "pos")).alias("o")
    )
    kept = segs.join(owner, "seg").filter(
        (F.col("o.doc_id") == F.col("doc_id")) & (F.col("o.pos") == F.col("pos"))
    )
    return kept.groupBy("doc_id").agg(
        F.array_join(
            F.expr("transform(array_sort(collect_list(struct(pos, seg))), x -> x.seg)"),
            "|",
        ).alias("kept_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )


@settings(
    max_examples=18,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=segown_specs())
def test_random_segment_ownership_matches_duckdb(spark, duck, spec):
    """Segment-ownership rewrite fuzz (r10 llm_paragraph_dedup family):
    randomized delimiter / length cut / casing must give identical
    global first-occurrence owners and reassembled survivor strings."""
    spark_pdf = _segown_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_segown_sql(spec)).df()
    r = compare("fuzz_segment_ownership", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nnotes={r['notes']}"


# ---- pack-efficiency grammar (r10 llm_pack_efficiency_curve family) ---------
#
# Context-window economics from per-doc token counts: for a randomized
# ctx size, truncation loss Σ max(0, n-C), capped mass Σ min(n, C),
# bin count ceil(capped/C), and utilization capped/(bins*C). All-integer
# until the single final division. Randomizes ctx, the token splitter,
# and a stratum axis.


@st.composite
def packeff_specs(draw):
    return {
        "ctx": draw(st.sampled_from([32, 64, 128, 256])),
        "by": draw(st.sampled_from(["lang", "source", None])),
        "lower": draw(st.booleans()),
    }


def _packeff_sql(spec) -> str:
    txt = "lower(text)" if spec["lower"] else "text"
    by = spec["by"] or "'all'"
    c = spec["ctx"]
    return f"""
    WITH n AS (
      SELECT {by} AS stratum,
             len(list_filter(string_split({txt}, ' '), t -> t <> '')) AS n
      FROM documents
    )
    SELECT stratum,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(GREATEST(n - {c}, 0)) AS BIGINT) AS trunc_loss,
           CAST(SUM(LEAST(n, {c})) AS BIGINT) AS capped_tokens,
           CAST(CEIL(SUM(LEAST(n, {c})) * 1.0 / {c}) AS BIGINT) AS bins,
           ROUND(SUM(LEAST(n, {c}))
                 / (CEIL(SUM(LEAST(n, {c})) * 1.0 / {c}) * {c}.0), 6) AS util
    FROM n GROUP BY stratum
    """


def _packeff_df(spark, spec):
    txt = F.lower(F.col("text")) if spec["lower"] else F.col("text")
    c = spec["ctx"]
    d = load_table(spark, SF_DIR, "documents")
    by = F.col(spec["by"]) if spec["by"] else F.lit("all")
    n = d.select(
        by.alias("stratum"),
        F.size(F.filter(F.split(txt, " "), lambda t: t != "")).alias("n"),
    )
    capped = F.sum(F.least(F.col("n"), F.lit(c)))
    bins = F.ceil(capped * 1.0 / c)
    return n.groupBy("stratum").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.greatest(F.col("n") - c, F.lit(0))).cast("long").alias("trunc_loss"),
        capped.cast("long").alias("capped_tokens"),
        bins.cast("long").alias("bins"),
        F.round(capped / (bins * float(c)), 6).alias("util"),
    )


@settings(
    max_examples=20,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=packeff_specs())
def test_random_pack_efficiency_matches_duckdb(spark, duck, spec):
    """Pack-efficiency fuzz (r10 llm_pack_efficiency_curve family):
    randomized ctx / stratum / casing must agree on the all-integer
    packing ledger and the single final utilization division."""
    spark_pdf = _packeff_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_packeff_sql(spec)).df()
    r = compare("fuzz_pack_efficiency", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nnotes={r['notes']}"


# ---- geo grid-blocking grammar (r9 join_geo_grid family) --------------------
#
# The blocking-correctness invariant under fuzz: Spark's 3x3
# neighbor-cell equi-join must return EXACTLY the pairs DuckDB's
# brute-force cross join finds, for any radius <= the cell-coverage
# bound and any key stride. A cell-sizing or neighbor-enumeration bug
# drops whole pairs — integer-visible, never a float tail.


@st.composite
def geogrid_specs(draw):
    return {
        "radius": draw(st.sampled_from([80.0, 120.0, 200.0])),
        "cmod": draw(st.sampled_from([1, 2, 3])),
        "smod": draw(st.sampled_from([1, 2])),
    }


_GG_U = "(CAST(('0x' || substr(md5('{salt}' || CAST({key} AS VARCHAR)), 1, 8)) AS BIGINT) / 4294967296.0)"
_GG_U_SPARK = "(CAST(conv(substring(md5(concat('{salt}', CAST({key} AS STRING))), 1, 8), 16, 10) AS BIGINT) / 4294967296.0D)"
_GG_HAV = (
    "2 * 6371.0088 * asin(sqrt("
    "pow(sin(radians({lat2} - {lat1}) / 2), 2) "
    "+ cos(radians({lat1})) * cos(radians({lat2})) "
    "* pow(sin(radians({lon2} - {lon1}) / 2), 2)))"
)


def _geogrid_sql(spec) -> str:
    return f"""
    WITH c AS (
      SELECT c_custkey,
             40 + 20 * {_GG_U.format(salt='lat:c', key='c_custkey')} AS lat,
             -10 + 40 * {_GG_U.format(salt='lon:c', key='c_custkey')} AS lon
      FROM customer WHERE c_custkey % {spec["cmod"]} = 0
    ),
    s AS (
      SELECT s_suppkey,
             40 + 20 * {_GG_U.format(salt='lat:s', key='s_suppkey')} AS lat,
             -10 + 40 * {_GG_U.format(salt='lon:s', key='s_suppkey')} AS lon
      FROM supplier WHERE s_suppkey % {spec["smod"]} = 0
    )
    SELECT c.c_custkey, s.s_suppkey,
           ROUND({_GG_HAV.format(lat1='c.lat', lon1='c.lon', lat2='s.lat', lon2='s.lon')}, 3) AS dist_km
    FROM c CROSS JOIN s
    WHERE {_GG_HAV.format(lat1='c.lat', lon1='c.lon', lat2='s.lat', lon2='s.lon')} <= {spec["radius"]}
    """


def _geogrid_df(spark, spec):
    cust = load_table(spark, SF_DIR, "customer").filter(
        F.col("c_custkey") % spec["cmod"] == 0
    ).selectExpr(
        "c_custkey",
        f"40 + 20 * {_GG_U_SPARK.format(salt='lat:c', key='c_custkey')} AS lat",
        f"-10 + 40 * {_GG_U_SPARK.format(salt='lon:c', key='c_custkey')} AS lon",
    )
    supp = load_table(spark, SF_DIR, "supplier").filter(
        F.col("s_suppkey") % spec["smod"] == 0
    ).selectExpr(
        "s_suppkey",
        f"40 + 20 * {_GG_U_SPARK.format(salt='lat:s', key='s_suppkey')} AS lat",
        f"-10 + 40 * {_GG_U_SPARK.format(salt='lon:s', key='s_suppkey')} AS lon",
    )
    c_cells = cust.selectExpr(
        "*",
        "concat(CAST(CAST(floor(lat / 2.0) AS INT) AS STRING), ':', "
        "CAST(CAST(floor(lon / 4.0) AS INT) AS STRING)) AS cell",
    )
    s_cells = supp.selectExpr(
        "s_suppkey",
        "lat AS s_lat",
        "lon AS s_lon",
        "CAST(floor(lat / 2.0) AS INT) AS cx",
        "CAST(floor(lon / 4.0) AS INT) AS cy",
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
    dist = F.expr(_GG_HAV.format(lat1="lat", lon1="lon", lat2="s_lat", lon2="s_lon"))
    return (
        c_cells.join(s_cells, "cell")
        .filter(dist <= spec["radius"])
        .select("c_custkey", "s_suppkey", F.round(dist, 3).alias("dist_km"))
    )


@settings(
    max_examples=15,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=geogrid_specs())
def test_random_geo_grid_matches_duckdb(spark, duck, spec):
    """Geo grid-blocking fuzz (r9 join_geo_grid family): for every
    radius within the cell-coverage bound and any key stride, the
    blocked equi-join must equal the brute-force radius join exactly."""
    spark_pdf = _geogrid_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_geogrid_sql(spec)).df()
    r = compare("fuzz_geo_grid", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nnotes={r['notes']}"


# ---- deterministic Laplace release grammar (r9 llm_dp_counts family) --------
#
# The md5-keyed inverse-CDF Laplace mechanism under fuzz: randomized
# epsilon, grouping axis, and clamping must produce bit-identical noisy
# releases — the sign/ln/abs chain is the same scalar arithmetic in
# both engines once the uniform is fixed by the digest.


@st.composite
def dplap_specs(draw):
    return {
        "eps": draw(st.sampled_from([0.5, 1.0, 2.0])),
        "by": draw(st.sampled_from(["lang", "source"])),
        "clamp": draw(st.booleans()),
    }


def _dplap_noise(u: str, eps: float) -> str:
    return f"(-1.0 / {eps}) * sign({u} - 0.5) * ln(1.0 - 2.0 * abs({u} - 0.5))"


def _dplap_sql(spec) -> str:
    by = spec["by"]
    u = f"(CAST(('0x' || substr(md5('dpz:' || {by}), 1, 8)) AS BIGINT) / 4294967296.0)"
    noisy = f"true_n + {_dplap_noise(u, spec['eps'])}"
    if spec["clamp"]:
        noisy = f"GREATEST(0.0, {noisy})"
    return f"""
    WITH g AS (SELECT {by}, COUNT(*) AS true_n FROM documents GROUP BY {by})
    SELECT {by} AS grp, true_n, ROUND({noisy}, 3) AS dp_count
    FROM g
    """


def _dplap_df(spark, spec):
    by = spec["by"]
    d = load_table(spark, SF_DIR, "documents")
    u = (
        f"(CAST(conv(substring(md5(concat('dpz:', {by})), 1, 8), 16, 10)"
        f" AS BIGINT) / 4294967296.0D)"
    )
    noisy = f"true_n + {_dplap_noise(u, spec['eps'])}"
    if spec["clamp"]:
        noisy = f"GREATEST(0.0D, {noisy})"
    return (
        d.groupBy(by)
        .agg(F.count(F.lit(1)).alias("true_n"))
        .selectExpr(f"{by} AS grp", "true_n", f"ROUND({noisy}, 3) AS dp_count")
    )


@settings(
    max_examples=15,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=dplap_specs())
def test_random_dp_laplace_matches_duckdb(spark, duck, spec):
    """Deterministic Laplace-release fuzz (r9 llm_dp_counts family):
    randomized epsilon / axis / clamping must yield bit-identical
    md5-keyed inverse-CDF noise in both engines."""
    spark_pdf = _dplap_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_dplap_sql(spec)).df()
    r = compare("fuzz_dp_laplace", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nnotes={r['notes']}"


# ---- Holt-Winters recursion grammar (r9 evt_holt_winters family) ------------
#
# The coupled level/trend/seasonal recursion under RANDOMIZED smoothing
# constants and season length: the pandas fold and the recursive CTE
# must iterate identical doubles for any (alpha, beta, gamma, m). This
# pins the recursion parity itself, which the fixed-constant operator
# oracle can only witness at one point of the parameter space.


@st.composite
def hw_specs(draw):
    return {
        "a": draw(st.sampled_from([0.2, 0.3, 0.5])),
        "b": draw(st.sampled_from([0.1, 0.2])),
        "g": draw(st.sampled_from([0.15, 0.25])),
        "m": draw(st.sampled_from([5, 7])),
    }


def _hw_fuzz_sql(spec) -> str:
    a, b, g, m = spec["a"], spec["b"], spec["g"], spec["m"]
    return f"""
    WITH RECURSIVE s AS (
      SELECT event_type,
             CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE) AS VARCHAR) AS day,
             ROUND(SUM(value), 6) AS rev,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS rn
      FROM events
      GROUP BY event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE)
    ),
    init AS (
      SELECT event_type, SUM(rev) / {m}.0 AS l0, list(rev ORDER BY rn) AS xs
      FROM s WHERE rn <= {m} GROUP BY event_type
    ),
    rec (event_type, rn, day, rev, l, b, slist) AS (
      SELECT i.event_type, {m}, CAST(NULL AS VARCHAR),
             CAST(NULL AS DOUBLE), i.l0, CAST(0.0 AS DOUBLE),
             list_transform(i.xs, x -> x - i.l0)
      FROM init i
      UNION ALL
      SELECT n.event_type, n.rn, n.day, n.rev,
             {a} * (n.rev - r.slist[1]) + (1.0 - {a}) * (r.l + r.b),
             {b} * (({a} * (n.rev - r.slist[1])
                     + (1.0 - {a}) * (r.l + r.b)) - r.l) + (1.0 - {b}) * r.b,
             list_append(r.slist[2:{m}],
                         {g} * (n.rev - ({a} * (n.rev - r.slist[1])
                                         + (1.0 - {a}) * (r.l + r.b)))
                           + (1.0 - {g}) * r.slist[1])
      FROM rec r JOIN s n ON n.event_type = r.event_type AND n.rn = r.rn + 1
    )
    SELECT event_type, day,
           ROUND(l, 6) AS level, ROUND(b, 6) AS trend,
           ROUND(l + b + slist[1], 6) AS forecast_next
    FROM rec WHERE rn > {m}
    """


def _hw_fuzz_df(spark, spec):
    import pandas as pd

    a, b_, g, m = spec["a"], spec["b"], spec["g"], spec["m"]

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        if len(pdf) <= m:
            return pdf.iloc[0:0].reindex(
                columns=["event_type", "day", "level", "trend", "forecast_next"]
            )
        xs = list(pdf["rev"])
        l = sum(xs[:m]) / float(m)
        b = 0.0
        slist = [x - l for x in xs[:m]]
        out = []
        for t in range(m, len(xs)):
            x = xs[t]
            l_new = a * (x - slist[0]) + (1.0 - a) * (l + b)
            b_new = b_ * (l_new - l) + (1.0 - b_) * b
            s_new = g * (x - l_new) + (1.0 - g) * slist[0]
            slist = slist[1:] + [s_new]
            l, b = l_new, b_new
            out.append(
                (pdf["event_type"].iloc[t], pdf["day"].iloc[t],
                 round(l, 6), round(b, 6), round(l + b + slist[0], 6))
            )
        return pd.DataFrame(
            out, columns=["event_type", "day", "level", "trend", "forecast_next"]
        )

    ev = load_table(spark, SF_DIR, "events")
    s = ev.groupBy(
        "event_type", F.to_date("ts").cast("string").alias("day")
    ).agg(F.round(F.sum("value"), 6).alias("rev"))
    schema = (
        "event_type string, day string, level double, trend double, "
        "forecast_next double"
    )
    return s.groupBy("event_type").applyInPandas(fold, schema)


@settings(
    max_examples=12,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=hw_specs())
def test_random_holt_winters_matches_duckdb(spark, duck, spec):
    """Holt-Winters recursion fuzz (r9 evt_holt_winters family): for any
    (alpha, beta, gamma, season length) the pandas fold and the
    recursive CTE must track identical doubles."""
    spark_pdf = _hw_fuzz_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_hw_fuzz_sql(spec)).df()
    r = compare("fuzz_holt_winters", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nnotes={r['notes']}"


# ---- percentile-interpolation parity grammar (r9 evt_theil_sen family) ------
#
# Spark's exact `percentile` and DuckDB's `quantile_cont` must land on
# the same linear interpolation for ANY quantile point and ANY derived
# value set — the exact contract evt_theil_sen's medians lean on,
# randomized over q, the pair threshold, and the value expression.


@st.composite
def qinterp_specs(draw):
    return {
        "q": draw(st.sampled_from([0.1, 0.25, 0.5, 0.75, 0.9])),
        "mode": draw(st.sampled_from(["slopes", "daily"])),
        "mind": draw(st.sampled_from([1, 3])),
    }


def _qinterp_sql(spec) -> str:
    q = spec["q"]
    if spec["mode"] == "daily":
        return f"""
        WITH s AS (
          SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
                 ROUND(SUM(value), 6) AS rev
          FROM events GROUP BY 1, 2
        )
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(quantile_cont(rev, {q}), 6) AS qv
        FROM s GROUP BY event_type
        """
    return f"""
    WITH s AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             ROUND(SUM(value), 6) AS rev
      FROM events GROUP BY 1, 2
    ),
    t AS (SELECT event_type, date_diff('day', DATE '2024-01-01', day) AS t, rev FROM s),
    sl AS (
      SELECT a.event_type, (b.rev - a.rev) / (b.t - a.t) AS v
      FROM t a JOIN t b
        ON b.event_type = a.event_type AND b.t >= a.t + {spec["mind"]}
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(quantile_cont(v, {q}), 6) AS qv
    FROM sl GROUP BY event_type
    """


def _qinterp_df(spark, spec):
    q = spec["q"]
    ev = load_table(spark, SF_DIR, "events")
    s = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value"), 6).alias("rev")
    )
    if spec["mode"] == "daily":
        return s.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.expr(f"percentile(rev, {q}D)"), 6).alias("qv"),
        )
    t = s.select(
        "event_type",
        F.datediff("day", F.lit("2024-01-01").cast("date")).alias("t"),
        "rev",
    )
    a = t.select("event_type", F.col("t").alias("ta"), F.col("rev").alias("ra"))
    b = t.select("event_type", F.col("t").alias("tb"), F.col("rev").alias("rb"))
    sl = (
        a.join(b, "event_type")
        .filter(F.col("tb") >= F.col("ta") + spec["mind"])
        .select(
            "event_type",
            ((F.col("rb") - F.col("ra")) / (F.col("tb") - F.col("ta"))).alias("v"),
        )
    )
    return sl.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.expr(f"percentile(v, {q}D)"), 6).alias("qv"),
    )


@settings(
    max_examples=20,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=qinterp_specs())
def test_random_quantile_interp_matches_duckdb(spark, duck, spec):
    """Percentile-interpolation parity fuzz (r9 evt_theil_sen family):
    Spark exact percentile == DuckDB quantile_cont at any quantile
    point over randomized derived value sets."""
    spark_pdf = _qinterp_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_qinterp_sql(spec)).df()
    r = compare("fuzz_quantile_interp", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nnotes={r['notes']}"


# ---- PSI binning grammar (r9 dq_drift_psi family) ---------------------------
#
# Randomized bin count / width / reference year / smoothing: the binned
# PSI is exact integer counting until a handful of final float terms,
# so a binning or grid-completion divergence flips counts, not tails.


@st.composite
def psi_specs(draw):
    return {
        "bins": draw(st.sampled_from([5, 10, 20])),
        "width": draw(st.sampled_from([30000.0, 60000.0, 120000.0])),
        "ref": draw(st.sampled_from([1995, 1996])),
        "eps": draw(st.sampled_from([0.5, 1.0])),
    }


def _psi_sql(spec) -> str:
    nb, w, ref, eps = spec["bins"], spec["width"], spec["ref"], spec["eps"]
    return f"""
    WITH b AS (
      SELECT year(CAST(o_orderdate AS TIMESTAMP)) AS yr,
             LEAST(CAST(FLOOR(o_totalprice / {w}) AS INT), {nb - 1}) AS bin
      FROM orders
    ),
    years AS (SELECT DISTINCT yr FROM b),
    bins AS (SELECT unnest(generate_series(0, {nb - 1})) AS bin),
    grid AS (SELECT y.yr, bn.bin FROM years y CROSS JOIN bins bn),
    cnts AS (SELECT yr, bin, COUNT(*) AS c FROM b GROUP BY yr, bin),
    g AS (
      SELECT grid.yr, grid.bin, COALESCE(c.c, 0) AS c
      FROM grid LEFT JOIN cnts c ON c.yr = grid.yr AND c.bin = grid.bin
    ),
    tot AS (SELECT yr, CAST(SUM(c) AS BIGINT) AS n FROM g GROUP BY yr),
    prop AS (
      SELECT g.yr, g.bin, (g.c + {eps}) / (t.n + {nb} * {eps}) AS p, t.n
      FROM g JOIN tot t ON t.yr = g.yr
    ),
    ref AS (SELECT bin, p FROM prop WHERE yr = {ref}),
    cur AS (SELECT * FROM prop WHERE yr > {ref})
    SELECT cur.yr AS year, cur.n AS n_rows,
           ROUND(SUM((cur.p - ref.p) * ln(cur.p / ref.p)), 6) AS psi
    FROM cur JOIN ref ON ref.bin = cur.bin
    GROUP BY cur.yr, cur.n
    """


def _psi_df(spark, spec):
    nb, w, ref, eps = spec["bins"], spec["width"], spec["ref"], spec["eps"]
    o = load_table(spark, SF_DIR, "orders")
    b = o.select(
        F.year("o_orderdate").alias("yr"),
        F.least(
            F.floor(F.col("o_totalprice") / w).cast("int"), F.lit(nb - 1)
        ).alias("bin"),
    )
    years = b.select("yr").distinct()
    bins = spark.range(nb).select(F.col("id").cast("int").alias("bin"))
    grid = years.crossJoin(F.broadcast(bins))
    cnts = b.groupBy("yr", "bin").agg(F.count(F.lit(1)).alias("c"))
    g = grid.join(cnts, ["yr", "bin"], "left").select(
        "yr", "bin", F.coalesce(F.col("c"), F.lit(0)).alias("c")
    )
    tot = g.groupBy("yr").agg(F.sum("c").cast("long").alias("n"))
    prop = g.join(tot, "yr").select(
        "yr", "bin", ((F.col("c") + eps) / (F.col("n") + nb * eps)).alias("p"), "n"
    )
    refp = prop.filter(F.col("yr") == ref).select("bin", F.col("p").alias("p_ref"))
    cur = prop.filter(F.col("yr") > ref)
    return (
        cur.join(F.broadcast(refp), "bin")
        .groupBy(F.col("yr").alias("year"), F.col("n").alias("n_rows"))
        .agg(
            F.round(
                F.sum((F.col("p") - F.col("p_ref")) * F.log(F.col("p") / F.col("p_ref"))),
                6,
            ).alias("psi")
        )
    )


@settings(
    max_examples=20,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=psi_specs())
def test_random_psi_matches_duckdb(spark, duck, spec):
    """PSI binning fuzz (r9 dq_drift_psi family): randomized bin
    count / width / reference year / smoothing must agree on the
    grid-completed counts and the final PSI terms."""
    spark_pdf = _psi_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_psi_sql(spec)).df()
    r = compare("fuzz_psi", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nnotes={r['notes']}"


# ---- DiD / event-study grammar (r9 evt_did_event_study family) --------------
#
# The 2x2-and-dynamic DiD arithmetic under randomized cutover, bucket
# width, and treatment stride: cell means/variances from one aggregate,
# pre-period baseline re-centering, pooled SE — integer counts plus a
# handful of final float terms.


@st.composite
def did_specs(draw):
    return {
        "cut": draw(st.sampled_from(["2024-01-10", "2024-01-15", "2024-01-20"])),
        "wdays": draw(st.sampled_from([5, 7, 10])),
        "tmod": draw(st.sampled_from([2, 3])),
    }


def _did_fuzz_sql(spec) -> str:
    cut, wd, tm = spec["cut"], spec["wdays"], spec["tmod"]
    return f"""
    WITH cells AS (
      SELECT CAST(FLOOR(date_diff('day', DATE '{cut}',
                                  CAST(CAST(ts AS TIMESTAMP) AS DATE)) / {wd}.0)
                  AS INT) AS rel_w,
             CAST(user_id % {tm} = 0 AS INT) AS treated,
             COUNT(*) AS n, AVG(value) AS mu, var_samp(value) AS v
      FROM events GROUP BY 1, 2
    ),
    wide AS (
      SELECT rel_w,
             MAX(CASE WHEN treated = 1 THEN mu END) AS t_mu,
             MAX(CASE WHEN treated = 0 THEN mu END) AS c_mu,
             SUM(v / n) AS var_sum
      FROM cells GROUP BY rel_w
    ),
    base AS (SELECT AVG(t_mu - c_mu) AS pre_gap FROM wide WHERE rel_w < 0)
    SELECT w.rel_w,
           ROUND(w.t_mu - w.c_mu, 6) AS gap,
           ROUND((w.t_mu - w.c_mu) - b.pre_gap, 6) AS effect,
           ROUND(sqrt(w.var_sum), 6) AS se
    FROM wide w CROSS JOIN base b
    WHERE w.t_mu IS NOT NULL AND w.c_mu IS NOT NULL
    """


def _did_fuzz_df(spark, spec):
    cut, wd, tm = spec["cut"], spec["wdays"], spec["tmod"]
    ev = load_table(spark, SF_DIR, "events")
    cells = ev.groupBy(
        F.floor(
            F.datediff(F.to_date("ts"), F.lit(cut).cast("date")) / float(wd)
        ).cast("int").alias("rel_w"),
        (F.col("user_id") % tm == 0).cast("int").alias("treated"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("mu"),
        F.var_samp("value").alias("v"),
    )
    wide = cells.groupBy("rel_w").agg(
        F.max(F.when(F.col("treated") == 1, F.col("mu"))).alias("t_mu"),
        F.max(F.when(F.col("treated") == 0, F.col("mu"))).alias("c_mu"),
        F.sum(F.col("v") / F.col("n")).alias("var_sum"),
    )
    base = wide.filter(F.col("rel_w") < 0).agg(
        F.avg(F.col("t_mu") - F.col("c_mu")).alias("pre_gap")
    )
    gap = F.col("t_mu") - F.col("c_mu")
    return (
        wide.crossJoin(F.broadcast(base))
        .filter(F.col("t_mu").isNotNull() & F.col("c_mu").isNotNull())
        .select(
            "rel_w",
            F.round(gap, 6).alias("gap"),
            F.round(gap - F.col("pre_gap"), 6).alias("effect"),
            F.round(F.sqrt("var_sum"), 6).alias("se"),
        )
    )


@settings(
    max_examples=18,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=did_specs())
def test_random_did_event_study_matches_duckdb(spark, duck, spec):
    """DiD event-study fuzz (r9 evt_did_event_study family): randomized
    cutover / bucket width / treatment stride must agree on cell
    means, baseline re-centering, and pooled SEs."""
    spark_pdf = _did_fuzz_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_did_fuzz_sql(spec)).df()
    r = compare("fuzz_did_event_study", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nnotes={r['notes']}"


# ---- graph-audit grammar (r9 graph_modularity / clustering family) ----------
#
# Modularity of a randomized partition axis over the trade graph, and
# degree/within-edge counting under a randomized edge filter: exact
# integer counting up to the final Q terms, so a labeling or grid bug
# flips integers.


@st.composite
def graphaudit_specs(draw):
    return {
        "axis": draw(st.sampled_from(["nation", "mktseg", "mod5"])),
        "minsupp": draw(st.sampled_from([0, 2])),
    }


def _ga_comm_sql(spec) -> tuple:
    if spec["axis"] == "nation":
        return "c.c_nationkey", "s.s_nationkey"
    if spec["axis"] == "mktseg":
        # suppliers carry no segment; hash them into the 5 segments' ids
        return (
            "CAST(('0x' || substr(md5(c.c_mktsegment), 1, 2)) AS INTEGER) % 5",
            "CAST(s.s_suppkey % 5 AS INTEGER)",
        )
    return "CAST(c.c_custkey % 5 AS INTEGER)", "CAST(s.s_suppkey % 5 AS INTEGER)"


def _graphaudit_sql(spec) -> str:
    cexp, sexp = _ga_comm_sql(spec)
    supp = (
        f"GROUP BY o.o_custkey, l.l_suppkey HAVING COUNT(*) >= {spec['minsupp']}"
        if spec["minsupp"]
        else "GROUP BY o.o_custkey, l.l_suppkey"
    )
    return f"""
    WITH pairs AS (
      SELECT o.o_custkey AS cust, l.l_suppkey AS supp
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      {supp}
    ),
    comm AS (
      SELECT p.cust, p.supp, {cexp} AS c_comm, {sexp} AS s_comm
      FROM pairs p
      JOIN customer c ON c.c_custkey = p.cust
      JOIN supplier s ON s.s_suppkey = p.supp
    ),
    m AS (SELECT COUNT(*) AS m FROM comm),
    within AS (
      SELECT c_comm AS comm, COUNT(*) AS e_within
      FROM comm WHERE c_comm = s_comm GROUP BY c_comm
    ),
    deg AS (
      SELECT comm, CAST(SUM(d) AS BIGINT) AS deg_total FROM (
        SELECT c_comm AS comm, COUNT(*) AS d FROM comm GROUP BY c_comm
        UNION ALL
        SELECT s_comm AS comm, COUNT(*) AS d FROM comm GROUP BY s_comm
      ) u GROUP BY comm
    )
    SELECT d.comm, CAST(COALESCE(w.e_within, 0) AS BIGINT) AS e_within,
           d.deg_total,
           ROUND(COALESCE(w.e_within, 0) * 1.0 / m.m
                 - (d.deg_total * 1.0 / (2 * m.m)) ^ 2, 6) AS q_contrib
    FROM deg d LEFT JOIN within w ON w.comm = d.comm CROSS JOIN m
    """


def _graphaudit_df(spark, spec):
    orders = load_table(spark, SF_DIR, "orders")
    li = load_table(spark, SF_DIR, "lineitem")
    base = orders.join(li, F.col("l_orderkey") == F.col("o_orderkey")).groupBy(
        F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp")
    ).agg(F.count(F.lit(1)).alias("npair"))
    pairs = (
        base.filter(F.col("npair") >= spec["minsupp"]) if spec["minsupp"] else base
    ).select("cust", "supp")
    cust = load_table(spark, SF_DIR, "customer")
    supp = load_table(spark, SF_DIR, "supplier")
    if spec["axis"] == "nation":
        c_comm = F.col("c_nationkey")
        s_comm = F.col("s_nationkey")
    elif spec["axis"] == "mktseg":
        c_comm = (
            F.conv(F.substring(F.md5("c_mktsegment"), 1, 2), 16, 10).cast("int") % 5
        )
        s_comm = (F.col("s_suppkey") % 5).cast("int")
    else:
        c_comm = (F.col("c_custkey") % 5).cast("int")
        s_comm = (F.col("s_suppkey") % 5).cast("int")
    comm = pairs.join(
        F.broadcast(cust.select(F.col("c_custkey").alias("cust"), c_comm.alias("c_comm"))),
        "cust",
    ).join(
        F.broadcast(supp.select(F.col("s_suppkey").alias("supp"), s_comm.alias("s_comm"))),
        "supp",
    )
    m = comm.agg(F.count(F.lit(1)).alias("m"))
    within = (
        comm.filter(F.col("c_comm") == F.col("s_comm"))
        .groupBy(F.col("c_comm").alias("comm"))
        .agg(F.count(F.lit(1)).alias("e_within"))
    )
    deg = (
        comm.groupBy(F.col("c_comm").alias("comm")).agg(F.count(F.lit(1)).alias("d"))
        .unionAll(
            comm.groupBy(F.col("s_comm").alias("comm")).agg(F.count(F.lit(1)).alias("d"))
        )
        .groupBy("comm")
        .agg(F.sum("d").cast("long").alias("deg_total"))
    )
    e_w = F.coalesce(F.col("e_within"), F.lit(0))
    return (
        deg.join(within, "comm", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "comm",
            e_w.cast("long").alias("e_within"),
            "deg_total",
            F.round(
                e_w / F.col("m") - F.pow(F.col("deg_total") / (2 * F.col("m")), 2), 6
            ).alias("q_contrib"),
        )
    )


@settings(
    max_examples=12,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=graphaudit_specs())
def test_random_graph_modularity_matches_duckdb(spark, duck, spec):
    """Graph-audit fuzz (r9 graph_modularity family): randomized
    community axis and edge-support filter must agree on within-edge /
    degree counts and the Q contributions."""
    spark_pdf = _graphaudit_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_graphaudit_sql(spec)).df()
    r = compare("fuzz_graph_modularity", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nnotes={r['notes']}"


# ---- forecast-backtest grammar (r9 evt_forecast_backtest family) ------------
#
# The rolling-origin error ledger under randomized seasonal lag and
# scoring region: LAG predictors, strict-prior origins, MAE/MAPE.


@st.composite
def backtest_specs(draw):
    return {
        "slag": draw(st.sampled_from([3, 7, 10])),
        "minrn": draw(st.sampled_from([9, 12, 15])),
    }


def _bt_fuzz_sql(spec) -> str:
    sl, mr = spec["slag"], spec["minrn"]
    return f"""
    WITH s AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             ROUND(SUM(value), 6) AS rev,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS rn
      FROM events GROUP BY event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE)
    ),
    p AS (
      SELECT event_type, rn, rev,
             LAG(rev, 1) OVER w AS p_naive,
             LAG(rev, {sl}) OVER w AS p_snaive
      FROM s WINDOW w AS (PARTITION BY event_type ORDER BY rn)
    ),
    u AS (
      SELECT event_type, rn, rev, 'naive' AS method, p_naive AS pred FROM p
      UNION ALL
      SELECT event_type, rn, rev, 'snaive', p_snaive FROM p
    )
    SELECT event_type, method, CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(AVG(ABS(rev - pred)), 6) AS mae,
           ROUND(AVG(ABS(rev - pred) / NULLIF(ABS(rev), 0)), 6) AS mape
    FROM u WHERE rn >= {mr}
    GROUP BY event_type, method
    """


def _bt_fuzz_df(spark, spec):
    from pyspark.sql import Window

    sl, mr = spec["slag"], spec["minrn"]
    ev = load_table(spark, SF_DIR, "events")
    s = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value"), 6).alias("rev")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    p = s.select(
        "event_type",
        F.row_number().over(w).alias("rn"),
        "rev",
        F.lag("rev", 1).over(w).alias("p_naive"),
        F.lag("rev", sl).over(w).alias("p_snaive"),
    )
    u = p.selectExpr(
        "event_type", "rn", "rev",
        "stack(2, 'naive', p_naive, 'snaive', p_snaive) AS (method, pred)",
    )
    err = F.abs(F.col("rev") - F.col("pred"))
    return (
        u.filter(F.col("rn") >= mr)
        .groupBy("event_type", "method")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.round(F.avg(err), 6).alias("mae"),
            F.round(F.avg(err / F.nullif(F.abs(F.col("rev")), F.lit(0))), 6).alias(
                "mape"
            ),
        )
    )


@settings(
    max_examples=15,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=backtest_specs())
def test_random_forecast_backtest_matches_duckdb(spark, duck, spec):
    """Forecast-backtest fuzz (r9 evt_forecast_backtest family):
    randomized seasonal lag and scoring region must agree on the
    strict-prior error ledger."""
    spark_pdf = _bt_fuzz_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_bt_fuzz_sql(spec)).df()
    r = compare("fuzz_forecast_backtest", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nnotes={r['notes']}"


# ---- power-iteration grammar (r9 llm_pca_power_iter family) ------------------
#
# The distributed power-method fold under randomized iteration depth,
# start vector, dimensionality slice, and corpus subset: per iteration
# av = <emb, v> against the broadcast iterate, t[pos] = SUM(emb[pos]*av),
# v <- ROUND(t/||t||, 6). The 6dp re-round each iteration is the
# cross-engine contract the fixed-fixture oracle can only probe at one
# (dim, iters, v0) point — this randomizes all of them, including a
# sign-alternating start the PSD Gram operator must still contract.


@st.composite
def pca_specs(draw):
    return {
        "dim": draw(st.sampled_from([16, 64])),
        "iters": draw(st.integers(1, 3)),
        "mod": draw(st.sampled_from([1, 2])),
        # Expressions valid as a lambda body over integer i in BOTH
        # engines; only binary-exact constants and double division.
        "v0": draw(
            st.sampled_from(
                [
                    "0.125",
                    "CAST(i AS DOUBLE) / 64",
                    "CASE WHEN i % 2 = 0 THEN 0.125 ELSE -0.125 END",
                ]
            )
        ),
    }


def _pca_fuzz_sql(spec) -> str:
    d, iters, mod, v0 = spec["dim"], spec["iters"], spec["mod"], spec["v0"]
    ctes = [
        f"e AS (SELECT vec_id, list_transform(embedding[1:{d}],"
        f" x -> CAST(x AS DOUBLE)) AS emb FROM embeddings"
        f" WHERE vec_id % {mod} = 0)",
        f"v0 AS (SELECT list_transform(generate_series(1, {d}),"
        f" i -> CAST({v0} AS DOUBLE)) AS v)",
        f"pos AS (SELECT unnest(generate_series(1, {d})) AS pos)",
    ]
    for k in range(1, iters + 1):
        ctes.append(
            f"av{k} AS (SELECT e.vec_id, e.emb,"
            f" list_dot_product(e.emb, (SELECT v FROM v{k - 1})) AS av FROM e)"
        )
        ctes.append(
            f"t{k} AS (SELECT p.pos, SUM(a.emb[p.pos] * a.av) AS t"
            f" FROM av{k} a CROSS JOIN pos p GROUP BY p.pos)"
        )
        ctes.append(f"n{k} AS (SELECT sqrt(SUM(t * t)) AS nrm FROM t{k})")
        ctes.append(
            f"v{k} AS (SELECT list(ROUND(t.t / n.nrm, 6) ORDER BY t.pos) AS v"
            f" FROM t{k} t CROSS JOIN n{k} n)"
        )
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT p.pos,
           ROUND((SELECT v FROM v{iters})[p.pos], 6) AS component,
           ROUND((SELECT nrm FROM n{iters}), 4) AS eigval
    FROM pos p
    ORDER BY p.pos
    """


_PCA_FUZZ_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, w) -> acc + w)"
)


def _pca_fuzz_df(spark, spec):
    d, iters, mod, v0 = spec["dim"], spec["iters"], spec["mod"], spec["v0"]
    e = (
        load_table(spark, SF_DIR, "embeddings")
        .filter(F.col("vec_id") % mod == 0)
        .select(
            "vec_id",
            F.expr(
                f"transform(slice(embedding, 1, {d}), x -> CAST(x AS DOUBLE))"
            ).alias("emb"),
        )
    )
    v = spark.range(1).select(
        F.expr(f"transform(sequence(1, {d}), i -> CAST({v0} AS DOUBLE))").alias(
            "v"
        )
    )
    nrm = None
    for _ in range(iters):
        av = e.crossJoin(F.broadcast(v)).select(
            "emb", F.expr(_PCA_FUZZ_DOT.format(a="emb", b="v")).alias("av")
        )
        t = (
            av.select(F.posexplode("emb").alias("pos0", "x"), "av")
            .groupBy((F.col("pos0") + 1).alias("pos"))
            .agg(F.sum(F.col("x") * F.col("av")).alias("t"))
        )
        nrm = t.agg(F.sqrt(F.sum(F.col("t") * F.col("t"))).alias("nrm"))
        v = (
            t.crossJoin(F.broadcast(nrm))
            .select("pos", F.round(F.col("t") / F.col("nrm"), 6).alias("c"))
            .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
            .select(F.expr("transform(pc, x -> x.c)").alias("v"))
        )
    final = (
        spark.range(1, d + 1)
        .select(F.col("id").cast("int").alias("pos"))
        .crossJoin(F.broadcast(v))
        .crossJoin(F.broadcast(nrm))
    )
    return final.select(
        "pos",
        F.round(F.expr("element_at(v, pos)"), 6).alias("component"),
        F.round("nrm", 4).alias("eigval"),
    ).orderBy("pos")


@settings(
    max_examples=12,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=pca_specs())
def test_random_power_iter_matches_duckdb(spark, duck, spec):
    """Power-iteration fuzz (r9 llm_pca_power_iter family): the
    broadcast-iterate fold and the chained-CTE unroll must track
    identical 6dp-rounded iterates for any depth/start/slice/subset."""
    spark_pdf = _pca_fuzz_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_pca_fuzz_sql(spec)).df()
    r = compare("fuzz_power_iter", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nnotes={r['notes']}"


# ---- PQ asymmetric-distance grammar (r9 llm_ann_ivfpq family) ----------------
#
# The ADC arithmetic under randomized subspace count, codebook size,
# probe panel, and shortlist depth: subvector slicing, per-(m, cluster)
# element-wise mean centroids (seeded assignment — training loops are
# the operators' job, the ARITHMETIC is the fuzz target), 6dp-rounded
# per-subspace partial distances, the (m, cluster)-keyed ADC sum, and
# the (adc_dist, neighbor_id) rank tie-break.


@st.composite
def adc_specs(draw):
    return {
        "m": draw(st.sampled_from([4, 8])),   # subspaces (width = 64/m)
        "c": draw(st.sampled_from([8, 16])),  # codebook size
        "pmod": draw(st.sampled_from([25, 50])),
        "k": draw(st.sampled_from([5, 10])),
    }


def _adc_fuzz_sql(spec) -> str:
    m, c, pmod, k = spec["m"], spec["c"], spec["pmod"], spec["k"]
    w = 64 // m
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    subs AS (
      SELECT vec_id, m.m, emb[m.m * {w} + 1 : (m.m + 1) * {w}] AS sub
      FROM e CROSS JOIN (SELECT unnest(generate_series(0, {m - 1})) AS m) m
    ),
    seeded AS (SELECT vec_id, m, vec_id % {c} AS cluster, sub FROM subs),
    cent AS (
      SELECT m, cluster, list(comp_avg ORDER BY pos) AS centroid FROM (
        SELECT m, cluster, pos, AVG(comp) AS comp_avg FROM (
          SELECT m, cluster, generate_subscripts(sub, 1) AS pos,
                 unnest(sub) AS comp
          FROM seeded
        ) x GROUP BY m, cluster, pos
      ) p GROUP BY m, cluster
    ),
    psubs AS (
      SELECT vec_id AS probe_id, m, sub FROM subs WHERE vec_id % {pmod} = 0
    ),
    partials AS (
      SELECT p.probe_id, ct.m, ct.cluster,
             ROUND(list_sum(list_transform(
                      generate_series(1, len(ct.centroid)),
                      i -> (p.sub[i] - ct.centroid[i]) ^ 2)), 6) AS pd
      FROM psubs p JOIN cent ct ON ct.m = p.m
    ),
    adc AS (
      SELECT pt.probe_id, s.vec_id AS neighbor_id, ROUND(SUM(pt.pd), 6) AS adc_dist
      FROM seeded s JOIN partials pt ON pt.m = s.m AND pt.cluster = s.cluster
      WHERE s.vec_id <> pt.probe_id
      GROUP BY 1, 2
    )
    SELECT probe_id, neighbor_id, adc_dist, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                   ORDER BY adc_dist, neighbor_id) AS rnk
      FROM adc
    ) t WHERE rnk <= {k}
    """


def _adc_fuzz_df(spark, spec):
    from pyspark.sql import Window

    m, c, pmod, k = spec["m"], spec["c"], spec["pmod"], spec["k"]
    w = 64 // m
    e = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb"),
    )
    subs = e.select(
        "vec_id", F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("m"), "emb"
    ).select("vec_id", "m", F.expr(f"slice(emb, m * {w} + 1, {w})").alias("sub"))
    seeded = subs.select("vec_id", "m", (F.col("vec_id") % c).alias("cluster"), "sub")
    cent = (
        seeded.select("m", "cluster", F.posexplode("sub").alias("pos0", "comp"))
        .groupBy("m", "cluster", (F.col("pos0") + 1).alias("pos"))
        .agg(F.avg("comp").alias("comp_avg"))
        .groupBy("m", "cluster")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "comp_avg"))).alias("pc"))
        .select("m", "cluster", F.expr("transform(pc, x -> x.comp_avg)").alias("centroid"))
    )
    psubs = subs.filter(F.col("vec_id") % pmod == 0).select(
        F.col("vec_id").alias("probe_id"), F.col("m").alias("pm"), "sub"
    )
    pd_col = F.round(
        F.expr(
            "aggregate(zip_with(sub, centroid, (x, y) -> (x - y) * (x - y)), "
            "0D, (acc, z) -> acc + z)"
        ),
        6,
    )
    partials = psubs.join(F.broadcast(cent), F.col("pm") == F.col("m")).select(
        "probe_id", "m", "cluster", pd_col.alias("pd")
    )
    cand = seeded.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("m").alias("cm"),
        F.col("cluster").alias("cc"),
    )
    adc = (
        cand.join(
            partials,
            (F.col("cm") == F.col("m")) & (F.col("cc") == F.col("cluster")),
        )
        .filter(F.col("neighbor_id") != F.col("probe_id"))
        .groupBy("probe_id", "neighbor_id")
        .agg(F.round(F.sum("pd"), 6).alias("adc_dist"))
    )
    w_rank = Window.partitionBy("probe_id").orderBy("adc_dist", "neighbor_id")
    return (
        adc.select("*", F.row_number().over(w_rank).alias("rnk"))
        .filter(F.col("rnk") <= k)
        .select("probe_id", "neighbor_id", "adc_dist", "rnk")
    )


@settings(
    max_examples=12,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=adc_specs())
def test_random_pq_adc_matches_duckdb(spark, duck, spec):
    """PQ asymmetric-distance fuzz (r9 llm_ann_ivfpq family): subvector
    slicing, seeded codebook means, rounded partial distances, the
    (m, cluster)-keyed ADC sum, and the shortlist rank must agree for
    any (M, K, probe panel, k)."""
    spark_pdf = _adc_fuzz_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_adc_fuzz_sql(spec)).df()
    r = compare("fuzz_pq_adc", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nnotes={r['notes']}"


# ---- lag-correlation grammar (r10 evt_ccf / evt_granger family) --------------
#
# Pearson correlation over lag-joined daily series under randomized
# series pair, lag range, and aggregation: the arithmetic both the CCF
# scan and the Granger moment sums lean on — shifted equi-join pairing
# plus co-moment reduction, 6dp-rounded.


@st.composite
def lagcorr_specs(draw):
    pair = draw(
        st.sampled_from(
            [("view", "purchase"), ("click", "signup"), ("view", "error")]
        )
    )
    return {
        "x": pair[0],
        "y": pair[1],
        "maxlag": draw(st.sampled_from([3, 7])),
        "stat": draw(st.sampled_from(["rev", "cnt"])),
    }


def _lagcorr_sql(spec) -> str:
    agg = (
        "ROUND(SUM(value), 6)"
        if spec["stat"] == "rev"
        else "CAST(COUNT(*) AS DOUBLE)"
    )
    return f"""
    WITH s AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             {agg} AS v
      FROM events WHERE event_type IN ('{spec["x"]}', '{spec["y"]}')
      GROUP BY event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE)
    ),
    x AS (SELECT day, v FROM s WHERE event_type = '{spec["x"]}'),
    y AS (SELECT day, v FROM s WHERE event_type = '{spec["y"]}'),
    lags AS (SELECT unnest(range(-{spec["maxlag"]}, {spec["maxlag"] + 1})) AS lag)
    SELECT CAST(l.lag AS INT) AS lag,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(corr(x.v, y.v), 6) AS ccf
    FROM lags l CROSS JOIN x
    JOIN y ON y.day = x.day + CAST(l.lag AS INT)
    GROUP BY l.lag
    """


def _lagcorr_df(spark, spec):
    ev = load_table(spark, SF_DIR, "events")
    agg = (
        F.round(F.sum("value"), 6)
        if spec["stat"] == "rev"
        else F.count(F.lit(1)).cast("double")
    )
    s = (
        ev.filter(F.col("event_type").isin(spec["x"], spec["y"]))
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(agg.alias("v"))
    )
    x = s.filter(F.col("event_type") == spec["x"]).select(
        F.col("day").alias("xday"), F.col("v").alias("xv")
    )
    y = s.filter(F.col("event_type") == spec["y"]).select(
        F.col("day").alias("yday"), F.col("v").alias("yv")
    )
    lags = spark.range(-spec["maxlag"], spec["maxlag"] + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    return (
        x.crossJoin(F.broadcast(lags))
        .join(y, F.col("yday") == F.date_add(F.col("xday"), F.col("lag")))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.round(F.corr("xv", "yv"), 6).alias("ccf"),
        )
    )


@settings(
    max_examples=12,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=lagcorr_specs())
def test_random_lag_corr_matches_duckdb(spark, duck, spec):
    """Lag-correlation fuzz (r10 evt_ccf/evt_granger family): shifted
    equi-join pairing + co-moment correlation must agree for any series
    pair, lag range, and daily statistic."""
    spark_pdf = _lagcorr_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_lagcorr_sql(spec)).df()
    r = compare("fuzz_lag_corr", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nnotes={r['notes']}"


# ---- bipartite score-fold grammar (r10 graph_hits family) --------------------
#
# The HITS half-step fold under randomized iteration depth and edge
# derivation: score = SUM over the joined side, L2-normalize, ROUND 6dp,
# alternate sides. The bipartite cousin of the power-iteration grammar
# (same normalize-round contract, two frames instead of one).


@st.composite
def hits_specs(draw):
    return {
        "iters": draw(st.integers(1, 3)),
        # edge derivation: full trade pairs, or the order-count >= 2
        # support-filtered variant (changes the graph, not the fold)
        "minsupp": draw(st.sampled_from([1, 2])),
    }


def _hits_fuzz_sql(spec) -> str:
    supp = (
        ""
        if spec["minsupp"] == 1
        else "HAVING COUNT(DISTINCT o.o_orderkey) >= 2"
    )
    ctes = [
        f"""pairs AS (
          SELECT o.o_custkey AS cust, l.l_suppkey AS supp
          FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
          GROUP BY 1, 2 {supp}
        )""",
        "h0 AS (SELECT DISTINCT cust, CAST(1 AS DOUBLE) AS h FROM pairs)",
    ]
    for k in range(1, spec["iters"] + 1):
        ctes.append(
            f"a{k}r AS (SELECT p.supp, SUM(h.h) AS a FROM pairs p"
            f" JOIN h{k - 1} h ON h.cust = p.cust GROUP BY p.supp)"
        )
        ctes.append(f"a{k}n AS (SELECT sqrt(SUM(a * a)) AS nrm FROM a{k}r)")
        ctes.append(
            f"a{k} AS (SELECT supp, ROUND(a / (SELECT nrm FROM a{k}n), 6) AS a"
            f" FROM a{k}r)"
        )
        ctes.append(
            f"h{k}r AS (SELECT p.cust, SUM(a.a) AS h FROM pairs p"
            f" JOIN a{k} a ON a.supp = p.supp GROUP BY p.cust)"
        )
        ctes.append(f"h{k}n AS (SELECT sqrt(SUM(h * h)) AS nrm FROM h{k}r)")
        ctes.append(
            f"h{k} AS (SELECT cust, ROUND(h / (SELECT nrm FROM h{k}n), 6) AS h"
            f" FROM h{k}r)"
        )
    last = spec["iters"]
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT supp AS node_id, a AS score FROM a{last}
    """


def _hits_fuzz_df(spark, spec):
    orders = load_table(spark, SF_DIR, "orders")
    li = load_table(spark, SF_DIR, "lineitem")
    g = (
        orders.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp")
        )
        .agg(F.countDistinct("o_orderkey").alias("ns"))
    )
    pairs = g.filter(F.col("ns") >= spec["minsupp"]).select("cust", "supp")
    h = pairs.select("cust").distinct().select("cust", F.lit(1.0).alias("h"))
    a = None
    for _ in range(spec["iters"]):
        ar = pairs.join(h, "cust").groupBy("supp").agg(F.sum("h").alias("a"))
        an = ar.agg(F.sqrt(F.sum(F.col("a") * F.col("a"))).alias("nrm"))
        a = ar.crossJoin(F.broadcast(an)).select(
            "supp", F.round(F.col("a") / F.col("nrm"), 6).alias("a")
        )
        hr = pairs.join(a, "supp").groupBy("cust").agg(F.sum("a").alias("h"))
        hn = hr.agg(F.sqrt(F.sum(F.col("h") * F.col("h"))).alias("nrm"))
        h = hr.crossJoin(F.broadcast(hn)).select(
            "cust", F.round(F.col("h") / F.col("nrm"), 6).alias("h")
        )
    return a.select(F.col("supp").alias("node_id"), F.col("a").alias("score"))


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=hits_specs())
def test_random_hits_fold_matches_duckdb(spark, duck, spec):
    """Bipartite score-fold fuzz (r10 graph_hits family): the
    alternate-side SUM / L2-normalize / 6dp-round fold must track the
    chained-CTE unroll for any depth and edge support filter."""
    spark_pdf = _hits_fuzz_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_hits_fuzz_sql(spec)).df()
    r = compare("fuzz_hits_fold", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nnotes={r['notes']}"


# ---- banded-Hamming grammar (r10 llm_simhash_hamming family) ------------------
#
# The Manku banded index under randomized band geometry and verify
# radius: 48-bit fingerprints (the shared simhash derivation, inlined)
# band-split B ways, candidates from the (band, value) equi-self-join,
# verified by integer bit_count(xor) <= r. Exercises shift/mask/xor/
# popcount parity at geometries the fixed-constant operator never runs.


@st.composite
def hamming_specs(draw):
    return {
        "bands": draw(st.sampled_from([3, 4, 6])),  # 48 % bands == 0
        "radius": draw(st.sampled_from([2, 3])),
        "bits": 48,
    }


def _hamming_sql(spec) -> str:
    bb = spec["bits"] // spec["bands"]
    mask = (1 << bb) - 1
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
      FROM documents
    ),
    tok_hash AS (
      SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 12)) AS BIGINT) AS h
      FROM tok
    ),
    bits AS (
      SELECT doc_id, b.bit,
             SUM(CASE WHEN (h // (CAST(1 AS BIGINT) << b.bit)) % 2 = 1
                      THEN 1 ELSE -1 END) AS score
      FROM tok_hash
      CROSS JOIN (SELECT unnest(range(0, {spec["bits"]})) AS bit) b
      GROUP BY doc_id, b.bit
    ),
    sim AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN score > 0 THEN (CAST(1 AS BIGINT) << bit)
                           ELSE 0 END) AS BIGINT) AS f
      FROM bits GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, f, b.band, (f >> (b.band * {bb})) & {mask} AS bval
      FROM sim CROSS JOIN (SELECT unnest(range(0, {spec["bands"]})) AS band) b
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.f AS fa, b.f AS fb
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(fa, fb)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(fa, fb)) <= {spec["radius"]}
    """


def _hamming_df(spark, spec):
    from hive_test_spark.llm.dedup import _simhash_frame

    bb = spec["bits"] // spec["bands"]
    mask = (1 << bb) - 1
    sim = _simhash_frame(spark, SF_DIR)
    bands = sim.select(
        "doc_id",
        F.col("simhash").alias("f"),
        F.explode(F.sequence(F.lit(0), F.lit(spec["bands"] - 1))).alias("band"),
    ).select(
        "doc_id",
        "f",
        "band",
        F.expr(f"shiftright(f, band * {bb}) & {mask}").alias("bval"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.f").alias("fa"),
            F.col("b.f").alias("fb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.expr("fa ^ fb"))
    return cand.filter(ham <= spec["radius"]).select(
        "doc_a", "doc_b", ham.cast("int").alias("hamming")
    )


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=hamming_specs())
def test_random_banded_hamming_matches_duckdb(spark, duck, spec):
    """Banded-Hamming fuzz (r10 llm_simhash_hamming family): band
    split, bucket self-join, and popcount verify must agree for any
    band geometry and radius."""
    spark_pdf = _hamming_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_hamming_sql(spec)).df()
    r = compare("fuzz_banded_hamming", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nnotes={r['notes']}"


# ---- tied-rank grammar (r10 evt_kruskal_wallis / mann-whitney family) --------
#
# The distinct-value midrank machinery under randomized value
# transforms (tie densities) and group subsets: midranks from the
# prefix sum over the value dimension, per-group rank sums, and the
# tie-corrected H reduction.


@st.composite
def rank_specs(draw):
    return {
        "expr": draw(st.sampled_from(["value", "round(value)", "round(value / 10)"])),
        "types": draw(
            st.sampled_from(
                [
                    ("view", "purchase", "click"),
                    ("view", "purchase", "click", "signup", "error"),
                ]
            )
        ),
    }


def _rank_sql(spec) -> str:
    types = ", ".join(f"'{t}'" for t in spec["types"])
    return f"""
    WITH ev AS (
      SELECT event_type, {spec["expr"]} AS v FROM events
      WHERE event_type IN ({types}) AND value IS NOT NULL
    ),
    per_v AS (SELECT v, COUNT(*) AS tie FROM ev GROUP BY v),
    ranked AS (
      SELECT v, tie,
             COALESCE(SUM(tie) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (tie + 1) / 2.0 AS avg_rank
      FROM per_v
    ),
    per_vt AS (SELECT v, event_type, COUNT(*) AS c FROM ev GROUP BY 1, 2)
    SELECT t.event_type,
           CAST(SUM(t.c) AS BIGINT) AS n,
           ROUND(SUM(t.c * r.avg_rank), 6) AS rank_sum
    FROM per_vt t JOIN ranked r ON r.v = t.v
    GROUP BY t.event_type
    """


def _rank_df(spark, spec):
    from pyspark.sql import Window

    # value IS NOT NULL pinned in BOTH engines (ADVICE r10): Spark's
    # rank window sorts NULLS FIRST, DuckDB's NULLS LAST — the grammar
    # pins the operators' null-hardened contract, not engine defaults.
    ev = (
        load_table(spark, SF_DIR, "events")
        .filter(F.col("event_type").isin(*spec["types"]))
        .filter(F.col("value").isNotNull())
        .select("event_type", F.expr(spec["expr"]).alias("v"))
    )
    per_v = ev.groupBy("v").agg(F.count(F.lit(1)).alias("tie"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_v.select(
        "v",
        (
            F.coalesce(F.sum("tie").over(w), F.lit(0))
            + (F.col("tie") + 1) / 2.0
        ).alias("avg_rank"),
    )
    per_vt = ev.groupBy(F.col("v").alias("tv"), "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        per_vt.join(ranked, F.col("v") == F.col("tv"))
        .groupBy("event_type")
        .agg(
            F.sum("c").cast("long").alias("n"),
            F.round(F.sum(F.col("c") * F.col("avg_rank")), 6).alias("rank_sum"),
        )
    )


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=rank_specs())
def test_random_tied_ranks_match_duckdb(spark, duck, spec):
    """Tied-rank fuzz (r10 evt_kruskal_wallis family): midranks over
    the distinct-value dimension and per-group rank sums must agree for
    any tie density and group subset."""
    spark_pdf = _rank_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_rank_sql(spec)).df()
    r = compare("fuzz_tied_ranks", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nnotes={r['notes']}"


# ---- RBO weight-fold grammar (r10 llm_rank_rbo family) -----------------------
#
# Rank-biased overlap between two (k1, b) scoring legs under randomized
# persistence, depth, and config pair: the per-common-doc closed-form
# weight w(max(ra, rb)) — recomputed per spec and injected into both
# engines as identical double literals — must reproduce the depth-sum
# definition for every geometry.


@st.composite
def rbo_specs(draw):
    cfgs = [(0.9, 0.4), (1.2, 0.75), (2.0, 0.9)]
    i = draw(st.sampled_from([0, 1]))
    j = draw(st.sampled_from([1, 2]))
    return {
        "p": draw(st.sampled_from([0.8, 0.9])),
        "k": draw(st.sampled_from([5, 10])),
        "ca": cfgs[i],
        "cb": cfgs[2 if i == j else j],
    }


def _rbo_weights(spec):
    p, k = spec["p"], spec["k"]
    return [
        (1.0 - p) * sum(p ** (d - 1) / d for d in range(m, k + 1))
        for m in range(1, k + 1)
    ]


def _rbo_fuzz_sql(spec) -> str:
    from hive_test_spark.llm.text import _DUCK_BM25_INDEX

    w_sql = ", ".join(f"CAST({w!r} AS DOUBLE)" for w in _rbo_weights(spec))

    def leg(name, k1, b):
        return f"""{name} AS (
          SELECT query_id, doc_id, rk FROM (
            SELECT query_id, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, doc_id) AS rk
            FROM (
              SELECT q.query_id, tf.doc_id,
                     ROUND(SUM(
                       ln((s.n_docs - d.dfreq + 0.5) / (d.dfreq + 0.5) + 1.0)
                       * tf.tf * ({k1} + 1.0)
                       / (tf.tf + {k1} * (1.0 - {b} + {b} * l.dl / s.avg_dl))
                     ), 6) AS score
              FROM queries q
              JOIN tf ON tf.token = q.token
              JOIN docfreq d ON d.token = q.token
              JOIN dlen l ON l.doc_id = tf.doc_id
              CROSS JOIN stats s
              GROUP BY q.query_id, tf.doc_id
            ) sc
          ) r WHERE rk <= {spec["k"]}
        )"""

    return f"""
    WITH {_DUCK_BM25_INDEX},
    {leg("ra", *spec["ca"])},
    {leg("rb", *spec["cb"])}
    SELECT a.query_id,
           CAST(COUNT(*) AS BIGINT) AS n_common,
           ROUND(SUM(([{w_sql}])[GREATEST(a.rk, b.rk)]), 6) AS rbo
    FROM ra a JOIN rb b ON b.query_id = a.query_id AND b.doc_id = a.doc_id
    GROUP BY a.query_id
    """


def _rbo_fuzz_df(spark, spec):
    from pyspark.sql import Window

    from hive_test_spark.llm.text import _bm25_index_frames, _bm25_score_frames

    frames = _bm25_index_frames(spark, SF_DIR)

    def ranked(cfg, rk_name):
        w = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), "doc_id"
        )
        return (
            _bm25_score_frames(*frames, k1=cfg[0], b=cfg[1])
            .select("query_id", "doc_id", F.row_number().over(w).alias(rk_name))
            .filter(F.col(rk_name) <= spec["k"])
        )

    w_sql = ", ".join(repr(w) + "D" for w in _rbo_weights(spec))
    warr = F.expr(f"array({w_sql})")
    return (
        ranked(spec["ca"], "ra")
        .join(ranked(spec["cb"], "rb"), ["query_id", "doc_id"])
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.round(
                F.sum(F.element_at(warr, F.greatest("ra", "rb").cast("int"))), 6
            ).alias("rbo"),
        )
    )


@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=rbo_specs())
def test_random_rbo_fold_matches_duckdb(spark, duck, spec):
    """RBO weight-fold fuzz (r10 llm_rank_rbo family): the closed-form
    per-common-doc weight must reproduce the depth-sum RBO for any
    persistence, depth, and config pair."""
    spark_pdf = _rbo_fuzz_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_rbo_fuzz_sql(spec)).df()
    r = compare("fuzz_rbo_fold", spark_pdf, duck_pdf)
    assert r["ok"], f"spec={spec}\nnotes={r['notes']}"

# ---- reduction-order grammar (r11, the round-10 driver-red disease) ----------
#
# Round 10 shipped the build's first driver-red rows: ROUND(SUM(double))
# reductions whose partition-merge order legally perturbs the rounded
# decimal (joins.py join_shuffle_hash, timeseries.py evt_granger). The
# sanctioned fix is the fn_decimal parity pattern — tie-free pre-round,
# EXACT decimal accumulation (products included, the granger moment
# shape), and decimal -> string -> double on the way out (the direct
# decimal->double casts disagree by 1 ulp across engines). This grammar
# pins that pattern: for random tables / groupings / scales the hardened
# reduction must be (a) BITWISE identical across deliberately different
# partition layouts with hash-scrambled input order, and (b) BITWISE
# equal to DuckDB's sequential evaluation — not merely 1e-9-close, which
# is exactly the `~ok` state the round-10 close-sweep wrongly counted as
# green.

_RED_TABLES = {
    "orders": ("o_totalprice", "o_orderpriority", "o_orderkey"),
    "lineitem": ("l_extendedprice", "l_returnflag", "l_orderkey"),
    "customer": ("c_acctbal", "c_mktsegment", "c_custkey"),
}


@st.composite
def reduction_specs(draw):
    return {
        "table": draw(st.sampled_from(sorted(_RED_TABLES))),
        "scale": draw(st.sampled_from([2, 6])),
        "parts": draw(st.sampled_from([(32, 17), (32, 5), (17, 64)])),
        "moment": draw(st.booleans()),  # include SUM(v_dec * v_dec)?
    }


def _reduction_duck_sql(spec) -> str:
    v, g, _ = _RED_TABLES[spec["table"]]
    s = spec["scale"]
    dec = f"CAST(round({v}, {s}) AS DECIMAL(18,{s}))"
    cols = [
        f"CAST(CAST(SUM({dec}) AS VARCHAR) AS DOUBLE) AS sum_v",
        "COUNT(*) AS n",
    ]
    if spec["moment"]:
        # (18,s) x (18,s) stays exact only on DuckDB's int128 path:
        # width >= 19 forces it (the evt_granger lesson — DECIMAL(18)
        # multiplies in int64 and overflows).
        dec19 = f"CAST(round({v}, {s}) AS DECIMAL(19,{s}))"
        cols.append(
            f"CAST(CAST(SUM({dec19} * {dec19}) AS VARCHAR) AS DOUBLE) AS sum_vv"
        )
    return (
        f"SELECT {g} AS grp, " + ", ".join(cols)
        + f" FROM {spec['table']} GROUP BY {g}"
    )


def _reduction_df(spark, spec, n_parts):
    v, g, key = _RED_TABLES[spec["table"]]
    s = spec["scale"]
    dec = F.round(v, s).cast(f"decimal(18,{s})")
    # Scramble the row order deterministically (hash of the key) then
    # force a different partitioning — a red reduction would surface as
    # a last-ulp wiggle between the two layouts.
    df = (
        load_table(spark, SF_DIR, spec["table"])
        .orderBy(F.hash(key))
        .repartition(n_parts)
    )
    aggs = [
        F.sum(dec).cast("string").cast("double").alias("sum_v"),
        F.count(F.lit(1)).alias("n"),
    ]
    if spec["moment"]:
        aggs.append(
            F.sum(dec * dec).cast("string").cast("double").alias("sum_vv")
        )
    return df.groupBy(F.col(g).alias("grp")).agg(*aggs)


@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=reduction_specs())
def test_random_reductions_are_layout_stable_and_bitwise(spark, duck, spec):
    """Reduction-order fuzz (r11): the decimal-exact rounded-reduction
    pattern must be bitwise-stable under permuted partition layouts and
    bitwise-equal to the oracle — float-tolerant-only agreement is the
    round-10 driver-red disease, not a pass."""
    k1, k2 = spec["parts"]
    a = _reduction_df(spark, spec, k1).toPandas()
    b = _reduction_df(spark, spec, k2).toPandas()
    r_layout = compare("fuzz_reduction_layout", a, b)
    assert r_layout["ok"] and r_layout["bitwise"], (
        f"layout instability spec={spec}\nnotes={r_layout['notes']}"
    )
    duck_pdf = duck.execute(_reduction_duck_sql(spec)).df()
    r = compare("fuzz_reduction_oracle", a, duck_pdf)
    assert r["ok"] and r["bitwise"], (
        f"cross-engine drift spec={spec}\nnotes={r['notes']}"
    )

# ---- pair-census grammar (r11 evt_kendall_tau family) ------------------------
#
# Concordant/discordant pair censuses over the calendar-bounded day
# frame under randomized series pairs and day predicates: the counts
# are INTEGERS, so any cross-engine divergence is a logic bug (join
# bounds, tie classification), never float noise — assert bitwise.


@st.composite
def pair_census_specs(draw):
    pairs = [("view", "purchase"), ("view", "click"), ("purchase", "signup")]
    return {
        "pair": draw(st.sampled_from(pairs)),
        "dow": draw(st.sampled_from([None, (2, 6), (1, 4)])),
        "metric": draw(st.sampled_from(["SUM_DEC", "COUNT"])),
    }


# The SUM metric accumulates through the decimal-exact pattern
# (tie-free 6dp pre-round -> DECIMAL cast -> exact SUM -> string ->
# double), NOT ROUND(SUM(double),6) — a daily double-sum landing on a
# 6dp rounding boundary can round differently across engines or
# partition layouts, flipping x<y comparisons and breaking the
# bitwise conc/disc assertion flakily (ADVICE r11; the very disease
# the reduction-order grammar above exists to forbid). Widths follow
# the SCALE §9ac rule: DuckDB >=19 for the int128 path, Spark <=18.
_PAIR_CENSUS_METRIC_SQL = {
    "SUM_DEC": "CAST(CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(19,6)))"
               " AS VARCHAR) AS DOUBLE)",
    "COUNT": "CAST(COUNT(*) AS DOUBLE)",
}


def _pair_census_sql(spec) -> str:
    ta, tb = spec["pair"]
    # DuckDB dayofweek is 0-based (Sun=0), Spark's is 1-based (Sun=1)
    # — the +1 aligns the oracle to Spark's convention (this grammar
    # caught the gap on its first run).
    where = "" if spec["dow"] is None else (
        f" AND dayofweek(CAST(CAST(ts AS TIMESTAMP) AS DATE)) + 1"
        f" BETWEEN {spec['dow'][0]} AND {spec['dow'][1]}"
    )
    return f"""
    WITH s AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             {_PAIR_CENSUS_METRIC_SQL[spec["metric"]]} AS m
      FROM events WHERE event_type IN ('{ta}', '{tb}'){where}
      GROUP BY event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE)
    ),
    base AS (
      SELECT x.day, x.m AS x, y.m AS y
      FROM (SELECT day, m FROM s WHERE event_type = '{ta}') x
      JOIN (SELECT day, m FROM s WHERE event_type = '{tb}') y
        ON y.day = x.day
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN (a.x < b.x AND a.y < b.y)
                           OR (a.x > b.x AND a.y > b.y)
                         THEN 1 ELSE 0 END) AS BIGINT) AS conc,
           CAST(SUM(CASE WHEN (a.x < b.x AND a.y > b.y)
                           OR (a.x > b.x AND a.y < b.y)
                         THEN 1 ELSE 0 END) AS BIGINT) AS disc
    FROM base a JOIN base b ON a.day < b.day
    """


def _pair_census_df(spark, spec):
    ta, tb = spec["pair"]
    ev = load_table(spark, SF_DIR, "events").filter(
        F.col("event_type").isin(ta, tb)
    )
    if spec["dow"] is not None:
        lo, hi = spec["dow"]
        ev = ev.filter(F.dayofweek(F.to_date("ts")).between(lo, hi))
    metric = (
        F.sum(F.round("value", 6).cast("decimal(18,6)"))
        .cast("string")
        .cast("double")
        if spec["metric"] == "SUM_DEC"
        else F.count(F.lit(1)).cast("double")
    )
    s = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        metric.alias("m")
    )
    x = s.filter(F.col("event_type") == ta).select("day", F.col("m").alias("x"))
    y = s.filter(F.col("event_type") == tb).select(
        F.col("day").alias("yday"), F.col("m").alias("y")
    )
    base = (
        x.join(y, F.col("yday") == F.col("day"))
        .select("day", "x", "y")
        .localCheckpoint(eager=True)
    )
    a = base.select(
        F.col("day").alias("d1"), F.col("x").alias("x1"), F.col("y").alias("y1")
    )
    b = base.select(
        F.col("day").alias("d2"), F.col("x").alias("x2"), F.col("y").alias("y2")
    )
    conc = ((F.col("x1") < F.col("x2")) & (F.col("y1") < F.col("y2"))) | (
        (F.col("x1") > F.col("x2")) & (F.col("y1") > F.col("y2"))
    )
    disc = ((F.col("x1") < F.col("x2")) & (F.col("y1") > F.col("y2"))) | (
        (F.col("x1") > F.col("x2")) & (F.col("y1") < F.col("y2"))
    )
    return a.join(F.broadcast(b), F.col("d1") < F.col("d2")).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.when(conc, 1).otherwise(0)).cast("long").alias("conc"),
        F.sum(F.when(disc, 1).otherwise(0)).cast("long").alias("disc"),
    )


@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=pair_census_specs())
def test_random_pair_censuses_match_duckdb(spark, duck, spec):
    """Pair-census fuzz (r11 evt_kendall_tau family): integer
    concordant/discordant counts over randomized series pairs and day
    predicates must match DuckDB bitwise."""
    spark_pdf = _pair_census_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_pair_census_sql(spec)).df()
    r = compare("fuzz_pair_census", spark_pdf, duck_pdf)
    assert r["ok"] and r["bitwise"], f"spec={spec}\nnotes={r['notes']}"


# ---- contingency-census grammar (r12 evt_mutual_info / evt_odds_ratio family)
#
# Randomized two-way contingency tables over the event log: both axes
# are deterministic integer-valued groupings, so every cell, marginal,
# and the derived chi-square / MI readouts are functions of exact
# integer counts — any cross-engine divergence is a marginal-window or
# grouping-logic bug, never float noise. MI terms follow the per-cell
# 6dp-round + exact-DECIMAL-sum discipline (SCALE 9ac / the pca-hits
# idiom); cells and marginals assert bitwise as integers.

_CTG_AXES = {
    "type": (
        "event_type",
        "event_type",
    ),
    "dow": (
        "CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '2024-01-01'"
        " AS INT) % 7",
        None,  # spark expression built in code
    ),
    # NB: DuckDB's / on integers is FLOAT division — use // (floor) to
    # match Spark's int-cast truncation (both operands nonnegative).
    "hour3": (
        "CAST(EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) AS INT) // 8",
        None,
    ),
    "vbucket": (
        "CASE WHEN value < 50 THEN 0 WHEN value < 200 THEN 1 ELSE 2 END",
        None,
    ),
}


@st.composite
def contingency_specs(draw):
    axes = sorted(_CTG_AXES)
    ax = draw(st.sampled_from(axes))
    ay = draw(st.sampled_from([a for a in axes if a != ax]))
    return {
        "x": ax,
        "y": ay,
        "types": draw(
            st.sampled_from(
                [None, ("view", "purchase"), ("click", "error", "signup")]
            )
        ),
    }


def _ctg_where(spec) -> str:
    if spec["types"] is None or spec["x"] == "type" or spec["y"] == "type":
        return "WHERE value IS NOT NULL"
    quoted = ", ".join(f"'{t}'" for t in spec["types"])
    return f"WHERE value IS NOT NULL AND event_type IN ({quoted})"


def _ctg_sql(spec) -> str:
    ex = _CTG_AXES[spec["x"]][0]
    ey = _CTG_AXES[spec["y"]][0]
    return f"""
    WITH cells AS (
      SELECT {ex} AS gx, {ey} AS gy, CAST(COUNT(*) AS BIGINT) AS c
      FROM events {_ctg_where(spec)} GROUP BY 1, 2
    ),
    marg AS (
      SELECT gx, gy, c,
             SUM(c) OVER (PARTITION BY gx) AS r,
             SUM(c) OVER (PARTITION BY gy) AS cc,
             SUM(c) OVER () AS n
      FROM cells
    )
    SELECT CAST(gx AS VARCHAR) AS gx, CAST(gy AS VARCHAR) AS gy,
           c, CAST(r AS BIGINT) AS r, CAST(cc AS BIGINT) AS cc,
           CAST(n AS BIGINT) AS n,
           CAST(CAST(CAST(ROUND((c * 1.0 / n)
                * LN((c * 1.0 * n) / (r * 1.0 * cc)), 6)
             AS DECIMAL(12,6)) AS VARCHAR) AS DOUBLE) AS mi_term
    FROM marg ORDER BY gx, gy
    """


def _ctg_spark_axis(name):
    if name == "type":
        return F.col("event_type")
    if name == "dow":
        return (
            F.datediff(F.to_date("ts"), F.to_date(F.lit("2024-01-01"))) % 7
        )
    if name == "hour3":
        return (F.hour("ts").cast("int") / F.lit(8)).cast("int")
    return (
        F.when(F.col("value") < 50, 0)
        .when(F.col("value") < 200, 1)
        .otherwise(2)
    )


def _ctg_df(spark, spec):
    from pyspark.sql import Window

    ev = load_table(spark, SF_DIR, "events").filter(
        F.col("value").isNotNull()
    )
    if spec["types"] is not None and "type" not in (spec["x"], spec["y"]):
        ev = ev.filter(F.col("event_type").isin(*spec["types"]))
    cells = ev.groupBy(
        _ctg_spark_axis(spec["x"]).alias("gx"),
        _ctg_spark_axis(spec["y"]).alias("gy"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    marg = cells.select(
        "gx",
        "gy",
        "c",
        F.sum("c").over(Window.partitionBy("gx")).alias("r"),
        F.sum("c").over(Window.partitionBy("gy")).alias("cc"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    return marg.select(
        F.col("gx").cast("string").alias("gx"),
        F.col("gy").cast("string").alias("gy"),
        "c",
        F.col("r").cast("long").alias("r"),
        F.col("cc").cast("long").alias("cc"),
        F.col("n").cast("long").alias("n"),
        F.round(
            (F.col("c") * 1.0 / F.col("n"))
            * F.log(
                (F.col("c") * 1.0 * F.col("n"))
                / (F.col("r") * 1.0 * F.col("cc"))
            ),
            6,
        )
        .cast("decimal(12,6)")
        .cast("string")
        .cast("double")
        .alias("mi_term"),
    ).orderBy("gx", "gy")


@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=contingency_specs())
def test_random_contingency_tables_match_duckdb(spark, duck, spec):
    """Contingency-census fuzz (r12 evt_mutual_info family): integer
    cells/marginals and per-cell decimal MI terms over randomized
    axis pairs must match DuckDB bitwise."""
    spark_pdf = _ctg_df(spark, spec).toPandas()
    duck_pdf = duck.execute(_ctg_sql(spec)).df()
    r = compare("fuzz_contingency", spark_pdf, duck_pdf)
    assert r["ok"] and r["bitwise"], f"spec={spec}\nnotes={r['notes']}"
