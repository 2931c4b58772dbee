"""The engine's shared building blocks: ``io.materialize`` (the only
checkpoint, which leaves nothing pinned in the session's cache),
``session.scoped_confs`` (the only conf save/restore), ``io.land`` (the
only write-once gate for scratch copies derived from the fixture), the
near-dup family's ``pipeline.jaccard`` and ``pipeline.size_ratio``,
``registry.register_sql`` (keys run from their oracle text, which name
no session temp view), and the removal at exit of the package zip that
``session._ship_package`` writes and of the per-run stream outputs."""

from __future__ import annotations

import ast
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hive_test_spark import io
from hive_test_spark.llm.pipeline import jaccard, size_ratio
from hive_test_spark.oracle import compare, duck_connect
from hive_test_spark.registry import register_sql
from hive_test_spark.session import scoped_confs
from tests.conftest import SF_DIR, landed
from tests.test_io_schema_cache import _jobs

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "hive_test_spark"


def test_materialize_runs_its_job_at_call_time(spark):
    df = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    with _jobs(spark) as ids:
        out = io.materialize(df)
    assert ids
    leaf = out._jdf.queryExecution().logical()
    assert leaf.getClass().getSimpleName() == "LogicalRDD"
    assert leaf.children().isEmpty()
    assert sorted(out.collect()) == sorted(df.collect())


def test_no_checkpoint_call_outside_io():
    """Every lineage cut goes through ``io.materialize``."""
    calls = [
        f"{path.relative_to(PKG)}:{node.lineno}"
        for path in sorted(PKG.rglob("*.py"))
        if path != PKG / "io.py"
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("localCheckpoint", "checkpoint")
    ]
    assert calls == []


# Modules whose subject is a named view or a catalog table.
VIEW_OWNERS = {"sources/scans.py", "sources/sinks.py", "operators/dml.py"}
VIEW_CALLS = {
    "createOrReplaceTempView",
    "createTempView",
    "createGlobalTempView",
    "createOrReplaceGlobalTempView",
    "registerTempTable",
}


def test_no_temp_view_outside_sources_and_dml():
    """A query reads its tables as ``spark.sql`` ``{name}`` arguments,
    never through a session temp view it names."""
    calls = [
        f"{path.relative_to(PKG)}:{node.lineno}"
        for path in sorted(PKG.rglob("*.py"))
        if str(path.relative_to(PKG)) not in VIEW_OWNERS
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in VIEW_CALLS
    ]
    assert calls == []


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


# Read-only keys with their own Spark text, besides the SQL front end's.
OWN_TEXT_KEYS = [
    "agg_grouping_sets",
    "agg_listagg",
    "fn_sql_macro",
    "sort_cluster_by",
    "udtf_python_class",
    "win_time_range_frame",
]


def test_sql_text_keys_leave_no_temp_view(spark, registry):
    """Building every ``register_sql`` key, every SQL front-end key and
    the other read-only keys with their own text leaves the session's
    temp views as they were."""
    qs, _ = registry
    sql_keys = [k for k, fn in qs.items() if fn.__module__ == register_sql.__module__]
    front = [k for k, fn in qs.items() if fn.__module__.endswith(".sqlfront")]
    assert len(sql_keys) >= 68 and len(front) >= 20
    before = _temp_views(spark)
    for key in sql_keys + front + OWN_TEXT_KEYS:
        qs[key](spark, SF_DIR)
    assert _temp_views(spark) == before


def test_sql_text_keys_ignore_a_callers_views(spark, duck, registry):
    """A caller's own ``lineitem`` and ``customer`` views hold other rows:
    the keys still answer from the fixture, and the caller's views still
    hold the caller's rows afterwards."""
    qs, oracles = registry
    mine = {
        "lineitem": io.load_table(spark, SF_DIR, "lineitem").filter("l_orderkey <= 3"),
        "customer": io.load_table(spark, SF_DIR, "customer").filter("c_custkey <= 10"),
    }
    for name, df in mine.items():
        df.createOrReplaceTempView(name)
    try:
        expected = {name: sorted(df.collect()) for name, df in mine.items()}
        for key in ("project_select", "win_topk_per_group"):
            got = qs[key](spark, SF_DIR).toPandas()
            res = compare(key, got, duck.execute(oracles[key]).df())
            assert res["ok"] and res["bitwise"], f"{key}: {res['notes']}"
        for name in mine:
            assert sorted(spark.table(name).collect()) == expected[name], name
    finally:
        for name in mine:
            spark.catalog.dropTempView(name)



# Keys whose subject is a temporary function they register.
TEMP_FUNCTION_KEYS = [
    "fn_sql_macro",
    "meta_show_functions",
    "sql_temp_function",
    "udtf_python_class",
]


def test_temp_function_keys_leave_the_function_catalog_as_it_was(spark, duck, registry):
    """Each key registers its functions under per-build names and drops
    them once its frame is analysed: the session's function catalog is
    unchanged, a caller's ``hts_disc_price`` survives, and the frames,
    collected after the drop, still match the oracle bitwise."""
    qs, oracles = registry
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION hts_disc_price(p DOUBLE, d DOUBLE) "
        "RETURNS DOUBLE RETURN -1.0"
    )
    try:
        before = {f.name for f in spark.catalog.listFunctions()}
        frames = {key: qs[key](spark, SF_DIR) for key in TEMP_FUNCTION_KEYS}
        assert {f.name for f in spark.catalog.listFunctions()} == before
        for key, df in frames.items():
            res = compare(key, df.toPandas(), duck.execute(oracles[key]).df())
            assert res["ok"] and res["bitwise"], f"{key}: {res['notes']}"
        assert spark.sql("SELECT hts_disc_price(2.0, 0.5)").first()[0] == -1.0
    finally:
        spark.sql("DROP TEMPORARY FUNCTION IF EXISTS hts_disc_price")


def test_literal_rows_are_sql_values():
    """A few literal rows go through ``io.values`` (SQL VALUES, a JVM
    LocalRelation), not ``createDataFrame`` over a Python list, which
    plans a Python RDD whose scan launches Python-worker tasks.
    ``functions/udfs.py`` keeps its calls: Arrow ingest is their subject."""
    literal = (ast.List, ast.ListComp, ast.Tuple, ast.GeneratorExp)
    calls = [
        f"{path.relative_to(PKG)}:{node.lineno}"
        for path in sorted(PKG.rglob("*.py"))
        if path != PKG / "functions" / "udfs.py"
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
        and node.args
        and isinstance(node.args[0], literal)
    ]
    assert calls == []


def test_values_keeps_each_spark_type(spark):
    rows = [("it's", 3, 0.1), ("a\\b", 2**40, 10.0)]
    schema = "name string, n long, w double"
    df = io.values(spark, rows, schema)
    assert df.schema.simpleString() == "struct<name:string,n:bigint,w:double>"
    assert [tuple(r) for r in df.collect()] == rows
    leaf = df._jdf.queryExecution().optimizedPlan()
    assert leaf.getClass().getSimpleName() == "LocalRelation"

# Keys whose reused branch points go through ``io.materialize`` rather
# than a ``.cache()`` that nothing unpersists.
MATERIALIZED_BRANCHES = [
    "graph_pagerank",
    "graph_shortest_path",
    "graph_triangles",
    "graph_degree_distribution",
    "graph_common_neighbors",
    "llm_grpo_advantage",
]


def test_branch_points_leave_the_cache_manager_empty(spark, registry):
    qs, _ = registry
    spark.catalog.clearCache()
    for key in MATERIALIZED_BRANCHES:
        assert qs[key](spark, SF_DIR).collect(), key
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_jaccard_is_the_oracle_value_and_size_ratio_never_drops_a_pair(spark, duck):
    """Over every document pair's token sets: ``jaccard`` is bitwise the
    oracle's |A∩B| / |distinct(A++B)|, and no pair that a ``>= tau`` or
    ``> tau`` Jaccard filter keeps has a size ratio below ``tau``."""
    toks = io.load_table(spark, SF_DIR, "documents").select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("tok")
    )
    a = toks.select(F.col("doc_id").alias("doc_a"), F.col("tok").alias("tok_a"))
    b = toks.select(F.col("doc_id").alias("doc_b"), F.col("tok").alias("tok_b"))
    na, nb = F.size("tok_a"), F.size("tok_b")
    got = (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            jaccard("tok_a", "tok_b", na, nb).alias("jac"),
            size_ratio(na, nb).alias("ratio"),
        )
        .toPandas()
    )
    want = duck.execute(
        """
        WITH toks AS (
          SELECT doc_id, list_distinct(string_split(text, ' ')) AS tok FROM documents
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.tok, b.tok))) AS oracle
        FROM toks a JOIN toks b ON a.doc_id < b.doc_id
        """
    ).df()
    both = got.merge(want, on=["doc_a", "doc_b"])
    assert len(both) == len(got) == len(want) > 0
    assert (both["jac"] == both["oracle"]).all()
    for tau in (0.5, 0.6999, 0.9):
        assert (both["jac"] >= tau).any(), tau
        assert not ((both["jac"] >= tau) & (both["ratio"] < tau)).any(), tau
        assert not ((both["jac"] > tau) & (both["ratio"] <= tau)).any(), tau


def test_scoped_confs_restores_after_return_and_raise(spark):
    was_set, was_unset = "spark.hts.test.scoped", "spark.hts.test.scoped_unset"
    inner = {was_set: "inner", was_unset: "inner"}
    spark.conf.set(was_set, "outer")
    try:
        with scoped_confs(spark, inner):
            assert spark.conf.get(was_set) == spark.conf.get(was_unset) == "inner"
        assert spark.conf.get(was_set) == "outer"
        assert spark.conf.get(was_unset, None) is None

        with pytest.raises(RuntimeError), scoped_confs(spark, inner):
            raise RuntimeError("body failed")
        assert spark.conf.get(was_set) == "outer"
        assert spark.conf.get(was_unset, None) is None
    finally:
        spark.conf.unset(was_set)


_SHIP = """
import os, sys, types
sys.path.insert(0, {root!r})
from hive_test_spark.session import _ship_package
_ship_package(types.SimpleNamespace(sparkContext=types.SimpleNamespace(addPyFile=lambda p: None)))
print(sorted(os.listdir(os.environ["TMPDIR"])))
"""


def test_shipped_package_zip_is_removed_at_exit(tmp_path):
    run = subprocess.run(
        [sys.executable, "-c", _SHIP.format(root=str(ROOT))],
        env={**os.environ, "TMPDIR": str(tmp_path)},
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert run.returncode == 0, run.stderr
    assert "hive_test_spark_pkg_" in run.stdout  # written while the process ran
    assert list(tmp_path.glob("hive_test_spark_pkg_*.zip")) == []


_RUN_DIRS = """
import os, sys
sys.path.insert(0, {root!r})
from hive_test_spark import io
io.SCRATCH_DIR = {scratch!r}
from hive_test_spark.streaming.live import _run_dir
for kind in {kinds!r}:
    d = _run_dir(kind)
    os.makedirs(d)
    open(os.path.join(d, "part-0.parquet"), "w").close()
print(sorted(os.listdir(os.path.join(io.SCRATCH_DIR, {kinds!r}[0]))))
"""

# Per-run stream outputs that the returned frames read lazily.
RUN_DIR_KINDS = ("fbm_archive", "fbm_rollup", "stream_docs_src", "stream_neardup_out")


def test_per_run_stream_outputs_are_removed_at_exit(tmp_path):
    live = ast.parse((PKG / "streaming" / "live.py").read_text())
    kinds = {
        node.args[0].value
        for node in ast.walk(live)
        if isinstance(node, ast.Call) and getattr(node.func, "id", None) == "_run_dir"
    }
    assert kinds == set(RUN_DIR_KINDS)
    script = _RUN_DIRS.format(root=str(ROOT), scratch=str(tmp_path), kinds=RUN_DIR_KINDS)
    run = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert run.returncode == 0, run.stderr
    assert run.stdout.strip() != "[]"  # written while the process ran
    assert {p.name for p in tmp_path.iterdir()} == set(RUN_DIR_KINDS)
    assert list(tmp_path.glob("*/*")) == []


# Marker-file names of write-once gates; ``io.land`` owns the only one.
MARKERS = {"_SUCCESS", "_done", ".ready", "_hts_ready", "_hts_ingested", io.LANDED_MARKER}


def test_no_write_once_gate_outside_land():
    """No module names a marker file but ``io``. The one ``_SUCCESS`` left
    selects the previous ledger generation a micro-batch of
    ``stream_foreach_batch_upsert`` merges into; it gates no copy."""
    found = [
        (str(path.relative_to(PKG)), getattr(top, "name", None), node.value)
        for path in sorted(PKG.rglob("*.py"))
        if path != PKG / "io.py"
        for top in ast.parse(path.read_text()).body
        for node in ast.walk(top)
        if isinstance(node, ast.Constant) and isinstance(node.value, str) and node.value in MARKERS
    ]
    assert found == [("streaming/live.py", "stream_foreach_batch_upsert", "_SUCCESS")]


LANDED = {
    "meta_msck_repair": "meta_msck_orders",
    "meta_drop_partition": "meta_droppart_orders",
    "meta_add_partition": "meta_addpart_orders",
    "dml_exchange_partition": "meta_xchg_staging",
}


@pytest.mark.parametrize("key", sorted(LANDED))
def test_landed_layout_cold_then_warm(spark, duck, registry, key):
    """The first run lands the layout (marker removed), the second reads
    the landed one; both match the oracle."""
    qs, oracles = registry
    qs[key](spark, SF_DIR)  # lands the layout unless an earlier test did
    marker = Path(landed(LANDED[key]), io.LANDED_MARKER)
    marker.unlink()
    stamps = []
    for _ in range(2):
        res = compare(key, qs[key](spark, SF_DIR).toPandas(), duck.execute(oracles[key]).df())
        assert res["ok"] and res["bitwise"], f"{key}: {res['notes']}"
        stamps.append(marker.stat().st_mtime_ns)
    assert stamps[0] == stamps[1]  # the second run reused the landed copy


# Keys whose landed copy derives from ``orders`` or ``customer``.
STALE_KEYS = [
    "meta_msck_repair",
    "scan_csv",
    "scan_file_metadata",
    "scan_orc",
    "scan_parquet_schema_evolution",
]


def _write_rows(src: str, dst: str, key: str, drop: int) -> None:
    """Write the rows of the parquet file ``src`` whose ``key`` is not
    ``drop`` mod 3 to ``dst`` (in place when ``dst`` exists)."""
    t = pq.read_table(src)
    pq.write_table(t.filter(pa.array(t[key].to_numpy() % 3 != drop)), dst)


def test_landed_copies_follow_the_fixture_files(spark, registry, tmp_path):
    """Two fixtures with one directory name but different ``orders`` and
    ``customer``, and one of them rewritten in place, each read their own
    landed copies: every run matches its own fixture's oracle bitwise."""
    qs, oracles = registry
    base = os.path.basename(os.path.normpath(SF_DIR))
    a, b = (str(tmp_path / side / base) for side in "ab")
    for d in (a, b):
        shutil.copytree(SF_DIR, d, copy_function=shutil.copyfile)
    _write_rows(io.table_path(SF_DIR, "orders"), io.table_path(b, "orders"), "o_orderkey", 0)
    _write_rows(io.table_path(SF_DIR, "customer"), io.table_path(b, "customer"), "c_custkey", 0)

    def check(sf_dir):
        duck = duck_connect(sf_dir)
        rows = {}
        for key in STALE_KEYS:
            got = qs[key](spark, sf_dir).toPandas()
            res = compare(key, got, duck.execute(oracles[key]).df())
            assert res["ok"] and res["bitwise"], f"{key} on {sf_dir}: {res['notes']}"
            rows[key] = sorted(map(tuple, got.astype(str).values.tolist()))
        return rows

    runs = [check(a), check(b)]
    _write_rows(io.table_path(SF_DIR, "orders"), io.table_path(b, "orders"), "o_orderkey", 1)
    runs.append(check(b))
    for key in STALE_KEYS:  # the answers differ, so a stale copy would show
        assert runs[0][key] != runs[1][key], key
        assert key == "scan_csv" or runs[1][key] != runs[2][key], key  # reads customer only
