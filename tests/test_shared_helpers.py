"""The engine's shared building blocks: ``io.materialize`` (the only
checkpoint, which leaves nothing pinned in the session's cache),
``session.scoped_confs`` (the only conf save/restore), the
landed ``orders`` layout of the partition-metadata keys, and the removal
of the package zip that ``session._ship_package`` writes."""

from __future__ import annotations

import ast
import os
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from hive_test_spark import io
from hive_test_spark.oracle import compare
from hive_test_spark.session import scoped_confs
from tests.conftest import SF_DIR
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


# Keys whose reused branch points go through ``io.materialize`` rather
# than a ``.cache()`` that nothing unpersists.
MATERIALIZED_BRANCHES = ["graph_pagerank", "graph_shortest_path"]


def test_branch_points_leave_the_cache_manager_empty(spark, registry):
    qs, _ = registry
    spark.catalog.clearCache()
    for key in MATERIALIZED_BRANCHES:
        assert qs[key](spark, SF_DIR).collect(), key
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


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


LANDED = {
    "meta_msck_repair": "hts_msck_meta_{tag}",
    "meta_drop_partition": "hts_droppart_meta_{tag}",
    "meta_add_partition": "hts_addpart_meta_{tag}",
    "dml_exchange_partition": "xchg_staging",
}


@pytest.mark.parametrize("key", sorted(LANDED))
def test_landed_layout_cold_then_warm(spark, duck, registry, key):
    """The first run lands the layout (marker removed), the second reads
    the landed one; both match the oracle."""
    from hive_test_spark.sources.scans import _sf_tag

    qs, oracles = registry
    tag = _sf_tag(SF_DIR).replace(".", "_")
    marker = Path(io.scratch_dir("meta", tag, LANDED[key].format(tag=tag)), "_hts_ingested")
    marker.unlink(missing_ok=True)
    for _ in range(2):
        res = compare(key, qs[key](spark, SF_DIR).toPandas(), duck.execute(oracles[key]).df())
        assert res["ok"] and res["bitwise"], f"{key}: {res['notes']}"
        assert marker.exists()

