"""Targeted behavior tests for profiling/reshape/incremental ops — the
oracle E2E proves value equality; these prove the results are NON-VACUOUS
(real gaps filled, real columns audited) per SURVEY.md §5.3's 0-row-trap
rule."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_gapfill_fills_real_gaps(spark, registry):
    qs, _ = registry
    df = qs["evt_gapfill"](spark, SF_DIR).cache()
    try:
        total = df.count()
        # spine is complete: n_days x n_types, no missing (type, day) cells
        days = df.select("event_day").distinct().count()
        types = df.select("event_type").distinct().count()
        assert total == days * types
        # some days were genuinely absent from the sparse daily agg ...
        filled = df.filter(F.col("n_events") == 0)
        assert filled.count() > 0
        # ... and LOCF carried a value into at least one of them
        assert filled.filter(F.col("avg_val_filled").isNotNull()).count() > 0
    finally:
        df.unpersist()


def test_dq_audit_one_row_per_column(spark, registry):
    qs, _ = registry
    rows = {r["column_name"]: r for r in qs["dq_audit"](spark, SF_DIR).collect()}
    assert set(rows) == {
        "o_orderstatus",
        "o_orderpriority",
        "o_orderdate",
        "o_totalprice",
    }
    from hive_test_spark.io import load_table

    n = load_table(spark, SF_DIR, "orders").count()
    for r in rows.values():
        assert r["n_rows"] == n
        assert 0 < r["n_distinct"] <= n
        assert r["min_repr"] <= r["max_repr"]


def test_unpivot_is_exact_inverse_shape(spark, registry):
    qs, _ = registry
    from hive_test_spark.io import load_table

    n_parts = load_table(spark, SF_DIR, "part").count()
    df = qs["agg_unpivot"](spark, SF_DIR)
    assert df.count() == 2 * n_parts
    assert df.columns == ["p_partkey", "metric", "value"]


def test_incremental_agg_merges_stored_partials(spark, registry, tmp_path):
    """Second invocation must REUSE the stored partial state (the point of
    the operator) and still equal the full aggregate."""
    import os

    from hive_test_spark.io import LANDED_MARKER
    from tests.conftest import landed

    qs, _ = registry
    first = qs["scale_incremental_agg"](spark, SF_DIR)
    marker = os.path.join(landed("orders_base_partials"), LANDED_MARKER)
    mtime = os.path.getmtime(marker)
    again = qs["scale_incremental_agg"](spark, SF_DIR)
    assert os.path.getmtime(marker) == mtime  # reused
    a = sorted(map(tuple, first.collect()))
    b = sorted(map(tuple, again.collect()))
    assert a == b


def test_null_safe_join_matches_null_group(spark, registry):
    """The NULL<=>NULL group must exist and equal the product of the two
    null populations — the semantics that distinguish <=> from plain =."""
    qs, _ = registry
    from hive_test_spark.io import load_table

    rows = {r["join_key"]: r["n_pairs"] for r in qs["join_null_safe"](spark, SF_DIR).collect()}
    assert None in rows, "null-safe join must produce the NULL-key group"
    nc = load_table(spark, SF_DIR, "customer").filter(F.col("c_nationkey") == 3).count()
    ns = load_table(spark, SF_DIR, "supplier").filter(F.col("s_nationkey") == 3).count()
    assert rows[None] == nc * ns
