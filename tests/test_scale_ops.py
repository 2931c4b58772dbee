"""Scale-technique operator tests: bucketed SMB join is shuffle-free,
salting preserves semantics, TABLESAMPLE is bounded."""

from __future__ import annotations

from pyspark.sql import functions as F

from hive_test_spark.plans.inspect import analyze
from tests.conftest import SF_DIR


def test_bucketed_smb_join_has_no_join_shuffle(spark, registry):
    qs, _ = registry
    df = qs["join_bucketed_smb"](spark, SF_DIR)
    f = analyze(df)
    assert f.sort_merge_joins == 1
    # the only exchange allowed is the final groupBy — the join itself
    # must consume bucket layout directly
    assert f.exchanges <= 1, f"bucketed join should not shuffle:\n{f.text}"


def test_salted_join_equals_plain_join(spark, registry):
    from hive_test_spark.io import load_table

    qs, _ = registry
    salted = {
        (r["n_name"], r["n_customers"]) for r in qs["join_skew_salted"](spark, SF_DIR).collect()
    }
    c = load_table(spark, SF_DIR, "customer")
    n = load_table(spark, SF_DIR, "nation")
    plain = {
        (r["n_name"], r["n_customers"])
        for r in c.join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .collect()
    }
    assert salted == plain


def test_tablesample_bounds(spark, registry):
    """Every group's sampler-contract booleans hold (the same invariants
    the property oracle hash-pins: count within 6 binomial sigma, mean
    within 8*sd/sqrt(n))."""
    qs, _ = registry
    rows = qs["scan_tablesample"](spark, SF_DIR).collect()
    assert rows and all(r.bounds_ok and r.est_ok for r in rows)


def test_zorder_layout_clusters_both_dims(spark, registry):
    """The point of z-order: per-file parquet footer min/max ranges must be
    narrow on BOTH clustered columns (a linear sort narrows only its
    leading column), so row-group pruning works for filters on either."""
    import glob
    import os

    import pyarrow.parquet as pq

    from tests.conftest import SF_DIR, landed

    qs, _ = registry
    qs["scale_zorder"](spark, SF_DIR).collect()  # ensures the layout exists
    path = landed("lineitem_zorder")
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    assert len(files) > 4, "repartitionByRange(16) must produce multiple files"

    def avg_range_frac(col):
        spans, glo, ghi = [], None, None
        for f in files:
            md = pq.read_metadata(f)
            ci = {md.schema.column(i).name: i for i in range(md.num_columns)}[col]
            lo = min(md.row_group(i).column(ci).statistics.min for i in range(md.num_row_groups))
            hi = max(md.row_group(i).column(ci).statistics.max for i in range(md.num_row_groups))
            spans.append(hi - lo)
            glo = lo if glo is None else min(glo, lo)
            ghi = hi if ghi is None else max(ghi, hi)
        return (sum(spans) / len(spans)) / (ghi - glo)

    # both dims must show real locality: average per-file span well under
    # the global span (a random layout gives ~1.0 on both)
    assert avg_range_frac("l_quantity") < 0.7
    assert avg_range_frac("l_extendedprice") < 0.7
