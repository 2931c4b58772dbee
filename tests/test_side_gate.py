"""The size gate's at-scale branch, executed against the oracle.

``io.side`` broadcasts a join side only while its source tables' on-disk
bytes are at or below the live ``spark.sql.autoBroadcastJoinThreshold``.
Setting that conf to -1 forces every gate to its ``shuffle_hash`` branch,
the plan a corpus above the threshold gets; each gated key must still
match DuckDB bitwise at sf0.001. The four connected-components keys take
tens of seconds each in this mode and run in the slow tier.
"""

from __future__ import annotations

import pytest

from hive_test_spark import io
from hive_test_spark.oracle import compare
from hive_test_spark.plans.inspect import explain_str
from hive_test_spark.session import scoped_confs
from tests.conftest import SF_DIR

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"

_SLOW = {
    "llm_cluster_density_audit",
    "llm_dedup_clusters",
    "llm_dedup_report",
    "llm_soft_dedup_weights",
}
GATED = sorted(
    _SLOW
    | {
        "graph_kcore",
        "graph_label_propagation",
        "graph_shortest_path",
        "llm_dedup_method_venn",
        "llm_dedup_threshold_sweep",
        "llm_dup_rate_by_source",
        "llm_minhash_det",
        "llm_minhash_estimator_error",
        "llm_near_dedup_minhash",
        "llm_shingle_containment",
    }
)
# Keys whose top-level plan shows the gated join; the others run their
# gated joins in build-time actions (checkpointed loops) or subplans.
SHUFFLE_HASH_IN_PLAN = {
    "llm_dedup_method_venn",
    "llm_dup_rate_by_source",
    "llm_minhash_det",
    "llm_minhash_estimator_error",
    "llm_near_dedup_minhash",
    "llm_shingle_containment",
}


@pytest.fixture
def no_broadcast(spark):
    with scoped_confs(spark, {THRESHOLD: "-1"}):
        yield spark


def _logical(df) -> str:
    return df._jdf.queryExecution().logical().toString().lower()


def test_side_gates_on_live_threshold(spark, request):
    """Under the threshold the side is broadcast; with the threshold off it
    is hinted shuffle_hash, never broadcast; an unknown table fails safe."""
    df = spark.range(10)

    assert "broadcast" in _logical(io.side(df, SF_DIR, "documents"))
    assert "shuffle_hash" in _logical(io.side(df, SF_DIR, "documents", "no_such_table"))
    assert io.table_bytes(SF_DIR, "no_such_table") > (1 << 60)

    request.getfixturevalue("no_broadcast")
    hinted = _logical(io.side(df, SF_DIR, "documents"))
    assert "shuffle_hash" in hinted and "broadcast" not in hinted


@pytest.mark.parametrize(
    "key", [pytest.param(k, marks=pytest.mark.slow) if k in _SLOW else k for k in GATED]
)
def test_gated_key_at_scale_matches_oracle(no_broadcast, duck, registry, key):
    qs, oracles = registry
    df = qs[key](no_broadcast, SF_DIR)
    if key in SHUFFLE_HASH_IN_PLAN:
        assert "ShuffledHashJoin" in explain_str(df)
    res = compare(key, df.toPandas(), duck.execute(oracles[key]).df())
    assert res["ok"] and res["bitwise"], f"{key}: {res['notes']}"
