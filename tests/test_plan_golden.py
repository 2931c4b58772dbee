"""Plan-shape golden (fast tier): join-operator and exchange counts of the
initial physical plan at ``SF_DIR`` for the keys whose plans earlier
optimization rounds rewrote (OPTIMIZATION_r12.md, OPTIMIZATION_r13.md).

Plans are built as on an 8-core session, because the fan-out
repartitions and the shuffle partition count follow the session's
parallelism (session.fanout) and, on one core, Spark drops exchanges a
single partition makes unnecessary. A count that moves means a join
strategy or a shuffle changed; if the change is intended, update
``plan_golden.json`` with the counts the failure message prints.
"""

from __future__ import annotations

import json
import os
import re

import pytest

from hive_test_spark.plans.inspect import explain_str
from tests.conftest import SF_DIR

with open(os.path.join(os.path.dirname(__file__), "plan_golden.json")) as fh:
    GOLDEN = json.load(fh)

OPERATORS = (
    "BroadcastHashJoin",
    "BroadcastNestedLoopJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "CartesianProduct",
    "Exchange",
    "BroadcastExchange",
)


def operator_counts(plan: str) -> dict[str, int]:
    names = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
    return {op: names.count(op) for op in OPERATORS}


@pytest.fixture
def eight_cores(spark, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
    monkeypatch.setattr(type(spark.sparkContext), "defaultParallelism", property(lambda sc: 8))
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    yield spark
    spark.conf.set("spark.sql.shuffle.partitions", partitions)


@pytest.mark.parametrize("key", sorted(GOLDEN))
def test_plan_shape_matches_golden(eight_cores, registry, key):
    qs, _ = registry
    got = operator_counts(explain_str(qs[key](eight_cores, SF_DIR)))
    assert got == GOLDEN[key], f"{key}: {json.dumps(got)}"


def test_jaccard_exact_tests_ids_before_intersecting(spark, registry):
    """The theta join checks the cheap ``doc_id < doc_id`` conjunct before
    the ``array_intersect`` Jaccard (llm/dedup.py; the order is empirical
    for the current Spark version, so pin it)."""
    qs, _ = registry
    plan = explain_str(qs["llm_jaccard_exact"](spark, SF_DIR))
    conds = re.findall(r"^Join condition: (.*)$", plan, re.M)
    cond = next(c for c in conds if "array_intersect" in c)
    ids = re.search(r"doc_id#\d+L? < doc_id#\d+L?", cond)
    assert ids and ids.start() < cond.index("array_intersect"), cond
