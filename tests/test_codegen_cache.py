"""Warm queries reuse their generated code.

Spark caches the classes whole-stage codegen compiles, keyed by the
generated source, in ``spark.sql.codegen.cache.maxEntries`` entries. With
Spark's default of 100 a pass over the headline keys (about 157 classes)
evicts its own classes, so every warm query would compile them again.
``session.get_spark`` sizes the cache to hold the registry's working set.

Two headline keys generate source that differs from run to run, so they
recompile a few classes per pass whatever the cache size (ROADMAP, open
items), and are left out: ``agg_count_distinct`` (the Expand of its
multi-distinct rewrite orders its columns differently per run) and
``llm_tfidf`` (adaptive execution numbers its codegen stages in the order
its independent query stages finish, and the number is in the class).
"""

from __future__ import annotations

from bench import HEADLINE
from tests.conftest import SF_DIR

KEYS = [k for k in HEADLINE if k not in ("agg_count_distinct", "llm_tfidf")]


def _compiles(spark) -> int:
    """Janino compiles in this JVM so far: the count of Spark's
    compilation-time histogram."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_all(spark, qs) -> None:
    for key in KEYS:
        qs[key](spark, SF_DIR).write.mode("overwrite").format("noop").save()


def test_session_sizes_the_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "8192"


def test_warm_headline_pass_compiles_nothing(spark, registry):
    qs, _ = registry
    assert len(KEYS) == 11
    _run_all(spark, qs)
    before = _compiles(spark)
    _run_all(spark, qs)
    assert _compiles(spark) - before == 0
