"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in the ``hive_test_spark`` package; the operator
inventory is SURVEY.md §2 and every key registers through
``hive_test_spark.registry``.

Side effect on the caller's session: loading the ``events`` fixture
(every ``evt_*`` and ``stream_*`` key, among others) sets
``spark.sql.legacy.parquet.nanosAsLong=true`` on the shared session and
leaves it set, so a later read of a TIMESTAMP(NANOS) parquet column in
that session, the caller's own included, yields raw longs.
"""

from __future__ import annotations

import os
import sys

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hive_test_spark import api as _api


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _api.entry(spark)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _api.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI-SQL twin for each hash-verifiable query."""
    return _api.oracle_sql()
