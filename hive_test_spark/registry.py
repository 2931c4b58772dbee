"""Operator registry: the single source of truth behind ``queries()`` /
``oracle_sql()`` in ``__spark_entry__.py``.

Every operator module registers its query functions here via the
``@register(key, oracle=...)`` decorator. A registered function has
signature ``(spark, sf_dir) -> DataFrame`` and must alias every computed
column identically to its oracle SQL (driver hash-compares by column
name — SURVEY.md §5.3).

``register`` is the one entry point of every query: the wrapper it
stores (and returns, so module-level names and operator-to-operator
calls go through it too) applies ``session.tune`` and labels the jobs
the build runs with the key. Operator bodies therefore never tune; a
helper called outside ``queries()`` must tune itself.

A query whose oracle text runs on Spark SQL with the plan its body would
build registers through ``register_sql(key, text)`` instead: the text is
both the oracle and the body, so the key carries one copy of its query.

``oracle=None`` ⇒ rows-only check (approx/streaming/partition-local ops).
"""

from __future__ import annotations

import functools
import string
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from hive_test_spark import io, session

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# Jobs a query's build runs (eager checkpoints, loops, stream starts) carry
# its key here; the DataFrame's own actions run after the wrapper returns.
_JOB_DESCRIPTION = "spark.job.description"


def _load_driver_rows() -> tuple[frozenset[str], frozenset[str], dict[str, int]]:
    """Return (seen, failed, last_round_per_key) from the driver's
    CORRECTNESS_r*.json reports in the repo root.

    A key is *seen* iff its LATEST row is green — hash-match with an
    oracle, or a clean rows-only run (``err == 'no_oracle'``) for
    by-design non-hashable ops. A key whose latest row is a failure goes
    into *failed* instead. ``last_round_per_key`` records which round
    produced each key's latest row.
    """
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest: dict[str, dict] = {}
    last_round: dict[str, int] = {}

    def _round_of(path: str) -> int:
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        return int(m.group(1)) if m else 0

    # Sort by PARSED round number, not filename: lexicographic order would
    # let CORRECTNESS_r4.json shadow r04, or r100 sort before r20, making
    # an older report silently win the "latest row" merge below.
    for path in sorted(
        glob.glob(os.path.join(root, "CORRECTNESS_r*.json")), key=_round_of
    ):
        rnd = _round_of(path)
        try:
            with open(path) as fh:
                report = json.load(fh)
        except (OSError, ValueError):
            continue
        if isinstance(report, dict):
            for k, row in report.items():
                if isinstance(k, str) and isinstance(row, dict):
                    latest[k] = row
                    last_round[k] = rnd
    seen: set[str] = set()
    failed: set[str] = set()
    for k, row in latest.items():
        err = row.get("err")
        if err == "no_oracle":
            ok = row.get("spark_rows") is not None
        else:
            ok = (
                err is None
                and bool(row.get("rows_match"))
                and bool(row.get("schema_match"))
                and bool(row.get("hash_match"))
            )
        (seen if ok else failed).add(k)
    return frozenset(seen), frozenset(failed), last_round


DRIVER_SEEN, DRIVER_FAILED, DRIVER_LAST_ROUND = _load_driver_rows()


# The driver's correctness harness verifies a prefix of ``queries()`` each
# round, so registration order alone would re-test the same keys forever.
# ``ordered_keys`` schedules instead: keys whose latest driver row is red
# first, then keys with no driver row, then every green key stalest row
# first (a round-robin, so every key re-earns a fresh row within
# ceil(N/window) rounds). Ties break on registration index.
def _rank(key: str, reg_idx: int) -> tuple[int, int, int]:
    if key in DRIVER_FAILED:
        return (0, 0, reg_idx)
    if key not in DRIVER_SEEN:
        return (1, 0, reg_idx)
    return (2, DRIVER_LAST_ROUND[key], reg_idx)


def ordered_keys() -> list[str]:
    """Registry keys in driver-window order (see ``_rank``)."""
    idx = {k: i for i, k in enumerate(QUERIES)}
    return sorted(QUERIES, key=lambda k: _rank(k, idx[k]))


def register(key: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if key in QUERIES:
            raise ValueError(f"duplicate operator key: {key}")

        @functools.wraps(fn)
        def query(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Through the module attribute, so a wrapper installed on
            # ``session.tune`` after this module loaded still sees the call.
            session.tune(spark)
            sc = spark.sparkContext
            outer = sc.getLocalProperty(_JOB_DESCRIPTION)
            sc.setLocalProperty(_JOB_DESCRIPTION, key)
            try:
                return fn(spark, sf_dir)
            finally:
                sc.setLocalProperty(_JOB_DESCRIPTION, outer)  # None unsets it

        QUERIES[key] = query
        if oracle is not None:
            ORACLES[key] = oracle
        return query

    return deco


def register_sql(key: str, text: str) -> QueryFn:
    """Register ``text`` as both the oracle and the body of ``key``.

    Each fixture table in ``text`` is a ``{table}`` placeholder, and a
    literal brace is written doubled. The oracle is ``text`` with each
    placeholder replaced by the table's name. The body
    passes each table's frame to ``spark.sql``'s formatter, which binds it
    to a uniquely named temp view and drops the view once the text is
    analysed: a caller's own ``lineitem`` view is never read or shadowed,
    and no view is left behind.
    """
    tables = sorted({f for _, f, _, _ in string.Formatter().parse(text) if f})

    def body(spark: SparkSession, sf_dir: str) -> DataFrame:
        # ``io.load_table`` through the module, so a wrapper installed on it
        # after this module loaded still sees the calls.
        return spark.sql(text, **{t: io.load_table(spark, sf_dir, t) for t in tables})

    body.__name__ = body.__qualname__ = key
    return register(key, text.format(**{t: t for t in tables}))(body)


def load_all() -> None:
    """Import every operator module so registrations run (idempotent)."""
    from hive_test_spark.operators import (  # noqa: F401
        aggregates,
        analytics,
        benchmarks,
        dml,
        extras,
        graph,
        joins,
        profiling,
        relational,
        scale,
        setops,
        sorts,
        sqlfront,
        subqueries,
        timeseries,
        windows,
    )
    from hive_test_spark.sources import scans, sinks  # noqa: F401
    from hive_test_spark.functions import lateral, scalar, udfs  # noqa: F401
    from hive_test_spark.streaming import batch_twins, live  # noqa: F401
    from hive_test_spark.llm import (  # noqa: F401
        cluster,
        curation,
        dedup,
        multimodal,
        pipeline,
        quality,
        similarity,
        text,
    )
