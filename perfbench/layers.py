"""Outside-in tracing for the benchmark's traced run.

Nothing here edits the program. ``Tracer.install`` wraps the public
functions of ``hive_test_spark.session`` and ``hive_test_spark.io`` and
pyspark's ``DataFrameReader.parquet`` before the registry imports the
operator modules, which bind ``tune`` and ``load_table`` by name at import
time. Spark's own work is read afterwards from its status stores and
attributed to a query by time interval: one client runs one query at a
time, so every job, SQL execution and micro-batch that starts inside a
query's interval belongs to it, including those a stream runs on its own
thread.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Counters that do not repeat exactly between two runs of one seed, found
# by test_traced_counters_repeat on interactive_sql (4 cores): shuffle
# bytes matched in one pair of runs and differed in another, so a claim
# must not rest on them as exact counts. Jobs, stages, tasks,
# schema-inference jobs, exchanges and scan and Python-worker bytes
# repeated in both pairs. Shuffle bytes also change with --seed, because
# row order changes how well each block compresses.
VARYING_COUNTERS = ("shuffle.write_bytes", "shuffle.read_bytes")

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_PY_METRICS = {
    "time to start Python workers": "udf.worker_start_s",
    "time to run Python workers": "udf.worker_run_s",
    "data sent to Python workers": "udf.bytes_to_python",
    "data returned from Python workers": "udf.bytes_from_python",
}


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    query: str | None = None


@dataclass
class Tracer:
    """Spans and call counters kept in memory; ``dump`` writes them out."""

    spans: list[Span] = field(default_factory=list)
    counts: dict[str, int] = field(default_factory=dict)
    enabled: bool = False
    query: str | None = None
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), parent=parent, query=self.query))
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self.spans[self._stack.pop()].end = time.time()

    def wrap(self, fn, name: str):
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            self.counts[name] = self.counts.get(name, 0) + 1
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        """Wrap the layer entry points. Must run before ``api.queries()``."""
        from pyspark.sql.readwriter import DataFrameReader

        from hive_test_spark import io, session

        session.get_spark = self.wrap(session.get_spark, "session.get_spark")
        session.tune = self.wrap(session.tune, "session.tune")
        io.load_table = self.wrap(io.load_table, "io.load_table")
        DataFrameReader.parquet = self.wrap(DataFrameReader.parquet, "io.read_parquet")

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - c
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


class StreamCounter:
    """A ``StreamingQueryListener`` recording stream starts and micro-batches
    with their wall-clock start, for attribution by interval."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.started: list[float] = []
        self.batches: list[tuple[float, float]] = []  # (start, duration_s)

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                outer.started.append(_iso_epoch(event.timestamp))

            def onQueryProgress(self, event):
                p = event.progress
                outer.batches.append((_iso_epoch(p.timestamp), p.batchDuration / 1e3))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()


class CatalystPhases:
    """A py4j ``QueryExecutionListener``: for every SQL execution that ends,
    the start (epoch s) and length (s) of its Catalyst optimization and
    planning phases, read from the QueryExecution that actually ran. The
    listener bus calls it on its own thread after the execution ends, so
    reading the status stores must wait for the bus to drain."""

    PHASES = {"optimization": "catalyst.optimize_s", "planning": "catalyst.plan_s"}

    def __init__(self):
        self.phases: list[tuple[str, float, float]] = []  # (metric, start, duration_s)

    def register(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):
        phases = qe.tracker().phases()
        for name, metric in self.PHASES.items():
            if phases.contains(name):
                p = phases.apply(name)
                self.phases.append((metric, p.startTimeMs() / 1e3, p.durationMs() / 1e3))

    def onFailure(self, func_name, qe, exception):
        self.onSuccess(func_name, qe, 0)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _iso_epoch(ts: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def _scala_seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1e3 if opt.isDefined() else None


def _parse_total(text: str, units: dict[str, float]) -> float:
    """Total of a formatted SQL metric: either ``"1.2 s"`` or the
    ``"total (min, med, max ...)\\n1.2 s (...)"`` form."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([-0-9.,]+)\s*([A-Za-z]+)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * units.get(m.group(2), 0.0)


def spark_work(spark) -> tuple[list[dict], list[dict]]:
    """Every job (with its stages' summed metrics) and every SQL execution
    (with its Python-worker metrics and exchange counts) in the status stores."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = []
    for j in _scala_seq(store.jobsList(None)):
        rec = {"start": _opt_ms(j.submissionTime()), "stages": 0, "tasks": 0,
               "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "deser_s": 0.0,
               "shuffle_write": 0, "shuffle_read": 0, "fetch_wait_s": 0.0, "spill": 0,
               "in_bytes": 0, "in_rows": 0, "out_bytes": 0, "out_rows": 0}
        for sid in _scala_seq(j.stageIds()):
            st = store.lastStageAttempt(sid)
            if str(st.status()) == "SKIPPED":
                continue
            rec["stages"] += 1
            rec["tasks"] += st.numCompleteTasks()
            rec["run_s"] += st.executorRunTime() / 1e3
            rec["cpu_s"] += st.executorCpuTime() / 1e9
            rec["gc_s"] += st.jvmGcTime() / 1e3
            rec["deser_s"] += st.executorDeserializeTime() / 1e3
            rec["shuffle_write"] += st.shuffleWriteBytes()
            rec["shuffle_read"] += st.shuffleReadBytes()
            rec["fetch_wait_s"] += st.shuffleFetchWaitTime() / 1e3
            rec["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            rec["in_bytes"] += st.inputBytes()
            rec["in_rows"] += st.inputRecords()
            rec["out_bytes"] += st.outputBytes()
            rec["out_rows"] += st.outputRecords()
        jobs.append(rec)

    sql = spark._jsparkSession.sharedState().statusStore()
    execs = []
    for e in _scala_seq(sql.executionsList()):
        rec = {"start": e.submissionTime() / 1e3, **{v: 0.0 for v in _PY_METRICS.values()}}
        values = sql.executionMetrics(e.executionId())
        for m in _scala_seq(e.metrics()):
            name = _PY_METRICS.get(m.name())
            if name and values.contains(m.accumulatorId()):
                units = _SIZE_UNITS if name.startswith("udf.bytes") else _TIME_UNITS
                rec[name] += _parse_total(values.apply(m.accumulatorId()), units)
        rec["shuffle_exchanges"], rec["broadcast_exchanges"] = _exchanges(e.physicalPlanDescription())
        execs.append(rec)
    return jobs, execs


def _exchanges(plan: str) -> tuple[int, int]:
    """(shuffle, broadcast) exchange nodes in the final adaptive plan tree
    (the whole tree when the plan is not adaptive)."""
    tree = plan.split("\n\n", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    nodes = [re.sub(r"^[\s:+\-*]*", "", ln) for ln in tree.splitlines()]
    shuffle = sum(1 for n in nodes if n.startswith("Exchange "))
    broadcast = sum(1 for n in nodes if n.startswith("BroadcastExchange "))
    return shuffle, broadcast
