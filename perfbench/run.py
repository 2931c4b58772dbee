"""Closed-loop benchmark of the hive_test_spark query registry.

One process, one SparkSession on local[<cores>], one client issuing the
next query only after the previous one finished. A run:

1. writes the workload's fixture (fixture.py; row order from --seed) under
   perfbench/_work — not part of any metric;
2. set-up, timed as ``setup_s``: start the session, load the registry and
   run one untimed pass that also collects every key's result;
3. timed passes over the keys, each in an order shuffled by --seed, each
   query built and executed into Spark's ``noop`` sink. --seconds sets the
   pass count: round(seconds / pass_s), where pass_s is the workload's
   nominal pass length in workloads.json;
4. untimed: each collected result is compared with the DuckDB oracle on
   the same fixture directory (hive_test_spark.oracle.compare).

With --trace 1 the layer entry points are wrapped (layers.py) before the
registry loads, and the run makes an even number of passes, at least two
(one fewer than an untraced run when that count is odd), in which every other
key is traced, alternating between passes: in each pair of passes every
key runs once traced and once untraced, half of them traced in the earlier
pass, so ``trace.overhead_s`` compares the same queries in one process
without favouring either side with a warmer JVM.

    python3 perfbench/run.py --workload interactive_sql --seed 1 --seconds 24 --trace 0

The last stdout line is the result JSON; lines before it are details.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import time

import fixture
from layers import CatalystPhases, StreamCounter, Tracer, spark_work

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {"setup_s": "s", "wall_s": "s", "query_p50_s": "s", "ok_ratio": "ratio"}


def load_workloads() -> dict:
    """The benchmark's workloads and those run by hand only, by name."""
    with open(os.path.join(HERE, "workloads.json")) as fh:
        spec = json.load(fh)
    return {**spec["workloads"], **spec["by_hand"]}


def isolate(work: str, trace: bool) -> None:
    """Keep every file Spark, pyspark and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    conf = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    if trace:  # keep every job, stage and SQL execution for attribution
        for k in ("spark.ui.retainedJobs", "spark.ui.retainedStages", "spark.sql.ui.retainedExecutions"):
            conf += ["--conf", f"{k}=1000000"]
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "PYSPARK_SUBMIT_ARGS": shlex.join(conf + ["pyspark-shell"]),
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    })
    sys.path.insert(0, ROOT)


def cpu_ticks() -> tuple[int, int, int]:
    """(busy, steal, total) clock ticks of all CPUs since boot, from
    /proc/stat; busy is user, nice, system, irq and softirq time."""
    with open("/proc/stat") as fh:
        t = [int(x) for x in fh.readline().split()[1:]]
    return t[0] + t[1] + t[2] + t[5] + t[6], t[7], sum(t)


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of process ``pid``, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for process {pid}")


def hd_median(samples: list[float], steps: int = 400) -> float:
    """Harrell-Davis estimate of the median: a weighted mean of the sorted
    samples, the i-th weighted by the mass a Beta((n+1)/2, (n+1)/2)
    distribution puts on [(i-1)/n, i/n]. A run mixes keys whose latencies
    form clusters, and the plain sample median jumps between clusters when
    one query shifts; this estimate moves smoothly with the samples near the
    middle. The Beta mass is integrated numerically, ``steps`` points per
    sample."""
    xs = sorted(samples)
    n = len(xs)
    e = (n - 1) / 2  # exponent of x and (1 - x) in the Beta density
    w = [sum(((j + 0.5) / (n * steps) * (1 - (j + 0.5) / (n * steps))) ** e
             for j in range(i * steps, (i + 1) * steps)) for i in range(n)]
    return sum(wi * x for wi, x in zip(w, xs)) / sum(w)


def tail(samples: list[float]) -> str:
    """The highest latency percentile with at least ten samples above it,
    with its sample count. A run of a few passes has too few samples for a
    percentile above the median, which is why it is a detail line and not
    an end-to-end metric."""
    xs = sorted(samples)
    i = len(xs) - 11
    if i < len(xs) // 2:
        return f"no percentile above p50 has ten of the {len(xs)} samples beyond it"
    return f"p{100.0 * (i + 1) / len(xs):.1f} = {xs[i]:.4f} s over {len(xs)} samples"


def stop_spark(spark) -> None:
    """Stop the session and the JVM pyspark launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Run:
    """One client's closed loop over a workload's keys in one session."""

    def __init__(self, keys: list[str], fixture_dir: str, seed: int, tracer):
        self.keys, self.fixture = keys, fixture_dir
        self.rng = random.Random(seed)
        self.tracer = tracer
        self.spark = None
        self.results: dict = {}      # key -> collected pandas frame of the set-up pass
        self.errors: dict = {}       # key -> exception text
        self.first: dict[str, float] = {}  # key -> set-up pass latency
        self.attempted = self.failed = 0

    def setup(self) -> dict:
        from hive_test_spark import api, session

        t0 = time.perf_counter()
        self.spark = session.get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        self.qs = api.queries()
        self.oracle_sql = api.oracle_sql()
        t2 = time.perf_counter()
        for key in self.order():
            k0 = time.perf_counter()
            try:
                self.results[key] = self.qs[key](self.spark, self.fixture).toPandas()
            except Exception as e:  # a key that fails counts, the run goes on
                self.errors[key] = f"{type(e).__name__}: {e}"
            self.first[key] = time.perf_counter() - k0
        t3 = time.perf_counter()
        return {"setup_s": t3 - t0, "session.get_spark_s": t1 - t0, "registry.load_s": t2 - t1}

    def order(self) -> list[str]:
        keys = list(self.keys)
        self.rng.shuffle(keys)
        return keys

    def query(self, key: str, traced: bool) -> None:
        """Build the key's DataFrame and run it into Spark's noop sink. A
        traced query does the same work inside build and exec spans; its
        Catalyst phases come from the listener in CatalystPhases."""
        tr = self.tracer
        if not traced:
            self.qs[key](self.spark, self.fixture).write.mode("overwrite").format("noop").save()
            return
        tr.query = key
        with tr.span("query"):
            with tr.span("build"):
                df = self.qs[key](self.spark, self.fixture)
            with tr.span("exec"):
                df.write.mode("overwrite").format("noop").save()
        tr.query = None

    def passes(self, count: int, trace: bool) -> list[tuple[list[tuple[str, float, bool]], float, float]]:
        """``count`` passes over the keys; per pass, each key's latency and
        whether it ran traced, in run order, then the share of all CPU time
        the host stole meanwhile and the CPU seconds this machine was busy
        (details only). With ``trace``, pass p traces the keys whose place
        i in the workload's key list has i + p even."""
        out = []
        for p in range(count):
            done = []
            h0 = cpu_ticks()
            for key in self.order():
                traced = trace and (self.keys.index(key) + p) % 2 == 0
                self.tracer.enabled = traced
                q0 = time.perf_counter()
                self.attempted += 1
                try:
                    self.query(key, traced)
                except Exception as e:
                    self.failed += 1
                    self.errors.setdefault(key, f"{type(e).__name__}: {e}")
                done.append((key, time.perf_counter() - q0, traced))
            h1 = cpu_ticks()
            d = [b - a for a, b in zip(h0, h1)]
            out.append((done, d[1] / max(d[2], 1), d[0] / os.sysconf("SC_CLK_TCK")))
        self.tracer.enabled = False
        return out

    def check(self) -> dict:
        from hive_test_spark import oracle

        t0 = time.perf_counter()
        con = oracle.duck_connect(self.fixture)
        checks = {}
        try:
            for key in self.keys:
                if key not in self.results:
                    checks[key] = {"ok": False, "bitwise": False, "notes": [self.errors[key]]}
                elif key not in self.oracle_sql:
                    checks[key] = {"ok": False, "bitwise": False, "notes": ["no oracle SQL"]}
                else:
                    duck = con.execute(self.oracle_sql[key]).fetchdf()
                    checks[key] = oracle.compare(key, self.results[key], duck)
        finally:
            con.close()
        return {"checks": checks, "oracle.check_s": time.perf_counter() - t0}


def layer_metrics(run: Run, stream, catalyst, jobs: list[dict], execs: list[dict], passes: float) -> dict:
    """Per-layer metrics of the traced passes, each per pass."""
    spans = run.tracer.spans
    build = [(s.start, s.end) for s in spans if s.name == "build"]
    execw = [(s.start, s.end) for s in spans if s.name == "exec"]
    loads = [(s.start, s.end) for s in spans if s.name == "io.load_table"]
    queries = [(s.start, s.end) for s in spans if s.name == "query"]

    def within(t, windows):
        return t is not None and any(a <= t <= b for a, b in windows)

    def total(name):
        return sum(s.end - s.start for s in spans if s.name == name)

    q_jobs = [j for j in jobs if within(j["start"], queries)]
    e_jobs = [j for j in jobs if within(j["start"], execw)]
    q_execs = [e for e in execs if within(e["start"], queries)]
    batches = [d for t, d in stream.batches if within(t, queries)]
    exec_s = total("exec")
    cores = len(os.sched_getaffinity(0))

    def jsum(field, js=q_jobs):
        return sum(j[field] for j in js)

    m = {
        "session.tune_calls": run.tracer.counts.get("session.tune", 0),
        "session.tune_s": total("session.tune"),
        "io.load_table_calls": run.tracer.counts.get("io.load_table", 0),
        "io.load_table_s": total("io.load_table"),
        "io.load_table_jobs": sum(1 for j in jobs if within(j["start"], loads)),
        "io.read_parquet_calls": run.tracer.counts.get("io.read_parquet", 0),
        "build_s": total("build"),
        "build.jobs": sum(1 for j in jobs if within(j["start"], build)),
        **{m: sum(d for name, t, d in catalyst.phases if name == m and within(t, queries))
           for m in CatalystPhases.PHASES.values()},
        "plan.shuffle_exchanges": sum(e["shuffle_exchanges"] for e in q_execs),
        "plan.broadcast_exchanges": sum(e["broadcast_exchanges"] for e in q_execs),
        "exec_s": exec_s,
        "exec.jobs": len(e_jobs),
        "exec.stages": jsum("stages", e_jobs),
        "exec.tasks": jsum("tasks", e_jobs),
        "task.run_s": jsum("run_s"),
        "task.cpu_s": jsum("cpu_s"),
        "task.gc_s": jsum("gc_s"),
        "task.deser_s": jsum("deser_s"),
        "shuffle.write_bytes": jsum("shuffle_write"),
        "shuffle.read_bytes": jsum("shuffle_read"),
        "shuffle.fetch_wait_s": jsum("fetch_wait_s"),
        "spill.bytes": jsum("spill"),
        "scan.input_bytes": jsum("in_bytes"),
        "scan.input_rows": jsum("in_rows"),
        "sink.output_bytes": jsum("out_bytes"),
        "sink.output_rows": jsum("out_rows"),
        **{k: sum(e[k] for e in q_execs) for k in
           ("udf.worker_start_s", "udf.worker_run_s", "udf.bytes_to_python", "udf.bytes_from_python")},
        "stream.queries": sum(1 for t in stream.started if within(t, queries)),
        "stream.batches": len(batches),
        "stream.batch_s": sum(batches),
    }
    m = {k: v / passes for k, v in m.items()}
    m["exec.core_util"] = jsum("run_s", e_jobs) / (exec_s * cores) if exec_s else 0.0
    return m


def unit_of(name: str) -> str:
    if name in END_TO_END:
        return END_TO_END[name]
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if "bytes" in name:
        return "bytes"
    return "ratio" if name.endswith(("_util", "_ratio")) else "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Closed-loop benchmark of the query registry.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "hive_test_spark", "__init__.py")):
        print(f"hive_test_spark not found beside {HERE}", file=sys.stderr)
        return 2
    workloads = load_workloads()
    if a.workload not in workloads:
        print(f"unknown workload {a.workload!r}; known: {sorted(workloads)}", file=sys.stderr)
        return 2
    wl = workloads[a.workload]

    work = os.path.join(HERE, "_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    isolate(work, bool(a.trace))
    try:
        return measure(a, wl, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(a, wl: dict, work: str) -> int:
    fx_dir = os.path.join(work, "fixture")
    t0 = time.perf_counter()
    fingerprint = fixture.write(fx_dir, wl["fixture"]["sf"], a.seed, wl["fixture"].get("copies", 1))
    print(f"fixture sf={wl['fixture']['sf']} copies={wl['fixture'].get('copies', 1)} "
          f"sha256={fingerprint} ({time.perf_counter() - t0:.2f} s, not timed)", flush=True)

    tracer = Tracer()
    if a.trace:
        tracer.install()
    run = Run(wl["keys"], fx_dir, a.seed, tracer)
    try:
        result = run_workload(run, a, wl["pass_s"])
    finally:
        if run.spark is not None:
            stop_spark(run.spark)
    print(json.dumps(result))
    return 0


def run_workload(run: Run, a, pass_s: float) -> dict:
    setup = run.setup()
    # A fixed number of passes fills --seconds, so both sides of an A/B run
    # the same work. A traced run makes an even count, at least two, so that
    # every key runs traced in exactly half of the passes.
    count = max(1, round(a.seconds / pass_s))
    if a.trace:
        count = max(2, count - count % 2)
        stream, catalyst = StreamCounter(), CatalystPhases()
        run.spark.streams.addListener(stream.listener)
        catalyst.register(run.spark)
    timed = run.passes(count, trace=bool(a.trace))
    checked = run.check()
    checks = checked["checks"]
    failed = run.failed + sum(1 for c in checks.values() if not c["ok"])
    attempted = run.attempted + len(checks)
    lat = [t for p, *_ in timed for _, t, _ in p]
    walls = [sum(t for _, t, _ in p) for p, *_ in timed]
    metrics = {
        "setup_s": setup["setup_s"],
        "wall_s": statistics.median(walls),
        "query_p50_s": hd_median(lat),
        "ok_ratio": 1.0 - failed / attempted,
    }
    print("setup: " + json.dumps({k: round(v, 3) for k, v in setup.items()}), flush=True)
    print(f"timed: {len(lat)} queries in {len(walls)} passes; sample median {statistics.median(lat):.4f} s; "
          f"tail: {tail(lat)}", flush=True)
    print("timed passes (wall s, share of CPU time the host stole, busy CPU s): " + ", ".join(
        f"{w:.3f} {st:.3f} {cpu:.2f}" for w, (_, st, cpu) in zip(walls, timed)), flush=True)
    for key in run.keys:
        print(f"latency {key}: set-up pass {run.first.get(key, 0):.3f} s, timed "
              + " ".join(f"{t:.3f}{'T' if tr else ''}" for p, *_ in timed for k, t, tr in p if k == key),
              flush=True)
    for key, c in checks.items():
        print(f"oracle {key}: {'ok' if c['ok'] else 'FAIL'}"
              f"{' bitwise' if c['bitwise'] else ''} {'; '.join(c['notes'])[:300]}", flush=True)

    if a.trace:
        jobs, execs = spark_work(run.spark)
        runs = [(k, t, tr) for p, *_ in timed for k, t, tr in p]
        # per-layer totals are per pass: per traced run of every key
        per_pass = sum(tr for *_, tr in runs) / len(run.keys)
        metrics = layer_metrics(run, stream, catalyst, jobs, execs, per_pass)
        metrics.update({
            # pyspark starts spark-submit, which execs the driver JVM
            "jvm.peak_rss_mb": peak_rss_mb(run.spark.sparkContext._gateway.proc.pid),
            "session.get_spark_s": setup["session.get_spark_s"],
            "registry.load_s": setup["registry.load_s"],
            "oracle.check_s": checked["oracle.check_s"],
            "oracle.bitwise_ratio": sum(c["bitwise"] and c["ok"] for c in checks.values()) / len(checks),
            "trace.overhead_s": sum(
                statistics.mean(t for k, t, tr in runs if k == key and tr)
                - statistics.mean(t for k, t, tr in runs if k == key and not tr) for key in run.keys),
        })
        print("layer self time (s, whole traced window): " + json.dumps(
            {k: round(v, 4) for k, v in sorted(run.tracer.self_times().items())}), flush=True)
        run.tracer.dump(os.path.join(HERE, "_work", f"trace-{a.workload}-seed{a.seed}.json"))

    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
