"""Self-checks of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q -m ""

The ``slow`` tests start Spark (about a minute per run); the repository's
pytest.ini deselects them by default.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import fixture  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")
# Counters a performance claim may rest on; each must repeat exactly
# between two runs of one seed unless listed in layers.VARYING_COUNTERS.
COUNTERS = ("exec.jobs", "exec.stages", "exec.tasks", "io.load_table_jobs", "io.load_table_calls",
            "io.read_parquet_calls", "build.jobs", "session.tune_calls", "shuffle.write_bytes",
            "shuffle.read_bytes", "plan.shuffle_exchanges", "plan.broadcast_exchanges",
            "scan.input_rows", "stream.batches")


def bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_bench(workload: str, seed: int, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = bench_json()["command"] + ["--workload", workload, "--seed", str(seed),
                                     "--seconds", str(bench_json()["run_seconds"]), "--trace", str(trace)]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=180)


def result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    return out


def test_fixture_seed_permutes_rows_only(tmp_path):
    a = fixture.write(str(tmp_path / "a"), 0.001, seed=1)
    assert fixture.write(str(tmp_path / "b"), 0.001, seed=1) == a
    assert fixture.write(str(tmp_path / "c"), 0.001, seed=2) != a
    import pyarrow.parquet as pq

    for t in ("lineitem", "documents"):
        x = pq.read_table(tmp_path / "a" / f"{t}.parquet").to_pandas()
        y = pq.read_table(tmp_path / "c" / f"{t}.parquet").to_pandas()
        cols = list(x.columns)
        assert x.sort_values(cols).reset_index(drop=True).equals(
            y.sort_values(cols).reset_index(drop=True))


def test_replicate_keeps_foreign_keys():
    tabs = fixture.tables(0.001)
    big = fixture.replicate(tabs, 3)
    orders = big["orders"]["o_orderkey"].to_pylist()
    assert len(orders) == 3 * tabs["orders"].num_rows == len(set(orders))
    assert set(big["lineitem"]["l_orderkey"].to_pylist()) <= set(orders)
    assert big["customer"] is tabs["customer"]


def test_parse_sql_metric_text():
    assert layers._parse_total("2.3 s", layers._TIME_UNITS) == 2.3
    assert layers._parse_total("total (min, med, max (stageId: taskId))\n1,024.0 KiB (1.0 KiB, ...)",
                               layers._SIZE_UNITS) == 1024 * 1024
    assert layers._parse_total("953 ms", layers._TIME_UNITS) == pytest.approx(0.953)


def test_exchange_count_reads_final_plan_only():
    plan = ("== Physical Plan ==\nAdaptiveSparkPlan (9)\n+- == Final Plan ==\n"
            "   ShuffleQueryStage (3)\n   +- Exchange (2)\n      +- BroadcastExchange (1)\n"
            "+- == Initial Plan ==\n   Exchange (5)\n   +- Exchange (4)\n\n\n(1) Exchange\n")
    assert layers._exchanges(plan) == (1, 1)


def test_hd_median_moves_smoothly():
    assert run.hd_median([0.7]) == 0.7
    assert run.hd_median([1.0, 2.0, 3.0]) == pytest.approx(2.0)
    # two clusters of latencies; one query moves from the upper to the lower
    a, b = [0.3] * 8 + [0.9] * 8, [0.3] * 9 + [0.9] * 7
    assert run.hd_median(a) == pytest.approx(0.6)
    assert 0.3 < run.hd_median(b) < 0.6
    assert run.hd_median(a) - run.hd_median(b) < (0.6 - 0.3) / 2


def test_benchmark_json_names():
    b = bench_json()
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + [w["name"] for w in b["workloads"]]
    assert all(NAME.fullmatch(n) for n in names)
    assert len(names) == len(set(names))
    assert set(run.END_TO_END) == {m["name"] for m in b["end_to_end"]}
    with open(os.path.join(HERE, "workloads.json")) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in b["per_layer"]] == list(spec["metric_map"])
    assert [w["name"] for w in b["workloads"]] == list(spec["workloads"])
    for m in spec["metric_map"].values():
        assert set(m["moves"]) <= set(run.END_TO_END)
        assert set(m["on"]) <= set(spec["workloads"])


@pytest.mark.slow
def test_traced_counters_repeat():
    """Two traced runs of interactive_sql with one seed: every emitted name
    is well-formed, every per-layer metric is present, and every counter
    repeats exactly unless it is listed as varying."""
    runs = [result(run_bench("interactive_sql", 7, trace=1)) for _ in range(2)]
    expected = {m["name"] for m in bench_json()["per_layer"]}
    for r in runs:
        assert r["correct"] and r["failed"] == 0
        assert set(r["metrics"]) == expected
        assert all(NAME.fullmatch(k) and NAME.fullmatch(v["unit"]) for k, v in r["metrics"].items())
    a, b = (r["metrics"] for r in runs)
    assert a["io.load_table_jobs"]["value"] > 0
    differ = {k for k in COUNTERS if a[k]["value"] != b[k]["value"]}
    assert differ <= set(layers.VARYING_COUNTERS), differ


@pytest.mark.slow
def test_untraced_run_reports_end_to_end():
    r = result(run_bench("write_stream", 5, trace=0))
    assert r["correct"] and r["failed"] == 0
    assert set(r["metrics"]) == set(run.END_TO_END)
    assert all(v["value"] > 0 for v in r["metrics"].values())


def test_fails_without_program(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark's files,
    the command exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("_work", "__pycache__"))
    proc = run_bench("interactive_sql", 1, trace=0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert "metrics" not in proc.stdout
