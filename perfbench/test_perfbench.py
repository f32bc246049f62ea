"""Self-tests of the benchmark: a tiny-input smoke of each workload, end to
end and traced, and a run outside a checkout that must fail.

    python3 -m pytest perfbench -q        # about 5 minutes on 4 vCPUs
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from tracing import parse_metric, self_times  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)

SEED = 3
WORKLOADS = ["backfill", "ingest", "dashboard"]


def run_bench(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    prog, script, *fixed = BENCH["command"]
    cmd = [
        sys.executable, os.path.join(cwd, script), *fixed,
        "--workload", workload, "--seed", str(SEED), "--seconds", "2",
        "--trace", str(trace), "--size", "smoke",
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def last_json(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_present_and_correct(workload):
    out = last_json(run_bench(workload, 0))
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    got = out["metrics"]
    for m in BENCH["end_to_end"]:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert got[m["name"]]["value"] > 0, m["name"]
    assert got["success_rate"]["value"] == 1


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_spans_nest_and_cover_each_op(workload):
    out = last_json(run_bench(workload, 1))
    assert out["correct"] is True
    for m in BENCH["per_layer"]:
        assert out["metrics"][m["name"]]["unit"] == m["unit"], m["name"]
    with open(os.path.join(ROOT, ".perfbench_out", f"trace-{workload}-{SEED}.json")) as f:
        trace = json.load(f)
    spans = {s["id"]: s for s in trace["spans"]}
    for s in spans.values():
        assert s["start"] <= s["end"]
        if s["parent"] is not None:
            p = spans[s["parent"]]
            assert p["start"] <= s["start"] and s["end"] <= p["end"], (p["name"], s["name"])
    ops = [s for s in spans.values() if s["name"] == "op"]
    timed = [s for s in ops if not s["attrs"].get("setup")]
    assert len(timed) == len(trace["latencies_s"]) >= 1
    selft = self_times(list(spans.values()))

    def under(s, op):
        while s["parent"] is not None:
            s = spans[s["parent"]]
            if s is op:
                return True
        return False

    for op, lat in zip(timed, trace["latencies_s"]):
        assert abs((op["end"] - op["start"]) - lat) < 0.01  # the span is the op
    for op in ops:
        # the spans' self times add up to the op's wall time: every instant
        # is attributed exactly once
        total = selft[op["id"]] + sum(selft[s["id"]] for s in spans.values() if under(s, op))
        assert abs(total - (op["end"] - op["start"])) < 1e-6
    layers = {s["name"].split(".")[0] for s in spans.values() if any(under(s, op) for op in ops)}
    assert layers >= {
        "backfill": {"rollup", "compress"},
        "ingest": {"snapshots", "continuous", "tier_store"},
        "dashboard": {"slice", "decode", "m4", "tier_store", "snapshots", "continuous"},
    }[workload]


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the run must fail fast
    and print no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    p = run_bench("backfill", 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def test_parse_metric():
    assert parse_metric("1,234") == 1234
    assert parse_metric("total (min, med, max (stageId: taskId))\n1.5 s (1 ms, 2 ms, 3 ms)") == 1500
    assert parse_metric("2.0 KiB") == 2048


def test_self_times_subtract_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 5.0, "end": 6.0},
        {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},
    ]
    assert self_times(spans) == {0: 6.0, 1: 2.0, 2: 1.0, 3: 1.0}
