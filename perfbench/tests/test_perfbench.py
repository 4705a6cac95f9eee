"""Self-test of the benchmark: tiny runs of every workload through the CLI.

Run from the repository root (takes a few minutes; each run starts a JVM):

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import expect  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def bench(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    """Run one tiny workload; return (metric lines by name, final JSON)."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=400,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    shown = {}
    for line in lines[:-1]:
        if line.startswith("metric "):
            _, name, value, unit = line.split(" ")
            shown[name] = (float(value), unit)
    return shown, result


def _check_metrics(result: dict, spec: list[dict]) -> None:
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics(workload):
    shown, result = bench(workload, seed=11, trace=0)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    _check_metrics(result, SPEC["end_to_end"])
    assert all(result["metrics"][m]["value"] > 0 for m in result["metrics"])
    assert shown["fail_ratio"] == (0.0, "ratio")


@pytest.mark.parametrize("workload", WORKLOADS)
def test_per_layer_metrics(workload):
    _, result = bench(workload, seed=12, trace=1)
    assert result["correct"]
    _check_metrics(result, SPEC["per_layer"])
    values = {k: v["value"] for k, v in result["metrics"].items()}
    assert values["trace.overhead_ratio"] > 0
    # the calls' spans account for the traced pass time
    assert 0.9 <= values["trace.span_coverage"] <= 1.0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_seeds_change_inputs_not_sizes(workload, tmp_path):
    size = workloads.SIZES[workload]["tiny"]
    stage = workloads.WORKLOADS[workload]["stage"]
    a = stage(1, size, str(tmp_path / "a"))
    b = stage(2, size, str(tmp_path / "b"))
    assert a.keys() == b.keys()
    # batch sizes follow the seeded split; their total does not
    assert sum(map(expect.parquet_rows, a.values())) == sum(map(expect.parquet_rows, b.values()))
    assert expect.input_fingerprint(list(a.values())) != expect.input_fingerprint(list(b.values()))


def test_wrong_expected_digest_is_a_failure(tmp_path):
    workload, seed = WORKLOADS[0], 987_654
    size = workloads.SIZES[workload]["tiny"]
    hooks = workloads.WORKLOADS[workload]
    paths = hooks["stage"](seed, size, str(tmp_path))
    expected = json.loads(json.dumps(hooks["expect"](seed, size, paths)))
    wrong = [[-1] * len(e) if isinstance(e, list) else -1 for e in expected]
    path = os.path.join(run.STATE, "expect", f"{workload}-tiny-{seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(wrong, f)
    try:
        shown, result = bench(workload, seed=seed, trace=0)
    finally:
        os.remove(path)
    assert not result["correct"]
    assert result["failed"] == result["attempted"]
    assert shown["fail_ratio"] == (1.0, "ratio")
