#!/usr/bin/env python3
"""Steadiness evidence: repeated untraced runs of every workload, one seed each.

    python3 perfbench/steadiness.py --sets 2 --runs 10 --out perfbench/results/steadiness.json

Each set runs every workload ``--runs`` times with fresh seeds (set k uses
seeds k*1000+1 ... k*1000+runs), interleaving workloads so slow phases of
the host spread over all of them. For every end-to-end metric it reports
the median, the quartiles (``statistics.quantiles(n=4)``), the spread
(Q3 - Q1) / median, and how far each later set's median moved from the
first set's, as shares to compare with the metric's bound in BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload: str, seed: int, seconds: int, command: list[str]) -> dict:
    t0 = time.time()
    proc = subprocess.run(
        command + ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                   "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    wall = time.time() - t0
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    return {"workload": workload, "seed": seed, "returncode": proc.returncode, "wall_s": wall,
            "passes": [ln for ln in lines if ln.startswith("pass ")], "result": result}


def summarize(runs: list[dict], spec: dict) -> dict:
    out = {}
    sets = sorted({r["set"] for r in runs})
    for wl in [w["name"] for w in spec["workloads"]]:
        for m in spec["end_to_end"]:
            name = m["name"]
            row = {"bound": m["bound"], "sets": []}
            for s in sets:
                vals = [r["result"]["metrics"][name]["value"] for r in runs
                        if r["set"] == s and r["workload"] == wl and r["result"]]
                q1, med, q3 = statistics.quantiles(vals, n=4)
                row["sets"].append({"n": len(vals), "median": med, "q1": q1, "q3": q3,
                                    "spread": (q3 - q1) / med})
            base = row["sets"][0]["median"]
            sign = 1 if m["better"] == "lower" else -1
            row["worsening_vs_first"] = [sign * (x["median"] - base) / base for x in row["sets"][1:]]
            out[f"{wl}/{name}"] = row
        walls = [r["wall_s"] for r in runs if r["workload"] == wl]
        out[f"{wl}/run_wall_s"] = {"median": statistics.median(walls), "max": max(walls)}
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    command = [sys.executable] + spec["command"][1:]
    runs = []
    for s in range(1, args.sets + 1):
        for i in range(1, args.runs + 1):
            for w in spec["workloads"]:
                r = one_run(w["name"], s * 1000 + i, spec["run_seconds"], command)
                r["set"] = s
                runs.append(r)
                print(json.dumps({k: r[k] for k in ("set", "workload", "seed", "returncode", "wall_s")}),
                      flush=True)
    report = {"summary": summarize(runs, spec), "runs": runs}
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    for key, row in report["summary"].items():
        print(key, json.dumps(row))
    return 0 if all(r["result"] and r["result"]["correct"] for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
