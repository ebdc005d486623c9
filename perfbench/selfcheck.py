"""Self-check of the benchmark, kept with it.

Runs every workload at ``--size tiny`` (a few seconds of work each) and
requires a correct result with no failures; then injects faults and
requires ``failed > 0``: a wrong row written into the sink table (both
workloads) and a dropped query result in the plans sweep of a traced
run. A tiny traced run must report only per-layer metrics that
``BENCHMARK.json`` lists, and every one of them apart from the per-query
``plans.*`` times of queries the tiny sweep leaves out.

Usage, from the repository root:

    python3 perfbench/selfcheck.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# (workload, fault, trace)
CASES = (
    ("cdc_stream", "none", 0),
    ("cdc_drain", "none", 0),
    ("cdc_stream", "wrong_row", 0),
    ("cdc_drain", "wrong_row", 0),
    ("cdc_drain", "drop_result", 1),
)


def run(workload: str, fault: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "2", "--trace", str(trace), "--size", "tiny", "--fault", fault]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise SystemExit(f"{workload}/{fault}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    problems = []
    for workload, fault, trace in CASES:
        res = run(workload, fault, trace)
        ok = (res["failed"] == 0 and res["correct"]) if fault == "none" else res["failed"] > 0
        print(f"{workload:12} fault={fault:12} trace={trace} attempted={res['attempted']} failed={res['failed']} "
              f"correct={res['correct']} -> {'ok' if ok else 'PROBLEM'}")
        if not ok:
            problems.append(f"{workload}/{fault}")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        listed = {m["name"] for m in json.load(fh)["per_layer"]}
    got = set(run("cdc_drain", "none", trace=1)["metrics"])
    extra = got - listed
    missing = {m for m in listed - got if not (m.startswith("plans.") and m.count(".") == 2)}
    print(f"traced cdc_drain: {len(got)} per-layer metrics, unlisted {sorted(extra)}, missing {sorted(missing)}")
    if extra or missing:
        problems.append("per-layer metric names")
    if problems:
        print(f"SELF-CHECK FAILED: {problems}")
        return 1
    print("self-check passed")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
