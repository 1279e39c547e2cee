#!/usr/bin/env python3
"""Smoke test of the benchmark itself: every workload at a few thousand
pages for one measured pass, traced, plus one untraced run. Each run must
pass its output checks and report exactly the metric names BENCHMARK.json
lists. Takes a few minutes.

    python3 perfbench/smoke.py

Run from the repository root; exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PAGES = {"suite_validate": 3000, "suite_commit_resume": 3000, "dedup": 3000}


def run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "0", "--min-passes", "1", "--trace", str(trace),
           "--pages", str(PAGES[workload])]
    proc = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT, timeout=600)
    if proc.returncode != 0:
        sys.exit(f"{workload} trace={trace}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def expect_result(res: dict, names: set[str], what: str) -> None:
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit(f"{what}: result keys {sorted(res)}")
    if not res["correct"] or res["failed"]:
        sys.exit(f"{what}: output checks failed: {res['failed']} of {res['attempted']}")
    got = set(res["metrics"])
    if got != names:
        sys.exit(f"{what}: missing {sorted(names - got)}, unexpected {sorted(got - names)}")
    print(f"{what}: ok ({res['attempted']} passes, {len(got)} metrics)")


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = [w["name"] for w in bench["workloads"]]
    if sorted(workloads) != sorted(PAGES):
        sys.exit(f"BENCHMARK.json workloads {workloads} != {sorted(PAGES)}")
    end_to_end = {m["name"] for m in bench["end_to_end"]}
    per_layer = {m["name"] for m in bench["per_layer"]}
    expect_result(run("suite_validate", 0), end_to_end, "suite_validate untraced")
    for w in workloads:
        expect_result(run(w, 1), per_layer, f"{w} traced")
    return 0


if __name__ == "__main__":
    sys.exit(main())
