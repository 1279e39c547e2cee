#!/usr/bin/env python3
"""Run one workload on several seeds and print each end-to-end metric's
median and quartile spread (Q3 - Q1 as a share of the median).

    python3 perfbench/spread.py --workload dedup --seeds 1-10

Each seed is one untraced ``run.py`` run with ``run_seconds`` from
BENCHMARK.json. Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    args = ap.parse_args()
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        proc = subprocess.run(cmd, capture_output=True, text=True, cwd=HERE.parent)
        if proc.returncode != 0:
            print(proc.stderr[-2000:], file=sys.stderr)
            return 1
        lines = proc.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']} {lines[-2]}")
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        print(f"{name}: median {med:.4g}  spread {(q3 - q1) / med:.3f}  values {[round(v, 4) for v in vs]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
