"""Smoke test of the benchmark at a tiny size.

    python3 perfbench/smoke.py

Run from the repository root. Every workload runs once untraced and once
traced on 4 entities x 2,000 minutes; each run must print every metric
BENCHMARK.json names for its mode, be correct and fail nothing. Exits
non-zero on the first problem.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    want = {0: {m["name"] for m in bench["end_to_end"]},
            1: {m["name"] for m in bench["per_layer"]}}
    problems = []
    for wl in (w["name"] for w in bench["workloads"]):
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                   "--seed", "1", "--seconds", "1", "--trace", str(trace),
                   "--entities", "4", "--minutes", "2000"]
            p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            tag = f"{wl} trace={trace}"
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {p.returncode}: {p.stderr[-1500:]}")
                continue
            res = json.loads(lines[-1])
            got = set(res["metrics"])
            if got != want[trace]:
                problems.append(f"{tag}: missing {sorted(want[trace] - got)}, "
                                f"extra {sorted(got - want[trace])}")
            if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
                problems.append(f"{tag}: correct={res['correct']} "
                                f"failed={res['failed']}/{res['attempted']}")
            print(f"{tag}: {len(got)} metrics, {res['failed']}/{res['attempted']} failed",
                  flush=True)
    for p in problems:
        print("FAIL " + p, file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
