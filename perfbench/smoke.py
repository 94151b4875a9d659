#!/usr/bin/env python3
"""Smoke test: every workload, untraced and traced, at the tiny ``smoke``
size. Checks exit status, ``correct`` and that every metric value is a
number.

    python3 perfbench/smoke.py        # from the repository root, ~3 min
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bad = 0
    for wl in (w["name"] for w in bench["workloads"]):
        for trace in (0, 1):
            cmd = bench["command"] + ["--workload", wl, "--seed", "7", "--seconds", "2",
                                      "--trace", str(trace), "--scale", "smoke"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            problems = []
            if proc.returncode != 0 or not lines:
                problems.append(f"exit {proc.returncode}: {proc.stderr[-1500:]}")
            else:
                res = json.loads(lines[-1])
                if not res["correct"] or res["failed"]:
                    problems.append(f"not correct: {json.loads(lines[-2]).get('failures')}")
                if any(not isinstance(v["value"], (int, float)) for v in res["metrics"].values()):
                    problems.append("non-numeric metric value")
            print(f"{wl} trace={trace}: {'ok' if not problems else 'FAIL'}", *problems, sep="\n  ")
            bad += bool(problems)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
