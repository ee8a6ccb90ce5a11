"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py [--seed N]

Runs every workload of BENCHMARK.json once untraced and once traced,
each for a single timed pass, and fails (exit 1) unless every run exits
0, reports ``correct`` with no failed op, and prints every metric that
BENCHMARK.json names for that mode with its unit. It also prints the
tracing overhead on ``wall_s`` (traced minus untraced, one pass each).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(cmd: list[str], workload: str, seed: int, trace: int) -> dict:
    argv = cmd + ["--workload", workload, "--seed", str(seed), "--seconds", "1", "--trace", str(trace)]
    proc = subprocess.run(argv, cwd=ROOT, capture_output=True, text=True, timeout=180)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} trace={trace}: exit code {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    cmd = [sys.executable if c in ("python", "python3") else c for c in bench["command"]]
    problems = []
    for w in bench["workloads"]:
        walls = {}
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = _run(cmd, w["name"], args.seed, trace)
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{w['name']} trace={trace}: {res['failed']} of {res['attempted']} ops failed")
            for m in bench[key]:
                got = res["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
                    problems.append(f"{w['name']} trace={trace}: metric {m['name']} missing or without unit {m['unit']}")
            walls[trace] = res["metrics"].get("wall_s" if trace == 0 else "trace.wall_s", {}).get("value")
        if None not in walls.values():
            print(f"{w['name']}: wall_s {walls[0]:.3f} s untraced, {walls[1]:.3f} s traced, "
                  f"overhead {walls[1] - walls[0]:+.3f} s")
    for p in problems:
        print("FAIL", p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
