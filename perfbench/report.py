"""Print every metric of every workload, by name and unit.

    python3 perfbench/report.py --seed 1

Runs ``run.py`` for each workload in BENCHMARK.json, untraced and traced,
with the benchmark's own ``run_seconds``, and prints one line per metric.
Exits non-zero if a run fails or reports incorrect output.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ok = True
    for wl in spec["workloads"]:
        for trace in (0, 1):
            p = subprocess.run(
                [sys.executable, os.path.join(BENCH_DIR, "run.py"),
                 "--workload", wl["name"], "--seed", str(args.seed),
                 "--seconds", str(spec["run_seconds"]), "--trace", str(trace)],
                cwd=ROOT, stdout=subprocess.PIPE, text=True,
            )
            lines = p.stdout.strip().splitlines()
            if p.returncode or not lines:
                print(f"{wl['name']} trace={trace}: run failed ({p.returncode})")
                ok = False
                continue
            res = json.loads(lines[-1])
            ok &= res["correct"]
            print(f"# {wl['name']} trace={trace} correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']}")
            for name, m in res["metrics"].items():
                print(f"{wl['name']:14s} {name:32s} {m['value']:14.4f} {m['unit']}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
