"""Smoke run of the benchmark on the smallest tables (sf0.001).

    python3 perfbench/smoke.py

For every workload, once untraced and once traced, it checks that the
run completes with every result correct, that every metric named in
``BENCHMARK.json`` prints with its unit, and that in the traced run the
build, plan and execute spans cover each query's wall time (and the
store-call spans each batch's). Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_COVERAGE = 0.9


def main() -> int:
    sys.path.insert(0, HERE)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [*spec["command"], "--workload", w["name"], "--seed", "7",
                   "--seconds", "1", "--trace", str(trace),
                   "--scale", "sf0.001"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True,
                               text=True, timeout=600)
            lines = p.stdout.strip().splitlines()
            label = f"{w['name']} trace={trace}"
            if p.returncode != 0 or not lines:
                print(f"FAIL {label}: exit {p.returncode}\n{p.stdout}\n"
                      f"{p.stderr[-4000:]}")
                return 1
            out = json.loads(lines[-1])
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {n: m["unit"] for n, m in out["metrics"].items()}
            if got != want or not out["correct"] or out["failed"]:
                print(f"FAIL {label}: {lines[-1]}")
                return 1
            for name in want:
                if not any(line.split()[:1] == [name] for line in lines):
                    print(f"FAIL {label}: {name} not printed")
                    return 1
            if trace:
                cover = out["metrics"]["trace.coverage_min"]["value"]
                if cover < MIN_COVERAGE:
                    print(f"FAIL {label}: spans cover {cover:.3f} of a "
                          f"query's wall (< {MIN_COVERAGE})")
                    return 1
            print(f"ok   {label}: {out['attempted']} operations checked",
                  flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
