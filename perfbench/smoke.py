"""Fast smoke run of the benchmark at sf0.001.

    python3 perfbench/smoke.py

Runs every workload once untraced and once traced on the smallest
fixture and checks that each run is correct and emits exactly the
metrics BENCHMARK.json names, with their units. Exits non-zero on the
first problem.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sys.path[:0] = [HERE, ROOT]
    import layers
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    if want[1] != {name: unit for name, unit, *_ in layers.METRICS}:
        print("BENCHMARK.json per_layer differs from layers.METRICS", file=sys.stderr)
        return 1
    modules = {op.module for w in workloads.WORKLOADS for op in workloads.ops_for(w)}
    stray = modules - set(layers.OPERATOR_MODULES) - {"pipeline", "tables", "delta_log"}
    if stray:
        print(f"op modules without per-layer metrics: {sorted(stray)}", file=sys.stderr)
        return 1
    for w in (x["name"] for x in bench["workloads"]):
        for trace in (0, 1):
            cmd = [
                sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                "--seed", "1", "--seconds", "1", "--trace", str(trace), "--scale", "sf0.001",
            ]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w} trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}", file=sys.stderr)
                return 1
            res = json.loads(lines[-1])
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            bad = [k for k, v in res["metrics"].items()
                   if not isinstance(v["value"], (int, float)) or not math.isfinite(v["value"])]
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                print(f"{w} trace={trace}: not correct: {res}\n{p.stderr[-3000:]}", file=sys.stderr)
                return 1
            if got != want[trace] or bad:
                print(f"{w} trace={trace}: metrics differ from BENCHMARK.json: "
                      f"missing {sorted(set(want[trace]) - set(got))}, "
                      f"extra {sorted(set(got) - set(want[trace]))}, non-finite {bad}",
                      file=sys.stderr)
                return 1
            print(f"ok {w} trace={trace}: {len(got)} metrics, {res['attempted']} ops")
    return 0


if __name__ == "__main__":
    sys.exit(main())
