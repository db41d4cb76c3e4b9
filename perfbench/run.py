"""Lakehouse benchmark: one run of one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
                             [--scale sf0.01|sf0.001]

Run from the repository root. The run starts a fresh Spark driver
process (``worker.py``) on ``local[<cores>]``, which sets up, runs a
cold pass and then warm passes of the workload's ops, each pass on its
own seed-permuted fixture copy, and checks every output against its
DuckDB twin; ``wall_s`` sums each op's low median over the warm
passes (see ``worker.py``). With ``--trace 0`` the last line of stdout
holds the end-to-end metrics, with ``--trace 1`` the per-layer ones
(see ``layers.py``).

Everything the run writes stays under ``.perfbench/`` in the current
directory: the per-run scratch (removed at the end), the DuckDB oracle
cache and one JSON record per run in ``.perfbench/out/`` with every
op's timings, failures and, when traced, its job counts and plan
digest.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["warehouse_reads", "ingest_merge_stream"]
END_TO_END = {"setup_s": "s", "wall_s": "s", "cold_wall_s": "s", "peak_rss_mb": "MB"}
# the worker's limit; stopping it takes up to 10 s more, within 180 s
RUN_DEADLINE_S = 160.0
DRIVER_MEM = "1g"


def _group_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _stop_group(pgid: int) -> None:
    """Stop every process of the worker's session and wait for them."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + 5
        while time.monotonic() < end:
            if not _group_alive(pgid):
                return
            time.sleep(0.05)


def _spawn(args, env, rundir: str, tag: str, timeout: float) -> tuple[dict | None, float]:
    """Run worker.py to completion; returns (its result, spawn time)."""
    out = os.path.join(rundir, f"{tag}.json")
    log = os.path.join(rundir, f"{tag}.log")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--scale", args.scale, "--rundir", os.path.join(rundir, tag),
        "--cache", os.path.join(args.state, "cache"), "--out", out,
    ]
    with open(log, "w") as logf:
        t_spawn = time.monotonic()
        proc = subprocess.Popen(
            cmd, env=env, cwd=ROOT, stdout=logf, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True,
        )
        try:
            proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            print(f"{tag}: timed out after {timeout:.0f} s", file=sys.stderr)
        finally:
            _stop_group(proc.pid)
            proc.wait()
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log, errors="replace") as f:
            tail = f.read()[-4000:]
        print(f"{tag} exited {proc.returncode}; log tail:\n{tail}", file=sys.stderr)
        return None, t_spawn
    with open(out) as f:
        return json.load(f), t_spawn


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", default="sf0.01", choices=["sf0.01", "sf0.001"])
    args = ap.parse_args()
    # a terminated launcher still stops its worker (see _spawn's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (os.path.isdir(os.path.join(ROOT, "beauty_lakehouse_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print("beauty_lakehouse_spark / __spark_entry__.py not found next to "
              "perfbench/: run from a full checkout of the repository", file=sys.stderr)
        return 2
    args.state = os.path.join(os.getcwd(), ".perfbench")
    rundir = os.path.join(args.state, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    tmp = os.path.join(rundir, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    cores = len(os.sched_getaffinity(0))
    env.update({
        # the Python workers import the package too
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(rundir, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
    })
    try:
        res, t_spawn = _spawn(args, env, rundir, "worker", RUN_DEADLINE_S)
        if res is None:
            return 1
    finally:
        shutil.rmtree(rundir, ignore_errors=True)

    if args.trace:
        import layers

        units = {name: unit for name, unit, *_ in layers.METRICS}
        metrics = {k: {"value": v, "unit": units[k]} for k, v in res["layers"].items()}
    else:
        values = {
            "setup_s": res["ready"] - t_spawn,
            "wall_s": res["wall_s"],
            "cold_wall_s": res["cold_wall_s"],
            "peak_rss_mb": res["peak_rss_mb"],
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    record = dict(res, setup_s=res["ready"] - t_spawn, args=vars(args))
    out_dir = os.path.join(args.state, "out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-{args.scale}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    for fail in res["failures"]:
        print(f"FAILED {fail['op']} (pass {fail['pass']}): {fail['error']}", file=sys.stderr)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
