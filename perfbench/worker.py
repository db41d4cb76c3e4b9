"""One benchmark run inside one Spark driver process (started by run.py).

Closed loop, one client, one op at a time:

1. set up: ``get_spark()`` and a first fixture scan through
   ``catalog.load``; the launcher times this from the interpreter's
   start to the ready time this process reports;
2. cold pass: every op of the workload once, on its own fixture copy;
3. warm passes, each on a fresh copy, until ``--seconds`` of timed
   work has accumulated and at least ``MIN_WARM_PASSES`` have run; ops
   marked run-once are left out. ``wall_s`` sums, over the ops, each
   op's low median over the warm passes: with two passes, its faster
   one, mostly the second, since the ops keep speeding up over the
   first warm passes. With ``--trace 1`` there are exactly two warm
   passes instead: every op runs traced in one of them and untraced in
   the other (even-indexed ops traced in the first, odd-indexed in the
   second), so the trace overhead compares each op with itself at
   balanced positions; run-once ops run traced in the cold pass.
"""

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import collector  # noqa: E402

MIN_WARM_PASSES = 2


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--scale", required=True)
    ap.add_argument("--rundir", required=True)
    ap.add_argument("--cache", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    wrappers = collector.Wrappers() if args.trace else None
    if wrappers:
        wrappers.install_setup()
    from beauty_lakehouse_spark import catalog, session
    from beauty_lakehouse_spark.session import get_spark

    # the managed-table location is a deployment path: keep it in the run dir
    session.DEFAULT_CONF["spark.sql.warehouse.dir"] = os.path.join(args.rundir, "warehouse")

    spark = get_spark("perfbench")
    catalog.load(spark, os.path.join(HERE, "fixtures", args.scale)).lineitem.count()
    out: dict = {"ready": time.monotonic()}

    # the benchmark's own modules load after set-up, outside setup_s
    import layers
    from passes import Runner, Tracer

    setup_acc = {}
    if wrappers:
        setup_acc = dict(wrappers.acc)
        wrappers.uninstall()
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    runner = Runner(args, spark)

    tracer = Tracer(spark, wrappers) if args.trace else None
    cold_wall, cold = runner.run_pass(1, tracer)
    spark.catalog.clearCache()
    warm = []
    if tracer:
        passes = {1: cold}
        for pass_no, parity in ((2, 0), (3, 1)):
            _, passes[pass_no] = runner.run_pass(pass_no, tracer, parity)
            spark.catalog.clearCache()
        out["layers"] = layers.per_layer(
            tracer.totals(), setup_acc, runner.records, passes,
            spark.sparkContext.defaultParallelism,
        )
    else:
        while len(warm) < MIN_WARM_PASSES or sum(warm) < args.seconds:
            w, _ = runner.run_pass(2 + len(warm))
            spark.catalog.clearCache()
            warm.append(w)
        out["wall_s"] = runner.warm_op_wall()
    out.update({
        "cold_wall_s": cold_wall,
        "warm_walls": warm,
        "attempted": runner.attempted,
        "failed": len(runner.failures),
        "failures": runner.failures,
        "peak_rss_mb": collector.vm_hwm_mb(jvm_pid) + collector.vm_hwm_mb(),
        "ops": runner.records,
    })
    return _write(args.out, out)


def _write(path: str, obj: dict) -> int:
    with open(path, "w") as f:
        json.dump(obj, f, default=str)
    return 0


if __name__ == "__main__":
    rc = main()
    sys.stdout.flush()
    # The launcher stops the JVM with the rest of this process group;
    # a clean SparkContext shutdown would only add to the run time.
    os._exit(rc)
