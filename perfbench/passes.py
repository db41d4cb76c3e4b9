"""Passes over a workload: every op once, timed from its build call
until its result is collected on the driver, then checked outside the
timed region."""

from __future__ import annotations

import os
import statistics
import time
import traceback
from collections import defaultdict

import collector
import inputs
import verify
import workloads


def materialize(res):
    """Collect a build result on the driver (inside the timed region)."""
    from pyspark.sql import DataFrame

    if isinstance(res, DataFrame):
        return (res, res.collect())
    if isinstance(res, dict):
        return {k: materialize(v) for k, v in res.items()}
    return res


def as_rows(res):
    """(columns, dtypes, row tuples) for checking, outside the timed region."""
    if isinstance(res, tuple) and len(res) == 2 and isinstance(res[1], list):
        df, rows = res
        return (df.columns, df.dtypes, [tuple(r) for r in rows])
    if isinstance(res, dict):
        return {k: as_rows(v) for k, v in res.items()}
    return res


class Runner:
    def __init__(self, args, spark):
        self.args = args
        self.spark = spark
        self.ops = workloads.ops_for(args.workload)
        self.oracles = verify.Oracles(args.scale, args.cache)
        n_batches = workloads.WORKLOADS[args.workload].get("merge_batches", 0)
        self.batches = inputs.merge_batches(args.scale, args.seed, n_batches) if n_batches else []
        self.attempted = 0
        self.failures: list[dict] = []
        self.records: list[dict] = []

    def run_pass(
        self, pass_no: int, tracer=None, parity: int | None = None
    ) -> tuple[float, workloads.Pass]:
        """Run every op once (run-once ops in pass 1 only); returns
        (wall seconds, the pass).

        With a ``tracer``, the run-once ops and the ops whose index has
        the given ``parity`` run traced: the collector is switched on
        for them alone, and their span (``span_s``) includes all of its
        work."""
        a, spark = self.args, self.spark
        fx = inputs.write_copy(a.scale, os.path.join(a.rundir, f"fx{pass_no}"), a.seed, pass_no)
        batch_paths = (
            inputs.write_merge_batches(self.batches, os.path.join(fx, "merge"))
            if self.batches else []
        )
        p = workloads.Pass(
            spark, fx, os.path.join(a.rundir, f"work{pass_no}"), a.scale,
            batch_paths, self.oracles,
        )
        os.makedirs(p.work)
        results = []
        t_first = time.perf_counter()
        for i, op in enumerate(self.ops):
            if op.once and pass_no > 1:
                continue
            spark.sparkContext.setJobGroup(op.name, f"{a.workload} pass {pass_no}")
            traced = tracer is not None and (op.once or i % 2 == parity)
            rec = {
                "pass": pass_no, "index": i, "op": op.name, "module": op.module, "traced": traced,
            }
            self.attempted += 1
            t_span = time.perf_counter()
            before = tracer.begin() if traced else None
            e0 = time.time()
            t0 = time.perf_counter()
            res = err = None
            try:
                built = op.build(p)
                t1 = time.perf_counter()
                mid = tracer.probe.mark()[0] if traced else None
                t2 = time.perf_counter()
                res = materialize(built)
                t3 = time.perf_counter()
            except Exception:
                err = traceback.format_exc(limit=3)
                t1 = t2 = t3 = time.perf_counter()
                mid = None
            rec["build_s"], rec["exec_s"] = t1 - t0, t3 - t2
            if traced:
                tracer.after_op(rec, before, mid, e0, time.time())
            rec["span_s"] = time.perf_counter() - t_span
            results.append((op, res, err, rec))
        wall = time.perf_counter() - t_first
        for op, res, err, rec in results:
            if err is None:
                try:
                    err = op.check(p, as_rows(res))
                except Exception:
                    err = "check raised: " + traceback.format_exc(limit=3)
            if err:
                rec["error"] = err
                self.failures.append(rec)
            self.records.append(rec)
        return wall, p

    def warm_op_wall(self) -> float:
        """The sum over ops of each op's low median time (build call to
        collected result) over the warm passes."""
        times: dict[str, list[float]] = defaultdict(list)
        for rec in self.records:
            if rec["pass"] > 1:
                times[rec["op"]].append(rec["build_s"] + rec["exec_s"])
        return sum(statistics.median_low(v) for v in times.values())


class Tracer:
    """Collector for traced ops: wrappers, listener, status stores.
    ``begin``/``after_op`` switch it on and off around one op."""

    def __init__(self, spark, wrappers: collector.Wrappers):
        self.spark = spark
        self.wrappers = wrappers
        self.probe = collector.SparkProbe(spark)
        self.listener = collector.StreamListener()
        self.acc: dict[str, float] = defaultdict(float)
        wrappers.acc.clear()

    def begin(self):
        self.wrappers.install_layers()
        self.spark.streams.addListener(self.listener)
        return self.probe.mark()

    def after_op(self, rec: dict, before, mid, e0: float, e1: float) -> None:
        after = self.probe.mark()
        self.spark.streams.removeListener(self.listener)
        self.wrappers.uninstall()
        got = self.probe.collect(
            before, mid if mid is not None else after[0], after,
            e0, e1, rec["build_s"] + rec["exec_s"],
        )
        rec["plan"] = got.pop("plan")
        rec.update({k: v for k, v in got.items() if k in ("spark.jobs", "operators.build_jobs")})
        for k, v in got.items():
            self.acc[k] += v
        self.listener.take_state()

    def totals(self) -> dict[str, float]:
        out = defaultdict(float, self.acc)
        for src in (self.wrappers.acc, self.listener.acc):
            for k, v in src.items():
                out[k] += v
        return out
