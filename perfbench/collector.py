"""Per-layer collector for traced runs.

Everything here observes the program from outside:

- ``Wrappers`` times calls into the public functions of the program's
  layer modules (``session``, ``catalog``, ``pipeline``, ``datagen``,
  ``sources``, ``tables``, ``delta_log``, ``streaming.*``) by
  rebinding them, for the duration of a traced op, in every loaded
  module of the package.
- ``SparkProbe`` reads each op's jobs, stages and SQL executions from
  Spark's status stores right after the op (``statusTracker`` /
  ``AppStatusStore`` for jobs and stages, the SQL status store for the
  Python-worker metrics and the final adaptive plan).
- ``StreamListener`` is a ``StreamingQueryListener`` that sums
  micro-batch progress.
- ``vm_hwm_mb`` reads a process's peak resident set from ``/proc``.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import re
import sys
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class Wrappers:
    """Inclusive wall time (and a few counts) of calls into the layer
    modules' public functions, accumulated into ``self.acc``."""

    def __init__(self):
        self.acc: dict[str, float] = defaultdict(float)
        self._patched: list[tuple[object, str, object]] = []
        self._depth: dict[str, int] = defaultdict(int)
        self._pending: dict[int, tuple[object, object]] = {}
        self._layers: list | None = None

    def _timed(self, metric: str, fn, after=None):
        acc = self.acc
        depth = self._depth

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            # a call made inside another call to the same metric's
            # functions is already in the outer call's time
            depth[metric] += 1
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                depth[metric] -= 1
                if not depth[metric]:
                    acc[metric] += time.perf_counter() - t0
            if after is not None:
                after(out, *args, **kwargs)
            return out

        return wrapper

    def wrap(self, module, fname: str, metric: str, after=None) -> None:
        orig = getattr(module, fname)
        self._pending[id(orig)] = (orig, self._timed(metric, orig, after))

    def _bind(self) -> list[tuple[object, str, object, object]]:
        """Every (module, attribute, original, wrapper) of the pending
        wrappers in the loaded modules of the package, in one sweep."""
        targets = []
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "")
            if not (name.startswith("beauty_lakehouse_spark") or name == "__spark_entry__"):
                continue
            for attr, val in list(vars(mod).items()):
                hit = self._pending.get(id(val))
                if hit is not None and hit[0] is val:
                    targets.append((mod, attr, val, hit[1]))
        self._pending.clear()
        return targets

    def _install(self, targets) -> None:
        for mod, attr, orig, wrapped in targets:
            setattr(mod, attr, wrapped)
            self._patched.append((mod, attr, orig))

    def install_setup(self) -> None:
        from beauty_lakehouse_spark import catalog, session

        self.wrap(session, "get_spark", "session.get_spark_s")
        self.wrap(catalog, "load", "catalog.load_s")
        self._install(self._bind())
        orig = catalog.Catalog.table
        catalog.Catalog.table = self._timed("catalog.load_s", orig)
        self._patched.append((catalog.Catalog, "table", orig))

    def install_layers(self) -> None:
        """Wrap the layer modules' functions. The targets are found on
        the first call and reused; the first traced op comes after the
        untraced ops of the cold pass have imported every module the
        workload uses."""
        if self._layers is None:
            self._layers = self._layer_targets()
        self._install(self._layers)

    def _layer_targets(self):
        from beauty_lakehouse_spark import datagen, delta_log, pipeline, sources, tables
        from beauty_lakehouse_spark.streaming import pipelines, stateful

        acc = self.acc
        self.wrap(pipeline, "run_lakehouse_pipeline", "pipeline.lakehouse_s")
        self.wrap(datagen, "generate", "pipeline.datagen_s")
        for fname in (
            "write_csv", "read_csv", "write_curated", "read_curated",
            "validate_curated", "write_metadata",
        ):
            self.wrap(sources, fname, "pipeline.sources_s")

        def written(version, _first, path, *_a, **_k):
            # write_versioned(df, path, ...) and merge_upsert(spark, path, ...)
            acc["tables.bytes_written"] += dir_bytes(os.path.join(path, f"v{version:08d}"))

        self.wrap(tables, "write_versioned", "tables.write_versioned_s", written)
        self.wrap(tables, "merge_upsert", "tables.merge_s", written)
        self.wrap(tables, "read_versioned", "tables.read_versioned_s")
        self.wrap(tables, "table_changes", "tables.table_changes_s")
        self.wrap(delta_log, "validate_delta_log", "delta_log.validate_s")

        def count_commit(*_a, **_k):
            acc["delta_log.commits"] += 1

        self.wrap(delta_log, "write_commit", "delta_log.write_commit_s", count_commit)

        orig_drain = pipelines.run_available_now

        @functools.wraps(orig_drain)
        def drain(result, *args, **kwargs):
            plan = result._jdf.queryExecution().analyzed().toString()
            layer = "stateful" if "FlatMapGroupsInPandasWithState" in plan else "pipelines"
            t0 = time.perf_counter()
            try:
                return orig_drain(result, *args, **kwargs)
            finally:
                acc[f"streaming.{layer}.drain_s"] += time.perf_counter() - t0

        self._pending[id(orig_drain)] = (orig_drain, drain)
        for mod in (pipelines, stateful):
            for fname in dir(mod):
                if fname.endswith("_finish") and callable(getattr(mod, fname)):
                    self.wrap(mod, fname, "streaming.finish_s")
        return self._bind()

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()


class StreamListener(StreamingQueryListener):
    """Sums micro-batch progress; state size is the last progress of
    each query."""

    def __init__(self):
        self.acc: dict[str, float] = defaultdict(float)
        self._last_state: dict[str, tuple[float, float]] = {}

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        d = p.durationMs or {}
        self.acc["streaming.batches"] += 1
        self.acc["streaming.input_rows"] += p.numInputRows or 0
        self.acc["streaming.plan_s"] += d.get("queryPlanning", 0) / 1000.0
        self.acc["streaming.add_batch_s"] += d.get("addBatch", 0) / 1000.0
        rows = mem = 0
        for so in p.stateOperators or []:
            rows += so.numRowsTotal or 0
            mem += so.memoryUsedBytes or 0
            self.acc["streaming.state_commit_s"] += (so.commitTimeMs or 0) / 1000.0
        self._last_state[str(p.id)] = (rows, mem)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def take_state(self) -> None:
        """Fold the finished queries' last state sizes into ``acc``."""
        for rows, mem in self._last_state.values():
            self.acc["streaming.state_rows"] += rows
            self.acc["streaming.state_mem_bytes"] += mem
        self._last_state.clear()


_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "min": 60.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_PY_METRICS = {
    "time to initialize Python workers": "python.workers_init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}


def parse_sql_metric(text: str) -> float:
    """A SQL metric as the status store formats it: either ``5.1 s`` or
    ``total (min, med, max ...)\\n5.1 s (...)``."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def plan_digest(plans: list[str]) -> str:
    """Digest of the op's final physical plans with expression ids,
    plan ids, file locations, statistics and query-name suffixes
    stripped, so that only a change of plan shape changes it."""
    norm = []
    for p in plans:
        p = re.sub(r"#\d+L?", "", p)
        p = re.sub(r"plan_id=\d+", "", p)
        p = re.sub(r"file:[^\],\s]+", "<path>", p)
        p = re.sub(r"Statistics\([^)]*\)", "", p)
        p = re.sub(r"_[0-9a-f]{8}\b", "_<id>", p)
        norm.append(p)
    return hashlib.sha1("\n".join(norm).encode()).hexdigest()[:12]


class SparkProbe:
    """Per-op Spark counters from the status stores, read right after
    the op."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self.jsc = sc._jsc.sc()
        jvm = sc._jvm
        self.store = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.cores = sc.defaultParallelism
        self.om = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self.om.registerModule(getattr(scala_module, "MODULE$"))
        self._empty_list = jvm.java.util.ArrayList()
        self._empty_quantiles = sc._gateway.new_array(jvm.double, 0)

    def _json(self, obj):
        return json.loads(self.om.writeValueAsString(obj))

    def flush(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def mark(self) -> tuple[int, int]:
        """(next job id, last SQL execution id)."""
        self.flush()
        next_job = self.jsc.dagScheduler().numTotalJobs()
        n = self.sql.executionsCount()
        last_exec = self.sql.executionsList(n - 1, 1).apply(0).executionId() if n else -1
        return next_job, last_exec

    def collect(self, before, mid_job: int, after, t0: float, t1: float, wall: float) -> dict:
        """Counters of jobs ``[before, after)`` and SQL executions
        ``(before, after]``; jobs below ``mid_job`` ran inside the build
        call. ``t0``/``t1`` bound the op in epoch seconds; ``wall`` is
        its timed duration (the interval minus the collector's own
        reads)."""
        out: dict[str, float] = defaultdict(float)
        stage_ids: set[int] = set()
        intervals = []
        for jid in range(before[0], after[0]):
            try:
                jd = self._json(self.store.job(jid))
            except Exception as e:  # evicted or never registered
                raise RuntimeError(f"job {jid} missing from the status store: {e}")
            out["spark.jobs"] += 1
            if jid < mid_job:
                out["operators.build_jobs"] += 1
            stage_ids.update(jd["stageIds"])
            if jd.get("submissionTime") and jd.get("completionTime"):
                intervals.append((jd["submissionTime"] / 1000.0, jd["completionTime"] / 1000.0))
        for sid in sorted(stage_ids):
            try:
                attempts = self._json(self.store.stageData(
                    sid, False, self._empty_list, False, self._empty_quantiles
                ))
            except Exception as e:
                raise RuntimeError(f"stage {sid} evicted from the status store: {e}")
            for s in attempts:
                if s["status"] == "SKIPPED":
                    out["spark.stages_skipped"] += 1
                    continue
                out["spark.stages"] += 1
                out["spark.tasks"] += s["numCompleteTasks"] + s["numFailedTasks"] + s["numKilledTasks"]
                out["spark.tasks_failed"] += s["numFailedTasks"]
                out["spark.input_bytes"] += s["inputBytes"]
                out["spark.shuffle_read_bytes"] += s["shuffleReadBytes"]
                out["spark.shuffle_write_bytes"] += s["shuffleWriteBytes"]
                out["spark.spill_bytes"] += s["diskBytesSpilled"]
                out["spark.executor_run_s"] += s["executorRunTime"] / 1000.0
                out["spark.executor_cpu_s"] += s["executorCpuTime"] / 1e9
                out["spark.gc_s"] += s["jvmGcTime"] / 1000.0
        busy = 0.0
        end = t0
        for a, b in sorted(intervals):
            a, b = max(a, end), min(b, t1)
            if b > a:
                busy += b - a
                end = b
        out["spark.driver_idle_s"] += max(0.0, wall - busy)
        plans = []
        for eid in range(before[1] + 1, after[1] + 1):
            opt = self.sql.execution(eid)
            if not opt.isDefined():
                continue
            ex = opt.get()
            plans.append(ex.physicalPlanDescription())
            values = self._json(self.sql.executionMetrics(eid))
            seen = set()
            for m in self._json(ex.metrics()):
                key = _PY_METRICS.get(m["name"])
                acc_id = str(m["accumulatorId"])
                if key is None or acc_id in seen or acc_id not in values:
                    continue
                seen.add(acc_id)
                out[key] += parse_sql_metric(values[acc_id])
        out["plan"] = plan_digest(plans)
        return out
