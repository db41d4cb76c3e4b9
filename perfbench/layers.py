"""Per-layer metrics of a traced run: names, units, what each should
move, and how they are derived from the collector's sums."""

from __future__ import annotations

import json
import os
import statistics

import pyarrow.parquet as pq

from collector import dir_bytes

# modules owning the workloads' registered ops ("entry" is __spark_entry__)
OPERATOR_MODULES = [
    "warehouse", "temporal", "events", "decision_support", "relational", "quality",
    "graph", "documents", "text", "dedup", "curation", "similarity", "multimodal", "entry",
]

# (name, unit, better, end-to-end metric and workload it should move)
_E = "wall_s on ingest_merge_stream"
METRICS: list[tuple[str, str, str, str]] = [
    ("session.get_spark_s", "s", "lower", "setup_s, all workloads"),
    ("catalog.load_s", "s", "lower", "setup_s, all workloads"),
    ("operators.build_s", "s", "lower", "wall_s on ingest_merge_stream"),
    ("operators.exec_s", "s", "lower", "wall_s on warehouse_reads"),
    ("operators.build_jobs", "count", "lower", "wall_s on ingest_merge_stream"),
    *[
        (f"operators.{m}.{part}", "s", "lower", f"wall_s on the workloads with {m} ops")
        for m in OPERATOR_MODULES for part in ("build_s", "exec_s")
    ],
    # the pipeline runs in the cold pass only
    ("pipeline.lakehouse_s", "s", "lower", "cold_wall_s on ingest_merge_stream"),
    ("pipeline.datagen_s", "s", "lower", "cold_wall_s on ingest_merge_stream"),
    ("pipeline.sources_s", "s", "lower", "cold_wall_s on ingest_merge_stream"),
    ("pipeline.outputs_s", "s", "lower", "cold_wall_s on ingest_merge_stream"),
    ("pipeline.rows_per_s", "1/s", "higher", "cold_wall_s on ingest_merge_stream"),
    ("spark.driver_idle_s", "s", "lower", "wall_s on ingest_merge_stream"),
    ("spark.jobs", "count", "lower", "wall_s on warehouse_reads"),
    ("spark.stages", "count", "lower", "wall_s on warehouse_reads"),
    ("spark.stages_skipped", "count", "higher", "wall_s on warehouse_reads"),
    ("spark.tasks", "count", "lower", "wall_s on warehouse_reads"),
    ("spark.tasks_failed", "count", "lower", "wall_s on warehouse_reads"),
    ("spark.input_bytes", "B", "lower", "wall_s on warehouse_reads"),
    ("spark.shuffle_read_bytes", "B", "lower", "wall_s on warehouse_reads"),
    ("spark.shuffle_write_bytes", "B", "lower", "wall_s on warehouse_reads"),
    ("spark.spill_bytes", "B", "lower", "wall_s and peak_rss_mb on warehouse_reads"),
    ("spark.executor_run_s", "s", "lower", "wall_s on warehouse_reads"),
    ("spark.executor_cpu_s", "s", "lower", "wall_s on warehouse_reads"),
    ("spark.gc_s", "s", "lower", "wall_s and peak_rss_mb on warehouse_reads"),
    ("spark.core_busy_frac", "ratio", "higher", "wall_s on warehouse_reads"),
    ("python.workers_init_s", "s", "lower", _E),
    ("python.run_s", "s", "lower", _E),
    ("python.bytes_sent", "B", "lower", _E),
    ("python.bytes_returned", "B", "lower", _E),
    ("streaming.pipelines.drain_s", "s", "lower", _E),
    ("streaming.stateful.drain_s", "s", "lower", _E),
    ("streaming.finish_s", "s", "lower", _E),
    ("streaming.batches", "count", "lower", _E),
    ("streaming.input_rows", "count", "lower", _E),
    ("streaming.plan_s", "s", "lower", _E),
    ("streaming.add_batch_s", "s", "lower", _E),
    ("streaming.state_rows", "count", "lower", _E),
    ("streaming.state_mem_bytes", "B", "lower", _E),
    ("streaming.state_commit_s", "s", "lower", _E),
    ("tables.write_versioned_s", "s", "lower", _E),
    ("tables.merge_s", "s", "lower", _E),
    ("tables.merge_p50_s", "s", "lower", _E),
    ("tables.read_versioned_s", "s", "lower", _E),
    ("tables.table_changes_s", "s", "lower", _E),
    ("tables.bytes_written", "B", "lower", _E),
    ("tables.space_amp", "ratio", "lower", _E),
    ("tables.rows_rewritten_per_row_changed", "ratio", "lower", _E),
    ("delta_log.validate_s", "s", "lower", _E),
    ("delta_log.write_commit_s", "s", "lower", _E),
    ("delta_log.commits", "count", "lower", _E),
    ("bench.trace_overhead_frac", "ratio", "lower", "none: traced against untraced op time"),
]


def _rows_in(dirs: list[str]) -> int:
    n = 0
    for d in dirs:
        for root, _, files in os.walk(d):
            n += sum(
                pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
                for f in files if f.endswith(".parquet")
            )
    return n


def _bytes_in(dirs: list[str]) -> int:
    return sum(dir_bytes(d) for d in dirs)


def table_shape(path: str, batches: list[tuple[str, str]]) -> dict[str, float]:
    """Space amplification and MERGE write amplification of the
    versioned table at ``path`` after its MERGE batches."""
    mdir = os.path.join(path, "_manifests")
    manifests = []
    for f in sorted(os.listdir(mdir)):
        if f.endswith(".json"):
            with open(os.path.join(mdir, f)) as fh:
                manifests.append(json.load(fh))
    live = [os.path.join(path, d) for d in manifests[-1]["dirs"].values()]
    rows_rewritten = 0
    for prev, cur in zip(manifests, manifests[1:]):
        new = [d for k, d in cur["dirs"].items() if prev["dirs"].get(k) != d]
        rows_rewritten += _rows_in([os.path.join(path, d) for d in new])
    changed = sum(pq.ParquetFile(f).metadata.num_rows for pair in batches for f in pair)
    return {
        "tables.space_amp": dir_bytes(path) / max(1, _bytes_in(live)),
        "tables.rows_rewritten_per_row_changed": rows_rewritten / max(1, changed),
    }


def per_layer(acc, setup_acc, records, passes, cores):
    """Every per-layer metric as {name: value}. ``records`` are the op
    records of a traced run: its untraced cold pass, where only the
    run-once ops ran traced, and its two warm passes, where every other
    op ran traced once and untraced once. ``passes`` maps pass number
    to pass."""
    out = {name: 0.0 for name, *_ in METRICS}
    for k in ("session.get_spark_s", "catalog.load_s"):
        out[k] = setup_acc.get(k, 0.0)
    for k, v in acc.items():
        if k in out and not k.startswith(("session.", "catalog.")):
            out[k] = v
    traced = [r for r in records if r["traced"]]
    warm = [r for r in records if r["pass"] > 1]
    for r in traced:
        out["operators.build_s"] += r["build_s"]
        out["operators.exec_s"] += r["exec_s"]
        if r["module"] in OPERATOR_MODULES:
            out[f"operators.{r['module']}.build_s"] += r["build_s"]
            out[f"operators.{r['module']}.exec_s"] += r["exec_s"]
        state = passes[r["pass"]].state
        if r["op"] == "lakehouse_pipeline":
            out["pipeline.outputs_s"] = r["exec_s"]
            out["pipeline.rows_per_s"] = state["lakehouse_rows"] / (r["build_s"] + r["exec_s"])
        if r["op"] == "orders_merge":
            out.update(table_shape(state["table"], passes[r["pass"]].batches))
    for r in warm:
        if r["op"] == "orders_merge" and not r["traced"]:
            out["tables.merge_p50_s"] = statistics.median(passes[r["pass"]].state["merge_s"])
    op_time = sum(r["build_s"] + r["exec_s"] for r in traced)
    out["spark.core_busy_frac"] = acc.get("spark.executor_run_s", 0.0) / (op_time * cores)
    # Even-indexed ops ran traced in pass 2 and untraced in pass 3,
    # odd-indexed ones the other way round. With d the ratio of an op's
    # pass-3 time to its pass-2 time, the two groups' traced/untraced
    # ratios are (1 + overhead) / d and (1 + overhead) * d: their
    # geometric mean cancels the warm-up between the passes.
    ratios = []
    for parity in (0, 1):
        spans = {True: 0.0, False: 0.0}
        for r in warm:
            if r["index"] % 2 == parity:
                spans[r["traced"]] += r["span_s"]
        ratios.append(spans[True] / spans[False])
    out["bench.trace_overhead_frac"] = statistics.geometric_mean(ratios) - 1.0
    return out
