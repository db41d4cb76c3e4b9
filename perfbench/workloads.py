"""The benchmark's workloads: ordered lists of ops, each a build step
(the program call) and a check run after the timed region."""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from typing import Any, Callable

import verify
from inputs import MERGE_KEY


@dataclass
class Pass:
    """One pass over a workload: its own fixture copy and scratch dir."""

    spark: Any
    fx: str
    work: str
    scale: str
    batches: list[tuple[str, str]]
    oracles: verify.Oracles
    state: dict = field(default_factory=dict)


@dataclass
class Op:
    name: str
    module: str
    build: Callable[[Pass], Any]
    check: Callable[[Pass, Any], str | None]
    # run in the cold pass only
    once: bool = False


def _module_of(fn) -> str:
    mod = fn.__module__
    return "entry" if mod == "__spark_entry__" else mod.rsplit(".", 1)[-1]


def registry_op(name: str) -> Op:
    import __spark_entry__

    fn = __spark_entry__.queries()[name]

    def check(p: Pass, res) -> str | None:
        cols, dtypes, rows = res
        return p.oracles.check(name, cols, dtypes, rows)

    return Op(name, _module_of(fn), lambda p: fn(p.spark, p.fx), check)


# -- ingest_merge_stream steps ------------------------------------------------

def _orders_merge(p: Pass):
    from pyspark.sql import functions as F

    from beauty_lakehouse_spark import catalog, tables

    orders = catalog.load(p.spark, p.fx).orders
    base = orders.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        F.year("o_orderdate").cast("int").alias("order_year"),
    )
    path = os.path.join(p.work, "orders_versioned")
    tables.write_versioned(base, path, partition_by="order_year")
    lat = []
    for ups, dels in p.batches:
        t0 = time.perf_counter()
        tables.merge_upsert(
            p.spark, path, p.spark.read.parquet(ups), keys=[MERGE_KEY],
            deletes=p.spark.read.parquet(dels),
        )
        lat.append(time.perf_counter() - t0)
    p.state["table"] = path
    p.state["merge_s"] = lat
    return tables.read_versioned(p.spark, path)


def _replay(p: Pass):
    if "replay" not in p.state:
        p.state["replay"] = verify.merge_replay(p.scale, p.batches)
    return p.state["replay"]


def _check_merge(p: Pass, res) -> str | None:
    cols, _, rows = res
    end, _ = _replay(p)
    if verify.digest(cols, rows) != verify.digest(cols, end):
        return f"MERGE end state ({len(rows)} rows) differs from the DuckDB replay ({len(end)} rows)"
    return None


def _orders_changes(p: Pass):
    from beauty_lakehouse_spark import tables

    return tables.table_changes(p.spark, p.state["table"], 1)


def _check_changes(p: Pass, res) -> str | None:
    cols, _, rows = res
    _, changes = _replay(p)
    if verify.digest(cols, rows) != verify.digest(cols, changes):
        return f"change feed ({len(rows)} rows) differs from the DuckDB replay ({len(changes)} rows)"
    return None


def _orders_log(p: Pass):
    from beauty_lakehouse_spark import delta_log

    return delta_log.validate_delta_log(p.state["table"])


def _check_log(p: Pass, report) -> str | None:
    if not report["valid"]:
        return f"delta log invalid: {report}"
    if report["n_commits"] != 1 + len(p.batches):
        return f"{report['n_commits']} commits, expected {1 + len(p.batches)}"
    return None


# -- the lakehouse pipeline ----------------------------------------------------

# customers, products, orders: the pipeline's cost is mostly its ~100
# Spark jobs, not its rows, so a small generated dataset suffices
LAKEHOUSE_SIZE = (100, 30, 300)


def _lakehouse(p: Pass):
    from beauty_lakehouse_spark import pipeline

    res = pipeline.run_lakehouse_pipeline(
        p.spark, os.path.join(p.work, "lakehouse"), *LAKEHOUSE_SIZE
    )
    m = res.manifest
    p.state["lakehouse_raw"] = res.raw_dir
    p.state["lakehouse_rows"] = sum(
        m[k] for k in ("n_customers", "n_products", "n_orders", "n_order_items")
    )
    return {
        "quality": res.quality,
        "fact_sales": res.fact_sales,
        "revenue_by_category": res.revenue_by_category,
    }


def _check_lakehouse(p: Pass, res) -> str | None:
    cols, _, rows = res["quality"]
    report = {r[cols.index("rule")]: r[cols.index("violations")] for r in rows}
    if len(report) != 14 or any(report.values()):
        return f"quality report is not 14 clean rules: {report}"
    want = verify.lakehouse_replay(p.state["lakehouse_raw"])
    for name, (wcols, wrows) in want.items():
        cols, _, rows = res[name]
        if verify.digest(cols, rows) != verify.digest(wcols, wrows):
            return f"{name} ({len(rows)} rows) differs from DuckDB over the raw zone ({len(wrows)} rows)"
    return None


INGEST_STEPS = [
    Op("orders_merge", "tables", _orders_merge, _check_merge),
    Op("orders_changes", "tables", _orders_changes, _check_changes),
    Op("orders_delta_log", "delta_log", _orders_log, _check_log),
]

MERGE_BATCHES = 2

WORKLOADS: dict[str, dict] = {
    # read-only registered queries, one from each operators module but
    # multimodal (whose ops run Python workers)
    "warehouse_reads": {
        "ops": [
            "pricing_summary", "purchase_time_since_view", "events_sessions",
            "late_ship_priority_orders", "order_revenue", "segment_priority_chisq",
            "copurchase_edges", "order_docs_stats", "token_counts", "dedup_exact",
            "train_val_test_split", "knn_brute",
        ],
    },
    # the writers (versioned MERGE table, pipeline zones), JVM- and
    # Python-state drains and the Python-worker media op. An application
    # builds its lakehouse once and then serves the recurring MERGE,
    # drain and media work: the pipeline runs last in the cold pass only,
    # so it counts in cold_wall_s but not in wall_s. (Run in every pass,
    # it would add ~10 s per run, more than the benchmark's time budget
    # allows.)
    "ingest_merge_stream": {
        "ops": INGEST_STEPS + [
            "events_hourly_streamed", "kaplan_meier_streamed",
            "media_audio_pairs_exactint",
            Op("lakehouse_pipeline", "pipeline", _lakehouse, _check_lakehouse, once=True),
        ],
        "merge_batches": MERGE_BATCHES,
    },
}


def ops_for(workload: str) -> list[Op]:
    return [o if isinstance(o, Op) else registry_op(o) for o in WORKLOADS[workload]["ops"]]
