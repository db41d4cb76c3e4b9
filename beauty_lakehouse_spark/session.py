"""SparkSession factory.

The reference runs on Databricks and does zero tuning of its own
(SURVEY.md §4.1 — no cache/repartition/broadcast/conf anywhere). Our
engine makes the cluster-scale decisions explicit here, once:

- AQE on (coalesce shuffle partitions, skew-join splitting) — at 100 TB
  the Zipf-skewed keys (hot products / hot customers) are handled by AQE
  skew-join rather than hand-salting; salting helpers exist in
  ``operators.relational`` for the cases AQE can't see (aggregations).
- ``spark.sql.shuffle.partitions`` set low for local testing; on a real
  cluster AQE's coalescing makes the initial number mostly irrelevant as
  long as it is high enough (set ~2-3x total cores there).
- Arrow enabled for the few pandas-UDF paths (similarity kernels,
  multimodal decode) — everything else stays JVM-side.
- Session timezone pinned to UTC so event-time bucketing is stable and
  matches the DuckDB oracle.
- Spark's generated-class cache (``spark.sql.codegen.cache.maxEntries``)
  holds one compiled Java class per distinct generated source, evicting
  the least recently used. Its default of 100 is below the engine's
  working set: the 12-query warehouse read mix compiles ~160 classes and
  the ingest/merge/stream mix ~310, so a recurring mix evicted its own
  classes and every pass recompiled ~150 and ~170 of them (Janino,
  10-20 ms each) and warmed the JIT on them again. Sized to 1000 below,
  and class names leave out the codegen stage id, so a re-run whose AQE
  stages are numbered in another order still hits.
- One partition-width rule: ``width`` sizes a stage by its volume,
  ``spread`` fans out a scan with too few splits. Both take the core
  count explicitly; ``cores`` is the one reader of the session's.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # Files: pack small fixture files but keep the knob visible — at 100 TB
    # this is the primary scan-parallelism control (128m default).
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Broadcast threshold: dims (region/nation/supplier/part at small SF)
    # auto-broadcast; big-dim joins fall back to sort-merge + AQE.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # Managed tables (bucketed sinks) live outside the repo tree.
    "spark.sql.warehouse.dir": "/tmp/beauty_lakehouse_warehouse",
    # Generated-class cache; static, fixed JVM-wide at the first compile.
    # Measured at local[4], sf0.01, through the benchmark's passes: the
    # read mix compiles 162 classes in its first pass and the ingest mix
    # 308; at the default 100 each later pass recompiled 149-150 (reads)
    # and 172-174 (ingest). At 1000 (> 3x ingest's set) a later pass
    # compiles 0 and 1. Metaspace read 150-159 MB on reads and 181-187 MB
    # on ingest either way; a class averages 2.2-2.7 KB of bytecode.
    "spark.sql.codegen.cache.maxEntries": "1000",
    # A cache hit needs the same source text. With the codegen stage id in
    # the class name, a query whose sibling AQE stages finish in another
    # order numbers its stages anew and recompiles (segment_priority_chisq:
    # 2-18 classes a run). The id stays in the plan and the source comment.
    "spark.sql.codegen.useIdInClassName": "false",
}


def local_cores() -> int:
    """``SPARK_GRAFT_CPUS``, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def cores(spark: SparkSession) -> int:
    """The session's core count (its default parallelism)."""
    return int(spark.sparkContext.defaultParallelism)


def width(volume: int, per_task: int, cores: int, floor: int = 1) -> int:
    """One partition per started ``per_task`` units of ``volume``, at
    most ``cores``, at least ``floor``."""
    return max(floor, min(cores, -(-volume // per_task)))


def spread(df: DataFrame, splits: int, cores: int) -> DataFrame:
    """``df`` round-robined to ``cores`` partitions when its scan has
    fewer ``splits`` than a quarter of the cores, else ``df`` itself."""
    if splits * 4 >= cores:
        return df
    return df.repartition(cores)


def get_spark(app_name: str = "beauty_lakehouse_spark") -> SparkSession:
    """Build (or reuse) a SparkSession.

    Runs ``local[local_cores()]``. When a session already exists
    (e.g. the driver's, a notebook's or a pyspark shell's), we reuse it
    and apply every ``DEFAULT_CONF`` entry that a live session can
    change. Static confs (warehouse dir, codegen cache size) reach only
    sessions that ``get_spark`` builds itself.
    """
    cpus = local_cores()
    active = SparkSession.getActiveSession()
    if active is not None:
        _apply_runtime_conf(active)
        return active

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.driver.maxResultSize", "4g")
        # UI off by default (test/bench noise); SPARK_GRAFT_UI=1 turns
        # it on for tooling that reads the /api/v1 status endpoints
        # (scripts/scale_curve.py records per-query shuffle bytes)
        .config(
            "spark.ui.enabled",
            "true" if os.environ.get("SPARK_GRAFT_UI") == "1" else "false",
        )
    )
    if os.environ.get("SPARK_GRAFT_UI") == "1":
        # The shuffle meter (scripts/scale_curve.py) sums per-stage
        # shuffleWriteBytes from the status store; long syn100x runs
        # can exceed the default 1000 retained stages, silently
        # undercounting (ADVICE r8). Retain enough for the longest
        # measured run; the meter also warns near this limit.
        builder = builder.config("spark.ui.retainedStages", "40000")
    for k, v in DEFAULT_CONF.items():
        builder = builder.config(k, v)
    # Delta seam: when delta-spark is importable (not in this container
    # today), configure the session for it so the curated zone writes
    # real Delta tables with no code change — tests/test_delta_seam.py
    # exercises the write/merge/time-travel path the day it activates.
    try:
        from delta import configure_spark_with_delta_pip

        builder = builder.config(
            "spark.sql.extensions",
            "io.delta.sql.DeltaSparkSessionExtension",
        ).config(
            "spark.sql.catalog.spark_catalog",
            "org.apache.spark.sql.delta.catalog.DeltaCatalog",
        )
        builder = configure_spark_with_delta_pip(builder)
    except ImportError:
        pass
    spark = builder.getOrCreate()
    _apply_runtime_conf(spark)
    return spark


def _apply_runtime_conf(spark: SparkSession) -> None:
    """Apply every ``DEFAULT_CONF`` entry a live session can change."""
    for k, v in DEFAULT_CONF.items():
        if spark.conf.isModifiable(k):
            spark.conf.set(k, v)
