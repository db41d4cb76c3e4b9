"""The session factory: its core count and the one place that reads
it, the confs it applies, and the generated-class cache it sizes."""

from __future__ import annotations

import os
import pathlib
import shutil

from beauty_lakehouse_spark import session

PACKAGE = pathlib.Path(session.__file__).parent


def test_local_cores_defaults_to_affinity(monkeypatch):
    """Without ``SPARK_GRAFT_CPUS`` a local session gets the CPUs this
    process may run on, not a fixed count."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.local_cores() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.local_cores() == 3


def test_default_parallelism_is_read_only_in_session():
    """Every partition width is sized through ``session.cores``, so no
    other module of the package reads the session's parallelism."""
    readers = sorted(
        str(p.relative_to(PACKAGE))
        for p in PACKAGE.rglob("*.py")
        if "defaultParallelism" in p.read_text()
    )
    assert readers == ["session.py"]


#: One read-only registry query from each operators module but
#: multimodal: the warehouse read mix of the lakehouse benchmark.
READ_MIX = (
    "pricing_summary", "purchase_time_since_view", "events_sessions",
    "late_ship_priority_orders", "order_revenue", "segment_priority_chisq",
    "copurchase_edges", "order_docs_stats", "token_counts", "dedup_exact",
    "train_val_test_split", "knn_brute",
)

#: The two min-k streaming drains, each a fresh streaming query per run.
MIN_K_DRAINS = ("kaplan_meier_streamed", "domain_dedup_streamed")


def _compiles(spark) -> int:
    """Generated classes compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_session_sizes_the_codegen_cache(spark):
    key = "spark.sql.codegen.cache.maxEntries"
    assert spark.conf.get(key) == session.DEFAULT_CONF[key]


def test_recurring_read_mix_compiles_no_new_class(spark, sf_dir, tmp_path):
    """The read mix and the min-k drains over a second, byte-identical
    fixture copy reuse every class the first copy compiled: the cache
    holds the mix's working set (~160 classes, above Spark's default
    of 100 entries, which recompiles ~150 of them each round), a
    class's source does not depend on the order AQE numbers the stages
    in, and a drain's does not depend on its run's query name."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    new = []
    for i in (1, 2):
        fx = shutil.copytree(sf_dir, tmp_path / f"fx{i}")
        before = _compiles(spark)
        for name in READ_MIX + MIN_K_DRAINS:
            qs[name](spark, str(fx)).collect()
        new.append(_compiles(spark) - before)
    assert new[1] == 0, f"classes compiled per round: {new}"


def test_reused_session_gets_every_runtime_default(spark):
    """``get_spark`` on a live session (a notebook's, a shell's) resets
    every runtime-settable ``DEFAULT_CONF`` entry, not a fixed few."""
    changed = {
        "spark.sql.autoBroadcastJoinThreshold": "10485760",
        "spark.sql.execution.arrow.pyspark.enabled": "false",
        "spark.sql.files.maxPartitionBytes": "1048576",
    }
    prev = {k: spark.conf.get(k) for k in changed}
    try:
        for k, v in changed.items():
            spark.conf.set(k, v)
        session.get_spark()
        assert {k: spark.conf.get(k) for k in changed} == {
            k: session.DEFAULT_CONF[k] for k in changed
        }
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_checkpoint_manager_is_set_only_by_the_drain_runner():
    """Only ``run_available_now``, whose drains checkpoint into a fresh
    temp dir, swaps Spark's checkpoint file manager; a durable
    checkpoint keeps the default's atomic rename."""
    setters = sorted(
        str(p.relative_to(PACKAGE))
        for p in PACKAGE.rglob("*.py")
        if "checkpointFileManagerClass" in p.read_text()
    )
    assert setters == [os.path.join("streaming", "pipelines.py")]


def test_dataframe_debugging_is_off_and_errors_keep_their_class(spark):
    """No call-site capture per Column call; a bad column still raises
    with its error class."""
    import pytest
    from pyspark.errors import AnalysisException
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()
    with pytest.raises(AnalysisException) as err:
        spark.range(3).select("no_such_column").collect()
    assert err.value.getCondition().startswith("UNRESOLVED_COLUMN")


def test_driver_memory_is_a_quarter_of_the_host_at_most_16g(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    page = 4096
    for host_gib, want in ((8, "2048m"), (64, "16384m"), (256, "16384m")):
        sizes = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": host_gib * 2**30 // page}
        monkeypatch.setattr(os, "sysconf", sizes.__getitem__)
        assert session.driver_memory() == want
    monkeypatch.setenv("SPARK_DRIVER_MEM", "1g")
    assert session.driver_memory() == "1g"
