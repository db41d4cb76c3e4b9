"""Scale cells: registry entries timed at one data tier.

    python scripts/scale_curve.py --tier T NAME [NAME ...]

``NAME`` is a key of ``__spark_entry__.queries()``. ``T`` is a fixture
dir beside ``catalog.DEFAULT_SF_DIR`` (``sf0.001``, ``sf0.01``,
``sf0.1``) or ``syn{N}x``: N key-offset copies of sf0.1 stacked into a
scratch dir by ``build_syn``. An unknown name or tier exits non-zero
before a session starts. The core count is ``get_spark``'s
(``SPARK_GRAFT_CPUS``).

Every cell follows one protocol: ``memo.clear`` (table handles kept),
one warm-up, then the faster of two runs into the noop sink. This is
bench.py's protocol except for its four ANN-serving consumers
(``ann_ndcg_exactint``, ``rrf_fusion_exactint``, ``mmr_rerank_exactint``,
``hard_negative_mining``): bench keeps their serving index warm, a scale
cell times its build too. It prints one JSON line: tier, cores, entry,
the faster run's wall time and its jobs, stages, tasks, shuffle write
bytes, executor CPU and plan digest, read from Spark's status store by
``perfbench.collector.SparkProbe``, which raises rather than undercount
when a stage of the run has been evicted from the store.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__  # noqa: E402
from beauty_lakehouse_spark import memo  # noqa: E402
from beauty_lakehouse_spark.catalog import DEFAULT_SF_DIR  # noqa: E402
from beauty_lakehouse_spark.session import cores, get_spark  # noqa: E402
from perfbench.collector import SparkProbe  # noqa: E402

FIXTURES = os.path.dirname(DEFAULT_SF_DIR)
SYN = re.compile(r"syn([1-9][0-9]*)x")
SYN_BASE = "sf0.1"

#: Copy k adds k * STRIDE (more than any key at sf0.1) to these keys, so
#: copies share no key and every join, graph and group stays inside one
#: copy. Customers, parts and suppliers move in step with the keys that
#: reference them (``o_custkey``, ``l_partkey``, ``l_suppkey``), so every
#: order keeps its customer and every line item its part and supplier.
#: Embeddings copy 0 keeps the ANN query ids, so serving cells scale the
#: corpus at a fixed query set.
STRIDE = 10_000_000
STACKED = {
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "events": ("event_id", "user_id"),
    "customer": ("c_custkey",),
    "part": ("p_partkey",),
    "supplier": ("s_suppkey",),
    "embeddings": ("vec_id",),
    "documents": ("doc_id",),
}


def build_syn(spark, base_dir: str, out_dir: str, copies: int) -> str:
    """``copies`` key-offset copies of each ``STACKED`` table of
    ``base_dir``, written under ``out_dir``; every other table (region
    and nation, which no stacked key references) is linked unchanged.
    Document copy k also suffixes every token with ``_k``, so no shingle
    crosses copies: each copy has the base's similarity structure."""
    for fname in sorted(os.listdir(base_dir)):
        table = fname.removesuffix(".parquet")
        src, dst = os.path.join(base_dir, fname), os.path.join(out_dir, fname)
        if table not in STACKED:
            os.symlink(src, dst)
            continue
        df = spark.read.parquet(src)
        parts = []
        for k in range(copies):
            part = df.withColumns({c: F.col(c) + k * STRIDE for c in STACKED[table]})
            if table == "documents":
                part = part.withColumn(
                    "text", F.concat(F.regexp_replace("text", " ", f"_{k} "), F.lit(f"_{k}"))
                )
            parts.append(part)
        functools.reduce(DataFrame.unionByName, parts).write.parquet(dst)
    return out_dir


def tier_dir(spark, tier: str) -> str:
    m = SYN.fullmatch(tier)
    if m is None:
        return os.path.join(FIXTURES, tier)
    out = memo.scratch(f"bl_{tier}_")
    return build_syn(spark, os.path.join(FIXTURES, SYN_BASE), out, int(m[1]))


def time_cell(spark, probe: SparkProbe, fn, sf_dir: str) -> tuple[float, dict]:
    """The faster of two runs after a warm-up, with its counters."""
    memo.clear(spark, keep=("table",))
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    best = None
    for _ in range(2):
        memo.clear(spark, keep=("table",))
        before = probe.mark()
        e0 = time.time()
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        e1 = time.time()
        after = probe.mark()
        if best is None or wall < best[0]:
            best = (wall, probe.collect(before, before[0], after, e0, e1, wall))
    return best


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description="Time registry entries at one data tier.")
    ap.add_argument("--tier", required=True, help="sf0.001 | sf0.01 | sf0.1 | syn{N}x")
    ap.add_argument("names", nargs="+", metavar="NAME", help="__spark_entry__ registry key")
    a = ap.parse_args(argv)
    registry = __spark_entry__.queries()
    unknown = [n for n in a.names if n not in registry]
    if unknown:
        sys.exit(f"unknown entries: {unknown}")
    if not SYN.fullmatch(a.tier) and a.tier not in os.listdir(FIXTURES):
        sys.exit(f"unknown tier {a.tier!r}: a dir of {FIXTURES} or syn{{N}}x")

    spark = get_spark("scale-curve")
    probe = SparkProbe(spark)
    sf_dir = tier_dir(spark, a.tier)
    for name in a.names:
        wall, got = time_cell(spark, probe, registry[name], sf_dir)
        print(json.dumps({
            "tier": a.tier,
            "cores": cores(spark),
            "entry": name,
            "wall_s": round(wall, 3),
            "jobs": int(got["spark.jobs"]),
            "stages": int(got["spark.stages"]),
            "tasks": int(got["spark.tasks"]),
            "shuffle_write_bytes": int(got["spark.shuffle_write_bytes"]),
            "executor_cpu_s": round(got["spark.executor_cpu_s"], 3),
            "plan": got["plan"],
        }), flush=True)


if __name__ == "__main__":
    main()
