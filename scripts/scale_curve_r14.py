"""Core-scaling cells at syn10x for the bench's heaviest entries
(VERDICT r13 ask #9): at sf0.1 every entry is overhead-bound — the
driver's 8-vs-32-core ratios all read ≈1 and parallel-scaling claims
are untestable. This script measures the SAME top entries at syn10x
(the TPC-H-style key-offset tier builder, ~10× rows in every table)
under whatever core count ``SPARK_GRAFT_CPUS`` dictates, so two runs

    SPARK_GRAFT_CPUS=32 python scripts/scale_curve_r14.py
    SPARK_GRAFT_CPUS=8  python scripts/scale_curve_r14.py

give per-entry low/high-core ratios on data big enough for the scan
and shuffle stages to dominate the fixed per-job cost. The syn tier is
built once into a FIXED scratch dir and reused by the second run
(deterministic builder — both runs see identical bytes).

Entries: the heaviest headline rows of the r14 bench profile, one per
operator family (dedup CC tail, LPA/modularity graph loop, k-core
peel, HyperBall sketch rounds, fixed-point pagerank, PCA power
iteration, the MERGE/IVM scenario, the DSIR and NB streamed drains,
and the ANN exact-int serving path). Single timed run after one
warm-up (cell cost dominates; the decade curve, not the ±10% band, is
the measurand).
"""

from __future__ import annotations

import json
import os
import sys
import time

os.environ.setdefault("SPARK_GRAFT_UI", "1")
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from scale_curve import ShuffleMeter  # noqa: E402
from scale_curve_ext import STRIDE, build_syn_tpch  # noqa: E402

SYN_DIR = "/tmp/bl_syn10x_r14"

#: heaviest bench entries, one per family (names from __spark_entry__).
ENTRIES = [
    "setsim_clusters",
    "community_modularity",
    "copurchase_kcore",
    "effective_diameter",
    "product_pagerank_exact",
    "pca_power_iteration",
    "incremental_topk_state",
    "dsir_streamed",
    "nb_lang_streamed",
    "ann_topk_exactint",
]


def build_syn_embeddings(spark, base_dir: str, out_dir: str, copies: int):
    emb = spark.read.parquet(f"{base_dir}/embeddings.parquet")
    parts = [
        emb.withColumn("vec_id", F.col("vec_id") + F.lit(k * STRIDE))
        for k in range(copies)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/embeddings.parquet"
    )


def main() -> None:
    import __spark_entry__ as entrymod
    from beauty_lakehouse_spark import memo
    from beauty_lakehouse_spark.session import cores, get_spark

    spark = get_spark("scale-r14")
    cpus = cores(spark)
    meter = ShuffleMeter(spark)
    if not os.path.isdir(os.path.join(SYN_DIR, "orders.parquet")):
        build_syn_tpch(spark, "/root/testdata/sf0.1", SYN_DIR, 10)
        build_syn_embeddings(spark, "/root/testdata/sf0.1", SYN_DIR, 10)
    qs = entrymod.queries()

    def clear():
        memo.clear(spark, keep=("table",))

    results = {}
    for name in ENTRIES:
        fn = qs[name]
        clear()
        fn(spark, SYN_DIR).write.format("noop").mode("overwrite").save()
        clear()
        s0 = meter.snap()
        t0 = time.perf_counter()
        fn(spark, SYN_DIR).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        shuf, peak = ShuffleMeter.delta(s0, meter.snap())
        results[name] = {
            "wall_s": round(wall, 2),
            "shuffle_mib": round(shuf / 2**20, 1),
        }
        print(f"syn10x c{cpus} {name}: {wall:.2f}s "
              f"shuffle {shuf / 2**20:.1f} MiB", flush=True)
    out = {"tier": "syn10x", "cpus": cpus, "entries": results}
    with open(f"plans/r14/scale_syn10x_c{cpus}.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
