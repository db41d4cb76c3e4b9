"""Scale curves for the r13 additions + the instrumentation-debt tail
(VERDICT r12 asks #4 and #7).

Tiered sf0.1 -> syn10x under the TPC-H-style builder
(`scale_curve_ext.build_syn_tpch`, plus an embeddings stacker added
here — key-offset copies, so copy 0's 20 ANN queries serve against a
10x corpus):

- the three bench-tail entries that never had tier cells:
  `deterministic_random_walks` (fixed-iteration co-partitioned walk
  frontier over the copurchase graph), `matryoshka_prefix_recall`
  (fixed 20-query exact-int serving over the stacked embeddings),
  `view_purchase_join_streamed` (stream-stream join, 1h-bounded
  state, users disjoint per copy);
- the r13 heavies: `media_phash_pairs_jpegcodec` (docs-linear codec
  kernel), `quantile_sketches` (register-table profiler — wall should
  track the union scan, state stays <= ~700 buckets/target), and the
  `run_media_pipeline` capstone (measured COLD once per tier with a
  fresh publish dir: the cached gate wrapper would only re-read the
  published table).

Mode ``drill``: syn100x cells for `dedup_clusters` and
`copurchase_kcore` — the two heaviest fixed-point graph/dedup
entries, proving the log-round claims across three decades
(setsim_clusters precedent). Single timed run (no min-of-2) — at
this tier the cell cost dominates and run-to-run variance is small
relative to the decade curve.

    SPARK_GRAFT_CPUS=32 python scripts/scale_curve_r13.py [sf0.1 syn10x]
    SPARK_GRAFT_CPUS=32 python scripts/scale_curve_r13.py drill
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

os.environ.setdefault("SPARK_GRAFT_UI", "1")
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from scale_curve import ShuffleMeter, time_query  # noqa: E402
from scale_curve_ext import STRIDE, build_syn_tpch  # noqa: E402
from beauty_lakehouse_spark import memo  # noqa: E402
from beauty_lakehouse_spark.operators import (  # noqa: E402
    dedup,
    graph,
    multimodal,
    quality,
    similarity,
)
from beauty_lakehouse_spark.session import get_spark  # noqa: E402


def build_syn_embeddings(spark, base_dir: str, out_dir: str, copies: int):
    """Key-offset copies of the embeddings table (vec_id + k*STRIDE):
    copy 0 keeps the fixed 20 ANN query ids, so serving-cost cells
    scale the CORPUS while the query set stays constant — the
    production question (index 10x the vectors, same traffic)."""
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


TIERED = {
    "deterministic_random_walks": graph.q_deterministic_random_walks,
    "matryoshka_prefix_recall": similarity.q_matryoshka_prefix_recall,
    "quantile_sketches": quality.q_quantile_sketches,
    "media_phash_pairs_jpegcodec": multimodal.q_media_phash_pairs_jpegcodec,
}

DRILL = {
    "dedup_clusters": dedup.q_dedup_clusters,
    "copurchase_kcore": graph.q_copurchase_kcore,
}


def time_once(fn, spark, d, meter):
    """Single timed run (cache-cleared, no warm pass) for cells whose
    cost dominates the harness."""
    memo.clear(spark, keep=("table",))
    s0 = meter.snap()
    t0 = time.perf_counter()
    fn(spark, d).write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    total, peak = ShuffleMeter.delta(s0, meter.snap())
    return wall, total, peak


def main() -> None:
    args = sys.argv[1:] or ["sf0.1", "syn10x"]
    drill = args == ["drill"]
    tiers = ["sf0.1", "syn10x", "syn100x"] if drill else args
    spark = get_spark("scale-r13")
    meter = ShuffleMeter(spark)
    tmp = tempfile.mkdtemp(prefix="bl_synr13_")
    results = []
    for tier in tiers:
        if tier == "sf0.1":
            d = "/root/testdata/sf0.1"
        elif tier in ("syn10x", "syn100x"):
            copies = 10 if tier == "syn10x" else 100
            d = build_syn_tpch(
                spark, "/root/testdata/sf0.1", f"{tmp}/{tier}", copies
            )
            build_syn_embeddings(
                spark, "/root/testdata/sf0.1", f"{tmp}/{tier}", copies
            )
        else:
            raise SystemExit(f"unknown tier {tier}")
        queries = DRILL if drill else TIERED
        for name, fn in queries.items():
            t0 = time.perf_counter()
            if drill:
                wall, shuf, peak = time_once(fn, spark, d, meter)
            else:
                wall, shuf, peak = time_query(fn, spark, d, meter)
            results.append((tier, name, wall, shuf, peak))
            print(
                f"{tier} {name}: {wall:.2f}s shuffle "
                f"{shuf / 2**20:.1f} MiB peak {peak / 2**20:.1f} MiB "
                f"[cell total {time.perf_counter() - t0:.1f}s]",
                flush=True,
            )
        if not drill:
            # the streamed join and the capstone pipeline run COLD once
            # per tier: the streaming drain owns its checkpoint and the
            # cached gate wrapper would only re-read the published table
            import __spark_entry__ as entrymod

            t0 = time.perf_counter()
            wall, shuf, peak = time_once(
                entrymod._q_view_purchase_join_streamed, spark, d, meter
            )
            results.append((tier, "view_purchase_join_streamed", wall, shuf, peak))
            print(
                f"{tier} view_purchase_join_streamed: {wall:.2f}s shuffle "
                f"{shuf / 2**20:.1f} MiB peak {peak / 2**20:.1f} MiB "
                f"[cell total {time.perf_counter() - t0:.1f}s]",
                flush=True,
            )

            from beauty_lakehouse_spark.pipeline import run_media_pipeline

            out_dir = tempfile.mkdtemp(prefix=f"bl_mediapipe_{tier}_")
            s0 = meter.snap()
            t0 = time.perf_counter()
            run_media_pipeline(spark, d, out_dir)
            wall = time.perf_counter() - t0
            shuf, peak = ShuffleMeter.delta(s0, meter.snap())
            results.append((tier, "run_media_pipeline", wall, shuf, peak))
            print(
                f"{tier} run_media_pipeline: {wall:.2f}s shuffle "
                f"{shuf / 2**20:.1f} MiB peak {peak / 2**20:.1f} MiB (cold)",
                flush=True,
            )
    print("\ntier table rows:")
    for tier, name, wall, shuf, peak in results:
        print(
            f"| {name} | {tier} | {wall:.2f}s | {shuf / 2**20:.1f} MiB "
            f"| {peak / 2**20:.1f} MiB |"
        )


if __name__ == "__main__":
    main()
