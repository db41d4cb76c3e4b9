"""Measured scaling curve for the dedup family (VERDICT r5 ask #6,
extended to syn100x per VERDICT r7 ask #5).

Times ``dedup_clusters``, ``setsim_clusters`` and friends end-to-end at
four corpus sizes:

- sf0.01  (500 docs)
- sf0.1   (10x the docs of sf0.01, per the fixture generator)
- syn10x  (10x the docs of sf0.1): ten token-remapped copies of the
  sf0.1 documents — copy k suffixes every token with ``_k``, so no
  shingle is ever shared across copies. Per-copy similarity structure
  is IDENTICAL to sf0.1 while volume is 10x, which is the honest
  scaling experiment: candidate counts grow linearly by construction,
  so any superlinear runtime is the engine's, not the workload's.
- syn100x (100 copies, ~500k docs): the same construction one tier up,
  run only for the two clustering pipelines (SYN100X_QUERIES) — the
  100 TB design claim should rest on a measured 1000x span, not a
  10x->10x extrapolation.

Besides wall clock, each timed run records its SHUFFLE WRITE volume
(total bytes moved, and the largest single stage) from the Spark
status REST API — a superlinear shuffle-byte curve is the 100 TB
red flag even when small-tier wall clock looks flat. Requires the UI,
which the session factory enables under ``SPARK_GRAFT_UI=1`` (set
below before the session is built).

Prints a markdown table for SCALE.md plus the runtime ratios. Run on a
quiet machine: ``python scripts/scale_curve.py [query ...]`` (no args =
all queries; unknown names are an error, not a silent empty run).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
import urllib.request

os.environ.setdefault("SPARK_GRAFT_UI", "1")

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from beauty_lakehouse_spark import memo
from beauty_lakehouse_spark.catalog import load
from beauty_lakehouse_spark.operators import dedup
from beauty_lakehouse_spark.operators.text import q_winnow_overlap_top as _winnow
from beauty_lakehouse_spark.session import get_spark

QUERIES = {
    "dedup_clusters": dedup.q_dedup_clusters,
    "ngram_jaccard_top_pairs": dedup.q_ngram_jaccard_top_pairs,
    # r7: the linear-output replacement for setsim_prefix_join — runs
    # at ALL tiers (its signature collapse is exactly what makes the
    # duplicate-cluster tier affordable)
    "setsim_clusters": dedup.q_setsim_clusters,
    # r8: ExactSubstr span dedup — the shuffle-free window expansion
    # claim measured, not argued
    "substring_dedup": dedup.q_substring_dedup,
    # r9: the asymmetric containment twin shares the jaccard posting
    # core — its curve should track jaccard's tier for tier
    "ngram_containment_top_pairs": dedup.q_ngram_containment_top_pairs,
}

#: Measured at sf0.01/sf0.1 only: setsim's OUTPUT is inherently
#: quadratic within genuine duplicate clusters (965k true pairs at
#: sf0.1 — see SCALE.md), so a syn10x run times the result
#: materialization, not the candidate scheme.
SMALL_TIER_QUERIES = {
    "setsim_prefix_join": dedup.q_setsim_prefix_join,
    "winnow_overlap_top": _winnow,
}

#: The syn100x tier (~500k docs) covers the two clustering pipelines
#: the 100 TB design claim leans on (VERDICT r7 ask #5), plus — r9,
#: VERDICT r8 ask #7 — the remaining headline dedup operators, so
#: every one has a measured 1000x span.
SYN100X_QUERIES = (
    "dedup_clusters",
    "setsim_clusters",
    "substring_dedup",
    "ngram_jaccard_top_pairs",
    "ngram_containment_top_pairs",
)


def build_syn(spark, base_dir: str, out_dir: str, copies: int) -> str:
    """``copies`` disjoint-shingle copies of base_dir's documents,
    written as a one-table sf_dir (catalog loads tables lazily, so the
    dedup queries never touch the missing TPC-H tables). Copy k remaps
    every token with an ``_k`` suffix, so similarity structure repeats
    per copy but never crosses copies."""
    docs = load(spark, base_dir).documents
    expanded = (
        docs.select(
            "*", F.explode(F.sequence(F.lit(0), F.lit(copies - 1))).alias("k")
        )
        .select(
            (F.col("doc_id") + F.col("k").cast("long") * 10_000_000).alias(
                "doc_id"
            ),
            F.concat(
                F.regexp_replace(
                    "text", F.lit(" "), F.concat(F.lit("_"), F.col("k"), F.lit(" "))
                ),
                F.lit("_"),
                F.col("k"),
            ).alias("text"),
            *[c for c in docs.columns if c not in ("doc_id", "text")],
        )
    )
    path = os.path.join(out_dir, "documents.parquet")
    expanded.repartition(32).write.mode("overwrite").parquet(path)
    return out_dir


class ShuffleMeter:
    """Reads cumulative shuffle-write bytes per stage from the Spark
    status REST API (http://localhost:4040/api/v1). ``snap()`` returns
    {stage_key: bytes}; ``delta(before, after)`` gives (total new
    bytes, max single new/changed stage)."""

    def __init__(self, spark) -> None:
        self.base = None
        try:
            port = spark.sparkContext.uiWebUrl.rsplit(":", 1)[1]
            apps = json.load(
                urllib.request.urlopen(
                    f"http://localhost:{port}/api/v1/applications", timeout=5
                )
            )
            self.base = (
                f"http://localhost:{port}/api/v1/applications/"
                f"{apps[0]['id']}"
            )
        except Exception as e:  # UI off / port hidden: degrade to wall-only
            print(f"shuffle meter unavailable: {e}", file=sys.stderr)

    #: session.py raises spark.ui.retainedStages to this when
    #: SPARK_GRAFT_UI=1; warn when the status store nears it, since
    #: evicted stages silently undercount shuffle totals (ADVICE r8).
    RETAINED_STAGES = 40_000

    def snap(self) -> dict[str, int]:
        if self.base is None:
            return {}
        stages = json.load(
            urllib.request.urlopen(self.base + "/stages", timeout=30)
        )
        if len(stages) > 0.8 * self.RETAINED_STAGES:
            print(
                f"WARNING: status store holds {len(stages)} stages, "
                f">80% of spark.ui.retainedStages={self.RETAINED_STAGES}; "
                "shuffle totals may undercount if stages get evicted",
                file=sys.stderr,
            )
        return {
            f"{s['stageId']}.{s['attemptId']}": s.get("shuffleWriteBytes", 0)
            for s in stages
        }

    @staticmethod
    def delta(before: dict[str, int], after: dict[str, int]) -> tuple[int, int]:
        news = {
            k: v - before.get(k, 0)
            for k, v in after.items()
            if v > before.get(k, 0)
        }
        return sum(news.values()), max(news.values(), default=0)


def _fmt_bytes(n: int) -> str:
    for unit in ("B", "KiB", "MiB", "GiB"):
        if n < 1024 or unit == "GiB":
            return f"{n:.0f}{unit}" if unit == "B" else f"{n / 1.0:.1f}{unit}"
        n /= 1024
    return f"{n:.1f}GiB"


def time_query(fn, spark, sf_dir: str, meter: ShuffleMeter):
    """(best wall sec, shuffle bytes of the best run, peak stage bytes)."""
    memo.clear(spark, keep=("table",))
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
    best = (float("inf"), 0, 0)
    for _ in range(2):
        memo.clear(spark, keep=("table",))
        s0 = meter.snap()
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        total, peak = ShuffleMeter.delta(s0, meter.snap())
        if wall < best[0]:
            best = (wall, total, peak)
    return best


def main() -> None:
    only = set(sys.argv[1:])
    known = set(QUERIES) | set(SMALL_TIER_QUERIES)
    unknown = only - known
    if unknown:  # a typo must fail loudly, not produce an empty run
        sys.exit(
            f"unknown query name(s): {sorted(unknown)}; "
            f"choose from {sorted(known)}"
        )
    spark = get_spark("scale-curve")
    meter = ShuffleMeter(spark)
    tmp = tempfile.mkdtemp(prefix="bl_syn10x_")
    tmp100 = tempfile.mkdtemp(prefix="bl_syn100x_")
    try:
        syn = build_syn(spark, "/root/testdata/sf0.1", tmp, 10)
        tiers = [
            ("sf0.01", "/root/testdata/sf0.01"),
            ("sf0.1", "/root/testdata/sf0.1"),
            ("syn10x", syn),
        ]
        want100 = not only or any(q in SYN100X_QUERIES for q in only)
        if want100:
            syn100 = build_syn(spark, "/root/testdata/sf0.1", tmp100, 100)
            tiers.append(("syn100x", syn100))
        ndocs = {
            name: load(spark, d).documents.count() for name, d in tiers
        }
        results: dict[str, dict[str, tuple[float, int, int]]] = {}
        for name, d in tiers:
            todo = dict(QUERIES)
            if name not in ("syn10x", "syn100x"):
                todo.update(SMALL_TIER_QUERIES)
            if name == "syn100x":
                todo = {k: v for k, v in todo.items() if k in SYN100X_QUERIES}
            if only:
                todo = {k: v for k, v in todo.items() if k in only}
            for qname, fn in todo.items():
                wall, tot, peak = time_query(fn, spark, d, meter)
                results.setdefault(qname, {})[name] = (wall, tot, peak)
                print(
                    f"{qname} @ {name} ({ndocs[name]} docs): {wall:.2f}s "
                    f"shuffle {_fmt_bytes(tot)} (peak stage "
                    f"{_fmt_bytes(peak)})",
                    flush=True,
                )
        print("\n| query | " + " | ".join(n for n, _ in tiers) + " |")
        print("|---|" + "---|" * len(tiers))
        print(
            "| docs | "
            + " | ".join(str(ndocs[n]) for n, _ in tiers)
            + " |"
        )
        for qname in results:
            r = results[qname]
            print(
                f"| {qname} | "
                + " | ".join(
                    (
                        f"{r[n][0]:.2f}s / {_fmt_bytes(r[n][1])}"
                        if n in r
                        else "—"
                    )
                    for n, _ in tiers
                )
                + " |"
            )
        for qname in results:
            r = results[qname]
            steps = [
                (a, b)
                for a, b in zip(
                    [n for n, _ in tiers], [n for n, _ in tiers][1:]
                )
                if a in r and b in r
            ]
            parts = [
                f"{a}->{b} {r[b][0] / r[a][0]:.1f}x wall "
                f"({ndocs[b] / ndocs[a]:.0f}x docs, "
                f"{(r[b][1] / r[a][1]) if r[a][1] else float('nan'):.1f}x "
                "shuffle)"
                for a, b in steps
            ]
            print(f"{qname}: " + "; ".join(parts))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(tmp100, ignore_errors=True)


if __name__ == "__main__":
    main()
