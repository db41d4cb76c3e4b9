"""Keyed streaming state: one user-managed operator and two min-k drains.

Built-in streaming aggregates emit updated VALUES; they cannot emit
TRANSITIONS (a row only at the moment a running total crosses a
threshold). That shape needs user-managed state — the canonical
``applyInPandasWithState`` use case (SURVEY.md §2.8 north star).

``purchase_milestones`` keys state by user: cumulative purchase value
persists in GroupState across micro-batches; each batch emits one row
per (user, threshold) newly crossed. State is one float per user —
bounded, shuffle-partitioned, and timeout-free here (add
``GroupStateTimeout.ProcessingTimeTimeout`` + ``state.setTimeoutDuration``
for keyed-TTL eviction on unbounded key spaces at 100 TB/day).

The min-k drains (``km_firsts``: min-2 per customer; ``url_dedup_state``:
min-1 per URL) emit values, so they are built-in streaming aggregates
in update mode with a ``count(*)`` version stamp, the shape
``pipelines.rate_capped_grid`` set: they never leave the JVM, and each
``*_finish`` keeps the last version per key.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

MILESTONES = [100.0, 500.0, 1000.0, 5000.0]

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("milestone", T.DoubleType(), False),
        T.StructField("total_at_crossing", T.DoubleType(), False),
    ]
)

STATE_SCHEMA = T.StructType([T.StructField("total", T.DoubleType(), True)])


def _milestone_fn(thresholds: list[float]):
    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        total = state.get[0] if state.exists else 0.0
        out_ms, out_tot = [], []
        for pdf in pdfs:
            # deterministic within-batch order: event time
            for v in pdf.sort_values("ts_us")["value"]:
                new_total = total + float(v)
                for m in thresholds:
                    if total < m <= new_total:
                        out_ms.append(m)
                        out_tot.append(round(new_total, 2))
                total = new_total
        state.update((total,))
        if out_ms:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(out_ms),
                    "milestone": out_ms,
                    "total_at_crossing": out_tot,
                }
            )

    return fn


def purchase_milestones(
    events: DataFrame, thresholds: list[float] | None = None
) -> DataFrame:
    """Streaming per-user purchase-milestone detector. ``events`` is the
    (streaming) events frame; output is append-mode transition rows."""
    thresholds = sorted(thresholds or MILESTONES)
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "value",
    )
    return purchases.groupBy("user_id").applyInPandasWithState(
        _milestone_fn(thresholds),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def km_firsts(orders: DataFrame) -> DataFrame:
    """Streaming per-customer (first, second) order-date tracker, kept
    as one built-in streaming aggregate (the ``rate_capped_grid``
    shape): ``slice(array_sort(collect_list(struct(days, o_orderkey))),
    1, 2)`` is the min-2 by (order date, orderkey). A late EARLIER
    order lands in the list and displaces a kept one at the next
    emission, and the list is sorted before it is sliced, so the final
    pair is independent of micro-batch slicing and arrival order. The
    per-key max order date rides along, so the drained snapshot carries
    everything Kaplan–Meier censoring needs (global max = max over
    keys; every order belongs to some key), and ``count(*)`` is a
    monotone version stamp for last-version-wins. Dates travel as
    integer days-since-epoch (exact, tz-proof).

    State tradeoff: the state holds each customer's orders so far, not
    2 (days, orderkey) pairs — bounded by one customer's order history.
    In exchange the drain never leaves the JVM; the replaced
    ``applyInPandasWithState`` form paid the Python channel per
    customer per micro-batch (9.8 s vs 2.1 s at sf0.1, ``local[4]``)."""
    keyed = orders.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("days"),
    )
    firsts = F.slice(
        F.array_sort(F.collect_list(F.struct("days", "o_orderkey"))), 1, 2
    )
    return (
        keyed.groupBy("o_custkey")
        .agg(
            firsts.alias("firsts"),
            F.max("days").alias("max_days"),
            F.count(F.lit(1)).alias("version"),
        )
        .select(
            "o_custkey",
            F.col("firsts")[0]["days"].alias("d1_days"),
            F.get("firsts", 1)["days"].alias("d2_days"),
            "max_days",
            "version",
        )
    )


def km_firsts_finish(drained: DataFrame) -> DataFrame:
    """Last-version-wins snapshot → (t_days, cen) subject rows →
    the shared ``operators.events.km_curve`` tail: KM-at-ingest equal
    to the batch ``q_kaplan_meier_repeat`` regardless of slicing."""
    from pyspark.sql import Window

    from ..operators.events import km_curve

    w = Window.partitionBy("o_custkey")
    snap = (
        drained.withColumn("mv", F.max("version").over(w))
        .filter(F.col("version") == F.col("mv"))
        .select("o_custkey", "d1_days", "d2_days", "max_days")
    )
    gmax = snap.agg(F.max("max_days").alias("gmax"))
    u = snap.crossJoin(F.broadcast(gmax)).select(
        F.when(
            F.col("d2_days").isNotNull(),
            F.col("d2_days") - F.col("d1_days"),
        )
        .otherwise(F.col("gmax") - F.col("d1_days"))
        .cast("int")
        .alias("t_days"),
        F.col("d2_days").isNull().cast("long").alias("cen"),
    )
    return km_curve(u)


def url_dedup_state(documents: DataFrame) -> DataFrame:
    """URL-DEDUP-AT-INGEST: per url_key the smallest-doc_id crawl's
    stats plus the running crawl count, kept as one built-in streaming
    aggregate over the documents landing stream (a web crawler's
    frontier dedup, running at ingest instead of in a batch repair
    pass). ``min(struct(doc_id, n_tok, n_distinct))`` is the min-1
    winner: a late-arriving EARLIER crawl evicts the kept one, and the
    winner is slicing-independent. ``count(*)`` is both the crawl
    count and the per-key version stamp; the finish keeps the last
    snapshot per URL. State is one struct and one count per URL."""
    from ..operators.curation import url_keyed_docs

    return (
        url_keyed_docs(documents)
        .groupBy("url_key")
        .agg(
            F.min(F.struct("doc_id", "n_tok", "n_distinct")).alias("w"),
            F.count(F.lit(1)).alias("n_at_url"),
        )
        .select(
            "url_key",
            "w.n_tok",
            "w.n_distinct",
            "n_at_url",
            F.col("n_at_url").alias("version"),
        )
    )


def url_dedup_finish(drained: DataFrame) -> DataFrame:
    """Last-version-wins snapshot of the drained update stream → the
    per-URL winner table → the SHARED `domain_mixture_finish` tail, so
    the drain lands behind the same oracle row as the batch
    `domain_dedup_mixture` regardless of micro-batch slicing."""
    from pyspark.sql import Window

    from ..operators.curation import domain_mixture_finish

    w = Window.partitionBy("url_key")
    snap = (
        drained.withColumn("mv", F.max("version").over(w))
        .filter(F.col("version") == F.col("mv"))
        .select("url_key", "n_tok", "n_distinct", "n_at_url")
    )
    return domain_mixture_finish(snap)
