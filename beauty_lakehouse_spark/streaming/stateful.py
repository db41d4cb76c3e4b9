"""Keyed streaming state: the min-k drains.

The min-k drains (``km_firsts``: min-2 per customer; ``url_dedup_state``:
min-1 per URL) emit values, so they are built-in streaming aggregates
in update mode with a ``count(*)`` version stamp, the shape
``pipelines.rate_capped_grid`` set: they never leave the JVM, and each
``*_finish`` keeps the last version per key.

No state here is user-managed: the reference has no stateful
streaming (SURVEY.md §2.8), and every drain the registry runs is
expressible as a built-in aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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
    In exchange the drain never leaves the JVM; a Python-side min-2
    state pays the Python channel per customer per micro-batch (9.8 s
    vs 2.1 s at sf0.1, ``local[4]``)."""
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
