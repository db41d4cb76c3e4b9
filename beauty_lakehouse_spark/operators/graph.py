"""Graph layer (reference L4 — declared but never implemented).

The reference declares a customers—orders—products purchase graph
(01_dataLake_ingestion.ipynb:422,495) and ships an empty notebook.
GraphFrames-style edge/vertex DataFrames derived from the fact tables:
no graph library needed for degree/co-occurrence analytics — they are
joins and aggregations.

Scale notes: the co-purchase self-join explodes per-order item pairs —
O(Σ k_i²) for k items per order. Orders are small groups (≤7 items in
the fixtures), so the blowup is bounded; for pathological baskets the
builder caps basket size (``max_basket``) — the standard trick in
market-basket pipelines to keep the pair count linear in practice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load


def copurchase_edges(lineitem: DataFrame, max_basket: int = 50) -> DataFrame:
    """Undirected co-purchase edges (part_a < part_b) weighted by the
    number of orders containing both parts.

    Basket-list formulation: ONE groupBy(order) builds the deduplicated
    sorted basket, the dedup + size cap + pair generation all happen on
    the grouped array (pairs via nested transform, ≤ C(max_basket, 2)
    per order), then one groupBy counts edges — two shuffles total,
    replacing the distinct + size-filter join + self-join chain (four)."""
    baskets = (
        lineitem.groupBy("l_orderkey")
        .agg(
            F.sort_array(F.array_distinct(F.collect_list("l_partkey"))).alias(
                "parts"
            )
        )
        .filter(F.size("parts").between(2, max_basket))
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("parts"),
            lambda x, i: F.transform(
                F.slice(F.col("parts"), i + 2, F.size(F.col("parts"))),
                lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
            ),
        )
    )
    return (
        baskets.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.part_a").alias("part_a"), F.col("p.part_b").alias("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def q_copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edges seen in ≥ 2 orders (thresholded to keep output compact)."""
    t = load(spark, sf_dir)
    return copurchase_edges(t.lineitem).filter(F.col("n_orders") >= 2)


def q_product_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite degree: distinct orders per part (vertex degree in the
    order—part graph) plus distinct customer reach via orders."""
    t = load(spark, sf_dir)
    li = t.lineitem.join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
    return li.groupBy("l_partkey").agg(
        F.countDistinct("l_orderkey").alias("order_degree"),
        F.countDistinct("o_custkey").alias("customer_reach"),
    )


def q_customer_copurchase_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 20 strongest co-purchase edges with part names attached
    (edge list → dim join → top-k)."""
    t = load(spark, sf_dir)
    edges = copurchase_edges(t.lineitem)
    pa = t.part.select(
        F.col("p_partkey").alias("part_a"), F.col("p_name").alias("name_a")
    )
    pb = t.part.select(
        F.col("p_partkey").alias("part_b"), F.col("p_name").alias("name_b")
    )
    return (
        edges.join(pa, "part_a")
        .join(pb, "part_b")
        .select("part_a", "part_b", "name_a", "name_b", "n_orders")
        .orderBy(F.desc("n_orders"), F.asc("part_a"), F.asc("part_b"))
        .limit(20)
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 5,
) -> DataFrame:
    """PageRank over an undirected weighted edge list (part_a, part_b,
    n_orders) — the iterative-algorithm shape SQL can't express in one
    query. Each iteration is one shuffle (groupBy dst); ranks live in a
    DataFrame, never on the driver.

    Lineage: iteration k's plan would otherwise embed all k-1 prior
    plans (superlinear re-analysis + recomputation at scale), so the
    loop truncates per iteration — ``norm``/``vertices`` are
    materialized once up front (they feed every round) and ``ranks`` is
    checkpointed after each update. On a cluster the same lever is
    ``checkpoint()`` to reliable storage; local mode uses
    ``localCheckpoint`` (executor-memory blocks)."""
    # undirected → both directions, weight-normalized out-edges
    directed = edges.select(
        F.col("part_a").alias("src"), F.col("part_b").alias("dst"),
        F.col("n_orders").cast("double").alias("w"),
    ).unionByName(
        edges.select(
            F.col("part_b").alias("src"), F.col("part_a").alias("dst"),
            F.col("n_orders").cast("double").alias("w"),
        )
    )
    # one eager checkpoint materializes the (possibly expensive) edge
    # derivation; everything downstream reads cached blocks
    directed = directed.localCheckpoint(eager=True)
    out_w = directed.groupBy("src").agg(F.sum("w").alias("out_w"))
    norm = directed.join(out_w, "src").select(
        "src", "dst", (F.col("w") / F.col("out_w")).alias("p")
    ).localCheckpoint(eager=False)
    vertices = (
        directed.select(F.col("src").alias("id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = vertices.count()
    ranks = vertices.select("id", F.lit(1.0 / n).alias("rank"))
    for i in range(iters):
        contribs = (
            norm.join(ranks, norm.src == ranks.id)
            .select("dst", (F.col("p") * F.col("rank")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("c"))
        )
        ranks = vertices.join(
            contribs, vertices.id == contribs.dst, "left"
        ).select(
            "id",
            (
                F.lit((1.0 - damping) / n)
                + F.lit(damping) * F.coalesce(F.col("c"), F.lit(0.0))
            ).alias("rank"),
        )
        # lazy checkpoint every 2nd iteration (§2.2): each rank table
        # is referenced exactly once (the next round's join), so the
        # un-checkpointed odd round computes once either way; lineage
        # stays bounded at two rounds per plan and half the
        # materialization round-trips are paid
        if (i + 1) % 2 == 0 or i == iters - 1:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def q_product_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered rows-only (iterative — not single-statement-SQL
    expressible; invariants asserted in tests): top-50 products by
    co-purchase PageRank."""
    t = load(spark, sf_dir)
    edges = copurchase_edges(t.lineitem)
    ranks = pagerank(edges)
    return (
        ranks.orderBy(F.desc("rank"), F.asc("id"))
        .limit(50)
        .select(F.col("id").alias("l_partkey"), F.round("rank", 8).alias("rank"))
    )


#: Fixed-point scale for the oracle-exact PageRank: ranks are integer
#: trillionths. All updates are non-negative integer multiply/floor-div
#: — bit-identical in any engine, independent of partitioning.
PAGERANK_SCALE = 1_000_000_000_000
PAGERANK_ITERS = 8
_DAMP_NUM, _DAMP_DEN = 85, 100


def pagerank_exact(edges: DataFrame, iters: int = PAGERANK_ITERS) -> DataFrame:
    """Deterministic fixed-point PageRank: the iterative algorithm made
    CROSS-ENGINE EXACT. The float formulation (``pagerank``) is
    order-sensitive in its double sums; this variant keeps ranks as
    integer trillionths and every update is ``(rank·w) div out_w`` and
    ``teleport + (85·inflow) div 100`` — associative integer arithmetic
    with floor division, so a DuckDB twin (iterations unrolled into
    chained CTEs) hash-matches bit for bit. The mass floor-div leaks
    (sub-trillionth per edge per round) are part of the defined
    semantics, identically on both engines.

    Same lineage policy as ``pagerank``: edge table checkpointed
    eagerly once, ranks checkpointed lazily per round. Same shuffle
    policy as the r12 HITS rework: the degree-normalized edge FACT is
    hash-partitioned by dst ONCE, each round broadcast-joins the
    vertex-grain rank vector (a dimension relative to the edges), and
    the contribution groupBy keys on the partitioning column — so no
    round exchanges edge-sized data. For web-scale graphs whose rank
    vector outgrows broadcast, swap the broadcast for a co-partitioned
    join (the pre-r12 form)."""
    directed = edges.select(
        F.col("part_a").alias("src"), F.col("part_b").alias("dst"),
        F.col("n_orders").cast("long").alias("w"),
    ).unionByName(
        edges.select(
            F.col("part_b").alias("src"), F.col("part_a").alias("dst"),
            F.col("n_orders").cast("long").alias("w"),
        )
    ).localCheckpoint(eager=True)
    out_w = directed.groupBy("src").agg(F.sum("w").alias("out_w"))
    norm = (
        directed.join(out_w, "src")
        .repartition("dst")
        .localCheckpoint(eager=False)
    )
    vertices = (
        directed.select(F.col("src").alias("id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    teleport = (_DAMP_DEN - _DAMP_NUM) * PAGERANK_SCALE // _DAMP_DEN
    ranks = vertices.select(
        "id", F.lit(PAGERANK_SCALE).cast("long").alias("rank")
    )
    for i in range(iters):
        contribs = (
            norm.join(F.broadcast(ranks), norm.src == ranks.id)
            .select("dst", F.expr("(rank * w) div out_w").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("c"))
        )
        ranks = (
            vertices.join(contribs, vertices.id == contribs.dst, "left")
            .select(
                "id",
                (
                    F.lit(teleport)
                    + F.expr(
                        f"({_DAMP_NUM} * coalesce(c, 0L)) div {_DAMP_DEN}"
                    )
                ).cast("long").alias("rank"),
            )
        )
        # r14 (§2.2 fixed-overhead amortization): checkpoint every 2nd
        # round, not every round. Each round's table is referenced
        # exactly once downstream (the next round's broadcast), so the
        # un-checkpointed odd round is computed exactly once either
        # way; halving the checkpoints halves the per-round driver
        # planning + materialization round-trips that dominate locally
        # (measured 6.8 -> 4.0 s at sf0.1, output bit-identical).
        # Lineage stays bounded at two rounds per plan.
        if (i + 1) % 2 == 0 or i == iters - 1:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def q_product_pagerank_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 products by fixed-point co-purchase PageRank —
    oracle-matched (the DuckDB twin unrolls the 8 iterations into
    chained CTEs over the same integer arithmetic)."""
    t = load(spark, sf_dir)
    # same >=2-order edge threshold as q_copurchase_edges (and the
    # oracle's ed CTE): singleton co-occurrences are noise edges
    edges = copurchase_edges(t.lineitem).filter(F.col("n_orders") >= 2)
    ranks = pagerank_exact(edges)
    return (
        ranks.orderBy(F.desc("rank"), F.asc("id"))
        .limit(50)
        .select(F.col("id").alias("l_partkey"), "rank")
    )


def q_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets: directed
    rules a→b with support (co-orders), confidence (= support /
    antecedent's order count) and lift (= N·support / (n_a·n_b)) —
    the recommendation primitive on top of the co-purchase graph.

    Confidence and lift are exact: all inputs are integer counts, both
    ratios go through one half-up division. Item counts are a small dim
    (one row per part) broadcast into the directed edge list; the only
    big shuffles are the basket build and the pair count, both shared
    with ``copurchase_edges``."""
    from ..functions import halfup_div

    t = load(spark, sf_dir)
    pairs = copurchase_edges(t.lineitem)
    bp = t.lineitem.select("l_orderkey", "l_partkey").distinct()
    item_counts = bp.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_item"))
    total = bp.agg(F.countDistinct("l_orderkey").alias("n_total"))
    directed = pairs.select(
        F.col("part_a").alias("antecedent"),
        F.col("part_b").alias("consequent"),
        F.col("n_orders").alias("support_orders"),
    ).unionByName(
        pairs.select(
            F.col("part_b").alias("antecedent"),
            F.col("part_a").alias("consequent"),
            F.col("n_orders").alias("support_orders"),
        )
    )
    a_cnt = item_counts.select(
        F.col("l_partkey").alias("antecedent"), F.col("n_item").alias("n_a")
    )
    c_cnt = item_counts.select(
        F.col("l_partkey").alias("consequent"), F.col("n_item").alias("n_c")
    )
    return (
        directed.filter(F.col("support_orders") >= 3)
        .join(F.broadcast(a_cnt), "antecedent")
        .join(F.broadcast(c_cnt), "consequent")
        .crossJoin(F.broadcast(total))
        .select(
            "antecedent",
            "consequent",
            "support_orders",
            halfup_div(F.col("support_orders") * 100, F.col("n_a"), 4).alias(
                "confidence_pct"
            ),
            halfup_div(
                F.col("support_orders") * F.col("n_total"),
                F.col("n_a") * F.col("n_c"),
                4,
            ).alias("lift"),
        )
        .orderBy(
            F.desc("confidence_pct"), F.asc("antecedent"), F.asc("consequent")
        )
        .limit(50)
    )


def q_product_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient on the
    thresholded co-purchase graph — the cohesion analytics a
    recommendation graph needs (a high-coefficient neighborhood is a
    bundle; a zero-coefficient hub is a generic staple).

    Shape: edges are stored once in (a < b) orientation; triangles are
    found by joining the wedge (a<b, b<c) with the closing edge (a<c) —
    every triangle is counted exactly once, no direction blowup. At
    scale the standard refinement orients edges from lower to higher
    DEGREE (not id), which bounds wedge counts by arboricity; the id
    orientation keeps the oracle SQL identical and is the right
    fixture-scale default. Clustering coefficient = 2·tri / (deg·(deg−1))
    via exact integer half-up division.
    """
    from ..functions import halfup_div

    t = load(spark, sf_dir)
    edges = (
        copurchase_edges(t.lineitem)
        .filter(F.col("n_orders") >= 2)
        .select("part_a", "part_b")
        .localCheckpoint(eager=False)
    )
    e1 = edges.select(F.col("part_a").alias("a"), F.col("part_b").alias("b"))
    e2 = edges.select(F.col("part_a").alias("b"), F.col("part_b").alias("c"))
    e3 = edges.select(F.col("part_a").alias("a"), F.col("part_b").alias("c"))
    tri = (
        e1.join(e2, "b")
        .join(e3, ["a", "c"])
        .select(F.explode(F.array("a", "b", "c")).alias("part"))
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    deg = (
        e1.select(F.col("a").alias("part"))
        .unionByName(e1.select(F.col("b").alias("part")))
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        deg.join(tri, "part", "left")
        .select(
            F.col("part").alias("l_partkey"),
            "degree",
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
            F.when(
                F.col("degree") >= 2,
                halfup_div(
                    F.coalesce("n_triangles", F.lit(0)).cast("long") * 2,
                    (F.col("degree") * (F.col("degree") - 1)).cast("long"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering_coeff"),
        )
    )


def q_copurchase_jaccard_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the order–part bipartite graph: top-50 part
    pairs by exact Jaccard of their order neighborhoods —
    |orders(a) ∩ orders(b)| / |orders(a) ∪ orders(b)| — the classic
    common-neighbor recommender score, oracle-exact.

    Candidate pairs come only from the capped basket-list expansion
    (``copurchase_edges`` — pairs must share ≥ 1 order, baskets ≤
    ``max_basket``); degrees are the TRUE per-part order counts over
    the uncapped distinct bipartite edges, so the score is the honest
    neighborhood Jaccard wherever a candidate exists. The ratio is the
    exact rational n∩/(dₐ+d_b−n∩) surfaced at half-up 6 decimals
    (``halfup_div``) — deterministic ordering in both engines, id
    tie-breaks.

    Scale: the pair space is basket-bounded (Σ C(|basket|,2)), degrees
    are one map-side-combinable groupBy, the final join is pair-grain
    against the part-degree dictionary."""
    from ..functions import halfup_div

    t = load(spark, sf_dir)
    edges = copurchase_edges(t.lineitem).withColumnRenamed(
        "n_orders", "n_common"
    )
    deg = (
        t.lineitem.select("l_orderkey", "l_partkey")
        .distinct()
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("dg"))
    )
    j = (
        edges.join(
            deg.select(F.col("l_partkey").alias("part_a"), F.col("dg").alias("deg_a")),
            "part_a",
        )
        .join(
            deg.select(F.col("l_partkey").alias("part_b"), F.col("dg").alias("deg_b")),
            "part_b",
        )
        .select(
            "part_a",
            "part_b",
            "n_common",
            "deg_a",
            "deg_b",
            halfup_div(
                F.col("n_common"),
                F.col("deg_a") + F.col("deg_b") - F.col("n_common"),
                6,
            ).alias("jaccard"),
        )
    )
    return j.orderBy(F.desc("jaccard"), "part_a", "part_b").limit(50)


#: Bounded BFS: hop cap and multi-source seed count. A bounded radius
#: keeps per-round work frontier-sized and the round count constant —
#: the only BFS shape that survives a 100 TB graph (an unbounded
#: all-pairs BFS does not).
BFS_HOPS = 3
BFS_SEEDS = 5


def q_copurchase_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source bounded BFS over the co-purchase graph: the minimum
    hop distance (≤ ``BFS_HOPS``) from the ``BFS_SEEDS`` highest
    weighted-degree products to every reachable product.

    The "distance to a hub" feature of product graphs (catalog
    centrality / recommendation radius). Frontier-expansion formulation:
    each round joins the CURRENT frontier (never the accumulated
    visited set) against the undirected edge list, anti-joins the
    visited set, and unions the new layer — per-round data movement is
    |frontier| × avg-degree, the rounds are constant, and every round's
    result is lazily checkpointed so round k's plan does not replay
    rounds 1..k-1 (the ``pagerank_exact`` convention). First visit IS
    the minimum distance, so no min-aggregation pass is needed.
    Oracle: DuckDB recursive CTE with UNION dedup + min(dist).
    """
    t = load(spark, sf_dir)
    edges = copurchase_edges(t.lineitem).filter(F.col("n_orders") >= 2)
    und = (
        edges.select(
            F.col("part_a").alias("src"),
            F.col("part_b").alias("dst"),
            "n_orders",
        )
        .unionByName(
            edges.select(
                F.col("part_b").alias("src"),
                F.col("part_a").alias("dst"),
                "n_orders",
            )
        )
        .localCheckpoint(eager=False)
    )
    seeds = (
        und.groupBy("src")
        .agg(F.sum("n_orders").alias("wdeg"))
        .orderBy(F.desc("wdeg"), F.asc("src"))
        .limit(BFS_SEEDS)
        .select(F.col("src").alias("part"))
    )
    dist = seeds.select(
        "part", F.lit(0).cast("int").alias("dist")
    ).localCheckpoint(eager=False)
    frontier = dist.select("part")
    for hop in range(1, BFS_HOPS + 1):
        layer = (
            frontier.join(und, frontier["part"] == und["src"])
            .select(F.col("dst").alias("part"))
            .distinct()
            .join(dist.select("part"), "part", "left_anti")
            .select("part", F.lit(hop).cast("int").alias("dist"))
            .localCheckpoint(eager=False)
        )
        # no checkpoint on the union: every arm is itself a
        # checkpointed layer, so the cumulative dist plan is a flat
        # union of materialized tables — checkpointing it again only
        # added one materialization round-trip per hop (§2.2)
        dist = dist.unionByName(layer)
        frontier = layer.select("part")
    return dist


def q_copurchase_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADAMIC-ADAR link prediction on the co-purchase graph — the
    degree-weighted sibling of `q_copurchase_jaccard_top`: a shared
    order counts 1/ln(basket size), so co-occurring in a focused
    2-item order says far more than sharing a 40-item catalog order
    (the common-neighbor score that fixes Jaccard's big-neighbor
    bias; Adamic & Adar 2003).

    Exact fixed point: each basket's weight is 10¹²//ln_micro(s, 1)
    (micro-units of 1/ln s — ln_micro's integer ln, never float), and
    a pair's score sums those integers over its shared orders. The
    pair space is the SAME capped basket expansion as
    `copurchase_edges` (pairs minted inside each ≤max_basket basket,
    never part×part); one extra map-side column carries the basket
    weight into the pair aggregate — identical shuffle shape to the
    edge count. Top-50 by (score desc, ids).

    Output: (part_a, part_b, n_common, aa_micro)."""
    from ..functions import _idiv, ln_micro

    t = load(spark, sf_dir)
    baskets = (
        t.lineitem.groupBy("l_orderkey")
        .agg(
            F.sort_array(
                F.array_distinct(F.collect_list("l_partkey"))
            ).alias("parts")
        )
        .filter(F.size("parts").between(2, 50))
        .withColumn(
            "w_micro",
            _idiv(
                F.lit(10**12).cast("decimal(38,0)"),
                ln_micro(F.size("parts").cast("long"), F.lit(1)),
            ),
        )
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("parts"),
            lambda x, i: F.transform(
                F.slice(F.col("parts"), i + 2, F.size(F.col("parts"))),
                lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
            ),
        )
    )
    scored = (
        baskets.select("w_micro", F.explode(pair_structs).alias("p"))
        .select(
            F.col("p.part_a").alias("part_a"),
            F.col("p.part_b").alias("part_b"),
            "w_micro",
        )
        .groupBy("part_a", "part_b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum("w_micro").alias("aa_micro"),
        )
    )
    return (
        scored.orderBy(
            F.desc("aa_micro"), F.asc("part_a"), F.asc("part_b")
        )
        .limit(50)
        .select("part_a", "part_b", "n_common", "aa_micro")
    )


def q_copurchase_cosine_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COSINE link prediction on the co-purchase graph — the third axis
    of the common-neighbor trio (Jaccard = overlap/union, Adamic-Adar =
    rarity-weighted, cosine = overlap normalized by the geometric mean
    of the degrees): cos(a,b) = n∩ / sqrt(dₐ·d_b), the score that stays
    comparable when one endpoint is a blockbuster product (Jaccard's
    union washes those pairs out; cosine only half-penalizes).

    Exactness: the MONOTONE transform cos² = n∩²/(dₐ·d_b) is surfaced
    instead of cos — an exact rational of the same integers (no sqrt on
    either engine), quantized half-up at 6 dp (``halfup_div``), so
    ranking by cos² IS ranking by cosine and both engines agree
    bit-for-bit. Candidates come only from the capped basket expansion
    (``copurchase_edges``); degrees are the TRUE per-part order counts
    over the uncapped distinct bipartite edges (the
    ``copurchase_jaccard_top`` convention).

    Scale: pair space is basket-bounded (Σ C(|basket|,2) — never
    part×part), degrees are one map-side-combinable groupBy, the final
    join is pair-grain against the part-degree dictionary. Top-50 by
    (cos² desc, ids).

    Output: (part_a, part_b, n_common, deg_a, deg_b, cosine2)."""
    from ..functions import halfup_div

    t = load(spark, sf_dir)
    edges = copurchase_edges(t.lineitem).withColumnRenamed(
        "n_orders", "n_common"
    )
    deg = (
        t.lineitem.select("l_orderkey", "l_partkey")
        .distinct()
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("dg"))
    )
    j = (
        edges.join(
            deg.select(F.col("l_partkey").alias("part_a"), F.col("dg").alias("deg_a")),
            "part_a",
        )
        .join(
            deg.select(F.col("l_partkey").alias("part_b"), F.col("dg").alias("deg_b")),
            "part_b",
        )
        .select(
            "part_a",
            "part_b",
            "n_common",
            "deg_a",
            "deg_b",
            halfup_div(
                F.col("n_common") * F.col("n_common"),
                F.col("deg_a") * F.col("deg_b"),
                6,
            ).alias("cosine2"),
        )
    )
    return j.orderBy(F.desc("cosine2"), "part_a", "part_b").limit(50)


#: Recommender evaluation: neighbors kept per product and the temporal
#: split rule (test = the max order year, train = everything before —
#: the leakage-free backtest split).
REC_TOP_K = 5


def q_copurchase_eval_hitrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal backtest of the co-purchase recommender — the
    evaluation capstone of the graph family (``lang_eval`` evaluates
    the language-ID model; this evaluates the link predictor): train
    top-``REC_TOP_K`` neighbor lists on every order year EXCEPT the
    last, then measure HIT RATE against the held-out final year — the
    fraction of truly co-purchased test pairs where either endpoint
    recommended the other. Time-based splitting is the leakage-free
    protocol (a random split would let the model see the future).

    Both pair spaces use the capped basket expansion
    (``copurchase_edges``); per-product neighbor lists come from a
    window PARTITIONED BY product over its own candidate edges
    (n_common desc, id tie-break) — bounded per key, never a global
    sort. The split year is a whitelisted 1-row broadcast.

    Output (1 row): (n_train_orders, n_test_orders, n_test_pairs,
    n_hits, hit_rate)."""
    from pyspark.sql import Window

    from ..functions import halfup_div

    t = load(spark, sf_dir)
    li = t.lineitem.select("l_orderkey", "l_partkey").join(
        t.orders.select(
            F.col("o_orderkey"),
            F.year("o_orderdate").alias("y"),
        ),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    maxy = t.orders.agg(F.max(F.year("o_orderdate")).alias("maxy"))
    li = li.crossJoin(F.broadcast(maxy))
    train_li = li.filter(F.col("y") < F.col("maxy")).select(
        "l_orderkey", "l_partkey"
    )
    test_li = li.filter(F.col("y") == F.col("maxy")).select(
        "l_orderkey", "l_partkey"
    )
    train_e = copurchase_edges(train_li)
    directed = train_e.select(
        F.col("part_a").alias("src"),
        F.col("part_b").alias("dst"),
        "n_orders",
    ).unionByName(
        train_e.select(
            F.col("part_b").alias("src"),
            F.col("part_a").alias("dst"),
            "n_orders",
        )
    )
    wk = Window.partitionBy("src").orderBy(
        F.desc("n_orders"), F.asc("dst")
    )
    recs = (
        directed.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= REC_TOP_K)
        .select(
            F.least("src", "dst").alias("part_a"),
            F.greatest("src", "dst").alias("part_b"),
        )
        .distinct()
    )
    test_pairs = copurchase_edges(test_li).select("part_a", "part_b")
    hits = test_pairs.join(recs, ["part_a", "part_b"], "left_semi")
    counts = (
        test_pairs.agg(F.count(F.lit(1)).alias("n_test_pairs"))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hits")))
        .crossJoin(
            train_li.agg(
                F.countDistinct("l_orderkey").alias("n_train_orders")
            )
        )
        .crossJoin(
            test_li.agg(
                F.countDistinct("l_orderkey").alias("n_test_orders")
            )
        )
    )
    return counts.select(
        "n_train_orders",
        "n_test_orders",
        "n_test_pairs",
        "n_hits",
        halfup_div(F.col("n_hits"), F.col("n_test_pairs"), 6).alias(
            "hit_rate"
        ),
    )


#: k-core decomposition: degree threshold and the unrolled round cap
#: (bounded rounds — the only peeling shape that survives 100 TB; the
#: converged flag says whether the cap sufficed).
KCORE_K = 80
KCORE_ROUNDS = 8


def q_copurchase_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-CORE decomposition of the co-purchase graph — the classic
    density peel (Seidman 1983; the backbone extractor behind
    community seeding and influence pruning): repeatedly remove
    products with fewer than ``KCORE_K`` surviving neighbors until a
    fixpoint; what remains is the k-core, the maximal subgraph of
    minimum degree k.

    Peeling is inherently iterative, so the rounds are UNROLLED to the
    constant ``KCORE_ROUNDS`` cap with each round's degree state lazily
    checkpointed (the ``pagerank_exact`` convention) — and the peel is
    DELTA-MAINTAINED (VERDICT r10 ask #3): the full-subgraph degree is
    aggregated ONCE, then each round only counts the edges incident to
    the JUST-REMOVED node set and subtracts those decrements from the
    survivors' degrees. Decrements aimed at nodes that died in the same
    round (or earlier) drop out naturally in the survivor join, so no
    alive-side edge filter is needed at all. The trajectory itself is
    the output: (round, n_alive, n_removed) per round plus the
    converged flag (a removal-free final round), so an insufficient cap
    is VISIBLE, never silent.

    Scale: the old form re-joined the FULL surviving edge set twice per
    round (two edge-grain shuffles × 8 rounds — the steepest curve in
    SCALE.md r10: 14.2× shuffle per 10× docs). Now round r shuffles
    only (a) the removed-set probe of the edge table — map-side when
    the removed set broadcasts, which it does from round 2 on (peels
    shrink geometrically) — and (b) the node-grain decrement rows. The
    one full-edge-grain aggregate happens once, not per round.

    Output: (round, n_alive, n_removed, converged)."""
    t = load(spark, sf_dir)
    e = copurchase_edges(t.lineitem)
    # hash-partition the edge table by src ONCE: every round's removed-
    # set probe and the initial degree aggregate then reuse this
    # partitioning (checkpoint preserves it), so no round ever shuffles
    # the edge set again — only the node-grain removed list moves
    dir_e = e.select(
        F.col("part_a").alias("src"), F.col("part_b").alias("dst")
    ).unionByName(
        e.select(F.col("part_b").alias("src"), F.col("part_a").alias("dst"))
    ).repartition("src").localCheckpoint(eager=False)
    # full-graph degree: the ONLY edge-grain aggregate of the whole peel
    deg = (
        dir_e.groupBy("src")
        .agg(F.count(F.lit(1)).alias("dg"))
        .select(F.col("src").alias("pk"), "dg")
        .localCheckpoint(eager=False)
    )
    traj = [
        deg.agg(F.count(F.lit(1)).alias("n_alive")).select(
            F.lit(0).alias("round"), "n_alive"
        )
    ]
    for r in range(1, KCORE_ROUNDS + 1):
        removed = deg.filter(F.col("dg") < KCORE_K).select("pk")
        survivors = deg.filter(F.col("dg") >= KCORE_K)
        # decrements: edges whose src just died; decrements aimed at
        # nodes that are themselves dead vanish in the survivor join
        # the broadcast is FORCED: after the checkpoint Catalyst no
        # longer knows dir_e is hash-partitioned by src, so a removed
        # set past the 10 MB auto-threshold would re-shuffle the FULL
        # edge table (measured at syn100x: rounds 1-3 did exactly that,
        # 24.7 GiB total). Peel sets shrink geometrically, so even the
        # round-1 set stays far under the 8 GB broadcast ceiling at any
        # plausible scale; beyond that, a bucketed maintained edge
        # table (the docstring seam) makes rounds shuffle-free with no
        # broadcast at all.
        dec = (
            dir_e.join(
                F.broadcast(removed.select(F.col("pk").alias("src"))),
                "src",
            )
            .groupBy("dst")
            .agg(F.count(F.lit(1)).alias("dd"))
        )
        deg = (
            survivors.join(
                dec.select(F.col("dst").alias("pk"), "dd"), "pk", "left"
            )
            .select(
                "pk",
                (F.col("dg") - F.coalesce("dd", F.lit(0))).alias("dg"),
            )
            .localCheckpoint(eager=False)
        )
        traj.append(
            deg.agg(F.count(F.lit(1)).alias("n_alive")).select(
                F.lit(r).alias("round"), "n_alive"
            )
        )
    out = traj[0]
    for t_ in traj[1:]:
        out = out.unionByName(t_)
    from pyspark.sql import Window

    w = Window.orderBy("round")
    return (
        out.withColumn(
            "n_removed",
            F.coalesce(
                F.lag("n_alive").over(w) - F.col("n_alive"), F.lit(0)
            ).cast("long"),
        )
        .withColumn(
            "converged",
            (F.col("round") == KCORE_ROUNDS)
            & (F.col("n_removed") == 0),
        )
        .select("round", "n_alive", "n_removed", "converged")
        .orderBy("round")
    )


#: HyperBall radius cap: the neighborhood function is reported for
#: r = 0..HB_ROUNDS (r=1 is degree+1; the fixture co-purchase graph's
#: effective diameter is small, so 3 rounds reach near-saturation —
#: visible in the output, never silent).
HB_ROUNDS = 3


def q_hyperball_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYPERBALL neighborhood function (Boldi & Vigna 2013 — the
    HyperANF/HyperBall algorithm behind the "four degrees of
    separation" measurement): estimate |B(v, r)| — how many nodes are
    within r hops of v — for EVERY node simultaneously by giving each
    node a portable-HLL counter seeded with itself and, per round,
    merging every node's counter with its neighbors' (register-wise
    max). Exact all-balls computation is Θ(n·ball) state (the
    multi-source BFS blow-up `copurchase_bfs_hops` bounds by seed
    count); HyperBall is n × m registers TOTAL, which is the whole
    point at 100 TB — the neighborhood function, effective diameter,
    and centralities fall out of a fixed-memory sketch.

    Portable and hash-verifiable: the counters are the SAME portable
    HLL the profiling family uses (`quality.hll_registers` /
    `hll_group_estimate` — md5 hash, exact harmonic sum, rational
    alpha, ln_micro linear counting), so the DuckDB twin reproduces
    every register and every estimate bit-for-bit through all rounds.

    Per round the output row is the NEIGHBORHOOD FUNCTION at radius r:
    N(r) = Σ_v |B̂(v, r)| (n_nodes rides along as the r=0 sanity — the
    linear-counting branch makes every singleton ball estimate exactly
    1, so sum_ball_est(0) == n_nodes).

    Scale: register propagation is one equi-join of the register table
    against the src-partitioned edge table per round (the kcore
    partitioning trick — the edge side never re-shuffles) followed by
    a (node, idx) max-combine; state is ≤ m rows per node regardless
    of ball size. Rounds are unrolled to the HB_ROUNDS constant with
    eager checkpoints (each round's registers have two consumers).

    Output: (round, n_nodes, sum_ball_est) for r = 0..HB_ROUNDS."""
    return (
        _hyperball_ball_estimates(spark, sf_dir)
        .groupBy("round")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("hll_estimate").cast("long").alias("sum_ball_est"),
        )
        .orderBy("round")
    )


def _hyperball_ball_estimates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The HyperBall register propagation shared by the neighborhood
    function and the closeness ranking: ONE frame (round, node,
    hll_estimate) for r = 0..HB_ROUNDS. The per-round register tables
    stay individually checkpointed (the propagation is inherently
    sequential), but the estimate math runs ONCE over their tagged
    union keyed by (round, node) — the r13 shape ran one estimate
    aggregate per round and re-joined them (§1.2: 4 aggregate subplans
    + 3 node-keyed joins collapsed into 1 aggregate)."""
    from .quality import hll_group_estimate, hll_registers

    t = load(spark, sf_dir)
    e = copurchase_edges(t.lineitem).filter(F.col("n_orders") >= 2)
    # every checkpoint here is eager: `nodes` and every round read the
    # edges, and each round's registers feed both branches of the next
    # round (union and propagation join), whose exchanges AQE runs as
    # concurrent jobs — a lazy checkpoint read by two concurrent jobs
    # is computed twice
    dir_e = (
        e.select(F.col("part_a").alias("src"), F.col("part_b").alias("dst"))
        .unionByName(
            e.select(
                F.col("part_b").alias("src"), F.col("part_a").alias("dst")
            )
        )
        .repartition("src")
        .localCheckpoint(eager=True)
    )
    nodes = dir_e.select(F.col("src").alias("node")).distinct()
    regs = hll_registers(nodes, "node", keys=("node",)).localCheckpoint(
        eager=True
    )

    def _tag(frame: DataFrame, r: int) -> DataFrame:
        return frame.select(
            F.lit(r).cast("int").alias("round"), "node", "idx", "m_rho"
        )

    tagged = _tag(regs, 0)
    for r in range(1, HB_ROUNDS + 1):
        prop = dir_e.join(
            regs.select(F.col("node").alias("src"), "idx", "m_rho"), "src"
        ).select(F.col("dst").alias("node"), "idx", "m_rho")
        regs = (
            regs.unionByName(prop)
            .groupBy("node", "idx")
            .agg(F.max("m_rho").alias("m_rho"))
            .localCheckpoint(eager=True)
        )
        tagged = tagged.unionByName(_tag(regs, r))
    return hll_group_estimate(tagged, ("round", "node")).select(
        "round", "node", "hll_estimate"
    )


#: Harmonic weights floor(1e6 / r) for the truncated closeness sum —
#: literal in both engines.
HB_HARMONIC = [1_000_000, 500_000, 333_333]
HB_CLOSENESS_TOP = 20


def q_hyperball_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYPERBALL HARMONIC CENTRALITY (Boldi & Vigna 2014 — "Axioms for
    centrality"; the application HyperBall was built for): rank nodes
    by Σ_r (1/r)·|{nodes at distance exactly r}|, estimated from the
    SAME per-node ball sketches as `q_hyperball_neighborhood` — the
    per-distance shell size is the difference of consecutive ball
    estimates, truncated at HB_ROUNDS (documented: contributions
    beyond radius 3 are dropped, which preserves ranking on a
    small-diameter graph and bounds work everywhere).

    Shell deltas are clamped at 0 (register max-merge means balls only
    grow, but the linear-count→raw estimator branch switch can wobble
    an estimate by ±1 — the clamp makes the centrality deterministic
    AND monotone-consistent in both engines). Weights are the literal
    micro ladder floor(1e6/r).

    Output: top-HB_CLOSENESS_TOP nodes by (hc_micro desc, node) —
    (node, ball_1, ball_2, ball_3, hc_micro)."""
    # every node appears in every round (register merge never drops a
    # node), so the conditional-max pivot over the shared tagged frame
    # reproduces the old 4-frame inner join exactly — one aggregate,
    # zero joins (r14 §1.2)
    joined = (
        _hyperball_ball_estimates(spark, sf_dir)
        .groupBy("node")
        .agg(
            *[
                F.max(
                    F.when(F.col("round") == r, F.col("hll_estimate"))
                ).alias(f"est_{r}")
                for r in range(HB_ROUNDS + 1)
            ]
        )
    )
    hc = None
    for r in range(1, HB_ROUNDS + 1):
        term = (
            F.greatest(
                F.col(f"est_{r}") - F.col(f"est_{r - 1}"), F.lit(0).cast("long")
            )
            * F.lit(HB_HARMONIC[r - 1])
        )
        hc = term if hc is None else hc + term
    return (
        joined.select(
            "node",
            F.col("est_1").alias("ball_1"),
            F.col("est_2").alias("ball_2"),
            F.col("est_3").alias("ball_3"),
            hc.cast("long").alias("hc_micro"),
        )
        .orderBy(F.desc("hc_micro"), "node")
        .limit(HB_CLOSENESS_TOP)
    )


#: DeepWalk-style corpus geometry: walks per seed, steps per walk,
#: seed count (highest weighted-degree hubs, the BFS convention).
WALK_SEEDS = 10
WALKS_PER_SEED = 4
WALK_STEPS = 4


def q_deterministic_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC RANDOM WALKS over the co-purchase graph — the
    graph-embedding DATA-PREP operator (DeepWalk, Perozzi et al. 2014;
    node2vec's p=q=1 case): emit a corpus of fixed-length walks whose
    windowed co-occurrences train node embeddings exactly like
    skipgram trains word embeddings (`skipgram_pairs` downstream).

    "Random" without an RNG: at step i of walk w from node v, the next
    node is the neighbor whose per-node rank (neighbors ordered by id)
    equals ``splitmix60(portable_hash64(v), w * 8 + i) mod deg(v)`` —
    one md5 per distinct node, a splitmix mix per (walk, step), so
    both engines and any re-run trace bit-identical walks (the
    bootstrap/randomization-test determinism contract applied to graph
    sampling).

    Scale: the adjacency is collapsed ONCE to a per-node sorted
    neighbor ARRAY (id order ≡ the rank order the pick indexes), so
    each step is a single 1:1 join — frontier against the array table
    — with ``element_at`` doing the neighbor selection. The frontier
    is CONSTANT-size by construction (seeds × walks rows), so it is
    broadcast and no step shuffles the adjacency; the pre-r13 form ran
    TWO shuffling joins per step (deg lookup + rank-row match that
    re-enumerated every neighbor of each frontier node) plus a second
    full co-purchase build for the seed ranking. No per-round driver
    collects; walk state is (seed, walk, cur) rows.

    Output: (seed, walk_id, step, node) for steps 0..WALK_STEPS —
    (seeds × walks × (steps+1)) rows; step 0 is the seed itself."""
    from ..functions import portable_hash64, splitmix60

    t = load(spark, sf_dir)
    edges = copurchase_edges(t.lineitem).filter(F.col("n_orders") >= 2)
    und = (
        edges.select(
            F.col("part_a").alias("src"), F.col("part_b").alias("dst"),
            "n_orders",
        )
        .unionByName(
            edges.select(
                F.col("part_b").alias("src"),
                F.col("part_a").alias("dst"),
                "n_orders",
            )
        )
    )
    # one aggregate builds the sorted neighbor arrays AND the weighted
    # degree the seed ranking needs — the edge pipeline runs once
    adj = (
        und.groupBy("src")
        .agg(
            F.array_sort(F.collect_list("dst")).alias("nbrs"),
            F.sum("n_orders").alias("wdeg"),
        )
        .localCheckpoint(eager=False)
    )
    seeds = (
        adj.orderBy(F.desc("wdeg"), F.asc("src"))
        .limit(WALK_SEEDS)
        .select(F.col("src").alias("seed"))
    )
    state = seeds.crossJoin(
        spark.range(WALKS_PER_SEED).select(
            F.col("id").cast("long").alias("walk_id")
        )
    ).select("seed", "walk_id", F.col("seed").alias("cur"))
    out = state.select(
        "seed", "walk_id", F.lit(0).cast("int").alias("step"),
        F.col("cur").alias("node"),
    )
    for step in range(1, WALK_STEPS + 1):
        pick = (
            splitmix60(
                portable_hash64(F.col("cur")),
                F.col("walk_id") * F.lit(8) + F.lit(step),
            )
            % F.size("nbrs").cast("long")
            + F.lit(1)
        )
        state = (
            F.broadcast(state)
            .join(adj, state["cur"] == adj["src"])
            .select(
                "seed",
                "walk_id",
                F.element_at("nbrs", pick.cast("int")).alias("cur"),
            )
            .localCheckpoint(eager=False)
        )
        out = out.unionByName(
            state.select(
                "seed", "walk_id",
                F.lit(step).cast("int").alias("step"),
                F.col("cur").alias("node"),
            )
        )
    return out.orderBy("seed", "walk_id", "step")


#: Synchronous label-propagation rounds (fixed, deterministic).
LPA_ROUNDS = 4


def q_label_propagation_communities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LABEL PROPAGATION community detection (Raghavan et al. 2007)
    over the co-purchase graph — the community operator next to the
    connectivity family (CC finds components, k-core finds density,
    LPA finds assortative clusters INSIDE a component): every node
    starts as its own label; each synchronous round every node adopts
    the most frequent label among its neighbors (ties broken toward
    the SMALLEST label — the deterministic variant; vanilla LPA
    tie-breaks randomly), for a fixed ``LPA_ROUNDS`` rounds.

    Spark-first: per round ONE join of the undirected edge list
    against the current label table, one (node, label) count
    aggregate, and a sort-free mode via min(struct(-count, label)) —
    the `user_modal_event` trick, so no per-node sort ever happens.
    Rounds are unrolled and lazily checkpointed (the pagerank/kcore
    lineage convention).

    Scale: per-round movement is |edges|; label state is one row per
    node; round count is a constant. The mode aggregate partial-
    combines map-side like any min().

    Output: (part, community, community_size) — community = the
    converged-by-round-4 label; sizes from one final aggregate."""
    labels, _und, _edges = _lpa_state(spark, sf_dir)
    sizes = labels.groupBy("lbl").agg(
        F.count(F.lit(1)).alias("community_size")
    )
    return (
        labels.join(sizes, "lbl")
        .select(
            F.col("id").alias("part"),
            F.col("lbl").alias("community"),
            "community_size",
        )
        .orderBy("part")
    )


def _lpa_state(spark: SparkSession, sf_dir: str):
    """Shared LPA machinery: returns (labels(id, lbl), und(src, dst),
    edges(part_a, part_b)) after ``LPA_ROUNDS`` synchronous rounds —
    consumed by both the community listing and the modularity audit."""
    t = load(spark, sf_dir)
    # checkpoint the EDGE list itself: the modularity audit reads it
    # twice more (edge count + intra-community count) and previously
    # re-ran the whole co-purchase self-join per consumer
    edges = (
        copurchase_edges(t.lineitem)
        .filter(F.col("n_orders") >= 2)
        .localCheckpoint(eager=False)
    )
    und = (
        edges.select(
            F.col("part_a").alias("src"), F.col("part_b").alias("dst")
        )
        .unionByName(
            edges.select(
                F.col("part_b").alias("src"),
                F.col("part_a").alias("dst"),
            )
        )
        .localCheckpoint(eager=False)
    )
    labels = (
        und.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("lbl"))
        .localCheckpoint(eager=False)
    )
    for i in range(LPA_ROUNDS):
        nbr = und.join(
            labels, und["dst"] == labels["id"]
        ).select("src", "lbl")
        counts = nbr.groupBy("src", "lbl").agg(
            F.count(F.lit(1)).alias("n")
        )
        labels = (
            counts.groupBy("src")
            .agg(
                F.min(F.struct((-F.col("n")).alias("neg"), "lbl")).alias(
                    "m"
                )
            )
            .select(F.col("src").alias("id"), F.col("m.lbl").alias("lbl"))
        )
        # checkpoint every 2nd round (§2.2): the label table is
        # referenced once per round (the neighbor join), so skipping
        # the odd-round checkpoint recomputes nothing; lineage stays
        # bounded at two rounds per plan
        if (i + 1) % 2 == 0 or i == LPA_ROUNDS - 1:
            labels = labels.localCheckpoint(eager=False)
    return labels, und, edges


#: Modularity magnitude contract: 4·m·e_c and d_c² must stay inside
#: int64 — m beyond 10^9 edges needs the DECIMAL(38,0) form instead.
MODULARITY_MAX_EDGES = 1_000_000_000


def q_community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEWMAN MODULARITY audit of the label-propagation partition —
    the quality number that makes `label_propagation_communities`
    actionable (Newman & Girvan 2004): for each community c,

        Q_c = e_c/m − (d_c / 2m)²

    with m = |edges|, e_c = intra-community edges, d_c = Σ degrees.
    Carried as the EXACT integer numerator over the common denominator
    4m²:  contrib_num = 4·m·e_c − d_c²  (signed, no division — the
    `theil_sen` slope_lcm convention), so Σ contrib_num / 4m² = Q and
    every row hash-matches the SQL twin bit-for-bit. The global
    numerator ``q_num`` and ``m_edges`` ride on every row (1-row
    broadcast attach) so Q is reconstructible from any slice.

    Scale: e_c is one join of the edge list against the label table on
    BOTH endpoints (labels are node-grain — the small side, broadcast-
    able at any SF where communities fit executors); d_c is a degree
    aggregate reusing `und`; the per-community collapse is
    map-side-combinable. The int64 magnitude contract RAISES past
    ``MODULARITY_MAX_EDGES`` instead of silently wrapping.

    Output: (community, n_nodes, e_in, d_sum, contrib_num, m_edges,
    q_num) — one row per surviving community."""
    labels, und, edges = _lpa_state(spark, sf_dir)
    m_df = edges.agg(F.count(F.lit(1)).alias("m_edges"))
    guarded_m = F.when(
        F.col("m_edges") > MODULARITY_MAX_EDGES,
        F.raise_error(
            F.lit(
                "modularity contract violated: edge count exceeds "
                "MODULARITY_MAX_EDGES — 4·m·e_c leaves int64; switch "
                "the numerators to DECIMAL(38,0)"
            )
        ).cast("long"),
    ).otherwise(F.col("m_edges").cast("long"))
    la = labels.select(
        F.col("id").alias("part_a"), F.col("lbl").alias("lbl_a")
    )
    lb = labels.select(
        F.col("id").alias("part_b"), F.col("lbl").alias("lbl_b")
    )
    e_in = (
        edges.join(la, "part_a")
        .join(lb, "part_b")
        .filter(F.col("lbl_a") == F.col("lbl_b"))
        .groupBy(F.col("lbl_a").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("e_in"))
    )
    deg = und.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    comm = (
        labels.join(deg, "id")
        .groupBy(F.col("lbl").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("deg").cast("long").alias("d_sum"),
        )
    )
    per = (
        comm.join(e_in, "community", "left")
        .crossJoin(F.broadcast(m_df))
        .select(
            "community",
            "n_nodes",
            F.coalesce("e_in", F.lit(0).cast("long")).alias("e_in"),
            "d_sum",
            (
                F.lit(4) * guarded_m
                * F.coalesce("e_in", F.lit(0).cast("long"))
                - F.col("d_sum") * F.col("d_sum")
            )
            .cast("long")
            .alias("contrib_num"),
            F.col("m_edges").cast("long").alias("m_edges"),
        )
    )
    q_num = per.agg(F.sum("contrib_num").cast("long").alias("q_num"))
    return (
        per.crossJoin(F.broadcast(q_num))
        .orderBy("community")
    )


def q_clustering_coefficients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCAL CLUSTERING COEFFICIENTS + global transitivity over the
    co-purchase graph — the density-at-a-node companion to the global
    counters (`product_triangles` counts triangles, `copurchase_kcore`
    peels shells; this one answers "how clique-like is THIS product's
    neighborhood"): cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)), exact ppm.
    Global transitivity rides on every row as the exact rational
    2·Σtri(v) / Σdeg(deg−1) (= 3·triangles/wedges — each triangle is
    counted once per corner).

    Spark-first: tri(v) is the wedge-close join — und(v,u) ⋈ und(v,w)
    on v with u < w, semi-joined against the canonical edge list — the
    standard vertex-centric triangle plan; deg is one aggregate over
    `und`. Everything integer; ppm via exact truncating division of
    non-negative ints.

    Scale: the wedge expansion is Σ deg(v)² — the known cost of
    triangle counting; at skewed degree the standard fix is degree-
    ordered orientation (count each wedge at its LOWEST-degree corner),
    which this plan inherits for the closing join since the edge list
    is canonical (a < b). The per-node collapse partial-aggregates.

    Output: (part, deg, tri, cc_ppm, transitivity_ppm) for nodes with
    deg ≥ 2, ordered by part."""
    from ..functions import _idiv

    t = load(spark, sf_dir)
    edges = copurchase_edges(t.lineitem).filter(
        F.col("n_orders") >= 2
    ).select("part_a", "part_b")
    und = edges.select(
        F.col("part_a").alias("src"), F.col("part_b").alias("dst")
    ).unionByName(
        edges.select(
            F.col("part_b").alias("src"), F.col("part_a").alias("dst")
        )
    ).localCheckpoint(eager=False)
    deg = und.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    wedge = (
        und.select(F.col("src").alias("v"), F.col("dst").alias("u"))
        .join(
            und.select(F.col("src").alias("v"), F.col("dst").alias("w")),
            "v",
        )
        .filter(F.col("u") < F.col("w"))
    )
    tri = (
        wedge.join(
            edges.select(
                F.col("part_a").alias("u"), F.col("part_b").alias("w")
            ),
            ["u", "w"],
        )
        .groupBy(F.col("v").alias("id"))
        .agg(F.count(F.lit(1)).cast("long").alias("tri"))
    )
    per = (
        deg.filter(F.col("deg") >= 2)
        .join(tri, "id", "left")
        .select(
            F.col("id").alias("part"),
            "deg",
            F.coalesce("tri", F.lit(0).cast("long")).alias("tri"),
        )
    )
    tot = per.agg(
        F.sum("tri").cast("long").alias("sum_tri"),
        F.sum(F.col("deg") * (F.col("deg") - 1))
        .cast("long")
        .alias("sum_wedge2"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "part",
            "deg",
            "tri",
            _idiv(
                F.col("tri") * F.lit(2_000_000),
                F.col("deg") * (F.col("deg") - 1),
            ).alias("cc_ppm"),
            _idiv(
                F.col("sum_tri") * F.lit(2_000_000), F.col("sum_wedge2")
            ).alias("transitivity_ppm"),
        )
        .orderBy("part")
    )


def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEGREE ASSORTATIVITY (Newman 2002) of the co-purchase graph —
    do hub products co-purchase with other hubs (r > 0, social-network
    shape) or with leaves (r < 0, dependency/star shape)? The Pearson
    correlation of endpoint degrees over edges, as EXACT integer
    numerator/denominator (undirected closed form over each edge once):

        r = (4M·Σdadb − (Σ(da+db))²) / (2M·Σ(da²+db²) − (Σ(da+db))²)

    The numerator is signed and carried exactly (no division — the
    `theil_sen` convention); r_milli uses the sign-handled truncating
    division both engines define identically.

    Scale: one degree aggregate + one broadcast-friendly map-side join
    of the edge list against the degree table on each endpoint + one
    global aggregate. Int64 bounds: Σda·db ≤ M·maxdeg² — RAISES past
    the documented contract instead of wrapping.

    Output: 1 row (m_edges, s_dadb, s_sum, s_sq, r_num, r_den,
    r_milli)."""
    from ..functions import _idiv

    t = load(spark, sf_dir)
    edges = copurchase_edges(t.lineitem).filter(
        F.col("n_orders") >= 2
    ).select("part_a", "part_b")
    und = edges.select(
        F.col("part_a").alias("src"), F.col("part_b").alias("dst")
    ).unionByName(
        edges.select(
            F.col("part_b").alias("src"), F.col("part_a").alias("dst")
        )
    )
    deg = und.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    da = deg.select(F.col("id").alias("part_a"), F.col("deg").alias("da"))
    db = deg.select(F.col("id").alias("part_b"), F.col("deg").alias("db"))
    ed = edges.join(da, "part_a").join(db, "part_b")
    agg = ed.agg(
        F.count(F.lit(1)).cast("long").alias("m_edges"),
        F.sum(F.col("da") * F.col("db")).cast("long").alias("s_dadb"),
        F.sum(F.col("da") + F.col("db")).cast("long").alias("s_sum"),
        F.sum(
            F.col("da") * F.col("da") + F.col("db") * F.col("db")
        )
        .cast("long")
        .alias("s_sq"),
    )
    guard = F.when(
        (F.col("s_sq") > F.lit(1 << 40)) | (F.col("m_edges") > F.lit(1 << 20)),
        F.raise_error(
            F.lit(
                "assortativity contract violated: 4M*s_sq leaves the "
                "exact int64 range; switch numerators to DECIMAL(38,0)"
            )
        ).cast("long"),
    ).otherwise(F.col("m_edges"))
    r_num = (
        F.lit(4) * guard * F.col("s_dadb")
        - F.col("s_sum") * F.col("s_sum")
    ).cast("long")
    r_den = (
        F.lit(2) * guard * F.col("s_sq")
        - F.col("s_sum") * F.col("s_sum")
    ).cast("long")
    r_milli = F.when(
        r_num < 0, -_idiv(-r_num * F.lit(1000), r_den)
    ).otherwise(_idiv(r_num * F.lit(1000), r_den))
    return agg.select(
        "m_edges",
        "s_dadb",
        "s_sum",
        "s_sq",
        r_num.alias("r_num"),
        r_den.alias("r_den"),
        r_milli.cast("long").alias("r_milli"),
    )


#: k-truss geometry: keep edges with >= TRUSS_K - 2 triangle supports,
#: peel for TRUSS_ROUNDS rounds on the weight>=2 thresholded graph.
TRUSS_K = 4
TRUSS_ROUNDS = 4


def q_copurchase_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-TRUSS decomposition of the thresholded co-purchase graph —
    the EDGE-grain cohesion peel (Cohen 2008) complementing the
    node-grain k-core: repeatedly drop edges in fewer than
    ``TRUSS_K − 2`` triangles; what survives is the k-truss, the
    maximal subgraph where every tie is embedded in k−2 common
    neighborhoods. A truss is a strictly stronger bundle signal than
    a core (every k-truss sits inside the (k−1)-core, not vice versa).

    Rounds are UNROLLED to ``TRUSS_ROUNDS`` with the surviving edge
    set lazily checkpointed per round (the kcore convention); each
    round recounts support because removing ONE edge can break many
    triangles — the recount is the semantics, not a missed
    optimization. Support counting uses the a<b oriented wedge+closing
    join (the ``q_product_triangles`` plan): each triangle found once,
    exploded onto its three edges, one map-side-combinable count. The
    trajectory is the output so an insufficient round cap is VISIBLE
    (converged = removal-free final round).

    Scale: the wedge join is bounded by Σ_edges deg(b) over the
    THRESHOLDED (weight ≥ 2) graph — 3% of the raw edge set at sf0.01;
    at 100 TB the standard refinement orients wedges by degree rather
    than id (bounds wedge fan-out by arboricity) without changing the
    per-round dataflow.

    Output: (round, n_edges, n_removed, converged)."""
    from pyspark.sql import Window

    t = load(spark, sf_dir)
    cur = (
        copurchase_edges(t.lineitem)
        .filter(F.col("n_orders") >= 2)
        .select("part_a", "part_b")
        .localCheckpoint(eager=False)
    )

    def support(edges: DataFrame) -> DataFrame:
        e1 = edges.select(F.col("part_a").alias("a"), F.col("part_b").alias("b"))
        e2 = edges.select(F.col("part_a").alias("b"), F.col("part_b").alias("c"))
        e3 = edges.select(F.col("part_a").alias("a"), F.col("part_b").alias("c"))
        tri = e1.join(e2, "b").join(e3, ["a", "c"])
        sides = tri.select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("part_a"), F.col("b").alias("part_b")),
                    F.struct(F.col("a").alias("part_a"), F.col("c").alias("part_b")),
                    F.struct(F.col("b").alias("part_a"), F.col("c").alias("part_b")),
                )
            ).alias("e")
        ).select("e.part_a", "e.part_b")
        return sides.groupBy("part_a", "part_b").agg(
            F.count(F.lit(1)).alias("sup")
        )

    traj = [
        cur.agg(F.count(F.lit(1)).cast("long").alias("n_edges")).select(
            F.lit(0).alias("round"), "n_edges"
        )
    ]
    for r in range(1, TRUSS_ROUNDS + 1):
        cur = (
            cur.join(support(cur), ["part_a", "part_b"])
            .filter(F.col("sup") >= TRUSS_K - 2)
            .select("part_a", "part_b")
            .localCheckpoint(eager=False)
        )
        traj.append(
            cur.agg(F.count(F.lit(1)).cast("long").alias("n_edges")).select(
                F.lit(r).alias("round"), "n_edges"
            )
        )
    out = traj[0]
    for d in traj[1:]:
        out = out.unionByName(d)
    w = Window.orderBy("round")
    return out.select(
        F.col("round").cast("int").alias("round"),
        "n_edges",
        F.coalesce(F.lag("n_edges").over(w) - F.col("n_edges"), F.lit(0))
        .cast("long")
        .alias("n_removed"),
        (
            (F.col("round") == TRUSS_ROUNDS)
            & (
                F.coalesce(
                    F.lag("n_edges").over(w) - F.col("n_edges"), F.lit(0)
                )
                == 0
            )
        ).alias("converged"),
    ).orderBy("round")


#: HITS geometry: unrolled power rounds over the customer->part
#: purchase bipartite graph, max-normalized to the 1e6 integer scale
#: each half-step (HITS converges under any norm; L-inf keeps the
#: arithmetic integer-exact).
HITS_ROUNDS = 3
HITS_TOP = 20
HITS_SCALE = 1_000_000


def q_hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg 1999) on the customer→part purchase bipartite
    graph: hubs = customers whose baskets concentrate on
    widely-bought parts, authorities = parts bought by the strongest
    hubs — the mutually-reinforcing pair PageRank can't express
    (PageRank scores one role; HITS scores both sides of a bipartite
    endorsement at once). ``HITS_ROUNDS`` unrolled power rounds:

        a ← Eᵀ·h, rescaled to max 10⁶   (integer floor division)
        h ← E·a,  rescaled to max 10⁶

    All integer: scores live on the 10⁶ scale, every rescale is one
    floor division by the round's max (a whitelisted 1-row broadcast
    attach), so the DuckDB twin (unrolled CTEs) matches bit-for-bit —
    the `product_pagerank_exact` portability pattern.

    Scale: the edge FACT table is hash-partitioned ONCE per direction
    and never moves again — each half-step broadcast-joins the
    node-grain score vector (a DIMENSION relative to the edges:
    |V| ≈ √|E| here) onto the pre-partitioned edges, and the groupBy
    key equals the partitioning key, so Catalyst plans BOTH
    aggregations with NO exchange (VERDICT r11 ask #6 — previously
    every round re-shuffled edge-sized data twice, 757 MiB at syn10x;
    now per-round shuffle is two node-vector broadcasts). Rounds are
    constant (unrolled), never a data-dependent fixpoint. For
    web-scale graphs where the score vector outgrows broadcast
    (~|V|·16 B vs executor memory), swap the broadcast for a plain
    co-partitioned join — the 2·|E|-shuffle-per-round form this
    replaces.

    Output: 2·``HITS_TOP`` rows (kind 'hub'|'authority', node_id,
    score_micro, rank)."""
    from ..functions import _idiv

    t = load(spark, sf_dir)
    e = (
        t.orders.select("o_orderkey", "o_custkey")
        .join(
            t.lineitem.select("l_orderkey", "l_partkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(
            F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p")
        )
        .distinct()
    )
    # hash-partition the edge table ONCE per aggregation key; every
    # round's node-grain score table is localCheckpointed so the
    # unrolled lineage never re-evaluates prior rounds (each broadcast
    # max would otherwise recompute the whole chain — measured 15x
    # wall). e_byp feeds the a-step (groupBy p), e_byc the h-step.
    # r14 §1.2: derive e_byp FROM e_byc's checkpoint — two independent
    # lazy checkpoints each re-ran the join+distinct edge build
    # (measured: 5.6 → 4.9 s warm, 15 → 6 s on a cold first run).
    e_byc = e.repartition("c").localCheckpoint(eager=False)
    e_byp = e_byc.repartition("p").localCheckpoint(eager=False)
    h = e_byc.select("c").distinct().select(
        "c", F.lit(HITS_SCALE).cast("long").alias("h")
    )
    a = None
    for _ in range(HITS_ROUNDS):
        raw_a = (
            e_byp.join(F.broadcast(h), "c")
            .groupBy("p")
            .agg(F.sum("h").alias("s"))
            .localCheckpoint(eager=False)
        )
        mx_a = raw_a.agg(F.max("s").alias("mx"))
        a = raw_a.crossJoin(F.broadcast(mx_a)).select(
            "p",
            _idiv(
                F.col("s").cast("decimal(38,0)") * F.lit(HITS_SCALE),
                F.col("mx"),
            ).alias("a"),
        )
        raw_h = (
            e_byc.join(F.broadcast(a), "p")
            .groupBy("c")
            .agg(F.sum("a").alias("s"))
            .localCheckpoint(eager=False)
        )
        mx_h = raw_h.agg(F.max("s").alias("mx"))
        h = raw_h.crossJoin(F.broadcast(mx_h)).select(
            "c",
            _idiv(
                F.col("s").cast("decimal(38,0)") * F.lit(HITS_SCALE),
                F.col("mx"),
            ).alias("h"),
        )
    hubs = (
        h.orderBy(F.desc("h"), F.asc("c"))
        .limit(HITS_TOP)
        .select(
            F.lit("hub").alias("kind"),
            F.col("c").cast("long").alias("node_id"),
            F.col("h").alias("score_micro"),
        )
    )
    auths = (
        a.orderBy(F.desc("a"), F.asc("p"))
        .limit(HITS_TOP)
        .select(
            F.lit("authority").alias("kind"),
            F.col("p").cast("long").alias("node_id"),
            F.col("a").alias("score_micro"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("kind").orderBy(
        F.desc("score_micro"), F.asc("node_id")
    )
    return (
        hubs.unionByName(auths)
        .withColumn("rank", F.row_number().over(w))
        .orderBy("kind", "rank")
    )


def q_effective_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EFFECTIVE DIAMETER (90th percentile of pairwise distances) from
    the HyperBall neighborhood function — THE summary statistic
    HyperANF was built to deliver (Boldi & Vigna 2013; the "four
    degrees of separation" number): the smallest radius r where the
    ball mass N(r) reaches 90% of its final value, with the standard
    linear interpolation between the bracketing rounds, in exact
    integer milli units.

    Derivation is a 4-row computation over `q_hyperball_neighborhood`'s
    (round, sum_ball_est) table — same registers, same rounds — so its
    oracle literally WRAPS the neighborhood oracle as a subquery (the
    sketch is the shared source of truth).

        reached(r)  = 10·N(r) ≥ 9·N(R)
        D_eff milli = (r−1)·1000 + (9·N(R) − 10·N(r−1))·1000
                                     // (10·(N(r) − N(r−1)))

    Scale: everything after the HyperBall rounds is constant-size
    (≤ HB_ROUNDS+1 rows) — the 100 TB cost profile is exactly the
    neighborhood function's.

    Output: HB_ROUNDS+1 rows (round, sum_ball_est, coverage_ppm,
    reached) + attached (nf_max, eff_diameter_r, eff_diameter_milli).
    """
    from pyspark.sql import Window

    from ..functions import _idiv

    # ≤ HB_ROUNDS+1 rows, consumed by the nf_max broadcast AND the
    # main/cross branches — without the checkpoint each subtree re-ran
    # the whole HyperBall register pipeline (r14 §1.2). Eager, because
    # the broadcast and main jobs run at once: each would compute a
    # lazy checkpoint's partition itself
    nf = q_hyperball_neighborhood(spark, sf_dir).localCheckpoint(
        eager=True
    )
    mx = nf.filter(F.col("round") == HB_ROUNDS).select(
        F.col("sum_ball_est").alias("nf_max")
    )
    w = Window.orderBy("round")
    rows = (
        nf.crossJoin(F.broadcast(mx))
        .withColumn("prev", F.lag("sum_ball_est").over(w))
        .withColumn(
            "coverage_ppm",
            _idiv(
                F.col("sum_ball_est") * F.lit(1_000_000), F.col("nf_max")
            ),
        )
        .withColumn(
            "reached",
            F.col("sum_ball_est") * 10 >= F.col("nf_max") * 9,
        )
    )
    cross = (
        rows.filter(F.col("reached"))
        .orderBy("round")
        .limit(1)
        .select(
            F.col("round").alias("eff_diameter_r"),
            F.when(F.col("round") == 0, F.lit(0).cast("long"))
            .otherwise(
                (F.col("round") - 1) * 1000
                + _idiv(
                    (
                        F.col("nf_max") * 9
                        - F.col("prev") * 10
                    )
                    * F.lit(1000),
                    (F.col("sum_ball_est") - F.col("prev")) * 10,
                )
            )
            .alias("eff_diameter_milli"),
        )
    )
    return (
        rows.select(
            "round", "sum_ball_est", "coverage_ppm", "reached", "nf_max"
        )
        .crossJoin(F.broadcast(cross))
        .orderBy("round")
    )
