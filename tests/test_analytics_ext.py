"""Semantic guards for the analytic extensions: dense-spine gap-fill,
market-basket rules, integer-exact outlier detection."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from beauty_lakehouse_spark.catalog import load
from beauty_lakehouse_spark.operators import graph, temporal, warehouse


def test_gapfill_spine_is_dense_and_fill_carries_last_value(spark, sf_dir):
    t = load(spark, sf_dir)
    out = temporal.q_daily_revenue_gapfill(spark, sf_dir)
    rows = out.collect()
    # dense: |segments| × |days| rows exactly
    bounds = t.orders.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("lo"),
        F.max(F.col("o_orderdate").cast("date")).alias("hi"),
    ).collect()[0]
    n_days = (bounds.hi - bounds.lo).days + 1
    n_seg = t.customer.select("c_mktsegment").distinct().count()
    assert len(rows) == n_days * n_seg
    # fill law: walking each segment in day order, revenue equals the
    # last non-gap revenue seen (None before the first observation)
    by_seg: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r.segment, r.day)):
        by_seg.setdefault(r.segment, []).append(r)
    for seg_rows in by_seg.values():
        carried = None
        for r in seg_rows:
            if not r.is_gap:
                carried = r.revenue
            assert r.revenue == carried
    # at least one real gap must exist at test scale (sparse fixture)
    assert any(r.is_gap for r in rows)


def test_gapfill_nongap_days_match_plain_aggregate(spark, sf_dir):
    t = load(spark, sf_dir)
    agg = {
        (r.seg, str(r.day)): r.rev
        for r in t.orders.join(
            t.customer, F.col("o_custkey") == F.col("c_custkey")
        )
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast("decimal(12,2)")), 2)
            .cast("double")
            .alias("rev")
        )
        .collect()
    }
    for r in temporal.q_daily_revenue_gapfill(spark, sf_dir).collect():
        if not r.is_gap:
            assert agg[(r.segment, r.day)] == r.revenue
        else:
            assert (r.segment, r.day) not in agg


def test_basket_rules_confidence_and_lift_are_consistent(spark, sf_dir):
    t = load(spark, sf_dir)
    rows = graph.q_basket_rules(spark, sf_dir).collect()
    assert rows
    bp = t.lineitem.select("l_orderkey", "l_partkey").distinct()
    n_item = {
        r.l_partkey: r.n
        for r in bp.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_total = bp.select("l_orderkey").distinct().count()
    for r in rows:
        assert r.support_orders >= 3
        assert 0 < r.confidence_pct <= 100
        # confidence = support / n_antecedent (half-up to 4 dp)
        expect_conf = round(r.support_orders * 100 / n_item[r.antecedent], 3)
        assert abs(r.confidence_pct - expect_conf) < 1e-3
        expect_lift = r.support_orders * n_total / (
            n_item[r.antecedent] * n_item[r.consequent]
        )
        assert abs(r.lift - expect_lift) < 1e-3
    # rules are ranked by confidence
    confs = [r.confidence_pct for r in rows]
    assert confs == sorted(confs, reverse=True)


def test_basket_rules_direction_matters(spark, sf_dir):
    rows = graph.q_basket_rules(spark, sf_dir).collect()
    pairs = {(r.antecedent, r.consequent): r for r in rows}
    # where both directions of an edge survive the top-k cut, they share
    # support and lift but not (in general) confidence
    both = [
        (r, pairs[(r.consequent, r.antecedent)])
        for r in rows
        if (r.consequent, r.antecedent) in pairs
    ]
    for a, b in both:
        assert a.support_orders == b.support_orders
        assert abs(a.lift - b.lift) < 1e-9


def test_spend_outliers_match_float_zscore(spark, sf_dir):
    t = load(spark, sf_dir)
    got = {r.c_custkey for r in warehouse.q_customer_spend_outliers(spark, sf_dir).collect()}
    pc = (
        t.orders.groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(12,2)")).alias("sp"))
        .join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
    )
    w = Window.partitionBy("c_mktsegment")
    flagged = (
        pc.withColumn("mu", F.avg(F.col("sp").cast("double")).over(w))
        .withColumn("sd", F.stddev_pop(F.col("sp").cast("double")).over(w))
        .filter(F.abs(F.col("sp").cast("double") - F.col("mu")) > 3 * F.col("sd"))
    )
    expected = {r.o_custkey for r in flagged.collect()}
    assert got == expected


def test_spend_outliers_plan_broadcasts_stats(spark, sf_dir):
    plan = (
        warehouse.q_customer_spend_outliers(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_product_triangles_invariants(spark, sf_dir):
    """Triangle counts: coefficient in [0,1], zero triangles => zero
    coefficient, and the total incidence is divisible by 3 (each
    triangle is counted at exactly its 3 corners)."""
    from pyspark.sql import functions as F

    from beauty_lakehouse_spark.operators import graph

    out = graph.q_product_triangles(spark, sf_dir)
    bad = out.filter(
        (F.col("clustering_coeff") < 0)
        | (F.col("clustering_coeff") > 1)
        | ((F.col("n_triangles") == 0) & (F.col("clustering_coeff") != 0))
    )
    assert bad.count() == 0
    total = out.agg(F.sum("n_triangles").alias("s")).first().s
    assert total % 3 == 0 and total > 0


def test_copurchase_jaccard_invariants(spark, sf_dir):
    """Jaccard scores are valid rationals of the true neighborhood
    sizes: 0 < j <= 1, n_common <= min(deg), and the report is sorted
    desc with id tie-breaks."""
    from beauty_lakehouse_spark.operators.graph import (
        q_copurchase_jaccard_top,
    )

    rows = q_copurchase_jaccard_top(spark, sf_dir).collect()
    assert rows
    prev = None
    for r in rows:
        assert 0 < r.jaccard <= 1.0
        assert r.n_common <= min(r.deg_a, r.deg_b)
        expect = round(r.n_common / (r.deg_a + r.deg_b - r.n_common), 6)
        assert abs(r.jaccard - expect) <= 1e-6
        key = (-r.jaccard, r.part_a, r.part_b)
        assert prev is None or prev <= key
        prev = key


def test_bfs_layers_are_true_shortest_paths(spark, sf_dir):
    """BFS invariants: exactly the seed layer at dist 0, layers are
    disjoint (one row per part), and every dist-k node is adjacent to
    some dist-(k-1) node but to NO node at dist < k-1 — i.e. the hop
    count is the true shortest distance."""
    out = graph.q_copurchase_bfs_hops(spark, sf_dir).collect()
    dist = {r["part"]: r["dist"] for r in out}
    assert len(dist) == len(out)  # one row per part
    assert sum(1 for d in dist.values() if d == 0) == graph.BFS_SEEDS
    assert max(dist.values()) <= graph.BFS_HOPS

    edges = graph.copurchase_edges(
        load(spark, sf_dir).lineitem
    ).filter(F.col("n_orders") >= 2)
    adj: dict[int, set[int]] = {}
    for r in edges.collect():
        adj.setdefault(r["part_a"], set()).add(r["part_b"])
        adj.setdefault(r["part_b"], set()).add(r["part_a"])
    for part, d in dist.items():
        if d == 0:
            continue
        nbr_dists = {dist[n] for n in adj.get(part, ()) if n in dist}
        assert d - 1 in nbr_dists, (part, d)
        assert not any(nd < d - 1 for nd in nbr_dists), (part, d)


def test_stock_balance_identity_matches_sequential_fold(spark, sf_dir):
    """The one-pass prefix-sum/prefix-min closed form equals the naive
    row-by-row max(0, b + d) fold for every part."""
    out = {
        r["l_partkey"]: r
        for r in warehouse.q_part_stock_balance(spark, sf_dir).collect()
    }
    li = (
        load(spark, sf_dir)
        .lineitem.select(
            "l_partkey",
            "l_shipdate",
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            "l_returnflag",
        )
        .collect()
    )
    moves: dict[int, list] = {}
    for r in li:
        q = int(round(r["l_quantity"]))
        d = q if r["l_returnflag"] == "R" else -q
        moves.setdefault(r["l_partkey"], []).append(
            (r["l_shipdate"], r["l_orderkey"], r["l_linenumber"], d)
        )
    assert set(moves) == set(out)
    clamped_parts = 0
    for pk, ms in moves.items():
        bal = 0
        for _, _, _, d in sorted(ms):
            bal = max(0, bal + d)
        assert out[pk]["final_balance"] == bal, pk
        assert out[pk]["net_qty"] == sum(d for *_, d in ms), pk
        if out[pk]["final_balance"] != out[pk]["net_qty"]:
            clamped_parts += 1
    assert clamped_parts > 0  # the fixture actually exercises the clamp


def test_pareto_frontier_matches_bruteforce_and_prune_is_lossless(spark, sf_dir):
    """The bucket-pruned two-window skyline equals the O(n²) dominance
    check, and the bucket prune actually discards most of the part
    table on the fixture (the scale claim, exercised)."""
    from decimal import Decimal

    out = {
        r["p_partkey"]: (r["price_cents"], r["rev_e4"])
        for r in warehouse.q_part_pareto_frontier(spark, sf_dir).collect()
    }

    t = load(spark, sf_dir)
    li = t.lineitem.select(
        "l_partkey", "l_extendedprice", "l_discount"
    ).collect()
    rev: dict[int, Decimal] = {}
    q2 = Decimal("0.01")
    for r in li:
        net = Decimal(str(r["l_extendedprice"])).quantize(q2) * (
            1 - Decimal(str(r["l_discount"])).quantize(q2)
        )
        rev[r["l_partkey"]] = rev.get(r["l_partkey"], Decimal(0)) + net
    pts = {}
    for r in t.part.select("p_partkey", "p_retailprice").collect():
        price_cents = int(
            Decimal(str(r["p_retailprice"])).quantize(q2) * 100
        )
        rev_e4 = int(rev.get(r["p_partkey"], Decimal(0)) * 10000)
        pts[r["p_partkey"]] = (price_cents, rev_e4)

    frontier = {}
    vals = list(pts.values())
    for pk, (pc, rv) in pts.items():
        dominated = any(
            bpc <= pc and brv >= rv and (bpc < pc or brv > rv)
            for (bpc, brv) in vals
        )
        if not dominated:
            frontier[pk] = (pc, rv)
    assert out == frontier
    # frontier is monotone: walking it by price asc, a strictly more
    # expensive point must carry strictly more revenue (else the
    # cheaper one dominates it) — the defining staircase of a 2-D skyline
    ordered = sorted(out.values())
    for (pc1, rv1), (pc2, rv2) in zip(ordered, ordered[1:]):
        assert pc1 == pc2 or rv2 > rv1
    # the prune must bite: frontier is a sliver of the part table
    assert 0 < len(out) < len(pts) / 10


def test_weighted_quantiles_match_python_expansion(spark, sf_dir):
    """The distinct-value-grain weighted quartiles equal the definition
    computed the slow way: expand every line to `quantity` copies of its
    value and take nearest-rank-lower quantiles of the flat list."""
    from decimal import Decimal

    out = {
        r["segment"]: r
        for r in warehouse.q_segment_weighted_quantiles(
            spark, sf_dir
        ).collect()
    }

    t = load(spark, sf_dir)
    rows = (
        t.lineitem.join(
            t.orders, F.col("l_orderkey") == F.col("o_orderkey")
        )
        .join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_mktsegment", "l_extendedprice", "l_discount", "l_quantity")
        .collect()
    )
    q2 = Decimal("0.01")
    per_seg: dict[str, list] = {}
    for r in rows:
        v = int(
            Decimal(str(r["l_extendedprice"])).quantize(q2)
            * (1 - Decimal(str(r["l_discount"])).quantize(q2))
            * 10000
        )
        wgt = int(Decimal(str(r["l_quantity"])).quantize(q2))
        per_seg.setdefault(r["c_mktsegment"], []).extend([v] * wgt)

    assert set(out) == set(per_seg)
    for seg, vals in per_seg.items():
        vals.sort()
        n = len(vals)
        # nearest-rank lower: smallest v with cum >= q*total, cum in units
        def nr(qnum: int, qden: int) -> int:
            # index of first position where (i+1)*qden >= qnum*n
            import math
            pos = math.ceil(n * qnum / qden) - 1
            return vals[pos]

        assert out[seg]["total_weight"] == n
        assert out[seg]["wq25_e4"] == nr(1, 4), seg
        assert out[seg]["wmedian_e4"] == nr(1, 2), seg
        assert out[seg]["wq75_e4"] == nr(3, 4), seg
        # ordering sanity
        assert (
            out[seg]["wq25_e4"]
            <= out[seg]["wmedian_e4"]
            <= out[seg]["wq75_e4"]
        )


def test_adamic_adar_pure_python(spark, sf_dir):
    """The degree-weighted score matches a pure-Python recompute using
    the engine's own ln_micro basket weights: exact n_common, exact
    aa_micro sums, and the top-50 ordering."""
    from collections import defaultdict

    import pandas as pd

    from pyspark.sql import functions as F

    from beauty_lakehouse_spark.functions import ln_micro
    from beauty_lakehouse_spark.operators.graph import (
        q_copurchase_adamic_adar,
    )

    rows = q_copurchase_adamic_adar(spark, sf_dir).collect()
    assert rows

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    baskets = defaultdict(set)
    for o, p in zip(li["l_orderkey"], li["l_partkey"]):
        baskets[o].add(p)
    sizes = sorted({len(b) for b in baskets.values() if 2 <= len(b) <= 50})
    lnm = {
        r["s"]: r["v"]
        for r in spark.createDataFrame([(s,) for s in sizes], ["s"])
        .select("s", ln_micro(F.col("s").cast("long"), F.lit(1)).alias("v"))
        .collect()
    }
    scores = defaultdict(lambda: [0, 0])
    for b in baskets.values():
        if not (2 <= len(b) <= 50):
            continue
        w = 10**12 // lnm[len(b)]
        parts = sorted(b)
        for i, a in enumerate(parts):
            for c in parts[i + 1 :]:
                scores[(a, c)][0] += 1
                scores[(a, c)][1] += w
    want = sorted(
        ((-aa, a, b, n) for (a, b), (n, aa) in scores.items())
    )[:50]
    got = [(-r["aa_micro"], r["part_a"], r["part_b"], r["n_common"]) for r in rows]
    assert got == want
    # FLOAT WITNESS: aa_micro tracks the true sum of 1/ln(basket_size)
    # over shared baskets — the recompute above reads ln_micro off the
    # engine, so only math.log can catch a shared scale bug
    import math

    fscores = defaultdict(float)
    for b in baskets.values():
        if not (2 <= len(b) <= 50):
            continue
        fw = 1.0 / math.log(len(b))
        parts = sorted(b)
        for i, a in enumerate(parts):
            for c in parts[i + 1 :]:
                fscores[(a, c)] += fw
    for r in rows:
        fval = fscores[(r["part_a"], r["part_b"])]
        assert abs(r["aa_micro"] / 1e6 - fval) < max(1e-3, 1e-4 * fval)


def test_copurchase_cosine_pure_python(spark, sf_dir):
    """cos^2 = n_common^2/(deg_a*deg_b) matches a pure-Python recompute
    (same half-up 6dp quantization), including the top-50 ordering."""
    from collections import defaultdict

    import pandas as pd

    from beauty_lakehouse_spark.operators.graph import (
        q_copurchase_cosine_top,
    )

    rows = q_copurchase_cosine_top(spark, sf_dir).collect()
    assert rows

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    baskets = defaultdict(set)
    for o, p in zip(li["l_orderkey"], li["l_partkey"]):
        baskets[o].add(p)
    deg = defaultdict(int)
    for b in baskets.values():
        for p in b:
            deg[p] += 1
    cooc = defaultdict(int)
    for b in baskets.values():
        if not (2 <= len(b) <= 50):
            continue
        parts = sorted(b)
        for i, a in enumerate(parts):
            for c in parts[i + 1 :]:
                cooc[(a, c)] += 1

    def hu6(num, den):
        return ((2 * num * 10**6 + den) // (2 * den)) / 1e6

    want = sorted(
        (
            (-hu6(n * n, deg[a] * deg[b]), a, b, n, deg[a], deg[b])
            for (a, b), n in cooc.items()
        )
    )[:50]
    got = [
        (-r["cosine2"], r["part_a"], r["part_b"], r["n_common"],
         r["deg_a"], r["deg_b"])
        for r in rows
    ]
    assert got == want
    # cosine bound: cos^2 <= 1 everywhere
    assert all(r["cosine2"] <= 1.0 for r in rows)
    # FLOAT WITNESS: within half-up 6-dp rounding of the float ratio
    for r in rows:
        fcos2 = r["n_common"] ** 2 / (r["deg_a"] * r["deg_b"])
        assert abs(r["cosine2"] - fcos2) <= 5e-7


def test_shard_rendezvous_pure_python(spark, sf_dir):
    """HRW assignment matches a pure-Python md5 recompute, conserves
    the corpus, and moves docs ONLY to the new shard on scale-out."""
    import hashlib

    import pandas as pd

    from beauty_lakehouse_spark.operators.warehouse import (
        q_shard_rendezvous_stats,
    )

    rows = {r["shard"]: r for r in q_shard_rendezvous_stats(spark, sf_dir).collect()}
    assert set(rows) == set(range(9))

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")

    def h(doc_id, s):
        return int(
            hashlib.md5(f"{doc_id}:{s}".encode()).hexdigest()[:15], 16
        )

    c8 = dict.fromkeys(range(9), 0)
    c9 = dict.fromkeys(range(9), 0)
    arr = dict.fromkeys(range(9), 0)
    for d in docs["doc_id"]:
        hs = [(h(d, s), s) for s in range(9)]
        s8 = max(hs[:8])[1]
        s9 = max(hs)[1]
        c8[s8] += 1
        c9[s9] += 1
        if s8 != s9:
            arr[s9] += 1
    for s in range(9):
        assert rows[s]["n_docs_8"] == c8[s]
        assert rows[s]["n_docs_9"] == c9[s]
        assert rows[s]["n_arrivals"] == arr[s]
    n = len(docs)
    assert sum(r["n_docs_8"] for r in rows.values()) == n
    assert sum(r["n_docs_9"] for r in rows.values()) == n
    # rendezvous minimal movement: arrivals only at the NEW shard
    assert all(rows[s]["n_arrivals"] == 0 for s in range(8))
    assert rows[8]["n_arrivals"] == rows[8]["n_docs_9"]


def test_zone_map_pruning_soundness(spark, sf_dir):
    """Zone maps match pandas min/max/count per year; pruning is SOUND
    (pruned => zero matches) and agrees with a direct recompute."""
    import pandas as pd

    from beauty_lakehouse_spark.operators.warehouse import (
        ZONE_PREDICATES,
        q_zone_map_pruning,
    )

    rows = q_zone_map_pruning(spark, sf_dir).collect()
    assert rows

    o = pd.read_parquet(f"{sf_dir}/orders.parquet")
    o["c"] = (o["o_totalprice"].round(2) * 100).round().astype("int64")
    o["y"] = o["o_orderdate"].dt.year
    byy = o.groupby("y")["c"]
    lo_hi = {name: (lo, hi) for name, lo, hi in ZONE_PREDICATES}
    n_years = o["y"].nunique()
    assert len(rows) == n_years * len(ZONE_PREDICATES)
    for r in rows:
        g = o[o["y"] == r["order_year"]]["c"]
        lo, hi = lo_hi[r["predicate"]]
        assert r["n_rows"] == len(g)
        assert r["min_cents"] == g.min()
        assert r["max_cents"] == g.max()
        assert r["n_matches"] == int(g.between(lo, hi).sum())
        assert r["pruned"] == int(g.max() < lo or g.min() > hi)
        if r["pruned"]:
            assert r["n_matches"] == 0  # zone-map soundness


def test_part_price_band_join_brute_force(spark, sf_dir):
    """The bucket-decomposed band join reproduces a brute-force O(n^2)
    pandas recompute exactly (top-100 and tie ordering) — the bucket
    probe scheme is lossless and duplicate-free."""
    import pandas as pd

    from beauty_lakehouse_spark.operators.warehouse import (
        PRICE_BAND_CENTS,
        q_part_price_band_join,
    )

    rows = q_part_price_band_join(spark, sf_dir).collect()
    assert rows

    p = pd.read_parquet(f"{sf_dir}/part.parquet")
    p["cents"] = (p["p_retailprice"].round(2) * 100).round().astype("int64")
    brute = []
    for _, g in p.groupby("p_type"):
        recs = sorted(
            zip(g["p_partkey"], g["cents"], g["p_type"])
        )
        for i, (ka, ca, ty) in enumerate(recs):
            for kb, cb, _ in recs[i + 1 :]:
                if abs(ca - cb) <= PRICE_BAND_CENTS:
                    brute.append(
                        (abs(ca - cb), min(ka, kb), max(ka, kb), ty, ca, cb)
                    )
    brute.sort()
    # normalize: cents_a belongs to part_a (the smaller id)
    cmap = dict(zip(p["p_partkey"], p["cents"]))
    want = [
        (d, a, b, ty, cmap[a], cmap[b]) for d, a, b, ty, _, _ in brute[:100]
    ]
    got = [
        (
            r["diff_cents"],
            r["part_a"],
            r["part_b"],
            r["p_type"],
            r["cents_a"],
            r["cents_b"],
        )
        for r in rows
    ]
    assert got == want


def test_status_bitmap_algebra_invariants(spark, sf_dir):
    """Bitmap algebra is self-consistent with the raw table: diagonal
    popcounts equal per-status counts, statuses partition the keyspace
    (pairwise AND = 0), and a pure-Python bitmap recompute matches."""
    import pandas as pd

    from beauty_lakehouse_spark.operators.warehouse import (
        q_status_bitmap_algebra,
    )

    rows = {
        (r["status_a"], r["status_b"]): r
        for r in q_status_bitmap_algebra(spark, sf_dir).collect()
    }
    assert rows

    o = pd.read_parquet(f"{sf_dir}/orders.parquet")
    words = {}
    for st, k in zip(o["o_orderstatus"], o["o_orderkey"]):
        w = words.setdefault(st, {})
        w[k >> 5] = w.get(k >> 5, 0) | (1 << (int(k) % 32))
    sts = sorted(words)
    pop = {
        s: sum(bin(v).count("1") for v in words[s].values()) for s in sts
    }
    # diagonal = full per-status cardinality; partition property
    for s in sts:
        assert rows[(s, s)]["pop_and"] == pop[s]
        assert rows[(s, s)]["pop_and"] == int((o["o_orderstatus"] == s).sum())
    assert sum(pop.values()) == len(o)
    for i, sa in enumerate(sts):
        for sb in sts[i + 1 :]:
            common = set(words[sa]) & set(words[sb])
            if (sa, sb) not in rows:
                assert not common
                continue
            r = rows[(sa, sb)]
            assert r["pop_and"] == 0  # statuses partition the keys
            assert r["n_common_words"] == len(common)
            assert r["pop_a_common"] == sum(
                bin(words[sa][w]).count("1") for w in common
            )
            assert r["pop_b_common"] == sum(
                bin(words[sb][w]).count("1") for w in common
            )


def test_copurchase_eval_hitrate_pure_python(spark, sf_dir):
    """The temporal backtest matches a pure-Python recompute: split,
    capped train edges, top-5 neighbor lists, held-out pair hit rate."""
    from collections import defaultdict

    import pandas as pd

    from beauty_lakehouse_spark.operators.graph import (
        REC_TOP_K,
        q_copurchase_eval_hitrate,
    )

    [r] = q_copurchase_eval_hitrate(spark, sf_dir).collect()

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    od = pd.read_parquet(f"{sf_dir}/orders.parquet")
    od["y"] = od["o_orderdate"].dt.year
    maxy = od["y"].max()
    ymap = dict(zip(od["o_orderkey"], od["y"]))

    def baskets(rows):
        b = defaultdict(set)
        for o, p in rows:
            b[o].add(p)
        return b

    tr_rows = [
        (o, p)
        for o, p in zip(li["l_orderkey"], li["l_partkey"])
        if ymap[o] < maxy
    ]
    te_rows = [
        (o, p)
        for o, p in zip(li["l_orderkey"], li["l_partkey"])
        if ymap[o] == maxy
    ]
    trb, teb = baskets(tr_rows), baskets(te_rows)

    def pairs(bs, counted=False):
        c = defaultdict(int)
        for b in bs.values():
            if not (2 <= len(b) <= 50):
                continue
            ps = sorted(b)
            for i, a in enumerate(ps):
                for x in ps[i + 1 :]:
                    c[(a, x)] += 1
        return c

    tr_e = pairs(trb)
    nbrs = defaultdict(list)
    for (a, b), n in tr_e.items():
        nbrs[a].append((-n, b))
        nbrs[b].append((-n, a))
    recs = set()
    for s, lst in nbrs.items():
        for _, dst in sorted(lst)[:REC_TOP_K]:
            recs.add((min(s, dst), max(s, dst)))
    te_pairs = set(pairs(teb))
    hits = sum(1 for p in te_pairs if p in recs)

    assert r["n_train_orders"] == len({o for o, _ in tr_rows})
    assert r["n_test_orders"] == len({o for o, _ in te_rows})
    assert r["n_test_pairs"] == len(te_pairs)
    assert r["n_hits"] == hits
    hu6 = ((2 * hits * 10**6 + len(te_pairs)) // (2 * len(te_pairs))) / 1e6
    assert r["hit_rate"] == hu6
    assert 0 < r["n_hits"] <= r["n_test_pairs"]
    # FLOAT WITNESS: within half-up 6-dp rounding of the float ratio
    assert abs(r["hit_rate"] - hits / len(te_pairs)) <= 5e-7


def test_revenue_theil_sen_pure_python(spark, sf_dir):
    """The median pairwise slope matches an exact-Fraction recompute
    per nation, and Theil-Sen is genuinely robust: it agrees with the
    Fraction median, not with an outlier-dragged mean slope."""
    from decimal import Decimal
    from fractions import Fraction

    import pandas as pd

    from beauty_lakehouse_spark.operators.warehouse import (
        YEAR_SPAN_LCM,
        q_revenue_theil_sen,
    )

    rows = {r["nation"]: r for r in q_revenue_theil_sen(spark, sf_dir).collect()}
    assert rows

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    od = pd.read_parquet(f"{sf_dir}/orders.parquet")
    cu = pd.read_parquet(f"{sf_dir}/customer.parquet")
    na = pd.read_parquet(f"{sf_dir}/nation.parquet")
    j = (
        li.merge(od, left_on="l_orderkey", right_on="o_orderkey")
        .merge(cu, left_on="o_custkey", right_on="c_custkey")
        .merge(na, left_on="c_nationkey", right_on="n_nationkey")
    )
    j["y"] = j["o_orderdate"].dt.year
    net = [
        Decimal(str(round(p, 2))) * (1 - Decimal(str(round(d, 2))))
        for p, d in zip(j["l_extendedprice"], j["l_discount"])
    ]
    j["net"] = net
    for nation, g in j.groupby("n_name"):
        yearly = {
            y: int(
                round(sum(gg["net"]), 2) * 100
            )
            for y, gg in g.groupby("y")
        }
        ys = sorted(yearly)
        slopes = []
        for i, yi in enumerate(ys):
            for yj in ys[i + 1 :]:
                assert yj - yi <= 10
                slopes.append(
                    (yearly[yj] - yearly[yi]) * (YEAR_SPAN_LCM // (yj - yi))
                )
        slopes.sort()
        med = slopes[(len(slopes) + 1) // 2 - 1]
        r = rows[nation]
        assert r["n_years"] == len(ys)
        assert r["n_pairs"] == len(slopes)
        assert r["ts_slope_lcm"] == med
        # exact-Fraction cross-check of the same lower median
        fr = sorted(Fraction(s, YEAR_SPAN_LCM) for s in slopes)
        assert Fraction(med, YEAR_SPAN_LCM) == fr[(len(fr) + 1) // 2 - 1]
        # FLOAT WITNESS: the LCM-scaled median slope equals the float
        # lower-median of float pairwise slopes (cents per year)
        fslopes = sorted(
            (yearly[yj] - yearly[yi]) / (yj - yi)
            for i2, yi in enumerate(ys)
            for yj in ys[i2 + 1 :]
        )
        fmed = fslopes[(len(fslopes) + 1) // 2 - 1]
        assert abs(med / YEAR_SPAN_LCM - fmed) < 1e-6 + 1e-9 * abs(fmed)


def test_brand_price_elasticity_pure_python(spark, sf_dir):
    """The log-log slope matches a recompute using the engine's own
    ln_micro points, agrees with float OLS on the same grid, and
    quantities really are integral (the cast-long contract)."""
    import pandas as pd

    from pyspark.sql import functions as F

    from beauty_lakehouse_spark.functions import ln_micro
    from beauty_lakehouse_spark.operators.warehouse import (
        q_brand_price_elasticity,
    )

    rows = {r["brand"]: r for r in q_brand_price_elasticity(spark, sf_dir).collect()}
    assert rows

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    pt = pd.read_parquet(f"{sf_dir}/part.parquet")
    j = li.merge(pt, left_on="l_partkey", right_on="p_partkey")
    assert (j["l_quantity"] == j["l_quantity"].round()).all()
    j["d"] = (j["l_discount"] * 100).round().astype(int)
    cells = (
        j.groupby(["p_brand", "d"])["l_quantity"]
        .sum()
        .astype(int)
        .reset_index()
    )
    need = sorted(
        set(cells["l_quantity"]) | set(100 - cells["d"])
    )
    lnm = {
        r["v"]: r["ln"]
        for r in spark.createDataFrame([(v,) for v in need], ["v"])
        .select("v", ln_micro(F.col("v").cast("long"), F.lit(1)).alias("ln"))
        .collect()
    }
    import math

    for brand, g in cells.groupby("p_brand"):
        pts = [
            (lnm[100 - d], lnm[q])
            for d, q in zip(g["d"], g["l_quantity"])
            if q >= 1
        ]
        n = len(pts)
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxy = sum(x * y for x, y in pts)
        sxx = sum(x * x for x, _ in pts)
        num = (n * sxy - sx * sy) * 1000
        den = n * sxx - sx * sx
        want = -((-num) // den) if num < 0 else num // den
        r = rows[brand]
        assert r["n_points"] == n
        assert r["elasticity_milli"] == want
        # float OLS on the true ln points (independent scale witness)
        fx = [math.log(100 - d) for d, q in zip(g["d"], g["l_quantity"])]
        fy = [math.log(q) for q in g["l_quantity"]]
        fn = len(fx)
        fnum = fn * sum(a * b for a, b in zip(fx, fy)) - sum(fx) * sum(fy)
        fden = fn * sum(a * a for a in fx) - sum(fx) ** 2
        slope_f = fnum / fden
        assert abs(r["elasticity_milli"] / 1e3 - slope_f) < max(
            0.05, abs(slope_f) * 0.02
        )


def test_range_partition_boundaries_pure_python(spark, sf_dir):
    """Cuts match a pandas recompute; partitions tile the calendar in
    order, conserve all rows, and every partition's row count is
    within one DAY's mass of the ideal share (the best any
    whole-day range cut can do)."""
    import pandas as pd

    from beauty_lakehouse_spark.operators.warehouse import (
        RANGE_PARTS,
        q_range_partition_boundaries,
    )

    rows = q_range_partition_boundaries(spark, sf_dir).collect()
    assert [r["partition"] for r in rows] == list(range(RANGE_PARTS))

    o = pd.read_parquet(f"{sf_dir}/orders.parquet")
    daily = (
        o.assign(day=o["o_orderdate"].dt.date)
        .groupby("day")
        .size()
        .sort_index()
    )
    N = int(daily.sum())
    cum = 0
    want = {p: [None, None, 0] for p in range(RANGE_PARTS)}
    for d, n in daily.items():
        cum += int(n)
        p = (cum * RANGE_PARTS + N - 1) // N - 1
        if want[p][0] is None:
            want[p][0] = d
        want[p][1] = d
        want[p][2] += int(n)
    max_day = int(daily.max())
    for r in rows:
        lo, hi, n_rows = want[r["partition"]]
        assert r["day_lo"] == lo.isoformat()
        assert r["day_hi"] == hi.isoformat()
        assert r["n_rows"] == n_rows
        d = n_rows * RANGE_PARTS * 10**6 - N * 10**6
        dv = -((-d) // N) if d < 0 else d // N
        assert r["dev_micro"] == dv
        # FLOAT WITNESS: dev tracks the float relative deviation
        assert abs(
            r["dev_micro"] / 1e6 - (n_rows * RANGE_PARTS - N) / N
        ) <= 2e-6
        # balance: within one day's mass of the ideal N/P share
        assert abs(n_rows - N / RANGE_PARTS) <= max_day
    assert sum(r["n_rows"] for r in rows) == N
    # partitions tile the axis in order
    for a, b in zip(rows, rows[1:]):
        assert a["day_hi"] < b["day_lo"]


def test_copurchase_kcore_pure_python(spark, sf_dir):
    """The peel trajectory matches a pure-Python k-core recompute
    round for round, survivors are monotone non-increasing, and the
    final survivor set truly has min within-subgraph degree >= K
    whenever the run converged."""
    from collections import defaultdict

    import pandas as pd

    from beauty_lakehouse_spark.operators.graph import (
        KCORE_K,
        KCORE_ROUNDS,
        q_copurchase_kcore,
    )

    rows = {r["round"]: r for r in q_copurchase_kcore(spark, sf_dir).collect()}
    assert set(rows) == set(range(KCORE_ROUNDS + 1))

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    baskets = defaultdict(set)
    for o, p in zip(li["l_orderkey"], li["l_partkey"]):
        baskets[o].add(p)
    adj = defaultdict(set)
    for b in baskets.values():
        if 2 <= len(b) <= 50:
            ps = sorted(b)
            for i, a in enumerate(ps):
                for c in ps[i + 1 :]:
                    adj[a].add(c)
                    adj[c].add(a)
    alive = set(adj)
    want = [(0, len(alive), 0)]
    for r in range(1, KCORE_ROUNDS + 1):
        nxt = {v for v in alive if len(adj[v] & alive) >= KCORE_K}
        want.append((r, len(nxt), len(alive) - len(nxt)))
        alive = nxt
    for r, n_alive, n_removed in want:
        assert rows[r]["n_alive"] == n_alive
        assert rows[r]["n_removed"] == n_removed
    counts = [rows[r]["n_alive"] for r in range(KCORE_ROUNDS + 1)]
    assert all(a >= b for a, b in zip(counts, counts[1:]))
    if rows[KCORE_ROUNDS]["converged"]:
        assert all(
            len(adj[v] & alive) >= KCORE_K for v in alive
        )  # true fixpoint: min degree >= K inside the core


def test_brand_return_bayes_rank_pure_python(spark, sf_dir):
    """Shrunk rates match an exact recompute; shrinkage pulls every
    brand toward the global rate (between raw and g, inclusive); the
    ordering is by the smoothed rate."""
    import pandas as pd

    from beauty_lakehouse_spark.operators.warehouse import (
        BAYES_PRIOR_STRENGTH,
        q_brand_return_bayes_rank,
    )

    rows = q_brand_return_bayes_rank(spark, sf_dir).collect()
    assert rows

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    pt = pd.read_parquet(f"{sf_dir}/part.parquet")
    j = li.merge(pt, left_on="l_partkey", right_on="p_partkey")
    j["ret"] = (j["l_returnflag"] == "R").astype(int)
    b = j.groupby("p_brand").agg(n=("ret", "size"), k=("ret", "sum"))
    g = int(b["k"].sum()) * 10**6 // int(b["n"].sum())
    C = BAYES_PRIOR_STRENGTH
    want = {}
    for brand, r_ in b.iterrows():
        n, k = int(r_["n"]), int(r_["k"])
        want[brand] = (
            n,
            k,
            k * 10**6 // n,
            (k * 10**6 + C * g) // (n + C),
        )
    assert len(rows) == len(want)
    for r in rows:
        n, k, raw, shrunk = want[r["brand"]]
        assert (r["n_items"], r["n_returned"]) == (n, k)
        assert r["raw_micro"] == raw
        assert r["shrunk_micro"] == shrunk
        lo, hi = sorted((raw, g))
        assert lo - 1 <= r["shrunk_micro"] <= hi + 1  # pulled toward g
    shr = [r["shrunk_micro"] for r in rows]
    assert shr == sorted(shr, reverse=True)
    # FLOAT WITNESS: raw and shrunk rates track the float formulas
    # (k/n and (k + C*g_f)/(n + C)) within trunc-quantization error
    gf = int(b["k"].sum()) / int(b["n"].sum())
    for r in rows:
        n, k, _raw, _shr = want[r["brand"]]
        assert abs(r["raw_micro"] / 1e6 - k / n) <= 2e-6
        assert abs(
            r["shrunk_micro"] / 1e6
            - (k + BAYES_PRIOR_STRENGTH * gf) / (n + BAYES_PRIOR_STRENGTH)
        ) <= 3e-6


def test_revenue_pareto_cut_pure_python(spark, sf_dir):
    """The cut matches a pandas recompute: first desc-rank whose
    cumulative share reaches 80%, with the exact share at the cut."""
    import pandas as pd

    from beauty_lakehouse_spark.operators.warehouse import (
        q_revenue_pareto_cut,
    )

    [r] = q_revenue_pareto_cut(spark, sf_dir).collect()

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    li["c"] = (li["l_extendedprice"].round(2) * 100).round().astype(
        "int64"
    )
    pp = li.groupby("l_partkey")["c"].sum().reset_index()
    pp = pp.sort_values(["c", "l_partkey"], ascending=[False, True])
    total = int(pp["c"].sum())
    cum = 0
    for rk, (_, row) in enumerate(pp.iterrows(), start=1):
        cum += int(row["c"])
        if cum * 5 >= total * 4:
            break
    assert r["n_parts"] == len(pp)
    assert r["total_cents"] == total
    assert r["n_parts_80"] == rk
    assert r["share_micro"] == cum * 10**6 // total
    assert r["cut_part_share_micro"] == int(row["c"]) * 10**6 // total
    # the cut is genuinely concentrating: fewer parts than 80% of them
    assert r["n_parts_80"] < 0.8 * r["n_parts"]
    # FLOAT WITNESS: shares track the float ratios within trunc error
    assert abs(r["share_micro"] / 1e6 - cum / total) <= 2e-6
    assert abs(
        r["cut_part_share_micro"] / 1e6 - int(row["c"]) / total
    ) <= 2e-6
    assert r["share_micro"] / 1e6 >= 0.8 - 2e-6


def test_supplier_hhi_pure_python(spark, sf_dir):
    """HHI matches an exact recompute and sits in its legal band
    [10^4/n_suppliers, 10^4]; float witness agrees."""
    import pandas as pd

    from beauty_lakehouse_spark.operators.warehouse import q_supplier_hhi

    rows = {r["p_type"]: r for r in q_supplier_hhi(spark, sf_dir).collect()}
    assert rows

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    pt = pd.read_parquet(f"{sf_dir}/part.parquet")
    j = li.merge(pt, left_on="l_partkey", right_on="p_partkey")
    j["c"] = (j["l_extendedprice"].round(2) * 100).round().astype("int64")
    for p_type, g in j.groupby("p_type"):
        rs = [int(v) for v in g.groupby("l_suppkey")["c"].sum()]
        T = sum(rs)
        sq = sum(r * r for r in rs)
        hhi = sq * 10**4 // (T * T)
        r = rows[p_type]
        assert r["n_suppliers"] == len(rs)
        assert r["total_cents"] == T
        assert r["hhi_x10k"] == hhi
        assert 10**4 // len(rs) <= hhi <= 10**4
        hhi_f = sum((x / T) ** 2 for x in rs) * 10**4
        assert abs(hhi - hhi_f) < 1.0  # float witness


def test_interpurchase_regularity_pure_python(spark, sf_dir):
    """CV^2 matches an exact recompute over per-customer gap lists and
    the float CV^2 formula; ordering and eligibility rules hold."""
    import pandas as pd

    from beauty_lakehouse_spark.operators.warehouse import (
        q_interpurchase_regularity,
    )

    rows = q_interpurchase_regularity(spark, sf_dir).collect()
    assert rows

    o = pd.read_parquet(f"{sf_dir}/orders.parquet")
    o["d"] = o["o_orderdate"].dt.date
    want = {}
    for ck, g in o.groupby("o_custkey"):
        ds = g.sort_values(["d", "o_orderkey"])["d"].tolist()
        gaps = [(b - a).days for a, b in zip(ds, ds[1:])]
        n, S = len(gaps), sum(gaps)
        if n < 3 or S == 0:
            continue
        Q = sum(x * x for x in gaps)
        cv2 = (n * Q - S * S) * n * 10**6 // ((n - 1) * S * S)
        want[ck] = (n, S * 1000 // n, cv2)
    top = sorted(
        ((cv2, ck, n, m) for ck, (n, m, cv2) in want.items())
    )[:100]
    got = [
        (r["cv2_micro"], r["o_custkey"], r["n_gaps"], r["mean_gap_milli"])
        for r in rows
    ]
    assert got == top
    # float witness on the first row
    cv2_0, ck0, *_ = top[0]
    ds = o[o["o_custkey"] == ck0].sort_values(["d", "o_orderkey"])["d"].tolist()
    gaps = [(b - a).days for a, b in zip(ds, ds[1:])]
    import statistics

    cv2f = statistics.variance(gaps) / (statistics.mean(gaps) ** 2)
    assert abs(cv2_0 / 1e6 - cv2f) < 1e-4


def test_deterministic_random_walks_pure_python(spark, sf_dir):
    """Every walk matches a pure-Python trace (md5 seed + splitmix60
    neighbor pick over the id-ranked adjacency); walks are valid
    paths (every step follows an edge); FLOAT WITNESS: the pick
    distribution over a hub's neighbors is near-uniform (chi-square
    sanity on the mixer, not a shared integer formula)."""
    import hashlib
    from collections import defaultdict

    import pandas as pd

    from beauty_lakehouse_spark.operators.graph import (
        WALK_SEEDS,
        WALK_STEPS,
        WALKS_PER_SEED,
        q_deterministic_random_walks,
    )
    from tests.test_quality import _splitmix60_py

    rows = q_deterministic_random_walks(spark, sf_dir).collect()
    assert len(rows) == WALK_SEEDS * WALKS_PER_SEED * (WALK_STEPS + 1)

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    baskets = defaultdict(set)
    for o, p in zip(li["l_orderkey"], li["l_partkey"]):
        baskets[o].add(p)
    pair_n = defaultdict(int)
    for b in baskets.values():
        if len(b) > 50:
            continue
        ps = sorted(b)
        for i, a in enumerate(ps):
            for c in ps[i + 1 :]:
                pair_n[(a, c)] += 1
    adj = defaultdict(list)
    wdeg = defaultdict(int)
    for (a, b), n in pair_n.items():
        if n < 2:
            continue
        adj[a].append(b)
        adj[b].append(a)
        wdeg[a] += n
        wdeg[b] += n
    for v in adj:
        adj[v].sort()
    seeds = sorted(wdeg, key=lambda v: (-wdeg[v], v))[:WALK_SEEDS]

    def h64(v):
        return int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)

    got = defaultdict(dict)
    for r in rows:
        got[(r["seed"], r["walk_id"])][r["step"]] = r["node"]
    assert {s for s, _w in got} == set(seeds)
    for (seed, w), path in got.items():
        cur = seed
        assert path[0] == seed
        for step in range(1, WALK_STEPS + 1):
            nbrs = adj[cur]
            pick = _splitmix60_py(h64(cur), w * 8 + step) % len(nbrs)
            cur = nbrs[pick]
            assert path[step] == cur
            # validity: consecutive nodes share an edge
            assert path[step] in adj[path[step - 1]]

    # FLOAT WITNESS: near-uniform neighbor choice at the top hub over
    # many (walk, step) probes — expected count n/deg per neighbor
    hub = seeds[0]
    deg = len(adj[hub])
    n_probe = 256
    counts = defaultdict(int)
    for i in range(n_probe):
        counts[_splitmix60_py(h64(hub), i) % deg] += 1
    exp = n_probe / deg
    chi2 = sum((c - exp) ** 2 / exp for c in counts.values())
    # generous 99.9%-ish bound: chi2 < df + 5*sqrt(2*df) + 20
    df = deg - 1
    assert chi2 < df + 5 * (2 * df) ** 0.5 + 20


def test_label_propagation_pure_python(spark, sf_dir):
    """Four synchronous min-tie-break LPA rounds match a pure-Python
    recompute; communities respect connectivity (a community never
    spans two connected components) and sizes are consistent."""
    from collections import Counter, defaultdict

    import pandas as pd

    from beauty_lakehouse_spark.operators.graph import (
        LPA_ROUNDS,
        q_label_propagation_communities,
    )

    rows = {
        r["part"]: r
        for r in q_label_propagation_communities(spark, sf_dir).collect()
    }
    assert rows

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    baskets = defaultdict(set)
    for o, p in zip(li["l_orderkey"], li["l_partkey"]):
        baskets[o].add(p)
    pair_n = defaultdict(int)
    for b in baskets.values():
        if len(b) > 50:
            continue
        ps = sorted(b)
        for i, a in enumerate(ps):
            for c in ps[i + 1 :]:
                pair_n[(a, c)] += 1
    adj = defaultdict(list)
    for (a, b), n in pair_n.items():
        if n >= 2:
            adj[a].append(b)
            adj[b].append(a)
    lbl = {v: v for v in adj}
    for _ in range(LPA_ROUNDS):
        nxt = {}
        for v in adj:
            cnt = Counter(lbl[u] for u in adj[v])
            best = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
            nxt[v] = best[0]
        lbl = nxt
    sizes = Counter(lbl.values())
    assert set(rows) == set(adj)
    for v, want in lbl.items():
        assert rows[v]["community"] == want
        assert rows[v]["community_size"] == sizes[want]
    # communities nest inside connected components
    comp = {}
    for v in adj:
        if v in comp:
            continue
        stack, root = [v], v
        while stack:
            u = stack.pop()
            if u in comp:
                continue
            comp[u] = root
            stack.extend(adj[u])
    by_lbl = defaultdict(set)
    for v, l in lbl.items():
        by_lbl[l].add(comp[v])
    assert all(len(cs) == 1 for cs in by_lbl.values())


def test_hyperball_neighborhood_vs_exact_bfs(spark, sf_dir):
    """Accuracy witness for the HyperBall sketch: a pure-Python BFS
    computes the EXACT neighborhood function Σ_v |B(v, r)| on the same
    co-purchase graph; the summed HLL estimates must track it within
    the m=1024 sketch's error budget (±~3.2% per ball, summed over
    ~uncorrelated balls — 10% is a generous aggregate bound). Plus the
    exact laws: r=0 linear counting gives sum_ball_est == n_nodes
    exactly, and N(r) is monotone nondecreasing in r."""
    import pandas as pd

    from beauty_lakehouse_spark.operators.graph import (
        HB_ROUNDS,
        q_hyperball_neighborhood,
    )

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")[
        ["l_orderkey", "l_partkey"]
    ]
    baskets: dict[int, set[int]] = {}
    for ok, pk in zip(li.l_orderkey, li.l_partkey):
        baskets.setdefault(int(ok), set()).add(int(pk))
    pair_count: dict[tuple[int, int], int] = {}
    for parts in baskets.values():
        if not (2 <= len(parts) <= 50):
            continue
        sp = sorted(parts)
        for i, a in enumerate(sp):
            for b in sp[i + 1:]:
                pair_count[(a, b)] = pair_count.get((a, b), 0) + 1
    adj: dict[int, set[int]] = {}
    for (a, b), c in pair_count.items():
        if c >= 2:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)

    exact_n = {0: len(adj)}
    balls = {v: {v} for v in adj}
    frontier = {v: {v} for v in adj}
    for r in range(1, HB_ROUNDS + 1):
        for v in adj:
            new = set()
            for u in frontier[v]:
                new |= adj[u]
            frontier[v] = new - balls[v]
            balls[v] |= new
        exact_n[r] = sum(len(b) for b in balls.values())

    rows = {r.round: r for r in q_hyperball_neighborhood(spark, sf_dir).collect()}
    assert set(rows) == set(range(HB_ROUNDS + 1))
    assert all(r.n_nodes == len(adj) for r in rows.values())
    # r=0: every ball is the singleton {v}; linear counting is exact at 1
    assert rows[0].sum_ball_est == len(adj)
    # monotone in r
    for r in range(1, HB_ROUNDS + 1):
        assert rows[r].sum_ball_est >= rows[r - 1].sum_ball_est
    # sketch accuracy vs the exact neighborhood function (float ratio)
    for r in range(1, HB_ROUNDS + 1):
        ratio = rows[r].sum_ball_est / exact_n[r]
        assert 0.90 < ratio < 1.10, (r, rows[r].sum_ball_est, exact_n[r])


def test_hyperball_closeness_vs_exact_bfs(spark, sf_dir):
    """Internal-consistency and accuracy witness for the HyperBall
    harmonic centrality: (a) hc_micro recomputes exactly from the
    returned ball estimates (est_0 == 1 per the exact linear-count
    identity), (b) each returned node's estimate tracks its EXACT
    truncated harmonic centrality (pure-Python BFS shells, same
    weights) within the aggregated sketch error, and (c) the returned
    set overlaps the exact top-20 heavily."""
    import pandas as pd

    from beauty_lakehouse_spark.operators.graph import (
        HB_CLOSENESS_TOP,
        HB_HARMONIC,
        HB_ROUNDS,
        q_hyperball_closeness,
    )

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")[
        ["l_orderkey", "l_partkey"]
    ]
    baskets: dict[int, set[int]] = {}
    for ok, pk in zip(li.l_orderkey, li.l_partkey):
        baskets.setdefault(int(ok), set()).add(int(pk))
    pair_count: dict[tuple[int, int], int] = {}
    for parts in baskets.values():
        if not (2 <= len(parts) <= 50):
            continue
        sp = sorted(parts)
        for i, a in enumerate(sp):
            for b in sp[i + 1:]:
                pair_count[(a, b)] = pair_count.get((a, b), 0) + 1
    adj: dict[int, set[int]] = {}
    for (a, b), c in pair_count.items():
        if c >= 2:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)

    exact_hc: dict[int, float] = {}
    for v in adj:
        ball = {v}
        frontier = {v}
        hc = 0.0
        for r in range(1, HB_ROUNDS + 1):
            new = set()
            for u in frontier:
                new |= adj[u]
            frontier = new - ball
            ball |= new
            hc += len(frontier) * (HB_HARMONIC[r - 1] / 1e6)
        exact_hc[v] = hc

    rows = q_hyperball_closeness(spark, sf_dir).collect()
    assert len(rows) == HB_CLOSENESS_TOP
    for r in rows:
        # (a) hc recomputes from the output (est_0 == 1 exactly)
        want = (
            max(r.ball_1 - 1, 0) * HB_HARMONIC[0]
            + max(r.ball_2 - r.ball_1, 0) * HB_HARMONIC[1]
            + max(r.ball_3 - r.ball_2, 0) * HB_HARMONIC[2]
        )
        assert r.hc_micro == want, r
        # (b) FLOAT WITNESS: estimate vs exact truncated harmonic
        # centrality — these are hub nodes (hc in the thousands), so
        # the m=1024 sketch's ~3.2%/ball error bounds the ratio
        assert 0.85 < (r.hc_micro / 1e6) / exact_hc[r.node] < 1.15, (
            r.node, r.hc_micro / 1e6, exact_hc[r.node],
        )
    # (c) ranking agreement with the exact top-20 (sketch noise can
    # swap near-ties; a heavy majority must survive)
    exact_top = {
        v for v, _ in sorted(
            exact_hc.items(), key=lambda kv: (-kv[1], kv[0])
        )[:HB_CLOSENESS_TOP]
    }
    got = {r.node for r in rows}
    assert len(got & exact_top) >= 14, (sorted(got), sorted(exact_top))


def test_mann_kendall_pure_python(spark, sf_dir):
    """S, the tie-corrected 18·Var(S), and z² match a pure-Python
    recompute of the textbook Mann–Kendall statistics over the daily
    revenue series."""
    import pandas as pd

    from beauty_lakehouse_spark.operators.warehouse import (
        q_mann_kendall_trend,
    )

    row = q_mann_kendall_trend(spark, sf_dir).collect()[0]
    od = pd.read_parquet(f"{sf_dir}/orders.parquet")
    daily = (
        od.groupby(od["o_orderdate"])["o_totalprice"]
        .sum()
        .round(2)
        .mul(100)
        .astype("int64")
        .sort_index()
    )
    xs = daily.to_list()
    n = len(xs)
    s = sum(
        (1 if xs[j] > xs[i] else -1 if xs[j] < xs[i] else 0)
        for i in range(n)
        for j in range(i + 1, n)
    )
    from collections import Counter

    ties = Counter(xs)
    tie_term = sum(t * (t - 1) * (2 * t + 5) for t in ties.values() if t > 1)
    var18 = n * (n - 1) * (2 * n + 5) - tie_term
    assert row.n_days == n
    assert row.n_pairs == n * (n - 1) // 2
    assert row.s_stat == s
    assert row.var_s_x18 == var18
    assert row.z2_ppm == (s * s * 18_000_000) // var18
    assert row.trend == ("up" if s > 0 else "down" if s < 0 else "flat")


def test_hilbert_keys_match_reference_walk(spark, sf_dir):
    """Every emitted key equals the classic Hamilton xy2d walk, and the
    Hilbert curve's locality bound holds: consecutive d values are
    adjacent cells (|Δx| + |Δy| = 1) — the property Morton z-order
    lacks (its diagonal jumps) and the reason Hilbert clustering
    exists."""
    from beauty_lakehouse_spark.operators.warehouse import (
        HILBERT_BITS,
        q_hilbert_curve_keys,
    )

    def xy2d(n, x, y):
        d = 0
        s = n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = s - 1 - x, s - 1 - y
                x, y = y, x
            s //= 2
        return d

    def d2xy(n, d):
        x = y = 0
        t = d
        s = 1
        while s < n:
            rx = 1 & (t // 2)
            ry = 1 & (t ^ rx)
            if ry == 0:
                if rx == 1:
                    x, y = s - 1 - x, s - 1 - y
                x, y = y, x
            x += s * rx
            y += s * ry
            t //= 4
            s *= 2
        return x, y

    side = 1 << HILBERT_BITS
    rows = q_hilbert_curve_keys(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.hkey == xy2d(side, r.zx, r.zy), (r.zx, r.zy, r.hkey)
    # adjacency: successive curve positions are 4-neighbors
    for d in range(0, 64):
        x0, y0 = d2xy(side, d)
        x1, y1 = d2xy(side, d + 1)
        assert abs(x0 - x1) + abs(y0 - y1) == 1


def test_community_modularity_invariants(spark, sf_dir):
    """The exact-numerator form satisfies the textbook identities:
    Σ d_c = 2m, Σ e_c ≤ m, Σ contrib = q_num, and Q = q_num/4m² stays
    in [−1, 1]."""
    from beauty_lakehouse_spark.operators.graph import (
        q_community_modularity,
    )

    rows = q_community_modularity(spark, sf_dir).collect()
    assert rows
    m = rows[0].m_edges
    qn = rows[0].q_num
    assert all(r.m_edges == m and r.q_num == qn for r in rows)
    assert sum(r.d_sum for r in rows) == 2 * m
    assert sum(r.e_in for r in rows) <= m
    assert sum(r.contrib_num for r in rows) == qn
    assert all(
        r.contrib_num == 4 * m * r.e_in - r.d_sum * r.d_sum for r in rows
    )
    assert -1.0 <= qn / (4 * m * m) <= 1.0


def test_clustering_coefficients_pure_python(spark, sf_dir):
    """Per-node triangle counts and cc match a pure-Python recompute
    over the same thresholded co-purchase graph; the global
    transitivity equals 2·Σtri / Σdeg(deg−1)."""
    from collections import defaultdict

    import pandas as pd

    from beauty_lakehouse_spark.operators.graph import (
        q_clustering_coefficients,
    )

    rows = {
        r.part: r for r in q_clustering_coefficients(spark, sf_dir).collect()
    }
    assert rows

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    baskets = defaultdict(set)
    for o, p in zip(li["l_orderkey"], li["l_partkey"]):
        baskets[o].add(p)
    pair_n = defaultdict(int)
    for b in baskets.values():
        if len(b) > 50:
            continue
        sp = sorted(b)
        for i in range(len(sp)):
            for j in range(i + 1, len(sp)):
                pair_n[(sp[i], sp[j])] += 1
    edges = {e for e, n in pair_n.items() if n >= 2}
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    sum_tri = sum_w = 0
    for v, nbrs in adj.items():
        deg = len(nbrs)
        if deg < 2:
            assert v not in rows
            continue
        ns = sorted(nbrs)
        tri = sum(
            1
            for i in range(len(ns))
            for j in range(i + 1, len(ns))
            if (ns[i], ns[j]) in edges
        )
        r = rows[v]
        assert (r.deg, r.tri) == (deg, tri), v
        assert r.cc_ppm == (tri * 2_000_000) // (deg * (deg - 1))
        sum_tri += tri
        sum_w += deg * (deg - 1)
    t_ppm = (sum_tri * 2_000_000) // sum_w
    assert all(r.transitivity_ppm == t_ppm for r in rows.values())
    # FLOAT WITNESS: global transitivity tracks the float ratio
    assert abs(t_ppm / 1e6 - (2 * sum_tri) / sum_w) <= 2e-6


def test_degree_assortativity_pure_python(spark, sf_dir):
    """The exact integer sums and signed r_milli match a pure-Python
    recompute; r stays in [−1, 1]."""
    from collections import defaultdict

    import pandas as pd

    from beauty_lakehouse_spark.operators.graph import (
        q_degree_assortativity,
    )

    row = q_degree_assortativity(spark, sf_dir).collect()[0]

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    baskets = defaultdict(set)
    for o, p in zip(li["l_orderkey"], li["l_partkey"]):
        baskets[o].add(p)
    pair_n = defaultdict(int)
    for b in baskets.values():
        if len(b) > 50:
            continue
        sp = sorted(b)
        for i in range(len(sp)):
            for j in range(i + 1, len(sp)):
                pair_n[(sp[i], sp[j])] += 1
    edges = [e for e, n in pair_n.items() if n >= 2]
    deg = defaultdict(int)
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
    m = len(edges)
    s_dadb = sum(deg[a] * deg[b] for a, b in edges)
    s_sum = sum(deg[a] + deg[b] for a, b in edges)
    s_sq = sum(deg[a] ** 2 + deg[b] ** 2 for a, b in edges)
    assert (row.m_edges, row.s_dadb, row.s_sum, row.s_sq) == (
        m, s_dadb, s_sum, s_sq,
    )
    r_num = 4 * m * s_dadb - s_sum * s_sum
    r_den = 2 * m * s_sq - s_sum * s_sum
    assert (row.r_num, row.r_den) == (r_num, r_den)
    want_milli = (
        -((-r_num * 1000) // r_den) if r_num < 0 else (r_num * 1000) // r_den
    )
    assert row.r_milli == want_milli
    assert -1000 <= row.r_milli <= 1000
    # FLOAT WITNESS: r_milli tracks the float Pearson form
    assert abs(row.r_milli / 1000 - r_num / r_den) <= 2e-3


def test_kruskal_wallis_pure_python(spark, sf_dir):
    """Doubled rank sums, the tie term, and tie-corrected H match the
    textbook computation on materialized average ranks."""
    from collections import Counter, defaultdict

    import pandas as pd

    from beauty_lakehouse_spark.operators.quality import (
        q_kruskal_wallis_segments,
    )

    rows = {
        r.segment: r
        for r in q_kruskal_wallis_segments(spark, sf_dir).collect()
    }
    assert len(rows) == 5

    od = pd.read_parquet(f"{sf_dir}/orders.parquet")
    cu = pd.read_parquet(f"{sf_dir}/customer.parquet")
    j = od.merge(cu, left_on="o_custkey", right_on="c_custkey")
    obs = [
        (s, int(round(p * 100)))
        for s, p in zip(j["c_mktsegment"], j["o_totalprice"])
    ]
    cnt = Counter(c for _, c in obs)
    rank2 = {}
    cum = 0
    for v in sorted(cnt):
        rank2[v] = 2 * cum + cnt[v] + 1
        cum += cnt[v]
    R2 = defaultdict(int)
    n = defaultdict(int)
    for s, c in obs:
        R2[s] += rank2[c]
        n[s] += 1
    N = len(obs)
    tie = sum(t**3 - t for t in cnt.values())
    for s, r in rows.items():
        assert (r.n_obs, r.rank2_sum) == (n[s], R2[s]), s
        assert r.n_total == N and r.tie_term == tie
    sum_contrib = sum(
        (3_000_000 * R2[s] ** 2) // (n[s] * N * (N + 1)) for s in R2
    )
    h_raw = max(sum_contrib - 3_000_000 * (N + 1), 0)
    n3n = N**3 - N
    want_h = (h_raw * n3n) // (n3n - tie)
    assert all(r.h_ppm == want_h for r in rows.values())
    # FLOAT WITNESS: h_ppm tracks the float H with tie correction
    ranks_f = {v: (rank2[v]) / 2 for v in rank2}
    Rf = defaultdict(float)
    for s, c in obs:
        Rf[s] += ranks_f[c]
    Hf = 12 / (N * (N + 1)) * sum(
        Rf[s] ** 2 / n[s] for s in Rf
    ) - 3 * (N + 1)
    Hf /= 1 - tie / n3n
    assert abs(want_h / 1e6 - Hf) <= 1e-3


def test_brand_return_woe_iv_properties(spark, sf_dir):
    """WoE responds to the observed class balance (sign matches the
    probability gap), IV contributions are non-negative and sum to the
    attached total, and the float-ln witness tracks woe_micro."""
    import math

    from beauty_lakehouse_spark.operators.quality import (
        q_brand_return_woe_iv,
    )

    rows = q_brand_return_woe_iv(spark, sf_dir).collect()
    assert rows
    nb = len(rows)
    tot_pos = sum(r.n_pos for r in rows)
    tot_neg = sum(r.n_neg for r in rows)
    iv_total = rows[0].iv_total_micro
    assert sum(r.iv_micro for r in rows) == iv_total
    for r in rows:
        # FLOAT WITNESS: woe tracks ln of the smoothed odds ratio
        woe_f = math.log(
            ((r.n_pos + 1) / (tot_pos + nb))
            / ((r.n_neg + 1) / (tot_neg + nb))
        )
        assert abs(r.woe_micro / 1e6 - woe_f) <= 5e-4, r.brand
        if r.diff_ppm > 0:
            assert r.woe_micro > 0 or abs(r.diff_ppm) <= 2
        if r.diff_ppm < 0:
            assert r.woe_micro < 0 or abs(r.diff_ppm) <= 2
        assert r.iv_micro >= -1  # sign agreement up to 1-ppm truncation


def test_spearman_price_qty_pure_python(spark, sf_dir):
    """Doubled-rank moments and the two-stage rho² division match the
    textbook Spearman on materialized average ranks, and a scipy-free
    float witness tracks rho_milli."""
    from collections import Counter

    import pandas as pd

    from beauty_lakehouse_spark.operators.quality import (
        q_spearman_price_qty,
    )

    row = q_spearman_price_qty(spark, sf_dir).collect()[0]

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    pt = pd.read_parquet(f"{sf_dir}/part.parquet")
    qty = li.groupby("l_partkey")["l_quantity"].sum().astype(int)
    j = pt.set_index("p_partkey").join(qty, how="inner")
    xs = [int(round(p * 100)) for p in j["p_retailprice"]]
    ys = [int(q) for q in j["l_quantity"]]

    def rank2(vals):
        cnt = Counter(vals)
        r, cum = {}, 0
        for v in sorted(cnt):
            r[v] = 2 * cum + cnt[v] + 1
            cum += cnt[v]
        return [r[v] for v in vals]

    rx, ry = rank2(xs), rank2(ys)
    n = len(xs)
    sx, sy = sum(rx), sum(ry)
    sxy = sum(a * b for a, b in zip(rx, ry))
    sxx = sum(a * a for a in rx)
    syy = sum(b * b for b in ry)
    num = n * sxy - sx * sy
    den_x = n * sxx - sx * sx
    den_y = n * syy - sy * sy
    assert (row.n_parts, row.sx, row.sy) == (n, sx, sy)
    assert (int(row.rho_num), int(row.den_x), int(row.den_y)) == (
        num, den_x, den_y,
    )
    rho2 = ((abs(num) * abs(num)) // den_x) * 1_000_000 // den_y
    want = -rho2 if num < 0 else rho2
    assert row.rho2_signed_ppm == want
    assert -1_000_000 <= row.rho2_signed_ppm <= 1_000_000
    # FLOAT WITNESS: rho_milli tracks the float Spearman rho
    rho_f = num / (den_x * den_y) ** 0.5
    assert abs(row.rho_milli / 1000 - rho_f) <= 2e-3


def test_gopher_quality_flags_pure_python(spark, sf_dir):
    """Every rule value and the composed pass bit match a direct
    python recomputation over the raw text."""
    import pandas as pd

    from beauty_lakehouse_spark.operators.text import (
        GOPHER_MIN_STOP_HITS,
        GOPHER_MIN_WORDS,
        STOPWORDS,
        q_gopher_quality_flags,
    )

    rows = {
        r.doc_id: r for r in q_gopher_quality_flags(spark, sf_dir).collect()
    }
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    assert len(rows) == len(docs)
    n_pass = 0
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        toks = text.split(" ")
        r = rows[doc_id]
        nw = len(toks)
        assert r.n_words == nw
        assert r.mean_wl_milli == sum(len(w) for w in toks) * 1000 // nw
        sym = text.count("#") + text.count("...")
        assert r.symbol_ppm == sym * 1_000_000 // nw
        alpha = sum(1 for w in toks if any(c.isalpha() and c.isascii() for c in w))
        assert r.alpha_ppm == alpha * 1_000_000 // nw
        stop = sum(1 for w in toks if w in STOPWORDS["en"])
        assert r.stop_hits == stop
        # FLOAT WITNESS: the milli/ppm fields track the float ratios
        # (floor quantization error < 1 ulp of the scale)
        assert abs(r.mean_wl_milli / 1e3 - sum(len(w) for w in toks) / nw) <= 1e-3
        assert abs(r.symbol_ppm / 1e6 - sym / nw) <= 1e-6
        assert abs(r.alpha_ppm / 1e6 - alpha / nw) <= 1e-6
        want_pass = (
            nw >= GOPHER_MIN_WORDS
            and 3000 <= r.mean_wl_milli <= 10000
            and r.symbol_ppm <= 100_000
            and r.alpha_ppm >= 800_000
            and stop >= GOPHER_MIN_STOP_HITS
        )
        assert r.gopher_pass == want_pass, doc_id
        n_pass += want_pass
    # the rule card discriminates: both outcomes occur on the fixture
    assert 0 < n_pass < len(docs)


def test_js_divergence_sources_pure_python(spark, sf_dir):
    """ppm masses and the signed ln_micro contributions match a direct
    recomputation; JSD is non-negative, bounded by ln 2, symmetric in
    construction; float witness tracks jsd_micro."""
    import math

    import pandas as pd

    from beauty_lakehouse_spark.operators.text import (
        q_js_divergence_sources,
    )

    rows = q_js_divergence_sources(spark, sf_dir).collect()
    assert len(rows) == 20
    g = rows[0]
    assert all(
        (r.na_tokens, r.nb_tokens, r.n_terms, r.jsd_micro)
        == (g.na_tokens, g.nb_tokens, g.n_terms, g.jsd_micro)
        for r in rows
    )
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    ca, cb = {}, {}
    for src, text in zip(docs["source"], docs["text"]):
        tgt = ca if len(src) == 4 else cb
        for w in text.split(" "):
            tgt[w] = tgt.get(w, 0) + 1
    na, nb = sum(ca.values()), sum(cb.values())
    vocab = set(ca) | set(cb)
    assert (g.na_tokens, g.nb_tokens, g.n_terms) == (na, nb, len(vocab))
    for r in rows:
        assert r.p_a_ppm == ca.get(r.term, 0) * 1_000_000 // na
        assert r.p_b_ppm == cb.get(r.term, 0) * 1_000_000 // nb
        # per-term JS contribution is non-negative up to quantization
        assert r.contrib_pico >= -2
    # FLOAT WITNESS on the quantized masses
    jsd_f = 0.0
    for t in vocab:
        pa = ca.get(t, 0) * 1_000_000 // na
        pb = cb.get(t, 0) * 1_000_000 // nb
        m2 = pa + pb
        if pa:
            jsd_f += pa * math.log(2 * pa / m2)
        if pb:
            jsd_f += pb * math.log(2 * pb / m2)
    jsd_f /= 2e6
    assert 0 <= g.jsd_micro / 1e6 <= math.log(2) + 1e-6
    assert abs(g.jsd_micro / 1e6 - jsd_f) <= 1e-3


def test_compaction_plan_pure_python(spark, sf_dir):
    """Bin assignment is the exact contiguous cumulative packing: bins
    are day-contiguous, bytes conserve, every non-final bin ends
    because the next file would start past its target boundary."""
    import pandas as pd

    from beauty_lakehouse_spark.operators.warehouse import (
        COMPACT_BINS,
        COMPACT_ROW_OVERHEAD,
        q_compaction_plan,
    )

    rows = q_compaction_plan(spark, sf_dir).collect()
    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["ts", "props"])
    ev["day"] = ev["ts"].dt.date
    ev["b"] = ev["props"].str.len() + COMPACT_ROW_OVERHEAD
    files = ev.groupby("day")["b"].sum().sort_index()
    total = int(files.sum())
    target = (total + COMPACT_BINS - 1) // COMPACT_BINS
    want = {}
    cum = 0
    for day, b in files.items():
        want.setdefault(cum // target, []).append((day, int(b)))
        cum += int(b)
    assert len(rows) == len(want)
    for r in rows:
        fs = want[r.bin]
        assert r.n_files == len(fs)
        assert r.day_lo == str(fs[0][0]) and r.day_hi == str(fs[-1][0])
        assert r.est_bytes == sum(b for _, b in fs)
        assert r.fill_ppm == r.est_bytes * 1_000_000 // target
        # FLOAT WITNESS: fill_ppm tracks the float fill fraction
        assert abs(r.fill_ppm / 1e6 - r.est_bytes / target) <= 1e-6
        assert r.oversized == (r.est_bytes > target)
    assert sum(r.est_bytes for r in rows) == total
    # contiguity: bins tile the day axis in order
    bounds = sorted((r.bin, r.day_lo, r.day_hi) for r in rows)
    for (_, _, hi), (_, lo, _) in zip(bounds, bounds[1:]):
        assert hi < lo


def test_copurchase_ktruss_pure_python(spark, sf_dir):
    """The peel trajectory matches a direct python k-truss on the
    thresholded edge set, and every reported round is consistent
    (n_removed deltas, converged flag semantics)."""
    from collections import defaultdict

    import pandas as pd

    from beauty_lakehouse_spark.operators.graph import (
        TRUSS_K,
        TRUSS_ROUNDS,
        q_copurchase_ktruss,
    )

    rows = sorted(
        q_copurchase_ktruss(spark, sf_dir).collect(), key=lambda r: r.round
    )
    assert [r.round for r in rows] == list(range(TRUSS_ROUNDS + 1))

    li = pd.read_parquet(
        f"{sf_dir}/lineitem.parquet", columns=["l_orderkey", "l_partkey"]
    ).drop_duplicates()
    baskets = li.groupby("l_orderkey")["l_partkey"].apply(list)
    pair_ct = defaultdict(int)
    for parts in baskets:
        ps = sorted(set(parts))
        if not 2 <= len(ps) <= 50:
            continue
        for i, a in enumerate(ps):
            for b in ps[i + 1:]:
                pair_ct[(a, b)] += 1
    edges = {e for e, c in pair_ct.items() if c >= 2}
    traj = [len(edges)]
    for _ in range(TRUSS_ROUNDS):
        adj = defaultdict(set)
        for a, b in edges:
            adj[a].add(b)
            adj[b].add(a)
        sup = {
            (a, b): len(adj[a] & adj[b]) for a, b in edges
        }
        edges = {e for e in edges if sup[e] >= TRUSS_K - 2}
        traj.append(len(edges))
    assert [r.n_edges for r in rows] == traj
    for prev, r in zip(rows, rows[1:]):
        assert r.n_removed == prev.n_edges - r.n_edges
    assert rows[-1].converged == (rows[-1].n_removed == 0)


def test_silhouette_simplified_properties(spark, sf_dir):
    """s is in [0, 1] by construction (argmin assignment), members
    cover the corpus, the global mean is the member-weighted mean of
    the per-cluster sums, and the clustering beats a degenerate one."""
    import pandas as pd

    from beauty_lakehouse_spark.operators.similarity import (
        KMEANS_K,
        q_silhouette_simplified,
    )

    rows = q_silhouette_simplified(spark, sf_dir).collect()
    assert 1 <= len(rows) <= KMEANS_K
    n_vec = len(pd.read_parquet(f"{sf_dir}/embeddings.parquet"))
    assert sum(r.n_members for r in rows) == n_vec
    for r in rows:
        assert 0 <= r.min_s_ppm <= r.mean_s_ppm <= r.max_s_ppm <= 1_000_000
    g = rows[0].silhouette_ppm
    assert all(r.silhouette_ppm == g for r in rows)
    lo = min(r.mean_s_ppm for r in rows)
    hi = max(r.mean_s_ppm for r in rows)
    assert lo <= g <= hi
    # FLOAT WITNESS: the global mean tracks the member-weighted float
    # mean of the per-cluster means (each side floored at most 1 ppm,
    # so the gap is bounded by 2 ppm)
    wmean = sum(r.mean_s_ppm * r.n_members for r in rows) / n_vec
    assert abs(g - wmean) <= 2


def test_twonn_intrinsic_dim_pure_python(spark, sf_dir):
    """d1/d2 are the exact two smallest integer squared-L2 distances
    for each panel query, and the MLE matches the float Two-NN
    estimator on the same ratios."""
    import math

    import pandas as pd

    from beauty_lakehouse_spark.operators.similarity import (
        TWONN_QUERIES,
        q_twonn_intrinsic_dim,
    )

    rows = q_twonn_intrinsic_dim(spark, sf_dir).collect()
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    vecs = {
        int(v): [int(math.floor(float(x) * 1_000_000 + 0.5)) for x in e]
        for v, e in zip(emb["vec_id"], emb["embedding"])
    }
    n_dup = 0
    by_q = {r.query_id: r for r in rows}
    for qid in range(min(TWONN_QUERIES, len(vecs))):
        ds = sorted(
            sum((a - b) ** 2 for a, b in zip(vecs[qid], vecs[v]))
            for v in vecs
            if v != qid
        )
        if ds[0] == 0:
            n_dup += 1
            assert qid not in by_q
            continue
        r = by_q[qid]
        assert (r.d1_sq, r.d2_sq) == (ds[0], ds[1])
        # FLOAT WITNESS per ratio
        assert abs(r.ln_ratio_micro / 1e6 - math.log(ds[1] / ds[0]) / 2) <= 2e-3
    g = rows[0]
    assert g.n_excluded == n_dup
    assert g.n_queries == len(rows)
    assert g.sum_ln_micro == sum(r.ln_ratio_micro for r in rows)
    id_f = g.n_queries / max(g.sum_ln_micro / 1e6, 1e-9)
    assert abs(g.id_milli / 1000 - id_f) <= 0.1
    # the corpus is a 64-d synthetic cloud: the estimate is positive
    # and can't exceed the ambient dimension by more than noise
    assert 0 < g.id_milli / 1000 < 64 * 1.5


def test_revenue_acf_pure_python(spark, sf_dir):
    """Cross-multiplied deviations, per-lag numerators, and the
    Ljung-Box accumulation match a direct recomputation; the float
    witness tracks r_ppm."""
    from collections import defaultdict

    import pandas as pd

    from beauty_lakehouse_spark.operators.warehouse import (
        ACF_MAX_LAG,
        q_revenue_acf,
    )

    rows = sorted(q_revenue_acf(spark, sf_dir).collect(), key=lambda r: r.lag)
    assert [r.lag for r in rows] == list(range(1, ACF_MAX_LAG + 1))

    od = pd.read_parquet(
        f"{sf_dir}/orders.parquet", columns=["o_orderdate", "o_totalprice"]
    )
    od["cents"] = (od["o_totalprice"] * 100).round().astype(int)
    daily = od.groupby(od["o_orderdate"].astype("datetime64[ns]").dt.date)[
        "cents"
    ].sum()
    xs = [int(v) for _, v in sorted(daily.items())]
    n = len(xs)
    s = sum(xs)
    d = [n * x - s for x in xs]
    den = sum(v * v for v in d)
    lb = 0
    for r in rows:
        k = r.lag
        num = sum(d[t] * d[t + k] for t in range(n - k))
        assert (int(r.num), int(r.den), r.n_days) == (num, den, n)
        want_r = (
            -((-num * 1_000_000) // den)
            if num < 0
            else (num * 1_000_000) // den
        )
        assert r.r_ppm == want_r
        lb += (want_r * want_r) // (n - k)
        assert r.lb_q_milli == n * (n + 2) * lb // 1_000_000_000
        assert r.significant == (want_r * want_r > 3_841_600_000_000 // n)
        # FLOAT WITNESS
        mean = s / n
        rf = sum(
            (xs[t] - mean) * (xs[t + k] - mean) for t in range(n - k)
        ) / sum((x - mean) ** 2 for x in xs)
        assert abs(r.r_ppm / 1e6 - rf) <= 1e-5


def test_tcloseness_profile_pure_python(spark, sf_dir):
    """Per-class ordered-domain EMD matches a direct recomputation on
    the (QI, priority) contingency table, and the attached summary is
    consistent."""
    from collections import Counter, defaultdict

    import pandas as pd

    from beauty_lakehouse_spark.operators.quality import (
        TCLOSE_T_PPM,
        q_tcloseness_profile,
    )

    rows = q_tcloseness_profile(spark, sf_dir).collect()
    od = pd.read_parquet(f"{sf_dir}/orders.parquet")
    cu = pd.read_parquet(
        f"{sf_dir}/customer.parquet", columns=["c_custkey", "c_nationkey"]
    )
    j = od.merge(cu, left_on="o_custkey", right_on="c_custkey")
    dt = pd.to_datetime(j["o_orderdate"])
    keys = list(zip(j["c_nationkey"], dt.dt.year, dt.dt.month))
    prios = list(j["o_orderpriority"])
    dom = sorted(set(prios))
    m = len(dom)
    n_total = len(prios)
    gcount = Counter(prios)
    cells = defaultdict(Counter)
    for k, p in zip(keys, prios):
        cells[k][p] += 1
    assert len(rows) == len(cells)
    n_risk = 0
    max_emd = 0
    for r in rows:
        k = (r.c_nationkey, r.order_year, r.order_month)
        cnt = cells[k]
        s = sum(cnt.values())
        assert r.class_size == s
        dev = cumq = cump = 0
        for p in dom:
            cumq += cnt.get(p, 0)
            cump += gcount[p]
            dev += abs(cumq * n_total - cump * s)
        want = dev * 1_000_000 // ((m - 1) * s * n_total)
        assert r.emd_ppm == want
        # FLOAT WITNESS: emd_ppm tracks the float ordered-domain EMD
        cq = cp = 0
        dev_f = 0.0
        for p in dom:
            cq += cnt.get(p, 0)
            cp += gcount[p]
            dev_f += abs(cq / s - cp / n_total)
        assert abs(want / 1e6 - dev_f / (m - 1)) <= 2e-6
        assert r.at_risk == (want > TCLOSE_T_PPM)
        n_risk += r.at_risk
        max_emd = max(max_emd, want)
        assert 0 <= want <= 1_000_000
    g = rows[0]
    assert (g.n_classes, g.n_at_risk, g.max_emd_ppm) == (
        len(cells), n_risk, max_emd,
    )


def test_mcnemar_lang_classifiers_pure_python(spark, sf_dir):
    """The 2x2 paired cells reconcile with the two classifiers' own
    outputs, and the chi^2 matches the discordant-cell formula."""
    from beauty_lakehouse_spark.operators.text import (
        NB_TEST_MOD,
        q_lang_id,
        q_mcnemar_lang_classifiers,
        q_nb_lang_classifier,
    )

    row = q_mcnemar_lang_classifiers(spark, sf_dir).collect()[0]
    assert (
        row.n_docs
        == row.both_right
        + row.nb_only_right
        + row.lex_only_right
        + row.both_wrong
    )
    b, c = row.nb_only_right, row.lex_only_right
    assert row.chi2_ppm == (b - c) * (b - c) * 1_000_000 // max(b + c, 1)
    # FLOAT WITNESS: chi^2 tracks the float discordant-cell formula
    if b + c:
        assert abs(row.chi2_ppm / 1e6 - (b - c) ** 2 / (b + c)) <= 1e-6
    assert row.significant == (row.chi2_ppm > 3_841_600)
    # NB accuracy must equal the confusion-matrix entry's acc_ppm
    conf = q_nb_lang_classifier(spark, sf_dir).collect()
    assert row.nb_acc_ppm == conf[0].acc_ppm
    assert row.n_docs == sum(r.n_docs for r in conf)
    # lexicon accuracy from lang_id restricted to the test fold
    lex = [
        r
        for r in q_lang_id(spark, sf_dir).collect()
        if r.doc_id % NB_TEST_MOD == 0
    ]
    lex_right = sum(1 for r in lex if r.agree)
    assert row.lex_acc_ppm == lex_right * 1_000_000 // len(lex)
    assert row.both_right + row.lex_only_right == lex_right


def test_fleiss_kappa_langids_pure_python(spark, sf_dir):
    """S1/S2 and kappa match a direct recomputation from the three
    label streams; the float witness tracks kappa_milli."""
    from beauty_lakehouse_spark.operators.text import (
        NB_TEST_MOD,
        q_fleiss_kappa_langids,
        q_lang_id,
        nb_predictions,
        nb_token_grid,
    )
    from beauty_lakehouse_spark.catalog import load

    rows = q_fleiss_kappa_langids(spark, sf_dir).collect()
    g = rows[0]
    docs = load(spark, sf_dir).documents
    nbp = {
        r.doc_id: (r.true_lang, r.pred_lang)
        for r in nb_predictions(nb_token_grid(docs)).collect()
    }
    lex = {
        r.doc_id: r.pred_lang
        for r in q_lang_id(spark, sf_dir).collect()
        if r.doc_id % NB_TEST_MOD == 0
    }
    from collections import Counter

    s1 = 0
    cat_votes = Counter()
    for doc_id, (truth, nb) in nbp.items():
        votes = Counter([truth, nb, lex[doc_id]])
        s1 += sum(v * v for v in votes.values()) - 3
        cat_votes.update(votes)
    n_docs = len(nbp)
    s2 = sum(v * v for v in cat_votes.values())
    assert (g.n_docs, g.s1, g.s2) == (n_docs, s1, s2)
    num = 3 * n_docs * s1 - 2 * s2
    den = 18 * n_docs * n_docs - 2 * s2
    want = -((-num * 1000) // den) if num < 0 else (num * 1000) // den
    assert g.kappa_milli == want
    assert {r.category for r in rows} == set(cat_votes)
    for r in rows:
        assert r.n_votes == cat_votes[r.category]
    # FLOAT WITNESS
    pbar = s1 / (6 * n_docs)
    pe = s2 / (9 * n_docs * n_docs)
    kf = (pbar - pe) / (1 - pe)
    assert abs(g.kappa_milli / 1000 - kf) <= 2e-3


def test_order_metric_correlations_pure_python(spark, sf_dir):
    """Every pairwise moment set matches a direct recomputation, the
    matrix has all 6 pairs, and the float witness tracks r_milli —
    including an expected strong positive qty/n_items correlation."""
    import pandas as pd

    from beauty_lakehouse_spark.operators.warehouse import (
        q_order_metric_correlations,
    )

    rows = q_order_metric_correlations(spark, sf_dir).collect()
    assert len(rows) == 6

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    od = pd.read_parquet(f"{sf_dir}/orders.parquet")
    per = li.groupby("l_orderkey").agg(
        n_items=("l_partkey", "size"),
        qty=("l_quantity", "sum"),
        first_ship=("l_shipdate", "min"),
    )
    j = per.join(od.set_index("o_orderkey"), how="inner")
    mx = {
        "price100": [
            int(round(p * 100)) // 10_000 for p in j["o_totalprice"]
        ],
        "n_items": [int(v) for v in j["n_items"]],
        "qty": [int(v) for v in j["qty"]],
        "latency_days": [
            int((pd.Timestamp(s) - pd.Timestamp(o)).days)
            for s, o in zip(j["first_ship"], j["o_orderdate"])
        ],
    }
    n = len(j)
    for r in rows:
        xs, ys = mx[r.metric_a], mx[r.metric_b]
        assert r.metric_a < r.metric_b
        assert r.n_orders == n
        num = n * sum(a * b for a, b in zip(xs, ys)) - sum(xs) * sum(ys)
        den_a = n * sum(a * a for a in xs) - sum(xs) ** 2
        den_b = n * sum(b * b for b in ys) - sum(ys) ** 2
        assert (int(r.r_num), int(r.den_a), int(r.den_b)) == (
            num, den_a, den_b,
        )
        rho_f = num / (den_a * den_b) ** 0.5
        assert abs(r.r_milli / 1000 - rho_f) <= 2e-3
    strong = {
        (r.metric_a, r.metric_b): r.r_milli for r in rows
    }[("n_items", "qty")]
    assert strong > 500  # more items => more quantity, by construction


def test_cramers_v_matrix_pure_python(spark, sf_dir):
    """Each pair's chi^2 and V match a direct contingency-table
    recomputation; V is within [0, 1] and the float witness tracks
    v_milli."""
    from collections import Counter

    import pandas as pd

    from beauty_lakehouse_spark.operators.quality import q_cramers_v_matrix

    rows = {(r.col_a, r.col_b): r for r in q_cramers_v_matrix(spark, sf_dir).collect()}
    assert set(rows) == {
        ("segment", "priority"), ("priority", "region"), ("segment", "region"),
    }
    od = pd.read_parquet(f"{sf_dir}/orders.parquet")
    cu = pd.read_parquet(f"{sf_dir}/customer.parquet")
    na = pd.read_parquet(f"{sf_dir}/nation.parquet")
    j = od.merge(cu, left_on="o_custkey", right_on="c_custkey").merge(
        na, left_on="c_nationkey", right_on="n_nationkey"
    )
    cols = {
        "segment": list(j["c_mktsegment"]),
        "priority": list(j["o_orderpriority"]),
        "region": [str(v) for v in j["n_regionkey"]],
    }
    for (a, b), r in rows.items():
        xs, ys = cols[a], cols[b]
        n = len(xs)
        cells = Counter(zip(xs, ys))
        rt = Counter(xs)
        ct = Counter(ys)
        chi2 = sum(
            ((o * n - rt[x] * ct[y]) ** 2 * 1_000_000)
            // (rt[x] * ct[y] * n)
            for (x, y), o in cells.items()
        )
        assert (r.n_total, r.chi2_micro) == (n, chi2)
        assert (r.n_rows_a, r.n_cols_b) == (len(rt), len(ct))
        k = min(len(rt), len(ct)) - 1
        assert r.v2_ppm == chi2 // (n * k)
        assert 0 <= r.v_milli <= 1000
        v_f = (chi2 / 1e6 / (n * k)) ** 0.5
        assert abs(r.v_milli / 1000 - v_f) <= 2e-3


def test_revenue_changepoint_pure_python(spark, sf_dir):
    """The top-3 splits match a direct scan of every candidate split's
    integer BSS, and the reported means are the exact half-up segment
    means."""
    import pandas as pd

    from beauty_lakehouse_spark.operators.warehouse import (
        q_revenue_changepoint,
    )

    rows = sorted(
        q_revenue_changepoint(spark, sf_dir).collect(), key=lambda r: r.rank
    )
    od = pd.read_parquet(
        f"{sf_dir}/orders.parquet", columns=["o_orderdate", "o_totalprice"]
    )
    od["cents"] = (od["o_totalprice"] * 100).round().astype(int)
    daily = sorted(
        od.groupby(od["o_orderdate"].astype("datetime64[ns]").dt.date)[
            "cents"
        ].sum().items()
    )
    n = len(daily)
    s_all = sum(c for _, c in daily)
    cand = []
    cum = 0
    for t, (day, c) in enumerate(daily[:-1], start=1):
        cum += c
        dev = cum * n - s_all * t
        cand.append((-(dev * dev // (t * (n - t))), day, t, cum))
    cand.sort()
    for r, (neg_bss, day, t, cum) in zip(rows, cand[:3]):
        assert (r.split_day, r.t_idx, int(r.bss_q)) == (
            str(day), t, -neg_bss,
        )
        mb = ((cum * 200 + t) // (2 * t)) / 100
        ma = (((s_all - cum) * 200 + (n - t)) // (2 * (n - t))) / 100
        assert (r.mean_before, r.mean_after) == (mb, ma)
        assert abs(r.shift - (ma - mb)) < 1e-9
    assert rows[0].n_days == n


def test_vocab_richness_pure_python(spark, sf_dir):
    """All count-of-counts inputs and the three estimators match a
    direct recomputation over the bigram stream; the float witnesses
    track the textbook formulas."""
    from collections import Counter

    import pandas as pd

    from beauty_lakehouse_spark.operators.text import q_vocab_richness

    [r] = q_vocab_richness(spark, sf_dir).collect()
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    cnt = Counter()
    for text in docs["text"]:
        toks = text.split(" ")
        for a, b in zip(toks, toks[1:]):
            cnt[a + " " + b] += 1
    n = sum(cnt.values())
    rs = list(cnt.values())
    f1 = sum(1 for x in rs if x == 1)
    f2 = sum(1 for x in rs if x == 2)
    s2 = sum(x * x for x in rs)
    rep = sum(x * (x - 1) for x in rs)
    assert (r.n_tokens, r.vocab, r.f1, r.f2, r.max_r) == (
        n, len(rs), f1, f2, max(rs),
    )
    assert r.chao1_milli == len(rs) * 1000 + f1 * (f1 - 1) * 1000 // (
        2 * (f2 + 1)
    )
    assert r.yule_k_milli == (s2 - n) * 10_000_000 // (n * n)
    assert r.simpson_ppm == rep * 1_000_000 // (n * (n - 1))
    # FLOAT WITNESS: the milli/ppm floors track the float formulas
    assert abs(r.chao1_milli / 1e3 - (len(rs) + f1 * (f1 - 1) / (2 * (f2 + 1)))) <= 1e-3
    assert abs(r.yule_k_milli / 1e3 - 1e4 * (s2 - n) / n**2) <= 1e-3
    assert abs(r.simpson_ppm / 1e6 - rep / (n * (n - 1))) <= 1e-6
    # richness sanity: Chao1 never below the observed vocabulary,
    # live singleton region on the fixtures
    assert r.chao1_milli >= r.vocab * 1000
    assert r.f1 > 0


def test_cochran_armitage_pure_python(spark, sf_dir):
    """Grid counts and the trend statistic match a direct
    recomputation; the float witness tracks the textbook Z^2."""
    import pandas as pd

    from beauty_lakehouse_spark.operators.quality import (
        CA_CHI2_95_MILLI,
        q_cochran_armitage_trend,
    )

    rows = sorted(
        q_cochran_armitage_trend(spark, sf_dir).collect(),
        key=lambda r: r.score,
    )
    li = pd.read_parquet(
        f"{sf_dir}/lineitem.parquet", columns=["l_orderkey", "l_returnflag"]
    )
    ret = set(li.loc[li["l_returnflag"] == "R", "l_orderkey"])
    od = pd.read_parquet(
        f"{sf_dir}/orders.parquet", columns=["o_orderkey", "o_orderpriority"]
    )
    grid = {}
    for ok, pri in zip(od["o_orderkey"], od["o_orderpriority"]):
        n, r = grid.get(pri, (0, 0))
        grid[pri] = (n + 1, r + (ok in ret))
    assert len(rows) == len(grid)
    for row in rows:
        n, r = grid[row.priority]
        assert (row.n_orders, row.n_returned) == (n, r)
        assert row.score == int(row.priority[0])
        assert row.rate_ppm == r * 1_000_000 // n
    n_tot = sum(n for n, _ in grid.values())
    r_tot = sum(r for _, r in grid.values())
    ssn = sum(int(p[0]) * n for p, (n, _) in grid.items())
    ss2n = sum(int(p[0]) ** 2 * n for p, (n, _) in grid.items())
    ssr = sum(int(p[0]) * r for p, (_, r) in grid.items())
    diff = n_tot * ssr - r_tot * ssn
    den = r_tot * (n_tot - r_tot) * (n_tot * ss2n - ssn * ssn)
    g = rows[0]
    assert (g.n_total, g.r_total) == (n_tot, r_tot)
    assert g.trend_sign == (diff > 0) - (diff < 0)
    assert g.z2_milli == n_tot * diff * diff * 1000 // den
    assert g.significant == (g.z2_milli > CA_CHI2_95_MILLI)
    # FLOAT WITNESS: z2 tracks the float closed form
    assert abs(g.z2_milli / 1e3 - n_tot * diff**2 / den) <= 1e-3


def test_logrank_segments_pure_python(spark, sf_dir):
    """The hypergeometric E/V ledger and chi^2 match a direct python
    log-rank on the same subjects; the float witness tracks the
    textbook statistic on the quantized sums."""
    from collections import defaultdict

    import pandas as pd

    from beauty_lakehouse_spark.operators.events import (
        LOGRANK_CHI2_95_MILLI,
        LOGRANK_SEG,
        q_logrank_segments,
    )

    rows = {r.segment: r for r in q_logrank_segments(spark, sf_dir).collect()}
    od = pd.read_parquet(f"{sf_dir}/orders.parquet")
    cu = pd.read_parquet(
        f"{sf_dir}/customer.parquet", columns=["c_custkey", "c_mktsegment"]
    )
    seg = dict(zip(cu["c_custkey"], cu["c_mktsegment"]))
    od = od.sort_values(["o_custkey", "o_orderdate", "o_orderkey"])
    per = defaultdict(list)
    for ck, dt in zip(od["o_custkey"], pd.to_datetime(od["o_orderdate"])):
        if len(per[ck]) < 2:
            per[ck].append(dt.date())
    gmax = max(pd.to_datetime(od["o_orderdate"])).date()
    subjects = []  # (t_days, cen, grp)
    for ck, ds in per.items():
        grp = 1 if seg[ck] == LOGRANK_SEG else 0
        if len(ds) == 2:
            subjects.append(((ds[1] - ds[0]).days, 0, grp))
        else:
            subjects.append(((gmax - ds[0]).days, 1, grp))
    grid = defaultdict(lambda: [0, 0, 0, 0])  # d1 d0 c1 c0
    for td, cen, grp in subjects:
        grid[td][2 * cen + (1 - grp)] += 1
    o1 = o0 = e1 = e0 = v = 0
    n1 = sum(1 for _t, _c, g in subjects if g == 1)
    n0 = len(subjects) - n1
    r1, r0 = n1, n0
    for td in sorted(grid):
        d1, d0, c1, c0 = grid[td]
        n = r1 + r0
        d = d1 + d0
        if d > 0:
            o1 += d1
            o0 += d0
            e1 += d * r1 * 1_000_000 // n
            e0 += d * r0 * 1_000_000 // n
            if n > 1:
                v += d * (n - d) * r1 * r0 * 1_000_000 // (n * n * (n - 1))
        r1 -= d1 + c1
        r0 -= d0 + c0
    a = rows[LOGRANK_SEG]
    b = rows["OTHER"]
    assert (a.n_subjects, b.n_subjects) == (n1, n0)
    assert (a.n_events, b.n_events) == (o1, o0)
    assert (a.e_events_micro, b.e_events_micro) == (e1, e0)
    assert a.v_micro == v
    diff = o1 * 1_000_000 - e1
    want_chi2 = diff * diff * 1000 // (v * 1_000_000)
    assert a.chi2_milli == b.chi2_milli == want_chi2
    assert a.significant == (want_chi2 > LOGRANK_CHI2_95_MILLI)
    # FLOAT WITNESS: chi2 tracks (O-E)^2/V on the quantized sums
    assert abs(a.chi2_milli / 1e3 - (o1 - e1 / 1e6) ** 2 / (v / 1e6)) <= 2e-3
    # the ledger is conservative: E1+E0 within quantization of O1+O0
    assert abs((e1 + e0) - (o1 + o0) * 1_000_000) <= len(grid) * 2


def test_ams_f2_pure_python(spark, sf_dir):
    """Counters, group means, median-of-means estimate, and the exact
    F2 all match a direct recomputation with the reference hash
    mixer; the float witness tracks the relative error."""
    import hashlib
    from collections import Counter

    import pandas as pd

    from beauty_lakehouse_spark.operators.quality import (
        AMS_K,
        AMS_R,
        q_ams_f2_estimate,
    )
    from tests.test_quality import _splitmix60_py

    rows = sorted(q_ams_f2_estimate(spark, sf_dir).collect(),
                  key=lambda r: r.j)
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    cnt = Counter()
    for text in docs["text"]:
        toks = text.split(" ")
        for a, b in zip(toks, toks[1:]):
            cnt[a + " " + b] += 1
    xs = [0] * AMS_R
    for term, f in cnt.items():
        seed = int(hashlib.md5(term.encode()).hexdigest()[:15], 16)
        for j in range(AMS_R):
            s = _splitmix60_py(seed, j) % 2 * 2 - 1
            xs[j] += s * f
    f2 = sum(f * f for f in cnt.values())
    assert [r.x_j for r in rows] == xs
    assert all(r.x2 == r.x_j * r.x_j for r in rows)
    means = sorted(
        sum(x * x for x in xs[g * AMS_K:(g + 1) * AMS_K]) // AMS_K
        for g in range(AMS_R // AMS_K)
    )
    est = (means[1] + means[2]) // 2
    g = rows[0]
    assert (g.f2_exact, g.f2_est) == (f2, est)
    assert g.rel_err_ppm == abs(est - f2) * 1_000_000 // f2
    # FLOAT WITNESS: the estimator is unbiased-ish in practice —
    # median-of-means within 50% of exact on the fixture, and the
    # ppm floor tracks the float relative error
    assert abs(g.rel_err_ppm / 1e6 - abs(est - f2) / f2) <= 1e-6
    assert abs(est - f2) / f2 < 0.5


def test_hits_pure_python(spark, sf_dir):
    """Every emitted score matches a direct python HITS with the same
    max-normalized integer rounds; the float witness checks the
    integer trajectory tracks float HITS rankings at the top."""
    from collections import defaultdict

    import pandas as pd

    from beauty_lakehouse_spark.operators.graph import (
        HITS_ROUNDS,
        HITS_SCALE,
        HITS_TOP,
        q_hits_hubs_authorities,
    )

    rows = q_hits_hubs_authorities(spark, sf_dir).collect()
    od = pd.read_parquet(
        f"{sf_dir}/orders.parquet", columns=["o_orderkey", "o_custkey"]
    )
    li = pd.read_parquet(
        f"{sf_dir}/lineitem.parquet", columns=["l_orderkey", "l_partkey"]
    )
    j = li.merge(od, left_on="l_orderkey", right_on="o_orderkey")
    edges = set(zip(j["o_custkey"], j["l_partkey"]))
    by_c = defaultdict(list)
    by_p = defaultdict(list)
    for c, p in edges:
        by_c[c].append(p)
        by_p[p].append(c)
    h = {c: HITS_SCALE for c in by_c}
    a = {}
    hf = {c: 1.0 for c in by_c}
    af = {}
    for _ in range(HITS_ROUNDS):
        a = {p: sum(h[c] for c in cs) for p, cs in by_p.items()}
        mx = max(a.values())
        a = {p: v * HITS_SCALE // mx for p, v in a.items()}
        h = {c: sum(a[p] for p in ps) for c, ps in by_c.items()}
        mx = max(h.values())
        h = {c: v * HITS_SCALE // mx for c, v in h.items()}
        af = {p: sum(hf[c] for c in cs) for p, cs in by_p.items()}
        mxf = max(af.values())
        af = {p: v / mxf for p, v in af.items()}
        hf = {c: sum(af[p] for p in ps) for c, ps in by_c.items()}
        mxf = max(hf.values())
        hf = {c: v / mxf for c, v in hf.items()}
    hubs = [r for r in rows if r.kind == "hub"]
    auts = [r for r in rows if r.kind == "authority"]
    assert len(hubs) == len(auts) == HITS_TOP
    want_h = sorted(h.items(), key=lambda kv: (-kv[1], kv[0]))[:HITS_TOP]
    want_a = sorted(a.items(), key=lambda kv: (-kv[1], kv[0]))[:HITS_TOP]
    assert [(r.node_id, r.score_micro) for r in hubs] == [
        (int(c), v) for c, v in want_h
    ]
    assert [(r.node_id, r.score_micro) for r in auts] == [
        (int(p), v) for p, v in want_a
    ]
    assert [r.rank for r in hubs] == list(range(1, HITS_TOP + 1))
    # FLOAT WITNESS: integer scores track float HITS within the
    # accumulated floor error (1 ppm per rescale per round)
    for r in auts:
        assert abs(r.score_micro / HITS_SCALE - af[r.node_id]) <= 1e-4
    for r in hubs:
        assert abs(r.score_micro / HITS_SCALE - hf[r.node_id]) <= 1e-4


def test_query_likelihood_pure_python(spark, sf_dir):
    """Rankings and scores match a direct recomputation of the
    Dirichlet-smoothed QL with the reference ln_micro quantization;
    the float witness tracks the float log-likelihood."""
    import math
    from collections import Counter, defaultdict

    import pandas as pd

    from beauty_lakehouse_spark.operators.text import (
        QL_MU,
        QL_TOPK,
        q_query_likelihood_lm,
    )
    def _ln_micro_py(num: int, den: int) -> int:
        q = num // den
        e = q.bit_length() - 1
        x = ((num << 30) // den) >> e
        acc = 0
        for _ in range(16):
            x2 = (x * x) >> 30
            if x2 >= 1 << 31:
                x, acc = x2 >> 1, acc * 2 + 1
            else:
                x, acc = x2, acc * 2
        return ((e * (1 << 16) + acc) * 693147) >> 16

    rows = q_query_likelihood_lm(spark, sf_dir).collect()
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    tf = defaultdict(Counter)
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        for w in text.split(" "):
            if w:
                tf[doc_id][w] += 1
    dl = {d: sum(c.values()) for d, c in tf.items()}
    big = sum(dl.values())
    dfc = Counter()
    ctf = Counter()
    for c in tf.values():
        for w, n in c.items():
            dfc[w] += 1
            ctf[w] += n
    top = sorted(dfc, key=lambda w: (-dfc[w], w))[:20]
    scores = defaultdict(dict)
    floats = defaultdict(dict)
    for rk, term in enumerate(top):
        qid = rk // 4
        p_ppm = ctf[term] * 1_000_000 // big
        for d in dl:
            t = tf[d].get(term, 0)
            num = max(t * 1_000_000 + QL_MU * p_ppm, 1)
            den = (dl[d] + QL_MU) * 1_000_000
            scores[qid][d] = scores[qid].get(d, 0) - _ln_micro_py(den, num)
            floats[qid][d] = floats[qid].get(d, 0.0) + math.log(num / den)
    by_q = defaultdict(list)
    for r in rows:
        by_q[r.query_id].append(r)
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r.rk)
        want = sorted(
            scores[qid].items(), key=lambda kv: (-kv[1], kv[0])
        )[:QL_TOPK]
        assert [(r.doc_id, r.ql_micro) for r in rs] == [
            (int(d), s) for d, s in want
        ]
        for r in rs:
            assert r.n_terms_hit == sum(
                1 for t in top[qid * 4:(qid + 1) * 4] if tf[r.doc_id].get(t)
            )
            # FLOAT WITNESS: quantized micro-nats track float QL
            # (4 ln_micro evaluations, ~1e-4 nats each)
            assert abs(
                r.ql_micro / 1e6 - floats[qid][r.doc_id]
            ) <= 5e-4


def test_effective_diameter_consistent(spark, sf_dir):
    """Derivation checks against the (already oracle-verified)
    neighborhood function: coverage ratios, the crossing round, and
    the interpolated milli value; float witness on the interpolation."""
    from beauty_lakehouse_spark.operators.graph import (
        HB_ROUNDS,
        q_effective_diameter,
        q_hyperball_neighborhood,
    )

    rows = sorted(
        q_effective_diameter(spark, sf_dir).collect(), key=lambda r: r.round
    )
    nf = {
        r.round: r.sum_ball_est
        for r in q_hyperball_neighborhood(spark, sf_dir).collect()
    }
    nf_max = nf[HB_ROUNDS]
    assert [r.round for r in rows] == list(range(HB_ROUNDS + 1))
    reached = [r for r in sorted(nf) if nf[r] * 10 >= nf_max * 9]
    r_star = reached[0]
    g = rows[0]
    assert g.nf_max == nf_max
    assert g.eff_diameter_r == r_star
    for r in rows:
        assert r.sum_ball_est == nf[r.round]
        assert r.coverage_ppm == nf[r.round] * 1_000_000 // nf_max
        assert r.reached == (nf[r.round] * 10 >= nf_max * 9)
    if r_star == 0:
        assert g.eff_diameter_milli == 0
    else:
        prev, cur = nf[r_star - 1], nf[r_star]
        want = (r_star - 1) * 1000 + (nf_max * 9 - prev * 10) * 1000 // (
            (cur - prev) * 10
        )
        assert g.eff_diameter_milli == want
        # FLOAT WITNESS: integer interpolation tracks the float form
        f = (r_star - 1) + (0.9 * nf_max - prev) / (cur - prev)
        assert abs(g.eff_diameter_milli / 1e3 - f) <= 2e-3
    # monotone coverage, bracketing invariant
    cov = [r.coverage_ppm for r in rows]
    assert cov == sorted(cov)
    assert g.eff_diameter_milli <= g.eff_diameter_r * 1000


def test_effective_diameter_reads_a_materialized_profile(spark, sf_dir):
    """The HyperBall profile is materialized once, before any job of
    the result reads it. The nf_max broadcast and the main branch run
    at once, and both computed a lazy checkpoint's partition (Spark
    logged ``Block rdd_… already exists``). Every RDD the built plan
    reads is already checkpointed."""
    from beauty_lakehouse_spark.operators.graph import q_effective_diameter

    df = q_effective_diameter(spark, sf_dir)
    leaves = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    rdds = []
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.nodeName() == "LogicalRDD":
            rdds.append(leaf.rdd())
    assert rdds
    assert all(rdd.isCheckpointed() for rdd in rdds)


def test_isotonic_calibration_pava(spark, sf_dir):
    """The minimax fit equals classic pool-adjacent-violators run in
    pure python on the same (already oracle-verified) reliability
    bins; monotone by construction; float witness via PAVA means."""
    from beauty_lakehouse_spark.operators.similarity import (
        q_calibration_report,
        q_isotonic_calibration,
    )

    rows = sorted(
        q_isotonic_calibration(spark, sf_dir).collect(),
        key=lambda r: r.votes,
    )
    rep = sorted(
        q_calibration_report(spark, sf_dir).collect(),
        key=lambda r: r.votes,
    )
    assert [(r.votes, r.n, r.n_correct) for r in rows] == [
        (r.votes, r.n, r.n_correct) for r in rep
    ]
    # classic PAVA: merge adjacent blocks while means decrease
    blocks = [[r.n, r.n_correct] for r in rep]  # [weight, sum]
    i = 0
    while i < len(blocks) - 1:
        n1, c1 = blocks[i]
        n2, c2 = blocks[i + 1]
        if c1 * n2 > c2 * n1:  # mean_i > mean_{i+1}: pool
            blocks[i] = [n1 + n2, c1 + c2]
            del blocks[i + 1]
            i = max(i - 1, 0)
        else:
            i += 1
    expanded = [(n, c) for n, c in blocks]
    # walk original bins assigning block means by cumulative weight
    iso_want = []
    bi = 0
    acc_w = 0
    blk_w = expanded[0][0]
    for r in rep:
        iso_want.append(
            expanded[bi][1] * 10**12 // expanded[bi][0] // 10**6
        )
        acc_w += r.n
        if acc_w >= blk_w and bi < len(expanded) - 1:
            bi += 1
            blk_w += expanded[bi][0]
    assert [r.iso_micro for r in rows] == iso_want
    # monotone non-decreasing fit
    iso = [r.iso_micro for r in rows]
    assert iso == sorted(iso)
    inv_want = sum(
        1
        for a, b in zip(rep, rep[1:])
        if b.acc_permille < a.acc_permille
    )
    assert rows[0].n_inversions == inv_want
    # FLOAT WITNESS: each emitted value tracks its block's float mean
    bi = 0
    acc_w = 0
    blk_w = expanded[0][0]
    for r in rows:
        n, c = expanded[bi]
        assert abs(r.iso_micro / 1e6 - c / n) <= 1e-6
        acc_w += r.n
        if acc_w >= blk_w and bi < len(expanded) - 1:
            bi += 1
            blk_w += expanded[bi][0]


def test_dp_event_histogram_mechanism(spark, sf_dir):
    """Noise matches the pure-python inverse CDF on the same seeds;
    the mechanism's LAW is pinned on a dense synthetic u-grid: exact
    two-sided geometric masses P(k) = (1/3)/2^|k| (float witness via
    math.exp of the epsilon) and symmetry."""
    import hashlib
    import math
    from collections import Counter

    import pandas as pd

    from beauty_lakehouse_spark.operators.quality import (
        q_dp_event_histogram,
    )
    from tests.test_quality import _splitmix60_py

    def draw(u: int) -> int:
        if 3 * u < 1 << 60:
            return (3 * u).bit_length() - 61
        if 3 * u >= 1 << 61:
            return 61 - (3 * ((1 << 60) - u) - 1).bit_length()
        return 0

    rows = q_dp_event_histogram(spark, sf_dir).collect()
    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_type"])
    true = Counter(ev["event_type"])
    assert len(rows) == len(true)
    for r in rows:
        assert r.n_true == true[r.event_type]
        seed = int(
            hashlib.md5(r.event_type.encode()).hexdigest()[:15], 16
        )
        k = draw(_splitmix60_py(seed, 0))
        assert r.noise == k
        assert r.n_released == max(r.n_true + k, 0)
        assert r.epsilon_milli == 693
    # mechanism law on a dense grid: P(k) exactly (1/3)*2^-|k| for
    # every |k| <= 8 when u sweeps a power-of-two subgrid
    n_grid = 3 * (1 << 16)
    cnt = Counter(
        draw(u * ((1 << 60) // n_grid)) for u in range(n_grid)
    )
    # exact masses on the subgrid for small |k| (the grid divides
    # the binary thresholds evenly through |k| <= 8)
    for k in range(-8, 9):
        assert abs(cnt[k] / n_grid - (1 / 3) * 2 ** -abs(k)) < 1e-4
    # FLOAT WITNESS: the law satisfies the eps-DP ratio bound with
    # eps = ln 2 = 0.693...: P(k)/P(k+1) == exp(eps)
    eps = 693 / 1000
    assert abs(cnt[2] / cnt[3] - math.exp(math.log(2))) < 0.01
    assert math.isclose(math.log(2), eps, abs_tol=2e-4)


def test_textrank_pure_python(spark, sf_dir):
    """Ranks match a direct python fixed-point PageRank on the same
    co-occurrence graph; the float witness tracks float PageRank."""
    from collections import Counter, defaultdict

    import pandas as pd

    from beauty_lakehouse_spark.operators.text import (
        TEXTRANK_MIN_COOC,
        TEXTRANK_TOP,
        q_textrank_keywords,
    )

    rows = q_textrank_keywords(spark, sf_dir).collect()
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    cnt = Counter()
    for text in docs["text"]:
        toks = text.split(" ")
        for a, b in zip(toks, toks[1:]):
            if a and b and a != b:
                cnt[(min(a, b), max(a, b))] += 1
    edges = {e: c for e, c in cnt.items() if c >= TEXTRANK_MIN_COOC}
    adj = defaultdict(dict)
    for (a, b), c in edges.items():
        adj[a][b] = c
        adj[b][a] = c
    out_w = {v: sum(nb.values()) for v, nb in adj.items()}
    scale = 10**12
    tele = 15 * scale // 100
    rank = {v: scale for v in adj}
    rank_f = {v: 1.0 for v in adj}
    for _ in range(8):
        contrib = defaultdict(int)
        contrib_f = defaultdict(float)
        for v, nb in adj.items():
            for u, w in nb.items():
                contrib[u] += rank[v] * w // out_w[v]
                contrib_f[u] += rank_f[v] * w / out_w[v]
        rank = {v: tele + 85 * contrib[v] // 100 for v in adj}
        rank_f = {v: 0.15 + 0.85 * contrib_f[v] for v in adj}
    want = sorted(rank.items(), key=lambda kv: (-kv[1], kv[0]))[
        :TEXTRANK_TOP
    ]
    assert [(r.term, r.rank) for r in rows] == want
    # FLOAT WITNESS: integer trillionths track float PageRank
    for r in rows:
        assert abs(r.rank / scale - rank_f[r.term]) <= 1e-6 * 8 * 10
    # ranking is non-degenerate: scores vary
    assert len({r.rank for r in rows}) > 5


def test_count_sketch_pure_python(spark, sf_dir):
    """Cells, medians, and signed errors match a direct recomputation
    with the reference hash; unbiasedness shows as BOTH error signs
    across a probe sweep; float witness on the median estimate."""
    import hashlib
    from collections import Counter, defaultdict

    import pandas as pd

    from beauty_lakehouse_spark.operators.quality import (
        CS_D,
        CS_TOP_TERMS,
        CS_W,
        q_count_sketch_estimates,
    )

    def h(r, term):
        s = f"cs:{r}:{term}"
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    rows = q_count_sketch_estimates(spark, sf_dir).collect()
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    cnt = Counter()
    for text in docs["text"]:
        toks = text.split(" ")
        for a, b in zip(toks, toks[1:]):
            cnt[a + " " + b] += 1
    cells = defaultdict(int)
    for term, f in cnt.items():
        for r in range(CS_D):
            hv = h(r, term)
            cells[(r, hv % CS_W)] += (((hv >> 7) % 2) * 2 - 1) * f
    top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:CS_TOP_TERMS]
    assert len(rows) == CS_TOP_TERMS
    assert [(r.term, r.n_exact) for r in rows] == top
    for r in rows:
        ests = sorted(
            ((((h(d, r.term) >> 7) % 2) * 2 - 1)
             * cells[(d, h(d, r.term) % CS_W)])
            for d in range(CS_D)
        )
        want = ests[CS_D // 2]
        assert r.n_cs == want
        assert r.err == want - r.n_exact
        # FLOAT WITNESS: the median estimate lands within the
        # guaranteed L2 deviation band (||f||_2 easily bounds it)
        l2 = sum(f * f for f in cnt.values()) ** 0.5
        assert abs(r.n_cs - r.n_exact) <= 3 * l2 / (CS_W ** 0.5) + 1
    # unbiased: the error is signed (not the CMS one-sided bias) —
    # at least one probe in each direction or exactly zero overall
    errs = [r.err for r in rows]
    assert min(errs) <= 0 <= max(errs)


def test_burrows_delta_pure_python(spark, sf_dir):
    """z-like scores and the pair matrix match a direct recomputation;
    the float witness checks the zq = z*1e6/sqrt(k) identity and that
    Delta distances track the float Burrows' Delta up to the shared
    constant."""
    import math
    from collections import Counter, defaultdict

    import pandas as pd

    from beauty_lakehouse_spark.operators.text import (
        STYLO_TERMS,
        q_burrows_delta,
    )

    rows = q_burrows_delta(spark, sf_dir).collect()
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    cnt = defaultdict(Counter)
    tot = Counter()
    corp = Counter()
    for src, text in zip(docs["source"], docs["text"]):
        for w in text.split(" "):
            if w:
                cnt[src][w] += 1
                tot[src] += 1
                corp[w] += 1
    sources = sorted(cnt)
    k = len(sources)
    top = sorted(corp, key=lambda w: (-corp[w], w))[:STYLO_TERMS]
    f = {
        (s, t): cnt[s].get(t, 0) * 1_000_000 // tot[s]
        for s in sources
        for t in top
    }
    zq = {}
    zf = {}
    for t in top:
        vals = [f[(s, t)] for s in sources]
        S = sum(vals)
        s2 = sum(v * v for v in vals)
        den = math.isqrt(k * (k * s2 - S * S))
        mu = S / k
        sigma = math.sqrt(max(s2 / k - mu * mu, 0))
        for s in sources:
            dev = k * f[(s, t)] - S
            if den > 0:
                zq[(s, t)] = (
                    -((-dev * 1_000_000) // den)
                    if dev < 0
                    else dev * 1_000_000 // den
                )
            else:
                zq[(s, t)] = 0
            zf[(s, t)] = (f[(s, t)] - mu) / sigma if sigma else 0.0
            # FLOAT WITNESS: zq == z * 1e6 / sqrt(k) up to flooring
            assert abs(
                zq[(s, t)] - zf[(s, t)] * 1_000_000 / math.sqrt(k)
            ) <= 1.5
    got = {(r.source_a, r.source_b): r for r in rows}
    assert len(got) == k * (k - 1) // 2
    for i, a in enumerate(sources):
        for b in sources[i + 1:]:
            r = got[(a, b)]
            assert r.n_terms == len(top)
            want = sum(
                abs(zq[(a, t)] - zq[(b, t)]) for t in top
            ) // len(top)
            assert r.delta_micro == want
            delta_f = sum(
                abs(zf[(a, t)] - zf[(b, t)]) for t in top
            ) / len(top)
            assert abs(
                r.delta_micro / (1_000_000 / math.sqrt(k)) - delta_f
            ) <= 1e-4
    # the matrix discriminates: distances vary across pairs
    assert len({r.delta_micro for r in rows}) > 10


def test_keyness_llr_pure_python(spark, sf_dir):
    """The full scored table (not just the emitted top-20) matches a
    direct recomputation on the quantized ppm masses; the float
    witness tracks the textbook Dunning G^2 on the same masses."""
    import math
    from collections import Counter

    import pandas as pd

    from beauty_lakehouse_spark.operators.text import (
        KEYNESS_TOP,
        q_keyness_llr,
    )

    def lnm(num, den):
        q = num // den
        e = q.bit_length() - 1
        x = ((num << 30) // den) >> e
        acc = 0
        for _ in range(16):
            x2 = (x * x) >> 30
            if x2 >= 1 << 31:
                x, acc = x2 >> 1, acc * 2 + 1
            else:
                x, acc = x2, acc * 2
        return ((e * (1 << 16) + acc) * 693147) >> 16

    rows = q_keyness_llr(spark, sf_dir).collect()
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    ca, cb = Counter(), Counter()
    for src, text in zip(docs["source"], docs["text"]):
        tgt = ca if len(src) == 4 else cb
        for w in text.split(" "):
            if w:
                tgt[w] += 1
    na, nb = sum(ca.values()), sum(cb.values())
    n = na + nb
    scored = {}
    fl = {}
    for t in set(ca) | set(cb):
        a, b = ca.get(t, 0), cb.get(t, 0)
        p_a = max(a * 1_000_000 // na, 1)
        p_b = max(b * 1_000_000 // nb, 1)
        p_p = max((a + b) * 1_000_000 // n, 1)

        def sln(cnt, num, den):
            if cnt == 0:
                return 0
            return cnt * lnm(num, den) if num >= den else -(
                cnt * lnm(den, num)
            )

        scored[t] = (
            2 * (sln(a, p_a, p_p) + sln(b, p_b, p_p)),
            a,
            b,
            "A" if p_a >= p_p else "B",
        )
        fl[t] = 2 * (
            (a * math.log(p_a / p_p) if a else 0.0)
            + (b * math.log(p_b / p_p) if b else 0.0)
        )
    want = sorted(scored.items(), key=lambda kv: (-kv[1][0], kv[0]))[
        :KEYNESS_TOP
    ]
    assert [(r.term, r.llr_micro, r.n_a, r.n_b, r.overused_in)
            for r in rows] == [
        (t, s, a, b, d) for t, (s, a, b, d) in want
    ]
    # FLOAT WITNESS: quantized G^2 tracks the float G^2 on the same
    # masses (ln_micro ~1e-4 nats per evaluation, scaled by counts)
    for r in rows:
        tol = 2 * (r.n_a + r.n_b) * 2.5e-4 + 1e-3
        assert abs(r.llr_micro / 1e6 - fl[r.term]) <= tol
    # keyness discriminates: both directions appear in the corpus
    dirs = {d for _t, (_s, _a, _b, d) in scored.items()}
    assert dirs == {"A", "B"}


def test_hill_tail_index_pure_python(spark, sf_dir):
    """Order statistics, ln ratios, and alpha match a direct
    recomputation; the float witness tracks the float Hill MLE."""
    import math

    import pandas as pd

    from beauty_lakehouse_spark.operators.warehouse import (
        HILL_K,
        q_hill_tail_index,
    )

    def lnm(num, den):
        q = num // den
        e = q.bit_length() - 1
        x = ((num << 30) // den) >> e
        acc = 0
        for _ in range(16):
            x2 = (x * x) >> 30
            if x2 >= 1 << 31:
                x, acc = x2 >> 1, acc * 2 + 1
            else:
                x, acc = x2, acc * 2
        return ((e * (1 << 16) + acc) * 693147) >> 16

    rows = sorted(
        q_hill_tail_index(spark, sf_dir).collect(), key=lambda r: r.rank
    )
    od = pd.read_parquet(
        f"{sf_dir}/orders.parquet", columns=["o_orderkey", "o_totalprice"]
    )
    cents = sorted(
        (
            (round(round(tp, 2) * 100), int(ok))
            for ok, tp in zip(od["o_orderkey"], od["o_totalprice"])
        ),
        key=lambda t: (-t[0], t[1]),
    )
    anchor = cents[HILL_K][0]
    assert len(rows) == HILL_K
    s = 0
    for i, r in enumerate(rows):
        assert (r.rank, r.cents) == (i + 1, cents[i][0])
        assert r.x_anchor_cents == anchor
        assert r.ln_ratio_micro == lnm(r.cents, anchor)
        s += r.ln_ratio_micro
    g = rows[0]
    assert g.alpha_milli == HILL_K * 10**9 // s
    assert g.infinite_variance == (g.alpha_milli <= 2000)
    # FLOAT WITNESS: alpha tracks the float Hill estimator
    alpha_f = HILL_K / sum(
        math.log(c / anchor) for c, _k in cents[:HILL_K]
    )
    assert abs(g.alpha_milli / 1e3 - alpha_f) <= 0.05
    # spend tails are bounded-support here: alpha should be finite
    # and positive
    assert g.alpha_milli > 0


def test_theil_u_pure_python(spark, sf_dir):
    """Entropy ledgers and U match a direct recomputation on the
    count identity; float witness via Shannon entropies; asymmetry
    is live on the fixture."""
    import math
    from collections import Counter

    import pandas as pd

    from beauty_lakehouse_spark.operators.quality import q_theil_u_matrix

    def lnm(num):
        if num == 1:
            return 0
        den = 1
        q = num // den
        e = q.bit_length() - 1
        x = ((num << 30) // den) >> e
        acc = 0
        for _ in range(16):
            x2 = (x * x) >> 30
            if x2 >= 1 << 31:
                x, acc = x2 >> 1, acc * 2 + 1
            else:
                x, acc = x2, acc * 2
        return ((e * (1 << 16) + acc) * 693147) >> 16

    rows = {(r.col_x, r.col_y): r for r in
            q_theil_u_matrix(spark, sf_dir).collect()}
    assert len(rows) == 6
    od = pd.read_parquet(f"{sf_dir}/orders.parquet")
    cu = pd.read_parquet(f"{sf_dir}/customer.parquet")
    na = pd.read_parquet(f"{sf_dir}/nation.parquet")
    j = od.merge(cu, left_on="o_custkey", right_on="c_custkey").merge(
        na, left_on="c_nationkey", right_on="n_nationkey"
    )
    axes = {
        "segment": list(j["c_mktsegment"]),
        "priority": list(j["o_orderpriority"]),
        "region": [str(v) for v in j["n_regionkey"]],
    }
    n = len(j)
    for (xn, yn), r in rows.items():
        xs, ys = axes[xn], axes[yn]
        cy = Counter(ys)
        nx = Counter(xs)
        cxy = Counter(zip(xs, ys))
        a = n * lnm(n) - sum(c * lnm(c) for c in cy.values())
        b = sum(c * lnm(c) for c in nx.values()) - sum(
            c * lnm(c) for c in cxy.values()
        )
        assert r.n_total == n
        assert r.h_y_micro == a // n
        assert r.h_y_given_x_micro == b // n
        assert r.mi_micro == (a - b) // n
        assert r.u_ppm == (a - b) * 1_000_000 // a
        # FLOAT WITNESS: U tracks the Shannon formulation
        hy = -sum(
            c / n * math.log(c / n) for c in cy.values()
        )
        hyx = -sum(
            c / n * math.log(c / nx[x])
            for (x, _y), c in cxy.items()
        )
        assert abs(r.u_ppm / 1e6 - (hy - hyx) / hy) <= 2e-3
        assert 0 <= r.u_ppm <= 1_000_000
    # asymmetry: at least one ordered pair differs from its reverse
    assert any(
        rows[(x, y)].u_ppm != rows[(y, x)].u_ppm
        for x, y in [("segment", "priority"), ("segment", "region"),
                     ("priority", "region")]
    )


def test_cohort_ltv_pure_python(spark, sf_dir):
    """Cohort assignment, grid revenue, cumulatives, and per-customer
    LTV match a direct recomputation; float witness on the floor."""
    from collections import defaultdict

    import pandas as pd

    from beauty_lakehouse_spark.operators.warehouse import q_cohort_ltv

    rows = q_cohort_ltv(spark, sf_dir).collect()
    od = pd.read_parquet(f"{sf_dir}/orders.parquet")
    od["cents"] = (od["o_totalprice"].round(2) * 100).round().astype("int64")
    dt = pd.to_datetime(od["o_orderdate"])
    od["m"] = dt.dt.year * 12 + dt.dt.month - 1
    m0 = od.groupby("o_custkey")["m"].min()
    sizes = m0.value_counts().to_dict()
    grid = defaultdict(int)
    for ck, cents, m in zip(od["o_custkey"], od["cents"], od["m"]):
        grid[(m0[ck], m - m0[ck])] += int(cents)
    got = {(r.cohort_month, r.age_months): r for r in rows}
    assert len(got) == len(grid)
    for m0v in sorted({c for c, _a in grid}):
        label = f"{m0v // 12}-{m0v % 12 + 1:02d}"
        cum = 0
        for age in sorted(a for c, a in grid if c == m0v):
            cum += grid[(m0v, age)]
            r = got[(label, age)]
            assert r.n_customers == sizes[m0v]
            assert r.revenue_cents == grid[(m0v, age)]
            assert r.cum_revenue_cents == cum
            assert r.ltv_cents == cum // sizes[m0v]
            # FLOAT WITNESS: floor within 1 cent of the float mean
            assert abs(r.ltv_cents - cum / sizes[m0v]) < 1
    # the curve is monotone per cohort and non-trivial
    assert any(r.age_months > 0 for r in rows)


def test_nelson_aalen_pure_python(spark, sf_dir):
    """The hazard ledger matches a direct recomputation on the same
    subjects; float witness vs the textbook estimator, and the
    NA-vs-(-ln KM) relationship holds within quantization."""
    from collections import defaultdict

    import pandas as pd

    from beauty_lakehouse_spark.operators.events import (
        q_kaplan_meier_repeat,
        q_nelson_aalen_repeat,
    )

    rows = sorted(
        q_nelson_aalen_repeat(spark, sf_dir).collect(),
        key=lambda r: r.t_days,
    )
    od = pd.read_parquet(f"{sf_dir}/orders.parquet")
    od = od.sort_values(["o_custkey", "o_orderdate", "o_orderkey"])
    per = defaultdict(list)
    for ck, dt in zip(od["o_custkey"], pd.to_datetime(od["o_orderdate"])):
        if len(per[ck]) < 2:
            per[ck].append(dt.date())
    gmax = max(pd.to_datetime(od["o_orderdate"])).date()
    grid = defaultdict(lambda: [0, 0])
    for ck, ds in per.items():
        if len(ds) == 2:
            grid[(ds[1] - ds[0]).days][0] += 1
        else:
            grid[(gmax - ds[0]).days][1] += 1
    at_risk = sum(d + c for d, c in grid.values())
    na = var = 0
    na_f = 0.0
    got = iter(rows)
    for td in sorted(grid):
        d, c = grid[td]
        if d > 0:
            na += d * 1_000_000 // at_risk
            var += d * 10**12 // (at_risk * at_risk)
            na_f += d / at_risk
            r = next(got)
            assert (r.t_days, r.n_risk, r.n_deaths, r.n_censored) == (
                td, at_risk, d, c,
            )
            assert r.na_cum_micro == na
            assert r.var_cum_pico == var
            # FLOAT WITNESS: micro ledger tracks the float estimator
            assert abs(r.na_cum_micro / 1e6 - na_f) <= 2e-3
        at_risk -= d + c
    # NA >= -ln(KM) never by much: compare at the last death time
    km = sorted(
        q_kaplan_meier_repeat(spark, sf_dir).collect(),
        key=lambda r: r.t_days,
    )
    last_km = [r for r in km if r.ln_surv_micro is not None][-1]
    last_na = rows[-1]
    if last_km.t_days == last_na.t_days:
        # -ln S(t) >= H(t) (Jensen), equal to first order
        assert -last_km.ln_surv_micro >= last_na.na_cum_micro - 2


def test_revenue_pacf_pure_python(spark, sf_dir):
    """The Durbin-Levinson recursion matches a direct recomputation
    on the same quantized r_ppm values; the float witness checks the
    quantized recursion tracks the float recursion (and at lag 1
    PACF == ACF exactly)."""
    from beauty_lakehouse_spark.operators.warehouse import (
        ACF_MAX_LAG,
        q_revenue_acf,
        q_revenue_pacf,
    )

    rows = sorted(
        q_revenue_pacf(spark, sf_dir).collect(), key=lambda r: r.lag
    )
    acf = sorted(
        q_revenue_acf(spark, sf_dir).collect(), key=lambda r: r.lag
    )
    r_ppm = {a.lag: a.r_ppm for a in acf}
    n = acf[0].n_days

    def tdiv(a, b):
        return -((-a) // b) if a < 0 else a // b

    phis: dict = {}
    want = {}
    phis_f: dict = {}
    want_f = {}
    rf = {k: v / 1e6 for k, v in r_ppm.items()}
    for k in range(1, ACF_MAX_LAG + 1):
        a = r_ppm[k] * 10**6 - sum(
            phis[j] * r_ppm[k - j] for j in range(1, k)
        )
        b = 10**12 - sum(phis[j] * r_ppm[j] for j in range(1, k))
        pk = tdiv(a * 10**6, b)
        new = {
            j: phis[j] - tdiv(pk * phis[k - j], 10**6)
            for j in range(1, k)
        }
        new[k] = pk
        phis = new
        want[k] = pk
        af = rf[k] - sum(phis_f.get(j, 0) * rf[k - j] for j in range(1, k))
        bf = 1 - sum(phis_f.get(j, 0) * rf[j] for j in range(1, k))
        pf = af / bf
        phis_f = {
            j: phis_f[j] - pf * phis_f[k - j] for j in range(1, k)
        } | {k: pf}
        want_f[k] = pf
    for r in rows:
        assert r.acf_ppm == r_ppm[r.lag]
        assert r.pacf_ppm == want[r.lag]
        assert r.significant == (
            r.pacf_ppm**2 > 3_841_600_000_000 // n
        )
        # FLOAT WITNESS: quantized recursion tracks the float one
        assert abs(r.pacf_ppm / 1e6 - want_f[r.lag]) <= 1e-4 * r.lag
    assert rows[0].pacf_ppm == rows[0].acf_ppm


def test_lorenz_deciles_pure_python(spark, sf_dir):
    """Decile membership (exact ascending ntile), per-decile cents, and
    cumulative ppm shares match the direct pandas computation."""
    import pandas as pd

    from beauty_lakehouse_spark.operators.warehouse import (
        q_lorenz_customer_deciles,
    )

    rows = {r.decile: r for r in q_lorenz_customer_deciles(spark, sf_dir).collect()}
    assert set(rows) == set(range(1, 11))

    od = pd.read_parquet(f"{sf_dir}/orders.parquet")
    spend = (
        od.assign(cents=(od["o_totalprice"] * 100).round().astype(int))
        .groupby("o_custkey")["cents"]
        .sum()
        .reset_index()
        .sort_values(["cents", "o_custkey"])
        .reset_index(drop=True)
    )
    n = len(spend)
    b, r = divmod(n, 10)
    # ntile: first r tiles size b+1, rest size b
    sizes = [b + 1] * r + [b] * (10 - r)
    tot = int(spend["cents"].sum())
    pos, cum = 0, 0
    for d, size in enumerate(sizes, start=1):
        seg = spend.iloc[pos : pos + size]
        cum += int(seg["cents"].sum())
        assert rows[d].n_customers == size
        assert rows[d].decile_cents == int(seg["cents"].sum())
        assert rows[d].cum_cents == cum
        assert rows[d].cum_share_ppm == cum * 1_000_000 // tot
        pos += size
    assert rows[10].cum_share_ppm == 1_000_000
    # Lorenz curve is convex: decile shares nondecreasing
    shares = [rows[d].decile_cents for d in range(1, 11)]
    assert shares == sorted(shares)
    # FLOAT WITNESS: the ppm quantization tracks the float share
    for d in range(1, 11):
        assert abs(rows[d].cum_share_ppm / 1e6 - rows[d].cum_cents / tot) < 1e-6


def test_ks_two_sample_pure_python(spark, sf_dir):
    """D statistic (cross-multiplied), argmax location, and the
    squared-domain significance verdict match the direct computation
    over materialized ECDFs."""
    import pandas as pd

    from beauty_lakehouse_spark.operators.quality import q_ks_two_sample

    row = q_ks_two_sample(spark, sf_dir).collect()[0]

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    ev = ev[ev["event_type"].isin(["purchase", "view"])].assign(
        cents=(ev["value"] * 100).round().astype(int)
    )
    p = sorted(ev[ev["event_type"] == "purchase"]["cents"])
    v = sorted(ev[ev["event_type"] == "view"]["cents"])
    n1, n2 = len(p), len(v)
    assert (row.n_p, row.n_v) == (n1, n2)
    import bisect

    best, at = -1, None
    for c in sorted(set(p) | set(v)):
        d = abs(bisect.bisect_right(p, c) * n2 - bisect.bisect_right(v, c) * n1)
        if d > best:
            best, at = d, c
    assert row.d_ppm == best * 1_000_000 // (n1 * n2)
    assert row.at_cents == at
    assert row.significant_05 == (
        best * best * 1_000_000 > 1_844_164 * (n1 + n2) * n1 * n2
    )
    # FLOAT WITNESS: D_ppm tracks the float two-sample KS statistic
    d_float = best / (n1 * n2)
    assert abs(row.d_ppm / 1e6 - d_float) < 1e-6
    import math

    assert row.significant_05 == (
        d_float > 1.358 * math.sqrt((n1 + n2) / (n1 * n2))
    )


def test_hurst_rs_pure_python(spark, sf_dir):
    """Per-scale averaged R/S (exact integer construction) and the
    ln-ln slope match the direct computation; the exponent lands in
    (0, 1)."""
    import math

    import pandas as pd

    from beauty_lakehouse_spark.operators.temporal import (
        HURST_SCALES,
        q_hurst_rs,
    )

    got = {r.block_n: r for r in q_hurst_rs(spark, sf_dir).collect()}

    od = pd.read_parquet(f"{sf_dir}/orders.parquet")
    daily = (
        od.assign(
            day=pd.to_datetime(od["o_orderdate"]).dt.date,
            cents=(od["o_totalprice"] * 100).round().astype(int),
        )
        .groupby("day")["cents"]
        .sum()
        .sort_index()
        .tolist()
    )
    pts = []
    for n in HURST_SCALES:
        rs_vals = []
        for blk in range(len(daily) // n):
            x = daily[blk * n : (blk + 1) * n]
            sb = sum(x)
            cum, w = 0, [0]
            for t, xi in enumerate(x, start=1):
                cum += xi
                w.append(n * cum - t * sb)
            rp = max(w[1:]) - min(w[1:])
            vb = sum((n * xi - sb) ** 2 for xi in x)
            if vb == 0:
                continue
            rs2 = (rp * rp * n * 1_000_000) // vb
            rs_vals.append(math.isqrt(rs2))
        if not rs_vals:
            continue
        avg = sum(rs_vals) // len(rs_vals)
        if avg < 1000:
            continue
        assert got[n].n_blocks == len(rs_vals)
        assert got[n].avg_rs_milli == avg
        pts.append((got[n].ln_n_micro, got[n].ln_rs_micro))
    k = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _ in pts)
    num, den = k * sxy - sx * sy, k * sxx - sx * sx
    want = -((-num * 1000) // den) if num < 0 else (num * 1000) // den
    hm = {r.hurst_milli for r in got.values()}
    assert hm == {want}
    assert 0 < want < 1000
    # FLOAT WITNESS: the integer ln/OLS pipeline tracks the float
    # log-log regression of avg R/S on block size (ln_micro is a
    # deterministic quantization within ~1e-4 nats)
    fx = [math.log(n) for n, r in got.items()]
    fy = [math.log(r.avg_rs_milli / 1000.0) for r in got.values()]
    k = len(fx)
    fslope = (k * sum(a * b for a, b in zip(fx, fy)) - sum(fx) * sum(fy)) / (
        k * sum(a * a for a in fx) - sum(fx) ** 2
    )
    assert abs(want / 1000.0 - fslope) < 5e-3


def test_cliffs_delta_pure_python(spark, sf_dir):
    """Pair decomposition (n_gt/n_lt/n_eq), delta ppm, and the
    magnitude band match the direct O(n·m) computation."""
    import bisect

    import pandas as pd

    from beauty_lakehouse_spark.operators.quality import q_cliffs_delta

    row = q_cliffs_delta(spark, sf_dir).collect()[0]

    od = pd.read_parquet(f"{sf_dir}/orders.parquet")
    cu = pd.read_parquet(f"{sf_dir}/customer.parquet")
    j = od.merge(cu, left_on="o_custkey", right_on="c_custkey")
    j = j.assign(cents=(j["o_totalprice"] * 100).round().astype(int))
    a = sorted(j[j["c_mktsegment"] == "BUILDING"]["cents"])
    b = sorted(j[j["c_mktsegment"] == "MACHINERY"]["cents"])
    assert (row.n_a, row.n_b) == (len(a), len(b))
    n_gt = sum(bisect.bisect_left(b, x) for x in a)
    n_le = sum(bisect.bisect_right(b, x) for x in a)
    n_eq = n_le - n_gt
    n_lt = len(a) * len(b) - n_le
    assert (row.n_gt, row.n_lt, row.n_eq) == (n_gt, n_lt, n_eq)
    num = n_gt - n_lt
    n1n2 = len(a) * len(b)
    want = -((-num * 1_000_000) // n1n2) if num < 0 else num * 1_000_000 // n1n2
    assert row.delta_ppm == want
    bands = [(147_000, "negligible"), (330_000, "small"), (474_000, "medium")]
    mag = "large"
    for thr, label in bands:
        if abs(want) < thr:
            mag = label
            break
    assert row.magnitude == mag
    # FLOAT WITNESS: delta_ppm tracks the float P(x>y) - P(x<y)
    assert abs(row.delta_ppm / 1e6 - (n_gt - n_lt) / n1n2) < 1e-6


def test_wilcoxon_signed_rank_pure_python(spark, sf_dir):
    """Doubled positive-rank sum over materialized average ranks, the
    tie term, and the exact-rational z² match; the float z² witness
    agrees to the quantization."""
    from collections import Counter

    import pandas as pd

    from beauty_lakehouse_spark.operators.quality import (
        q_wilcoxon_signed_rank,
    )

    row = q_wilcoxon_signed_rank(spark, sf_dir).collect()[0]

    od = pd.read_parquet(f"{sf_dir}/orders.parquet")
    od = od.assign(cents=(od["o_totalprice"] * 100).round().astype(int))
    od = od.sort_values(["o_custkey", "o_orderdate", "o_orderkey"])
    ds = []
    for _, g in od.groupby("o_custkey"):
        if len(g) >= 2:
            d = int(g["cents"].iloc[1]) - int(g["cents"].iloc[0])
            if d != 0:
                ds.append(d)
    n = len(ds)
    assert row.n_pairs == n
    cnt = Counter(abs(d) for d in ds)
    rank2, cum = {}, 0
    for v in sorted(cnt):
        rank2[v] = 2 * cum + cnt[v] + 1
        cum += cnt[v]
    w2p = sum(rank2[abs(d)] for d in ds if d > 0)
    tie = sum(t**3 - t for t in cnt.values())
    assert (row.w2_plus, row.tie_term) == (w2p, tie)
    mu2 = n * (n + 1) // 2
    v12 = 2 * n * (n + 1) * (2 * n + 1) - tie
    z2 = 12 * (w2p - mu2) ** 2 * 1_000_000 // v12
    assert row.mu2 == mu2
    assert row.z2_micro == z2
    assert row.significant == (z2 > 3_841_600)
    # float witness: the quantized z² is within 1 micro of float math
    zf = 12 * (w2p - mu2) ** 2 / v12
    assert abs(z2 / 1e6 - zf) < 1e-5


def test_ols_residual_diagnostics_pure_python(spark, sf_dir):
    """Exact-rational slope/intercept, rounded-residual R² and
    Durbin–Watson recomputed in pure Python big-int arithmetic; a
    float OLS witness agrees with the quantized statistics."""
    import pandas as pd

    from beauty_lakehouse_spark.operators.warehouse import (
        q_ols_residual_diagnostics,
    )

    row = q_ols_residual_diagnostics(spark, sf_dir).collect()[0]

    od = pd.read_parquet(f"{sf_dir}/orders.parquet")
    od = od.assign(cents=(od["o_totalprice"] * 100).round().astype(int))
    base = pd.Timestamp("1992-01-01").date()
    daily = {}
    for d, c in zip(od["o_orderdate"], od["cents"]):
        day = (pd.Timestamp(d).date() - base).days
        daily[day] = daily.get(day, 0) + int(c)
    xs = sorted(daily)
    ys = [daily[x] for x in xs]
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    num_b, den = n * sxy - sx * sy, n * sxx - sx * sx

    def tdiv(a, b):  # truncate toward zero
        return -((-a) // b) if a < 0 else a // b

    es = [y - tdiv(n * num_b * x + den * sy - num_b * sx, n * den)
          for x, y in zip(xs, ys)]
    sse = sum(e * e for e in es)
    sdd = sum((b - a) ** 2 for a, b in zip(es, es[1:]))
    assert row.n_days == n
    assert row.slope_micro_cents_per_day == tdiv(num_b * 1_000_000, den)
    assert row.intercept_cents == tdiv(den * sy - num_b * sx, n * den)
    assert row.r2_ppm == 1_000_000 - (n * sse * 1_000_000) // (
        n * syy - sy * sy
    )
    assert row.dw_micro == (sdd * 1_000_000) // sse
    assert row.n_pos_resid == sum(1 for e in es if e > 0)
    assert row.max_abs_resid_cents == max(abs(e) for e in es)
    assert 0 <= row.dw_micro <= 4_000_000
    # float witness: slope and DW within quantization of float math
    bf = num_b / den
    assert abs(row.slope_micro_cents_per_day / 1e6 - bf) <= 1e-5 * max(
        1.0, abs(bf)
    )
    dwf = sdd / sse
    assert abs(row.dw_micro / 1e6 - dwf) < 1e-5


def test_revenue_weekday_profile_decomposition(spark, sf_dir):
    """Weekday mapping is ISO (Monday=1), every observed day lands in
    exactly one weekday, edge days without a full 7-row window are
    excluded, and the per-weekday seasonal means recompute from the
    centered-MA detrended series."""
    import pandas as pd

    from beauty_lakehouse_spark.operators.warehouse import (
        q_revenue_weekday_profile,
    )

    rows = {r.iso_dow: r for r in
            q_revenue_weekday_profile(spark, sf_dir).collect()}
    assert set(rows) <= set(range(1, 8))

    od = pd.read_parquet(f"{sf_dir}/orders.parquet")
    od = od.assign(cents=(od["o_totalprice"] * 100).round().astype(int))
    daily = od.groupby("o_orderdate")["cents"].sum().sort_index()
    n_grid = len(daily)
    assert sum(r.n_days for r in rows.values()) == n_grid - 6

    days = list(daily.index)
    vals = [int(v) for v in daily.values]
    by_dow = {}
    for i in range(3, n_grid - 3):
        win = sum(vals[i - 3:i + 4])
        detr = vals[i] - win // 7
        dow = pd.Timestamp(days[i]).isoweekday()
        by_dow.setdefault(dow, []).append(detr)
    for dow, ds in by_dow.items():
        r = rows[dow]
        assert r.n_days == len(ds)
        s = sum(ds)
        seasonal = -((-s) // len(ds)) if s < 0 else s // len(ds)
        assert r.seasonal_cents == seasonal
        assert r.detrended_min_cents == min(ds)
        assert r.detrended_max_cents == max(ds)
        rm = sum(abs(d - seasonal) for d in ds) // len(ds)
        assert r.remainder_mean_abs_cents == rm


def test_jarque_bera_residuals_pure_python(spark, sf_dir):
    """Quantized residual moments, isqrt sd, and the JB composition
    recomputed in pure Python big-int arithmetic; a float JB witness
    agrees with the quantized statistic to its milli precision."""
    import math

    import pandas as pd

    from beauty_lakehouse_spark.operators.warehouse import (
        JB_RESID_UNIT_CENTS,
        q_jarque_bera_residuals,
    )

    row = q_jarque_bera_residuals(spark, sf_dir).collect()[0]

    od = pd.read_parquet(f"{sf_dir}/orders.parquet")
    od = od.assign(cents=(od["o_totalprice"] * 100).round().astype(int))
    base = pd.Timestamp("1992-01-01").date()
    daily = {}
    for d, c in zip(od["o_orderdate"], od["cents"]):
        day = (pd.Timestamp(d).date() - base).days
        daily[day] = daily.get(day, 0) + int(c)
    xs = sorted(daily)
    ys = [daily[x] for x in xs]
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    num_b, den = n * sxy - sx * sy, n * sxx - sx * sx

    def tdiv(a, b):
        return -((-a) // b) if a < 0 else a // b

    eks = [
        tdiv(y - tdiv(n * num_b * x + den * sy - num_b * sx, n * den),
             JB_RESID_UNIT_CENTS)
        for x, y in zip(xs, ys)
    ]
    s2 = sum(e * e for e in eks)
    s3 = sum(e * e * e for e in eks)
    s4 = sum(e * e * e * e for e in eks)
    m2, m3, m4 = s2 // n, tdiv(s3, n), s4 // n
    s = math.isqrt(m2)
    skew = 0 if s == 0 else tdiv(m3 * 1000, s * s * s)
    kurt = 0 if m2 == 0 else (m4 * 1000) // (m2 * m2) - 3000
    jb = n * (4 * skew * skew + kurt * kurt) // 24_000
    assert row.n_days == n
    assert row.resid_unit_cents == JB_RESID_UNIT_CENTS
    assert row.skew_milli == skew
    assert row.kurt_excess_milli == kurt
    assert row.jb_milli == jb
    assert row.significant == (jb > 5_991)
    # float witness on the same quantized residuals
    mean = sum(eks) / n
    c2 = sum((e - mean) ** 2 for e in eks) / n
    c3 = sum((e - mean) ** 3 for e in eks) / n
    c4 = sum((e - mean) ** 4 for e in eks) / n
    jb_f = n * ((c3 / c2**1.5) ** 2 / 6 + (c4 / c2**2 - 3) ** 2 / 24)
    assert abs(jb / 1000 - jb_f) < max(0.05 * jb_f, 0.5)
