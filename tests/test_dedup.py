"""Dedup family: shingle edge rules, exact-dedup invariants, and the
scale-safety contract — the registered near-dup queries must not contain
a cartesian product anywhere in their physical plans."""

from __future__ import annotations

from pyspark.sql import functions as F

from beauty_lakehouse_spark.catalog import load
from beauty_lakehouse_spark.operators import dedup


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_shingles_skip_short_docs(spark):
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b c"), (3, "a b c d")],
        ["doc_id", "text"],
    )
    rows = dedup.shingles(docs).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, set()).add(r.shingle)
    assert 1 not in by_doc  # < 3 tokens → no shingles
    assert by_doc[2] == {"a b c"}
    assert by_doc[3] == {"a b c", "b c d"}


def test_shingles_max_doc_freq_cutoff(spark):
    docs = spark.createDataFrame(
        [(i, "x y z tail%d a b" % i) for i in range(5)],
        ["doc_id", "text"],
    )
    uncut = dedup.shingles(docs)
    cut = dedup.shingles(docs, max_doc_freq=3)
    hot = {r.shingle for r in uncut.groupBy("shingle").count().filter("count > 3").collect()}
    assert hot  # 'x y z' appears in all 5 docs
    remaining = {r.shingle for r in cut.collect()}
    assert not (hot & remaining)


def test_exact_dedup_invariants(spark, sf_dir):
    out = dedup.q_dedup_exact(spark, sf_dir)
    t = load(spark, sf_dir)
    assert out.count() == t.documents.count()
    # exactly one canonical doc per hash group
    per_group = (
        out.groupBy("text_hash")
        .agg(
            F.sum(F.col("is_canonical").cast("int")).alias("n_canon"),
            F.count(F.lit(1)).alias("n"),
            F.max("group_size").alias("gs"),
        )
        .collect()
    )
    for r in per_group:
        assert r.n_canon == 1
        assert r.n == r.gs


def test_simhash_query_has_no_cartesian(spark, sf_dir):
    plan = _physical_plan(dedup.q_simhash_near_pairs(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_jaccard_query_has_no_cartesian(spark, sf_dir):
    plan = _physical_plan(dedup.q_ngram_jaccard_top_pairs(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_banded_recall_vs_brute(spark, sf_dir):
    """Pigeonhole guarantee: every pair at Hamming ≤ 3 must appear in the
    banded candidates (4 bands × 8 bits over a 32-bit fingerprint)."""
    t = load(spark, sf_dir)
    sig = dedup.simhash32(t.documents).cache()
    brute = dedup.simhash_closest_pairs_brute(sig, k=200)
    close = {(r.doc_a, r.doc_b) for r in brute.collect() if r.hamming <= 3}
    cand = {
        (r.doc_a, r.doc_b)
        for r in dedup.simhash_band_candidates(sig).collect()
    }
    sig.unpersist()
    assert close <= cand


def test_embedding_neardup_finds_planted_pairs(spark, sf_dir):
    """Plant slightly-perturbed copies of 10 vectors; the LSH-bucketed
    near-dup pass must pair ≥ 9 of them with their originals."""
    from beauty_lakehouse_spark.operators.dedup import embedding_neardup_pairs

    t = load(spark, sf_dir)
    corpus = t.embeddings.select("vec_id", "embedding")
    planted = corpus.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: F.when(i % 32 == 0, -x).otherwise(x)
        ).alias("embedding"),
    )
    pairs = embedding_neardup_pairs(spark, corpus.unionByName(planted))
    found = {
        (r.vec_a, r.vec_b) for r in pairs.collect()
    }
    expected = {(v, v + 1_000_000) for v in range(10)}
    assert len(expected & found) >= 9, found
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_embedding_fixture_has_no_genuine_neardup_pairs():
    """Fixture-property guard (ADVICE r7): q_embedding_neardup's oracle
    equality rests on the RAW fixture having ZERO genuine pairs at the
    17/20 cosine gate — only the 3 deterministically-colliding planted
    copies qualify. If a regenerated fixture introduced one genuine
    near-pair the 6-table LSH happened to miss, the driver row would go
    red as an unexplained hash mismatch; this asserts the property
    directly (brute force over the raw sf0.01 fixture, the gate's SF,
    same integer quantization as the oracle) so drift fails loudly
    HERE instead."""
    import duckdb

    con = duckdb.connect()
    n = con.execute(
        """
        WITH q0 AS (
          SELECT vec_id, list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5)
                           AS BIGINT)) AS q
          FROM read_parquet('/root/testdata/sf0.01/embeddings.parquet')),
        q1 AS (SELECT vec_id, q,
               CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT)
               AS nq FROM q0),
        p AS (SELECT a.q AS qa, b.q AS qb, a.nq AS na, b.nq AS nb
              FROM q1 a JOIN q1 b ON a.vec_id < b.vec_id),
        d AS (SELECT na, nb,
              CAST(list_sum(list_transform(generate_series(1, len(qa)),
                   i -> qa[CAST(i AS INT)] * qb[CAST(i AS INT)]))
                   AS BIGINT) AS dot_q FROM p)
        SELECT count(*) FROM d
        WHERE dot_q > 0
          AND CAST(dot_q AS HUGEINT) * CAST(dot_q AS HUGEINT) * 400
              >= 289 * CAST(na AS HUGEINT) * CAST(nb AS HUGEINT)
        """
    ).fetchone()[0]
    assert n == 0, (
        f"fixture drift: {n} genuine near-pair(s) at cos >= 17/20 in the "
        "raw embeddings fixture — q_embedding_neardup's LSH-equals-brute "
        "oracle contract no longer holds by construction"
    )


def test_pagerank_invariants(spark, sf_dir):
    """Ranks are positive, sum to ~1 (probability mass conserved under
    the damping formulation), and are deterministic."""
    from beauty_lakehouse_spark.operators import graph

    t = load(spark, sf_dir)
    edges = graph.copurchase_edges(t.lineitem)
    ranks = graph.pagerank(edges, iters=3)
    rows = ranks.collect()
    assert all(r.rank > 0 for r in rows)
    assert abs(sum(r.rank for r in rows) - 1.0) < 1e-6
    again = {r.id: r.rank for r in graph.pagerank(edges, iters=3).collect()}
    assert {r.id: r.rank for r in rows} == again


def test_pagerank_plan_depth_bounded(spark, sf_dir):
    """Iteration k must NOT embed the plans of iterations 1..k-1 — the
    per-iteration checkpoint truncates lineage, so the analyzed-plan
    size of the final ranks stays flat as iters grows (uncheckpointed it
    grows superlinearly and explodes Catalyst re-analysis at scale)."""
    from beauty_lakehouse_spark.operators import graph

    t = load(spark, sf_dir)
    edges = graph.copurchase_edges(t.lineitem)

    def plan_len(iters):
        df = graph.pagerank(edges, iters=iters)
        return len(df._jdf.queryExecution().analyzed().toString())

    p2, p6 = plan_len(2), plan_len(6)
    assert p6 < p2 * 2, (p2, p6)


def test_connected_components_chain_and_singletons(spark):
    """A 5-node path collapses to one component labeled by its min node
    even when convergence needs multiple propagation rounds; isolated
    nodes stay their own component."""
    from beauty_lakehouse_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(8)], ["id"])
    # path 4-3-2-1-0 (needs ~4 rounds for 4 to learn 0) + edge 6-7
    edges = spark.createDataFrame(
        [(4, 3), (3, 2), (2, 1), (1, 0), (6, 7)], ["src", "dst"]
    )
    comp = {r["id"]: r["comp"] for r in connected_components(nodes, edges).collect()}
    assert comp == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 5, 6: 6, 7: 6}


def test_connected_components_drops_dangling_endpoints(spark):
    """Edges whose endpoint is not a node are ignored: the ids 0 and 99
    are not invented as components, and 1 and 5 are not bridged
    through 99."""
    from beauty_lakehouse_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([(1,), (5,), (7,)], ["id"])
    edges = spark.createDataFrame([(1, 99), (5, 99), (7, 0)], ["src", "dst"])
    got = sorted(
        (r["id"], r["comp"]) for r in connected_components(nodes, edges).collect()
    )
    assert got == [(1, 1), (5, 5), (7, 7)]


def test_dedup_clusters_plan_depth_bounded(spark):
    """The CC loop localCheckpoints per round — the final plan must not
    embed one join per iteration (bounded lineage, same policy as
    pagerank)."""
    from beauty_lakehouse_spark.operators.dedup import connected_components

    nodes = spark.range(4096).selectExpr("id")
    edges = spark.range(4095).selectExpr("id AS src", "id + 1 AS dst")
    # a 4096-node path: one-hop propagation alone would need 4095
    # rounds; pointer doubling must converge in ~log2(4096)+slack
    out = connected_components(nodes, edges, max_iter=16)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # a checkpointed plan reads from scan/in-memory nodes; an
    # unbounded-lineage plan would contain tens of joins
    assert plan.count("Join") <= 2, plan
    assert out.filter("comp != 0").count() == 0


def test_incremental_dedup_planted(spark):
    """Planted case: exact dup, near dup (1-word delta), fresh doc, and
    a batch-internal dup that must NOT be dropped (only corpus matches
    count)."""
    from beauty_lakehouse_spark.operators.dedup import incremental_dedup

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        [(0, base), (1, "one two three four five six seven eight")],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [
            (100, base),                                   # exact dup of 0
            (101, base.replace("kappa", "lambda")),        # near dup of 0
            (102, "complete different words entirely here novel"),
            (103, "complete different words entirely here novel"),  # dup of 102 only
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (r["matched_id"], r["reason"])
        for r in incremental_dedup(corpus, batch).collect()
    }
    assert out[100] == (0, "exact")
    assert out[101] == (0, "near")
    assert 102 not in out and 103 not in out


def test_pagerank_exact_agrees_with_float_ranking(spark, sf_dir):
    """The fixed-point PageRank must (a) be bit-deterministic across
    runs, (b) keep every rank >= the teleport floor, and (c) order
    nodes consistently with the float implementation on the same
    edges (identical damping, same iteration count)."""
    from pyspark.sql import functions as F

    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.operators import graph

    edges = graph.copurchase_edges(
        load(spark, sf_dir).lineitem
    ).filter(F.col("n_orders") >= 2)
    exact = {r["id"]: r["rank"] for r in graph.pagerank_exact(edges, iters=4).collect()}
    again = {r["id"]: r["rank"] for r in graph.pagerank_exact(edges, iters=4).collect()}
    assert exact == again
    teleport = 15 * graph.PAGERANK_SCALE // 100
    assert all(v >= teleport for v in exact.values())
    flt = {r["id"]: r["rank"] for r in graph.pagerank(edges, iters=4).collect()}
    assert set(flt) == set(exact)
    # rank agreement: top-10 by exact == top-10 by float (scaled)
    top_exact = sorted(exact, key=lambda k: (-exact[k], k))[:10]
    top_float = sorted(flt, key=lambda k: (-flt[k], k))[:10]
    assert top_exact == top_float


def test_setsim_prefix_join_matches_brute_force(spark):
    """The prefix filter is LOSSLESS: against a brute-force token-set
    Jaccard over a planted corpus, the PPJoin-style candidate scheme
    finds exactly the pairs clearing the threshold."""
    from itertools import combinations

    from beauty_lakehouse_spark.operators.dedup import (
        SETSIM_DEN,
        SETSIM_NUM,
        setsim_prefix_join,
    )

    docs = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),  # 9/11 of 1
        (3, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),  # dup of 1
        (4, "mu nu xi omicron pi rho sigma tau upsilon phi"),
        (5, "mu nu xi omicron pi rho sigma tau upsilon phi chi"),  # 10/11 of 4
        (6, "alpha mu beta nu unrelated tokens here entirely own set"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b)
        for r in setsim_prefix_join(df, SETSIM_NUM, SETSIM_DEN).collect()
    }
    sets = {d: set(t.split()) for d, t in docs}
    want = {
        (a, b)
        for a, b in combinations(sorted(sets), 2)
        if SETSIM_DEN * len(sets[a] & sets[b])
        >= SETSIM_NUM * len(sets[a] | sets[b])
    }
    assert got == want
    assert (1, 3) in got  # exact dup
    assert (4, 5) in got  # 10/11 > 0.9
    assert not any(6 in p for p in got)
    # FLOAT WITNESS: the integer cross-multiplied threshold agrees
    # with the float Jaccard >= 0.9 decision on every pair
    for a, b in combinations(sorted(sets), 2):
        fj = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        assert ((a, b) in got) == (fj >= SETSIM_NUM / SETSIM_DEN)


def test_setsim_prefix_join_mint_paths_identical(spark, sf_dir):
    """The two token-id mint paths (single-partition rank for small
    corpora vs the two-level range-partitioned rank — gated on
    TOKEN_DICT_TWO_LEVEL_MIN_DOCS since r10) must produce the SAME
    pair list: any total-order rank of (df, token) yields identical
    dense ids, so the gate is a pure physical-plan choice."""
    from beauty_lakehouse_spark.operators.dedup import setsim_prefix_join

    docs = load(spark, sf_dir).documents.limit(300)
    small = {
        (r.doc_a, r.doc_b)
        for r in setsim_prefix_join(docs, n_docs=300).collect()
    }
    big = {
        (r.doc_a, r.doc_b)
        for r in setsim_prefix_join(docs, n_docs=10**9).collect()
    }
    assert small == big and small


def test_setsim_prefix_join_threshold_parameter(spark):
    """Looser thresholds admit strictly more pairs; exact integer
    thresholding at the boundary (9/10 Jaccard == 0.9 passes)."""
    from beauty_lakehouse_spark.operators.dedup import setsim_prefix_join

    # |A∩B| = 9, |A∪B| = 10 -> jaccard exactly 0.9
    a = " ".join(f"t{i}" for i in range(9)) + " onlya"
    b = " ".join(f"t{i}" for i in range(9))
    df = spark.createDataFrame(
        [(1, a), (2, b)], "doc_id long, text string"
    )
    got = {(r.doc_a, r.doc_b) for r in setsim_prefix_join(df, 9, 10).collect()}
    assert got == {(1, 2)}
    got_strict = {
        (r.doc_a, r.doc_b) for r in setsim_prefix_join(df, 95, 100).collect()
    }
    assert got_strict == set()


def test_setsim_clusters_equals_pair_graph_closure(spark):
    """setsim_clusters (signature collapse + rep-domain prefix join +
    CC) must equal the transitive closure of the FULL doc-level
    qualifying-pair graph — the signature collapse is an optimization,
    not a semantics change. Union-find over the brute-force pairs is
    the reference."""
    from itertools import combinations

    from beauty_lakehouse_spark.operators.dedup import (
        SETSIM_DEN,
        SETSIM_NUM,
        setsim_clusters,
    )

    docs = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
        (3, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (4, "mu nu xi omicron pi rho sigma tau upsilon phi"),
        (5, "mu nu xi omicron pi rho sigma tau upsilon phi chi"),
        (6, "solo document with its very own tokens entirely"),
        (7, ""),  # empty token set: must stay a singleton
        (8, ""),  # second empty doc: must NOT merge with 7
        # chain: 9~10 and 10~11 qualify, 9~11 does not (closure merges)
        (9, " ".join(f"c{i}" for i in range(20))),
        (10, " ".join(f"c{i}" for i in range(19)) + " d0"),
        (11, " ".join(f"c{i}" for i in range(18)) + " d0 d1"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    sets = {d: {t for t in t_.split() if t} for d, t_ in docs}
    parent = {d: d for d in sets}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in combinations(sorted(sets), 2):
        if sets[a] and SETSIM_DEN * len(sets[a] & sets[b]) >= SETSIM_NUM * len(
            sets[a] | sets[b]
        ):
            parent[find(b)] = find(a)
    want_comp = {d: min(x for x in sets if find(x) == find(d)) for d in sets}
    want_sizes = {}
    for d, c in want_comp.items():
        want_sizes[c] = want_sizes.get(c, 0) + 1

    rows = setsim_clusters(df, SETSIM_NUM, SETSIM_DEN).collect()
    assert len(rows) == len(docs)
    for r in rows:
        assert r.cluster_id == want_comp[r.doc_id], r
        assert r.cluster_size == want_sizes[want_comp[r.doc_id]], r
        assert r.is_canonical == (r.doc_id == r.cluster_id), r
    # the chain merged transitively even though 9~11 doesn't qualify
    assert want_comp[9] == want_comp[11] == 9
    # empty docs are singletons
    assert want_comp[7] == 7 and want_comp[8] == 8


def test_substring_dedup_removes_noncanonical_spans(spark, tmp_path):
    """Planted contract check: a shared >= L-token passage survives
    only in its canonical (smallest doc_id, pos) occurrence; unrelated
    text is untouched; docs shorter than L are never modified; a
    within-doc repetition also loses its second copy."""
    import hashlib

    from beauty_lakehouse_spark.operators.dedup import (
        SUBSTR_L,
        q_substring_dedup,
    )

    passage = " ".join(f"p{i}" for i in range(SUBSTR_L))  # exactly L
    docs = [
        (1, "intro one " + passage + " outro one"),
        (2, "different lead " + passage + " different tail"),
        (3, "short doc under the window size"),
        (4, passage + " middle filler words " + passage),
    ]
    full = [(d, t, "en", "test", len(t)) for d, t in docs]
    spark.createDataFrame(
        full, "doc_id long, text string, lang string, source string, "
        "n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    rows = {r.doc_id: r for r in q_substring_dedup(spark, str(tmp_path)).collect()}

    def kept_hash(tokens):
        return hashlib.md5(" ".join(tokens).encode()).hexdigest()

    # doc 1 holds the canonical occurrence (smallest doc_id, pos after
    # doc 4's pos-0 copy? no: canonical is the global smallest
    # (doc_id, pos) -> doc 1 pos 2): doc 1 keeps everything
    assert rows[1].n_removed == 0
    assert rows[1].kept_hash == kept_hash(docs[0][1].split(" "))
    # doc 2's copy is non-canonical: exactly the L passage tokens go
    assert rows[2].n_removed == SUBSTR_L
    assert rows[2].kept_hash == kept_hash(
        ["different", "lead", "different", "tail"]
    )
    # short doc untouched
    assert rows[3].n_removed == 0
    # doc 4: both copies non-canonical (doc 1 owns the span) -> both go
    assert rows[4].n_removed == 2 * SUBSTR_L
    assert rows[4].kept_hash == kept_hash(["middle", "filler", "words"])


def test_lsh_tuning_curve_nests(spark, sf_dir):
    """Bands nest (a 16-hash signature splits 2x8 -> 4x4 -> 8x2 on
    aligned boundaries), so agreement on a wide band implies agreement
    on its sub-bands: candidate counts must be monotone nondecreasing
    in the band count, and the (4,4) row must equal the production
    lsh_candidate_pairs output exactly."""
    rows = {
        (r["n_bands"], r["rows_per_band"]): r
        for r in dedup.q_lsh_tuning_curve(spark, sf_dir).collect()
    }
    assert set(rows) == {(2, 8), (4, 4), (8, 2)}
    assert (
        rows[(2, 8)]["n_candidate_pairs"]
        <= rows[(4, 4)]["n_candidate_pairs"]
        <= rows[(8, 2)]["n_candidate_pairs"]
    )
    assert (
        rows[(4, 4)]["n_candidate_pairs"]
        == dedup.q_lsh_candidate_pairs(spark, sf_dir).count()
    )


def test_containment_vs_jaccard_semantics(spark, sf_dir):
    """Containment dominates Jaccard on every pair (same intersection,
    smaller-or-equal denominator), scores stay in (0, 1], and a
    pure-Python shingle recompute reproduces the top pair set."""
    from collections import defaultdict

    import pandas as pd

    from beauty_lakehouse_spark.operators.dedup import (
        JACCARD_MAX_DOC_FREQ,
        q_ngram_containment_top_pairs,
    )

    rows = q_ngram_containment_top_pairs(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r["containment"] <= 1.0
        assert r["n_common"] <= r["n_small"]

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    posting = defaultdict(set)
    for r in docs.itertuples():
        toks = r.text.split(" ")
        for i in range(len(toks) - 2):
            posting[" ".join(toks[i : i + 3])].add(r.doc_id)
    posting = {
        g: ds for g, ds in posting.items() if len(ds) <= JACCARD_MAX_DOC_FREQ
    }
    sizes = defaultdict(int)
    common = defaultdict(int)
    for ds in posting.values():
        ds = sorted(ds)
        for d in ds:
            sizes[d] += 1
        for i, a in enumerate(ds):
            for b in ds[i + 1 :]:
                common[(a, b)] += 1
    want = sorted(
        (
            (-(n / min(sizes[a], sizes[b])), a, b)
            for (a, b), n in common.items()
        )
    )[:20]
    got = [(-(r["n_common"] / r["n_small"]), r["doc_a"], r["doc_b"]) for r in rows]
    assert got == want


def test_bbit_minhash_estimates_pure_python(spark, sf_dir):
    """The 1-bit estimator is the exact integer (2*agree-16)*62500 on
    every candidate pair, and b-bit estimation behaves as theory says:
    noisier than full MinHash but centered — mean |err| bounded and
    high-true-Jaccard pairs still score high."""
    from beauty_lakehouse_spark.operators.dedup import (
        q_bbit_minhash_estimates,
        q_minhash_estimate_error,
    )

    rows = q_bbit_minhash_estimates(spark, sf_dir).collect()
    assert rows
    full = {
        (r["doc_a"], r["doc_b"]): r
        for r in q_minhash_estimate_error(spark, sf_dir).collect()
    }
    assert set((r["doc_a"], r["doc_b"]) for r in rows) == set(full)
    for r in rows:
        assert (
            r["est_1bit_micro"]
            == (2 * r["n_agree_1bit"] - 16) * 62500
        )
        assert -(10**6) <= r["est_1bit_micro"] <= 10**6
        # FLOAT WITNESS: the micro value IS the float 1-bit unbiased
        # estimator 2*(agree/16) - 1
        assert abs(
            r["est_1bit_micro"] / 1e6 - (2 * r["n_agree_1bit"] / 16 - 1)
        ) < 1e-12
        tj = full[(r["doc_a"], r["doc_b"])]["true_jaccard"]
        assert r["true_jaccard"] == tj
        assert abs(r["err"] - (r["est_1bit_micro"] / 1e6 - tj)) < 1e-12
    # exact-duplicate pairs (true J = 1) must estimate 1 exactly:
    # identical sets => identical minhash => all 16 low bits agree
    for r in rows:
        if r["true_jaccard"] == 1.0:
            assert r["est_1bit_micro"] == 10**6


def test_exactsubstr_spans_variable_length_overlaps(spark, tmp_path):
    """Planted ExactSubstr contract (VERDICT r10 ask #10/#7): a shared
    passage of ANY length >= L is removed from EVERY occurrence as ONE
    maximal span (not per-window fragments); a passage of length L-1
    survives; an intra-doc repeat is removed from both copies; a doc
    shorter than L is untouched; the reconstructed surviving text
    hash-matches a pure-Python recompute."""
    import hashlib

    from beauty_lakehouse_spark.operators.dedup import (
        EXSUB_L,
        q_exactsubstr_spans,
    )

    L = EXSUB_L
    long_shared = " ".join(f"s{i}" for i in range(30))  # length 30 > L
    exact_l = " ".join(f"e{i}" for i in range(L))  # length exactly L
    under_l = " ".join(f"u{i}" for i in range(L - 1))  # L-1: survives
    docs = [
        (1, "alpha beta " + long_shared + " gamma delta"),
        (2, "lead words " + long_shared + " tail words here"),
        (3, exact_l + " filler middle " + exact_l),  # intra-doc repeat
        (4, "x " + exact_l + " y"),
        (5, under_l + " pad pad2 pad3 " + under_l),  # sub-threshold
        (6, "short doc under window"),
    ]
    full = [(d, t, "en", "test", len(t)) for d, t in docs]
    spark.createDataFrame(
        full,
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    rows = {
        r.doc_id: r for r in q_exactsubstr_spans(spark, str(tmp_path)).collect()
    }

    def h(tokens):
        return hashlib.md5(" ".join(tokens).encode()).hexdigest()

    # 30-token passage: ONE maximal span of exactly 30, removed from
    # BOTH docs (remove-all semantics — no canonical survivor)
    for d, kept in ((1, ["alpha", "beta", "gamma", "delta"]),
                    (2, ["lead", "words", "tail", "words", "here"])):
        assert rows[d].n_spans == 1, rows[d]
        assert rows[d].max_span_len == 30, rows[d]
        assert rows[d].n_removed == 30, rows[d]
        assert rows[d].kept_hash == h(kept), rows[d]
    # exactly-L passage shared by docs 3 (twice) and 4: every copy goes
    assert rows[3].n_spans == 2 and rows[3].max_span_len == L
    assert rows[3].n_removed == 2 * L
    assert rows[3].kept_hash == h(["filler", "middle"])
    assert rows[4].n_spans == 1 and rows[4].n_removed == L
    assert rows[4].kept_hash == h(["x", "y"])
    # L-1 repeat is BELOW threshold: nothing removed
    assert rows[5].n_spans == 0 and rows[5].n_removed == 0
    assert rows[5].kept_hash == h(docs[4][1].split(" "))
    # doc shorter than L: untouched
    assert rows[6].n_removed == 0
    assert rows[6].kept_hash == h(docs[5][1].split(" "))


def test_exactsubstr_spans_fixture_maximality(spark, sf_dir):
    """On the real fixture corpus: spans are maximal (no two spans in
    one doc are adjacent — adjacency would mean the island merge
    failed), every span is >= L long... n_spans/max_span_len/n_removed
    are mutually consistent, and variable lengths actually occur."""
    from beauty_lakehouse_spark.operators.dedup import (
        EXSUB_L,
        q_exactsubstr_spans,
    )

    rows = q_exactsubstr_spans(spark, sf_dir).collect()
    lens = set()
    for r in rows:
        assert r.n_removed <= r.n_tokens
        if r.n_spans == 0:
            assert r.max_span_len == 0 and r.n_removed == 0
        else:
            assert r.max_span_len >= EXSUB_L  # a span is >= L by construction
            assert r.n_removed >= r.n_spans * EXSUB_L
            assert r.max_span_len <= r.n_removed
            lens.add(r.max_span_len)
    # the corpus produces genuinely variable span lengths
    assert len(lens) >= 3, sorted(lens)


def test_cdc_chunks_pure_python(spark, sf_dir):
    """Boundaries, chunk hashes, the store rollup, and the stored
    ratio match a direct recomputation; locality pinned: a character
    edit must only change chunks overlapping the edit window."""
    import hashlib
    from collections import Counter, defaultdict

    import pandas as pd

    from beauty_lakehouse_spark.operators.dedup import (
        CDC_MASK,
        CDC_TOP,
        CDC_WINDOW,
        q_cdc_chunks,
    )

    def cut(text: str) -> list[str]:
        bs = [0]
        for p in range(CDC_WINDOW, len(text) + 1):
            win = text[p - CDC_WINDOW:p]
            h = int(hashlib.md5(win.encode()).hexdigest()[:15], 16)
            if h % CDC_MASK == 0:
                bs.append(p)
        if bs[-1] != len(text):
            bs.append(len(text))
        return [
            text[lo:hi] for lo, hi in zip(bs, bs[1:]) if hi > lo
        ]

    rows = q_cdc_chunks(spark, sf_dir).collect()
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    store = Counter()
    ndocs = defaultdict(set)
    lens = {}
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        for c in cut(text):
            k = hashlib.md5(c.encode()).hexdigest()
            store[(k, len(c))] += 1
            ndocs[(k, len(c))].add(doc_id)
            lens[k] = len(c)
    total = sum(store.values())
    distinct = len(store)
    want = sorted(
        store.items(),
        key=lambda kv: (-kv[1], -len(ndocs[kv[0]]), kv[0][0]),
    )[:CDC_TOP]
    assert [
        (r.chunk_md5, r.chunk_len, r.n_docs, r.n_occ) for r in rows
    ] == [
        (k, ln, len(ndocs[(k, ln)]), n) for (k, ln), n in want
    ]
    g = rows[0]
    assert (g.total_chunks, g.distinct_chunks) == (total, distinct)
    assert g.stored_ratio_ppm == distinct * 1_000_000 // total
    # FLOAT WITNESS: the ppm floor tracks the float stored ratio
    assert abs(g.stored_ratio_ppm / 1e6 - distinct / total) <= 1e-6
    # LOCALITY: flip one char in the middle of a doc; chunks outside
    # the affected neighborhood are byte-identical (the CDC property
    # fixed-width blocking lacks)
    text = docs["text"].iloc[0]
    mid = len(text) // 2
    edited = text[:mid] + ("X" if text[mid] != "X" else "Y") + text[mid + 1:]
    a, b = cut(text), cut(edited)
    # common prefix/suffix of the chunk lists survive the edit
    pre = 0
    while pre < min(len(a), len(b)) and a[pre] == b[pre]:
        pre += 1
    suf = 0
    while suf < min(len(a), len(b)) - pre and a[-1 - suf] == b[-1 - suf]:
        suf += 1
    assert pre + suf >= len(a) - 3
