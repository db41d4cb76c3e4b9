"""ANN quality contract. The fixture embeddings are near-random (top-1
cosine ≈ 0.35 vs mean ≈ 0), where no sublinear ANN can have high recall
— so the hard recall assertion runs on PLANTED near-duplicates (the
operator's actual workload: near-dup retrieval), and the random fixture
gets a looser better-than-chance bound."""

from __future__ import annotations

from pyspark.sql import functions as F

from beauty_lakehouse_spark.catalog import load
from beauty_lakehouse_spark.operators import similarity


def _topk_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def test_ann_finds_planted_near_duplicates(spark, sf_dir):
    """Perturb 20 corpus vectors slightly (flip sign of every 16th
    component ⇒ cosine ≈ 0.875); the ANN must retrieve the original as a
    top-5 neighbor for ≥ 90% of the planted queries."""
    t = load(spark, sf_dir)
    corpus = t.embeddings.select("vec_id", "embedding")
    planted = (
        corpus.filter(F.col("vec_id") < 20)
        .select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: F.when(i % 16 == 0, -x).otherwise(x),
            ).alias("embedding"),
        )
    )
    ann = similarity.ann_lsh_topk(spark, planted, corpus, k=5)
    hits = {
        r.query_id
        for r in ann.collect()
        if r.neighbor_id == r.query_id - 1_000_000
    }
    assert len(hits) >= 18, f"planted-duplicate recall {len(hits)}/20"


def test_ann_beats_chance_on_random_fixture(spark, sf_dir):
    brute = _topk_sets(similarity.q_knn_brute(spark, sf_dir))
    ann = _topk_sets(similarity.q_knn_lsh(spark, sf_dir))
    recalls = [len(brute[q] & ann.get(q, set())) / len(brute[q]) for q in brute]
    mean_recall = sum(recalls) / len(recalls)
    # chance level ≈ 5/500 = 1%; multi-table LSH on random data should
    # still be an order of magnitude above that
    assert mean_recall >= 0.15, f"mean recall {mean_recall:.2f}"


def test_ann_has_no_cartesian(spark, sf_dir):
    plan = (
        similarity.q_knn_lsh(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan


def test_brute_scores_bounded(spark, sf_dir):
    rows = similarity.q_knn_brute(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert -1.0001 <= r.cos_sim <= 1.0001
        assert 1 <= r.rank <= 5


def test_ivf_finds_planted_near_duplicates(spark, sf_dir):
    """IVF path: same planted-near-duplicate workload as the LSH test;
    the perturbed vector must land in a probed inverted list and the
    original must surface in its top-5."""
    t = load(spark, sf_dir)
    corpus = t.embeddings.select("vec_id", "embedding")
    planted = corpus.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: F.when(i % 16 == 0, -x).otherwise(x)
        ).alias("embedding"),
    )
    ann = similarity.ivf_topk(spark, planted, corpus, k=5)
    hits = {
        r.query_id for r in ann.collect() if r.neighbor_id == r.query_id - 1_000_000
    }
    assert len(hits) >= 16, f"planted-duplicate IVF recall {len(hits)}/20"


def test_ivf_assignment_covers_corpus(spark, sf_dir):
    t = load(spark, sf_dir)
    corpus = t.embeddings.select("vec_id", "embedding")
    cent, assign = similarity.ivf_build(corpus, n_centroids=8, iters=2)
    assert cent.count() == 8
    assert assign.count() == corpus.count()
    assert assign.select("vec_id").distinct().count() == corpus.count()


def test_ivf_plan_depth_bounded_and_consistent(spark, sf_dir):
    """Lloyd round k must not embed rounds 1..k-1 (per-round checkpoint),
    and the returned assignment must agree with the returned centroids:
    every vector's assigned centroid is its argmax-similarity centroid
    in the FINAL centroid table (no half-step quantizer mismatch)."""
    from pyspark.sql import functions as F

    from beauty_lakehouse_spark.operators import similarity

    t = load(spark, sf_dir)
    corpus = t.embeddings.filter(F.col("vec_id") < 200)

    def plan_len(iters):
        cent, best = similarity.ivf_build(corpus, n_centroids=4, iters=iters)
        return len(best._jdf.queryExecution().analyzed().toString())

    p1, p4 = plan_len(1), plan_len(4)
    assert p4 < p1 * 2, (p1, p4)

    cent, best = similarity.ivf_build(corpus, n_centroids=4, iters=2)
    # recompute argmax assignment against the returned centroids
    nv = similarity._normalized(corpus)
    rescored = nv.crossJoin(F.broadcast(cent)).select(
        "vec_id", "centroid_id",
        similarity._dot(F.col("nv"), F.col("cv")).alias("sim"),
    )
    expect = rescored.groupBy("vec_id").agg(
        F.max_by(
            "centroid_id", F.struct("sim", (-F.col("centroid_id")).alias("tb"))
        ).alias("centroid_id")
    )
    mismatches = (
        best.alias("a")
        .join(expect.alias("b"), "vec_id")
        .filter(F.col("a.centroid_id") != F.col("b.centroid_id"))
        .count()
    )
    assert mismatches == 0


def test_embedding_centroids_mass_and_scale(spark, sf_dir):
    """Centroid identities: per-label vector counts sum to the corpus
    size on every dim, and centroid == sum_q / (n·1e6) exactly."""
    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.operators.similarity import (
        CENTROID_SCALE,
        q_embedding_centroids,
    )

    rows = q_embedding_centroids(spark, sf_dir).collect()
    n_total = load(spark, sf_dir).embeddings.count()
    dims = {r["dim"] for r in rows}
    assert dims == set(range(1, 65))
    for d in (1, 32, 64):
        assert sum(r["n_vectors"] for r in rows if r["dim"] == d) == n_total
    for r in rows:
        assert r["centroid"] == r["sum_q"] / (r["n_vectors"] * CENTROID_SCALE)


def test_label_scatter_matches_dataframe_recompute(spark, sf_dir):
    """The Arrow groupwise kernel must equal a pure-DataFrame recompute
    of the same integer formula (and be non-negative by construction)."""
    from pyspark.sql import functions as F

    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.operators.similarity import (
        q_label_embedding_scatter,
    )

    got = {
        r["label"]: (r["n_vectors"], r["scatter_q"])
        for r in q_label_embedding_scatter(spark, sf_dir).collect()
    }
    ex = load(spark, sf_dir).embeddings.select(
        "label", F.posexplode("embedding").alias("dim", "x")
    ).select(
        "label", "dim",
        F.floor(F.col("x").cast("double") * 1_000_000 + F.lit(0.5)).alias("q"),
    )
    per = ex.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("s"),
        F.sum(F.col("q") * F.col("q")).alias("ss"),
    )
    want = {
        r["label"]: (r["n"], r["sc"])
        for r in per.groupBy("label")
        .agg(
            F.max("n").alias("n"),
            F.sum(F.col("n") * F.col("ss") - F.col("s") * F.col("s")).alias("sc"),
        )
        .collect()
    }
    assert got == want
    assert all(sc >= 0 for _, sc in got.values())
    # FLOAT WITNESS: scatter_q ~ n^2 * 1e12 * sum-of-dim population
    # variances of the RAW float embeddings (independent of the micro
    # lift both recomputes share)
    import numpy as np

    by_label: dict = {}
    for r in load(spark, sf_dir).embeddings.select("label", "embedding").collect():
        by_label.setdefault(r["label"], []).append(list(map(float, r["embedding"])))
    for label, (n, sc) in got.items():
        X = np.array(by_label[label])
        fscatter = n * n * 1e12 * float(X.var(axis=0).sum())
        assert abs(sc - fscatter) <= max(1e6, 1e-3 * fscatter)


def test_semantic_neardup_detects_planted_pair(spark):
    """A planted near-identical pair within a cluster is detected; an
    orthogonal pair and a cross-cluster identical pair are not."""
    import math

    from beauty_lakehouse_spark.operators.similarity import (
        semantic_neardup_pairs,
    )

    base = [1.0] + [0.0] * 63
    near = [math.cos(0.1)] + [math.sin(0.1)] + [0.0] * 62  # cos ≈ 0.995
    orth = [0.0] * 62 + [1.0, 0.0]
    rows = [
        (1, 0, base),
        (2, 0, near),       # same cluster, near-dup -> pair (1,2)
        (3, 0, orth),       # same cluster, orthogonal -> no pair
        (4, 1, base),       # other cluster, identical to 1 -> no pair
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    got = {
        (r.vec_a, r.vec_b) for r in semantic_neardup_pairs(df).collect()
    }
    assert got == {(1, 2)}


def test_semantic_neardup_rejects_out_of_range_magnitudes(spark):
    """Raw un-normalized features beyond the |x| ≤ 80 DECIMAL-safe
    contract must fail LOUDLY (raise_error in the norm column), not
    silently drop pairs via DECIMAL overflow nulls."""
    import pytest

    from beauty_lakehouse_spark.operators.similarity import (
        semantic_neardup_pairs,
    )

    big = [1000.0] * 8 + [0.0] * 56  # |x| = 1000 ≫ 80
    near = [1000.0] * 8 + [0.1] + [0.0] * 55
    df = spark.createDataFrame(
        [(1, 0, big), (2, 0, near)],
        "vec_id long, label int, embedding array<float>",
    )
    with pytest.raises(Exception, match="magnitude contract"):
        semantic_neardup_pairs(df).collect()

    ok = [80.0] + [0.0] * 63  # boundary: exactly the documented bound
    df_ok = spark.createDataFrame(
        [(1, 0, ok), (2, 0, ok)],
        "vec_id long, label int, embedding array<float>",
    )
    assert {
        (r.vec_a, r.vec_b) for r in semantic_neardup_pairs(df_ok).collect()
    } == {(1, 2)}


def test_chunk_dedup_groups_are_consistent(spark, sf_dir):
    from beauty_lakehouse_spark.operators import curation

    out = curation.q_chunk_dedup(spark, sf_dir)
    rows = out.collect()
    assert rows, "fixture corpus contains repeated full windows"
    by_hash = {}
    for r in rows:
        by_hash.setdefault(r.chunk_hash, []).append(r)
    for h, grp in by_hash.items():
        assert len(grp) == grp[0].n_occurrences >= 2
        assert len({g.doc_id for g in grp}) == grp[0].n_docs
        canon = [g for g in grp if g.is_canonical]
        assert len(canon) == 1
        first = min((g.doc_id, g.chunk_idx) for g in grp)
        assert (canon[0].doc_id, canon[0].chunk_idx) == first


def test_pq_finds_planted_near_duplicates(spark, sf_dir):
    """PQ/ADC path: the planted-near-duplicate workload of the LSH/IVF
    tests — a scaled copy of each query must surface in its top-5."""
    from pyspark.sql import functions as F

    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.operators import similarity

    corpus = load(spark, sf_dir).embeddings
    planted = corpus.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.001).alias("embedding"),
    )
    ann = similarity.pq_topk(spark, planted, corpus, k=5)
    hits = ann.filter(
        F.col("neighbor_id") == F.col("query_id") - 100000
    ).count()
    assert hits >= 18, f"planted-duplicate PQ recall {hits}/20"


def test_pq_codes_are_compact_and_complete(spark, sf_dir):
    """Every corpus vector gets exactly PQ_SUBSPACES codes, each in
    [1, PQ_CODES]."""
    from pyspark.sql import functions as F

    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.operators import similarity

    corpus = load(spark, sf_dir).embeddings
    cb, codes = similarity.pq_train(corpus)
    n = corpus.count()
    per_vec = codes.groupBy("vec_id").agg(F.count(F.lit(1)).alias("m"))
    assert per_vec.filter(F.col("m") != similarity.PQ_SUBSPACES).count() == 0
    assert per_vec.count() == n
    rng = codes.agg(F.min("code").alias("lo"), F.max("code").alias("hi")).first()
    assert rng.lo >= 1 and rng.hi <= similarity.PQ_CODES
    # Empty-cluster fallback invariant: the codebook never shrinks —
    # every subspace keeps exactly PQ_CODES entries after training.
    per_sub = cb.groupBy("s").agg(F.count(F.lit(1)).alias("k"))
    assert per_sub.filter(F.col("k") != similarity.PQ_CODES).count() == 0
    assert cb.count() == similarity.PQ_SUBSPACES * similarity.PQ_CODES


def test_ivfpq_finds_planted_near_duplicates(spark, sf_dir):
    """Composed IVF-PQ index: same planted-near-duplicate workload;
    coarse probing plus code-based scoring must still surface the
    planted copy in the top-5 for >= 16/20 queries (IVF probing can
    drop a list; PQ never loses a probed list's planted twin)."""
    from pyspark.sql import functions as F

    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.operators import similarity

    corpus = load(spark, sf_dir).embeddings
    planted = corpus.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.001).alias("embedding"),
    )
    ann = similarity.ivfpq_topk(spark, planted, corpus, k=5)
    hits = ann.filter(
        F.col("neighbor_id") == F.col("query_id") - 100000
    ).count()
    assert hits >= 16, f"planted-duplicate IVF-PQ recall {hits}/20"


def test_embedding_quantize_int8_error_bound(spark, tmp_path):
    """Quantization error is bounded by half a quantization step per
    dimension; constant dimensions code to -128 with zero error."""
    import pyspark.sql.functions as F

    from beauty_lakehouse_spark.operators.similarity import (
        INT8_IN_SCALE,
        q_embedding_quantize_int8,
    )

    vecs = [
        (i, [float(i) / 10.0, 0.5, -1.0 + 0.01 * i] + [0.0] * 61, 0)
        for i in range(20)
    ]
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))

    out = q_embedding_quantize_int8(spark, str(tmp_path)).collect()
    assert len(out) == 20 and all(r.n_dims == 64 for r in out)
    # dim 1 spans 1.9e6 micro-units -> step ~7451; half-step + rounding
    max_step_half = (1_900_000 // 255) // 2 + 2
    assert all(r.max_err_micro <= max_step_half for r in out)
    # md5s are distinct per vector (codes actually discriminate)
    assert len({r.codes_md5 for r in out}) == 20


def test_kmeans_round_matches_numpy(spark, sf_dir):
    """One Lloyd round recomputed in plain python/numpy over the same
    fixture: seeds, assignment, membership and integer centroids must
    agree exactly."""
    import hashlib
    import math

    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.operators.similarity import (
        KMEANS_K,
        KMEANS_OFFSET,
        q_kmeans_round,
    )

    t = load(spark, sf_dir)
    vecs = {
        r.vec_id: [math.floor(float(x) * 1_000_000 + 0.5) for x in r.embedding]
        for r in t.embeddings.collect()
    }

    def h64(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    seeds = sorted(vecs, key=lambda v: (h64(f"km:{v}"), v))[:KMEANS_K]
    assign = {}
    for vid, q in vecs.items():
        best = min(
            (sum((a - b) ** 2 for a, b in zip(q, vecs[s])), cid)
            for cid, s in enumerate(seeds, start=1)
        )
        assign[vid] = best[1]
    want = {}
    for cid in range(1, KMEANS_K + 1):
        members = [vecs[v] for v in vecs if assign[v] == cid]
        for dim in range(64):
            n = len(members)
            sq = sum(m[dim] for m in members)
            num, den = 2 * (sq + n * KMEANS_OFFSET) + n, 2 * n
            cent = num // den - KMEANS_OFFSET
            want[(cid, dim + 1)] = (n, sq, cent)

    got = {
        (r.cluster_id, r.dim): (r.n_members, r.sum_q, r.centroid_micro)
        for r in q_kmeans_round(spark, sf_dir).collect()
    }
    assert got == want
    # FLOAT WITNESS: each integer centroid coordinate tracks the float
    # mean of its members' RAW (un-quantized) embedding values — the
    # replica above shares the micro lift, so only this catches a
    # shared scale bug
    raw = {r.vec_id: list(map(float, r.embedding))
           for r in t.embeddings.collect()}
    fmean = {}
    for cid in range(1, KMEANS_K + 1):
        members = [raw[v] for v in raw if assign[v] == cid]
        for dim in range(64):
            fmean[(cid, dim + 1)] = sum(m[dim] for m in members) / len(members)
    for (cid, dim), (_n, _sq, cent) in got.items():
        assert abs(cent / 1e6 - fmean[(cid, dim)]) <= 2e-6


def test_pca_power_iteration_matches_exact_replica(spark, sf_dir):
    """The distributed fixed-point power iteration equals a pure-python
    integer replica bit-for-bit, and its Rayleigh quotient dominates
    the start vector's (the iteration actually climbs the spectrum)."""
    import math

    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.operators.similarity import (
        PCA_ROUNDS,
        PCA_VSCALE,
        q_pca_power_iteration,
    )

    t = load(spark, sf_dir)
    vecs = [
        [math.floor(float(x) * 1_000_000 + 0.5) for x in r.embedding]
        for r in t.embeddings.collect()
    ]
    n, d = len(vecs), 64
    m = [sum(v[j] for v in vecs) for j in range(d)]
    cx = [[n * v[j] - m[j] for j in range(d)] for v in vecs]
    gram = [[sum(c[i] * c[j] for c in cx) for j in range(d)] for i in range(d)]
    v = [1] * d
    for _ in range(PCA_ROUNDS):
        w = [sum(gram[i][j] * v[i] for i in range(d)) for j in range(d)]
        mx = max(max(abs(x) for x in w), 1)
        v = [
            (-1 if x < 0 else 1) * (abs(x) * PCA_VSCALE // mx) for x in w
        ]
    best = max(range(d), key=lambda j: (abs(v[j]), -j))
    if v[best] < 0:
        v = [-x for x in v]
    want = {j + 1: v[j] for j in range(d)}

    got = {r.dim: r.v for r in q_pca_power_iteration(spark, sf_dir).collect()}
    assert got == want

    def rayleigh(u):
        num = sum(
            gram[i][j] * u[i] * u[j] for i in range(d) for j in range(d)
        )
        den = sum(x * x for x in u)
        return num / den

    assert rayleigh(v) > rayleigh([1] * d)

    # FLOAT WITNESS: run the same power iteration in float from the
    # RAW embeddings (no micro lift anywhere) — the fixed-point
    # direction must align with the float principal direction
    # (|cosine| > 0.999; sign is normalized by the same rule)
    import numpy as np

    X = np.array(
        [list(map(float, r.embedding)) for r in t.embeddings.collect()]
    )
    Xc = X - X.mean(axis=0)
    G = Xc.T @ Xc
    fv = np.ones(d)
    for _ in range(PCA_ROUNDS):
        fv = G @ fv
        fv = fv / np.abs(fv).max()
    iv = np.array([want[j + 1] for j in range(d)], dtype=float)
    cos = abs(float(iv @ fv) / (np.linalg.norm(iv) * np.linalg.norm(fv)))
    assert cos > 0.999


def test_random_projection_norm_concentration(spark, sf_dir):
    """JL property: E||Px||^2 = k*||x||^2 for the +-1 sign matrix — the
    per-vector ratio concentrates near 1 and its corpus mean is tight."""
    import math

    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.operators.similarity import (
        RP_DIMS,
        q_embedding_random_projection,
    )

    t = load(spark, sf_dir)
    norms = {}
    for r in t.embeddings.collect():
        q = [math.floor(float(x) * 1_000_000 + 0.5) for x in r.embedding]
        norms[r.vec_id] = sum(v * v for v in q)
    proj = {}
    for r in q_embedding_random_projection(spark, sf_dir).collect():
        proj.setdefault(r.vec_id, 0)
        proj[r.vec_id] += r.value * r.value
    ratios = [proj[v] / (RP_DIMS * norms[v]) for v in norms if norms[v] > 0]
    assert len(ratios) == len(norms)
    mean = sum(ratios) / len(ratios)
    assert 0.85 < mean < 1.15
    inside = sum(1 for x in ratios if 0.3 < x < 2.5) / len(ratios)
    assert inside > 0.9


def test_embedding_outliers_detects_planted_far_vector(spark, sf_dir):
    """A vector far from its label's centroid must flag; the natural
    fixture cloud stays selective (3-sigma flags few rows)."""
    from pyspark.sql import functions as F

    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.operators.similarity import (
        embedding_outlier_flags,
        q_embedding_outliers,
    )

    rows = q_embedding_outliers(spark, sf_dir).collect()
    n_out = sum(1 for r in rows if r.is_outlier)
    assert 0 <= n_out < len(rows) / 10

    t = load(spark, sf_dir)
    planted = t.embeddings.filter(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        "label",
        F.transform("embedding", lambda x: x * 50).alias("embedding"),
    )
    corpus = t.embeddings.select("vec_id", "label", "embedding").unionByName(
        planted
    )
    flagged = {
        r.vec_id
        for r in embedding_outlier_flags(corpus).collect()
        if r.is_outlier
    }
    assert 1_000_000 in flagged


def test_embedding_outliers_overflow_guard_raises(spark):
    """Beyond m·max(dist²) ≈ 3.3·10¹⁸ (the RHS term 9·(m·qq − s²) is
    the binding one: 9·m·qq ≤ 9·(m·mx)²) the DECIMAL(38,0)
    cross-multiplied 3σ test would silently null out while the
    HUGEINT oracle still computes; the r7 guard must RAISE instead
    (the same contract semantic_neardup enforces). 30 vectors at ±80
    per component give dist² ≈ 4.1·10¹⁷ each → m·max ≈ 1.2·10¹⁹,
    over the bound."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql.utils import PythonException

    from beauty_lakehouse_spark.operators.similarity import (
        embedding_outlier_flags,
    )

    rows = [
        (i, "big", [80.0 if i % 2 == 0 else -80.0] * 64) for i in range(30)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>"
    )
    with pytest.raises(Exception, match="magnitude contract"):
        embedding_outlier_flags(df).collect()
    # well inside the bound: same shape at unit scale must NOT raise
    ok = spark.createDataFrame(
        [(i, "ok", [1.0 if i % 2 == 0 else -1.0] * 64) for i in range(30)],
        "vec_id long, label string, embedding array<double>",
    )
    assert embedding_outlier_flags(ok).count() == 30


def test_lsh_index_maintained_equals_rebuild(spark, sf_dir):
    """The maintained-index law: v1-build + batch-MERGE through the
    versioned-table path must equal signing the full corpus from
    scratch, row for row — sound only because lsh_int_signatures is
    integer-deterministic and per-vector independent (the DuckDB twin
    re-proves this cross-engine at the gate)."""
    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.operators.similarity import (
        LSH_IDX_PLANES,
        LSH_IDX_BITS,
        lsh_int_signatures,
        q_lsh_index_maintained,
    )

    got = {
        (r.vec_id, r.table): r.sig
        for r in q_lsh_index_maintained(spark, sf_dir).collect()
    }
    emb = load(spark, sf_dir).embeddings.select("vec_id", "embedding")
    want = {
        (r.vec_id, r.table): r.sig
        for r in lsh_int_signatures(spark, emb).collect()
    }
    assert got == want
    n_tables = LSH_IDX_PLANES // LSH_IDX_BITS
    assert len(got) == n_tables * emb.count()
    # signatures are 8-bit words
    assert all(0 <= s < 256 for s in got.values())
    # and not degenerate (some variation across vectors)
    assert len(set(got.values())) > 10


def test_ann_topk_exactint_matches_pure_python(spark, sf_dir):
    """Full independent reimplementation of the hash-verifiable ANN
    path in pure Python (md5 planes -> sign bits -> radius-1 probes ->
    integer rerank -> half-up score -> (score desc, id) top-5): the
    Spark result must match exactly, query for query."""
    import hashlib
    import math

    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.operators.similarity import (
        ANN_EXACT_K,
        ANN_EXACT_QUERIES,
        LSH_IDX_BITS,
        LSH_IDX_PLANES,
        q_ann_topk_exactint,
    )

    def phash(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    emb = {
        r.vec_id: r.embedding
        for r in load(spark, sf_dir).embeddings.select(
            "vec_id", "embedding"
        ).collect()
    }
    pc = {
        (p, j): phash(f"lshidx:{p}:{j}") - (1 << 59)
        for p in range(LSH_IDX_PLANES)
        for j in range(64)
    }
    q = {v: [math.floor(x * 1_000_000 + 0.5) for x in e] for v, e in emb.items()}
    nq = {v: sum(c * c for c in qq) for v, qq in q.items()}
    sigs = {}
    for v, e in emb.items():
        for t in range(LSH_IDX_PLANES // LSH_IDX_BITS):
            s = 0
            for b in range(LSH_IDX_BITS):
                p = t * LSH_IDX_BITS + b
                d = sum(q[v][j] * pc[(p, j)] for j in range(64))
                if d >= 0:
                    s |= 1 << b
            sigs[(v, t)] = s
    buckets = {}
    for (v, t), s in sigs.items():
        buckets.setdefault((t, s), []).append(v)
    want = {}
    for qv in range(ANN_EXACT_QUERIES):
        cand = set()
        for t in range(LSH_IDX_PLANES // LSH_IDX_BITS):
            probes = [sigs[(qv, t)]] + [
                sigs[(qv, t)] ^ (1 << b) for b in range(LSH_IDX_BITS)
            ]
            for pr in probes:
                cand.update(buckets.get((t, pr), []))
        cand.discard(qv)
        scored = []
        for nv in cand:
            dot = sum(a * b for a, b in zip(q[qv], q[nv]))
            if dot <= 0:
                continue
            den = math.isqrt(nq[qv]) * math.isqrt(nq[nv])
            cos = ((2 * dot * 10**6 + den) // (2 * den)) / 1e6
            scored.append((-cos, nv))
        scored.sort()
        want[qv] = [
            (nv, i + 1, -negcos)
            for i, (negcos, nv) in enumerate(scored[:ANN_EXACT_K])
        ]

    got = {}
    for r in q_ann_topk_exactint(spark, sf_dir).collect():
        got.setdefault(r.query_id, []).append(
            (r.neighbor_id, r.rank, r.cos_micro)
        )
    for qv in got:
        got[qv].sort(key=lambda x: x[1])
    assert got == want

    # FLOAT WITNESS: the reported micro scores track the true float
    # cosine of the RAW embeddings — independent of the shared micro
    # lift / isqrt / half-up chain (the r9 CUPED bug class)
    import numpy as np

    for qv2, lst in got.items():
        a = np.array(list(map(float, emb[qv2])))
        na = np.linalg.norm(a)
        for nv2, _rk2, cosm2 in lst:
            b = np.array(list(map(float, emb[nv2])))
            fcos = float(a @ b) / (na * np.linalg.norm(b))
            assert abs(cosm2 - fcos) < 2e-5


def test_ivf_topk_exactint_matches_pure_python(spark, sf_dir):
    """Full independent reimplementation of the hash-verifiable IVF
    serving path in pure Python (md5-seeded one-round k-means cells ->
    integer re-assignment -> 2-nearest-cell probing -> integer rerank
    -> half-up score -> (score desc, id) top-5): the Spark result must
    match exactly, query for query."""
    import hashlib
    import math

    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.operators.similarity import (
        ANN_EXACT_K,
        ANN_EXACT_QUERIES,
        IVF_EXACT_NPROBE,
        KMEANS_K,
        KMEANS_OFFSET,
        q_ivf_topk_exactint,
    )

    def phash(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def halfup0(a, b):  # halfup_div(a, b, 0) for a >= 0, b > 0
        return (2 * a + b) // (2 * b)

    emb = {
        r.vec_id: r.embedding
        for r in load(spark, sf_dir)
        .embeddings.select("vec_id", "embedding")
        .collect()
    }
    q = {v: [math.floor(x * 1_000_000 + 0.5) for x in e] for v, e in emb.items()}
    nq = {v: sum(c * c for c in qq) for v, qq in q.items()}
    seeds = sorted(emb, key=lambda v: (phash(f"km:{v}"), v))[:KMEANS_K]
    seed_vec = {cid + 1: q[v] for cid, v in enumerate(seeds)}

    def argmin_cell(vec, cents):
        return min(
            (sum((a - c) ** 2 for a, c in zip(vec, cv)), cid)
            for cid, cv in cents.items()
        )[1]

    a0 = {v: argmin_cell(q[v], seed_vec) for v in q}
    cent = {}
    for cid in seed_vec:
        members = [v for v, c in a0.items() if c == cid]
        cent[cid] = [
            halfup0(
                sum(q[v][j] for v in members) + len(members) * KMEANS_OFFSET,
                len(members),
            )
            - KMEANS_OFFSET
            for j in range(64)
        ]
    a1 = {v: argmin_cell(q[v], cent) for v in q}
    want = {}
    for qv in range(ANN_EXACT_QUERIES):
        dists = sorted(
            (sum((a - c) ** 2 for a, c in zip(q[qv], cv)), cid)
            for cid, cv in cent.items()
        )
        probe_cells = {cid for _, cid in dists[:IVF_EXACT_NPROBE]}
        cand = {v for v, c in a1.items() if c in probe_cells and v != qv}
        scored = []
        for nv in cand:
            dot = sum(a * b for a, b in zip(q[qv], q[nv]))
            if dot <= 0:
                continue
            den = math.isqrt(nq[qv]) * math.isqrt(nq[nv])
            cos = ((2 * dot * 10**6 + den) // (2 * den)) / 1e6
            scored.append((-cos, nv))
        scored.sort()
        want[qv] = [
            (nv, i + 1, -negcos)
            for i, (negcos, nv) in enumerate(scored[:ANN_EXACT_K])
        ]

    got = {}
    for r in q_ivf_topk_exactint(spark, sf_dir).collect():
        got.setdefault(r.query_id, []).append(
            (r.neighbor_id, r.rank, r.cos_micro)
        )
    for qv in got:
        got[qv].sort(key=lambda x: x[1])
    assert got == want

    # FLOAT WITNESS: the reported micro scores track the true float
    # cosine of the RAW embeddings — independent of the shared micro
    # lift / isqrt / half-up chain (the r9 CUPED bug class)
    import numpy as np

    for qv2, lst in got.items():
        a = np.array(list(map(float, emb[qv2])))
        na = np.linalg.norm(a)
        for nv2, _rk2, cosm2 in lst:
            b = np.array(list(map(float, emb[nv2])))
            fcos = float(a @ b) / (na * np.linalg.norm(b))
            assert abs(cosm2 - fcos) < 2e-5


def test_pq_topk_exactint_matches_pure_python(spark, sf_dir):
    """Full independent reimplementation of the hash-verifiable PQ
    serving path in pure Python (shared 'km:' seed sub-vectors ->
    per-subspace one-round codebooks -> integer encode -> ADC survivor
    pool -> integer rerank): the Spark result must match exactly."""
    import hashlib
    import math

    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.operators.similarity import (
        ANN_EXACT_K,
        ANN_EXACT_QUERIES,
        KMEANS_K,
        KMEANS_OFFSET,
        PQ_EXACT_M,
        PQ_EXACT_POOL,
        PQ_EXACT_SUBDIM,
        q_pq_topk_exactint,
    )

    def phash(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def halfup0(a, b):
        return (2 * a + b) // (2 * b)

    emb = {
        r.vec_id: r.embedding
        for r in load(spark, sf_dir)
        .embeddings.select("vec_id", "embedding")
        .collect()
    }
    q = {v: [math.floor(x * 1_000_000 + 0.5) for x in e] for v, e in emb.items()}
    nq = {v: sum(c * c for c in qq) for v, qq in q.items()}
    seeds = sorted(emb, key=lambda v: (phash(f"km:{v}"), v))[:KMEANS_K]

    def subvec(vec, s):
        return vec[s * PQ_EXACT_SUBDIM : (s + 1) * PQ_EXACT_SUBDIM]

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    # initial codes = seed sub-vectors; one assignment + update round
    init = {
        (s, k + 1): subvec(q[v], s)
        for s in range(PQ_EXACT_M)
        for k, v in enumerate(seeds)
    }
    a0 = {
        (v, s): min(
            (d2(subvec(q[v], s), init[(s, k)]), k)
            for k in range(1, KMEANS_K + 1)
        )[1]
        for v in q
        for s in range(PQ_EXACT_M)
    }
    cb = {}
    for s in range(PQ_EXACT_M):
        for k in range(1, KMEANS_K + 1):
            members = [v for v in q if a0[(v, s)] == k]
            if not members:
                continue
            cb[(s, k)] = [
                halfup0(
                    sum(subvec(q[v], s)[j] for v in members)
                    + len(members) * KMEANS_OFFSET,
                    len(members),
                )
                - KMEANS_OFFSET
                for j in range(PQ_EXACT_SUBDIM)
            ]
    codes = {
        (v, s): min(
            (d2(subvec(q[v], s), cv), k) for (cs, k), cv in cb.items() if cs == s
        )[1]
        for v in q
        for s in range(PQ_EXACT_M)
    }
    want = {}
    for qv in range(ANN_EXACT_QUERIES):
        dtab = {
            (s, k): d2(subvec(q[qv], s), cv)
            for (s, k), cv in cb.items()
        }
        adc = sorted(
            (
                sum(dtab[(s, codes[(v, s)])] for s in range(PQ_EXACT_M)),
                v,
            )
            for v in q
            if v != qv
        )
        pool = [v for _, v in adc[:PQ_EXACT_POOL]]
        scored = []
        for nv in pool:
            dot = sum(a * b for a, b in zip(q[qv], q[nv]))
            if dot <= 0:
                continue
            den = math.isqrt(nq[qv]) * math.isqrt(nq[nv])
            cos = ((2 * dot * 10**6 + den) // (2 * den)) / 1e6
            scored.append((-cos, nv))
        scored.sort()
        want[qv] = [
            (nv, i + 1, -negcos)
            for i, (negcos, nv) in enumerate(scored[:ANN_EXACT_K])
        ]

    got = {}
    for r in q_pq_topk_exactint(spark, sf_dir).collect():
        got.setdefault(r.query_id, []).append(
            (r.neighbor_id, r.rank, r.cos_micro)
        )
    for qv in got:
        got[qv].sort(key=lambda x: x[1])
    assert got == want

    # FLOAT WITNESS: the reported micro scores track the true float
    # cosine of the RAW embeddings — independent of the shared micro
    # lift / isqrt / half-up chain (the r9 CUPED bug class)
    import numpy as np

    for qv2, lst in got.items():
        a = np.array(list(map(float, emb[qv2])))
        na = np.linalg.norm(a)
        for nv2, _rk2, cosm2 in lst:
            b = np.array(list(map(float, emb[nv2])))
            fcos = float(a @ b) / (na * np.linalg.norm(b))
            assert abs(cosm2 - fcos) < 2e-5


def test_ivfpq_topk_exactint_matches_pure_python(spark, sf_dir):
    """Full independent reimplementation of the composed IVF-PQ
    serving path in pure Python: IVF cells restrict the candidate set
    (2 nearest one-round k-means cells), PQ ADC ranks the in-cell
    candidates, the exact-int rerank scores the survivor pool. The
    Spark result must match exactly."""
    import hashlib
    import math

    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.operators.similarity import (
        ANN_EXACT_K,
        ANN_EXACT_QUERIES,
        IVF_EXACT_NPROBE,
        KMEANS_K,
        KMEANS_OFFSET,
        PQ_EXACT_M,
        PQ_EXACT_POOL,
        PQ_EXACT_SUBDIM,
        q_ivfpq_topk_exactint,
    )

    def phash(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def halfup0(a, b):
        return (2 * a + b) // (2 * b)

    emb = {
        r.vec_id: r.embedding
        for r in load(spark, sf_dir)
        .embeddings.select("vec_id", "embedding")
        .collect()
    }
    q = {v: [math.floor(x * 1_000_000 + 0.5) for x in e] for v, e in emb.items()}
    nq = {v: sum(c * c for c in qq) for v, qq in q.items()}
    seeds = sorted(emb, key=lambda v: (phash(f"km:{v}"), v))[:KMEANS_K]

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    def subvec(vec, s):
        return vec[s * PQ_EXACT_SUBDIM : (s + 1) * PQ_EXACT_SUBDIM]

    # IVF: one-round cells + assignment + probes
    seed_vec = {cid + 1: q[v] for cid, v in enumerate(seeds)}
    a0 = {
        v: min((d2(q[v], cv), cid) for cid, cv in seed_vec.items())[1]
        for v in q
    }
    cent = {}
    for cid in seed_vec:
        members = [v for v, c in a0.items() if c == cid]
        cent[cid] = [
            halfup0(
                sum(q[v][j] for v in members) + len(members) * KMEANS_OFFSET,
                len(members),
            )
            - KMEANS_OFFSET
            for j in range(64)
        ]
    a1 = {v: min((d2(q[v], cv), cid) for cid, cv in cent.items())[1] for v in q}

    # PQ: per-subspace one-round codebooks + codes
    init = {
        (s, k + 1): subvec(q[v], s)
        for s in range(PQ_EXACT_M)
        for k, v in enumerate(seeds)
    }
    pa0 = {
        (v, s): min(
            (d2(subvec(q[v], s), init[(s, k)]), k)
            for k in range(1, KMEANS_K + 1)
        )[1]
        for v in q
        for s in range(PQ_EXACT_M)
    }
    cb = {}
    for s in range(PQ_EXACT_M):
        for k in range(1, KMEANS_K + 1):
            members = [v for v in q if pa0[(v, s)] == k]
            if not members:
                continue
            cb[(s, k)] = [
                halfup0(
                    sum(subvec(q[v], s)[j] for v in members)
                    + len(members) * KMEANS_OFFSET,
                    len(members),
                )
                - KMEANS_OFFSET
                for j in range(PQ_EXACT_SUBDIM)
            ]
    codes = {
        (v, s): min(
            (d2(subvec(q[v], s), cv), k) for (cs, k), cv in cb.items() if cs == s
        )[1]
        for v in q
        for s in range(PQ_EXACT_M)
    }

    want = {}
    for qv in range(ANN_EXACT_QUERIES):
        cells = sorted((d2(q[qv], cv), cid) for cid, cv in cent.items())
        probe_cells = {cid for _, cid in cells[:IVF_EXACT_NPROBE]}
        in_cell = [v for v, c in a1.items() if c in probe_cells and v != qv]
        dtab = {(s, k): d2(subvec(q[qv], s), cv) for (s, k), cv in cb.items()}
        adc = sorted(
            (
                sum(dtab[(s, codes[(v, s)])] for s in range(PQ_EXACT_M)),
                v,
            )
            for v in in_cell
        )
        pool = [v for _, v in adc[:PQ_EXACT_POOL]]
        scored = []
        for nv in pool:
            dot = sum(a * b for a, b in zip(q[qv], q[nv]))
            if dot <= 0:
                continue
            den = math.isqrt(nq[qv]) * math.isqrt(nq[nv])
            cos = ((2 * dot * 10**6 + den) // (2 * den)) / 1e6
            scored.append((-cos, nv))
        scored.sort()
        want[qv] = [
            (nv, i + 1, -negcos)
            for i, (negcos, nv) in enumerate(scored[:ANN_EXACT_K])
        ]

    got = {}
    for r in q_ivfpq_topk_exactint(spark, sf_dir).collect():
        got.setdefault(r.query_id, []).append(
            (r.neighbor_id, r.rank, r.cos_micro)
        )
    for qv in got:
        got[qv].sort(key=lambda x: x[1])
    assert got == want

    # FLOAT WITNESS: the reported micro scores track the true float
    # cosine of the RAW embeddings — independent of the shared micro
    # lift / isqrt / half-up chain (the r9 CUPED bug class)
    import numpy as np

    for qv2, lst in got.items():
        a = np.array(list(map(float, emb[qv2])))
        na = np.linalg.norm(a)
        for nv2, _rk2, cosm2 in lst:
            b = np.array(list(map(float, emb[nv2])))
            fcos = float(a @ b) / (na * np.linalg.norm(b))
            assert abs(cosm2 - fcos) < 2e-5


def test_fixture_fingerprint_sees_nested_files(tmp_path):
    """ADVICE r8: a partitioned fixture regenerated in place (same
    names/sizes in SUBDIRECTORIES) must change the fingerprint — the
    walk has to recurse, not stat only immediate entries."""
    import os

    from beauty_lakehouse_spark.memo import fingerprint

    root = tmp_path / "embeddings.parquet" / "part=0"
    root.mkdir(parents=True)
    f = root / "chunk.parquet"
    f.write_bytes(b"v1-bytes")
    fp1 = fingerprint(str(tmp_path))
    # nested file IS fingerprinted
    assert "embeddings.parquet/part=0/chunk.parquet" in [rel for rel, _, _ in fp1]
    # same path, same size, new mtime (in-place regeneration)
    os.utime(f, ns=(123456789, 987654321))
    fp2 = fingerprint(str(tmp_path))
    assert fp1 != fp2


def test_knn_label_accuracy_pure_python(spark, sf_dir):
    """Per-class accuracy matches a numpy brute-force recompute with
    the same 4dp rounding / id tie-break / majority tie-break. The
    fixture draws labels independently of geometry, so the probe must
    read ~the 1/|classes| random floor — detecting NO signal is the
    correct measurement here (the heaps_law_fit beta=0 convention)."""
    import numpy as np
    import pandas as pd

    from beauty_lakehouse_spark.operators.similarity import (
        KNN_EVAL_QUERIES,
        q_knn_label_accuracy,
    )

    rows = {r["label"]: r for r in q_knn_label_accuracy(spark, sf_dir).collect()}
    assert rows

    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    V = np.stack([np.asarray(v, dtype=np.float64) for v in emb["embedding"]])
    ids = emb["vec_id"].to_numpy()
    labels = dict(zip(emb["vec_id"], emb["label"]))
    norms = np.sqrt((V * V).sum(axis=1))
    correct = {}
    total = {}
    order = np.argsort(ids)
    for qi in order:
        qid = ids[qi]
        if qid >= KNN_EVAL_QUERIES:
            continue
        sims = np.round(V @ V[qi] / (norms * norms[qi]), 4)
        cand = sorted(
            (-s, i)
            for s, i in zip(sims, ids)
            if i != qid
        )[:5]
        votes = {}
        for _, nid in cand:
            votes[labels[nid]] = votes.get(labels[nid], 0) + 1
        pred = min((-v, l) for l, v in votes.items())[1]
        t = labels[qid]
        total[t] = total.get(t, 0) + 1
        correct[t] = correct.get(t, 0) + (pred == t)

    def hu6(num, den):
        return ((2 * num * 10**6 + den) // (2 * den)) / 1e6

    assert set(rows) == set(total)
    for l in total:
        assert rows[l]["n_queries"] == total[l]
        assert rows[l]["n_correct"] == correct[l]
        assert rows[l]["accuracy"] == hu6(correct[l], total[l])
    n_all = sum(total.values())
    acc_all = sum(correct.values()) / n_all
    n_classes = len(set(labels.values()))
    # labels are geometry-independent by fixture design: accuracy must
    # sit NEAR the random floor (binomial 3-sigma band), not above it
    floor = 1.0 / n_classes
    sd = (floor * (1 - floor) / n_all) ** 0.5
    assert abs(acc_all - floor) < 4 * sd


def test_ann_ndcg_exactint_pure_python(spark, sf_dir):
    """NDCG matches a pure-Python recompute from the served list and
    a float brute truth; the literal discount ladder tracks
    1e6/log2(r+1) (FLOAT WITNESS) and NDCG is 1.0 exactly when the
    served top-5 equals the brute top-5 in order."""
    import math

    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.operators.similarity import (
        ANN_NDCG_DISC,
        ANN_NDCG_IDCG,
        q_ann_ndcg_exactint,
        q_ann_topk_exactint,
    )

    rows = {r["query_id"]: r for r in q_ann_ndcg_exactint(spark, sf_dir).collect()}
    assert rows

    # FLOAT WITNESS: each literal discount within 1 of 1e6/log2(r+1),
    # and the IDCG constant is their rel-weighted sum
    for i, d in enumerate(ANN_NDCG_DISC, start=1):
        assert abs(d - 1e6 / math.log2(i + 1)) <= 1
    assert ANN_NDCG_IDCG == sum(
        (5 - i) * d for i, d in enumerate(ANN_NDCG_DISC)
    )

    # float brute truth over raw embeddings (independent of the
    # integer lift): top-5 by float cosine
    emb = {
        r.vec_id: list(map(float, r.embedding))
        for r in load(spark, sf_dir).embeddings.collect()
    }

    def fcos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        return num / (
            math.sqrt(sum(x * x for x in a))
            * math.sqrt(sum(y * y for y in b))
        )

    served: dict = {}
    for r in q_ann_topk_exactint(spark, sf_dir).collect():
        served.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
    for qid, lst in served.items():
        lst.sort()
        scored = sorted(
            (
                (-fcos(emb[qid], emb[nid]), nid)
                for nid in emb
                if nid != qid and fcos(emb[qid], emb[nid]) > 0
            ),
        )[:5]
        brank = {nid: i + 1 for i, (_s, nid) in enumerate(scored)}
        dcg = sum(
            (6 - brank[nid]) * ANN_NDCG_DISC[rk - 1]
            for rk, nid in lst
            if nid in brank
        )
        r = rows[qid]
        # float ties can flip adjacent brute ranks; allow the integer
        # dcg to differ only by tie-local discount swaps
        assert abs(r["dcg_micro"] - dcg) <= 2 * max(ANN_NDCG_DISC)
        assert 0 <= r["ndcg_micro"] <= 1_000_000
        assert r["ndcg_micro"] == r["dcg_micro"] * 10**6 // ANN_NDCG_IDCG
        if [nid for _rk, nid in lst] == [n for _s, n in scored]:
            assert r["ndcg_micro"] == 1_000_000


def test_matryoshka_prefix_recall_properties(spark, sf_dir):
    """The D=64 row is the exact fixpoint (recall 1.0), recall is
    defined against 20 queries x up-to-5 truth pairs, and a pure
    float recompute of the D=8 prefix top-5 agrees with the integer
    path's hit count within float-tie slack (FLOAT WITNESS)."""
    import math

    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.operators.similarity import (
        MATRYOSHKA_DIMS,
        q_matryoshka_prefix_recall,
    )

    rows = {r["dim"]: r for r in q_matryoshka_prefix_recall(spark, sf_dir).collect()}
    assert sorted(rows) == MATRYOSHKA_DIMS
    full = rows[64]
    assert full["n_hits"] == full["n_truth_pairs"]
    assert full["recall_micro"] == 1_000_000
    for r in rows.values():
        assert 0 <= r["n_hits"] <= r["n_truth_pairs"]
        assert (
            r["recall_micro"]
            == r["n_hits"] * 10**6 // r["n_truth_pairs"]
        )

    # FLOAT WITNESS on the narrowest prefix: float-cosine top-5 over
    # the raw first-8 dims reproduces the integer hit count within
    # tie slack (ties at equal cosine can order differently)
    emb = {
        r.vec_id: list(map(float, r.embedding))
        for r in load(spark, sf_dir).embeddings.collect()
    }

    def top5(qid, d):
        def cos(a, b):
            num = sum(x * y for x, y in zip(a[:d], b[:d]))
            na = math.sqrt(sum(x * x for x in a[:d]))
            nb = math.sqrt(sum(y * y for y in b[:d]))
            return num / (na * nb)

        scored = sorted(
            (-cos(emb[qid], emb[n]), n)
            for n in emb
            if n != qid and cos(emb[qid], emb[n]) > 0
        )[:5]
        return {n for _s, n in scored}

    fhits = sum(
        len(top5(q, 8) & top5(q, 64)) for q in range(20)
    )
    assert abs(rows[8]["n_hits"] - fhits) <= 4


def test_rrf_fusion_pure_python(spark, sf_dir):
    """RRF scores match a pure recompute from the two served lists;
    FLOAT WITNESS: the integer 1e6 div (60+r) terms track 1/(60+r),
    and a doc on both lists always outscores a same-rank singleton."""
    from collections import defaultdict

    from beauty_lakehouse_spark.operators.similarity import (
        RRF_K,
        q_ann_topk_exactint,
        q_ivf_topk_exactint,
        q_rrf_fusion_exactint,
    )

    got = defaultdict(list)
    for r in q_rrf_fusion_exactint(spark, sf_dir).collect():
        got[r["query_id"]].append(
            (r["rank"], r["neighbor_id"], r["fused_micro"])
        )
    scores = defaultdict(int)
    for src in (q_ann_topk_exactint, q_ivf_topk_exactint):
        for r in src(spark, sf_dir).collect():
            scores[(r.query_id, r.neighbor_id)] += 1_000_000 // (
                RRF_K + r.rank
            )
    want = defaultdict(list)
    for (q, n), s in scores.items():
        want[q].append((-s, n))
    for q in want:
        want[q] = [
            (i + 1, n, -s)
            for i, (s, n) in enumerate(sorted(want[q])[:5])
        ]
    assert dict(got) == dict(want)
    # FLOAT WITNESS
    for rk in range(1, 6):
        assert abs(1_000_000 // (RRF_K + rk) - 1e6 / (RRF_K + rk)) < 1


def test_mmr_rerank_pure_python(spark, sf_dir):
    """MMR picks match a pure-python greedy recompute over the same
    fused pool with integer micro-cosines (math.isqrt + half-up);
    FLOAT WITNESS: the integer rel_micro tracks the float cosine of
    the quantized vectors within rounding, and pick 1 is always the
    pure-relevance argmax."""
    import math

    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.operators.similarity import (
        MMR_DIV_W,
        MMR_REL_W,
        MMR_SELECT,
        q_ann_topk_exactint,
        q_ivf_topk_exactint,
        q_mmr_rerank_exactint,
    )

    pool = {}
    for src in (q_ann_topk_exactint, q_ivf_topk_exactint):
        for r in src(spark, sf_dir).collect():
            pool.setdefault(r.query_id, set()).add(r.neighbor_id)
    emb = {
        r.vec_id: r.embedding
        for r in load(spark, sf_dir)
        .embeddings.select("vec_id", "embedding")
        .collect()
    }
    q = {v: [math.floor(x * 1_000_000 + 0.5) for x in e] for v, e in emb.items()}
    nq = {v: sum(c * c for c in qq) for v, qq in q.items()}

    def cos_micro(a, b):
        dot = sum(x * y for x, y in zip(q[a], q[b]))
        if dot <= 0:
            return 0
        den = math.isqrt(nq[a]) * math.isqrt(nq[b])
        return (2 * dot * 10**6 + den) // (2 * den)

    want = {}
    for qv, cands in pool.items():
        rel = {n: cos_micro(qv, n) for n in cands}
        selected, rows = [], []
        remaining = set(cands)
        for rank in range(1, MMR_SELECT + 1):
            if not remaining:
                break
            best = None
            for n in remaining:
                pen = max((cos_micro(n, s) for s in selected), default=0)
                score = MMR_REL_W * rel[n] - MMR_DIV_W * pen
                key = (-score, n)
                if best is None or key < best[0]:
                    best = (key, n, score)
            _, n, score = best
            rows.append((n, rank, rel[n], score))
            selected.append(n)
            remaining.discard(n)
        want[qv] = rows

    got = {}
    for r in q_mmr_rerank_exactint(spark, sf_dir).collect():
        got.setdefault(r.query_id, []).append(
            (r.neighbor_id, r.pick_rank, r.rel_micro, r.mmr_deci)
        )
    assert got == want

    # FLOAT WITNESS: integer micro-cos vs float cosine of the same
    # quantized vectors (catches a shared scale bug in the fixed-point
    # chain), and pick 1 == pure-relevance argmax
    for qv, rows in got.items():
        n1, rank1, rel1, deci1 = rows[0]
        assert rank1 == 1 and deci1 == MMR_REL_W * rel1
        fcos = sum(x * y for x, y in zip(q[qv], q[n1])) / (
            math.sqrt(nq[qv]) * math.sqrt(nq[n1])
        )
        assert abs(rel1 / 1e6 - fcos) < 3e-6
        best_rel = max(cos_micro(qv, n) for n in pool[qv])
        assert rel1 == best_rel


def test_calibration_report_pure_python(spark, sf_dir):
    """Pure-Python recompute of the kNN vote-share reliability table +
    ECE, with a FLOAT WITNESS on the ECE (plain float weighted mean of
    the gaps) and the fixture's negative-control read: labels are
    independent of geometry, so stated confidence >= 600 permille must
    OVERSHOOT accuracy (positive gap) and the ECE is far from 0."""
    import numpy as np
    import pandas as pd

    from beauty_lakehouse_spark.operators.similarity import (
        KNN_EVAL_QUERIES,
        q_calibration_report,
    )

    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    vecs = {int(r.vec_id): np.array(r.embedding, dtype=np.float64)
            for r in emb.itertuples(index=False)}
    labels = {int(r.vec_id): int(r.label) for r in emb.itertuples(index=False)}

    per_bucket: dict[int, list[int]] = {}
    for q in range(KNN_EVAL_QUERIES):
        qv = vecs[q]
        sims = []
        for nid, cv in vecs.items():
            if nid == q:
                continue
            cs = round(
                float(qv @ cv)
                / (float(np.sqrt(qv @ qv)) * float(np.sqrt(cv @ cv))),
                4,
            )
            sims.append((-cs, nid))
        top5 = [nid for _, nid in sorted(sims)[:5]]
        votes: dict[int, int] = {}
        for nid in top5:
            votes[labels[nid]] = votes.get(labels[nid], 0) + 1
        pred, v = min(votes.items(), key=lambda kv: (-kv[1], kv[0]))
        per_bucket.setdefault(v, []).append(int(pred == labels[q]))

    rows = {r.votes: r for r in q_calibration_report(spark, sf_dir).collect()}
    assert set(rows) == set(per_bucket)
    gaps, ns = [], []
    for v, outcomes in per_bucket.items():
        r = rows[v]
        n, n_correct = len(outcomes), sum(outcomes)
        assert r.n == n and r.n_correct == n_correct
        assert r.conf_permille == v * 200
        assert r.acc_permille == (n_correct * 1000) // n
        assert r.gap_permille == abs(r.acc_permille - r.conf_permille)
        gaps.append(r.gap_permille)
        ns.append(n)
    want_ece = (sum(n * g for n, g in zip(ns, gaps)) * 1000) // sum(ns)
    assert all(r.ece_micro == want_ece for r in rows.values())
    # FLOAT WITNESS: float weighted-mean gap (in permille) matches the
    # integer ECE scaled back down, within trunc slack
    float_ece_pm = sum(n * g for n, g in zip(ns, gaps)) / sum(ns)
    assert abs(want_ece / 1000 - float_ece_pm) < 1.0
    # negative control: high-confidence buckets overshoot accuracy
    for v, r in rows.items():
        if r.conf_permille >= 600:
            assert r.acc_permille < r.conf_permille, r
    assert want_ece > 100_000  # >> 0: the miscalibration is detected


def test_signbit_topk_exactint_matches_pure_python(spark, sf_dir):
    """The whole sign-bit serving path — 63-bit signatures, Hamming
    pool, fixed-point rerank — matches a pure-Python recompute, and
    the candidate stage really is the sign-signature filter (every
    returned neighbor is inside the query's Hamming-top pool)."""
    import math

    import pandas as pd

    from beauty_lakehouse_spark.operators.similarity import (
        ANN_EXACT_K,
        ANN_EXACT_QUERIES,
        SIGNBIT_DIMS,
        SIGNBIT_POOL,
        q_signbit_topk_exactint,
    )

    got = [
        ((r.query_id, r.rank), (r.neighbor_id, r.cos_micro))
        for r in q_signbit_topk_exactint(spark, sf_dir).collect()
    ]
    assert got

    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    vecs = {
        int(v): list(e) for v, e in zip(emb["vec_id"], emb["embedding"])
    }
    sig = {
        v: sum(
            (1 << i) if float(e[i]) >= 0 else 0
            for i in range(SIGNBIT_DIMS)
        )
        for v, e in vecs.items()
    }
    q = {
        v: [math.floor(float(x) * 1_000_000 + 0.5) for x in e]
        for v, e in vecs.items()
    }
    nq = {v: sum(x * x for x in qq) for v, qq in q.items()}

    def isqrt(x):
        return math.isqrt(x)

    want = {}
    for qu in range(ANN_EXACT_QUERIES):
        ham = sorted(
            (bin(sig[qu] ^ sig[nb]).count("1"), nb)
            for nb in vecs
            if nb != qu
        )
        pool = [nb for _, nb in ham[:SIGNBIT_POOL]]
        scored = []
        for nb in pool:
            dot = sum(a * b for a, b in zip(q[qu], q[nb]))
            if dot <= 0:
                continue
            den = isqrt(nq[qu]) * isqrt(nq[nb])
            cos = ((2 * dot * 10**6 + den) - (2 * dot * 10**6 + den) % (2 * den)) // (2 * den) / 1e6
            scored.append((-cos, nb))
        for rk, (negcos, nb) in enumerate(sorted(scored)[:ANN_EXACT_K], 1):
            want[(qu, rk)] = (nb, -negcos)
    assert dict(got) == want

    # FLOAT WITNESS: every emitted cos_micro tracks the RAW float
    # cosine of the pair (no micro lift anywhere) within quantization
    # tolerance — catches a shared scale bug in both int recomputes
    def fcos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb_ = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb_)

    for (qu, _rk), (nb, cos_micro) in got:
        assert abs(cos_micro - fcos(vecs[qu], vecs[nb])) <= 5e-6


def test_hard_negative_mining_consistent(spark, sf_dir):
    """Mining invariants against the (already oracle-verified)
    serving list: membership, ranking, margins; float witness via
    the served cosine scores."""
    from collections import defaultdict

    import pandas as pd

    from beauty_lakehouse_spark.operators.similarity import (
        HARDNEG_K,
        q_ann_topk_exactint,
        q_hard_negative_mining,
    )

    rows = q_hard_negative_mining(spark, sf_dir).collect()
    serve = q_ann_topk_exactint(spark, sf_dir).collect()
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet",
                          columns=["vec_id", "label"])
    lab = dict(zip(emb["vec_id"], emb["label"]))
    by_q = defaultdict(list)
    for s in serve:
        by_q[s.query_id].append(s)
    got_q = defaultdict(list)
    for r in rows:
        got_q[r.query_id].append(r)
    for qid, served in by_q.items():
        ql = lab[qid]
        negs = sorted(
            (s for s in served if lab[s.neighbor_id] != ql),
            key=lambda s: (-round(s.cos_micro * 1e6), s.neighbor_id),
        )[:HARDNEG_K]
        pos = [
            round(s.cos_micro * 1e6)
            for s in served
            if lab[s.neighbor_id] == ql
        ]
        got = sorted(got_q.get(qid, []), key=lambda r: r.neg_rank)
        assert [g.neighbor_id for g in got] == [s.neighbor_id for s in negs]
        for g, s in zip(got, negs):
            assert g.q_label == ql and g.n_label == lab[s.neighbor_id]
            assert g.serve_rank == s.rank
            # FLOAT WITNESS: integer margin tracks the float score gap
            if pos:
                assert g.best_pos_micro == max(pos)
                assert g.margin_micro == max(pos) - round(s.cos_micro * 1e6)
                assert abs(
                    g.margin_micro / 1e6
                    - (max(pos) / 1e6 - s.cos_micro)
                ) <= 1e-6
            else:
                assert g.best_pos_micro is None and g.margin_micro is None
    # the mine is non-trivial on the fixture: some query has a
    # negative outranking its best positive (margin <= 0)
    assert any(
        r.margin_micro is not None and r.margin_micro <= 0 for r in rows
    )
