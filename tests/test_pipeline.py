"""End-to-end lakehouse pipeline: raw CSV → curated → quality →
warehouse, all zones on disk, every stage validated."""

from __future__ import annotations

from pyspark.sql import functions as F

from beauty_lakehouse_spark.pipeline import run_lakehouse_pipeline


def test_full_pipeline(spark, tmp_path):
    res = run_lakehouse_pipeline(
        spark, str(tmp_path), n_customers=200, n_products=80, n_orders=800
    )
    # every curated table round-tripped with the right row count
    assert all(v["row_count_matches"] for v in res.validation.values())
    # quality gate: every rule clean on the curated zone
    report = {r.rule: r.violations for r in res.quality.collect()}
    assert len(report) == 14
    assert all(v == 0 for v in report.values()), report
    # warehouse: revenue per category reconciles with the raw fact sum
    total = res.revenue_by_category.agg(
        F.round(F.sum("revenue"), 2).alias("t")
    ).collect()[0].t
    expected = (
        res.fact_sales.filter(F.col("status") == "completed")
        .agg(F.round(F.sum(F.col("line_total").cast("decimal(14,2)")), 2).cast("double").alias("t"))
        .collect()[0]
        .t
    )
    assert abs(total - expected) < 0.05
    assert res.manifest["n_orders"] == 800


def test_pipeline_counts_rows_from_its_own_writes(spark, tmp_path):
    """Each table's row count comes from its own CSV write, not from a
    job that re-runs the generator, and each curated table's count
    from its parquet footers, not from a scan: the pipeline runs at
    most 14 Spark jobs before it returns, and the manifest counts are
    the raw zone's row counts."""
    import os

    sc = spark.sparkContext
    group = "test_pipeline_counts_rows_from_its_own_writes"
    sc.setJobGroup(group, "lakehouse pipeline")
    try:
        res = run_lakehouse_pipeline(
            spark, str(tmp_path), n_customers=100, n_products=30, n_orders=300
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs <= 14, n_jobs
    for name in ("customers", "products", "orders", "order_items"):
        raw = spark.read.option("header", True).csv(
            os.path.join(res.raw_dir, name)
        )
        n = raw.count()
        assert res.manifest[f"n_{name}"] == n == res.validation[name]["n_rows"]


def test_orders_partitioned_by_year(spark, tmp_path):
    import os

    res = run_lakehouse_pipeline(
        spark, str(tmp_path), n_customers=100, n_products=50, n_orders=300
    )
    orders_dir = os.path.join(res.curated_dir, "orders")
    parts = [d for d in os.listdir(orders_dir) if d.startswith("order_year=")]
    assert len(parts) >= 2  # signup dates span 2023-2026
    # partition pruning: a year-filtered read should only touch that dir
    one_year = parts[0].split("=")[1]
    pruned = spark.read.parquet(orders_dir).filter(F.col("order_year") == int(one_year))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(order_year" in plan or "order_year" in plan


def test_corpus_pipeline_end_to_end(spark, sf_dir, tmp_path):
    """Clean -> cluster-canonical dedup -> leakage-safe split -> chunk
    -> versioned publish: artifacts on disk, counts consistent, no
    cluster straddles splits, chunks reconstruct survivors exactly."""
    from pyspark.sql import functions as F

    from beauty_lakehouse_spark import pipeline, tables
    from beauty_lakehouse_spark.operators import curation, dedup

    res = pipeline.run_corpus_pipeline(spark, sf_dir, str(tmp_path / "corpus"))
    assert 0 < res.n_kept < res.n_input
    assert sum(res.n_chunks.values()) > 0

    # read-back: every split table exists and its docs are disjoint
    seen: dict[str, set] = {}
    for part in ("train", "val", "test"):
        df = tables.read_versioned(spark, str(tmp_path / "corpus" / part))
        seen[part] = {r.doc_id for r in df.select("doc_id").distinct().collect()}
    assert not (seen["train"] & seen["val"])
    assert not (seen["train"] & seen["test"])
    assert not (seen["val"] & seen["test"])

    # leakage-safety is inherited: all published docs of one dedup
    # cluster are in the same split
    comp = {r.id: r.comp for r in dedup.corpus_components(spark, sf_dir).collect()}
    cluster_split: dict[int, str] = {}
    for part, ids in seen.items():
        for d in ids:
            c = comp[d]
            assert cluster_split.setdefault(c, part) == part

    # chunk accounting: published chunk rows == chunk_documents over
    # the surviving docs
    total = sum(res.n_chunks.values())
    survivors = set().union(*seen.values())
    from beauty_lakehouse_spark.catalog import load as _load

    d = _load(spark, sf_dir).documents.filter(F.col("doc_id").isin(survivors))
    assert curation.chunk_documents(d).count() == total

    # manifest written with consistent counts
    import json

    m = json.load(open(tmp_path / "corpus" / "corpus_manifest.json"))
    assert m["n_kept_docs"] == res.n_kept == len(survivors)


def test_corpus_pipeline_promotes_kept_member_when_root_fails(spark, sf_dir, tmp_path):
    """Every cluster with >= 1 cleaned member publishes exactly one
    doc — including clusters whose min-id root failed cleaning (the
    canonical must be promoted, not the cluster dropped)."""
    from pyspark.sql import functions as F

    from beauty_lakehouse_spark import pipeline, tables
    from beauty_lakehouse_spark.operators import curation, dedup

    res = pipeline.run_corpus_pipeline(spark, sf_dir, str(tmp_path / "c2"))
    kept = {
        r.doc_id
        for r in curation.q_corpus_cleaning_report(spark, sf_dir)
        .filter(F.col("reason") == "kept")
        .collect()
    }
    comp = {r.id: r.comp for r in dedup.corpus_components(spark, sf_dir).collect()}
    clusters_with_kept = {comp[d] for d in kept}

    published = set()
    for part in ("train", "val", "test"):
        df = tables.read_versioned(spark, str(tmp_path / "c2" / part))
        published |= {r.doc_id for r in df.select("doc_id").distinct().collect()}
    # one survivor per cluster-with-a-kept-member, and it IS the min kept
    assert len(published) == len(clusters_with_kept) == res.n_kept
    for c in clusters_with_kept:
        members_kept = sorted(d for d in kept if comp[d] == c)
        assert members_kept[0] in published


def test_media_pipeline_end_to_end(spark, sf_dir, tmp_path):
    """The multimodal capstone: real mixed-container bytes (PPM/PNG/
    JPEG) -> decode -> exact-int pHash -> maintained versioned index
    -> banded pairs -> CC clusters -> versioned publish. Maintained
    index ≡ rebuild; published clusters ≡ the in-memory tail; the
    manifest counts are consistent with the artifacts on disk."""
    import json

    from beauty_lakehouse_spark import pipeline, tables
    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.operators import multimodal as mm

    out = str(tmp_path / "media")
    res = pipeline.run_media_pipeline(spark, sf_dir, out)
    assert res.n_media == load(spark, sf_dir).documents.count()
    assert res.n_pairs > 0 and res.n_clustered > 0

    # maintained index content == a from-scratch rebuild of all hashes
    maintained = tables.read_versioned(spark, out + "/phash_index")
    media = mm.mixed_image_from_documents(load(spark, sf_dir).documents)
    rebuilt = mm.phash_exactint_payload(media)
    assert sorted(
        (r.doc_id, r.phash) for r in maintained.collect()
    ) == sorted((r.doc_id, r.phash) for r in rebuilt.collect())

    # the merge actually produced a second version
    assert tables.latest_version(out + "/phash_index") >= 1

    # published clusters == recomputing the tail from the maintained index
    published = sorted(
        tuple(r)
        for r in tables.read_versioned(spark, out + "/media_clusters")
        .select("media_id", "cluster_id", "cluster_size", "is_canonical")
        .collect()
    )
    recomputed = sorted(
        tuple(r)
        for r in mm.phash_pair_clusters(mm.exactint_hash_pairs(maintained))
        .collect()
    )
    assert published == recomputed
    assert len(published) == res.n_clustered

    # manifest round-trips
    m = json.load(open(tmp_path / "media" / "media_manifest.json"))
    assert m["n_media"] == res.n_media
    assert m["n_pairs"] == res.n_pairs
    assert m["containers"] == ["ppm", "png", "jpeg"]
