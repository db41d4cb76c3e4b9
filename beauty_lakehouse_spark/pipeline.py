"""End-to-end lakehouse pipeline — the reference's notebook flow as one
composable function.

Reference flow (notebooks/01_dataLake_ingestion.ipynb): raw CSV → pandas
→ Spark → profile → curated Delta → (declared) warehouse. Engine form:

    raw zone (CSV, declared schemas)
      → curated zone (parquet/Delta, validated read-back)
      → quality report (one compiled rule plan)
      → warehouse fact + rollup
      → run manifest

Everything is distributed end to end — no pandas hop, no driver
collect. Each zone is a directory of real files, so the pipeline is
restartable per-stage and the artifacts are inspectable by any engine.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import datagen, sources
from .session import cores


@dataclass(frozen=True)
class PipelineResult:
    raw_dir: str
    curated_dir: str
    curated_format: str
    validation: dict[str, dict]
    quality: DataFrame        # (rule, violations)
    fact_sales: DataFrame
    revenue_by_category: DataFrame
    manifest: dict


def build_fact_sales(orders: DataFrame, items: DataFrame, products: DataFrame) -> DataFrame:
    """Warehouse fact at line grain (the reference's declared-but-empty
    warehouse/fact_sales, config/settings.ipynb:48)."""
    return (
        items.join(orders, "order_id")
        .join(F.broadcast(products.select("product_id", "category")), "product_id")
        .select(
            "order_item_id",
            "order_id",
            "customer_id",
            "product_id",
            "category",
            "order_date",
            "status",
            "quantity",
            "line_total",
        )
    )


def revenue_by_category(fact: DataFrame) -> DataFrame:
    """The reference's stated warehouse intent (01:448): revenue per
    category, completed orders only."""
    return (
        fact.filter(F.col("status") == "completed")
        .groupBy("category")
        .agg(
            F.round(F.sum(F.col("line_total").cast("decimal(14,2)")), 2)
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def run_lakehouse_pipeline(
    spark: SparkSession,
    base_dir: str,
    n_customers: int = 1_000,
    n_products: int = 300,
    n_orders: int = 5_000,
) -> PipelineResult:
    """Generate → raw CSV → curated → validate → quality → warehouse."""
    raw_dir = os.path.join(base_dir, "raw")
    curated_dir = os.path.join(base_dir, "curated")

    # 1. generate (distributed, seed-stable) and land the raw zone as
    # CSV; each write counts its own rows (an observed metric), so no
    # job re-runs the generator to count them
    ds = datagen.generate(spark, n_customers, n_products, n_orders)
    tables = {
        "customers": ds.customers,
        "products": ds.products,
        "orders": ds.orders,
        "order_items": ds.order_items,
    }
    rows: dict[str, int] = {}
    for name, df in tables.items():
        obs = Observation()
        sources.write_csv(
            df.observe(obs, F.count(F.lit(1)).alias("n")),
            os.path.join(raw_dir, name),
        )
        rows[name] = obs.get["n"]

    # 2. raw → curated: declared-schema CSV read (FAILFAST), then
    # parquet/Delta with read-back validation (S5)
    curated: dict[str, DataFrame] = {}
    validation: dict[str, dict] = {}
    fmt = "parquet"
    for name in tables:
        df = sources.read_csv(
            spark, os.path.join(raw_dir, name), sources.BEAUTY_CSV_SCHEMAS[name]
        )
        path = os.path.join(curated_dir, name)
        # facts are partitioned by event-time year: partition pruning is
        # the dominant scan saver for time-ranged queries at scale
        if name == "orders":
            df = df.withColumn("order_year", F.year("order_date"))
            fmt = sources.write_curated(df, path, partition_by=["order_year"])
        else:
            fmt = sources.write_curated(df, path)
        # one read-back, with the schema from the table's _delta_log:
        # validated, counted, and reused downstream
        cur = sources.read_curated(spark, path, fmt)
        validation[name] = sources.validate_curated(
            spark, path, expected_rows=rows[name], fmt=fmt, df=cur
        )
        if name == "orders":
            cur = cur.drop("order_year")
        curated[name] = cur

    # 3. quality gate over the CURATED zone (validates the whole
    # write→read path, not the in-memory frames)
    cds = datagen.BeautyDataset(
        curated["customers"], curated["products"],
        curated["orders"], curated["order_items"],
    )
    quality = datagen.beauty_report(cds)

    # 4. warehouse layer
    fact = build_fact_sales(cds.orders, cds.order_items, cds.products)
    by_category = revenue_by_category(fact)

    manifest = datagen.run_manifest(rows)
    manifest["curated_format"] = fmt
    sources.write_metadata(os.path.join(base_dir, "metadata.json"), manifest)

    return PipelineResult(
        raw_dir=raw_dir,
        curated_dir=curated_dir,
        curated_format=fmt,
        validation=validation,
        quality=quality,
        fact_sales=fact,
        revenue_by_category=by_category,
        manifest=manifest,
    )


@dataclass(frozen=True)
class CorpusPipelineResult:
    out_dir: str
    n_input: int
    n_kept: int
    n_chunks: dict[str, int]      # split -> chunk rows written
    manifest: dict


def run_corpus_pipeline(
    spark: SparkSession, sf_dir: str, base_dir: str
) -> CorpusPipelineResult:
    """End-to-end training-corpus build — the LLM-data-pipeline
    composition the individual operators exist for:

    1. clean    — C4-style keep/drop with first-failing-reason
                  (``corpus_cleaning_report``: exact-dup canonical,
                  language, quality thresholds);
    2. dedup    — near-duplicate CLUSTER canonicals only
                  (connected components over exact ∪ Jaccard edges);
    3. split    — leakage-safe train/val/test keyed on the cluster id
                  (near-duplicates can never straddle splits);
    4. chunk    — stride-aligned token windows per surviving doc;
    5. publish  — one versioned snapshot table per split
                  (``tables.write_versioned``) + a run manifest.

    Every stage is the registered operator itself (same code the
    oracle gate verifies), so the pipeline's semantics are exactly the
    audited ones. All stages are distributed; the only driver values
    are the manifest counts."""
    from .catalog import load
    from .operators import curation
    from . import tables as vtables

    t = load(spark, sf_dir)
    n_input = t.documents.count()

    # survivor selection + leakage-safe split IS the oracle-matched
    # q_corpus_survivors query (cleaning keep/drop, near-dup clusters,
    # canonical promoted among CLEANED members — a cluster whose min-id
    # root fails cleaning still publishes its best kept member — and
    # the md5 cluster-keyed split): the pipeline publishes exactly the
    # rows the driver gate hash-verifies
    selected = curation.q_corpus_survivors(spark, sf_dir).select(
        "doc_id", "split"
    )
    docs = (
        t.documents.join(selected, "doc_id")
        .cache()
    )
    n_kept = docs.count()

    # chunk once for all three splits (cached: the first split's write
    # fills the cache, and the later filter+write passes read the cached
    # rows instead of re-running the explode + join); the count read-back
    # from the PUBLISHED table doubles as artifact validation
    chunks = (
        curation.chunk_documents(docs)
        .join(docs.select("doc_id", "split", "source"), "doc_id")
        .cache()
    )
    n_chunks: dict[str, int] = {}
    for part in ("train", "val", "test"):
        path = os.path.join(base_dir, part)
        subset = chunks.filter(F.col("split") == part).drop("split")
        vtables.write_versioned(subset, path)
        n_chunks[part] = vtables.read_versioned(spark, path).count()

    manifest = {
        "sf_dir": sf_dir,
        "n_input_docs": n_input,
        "n_kept_docs": n_kept,
        "n_chunks": n_chunks,
        "chunk_size": curation.CHUNK_SIZE,
        "chunk_stride": curation.CHUNK_STRIDE,
    }
    sources.write_metadata(os.path.join(base_dir, "corpus_manifest.json"), manifest)
    return CorpusPipelineResult(
        out_dir=base_dir,
        n_input=n_input,
        n_kept=n_kept,
        n_chunks=n_chunks,
        manifest=manifest,
    )


@dataclass(frozen=True)
class MediaPipelineResult:
    out_dir: str
    n_media: int
    n_pairs: int
    n_clustered: int
    manifest: dict


def run_media_pipeline(
    spark: SparkSession, sf_dir: str, base_dir: str
) -> MediaPipelineResult:
    """End-to-end MEDIA dedup build — the multimodal capstone
    mirroring ``run_corpus_pipeline`` (VERDICT r12 ask #6), every
    stage the registered, oracle-audited operator:

    1. ingest  — mixed-container media table of REAL bytes
                 (``mixed_image_from_documents``: PPM / PNG /
                 baseline JPEG by doc_id % 3);
    2. decode+hash — signature-dispatch decode to the integer raster
                 and the exact-int pHash (``phash_exactint_payload``);
    3. index   — the pHash index published as a versioned table and
                 MAINTAINED through the merge-on-read MERGE (v1
                 snapshot below MEDIA_IDX_SPLIT, overlapping batch
                 upserted — the `media_dedup_maintained` IVM law);
    4. pairs   — banded distinct-hash near-dup candidates
                 (``exactint_hash_pairs``);
    5. clusters — pointer-doubling connected components
                 (``phash_pair_clusters``), published as the final
                 versioned cluster table + a run manifest.

    All stages are distributed; the only driver values are the
    manifest counts. The gate entry (`q_run_media_pipeline`) returns
    the PUBLISHED cluster table, hash-checked against a DuckDB oracle
    that rebuilds the clusters from scratch (per-container hash
    chains + recursive closure) — maintained ≡ rebuild, end to end
    through real container bytes."""
    from .operators import multimodal as mm
    from . import tables as vtables
    from .catalog import load

    t = load(spark, sf_dir)
    media = mm.mixed_image_from_documents(
        t.documents.repartition(cores(spark))
    )
    hashes = mm.phash_exactint_payload(media).localCheckpoint(eager=True)
    n_media = hashes.count()

    idx_path = os.path.join(base_dir, "phash_index")
    vtables.write_versioned(
        hashes.filter(F.col("doc_id") < mm.MEDIA_IDX_SPLIT), idx_path
    )
    vtables.merge_upsert(
        spark,
        idx_path,
        hashes.filter(F.col("doc_id") >= mm.MEDIA_IDX_OVERLAP),
        keys=["doc_id"],
    )
    maintained = vtables.read_versioned(spark, idx_path)

    # one materialization of the banded pair pipeline: the manifest
    # count AND the cluster tail both read the checkpointed 20 rows
    pairs = mm.exactint_hash_pairs(maintained).localCheckpoint(eager=True)
    n_pairs = pairs.count()
    clusters = mm.phash_pair_clusters(pairs)
    clusters_path = os.path.join(base_dir, "media_clusters")
    vtables.write_versioned(clusters, clusters_path)
    published = vtables.read_versioned(spark, clusters_path)
    n_clustered = published.count()

    manifest = {
        "sf_dir": sf_dir,
        "n_media": n_media,
        "n_pairs": n_pairs,
        "n_clustered": n_clustered,
        "containers": ["ppm", "png", "jpeg"],
        "split": mm.MEDIA_IDX_SPLIT,
        "overlap": mm.MEDIA_IDX_OVERLAP,
    }
    sources.write_metadata(
        os.path.join(base_dir, "media_manifest.json"), manifest
    )
    return MediaPipelineResult(
        out_dir=base_dir,
        n_media=n_media,
        n_pairs=n_pairs,
        n_clustered=n_clustered,
        manifest=manifest,
    )
