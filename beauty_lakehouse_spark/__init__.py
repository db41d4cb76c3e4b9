"""beauty_lakehouse_spark — a PySpark-native analytics engine.

A brand-new, idiomatic PySpark engine with the query and data-processing
capabilities of the reference lakehouse project (``zinahalqeji/beauty_lakehouse``,
surveyed in /root/repo/SURVEY.md), re-expressed Spark-first:

- ``session``    — SparkSession factory (AQE on, tuned for local[N] testing,
                   designed for multi-executor clusters).
- ``catalog``    — typed table registry over the parquet fixture tables.
- ``operators``  — the full operator inventory (SURVEY.md §2) plus the
                   LLM-data-pipeline extensions (dedup, similarity search,
                   text analysis, multimodal plumbing).
- ``sources``    — CSV / parquet / JSON-document / Delta(optional) IO.
- ``tables``     — versioned curated tables: manifest snapshots, time
                   travel, merge-on-read MERGE/upsert (one delta file
                   per batch), OPTIMIZE-style compaction/clustering.
- ``functions``  — portable column helpers (cross-engine stable hashing,
                   exact-decimal money arithmetic, epoch-µs timestamps).
- ``streaming``  — Structured Streaming pipelines (windows, watermarks,
                   sessionization) with batch-equivalence semantics.
- ``datagen``    — Spark-native seeded synthetic star-schema generator
                   (reference: src/generate_data.py).
- ``operators.quality`` — validation rules as declarative specs and one
                   report compiler (reference: scripts/validate_dataset.py).

Everything is a pure function ``(SparkSession, tables) -> DataFrame``;
no driver-side collects in any engine path.
"""

__version__ = "0.1.0"
