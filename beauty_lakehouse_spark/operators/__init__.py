"""Operator library.

Each module maps a slice of the reference's operator inventory
(SURVEY.md §2) or a north-star extension to idiomatic Spark:

- ``relational``  — scans, projections, filters, joins, aggregations,
                    top-k (ref §2.1–2.6).
- ``documents``   — nested-document collapse/explode (ref A3,
                    notebooks/02_document_db_mongodb.ipynb:222-244).
- ``warehouse``   — the declared-but-empty warehouse layer (ref L3):
                    star joins, rollups, window functions.
- ``graph``       — the declared-but-empty graph layer (ref L4):
                    co-purchase edges, degrees, PageRank.
- ``events``      — event-time windows (tumbling/sliding/session),
                    JSON props, funnel, pivot over the events table.
- ``temporal``    — as-of join (union+window form) and range-frame
                    trailing-window aggregation.
- ``decision_support`` — TPC-H-style subquery shapes (EXISTS/NOT
                    EXISTS decorrelation, scalar-subquery compares,
                    outer-join distributions, disjunctive pushdown).
- ``dedup``       — exact + MinHash/LSH + n-gram-Jaccard + SimHash +
                    embedding-cosine near-dup.
- ``text``        — language-ID, quality scoring, token counting,
                    fingerprinting, TF-IDF.
- ``similarity``  — embedding cosine top-k (brute force, multi-table
                    LSH, IVF).
- ``multimodal``  — binary-column plumbing for image/audio payloads
                    (decode/feature/resize/frame-sample kernels).
- ``quality``     — the reference validator (scripts/validate_dataset.py)
                    as declarative rule specs and one report compiler
                    + sketch profiling.

All query entry points share the driver signature
``(SparkSession, sf_dir: str) -> DataFrame`` and alias every computed
column to match their DuckDB oracle twin.
"""
