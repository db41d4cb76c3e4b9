"""Typed table registry over the fixture parquet tables.

The reference relies on schema *inference* and then post-hoc checks
(SURVEY.md §1.3: CSV → pandas → ``createDataFrame`` with inferred schema,
then a validator diffs expected columns). Our engine inverts that:
schemas are declared here, reads are verified against them at load time,
and the declaration doubles as documentation for every operator.

We deliberately do NOT pass the schema into ``spark.read.parquet`` —
parquet is self-describing, and forcing a user schema would insert casts
that block predicate pushdown into the scan. Instead we assert
compatibility after the (lazy, metadata-only) read.

Scale notes (100 TB):
- Reads stay fully lazy; a ``Catalog`` is just a dict of unresolved scans.
- Fact tables (``lineitem``, ``orders``, ``events``) should be
  date-partitioned at scale; the loader transparently supports
  directory-partitioned layouts because it reads whatever parquet tree
  sits at ``{sf_dir}/{name}.parquet``.
- Dimension tables are flagged ``broadcastable`` so join builders can
  hint them explicitly instead of trusting size estimation.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from . import memo
from .session import cores, spread

# Expected logical schemas for the driver fixture tables
# (/root/repo/FIXTURES.md §B). Integer widths may be narrower on disk
# (int32 vs int64) — compatibility, not identity, is asserted.
TABLE_COLUMNS: dict[str, list[tuple[str, type]]] = {
    "region": [("r_regionkey", T.IntegralType), ("r_name", T.StringType)],
    "nation": [
        ("n_nationkey", T.IntegralType),
        ("n_name", T.StringType),
        ("n_regionkey", T.IntegralType),
    ],
    "customer": [
        ("c_custkey", T.IntegralType),
        ("c_name", T.StringType),
        ("c_nationkey", T.IntegralType),
        ("c_acctbal", T.NumericType),
        ("c_mktsegment", T.StringType),
    ],
    "supplier": [
        ("s_suppkey", T.IntegralType),
        ("s_name", T.StringType),
        ("s_nationkey", T.IntegralType),
        ("s_acctbal", T.NumericType),
    ],
    "part": [
        ("p_partkey", T.IntegralType),
        ("p_name", T.StringType),
        ("p_brand", T.StringType),
        ("p_type", T.StringType),
        ("p_size", T.IntegralType),
        ("p_retailprice", T.NumericType),
    ],
    "orders": [
        ("o_orderkey", T.IntegralType),
        ("o_custkey", T.IntegralType),
        ("o_orderstatus", T.StringType),
        ("o_totalprice", T.NumericType),
        ("o_orderdate", (T.TimestampType, T.TimestampNTZType, T.DateType)),
        ("o_orderpriority", T.StringType),
    ],
    "lineitem": [
        ("l_orderkey", T.IntegralType),
        ("l_partkey", T.IntegralType),
        ("l_suppkey", T.IntegralType),
        ("l_linenumber", T.IntegralType),
        ("l_quantity", T.NumericType),
        ("l_extendedprice", T.NumericType),
        ("l_discount", T.NumericType),
        ("l_tax", T.NumericType),
        ("l_returnflag", T.StringType),
        ("l_linestatus", T.StringType),
        ("l_shipdate", (T.TimestampType, T.TimestampNTZType, T.DateType)),
    ],
    "events": [
        ("event_id", T.IntegralType),
        ("ts", (T.TimestampType, T.TimestampNTZType)),
        ("user_id", T.IntegralType),
        ("event_type", T.StringType),
        ("value", T.NumericType),
        ("props", T.StringType),
    ],
    "documents": [
        ("doc_id", T.IntegralType),
        ("text", T.StringType),
        ("lang", T.StringType),
        ("source", T.StringType),
        ("n_chars", T.IntegralType),
    ],
    "embeddings": [
        ("vec_id", T.IntegralType),
        ("embedding", T.ArrayType),
        ("label", T.IntegralType),
    ],
}

#: Dimension tables small enough to broadcast at any realistic scale.
#: (customer/part/supplier are broadcastable at test SFs but grow with SF;
#: join builders broadcast them only when explicitly asked.)
ALWAYS_BROADCAST = frozenset({"region", "nation"})

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


@dataclass
class Catalog:
    """Lazy handle on one scale factor's tables."""

    spark: SparkSession
    sf_dir: str
    _cache: dict[str, DataFrame] = field(default_factory=dict)

    def table(self, name: str) -> DataFrame:
        if name not in TABLE_COLUMNS:
            raise KeyError(f"unknown table {name!r}; known: {sorted(TABLE_COLUMNS)}")
        if name not in self._cache:
            self._cache[name] = _resolve_table(self.spark, self.sf_dir, name)
        return self._cache[name]

    def __getattr__(self, name: str) -> DataFrame:
        if name in TABLE_COLUMNS:
            return self.table(name)
        raise AttributeError(name)

    def register_temp_views(self) -> None:
        """Expose every table as a SQL temp view (the spark.sql front door)."""
        for name in TABLE_COLUMNS:
            self.table(name).createOrReplaceTempView(name)


def _resolve_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The resolved, schema-checked table HANDLE, memoized per session
    and per table fingerprint (`memo`) — the metastore role: resolving
    a path-based parquet read costs a driver round-trip plus a footer
    schema-inference job (~0.12 s/table measured), and every operator
    rebuild re-paid it. Only the handle (logical plan metadata) is
    kept, never rows: every execution still scans the parquet files.
    A table rewritten in place, including one part file of a directory
    table, re-resolves; a production deployment gets the same effect
    from catalog tables instead of path reads."""
    return memo.get_or_build(
        "table", spark, os.path.join(sf_dir, f"{name}.parquet"), _read_table, name
    )


def _read_table(spark: SparkSession, path: str, name: str) -> DataFrame:
    import re

    # batch reads glob their paths too — escape metacharacters so e.g.
    # a bracketed fixture dir resolves the literal path instead of
    # failing/matching wrong files
    df = spark.read.parquet(re.sub(r"([\[\]{}*?\\])", r"\\\1", path))
    df = _normalize_nanos(df)
    _assert_schema(name, df)
    return df


def load(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> Catalog:
    # Event-time bucketing and date formatting must be tz-stable regardless
    # of who built the session (the driver builds its own).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # The fixtures write events.ts as parquet TIMESTAMP(NANOS), which the
    # Spark 4 vectorized reader rejects ([PARQUET_TYPE_ILLEGAL]). Reading
    # nanos as int64 and rebuilding the timestamp in _normalize_nanos keeps
    # the scan vectorized; truncation ns→µs matches DuckDB's epoch_us.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return Catalog(spark=spark, sf_dir=sf_dir)


#: Columns that are TIMESTAMP(NANOS) on disk, surfaced as proper timestamps.
NANOS_COLUMNS: dict[str, str] = {"ts": "ts"}


def _normalize_nanos(df: DataFrame) -> DataFrame:
    """Normalize the event-time column to TimestampType.

    Two on-disk encodings are observed across driver fixture generations:

    - TIMESTAMP(NANOS): with ``nanosAsLong=true`` it arrives as int64
      nanoseconds; ``ts div 1000`` (integer division — a float division
      would lose precision above 2^53) then ``timestamp_micros`` restores
      a real timestamp, truncated to µs exactly like DuckDB's ``epoch_us``.
    - timestamp[us] without timezone: arrives as TimestampNTZType; under
      the pinned UTC session timezone a plain cast to TimestampType keeps
      the same wall-clock instant (and matches DuckDB's naive TIMESTAMP).
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    for col in NANOS_COLUMNS:
        if col not in df.columns:
            continue
        dtype = df.schema[col].dataType
        if isinstance(dtype, T.LongType):
            df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
        elif isinstance(dtype, T.TimestampNTZType):
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def spread_scan(df: DataFrame) -> DataFrame:
    """Spread an UNSPLITTABLE small scan across the cluster's cores
    (optimization guide §2.5, "input skew: one huge unsplittable
    file... otherwise repartition immediately after the read").

    Parquet splits align to row groups, so a fixture file written as a
    single row group always scans as ONE task no matter what
    ``maxPartitionBytes``/``minPartitionNum`` say — and every per-row
    expression downstream of that scan (fixed-point folds, hash
    kernels) then runs single-threaded. ``session.spread`` decides
    from the scan's split count; a production fact scan has thousands
    of row-group splits, so no full-table shuffle is added there.
    Round-robin assignment stays deterministic under retries
    (``spark.sql.execution.sortBeforeRepartition`` default).

    Call it on a NARROW projection (project first, spread the few
    columns you compute on — §2.3), and only in operators whose
    per-row work is the measured bottleneck.

    The split estimate is driver-only metadata (``inputFiles`` + local
    file sizes) — deliberately NOT ``df.rdd.getNumPartitions()``, which
    materializes the plan and can execute shuffle stages under AQE."""
    if df.isStreaming:
        # streaming plans spread their documents source separately
        # (streaming.pipelines._spread_stream_scan)
        return df
    n = cores(df.sparkSession)
    try:
        files = df.inputFiles()
    except Exception:
        return df
    if not files:
        # unknown provenance (in-memory relation, sink-backed view):
        # splits=0 would otherwise force an unconditional shuffle onto
        # a frame whose parallelism we know nothing about (ADVICE r13)
        return df
    splits = 0
    for f in files:
        try:
            size = os.path.getsize(f.removeprefix("file:"))
        except OSError:
            # non-local FS: size unknown; count the file as parallel
            # enough that a big remote table is never re-shuffled
            splits += max(1, n // len(files))
            continue
        splits += 1 + size // (128 * 1024 * 1024)
    return spread(df, splits, n)


def _assert_schema(name: str, df: DataFrame) -> None:
    expected = TABLE_COLUMNS[name]
    actual = {f.name: f.dataType for f in df.schema.fields}
    missing = [c for c, _ in expected if c not in actual]
    if missing:
        raise ValueError(f"table {name!r}: missing columns {missing}; got {sorted(actual)}")
    for col, kind in expected:
        if not isinstance(actual[col], kind):
            raise TypeError(
                f"table {name!r}: column {col!r} has {actual[col]}, expected {kind}"
            )
