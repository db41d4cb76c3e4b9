"""Typed table registry over the fixture parquet tables.

The reference relies on schema *inference* and then post-hoc checks
(SURVEY.md §1.3: CSV → pandas → ``createDataFrame`` with inferred schema,
then a validator diffs expected columns). Our engine inverts that:
schemas are declared here, reads are verified against them at load time,
and the declaration doubles as documentation for every operator.

The schema is read from the table's own parquet footer on the driver
(``footer_schema``) and passed to ``spark.read.schema(...).parquet``,
so resolving a table starts no Spark job; inference would run one job
per table to read that same footer. Because the schema passed is the
file's own, Spark inserts no cast and the scan keeps its predicate
pushdown (``tests/test_catalog.py`` compares the pushed filters with
an inferring read's). The declared columns are then asserted against
the resolved schema.

Scale notes (100 TB):
- Reads stay fully lazy; a ``Catalog`` is just a dict of unresolved scans.
- Fact tables (``lineitem``, ``orders``, ``events``) should be
  date-partitioned at scale; the loader transparently supports
  directory-partitioned layouts because it reads whatever parquet tree
  sits at ``{sf_dir}/{name}.parquet`` (such a table's partition
  columns come from Spark's inference, one job per resolve).
- Dimension tables are flagged ``broadcastable`` so join builders can
  hint them explicitly instead of trusting size estimation.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field
from urllib.parse import urlsplit

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
    a path-based parquet read costs a driver round-trip and a footer
    read (``read_parquet``), and every operator rebuild re-paid it.
    Only the handle (logical plan metadata) is kept, never rows: every
    execution still scans the parquet files. A table rewritten in
    place, including one part file of a directory table, re-resolves;
    a production deployment gets the same effect from catalog tables
    instead of path reads."""
    return memo.get_or_build(
        "table", spark, os.path.join(sf_dir, f"{name}.parquet"), _read_table, name
    )


def _read_table(spark: SparkSession, path: str, name: str) -> DataFrame:
    df = _normalize_nanos(read_parquet(spark, path))
    _assert_schema(name, df)
    return df


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Batch read of the parquet file or directory at the literal local
    ``path``, with the schema from its footer (``footer_schema``): no
    Spark job runs before the first action. Where the footer cannot
    stand in for Spark's inference, Spark infers it, which runs one
    job. Batch reads glob their paths, so metacharacters are escaped:
    a bracketed fixture dir resolves the literal path instead of
    failing or matching the wrong files."""
    glob = re.sub(r"([\[\]{}*?\\])", r"\\\1", path)
    schema = footer_schema(spark, path)
    if schema is None:
        return spark.read.parquet(glob)
    return spark.read.schema(schema).parquet(glob)


#: Footer key under which Spark's writer stores the row schema it wrote.
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def footer_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """The schema Spark would infer for the parquet file or directory
    at ``path``, read from the footer on the driver with pyarrow, by
    Spark's own rule: the row schema a Spark writer stored in the
    footer when there is one, else the parquet schema converted; then
    every field, array element and map value made nullable, as
    ``HadoopFsRelation`` does. ``TIMESTAMP(NANOS)`` is ``LongType``
    under ``spark.sql.legacy.parquet.nanosAsLong``; a timestamp not
    adjusted to UTC is ``TimestampNTZType`` (while
    ``spark.sql.parquet.inferTimestampNTZ.enabled``), one adjusted to
    UTC is ``TimestampType``.

    ``None`` where the footer cannot stand in for inference: a remote
    URI, a directory with subdirectories (a ``k=v`` partitioned table)
    or summary files, data files whose schemas disagree, a file pyarrow
    cannot read, and any type this does not map (unsigned ints, INT96,
    nanos without ``nanosAsLong``, field ids, ...)."""
    url = urlsplit(path)
    if url.scheme not in ("", "file"):
        return None
    files = _parquet_data_files(url.path if url.scheme else path)
    if not files:
        return None
    import pyarrow.parquet as pq

    conf = tuple(
        spark.conf.get(key, default).lower() == "true"
        for key, default in (
            ("spark.sql.legacy.parquet.nanosAsLong", "false"),
            ("spark.sql.parquet.inferTimestampNTZ.enabled", "true"),
            ("spark.sql.parquet.binaryAsString", "false"),
        )
    )
    schemas = set()
    for f in files:
        try:
            meta = pq.read_metadata(f)
        except (OSError, ValueError):  # not parquet, or unreadable
            return None
        schema = _file_schema(meta, conf)
        if schema is None:
            return None
        schemas.add(schema.json())
    if len(schemas) != 1:
        return None
    return schema


def _parquet_data_files(path: str) -> list[str] | None:
    """The data files Spark lists at a local ``path`` (names starting
    with ``_`` or ``.`` are hidden), or ``None`` when the layout is one
    whose inferred schema a single footer does not give: a
    subdirectory (partition columns), or a ``_metadata`` /
    ``_common_metadata`` summary file (Spark reads those first)."""
    if os.path.isfile(path):
        return [path]
    if not os.path.isdir(path):
        return None
    files = []
    for name in sorted(os.listdir(path)):
        full = os.path.join(path, name)
        if name.startswith(("_metadata", "_common_metadata")) or os.path.isdir(full):
            return None
        if not name.startswith(("_", ".")):
            files.append(full)
    return files


def _file_schema(meta, conf: tuple[bool, bool, bool]) -> T.StructType | None:
    """One file's schema from its footer (pyarrow ``FileMetaData``)."""
    stored = (meta.metadata or {}).get(_SPARK_ROW_METADATA)
    if stored is not None:
        try:
            return _as_nullable(T.StructType.fromJson(json.loads(stored)))
        except (ValueError, KeyError, TypeError):  # a legacy schema string
            return None
    leaves = iter(meta.schema.column(i) for i in range(len(meta.schema)))
    fields = []
    for f in meta.schema.to_arrow_schema():
        if f.metadata and b"PARQUET:field_id" in f.metadata:
            return None
        dtype = _spark_type(f.type, leaves, conf)
        if dtype is None:
            return None
        fields.append(T.StructField(f.name, dtype, True))
    if next(leaves, None) is not None:
        return None
    return T.StructType(fields)


def _spark_type(atype, leaves, conf: tuple[bool, bool, bool]) -> T.DataType | None:
    """Spark type of one arrow field: nesting (struct, list, map) from
    the arrow schema, each leaf's type from its parquet column, which
    is what Spark converts (arrow restores types, e.g. dictionaries,
    that the file does not hold)."""
    import pyarrow as pa

    if pa.types.is_struct(atype):
        fields = []
        for i in range(atype.num_fields):
            f = atype.field(i)
            dtype = _spark_type(f.type, leaves, conf)
            if dtype is None:
                return None
            fields.append(T.StructField(f.name, dtype, True))
        return T.StructType(fields)
    if pa.types.is_list(atype) or pa.types.is_large_list(atype) or (
        pa.types.is_fixed_size_list(atype)
    ):
        elem = _spark_type(atype.value_type, leaves, conf)
        return None if elem is None else T.ArrayType(elem, True)
    if pa.types.is_map(atype):
        key = _spark_type(atype.key_type, leaves, conf)
        value = _spark_type(atype.item_type, leaves, conf)
        return None if key is None or value is None else T.MapType(key, value, True)
    if isinstance(atype, pa.ExtensionType):
        return None
    leaf = next(leaves, None)
    return None if leaf is None else _leaf_type(leaf, *conf)


def _leaf_type(col, nanos_as_long: bool, infer_ntz: bool, binary_as_string: bool):
    """Spark's type for one parquet leaf column (physical type plus
    logical annotation), or ``None`` for an unmapped one."""
    physical = col.physical_type
    logical = json.loads(col.logical_type.to_json())
    kind = logical["Type"]
    if kind == "Decimal":
        if logical["precision"] > 38:
            return None
        return T.DecimalType(logical["precision"], logical["scale"])
    if kind == "None":
        return {
            "BOOLEAN": T.BooleanType(), "INT32": T.IntegerType(), "INT64": T.LongType(),
            "FLOAT": T.FloatType(), "DOUBLE": T.DoubleType(),
            "BYTE_ARRAY": T.StringType() if binary_as_string else T.BinaryType(),
            "FIXED_LEN_BYTE_ARRAY": T.BinaryType(),
        }.get(physical)
    if kind == "Int" and logical["isSigned"]:
        return {
            ("INT32", 8): T.ByteType(), ("INT32", 16): T.ShortType(),
            ("INT32", 32): T.IntegerType(), ("INT64", 64): T.LongType(),
        }.get((physical, logical["bitWidth"]))
    if kind == "String" and physical == "BYTE_ARRAY":
        return T.StringType()
    if kind == "Date" and physical == "INT32":
        return T.DateType()
    if kind == "Timestamp" and physical == "INT64":
        if logical["timeUnit"] == "nanoseconds":
            return T.LongType() if nanos_as_long else None
        if logical["isAdjustedToUTC"] or not infer_ntz:
            return T.TimestampType()
        return T.TimestampNTZType()
    return None


def _as_nullable(dtype: T.DataType) -> T.DataType:
    """``dtype`` with every field, array element and map value nullable
    (Spark's ``DataType.asNullable``)."""
    if isinstance(dtype, T.StructType):
        return T.StructType([
            T.StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
            for f in dtype.fields
        ])
    if isinstance(dtype, T.ArrayType):
        return T.ArrayType(_as_nullable(dtype.elementType), True)
    if isinstance(dtype, T.MapType):
        return T.MapType(_as_nullable(dtype.keyType), _as_nullable(dtype.valueType), True)
    return dtype


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
