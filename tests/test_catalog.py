"""catalog.footer_schema: the schema Spark would infer, read from the
parquet footer on the driver, so resolving a table runs no Spark job."""

from __future__ import annotations

import datetime
import decimal
import importlib.util
import inspect
import os
import pathlib
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from beauty_lakehouse_spark import catalog

PACKAGE = pathlib.Path(catalog.__file__).parent
REPO = PACKAGE.parent
TIERS = sorted(
    str(d)
    for root in (pathlib.Path(catalog.DEFAULT_SF_DIR).parent, REPO / "perfbench" / "fixtures")
    for d in root.iterdir()
    if d.is_dir()
)
NANOS = "spark.sql.legacy.parquet.nanosAsLong"


@pytest.fixture
def nanos_as_long(spark):
    """Sets ``nanosAsLong`` (a test passes the value) and restores it."""
    before = spark.conf.get(NANOS, "false")

    def set_(value: bool) -> None:
        spark.conf.set(NANOS, str(value).lower())

    yield set_
    spark.conf.set(NANOS, before)


def _jobs(spark, group: str, fn) -> int:
    """Spark jobs ``fn()`` runs in this thread."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("tier", TIERS)
def test_footer_schema_matches_inference_on_fixtures(spark, tier, nanos_as_long):
    nanos_as_long(True)
    for fname in sorted(os.listdir(tier)):
        path = os.path.join(tier, fname)
        assert catalog.footer_schema(spark, path) == spark.read.parquet(path).schema, path


def test_footer_schema_matches_inference_on_syn_tables(spark, sf_dir, tmp_path, nanos_as_long):
    """The syn tier's tables are Spark-written part-file directories,
    so their schema comes from the row schema Spark stored."""
    spec = importlib.util.spec_from_file_location(
        "scale_curve", REPO / "scripts" / "scale_curve.py"
    )
    scale_curve = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(scale_curve)
    nanos_as_long(True)
    out = scale_curve.build_syn(spark, sf_dir, str(tmp_path), 2)
    for fname in sorted(os.listdir(out)):
        path = os.path.join(out, fname)
        got = catalog.footer_schema(spark, path)
        assert got is not None and got == spark.read.parquet(path).schema, path


_TS = [datetime.datetime(2024, 1, 2, 3, 4, 5, 678901), None]

#: Columns whose schema the footer must give exactly as Spark infers it.
MAPPED = {
    "ts_us": pa.array(_TS, pa.timestamp("us")),
    "ts_ms": pa.array(_TS, pa.timestamp("ms")),
    "ts_us_tz": pa.array(_TS, pa.timestamp("us", tz="UTC")),
    "ts_ms_tz": pa.array(_TS, pa.timestamp("ms", tz="America/New_York")),
    "date32": pa.array([datetime.date(2024, 1, 2), None], pa.date32()),
    "decimal128": pa.array([decimal.Decimal("12.34"), None], pa.decimal128(10, 2)),
    "int8": pa.array([1, None], pa.int8()),
    "int16": pa.array([1, None], pa.int16()),
    "binary": pa.array([b"\x00\x01", None], pa.binary()),
    "large_string": pa.array(["a", None], pa.large_string()),
    "list": pa.array([[1.0, None], None], pa.list_(pa.float32())),
    "struct": pa.array(
        [{"a": 1, "b": ["x"]}, None], pa.struct([("a", pa.int64()), ("b", pa.list_(pa.string()))])
    ),
    "map": pa.array([[("k", 1)], None], pa.map_(pa.string(), pa.int32())),
    "list_of_struct": pa.array(
        [[{"a": 1}], None], pa.list_(pa.struct([pa.field("a", pa.int32(), nullable=False)]))
    ),
}

#: Columns whose schema the footer may leave to Spark's inference.
MAY_FALL_BACK = {
    "uint32": pa.array([1, None], pa.uint32()),
    "uint64": pa.array([1, None], pa.uint64()),
    "dictionary": pa.array(["a", "b"]).dictionary_encode(),
    "ts_s": pa.array(_TS, pa.timestamp("s")),
}


@pytest.mark.parametrize("column", sorted(MAPPED))
def test_footer_schema_maps_pyarrow_types(spark, tmp_path, column, nanos_as_long):
    nanos_as_long(False)
    path = str(tmp_path / f"{column}.parquet")
    pq.write_table(pa.table({column: MAPPED[column]}), path)
    got = catalog.footer_schema(spark, path)
    assert got is not None and got == spark.read.parquet(path).schema


@pytest.mark.parametrize("column", sorted(MAY_FALL_BACK))
def test_footer_schema_agrees_or_falls_back(spark, tmp_path, column, nanos_as_long):
    nanos_as_long(False)
    path = str(tmp_path / f"{column}.parquet")
    pq.write_table(pa.table({column: MAY_FALL_BACK[column]}), path)
    got = catalog.footer_schema(spark, path)
    assert got is None or got == spark.read.parquet(path).schema


@pytest.mark.parametrize(
    "key", ["spark.sql.parquet.binaryAsString", "spark.sql.parquet.inferTimestampNTZ.enabled"]
)
def test_footer_schema_follows_parquet_read_confs(spark, tmp_path, key):
    """Flipping a conf that changes Spark's inferred types changes the
    footer's schema the same way."""
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({c: MAPPED[c] for c in ("binary", "ts_us", "ts_us_tz")}), path)
    before = spark.conf.get(key)
    spark.conf.set(key, str(before.lower() != "true").lower())
    try:
        got = catalog.footer_schema(spark, path)
        assert got is not None and got == spark.read.parquet(path).schema
    finally:
        spark.conf.set(key, before)


@pytest.mark.parametrize("tz", [None, "UTC"])
def test_footer_schema_follows_nanos_as_long(spark, tmp_path, tz, nanos_as_long):
    """``TIMESTAMP(NANOS)`` is a long under ``nanosAsLong``; without it
    Spark refuses the type, and the footer leaves the error to Spark."""
    path = str(tmp_path / "nanos.parquet")
    pq.write_table(pa.table({"ts": pa.array(_TS, pa.timestamp("ns", tz=tz))}), path)
    nanos_as_long(True)
    got = catalog.footer_schema(spark, path)
    assert got is not None and got == spark.read.parquet(path).schema
    nanos_as_long(False)
    assert catalog.footer_schema(spark, path) is None
    with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL|Illegal Parquet type"):
        spark.read.parquet(path).schema


def test_footer_schema_falls_back_for_layouts_it_cannot_read(spark, tmp_path):
    table = pa.table({"a": pa.array([1, 2], pa.int64()), "p": ["x", "y"]})
    part = tmp_path / "partitioned"
    pq.write_to_dataset(table, str(part), partition_cols=["p"])
    assert catalog.footer_schema(spark, str(part)) is None
    assert "p" in spark.read.parquet(str(part)).columns

    mixed = tmp_path / "mixed"
    mixed.mkdir()
    pq.write_table(pa.table({"a": pa.array([1], pa.int64())}), str(mixed / "0.parquet"))
    pq.write_table(pa.table({"a": pa.array([1], pa.int32())}), str(mixed / "1.parquet"))
    assert catalog.footer_schema(spark, str(mixed)) is None

    same = tmp_path / "same"
    same.mkdir()
    for i in range(2):
        pq.write_table(pa.table({"a": pa.array([i], pa.int64())}), str(same / f"{i}.parquet"))
    (same / "_SUCCESS").touch()
    got = catalog.footer_schema(spark, str(same))
    assert got is not None and got == spark.read.parquet(str(same)).schema

    assert catalog.footer_schema(spark, "s3a://bucket/t.parquet") is None
    assert catalog.footer_schema(spark, str(tmp_path / "missing.parquet")) is None
    bad = tmp_path / "bad.parquet"
    bad.write_bytes(b"not parquet")
    assert catalog.footer_schema(spark, str(bad)) is None


def test_catalog_and_stream_resolve_without_a_job(spark, sf_dir, tmp_path):
    """A fresh fixture copy (so no memoized handle serves it): resolving
    all 10 tables and building the events stream run no Spark job."""
    from beauty_lakehouse_spark.streaming import pipelines

    fx = str(shutil.copytree(sf_dir, tmp_path / "fx"))
    t = catalog.load(spark, fx)
    assert _jobs(spark, "catalog_resolve", lambda: list(map(t.table, catalog.TABLE_COLUMNS))) == 0
    assert _jobs(spark, "stream_events_build", lambda: pipelines.stream_events(spark, fx)) == 0


def _scan(df) -> tuple[str, str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return (
        re.search(r"PushedFilters: \[[^\]]*\]", plan).group(0),
        re.search(r"ReadSchema: \S+", plan).group(0),
    )


def test_footer_schema_read_keeps_pushdown(spark, sf_dir):
    """The schema passed is the file's own, so no cast sits between the
    filter and the scan: the pushed filters and read schema equal an
    inferring read's."""
    t = catalog.load(spark, sf_dir)
    for name, pred, cols in (
        ("lineitem", F.col("l_quantity") > 10, ["l_orderkey", "l_quantity"]),
        ("orders", F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp_ntz"),
         ["o_orderkey", "o_orderdate"]),
    ):
        inferred = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        assert _scan(t.table(name).filter(pred).select(cols)) == _scan(
            inferred.filter(pred).select(cols)
        )


def test_schema_inferring_parquet_reads_stay_in_the_fallback():
    """Every batch parquet read in the package goes through
    ``catalog.read_parquet``: the one ``.read.parquet(`` call left is
    its fallback for layouts the footer cannot resolve."""
    pattern = re.compile(r"\.read\s*\.parquet\(")
    sites = [
        (str(p.relative_to(PACKAGE)), n)
        for p in sorted(PACKAGE.rglob("*.py"))
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    lines, start = inspect.getsourcelines(catalog.read_parquet)
    assert len(sites) == 1 and sites[0][0] == "catalog.py", sites
    assert start <= sites[0][1] < start + len(lines), sites
