"""Versioned curated tables: snapshots, time travel, copy-on-write MERGE."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from beauty_lakehouse_spark import tables


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "k int, v string, year int"
    )


def test_write_read_and_time_travel(spark, tmp_path):
    path = str(tmp_path / "tbl")
    v1_rows = [(1, "a", 1995), (2, "b", 1995), (3, "c", 1996)]
    assert tables.write_versioned(_df(spark, v1_rows), path, "year") == 1
    v2_rows = [(1, "a2", 1995), (4, "d", 1997)]
    assert tables.write_versioned(_df(spark, v2_rows), path, "year") == 2

    assert tables.latest_version(path) == 2
    got_v1 = {(r.k, r.v, r.year) for r in tables.read_versioned(spark, path, 1).collect()}
    got_v2 = {(r.k, r.v, r.year) for r in tables.read_versioned(spark, path).collect()}
    assert got_v1 == set(v1_rows)
    assert got_v2 == set(v2_rows)


def test_merge_insert_update_delete(spark, tmp_path):
    path = str(tmp_path / "tbl")
    tables.write_versioned(
        _df(spark, [(1, "a", 1995), (2, "b", 1995), (3, "c", 1996)]), path, "year"
    )
    source = _df(spark, [(2, "B!", 1995), (9, "new", 1996)])
    deletes = spark.createDataFrame([(3,)], "k int")
    v = tables.merge_upsert(spark, path, source, keys=["k"], deletes=deletes)
    assert v == 2
    got = {(r.k, r.v, r.year) for r in tables.read_versioned(spark, path).collect()}
    assert got == {(1, "a", 1995), (2, "B!", 1995), (9, "new", 1996)}
    # time travel: v1 unchanged
    v1 = {(r.k, r.v, r.year) for r in tables.read_versioned(spark, path, 1).collect()}
    assert v1 == {(1, "a", 1995), (2, "b", 1995), (3, "c", 1996)}


def test_merge_rewrites_only_affected_partitions(spark, tmp_path):
    """Copy-on-write at partition granularity: a merge touching only
    1996 must inherit the 1995 directory from v1 by reference."""
    path = str(tmp_path / "tbl")
    tables.write_versioned(
        _df(spark, [(1, "a", 1995), (3, "c", 1996)]), path, "year"
    )
    tables.merge_upsert(
        spark, path, _df(spark, [(3, "C!", 1996)]), keys=["k"]
    )
    m = tables.read_manifest(path)
    assert m["dirs"]["1995"].startswith("v00000001"), m["dirs"]
    assert m["dirs"]["1996"].startswith("v00000002"), m["dirs"]


def test_merge_partition_moving_update(spark, tmp_path):
    """An upsert that changes the partition column must remove the stale
    row from the old partition (both partitions rewritten)."""
    path = str(tmp_path / "tbl")
    tables.write_versioned(
        _df(spark, [(1, "a", 1995), (2, "b", 1996)]), path, "year"
    )
    tables.merge_upsert(
        spark, path, _df(spark, [(1, "a-moved", 1997)]), keys=["k"]
    )
    got = {(r.k, r.v, r.year) for r in tables.read_versioned(spark, path).collect()}
    assert got == {(1, "a-moved", 1997), (2, "b", 1996)}


def test_merge_unpartitioned(spark, tmp_path):
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    tables.write_versioned(df, path)
    src = spark.createDataFrame([(2, "B!"), (3, "c")], "k int, v string")
    tables.merge_upsert(spark, path, src, keys=["k"])
    got = {(r.k, r.v) for r in tables.read_versioned(spark, path).collect()}
    assert got == {(1, "a"), (2, "B!"), (3, "c")}


def test_delete_empties_partition(spark, tmp_path):
    path = str(tmp_path / "tbl")
    tables.write_versioned(
        _df(spark, [(1, "a", 1995), (2, "b", 1996)]), path, "year"
    )
    tables.merge_upsert(
        spark, path,
        _df(spark, []).limit(0),
        keys=["k"],
        deletes=spark.createDataFrame([(2,)], "k int"),
    )
    got = {(r.k, r.v, r.year) for r in tables.read_versioned(spark, path).collect()}
    assert got == {(1, "a", 1995)}
    assert "1996" not in tables.read_manifest(path)["dirs"]


def test_read_missing_table_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        tables.read_versioned(spark, str(tmp_path / "nope"))


def test_manifest_publish_is_atomic(spark, tmp_path):
    """No .tmp leftovers; versions dense from 1..latest."""
    path = str(tmp_path / "tbl")
    tables.write_versioned(_df(spark, [(1, "a", 1995)]), path, "year")
    tables.merge_upsert(spark, path, _df(spark, [(1, "a2", 1995)]), keys=["k"])
    mdir = os.path.join(path, "_manifests")
    names = sorted(os.listdir(mdir))
    assert names == ["00000001.json", "00000002.json"]


def _files_in(path, rel):
    d = os.path.join(path, rel)
    return [f for f in os.listdir(d) if f.endswith(".parquet")]


def test_compact_reduces_files_and_preserves_data(spark, tmp_path):
    path = str(tmp_path / "tbl")
    # fan each partition out to 4 writers (the huge-partition posture) —
    # compaction then has real fragments to bin-pack
    tables.write_versioned(
        _df(spark, [(i, f"v{i}", 1995 + i % 2) for i in range(40)]),
        path, "year", files_per_partition=4,
    )
    m0 = tables.read_manifest(path)
    assert any(len(_files_in(path, rel)) > 1 for rel in m0["dirs"].values())
    before = {(r.k, r.v, r.year) for r in tables.read_versioned(spark, path).collect()}
    pre_version = tables.latest_version(path)

    v = tables.compact(spark, path, max_files=1)
    assert v == pre_version + 1
    m = tables.read_manifest(path)
    for key, rel in m["dirs"].items():
        assert len(_files_in(path, rel)) == 1, (key, rel)
    after = {(r.k, r.v, r.year) for r in tables.read_versioned(spark, path).collect()}
    assert after == before
    # time travel to the pre-compaction snapshot still resolves
    pre = {(r.k, r.v, r.year)
           for r in tables.read_versioned(spark, path, pre_version).collect()}
    assert pre == before
    # idempotent: nothing left to do -> no new version
    assert tables.compact(spark, path, max_files=1) == v


def test_compact_cluster_by_sorts_row_groups(spark, tmp_path):
    import pyarrow.parquet as pq

    path = str(tmp_path / "tbl")
    rows = [(i * 7919 % 100, f"v{i}", 1995) for i in range(50)]
    tables.write_versioned(_df(spark, rows), path, "year")
    tables.compact(spark, path, max_files=1, cluster_by=["k"])
    rel = tables.read_manifest(path)["dirs"]["1995"]
    files = _files_in(path, rel)
    assert len(files) == 1
    ks = pq.read_table(os.path.join(path, rel, files[0]), columns=["k"])["k"].to_pylist()
    assert ks == sorted(ks)


def test_table_changes_feed(spark, tmp_path):
    """v1->v2 change feed: update = delete+insert image pair; unchanged
    partitions are pruned by manifest diff (identical dir reference)."""
    path = str(tmp_path / "tbl")
    tables.write_versioned(
        _df(spark, [(1, "a", 1995), (2, "b", 1996), (3, "c", 1997)]), path, "year"
    )
    tables.merge_upsert(
        spark, path,
        _df(spark, [(2, "B!", 1996), (9, "new", 1996)]),
        keys=["k"],
        deletes=spark.createDataFrame([(3,)], "k int"),
    )
    feed = {
        (r.change_type, r.k, r.v, r.year)
        for r in tables.table_changes(spark, path, 1, 2).collect()
    }
    assert feed == {
        ("delete", 2, "b", 1996),
        ("insert", 2, "B!", 1996),
        ("insert", 9, "new", 1996),
        ("delete", 3, "c", 1997),
    }
    # identical snapshots -> empty feed, and nothing is scanned (all
    # directory references equal)
    assert tables.table_changes(spark, path, 2, 2).count() == 0


def test_snapshot_reads_take_the_schema_from_the_manifest(spark, tmp_path):
    """The manifest records the schema Spark reads the files back with
    (nested fields too), so a snapshot read and a change feed start no
    Spark job before an action."""
    from pyspark.sql import types as T

    i = T.IntegerType()
    nested = spark.createDataFrame(
        [(1, [1, 2], (3,), {"a": 4})],
        T.StructType([
            T.StructField("k", i, False),
            T.StructField("a", T.ArrayType(i, False), False),
            T.StructField("s", T.StructType([T.StructField("x", i, False)])),
            T.StructField("mp", T.MapType(T.StringType(), i, False)),
        ]),
    )
    npath = str(tmp_path / "nested")
    tables.write_versioned(nested, npath)
    path = str(tmp_path / "tbl")
    tables.write_versioned(
        _df(spark, [(1, "a", 1995), (2, "b", 1996)]), path, "year"
    )
    tables.merge_upsert(spark, path, _df(spark, [(2, "B!", 1996)]), keys=["k"])
    for p in (npath, path):
        m = tables.read_manifest(p)
        dirs = [os.path.join(p, d) for d in m["dirs"].values()]
        assert tables.manifest_schema(m) == spark.read.parquet(*dirs).schema

    sc = spark.sparkContext
    group = "test_snapshot_reads_take_the_schema_from_the_manifest"
    sc.setJobGroup(group, "versioned reads")
    try:
        snap = tables.read_versioned(spark, path)
        old = tables.read_versioned(spark, path, 1)
        feed = tables.table_changes(spark, path, 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert {(r.k, r.v, r.year) for r in snap.collect()} == {
        (1, "a", 1995), (2, "B!", 1996)
    }
    assert old.count() == 2
    assert {(r.change_type, r.v) for r in feed.collect()} == {
        ("delete", "b"), ("insert", "B!")
    }


def test_vacuum_retention(spark, tmp_path):
    """vacuum keeps the newest snapshots working (including dirs they
    inherit from older versions) and removes everything else."""
    path = str(tmp_path / "tbl")
    tables.write_versioned(
        _df(spark, [(1, "a", 1995), (2, "b", 1996)]), path, "year"
    )
    tables.merge_upsert(spark, path, _df(spark, [(2, "B2", 1996)]), keys=["k"])
    tables.merge_upsert(spark, path, _df(spark, [(2, "B3", 1996)]), keys=["k"])

    removed = tables.vacuum(path, keep_versions=1)
    # v2's private 1996 dir is gone; v1's 1995 dir survives (inherited
    # by the latest manifest), v1's 1996 dir is gone
    assert removed, "expected at least one directory removed"
    latest = {(r.k, r.v, r.year) for r in tables.read_versioned(spark, path).collect()}
    assert latest == {(1, "a", 1995), (2, "B3", 1996)}
    with pytest.raises(FileNotFoundError):
        tables.read_manifest(path, 1)


def test_incremental_agg_equals_recompute(spark, sf_dir):
    """Maintaining the aggregate via the change feed must reproduce the
    from-scratch v2 aggregate exactly (count AND decimal-exact sums)."""
    from beauty_lakehouse_spark import tables
    from beauty_lakehouse_spark.functions import dec2

    maintained = {
        (r.order_year, r.o_orderstatus): (r.n_orders, r.total_price)
        for r in tables.q_incremental_agg_state(spark, sf_dir).collect()
    }
    path = tables._merge_scenario(spark, sf_dir)
    v2 = tables.read_versioned(spark, path, 2)
    recomputed = {
        (r.order_year, r.o_orderstatus): (r.n_orders, r.total_price)
        for r in v2.groupBy("order_year", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.sum(dec2("o_totalprice")), 2)
            .cast("double")
            .alias("total_price"),
        )
        .collect()
    }
    assert maintained == recomputed and maintained


def test_incremental_join_state_equals_recompute(spark, sf_dir):
    """IVM law: the maintained join view (v1 join + change-feed
    application) equals the v2 snapshot joined from scratch."""
    from pyspark.sql import functions as F

    from beauty_lakehouse_spark import tables
    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.functions import dec2

    maintained = {
        tuple(r)
        for r in tables.q_incremental_join_state(spark, sf_dir).collect()
    }
    path = tables._merge_scenario(spark, sf_dir)
    v2 = tables.read_versioned(spark, path)
    cust = load(spark, sf_dir).customer.select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    recomputed = {
        tuple(r)
        for r in v2.join(cust, v2.o_custkey == cust.c_custkey)
        .select(
            "o_orderkey",
            "order_year",
            "o_orderstatus",
            F.round(dec2("o_totalprice"), 2).cast("double").alias("o_totalprice"),
            "c_name",
            "c_mktsegment",
        )
        .collect()
    }
    assert maintained == recomputed


def test_antientropy_sync_flags_exactly_even_years(spark, sf_dir):
    """Drift is planted only in even order years, so the checksum
    detection must flag exactly those partitions, ship only their rows,
    and every partition must verify clean after the repair MERGE."""
    from beauty_lakehouse_spark.tables import q_orders_antientropy_sync

    rows = {r["order_year"]: r for r in q_orders_antientropy_sync(spark, sf_dir).collect()}
    assert rows  # fixture spans several years
    for y, r in rows.items():
        assert r["synced_ok"] == 1, y
        assert r["was_stale"] == (1 if y % 2 == 0 else 0), y
        assert r["n_shipped"] == (r["n_rows"] if y % 2 == 0 else 0), y


def test_incremental_topk_state_pure_python(spark, sf_dir):
    """Maintained top-10 equals a pandas recompute of the v2 snapshot
    (scenario rules applied from scratch), proving the full-state
    maintenance handles promote-from-outside-k under deletions."""
    import pandas as pd

    from beauty_lakehouse_spark.tables import q_incremental_topk_state

    rows = q_incremental_topk_state(spark, sf_dir).collect()
    assert [r["rank"] for r in rows] == list(range(1, 11))

    o = pd.read_parquet(f"{sf_dir}/orders.parquet")[
        ["o_orderkey", "o_custkey", "o_totalprice"]
    ].copy()
    o["p"] = o["o_totalprice"].round(2)
    upd = o[o["o_orderkey"] % 7 == 0].copy()
    upd["p"] = upd["p"] + 1.00
    ins = o[o["o_orderkey"] % 11 == 0].copy()
    ins["o_orderkey"] = ins["o_orderkey"] + 10_000_000
    merged = pd.concat(
        [o[~o["o_orderkey"].isin(set(upd["o_orderkey"]))], upd, ins]
    )
    dels = set(o[o["o_orderkey"] % 13 == 0]["o_orderkey"])
    final = merged[~merged["o_orderkey"].isin(dels)]
    agg = (
        final.groupby("o_custkey")
        .agg(n=("o_orderkey", "size"), s=("p", "sum"))
        .reset_index()
    )
    agg["s"] = agg["s"].round(2)
    agg = agg.sort_values(["s", "o_custkey"], ascending=[False, True])
    want = [
        (i + 1, int(r.o_custkey), int(r.n), float(r.s))
        for i, r in enumerate(agg.head(10).itertuples())
    ]
    got = [
        (r["rank"], r["o_custkey"], r["n_orders"], r["total_price"])
        for r in rows
    ]
    # FLOAT WITNESS: totals compared as floats at 2dp
    for (gr, gk, gn, gt), (wr, wk, wn, wt) in zip(got, want):
        assert (gr, gk, gn) == (wr, wk, wn)
        assert abs(gt - wt) < 1e-6
