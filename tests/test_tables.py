"""Versioned curated tables: snapshots, time travel, merge-on-read MERGE."""

from __future__ import annotations

import os
from functools import reduce

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import DataFrame
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


def _tree(path):
    """Every file under ``path``, relative, with its size."""
    return {
        os.path.relpath(os.path.join(root, f), path): os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    }


def test_merge_rewrites_only_affected_partitions(spark, tmp_path):
    """Merge-on-read: a merge writes no file under any base directory —
    the base is inherited by reference whole, and the batch lands in
    its own delta directory."""
    path = str(tmp_path / "tbl")
    tables.write_versioned(
        _df(spark, [(1, "a", 1995), (3, "c", 1996)]), path, "year"
    )
    before = _tree(os.path.join(path, "v00000001"))
    tables.merge_upsert(
        spark, path, _df(spark, [(3, "C!", 1996), (4, "d", 1997)]), keys=["k"],
        deletes=spark.createDataFrame([(1,)], "k int"),
    )
    assert _tree(os.path.join(path, "v00000001")) == before
    m = tables.read_manifest(path)
    assert m["dirs"] == tables.read_manifest(path, 1)["dirs"]
    assert [d["dir"] for d in m["deltas"]] == ["v00000002"]
    assert {(r.k, r.v, r.year) for r in tables.read_versioned(spark, path).collect()} == {
        (3, "C!", 1996), (4, "d", 1997)
    }


def test_merge_runs_one_job_and_writes_only_the_batch(spark, tmp_path):
    """A MERGE whose source and deletes are plain parquet scans runs
    one Spark job — the delta write: no join, no collect, no target
    scan — and its files hold exactly the source rows plus the delete
    keys."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "tbl")
    tables.write_versioned(
        _df(spark, [(i, f"v{i}", 1995 + i % 3) for i in range(30)]), path, "year"
    )
    ups, dels = str(tmp_path / "ups"), str(tmp_path / "dels")
    _df(spark, [(i, f"u{i}", 1996) for i in range(0, 40, 4)]).write.parquet(ups)
    spark.createDataFrame([(i,) for i in range(1, 30, 5)], "k int").write.parquet(dels)
    source, deletes = spark.read.parquet(ups), spark.read.parquet(dels)

    sc = spark.sparkContext
    group = "test_merge_runs_one_job_and_writes_only_the_batch"
    sc.setJobGroup(group, "merge")
    try:
        v = tables.merge_upsert(spark, path, source, keys=["k"], deletes=deletes)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1

    delta_dir = os.path.join(path, f"v{v:08d}")
    written = sum(
        pq.ParquetFile(os.path.join(delta_dir, f)).metadata.num_rows
        for f in os.listdir(delta_dir) if f.endswith(".parquet")
    )
    assert written == 10 + 6


def test_merge_keys_must_match_pending_deltas(spark, tmp_path):
    path = str(tmp_path / "tbl")
    tables.write_versioned(_df(spark, [(1, "a", 1995)]), path, "year")
    tables.merge_upsert(spark, path, _df(spark, [(1, "b", 1995)]), keys=["k"])
    with pytest.raises(ValueError, match="compact"):
        tables.merge_upsert(spark, path, _df(spark, [(1, "c", 1995)]), keys=["k", "v"])
    tables.compact(spark, path)
    tables.merge_upsert(spark, path, _df(spark, [(1, "c", 1995)]), keys=["k", "v"])
    assert {(r.k, r.v) for r in tables.read_versioned(spark, path).collect()} == {
        (1, "b"), (1, "c")
    }


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
    # the emptied partition drops out when compact() folds the delete
    v = tables.compact(spark, path)
    m = tables.read_manifest(path)
    assert m["version"] == v and m["deltas"] == []
    assert "1996" not in m["dirs"]
    assert m["dirs"]["1995"] == tables.read_manifest(path, 1)["dirs"]["1995"]
    got = {(r.k, r.v, r.year) for r in tables.read_versioned(spark, path).collect()}
    assert got == {(1, "a", 1995)}


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
    tables.merge_upsert(
        spark, path, _df(spark, [(3, "c", 1997)]), keys=["k"],
        deletes=spark.createDataFrame([(3,)], "k int"),
    )
    assert len(tables.read_manifest(path)["deltas"]) == 2
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
    assert tables.read_versioned(spark, path, 2).count() == 2


def test_vacuum_retention(spark, tmp_path):
    """vacuum keeps the newest snapshots working (including dirs they
    inherit from older versions) and removes everything else."""
    path = str(tmp_path / "tbl")
    tables.write_versioned(
        _df(spark, [(1, "a", 1995), (2, "b", 1996)]), path, "year"
    )
    tables.merge_upsert(spark, path, _df(spark, [(2, "B2", 1996)]), keys=["k"])
    tables.merge_upsert(spark, path, _df(spark, [(2, "B3", 1996)]), keys=["k"])
    # pending deltas are referenced by the latest version: nothing to drop
    assert tables.vacuum(path, keep_versions=1) == []
    tables.compact(spark, path)

    removed = tables.vacuum(path, keep_versions=1)
    # both deltas and v1's 1996 dir are gone; v1's 1995 dir survives
    # (inherited by the compacted manifest)
    assert sorted(os.path.relpath(r, path) for r in removed) == [
        os.path.join("v00000001", "__pt=1996"), "v00000002", "v00000003"
    ]
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


# ---------------------------------------------------------------------------
# merge-on-read against a pure-Python replay
# ---------------------------------------------------------------------------

_YEARS = st.sampled_from([1995, 1996, 1997])


@st.composite
def _merge_history(draw):
    """A base table and 1-4 MERGE batches over a small key space, so
    updates, inserts, deletes, delete+upsert of one key in one batch,
    partition-moving updates and empty batches all occur; composite
    keys and unpartitioned tables are drawn too."""
    composite = draw(st.booleans())
    key = st.tuples(
        st.integers(0, 6), st.sampled_from(["x", "y"]) if composite else st.just("x")
    )
    row = st.tuples(key, st.sampled_from(["p", "q", "r"]), _YEARS).map(
        lambda t: (*t[0], t[1], t[2])
    )
    rows = st.lists(row, max_size=8, unique_by=lambda r: r[:2])
    batches = draw(st.lists(
        st.tuples(rows, st.one_of(st.none(), st.lists(key, max_size=4))),
        min_size=1, max_size=4,
    ))
    return composite, draw(st.booleans()), draw(rows), batches


def _replay(base, batches):
    """Every version's rows: upserts replace their key's rows, then the
    batch's delete keys remove theirs."""
    states = [sorted(base)]
    for ups, dels in batches:
        touched = {r[:2] for r in ups}
        dead = set(dels or [])
        state = [r for r in states[-1] if r[:2] not in touched] + list(ups)
        states.append(sorted(r for r in state if r[:2] not in dead))
    return states


@settings(max_examples=10, deadline=None)
@given(history=_merge_history())
# always run: a partition-moving update, an insert, a delete, a delete
# plus upsert of one key in one batch and an empty batch under a
# composite key; an unpartitioned table re-inserting a deleted key
@example(history=(True, True,
                  [(1, "x", "p", 1995), (2, "x", "q", 1996), (2, "y", "r", 1997)],
                  [([(1, "x", "q", 1997), (3, "y", "p", 1995)], [(2, "x")]),
                   ([(2, "y", "p", 1995)], [(2, "y")]),
                   ([], None)]))
@example(history=(False, False,
                  [(1, "x", "p", 1995), (2, "x", "q", 1996)],
                  [([(1, "x", "r", 1995)], []),
                   ([], [(2, "x")]),
                   ([(2, "x", "p", 1996)], None)]))
def test_merge_on_read_matches_replay(spark, history):
    import tempfile

    composite, partitioned, base, batches = history
    keys = ["k", "t"] if composite else ["k"]
    with tempfile.TemporaryDirectory() as root:
        _check_history(spark, os.path.join(root, "tbl"), partitioned, keys, base, batches)


def _check_history(spark, path, partitioned, keys, base, batches):
    """Every version's read and every (from, to) change feed equal the
    replay; then compact() and vacuum() keep the rows readable."""
    from collections import Counter

    from beauty_lakehouse_spark import delta_log

    schema = "k int, t string, v string, year int"
    tables.write_versioned(
        spark.createDataFrame(base, schema), path, "year" if partitioned else None
    )
    for ups, dels in batches:
        tables.merge_upsert(
            spark, path, spark.createDataFrame(ups, schema), keys,
            None if dels is None else spark.createDataFrame(dels, "k int, t string"),
        )
    states = _replay(base, batches)
    n = len(states)

    def tagged(df, *tag):
        return df.select(*[F.lit(x).alias(f"__tag{i}") for i, x in enumerate(tag)], "*")

    def grouped(df, width):
        out = {}
        for r in df.collect():
            out.setdefault(tuple(r)[:width], []).append(tuple(r)[width:])
        return out

    snaps = grouped(reduce(DataFrame.unionByName, [
        tagged(tables.read_versioned(spark, path, v), v) for v in range(1, n + 1)
    ]), 1)
    for v in range(1, n + 1):
        assert sorted(snaps.get((v,), [])) == states[v - 1], v

    feeds = grouped(reduce(DataFrame.unionByName, [
        tagged(tables.table_changes(spark, path, a, b), a, b)
        for a in range(1, n + 1) for b in range(1, n + 1)
    ]), 2)
    for a in range(1, n + 1):
        for b in range(1, n + 1):
            old, new = Counter(states[a - 1]), Counter(states[b - 1])
            want = sorted(
                [("insert", *r) for r in (new - old).elements()]
                + [("delete", *r) for r in (old - new).elements()]
            )
            assert sorted(feeds.get((a, b), [])) == want, (a, b)

    v = tables.compact(spark, path)
    assert v == n + 1 and tables.read_manifest(path)["deltas"] == []
    assert sorted(tuple(r) for r in tables.read_versioned(spark, path).collect()) == states[-1]
    assert delta_log.validate_delta_log(path)["valid"]

    tables.vacuum(path, keep_versions=2)
    for kept in (n, n + 1):
        got = sorted(tuple(r) for r in tables.read_versioned(spark, path, kept).collect())
        assert got == states[-1], kept
