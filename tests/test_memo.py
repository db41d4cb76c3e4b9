"""The artifact memo (`beauty_lakehouse_spark.memo`): keys carry the
input's fingerprint, so an in-place rewrite of a fixture rebuilds every
artifact derived from it, and artifact scratch dirs are removed with
their artifact by ``clear`` or by the module's exit hook."""

from __future__ import annotations

import os
import shutil
from types import SimpleNamespace

import pyarrow.parquet as pq

from beauty_lakehouse_spark import memo


def _fixture_copy(src: str, dst) -> str:
    """Writable copy of a fixture dir (the source files are read-only)."""
    dst.mkdir()
    for name in os.listdir(src):
        shutil.copyfile(os.path.join(src, name), dst / name)
    return str(dst)


def _halve_in_place(path: str) -> int:
    """Rewrite a parquet file at the same path with its first half of
    rows; returns the new row count."""
    t = pq.read_table(path)
    half = t.slice(0, t.num_rows // 2)
    pq.write_table(half, path)
    return half.num_rows


class _StubSpark:
    """Hashable by identity, like a SparkSession."""

    catalog = SimpleNamespace(clearCache=lambda: None)


def test_get_or_build_rebuilds_after_rewrite_and_clear(tmp_path):
    spark = _StubSpark()
    f = tmp_path / "t.parquet"
    f.write_bytes(b"v1")
    calls = []

    def build(s, path, tag):
        calls.append(tag)
        return len(calls)

    assert memo.get_or_build("k", spark, str(f), build, "a") == 1
    assert memo.get_or_build("k", spark, str(f), build, "a") == 1
    assert memo.get_or_build("k", spark, str(f), build, "b") == 2  # extra in key
    assert memo.get_or_build("k", _StubSpark(), str(f), build, "a") == 3  # session
    f.write_bytes(b"v2-longer")
    assert memo.get_or_build("k", spark, str(f), build, "a") == 4  # fingerprint
    memo.clear(spark, keep=("k",))
    assert memo.get_or_build("k", spark, str(f), build, "a") == 4
    memo.clear(spark)
    assert memo.get_or_build("k", spark, str(f), build, "a") == 5


def test_get_or_build_never_caches_a_path_without_fingerprint(tmp_path):
    spark = _StubSpark()
    missing = str(tmp_path / "remote" / "t.parquet")
    assert memo.fingerprint(missing) is None
    calls = []
    for _ in range(2):
        memo.get_or_build("k", spark, missing, lambda s, p: calls.append(p))
    assert len(calls) == 2


def test_merge_state_sees_in_place_orders_rewrite(spark, sf_dir, tmp_path):
    from beauty_lakehouse_spark.tables import q_merge_upsert_state

    d = _fixture_copy(sf_dir, tmp_path / "sf")
    before = q_merge_upsert_state(spark, d).count()
    _halve_in_place(os.path.join(d, "orders.parquet"))
    after = q_merge_upsert_state(spark, d).count()
    fresh = _fixture_copy(d, tmp_path / "fresh")
    assert after == q_merge_upsert_state(spark, fresh).count()
    assert after < before


def test_dedup_clusters_see_in_place_documents_rewrite(spark, sf_dir, tmp_path):
    from beauty_lakehouse_spark.operators.dedup import q_dedup_clusters

    d = _fixture_copy(sf_dir, tmp_path / "sf")
    assert q_dedup_clusters(spark, d).count() == pq.read_metadata(
        os.path.join(d, "documents.parquet")
    ).num_rows
    n = _halve_in_place(os.path.join(d, "documents.parquet"))
    assert q_dedup_clusters(spark, d).count() == n


def test_catalog_sees_in_place_part_file_rewrite(spark, sf_dir, tmp_path):
    """A directory-backed table whose part file is rewritten in place
    keeps the directory's own size and mtime; the handle must still
    re-resolve. A stale handle keeps the old file length, so the row
    groups past it would be skipped."""
    from beauty_lakehouse_spark.catalog import load

    d = tmp_path / "sf"
    table_dir = d / "orders.parquet"
    table_dir.mkdir(parents=True)
    orders = pq.read_table(os.path.join(sf_dir, "orders.parquet"))
    half = orders.num_rows // 2
    pq.write_table(orders.slice(0, half), table_dir / "part-0.parquet")
    pq.write_table(orders.slice(half), table_dir / "part-1.parquet")
    assert load(spark, str(d)).table("orders").count() == orders.num_rows
    pq.write_table(orders, table_dir / "part-1.parquet", row_group_size=100)
    assert load(spark, str(d)).table("orders").count() == half + orders.num_rows


def test_merge_scenario_scratch_removed_by_exit_hook(
    spark, sf_dir, tmp_path, monkeypatch
):
    from beauty_lakehouse_spark.tables import _merge_scenario

    monkeypatch.setattr(memo, "_SCRATCH", [])
    d = _fixture_copy(sf_dir, tmp_path / "sf")
    root = os.path.dirname(_merge_scenario(spark, d))
    assert os.path.basename(root).startswith("bl_merge_")
    assert os.path.isdir(root)
    memo._remove_scratch()
    assert not os.path.exists(root)


def test_clear_removes_the_scratch_dirs_of_dropped_artifacts(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Each clear-and-rebuild of the merge scenario replaces its
    scratch dir instead of adding one; a kept kind keeps its dir."""
    import tempfile

    from beauty_lakehouse_spark.tables import _merge_scenario

    scratch_root = tmp_path / "tmp"
    scratch_root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch_root))
    d = _fixture_copy(sf_dir, tmp_path / "sf")
    for _ in range(3):
        memo.clear(spark, keep=("table",))
        path = _merge_scenario(spark, d)
        assert os.path.isdir(path)
    assert len(list(scratch_root.glob("bl_merge_*"))) == 1
    memo.clear(spark, keep=("table", "merge_scenario"))
    assert os.path.isdir(path)
    memo.clear(spark, keep=("table",))
    assert not list(scratch_root.glob("bl_merge_*"))
