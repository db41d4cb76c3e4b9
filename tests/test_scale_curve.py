"""scripts/scale_curve.py: the syn tier builder and the argument checks."""

from __future__ import annotations

import importlib.util
import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def scale_curve():
    spec = importlib.util.spec_from_file_location(
        "scale_curve", os.path.join(os.path.dirname(__file__), "..", "scripts", "scale_curve.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_syn_tier_stacks_disjoint_copies(spark, sf_dir, scale_curve, tmp_path):
    copies, stride = 3, scale_curve.STRIDE
    out = scale_curve.build_syn(spark, sf_dir, str(tmp_path), copies)
    for fname in sorted(os.listdir(sf_dir)):
        table = fname.removesuffix(".parquet")
        base = spark.read.parquet(os.path.join(sf_dir, fname))
        syn = spark.read.parquet(os.path.join(out, fname))
        n = base.count()
        if table not in scale_curve.STACKED:
            assert syn.count() == n, table
            continue
        assert syn.count() == copies * n, table
        for key in scale_curve.STACKED[table]:
            # copy k's keys lie in [k * STRIDE, (k + 1) * STRIDE)
            per_copy = {
                r.k: r.n for r in syn.groupBy(F.floor(F.col(key) / stride).alias("k")).agg(
                    F.count("*").alias("n")
                ).collect()
            }
            assert per_copy == {k: n for k in range(copies)}, (table, key)
    syn = {t: spark.read.parquet(os.path.join(out, f"{t}.parquet"))
           for t in ("orders", "customer", "lineitem", "part", "supplier")}
    # every reference into a stacked dimension still finds its row
    for fact, dim, fk, pk in [
        ("orders", "customer", "o_custkey", "c_custkey"),
        ("lineitem", "part", "l_partkey", "p_partkey"),
        ("lineitem", "supplier", "l_suppkey", "s_suppkey"),
    ]:
        orphans = syn[fact].join(syn[dim], F.col(fk) == F.col(pk), "left_anti")
        assert orphans.count() == 0, (fact, dim)


@pytest.mark.parametrize(
    "argv",
    [["--tier", "sf0.1", "no_such_entry"], ["--tier", "sf9", "ann_topk_exactint"],
     ["--tier", "syn0x", "ann_topk_exactint"]],
)
def test_unknown_entry_or_tier_exits_before_a_session(scale_curve, monkeypatch, argv):
    def no_session(*_a, **_k):
        raise AssertionError("a session was started")

    monkeypatch.setattr(scale_curve, "get_spark", no_session)
    with pytest.raises(SystemExit) as exc:
        scale_curve.main(argv)
    assert exc.value.code not in (0, None)
