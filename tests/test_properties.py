"""Property-based guards for the cross-engine-exact primitives.

The whole oracle gate rests on two formulas being EXACTLY engine-
independent: the md5-derived 60-bit hash and the integer half-up
division. Hypothesis hammers the DuckDB side against Python's exact
Decimal arithmetic (fast, no Spark); a seeded 300-string batch checks
Spark↔DuckDB hash parity beyond the fixed vectors in test_functions.
"""

from __future__ import annotations

import random
from decimal import ROUND_HALF_UP, Decimal

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st

from beauty_lakehouse_spark.functions import (
    halfup_div_sql,
    portable_hash64,
    portable_hash64_sql,
)
from beauty_lakehouse_spark.session import width


@settings(max_examples=150, deadline=None)
@given(
    # n*10^k stays under 2^53 so the final double cast is exact — the
    # production domain (shares/averages, quotient <= a few thousand);
    # beyond it the spec itself is double-rounded
    n=st.integers(min_value=0, max_value=10**9),
    d=st.integers(min_value=1, max_value=10**10),
    k=st.integers(min_value=1, max_value=6),
)
def test_halfup_div_sql_equals_decimal(n, d, k):
    got = duckdb.sql(f"SELECT {halfup_div_sql(str(n), str(d), k)}").fetchall()[0][0]
    want = float(
        (Decimal(n) / Decimal(d)).quantize(
            Decimal(1).scaleb(-k), rounding=ROUND_HALF_UP
        )
    )
    assert got == want, (n, d, k)


@settings(max_examples=150, deadline=None)
@given(s=st.text(min_size=0, max_size=60))
def test_portable_hash64_sql_range_and_determinism(s):
    con = duckdb.connect()
    q = "SELECT " + portable_hash64_sql("?")
    a = con.execute(q, [s]).fetchall()[0][0]
    b = con.execute(q, [s]).fetchall()[0][0]
    assert a == b and 0 <= a < 2**60


def test_portable_hash64_parity_random_batch(spark):
    """300 seeded-random strings (ascii + unicode, varied length): the
    Spark expression and the DuckDB twin must agree on every one."""
    rng = random.Random(20260813)
    alphabet = (
        "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
        " _-.:/@#éüßñ漢字"
    )
    vals = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 80)))
        for _ in range(300)
    ]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], ["i", "s"])
    got = {
        r.i: r.h for r in df.select("i", portable_hash64("s").alias("h")).collect()
    }
    con = duckdb.connect()
    for i, v in enumerate(vals):
        expected = con.execute(
            "SELECT " + portable_hash64_sql("?"), [v]
        ).fetchall()[0][0]
        assert got[i] == expected, (i, v)


class _UnionFind:
    def __init__(self):
        self.p = {}

    def find(self, x):
        self.p.setdefault(x, x)
        while self.p[x] != x:
            self.p[x] = self.p[self.p[x]]
            x = self.p[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.p[max(ra, rb)] = min(ra, rb)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=0,
        max_size=40,
    )
)
def test_connected_components_matches_union_find(edge_list):
    """Distributed pointer-doubling CC must agree with a driver-side
    union-find on arbitrary small graphs (self-loops and duplicate
    edges included)."""
    from beauty_lakehouse_spark.operators.dedup import connected_components
    from beauty_lakehouse_spark.session import get_spark

    spark = get_spark("tests")
    n = 31
    uf = _UnionFind()
    for i in range(n):
        uf.find(i)
    for a, b in edge_list:
        uf.union(a, b)
    want = {i: uf.find(i) for i in range(n)}

    nodes = spark.range(n).selectExpr("id")
    if edge_list:
        edges = spark.createDataFrame(edge_list, ["src", "dst"])
    else:
        edges = nodes.selectExpr("id AS src", "id AS dst").limit(0)
    got = {
        r["id"]: r["comp"]
        for r in connected_components(nodes, edges).collect()
    }
    assert got == want


@settings(max_examples=300, deadline=None)
@given(
    a=st.integers(min_value=0, max_value=10**12),
    b=st.integers(min_value=0, max_value=10**12),
    per_task=st.integers(min_value=1, max_value=10**7),
    cores=st.integers(min_value=1, max_value=64),
    floor=st.integers(min_value=1, max_value=8),
)
def test_width_is_monotone_and_bounded(a, b, per_task, cores, floor):
    """The one partition-width rule never shrinks as the volume grows,
    and stays in [floor, max(floor, cores)]."""
    lo, hi = sorted((a, b))
    w_lo = width(lo, per_task, cores, floor)
    w_hi = width(hi, per_task, cores, floor)
    assert w_lo <= w_hi
    for w in (w_lo, w_hi):
        assert floor <= w <= max(floor, cores)


def test_bpe_merge_fold_matches_reference_scan(spark):
    """Property: for random symbol arrays and a random merge pair, the
    aggregate-fold merge application equals the reference greedy
    left-to-right scan (hypothesis over small alphabets maximizes
    adjacent/overlapping pair collisions)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pyspark.sql import functions as F

    from beauty_lakehouse_spark.operators.text import _apply_merge

    def ref_scan(sym, a, b):
        out, i = [], 0
        while i < len(sym):
            if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(sym[i])
                i += 1
        return out

    sym_st = st.lists(st.sampled_from(["a", "b", "c"]), max_size=12)
    cases_st = st.lists(
        st.tuples(
            sym_st,
            st.sampled_from(["a", "b", "c"]),
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=1,
        max_size=20,
    )

    @settings(max_examples=10, deadline=None)
    @given(cases_st)
    def run(cases):
        df = spark.createDataFrame(
            [(i, sym) for i, (sym, _, _) in enumerate(cases)],
            "i int, sym array<string>",
        )
        for i, (sym, a, b) in enumerate(cases):
            got = (
                df.filter(F.col("i") == i)
                .select(_apply_merge(F.col("sym"), a, b).alias("m"))
                .first()
                .m
            )
            assert got == ref_scan(sym, a, b), (sym, a, b, got)

    run()
