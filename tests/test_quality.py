"""Quality rules on the fixtures (model: reference
scripts/validate_dataset.py:100-205). The fixtures intentionally violate
ship-after-order; the structural rules (RI, uniqueness, null-freeness)
must all hold."""

from __future__ import annotations

import pytest

from beauty_lakehouse_spark.catalog import _assert_schema, load
from beauty_lakehouse_spark.operators import quality

TABLES = ["orders", "lineitem", "customer", "part", "supplier", "nation", "region"]


@pytest.fixture(scope="module")
def report(spark, sf_dir):
    t = load(spark, sf_dir)
    df = quality.validate({n: t.table(n) for n in TABLES})
    return {r.rule: r.violations for r in df.collect()}


def _duckdb_report(frames: dict, sql: str) -> dict:
    """``(rule, violations)`` of ``sql`` run by DuckDB over the same
    Spark frames, each registered under its dict key."""
    import duckdb

    con = duckdb.connect()
    for name, df in frames.items():
        con.register(name, df.toArrow())
    return dict(con.execute(sql).fetchall())


def test_report_covers_every_rule(report):
    assert len(report) == 20


def test_structural_rules_clean(report):
    dirty = {
        name: v
        for name, v in report.items()
        if v != 0 and name != "lineitem.ship_after_order"
    }
    assert dirty == {}


def test_fixture_violates_ship_after_order(report):
    # data property of the driver fixtures, not a bug (see FIXTURES.md)
    assert report["lineitem.ship_after_order"] > 0


def test_schema_assert_rejects_missing_column(spark, sf_dir):
    t = load(spark, sf_dir)
    with pytest.raises(ValueError, match="missing columns"):
        _assert_schema("orders", t.orders.drop("o_custkey"))


def test_schema_assert_rejects_wrong_type(spark, sf_dir):
    from pyspark.sql import functions as F

    t = load(spark, sf_dir)
    bad = t.orders.withColumn("o_orderstatus", F.lit(1))
    with pytest.raises(TypeError, match="o_orderstatus"):
        _assert_schema("orders", bad)


def test_validate_is_single_action(spark, sf_dir):
    """The whole report is one action over one compiled plan: its Spark
    jobs, counted by job group, stay within the 22 the hand-fused
    report ran at sf0.001 (each AQE query stage is a job)."""
    t = load(spark, sf_dir)
    df = quality.validate({n: t.table(n) for n in TABLES})
    sc = spark.sparkContext
    sc.setJobGroup("test_validate_is_single_action", "quality report")
    try:
        assert df.count() == 20
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("test_validate_is_single_action")
    assert 0 < len(jobs) <= 22, len(jobs)


def test_cardinality_sketch_error_bound(spark, sf_dir):
    """approx_count_distinct at rsd=0.02 must land within 5% of exact on
    every profiled column (HLL guarantee with slack for small counts)."""
    rows = quality.q_cardinality_sketches(spark, sf_dir).collect()
    assert len(rows) == 6
    for r in rows:
        rel_err = abs(r.approx_distinct - r.exact_distinct) / max(r.exact_distinct, 1)
        assert rel_err < 0.05, (r.target, r.exact_distinct, r.approx_distinct)


def test_validate_rejects_missing_table(spark, sf_dir):
    t = load(spark, sf_dir)
    tables = {n: t.table(n) for n in TABLES if n != "supplier"}
    with pytest.raises(ValueError, match="supplier"):
        quality.validate(tables)


def test_validate_matches_composable_rules(spark, sf_dir):
    """validate() must produce exactly the (rule, violations) rows of
    the registered DuckDB oracle, which states each rule as its own
    count query over the same tables."""
    import __spark_entry__ as entrymod

    t = load(spark, sf_dir)
    tables = {n: t.table(n) for n in TABLES}
    got = {r.rule: r.violations for r in quality.validate(tables).collect()}
    assert got == _duckdb_report(tables, entrymod._quality_report_sql())


def test_validate_counts_duplicate_parent_keys_once(spark, sf_dir):
    """A duplicated orders row must not multiply its lineitems: with two
    of that order's lines priced negative, price_nonneg is 2, and every
    rule matches the DuckDB oracle over the same frames (ship-after-order
    counts joined pairs there and here)."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod

    t = load(spark, sf_dir)
    tables = {n: t.table(n) for n in TABLES}
    li = tables["lineitem"]
    key = (
        li.groupBy("l_orderkey").count().filter("count >= 2")
        .agg(F.min("l_orderkey")).first()[0]
    )
    tables["orders"] = tables["orders"].unionByName(
        tables["orders"].filter(F.col("o_orderkey") == key)
    )
    lines = sorted(
        r.l_linenumber for r in li.filter(F.col("l_orderkey") == key).collect()
    )[:2]
    tables["lineitem"] = li.withColumn(
        "l_extendedprice",
        F.when(
            (F.col("l_orderkey") == key) & F.col("l_linenumber").isin(lines),
            -F.col("l_extendedprice"),
        ).otherwise(F.col("l_extendedprice")),
    )
    assert tables["lineitem"].filter("l_extendedprice < 0").count() == 2
    got = {r.rule: r.violations for r in quality.validate(tables).collect()}
    assert got["lineitem.price_nonneg"] == 2
    assert got["orders.o_orderkey.unique"] == 1
    assert got == _duckdb_report(tables, entrymod._quality_report_sql())


def test_table_stats_finish_reports_every_column_of_an_empty_grid(spark, sf_dir):
    from beauty_lakehouse_spark.streaming.pipelines import order_stats_value_grid

    empty = load(spark, sf_dir).orders.limit(0)
    rows = quality.table_stats_finish(order_stats_value_grid(empty)).collect()
    assert sorted(r.column for r in rows) == sorted(c for c, _ in quality.STATS_COLUMNS)
    assert all((r.n_rows, r.n_nulls, r.n_distinct) == (0, 0, 0) for r in rows)


@pytest.mark.parametrize("partitions", [1, 8])
def test_table_stats_rows_come_in_stats_columns_order(spark, sf_dir, partitions):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        rows = quality.q_table_stats(spark, sf_dir).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert [r.column for r in rows] == [c for c, _ in quality.STATS_COLUMNS]


def test_quantile_sketches_brackets_exact_percentiles(spark, sf_dir):
    """Every (target, quantile) row's [lo_cents, hi_cents] bracket
    must CONTAIN the exact nearest-rank percentile, with the DDSketch
    relative-width guarantee (γ² ≈ 4%) — the graduated portable form
    is checked against ground truth, not another sketch."""
    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.operators import quality

    rows = quality.q_quantile_sketches(spark, sf_dir).collect()
    assert len(rows) == len(quality.QSKETCH_TARGETS) * len(
        quality.DDS_QUANTILES
    )
    t = load(spark, sf_dir)
    by_key = {(r.target, r.quantile): r for r in rows}
    for table, col in [("lineitem", "l_extendedprice"), ("events", "value")]:
        cents = sorted(
            int(round(v[0] * 100))
            for v in t.table(table).select(col).collect()
        )
        n = len(cents)
        for q in quality.DDS_QUANTILES:
            rank = (q * n + 99) // 100
            exact = cents[rank - 1]
            row = by_key[(f"{table}.{col}", q)]
            assert row.rank == rank
            assert row.lo_cents <= exact <= row.hi_cents, (
                table, col, q, exact, row,
            )
            assert row.hi_cents <= row.lo_cents * 1.0404 + 1


def test_hll_portable_accuracy_and_determinism(spark, sf_dir):
    """Portable HLL: estimates land within the m=1024 error regime
    (~3.2% standard error; assert 10%), registers never exceed m, and
    repeated runs are bit-identical (hash-derived, no RNG)."""
    from beauty_lakehouse_spark.operators import quality

    rows = quality.q_hll_distinct(spark, sf_dir).collect()
    assert len(rows) == len(quality.HLL_TARGETS)
    for r in rows:
        assert 0 < r.registers_nonzero <= quality.HLL_M
        assert abs(r.hll_estimate - r.n_exact) <= max(0.10 * r.n_exact, 3), (
            r.target, r.n_exact, r.hll_estimate,
        )
    again = quality.q_hll_distinct(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_hll_registers_merge_across_partitions(spark, sf_dir):
    """The sketch property that matters at 100 TB: registers built on
    an arbitrarily repartitioned table are identical (max is
    commutative/associative), so partial sketches merge losslessly."""
    from pyspark.sql import functions as F

    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.operators import quality

    docs = load(spark, sf_dir).documents
    a = quality.hll_estimate(docs, "doc_id").first()
    b = quality.hll_estimate(docs.repartition(17, "lang"), "doc_id").first()
    assert tuple(a) == tuple(b)


def test_hll_empty_input_estimates_zero(spark):
    """Edge: an empty (or all-null) column yields estimate 0 through
    the linear-counting branch (zeros = m, ln(m/m) = 0), not NULL."""
    from beauty_lakehouse_spark.operators import quality

    empty = spark.createDataFrame([], "doc_id long")
    r = quality.hll_estimate(empty, "doc_id").first()
    assert r.n_exact == 0 and r.hll_estimate == 0 and r.registers_nonzero == 0


def test_hll_grouped_accuracy(spark, sf_dir):
    """Grouped portable HLL: every event type's estimate lands within
    the m=1024 error regime of its exact distinct-user count."""
    from beauty_lakehouse_spark.operators import quality

    rows = quality.q_hll_users_by_event_type(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r.registers_nonzero <= quality.HLL_M
        assert abs(r.hll_estimate - r.n_exact) <= max(0.10 * r.n_exact, 3), (
            r.event_type, r.n_exact, r.hll_estimate,
        )


def test_hll_set_algebra_accuracy(spark, sf_dir):
    """Pairwise union/intersection sketch estimates stay within 10% of
    the exact counts (m=1024, small-range regime -> linear counting is
    near-exact), and the algebra is internally consistent."""
    from beauty_lakehouse_spark.operators.quality import q_hll_set_algebra

    rows = q_hll_set_algebra(spark, sf_dir).collect()
    assert len(rows) == 10  # C(5 event types, 2)
    for r in rows:
        assert r.union_estimate >= max(r.est_a, r.est_b) - 1
        assert abs(r.union_estimate - r.n_exact_union) <= 0.1 * r.n_exact_union
        assert (
            abs(r.intersection_estimate - r.n_exact_intersection)
            <= 0.1 * max(r.n_exact_intersection, 20)
        )
        # inclusion-exclusion identity on the estimates themselves
        assert (
            r.intersection_estimate
            == max(0, r.est_a + r.est_b - r.union_estimate)
        )


def test_moments_sketch_moments_exact_and_mergeable(spark, sf_dir):
    """The sketch's power sums equal a driver-side exact recompute,
    merge by plain addition across arbitrary splits, and the derived
    mean/variance satisfy Chebyshev against the raw data."""
    from decimal import Decimal

    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.operators.quality import q_moments_sketch

    rows = q_moments_sketch(spark, sf_dir).collect()
    events = load(spark, sf_dir).events.select("event_type", "value").collect()
    by_type = {}
    for r in events:
        c = int(
            (Decimal(str(r.value)).quantize(Decimal("0.01"))) * 100
        )
        by_type.setdefault(r.event_type, []).append(c)
    assert {r.event_type for r in rows} == set(by_type)
    for r in rows:
        cs = by_type[r.event_type]
        assert r.n == len(cs)
        assert (r.min_cents, r.max_cents) == (min(cs), max(cs))
        for k, field in enumerate(["m1", "m2", "m3", "m4", "m5", "m6"], 1):
            want = sum(c**k for c in cs)
            assert int(str(getattr(r, field))) == want, (r.event_type, field)
        # merge = addition: split the list anywhere, sums add exactly
        half = len(cs) // 2
        assert sum(c**3 for c in cs[:half]) + sum(
            c**3 for c in cs[half:]
        ) == int(str(r.m3))
        # Chebyshev sanity on the derived mean/variance
        n, m1, m2 = r.n, int(r.m1), int(r.m2)
        mean = m1 / n
        var = m2 / n - mean * mean
        assert var >= 0
        for kk in (2, 3):
            frac = sum(
                1 for c in cs if abs(c - mean) >= kk * (var**0.5)
            ) / n
            assert frac <= 1 / kk**2 + 1e-9


def test_value_drift_planted_shift(spark, tmp_path):
    """A planted distribution shift (second half moves all mass to the
    top of the range) produces large PSI/KS for the shifted type and
    near-zero for the stable one."""
    import datetime as dt

    from beauty_lakehouse_spark.operators.quality import q_value_drift_report

    base = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    for i in range(400):
        ts = base + dt.timedelta(minutes=i)
        # 'shift': low values first half, high values second half
        v = 1.0 + (i % 50) * 0.1 if i < 200 else 90.0 + (i % 50) * 0.1
        rows.append((eid, ts, 1, "shift", v, "{}")); eid += 1
        # 'stable': same uniform spread in both halves
        rows.append((eid, ts, 2, "stable", 1.0 + (i % 97), "{}")); eid += 1
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    ).write.parquet(str(tmp_path / "events.parquet"))

    out = {r.event_type: r for r in q_value_drift_report(spark, str(tmp_path)).collect()}
    sh, st = out["shift"], out["stable"]
    assert sh.n_first_half == 200 and sh.n_second_half == 200
    # total separation: KS = 1.0, every bucket one-sided -> PSI scores 0 buckets
    assert sh.ks > 0.9
    assert sh.n_buckets_one_sided >= 2
    assert st.ks < 0.12
    assert st.psi_micro < 120_000  # < 0.12 nats: stable distribution


def test_winsorized_stats_match_numpy(spark, sf_dir):
    """Cut points equal the nearest-rank percentiles of a driver-side
    recompute; clip counts and the clipped mean agree exactly."""
    import math
    from decimal import Decimal

    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.operators.quality import (
        WINSOR_HI_DEN,
        WINSOR_HI_NUM,
        WINSOR_LO_DEN,
        WINSOR_LO_NUM,
        q_winsorized_value_stats,
    )

    rows = {r.event_type: r for r in q_winsorized_value_stats(spark, sf_dir).collect()}
    events = load(spark, sf_dir).events.select("event_type", "value").collect()
    by_type = {}
    for r in events:
        c = int(Decimal(str(r.value)).quantize(Decimal("0.01")) * 100)
        by_type.setdefault(r.event_type, []).append(c)
    for et, cs in by_type.items():
        cs.sort()
        n = len(cs)
        lo = cs[(n * WINSOR_LO_NUM + WINSOR_LO_DEN - 1) // WINSOR_LO_DEN - 1]
        hi = cs[(n * WINSOR_HI_NUM + WINSOR_HI_DEN - 1) // WINSOR_HI_DEN - 1]
        r = rows[et]
        assert (r.lo_cents, r.hi_cents) == (lo, hi), et
        assert r.n_clipped_low == sum(1 for c in cs if c < lo)
        assert r.n_clipped_high == sum(1 for c in cs if c > hi)
        wsum = sum(min(max(c, lo), hi) for c in cs)
        want = ((2 * wsum * 10**6 + n) // (2 * n)) / 10**6
        assert abs(r.winsorized_mean_cents - want) < 1e-9


def test_mad_outliers_match_sorted_recompute(spark, sf_dir):
    """Median, MAD and the 3*MAD outlier count equal the nearest-rank
    driver-side recompute; a planted whale cannot move the median."""
    from decimal import Decimal

    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.operators.quality import q_mad_outlier_stats

    rows = {r.event_type: r for r in q_mad_outlier_stats(spark, sf_dir).collect()}
    events = load(spark, sf_dir).events.select("event_type", "value").collect()
    by_type = {}
    for r in events:
        c = int(Decimal(str(r.value)).quantize(Decimal("0.01")) * 100)
        by_type.setdefault(r.event_type, []).append(c)

    def nr_median(xs):
        xs = sorted(xs)
        return xs[(len(xs) + 1) // 2 - 1]

    for et, cs in by_type.items():
        m = nr_median(cs)
        mad = nr_median([abs(c - m) for c in cs])
        r = rows[et]
        assert (r.median_cents, r.mad_cents) == (m, mad), et
        assert r.n_outliers == sum(1 for c in cs if abs(c - m) > 3 * mad)
        # robustness: replacing one value with a 100x whale leaves the
        # median unchanged (n is odd-insensitive at these sizes)
        whale = cs[:-1] + [cs[-1] * 100]
        assert abs(nr_median(whale) - m) <= max(
            abs(a - b) for a, b in zip(sorted(cs)[1:], sorted(cs))
        ) * 2 + 1


def test_categorical_entropy_tracks_float_shannon(spark, sf_dir):
    """Fixed-point entropy tracks the float Shannon entropy within
    ln_micro quantization; uniformity lies in [0, 1] and orders
    columns sensibly (uniform-ish event_type near 1)."""
    import math
    from collections import Counter

    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.operators.quality import (
        ENTROPY_TARGETS,
        q_categorical_entropy,
    )

    rows = {r.target: r for r in q_categorical_entropy(spark, sf_dir).collect()}
    t = load(spark, sf_dir)
    for table, col in ENTROPY_TARGETS:
        vals = [
            x[0] for x in t.table(table).select(col).collect() if x[0] is not None
        ]
        c = Counter(vals)
        n = len(vals)
        h = sum(cnt / n * math.log(n / cnt) for cnt in c.values())
        r = rows[f"{table}.{col}"]
        assert r.n_rows == n and r.n_distinct == len(c)
        assert abs(r.entropy_unats / 1e6 - h) < 2e-3
        assert 0.0 <= r.uniformity <= 1.0 + 1e-9
    assert rows["events.event_type"].uniformity > 0.95


def test_cms_matches_pure_python_reference(spark, sf_dir):
    """The count-min laws, against an independent pure-Python sketch
    built from the same portable hash: (1) estimate ≥ exact for every
    queried term, (2) estimate = min over the D row cells exactly,
    (3) the fixture actually exercises collisions (W=16 < |vocab| by
    design — an oversized sketch proves nothing)."""
    import hashlib

    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.operators.quality import (
        CMS_D,
        CMS_W,
        q_cms_term_estimates,
    )

    def phash(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    docs = load(spark, sf_dir).documents.select("text").collect()
    cells = {}
    exact = {}
    for row in docs:
        for term in row.text.split(" "):
            if not term:
                continue
            exact[term] = exact.get(term, 0) + 1
            for r in range(CMS_D):
                b = phash(f"cms:{r}:{term}") % CMS_W
                cells[(r, b)] = cells.get((r, b), 0) + 1

    rows = q_cms_term_estimates(spark, sf_dir).collect()
    assert rows
    any_over = False
    for row in rows:
        want = min(
            cells[(r, phash(f"cms:{r}:{row.term}") % CMS_W)]
            for r in range(CMS_D)
        )
        assert row.n_exact == exact[row.term], row
        assert row.n_cms == want, row
        assert row.overestimate == row.n_cms - row.n_exact >= 0, row
        any_over = any_over or row.overestimate > 0
    assert any_over, "W should be small enough to exercise collisions"


def test_ddsketch_brackets_contain_exact_percentiles(spark, sf_dir):
    """The DDSketch quantile report's [lo_cents, hi_cents] bracket must
    contain the exact nearest-rank percentile value, and the bracket's
    relative width must honor the gamma^2 DDSketch guarantee."""
    import math

    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.functions import dec2
    from beauty_lakehouse_spark.operators.quality import (
        q_ddsketch_value_quantiles,
    )
    from pyspark.sql import functions as F

    cents = sorted(
        r.cents
        for r in load(spark, sf_dir)
        .orders.select((dec2("o_totalprice") * 100).cast("long").alias("cents"))
        .collect()
    )
    n = len(cents)
    rows = {r.quantile: r for r in q_ddsketch_value_quantiles(spark, sf_dir).collect()}
    assert set(rows) == {50, 90, 99}
    gamma2 = 1.02 * 1.02
    for q, r in rows.items():
        rank = -(-q * n // 100)  # ceil
        assert r.rank == rank
        exact = cents[rank - 1]
        assert r.lo_cents <= exact <= r.hi_cents, (q, exact, r)
        # observed bucket bounds are at most one gamma-step apart
        # (plus integer-quantization slack on the fixed-point ln)
        assert r.hi_cents <= math.ceil(r.lo_cents * gamma2), r


def test_ddsketch_buckets_merge_across_shards(spark, sf_dir):
    """Sketch mergeability: bucket tables built on two disjoint halves
    of the orders table, merged by count-add/min-min/max-max, must
    equal the single-pass bucket table exactly."""
    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.functions import dec2
    from beauty_lakehouse_spark.operators.quality import (
        ddsketch_cents_buckets,
    )
    from pyspark.sql import functions as F

    cents = load(spark, sf_dir).orders.select(
        (dec2("o_totalprice") * 100).cast("long").alias("cents"),
        (F.col("o_orderkey") % 2).alias("shard"),
    )
    whole = ddsketch_cents_buckets(cents.select("cents"))
    parts = [
        ddsketch_cents_buckets(
            cents.filter(F.col("shard") == s).select("cents")
        )
        for s in (0, 1)
    ]
    merged = (
        parts[0]
        .unionByName(parts[1])
        .groupBy("bucket")
        .agg(
            F.sum("n").alias("n"),
            F.min("lo_cents").alias("lo_cents"),
            F.max("hi_cents").alias("hi_cents"),
        )
    )
    canon = lambda df: sorted(tuple(r) for r in df.collect())
    assert canon(merged) == canon(whole)


def test_dds_bucket_fast_path_bit_identical(spark):
    """The codegen-fast bucket assignment (float-ln proposal corrected
    against the exact integer boundary grid, `quality.dds_bucket`)
    must equal ``ln_micro(c,1) div STEP`` bit-for-bit — exhaustively
    over the dense low range (where consecutive integers skip many
    buckets) and on random values up to the 2^31 contract edge; the
    driver-side `ln_micro_py` replica that generates the grid must
    match the in-engine fold on the same samples."""
    import random

    from pyspark.sql import functions as F

    from beauty_lakehouse_spark.functions import _idiv, ln_micro, ln_micro_py
    from beauty_lakehouse_spark.operators.quality import (
        DDS_STEP_UNATS,
        dds_bucket,
    )

    rng = random.Random(13)
    samples = (
        list(range(1, 20_001))
        + [rng.randrange(1, 2**31) for _ in range(5_000)]
        + [2**31 - 1, 2**30, 2**30 - 1]
    )
    df = spark.createDataFrame([(c,) for c in samples], "cents long")
    chk = df.select(
        "cents",
        ln_micro(F.col("cents"), F.lit(1)).alias("fold"),
        dds_bucket(F.col("cents")).alias("fast"),
    )
    bad = chk.filter(
        F.col("fast") != _idiv(F.col("fold"), F.lit(DDS_STEP_UNATS))
    )
    assert bad.count() == 0, bad.take(5)
    # FLOAT WITNESS: the exact fold is ln(cents) in micro-nats — an
    # independent true-float math.log recompute must land inside the
    # shift-and-square algorithm's quantization band (measured worst
    # case ~18 µnats over 40k samples; a 10^x integer-scale bug in the
    # fixed-point chain cannot hide from the float formula).
    import math

    for r in chk.sample(0.02, seed=13).collect():
        assert ln_micro_py(r.cents, 1) == r.fold, r
        assert abs(r.fold - math.log(r.cents) * 1_000_000) <= 64, r


def test_benford_digit_profile(spark, sf_dir):
    """Digit domain is 1..9, both share columns sum to ~1 (quantization
    only), and the fixed-point Benford reference hits the textbook
    values (log10(2) ≈ 0.30103 for digit 1) within ln_micro's ±1e-4
    quantization band."""
    rows = quality.q_benford_price_digits(spark, sf_dir).collect()
    digits = sorted(r["digit"] for r in rows)
    assert digits == sorted(set(digits))
    assert set(digits) <= set(range(1, 10))
    assert abs(sum(r["observed_share"] for r in rows) - 1.0) < 1e-3
    import math

    total_benford = sum(
        math.log10(1 + 1 / d) for d in digits
    )
    got_benford = {r["digit"]: r["benford_share"] for r in rows}
    for d in digits:
        assert abs(got_benford[d] - math.log10(1 + 1 / d)) < 5e-4, d
    assert abs(sum(got_benford.values()) - total_benford) < 5e-3


def test_table_checksums_ignore_order_and_layout(spark, sf_dir, tmp_path):
    """The anti-entropy fingerprint is invariant under row order, file
    layout, and partition count (a reshuffled copy of the tables yields
    identical checksums), sensitive to a single mutated value, and
    stable across runs."""
    import pyspark.sql.functions as F

    base = quality.q_table_checksums(spark, sf_dir)
    rows = {r["table_name"]: (r["n_rows"], r["checksum"]) for r in base.collect()}
    t = load(spark, sf_dir)
    assert rows["orders"][0] == t.orders.count()
    assert rows["lineitem"][0] == t.lineitem.count()
    assert all(0 <= c < (1 << 61) - 1 for _, c in rows.values())

    # reshuffled copy: different partitioning + reversed sort order
    copy_dir = str(tmp_path / "copy")
    for name, df, key in [
        ("orders", t.orders, "o_orderkey"),
        ("customer", t.customer, "c_custkey"),
        ("lineitem", t.lineitem, "l_orderkey"),
    ]:
        df.repartition(7).sortWithinPartitions(F.desc(key)).write.mode(
            "overwrite"
        ).parquet(f"{copy_dir}/{name}.parquet")
    again = {
        r["table_name"]: (r["n_rows"], r["checksum"])
        for r in quality.q_table_checksums(spark, copy_dir).collect()
    }
    assert again == rows

    # sensitivity: perturb ONE order's price by a cent
    mut_dir = str(tmp_path / "mut")
    first_key = t.orders.agg(F.min("o_orderkey")).first()[0]
    t.orders.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") == first_key, F.col("o_totalprice") + 0.01
        ).otherwise(F.col("o_totalprice")),
    ).write.mode("overwrite").parquet(f"{mut_dir}/orders.parquet")
    for name, df in [("customer", t.customer), ("lineitem", t.lineitem)]:
        df.write.mode("overwrite").parquet(f"{mut_dir}/{name}.parquet")
    mut = {
        r["table_name"]: r["checksum"]
        for r in quality.q_table_checksums(spark, mut_dir).collect()
    }
    assert mut["orders"] != rows["orders"][1]
    assert mut["customer"] == rows["customer"][1]
    assert mut["lineitem"] == rows["lineitem"][1]


def test_key_skew_gini_matches_bruteforce(spark, sf_dir):
    """The count-of-counts block-telescoped Gini equals the direct
    Σ(2i−n−1)xᵢ/(nΣx) formula over the fully-sorted key counts,
    including the half-up quantization."""
    import pyspark.sql.functions as F

    rows = {
        r["key_col"]: r for r in quality.q_key_skew_profile(spark, sf_dir).collect()
    }
    t = load(spark, sf_dir)
    counts = sorted(
        r["c"]
        for r in t.orders.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    n = len(counts)
    tot = sum(counts)
    num = sum((2 * i - n - 1) * x for i, x in enumerate(counts, start=1))

    def hud(a: int, b: int, k: int = 6) -> float:
        return ((a * 2 * 10**k + b) // (b * 2)) / float(10**k)

    got = rows["orders.o_custkey"]
    assert got["n_rows"] == tot
    assert got["n_keys"] == n
    assert got["max_key_rows"] == counts[-1]
    assert got["max_share"] == hud(counts[-1], tot)
    assert got["gini"] == hud(num, n * tot)
    assert 0.0 <= got["gini"] < 1.0


def test_partition_checksums_localize_drift(spark, sf_dir, tmp_path):
    """Per-partition fingerprints cover every row exactly once (counts
    sum to the table count) and a single-row mutation flips ONLY its
    own partition's checksum — the property that lets anti-entropy
    re-ship one partition instead of the table."""
    import pyspark.sql.functions as F

    base = {
        r["order_year"]: (r["n_rows"], r["checksum"])
        for r in quality.q_orders_partition_checksums(spark, sf_dir).collect()
    }
    t = load(spark, sf_dir)
    assert sum(n for n, _ in base.values()) == t.orders.count()

    first = (
        t.orders.orderBy("o_orderkey")
        .select("o_orderkey", F.year("o_orderdate").cast("int").alias("y"))
        .first()
    )
    mut_dir = str(tmp_path / "mutp")
    t.orders.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") == first["o_orderkey"],
            F.col("o_totalprice") + 0.01,
        ).otherwise(F.col("o_totalprice")),
    ).write.mode("overwrite").parquet(f"{mut_dir}/orders.parquet")
    mut = {
        r["order_year"]: (r["n_rows"], r["checksum"])
        for r in quality.q_orders_partition_checksums(spark, mut_dir).collect()
    }
    changed = [y for y in base if base[y] != mut[y]]
    assert changed == [first["y"]]


def test_chisq_margins_and_pure_python_recompute(spark, sf_dir):
    """The cross-multiplied deviation dev = O*N - R*C sums to zero over
    every row and every column of the contingency grid (the exact-form
    margin identity of the chi-square table), and every cell —
    including the floor-divided micro contribution — matches a pure
    pandas/int recompute of the same join."""
    from collections import Counter

    import pandas as pd

    rows = quality.q_segment_priority_chisq(spark, sf_dir).collect()
    assert rows
    by_seg: Counter = Counter()
    by_pri: Counter = Counter()
    for r in rows:
        by_seg[r["mktsegment"]] += r["dev"]
        by_pri[r["priority"]] += r["dev"]
    assert all(v == 0 for v in by_seg.values()), by_seg
    assert all(v == 0 for v in by_pri.values()), by_pri

    orders = pd.read_parquet(f"{sf_dir}/orders.parquet")
    cust = pd.read_parquet(f"{sf_dir}/customer.parquet")
    j = orders.merge(cust, left_on="o_custkey", right_on="c_custkey")
    obs = Counter(zip(j["c_mktsegment"], j["o_orderpriority"]))
    n = sum(obs.values())
    rt = Counter()
    ct = Counter()
    for (s, p), o in obs.items():
        rt[s] += o
        ct[p] += o
    for r in rows:
        key = (r["mktsegment"], r["priority"])
        o = obs[key]
        assert r["observed"] == o
        assert r["row_total"] == rt[key[0]]
        assert r["col_total"] == ct[key[1]]
        assert r["n_total"] == n
        dev = o * n - rt[key[0]] * ct[key[1]]
        assert r["dev"] == dev
        assert r["contrib_micro"] == (dev * dev * 1_000_000) // (
            rt[key[0]] * ct[key[1]] * n
        )
        # FLOAT WITNESS: the cross-multiplied cell contribution equals
        # the textbook (O - E)^2 / E chi-square term in float
        e = rt[key[0]] * ct[key[1]] / n
        fchi = (o - e) ** 2 / e
        assert abs(r["contrib_micro"] / 1e6 - fchi) <= 2e-6 + 1e-9 * fchi


def test_merkle_root_invariance_and_sensitivity(spark, sf_dir, tmp_path):
    """The Merkle root is invariant under row order / file layout,
    changes when any single value in any partition changes, and is
    consistent with the partition leaves it summarizes."""
    import hashlib

    import pyspark.sql.functions as F

    base = quality.q_orders_merkle_root(spark, sf_dir).collect()[0]
    t = load(spark, sf_dir)
    assert base["total_rows"] == t.orders.count()

    # root == md5 over the year-ordered leaf serialization
    leaves = sorted(
        (str(r["order_year"]), r["n_rows"], r["checksum"])
        for r in quality.q_orders_partition_checksums(spark, sf_dir).collect()
    )
    assert base["n_partitions"] == len(leaves)
    want = hashlib.md5(
        "|".join(f"{y}:{n}:{c}" for y, n, c in leaves).encode()
    ).hexdigest()
    assert base["root_hash"] == want

    # invariance: reshuffled copy
    copy_dir = str(tmp_path / "mcopy")
    t.orders.repartition(5).sortWithinPartitions(
        F.desc("o_orderkey")
    ).write.mode("overwrite").parquet(f"{copy_dir}/orders.parquet")
    again = quality.q_orders_merkle_root(spark, copy_dir).collect()[0]
    assert tuple(again) == tuple(base)

    # sensitivity: one cent on one order flips the root
    mut_dir = str(tmp_path / "mmut")
    first_key = t.orders.agg(F.min("o_orderkey")).first()[0]
    t.orders.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") == first_key, F.col("o_totalprice") + 0.01
        ).otherwise(F.col("o_totalprice")),
    ).write.mode("overwrite").parquet(f"{mut_dir}/orders.parquet")
    mut = quality.q_orders_merkle_root(spark, mut_dir).collect()[0]
    assert mut["root_hash"] != base["root_hash"]
    assert mut["total_rows"] == base["total_rows"]


def test_kanonymity_profile_pure_python(spark, sf_dir):
    """The class-size histogram matches a pandas recompute of the same
    quasi-identifier grouping, total rows are conserved, and the
    at_risk flag is exactly class_size < KANON_K."""
    from collections import Counter

    import pandas as pd

    rows = quality.q_kanonymity_profile(spark, sf_dir).collect()
    assert rows
    orders = pd.read_parquet(f"{sf_dir}/orders.parquet")
    cust = pd.read_parquet(f"{sf_dir}/customer.parquet")
    j = orders.merge(cust, left_on="o_custkey", right_on="c_custkey")
    sizes = Counter(
        j.groupby(
            ["c_mktsegment", "c_nationkey", j["o_orderdate"].dt.year]
        ).size()
    )
    got = {r["class_size"]: r for r in rows}
    assert {s: c for s, c in sizes.items()} == {
        s: r["n_classes"] for s, r in got.items()
    }
    for r in rows:
        assert r["n_rows"] == r["class_size"] * r["n_classes"]
        assert r["at_risk"] == (r["class_size"] < quality.KANON_K)
    assert sum(r["n_rows"] for r in rows) == len(j)


def test_release_gate_composes_constituents(spark, sf_dir):
    """Each gate row's count equals its constituent query's own row
    count, the k-anonymity row equals the at-risk row total, and
    passed is exactly n_violations == 0."""
    from beauty_lakehouse_spark.operators.quality import (
        _release_checks,
        q_kanonymity_profile,
        q_table_release_gate,
    )

    rows = {r["check_name"]: r for r in q_table_release_gate(spark, sf_dir).collect()}
    assert len(rows) == 6
    for name, fn in _release_checks():
        assert rows[name]["n_violations"] == fn(spark, sf_dir).count()
    at_risk = sum(
        r["n_rows"]
        for r in q_kanonymity_profile(spark, sf_dir).collect()
        if r["at_risk"]
    )
    assert rows["kanonymity_at_risk_rows"]["n_violations"] == at_risk
    for r in rows.values():
        assert r["passed"] == (r["n_violations"] == 0)
    # the fixtures' deliberate date violations must be REPORTED
    assert not rows["date_rule_violations"]["passed"]


def test_segment_price_ttest_pure_python(spark, sf_dir):
    """Welch t^2 matches an exact big-int Python recompute of the same
    fixed-point scheme, and agrees with float Welch to ~1e-4."""
    import pandas as pd

    from beauty_lakehouse_spark.operators.quality import (
        q_segment_price_ttest,
    )

    rows = {
        (r["seg_a"], r["seg_b"]): r
        for r in q_segment_price_ttest(spark, sf_dir).collect()
    }
    assert len(rows) == 10

    o = pd.read_parquet(f"{sf_dir}/orders.parquet")
    c = pd.read_parquet(f"{sf_dir}/customer.parquet")
    j = o.merge(c, left_on="o_custkey", right_on="c_custkey")
    j["cents"] = (j["o_totalprice"].round(2) * 100).round().astype(int)
    stats = {}
    for seg, g in j.groupby("c_mktsegment"):
        cs = [int(x) for x in g["cents"]]
        stats[seg] = (len(cs), sum(cs), sum(x * x for x in cs))
    segs = sorted(stats)
    for i, sa in enumerate(segs):
        for sb in segs[i + 1 :]:
            na, s1a, s2a = stats[sa]
            nb, s1b, s2b = stats[sb]
            ta = (na * s2a - s1a * s1a) * 10**3 // (na * na * (na - 1))
            tb = (nb * s2b - s1b * s1b) * 10**3 // (nb * nb * (nb - 1))
            se2 = ta + tb
            assert se2 < 3 * 10**17  # contract headroom
            dm = abs(s1a * nb - s1b * na) * 1000 // (na * nb)
            t2 = dm * dm * 10**3 // se2
            df = se2 * se2 * 1000 // (
                ta * ta // (na - 1) + tb * tb // (nb - 1)
            )
            r = rows[(sa, sb)]
            assert (r["n_a"], r["n_b"]) == (na, nb)
            assert r["dm_milli_abs"] == dm
            assert r["t2_micro"] == t2
            assert r["df_milli"] == df
            # FLOAT WITNESS: float Welch cross-check
            ma, mb = s1a / na, s1b / nb
            va = (s2a - na * ma * ma) / (na - 1)
            vb = (s2b - nb * mb * mb) / (nb - 1)
            se2f = va / na + vb / nb
            t2f = (ma - mb) ** 2 / se2f
            assert abs(r["t2_micro"] / 1e6 - t2f) < max(1e-3, t2f * 1e-3)
            dff = se2f**2 / (
                (va / na) ** 2 / (na - 1) + (vb / nb) ** 2 / (nb - 1)
            )
            assert abs(r["df_milli"] / 1e3 - dff) / dff < 1e-3


def test_ldiversity_profile_pure_python(spark, sf_dir):
    """The l histogram matches a pandas recompute; classes and rows are
    conserved; at_risk flags exactly l < LDIV_L."""
    import pandas as pd

    from beauty_lakehouse_spark.operators.quality import (
        LDIV_L,
        q_ldiversity_profile,
    )

    rows = {r["l_distinct"]: r for r in q_ldiversity_profile(spark, sf_dir).collect()}
    assert rows

    o = pd.read_parquet(f"{sf_dir}/orders.parquet")
    c = pd.read_parquet(f"{sf_dir}/customer.parquet")
    j = o.merge(c, left_on="o_custkey", right_on="c_custkey")
    j["y"] = j["o_orderdate"].dt.year
    j["m"] = j["o_orderdate"].dt.month
    cl = j.groupby(["c_nationkey", "y", "m"]).agg(
        size=("o_orderkey", "size"),
        l=("o_orderpriority", "nunique"),
    )
    hist = cl.groupby("l").agg(
        n_classes=("size", "size"), n_rows=("size", "sum")
    )
    assert set(rows) == set(hist.index)
    for l, h in hist.iterrows():
        assert rows[l]["n_classes"] == h["n_classes"]
        assert rows[l]["n_rows"] == h["n_rows"]
        assert rows[l]["at_risk"] == (l < LDIV_L)
    assert sum(r["n_classes"] for r in rows.values()) == len(cl)
    assert sum(r["n_rows"] for r in rows.values()) == len(j)


def _splitmix60_py(seed: int, stream: int) -> int:
    """Pure-Python twin of functions.splitmix60 (the r10 one-md5-
    per-row bootstrap mixer) — kept independent of the library code
    so it can witness it."""
    m60 = 1 << 60

    def mulmod60(z, c):
        return (((z >> 30) * c % (1 << 30)) * (1 << 30)
                + (z % (1 << 30)) * c) % m60

    z = (seed + (stream + 1) * 15614961330584597 % m60) % m60
    z ^= z >> 31
    z = mulmod60(z, 2654435761)
    z ^= z >> 29
    z = mulmod60(z, 2246822519)
    return z ^ (z >> 32)


def test_bootstrap_mean_ci_pure_python(spark, sf_dir):
    """The Poisson-bootstrap CI matches a pure-Python recompute of
    the same deterministic weights (one md5 seed per row + the
    splitmix60 mixer per replicate), brackets the full-sample mean,
    and the weights really follow Poisson(1) frequencies (mean ~1)."""
    import hashlib

    import pandas as pd

    from beauty_lakehouse_spark.operators.quality import (
        BOOTSTRAP_B,
        POISSON1_CDF_60,
        q_bootstrap_mean_ci,
    )

    [r] = q_bootstrap_mean_ci(spark, sf_dir).collect()

    o = pd.read_parquet(f"{sf_dir}/orders.parquet")
    cents = (o["o_totalprice"].round(2) * 100).round().astype("int64")
    keys = o["o_orderkey"].tolist()
    cs = cents.tolist()

    def hu3(num, den):
        return ((2 * num * 10**3 + den) // (2 * den)) / 1e3

    seeds = [
        int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16)
        for k in keys
    ]
    means = []
    tot_w = 0
    for b in range(BOOTSTRAP_B):
        sw = swc = 0
        for s, c in zip(seeds, cs):
            u = _splitmix60_py(s, b)
            w = sum(u >= t for t in POISSON1_CDF_60)
            sw += w
            swc += w * c
        tot_w += sw
        means.append(hu3(swc, sw))
    means.sort()
    assert r["n_rows"] == len(o)
    assert r["mean_c3"] == hu3(int(cents.sum()), len(o))
    assert r["ci_lo_c3"] == means[1]
    assert r["ci_hi_c3"] == means[BOOTSTRAP_B - 2]
    # the band is a real interval around the point estimate
    assert r["ci_lo_c3"] <= r["mean_c3"] <= r["ci_hi_c3"]
    # Poisson(1) sanity: average weight within 5% of 1
    avg_w = tot_w / (BOOTSTRAP_B * len(o))
    assert 0.95 < avg_w < 1.05
    # FLOAT WITNESS (independent of the shared fixed-point formula):
    # the half-up 3-dp mean must sit within 1e-3 cents of the float
    # mean, and the CI band width must be in the CLT ballpark
    # (0.2x-5x of 2 * 1.88 * sd/sqrt(n) — order-statistic 94% band)
    import math

    fmean = float(cents.mean())
    assert abs(r["mean_c3"] - fmean) < 1e-3
    sd = float(cents.std())
    clt_half = 1.88 * sd / math.sqrt(len(o))
    half = (r["ci_hi_c3"] - r["ci_lo_c3"]) / 2
    assert 0.2 * clt_half < half < 5 * clt_half


def test_price_drift_ks_pure_python(spark, sf_dir):
    """The KS statistic, argmax location, and isqrt critical value
    match a pure-Python recompute; D agrees with float KS to ~1e-5."""
    import math

    import pandas as pd

    from beauty_lakehouse_spark.operators.quality import q_price_drift_ks

    [r] = q_price_drift_ks(spark, sf_dir).collect()

    o = pd.read_parquet(f"{sf_dir}/orders.parquet")
    o["cents"] = (o["o_totalprice"].round(2) * 100).round().astype("int64")
    o["y"] = o["o_orderdate"].dt.year
    maxy = int(o["y"].max())
    a = sorted(o[o["y"] == maxy - 1]["cents"])
    b = sorted(o[o["y"] == maxy]["cents"])
    na, nb = len(a), len(b)
    grid = sorted(set(a) | set(b))
    from bisect import bisect_right

    best_gap, best_c = -1, None
    for c in grid:
        gap = abs(bisect_right(a, c) * nb - bisect_right(b, c) * na)
        if gap > best_gap:
            best_gap, best_c = gap, c
    assert (r["year_a"], r["year_b"]) == (maxy - 1, maxy)
    assert (r["n_a"], r["n_b"]) == (na, nb)
    assert r["d_at_cents"] == best_c
    assert r["d_micro"] == best_gap * 10**6 // (na * nb)
    crit = 1358 * math.isqrt((na + nb) * 10**12 // (na * nb)) // 1000
    assert r["crit_micro"] == crit
    assert r["drifted"] == (r["d_micro"] > crit)
    # float cross-check
    d_float = best_gap / (na * nb)
    assert abs(r["d_micro"] / 1e6 - d_float) < 1e-5


def test_segment_price_utest_pure_python(spark, sf_dir):
    """2U, the tie term, and z^2 match a pure-Python recompute, and
    z^2 agrees with the float normal-approximation formula to ~1e-4."""
    import pandas as pd

    from beauty_lakehouse_spark.operators.quality import (
        UTEST_SEG_A,
        UTEST_SEG_B,
        q_segment_price_utest,
    )

    [r] = q_segment_price_utest(spark, sf_dir).collect()

    o = pd.read_parquet(f"{sf_dir}/orders.parquet")
    c = pd.read_parquet(f"{sf_dir}/customer.parquet")
    j = o.merge(c, left_on="o_custkey", right_on="c_custkey")
    j = j[j["c_mktsegment"].isin([UTEST_SEG_A, UTEST_SEG_B])]
    j["cents"] = (j["o_totalprice"].round(2) * 100).round().astype("int64")
    a = sorted(j[j["c_mktsegment"] == UTEST_SEG_A]["cents"])
    b = sorted(j[j["c_mktsegment"] == UTEST_SEG_B]["cents"])
    na, nb = len(a), len(b)
    from bisect import bisect_left, bisect_right
    from collections import Counter

    u2 = 0
    for v in a:
        u2 += 2 * bisect_left(b, v) + (
            bisect_right(b, v) - bisect_left(b, v)
        )
    tie = sum(t**3 - t for t in Counter(a + b).values())
    N = na + nb
    num = 3 * (u2 - na * nb) ** 2 * N * (N - 1)
    den = na * nb * ((N + 1) * N * (N - 1) - tie)
    assert (r["n_a"], r["n_b"]) == (na, nb)
    assert r["u2"] == u2
    assert r["tie_term"] == tie
    assert r["z2_micro"] == num * 10**6 // den
    assert r["significant"] == (r["z2_micro"] > 3_841_600)
    # float cross-check: z = (U - mu) / sigma with tie correction
    U = u2 / 2
    mu = na * nb / 2
    sigma2 = na * nb / 12 * ((N + 1) - tie / (N * (N - 1)))
    z2f = (U - mu) ** 2 / sigma2
    assert abs(r["z2_micro"] / 1e6 - z2f) < max(1e-4, z2f * 1e-4)


def test_cuped_adjusted_diff_pure_python(spark, sf_dir):
    """theta, milli means, the adjusted diff, and rho^2 match an exact
    big-int recompute, and theta agrees with float OLS. (The fixture
    draws each customer's orders independently, so X barely predicts Y
    but rho^2 is still a few percent from segment-mix structure.)"""
    import pandas as pd

    from beauty_lakehouse_spark.operators.quality import (
        UTEST_SEG_A,
        UTEST_SEG_B,
        q_cuped_adjusted_diff,
    )

    [r] = q_cuped_adjusted_diff(spark, sf_dir).collect()

    o = pd.read_parquet(f"{sf_dir}/orders.parquet")
    c = pd.read_parquet(f"{sf_dir}/customer.parquet")
    o["cents"] = (o["o_totalprice"].round(2) * 100).round().astype("int64")
    o["y"] = o["o_orderdate"].dt.year
    maxy = o["y"].max()
    pc = (
        o.assign(
            x=o["cents"].where(o["y"] < maxy, 0),
            yy=o["cents"].where(o["y"] == maxy, 0),
        )
        .groupby("o_custkey")[["x", "yy"]]
        .sum()
        .merge(c, left_on="o_custkey", right_on="c_custkey")
    )
    pc = pc[pc["c_mktsegment"].isin([UTEST_SEG_A, UTEST_SEG_B])]
    xs = [int(v) for v in pc["x"]]
    ys = [int(v) for v in pc["yy"]]
    ia = (pc["c_mktsegment"] == UTEST_SEG_A).tolist()
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(v * v for v in xs)
    sxy = sum(a * b for a, b in zip(xs, ys))
    syy = sum(v * v for v in ys)
    th_num = n * sxy - sx * sy
    th_den = n * sxx - sx * sx
    den_y = n * syy - sy * sy

    def sidiv(num, den):
        return -((-num) // den) if num < 0 else num // den

    theta = sidiv(th_num * 10**6, th_den)
    na = sum(ia)
    nb = n - na
    sya = sum(y for y, f in zip(ys, ia) if f)
    syb = sy - sya
    sxa = sum(x for x, f in zip(xs, ia) if f)
    sxb = sx - sxa
    yam, ybm = sya * 1000 // na, syb * 1000 // nb
    xam, xbm = sxa * 1000 // na, sxb * 1000 // nb
    adj = sidiv(theta * (xam - xbm), 10**6)
    rho2 = abs(theta) * abs(th_num) // den_y
    assert (r["n_a"], r["n_b"]) == (na, nb)
    assert r["theta_micro"] == theta
    assert r["diff_raw_milli"] == yam - ybm
    assert r["diff_cuped_milli"] == (yam - ybm) - adj
    assert r["rho2_micro"] == rho2
    # float cross-checks
    import statistics

    mx, my_ = sx / n, sy / n
    cov = sum((a - mx) * (b - my_) for a, b in zip(xs, ys)) / n
    varx = sum((a - mx) ** 2 for a in xs) / n
    assert abs(theta / 1e6 - cov / varx) < max(1e-4, abs(cov / varx) * 1e-3)
    assert rho2 >= 0
    rho2_float = cov * cov / (varx * (sum((b - my_) ** 2 for b in ys) / n))
    assert abs(rho2 / 1e6 - rho2_float) < 1e-4


def test_neyman_allocation_pure_python(spark, sf_dir):
    """Both allocations match an exact recompute (isqrt sd, Hamilton
    rounding), each sums exactly to the budget, and the Neyman
    allocation is the variance-optimal one among the two designs."""
    import math

    import pandas as pd

    from beauty_lakehouse_spark.operators.quality import (
        NEYMAN_BUDGET,
        q_neyman_allocation,
    )

    rows = {r["segment"]: r for r in q_neyman_allocation(spark, sf_dir).collect()}

    o = pd.read_parquet(f"{sf_dir}/orders.parquet")
    c = pd.read_parquet(f"{sf_dir}/customer.parquet")
    j = o.merge(c, left_on="o_custkey", right_on="c_custkey")
    j["cents"] = (j["o_totalprice"].round(2) * 100).round().astype("int64")
    stats = {}
    for seg, g in j.groupby("c_mktsegment"):
        xs = [int(v) for v in g["cents"]]
        n = len(xs)
        s1, s2 = sum(xs), sum(x * x for x in xs)
        sd = math.isqrt((n * s2 - s1 * s1) // (n * (n - 1)))
        stats[seg] = (n, sd, n * sd)

    def hamilton(weights, budget):
        tot = sum(weights.values())
        base = {s: budget * w // tot for s, w in weights.items()}
        rem = {s: budget * w % tot for s, w in weights.items()}
        left = budget - sum(base.values())
        for s in sorted(weights, key=lambda s: (-rem[s], s))[:left]:
            base[s] += 1
        return base

    ney = hamilton({s: w for s, (_, _, w) in stats.items()}, NEYMAN_BUDGET)
    prop = hamilton({s: n for s, (n, _, _) in stats.items()}, NEYMAN_BUDGET)
    for seg, (n, sd, w) in stats.items():
        r = rows[seg]
        assert (r["n_rows"], r["sd_cents"], r["weight"]) == (n, sd, w)
        assert r["alloc_neyman"] == ney[seg]
        assert r["alloc_proportional"] == prop[seg]
    assert sum(r["alloc_neyman"] for r in rows.values()) == NEYMAN_BUDGET
    assert (
        sum(r["alloc_proportional"] for r in rows.values()) == NEYMAN_BUDGET
    )
    # Neyman optimality: estimator variance sum N_h^2 sd_h^2 / n_h
    # (dropping the constant 1/N^2) is no worse under Neyman
    var = lambda alloc: sum(  # noqa: E731
        (n * sd) ** 2 / alloc[seg] for seg, (n, sd, _) in stats.items()
    )
    assert var(ney) <= var(prop) * (1 + 1e-9)
    # FLOAT WITNESS: integer sd within 1 cent of the float sample sd,
    # and each Neyman allocation within rounding of the float optimum
    # n_h = budget * N_h sd_h / sum (N sd)
    fsd = {}
    for seg, g in j.groupby("c_mktsegment"):
        xs = [int(v) for v in g["cents"]]
        n = len(xs)
        m = sum(xs) / n
        fsd[seg] = (sum((x - m) ** 2 for x in xs) / (n - 1)) ** 0.5
    ftot = sum(n * fsd[seg] for seg, (n, _, _) in stats.items())
    for seg, (n, sd, _w) in stats.items():
        assert abs(sd - fsd[seg]) <= 1.0
        falloc = NEYMAN_BUDGET * n * fsd[seg] / ftot
        assert abs(rows[seg]["alloc_neyman"] - falloc) <= 2 + 0.01 * falloc


def test_join_cardinality_estimate_pure_python(spark, sf_dir):
    """Estimator, truth, and error match a pure-Python recompute, and
    the histogram estimate lands within a sane band of the truth
    (containment estimators overestimate mildly on near-uniform keys,
    never by orders of magnitude)."""
    import hashlib

    import pandas as pd

    from beauty_lakehouse_spark.operators.quality import (
        CARD_EST_BUCKETS,
        q_join_cardinality_estimate,
    )

    [r] = q_join_cardinality_estimate(spark, sf_dir).collect()

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    cr = (
        li[li["l_returnflag"] == "R"]
        .groupby("l_partkey")
        .size()
        .to_dict()
    )
    cs = (
        li[li["l_linestatus"] == "O"]
        .groupby("l_partkey")
        .size()
        .to_dict()
    )

    def bkt(k):
        return (
            int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16)
            % CARD_EST_BUCKETS
        )

    rb, sb = {}, {}
    for k, c in cr.items():
        b = bkt(k)
        x = rb.setdefault(b, [0, 0])
        x[0] += c
        x[1] += 1
    for k, c in cs.items():
        b = bkt(k)
        x = sb.setdefault(b, [0, 0])
        x[0] += c
        x[1] += 1
    est = sum(
        rb[b][0] * sb[b][0] // max(rb[b][1], sb[b][1])
        for b in set(rb) & set(sb)
    )
    actual = sum(c * cs[k] for k, c in cr.items() if k in cs)
    assert (r["keys_r"], r["keys_s"]) == (len(cr), len(cs))
    assert r["est_rows"] == est
    assert r["actual_rows"] == actual
    d = (est - actual) * 10**6
    want = -((-d) // actual) if d < 0 else d // actual
    assert r["rel_err_micro"] == want
    # sanity band: within 3x either way
    assert actual // 3 <= est <= actual * 3
    # FLOAT WITNESS: the micro relative error tracks the float ratio
    assert abs(r["rel_err_micro"] / 1e6 - (est - actual) / actual) <= 2e-6


def test_fk_discovery_discriminates(spark, sf_dir):
    """Containment and uniqueness match a pandas recompute; the six
    true FKs flag is_fk, the low-containment decoy is rejected, and
    the dense-surrogate decoy false-positives — the documented
    textbook limitation of containment-only discovery, pinned."""
    import pandas as pd

    from beauty_lakehouse_spark.operators.quality import (
        FK_CANDIDATES,
        q_fk_discovery,
    )

    rows = {
        (r["child_table"], r["child_col"], r["parent_table"]): r
        for r in q_fk_discovery(spark, sf_dir).collect()
    }
    assert len(rows) == len(FK_CANDIDATES)

    tabs = {}
    for ct, cc, pt, pc in FK_CANDIDATES:
        for t in (ct, pt):
            if t not in tabs:
                tabs[t] = pd.read_parquet(f"{sf_dir}/{t}.parquet")
    true_fks = set()
    for ct, cc, pt, pc in FK_CANDIDATES:
        child = set(tabs[ct][cc])
        parent = tabs[pt][pc]
        contained = len(child & set(parent))
        unique = parent.nunique() == len(parent)
        r = rows[(ct, cc, pt)]
        assert r["n_child_distinct"] == len(child)
        assert r["n_contained"] == contained
        assert r["containment_micro"] == contained * 10**6 // len(child)
        assert r["parent_unique"] == unique
        want_fk = r["containment_micro"] >= 990_000 and unique
        assert r["is_fk"] == want_fk
        if want_fk:
            true_fks.add((ct, cc, pt))
    # six real FKs + the documented dense-surrogate false positive
    assert len(true_fks) == 7
    assert ("orders", "o_custkey", "part") in true_fks  # the known FP
    assert ("customer", "c_custkey", "supplier") not in true_fks


def test_hot_keys_top_pure_python(spark, sf_dir):
    """Top-20 heavy keys per target match a pandas value_counts
    recompute with the (count desc, key asc) tie order; shares are
    half-up ppm of the true table size."""
    import pandas as pd

    from beauty_lakehouse_spark.operators.quality import q_hot_keys_top

    rows = q_hot_keys_top(spark, sf_dir).collect()
    by_target: dict = {}
    for r in rows:
        by_target.setdefault(r["target"], []).append(r)
    assert set(by_target) == {"lineitem.l_partkey", "orders.o_custkey"}
    for target, rs in by_target.items():
        table, key = target.split(".")
        df = pd.read_parquet(f"{sf_dir}/{table}.parquet")
        vc = df.groupby(key).size().reset_index(name="n")
        vc = vc.sort_values(["n", key], ascending=[False, True]).head(20)
        total = len(df)
        want = [
            (int(k), int(n), ((2 * int(n) * 10**6 + total) // (2 * total)))
            for k, n in zip(vc[key], vc["n"])
        ]
        got = sorted(
            ((r["key"], r["n_rows"], int(r["share_ppm"])) for r in rs),
            key=lambda x: (-x[1], x[0]),
        )
        assert got == want
        # FLOAT WITNESS: ppm share within half-up rounding of n/total
        for k, n, ppm in got:
            assert abs(ppm / 1e6 - n / total) <= 5e-7


def test_selectivity_audit_pure_python(spark, sf_dir):
    """Both histogram estimates and the true counts match a pure
    pandas recompute of the same bucket construction; the float
    witness checks the integer interpolation against float
    interpolation, and equi-depth buckets really hold ~equal mass."""
    import pandas as pd

    from beauty_lakehouse_spark.operators.warehouse import (
        SELAUDIT_DEPTH_BUCKETS,
        SELAUDIT_PREDICATES,
        SELAUDIT_WIDTH_BUCKETS,
        q_selectivity_audit,
    )

    rows = {r["predicate"]: r for r in q_selectivity_audit(spark, sf_dir).collect()}
    assert set(rows) == {n for n, _, _ in SELAUDIT_PREDICATES}

    o = pd.read_parquet(f"{sf_dir}/orders.parquet")
    cents = (o["o_totalprice"].round(2) * 100).round().astype("int64")
    grid = cents.value_counts().sort_index()
    cs, ns = list(grid.index), list(grid.values)
    cmin, cmax, N = int(cs[0]), int(cs[-1]), int(sum(ns))
    wb, db = SELAUDIT_WIDTH_BUCKETS, SELAUDIT_DEPTH_BUCKETS
    w = (cmax - cmin + wb) // wb
    width: dict = {}
    for c, n in zip(cs, ns):
        b = (int(c) - cmin) // w
        lo, hi = cmin + b * w, cmin + (b + 1) * w - 1
        e = width.setdefault(b, [lo, hi, 0])
        e[2] += int(n)
    depth: dict = {}
    cum = 0
    for c, n in zip(cs, ns):
        cum += int(n)
        b = (cum * db + N - 1) // N
        e = depth.setdefault(b, [int(c), int(c), 0])
        e[0] = min(e[0], int(c))
        e[1] = max(e[1], int(c))
        e[2] += int(n)

    def est(hist, lo_q, hi_q):
        tot = 0
        ftot = 0.0
        for lo, hi, nb in hist.values():
            ov_lo, ov_hi = max(lo, lo_q), min(hi, hi_q)
            if ov_hi >= ov_lo:
                tot += (nb * (ov_hi - ov_lo + 1)) // (hi - lo + 1)
                ftot += nb * (ov_hi - ov_lo + 1) / (hi - lo + 1)
        return tot, ftot

    for name, plo, phi in SELAUDIT_PREDICATES:
        lo_q = plo if plo is not None else -(1 << 62)
        hi_q = phi if phi is not None else 1 << 62
        actual = sum(
            int(n) for c, n in zip(cs, ns) if lo_q <= int(c) <= hi_q
        )
        ew, few = est(width, lo_q, hi_q)
        ed, fed = est(depth, lo_q, hi_q)
        r = rows[name]
        assert r["actual_rows"] == actual
        assert r["est_width"] == ew
        assert r["est_depth"] == ed
        # FLOAT WITNESS: integer interpolation within one row per
        # bucket of the float interpolation
        assert abs(r["est_width"] - few) <= len(width)
        assert abs(r["est_depth"] - fed) <= len(depth)
        d = (ew - actual) * 10**6
        dv = -((-d) // max(actual, 1)) if d < 0 else d // max(actual, 1)
        assert r["err_width_micro"] == dv
    # equi-depth law: every bucket holds N/db rows up to one
    # distinct-value's mass
    max_val_mass = max(int(n) for n in ns)
    for lo, hi, nb in depth.values():
        assert abs(nb - N / db) <= max_val_mass + N / db


def test_column_encoding_stats_pure_python(spark, sf_dir):
    """Run counts under the (day, orderkey) layout and dictionary code
    widths match a pandas recompute; FLOAT WITNESS: dict bits equals
    ceil(log2(ndv)) computed with math.log2."""
    import math

    import pandas as pd

    from beauty_lakehouse_spark.operators.warehouse import (
        ENCODING_COLUMNS,
        q_column_encoding_stats,
    )

    rows = {r["column"]: r for r in q_column_encoding_stats(spark, sf_dir).collect()}
    assert set(rows) == set(ENCODING_COLUMNS)

    o = pd.read_parquet(f"{sf_dir}/orders.parquet")
    o["d"] = o["o_orderdate"].dt.date
    for col in ENCODING_COLUMNS:
        runs = 0
        for _, g in o.groupby("d"):
            vals = list(g.sort_values("o_orderkey")[col])
            runs += 1 + sum(a != b for a, b in zip(vals, vals[1:]))
        ndv = o[col].nunique()
        r = rows[col]
        assert r["n_rows"] == len(o)
        assert r["n_distinct"] == ndv
        assert r["n_runs"] == runs
        want_bits = 0 if ndv <= 1 else (ndv - 1).bit_length()
        assert r["dict_bits_per_value"] == want_bits
        # FLOAT WITNESS: bit width is ceil(log2(ndv))
        assert want_bits == (
            0 if ndv <= 1 else math.ceil(math.log2(ndv))
        )
        assert abs(r["rle_runs_ppm"] / 1e6 - runs / len(o)) <= 5e-7


def test_randomization_test_pure_python(spark, sf_dir):
    """The Bernoulli randomization test matches a pure-Python
    recompute (md5 seed + splitmix60 mixer + threshold labels, the
    same cross-multiplied milli statistic); FLOAT WITNESS: the
    observed statistic tracks the float |mean difference| and the
    replicate group sizes concentrate around the true n_a."""
    import hashlib

    import pandas as pd

    from beauty_lakehouse_spark.operators.quality import (
        RANDTEST_P,
        RANDTEST_SEG_A,
        RANDTEST_SEG_B,
        q_randomization_test_diff,
    )
    from tests.test_quality import _splitmix60_py

    [r] = q_randomization_test_diff(spark, sf_dir).collect()

    o = pd.read_parquet(f"{sf_dir}/orders.parquet")
    c = pd.read_parquet(f"{sf_dir}/customer.parquet")
    j = o.merge(c, left_on="o_custkey", right_on="c_custkey")
    j = j[j["c_mktsegment"].isin([RANDTEST_SEG_A, RANDTEST_SEG_B])]
    cents = (j["o_totalprice"].round(2) * 100).round().astype("int64")
    true_a = (j["c_mktsegment"] == RANDTEST_SEG_A).astype(int)
    seeds = [
        int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16)
        for k in j["o_orderkey"]
    ]
    n_a_true, n_all = int(true_a.sum()), len(j)
    thr = (n_a_true * (1 << 60)) // n_all

    def stat(labels):
        sa = sum(int(x) for x, a in zip(cents, labels) if a)
        na = sum(labels)
        sb = int(cents.sum()) - sa
        nb = n_all - na
        if na == 0 or nb == 0:
            return 0, na, nb
        return abs(sa * nb - sb * na) * 1000 // (na * nb), na, nb

    obs, na_obs, nb_obs = stat(list(true_a))
    assert (r["n_a"], r["n_b"]) == (na_obs, nb_obs)
    assert r["obs_dm_milli"] == obs
    n_ge = 0
    for rep in range(RANDTEST_P):
        labels = [
            1 if _splitmix60_py(s, rep) < thr else 0 for s in seeds
        ]
        dm, na, nb = stat(labels)
        n_ge += dm >= obs
        # replicate sizes concentrate near the true split (binomial)
        assert abs(na - n_a_true) < 6 * (n_all**0.5)
    assert r["n_ge"] == n_ge
    assert r["n_replicates"] == RANDTEST_P
    assert r["p_value_micro"] == n_ge * 10**6 // RANDTEST_P
    # FLOAT WITNESS: milli statistic tracks the float mean gap
    ma = float(cents[true_a == 1].mean())
    mb = float(cents[true_a == 0].mean())
    assert abs(r["obs_dm_milli"] / 1e3 - abs(ma - mb)) <= 1e-3


def test_info_gain_features_pure_python(spark, sf_dir):
    """IG matches a pure-Python integer recompute via the engine's own
    ln_micro values AND (FLOAT WITNESS) the math.log entropy formulas;
    IG is non-negative and bounded by min(H(Y), ln(n_values))."""
    import math
    from collections import Counter

    import pandas as pd

    from pyspark.sql import functions as F

    from beauty_lakehouse_spark.functions import ln_micro
    from beauty_lakehouse_spark.operators.quality import (
        INFOGAIN_FEATURES,
        q_info_gain_features,
    )

    rows = {r["feature"]: r for r in q_info_gain_features(spark, sf_dir).collect()}
    assert set(rows) == set(INFOGAIN_FEATURES)

    o = pd.read_parquet(f"{sf_dir}/orders.parquet")
    c = pd.read_parquet(f"{sf_dir}/customer.parquet")
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    returned = set(li[li["l_returnflag"] == "R"]["l_orderkey"])
    j = o.merge(c, left_on="o_custkey", right_on="c_custkey")
    j["y"] = j["o_orderkey"].isin(returned).astype(int)
    j["order_year"] = j["o_orderdate"].dt.year.astype(str)
    n = len(j)

    for feat in INFOGAIN_FEATURES:
        cells = Counter(zip(j[feat], j["y"]))
        nx = Counter()
        ny = Counter()
        for (x, y), m in cells.items():
            nx[x] += m
            ny[y] += m
        # engine ln_micro values for the exact recompute
        need = sorted(
            {(n, v) for v in ny.values()}
            | {(nx[x], m) for (x, _y), m in cells.items()}
        )
        lnm = {
            (r["a"], r["b"]): r["v"]
            for r in spark.createDataFrame(need, ["a", "b"])
            .select(
                "a", "b",
                ln_micro(
                    F.col("a").cast("long"), F.col("b").cast("long")
                ).alias("v"),
            )
            .collect()
        }

        def hu0(num, den):
            return (2 * num + den) // (2 * den)

        hy = hu0(sum(v * lnm[(n, v)] for v in ny.values()), n)
        hc = hu0(
            sum(m * lnm[(nx[x], m)] for (x, _y), m in cells.items()), n
        )
        r = rows[feat]
        assert r["n_values"] == len(nx)
        assert r["h_y_unats"] == hy
        assert r["h_y_given_x_unats"] == hc
        assert r["info_gain_unats"] == hy - hc
        # FLOAT WITNESS: math.log entropies
        fhy = sum(v / n * math.log(n / v) for v in ny.values())
        fhc = sum(
            m / n * math.log(nx[x] / m) for (x, _y), m in cells.items()
        )
        assert abs(r["h_y_unats"] / 1e6 - fhy) < 1e-4
        assert abs(r["h_y_given_x_unats"] / 1e6 - fhc) < 1e-4
        fig = fhy - fhc
        assert abs(r["info_gain_unats"] / 1e6 - fig) < 2e-4
        assert r["info_gain_unats"] >= -2  # numeric floor of 0
        assert r["info_gain_unats"] / 1e6 <= fhy + 1e-4


def test_kmv_distinct_estimate_pure_python(spark, sf_dir):
    """KMV rows match a pure-python recompute (md5 bottom-k over the
    same prefixed keys); FLOAT WITNESS: the integer (k-1)*2^60 // h_k
    estimator tracks the float division within 1, and the estimate
    lands within a loose multiple of the 1/sqrt(k-2) relative error
    when the sketch saturates."""
    import hashlib
    import math

    import pandas as pd

    from beauty_lakehouse_spark.operators.quality import (
        KMV_DOMAIN,
        KMV_K,
        KMV_TARGETS,
        q_kmv_distinct_estimate,
    )

    got = {
        r.target: r for r in q_kmv_distinct_estimate(spark, sf_dir).collect()
    }
    assert set(got) == {f"{t}.{c}" for t, c in KMV_TARGETS}
    for table, col in KMV_TARGETS:
        vals = pd.read_parquet(f"{sf_dir}/{table}.parquet", columns=[col])[
            col
        ].dropna()
        hs = sorted(
            {
                int(
                    hashlib.md5(
                        f"kmv:{table}.{col}:{v}".encode()
                    ).hexdigest()[:15],
                    16,
                )
                for v in vals
            }
        )
        n_exact = vals.nunique()
        bottom = hs[:KMV_K]
        kth = bottom[-1]
        if len(bottom) < KMV_K:
            est = len(bottom)
        else:
            est = (KMV_K - 1) * KMV_DOMAIN // kth
        r = got[f"{table}.{col}"]
        assert r.n_exact == n_exact
        assert r.k_filled == len(bottom)
        assert r.kth_min_hash == kth
        assert r.kmv_estimate == est
        assert r.err_permille == abs(est - n_exact) * 1000 // n_exact
        # FLOAT WITNESS: integer estimator vs float division, and a
        # loose 8-sigma accuracy band when the sketch saturates
        if len(bottom) == KMV_K:
            assert abs(est - (KMV_K - 1) * KMV_DOMAIN / kth) <= 1
            rel_err = abs(est - n_exact) / n_exact
            assert rel_err <= 8 / math.sqrt(KMV_K - 2)
        else:
            assert est == n_exact


def test_kmv_set_algebra_pure_python(spark, sf_dir):
    """Pure-Python recompute of the Beyer et al. KMV union/intersection
    estimators per event-type pair, with a FLOAT WITNESS on the union
    estimator ((k-1)*D/h_k in plain float must match the integer
    division within 1) and the accuracy contract: union and
    intersection estimates within 4x the ~1/sqrt(k-2) relative error
    of their exact twins."""
    import hashlib
    import math

    import pandas as pd

    from beauty_lakehouse_spark.operators.quality import (
        KMV_DOMAIN,
        KMV_K,
        q_kmv_set_algebra,
    )

    def h64(u: int) -> int:
        return int(hashlib.md5(f"kmvsa:{u}".encode()).hexdigest()[:15], 16)

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")[["event_type", "user_id"]]
    users: dict[str, set[int]] = {}
    for ty, u in zip(ev.event_type, ev.user_id):
        users.setdefault(ty, set()).add(int(u))
    sketches = {
        ty: sorted(h64(u) for u in us)[:KMV_K] for ty, us in users.items()
    }

    rows = {
        (r.type_a, r.type_b): r
        for r in q_kmv_set_algebra(spark, sf_dir).collect()
    }
    types = sorted(users)
    assert set(rows) == {
        (a, b) for i, a in enumerate(types) for b in types[i + 1:]
    }
    rel = 4.0 / math.sqrt(KMV_K - 2)
    for (a, b), r in rows.items():
        uk = sorted(set(sketches[a]) | set(sketches[b]))[:KMV_K]
        filled = len(uk)
        sa, sb = set(sketches[a]), set(sketches[b])
        k_int = sum(1 for h in uk if h in sa and h in sb)
        assert r.k_int == k_int
        n_union = len(users[a] | users[b])
        n_inter = len(users[a] & users[b])
        assert r.n_exact_union == n_union
        assert r.n_exact_intersection == n_inter
        if filled < KMV_K:
            assert r.kmv_union_est == filled == n_union
            assert r.kmv_intersection_est == k_int == n_inter
        else:
            want_u = ((KMV_K - 1) * KMV_DOMAIN) // uk[-1]
            assert r.kmv_union_est == want_u
            # FLOAT WITNESS: the float-form estimator agrees within 1
            assert abs(r.kmv_union_est - (KMV_K - 1) * KMV_DOMAIN / uk[-1]) <= 1
            assert r.kmv_intersection_est == (k_int * want_u) // filled
            # accuracy contract vs exact twins
            assert abs(r.kmv_union_est - n_union) <= rel * n_union
            assert abs(r.kmv_intersection_est - n_inter) <= max(
                rel * n_union, 8
            )
        assert r.jaccard_permille == (k_int * 1000) // filled
