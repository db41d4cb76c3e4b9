"""Data-quality reports: one declarative rule spec per schema, one compiler.

The reference's validator (scripts/validate_dataset.py) is a
single-process pandas script printing ✔/❌. The engine form: a
schema's rules are data, ``(name, table, kind, expr)`` tuples, and
:func:`rule_report` compiles a whole spec into one Spark plan that
returns one ``(rule, violations)`` row per rule; a dataset is valid iff
every count is 0 (ref L5 reporting intent).

Two specs mirror the validator 1:1 (SURVEY.md §5.1): :data:`TPCH_RULES`
on the fixture tables (:func:`validate`) and ``datagen.BEAUTY_RULES``
on the generated beauty star schema (``datagen.beauty_report``).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Rule kinds, and what ``expr`` holds for each: a Spark SQL condition
#: that is true on a violating row; ``None`` (a row with any null
#: column violates); ``(fk, parent, pk)``, the child's foreign key and
#: the parent table's key; the key column.
PREDICATE, NOT_NULL, RI, UNIQUE = "predicate", "not_null", "ri", "unique"

#: The fixture tables :func:`validate` reports on.
TPCH_TABLES = (
    "lineitem", "orders", "customer", "part", "supplier", "nation", "region",
)

#: The fixture schema's 20 rules (ref :113-203). ``lineitem⋈orders`` is
#: the inner join :func:`validate` adds, so ship-after-order counts
#: (lineitem, order) pairs like the reference SQL.
TPCH_RULES = (
    ("lineitem.order_exists", "lineitem", RI, ("l_orderkey", "orders", "o_orderkey")),
    ("lineitem.part_exists", "lineitem", RI, ("l_partkey", "part", "p_partkey")),
    ("lineitem.supplier_exists", "lineitem", RI, ("l_suppkey", "supplier", "s_suppkey")),
    ("orders.customer_exists", "orders", RI, ("o_custkey", "customer", "c_custkey")),
    ("customer.nation_exists", "customer", RI, ("c_nationkey", "nation", "n_nationkey")),
    ("nation.region_exists", "nation", RI, ("n_regionkey", "region", "r_regionkey")),
    ("orders.o_orderkey.unique", "orders", UNIQUE, "o_orderkey"),
    ("customer.c_custkey.unique", "customer", UNIQUE, "c_custkey"),
    ("part.p_partkey.unique", "part", UNIQUE, "p_partkey"),
    ("supplier.s_suppkey.unique", "supplier", UNIQUE, "s_suppkey"),
    *((f"{t}.no_nulls", t, NOT_NULL, None) for t in TPCH_TABLES),
    ("lineitem.price_nonneg", "lineitem", PREDICATE, "l_extendedprice < 0"),
    ("lineitem.discount_range", "lineitem", PREDICATE, "l_discount < 0 OR l_discount > 1"),
    ("lineitem.ship_after_order", "lineitem⋈orders", PREDICATE, "l_shipdate < o_orderdate"),
)


def rule_report(frames: dict[str, DataFrame], rules) -> DataFrame:
    """Compile a rule spec over named frames into one plan with one
    ``(rule, violations)`` row per rule, in spec order.

    - Each frame gets ONE pass: its predicate, not-null and RI rules
      are boolean flags of that pass.
    - An RI rule left-joins the child to the parent's per-key count
      (``groupBy(pk).count()``), never to the raw parent, so a
      duplicated parent key cannot multiply the child's rows.
    - A unique rule flags the keys of that same per-key count with
      more than one row: a parent's RI and uniqueness rules share one
      shuffle.
    - A rule that reads parent columns is a predicate on an inner-join
      frame the spec supplies, so it counts (child, parent) pairs like
      the reference SQL.
    - All passes are unioned under ONE ``count_if`` aggregate, whose
      single row :func:`_unpivot_counts` turns into the report.
    """
    by_key: dict[tuple[str, str], DataFrame] = {}

    def key_counts(table: str, key: str) -> DataFrame:
        if (table, key) not in by_key:
            by_key[table, key] = frames[table].groupBy(F.col(key).alias("_key")).agg(
                F.count(F.lit(1)).alias("_rows")
            )
        return by_key[table, key]

    # frame name, or (table, key) for a per-key count -> (frame, {rule: flag})
    passes: dict = {}
    for name, table, kind, expr in rules:
        src = (table, expr) if kind == UNIQUE else table
        if src not in passes:
            passes[src] = (key_counts(*src) if kind == UNIQUE else frames[table], {})
        df, flags = passes[src]
        if kind == PREDICATE:
            flag = F.expr(expr)
        elif kind == NOT_NULL:
            flag = F.expr(" OR ".join(f"`{c}` IS NULL" for c in frames[table].columns))
        elif kind == RI:
            fk, parent, pk = expr
            hit = f"_hit{len(flags)}"
            # the key is read through its count (always >= 1), so the
            # join's inferred not-null filter stays above the aggregate
            # and cannot fork the shuffle the unique rule reads
            df = df.join(
                key_counts(parent, pk).select(
                    F.when(F.col("_rows") > 0, F.col("_key")).alias(hit)
                ),
                F.col(fk) == F.col(hit),
                "left",
            )
            flag = F.col(hit).isNull()
        else:
            flag = F.col("_rows") > 1
        passes[src] = (df, {**flags, name: flag})

    # every pass fills its own slots of one array column, null elsewhere:
    # one narrow union column keeps the adaptive re-planning cheap (the
    # union padded to one column per rule collected in 1.13 s against
    # 0.94 s, medians of 15 at sf0.01 on 4 vCPUs)
    names = [name for name, *_ in rules]
    unset = F.lit(None).cast("boolean")
    flagged = functools.reduce(DataFrame.union, [
        df.select(F.array(*[flags.get(n, unset) for n in names]).alias("flags"))
        for df, flags in passes.values()
    ])
    return _unpivot_counts(
        flagged.agg(*[F.count_if(F.col("flags")[i]).alias(n) for i, n in enumerate(names)]),
        names,
    )


def _unpivot_counts(df: DataFrame, names: list[str]) -> DataFrame:
    """One-row aggregate with one BIGINT column per rule → (rule, violations)
    rows, names taken from the column aliases."""
    pairs = ", ".join(f"'{n}', `{n}`" for n in names)
    return df.selectExpr(
        f"stack({len(names)}, {pairs}) AS (rule, violations)"
    )


def validate(tables: dict[str, DataFrame]) -> DataFrame:
    """The fixture schema's report: :data:`TPCH_RULES` compiled by
    :func:`rule_report` over ``tables``, which must hold every table
    of :data:`TPCH_TABLES`."""
    missing = [t for t in TPCH_TABLES if t not in tables]
    if missing:
        raise ValueError(f"validate: missing table(s) {', '.join(missing)}")
    li, o = tables["lineitem"], tables["orders"]
    pairs = li.join(o, li["l_orderkey"] == o["o_orderkey"])
    return rule_report({**tables, "lineitem⋈orders": pairs}, TPCH_RULES)


def q_cardinality_sketches(spark, sf_dir: str) -> DataFrame:
    """Sketch-based profiling (rows-only: HLL/quantile-sketch internals
    are engine-specific by design — pytest bounds the error vs exact
    instead of an oracle). At 100 TB these replace exact distinct
    counts/percentiles in profiling jobs: fixed memory, one pass,
    mergeable across partitions.

    Output: per profiled column, exact vs approx distinct count and the
    approx p50/p90 where numeric."""
    from ..catalog import load

    targets = {
        "lineitem": ["l_orderkey", "l_partkey"],
        "orders": ["o_custkey", "o_totalprice"],
        "events": ["user_id"],
        "documents": ["doc_id"],
    }
    t = load(spark, sf_dir)
    report = None
    # one scan per TABLE: all its profiled columns in a single aggregate
    # (exact + approx side by side), then unpivoted to one row per column
    for table, cols in targets.items():
        df = t.table(table)
        agg = df.agg(
            *[
                x
                for c in cols
                for x in (
                    F.countDistinct(c).alias(f"e_{c}"),
                    F.approx_count_distinct(c, rsd=0.02).alias(f"a_{c}"),
                )
            ]
        )
        pairs = ", ".join(f"'{table}.{c}', `e_{c}`, `a_{c}`" for c in cols)
        rows = agg.selectExpr(
            f"stack({len(cols)}, {pairs}) AS "
            "(target, exact_distinct, approx_distinct)"
        )
        report = rows if report is None else report.unionByName(rows)
    return report


#: The quantile-profiling targets (table, column) — every numeric
#: measure column across the fixture tables, all positive-valued.
QSKETCH_TARGETS = (
    ("lineitem", "l_extendedprice"),
    ("lineitem", "l_quantity"),
    ("orders", "o_totalprice"),
    ("events", "value"),
)


def q_quantile_sketches(spark, sf_dir: str) -> DataFrame:
    """Quantile-sketch PROFILING — one DDSketch log-bucket register
    table per profiled column, nearest-rank p50/p90/p99 brackets.

    r13 (VERDICT r12 ask #5): graduated from rows-only
    ``approx_percentile`` (KLL internals are engine-specific) to the
    PORTABLE register form `ddsketch_value_quantiles` pioneered —
    fixed-point `ln_micro` bucketing, integer nearest-rank probe,
    exact per-bucket min/max cents — so the multi-column profile is
    now hash-verified end to end (nothing lost: the bracket midpoint
    is at least as informative as a KLL point estimate, with the
    DDSketch ~2% relative guarantee).

    Scale: one union scan -> map-side-combinable (target, bucket)
    groupBy; each target's register table is bounded (≤ ~700
    buckets), the probe windows run per-target on that grid. Merging
    shards stays count-add/min-min/max-max.

    Output: (target, quantile, rank, bucket, n_in_bucket, lo_cents,
    hi_cents)."""
    from ..catalog import load
    from ..functions import dec2

    t = load(spark, sf_dir)
    src = None
    for table, col in QSKETCH_TARGETS:
        one = t.table(table).select(
            F.lit(f"{table}.{col}").alias("target"),
            (dec2(col) * 100).cast("long").alias("cents"),
        )
        src = one if src is None else src.unionByName(one)
    return ddsketch_quantiles_finish(
        ddsketch_cents_buckets(src, keys=("target",)),
        keys=("target",),
    ).orderBy("target", "quantile")


#: DDSketch bucket step in micro-nats: ln(1.02) · 10^6 — consecutive
#: bucket bounds are a factor γ = 1.02 apart, so any value in a bucket
#: is within ~2% relative of its bounds (the DDSketch guarantee,
#: Masson et al., VLDB 2019).
DDS_STEP_UNATS = 19_803
DDS_QUANTILES = (50, 90, 99)

#: Exclusive upper bound of the cents contract (ln_micro exact range).
_DDS_MAX_CENTS = 1 << 31


@functools.lru_cache(maxsize=1)
def _dds_bucket_bounds() -> tuple[int, ...]:
    """``bounds[k]`` = the smallest cents whose exact bucket id
    (``ln_micro_py(cents, 1) // DDS_STEP_UNATS``) reaches ``k``, for
    every k up to the contract maximum (~1086 entries for cents <
    2^31). Monotone in k, so ``bucket(c) = max{k : bounds[k] <= c}``
    — computed ONCE driver-side by binary search over the exact
    integer `ln_micro_py`, then shipped as a literal array the
    per-row assignment indexes (the in-engine fold is an interpreted
    higher-order function, ~20 µs/row — 13 s over sf0.1 lineitem)."""
    from ..functions import ln_micro_py

    kmax = ln_micro_py(_DDS_MAX_CENTS - 1, 1) // DDS_STEP_UNATS
    bounds = []
    for k in range(kmax + 1):
        target = k * DDS_STEP_UNATS
        lo, hi = 1, _DDS_MAX_CENTS - 1
        while lo < hi:
            mid = (lo + hi) // 2
            if ln_micro_py(mid, 1) >= target:
                hi = mid
            else:
                lo = mid + 1
        bounds.append(lo)
    return tuple(bounds)


def dds_bucket(cents) -> "F.Column":
    """EXACT DDSketch bucket id for a positive cents column, equal to
    ``ln_micro(cents, 1) div DDS_STEP_UNATS`` bit-for-bit but
    whole-stage-codegen fast: float ``ln`` PROPOSES a bucket (within
    ±1 of truth — the fixed-point quantization is ±~120 µnats ≈ 0.006
    buckets, float error ~1 ulp on top), and two comparisons against
    the exact integer boundary grid (`_dds_bucket_bounds`) DECIDE, so
    the float never determines the result near a boundary and JVM /
    DuckDB / Python libm differences cannot change the output."""
    bounds = _dds_bucket_bounds()
    kmax = len(bounds) - 1
    arr = F.lit(list(bounds))
    i = F.least(
        F.greatest(
            F.floor(
                F.log(cents.cast("double")) * F.lit(1_000_000.0 / DDS_STEP_UNATS)
            ).cast("int"),
            F.lit(0),
        ),
        F.lit(kmax - 1),
    )
    return (
        (i - 1)
        + (cents >= F.get(arr, i)).cast("int")
        + (cents >= F.get(arr, i + 1)).cast("int")
    ).cast("long")


def ddsketch_cents_buckets(
    cents: DataFrame, keys: tuple[str, ...] = ()
) -> DataFrame:
    """Mergeable DDSketch-style log-bucket table over a positive
    integer ``cents`` column: bucket id = fixed-point ln(cents) div
    DDS_STEP_UNATS (via :func:`dds_bucket` — the exact integer
    boundary grid decides, so both engines bucket identically; float
    ln only proposes), with per-bucket count and EXACT min/max cents.
    Counts add, min/min max/max — the sketch merges across
    partitions/streams/shards like the HLL registers and CMS
    cells; state is ≤ ln(max/min)/ln γ buckets (~700 for cents in
    [1, 5·10⁷]) PER KEY, not rows. ``keys`` builds one register
    table per key tuple (the multi-column profiler's grain)."""

    # ln_micro's exactness contract is num < 2^31; RAISE on breach
    # (same policy as the isqrt norm guard) instead of silently
    # mis-bucketing a >$21M order at production scale
    guarded = F.when(
        F.col("cents") >= F.lit(1 << 31),
        F.raise_error(
            F.lit(
                "ddsketch bucket contract violated: cents >= 2^31 "
                "exceeds ln_micro's exact range; rescale upstream"
            )
        ).cast("long"),
    ).otherwise(F.col("cents"))
    return (
        cents.filter(F.col("cents") >= 1)
        .select(
            *keys,
            dds_bucket(guarded).alias("bucket"),
            "cents",
        )
        .groupBy(*keys, "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("cents").alias("lo_cents"),
            F.max("cents").alias("hi_cents"),
        )
    )


def q_ddsketch_value_quantiles(spark, sf_dir: str) -> DataFrame:
    """ORACLE-MATCHED quantile sketch — the quantile member of the
    portable-sketch family (HLL = distinct, CMS = frequency, moments =
    moments, this = quantiles), complementing `q_quantile_sketches`
    (whose KLL internals are engine-specific by design, rows-only):
    a DDSketch-style log-bucket histogram over order totals in cents.

    For each q in DDS_QUANTILES the nearest-rank target ``rank =
    ceil(q·n/100)`` lands in exactly one bucket of the cumulative
    bucket table; the report brackets the true percentile with that
    bucket's EXACT min/max cents — integer outputs with the DDSketch
    relative-width guarantee (γ² ≈ 4%, and typically far tighter since
    the bounds are the bucket's observed extremes, not its theoretical
    edges). Every step is fixed-point integer (`ln_micro` bucketing,
    integer ceil, cumulative sum over the ≤~700-row bucket table), so
    the DuckDB twin reproduces buckets, ranks, and brackets
    bit-for-bit.

    Scale: one map-side-combinable groupBy builds the sketch; the
    global window runs over the bounded bucket table (whitelisted
    class); merging shards is count-add/min-min/max-max. At 100 TB
    this replaces the full sort an exact percentile needs while
    staying hash-verifiable — the property `approx_percentile` cannot
    offer.

    Output: (quantile, rank, bucket, n_in_bucket, lo_cents,
    hi_cents)."""
    from ..catalog import load
    from ..functions import dec2

    t = load(spark, sf_dir)
    cents = t.orders.select(
        (dec2("o_totalprice") * 100).cast("long").alias("cents")
    )
    return ddsketch_quantiles_finish(ddsketch_cents_buckets(cents))


def ddsketch_quantiles_finish(
    buckets: DataFrame, keys: tuple[str, ...] = ()
) -> DataFrame:
    """Quantile probes over a DDSketch bucket table (the read half of
    `q_ddsketch_value_quantiles`, shared with the streamed drain and
    the multi-column profiler — the bucket grid is mergeable state,
    this is the finisher that turns it into the (quantile, rank,
    bracket) report, one report per ``keys`` tuple).

    Single-pass form (r13): ONE WindowExec computes the running and
    total counts together (same partition spec, two frames), each
    bucket row explodes the fixed quantile list, and a filter keeps
    the bucket whose cumulative range covers the nearest-rank target
    — no cache, no per-quantile union, no broadcast total join (the
    previous 3-probe-over-cached-table shape re-planned twelve
    branches and paid ~2.5 s of fixed overhead per call on a ≤~700-row
    ledger)."""
    from pyspark.sql import Window

    run = Window.partitionBy(*keys).orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = Window.partitionBy(*keys).orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        buckets.select(
            *keys,
            "bucket",
            "n",
            "lo_cents",
            "hi_cents",
            F.sum("n").over(run).alias("cum"),
            F.sum("n").over(tot).alias("n_total"),
        )
        .select(
            *keys,
            "bucket",
            "n",
            "lo_cents",
            "hi_cents",
            "cum",
            "n_total",
            F.explode(
                F.array(*[F.lit(q) for q in DDS_QUANTILES])
            ).alias("quantile"),
        )
        # nearest-rank: ceil(q·n/100) in exact integers
        .withColumn("rank", F.expr("(quantile * n_total + 99) div 100"))
        .filter(
            (F.col("cum") >= F.col("rank"))
            & (F.col("cum") - F.col("n") < F.col("rank"))
        )
        .select(
            *keys,
            F.col("quantile").cast("int").alias("quantile"),
            F.col("rank").cast("long").alias("rank"),
            F.col("bucket").cast("long").alias("bucket"),
            F.col("n").cast("long").alias("n_in_bucket"),
            "lo_cents",
            "hi_cents",
        )
    )


def q_hot_keys_top(spark, sf_dir: str) -> DataFrame:
    """Hot-key TOP-20 report — the key-grain companion to the
    distributional `q_key_skew_profile` (which reports Gini/heaviest
    over the count-of-counts): the 20 heaviest values of each hot
    join/agg key with their parts-per-million share, i.e. the concrete
    keys you would salt. (r10 note: this was an earlier same-named
    definition that the r9 Gini profile shadowed at import time —
    resurrected under its own name and oracle because the two reports
    answer different questions.)

    Exactness: share is an integer half-up division to ppm. One
    partial-aggregated groupBy per profiled key; the 1-row total rides
    along via a window-free broadcast join."""
    from ..catalog import load
    from ..functions import halfup_div

    t = load(spark, sf_dir)
    report = None
    for table, key in [("lineitem", "l_partkey"), ("orders", "o_custkey")]:
        df = t.table(table)
        counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("n_rows"))
        total = df.agg(F.count(F.lit(1)).alias("n_total"))
        top = (
            counts.crossJoin(F.broadcast(total))
            .select(
                F.lit(f"{table}.{key}").alias("target"),
                F.col(key).cast("long").alias("key"),
                "n_rows",
                halfup_div(F.col("n_rows") * 1000000, F.col("n_total"), 0).alias(
                    "share_ppm"
                ),
            )
            .orderBy(F.desc("n_rows"), F.asc("key"))
            .limit(20)
        )
        report = top if report is None else report.unionByName(top)
    return report


#: Portable-HLL geometry: p index bits -> m = 2^p registers. The rank
#: of a hashed value is trailing-zeros(h >> p) + 1 (geometric on
#: uniform bits), capped at the 60-p hash bits portable_hash64 yields.
HLL_P = 10
HLL_M = 1 << HLL_P
_HLL_RHO_CAP = 60 - HLL_P + 1
#: Harmonic-sum scale: 2^-rho terms are summed as (2^62 >> rho), exact.
_HLL_S_SCALE = 1 << 62
#: alpha_1024 = 0.7213 / (1 + 1.079/m) as the exact rational
#: 7_213_000·m / (10_000·(1000·m + 1079)); the raw-estimate numerator
#: alpha_num·m²·scale and denominator alpha_den·S are carried in
#: DECIMAL(38,0)/HUGEINT so the floor division is exact cross-engine.
_HLL_EST_NUM = 7_213_000 * HLL_M**3 * _HLL_S_SCALE
_HLL_EST_DEN = 10_000 * (1000 * HLL_M + 1079)
#: Linear-counting exact-identity threshold: for occupancy p ≤ 44 (at
#: m = 1024), floor(m·ln(m/(m−p))) == p identically (the series is
#: p + p²/2m + p³/3m² + … and the tail stays < 1 through p = 44;
#: at p = 45 it reaches 46.02). Returning p directly on this branch is
#: the EXACT value — it also sidesteps ln_micro's ±1e-4-nat
#: quantization, which at p = 1 (ln(1024/1023) ≈ 977 µnats ± 100)
#: otherwise floors 1.0005 down to 0 (caught by the HyperBall r = 0
#: law: every singleton ball must estimate exactly 1).
_HLL_LINEAR_EXACT = 44
assert HLL_M == 1024, "recompute _HLL_LINEAR_EXACT for a new m"


def hll_estimate(df: DataFrame, col: str) -> DataFrame:
    """Portable HyperLogLog distinct-count estimate — ORACLE-EXACT.

    Spark's ``approx_count_distinct`` is a black-box sketch (engine-
    specific registers); this is the same algorithm built from portable
    parts, so a DuckDB twin computes bit-identical registers AND the
    bit-identical estimate:

    - register index = ``portable_hash64(x) & (m-1)``; register rank =
      trailing-zeros(h >> p) + 1 via ``length(bin(w & -w))`` (the
      isolated lowest set bit's position — same in both engines);
    - registers = groupBy(idx).max(rank): one shuffle of ≤ m rows per
      partition after partial aggregation — the sketch property that
      matters at 100 TB (fixed memory, mergeable partials);
    - harmonic sum in exact integers: Σ 2^-M_j scaled by 2^62, absent
      registers contributing 2^62 each; raw estimate = the exact
      rational alpha·m²/S floored in DECIMAL(38,0);
    - small-range correction (E ≤ 5m/2, zeros present): linear
      counting ``m·ln(m/Z)`` via the fixed-point ``ln_micro`` — no
      float ln anywhere.

    Returns 1 row: (n_exact, hll_estimate, registers_nonzero). n_exact
    rides along for the accuracy contract (±~3.2% at m=1024, pytest-
    bounded at 10%); drop it in production profiling jobs."""
    exact = df.agg(F.countDistinct(col).alias("n_exact"))
    return hll_estimate_from_registers(hll_registers(df, col), exact)


def hll_registers(
    df: DataFrame, col: str, keys: tuple[str, ...] = ()
) -> DataFrame:
    """The register table (keys..., idx, m_rho) of the portable HLL —
    the part that IS the sketch: fixed m rows per group, built by
    groupBy(keys, idx).max(rank), mergeable across partitions AND
    across micro-batches (max is order-insensitive), so it works
    unchanged as a complete-mode streaming aggregate (see
    streaming.hll_register_stream). With ``keys`` it is the GROUPED
    sketch — distinct-per-group in one pass, ≤ m state rows per group
    (the "distinct users per day" production shape)."""
    from ..functions import portable_hash64

    h = portable_hash64(F.col(col))
    w = F.shiftright(h, HLL_P)
    rho = F.when(w == 0, F.lit(_HLL_RHO_CAP)).otherwise(
        F.length(F.bin(w.bitwiseAND(w * F.lit(-1))))
    )
    return (
        df.filter(F.col(col).isNotNull())
        .select(
            *keys,
            h.bitwiseAND(F.lit(HLL_M - 1)).alias("idx"),
            rho.alias("rho"),
        )
        .groupBy(*keys, "idx")
        .agg(F.max("rho").alias("m_rho"))
    )


def hll_group_estimate(
    regs: DataFrame, keys: tuple[str, ...] = ()
) -> DataFrame:
    """The estimate math of the portable HLL from a (keys..., idx,
    m_rho) register table — exact-integer harmonic sum, rational-alpha
    floor division, ln_micro linear-counting correction — per group
    when ``keys`` are given, WITHOUT the accuracy-contract exact
    column (for consumers whose exact is computed elsewhere or is the
    quantity being avoided, e.g. HyperBall's per-node balls). Output:
    (keys..., hll_estimate, registers_nonzero)."""
    from ..functions import _idiv, ln_micro

    d38 = "decimal(38,0)"
    grouped = regs.groupBy(*keys) if keys else regs
    stats = grouped.agg(
        # coalesce: an EMPTY input has no registers -> sum is NULL; 0
        # keeps the pipeline defined (zeros = m -> linear count ln(1)=0
        # -> estimate 0, the right answer for an empty set)
        F.coalesce(
            F.sum(
                F.call_function(
                    "shiftright", F.lit(_HLL_S_SCALE), F.col("m_rho")
                ).cast(d38)
            ),
            F.lit(0).cast(d38),
        ).alias("s_present"),
        F.count(F.lit(1)).alias("p_regs"),
    )
    s_total = (
        F.col("s_present")
        + (F.lit(HLL_M) - F.col("p_regs")).cast(d38) * F.lit(_HLL_S_SCALE).cast(d38)
    )
    den = s_total * F.lit(_HLL_EST_DEN).cast(d38)
    num = F.lit(str(_HLL_EST_NUM)).cast(d38)
    e_raw = _idiv(num, den)
    zeros = F.lit(HLL_M) - F.col("p_regs")
    # linear counting: floor(m·ln(m/Z)) — the m·ln_micro product is
    # ≤ ~7.1e9, so the 1e6 down-scale is an exact double floor-div.
    # greatest(zeros, 1) keeps the unused branch well-defined when
    # every register is occupied (DuckDB would raise on //0).
    linear = F.when(
        F.col("p_regs") <= F.lit(_HLL_LINEAR_EXACT),
        F.col("p_regs").cast("long"),  # exact: see _HLL_LINEAR_EXACT
    ).otherwise(
        F.floor(
            (
                F.lit(HLL_M)
                * ln_micro(F.lit(HLL_M), F.greatest(zeros, F.lit(1)))
            )
            / F.lit(1_000_000.0)
        ).cast("long")
    )
    est = F.when(
        (e_raw <= F.lit(5 * HLL_M // 2)) & (zeros > 0), linear
    ).otherwise(e_raw)
    return stats.select(
        *keys,
        est.alias("hll_estimate"),
        F.col("p_regs").cast("int").alias("registers_nonzero"),
    )


def hll_estimate_from_registers(
    regs: DataFrame, exact: DataFrame, keys: tuple[str, ...] = ()
) -> DataFrame:
    """Finish a portable-HLL estimate from a (keys..., idx, m_rho)
    register table (`hll_group_estimate` does the math); ``exact`` is
    a (keys..., n_exact) frame carried along for the accuracy
    contract."""
    est = hll_group_estimate(regs, keys)
    joined = (
        est.join(exact, list(keys))
        if keys
        else est.crossJoin(F.broadcast(exact))
    )
    return joined.select(
        *keys,
        F.col("n_exact"),
        F.col("hll_estimate"),
        F.col("registers_nonzero"),
    )


#: Columns q_hll_distinct profiles — shared with the oracle builder in
#: __spark_entry__ so both sides always sketch the same targets.
HLL_TARGETS = [
    ("lineitem", "l_partkey"),
    ("orders", "o_custkey"),
    ("events", "user_id"),
    ("documents", "doc_id"),
]


def q_hll_distinct(spark, sf_dir: str) -> DataFrame:
    """Portable-HLL profiling over the hot join/agg keys — the oracle-
    matched twin of q_cardinality_sketches' engine-native HLL column.
    One row per profiled column: exact distinct, HLL estimate,
    register occupancy."""
    from ..catalog import load

    t = load(spark, sf_dir)
    report = None
    for table, col in HLL_TARGETS:
        one = hll_estimate(t.table(table), col).select(
            F.lit(f"{table}.{col}").alias("target"),
            "n_exact",
            "hll_estimate",
            "registers_nonzero",
        )
        report = one if report is None else report.unionByName(one)
    return report


def q_hll_users_by_event_type(spark, sf_dir: str) -> DataFrame:
    """GROUPED portable HLL: distinct users per event type in one pass
    — the "distinct users per day/segment" production shape, with ≤ m
    register rows of state per group and the same oracle-exact finish
    as q_hll_distinct. Groups whose column is entirely null drop out
    on both engines identically (no registers to join)."""
    from ..catalog import load

    events = load(spark, sf_dir).events
    regs = hll_registers(events, "user_id", keys=("event_type",))
    exact = events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return hll_estimate_from_registers(regs, exact, keys=("event_type",))


def q_hll_set_algebra(spark, sf_dir: str) -> DataFrame:
    """HLL sketch SET ALGEBRA over the per-event-type user sketches:
    for every pair of event types, the union estimate by register
    max-merge (the operation that makes HLL mergeable — the whole point
    of sketching at 100 TB) and the intersection estimate by
    inclusion–exclusion, next to their exact counts.

    The merge is a pure groupBy(idx).max over the two types' register
    streams — no rescan of the fact: at scale the per-type sketches are
    ≤ m rows each and every pairwise union costs m-row work, while the
    exact recount (carried here only for the accuracy contract) costs a
    full shuffle per pair. Estimates and merge are bit-exact replicas
    of the oracle's SQL (same integer harmonic sum / rational alpha /
    ln_micro correction); inclusion–exclusion error compounds the two
    sketch errors — the textbook caveat, pytest-bounded.

    Pair grid: |event types|² inequality join (≤ ~6 rows a side) —
    the one BroadcastNestedLoopJoin, bounded by the type dictionary."""
    from ..catalog import load

    events = load(spark, sf_dir).events.filter(F.col("user_id").isNotNull())
    regs = hll_registers(events, "user_id", keys=("event_type",)).cache()  # feeds the pair merge twice + the per-type estimates
    types = regs.select("event_type").distinct()
    pairs = (
        types.select(F.col("event_type").alias("type_a"))
        .join(
            types.select(F.col("event_type").alias("type_b")),
            F.col("type_a") < F.col("type_b"),
        )
        .cache()
    )
    tagged = (
        pairs.join(regs, regs.event_type == pairs.type_a)
        .select("type_a", "type_b", "idx", "m_rho")
        .unionByName(
            pairs.join(regs, regs.event_type == pairs.type_b).select(
                "type_a", "type_b", "idx", "m_rho"
            )
        )
    )
    merged = tagged.groupBy("type_a", "type_b", "idx").agg(
        F.max("m_rho").alias("m_rho")
    )
    tu = events.select("event_type", "user_id").distinct().cache()
    exact_union = (
        pairs.join(tu, tu.event_type == pairs.type_a)
        .select("type_a", "type_b", "user_id")
        .unionByName(
            pairs.join(tu, tu.event_type == pairs.type_b).select(
                "type_a", "type_b", "user_id"
            )
        )
        .groupBy("type_a", "type_b")
        .agg(F.countDistinct("user_id").alias("n_exact"))
    )
    union_est = hll_estimate_from_registers(
        merged, exact_union, keys=("type_a", "type_b")
    ).select(
        "type_a",
        "type_b",
        F.col("hll_estimate").alias("union_estimate"),
        F.col("n_exact").alias("n_exact_union"),
    )
    exact_by_type = events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    single = hll_estimate_from_registers(
        regs, exact_by_type, keys=("event_type",)
    ).select("event_type", "hll_estimate")
    exact_inter = (
        tu.alias("a")
        .join(
            tu.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_exact_intersection"))
    )
    out = (
        union_est.join(
            single.select(
                F.col("event_type").alias("type_a"),
                F.col("hll_estimate").alias("est_a"),
            ),
            "type_a",
        )
        .join(
            single.select(
                F.col("event_type").alias("type_b"),
                F.col("hll_estimate").alias("est_b"),
            ),
            "type_b",
        )
        .join(exact_inter, ["type_a", "type_b"], "left")
    )
    return out.select(
        "type_a",
        "type_b",
        "est_a",
        "est_b",
        "union_estimate",
        "n_exact_union",
        F.greatest(
            F.lit(0).cast("long"),
            F.col("est_a") + F.col("est_b") - F.col("union_estimate"),
        ).alias("intersection_estimate"),
        F.coalesce(F.col("n_exact_intersection"), F.lit(0).cast("long")).alias(
            "n_exact_intersection"
        ),
    )


#: KMV (k-minimum-values / bottom-k) sketch geometry: keep the
#: KMV_K smallest distinct 60-bit hashes; the estimator is
#: (k-1) · 2^60 / h_(k), relative std error ~ 1/sqrt(k-2) ≈ 6%.
#: Same profiled key columns as the HLL family so the two sketch
#: estimators can be compared on identical ground truth.
KMV_K = 256
KMV_DOMAIN = 1 << 60
KMV_TARGETS = [
    ("lineitem", "l_partkey"),
    ("lineitem", "l_suppkey"),
    ("orders", "o_custkey"),
    ("events", "user_id"),
]


def q_kmv_distinct_estimate(spark, sf_dir: str) -> DataFrame:
    """KMV / bottom-k distinct sketch (Bar-Yossef et al. 2002; the
    estimator behind BlinkDB-style distinct sampling and Theta
    sketches' base case) over the hot join/agg keys — the second
    mergeable cardinality sketch next to the portable HLL, with a
    different accuracy/merge trade: KMV keeps k exact hash VALUES
    (so it also supports set intersection by hash-set overlap and
    downstream distinct SAMPLING), where HLL keeps only register
    maxima.

    State per target = the k smallest distinct md5-derived 60-bit
    hashes (`portable_hash64`, identical in DuckDB). Estimate:
    if fewer than k distinct hashes exist the sketch is EXACT
    (estimate = count seen); else (k-1)·2^60 intdiv h_(k) — one
    DECIMAL(38,0)/HUGEINT division, bit-identical across engines,
    reported next to the exact distinct count as err_permille.

    Scale: the bottom-k selection is orderBy(h).limit(k) — Spark
    plans TakeOrderedAndProject (per-partition top-k, then a k-row
    merge on one reducer), so the shuffle is k rows per target, not
    the key space; the sketch itself is mergeable by unioning two
    k-sets and re-taking the k smallest. The exact countDistinct is
    carried only for the accuracy contract (same caveat as
    q_hll_distinct)."""
    from ..catalog import load
    from ..functions import _idiv, portable_hash64

    t = load(spark, sf_dir)
    report = None
    for table, col in KMV_TARGETS:
        vals = (
            t.table(table)
            .select(F.col(col).alias("v"))
            .filter(F.col("v").isNotNull())
        )
        hashes = vals.select(
            portable_hash64(
                F.concat(
                    F.lit(f"kmv:{table}.{col}:"), F.col("v").cast("string")
                )
            ).alias("h")
        ).distinct()
        bottom_k = (
            hashes.orderBy("h")
            .limit(KMV_K)
            .agg(
                F.max("h").alias("kth_min_hash"),
                F.count(F.lit(1)).cast("long").alias("k_filled"),
            )
        )
        exact = vals.agg(F.countDistinct("v").alias("n_exact"))
        est = F.when(
            F.col("k_filled") < F.lit(KMV_K), F.col("k_filled")
        ).otherwise(
            _idiv(
                F.lit(KMV_K - 1).cast("decimal(38,0)") * F.lit(KMV_DOMAIN),
                F.col("kth_min_hash"),
            )
        )
        one = (
            exact.crossJoin(bottom_k)  # two 1-row aggregates
            .withColumn("kmv_estimate", est)
            .select(
                F.lit(f"{table}.{col}").alias("target"),
                "n_exact",
                "k_filled",
                "kth_min_hash",
                "kmv_estimate",
                _idiv(
                    F.abs(F.col("kmv_estimate") - F.col("n_exact"))
                    * F.lit(1000),
                    F.col("n_exact"),
                ).alias("err_permille"),
            )
        )
        report = one if report is None else report.unionByName(one)
    return report.orderBy("target")


def q_kmv_set_algebra(spark, sf_dir: str) -> DataFrame:
    """KMV SET ALGEBRA (Beyer et al. 2007, "On synopses for
    distinct-value estimation" — the Theta-sketch base case): because
    a KMV sketch keeps exact hash VALUES (not register maxima), two
    sketches built with the SAME hash support union AND intersection
    estimation — the capability the HLL family only gets for unions
    (`hll_set_algebra` derives ∩ by inclusion–exclusion, which
    compounds error). Per event-type pair over distinct user sets:

    - union sketch = the KMV_K smallest hashes of K_A ∪ K_B;
      Û = (k−1)·2⁶⁰ intdiv h₍ₖ₎ (exact when underfilled — both sides
      were then complete);
    - K_∩ = how many of the union sketch's hashes appear in BOTH
      per-type sketches; Î_∩ = K_∩·Û intdiv filled (the K_∩/k
      fraction of the union estimate — degenerates to the exact K_∩
      when underfilled);
    - jaccard_permille = K_∩·1000 intdiv filled rides along (KMV's
      native resemblance estimator).

    All integer/exact-rational — both engines agree bit-for-bit; the
    exact ∪/∩ counts ride along for the accuracy contract.

    Scale: per-type bottom-k is a partitioned window over the distinct
    (type, user) projection (k rows of state per type); everything
    after runs on ≤ |types|·k rows — sketch-sized, never user-sized.

    Output per pair (type_a < type_b): (type_a, type_b, k_int,
    n_exact_union, kmv_union_est, n_exact_intersection,
    kmv_intersection_est, jaccard_permille)."""
    from pyspark.sql import Window

    from ..catalog import load
    from ..functions import _idiv, portable_hash64

    t = load(spark, sf_dir)
    tu = (
        t.events.filter(F.col("user_id").isNotNull())
        .select("event_type", "user_id")
        .distinct()
        .localCheckpoint(eager=False)  # sketches AND exact twins
    )
    hashed = tu.select(
        "event_type",
        portable_hash64(
            F.concat(F.lit("kmvsa:"), F.col("user_id").cast("string"))
        ).alias("h"),
    )
    wk = Window.partitionBy("event_type").orderBy("h")
    ks = (
        hashed.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= KMV_K)
        .drop("rn")
        .localCheckpoint(eager=False)
    )
    ty = ks.select("event_type").distinct()
    pr = (
        ty.select(F.col("event_type").alias("type_a"))
        .join(
            ty.select(F.col("event_type").alias("type_b")),
            F.col("type_a") < F.col("type_b"),
        )
    )
    side_a = pr.join(
        ks.select(F.col("event_type").alias("type_a"), "h"), "type_a"
    ).select("type_a", "type_b", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
    side_b = pr.join(
        ks.select(F.col("event_type").alias("type_b"), "h"), "type_b"
    ).select("type_a", "type_b", "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b"))
    merged = (
        side_a.unionByName(side_b)
        .groupBy("type_a", "type_b", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    wp = Window.partitionBy("type_a", "type_b").orderBy("h")
    unionk = merged.withColumn("rn", F.row_number().over(wp)).filter(
        F.col("rn") <= KMV_K
    )
    stats = unionk.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).cast("long").alias("filled"),
        F.max("h").alias("kth"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("k_int"),
    )
    u_est = F.when(F.col("filled") < F.lit(KMV_K), F.col("filled")).otherwise(
        _idiv(
            F.lit(KMV_K - 1).cast("decimal(38,0)") * F.lit(KMV_DOMAIN),
            F.col("kth"),
        )
    )
    xu = (
        pr.join(tu.select(F.col("event_type").alias("type_a"), "user_id"), "type_a")
        .select("type_a", "type_b", "user_id")
        .unionByName(
            pr.join(
                tu.select(F.col("event_type").alias("type_b"), "user_id"),
                "type_b",
            ).select("type_a", "type_b", "user_id")
        )
        .groupBy("type_a", "type_b")
        .agg(F.countDistinct("user_id").alias("n_exact_union"))
    )
    a_side = tu.select(F.col("event_type").alias("type_a"), "user_id")
    b_side = tu.select(F.col("event_type").alias("type_b"), "user_id")
    xi = (
        a_side.join(b_side, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact_intersection"))
    )
    return (
        stats.withColumn("kmv_union_est", u_est)
        .join(xu, ["type_a", "type_b"])
        .join(xi, ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            "k_int",
            "n_exact_union",
            "kmv_union_est",
            F.coalesce("n_exact_intersection", F.lit(0).cast("long")).alias(
                "n_exact_intersection"
            ),
            _idiv(
                F.col("k_int") * F.col("kmv_union_est"), F.col("filled")
            ).alias("kmv_intersection_est"),
            _idiv(F.col("k_int") * F.lit(1000), F.col("filled")).alias(
                "jaccard_permille"
            ),
        )
        .orderBy("type_a", "type_b")
    )


#: Highest power carried by q_moments_sketch. cents^6 · n must fit
#: DECIMAL(38,0)/HUGEINT: at |cents| <= 5e4 and n <= 1e9 the 6th
#: moment sum is <= ~1.5e37 — inside both engines' 38-digit budget.
MOMENTS_MAX_K = 6


def q_moments_sketch(spark, sf_dir: str) -> DataFrame:
    """Mergeable MOMENTS quantile sketch per event type (Gan et al.,
    "Moment-based quantile sketches"): the exact integer power sums
    Σx^k for k = 1..6 over value-cents, plus n/min/max — the entire
    sketch state, oracle-exact.

    Unlike KLL/t-digest (order- and randomness-dependent internals
    that can never hash-match across engines), the moments sketch IS
    a set of exact associative aggregates: trivially mergeable across
    partitions, micro-batches and engines, constant size (8 numbers),
    and bit-identical everywhere — the sketch family built for
    distributed rollup. The quantile SOLVE (max-entropy fit) is a
    driver-side step over these 8 numbers; its Chebyshev consistency
    against exact percentiles is pytest-asserted, while the gate
    hash-checks the full sketch state.

    Scale: one map-side-combinable groupBy; state per group is 8
    numbers regardless of row count. High moments are emitted as
    DECIMAL(38,0) cast to STRING so the cross-engine comparison is
    plain-digit exact (no float, no exponent form)."""
    from ..catalog import load
    from ..functions import dec2

    t = load(spark, sf_dir)
    cents = (dec2("value") * 100).cast("decimal(38,0)")
    e = t.events.select("event_type", cents.alias("c"))
    # Decimal ** is inexact in Spark (goes through double); build exact
    # integer powers by repeated multiplication instead.
    p = F.col("c")
    powers = {}
    for k in range(1, MOMENTS_MAX_K + 1):
        powers[f"m{k}"] = F.sum(p.cast("decimal(38,0)"))
        p = p * F.col("c")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("c").cast("long").alias("min_cents"),
        F.max("c").cast("long").alias("max_cents"),
        *[
            (
                expr.cast("decimal(38,0)").cast("string").alias(name)
                if k > 2
                else expr.cast("long").alias(name)
            )
            for k, (name, expr) in enumerate(powers.items(), start=1)
        ],
    )


#: q_value_drift_report geometry: equal-width bucket count over the
#: global cents range.
DRIFT_BUCKETS = 10


def q_value_drift_report(spark, sf_dir: str) -> DataFrame:
    """Distribution DRIFT detection per event type — the monitor a
    training pipeline runs between data deliveries — comparing the
    value distribution of the first and second time half with the two
    standard scores, both in exact fixed point:

    - PSI (population stability index) Σ (pᵢ−qᵢ)·ln(pᵢ/qᵢ): per
      bucket, with u = aᵢ·B and v = bᵢ·A the cross-multiplied masses,
      the term is |u−v| · ln_micro(max(u,v), min(u,v)) — (p−q) and
      ln(p/q) always share sign, so every term is ≥ 0 and the final
      half-up division by A·B yields integer micro-nats. u,v are
      downshifted by a common, magnitude-derived power of two so the
      ratio fits ln_micro's num < 2^31 contract (a deterministic
      quantization BOTH engines apply identically). Buckets with mass
      in only one half cannot be log-scored; they are counted out
      explicitly rather than fudged with an epsilon.
    - KS statistic max |CDF_a − CDF_b| over the bucket grid: the exact
      integer max |cumA·B − cumB·A|, surfaced at half-up 6 decimals.

    Scale: one pass to (type, bucket) grain (map-side combinable), a
    1-row global bounds broadcast, then everything runs on the
    |types|·DRIFT_BUCKETS grid."""
    from pyspark.sql import Window

    from ..catalog import load
    from ..functions import _idiv, dec2, epoch_us, halfup_div, ln_micro

    t = load(spark, sf_dir)
    e = t.events.select(
        "event_type",
        (dec2("value") * 100).cast("long").alias("c"),
        epoch_us("ts").alias("us"),
    )
    bounds = e.agg(
        F.min("c").alias("mn"),
        F.max("c").alias("mx"),
        F.min("us").alias("us0"),
        F.max("us").alias("us1"),
    )
    width = F.col("mx") - F.col("mn") + 1
    mid = F.col("us0") + _idiv(F.col("us1") - F.col("us0") + 1, F.lit(2))
    bucketed = e.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        _idiv((F.col("c") - F.col("mn")) * DRIFT_BUCKETS, width).alias("bkt"),
        (F.col("us") < mid).alias("in_a"),
    )
    grid = bucketed.groupBy("event_type", "bkt").agg(
        F.sum(F.col("in_a").cast("long")).alias("na"),
        F.sum((~F.col("in_a")).cast("long")).alias("nb"),
    )
    tw = Window.partitionBy("event_type")
    cw = tw.orderBy("bkt").rowsBetween(Window.unboundedPreceding, 0)
    d38 = "decimal(38,0)"
    g = grid.select(
        "event_type",
        "bkt",
        "na",
        "nb",
        F.sum("na").over(tw).alias("tot_a"),
        F.sum("nb").over(tw).alias("tot_b"),
        F.sum("na").over(cw).alias("cum_a"),
        F.sum("nb").over(cw).alias("cum_b"),
    ).select(
        "event_type",
        "na",
        "nb",
        "tot_a",
        "tot_b",
        "cum_a",
        "cum_b",
        (F.col("na").cast(d38) * F.col("tot_b").cast(d38)).alias("u"),
        (F.col("nb").cast(d38) * F.col("tot_a").cast(d38)).alias("v"),
    )
    hi = F.greatest("u", "v")
    lo = F.least("u", "v")
    # magnitude-derived common downshift: k chosen from hi's size so
    # hi/2^k < 2^31; identical thresholds in the oracle
    k = (
        F.when(hi >= F.lit(2**62).cast(d38), F.lit(34))
        .when(hi >= F.lit(2**46).cast(d38), F.lit(18))
        .when(hi >= F.lit(2**31).cast(d38), F.lit(2))
        .otherwise(F.lit(0))
    )
    two_k = F.pow(F.lit(2.0), k).cast("long").cast(d38)
    hi_s = _idiv(hi, two_k)
    lo_s = F.greatest(F.lit(1).cast("long"), _idiv(lo, two_k))
    scored = (F.col("na") > 0) & (F.col("nb") > 0)
    term = F.when(scored, (hi - lo) * ln_micro(hi_s, lo_s).cast(d38)).otherwise(
        F.lit(0).cast(d38)
    )
    per_bkt = g.select(
        "event_type",
        "tot_a",
        "tot_b",
        term.alias("psi_num"),
        scored.cast("int").alias("is_scored"),
        F.abs(
            F.col("cum_a").cast(d38) * F.col("tot_b").cast(d38)
            - F.col("cum_b").cast(d38) * F.col("tot_a").cast(d38)
        ).alias("ks_num"),
    )
    ab = F.max("tot_a").cast(d38) * F.max("tot_b").cast(d38)
    return per_bkt.groupBy("event_type").agg(
        F.max("tot_a").cast("long").alias("n_first_half"),
        F.max("tot_b").cast("long").alias("n_second_half"),
        F.sum("is_scored").cast("int").alias("n_buckets_scored"),
        (F.count(F.lit(1)) - F.sum("is_scored"))
        .cast("int")
        .alias("n_buckets_one_sided"),
        halfup_div(F.sum("psi_num"), ab, 0).cast("long").alias("psi_micro"),
        halfup_div(F.max("ks_num"), ab, 6).alias("ks"),
    )


#: Columns q_table_stats profiles (ANALYZE-style CBO statistics).
STATS_COLUMNS = [
    ("o_orderkey", "bigint"),
    ("o_custkey", "bigint"),
    ("o_orderstatus", "string"),
    ("o_totalprice", "money"),
    ("o_orderpriority", "string"),
    ("o_orderdate", "date"),
]


def q_table_stats(spark, sf_dir: str) -> DataFrame:
    """ANALYZE-style statistics collection over the orders table — the
    row the cost-based optimizer (and any data catalog) keeps per
    column: row count, null count, exact distinct count, min/max.

    Extremes are emitted engine-proof: numeric/temporal columns as
    BIGINT (`min_int`/`max_int` — raw for keys, cents for money via
    the exact-at-2dp decimal lift, epoch days for dates) and string
    columns as-is (`min_str`/`max_str`), never through a
    decimal→VARCHAR or strftime representation layer whose
    canonicalization is engine-version-dependent (the round-6
    driver-gate red row).

    One pass collapses the table to the per-(column, value) COUNT GRID
    (the same unpivoted grid the streaming drain maintains —
    `streaming.order_stats_value_grid`), then the shared
    `table_stats_finish` reads every per-column statistic off the grid
    in ONE grouped aggregate: count/nulls/min/max and exact NDV all
    share a single scan + a single shuffle at grid grain (the r13
    shape was 6 aggregate branches × a distinct-shuffle each — §1.2
    duplicate subtrees). At 100 TB you swap exact NDV to the portable
    HLL registers (`hll_registers`, same report schema, ±3% — the
    engine ships both forms and `hll_distinct` hash-checks the
    sketch).

    Output: (column, n_rows, n_nulls, n_distinct,
             min_int, max_int, min_str, max_str)."""
    from ..catalog import load
    from ..streaming.pipelines import order_stats_value_grid

    t = load(spark, sf_dir)
    # the grid builder is pure column algebra — identical on a batch
    # frame and the landing stream (that equivalence is what lets the
    # streamed drain share this oracle row)
    return table_stats_finish(order_stats_value_grid(t.orders))


def table_stats_finish(grid) -> "DataFrame":
    """Batch FINISH over the drained streaming value grid
    (`streaming.order_stats_value_grid`): reproduce the exact
    `q_table_stats` report — (column, n_rows, n_nulls, n_distinct,
    min_int, max_int, min_str, max_str) — from ``(column, vint, vstr,
    n)``. Every statistic is a function of the value MULTISET, which
    the grid preserves exactly: n_rows = Σn, n_nulls = Σn over the
    all-null rows, exact NDV = the non-null grid row count, extremes =
    min/max over grid keys (the date column's epoch-micros key is
    collapsed to the report's epoch days here, AFTER the min/max, the
    same order the batch query applies datediff to min/max).

    ONE grouped aggregate covers all six columns (r14 §1.2: the r13
    shape filtered + re-aggregated the grid once per column — six
    scans of the same subtree); the per-kind report mapping (date
    micros → epoch days, string vs integer extremes) is a post-
    aggregate CASE on the column name, applied to min/max AFTER the
    aggregate exactly like the batch query applies datediff to
    min/max."""
    is_null = F.col("vint").isNull() & F.col("vstr").isNull()
    # one zero-count null row per profiled column: an empty grid still
    # reports every column (n_rows = 0), and no statistic moves
    seed = grid.sparkSession.createDataFrame(
        [(c, None, None, 0) for c, _ in STATS_COLUMNS],
        "column string, vint long, vstr string, n long",
    )
    raw = grid.unionByName(seed).groupBy("column").agg(
        F.sum("n").cast("long").alias("n_rows"),
        F.coalesce(
            F.sum(F.when(is_null, F.col("n"))), F.lit(0)
        ).cast("long").alias("n_nulls"),
        F.count(F.when(~is_null, F.lit(1))).cast("long").alias(
            "n_distinct"
        ),
        F.min("vint").alias("mn_i"),
        F.max("vint").alias("mx_i"),
        F.min("vstr").alias("mn_s"),
        F.max("vstr").alias("mx_s"),
    )
    null_long = F.lit(None).cast("long")
    null_str = F.lit(None).cast("string")
    date_cols = [c for c, k in STATS_COLUMNS if k == "date"]
    str_cols = [c for c, k in STATS_COLUMNS if k == "string"]
    is_date = F.col("column").isin(date_cols)
    is_str = F.col("column").isin(str_cols)

    def _days(v):
        return F.datediff(
            F.timestamp_micros(v).cast("date"), F.lit("1970-01-01")
        ).cast("long")

    def _int_report(v):
        return (
            F.when(is_date, _days(v))
            .when(is_str, null_long)
            .otherwise(v.cast("long"))
        )

    # rows in STATS_COLUMNS order: the six rows meet in one partition and
    # sort there, with no range-sampling job as a global orderBy would run
    pos = F.array_position(F.array(*[F.lit(c) for c, _ in STATS_COLUMNS]), F.col("column"))
    return (
        raw.coalesce(1)
        .sortWithinPartitions(pos)
        .select(
            "column",
            "n_rows",
            "n_nulls",
            "n_distinct",
            _int_report(F.col("mn_i")).alias("min_int"),
            _int_report(F.col("mx_i")).alias("max_int"),
            F.when(is_str, F.col("mn_s")).otherwise(null_str).alias("min_str"),
            F.when(is_str, F.col("mx_s")).otherwise(null_str).alias("max_str"),
        )
    )


#: Winsorization cut points: clamp below the p_lo-th and above the
#: p_hi-th nearest-rank percentile (classic 5/95).
WINSOR_LO_NUM, WINSOR_LO_DEN = 1, 20
WINSOR_HI_NUM, WINSOR_HI_DEN = 19, 20


def q_winsorized_value_stats(spark, sf_dir: str) -> DataFrame:
    """Robust per-type value statistics by WINSORIZATION: clamp each
    event's value at the exact nearest-rank 5th/95th percentile and
    report the clipped mean next to the clip counts — the outlier-
    resistant aggregate a metrics pipeline publishes when raw means
    are whale-dominated.

    Exact percentiles WITHOUT a global sort: values collapse to the
    per-(type, cents) count grid; a cumulative window over the grid
    (partitioned by type, bounded by the VALUE RANGE, not the row
    count) finds the smallest cents whose cumulative count reaches
    ceil(p·n) — the textbook nearest-rank definition, all integers.
    The thresholds (|types| rows) broadcast back; the winsorized mean
    is an exact half-up rational of clamped cents.

    Scale: one map-side-combinable collapse to the grid, one bounded
    window, one broadcast join + final aggregate. The same
    decomposition as order_value_percentiles, composed into a robust
    estimator."""
    from pyspark.sql import Window

    from ..catalog import load
    from ..functions import _idiv, dec2, halfup_div

    t = load(spark, sf_dir)
    e = t.events.select(
        "event_type", (dec2("value") * 100).cast("long").alias("c")
    )
    grid = e.groupBy("event_type", "c").agg(F.count(F.lit(1)).alias("k"))
    tw = Window.partitionBy("event_type")
    cw = tw.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    g = grid.select(
        "event_type", "c", "k",
        F.sum("k").over(cw).alias("cum"),
        F.sum("k").over(tw).alias("n"),
    )
    # exact integer ceil(n*p): (n*num + den - 1) div den — no float
    lo_rank = _idiv(
        F.col("n") * WINSOR_LO_NUM + F.lit(WINSOR_LO_DEN - 1),
        F.lit(WINSOR_LO_DEN),
    )
    hi_rank = _idiv(
        F.col("n") * WINSOR_HI_NUM + F.lit(WINSOR_HI_DEN - 1),
        F.lit(WINSOR_HI_DEN),
    )
    cuts = (
        g.select(
            "event_type",
            F.when(F.col("cum") >= lo_rank, F.col("c")).alias("lo_c"),
            F.when(F.col("cum") >= hi_rank, F.col("c")).alias("hi_c"),
        )
        .groupBy("event_type")
        .agg(F.min("lo_c").alias("lo_cents"), F.min("hi_c").alias("hi_cents"))
    )
    clamped = e.join(F.broadcast(cuts), "event_type").select(
        "event_type",
        "lo_cents",
        "hi_cents",
        F.greatest(F.least(F.col("c"), F.col("hi_cents")), F.col("lo_cents"))
        .alias("w"),
        (F.col("c") < F.col("lo_cents")).cast("long").alias("clip_lo"),
        (F.col("c") > F.col("hi_cents")).cast("long").alias("clip_hi"),
    )
    return clamped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("lo_cents").alias("lo_cents"),
        F.max("hi_cents").alias("hi_cents"),
        F.sum("clip_lo").alias("n_clipped_low"),
        F.sum("clip_hi").alias("n_clipped_high"),
        halfup_div(F.sum("w").cast("decimal(38,0)"), F.count(F.lit(1)), 6)
        .alias("winsorized_mean_cents"),
    )


def q_mad_outlier_stats(spark, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier profile per event type: the exact
    nearest-rank median of value-cents, the exact median absolute
    deviation around it, and how many events sit beyond 3·MAD — the
    heavy-tail-safe counterpart of the 3σ monitors (a single whale
    moves a mean and σ; it cannot move a median or MAD).

    Both medians use the bounded-grid nearest-rank construction
    (cumulative window over (type, value) counts — bounded by the
    value RANGE, the same no-global-sort decomposition as the
    winsorized stats); the deviation grid derives from the first pass
    arithmetically, so the whole profile is two grid windows and two
    broadcast joins, all integers, no floats, no sort of the fact."""
    from pyspark.sql import Window

    from ..catalog import load
    from ..functions import _idiv, dec2

    t = load(spark, sf_dir)
    e = t.events.select(
        "event_type", (dec2("value") * 100).cast("long").alias("c")
    ).cache()  # feeds both grid passes + the flag scan

    def nearest_rank_median(df, col):
        grid = df.groupBy("event_type", col).agg(F.count(F.lit(1)).alias("k"))
        tw = Window.partitionBy("event_type")
        cw = tw.orderBy(col).rowsBetween(Window.unboundedPreceding, 0)
        g = grid.select(
            "event_type", col,
            F.sum("k").over(cw).alias("cum"),
            F.sum("k").over(tw).alias("n"),
        )
        rank = _idiv(F.col("n") + 1, F.lit(2))
        return (
            g.select(
                "event_type",
                F.when(F.col("cum") >= rank, F.col(col)).alias("v"),
            )
            .groupBy("event_type")
            .agg(F.min("v").alias("med"))
        )

    med = nearest_rank_median(e, "c").select(
        "event_type", F.col("med").alias("median_cents")
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("c") - F.col("median_cents")).alias("d")
    )
    mad = nearest_rank_median(dev, "d").select(
        "event_type", F.col("med").alias("mad_cents")
    )
    flagged = (
        e.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .select(
            "event_type",
            "median_cents",
            "mad_cents",
            (F.abs(F.col("c") - F.col("median_cents"))
             > 3 * F.col("mad_cents")).cast("long").alias("is_out"),
        )
    )
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("median_cents").alias("median_cents"),
        F.max("mad_cents").alias("mad_cents"),
        F.sum("is_out").alias("n_outliers"),
    )


#: Categorical columns q_categorical_entropy profiles.
ENTROPY_TARGETS = [
    ("events", "event_type"),
    ("customer", "c_mktsegment"),
    ("orders", "o_orderpriority"),
    ("orders", "o_orderstatus"),
    ("part", "p_brand"),
]


def q_categorical_entropy(spark, sf_dir: str) -> DataFrame:
    """Shannon entropy of the categorical dimensions — the data-
    profiling number behind encoding choices (dictionary vs direct),
    skew alarms and drift baselines — in exact integer micro-nats:
    H = (1/N)·Σ c·ln(N/c) with every log a ``ln_micro`` (N ≥ c ≥ 1
    keeps its contract) and the final division exact half-up. Also
    reports the normalized entropy ratio H/ln(k) (1 = uniform,
    0 = constant) from the same fixed-point pieces.

    Scale: per column one map-side-combinable value-count groupBy
    (dictionary grain) + a 1-row total; the entropy sum runs over the
    dictionary, never the fact."""
    from ..catalog import load
    from ..functions import halfup_div, ln_micro

    t = load(spark, sf_dir)
    d38 = "decimal(38,0)"
    report = None
    for table, col in ENTROPY_TARGETS:
        counts = (
            t.table(table)
            .filter(F.col(col).isNotNull())
            .groupBy(col)
            .agg(F.count(F.lit(1)).alias("c"))
        )
        tot = counts.agg(
            F.sum("c").alias("n"), F.count(F.lit(1)).alias("k")
        )
        h_num = (
            counts.crossJoin(F.broadcast(tot))
            .select(
                (F.col("c").cast(d38)
                 * ln_micro(F.col("n"), F.col("c")).cast(d38)).alias("term"),
                "n",
                "k",
            )
            .groupBy()
            .agg(
                F.sum("term").alias("hn"),
                F.max("n").alias("n"),
                F.max("k").alias("k"),
            )
        )
        one = h_num.select(
            F.lit(f"{table}.{col}").alias("target"),
            F.col("n").cast("long").alias("n_rows"),
            F.col("k").cast("int").alias("n_distinct"),
            halfup_div(F.col("hn"), F.col("n"), 0).cast("long")
            .alias("entropy_unats"),
            F.when(F.col("k") == 1, F.lit(0.0)).otherwise(
                halfup_div(
                    halfup_div(F.col("hn"), F.col("n"), 0).cast("long"),
                    ln_micro(F.col("k"), F.lit(1)),
                    6,
                )
            ).alias("uniformity"),
        )
        report = one if report is None else report.unionByName(one)
    return report


# ---------------------------------------------------------------------------
# Count-min sketch (portable, oracle-exact) — the frequency-sketch
# counterpart to the portable HLL family above
# ---------------------------------------------------------------------------

#: Count-min geometry: CMS_D independent hash rows of CMS_W buckets.
#: Overestimate bound: with probability ≥ 1 − (1/2)^D the estimate
#: exceeds the true count by at most ~e·N/W (N = stream length).
#: W is deliberately SMALLER than the fixture's 31-term vocabulary so
#: the gate exercises real collisions (pigeonhole) — a W ≫ |vocab|
#: sketch is exact and proves nothing about the min-over-rows logic.
#: Production sizing scales W to the tolerated ε = e/W, not to 16.
CMS_D = 4
CMS_W = 16
#: How many exact-top terms the registered query reports estimates for.
CMS_TOP_TERMS = 50


def _cms_bucket(r: int, term) -> "F.Column":
    """Row-r bucket of a term: portable 60-bit hash mod CMS_W —
    bit-identical in DuckDB (hash is non-negative, so % is safe)."""
    from ..functions import portable_hash64

    return (
        portable_hash64(
            F.concat_ws(":", F.lit("cms"), F.lit(str(r)), term)
        )
        % CMS_W
    ).cast("int")


def cms_cells(items: DataFrame, col: str = "term") -> DataFrame:
    """The sketch itself: (r, b, c) cell counts over the item stream.

    Build is ONE narrow expression — each item explodes to its CMS_D
    (row, bucket) probes array-side (no join, stays in whole-stage
    codegen) — followed by a groupBy onto the fixed D×W grid:
    map-side-combinable partials, a ≤1024-row shuffle regardless of
    stream size, and cells are ADDITIVE (mergeable across partitions,
    batches, or streams — the same property the HLL registers have
    via max)."""
    probes = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).cast("int").alias("r"),
                    _cms_bucket(r, F.col(col)).alias("b"),
                )
                for r in range(CMS_D)
            ]
        )
    )
    return (
        items.select(probes.alias("p"))
        .select("p.r", "p.b")
        .groupBy("r", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )


def q_cms_term_estimates(spark, sf_dir: str) -> DataFrame:
    """Count-min sketch over the documents' token stream, ORACLE-EXACT
    (the frequency-sketch family member the suite lacked — HLL covers
    distinct counts, moments/quantile cover distributions, MG feeds
    the exact heavy-hitter pass; CMS answers point frequency queries
    from fixed memory). Every part is portable-hash integer math, so
    the DuckDB twin computes the bit-identical sketch AND estimates.

    Reports, for the exact top-CMS_TOP_TERMS terms (count desc, term —
    deterministic tie-break), the exact count, the CMS estimate
    (min over the D row cells — never below the true count, which the
    `overestimate` column exhibits as a guaranteed-nonnegative
    quantity both engines agree on), and the overestimate.

    Scale: the sketch is a ≤ D·W-row grid however large the corpus —
    the structure you keep per shard/hour and merge by cell addition;
    the exact side here is the verification harness (at 100 TB you
    keep only the sketch and the MG candidate pass)."""
    from ..catalog import load

    t = load(spark, sf_dir)
    toks = (
        t.documents.select(
            F.explode(F.split("text", " ")).alias("term")
        ).filter(F.col("term") != "")
    ).cache()  # feeds sketch build AND exact side
    cells = cms_cells(toks)
    top = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
        .orderBy(F.desc("n_exact"), F.asc("term"))
        .limit(CMS_TOP_TERMS)
    )
    qprobes = top.select(
        "term",
        "n_exact",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).cast("int").alias("r"),
                        _cms_bucket(r, F.col("term")).alias("b"),
                    )
                    for r in range(CMS_D)
                ]
            )
        ).alias("p"),
    ).select("term", "n_exact", "p.r", "p.b")
    return (
        qprobes.join(F.broadcast(cells), ["r", "b"])
        .groupBy("term", "n_exact")
        .agg(F.min("c").alias("n_cms"))
        .select(
            "term",
            "n_exact",
            F.col("n_cms").cast("long").alias("n_cms"),
            (F.col("n_cms") - F.col("n_exact"))
            .cast("long")
            .alias("overestimate"),
        )
    )


def q_benford_price_digits(spark, sf_dir: str) -> DataFrame:
    """Benford's-law audit of order totals: first-significant-digit
    distribution vs the expected log10(1 + 1/d) share — the standard
    fabricated-or-templated-values screen in financial data quality
    (synthetic or copy-pasted amounts bend the digit curve).

    Both shares are exact fixed-point: the observed share is a half-up
    division of per-digit counts, the Benford share is
    ``ln_micro(d+1, d) / ln_micro(10, 1)`` — integer log arithmetic on
    both engines, no float ``log10`` anywhere. One scan → one 9-row
    groupBy → a 1-row grand-total broadcast (the share-of-total shape
    `mktsegment_distribution` whitelists); the leading digit comes from
    the decimal string head, which is deterministic for positive int64
    cents on both engines."""
    from ..catalog import load
    from ..functions import dec2, halfup_div, ln_micro

    t = load(spark, sf_dir)
    cents = t.orders.select(
        (dec2("o_totalprice") * 100).cast("long").alias("cents")
    ).filter(F.col("cents") >= 1)
    counts = (
        cents.select(
            F.substring(F.col("cents").cast("string"), 1, 1)
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    total = counts.agg(F.sum("n_orders").alias("total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "digit",
        "n_orders",
        halfup_div(F.col("n_orders"), F.col("total"), 6).alias(
            "observed_share"
        ),
        halfup_div(
            ln_micro(F.col("digit") + 1, F.col("digit")),
            ln_micro(F.lit(10), F.lit(1)),
            6,
        ).alias("benford_share"),
    )


def q_segment_priority_chisq(spark, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between customer market segment
    and order priority — the categorical-association screen of the
    statistical-testing family (Benford audits digits, PSI watches
    drift, this asks whether two categorical columns are related at
    all; e.g. "do BUILDING customers file more URGENT orders?").

    Exact fixed point throughout: with E = R·C/N the textbook expected
    count, the per-cell deviation is kept in cross-multiplied integer
    form ``dev = O·N − R·C`` (no fractional E anywhere), and the
    chi-square contribution (O−E)²/E = dev²/(R·C·N) is an exact
    DECIMAL(38,0) / HUGEINT floor division in micro units —
    Σ contrib_micro / 10⁶ is the χ² statistic with (S−1)·(P−1)
    degrees of freedom. Margin invariant (pytest-pinned): dev sums to
    zero over every row and every column of the grid.

    Scale: ONE fact-side shuffle builds the ≤(S×P)-row contingency
    grid (map-side-combinable count over the orders⋈customer FK join);
    margins and the final assembly run on the bounded grid via
    broadcast joins. Contract: dev²·10⁶ must fit DECIMAL(38,0), i.e.
    N < 10⁸ profiled rows — guarded with raise_error Spark-side and
    the same error() CASE in the DuckDB twin (the ddsketch ln_micro
    policy: both engines fail loudly, never silently diverge).

    Output: (mktsegment, priority, observed, row_total, col_total,
    n_total, dev, contrib_micro)."""
    from ..catalog import load
    from ..functions import _idiv

    t = load(spark, sf_dir)
    cells = (
        t.orders.select("o_custkey", "o_orderpriority")
        .join(
            t.customer.select("c_custkey", "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("mktsegment"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count(F.lit(1)).alias("observed"))
    )
    rt = cells.groupBy("mktsegment").agg(
        F.sum("observed").alias("row_total")
    )
    ct = cells.groupBy("priority").agg(F.sum("observed").alias("col_total"))
    nt = cells.agg(F.sum("observed").alias("n_total"))
    guarded_n = F.when(
        F.col("n_total") >= F.lit(100_000_000),
        F.raise_error(
            F.lit(
                "chisq contract violated: N >= 1e8 exceeds the exact "
                "dev^2 DECIMAL(38,0) range; sample or rescale upstream"
            )
        ).cast("long"),
    ).otherwise(F.col("n_total"))
    g = (
        cells.join(F.broadcast(rt), "mktsegment")
        .join(F.broadcast(ct), "priority")
        .crossJoin(F.broadcast(nt))
        .withColumn("n_total", guarded_n)
        .withColumn(
            "dev",
            F.col("observed") * F.col("n_total")
            - F.col("row_total") * F.col("col_total"),
        )
    )
    dd = F.col("dev").cast("decimal(38,0)")
    den = (
        F.col("row_total").cast("decimal(38,0)")
        * F.col("col_total")
        * F.col("n_total")
    )
    return g.select(
        "mktsegment",
        "priority",
        "observed",
        "row_total",
        "col_total",
        "n_total",
        "dev",
        _idiv(dd * dd * F.lit(1_000_000), den).alias("contrib_micro"),
    )


#: 2^61 - 1 (Mersenne): the checksum ring. Sums of 60-bit row hashes
#: stay exact in decimal(38,0)/HUGEINT before the single final mod.
CHECKSUM_MOD = (1 << 61) - 1


def canon_hash(df: DataFrame, pieces, keep=()) -> DataFrame:
    """Canonical per-row hash column for the anti-entropy checksum:
    '|'-joined cross-engine-exact piece strings (NULL as an explicit
    sentinel so position information survives) through the md5-based
    portable hash. ``keep`` columns ride along (partition-grain
    variants group on them). Shared by the batch fingerprint scans and
    the streamed orders drain — change it here or the surfaces drift."""
    from ..functions import portable_hash64

    joined = F.concat_ws(
        "|",
        *[F.coalesce(p.cast("string"), F.lit("~null~")) for p in pieces],
    )
    return df.select(*keep, portable_hash64(joined).alias("h"))


def orders_row_hash(orders: DataFrame, keep=()) -> DataFrame:
    """Canonical row-hash projection for the orders table (the piece
    list the batch, partition-grain, and streamed checksums share)."""
    from ..functions import dec2, epoch_us

    return canon_hash(
        orders,
        [
            F.col("o_orderkey"),
            F.col("o_custkey"),
            F.col("o_orderstatus"),
            dec2("o_totalprice"),
            epoch_us(F.col("o_orderdate")),
            F.col("o_orderpriority"),
        ],
        keep=keep,
    )


def q_orders_partition_checksums(spark, sf_dir: str) -> DataFrame:
    """Partition-grain anti-entropy fingerprints: the orders checksum
    per order_year — the unit the real anti-entropy protocol syncs at.
    Two replicas first compare these small per-partition rows; only a
    partition whose (n_rows, checksum) differs gets re-shipped, so a
    trickle of drift never forces a full-table copy. Same canonical
    row hash as `q_table_checksums` (shared `orders_row_hash`), one
    combinable groupBy on the partition key."""
    from ..catalog import load

    t = load(spark, sf_dir)
    hashed = orders_row_hash(
        t.orders,
        keep=[F.year("o_orderdate").cast("int").alias("order_year")],
    )
    return hashed.groupBy("order_year").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.sum(F.col("h").cast("decimal(38,0)")) % F.lit(CHECKSUM_MOD))
        .cast("long")
        .alias("checksum"),
    )


def q_table_checksums(spark, sf_dir: str) -> DataFrame:
    """Order-insensitive table fingerprints: per table, the row count
    and the sum-of-row-hashes checksum mod 2^61−1 — the anti-entropy
    primitive for replica/migration validation (two copies of a table
    agree iff counts and checksums agree, regardless of row order or
    file layout, without moving either copy).

    Each row canonicalizes to a '|'-joined string (keys/ints verbatim,
    money through the dec2 decimal lift, timestamps as integer
    epoch-µs, NULL as an explicit sentinel — every piece already
    cross-engine-exact), hashes with the md5-based ``portable_hash64``,
    and the per-table aggregate is one combinable SUM — a single scan
    per table, no shuffle beyond the 1-row partial merge, embarrassingly
    parallel at any scale. Addition is commutative, so partition order,
    file order, and executor count can never change the result.
    """
    from ..catalog import load
    from ..functions import dec2, epoch_us, portable_hash64

    t = load(spark, sf_dir)

    specs = {
        "orders": orders_row_hash(t.orders),
        "customer": canon_hash(
            t.customer,
            [
                F.col("c_custkey"),
                F.col("c_name"),
                F.col("c_nationkey"),
                dec2("c_acctbal"),
                F.col("c_mktsegment"),
            ],
        ),
        "lineitem": canon_hash(
            t.lineitem,
            [
                F.col("l_orderkey"),
                F.col("l_partkey"),
                F.col("l_suppkey"),
                F.col("l_linenumber"),
                dec2("l_quantity"),
                dec2("l_extendedprice"),
                dec2("l_discount"),
                dec2("l_tax"),
                F.col("l_returnflag"),
                F.col("l_linestatus"),
                epoch_us(F.col("l_shipdate")),
            ],
        ),
    }
    out = None
    for name, hashed in specs.items():
        part = hashed.agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.sum(F.col("h").cast("decimal(38,0)")) % F.lit(CHECKSUM_MOD))
            .cast("long")
            .alias("checksum"),
        ).select(F.lit(name).alias("table_name"), "n_rows", "checksum")
        out = part if out is None else out.unionByName(part)
    return out


def _key_skew_stats(keyed: DataFrame, label: str) -> DataFrame:
    """Skew statistics of one key column from its COUNT-OF-COUNTS
    profile: group counts collapse to (count_value c, n_keys_with_c m)
    — a table bounded by the number of DISTINCT multiplicities (≤
    O(√n_rows)), so the exact Gini's global ascending rank runs as a
    window over that tiny profile, never a sort of the key domain.
    Keys sharing a count occupy a contiguous ascending-rank block, so
    Σ(2i−n−1)·xᵢ telescopes per block:
    ``c · (2·m·start + m·(m−1) − m·(n+1))`` with ``start`` the prefix
    key count — all exact integer/decimal arithmetic, one half-up
    division at the end (the `revenue_gini` contract on a different
    decomposition)."""
    from pyspark.sql import Window

    from ..functions import halfup_div

    d38 = "decimal(38,0)"
    counts = keyed.groupBy("k").agg(F.count(F.lit(1)).alias("c"))
    prof = counts.groupBy("c").agg(F.count(F.lit(1)).alias("m"))
    w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, -1)
    blocks = prof.select(
        "c",
        "m",
        (F.coalesce(F.sum("m").over(w), F.lit(0)) + 1).alias("start"),
    )
    return blocks.agg(
        F.sum(F.col("c").cast(d38) * F.col("m").cast(d38))
        .cast("long")
        .alias("n_rows"),
        F.sum("m").cast("long").alias("n_keys"),
        F.max("c").cast("long").alias("max_key_rows"),
        F.sum(
            F.col("c").cast(d38)
            * (
                F.lit(2) * F.col("m").cast(d38) * F.col("start").cast(d38)
                + F.col("m").cast(d38) * (F.col("m").cast(d38) - 1)
            )
        ).alias("lin"),
    ).select(
        F.lit(label).alias("key_col"),
        "n_rows",
        "n_keys",
        "max_key_rows",
        halfup_div(F.col("max_key_rows"), F.col("n_rows"), 6).alias(
            "max_share"
        ),
        halfup_div(
            F.col("lin")
            - F.col("n_rows").cast(d38) * (F.col("n_keys").cast(d38) + 1),
            F.col("n_keys").cast(d38) * F.col("n_rows").cast(d38),
            6,
        ).alias("gini"),
    )


def q_key_skew_profile(spark, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics — the pre-shuffle report that decides
    whether a key needs salting or an AQE skew-join at 100 TB: for each
    candidate shuffle key, the row/key counts, the heaviest key's row
    count and share, and the exact Gini of the key-frequency
    distribution (0 = uniform fan-in, →1 = one hot key owns the
    shuffle). Computed entirely from the count-of-counts profile (see
    `_key_skew_stats`) so the cost is one groupBy per key plus a
    bounded-table window — never a global sort."""
    from ..catalog import load

    t = load(spark, sf_dir)
    return _key_skew_stats(
        t.orders.select(F.col("o_custkey").alias("k")), "orders.o_custkey"
    ).unionByName(
        _key_skew_stats(
            t.lineitem.select(F.col("l_partkey").alias("k")),
            "lineitem.l_partkey",
        )
    )


def q_orders_merkle_root(spark, sf_dir: str) -> DataFrame:
    """MERKLE ROOT over the partition fingerprints — the hierarchical
    top of the anti-entropy family: leaves are the per-order_year
    (n_rows, checksum) rows of `q_orders_partition_checksums`, the
    root is one md5 over their canonical year-ordered concatenation.
    Two replicas compare ONE 32-char digest; only on mismatch do they
    descend to the partition grain, then re-ship the divergent
    partitions — O(1) agreement checks for the common all-good case.

    The leaf serialization ('year:n_rows:checksum' joined by '|',
    sorted by year — 4-digit years sort identically as strings and
    ints) is engine-exact, so the DuckDB twin computes the identical
    digest. Spark side stays an aggregate: sort_array(collect_list)
    over the ≤|years|-row partition table, never raw rows.

    Output (one row): (n_partitions, total_rows, root_hash)."""
    parts = q_orders_partition_checksums(spark, sf_dir)
    leaf = F.concat_ws(
        ":",
        F.col("order_year").cast("string"),
        F.col("n_rows").cast("string"),
        F.col("checksum").cast("string"),
    )
    return parts.agg(
        F.count(F.lit(1)).alias("n_partitions"),
        F.sum("n_rows").alias("total_rows"),
        F.md5(
            F.concat_ws("|", F.sort_array(F.collect_list(leaf)))
        ).alias("root_hash"),
    )


#: k-anonymity disclosure threshold: equivalence classes smaller than
#: this are flagged as re-identification risks.
KANON_K = 5


def q_kanonymity_profile(spark, sf_dir: str) -> DataFrame:
    """K-ANONYMITY profile — the structural privacy measure next to
    `q_pii_scan`'s direct-identifier scan: group the released view by
    its quasi-identifier tuple (market segment, nation, order year)
    and report the equivalence-class size distribution. A row in a
    class of size s is re-identifiable at confidence 1/s; classes with
    s < KANON_K are the disclosure risk a release gate counts.

    Output is the count-of-counts histogram (class_size, n_classes,
    n_rows, at_risk) — the k-anonymity number of the view is the
    smallest class_size present, and Σ n_rows over at_risk rows is the
    suppression workload. Two map-side-combinable aggregates (classes,
    then the bounded size histogram); the fact is scanned once."""
    from ..catalog import load

    t = load(spark, sf_dir)
    classes = (
        t.orders.join(
            t.customer.select("c_custkey", "c_mktsegment", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            "c_mktsegment",
            "c_nationkey",
            F.year("o_orderdate").alias("order_year"),
        )
        .agg(F.count(F.lit(1)).alias("class_size"))
    )
    return (
        classes.groupBy("class_size")
        .agg(F.count(F.lit(1)).alias("n_classes"))
        .select(
            "class_size",
            "n_classes",
            (F.col("class_size") * F.col("n_classes")).alias("n_rows"),
            (F.col("class_size") < KANON_K).alias("at_risk"),
        )
    )


#: The release-gate constituents: registry-name → violations query.
#: Each is itself an oracle-matched operator, so the gate's counts are
#: cross-engine-exact by composition.
def _release_checks():
    from .relational import (
        q_date_rule_violations,
        q_duplicate_orderkeys,
        q_price_consistency,
        q_region_mapping_conformance,
        q_ri_orphan_lineitems,
    )

    return [
        ("duplicate_orderkeys", q_duplicate_orderkeys),
        ("ri_orphan_lineitems", q_ri_orphan_lineitems),
        ("price_consistency", q_price_consistency),
        ("date_rule_violations", q_date_rule_violations),
        ("region_mapping_conformance", q_region_mapping_conformance),
    ]


def q_table_release_gate(spark, sf_dir: str) -> DataFrame:
    """TABLE RELEASE GATE — the one-report decision a publish step
    reads before promoting the curated zone: every must-be-empty
    validator (PK uniqueness, referential integrity, price/date rules,
    mapping conformance) plus the k-anonymity disclosure check,
    each reduced to (check_name, n_violations, passed). The gate
    PASSES only where n_violations = 0; the fixtures deliberately
    violate the date rule (see `date_rule_violations`), so this is a
    report, never an assert.

    Composition, not re-implementation: each row counts the SAME
    oracle-matched violations query the registry already verifies, so
    the gate inherits cross-engine exactness row by row (the DuckDB
    twin is built mechanically from the constituents' own oracle SQL).
    Each count is one map-side-combinable aggregate; the union is a
    bounded 6-row table."""
    parts = [
        df_fn(spark, sf_dir)
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .select(
            F.lit(name).alias("check_name"),
            "n_violations",
        )
        for name, df_fn in _release_checks()
    ]
    kan = (
        q_kanonymity_profile(spark, sf_dir)
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("at_risk"), F.col("n_rows"))),
                F.lit(0),
            ).alias("n_violations")
        )
        .select(
            F.lit("kanonymity_at_risk_rows").alias("check_name"),
            "n_violations",
        )
    )
    out = parts[0]
    for p in parts[1:] + [kan]:
        out = out.unionByName(p)
    return out.select(
        "check_name",
        "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    )


def _dec_trunc_div(nd, dd):
    """Exact truncating division of two non-negative DECIMAL(38,0)
    columns, result kept as DECIMAL(38,0) (for quotients past int64 —
    ``_idiv``'s long cast would overflow)."""
    return ((nd - nd % dd) / dd).cast("decimal(38,0)")


def q_segment_price_ttest(spark, sf_dir: str) -> DataFrame:
    """Welch two-sample t-test between every pair of market segments on
    order value — the mean-comparison member of the statistical-testing
    family (chi-square asks "are these categoricals related?", Welch
    asks "do these two groups spend differently?", with no
    equal-variance assumption — the default two-sample test since
    Delacre et al. 2017).

    Exact fixed point, no sqrt on either engine: the MONOTONE square
    t² = (m₁−m₂)² / (s₁²/n₁ + s₂²/n₂) is surfaced instead of t.
    Sufficient statistics per segment are exact integer sums over
    cents (n, Σx, Σx² — one map-side-combinable groupBy); the mean gap
    is quantized once at milli-cents via a non-negative trunc division
    (|Σxₐ·n_b − Σx_b·nₐ|·10³ // nₐn_b — abs() first, so DuckDB's
    flooring ``//`` and Spark's truncating decimal division agree),
    each variance-over-n term at micro-cents² (10⁶·(nΣx²−(Σx)²) //
    n²(n−1), non-negative by Cauchy–Schwarz), and the Welch–
    Satterthwaite df at milli via the same scheme. Contract:
    se2_micro2 < 3·10¹⁷ (cents² ≈ var/n scale) keeps every square in
    DECIMAL(38,0)/HUGEINT — guarded with raise_error Spark-side and
    the same error() CASE in the DuckDB twin.

    Scale: the fact table collapses to 5 sufficient-statistic rows in
    one shuffle; the pair expansion is the bounded 5×5 self-join.

    Output: (seg_a, seg_b, n_a, n_b, dm_milli_abs, t2_micro,
    df_milli)."""
    from ..catalog import load
    from ..functions import _idiv, dec2

    t = load(spark, sf_dir)
    cents = (dec2("o_totalprice") * 100).cast("long")
    stats = (
        t.orders.select("o_custkey", cents.alias("c"))
        .join(
            t.customer.select("c_custkey", "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("c").cast("decimal(38,0)")).alias("s1"),
            F.sum((F.col("c") * F.col("c")).cast("decimal(38,0)")).alias(
                "s2"
            ),
        )
    )
    a, b = [
        stats.select(
            *[F.col(c).alias(f"{c}_{side}") for c in ("seg", "n", "s1", "s2")]
        )
        for side in ("a", "b")
    ]
    p = a.join(F.broadcast(b), F.col("seg_a") < F.col("seg_b"))

    def term(n, s1, s2):
        # 10^3 * (n*s2 - s1^2) // (n^2 * (n-1)) — variance/n in milli-cents^2
        nd = n.cast("decimal(38,0)")
        num = (nd * s2 - s1 * s1) * F.lit(1000)
        return _idiv(num, nd * nd * (nd - 1))

    ta = term(F.col("n_a"), F.col("s1_a"), F.col("s2_a"))
    tb = term(F.col("n_b"), F.col("s1_b"), F.col("s2_b"))
    p = p.withColumn("se2_milli2", (ta + tb).cast("long"))
    guarded_se2 = F.when(
        F.col("se2_milli2") >= F.lit(300_000_000_000_000_000),
        F.raise_error(
            F.lit(
                "ttest contract violated: se2_milli2 >= 3e17 exceeds "
                "the exact DECIMAL(38,0) square range; rescale upstream"
            )
        ).cast("long"),
    ).otherwise(F.col("se2_milli2"))
    na, nb = F.col("n_a").cast("decimal(38,0)"), F.col("n_b").cast(
        "decimal(38,0)"
    )
    dm_milli = _idiv(
        F.abs(F.col("s1_a") * nb - F.col("s1_b") * na) * F.lit(1000),
        na * nb,
    )
    p = (
        p.withColumn("se2g", guarded_se2)
        .withColumn("dm_milli_abs", dm_milli)
        .withColumn(
            "t2_micro",
            # dm_milli^2 = dm^2*10^6 vs se2_milli2 = se^2*10^3: the
            # scales differ by 10^3, so one more 10^3 factor yields
            # t^2 in micro
            _idiv(
                F.col("dm_milli_abs").cast("decimal(38,0)")
                * F.col("dm_milli_abs")
                * F.lit(1000),
                F.col("se2g"),
            ),
        )
        .withColumn(
            "df_milli",
            # the inner ta^2/(n-1) terms reach ~1e30 — far past int64 —
            # so their trunc division stays in DECIMAL(38,0) (no long
            # round-trip); only the final milli-scaled df is a BIGINT
            _idiv(
                F.col("se2g").cast("decimal(38,0)")
                * F.col("se2g")
                * F.lit(1000),
                _dec_trunc_div(
                    ta.cast("decimal(38,0)") * ta,
                    (F.col("n_a") - 1).cast("decimal(38,0)"),
                )
                + _dec_trunc_div(
                    tb.cast("decimal(38,0)") * tb,
                    (F.col("n_b") - 1).cast("decimal(38,0)"),
                ),
            ),
        )
    )
    return p.select(
        "seg_a",
        "seg_b",
        "n_a",
        "n_b",
        "dm_milli_abs",
        "t2_micro",
        "df_milli",
    ).orderBy("seg_a", "seg_b")


#: Distinct l-diversity threshold: a QI class whose sensitive column
#: shows fewer than this many distinct values leaks by homogeneity
#: even when k-anonymity passes.
LDIV_L = 3


def q_ldiversity_profile(spark, sf_dir: str) -> DataFrame:
    """Distinct L-DIVERSITY profile — the homogeneity-attack guard that
    k-anonymity alone misses (Machanavajjhala et al. 2007): a class of
    50 rows is 50-anonymous, but if all 50 share one order priority the
    sensitive value is disclosed anyway. Group the released view by the
    quasi-identifier tuple (nation, order year, order month) and count DISTINCT
    sensitive values (order priority) per class; the view's l-diversity
    is the smallest such count.

    Output is the count-of-counts histogram over l (l_distinct,
    n_classes, n_rows, at_risk) — the ``q_kanonymity_profile`` report
    shape, so a release gate reads both the same way. Two map-side-
    combinable aggregates; the sensitive-distinct count runs on the
    bounded (QI × priority) grid, never a distinct over raw rows.

    Scale: fact scanned once into the (QI, priority) grid; everything
    after is class-grain."""
    from ..catalog import load

    t = load(spark, sf_dir)
    cells = (
        t.orders.join(
            t.customer.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            "c_nationkey",
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
            "o_orderpriority",
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    classes = cells.groupBy(
        "c_nationkey", "order_year", "order_month"
    ).agg(
        F.sum("n").alias("class_size"),
        F.count(F.lit(1)).alias("l_distinct"),
    )
    return (
        classes.groupBy("l_distinct")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum("class_size").alias("n_rows"),
        )
        .select(
            "l_distinct",
            "n_classes",
            "n_rows",
            (F.col("l_distinct") < LDIV_L).alias("at_risk"),
        )
    )


#: Deterministic Poisson(1) bootstrap: replicate count and the CDF
#: thresholds of the per-(row, replicate) weight, scaled to the 60-bit
#: portable-hash range (floor(P(X<=j) * 2^60), j = 0..4; weights clip
#: at 5 — P(X>5) ~ 6e-4 of rows get the clipped tail). Literal
#: integers so BOTH engines draw the identical "random" weights.
BOOTSTRAP_B = 32
POISSON1_CDF_60 = [
    424136118829305344,   # P(X<=0) = 1/e
    848272237658610688,   # P(X<=1)
    1060340297073263360,  # P(X<=2)
    1131029650211480960,  # P(X<=3)
    1148701988496035328,  # P(X<=4)
]


def q_bootstrap_mean_ci(spark, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for mean order value WITHOUT a
    random number generator — the POISSON BOOTSTRAP (Chamandy et al.
    2012, built for exactly this MapReduce setting): each row
    contributes Poisson(1)-many copies to each replicate, so no
    replicate ever needs a global resample index, and the weight is a
    pure map-side expression — here the DETERMINISTIC inverse-CDF of
    the portable 60-bit hash of (orderkey, replicate), so both engines
    draw bit-identical "randomness" (the ``ln_micro`` portability
    policy applied to sampling).

    Replicate means are exact half-up 3-dp cents from integer
    (Σ w·cents, Σ w) sums; the interval is the order-statistic band of
    the ``BOOTSTRAP_B`` = 32 replicate means (2nd smallest to 2nd
    largest ≈ central 94%) read off the bounded replicate grid.

    Scale: the 32× row fan-out is map-side-combined into 32 partial
    sums per partition before the shuffle — the shuffle carries B rows
    per partition, not B× the data.

    Output (1 row): (n_replicates, n_rows, mean_c3, ci_lo_c3,
    ci_hi_c3)."""
    from ..catalog import load

    t = load(spark, sf_dir)
    return bootstrap_finish(bootstrap_grid(t.orders))


def bootstrap_grid(orders: DataFrame) -> DataFrame:
    """The (replicate → Σw, Σw·cents) grid behind the Poisson
    bootstrap — shared by the batch ``q_bootstrap_mean_ci`` and the
    streamed drain, so the two surfaces can never drift. Replicate −1
    is the UNWEIGHTED pass (w ≡ 1): its row carries the full-sample
    n and Σcents, so one additive, order-insensitive aggregate holds
    everything the finisher needs (complete-mode-streamable as-is).
    Output: ``BOOTSTRAP_B`` + 1 rows."""
    from ..functions import dec2, portable_hash64, splitmix60_apply

    cents = (dec2("o_totalprice") * 100).cast("long")
    # ONE md5 per row (before the fan-out), then a splitmix-style
    # integer mixer per replicate — r9 hashed (orderkey, replicate)
    # per fan-out row, 33 md5s/row, which made this pair the bench's
    # two slowest entries (VERDICT r9 ask #4). Same determinism
    # contract: the mixer is literal int64 arithmetic both engines
    # evaluate identically (see functions.splitmix60_apply; staged
    # projections — the inline form duplicates its subtree ~1300
    # nodes deep and measured 65x slower under codegen).
    base = orders.select(
        cents.alias("c"),
        portable_hash64(F.col("o_orderkey")).alias("seed"),
    ).select(
        "c",
        "seed",
        F.explode(
            F.sequence(F.lit(-1), F.lit(BOOTSTRAP_B - 1))
        ).alias("replicate"),
    )
    mixed = splitmix60_apply(
        base, ["c", "replicate"], F.col("seed"), F.col("replicate")
    )
    u = F.col("u")
    w = F.when(F.col("replicate") == -1, F.lit(1).cast("long")).otherwise(
        sum((u >= F.lit(thr)).cast("long") for thr in POISSON1_CDF_60)
    )
    return (
        mixed.select("replicate", "c", w.alias("w"))
        .groupBy("replicate")
        .agg(
            F.sum("w").alias("n_eff"),
            F.sum(F.col("w") * F.col("c")).alias("wc"),
        )
    )


def bootstrap_finish(grid: DataFrame) -> DataFrame:
    """Order-statistic CI assembly over the bounded bootstrap grid:
    replicate −1 is the full sample, 0..B−1 the resamples."""
    from ..functions import halfup_div

    reps = grid.filter(F.col("replicate") >= 0).select(
        halfup_div(F.col("wc"), F.col("n_eff"), 3).alias("mean_c3")
    )
    ms = reps.agg(F.array_sort(F.collect_list("mean_c3")).alias("ms"))
    full = grid.filter(F.col("replicate") == -1).select(
        F.col("n_eff").alias("n_rows"), F.col("wc").alias("sc")
    )
    return ms.crossJoin(F.broadcast(full)).select(
        F.lit(BOOTSTRAP_B).cast("long").alias("n_replicates"),
        "n_rows",
        halfup_div(F.col("sc"), F.col("n_rows"), 3).alias("mean_c3"),
        F.col("ms")[1].alias("ci_lo_c3"),
        F.col("ms")[BOOTSTRAP_B - 2].alias("ci_hi_c3"),
    )


def q_price_drift_ks(spark, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift test on order value, final
    order year vs the year before — the NONPARAMETRIC drift detector
    next to the binned PSI report (``value_drift_report``): D = max
    |F̂ₐ(v) − F̂_b(v)| sees any distribution change, not just the ones
    a fixed binning exposes.

    Exact fixed point: both empirical CDFs are integer cumulative
    counts over the merged distinct-cents grid, the gap is kept
    cross-multiplied (|cumₐ·n_b − cum_b·nₐ| — no fractions), D is one
    trunc division at micro scale, and the α=0.05 decision compares it
    against c(α)·√((nₐ+n_b)/(nₐn_b)) computed via the exact integer
    ``isqrt`` (c = 1.358, the classic large-sample constant). The
    argmax location rides along (smallest cents on ties) — where the
    distributions diverge most.

    Scale: one pass builds the per-(cents) count grid; the cumulative
    window runs over the bounded VALUE DOMAIN (distinct cents), never
    raw rows; the verdict is a single bounded aggregate.

    Output (1 row): (year_a, year_b, n_a, n_b, d_micro, d_at_cents,
    crit_micro, drifted)."""
    from pyspark.sql import Window

    from ..catalog import load
    from ..functions import _idiv, dec2, isqrt

    t = load(spark, sf_dir)
    maxy = t.orders.agg(F.max(F.year("o_orderdate")).alias("maxy"))
    o = t.orders.crossJoin(F.broadcast(maxy)).select(
        (dec2("o_totalprice") * 100).cast("long").alias("cents"),
        F.year("o_orderdate").alias("y"),
        "maxy",
    )
    grid = (
        o.filter(F.col("y") >= F.col("maxy") - 1)
        .groupBy("cents")
        .agg(
            F.sum(
                (F.col("y") == F.col("maxy") - 1).cast("long")
            ).alias("ca"),
            F.sum((F.col("y") == F.col("maxy")).cast("long")).alias(
                "cb"
            ),
        )
    )
    w = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    g = grid.withColumn("cum_a", F.sum("ca").over(w)).withColumn(
        "cum_b", F.sum("cb").over(w)
    )
    tot = g.agg(
        F.max("cum_a").alias("n_a"), F.max("cum_b").alias("n_b")
    )
    scored = g.crossJoin(F.broadcast(tot)).withColumn(
        "gap",
        F.abs(
            F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a")
        ),
    )
    best = scored.agg(
        F.min(
            F.struct(
                (-F.col("gap")).alias("ng"), F.col("cents").alias("c")
            )
        ).alias("pick"),
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
    )
    na, nb = F.col("n_a"), F.col("n_b")
    d_micro = _idiv(
        (-F.col("pick.ng")).cast("decimal(38,0)") * F.lit(1_000_000),
        na.cast("decimal(38,0)") * nb,
    )
    crit_micro = _idiv(
        F.lit(1358)
        * isqrt(
            _idiv(
                (na + nb).cast("decimal(38,0)") * F.lit(10**12),
                na.cast("decimal(38,0)") * nb,
            )
        ),
        F.lit(1000),
    )
    return (
        best.crossJoin(F.broadcast(maxy))
        .withColumn("d_micro", d_micro)
        .withColumn("crit_micro", crit_micro)
        .select(
            (F.col("maxy") - 1).alias("year_a"),
            F.col("maxy").alias("year_b"),
            "n_a",
            "n_b",
            "d_micro",
            F.col("pick.c").alias("d_at_cents"),
            "crit_micro",
            (F.col("d_micro") > F.col("crit_micro")).alias("drifted"),
        )
    )


#: Mann-Whitney comparison pair (two largest fixture segments) and the
#: exact-arithmetic size contract (see q_segment_price_utest).
UTEST_SEG_A = "BUILDING"
UTEST_SEG_B = "MACHINERY"


def q_segment_price_utest(spark, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) between two market segments
    on order value — the RANK-based location test completing the
    testing family (Welch t² assumes means matter; U only assumes
    orderings, so a heavy tail can't fake or mask an effect).

    Exact fixed point with tie correction and NO ranks materialized:
    over the merged distinct-cents grid, 2U = Σ_v cₐ(v)·(2·cum_b(v⁻) +
    c_b(v)) — doubling keeps the half-credit for ties integer. The
    normal-approximation z² is the exact rational
    3·(2U − nₐn_b)²·N(N−1) / (nₐn_b·((N+1)N(N−1) − Σ(t³−t))) carried
    in DECIMAL(38,0)/HUGEINT and surfaced once at micro scale;
    N < 10⁵ keeps the square in range — guarded with raise_error
    Spark-side and the same error() CASE in the oracle. Significance
    compares z² against 1.96² = 3.8416 (α = 0.05, two-sided).

    Scale: one pass builds the per-cents count grid; the cumulative
    window runs over the bounded VALUE DOMAIN; the verdict is one
    bounded aggregate.

    Output (1 row): (seg_a, seg_b, n_a, n_b, u2, tie_term, z2_micro,
    significant)."""
    from pyspark.sql import Window

    from ..catalog import load
    from ..functions import _idiv, dec2

    t = load(spark, sf_dir)
    o = t.orders.join(
        t.customer.select("c_custkey", "c_mktsegment"),
        F.col("o_custkey") == F.col("c_custkey"),
    ).filter(F.col("c_mktsegment").isin(UTEST_SEG_A, UTEST_SEG_B))
    grid = (
        o.select(
            (dec2("o_totalprice") * 100).cast("long").alias("cents"),
            (F.col("c_mktsegment") == UTEST_SEG_A)
            .cast("long")
            .alias("is_a"),
        )
        .groupBy("cents")
        .agg(
            F.sum("is_a").alias("ca"),
            F.sum(F.lit(1) - F.col("is_a")).alias("cb"),
        )
    )
    w = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    g = grid.withColumn(
        "cum_b_incl", F.sum("cb").over(w)
    ).withColumn("tt", F.col("ca") + F.col("cb"))
    agg = g.agg(
        F.sum("ca").alias("n_a"),
        F.sum("cb").alias("n_b"),
        F.sum(
            F.col("ca")
            * (
                F.lit(2) * (F.col("cum_b_incl") - F.col("cb"))
                + F.col("cb")
            )
        ).alias("u2"),
        F.sum(
            F.col("tt").cast("decimal(38,0)")
            * F.col("tt")
            * F.col("tt")
            - F.col("tt")
        )
        .cast("long")
        .alias("tie_term"),
    )
    n = F.col("n_a") + F.col("n_b")
    guarded_n = F.when(
        n >= F.lit(100_000),
        F.raise_error(
            F.lit(
                "utest contract violated: N >= 1e5 exceeds the exact "
                "z^2 DECIMAL(38,0) range; sample or rescale upstream"
            )
        ).cast("long"),
    ).otherwise(n.cast("long"))
    dd = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    num = (
        F.lit(3)
        * dd(F.col("u2") - F.col("n_a") * F.col("n_b"))
        * (F.col("u2") - F.col("n_a") * F.col("n_b"))
        * F.col("nn")
        * (F.col("nn") - 1)
    )
    den = dd(F.col("n_a")) * F.col("n_b") * (
        dd(F.col("nn") + 1) * F.col("nn") * (F.col("nn") - 1)
        - F.col("tie_term")
    )
    out = (
        agg.withColumn("nn", guarded_n)
        .withColumn(
            "z2_micro", _idiv(num * F.lit(1_000_000), den)
        )
        .select(
            F.lit(UTEST_SEG_A).alias("seg_a"),
            F.lit(UTEST_SEG_B).alias("seg_b"),
            "n_a",
            "n_b",
            "u2",
            "tie_term",
            "z2_micro",
            (F.col("z2_micro") > F.lit(3_841_600)).alias("significant"),
        )
    )
    return out


def q_cuped_adjusted_diff(spark, sf_dir: str) -> DataFrame:
    """CUPED-adjusted group comparison (Deng et al. 2013) — the
    variance-reduction workhorse of modern experimentation platforms:
    compare final-year customer spend between two segments AFTER
    removing the part predicted by each customer's PRE-period spend
    (Y′ = Y − θ·X, θ = cov(X,Y)/var(X) pooled). The covariate predates
    the exposure window, so the adjustment cannot bias the effect —
    it only cancels the noise X explains (variance shrinks by ρ²).

    Exact fixed point: per-customer (X, Y) integer cents from ONE
    conditional aggregation; θ from pooled integer sufficient
    statistics, quantized once at micro via the sign-split trunc
    division (``nation_revenue_trend``'s idiom — Spark decimal intdiv
    truncates, DuckDB ``//`` floors, so negatives divide as |·| with
    the sign reapplied); group means at milli-cents; ρ² (the variance
    reduction) as |θ_micro|·|num| // den_y.

    Scale: fact → customer grain is one shuffle; everything after is
    a single bounded aggregate row.

    Output (1 row): (seg_a, seg_b, n_a, n_b, theta_micro,
    diff_raw_milli, diff_cuped_milli, rho2_micro)."""
    from ..catalog import load
    from ..functions import _idiv, dec2

    t = load(spark, sf_dir)
    maxy = t.orders.agg(F.max(F.year("o_orderdate")).alias("maxy"))
    cents = (dec2("o_totalprice") * 100).cast("long")
    per_cust = (
        t.orders.crossJoin(F.broadcast(maxy))
        .select(
            "o_custkey",
            cents.alias("c"),
            (F.year("o_orderdate") < F.col("maxy"))
            .cast("long")
            .alias("pre"),
        )
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("c") * F.col("pre")).alias("x"),
            F.sum(F.col("c") * (1 - F.col("pre"))).alias("y"),
        )
        .join(
            t.customer.select("c_custkey", "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .filter(F.col("c_mktsegment").isin(UTEST_SEG_A, UTEST_SEG_B))
    )
    dd = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    is_a = (F.col("c_mktsegment") == UTEST_SEG_A).cast("long")
    a = per_cust.agg(
        F.sum(is_a).alias("n_a"),
        F.sum(1 - is_a).alias("n_b"),
        F.sum(F.col("x") * is_a).alias("sxa"),
        F.sum(F.col("y") * is_a).alias("sya"),
        F.sum(F.col("x") * (1 - is_a)).alias("sxb"),
        F.sum(F.col("y") * (1 - is_a)).alias("syb"),
        F.count(F.lit(1)).alias("n"),
        F.sum(dd(F.col("x")) * F.col("x")).alias("sxx"),
        F.sum(dd(F.col("x")) * F.col("y")).alias("sxy"),
        F.sum(dd(F.col("y")) * F.col("y")).alias("syy"),
    )

    def signed_idiv(num, den):
        return F.when(num < 0, -_idiv(-num, den)).otherwise(
            _idiv(num, den)
        )

    n = F.col("n").cast("decimal(38,0)")
    th_num = n * F.col("sxy") - dd(F.col("sxa") + F.col("sxb")) * (
        F.col("sya") + F.col("syb")
    )
    th_den = n * F.col("sxx") - dd(F.col("sxa") + F.col("sxb")) * (
        F.col("sxa") + F.col("sxb")
    )
    den_y = n * F.col("syy") - dd(F.col("sya") + F.col("syb")) * (
        F.col("sya") + F.col("syb")
    )
    g = (
        a.withColumn(
            "theta_micro",
            signed_idiv(th_num * F.lit(1_000_000), th_den),
        )
        .withColumn(
            "ybar_a_milli", _idiv(dd(F.col("sya")) * 1000, F.col("n_a"))
        )
        .withColumn(
            "ybar_b_milli", _idiv(dd(F.col("syb")) * 1000, F.col("n_b"))
        )
        .withColumn(
            "xbar_a_milli", _idiv(dd(F.col("sxa")) * 1000, F.col("n_a"))
        )
        .withColumn(
            "xbar_b_milli", _idiv(dd(F.col("sxb")) * 1000, F.col("n_b"))
        )
        .withColumn(
            "rho2_micro",
            # theta_micro carries the 10^6 already: theta_micro *
            # th_num / den_y = 10^6 * th_num^2/(th_den*den_y) = rho2_micro
            _idiv(
                F.abs(F.col("theta_micro")).cast("decimal(38,0)")
                * F.abs(th_num),
                den_y,
            ),
        )
    )
    diff_raw = F.col("ybar_a_milli") - F.col("ybar_b_milli")
    adj = signed_idiv(
        F.col("theta_micro").cast("decimal(38,0)")
        * (F.col("xbar_a_milli") - F.col("xbar_b_milli")),
        F.lit(1_000_000).cast("decimal(38,0)"),
    )
    return g.select(
        F.lit(UTEST_SEG_A).alias("seg_a"),
        F.lit(UTEST_SEG_B).alias("seg_b"),
        "n_a",
        "n_b",
        "theta_micro",
        diff_raw.alias("diff_raw_milli"),
        (diff_raw - adj).alias("diff_cuped_milli"),
        "rho2_micro",
    )


#: Neyman allocation budget: samples to spread across strata.
NEYMAN_BUDGET = 1000


def q_neyman_allocation(spark, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sample design — how many of
    ``NEYMAN_BUDGET`` samples each market segment should get to
    minimize the variance of the estimated mean order value:
    n_h ∝ N_h·σ_h (Neyman 1934), the reason stratified samples beat
    uniform ones (high-variance strata earn more probes).

    Exact fixed point: per-stratum σ is the integer
    isqrt((nΣx² − (Σx)²) / (n(n−1))) in cents (one trunc division
    inside the exact square root — the deterministic quantization both
    engines share); weights N_h·σ_h allocate by the SAME Hamilton
    largest-remainder scheme as ``source_quota_apportionment``, so
    Σ n_h == budget exactly. Also reports each stratum's proportional
    share for contrast — the gap IS the Neyman payoff.

    Scale: one map-side-combinable pass to 5 sufficient-statistic
    rows; everything after is bounded.

    Output: (segment, n_rows, sd_cents, weight, alloc_neyman,
    alloc_proportional)."""
    from pyspark.sql import Window

    from ..catalog import load
    from ..functions import _idiv, dec2, isqrt

    t = load(spark, sf_dir)
    cents = (dec2("o_totalprice") * 100).cast("long")
    s = (
        t.orders.select("o_custkey", cents.alias("c"))
        .join(
            t.customer.select("c_custkey", "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("c").cast("decimal(38,0)")).alias("s1"),
            F.sum(
                (F.col("c") * F.col("c")).cast("decimal(38,0)")
            ).alias("s2"),
        )
    )
    nd = F.col("n_rows").cast("decimal(38,0)")
    var = _idiv(nd * F.col("s2") - F.col("s1") * F.col("s1"), nd * (nd - 1))
    s = s.withColumn("sd_cents", isqrt(var)).withColumn(
        "weight", F.col("n_rows") * F.col("sd_cents")
    )

    def hamilton(df, wcol, budget, outcol):
        tot = df.agg(F.sum(wcol).alias("wt"))
        b = F.lit(budget).cast("decimal(38,0)")
        g = df.crossJoin(F.broadcast(tot)).withColumn(
            "_base", _idiv(b * F.col(wcol), F.col("wt"))
        ).withColumn(
            "_rem",
            F.pmod(
                (b * F.col(wcol)).cast("decimal(38,0)"),
                F.col("wt").cast("decimal(38,0)"),
            ).cast("long"),
        )
        rk = F.row_number().over(
            Window.orderBy(F.desc("_rem"), F.asc("segment"))
        )
        bs = g.agg(F.sum("_base").alias("_bs"))
        return (
            g.withColumn("_rk", rk)
            .crossJoin(F.broadcast(bs))
            .withColumn(
                outcol,
                F.col("_base")
                + (F.col("_rk") <= (F.lit(budget) - F.col("_bs"))).cast(
                    "long"
                ),
            )
            .drop("_base", "_rem", "_rk", "_bs", "wt")
        )

    s = hamilton(s, "weight", NEYMAN_BUDGET, "alloc_neyman")
    s = hamilton(s, "n_rows", NEYMAN_BUDGET, "alloc_proportional")
    return s.select(
        "segment",
        "n_rows",
        "sd_cents",
        "weight",
        "alloc_neyman",
        "alloc_proportional",
    ).orderBy("segment")


#: Histogram resolution for the join-size estimator.
CARD_EST_BUCKETS = 256


def q_join_cardinality_estimate(spark, sf_dir: str) -> DataFrame:
    """Histogram-based join-size estimation vs ground truth — the
    query-OPTIMIZER diagnostic: every cost-based planner sizes joins
    from per-bucket key histograms (the System-R lineage; Spark's CBO
    keeps equi-height histograms too), and this operator measures how
    good that estimate is on a real join — returned lineitems ⋈ open
    lineitems of the same part.

    Per 256-way portable-hash bucket b: the textbook estimator
    ĉ(b) = c_R(b)·c_S(b) / max(d_R(b), d_S(b)) (containment-of-values
    assumption), summed over buckets; the TRUTH Σ_k c_R(k)·c_S(k)
    comes from the key-grain count join (exact, no row explosion).
    The signed relative error at micro scale is the deliverable — at
    100 TB this is how you validate stats quality before trusting the
    planner's join order.

    Scale: two map-side-combinable passes to key grain, one to bucket
    grain; the truth join runs at KEY grain (≤ |parts| rows), never on
    the fact rows.

    Output (1 row): (n_buckets, keys_r, keys_s, est_rows, actual_rows,
    rel_err_micro)."""
    from ..catalog import load
    from ..functions import _idiv, portable_hash64

    t = load(spark, sf_dir)
    r = (
        t.lineitem.filter(F.col("l_returnflag") == "R")
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("cr"))
    )
    s = (
        t.lineitem.filter(F.col("l_linestatus") == "O")
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("cs"))
    )
    bkt = F.pmod(
        portable_hash64(F.col("l_partkey").cast("string")),
        F.lit(CARD_EST_BUCKETS),
    )
    rb = r.groupBy(bkt.alias("b")).agg(
        F.sum("cr").alias("c1"), F.count(F.lit(1)).alias("d1")
    )
    sb = s.groupBy(bkt.alias("b")).agg(
        F.sum("cs").alias("c2"), F.count(F.lit(1)).alias("d2")
    )
    est = (
        rb.join(sb, "b")
        .select(
            _idiv(
                F.col("c1").cast("decimal(38,0)") * F.col("c2"),
                F.greatest("d1", "d2").cast("decimal(38,0)"),
            ).alias("e")
        )
        .agg(F.sum("e").alias("est_rows"))
    )
    actual = (
        r.join(s, "l_partkey")
        .agg(F.sum(F.col("cr") * F.col("cs")).alias("actual_rows"))
    )
    keys = r.agg(F.count(F.lit(1)).alias("keys_r")).crossJoin(
        s.agg(F.count(F.lit(1)).alias("keys_s"))
    )
    g = est.crossJoin(actual).crossJoin(keys)
    diff = (F.col("est_rows") - F.col("actual_rows")).cast(
        "decimal(38,0)"
    ) * F.lit(1_000_000)
    rel = F.when(
        diff < 0, -_idiv(-diff, F.col("actual_rows").cast("decimal(38,0)"))
    ).otherwise(_idiv(diff, F.col("actual_rows").cast("decimal(38,0)")))
    return g.select(
        F.lit(CARD_EST_BUCKETS).cast("long").alias("n_buckets"),
        "keys_r",
        "keys_s",
        "est_rows",
        "actual_rows",
        rel.alias("rel_err_micro"),
    )


#: FK-discovery candidate column pairs: every *key column pair with
#: compatible types, true FKs and decoys alike — the audit must
#: DISCRIMINATE, not confirm.
FK_CANDIDATES = [
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    # decoys: same int type, no referential relationship
    ("orders", "o_custkey", "part", "p_partkey"),
    ("customer", "c_custkey", "supplier", "s_suppkey"),
]

#: Containment above this (micro) plus uniqueness on the referenced
#: side flags a foreign key.
FK_THRESHOLD_MICRO = 990_000


def q_fk_discovery(spark, sf_dir: str) -> DataFrame:
    """Foreign-key DISCOVERY by value containment — the data-catalog
    profiling pass that reverse-engineers referential structure from
    values alone (Rostin et al. 2009; what every metadata crawler runs
    on an undocumented lake): for each candidate column pair, the
    fraction of the child's distinct values present in the parent
    column, plus the parent's uniqueness — containment ≈ 1 AND a
    unique parent ⟹ FK. The candidate list deliberately mixes true
    FKs with type-compatible DECOYS. The pytest pins BOTH behaviors
    the method textbook-exhibits: the low-containment decoy is
    rejected, while the dense-surrogate decoy (o_custkey ⊆ p_partkey —
    two 1..N id spaces) FALSE-POSITIVES, the classic limitation of
    containment-only discovery (name/semantic evidence is the
    production fix; the operator reports the raw signal honestly).

    Scale: every comparison runs at DISTINCT-KEY grain (one map-side-
    combinable distinct per column, one left-semi join per pair) —
    never on fact rows; the pair list is a bounded literal.

    Output: (child_table, child_col, parent_table, parent_col,
    n_child_distinct, n_contained, containment_micro, parent_unique,
    is_fk)."""
    from ..catalog import load
    from ..functions import _idiv

    t = load(spark, sf_dir)
    out = None
    for ct, cc, pt, pc in FK_CANDIDATES:
        child = getattr(t, ct).select(F.col(cc).alias("v")).distinct()
        parent_tbl = getattr(t, pt)
        parent = parent_tbl.select(F.col(pc).alias("v"))
        contained = child.join(parent.distinct(), "v", "left_semi")
        stats = (
            child.agg(F.count(F.lit(1)).alias("n_child_distinct"))
            .crossJoin(
                contained.agg(F.count(F.lit(1)).alias("n_contained"))
            )
            .crossJoin(
                parent.agg(
                    F.count(F.lit(1)).alias("p_rows"),
                    F.countDistinct("v").alias("p_distinct"),
                )
            )
            .select(
                F.lit(ct).alias("child_table"),
                F.lit(cc).alias("child_col"),
                F.lit(pt).alias("parent_table"),
                F.lit(pc).alias("parent_col"),
                "n_child_distinct",
                "n_contained",
                _idiv(
                    F.col("n_contained").cast("decimal(38,0)")
                    * F.lit(1_000_000),
                    F.col("n_child_distinct"),
                ).alias("containment_micro"),
                (F.col("p_rows") == F.col("p_distinct")).alias(
                    "parent_unique"
                ),
            )
        )
        out = stats if out is None else out.unionByName(stats)
    return out.select(
        "*",
        (
            (F.col("containment_micro") >= FK_THRESHOLD_MICRO)
            & F.col("parent_unique")
        ).alias("is_fk"),
    ).orderBy("child_table", "child_col", "parent_table")


#: Randomization test design: replicate count and the two audited
#: segments (same pair convention as the t/U tests' grid: the two
#: alphabetically-first segments).
RANDTEST_P = 64
RANDTEST_SEG_A = "AUTOMOBILE"
RANDTEST_SEG_B = "BUILDING"


def q_randomization_test_diff(spark, sf_dir: str) -> DataFrame:
    """RANDOMIZATION TEST for the mean order-value difference between
    two customer segments — the assumption-free companion to the
    Welch t (`segment_price_ttest`) and Mann-Whitney U tests: under
    H0 the group labels are exchangeable, so re-drawing labels (each
    order independently assigned to group A with probability
    n_a/(n_a+n_b) — the Bernoulli randomization variant that needs no
    global permutation index, Dwass 1957 / Ernst 2004) and recomputing
    the statistic traces the null distribution. p = share of
    replicates whose |mean difference| reaches the observed one.

    Deterministic "randomness": ONE portable md5 seed per order, then
    the ``splitmix60`` integer mixer per replicate (the r10 bootstrap
    kit) — both engines draw bit-identical label assignments, and the
    64x fan-out is pure map-side integer work that partial-aggregates
    to 2 rows per (replicate, label) before any shuffle (the Poisson-
    bootstrap scale shape).

    Exact fixed point: per-replicate |mean gap| in milli-cents via the
    cross-multiplied |s_a*n_b - s_b*n_a| over n_a*n_b trunc division;
    the observed gap is replicate -1 (true labels).

    Output (1 row): (n_a, n_b, obs_dm_milli, n_replicates, n_ge,
    p_value_micro)."""
    from ..catalog import load
    from ..functions import _idiv, dec2, portable_hash64, splitmix60_apply

    t = load(spark, sf_dir)
    base = (
        t.orders.join(
            t.customer, F.col("o_custkey") == F.col("c_custkey")
        )
        .filter(
            F.col("c_mktsegment").isin(RANDTEST_SEG_A, RANDTEST_SEG_B)
        )
        .select(
            (dec2("o_totalprice") * 100).cast("long").alias("c"),
            (F.col("c_mktsegment") == RANDTEST_SEG_A)
            .cast("long")
            .alias("true_a"),
            portable_hash64(F.col("o_orderkey")).alias("seed"),
        )
    )
    tot = base.agg(
        F.sum("true_a").alias("n_a_true"),
        F.count(F.lit(1)).alias("n_all"),
    )
    # threshold = floor(2^60 * n_a / (n_a + n_b)) — a broadcast scalar
    fan = base.crossJoin(F.broadcast(tot)).select(
        "c",
        "true_a",
        "seed",
        F.expr(
            "CAST((CAST(n_a_true AS DECIMAL(38,0)) * "
            "1152921504606846976) div n_all AS BIGINT)"
        ).alias("thr"),
        F.explode(
            F.sequence(F.lit(-1), F.lit(RANDTEST_P - 1))
        ).alias("replicate"),
    )
    mixed = splitmix60_apply(
        fan,
        ["c", "true_a", "thr", "replicate"],
        F.col("seed"),
        F.col("replicate"),
    )
    is_a = F.when(
        F.col("replicate") == -1, F.col("true_a") == 1
    ).otherwise(F.col("u") < F.col("thr"))
    grid = (
        mixed.select("replicate", "c", is_a.cast("long").alias("a"))
        .groupBy("replicate")
        .agg(
            F.sum("a").alias("n_a"),
            F.sum(F.col("a") * F.col("c")).alias("s_a"),
            F.sum(F.lit(1) - F.col("a")).alias("n_b"),
            F.sum((F.lit(1) - F.col("a")) * F.col("c")).alias("s_b"),
        )
    )
    dm = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0),
        _idiv(
            F.abs(
                F.col("s_a").cast("decimal(38,0)") * F.col("n_b")
                - F.col("s_b").cast("decimal(38,0)") * F.col("n_a")
            )
            * F.lit(1000),
            F.col("n_a").cast("decimal(38,0)") * F.col("n_b"),
        ),
    ).otherwise(F.lit(0).cast("long"))
    scored = grid.select("replicate", "n_a", "n_b", dm.alias("dm"))
    obs = scored.filter(F.col("replicate") == -1).select(
        F.col("n_a").alias("n_a_obs"),
        F.col("n_b").alias("n_b_obs"),
        F.col("dm").alias("obs_dm_milli"),
    )
    reps = scored.filter(F.col("replicate") >= 0)
    return (
        reps.crossJoin(F.broadcast(obs))
        .agg(
            F.max("n_a_obs").alias("n_a"),
            F.max("n_b_obs").alias("n_b"),
            F.max("obs_dm_milli").alias("obs_dm_milli"),
            F.count(F.lit(1)).cast("long").alias("n_replicates"),
            F.sum(
                (F.col("dm") >= F.col("obs_dm_milli")).cast("long")
            ).alias("n_ge"),
        )
        .select(
            "n_a",
            "n_b",
            "obs_dm_milli",
            "n_replicates",
            "n_ge",
            F.expr(
                "CAST((n_ge * 1000000) div n_replicates AS BIGINT)"
            ).alias("p_value_micro"),
        )
    )


#: Information-gain audit: categorical features scored against the
#: "order has a returned line" label.
INFOGAIN_FEATURES = ["o_orderpriority", "c_mktsegment", "order_year"]


def q_info_gain_features(spark, sf_dir: str) -> DataFrame:
    """INFORMATION-GAIN feature ranking — the feature-selection audit
    next to the profiling entropies (`categorical_entropy`) and the
    dependence tests (chi-square): for each categorical feature X,
    IG(Y; X) = H(Y) − H(Y|X) against the label Y = "order contains a
    returned line", i.e. exactly the split criterion a decision tree
    would use, and the mutual information I(X;Y) in micro-nats.

    Exact fixed point: H(Y) = Σ_y n_y·ln_micro(N/n_y) / N and
    H(Y|X) = Σ_xy n_xy·ln_micro(n_x/n_xy) / N — every log over an
    integer ratio ≥ 1 (ln_micro's contract), both divisions half-up
    at micro. Counts must stay < 2^31 per the ln_micro contract
    (document: lift the scale for >2B-row tables).

    Scale: label construction is one semi-join-shaped aggregate over
    lineitem; per feature one (x, y) groupBy at dictionary grain plus
    margins derived by re-aggregating the cell table (never a second
    fact scan); the entropy sums run over dictionaries.

    Output (one row per feature): (feature, n_values, h_y_unats,
    h_y_given_x_unats, info_gain_unats)."""
    from ..catalog import load
    from ..functions import halfup_div, ln_micro

    t = load(spark, sf_dir)
    d38 = "decimal(38,0)"
    returned = (
        t.lineitem.filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("rk"))
        .distinct()
    )
    base = (
        t.orders.join(
            t.customer, F.col("o_custkey") == F.col("c_custkey")
        )
        .join(returned, F.col("o_orderkey") == F.col("rk"), "left")
        .select(
            "o_orderpriority",
            "c_mktsegment",
            F.year("o_orderdate").cast("string").alias("order_year"),
            F.col("rk").isNotNull().cast("long").alias("y"),
        )
    )
    # ALL features in ONE unpivoted plan (the theil_u_matrix rework):
    # previously each feature built cells + margins + three scalar
    # aggregates chained by scalar broadcasts, re-running the
    # orders⋈customer⋈returned base per feature — 48 jobs / 100 stages
    # for three dictionary-grain grids. Margins come from windows keyed
    # by (feature, value) with first-row flags so each marginal term
    # counts once; one per-feature aggregate finishes.
    from pyspark.sql import Window

    u = base.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(feat).alias("feature"),
                        F.col(feat).alias("x"),
                    )
                    for feat in INFOGAIN_FEATURES
                ]
            )
        ).alias("s"),
        "y",
    ).select("s.feature", "s.x", "y")
    cells = u.groupBy("feature", "x", "y").agg(
        F.count(F.lit(1)).alias("n_xy")
    )
    wx = Window.partitionBy("feature", "x")
    wy = Window.partitionBy("feature", "y")
    e = (
        cells.withColumn("n_x", F.sum("n_xy").over(wx))
        .withColumn("n_y", F.sum("n_xy").over(wy))
        .withColumn("n", F.sum("n_xy").over(Window.partitionBy("feature")))
        .withColumn("rx", F.row_number().over(wx.orderBy("y")))
        .withColumn("ry", F.row_number().over(wy.orderBy("x")))
    )
    g = e.groupBy("feature").agg(
        F.max("n").alias("n"),
        F.sum(F.when(F.col("rx") == 1, F.lit(1)))
        .cast("long")
        .alias("n_values"),
        F.sum(
            F.when(
                F.col("ry") == 1,
                F.col("n_y").cast(d38)
                * ln_micro(F.col("n"), F.col("n_y")).cast(d38),
            )
        ).alias("hy_num"),
        F.sum(
            F.col("n_xy").cast(d38)
            * ln_micro(F.col("n_x"), F.col("n_xy")).cast(d38)
        ).alias("hc_num"),
    )
    return (
        g.select(
            "feature",
            "n_values",
            halfup_div(F.col("hy_num"), F.col("n"), 0)
            .cast("long")
            .alias("h_y_unats"),
            halfup_div(F.col("hc_num"), F.col("n"), 0)
            .cast("long")
            .alias("h_y_given_x_unats"),
            (
                halfup_div(F.col("hy_num"), F.col("n"), 0).cast("long")
                - halfup_div(F.col("hc_num"), F.col("n"), 0).cast("long")
            ).alias("info_gain_unats"),
        )
        .orderBy("feature")
    )


#: Kruskal–Wallis significance bar: χ²(df=4) at α=0.05, in ppm.
KRUSKAL_CHI2_PPM = 9_487_700


#: KS contract: the cross-multiplied D numerator is |c1·n2 − c2·n1| ≤
#: n1·n2 and the significance compare squares it, so n1·n2 must stay
#: below 10^16 for the ×10⁶-lifted square to fit DECIMAL(38,0).
KS_MAX_N1N2 = 10_000_000_000_000_000


def ks_grid(events: DataFrame) -> DataFrame:
    """The (cents, n_purchase, n_view) count grid the KS statistic is
    computed FROM — additive and order-insensitive, so the same
    expression is a batch aggregate here and a complete-mode streaming
    aggregate in `streaming.pipelines.ks_value_grid`. Grid size is the
    DISTINCT VALUE DOMAIN (bounded by the price range), not rows."""
    e = events.filter(F.col("event_type").isin("purchase", "view")).select(
        F.col("event_type").alias("side"),
        (F.col("value").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    return e.groupBy("cents").agg(
        F.sum((F.col("side") == "purchase").cast("long")).alias("n_p"),
        F.sum((F.col("side") == "view").cast("long")).alias("n_v"),
    )


def ks_finish(grid: DataFrame) -> DataFrame:
    """Two-sample KOLMOGOROV–SMIRNOV over the drained count grid:
    D = max_v |F̂₁(v) − F̂₂(v)| kept as the exact cross-multiplied
    integer |c1(v)·n2 − c2(v)·n1| (no division until the final ppm),
    argmax location ties broken to the smallest cents. Significance at
    α = 0.05 by the asymptotic two-sample bound c(α)·√((n1+n2)/(n1·n2))
    with c = 1.358, compared in the SQUARED integer domain:

        reject ⟺ maxdiff²·10⁶ > 1 844 164·(n1+n2)·n1·n2

    — no sqrt, no float; both engines agree bit-for-bit. Guarded: the
    squared compare needs n1·n2 ≤ KS_MAX_N1N2 inside DECIMAL(38,0)
    (raise beyond — value-based, like the correlation contract).

    Scale: the cumulative window runs over the bounded value domain;
    everything else is one 1-row collapse."""
    from pyspark.sql import Window

    from ..functions import _idiv

    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    cum = grid.select(
        "cents",
        F.sum("n_p").over(w).alias("c_p"),
        F.sum("n_v").over(w).alias("c_v"),
    )
    tot = grid.agg(
        F.sum("n_p").cast("long").alias("n_p"),
        F.sum("n_v").cast("long").alias("n_v"),
    )
    dd = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    diffs = cum.crossJoin(F.broadcast(tot)).select(
        "cents",
        "n_p",
        "n_v",
        F.abs(
            dd(F.col("c_p")) * F.col("n_v") - dd(F.col("c_v")) * F.col("n_p")
        ).alias("dnum"),
    )
    # argmax with min-cents tie-break: max over the (bounded) grid,
    # keep the rows attaining it, take the smallest location
    best = (
        diffs.withColumn(
            "maxdiff", F.max("dnum").over(Window.partitionBy("n_p", "n_v"))
        )
        .filter(F.col("dnum") == F.col("maxdiff"))
        .groupBy("n_p", "n_v", "maxdiff")
        .agg(F.min("cents").alias("at_cents"))
    )
    # >= not >: at exactly n1*n2 = 1e16 maxdiff can reach n1*n2, so
    # maxdiff^2*1e6 = 1e38 overflows DECIMAL(38,0) (max ~1e38-1) while
    # DuckDB HUGEINT still holds it — a divergence at the boundary.
    n1n2 = F.when(
        dd(F.col("n_p")) * F.col("n_v") >= F.lit(KS_MAX_N1N2).cast(
            "decimal(38,0)"
        ),
        F.raise_error(
            F.lit(
                "KS contract violated: n1*n2 >= 1e16 lets maxdiff^2*1e6 "
                "pass DECIMAL(38,0); sample upstream"
            )
        ).cast("decimal(38,0)"),
    ).otherwise(dd(F.col("n_p")) * F.col("n_v"))
    return best.select(
        "n_p",
        "n_v",
        _idiv(F.col("maxdiff") * F.lit(1_000_000), n1n2).alias("d_ppm"),
        F.col("at_cents").cast("long").alias("at_cents"),
        (
            F.col("maxdiff") * F.col("maxdiff") * F.lit(1_000_000)
            > F.lit(1_844_164).cast("decimal(38,0)")
            * (dd(F.col("n_p")) + F.col("n_v"))
            * n1n2
        ).alias("significant_05"),
    )


#: Cliff's delta magnitude thresholds (Romano et al. 2006), in ppm.
CLIFFS_BANDS = [(147_000, "negligible"), (330_000, "small"), (474_000, "medium")]


def q_cliffs_delta(spark, sf_dir: str) -> DataFrame:
    """CLIFF'S DELTA effect size between the U-test's two market
    segments on order value — the magnitude companion the significance
    tests lack (a huge N makes a trivial shift "significant"; δ =
    P(x>y) − P(x<y) says whether it MATTERS). Derived exactly from the
    same doubled-U count grid as `segment_price_utest`:

        δ = 2U/(nₐn_b) − 1  ⇒  delta_ppm = (u2 − nₐn_b)·10⁶ // (nₐn_b)

    with the pair decomposition surfaced too: n_eq = Σ_v cₐ(v)·c_b(v),
    n_gt = (u2 − n_eq)/2, n_lt = nₐn_b − n_gt − n_eq — all integers on
    the bounded value grid, never pair-materialized. The magnitude
    label applies the standard |δ| bands (CLIFFS_BANDS) as integer
    compares; sign-split division keeps truncation cross-engine.

    Output (1 row): (n_a, n_b, n_gt, n_lt, n_eq, delta_ppm,
    magnitude)."""
    from pyspark.sql import Window

    from ..catalog import load
    from ..functions import _idiv, dec2

    t = load(spark, sf_dir)
    o = t.orders.join(
        t.customer.select("c_custkey", "c_mktsegment"),
        F.col("o_custkey") == F.col("c_custkey"),
    ).filter(F.col("c_mktsegment").isin(UTEST_SEG_A, UTEST_SEG_B))
    grid = (
        o.select(
            (dec2("o_totalprice") * 100).cast("long").alias("cents"),
            (F.col("c_mktsegment") == UTEST_SEG_A).cast("long").alias("is_a"),
        )
        .groupBy("cents")
        .agg(
            F.sum("is_a").alias("ca"),
            F.sum(F.lit(1) - F.col("is_a")).alias("cb"),
        )
    )
    w = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    dd = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    g = grid.withColumn("cum_b_incl", F.sum("cb").over(w))
    agg = g.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
        F.sum(
            dd(F.col("ca"))
            * (F.lit(2) * (F.col("cum_b_incl") - F.col("cb")) + F.col("cb"))
        ).alias("u2"),
        F.sum(dd(F.col("ca")) * F.col("cb")).alias("n_eq"),
    )
    n1n2 = dd(F.col("n_a")) * F.col("n_b")
    n_gt = (F.col("u2") - F.col("n_eq")) / F.lit(2)
    num = F.col("u2") - n1n2
    delta_ppm = F.when(
        num < 0, -_idiv(-num * F.lit(1_000_000), n1n2)
    ).otherwise(_idiv(num * F.lit(1_000_000), n1n2))
    mag = F.when(
        F.abs(delta_ppm) < CLIFFS_BANDS[0][0], F.lit(CLIFFS_BANDS[0][1])
    )
    for thr, label in CLIFFS_BANDS[1:]:
        mag = mag.when(F.abs(delta_ppm) < thr, F.lit(label))
    mag = mag.otherwise(F.lit("large"))
    return agg.select(
        "n_a",
        "n_b",
        n_gt.cast("long").alias("n_gt"),
        (n1n2 - n_gt - F.col("n_eq")).cast("long").alias("n_lt"),
        F.col("n_eq").cast("long").alias("n_eq"),
        delta_ppm.cast("long").alias("delta_ppm"),
        mag.alias("magnitude"),
    )


#: Wilcoxon contract: 12·(W2−μ2)²·10⁶ must fit DECIMAL(38,0) — n⁴
#: bounded, so n_pairs must stay below 10⁷ (raise beyond).
WILCOXON_MAX_N = 10_000_000


def q_wilcoxon_signed_rank(spark, sf_dir: str) -> DataFrame:
    """WILCOXON SIGNED-RANK test on PAIRED order values — does a
    customer's SECOND order differ from their FIRST (the within-
    subject question the unpaired U test can't ask)? Pairs are each
    repeat customer's first two orders by (date, orderkey) — the
    km_firsts convention — d = cents₂ − cents₁, zero differences
    dropped per the classic procedure.

    Exact fixed point, NO per-row ranks: over the |d| count grid the
    doubled average rank of value v is 2·cum_before(v) + ct(v) + 1
    (the kruskal/utest device), so the doubled positive-rank sum
    W2⁺ = Σ c⁺(v)·rank2(v) is exact, E[W2⁺] = n(n+1)/2, and the
    tie-corrected normal approximation is the exact rational

        z² = 12·(W2⁺ − μ2)² / (2n(n+1)(2n+1) − Σ(t³−t))

    carried in DECIMAL(38,0) and surfaced once in micro units;
    significance compares z²·10⁶ against 3 841 600 (1.96², α = 0.05
    two-sided). Guarded: n_pairs < WILCOXON_MAX_N keeps the lifted
    square inside DECIMAL(38,0).

    Scale: pair construction is one per-customer min-2 window; the
    rank grid lives on the bounded |d| VALUE DOMAIN; the verdict is a
    1-row collapse.

    Output (1 row): (n_pairs, w2_plus, mu2, tie_term, z2_micro,
    significant)."""
    from pyspark.sql import Window

    from ..catalog import load
    from ..functions import _idiv, dec2

    t = load(spark, sf_dir)
    wc = Window.partitionBy("o_custkey").orderBy(
        F.asc("o_orderdate"), F.asc("o_orderkey")
    )
    two = (
        t.orders.select(
            "o_custkey",
            "o_orderdate",
            "o_orderkey",
            (dec2("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .withColumn("rn", F.row_number().over(wc))
        .filter(F.col("rn") <= 2)
        .groupBy("o_custkey")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("cents"))).alias("c1"),
            F.min(F.when(F.col("rn") == 2, F.col("cents"))).alias("c2"),
        )
        .filter(F.col("c2").isNotNull())
        .select((F.col("c2") - F.col("c1")).alias("d"))
        .filter(F.col("d") != 0)
    )
    grid = two.groupBy(F.abs("d").alias("ad")).agg(
        F.sum((F.col("d") > 0).cast("long")).alias("cp"),
        F.sum((F.col("d") < 0).cast("long")).alias("cn"),
    )
    w = Window.orderBy("ad").rowsBetween(Window.unboundedPreceding, 0)
    dd = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    g = (
        grid.withColumn("ct", F.col("cp") + F.col("cn"))
        .withColumn("cum_incl", F.sum(F.col("ct")).over(w))
        .withColumn(
            "rank2",
            F.lit(2) * (F.col("cum_incl") - F.col("ct")) + F.col("ct") + 1,
        )
    )
    agg = g.agg(
        F.sum(F.col("ct")).cast("long").alias("n"),
        F.sum(dd(F.col("cp")) * F.col("rank2")).alias("w2_plus"),
        F.sum(
            dd(F.col("ct")) * F.col("ct") * F.col("ct") - F.col("ct")
        ).alias("tie_term"),
    )
    n = F.when(
        F.col("n") >= F.lit(WILCOXON_MAX_N),
        F.raise_error(
            F.lit(
                "wilcoxon contract violated: n_pairs >= 1e7 pushes "
                "12*(W2-mu2)^2*1e6 past DECIMAL(38,0); sample upstream"
            )
        ).cast("long"),
    ).otherwise(F.col("n"))
    # E[W2+] = n(n+1)/2 (doubled ranks sum to n(n+1), split evenly
    # under H0); n(n+1) is even, so the halving is exact.
    mu2 = _idiv(dd(n) * (n + 1), F.lit(2)).cast("decimal(38,0)")
    dev = F.col("w2_plus") - mu2
    v12 = F.lit(2).cast("decimal(38,0)") * n * (n + 1) * (
        2 * n + 1
    ) - F.col("tie_term")
    z2 = _idiv(F.lit(12) * dev * dev * F.lit(1_000_000), v12)
    return agg.select(
        n.cast("long").alias("n_pairs"),
        F.col("w2_plus").cast("long").alias("w2_plus"),
        mu2.cast("long").alias("mu2"),
        F.col("tie_term").cast("long").alias("tie_term"),
        z2.alias("z2_micro"),
        (z2 > F.lit(3_841_600)).alias("significant"),
    )


def q_ks_two_sample(spark, sf_dir: str) -> DataFrame:
    """Two-sample KS test: does the VALUE DISTRIBUTION of purchase
    events differ from view events anywhere (not just in location —
    the U test's question)? See `ks_finish` for the exact integer
    construction; this is the batch form over `ks_grid`.

    Output: 1 row (n_p, n_v, d_ppm, at_cents, significant_05)."""
    from ..catalog import load

    t = load(spark, sf_dir)
    return ks_finish(ks_grid(t.events))


def q_kruskal_wallis_segments(spark, sf_dir: str) -> DataFrame:
    """KRUSKAL–WALLIS H test across ALL FIVE market segments on order
    value — the k-group generalization closing the location-test
    family (`segment_price_ttest` compares two means, the U test two
    rank distributions; this one asks whether ANY of the five segments
    shifts the order-value distribution):

        H = 12/(N(N+1)) · Σ_c R_c²/n_c − 3(N+1),
        H_tie = H / (1 − ΣT/(N³−N)),  T = t³−t per tied value

    Exact fixed point, NO per-row ranks: like the U test, everything
    derives from the per-cents count grid — the doubled average rank
    of value v is the integer 2·cum_before(v) + ct(v) + 1, so each
    segment's doubled rank sum R2_c = Σ n_c(v)·rank2(v) is exact and
    H = 3·Σ R2_c²/(n_c·N(N+1)) − 3(N+1) (the doubling absorbs 12→3).
    Carried in DECIMAL(38,0)/HUGEINT, surfaced once in ppm with the
    non-negative guard BEFORE the tie division (H ≥ 0 mathematically;
    the guard keeps the truncating divisions sign-free, so both
    engines agree bit-for-bit).

    Scale: one join + one count-grid aggregate; the cumulative window
    runs over the bounded VALUE DOMAIN (distinct cents), not rows; the
    per-segment collapse is 5 rows.

    Output: 5 rows (segment, n_obs, rank2_sum, contrib_ppm) + global
    (n_total, tie_term, h_ppm, significant) on every row."""
    from pyspark.sql import Window

    from ..catalog import load
    from ..functions import _idiv, dec2

    t = load(spark, sf_dir)
    obs = t.orders.join(
        t.customer.select("c_custkey", "c_mktsegment"),
        F.col("o_custkey") == F.col("c_custkey"),
    ).select(
        F.col("c_mktsegment").alias("segment"),
        (dec2("o_totalprice") * 100).cast("long").alias("cents"),
    )
    cell = obs.groupBy("cents", "segment").agg(
        F.count(F.lit(1)).cast("long").alias("nc")
    )
    grid = obs.groupBy("cents").agg(
        F.count(F.lit(1)).cast("long").alias("ct")
    )
    w = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = grid.withColumn("cum_incl", F.sum("ct").over(w)).select(
        "cents",
        "ct",
        (
            F.lit(2) * (F.col("cum_incl") - F.col("ct"))
            + F.col("ct")
            + F.lit(1)
        ).alias("rank2"),
    )
    per_seg = (
        cell.join(ranked, "cents")
        .groupBy("segment")
        .agg(
            F.sum("nc").cast("long").alias("n_obs"),
            F.sum(F.col("nc") * F.col("rank2"))
            .cast("long")
            .alias("rank2_sum"),
        )
    )
    glob = ranked.agg(
        F.sum("ct").cast("long").alias("n_total"),
        F.sum(
            F.col("ct").cast("decimal(38,0)") * F.col("ct") * F.col("ct")
            - F.col("ct")
        )
        .cast("long")
        .alias("tie_term"),
    )
    nn = F.col("n_total")
    guarded_n = F.when(
        nn >= F.lit(100_000_000),
        F.raise_error(
            F.lit(
                "kruskal contract violated: N >= 1e8 exceeds the exact "
                "DECIMAL(38,0) range of R2^2*3e6; sample upstream"
            )
        ).cast("long"),
    ).otherwise(nn.cast("long"))
    dd = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    contrib = _idiv(
        dd(F.col("rank2_sum")) * F.col("rank2_sum") * F.lit(3_000_000),
        dd(F.col("n_obs")) * guarded_n * (guarded_n + 1),
    )
    seg = per_seg.crossJoin(F.broadcast(glob)).withColumn(
        "contrib_ppm", contrib
    )
    tot = seg.groupBy().agg(
        F.sum("contrib_ppm").cast("long").alias("sum_contrib_ppm")
    )
    h_raw = F.col("sum_contrib_ppm") - F.lit(3_000_000) * (
        F.col("n_total") + 1
    )
    n3n = dd(F.col("n_total")) * F.col("n_total") * F.col("n_total") - F.col(
        "n_total"
    )
    h_tie = _idiv(
        dd(F.greatest(h_raw, F.lit(0))) * n3n,
        n3n - F.col("tie_term"),
    )
    return (
        seg.crossJoin(F.broadcast(tot))
        .select(
            "segment",
            "n_obs",
            "rank2_sum",
            "contrib_ppm",
            "n_total",
            "tie_term",
            h_tie.alias("h_ppm"),
            (h_tie > F.lit(KRUSKAL_CHI2_PPM)).alias("significant"),
        )
        .orderBy("segment")
    )


def q_brand_return_woe_iv(spark, sf_dir: str) -> DataFrame:
    """WEIGHT OF EVIDENCE + INFORMATION VALUE of the brand feature
    against the returned-flag label — the credit-scoring-style feature
    audit next to `info_gain_features` (IG ranks split quality for a
    tree; WoE/IV is the calibrated-log-odds view a scorecard or a
    feature store reports):

        woe_c = ln(p_pos,c / p_neg,c)            (Laplace-smoothed)
        iv    = Σ_c (p_pos,c − p_neg,c) · woe_c

    Exact fixed point: each probability is a smoothed integer ratio;
    woe is a SIGNED SUM of four `ln_micro(x, 1)` terms (every argument
    is a bare count ≥ 1, so the num ≥ den ≥ 1 contract holds with no
    cross-multiplication — cross-multiplied forms overflow 2³¹); the
    IV contribution multiplies the ppm probability gap by the
    micro-nat WoE under the sign-handled truncating division both
    engines define identically.

    Scale: one fact-dim join + one 25-row brand aggregate; the global
    totals are a 1-row broadcast attach.

    Output: 25 rows (brand, n_pos, n_neg, woe_micro, diff_ppm,
    iv_micro) + iv_total_micro on every row."""
    from ..catalog import load
    from ..functions import _idiv, ln_micro

    t = load(spark, sf_dir)
    base = t.lineitem.join(
        t.part.select("p_partkey", "p_brand"),
        F.col("l_partkey") == F.col("p_partkey"),
    ).select(
        F.col("p_brand").alias("brand"),
        (F.col("l_returnflag") == "R").cast("long").alias("pos"),
    )
    per = base.groupBy("brand").agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum(F.lit(1) - F.col("pos")).cast("long").alias("n_neg"),
    )
    glob = per.agg(
        F.sum("n_pos").cast("long").alias("tot_pos"),
        F.sum("n_neg").cast("long").alias("tot_neg"),
        F.count(F.lit(1)).cast("long").alias("n_brands"),
    )
    j = per.crossJoin(F.broadcast(glob))
    guard = F.when(
        (F.col("tot_pos") + F.col("n_brands") >= F.lit(1 << 31))
        | (F.col("tot_neg") + F.col("n_brands") >= F.lit(1 << 31)),
        F.raise_error(
            F.lit(
                "woe contract violated: totals exceed ln_micro's 2^31 "
                "exact range; pre-aggregate or sample upstream"
            )
        ).cast("long"),
    ).otherwise(F.lit(1).cast("long"))
    one = F.lit(1).cast("long")
    woe = (
        ln_micro(F.col("n_pos") + 1, one)
        - ln_micro(F.col("tot_pos") + F.col("n_brands"), one)
        - ln_micro(F.col("n_neg") + 1, one)
        + ln_micro(F.col("tot_neg") + F.col("n_brands"), one)
    ) * guard
    p_pos = _idiv(
        (F.col("n_pos") + 1) * F.lit(1_000_000),
        F.col("tot_pos") + F.col("n_brands"),
    )
    p_neg = _idiv(
        (F.col("n_neg") + 1) * F.lit(1_000_000),
        F.col("tot_neg") + F.col("n_brands"),
    )
    diff = p_pos - p_neg
    prod = diff * F.col("woe_micro")
    iv = F.when(prod < 0, -_idiv(-prod, F.lit(1_000_000))).otherwise(
        _idiv(prod, F.lit(1_000_000))
    )
    rows = (
        j.withColumn("woe_micro", woe)
        .withColumn("diff_ppm", diff)
        .withColumn("iv_micro", iv.cast("long"))
    )
    tot = rows.groupBy().agg(
        F.sum("iv_micro").cast("long").alias("iv_total_micro")
    )
    return (
        rows.crossJoin(F.broadcast(tot))
        .select(
            "brand",
            "n_pos",
            "n_neg",
            "woe_micro",
            "diff_ppm",
            "iv_micro",
            "iv_total_micro",
        )
        .orderBy("brand")
    )


def q_spearman_price_qty(spark, sf_dir: str) -> DataFrame:
    """SPEARMAN rank correlation between a part's list price and its
    total ordered quantity — the monotone-association companion to the
    location tests (t/U/H ask "did the level shift?"; this asks "do
    expensive parts sell less?"). rho = Pearson on average ranks; with
    ties the doubled-rank grid makes every rank an exact integer
    (rank2 = 2·cum_before + ct + 1, the same device as the U and H
    tests), so all five moments are exact:

        num  = n·Σ rx·ry − Σrx·Σry            (doubled ranks cancel)
        den² = (n·Σrx² − (Σrx)²)(n·Σry² − (Σry)²)
        rho  = num / sqrt(den²)

    Exact fixed point: rho² is surfaced in ppm via the two-stage
    floor division (num²//denx)·10⁶//deny — num² bounded by 4n⁴ needs
    n ≤ 40 000 to stay inside DECIMAL(38,0)/HUGEINT, guarded with
    raise_error (sf0.1 has 20 000 parts); rho itself in signed milli
    via isqrt(rho2_ppm). Both engines run the identical integer ops.

    Scale: one FK join + one per-part aggregate; BOTH rank grids run
    over bounded value domains (distinct cents / distinct quantities),
    not rows; the moment collapse is a single map-side-combinable
    aggregate to one row.

    Output: 1 row (n_parts, rank2 sums, rho_num, den factors,
    rho2_signed_ppm, rho_milli)."""
    from pyspark.sql import Window

    from ..catalog import load
    from ..functions import _idiv, dec2, isqrt

    t = load(spark, sf_dir)
    per_part = (
        t.lineitem.groupBy("l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("qty"))
        .join(
            t.part.select(
                "p_partkey",
                (dec2("p_retailprice") * 100).cast("long").alias("cents"),
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select("l_partkey", "cents", "qty")
    )

    def rank2_grid(col: str, alias: str) -> DataFrame:
        grid = per_part.groupBy(col).agg(
            F.count(F.lit(1)).cast("long").alias("ct")
        )
        w = Window.orderBy(col).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        return grid.withColumn("cum_incl", F.sum("ct").over(w)).select(
            col,
            (
                F.lit(2) * (F.col("cum_incl") - F.col("ct"))
                + F.col("ct")
                + F.lit(1)
            ).alias(alias),
        )

    ranked = per_part.join(rank2_grid("cents", "rx2"), "cents").join(
        rank2_grid("qty", "ry2"), "qty"
    )
    dd = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("rx2").cast("long").alias("sx"),
        F.sum("ry2").cast("long").alias("sy"),
        F.sum(dd(F.col("rx2")) * F.col("ry2")).cast("decimal(38,0)").alias("sxy"),
        F.sum(dd(F.col("rx2")) * F.col("rx2")).cast("decimal(38,0)").alias("sxx"),
        F.sum(dd(F.col("ry2")) * F.col("ry2")).cast("decimal(38,0)").alias("syy"),
    )
    n = F.when(
        F.col("n_parts") > F.lit(40_000),
        F.raise_error(
            F.lit(
                "spearman contract violated: n > 4e4 overflows num^2 in "
                "DECIMAL(38,0); sample upstream"
            )
        ).cast("long"),
    ).otherwise(F.col("n_parts"))
    num = dd(n) * F.col("sxy") - dd(F.col("sx")) * F.col("sy")
    denx = dd(n) * F.col("sxx") - dd(F.col("sx")) * F.col("sx")
    deny = dd(n) * F.col("syy") - dd(F.col("sy")) * F.col("sy")
    anum = F.when(num < 0, -num).otherwise(num)
    rho2 = _idiv(
        _idiv(anum * anum, denx).cast("decimal(38,0)")
        * F.lit(1_000_000),
        deny,
    )  # the 1e6 lift stays DECIMAL: quotient*1e6 can pass int64
    signed = F.when(num < 0, -rho2).otherwise(rho2)
    return m.select(
        "n_parts",
        "sx",
        "sy",
        # string, not decimal(38,0): the oracle ships these as VARCHAR
        # digit strings, and cross-engine hashes must agree on both the
        # column TYPE and the row sort the values induce (r11/r12
        # type-pairing lesson — see typetags.py)
        num.cast("decimal(38,0)").cast("string").alias("rho_num"),
        denx.cast("decimal(38,0)").cast("string").alias("den_x"),
        deny.cast("decimal(38,0)").cast("string").alias("den_y"),
        signed.cast("long").alias("rho2_signed_ppm"),
        (
            F.when(num < 0, -isqrt(rho2)).otherwise(isqrt(rho2))
        ).cast("long").alias("rho_milli"),
    )


#: t-closeness release threshold (the canonical t = 0.2 in ppm).
TCLOSE_T_PPM = 200_000


def q_tcloseness_profile(spark, sf_dir: str) -> DataFrame:
    """T-CLOSENESS profile — the third leg of the release-gate privacy
    triple (Li, Li & Venkatasubramanian 2007): k-anonymity bounds
    re-identification, l-diversity bounds homogeneity, t-closeness
    bounds ATTRIBUTE INFERENCE — a class can be 10-anonymous and
    3-diverse yet still leak if its sensitive-value DISTRIBUTION sits
    far from the table's. Distance is the ordered-domain Earth Mover's
    Distance (the paper's form for ordinal attributes): with the
    priority domain sorted, EMD = Σ|cumQ − cumP| / (m−1).

    Exact fixed point: cumulative counts are cross-multiplied
    (|cumq·N − cump·s| — no per-class division), the EMD surfaces in
    ppm via ONE trunc division per class by (m−1)·s·N. Same QI tuple
    as ``q_ldiversity_profile`` (nation, order year, order month) so
    the gate reads all three profiles over the same release view.

    Scale: fact scanned once into the (QI, priority) cell grid; the
    zero-filled grid is classes × m (bounded by the QI and value
    domains, never raw rows); cumsums run per class over the m-row
    priority domain.

    Output: per class (c_nationkey, order_year, order_month,
    class_size, emd_ppm, at_risk) + global (n_classes, n_at_risk,
    max_emd_ppm) on every row."""
    from pyspark.sql import Window

    from ..catalog import load
    from ..functions import _idiv

    t = load(spark, sf_dir)
    base = t.orders.join(
        t.customer.select("c_custkey", "c_nationkey"),
        F.col("o_custkey") == F.col("c_custkey"),
    ).select(
        "c_nationkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.col("o_orderpriority").alias("prio"),
    )
    cell = base.groupBy(
        "c_nationkey", "order_year", "order_month", "prio"
    ).agg(F.count(F.lit(1)).cast("long").alias("ct"))
    glob = base.groupBy("prio").agg(
        F.count(F.lit(1)).cast("long").alias("gp")
    )
    wp = Window.orderBy("prio").rowsBetween(Window.unboundedPreceding, 0)
    gcum = glob.select(
        "prio",
        F.sum("gp").over(wp).alias("cump"),
    )
    tot = glob.agg(
        F.sum("gp").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("m_vals"),
    )
    classes = cell.groupBy(
        "c_nationkey", "order_year", "order_month"
    ).agg(F.sum("ct").alias("class_size"))
    grid = (
        classes.crossJoin(F.broadcast(gcum))
        .join(
            cell,
            ["c_nationkey", "order_year", "order_month", "prio"],
            "left",
        )
        .fillna(0, subset=["ct"])
    )
    wq = Window.partitionBy(
        "c_nationkey", "order_year", "order_month"
    ).orderBy("prio").rowsBetween(Window.unboundedPreceding, 0)
    per = (
        grid.withColumn("cumq", F.sum("ct").over(wq))
        .crossJoin(F.broadcast(tot))
        .groupBy("c_nationkey", "order_year", "order_month")
        .agg(
            F.max("class_size").alias("class_size"),
            F.sum(
                F.abs(
                    F.col("cumq") * F.col("n_total")
                    - F.col("cump") * F.col("class_size")
                )
            ).cast("long").alias("dev_sum"),
            F.max("n_total").alias("n_total"),
            F.max("m_vals").alias("m_vals"),
        )
        .select(
            "c_nationkey",
            "order_year",
            "order_month",
            "class_size",
            _idiv(
                F.col("dev_sum") * F.lit(1_000_000),
                (F.col("m_vals") - 1) * F.col("class_size") * F.col("n_total"),
            ).alias("emd_ppm"),
        )
        .withColumn("at_risk", F.col("emd_ppm") > TCLOSE_T_PPM)
    )
    summ = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.sum(F.col("at_risk").cast("long")).cast("long").alias("n_at_risk"),
        F.max("emd_ppm").cast("long").alias("max_emd_ppm"),
    )
    return (
        per.crossJoin(F.broadcast(summ))
        .select(
            F.col("c_nationkey").cast("int").alias("c_nationkey"),
            F.col("order_year").cast("int").alias("order_year"),
            F.col("order_month").cast("int").alias("order_month"),
            F.col("class_size").cast("long").alias("class_size"),
            "emd_ppm",
            "at_risk",
            "n_classes",
            "n_at_risk",
            "max_emd_ppm",
        )
        .orderBy("c_nationkey", "order_year", "order_month")
    )


def q_cramers_v_matrix(spark, sf_dir: str) -> DataFrame:
    """CRAMÉR'S V ASSOCIATION MATRIX over the three categorical axes of
    the released order view — (segment, priority), (segment, region),
    (priority, region) — the categorical twin of
    ``q_order_metric_correlations``'s Pearson matrix:
    `segment_priority_chisq` tests ONE pair in depth, this screens
    every pair on the normalized 0..1 scale (V = √(χ²/(N·(min(r,c)−1)))
    is comparable across grids of different shape, χ² is not).

    Exact fixed point: each pair reuses the chisq device — cross-
    multiplied deviations dev = O·N − R·C, per-cell contribution
    dev²·10⁶/(R·C·N) in DECIMAL(38,0) — then V² in ppm via one floor
    division by N·(min(r,c)−1) and V in milli via isqrt. Same N
    guard (< 10⁸ profiled rows) as the chisq entry.

    Scale: ONE fact scan builds the base (segment, priority, region)
    tuple; each pair is a map-side-combinable grid aggregate over a
    ≤ 25-cell contingency table; everything downstream is grid-grain.

    Output: 3 rows (col_a, col_b, n_total, n_rows_a, n_cols_b,
    chi2_micro, dof, v2_ppm, v_milli)."""
    from ..catalog import load
    from ..functions import _idiv, isqrt

    t = load(spark, sf_dir)
    base = (
        t.orders.select("o_custkey", "o_orderpriority")
        .join(
            t.customer.select("c_custkey", "c_mktsegment", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(
                t.nation.select("n_nationkey", "n_regionkey")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderpriority").alias("priority"),
            F.col("n_regionkey").cast("string").alias("region"),
        )
        .localCheckpoint(eager=False)
    )

    def pair(a: str, b: str):
        cells = base.groupBy(a, b).agg(
            F.count(F.lit(1)).cast("long").alias("observed")
        )
        rt = cells.groupBy(a).agg(F.sum("observed").alias("row_total"))
        ct = cells.groupBy(b).agg(F.sum("observed").alias("col_total"))
        nt = cells.agg(
            F.sum("observed").cast("long").alias("n_total"),
            F.countDistinct(a).cast("long").alias("n_rows_a"),
            F.countDistinct(b).cast("long").alias("n_cols_b"),
        )
        guarded = F.when(
            F.col("n_total") >= F.lit(100_000_000),
            F.raise_error(
                F.lit(
                    "cramers_v contract violated: N >= 1e8 exceeds the "
                    "exact dev^2 DECIMAL(38,0) range; sample upstream"
                )
            ).cast("long"),
        ).otherwise(F.col("n_total"))
        dd = lambda c: c.cast("decimal(38,0)")  # noqa: E731
        g = (
            cells.join(F.broadcast(rt), a)
            .join(F.broadcast(ct), b)
            .crossJoin(F.broadcast(nt))
            .withColumn("n_total", guarded)
            .withColumn(
                "dev",
                dd(F.col("observed")) * F.col("n_total")
                - dd(F.col("row_total")) * F.col("col_total"),
            )
            .withColumn(
                "contrib_micro",
                _idiv(
                    F.col("dev") * F.col("dev") * F.lit(1_000_000),
                    dd(F.col("row_total"))
                    * F.col("col_total")
                    * F.col("n_total"),
                ),
            )
        )
        agg = g.groupBy("n_total", "n_rows_a", "n_cols_b").agg(
            F.sum("contrib_micro").cast("long").alias("chi2_micro")
        )
        k = F.least(F.col("n_rows_a"), F.col("n_cols_b")) - 1
        v2 = _idiv(F.col("chi2_micro"), F.col("n_total") * k)
        return agg.select(
            F.lit(a).alias("col_a"),
            F.lit(b).alias("col_b"),
            "n_total",
            "n_rows_a",
            "n_cols_b",
            "chi2_micro",
            (
                (F.col("n_rows_a") - 1) * (F.col("n_cols_b") - 1)
            ).cast("long").alias("dof"),
            v2.cast("long").alias("v2_ppm"),
            isqrt(v2).cast("long").alias("v_milli"),
        )

    out = pair("segment", "priority")
    for a, b in [("priority", "region"), ("segment", "region")]:
        out = out.unionByName(pair(a, b))
    return out.orderBy("col_a", "col_b")


#: Cochran–Armitage 95% bar: chi2(1df) 0.95 quantile, milli-scaled.
CA_CHI2_95_MILLI = 3_841
#: Exactness guard shared with the chisq family: the dev^2 product
#: must fit DECIMAL(38,0)/HUGEINT.
CA_N_GUARD = 100_000_000


def q_cochran_armitage_trend(spark, sf_dir: str) -> DataFrame:
    """COCHRAN–ARMITAGE TREND TEST (Cochran 1954; Armitage 1955) of
    return rate against the ORDERED priority scale — the
    dose-response member of the testing family: the plain chi-square
    (`segment_priority_chisq`) asks "is there ANY association";
    this asks the sharper ordered question "does the return rate
    rise or fall MONOTONICALLY with priority", buying one degree of
    freedom and real power on ordered categories.

    Binary outcome per order: contains at least one returned
    lineitem (l_returnflag = 'R'). Scores s = 1..5 parsed from the
    priority label's leading digit (the natural equally-spaced
    coding). The statistic is the textbook closed form, exact in
    DECIMAL(38,0)/HUGEINT:

        Z² = N·(N·Σs·r − R·Σs·n)² / (R·(N−R)·(N·Σs²·n − (Σs·n)²))

    emitted as one milli-scaled floor division (z2_milli), with the
    trend direction from the sign of N·Σsr − R·Σsn. Same N < 1e8
    guard as the chisq entries (dev² range).

    Scale: the outcome flag is one map-side-combinable aggregate on
    lineitem (orderkey grain), one broadcast-joinable order join, and
    a 5-row grid; the test itself runs on the grid. No window, no
    collect.

    Output: 5 rows (priority, score, n_orders, n_returned, rate_ppm)
    + attached (n_total, r_total, trend_sign, z2_milli, significant).
    """
    from ..catalog import load
    from ..functions import _idiv

    t = load(spark, sf_dir)
    returned = t.lineitem.groupBy("l_orderkey").agg(
        F.max((F.col("l_returnflag") == "R").cast("long")).alias("ret")
    )
    per = (
        t.orders.select("o_orderkey", "o_orderpriority")
        .join(
            returned,
            F.col("o_orderkey") == F.col("l_orderkey"),
            "left",
        )
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.coalesce("ret", F.lit(0).cast("long")).alias("ret"),
        )
        .groupBy("priority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("ret").cast("long").alias("n_returned"),
        )
        .withColumn(
            "score", F.substring("priority", 1, 1).cast("long")
        )
    )
    tot = per.agg(
        F.sum("n_orders").alias("n_total0"),
        F.sum("n_returned").alias("r_total"),
        F.sum(F.col("score") * F.col("n_orders")).alias("ssn"),
        F.sum(F.col("score") * F.col("score") * F.col("n_orders")).alias(
            "ss2n"
        ),
        F.sum(F.col("score") * F.col("n_returned")).alias("ssr"),
    ).select(
        F.when(
            F.col("n_total0") >= CA_N_GUARD,
            F.raise_error(
                F.lit(
                    "cochran_armitage contract violated: N >= 1e8 "
                    "exceeds the exact dev^2 DECIMAL(38,0) range; "
                    "sample upstream"
                )
            ).cast("long"),
        )
        .otherwise(F.col("n_total0"))
        .alias("n_total"),
        "r_total",
        "ssn",
        "ss2n",
        "ssr",
    )
    n = F.col("n_total").cast("decimal(38,0)")
    diff = n * F.col("ssr") - F.col("r_total").cast("decimal(38,0)") * F.col(
        "ssn"
    )
    den = (
        F.col("r_total").cast("decimal(38,0)")
        * (F.col("n_total") - F.col("r_total"))
        * (
            n * F.col("ss2n")
            - F.col("ssn").cast("decimal(38,0)") * F.col("ssn")
        )
    )
    g = tot.select(
        "n_total",
        "r_total",
        F.signum(diff.cast("double")).cast("int").alias("trend_sign"),
        _idiv(n * diff * diff * F.lit(1000), den).alias("z2_milli"),
    ).withColumn(
        "significant", F.col("z2_milli") > F.lit(CA_CHI2_95_MILLI)
    )
    return (
        per.select(
            "priority",
            "score",
            "n_orders",
            "n_returned",
            _idiv(
                F.col("n_returned") * F.lit(1_000_000), F.col("n_orders")
            ).alias("rate_ppm"),
        )
        .crossJoin(F.broadcast(g))
        .orderBy("score")
    )


#: AMS tug-of-war geometry: R estimators in G groups of K — the
#: classic median-of-means layout (Alon, Matias & Szegedy 1996).
AMS_R = 16
AMS_K = 4


def q_ams_f2_estimate(spark, sf_dir: str) -> DataFrame:
    """AMS TUG-OF-WAR sketch of the SECOND FREQUENCY MOMENT
    F2 = Σ f_t² over the corpus bigram types (Alon, Matias & Szegedy
    1996 — the result that started streaming sketches): each of
    ``AMS_R`` counters holds X_j = Σ_t s_j(t)·f_t with a ±1 hash sign
    per (type, estimator); E[X²] = F2, and the median of ``AMS_K``-
    group means tames the variance. F2 is the repeat-rate/self-join
    size the optimizer family (`join_cardinality_estimate`,
    `key_skew_profile`) wants from fixed memory.

    Every part is integer math on md5-derived hashes (one
    ``portable_hash64`` per type + a splitmix60 mix per estimator —
    the bootstrap-mixer pattern), so the DuckDB twin computes the
    BIT-IDENTICAL counters, estimate, and error. The exact F2 rides
    along as the verification harness (at 100 TB you keep only the
    16 counters, which merge across shards by addition).

    Scale: one map-side-combinable bigram count; the sign fan-out
    runs on the TYPE table (≪ tokens) × R — narrow; counters are a
    16-row aggregate; the median-of-means finisher is a 4-row sort
    inside one ungrouped aggregate. No window over raw rows.

    Output: ``AMS_R`` rows (j, grp, x_j, x2) + attached
    (f2_exact, f2_est, rel_err_ppm)."""
    from ..catalog import load, spread_scan
    from ..functions import _idiv, portable_hash64, splitmix60_apply

    t = load(spark, sf_dir)
    toks = F.split("text", " ")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i + 1), F.element_at(toks, i + 2)
        ),
    )
    tf = (
        spread_scan(t.documents).filter(F.size(toks) >= 2)
        .select(F.explode(grams).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    ).cache()  # feeds the sign fan-out AND the exact-F2 side
    fan = tf.select(
        "f",
        portable_hash64(F.col("term")).alias("seed"),
        F.explode(F.sequence(F.lit(0), F.lit(AMS_R - 1))).alias("j"),
    )
    mixed = splitmix60_apply(
        fan, ["f", "j"], F.col("seed"), F.col("j")
    )
    s = F.pmod(F.col("u"), F.lit(2)) * 2 - 1
    x = (
        mixed.select("j", (s * F.col("f")).alias("sf"))
        .groupBy("j")
        .agg(F.sum("sf").cast("long").alias("x_j"))
        .select(
            "j",
            (F.col("j") / AMS_K).cast("int").alias("grp"),
            "x_j",
            (F.col("x_j") * F.col("x_j")).alias("x2"),
        )
    )
    gm = x.groupBy("grp").agg(
        _idiv(F.sum("x2"), F.lit(AMS_K)).alias("m")
    )
    est = gm.agg(
        F.array_sort(F.collect_list("m")).alias("ms")
    ).select(
        _idiv(
            F.element_at("ms", AMS_R // AMS_K // 2)
            + F.element_at("ms", AMS_R // AMS_K // 2 + 1),
            F.lit(2),
        ).alias("f2_est")
    )
    exact = tf.agg(F.sum(F.col("f") * F.col("f")).cast("long").alias("f2_exact"))
    stats = exact.crossJoin(F.broadcast(est)).select(
        "f2_exact",
        "f2_est",
        _idiv(
            F.abs(F.col("f2_est") - F.col("f2_exact")).cast("decimal(38,0)")
            * F.lit(1_000_000),
            F.col("f2_exact"),
        ).alias("rel_err_ppm"),
    )
    return (
        x.crossJoin(F.broadcast(stats))
        .select(
            F.col("j").cast("int").alias("j"),
            "grp",
            "x_j",
            "x2",
            "f2_exact",
            "f2_est",
            "rel_err_ppm",
        )
        .orderBy("j")
    )


def q_dp_event_histogram(spark, sf_dir: str) -> DataFrame:
    """DIFFERENTIALLY-PRIVATE event-type histogram via the discrete
    TWO-SIDED GEOMETRIC mechanism (Ghosh, Roughgarden & Sundararajan
    2009 — the universally-optimal mechanism for counts) at ε = ln 2,
    the fourth leg of the privacy family (k-anonymity / l-diversity /
    t-closeness gate the QI table; DP noise releases aggregates). At
    ε = ln 2 the noise law is P(k) = (1/3)·2^{−|k|}, whose inverse
    CDF is PURE BINARY arithmetic — sample k from a splitmix60 draw
    u ∈ [0, 2⁶⁰) with three integer branches:

        3u < 2⁶⁰        → k = bitlen(3u) − 61          (negative)
        3u ≥ 2⁶¹        → k = bitlen(3·(2⁶⁰−u) − 1) − 61, negated
        else            → k = 0

    (bitlen via the length(bin(x))−1 idiom the ln_micro family uses),
    so both engines draw the IDENTICAL noise — no float exp/ln, no
    RNG state. True counts ride along because this entry is an
    ENGINE-VERIFICATION surface (a production release would emit
    n_released only); the pytest pins the mechanism's law on the
    fixed seed grid.

    Scale: one map-side-combinable count per type + one hash/mix per
    released cell — noise cost is per-CELL, not per-row.

    Output: one row per event_type (event_type, n_true, noise,
    n_released, epsilon_milli)."""
    from ..catalog import load
    from ..functions import portable_hash64, splitmix60_apply

    t = load(spark, sf_dir)
    counts = t.events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_true")
    )
    seeded = counts.select(
        "event_type",
        "n_true",
        portable_hash64(F.col("event_type")).alias("seed"),
    )
    mixed = splitmix60_apply(
        seeded, ["event_type", "n_true"], F.col("seed"), F.lit(0)
    )
    u3 = F.col("u") * 3
    # bitlen(x) == length(bin(x)) — NOT length-1 (that is floor(log2),
    # the ln_micro exponent idiom; the DP pytest pins the distinction)
    blen = lambda c: F.length(F.bin(c)).cast("long")  # noqa: E731
    k = (
        F.when(u3 < F.lit(1 << 60), blen(u3) - 61)
        .when(
            u3 >= F.lit(1 << 61),
            F.lit(61) - blen((F.lit(1 << 60) - F.col("u")) * 3 - 1),
        )
        .otherwise(F.lit(0).cast("long"))
    )
    return (
        mixed.select(
            "event_type",
            "n_true",
            k.alias("noise"),
        )
        .select(
            "event_type",
            "n_true",
            "noise",
            F.greatest(
                F.col("n_true") + F.col("noise"), F.lit(0).cast("long")
            ).alias("n_released"),
            F.lit(693).cast("int").alias("epsilon_milli"),
        )
        .orderBy("event_type")
    )


#: Count-sketch geometry: D odd so the median is a single element;
#: W sized for the bigram-type vocabulary. One md5 per (row, type);
#: bucket = low bits, sign = bit 7 (disjoint from the bucket bits).
CS_D = 5
CS_W = 64
CS_TOP_TERMS = 30


def _cs_probe(r: int, term) -> "F.Column":
    from ..functions import portable_hash64

    return portable_hash64(
        F.concat_ws(":", F.lit("cs"), F.lit(str(r)), term)
    )


def q_count_sketch_estimates(spark, sf_dir: str) -> DataFrame:
    """COUNT-SKETCH point-frequency estimates (Charikar, Chen &
    Farach-Colton 2002) over the corpus bigram types — the UNBIASED
    sibling of the count-min sketch (`cms_term_estimates` can only
    OVER-estimate; count-sketch signs each update ±1 so collisions
    cancel in expectation and the median-of-rows estimate errs BOTH
    ways — the `err` column here is signed, which the pytest pins).
    Completes the frequency-sketch trio: CMS (biased, tighter on
    heavy hitters), count-sketch (unbiased, the basis of feature
    hashing), AMS (whole-stream F2).

    Hashing: ONE md5 per (row, type) — bucket from the low bits
    (mod ``CS_W``), sign from bit 7 (disjoint) — so the DuckDB twin
    computes bit-identical cells, medians (D odd → exact middle
    element), and signed errors.

    Scale: the sketch is a ≤ D·W-row additive grid however large the
    corpus (the cms_cells merge story); estimates probe D cells per
    reported term. The exact side rides along as the verification
    harness.

    Output: ``CS_TOP_TERMS`` rows (term, n_exact, n_cs, err)."""
    from ..catalog import load, spread_scan

    t = load(spark, sf_dir)
    toks = F.split("text", " ")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i + 1), F.element_at(toks, i + 2)
        ),
    )
    tf = (
        spread_scan(t.documents).filter(F.size(toks) >= 2)
        .select(F.explode(grams).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    ).cache()  # feeds sketch build AND exact top side
    def _sgn(h):
        return (F.pmod(F.shiftright(h, 7), F.lit(2)) * 2 - 1).cast("long")

    probes = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).cast("int").alias("r"),
                    (_cs_probe(r, F.col("term")) % CS_W)
                    .cast("int")
                    .alias("b"),
                    _sgn(_cs_probe(r, F.col("term"))).alias("s"),
                )
                for r in range(CS_D)
            ]
        )
    )
    cells = (
        tf.select(F.col("f"), probes.alias("p"))
        .select("f", "p.r", "p.b", "p.s")
        .groupBy("r", "b")
        .agg(F.sum(F.col("s") * F.col("f")).cast("long").alias("c"))
    )
    top = tf.orderBy(F.desc("f"), F.asc("term")).limit(CS_TOP_TERMS)
    qprobes = top.select(
        "term",
        F.col("f").alias("n_exact"),
        probes.alias("p"),
    ).select("term", "n_exact", "p.r", "p.b", "p.s")
    return (
        qprobes.join(F.broadcast(cells), ["r", "b"])
        .groupBy("term", "n_exact")
        .agg(
            F.element_at(
                F.array_sort(F.collect_list(F.col("s") * F.col("c"))),
                CS_D // 2 + 1,
            ).alias("n_cs")
        )
        .select(
            "term",
            "n_exact",
            "n_cs",
            (F.col("n_cs") - F.col("n_exact")).alias("err"),
        )
        .orderBy(F.desc("n_exact"), F.asc("term"))
    )


def q_theil_u_matrix(spark, sf_dir: str) -> DataFrame:
    """THEIL'S U (uncertainty coefficient) matrix over the released
    order view's categorical axes — the ASYMMETRIC twin of
    `cramers_v_matrix`: V says segment and priority are associated;
    U(y|x) = (H(y) − H(y|x)) / H(y) says how much knowing x REDUCES
    uncertainty about y, and U(y|x) ≠ U(x|y) — the direction a
    feature-selection pass actually needs (Theil 1970; the
    `info_gain_features` criterion normalized to [0,1]).

    Exact fixed point via the count-entropy identity
    N·H(Y) = N·lnN − Σ_y c_y·ln c_y (every term is an integer count
    times ``ln_micro(c, 1)`` — no ppm quantization needed at all):

        A = N·ln N − Σ_y c_y ln c_y          (= N·H(Y), micro-nats)
        B = Σ_x n_x ln n_x − Σ_xy c ln c     (= N·H(Y|X))
        U = (A − B)/A, mi = (A − B)/N

    Same N < 2³¹ count contract as the ln_micro family.

    Scale: ONE fact scan builds the (segment, priority, region)
    tuple (shared with the chisq/V entries); each of the 6 ordered
    pairs is a ≤25-cell grid aggregate; everything downstream is
    grid-grain.

    Output: 6 rows (col_x, col_y, n_total, h_y_micro,
    h_y_given_x_micro, mi_micro, u_ppm)."""
    from ..catalog import load
    from ..functions import _idiv, ln_micro

    t = load(spark, sf_dir)
    base = (
        t.orders.select("o_custkey", "o_orderpriority")
        .join(
            t.customer.select("c_custkey", "c_mktsegment", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t.nation.select("n_nationkey", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderpriority").alias("priority"),
            F.col("n_regionkey").cast("string").alias("region"),
        )
        # ONE fact-scale shuffle total: collapse to the <=625-cell
        # 3-way cube; all 6 ordered pairs aggregate from the cube
        # (grid-grain), not from raw rows
        .groupBy("segment", "priority", "region")
        .agg(F.count(F.lit(1)).cast("long").alias("c3"))
        .localCheckpoint(eager=False)
    )

    def clnc(c):
        return c * ln_micro(c, F.lit(1))

    # ALL SIX ordered pairs in ONE linear plan: unpivot the ≤625-cell
    # cube map-side (6 structs per cube row), one grid aggregate,
    # marginals as windows keyed by (pair, value) with first-row flags
    # so each marginal's c·ln c term counts once per distinct value,
    # then one per-pair aggregate. The previous form built each scalar
    # (n, Σ_y, Σ_x, Σ_xy) of each pair as its own aggregate subplan
    # chained by scalar broadcasts — 67 jobs / 145 stages for a
    # 625-cell cube; this plan runs ~8 (each exchange is a job under
    # AQE). Windows stay grid-grain: ≤25 rows per (pair, value) key.
    from pyspark.sql import Window

    axes = ["segment", "priority", "region"]
    branches = [
        F.struct(
            F.lit(x).alias("cx"),
            F.lit(y).alias("cy"),
            F.col(x).alias("xv"),
            F.col(y).alias("yv"),
            F.col("c3"),
        )
        for x in axes
        for y in axes
        if x != y
    ]
    u = base.select(F.explode(F.array(*branches)).alias("s")).select("s.*")
    cells = u.groupBy("cx", "cy", "xv", "yv").agg(
        F.sum("c3").cast("long").alias("c")
    )
    wx = Window.partitionBy("cx", "cy", "xv")
    wy = Window.partitionBy("cx", "cy", "yv")
    e = (
        cells.withColumn("nx", F.sum("c").over(wx))
        .withColumn("cyv", F.sum("c").over(wy))
        .withColumn("rx", F.row_number().over(wx.orderBy("yv")))
        .withColumn("ry", F.row_number().over(wy.orderBy("xv")))
    )
    g = e.groupBy("cx", "cy").agg(
        F.sum("c").alias("n_total"),
        F.sum(clnc(F.col("c"))).alias("sxy"),
        F.sum(F.when(F.col("rx") == 1, clnc(F.col("nx")))).alias("sx"),
        F.sum(F.when(F.col("ry") == 1, clnc(F.col("cyv")))).alias("sy"),
    )
    a = (
        F.col("n_total") * ln_micro(F.col("n_total"), F.lit(1))
        - F.col("sy")
    ).cast("decimal(38,0)")
    b = (F.col("sx") - F.col("sxy")).cast("decimal(38,0)")
    return (
        g.select(
            F.col("cx").alias("col_x"),
            F.col("cy").alias("col_y"),
            "n_total",
            _idiv(a, F.col("n_total")).alias("h_y_micro"),
            _idiv(b, F.col("n_total")).alias("h_y_given_x_micro"),
            _idiv(a - b, F.col("n_total")).alias("mi_micro"),
            _idiv((a - b) * F.lit(1_000_000), a).alias("u_ppm"),
        )
        .orderBy("col_x", "col_y")
    )
