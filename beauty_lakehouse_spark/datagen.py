"""Spark-native synthetic beauty-commerce dataset (reference G1-G9,
src/generate_data.py:124-312 semantics).

The reference generates row-by-row with numpy/Faker on one machine.
This module generates the same star schema (customers, products,
orders, order_items) as pure DataFrame expressions, which makes the
generator distributed, lazy, and — crucially — SEED-STABLE: every
random draw is a deterministic function of (seed, row id, tag) via
xxhash64, so the output is identical for any partitioning, any
executor count, any retry (SURVEY.md §7 risk 4: ``F.rand(seed)`` is
only per-partition deterministic, so it is never used here).

Distribution parity with the reference (not bit-parity — the reference
consumes numpy's global RNG stream, which is inherently sequential):

- G1 ids:        ``spark.range(1, N+1)``
- G2 age:        clip(N(35,10), 18, 90)           (Box-Muller on 2 uniforms)
- G3 uniform:    city/product_type/adjective/size  (hash-indexed literal array)
- G4 weighted:   payment/status/items-per-order/quantity/discount
                 (inverse-CDF via chained ``F.when``)
- G5 price:      lognormal(mu=2.8, sigma=0.8), 2dp
- G6 stock:      Poisson(120) via the normal approximation
                 N(lambda, sqrt(lambda)) — exact-Poisson needs a Python
                 UDF; at lambda=120 the approximation error is < 1% per
                 bucket and the column stays JVM-side
- G7 popularity: Zipf over product ranks via the analytic inverse CDF
                 rank = N^u (exact race-trick sampling w/o replacement
                 is O(orders x products) — a non-starter at scale;
                 duplicates within an order are dropped instead, which
                 at <= 6 items from 2000 products diverges negligibly)
- G8 dates:      order_date uniform in [signup_date, END_DATE]
- G9 invariants: category = MAP[product_type], cost in [0.4,0.7]*price,
                 line_total = round(q*unit_price_after, 2),
                 total_amount = round(sum(line_total), 2)
                 — all hold by construction; ``beauty_report`` re-checks
                 them with the other validator rules (``BEAUTY_RULES``).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators.quality import PREDICATE, RI, UNIQUE, rule_report

SEED = 42
START_DATE = "2023-01-01"  # reference uses today-3y..today; pinned for determinism
END_DATE = "2026-01-01"

SWEDISH_CITIES = [
    "Stockholm", "Göteborg", "Malmö", "Uppsala", "Västerås", "Örebro",
    "Linköping", "Helsingborg", "Jönköping", "Norrköping", "Lund", "Umeå",
    "Gävle", "Borås", "Södertälje", "Eskilstuna", "Halmstad", "Växjö",
    "Karlstad", "Täby",
]

#: Authoritative product_type -> category mapping (reference
#: src/generate_data.py:77-112).
PRODUCT_TYPE_TO_CATEGORY = {
    "Shampoo": "Shampoo", "Conditioner": "Conditioner",
    "Hair Mask": "Hair Mask", "Leave-in Treatment": "Hair Treatment",
    "Scalp Serum": "Hair Treatment", "Dry Shampoo": "Shampoo",
    "Hair Oil": "Hair Treatment", "Hair Serum": "Hair Treatment",
    "Body Lotion": "Body Care", "Body Wash": "Body Care",
    "Body Scrub": "Body Care", "Hand Cream": "Hand Care",
    "Face Cleanser": "Face Care", "Face Cream": "Face Care",
    "Face Serum": "Face Care", "Toner": "Face Care", "BB Cream": "Face Care",
    "Foundation": "Makeup", "Blush": "Makeup", "Mascara": "Makeup",
    "Lip Balm": "Makeup", "Lipstick": "Makeup",
    "Nail Polish": "Nail Care", "Base Coat": "Nail Care",
    "Top Coat": "Nail Care", "Cuticle Oil": "Nail Care",
    "Nail Strengthener": "Nail Care", "Nail File": "Nail Tools",
    "Nail Clippers": "Nail Tools", "Nail Brush": "Nail Tools",
}
PRODUCT_TYPES = list(PRODUCT_TYPE_TO_CATEGORY)
ADJECTIVES = [
    "Hydra", "Silk", "Pure", "Gentle", "Revive", "Nourish", "Balance",
    "Glow", "Radiant", "Calming", "Repair", "Botanical", "Fresh", "Velvet",
    "Luxe", "Bright", "Soothing", "Clarifying",
]
SIZES = ["30ml", "50ml", "75ml", "100ml", "150ml", "200ml", "250ml"]
FIRST_NAMES = [
    "Erik", "Anna", "Lars", "Maria", "Karl", "Elsa", "Johan", "Eva",
    "Nils", "Astrid", "Olof", "Ingrid", "Sven", "Karin", "Bo", "Sofia",
]
LAST_NAMES = [
    "Andersson", "Johansson", "Karlsson", "Nilsson", "Eriksson",
    "Larsson", "Olsson", "Persson", "Svensson", "Gustafsson",
]
PAYMENT_TYPES = ["card", "invoice", "paypal", "swish"]
PAYMENT_P = [0.6, 0.15, 0.15, 0.1]
ORDER_STATUSES = ["completed", "cancelled", "returned"]
STATUS_P = [0.95, 0.03, 0.02]
ITEMS_P = [0.50, 0.25, 0.15, 0.07, 0.02, 0.01]        # 1..6 items/order
QUANTITY_VALUES, QUANTITY_P = [1, 2, 3], [0.8, 0.15, 0.05]
DISCOUNT_VALUES, DISCOUNT_P = [0.0, 0.05, 0.1], [0.9, 0.08, 0.02]


# --------------------------------------------------------------------------
# Deterministic randomness primitives
# --------------------------------------------------------------------------


def u01(id_col: Column, tag: str, seed: int = SEED) -> Column:
    """Uniform [0,1) as a pure function of (seed, tag, id) — xxhash64 is
    JVM-side, partitioning-independent, and identical on every run."""
    h = F.xxhash64(F.lit(f"{seed}:{tag}"), id_col)
    # map int64 -> [0,1): shift to unsigned range then scale. Hash values
    # in [2^63-512, 2^63) round UP to 2^63 under double conversion, which
    # would yield exactly 1.0 and violate the [0,1) contract (probability
    # ~2.8e-17 per draw) — clamp to the largest double below 1.
    u = (h.cast("double") / F.lit(float(2**64))) + 0.5
    return F.least(u, F.lit(1.0 - 2**-53))


def gaussian(id_col: Column, tag: str, mean: float, std: float) -> Column:
    """Box-Muller from two independent hash-uniforms."""
    u1 = u01(id_col, tag + ":u1")
    u2 = u01(id_col, tag + ":u2")
    # guard u1=0 (log(0)) — clamp to a tiny positive
    z = F.sqrt(-2.0 * F.log(F.greatest(u1, F.lit(1e-12)))) * F.cos(
        2.0 * math.pi * u2
    )
    return z * std + mean


def poisson_approx(id_col: Column, tag: str, lam: float) -> Column:
    """Poisson(lam) via N(lam, sqrt(lam)), rounded, floored at 0 —
    JVM-side; accurate for large lam (G6, lam=120)."""
    return F.greatest(
        F.round(gaussian(id_col, tag, lam, math.sqrt(lam))).cast("int"), F.lit(0)
    )


def choice(id_col: Column, tag: str, values: list) -> Column:
    """Uniform categorical (G3)."""
    arr = F.array(*[F.lit(v) for v in values])
    idx = (u01(id_col, tag) * len(values)).cast("int") + 1
    return F.element_at(arr, F.least(idx, F.lit(len(values))))


def weighted_choice(id_col: Column, tag: str, values: list, probs: list[float]) -> Column:
    """Weighted categorical via inverse CDF on one uniform (G4).
    Chained ``when`` picks the first true branch, so conditions are
    emitted in ascending-CDF order."""
    u = u01(id_col, tag)
    expr = None
    cdf = 0.0
    for v, p in zip(values[:-1], probs[:-1]):
        cdf += p
        cond = u < cdf
        expr = F.when(cond, F.lit(v)) if expr is None else expr.when(cond, F.lit(v))
    return expr.otherwise(F.lit(values[-1]))


def zipf_rank(id_col: Column, tag: str, n: int) -> Column:
    """Approximate Zipf(1) sampling over ranks 1..n via the analytic
    inverse CDF: P(rank <= k) = H(k)/H(n) ~ ln(k)/ln(n), so
    rank = n^u (G7). Head mass matches 1/H(n) closely for n >= 100."""
    u = u01(id_col, tag)
    return F.least(
        F.greatest(F.pow(F.lit(float(n)), u).cast("long"), F.lit(1)), F.lit(n)
    )


# --------------------------------------------------------------------------
# Table generators
# --------------------------------------------------------------------------


def gen_customers(spark: SparkSession, n: int = 10_000) -> DataFrame:
    days = F.datediff(F.lit(END_DATE).cast("date"), F.lit(START_DATE).cast("date"))
    cid = F.col("customer_id")
    return (
        spark.range(1, n + 1)
        .select(F.col("id").alias("customer_id"))
        .select(
            "customer_id",
            choice(cid, "first", FIRST_NAMES).alias("first_name"),
            choice(cid, "last", LAST_NAMES).alias("last_name"),
            F.concat(F.lit("user"), cid.cast("string"), F.lit("@example.com")).alias(
                "email"
            ),
            F.date_add(
                F.lit(START_DATE).cast("date"),
                (u01(cid, "signup") * (days + 1)).cast("int"),
            ).alias("signup_date"),
            choice(cid, "city", SWEDISH_CITIES).alias("city"),
            F.least(
                F.greatest(gaussian(cid, "age", 35, 10).cast("int"), F.lit(18)),
                F.lit(90),
            ).alias("age"),
        )
    )


def gen_products(spark: SparkSession, n: int = 2_000) -> DataFrame:
    pid = F.col("product_id")
    mapping = F.create_map(
        *[F.lit(x) for kv in PRODUCT_TYPE_TO_CATEGORY.items() for x in kv]
    )
    price = F.round(
        F.exp(gaussian(pid, "price", 2.8, 0.8)), 2
    )
    return (
        spark.range(1, n + 1)
        .select(F.col("id").alias("product_id"))
        .select(
            "product_id",
            choice(pid, "ptype", PRODUCT_TYPES).alias("product_type"),
            price.alias("price"),
        )
        .select(
            "product_id",
            F.concat_ws(
                " ",
                choice(pid, "adj", ADJECTIVES),
                F.col("product_type"),
                choice(pid, "size", SIZES),
            ).alias("product_name"),
            "product_type",
            mapping[F.col("product_type")].alias("category"),
            "price",
            F.round(F.col("price") * (u01(pid, "cost") * 0.30 + 0.40), 2).alias("cost"),
            poisson_approx(pid, "stock", 120).alias("available_stock"),
        )
    )


def gen_orders_and_items(
    spark: SparkSession,
    customers: DataFrame,
    products: DataFrame,
    n_orders: int = 100_000,
    n_customers: int | None = None,
    n_products: int | None = None,
    materialize: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Orders + order_items with the G7/G8/G9 semantics. One shuffle for
    the customer join, one broadcast join for prices, one groupBy for
    total_amount — no driver loops.

    ``n_customers``/``n_products`` skip the two eager count() jobs when
    the caller (generate()) already knows the sizes. ``materialize``
    checkpoints the items table before deriving order totals, so the
    orders plan reads materialized items instead of re-embedding the
    explode+join+window lineage — the lever a cluster job would pull as
    ``persist()`` before the fan-in aggregate."""
    if n_products is None:
        n_products = products.count()
    if n_customers is None:
        n_customers = customers.count()
    oid = F.col("order_id")
    base = (
        spark.range(1, n_orders + 1)
        .select(F.col("id").alias("order_id"))
        .select(
            "order_id",
            ((u01(oid, "cust") * n_customers).cast("long") + 1).alias(
                "customer_id"
            ),
            weighted_choice(oid, "pay", PAYMENT_TYPES, PAYMENT_P).alias(
                "payment_type"
            ),
            weighted_choice(oid, "status", ORDER_STATUSES, STATUS_P).alias("status"),
            weighted_choice(oid, "nitems", [1, 2, 3, 4, 5, 6], ITEMS_P).alias(
                "n_items"
            ),
        )
    )
    # G8: order_date uniform in [signup_date, END_DATE]
    with_date = (
        base.join(customers.select("customer_id", "signup_date"), "customer_id")
        .withColumn(
            "order_date",
            F.date_add(
                F.col("signup_date"),
                (
                    u01(oid, "odate")
                    * (
                        F.datediff(F.lit(END_DATE).cast("date"), F.col("signup_date"))
                        + 1
                    )
                ).cast("int"),
            ),
        )
        .drop("signup_date")
    )

    # G7: explode item slots, Zipf-sample a product per slot, drop
    # within-order duplicate products (approximates sampling w/o
    # replacement; see module docstring)
    slot_id = F.xxhash64(F.lit("slot"), F.col("order_id"), F.col("slot"))
    items_raw = (
        with_date.select(
            "order_id", F.explode(F.sequence(F.lit(1), F.col("n_items"))).alias("slot")
        )
        .withColumn("product_id", zipf_rank(slot_id, "zipf", n_products))
        .dropDuplicates(["order_id", "product_id"])
    )
    iid = F.xxhash64(F.lit("item"), F.col("order_id"), F.col("product_id"))
    items = (
        items_raw.join(F.broadcast(products.select("product_id", "price")), "product_id")
        .select(
            "order_id",
            "product_id",
            weighted_choice(iid, "qty", QUANTITY_VALUES, QUANTITY_P).alias("quantity"),
            weighted_choice(iid, "disc", DISCOUNT_VALUES, DISCOUNT_P).alias(
                "discount"
            ),
            "price",
        )
        .select(
            "order_id",
            "product_id",
            "quantity",
            F.round(
                F.col("price").cast("decimal(12,2)")
                * (1 - F.col("discount").cast("decimal(4,2)")),
                2,
            ).cast("double").alias("unit_price"),
        )
        .select(
            "order_id",
            "product_id",
            "quantity",
            "unit_price",
            F.round(
                F.col("quantity") * F.col("unit_price").cast("decimal(12,2)"), 2
            ).cast("double").alias("line_total"),
        )
        # stable surrogate key (G1 for items): the reference's running
        # counter is sequential-generator state; a distributed engine
        # derives the key from the natural key instead — per-order slot
        # number packed with order_id (<= 6 items per order). No global
        # sort anywhere.
        .withColumn(
            "order_item_id",
            (F.col("order_id") - 1) * 6
            + F.row_number().over(
                Window.partitionBy("order_id").orderBy("product_id")
            ),
        )
        .select(
            "order_item_id", "order_id", "product_id", "quantity",
            "unit_price", "line_total",
        )
    )

    if materialize:
        items = items.localCheckpoint(eager=True)
    # G9: total_amount = round(sum(line_total), 2)
    totals = items.groupBy("order_id").agg(
        F.round(F.sum(F.col("line_total").cast("decimal(12,2)")), 2)
        .cast("double")
        .alias("total_amount")
    )
    orders = with_date.join(totals, "order_id").select(
        "order_id", "customer_id", "order_date", "total_amount",
        "payment_type", "status",
    )
    return orders, items


@dataclass(frozen=True)
class BeautyDataset:
    customers: DataFrame
    products: DataFrame
    orders: DataFrame
    order_items: DataFrame

    def metadata(self, seed: int = SEED) -> dict:
        """Run manifest (reference S10, generate_data.py:321-331)."""
        return run_manifest(
            {
                "customers": self.customers.count(),
                "products": self.products.count(),
                "orders": self.orders.count(),
                "order_items": self.order_items.count(),
            },
            seed,
        )


def run_manifest(rows: dict[str, int], seed: int = SEED) -> dict:
    """The run manifest from each table's row count (``rows`` keyed
    customers, products, orders, order_items)."""
    return {
        "seed": seed,
        **{f"n_{name}": n for name, n in rows.items()},
        "min_items_per_order": 1,
        "max_items_per_order": 6,
    }


def generate(
    spark: SparkSession,
    n_customers: int = 10_000,
    n_products: int = 2_000,
    n_orders: int = 100_000,
    materialize: bool = False,
) -> BeautyDataset:
    customers = gen_customers(spark, n_customers)
    products = gen_products(spark, n_products)
    orders, items = gen_orders_and_items(
        spark, customers, products, n_orders,
        n_customers=n_customers, n_products=n_products, materialize=materialize,
    )
    return BeautyDataset(customers, products, orders, items)


# --------------------------------------------------------------------------
# Beauty-schema quality rules (the ported validator on generated data)
# --------------------------------------------------------------------------

#: product_type -> category as a Spark SQL map literal.
_CATEGORY_OF = "map({})".format(
    ", ".join(f"'{t}', '{c}'" for t, c in PRODUCT_TYPE_TO_CATEGORY.items())
)

#: The reference validator's 14 rules (scripts/validate_dataset.py) on
#: the generated star schema, as ``operators.quality.rule_report``
#: specs. ``order_sizes`` is the per-order item count and item total;
#: ``orders⋈customers`` and ``orders⋈order_sizes`` are inner joins, so
#: their rules count (order, parent) pairs.
BEAUTY_RULES = (
    ("customers.customer_id.unique", "customers", UNIQUE, "customer_id"),
    ("products.product_id.unique", "products", UNIQUE, "product_id"),
    ("orders.order_id.unique", "orders", UNIQUE, "order_id"),
    ("order_items.order_item_id.unique", "order_items", UNIQUE, "order_item_id"),
    ("orders.customer_exists", "orders", RI, ("customer_id", "customers", "customer_id")),
    ("order_items.order_exists", "order_items", RI, ("order_id", "orders", "order_id")),
    ("order_items.product_exists", "order_items", RI, ("product_id", "products", "product_id")),
    # G9 invariants
    ("products.category_mapping", "products", PREDICATE,
     f"{_CATEGORY_OF}[product_type] IS NULL OR category != {_CATEGORY_OF}[product_type]"),
    ("products.cost_within_price_band", "products", PREDICATE,
     "cost < round(price * 0.40, 2) - 0.01 OR cost > round(price * 0.70, 2) + 0.01"),
    ("customers.age_bounds", "customers", PREDICATE, "age < 18 OR age > 90"),
    ("order_items.line_total_arith", "order_items", PREDICATE,
     "abs(line_total - CAST(round(quantity * CAST(unit_price AS DECIMAL(12,2)), 2)"
     " AS DOUBLE)) > 1e-9"),
    ("orders.total_amount_consistent", "orders⋈order_sizes", PREDICATE,
     "abs(total_amount - items_total) > 1e-9"),
    ("orders.date_after_signup", "orders⋈customers", PREDICATE,
     "order_date < signup_date"),
    ("order_items.items_per_order_bounds", "order_sizes", PREDICATE,
     "n_items < 1 OR n_items > 6"),
)


def beauty_report(ds: BeautyDataset) -> DataFrame:
    """The 14-rule ``(rule, violations)`` report: :data:`BEAUTY_RULES`
    compiled by ``operators.quality.rule_report`` over the four tables
    plus the per-order aggregate and the two pair joins it reads."""
    sizes = ds.order_items.groupBy("order_id").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum(F.col("line_total").cast("decimal(12,2)")), 2)
        .cast("double")
        .alias("items_total"),
    )
    frames = {
        "customers": ds.customers,
        "products": ds.products,
        "orders": ds.orders,
        "order_items": ds.order_items,
        "order_sizes": sizes,
        "orders⋈customers": ds.orders.join(
            ds.customers.select("customer_id", "signup_date"), "customer_id"
        ),
        "orders⋈order_sizes": ds.orders.join(sizes, "order_id"),
    }
    return rule_report(frames, BEAUTY_RULES)


def q_beauty_datagen_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered (rows-only) query: generate a small beauty dataset and
    return the full rule report — every violations count must be 0.
    ``sf_dir`` is unused (the data is generated, not read); the driver
    contract signature is kept for uniform registration.

    Gate-cheap by construction: generation materializes items once
    (``materialize=True`` truncates the explode+join+window lineage), the
    four tables are checkpointed so the 14 rules read cached blocks
    instead of re-deriving the generators, and :func:`beauty_report`
    compiles the rules into one pass per table under one aggregate."""
    ds = generate(
        spark, n_customers=300, n_products=120, n_orders=1500, materialize=True
    )
    ds = BeautyDataset(
        customers=ds.customers.localCheckpoint(eager=True),
        products=ds.products.localCheckpoint(eager=True),
        orders=ds.orders.localCheckpoint(eager=True),
        order_items=ds.order_items.localCheckpoint(eager=True),
    )
    return beauty_report(ds)
