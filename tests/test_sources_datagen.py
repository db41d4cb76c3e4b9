"""Sources/sinks round-trips (S1/S3/S4/S5/S8/S10/S11) and the synthetic
beauty-star-schema generator (G1-G9): seed stability, distribution
properties, and the ported validator's rule report."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from beauty_lakehouse_spark import datagen, sources


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


def test_csv_round_trip_with_declared_schema(spark, tmp_path):
    products = datagen.gen_products(spark, 100)
    path = str(tmp_path / "products_csv")
    sources.write_csv(products, path)
    back = sources.read_csv(spark, path, sources.BEAUTY_CSV_SCHEMAS["products"])
    assert back.schema == sources.BEAUTY_CSV_SCHEMAS["products"]
    assert _canon(back.select("product_id", "product_type", "price")) == _canon(
        products.select("product_id", "product_type", "price")
    )


def test_curated_write_read_validate(spark, tmp_path):
    customers = datagen.gen_customers(spark, 200)
    path = str(tmp_path / "curated_customers")
    fmt = sources.write_curated(customers, path)
    assert fmt in ("parquet", "delta")
    back = sources.read_curated(spark, path)
    assert _canon(back) == _canon(customers)
    report = sources.validate_curated(spark, path, expected_rows=200)
    assert report["n_rows"] == 200
    assert report["row_count_matches"]
    assert set(report["columns"]) == set(customers.columns)


def test_validation_reports_a_removed_part_file(spark, tmp_path):
    """Counting rows from the footers still sees a lost part file: the
    count falls short and the log names a file that is gone; with its
    only part file removed the table has no files at all."""
    import os

    for parts, partition_by in ((3, None), (3, ["p"]), (1, None)):
        df = spark.range(0, 90, numPartitions=parts).withColumn("p", F.col("id") % 2)
        path = str(tmp_path / f"t{parts}_{bool(partition_by)}")
        sources.write_curated(df, path, partition_by=partition_by)
        assert sources.validate_curated(spark, path, expected_rows=90)["row_count_matches"]
        victim = sources._data_files(path, "parquet")[0]
        os.remove(victim)
        report = sources.validate_curated(spark, path, expected_rows=90)
        assert report["delta_log_valid"] is False, victim
        if parts == 1 and not partition_by:
            assert report["has_files"] is False
        else:
            assert report["has_files"] and not report["row_count_matches"]
            assert report["n_rows"] == spark.read.parquet(path).count() < 90


def test_metadata_sidecar_round_trip(spark, tmp_path):
    ds = datagen.generate(spark, 50, 30, 100)
    path = str(tmp_path / "metadata.json")
    sources.write_metadata(path, ds.metadata())
    meta = sources.read_metadata(path)
    assert meta["seed"] == datagen.SEED
    assert meta["n_customers"] == 50
    assert meta["n_orders"] == 100


def test_datagen_seed_stable(spark):
    a = _canon(datagen.gen_customers(spark, 100))
    b = _canon(datagen.gen_customers(spark, 100).repartition(7))
    assert a == b  # identical under any partitioning


def test_datagen_distributions(spark):
    ds = datagen.generate(spark, 2000, 300, 5000)
    ages = ds.customers.select(
        F.min("age").alias("lo"), F.max("age").alias("hi"), F.avg("age").alias("mu")
    ).collect()[0]
    assert ages.lo >= 18 and ages.hi <= 90 and 30 < ages.mu < 40
    # items-per-order must be supported on 1..6 with a decreasing head
    dist = {
        r["count"]: r["n"]
        for r in ds.order_items.groupBy("order_id")
        .count()
        .groupBy("count")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(dist) <= {1, 2, 3, 4, 5, 6}
    assert dist[1] > dist[2] > dist[3]
    # Zipf head: most-popular product carries a large share
    top = (
        ds.order_items.groupBy("product_id")
        .count()
        .orderBy(F.desc("count"))
        .limit(1)
        .collect()[0]
    )
    assert top["count"] / ds.order_items.count() > 0.05


def test_datagen_validator_all_clean(spark):
    report = datagen.q_beauty_datagen_validation(spark, "")
    rows = {r.rule: r.violations for r in report.collect()}
    assert len(rows) == 14
    assert all(v == 0 for v in rows.values()), rows


#: DuckDB twin of the 14 beauty rules, each its own count query in the
#: reference validator's terms (anti joins, inner joins, GROUP BY).
_BEAUTY_TWIN = """
WITH category_map(mt, mc) AS (VALUES {pairs}),
sizes AS (
    SELECT order_id, count(*) AS n,
           CAST(round(sum(CAST(line_total AS DECIMAL(12,2))), 2) AS DOUBLE) AS calc
    FROM order_items GROUP BY order_id
)
SELECT 'customers.customer_id.unique', (SELECT count(*) FROM (
    SELECT customer_id FROM customers GROUP BY customer_id HAVING count(*) > 1))
UNION ALL SELECT 'products.product_id.unique', (SELECT count(*) FROM (
    SELECT product_id FROM products GROUP BY product_id HAVING count(*) > 1))
UNION ALL SELECT 'orders.order_id.unique', (SELECT count(*) FROM (
    SELECT order_id FROM orders GROUP BY order_id HAVING count(*) > 1))
UNION ALL SELECT 'order_items.order_item_id.unique', (SELECT count(*) FROM (
    SELECT order_item_id FROM order_items GROUP BY order_item_id HAVING count(*) > 1))
UNION ALL SELECT 'orders.customer_exists', (SELECT count(*) FROM orders o
    ANTI JOIN customers c ON o.customer_id = c.customer_id)
UNION ALL SELECT 'order_items.order_exists', (SELECT count(*) FROM order_items i
    ANTI JOIN orders o ON i.order_id = o.order_id)
UNION ALL SELECT 'order_items.product_exists', (SELECT count(*) FROM order_items i
    ANTI JOIN products p ON i.product_id = p.product_id)
UNION ALL SELECT 'products.category_mapping', (SELECT count(*) FROM products p
    LEFT JOIN category_map m ON p.product_type = m.mt
    WHERE m.mc IS NULL OR p.category <> m.mc)
UNION ALL SELECT 'products.cost_within_price_band', (SELECT count(*) FROM products
    WHERE cost < round(price * 0.40, 2) - 0.01 OR cost > round(price * 0.70, 2) + 0.01)
UNION ALL SELECT 'customers.age_bounds', (SELECT count(*) FROM customers
    WHERE age < 18 OR age > 90)
UNION ALL SELECT 'order_items.line_total_arith', (SELECT count(*) FROM order_items
    WHERE abs(line_total - CAST(round(quantity * CAST(unit_price AS DECIMAL(12,2)), 2)
                               AS DOUBLE)) > 1e-9)
UNION ALL SELECT 'orders.total_amount_consistent', (SELECT count(*) FROM orders o
    JOIN sizes s ON o.order_id = s.order_id WHERE abs(o.total_amount - s.calc) > 1e-9)
UNION ALL SELECT 'orders.date_after_signup', (SELECT count(*) FROM orders o
    JOIN customers c ON o.customer_id = c.customer_id WHERE o.order_date < c.signup_date)
UNION ALL SELECT 'order_items.items_per_order_bounds', (SELECT count(*) FROM sizes
    WHERE n < 1 OR n > 6)
""".format(
    pairs=", ".join(f"('{t}', '{c}')" for t, c in datagen.PRODUCT_TYPE_TO_CATEGORY.items())
)


def _beauty_twin(ds) -> dict:
    import duckdb

    con = duckdb.connect()
    for name in ("customers", "products", "orders", "order_items"):
        con.register(name, getattr(ds, name).toArrow())
    return dict(con.execute(_BEAUTY_TWIN).fetchall())


def _report(ds) -> dict:
    return {r.rule: r.violations for r in datagen.beauty_report(ds).collect()}


def _set(df, key: str, ids, col: str, value):
    """``df`` with ``col`` replaced by ``value`` on the rows whose
    ``key`` is in ``ids``."""
    hit = F.col(key).isin(list(ids))
    return df.withColumn(col, F.when(hit, value).otherwise(F.col(col)))


def test_beauty_report_counts_duplicate_parent_keys_once(spark):
    """A duplicated orders row must not multiply its items: one of its
    items breaks the line-total arithmetic, and that counts once."""
    ds = datagen.generate(spark, 100, 30, 300, materialize=True)
    order = (
        ds.order_items.groupBy("order_id").count().filter("count >= 2")
        .agg(F.min("order_id")).first()[0]
    )
    item = ds.order_items.filter(F.col("order_id") == order).agg(
        F.min("order_item_id")
    ).first()[0]
    ds = datagen.BeautyDataset(
        ds.customers,
        ds.products,
        ds.orders.unionByName(ds.orders.filter(F.col("order_id") == order)),
        _set(ds.order_items, "order_item_id", [item], "quantity", F.col("quantity") + 1),
    )
    got = _report(ds)
    assert got["order_items.line_total_arith"] == 1
    assert got["orders.order_id.unique"] == 1
    assert got == _beauty_twin(ds)


def test_beauty_report_planted_violations(spark):
    """Each of the 14 rules is broken a known number of times, and the
    report matches both those counts and the DuckDB twin."""
    ds = datagen.generate(spark, 100, 30, 300, materialize=True)
    cu, pr, od, it = ds.customers, ds.products, ds.orders, ds.order_items
    a, b, c, d = [
        r.order_id
        for r in od.filter(F.col("customer_id") != 2).orderBy("order_id").limit(4).collect()
    ]
    last_item = it.agg(F.max("order_item_id")).first()[0]
    cu = _set(cu, "customer_id", [1], "age", F.lit(10))
    cu = cu.unionByName(cu.filter(F.col("customer_id") == 2))
    pr = _set(pr, "product_id", [3], "category", F.lit("Nope"))
    pr = _set(pr, "product_id", [4], "product_type", F.lit("Unknown"))
    pr = _set(pr, "product_id", [5], "cost", F.col("price") * 2)
    pr = pr.unionByName(pr.filter(F.col("product_id") == 2))
    od = _set(od, "order_id", [a], "customer_id", F.lit(-1).cast("long"))
    od = _set(od, "order_id", [b], "order_date", F.lit("2000-01-01").cast("date"))
    od = _set(od, "order_id", [d], "total_amount", F.col("total_amount") + 1)
    od = od.unionByName(od.filter(F.col("order_id") == c))
    # seven copies of the first seven items under an order that does
    # not exist: one keeps its item id, one points at no product
    first = it.orderBy("order_item_id").limit(7).withColumn(
        "rank", F.row_number().over(Window.orderBy("order_item_id"))
    )
    strays = (
        first.withColumn("order_id", F.lit(-5).cast("long"))
        .withColumn(
            "order_item_id",
            F.when(F.col("rank") == 1, F.col("order_item_id")).otherwise(-F.col("rank")),
        )
        .withColumn(
            "product_id",
            F.when(F.col("rank") == 2, F.lit(-7).cast("long")).otherwise(F.col("product_id")),
        )
        .drop("rank")
    )
    it = _set(it, "order_item_id", [last_item], "quantity", F.col("quantity") + 1)
    it = it.unionByName(strays)
    ds = datagen.BeautyDataset(cu, pr, od, it)
    got = _report(ds)
    assert got == {
        "customers.customer_id.unique": 1,
        "products.product_id.unique": 1,
        "orders.order_id.unique": 1,
        "order_items.order_item_id.unique": 1,
        "orders.customer_exists": 1,
        "order_items.order_exists": 7,
        "order_items.product_exists": 1,
        "products.category_mapping": 2,
        "products.cost_within_price_band": 1,
        "customers.age_bounds": 1,
        "order_items.line_total_arith": 1,
        "orders.total_amount_consistent": 1,
        "orders.date_after_signup": 1,
        "order_items.items_per_order_bounds": 1,
    }
    assert got == _beauty_twin(ds)


def test_bucketed_join_is_shuffle_free(spark, sf_dir):
    """Co-located join: two tables bucketed on the join key must join
    with NO Exchange on either side — the 100 TB fact-join strategy."""
    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.sources import write_bucketed

    t = load(spark, sf_dir)
    write_bucketed(
        t.lineitem.select("l_orderkey", "l_extendedprice"),
        "b_lineitem", "l_orderkey", n_buckets=8,
    )
    write_bucketed(
        t.orders.select("o_orderkey", "o_custkey"),
        "b_orders", "o_orderkey", n_buckets=8,
    )
    # at fixture scale the planner would broadcast the small side (also
    # shuffle-free, but not the property under test) — force the
    # sort-merge path a 100 TB fact join would take
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan  # no shuffle
        assert "Bucketed: true" in plan, plan
        assert joined.count() == t.lineitem.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_csv_quarantine_splits_corrupt_rows(spark, tmp_path):
    from beauty_lakehouse_spark.sources import BEAUTY_CSV_SCHEMAS, read_csv_quarantine

    path = tmp_path / "dirty.csv"
    path.write_text(
        "order_id,customer_id,order_date,total_amount,payment_type,status\n"
        "1,10,2024-01-05,99.50,card,completed\n"
        "2,11,not-a-date,oops,card,completed\n"
        "3,12,2024-02-01,10.00,swish,completed\n"
    )
    good, bad = read_csv_quarantine(spark, str(path), BEAUTY_CSV_SCHEMAS["orders"])
    assert sorted(r.order_id for r in good.collect()) == [1, 3]
    bad_rows = [r._corrupt_record for r in bad.collect()]
    assert len(bad_rows) == 1 and "not-a-date" in bad_rows[0]


def test_fetch_raw_lands_files_atomically(tmp_path):
    """scripts/fetch_raw.py (S1 ingest shell): lands bytes + atomic
    naming. file:// stands in for http:// (same urllib path; the
    container has no network)."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "fetch_raw", os.path.join(os.path.dirname(__file__), "..", "scripts", "fetch_raw.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    src = tmp_path / "raw.csv"
    src.write_text("a,b\n1,2\n")
    out = tmp_path / "landing"
    landed = mod.fetch(f"file://{src}", str(out))
    assert landed == str(out / "raw.csv")
    assert (out / "raw.csv").read_text() == "a,b\n1,2\n"
    assert not list(out.glob("*.part"))


def test_curated_orc_round_trip(spark, tmp_path):
    """The curated sink/source handle columnar formats beyond parquet:
    ORC round-trips (including partitioned layout) and the validation
    scan finds the .orc data files recursively."""
    customers = datagen.gen_customers(spark, 120)
    path = str(tmp_path / "curated_orc")
    fmt = sources.write_curated(
        customers, path, fmt="orc", partition_by=["city"]
    )
    assert fmt == "orc"
    back = sources.read_curated(spark, path, fmt="orc")
    assert back.count() == 120
    assert set(back.columns) == set(customers.columns)
    report = sources.validate_curated(spark, path, expected_rows=120, fmt="orc")
    assert report["has_files"] and report["row_count_matches"]
