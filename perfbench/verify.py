"""Output verification, run outside the timed region.

Each registered op's collected result is reduced to an order-insensitive
value digest (columns sorted by name, values normalised as the
correctness gate does, rows sorted) and compared with the digest of its
``__spark_entry__.oracle_sql()`` twin run in DuckDB on the unpermuted
fixture. Oracle digests depend only on the SQL text and the fixture, so
they are cached on disk. The MERGE end state and change feed are
checked against a DuckDB replay of the batch files, and the lakehouse
pipeline's warehouse outputs against DuckDB over the raw CSV zone the
pipeline wrote.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import duckdb

from inputs import MERGE_COLUMNS, MERGE_KEY, TABLES, fixture_dir


def _norm(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.10g}"
    return str(v)


def digest(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(tuple(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(repr((sorted(cols), canon)).encode())
    return h.hexdigest()[:32]


def duck(scale: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    base = fixture_dir(scale)
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS FROM '{base}/{t}.parquet'")
    return con


class Oracles:
    """DuckDB twins of the registered ops, cached by SQL text."""

    def __init__(self, scale: str, cache_dir: str):
        self.scale = scale
        self.cache_dir = os.path.join(cache_dir, "oracle", scale)
        self._con = None
        self._sql: dict[str, str] | None = None

    def _oracle_sql(self) -> dict[str, str]:
        if self._sql is None:
            import __spark_entry__

            self._sql = __spark_entry__.oracle_sql()
        return self._sql

    def get(self, name: str) -> dict:
        sql = self._oracle_sql()[name]
        key = hashlib.sha1(sql.encode()).hexdigest()[:20]
        path = os.path.join(self.cache_dir, f"{name}-{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        if self._con is None:
            self._con = duck(self.scale)
        res = self._con.sql(sql)
        cols, types = list(res.columns), [str(t) for t in res.types]
        rows = res.fetchall()
        rec = {"cols": cols, "types": types, "n": len(rows), "digest": digest(cols, rows)}
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(rec, f)
        os.replace(tmp, path)
        return rec

    def check(self, name: str, cols: list[str], dtypes, rows: list[tuple]) -> str | None:
        """None when the result matches its oracle, else the mismatch."""
        from beauty_lakehouse_spark.typetags import pair_mismatches

        o = self.get(name)
        if sorted(cols) != sorted(o["cols"]):
            return f"columns {sorted(cols)} != oracle {sorted(o['cols'])}"
        tags = pair_mismatches(dtypes, o["cols"], o["types"])
        if tags:
            return f"type tags {tags}"
        if len(rows) != o["n"]:
            return f"{len(rows)} rows != oracle {o['n']}"
        if digest(cols, rows) != o["digest"]:
            return "value digest differs from oracle"
        return None


def merge_replay(scale: str, batch_paths: list[tuple[str, str]]) -> tuple[list, list]:
    """DuckDB replay of the MERGE batches: (end state rows, change feed
    rows from v1 to the end state), with the columns of MERGE_COLUMNS
    (change rows lead with change_type)."""
    from inputs import merge_base

    con = duckdb.connect()
    con.sql("SET threads TO 2")
    base = merge_base(scale)
    con.register("base_arrow", base)
    con.sql("CREATE TABLE v1 AS SELECT * FROM base_arrow")
    con.sql("CREATE TABLE state AS SELECT * FROM v1")
    cols = ", ".join(MERGE_COLUMNS)
    for ups, dels in batch_paths:
        con.sql(
            f"CREATE OR REPLACE TABLE state AS "
            f"SELECT {cols} FROM state WHERE {MERGE_KEY} NOT IN "
            f"(SELECT {MERGE_KEY} FROM '{ups}') "
            f"UNION ALL SELECT {cols} FROM '{ups}'"
        )
        con.sql(
            f"DELETE FROM state WHERE {MERGE_KEY} IN (SELECT {MERGE_KEY} FROM '{dels}')"
        )
    end = con.sql(f"SELECT {cols} FROM state").fetchall()
    changes = con.sql(
        f"SELECT 'insert' AS change_type, * FROM (SELECT {cols} FROM state "
        f"EXCEPT ALL SELECT {cols} FROM v1) "
        f"UNION ALL SELECT 'delete', * FROM (SELECT {cols} FROM v1 "
        f"EXCEPT ALL SELECT {cols} FROM state)"
    ).fetchall()
    con.close()
    return end, changes


def lakehouse_replay(raw_dir: str) -> dict[str, tuple[list, list]]:
    """The pipeline's ``fact_sales`` and ``revenue_by_category``
    computed by DuckDB from its raw CSV zone: {name: (columns, rows)}."""
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in ("customers", "products", "orders", "order_items"):
        con.sql(f"CREATE VIEW {t} AS FROM read_csv('{raw_dir}/{t}/*.csv', header = true)")
    con.sql(
        "CREATE VIEW fact AS SELECT i.order_item_id, i.order_id, o.customer_id, "
        "i.product_id, p.category, o.order_date, o.status, i.quantity, i.line_total "
        "FROM order_items i JOIN orders o USING (order_id) "
        "JOIN products p USING (product_id)"
    )
    out = {}
    for name, sql in {
        "fact_sales": "SELECT * FROM fact",
        "revenue_by_category": (
            "SELECT category, round(sum(line_total::DECIMAL(14, 2)), 2)::DOUBLE AS revenue, "
            "count(*) AS n_lines FROM fact WHERE status = 'completed' GROUP BY category"
        ),
    }.items():
        res = con.sql(sql)
        out[name] = (list(res.columns), res.fetchall())
    con.close()
    return out
