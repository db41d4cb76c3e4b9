"""Seeded benchmark inputs.

Every pass of a run reads its own copy of a committed fixture
(``perfbench/fixtures/<scale>``): same files, same values, with the
physical row order of every table permuted by ``(seed, pass)``. Seed 0
is the identity order. A fresh directory per pass means every
path-keyed memo in the program misses on its first use in that pass.

The ``ingest_merge_stream`` workload also gets a sequence of MERGE
batches (upserts and deletes against the orders table), split from the
program's own MERGE scenario by the seed and written as parquet files
into each copy.
"""

from __future__ import annotations

import functools
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURES = os.path.join(HERE, "fixtures")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
MERGE_KEY = "o_orderkey"
MERGE_COLUMNS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "order_year"]

def fixture_dir(scale: str) -> str:
    return os.path.join(FIXTURES, scale)


def table_digest(tbl: pa.Table) -> int:
    """Order-insensitive value hash: the wrapping sum of per-row hashes."""
    df = tbl.to_pandas()
    for c in df.columns:
        if df[c].dtype == object and len(df) and not isinstance(df[c].iloc[0], str):
            df[c] = df[c].map(lambda v: repr(None if v is None else list(v)))
    rows = pd.util.hash_pandas_object(df, index=False).to_numpy(np.uint64)
    return int(rows.sum(dtype=np.uint64))


@functools.cache
def _source_digests(base: str) -> dict[str, tuple[int, int]]:
    out = {}
    for t in TABLES:
        tbl = pq.read_table(os.path.join(base, f"{t}.parquet"))
        out[t] = (tbl.num_rows, table_digest(tbl))
    return out


def permutation(seed: int, pass_no: int, n: int) -> np.ndarray:
    if seed == 0:
        return np.arange(n)
    return np.random.default_rng([seed, pass_no]).permutation(n)


def write_copy(scale: str, out_dir: str, seed: int, pass_no: int) -> str:
    """Write the seed-permuted copy of the fixture for one pass and check
    that each table kept its row count and value hash."""
    base = fixture_dir(scale)
    expected = _source_digests(base)
    os.makedirs(out_dir, exist_ok=False)
    for t in TABLES:
        tbl = pq.read_table(os.path.join(base, f"{t}.parquet"))
        tbl = tbl.take(pa.array(permutation(seed, pass_no, tbl.num_rows)))
        got = (tbl.num_rows, table_digest(tbl))
        if got != expected[t]:
            raise AssertionError(f"{t}: permuted copy {got} != source {expected[t]}")
        pq.write_table(tbl, os.path.join(out_dir, f"{t}.parquet"))
    return out_dir


def merge_base(scale: str) -> pa.Table:
    """The versioned orders table's v1 content: orders projected to the
    merge columns, partition column ``order_year``."""
    o = pq.read_table(os.path.join(fixture_dir(scale), "orders.parquet"))
    year = pc.cast(pc.year(o["o_orderdate"]), pa.int32())
    return pa.table({
        "o_orderkey": o["o_orderkey"],
        "o_custkey": o["o_custkey"],
        "o_orderstatus": o["o_orderstatus"],
        "o_totalprice": o["o_totalprice"],
        "order_year": year,
    })


def merge_batches(
    scale: str, seed: int, n_batches: int
) -> list[tuple[pa.Table, pa.Table]]:
    """``n_batches`` (upserts, deletes) pairs: the program's own MERGE
    scenario (``tables._merge_scenario``: keys % 7 get +1.00 on the
    price, keys % 11 are inserted again under key + 10,000,000, keys %
    13 are deleted), split into batches by the seed.

    The seed assigns every touched key to a batch; a key's update,
    insert and delete land in the same batch, so the end state is the
    scenario's for every seed. The mix is uniform over the years, so
    every batch touches every partition."""
    base = merge_base(scale).to_pandas()
    key = base[MERGE_KEY].to_numpy()
    upd, ins, dele = key % 7 == 0, key % 11 == 0, key % 13 == 0
    touched = np.unique(key[upd | ins | dele])
    batch_of = np.empty(len(touched), dtype=np.int64)
    batch_of[permutation(seed, 7919, len(touched))] = np.arange(len(touched)) % n_batches
    batch = np.full(len(key), -1)
    hit = upd | ins | dele
    batch[hit] = batch_of[np.searchsorted(touched, key[hit])]
    updates = base[upd].assign(o_totalprice=np.round(base.loc[upd, "o_totalprice"] + 1.0, 2))
    inserts = base[ins].assign(**{MERGE_KEY: base.loc[ins, MERGE_KEY] + 10_000_000})
    out = []
    for b in range(n_batches):
        ups = pd.concat([updates[batch[upd] == b], inserts[batch[ins] == b]])[MERGE_COLUMNS]
        dels = base.loc[dele & (batch == b), [MERGE_KEY]]
        out.append((
            pa.Table.from_pandas(ups, preserve_index=False),
            pa.Table.from_pandas(dels, preserve_index=False),
        ))
    return out


def write_merge_batches(
    batches: list[tuple[pa.Table, pa.Table]], out_dir: str
) -> list[tuple[str, str]]:
    os.makedirs(out_dir, exist_ok=False)
    paths = []
    for i, (ups, dels) in enumerate(batches):
        u = os.path.join(out_dir, f"batch{i:02d}_upserts.parquet")
        d = os.path.join(out_dir, f"batch{i:02d}_deletes.parquet")
        pq.write_table(ups, u)
        pq.write_table(dels, d)
        paths.append((u, d))
    return paths
