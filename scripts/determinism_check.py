"""Determinism double-run harness (VERDICT r7 ask #8).

Runs EVERY registered query twice in one session — session memos and
the Spark catalog cache cleared between runs, so run 2 recomputes from
scratch under different task scheduling — and diffs the canonicalized
(column-sorted, row-sorted, str-normalized) outputs. Any entry whose
two same-code runs differ is a latent driver-gate flake of the
`table_stats` class: rows/schema green, hash red, for no code reason.

Writes ``DETERMINISM.json`` at the repo root: per query, a sha256 of
each run's canonical rows and whether they match. Usage:

    python scripts/determinism_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import json
import math
import sys
import time

sys.path.insert(0, ".")

import __spark_entry__ as entrymod
from beauty_lakehouse_spark import memo
from beauty_lakehouse_spark.session import get_spark


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.10g}"
    if isinstance(v, bool):
        return str(v)
    return str(v)


def canon_hash(cols, rows) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(tuple(norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update(repr(sorted(cols)).encode())
    for r in canon:
        h.update(repr(r).encode())
    return h.hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("determinism")
    qs = entrymod.queries()
    if only:
        unknown = only - set(qs)
        if unknown:
            sys.exit(f"unknown query name(s): {sorted(unknown)}")
    record: dict[str, dict] = {}
    n_flaky = n_err = 0
    t_all = time.time()
    for name, fn in qs.items():
        if only and name not in only:
            continue
        hashes = []
        err = None
        t0 = time.time()
        for _ in range(2):
            # every memoized artifact is rebuilt; table handles are
            # metadata only and stay warm
            memo.clear(spark, keep=("table",))
            try:
                df = fn(spark, sf_dir)
                hashes.append(canon_hash(df.columns, df.collect()))
            except Exception as e:  # noqa: BLE001 — record, keep sweeping
                err = f"{type(e).__name__}: {e}"
                break
        if err:
            record[name] = {"match": None, "err": err}
            print(f"ERR  {name}: {err}")
            n_err += 1
            continue
        match = hashes[0] == hashes[1]
        record[name] = {
            "match": match,
            "sha256_run1": hashes[0],
            "sha256_run2": hashes[1],
        }
        if not match:
            n_flaky += 1
        print(
            f"{'SAME' if match else 'FLAKY'} {name} [{time.time()-t0:.2f}s]",
            flush=True,
        )
    if not only:
        with open("DETERMINISM.json", "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_queries": len(record),
                    "n_flaky": n_flaky,
                    "n_err": n_err,
                    "wall_sec": round(time.time() - t_all, 1),
                    "queries": record,
                },
                f,
                indent=1,
            )
    print(
        f"{len(record)} queries double-run: {n_flaky} flaky, {n_err} errors "
        f"[{time.time()-t_all:.1f}s]"
    )
    return 1 if (n_flaky or n_err) else 0


if __name__ == "__main__":
    sys.exit(main())
