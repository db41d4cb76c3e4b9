"""One process-wide memo for derived artifacts.

In a lakehouse the merge scenario, the maintained LSH and pHash
indexes, the dedup clusters, the ANN serving table and the published
media clusters are catalog-owned tables, built once and read by every
consumer. Here each is built on first use and remembered under one
key recipe: ``(kind, session, path, fingerprint(path), *extra)``.

- The session (not only its application id) is in the key, so a
  DataFrame handle is never served to another ``SparkSession`` that
  shares the application, and a new session rebuilds instead of
  reading dead ``localCheckpoint`` blocks.
- ``fingerprint`` stamps every file under ``path``, so rewriting an
  input in place (a single file or one part file of a directory
  table) changes the key and the artifact is rebuilt.
- Directories written for an artifact come from ``scratch``. Each
  belongs to the artifact whose build made it: ``clear`` removes it
  with the artifact, and one ``atexit`` hook removes the rest.

``clear(spark, keep=...)`` drops every memoized kind not in ``keep``;
benchmarks and determinism checks call it before each run so the run
pays the real build cost.
"""

from __future__ import annotations

import atexit
import os
import shutil
import stat
import tempfile
from typing import Any, Callable

from pyspark.sql import SparkSession

# key -> (artifact, the scratch dirs its build made)
_ENTRIES: dict[tuple, tuple[Any, list[str]]] = {}
_SCRATCH: list[str] = []
# the scratch dirs of each build in progress, innermost last
_BUILDING: list[list[str]] = []


def fingerprint(path: str) -> tuple | None:
    """Content stamp of a file or a directory tree, without reading
    data: the sorted ``(relpath, size, mtime_ns)`` of every file under
    ``path``, recursively (partitioned tables nest part files in
    subdirectories). A single file costs one ``stat``. ``None`` when
    ``path`` does not exist locally, e.g. a remote URI."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISDIR(st.st_mode):
        return ((".", st.st_size, st.st_mtime_ns),)
    parts = []
    for dirpath, _, filenames in os.walk(path):
        for name in filenames:
            full = os.path.join(dirpath, name)
            fst = os.stat(full)
            parts.append((os.path.relpath(full, path), fst.st_size, fst.st_mtime_ns))
    return tuple(sorted(parts))


def get_or_build(
    kind: str,
    spark: SparkSession,
    path: str,
    build: Callable[..., Any],
    *extra: Any,
) -> Any:
    """``build(spark, path, *extra)``, memoized under ``(kind, spark,
    path, fingerprint(path), *extra)``. ``path`` is the input the
    artifact derives from (a fixture dir or one table). When it has no
    local fingerprint the artifact is built fresh on every call."""
    fp = fingerprint(path)
    if fp is None:
        return build(spark, path, *extra)
    key = (kind, spark, path, fp, *extra)
    if key not in _ENTRIES:
        _BUILDING.append([])
        try:
            artifact = build(spark, path, *extra)
        finally:
            dirs = _BUILDING.pop()
        _ENTRIES[key] = (artifact, dirs)
    return _ENTRIES[key][0]


def scratch(prefix: str) -> str:
    """A fresh temp dir for an artifact's files, removed when ``clear``
    drops the artifact being built, or at interpreter exit (artifacts
    are per-process, not durable tables)."""
    d = tempfile.mkdtemp(prefix=prefix)
    _SCRATCH.append(d)
    if _BUILDING:
        _BUILDING[-1].append(d)
    return d


@atexit.register
def _remove_scratch() -> None:
    for d in _SCRATCH:
        shutil.rmtree(d, ignore_errors=True)
    _SCRATCH.clear()


def clear(spark: SparkSession, keep: tuple[str, ...] = ()) -> None:
    """Drop every memoized artifact whose kind is not in ``keep``, and
    delete the scratch dirs its build made, then the session's cached
    relations, so the next call rebuilds.

    This invalidates every handle to a dropped artifact: a DataFrame
    built on one may read a deleted dir, so evaluate it before
    ``clear``, never after."""
    for key in [k for k in _ENTRIES if k[0] not in keep]:
        _, dirs = _ENTRIES.pop(key)
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)
            if d in _SCRATCH:
                _SCRATCH.remove(d)
    spark.catalog.clearCache()
