"""The session factory's core count and the one place that reads it."""

from __future__ import annotations

import os
import pathlib

from beauty_lakehouse_spark import session

PACKAGE = pathlib.Path(session.__file__).parent


def test_local_cores_defaults_to_affinity(monkeypatch):
    """Without ``SPARK_GRAFT_CPUS`` a local session gets the CPUs this
    process may run on, not a fixed count."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.local_cores() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.local_cores() == 3


def test_default_parallelism_is_read_only_in_session():
    """Every partition width is sized through ``session.cores``, so no
    other module of the package reads the session's parallelism."""
    readers = sorted(
        str(p.relative_to(PACKAGE))
        for p in PACKAGE.rglob("*.py")
        if "defaultParallelism" in p.read_text()
    )
    assert readers == ["session.py"]
