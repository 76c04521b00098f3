"""Tests for the SparkSession factory's defaults."""

from __future__ import annotations

import importlib
import os

from irstats2_spark import session


def test_default_cores_are_the_usable_cores_without_the_env_variable(monkeypatch):
    """Without SPARK_GRAFT_CPUS the session runs one thread per core this
    process may use (its affinity mask), not per core of the machine."""
    usable = (
        len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity")
        else os.cpu_count()
    )
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    try:
        assert importlib.reload(session).DEFAULT_CPUS == usable
        monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
        assert importlib.reload(session).DEFAULT_CPUS == 3
    finally:
        monkeypatch.undo()
        importlib.reload(session)
