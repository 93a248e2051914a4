"""The session factory's default master (verified_sources_spark.session)."""

from __future__ import annotations

import os

from verified_sources_spark import session


def test_default_master_follows_cpu_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.default_master() == f"local[{len(os.sched_getaffinity(0))}]"
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 2, 5})
    assert session.default_master() == "local[3]"


def test_cpu_count_variable_overrides_affinity(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "7")
    assert session.default_master() == "local[7]"
