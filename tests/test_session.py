"""The session factory's defaults (verified_sources_spark.session): master
and driver heap."""

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


def test_driver_heap_is_half_the_host_memory_capped(monkeypatch):
    gib = 2**30
    monkeypatch.setattr(session, "host_memory_bytes", lambda: 15 * gib)
    assert session.default_driver_memory() == f"{15 * 1024 // 2}m"
    monkeypatch.setattr(session, "host_memory_bytes", lambda: 128 * gib)
    assert session.default_driver_memory() == "16384m"
    monkeypatch.setattr(session, "host_memory_bytes", lambda: gib)
    assert session.default_driver_memory() == "1024m"
    monkeypatch.setattr(session, "host_memory_bytes", lambda: None)
    assert session.default_driver_memory() == "16384m"


def test_host_memory_reads_a_positive_size():
    mem = session.host_memory_bytes()
    assert mem is None or mem > 0
