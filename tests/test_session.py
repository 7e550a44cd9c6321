"""Session defaults derived from the host: cores and driver heap."""

from __future__ import annotations

import os

from etl_end_to_end_airflow_bigquery_spark import session


def test_local_cpus_env_wins_else_affinity(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "7")
    assert session.local_cpus() == "7"
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert session.local_cpus() == str(len(os.sched_getaffinity(0)))


def _fake_host(monkeypatch, gib):
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gib * 2**30 // 4096}
    monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)


def test_driver_mem_is_half_of_ram_capped_at_48g(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    _fake_host(monkeypatch, 16)
    assert session._default_driver_mem() == "8192m"
    _fake_host(monkeypatch, 512)
    assert session._default_driver_mem() == f"{48 * 1024}m"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session._default_driver_mem() == "3g"
