"""The default session is sized from the host: cores from the CPU
count and a driver heap of ~60% of MemTotal, each overridable by its
existing environment variable."""

from __future__ import annotations

import io

from mediawiki_to_notion_spark import session

MEMINFO = "MemTotal:       16000000 kB\nMemFree:         8000000 kB\n"


def test_cores_default_to_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(session.os, "cpu_count", lambda: 6)
    assert session.host_cpus() == 6
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.host_cpus() == 3


def test_driver_memory_defaults_to_a_share_of_ram(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    monkeypatch.setattr(session, "open",
                        lambda *a, **k: io.StringIO(MEMINFO), raising=False)
    assert session.host_driver_memory() == f"{16000000 * 6 // 10 // 1024}m"
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "2g")
    assert session.host_driver_memory() == "2g"
