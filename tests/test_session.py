"""Session defaults come from the host, not from constants (no Spark)."""

import os

from gdal_spark import session


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise AssertionError("no MemTotal in /proc/meminfo")


def test_host_defaults_size_from_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    cores, mem = session.host_defaults()
    assert cores == len(os.sched_getaffinity(0))
    assert mem.endswith("m")
    assert int(mem[:-1]) == min(16 * 1024, _mem_total_mb() // 2)


def test_host_defaults_environment_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_DRIVER_MEM", "2g")
    assert session.host_defaults() == (3, "2g")
