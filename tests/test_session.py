"""Host sizing of the session factory: the core count and driver heap
fall back to what the host offers when the overrides are unset."""

from __future__ import annotations

from real_time_event_streaming_pipeline_spark import session

GIB = 1024**3


def test_host_cpus_falls_back_to_affinity_mask(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 2, 5})
    assert session.host_cpus() == 3
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "7")
    assert session.host_cpus() == 7


def test_driver_memory_falls_back_to_share_of_ram(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)

    def host_with(ram):
        sysconf = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": ram // 4096}
        monkeypatch.setattr(session.os, "sysconf", sysconf.__getitem__)
        return session.driver_memory()

    assert host_with(15 * GIB) == "6144m"  # 40% of RAM
    assert host_with(64 * GIB) == "16384m"  # capped at 16g
    assert host_with(1 * GIB) == "1024m"  # floor: Spark's driver needs a heap
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert host_with(64 * GIB) == "3g"
