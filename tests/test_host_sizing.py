"""Session defaults come from the host: the driver heap from physical memory
or a lower cgroup memory limit, the core count from the CPU affinity mask;
the env overrides still win."""

import os

from tsprofiler_spark import session


def test_driver_memory_is_half_of_physical_memory(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session, "CGROUP_MEMORY_LIMITS", ())
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    got = session.default_driver_memory()
    assert got.endswith("g")
    gib = int(got[:-1])
    assert 1 <= gib <= 32
    assert gib << 30 <= max(total // 2, 1 << 30)


def test_driver_memory_follows_a_lower_cgroup_limit(monkeypatch, tmp_path):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    unset, limited = tmp_path / "v2.max", tmp_path / "v1.limit"
    unset.write_text("max\n")
    limited.write_text(f"{4 << 30}\n")
    monkeypatch.setattr(session, "CGROUP_MEMORY_LIMITS", (str(unset), str(limited)))
    assert session.usable_memory() == min(
        4 << 30, os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    )
    assert session.default_driver_memory() == f"{session.usable_memory() // 2 >> 30}g"


def test_driver_memory_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert session.default_driver_memory() == "3g"


def test_default_cpus_follow_affinity_or_override():
    if os.environ.get("SPARK_GRAFT_CPUS"):
        assert session.DEFAULT_CPUS == int(os.environ["SPARK_GRAFT_CPUS"])
    else:
        assert session.DEFAULT_CPUS == len(os.sched_getaffinity(0))
