"""Session sizing (session.py): defaults come from the host, env vars win."""

import os

from gdal_spark.session import default_driver_memory, default_parallelism


def _meminfo_mb(field):
    with open("/proc/meminfo") as f:
        return next(int(ln.split()[1]) for ln in f if ln.startswith(field + ":")) // 1024


def test_defaults_sized_from_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert default_parallelism() == len(os.sched_getaffinity(0))
    mem = default_driver_memory()
    assert mem.endswith("m")
    # half of what is free leaves room for the Python workers; never
    # more than the host has
    assert 1024 <= int(mem[:-1]) <= max(1024, _meminfo_mb("MemTotal") // 2)


def test_env_vars_win(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "48g")
    assert default_parallelism() == 3
    assert default_driver_memory() == "48g"
