"""Session defaults fit the host (no Spark started): the driver heap comes
from the machine's RAM and local[N] from the cores this process may use,
while the SPARK_GRAFT_* environment overrides still win."""

from __future__ import annotations

import os

import pytest

from search_engine_spark import session


class _Recorder:
    """Stands in for SparkSession.builder: records every config call."""

    def __init__(self):
        self.conf: dict[str, str] = {}

    def appName(self, name):
        return self

    def master(self, m):
        self.conf["master"] = m
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        return self.conf


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return kib * 1024


def _bytes(size: str) -> int:
    return int(size[:-1]) << {"m": 20, "g": 30}[size[-1]]


@pytest.fixture
def conf(monkeypatch):
    for k in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"):
        monkeypatch.delenv(k, raising=False)
    monkeypatch.setattr(session.SparkSession, "builder", _Recorder())
    return lambda: session.get_spark()


@pytest.mark.skipif(not os.path.exists("/proc/meminfo"), reason="needs /proc/meminfo")
def test_default_driver_heap_below_physical_ram(conf):
    heap = _bytes(conf()["spark.driver.memory"])
    assert 0 < heap < _mem_total_bytes()
    assert heap <= 48 << 30


def test_default_local_cores_follow_affinity(conf):
    assert conf()["master"] == f"local[{len(os.sched_getaffinity(0))}]"


def test_env_overrides_win(conf, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    got = conf()
    assert got["spark.driver.memory"] == "3g" and got["master"] == "local[2]"


@pytest.mark.parametrize("kib,want", [(15 * 2**20, "6144m"), (128 * 2**20, "49152m")])
def test_heap_is_forty_percent_capped_at_48g(tmp_path, kib, want):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(f"MemTotal:       {kib} kB\nMemFree:        1 kB\n")
    assert session._default_driver_mem(str(meminfo)) == want
