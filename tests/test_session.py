"""Session sizing: the pre-touched driver heap follows the session's cores
(512 MB each), within half of the available memory, and the core count
comes from the machine (no JVM is started here)."""

from __future__ import annotations

import pytest

from flinkrealtimedatawarehouse_spark import session

GiB = 1024**3


def _mb(size: str) -> int:
    assert size.endswith("m"), size
    return int(size[:-1])


@pytest.mark.parametrize("avail_gib", [2, 15.7, 64])
def test_derived_heap_fits_half_of_available(monkeypatch, avail_gib):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    avail = int(avail_gib * GiB)
    for cpus in (2, 4, 32, 128):
        heap_mb = _mb(session.driver_memory(avail, cpus))
        assert heap_mb * 1024 * 1024 <= avail // 2
        assert heap_mb <= 16 * 1024


@pytest.mark.parametrize("avail_gib", [32, 64, 512])
def test_derived_heap_is_16g_with_32g_available(monkeypatch, avail_gib):
    # 32 cores x 512 MB is the round-14 heap; more cores do not raise it.
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    assert _mb(session.driver_memory(avail_gib * GiB, 32)) == 16 * 1024
    assert _mb(session.driver_memory(avail_gib * GiB, 64)) == 16 * 1024


def test_derived_heap_is_512m_per_core(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    assert session.driver_memory(int(15.7 * GiB), 4) == "2048m"
    assert session.driver_memory(int(15.7 * GiB), 8) == "4096m"
    # the fence-race racers run at 2 cores
    assert session.driver_memory(int(15.7 * GiB), 2) == "1024m"


def test_half_of_available_caps_the_per_core_heap(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    assert session.driver_memory(8 * GiB, 32) == "4096m"
    assert session.driver_memory(3 * GiB, 4) == "1536m"


def test_derived_heap_has_a_floor(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    assert _mb(session.driver_memory(256 * 1024 * 1024, 4)) == 1024
    assert _mb(session.driver_memory(64 * GiB, 1)) == 1024


def test_explicit_driver_memory_wins(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert session.driver_memory(64 * GiB) == "3g"
    assert session.driver_memory(2 * GiB) == "3g"
    assert session.driver_memory(64 * GiB, 32) == "3g"
    assert session.driver_memory(2 * GiB, 2) == "3g"


def test_default_reads_the_machine(monkeypatch):
    # cores from default_cpus(), memory from available_memory_bytes()
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.available_memory_bytes() > 0
    monkeypatch.setattr(session, "available_memory_bytes", lambda: 6 * GiB)
    monkeypatch.setattr(session.os, "cpu_count", lambda: 4)
    assert session.driver_memory() == "2048m"
    monkeypatch.setattr(session.os, "cpu_count", lambda: 32)
    assert session.driver_memory() == "3072m"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    assert session.driver_memory() == "1024m"


def test_cpus_default_to_the_machine(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(session.os, "cpu_count", lambda: 6)
    assert session.default_cpus() == 6
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    assert session.default_cpus() == 2


def test_session_pretouches_a_heap_of_driver_memory(spark):
    conf = spark.sparkContext.getConf()
    mem = conf.get("spark.driver.memory")
    opts = conf.get("spark.driver.extraJavaOptions").split()
    assert f"-Xms{mem}" in opts
    assert "-XX:+AlwaysPreTouch" in opts
