"""Session sizing: with ``SPARK_GRAFT_CPUS`` unset, ``get_spark`` sizes
the local master and the shuffle partitions from the CPUs the process
may run on, not from a constant written for one machine; the test
suite sizes its JVM heap from the host's memory and stops at once when
the JVM dies."""

from __future__ import annotations

import os
from types import SimpleNamespace

from pyspark.sql import SparkSession

from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark import (
    session,
)


def _built_options(monkeypatch) -> dict[str, str]:
    """The options ``get_spark`` hands the builder, without starting or
    touching a JVM (``getOrCreate`` is replaced by a recorder)."""
    seen: dict[str, str] = {}

    def record(builder):
        seen.update(builder._options)
        return SimpleNamespace(
            sparkContext=SimpleNamespace(setLogLevel=lambda level: None))

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", record)
    session.get_spark("sizing")
    return seen


def test_cpu_default_follows_cpu_affinity(monkeypatch):
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1, 2})
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    opts = _built_options(monkeypatch)
    assert opts["spark.master"] == "local[3]"
    assert opts["spark.sql.shuffle.partitions"] == "3"

    # the variable, read when the session is built, still wins
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
    opts = _built_options(monkeypatch)
    assert opts["spark.master"] == "local[5]"
    assert opts["spark.sql.shuffle.partitions"] == "5"


def test_test_heap_follows_host_memory(tmp_path):
    """The suite's JVM heap is 40% of ``MemTotal``, between 2g and the
    program's 48g, and unset where the host's memory is unreadable."""
    from .conftest import host_sized_heap

    def heap(kb: int | None) -> str | None:
        path = tmp_path / "meminfo"
        path.write_text("" if kb is None else
                        f"MemTotal:       {kb} kB\nMemFree:  1 kB\n")
        return host_sized_heap(str(path))

    assert heap(16456384) == "6g"      # a 16 GB host
    assert heap(256 * 1024 ** 2) == "48g"
    assert heap(2 * 1024 ** 2) == "2g"
    assert heap(None) is None
    assert host_sized_heap(str(tmp_path / "absent")) is None



def test_dead_jvm_is_named_once():
    """The suite's fail-fast check passes a live gateway and names the
    likely OOM kill for one that refuses connections."""
    from .conftest import dead_jvm_message

    def gateway(ping, code):
        return SimpleNamespace(proc=SimpleNamespace(poll=lambda: code),
                               jvm=SimpleNamespace(java=SimpleNamespace(
                                   lang=SimpleNamespace(System=SimpleNamespace(
                                       nanoTime=ping)))))

    def refuse():
        raise ConnectionRefusedError(111, "Connection refused")

    assert dead_jvm_message(gateway(lambda: 1, None)) is None
    msg = dead_jvm_message(gateway(refuse, -9))
    assert "exit code -9" in msg and "OOM" in msg
