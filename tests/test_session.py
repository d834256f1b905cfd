"""Session sizing: get_spark's defaults follow the CPUs the process may use."""

from __future__ import annotations

import os


def _built_conf(monkeypatch) -> dict[str, str]:
    """get_spark's builder options, without starting a session."""
    from pyspark.sql import SparkSession

    from apmbackend_spark.session import get_spark

    monkeypatch.setattr(
        SparkSession.Builder, "getOrCreate", lambda self: dict(self._options)
    )
    return get_spark("session-sizing")


def test_default_master_is_the_affinity_cpu_count(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    n = len(os.sched_getaffinity(0))
    conf = _built_conf(monkeypatch)
    assert conf["spark.master"] == f"local[{n}]"
    assert conf["spark.sql.shuffle.partitions"] == str(n)


def test_env_cpu_count_overrides_the_default(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    conf = _built_conf(monkeypatch)
    assert conf["spark.master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "3"
