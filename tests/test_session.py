"""Session defaults come from the host unless the environment overrides
them."""

from __future__ import annotations

import os

from weather_data_ingestion_gcp_spark.session import (
    apply_runtime_confs,
    default_cpus,
    default_driver_mem,
)


def test_env_overrides_win(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "5g")
    assert default_cpus() == 3
    assert default_driver_mem() == "5g"


def test_defaults_come_from_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert default_cpus() == os.cpu_count()
    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    mem = default_driver_mem()
    assert mem.endswith("m")
    assert int(mem[:-1]) == max(total_mb // 2, 1024)


def test_apply_runtime_confs_sizes_shuffle_to_the_host(spark, monkeypatch):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    try:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
        apply_runtime_confs(spark)
        assert spark.conf.get(key) == str(os.cpu_count())
        monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
        apply_runtime_confs(spark)
        assert spark.conf.get(key) == "3"
    finally:
        spark.conf.set(key, before)
