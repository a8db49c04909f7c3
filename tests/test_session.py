"""Session defaults fit the host when no env override is set."""

from __future__ import annotations

import os

from stockpulse_batch_realtime_etl_spark.session import default_conf


def _mb(size: str) -> int:
    units = {"k": 2**-10, "m": 1, "g": 2**10, "t": 2**20}
    return int(float(size[:-1]) * units[size[-1].lower()])


def test_default_conf_fits_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    conf = default_conf()
    usable = len(os.sched_getaffinity(0))
    assert conf["spark.master"] == f"local[{usable}]"
    assert conf["spark.sql.shuffle.partitions"] == str(usable)
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    assert _mb(conf["spark.driver.memory"]) < ram_mb
    assert conf["spark.sql.streaming.stateStore.providerClass"].endswith(
        ".HDFSBackedStateStoreProvider"
    )


def test_env_overrides_win(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    conf = default_conf()
    assert conf["spark.master"] == "local[3]"
    assert conf["spark.driver.memory"] == "2g"
