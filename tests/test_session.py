"""The driver heap default and its guard; no JVM is started."""

from __future__ import annotations

import os

import pytest

from beavers_spark import session
from beavers_spark.session import driver_memory

PAGE = 4096
PAGES = 4 << 18  # 4 GiB of 4 KiB pages


@pytest.fixture()
def four_gib(monkeypatch):
    sizes = {"SC_PAGE_SIZE": PAGE, "SC_PHYS_PAGES": PAGES}
    monkeypatch.setattr(os, "sysconf", lambda name: sizes[name])
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    return monkeypatch


def test_default_is_half_of_physical_memory(four_gib):
    assert driver_memory() == "2048m"


@pytest.mark.parametrize(
    "value", ["3g", "4g", "4096m", "512M", "1024", "512b", "4294967296b", "2gb"]
)
def test_setting_within_physical_memory_is_kept(four_gib, value):
    four_gib.setenv("SPARK_GRAFT_DRIVER_MEM", value)
    assert driver_memory() == value


@pytest.mark.parametrize("value", ["5g", "4097m", "1t", "8192", "4294967297b"])
def test_setting_above_physical_memory_raises(four_gib, value):
    four_gib.setenv("SPARK_GRAFT_DRIVER_MEM", value)
    with pytest.raises(ValueError, match="SPARK_GRAFT_DRIVER_MEM.*exceeds"):
        driver_memory()


@pytest.mark.parametrize("value", ["", "lots", "4 gigs", "-1g", "4bb"])
def test_malformed_setting_raises(four_gib, value):
    four_gib.setenv("SPARK_GRAFT_DRIVER_MEM", value)
    with pytest.raises(ValueError, match="SPARK_GRAFT_DRIVER_MEM"):
        driver_memory()


class _Builder:
    """Records what ``get_spark`` configures instead of starting a JVM."""

    def __init__(self):
        self.conf = {}

    def master(self, _):
        return self

    def appName(self, _):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        class _Context:
            def setLogLevel(self, _):
                pass

        class _Spark:
            sparkContext = _Context()

        return _Spark()


@pytest.fixture()
def builder(four_gib):
    b = _Builder()
    four_gib.setattr(session.SparkSession, "builder", b)
    return b


def test_explicit_driver_memory_skips_the_environment(builder, four_gib):
    four_gib.setenv("SPARK_GRAFT_DRIVER_MEM", "5g")
    session.get_spark(extra_conf={"spark.driver.memory": "2g"})
    assert builder.conf["spark.driver.memory"] == "2g"


def test_session_takes_the_default_heap(builder):
    session.get_spark()
    assert builder.conf["spark.driver.memory"] == "2048m"
