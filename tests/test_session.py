"""SPARK_GRAFT_OFFHEAP parsing: off words and zero sizes disable the
off-heap pool, Spark sizes enable it, anything else fails fast."""

from __future__ import annotations

import pytest

from adenhq_hive_spark.session import _offheap_conf, get_spark


@pytest.mark.parametrize(
    "value", ["", "0", "0g", "0G", "off", "OFF", "false", "False", "no", " No "]
)
def test_offheap_disabled_values(monkeypatch, value):
    monkeypatch.setenv("SPARK_GRAFT_OFFHEAP", value)
    assert _offheap_conf() == {}


@pytest.mark.parametrize(
    "value, size",
    [("512m", "512m"), ("8g", "8g"), ("8G", "8g"), ("2048m", "2048m"), ("1gb", "1gb")],
)
def test_offheap_sizes_enable_the_pool(monkeypatch, value, size):
    monkeypatch.setenv("SPARK_GRAFT_OFFHEAP", value)
    assert _offheap_conf() == {
        "spark.memory.offHeap.enabled": "true",
        "spark.memory.offHeap.size": size,
    }


def test_offheap_default_is_8g(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_OFFHEAP", raising=False)
    assert _offheap_conf()["spark.memory.offHeap.size"] == "8g"


@pytest.mark.parametrize("value", ["yes", "on", "8 g", "1.5g", "-1g", "8x", "eight"])
def test_get_spark_rejects_bad_offheap(monkeypatch, value):
    monkeypatch.setenv("SPARK_GRAFT_OFFHEAP", value)
    with pytest.raises(ValueError, match="SPARK_GRAFT_OFFHEAP"):
        get_spark("offheap-validation")
