"""Session defaults fit the machine they start on."""

import os

import pytest

from python_etl_rest_api_spark.session import default_driver_memory


def _mem_total_bytes():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024


def _bytes(size):
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    return int(size[:-1]) * units[size[-1].lower()]


def test_default_heap_fits_physical_memory():
    assert 0 < _bytes(default_driver_memory()) <= _mem_total_bytes()


def test_default_heap_is_half_of_mem_total(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       16384000 kB\nMemFree: 1 kB\n")
    assert default_driver_memory(str(meminfo)) == "8000m"
    assert default_driver_memory(str(tmp_path / "absent")) == "4g"


def test_session_heap_fits_physical_memory(spark):
    if os.environ.get("SPARK_DRIVER_MEM"):
        pytest.skip("SPARK_DRIVER_MEM overrides the default")
    heap = spark.sparkContext.getConf().get("spark.driver.memory")
    assert _bytes(heap) <= _mem_total_bytes()
