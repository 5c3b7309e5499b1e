"""Session defaults that are derived from the host."""

from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.session import (
    default_driver_memory,
)


def _meminfo(tmp_path, text):
    path = tmp_path / "meminfo"
    path.write_text(text)
    return str(path)


def test_driver_memory_is_half_of_memtotal(tmp_path):
    path = _meminfo(tmp_path, "MemTotal:       15728640 kB\n"
                              "MemFree:         1048576 kB\n")
    assert default_driver_memory(path) == "7680m"


def test_driver_memory_caps_at_16g(tmp_path):
    path = _meminfo(tmp_path, "MemTotal:       67108864 kB\n")
    assert default_driver_memory(path) == "16384m"


def test_driver_memory_falls_back_to_16g(tmp_path):
    assert default_driver_memory(str(tmp_path / "missing")) == "16g"
    assert default_driver_memory(_meminfo(tmp_path, "MemFree: 1 kB\n")) == "16g"
    assert default_driver_memory(_meminfo(tmp_path, "MemTotal: lots\n")) == "16g"
