"""The session's default driver heap follows the host: min(24g, 60 % of
MemTotal), and 24g when MemTotal cannot be read. No Spark session."""

from __future__ import annotations

from bc_proj3_spark.session import default_driver_memory


def _meminfo(tmp_path, text: str) -> str:
    path = tmp_path / "meminfo"
    path.write_text(text)
    return str(path)


def test_heap_is_60_percent_of_memtotal(tmp_path):
    # a 16 GB host: 16,384,000 kB * 0.6 = 9,830,400 kB = 9600 MiB
    path = _meminfo(tmp_path, "MemTotal:       16384000 kB\nMemFree:  1000 kB\n")
    assert default_driver_memory(path) == "9600m"


def test_heap_is_read_from_the_memtotal_line(tmp_path):
    path = _meminfo(tmp_path, "MemFree:  1000 kB\nMemTotal:  2048000 kB\n")
    assert default_driver_memory(path) == "1200m"


def test_heap_is_capped_at_24g(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, "MemTotal: 67108864 kB\n")) == "24g"
    # 60 % of 40 GiB is exactly 24 GiB
    assert default_driver_memory(_meminfo(tmp_path, "MemTotal: 41943040 kB\n")) == "24g"


def test_heap_falls_back_to_24g_when_memtotal_is_unreadable(tmp_path):
    assert default_driver_memory(str(tmp_path / "missing")) == "24g"
    assert default_driver_memory(_meminfo(tmp_path, "MemFree: 1000 kB\n")) == "24g"
    assert default_driver_memory(_meminfo(tmp_path, "MemTotal: many kB\n")) == "24g"
    assert default_driver_memory(_meminfo(tmp_path, "MemTotal:\n")) == "24g"
