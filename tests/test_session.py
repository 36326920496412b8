"""Session defaults sized from the machine."""

from __future__ import annotations

from pmcanalysis_spark.session import default_driver_memory


def _meminfo(tmp_path, kb):
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {kb} kB\nMemFree:        1234 kB\n")
    return str(p)


def test_driver_memory_is_half_of_memtotal(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, 16_000_000)) == "7812m"


def test_driver_memory_is_capped_at_24g(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, 256 * 1024 * 1024)) == "24576m"


def test_driver_memory_without_meminfo_is_the_cap(tmp_path):
    assert default_driver_memory(str(tmp_path / "missing")) == "24576m"
