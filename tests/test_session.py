"""SparkSession defaults."""

from __future__ import annotations

from data_quality_analyzer_spark import session as S


def test_driver_heap_default_is_capped_by_physical_memory(monkeypatch):
    """48g, or half of physical memory on a smaller machine."""
    conf = {"SC_PAGE_SIZE": 4096}
    monkeypatch.setattr(S.os, "sysconf", conf.__getitem__)
    conf["SC_PHYS_PAGES"] = (16 << 30) // 4096
    assert S.default_driver_mem() == "8192m"
    conf["SC_PHYS_PAGES"] = (96 << 30) // 4096
    assert S.default_driver_mem() == "48g"
    conf["SC_PHYS_PAGES"] = (512 << 30) // 4096
    assert S.default_driver_mem() == "48g"
