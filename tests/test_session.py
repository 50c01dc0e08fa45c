"""Session defaults that depend on the host."""

import os

from aml_entity_resolution_assignment_spark.session import default_driver_memory


def test_default_driver_memory_fits_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    mem = default_driver_memory()
    assert mem.endswith("m")
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    assert 0 < int(mem[:-1]) <= min(phys_mb, 64 * 1024)


def test_driver_memory_env_set_after_import_is_honoured(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert default_driver_memory() == "3g"
