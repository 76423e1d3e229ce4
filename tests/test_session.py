"""Session factory resources: the defaults get_spark uses when the
SPARK_GRAFT_* env vars are unset must fit the host it runs on."""

from __future__ import annotations

import os

from data_framework_spark import session


def test_unset_resource_defaults_fit_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    cpus, mem = session._resources()
    assert 1 <= int(cpus) <= len(os.sched_getaffinity(0))
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert mem.endswith("m")
    assert 0 < int(mem[:-1]) * 2**20 <= phys


def test_env_vars_override_resource_defaults(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")
    assert session._resources() == ("3", "1g")
