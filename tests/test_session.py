"""``session.usable_cores``: the core count local mode is sized from."""

from __future__ import annotations

import os

from db2pq_spark import session


class TestUsableCores:
    def test_affinity_mask_not_host_cores(self, monkeypatch):
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
        monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 3},
                            raising=False)
        assert session.usable_cores() == 2

    def test_env_wins(self, monkeypatch):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
        monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0},
                            raising=False)
        assert session.usable_cores() == 3

    def test_no_affinity_api_falls_back_to_cpu_count(self, monkeypatch):
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
        monkeypatch.delattr(os, "sched_getaffinity", raising=False)
        monkeypatch.setattr(os, "cpu_count", lambda: 5)
        assert session.usable_cores() == 5
