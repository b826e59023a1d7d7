"""Session defaults fit the host they run on."""

import os

from auth2wd_spark.session import default_cpus


def test_default_cpus_is_affinity_unless_overridden(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == len(os.sched_getaffinity(0)) >= 1
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3
