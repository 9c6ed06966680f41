"""Spark-free checks of the session defaults."""

import os

import pytest

from tfx_addons_feast_examplegen_spark.session import local_cpus


def test_local_cpus_defaults_to_usable_cores(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert local_cpus() == len(os.sched_getaffinity(0))


def test_local_cpus_reads_the_variable(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cpus() == 3


@pytest.mark.parametrize("raw", ["", "four", "2.5", "0", "-1"])
def test_local_cpus_rejects_bad_values(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        local_cpus()
