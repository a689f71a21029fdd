"""session.py: the local core count comes from $SPARK_GRAFT_CPUS, parsed
once and checked before any SparkSession is built."""

from __future__ import annotations

import os

import pytest

from hbase_hadoop_flightsearch_spark.session import get_spark, graft_cpus


def test_graft_cpus_defaults_to_machine_cores(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert graft_cpus() == (os.cpu_count() or 1)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert graft_cpus() == 3


@pytest.mark.parametrize("raw", ["", "four", "2.5", "0", "-4"])
def test_malformed_graft_cpus_raises_before_session(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        graft_cpus()
    # get_spark checks first, so no session (and no JVM) is started
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        get_spark(app_name="malformed-cpus")
