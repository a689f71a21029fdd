"""session.py: the local core count comes from $SPARK_GRAFT_CPUS, parsed
once and checked before any SparkSession is built; the standard config
compiles each generated class once per JVM."""

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


def test_repeated_corpus_prep_cycle_compiles_nothing(spark, sf_smoke):
    """A second run of the corpus_prep ops reuses every generated class:
    the codegen cache holds them all and no class name carries a stage
    id (the default 100-entry cache recompiled ~160 per cycle)."""
    from bench import compile_counters
    from hbase_hadoop_flightsearch_spark.plans.registry import load_all
    from perfbench.workloads import WORKLOADS

    registry = load_all()
    ops = [registry[name] for name in WORKLOADS["corpus_prep"].ops]

    def janino_compiles() -> int:
        return compile_counters(spark)[0]

    def cycle() -> int:
        before = janino_compiles()
        for q in ops:
            q.fn(spark, sf_smoke).write.format("noop").mode("overwrite").save()
        return janino_compiles() - before

    cycle()
    assert janino_compiles() > 0  # the counter is live
    assert cycle() == 0
