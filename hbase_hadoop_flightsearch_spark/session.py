"""SparkSession factory.

Defaults chosen for the 100 TB posture (AQE everywhere, partial-agg friendly
shuffle sizing, Arrow for any pandas exchange) while remaining correct on
local[N] test runs. The reference hard-codes 10 reducers
(Secondary/Main.java:198); here parallelism is a tuning knob owned by AQE.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def graft_cpus() -> int:
    """Local core count: ``$SPARK_GRAFT_CPUS`` as a positive int, else
    ``os.cpu_count()``. A malformed value raises ValueError naming the
    variable."""
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    if raw is None:
        return os.cpu_count() or 1
    try:
        cpus = int(raw)
    except ValueError:
        cpus = 0
    if cpus < 1:
        raise ValueError(
            f"SPARK_GRAFT_CPUS must be a positive integer, got {raw!r}"
        )
    return cpus


def get_spark(
    app_name: str = "hbase-hadoop-flightsearch-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    On a real cluster, ``master`` is left to spark-submit; locally it
    defaults to ``local[N]`` with N from ``graft_cpus()``, which is
    checked before any session is built.
    """
    cpus = graft_cpus()
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cpus}]")

    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))

    conf = {
        # AQE: runtime re-planning — partition coalescing, skew-join split,
        # dynamic broadcast. Non-negotiable at scale.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Initial shuffle width; AQE coalesces down, so err high on clusters.
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # Arrow for pandas UDF / toPandas exchange (vectorized, not per-row).
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Broadcast threshold: dims (region/nation/supplier/part at test SF)
        # should broadcast; explicit F.broadcast() hints are still used on
        # known-small sides so plans survive stale stats at 100 TB.
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # Parquet scan batching.
        "spark.sql.parquet.enableVectorizedReader": "true",
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        # Keep event timestamps deterministic across engines.
        "spark.sql.session.timeZone": "UTC",
        # Quiet local runs.
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        # Generated-class cache. A static conf: the JVM-wide LRU is sized
        # at its first use, and the driver and each executor keep their
        # own. Spark's default of 100 entries is smaller than one pass of
        # a workload here, so a repeated pass evicted every class before
        # its reuse: Janino recompiled (and HotSpot re-JITted) about 170
        # classes per warm perfbench corpus_prep pass. Distinct classes
        # per session, measured on 4 cores: 152 for perfbench corpus_prep,
        # ~150 for reference_sql (plus 2 per ingest, as uuid() puts a
        # random seed in the generated source), 313 for the bench.py
        # headline suite at sf0.1. 2000 holds the largest with 6x
        # headroom. The cost is metaspace: corpus_prep's 152 classes hold
        # ~0.4 MB after a full GC (against a 1-entry cache), ~3 KB each,
        # so a full cache is ~6 MB per JVM.
        "spark.sql.codegen.cache.maxEntries": "2000",
        # Name generated classes without the codegen stage id, so the
        # same operator pipeline planned under another stage id (another
        # AQE stage, loop round or query) is the same source text and
        # hits the cache instead of compiling a renamed copy. With ids,
        # corpus_prep compiles 180 distinct classes instead of 152, and
        # its first warm pass still compiles a few.
        "spark.sql.codegen.useIdInClassName": "false",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
