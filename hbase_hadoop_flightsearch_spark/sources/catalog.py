"""Parquet-backed table catalog.

Replaces the reference's two sources — HDFS text scan
(Secondary/Main.java:199) and HBase full-table scan (HCompute/Main.java:50-51)
— with schema'd Parquet reads. Because the reference stores random-UUID
rowkeys (HPopulate/Main.java:97-98) its ONLY access pattern is a full scan;
Parquet + Catalyst instead give free column pruning and predicate pushdown
(visible as PushedFilters/ReadSchema in .explain).
"""

from __future__ import annotations

import os
from typing import Callable, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..schemas import TABLE_NAMES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def events_ts_codec(
    spark: SparkSession, path: str
) -> Tuple[StructType, Callable[[DataFrame], DataFrame]]:
    """Inspect the events parquet footer and return (raw_schema, normalize).

    events.parquet has shipped with two physical ts encodings:
    TIMESTAMP(NANOS) (Spark's reader rejects it — read nanos as long,
    truncate to micros with integer DIV exactly like DuckDB), and
    TIMESTAMP(MICROS) without UTC adjustment (read as TIMESTAMP_NTZ).
    Both the batch reader (`load_table`) and the streaming file-source
    readers (streaming/windows.py, streaming/rollup.py) MUST use this one
    helper so the two paths can never diverge on encoding again.

    Correctness of the NTZ branch (and of the inferTimestampNTZ=false
    fallback, where the column arrives as TimestampType and the cast is a
    no-op) depends on the session timezone being pinned to UTC here: an
    NTZ->LTZ cast preserves the wall-clock value only under UTC, which is
    what every downstream window/epoch expression and DuckDB oracle assume.

    Preconditions (footer sniffing reads the source once at construction):
      * A directory MAY be empty at stream start — the codec then falls
        back to the explicit long-nanos schema (the driver testdata's
        shipped encoding) and normalizes accordingly; files that later
        arrive with the OTHER encoding need a restart after the first
        file exists.
      * One encoding per directory: the inferred schema is applied to
        every file, so a directory mixing nanos-long and NTZ files would
        mis-decode whichever minority encoding the footer sample missed.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    try:
        raw_schema = spark.read.parquet(path).schema
    except Exception:
        # Empty/not-yet-existing stream source dir: no footer to sniff.
        # Assume the long-nanos encoding (the historical shipped form and
        # what the streaming fixtures write; see tests/test_streaming.py).
        from ..schemas import TESTDATA_SCHEMAS
        from pyspark.sql.types import StructField

        base = TESTDATA_SCHEMAS["events"]
        raw_schema = StructType(
            [
                StructField("ts", LongType(), f.nullable)
                if f.name == "ts"
                else f
                for f in base.fields
            ]
        )
    if isinstance(raw_schema["ts"].dataType, LongType):

        def normalize(df: DataFrame) -> DataFrame:
            return df.withColumn(
                "ts", F.expr("timestamp_micros(ts DIV 1000)")
            )

    else:

        def normalize(df: DataFrame) -> DataFrame:
            # NTZ -> LTZ under the UTC session zone preserves wall value.
            return df.withColumn("ts", F.col("ts").cast("timestamp"))

    return raw_schema, normalize


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table. Schema comes from the parquet footer (it
    matches TESTDATA_SCHEMAS; asserting here would add a blocking footer
    read per call)."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; one of {TABLE_NAMES}")
    # Timestamp semantics contract: every timestamp-bearing query (windows,
    # date parts, epoch conversions) and every DuckDB oracle assumes UTC.
    # Our session factory sets this, but the external driver's session may
    # not — pin it at the data boundary (dynamic conf, safe to set here).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        path = table_path(sf_dir, name)
        # Read with the sniffed schema: inferring it again is a job.
        raw_schema, normalize = events_ts_codec(spark, path)
        return normalize(spark.read.schema(raw_schema).parquet(path))
    return spark.read.parquet(table_path(sf_dir, name))


def widen_if_narrow(df: DataFrame) -> DataFrame:
    """Round-robin repartition to cluster width when the plan is narrower.

    The CPU-heavy per-row stages (Python codec decodes, shingling,
    per-doc regex scoring) inherit the SCAN's partitioning, and a small
    single-file corpus scans as ONE partition — the whole stage then runs
    single-task while the rest of the cluster idles (r15, guide §2.5
    input skew). At real scale the scan already yields
    maxPartitionBytes-sized splits and this is a no-op. Use immediately
    BEFORE the expensive stage; results must be (and are, for every call
    site) partitioning-invariant.

    Call-site discipline (r15): every use is justified by an interleaved
    A/B at sf0.1 — the exchange + 32-task scheduling costs ~0.15-0.3 s
    locally, so only stages whose single-task runtime exceeds that keep
    the widen (JPEG entropy decode 2.44->0.48 s, GIF LZW 1.25->0.57,
    PNG 1.00->0.46, AVI frames 0.67->0.49, integrity audit 1.01->0.75,
    scene change 1.60->1.19, corpus-prep scoring, shingling). Trivial
    decoders measured slower widened (BMP stats 0.47->0.64, WAV
    0.45->0.60, EXIF, VAD, PPM, phash 1.66->2.70) and stay narrow."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so spark.sql() queries work."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
