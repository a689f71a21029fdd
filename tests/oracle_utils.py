"""Mini-driver: run a registry query on Spark and its oracle on DuckDB over
the same parquet tables, and compare order-insensitively.

Mirrors the external driver's check (row count + column names + value hash,
columns sorted by name, rows unordered) but compares actual values, which is
strictly stronger than a hash match.
"""

from __future__ import annotations

import datetime
import math

import duckdb

from hbase_hadoop_flightsearch_spark.schemas import TABLE_NAMES


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    import os

    con = duckdb.connect()
    # Optional resource caps for harness runs (tools/sweep_sf01.py sets
    # these for its children): a runaway oracle replay then dies ALONE
    # with a loud per-name error instead of exhausting the box — the
    # r12 5x sweep lost a whole chunk to one >45 GB temp spill.
    mem = os.environ.get("SWEEP_DUCK_MEM")
    if mem:
        con.execute(f"SET memory_limit = '{mem}'")
    tmp = os.environ.get("SWEEP_DUCK_TMP")
    if tmp:
        con.execute(f"SET temp_directory = '{tmp}'")
    # DuckDB prints a progress bar to STDOUT (no trailing newline) for
    # long queries; in the sf0.1 sweep it glued itself onto the child's
    # "OK <name>" lines and the parent's startswith parse silently
    # dropped three names (r9). Harness output must stay machine-
    # parseable, so the bar is off for every oracle connection.
    con.execute("SET enable_progress_bar = false")
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def _norm_value(v):
    if v is None:
        return ("null",)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, (int,)):
        # Deliberately NOT normalized to float: the external driver's
        # pandas-rendered hash distinguishes int64 "2" from float64 "2.0"
        # (the r4 events_retention_cohorts escape), so the local gate must
        # be at least as strict.
        return ("i", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("nan",)
        # floats in query outputs are pre-rounded by the queries themselves;
        # normalize through a 9-digit round to absorb repr noise only.
        return ("f", round(v, 9))
    if isinstance(v, datetime.datetime):
        return ("t", v.replace(tzinfo=None).isoformat())
    if isinstance(v, datetime.date):
        return ("t", v.isoformat())
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_norm_value(x) for x in v))
    if isinstance(v, (bytes, bytearray)):
        return ("y", bytes(v).hex())
    return ("s", str(v))


def _spark_type_class(dt: str) -> str:
    """Collapse a Spark simpleString dtype to a comparison class."""
    dt = dt.lower()
    if dt.startswith("decimal"):
        return "decimal"
    if dt in ("tinyint", "smallint", "int", "integer", "bigint", "long"):
        return "int"
    if dt in ("float", "double"):
        return "float"
    if dt == "boolean":
        return "bool"
    if dt == "string":
        return "str"
    if dt == "date":
        return "date"
    if dt.startswith("timestamp"):
        return "timestamp"
    if dt.startswith("array"):
        return "list"
    if dt == "binary":
        return "bytes"
    return "other"


def _duck_type_class(dt: str) -> str:
    """Collapse a DuckDB DESCRIBE type to the same comparison classes."""
    dt = str(dt).upper().strip()
    if dt.endswith("[]"):
        return "list"
    if dt.startswith("DECIMAL"):
        return "decimal"
    if dt in (
        "TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
        "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT",
    ):
        return "int"
    if dt in ("FLOAT", "DOUBLE", "REAL"):
        return "float"
    if dt == "BOOLEAN":
        return "bool"
    if dt == "VARCHAR":
        return "str"
    if dt == "DATE":
        return "date"
    if dt.startswith("TIMESTAMP"):
        return "timestamp"
    if dt == "BLOB":
        return "bytes"
    return "other"


def assert_type_classes_match(query, spark_schema, duck_desc) -> None:
    """Assert per-column type-class equality (int vs float vs bool vs str vs
    date/timestamp) between the Spark schema and DuckDB DESCRIBE output.

    The external driver hashes pandas-rendered values, so a Spark BIGINT "2"
    against a DuckDB DOUBLE "2.0" is a driver-side hash fail even when
    fetchall() returns equal Python numbers (the r4 events_retention_cohorts
    escape, VERDICT r4 #2). This catches the whole class at schema level.
    """
    spark_classes = {
        f.name: _spark_type_class(f.dataType.simpleString())
        for f in spark_schema.fields
    }
    duck_classes = {row[0]: _duck_type_class(row[1]) for row in duck_desc}
    mismatches = {
        name: (spark_classes[name], duck_classes.get(name))
        for name in spark_classes
        if spark_classes[name] != duck_classes.get(name)
    }
    assert not mismatches, (
        f"{query.name}: Spark-vs-DuckDB type-class mismatch "
        f"{mismatches} — the driver's pandas hash renders these "
        "differently even when values are numerically equal; align the "
        "oracle's types (CAST) with the Spark schema"
    )


def _normalize(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_value(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def compare_query_to_oracle(spark, query, sf_dir: str) -> None:
    """Assert the Spark result of `query` matches its DuckDB oracle.

    Oracle-tier selection (VERDICT r14 #1): when SWEEP_ORACLE_TIER=scale
    is set (by tools/sweep_sf01.py for sf0.1-class corpora) and the query
    registered an `oracle_scale` restatement, that formulation replays
    instead of the strict one — same columns, same rows (equivalence is
    enforced in DuckDB by tests/test_oracle_scale.py), but posting-list
    instead of all-pairs, so the heaviest sf0.1 replays drop from
    400-650 s to seconds and stop crowding the 900 s per-name watchdog.
    The driver's sf0.01 gate and the sf0.01 differential tests never set
    the env var, so they keep the algorithmically-independent strict SQL.
    """
    import os

    oracle = query.oracle
    if (
        os.environ.get("SWEEP_ORACLE_TIER") == "scale"
        and getattr(query, "oracle_scale", None) is not None
    ):
        oracle = query.oracle_scale

    sdf = query.fn(spark, sf_dir)
    spark_cols = list(sdf.columns)
    spark_rows = [tuple(r) for r in sdf.collect()]

    con = duckdb_con(sf_dir)
    # Guard against DuckDB's integer-widening types: SUM(BIGINT) returns
    # HUGEINT, which the external driver's pandas path renders as float64
    # ("15000.0") while Spark emits int64 ("15000") — a value-hash mismatch
    # invisible to this fetchall()-based compare (fetchall gives Python
    # ints either way). Oracles must CAST such sums to BIGINT.
    desc = con.execute(f"DESCRIBE {oracle}").fetchall()
    huge = [(c[0], c[1]) for c in desc if "HUGEINT" in str(c[1]).upper()]
    assert not huge, (
        f"{query.name}: oracle emits HUGEINT column(s) {huge} — the driver "
        "coerces these to float64 and the value hash diverges from Spark's "
        "int64; wrap the expression in CAST(... AS BIGINT)"
    )
    assert_type_classes_match(query, sdf.schema, desc)
    res = con.execute(oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    con.close()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{query.name}: column mismatch spark={sorted(spark_cols)} "
        f"duck={sorted(duck_cols)}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{query.name}: row count spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    ns, nd = _normalize(spark_cols, spark_rows), _normalize(duck_cols, duck_rows)
    if ns != nd:
        diff_s = [r for r in ns if r not in set(nd)][:5]
        diff_d = [r for r in nd if r not in set(ns)][:5]
        raise AssertionError(
            f"{query.name}: value mismatch.\n only-spark: {diff_s}\n"
            f" only-duck:  {diff_d}"
        )
