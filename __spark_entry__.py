"""Driver contract for the spark-graft builder (PySpark target).

Thin adapter over the engine's central query registry
(hbase_hadoop_flightsearch_spark/plans/registry.py): every implemented
operator registers a PySpark builder and (where SQL-expressible) a DuckDB
oracle there; this module just re-exposes the registry in the driver's
shape. See SURVEY.md §2 for the operator inventory.
"""

from __future__ import annotations

import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, "/root/repo")

from hbase_hadoop_flightsearch_spark.plans.registry import load_all

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (per-carrier monthly delay pivot) on sf0.001."""
    registry = load_all()
    return registry["flight_delay_report"].fn(spark, SMOKE_SF_DIR)


def _round_seed() -> int:
    """Prefix-rotation seed = number of completed driver rounds, counted
    from the checked-in CORRECTNESS_r*.json artifacts. Changes every round
    with no manual bump, so successive rounds sweep DIFFERENT registry
    members through the driver's ~50-query prefix instead of re-checking
    the same 50 forever (VERDICT r3 #6)."""
    import glob
    import os

    here = os.path.dirname(os.path.abspath(__file__))
    return len(glob.glob(os.path.join(here, "CORRECTNESS_r*.json")))


def _driver_history() -> tuple[set[str], set[str]]:
    """(green_names, failed_names) from the checked-in CORRECTNESS_r*.json
    artifacts; a name's latest-round status supersedes earlier rounds."""
    import glob
    import json
    import os

    here = os.path.dirname(os.path.abspath(__file__))
    names: set[str] = set()
    failed: set[str] = set()
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        names.update(data.keys())
        for name, rec in data.items():
            ok = (
                rec.get("rows_match")
                and rec.get("schema_match")
                and rec.get("hash_match", True)
                and not rec.get("err")
            )
            if ok:
                failed.discard(name)
            else:
                failed.add(name)
    return names - failed, failed


def _driver_checked_names() -> set[str]:
    """Names whose MOST RECENT driver check was green. A query that failed
    its latest check is deliberately excluded so it re-queues with the
    never-checked priority group and the fix gets re-verified."""
    return _driver_history()[0]


def _driver_failed_names() -> set[str]:
    return _driver_history()[1]


def _ordered_queries(
    allq: list,
    checked: set[str],
    failed: set[str],
    seed: int,
) -> list:
    """Pure ordering core (injectable state, so tests can synthesize any
    CORRECTNESS-artifact regime — 0, <50, or >=50 unchecked — without
    touching real artifacts; VERDICT r7 #1/#8).

    Order: latest-check-FAILED names first (alphabetical, so even the
    smallest driver prefix re-verifies a fix), then never-value-hashed
    names, then the already-green names, each group round-robin
    interleaved across source modules/families. Module order and member
    order rotate by the round seed so repeat passes vary which member of
    each family leads."""
    from collections import OrderedDict

    def interleave(queries: list) -> list:
        if not queries:
            return []
        by_module: "OrderedDict[str, list]" = OrderedDict()
        for q in queries:
            by_module.setdefault(q.fn.__module__, []).append(q)
        mods = list(by_module)
        mods = mods[seed % len(mods):] + mods[: seed % len(mods)]
        for mod in mods:
            lst = by_module[mod]
            k = seed % len(lst)
            by_module[mod] = lst[k:] + lst[:k]
        out: list = []
        while any(by_module.values()):
            for mod in mods:
                if by_module[mod]:
                    out.append(by_module[mod].pop(0))
        return out

    ordered = interleave([q for q in allq if q.name not in checked])
    ordered.extend(interleave([q for q in allq if q.name in checked]))
    failed_first = sorted(
        (q for q in ordered if q.name in failed), key=lambda q: q.name
    )
    rest = [q for q in ordered if q.name not in failed]
    return failed_first + rest


def _family_interleaved() -> dict[str, object]:
    """Registry reordered so the driver's ~50-query prefix is maximally
    informative: failed-last-check names lead, never-checked names drain
    next, and the remaining slots round-robin across operator families.
    See _ordered_queries for the full policy."""
    ordered = _ordered_queries(
        list(load_all().values()),
        _driver_checked_names(),
        _driver_failed_names(),
        _round_seed(),
    )
    return {q.name: q for q in ordered}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented query/operator from SURVEY.md §2."""
    return {name: q.fn for name, q in _family_interleaved().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each SQL-expressible query."""
    return {
        name: q.oracle
        for name, q in _family_interleaved().items()
        if q.oracle is not None
    }
