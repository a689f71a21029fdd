"""Smoke: the driver contract in __spark_entry__.py."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns[0] == "carrier"
    assert len(df.columns) == 13


def test_contract_shape(spark):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert "flight_delay_report" in qs
    assert set(oracles) <= set(qs)
    for name, sql in oracles.items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_query_order_drains_unchecked_tail_first():
    """The driver samples a ~50-query prefix of queries(); while queries
    exist that the driver has never value-hashed green (VERDICT r4 #4),
    the prefix must be PACKED with them — never-checked members lead —
    so the unchecked tail drains in ~1-2 rounds. Family coverage is only
    demanded of the slots the unchecked tail does not consume (the tail
    rightly monopolizes the head; VERDICT r7 #1 — the old every-family
    invariant was unsatisfiable for 0 < tail < 50)."""
    from hbase_hadoop_flightsearch_spark.plans.registry import load_all

    reg = load_all()
    checked = entrymod._driver_checked_names()
    unchecked = {n for n in reg if n not in checked}
    prefix = list(entrymod.queries())[:50]

    # Invariant 1 (every regime): ALL unchecked names that fit must be in
    # the prefix — min(len(unchecked), 50) of the 50 slots go to them.
    want_unchecked = min(len(unchecked), 50)
    got_unchecked = sum(1 for n in prefix if n in unchecked)
    assert got_unchecked == want_unchecked, (
        f"only {got_unchecked}/{want_unchecked} unchecked names in prefix"
    )
    # ... and they lead: no checked name may appear before an unchecked one.
    first_checked = next(
        (i for i, n in enumerate(prefix) if n in checked), len(prefix)
    )
    assert first_checked >= want_unchecked, (
        "a checked name precedes an unchecked one in the prefix"
    )

    # Invariant 2: family spread, scoped to whichever pool fills the slots.
    if len(unchecked) >= 50:
        n_fam = len({reg[n].fn.__module__ for n in unchecked})
        prefix_modules = {reg[n].fn.__module__ for n in prefix}
        assert len(prefix_modules) >= min(n_fam, 20), (
            f"prefix spans {len(prefix_modules)} of {n_fam} pool families"
        )
    else:
        # Checked-fill slots (50 - tail) must round-robin the families of
        # the checked pool: expect min(n_checked_families, fill) distinct.
        fill = 50 - want_unchecked
        checked_fill = [n for n in prefix if n in checked]
        assert len(checked_fill) == fill
        if fill:
            n_fam = len({reg[n].fn.__module__ for n in checked})
            got_fam = len({reg[n].fn.__module__ for n in checked_fill})
            assert got_fam >= min(n_fam, fill), (
                f"checked fill spans {got_fam} families, "
                f"expected min({n_fam}, {fill})"
            )


class _FakeFn:
    def __init__(self, module):
        self.__module__ = module


class _FakeQuery:
    def __init__(self, name, module):
        self.name = name
        self.fn = _FakeFn(module)


def _synthetic_pool(n_modules=6, per_module=20):
    return [
        _FakeQuery(f"q{m}_{i}", f"fam.mod{m}")
        for m in range(n_modules)
        for i in range(per_module)
    ]


def test_ordering_synthetic_regimes():
    """_ordered_queries must satisfy the drain invariants in EVERY
    artifact regime — 0, <50, and >=50 unchecked — so committing a new
    CORRECTNESS artifact can never redden the suite again (VERDICT r7 #1).
    """
    allq = _synthetic_pool()  # 120 names, 6 families
    names = [q.name for q in allq]
    for n_unchecked in (0, 1, 13, 37, 49, 50, 80, 120):
        unchecked = set(names[:n_unchecked])
        checked = set(names) - unchecked
        for seed in (0, 3, 8):
            order = entrymod._ordered_queries(allq, checked, set(), seed)
            got = [q.name for q in order]
            assert sorted(got) == sorted(names)  # permutation, no loss
            prefix = got[:50]
            want = min(n_unchecked, 50)
            assert sum(1 for n in prefix if n in unchecked) == want
            first_checked = next(
                (i for i, n in enumerate(prefix) if n in checked), 50
            )
            assert first_checked >= want
            # Checked fill round-robins families.
            fill = [n for n in prefix if n in checked]
            if fill:
                fams = {q.fn.__module__ for q in order if q.name in checked}
                got_fams = len(
                    {q.fn.__module__ for q in order[:50]
                     if q.name in fill and q.name in checked}
                )
                assert got_fams >= min(len(fams), len(fill))


def test_ordering_synthetic_failed_first():
    """A name whose latest driver check FAILED must lead the whole
    ordering, ahead even of never-checked names, so the smallest driver
    prefix re-verifies the fix (VERDICT r7 #8 — exercises the
    failed-first path that no real artifact has ever triggered)."""
    allq = _synthetic_pool(n_modules=4, per_module=10)
    names = [q.name for q in allq]
    failed = {"q2_5", "q0_7"}
    checked = set(names[:20]) - failed
    order = [
        q.name
        for q in entrymod._ordered_queries(allq, checked, failed, 5)
    ]
    assert order[: len(failed)] == sorted(failed)


def test_failed_queries_lead_the_ordering():
    """A query that failed its most recent driver check must sit at the
    very front so even the smallest driver prefix re-verifies the fix."""
    failed = entrymod._driver_failed_names()
    order = list(entrymod.queries())
    for name in failed:
        assert order.index(name) < len(failed), (
            f"{name} failed last round but is not at the front"
        )


def test_prefix_rotates_vs_recorded_round3():
    """The rotation must actually change the driver's checked set: the
    current 50-prefix may not equal the r3-recorded one (keys of
    CORRECTNESS_r03.json), and the seed must move as rounds accrue."""
    import json
    import os

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "CORRECTNESS_r03.json")) as f:
        r3_prefix = list(json.load(f))
    assert entrymod._round_seed() >= 3  # r1-r3 artifacts are checked in
    now_prefix = list(entrymod.queries())[: len(r3_prefix)]
    assert now_prefix != r3_prefix, "prefix composition did not rotate"
    # Rotation re-orders the sweep; it must not drop the flagship.
    assert "flight_delay_report" in entrymod.queries()


def test_seen_tier_rotation_varies_with_seed():
    """VERDICT r9 #3: after the r10 drain, prefix slots fall to
    already-green names again for the first time since r6, and the
    seed-rotated interleave must sweep DIFFERENT greens each round —
    otherwise 341 old greens wait forever for a recheck. With every name
    checked (the post-drain regime), consecutive round seeds (10 vs 11)
    must produce prefixes that differ in MEMBERSHIP, not just order."""
    allq = _synthetic_pool()  # 120 names, 6 families
    names = {q.name for q in allq}
    prefixes = {}
    for seed in (10, 11):
        order = entrymod._ordered_queries(allq, names, set(), seed)
        got = [q.name for q in order]
        assert sorted(got) == sorted(q.name for q in allq)
        prefixes[seed] = got[:50]
    assert set(prefixes[10]) != set(prefixes[11]), (
        "seen-tier prefix membership did not rotate between seeds 10/11"
    )
    # Rotation must also hold round-over-round for MANY consecutive seeds
    # (a rotation that only varies at some seeds still starves greens).
    seen_sets = [
        frozenset(
            q.name
            for q in entrymod._ordered_queries(allq, names, set(), seed)[:50]
        )
        for seed in range(9, 16)
    ]
    assert len(set(seen_sets)) == len(seen_sets), (
        "two consecutive-round prefixes selected identical green sets"
    )
