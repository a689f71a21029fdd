"""PageRank contracts: agreement with a NumPy power-iteration reference
on the same graph, rank-mass conservation up to the fixed-point floors,
and the registered query's output."""

from __future__ import annotations

import numpy as np

from hbase_hadoop_flightsearch_spark.operators.graph import (
    _SUPP_OFFSET,
    PAGERANK_DAMPING,
    PAGERANK_ITERS,
    PR_SCALE,
    _customer_supplier_edges,
    pagerank_int,
)

SF = "/root/testdata/sf0.001"


def _reference(edge_list, iters, d):
    nodes = sorted({a for a, _ in edge_list} | {b for _, b in edge_list})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out_deg = np.zeros(n)
    for a, _ in edge_list:
        out_deg[idx[a]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        nxt = np.full(n, (1.0 - d) / n)
        incoming = np.zeros(n)
        for a, b in edge_list:
            incoming[idx[b]] += r[idx[a]] / out_deg[idx[a]]
        nxt += d * incoming
        r = nxt
    return {n_: r[i] for n_, i in idx.items()}


def test_pagerank_matches_numpy_reference(spark):
    """The integer fixed-point PageRank must agree with the float power
    iteration within quantization error: each floor costs < 1 pico-unit
    per term, compounded over 5 damped rounds the drift stays far below
    the rank magnitudes (~1e12/N)."""
    edges = _customer_supplier_edges(spark, SF)
    edge_list = [(r["src"], r["dst"]) for r in edges.collect()]
    got = {r["node"]: r["rank"] for r in pagerank_int(edges).collect()}
    want = _reference(edge_list, PAGERANK_ITERS, PAGERANK_DAMPING)
    assert set(got) == set(want)
    # max in-degree bounds the per-round floor loss; 1e6 pico = 1e-6
    # relative to full mass — generous yet tight enough to catch a
    # broken damping or degree division.
    for node in want:
        assert abs(got[node] - want[node] * PR_SCALE) <= 1e6, node
    # No dangling nodes in the symmetrized graph, so the float mass is 1.
    # Floors only lose mass: under 1 pico per edge (contrib) plus 2 per
    # node (base, damping) each round, and 1 per node at the start.
    n, m = len(want), len(edge_list)
    lost = PR_SCALE - sum(got.values())
    assert 0 <= lost <= PAGERANK_ITERS * (m + 2 * n) + n, lost
    # A rank floor exists for every node: the fixed-point (1-d)/N.
    assert min(got.values()) >= (15 * PR_SCALE) // (100 * n)


def test_pagerank_fixed_point_tracks_float(spark):
    """The registered query's supplier ranks must be exactly those of
    pagerank_int, and track the float power iteration within the same
    1e6-pico quantization bound."""
    from hbase_hadoop_flightsearch_spark.plans.registry import load_all

    rows = load_all()["graph_pagerank_suppliers"].fn(spark, SF).collect()
    assert rows
    got = {r.suppkey: r.rank_pico for r in rows}
    assert all(v > 0 for v in got.values())
    edges = _customer_supplier_edges(spark, SF)
    assert got == {
        r["node"] - _SUPP_OFFSET: r["rank"]
        for r in pagerank_int(edges).collect()
        if r["node"] >= _SUPP_OFFSET
    }
    edge_list = [(r["src"], r["dst"]) for r in edges.collect()]
    want = _reference(edge_list, PAGERANK_ITERS, PAGERANK_DAMPING)
    fl = {k - _SUPP_OFFSET: v for k, v in want.items() if k >= _SUPP_OFFSET}
    assert set(got) == set(fl)
    for k, v in got.items():
        assert abs(v - fl[k] * PR_SCALE) <= 1e6, (k, v, fl[k])


def test_kcore_matches_sequential_peeling(spark, sf_smoke):
    """graph_kcore's distributed peel must produce EXACTLY the unique
    k-core a sequential reference peel computes on the same support-2
    co-purchase edges."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from hbase_hadoop_flightsearch_spark.operators.graph import (
        KCORE_K,
        kcore_vertices,
    )
    from hbase_hadoop_flightsearch_spark.operators.mining import (
        LINKPRED_MIN_SUPPORT,
        copurchase_pairs,
    )
    from hbase_hadoop_flightsearch_spark.sources.catalog import load_table

    edges_df = (
        copurchase_pairs(load_table(spark, sf_smoke, "lineitem"))
        .filter(F.col("pair_count") >= LINKPRED_MIN_SUPPORT)
        .select(F.col("part_a").alias("a"), F.col("part_b").alias("b"))
    )
    edges = [(r.a, r.b) for r in edges_df.collect()]
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    changed = True
    while changed:
        changed = False
        for v in list(adj):
            if len(adj[v]) < KCORE_K:
                for u in adj[v]:
                    adj[u].discard(v)
                del adj[v]
                changed = True
    want = set(adj)
    got = {r.v for r in kcore_vertices(edges_df, KCORE_K).collect()}
    assert got == want and want


def test_kcore_closes_cascades(spark):
    """A tail chain hanging off a triangle: peeling must cascade down
    the whole chain (multi-round), leaving exactly the triangle as the
    2-core."""
    from hbase_hadoop_flightsearch_spark.operators.graph import (
        kcore_vertices,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6)], ["a", "b"]
    )
    got = {r.v for r in kcore_vertices(edges, 2).collect()}
    assert got == {1, 2, 3}


def test_kcore_converged_flag_is_load_bearing(spark):
    """VERDICT r7 #3: the converged flag must come from the actual loop
    exit. A 3-deep cascade under max_rounds=2 exhausts the bound without
    ever observing an empty removal set -> converged=False and the
    non-fixpoint residue is returned; the true bound sees True."""
    from hbase_hadoop_flightsearch_spark.operators.graph import kcore_peel

    # chain 4-5-6 off triangle 1-2-3: rounds remove {6},{5},{4} -> 3
    # removal rounds, fixpoint observed on the 4th check.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6)], ["a", "b"]
    )
    core, _, rounds, converged = kcore_peel(edges, 2, max_rounds=2)
    assert not converged and rounds == 2
    assert {r.v for r in core.collect()} == {1, 2, 3, 4}  # residue
    core, core_edges, rounds, converged = kcore_peel(edges, 2, max_rounds=10)
    assert converged and rounds == 3
    assert {r.v for r in core.collect()} == {1, 2, 3}
    assert {tuple(r) for r in core_edges.collect()} == {
        (1, 2), (2, 3), (1, 3)
    }


def test_hits_fixture_ordering_and_normalization(spark):
    """Hand fixture: s1 is bought by all three customers, s2 only by c1
    -> s1's authority must dominate and equal HITS_SCALE (the max is
    normalized to SCALE each half-round by construction)."""
    from hbase_hadoop_flightsearch_spark.operators.graph import (
        HITS_SCALE,
        hits_int,
    )

    pairs = spark.createDataFrame(
        [(1, 101), (2, 101), (3, 101), (1, 102)],
        "cust long, supp long",
    )
    auth = {r["supp"]: r["a"] for r in hits_int(pairs).collect()}
    assert auth[101] == HITS_SCALE
    assert 0 <= auth[102] < auth[101]
    # c1 buys from both suppliers; with s1 >> s2 its hub weight must be
    # the max too — check via one more half-round by symmetry: the
    # authority of a supplier bought ONLY by the best hub exceeds one
    # bought only by a lesser hub.
    pairs2 = spark.createDataFrame(
        [(1, 101), (1, 102), (2, 101), (3, 103), (1, 104), (2, 104)],
        "cust long, supp long",
    )
    a2 = {r["supp"]: r["a"] for r in hits_int(pairs2).collect()}
    assert a2[104] == max(a2.values())  # bought by the two best hubs
    assert a2[103] <= a2[101]  # c3 (narrow hub) < c1+c2 coverage


def test_hits_bipartite_regular_graph_is_uniform(spark):
    """On a complete bipartite graph every supplier is symmetric, so all
    authorities must equal SCALE exactly."""
    from hbase_hadoop_flightsearch_spark.operators.graph import (
        HITS_SCALE,
        hits_int,
    )

    pairs = spark.createDataFrame(
        [(c, s) for c in (1, 2, 3) for s in (11, 12)],
        "cust long, supp long",
    )
    vals = {r["a"] for r in hits_int(pairs).collect()}
    assert vals == {HITS_SCALE}


def test_assortativity_star_is_minus_one(spark):
    """K_{1,5}: every edge joins the deg-5 hub to a deg-1 leaf, so
    endpoint degrees are perfectly anti-correlated — r = -1 exactly."""
    from hbase_hadoop_flightsearch_spark.operators.graph import assortativity

    star = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "a long, b long"
    )
    row = assortativity(star).collect()[0]
    assert row["assortativity_r6"] == -1.0
    assert row["n_edge_ends"] == 10

    # A path P4 is disassortative but not perfectly: r must be in (-1, 0).
    path = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "a long, b long"
    )
    r = assortativity(path).collect()[0]["assortativity_r6"]
    assert -1.0 < r < 0.0


def test_rich_club_ladder_is_monotone(spark, sf_correctness):
    """Club size must shrink (weakly) as the degree threshold rises, and
    phi stays in [0, 1e6]."""
    from hbase_hadoop_flightsearch_spark.operators.graph import (
        graph_rich_club,
    )

    rows = sorted(
        graph_rich_club(spark, sf_correctness).collect(),
        key=lambda r: r["k"],
    )
    sizes = [r["n_k"] for r in rows]
    assert sizes == sorted(sizes, reverse=True)
    assert all(0 <= r["phi_micro"] <= 1_000_000 for r in rows)
    assert all(
        r["e_k"] <= r["n_k"] * (r["n_k"] - 1) // 2 for r in rows
    )


def test_kcore_isolation_round_accounting(spark, tmp_path):
    """r15 fresh-seed 5x differential find: when a round's removals
    ISOLATE a surviving vertex (all its neighbors die together), the
    engine's edge-based loop drops it with its edges — no extra round —
    while the old vertex-set oracle paid one more round (peel_rounds 8
    vs 9, identical core). Minimal topology: triangle {1,2,3} (the
    core) plus pendant star 10-11, 10-12 (11, 12 have degree 1; their
    removal isolates 10 in the same round). The engine must report
    peel_rounds=1 and the restated edge-based oracle must agree."""
    import shutil

    import pandas as pd

    from hbase_hadoop_flightsearch_spark.plans.registry import load_all
    from hbase_hadoop_flightsearch_spark.schemas import TABLE_NAMES

    from .conftest import SF_SMOKE
    from .oracle_utils import compare_query_to_oracle

    # the oracle harness registers a view per table; only lineitem is
    # interesting here, the rest ride along from sf0.001
    for t in TABLE_NAMES:
        if t != "lineitem":
            shutil.copy(f"{SF_SMOKE}/{t}.parquet", tmp_path / f"{t}.parquet")
    rows = []
    order = 0
    for p, q in [(1, 2), (1, 3), (2, 3), (10, 11), (10, 12)]:
        for _ in range(2):  # support >= 2 per co-purchase pair
            order += 1
            rows.append((order, p))
            rows.append((order, q))
    pd.DataFrame(
        rows, columns=["l_orderkey", "l_partkey"]
    ).to_parquet(tmp_path / "lineitem.parquet", index=False)

    q = load_all()["graph_kcore"]
    got = {r.v: r for r in q.fn(spark, str(tmp_path)).collect()}
    assert set(got) == {1, 2, 3}
    assert all(r.core_degree == 2 for r in got.values())
    assert all(r.peel_rounds == 1 for r in got.values()), got
    assert all(r.converged for r in got.values())
    compare_query_to_oracle(spark, q, str(tmp_path))
