"""Driver-side iteration: the package's one materialization, its one round
driver, and the integer power iteration PageRank and TextRank share.

Every DataFrame-state loop runs its rounds through `iterate`, and every
other frame computed once goes through `materialize`, so the checkpoint
policy lives in one function. This module imports nothing else from the
package: graph.py imports dedup.py and mining.py, which need it too.
Loops over a few driver-side scalars (quantized k-means, logistic
gradient descent, the median bisection) stay plain Python loops: they
have no lineage to cut.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

_LABEL = "spark.job.description"
UNCHANGED = "unchanged"  # stop when a round keeps the previous row count
EMPTY = "empty"  # stop when a round produces no rows


def materialize(df: DataFrame) -> tuple[DataFrame, int]:
    """`df` computed once with its lineage cut, and its row count.

    One eager action: a reliable `checkpoint` (files under the checkpoint
    dir, so a lost executor does not recompute the chain) when the session
    has `sparkContext.getCheckpointDir()` set, else `localCheckpoint`. The
    row count comes from an `Observation` on that same action.

    Always eager. Under adaptive execution `Dataset.checkpoint` runs every
    stage but the last at the call even when lazy (measured in the near-dup
    pipeline: a lazy checkpoint of one star-contraction round started 8
    jobs at the call, of its input edges 2), so being lazy only moves the
    last stage into whichever later job first reads the frame, and leaves
    the row count unknown."""
    seen = Observation()
    df = df.observe(seen, F.count(F.lit(1)).alias("rows"))
    reliable = df.sparkSession.sparkContext.getCheckpointDir()
    out = df.checkpoint(eager=True) if reliable else df.localCheckpoint(eager=True)
    return out, seen.get["rows"]


class Loop(NamedTuple):
    state: DataFrame  # the last materialized state
    rounds: int  # rounds run, round 0 not counted
    converged: bool  # the stop rule fired (always True for fixed rounds)


def iterate(
    name: str,
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    rounds: int,
    until: str | Callable[[DataFrame], bool] | None = None,
    strict: bool = True,
) -> Loop:
    """Run `step` on a DataFrame state for at most `rounds` rounds.

    Each round is one action: `materialize(step(state))`, run under the
    job description "<name> round <i>" (the caller's description is put
    back afterwards; job groups are left to the caller). `until` is the
    stop rule, checked after every round:

    - None: run exactly `rounds` rounds;
    - UNCHANGED: the round's row count equals the previous one. The
      initial state is materialized first, as round 0, for a baseline;
    - EMPTY: the round produced no rows;
    - a callable: a caller probe on the materialized state, True = stop.

    If the rule has not fired after `rounds` rounds, raise a RuntimeError
    naming `name` when `strict`, else return the last state with
    `converged=False`."""
    sc = state.sparkSession.sparkContext
    caller_label = sc.getLocalProperty(_LABEL)
    try:
        if until == UNCHANGED:
            sc.setLocalProperty(_LABEL, f"{name} round 0")
            state, rows = materialize(state)
        for i in range(1, rounds + 1):
            sc.setLocalProperty(_LABEL, f"{name} round {i}")
            state, n = materialize(step(state))
            if until == UNCHANGED:
                stop = n == rows
            elif until == EMPTY:
                stop = n == 0
            else:
                stop = until is not None and until(state)
            if stop:
                return Loop(state, i, True)
            rows = n
    finally:
        sc.setLocalProperty(_LABEL, caller_label)
    if until is not None and strict:
        raise RuntimeError(f"{name} did not converge in {rounds} rounds")
    return Loop(state, rounds, until is None)


# ---------------------------------------------------------------------------
# Integer power iteration: weighted PageRank in fixed point
# ---------------------------------------------------------------------------

RANK_SCALE = 10**12  # picorank: ranks are BIGINT multiples of 1e-12
RANK_ITERS = 5


def rank_int(edges: DataFrame, name: str, iters: int = RANK_ITERS) -> DataFrame:
    """(node, rank) after `iters` rounds of integer fixed-point weighted
    PageRank on directed (src, dst, w) edges, w a positive BIGINT.

    Per round each node spreads its rank along its out-edges in
    proportion to weight: contrib = (rank * w) div s, s the node's
    out-strength (sum of w); then rank' = base + (85 * in) div 100 with
    base = (15 * SCALE) div (100 * N). With w = 1 this is plain PageRank
    (s is the out-degree). Every division is a floor division, so the
    trajectory is the same in any engine and `rank_int_duck` replays it
    exactly. Mass is conserved only up to the floor remainders.

    Edges with their strength and the node set are materialized once;
    each round is one join + one Exchange(node) over O(edges)."""
    strength = edges.groupBy("src").agg(F.sum("w").cast("bigint").alias("s"))
    wedges, _ = materialize(edges.join(strength, "src"))
    nodes, n = materialize(
        wedges.select(F.col("src").alias("node"))
        .union(wedges.select(F.col("dst").alias("node")))
        .distinct()
    )
    base = (15 * RANK_SCALE) // (100 * n)

    def spread(ranks: DataFrame) -> DataFrame:
        contribs = wedges.join(ranks.withColumnRenamed("node", "src"), "src").select(
            F.col("dst").alias("node"), F.expr("(rank * w) div s").alias("c")
        )
        # a zero contribution per node keeps the nodes nothing points at
        zeros = ranks.select("node", F.lit(0).cast("bigint").alias("c"))
        return (
            contribs.unionByName(zeros)
            .groupBy("node")
            .agg(
                (F.lit(base) + F.expr("(85 * SUM(c)) div 100"))
                .cast("bigint")
                .alias("rank")
            )
        )

    ranks = nodes.select(
        "node", F.lit(RANK_SCALE // n).cast("bigint").alias("rank")
    )
    return iterate(name, ranks, spread, iters).state


def rank_int_duck(edges: str, result: str) -> str:
    """DuckDB replay of `rank_int`. `edges` is the text of CTE definitions,
    the last one named `edges` with columns (src, dst, w BIGINT); `result`
    is the final SELECT, over `ranks` (node, rank).

    Every round is MATERIALIZED: DuckDB re-plans inlined CTE references,
    so each round would otherwise replay the whole edge build (a 5x-density
    sweep chunk timed out on it)."""
    s = RANK_SCALE
    sql = f"""
WITH {edges},
nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
strength AS MATERIALIZED (
  SELECT src, CAST(SUM(w) AS BIGINT) AS s FROM edges GROUP BY src
),
b AS MATERIALIZED (
  SELECT CAST((15 * {s}) // (100 * n) AS BIGINT) AS base FROM nn
),
r0 AS (
  SELECT node, CAST({s} // n AS BIGINT) AS rank FROM nodes, nn
)"""
    for i in range(1, RANK_ITERS + 1):
        sql += f""",
c{i} AS MATERIALIZED (
  SELECT e.dst, CAST(SUM((r.rank * e.w) // st.s) AS BIGINT) AS in_sum
  FROM edges e JOIN r{i - 1} r ON e.src = r.node
  JOIN strength st ON e.src = st.src
  GROUP BY e.dst
),
r{i} AS MATERIALIZED (
  SELECT n.node,
    CAST(b.base + (85 * COALESCE(c.in_sum, 0)) // 100 AS BIGINT) AS rank
  FROM nodes n LEFT JOIN c{i} c ON n.node = c.dst, b
)"""
    return sql + f""",
ranks AS (SELECT node, rank FROM r{RANK_ITERS})
{result}"""
