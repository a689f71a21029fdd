"""Connected components over the near-duplicate graph (E10 completion).

Near-dup *pairs* (dedup.py) are only half the dedup story: production
corpus prep needs *clusters* — if A~B and B~C, all three are one duplicate
group even when A~C was never emitted — plus one canonical keeper per
cluster. That grouping is connected components on the pair graph, an
inherently ITERATIVE computation no single SQL join can express (the
DuckDB oracle unrolls bounded min-label propagation as a CTE chain).

Spark-first design: one driver-side loop of alternating large-star /
small-star contraction (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC 2014) over the normalized edge list. Each
round is a few groupBy-min + join shuffles of O(edges) rows and the
round count is O(log n), so long chains (spatial DBSCAN density chains,
co-purchase components) converge as fast as the near-clique clusters of
near-dup pairs; min-label propagation would need one round per hop of
diameter. Every round is materialized by the package's one iteration
driver (`iterate.iterate`), otherwise the iterated plan grows
exponentially in Catalyst. The result is property-tested against a
sequential union-find.

Scale notes (100 TB): the loop only ever touches pair endpoints
(isolated vertices re-join as singletons after convergence), and
near-dup pair graphs are sparse. With a checkpoint dir set on the
SparkContext, every round checkpoints reliably, so a lost executor does
not recompute the whole chain.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.registry import register
from ..sources.catalog import load_table
from .dedup import (
    _JACCARD_PAIRS_DUCK,
    cc_minlabel_duck,
    dedup_ngram_jaccard,
    scale_variant,
)
from .iterate import (
    EMPTY,
    RANK_ITERS,
    RANK_SCALE,
    UNCHANGED,
    iterate,
    materialize,
    rank_int,
    rank_int_duck,
)

# The oracle re-derives the same >= 0.5 jaccard pairs (the pairs themselves
# are oracle-verified in dedup_ngram_jaccard), then labels components with
# BOUNDED min-label propagation (cc_minlabel_duck): the r13-era recursive
# transitive closure materialized one row per (vertex, reachable vertex) —
# quadratic in component size, the measured >900 s sf0.1 class.
_CC_ORACLE = f"""
WITH
jp AS MATERIALIZED ({_JACCARD_PAIRS_DUCK}),
edges AS MATERIALIZED (
  SELECT d1 AS src, d2 AS dst FROM jp
  UNION ALL
  SELECT d2 AS src, d1 AS dst FROM jp
),
verts AS (SELECT doc_id FROM documents),
{cc_minlabel_duck("verts", "edges")}
SELECT doc_id, component_id,
  COUNT(*) OVER (PARTITION BY component_id) AS n_members,
  (doc_id = component_id) AS is_keeper
FROM comp
"""


# Safety bound on star-contraction rounds. Rounds grow as O(log n), so
# this leaves a wide margin: the most any shipped caller has needed is 6
# (spatial_dbscan at sf0.1).
CC_MAX_ROUNDS = 20


def _symmetric(edges: DataFrame) -> DataFrame:
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    return edges.unionByName(rev)


def _star_round(edges: DataFrame, large: bool) -> DataFrame:
    """One large-star or small-star contraction (Kiveris et al.,
    'Connected Components in MapReduce and Beyond'): per node u, attach
    its larger (large-star) or not-larger (small-star) neighbors to
    m(u) = min(N(u) + {u}). Both are a groupBy-min + join — no
    collect_list, so a hub node never materializes its neighborhood in
    one task."""
    sym = _symmetric(edges)
    m = (
        sym.groupBy(F.col("src").alias("mu"))
        .agg(F.min("dst").alias("min_dst"))
        .select("mu", F.least("min_dst", F.col("mu")).alias("m"))
    )
    cond = F.col("dst") > F.col("src") if large else (
        F.col("dst") <= F.col("src")
    )
    out = (
        sym.filter(cond)
        .join(m, sym.src == m.mu)
        .select(
            F.greatest("dst", "m").alias("src"),
            F.least("dst", "m").alias("dst"),
        )
    )
    if large:
        # No distinct: the small-star round that always follows reads this
        # through a min aggregate and a join whose output it makes distinct,
        # and its rows are bounded by the 2|E| symmetric edges.
        return out.filter(F.col("src") != F.col("dst"))
    # small-star also re-links u itself to m.
    out = out.unionByName(
        m.select(
            F.greatest("mu", "m").alias("src"),
            F.least("mu", "m").alias("dst"),
        )
    )
    return out.filter(F.col("src") != F.col("dst")).distinct()


def _is_star_forest(edges: DataFrame) -> bool:
    """Convergence of the alternating rounds: the normalized edge set is
    a star forest, i.e. every src (child) carries exactly ONE edge and no
    vertex is both a src and a dst. This is EXACTLY the fixpoint class of
    the rounds: a star forest makes both rounds reproduce the set (attach
    analysis: m(child)=root, m(root)=root), and any set-equality fixpoint
    is a star forest (a vertex that is both src and dst gets re-pointed
    below itself by the large round; a src with two roots gets its roots
    linked by the small round; both contradict invariance). It fires one
    round earlier than a consecutive-set-equality check, needs no
    prev-round state, and reads the actual degree/role structure, not a
    collidable signature. The violators are counted by an Observation on
    a noop-sink pass over the role aggregate: one scan of every role and
    no global exchange, where count() adds a single-partition one."""
    roles = (
        edges.select(F.col("src").alias("v"), F.lit(1).alias("s"), F.lit(0).alias("d"))
        .unionAll(
            edges.select(F.col("dst").alias("v"), F.lit(0).alias("s"), F.lit(1).alias("d"))
        )
        .groupBy("v")
        .agg(F.sum("s").alias("s"), F.sum("d").alias("d"))
    )
    violators = Observation()
    roles.filter((F.col("s") > 1) | ((F.col("s") > 0) & (F.col("d") > 0))).observe(
        violators, F.count(F.lit(1)).alias("n")
    ).write.format("noop").mode("overwrite").save()
    return violators.get["n"] == 0


def connected_components(vertices: DataFrame, pairs: DataFrame) -> DataFrame:
    """(doc_id, component_id) for every doc_id of `vertices` under
    undirected `pairs` (cols d1, d2); component_id = min doc_id in the
    component.

    Alternating large-star/small-star rounds over the normalized edge set
    (src > dst) until it is a star forest, at most CC_MAX_ROUNDS rounds,
    else RuntimeError. Each round's star-forest probe is a Spark action,
    so every round runs before the caller gets its DataFrame.

    Pair endpoints outside `vertices` still link the components they
    touch (and can be their min label), but get no row of their own: the
    final left join keeps exactly the rows of `vertices`."""
    # No distinct: a duplicate pair only repeats rows of round 1's
    # large-star output, which the small-star round makes distinct.
    edges, _ = materialize(
        pairs.select(
            F.greatest("d1", "d2").alias("src"),
            F.least("d1", "d2").alias("dst"),
        ).filter(F.col("src") != F.col("dst"))
    )
    edges = iterate(
        "connected components",
        edges,
        lambda e: _star_round(_star_round(e, large=True), large=False),
        CC_MAX_ROUNDS,
        until=_is_star_forest,
    ).state
    # The probe proved every src carries exactly one edge, and that edge
    # points at its component root: the roots are a plain projection.
    roots = edges.select(
        F.col("src").alias("doc_id"), F.col("dst").alias("component_id")
    )
    return (
        vertices.join(roots, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component_id", F.col("doc_id")).alias("component_id"),
        )
    )


@register(
    "dedup_cc_clusters",
    oracle=_CC_ORACLE,
    oracle_scale=scale_variant(_CC_ORACLE),
    doc="Connected components over near-dup pairs: every doc labeled with "
    "its duplicate-cluster id (min doc_id reachable), cluster size, and a "
    "deterministic keeper flag. Large-star/small-star contraction "
    "(O(log n) rounds) vs a bounded min-label-propagation oracle.",
)
def dedup_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of dedup_ngram_jaccard pairs (jaccard >= 0.5)."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("d1", "d2")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    labels = connected_components(docs, pairs)
    return labels.select(
        "doc_id",
        "component_id",
        F.count(F.lit(1))
        .over(Window.partitionBy("component_id"))
        .alias("n_members"),
        (F.col("doc_id") == F.col("component_id")).alias("is_keeper"),
    )


PAGERANK_DAMPING = 0.85  # rank_int applies it as (85 * in) div 100
PAGERANK_ITERS = RANK_ITERS
PR_SCALE = RANK_SCALE  # picorank units for the integer fixed-point variant
# supplier node ids are offset into their own range so the bipartite
# graph lives in one integer id space
_SUPP_OFFSET = 10_000_000


def _customer_supplier_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected (symmetrized) customer-supplier edges: who bought from
    whom, via orders x lineitem, supplier ids offset by _SUPP_OFFSET.
    Distinct pairs — multiplicity is not weight here."""
    pairs = _purchase_pairs(spark, sf_dir).select(
        "cust", (F.col("supp") + _SUPP_OFFSET).alias("supp")
    )
    return pairs.select(
        F.col("cust").alias("src"), F.col("supp").alias("dst")
    ).unionByName(
        pairs.select(F.col("supp").alias("src"), F.col("cust").alias("dst"))
    )


def pagerank_int(edges: DataFrame, iters: int = PAGERANK_ITERS) -> DataFrame:
    """Integer fixed-point PageRank on a directed (src, dst) edge list:
    `rank_int` with every weight 1, so contrib = rank div out_degree.
    Deterministic in any engine, so the DuckDB oracle replays the whole
    trajectory with unrolled CTEs (the quantized-Lloyd's device); tests
    pin the ranks to a float NumPy power iteration within the floor
    quantization error."""
    return rank_int(
        edges.withColumn("w", F.lit(1).cast("bigint")), "pagerank", iters
    )


_PAGERANK_ORACLE = rank_int_duck(
    f"""pairs AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS cust,
         l_suppkey + {_SUPP_OFFSET} AS supp
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS MATERIALIZED (
  SELECT cust AS src, supp AS dst, CAST(1 AS BIGINT) AS w FROM pairs
  UNION ALL SELECT supp, cust, CAST(1 AS BIGINT) FROM pairs
)""",
    f"""SELECT CAST(node - {_SUPP_OFFSET} AS BIGINT) AS suppkey,
       rank AS rank_pico
FROM ranks WHERE node >= {_SUPP_OFFSET}
""",
)


@register(
    "graph_pagerank_suppliers",
    oracle=_PAGERANK_ORACLE,
    doc="PageRank (graph family, beyond CC): power iteration on the "
    "symmetrized customer-supplier purchase graph; per-round cost is "
    "one Exchange(dst) over O(edges). FULL value oracle as of r8: the "
    "registered query runs INTEGER FIXED-POINT PageRank (picorank "
    "BIGINTs, floor divisions for contrib/damping/base — the same "
    "quantization device as ml_kmeans_clusters and the Markov solve), "
    "so DuckDB replays all 5 rounds with unrolled CTEs and every "
    "supplier's exact rank value is hash-checked, and a test pins the "
    "fixed-point ranks to a float NumPy power iteration within "
    "quantization error.",
)
def graph_pagerank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranks = pagerank_int(_customer_supplier_edges(spark, sf_dir))
    return ranks.filter(F.col("node") >= _SUPP_OFFSET).select(
        (F.col("node") - _SUPP_OFFSET).cast("long").alias("suppkey"),
        F.col("rank").alias("rank_pico"),
    )


# ---------------------------------------------------------------------------
# Single-source shortest paths (BFS) — the third iterative graph operator
# (with min-label components and PageRank). Frontier expansion: each round
# joins the CURRENT frontier (vertices settled last round) against the edge
# list and keeps neighbors not yet settled — per-round work is
# O(frontier-adjacent edges), not O(V).
# Round count = eccentricity of the source, bounded by MAX_DEPTH to match
# the depth-bounded recursive-CTE oracle on cyclic graphs.

BFS_MAX_DEPTH = 10


def bfs_distances(
    edges: DataFrame, source: int, max_depth: int = BFS_MAX_DEPTH
) -> DataFrame:
    """(v, dist) for every vertex within ``max_depth`` hops of ``source``
    over undirected edges (cols a, b). The loop state is the frontier
    (the vertices first reached in the last round); it stops when a round
    reaches no new vertex."""
    sym, _ = materialize(
        _symmetric(edges.select(F.col("a").alias("src"), F.col("b").alias("dst")))
    )
    reached = []  # every earlier frontier, materialized, in depth order

    def expand(frontier: DataFrame) -> DataFrame:
        reached.append(frontier)
        seen = reduce(DataFrame.unionAll, reached).select("v")
        return (
            sym.join(frontier.select(F.col("v").alias("src")), "src")
            .select(F.col("dst").alias("v"))
            .distinct()
            .join(seen, "v", "left_anti")
            .withColumn("dist", F.lit(len(reached)))
        )

    source_row = edges.sparkSession.createDataFrame([(source, 0)], "v long, dist int")
    last = iterate("bfs", source_row, expand, max_depth, until=EMPTY, strict=False)
    return reduce(DataFrame.unionAll, reached + [last.state])


from .mining import _ITEMS_DUCK  # noqa: E402  (shared basket CTE text)

_BFS_ORACLE = f"""
WITH RECURSIVE {_ITEMS_DUCK},
epairs AS (
  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
  FROM it x JOIN it y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
),
sym AS (
  SELECT a AS src, b AS dst FROM epairs
  UNION ALL SELECT b, a FROM epairs
),
srcv AS (SELECT MIN(a) AS s FROM epairs),
walk(v, d) AS (
  SELECT s, 0 FROM srcv
  UNION
  SELECT sym.dst, walk.d + 1
  FROM walk JOIN sym ON sym.src = walk.v
  WHERE walk.d < {BFS_MAX_DEPTH}
)
SELECT v, MIN(d) AS dist FROM walk GROUP BY v
"""


@register(
    "graph_bfs_distances",
    oracle=_BFS_ORACLE,
    doc="Single-source BFS shortest paths on the co-purchase part graph "
    "(frontier expansion, per-round cost O(frontier edges)); oracle is a "
    "depth-bounded recursive CTE.",
)
def graph_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .mining import copurchase_edges

    edges = copurchase_edges(load_table(spark, sf_dir, "lineitem"))
    source = edges.agg(F.min("a")).collect()[0][0]
    return bfs_distances(edges, source).select(
        "v", F.col("dist").cast("long").alias("dist")
    )


@register(
    "graph_degree_histogram",
    oracle=f"""
WITH pairs AS (
  SELECT DISTINCT o_custkey AS cust, l_suppkey + {_SUPP_OFFSET} AS supp
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
deg AS (
  SELECT src, COUNT(*) AS degree FROM (
    SELECT cust AS src FROM pairs
    UNION ALL SELECT supp FROM pairs
  ) GROUP BY src
)
SELECT CAST(FLOOR(log2(degree)) AS INT) AS degree_bucket_log2,
  CAST(COUNT(*) AS BIGINT) AS n_vertices,
  CAST(MIN(degree) AS BIGINT) AS min_degree,
  CAST(MAX(degree) AS BIGINT) AS max_degree
FROM deg GROUP BY 1
""",
    doc="Degree distribution of the customer-supplier graph in log2 "
    "buckets — the first diagnostic run before any graph algorithm at "
    "scale (a power-law tail predicts CC/PageRank hot vertices). Reuses "
    "the pagerank edge set; one Exchange for the distinct pair set, one "
    "O(vertices) degree count, one O(log degmax) histogram. log2 of an "
    "integer degree is exact in both engines (no drift at bucket "
    "boundaries: floor(log2(2^k)) = k because small powers of two are "
    "double-exact).",
)
def graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _customer_supplier_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.groupBy(
            F.floor(F.log2("degree")).cast("int").alias("degree_bucket_log2")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vertices"),
            F.min("degree").cast("bigint").alias("min_degree"),
            F.max("degree").cast("bigint").alias("max_degree"),
        )
    )


MODULARITY_STRONG_MIN = 2  # pair_count >= 2 defines the strong subgraph


@register(
    "graph_modularity_strong",
    oracle=f"""
WITH RECURSIVE
-- MATERIALIZED (r13): all_edges (the co-purchase self-join) is
-- referenced 7x and re-planned per reference under DuckDB's inlining —
-- including once per recursive CC round through sym -> strong — the
-- r12 5x chunk-timeout class (cf. _hits_oracle).
items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
sized AS MATERIALIZED (
  SELECT l_orderkey FROM items
  GROUP BY l_orderkey HAVING COUNT(*) BETWEEN 2 AND 64
),
it AS MATERIALIZED (SELECT i.* FROM items i JOIN sized USING (l_orderkey)),
all_edges AS MATERIALIZED (
  SELECT a.l_partkey AS a, b.l_partkey AS b, COUNT(*) AS w
  FROM it a JOIN it b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
),
strong AS MATERIALIZED (
  SELECT a, b FROM all_edges WHERE w >= {MODULARITY_STRONG_MIN}
),
verts AS MATERIALIZED (
  SELECT DISTINCT v FROM (
    SELECT a AS v FROM all_edges UNION ALL SELECT b FROM all_edges)
),
sym AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM strong
  UNION ALL SELECT b, a FROM strong
),
reach(src, dst) AS (
  SELECT v, v FROM verts
  UNION
  SELECT r.src, e.dst FROM reach r JOIN sym e ON r.dst = e.src
),
labels AS MATERIALIZED (
  SELECT src AS v, MIN(dst) AS c FROM reach GROUP BY src
),
m_cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM all_edges),
internal AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS l_int
  FROM all_edges e
  JOIN labels la ON la.v = e.a
  JOIN labels lb ON lb.v = e.b
  WHERE la.c = lb.c
),
degs AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT a AS v FROM all_edges UNION ALL SELECT b FROM all_edges)
  GROUP BY v
),
dmass AS (
  SELECT l.c, SUM(d.deg) AS dc
  FROM degs d JOIN labels l ON l.v = d.v GROUP BY l.c
),
sq AS (SELECT CAST(SUM(dc * dc) AS BIGINT) AS sum_dc2,
              CAST(COUNT(*) AS BIGINT) AS n_communities FROM dmass)
SELECT m_cnt.m, sq.n_communities, internal.l_int AS internal_edges,
  ROUND((4 * m_cnt.m * internal.l_int - sq.sum_dc2) * 1.0
        / (4 * m_cnt.m * m_cnt.m), 6) AS modularity
FROM m_cnt, internal, sq
""",
    doc="Newman modularity of the strong-edge community partition over "
    "the co-purchase graph: communities = connected components of the "
    f"subgraph with pair_count >= {MODULARITY_STRONG_MIN}, evaluated "
    "against ALL edges (weak edges cross communities, so Q is a real "
    "quality measure, not the degenerate all-internal case) — the "
    "standard post-clustering diagnostic before trusting a dedup/"
    "segmentation partition. Exact arithmetic: Q = (4m*L_int - "
    "sum(d_c^2)) / (4m^2) over BIGINTs, divided once and rounded — no "
    "float accumulation. Spark shape: joinless capped-basket pair "
    "mining (one shuffle), star-contraction CC on the strong "
    "subgraph (O(log n) rounds, edges checkpointed), then "
    "O(V+E) label joins and O(communities) mass aggregation.",
)
def graph_modularity_strong(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .mining import copurchase_pairs

    li = load_table(spark, sf_dir, "lineitem")
    all_edges, _ = materialize(copurchase_pairs(li))
    strong = all_edges.filter(
        F.col("pair_count") >= MODULARITY_STRONG_MIN
    ).select(F.col("part_a").alias("d1"), F.col("part_b").alias("d2"))
    verts = (
        all_edges.select(F.col("part_a").alias("doc_id"))
        .unionByName(all_edges.select(F.col("part_b").alias("doc_id")))
        .distinct()
    )
    labels = connected_components(verts, strong).select(
        F.col("doc_id").alias("v"), F.col("component_id").alias("c")
    )
    la = labels.select(F.col("v").alias("part_a"), F.col("c").alias("ca"))
    lb = labels.select(F.col("v").alias("part_b"), F.col("c").alias("cb"))
    internal = (
        all_edges.join(la, "part_a")
        .join(lb, "part_b")
        .filter(F.col("ca") == F.col("cb"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("l_int"))
    )
    m_cnt = all_edges.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    degs = (
        all_edges.select(F.col("part_a").alias("v"))
        .unionByName(all_edges.select(F.col("part_b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    dmass = (
        degs.join(labels, "v")
        .groupBy("c")
        .agg(F.sum("deg").alias("dc"))
    )
    sq = dmass.agg(
        F.sum(F.col("dc") * F.col("dc")).cast("bigint").alias("sum_dc2"),
        F.count(F.lit(1)).cast("bigint").alias("n_communities"),
    )
    return (
        m_cnt.join(internal)
        .join(sq)
        .select(
            "m",
            "n_communities",
            F.col("l_int").alias("internal_edges"),
            F.round(
                (4 * F.col("m") * F.col("l_int") - F.col("sum_dc2"))
                / (4 * F.col("m") * F.col("m")),
                6,
            ).alias("modularity"),
        )
    )


# ---------------------------------------------------------------------------
# k-core decomposition: iterative degree peeling
# ---------------------------------------------------------------------------

def _support_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(a, b) co-purchase part pairs, a < b, bought together at least
    LINKPRED_MIN_SUPPORT times: the graph of k-core, LPA, two-hop reach
    and the clustering coefficient."""
    from .mining import LINKPRED_MIN_SUPPORT, copurchase_pairs

    return (
        copurchase_pairs(load_table(spark, sf_dir, "lineitem"))
        .filter(F.col("pair_count") >= LINKPRED_MIN_SUPPORT)
        .select(F.col("part_a").alias("a"), F.col("part_b").alias("b"))
    )


KCORE_K = 2
KCORE_MAX_ROUNDS = 100  # safety bound; peel rounds = longest chain of
# cascading removals, observed <= ~10 on every shipped corpus


def kcore_peel(
    edges: DataFrame,
    k: int = KCORE_K,
    max_rounds: int = KCORE_MAX_ROUNDS,
) -> tuple[DataFrame, DataFrame, int, bool]:
    """Peel to the k-core (maximal subgraph with min degree >= k) of an
    undirected (a < b) edge list: drop all vertices with current degree
    < k, delete their edges, repeat to the (unique,
    removal-order-independent) fixpoint. Each round is one degree agg +
    two anti-joins, and the loop stops when a round keeps every edge (a
    sub-k vertex always owns >= 1 edge, so "no edge removed" <=> "removal
    set empty").

    Returns (core_vertices, core_edges, peel_rounds, converged):
    core_edges is the loop's final (materialized) edge set, the subgraph
    induced by the core; peel_rounds counts rounds that removed >= 1
    vertex; converged is True ONLY if the loop observed the empty removal
    set within max_rounds. If the cascade exhausts the bound, the
    non-fixpoint residue is returned with converged=False."""

    def peel(cur: DataFrame) -> DataFrame:
        deg = (
            cur.select(F.col("a").alias("v"))
            .unionAll(cur.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        bad = deg.filter(F.col("d") < k).select("v")
        return cur.join(bad, cur["a"] == bad["v"], "left_anti").join(
            bad, cur["b"] == bad["v"], "left_anti"
        )

    loop = iterate(
        "k-core", edges, peel, max_rounds, until=UNCHANGED, strict=False
    )
    cur = loop.state
    core = (
        cur.select(F.col("a").alias("v"))
        .unionAll(cur.select(F.col("b").alias("v")))
        .distinct()
    )
    # the round that observes the fixpoint removes nothing
    return core, cur, loop.rounds - loop.converged, loop.converged


def kcore_vertices(edges: DataFrame, k: int = KCORE_K) -> DataFrame:
    """Vertices of the k-core; see kcore_peel for the algorithm."""
    return kcore_peel(edges, k)[0]


@register(
    "graph_kcore",
    headline=True,  # bench seat for the iterative driver-loop plan class
    # (bounded rounds + a checkpoint per round) — VERDICT r7 #6: the one family
    # with no bench representation, and the likeliest to regress from a
    # lineage/checkpoint change.
    oracle=f"""
WITH RECURSIVE {_ITEMS_DUCK},
edges AS MATERIALIZED (
  -- MATERIALIZED (r13): referenced inside the recursive peel term, so
  -- inlining re-plans the co-purchase self-join ONCE PER ROUND — the
  -- r12 5x chunk-timeout class (cf. _hits_oracle)
  SELECT a.l_partkey AS a, b.l_partkey AS b
  FROM it a JOIN it b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
-- Iterative peel as a recursive CTE (VERDICT r7 #4), EDGE-based since
-- r15: round r carries the EDGE set surviving r bulk-removal rounds —
-- the exact state the Spark loop iterates — and emits a new round only
-- when the edge count actually dropped. The r13-era vertex-set
-- recursion over-counted rounds by one on topologies where a vertex is
-- ISOLATED by the same round that removes its last neighbors: the
-- engine's implicit edge-derived vertex set drops it with its edges,
-- while an explicit vertex set pays one extra round to shed it (found
-- by the r15 fresh-seed 5x differential: peel_rounds 8 vs 9, core
-- identical; ground-truth bulk peel = 8 edge-changing rounds).
peel(round, a, b) AS (
  SELECT 0, a, b FROM edges
  UNION ALL
  SELECT round + 1, a, b FROM (
    WITH prev AS (SELECT round, a, b FROM peel),
    deg AS (
      SELECT v, COUNT(*) AS d FROM (
        SELECT a AS v FROM prev UNION ALL SELECT b FROM prev
      ) GROUP BY v
    ),
    nxt AS MATERIALIZED (
      SELECT p.round, p.a, p.b FROM prev p
      JOIN deg da ON p.a = da.v JOIN deg db ON p.b = db.v
      WHERE da.d >= {KCORE_K} AND db.d >= {KCORE_K}
    )
    SELECT round, a, b FROM nxt
    WHERE (SELECT COUNT(*) FROM nxt) < (SELECT COUNT(*) FROM prev)
      AND round < {KCORE_MAX_ROUNDS}
  )
),
last AS (SELECT MAX(round) AS mr FROM peel),
core_e AS (SELECT a, b FROM peel, last WHERE round = mr),
cand_deg AS (
  SELECT v, COUNT(*) AS d FROM (
    SELECT a AS v FROM core_e UNION ALL SELECT b FROM core_e
  ) GROUP BY v
),
-- The last emitted edge set is the true core iff it is a fixpoint
-- (every endpoint keeps degree >= k). The only way it is NOT is the
-- empty-core collapse (an empty round cannot be emitted) — unless the
-- round cap was hit, where the non-fixpoint residue IS the defined
-- result.
ok AS (
  SELECT COALESCE(MIN(CASE WHEN d >= {KCORE_K} THEN 1 ELSE 0 END), 0) = 1
     AS is_core
  FROM cand_deg
),
meta AS (
  SELECT CAST(LEAST(mr + CASE WHEN ok.is_core THEN 0 ELSE 1 END,
                    {KCORE_MAX_ROUNDS}) AS BIGINT) AS peel_rounds,
         LEAST(mr + CASE WHEN ok.is_core THEN 0 ELSE 1 END,
               {KCORE_MAX_ROUNDS}) <= {KCORE_MAX_ROUNDS - 1} AS converged
  FROM last, ok
)
SELECT CAST(d.v AS BIGINT) AS v,
       CAST(d.d AS BIGINT) AS core_degree,
       meta.peel_rounds, meta.converged
FROM cand_deg d, ok, meta
WHERE ok.is_core OR (SELECT mr FROM last) >= {KCORE_MAX_ROUNDS}
""",
    doc=f"k-core decomposition (k={KCORE_K}; Seidman 1983 — the "
    "cohesive-subgraph peel behind community cores and graph "
    "sampling): iteratively remove vertices of degree < k from the "
    "support-2 co-purchase graph until the unique fixpoint. The peel "
    "is an inherently iterative computation (like connected "
    "components): a driver loop of degree-agg + anti-join rounds with "
    "per-round lineage truncation; rounds = cascade depth, "
    "bounded and observable. FULL VALUE ORACLE (VERDICT r7 #4): exact "
    "core membership with per-vertex in-core degree, replayed in "
    "DuckDB by a recursive-CTE peel; peel_rounds and converged are "
    "computed on BOTH sides (Spark from the actual loop exit, SQL "
    "from the recursion depth + fixpoint test), never assumed.",
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    # kcore_peel materializes its input as round 0 of its loop.
    _, core_edges, rounds, converged = kcore_peel(_support_edges(spark, sf_dir))
    # The degree aggregate's keys ARE the core vertex set (every core
    # vertex owns >= k >= 1 edges).
    core_deg = (
        core_edges.select(F.col("a").alias("v"))
        .unionAll(core_edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("core_degree"))
    )
    return core_deg.select(
        F.col("v").cast("bigint").alias("v"),
        "core_degree",
        F.lit(rounds).cast("bigint").alias("peel_rounds"),
        F.lit(converged).alias("converged"),
    )


# ---------------------------------------------------------------------------
# Hierarchy (BOM-style) subtree rollup: ancestor-explode aggregation
# ---------------------------------------------------------------------------

HIER_FANOUT = 4  # parent(p) = p div 4 -> a complete 4-ary tree over parts
HIER_TOPK = 20


@register(
    "graph_hierarchy_rollup",
    oracle=f"""
WITH nodes AS (
  SELECT p_partkey AS id,
    CAST(round(p_retailprice * 100) AS BIGINT) AS cents
  FROM part
),
chains AS (
  -- each node contributes its cents to every ancestor incl. itself;
  -- ancestor k levels up is id // {HIER_FANOUT}^k (root = 0), chain
  -- length <= log_{HIER_FANOUT}(max id)
  SELECT (id // CAST(pow({HIER_FANOUT}, k) AS BIGINT)) AS anc, cents
  FROM nodes, unnest(generate_series(0, 30)) AS g(k)
  WHERE CAST(pow({HIER_FANOUT}, k) AS BIGINT) <= GREATEST(id, 1)
     OR k = 0
),
roll AS (
  SELECT anc, CAST(SUM(cents) AS BIGINT) AS subtree_cents,
         CAST(COUNT(*) AS BIGINT) AS subtree_nodes
  FROM chains GROUP BY anc
)
SELECT CAST(ROW_NUMBER() OVER (
         ORDER BY subtree_cents DESC, anc) AS INT) AS rnk,
  CAST(anc AS BIGINT) AS node_id, subtree_nodes, subtree_cents
FROM roll
QUALIFY rnk <= {HIER_TOPK}
ORDER BY rnk
""",
    doc="Hierarchical subtree rollup (the BOM / org-chart / category-"
    "tree aggregation every warehouse needs): parts form a complete "
    f"{HIER_FANOUT}-ary tree via parent(p) = p div {HIER_FANOUT}, and "
    "each node's retail cents roll up to every ancestor. The "
    "recursive formulation (iterate joins up the tree, or WITH "
    "RECURSIVE) is replaced by the closed-form ancestor chain "
    f"[p, p/{HIER_FANOUT}, p/{HIER_FANOUT}^2, ...] — computed as a "
    "pure array expression (no join, no iteration, no driver loop), "
    "exploded, and aggregated once: tree depth bounds the fan-out at "
    "log_fanout(n) rows per node (~8 at 20k parts), so the whole "
    "rollup is ONE explode + ONE shuffle at any corpus size. Top-20 "
    "subtrees by exact cents. When parent pointers are arbitrary "
    "(not arithmetic), the same plan runs off a precomputed "
    "ancestor-closure table — the standard warehouse trick this "
    "operator demonstrates.",
)
def graph_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    nodes = part.select(
        F.col("p_partkey").alias("id"),
        F.round(F.col("p_retailprice") * 100).cast("bigint").alias("cents"),
    )
    # ancestor chain as a pure array expression: divide by fanout until 0,
    # bounded by 31 levels (fanout^31 > any bigint id in practice)
    chain = F.expr(
        f"""
        transform(
          filter(sequence(0, 30),
                 k -> CAST(pow({HIER_FANOUT}, k) AS BIGINT) <= greatest(id, 1)
                      OR k = 0),
          k -> id div CAST(pow({HIER_FANOUT}, k) AS BIGINT))
        """
    )
    roll = (
        nodes.select(F.explode(chain).alias("anc"), "cents")
        .groupBy("anc")
        .agg(
            F.sum("cents").cast("bigint").alias("subtree_cents"),
            F.count(F.lit(1)).cast("bigint").alias("subtree_nodes"),
        )
    )
    # TakeOrdered top-k over the ancestor rollup (node-cardinality-sized
    # at 100 TB) — see ranks.global_topk for why the rank-filter idiom
    # would single-task-sort it.
    from .ranks import global_topk

    return (
        global_topk(
            roll, [F.desc("subtree_cents"), F.asc("anc")], HIER_TOPK,
            out="rnk",
        )
        .select(
            "rnk",
            F.col("anc").cast("bigint").alias("node_id"),
            "subtree_nodes",
            "subtree_cents",
        )
        .orderBy("rnk")
    )


# ---------------------------------------------------------------------------
# Label propagation (community detection): synchronous argmax-label rounds
# ---------------------------------------------------------------------------

LPA_ROUNDS = 4  # fixed synchronous rounds -> deterministic, SQL-unrollable


def _lpa_oracle() -> str:
    """Unrolled-CTE DuckDB replay of LPA_ROUNDS synchronous label
    updates (new label = most frequent neighbor label, ties to the
    smallest label) over the support-2 co-purchase graph."""
    sql = f"""
WITH {_ITEMS_DUCK},
edges AS MATERIALIZED (
  SELECT a.l_partkey AS a, b.l_partkey AS b
  FROM it a JOIN it b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
sym AS MATERIALIZED (
  SELECT a AS v, b AS u FROM edges UNION ALL SELECT b, a FROM edges
),
l0 AS (SELECT DISTINCT v, v AS label FROM sym)"""
    prev = "l0"
    # MATERIALIZED per round (r13): inlined references otherwise replay
    # sym -> edges -> it (the co-purchase self-join) once per round —
    # the r12 5x sweep chunk-timeout class; cf. _hits_oracle.
    for i in range(1, LPA_ROUNDS + 1):
        sql += f""",
n{i} AS MATERIALIZED (
  SELECT s.v, l.label, COUNT(*) AS c
  FROM sym s JOIN {prev} l ON s.u = l.v GROUP BY 1, 2
),
l{i} AS MATERIALIZED (
  SELECT v, label FROM (
    SELECT v, label,
      ROW_NUMBER() OVER (PARTITION BY v ORDER BY c DESC, label) AS rn
    FROM n{i}) WHERE rn = 1
)"""
        prev = f"l{i}"
    sql += f"""
SELECT l.v, l.label AS community,
       CAST(COUNT(*) OVER (PARTITION BY l.label) AS BIGINT)
         AS community_size
FROM {prev} l
"""
    return sql


@register(
    "graph_label_propagation",
    oracle=_lpa_oracle(),
    doc=f"Label-propagation community detection (Raghavan et al. 2007), "
    f"made DETERMINISTIC for cross-engine replay: {LPA_ROUNDS} fixed "
    "SYNCHRONOUS rounds (the async variant is order-dependent), new "
    "label = most frequent neighbor label with ties to the smallest "
    "label. Each round is one join + one count shuffle + one per-vertex "
    "argmax window, labels checkpointed between rounds — the "
    "third member of the iterative-graph family next to CC and k-core. "
    "FULL value oracle: the unrolled recursive replay checks exact "
    "per-vertex community assignment and community sizes.",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _support_edges(spark, sf_dir)
    sym, _ = materialize(
        edges.select(F.col("a").alias("v"), F.col("b").alias("u")).unionAll(
            edges.select(F.col("b").alias("v"), F.col("a").alias("u"))
        )
    )
    w = Window.partitionBy("v").orderBy(F.desc("c"), F.asc("label"))

    def relabel(labels: DataFrame) -> DataFrame:
        counts = (
            sym.join(labels.select(F.col("v").alias("u"), "label"), "u")
            .groupBy("v", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        return (
            counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("v", "label")
        )

    # Round 1 starts from singleton labels and the edges are distinct, so
    # every neighbor label counts once and the argmax is the smallest
    # neighbor: one min aggregate instead of a join, a count and a window.
    first = sym.groupBy("v").agg(F.min("u").alias("label"))
    labels = iterate("label propagation", first, relabel, LPA_ROUNDS - 1).state
    return labels.select(
        "v",
        F.col("label").alias("community"),
        F.count(F.lit(1))
        .over(Window.partitionBy("label"))
        .cast("bigint")
        .alias("community_size"),
    )


# ---------------------------------------------------------------------------
# Two-hop reach: friend-of-friend audience size per vertex
# ---------------------------------------------------------------------------


@register(
    "graph_2hop_reach",
    oracle=f"""
WITH {_ITEMS_DUCK},
edges AS (
  SELECT a.l_partkey AS a, b.l_partkey AS b
  FROM it a JOIN it b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
sym AS (
  SELECT a AS v, b AS u FROM edges UNION ALL SELECT b, a FROM edges
),
two AS (
  SELECT DISTINCT s1.v, s2.u AS w
  FROM sym s1 JOIN sym s2 ON s1.u = s2.v
  WHERE s2.u != s1.v
),
strict2 AS (
  SELECT t.v, t.w FROM two t
  LEFT JOIN sym d ON t.v = d.v AND t.w = d.u
  WHERE d.v IS NULL
),
deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS n_1hop FROM sym GROUP BY v)
SELECT d.v, d.n_1hop,
  CAST(COALESCE(s.n_2hop, 0) AS BIGINT) AS n_2hop
FROM deg d LEFT JOIN (
  SELECT v, COUNT(*) AS n_2hop FROM strict2 GROUP BY v
) s ON d.v = s.v
""",
    doc="Two-hop reach (friend-of-friend audience): per vertex, the "
    "count of distinct vertices exactly 2 hops away — reachable "
    "through a neighbor but neither self nor a direct neighbor. The "
    "influence/recommendation-candidate size metric. One wedge "
    "self-join on the symmetric edge list + distinct + an anti-join "
    "against direct edges; wedge fan-out is sum(deg^2), which the "
    "degree-capped variant (cf. graph_link_prediction_jaccard) bounds "
    "on power-law graphs at 100 TB. Exact value oracle.",
)
def graph_2hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _support_edges(spark, sf_dir)
    sym, _ = materialize(
        edges.select(F.col("a").alias("v"), F.col("b").alias("u")).unionAll(
            edges.select(F.col("b").alias("v"), F.col("a").alias("u"))
        )
    )
    two = (
        sym.alias("s1")
        .join(
            sym.select(
                F.col("v").alias("u"), F.col("u").alias("w")
            ).alias("s2"),
            "u",
        )
        .filter(F.col("w") != F.col("v"))
        .select("v", "w")
        .distinct()
    )
    strict2 = two.join(
        sym.select("v", F.col("u").alias("w")), ["v", "w"], "left_anti"
    )
    deg = sym.groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_1hop")
    )
    reach = strict2.groupBy("v").agg(
        F.count(F.lit(1)).alias("n_2hop")
    )
    return deg.join(reach, "v", "left").select(
        "v",
        "n_1hop",
        F.coalesce("n_2hop", F.lit(0)).cast("bigint").alias("n_2hop"),
    )


# ---------------------------------------------------------------------------
# Local clustering coefficient: per-vertex triangle density
# ---------------------------------------------------------------------------


@register(
    "graph_clustering_coefficient",
    oracle=f"""
WITH {_ITEMS_DUCK},
edges AS (
  SELECT a.l_partkey AS a, b.l_partkey AS b
  FROM it a JOIN it b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM edges e1
  JOIN edges e2 ON e1.b = e2.a
  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
),
tv AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
    SELECT x AS v FROM tri UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
  ) GROUP BY v
),
deg AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS degree FROM (
    SELECT a AS v FROM edges UNION ALL SELECT b FROM edges
  ) GROUP BY v
)
SELECT d.v, d.degree,
  CAST(COALESCE(t.n_tri, 0) AS BIGINT) AS n_triangles,
  CAST(CASE WHEN d.degree >= 2
       THEN (2000000 * COALESCE(t.n_tri, 0))
            // (d.degree * (d.degree - 1))
       ELSE 0 END AS BIGINT) AS lcc_micro
FROM deg d LEFT JOIN tv t ON d.v = t.v
""",
    doc="Local clustering coefficient per vertex: 2*triangles(v) / "
    "(deg(v)*(deg(v)-1)) in exact integer micro-units — the "
    "community-tightness score under every friend-recommendation and "
    "spam-graph heuristic (global triangle count: "
    "graph_triangle_count). Triangles via the canonical a<b<c wedge "
    "close (two joins on the deduplicated support-2 edge list), then "
    "each triangle credits its three corners through a 3-row explode "
    "— wedge fan-out bounded the same way as the link-prediction "
    "query on power-law graphs.",
)
def graph_clustering_coefficient(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    edges, _ = materialize(_support_edges(spark, sf_dir))
    e1 = edges.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = edges.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = edges.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    tv = (
        tri.select(F.col("x").alias("v"))
        .unionAll(tri.select(F.col("y").alias("v")))
        .unionAll(tri.select(F.col("z").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_tri"))
    )
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )
    return deg.join(tv, "v", "left").select(
        "v",
        "degree",
        F.coalesce("n_tri", F.lit(0)).cast("bigint").alias("n_triangles"),
        F.when(
            F.col("degree") >= 2,
            F.expr(
                "CAST((2000000 * COALESCE(n_tri, 0))"
                " div (degree * (degree - 1)) AS BIGINT)"
            ),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("lcc_micro"),
    )


# ---------------------------------------------------------------------------
# HITS hubs & authorities (Kleinberg 1999) — the directed-centrality
# complement to PageRank. On the purchase graph customers are pure hubs
# (they only point) and suppliers pure authorities (they are only pointed
# at), so the classic bipartite HITS interpretation applies directly:
# authoritative suppliers are those bought from by customers who buy
# broadly. Integer fixed point (micro-units, floor divisions) exactly as
# graph_pagerank_suppliers, so the DuckDB oracle replays the whole
# trajectory with unrolled CTEs and every value is hash-checked.

HITS_SCALE = 10**6  # micro-units; raw sums stay < 2^63 / SCALE at the
# shipped SFs (sum over <= |customers| hubs of <= SCALE each). At extreme
# degree (10^7+ in-edges) renormalize pre-sum or widen to 128-bit.
HITS_ITERS = 4


def _purchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed DISTINCT customer -> supplier purchase edges."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").alias("cust"),
            F.col("l_suppkey").alias("supp"),
        )
        .distinct()
    )


def hits_int(pairs: DataFrame, iters: int = HITS_ITERS) -> DataFrame:
    """Integer fixed-point HITS on directed (cust, supp) edges.

    Per round: auth_raw(s) = sum of hub over in-edges (one
    Exchange(supp)); normalize a = (raw * SCALE) div max(raw); then the
    mirrored hub update (one Exchange(cust)). max(raw) is a 1-row
    broadcast. The loop state is the authority vector: round 1's comes
    from the all-SCALE hubs, and every later round first updates the
    hubs from it."""
    pairs, _ = materialize(pairs)

    def half(scores: DataFrame, src: str, dst: str, out: str) -> DataFrame:
        """Per `dst`: the sum of `scores` (columns `src`, score) over its
        edges, max-normalized to SCALE."""
        raw = pairs.join(scores, src).groupBy(dst).agg(
            F.sum(scores.columns[1]).cast("bigint").alias("raw")
        )
        mx = raw.agg(F.max("raw").alias("mx"))
        return raw.crossJoin(F.broadcast(mx)).select(
            dst, F.expr(f"(raw * {HITS_SCALE}) div mx").cast("bigint").alias(out)
        )

    def hits_round(auth: DataFrame) -> DataFrame:
        return half(half(auth, "supp", "cust", "h"), "cust", "supp", "a")

    hubs = pairs.select("cust").distinct().select(
        "cust", F.lit(HITS_SCALE).cast("bigint").alias("h")
    )
    auth = half(hubs, "cust", "supp", "a")
    return iterate("hits", auth, hits_round, iters - 1).state


def _hits_oracle() -> str:
    # Every per-round CTE is MATERIALIZED: the raw CTEs are referenced
    # twice (value + max), and DuckDB's default single-use inlining
    # otherwise recomputes the entire upstream per reference — an
    # exponential recompute tree over the unrolled rounds that spilled
    # >45 GB at the 5x graph density (r12 sweep infra FAIL). Forcing
    # materialization bounds per-round state at O(nodes + edges),
    # mirroring the Spark side's per-round checkpoint.
    s = HITS_SCALE
    sql = f"""
WITH pairs AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
h0 AS MATERIALIZED (
  SELECT DISTINCT cust, CAST({s} AS BIGINT) AS h FROM pairs
)"""
    prev_h = "h0"
    for i in range(1, HITS_ITERS + 1):
        sql += f""",
a{i}r AS MATERIALIZED (
  SELECT supp, CAST(SUM(h) AS BIGINT) AS raw
  FROM pairs JOIN {prev_h} USING (cust) GROUP BY supp
),
a{i}m AS (SELECT MAX(raw) AS mx FROM a{i}r),
a{i} AS MATERIALIZED (
  SELECT supp, CAST((raw * {s}) // mx AS BIGINT) AS a FROM a{i}r, a{i}m
),
h{i}r AS MATERIALIZED (
  SELECT cust, CAST(SUM(a) AS BIGINT) AS raw
  FROM pairs JOIN a{i} USING (supp) GROUP BY cust
),
h{i}m AS (SELECT MAX(raw) AS mx FROM h{i}r),
h{i} AS MATERIALIZED (
  SELECT cust, CAST((raw * {s}) // mx AS BIGINT) AS h FROM h{i}r, h{i}m
)"""
        prev_h = f"h{i}"
    sql += f"""
SELECT CAST(supp AS BIGINT) AS suppkey, a AS authority_micro
FROM a{HITS_ITERS}
"""
    return sql


@register(
    "graph_hits_authorities",
    oracle=_hits_oracle(),
    doc="HITS hubs & authorities (Kleinberg 1999) on the directed "
    "customer->supplier purchase graph — the directed-centrality "
    "complement to graph_pagerank_suppliers. FULL value oracle: integer "
    "fixed-point updates (micro-unit BIGINTs, floor-division max "
    "normalization per half-round) replayed by DuckDB with unrolled "
    "CTEs, so every supplier's exact authority value is hash-checked. "
    "Per-round cost is one Exchange(supp) + one Exchange(cust) over "
    "O(edges); the normalizing max is a 1-row broadcast. Fixture "
    "ordering + max-is-SCALE invariants in tests/test_pagerank.py.",
)
def graph_hits_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    auth = hits_int(_purchase_pairs(spark, sf_dir))
    return auth.select(
        F.col("supp").cast("long").alias("suppkey"),
        F.col("a").alias("authority_micro"),
    )


# ---------------------------------------------------------------------------
# Degree assortativity (Newman 2002) — do high-degree parts co-purchase
# with other high-degree parts? The one-number mixing diagnostic that
# tells you whether hub-targeted dedup/caching strategies will pay off.

_ASSORT_FINISH = (
    "ROUND(CAST(se * sjk - sj * sk AS DOUBLE) / "
    "SQRT(CAST(se * sjj - sj * sj AS DOUBLE)"
    " * CAST(se * skk - sk * sk AS DOUBLE)), 6)"
)


@register(
    "graph_assortativity",
    oracle=f"""
WITH {{items}},
epairs AS (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM it a JOIN it b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
sym AS (
  SELECT a AS src, b AS dst FROM epairs
  UNION ALL SELECT b, a FROM epairs
),
deg AS (SELECT src AS v, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY src),
ends AS (
  SELECT dj.d AS j, dk.d AS k
  FROM sym e JOIN deg dj ON e.src = dj.v JOIN deg dk ON e.dst = dk.v
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS se,
         CAST(SUM(j) AS BIGINT) AS sj, CAST(SUM(k) AS BIGINT) AS sk,
         CAST(SUM(j * k) AS BIGINT) AS sjk,
         CAST(SUM(j * j) AS BIGINT) AS sjj,
         CAST(SUM(k * k) AS BIGINT) AS skk
  FROM ends
)
SELECT se AS n_edge_ends, sj AS sum_j, sjk AS sum_jk, sjj AS sum_jj,
       {_ASSORT_FINISH} AS assortativity_r6
FROM m
""".format(items=_ITEMS_DUCK.strip()),
    doc="Degree assortativity coefficient (Newman 2002) of the "
    "co-purchase part graph: Pearson correlation of endpoint degrees "
    "over the symmetrized edge list. All five moments are exact BIGINT "
    "cross-products (one O(edges) scan after two degree joins — the "
    "degree table is broadcast-sized); the closing r is one fixed-shape "
    "IEEE expression shared verbatim with the oracle. Negative r = "
    "hubs attach to leaves (disassortative, typical for co-purchase); "
    "star/clique fixtures pin the -1 and balanced cases in "
    "tests/test_pagerank.py.",
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .mining import copurchase_edges

    edges = copurchase_edges(load_table(spark, sf_dir, "lineitem"))
    return assortativity(edges)


def assortativity(edges: DataFrame) -> DataFrame:
    """Newman degree assortativity over undirected (a, b) edges."""
    sym = edges.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionAll(edges.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    deg = sym.groupBy(F.col("src").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    ends = (
        sym.join(deg.select(F.col("v").alias("src"), F.col("d").alias("j")), "src")
        .join(deg.select(F.col("v").alias("dst"), F.col("d").alias("k")), "dst")
        .select("j", "k")
    )
    m = ends.agg(
        F.count(F.lit(1)).cast("bigint").alias("se"),
        F.sum("j").cast("bigint").alias("sj"),
        F.sum("k").cast("bigint").alias("sk"),
        F.sum(F.col("j") * F.col("k")).cast("bigint").alias("sjk"),
        F.sum(F.col("j") * F.col("j")).cast("bigint").alias("sjj"),
        F.sum(F.col("k") * F.col("k")).cast("bigint").alias("skk"),
    )
    return m.select(
        F.col("se").alias("n_edge_ends"),
        F.col("sj").alias("sum_j"),
        F.col("sjk").alias("sum_jk"),
        F.col("sjj").alias("sum_jj"),
        F.expr(_ASSORT_FINISH).alias("assortativity_r6"),
    )


# ---------------------------------------------------------------------------
# Rich-club coefficient (Zhou & Mondragon 2004) — do high-degree parts
# preferentially co-purchase with each other? phi(k) = edges among
# deg>k nodes / C(n_k, 2), over a fixed threshold ladder.

RICH_CLUB_KS = [2, 4, 8, 16, 32]


@register(
    "graph_rich_club",
    oracle=f"""
WITH {{items}},
epairs AS MATERIALIZED (
  -- MATERIALIZED (r13): epairs x3 and deg x6 are re-planned per
  -- reference under inlining — each a replay of the co-purchase
  -- self-join; the r12 5x chunk-timeout class (cf. _hits_oracle)
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM it a JOIN it b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS MATERIALIZED (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT a AS v FROM epairs UNION ALL SELECT b FROM epairs
  ) GROUP BY v
),
ks AS (SELECT CAST(unnest({RICH_CLUB_KS}) AS BIGINT) AS k),
club AS (
  -- COUNT(deg.v), not COUNT(*): an empty club must read 0, not the
  -- LEFT JOIN's single all-NULL row
  SELECT ks.k, CAST(COUNT(deg.v) AS BIGINT) AS n_k
  FROM ks LEFT JOIN deg ON deg.d > ks.k GROUP BY ks.k
),
club_edges AS (
  SELECT ks.k, CAST(COUNT(*) AS BIGINT) AS e_k
  FROM ks LEFT JOIN epairs e ON TRUE
  JOIN deg da ON da.v = e.a AND da.d > ks.k
  JOIN deg db ON db.v = e.b AND db.d > ks.k
  GROUP BY ks.k
)
SELECT c.k, c.n_k, COALESCE(ce.e_k, 0) AS e_k,
  CASE WHEN c.n_k >= 2
       THEN CAST((2000000 * COALESCE(ce.e_k, 0))
                 // (c.n_k * (c.n_k - 1)) AS BIGINT)
       ELSE CAST(0 AS BIGINT) END AS phi_micro
FROM club c LEFT JOIN club_edges ce USING (k)
""".format(items=_ITEMS_DUCK.strip()),
    doc="Rich-club coefficient (Zhou & Mondragon 2004) of the "
    "co-purchase graph over a fixed degree-threshold ladder: phi(k) = "
    "2*E_k / (n_k*(n_k-1)) in exact integer micro-units, where the "
    "club is nodes with degree > k. Plan: one degree aggregate "
    "(broadcast back onto the edge list), one conditional count per "
    "rung of the O(1) ladder — no self-join on the node set. Pairs "
    "with graph_assortativity: assortativity is the correlation, the "
    "rich club is the mechanism.",
)
def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .mining import copurchase_edges

    edges = copurchase_edges(load_table(spark, sf_dir, "lineitem"))
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    ks = spark.createDataFrame(
        [(int(k),) for k in RICH_CLUB_KS], "k long"
    )
    club = ks.join(
        F.broadcast(deg), deg.d > ks.k, "left"
    ).groupBy("k").agg(F.count("v").cast("bigint").alias("n_k"))
    e = (
        edges.join(
            deg.select(F.col("v").alias("a"), F.col("d").alias("da")), "a"
        )
        .join(deg.select(F.col("v").alias("b"), F.col("d").alias("db")), "b")
        .crossJoin(F.broadcast(ks))
        .filter((F.col("da") > F.col("k")) & (F.col("db") > F.col("k")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("e_k"))
    )
    return (
        club.join(e, "k", "left")
        .select(
            "k",
            "n_k",
            F.coalesce("e_k", F.lit(0)).cast("bigint").alias("e_k"),
            F.when(
                F.col("n_k") >= 2,
                F.expr(
                    "CAST((2000000 * COALESCE(e_k, 0))"
                    " div (n_k * (n_k - 1)) AS BIGINT)"
                ),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("phi_micro"),
        )
    )
