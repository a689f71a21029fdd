"""Frequent-pattern mining over the order/lineitem basket data.

Market-basket co-occurrence (top co-purchased part pairs) and triangle
counting on the induced co-purchase graph — the pattern-mining layer a
recommendation / feature pipeline runs on transaction logs. Nothing like it
exists in the reference (its single job is the delay pivot,
HCompute/Main.java:50-126); these extend the engine per SURVEY §2b.

Spark-first design, co-purchase pairs: the naive formulation is a self-join
of (order, part) on the order key — at 100 TB that shuffles the fact table
TWICE and explodes hot orders quadratically IN THE JOIN. Instead we build
per-order baskets with one groupBy (``collect_set``), cap the basket size
(quadratic work per basket is then bounded by CAP²/2 ≈ 2k pairs), and
expand pairs JOINLESSLY with a codegen'd higher-order ``transform`` over
the sorted array — the same posting-list trick as ngram-jaccard dedup.
One shuffle to build baskets, one map-side pair expansion, one partial-agg
shuffle on (part_a, part_b), then a global TakeOrderedAndProject top-k.

Triangle counting: triangles live on the GLOBAL distinct edge set (a
triangle's three edges can come from three different orders), so it cannot
be basket-local. Canonical a<b<c orientation counts each triangle exactly
once: wedges = edges ⋈ edges on the middle vertex, closed by a semi join
back to edges. Scale knob (documented, not needed at these SFs): orient
edges low-degree → high-degree instead of a<b, which bounds per-vertex
wedge fan-out by sqrt(edges) (standard power-law hardening); the a<b
orientation is kept here because DuckDB can run the identical SQL as an
oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.registry import register
from ..sources.catalog import load_table
from .dedup import word_ngrams
from .iterate import RANK_ITERS, rank_int, rank_int_duck

BASKET_CAP = 64  # max distinct parts per order entering pair expansion

# All unordered pairs (a, b) with a < b from a sorted deduped array —
# element i pairs with every later element (slice is 1-based).
_PAIRS_EXPR = """
flatten(transform(parts, (x, i) ->
  transform(slice(parts, i + 2, size(parts) - i - 1),
            y -> struct(x AS a, y AS b))))
"""


def order_baskets(lineitem: DataFrame, cap: int = BASKET_CAP) -> DataFrame:
    """Per-order sorted distinct part arrays, capped at ``cap`` parts."""
    return (
        lineitem.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
        .filter(F.size("parts").between(2, cap))
    )


def copurchase_pairs(lineitem: DataFrame, cap: int = BASKET_CAP) -> DataFrame:
    """(part_a, part_b, pair_count) for every co-purchased part pair."""
    return (
        order_baskets(lineitem, cap)
        .select(F.explode(F.expr(_PAIRS_EXPR)).alias("pr"))
        .select(F.col("pr.a").alias("part_a"), F.col("pr.b").alias("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("pair_count"))
    )


# The oracle uses the textbook self-join formulation — deliberately a
# DIFFERENT algorithm from the joinless array expansion it checks.
_ITEMS_DUCK = f"""
items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
sized AS (
  SELECT l_orderkey FROM items
  GROUP BY l_orderkey HAVING COUNT(*) BETWEEN 2 AND {BASKET_CAP}
),
it AS (SELECT i.* FROM items i JOIN sized USING (l_orderkey))
"""

_PAIRS_ORACLE = f"""
WITH {_ITEMS_DUCK}
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS pair_count
FROM it a JOIN it b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
ORDER BY pair_count DESC, part_a, part_b
LIMIT 20
"""


@register(
    "mining_copurchase_pairs",
    oracle=_PAIRS_ORACLE,
    doc="Top-20 co-purchased part pairs via joinless capped-basket array "
    "expansion (oracle uses the self-join formulation).",
)
def mining_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        copurchase_pairs(load_table(spark, sf_dir, "lineitem"))
        .orderBy(F.desc("pair_count"), "part_a", "part_b")
        .limit(20)
    )


def copurchase_edges(lineitem: DataFrame, cap: int = BASKET_CAP) -> DataFrame:
    """Distinct undirected co-purchase edges, canonically oriented a < b."""
    return (
        copurchase_pairs(lineitem, cap)
        .select(F.col("part_a").alias("a"), F.col("part_b").alias("b"))
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count on canonically-oriented (a < b) edges."""
    e1 = edges
    e2 = edges.select(F.col("a").alias("b"), F.col("b").alias("c"))
    # Each triangle a<b<c corresponds to exactly one wedge row (edges are
    # distinct, so wedge rows are distinct per (a,b,c)); LEFT SEMI keeps
    # every closed wedge row without multiplying by closing-edge matches.
    wedges = e1.join(e2, "b").select("a", "c")
    closing = edges.select(F.col("a"), F.col("b").alias("c"))
    return wedges.join(closing, ["a", "c"], "left_semi").agg(
        F.count(F.lit(1)).alias("triangle_count")
    )


_TRIANGLE_ORACLE = f"""
WITH {_ITEMS_DUCK},
edges AS (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM it a JOIN it b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)
SELECT COUNT(*) AS triangle_count
FROM edges e1
JOIN edges e2 ON e2.a = e1.b
JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
"""


@register(
    "graph_triangle_count",
    oracle=_TRIANGLE_ORACLE,
    doc="Exact triangle count on the co-purchase part graph (a<b<c "
    "canonical wedges closed by semi join).",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return triangle_count(copurchase_edges(load_table(spark, sf_dir, "lineitem")))


MIN_PAIR_SUPPORT = 2  # absolute basket count for a pair to form rules


def association_rules(lineitem: DataFrame, cap: int = BASKET_CAP) -> DataFrame:
    """a→b rules with confidence and lift from capped baskets.

    confidence(a→b) = n(ab)/n(a); lift = confidence / (n(b)/N). Everything
    derives from two aggregates over the SAME basket build — item counts
    (explode, one shuffle on part) and pair counts (the joinless expansion)
    — then two broadcast joins of the tiny item-count side and a scalar
    basket total. No pass over the fact table beyond the basket groupBy.
    """
    baskets = order_baskets(lineitem, cap).cache()
    n_baskets = baskets.select(
        F.count(F.lit(1)).cast("double").alias("n_total")
    )
    item_counts = (
        baskets.select(F.explode("parts").alias("part"))
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("n_item"))
    )
    pairs = copurchase_pairs_from_baskets(baskets).filter(
        F.col("pair_count") >= MIN_PAIR_SUPPORT
    )
    # both rule directions from each unordered pair
    directed = pairs.select(
        F.col("part_a").alias("ante"), F.col("part_b").alias("cons"), "pair_count"
    ).unionAll(
        pairs.select(
            F.col("part_b").alias("ante"), F.col("part_a").alias("cons"), "pair_count"
        )
    )
    return (
        directed.join(
            F.broadcast(item_counts.withColumnRenamed("n_item", "n_ante")),
            directed["ante"] == item_counts["part"],
        )
        .drop("part")
        .join(
            F.broadcast(item_counts.withColumnRenamed("n_item", "n_cons")),
            F.col("cons") == item_counts["part"],
        )
        .drop("part")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "ante",
            "cons",
            "pair_count",
            F.round(
                F.col("pair_count").cast("double") / F.col("n_ante").cast("double"),
                6,
            ).alias("confidence"),
            F.round(
                (F.col("pair_count").cast("double") / F.col("n_ante").cast("double"))
                / (F.col("n_cons").cast("double") / F.col("n_total")),
                6,
            ).alias("lift"),
        )
    )


def copurchase_pairs_from_baskets(baskets: DataFrame) -> DataFrame:
    return (
        baskets.select(F.explode(F.expr(_PAIRS_EXPR)).alias("pr"))
        .select(F.col("pr.a").alias("part_a"), F.col("pr.b").alias("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("pair_count"))
    )


_RULES_ORACLE = f"""
WITH {_ITEMS_DUCK},
n AS (SELECT COUNT(DISTINCT l_orderkey)::DOUBLE AS n_total FROM it),
item_counts AS (
  SELECT l_partkey AS part, COUNT(*) AS n_item FROM it GROUP BY 1
),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS pair_count
  FROM it a JOIN it b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {MIN_PAIR_SUPPORT}
),
directed AS (
  SELECT part_a AS ante, part_b AS cons, pair_count FROM pairs
  UNION ALL
  SELECT part_b, part_a, pair_count FROM pairs
)
SELECT d.ante, d.cons, d.pair_count,
  ROUND(d.pair_count::DOUBLE / ia.n_item::DOUBLE, 6) AS confidence,
  ROUND((d.pair_count::DOUBLE / ia.n_item::DOUBLE)
        / (ic.n_item::DOUBLE / n.n_total), 6) AS lift
FROM directed d
JOIN item_counts ia ON d.ante = ia.part
JOIN item_counts ic ON d.cons = ic.part
CROSS JOIN n
ORDER BY lift DESC, ante, cons
LIMIT 20
"""


@register(
    "mining_assoc_rules",
    oracle=_RULES_ORACLE,
    doc="Association rules (confidence + lift) from capped baskets: item "
    "counts + joinless pair counts + two broadcast joins; top-20 by lift.",
)
def mining_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        association_rules(load_table(spark, sf_dir, "lineitem"))
        .orderBy(F.desc("lift"), "ante", "cons")
        .limit(20)
    )


# Triple expansion generalizes _PAIRS_EXPR: pick x at i, y at absolute
# 0-based position i+1+j, then everything after y (1-based slice start
# i+j+3). Work per basket is C(cap,3), still map-side and bounded.
_TRIPLES_EXPR = """
flatten(transform(parts, (x, i) ->
  flatten(transform(slice(parts, i + 2, size(parts) - i - 1), (y, j) ->
    transform(slice(parts, i + j + 3, size(parts) - i - j - 2),
              z -> struct(x AS a, y AS b, z AS c))))))
"""

MIN_TRIPLE_SUPPORT = 2


def frequent_triples(lineitem: DataFrame, cap: int = BASKET_CAP) -> DataFrame:
    """(part_a, part_b, part_c, triple_count) with support >= 2."""
    return (
        order_baskets(lineitem, cap)
        .filter(F.size("parts") >= 3)
        .select(F.explode(F.expr(_TRIPLES_EXPR)).alias("tr"))
        .select(
            F.col("tr.a").alias("part_a"),
            F.col("tr.b").alias("part_b"),
            F.col("tr.c").alias("part_c"),
        )
        .groupBy("part_a", "part_b", "part_c")
        .agg(F.count(F.lit(1)).alias("triple_count"))
        .filter(F.col("triple_count") >= MIN_TRIPLE_SUPPORT)
    )


_TRIPLES_ORACLE = f"""
WITH {_ITEMS_DUCK}
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, c.l_partkey AS part_c,
       COUNT(*) AS triple_count
FROM it a
JOIN it b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
JOIN it c ON b.l_orderkey = c.l_orderkey AND b.l_partkey < c.l_partkey
GROUP BY 1, 2, 3
HAVING COUNT(*) >= {MIN_TRIPLE_SUPPORT}
ORDER BY triple_count DESC, part_a, part_b, part_c
LIMIT 20
"""


@register(
    "mining_frequent_triples",
    oracle=_TRIPLES_ORACLE,
    doc="Frequent 3-itemsets via joinless capped-basket triple expansion "
    "(C(cap,3) map-side work per basket); oracle is the 3-way self-join.",
)
def mining_frequent_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        frequent_triples(load_table(spark, sf_dir, "lineitem"))
        .orderBy(F.desc("triple_count"), "part_a", "part_b", "part_c")
        .limit(20)
    )


@register(
    "mining_sequence_trigrams",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
    LEAD(event_type, 1) OVER w AS t2,
    LEAD(event_type, 2) OVER w AS t3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_type AS t1, t2, t3,
  CAST(COUNT(*) AS BIGINT) AS n_occurrences,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM seq
WHERE t3 IS NOT NULL
GROUP BY event_type, t2, t3
""",
    doc="Sequential-pattern mining: consecutive event-type TRIGRAMS per "
    "user (the order-sensitive pattern the co-occurrence miners cannot "
    "see), with occurrence and distinct-user support counts. One "
    "Exchange(user_id) for the lead() pass — both leads share a single "
    "Window node — then an O(types^3) aggregate; the (ts, event_id) "
    "sort key makes the sequence total-ordered and engine-deterministic.",
)
def mining_sequence_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id",
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(F.col("t3").isNotNull())
    return seq.groupBy("t1", "t2", "t3").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
        F.count_distinct("user_id").cast("bigint").alias("n_users"),
    )


# ---------------------------------------------------------------------------
# Link prediction: neighbor-set Jaccard over the co-purchase graph
# ---------------------------------------------------------------------------

LINKPRED_HUB_CAP = 256  # parts with degree > cap don't serve as the wedge
# center z: a hub of degree d generates d^2 candidate wedges, so one
# mega-hub would dominate the whole stage at scale. The cap is the same
# observable-bound pattern as BASKET_CAP; capped centers merely stop
# *introducing* pairs (their edges still count toward degrees/unions).
LINKPRED_MIN_SUPPORT = 2  # co-purchase count for a REAL edge: support-1
# "edges" in a basket corpus are mostly random collisions, and keeping
# them makes the graph dense (avg degree ~120 at sf0.1 -> 3x10^8
# wedges); support >= 2 keeps affinity edges only (~10^4 wedges at the
# same SF). Thresholding edge support before neighborhood features is
# the standard market-basket practice (cf. mining_assoc_rules'
# min-support), and at 100 TB it is what keeps Sum(deg^2) proportional
# to true co-occurrence structure instead of basket noise.
LINKPRED_TOPK = 20


@register(
    "graph_link_prediction_jaccard",
    oracle=f"""
WITH {_ITEMS_DUCK},
edges AS MATERIALIZED (
  -- MATERIALIZED (r13): edges x3, neigh x3, deg x3 are re-planned
  -- per reference under DuckDB's inlining — each a replay of the
  -- co-purchase self-join; the r12 5x chunk-timeout class
  SELECT a.l_partkey AS a, b.l_partkey AS b
  FROM it a JOIN it b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {LINKPRED_MIN_SUPPORT}
),
neigh AS MATERIALIZED (
  SELECT a AS v, b AS n FROM edges
  UNION ALL SELECT b AS v, a AS n FROM edges
),
deg AS MATERIALIZED (SELECT v, COUNT(*) AS d FROM neigh GROUP BY v),
centers AS (SELECT v FROM deg WHERE d <= {LINKPRED_HUB_CAP}),
wedges AS MATERIALIZED (
  SELECT n1.n AS u, n2.n AS w, COUNT(*) AS common
  FROM neigh n1
  JOIN centers c ON c.v = n1.v
  JOIN neigh n2 ON n2.v = n1.v AND n1.n < n2.n
  GROUP BY 1, 2
),
cand AS (
  SELECT w.* FROM wedges w
  LEFT JOIN edges e ON e.a = w.u AND e.b = w.w
  WHERE e.a IS NULL
)
SELECT cand.u AS part_a, cand.w AS part_b,
  CAST(cand.common AS BIGINT) AS common_neighbors,
  CAST((cand.common * 1000000) // (da.d + dw.d - cand.common) AS BIGINT)
    AS jaccard_micro
FROM cand JOIN deg da ON da.v = cand.u JOIN deg dw ON dw.v = cand.w
ORDER BY jaccard_micro DESC, part_a, part_b
LIMIT {LINKPRED_TOPK}
""",
    doc="Link prediction on the co-purchase graph (the 'customers who "
    "bought X also bought Y' candidate generator): edges are part "
    f"pairs co-purchased >= {LINKPRED_MIN_SUPPORT} times (support "
    "thresholding keeps affinity structure, not basket noise — it cut "
    "the wedge volume 30000x at sf0.1); for part pairs NOT directly "
    "linked but sharing >= 1 common neighbor, "
    "score by neighbor-set Jaccard |N(a) n N(b)| / |N(a) u N(b)| and "
    "emit the top-20 predicted edges. Jaccard is computed in EXACT "
    "integer micro-units (bigint div) so ranking never rides float "
    "rounding. Plan: wedge enumeration through each common neighbor "
    "(one shuffle on the center vertex, centers degree-capped at "
    f"{LINKPRED_HUB_CAP} so no hub emits a quadratic wedge set), "
    "anti-join against existing edges, broadcast-joined degrees. At "
    "100 TB the same cap bounds every task; raising it trades recall "
    "for wedge volume observably.",
)
def graph_link_prediction_jaccard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    edges = (
        copurchase_pairs(load_table(spark, sf_dir, "lineitem"))
        .filter(F.col("pair_count") >= LINKPRED_MIN_SUPPORT)
        .select(F.col("part_a").alias("a"), F.col("part_b").alias("b"))
    )
    neigh = edges.select(
        F.col("a").alias("v"), F.col("b").alias("n")
    ).unionAll(edges.select(F.col("b").alias("v"), F.col("a").alias("n")))
    deg = neigh.groupBy("v").agg(F.count(F.lit(1)).alias("d"))
    centers = deg.filter(F.col("d") <= LINKPRED_HUB_CAP).select("v")
    n1, n2 = neigh.alias("n1"), neigh.alias("n2")
    wedges = (
        n1.join(centers.alias("c"), F.col("n1.v") == F.col("c.v"))
        .join(
            n2,
            (F.col("n2.v") == F.col("n1.v"))
            & (F.col("n1.n") < F.col("n2.n")),
        )
        .groupBy(
            F.col("n1.n").alias("u"), F.col("n2.n").alias("w")
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    cand = wedges.join(
        edges,
        (F.col("u") == F.col("a")) & (F.col("w") == F.col("b")),
        "left_anti",
    )
    da = deg.select(F.col("v").alias("u"), F.col("d").alias("da"))
    dw = deg.select(F.col("v").alias("w"), F.col("d").alias("dw"))
    return (
        cand.join(F.broadcast(da), "u")
        .join(F.broadcast(dw), "w")
        .select(
            F.col("u").alias("part_a"),
            F.col("w").alias("part_b"),
            F.col("common").cast("bigint").alias("common_neighbors"),
            F.expr(
                "CAST((common * 1000000) div (da + dw - common) AS BIGINT)"
            ).alias("jaccard_micro"),
        )
        .orderBy(F.desc("jaccard_micro"), "part_a", "part_b")
        .limit(LINKPRED_TOPK)
    )


# ---------------------------------------------------------------------------
# Item-based collaborative filtering: top-N recommendations per customer
# ---------------------------------------------------------------------------

CF_CUST_MOD = 100  # recommend for customers with custkey % 100 == 1
CF_TOPN = 3


@register(
    "ml_item_cf_recommendations",
    oracle=f"""
WITH {_ITEMS_DUCK},
cust_items AS (
  SELECT DISTINCT o.o_custkey, it.l_partkey
  FROM it JOIN orders o ON o.o_orderkey = it.l_orderkey
),
sim AS (
  SELECT a.l_partkey AS i, b.l_partkey AS j, COUNT(*) AS s
  FROM it a JOIN it b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
scored AS (
  SELECT ci.o_custkey, sim.j AS part, SUM(sim.s) AS score
  FROM cust_items ci
  JOIN sim ON sim.i = ci.l_partkey
  WHERE ci.o_custkey % {CF_CUST_MOD} = 1
  GROUP BY 1, 2
),
novel AS (
  SELECT s.* FROM scored s
  LEFT JOIN cust_items o
    ON o.o_custkey = s.o_custkey AND o.l_partkey = s.part
  WHERE o.o_custkey IS NULL
)
SELECT o_custkey, CAST(rnk AS INT) AS rnk,
  CAST(part AS BIGINT) AS part, CAST(score AS BIGINT) AS score
FROM (
  SELECT o_custkey, part, score,
    ROW_NUMBER() OVER (PARTITION BY o_custkey
                       ORDER BY score DESC, part) AS rnk
  FROM novel
)
WHERE rnk <= {CF_TOPN}
ORDER BY o_custkey, rnk
""",
    doc="Item-based collaborative filtering (Sarwar et al. 2001 — the "
    "'customers who bought this also bought' recommender): item-item "
    "affinity = co-purchase count >= 2 (the support-thresholded "
    "similarity matrix, a SPARSE bounded artifact); each audited "
    "customer's basket pulls its items' affinity rows, sums scores "
    "per candidate, anti-joins out already-purchased items, and "
    "keeps the integer-exact top-3. Plan: the similarity matrix "
    "shuffles once on item; scoring is a basket-to-matrix equi-join "
    "+ per-customer agg; WindowGroupLimit prunes to N before the "
    "final sort. At 100 TB the matrix stays sparse by the same "
    "support threshold and the per-customer work is O(basket x "
    "avg item degree).",
)
def ml_item_cf_recommendations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    it = (
        order_baskets(li)
        .select(
            "l_orderkey", F.explode(F.col("parts")).alias("l_partkey")
        )
    )
    cust_items = (
        it.join(
            orders.select("o_orderkey", "o_custkey"),
            it["l_orderkey"] == orders["o_orderkey"],
        )
        .select("o_custkey", "l_partkey")
        .distinct()
    )
    # similarity matrix from the module's joinless basket expansion
    # (the oracle uses the textbook self-join formulation)
    und = copurchase_pairs(li).filter(F.col("pair_count") >= 2)
    sim = und.select(
        F.col("part_a").alias("i"),
        F.col("part_b").alias("j"),
        F.col("pair_count").alias("s"),
    ).unionAll(
        und.select(
            F.col("part_b").alias("i"),
            F.col("part_a").alias("j"),
            F.col("pair_count").alias("s"),
        )
    )
    scored = (
        cust_items.filter(F.col("o_custkey") % CF_CUST_MOD == 1)
        .join(sim, cust_items["l_partkey"] == sim["i"])
        .groupBy("o_custkey", F.col("j").alias("part"))
        .agg(F.sum("s").alias("score"))
    )
    novel = scored.join(
        cust_items.select(
            "o_custkey", F.col("l_partkey").alias("part")
        ),
        ["o_custkey", "part"],
        "left_anti",
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("score"), F.asc("part")
    )
    return (
        novel.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= CF_TOPN)
        .select(
            "o_custkey",
            "rnk",
            F.col("part").cast("bigint").alias("part"),
            F.col("score").cast("bigint").alias("score"),
        )
        .orderBy("o_custkey", "rnk")
    )


# ---------------------------------------------------------------------------
# TextRank keyword extraction (Mihalcea & Tarau 2004)
# ---------------------------------------------------------------------------

TR_MIN_FREQ = 5  # vocabulary floor: tokens below this never enter the graph
TR_TOPK = 25

_TEXTRANK_ORACLE = rank_int_duck(
    f"""toks AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
),
adj AS (
  SELECT doc_id,
         unnest([[l[i], l[i+1]] for i in range(1, len(l))]) AS pair
  FROM toks
),
vocab AS (
  SELECT token FROM (
    SELECT unnest(string_split(text, ' ')) AS token FROM documents
  ) GROUP BY token HAVING COUNT(*) >= {TR_MIN_FREQ}
),
edges AS MATERIALIZED (
  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w FROM (
    SELECT pair[1] AS src, pair[2] AS dst FROM adj WHERE pair[1] <> pair[2]
    UNION ALL
    SELECT pair[2] AS src, pair[1] AS dst FROM adj WHERE pair[1] <> pair[2]
  ) e
  JOIN vocab va ON e.src = va.token
  JOIN vocab vb ON e.dst = vb.token
  GROUP BY src, dst
)""",
    f"""SELECT node AS token, rank AS rank_pico
FROM ranks
ORDER BY rank_pico DESC, token
LIMIT {TR_TOPK}
""",
)


@register(
    "text_textrank_keywords",
    oracle=_TEXTRANK_ORACLE,
    doc="TextRank keyword extraction (Mihalcea & Tarau 2004): weighted "
    "PageRank over the corpus word co-occurrence graph — adjacent-token "
    "pairs, symmetrized, weighted by co-occurrence count, vocabulary "
    f"floored at corpus frequency {TR_MIN_FREQ} so the graph is "
    "O(vocab), not O(corpus). Ranks are integer picorank fixed-point "
    "(same device as graph_pagerank_suppliers: floor-division contrib "
    f"weighted by edge-weight/strength, 85/15 damping, {RANK_ITERS} "
    "rounds), so the DuckDB unrolled-CTE replay is value-exact for the "
    f"top-{TR_TOPK} keyword list. Spark plan: pair explode is one "
    "scan-side generate, the graph build two shuffles (edge count + "
    "strength), and each round one Exchange(dst) over O(vocab-edges) — "
    "at 100 TB the co-occurrence graph after the frequency floor is "
    "millions of nodes, far smaller than the corpus, and rounds are "
    "edge-local with a checkpoint per round. The power iteration is "
    "graph_pagerank_suppliers' own (rank_int), with weights.",
)
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.split("text", " ").alias("l"))
    adj = toks.select(F.explode(word_ngrams("l", 2)).alias("p")).select(
        F.col("p.w1").alias("a"), F.col("p.w2").alias("b")
    )
    vocab = (
        toks.select(F.explode("l").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= TR_MIN_FREQ)
        .select("token")
    )
    directed = adj.filter(F.col("a") != F.col("b"))
    both = directed.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).union(directed.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    edges = (
        both.join(vocab.withColumnRenamed("token", "src"), "src")
        .join(vocab.withColumnRenamed("token", "dst"), "dst")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    return (
        rank_int(edges, "textrank")
        .select(F.col("node").alias("token"), F.col("rank").alias("rank_pico"))
        .orderBy(F.desc("rank_pico"), F.asc("token"))
        .limit(TR_TOPK)
    )


# ---------------------------------------------------------------------------
# Butterfly count: 4-cycles in the bipartite order-part graph
# ---------------------------------------------------------------------------


@register(
    "graph_butterfly_count",
    oracle=f"""
WITH {_ITEMS_DUCK},
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(COUNT(*) AS BIGINT) AS support
  FROM it a JOIN it b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
SELECT
  CAST(SUM(support * (support - 1) // 2) AS BIGINT) AS n_butterflies,
  CAST(COUNT(*) AS BIGINT) AS n_copurchase_pairs,
  CAST(SUM(CASE WHEN support >= 2 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_wedged_pairs,
  CAST(MAX(support) AS BIGINT) AS max_pair_support
FROM pairs
""",
    doc="Butterfly (bipartite 4-cycle) count over the order-part graph — "
    "the bipartite analog of the triangle count and the density "
    "statistic behind bipartite community detection (Sanei-Mehri et "
    "al. 2018): a butterfly is two orders sharing two parts, so "
    "n_butterflies = sum over co-purchased part pairs of C(support, 2) "
    "where support = co-occurrence count. Rides ENTIRELY on the "
    "existing capped-basket pair aggregation — one extra arithmetic "
    "reduce over the pair table, no new shuffle beyond the pair "
    "groupBy; the BASKET_CAP bound keeps the per-order pair expansion "
    "O(cap^2) at any corpus scale (same skew armor as the "
    "co-purchase/triangle family). Side stats (pair count, wedged "
    "pairs, max support) make the one-number result auditable.",
)
def graph_butterfly_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = copurchase_pairs(load_table(spark, sf_dir, "lineitem"))
    sup = F.col("pair_count")
    return pairs.agg(
        F.sum(F.expr("pair_count * (pair_count - 1) div 2"))
        .cast("bigint")
        .alias("n_butterflies"),
        F.count(F.lit(1)).cast("bigint").alias("n_copurchase_pairs"),
        F.sum(F.when(sup >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_wedged_pairs"),
        F.max(sup).cast("bigint").alias("max_pair_support"),
    )
