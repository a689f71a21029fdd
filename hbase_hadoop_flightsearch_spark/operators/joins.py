"""Join operators (SURVEY.md §2b E1-E3).

The reference has NO joins — every MapReduce job has exactly one input
(absence verified across all three Main.java files; SURVEY.md §2a). This
module supplies the join surface a real analytics engine needs, Spark-first:

Scale notes (the part that matters at 100 TB):
  * Dimension tables (region 5 rows, nation 25, supplier/part O(10^5) even
    at TPC-H SF100k) are explicitly `F.broadcast()`-hinted: the hint keeps
    the plan a BroadcastHashJoin even when stats are stale, eliminating the
    shuffle of the fact side entirely.
  * Fact-fact joins (lineitem ⋈ orders) shuffle on the join key; AQE
    handles skew-splitting. On a real deployment both tables would be
    bucketed by orderkey to co-locate, turning the Exchange into a no-op.
  * Semi/anti joins use left_semi/left_anti so the build side only carries
    the key column and rows short-circuit on first match — never a
    join-then-distinct.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import register
from ..sources.catalog import load_table
from .iterate import materialize


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _dec(c: str) -> F.Column:
    """Money column in exact DECIMAL — prices/discounts are cents-valued,
    so decimal sums are engine-identical (see sql_surface.py)."""
    return F.col(c).cast("decimal(18,2)")


def _rev_e4() -> F.Column:
    """Discounted revenue per row in EXACT integer ten-thousandths of a
    dollar: cents(price) * (100 - hundredths(discount)). r10 hardening —
    the seed-5 differential caught the float product-sum flipping a
    ROUND boundary on join_q9 (summation order differs cross-engine by
     1 ulp; ROUND absorbs it except exactly at .xx5): with BIGINT sums
    the only float op left is one final division of identical integers.
    Magnitude: <= ~1e9 per row; promote to DECIMAL(38,0) beyond ~1e9
    rows per group at 100 TB."""
    return (
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
        * (100 - F.round(F.col("l_discount") * 100, 0).cast("bigint"))
    )


@register(
    "join_q3_shipping_priority",
    oracle="""
SELECT l_orderkey,
  ROUND(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
            * (100 - CAST(round(l_discount * 100) AS BIGINT)))
        / CAST(10000 AS DOUBLE), 2) AS revenue,
  CAST(o_orderdate AS DATE) AS order_date
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1997-06-01'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
    headline=True,
    doc="TPC-H Q3-style: 3-way join + agg + global top-10 by revenue.",
)
def join_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ orders ⋈ lineitem; customer side is the selective filter,
    so it joins first and broadcast-prunes orders early."""
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-01-01"
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1997-06-01"
    )
    return (
        li.join(
            orders.join(
                F.broadcast(cust.select("c_custkey")),
                orders.o_custkey == F.col("c_custkey"),
            ).select("o_orderkey", "o_orderdate"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(_rev_e4()).alias("rev_e4"))
        .select(
            "l_orderkey",
            F.round(F.expr("rev_e4 / CAST(10000 AS DOUBLE)"), 2).alias(
                "revenue"
            ),
            F.col("o_orderdate").cast("date").alias("order_date"),
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "join_q5_region_revenue",
    oracle="""
SELECT n_name,
  ROUND(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
            * (100 - CAST(round(l_discount * 100) AS BIGINT)))
        / CAST(10000 AS DOUBLE), 2) AS revenue,
  COUNT(*) AS n_lineitems
FROM region
JOIN nation ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1999-01-01'
GROUP BY n_name
""",
    headline=True,
    doc="TPC-H Q5-style 6-table star join with broadcast dimensions.",
)
def join_q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema join: every dimension broadcast, facts shuffle once on
    orderkey. The s_nationkey = c_nationkey clause is the classic Q5
    'local supplier' condition."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1999-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")

    dims = (
        cust.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region), nation.n_regionkey == region.r_regionkey
                )
            ),
            cust.c_nationkey == F.col("n_nationkey"),
        ).select("c_custkey", "c_nationkey", "n_name")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(dims), orders.o_custkey == dims.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (supp.s_nationkey == dims.c_nationkey),
        )
        .groupBy("n_name")
        .agg(
            F.sum(_rev_e4()).alias("rev_e4"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .select(
            "n_name",
            F.round(F.expr("rev_e4 / CAST(10000 AS DOUBLE)"), 2).alias(
                "revenue"
            ),
            "n_lineitems",
        )
    )


@register(
    "join_q14_promo_share",
    oracle="""
SELECT ROUND(
    CAST(SUM(CASE WHEN p_type = 'PROMO'
             THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(round(l_discount * 100) AS BIGINT))
             ELSE 0 END) AS DOUBLE) * CAST(100 AS DOUBLE)
    / CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT)))
           AS DOUBLE), 4) AS promo_share_pct,
  COUNT(*) AS n_rows
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1997-07-01'
""",
    doc="TPC-H Q14-style: broadcast fact-dim join + conditional aggregation.",
)
def join_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1997-07-01")
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = _rev_e4()
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", rev).otherwise(
                    F.lit(0).cast("bigint")
                )
            ).alias("promo_e4"),
            F.sum(rev).alias("total_e4"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.round(
                F.expr(
                    "CAST(promo_e4 AS DOUBLE) * CAST(100 AS DOUBLE)"
                    " / CAST(total_e4 AS DOUBLE)"
                ),
                4,
            ).alias("promo_share_pct"),
            "n_rows",
        )
    )


@register(
    "join_semi_urgent_customers",
    oracle="""
SELECT c_custkey, c_name, c_nationkey
FROM customer
WHERE c_mktsegment = 'MACHINERY'
  AND c_custkey IN (SELECT o_custkey FROM orders
                    WHERE o_orderpriority = '1-URGENT')
""",
    doc="Left-semi join (E2): existence check without materializing matches.",
)
def join_semi_urgent_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi keeps the probe row on first match — no dedup needed, and
    only o_custkey crosses the shuffle."""
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "MACHINERY"
    )
    urgent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return cust.join(
        urgent, cust.c_custkey == urgent.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_nationkey")


@register(
    "join_anti_customers_without_pending",
    oracle="""
SELECT c_custkey, c_acctbal
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                        WHERE o_orderstatus = 'P')
""",
    doc="Left-anti join (E2): customers with no pending orders.",
)
def join_anti_customers_without_pending(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    pending = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "P")
        .select("o_custkey")
    )
    return cust.join(
        pending, cust.c_custkey == pending.o_custkey, "left_anti"
    ).select("c_custkey", "c_acctbal")


@register(
    "join_q18_large_orders",
    oracle="""
WITH big AS (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey HAVING SUM(l_quantity) > 150
)
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_totalprice,
  SUM(l.l_quantity) AS total_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_totalprice
ORDER BY o.o_totalprice DESC, o.o_orderkey
LIMIT 100
""",
    doc="TPC-H q18 shape (E1/E2/E7): semi-join against a HAVING-filtered "
    "aggregate, re-aggregate, global top-100.",
)
def join_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The big-orders set is produced by one aggregate and used as a
    LEFT SEMI join (Catalyst turns the IN-subquery into exactly that) —
    quantities are integer-valued so total_qty needs no rounding guard.
    Deterministic top-100: o_orderkey breaks o_totalprice ties."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_totalprice")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@register(
    "join_range_acctbal_dominance",
    oracle="""
SELECT n_nationkey AS nationkey,
  COUNT(*) AS n_pairs,
  ROUND(AVG(s_acctbal - c_acctbal), 2) AS avg_gap
FROM supplier
JOIN customer ON s_nationkey = c_nationkey AND s_acctbal > c_acctbal
JOIN nation ON n_nationkey = s_nationkey
GROUP BY n_nationkey
""",
    doc="Range/theta join (E3): equi key + inequality residual condition.",
)
def join_range_acctbal_dominance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Equi-join on nationkey carries the shuffle; the acctbal inequality is
    a residual predicate evaluated inside the join — never a cartesian
    product, so the plan scales with the equi-key cardinality."""
    supp = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey")
    return (
        supp.join(
            cust,
            (supp.s_nationkey == cust.c_nationkey)
            & (supp.s_acctbal > cust.c_acctbal),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .groupBy(F.col("n_nationkey").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg(F.col("s_acctbal") - F.col("c_acctbal")), 2).alias(
                "avg_gap"
            ),
        )
    )


@register(
    "join_q7_nation_volume",
    oracle="""
SELECT supp_nation, cust_nation, l_year,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)
    AS revenue,
  COUNT(*) AS n_lineitems
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INT) AS l_year,
         l_extendedprice, l_discount
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
)
GROUP BY supp_nation, cust_nation, l_year
""",
    doc="TPC-H q7 shape: bidirectional nation-pair trade volume by year — "
    "two roles of the same dimension (nation) with a disjunctive pair "
    "filter. Money math in DECIMAL (cents-exact, engine-identical).",
)
def join_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-nation filter is pushed INTO both dimension sides before
    they ever meet the fact table: suppliers and customers are pre-joined
    to the (2-row) filtered nation dim, so the broadcast hash tables carry
    only the ~2/25 of each dim that can survive, and lineitem rows from
    other supplier nations drop at the first (broadcast) join. The final
    disjunctive pair filter then only rejects the two same-direction
    combinations. orders⋈lineitem is the only real shuffle (orderkey)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pair = ["NATION_1", "NATION_2"]
    nations = _t(spark, sf_dir, "nation").filter(F.col("n_name").isin(pair))
    supp2 = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nations),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust2 = (
        _t(spark, sf_dir, "customer")
        .join(
            F.broadcast(nations),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    dec = _dec
    return (
        li.join(F.broadcast(supp2), li.l_suppkey == supp2.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust2), orders.o_custkey == cust2.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(dec("l_extendedprice") * (1 - dec("l_discount"))), 2
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@register(
    "join_q19_disjunctive_predicates",
    oracle="""
SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)
    AS revenue,
  COUNT(*) AS n_lineitems
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity >= 1 AND l_quantity <= 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity >= 10 AND l_quantity <= 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= 20 AND l_quantity <= 30)
""",
    doc="TPC-H q19 shape: disjunction of conjunctive multi-table "
    "predicates (OR-of-ANDs across join sides). Catalyst extracts the "
    "common single-side conjuncts and pushes them below the join — the "
    "rewrite that keeps an OR filter from forcing a full scan-join.",
)
def join_q19_disjunctive_predicates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The OR spans both tables, but each branch constrains p_brand/p_size
    (part side) and l_quantity (lineitem side); Catalyst derives the
    per-side disjunctions (brand IN ..., quantity <= 30) and pushes them
    into both scans before the join evaluates the full predicate."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    dec = _dec
    q, b, s = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    branch = (
        ((b == "Brand#12") & s.between(1, 5) & q.between(1, 11))
        | ((b == "Brand#23") & s.between(1, 10) & q.between(10, 20))
        | ((b == "Brand#34") & s.between(1, 15) & q.between(20, 30))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(branch)
        .agg(
            F.round(
                F.sum(dec("l_extendedprice") * (1 - dec("l_discount"))), 2
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@register(
    "join_q15_top_supplier",
    oracle="""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
    SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name,
  CAST(total_revenue AS DOUBLE) AS total_revenue
FROM supplier
JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
""",
    doc="TPC-H Q15-style: top-revenue supplier(s) via a scalar-MAX "
    "subquery over a derived revenue view, tie-preserving.",
)
def join_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (the reference has no joins at all — SURVEY.md §2a
    'verifiably ABSENT'). Revenue per supplier over a 3-month shipdate
    window, then keep the supplier(s) achieving the global maximum.

    Scale shape: the revenue aggregation shuffles lineitem once on
    l_suppkey (partial agg first, so the exchange carries one row per
    supplier per input partition at most). The MAX is a 1-row aggregate
    broadcast back against the revenue view — never a global sort. The
    ==-on-MAX comparison runs in exact DECIMAL so revenue ties survive
    identically in both engines (double equality would be fragile).
    The supplier dim joins broadcast: post-MAX the probe side is ~1 row.
    """
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_dec("l_extendedprice") * (1 - _dec("l_discount"))).alias(
            "total_revenue"
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("max_revenue"))
    top = (
        rev.join(
            F.broadcast(mx),
            rev.total_revenue == F.col("max_revenue"),
        )
        .select("supplier_no", "total_revenue")
    )
    sup = _t(spark, sf_dir, "supplier")
    return (
        sup.join(F.broadcast(top), sup.s_suppkey == F.col("supplier_no"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_revenue").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@register(
    "join_full_outer_nation_presence",
    oracle="""
WITH cu AS (
  SELECT c_nationkey AS nationkey, COUNT(*) AS n_customers
  FROM customer GROUP BY c_nationkey
),
su AS (
  SELECT s_nationkey AS nationkey, COUNT(*) AS n_suppliers
  FROM supplier GROUP BY s_nationkey
)
SELECT COALESCE(cu.nationkey, su.nationkey) AS nationkey,
  COALESCE(n_customers, 0) AS n_customers,
  COALESCE(n_suppliers, 0) AS n_suppliers
FROM cu FULL OUTER JOIN su ON cu.nationkey = su.nationkey
ORDER BY nationkey
""",
    doc="FULL OUTER join of two pre-aggregated sides with COALESCE "
    "null-fill — nations having customers, suppliers, or either.",
)
def join_full_outer_nation_presence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Full-outer reconciliation: per-nation customer count vs supplier
    count, keeping nations present on either side only (supplier is
    sparse at small SF, so both unmatched directions are exercised).

    Scale shape: BOTH sides aggregate BEFORE the join, so the full-outer
    exchange carries one row per (side, nation) — aggregate-then-join,
    never join-then-aggregate. Full outer cannot broadcast (either side
    may need to emit unmatched rows), so it shuffles on the join key;
    with pre-aggregated inputs that shuffle is O(distinct keys), which
    AQE will coalesce to a handful of partitions at any scale.
    """
    cust = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    sup = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    return (
        cust.join(sup, cust.nationkey == sup.nationkey, "full_outer")
        .select(
            F.coalesce(cust.nationkey, sup.nationkey).alias("nationkey"),
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        )
        .orderBy("nationkey")
    )


@register(
    "join_q9_nation_profit",
    oracle="""
SELECT n_name AS nation,
  CAST(EXTRACT(year FROM l_shipdate) AS INT) AS o_year,
  ROUND(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
            * (100 - CAST(round(l_discount * 100) AS BIGINT))
            - CAST(round(p_retailprice * 100) AS BIGINT)
              * CAST(round(l_quantity) AS BIGINT))
        / CAST(10000 AS DOUBLE), 2) AS profit
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
""",
    doc="TPC-H Q9 shape (product-type profit by nation and year) adapted "
    "to the driver schema: no partsupp table exists, so supply cost is "
    "proxied by 1% of p_retailprice per unit — the join/agg topology "
    "(fact x 2 broadcast dims x nation rollup, LIKE-filtered part side) "
    "is Q9's.",
)
def join_q9_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ part(LIKE-filtered, broadcast) ⋈ supplier(broadcast)
    ⋈ nation(broadcast). The part filter prunes the fact rows inside the
    broadcast join probe — no fact-side shuffle until the final
    (nation, year) aggregate, which partial-aggregates to O(25 x years)
    rows per task before its Exchange."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    profit = _rev_e4() - (
        F.round(F.col("p_retailprice") * 100, 0).cast("bigint")
        * F.round(F.col("l_quantity"), 0).cast("bigint")
    )  # exact ten-thousandths of a dollar (supply cost 1% of retail)
    return (
        li.join(
            F.broadcast(part.select("p_partkey", "p_retailprice")),
            li.l_partkey == F.col("p_partkey"),
        )
        .join(F.broadcast(sup), li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").alias("o_year"),
        )
        .agg(
            F.round(
                F.sum(profit) / F.lit(10000).cast("double"), 2
            ).alias("profit")
        )
    )


@register(
    "join_q12_late_shipment_priority",
    oracle="""
SELECT CAST(EXTRACT(month FROM l_shipdate) AS INT) AS ship_month,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
       THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
       THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY 1
""",
    doc="TPC-H Q12 shape (shipmode priority split) adapted to the driver "
    "schema: no l_shipmode/commit/receipt columns exist, so the grouping "
    "key is ship month and 'late' means shipped more than 60 days after "
    "the order date — the fact-fact join + conditional-count split is "
    "Q12's.",
)
def join_q12_late_shipment_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """orders ⋈ lineitem is the one fact-fact join here: both sides
    shuffle on orderkey (bucket both by orderkey on a real deployment and
    the Exchange disappears); the late-shipment predicate is applied at
    the join, and the 12-group conditional counts partial-aggregate
    before their Exchange."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(
            F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60)
        )
        .groupBy(F.month("l_shipdate").alias("ship_month"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@register(
    "join_bloom_semi_prune",
    oracle="""
SELECT l_returnflag,
  CAST(COUNT(*) AS BIGINT) AS n_lines,
  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
    AS revenue_cents
FROM lineitem
WHERE l_orderkey IN (
  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    doc="Bloom-pruned semi join (the hand-rolled runtime filter): revenue "
    "per return flag over lineitems of URGENT orders. The filtered build "
    "side reduces to a 4 KiB Bloom filter via the same distributed "
    "bit_or build as dedup_bloom_reference; the probe side tests "
    "l_orderkey with pure codegen bit expressions BEFORE the exchange, "
    "so only the ~selectivity fraction (hits + small false-positive "
    "sliver) shuffles into the exact semi join that guarantees "
    "correctness. Same result as a plain semi join — the filter only "
    "cuts shuffle volume. At 100 TB this is the difference between "
    "shuffling every lineitem row and shuffling the urgent fifth; "
    "Spark's own runtimeFilter does this invisibly when stats allow — "
    "built explicitly here so the pruning is observable and "
    "engine-independent.",
)
def join_bloom_semi_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import bloom_build, bloom_flag

    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    # One 4 KiB filter row, built once (materialized: the row feeds a
    # broadcast on the probe side; without it the urgent scan re-runs).
    bf_row, _ = materialize(bloom_build(urgent, "o_orderkey"))
    pruned = bloom_flag(li, bf_row, "l_orderkey").filter(F.col("bloom_hit"))
    exact = pruned.join(urgent, pruned.l_orderkey == urgent.o_orderkey,
                        "left_semi")
    return (
        exact.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("revenue_cents"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Spatial: grid-binned proximity join
# ---------------------------------------------------------------------------

GEO_RADIUS_MICRO = 5_000_000  # 5 degrees in microdegrees
_GEO_PTS_DUCK = """
pts AS (
  SELECT c_custkey AS id,
    (c_custkey * 2654435761) % 180000000 - 90000000 AS lat,
    (c_custkey * 40503 * 65537) % 360000000 - 180000000 AS lon
  FROM customer
)
"""


@register(
    "spatial_grid_neighbors",
    oracle=f"""
WITH {_GEO_PTS_DUCK},
pairs AS (
  SELECT a.id AS i1, b.id AS i2,
    (a.lat - b.lat) * (a.lat - b.lat)
      + (a.lon - b.lon) * (a.lon - b.lon) AS d2
  FROM pts a JOIN pts b ON a.id < b.id
  WHERE (a.lat - b.lat) * (a.lat - b.lat)
          + (a.lon - b.lon) * (a.lon - b.lon)
        <= {GEO_RADIUS_MICRO}::BIGINT * {GEO_RADIUS_MICRO}
),
sym AS (
  SELECT i1 AS id, i2 AS other, d2 FROM pairs
  UNION ALL SELECT i2, i1, d2 FROM pairs
),
stats AS (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS n_neighbors,
    MIN(struct_pack(d2 := d2, other := other)) AS nearest
  FROM sym GROUP BY id
)
SELECT p.id,
  COALESCE(s.n_neighbors, 0) AS n_neighbors,
  CAST(s.nearest.other AS BIGINT) AS nearest_id,
  CAST(s.nearest.d2 AS BIGINT) AS nearest_d2
FROM pts p LEFT JOIN stats s ON s.id = p.id
ORDER BY p.id
""",
    doc="Spatial proximity join by grid binning: every customer gets a "
    "deterministic (lat, lon) in integer MICRODEGREES; for each point, "
    "the neighbor count and nearest neighbor within a 5-degree radius. "
    "The Spark plan is the canonical distributed spatial join: bin "
    "points into radius-sized grid cells, replicate each point into "
    "its 3x3 neighboring cells on ONE side only, equi-join on the "
    "cell key, then verify with the EXACT integer squared-distance "
    "filter — candidates are bounded by cell occupancy (the skew knob "
    "is cell size), never all-pairs; the oracle deliberately IS the "
    "all-pairs formulation. All arithmetic is BIGINT (planar "
    "microdegrees — the haversine upgrade changes only the verify "
    "expression, not the plan), so no float can flip a boundary; "
    "nearest tiebreak via struct-min on (d2, id).",
)
def spatial_grid_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    R = GEO_RADIUS_MICRO
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    pts = cust.select(
        F.col("c_custkey").alias("id"),
        ((F.col("c_custkey") * F.lit(2654435761)) % 180000000
         - 90000000).alias("lat"),
        ((F.col("c_custkey") * F.lit(40503).cast("long") * F.lit(65537).cast("long")) % 360000000
         - 180000000).alias("lon"),
    )
    cell = pts.select(
        "id", "lat", "lon",
        F.floor(F.col("lat") / R).cast("long").alias("cy"),
        F.floor(F.col("lon") / R).cast("long").alias("cx"),
    )
    probe = cell.select(
        F.col("id").alias("i1"),
        F.col("lat").alias("lat1"),
        F.col("lon").alias("lon1"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("cy") + dy).alias("cy"),
                        (F.col("cx") + dx).alias("cx"),
                    )
                    for dy in (-1, 0, 1)
                    for dx in (-1, 0, 1)
                ]
            )
        ).alias("nc"),
    ).select("i1", "lat1", "lon1", "nc.cy", "nc.cx")
    build = cell.select(
        F.col("id").alias("i2"),
        F.col("lat").alias("lat2"),
        F.col("lon").alias("lon2"),
        "cy",
        "cx",
    )
    d2 = (F.col("lat1") - F.col("lat2")) * (
        F.col("lat1") - F.col("lat2")
    ) + (F.col("lon1") - F.col("lon2")) * (F.col("lon1") - F.col("lon2"))
    pairs = (
        probe.join(build, ["cy", "cx"])
        .filter(F.col("i1") < F.col("i2"))
        .select("i1", "i2", d2.alias("d2"))
        .filter(F.col("d2") <= F.lit(R * R).cast("long"))
        .distinct()  # a pair can meet in several probed cells
    )
    sym = pairs.select(
        F.col("i1").alias("id"), F.col("i2").alias("other"), "d2"
    ).unionByName(
        pairs.select(
            F.col("i2").alias("id"), F.col("i1").alias("other"), "d2"
        )
    )
    stats = sym.groupBy("id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_neighbors"),
        F.min(F.struct("d2", "other")).alias("nearest"),
    )
    return (
        pts.join(stats, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("n_neighbors"), F.lit(0))
            .cast("bigint")
            .alias("n_neighbors"),
            F.col("nearest.other").cast("bigint").alias("nearest_id"),
            F.col("nearest.d2").cast("bigint").alias("nearest_d2"),
        )
        .orderBy("id")
    )


HOTSPOT_CELL_MICRO = 10_000_000  # 10-degree analysis cells
HOTSPOT_K = 2  # hotspot when count * n_cells > K * neighborhood total


@register(
    "spatial_hotspot_cells",
    oracle=f"""
WITH {_GEO_PTS_DUCK},
cells AS (
  SELECT CAST(FLOOR(lat * 1.0 / {HOTSPOT_CELL_MICRO}) AS BIGINT) AS cy,
         CAST(FLOOR(lon * 1.0 / {HOTSPOT_CELL_MICRO}) AS BIGINT) AS cx,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM pts GROUP BY 1, 2
),
hood AS (
  SELECT a.cy, a.cx, a.n,
    CAST(SUM(b.n) AS BIGINT) AS hood_total,
    CAST(COUNT(*) AS BIGINT) AS hood_cells
  FROM cells a
  JOIN cells b
    ON b.cy BETWEEN a.cy - 1 AND a.cy + 1
   AND b.cx BETWEEN a.cx - 1 AND a.cx + 1
  GROUP BY a.cy, a.cx, a.n
)
SELECT cy, cx, n, hood_total, hood_cells
FROM hood
WHERE n * hood_cells > {HOTSPOT_K} * hood_total
ORDER BY cy, cx
""",
    doc="Spatial hotspot detection (Getis-Ord-flavored local statistic, "
    "integer-exact): bin points into 10-degree cells, compare each "
    "cell's count against its 3x3 neighborhood mean via the integer "
    f"cross-product n * cells > {HOTSPOT_K} * total — a cell flags "
    "when it holds more than double its neighborhood's average mass. "
    "The neighborhood join is cell-to-cell (O(cells x 9)), never "
    "point-level; at 100 TB the points reduce to the cell histogram "
    "in one partial-agg shuffle and the analysis rides O(cells) "
    "rows. Occupied-cell neighborhoods only (empty cells contribute "
    "no rows — documented denominator semantics, matching the "
    "oracle).",
)
def spatial_hotspot_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    C = HOTSPOT_CELL_MICRO
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    pts = cust.select(
        ((F.col("c_custkey") * F.lit(2654435761)) % 180000000
         - 90000000).alias("lat"),
        ((F.col("c_custkey") * F.lit(40503).cast("long")
          * F.lit(65537).cast("long")) % 360000000
         - 180000000).alias("lon"),
    )
    cells = pts.groupBy(
        F.floor(F.col("lat") / C).cast("long").alias("cy"),
        F.floor(F.col("lon") / C).cast("long").alias("cx"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a, b = cells.alias("a"), cells.alias("b")
    hood = (
        a.join(
            b,
            F.col("b.cy").between(F.col("a.cy") - 1, F.col("a.cy") + 1)
            & F.col("b.cx").between(F.col("a.cx") - 1, F.col("a.cx") + 1),
        )
        .groupBy(
            F.col("a.cy").alias("cy"),
            F.col("a.cx").alias("cx"),
            F.col("a.n").alias("n"),
        )
        .agg(
            F.sum("b.n").cast("bigint").alias("hood_total"),
            F.count(F.lit(1)).cast("bigint").alias("hood_cells"),
        )
    )
    return (
        hood.filter(
            F.col("n") * F.col("hood_cells")
            > HOTSPOT_K * F.col("hood_total")
        )
        .select("cy", "cx", "n", "hood_total", "hood_cells")
        .orderBy("cy", "cx")
    )


# ---------------------------------------------------------------------------
# DBSCAN: density-based clustering composed from the grid join + CC
# ---------------------------------------------------------------------------

DBSCAN_MINPTS = 3  # |N_eps(p)| including p itself
DBSCAN_EPS = 2_000_000  # 2 degrees in microdegrees — tuned so the fixture
# graph exhibits ALL THREE roles (sf0.01: 1001 core / 486 border / 13
# noise); the 5-degree neighbor-join radius makes every point core


@register(
    "spatial_dbscan",
    oracle=f"""
WITH RECURSIVE {_GEO_PTS_DUCK},
pairs AS MATERIALIZED (
  -- MATERIALIZED (r13): referenced by nbr, ce, and border — DuckDB's
  -- single-use inlining otherwise replays the all-pairs distance join
  -- once per reference (the r12 5x chunk-timeout class)
  SELECT a.id AS i1, b.id AS i2
  FROM pts a JOIN pts b ON a.id != b.id
  WHERE (a.lat - b.lat) * (a.lat - b.lat)
          + (a.lon - b.lon) * (a.lon - b.lon)
        <= {DBSCAN_EPS}::BIGINT * {DBSCAN_EPS}
),
nbr AS MATERIALIZED (
  SELECT i1 AS id, CAST(COUNT(*) AS BIGINT) AS n_nbr
  FROM pairs GROUP BY i1
),
core AS MATERIALIZED (
  SELECT p.id FROM pts p LEFT JOIN nbr ON p.id = nbr.id
  WHERE COALESCE(nbr.n_nbr, 0) + 1 >= {DBSCAN_MINPTS}
),
ce AS MATERIALIZED (
  SELECT p.i1, p.i2 FROM pairs p
  JOIN core c1 ON p.i1 = c1.id JOIN core c2 ON p.i2 = c2.id
),
reach(src, dst) AS (
  SELECT id, id FROM core
  UNION
  SELECT r.src, e.i2 FROM reach r JOIN ce e ON r.dst = e.i1
),
comp AS (
  SELECT src AS id, CAST(MIN(dst) AS BIGINT) AS cluster_id
  FROM reach GROUP BY src
),
border AS (
  SELECT p.i1 AS id, CAST(MIN(comp.cluster_id) AS BIGINT) AS cluster_id
  FROM pairs p
  JOIN comp ON p.i2 = comp.id
  WHERE p.i1 NOT IN (SELECT id FROM core)
  GROUP BY p.i1
)
SELECT p.id,
  CASE WHEN comp.id IS NOT NULL THEN 'core'
       WHEN border.id IS NOT NULL THEN 'border'
       ELSE 'noise' END AS role,
  COALESCE(comp.cluster_id, border.cluster_id) AS cluster_id,
  CAST(COALESCE(nbr.n_nbr, 0) AS BIGINT) AS n_nbr
FROM pts p
LEFT JOIN comp ON p.id = comp.id
LEFT JOIN border ON p.id = border.id
LEFT JOIN nbr ON p.id = nbr.id
""",
    doc=f"DBSCAN (Ester et al. 1996) composed Spark-first from two "
    "operators this engine already proves: eps-neighbor candidate "
    "pairs come from the GRID-BINNED spatial join (radius-sized "
    "cells, 3x3 one-sided replication, exact integer distance verify "
    "— never all-pairs), and cluster formation is connected "
    f"components over the core-core graph (minPts={DBSCAN_MINPTS}, "
    "counting self). Border points attach to their minimum core "
    "neighbor's cluster; everything else is noise. cluster_id = min "
    "core id in the component — deterministic. The oracle is the "
    "all-pairs + recursive-CTE formulation; every distance is BIGINT "
    "microdegrees so no float flips a membership.",
)
def spatial_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    R = DBSCAN_EPS

    # density clusters can be long spatial CHAINS (diameter >> log n);
    # star-contraction CC closes them in O(log n) rounds
    from ..operators.graph import connected_components

    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    pts = cust.select(
        F.col("c_custkey").alias("id"),
        ((F.col("c_custkey") * F.lit(2654435761)) % 180000000
         - 90000000).alias("lat"),
        ((F.col("c_custkey") * F.lit(40503).cast("long")
          * F.lit(65537).cast("long")) % 360000000
         - 180000000).alias("lon"),
    )
    cell = pts.select(
        "id", "lat", "lon",
        F.floor(F.col("lat") / R).cast("long").alias("cy"),
        F.floor(F.col("lon") / R).cast("long").alias("cx"),
    )
    probe = cell.select(
        F.col("id").alias("i1"),
        F.col("lat").alias("lat1"),
        F.col("lon").alias("lon1"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("cy") + dy).alias("cy"),
                        (F.col("cx") + dx).alias("cx"),
                    )
                    for dy in (-1, 0, 1)
                    for dx in (-1, 0, 1)
                ]
            )
        ).alias("nc"),
    ).select("i1", "lat1", "lon1", "nc.cy", "nc.cx")
    build = cell.select(
        F.col("id").alias("i2"),
        F.col("lat").alias("lat2"),
        F.col("lon").alias("lon2"),
        "cy",
        "cx",
    )
    d2 = (F.col("lat1") - F.col("lat2")) * (
        F.col("lat1") - F.col("lat2")
    ) + (F.col("lon1") - F.col("lon2")) * (F.col("lon1") - F.col("lon2"))
    pairs, _ = materialize(
        probe.join(build, ["cy", "cx"])
        .filter(F.col("i1") != F.col("i2"))
        .filter(d2 <= F.lit(R).cast("long") * F.lit(R))
        .select("i1", "i2")
    )
    nbr = pairs.groupBy(F.col("i1").alias("id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nbr")
    )
    core, _ = materialize(
        pts.join(nbr, "id", "left")
        .filter(F.coalesce("n_nbr", F.lit(0)) + 1 >= DBSCAN_MINPTS)
        .select("id")
    )
    ce = (
        pairs.join(core.select(F.col("id").alias("i1")), "i1", "left_semi")
        .join(core.select(F.col("id").alias("i2")), "i2", "left_semi")
        .filter(F.col("i1") < F.col("i2"))
        .select(F.col("i1").alias("d1"), F.col("i2").alias("d2"))
    )
    comp = connected_components(
        core.select(F.col("id").alias("doc_id")), ce
    ).select(
        F.col("doc_id").alias("id"),
        F.col("component_id").cast("bigint").alias("cluster_id"),
    )
    border = (
        pairs.join(core.select(F.col("id").alias("i1")), "i1", "left_anti")
        .join(
            comp.select(
                F.col("id").alias("i2"), F.col("cluster_id").alias("cc")
            ),
            "i2",
        )
        .groupBy(F.col("i1").alias("id"))
        .agg(F.min("cc").cast("bigint").alias("b_cluster"))
    )
    return (
        pts.select("id")
        .join(comp.withColumnRenamed("cluster_id", "c_cluster"), "id", "left")
        .join(border, "id", "left")
        .join(nbr, "id", "left")
        .select(
            "id",
            F.when(F.col("c_cluster").isNotNull(), "core")
            .when(F.col("b_cluster").isNotNull(), "border")
            .otherwise("noise")
            .alias("role"),
            F.coalesce("c_cluster", "b_cluster").alias("cluster_id"),
            F.coalesce("n_nbr", F.lit(0)).cast("bigint").alias("n_nbr"),
        )
    )
