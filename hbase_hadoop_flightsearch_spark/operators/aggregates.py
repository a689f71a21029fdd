"""Aggregation operators (SURVEY.md §2b E4-E5).

The reference's one aggregation is the hand-rolled 12-slot sum/count pivot
in its reducer (HCompute/Main.java:132-146) with NO combiner, so the whole
filtered record stream crosses the shuffle. Everything here relies on
Spark's partial aggregation (HashAggregate partial -> Exchange -> final):
shuffle volume is O(groups), not O(rows) — the property that makes these
plans viable at 100 TB.

`approx_*` sketches (HLL) are the scale path for distinct counts: exact
countDistinct needs a per-group dedup shuffle; HLL merges fixed-size
sketches map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.registry import register
from ..sources.catalog import load_table, register_views


@register(
    "agg_q1_pricing_summary",
    oracle="""
WITH q AS (
  SELECT l_returnflag, l_linestatus,
    CAST(round(l_quantity) AS BIGINT) AS qty,
    CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
    CAST(round(l_discount * 100) AS BIGINT) AS d100
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '1998-09-02'
)
SELECT l_returnflag, l_linestatus,
  ROUND(CAST(SUM(qty) AS DOUBLE), 2) AS sum_qty,
  ROUND(SUM(pc) / CAST(100 AS DOUBLE), 2) AS sum_base_price,
  ROUND(SUM(pc * (100 - d100)) / CAST(10000 AS DOUBLE), 2)
    AS sum_disc_price,
  ROUND(CAST(SUM(qty) AS DOUBLE) / COUNT(*), 4) AS avg_qty,
  ROUND(CAST(SUM(pc) AS DOUBLE) / (CAST(100 AS DOUBLE) * COUNT(*)), 4)
    AS avg_price,
  ROUND(CAST(SUM(d100) AS DOUBLE) / (CAST(100 AS DOUBLE) * COUNT(*)), 4)
    AS avg_disc,
  COUNT(*) AS count_order
FROM q
GROUP BY l_returnflag, l_linestatus
""",
    headline=True,
    doc="TPC-H Q1: the canonical wide hash aggregate over the fact "
    "table. r10 hardening (the seed-5 differential caught join_q9's "
    "float product-sum flipping a ROUND boundary — this is the same "
    "summand class): quantities/prices/discounts quantize to exact "
    "integers per row (cents / discount-hundredths), every SUM is "
    "exact BIGINT (disc-price in exact ten-thousandths: "
    "pc * (100 - d100)), and the only float ops are final divisions "
    "of identical integers — summation order can never move a digit. "
    "Still one partial-aggregated shuffle of O(groups) rows.",
)
def agg_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= "1998-09-02"
    )
    q = li.select(
        "l_returnflag",
        "l_linestatus",
        F.round("l_quantity", 0).cast("bigint").alias("qty"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("pc"),
        F.round(F.col("l_discount") * 100, 0).cast("bigint").alias("d100"),
    )
    return (
        q.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("qty").alias("sqty"),
            F.sum("pc").alias("spc"),
            F.sum(F.col("pc") * (100 - F.col("d100"))).alias("sdp"),
            F.sum("d100").alias("sd"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            F.round(F.expr("CAST(sqty AS DOUBLE)"), 2).alias("sum_qty"),
            F.round(F.expr("spc / CAST(100 AS DOUBLE)"), 2).alias(
                "sum_base_price"
            ),
            F.round(F.expr("sdp / CAST(10000 AS DOUBLE)"), 2).alias(
                "sum_disc_price"
            ),
            F.round(
                F.expr("CAST(sqty AS DOUBLE) / count_order"), 4
            ).alias("avg_qty"),
            F.round(
                F.expr(
                    "CAST(spc AS DOUBLE)"
                    " / (CAST(100 AS DOUBLE) * count_order)"
                ),
                4,
            ).alias("avg_price"),
            F.round(
                F.expr(
                    "CAST(sd AS DOUBLE)"
                    " / (CAST(100 AS DOUBLE) * count_order)"
                ),
                4,
            ).alias("avg_disc"),
            "count_order",
        )
    )


@register(
    "agg_rollup_region_nation",
    oracle="""
SELECT COALESCE(r_name, '__ALL__') AS region,
  COALESCE(n_name, '__ALL__') AS nation,
  COUNT(*) AS n_customers,
  ROUND(SUM(c_acctbal), 2) AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
""",
    doc="ROLLUP (E5): hierarchical subtotals region -> nation -> grand total.",
)
def agg_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
        .select(
            F.coalesce(F.col("r_name"), F.lit("__ALL__")).alias("region"),
            F.coalesce(F.col("n_name"), F.lit("__ALL__")).alias("nation"),
            "n_customers",
            "total_acctbal",
        )
    )


@register(
    "agg_cube_status_priority",
    oracle="""
SELECT COALESCE(o_orderstatus, '__ALL__') AS status,
  COALESCE(o_orderpriority, '__ALL__') AS priority,
  COUNT(*) AS n_orders,
  ROUND(SUM(o_totalprice), 2) AS total_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
    doc="CUBE (E5): all 2^2 grouping combinations in one pass.",
)
def agg_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("__ALL__")).alias(
                "status"
            ),
            F.coalesce(F.col("o_orderpriority"), F.lit("__ALL__")).alias(
                "priority"
            ),
            "n_orders",
            "total_price",
        )
    )


@register(
    "agg_grouping_sets_sql",
    oracle="""
SELECT COALESCE(o_orderstatus, '__ALL__') AS status,
  COALESCE(o_orderpriority, '__ALL__') AS priority,
  COUNT(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
""",
    doc="GROUPING SETS via the SQL surface (spark.sql over registered views).",
)
def agg_grouping_sets_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exercises the engine's SQL entry point, not just the DataFrame API."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT COALESCE(o_orderstatus, '__ALL__') AS status,
               COALESCE(o_orderpriority, '__ALL__') AS priority,
               COUNT(*) AS n_orders
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )


@register(
    "agg_distinct_customers",
    oracle="""
SELECT o_orderpriority AS priority,
  COUNT(DISTINCT o_custkey) AS n_customers,
  COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
""",
    doc="Exact count-distinct (E4): expand+dedup shuffle, exact answer.",
)
def agg_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "agg_approx_distinct_customers",
    flag_oracle=True,
    oracle="""
SELECT o_orderpriority AS priority,
  COUNT(DISTINCT o_custkey) AS exact_customers,
  TRUE AS within_rsd
FROM orders
GROUP BY 1
""",
    doc="HLL approx count-distinct (E4): the 100 TB path — fixed-size "
    "sketch, no dedup shuffle (rsd=0.01). Value-checked oracle via the "
    "bound-flag pattern: the HLL estimate itself is engine-specific, so "
    "the query emits the EXACT count plus a boolean asserting the "
    "estimate landed within 5% of it; the oracle expects TRUE — a hash "
    "mismatch means the approximation guarantee was violated.",
)
def agg_approx_distinct_customers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The exact countDistinct here exists only to encode the HLL error
    bound into a hash-checkable output; the sketch column is the operator
    under test (and the only one you'd run at 100 TB).

    The two aggregates run SEPARATELY and join on the O(groups) result:
    combining countDistinct with a high-precision (rsd=0.01 -> 2^17
    registers) HLL in one agg plans an Expand whose distinct re-shuffle
    drags the full register buffers along — measured 8.9 s vs 1.5 s for
    the split form at the bench scale factor."""
    orders = load_table(spark, sf_dir, "orders")
    approx = orders.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.approx_count_distinct("o_custkey", rsd=0.01).alias("approx")
    )
    exact = orders.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.countDistinct("o_custkey").alias("exact_customers")
    )
    return exact.join(F.broadcast(approx), "priority").select(
        "priority",
        "exact_customers",
        (
            F.abs(F.col("approx") - F.col("exact_customers"))
            / F.col("exact_customers")
            <= 0.05
        ).alias("within_rsd"),
    )


@register(
    "agg_percentiles_order_value",
    oracle="""
WITH rk AS (
  SELECT o_orderpriority AS priority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders
),
pick AS (
  SELECT priority, n,
    MAX(CASE WHEN rn = (n - 1) * 5 // 10 + 1 THEN cents END) AS a50,
    MAX(CASE WHEN rn = (n - 1) * 5 // 10 + 2 THEN cents END) AS b50,
    MAX(CASE WHEN rn = (n - 1) * 9 // 10 + 1 THEN cents END) AS a90,
    MAX(CASE WHEN rn = (n - 1) * 9 // 10 + 2 THEN cents END) AS b90,
    MIN(cents) AS mn, MAX(cents) AS mx
  FROM rk GROUP BY priority, n
)
SELECT priority,
  ROUND((a50 * 1000000
         + (COALESCE(b50, a50) - a50) * 100000 * ((n - 1) * 5 % 10))
        / 100000000.0, 2) AS p50,
  ROUND((a90 * 1000000
         + (COALESCE(b90, a90) - a90) * 100000 * ((n - 1) * 9 % 10))
        / 100000000.0, 2) AS p90,
  ROUND(mn / 100.0, 2) AS min_price,
  ROUND(mx / 100.0, 2) AS max_price
FROM pick
""",
    doc="Exact percentiles (E4) via explicit rank-based linear "
    "interpolation over INTEGER CENTS (r10 hardening: the altseed-777 "
    "differential caught the engines' built-in interpolations — "
    "a + (b-a)*f vs a*(1-f) + b*f — diverging by 1 ulp at a ROUND "
    "boundary; with h = (n-1)*q held in exact tenths and the "
    "interpolation done in exact micro-cent integers, the ONLY float "
    "op is one final division of identical integers, so no corpus can "
    "flip a digit). Same mathematical definition as percentile/"
    "quantile_cont; approx_percentile is the documented scale path.",
)
def agg_percentiles_order_value(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    rk = orders.select(
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
        F.col("o_totalprice").alias("p"),
    )
    w = Window.partitionBy("priority").orderBy("p")
    rk = (
        rk.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("priority")))
        .drop("p")
    )
    def at(rank_expr: str):
        return F.max(F.when(F.expr(f"rn = {rank_expr}"), F.col("cents")))
    pick = rk.groupBy("priority", "n").agg(
        at("(n - 1) * 5 div 10 + 1").alias("a50"),
        at("(n - 1) * 5 div 10 + 2").alias("b50"),
        at("(n - 1) * 9 div 10 + 1").alias("a90"),
        at("(n - 1) * 9 div 10 + 2").alias("b90"),
        F.min("cents").alias("mn"),
        F.max("cents").alias("mx"),
    )
    return pick.select(
        "priority",
        F.round(
            F.expr(
                "(a50 * 1000000 + (COALESCE(b50, a50) - a50) * 100000"
                " * ((n - 1) * 5 % 10)) / CAST(100000000 AS DOUBLE)"
            ),
            2,
        ).alias("p50"),
        F.round(
            F.expr(
                "(a90 * 1000000 + (COALESCE(b90, a90) - a90) * 100000"
                " * ((n - 1) * 9 % 10)) / CAST(100000000 AS DOUBLE)"
            ),
            2,
        ).alias("p90"),
        F.round(F.expr("mn / CAST(100 AS DOUBLE)"), 2).alias("min_price"),
        F.round(F.expr("mx / CAST(100 AS DOUBLE)"), 2).alias("max_price"),
    )


@register(
    "agg_argmax_order_per_cust",
    oracle="""
SELECT o_custkey, o_orderkey AS top_orderkey, o_totalprice AS top_price
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
    ROW_NUMBER() OVER (
      PARTITION BY o_custkey
      ORDER BY o_totalprice DESC, o_orderkey DESC
    ) AS rn
  FROM orders
) WHERE rn = 1
""",
    doc="Single-pass argmax (E4/E7): each customer's most expensive order "
    "via max(struct(price, orderkey)) — partial aggregation keeps ONE "
    "struct per group per task, so the shuffle is O(customers); the "
    "window-function formulation (the oracle) would shuffle every order.",
)
def agg_argmax_order_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicographic struct max == argmax with a total tiebreak (highest
    orderkey on equal price), which is what makes it decidable cross-
    engine. The top-1-per-group special case where an aggregate strictly
    beats row_number()."""
    orders = load_table(spark, sf_dir, "orders")
    top = F.max(F.struct("o_totalprice", "o_orderkey")).alias("t")
    return (
        orders.groupBy("o_custkey")
        .agg(top)
        .select(
            "o_custkey",
            F.col("t.o_orderkey").alias("top_orderkey"),
            F.col("t.o_totalprice").alias("top_price"),
        )
    )


_PRIORITIES = [
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
]


@register(
    "agg_pivot_unpivot_roundtrip",
    oracle="""
SELECT CAST(year(o_orderdate) AS INT) AS yr,
  o_orderpriority AS priority,
  COUNT(*) AS n_orders
FROM orders
GROUP BY 1, 2
""",
    doc="Pivot -> unpivot (melt) roundtrip: order counts spread to one "
    "column per priority, then melted back to long form — must equal the "
    "plain GROUP BY. Exercises the wide<->long reshaping surface beyond "
    "the flagship's one-way pivot.",
)
def agg_pivot_unpivot_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """pivot with an EXPLICIT value list (no extra distinct-values job,
    and the plan stays static — the 100 TB requirement); unpivot emits
    null for empty cells, dropped to mirror GROUP BY's absent groups."""
    orders = load_table(spark, sf_dir, "orders")
    pivoted = (
        orders.groupBy(F.year("o_orderdate").cast("int").alias("yr"))
        .pivot("o_orderpriority", _PRIORITIES)
        .count()
    )
    return (
        pivoted.unpivot("yr", _PRIORITIES, "priority", "n_orders")
        .filter(F.col("n_orders").isNotNull())
    )


@register(
    "agg_hll_sketch_union",
    flag_oracle=True,
    oracle="""
SELECT c_nationkey, COUNT(DISTINCT c_custkey) AS exact_customers,
  TRUE AS hll_within_5pct
FROM customer GROUP BY c_nationkey
UNION ALL
SELECT CAST(-1 AS INT) AS c_nationkey,
  COUNT(DISTINCT c_custkey) AS exact_customers, TRUE AS hll_within_5pct
FROM customer
""",
    doc="Mergeable HLL sketches (E4, Apache DataSketches via Spark 3.5+ "
    "hll_sketch_agg): per-nation customer sketches, re-aggregated to a "
    "global estimate by sketch UNION — the two-level pattern that lets "
    "1000 executors estimate distincts with O(sketch) shuffle bytes. "
    "Bound-flag oracle: sketch estimates are implementation-defined, so "
    "the output carries the exact count plus a boolean asserting every "
    "estimate (25 nations + the unioned global) is within 5% of exact.",
)
def agg_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level 1: sketch per nation (partial agg JVM-side). Level 2: union
    the 25 nation sketches into one and estimate — no re-scan of the base
    table, the property that makes sketches the scale path over exact
    countDistinct (whose final agg must see every distinct key)."""
    cust = load_table(spark, sf_dir, "customer")
    per_nation = cust.groupBy("c_nationkey").agg(
        F.hll_sketch_agg("c_custkey").alias("sk"),
        F.countDistinct("c_custkey").alias("exact_customers"),
    )
    nation_level = per_nation.select(
        "c_nationkey",
        F.hll_sketch_estimate("sk").alias("est_customers"),
        "exact_customers",
    )
    global_level = per_nation.agg(
        F.lit(-1).cast("int").alias("c_nationkey"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_customers"),
        F.sum("exact_customers").alias("exact_customers"),  # custkeys are
        # globally unique, so per-nation exacts sum to the global exact
    )
    return nation_level.unionByName(global_level).select(
        "c_nationkey",
        "exact_customers",
        (
            F.abs(F.col("est_customers") - F.col("exact_customers"))
            / F.col("exact_customers")
            <= 0.05
        ).alias("hll_within_5pct"),
    )


@register(
    "agg_sorted_order_arrays",
    oracle="""
SELECT o_custkey,
  array_to_string(list_sort(list(o_orderkey)), ',') AS orderkeys,
  COUNT(*) AS n_orders
FROM orders
WHERE o_custkey < 50
GROUP BY o_custkey
""",
    doc="Array aggregation (E4): per-customer sorted orderkey arrays — "
    "collect_list is partition-order-nondeterministic, so array_sort is "
    "what makes the result well-defined (and cross-engine comparable). "
    "Serialized to a comma-joined string for the value hash (array "
    "columns don't canonicalize in the differential harness).",
)
def agg_sorted_order_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested aggregation (array<bigint> built by collect_list) through the
    same value-hash oracle as scalars. The WHERE keeps result arrays small;
    at scale, unbounded collect_list per group is the anti-pattern — cap it
    or use slice(sort_array(...), 1, k)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_custkey") < 50)
        .groupBy("o_custkey")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("o_orderkey")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("orderkeys"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register(
    "agg_q6_forecast_revenue",
    oracle="""
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
              * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
  COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.02 AND 0.04
  AND l_quantity < 24
""",
    doc="TPC-H q6 shape: pure scan-filter-aggregate — every predicate "
    "pushes to the parquet scan, zero joins, one exchange of ONE partial "
    "row per task. The I/O-bound lower bound every engine should hit.",
)
def agg_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
            & F.col("l_discount").between(0.02, 0.04)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(dec("l_extendedprice") * dec("l_discount"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "agg_multi_distinct_expand",
    oracle="""
SELECT o_orderstatus,
  COUNT(DISTINCT o_custkey) AS n_customers,
  COUNT(DISTINCT o_orderpriority) AS n_priorities,
  COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
    doc="Multiple COUNT(DISTINCT ...) over different columns in one "
    "aggregate — the Expand-operator plan shape.",
)
def agg_multi_distinct_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two COUNT(DISTINCT) on different columns plus plain aggregates in a
    single groupBy. Catalyst compiles this with an Expand node: each input
    row is replicated once per distinct-aggregate group (gid tagging), then
    a two-level aggregate dedups and counts.

    Scale note: Expand multiplies shuffle volume by the number of distinct
    groups (3x here), which is the real cost of multi-distinct at 100 TB.
    When exactness isn't required, `approx_count_distinct` (HLL, see
    agg_approx_distinct_customers) keeps the shuffle at O(groups); when it
    is, splitting into per-column aggregations joined on the group key can
    beat one Expand for wide fact rows — Expand replicates the whole row.
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.countDistinct("o_orderpriority").alias("n_priorities"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "agg_corr_moments_exact",
    oracle="""
WITH s AS (
  SELECT l_returnflag,
    CAST(COUNT(*) AS DOUBLE) AS n,
    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
             * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
             * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
  FROM lineitem
  GROUP BY l_returnflag
)
SELECT l_returnflag,
  CAST(n AS BIGINT) AS n_rows,
  (sxx - sx * sx / n) / (n - 1) AS var_qty,
  (sxy - sx * sy / n)
    / SQRT((sxx - sx * sx / n) * (syy - sy * sy / n)) AS corr_qty_price
FROM s
ORDER BY l_returnflag
""",
    doc="Sample variance + Pearson correlation from exact-DECIMAL power "
    "sums — engine-identical, unlike builtin stddev/corr on doubles.",
)
def agg_corr_moments_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moment statistics (variance, correlation) computed from power sums
    (n, Sx, Sy, Sxx, Syy, Sxy) accumulated in exact DECIMAL, with the
    closed-form double arithmetic applied only to the final per-group
    scalars.

    Why not F.stddev/F.corr: Spark's builtin moment aggregates merge
    partition-local central moments, so the result depends on partition
    boundaries in the last ulps, and DuckDB's streaming accumulation
    differs again — a value-exact cross-engine (or even cross-partitioning)
    comparison is impossible. Power sums in DECIMAL are associative and
    exact (quantities/prices are cents-valued), so every engine and every
    partitioning produces bit-identical doubles after the final cast.

    Scale shape: one partial-aggregated shuffle of six sums per group —
    the same single-pass profile as any hash aggregate; no second pass
    over the data (the naive two-pass 'subtract the mean' formulation
    would rescan the fact table).
    """
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("decimal(18,2)")
    p = F.col("l_extendedprice").cast("decimal(18,2)")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(q).cast("double").alias("sx"),
        F.sum(p).cast("double").alias("sy"),
        F.sum(q * q).cast("double").alias("sxx"),
        F.sum(p * p).cast("double").alias("syy"),
        F.sum(q * p).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return s.select(
        "l_returnflag",
        n.cast("bigint").alias("n_rows"),
        ((sxx - sx * sx / n) / (n - 1)).alias("var_qty"),
        (
            (sxy - sx * sy / n)
            / F.sqrt((sxx - sx * sx / n) * (syy - sy * sy / n))
        ).alias("corr_qty_price"),
    ).orderBy("l_returnflag")


@register(
    "agg_histogram_equiwidth",
    oracle="""
SELECT CAST(FLOOR(o_totalprice / 25000) AS BIGINT) AS bin,
  COUNT(*) AS n,
  MIN(o_totalprice) AS lo,
  MAX(o_totalprice) AS hi
FROM orders
GROUP BY 1
""",
    doc="Equi-width histogram (E4): fixed-width binning is a plain "
    "groupBy — partial agg reduces every partition to O(bins) before the "
    "exchange, so profiling 100 TB shuffles only bins * mappers rows.",
)
def agg_histogram_equiwidth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """25k-wide price bins with per-bin count and observed min/max
    (min/max are exact doubles — no arithmetic, so engine-identical)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy(
        F.floor(F.col("o_totalprice") / 25000).cast("long").alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )


@register(
    "agg_histogram_equidepth",
    oracle="""
WITH t AS (
  SELECT o_totalprice,
    NTILE(8) OVER (ORDER BY o_totalprice, o_orderkey) AS q
  FROM orders
)
SELECT q, COUNT(*) AS n,
  MIN(o_totalprice) AS lo,
  MAX(o_totalprice) AS hi
FROM t GROUP BY q
""",
    doc="Equi-depth histogram (E4): NTILE(8) over a deterministic total "
    "order (price, orderkey tie-break) -> per-bucket bounds, computed "
    "through the distributed NTILE primitive (ranks.py — range "
    "split + per-partition window + broadcast offsets, never a "
    "single-task sort). Exact equi-depth at any scale; the approximate "
    "path is agg_percentiles_order_value's approx_percentile.",
)
def agg_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact octile boundaries. NTILE assigns floor/ceil bucket sizes
    identically in Spark and DuckDB given the same total order, so the
    bucket populations and bounds are engine-exact. r12: moved off the
    unpartitioned window onto the shared distributed-rank primitive
    (execution-only rewrite; oracle unchanged)."""
    from .ranks import with_global_ntile

    orders = load_table(spark, sf_dir, "orders")
    return (
        with_global_ntile(
            orders.select("o_totalprice", "o_orderkey"),
            [F.col("o_totalprice"), F.col("o_orderkey")],
            8,
            out="q",
        )
        .groupBy("q")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


@register(
    "agg_robust_stats",
    oracle="""
WITH rk AS (
  SELECT o_orderpriority AS priority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders
),
st AS (
  SELECT priority, n,
    MAX(CASE WHEN rn = (n - 1) // 2 + 1 THEN cents END)
      + MAX(CASE WHEN rn = n // 2 + 1 THEN cents END) AS med2,
    MAX(CASE WHEN rn = (n - 1) * 1 // 4 + 1 THEN cents END) AS a25,
    MAX(CASE WHEN rn = (n - 1) * 1 // 4 + 2 THEN cents END) AS b25,
    MAX(CASE WHEN rn = (n - 1) * 3 // 4 + 1 THEN cents END) AS a75,
    MAX(CASE WHEN rn = (n - 1) * 3 // 4 + 2 THEN cents END) AS b75
  FROM rk GROUP BY priority, n
),
dev AS (
  SELECT r.priority, abs(2 * r.cents - s.med2) AS d2,
         ROW_NUMBER() OVER (PARTITION BY r.priority
                            ORDER BY abs(2 * r.cents - s.med2)) AS rn,
         r.n
  FROM rk r JOIN st s USING (priority)
),
madq AS (
  SELECT priority,
    MAX(CASE WHEN rn = (n - 1) // 2 + 1 THEN d2 END)
      + MAX(CASE WHEN rn = n // 2 + 1 THEN d2 END) AS mad4
  FROM dev GROUP BY priority, n
)
SELECT s.priority,
  ROUND(s.med2 / 200.0, 2) AS p50,
  ROUND(m.mad4 / 400.0, 2) AS mad,
  ROUND(((4 * a75 + (COALESCE(b75, a75) - a75) * ((n - 1) * 3 % 4))
         - (4 * a25 + (COALESCE(b25, a25) - a25) * ((n - 1) * 1 % 4)))
        / 400.0, 2) AS iqr
FROM st s JOIN madq m USING (priority)
""",
    doc="Robust dispersion stats (E4): per-group median, MAD, IQR. MAD is "
    "inherently two-pass (median of deviations from the median) — pass 1 "
    "ranks the group and derives the exact DOUBLED median (c_lo + c_hi "
    "in integer cents, so a .5-cent median is still an integer), pass 2 "
    "re-joins it broadcast and ranks |2x - med2| — EXACT half-cent "
    "integers — for the MAD median; quartiles interpolate in exact "
    "quarter-cent integers ((n-1)*q held in fourths). r10 hardening: "
    "the altseed-777 differential caught the engines' built-in "
    "percentile interpolations diverging by 1 ulp at a ROUND boundary; "
    "now the only float op is one final division of identical "
    "integers. Moment stats (exact skew/kurtosis) are the one-pass "
    "twin.",
)
def agg_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    rk = orders.select(
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
        F.col("o_totalprice").alias("p"),
    )
    rk = (
        rk.withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("priority").orderBy("p")),
        )
        .withColumn(
            "n", F.count(F.lit(1)).over(Window.partitionBy("priority"))
        )
        .drop("p")
    )
    def at(rank_expr: str, col: str = "cents"):
        return F.max(F.when(F.expr(f"rn = {rank_expr}"), F.col(col)))
    st = rk.groupBy("priority", "n").agg(
        (at("(n - 1) div 2 + 1") + at("n div 2 + 1")).alias("med2"),
        at("(n - 1) * 1 div 4 + 1").alias("a25"),
        at("(n - 1) * 1 div 4 + 2").alias("b25"),
        at("(n - 1) * 3 div 4 + 1").alias("a75"),
        at("(n - 1) * 3 div 4 + 2").alias("b75"),
    )
    dev = (
        rk.join(F.broadcast(st.select("priority", "med2")), "priority")
        .select(
            "priority",
            "n",
            F.abs(2 * F.col("cents") - F.col("med2")).alias("d2"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("priority").orderBy("d2")
            ),
        )
    )
    madq = dev.groupBy("priority", "n").agg(
        (at("(n - 1) div 2 + 1", "d2") + at("n div 2 + 1", "d2")).alias(
            "mad4"
        )
    ).select("priority", "mad4")
    return (
        st.join(madq, "priority")
        .select(
            "priority",
            F.round(F.expr("med2 / CAST(200 AS DOUBLE)"), 2).alias("p50"),
            F.round(F.expr("mad4 / CAST(400 AS DOUBLE)"), 2).alias("mad"),
            F.round(
                F.expr(
                    "((4 * a75 + (COALESCE(b75, a75) - a75)"
                    " * ((n - 1) * 3 % 4))"
                    " - (4 * a25 + (COALESCE(b25, a25) - a25)"
                    " * ((n - 1) * 1 % 4))) / CAST(400 AS DOUBLE)"
                ),
                2,
            ).alias("iqr"),
        )
    )


@register(
    "agg_mode_per_group",
    oracle="""
WITH counts AS (
  SELECT l_returnflag, l_linestatus,
         CAST(round(l_quantity * 100) AS BIGINT) AS qc,
         COUNT(*) AS cnt
  FROM lineitem GROUP BY 1, 2, 3
)
SELECT l_returnflag, l_linestatus,
       CAST(qc AS DOUBLE) / 100 AS mode_qty,
       CAST(cnt AS BIGINT) AS mode_count
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY l_returnflag, l_linestatus
    ORDER BY cnt DESC, qc ASC
  ) AS rn FROM counts
) WHERE rn = 1
""",
    doc="Deterministic MODE (E4): most frequent quantity per "
    "(returnflag, linestatus), ties to the LOWEST value — built-in "
    "mode() is tie-nondeterministic in BOTH engines, so the operator is "
    "two mergeable aggregations: value counts, then a lexicographic "
    "struct max argmax of (count, -value). Both shuffles partial-agg; "
    "the second exchange carries one struct per group.",
)
def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mode() with a total order: (cnt DESC, value ASC). The cents-int
    value rides inside the comparison struct negated so the struct MAX
    realizes the ASC value tiebreak."""
    li = load_table(spark, sf_dir, "lineitem")
    qc = F.round(F.col("l_quantity") * 100, 0).cast("bigint")
    counts = li.groupBy(
        "l_returnflag", "l_linestatus", qc.alias("qc")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    top = F.max(F.struct(F.col("cnt"), (-F.col("qc")).alias("nqc"))).alias("t")
    return (
        counts.groupBy("l_returnflag", "l_linestatus")
        .agg(top)
        .select(
            "l_returnflag",
            "l_linestatus",
            ((-F.col("t.nqc")).cast("double") / 100).alias("mode_qty"),
            F.col("t.cnt").cast("bigint").alias("mode_count"),
        )
    )


@register(
    "agg_winsorized_stats",
    oracle="""
WITH c AS (
  SELECT o_orderpriority AS priority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
ranked AS (
  SELECT priority, cents,
    ROW_NUMBER() OVER (PARTITION BY priority ORDER BY cents) AS rn,
    COUNT(*) OVER (PARTITION BY priority) AS n
  FROM c
),
bounds AS (
  SELECT priority,
    MAX(CASE WHEN rn = (n + 19) // 20 THEN cents END) AS lo,
    MAX(CASE WHEN rn = (19 * n + 19) // 20 THEN cents END) AS hi
  FROM ranked GROUP BY priority
)
SELECT c.priority,
  CAST(COUNT(*) AS BIGINT) AS n,
  ROUND(CAST(SUM(LEAST(GREATEST(cents, lo), hi)) AS DOUBLE)
        / (100 * COUNT(*)), 2) AS winsorized_mean,
  CAST(SUM(CASE WHEN cents < lo THEN 1 ELSE 0 END) AS BIGINT)
    AS n_clamped_low,
  CAST(SUM(CASE WHEN cents > hi THEN 1 ELSE 0 END) AS BIGINT)
    AS n_clamped_high
FROM c JOIN bounds USING (priority)
GROUP BY c.priority
""",
    doc="Winsorized mean (E4, robust-stats family): clamp order values "
    "at the DISCRETE 5th/95th order statistics, then average. Bounds are "
    "actual data points at integer rank positions ((n+19) DIV 20 and "
    "(19n+19) DIV 20 — pure integer math), so no interpolated float can "
    "sit on a cross-engine boundary; the clamped sum rides cents "
    "integers. Two-pass with a broadcast O(groups) bounds re-join — the "
    "same shape as the MAD query.",
)
def agg_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization caps outliers instead of dropping them (vs trimmed
    mean) — the robust location estimate a feature pipeline applies to
    heavy-tailed monetary columns. The rank positions use ceil(q*n)
    computed exactly in integers; the value AT a rank in the sorted
    multiset is unique even under ties, so row_number's tie order cannot
    leak into the result."""
    c = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    w = Window.partitionBy("priority").orderBy("cents")
    ranked = c.select(
        "priority",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(
            Window.partitionBy("priority")
        ).alias("n"),
    )
    bounds = (
        ranked.groupBy("priority")
        .agg(
            F.max(
                F.when(
                    F.col("rn") == F.expr("(n + 19) DIV 20"), F.col("cents")
                )
            ).alias("lo"),
            F.max(
                F.when(
                    F.col("rn") == F.expr("(19 * n + 19) DIV 20"),
                    F.col("cents"),
                )
            ).alias("hi"),
        )
    )
    clamped = c.join(F.broadcast(bounds), "priority")
    return clamped.groupBy("priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(
            F.sum(F.least(F.greatest("cents", "lo"), "hi")).cast("double")
            / (100 * F.count(F.lit(1))),
            2,
        ).alias("winsorized_mean"),
        F.sum((F.col("cents") < F.col("lo")).cast("bigint"))
        .cast("bigint")
        .alias("n_clamped_low"),
        F.sum((F.col("cents") > F.col("hi")).cast("bigint"))
        .cast("bigint")
        .alias("n_clamped_high"),
    )


SLIDING_HOURS = 3  # trailing window width for the sliding distinct count


@register(
    "agg_hll_sliding_distinct",
    flag_oracle=True,
    oracle=f"""
WITH pairs AS (
  SELECT DISTINCT date_trunc('hour', ts) AS hour, user_id FROM events
),
targets AS (
  SELECT hour + INTERVAL (off) HOUR AS t_hour, user_id
  FROM pairs, unnest(generate_series(0, {SLIDING_HOURS - 1})) AS s(off)
),
exact AS (
  SELECT t_hour AS hour, COUNT(DISTINCT user_id) AS exact_distinct
  FROM targets GROUP BY 1
),
bounds AS (SELECT MIN(date_trunc('hour', ts)) AS lo,
                  MAX(date_trunc('hour', ts)) AS hi FROM events)
SELECT hour, CAST(exact_distinct AS BIGINT) AS exact_distinct,
       TRUE AS hll_within_5pct
FROM exact, bounds
WHERE hour >= lo AND hour <= hi
""",
    doc="Sliding-window distinct users per hour (trailing 3 h) from "
    "MERGEABLE per-hour HLL sketches: hourly sketches are built once, "
    "then each target hour UNIONS its 3 trailing sketches — no re-scan "
    "of raw events per window, the sketch-rollup pattern that makes "
    "sliding distinct affordable at 100 TB (recomputing COUNT DISTINCT "
    "per window re-reads the corpus W times). Bound-flag oracle: exact "
    "sliding counts value-checked, HLL estimate within 5% as a boolean.",
)
def agg_hll_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact side and sketch side share the hour-explode shape; the
    sketch side's input is O(hours) sketch rows, not events. Edge hours
    (the first two) union fewer sketches — same semantics as the exact
    trailing window, which also sees fewer source hours there."""
    events = load_table(spark, sf_dir, "events")
    hourly_pairs = events.select(
        F.date_trunc("hour", "ts").alias("hour"), "user_id"
    ).distinct()
    # exact trailing-3h distinct via the explode-to-targets rewrite
    off = F.explode(
        F.sequence(F.lit(0), F.lit(SLIDING_HOURS - 1))
    ).alias("off")
    targets = hourly_pairs.select("hour", "user_id", off).select(
        (F.col("hour") + F.make_interval(hours=F.col("off"))).alias(
            "t_hour"
        ),
        "user_id",
    )
    exact = targets.groupBy(F.col("t_hour").alias("hour")).agg(
        F.count_distinct("user_id").alias("exact_distinct")
    )
    # sketch side: one hourly sketch build over raw events, then an
    # O(hours * W) explode of SKETCH ROWS unioned per target hour
    hourly_sk = events.groupBy(
        F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    sk_targets = hourly_sk.select("hour", "sk", off).select(
        (F.col("hour") + F.make_interval(hours=F.col("off"))).alias(
            "t_hour"
        ),
        "sk",
    )
    est = sk_targets.groupBy(F.col("t_hour").alias("hour")).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    bounds = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    return (
        exact.join(est, "hour")
        .crossJoin(F.broadcast(bounds))
        .filter((F.col("hour") >= F.col("lo")) & (F.col("hour") <= F.col("hi")))
        .select(
            "hour",
            F.col("exact_distinct").cast("bigint").alias("exact_distinct"),
            (
                F.abs(F.col("est") - F.col("exact_distinct"))
                <= 0.05 * F.col("exact_distinct")
            ).alias("hll_within_5pct"),
        )
    )


@register(
    "agg_grouping_id_rollup",
    oracle="""
SELECT COALESCE(o_orderstatus, '(subtotal)') AS status,
  COALESCE(o_orderpriority, '(subtotal)') AS priority,
  CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS INT)
    AS gid,
  CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""",
    doc="ROLLUP with GROUPING() disambiguation (E5): the gid bit vector "
    "(status-bit*2 + priority-bit) tells subtotal rows apart from rows "
    "whose group value is genuinely NULL — the correctness detail the "
    "COALESCE-only rollup queries cannot express (composed per-column "
    "from GROUPING() in both engines, avoiding any bit-order dialect "
    "difference in native grouping_id encodings). Same single-pass "
    "Expand + partial-agg plan as plain ROLLUP.",
)
def agg_grouping_id_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    gid = (
        F.grouping("o_orderstatus") * 2 + F.grouping("o_orderpriority")
    ).cast("int")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            gid.alias("gid"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("(subtotal)")).alias(
                "status"
            ),
            F.coalesce(F.col("o_orderpriority"), F.lit("(subtotal)")).alias(
                "priority"
            ),
            "gid",
            "n_orders",
        )
    )


@register(
    "agg_bitmap_distinct",
    oracle="""
SELECT o_orderpriority,
  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    doc="EXACT distinct counting via distributed bitmap fold (the "
    "Druid/ClickHouse bitmap-index pattern, the exact complement to "
    "the HLL sketches): each key maps to (word = key DIV 64, "
    "bit = key MOD 64); per (group, word) the set bits bit_or-combine "
    "MAP-SIDE, so the shuffle carries one 64-bit word per occupied "
    "bucket instead of one row per distinct key; bit_count + SUM "
    "finishes the count. Versus COUNT DISTINCT's Expand+dedup "
    "re-shuffle, the bitmap fold is one associative aggregation whose "
    "volume is bounded by the KEY-SPACE density, not the row count — "
    "at 100 TB with dense surrogate keys this is the cheapest exact "
    "method there is (sparse keyspaces instead want HLL, the "
    "registered approx path). The oracle is plain COUNT DISTINCT: "
    "same answer, different physics.",
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_custkey"
    )
    words = (
        orders.select(
            "o_orderpriority",
            (F.col("o_custkey") / 64).cast("long").alias("word_idx"),
            F.expr(
                "shiftleft(1L, CAST(pmod(o_custkey, 64) AS INT))"
            ).alias("bit"),
        )
        .groupBy("o_orderpriority", "word_idx")
        .agg(F.expr("bit_or(bit)").alias("bits"))
    )
    return (
        words.groupBy("o_orderpriority")
        .agg(F.sum(F.bit_count("bits")).cast("bigint").alias("n_customers"))
        .orderBy("o_orderpriority")
    )


@register(
    "agg_bitmap_overlap",
    oracle="""
WITH u AS (SELECT DISTINCT o_custkey FROM orders
           WHERE o_orderpriority = '1-URGENT'),
l AS (SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderpriority = '5-LOW')
SELECT
  CAST((SELECT COUNT(*) FROM u) AS BIGINT) AS n_urgent,
  CAST((SELECT COUNT(*) FROM l) AS BIGINT) AS n_low,
  CAST((SELECT COUNT(*) FROM u JOIN l USING (o_custkey)) AS BIGINT)
    AS n_both,
  CAST((SELECT COUNT(*) FROM (SELECT * FROM u UNION SELECT * FROM l))
       AS BIGINT) AS n_either,
  CAST((SELECT COUNT(*) FROM u
        WHERE o_custkey NOT IN (SELECT o_custkey FROM l)) AS BIGINT)
    AS n_urgent_only
""",
    doc="EXACT audience-overlap set algebra on bitmaps (the bitmap-index "
    "companion to agg_bitmap_distinct): build one bitmap per segment "
    "(urgent-order customers, low-priority customers) as (word, bits) "
    "rows via map-side bit_or, then compute intersection / union / "
    "difference cardinalities with POSITION-WISE bit ops on a full "
    "outer word join — bit_count(a&b), bit_count(a|b), "
    "bit_count(a&~b). No row-level join between the segments ever "
    "happens: after the per-segment fold, overlap math touches one "
    "64-bit word per occupied bucket, which is how bitmap-indexed "
    "engines answer audience-overlap at interactive speed over "
    "billions of keys. Oracle computes the same five cardinalities "
    "from first-principles set SQL.",
)
def agg_bitmap_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_custkey"
    )

    def seg_words(priority: str, col: str) -> DataFrame:
        return (
            orders.filter(F.col("o_orderpriority") == priority)
            .select(
                (F.col("o_custkey") / 64).cast("long").alias("word_idx"),
                F.expr(
                    "shiftleft(1L, CAST(pmod(o_custkey, 64) AS INT))"
                ).alias("bit"),
            )
            .groupBy("word_idx")
            .agg(F.expr("bit_or(bit)").alias(col))
        )
    u = seg_words("1-URGENT", "ub")
    low = seg_words("5-LOW", "lb")
    words = (
        u.join(low, "word_idx", "full_outer")
        .select(
            F.coalesce(F.col("ub"), F.lit(0)).alias("ub"),
            F.coalesce(F.col("lb"), F.lit(0)).alias("lb"),
        )
    )
    return words.agg(
        F.sum(F.bit_count("ub")).cast("bigint").alias("n_urgent"),
        F.sum(F.bit_count("lb")).cast("bigint").alias("n_low"),
        F.sum(F.bit_count(F.expr("ub & lb"))).cast("bigint").alias("n_both"),
        F.sum(F.bit_count(F.expr("ub | lb")))
        .cast("bigint")
        .alias("n_either"),
        F.sum(F.bit_count(F.expr("ub & ~lb")))
        .cast("bigint")
        .alias("n_urgent_only"),
    )


@register(
    "agg_rfm_segments",
    oracle="""
WITH per_cust AS (
  SELECT o_custkey,
    date_diff('day', MAX(o_orderdate),
              (SELECT MAX(o_orderdate) FROM orders)) AS recency_days,
    CAST(COUNT(*) AS BIGINT) AS frequency,
    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      AS monetary_cents
  FROM orders GROUP BY o_custkey
),
scored AS (
  SELECT *,
    NTILE(5) OVER (ORDER BY recency_days, o_custkey) AS r_score,
    NTILE(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
    NTILE(5) OVER (ORDER BY monetary_cents DESC, o_custkey) AS m_score
  FROM per_cust
)
SELECT CAST(r_score AS INT) AS r_score, CAST(f_score AS INT) AS f_score,
  CAST(m_score AS INT) AS m_score,
  CAST(COUNT(*) AS BIGINT) AS n_customers,
  CAST(SUM(monetary_cents) AS BIGINT) AS segment_cents
FROM scored
GROUP BY r_score, f_score, m_score
ORDER BY r_score, f_score, m_score
""",
    doc="RFM customer segmentation (recency / frequency / monetary — "
    "the marketing-analytics staple): per customer, days since last "
    "order (anchored to the data's own max date, never wall-clock), "
    "order count, and exact cents; each dimension NTILE(5)-scored "
    "with customer-key tiebreaks so quintile boundaries are "
    "engine-deterministic; rolled up to the 125-cell segment cube. "
    "Spark shape: one shuffle to per-customer stats, the 1-row max "
    "date broadcast, three DISTRIBUTED quintile assignments over "
    "O(customers) rows (operators/ranks.py NTILE — three range "
    "splits, never a single-task sort), O(125) output.",
)
def agg_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    anchor = orders.agg(F.max("o_orderdate").alias("anchor"))
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("monetary_cents"),
        )
        .join(F.broadcast(anchor))
        .withColumn(
            "recency_days", F.datediff(F.col("anchor"), F.col("last_order"))
        )
    )
    # three independent quintile assignments over O(customers), each on
    # the distributed NTILE (operators/ranks.py) — three range splits
    # instead of three single-task sorts.
    from .ranks import with_global_ntile

    scored = with_global_ntile(
        with_global_ntile(
            with_global_ntile(
                per_cust.select(
                    "o_custkey",
                    "recency_days",
                    "frequency",
                    "monetary_cents",
                ),
                [F.col("recency_days"), F.col("o_custkey")],
                5,
                out="r_score",
            ),
            [F.col("frequency").desc(), F.col("o_custkey")],
            5,
            out="f_score",
        ),
        [F.col("monetary_cents").desc(), F.col("o_custkey")],
        5,
        out="m_score",
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("monetary_cents").cast("bigint").alias("segment_cents"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


@register(
    "agg_weighted_median",
    oracle="""
WITH w AS (
  SELECT l_returnflag,
    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
    CAST(l_quantity AS BIGINT) AS qty
  FROM lineitem
),
cum AS (
  SELECT l_returnflag, cents, qty,
    SUM(qty) OVER (PARTITION BY l_returnflag ORDER BY cents, qty
                   ROWS UNBOUNDED PRECEDING) AS cum_qty,
    SUM(qty) OVER (PARTITION BY l_returnflag) AS total_qty
  FROM w
)
SELECT l_returnflag,
  CAST(MIN(cents) AS BIGINT) AS weighted_median_cents,
  CAST(MAX(total_qty) AS BIGINT) AS total_weight
FROM cum
WHERE 2 * cum_qty >= total_qty
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    doc="Exact WEIGHTED median (quantity-weighted median unit price per "
    "return flag): the first value whose cumulative weight crosses "
    "half the total — a single integer cross-product test "
    "(2*cum >= total) over exact cents and integer quantities, with "
    "(cents, qty) ordering making the crossing row unique. Weighted "
    "percentiles have no built-in in either engine; this is the "
    "sort-and-scan formulation both express identically. Spark shape: "
    "one Exchange(returnflag) shared by both window sums (one sort), "
    "then a 4-group aggregate. At 100 TB pre-aggregate equal cents "
    "values per group first (groupBy(flag, cents).sum(qty)) to "
    "shrink the sorted set to distinct prices — same answer, same "
    "crossing test.",
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100)
        .cast("bigint")
        .alias("cents"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("cents", "qty")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("l_returnflag")
    cum = li.select(
        "l_returnflag",
        "cents",
        F.sum("qty").over(w_cum).alias("cum_qty"),
        F.sum("qty").over(w_all).alias("total_qty"),
    )
    return (
        cum.filter(2 * F.col("cum_qty") >= F.col("total_qty"))
        .groupBy("l_returnflag")
        .agg(
            F.min("cents").cast("bigint").alias("weighted_median_cents"),
            F.max("total_qty").cast("bigint").alias("total_weight"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_gini_revenue",
    oracle="""
WITH per_cust AS (
  SELECT o_custkey,
    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      AS cents
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT cents,
    ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i,
    COUNT(*) OVER () AS n,
    SUM(cents) OVER () AS total
  FROM per_cust
)
SELECT CAST(MAX(n) AS BIGINT) AS n_customers,
  CAST(MAX(total) AS BIGINT) AS total_cents,
  ROUND((2.0 * SUM(CAST(i AS HUGEINT) * cents) - (MAX(n) + 1.0) * MAX(total))
        / (MAX(n) * MAX(total)), 6) AS gini
FROM ranked
""",
    doc="Gini coefficient of per-customer revenue (the inequality "
    "measure behind whale-risk and fairness dashboards): the exact "
    "rank formula G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) "
    "over cents sorted ascending with customer-key tiebreaks — the "
    "n^2-class rank-weighted product i*x_i accumulates in "
    "DECIMAL(38,0) (Spark) / HUGEINT (DuckDB), so the statistic is "
    "exact to ~1e38 in the summand rather than overflowing int64 "
    "near 3e9 customers (r12 5x residue, lifted r13; under ANSI the "
    "old bound was a job-killing throw, not a wrong answer). "
    "Complements events_pareto_concentration (one number vs the "
    "curve). One shuffle to per-customer cents, then the distributed "
    "rank + totals primitive (operators/ranks.py) over O(customers) "
    "rows — a range split, never a single-task sort — and O(1) "
    "output.",
)
def agg_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ranks import with_global_order_stats

    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    # rank-sum Gini needs every customer's global revenue rank — the
    # distributed row number + same-broadcast grand totals
    # (operators/ranks.py), never a single-task sort of O(customers).
    ranked = with_global_order_stats(
        per_cust,
        [F.col("cents"), F.col("o_custkey")],
        row_number="i",
        totals={"n": F.lit(1), "total": F.col("cents")},
    ).select("cents", "i", "n", "total")
    # DECIMAL(38,0) summand: i*cents is n^2-class (rank x revenue) and
    # outgrows int64 past ~3e9 customers; decimal accumulation keeps the
    # sum exact to 1e38 (mirrors the oracle's HUGEINT promotion).
    rank_rev = F.col("i").cast("decimal(38,0)") * F.col("cents")
    return ranked.agg(
        F.max("n").cast("bigint").alias("n_customers"),
        F.max("total").cast("bigint").alias("total_cents"),
        F.round(
            (
                2.0 * F.sum(rank_rev)
                - (F.max("n") + 1.0) * F.max("total")
            )
            / (F.max("n") * F.max("total")),
            6,
        ).alias("gini"),
    )


@register(
    "agg_skew_kurtosis_exact",
    oracle="""
WITH s AS (
  SELECT l_returnflag,
    CAST(COUNT(*) AS DOUBLE) AS n,
    CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(9,2))
                  * CAST(l_quantity AS DECIMAL(9,2)) AS DECIMAL(15,4)))
         AS DOUBLE) AS sxx,
    CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(9,2))
                  * CAST(l_quantity AS DECIMAL(9,2)) AS DECIMAL(15,4))
             * CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS sxxx,
    CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(9,2))
                  * CAST(l_quantity AS DECIMAL(9,2)) AS DECIMAL(15,4))
             * CAST(CAST(l_quantity AS DECIMAL(9,2))
                    * CAST(l_quantity AS DECIMAL(9,2)) AS DECIMAL(15,4)))
         AS DOUBLE) AS sxxxx
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
  ROUND((sxxx / n - 3 * (sx / n) * (sxx / n) + 2 * (sx / n) * (sx / n) * (sx / n))
        / POW(sxx / n - (sx / n) * (sx / n), 1.5), 6) AS skewness,
  ROUND((sxxxx / n - 4 * (sx / n) * (sxxx / n)
         + 6 * (sx / n) * (sx / n) * (sxx / n)
         - 3 * (sx / n) * (sx / n) * (sx / n) * (sx / n))
        / POW(sxx / n - (sx / n) * (sx / n), 2) - 3, 6) AS kurtosis_excess
FROM s ORDER BY l_returnflag
""",
    doc="Population skewness + excess kurtosis from exact-DECIMAL power "
    "sums (E4, extending agg_corr_moments_exact to 3rd/4th moments): "
    "Sx..Sx^4 accumulate in DECIMAL — associative and exact, so every "
    "partitioning and both engines produce bit-identical doubles when "
    "the closed-form central-moment arithmetic runs on the final "
    "per-group scalars (builtin skewness/kurtosis merge partition-"
    "local central moments and are partition-order-dependent in the "
    "last ulps). DECIMAL widths chosen so no product or sum can "
    "round: q^2 fits (15,4), q^2*q^2 fits (31,8), sums stay under "
    "precision 38. One partial-agg shuffle of five sums per group.",
)
def agg_skew_kurtosis_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("decimal(9,2)")
    q2 = (q * q).cast("decimal(15,4)")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(q).cast("double").alias("sx"),
        F.sum(q2).cast("double").alias("sxx"),
        F.sum(q2 * q).cast("double").alias("sxxx"),
        F.sum(q2 * q2).cast("double").alias("sxxxx"),
    )
    n, sx, sxx, sxxx, sxxxx = (
        F.col("n"),
        F.col("sx"),
        F.col("sxx"),
        F.col("sxxx"),
        F.col("sxxxx"),
    )
    m1 = sx / n
    m2 = sxx / n - m1 * m1
    m3 = sxxx / n - 3 * m1 * (sxx / n) + 2 * m1 * m1 * m1
    m4 = (
        sxxxx / n
        - 4 * m1 * (sxxx / n)
        + 6 * m1 * m1 * (sxx / n)
        - 3 * m1 * m1 * m1 * m1
    )
    return s.select(
        "l_returnflag",
        n.cast("bigint").alias("n_rows"),
        F.round(m3 / F.pow(m2, 1.5), 6).alias("skewness"),
        F.round(m4 / F.pow(m2, 2) - 3, 6).alias("kurtosis_excess"),
    ).orderBy("l_returnflag")


@register(
    "agg_ks_two_sample",
    oracle="""
WITH a AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
),
b AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v
  FROM orders WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
),
na AS (SELECT COUNT(*) AS na FROM a),
nb AS (SELECT COUNT(*) AS nb FROM b),
merged AS (
  SELECT v, 1 AS ca, 0 AS cb FROM a
  UNION ALL SELECT v, 0, 1 FROM b
),
cum AS (
  SELECT v,
    SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                  AND CURRENT ROW) AS fa,
    SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                  AND CURRENT ROW) AS fb
  FROM merged
),
atv AS (SELECT v, fa, fb FROM (SELECT v, MAX(fa) AS fa, MAX(fb) AS fb
                               FROM cum GROUP BY v))
SELECT CAST(na.na AS BIGINT) AS n_a, CAST(nb.nb AS BIGINT) AS n_b,
  CAST(MAX(ABS(fa * nb.nb - fb * na.na)) AS BIGINT) AS d_cross,
  CAST((MAX(ABS(fa * nb.nb - fb * na.na)) * 1000000)
       // (na.na * nb.nb) AS BIGINT) AS d_micro
FROM atv, na, nb GROUP BY na.na, nb.nb
""",
    doc="Two-sample Kolmogorov-Smirnov statistic, exact (E4 statistics "
    "family; the distribution-shift test behind drift monitors that "
    "PSI approximates): D = max_v |F_a(v) - F_b(v)| between urgent- "
    "and normal-priority order values, computed WITHOUT floats — the "
    "ECDF difference is held as the integer cross-product "
    "|cum_a * n_b - cum_b * n_a| (exact), maxed, and reported both "
    "raw and as micro-units via bigint div. ECDFs evaluated at each "
    "distinct value's last tied row (the sup over the right-"
    "continuous step function). Plan: one union scan, one grouped "
    "agg, the distributed multi-measure prefix sum "
    "(operators/ranks.py — a genuine range-partitioned sort, never "
    "a single-task window), one max.",
)
def agg_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ranks import with_global_order_stats

    orders = load_table(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    merged = orders.select(
        cents.alias("v"),
        F.when(urgent, 1).otherwise(0).alias("ca"),
        F.when(urgent, 0).otherwise(1).alias("cb"),
    )
    # Both ECDFs in one distributed pass (operators/ranks.py): collapse
    # to per-distinct-value counts, then running sums of each sample's
    # counts + both grand totals through one range split — the
    # inclusive cumsum at each distinct v equals the old per-row
    # window's max-per-v, with no single-task sort of O(rows).
    g = merged.groupBy("v").agg(
        F.sum("ca").alias("na_v"), F.sum("cb").alias("nb_v")
    )
    atv = with_global_order_stats(
        g,
        [F.col("v")],
        cumsums={"fa": F.col("na_v"), "fb": F.col("nb_v")},
        totals={"na": F.col("na_v"), "nb": F.col("nb_v")},
    ).select("v", "fa", "fb", "na", "nb")
    return (
        atv.groupBy("na", "nb")
        .agg(
            F.max(
                F.abs(F.col("fa") * F.col("nb") - F.col("fb") * F.col("na"))
            ).alias("d_cross")
        )
        .select(
            F.col("na").cast("bigint").alias("n_a"),
            F.col("nb").cast("bigint").alias("n_b"),
            F.col("d_cross").cast("bigint").alias("d_cross"),
            F.expr(
                "CAST((d_cross * 1000000) div (na * nb) AS BIGINT)"
            ).alias("d_micro"),
        )
    )


@register(
    "agg_mann_whitney_u",
    oracle="""
WITH m AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
         THEN 1 ELSE 0 END AS grp_a
  FROM orders
),
ranked AS (
  SELECT grp_a,
    -- doubled midrank = 2*min_rank + (ties - 1): stays integer under ties
    2 * RANK() OVER (ORDER BY v)
      + COUNT(*) OVER (PARTITION BY v) - 1 AS r2
  FROM m
)
SELECT
  CAST(SUM(grp_a) AS BIGINT) AS n_a,
  CAST(SUM(1 - grp_a) AS BIGINT) AS n_b,
  CAST((SUM(CASE WHEN grp_a = 1 THEN r2 ELSE 0 END)
        - SUM(grp_a) * (SUM(grp_a) + 1)) AS BIGINT) AS u_a_x2,
  CAST((SUM(CASE WHEN grp_a = 0 THEN r2 ELSE 0 END)
        - SUM(1 - grp_a) * (SUM(1 - grp_a) + 1)) AS BIGINT) AS u_b_x2,
  ((SUM(CASE WHEN grp_a = 1 THEN r2 ELSE 0 END)
    - SUM(grp_a) * (SUM(grp_a) + 1))
   + (SUM(CASE WHEN grp_a = 0 THEN r2 ELSE 0 END)
      - SUM(1 - grp_a) * (SUM(1 - grp_a) + 1))
   = 2 * SUM(grp_a) * SUM(1 - grp_a)) AS u_sum_identity_ok
FROM ranked
""",
    doc="Mann-Whitney U rank-sum statistic, exact and tie-aware (E4 "
    "statistics family, the nonparametric location test next to the "
    "KS shape test): urgent- vs normal-priority order values ranked "
    "once globally with DOUBLED midranks (2*min_rank + ties - 1 — an "
    "integer even when ties make the midrank a half), U for each side "
    "in the same 2x units, plus the U_a + U_b = n_a*n_b identity as "
    "an in-query invariant flag. No float anywhere; the n^2-class "
    "rank-sums and n*(n+1) products accumulate in DECIMAL(38,0) "
    "(DuckDB: HUGEINT), exact to 1e38 — the BIGINT outputs bind only "
    "when U itself passes int64 (~9.2e18, i.e. n_a*n_b at ~3e9 each "
    "side), not at the old int64 intermediate bound. Ranks come from "
    "the grouped form — per distinct value, doubled midrank "
    "r2 = 2*cum_count - ties + 1 off the distributed prefix sum "
    "(operators/ranks.py) — so the plan is one grouped agg + one "
    "range split + one aggregate, never a single-task sort.",
)
def agg_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ranks import with_global_order_stats

    orders = load_table(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    m = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
        F.when(urgent, 1).otherwise(0).alias("grp_a"),
    )
    g = m.groupBy("v").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("grp_a").alias("cnt_a")
    )
    # min_rank(v) = cum_count(<=v) - ties + 1, so the doubled midrank
    # 2*min_rank + ties - 1 collapses to 2*cum - cnt + 1 — one value
    # per distinct v, shared by all its rows.
    cum = with_global_order_stats(
        g, [F.col("v")], cumsums={"c": F.col("cnt")}
    ).withColumn("r2", 2 * F.col("c") - F.col("cnt") + 1)
    na = F.sum("cnt_a")
    nb = F.sum(F.col("cnt") - F.col("cnt_a"))
    # DECIMAL(38,0) lift (r12 5x residue, lifted r13): the rank-sums
    # SUM(cnt*r2) and the products n*(n+1) / 2*n_a*n_b are n^2-class —
    # int64-exact only to ~3e9 subjects, and a job-killing ANSI throw
    # past that. Decimal accumulation keeps every intermediate exact to
    # 1e38; the BIGINT output casts now bind only when U itself exceeds
    # int64 (n_a*n_b > 9.2e18), mirroring DuckDB's HUGEINT promotion.
    dec = "decimal(38,0)"
    ra = F.sum(F.col("cnt_a").cast(dec) * F.col("r2"))
    rb = F.sum((F.col("cnt") - F.col("cnt_a")).cast(dec) * F.col("r2"))
    ua = ra - na.cast(dec) * (na + 1)
    ub = rb - nb.cast(dec) * (nb + 1)
    return cum.agg(
        na.cast("bigint").alias("n_a"),
        nb.cast("bigint").alias("n_b"),
        ua.cast("bigint").alias("u_a_x2"),
        ub.cast("bigint").alias("u_b_x2"),
        ((ua + ub) == na.cast(dec) * nb * 2).alias("u_sum_identity_ok"),
    )


# ---------------------------------------------------------------------------
# Spark 4 listagg: ordered string aggregation (the SQL:2016 surface)
# ---------------------------------------------------------------------------


@register(
    "agg_listagg_surface",
    oracle="""
WITH ds AS (
  SELECT DISTINCT o_orderpriority, o_orderstatus FROM orders
)
SELECT o_orderpriority,
  string_agg(o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
  CAST(COUNT(*) AS BIGINT) AS n_statuses
FROM ds GROUP BY o_orderpriority
""",
    doc="Spark 4 listagg (SPARK-42746, the SQL:2016 LISTAGG ... WITHIN "
    "GROUP surface): ordered string aggregation of each priority's "
    "distinct statuses — deterministic because the WITHIN GROUP "
    "ordering is total after the distinct. DuckDB oracle uses its "
    "string_agg ORDER BY equivalent; same values byte-for-byte.",
)
def agg_listagg_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    ds = orders.select("o_orderpriority", "o_orderstatus").distinct()
    ds.createOrReplaceTempView("_listagg_ds")
    return spark.sql(
        """
        SELECT o_orderpriority,
          listagg(o_orderstatus, ',')
            WITHIN GROUP (ORDER BY o_orderstatus) AS statuses,
          CAST(COUNT(*) AS BIGINT) AS n_statuses
        FROM _listagg_ds GROUP BY o_orderpriority
        """
    )


# ---------------------------------------------------------------------------
# Delta-method ratio-metric confidence interval — ratio-of-means metrics
# (purchases per view) violate the iid-mean assumptions of the plain
# t-interval; the delta method (standard in experimentation, e.g. Deng
# et al. 2017 "Applying the Delta Method in Metric Analytics") gives the
# correct first-order variance from per-user moments.

_RATIO_R = "CAST(sy AS DOUBLE) / sx"
_RATIO_SE = (
    "SQRT(GREATEST(0.0,"
    " (CAST(n * syy - sy * sy AS DOUBLE) / (n * (n - 1))"
    "  - 2.0 * ({r}) * CAST(n * sxy - sx * sy AS DOUBLE) / (n * (n - 1))"
    "  + ({r}) * ({r})"
    "    * CAST(n * sxx - sx * sx AS DOUBLE) / (n * (n - 1)))"
    " / n)) / (CAST(sx AS DOUBLE) / n)"
).format(r=_RATIO_R)


@register(
    "agg_delta_method_ratio_ci",
    oracle=f"""
WITH per_user AS (
  SELECT user_id,
    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)
      AS x,
    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         AS BIGINT) AS y
  FROM events GROUP BY user_id
),
f AS (SELECT * FROM per_user WHERE x > 0),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
    CAST(SUM(x * x) AS BIGINT) AS sxx,
    CAST(SUM(x * y) AS BIGINT) AS sxy,
    CAST(SUM(y * y) AS BIGINT) AS syy
  FROM f
)
SELECT n AS n_users, sx AS total_views, sy AS total_purchases,
  ROUND({_RATIO_R}, 6) AS ratio_r6,
  ROUND({_RATIO_SE}, 6) AS se_r6,
  ROUND({_RATIO_R} - 1.959963985 * ({_RATIO_SE}), 6) AS ci_lo_r6,
  ROUND({_RATIO_R} + 1.959963985 * ({_RATIO_SE}), 6) AS ci_hi_r6
FROM m
""",
    doc="Delta-method CI for the ratio-of-means metric purchases-per-"
    "view (Deng et al. 2017): per-user numerator/denominator pairs, "
    "exact BIGINT cross-product moments, and the first-order variance "
    "(var_y - 2r cov + r^2 var_x) / (n mean_x^2) as ONE fixed-shape "
    "IEEE expression shared verbatim with the oracle (z = 1.959963985 "
    "baked as a literal). The correct interval where the naive "
    "per-user-ratio average is biased. Plan: one Exchange(user_id) + "
    "a 1-row finish.",
)
def agg_delta_method_ratio_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    per_user = (
        events.groupBy("user_id")
        .agg(
            F.sum((F.col("event_type") == "view").cast("int"))
            .cast("bigint")
            .alias("x"),
            F.sum((F.col("event_type") == "purchase").cast("int"))
            .cast("bigint")
            .alias("y"),
        )
        .filter(F.col("x") > 0)
    )
    m = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    return m.select(
        F.col("n").alias("n_users"),
        F.col("sx").alias("total_views"),
        F.col("sy").alias("total_purchases"),
        F.expr(f"ROUND({_RATIO_R}, 6)").alias("ratio_r6"),
        F.expr(f"ROUND({_RATIO_SE}, 6)").alias("se_r6"),
        F.expr(
            f"ROUND({_RATIO_R} - 1.959963985 * ({_RATIO_SE}), 6)"
        ).alias("ci_lo_r6"),
        F.expr(
            f"ROUND({_RATIO_R} + 1.959963985 * ({_RATIO_SE}), 6)"
        ).alias("ci_hi_r6"),
    )


# ---------------------------------------------------------------------------
# Herfindahl-Hirschman market concentration — the antitrust-standard
# one-number complement to the Gini/Pareto pair: sum of squared revenue
# shares per market (nation), in exact integer arithmetic.


@register(
    "agg_hhi_market_concentration",
    oracle="""
WITH rev AS (
  SELECT n.n_name AS nation, c.c_custkey,
    CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
      AS cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
),
tot AS (
  SELECT nation, CAST(SUM(cents) AS BIGINT) AS market
  FROM rev GROUP BY nation
),
hhi AS (
  SELECT r.nation,
    CAST(COUNT(*) AS BIGINT) AS n_firms,
    MAX(t.market) AS market_cents,
    -- share in basis points (x10000), squared and summed: the classic
    -- 0..1e8 HHI scale, exact integers throughout
    CAST(SUM(((r.cents * 10000) // t.market)
             * ((r.cents * 10000) // t.market)) AS BIGINT) AS hhi_bp2
  FROM rev r JOIN tot t USING (nation)
  GROUP BY r.nation
)
SELECT nation, n_firms, market_cents, hhi_bp2,
  hhi_bp2 > 2500 * 2500 AS highly_concentrated
FROM hhi
""",
    doc="Herfindahl-Hirschman index per nation market: customers are the "
    "'firms', shares quantized to basis points (floor) BEFORE squaring "
    "so the index is an exact integer on the classic 0..10^8 scale; the "
    "DOJ 2500-point threshold flags concentration. One customer rollup, "
    "one market total broadcast back, exact integers end to end — the "
    "regulator's complement to agg_gini_revenue / "
    "events_pareto_concentration.",
)
def agg_hhi_market_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), "c_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    tot = rev.groupBy("nation").agg(
        F.sum("cents").cast("bigint").alias("market")
    )
    hhi = (
        rev.join(F.broadcast(tot), "nation")
        .groupBy("nation")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_firms"),
            F.max("market").cast("bigint").alias("market_cents"),
            F.sum(
                F.expr("((cents * 10000) div market)")
                * F.expr("((cents * 10000) div market)")
            )
            .cast("bigint")
            .alias("hhi_bp2"),
        )
    )
    return hhi.select(
        "nation",
        "n_firms",
        "market_cents",
        "hhi_bp2",
        (F.col("hhi_bp2") > 2500 * 2500).alias("highly_concentrated"),
    )


# ---------------------------------------------------------------------------
# Hill tail-index estimator (Hill 1975) — HOW heavy is the revenue tail?
# The quantitative counterpart to the Pareto/Gini/HHI concentration trio:
# alpha near 1 = extreme tail, large alpha = thin tail.

HILL_K = 100  # top-k order statistics


@register(
    "agg_tail_index_hill",
    oracle=f"""
WITH v AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
    ROW_NUMBER() OVER (ORDER BY CAST(round(o_totalprice * 100) AS BIGINT)
                       DESC, o_orderkey) AS rn
  FROM orders
),
topk AS (SELECT cents, rn FROM v WHERE rn <= {HILL_K} + 1),
xk AS (SELECT cents AS x_k FROM topk WHERE rn = {HILL_K} + 1),
terms AS (
  SELECT CAST(FLOOR(1000000.0 * LN(CAST(t.cents AS DOUBLE) / xk.x_k))
              AS BIGINT) AS term_micro
  FROM topk t, xk WHERE t.rn <= {HILL_K}
),
h AS (SELECT CAST(SUM(term_micro) AS BIGINT) AS s FROM terms)
SELECT CAST({HILL_K} AS BIGINT) AS k,
  (SELECT x_k FROM xk) AS threshold_cents,
  h.s AS sum_log_excess_micro,
  CAST((CAST({HILL_K} AS BIGINT) * 1000000000000) // h.s AS BIGINT)
    AS alpha_micro
FROM h
""",
    doc="Hill 1975 tail-index estimator over order values: alpha_hat = "
    f"k / sum(ln(x_i / x_k)) across the top k={HILL_K} order "
    "statistics (deterministic orderkey tie-break). Each log-excess "
    "term is quantized to micro BIGINT before the order-free sum, and "
    "alpha itself is an exact integer division on the summed micros — "
    "FULL value oracle. Plan: one TakeOrdered(k+1)-class top-k (heap "
    "merge, no global sort at scale) + an O(k) finish. Reads the "
    "heavy-tail EXPONENT the Pareto/Gini/HHI trio only rank.",
)
def agg_tail_index_hill(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    v = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        "o_orderkey",
    )
    # TakeOrdered top-(k+1), not row_number-filter: the rank-filter idiom
    # gets NO WindowGroupLimit rewrite for an unpartitioned window (r15
    # audit), so it would single-task-sort every order at scale — the
    # doc's heap-merge claim is made true by construction here.
    from .ranks import global_topk

    topk = global_topk(
        v, [F.desc("cents"), F.col("o_orderkey")], HILL_K + 1, out="rn"
    ).select("cents", "rn")
    xk = topk.filter(F.col("rn") == HILL_K + 1).select(
        F.col("cents").alias("x_k")
    )
    terms = (
        topk.filter(F.col("rn") <= HILL_K)
        .crossJoin(F.broadcast(xk))
        .select(
            F.expr(
                "CAST(FLOOR(1000000.0 *"
                " LN(CAST(cents AS DOUBLE) / x_k)) AS BIGINT)"
            ).alias("term_micro"),
            "x_k",
        )
    )
    return terms.agg(
        F.lit(HILL_K).cast("bigint").alias("k"),
        F.max("x_k").cast("bigint").alias("threshold_cents"),
        F.sum("term_micro").cast("bigint").alias("sum_log_excess_micro"),
        F.expr(
            f"CAST((CAST({HILL_K} AS BIGINT) * 1000000000000)"
            " div SUM(term_micro) AS BIGINT)"
        ).alias("alpha_micro"),
    )


# ---------------------------------------------------------------------------
# Lorenz curve — the decile-resolution curve behind agg_gini_revenue's
# one number: cumulative revenue share of the poorest k/10 of customers.


@register(
    "agg_lorenz_curve_deciles",
    oracle="""
WITH rev AS (
  SELECT o_custkey,
    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      AS cents
  FROM orders GROUP BY o_custkey
),
deciled AS (
  SELECT cents, NTILE(10) OVER (ORDER BY cents, o_custkey) AS d
  FROM rev
),
per AS (
  SELECT d, CAST(COUNT(*) AS BIGINT) AS n_cust,
         CAST(SUM(cents) AS BIGINT) AS cents
  FROM deciled GROUP BY d
),
cum AS (
  SELECT d, n_cust, cents,
    CAST(SUM(cents) OVER (ORDER BY d) AS BIGINT) AS cum_cents,
    CAST(SUM(cents) OVER () AS BIGINT) AS total,
    CAST(SUM(n_cust) OVER (ORDER BY d) AS BIGINT) AS cum_cust,
    CAST(SUM(n_cust) OVER () AS BIGINT) AS n_total
  FROM per
)
SELECT CAST(d AS INT) AS decile, n_cust, cents AS decile_cents,
  -- cum_cents * 1e6 outgrows BIGINT once total revenue passes ~9e12
  -- cents (caught by the r12 5x-corpus differential): lift the product
  -- to HUGEINT / DECIMAL(38,0) — identical positive floor-div in both
  -- engines, headroom to ~1e32 cents.
  CAST((CAST(cum_cents AS HUGEINT) * 1000000) // total AS BIGINT)
    AS cum_share_ppm,
  CAST((CAST(cum_cust AS HUGEINT) * 1000000) // n_total AS BIGINT)
    AS cum_pop_ppm
FROM cum
""",
    doc="Lorenz curve at decile resolution over per-customer revenue "
    "(deterministic NTILE with custkey tie-break): cumulative revenue "
    "share vs cumulative population share in exact integer ppm — the "
    "curve agg_gini_revenue integrates and events_pareto_concentration "
    "reads from the other end. One customer rollup, one DISTRIBUTED "
    "NTILE (operators/ranks.py — never a single-task sort of "
    "O(customers)), one O(10) window.",
)
def agg_lorenz_curve_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ranks import with_global_ntile

    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    # decile assignment over O(customers) rides the distributed NTILE
    # (operators/ranks.py); the cumulative-share windows below run over
    # the 10 DECILE rows the groupBy leaves — bounded by construction.
    deciled = with_global_ntile(
        rev, [F.col("cents"), F.col("o_custkey")], 10, out="d"
    ).select("cents", "d")
    per = deciled.groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cust"),
        F.sum("cents").cast("bigint").alias("cents"),
    )
    wc = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per.select(
        "d",
        "n_cust",
        "cents",
        F.sum("cents").over(wc).cast("bigint").alias("cum_cents"),
        F.sum("cents").over(wall).cast("bigint").alias("total"),
        F.sum("n_cust").over(wc).cast("bigint").alias("cum_cust"),
        F.sum("n_cust").over(wall).cast("bigint").alias("n_total"),
    )
    return cum.select(
        F.col("d").cast("int").alias("decile"),
        "n_cust",
        F.col("cents").alias("decile_cents"),
        # DECIMAL(38,0) lift mirrors the oracle's HUGEINT (r12 5x
        # finding: cum_cents * 1e6 overflows BIGINT past ~9e12 cents)
        F.expr(
            "CAST((CAST(cum_cents AS DECIMAL(38,0)) * 1000000)"
            " div total AS BIGINT)"
        ).alias("cum_share_ppm"),
        F.expr(
            "CAST((CAST(cum_cust AS DECIMAL(38,0)) * 1000000)"
            " div n_total AS BIGINT)"
        ).alias("cum_pop_ppm"),
    )


# ---------------------------------------------------------------------------
# Top-k with OTHERS rollup — the dashboard staple: per nation, the top-3
# customers by revenue as named rows plus one OTHERS row carrying the
# remainder, so every group still sums to its total.

TOPK_OTHERS_K = 3


@register(
    "agg_topk_with_others",
    oracle=f"""
WITH rev AS (
  SELECT n.n_name AS nation, c.c_custkey,
    CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
      AS cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT nation, c_custkey, cents,
    ROW_NUMBER() OVER (PARTITION BY nation
                       ORDER BY cents DESC, c_custkey) AS rn
  FROM rev
)
SELECT nation,
  CASE WHEN rn <= {TOPK_OTHERS_K} THEN CAST(c_custkey AS VARCHAR)
       ELSE 'OTHERS' END AS member,
  CAST(MIN(CASE WHEN rn <= {TOPK_OTHERS_K} THEN rn ELSE 999 END) AS INT)
    AS rank_slot,
  CAST(COUNT(*) AS BIGINT) AS n_customers,
  CAST(SUM(cents) AS BIGINT) AS revenue_cents
FROM ranked
GROUP BY nation, CASE WHEN rn <= {TOPK_OTHERS_K}
                      THEN CAST(c_custkey AS VARCHAR) ELSE 'OTHERS' END
""",
    doc="Top-k-with-OTHERS rollup (the dashboard staple no SQL built-in "
    "covers): per nation, the top-3 revenue customers as named rows "
    "plus one OTHERS row aggregating the long tail, so each group "
    "still sums to its exact total (mass-balance tested). "
    "WindowGroupLimit does NOT apply — the tail must be kept and "
    "folded, which is exactly why this needs its own operator: one "
    "Exchange(nation) shared by the rank window and the re-aggregate.",
)
def agg_topk_with_others(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), "c_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("nation").orderBy(F.desc("cents"), "c_custkey")
    )
    ranked = rev.withColumn("rn", rn)
    member = F.when(
        F.col("rn") <= TOPK_OTHERS_K, F.col("c_custkey").cast("string")
    ).otherwise(F.lit("OTHERS"))
    return (
        ranked.withColumn("member", member)
        .groupBy("nation", "member")
        .agg(
            F.min(
                F.when(F.col("rn") <= TOPK_OTHERS_K, F.col("rn")).otherwise(
                    F.lit(999)
                )
            )
            .cast("int")
            .alias("rank_slot"),
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Quantile normalization — map source B's score distribution onto source
# A's quantiles (the feature-prep / batch-effect-removal op from
# bioinformatics, equally standard for cross-source quality-score
# harmonization in corpus prep).


@register(
    "agg_quantile_normalization",
    oracle="""
WITH a AS (
  SELECT n_chars AS v,
    ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rn,
    COUNT(*) OVER () AS n
  FROM documents WHERE source = 'src0'
),
b AS (
  SELECT doc_id, n_chars AS v,
    ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rn,
    COUNT(*) OVER () AS n
  FROM documents WHERE source = 'src1'
),
-- b's rank maps to a's value at the same quantile: the index is the
-- integer floor of (rn-1)*n_a over n_b, plus 1 — pure integers
mapped AS (
  SELECT b.doc_id, b.v AS raw_value, b.rn,
    ((b.rn - 1) * a_n.n) // b.n + 1 AS a_idx
  FROM b, (SELECT MAX(n) AS n FROM a) a_n
)
SELECT m.doc_id, m.raw_value,
  CAST(a.v AS BIGINT) AS normalized_value,
  CAST(m.rn AS BIGINT) AS source_rank
FROM mapped m JOIN a ON a.rn = m.a_idx
""",
    doc="Quantile normalization of src1's length distribution onto "
    "src0's (the batch-effect-removal op: after mapping, src1's "
    "distribution EQUALS src0's, a property the test asserts): ranks "
    "via the distributed row-number primitive (operators/ranks.py — "
    "two range splits, never a single-task sort of either slice), "
    "quantile index as a pure integer floor((rn-1)*n_a/n_b)+1, one "
    "plain equi join on the index (not broadcast: the reference side "
    "is corpus-sized too). The cross-source score harmonizer for "
    "corpus-prep quality features.",
)
def agg_quantile_normalization(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .ranks import with_global_order_stats

    docs = load_table(spark, sf_dir, "documents")
    # Both sources' ranks ride the distributed row number + same-pass
    # counts (operators/ranks.py) — never a single-task sort of either
    # corpus slice; the rank-to-rank map is then a plain equi join on
    # a_idx (NOT broadcast: the reference side is corpus-sized too).
    a = with_global_order_stats(
        docs.filter(F.col("source") == "src0").select("n_chars", "doc_id"),
        [F.col("n_chars"), F.col("doc_id")],
        row_number="rn",
        totals={"na": F.lit(1)},
    ).select(F.col("n_chars").alias("v"), "rn", "na")
    b = with_global_order_stats(
        docs.filter(F.col("source") == "src1").select("n_chars", "doc_id"),
        [F.col("n_chars"), F.col("doc_id")],
        row_number="rn",
        totals={"nb": F.lit(1)},
    ).select("doc_id", F.col("n_chars").alias("v"), "rn", "nb")
    a_n = a.agg(F.max("na").alias("na"))
    mapped = b.crossJoin(F.broadcast(a_n)).select(
        "doc_id",
        F.col("v").alias("raw_value"),
        "rn",
        F.expr("((rn - 1) * na) div nb + 1").alias("a_idx"),
    )
    return mapped.join(
        a.select(F.col("rn").alias("a_idx"), "v"), "a_idx"
    ).select(
        "doc_id",
        "raw_value",
        F.col("v").cast("bigint").alias("normalized_value"),
        F.col("rn").cast("bigint").alias("source_rank"),
    )


# ---------------------------------------------------------------------------
# One-sample Kolmogorov-Smirnov uniformity test — the formal audit of the
# md5 bucket assignment every deterministic sampler here leans on: are
# the 100 buckets of md5(user_id) actually uniform?

KS1_BUCKETS = 100


@register(
    "agg_ks_uniformity_gof",
    oracle=f"""
WITH b AS (
  SELECT ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 4))::INT
           % {KS1_BUCKETS} AS bucket
  FROM (SELECT DISTINCT user_id FROM events)
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM b),
ecdf AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY bucket
),
cum AS (
  SELECT bucket,
    CAST(SUM(c) OVER (ORDER BY bucket) AS BIGINT) AS cum_c
  FROM ecdf
),
-- D = max |ECDF - uniform CDF| at bucket edges; cross-multiplied to the
-- integer |cum_c * B - (bucket+1) * n| (scaled by n*B)
d AS (
  SELECT MAX(ABS(cum_c * {KS1_BUCKETS} - (bucket + 1) * n.n)) AS d_num,
         MAX(n.n) AS n
  FROM cum, n
)
SELECT n AS n_users,
  CAST(d_num AS BIGINT) AS d_scaled,
  ROUND(CAST(d_num AS DOUBLE) / (n * {KS1_BUCKETS}), 6) AS ks_d_r6,
  -- 95% critical value 1.358/sqrt(n), cross-multiplied:
  -- D > crit  <=>  d_num / (n*B) > 1.358/sqrt(n)
  CAST(d_num AS DOUBLE) * SQRT(CAST(n AS DOUBLE))
    > 1.358 * n * {KS1_BUCKETS} AS reject_uniform_05
FROM d
""",
    doc="One-sample Kolmogorov-Smirnov uniformity audit of the md5 "
    "bucket assignment (the hash every deterministic split/sampler in "
    "this repo rides on): D = max |ECDF - k/B| at bucket edges, "
    "cross-multiplied to exact integers; the 1.358/sqrt(n) 95% "
    "rejection is one shared IEEE comparison. Completes the KS pair "
    "(agg_ks_two_sample tests two samples; this tests one against a "
    "theoretical CDF). A genuinely non-uniform hash would fail the "
    "suite here, loudly.",
)
def agg_ks_uniformity_gof(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.col("user_id").cast("string").cast("binary")), 1, 4
            ),
            16,
            10,
        ).cast("int")
        % KS1_BUCKETS
    )
    b = events.select("user_id").distinct().select(bucket.alias("bucket"))
    n = b.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ecdf = b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = ecdf.select(
        "bucket", F.sum("c").over(w).cast("bigint").alias("cum_c")
    )
    d = cum.crossJoin(F.broadcast(n)).agg(
        F.max(
            F.abs(
                F.col("cum_c") * KS1_BUCKETS
                - (F.col("bucket") + 1) * F.col("n")
            )
        )
        .cast("bigint")
        .alias("d_num"),
        F.max("n").cast("bigint").alias("n"),
    )
    return d.select(
        F.col("n").alias("n_users"),
        F.col("d_num").alias("d_scaled"),
        F.expr(
            f"ROUND(CAST(d_num AS DOUBLE) / (n * {KS1_BUCKETS}), 6)"
        ).alias("ks_d_r6"),
        F.expr(
            f"CAST(d_num AS DOUBLE) * SQRT(CAST(n AS DOUBLE))"
            f" > 1.358 * n * {KS1_BUCKETS}"
        ).alias("reject_uniform_05"),
    )


# ---------------------------------------------------------------------------
# Exact global median WITHOUT a global sort — the 100 TB order-statistic
# pattern: binary-search the integer value domain, one COUNT(< mid)
# aggregate per round, O(log(domain)) bounded rounds. The scale answer
# to "exact median of a table that cannot be sorted".

MEDIAN_BISECT_MAX_ROUNDS = 64


def exact_median_bisect(df: DataFrame, col: str) -> tuple[int, int, int]:
    """(lower-median value, n_rows, rounds) for BIGINT column ``col``.

    Each round runs ONE partial-agg'd count aggregate (no shuffle of
    rows, no sort); the search interval halves until it pins the value
    whose rank is ceil(n/2) — the LOWER median, deterministic for even
    n. Lineage never grows: the loop state is three Python ints."""
    import math  # noqa: F401  (kept for symmetry with other drivers)

    agg = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(col).alias("lo"),
        F.max(col).alias("hi"),
    ).collect()[0]
    n, lo, hi = int(agg["n"]), int(agg["lo"]), int(agg["hi"])
    target = (n + 1) // 2  # rank of the lower median
    rounds = 0
    while lo < hi and rounds < MEDIAN_BISECT_MAX_ROUNDS:
        mid = (lo + hi) // 2
        n_le = df.filter(F.col(col) <= mid).count()
        if n_le >= target:
            hi = mid
        else:
            lo = mid + 1
        rounds += 1
    return lo, n, rounds


@register(
    "agg_exact_median_bisection",
    oracle="""
WITH v AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
),
r AS (
  SELECT cents, ROW_NUMBER() OVER (ORDER BY cents) AS rn,
         COUNT(*) OVER () AS n
  FROM v
)
SELECT CAST(MAX(n) AS BIGINT) AS n_rows,
  CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS BIGINT)
    AS median_cents
FROM r
""",
    doc="EXACT global median of order value by BISECTION on the integer "
    "cents domain — O(log(domain)) bounded rounds of one partial-agg'd "
    "COUNT each, NO global sort, no per-partition materialization: the "
    "pattern that computes an exact order statistic of a 100 TB column "
    "a sort could never touch. The median value and row count are "
    "value-checked against DuckDB's rank formulation (FULL value "
    "oracle); convergence-before-the-round-cap and selection-vs-sort "
    "equality are asserted in tests/test_plans.py.",
)
def agg_exact_median_bisection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    v = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents")
    )
    median, n, rounds = exact_median_bisect(v, "cents")
    assert rounds < MEDIAN_BISECT_MAX_ROUNDS  # provably <= log2(domain)
    return spark.createDataFrame(
        [(n, median)], "n_rows long, median_cents long"
    )


# ---------------------------------------------------------------------------
# Theil T inequality index with within/between decomposition — the
# property Gini famously lacks: T_total ~= T_between + sum of
# income-share-weighted within-group T (exact up to the nano
# quantization, a tolerance the test pins).

_THEIL_TERM = (
    "CAST(FLOOR(1000000000.0 * (CAST(cents AS DOUBLE) / gsum)"
    " * LN(CAST(cents AS DOUBLE) * gn / gsum)) AS BIGINT)"
)


@register(
    "agg_theil_decomposition",
    oracle=f"""
WITH rev AS (
  SELECT n.n_name AS nation, c.c_custkey,
    CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
      AS cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
),
pos AS (SELECT * FROM rev WHERE cents > 0),
g AS (
  SELECT nation, CAST(COUNT(*) AS BIGINT) AS gn,
    CAST(SUM(cents) AS BIGINT) AS gsum
  FROM pos GROUP BY nation
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS s
  FROM pos
),
within AS (
  SELECT p.nation,
    CAST(SUM({_THEIL_TERM}) AS BIGINT) AS t_within_raw_nano
  FROM pos p JOIN g ON g.nation = p.nation
  GROUP BY p.nation
),
between_terms AS (
  SELECT g.nation, g.gn, g.gsum,
    CAST(FLOOR(1000000000.0 * (CAST(g.gsum AS DOUBLE) / tot.s)
         * LN((CAST(g.gsum AS DOUBLE) / tot.s)
              / (CAST(g.gn AS DOUBLE) / tot.n))) AS BIGINT) AS tb_nano
  FROM g, tot
),
tb AS (SELECT CAST(SUM(tb_nano) AS BIGINT) AS t_between_nano
       FROM between_terms)
SELECT w.nation, g.gn AS n_customers,
  CAST((g.gsum * 1000000) // tot.s AS BIGINT) AS income_share_ppm,
  w.t_within_raw_nano,
  tb.t_between_nano
FROM within w JOIN g USING (nation), tot, tb
""",
    doc="Theil T inequality with within/between decomposition over "
    "per-customer revenue by nation — the DECOMPOSABLE inequality "
    "index (Gini cannot split into group terms): per-nation raw "
    "within-group Theil sums (share-weighted in the decomposition "
    "identity, which tests pin within quantization tolerance) plus "
    "the between-nation term. Every (x/X)ln(.) term quantized to nano "
    "BIGINT before order-free sums, all division operands CAST AS "
    "DOUBLE. One customer rollup + one O(nations) finish.",
)
def agg_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), "c_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
        .filter(F.col("cents") > 0)
    )
    g = rev.groupBy("nation").agg(
        F.count(F.lit(1)).cast("bigint").alias("gn"),
        F.sum("cents").cast("bigint").alias("gsum"),
    )
    tot = rev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
    )
    within = (
        rev.join(F.broadcast(g), "nation")
        .select("nation", F.expr(_THEIL_TERM).alias("term"))
        .groupBy("nation")
        .agg(F.sum("term").cast("bigint").alias("t_within_raw_nano"))
    )
    between_terms = g.crossJoin(F.broadcast(tot)).select(
        "nation",
        F.expr(
            "CAST(FLOOR(1000000000.0 * (CAST(gsum AS DOUBLE) / s)"
            " * LN((CAST(gsum AS DOUBLE) / s)"
            " / (CAST(gn AS DOUBLE) / n))) AS BIGINT)"
        ).alias("tb_nano"),
    )
    tb = between_terms.agg(
        F.sum("tb_nano").cast("bigint").alias("t_between_nano")
    )
    return (
        within.join(F.broadcast(g), "nation")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(tb))
        .select(
            "nation",
            F.col("gn").alias("n_customers"),
            F.expr("CAST((gsum * 1000000) div s AS BIGINT)").alias(
                "income_share_ppm"
            ),
            "t_within_raw_nano",
            "t_between_nano",
        )
    )


@register(
    "agg_winsorized_trimmed_mean",
    oracle="""
WITH c AS (
  SELECT o_orderpriority AS priority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
rk AS (
  SELECT priority, cents,
         ROW_NUMBER() OVER (PARTITION BY priority ORDER BY cents) AS rn,
         COUNT(*) OVER (PARTITION BY priority) AS n
  FROM c
),
bounds AS (
  SELECT priority, n,
         MAX(CASE WHEN rn = CAST(ceil(0.1 * n) AS BIGINT)
                  THEN cents END) AS lo,
         MAX(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT)
                  THEN cents END) AS hi
  FROM rk GROUP BY priority, n
),
agg AS (
  SELECT r.priority, b.n, b.lo, b.hi,
    SUM(LEAST(GREATEST(r.cents, b.lo), b.hi)) AS wsum,
    SUM(CASE WHEN r.rn > CAST(ceil(0.1 * b.n) AS BIGINT)
              AND r.rn <= CAST(ceil(0.9 * b.n) AS BIGINT)
             THEN r.cents ELSE 0 END) AS tsum,
    SUM(CASE WHEN r.rn > CAST(ceil(0.1 * b.n) AS BIGINT)
              AND r.rn <= CAST(ceil(0.9 * b.n) AS BIGINT)
             THEN 1 ELSE 0 END) AS tn
  FROM rk r JOIN bounds b USING (priority)
  GROUP BY r.priority, b.n, b.lo, b.hi
)
SELECT priority, CAST(n AS BIGINT) AS n,
       CAST(lo AS BIGINT) AS lo_cents, CAST(hi AS BIGINT) AS hi_cents,
       CAST((wsum * 1000000) // n AS BIGINT) AS winsorized_mean_micro,
       -- NULLIF: an n=1 group trims EVERYTHING (ceil(.1*1)=ceil(.9*1)=1
       -- leaves no rows strictly inside), so tn=0 must yield NULL in
       -- both engines, never an engine-specific div-by-zero behavior
       CAST((tsum * 1000000) // NULLIF(tn, 0) AS BIGINT)
         AS trimmed_mean_micro
FROM agg ORDER BY priority
""",
    doc="Winsorized + trimmed mean per group (E4 robust-stats "
    "completion): rank-based 10th/90th bounds — k-th smallest with "
    "k = ceil(q*n), exact integer cents so no interpolation ambiguity "
    "— values clamped (winsorize) or dropped (trim) and the means "
    "emitted as exact floor-division micro-cents. Ties are safe by "
    "construction: row_number tie order is arbitrary but tied ranks "
    "hold EQUAL values, so bounds, clamped sums and trimmed sums are "
    "all tie-order invariant. Spark shape: ONE Exchange(priority) "
    "shared by the rank window and count window, a 5-row bounds "
    "aggregate broadcast back, one final partial agg. At 100 TB the "
    "honest exact cost is the per-group sort (same class as "
    "agg_histogram_equidepth); the approx path swaps in "
    "approx_percentile bounds on the same skeleton.",
)
def agg_winsorized_trimmed_mean(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window as W

    from ..sources.catalog import load_table

    c = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    rk = c.withColumn(
        "rn", F.row_number().over(W.partitionBy("priority").orderBy("cents"))
    ).withColumn("n", F.count(F.lit(1)).over(W.partitionBy("priority")))
    k_lo = F.expr("CAST(ceil(0.1 * n) AS BIGINT)")
    k_hi = F.expr("CAST(ceil(0.9 * n) AS BIGINT)")
    bounds = rk.groupBy("priority", "n").agg(
        F.max(F.when(F.col("rn") == k_lo, F.col("cents"))).alias("lo"),
        F.max(F.when(F.col("rn") == k_hi, F.col("cents"))).alias("hi"),
    )
    joined = rk.join(F.broadcast(bounds.drop("n")), "priority")
    in_trim = (F.col("rn") > k_lo) & (F.col("rn") <= k_hi)
    agg = joined.groupBy("priority", "n", "lo", "hi").agg(
        F.sum(F.least(F.greatest("cents", "lo"), "hi")).alias("wsum"),
        F.sum(F.when(in_trim, F.col("cents")).otherwise(0)).alias("tsum"),
        F.sum(F.when(in_trim, 1).otherwise(0)).alias("tn"),
    )
    return agg.select(
        "priority",
        F.col("n").cast("bigint").alias("n"),
        F.col("lo").cast("bigint").alias("lo_cents"),
        F.col("hi").cast("bigint").alias("hi_cents"),
        F.expr("CAST((wsum * 1000000) DIV n AS BIGINT)").alias(
            "winsorized_mean_micro"
        ),
        # NULLIF mirrors the oracle: n=1 groups trim to tn=0 (ADVICE
        # r10) — both engines must agree on NULL, not rely on non-ANSI
        # div-by-zero happening to return it
        F.expr(
            "CAST((tsum * 1000000) DIV NULLIF(tn, 0) AS BIGINT)"
        ).alias("trimmed_mean_micro"),
    ).orderBy("priority")
