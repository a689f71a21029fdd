"""Data-quality validation suite (training-pipeline extension).

Deequ-style constraint metrics computed in ONE pass over the fact table:
completeness (null fractions), key uniqueness, range / set-membership
compliance, and referential integrity against a dimension — the checks a
100 TB ingest pipeline runs before publishing a snapshot. The reference has
no data-quality layer at all (its ingest is fire-and-forget puts,
HPopulate/Main.java:97-116), so every malformed row silently skews the
report; this operator is the missing gate.

Spark-first design: every metric is a conditional aggregate over the same
scan — Catalyst fuses them into a single partial/final hash aggregate, so
adding a metric costs one column in the agg buffer, not another pass.
Referential integrity rides the same scan via a broadcast LEFT JOIN on the
dimension's key column (dim keys are small even at 100 TB fact scale:
customer keys at SF100k are ~10^9 rows — at that point swap the broadcast
for a shuffle join or a bloom pre-filter; the metric expression is
unchanged). The single wide agg row is then unpivoted driver-free with
``stack`` into (metric, value) rows.

Scale notes (100 TB): exactly-one full scan + O(1) output; the only
all-to-all movement is the count-distinct for key uniqueness (Expand +
re-aggregation on the key). If that shuffle dominates, downgrade the
uniqueness rule to ``approx_count_distinct`` (HLL, no Expand) — kept exact
here so DuckDB can oracle it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.registry import register
from ..sources.catalog import load_table

# (metric name, Spark boolean-violation expr factory) — the fraction metrics
# are avg(violation); shared by the query and the injected-violation test.
_DATE_LO, _DATE_HI = "1992-01-01", "2005-12-31"
_VALID_STATUS = ("F", "O", "P")


def _frac(cond) -> F.Column:
    return F.avg(cond.cast("int"))


def dq_metrics_orders_df(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """(metric, value) rows for the orders table validated against the
    customer dimension. ``customer`` only needs ``c_custkey``."""
    joined = orders.join(
        F.broadcast(customer.select("c_custkey")),
        orders["o_custkey"] == F.col("c_custkey"),
        "left",
    )
    agg = joined.agg(
        F.count(F.lit(1)).cast("double").alias("row_count"),
        _frac(F.col("o_orderkey").isNull()).alias("orderkey_null_frac"),
        _frac(F.col("o_custkey").isNull()).alias("custkey_null_frac"),
        (F.count_distinct(F.col("o_orderkey")) / F.count(F.lit(1))).alias(
            "orderkey_unique_ratio"
        ),
        _frac(F.col("o_totalprice") <= 0).alias("totalprice_nonpositive_frac"),
        _frac(~F.col("o_orderdate").between(_DATE_LO, _DATE_HI)).alias(
            "orderdate_out_of_range_frac"
        ),
        _frac(~F.col("o_orderstatus").isin(*_VALID_STATUS)).alias(
            "status_invalid_frac"
        ),
        _frac(F.col("c_custkey").isNull()).alias("custkey_orphan_frac"),
    )
    metrics = [
        "row_count",
        "orderkey_null_frac",
        "custkey_null_frac",
        "orderkey_unique_ratio",
        "totalprice_nonpositive_frac",
        "orderdate_out_of_range_frac",
        "status_invalid_frac",
        "custkey_orphan_frac",
    ]
    stack_args = ", ".join(f"'{m}', round({m}, 6)" for m in metrics)
    return agg.selectExpr(
        f"stack({len(metrics)}, {stack_args}) AS (metric, value)"
    )


_DQ_ORACLE = f"""
WITH j AS (
  SELECT o.*, c.c_custkey AS ck
  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
),
agg AS (
  SELECT
    COUNT(*)::DOUBLE AS row_count,
    AVG(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)::DOUBLE AS orderkey_null_frac,
    AVG(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::DOUBLE AS custkey_null_frac,
    (COUNT(DISTINCT o_orderkey)::DOUBLE / COUNT(*)) AS orderkey_unique_ratio,
    AVG(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)::DOUBLE AS totalprice_nonpositive_frac,
    AVG(CASE WHEN o_orderdate NOT BETWEEN DATE '{_DATE_LO}' AND DATE '{_DATE_HI}'
        THEN 1 ELSE 0 END)::DOUBLE AS orderdate_out_of_range_frac,
    AVG(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P') THEN 1 ELSE 0 END)::DOUBLE
        AS status_invalid_frac,
    AVG(CASE WHEN ck IS NULL THEN 1 ELSE 0 END)::DOUBLE AS custkey_orphan_frac
  FROM j
)
SELECT 'row_count' AS metric, ROUND(row_count, 6) AS value FROM agg
UNION ALL SELECT 'orderkey_null_frac', ROUND(orderkey_null_frac, 6) FROM agg
UNION ALL SELECT 'custkey_null_frac', ROUND(custkey_null_frac, 6) FROM agg
UNION ALL SELECT 'orderkey_unique_ratio', ROUND(orderkey_unique_ratio, 6) FROM agg
UNION ALL SELECT 'totalprice_nonpositive_frac', ROUND(totalprice_nonpositive_frac, 6) FROM agg
UNION ALL SELECT 'orderdate_out_of_range_frac', ROUND(orderdate_out_of_range_frac, 6) FROM agg
UNION ALL SELECT 'status_invalid_frac', ROUND(status_invalid_frac, 6) FROM agg
UNION ALL SELECT 'custkey_orphan_frac', ROUND(custkey_orphan_frac, 6) FROM agg
"""


@register(
    "dq_metrics_orders",
    oracle=_DQ_ORACLE,
    doc="Single-pass Deequ-style quality metrics: completeness, key "
    "uniqueness, range/set compliance, referential integrity (broadcast).",
)
def dq_metrics_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dq_metrics_orders_df(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "customer")
    )


# ---------------------------------------------------------------------------
# Order-invariant table fingerprint — migration / replication validation.
# Each row canonicalizes to a '|'-joined string (ints as decimal text,
# money as cents, timestamps as ISO dates — formats both engines produce
# identically), hashes through md5 (the cross-engine hash primitive; 15 hex
# chars = 60 bits fits BIGINT in both), and folds with BIT_XOR — order-
# invariant and width-stable, so no overflow at any row count (a plain SUM
# fingerprint overflows int64 past ~2^31 rows). XOR cancels duplicate ROW
# PAIRS, so the fingerprint travels with the row count and the cents-exact
# decimal revenue sum; all three must match for tables to be declared
# equal. One scan, O(1) output, partial-aggregable map-side.


def table_fingerprint_orders(orders: DataFrame) -> DataFrame:
    canon = F.concat_ws(
        "|",
        F.col("o_orderkey"),
        F.col("o_custkey"),
        F.round(F.col("o_totalprice") * 100).cast("long"),
        F.date_format("o_orderdate", "yyyy-MM-dd"),
        F.col("o_orderstatus"),
        F.col("o_orderpriority"),
    )
    h = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("long")
    return orders.select(h.alias("h"), F.col("o_totalprice").alias("p")).agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(h)").alias("fp_xor"),
        F.sum(F.col("p").cast("decimal(18,2)")).cast("double").alias("cents_sum"),
    )


_FP_ORACLE = """
SELECT COUNT(*) AS n,
  BIT_XOR(('0x' || substr(md5(concat_ws('|',
      o_orderkey, o_custkey,
      CAST(ROUND(o_totalprice * 100) AS BIGINT),
      strftime(o_orderdate, '%Y-%m-%d'),
      o_orderstatus, o_orderpriority)), 1, 15))::BIGINT) AS fp_xor,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS cents_sum
FROM orders
"""


@register(
    "dq_table_fingerprint",
    oracle=_FP_ORACLE,
    doc="Order-invariant cross-engine table checksum: canonical row string "
    "-> md5[0:15] -> BIT_XOR fold, plus row count and decimal money sum. "
    "Validates replication/migration without moving data.",
)
def dq_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table_fingerprint_orders(load_table(spark, sf_dir, "orders"))


@register(
    "profile_categorical_stats",
    oracle="""
WITH long AS (
  SELECT 'o_orderstatus' AS col, o_orderstatus AS val FROM orders
  UNION ALL
  SELECT 'o_orderpriority', o_orderpriority FROM orders
),
counts AS (SELECT col, val, COUNT(*)::DOUBLE AS cnt FROM long GROUP BY 1, 2)
SELECT col,
  COUNT(*) AS n_distinct,
  ROUND(log2(SUM(cnt)) - SUM(cnt * log2(cnt)) / SUM(cnt), 6) AS entropy,
  ROUND(1 - SUM(cnt * cnt) / (SUM(cnt) * SUM(cnt)), 6) AS gini
FROM counts GROUP BY col
""",
    doc="Categorical column profiling (DQ): distinct count, Shannon "
    "entropy, Gini impurity per column — one stack-unpivot, one value-"
    "count shuffle, one O(columns) final agg. Entropy via the single-pass "
    "identity H = log2(n) - sum(c*log2(c))/n, so no second pass for n.",
)
def profile_categorical_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    long = orders.selectExpr(
        "stack(2, 'o_orderstatus', o_orderstatus, "
        "'o_orderpriority', o_orderpriority) AS (col, val)"
    )
    counts = long.groupBy("col", "val").agg(
        F.count(F.lit(1)).cast("double").alias("cnt")
    )
    s = F.sum("cnt")
    return counts.groupBy("col").agg(
        F.count(F.lit(1)).alias("n_distinct"),
        F.round(
            F.log2(s) - F.sum(F.col("cnt") * F.log2("cnt")) / s, 6
        ).alias("entropy"),
        F.round(F.lit(1) - F.sum(F.col("cnt") * F.col("cnt")) / (s * s), 6).alias(
            "gini"
        ),
    )


@register(
    "profile_numeric_corr",
    oracle="""
SELECT 'quantity~extendedprice' AS pair,
       ROUND(corr(l_quantity, l_extendedprice), 6) AS r
FROM lineitem
UNION ALL
SELECT 'quantity~discount', ROUND(corr(l_quantity, l_discount), 6) FROM lineitem
UNION ALL
SELECT 'extendedprice~tax', ROUND(corr(l_extendedprice, l_tax), 6) FROM lineitem
""",
    doc="Pearson correlation profiling (DQ): all pairs computed in ONE "
    "aggregate pass over the scan (co-moments fuse into a single partial/"
    "final hash agg, O(pairs) state).",
)
def profile_numeric_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
            "quantity_extendedprice"
        ),
        F.round(F.corr("l_quantity", "l_discount"), 6).alias(
            "quantity_discount"
        ),
        F.round(F.corr("l_extendedprice", "l_tax"), 6).alias(
            "extendedprice_tax"
        ),
    )
    return wide.selectExpr(
        "stack(3, "
        "'quantity~extendedprice', quantity_extendedprice, "
        "'quantity~discount', quantity_discount, "
        "'extendedprice~tax', extendedprice_tax) AS (pair, r)"
    )


DRIFT_SPLIT = "1999-06-01"  # reference < split <= current
PSI_BUCKETS = 10


@register(
    "dq_drift_psi",
    oracle=f"""
WITH c AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         CASE WHEN o_orderdate < TIMESTAMP '{DRIFT_SPLIT}'
              THEN 0 ELSE 1 END AS slice
  FROM orders
),
ref AS (SELECT cents FROM c WHERE slice = 0),
ranked AS (
  SELECT cents, ROW_NUMBER() OVER (ORDER BY cents) AS rn,
         COUNT(*) OVER () AS n
  FROM ref
),
cuts AS (
  SELECT cents AS cut FROM ranked
  WHERE rn IN (SELECT (k * n) // {PSI_BUCKETS}
               FROM (SELECT MAX(n) AS n FROM ranked),
                    unnest(generate_series(1, {PSI_BUCKETS - 1})) AS s(k))
),
bucketed AS (
  SELECT slice,
    (SELECT COUNT(*) FROM cuts WHERE cut <= c.cents) AS bucket
  FROM c
),
counts AS (
  SELECT bucket,
    SUM(CASE WHEN slice = 0 THEN 1 ELSE 0 END) AS n_ref,
    SUM(CASE WHEN slice = 1 THEN 1 ELSE 0 END) AS n_cur
  FROM bucketed GROUP BY bucket
),
tot AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM counts)
SELECT CAST(bucket AS INT) AS bucket,
  CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
  ROUND(
    ((n_ref + 1.0) / (t_ref + {PSI_BUCKETS})
     - (n_cur + 1.0) / (t_cur + {PSI_BUCKETS}))
    * ln(((n_ref + 1.0) / (t_ref + {PSI_BUCKETS}))
         / ((n_cur + 1.0) / (t_cur + {PSI_BUCKETS}))), 6) AS psi_term
FROM counts, tot
""",
    doc="Population-Stability-Index drift detection (DQ family): bucket "
    "current data by the REFERENCE slice's decile cut points (discrete "
    "order statistics at integer rank positions — the winsorize trick, "
    "no interpolated floats) and compare distributions per bucket with "
    "Laplace-smoothed PSI terms. The standard train-vs-serve / "
    "yesterday-vs-today drift monitor for feature pipelines. ln only "
    "ever sees ratios of exact integer-derived proportions (identical "
    "IEEE inputs in both engines), rounded 6dp.",
)
def dq_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 9 cut points ride a broadcast single-row array; bucket counts
    are one partial-agg pass over the fact table and the finish is
    O(buckets). Laplace smoothing (+1 per bucket) keeps every ratio
    finite even for empty buckets — and is mirrored exactly in the
    oracle. EXACT decile bounds pay a global sort of the reference slice
    (the same honest cost as agg_histogram_equidepth); at 100 TB swap
    the cut derivation for sketch_quantile_digest estimates — drift
    monitoring tolerates approximate bucket edges, and the rest of the
    plan is unchanged."""
    c = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias(
            "cents"
        ),
        F.when(
            F.col("o_orderdate") < F.lit(DRIFT_SPLIT).cast("timestamp"), 0
        )
        .otherwise(1)
        .alias("slice"),
    )
    ref = c.filter(F.col("slice") == 0)
    # exact decile cut ranks over the reference slice ride the
    # distributed row number + same-broadcast count (operators/ranks.py)
    # — never a single-task sort of O(reference rows).
    from .ranks import with_global_order_stats

    ranked = with_global_order_stats(
        ref.select("cents"),
        [F.col("cents")],
        row_number="rn",
        totals={"n": F.lit(1)},
    ).select("cents", "rn", "n")
    cuts = (
        ranked.filter(
            F.expr(
                f"rn IN ({', '.join(f'(CAST({k} * n AS BIGINT)) DIV {PSI_BUCKETS}' for k in range(1, PSI_BUCKETS))})"
            )
        )
        .agg(F.sort_array(F.collect_list("cents")).alias("cuts"))
    )
    bucketed = c.crossJoin(F.broadcast(cuts)).select(
        "slice",
        F.aggregate(
            "cuts",
            F.lit(0),
            lambda acc, cut: acc
            + F.when(cut <= F.col("cents"), 1).otherwise(0),
        ).alias("bucket"),
    )
    counts = bucketed.groupBy("bucket").agg(
        F.sum(F.when(F.col("slice") == 0, 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("slice") == 1, 1).otherwise(0)).alias("n_cur"),
    )
    tot = counts.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    p = (F.col("n_ref") + 1.0) / (F.col("t_ref") + PSI_BUCKETS)
    q = (F.col("n_cur") + 1.0) / (F.col("t_cur") + PSI_BUCKETS)
    return counts.crossJoin(F.broadcast(tot)).select(
        F.col("bucket").cast("int").alias("bucket"),
        F.col("n_ref").cast("bigint").alias("n_ref"),
        F.col("n_cur").cast("bigint").alias("n_cur"),
        F.round((p - q) * F.log(p / q), 6).alias("psi_term"),
    )


@register(
    "dq_outlier_iqr",
    oracle="""
WITH c AS (
  SELECT o_orderpriority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
q AS (
  SELECT o_orderpriority,
    quantile_cont(cents, 0.25) AS q1,
    quantile_cont(cents, 0.75) AS q3,
    COUNT(*) AS n
  FROM c GROUP BY o_orderpriority
)
SELECT c.o_orderpriority,
  CAST(MIN(q.n) AS BIGINT) AS n_rows,
  ROUND(MIN(q.q1) / 100.0, 2) AS q1_price,
  ROUND(MIN(q.q3) / 100.0, 2) AS q3_price,
  CAST(SUM(CASE WHEN c.cents < q.q1 - 1.5 * (q.q3 - q.q1)
                  OR c.cents > q.q3 + 1.5 * (q.q3 - q.q1)
            THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM c JOIN q USING (o_orderpriority)
GROUP BY c.o_orderpriority
""",
    doc="Tukey-fence outlier audit per order priority: exact interpolated "
    "quartiles over CENTS integers (positions are multiples of 1/4 and "
    "cents fit doubles exactly, so Spark's percentile() and DuckDB's "
    "quantile_cont() produce bit-identical fences — no float-drift "
    "boundary flips), then a conditional count of rows outside "
    "[q1-1.5*IQR, q3+1.5*IQR]. Spark shape: groupBy percentile (one "
    "Exchange on the 5-value group key) + a broadcast join of the 5-row "
    "fence table back onto the fact side — aggregate-then-broadcast, "
    "never a correlated per-row subquery.",
)
def dq_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    c = orders.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    q = c.groupBy("o_orderpriority").agg(
        F.percentile("cents", F.lit(0.25)).alias("q1"),
        F.percentile("cents", F.lit(0.75)).alias("q3"),
        F.count(F.lit(1)).alias("n"),
    )
    iqr = F.col("q3") - F.col("q1")
    fenced = c.join(F.broadcast(q), "o_orderpriority")
    out = F.when(
        (F.col("cents") < F.col("q1") - 1.5 * iqr)
        | (F.col("cents") > F.col("q3") + 1.5 * iqr),
        1,
    ).otherwise(0)
    return fenced.groupBy("o_orderpriority").agg(
        F.min("n").cast("bigint").alias("n_rows"),
        F.round(F.min("q1") / 100.0, 2).alias("q1_price"),
        F.round(F.min("q3") / 100.0, 2).alias("q3_price"),
        F.sum(out).cast("bigint").alias("n_outliers"),
    )


@register(
    "dq_referential_integrity",
    oracle="""
SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
  CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_child_rows,
  CAST((SELECT COUNT(*) FROM lineitem
        WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
       AS BIGINT) AS n_orphans
UNION ALL
SELECT 'lineitem.l_partkey->part',
  CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
  CAST((SELECT COUNT(*) FROM lineitem
        WHERE l_partkey NOT IN (SELECT p_partkey FROM part)) AS BIGINT)
UNION ALL
SELECT 'lineitem.l_suppkey->supplier',
  CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
  CAST((SELECT COUNT(*) FROM lineitem
        WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier))
       AS BIGINT)
UNION ALL
SELECT 'orders.o_custkey->customer',
  CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
  CAST((SELECT COUNT(*) FROM orders
        WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
       AS BIGINT)
UNION ALL
SELECT 'customer.c_nationkey->nation',
  CAST((SELECT COUNT(*) FROM customer) AS BIGINT),
  CAST((SELECT COUNT(*) FROM customer
        WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation))
       AS BIGINT)
UNION ALL
SELECT 'supplier.s_nationkey->nation',
  CAST((SELECT COUNT(*) FROM supplier) AS BIGINT),
  CAST((SELECT COUNT(*) FROM supplier
        WHERE s_nationkey NOT IN (SELECT n_nationkey FROM nation))
       AS BIGINT)
UNION ALL
SELECT 'nation.n_regionkey->region',
  CAST((SELECT COUNT(*) FROM nation) AS BIGINT),
  CAST((SELECT COUNT(*) FROM nation
        WHERE n_regionkey NOT IN (SELECT r_regionkey FROM region))
       AS BIGINT)
""",
    doc="Referential-integrity audit across all seven FK edges of the "
    "star schema: child row count + orphan count per edge. Spark shape: "
    "each orphan count is a LEFT ANTI join against the (broadcast where "
    "small) parent key set — the child table is scanned once per edge "
    "and never shuffled on a non-key; at 100 TB the three lineitem "
    "edges share one cached scan. The everyday pre-flight check before "
    "trusting any join-based metric downstream.",
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = [
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier", "s_nationkey", "nation", "n_nationkey"),
        ("nation", "n_regionkey", "region", "r_regionkey"),
    ]
    # True dimensions broadcast unconditionally; fact-sized parents
    # (orders/customer/part grow with SF) are left to AQE — a forced
    # broadcast of an O(rows) key set is a 100 TB OOM.
    small_parents = {"nation", "region", "supplier"}
    out = None
    for child, fk, parent, pk in edges:
        c = load_table(spark, sf_dir, child)
        p = load_table(spark, sf_dir, parent).select(pk)
        if parent in small_parents:
            p = F.broadcast(p)
        orphans = c.join(
            p, c[fk] == p[pk], "left_anti"
        ).agg(F.count(F.lit(1)).alias("n_orphans"))
        row = (
            c.agg(F.count(F.lit(1)).cast("bigint").alias("n_child_rows"))
            .join(orphans.select(F.col("n_orphans").cast("bigint")))
            .select(
                F.lit(f"{child}.{fk}->{parent}").alias("fk_edge"),
                "n_child_rows",
                "n_orphans",
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# Benford's-law first-digit audit
# ---------------------------------------------------------------------------

# log10(1 + 1/d) for d = 1..9, rounded to the comparison precision. Kept as
# literals (not computed at query time) so the Spark and DuckDB sides share
# the exact same constants.
BENFORD_EXPECTED = {
    1: 0.30103, 2: 0.176091, 3: 0.124939, 4: 0.09691, 5: 0.079181,
    6: 0.066947, 7: 0.057992, 8: 0.051153, 9: 0.045757,
}

_BENFORD_CASE = " ".join(
    f"WHEN {d} THEN {v}" for d, v in BENFORD_EXPECTED.items()
)


@register(
    "dq_benford_first_digit",
    oracle=f"""
WITH digits AS (
  SELECT CAST(SUBSTR(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR),
              1, 1) AS INT) AS digit
  FROM orders WHERE o_totalprice >= 1
),
agg AS (
  SELECT digit, COUNT(*) AS n, SUM(COUNT(*)) OVER () AS total
  FROM digits GROUP BY digit
)
SELECT digit,
  CAST(n AS BIGINT) AS n,
  ROUND(n * 1.0 / total, 6) AS observed_frac,
  CAST(CASE digit {_BENFORD_CASE} END AS DOUBLE) AS benford_frac,
  ROUND(ABS(n * 1.0 / total
            - CAST(CASE digit {_BENFORD_CASE} END AS DOUBLE)), 6)
    AS abs_dev
FROM agg
ORDER BY digit
""",
    doc="Benford's-law first-digit audit (DQ family): the distribution "
    "of leading digits of o_totalprice vs the log10(1+1/d) law — the "
    "classic fraud/synthetic-data screen on monetary columns. The first "
    "digit is taken from the INTEGER part rendered as a string (integer "
    "formatting is engine-stable; double formatting is not), so the "
    "Spark and DuckDB sides agree bit-for-bit. Spark shape: one scan, "
    "one 9-group hash aggregate, one single-row window for the total — "
    "O(9) output regardless of table size; at 100 TB the partial "
    "aggregate reduces each task to <=9 rows before the only exchange.",
)
def dq_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    digit = (
        F.substring(
            F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    counts = (
        orders.filter(F.col("o_totalprice") >= 1)
        .select(digit)
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total_w = Window.partitionBy()
    expected = F.create_map(
        *[F.lit(x) for kv in BENFORD_EXPECTED.items() for x in kv]
    )[F.col("digit")]
    return (
        counts.withColumn("total", F.sum("n").over(total_w))
        .select(
            "digit",
            F.col("n").cast("bigint").alias("n"),
            F.round(F.col("n") / F.col("total"), 6).alias("observed_frac"),
            expected.alias("benford_frac"),
            F.round(
                F.abs(F.col("n") / F.col("total") - expected), 6
            ).alias("abs_dev"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# Cross-table reconciliation: order header totals vs lineitem detail sums
# ---------------------------------------------------------------------------

RECON_BANDS_PCT = (1, 5, 10)  # deviation bands (percent)


@register(
    "dq_order_total_reconciliation",
    oracle=f"""
WITH detail AS (
  SELECT l_orderkey,
    CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
              AS BIGINT)) AS BIGINT) AS detail_cents
  FROM lineitem GROUP BY l_orderkey
),
recon AS (
  SELECT o.o_orderkey,
    CAST(round(o.o_totalprice * 100) AS BIGINT) AS header_cents,
    d.detail_cents,
    ABS(CAST(round(o.o_totalprice * 100) AS BIGINT) - d.detail_cents)
      AS dev_cents
  FROM orders o JOIN detail d ON d.l_orderkey = o.o_orderkey
)
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(SUM(CASE WHEN dev_cents * 100 <= header_cents * {RECON_BANDS_PCT[0]}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_within_1pct,
  CAST(SUM(CASE WHEN dev_cents * 100 <= header_cents * {RECON_BANDS_PCT[1]}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_within_5pct,
  CAST(SUM(CASE WHEN dev_cents * 100 <= header_cents * {RECON_BANDS_PCT[2]}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_within_10pct,
  quantile_cont(dev_cents, 0.5) AS p50_dev_cents
FROM recon
""",
    doc="Fact-to-fact financial reconciliation (DQ): per order, compare "
    "the header total against the lineitem-derived sum of "
    "extendedprice*(1-discount), both folded to exact BIGINT cents, "
    "and report how many orders land within 1/5/10% deviation bands "
    "plus the median absolute deviation — the ledger-vs-detail "
    "consistency check every revenue pipeline runs before publishing "
    "(this synthetic fixture generates header and detail "
    "independently, and the bands report that honestly). Band tests "
    "are integer cross-products (dev*100 <= header*pct), no float "
    "thresholds. Spark shape: one partial-agg shuffle per table "
    "co-keyed on orderkey (bucket both in production and the join "
    "Exchange disappears), O(1) output.",
)
def dq_order_total_reconciliation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    detail = li.groupBy("l_orderkey").agg(
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("detail_cents")
    )
    recon = orders.join(
        detail, orders.o_orderkey == detail.l_orderkey
    ).select(
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .alias("header_cents"),
        "detail_cents",
    ).withColumn(
        "dev_cents",
        F.abs(F.col("header_cents") - F.col("detail_cents")),
    )
    bands = [
        F.sum(
            (
                F.col("dev_cents") * 100
                <= F.col("header_cents") * F.lit(p)
            ).cast("int")
        )
        .cast("bigint")
        .alias(f"n_within_{p}pct")
        for p in RECON_BANDS_PCT
    ]
    return recon.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        *bands,
        F.expr("percentile(dev_cents, 0.5)").alias("p50_dev_cents"),
    )


K_ANON_THRESHOLD = 5


@register(
    "dq_k_anonymity_audit",
    oracle=f"""
WITH cells AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(COUNT(*) AS BIGINT) AS group_size
  FROM customer GROUP BY c_nationkey, c_mktsegment
)
SELECT CAST({K_ANON_THRESHOLD} AS INT) AS k,
  CAST(COUNT(*) AS BIGINT) AS n_cells,
  CAST(SUM(CASE WHEN group_size < {K_ANON_THRESHOLD}
                THEN 1 ELSE 0 END) AS BIGINT) AS violating_cells,
  CAST(SUM(CASE WHEN group_size < {K_ANON_THRESHOLD}
                THEN group_size ELSE 0 END) AS BIGINT) AS exposed_rows,
  CAST(MIN(group_size) AS BIGINT) AS min_group_size,
  CAST(MAX(group_size) AS BIGINT) AS max_group_size
FROM cells
""",
    doc="k-anonymity audit (privacy gate before any data release): "
    "group the table by its quasi-identifier combination (nation x "
    "market segment here), and report how many equivalence classes "
    "fall below k=5 — each such cell's rows are re-identifiable and "
    "must be suppressed or generalized before publishing. One "
    "aggregation (shuffle O(cells)), then an O(cells) summary; the "
    "same plan audits any QI set at 100 TB. The audit row carries "
    "cell counts, violating cells, total exposed rows, and the "
    "min/max class size (min >= k is the pass condition).",
)
def dq_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    cells = customer.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("group_size")
    )
    small = F.col("group_size") < K_ANON_THRESHOLD
    return cells.agg(
        F.lit(K_ANON_THRESHOLD).cast("int").alias("k"),
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(F.when(small, 1).otherwise(0)).alias("violating_cells"),
        F.sum(F.when(small, F.col("group_size")).otherwise(0)).alias(
            "exposed_rows"
        ),
        F.min("group_size").alias("min_group_size"),
        F.max("group_size").alias("max_group_size"),
    )


@register(
    "dq_chisq_independence",
    oracle="""
WITH obs AS (
  SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
),
margins AS (
  SELECT seg, pri, n,
    SUM(n) OVER (PARTITION BY seg) AS row_tot,
    SUM(n) OVER (PARTITION BY pri) AS col_tot,
    SUM(n) OVER () AS grand_tot
  FROM obs
)
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_cells,
  CAST(MAX(grand_tot) AS BIGINT) AS n_rows,
  CAST((COUNT(DISTINCT seg) - 1) * (COUNT(DISTINCT pri) - 1) AS BIGINT)
    AS dof,
  -- chi^2 = sum over cells of (O - E)^2 / E with E = rt*ct/N; scaled to
  -- exact integers: sum (O*N - rt*ct)^2 / (rt*ct*N) — one float per
  -- cell from an exact integer numerator and denominator.
  ROUND(SUM(
    CAST((n * grand_tot - row_tot * col_tot) AS DOUBLE)
    * (n * grand_tot - row_tot * col_tot)
    / (CAST(row_tot AS DOUBLE) * col_tot * grand_tot)
  ), 6) AS chi_sq
FROM margins
""",
    doc="Chi-square test of independence (segment x order priority): "
    "the categorical-drift / segmentation-sanity test. Observed "
    "counts come from one join+aggregate; expected counts are "
    "margin products, and each cell's term is computed from EXACT "
    "integer numerator (O*N - rt*ct)^2 and denominator rt*ct*N — "
    "both engines feed identical integers into one float division "
    "per cell, rounded at 6. Plan: fact-dim broadcast join, O(cells) "
    "aggregate, window margins over O(cells) rows — nothing scales "
    "with row count past the first aggregate.",
)
def dq_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    obs = (
        orders.join(
            F.broadcast(customer),
            orders.o_custkey == customer.c_custkey,
        )
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("pri"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    margins = (
        obs.withColumn("row_tot", F.sum("n").over(Window.partitionBy("seg")))
        .withColumn("col_tot", F.sum("n").over(Window.partitionBy("pri")))
        .withColumn(
            "grand_tot",
            F.sum("n").over(
                Window.partitionBy()
            ),
        )
    )
    num = (
        F.col("n") * F.col("grand_tot")
        - F.col("row_tot") * F.col("col_tot")
    )
    return margins.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.max("grand_tot").alias("n_rows"),
        (
            (F.count_distinct("seg") - 1) * (F.count_distinct("pri") - 1)
        ).alias("dof"),
        F.round(
            F.sum(
                num.cast("double")
                * num
                / (
                    F.col("row_tot").cast("double")
                    * F.col("col_tot")
                    * F.col("grand_tot")
                )
            ),
            6,
        ).alias("chi_sq"),
    )


# ---------------------------------------------------------------------------
# Differentially-private release: seeded-Laplace noisy counts
# ---------------------------------------------------------------------------

DP_EPSILON = 1.0  # per-release privacy budget; sensitivity of a count is 1
DP_HASH_MOD = 1000003  # prime; hash -> uniform grid of 1/MOD steps


@register(
    "dq_dp_noisy_counts",
    oracle="""
WITH counts AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY event_type
),
seeded AS (
  SELECT event_type, n,
    (list_aggregate(
       [(ascii(event_type[i]) * 31 + i) % 1000003
        for i in range(1, length(event_type) + 1)], 'sum')
     % 1000003) / 1000003.0 AS u
  FROM counts
)
SELECT event_type,
  CAST(ROUND(n + (CASE WHEN u < 0.5 THEN 1.0 ELSE -1.0 END)
                 * ln(1.0 - 2.0 * abs(u - 0.5)) / 1.0, 4)
       AS DOUBLE) AS noisy_count,
  CAST(ROUND(2.0 / 1.0, 4) AS DOUBLE) AS expected_l1_error
FROM seeded
ORDER BY event_type
""",
    doc="Differentially-private count release (the privacy gate a "
    "100 TB analytics publisher runs before exporting group counts): "
    "per-event_type counts plus Laplace(sensitivity/epsilon = 1/1.0) "
    "noise via the inverse-CDF transform. The uniform draw is a "
    "SEEDED deterministic hash of the group key (polynomial ascii "
    "hash mod a prime — the engine-portable PRNG used throughout this "
    "repo), so the release is reproducible and oracle-checkable while "
    "having the exact Laplace shape across keys; in production the "
    "seed input would be key||release_nonce. True counts are NOT in "
    "the output — only the noisy release and the expected L1 error "
    "2*scale of the mechanism. One partial-agg scan, O(groups) rows.",
)
def dq_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    counts = events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    et = F.col("event_type")
    poly = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.length(et)),
            lambda i: (F.ascii(F.substring(et, 1, 1000000).substr(i, F.lit(1))) * 31 + i)
            % DP_HASH_MOD,
        ),
        F.lit(0).cast("long"),
        lambda s, x: s + x,
    )
    u = (poly % DP_HASH_MOD) / F.lit(float(DP_HASH_MOD))
    scale = 1.0 / DP_EPSILON  # sensitivity 1 count
    noise = (
        F.when(u < 0.5, F.lit(1.0)).otherwise(F.lit(-1.0))
        * F.log(F.lit(1.0) - 2.0 * F.abs(u - 0.5))
        / F.lit(1.0 / scale)
    )
    return (
        counts.select(
            "event_type",
            F.round(F.col("n") + noise, 4).alias("noisy_count"),
            F.round(F.lit(2.0 * scale), 4).alias("expected_l1_error"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Key-space gap islands: ingestion-completeness audit on sparse keys
# ---------------------------------------------------------------------------

GAP_TOPK = 10


@register(
    "dq_id_gap_islands",
    oracle=f"""
WITH k AS (
  SELECT o_orderkey AS id,
    LEAD(o_orderkey) OVER (ORDER BY o_orderkey) AS next_id
  FROM orders
),
gaps AS (
  SELECT id AS gap_after, next_id - id - 1 AS missing
  FROM k WHERE next_id - id > 1
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY missing DESC, gap_after) AS INT)
    AS rnk,
  CAST(gap_after AS BIGINT) AS gap_after,
  CAST(gap_after + 1 AS BIGINT) AS first_missing,
  CAST(missing AS BIGINT) AS n_missing
FROM gaps
QUALIFY rnk <= {GAP_TOPK}
ORDER BY rnk
""",
    doc="Key-space gap-island audit (DQ family; the 'did ingestion drop "
    "a range' check every CDC/backfill pipeline runs): orderkeys are "
    "deliberately sparse, and the audit reports the top-10 largest "
    "contiguous missing ranges via a DISTRIBUTED LEAD over the sorted "
    "key (operators/ranks.py — range split + rn+1 equi self-join, "
    "never a single-task sort of the key space). Exact integers "
    "throughout; the top-10 pick is a TakeOrdered limit and its rank "
    "column a window over exactly those 10 rows.",
)
def dq_id_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ranks import with_global_lead

    orders = load_table(spark, sf_dir, "orders")
    # LEAD over the sorted key space is the distributed rn+1 self-join
    # (operators/ranks.py) — never a single-task sort of O(keys); the
    # top-10 pick is a TakeOrdered limit, and its rank column is a
    # window over exactly GAP_TOPK rows.
    gaps = (
        with_global_lead(
            orders.select(F.col("o_orderkey").alias("id")),
            [F.col("id")],
            {"next_id": "id"},
        )
        .filter(F.col("next_id") - F.col("id") > 1)
        .select(
            F.col("id").alias("gap_after"),
            (F.col("next_id") - F.col("id") - 1).alias("missing"),
        )
    )
    top = gaps.orderBy(F.desc("missing"), F.asc("gap_after")).limit(
        GAP_TOPK
    )
    wr = Window.orderBy(F.desc("missing"), F.asc("gap_after"))
    return (
        top.withColumn("rnk", F.row_number().over(wr).cast("int"))
        .select(
            "rnk",
            F.col("gap_after").cast("bigint").alias("gap_after"),
            (F.col("gap_after") + 1).cast("bigint").alias("first_missing"),
            F.col("missing").cast("bigint").alias("n_missing"),
        )
        .orderBy("rnk")
    )


# ---------------------------------------------------------------------------
# Functional-dependency audit: does X -> Y actually hold in the data?
# ---------------------------------------------------------------------------


@register(
    "dq_functional_dependency",
    oracle="""
WITH wide AS (
  SELECT l.l_orderkey, l.l_partkey, l.l_suppkey, o.o_custkey
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
cands AS (
  SELECT 'l_orderkey->o_custkey' AS fd, l_orderkey AS k,
         COUNT(DISTINCT o_custkey) AS nd FROM wide GROUP BY 2
  UNION ALL
  SELECT 'l_orderkey->l_suppkey', l_orderkey,
         COUNT(DISTINCT l_suppkey) FROM wide GROUP BY 2
  UNION ALL
  SELECT 'l_partkey->l_suppkey', l_partkey,
         COUNT(DISTINCT l_suppkey) FROM wide GROUP BY 2
)
SELECT fd,
  CAST(COUNT(*) AS BIGINT) AS n_keys,
  CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS violating_keys,
  CAST(MAX(nd) AS BIGINT) AS max_distinct_rhs,
  CAST((1000000 * SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END)) // COUNT(*)
    AS BIGINT) AS violation_ppm
FROM cands GROUP BY fd
""",
    doc="Functional-dependency audit (the schema-inference/normalization "
    "DQ check): for candidate FDs X -> Y, count determinant keys whose "
    "Y is not unique. Candidates exercised: l_orderkey -> o_custkey "
    "(holds by construction through the FK join — the audit proves it "
    "from the DATA), l_orderkey -> l_suppkey and l_partkey -> "
    "l_suppkey (genuinely violated — multi-supplier orders/parts; "
    "honest nonzero counts). One distinct-count aggregate per "
    "candidate, violation rate as an exact integer ppm.",
)
def dq_functional_dependency(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_custkey"
    )
    wide = li.join(orders, "l_orderkey")

    def fd(name: str, k: str, y: str) -> DataFrame:
        return (
            wide.groupBy(F.col(k).alias("k"))
            .agg(F.countDistinct(y).alias("nd"))
            .select(F.lit(name).alias("fd"), "k", "nd")
        )

    cands = (
        fd("l_orderkey->o_custkey", "l_orderkey", "o_custkey")
        .unionByName(fd("l_orderkey->l_suppkey", "l_orderkey", "l_suppkey"))
        .unionByName(fd("l_partkey->l_suppkey", "l_partkey", "l_suppkey"))
    )
    agg = cands.groupBy("fd").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("violating_keys"),
        F.max("nd").cast("bigint").alias("max_distinct_rhs"),
    )
    return agg.select(
        "fd",
        "n_keys",
        "violating_keys",
        "max_distinct_rhs",
        F.expr(
            "CAST((1000000 * violating_keys) div n_keys AS BIGINT)"
        ).alias("violation_ppm"),
    )


# ---------------------------------------------------------------------------
# Candidate-key discovery — which column combinations uniquely identify an
# orders row? The uniqueness half of schema profiling (the FD audit covers
# implication; this covers identity).

_CK_COMBOS = [
    ("o_orderkey", ["o_orderkey"]),
    ("o_custkey", ["o_custkey"]),
    ("o_custkey,o_orderdate", ["o_custkey", "o_orderdate"]),
    ("o_orderpriority,o_orderdate", ["o_orderpriority", "o_orderdate"]),
    (
        "o_custkey,o_orderpriority,o_orderdate",
        ["o_custkey", "o_orderpriority", "o_orderdate"],
    ),
]


@register(
    "dq_candidate_keys",
    oracle=f"""
WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM orders),
{", ".join(
    'c%d AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_distinct FROM '
    '(SELECT DISTINCT %s FROM orders))' % (i, ", ".join(cols))
    for i, (_, cols) in enumerate(_CK_COMBOS)
)}
{" UNION ALL ".join(
    "SELECT '%s' AS key_columns, n.n_rows, c%d.n_distinct,"
    " c%d.n_distinct = n.n_rows AS is_key,"
    " CAST(((n.n_rows - c%d.n_distinct) * 1000000) // n.n_rows AS BIGINT)"
    " AS duplication_ppm"
    " FROM n, c%d" % (name, i, i, i, i)
    for i, (name, _) in enumerate(_CK_COMBOS)
)}
""",
    doc="Candidate-key discovery over orders: for each probed column "
    "combination, exact distinct-vs-total counts, an is_key verdict and "
    "the duplication rate in ppm — the uniqueness half of schema "
    "profiling beside dq_functional_dependency. Each combo is one "
    "partial-agg'd distinct (map-side combine); the probe set is a "
    "fixed config list, so the plan is a bounded union of O(combos) "
    "aggregates regardless of table size.",
)
def dq_candidate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    n_rows = orders.count()
    parts = []
    for name, cols in _CK_COMBOS:
        nd = orders.select(*cols).distinct().count()
        parts.append(
            (name, n_rows, nd, nd == n_rows,
             ((n_rows - nd) * 1000000) // n_rows)
        )
    return spark.createDataFrame(
        parts,
        "key_columns string, n_rows long, n_distinct long,"
        " is_key boolean, duplication_ppm long",
    )


# ---------------------------------------------------------------------------
# Temporal-ordering audit — cross-table causality: no line item may ship
# before its order was placed, and commit dates must not precede ship
# dates by more than the allowed negative slack (here: never).


@register(
    "dq_temporal_ordering_audit",
    oracle="""
WITH j AS (
  SELECT CAST(o.o_orderdate AS DATE) AS od, CAST(l.l_shipdate AS DATE) AS sd
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
  CAST(SUM(CASE WHEN sd < od THEN 1 ELSE 0 END) AS BIGINT)
    AS ship_before_order,
  CAST((SUM(CASE WHEN sd < od THEN 1 ELSE 0 END) * 1000000)
       // COUNT(*) AS BIGINT) AS violation_ppm,
  CAST(MAX(CAST(sd - od AS BIGINT)) AS BIGINT) AS max_ship_lag_days,
  CAST(SUM(CASE WHEN CAST(sd - od AS BIGINT) > 120 THEN 1 ELSE 0 END)
       AS BIGINT) AS slow_ship_over_120d
FROM j
""",
    doc="Cross-table temporal-causality audit: ship-before-order "
    "violation count + ppm over the order-line join, the max observed "
    "order-to-ship lag, and the count of >120-day slow shipments (the "
    "outlier screen). Exact integer date arithmetic; one fact-fact "
    "equi join (SMJ at scale) + a 1-row aggregate. The time-arrow "
    "complement to dq_referential_integrity's key-arrow audit.",
)
def dq_temporal_ordering_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_shipdate").cast("date").alias("sd")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("od")
    )
    j = li.join(orders, li.l_orderkey == orders.o_orderkey)
    lag = F.datediff(F.col("sd"), F.col("od")).cast("bigint")
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum((F.col("sd") < F.col("od")).cast("int"))
        .cast("bigint")
        .alias("ship_before_order"),
        F.expr(
            "CAST((SUM(CASE WHEN sd < od THEN 1 ELSE 0 END)"
            " * 1000000) div COUNT(*) AS BIGINT)"
        ).alias("violation_ppm"),
        F.max(lag).cast("bigint").alias("max_ship_lag_days"),
        F.sum((lag > 120).cast("int"))
        .cast("bigint")
        .alias("slow_ship_over_120d"),
    )


# ---------------------------------------------------------------------------
# Exact 1-Wasserstein (earth mover) drift — the metric PSI approximates
# and KS bounds: integral |F1 - F2| over the order-value distribution,
# first half vs second half of the order-date range, kept EXACT by
# cross-multiplying the two ECDFs to a common integer denominator.


@register(
    "dq_drift_wasserstein",
    oracle="""
WITH bounds AS (
  SELECT (CAST(MIN(CAST(o_orderdate AS DATE)) - DATE '1970-01-01'
               AS BIGINT)
        + CAST(MAX(CAST(o_orderdate AS DATE)) - DATE '1970-01-01'
               AS BIGINT) + 1) // 2 AS split_d
  FROM orders
),
v AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
    CASE WHEN CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
              AS BIGINT) < b.split_d THEN 1 ELSE 0 END AS h1
  FROM orders, bounds b
),
g AS (
  SELECT cents,
    CAST(SUM(h1) AS BIGINT) AS c1,
    CAST(SUM(1 - h1) AS BIGINT) AS c2
  FROM v GROUP BY cents
),
cum AS (
  SELECT cents,
    CAST(SUM(c1) OVER (ORDER BY cents) AS BIGINT) AS f1,
    CAST(SUM(c2) OVER (ORDER BY cents) AS BIGINT) AS f2,
    CAST(SUM(c1) OVER () AS BIGINT) AS n1,
    CAST(SUM(c2) OVER () AS BIGINT) AS n2,
    CAST(LEAD(cents) OVER (ORDER BY cents) - cents AS BIGINT) AS gap
  FROM g
),
terms AS (
  SELECT ABS(f1 * n2 - f2 * n1) * gap AS num, n1, n2
  FROM cum WHERE gap IS NOT NULL
)
SELECT CAST(MAX(n1) AS BIGINT) AS n_first_half,
  CAST(MAX(n2) AS BIGINT) AS n_second_half,
  CAST(SUM(num) AS BIGINT) AS w1_num,
  CAST(MAX(n1) * MAX(n2) AS BIGINT) AS w1_den,
  ROUND(CAST(SUM(num) AS DOUBLE) / (MAX(n1) * MAX(n2)) / 100.0, 6)
    AS w1_dollars_r6
FROM terms
""",
    doc="EXACT 1-Wasserstein (earth mover) distance between the first- "
    "and second-half order-value distributions: integral |F1 - F2| "
    "over the step ECDFs, cross-multiplied to the common n1*n2 "
    "denominator so the numerator is a pure BIGINT — the drift METRIC "
    "psi approximates in buckets (dq_drift_psi) and KS reads only at "
    "the max (agg_ks_two_sample); W1 is the one with transport "
    "semantics (dollars moved per unit mass). One value rollup, then "
    "both ECDFs + totals + the adjacent-value gap off one distributed "
    "prefix-sum pass (operators/ranks.py — never a single-task sort "
    "of O(distinct values)).",
)
def dq_drift_wasserstein(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.expr(
            "(CAST(datediff(MIN(CAST(o_orderdate AS DATE)),"
            " DATE '1970-01-01') AS BIGINT)"
            " + CAST(datediff(MAX(CAST(o_orderdate AS DATE)),"
            " DATE '1970-01-01') AS BIGINT) + 1) div 2"
        ).alias("split_d")
    )
    day_num = F.expr(
        "CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')"
        " AS BIGINT)"
    )
    v = orders.crossJoin(F.broadcast(bounds)).select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.when(day_num < F.col("split_d"), 1).otherwise(0).alias("h1"),
    )
    g = v.groupBy("cents").agg(
        F.sum("h1").cast("bigint").alias("c1"),
        F.sum(1 - F.col("h1")).cast("bigint").alias("c2"),
    )
    # Both ECDFs + both totals + the adjacent-value gap in one
    # distributed construction (operators/ranks.py): running sums and
    # the row number come off one range split, and LEAD(cents) is
    # the rn+1 equi self-join — no single-task sort of O(distinct
    # values) anywhere.
    from .ranks import with_global_order_stats

    cum0 = with_global_order_stats(
        g,
        [F.col("cents")],
        cumsums={"f1": F.col("c1"), "f2": F.col("c2")},
        totals={"n1": F.col("c1"), "n2": F.col("c2")},
        row_number="rn",
    )
    nxt = cum0.select(
        (F.col("rn") - 1).alias("rn"), F.col("cents").alias("next_cents")
    )
    cum = (
        cum0.join(nxt, "rn", "left")
        .withColumn(
            "gap", (F.col("next_cents") - F.col("cents")).cast("bigint")
        )
        .select("cents", "f1", "f2", "n1", "n2", "gap")
    )
    terms = cum.filter(F.col("gap").isNotNull()).select(
        (
            F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1"))
            * F.col("gap")
        ).alias("num"),
        "n1",
        "n2",
    )
    return terms.agg(
        F.max("n1").cast("bigint").alias("n_first_half"),
        F.max("n2").cast("bigint").alias("n_second_half"),
        F.sum("num").cast("bigint").alias("w1_num"),
        (F.max("n1") * F.max("n2")).cast("bigint").alias("w1_den"),
        F.expr(
            "ROUND(CAST(SUM(num) AS DOUBLE)"
            " / (MAX(n1) * MAX(n2)) / 100.0, 6)"
        ).alias("w1_dollars_r6"),
    )
