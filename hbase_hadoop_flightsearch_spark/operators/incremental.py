"""Incremental aggregate maintenance (delta processing).

A 100 TB nightly pipeline cannot re-aggregate history to refresh a report;
it keeps a MERGEABLE per-group state (count, decimal sum, min, max) and
folds in each new partition's partial state — the batch twin of the
streaming foreachBatch rollup (streaming/rollup.py), and the same
partial/final split Spark's own hash aggregate performs inside one job,
lifted across job boundaries.

The registered query proves exactness, not just plumbing: it builds the
state from the historical slice, merges the delta slice's state, finalizes
(avg = decimal-sum/count finalized in double), and the DuckDB oracle is the
ONE-SHOT aggregate over the whole table — incremental and full recompute
must agree value-for-value. Mergeability rules: count/sum/min/max compose
by (+, +, least, greatest); avg is derived at finalize only (never stored);
sums are DECIMAL(18,2) because the money columns are cents-exact, making
the merged sum independent of both merge order and engine.

Scale notes: each refresh aggregates ONLY the delta (one shuffle of
O(delta) on the group key) then joins O(groups) states — the full-outer
state merge is dimension-sized, never fact-sized. The stored state is what
you'd persist per partition in the lake (c.f. overwrite_partitions_dynamic)
to restate any window by re-merging surviving partitions' states.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import register
from ..sources.catalog import load_table

SPLIT_DATE = "1999-01-01"  # history < split <= delta


def group_state(orders: DataFrame) -> DataFrame:
    """Mergeable per-priority aggregate state."""
    return orders.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("sum_c"),
        F.min("o_totalprice").alias("mn"),
        F.max("o_totalprice").alias("mx"),
    )


def merge_states(a: DataFrame, b: DataFrame) -> DataFrame:
    """Fold two states; groups may be present in either side only."""
    a2 = a.select(
        "priority",
        F.col("n").alias("n_a"),
        F.col("sum_c").alias("s_a"),
        F.col("mn").alias("mn_a"),
        F.col("mx").alias("mx_a"),
    )
    b2 = b.select(
        "priority",
        F.col("n").alias("n_b"),
        F.col("sum_c").alias("s_b"),
        F.col("mn").alias("mn_b"),
        F.col("mx").alias("mx_b"),
    )
    z = F.lit(0).cast("decimal(18,2)")
    return a2.join(b2, "priority", "full_outer").select(
        "priority",
        (F.coalesce("n_a", F.lit(0)) + F.coalesce("n_b", F.lit(0))).alias("n"),
        (F.coalesce("s_a", z) + F.coalesce("s_b", z)).alias("sum_c"),
        F.least("mn_a", "mn_b").alias("mn"),  # least/greatest skip NULLs
        F.greatest("mx_a", "mx_b").alias("mx"),
    )


def finalize_state(state: DataFrame) -> DataFrame:
    revenue = F.col("sum_c").cast("double")
    return state.select(
        "priority",
        "n",
        revenue.alias("revenue"),
        (revenue / F.col("n")).alias("avg_price"),
        F.col("mn").alias("min_price"),
        F.col("mx").alias("max_price"),
    )


@register(
    "incremental_agg_merge",
    oracle="""
SELECT o_orderpriority AS priority, COUNT(*) AS n,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
  MIN(o_totalprice) AS min_price,
  MAX(o_totalprice) AS max_price
FROM orders GROUP BY 1
""",
    doc="Incremental aggregate maintenance: history state + delta state "
    "merged (count/sum/min/max compose; avg finalized from decimal sum) "
    "must equal the oracle's one-shot aggregate over everything.",
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    history = group_state(orders.filter(F.col("o_orderdate") < SPLIT_DATE))
    delta = group_state(orders.filter(F.col("o_orderdate") >= SPLIT_DATE))
    return finalize_state(merge_states(history, delta))


CUST_DELTA_MOD = 10  # customers with c_custkey % 10 >= 8 arrive "late"


def _nation_state(orders: DataFrame, customers: DataFrame) -> DataFrame:
    """Mergeable per-nation state of the JOIN view orders x customer."""
    return (
        orders.join(
            customers, orders.o_custkey == customers.c_custkey
        )
        .groupBy(F.col("c_nationkey").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                "sum_c"
            ),
        )
    )


@register(
    "incremental_join_view_merge",
    oracle="""
SELECT c_nationkey AS nation, COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1
""",
    doc="Incremental JOIN-view maintenance: the materialized per-nation "
    "revenue view over orders x customer is refreshed by the delta-join "
    "algebra — with both base tables split into history + delta, "
    "delta(V) = O_h x dC + dO x C_h + dO x dC, so a refresh never "
    "re-joins history against history. The merged state must equal the "
    "oracle's one-shot join+aggregate over everything.",
)
def incremental_join_view_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Both sides get deltas: orders split on the date watermark, "late"
    customers simulated by a key-hash slice. Each delta term has a
    delta-sized side — at 100 TB you broadcast it — so refresh cost is
    O(|delta| x join fanout), never O(|history|^2); the old view's state
    (O_h x C_h here, recomputed only because this is a self-contained
    correctness query) would be read back from the materialized table."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    o_h = orders.filter(F.col("o_orderdate") < SPLIT_DATE)
    o_d = orders.filter(F.col("o_orderdate") >= SPLIT_DATE)
    c_h = cust.filter(F.col("c_custkey") % CUST_DELTA_MOD < 8)
    c_d = cust.filter(F.col("c_custkey") % CUST_DELTA_MOD >= 8)

    old_view = _nation_state(o_h, c_h)  # the persisted materialization
    deltas = [
        _nation_state(o_h, F.broadcast(c_d)),
        _nation_state(o_d, c_h),
        _nation_state(o_d, F.broadcast(c_d)),
    ]
    all_states = old_view
    for d in deltas:
        all_states = all_states.unionByName(d)
    # States are additive, so ONE union + ONE O(nations) aggregate merges
    # all four terms — no chained per-delta shuffles.
    merged = all_states.groupBy("nation").agg(
        F.sum("n").alias("n"), F.sum("sum_c").alias("sum_c")
    )
    return merged.select(
        "nation",
        F.col("n").alias("n_orders"),
        F.col("sum_c").cast("double").alias("revenue"),
    )


# ---------------------------------------------------------------------------
# Incremental OHLC maintenance — mergeable ORDER-STATISTIC state
# ---------------------------------------------------------------------------

OHLC_SPLIT = "2024-01-15"  # history < split <= delta


def ohlc_state(events: DataFrame) -> DataFrame:
    """Mergeable per-(hour, type) OHLC state. open/close are MIN/MAX over
    the (ts_us, event_id, value) struct — the struct's total order makes
    first/last associative-mergeable facts, unlike bare first()/last()
    which depend on arrival order and cannot be maintained incrementally."""
    key = F.struct(
        F.unix_micros("ts").alias("ts_us"),
        F.col("event_id"),
        F.col("value"),
    )
    return events.groupBy(
        F.date_trunc("hour", "ts").alias("bucket_hour"),
        "event_type",
    ).agg(
        F.min(key).alias("open_s"),
        F.max(key).alias("close_s"),
        F.max("value").alias("hi"),
        F.min("value").alias("lo"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias(
            "cents"
        ),
    )


def merge_ohlc_states(a: DataFrame, b: DataFrame) -> DataFrame:
    """Fold two OHLC states: struct-least/greatest for open/close (least/
    greatest skip the NULL side of outer-join-missing groups), min/max
    for hi/lo, + for n and cents. Associative and commutative — slice
    order cannot change the result (asserted in tests)."""
    keys = ["bucket_hour", "event_type"]
    a2 = a.select(keys + [F.col(c).alias(f"a_{c}") for c in
                          ("open_s", "close_s", "hi", "lo", "n", "cents")])
    b2 = b.select(keys + [F.col(c).alias(f"b_{c}") for c in
                          ("open_s", "close_s", "hi", "lo", "n", "cents")])
    m = a2.join(b2, keys, "full_outer")
    return m.select(
        *keys,
        F.least("a_open_s", "b_open_s").alias("open_s"),
        F.greatest("a_close_s", "b_close_s").alias("close_s"),
        F.greatest("a_hi", "b_hi").alias("hi"),
        F.least("a_lo", "b_lo").alias("lo"),
        (F.coalesce("a_n", F.lit(0)) + F.coalesce("b_n", F.lit(0))).alias(
            "n"
        ),
        (
            F.coalesce("a_cents", F.lit(0))
            + F.coalesce("b_cents", F.lit(0))
        ).alias("cents"),
    )


def finalize_ohlc(state: DataFrame) -> DataFrame:
    return state.select(
        "bucket_hour",
        "event_type",
        F.col("open_s.value").alias("open_value"),
        F.col("hi").alias("high_value"),
        F.col("lo").alias("low_value"),
        F.col("close_s.value").alias("close_value"),
        F.col("n").alias("n_events"),
        (F.col("cents").cast("double") / 100).alias("total_value"),
    )


@register(
    "incremental_ohlc_merge",
    oracle="""
WITH ranked AS (
  SELECT date_trunc('hour', ts) AS bucket_hour, event_type, value,
    ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', ts), event_type
                       ORDER BY ts, event_id) AS rn_first,
    ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', ts), event_type
                       ORDER BY ts DESC, event_id DESC) AS rn_last,
    CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
)
SELECT bucket_hour, event_type,
  MAX(CASE WHEN rn_first = 1 THEN value END) AS open_value,
  MAX(value) AS high_value,
  MIN(value) AS low_value,
  MAX(CASE WHEN rn_last = 1 THEN value END) AS close_value,
  COUNT(*) AS n_events,
  CAST(SUM(cents) AS DOUBLE) / 100 AS total_value
FROM ranked
GROUP BY bucket_hour, event_type
""",
    doc="Incremental OHLC maintenance: build the hourly bar state from "
    "the historical slice, merge the delta slice's state, finalize — "
    "and the oracle is the ONE-SHOT OHLC over the whole table, so "
    "incremental and full recompute must agree value-for-value. The "
    "point: open/close as struct-MIN/MAX over (ts, event_id, value) are "
    "mergeable ORDER-STATISTIC facts (first()/last() are not), so "
    "candlesticks join counts and sums in the set of incrementally-"
    "maintainable aggregates.",
)
def incremental_ohlc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each refresh aggregates only the delta slice (one O(delta) shuffle)
    then merges O(buckets x types) state rows — bar history is never
    re-read. Same contract as incremental_agg_merge, extended to the
    order-statistic fields."""
    events = load_table(spark, sf_dir, "events")
    hist = events.filter(F.col("ts") < F.lit(OHLC_SPLIT).cast("timestamp"))
    delta = events.filter(
        F.col("ts") >= F.lit(OHLC_SPLIT).cast("timestamp")
    )
    return finalize_ohlc(
        merge_ohlc_states(ohlc_state(hist), ohlc_state(delta))
    )


@register(
    "incremental_bitmap_distinct_merge",
    oracle="""
SELECT o_orderpriority,
  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
  CAST(COUNT(DISTINCT CASE WHEN o_orderdate < DATE '1998-01-01'
                           THEN o_custkey END) AS BIGINT)
    AS n_customers_pre98
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    doc="Incrementally-maintained EXACT distinct via mergeable bitmap "
    "states: per (priority, year) slice, fold customer keys into "
    "(word, bits) bitmap rows — the per-slice STATE an incremental "
    "pipeline persists; merging any subset of slices is a plain "
    "bit_or re-aggregation (associative + commutative + idempotent, "
    "so replays and out-of-order arrivals are free), and the distinct "
    "count falls out of bit_count. This is what HLL sketches do "
    "approximately, done exactly: the state size is bounded by "
    "keyspace density per slice. Query output: all-time and pre-1998 "
    "distinct customers per priority, both computed ONLY by merging "
    "the per-year states — the oracle computes the same from raw "
    "rows. Fold associativity across slice boundaries is asserted in "
    "tests/test_incremental.py.",
)
def incremental_bitmap_distinct_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # per-(priority, year) bitmap states — the persisted increment
    states = (
        orders.select(
            "o_orderpriority",
            F.year("o_orderdate").alias("yr"),
            (F.col("o_custkey") / 64).cast("long").alias("word_idx"),
            F.expr(
                "shiftleft(1L, CAST(pmod(o_custkey, 64) AS INT))"
            ).alias("bit"),
        )
        .groupBy("o_orderpriority", "yr", "word_idx")
        .agg(F.expr("bit_or(bit)").alias("bits"))
    )

    def merged_count(st, alias):
        return (
            st.groupBy("o_orderpriority", "word_idx")
            .agg(F.expr("bit_or(bits)").alias("bits"))
            .groupBy("o_orderpriority")
            .agg(
                F.sum(F.bit_count("bits")).cast("bigint").alias(alias)
            )
        )

    all_time = merged_count(states, "n_customers")
    pre98 = merged_count(
        states.filter(F.col("yr") < 1998), "n_customers_pre98"
    )
    return (
        all_time.join(pre98, "o_orderpriority", "left")
        .select(
            "o_orderpriority",
            "n_customers",
            F.coalesce(F.col("n_customers_pre98"), F.lit(0))
            .cast("bigint")
            .alias("n_customers_pre98"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Mergeable MinHash state: slice signatures fold to the corpus signature
# ---------------------------------------------------------------------------

MINHASH_SLICES = 4  # doc_id-range slices standing in for ingest batches


@register(
    "incremental_minhash_merge",
    oracle="""
WITH ex AS (
  SELECT doc_id, unnest(list_distinct(
    [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]
  )) AS sh
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) >= 3
),
slice_sigs AS (
  SELECT doc_id % 4 AS slice,
    """
    + ",\n    ".join(
        f"MIN(md5(CAST({i} AS VARCHAR) || '|' || sh)) AS m{i}"
        for i in range(8)
    )
    + """
  FROM ex GROUP BY 1
),
merged AS (
  SELECT """
    + ", ".join(f"MIN(m{i}) AS m{i}" for i in range(8))
    + """
  FROM slice_sigs
),
direct AS (
  SELECT """
    + ", ".join(
        f"MIN(md5(CAST({i} AS VARCHAR) || '|' || sh)) AS m{i}"
        for i in range(8)
    )
    + """
  FROM ex
)
SELECT CAST(4 AS BIGINT) AS n_slices,
  """
    + ", ".join(f"m.m{i} AS m{i}" for i in range(8))
    + """,
  ("""
    + " AND ".join(f"m.m{i} = d.m{i}" for i in range(8))
    + """) AS merge_equals_direct
FROM merged m, direct d
""",
    doc="Incremental-maintenance leg of the MinHash family: per-slice "
    "corpus signatures (8 salted md5 min-hashes over each doc_id%4 "
    "ingest slice) MERGE by element-wise MIN into the full-corpus "
    "signature — min is associative/commutative/idempotent, so slice "
    "states fold in any order and replays are free, the same "
    "mergeable-summary contract as the bitmap and OHLC states. The "
    "oracle recomputes both the folded and the direct signature and "
    "the equality is itself a checked column (md5 makes every hash "
    "engine-portable). At 100 TB each ingest batch ships an 8-hash "
    "state row; the corpus signature never rescans history.",
)
def incremental_minhash_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.dedup import doc_shingles, explode_shingles, salted_md5

    ex = explode_shingles(doc_shingles(spark, sf_dir), ["doc_id"], "sh")
    mins = [F.min(salted_md5("sh", i)) for i in range(8)]
    slice_sigs = ex.groupBy((F.col("doc_id") % MINHASH_SLICES).alias(
        "slice"
    )).agg(*[m.alias(f"m{i}") for i, m in enumerate(mins)])
    merged = slice_sigs.agg(
        *[F.min(f"m{i}").alias(f"m{i}") for i in range(8)]
    )
    direct = ex.agg(*[m.alias(f"d{i}") for i, m in enumerate(mins)])
    eq = None
    for i in range(8):
        cond = F.col(f"m{i}") == F.col(f"d{i}")
        eq = cond if eq is None else (eq & cond)
    return merged.crossJoin(F.broadcast(direct)).select(
        F.lit(MINHASH_SLICES).cast("bigint").alias("n_slices"),
        *[F.col(f"m{i}") for i in range(8)],
        eq.alias("merge_equals_direct"),
    )


# ---------------------------------------------------------------------------
# Mergeable count-min shards — CMS is LINEAR (cell-wise sums), so
# per-shard grids merge exactly into the global grid. The incremental
# complement to sketch_countmin_topk's one-shot build: each source
# shard keeps its own d x w grid; a backfilled shard re-aggregates
# alone and the merge stays exact.

from .sketches import CMS_DEPTH, CMS_WIDTH, TOPK, _bucket  # noqa: E402


@register(
    "incremental_countmin_merge",
    oracle=f"""
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
),
tok AS (SELECT source, token FROM toks WHERE token <> ''),
hrows AS (SELECT unnest(range({CMS_DEPTH})) AS r),
shard_cells AS (
  SELECT source, r,
         ('0x' || substring(md5(CAST(r AS VARCHAR) || ':' || token), 1, 8))
           ::BIGINT % {CMS_WIDTH} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM tok CROSS JOIN hrows
  GROUP BY 1, 2, 3
),
merged AS (
  SELECT r, bucket, CAST(SUM(cnt) AS BIGINT) AS cnt
  FROM shard_cells GROUP BY r, bucket
),
exact AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_count
  FROM tok GROUP BY token
),
probes AS (
  SELECT e.token, h.r,
         ('0x' || substring(md5(CAST(h.r AS VARCHAR) || ':' || e.token),
                            1, 8))::BIGINT % {CMS_WIDTH} AS bucket
  FROM exact e CROSS JOIN hrows h
),
est AS (
  SELECT p.token, MIN(m.cnt) AS est_merged
  FROM probes p JOIN merged m USING (r, bucket)
  GROUP BY p.token
),
shard_stats AS (
  SELECT CAST(COUNT(DISTINCT source) AS BIGINT) AS n_shards,
         CAST(SUM(cnt) AS BIGINT) AS total_mass
  FROM shard_cells
)
SELECT e.token, e.exact_count, est.est_merged, s.n_shards,
       CAST(s.total_mass // {CMS_DEPTH} AS BIGINT) AS tokens_total
FROM exact e JOIN est USING (token), shard_stats s
ORDER BY e.exact_count DESC, e.token
LIMIT {TOPK}
""",
    doc="Mergeable count-min shards: one d x w grid PER SOURCE shard "
    "(the incremental unit — a backfilled source re-aggregates alone), "
    "merged by cell-wise integer SUM. CMS is linear, so the merged "
    "grid is IDENTICAL to the one-shot global grid and the min-over-"
    "rows estimates stay exactly sketch_countmin_topk's — the identity "
    "a test asserts. Same md5-substream buckets, so the ENTIRE "
    "shard-merge-probe pipeline replays in DuckDB; FULL value oracle. "
    "Shuffle: O(shards * d * w) grid rows, regardless of corpus size.",
)
def incremental_countmin_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    tok = docs.select(
        "source", F.explode(F.split("text", " ")).alias("token")
    ).filter(F.col("token") != "")
    cells = tok.select(
        "source",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"), _bucket(r).alias("bucket")
                    )
                    for r in range(CMS_DEPTH)
                ]
            )
        ).alias("cell"),
    )
    shard_cells = cells.groupBy("source", "cell.r", "cell.bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    merged = shard_cells.groupBy("r", "bucket").agg(
        F.sum("cnt").cast("bigint").alias("cnt")
    )
    exact = tok.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_count")
    )
    probes = exact.select(
        "token",
        "exact_count",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"), _bucket(r).alias("bucket")
                    )
                    for r in range(CMS_DEPTH)
                ]
            )
        ).alias("cell"),
    ).select("token", "exact_count", "cell.r", "cell.bucket")
    est = (
        probes.join(F.broadcast(merged), ["r", "bucket"])
        .groupBy("token", "exact_count")
        .agg(F.min("cnt").cast("bigint").alias("est_merged"))
    )
    stats = shard_cells.agg(
        F.count_distinct("source").cast("bigint").alias("n_shards"),
        F.expr(
            f"CAST(SUM(cnt) div {CMS_DEPTH} AS BIGINT)"
        ).alias("tokens_total"),
    )
    return (
        est.crossJoin(F.broadcast(stats))
        .orderBy(F.desc("exact_count"), "token")
        .limit(TOPK)
        .select(
            "token", "exact_count", "est_merged", "n_shards", "tokens_total"
        )
    )


# ---------------------------------------------------------------------------
# Mergeable quantile-digest shards: the incremental complement of the
# count-min shard merge above, riding the r9 pinned-layout digest.
# ---------------------------------------------------------------------------

from .sketches import _digest_oracle, pinned_digest_estimates  # noqa: E402

_DIGEST_SNAP_SQL = "CASE WHEN o_orderkey % 4 = 0 THEN 1 ELSE 0 END"


@register(
    "incremental_digest_merge",
    oracle=_digest_oracle(snap_expr=_DIGEST_SNAP_SQL),
    doc="Mergeable quantile-digest shards: the corpus splits into a "
    "base snapshot and a late-arriving delta (o_orderkey % 4 = 0 — the "
    "incremental unit that re-sketches alone on backfill), each "
    "snapshot compresses into its own pinned-layout centroid set, and "
    "the sets merge by CONCATENATION before the interpolation finish — "
    "the defining mergeable-sketch property (centroid union commutes "
    "and re-sketches only the touched snapshot; state is O(snapshots x "
    "shards x K) centroids regardless of data volume). FULL value "
    "oracle: same replay as sketch_quantile_digest with the snapshot "
    "key threaded through chunking, merge order and interpolation. "
    "test_sketches.py asserts the merged estimates stay within the "
    "digest rank-error bound of the exact quantiles.",
)
def incremental_digest_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-snapshot pinned digests merged at finish: identical plan
    shape to sketch_quantile_digest with (snap, batch) compression
    keys — one narrow hash shuffle, bounded centroid-level merge."""
    snap = (F.col("o_orderkey") % 4 == 0).cast("int")
    return pinned_digest_estimates(spark, sf_dir, snap=snap)
