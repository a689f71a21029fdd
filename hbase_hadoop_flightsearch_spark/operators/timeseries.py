"""Time-series operators over `events`: batch sessionization and calendar
gap-fill (SURVEY.md §2b E6/E14 extensions).

`streaming/windows.py` sessionizes with Spark's merging `session_window`;
this module adds the *analytic* formulation — gaps-and-islands via
lag + running sum — which yields explicit per-user session ordinals
(session_window gives only start/end bounds) and is the shape every SQL
warehouse user knows. Gap-fill materializes a dense calendar spine so
downstream moving averages / charts see explicit zero days instead of
silently missing rows.

Scale notes (100 TB):
  * sessionize: ONE shuffle (partition by user_id); both window functions
    (lag, running sum) share the same (user_id, ts) sort order, so
    Catalyst evaluates them in a single Window node — no second exchange.
    State per task is one row of look-back — streaming-friendly memory.
  * gap-fill: the spine is sequence(min,max) exploded from a 1-row
    aggregate — O(days) rows broadcast against the O(days) daily rollup.
    Both sides of the final join are post-aggregation tiny regardless of
    raw event volume; the heavy input is reduced by a partial-agg groupBy
    before anything joins.

All timestamp arithmetic is integer microseconds (unix_micros /
epoch_us) — exact in both engines; the session gap threshold compares
bigints, never floats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.registry import register
from ..sources.catalog import load_table

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 minutes


@register(
    "events_sessionize_lag",
    oracle=f"""
WITH marked AS (
  SELECT event_id, user_id, ts,
    CASE WHEN epoch_us(ts) - epoch_us(
           LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         ) > {SESSION_GAP_US}
         OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
            IS NULL
    THEN 1 ELSE 0 END AS new_session
  FROM events
)
SELECT event_id, user_id,
  CAST(SUM(new_session) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS BIGINT) AS session_seq
FROM marked
""",
    doc="Batch sessionization (gaps-and-islands): per-user session ordinal "
    "via lag + running sum, 30-minute inactivity gap. One shuffle; both "
    "window functions share a single sort.",
)
def events_sessionize_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize_lag(load_table(spark, sf_dir, "events"))


def sessionize_lag(events: DataFrame) -> DataFrame:
    """The `session_window` twin with explicit session ids. The (ts,
    event_id) sort key makes the ordering total — equal timestamps would
    otherwise make lag() nondeterministic across engines. Boundary: a gap
    of EXACTLY the threshold stays in-session (strict > splits)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    prev_us = F.lag(us).over(w)
    new_session = F.when(
        prev_us.isNull() | ((us - prev_us) > SESSION_GAP_US), 1
    ).otherwise(0)
    return (
        events.select("event_id", "user_id", "ts",
                      new_session.alias("new_session"))
        .select(
            "event_id",
            "user_id",
            F.sum("new_session")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .alias("session_seq"),
        )
    )


@register(
    "events_gapfill_daily",
    oracle="""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100
           AS total_value
  FROM events GROUP BY 1
),
spine AS (
  SELECT CAST(unnest(generate_series(
    (SELECT MIN(day) FROM daily),
    (SELECT MAX(day) FROM daily),
    INTERVAL 1 DAY)) AS DATE) AS day
)
SELECT spine.day, COALESCE(n_events, 0) AS n_events,
       COALESCE(total_value, 0.0) AS total_value
FROM spine LEFT JOIN daily ON spine.day = daily.day
""",
    doc="Calendar gap-fill: dense daily spine (sequence between min/max "
    "day) left-joined to the daily rollup, missing days as explicit "
    "zeros. value sums ride a round-then-cast cents-integer path: the raw "
    "doubles are 2-decimal but not binary-exact, and a bare CAST would "
    "truncate in Spark yet round in DuckDB.",
)
def events_gapfill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gapfill_daily(load_table(spark, sf_dir, "events"))


def gapfill_daily(events: DataFrame) -> DataFrame:
    """Spine = explode(sequence(min_day, max_day)) off a 1-row aggregate;
    daily rollup partial-aggregates before the (tiny) join. (The driver
    corpus has events every day; the zero-fill branch is exercised by the
    sparse-fixture test in tests/test_timeseries.py.)"""
    daily = (
        events.groupBy(
            F.date_trunc("day", "ts").cast("date").alias("day")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
                .cast("double")
                / 100
            ).alias("total_value"),
        )
    )
    spine = (
        daily.agg(
            F.min("day").alias("lo"), F.max("day").alias("hi")
        )
        .select(
            F.explode(
                F.sequence("lo", "hi", F.expr("interval 1 day"))
            ).alias("day")
        )
    )
    return spine.join(daily, "day", "left").select(
        "day",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
    )


@register(
    "scd2_priority_history",
    oracle="""
WITH runs AS (
  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
    CASE WHEN LAG(o_orderpriority) OVER w IS DISTINCT FROM o_orderpriority
      THEN 1 ELSE 0 END AS chg
  FROM orders
  WHERE o_custkey < 100
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
),
islands AS (
  SELECT o_custkey, o_orderpriority, o_orderdate,
    SUM(chg) OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS island
  FROM runs
),
spans AS (
  SELECT o_custkey, island,
    MIN(o_orderpriority) AS priority,
    MIN(o_orderdate) AS valid_from,
    COUNT(*) AS n_orders
  FROM islands GROUP BY o_custkey, island
)
SELECT o_custkey, priority, valid_from,
  LEAD(valid_from) OVER (PARTITION BY o_custkey ORDER BY island)
    AS valid_to,
  CASE WHEN LEAD(valid_from) OVER (PARTITION BY o_custkey ORDER BY island)
    IS NULL THEN 1 ELSE 0 END AS is_current,
  n_orders
FROM spans
""",
    doc="SCD2 dimension build (time series): collapse each customer's "
    "order-priority timeline into change intervals (valid_from/valid_to, "
    "is_current) — gaps-and-islands change detection + one window pass, "
    "the standard warehouse slowly-changing-dimension derivation.",
)
def scd2_priority_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 history: one row per (customer, priority run), half-open
    validity [valid_from, valid_to). All three passes share the same
    PARTITION BY o_custkey shuffle — Spark plans them in one exchange."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey") < 100
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    flagged = orders.select(
        "o_custkey",
        "o_orderpriority",
        "o_orderdate",
        "o_orderkey",
        F.when(
            ~F.lag("o_orderpriority").over(w).eqNullSafe(
                F.col("o_orderpriority")
            ),
            1,
        )
        .otherwise(0)
        .alias("chg"),
    )
    islands = flagged.select(
        "o_custkey",
        "o_orderpriority",
        "o_orderdate",
        F.sum("chg").over(w).alias("island"),
    )
    spans = islands.groupBy("o_custkey", "island").agg(
        F.min("o_orderpriority").alias("priority"),
        F.min("o_orderdate").alias("valid_from"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w2 = Window.partitionBy("o_custkey").orderBy("island")
    valid_to = F.lead("valid_from").over(w2)
    return spans.select(
        "o_custkey",
        "priority",
        "valid_from",
        valid_to.alias("valid_to"),
        F.when(valid_to.isNull(), 1).otherwise(0).alias("is_current"),
        "n_orders",
    )


@register(
    "events_funnel_conversion",
    oracle="""
WITH per_user AS (
  SELECT user_id, MIN(CASE WHEN event_type = 'signup' THEN ts END) AS s_ts
  FROM events GROUP BY 1
),
v AS (
  SELECT e.user_id, MIN(e.ts) AS v_ts
  FROM events e JOIN per_user p USING (user_id)
  WHERE e.event_type = 'view' AND e.ts > p.s_ts GROUP BY 1
),
pu AS (
  SELECT e.user_id, MIN(e.ts) AS p_ts
  FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > v.v_ts GROUP BY 1
)
SELECT
  (SELECT COUNT(*) FROM per_user WHERE s_ts IS NOT NULL) AS n_signup,
  (SELECT COUNT(*) FROM v) AS n_signup_view,
  (SELECT COUNT(*) FROM pu) AS n_full_funnel
""",
    doc="Ordered funnel (signup -> view -> purchase, strictly later steps): "
    "three chained min-over-user windows sharing ONE Exchange(user_id) — "
    "vs the oracle's three join-aggregate rounds; at 100 TB the single "
    "shuffle on user_id is the whole cost, steps add zero exchanges.",
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    t, ts = F.col("event_type"), F.col("ts")
    df = ev.withColumn(
        "s_ts", F.min(F.when(t == "signup", ts)).over(w)
    )
    df = df.withColumn(
        "v_ts",
        F.min(F.when((t == "view") & (ts > F.col("s_ts")), ts)).over(w),
    )
    df = df.withColumn(
        "p_ts",
        F.min(F.when((t == "purchase") & (ts > F.col("v_ts")), ts)).over(w),
    )
    per_user = df.groupBy("user_id").agg(
        F.max("s_ts").alias("s_ts"),
        F.max("v_ts").alias("v_ts"),
        F.max("p_ts").alias("p_ts"),
    )
    return per_user.agg(
        F.count("s_ts").alias("n_signup"),
        F.count("v_ts").alias("n_signup_view"),
        F.count("p_ts").alias("n_full_funnel"),
    )


@register(
    "events_retention_cohorts",
    oracle="""
WITH firsts AS (
  SELECT user_id,
         date_trunc('week', MIN(ts)) AS cohort_week
  FROM events GROUP BY 1
),
activity AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS act_week FROM events
)
SELECT strftime(f.cohort_week, '%Y-%m-%d') AS cohort_week,
  CAST(date_diff('day', f.cohort_week, a.act_week) // 7 AS BIGINT)
    AS week_offset,
  COUNT(*) AS n_users
FROM activity a JOIN firsts f USING (user_id)
GROUP BY 1, 2
""",
    doc="Retention cohort matrix: users bucketed by first-seen week x "
    "active-week offset. Two aggregates on user_id (shared shuffle key) + "
    "one shuffled join on user_id (both sides are O(users) — never "
    "broadcast; AQE may still choose to if stats allow); the "
    "(cohort, offset) final agg is O(weeks^2) rows.",
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("act_week")
    ).distinct()
    return (
        activity.join(firsts, "user_id")
        .groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff("act_week", "cohort_week") / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "scd2_point_in_time_lookup",
    oracle="""
WITH runs AS (
  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
    CASE WHEN LAG(o_orderpriority) OVER w IS DISTINCT FROM o_orderpriority
      THEN 1 ELSE 0 END AS chg
  FROM orders
  WHERE o_custkey < 100
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
),
islands AS (
  SELECT o_custkey, o_orderpriority, o_orderdate,
    SUM(chg) OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS island
  FROM runs
),
spans AS (
  SELECT o_custkey, island,
    MIN(o_orderpriority) AS priority,
    MIN(o_orderdate) AS valid_from
  FROM islands GROUP BY o_custkey, island
),
hist AS (
  SELECT o_custkey, priority, valid_from,
    LEAD(valid_from) OVER (PARTITION BY o_custkey ORDER BY island)
      AS valid_to
  FROM spans
)
SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
  h.priority AS priority_at_date
FROM orders o
JOIN hist h
  ON o.o_custkey = h.o_custkey
 AND h.valid_from <= o.o_orderdate
 AND (h.valid_to IS NULL OR o.o_orderdate < h.valid_to)
WHERE o.o_custkey < 100
""",
    doc="Point-in-time SCD2 lookup (time series): join each order to the "
    "dimension version valid AT its order date — half-open "
    "[valid_from, valid_to) semantics, the feature-store / "
    "as-of-dimension correctness pattern (no future leakage). "
    "Self-consistency falls out: every order must land in exactly one "
    "validity span of the history derived from those same orders.",
)
def scd2_point_in_time_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join on the customer key with the validity range as a
    residual predicate: Spark plans a hash/sort-merge join on o_custkey
    and evaluates the BETWEEN residual per matched pair, so fan-out is
    bounded by versions-per-customer (small by construction) — never a
    range cross product. At 100 TB both sides partition by the same key."""
    hist = scd2_priority_history(spark, sf_dir).select(
        F.col("o_custkey").alias("h_custkey"),
        "priority",
        "valid_from",
        "valid_to",
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 100)
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    cond = (
        (orders.o_custkey == hist.h_custkey)
        & (hist.valid_from <= orders.o_orderdate)
        & (hist.valid_to.isNull() | (orders.o_orderdate < hist.valid_to))
    )
    return orders.join(hist, cond).select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.col("priority").alias("priority_at_date"),
    )


ZSCORE_LOOKBACK = 20  # preceding rows in the rolling baseline
ZSCORE_MIN_N = 12  # minimum baseline rows before flagging
ZSCORE_Z = 3  # |z| threshold


@register(
    "ts_anomaly_zscore",
    oracle=f"""
WITH cents AS (
  SELECT event_id, user_id, ts, value, event_type,
         CAST(round(value * 100) AS BIGINT) AS x
  FROM events
),
framed AS (
  SELECT event_id, user_id, value, event_type, x,
    SUM(x) OVER w AS s,
    SUM(x * x) OVER w AS q,
    COUNT(*) OVER w AS n
  FROM cents
  WINDOW w AS (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN {ZSCORE_LOOKBACK} PRECEDING AND 1 PRECEDING
  )
)
SELECT event_id, user_id, event_type, value,
       CAST(n AS BIGINT) AS baseline_n
FROM framed
WHERE n >= {ZSCORE_MIN_N}
  AND (n * x - s) * (n * x - s) * (n - 1)
      > {ZSCORE_Z * ZSCORE_Z} * n * (n * q - s * s)
""",
    doc="Rolling z-score anomaly detection in EXACT integer arithmetic: "
    "per-user trailing-20-row baseline (mean/variance via sum and "
    "sum-of-squares over cents-integer values), flag events with |z| > 3. "
    "The z test is the cross-multiplied inequality "
    "(n*x-S)^2*(n-1) > 9*n*(n*Q-S^2) — pure BIGINT comparisons, so the "
    "engine's float summation order can never flip a boundary. One "
    "shuffle; all three window sums share a single (user_id, ts) sort.",
)
def ts_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    return anomaly_zscore(load_table(spark, sf_dir, "events"))


def anomaly_zscore(
    events: DataFrame,
    lookback: int = ZSCORE_LOOKBACK,
    min_n: int = ZSCORE_MIN_N,
    z: int = ZSCORE_Z,
) -> DataFrame:
    """Trailing-window z-score outlier flagging with no floats anywhere.

    Scale notes (100 TB): a single Exchange(user_id); the three frame
    aggregates (S, Q, n) share one Window node over one sort, and the
    per-task state is a 20-row ring buffer — the same memory profile at
    any corpus size. A constant baseline (variance 0) flags any deviating
    value, the mathematically right limit of z -> infinity.

    The baseline deliberately EXCLUDES the current row (frame ends at
    1 PRECEDING): a self-included spike inflates its own variance and
    suppresses detection — the classic rolling-anomaly bug.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-lookback, -1)
    )
    x = F.round(F.col("value") * 100, 0).cast("bigint")
    framed = events.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        x.alias("x"),
        F.sum(x).over(w).alias("s"),
        F.sum((x * x)).over(w).alias("q"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    n, s, q, xx = F.col("n"), F.col("s"), F.col("q"), F.col("x")
    dev = n * xx - s
    return (
        framed.filter(
            (n >= min_n)
            & (dev * dev * (n - 1) > F.lit(z * z) * n * (n * q - s * s))
        )
        .select(
            "event_id",
            "user_id",
            "event_type",
            "value",
            n.cast("bigint").alias("baseline_n"),
        )
    )


@register(
    "ts_resample_ohlc",
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
    doc="Hourly OHLC resampling per event_type: open/close via "
    "min_by/max_by on the (ts, event_id) struct — a total order, so "
    "equal timestamps cannot make first/last nondeterministic — "
    "high/low/count exact, sum on the cents-integer path. ONE shuffle "
    "with full partial aggregation (min_by/max_by combine map-side); "
    "the oracle's two ROW_NUMBER windows are the SQL-engine spelling of "
    "the same thing.",
)
def ts_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return resample_ohlc(load_table(spark, sf_dir, "events"))


def resample_ohlc(events: DataFrame) -> DataFrame:
    """Candlestick rollup — the standard time-series downsample.

    Scale notes (100 TB): groupBy(bucket, type) partial-aggregates
    map-side (min_by/max_by/min/max/count/sum are all mergeable), so the
    exchange carries O(buckets × types) rows regardless of event volume.
    No window functions on the Spark side — the per-group argmin/argmax
    ride the same hash aggregate as the other measures.
    """
    key = F.struct(F.col("ts"), F.col("event_id"))
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    return (
        events.groupBy(
            F.date_trunc("hour", "ts").alias("bucket_hour"),
            "event_type",
        )
        .agg(
            F.min_by("value", key).alias("open_value"),
            F.max("value").alias("high_value"),
            F.min("value").alias("low_value"),
            F.max_by("value", key).alias("close_value"),
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(cents).cast("double") / 100).alias("total_value"),
        )
    )


OVERLAP_BIN_US = 3_600 * 1_000_000  # 1-hour buckets for the interval join
MIN_SESSION_EVENTS = 2  # single-event sessions are zero-length intervals


@register(
    "join_interval_overlap_sessions",
    oracle=f"""
WITH marked AS (
  SELECT user_id, ts, event_id,
    CASE WHEN epoch_us(ts) - epoch_us(
           LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         ) > {SESSION_GAP_US}
         OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
            IS NULL
    THEN 1 ELSE 0 END AS new_session
  FROM events
),
sess AS (
  SELECT user_id, ts,
    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked
),
iv AS (
  SELECT user_id, sid, MIN(ts) AS s, MAX(ts) AS e, COUNT(*) AS n
  FROM sess GROUP BY user_id, sid
  HAVING COUNT(*) >= {MIN_SESSION_EVENTS}
)
SELECT a.user_id AS a_user, CAST(a.sid AS BIGINT) AS a_session,
       b.user_id AS b_user, CAST(b.sid AS BIGINT) AS b_session,
       epoch_us(LEAST(a.e, b.e)) - epoch_us(GREATEST(a.s, b.s))
         AS overlap_us
FROM iv a JOIN iv b
  ON a.user_id < b.user_id AND a.s <= b.e AND b.s <= a.e
""",
    doc="Interval overlap join (E3): concurrent multi-event sessions "
    "across users. Spark plans it as a BIN-BUCKETED equi join — each "
    "interval explodes into the 1-hour buckets it covers, pairs meet on "
    "the bucket key, and a distinct pass removes multi-bucket repeats — "
    "the standard rewrite that turns an O(n^2) theta join into a "
    "shuffle-bounded equi join. The oracle IS the theta join.",
)
def join_interval_overlap_sessions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return interval_overlap_sessions(load_table(spark, sf_dir, "events"))


def interval_overlap_sessions(events: DataFrame) -> DataFrame:
    """Which sessions ran at the same time as someone else's?

    Scale notes (100 TB): a naive theta join on (a.s <= b.e AND b.s <=
    a.e) is a cross product with residual predicates — Spark would plan
    BroadcastNestedLoopJoin and die at scale. Binning makes it an equi
    join: two overlapping intervals both contain their overlap start,
    which lies in a bucket BOTH intervals cover, so no pair is missed;
    the bucket key bounds shuffle partners to co-hour intervals. Work
    scales with sum(intervals-per-bucket^2) — the skew knob is the
    bucket width (narrower buckets for denser timelines; at 1-hour
    buckets a session covers <= 2-3 buckets here, so the explode factor
    is ~2). The distinct pass that removes multi-bucket duplicates
    reuses the pair columns as its grouping key — one extra exchange of
    O(pairs), not O(explode).

    Overlap duration is exact integer microseconds; zero-length touches
    (a.e == b.s) count as overlap_us = 0, matching the oracle's closed
    intervals.
    """
    # Inline sessionization keeping ts (sessionize_lag projects it away;
    # a join-back would re-shuffle on event_id for a column this window
    # already sorted by). Both window exprs share one (user_id, ts) sort.
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    prev_us = F.lag(us).over(w)
    new_session = F.when(
        prev_us.isNull() | ((us - prev_us) > SESSION_GAP_US), 1
    ).otherwise(0)
    sess = events.select(
        "event_id",
        "user_id",
        "ts",
        new_session.alias("ns"),
    ).select(
        "user_id",
        "ts",
        F.sum("ns")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_seq"),
    )
    iv = (
        sess.groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("s"),
            F.max("ts").alias("e"),
            F.count(F.lit(1)).alias("n"),
        )
        .filter(F.col("n") >= MIN_SESSION_EVENTS)
        .select(
            "user_id",
            F.col("session_seq").alias("sid"),
            F.unix_micros("s").alias("s_us"),
            F.unix_micros("e").alias("e_us"),
            "s",
            "e",
        )
    )
    binned = iv.withColumn(
        "bin",
        F.explode(
            F.sequence(
                (F.col("s_us") / OVERLAP_BIN_US).cast("bigint"),
                (F.col("e_us") / OVERLAP_BIN_US).cast("bigint"),
            )
        ),
    )
    a = binned.select(
        F.col("bin"),
        F.col("user_id").alias("a_user"),
        F.col("sid").alias("a_session"),
        F.col("s_us").alias("a_s"),
        F.col("e_us").alias("a_e"),
    )
    b = binned.select(
        F.col("bin"),
        F.col("user_id").alias("b_user"),
        F.col("sid").alias("b_session"),
        F.col("s_us").alias("b_s"),
        F.col("e_us").alias("b_e"),
    )
    return (
        a.join(b, "bin")
        .filter(
            (F.col("a_user") < F.col("b_user"))
            & (F.col("a_s") <= F.col("b_e"))
            & (F.col("b_s") <= F.col("a_e"))
        )
        .select(
            "a_user",
            "a_session",
            "b_user",
            "b_session",
            (
                F.least("a_e", "b_e") - F.greatest("a_s", "b_s")
            ).alias("overlap_us"),
        )
        .distinct()
    )


@register(
    "events_running_distinct_users",
    oracle="""
WITH firsts AS (
  SELECT date_trunc('hour', MIN(ts)) AS first_hour
  FROM events GROUP BY user_id
),
per_hour AS (
  SELECT first_hour AS hour, COUNT(*) AS new_users FROM firsts GROUP BY 1
)
SELECT hour, CAST(new_users AS BIGINT) AS new_users,
  CAST(SUM(new_users) OVER (ORDER BY hour
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
    AS cumulative_users
FROM per_hour
""",
    doc="Running DISTINCT count (E6): cumulative unique users by hour via "
    "the first-seen rewrite — min(ts) per user, count firsts per hour, "
    "running-sum the O(hours) rollup. A naive count(distinct) over an "
    "expanding frame re-scans every prefix (O(hours * events)); this "
    "plan's heavy input is reduced by ONE partial-agg groupBy(user) "
    "before any window runs, and the window sorts O(hours) rows.",
)
def events_running_distinct_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The standard 'total users to date' metric. Exact: integer counts
    only. The windowed final pass runs on the per-hour rollup — at 100 TB
    the expensive shuffle is groupBy(user_id), already minimal, and the
    single-partition window touches O(hours) rows."""
    events = load_table(spark, sf_dir, "events")
    firsts = events.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("first_hour")
    )
    per_hour = firsts.groupBy(F.col("first_hour").alias("hour")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("hour").rowsBetween(Window.unboundedPreceding, 0)
    return per_hour.select(
        "hour",
        F.col("new_users").cast("bigint").alias("new_users"),
        F.sum("new_users").over(w).cast("bigint").alias("cumulative_users"),
    )


@register(
    "events_markov_transitions",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
    LEAD(event_type) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
    ) AS next_type
  FROM events
),
pairs AS (
  SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT from_type, to_type, CAST(n AS BIGINT) AS n_transitions,
  ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY from_type), 6)
    AS transition_prob
FROM pairs
""",
    doc="Event-type transition matrix (user-journey Markov chain): "
    "per-user lead() pairs -> (from, to) counts -> row-normalized "
    "probabilities. ONE Exchange(user_id) for the sequence pass; the "
    "normalizing window runs over the O(types^2) matrix. Probabilities "
    "are an integer ratio n/rowsum evaluated identically in both "
    "engines, rounded 6dp.",
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transitions over each user's event sequence —
    the sequence-analytics companion to the funnel query. The (ts,
    event_id) sort key makes lead() deterministic under timestamp ties."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    pairs = seq.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).alias("n"))
    norm = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        F.col("n").cast("bigint").alias("n_transitions"),
        F.round(F.col("n") * 1.0 / F.sum("n").over(norm), 6).alias(
            "transition_prob"
        ),
    )


EWMA_WINDOW = 16  # trailing rows in the finite EWMA frame
EWMA_NUM, EWMA_DEN = 3, 4  # decay (1-alpha) = 3/4 as an exact ratio

# weight for lag i (0 = current row), scaled by 4^(W-1) so every weight is
# an exact integer: w_i = 3^i * 4^(W-1-i).
_EWMA_WEIGHTS = [
    EWMA_NUM**i * EWMA_DEN ** (EWMA_WINDOW - 1 - i)
    for i in range(EWMA_WINDOW)
]


@register(
    "ts_ewma_cents",
    oracle=f"""
WITH r AS (
  SELECT user_id, event_id,
    CAST(round(value * 100) AS BIGINT) AS cents,
    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT a.user_id, a.event_id,
  ROUND(
    SUM(b.cents * CAST(POWER({EWMA_NUM}, a.rn - b.rn) AS BIGINT)
        * CAST(POWER({EWMA_DEN},
                     {EWMA_WINDOW - 1} - (a.rn - b.rn)) AS BIGINT))
    / (SUM(CAST(POWER({EWMA_NUM}, a.rn - b.rn) AS BIGINT)
           * CAST(POWER({EWMA_DEN},
                        {EWMA_WINDOW - 1} - (a.rn - b.rn)) AS BIGINT))
       * 100.0),
    6) AS ewma
FROM r a JOIN r b
  ON a.user_id = b.user_id
  AND b.rn BETWEEN a.rn - {EWMA_WINDOW - 1} AND a.rn
GROUP BY a.user_id, a.event_id
""",
    doc=f"Finite-window EWMA (decay {EWMA_NUM}/{EWMA_DEN}, trailing "
    f"{EWMA_WINDOW} rows) over each user's value series, computed in "
    "EXACT integer arithmetic: cents x integer weights 3^i*4^(W-1-i), "
    "one final double division — so Spark and DuckDB produce identical "
    "doubles with no summation-order drift. Spark plan: ONE "
    "Exchange(user_id) + one Window node building the trailing array, "
    "weights applied via transform/aggregate expressions (codegen'd "
    "array ops, no UDF). The oracle's O(W) self-join is the SQL "
    "formulation only — the engine never self-joins.",
)
def ts_ewma_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA via trailing collect_list window: xs is oldest->current, so
    element j of n has lag n-1-j and integer weight _EWMA_WEIGHTS[lag].
    All sums are exact BIGINTs (max |cents| ~1e8 x 4^15 x 16 << 2^63);
    the single division at the end is the only float op."""
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(EWMA_WINDOW - 1), 0)
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    weights = F.array(*[F.lit(x) for x in _EWMA_WEIGHTS])
    xs = F.collect_list(cents).over(w)
    base = events.select(
        "user_id", "event_id", xs.alias("xs")
    )
    n = F.size("xs")
    # element_at is 1-based: element j (0-based) has lag n-1-j, so its
    # weight sits at index (n-1-j)+1 = n-j in the weights array.
    weighted = F.transform(
        F.col("xs"),
        lambda x, j: x * F.element_at(weights, n - j),
    )
    wsum = F.transform(F.col("xs"), lambda x, j: F.element_at(weights, n - j))
    num = F.aggregate(weighted, F.lit(0).cast("bigint"), lambda a, v: a + v)
    den = F.aggregate(wsum, F.lit(0).cast("bigint"), lambda a, v: a + v)
    return base.select(
        "user_id",
        "event_id",
        F.round(num / (den * F.lit(100.0)), 6).alias("ewma"),
    )


# ---------------------------------------------------------------------------
# Robust (median/MAD) anomaly detection on daily series
# ---------------------------------------------------------------------------

MAD_K = 3  # |x - median| > MAD_K * MAD flags a day


@register(
    "events_anomaly_mad",
    oracle=f"""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
med AS (
  SELECT event_type, quantile_cont(cnt, 0.5) AS med
  FROM daily GROUP BY event_type
),
mad AS (
  SELECT d.event_type, m.med,
         quantile_cont(ABS(d.cnt - m.med), 0.5) AS mad
  FROM daily d JOIN med m USING (event_type)
  GROUP BY d.event_type, m.med
)
SELECT d.event_type, d.day, d.cnt, a.med, a.mad
FROM daily d JOIN mad a USING (event_type)
WHERE ABS(d.cnt - a.med) > {MAD_K} * a.mad
ORDER BY d.event_type, d.day
""",
    doc=f"Robust anomaly detection on daily event counts: flag days "
    f"where |count - median| > {MAD_K} * MAD (median absolute "
    "deviation) per event type — the outlier screen that, unlike the "
    "z-score, is not itself corrupted by the outliers it hunts. "
    "Arithmetic is engine-exact by construction: counts are integers, "
    "so the interpolated median and MAD are dyadic rationals (k or "
    "k+0.5) that doubles represent exactly — the flag comparison can "
    "never flip on float rounding. A zero MAD (over half the days "
    "identical) flags any deviating day, the correct robust limit. "
    "Spark shape: one shuffle to daily counts (partial count "
    "map-side), then two tiny percentile aggregates over O(types x "
    "days) rows joined back broadcast — at 100 TB every post-rollup "
    "stage is megabytes.",
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.groupBy(
            "event_type",
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    med = daily.groupBy("event_type").agg(
        F.expr("percentile(cnt, 0.5)").alias("med")
    )
    mad = (
        daily.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "med")
        .agg(F.expr("percentile(abs(cnt - med), 0.5)").alias("mad"))
    )
    return (
        daily.join(F.broadcast(mad), "event_type")
        .filter(F.abs(F.col("cnt") - F.col("med")) > MAD_K * F.col("mad"))
        .select("event_type", "day", "cnt", "med", "mad")
        .orderBy("event_type", "day")
    )


WAU_DAYS = 7  # trailing window for weekly active users


@register(
    "events_dau_wau",
    oracle=f"""
WITH user_days AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events
),
days AS (SELECT DISTINCT day FROM user_days),
covers AS (
  SELECT DISTINCT u.user_id, u.day + CAST(i AS INT) AS cover_day
  FROM user_days u,
       LATERAL (SELECT unnest(generate_series(0, {WAU_DAYS - 1})) AS i)
),
dau AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM user_days GROUP BY day
),
wau AS (
  SELECT c.cover_day AS day, CAST(COUNT(*) AS BIGINT) AS wau
  FROM covers c JOIN days d ON c.cover_day = d.day
  GROUP BY c.cover_day
)
SELECT d.day, d.dau, w.wau
FROM dau d JOIN wau w USING (day)
ORDER BY d.day
""",
    doc=f"DAU / trailing-{WAU_DAYS}-day WAU (exact rolling distinct "
    "users). A windowed COUNT DISTINCT over raw events re-scans the "
    "window per day; the scalable rewrite dedups to (user, active-day) "
    f"pairs ONCE, then fans each pair out to the {WAU_DAYS} days it "
    "covers — the trailing-distinct count becomes a plain pre-counted "
    "aggregate (the pairs are distinct by construction, so no second "
    "distinct pass is needed: COUNT(*) == COUNT(DISTINCT user)). "
    "Expansion factor is the window length, shuffle keys are "
    "(user, day) then day — no per-day rescans, no unbounded state. "
    "Cover-days past the observed range are dropped by joining the "
    "observed-day spine. The same rewrite scales to MAU with x30 "
    "expansion; beyond that the mergeable-HLL path "
    "(agg_hll_sliding_distinct) is the registered approximation.",
)
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    user_days = (
        events.select(
            "user_id",
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        )
        .distinct()
    )
    days = user_days.select("day").distinct()
    covers = (
        user_days.select(
            "user_id",
            F.explode(
                F.sequence(
                    F.col("day"),
                    F.date_add(F.col("day"), WAU_DAYS - 1),
                )
            ).alias("cover_day"),
        )
        .distinct()
    )
    dau = user_days.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("dau")
    )
    wau = (
        covers.join(days, covers.cover_day == days.day)
        .groupBy(covers.cover_day.alias("wday"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("wau"))
    )
    return (
        dau.join(wau, dau.day == F.col("wday"))
        .select("day", "dau", "wau")
        .orderBy("day")
    )


SEASONAL_K2 = 2  # flag when dev^2 > K2 * variance (K = sqrt(2))


@register(
    "events_seasonal_profile",
    oracle=f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hr,
         EXTRACT(dow FROM ts) AS dow,
         EXTRACT(hour FROM ts) AS hod,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2, 3
),
profile AS (
  SELECT dow, hod,
    CAST(COUNT(*) AS BIGINT) AS n_obs,
    CAST(SUM(cnt) AS BIGINT) AS s,
    CAST(SUM(cnt * cnt) AS BIGINT) AS q
  FROM hourly GROUP BY dow, hod
)
SELECT h.hr, h.cnt,
  CAST(p.dow AS BIGINT) AS dow, CAST(p.hod AS BIGINT) AS hod,
  ROUND(p.s * 1.0 / p.n_obs, 6) AS expected
FROM hourly h JOIN profile p USING (dow, hod)
WHERE p.n_obs >= 4
  AND (h.cnt * p.n_obs - p.s) * (h.cnt * p.n_obs - p.s)
      > {SEASONAL_K2}
        * (p.n_obs * p.q - p.s * p.s)
ORDER BY h.hr
""",
    doc="Seasonal-profile anomaly detection: the (day-of-week x "
    "hour-of-day) traffic profile is the baseline — each observed hour "
    f"is flagged when its squared deviation exceeds {SEASONAL_K2}x the "
    "slot variance — K = sqrt(2), a deliberately sensitive screen "
    "because the synthetic traffic is near-uniform; production would "
    "run K = 3 — relative to its own weekly slot (the monitoring "
    "baseline that rolling windows get wrong across weekends). The "
    "flag test is the cross-multiplied integer inequality "
    "(cnt*n - S)^2 > K^2 * (n*Q - S^2) over BIGINT count sums — no "
    "float can flip a boundary, same discipline as ts_anomaly_zscore. "
    "Spark shape: one shuffle to hourly counts (partial map-side), a "
    "168-row profile aggregate broadcast back, O(hours) output.",
)
def events_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hr"),
        F.dayofweek(F.col("ts")).alias("dow_spark"),
        F.hour(F.col("ts")).alias("hod"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    # Spark dayofweek: Sunday=1..Saturday=7; DuckDB dow: Sunday=0..6.
    hourly = hourly.withColumn(
        "dow", (F.col("dow_spark") - 1).cast("bigint")
    ).drop("dow_spark")
    profile = hourly.groupBy("dow", "hod").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        F.sum("cnt").cast("bigint").alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("bigint").alias("q"),
    )
    j = hourly.join(F.broadcast(profile), ["dow", "hod"])
    n, s, q, c = (F.col("n_obs"), F.col("s"), F.col("q"), F.col("cnt"))
    dev = c * n - s
    return (
        j.filter(
            (n >= 4)
            & (dev * dev > F.lit(SEASONAL_K2) * (n * q - s * s))
        )
        .select(
            "hr",
            "cnt",
            "dow",
            F.col("hod").cast("bigint").alias("hod"),
            F.round(s / n, 6).alias("expected"),
        )
        .orderBy("hr")
    )


PARETO_SHARES = (50, 80, 90, 99)  # % of events; find smallest user share


@register(
    "events_pareto_concentration",
    oracle=f"""
WITH per_user AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY user_id
),
ranked AS (
  SELECT user_id, n,
    SUM(n) OVER (ORDER BY n DESC, user_id
                 ROWS UNBOUNDED PRECEDING) AS cum_n,
    ROW_NUMBER() OVER (ORDER BY n DESC, user_id) AS rnk,
    SUM(n) OVER () AS total_n,
    COUNT(*) OVER () AS total_users
  FROM per_user
)
SELECT s.share_pct,
  CAST(MIN(r.rnk) AS BIGINT) AS users_needed,
  ROUND(MIN(r.rnk) * 1.0 / MAX(r.total_users), 6) AS user_frac
FROM (SELECT unnest(ARRAY{list(PARETO_SHARES)}) AS share_pct) s
JOIN ranked r ON r.cum_n * 100 >= s.share_pct * r.total_n
GROUP BY s.share_pct
ORDER BY s.share_pct
""",
    doc="Pareto concentration curve: the smallest number of top users "
    "that generate 50/80/90/99% of all events — the workload-"
    "concentration diagnostic behind capacity planning AND shuffle-"
    "skew prediction (the same curve over join keys predicts hot "
    "partitions). The threshold test is the integer cross-product "
    "cum*100 >= share*total (no float percentages), ranking ties "
    "broken by user_id. Spark shape: one shuffle to per-user counts, "
    "then the distributed rank/cumsum primitive (operators/ranks.py) "
    "over O(users) rows — a range split, never a single-task sort "
    "(per-user counts still scale with the corpus).",
)
def events_pareto_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    # running event share, user rank, and both grand totals over
    # O(users) in one distributed pass (operators/ranks.py) — the
    # "honest exact cost" is now a range split, not one task.
    from .ranks import with_global_order_stats

    ranked = with_global_order_stats(
        per_user,
        [F.col("n").desc(), F.col("user_id")],
        cumsums={"cum_n": F.col("n")},
        totals={"total_n": F.col("n"), "total_users": F.lit(1)},
        row_number="rnk",
    ).select("n", "cum_n", "rnk", "total_n", "total_users")
    shares = spark.createDataFrame(
        [(s,) for s in PARETO_SHARES], "share_pct int"
    )
    return (
        ranked.join(
            F.broadcast(shares),
            F.col("cum_n") * 100 >= F.col("share_pct") * F.col("total_n"),
        )
        .groupBy("share_pct")
        .agg(
            F.min("rnk").cast("bigint").alias("users_needed"),
            F.round(F.min("rnk") / F.max("total_users"), 6).alias(
                "user_frac"
            ),
        )
        .orderBy("share_pct")
    )


@register(
    "events_time_to_convert_pctl",
    oracle="""
WITH views AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'view'
),
purchases AS (
  SELECT user_id, ts FROM events WHERE event_type = 'purchase'
),
delays AS (
  SELECT v.user_id, v.event_id,
    MIN(epoch_us(p.ts) - epoch_us(v.ts)) AS delay_us
  FROM views v JOIN purchases p
    ON p.user_id = v.user_id AND p.ts > v.ts
  GROUP BY v.user_id, v.event_id
),
sel AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(MAX(delay_us) AS BIGINT) AS mx,
         list_sort(list(CAST(delay_us AS BIGINT))) AS arr
  FROM delays
)
SELECT n AS n_converted_views,
  (arr[CAST((n - 1) * 5 // 10 AS INT) + 1]
   + (COALESCE(arr[CAST((n - 1) * 5 // 10 AS INT) + 2],
               arr[CAST((n - 1) * 5 // 10 AS INT) + 1])
      - arr[CAST((n - 1) * 5 // 10 AS INT) + 1])
     * CAST((n - 1) * 5 % 10 AS DOUBLE) / CAST(10 AS DOUBLE)) AS p50_us,
  (arr[CAST((n - 1) * 9 // 10 AS INT) + 1]
   + (COALESCE(arr[CAST((n - 1) * 9 // 10 AS INT) + 2],
               arr[CAST((n - 1) * 9 // 10 AS INT) + 1])
      - arr[CAST((n - 1) * 9 // 10 AS INT) + 1])
     * CAST((n - 1) * 9 % 10 AS DOUBLE) / CAST(10 AS DOUBLE)) AS p90_us,
  mx AS max_us
FROM sel
""",
    doc="Funnel latency distribution: for every view that eventually "
    "converts, the delay to that user's NEXT purchase, summarized as "
    "integer-microsecond percentiles via the explicit rank formula "
    "((n-1)*q in exact tenths over the globally ranked delays — r10 "
    "hardening: built-in interpolations are 1 ulp apart cross-engine "
    "at non-dyadic q=0.9; r12: the rank rides the distributed "
    "row-number primitive (ranks.py, no single-task sort) and "
    "approx_percentile stays the cheap alternative). The Spark side "
    "computes next-purchase via the FORWARD as-of machinery "
    "(frame-reversed union + last-over-window — one sort, no join), "
    "while the oracle deliberately uses the quadratic join-then-min "
    "formulation; both reduce to one O(1)-row summary. At 100 TB the "
    "as-of formulation shuffles each side once on user_id; the "
    "join-min would explode on power users.",
)
def events_time_to_convert_pctl(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id",
        F.unix_micros("ts").alias("ts_us"),
    )
    views = events.filter(F.col("event_type") == "view")
    purchases = events.filter(F.col("event_type") == "purchase")
    # Forward as-of via the union+window technique (asof.py discipline):
    # at equal ts a purchase sorts BEFORE the view (is_left ordering) and
    # the frame starts at the current row, so strictly-later purchases
    # only. One Exchange(user_id), one sort, no join.
    tagged = views.select(
        "user_id", "ts_us", F.lit(1).alias("is_left"),
        F.lit(None).cast("long").alias("p_ts"),
    ).unionByName(
        purchases.select(
            "user_id", "ts_us", F.lit(0).alias("is_left"),
            F.col("ts_us").alias("p_ts"),
        )
    )
    # Reversed-sort running frame: the literal (currentRow,
    # unboundedFollowing) frame is O(partition^2) in Spark — see
    # asof.forward_running_window (r14 hub-skew finding).
    from .asof import forward_running_window

    w = forward_running_window("user_id", ["ts_us", "is_left"])
    joined = tagged.select(
        "is_left", "ts_us",
        F.last("p_ts", ignorenulls=True).over(w).alias("next_p_ts"),
    ).filter((F.col("is_left") == 1) & F.col("next_p_ts").isNotNull())
    delays = joined.select(
        (F.col("next_p_ts") - F.col("ts_us")).alias("delay_us")
    )
    # r12: the rank and the COUNT(*) OVER () both ride the distributed
    # row-number primitive (ranks.py) — no unpartitioned window, no
    # single-task sort of the delay set. Execution-only; oracle
    # unchanged.
    from .ranks import with_global_row_number

    rk = with_global_row_number(
        delays, [F.col("delay_us")], out="rn", total_col="n"
    )

    def at(rank_expr: str):
        return F.max(F.when(F.expr(f"rn = {rank_expr}"), F.col("delay_us")))

    def interp(mult: int) -> str:
        return (
            f"a{mult} + (COALESCE(b{mult}, a{mult}) - a{mult})"
            f" * CAST((n - 1) * {mult} % 10 AS DOUBLE)"
            f" / CAST(10 AS DOUBLE)"
        )

    # UNGROUPED aggregate (ADVICE r10, empty-input symmetry): the old
    # groupBy('n') produced ZERO rows on an empty delay set while the
    # oracle's ungrouped aggregate produced one; an ungrouped agg with
    # n = COUNT(*) matches the oracle's single NULL-percentile row
    # exactly (n = 0, percentiles and max NULL) on empty input too —
    # covered by tests/test_timeseries.py's empty-conversions fixture.
    return (
        rk.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            at("(n - 1) * 5 div 10 + 1").alias("a5"),
            at("(n - 1) * 5 div 10 + 2").alias("b5"),
            at("(n - 1) * 9 div 10 + 1").alias("a9"),
            at("(n - 1) * 9 div 10 + 2").alias("b9"),
            F.max("delay_us").cast("bigint").alias("max_us"),
        )
        .select(
            F.col("n").alias("n_converted_views"),
            F.expr(interp(5)).alias("p50_us"),
            F.expr(interp(9)).alias("p90_us"),
            "max_us",
        )
    )


SESSION_CONV_GAP_MIN = 5  # session gap, minutes (same as stream sessions)


@register(
    "events_session_conversion",
    oracle=f"""
WITH marked AS (
  SELECT user_id, ts, event_id, event_type,
    CASE WHEN LAG(ts) OVER w IS NULL
              OR ts - LAG(ts) OVER w
                 >= INTERVAL {SESSION_CONV_GAP_MIN} MINUTE
         THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, event_type,
    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
),
per_session AS (
  SELECT user_id, sid,
    CAST(COUNT(*) AS BIGINT) AS n_events,
    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
  FROM sessions GROUP BY user_id, sid
)
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_sessions,
  CAST(SUM(converted) AS BIGINT) AS n_converted,
  ROUND(SUM(converted) * 1.0 / COUNT(*), 6) AS conversion_rate,
  ROUND(AVG(n_events), 6) AS avg_events_per_session
FROM per_session
""",
    doc="Session-level conversion rate: sessionize each user's stream "
    f"(gaps-and-islands, {SESSION_CONV_GAP_MIN}-minute gap — the exact "
    "batch twin of the streaming session_window), mark a session "
    "converted when it contains a purchase, and roll up "
    "sessions/conversions/rate/avg-length — THE product metric "
    "downstream of every sessionizer. Both window functions share one "
    "(user_id, ts, event_id) sort; the only float is the final pair "
    "of ratios from exact integers. One Exchange(user_id) then O(1) "
    "output.",
)
def events_session_conversion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = SESSION_CONV_GAP_MIN * 60 * 1_000_000
    marked = events.select(
        "user_id", "ts", "event_id", "event_type",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                >= gap_us
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    sessions = marked.select(
        "user_id", "event_type",
        F.sum("new_session")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("sid"),
    )
    per_session = sessions.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.max(
            (F.col("event_type") == "purchase").cast("int")
        ).alias("converted"),
    )
    return per_session.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum("converted").cast("bigint").alias("n_converted"),
        F.round(F.sum("converted") / F.count(F.lit(1)), 6).alias(
            "conversion_rate"
        ),
        F.round(F.avg("n_events"), 6).alias("avg_events_per_session"),
    )


SLO_ERROR_BUDGET_PCT = 21  # SLO: error rate budget, percent of events
BURN_FAST, BURN_SLOW = 2, 1  # burn multipliers for the 1h / 6h windows


@register(
    "events_error_budget_burn",
    oracle=f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hr,
    CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
      AS errs
  FROM events GROUP BY 1
),
windows AS (
  SELECT hr, n, errs,
    SUM(n) OVER w6 AS n6, SUM(errs) OVER w6 AS errs6
  FROM hourly
  WINDOW w6 AS (ORDER BY hr ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
)
SELECT hr,
  ROUND(errs * 100.0 / n, 4) AS rate_1h_pct,
  ROUND(errs6 * 100.0 / n6, 4) AS rate_6h_pct
FROM windows
WHERE errs * 10000 > n * {SLO_ERROR_BUDGET_PCT * BURN_FAST * 100}
  AND errs6 * 10000 > n6 * {SLO_ERROR_BUDGET_PCT * BURN_SLOW * 100}
ORDER BY hr
""",
    doc="Multi-window error-budget burn alert (the SRE alerting pattern "
    "that kills both flappy and slow-blind alerts): fire only when the "
    f"1-hour error rate burns > {BURN_FAST}x the "
    f"{SLO_ERROR_BUDGET_PCT}% SLO budget AND the trailing 6-hour rate "
    f"burns > {BURN_SLOW}x — the fast window gives detection latency, "
    "the slow window confirms it is not a blip. Both burn tests are "
    "integer cross-products (errs*10000 > n*budget*100), so no float "
    "threshold can flip an alert; the reported rates are display-only "
    "rounded ratios. Spark shape: one shuffle to hourly counts, one "
    "ordered window over O(hours) rows (single-partition at profile "
    "granularity — the rollup is tiny; partition by service/tenant in "
    "production).",
)
def events_error_budget_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum((F.col("event_type") == "error").cast("int"))
        .cast("bigint")
        .alias("errs"),
    )
    w6 = Window.orderBy("hr").rowsBetween(-5, 0)
    windows = hourly.select(
        "hr", "n", "errs",
        F.sum("n").over(w6).alias("n6"),
        F.sum("errs").over(w6).alias("errs6"),
    )
    fast = SLO_ERROR_BUDGET_PCT * BURN_FAST * 100
    slow = SLO_ERROR_BUDGET_PCT * BURN_SLOW * 100
    return (
        windows.filter(
            (F.col("errs") * 10000 > F.col("n") * fast)
            & (F.col("errs6") * 10000 > F.col("n6") * slow)
        )
        .select(
            "hr",
            F.round(F.col("errs") * 100.0 / F.col("n"), 4).alias(
                "rate_1h_pct"
            ),
            F.round(F.col("errs6") * 100.0 / F.col("n6"), 4).alias(
                "rate_6h_pct"
            ),
        )
        .orderBy("hr")
    )


@register(
    "events_activity_streaks",
    oracle="""
WITH days AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events
),
islands AS (
  SELECT user_id, day,
    day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
               AS INT) AS grp
  FROM days
),
streaks AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS len,
    MIN(day) AS streak_start
  FROM islands GROUP BY user_id, grp
)
SELECT user_id,
  CAST(MAX(len) AS BIGINT) AS longest_streak,
  CAST(COUNT(*) AS BIGINT) AS n_streaks,
  MIN(streak_start) AS first_active_day
FROM streaks
GROUP BY user_id
HAVING MAX(len) >= 7
ORDER BY user_id
""",
    doc="Longest consecutive-day activity streak per user (the "
    "engagement/retention staple): the date-minus-row_number "
    "gaps-and-islands trick turns consecutive days into a constant "
    "group key, so streaks fall out of one groupBy — no self-join, no "
    "recursive scan. Integer day arithmetic end to end. Users with a "
    "7+ day best streak reported with their streak count and first "
    "active day. One Exchange(user_id) shared by the dedup, the "
    "ranking window, and both aggregations.",
)
def events_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    days = (
        events.select(
            "user_id",
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    islands = days.withColumn(
        "grp",
        F.date_sub(
            F.col("day"), F.row_number().over(w)
        ),
    )
    streaks = islands.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("len"),
        F.min("day").alias("streak_start"),
    )
    return (
        streaks.groupBy("user_id")
        .agg(
            F.max("len").cast("bigint").alias("longest_streak"),
            F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
            F.min("streak_start").alias("first_active_day"),
        )
        .filter(F.col("longest_streak") >= 7)
        .orderBy("user_id")
    )


LTV_HORIZON_MONTHS = 6  # cohort-age horizon for the LTV curve


@register(
    "events_cohort_ltv",
    oracle=f"""
WITH firsts AS (
  SELECT o_custkey,
    CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS cohort_month
  FROM orders GROUP BY o_custkey
),
cohort_sizes AS (
  SELECT cohort_month, CAST(COUNT(*) AS BIGINT) AS n_customers
  FROM firsts GROUP BY cohort_month
),
spend AS (
  SELECT f.cohort_month,
    CAST((EXTRACT(year FROM o.o_orderdate)
          - EXTRACT(year FROM f.cohort_month)) * 12
         + (EXTRACT(month FROM o.o_orderdate)
            - EXTRACT(month FROM f.cohort_month)) AS BIGINT) AS age_m,
    CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
  FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
),
by_age AS (
  SELECT cohort_month, age_m, CAST(SUM(cents) AS BIGINT) AS cents
  FROM spend WHERE age_m < {LTV_HORIZON_MONTHS}
  GROUP BY cohort_month, age_m
),
cum AS (
  SELECT cohort_month, age_m,
    SUM(cents) OVER (PARTITION BY cohort_month ORDER BY age_m
                     ROWS UNBOUNDED PRECEDING) AS cum_cents
  FROM by_age
)
SELECT c.cohort_month, CAST(c.age_m AS INT) AS age_m,
  s.n_customers,
  CAST(c.cum_cents AS BIGINT) AS cum_cents,
  CAST(c.cum_cents // s.n_customers AS BIGINT) AS ltv_cents_per_cust
FROM cum c JOIN cohort_sizes s USING (cohort_month)
WHERE c.cohort_month < DATE '1996-01-01'
ORDER BY c.cohort_month, age_m
""",
    doc="Cohort LTV curves: customers cohorted by first-order month; "
    "cumulative revenue per cohort through each month of cohort age "
    f"(horizon {LTV_HORIZON_MONTHS} months), divided by cohort size — "
    "the lifetime-value table behind every growth model. All money is "
    "exact BIGINT cents; per-customer LTV uses integer floor-division "
    "(the r4 retention bug class, avoided by construction). The "
    "earliest cohort year keeps the output bounded. Spark shape: "
    "first-order rollup, broadcast back onto orders, partial-agg to "
    "O(cohorts x horizon) rows, one running-sum window — the orders "
    "table is scanned twice but shuffled only as aggregates. NOTE: "
    "the broadcast of `firsts` is per-CUSTOMER — the same O(users) "
    "broadcast the r4 verdict flagged; here it is deliberately LEFT "
    "TO AQE (no hint) so stats decide, and both sides are "
    "custkey-keyed for the shuffled fallback.",
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    firsts = orders.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate"))
        .cast("date")
        .alias("cohort_month")
    )
    cohort_sizes = firsts.groupBy("cohort_month").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers")
    )
    spend = orders.join(firsts, "o_custkey").select(
        "cohort_month",
        (
            (F.year("o_orderdate") - F.year("cohort_month")) * 12
            + (F.month("o_orderdate") - F.month("cohort_month"))
        )
        .cast("bigint")
        .alias("age_m"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    by_age = (
        spend.filter(F.col("age_m") < LTV_HORIZON_MONTHS)
        .groupBy("cohort_month", "age_m")
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )
    w = (
        Window.partitionBy("cohort_month")
        .orderBy("age_m")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = by_age.withColumn("cum_cents", F.sum("cents").over(w))
    return (
        cum.join(F.broadcast(cohort_sizes), "cohort_month")
        .filter(F.col("cohort_month") < F.lit("1996-01-01").cast("date"))
        .select(
            "cohort_month",
            F.col("age_m").cast("int").alias("age_m"),
            "n_customers",
            F.col("cum_cents").cast("bigint").alias("cum_cents"),
            F.floor(F.col("cum_cents") / F.col("n_customers"))
            .cast("bigint")
            .alias("ltv_cents_per_cust"),
        )
        .orderBy("cohort_month", "age_m")
    )


@register(
    "ml_eval_next_event_baseline",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS next_type
  FROM events
),
transitions AS (
  SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
),
best AS (
  SELECT event_type, next_type AS predicted, n AS n_hits FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                 ORDER BY n DESC, next_type) AS rn
    FROM transitions
  ) WHERE rn = 1
),
totals AS (
  SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_total
  FROM transitions GROUP BY event_type
)
SELECT b.event_type, b.predicted, t.n_total, b.n_hits,
  ROUND(b.n_hits * 1.0 / t.n_total, 6) AS accuracy
FROM best b JOIN totals t USING (event_type)
ORDER BY b.event_type
""",
    doc="Next-event baseline model + evaluation (ML-eval family): the "
    "majority-class sequence predictor — for each current event type, "
    "predict the most frequent next type (count DESC + lexicographic "
    "tiebreak) — and its exact hit rate over every observed "
    "transition. This is THE baseline any sequence model must beat, "
    "and computing it honestly (train and eval on the same "
    "transition counts: the baseline's accuracy equals its class "
    "share by construction) costs one LEAD window + O(types^2) "
    "aggregate. One Exchange(user_id) for the sequence window; "
    "everything after is bytes.",
)
def ml_eval_next_event_baseline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    transitions = seq.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    w_best = Window.partitionBy("event_type").orderBy(
        F.col("n").desc(), "next_type"
    )
    best = (
        transitions.withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("next_type").alias("predicted"),
            F.col("n").alias("n_hits"),
        )
    )
    totals = transitions.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("n_total")
    )
    return (
        best.join(totals, "event_type")
        .select(
            "event_type",
            "predicted",
            "n_total",
            "n_hits",
            F.round(F.col("n_hits") / F.col("n_total"), 6).alias(
                "accuracy"
            ),
        )
        .orderBy("event_type")
    )


@register(
    "ts_forecast_snaive_eval",
    oracle="""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hr,
    EXTRACT(dow FROM ts) AS dow, EXTRACT(hour FROM ts) AS hod,
    CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2, 3
),
fc AS (
  SELECT hr, cnt,
    LAG(cnt) OVER (PARTITION BY dow, hod ORDER BY hr) AS forecast
  FROM hourly
)
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_forecasts,
  CAST(SUM(ABS(cnt - forecast)) AS BIGINT) AS abs_err_total,
  ROUND(SUM(ABS(cnt - forecast)) * 1.0 / COUNT(*), 6) AS mae,
  ROUND(SUM(ABS(cnt - forecast)) * 100.0 / SUM(cnt), 6) AS wape_pct
FROM fc WHERE forecast IS NOT NULL
""",
    doc="Seasonal-naive forecast evaluation: forecast each hour's event "
    "count as the SAME weekday-hour one week earlier (LAG partitioned "
    "by (dow, hour) — the standard snaive baseline every forecasting "
    "model must beat), scored by MAE and WAPE over all forecastable "
    "hours. Error sums are exact BIGINTs; the two ratios divide once. "
    "The same two-window shape as the seasonal-profile query (one "
    "hourly rollup, one tiny partitioned window), O(1) output — at "
    "100 TB the rollup is the only row-bearing stage.",
)
def ts_forecast_snaive_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hr"),
        (F.dayofweek("ts") - 1).alias("dow"),
        F.hour("ts").alias("hod"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    w = Window.partitionBy("dow", "hod").orderBy("hr")
    fc = hourly.withColumn("forecast", F.lag("cnt").over(w)).filter(
        F.col("forecast").isNotNull()
    )
    err = F.abs(F.col("cnt") - F.col("forecast"))
    return fc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_forecasts"),
        F.sum(err).cast("bigint").alias("abs_err_total"),
        F.round(F.sum(err) / F.count(F.lit(1)), 6).alias("mae"),
        F.round(F.sum(err) * 100.0 / F.sum("cnt"), 6).alias("wape_pct"),
    )


PATH_TOPK = 10
PATH_MAX_LEN = 5  # truncate long sessions to their first 5 steps


@register(
    "events_top_session_paths",
    oracle=f"""
WITH marked AS (
  SELECT user_id, ts, event_id, event_type,
    CASE WHEN LAG(ts) OVER w IS NULL
              OR ts - LAG(ts) OVER w >= INTERVAL 5 MINUTE
         THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts, event_id, event_type,
    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
),
numbered AS (
  SELECT user_id, sid, event_type,
    ROW_NUMBER() OVER (PARTITION BY user_id, sid
                       ORDER BY ts, event_id) AS step
  FROM sess
),
paths AS (
  SELECT user_id, sid,
    string_agg(event_type, '>' ORDER BY step) AS path
  FROM numbered WHERE step <= {PATH_MAX_LEN}
  GROUP BY user_id, sid
),
counted AS (
  SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
  FROM paths GROUP BY path
),
ranked AS (
  SELECT path, n_sessions,
    ROW_NUMBER() OVER (ORDER BY n_sessions DESC, path) AS rnk
  FROM counted
)
SELECT CAST(rnk AS INT) AS rnk, path, n_sessions
FROM ranked WHERE rnk <= {PATH_TOPK}
ORDER BY rnk
""",
    doc=f"Top-{PATH_TOPK} session paths (funnel discovery): sessionize "
    "(5-minute gap), render each session's first "
    f"{PATH_MAX_LEN} steps as an ordered type path, and rank paths "
    "by session count with (count DESC, path) determinism — the "
    "exploratory mirror of the fixed-funnel query: instead of "
    "checking a hypothesized funnel, surface the funnels users "
    f"actually walk. Truncation at {PATH_MAX_LEN} steps bounds path "
    "cardinality (untruncated paths explode combinatorially at "
    "100 TB). All three windows share the one (user_id, ts, "
    "event_id) sort; the path rollup shuffles O(distinct paths).",
)
def events_top_session_paths(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 5 * 60 * 1_000_000
    marked = events.select(
        "user_id", "ts", "event_id", "event_type",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                >= gap_us
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    sess = marked.withColumn(
        "sid",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    w_step = Window.partitionBy("user_id", "sid").orderBy(
        "ts", "event_id"
    )
    numbered = sess.withColumn(
        "step", F.row_number().over(w_step)
    ).filter(F.col("step") <= PATH_MAX_LEN)
    paths = numbered.groupBy("user_id", "sid").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("step", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    counted = paths.groupBy("path").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions")
    )
    # TakeOrdered top-k over the path aggregate (path-vocabulary-sized
    # at 100 TB) — see ranks.global_topk for why the rank-filter idiom
    # would single-task-sort it.
    from .ranks import global_topk

    return (
        global_topk(
            counted, [F.col("n_sessions").desc(), F.col("path")],
            PATH_TOPK, out="rnk",
        )
        .select("rnk", "path", "n_sessions")
        .orderBy("rnk")
    )


@register(
    "events_metric_contribution",
    oracle="""
WITH agg AS (
  SELECT event_type,
    CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
         AS BIGINT) AS value_a_cents,
    CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
         AS BIGINT) AS value_b_cents
  FROM events GROUP BY event_type
),
tot AS (
  SELECT SUM(value_b_cents - value_a_cents) AS total_delta,
         SUM(ABS(value_b_cents - value_a_cents)) AS total_abs_delta
  FROM agg
)
SELECT event_type, value_a_cents, value_b_cents,
  CAST(value_b_cents - value_a_cents AS BIGINT) AS delta_cents,
  ROUND((value_b_cents - value_a_cents) * 1.0 /
    CASE WHEN total_delta <> 0 THEN total_delta
         ELSE NULLIF(total_abs_delta, 0) END, 6)
    AS share_of_total_delta,
  CAST(ROW_NUMBER() OVER (
    ORDER BY ABS(value_b_cents - value_a_cents) DESC, event_type
  ) AS INT) AS contribution_rank
FROM agg, tot
ORDER BY contribution_rank
""",
    doc="Metric contribution analysis (the 'why did the metric move' "
    "drill-down every analytics stack ships): split the window into "
    "period A (Jan 1-15) and period B (Jan 16+), compute the "
    "cents-exact value delta per event_type, each segment's share of "
    "the total movement, and a deterministic |delta| rank. One scan "
    "with conditional partial aggregates (shuffle is O(segments)); "
    "the share division is the only float and both engines round it "
    "at 6 decimals. Zero-guard contract (ADVICE r6): if period deltas "
    "exactly cancel (net total_delta = 0) the share denominator falls "
    "back to SUM(|delta|) — shares then measure contribution to gross "
    "movement; only when every delta is zero (no movement at all) is "
    "share NULL. At 100 TB the same plan drills any dimension — "
    "the segment column is the only thing that changes.",
)
def events_metric_contribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window as W

    events = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    cents = F.round(F.col("value") * 100).cast("bigint")
    agg = events.groupBy("event_type").agg(
        F.sum(F.when(F.col("ts") < cut, cents).otherwise(0)).alias(
            "value_a_cents"
        ),
        F.sum(F.when(F.col("ts") >= cut, cents).otherwise(0)).alias(
            "value_b_cents"
        ),
    )
    delta = F.col("value_b_cents") - F.col("value_a_cents")
    total = agg.agg(
        F.sum(delta).alias("total_delta"),
        F.sum(F.abs(delta)).alias("total_abs_delta"),
    )
    # Zero-guard (ADVICE r6): when period deltas exactly cancel, fall
    # back to gross-movement normalization; NULL only if nothing moved.
    denom = F.when(
        F.col("total_delta") != 0, F.col("total_delta")
    ).otherwise(F.nullif(F.col("total_abs_delta"), F.lit(0)))
    return (
        agg.crossJoin(F.broadcast(total))
        .select(
            "event_type",
            "value_a_cents",
            "value_b_cents",
            delta.alias("delta_cents"),
            F.round(delta * 1.0 / denom, 6).alias(
                "share_of_total_delta"
            ),
        )
        .withColumn(
            "contribution_rank",
            F.row_number()
            .over(
                W.orderBy(
                    F.abs(F.col("delta_cents")).desc(), F.col("event_type")
                )
            )
            .cast("int"),
        )
        .orderBy("contribution_rank")
    )


@register(
    "events_ab_test_analysis",
    oracle="""
WITH assigned AS (
  SELECT CASE WHEN ('0x' || substring(
                      md5(CAST(user_id AS VARCHAR)), 1, 4))::INT % 2 = 0
              THEN 'control' ELSE 'treatment' END AS arm,
         user_id, value,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
  FROM events
),
per_user AS (
  SELECT arm, user_id,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS user_value_cents,
         MAX(conv) AS converted
  FROM assigned GROUP BY arm, user_id
)
SELECT arm,
  CAST(COUNT(*) AS BIGINT) AS n_users,
  CAST(SUM(user_value_cents) AS BIGINT) AS total_value_cents,
  CAST(SUM(converted) AS BIGINT) AS n_converted,
  ROUND(SUM(converted) * 1.0 / COUNT(*), 6) AS conversion_rate,
  ROUND(AVG(user_value_cents), 6) AS avg_user_value_cents,
  ROUND(STDDEV_SAMP(user_value_cents), 6) AS sd_user_value_cents
FROM per_user GROUP BY arm ORDER BY arm
""",
    doc="A/B experiment analysis (the readout every growth team runs): "
    "users assigned to control/treatment by an md5 hash of user_id — "
    "the engine-portable deterministic split the sampling module "
    "establishes, so assignment is reproducible across reruns, "
    "engines, and cluster sizes (never rand()). Per-arm: user counts, "
    "cents-exact value totals, purchase-conversion rate, and the "
    "per-user value mean/stddev that feed a t-statistic. Two shuffles "
    "(user grouping, then O(2)-row arm aggregate); assignment itself "
    "is a pure projection. Rates/moments rounded at 6 decimals on "
    "both engines.",
)
def events_ab_test_analysis(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    bucket = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")
                                 .cast("binary")), 1, 4), 16, 10)
        .cast("long") % 2
    )
    assigned = events.select(
        F.when(bucket == 0, "control").otherwise("treatment").alias("arm"),
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "conv"
        ),
    )
    per_user = assigned.groupBy("arm", "user_id").agg(
        F.sum("cents").alias("user_value_cents"),
        F.max("conv").alias("converted"),
    )
    return (
        per_user.groupBy("arm")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("user_value_cents").alias("total_value_cents"),
            F.sum("converted").alias("n_converted"),
            F.round(F.sum("converted") * 1.0 / F.count(F.lit(1)), 6).alias(
                "conversion_rate"
            ),
            F.round(F.avg("user_value_cents"), 6).alias(
                "avg_user_value_cents"
            ),
            F.round(F.stddev_samp("user_value_cents"), 6).alias(
                "sd_user_value_cents"
            ),
        )
        .orderBy("arm")
    )


ROLL_CORR_WINDOW = 7  # trailing days


@register(
    "ts_rolling_corr_daily",
    oracle=f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
    CAST(SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS x,
    CAST(SUM(CASE WHEN event_type = 'click'
                  THEN CAST(round(value * 100) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS y
  FROM events GROUP BY 1
),
win AS (
  SELECT a.d, COUNT(*) AS n,
    SUM(b.x) AS sx, SUM(b.y) AS sy, SUM(b.x * b.y) AS sxy,
    SUM(b.x * b.x) AS sxx, SUM(b.y * b.y) AS syy
  FROM daily a JOIN daily b
    ON b.d BETWEEN a.d - {ROLL_CORR_WINDOW - 1} AND a.d
  GROUP BY a.d
)
SELECT d,
  CAST(n AS BIGINT) AS n_days,
  ROUND((n * sxy - sx * sy) /
        (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)), 6)
    AS roll_corr
FROM win WHERE n >= {ROLL_CORR_WINDOW}
ORDER BY d
""",
    doc=f"Rolling {ROLL_CORR_WINDOW}-day Pearson correlation between two "
    "series (daily purchase vs click value) — the co-movement monitor "
    "behind every metric-health dashboard. Exactness discipline: all "
    "five sufficient statistics (sum x, y, xy, x^2, y^2) accumulate "
    "as BIGINTs over cents, so both engines feed IDENTICAL integers "
    "into the one closing float expression (rounded at 6). Spark "
    "plan: daily pivot aggregate (O(days) rows) then ONE range-frame "
    "window over the day series — no self-join; the oracle's O(W) "
    "self-join is the SQL formulation only.",
)
def ts_rolling_corr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = events.groupBy(
        F.col("ts").cast("date").alias("d")
    ).agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", cents).otherwise(0)
        ).alias("x"),
        F.sum(
            F.when(F.col("event_type") == "click", cents).otherwise(0)
        ).alias("y"),
    )
    w = (
        Window.orderBy(F.col("d").cast("timestamp").cast("long"))
        .rangeBetween(-(ROLL_CORR_WINDOW - 1) * 86400, 0)
    )
    n = F.count(F.lit(1)).over(w)
    sx, sy = F.sum("x").over(w), F.sum("y").over(w)
    sxy = F.sum(F.col("x") * F.col("y")).over(w)
    sxx = F.sum(F.col("x") * F.col("x")).over(w)
    syy = F.sum(F.col("y") * F.col("y")).over(w)
    return (
        daily.select(
            "d",
            n.alias("n_days"),
            F.round(
                (n * sxy - sx * sy)
                / (
                    F.sqrt(n * sxx - sx * sx)
                    * F.sqrt(n * syy - sy * sy)
                ),
                6,
            ).alias("roll_corr"),
        )
        .filter(F.col("n_days") >= ROLL_CORR_WINDOW)
        .orderBy("d")
    )


ALERT_RAISE_RUN = 3  # consecutive breach hours to RAISE
ALERT_CLEAR_RUN = 2  # consecutive normal hours to CLEAR
ALERT_NUM, ALERT_DEN = 1, 4  # breach: error rate > 1/4 (integer compare)


@register(
    "events_alert_hysteresis",
    oracle=f"""
WITH hourly AS (
  SELECT CAST(FLOOR(epoch_us(ts) / 3600000000.0) AS BIGINT) AS hr,
    CAST(COUNT(*) AS BIGINT) AS n_events,
    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
         AS BIGINT) AS n_errors
  FROM events GROUP BY 1
),
flagged AS (
  SELECT *, (n_errors * {ALERT_DEN} > n_events * {ALERT_NUM}) AS breach,
    ROW_NUMBER() OVER (ORDER BY hr)
      - ROW_NUMBER() OVER (PARTITION BY
          (n_errors * {ALERT_DEN} > n_events * {ALERT_NUM}) ORDER BY hr)
      AS grp
  FROM hourly
),
runs AS (
  SELECT breach, MIN(hr) AS start_hr, MAX(hr) AS end_hr,
         CAST(COUNT(*) AS BIGINT) AS run_len
  FROM flagged GROUP BY breach, grp
),
eff AS (
  SELECT *, CASE
      WHEN breach AND run_len >= {ALERT_RAISE_RUN} THEN 'R'
      WHEN NOT breach AND run_len >= {ALERT_CLEAR_RUN} THEN 'C'
      ELSE NULL END AS transition
  FROM runs
)
SELECT start_hr, end_hr, breach, run_len, transition,
  COALESCE(LAST_VALUE(transition IGNORE NULLS) OVER (
    ORDER BY start_hr ROWS UNBOUNDED PRECEDING), 'C') = 'R'
    AS alert_active_after
FROM eff ORDER BY start_hr
""",
    doc=f"Alert hysteresis / flap suppression (the SRE state machine "
    f"every alerting stack needs): RAISE only after "
    f"{ALERT_RAISE_RUN} consecutive breach hours (error rate > "
    f"{ALERT_NUM}/{ALERT_DEN}, integer cross-product compare), CLEAR "
    f"only after {ALERT_CLEAR_RUN} consecutive normal hours — short "
    "flaps in either direction change nothing. The sequential state "
    "machine is re-expressed DECLARATIVELY: breach/normal runs via "
    "gaps-and-islands, runs long enough to matter become R/C "
    "transition events, and the active flag is simply the LAST "
    "non-null transition seen (last_value IGNORE NULLS) — no "
    "recursion, no driver loop, one Window chain over O(hours) rows "
    "after the first aggregate.",
)
def events_alert_hysteresis(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        F.floor(F.unix_micros("ts") / 3600000000.0)
        .cast("bigint")
        .alias("hr")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        ).alias("n_errors"),
    )
    breach = (
        F.col("n_errors") * ALERT_DEN > F.col("n_events") * ALERT_NUM
    )
    flagged = hourly.withColumn("breach", breach).withColumn(
        "grp",
        F.row_number().over(Window.orderBy("hr"))
        - F.row_number().over(
            Window.partitionBy("breach").orderBy("hr")
        ),
    )
    runs = flagged.groupBy("breach", "grp").agg(
        F.min("hr").alias("start_hr"),
        F.max("hr").alias("end_hr"),
        F.count(F.lit(1)).alias("run_len"),
    )
    eff = runs.withColumn(
        "transition",
        F.when(
            F.col("breach") & (F.col("run_len") >= ALERT_RAISE_RUN), "R"
        ).when(
            (~F.col("breach")) & (F.col("run_len") >= ALERT_CLEAR_RUN),
            "C",
        ),
    )
    w = Window.orderBy("start_hr").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        eff.withColumn(
            "alert_active_after",
            F.coalesce(
                F.last("transition", ignorenulls=True).over(w), F.lit("C")
            )
            == "R",
        )
        .select(
            "start_hr", "end_hr", "breach", "run_len", "transition",
            "alert_active_after",
        )
        .orderBy("start_hr")
    )


ATTR_WINDOW_US = 7 * 86400 * 1_000_000  # touches within 7 days credit
ATTR_HALF_WEIGHT_STEP = 1  # each step back in recency halves the credit


@register(
    "events_multitouch_attribution",
    oracle=f"""
WITH purchases AS (
  SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS pts,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
touches AS (
  SELECT user_id, event_id AS touch_id, event_type, epoch_us(ts) AS tts
  FROM events WHERE event_type IN ('view', 'click')
),
credited AS (
  SELECT p.purchase_id, p.cents, t.event_type,
    ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                       ORDER BY t.tts DESC, t.touch_id) AS recency_rank
  FROM purchases p JOIN touches t
    ON t.user_id = p.user_id
   AND t.tts < p.pts AND t.tts >= p.pts - {ATTR_WINDOW_US}
),
-- exponential time-decay credit: weight 2^-(rank-1), normalized by the
-- purchase's total weight 2 - 2^-(n-1); kept EXACT by scaling every
-- weight by 2^(n-1): w_scaled = 2^(n-rank), total_scaled = 2^n - 1.
scaled AS (
  SELECT purchase_id, cents, event_type,
    CAST(POWER(2, MAX(recency_rank) OVER (PARTITION BY purchase_id)
               - recency_rank) AS BIGINT) AS w_scaled,
    CAST(POWER(2, MAX(recency_rank) OVER (PARTITION BY purchase_id))
         AS BIGINT) - 1 AS total_scaled
  FROM credited WHERE recency_rank <= 20
)
SELECT event_type,
  CAST(COUNT(*) AS BIGINT) AS n_credited_touches,
  ROUND(SUM(cents * w_scaled * 1.0 / total_scaled) / 100.0, 6)
    AS attributed_revenue
FROM scaled GROUP BY event_type ORDER BY event_type
""",
    doc="Multi-touch attribution with exponential time decay (the "
    "marketing-analytics credit assignment): every purchase splits its "
    "revenue over the view/click touches of the SAME user in the prior "
    "7 days, most-recent touch getting weight 1/2, next 1/4, ... — "
    "kept EXACT by scaling to integer weights 2^(n-rank) over total "
    "2^n - 1 (capped at 20 touches so the BIGINT powers never "
    "overflow), one float division per touch at the very end. Plan: "
    "both sides partition on user_id (one Exchange each), the range "
    "join is time-bounded so per-purchase candidates are bounded by "
    "the window, and the final rollup is O(event types).",
)
def events_multitouch_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.unix_micros("ts").alias("pts"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    touches = events.filter(
        F.col("event_type").isin("view", "click")
    ).select(
        "user_id",
        F.col("event_id").alias("touch_id"),
        "event_type",
        F.unix_micros("ts").alias("tts"),
    )
    # LINEAR plan — no (purchase x touch) pairing at all. The r13-era
    # shape was purchases.join(touches, "user_id") THEN the band
    # filter: per-user-quadratic candidate generation (r14 25x
    # hub-skew sweep: one 109k-event Zipf-head user made it a
    # 218-525 s grind; time-band bucketing barely helps because the
    # fixture's whole span is ~4 windows). The semantics only ever
    # need each purchase's TOP-20 most-recent touches, so:
    #   1. every touch carries the <=20-struct history of the most
    #      recent touches ending at itself — a BOUNDED rows[-19, 0]
    #      sliding collect_list (O(20) per row, frame-size-bounded,
    #      never partition-sized);
    #   2. each purchase picks up the history of the latest touch
    #      STRICTLY before it via the union + running-last as-of
    #      (purchases sort before same-ts touches, so tts < pts);
    #   3. reverse the array (most-recent first; array order
    #      (tts ASC, touch_id DESC) reversed = the oracle's
    #      (tts DESC, touch_id ASC) rank order) and keep the in-window
    #      PREFIX — window survivors are always a prefix of the
    #      recency order, so position+1 IS recency_rank and
    #      size(kept) is the purchase's max rank: the per-purchase
    #      rank/max windows disappear entirely.
    # O(events x 20) work, hub-user-proof: 25x hub corpus 525 s -> ~2 s.
    w20 = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("tts"), F.desc("touch_id"))
        .rowsBetween(-19, 0)
    )
    hist_t = (
        "array<struct<tts:bigint,touch_id:bigint,event_type:string>>"
    )
    touch_hist = touches.withColumn(
        "hist",
        F.collect_list(F.struct("tts", "touch_id", "event_type")).over(
            w20
        ),
    )
    tagged = touch_hist.select(
        "user_id",
        F.col("tts").alias("ts_us"),
        F.lit(1).alias("is_touch"),
        F.col("touch_id").alias("tid"),
        F.lit(None).cast("long").alias("pts"),
        F.lit(None).cast("long").alias("cents"),
        "hist",
    ).unionByName(
        purchases.select(
            "user_id",
            F.col("pts").alias("ts_us"),
            F.lit(0).alias("is_touch"),
            F.lit(None).cast("long").alias("tid"),
            "pts",
            "cents",
            F.lit(None).cast(hist_t).alias("hist"),
        )
    )
    # Running last = backward as-of; at equal ts the purchase (0) sorts
    # before touches (1) so only strictly-earlier touches are visible.
    # tid DESC matches w20's frame order, so the running last lands on
    # the touch row whose history contains every same-ts sibling.
    w_asof = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts_us"), F.asc("is_touch"), F.desc("tid"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    kept = (
        tagged.withColumn(
            "h", F.last("hist", ignorenulls=True).over(w_asof)
        )
        .filter((F.col("is_touch") == 0) & F.col("h").isNotNull())
        .select(
            "cents",
            F.filter(
                F.reverse("h"),
                lambda s: s["tts"] >= F.col("pts") - ATTR_WINDOW_US,
            ).alias("recent"),
        )
        .filter(F.size("recent") > 0)
    )
    scaled = kept.select(
        "cents",
        F.size("recent").alias("n_r"),
        F.posexplode("recent").alias("pos", "s"),
    ).select(
        F.col("s.event_type").alias("event_type"),
        "cents",
        # recency_rank = pos + 1; w_scaled = 2^(n - rank)
        F.pow(F.lit(2.0), F.col("n_r") - 1 - F.col("pos"))
        .cast("bigint")
        .alias("w_scaled"),
        (F.pow(F.lit(2.0), F.col("n_r")).cast("bigint") - 1).alias(
            "total_scaled"
        ),
    )
    return (
        scaled.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_credited_touches"),
            F.round(
                F.sum(
                    F.col("cents")
                    * F.col("w_scaled")
                    * 1.0
                    / F.col("total_scaled")
                )
                / 100.0,
                6,
            ).alias("attributed_revenue"),
        )
        .orderBy("event_type")
    )


@register(
    "events_survival_repeat_purchase",
    oracle="""
WITH p AS (
  SELECT user_id, epoch_us(ts) AS pts,
    ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS k
  FROM events WHERE event_type = 'purchase'
),
horizon AS (SELECT MAX(epoch_us(ts)) AS h FROM events),
subjects AS (
  SELECT a.user_id,
    CASE WHEN b.pts IS NOT NULL
         THEN (b.pts - a.pts) // 86400000000
         ELSE ((SELECT h FROM horizon) - a.pts) // 86400000000
    END AS t_days,
    (b.pts IS NOT NULL) AS observed
  FROM (SELECT * FROM p WHERE k = 1) a
  LEFT JOIN (SELECT * FROM p WHERE k = 2) b USING (user_id)
),
risk AS (
  SELECT t_days AS t,
    CAST(SUM(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT) AS d
  FROM subjects GROUP BY t_days
),
curve AS (
  SELECT r.t, r.d,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM subjects s
     WHERE s.t_days >= r.t) AS n_at_risk
  FROM risk r WHERE r.d > 0
)
SELECT CAST(t AS BIGINT) AS t_days, d AS n_events, n_at_risk,
  -- the last event time can absorb the whole risk set (d = n): the
  -- curve hits EXACT zero there and ln() is undefined — carry a
  -- hit-zero flag instead of taking log of 0
  CASE WHEN MAX(CASE WHEN d = n_at_risk THEN 1 ELSE 0 END)
            OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) = 1 THEN 0.0
       ELSE ROUND(EXP(SUM(LN(CASE WHEN d = n_at_risk THEN 1.0
                              ELSE 1.0 - d * 1.0 / n_at_risk END))
                      OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)), 6)
  END AS survival
FROM curve ORDER BY t_days
""",
    doc="Kaplan-Meier survival estimator over time-to-repeat-purchase "
    "(the churn/retention statistic): each user's subject time is the "
    "gap from first to second purchase, right-CENSORED at the data "
    "horizon when no second purchase exists — the estimator's whole "
    "point is that censored users still count in the at-risk "
    "denominator until their censor time. S(t) = prod(1 - d_i/n_i) "
    "over event days, computed as exp of a running sum of logs (one "
    "cumulative window over O(distinct event days) rows; the product "
    "re-expressed as a prefix sum is what makes it declarative). "
    "Heavy lifting is one per-user aggregate; the curve itself is "
    "days-sized. Per-row d and n_at_risk are exact BIGINTs the oracle "
    "value-checks; survival is float, rounded at 6.",
)
def events_survival_repeat_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    p = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_micros("ts").alias("pts"),
        F.row_number()
        .over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        )
        .alias("k"),
    )
    first = p.filter(F.col("k") == 1).select("user_id", "pts")
    second = p.filter(F.col("k") == 2).select(
        "user_id", F.col("pts").alias("pts2")
    )
    horizon = events.agg(F.max(F.unix_micros("ts")).alias("h"))
    subjects = (
        first.join(second, "user_id", "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            F.when(
                F.col("pts2").isNotNull(),
                (F.col("pts2") - F.col("pts")),
            )
            .otherwise(F.col("h") - F.col("pts"))
            .cast("bigint")
            .alias("gap_us"),
            F.col("pts2").isNotNull().alias("observed"),
        )
        .select(
            (F.col("gap_us") / 86400000000).cast("bigint").alias("t_days"),
            "observed",
        )
    )
    risk = subjects.groupBy(F.col("t_days").alias("t")).agg(
        F.sum(F.when(F.col("observed"), 1).otherwise(0)).alias("d"),
        F.count(F.lit(1)).alias("ending_here"),
    )
    # at-risk = subjects with t_days >= t: suffix sum over the day axis
    w_suffix = Window.orderBy(F.desc("t")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    curve = (
        risk.withColumn("n_at_risk", F.sum("ending_here").over(w_suffix))
        .filter(F.col("d") > 0)
    )
    w_prefix = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    hit_zero = (
        F.max(
            F.when(F.col("d") == F.col("n_at_risk"), 1).otherwise(0)
        ).over(w_prefix)
        == 1
    )
    return curve.select(
        F.col("t").alias("t_days"),
        F.col("d").alias("n_events"),
        "n_at_risk",
        F.when(hit_zero, F.lit(0.0))
        .otherwise(
            F.round(
                F.exp(
                    F.sum(
                        F.log(
                            F.when(
                                F.col("d") == F.col("n_at_risk"),
                                F.lit(1.0),
                            ).otherwise(
                                1.0
                                - F.col("d") * 1.0 / F.col("n_at_risk")
                            )
                        )
                    ).over(w_prefix)
                ),
                6,
            )
        )
        .alias("survival"),
    ).orderBy("t_days")


HOLT_W = 8  # finite EWMA frame for each smoothing stage
HOLT_NUM, HOLT_DEN = 3, 4  # decay (1-alpha) = 3/4 -> alpha/(1-alpha) = 1/3
_HOLT_WEIGHTS = [
    HOLT_NUM**i * HOLT_DEN ** (HOLT_W - 1 - i) for i in range(HOLT_W)
]
_HOLT_D = sum(_HOLT_WEIGHTS)


@register(
    "ts_forecast_brown_double",
    oracle=f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
    ROW_NUMBER() OVER (ORDER BY CAST(ts AS DATE)) AS rn
  FROM events GROUP BY 1
),
s1 AS (
  SELECT a.d, a.rn,
    SUM(b.cents
        * CAST(POWER({HOLT_NUM}, a.rn - b.rn) AS BIGINT)
        * CAST(POWER({HOLT_DEN},
                     {HOLT_W - 1} - (a.rn - b.rn)) AS BIGINT))
      AS s1_num
  FROM daily a JOIN daily b
    ON b.rn BETWEEN a.rn - {HOLT_W - 1} AND a.rn
  GROUP BY a.d, a.rn HAVING COUNT(*) = {HOLT_W}
),
s2 AS (
  SELECT a.d, a.rn,
    MAX(x.s1_num) AS s1_num,
    SUM(b.s1_num
        * CAST(POWER({HOLT_NUM}, a.rn - b.rn) AS BIGINT)
        * CAST(POWER({HOLT_DEN},
                     {HOLT_W - 1} - (a.rn - b.rn)) AS BIGINT))
      AS s2_num
  FROM s1 a JOIN s1 b
    ON b.rn BETWEEN a.rn - {HOLT_W - 1} AND a.rn
  JOIN s1 x ON x.rn = a.rn
  GROUP BY a.d, a.rn HAVING COUNT(DISTINCT b.rn) = {HOLT_W}
)
SELECT d,
  ROUND(s1_num / ({_HOLT_D} * 100.0), 6) AS s1_dollars,
  ROUND(s2_num / ({_HOLT_D}::DOUBLE * {_HOLT_D} * 100.0), 6)
    AS s2_dollars,
  -- Brown: level = 2*S1 - S2; trend = (alpha/(1-alpha)) * (S1 - S2)
  ROUND((2 * s1_num * {_HOLT_D} - s2_num)
        / ({_HOLT_D}::DOUBLE * {_HOLT_D} * 100.0), 6) AS level_dollars,
  ROUND((s1_num * {_HOLT_D} - s2_num)
        / (3.0 * {_HOLT_D} * {_HOLT_D} * 100.0), 6) AS trend_dollars,
  ROUND(((2 * s1_num * {_HOLT_D} - s2_num) * 3
         + (s1_num * {_HOLT_D} - s2_num))
        / (3.0 * {_HOLT_D} * {_HOLT_D} * 100.0), 6)
    AS forecast_next_dollars
FROM s2 ORDER BY d
""",
    doc=f"Brown's double exponential smoothing (linear-trend "
    "forecaster, the step beyond the snaive baseline): cascade TWO "
    f"finite-window integer EWMAs (decay {HOLT_NUM}/{HOLT_DEN}, "
    f"window {HOLT_W}) over daily revenue — S1 smooths the series, S2 "
    "smooths S1, and level/trend/one-step forecast derive as exact "
    "rationals (2S1-S2, (S1-S2)/3). EVERY intermediate is a BIGINT "
    "numerator over the constant denominator D or D^2 — cents x "
    "3^i*4^(W-1-i) weights — so both engines divide identical "
    "integers once at the end (rounded at 6). Spark plan: one daily "
    "aggregate, then two chained trailing windows (collect_list + "
    "codegen array ops, no UDF, no self-join — the oracle's O(W) "
    "self-joins are the SQL formulation only).",
)
def ts_forecast_brown_double(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.col("ts").cast("date").alias("d")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents")
    )
    w_order = Window.orderBy("d")
    daily = daily.withColumn("rn", F.row_number().over(w_order))

    def ewma_num(col: str, out: str, df: DataFrame) -> DataFrame:
        wtrail = w_order.rowsBetween(-(HOLT_W - 1), 0)
        xs = F.collect_list(col).over(wtrail)
        weights = F.array(
            *[F.lit(int(wt)) for wt in reversed(_HOLT_WEIGHTS)]
        )  # xs is oldest->current; weight for lag L = _HOLT_WEIGHTS[L]
        num = F.aggregate(
            F.zip_with(xs, weights, lambda x, wt: x * wt),
            F.lit(0).cast("bigint"),
            lambda s, x: s + x,
        )
        return df.withColumn("n_in", F.size(xs)).withColumn(out, num)

    s1 = (
        ewma_num("cents", "s1_num", daily)
        .filter(F.col("n_in") == HOLT_W)
        .select("d", "rn", "s1_num")
    )
    s2 = (
        ewma_num("s1_num", "s2_num", s1)
        .filter(F.col("n_in") == HOLT_W)
        .select("d", "s1_num", "s2_num")
    )
    D = _HOLT_D
    lvl_num = 2 * F.col("s1_num") * D - F.col("s2_num")
    trd_num = F.col("s1_num") * D - F.col("s2_num")
    return s2.select(
        "d",
        F.round(F.col("s1_num") / (D * 100.0), 6).alias("s1_dollars"),
        F.round(F.col("s2_num") / (float(D) * D * 100.0), 6).alias(
            "s2_dollars"
        ),
        F.round(lvl_num / (float(D) * D * 100.0), 6).alias(
            "level_dollars"
        ),
        F.round(trd_num / (3.0 * D * D * 100.0), 6).alias(
            "trend_dollars"
        ),
        F.round(
            (lvl_num * 3 + trd_num) / (3.0 * D * D * 100.0), 6
        ).alias("forecast_next_dollars"),
    ).orderBy("d")


# ---------------------------------------------------------------------------
# CUSUM change detection (Page 1954) — one-sided cumulative-sum alarms
# ---------------------------------------------------------------------------

CUSUM_H_MULT = 5  # alarm threshold = 5x mean |deviation| (per series)


@register(
    "ts_changepoint_cusum",
    oracle=f"""
WITH x AS (
  SELECT event_type, ts, event_id,
    CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
m AS (
  SELECT event_type,
    CAST(SUM(cents) * 1000000 // COUNT(*) AS BIGINT) AS mean_micro,
    CAST(SUM(ABS(cents * 1000000 - (SELECT SUM(cents) * 1000000 // COUNT(*)
                                    FROM x x2
                                    WHERE x2.event_type = x.event_type)))
         // COUNT(*) AS BIGINT) AS mad_micro
  FROM x GROUP BY event_type
),
d AS (
  SELECT x.event_type, x.ts, x.event_id,
    x.cents * 1000000 - m.mean_micro AS dev,
    m.mad_micro
  FROM x JOIN m USING (event_type)
),
p0 AS (
  SELECT event_type, ts, event_id, mad_micro,
    SUM(dev) OVER (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS pref
  FROM d
),
p AS (
  SELECT event_type, ts, event_id, mad_micro, pref,
    MIN(pref) OVER (PARTITION BY event_type ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS minpref
  FROM p0
),
s AS (
  SELECT event_type, ts, event_id,
    pref - LEAST(minpref, 0) AS cusum,
    {CUSUM_H_MULT} * mad_micro AS h
  FROM p
)
SELECT event_type,
  CAST(COUNT(*) AS BIGINT) AS n_points,
  CAST(SUM(CASE WHEN cusum > h THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
  CAST(MIN(CASE WHEN cusum > h THEN event_id END) AS BIGINT)
    AS first_alarm_event_id,
  CAST(MAX(cusum) AS BIGINT) AS max_cusum_micro
FROM s GROUP BY event_type ORDER BY event_type
""",
    doc="CUSUM changepoint detection (Page 1954 — the classical "
    "sequential change detector, complementing the z-score/MAD "
    "outlier family which flags POINTS, not LEVEL SHIFTS): one-sided "
    "cumulative sum of per-event cents deviations from the series "
    "mean, alarm when the statistic exceeds 5x the series' mean "
    "absolute deviation. The textbook recursion S_i = max(0, S_{{i-1}} "
    "+ d_i) is NOT a prefix sum, but the identity S_i = P_i - "
    "min(0, min_{{j<=i}} P_j) (P = running sum) turns it into two "
    "stacked window frames — pure JVM window execution, no UDF, no "
    "iteration. All arithmetic in BIGINT micro-cents (integer-div "
    "means), so both engines agree bit-exactly. One shuffle on "
    "event_type; per-series work is linear and frame-local — at "
    "100 TB each series windows independently.",
)
def ts_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    events = load_table(spark, sf_dir, "events")
    x = events.select(
        "event_type",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    m = x.groupBy("event_type").agg(
        F.expr("CAST(SUM(cents) * 1000000 div COUNT(*) AS BIGINT)").alias(
            "mean_micro"
        ),
        F.sum("cents").alias("tot"),
        F.count(F.lit(1)).alias("n"),
    )
    d = (
        x.join(F.broadcast(m), "event_type")
        .withColumn(
            "dev", F.col("cents") * 1000000 - F.col("mean_micro")
        )
    )
    mad = d.groupBy("event_type").agg(
        F.expr("CAST(SUM(ABS(dev)) div COUNT(*) AS BIGINT)").alias(
            "mad_micro"
        )
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    p = (
        d.join(F.broadcast(mad), "event_type")
        .withColumn("pref", F.sum("dev").over(w))
        .withColumn("minpref", F.min("pref").over(w))
    )
    s = p.withColumn(
        "cusum", F.col("pref") - F.least(F.col("minpref"), F.lit(0))
    ).withColumn("h", F.lit(CUSUM_H_MULT) * F.col("mad_micro"))
    alarm = F.col("cusum") > F.col("h")
    return (
        s.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.sum(alarm.cast("int")).cast("bigint").alias("n_alarms"),
            F.min(F.when(alarm, F.col("event_id")))
            .cast("bigint")
            .alias("first_alarm_event_id"),
            F.max("cusum").cast("bigint").alias("max_cusum_micro"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Bot / automation detection: inter-arrival regularity heuristic
# ---------------------------------------------------------------------------

BOT_MIN_EVENTS = 10
BOT_USER_MOD = 20  # audit users with user_id % 20 == 3 (bounded output)


@register(
    "events_bot_detection",
    oracle=f"""
WITH seq AS (
  SELECT user_id, epoch_us(ts) // 1000000 AS t,
    LAG(epoch_us(ts) // 1000000) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS pt
  FROM events WHERE user_id % {BOT_USER_MOD} = 3
),
g AS (
  SELECT user_id, t - pt AS gap FROM seq WHERE pt IS NOT NULL
),
s AS (
  SELECT user_id, COUNT(*) AS n, SUM(gap) AS sg, SUM(gap * gap) AS qg
  FROM g GROUP BY user_id
)
SELECT user_id, CAST(n + 1 AS BIGINT) AS n_events,
  CAST(sg // n AS BIGINT) AS mean_gap_s,
  CAST(CASE WHEN sg != 0 THEN ((n * qg - sg * sg) * 100) // (sg * sg)
       END AS BIGINT) AS cv2_centi,
  (n + 1 >= {BOT_MIN_EVENTS} AND sg != 0
   AND 4 * (n * qg - sg * sg) < sg * sg) AS bot_flag
FROM s ORDER BY user_id
""",
    doc="Bot/automation detection by inter-arrival regularity (the "
    "trust-and-safety screen every event pipeline runs: humans are "
    "bursty, schedulers are metronomic): per audited user, gap count, "
    "mean gap, and the squared coefficient of variation of "
    "second-granularity gaps — all from BIGINT sufficient statistics "
    "(n, sum g, sum g^2), with the bot threshold CV^2 < 0.25 tested "
    "as the integer cross-product 4*(n*Q - S^2) < S^2, so no float "
    "threshold can flip a flag in either engine. One window pass for "
    "gaps + one agg, both on the same Exchange(user_id); the audit "
    "mod bounds output, not work — at 100 TB drop it and the plan is "
    "unchanged.",
)
def events_bot_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        events.filter(F.col("user_id") % BOT_USER_MOD == 3)
        .select(
            "user_id",
            # floor-to-second from microseconds: DuckDB's
            # epoch(ts)::BIGINT ROUNDS half-even on fractional seconds
            # while unix_timestamp truncates — epoch_us // 1e6 floors
            # identically in both engines
            F.expr("unix_micros(ts) div 1000000").alias("t"),
            "ts",
            "event_id",
        )
        .withColumn("pt", F.lag("t").over(w))
    )
    g = seq.filter(F.col("pt").isNotNull()).select(
        "user_id", (F.col("t") - F.col("pt")).alias("gap")
    )
    s = g.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("gap").alias("sg"),
        F.sum(F.col("gap") * F.col("gap")).alias("qg"),
    )
    return (
        s.select(
            "user_id",
            (F.col("n") + 1).cast("bigint").alias("n_events"),
            F.expr("CAST(sg div n AS BIGINT)").alias("mean_gap_s"),
            F.expr(
                "CAST(CASE WHEN sg != 0 THEN "
                "((n * qg - sg * sg) * 100) div (sg * sg) END AS BIGINT)"
            ).alias("cv2_centi"),
            (
                (F.col("n") + 1 >= BOT_MIN_EVENTS)
                & (F.col("sg") != 0)
                & (
                    4 * (F.col("n") * F.col("qg") - F.col("sg") * F.col("sg"))
                    < F.col("sg") * F.col("sg")
                )
            ).alias("bot_flag"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Markov removal-effect attribution (Anderl et al. 2014)
# ---------------------------------------------------------------------------

MARKOV_STEPS = 24  # fixed-point iterations; transient mass decays
# geometrically and BOTH engines run the identical truncated iteration,
# so the step count is part of the definition, not an accuracy knob
MARKOV_MICRO = 1000000


def _markov_oracle() -> str:
    """DuckDB oracle: the SAME integer fixed-point chain iteration,
    unrolled MARKOV_STEPS times as chained MATERIALIZED CTEs (standard
    SQL forbids aggregation inside a recursive CTE, and without the
    MATERIALIZED hint DuckDB inlines each step into the next — the plan
    grows multiplicatively and the optimizer never returns). All
    arithmetic is BIGINT:
    probabilities are micro-units, each step is an integer
    sum-of-products followed by one div — order-free and engine-exact."""
    m = MARKOV_MICRO
    steps = []
    prev = "w0"
    for k in range(1, MARKOV_STEPS + 1):
        steps.append(
            f"""w{k} AS MATERIALIZED (
  SELECT {prev}.removed, e.dst AS state,
    CAST(SUM({prev}.p * e.t_micro) // {m} AS BIGINT) AS p
  FROM {prev} JOIN edges e
    ON e.removed = {prev}.removed AND e.src = {prev}.state
  GROUP BY 1, 2
)"""
        )
        prev = f"w{k}"
    steps_sql = ",\n".join(steps)
    return f"""
WITH seq AS (
  SELECT user_id, event_type,
    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
fp AS (
  SELECT user_id, MIN(rn) AS prn FROM seq
  WHERE event_type = 'purchase' GROUP BY user_id
),
j AS (
  SELECT s.user_id, s.rn, s.event_type
  FROM seq s LEFT JOIN fp USING (user_id)
  WHERE fp.prn IS NULL OR s.rn <= fp.prn
),
hops AS (
  SELECT user_id, rn,
    COALESCE(LAG(event_type) OVER (PARTITION BY user_id ORDER BY rn),
             'START') AS src,
    CASE WHEN event_type = 'purchase' THEN 'CONV'
         ELSE event_type END AS dst
  FROM j
),
lastrow AS (SELECT user_id, MAX(rn) AS lrn FROM j GROUP BY user_id),
term AS (
  SELECT j.event_type AS src, 'NULL' AS dst
  FROM j JOIN lastrow l ON l.user_id = j.user_id AND j.rn = l.lrn
  LEFT JOIN fp ON fp.user_id = j.user_id
  WHERE fp.prn IS NULL
),
alltrans AS (
  SELECT src, dst FROM hops UNION ALL SELECT src, dst FROM term
),
cnt AS (SELECT src, dst, COUNT(*) AS c FROM alltrans GROUP BY 1, 2),
rowsum AS (SELECT src, SUM(c) AS rs FROM cnt GROUP BY src),
tmicro AS (
  SELECT cnt.src, cnt.dst,
    CAST(cnt.c * {m} // rowsum.rs AS BIGINT) AS t_micro
  FROM cnt JOIN rowsum USING (src)
),
channels AS (
  SELECT DISTINCT event_type AS ch FROM events
  WHERE event_type != 'purchase'
),
scen AS (SELECT 'none' AS removed UNION ALL SELECT ch FROM channels),
redirected AS (
  SELECT sc.removed, t.src,
    CASE WHEN t.dst = sc.removed THEN 'NULL' ELSE t.dst END AS dst,
    t.t_micro
  FROM tmicro t CROSS JOIN scen sc
  WHERE t.src != sc.removed
),
merged AS (
  SELECT removed, src, dst, CAST(SUM(t_micro) AS BIGINT) AS t_micro
  FROM redirected GROUP BY 1, 2, 3
),
absorb AS (
  SELECT removed, s.s AS src, s.s AS dst, CAST({m} AS BIGINT) AS t_micro
  FROM scen, (SELECT unnest(['CONV', 'NULL']) AS s) s
),
edges AS MATERIALIZED (
  SELECT * FROM merged UNION ALL SELECT * FROM absorb),
w0 AS MATERIALIZED (
  SELECT removed, 'START' AS state, CAST({m} AS BIGINT) AS p FROM scen
),
{steps_sql},
conv AS (
  SELECT removed, COALESCE(MAX(CASE WHEN state = 'CONV' THEN p END), 0)
    AS conv_micro
  FROM {prev} GROUP BY removed
),
base AS (SELECT conv_micro AS base_micro FROM conv WHERE removed = 'none'),
eff AS (
  SELECT c.removed AS channel,
    CAST(base.base_micro AS BIGINT) AS conv_base_micro,
    CAST(c.conv_micro AS BIGINT) AS conv_removed_micro,
    CAST(base.base_micro - c.conv_micro AS BIGINT) AS removal_effect_micro
  FROM conv c, base WHERE c.removed != 'none'
),
tot AS (
  SELECT SUM(CASE WHEN removal_effect_micro > 0
             THEN removal_effect_micro ELSE 0 END) AS te
  FROM eff
),
touch AS (
  SELECT dst AS channel, CAST(SUM(c) AS BIGINT) AS n_touch_transitions
  FROM cnt JOIN channels ON channels.ch = cnt.dst GROUP BY dst
)
SELECT eff.channel, touch.n_touch_transitions,
  eff.conv_base_micro, eff.conv_removed_micro, eff.removal_effect_micro,
  CAST(CASE WHEN tot.te > 0 AND eff.removal_effect_micro > 0
       THEN eff.removal_effect_micro * {m} // tot.te ELSE 0 END AS BIGINT)
    AS attribution_share_micro
FROM eff JOIN touch USING (channel), tot
ORDER BY eff.channel
"""


@register(
    "events_attribution_markov",
    oracle=_markov_oracle(),
    doc="Markov-chain removal-effect attribution (Anderl et al. 2014 — "
    "the data-driven alternative to last-touch/time-decay credit): "
    "user journeys (truncated at first purchase) define a first-order "
    "chain over START / touch channels / CONV / NULL; each channel's "
    "credit is the drop in absorption probability into CONV when "
    "transitions into that channel are redirected to NULL. The "
    "absorbing-chain solve is replaced by a "
    f"{MARKOV_STEPS}-step INTEGER fixed-point iteration in micro-units "
    "(each step: BIGINT sum-of-products, one div — order-free), run "
    "identically by the Spark side (driver arithmetic on the collected "
    "O(states^2) transition matrix, the same bounded-artifact class as "
    "PCA's Gram matrix) and by the oracle (the iteration unrolled as "
    "chained CTEs), so even the matrix math is value-exact. Transition "
    "counts stay fully distributed: two window passes + one count "
    "shuffle; only the tiny matrix is collected.",
)
def events_attribution_markov(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window as W

    m = MARKOV_MICRO
    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    )
    fp = (
        seq.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("rn").alias("prn"))
    )
    j = seq.join(fp, "user_id", "left").filter(
        F.col("prn").isNull() | (F.col("rn") <= F.col("prn"))
    )
    wj = W.partitionBy("user_id").orderBy("rn")
    hops = j.select(
        F.coalesce(F.lag("event_type").over(wj), F.lit("START")).alias(
            "src"
        ),
        F.when(F.col("event_type") == "purchase", "CONV")
        .otherwise(F.col("event_type"))
        .alias("dst"),
        "user_id",
        "rn",
        "prn",
    )
    last = j.groupBy("user_id").agg(
        F.max("rn").alias("lrn"), F.first("prn").alias("prn2")
    )
    term = (
        j.join(last, "user_id")
        .filter((F.col("rn") == F.col("lrn")) & F.col("prn2").isNull())
        .select(F.col("event_type").alias("src"), F.lit("NULL").alias("dst"))
    )
    alltrans = hops.select("src", "dst").unionAll(term)
    cnt_rows = (
        alltrans.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )  # O(states^2) bounded artifact
    counts: dict = {}
    for r in cnt_rows:
        counts[(r.src, r.dst)] = r.c
    channels = sorted(
        {d for (_, d) in counts if d not in ("CONV", "NULL")}
        | {s for (s, _) in counts if s not in ("START",)}
        - {"CONV", "NULL"}
    )
    states = ["START"] + channels + ["CONV", "NULL"]
    rowsum = {s: sum(c for (a, _), c in counts.items() if a == s) for s in states}
    tmicro = {
        (a, b): (c * m) // rowsum[a] for (a, b), c in counts.items()
    }

    def converge(removed: str | None) -> int:
        # redirected edges + absorbing self-loops, integer iteration
        edges: dict = {}
        for (a, b), t in tmicro.items():
            if a == removed:
                continue
            b2 = "NULL" if b == removed else b
            edges[(a, b2)] = edges.get((a, b2), 0) + t
        edges[("CONV", "CONV")] = m
        edges[("NULL", "NULL")] = m
        p = {"START": m}
        for _ in range(MARKOV_STEPS):
            nxt: dict = {}
            for (a, b), t in edges.items():
                if a in p:
                    nxt[b] = nxt.get(b, 0) + p[a] * t
            p = {b: v // m for b, v in nxt.items()}
        return p.get("CONV", 0)

    base = converge(None)
    effects = {c: base - converge(c) for c in channels}
    tot = sum(e for e in effects.values() if e > 0)
    touch = {
        c: sum(v for (a, b), v in counts.items() if b == c)
        for c in channels
    }
    rows = [
        (
            c,
            int(touch[c]),
            int(base),
            int(base - effects[c]),
            int(effects[c]),
            int((effects[c] * m) // tot) if tot > 0 and effects[c] > 0 else 0,
        )
        for c in channels
    ]
    return spark.createDataFrame(
        rows,
        "channel string, n_touch_transitions bigint, "
        "conv_base_micro bigint, conv_removed_micro bigint, "
        "removal_effect_micro bigint, attribution_share_micro bigint",
    ).orderBy("channel")


# ---------------------------------------------------------------------------
# Autocorrelation function: the seasonality detector behind every forecaster
# ---------------------------------------------------------------------------

ACF_MAX_LAG = 7


@register(
    "ts_acf_lags",
    oracle=f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
spine AS (
  SELECT CAST(unnest(generate_series(
    (SELECT MIN(day) FROM daily),
    (SELECT MAX(day) FROM daily),
    INTERVAL 1 DAY)) AS DATE) AS day
),
series AS (
  SELECT spine.day, COALESCE(daily.x, 0) AS x,
         ROW_NUMBER() OVER (ORDER BY spine.day) AS t
  FROM spine LEFT JOIN daily USING (day)
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s
  FROM series
),
-- centered deviations scaled by n (n*x_t - S): stays integer, no mean float
dev AS (
  SELECT t, (st.n * x - st.s) AS d FROM series, stats st
),
lags AS (
  SELECT CAST(k AS INT) AS lag FROM (
    SELECT unnest(generate_series(1, {ACF_MAX_LAG})) AS k)
),
num AS (
  SELECT l.lag, CAST(SUM(a.d * b.d) AS BIGINT) AS acf_num
  FROM lags l
  JOIN dev a ON TRUE
  JOIN dev b ON b.t = a.t + l.lag
  GROUP BY l.lag
),
den AS (SELECT CAST(SUM(d * d) AS BIGINT) AS acf_den FROM dev)
SELECT n.lag, n.acf_num, d.acf_den,
       ROUND(CAST(n.acf_num AS DOUBLE) / d.acf_den, 6) AS acf_r6
FROM num n, den d
""",
    doc=f"Exact autocorrelation of the daily event-count series at lags "
    f"1..{ACF_MAX_LAG} — the seasonality detector that justifies (or "
    "refutes) the weekly seasonal-naive forecaster (ts_forecast_snaive_"
    "eval). Integer-exact core: deviations are scaled by n (n*x_t - S) "
    "so numerator and denominator are exact BIGINT cross-products with "
    "no mean subtraction in float; the single closing division is one "
    "IEEE op, identical in both engines, rounded to 6dp. Spark plan: "
    "one day rollup + zero-filled spine, one 7-wide LEAD window pass "
    "(one sort), then a 7-row aggregate via stack unpivot — never a "
    "self-join over the series.",
)
def ts_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    spine = (
        daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select(
            F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias(
                "day"
            )
        )
    )
    series = spine.join(daily, "day", "left").select(
        "day", F.coalesce("x", F.lit(0)).alias("x")
    )
    stats = series.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
    )
    dev = series.crossJoin(F.broadcast(stats)).select(
        "day", (F.col("n") * F.col("x") - F.col("s")).alias("d")
    )
    w = Window.orderBy("day")
    leads = dev.select(
        "d",
        *[
            F.lead("d", k).over(w).alias(f"d{k}")
            for k in range(1, ACF_MAX_LAG + 1)
        ],
    )
    stacked = leads.select(
        F.expr(
            "stack("
            + str(ACF_MAX_LAG)
            + ", "
            + ", ".join(
                f"{k}, d * d{k}" for k in range(1, ACF_MAX_LAG + 1)
            )
            + ") AS (lag, prod)"
        ),
        (F.col("d") * F.col("d")).alias("dd"),
    )
    den = stacked.filter(F.col("lag") == 1).agg(
        F.sum("dd").cast("bigint").alias("acf_den")
    )
    return (
        stacked.groupBy(F.col("lag").cast("int").alias("lag"))
        .agg(F.sum("prod").cast("bigint").alias("acf_num"))
        .crossJoin(F.broadcast(den))
        .select(
            "lag",
            "acf_num",
            "acf_den",
            F.round(
                F.col("acf_num").cast("double") / F.col("acf_den"), 6
            ).alias("acf_r6"),
        )
    )


# ---------------------------------------------------------------------------
# Additive seasonal decomposition: trend + weekday seasonal + remainder
# ---------------------------------------------------------------------------


@register(
    "ts_seasonal_decompose",
    oracle="""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
spine AS (
  SELECT CAST(unnest(generate_series(
    (SELECT MIN(day) FROM daily),
    (SELECT MAX(day) FROM daily),
    INTERVAL 1 DAY)) AS DATE) AS day
),
series AS (
  SELECT spine.day, COALESCE(daily.x, 0) AS x
  FROM spine LEFT JOIN daily USING (day)
),
tr AS (
  SELECT day, x,
    CASE WHEN COUNT(*) OVER w = 7
         THEN CAST(SUM(x) OVER w AS BIGINT) END AS trend7
  FROM series
  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
dev AS (
  SELECT day, x, trend7,
    CASE WHEN trend7 IS NOT NULL THEN 7 * x - trend7 END AS dev7,
    CAST(dayofweek(day) + 1 AS INT) AS weekday  -- Spark: 1=Sun
  FROM tr
),
seas AS (
  SELECT weekday,
    CAST((1000000 * SUM(dev7)) // (7 * COUNT(dev7)) AS BIGINT)
      AS seasonal_micro
  FROM dev WHERE dev7 IS NOT NULL GROUP BY weekday
)
SELECT d.day, d.x, d.trend7, d.dev7, d.weekday, s.seasonal_micro
FROM dev d JOIN seas s USING (weekday)
""",
    doc="Additive seasonal decomposition of the daily event-count "
    "series, kept EXACT: trend7 = the centered 7-day window SUM (the "
    "x7-scaled moving average, NULL at the edges where the window is "
    "incomplete), dev7 = 7*x - trend7 (the x7-scaled detrended "
    "residual, integer), and the per-weekday seasonal index as the "
    "micro-unit integer floor of mean(dev7)/7 — every division that "
    "could round differently across engines is an integer floor "
    "division. One window pass + one O(7) grouped aggregate + a "
    "broadcast re-join; the decomposition STL approximates, with the "
    "weekly period the ACF (ts_acf_lags) detects.",
)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    spine = (
        daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select(
            F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias(
                "day"
            )
        )
    )
    series = spine.join(daily, "day", "left").select(
        "day", F.coalesce("x", F.lit(0)).alias("x")
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    tr = series.select(
        "day",
        "x",
        F.when(
            F.count(F.lit(1)).over(w) == 7, F.sum("x").over(w)
        )
        .cast("bigint")
        .alias("trend7"),
    )
    dev = tr.select(
        "day",
        "x",
        "trend7",
        (7 * F.col("x") - F.col("trend7")).alias("dev7"),
        F.dayofweek("day").cast("int").alias("weekday"),
    )
    seas = (
        dev.filter(F.col("dev7").isNotNull())
        .groupBy("weekday")
        .agg(
            F.sum("dev7").alias("sdev"),
            F.count("dev7").alias("cdev"),
        )
        .select(
            "weekday",
            F.expr(
                "CAST((1000000 * sdev) div (7 * cdev) AS BIGINT)"
            ).alias("seasonal_micro"),
        )
    )
    return dev.join(F.broadcast(seas), "weekday").select(
        "day", "x", "trend7", "dev7", "weekday", "seasonal_micro"
    )


# ---------------------------------------------------------------------------
# Process-mining conformance: observed transitions vs the allowed model
# ---------------------------------------------------------------------------

# The reference process model: signup starts a journey; browsing loops
# view<->click; purchase only from click; error may follow anything but
# must return to view. Everything else is a conformance violation.
CONFORMANCE_ALLOWED = [
    ("signup", "view"),
    ("view", "view"),
    ("view", "click"),
    ("click", "view"),
    ("click", "click"),
    ("click", "purchase"),
    ("purchase", "view"),
    ("view", "error"),
    ("click", "error"),
    ("purchase", "error"),
    ("error", "view"),
]


@register(
    "events_process_conformance",
    oracle=f"""
WITH seq AS (
  SELECT user_id, event_type AS src,
    LEAD(event_type) OVER (PARTITION BY user_id
      ORDER BY ts, event_id) AS dst
  FROM events
),
allowed(src, dst) AS (VALUES {", ".join(f"('{a}', '{b}')" for a, b in CONFORMANCE_ALLOWED)}),
trans AS MATERIALIZED (
  -- MATERIALIZED (r13): trans is multi-referenced; inlining replays
  -- the full-events LEAD window per reference (r12 5x timeout class)
  SELECT s.src, s.dst, COUNT(*) AS n,
    CASE WHEN a.src IS NOT NULL THEN TRUE ELSE FALSE END AS is_allowed
  FROM seq s LEFT JOIN allowed a ON s.src = a.src AND s.dst = a.dst
  WHERE s.dst IS NOT NULL
  GROUP BY s.src, s.dst, 4
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM trans)
SELECT trans.src, trans.dst, CAST(n AS BIGINT) AS n_observed,
  is_allowed,
  CAST((1000000 * n) // t AS BIGINT) AS share_ppm
FROM trans, tot
""",
    doc="Process-mining conformance checking: per-user event sequences "
    "(one LEAD window over the shared Exchange(user_id)) rolled into "
    "an observed transition matrix and checked against an explicit "
    "allowed-transition model — the deviation half of process mining "
    "(events_markov_transitions is the discovery half). is_allowed "
    "here is a broadcast MODEL-table join result computed identically "
    "on both engines, not a self-asserted flag; shares are integer "
    "ppm. Violations (e.g. purchase without a preceding click) "
    "surface as is_allowed=false rows with honest counts.",
)
def events_process_conformance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    allowed = spark.createDataFrame(
        CONFORMANCE_ALLOWED, "src string, dst string"
    ).withColumn("ok", F.lit(True))
    trans = (
        seq.join(F.broadcast(allowed), ["src", "dst"], "left")
        .groupBy("src", "dst", F.coalesce("ok", F.lit(False)).alias(
            "is_allowed"
        ))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = trans.agg(F.sum("n").cast("bigint").alias("t"))
    return trans.crossJoin(F.broadcast(tot)).select(
        "src",
        "dst",
        F.col("n").cast("bigint").alias("n_observed"),
        "is_allowed",
        F.expr("CAST((1000000 * n) div t AS BIGINT)").alias("share_ppm"),
    )


# ---------------------------------------------------------------------------
# Difference-in-differences lift estimate (Card & Krueger 1994 design)
# ---------------------------------------------------------------------------

DID_CUTOVER = "2024-01-16"  # post-period start (fixture spans Jan 1-30)


@register(
    "events_did_lift",
    oracle=f"""
WITH p AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS treated,
         CASE WHEN ts >= TIMESTAMP '{DID_CUTOVER}' THEN 1 ELSE 0 END
           AS post,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
cells AS (
  SELECT
    CAST(SUM(CASE WHEN treated=1 AND post=0 THEN 1 ELSE 0 END) AS BIGINT)
      AS n_t_pre,
    CAST(SUM(CASE WHEN treated=1 AND post=1 THEN 1 ELSE 0 END) AS BIGINT)
      AS n_t_post,
    CAST(SUM(CASE WHEN treated=0 AND post=0 THEN 1 ELSE 0 END) AS BIGINT)
      AS n_c_pre,
    CAST(SUM(CASE WHEN treated=0 AND post=1 THEN 1 ELSE 0 END) AS BIGINT)
      AS n_c_post,
    SUM(CASE WHEN treated=1 AND post=0 THEN cents ELSE 0 END) AS s_t_pre,
    SUM(CASE WHEN treated=1 AND post=1 THEN cents ELSE 0 END) AS s_t_post,
    SUM(CASE WHEN treated=0 AND post=0 THEN cents ELSE 0 END) AS s_c_pre,
    SUM(CASE WHEN treated=0 AND post=1 THEN cents ELSE 0 END) AS s_c_post
  FROM p
),
means AS (
  SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
    (1000000 * s_t_pre)  // n_t_pre  AS mean_t_pre_micro,
    (1000000 * s_t_post) // n_t_post AS mean_t_post_micro,
    (1000000 * s_c_pre)  // n_c_pre  AS mean_c_pre_micro,
    (1000000 * s_c_post) // n_c_post AS mean_c_post_micro
  FROM cells
)
SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
  CAST(mean_t_pre_micro AS BIGINT) AS mean_t_pre_micro,
  CAST(mean_t_post_micro AS BIGINT) AS mean_t_post_micro,
  CAST(mean_c_pre_micro AS BIGINT) AS mean_c_pre_micro,
  CAST(mean_c_post_micro AS BIGINT) AS mean_c_post_micro,
  CAST((mean_t_post_micro - mean_t_pre_micro)
       - (mean_c_post_micro - mean_c_pre_micro) AS BIGINT) AS did_micro,
  -- relative lift vs the control-pre mean; floor division on a possibly
  -- NEGATIVE numerator, spelled identically on both engines
  CAST((1000000 * ((mean_t_post_micro - mean_t_pre_micro)
                   - (mean_c_post_micro - mean_c_pre_micro)))
       // mean_c_pre_micro AS BIGINT) AS did_rel_ppm
FROM means
""",
    doc="Difference-in-differences lift (the Card-Krueger 1994 "
    "quasi-experiment design): treated = even user_id, post = events "
    "on/after Jan 16; DiD = (treated post-pre delta) - (control "
    "post-pre delta) on purchase value. Cell means are exact integer "
    "micro-units (floored once per cell), so the DiD and its "
    "relative-lift ppm are pure integer arithmetic — the ppm division "
    "has a possibly-negative numerator — safe because Spark's div and "
    "DuckDB's integer // both truncate toward zero. Plan: one "
    "conditional aggregate over a single filtered scan — fully "
    "partial-aggregable, no shuffle beyond the 1-row combine; the 2x2 "
    "design generalizes to per-cohort DiD by adding group-by keys.",
)
def events_did_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.when(F.col("user_id") % 2 == 0, 1).otherwise(0).alias("treated"),
        F.when(F.col("ts") >= F.lit(DID_CUTOVER).cast("timestamp"), 1)
        .otherwise(0)
        .alias("post"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )

    def cell(t: int, po: int, what):  # conditional-aggregation cell
        cond = (F.col("treated") == t) & (F.col("post") == po)
        return F.sum(F.when(cond, what).otherwise(0))

    cells = p.agg(
        cell(1, 0, 1).cast("bigint").alias("n_t_pre"),
        cell(1, 1, 1).cast("bigint").alias("n_t_post"),
        cell(0, 0, 1).cast("bigint").alias("n_c_pre"),
        cell(0, 1, 1).cast("bigint").alias("n_c_post"),
        cell(1, 0, F.col("cents")).alias("s_t_pre"),
        cell(1, 1, F.col("cents")).alias("s_t_post"),
        cell(0, 0, F.col("cents")).alias("s_c_pre"),
        cell(0, 1, F.col("cents")).alias("s_c_post"),
    )
    means = cells.select(
        "n_t_pre",
        "n_t_post",
        "n_c_pre",
        "n_c_post",
        F.expr("(1000000 * s_t_pre)  div n_t_pre").alias("mean_t_pre_micro"),
        F.expr("(1000000 * s_t_post) div n_t_post").alias(
            "mean_t_post_micro"
        ),
        F.expr("(1000000 * s_c_pre)  div n_c_pre").alias("mean_c_pre_micro"),
        F.expr("(1000000 * s_c_post) div n_c_post").alias(
            "mean_c_post_micro"
        ),
    )
    did = (
        (F.col("mean_t_post_micro") - F.col("mean_t_pre_micro"))
        - (F.col("mean_c_post_micro") - F.col("mean_c_pre_micro"))
    ).cast("bigint")
    staged = means.withColumn("did_micro", did)
    return staged.select(
        "n_t_pre",
        "n_t_post",
        "n_c_pre",
        "n_c_post",
        F.col("mean_t_pre_micro").cast("bigint").alias("mean_t_pre_micro"),
        F.col("mean_t_post_micro").cast("bigint").alias("mean_t_post_micro"),
        F.col("mean_c_pre_micro").cast("bigint").alias("mean_c_pre_micro"),
        F.col("mean_c_post_micro").cast("bigint").alias("mean_c_post_micro"),
        "did_micro",
        # Signed integral division: Spark's `div` and DuckDB's integer
        # `//` BOTH truncate toward zero (-7//2 == -3 on each), so the
        # possibly-negative ppm matches with no floor/trunc adjustment.
        F.expr(
            "CAST((1000000 * did_micro) div mean_c_pre_micro AS BIGINT)"
        ).alias("did_rel_ppm"),
    )


# ---------------------------------------------------------------------------
# Holt-Winters additive triple exponential smoothing (Winters 1960)
# ---------------------------------------------------------------------------

HW_L = 7  # season length (weekly) — fixture spans 30 days = 4+ seasons
HW_AD, HW_DEN = 1, 4  # alpha = beta = gamma = 1/4, as exact rationals
HW_MICRO = 1_000_000


def _hw_tdiv(a: int, b: int) -> int:
    """Truncating integer division (toward zero) — matches BOTH Spark's
    `div` and DuckDB's integer `//` on signed operands (each truncates:
    -7//2 == -3), so the Python recursion replays the oracle exactly."""
    q = abs(a) // b
    return q if a >= 0 else -q


@register(
    "ts_holt_winters_additive",
    headline=True,  # bench seat (r9, VERDICT r8 #3): the keyed-Python-
    # recursion plan class — ONE applyInPandas per series key, millions
    # of independent series at 100 TB — previously had zero bench
    # representation and is the likeliest to regress from an
    # Arrow/pandas-boundary change.
    oracle=f"""
WITH RECURSIVE days AS (
  SELECT (SELECT MIN(CAST(ts AS DATE)) FROM events) AS d
  UNION ALL
  SELECT CAST(d + INTERVAL 1 DAY AS DATE) FROM days
  WHERE d < (SELECT MAX(CAST(ts AS DATE)) FROM events)
),
spine AS (
  SELECT e.event_type, days.d,
    ROW_NUMBER() OVER (PARTITION BY e.event_type ORDER BY days.d) AS rn
  FROM (SELECT DISTINCT event_type FROM events) e, days
),
cnt AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
daily AS (
  SELECT s.event_type, s.d, s.rn,
         COALESCE(c.y, 0) AS y,
         {HW_MICRO} * COALESCE(c.y, 0) AS y_micro
  FROM spine s LEFT JOIN cnt c
    ON s.event_type = c.event_type AND s.d = c.d
),
init AS (
  SELECT event_type,
    SUM(CASE WHEN rn <= {HW_L} THEN y_micro ELSE 0 END) // {HW_L} AS l0,
    (SUM(CASE WHEN rn BETWEEN {HW_L + 1} AND {2 * HW_L}
              THEN y_micro ELSE 0 END)
     - SUM(CASE WHEN rn <= {HW_L} THEN y_micro ELSE 0 END))
      // {HW_L * HW_L} AS b0,
    MAX(CASE WHEN rn = 1 THEN y_micro END) AS y1,
    MAX(CASE WHEN rn = 2 THEN y_micro END) AS y2,
    MAX(CASE WHEN rn = 3 THEN y_micro END) AS y3,
    MAX(CASE WHEN rn = 4 THEN y_micro END) AS y4,
    MAX(CASE WHEN rn = 5 THEN y_micro END) AS y5,
    MAX(CASE WHEN rn = 6 THEN y_micro END) AS y6,
    MAX(CASE WHEN rn = 7 THEN y_micro END) AS y7
  FROM daily GROUP BY event_type
),
hw AS (
  SELECT event_type, CAST({HW_L} AS BIGINT) AS rn,
    l0 AS l, b0 AS b,
    y1 - l0 AS s1, y2 - l0 AS s2, y3 - l0 AS s3, y4 - l0 AS s4,
    y5 - l0 AS s5, y6 - l0 AS s6, y7 - l0 AS s7,
    CAST(NULL AS BIGINT) AS y_micro,
    CAST(NULL AS BIGINT) AS fitted_micro
  FROM init
  UNION ALL
  SELECT h.event_type, h.rn + 1,
    -- l' = trunc-div: (alpha*(y - s_head) + (4-alpha)*(l+b)) // 4
    ({HW_AD} * (d.y_micro - h.s1)
     + {HW_DEN - HW_AD} * (h.l + h.b)) // {HW_DEN} AS l,
    -- b' = trunc-div: (beta*(l' - l) + (4-beta)*b) // 4, l' inlined
    ({HW_AD} * ((({HW_AD} * (d.y_micro - h.s1)
                  + {HW_DEN - HW_AD} * (h.l + h.b)) // {HW_DEN}) - h.l)
     + {HW_DEN - HW_AD} * h.b) // {HW_DEN} AS b,
    h.s2, h.s3, h.s4, h.s5, h.s6, h.s7,
    -- s_new = trunc-div: (gamma*(y - l') + (4-gamma)*s_head) // 4
    ({HW_AD} * (d.y_micro
                - (({HW_AD} * (d.y_micro - h.s1)
                    + {HW_DEN - HW_AD} * (h.l + h.b)) // {HW_DEN}))
     + {HW_DEN - HW_AD} * h.s1) // {HW_DEN} AS s7,
    d.y_micro,
    h.l + h.b + h.s1 AS fitted_micro
  FROM hw h JOIN daily d
    ON d.event_type = h.event_type AND d.rn = h.rn + 1
)
SELECT h.event_type, d.d,
  CAST(h.y_micro // {HW_MICRO} AS BIGINT) AS y,
  CAST(h.fitted_micro AS BIGINT) AS fitted_micro,
  CAST(h.l AS BIGINT) AS level_micro,
  CAST(h.b AS BIGINT) AS trend_micro,
  CAST(h.y_micro - h.fitted_micro AS BIGINT) AS resid_micro
FROM hw h JOIN daily d
  ON d.event_type = h.event_type AND d.rn = h.rn
WHERE h.rn > {HW_L}
""",
    doc="Holt-Winters ADDITIVE triple exponential smoothing (Winters "
    "1960) per event-type series: level + trend + weekly seasonal "
    "state, alpha=beta=gamma=1/4 as exact rationals, every state "
    "variable an integer micro-unit and every update a truncating "
    "integer division — Spark's div and DuckDB's // both truncate, so "
    "the DuckDB RECURSIVE-CTE replay (seasonal ring carried as 7 "
    "BIGINT columns, rotated each step) is value-exact against the "
    "Python recursion. Init: level = week-1 mean, trend = "
    "(week2-week1)/49, seasonals = first-week deviations. Spark plan: "
    "day-spine x type left join (zero-filled), then ONE applyInPandas "
    "over the series key — the inherently sequential recursion is "
    "per-series, so a 100 TB corpus with millions of keyed series "
    "(per-SKU, per-user, per-region) runs embarrassingly parallel "
    "across series with O(days) state per task; only the within-series "
    "scan is sequential, which no engine can avoid. Emits the full "
    "fitted/level/trend/residual trajectory from day L+1 on.",
)
def ts_holt_winters_additive(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    types = ev.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(F.sequence("d0", "d1")).alias("d"),
    )
    cnt = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    daily = (
        spine.join(cnt, ["event_type", "d"], "left")
        .withColumn("y", F.coalesce(F.col("y"), F.lit(0)).cast("bigint"))
    )

    out_schema = (
        "event_type string, d date, y bigint, fitted_micro bigint, "
        "level_micro bigint, trend_micro bigint, resid_micro bigint"
    )

    def hw_series(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        n = len(pdf)
        if n < 2 * HW_L + 1:
            return pd.DataFrame(
                columns=[
                    "event_type", "d", "y", "fitted_micro",
                    "level_micro", "trend_micro", "resid_micro",
                ]
            )
        y = [int(v) * HW_MICRO for v in pdf["y"]]
        l = _hw_tdiv(sum(y[:HW_L]), HW_L)
        b = _hw_tdiv(sum(y[HW_L: 2 * HW_L]) - sum(y[:HW_L]), HW_L * HW_L)
        season = [y[i] - l for i in range(HW_L)]
        rows = []
        for t in range(HW_L, n):
            s_head = season.pop(0)
            fitted = l + b + s_head
            l_new = _hw_tdiv(
                HW_AD * (y[t] - s_head) + (HW_DEN - HW_AD) * (l + b),
                HW_DEN,
            )
            b_new = _hw_tdiv(
                HW_AD * (l_new - l) + (HW_DEN - HW_AD) * b, HW_DEN
            )
            season.append(
                _hw_tdiv(
                    HW_AD * (y[t] - l_new) + (HW_DEN - HW_AD) * s_head,
                    HW_DEN,
                )
            )
            l, b = l_new, b_new
            rows.append(
                (
                    pdf["event_type"].iloc[0],
                    pdf["d"].iloc[t],
                    y[t] // HW_MICRO,
                    fitted,
                    l,
                    b,
                    y[t] - fitted,
                )
            )
        return pd.DataFrame(
            rows,
            columns=[
                "event_type", "d", "y", "fitted_micro",
                "level_micro", "trend_micro", "resid_micro",
            ],
        )

    return daily.groupBy("event_type").applyInPandas(hw_series, out_schema)


# ---------------------------------------------------------------------------
# Theil-Sen robust trend (median of pairwise slopes; Sen 1968)
# ---------------------------------------------------------------------------


@register(
    "ts_theil_sen_trend",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
    CAST(COUNT(*) AS BIGINT) AS y,
    ROW_NUMBER() OVER (PARTITION BY event_type
                       ORDER BY CAST(ts AS DATE)) AS rn
  FROM events GROUP BY 1, 2
),
slopes AS (
  SELECT a.event_type,
    CAST((1000000 * (b.y - a.y)) // (b.rn - a.rn) AS BIGINT)
      AS slope_micro,
    a.rn AS i, b.rn AS j
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.rn < b.rn
),
med AS (
  SELECT event_type, slope_micro,
    ROW_NUMBER() OVER (PARTITION BY event_type
                       ORDER BY slope_micro, i, j) AS r,
    COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM slopes
)
SELECT event_type,
  CAST(n AS BIGINT) AS n_slopes,
  CAST(slope_micro AS BIGINT) AS theil_sen_slope_micro
FROM med WHERE r = (n + 1) // 2
""",
    doc="Theil-Sen robust trend estimator (Sen 1968) per event-type "
    "series: the LOW-median of all C(n,2) pairwise slopes, immune to "
    "~29% outlier contamination where OLS (the rolling-regression "
    "seat) is immune to none. Slopes are integer micro-units via "
    "truncating division (identical in both engines, negative "
    "numerators included), the median is a deterministic "
    "rank-selection with (slope, i, j) tiebreak — fully value-exact. "
    "The O(w^2) pair join is PER SERIES over the bounded daily "
    "aggregate (w=30 here; a production rollout windows w), so at "
    "100 TB the quadratic term is per-key constant while series "
    "parallelize — the same honest-quadratic posture as the "
    "fixed-frame audits, never corpus-quadratic.",
)
def ts_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("d")
            ),
        )
    )
    a = daily.select(
        "event_type", F.col("y").alias("ya"), F.col("rn").alias("i")
    )
    b = daily.select(
        "event_type", F.col("y").alias("yb"), F.col("rn").alias("j")
    )
    slopes = (
        a.join(b, "event_type")
        .filter(F.col("i") < F.col("j"))
        .select(
            "event_type",
            F.expr("CAST((1000000 * (yb - ya)) div (j - i) AS BIGINT)").alias(
                "slope_micro"
            ),
            "i",
            "j",
        )
    )
    w_rank = Window.partitionBy("event_type").orderBy("slope_micro", "i", "j")
    w_all = Window.partitionBy("event_type")
    med = slopes.select(
        "event_type",
        "slope_micro",
        F.row_number().over(w_rank).alias("r"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    return med.filter(
        F.col("r") == F.expr("(n + 1) div 2")
    ).select(
        "event_type",
        F.col("n").cast("bigint").alias("n_slopes"),
        F.col("slope_micro").cast("bigint").alias("theil_sen_slope_micro"),
    )


# ---------------------------------------------------------------------------
# Ljung-Box portmanteau test — "is this series white noise?" The formal
# yes/no gate on the ACF that ts_acf_lags eyeballs.
# ---------------------------------------------------------------------------

LB_CHI2_95_M7 = 14.067140449340169  # chi-square 0.95 quantile, df=7 —
# compile-time constant baked identically into both engines

# Q = n(n+2) * sum_k r_k^2/(n-k) over the SAME 6dp-rounded autocorrelations
# ts_acf_lags emits (rounding makes r_k a shared deterministic double; the
# fixed-order expression below is then IEEE-identical in both engines).
_LB_Q_EXPR = (
    "ROUND(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0) * ("
    + " + ".join(
        f"r{k} * r{k} / (CAST(n AS DOUBLE) - {k}.0)" for k in range(1, 8)
    )
    + "), 6)"
)


@register(
    "ts_ljung_box",
    oracle=f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
spine AS (
  SELECT CAST(unnest(generate_series(
    (SELECT MIN(day) FROM daily),
    (SELECT MAX(day) FROM daily),
    INTERVAL 1 DAY)) AS DATE) AS day
),
series AS (
  SELECT spine.day, COALESCE(daily.x, 0) AS x,
         ROW_NUMBER() OVER (ORDER BY spine.day) AS t
  FROM spine LEFT JOIN daily USING (day)
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s
  FROM series
),
dev AS (
  SELECT t, (st.n * x - st.s) AS d FROM series, stats st
),
lags AS (
  SELECT CAST(k AS INT) AS lag FROM (
    SELECT unnest(generate_series(1, 7)) AS k)
),
num AS (
  SELECT l.lag, CAST(SUM(a.d * b.d) AS BIGINT) AS acf_num
  FROM lags l
  JOIN dev a ON TRUE
  JOIN dev b ON b.t = a.t + l.lag
  GROUP BY l.lag
),
den AS (SELECT CAST(SUM(d * d) AS BIGINT) AS acf_den FROM dev),
rs AS (
  SELECT
    {", ".join(
        "MAX(CASE WHEN lag = %d THEN "
        "ROUND(CAST(acf_num AS DOUBLE) / acf_den, 6) END) AS r%d"
        % (k, k) for k in range(1, 8)
    )}
  FROM num, den
)
SELECT st.n, CAST(7 AS INT) AS m,
       {_LB_Q_EXPR} AS q_lb_r6,
       {_LB_Q_EXPR} > {LB_CHI2_95_M7!r} AS reject_white_noise_05
FROM rs, stats st
""",
    doc="Ljung-Box portmanteau white-noise test (Ljung & Box 1978) at "
    "m=7 lags on the daily event-count series — the formal gate on the "
    "autocorrelations ts_acf_lags reports. The r_k are the SAME "
    "integer-exact n-scaled cross-products rounded to 6dp (a shared "
    "deterministic double), and Q = n(n+2)*sum(r_k^2/(n-k)) is one "
    "fixed-order IEEE expression written as the identical SQL string "
    "for both engines, so Q and the chi2(df=7, 0.95) rejection flag "
    "are value-hash-checked. Plan shape: identical to ts_acf_lags "
    "(one rollup, one 7-wide LEAD pass, one 7-row aggregate) plus a "
    "1-row finish.",
)
def ts_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    spine = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi")).select(
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day")
    )
    series = spine.join(daily, "day", "left").select(
        "day", F.coalesce("x", F.lit(0)).alias("x")
    )
    stats = series.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
    )
    dev = series.crossJoin(F.broadcast(stats)).select(
        "day", "n", (F.col("n") * F.col("x") - F.col("s")).alias("d")
    )
    w = Window.orderBy("day")
    leads = dev.select(
        "n",
        "d",
        *[F.lead("d", k).over(w).alias(f"d{k}") for k in range(1, 8)],
    )
    agg = leads.agg(
        F.max("n").alias("n"),
        F.sum(F.col("d") * F.col("d")).cast("bigint").alias("acf_den"),
        *[
            F.sum(F.col("d") * F.col(f"d{k}"))
            .cast("bigint")
            .alias(f"num{k}")
            for k in range(1, 8)
        ],
    )
    rs = agg.select(
        "n",
        *[
            F.round(
                F.col(f"num{k}").cast("double") / F.col("acf_den"), 6
            ).alias(f"r{k}")
            for k in range(1, 8)
        ],
    )
    return rs.select(
        "n",
        F.lit(7).cast("int").alias("m"),
        F.expr(_LB_Q_EXPR).alias("q_lb_r6"),
        (F.expr(_LB_Q_EXPR) > F.lit(LB_CHI2_95_M7)).alias(
            "reject_white_noise_05"
        ),
    )


# ---------------------------------------------------------------------------
# CUPED variance reduction (Deng et al. 2013) — the industry-standard
# experiment readout upgrade: regress the experiment-period metric on the
# pre-period covariate and report variance-adjusted means per arm.

# n * s{xy,xx,yy} are n^2-class cents products — they outgrow BIGINT at
# the r12 5x corpus (denser per-user cents), so the integer differences
# are formed in DECIMAL(38,0) and only then converted to DOUBLE. The
# shared-verbatim strings parse identically in Spark and DuckDB, and
# exact-integer -> nearest-double conversion is engine-identical.
_CUPED_COV = (
    "CAST(CAST(n AS DECIMAL(38,0)) * sxy"
    " - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)"
)
_CUPED_VARX = (
    "CAST(CAST(n AS DECIMAL(38,0)) * sxx"
    " - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)"
)
_CUPED_VARY = (
    "CAST(CAST(n AS DECIMAL(38,0)) * syy"
    " - CAST(sy AS DECIMAL(38,0)) * sy AS DOUBLE)"
)
_CUPED_THETA = f"{_CUPED_COV} / {_CUPED_VARX}"
_CUPED_ADJ = (
    "ROUND(CAST(sy_a AS DOUBLE) / n_a - ({theta})"
    " * (CAST(sx_a AS DOUBLE) / n_a - CAST(sx AS DOUBLE) / n), 6)"
).format(theta=_CUPED_THETA)
_CUPED_VARRED = (
    f"ROUND({_CUPED_COV} * {_CUPED_COV}"
    f" / ({_CUPED_VARX} * {_CUPED_VARY}), 6)"
)


@register(
    "events_cuped_adjustment",
    oracle=f"""
WITH bounds AS (
  SELECT (CAST(MIN(CAST(ts AS DATE)) - DATE '1970-01-01' AS BIGINT)
        + CAST(MAX(CAST(ts AS DATE)) - DATE '1970-01-01' AS BIGINT) + 1)
        // 2 AS split_d
  FROM events
),
per_user AS (
  SELECT user_id,
    CASE WHEN ('0x' || substring(
                 md5(CAST(user_id AS VARCHAR)), 1, 4))::INT % 2 = 0
         THEN 'control' ELSE 'treatment' END AS arm,
    CAST(COALESCE(SUM(CASE WHEN
        CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) < b.split_d
        THEN CAST(round(value * 100) AS BIGINT) END), 0) AS BIGINT) AS x,
    CAST(COALESCE(SUM(CASE WHEN
        CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) >= b.split_d
        THEN CAST(round(value * 100) AS BIGINT) END), 0) AS BIGINT) AS y
  FROM events, bounds b
  GROUP BY user_id, b.split_d
),
pooled AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         -- cents-scale cross-moments carried in DECIMAL(38,0) (same
         -- overflow class the r12 5x corpus caught in the mSPRT twin)
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy,
         CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS syy
  FROM per_user
),
arms AS (
  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_a,
         CAST(SUM(x) AS BIGINT) AS sx_a, CAST(SUM(y) AS BIGINT) AS sy_a
  FROM per_user GROUP BY arm
)
SELECT arm, n_a AS n_users,
  ROUND(CAST(sy_a AS DOUBLE) / n_a, 6) AS mean_y_cents_r6,
  {_CUPED_ADJ} AS mean_y_cuped_r6,
  ROUND({_CUPED_THETA}, 6) AS theta_r6,
  {_CUPED_VARRED} AS var_reduction_r6
FROM arms, pooled
""",
    doc="CUPED variance-adjusted experiment readout (Deng et al. 2013): "
    "pre-period per-user value (first half of the observed day range, "
    "data-anchored integer split) is the covariate; theta = "
    "cov(X,Y)/var(X) from EXACT BIGINT cross-product moments pooled "
    "across arms (the paper's recommendation — arm-pooled theta keeps "
    "the estimator unbiased); adjusted per-arm means and the rho^2 "
    "variance-reduction factor are fixed-shape IEEE expressions shared "
    "verbatim with the oracle. Arms assigned by the same md5 split as "
    "events_ab_test_analysis. Plan: ONE Exchange(user_id) + a 2-row "
    "arm aggregate with a broadcast 1-row moment join.",
)
def events_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    bounds = events.agg(
        F.expr(
            "(CAST(datediff(MIN(CAST(ts AS DATE)), DATE '1970-01-01')"
            " AS BIGINT)"
            " + CAST(datediff(MAX(CAST(ts AS DATE)), DATE '1970-01-01')"
            " AS BIGINT) + 1) div 2"
        ).alias("split_d")
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.col("user_id").cast("string").cast("binary")), 1, 4
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    day_num = F.expr(
        "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)"
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    per_user = (
        events.crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.when(bucket == 0, "control").otherwise("treatment").alias(
                "arm"
            ),
            F.when(day_num < F.col("split_d"), cents).alias("xc"),
            F.when(day_num >= F.col("split_d"), cents).alias("yc"),
        )
        .groupBy("user_id", "arm")
        .agg(
            F.coalesce(F.sum("xc"), F.lit(0)).cast("bigint").alias("x"),
            F.coalesce(F.sum("yc"), F.lit(0)).cast("bigint").alias("y"),
        )
    )
    pooled = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        # DECIMAL(38,0) summand lift mirrors the oracle (r12 5x class)
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("sxy"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("syy"),
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_a"),
        F.sum("x").cast("bigint").alias("sx_a"),
        F.sum("y").cast("bigint").alias("sy_a"),
    )
    return arms.crossJoin(F.broadcast(pooled)).select(
        "arm",
        F.col("n_a").alias("n_users"),
        F.expr("ROUND(CAST(sy_a AS DOUBLE) / n_a, 6)").alias(
            "mean_y_cents_r6"
        ),
        F.expr(_CUPED_ADJ).alias("mean_y_cuped_r6"),
        F.expr(f"ROUND({_CUPED_THETA}, 6)").alias("theta_r6"),
        F.expr(_CUPED_VARRED).alias("var_reduction_r6"),
    )


# ---------------------------------------------------------------------------
# Mixture sequential probability ratio test (Johari et al. 2017, "Peeking
# at A/B tests") — the always-valid complement to the fixed-horizon
# t-readout (events_ab_test_analysis) and CUPED: a p-value you may
# legally inspect at every n.

_MSPRT_LAMBDA = (
    "SQRT(vv / (vv + n_eff * vv))"
    " * EXP(CAST(n_eff AS DOUBLE) * n_eff * vv * delta * delta"
    "       / (2.0 * vv * (vv + n_eff * vv)))"
)


@register(
    "events_msprt_sequential",
    oracle=f"""
WITH per_user AS (
  SELECT user_id,
    CASE WHEN ('0x' || substring(
                 md5(CAST(user_id AS VARCHAR)), 1, 4))::INT % 2 = 0
         THEN 0 ELSE 1 END AS arm,
    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY user_id
),
m AS (
  SELECT
    CAST(SUM(1 - arm) AS BIGINT) AS n_c, CAST(SUM(arm) AS BIGINT) AS n_t,
    CAST(SUM(CASE WHEN arm = 0 THEN v ELSE 0 END) AS BIGINT) AS s_c,
    CAST(SUM(CASE WHEN arm = 1 THEN v ELSE 0 END) AS BIGINT) AS s_t,
    -- v*v sums outgrow BIGINT on cents-scale per-user values (r12 5x
    -- finding): summed and carried in DECIMAL(38,0) in both engines
    CAST(SUM(CASE WHEN arm = 0 THEN CAST(v AS DECIMAL(38,0)) * v
             ELSE 0 END) AS DECIMAL(38,0)) AS ss_c,
    CAST(SUM(CASE WHEN arm = 1 THEN CAST(v AS DECIMAL(38,0)) * v
             ELSE 0 END) AS DECIMAL(38,0)) AS ss_t
  FROM per_user
),
d AS (
  SELECT n_c, n_t, LEAST(n_c, n_t) AS n_eff,
    CAST(s_t AS DOUBLE) / n_t - CAST(s_c AS DOUBLE) / n_c AS delta,
    -- DECIMAL(38,0) lift (r12 5x finding: n * ss outgrows BIGINT on
    -- cents-scale per-user moments); identical parse in both engines
    CAST(CAST(n_c AS DECIMAL(38,0)) * ss_c
         - CAST(s_c AS DECIMAL(38,0)) * s_c AS DOUBLE) / (n_c * (n_c - 1))
      + CAST(CAST(n_t AS DECIMAL(38,0)) * ss_t
             - CAST(s_t AS DECIMAL(38,0)) * s_t AS DOUBLE)
        / (n_t * (n_t - 1)) AS vv
  FROM m
)
SELECT n_c, n_t, ROUND(delta, 6) AS delta_cents_r6,
  ROUND({_MSPRT_LAMBDA}, 6) AS mixture_lr_r6,
  ROUND(LEAST(1.0, 1.0 / ({_MSPRT_LAMBDA})), 6) AS always_valid_p_r6,
  LEAST(1.0, 1.0 / ({_MSPRT_LAMBDA})) < 0.05 AS reject_05
FROM d
""",
    doc="Always-valid sequential A/B test (Johari et al. 2017 mSPRT): "
    "mixture likelihood ratio for the per-user value difference under "
    "the paper's normal mixture with tau^2 = V (the default that "
    "maximizes power at the observed variance scale); always-valid "
    "p = min(1, 1/Lambda). All moments are exact BIGINT cross-products "
    "from ONE Exchange(user_id); Lambda/p are fixed-shape IEEE "
    "expressions shared verbatim with the oracle, so the sequential "
    "readout itself is value-hash-checked. Null-lift and planted-lift "
    "fixtures in tests/test_timeseries.py.",
)
def events_msprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.col("user_id").cast("string").cast("binary")), 1, 4
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    per_user = (
        events.select(
            "user_id",
            F.when(bucket == 0, 0).otherwise(1).alias("arm"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("user_id", "arm")
        .agg(F.sum("cents").cast("bigint").alias("v"))
    )
    m = per_user.agg(
        F.sum(1 - F.col("arm")).cast("bigint").alias("n_c"),
        F.sum("arm").cast("bigint").alias("n_t"),
        F.sum(F.when(F.col("arm") == 0, F.col("v")).otherwise(0))
        .cast("bigint")
        .alias("s_c"),
        F.sum(F.when(F.col("arm") == 1, F.col("v")).otherwise(0))
        .cast("bigint")
        .alias("s_t"),
        # DECIMAL(38,0) summand lift mirrors the oracle (r12 5x finding)
        F.sum(
            F.when(
                F.col("arm") == 0,
                F.col("v").cast("decimal(38,0)") * F.col("v"),
            ).otherwise(0)
        )
        .cast("decimal(38,0)")
        .alias("ss_c"),
        F.sum(
            F.when(
                F.col("arm") == 1,
                F.col("v").cast("decimal(38,0)") * F.col("v"),
            ).otherwise(0)
        )
        .cast("decimal(38,0)")
        .alias("ss_t"),
    )
    d = m.select(
        "n_c",
        "n_t",
        F.least("n_c", "n_t").alias("n_eff"),
        F.expr(
            "CAST(s_t AS DOUBLE) / n_t - CAST(s_c AS DOUBLE) / n_c"
        ).alias("delta"),
        # DECIMAL(38,0) lift, mirroring the oracle (r12 5x finding)
        F.expr(
            "CAST(CAST(n_c AS DECIMAL(38,0)) * ss_c"
            " - CAST(s_c AS DECIMAL(38,0)) * s_c AS DOUBLE)"
            " / (n_c * (n_c - 1))"
            " + CAST(CAST(n_t AS DECIMAL(38,0)) * ss_t"
            " - CAST(s_t AS DECIMAL(38,0)) * s_t AS DOUBLE)"
            " / (n_t * (n_t - 1))"
        ).alias("vv"),
    )
    return d.select(
        "n_c",
        "n_t",
        F.round("delta", 6).alias("delta_cents_r6"),
        F.expr(f"ROUND({_MSPRT_LAMBDA}, 6)").alias("mixture_lr_r6"),
        F.expr(
            f"ROUND(LEAST(1.0, 1.0 / ({_MSPRT_LAMBDA})), 6)"
        ).alias("always_valid_p_r6"),
        F.expr(f"LEAST(1.0, 1.0 / ({_MSPRT_LAMBDA})) < 0.05").alias(
            "reject_05"
        ),
    )


# ---------------------------------------------------------------------------
# Bollinger bands with exact integer band flags — the trading-chart
# classic as a pure cross-multiplied integer predicate.


@register(
    "ts_bollinger_bands",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
win AS (
  SELECT event_type, day, x,
    CAST(COUNT(*) OVER w AS BIGINT) AS n,
    CAST(SUM(x) OVER w AS BIGINT) AS s,
    CAST(SUM(x * x) OVER w AS BIGINT) AS ss
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT event_type, day, x, s AS sum7, ss AS sumsq7,
  (n * x - s) * (n * x - s) * (n - 1) > 4 * n * (n * ss - s * s)
    AS outside_2sigma,
  (n * x - s) > 0 AS above_mean
FROM win WHERE n = 7
""",
    doc="Bollinger bands on the per-type daily count series, kept EXACT: "
    "the |x - mean| > 2*stddev band test over the trailing-7 frame is "
    "cross-multiplied to the integer predicate (n*x-s)^2 * (n-1) > "
    "4n(n*ss - s^2) — no float stddev can flip a flag in either engine. "
    "One Exchange(event_type) + one window sort; edge days with an "
    "incomplete frame are excluded (n = 7 only).",
)
def ts_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.date_trunc("day", "ts").cast("date").alias("day"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, 0)
    )
    win = daily.select(
        "event_type",
        "day",
        "x",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n"),
        F.sum("x").over(w).cast("bigint").alias("s"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("bigint").alias("ss"),
    )
    return win.filter(F.col("n") == 7).select(
        "event_type",
        "day",
        "x",
        F.col("s").alias("sum7"),
        F.col("ss").alias("sumsq7"),
        (
            (F.col("n") * F.col("x") - F.col("s"))
            * (F.col("n") * F.col("x") - F.col("s"))
            * (F.col("n") - 1)
            > 4 * F.col("n") * (F.col("n") * F.col("ss") - F.col("s") * F.col("s"))
        ).alias("outside_2sigma"),
        ((F.col("n") * F.col("x") - F.col("s")) > 0).alias("above_mean"),
    )


# ---------------------------------------------------------------------------
# Peak concurrency — the classic interval sweep: how many 30-minute user
# sessions overlap at the busiest instant?


@register(
    "events_peak_concurrency",
    oracle="""
WITH sess AS (
  SELECT user_id,
    CAST(epoch_ms(ts) // 1000 AS BIGINT) AS s,
    CAST(epoch_ms(ts) // 1000 + 1800 AS BIGINT) AS e
  FROM events
),
pts AS (
  SELECT s AS t, 1 AS d FROM sess
  UNION ALL
  SELECT e AS t, -1 FROM sess
),
agg AS (
  SELECT t, CAST(SUM(d) AS BIGINT) AS delta FROM pts GROUP BY t
),
sweep AS (
  SELECT t, CAST(SUM(delta) OVER (ORDER BY t) AS BIGINT) AS concurrent
  FROM agg
)
SELECT CAST(MAX(concurrent) AS BIGINT) AS peak_concurrency,
  CAST(MIN(t) FILTER (WHERE concurrent =
        (SELECT MAX(concurrent) FROM sweep)) AS BIGINT) AS first_peak_epoch,
  CAST(COUNT(*) AS BIGINT) AS n_change_points
FROM sweep
""",
    doc="Peak concurrency of 30-minute event-anchored sessions — the "
    "classic interval sweep kept scale-honest: intervals become +1/-1 "
    "DELTA events (ends at start+1800s tie-grouped with starts on the "
    "same instant, end-before-start resolved by the per-instant SUM), "
    "pre-aggregated to O(distinct instants) rows, then ONE distributed "
    "running sum (operators/ranks.py — distinct instants grow with the "
    "log, so no single-task window) — never an interval self-join. "
    "Exact integers end to end.",
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    sec = F.expr("CAST(unix_millis(ts) div 1000 AS BIGINT)")
    sess = events.select(
        sec.alias("s"), (sec + 1800).alias("e")
    )
    pts = sess.select(F.col("s").alias("t"), F.lit(1).alias("d")).unionAll(
        sess.select(F.col("e").alias("t"), F.lit(-1).alias("d"))
    )
    agg = pts.groupBy("t").agg(F.sum("d").cast("bigint").alias("delta"))
    # the sweep's running sum over O(distinct instants) — which grows
    # with the event log — rides the distributed prefix sum
    # (operators/ranks.py), not a single-task window.
    from .ranks import with_global_cumsum

    sweep = with_global_cumsum(
        agg, [F.col("t")], F.col("delta"), out="concurrent"
    ).select("t", "concurrent")
    peak = sweep.agg(F.max("concurrent").alias("pk"))
    return (
        sweep.crossJoin(F.broadcast(peak))
        .agg(
            F.max("concurrent").cast("bigint").alias("peak_concurrency"),
            F.min(F.when(F.col("concurrent") == F.col("pk"), F.col("t")))
            .cast("bigint")
            .alias("first_peak_epoch"),
            F.count(F.lit(1)).cast("bigint").alias("n_change_points"),
        )
    )


# ---------------------------------------------------------------------------
# Croston's method (Croston 1972) — THE forecaster for intermittent
# demand (spare parts): separate EWMAs of nonzero demand size and
# inter-demand interval, forecast = size / interval. Integer micro-unit
# state with truncating-div updates (the ts_holt_winters device), so the
# DuckDB RECURSIVE-CTE twin replays every update exactly.

CROSTON_DEN = 10  # alpha = 1/10, as a truncating integer division
CROSTON_MICRO = 1000000
CROSTON_PART_MOD = 40  # registered sample: every 40th part's series


def _croston_tdiv(a: int, d: int) -> int:
    """Truncation-toward-zero division (Spark div / DuckDB //)."""
    q = abs(a) // d
    return q if a >= 0 else -q


@register(
    "ts_croston_intermittent",
    oracle=f"""
WITH RECURSIVE dem AS (
  SELECT l.l_partkey AS pk, CAST(o.o_orderdate AS DATE) AS d,
         CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_partkey % {CROSTON_PART_MOD} = 0
  GROUP BY 1, 2
),
seq AS (
  SELECT pk, d, qty,
    CAST(ROW_NUMBER() OVER (PARTITION BY pk ORDER BY d) AS BIGINT) AS rn,
    CAST(COALESCE(d - LAG(d) OVER (PARTITION BY pk ORDER BY d), 1)
         AS BIGINT) AS gap
  FROM dem
),
n_per AS (SELECT pk, MAX(rn) AS n FROM seq GROUP BY pk),
walk(pk, rn, z, p) AS (
  SELECT pk, rn, qty * {CROSTON_MICRO}, gap * {CROSTON_MICRO}
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.pk, s.rn,
    w.z + (s.qty * {CROSTON_MICRO} - w.z) // {CROSTON_DEN},
    w.p + (s.gap * {CROSTON_MICRO} - w.p) // {CROSTON_DEN}
  FROM walk w JOIN seq s ON s.pk = w.pk AND s.rn = w.rn + 1
),
fin AS (
  SELECT w.pk, w.z, w.p, n.n
  FROM walk w JOIN n_per n ON n.pk = w.pk AND w.rn = n.n
)
SELECT pk AS partkey, n AS n_demands,
  z AS size_micro, p AS interval_micro,
  CAST((z * {CROSTON_MICRO}) // p AS BIGINT) AS forecast_micro
FROM fin WHERE n >= 3
""",
    doc="Croston 1972 intermittent-demand forecast over per-part daily "
    "order quantities (the spare-parts domain the method was built "
    "for): EWMA of nonzero demand SIZE and of the inter-demand "
    "INTERVAL, updated only on demand occurrences, forecast = "
    "size/interval. State lives in micro-unit BIGINTs with truncating "
    "divisions (both engines truncate toward zero — the "
    "events_did_lift verification), so the DuckDB RECURSIVE CTE "
    "replays the whole trajectory; FULL value oracle. Spark side: ONE "
    "applyInPandas over the part key — millions of part series "
    "parallelize perfectly at 100 TB, only the within-series scan is "
    "sequential. Registered sample: every {mod}th part, >= 3 demands."
    .format(mod=CROSTON_PART_MOD),
)
def ts_croston_intermittent(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey") % CROSTON_PART_MOD == 0
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    dem = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("l_partkey").alias("pk"),
            F.col("o_orderdate").cast("date").alias("d"),
        )
        .agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("qty"))
    )

    out_schema = (
        "partkey bigint, n_demands bigint, size_micro bigint,"
        " interval_micro bigint, forecast_micro bigint"
    )

    def croston_series(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        n = len(pdf)
        if n < 3:
            return pd.DataFrame(
                columns=[
                    "partkey", "n_demands", "size_micro",
                    "interval_micro", "forecast_micro",
                ]
            )
        days = pdf["d"].tolist()
        z = int(pdf["qty"].iloc[0]) * CROSTON_MICRO
        p = 1 * CROSTON_MICRO  # first gap defaults to 1 day
        for t in range(1, n):
            gap = (days[t] - days[t - 1]).days
            qty = int(pdf["qty"].iloc[t])
            z = z + _croston_tdiv(qty * CROSTON_MICRO - z, CROSTON_DEN)
            p = p + _croston_tdiv(gap * CROSTON_MICRO - p, CROSTON_DEN)
        return pd.DataFrame(
            {
                "partkey": [int(pdf["pk"].iloc[0])],
                "n_demands": [n],
                "size_micro": [z],
                "interval_micro": [p],
                "forecast_micro": [
                    _croston_tdiv(z * CROSTON_MICRO, p)
                ],
            }
        )

    return dem.groupBy("pk").applyInPandas(croston_series, out_schema)


# ---------------------------------------------------------------------------
# Burstiness — Fano factor and the Goh-Barabasi burstiness parameter per
# event type: is this stream Poisson-like or bursty? The upstream sanity
# check for every anomaly detector in this module.


@register(
    "events_burstiness_fano",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT event_type,
    CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(x) AS BIGINT) AS s,
    CAST(SUM(x * x) AS BIGINT) AS ss
  FROM daily GROUP BY event_type
)
SELECT event_type, n, s AS total_events,
  ROUND(CAST(n * ss - s * s AS DOUBLE) / (n * (n - 1))
        / (CAST(s AS DOUBLE) / n), 6) AS fano_r6,
  ROUND((SQRT(CAST(n * ss - s * s AS DOUBLE) / (n * (n - 1)))
         - CAST(s AS DOUBLE) / n)
        / (SQRT(CAST(n * ss - s * s AS DOUBLE) / (n * (n - 1)))
           + CAST(s AS DOUBLE) / n), 6) AS burstiness_r6
FROM m WHERE n >= 2
""",
    doc="Burstiness profile per event type over daily counts: the Fano "
    "factor (variance/mean — 1 for Poisson, >1 overdispersed) and the "
    "Goh-Barabasi 2008 burstiness parameter B = (sigma-mu)/(sigma+mu) "
    "in [-1, 1]. Exact BIGINT cross-product moments, fixed-shape IEEE "
    "finishers shared verbatim with the oracle. One day rollup + one "
    "O(types) aggregate — the distribution-shape gate before trusting "
    "any Poisson-assuming alert threshold.",
)
def events_burstiness_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("ss"),
    ).filter(F.col("n") >= 2)
    return m.select(
        "event_type",
        "n",
        F.col("s").alias("total_events"),
        F.expr(
            "ROUND(CAST(n * ss - s * s AS DOUBLE) / (n * (n - 1))"
            " / (CAST(s AS DOUBLE) / n), 6)"
        ).alias("fano_r6"),
        F.expr(
            "ROUND((SQRT(CAST(n * ss - s * s AS DOUBLE) / (n * (n - 1)))"
            " - CAST(s AS DOUBLE) / n)"
            " / (SQRT(CAST(n * ss - s * s AS DOUBLE) / (n * (n - 1)))"
            " + CAST(s AS DOUBLE) / n), 6)"
        ).alias("burstiness_r6"),
    )


# ---------------------------------------------------------------------------
# Value-segment migration — the customer-base flow report: which value
# tertile did each buyer move to between the first and second half of
# the observation window (including churn/new)?


@register(
    "events_segment_migration",
    oracle="""
WITH bounds AS (
  SELECT (CAST(MIN(CAST(ts AS DATE)) - DATE '1970-01-01' AS BIGINT)
        + CAST(MAX(CAST(ts AS DATE)) - DATE '1970-01-01' AS BIGINT) + 1)
        // 2 AS split_d
  FROM events
),
per AS MATERIALIZED (
  SELECT user_id,
    CASE WHEN CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
              < b.split_d THEN 'h1' ELSE 'h2' END AS half,
    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events, bounds b
  GROUP BY 1, 2
),
-- seg MATERIALIZED (r13): h1 and h2 both reference it; inlining replays
-- the NTILE window + per-user aggregate per reference
seg AS MATERIALIZED (
  SELECT user_id, half,
    NTILE(3) OVER (PARTITION BY half ORDER BY cents, user_id) AS tertile
  FROM per
),
h1 AS (SELECT user_id, tertile FROM seg WHERE half = 'h1'),
h2 AS (SELECT user_id, tertile FROM seg WHERE half = 'h2'),
flow AS (
  SELECT COALESCE('t' || CAST(h1.tertile AS VARCHAR), 'new') AS seg_from,
         COALESCE('t' || CAST(h2.tertile AS VARCHAR), 'churned') AS seg_to
  FROM h1 FULL OUTER JOIN h2 USING (user_id)
)
SELECT seg_from, seg_to, CAST(COUNT(*) AS BIGINT) AS n_customers
FROM flow GROUP BY seg_from, seg_to
""",
    doc="Customer value-segment migration between the two halves of the "
    "observation window (data-anchored integer split): per-half value "
    "tertiles via deterministic NTILE (cents, user_id tie-break), then "
    "a FULL OUTER per-user join so churned and newly-activated users "
    "are first-class flows. The customer-base Sankey every retention "
    "team draws; exact integers end to end. Two Exchange(user_id) "
    "passes + one O(16)-row aggregate.",
)
def events_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    bounds = events.agg(
        F.expr(
            "(CAST(datediff(MIN(CAST(ts AS DATE)), DATE '1970-01-01')"
            " AS BIGINT)"
            " + CAST(datediff(MAX(CAST(ts AS DATE)), DATE '1970-01-01')"
            " AS BIGINT) + 1) div 2"
        ).alias("split_d")
    )
    day_num = F.expr(
        "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)"
    )
    per = (
        events.crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.when(day_num < F.col("split_d"), "h1")
            .otherwise("h2")
            .alias("half"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("user_id", "half")
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )
    seg = per.select(
        "user_id",
        "half",
        F.ntile(3)
        .over(Window.partitionBy("half").orderBy("cents", "user_id"))
        .alias("tertile"),
    )
    h1 = seg.filter(F.col("half") == "h1").select(
        "user_id", F.col("tertile").alias("t1")
    )
    h2 = seg.filter(F.col("half") == "h2").select(
        "user_id", F.col("tertile").alias("t2")
    )
    flow = h1.join(h2, "user_id", "full_outer").select(
        F.coalesce(
            F.concat(F.lit("t"), F.col("t1").cast("string")), F.lit("new")
        ).alias("seg_from"),
        F.coalesce(
            F.concat(F.lit("t"), F.col("t2").cast("string")),
            F.lit("churned"),
        ).alias("seg_to"),
    )
    return flow.groupBy("seg_from", "seg_to").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers")
    )


# ---------------------------------------------------------------------------
# Markov entropy rate — how predictable is the user journey? H =
# -sum_s w_s sum_t p(t|s) ln p(t|s), weighted by the EMPIRICAL state
# frequency (documented choice: the stationary distribution would need a
# solve; empirical weights make the statistic exact and mergeable).


@register(
    "events_entropy_rate_markov",
    oracle="""
WITH trans AS (
  SELECT user_id, event_type AS s,
    LEAD(event_type) OVER (PARTITION BY user_id
                           ORDER BY ts, event_type) AS t
  FROM events
),
tt AS (SELECT s, t FROM trans WHERE t IS NOT NULL),
c_st AS (SELECT s, t, CAST(COUNT(*) AS BIGINT) AS c FROM tt GROUP BY s, t),
c_s AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS cs FROM tt GROUP BY s),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tt),
terms AS (
  SELECT c_st.s,
    CAST(FLOOR(-1000000000.0
      * (CAST(c_st.c AS DOUBLE) / n.n)
      * LN(CAST(c_st.c AS DOUBLE) / c_s.cs)) AS BIGINT) AS term_nano
  FROM c_st JOIN c_s USING (s), n
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_transitions_kinds,
  CAST(SUM(term_nano) AS BIGINT) AS entropy_rate_nano,
  ROUND(EXP(SUM(term_nano) / 1000000000.0), 6) AS perplexity_r6
FROM terms
""",
    doc="Entropy rate of the first-order user-journey Markov chain: "
    "H = -sum over (s,t) of (c_st/n) * ln(c_st/c_s) — empirical state "
    "weights (not the stationary solve; documented, and what makes the "
    "statistic exact and shard-mergeable), each term quantized to nano "
    "BIGINT before the order-free sum; exp(H) is the journey "
    "perplexity. All division operands are exact integers cast to "
    "DOUBLE (the DECIMAL-literal rule). One LEAD window + two "
    "transition aggregates; the predictability complement to "
    "events_markov_transitions.",
)
def events_entropy_rate_markov(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_type")
    tt = events.select(
        F.col("event_type").alias("s"),
        F.lead("event_type").over(w).alias("t"),
    ).filter(F.col("t").isNotNull())
    c_st = tt.groupBy("s", "t").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    c_s = tt.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("cs"))
    n = tt.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    terms = (
        c_st.join(F.broadcast(c_s), "s")
        .crossJoin(F.broadcast(n))
        .select(
            F.expr(
                "CAST(FLOOR(-1000000000.0"
                " * (CAST(c AS DOUBLE) / n)"
                " * LN(CAST(c AS DOUBLE) / cs)) AS BIGINT)"
            ).alias("term_nano")
        )
    )
    return terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_transitions_kinds"),
        F.sum("term_nano").cast("bigint").alias("entropy_rate_nano"),
        F.expr(
            "ROUND(EXP(SUM(term_nano) / 1000000000.0), 6)"
        ).alias("perplexity_r6"),
    )


# ---------------------------------------------------------------------------
# Attribution-window sensitivity — how much does the funnel conversion
# rate depend on the chosen view->purchase window? The
# pick-your-window-honestly report.

CONV_WINDOWS_H = (1, 6, 24)


@register(
    "events_conversion_window_sensitivity",
    oracle=f"""
WITH v AS (
  SELECT event_id, user_id, CAST(epoch_ms(ts) // 1000 AS BIGINT) AS vt
  FROM events WHERE event_type = 'view'
),
p AS (
  SELECT user_id, CAST(epoch_ms(ts) // 1000 AS BIGINT) AS pt
  FROM events WHERE event_type = 'purchase'
),
ws AS (SELECT CAST(unnest({list(CONV_WINDOWS_H)}) AS BIGINT) AS w_h),
-- keyed by event_id: two views of one user on the same epoch-second are
-- distinct funnel entries (altseed_b had exactly such a collision)
converted AS (
  SELECT ws.w_h, v.event_id,
    CAST(MAX(CASE WHEN p.pt > v.vt
                  AND p.pt <= v.vt + ws.w_h * 3600
             THEN 1 ELSE 0 END) AS BIGINT) AS conv
  FROM v CROSS JOIN ws
  LEFT JOIN p ON p.user_id = v.user_id
  GROUP BY ws.w_h, v.event_id
)
SELECT w_h AS window_hours,
  CAST(COUNT(*) AS BIGINT) AS n_views,
  CAST(SUM(conv) AS BIGINT) AS n_converted,
  CAST((SUM(conv) * 1000000) // COUNT(*) AS BIGINT) AS conv_rate_ppm
FROM converted GROUP BY w_h
""",
    doc="Attribution-window sensitivity of view->purchase conversion at "
    "1/6/24-hour windows: per view, did ANY same-user purchase land "
    "inside the window (exact integer epoch-seconds). The "
    "methodology-honesty report behind events_funnel_conversion's "
    "single window. Spark plan: per-user compact purchase ARRAY "
    "broadcast-free via one Exchange(user_id) + an array EXISTS per "
    "window — never the quadratic view x purchase join the oracle "
    "states. Rates as exact ppm.",
)
def events_conversion_window_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    sec = F.expr("CAST(unix_millis(ts) div 1000 AS BIGINT)")
    v = events.filter(F.col("event_type") == "view").select(
        "user_id", sec.alias("vt")
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .select("user_id", sec.alias("pt"))
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list("pt")).alias("pts"))
    )
    joined = v.join(p, "user_id", "left")
    rows = []
    for w_h in CONV_WINDOWS_H:
        conv = F.when(
            F.col("pts").isNotNull()
            & F.exists(
                F.col("pts"),
                lambda t: (t > F.col("vt"))
                & (t <= F.col("vt") + w_h * 3600),
            ),
            1,
        ).otherwise(0)
        rows.append(
            joined.select(
                F.lit(int(w_h)).cast("bigint").alias("window_hours"),
                conv.alias("conv"),
            )
        )
    allw = rows[0]
    for r in rows[1:]:
        allw = allw.unionAll(r)
    return allw.groupBy("window_hours").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_views"),
        F.sum("conv").cast("bigint").alias("n_converted"),
        F.expr(
            "CAST((SUM(conv) * 1000000) div COUNT(*) AS BIGINT)"
        ).alias("conv_rate_ppm"),
    )


# ---------------------------------------------------------------------------
# Granger-lite causality (Granger 1969): does yesterday's VIEW volume
# improve the prediction of today's PURCHASE volume beyond purchase's own
# lag? F-test between the restricted (y ~ y_lag) and full
# (y ~ y_lag + x_lag) OLS fits, both in closed form from exact moments.

_GR_M = (
    "CAST(n * s11 - s1 * s1 AS DOUBLE) AS m11, "
    "CAST(n * s22 - s2 * s2 AS DOUBLE) AS m22, "
    "CAST(n * s12 - s1 * s2 AS DOUBLE) AS m12, "
    "CAST(n * s1y - s1 * sy AS DOUBLE) AS m1y, "
    "CAST(n * s2y - s2 * sy AS DOUBLE) AS m2y, "
    "CAST(n * syy - sy * sy AS DOUBLE) AS myy"
)
# RSS (x n for both models — the common factor cancels in F):
_GR_RSS_R = "(myy - m1y * m1y / m11)"
_GR_RSS_F = (
    "(myy - (m22 * m1y * m1y - 2.0 * m12 * m1y * m2y + m11 * m2y * m2y)"
    " / (m11 * m22 - m12 * m12))"
)
# Degenerate guards (identical CASE in both engines): a constant y_lag
# (m11 = 0), a collinear pair (det = 0), or a PERFECT full fit
# (RSS_f = 0, seen in the planted-causality fixture) yield NULL instead
# of an ANSI divide-by-zero / a DuckDB inf.
_GR_DET = "(m11 * m22 - m12 * m12)"
_GR_F = (
    f"CASE WHEN m11 > 0 AND {_GR_DET} > 0 AND ({_GR_RSS_F}) > 0"
    f" THEN (({_GR_RSS_R} - {_GR_RSS_F}) * (n - 3.0)) / ({_GR_RSS_F})"
    f" END"
)


@register(
    "events_granger_views_purchases",
    oracle=f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)
      AS x,
    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         AS BIGINT) AS y
  FROM events GROUP BY 1
),
lagged AS (
  SELECT day, y,
    LAG(y) OVER (ORDER BY day) AS y1,
    LAG(x) OVER (ORDER BY day) AS x1
  FROM daily
),
t AS (SELECT y, y1 AS v1, x1 AS v2 FROM lagged WHERE y1 IS NOT NULL),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(v1) AS BIGINT) AS s1, CAST(SUM(v2) AS BIGINT) AS s2,
    CAST(SUM(y) AS BIGINT) AS sy,
    CAST(SUM(v1 * v1) AS BIGINT) AS s11,
    CAST(SUM(v2 * v2) AS BIGINT) AS s22,
    CAST(SUM(v1 * v2) AS BIGINT) AS s12,
    CAST(SUM(v1 * y) AS BIGINT) AS s1y,
    CAST(SUM(v2 * y) AS BIGINT) AS s2y,
    CAST(SUM(y * y) AS BIGINT) AS syy
  FROM t
),
d AS (SELECT n, {_GR_M} FROM m)
SELECT n AS n_days,
  CASE WHEN m11 > 0 THEN ROUND({_GR_RSS_R} / (n * n), 6) END
    AS rss_restricted_r6,
  CASE WHEN {_GR_DET} > 0 THEN ROUND({_GR_RSS_F} / (n * n), 6) END
    AS rss_full_r6,
  ROUND({_GR_F}, 6) AS f_stat_r6
FROM d
""",
    doc="Granger 1969 causality screen: F = ((RSS_r - RSS_f)/1) / "
    "(RSS_f/(n-3)) between y ~ y_lag (restricted) and y ~ y_lag + x_lag "
    "(full), x = daily views, y = daily purchases, both OLS fits in "
    "CLOSED FORM (Cramer on the 2x2 centered-moment matrix) from exact "
    "BIGINT n-scaled cross-products; every float expression is one "
    "fixed shape shared verbatim with the oracle. Significance is the "
    "reader's F(1, n-3) lookup — n varies by corpus, so no baked "
    "critical value. One day rollup + one LAG window + a 1-row finish.",
)
def events_granger_views_purchases(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        F.sum((F.col("event_type") == "view").cast("int"))
        .cast("bigint")
        .alias("x"),
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .cast("bigint")
        .alias("y"),
    )
    w = Window.orderBy("day")
    t = daily.select(
        "y",
        F.lag("y").over(w).alias("v1"),
        F.lag("x").over(w).alias("v2"),
    ).filter(F.col("v1").isNotNull())
    m = t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v1").cast("bigint").alias("s1"),
        F.sum("v2").cast("bigint").alias("s2"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("v1") * F.col("v1")).cast("bigint").alias("s11"),
        F.sum(F.col("v2") * F.col("v2")).cast("bigint").alias("s22"),
        F.sum(F.col("v1") * F.col("v2")).cast("bigint").alias("s12"),
        F.sum(F.col("v1") * F.col("y")).cast("bigint").alias("s1y"),
        F.sum(F.col("v2") * F.col("y")).cast("bigint").alias("s2y"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    d = m.selectExpr("n", *_GR_M.split(", "))
    return d.select(
        F.col("n").alias("n_days"),
        F.expr(
            f"CASE WHEN m11 > 0 THEN ROUND({_GR_RSS_R} / (n * n), 6) END"
        ).alias("rss_restricted_r6"),
        F.expr(
            f"CASE WHEN {_GR_DET} > 0"
            f" THEN ROUND({_GR_RSS_F} / (n * n), 6) END"
        ).alias("rss_full_r6"),
        F.expr(f"ROUND({_GR_F}, 6)").alias("f_stat_r6"),
    )


# ---------------------------------------------------------------------------
# DAU/MAU stickiness — the product-health ratio: what share of a month's
# actives show up on an average day?


@register(
    "events_stickiness_dau_mau",
    oracle="""
WITH d AS (
  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
  FROM events
),
dau AS (
  SELECT CAST(date_trunc('month', day) AS DATE) AS month,
         day, CAST(COUNT(*) AS BIGINT) AS dau
  FROM d GROUP BY 1, 2
),
mau AS (
  SELECT CAST(date_trunc('month', day) AS DATE) AS month,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
  FROM d GROUP BY 1
),
m AS (
  SELECT dau.month,
    CAST(COUNT(*) AS BIGINT) AS n_days,
    CAST(SUM(dau.dau) AS BIGINT) AS dau_sum,
    MAX(mau.mau) AS mau
  FROM dau JOIN mau USING (month)
  GROUP BY dau.month
)
SELECT month, n_days, dau_sum, mau,
  CAST((dau_sum * 1000000) // (n_days * mau) AS BIGINT)
    AS stickiness_ppm
FROM m
""",
    doc="DAU/MAU stickiness per calendar month (the product-health "
    "ratio): average daily actives over monthly actives, exact integer "
    "ppm — avg DAU computed as the integer dau_sum over n_days so no "
    "float mean enters the quotient. One (user, day) dedup + two "
    "rollups; the engagement-intensity complement to events_dau_wau's "
    "trailing window.",
)
def events_stickiness_dau_mau(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    d = events.select(
        F.date_trunc("day", "ts").cast("date").alias("day"), "user_id"
    ).distinct()
    dau = d.groupBy(
        F.date_trunc("month", "day").cast("date").alias("month"), "day"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("dau"))
    mau = d.groupBy(
        F.date_trunc("month", "day").cast("date").alias("month")
    ).agg(F.count_distinct("user_id").cast("bigint").alias("mau"))
    m = dau.join(mau, "month").groupBy("month").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("dau").cast("bigint").alias("dau_sum"),
        F.max("mau").cast("bigint").alias("mau"),
    )
    return m.select(
        "month",
        "n_days",
        "dau_sum",
        "mau",
        F.expr(
            "CAST((dau_sum * 1000000) div (n_days * mau) AS BIGINT)"
        ).alias("stickiness_ppm"),
    )


# ---------------------------------------------------------------------------
# CEP pattern matching — MATCH_RECOGNIZE semantics (which Spark lacks as
# SQL syntax) re-expressed as a regex over the per-session event-initial
# string: sessions whose journey matches view .. click .. purchase with
# no intervening purchase.

CEP_PATTERN = "v[^p]*c[^p]*p"  # v(iew) then c(lick) then p(urchase),
# no purchase allowed in the gaps — simple char classes only, identical
# semantics in Java regex (Spark) and RE2 (DuckDB)


@register(
    "events_pattern_match_cep",
    oracle=f"""
WITH seq AS (
  SELECT user_id,
    string_agg(substring(event_type, 1, 1), '' ORDER BY ts, event_id)
      AS journey
  FROM events GROUP BY user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
  CAST(SUM(CASE WHEN regexp_matches(journey, '{CEP_PATTERN}')
           THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
  CAST((SUM(CASE WHEN regexp_matches(journey, '{CEP_PATTERN}')
            THEN 1 ELSE 0 END) * 1000000) // COUNT(*) AS BIGINT)
    AS match_ppm,
  CAST(MAX(length(journey)) AS BIGINT) AS longest_journey
FROM seq
""",
    doc="Complex-event-processing pattern match (the MATCH_RECOGNIZE "
    "semantics Spark lacks as syntax): each user's journey collapses to "
    "an ordered event-initial string (deterministic (ts, event_id) "
    "order), and the funnel-with-exclusion pattern v[^p]*c[^p]*p — "
    "view, later click, later purchase, with no EARLIER purchase "
    "intervening — is one regex both engines' dialects (Java regex / "
    "RE2) treat identically at this character-class complexity. One "
    "Exchange(user_id) + a per-user sort inside the aggregation; "
    "journeys are bounded by per-user activity, not corpus size.",
)
def events_pattern_match_cep(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    seq = events.groupBy("user_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("ts", "event_id",
                                 F.substring("event_type", 1, 1)
                                 .alias("c"))
                    )
                ),
                lambda s: s["c"],
            ),
        ).alias("journey")
    )
    matched = F.col("journey").rlike(CEP_PATTERN)
    return seq.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(matched.cast("int")).cast("bigint").alias("n_matched"),
        F.expr(
            f"CAST((SUM(CASE WHEN journey RLIKE '{CEP_PATTERN}'"
            " THEN 1 ELSE 0 END) * 1000000) div COUNT(*) AS BIGINT)"
        ).alias("match_ppm"),
        F.max(F.length("journey")).cast("bigint").alias("longest_journey"),
    )


# ---------------------------------------------------------------------------
# Wald-Wolfowitz runs test (1940) — is the daily revenue series random
# around its median, or does it trend/cluster? The nonparametric
# randomness gate before fitting any trend model.


@register(
    "ts_runs_test_randomness",
    oracle="""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      AS cents
  FROM orders GROUP BY 1
),
med AS (
  SELECT cents AS m FROM (
    SELECT cents, ROW_NUMBER() OVER (ORDER BY cents, day) AS rn,
           COUNT(*) OVER () AS n
    FROM daily
  ) WHERE rn = (n + 1) // 2
),
signs AS (
  SELECT day, CASE WHEN cents > med.m THEN 1 ELSE 0 END AS s
  FROM daily, med WHERE cents <> med.m
),
runs AS (
  SELECT s,
    CASE WHEN LAG(s) OVER (ORDER BY day) IS NULL
         OR LAG(s) OVER (ORDER BY day) <> s THEN 1 ELSE 0 END AS newrun
  FROM signs
),
m AS (
  SELECT CAST(SUM(newrun) AS BIGINT) AS r,
    CAST(SUM(s) AS BIGINT) AS n1,
    CAST(SUM(1 - s) AS BIGINT) AS n2
  FROM runs
)
SELECT r AS n_runs, n1 AS n_above, n2 AS n_below,
  CASE WHEN n1 > 0 AND n2 > 0 THEN
    ROUND(1.0 + 2.0 * CAST(n1 AS DOUBLE) * n2 / (n1 + n2), 6)
  END AS expected_runs_r6,
  CASE WHEN n1 > 0 AND n2 > 0 THEN
    ROUND((r - (1.0 + 2.0 * CAST(n1 AS DOUBLE) * n2 / (n1 + n2)))
          / SQRT(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                 / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))), 6)
  END AS z_r6
FROM m
""",
    doc="Wald-Wolfowitz runs test (1940) on the daily-revenue series "
    "around its lower median (median days excluded, the standard "
    "treatment): observed vs expected run count and the normal-"
    "approximation z, from exact integer run/sign counts with one "
    "fixed-shape IEEE finish. |z| >> 2 means trending or oscillating — "
    "the randomness gate before ts_theil_sen_trend or any forecaster. "
    "One rollup + one ordered LAG pass.",
)
def ts_runs_test_randomness(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    ranked = daily.select(
        "day",
        "cents",
        F.row_number().over(Window.orderBy("cents", "day")).alias("rn"),
        F.count(F.lit(1))
        .over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("n"),
    )
    med = ranked.filter(
        F.col("rn") == F.expr("(n + 1) div 2")
    ).select(F.col("cents").alias("m"))
    signs = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("cents") != F.col("m"))
        .select(
            "day",
            F.when(F.col("cents") > F.col("m"), 1).otherwise(0).alias("s"),
        )
    )
    w = Window.orderBy("day")
    runs = signs.select(
        "s",
        F.when(
            F.lag("s").over(w).isNull() | (F.lag("s").over(w) != F.col("s")),
            1,
        )
        .otherwise(0)
        .alias("newrun"),
    )
    m = runs.agg(
        F.sum("newrun").cast("bigint").alias("r"),
        F.sum("s").cast("bigint").alias("n1"),
        F.sum(1 - F.col("s")).cast("bigint").alias("n2"),
    )
    return m.select(
        F.col("r").alias("n_runs"),
        F.col("n1").alias("n_above"),
        F.col("n2").alias("n_below"),
        F.expr(
            "CASE WHEN n1 > 0 AND n2 > 0 THEN"
            " ROUND(1.0 + 2.0 * CAST(n1 AS DOUBLE) * n2 / (n1 + n2), 6)"
            " END"
        ).alias("expected_runs_r6"),
        F.expr(
            "CASE WHEN n1 > 0 AND n2 > 0 THEN"
            " ROUND((r - (1.0 + 2.0 * CAST(n1 AS DOUBLE) * n2"
            " / (n1 + n2)))"
            " / SQRT(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)"
            " / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))), 6) END"
        ).alias("z_r6"),
    )
