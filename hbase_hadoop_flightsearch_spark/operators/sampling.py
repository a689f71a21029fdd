"""Deterministic sampling & dataset-split operators (training-pipeline
extensions; SURVEY.md §2b family).

Random sampling (`df.sample`) is non-reproducible across runs, engines,
and partitionings — useless for a 100 TB corpus where the train/test
split must be stable under re-ingest, backfill, and engine migration. The
production pattern is CONTENT-ADDRESSED sampling: order or bucket rows by
a cryptographic hash of a stable key. md5 is engine-portable (Spark and
DuckDB produce identical lowercase hex), so every query here is
value-exact oracle-able — sampling with a correctness proof.

Scale notes (100 TB):
  * hash split: a pure per-row projection — zero shuffles, embarrassingly
    parallel, deterministic under any partitioning.
  * stratified top-n: one shuffle on the stratum key; Spark 3.5+'s
    WindowGroupLimit prunes each partition to n rows per stratum BEFORE
    the exchange, so shuffle volume is O(strata * n * partitions), not
    O(rows).
  * uniform top-n: TakeOrderedAndProject — per-partition heaps merged at
    the driver, no global sort, O(n) driver memory.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.registry import register
from ..sources.catalog import load_table
from .iterate import iterate, materialize


def _md5_of(col: str):
    return F.md5(F.col(col).cast("string").cast("binary"))


@register(
    "sample_hash_split",
    oracle="""
SELECT doc_id, lang, bucket,
  CASE WHEN bucket < 8 THEN 'train' ELSE 'test' END AS split
FROM (
  SELECT doc_id, lang,
    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 10
      AS bucket
  FROM documents
)
""",
    doc="Deterministic 80/20 train-test split by md5 bucket of doc_id — "
    "reproducible across runs, engines, and repartitioning; zero shuffles.",
)
def sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bucket = int(md5(doc_id)[:4], 16) % 10; < 8 -> train. Adding docs
    later never reassigns existing ones (unlike modulo over row_number),
    so the split is append-stable — the property leakage audits require."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(_md5_of("doc_id"), 1, 4), 16, 10).cast("int") % 10
    )
    return docs.select(
        "doc_id",
        "lang",
        bucket.alias("bucket"),
        F.when(bucket < 8, "train").otherwise("test").alias("split"),
    )


@register(
    "sample_stratified_orders",
    oracle="""
SELECT o_orderkey, o_orderpriority, rn
FROM (
  SELECT o_orderkey, o_orderpriority,
    ROW_NUMBER() OVER (
      PARTITION BY o_orderpriority
      ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey
    ) AS rn
  FROM orders
)
WHERE rn <= 50
""",
    doc="Stratified sample: 50 orders per priority class, chosen by md5 "
    "order (deterministic pseudo-random) — WindowGroupLimit prunes "
    "partitions before the single stratum shuffle.",
)
def sample_stratified_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-size per-stratum sample. Hash order makes it unbiased w.r.t.
    any storage order; the orderkey tiebreak makes it total (md5
    collisions on distinct keys are not a practical concern, but the
    determinism contract shouldn't rest on that)."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy(_md5_of("o_orderkey"), F.col("o_orderkey"))
    )
    return (
        orders.select(
            "o_orderkey",
            "o_orderpriority",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 50)
    )


@register(
    "sample_uniform_topn",
    oracle="""
SELECT o_orderkey, md5(CAST(o_orderkey AS VARCHAR)) AS h
FROM orders
ORDER BY h, o_orderkey
LIMIT 200
""",
    doc="Global deterministic uniform sample: 200 orders by md5 order — "
    "plans as TakeOrderedAndProject (per-partition heaps, no full sort).",
)
def sample_uniform_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", _md5_of("o_orderkey").alias("h"))
        .orderBy("h", "o_orderkey")
        .limit(200)
    )


WEIGHTED_SAMPLE_N = 100


@register(
    "sample_weighted_aes",
    oracle=f"""
WITH keyed AS (
  SELECT doc_id, n_chars AS weight,
    pow((CAST(concat('0x',
           substr(md5('r1' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
         + 0.5) / 4294967296.0,
        1.0 / n_chars) AS aes_key
  FROM documents
)
SELECT doc_id, weight, aes_key FROM keyed
ORDER BY aes_key DESC, doc_id LIMIT {WEIGHTED_SAMPLE_N}
""",
    doc="Weighted sampling without replacement (Efraimidis-Spirakis A-ES): "
    "top-n documents by md5-derived u^(1/weight), weight = n_chars. "
    "Deterministic for a fixed salt, reproducible across runs and "
    "repartitionings; inclusion probability ∝ weight (statistically "
    "tested over many salts). Exact value oracle: measured Spark-vs-"
    "DuckDB key agreement is BIT-IDENTICAL at every shipped SF (same "
    "integer conv, same IEEE pow), and the margin between the last kept "
    "and first dropped key is 1e-7..1e-5 — eleven orders of magnitude "
    "above double ulp — so the rank cut cannot flip across engines.",
)
def sample_weighted_aes(
    spark: SparkSession, sf_dir: str, salt: str = "r1"
) -> DataFrame:
    """The A-ES key u^(1/w) makes 'take the n largest keys' exactly a
    weighted sample without replacement. u comes from the first 8 md5 hex
    digits of (salt || doc_id) — content-addressed like every sampler
    here, so backfills don't reshuffle the sample. Plans as
    TakeOrderedAndProject: per-partition heaps, no global sort."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(
        F.concat(F.lit(salt), F.col("doc_id").cast("string")).cast("binary")
    )
    u = (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("double") + 0.5
    ) / F.lit(4294967296.0)
    key = F.pow(u, 1.0 / F.col("n_chars").cast("double"))
    return (
        docs.select(
            "doc_id",
            F.col("n_chars").alias("weight"),
            key.alias("aes_key"),
        )
        .orderBy(F.desc("aes_key"), "doc_id")
        .limit(WEIGHTED_SAMPLE_N)
    )


SOURCE_QUOTA = 40  # max documents kept per source


@register(
    "sample_per_source_quota",
    oracle=f"""
WITH ranked AS (
  SELECT doc_id, source,
    ROW_NUMBER() OVER (
      PARTITION BY source
      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
    ) AS rn
  FROM documents
)
SELECT doc_id, source, CAST(rn AS INT) AS rn
FROM ranked WHERE rn <= {SOURCE_QUOTA}
""",
    doc="Corpus balancing by per-source quota (LLM-pipeline op): keep at "
    f"most {SOURCE_QUOTA} documents per source, chosen by md5 rank — the "
    "domain-cap step of web-corpus prep (prevents one crawl domain from "
    "dominating the training mix). Content-addressed (md5 of doc_id), so "
    "the kept set is stable across runs, partitionings, and backfills; "
    "md5 is bit-identical across engines, so the oracle is exact.",
)
def sample_per_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plans as a single Exchange(source) + WindowGroupLimit: Spark pushes
    the rn <= quota filter below the shuffle (partial top-k per mapper),
    so the exchange carries at most quota rows per (mapper, source) — at
    100 TB the shuffle is O(sources * quota * mappers), not O(corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        _md5_of("doc_id"), F.col("doc_id")
    )
    return (
        docs.select(
            "doc_id", "source", F.row_number().over(w).cast("int").alias("rn")
        )
        .filter(F.col("rn") <= SOURCE_QUOTA)
    )


@register(
    "sample_group_split",
    oracle="""
WITH assigned AS (
  SELECT user_id,
    CASE
      WHEN CAST(concat('0x', substr(md5('split1' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 < 8 THEN 'train'
      WHEN CAST(concat('0x', substr(md5('split1' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 < 9 THEN 'val'
      ELSE 'test'
    END AS split
  FROM (SELECT DISTINCT user_id FROM events)
)
SELECT a.split, COUNT(*) AS n_events,
  COUNT(DISTINCT e.user_id) AS n_users
FROM events e JOIN assigned a USING (user_id)
GROUP BY a.split
""",
    doc="Group-aware train/val/test split (LLM-pipeline op): the split is "
    "assigned per USER (md5 of user_id, 80/10/10), and every event "
    "inherits its user's split — so no user's data straddles train and "
    "eval, the leakage-prevention property row-level splits (e.g. "
    "sample_hash_split) cannot give. Content-addressed: stable across "
    "runs, partitionings, and backfills; md5 is cross-engine exact.",
)
def sample_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the split column is a pure expression on the grouping
    key — computed inline during the scan (no assignment table, no join
    at 100 TB; the oracle's join formulation is only for SQL clarity).
    The summary output (events/users per split) keeps the driver check
    O(3) while the underlying per-row assignment is what a pipeline
    would write out."""
    events = load_table(spark, sf_dir, "events")
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("split1"), F.col("user_id").cast("string")
                    ).cast("binary")
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 10
    )
    split = (
        F.when(bucket < 8, "train").when(bucket < 9, "val").otherwise("test")
    )
    return (
        events.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@register(
    "sample_class_rebalance",
    oracle="""
WITH labeled AS (
  SELECT event_id,
    CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_pos
  FROM events
),
n_pos AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM labeled
          WHERE is_pos = 1),
ranked_neg AS (
  SELECT event_id,
    ROW_NUMBER() OVER (ORDER BY md5(CAST(event_id AS VARCHAR)), event_id)
      AS rn
  FROM labeled WHERE is_pos = 0
)
SELECT event_id, 1 AS label FROM labeled WHERE is_pos = 1
UNION ALL
SELECT event_id, 0 FROM ranked_neg WHERE rn <= (SELECT k FROM n_pos)
ORDER BY label, event_id
""",
    doc="Deterministic class rebalancing (ML prep): keep every positive "
    "('error' events) and downsample the majority class to EXACTLY 1:1 "
    "by md5-rank — the same salted-hash determinism as the split "
    "operators, so the rebalanced set is reproducible, append-order-"
    "independent, and auditable (no rand(), no stage-retry "
    "divergence). Spark shape: one scan, the positive count broadcast "
    "as one row, the negatives ranked by md5 through the distributed "
    "row-number primitive (ranks.py — range split on the hash "
    "+ per-partition window + broadcast offsets, no single-task sort; "
    "the hash key is uniform so the range partitions are balanced by "
    "construction); output 2*k rows.",
)
def sample_class_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ranks import with_global_row_number

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type"
    )
    pos = events.filter(F.col("event_type") == "error").select(
        "event_id", F.lit(1).alias("label")
    )
    k = pos.agg(F.count(F.lit(1)).alias("k"))
    neg = (
        with_global_row_number(
            events.filter(F.col("event_type") != "error").withColumn(
                "h", F.md5(F.col("event_id").cast("string"))
            ),
            [F.col("h"), F.col("event_id")],
            out="rn",
        )
        .join(F.broadcast(k))
        .filter(F.col("rn") <= F.col("k"))
        .select("event_id", F.lit(0).alias("label"))
    )
    return pos.unionByName(neg).orderBy("label", "event_id")


# ---------------------------------------------------------------------------
# DSIR: data selection via importance resampling (hashed-feature weights)
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 256  # hashed-unigram feature space (DSIR hashes n-grams
# into a fixed bucket count so the two LMs are bounded artifacts —
# 256 counts each — regardless of vocabulary or corpus size)
DSIR_TARGET_SOURCE = "src0"  # proxy target domain (the 'wiki side')
DSIR_MICRO = 1000000
DSIR_TOPK = 50


@register(
    "sample_importance_dsir",
    oracle=f"""
WITH tok AS (
  SELECT d.doc_id, d.source,
    (list_aggregate(
       [(ascii(t.token[i]) * 31 + i) % 1000003
        for i in range(1, length(t.token) + 1)], 'sum')
     % {DSIR_BUCKETS}) AS b
  FROM documents d,
    (SELECT doc_id, unnest(string_split(text, ' ')) AS token
     FROM documents) t
  WHERE t.doc_id = d.doc_id
),
tgt AS (
  SELECT b, COUNT(*) AS c FROM tok
  WHERE source = '{DSIR_TARGET_SOURCE}' GROUP BY b
),
raw AS (SELECT b, COUNT(*) AS c FROM tok GROUP BY b),
tgt_tot AS (SELECT SUM(c) AS t FROM tgt),
raw_tot AS (SELECT SUM(c) AS t FROM raw),
llr AS (
  SELECT raw.b,
    CAST(FLOOR(ln((COALESCE(tgt.c, 0) + 1.0)
                  / ((SELECT t FROM tgt_tot) + {DSIR_BUCKETS}))
               * {DSIR_MICRO}) AS BIGINT)
    - CAST(FLOOR(ln((raw.c + 1.0)
                    / ((SELECT t FROM raw_tot) + {DSIR_BUCKETS}))
                 * {DSIR_MICRO}) AS BIGINT) AS llr_micro
  FROM raw LEFT JOIN tgt USING (b)
),
docw AS (
  SELECT tok.doc_id,
    CAST(SUM(llr.llr_micro) AS BIGINT) AS logweight_micro,
    CAST(COUNT(*) AS BIGINT) AS n_tokens
  FROM tok JOIN llr USING (b)
  WHERE tok.source != '{DSIR_TARGET_SOURCE}'
  GROUP BY tok.doc_id
)
SELECT CAST(ROW_NUMBER() OVER (
         ORDER BY logweight_micro * 1.0 / n_tokens DESC, doc_id)
       AS INT) AS rnk,
  doc_id, n_tokens, logweight_micro
FROM docw
QUALIFY rnk <= {DSIR_TOPK}
ORDER BY rnk
""",
    doc="Data Selection via Importance Resampling (the DSIR pipeline "
    "stage of Xie et al. 2023): train two hashed-unigram bag-of-words "
    f"LMs — target = source '{DSIR_TARGET_SOURCE}' docs, raw = whole "
    f"corpus — over a FIXED {DSIR_BUCKETS}-bucket hashed feature "
    "space, weight every non-target document by its target/raw "
    "log-likelihood ratio, and emit the top-50 per-token-normalized "
    "candidates for resampling into the training mixture. Both LMs "
    "are 256-count bounded artifacts at any corpus size; per-bucket "
    "log-ratios are quantized to BIGINT micro-units before the "
    "per-doc integer sum, so ranking is engine-exact (normalized "
    "float used only as the sort key over exact ints, doc_id "
    "tiebreak). Plan: one tokenize scan, two 256-row partial aggs, "
    "a broadcast 256-row model join, one doc-keyed agg.",
)
def sample_importance_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r12: the final top-50 rank moved from an unpartitioned window
    onto the distributed row-number primitive (ranks.py) — the doc-
    weight table is corpus-sized, so ranking it must never funnel into
    one task. Execution-only rewrite; oracle unchanged."""
    from .ranks import with_global_row_number

    docw = dsir_doc_weights(spark, sf_dir).withColumn(
        "w_norm", F.col("logweight_micro") * 1.0 / F.col("n_tokens")
    )
    return (
        with_global_row_number(
            docw, [F.desc("w_norm"), F.asc("doc_id")], out="rn"
        )
        .filter(F.col("rn") <= DSIR_TOPK)
        .select(
            F.col("rn").cast("int").alias("rnk"),
            "doc_id",
            "n_tokens",
            "logweight_micro",
        )
        .orderBy("rnk")
    )


def dsir_doc_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, logweight_micro) for every non-target doc —
    the DSIR importance-weight core, shared by the registered top-k
    query and the targeted-curation composite."""
    docs = load_table(spark, sf_dir, "documents")
    tkn = F.col("token")
    poly = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.length(tkn)),
            lambda i: (
                F.ascii(F.substring(tkn, 1, 1000000).substr(i, F.lit(1)))
                * 31
                + i
            )
            % 1000003,
        ),
        F.lit(0).cast("long"),
        lambda s, x: s + x,
    )
    tok = (
        docs.select(
            "doc_id",
            "source",
            F.explode(F.split(F.col("text"), " ")).alias("token"),
        )
        .select("doc_id", "source", (poly % DSIR_BUCKETS).alias("b"))
    )
    tgt = (
        tok.filter(F.col("source") == DSIR_TARGET_SOURCE)
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("tc"))
    )
    raw = tok.groupBy("b").agg(F.count(F.lit(1)).alias("rc"))
    tgt_tot = tgt.agg(F.sum("tc").alias("tt"))
    raw_tot = raw.agg(F.sum("rc").alias("rt"))
    llr = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(tgt_tot))
        .crossJoin(F.broadcast(raw_tot))
        .select(
            "b",
            (
                F.floor(
                    F.log(
                        (F.coalesce(F.col("tc"), F.lit(0)) + 1.0)
                        / (F.col("tt") + DSIR_BUCKETS)
                    )
                    * DSIR_MICRO
                ).cast("bigint")
                - F.floor(
                    F.log((F.col("rc") + 1.0) / (F.col("rt") + DSIR_BUCKETS))
                    * DSIR_MICRO
                ).cast("bigint")
            ).alias("llr_micro"),
        )
    )
    docw = (
        tok.filter(F.col("source") != DSIR_TARGET_SOURCE)
        .join(F.broadcast(llr), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("llr_micro").cast("bigint").alias("logweight_micro"),
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        )
    )
    return docw


# ---------------------------------------------------------------------------
# Poisson bootstrap: deterministic streaming bootstrap replicates
# ---------------------------------------------------------------------------

BOOT_REPS = 8
# Poisson(1) CDF cut points as fixed 9-dp literals (identical doubles in
# both engines): P(X<=k) for k = 0..3; k capped at 4.
BOOT_CDF = (0.367879441, 0.735758882, 0.919698603, 0.981011843)


def _boot_multiplier_expr(u):
    """Inverse-CDF Poisson(1) draw from a uniform, capped at 4."""
    expr = F.lit(4)
    for k in range(len(BOOT_CDF) - 1, -1, -1):
        expr = F.when(u < BOOT_CDF[k], F.lit(k)).otherwise(expr)
    return expr


def _boot_multiplier_sql(u_sql: str) -> str:
    cases = " ".join(
        f"WHEN {u_sql} < {c} THEN {k}" for k, c in enumerate(BOOT_CDF)
    )
    return f"(CASE {cases} ELSE 4 END)"


def _boot_poly_udf():
    """Vectorized replicate-hash: the seeded per-(row, replicate) squaring
    cascade over the chars of 'r{b}:{o_orderkey}', mod 1000003.

    r16 (guide §4.2): the original JVM form — aggregate(transform(
    sequence(1, len), ascii(substr(...))), nonlinear fold) — runs through
    Catalyst's INTERPRETED higher-order-function path, ~21 us per
    (row, replicate) with per-char UTF8String churn; the whole seat was
    16.2 s at sf0.1 (38 s at the 25x sweep). Batch-vectorizing the exact
    same integer recurrence in NumPy (group rows by string length, fold
    over the <=16 char columns as int64 vector ops) measures 1.97 s
    interleaved, values bit-identical (all intermediates < 2^57, exact in
    int64; a JVM split('')-based rewrite only reached 9.6 s). The UDF
    sees ONLY the hash-input string column; u, the inverse-CDF multiplier
    and the O(B)-row partial agg stay JVM-side, so this is the guide's
    'distribution in Spark, batch math in native code' split, not a
    row-at-a-time boundary."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def boot_poly(ss: pd.Series) -> pd.Series:
        out = np.empty(len(ss), dtype=np.int64)
        lens = ss.str.len().to_numpy()
        blob = np.frombuffer("".join(ss).encode("ascii"), dtype=np.uint8)
        offs = np.zeros(len(ss) + 1, dtype=np.int64)
        np.cumsum(lens, out=offs[1:])
        for L in np.unique(lens):
            idx = np.nonzero(lens == L)[0]
            mat = blob[offs[idx][:, None] + np.arange(L)[None, :]].astype(
                np.int64
            )
            elems = (mat * 31 + np.arange(1, L + 1, dtype=np.int64)) % 1000003
            acc = np.zeros(len(idx), dtype=np.int64)
            for j in range(L):
                x = elems[:, j]
                t = acc * 131 + x
                acc = (t * t + x) % 1000003
            out[idx] = acc
        return pd.Series(out)

    return boot_poly


@register(
    "sample_poisson_bootstrap",
    oracle=f"""
WITH draws AS (
  SELECT b.b,
    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
    (list_reduce(
       list_prepend(0,
         [(ascii(('r' || CAST(b.b AS VARCHAR) || ':' ||
                  CAST(o_orderkey AS VARCHAR))[i]) * 31 + i) % 1000003
          for i in range(1, length('r' || CAST(b.b AS VARCHAR) || ':' ||
                                   CAST(o_orderkey AS VARCHAR)) + 1)]),
       (l, x) -> ((l * 131 + x) * (l * 131 + x) + x) % 1000003)
     ) / 1000003.0 AS u
  FROM orders, (SELECT unnest(generate_series(0, {BOOT_REPS - 1})) AS b) b
)
SELECT CAST(b AS INT) AS replicate,
  CAST(SUM({_boot_multiplier_sql('u')} * cents) AS BIGINT)
    AS replicate_cents,
  CAST(SUM({_boot_multiplier_sql('u')}) AS BIGINT) AS n_resampled
FROM draws GROUP BY b ORDER BY replicate
""",
    doc="Poisson bootstrap (Chamandy et al., the streaming bootstrap "
    "big-data systems use because true resampling needs global "
    "coordination): each row enters replicate b with multiplicity ~ "
    "Poisson(1), drawn DETERMINISTICALLY by inverse-CDF on a seeded "
    "per-(row, replicate) hash uniform (the repo's nonlinear squaring "
    f"cascade), {BOOT_REPS} replicates in ONE scan — replicate totals "
    "in exact cents; the spread across replicates is the CI. The CDF "
    "cut points are fixed 9-dp literals so both engines compare "
    "identical doubles against an exact rational uniform. Plan: scan "
    "x B map-side fan-out, one partial-agg shuffle of O(B) rows — "
    "no per-replicate rescan, no global sampling coordination, the "
    "100 TB bootstrap shape.",
)
def sample_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    reps = spark.range(BOOT_REPS).select(F.col("id").cast("int").alias("b"))
    s = F.concat(
        F.lit("r"),
        F.col("b").cast("string"),
        F.lit(":"),
        F.col("o_orderkey").cast("string"),
    )
    # Same squaring-cascade hash as the oracle, vectorized in NumPy —
    # see _boot_poly_udf for the r16 A/B (16.2 -> 1.97 s at sf0.1).
    poly = _boot_poly_udf()(s)
    u = poly / F.lit(1000003.0)
    mult = _boot_multiplier_expr(u)
    return (
        orders.select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .crossJoin(F.broadcast(reps))
        .select("b", "cents", mult.alias("m"))
        .groupBy(F.col("b").alias("replicate"))
        .agg(
            F.sum(F.col("m") * F.col("cents"))
            .cast("bigint")
            .alias("replicate_cents"),
            F.sum("m").cast("bigint").alias("n_resampled"),
        )
        .orderBy("replicate")
    )


# ---------------------------------------------------------------------------
# Temperature-scaled source mixing (the multilingual/multi-source data-mix
# recipe: sample source s proportionally to n_s^(1/T), T=2 -> sqrt)
# ---------------------------------------------------------------------------

MIX_BUDGET = 100_000  # tokens (chars here) to allocate across sources
MIX_W_SCALE = 1_000_000


@register(
    "sample_temperature_mixing",
    oracle=f"""
WITH src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS chars
  FROM documents GROUP BY source
),
w AS (
  SELECT *, CAST(FLOOR({MIX_W_SCALE} * SQRT(chars)) AS BIGINT) AS w_micro
  FROM src
),
tot AS (
  SELECT CAST(SUM(w_micro) AS BIGINT) AS w_tot,
         CAST(SUM(chars) AS BIGINT) AS chars_tot
  FROM w
)
SELECT w.source, w.n_docs, w.chars, w.w_micro,
  CAST((1000000 * w.w_micro) // t.w_tot AS BIGINT) AS share_ppm,
  CAST((1000000 * w.chars) // t.chars_tot AS BIGINT) AS natural_ppm,
  CAST(({MIX_BUDGET} * w.w_micro) // t.w_tot AS BIGINT) AS quota_chars
FROM w, tot t
""",
    doc="Temperature-scaled source mixing (the data-mix recipe of "
    "multilingual LM training — upsample small sources, downsample "
    "dominant ones): per-source sampling weight proportional to "
    "n_chars^(1/2) (temperature T=2). Engine-exact by construction: "
    "SQRT is IEEE correctly-rounded so both engines produce the "
    "identical double, then FLOOR to integer micro-units makes every "
    "downstream share and quota an exact integer division — the "
    "flattened share_ppm sits between uniform and the natural_ppm "
    "proportional share, and quota_chars allocates a fixed budget with "
    "floor rounding. One grouped aggregate over the corpus + an "
    "O(sources) broadcast total.",
)
def sample_temperature_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("chars"),
    )
    w = src.withColumn(
        "w_micro",
        F.floor(MIX_W_SCALE * F.sqrt(F.col("chars"))).cast("bigint"),
    )
    tot = w.agg(
        F.sum("w_micro").cast("bigint").alias("w_tot"),
        F.sum("chars").cast("bigint").alias("chars_tot"),
    )
    return w.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "chars",
        "w_micro",
        F.expr("CAST((1000000 * w_micro) div w_tot AS BIGINT)").alias(
            "share_ppm"
        ),
        F.expr("CAST((1000000 * chars) div chars_tot AS BIGINT)").alias(
            "natural_ppm"
        ),
        F.expr(
            f"CAST(({MIX_BUDGET} * w_micro) div w_tot AS BIGINT)"
        ).alias("quota_chars"),
    )


# ---------------------------------------------------------------------------
# Deterministic k-fold cross-validation assignment
# ---------------------------------------------------------------------------

KFOLD_K = 5


@register(
    "sample_kfold_assignments",
    oracle=f"""
WITH folds AS (
  SELECT doc_id, lang,
    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT
      % {KFOLD_K} AS fold
  FROM documents
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM folds)
SELECT fold, lang,
  CAST(COUNT(*) AS BIGINT) AS n_val,
  CAST(t.n - COUNT(*) AS BIGINT) AS n_train_if_held_out
FROM folds, tot t
GROUP BY fold, lang, t.n
""",
    doc="Deterministic k-fold cross-validation assignment: fold = "
    "md5(doc_id) bucket — append-stable like sample_hash_split (new "
    "docs never reassign existing ones, so CV results are comparable "
    "across corpus versions), engine-portable, and leakage-free when "
    "combined with the group-split rule for user-keyed data. Output: "
    "per (fold, lang) validation counts + the complementary train "
    "size — the fold-balance audit run before any CV experiment.",
)
def sample_kfold_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    folds = docs.select(
        "lang",
        (
            F.conv(F.substring(_md5_of("doc_id"), 1, 4), 16, 10).cast(
                "int"
            )
            % KFOLD_K
        ).alias("fold"),
    )
    tot = folds.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return (
        folds.groupBy("fold", "lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_val"))
        .crossJoin(F.broadcast(tot))
        .select(
            "fold",
            "lang",
            "n_val",
            (F.col("n") - F.col("n_val"))
            .cast("bigint")
            .alias("n_train_if_held_out"),
        )
    )


# ---------------------------------------------------------------------------
# Neyman optimal stratified allocation (Neyman 1934)
# ---------------------------------------------------------------------------

NEYMAN_BUDGET = 1000  # total sample size to allocate across strata
NEYMAN_W_SCALE = 1_000_000  # micro-units for the N_h * S_h weights


@register(
    "sample_neyman_allocation",
    oracle=f"""
WITH cust AS (
  SELECT c_mktsegment AS segment,
         CAST(round(c_acctbal * 100) AS BIGINT) AS cents
  FROM customer
),
m AS (
  SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_h,
         CAST(SUM(cents) AS BIGINT) AS sum_cents
  FROM cust GROUP BY segment
),
-- two-pass exact sum of squared deviations around the FLOORED integer
-- mean: dev <= ~1e6 cents so ssd fits BIGINT far beyond sf1, unlike the
-- one-pass N*S2 - S^2 form which overflows at sf0.1 scale.
ssd AS (
  SELECT c.segment,
    CAST(SUM((c.cents - m.sum_cents // m.n_h)
             * (c.cents - m.sum_cents // m.n_h)) AS BIGINT) AS ssd_cents2
  FROM cust c JOIN m ON c.segment = m.segment
  GROUP BY c.segment
),
w AS (
  SELECT m.segment, m.n_h, m.sum_cents // m.n_h AS mean_cents_floor,
    s.ssd_cents2,
    -- S_h = sqrt(ssd/N_h): IEEE-correctly-rounded double on both
    -- engines; weight N_h*S_h floored to integer micro-units.
    CAST(FLOOR(m.n_h * SQRT(CAST(s.ssd_cents2 AS DOUBLE) / m.n_h)
               * {NEYMAN_W_SCALE} / 100.0) AS BIGINT) AS w_micro
  FROM m JOIN ssd s ON m.segment = s.segment
),
tot AS (
  SELECT CAST(SUM(w_micro) AS BIGINT) AS w_tot,
         CAST(SUM(n_h) AS BIGINT) AS n_tot
  FROM w
),
base AS (
  SELECT w.segment, w.n_h, w.mean_cents_floor, w.ssd_cents2, w.w_micro,
    CAST(({NEYMAN_BUDGET} * w.w_micro) // t.w_tot AS BIGINT) AS alloc_floor,
    CAST(({NEYMAN_BUDGET} * w.w_micro) % t.w_tot AS BIGINT) AS rem,
    CAST(({NEYMAN_BUDGET} * w.n_h) // t.n_tot AS BIGINT)
      AS alloc_proportional,
    CAST({NEYMAN_BUDGET}
         - SUM(({NEYMAN_BUDGET} * w.w_micro) // t.w_tot) OVER ()
         AS BIGINT) AS deficit
  FROM w, tot t
)
SELECT segment, n_h, mean_cents_floor, ssd_cents2, w_micro,
  alloc_floor, alloc_proportional,
  CAST(alloc_floor
       + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, segment)
                   <= deficit THEN 1 ELSE 0 END AS BIGINT) AS alloc_neyman
FROM base
""",
    doc="Neyman optimal stratified-sample allocation (Neyman 1934): "
    "sample-size budget split across c_mktsegment strata proportional "
    "to N_h * S_h (stratum size x stddev of acctbal) — the allocation "
    "that minimizes estimator variance at fixed budget. Engine-exact "
    "end to end: two-pass integer sum-of-squared-deviations around the "
    "floored mean (the one-pass N*S2-S^2 form would overflow BIGINT "
    "near sf0.1), S_h via IEEE-correctly-rounded SQRT floored to micro "
    "units, then pure-integer largest-remainder apportionment so the "
    "allocations sum EXACTLY to the budget. Plan: two grouped "
    "aggregates over customer (second joins the broadcast 5-row means "
    "back), a broadcast totals join, and an O(strata) window — at "
    "100 TB the strata table is tiny, so everything after the two "
    "scans is driver-trivial. Contrast column alloc_proportional shows "
    "what naive size-proportional allocation would do.",
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("cents"),
    )
    m = cust.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_h"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
    )
    # Floored integer mean (DuckDB // floors; sums here are positive so
    # Spark's truncating `div` agrees — asserted by the oracle match).
    m = m.withColumn(
        "mean_cents_floor", F.expr("sum_cents div n_h").cast("bigint")
    )
    ssd = (
        cust.join(F.broadcast(m), "segment")
        .groupBy("segment")
        .agg(
            F.sum(
                (F.col("cents") - F.col("mean_cents_floor"))
                * (F.col("cents") - F.col("mean_cents_floor"))
            )
            .cast("bigint")
            .alias("ssd_cents2")
        )
    )
    w = m.join(ssd, "segment").withColumn(
        "w_micro",
        F.floor(
            F.col("n_h")
            * F.sqrt(F.col("ssd_cents2").cast("double") / F.col("n_h"))
            * NEYMAN_W_SCALE
            / 100.0
        ).cast("bigint"),
    )
    tot = w.agg(
        F.sum("w_micro").cast("bigint").alias("w_tot"),
        F.sum("n_h").cast("bigint").alias("n_tot"),
    )
    base = (
        w.crossJoin(F.broadcast(tot))
        .withColumn(
            "alloc_floor",
            F.expr(f"CAST(({NEYMAN_BUDGET} * w_micro) div w_tot AS BIGINT)"),
        )
        .withColumn(
            "rem",
            F.expr(f"CAST(({NEYMAN_BUDGET} * w_micro) % w_tot AS BIGINT)"),
        )
        .withColumn(
            "alloc_proportional",
            F.expr(f"CAST(({NEYMAN_BUDGET} * n_h) div n_tot AS BIGINT)"),
        )
        .withColumn(
            "deficit",
            (
                F.lit(NEYMAN_BUDGET)
                - F.sum("alloc_floor").over(
                    Window.partitionBy()
                )
            ).cast("bigint"),
        )
    )
    rank = F.row_number().over(Window.orderBy(F.desc("rem"), F.asc("segment")))
    return base.select(
        "segment",
        "n_h",
        "mean_cents_floor",
        "ssd_cents2",
        "w_micro",
        "alloc_floor",
        "alloc_proportional",
        (
            F.col("alloc_floor")
            + F.when(rank <= F.col("deficit"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("alloc_neyman"),
    )


# ---------------------------------------------------------------------------
# Greedy k-center coreset (Gonzalez 1985) — data-selection complement to
# DSIR/SemDeDup: pick k maximally-spread exemplars (2-approximation of the
# optimal covering radius), the classic seed for diverse eval sets and
# cluster initialization. Embeddings are quantized to BIGINT (floor(x *
# 2^15)) so every distance is exact integer arithmetic and the DuckDB
# oracle replays the full greedy trajectory with unrolled CTEs.

KCENTER_K = 5
KC_QSCALE = 32768.0  # 2^15; double multiply is IEEE-identical, floor exact


def _kcenter_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * F.lit(KC_QSCALE)).cast("bigint"),
        ).alias("v"),
    )


def _kc_dist_to(center_vec) -> "F.Column":
    """Exact squared L2 from column ``v`` to a broadcast-literal center."""
    lit_v = F.array(*[F.lit(int(x)) for x in center_vec])
    return F.aggregate(
        F.zip_with("v", lit_v, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def _kcenter_oracle() -> str:
    d2 = (
        "list_sum(list_transform(range(1, len({p}.v)+1),"
        " i -> ({p}.v[i]-c.v[i])*({p}.v[i]-c.v[i])))"
    )
    sql = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(FLOOR(x * {KC_QSCALE}) AS BIGINT)) AS v
  FROM embeddings
),
c0 AS (SELECT vec_id, v FROM q ORDER BY vec_id LIMIT 1),
d0 AS (
  SELECT q.vec_id, q.v, CAST({d2.format(p='q')} AS BIGINT) AS md
  FROM q, c0 c
)"""
    for i in range(1, KCENTER_K):
        sql += f""",
c{i} AS (SELECT vec_id, v FROM d{i - 1} ORDER BY md DESC, vec_id LIMIT 1),
d{i} AS (
  SELECT d.vec_id, d.v,
         LEAST(d.md, CAST({d2.format(p='d')} AS BIGINT)) AS md
  FROM d{i - 1} d, c{i} c
)"""
    picks = "\nUNION ALL ".join(
        f"SELECT {i} AS center_idx,"
        f" (SELECT CAST(vec_id AS BIGINT) FROM c{i}) AS center_vec_id"
        for i in range(KCENTER_K)
    )
    sql += f""",
r AS (SELECT CAST(MAX(md) AS BIGINT) AS radius_q FROM d{KCENTER_K - 1})
SELECT center_idx, center_vec_id, radius_q FROM ({picks}), r
"""
    return sql


@register(
    "sample_coreset_kcenter",
    oracle=_kcenter_oracle(),
    doc="Greedy k-center coreset (Gonzalez 1985): k maximally-spread "
    "exemplar vectors (2-approx of the optimal covering radius) over "
    "quantized-BIGINT embeddings — exact integer distances, so the "
    "DuckDB oracle replays the entire greedy trajectory (seed = min "
    "vec_id, then argmax-of-min-distance with vec_id tie-break) via "
    "unrolled CTEs; FULL value oracle. Spark side is the bounded-round "
    "driver pattern: k-1 passes, each one argmax collect (1 row) + a "
    "broadcast-literal distance update, lineage truncated per round. "
    "At 100 TB: each pass is one scan + one TakeOrdered(1) — O(k) scans "
    "total, no shuffle of the corpus; 2-approx bound asserted against "
    "brute force in tests/test_properties.py.",
)
def sample_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Each pick is read off an Observation on the action that materializes
    # the frame it is picked from: the seed is the min vec_id, and every
    # later pick the max of (md, -vec_id), i.e. the farthest point with
    # ties to the smaller vec_id. The last round's max md is the radius.
    picked = [Observation()]
    pts, _ = materialize(
        _kcenter_quantized(spark, sf_dir)
        .withColumn("md", F.lit(2**63 - 1))  # no center yet: +inf
        .observe(picked[0], F.min(F.struct("vec_id", "v")).alias("p"))
    )

    def cover(cur: DataFrame) -> DataFrame:
        center = picked[-1].get["p"]
        picked.append(Observation())
        return cur.withColumn(
            "md", F.least("md", _kc_dist_to(center["v"]))
        ).observe(
            picked[-1],
            F.max(
                F.struct("md", (-F.col("vec_id")).alias("nid"), "vec_id", "v")
            ).alias("p"),
        )

    iterate("k-center", pts, cover, KCENTER_K)
    picks = [o.get["p"] for o in picked]
    radius = int(picks[-1]["md"])
    return spark.createDataFrame(
        [(i, int(p["vec_id"]), radius) for i, p in enumerate(picks[:-1])],
        "center_idx int, center_vec_id long, radius_q long",
    )


# ---------------------------------------------------------------------------
# Effective sample size of the DSIR importance weights — the standard
# importance-sampling health diagnostic (Kong 1992): ESS = (sum w)^2 /
# sum w^2. ESS near n means the reweighting is gentle; ESS << n means a
# few documents dominate the resampled mixture.

ESS_NANO = 1000000000.0


@register(
    "sample_ess_importance_weights",
    oracle=f"""
WITH tok AS (
  SELECT d.doc_id, d.source,
    (list_aggregate(
       [(ascii(t.token[i]) * 31 + i) % 1000003
        for i in range(1, length(t.token) + 1)], 'sum')
     % {DSIR_BUCKETS}) AS b
  FROM documents d,
    (SELECT doc_id, unnest(string_split(text, ' ')) AS token
     FROM documents) t
  WHERE t.doc_id = d.doc_id
),
tgt AS (
  SELECT b, COUNT(*) AS c FROM tok
  WHERE source = '{DSIR_TARGET_SOURCE}' GROUP BY b
),
raw AS (SELECT b, COUNT(*) AS c FROM tok GROUP BY b),
tgt_tot AS (SELECT SUM(c) AS t FROM tgt),
raw_tot AS (SELECT SUM(c) AS t FROM raw),
llr AS (
  SELECT raw.b,
    CAST(FLOOR(ln((COALESCE(tgt.c, 0) + 1.0)
                  / ((SELECT t FROM tgt_tot) + {DSIR_BUCKETS}))
               * {DSIR_MICRO}) AS BIGINT)
    - CAST(FLOOR(ln((raw.c + 1.0)
                    / ((SELECT t FROM raw_tot) + {DSIR_BUCKETS}))
                 * {DSIR_MICRO}) AS BIGINT) AS llr_micro
  FROM raw LEFT JOIN tgt USING (b)
),
docw AS (
  SELECT tok.doc_id, MIN(tok.source) AS source,
    CAST(SUM(llr.llr_micro) AS BIGINT) AS lw,
    CAST(COUNT(*) AS BIGINT) AS n_tokens
  FROM tok JOIN llr USING (b)
  WHERE tok.source != '{DSIR_TARGET_SOURCE}'
  GROUP BY tok.doc_id
),
wq AS (
  SELECT source,
    CAST(FLOOR({ESS_NANO} * EXP(CAST(lw AS DOUBLE)
         / (n_tokens * {DSIR_MICRO}.0))) AS BIGINT) AS w_nano,
    CAST(FLOOR({ESS_NANO} * EXP(2.0 * CAST(lw AS DOUBLE)
         / (n_tokens * {DSIR_MICRO}.0))) AS BIGINT) AS w2_nano
  FROM docw
),
s AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(w_nano) AS BIGINT) AS sw, CAST(SUM(w2_nano) AS BIGINT) AS sw2
  FROM wq GROUP BY source
)
SELECT source, n_docs, sw AS sum_w_nano, sw2 AS sum_w2_nano,
  ROUND(CAST(sw AS DOUBLE) * sw / ({ESS_NANO} * sw2), 6) AS ess_r6,
  ROUND(CAST(sw AS DOUBLE) * sw / ({ESS_NANO} * sw2 * n_docs), 6)
    AS efficiency_r6
FROM s
""",
    doc="Effective sample size (Kong 1992) of the DSIR per-token-"
    "normalized importance weights, per raw source: each exp(logweight) "
    "is quantized to a nano-unit BIGINT so the two ESS sums are "
    "order-free exact integers, and ESS = (sum w)^2 / sum w^2 plus the "
    "ESS/n efficiency are single fixed-shape IEEE finishers — FULL "
    "value oracle. The go/no-go diagnostic before trusting "
    "sample_importance_dsir's resampled mixture. Same bounded plan as "
    "DSIR (256-bucket broadcast models) + one O(sources) aggregate.",
)
def sample_ess_importance_weights(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    docw = dsir_doc_weights(spark, sf_dir).join(docs, "doc_id")
    wq = docw.select(
        "source",
        F.expr(
            f"CAST(FLOOR({ESS_NANO} * EXP(CAST(logweight_micro AS DOUBLE)"
            f" / (n_tokens * {DSIR_MICRO}.0))) AS BIGINT)"
        ).alias("w_nano"),
        F.expr(
            f"CAST(FLOOR({ESS_NANO} * EXP(2.0 *"
            f" CAST(logweight_micro AS DOUBLE)"
            f" / (n_tokens * {DSIR_MICRO}.0))) AS BIGINT)"
        ).alias("w2_nano"),
    )
    s = wq.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("w_nano").cast("bigint").alias("sw"),
        F.sum("w2_nano").cast("bigint").alias("sw2"),
    )
    return s.select(
        "source",
        "n_docs",
        F.col("sw").alias("sum_w_nano"),
        F.col("sw2").alias("sum_w2_nano"),
        F.expr(
            f"ROUND(CAST(sw AS DOUBLE) * sw / ({ESS_NANO} * sw2), 6)"
        ).alias("ess_r6"),
        F.expr(
            f"ROUND(CAST(sw AS DOUBLE) * sw"
            f" / ({ESS_NANO} * sw2 * n_docs), 6)"
        ).alias("efficiency_r6"),
    )


# ---------------------------------------------------------------------------
# Horvitz-Thompson estimation under deterministic Poisson PPS sampling —
# the unequal-probability design that makes "sample 0.1% of the corpus
# but keep every whale" estimable without bias.

HT_SCALE_CENTS = 50000000.0  # pi_i = min(1, cents / 5e5 dollars)


@register(
    "sample_horvitz_thompson",
    oracle=f"""
WITH base AS (
  SELECT o_orderkey,
    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
    ('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
      / 4294967296.0 AS u
  FROM orders
),
probs AS (
  SELECT o_orderkey, cents, u,
    LEAST(1.0, CAST(cents AS DOUBLE) / {HT_SCALE_CENTS}) AS pi
  FROM base
),
included AS (
  SELECT cents, pi,
    CAST(FLOOR(CAST(cents AS DOUBLE) / pi) AS BIGINT) AS ht_term,
    CAST(FLOOR(CAST(cents AS DOUBLE) * cents * (1.0 - pi)
               / (pi * pi) / 1000000.0) AS BIGINT) AS var_term_mega
  FROM probs WHERE u < pi
),
pop AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_pop,
         CAST(SUM(cents) AS BIGINT) AS exact_total_cents
  FROM base
)
SELECT pop.n_pop,
  CAST(COUNT(*) AS BIGINT) AS n_sampled,
  pop.exact_total_cents,
  CAST(SUM(ht_term) AS BIGINT) AS ht_total_cents,
  CAST(SUM(var_term_mega) AS BIGINT) AS ht_var_mega,
  ROUND((CAST(SUM(ht_term) AS DOUBLE) - pop.exact_total_cents)
        / pop.exact_total_cents, 6) AS rel_err_r6
FROM included, pop
GROUP BY pop.n_pop, pop.exact_total_cents
""",
    doc="Horvitz-Thompson total estimation under deterministic Poisson "
    "PPS sampling: inclusion probability proportional to order value "
    "(capped at 1 — whales are always kept), the include decision a "
    "pure md5-uniform projection (reproducible across engines and "
    "reruns, never rand()), estimator and its variance from per-row "
    "terms quantized to BIGINT before the order-free sums — FULL value "
    "oracle. One scan, one 1-row aggregate; the certify-your-sample "
    "complement to the A-ES/Neyman samplers. Unbiasedness measured in "
    "tests (rel_err small at every SF).",
)
def sample_horvitz_thompson(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        (
            F.conv(
                F.substring(
                    F.md5(F.col("o_orderkey").cast("string").cast("binary")),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            / F.lit(4294967296.0)
        ).alias("u"),
    )
    probs = base.select(
        "cents",
        "u",
        F.least(
            F.lit(1.0), F.col("cents").cast("double") / F.lit(HT_SCALE_CENTS)
        ).alias("pi"),
    )
    included = probs.filter(F.col("u") < F.col("pi")).select(
        F.expr(
            "CAST(FLOOR(CAST(cents AS DOUBLE) / pi) AS BIGINT)"
        ).alias("ht_term"),
        F.expr(
            "CAST(FLOOR(CAST(cents AS DOUBLE) * cents * (1.0 - pi)"
            " / (pi * pi) / 1000000.0) AS BIGINT)"
        ).alias("var_term_mega"),
    )
    pop = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pop"),
        F.sum("cents").cast("bigint").alias("exact_total_cents"),
    )
    return included.crossJoin(F.broadcast(pop)).groupBy(
        "n_pop", "exact_total_cents"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
        F.sum("ht_term").cast("bigint").alias("ht_total_cents"),
        F.sum("var_term_mega").cast("bigint").alias("ht_var_mega"),
        F.expr(
            "ROUND((CAST(SUM(ht_term) AS DOUBLE)"
            " - MAX(exact_total_cents)) / MAX(exact_total_cents), 6)"
        ).alias("rel_err_r6"),
    ).select(
        "n_pop", "n_sampled", "exact_total_cents", "ht_total_cents",
        "ht_var_mega", "rel_err_r6",
    )


# ---------------------------------------------------------------------------
# Systematic PPS sampling (Madow 1949) — the fixed-size counterpart to
# the Poisson-PPS Horvitz-Thompson design: walk the cumulative-size line
# with a fixed stride from a deterministic start; rows whose cumulative
# interval straddles a grid point are selected. Zero variance in sample
# SIZE, still strictly PPS.

PPS_N = 200  # target sample size
PPS_START_NUM, PPS_START_DEN = 37, 100  # deterministic fractional start


@register(
    "sample_pps_systematic",
    oracle=f"""
WITH base AS (
  SELECT o_orderkey,
    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
cum AS (
  SELECT o_orderkey, cents,
    CAST(SUM(cents) OVER (ORDER BY o_orderkey) AS BIGINT) AS hi,
    CAST(SUM(cents) OVER (ORDER BY o_orderkey) - cents AS BIGINT) AS lo,
    CAST(SUM(cents) OVER () AS BIGINT) AS total
  FROM base
),
-- grid points: g_j = (j + 37/100) * total / N, scaled x(100*N) to stay
-- integer: row selected iff some integer j satisfies
-- lo*100N <= (100j + 37)*total < hi*100N
sel AS (
  SELECT o_orderkey, cents, lo, hi, total,
    CASE WHEN hi * 100 * {PPS_N} > {PPS_START_NUM} * total
         THEN ((hi * 100 * {PPS_N}) - {PPS_START_NUM} * total - 1)
              // (100 * total)
         ELSE -1 END
      - CASE WHEN lo * 100 * {PPS_N} > {PPS_START_NUM} * total
             THEN ((lo * 100 * {PPS_N}) - {PPS_START_NUM} * total - 1)
                  // (100 * total)
             ELSE -1 END AS n_hits
  FROM cum
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_sampled,
  CAST(SUM(n_hits) AS BIGINT) AS n_grid_hits,
  CAST(SUM(cents) AS BIGINT) AS sampled_cents,
  CAST(MAX(total) AS BIGINT) AS total_cents,
  CAST(SUM(n_hits * ((total + {PPS_N} - 1) // {PPS_N})) AS BIGINT)
    AS ht_total_est_cents
FROM sel WHERE n_hits > 0
""",
    doc="Madow 1949 systematic PPS sampling: rows ordered by key build a "
    "cumulative-cents line; a fixed-stride grid (start 0.37 strides in, "
    "deterministic) selects every row whose interval straddles a grid "
    "point — fixed sample size, inclusion probability proportional to "
    "size, multi-hit whales counted with their multiplicity. The "
    "straddle test is cross-multiplied to pure BIGINTs (no float grid "
    "positions), so selection is value-exact in both engines. The HT "
    "estimate uses the integer stride as the per-hit weight. Plan: one "
    "distributed running sum over the key order (ranks.py — range "
    "split + local window + broadcast offsets, which also carry the "
    "grand total; no single-task window anywhere) + one aggregate.",
)
def sample_pps_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r12: both the cumulative-cents window AND the full-frame total
    window moved onto the shared distributed-cumsum primitive — the
    total rides the same broadcast offsets row, so no extra pass over
    the fact. Execution-only rewrite; oracle unchanged."""
    from .ranks import with_global_cumsum

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    cum = with_global_cumsum(
        base,
        [F.col("o_orderkey")],
        F.col("cents"),
        out="hi",
        total_col="total",
    ).select(
        "o_orderkey",
        "cents",
        "hi",
        (F.col("hi") - F.col("cents")).cast("bigint").alias("lo"),
        "total",
    )
    # Both ends guarded: Spark div / DuckDB // truncate toward zero, so
    # a NEGATIVE numerator (row entirely before the first grid point)
    # would read 0 instead of the floor's -1 and fake a hit.
    n_hits = F.expr(
        f"CASE WHEN hi * 100 * {PPS_N} > {PPS_START_NUM} * total"
        f" THEN ((hi * 100 * {PPS_N}) - {PPS_START_NUM} * total - 1)"
        f" div (100 * total) ELSE -1 END"
        f" - CASE WHEN lo * 100 * {PPS_N} > {PPS_START_NUM} * total"
        f" THEN ((lo * 100 * {PPS_N}) - {PPS_START_NUM} * total - 1)"
        f" div (100 * total) ELSE -1 END"
    )
    sel = cum.withColumn("n_hits", n_hits).filter(F.col("n_hits") > 0)
    return sel.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
        F.sum("n_hits").cast("bigint").alias("n_grid_hits"),
        F.sum("cents").cast("bigint").alias("sampled_cents"),
        F.max("total").cast("bigint").alias("total_cents"),
        F.sum(
            F.col("n_hits")
            * F.expr(f"((total + {PPS_N} - 1) div {PPS_N})")
        )
        .cast("bigint")
        .alias("ht_total_est_cents"),
    )
