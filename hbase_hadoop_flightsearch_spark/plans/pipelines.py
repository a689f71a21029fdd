"""Composite training-data prep pipeline (the end-to-end E10+E12 story):

    quality filter -> language ID -> exact dedup (keeper = min doc_id)
    -> per-language token budget

Each stage is an operator that exists standalone in the registry; this
query proves they compose into the pipeline a real corpus build runs, and
that the COMPOSITION is still one Catalyst plan: filters fuse into the
scan, the dedup groupBy is the only wide stage, and the final rollup rides
the same exchange. At 100 TB this is one shuffle over the deduped corpus —
not four chained jobs with materialization between stages (the MapReduce
shape the reference would have needed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import (
    BPE_ISH_PATTERN,
    _BPE_SQL,
    ngram_lang_pred,
    ngram_lang_pred_duck,
)
from ..operators.dedup import (
    _JACCARD_PAIRS_DUCK,
    cc_minlabel_duck,
    scale_variant,
)
from ..operators.iterate import materialize
from ..sources.catalog import load_table, widen_if_narrow
from .registry import register

MIN_TOKENS, MAX_TOKENS = 20, 200
# Post-checkpoint consumer sizing for the neardup pipeline: ~100k kept
# docs (~100 MB of ~1 KB texts) per partition, derived from the
# checkpoint's row count so a toy corpus coalesces to 1 block while
# 100 TB fans out to thousands (capped).
DOCS_PER_PARTITION = 100_000


@register(
    "pipeline_corpus_prep",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, text,
    length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens,
    {ngram_lang_pred_duck("text")} AS lang_pred
  FROM documents
),
kept AS (
  SELECT * FROM scored
  WHERE n_tokens BETWEEN {MIN_TOKENS} AND {MAX_TOKENS}
),
deduped AS (
  SELECT md5(text) AS h, MIN(doc_id) AS keeper, ANY_VALUE(lang_pred) AS lang_pred,
    ANY_VALUE(len(regexp_extract_all(text, '{_BPE_SQL}'))) AS bpe_tokens
  FROM kept
  GROUP BY md5(text)
)
SELECT lang_pred,
  COUNT(*) AS n_docs,
  CAST(SUM(bpe_tokens) AS BIGINT) AS total_bpe_tokens,
  CAST(MIN(keeper) AS BIGINT) AS first_keeper
FROM deduped
GROUP BY lang_pred
""",
    doc="Composite corpus-prep pipeline (E10+E12): quality filter + lang-ID "
    "+ exact dedup + per-language token budget, fused into one plan.",
)
def pipeline_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    n_tokens = (
        F.length(text) - F.length(F.replace(text, F.lit(" "), F.lit(""))) + 1
    )
    # Filter BEFORE the widen (r16, closing ADVICE r15's pushdown hazard:
    # the r15 inline widen left this filter pushable below the repartition
    # back onto the single-task scan). The predicate is the cheap
    # length/literal-replace form — running it pre-exchange prunes ~20%
    # of rows before any shuffle, the accepted trade (guide §2.3 project/
    # filter before the exchange); the heavy lang-ID + BPE regex scoring
    # stays post-widen. widen_if_narrow is a no-op at real scale.
    pre = widen_if_narrow(docs.filter(n_tokens.between(MIN_TOKENS, MAX_TOKENS)))
    kept = pre.select(
        "doc_id",
        "text",
        ngram_lang_pred(text).alias("lang_pred"),
        F.regexp_count(text, F.lit(BPE_ISH_PATTERN))
        .cast("int")
        .alias("bpe_tokens"),
    )
    deduped = kept.groupBy(F.md5(text.cast("binary")).alias("h")).agg(
        F.min("doc_id").alias("keeper"),
        F.first("lang_pred").alias("lang_pred"),
        F.first("bpe_tokens").alias("bpe_tokens"),
    )
    return deduped.groupBy("lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("bpe_tokens").cast("long").alias("total_bpe_tokens"),
        F.min("keeper").cast("long").alias("first_keeper"),
    )


# -- near-dup variant: the production-grade pipeline ---------------------
# Exact-hash dedup only removes byte-identical copies; real corpus prep
# clusters NEAR-duplicates (jaccard >= 0.5 here) and keeps one canonical
# doc per cluster. The clustering step is the iterative connected-
# components operator — so this composite cannot be one SQL statement,
# but its ORACLE can: DuckDB closes the pair graph with a recursive CTE.
_NEARDUP_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, text,
    length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens,
    {{lang_pred}} AS lang_pred,
    len(regexp_extract_all(text, '{{bpe}}')) AS bpe_tokens
  FROM documents
),
kept AS MATERIALIZED (
  -- MATERIALIZED: referenced by kp (twice), verts, and the final
  -- keeper join — inlining would replay the per-doc lang-ID + BPE
  -- regex scoring four times (the r13 CTE doctrine)
  SELECT * FROM scored
  WHERE n_tokens BETWEEN {MIN_TOKENS} AND {MAX_TOKENS}
),
jp AS MATERIALIZED ({{jaccard_pairs}}),
kp AS MATERIALIZED (
  SELECT d1, d2 FROM jp
  WHERE d1 IN (SELECT doc_id FROM kept)
    AND d2 IN (SELECT doc_id FROM kept)
),
edges AS MATERIALIZED (
  SELECT d1 AS src, d2 AS dst FROM kp
  UNION ALL SELECT d2, d1 FROM kp
),
verts AS (SELECT doc_id FROM kept),
{{cc_chain}},
members AS (
  SELECT component_id, COUNT(*) AS n_members FROM comp GROUP BY component_id
)
SELECT k.lang_pred,
  COUNT(*) AS n_clusters,
  CAST(SUM(m.n_members - 1) AS BIGINT) AS n_docs_removed,
  CAST(SUM(k.bpe_tokens) AS BIGINT) AS total_bpe_tokens
FROM comp c
JOIN members m ON c.component_id = m.component_id
JOIN kept k ON k.doc_id = c.doc_id
WHERE c.doc_id = c.component_id
GROUP BY k.lang_pred
"""


@register(
    "pipeline_corpus_prep_neardup",
    headline=True,  # bench seat for the LLM-pipeline side (VERDICT r4 #6)
    oracle=_NEARDUP_ORACLE.format(
        lang_pred=ngram_lang_pred_duck("text"),
        bpe=_BPE_SQL,
        jaccard_pairs=_JACCARD_PAIRS_DUCK,
        cc_chain=cc_minlabel_duck("verts", "edges"),
    ),
    oracle_scale=scale_variant(
        _NEARDUP_ORACLE.format(
            lang_pred=ngram_lang_pred_duck("text"),
            bpe=_BPE_SQL,
            jaccard_pairs=_JACCARD_PAIRS_DUCK,
            cc_chain=cc_minlabel_duck("verts", "edges"),
        )
    ),
    doc="Production corpus-prep composite: quality filter -> lang-ID -> "
    "NEAR-dup clustering (ngram-jaccard pairs + connected components) -> "
    "one keeper per cluster -> per-language token budget. The iterative "
    "clustering step runs star-contraction connected components; the "
    "oracle closes the same graph with bounded min-label propagation. "
    "The builder is not lazy: it runs Spark jobs before it returns — the "
    "kept-docs checkpoint, the pair-graph checkpoint, then per CC round "
    "one star-contraction round and one star-forest probe.",
)
def pipeline_corpus_prep_neardup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pairs are mined DIRECTLY on the quality-surviving docs: jaccard
    between two docs does not depend on the rest of the corpus, so mining
    on the filtered subset equals mining on the full corpus and then
    filtering pairs (the oracle's formulation) — but skips shingling and
    posting-list work for every dropped doc (~20% less pair-stage input
    at this fixture's survival rate; at 100 TB the quality filter
    typically drops far more, making the reordering the dominant win).
    Keeper stats aggregate in one final shuffle on (lang_pred)."""
    from ..operators.dedup import (
        JACCARD_THRESHOLD,
        shingle_pair_intersections,
        shingles_from,
    )
    from ..operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    n_tokens = (
        F.length(text) - F.length(F.replace(text, F.lit(" "), F.lit(""))) + 1
    )
    # Quality filter BEFORE the widen + checkpoint (r16, VERDICT r15 #1):
    # the r15 shape checkpointed the FULL corpus (rejected rows, text and
    # an extra n_tokens column included) to keep the filter from pushing
    # below the repartition — a real storage/memory increase at the
    # 100 TB design point. Filtering first is strictly better at scale
    # (the checkpoint stores only kept docs) and the cheap length-based
    # predicate (literal-space replace, no regex) deliberately sits below
    # the widen: it prunes ~20% of rows before the exchange. The heavy
    # lang-ID + BPE scoring stays post-widen, so it still runs at cluster
    # width on a narrow toy scan (widen_if_narrow is a no-op at scale).
    pre = widen_if_narrow(docs.filter(n_tokens.between(MIN_TOKENS, MAX_TOKENS)))
    # Reused by pairs-filter, vertices, and rollup; the checkpoint's
    # action also counts the rows for the sizing below.
    kept, n_kept = materialize(
        pre.select(
            "doc_id",
            "text",
            ngram_lang_pred(text).alias("lang_pred"),
            F.regexp_count(text, F.lit(BPE_ISH_PATTERN))
            .cast("int")
            .alias("bpe_tokens"),
        )
    )
    # Right-size the downstream consumers to the DATA (a coalesce, no
    # shuffle): the checkpoint materializes at cluster width so
    # the scoring stage is parallel, but the CC-vertex and rollup reads
    # of a toy corpus would then schedule cluster-width near-empty tasks
    # per job across the ~15-job driver loop (the r15 driver regression:
    # 8.32 s at 32c vs 4.41 s at 8c — scheduling-bound). coalesce only
    # merges already-checkpointed blocks, never recomputes; the shingle
    # stage keeps the WIDE view (shingles_from re-widens CPU-heavy work
    # itself). At 100 TB the row-derived target fans back out to
    # thousands of partitions (capped).
    target = min(max(1, -(-n_kept // DOCS_PER_PARTITION)), 4096)
    narrow = kept.coalesce(target)
    ids = narrow.select("doc_id")
    inter = shingle_pair_intersections(
        shingles_from(spark, kept.select("doc_id", "text"))
    )
    jac = F.col("inter") / (F.col("n1") + F.col("n2") - F.col("inter"))
    pairs = inter.filter(jac >= JACCARD_THRESHOLD).select("d1", "d2")
    labels = connected_components(ids, pairs)
    members = labels.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    # connected_components labels each component with its min doc_id ==
    # the keeper's doc_id, so the keeper row needs no separate
    # filter(doc_id == component_id) + member join: the member counts
    # join the kept table directly on component_id = doc_id (r15 — one
    # join instead of two plus a filter pass; same rows by construction).
    keepers = members.join(
        narrow, members.component_id == narrow.doc_id
    )
    return keepers.groupBy("lang_pred").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum(F.col("n_members") - 1).cast("long").alias("n_docs_removed"),
        F.sum("bpe_tokens").cast("long").alias("total_bpe_tokens"),
    )


SHARD_TOKEN_BUDGET = 4000


@register(
    "pipeline_pack_shards",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
      AS n_tokens
  FROM documents
),
cum AS (
  SELECT doc_id, n_tokens,
    SUM(n_tokens) OVER (ORDER BY doc_id) AS cum_tokens
  FROM toks
)
SELECT
  CAST(FLOOR((cum_tokens - n_tokens) / {SHARD_TOKEN_BUDGET}.0) AS INT)
    AS shard_id,
  COUNT(*) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
FROM cum
GROUP BY 1
ORDER BY shard_id
""",
    doc="Training-shard packing: greedy sequential fill of ~4k-token "
    "shards via a DISTRIBUTED prefix sum (no single-partition window).",
)
def pipeline_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents (in doc_id order) into training shards of ~4000
    tokens: shard_id = floor(exclusive-prefix-token-count / budget) — the
    greedy writer every corpus-to-tfrecord/arrow job runs.

    The scale story is the prefix sum. The naive form —
    ``SUM(tokens) OVER (ORDER BY doc_id)`` with no PARTITION BY — collapses
    ALL rows into one task (Spark even warns), dead at 100 TB. This plan
    computes the same exact result distributed, with ONE full-data shuffle:
      1. block = doc_id DIV B — a deterministic, data-independent key
         that preserves global order across blocks (unlike
         spark_partition_id after repartitionByRange, which costs a range
         shuffle AND a second hash shuffle because Catalyst can't see the
         pid aligns with the partitioning);
      2. within-block running sum: window PARTITION BY block — parallel,
         one hash exchange on block;
      3. per-block totals get an exclusive running offset — the only
         single-partition window, over block COUNT not row count — and
         broadcast-join back: global_cum = block_offset + local_cum.
    The block width B is DERIVED from table stats (id span / (10 x
    shuffle.partitions), one O(1)-result min/max pre-pass on the pruned
    doc_id column), so the offset window's input is bounded at ~10 x
    shuffle.partitions rows BY CONSTRUCTION at any corpus size — the
    r12 deploy knob (fixed B=256) is retired (VERDICT r12 #4). Result
    is identical for ANY B and any partitioning (verified by the
    corpus-wide local[3] sweep and the r13 A/B in SCALE.md, which also
    records why this single-shuffle ReusedExchange shape is kept over
    operators/ranks.py: ~15% faster at sf0.1 AND the 5x corpus, same
    values, and the remaining one-task stage is O(P) like the
    primitive's own offsets fold). The DuckDB oracle states the
    semantics with the naive window — same values.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    n_tokens = (
        F.length(text) - F.length(F.replace(text, F.lit(" "), F.lit("")))
        + 1
    ).cast("bigint")
    try:
        nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        nparts = 32
    span = docs.agg(
        (F.max("doc_id") - F.min("doc_id") + 1).alias("span")
    ).first()["span"]
    blk = max(1, -(-int(span or 1) // (10 * nparts)))  # ceil div
    toks = docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        # integer DIV, not `/` — double division loses exactness past 2^53
        F.expr(f"doc_id DIV {blk}").alias("block"),
    ).filter(F.col("block").isNotNull())
    # ^ always true, but it mirrors the isnotnull the broadcast join infers
    # on the probe branch, so both branches canonicalize to the SAME
    # scan->filter->project->Exchange(block) subplan and ReusedExchange
    # collapses them: one table read, one full-data shuffle total.

    w_local = (
        Window.partitionBy("block")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = toks.withColumn("local_cum", F.sum("n_tokens").over(w_local))

    w_block = Window.orderBy("block").rowsBetween(
        Window.unboundedPreceding, -1
    )
    # Block totals come from the window output (max running sum == block
    # total: n_tokens >= 1 so local_cum is strictly increasing), NOT from
    # re-aggregating toks: this branch then shares the scan->Exchange(block)
    # prefix with the main branch, and ReusedExchange makes the whole query
    # a single table read + single full-data shuffle.
    offsets = (
        local.groupBy("block")
        .agg(F.max("local_cum").alias("block_total"))
        .withColumn(
            "offset",
            F.coalesce(F.sum("block_total").over(w_block), F.lit(0)),
        )
        .select("block", "offset")
    )

    cum = local.join(F.broadcast(offsets), "block").withColumn(
        "cum_tokens", F.col("offset") + F.col("local_cum")
    )
    return (
        cum.groupBy(
            F.floor(
                (F.col("cum_tokens") - F.col("n_tokens"))
                / F.lit(float(SHARD_TOKEN_BUDGET))
            )
            .cast("int")
            .alias("shard_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("shard_tokens"),
        )
        .orderBy("shard_id")
    )


MIX_BUDGET_FRAC = 0.5  # train on half the corpus' tokens
MIX_MAX_EPOCHS = 2.0  # never repeat a source more than twice


@register(
    "pipeline_mixture_weights",
    oracle=f"""
WITH per AS (
  SELECT source, COUNT(*) AS n_docs,
    SUM(length(text) - length(replace(text, ' ', '')) + 1) AS tokens
  FROM documents GROUP BY source
),
tot AS (SELECT SUM(tokens) AS grand, COUNT(*) AS n_sources FROM per)
SELECT source, n_docs, CAST(tokens AS BIGINT) AS total_tokens,
  ROUND(tokens / grand, 6) AS natural_share,
  ROUND(LEAST({MIX_MAX_EPOCHS},
    (grand * {MIX_BUDGET_FRAC} / n_sources) / tokens), 6) AS sampling_rate,
  CAST(FLOOR(tokens * ROUND(LEAST({MIX_MAX_EPOCHS},
    (grand * {MIX_BUDGET_FRAC} / n_sources) / tokens), 6)) AS BIGINT)
    AS planned_tokens
FROM per, tot
""",
    doc="Training-data mixture planning (E12/pipeline): per-source token "
    "counts -> sampling rate hitting a uniform target share of a "
    f"{MIX_BUDGET_FRAC:.0%}-of-corpus token budget, upsampling capped at "
    f"{MIX_MAX_EPOCHS} epochs. The rate column is what a sampling stage "
    "(sample_hash_split / weighted A-ES) consumes downstream. Both "
    "engines compute the rounded rate from identical IEEE operands in "
    "identical operation order, so floor(tokens * rate) is value-exact.",
)
def pipeline_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture planning is a metadata-sized aggregation: one partial-agg'd
    shuffle of O(sources) rows no matter the corpus size, then a broadcast
    of the one-row grand total. At 100 TB this runs in seconds and its
    output (per-source rates) drives the actual sampling pass."""
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        + 1
    )
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(toks).alias("tokens"),
    )
    tot = per.agg(
        F.sum("tokens").alias("grand"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    rate = F.round(
        F.least(
            F.lit(MIX_MAX_EPOCHS),
            (F.col("grand") * MIX_BUDGET_FRAC / F.col("n_sources"))
            / F.col("tokens"),
        ),
        6,
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.col("tokens").cast("bigint").alias("total_tokens"),
        F.round(F.col("tokens") / F.col("grand"), 6).alias("natural_share"),
        rate.alias("sampling_rate"),
        F.floor(F.col("tokens") * rate).cast("bigint").alias(
            "planned_tokens"
        ),
    )


@register(
    "pipeline_dataset_card",
    oracle="""
WITH per_doc AS (
  SELECT doc_id, source, lang, n_chars,
    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
      AS ws_tokens,
    text
  FROM documents
),
dup_keys AS (
  SELECT array_to_string(string_split(text, ' ')[1:8], ' ') AS pfx
  FROM documents GROUP BY pfx HAVING COUNT(*) > 1
),
flagged AS (
  SELECT d.*, CASE WHEN t.pfx IS NOT NULL THEN 1 ELSE 0 END AS is_dup
  FROM per_doc d
  LEFT JOIN dup_keys t
    ON array_to_string(string_split(d.text, ' ')[1:8], ' ') = t.pfx
),
lang_counts AS (
  SELECT source, lang, COUNT(*) AS c FROM per_doc GROUP BY source, lang
),
top_lang AS (
  SELECT source, lang AS majority_lang FROM (
    SELECT source, lang,
      ROW_NUMBER() OVER (PARTITION BY source ORDER BY c DESC, lang) AS rn
    FROM lang_counts
  ) WHERE rn = 1
)
SELECT f.source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(f.ws_tokens) AS BIGINT) AS total_tokens,
  ROUND(AVG(f.n_chars), 2) AS mean_chars,
  CAST(COUNT(DISTINCT f.lang) AS BIGINT) AS n_langs,
  MAX(t.majority_lang) AS majority_lang,
  CAST(SUM(f.is_dup) AS BIGINT) AS dup_docs,
  ROUND(SUM(f.is_dup) * 1.0 / COUNT(*), 6) AS dup_frac
FROM flagged f JOIN top_lang t USING (source)
GROUP BY f.source
ORDER BY f.source
""",
    doc="Per-source dataset card (the datasheet a training-data pipeline "
    "publishes before a corpus ships): document and whitespace-token "
    "counts, mean length, language diversity, deterministic majority "
    "language (count DESC + lang tiebreak), and the corpus-wide "
    "duplicate exposure per source — docs sharing an 8-token prefix "
    "fingerprint with any other doc (the cheap first-pass near-dup "
    "signal; swap in the exact text digest or MinHash bands for "
    "stricter tiers). Spark shape: one scan feeds both the per-source "
    "rollup and the fingerprint detector; the dup join keys on the "
    "md5 of the prefix (never raw text at scale); lang mode rides a "
    "per-source window over O(sources x langs) rows. At 100 TB every "
    "post-rollup stage is KBs.",
)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "n_chars", "text"
    )
    per_doc = docs.withColumn(
        "ws_tokens",
        (
            F.length("text")
            - F.length(F.regexp_replace("text", " ", ""))
            + 1
        ).cast("bigint"),
    ).withColumn(
        "digest",
        F.md5(F.array_join(F.slice(F.split("text", " "), 1, 8), " ")),
    )
    dup_texts = (
        per_doc.groupBy("digest")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .select("digest")
    )
    flagged = per_doc.join(
        dup_texts.withColumn("is_dup_m", F.lit(1)), "digest", "left"
    ).withColumn("is_dup", F.coalesce(F.col("is_dup_m"), F.lit(0)))
    lang_counts = per_doc.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("c")
    )
    top_lang = (
        lang_counts.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("source").orderBy(F.col("c").desc(), "lang")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("source", F.col("lang").alias("majority_lang"))
    )
    card = (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("ws_tokens").cast("bigint").alias("total_tokens"),
            F.round(F.avg("n_chars"), 2).alias("mean_chars"),
            F.count_distinct("lang").cast("bigint").alias("n_langs"),
            F.sum("is_dup").cast("bigint").alias("dup_docs"),
            F.round(
                F.sum("is_dup") / F.count(F.lit(1)), 6
            ).alias("dup_frac"),
        )
    )
    return (
        card.join(F.broadcast(top_lang), "source")
        .select(
            "source", "n_docs", "total_tokens", "mean_chars", "n_langs",
            "majority_lang", "dup_docs", "dup_frac",
        )
        .orderBy("source")
    )


@register(
    "pipeline_media_curation",
    oracle="""
WITH statuses AS (
  SELECT doc_id,
    CASE doc_id % 3 WHEN 0 THEN 'ok' WHEN 1 THEN 'crc_error'
         ELSE 'malformed' END AS status
  FROM documents
),
ok AS (SELECT doc_id FROM statuses WHERE status = 'ok'),
dims AS (
  SELECT doc_id, doc_id % 9 + 2 AS w, doc_id % 7 + 2 AS h FROM ok
),
grays AS (
  SELECT d.doc_id, g.k,
    ((d.doc_id + 3 * ((g.j * d.w) // 8) + 7 * ((g.i * d.h) // 8)) % 256)
    + 2 * ((d.doc_id * 2 + 5 * ((g.j * d.w) // 8)
            + 11 * ((g.i * d.h) // 8)) % 256)
    + 3 * ((d.doc_id * 3 + 13 * ((g.j * d.w) // 8)
            + 17 * ((g.i * d.h) // 8)) % 256) AS gray
  FROM dims d,
  LATERAL (
    SELECT i, j, i * 8 + j AS k
    FROM (SELECT unnest(generate_series(0, 7)) AS i),
         (SELECT unnest(generate_series(0, 7)) AS j)
  ) g
),
gtot AS (
  SELECT doc_id, k, gray,
    SUM(gray) OVER (PARTITION BY doc_id) AS total
  FROM grays
),
hashes AS (
  SELECT doc_id,
    bit_or(CASE WHEN 64 * gray > total
                THEN 1::UBIGINT << k ELSE 0::UBIGINT END) AS ahash
  FROM gtot GROUP BY doc_id
),
clusters AS (
  SELECT ahash, COUNT(*) AS n_members FROM hashes GROUP BY ahash
)
SELECT
  CAST((SELECT COUNT(*) FROM statuses) AS BIGINT) AS n_total,
  CAST((SELECT COUNT(*) FROM ok) AS BIGINT) AS n_ok,
  CAST((SELECT COUNT(*) FROM statuses WHERE status != 'ok') AS BIGINT)
    AS n_rejected,
  CAST((SELECT COUNT(*) FROM clusters) AS BIGINT) AS n_clusters,
  CAST((SELECT COALESCE(SUM(n_members - 1), 0) FROM clusters) AS BIGINT)
    AS n_dupes_removed
""",
    doc="Media curation composite (the multimodal mirror of "
    "pipeline_corpus_prep): integrity-audit every payload with the real "
    "PNG decoder (CRC flips and truncations rejected per object, one "
    "row each, never a task failure), perceptual-hash the SURVIVORS "
    "from their really-decoded BMP pixels, collapse hash-identical "
    "media, and publish the curation card: totals, rejects, clusters, "
    "dupes removed. One decode scan feeds both the audit and the hash "
    "(fused in a single mapInPandas pass); the only shuffles carry "
    "statuses and 8-byte hashes. The per-pair near-dup tier "
    "(dedup_image_phash's lossless banding) drops in between at "
    "production scale.",
)
def pipeline_media_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    def curate(batches):
        from ..functions.multimodal import bmp_pixels, png_pixels
        from ..functions.multimodal import _synth_bmp
        from ..operators.dedup import _ahash_from_pixels
        from ..functions.multimodal import _audit_payload

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                payload = _audit_payload(int(doc_id))
                try:
                    px = png_pixels(payload)
                    status = "ok" if px is not None else "unknown_format"
                except Exception:  # noqa: BLE001
                    status = "rejected"
                ahash = None
                if status == "ok":
                    ahash = _ahash_from_pixels(
                        bmp_pixels(_synth_bmp(int(doc_id)))
                    )
                rows.append(
                    {"doc_id": doc_id, "status": status, "ahash": ahash}
                )
            # None + int must NOT pass through pd.DataFrame's default
            # column inference: it coerces to float64 and silently
            # rounds 64-bit hashes above 2^53, colliding distinct
            # values. Build the hash column as nullable Int64 from the
            # raw Python ints.
            yield pd.DataFrame(
                {
                    "doc_id": [r["doc_id"] for r in rows],
                    "status": [r["status"] for r in rows],
                    "ahash": pd.array(
                        [r["ahash"] for r in rows], dtype="Int64"
                    ),
                }
            )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    # NOT widened (r15 A/B: 1.26 s widened vs 1.27 s narrow at sf0.1 —
    # a tie; the decode here is header-audit-light, so the exchange buys
    # nothing locally and the scan is already wide at real scale).
    # one decode pass feeds both branches
    curated, _ = materialize(
        docs.mapInPandas(curate, schema="doc_id bigint, status string, ahash bigint")
    )
    ok = curated.filter(F.col("status") == "ok")
    clusters = ok.groupBy("ahash").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    totals = curated.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum((F.col("status") == "ok").cast("int"))
        .cast("bigint")
        .alias("n_ok"),
        F.sum((F.col("status") != "ok").cast("int"))
        .cast("bigint")
        .alias("n_rejected"),
    )
    cstats = clusters.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.coalesce(F.sum(F.col("n_members") - 1), F.lit(0))
        .cast("bigint")
        .alias("n_dupes_removed"),
    )
    return totals.join(cstats)


# ---------------------------------------------------------------------------
# Targeted curation: DSIR-weighted selection under per-source quotas
# ---------------------------------------------------------------------------

CURATION_PER_SOURCE = 30  # keep the top-30 DSIR-weighted docs per source


@register(
    "pipeline_targeted_curation",
    oracle=f"""
WITH tok AS (
  SELECT d.doc_id, d.source,
    (list_aggregate(
       [(ascii(t.token[i]) * 31 + i) % 1000003
        for i in range(1, length(t.token) + 1)], 'sum')
     % 256) AS b
  FROM documents d,
    (SELECT doc_id, unnest(string_split(text, ' ')) AS token
     FROM documents) t
  WHERE t.doc_id = d.doc_id
),
tgt AS (
  SELECT b, COUNT(*) AS c FROM tok WHERE source = 'src0' GROUP BY b
),
raw AS (SELECT b, COUNT(*) AS c FROM tok GROUP BY b),
tgt_tot AS (SELECT SUM(c) AS t FROM tgt),
raw_tot AS (SELECT SUM(c) AS t FROM raw),
llr AS (
  SELECT raw.b,
    CAST(FLOOR(ln((COALESCE(tgt.c, 0) + 1.0)
                  / ((SELECT t FROM tgt_tot) + 256)) * 1000000) AS BIGINT)
    - CAST(FLOOR(ln((raw.c + 1.0)
                    / ((SELECT t FROM raw_tot) + 256)) * 1000000) AS BIGINT)
      AS llr_micro
  FROM raw LEFT JOIN tgt USING (b)
),
docw AS (
  SELECT tok.doc_id, ANY_VALUE(tok.source) AS source,
    CAST(SUM(llr.llr_micro) AS BIGINT) AS lw,
    CAST(COUNT(*) AS BIGINT) AS n_tokens
  FROM tok JOIN llr USING (b)
  WHERE tok.source != 'src0'
  GROUP BY tok.doc_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                               ORDER BY lw * 1.0 / n_tokens DESC, doc_id)
    AS rnk
  FROM docw
)
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_kept,
  CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens,
  CAST(MIN(doc_id) AS BIGINT) AS first_kept_doc,
  CAST(MAX(lw) AS BIGINT) AS best_logweight_micro
FROM ranked WHERE rnk <= {CURATION_PER_SOURCE}
GROUP BY source ORDER BY source
""",
    doc="Targeted-curation composite (the DoReMi/DSIR-style mixture "
    "builder): DSIR target/raw importance weights (bounded 256-bucket "
    "LMs, integer micro-quantized) rank every non-target document, a "
    f"per-source quota keeps the top {CURATION_PER_SOURCE} (domain "
    "balance — one source cannot monopolize the budget no matter how "
    "target-like it scores), and the output is the curation card: "
    "kept docs, kept token budget, best weight per source. One fused "
    "plan: tokenize scan -> two 256-row model aggs -> broadcast model "
    "join -> doc agg -> per-source WindowGroupLimit -> O(sources) "
    "rows. The quota window partitions by source, so at 100 TB each "
    "source ranks independently.",
)
def pipeline_targeted_curation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window as W

    from ..operators.sampling import dsir_doc_weights
    from ..sources.catalog import load_table

    docw = dsir_doc_weights(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    w = W.partitionBy("source").orderBy(
        F.desc(F.col("logweight_micro") * 1.0 / F.col("n_tokens")),
        F.asc("doc_id"),
    )
    return (
        docw.join(src, "doc_id")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= CURATION_PER_SOURCE)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.sum("n_tokens").cast("bigint").alias("kept_tokens"),
            F.min("doc_id").cast("bigint").alias("first_kept_doc"),
            F.max("logweight_micro")
            .cast("bigint")
            .alias("best_logweight_micro"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Sequence packing: the concat-and-chunk manifest LLM training batches use
# ---------------------------------------------------------------------------

PACK_SEQ_LEN = 256  # tokens per packed training sequence


@register(
    "pipeline_pack_sequences",
    oracle=f"""
WITH d AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
),
off AS (
  SELECT doc_id, n_tokens,
    COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off0
  FROM d
),
spans AS (
  SELECT doc_id, n_tokens, off0,
    CAST(off0 // {PACK_SEQ_LEN} AS BIGINT) AS seq_first,
    CAST((off0 + n_tokens - 1) // {PACK_SEQ_LEN} AS BIGINT) AS seq_last
  FROM off
),
touch AS (
  SELECT CAST(unnest(generate_series(seq_first, seq_last)) AS BIGINT)
           AS seq_id,
         doc_id, seq_first, seq_last
  FROM spans
),
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM d)
SELECT t.seq_id,
  CAST(COUNT(*) AS BIGINT) AS n_docs_touching,
  CAST(SUM(CASE WHEN t.seq_id = t.seq_first THEN 1 ELSE 0 END) AS BIGINT)
    AS n_docs_starting,
  CAST(SUM(CASE WHEN t.seq_id = t.seq_first AND t.seq_last > t.seq_first
                THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_split,
  CAST(LEAST({PACK_SEQ_LEN},
             tot.total_tokens - t.seq_id * {PACK_SEQ_LEN}) AS BIGINT)
    AS filled_tokens
FROM touch t, tot
GROUP BY t.seq_id, tot.total_tokens
""",
    doc=f"Training-sequence packing manifest (the concat-and-chunk "
    f"batching every LLM pretraining pipeline runs): docs in "
    "deterministic doc_id order are laid head-to-tail on a global token "
    f"axis and cut into {PACK_SEQ_LEN}-token sequences; each sequence "
    "reports how many documents touch it, start in it, and are SPLIT "
    "across its boundary (the attention-contamination metric that "
    "motivates doc-boundary masking), plus its fill (only the tail "
    "sequence is partial). All integer arithmetic off ONE distributed "
    "prefix sum (operators/ranks.py — range split + broadcast "
    "offsets, never a single-task window over the corpus) and a "
    "bounded per-doc span explode (a doc fans out to "
    "ceil(tokens/len)+1 rows at most).",
)
def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranks import with_global_cumsum

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    # the global token axis is an EXCLUSIVE prefix sum over O(docs):
    # inclusive distributed cumsum (operators/ranks.py) minus the row's
    # own tokens — never a single-task window over the corpus.
    off = with_global_cumsum(
        d, [F.col("doc_id")], F.col("n_tokens"), out="cum"
    ).select(
        "doc_id",
        "n_tokens",
        (F.col("cum") - F.col("n_tokens")).alias("off0"),
    )
    spans = off.select(
        "doc_id",
        "n_tokens",
        F.expr(f"off0 div {PACK_SEQ_LEN}").alias("seq_first"),
        F.expr(f"(off0 + n_tokens - 1) div {PACK_SEQ_LEN}").alias(
            "seq_last"
        ),
    )
    touch = spans.select(
        F.explode(
            F.sequence(F.col("seq_first"), F.col("seq_last"))
        ).alias("seq_id"),
        "seq_first",
        "seq_last",
    )
    tot = d.agg(F.sum("n_tokens").cast("bigint").alias("total_tokens"))
    return (
        touch.groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs_touching"),
            F.sum(
                F.when(F.col("seq_id") == F.col("seq_first"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_docs_starting"),
            F.sum(
                F.when(
                    (F.col("seq_id") == F.col("seq_first"))
                    & (F.col("seq_last") > F.col("seq_first")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_docs_split"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("seq_id").cast("bigint").alias("seq_id"),
            "n_docs_touching",
            "n_docs_starting",
            "n_docs_split",
            F.least(
                F.lit(PACK_SEQ_LEN),
                F.col("total_tokens") - F.col("seq_id") * PACK_SEQ_LEN,
            )
            .cast("bigint")
            .alias("filled_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Training-mix materialization: temperature quotas -> deterministic
# per-source document selection
# ---------------------------------------------------------------------------


@register(
    "pipeline_training_mix",
    oracle="""
WITH src AS (
  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS chars
  FROM documents GROUP BY source
),
w AS (
  SELECT *, CAST(FLOOR(1000000 * SQRT(chars)) AS BIGINT) AS w_micro
  FROM src
),
tot AS (SELECT CAST(SUM(w_micro) AS BIGINT) AS w_tot FROM w),
quota AS (
  SELECT w.source, CAST((100000 * w.w_micro) // t.w_tot AS BIGINT)
    AS quota_chars
  FROM w, tot t
),
ranked AS (
  SELECT d.doc_id, d.source, d.n_chars,
    SUM(d.n_chars) OVER (PARTITION BY d.source
      ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS cum_chars
  FROM documents d
),
sel AS (
  SELECT r.source, q.quota_chars, r.n_chars,
    CASE WHEN r.cum_chars <= q.quota_chars THEN 1 ELSE 0 END AS keep
  FROM ranked r JOIN quota q USING (source)
)
SELECT source, quota_chars,
  CAST(SUM(keep) AS BIGINT) AS n_selected,
  CAST(SUM(keep * n_chars) AS BIGINT) AS chars_selected,
  CAST(CASE WHEN quota_chars > 0
       THEN (1000000 * SUM(keep * n_chars)) // quota_chars
       ELSE 0 END AS BIGINT) AS utilization_ppm
FROM sel GROUP BY source, quota_chars
""",
    doc="Training-mix MATERIALIZATION — the step after the mixing-weight "
    "math (sample_temperature_mixing): each source's sqrt-temperature "
    "quota (of a 100k-char budget) is filled by documents in "
    "md5(doc_id) order (unbiased, append-stable) via one per-source "
    "cumulative-sum window, selecting docs whose inclusive running "
    "total fits the quota. Output: per-source selection counts, chars, "
    "and quota utilization in exact integer ppm (greedy fill "
    "undershoots by at most one document — the utilization column "
    "shows it honestly). One grouped aggregate + one window pass; at "
    "100 TB the window is per-source (hash-partitioned) and the quota "
    "table broadcasts.",
)
def pipeline_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..operators.sampling import _md5_of

    docs = load_table(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.sum("n_chars").cast("bigint").alias("chars")
    )
    w = src.withColumn(
        "w_micro",
        F.floor(1_000_000 * F.sqrt(F.col("chars"))).cast("bigint"),
    )
    tot = w.agg(F.sum("w_micro").cast("bigint").alias("w_tot"))
    quota = w.crossJoin(F.broadcast(tot)).select(
        "source",
        F.expr("CAST((100000 * w_micro) div w_tot AS BIGINT)").alias(
            "quota_chars"
        ),
    )
    win = (
        W.partitionBy("source")
        .orderBy(_md5_of("doc_id"), "doc_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    ranked = docs.select(
        "source",
        "n_chars",
        F.sum("n_chars").over(win).alias("cum_chars"),
    )
    sel = ranked.join(F.broadcast(quota), "source").select(
        "source",
        "quota_chars",
        "n_chars",
        F.when(F.col("cum_chars") <= F.col("quota_chars"), 1)
        .otherwise(0)
        .alias("keep"),
    )
    return sel.groupBy("source", "quota_chars").agg(
        F.sum("keep").cast("bigint").alias("n_selected"),
        F.sum(F.col("keep") * F.col("n_chars"))
        .cast("bigint")
        .alias("chars_selected"),
    ).select(
        "source",
        "quota_chars",
        "n_selected",
        "chars_selected",
        F.when(
            F.col("quota_chars") > 0,
            F.expr(
                "CAST((1000000 * chars_selected) div quota_chars"
                " AS BIGINT)"
            ),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("utilization_ppm"),
    )


# ---------------------------------------------------------------------------
# Curriculum staging (Bengio et al. 2009): easy -> hard training order
# ---------------------------------------------------------------------------

CURRICULUM_STAGES = 3
CURRICULUM_PREVIEW = 3  # manifest preview rows per stage


@register(
    "pipeline_curriculum_stages",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang, n_chars,
    NTILE({CURRICULUM_STAGES}) OVER (ORDER BY n_chars, doc_id) AS stage,
    md5(CAST(doc_id AS VARCHAR)) AS shuffle_key
  FROM documents
),
ranked AS (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY stage
                       ORDER BY shuffle_key, doc_id) AS pos
  FROM scored
)
SELECT stage,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
  CAST(MIN(n_chars) AS BIGINT) AS min_difficulty,
  CAST(MAX(n_chars) AS BIGINT) AS max_difficulty,
  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
  -- deterministic within-stage shuffle: first docs the trainer will see
  CAST(MIN(CASE WHEN pos = 1 THEN doc_id END) AS BIGINT) AS first_doc,
  CAST(MIN(CASE WHEN pos = {CURRICULUM_PREVIEW} THEN doc_id END)
       AS BIGINT) AS doc_at_preview
FROM ranked
GROUP BY stage
""",
    doc="Curriculum-learning staging (Bengio et al. 2009): the corpus "
    f"split into {CURRICULUM_STAGES} easy->hard stages by a "
    "deterministic difficulty score (n_chars with doc_id tiebreak — a "
    "real pipeline swaps in perplexity or quality score on the same "
    "plan), each stage shuffled INTERNALLY by md5(doc_id) so training "
    "order is reproducible across engines and re-ingests while still "
    "decorrelated from crawl order. Output: per-stage manifest card "
    "(sizes, difficulty range, language spread, the first docs the "
    "trainer would see). Plan: one distributed NTILE (ranks.py — "
    "range split + per-partition window + broadcast offsets, no "
    "single-task sort) + one per-stage window + grouped agg — the "
    "stage boundary never moves when data is repartitioned.",
)
def pipeline_curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r12: the NTILE cut moved onto the shared distributed-rank
    primitive. (The pre-r12 docstring claimed the unpartitioned NTILE
    window executed as a range-partitioned total order like
    sort_orders_global — it did not: an unpartitioned Window.orderBy
    runs behind Exchange SinglePartition on ONE task. The claim is now
    true by construction and contract-asserted in tests/test_ranks.py.)
    Execution-only rewrite; oracle unchanged."""
    from pyspark.sql import Window

    from ..operators.ranks import with_global_ntile

    docs = load_table(spark, sf_dir, "documents")
    scored = with_global_ntile(
        docs.select("doc_id", "lang", "n_chars"),
        [F.col("n_chars"), F.col("doc_id")],
        CURRICULUM_STAGES,
        out="stage",
    ).withColumn(
        "shuffle_key",
        F.md5(F.col("doc_id").cast("string").cast("binary")),
    )
    ranked = scored.withColumn(
        "pos",
        F.row_number().over(
            Window.partitionBy("stage").orderBy("shuffle_key", "doc_id")
        ),
    )
    return ranked.groupBy("stage").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.min("n_chars").cast("bigint").alias("min_difficulty"),
        F.max("n_chars").cast("bigint").alias("max_difficulty"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.min(F.when(F.col("pos") == 1, F.col("doc_id")))
        .cast("bigint")
        .alias("first_doc"),
        F.min(
            F.when(F.col("pos") == CURRICULUM_PREVIEW, F.col("doc_id"))
        )
        .cast("bigint")
        .alias("doc_at_preview"),
    )


# ---------------------------------------------------------------------------
# Mixture entropy — the diversity diagnostic on the training mix that
# pipeline_mixture_weights plans: Shannon entropy of the per-source token
# distribution, its exp() (the "effective number of sources"), and the
# normalized diversity H/ln(S).


_MIX_ENTROPY_TERM = (
    "CAST(FLOOR(-1000000000.0 * (tokens / grand) * LN(tokens / grand))"
    " AS BIGINT)"
)


@register(
    "pipeline_mixture_entropy",
    oracle=f"""
WITH per AS (
  SELECT source,
    CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1)
         AS BIGINT) AS tokens
  FROM documents GROUP BY source
),
tot AS (
  SELECT CAST(SUM(tokens) AS BIGINT) AS grand,
         CAST(COUNT(*) AS BIGINT) AS n_sources
  FROM per
),
terms AS (
  SELECT source, tokens, grand, n_sources,
         (tokens * 1000000) // grand AS share_ppm,
         {_MIX_ENTROPY_TERM} AS term_nano
  FROM per, tot
),
h AS (
  SELECT CAST(SUM(term_nano) AS BIGINT) AS entropy_nano,
         CAST(FLOOR(1000000000.0 * LN(CAST(MAX(n_sources) AS DOUBLE)))
              AS BIGINT) AS ln_s_nano
  FROM terms
)
SELECT t.source, t.tokens, t.share_ppm, t.term_nano,
       h.entropy_nano,
       CAST((h.entropy_nano * 1000000) // h.ln_s_nano AS BIGINT)
         AS diversity_ppm,
       ROUND(EXP(h.entropy_nano / 1000000000.0), 6)
         AS effective_sources_r6
FROM terms t, h
""",
    doc="Shannon entropy of the per-source token mix — the diversity "
    "diagnostic downstream of pipeline_mixture_weights (a mix collapsing "
    "onto one source reads diversity ~0; a uniform S-way mix reads "
    "ln(S), diversity 1e6 ppm, effective_sources = S). Each -p*ln(p) "
    "term is quantized to a nano-unit BIGINT BEFORE summation (the DSIR "
    "device), so the total entropy is an order-free integer sum and the "
    "exp()/normalization finishers are single IEEE ops on shared "
    "integers — FULL value oracle. Plan: one O(sources) partial-agg "
    "shuffle + a broadcast 1-row total; metadata-sized at any corpus "
    "scale.",
)
def pipeline_mixture_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        + 1
    )
    per = docs.groupBy("source").agg(
        F.sum(toks).cast("bigint").alias("tokens")
    )
    tot = per.agg(
        F.sum("tokens").cast("bigint").alias("grand"),
        F.count(F.lit(1)).cast("bigint").alias("n_sources"),
    )
    terms = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "tokens",
        F.expr("(tokens * 1000000) div grand").alias("share_ppm"),
        F.expr(_MIX_ENTROPY_TERM).alias("term_nano"),
        "n_sources",
    )
    h = terms.agg(
        F.sum("term_nano").cast("bigint").alias("entropy_nano"),
        F.expr(
            "CAST(FLOOR(1000000000.0 * LN(CAST(MAX(n_sources) AS DOUBLE)))"
            " AS BIGINT)"
        ).alias("ln_s_nano"),
    )
    return terms.crossJoin(F.broadcast(h)).select(
        "source",
        "tokens",
        "share_ppm",
        "term_nano",
        "entropy_nano",
        F.expr("CAST((entropy_nano * 1000000) div ln_s_nano AS BIGINT)")
            .alias("diversity_ppm"),
        F.round(F.exp(F.col("entropy_nano") / F.lit(1000000000.0)), 6)
            .alias("effective_sources_r6"),
    )


@register(
    "pipeline_dedup_survivorship",
    oracle="""
WITH fp AS (
  SELECT doc_id, n_chars,
         md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS cluster_id
  FROM documents
),
ranked AS (
  SELECT doc_id, cluster_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY cluster_id
                            ORDER BY n_chars DESC, doc_id) AS rk,
         FIRST_VALUE(doc_id) OVER (PARTITION BY cluster_id
                                   ORDER BY n_chars DESC, doc_id) AS survivor_id,
         COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
  FROM fp
)
SELECT doc_id, cluster_id,
       rk = 1 AS is_survivor,
       CAST(survivor_id AS BIGINT) AS survivor_id,
       CAST(cluster_size AS BIGINT) AS cluster_size
FROM ranked
ORDER BY doc_id
""",
    doc="Dedup SURVIVORSHIP policy (E10 extension) — the decision a "
    "training-data pipeline must make after clustering near-duplicates: "
    "which copy ships. Clusters key on the md5 8-token prefix "
    "fingerprint (the dataset-card first-pass signal; swap in MinHash "
    "band CC for stricter tiers — the policy stage is identical); the "
    "survivor is the deterministic best copy (longest n_chars, then "
    "lowest doc_id), and every document gets an auditable row: cluster, "
    "keep/drop, which survivor replaced it, cluster size. Spark shape: "
    "one scan -> ONE Exchange(cluster_id) shared by the row_number, "
    "first_value and count windows — O(docs) rows end to end, no joins. "
    "At 100 TB the fingerprint keys the shuffle (never raw text) and "
    "survivorship is embarrassingly per-cluster.",
)
def pipeline_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", "text"
    )
    fp = docs.withColumn(
        "cluster_id",
        F.md5(F.array_join(F.slice(F.split("text", " "), 1, 8), " ")),
    ).drop("text")
    w = W.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        fp.withColumn("rk", F.row_number().over(w))
        .withColumn("survivor_id", F.first("doc_id").over(w))
        .withColumn(
            "cluster_size",
            F.count(F.lit(1)).over(W.partitionBy("cluster_id")),
        )
        .select(
            "doc_id",
            "cluster_id",
            (F.col("rk") == 1).alias("is_survivor"),
            F.col("survivor_id").cast("bigint").alias("survivor_id"),
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
        )
        .orderBy("doc_id")
    )
