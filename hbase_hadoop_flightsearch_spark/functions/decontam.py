"""Benchmark decontamination: flag training documents that share word
n-grams with a held-out evaluation set (SURVEY.md §2b E12 extension).

This is the GPT-3/Dolma-style contamination check: build the set of
distinct n-grams appearing in the eval corpus, then scan the training
corpus and score each document by how many of its n-grams collide.

Spark shape (the 100 TB story):
  - The eval side is tiny relative to the corpus (benchmarks are MBs,
    corpora are TBs), so its distinct n-gram set is **broadcast** — the
    100 TB training scan never shuffles; contamination scoring fuses into
    the scan as a broadcast hash join + partial aggregation.
  - The training side explodes n-grams per doc but aggregates back to one
    row per doc immediately (partial agg before any exchange).

Here the "eval set" is carved deterministically out of the documents
table (doc_id % 50 == 0, ~2%), so the check is self-contained and
oracle-able. The synthetic corpus contains true near-duplicates, which is
exactly what contamination looks like in the wild.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import ngram_set
from ..plans.registry import register
from ..sources.catalog import load_table

NGRAM = 5  # word 5-grams: long enough that random word-soup rarely collides
EVAL_MOD = 50  # doc_id % 50 == 0 -> eval set


def _doc_ngrams(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, gs: array<string>) — distinct word n-grams per document."""
    toks = F.split(F.col("text"), " ")
    return (
        docs.filter(F.size(toks) >= n)
        .select("doc_id", toks.alias("toks"))
        .select("doc_id", ngram_set("toks", n).alias("gs"))
    )


@register(
    "text_decontaminate",
    oracle=f"""
WITH grams AS (
  SELECT doc_id, list_distinct(
    [array_to_string(toks[i:i+{NGRAM - 1}], ' ')
     for i in range(1, len(toks) - {NGRAM - 2})]
  ) AS gs
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) >= {NGRAM}
),
eval_grams AS (
  SELECT DISTINCT unnest(gs) AS g FROM grams
  WHERE doc_id % {EVAL_MOD} = 0
),
train AS (
  SELECT doc_id, len(gs) AS n_grams, unnest(gs) AS g FROM grams
  WHERE doc_id % {EVAL_MOD} <> 0
)
SELECT t.doc_id,
  MIN(t.n_grams) AS n_grams,
  COUNT(*) AS n_overlap,
  ROUND(COUNT(*) * 1.0 / MIN(t.n_grams), 4) AS overlap_frac,
  CASE WHEN COUNT(*) * 20 >= MIN(t.n_grams) THEN 1 ELSE 0
    END AS contaminated
FROM train t JOIN eval_grams e ON t.g = e.g
GROUP BY t.doc_id
""",
    doc="Eval-set decontamination (E12): flag training docs sharing word "
    f"{NGRAM}-grams with the held-out eval slice (doc_id % {EVAL_MOD} == 0). "
    "Broadcast the eval n-gram set so the corpus scan never shuffles.",
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-training-doc overlap with the eval n-gram set.

    Output: docs with >= 1 colliding n-gram, their overlap count/fraction,
    and a contaminated flag at the 5% threshold (integer arithmetic:
    ``n_overlap * 20 >= n_grams`` — engine-identical, no float compare).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return decontaminate_from(docs)


def decontaminate_from(docs: DataFrame) -> DataFrame:
    """Core decontamination over any (doc_id, text) frame; eval slice is
    doc_id % EVAL_MOD == 0."""
    grams = _doc_ngrams(docs, NGRAM)
    eval_grams = (
        grams.filter(F.col("doc_id") % EVAL_MOD == 0)
        .select(F.explode("gs").alias("g"))
        .distinct()
    )
    train = grams.filter(F.col("doc_id") % EVAL_MOD != 0).select(
        "doc_id",
        F.size("gs").alias("n_grams"),
        F.explode("gs").alias("g"),
    )
    joined = train.join(F.broadcast(eval_grams), "g")
    n_overlap = F.count(F.lit(1))
    n_grams = F.min("n_grams")
    return joined.groupBy("doc_id").agg(
        n_grams.alias("n_grams"),
        n_overlap.alias("n_overlap"),
        F.round(n_overlap * 1.0 / n_grams, 4).alias("overlap_frac"),
        F.when(n_overlap * 20 >= n_grams, F.lit(1))
        .otherwise(F.lit(0))
        .alias("contaminated"),
    )


@register(
    "text_gopher_repetition",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS toks, length(text) AS n_chars
  FROM documents
),
bigrams AS (
  SELECT doc_id, n_chars, len(toks) AS n_tokens,
    unnest([array_to_string(toks[i:i+1], ' ')
            for i in range(1, len(toks))]) AS bg
  FROM toks WHERE len(toks) >= 2
),
counts AS (
  SELECT doc_id, bg,
    MIN(n_chars) AS n_chars, MIN(n_tokens) AS n_tokens,
    COUNT(*) AS cnt
  FROM bigrams GROUP BY doc_id, bg
)
SELECT doc_id,
  MIN(n_tokens) AS n_tokens,
  ROUND((MIN(n_chars) - (MIN(n_tokens) - 1)) * 1.0 / MIN(n_tokens), 4)
    AS mean_word_len,
  ROUND(MAX(cnt) * 1.0 / SUM(cnt), 4) AS top_bigram_frac,
  ROUND(1.0 - COUNT(*) * 1.0 / SUM(cnt), 4) AS rep_bigram_frac,
  CASE WHEN MIN(n_tokens) >= 10 AND MIN(n_tokens) <= 100000
        AND MAX(cnt) * 5 <= SUM(cnt)
    THEN 1 ELSE 0 END AS quality_pass
FROM counts
GROUP BY doc_id
""",
    doc="Gopher-style repetition quality rules (E12): per-doc top-bigram "
    "fraction, repeated-bigram mass, mean word length, token-count bounds. "
    "One explode + two-stage aggregation; partial agg keeps the shuffle "
    "at O(distinct bigrams), not O(tokens).",
)
def text_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality scoring a la Gopher rules.

    ``top_bigram_frac`` = share of bigram occurrences taken by the most
    frequent bigram; ``rep_bigram_frac`` = share of bigram occurrences
    beyond each bigram's first (duplicated-n-gram mass). The pass flag
    uses integer arithmetic (``max*5 <= total`` i.e. top bigram <= 20%)
    so the cutoff is engine-exact.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return gopher_repetition_from(docs)


def gopher_repetition_from(docs: DataFrame) -> DataFrame:
    """Core repetition scoring over any (doc_id, text) frame."""
    docs = docs.select(
        "doc_id", "text", F.length("text").alias("n_chars")
    )
    toks = F.split(F.col("text"), " ")
    bigrams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 2),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 2)),
    )
    exploded = docs.filter(F.size(toks) >= 2).select(
        "doc_id",
        "n_chars",
        F.size(toks).alias("n_tokens"),
        F.explode(bigrams).alias("bg"),
    )
    per_bigram = exploded.groupBy("doc_id", "bg").agg(
        F.min("n_chars").alias("n_chars"),
        F.min("n_tokens").alias("n_tokens"),
        F.count(F.lit(1)).alias("cnt"),
    )
    n_tokens = F.min("n_tokens")
    n_chars = F.min("n_chars")
    top = F.max("cnt")
    total = F.sum("cnt")
    distinct = F.count(F.lit(1))
    return per_bigram.groupBy("doc_id").agg(
        n_tokens.alias("n_tokens"),
        F.round(
            (n_chars - (n_tokens - 1)) * 1.0 / n_tokens, 4
        ).alias("mean_word_len"),
        F.round(top * 1.0 / total, 4).alias("top_bigram_frac"),
        F.round(1.0 - distinct * 1.0 / total, 4).alias("rep_bigram_frac"),
        F.when(
            (n_tokens >= 10) & (n_tokens <= 100000) & (top * 5 <= total),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("quality_pass"),
    )


# ---------------------------------------------------------------------------
# FUZZY decontamination: MinHash-banded candidates vs the eval split,
# exact-Jaccard verified (the Llama/GPT-report n-gram-overlap removal,
# upgraded from exact-match to near-duplicate sensitivity)
# ---------------------------------------------------------------------------

FUZZY_DECON_MOD = 7  # eval split: doc_id % 7 == 5
FUZZY_DECON_TAU_PPM = 500_000  # exact-Jaccard contamination threshold
FUZZY_BANDS = 8  # 16 md5 minhashes as 8 bands x 2 rows:
# P(candidate | j) = 1-(1-j^2)^8 -> 0.90 at j=0.5, 0.995 at j=0.7


def _fuzzy_decon_oracle() -> str:
    from ..operators.dedup import _SHINGLE_SQL_DUCK, MINHASH_MD5_K

    sig_cols = ", ".join(
        f"MIN(md5(CAST({i} AS VARCHAR) || '|' || sh)) AS m{i}"
        for i in range(MINHASH_MD5_K)
    )
    band_joins = " OR ".join(
        f"(c.m{2*j} = e.m{2*j} AND c.m{2*j+1} = e.m{2*j+1})"
        for j in range(FUZZY_BANDS)
    )
    return f"""
WITH sh AS ({_SHINGLE_SQL_DUCK}),
ex AS (SELECT doc_id, unnest(shingles) AS sh FROM sh),
sig AS (SELECT doc_id, {sig_cols} FROM ex GROUP BY doc_id),
cands AS (
  SELECT DISTINCT c.doc_id AS corpus_doc, e.doc_id AS eval_doc
  FROM sig c JOIN sig e
    ON ({band_joins})
  WHERE c.doc_id % {FUZZY_DECON_MOD} <> 5
    AND e.doc_id % {FUZZY_DECON_MOD} = 5
),
verified AS (
  SELECT k.corpus_doc, k.eval_doc,
    CAST(len(list_intersect(a.shingles, b.shingles)) AS BIGINT) AS inter,
    CAST(len(a.shingles) AS BIGINT) AS sz_c,
    CAST(len(b.shingles) AS BIGINT) AS sz_e
  FROM cands k
  JOIN sh a ON k.corpus_doc = a.doc_id
  JOIN sh b ON k.eval_doc = b.doc_id
)
SELECT corpus_doc, eval_doc, inter AS n_shared_shingles,
  CAST((1000000 * inter) // (sz_c + sz_e - inter) AS BIGINT)
    AS jaccard_micro
FROM verified
WHERE (1000000 * inter) // (sz_c + sz_e - inter) >= {FUZZY_DECON_TAU_PPM}
"""


@register(
    "text_decontaminate_fuzzy",
    oracle=_fuzzy_decon_oracle(),
    doc="FUZZY eval-set decontamination — the near-duplicate upgrade of "
    "the exact n-gram decontaminator: corpus docs whose word-3-gram "
    "Jaccard with any eval-split doc (doc_id % 7 == 5, a stand-in for "
    "a benchmark suite) reaches 0.5, found via 16 engine-portable md5 "
    "min-hashes banded 8x2 (candidate recall 0.90 at j=0.5, 0.995 at "
    "j=0.7 by the banding theorem) and VERIFIED by exact integer "
    "Jaccard so precision is 1.0 by construction. Plan: one grouped "
    "16-way min for signatures, one (band, key) equi-join with the "
    "SMALL eval side broadcast (an eval suite is KBs even at 100 TB "
    "corpus scale) that keeps each pair in its first equal band, "
    "exact verify only on candidates — never corpus x eval. "
    "Both the banding and the verify replay value-exactly in DuckDB "
    "(md5 signatures are byte-identical), so this is a FULL value "
    "oracle unlike the xxhash production LSH tier.",
)
def text_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import (
        MINHASH_MD5_K,
        _minhash_md5_sigs,
        doc_shingles,
    )
    from ..operators.similarity import _banded_pairs

    sigs = _minhash_md5_sigs(spark, sf_dir).select(
        "doc_id",
        F.array(*[F.col(f"m{i}") for i in range(MINHASH_MD5_K)]).alias("sig"),
    )
    is_eval = F.col("doc_id") % FUZZY_DECON_MOD == 5
    # Band j's key is the md5 pair "m{2j}|m{2j+1}", the pair the oracle
    # compares; the eval side is a benchmark suite, small at any corpus
    # scale, so it is the broadcast index.
    cands = _banded_pairs(
        F.broadcast(sigs.filter(is_eval)),
        sigs.filter(~is_eval),
        "doc_id",
        "sig",
        FUZZY_BANDS,
        key=lambda s, j: F.concat_ws("|", F.slice(s, 2 * j + 1, 2)),
    ).select(
        F.col("doc_id1").alias("corpus_doc"),
        F.col("doc_id2").alias("eval_doc"),
    )

    sh = doc_shingles(spark, sf_dir).select(
        "doc_id", "shingles", F.size("shingles").alias("sz")
    )
    a = sh.select(
        F.col("doc_id").alias("corpus_doc"),
        F.col("shingles").alias("sh_c"),
        F.col("sz").alias("sz_c"),
    )
    b = sh.select(
        F.col("doc_id").alias("eval_doc"),
        F.col("shingles").alias("sh_e"),
        F.col("sz").alias("sz_e"),
    )
    verified = (
        cands.join(a, "corpus_doc")
        .join(F.broadcast(b), "eval_doc")
        .select(
            "corpus_doc",
            "eval_doc",
            F.size(F.array_intersect("sh_c", "sh_e"))
            .cast("bigint")
            .alias("inter"),
            "sz_c",
            "sz_e",
        )
    )
    out = verified.select(
        "corpus_doc",
        "eval_doc",
        F.col("inter").alias("n_shared_shingles"),
        F.expr(
            "CAST((1000000 * inter) div (sz_c + sz_e - inter) AS BIGINT)"
        ).alias("jaccard_micro"),
    )
    return out.filter(F.col("jaccard_micro") >= FUZZY_DECON_TAU_PPM)
