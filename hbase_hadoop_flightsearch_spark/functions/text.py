"""Text analysis for training-data pipelines (SURVEY.md §2b E12):
language-ID heuristic, quality scoring, token counting, fingerprinting.

All built from JVM-side string/array expressions; the semantics are chosen
to be engine-portable (length/replace arithmetic instead of regex where the
regex engines could disagree), so nearly the whole family is oracle-checked.

Scale note: every query here is embarrassingly parallel row-level work fused
into the scan by codegen — zero shuffles except the final aggregates. At
100 TB this family is I/O-bound, which is the right bound.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import word_ngrams
from ..operators.iterate import materialize
from ..plans.registry import register
from ..sources.catalog import load_table

# Tiny stopword table for the n-gram language heuristic. The corpus is
# synthetic word-soup, so the heuristic's real job is to be deterministic
# and cheap; the per-language evidence words mirror how a real n-gram
# language ID scores character/word n-grams per language.
_LANG_MARKERS = [
    ("en", ["the", "and", "of"]),
    ("es", ["el", "la", "de"]),
    ("de", ["der", "die", "und"]),
    ("fr", ["le", "la", "et"]),
]


def _n_tokens(text: Column) -> Column:
    """Whitespace token count via pure length arithmetic (identical in any
    engine, immune to regex dialect differences)."""
    return (
        F.length(text) - F.length(F.regexp_replace(text, " ", "")) + 1
    ).cast("int")


def lang_id_score(text: Column) -> Column:
    """First matching language by marker-word evidence, else 'unk'."""
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    expr = F.lit("unk")
    for lang, words in reversed(_LANG_MARKERS):
        hits = sum(
            (padded.contains(f" {w} ")).cast("int") for w in words
        )
        expr = F.when(hits >= 2, F.lit(lang)).otherwise(expr)
    return expr


def _lang_id_duck() -> str:
    cases = []
    for lang, words in _LANG_MARKERS:
        hits = " + ".join(
            f"CASE WHEN contains(' ' || text || ' ', ' {w} ') "
            f"THEN 1 ELSE 0 END"
            for w in words
        )
        cases.append(f"WHEN ({hits}) >= 2 THEN '{lang}'")
    return "CASE " + " ".join(cases) + " ELSE 'unk' END"


@register(
    "text_stats",
    oracle="""
SELECT doc_id, lang, source,
  CAST(length(text) AS INT) AS n_chars_actual,
  CAST(length(text) - length(replace(text, ' ', '')) + 1 AS INT) AS n_tokens,
  ROUND((length(text) - (length(text) - length(replace(text, ' ', ''))))
        * 1.0 / (length(text) - length(replace(text, ' ', '')) + 1), 4)
    AS avg_token_len,
  CASE WHEN contains(text, 'spark') THEN 1 ELSE 0 END AS mentions_spark
FROM documents
""",
    doc="Per-document token counting + shape stats (E12), pure arithmetic.",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    n_spaces = F.length(text) - F.length(F.regexp_replace(text, " ", ""))
    n_tokens = (n_spaces + 1).cast("int")
    return docs.select(
        "doc_id",
        "lang",
        "source",
        F.length(text).cast("int").alias("n_chars_actual"),
        n_tokens.alias("n_tokens"),
        F.round((F.length(text) - n_spaces) * 1.0 / (n_spaces + 1), 4).alias(
            "avg_token_len"
        ),
        text.contains("spark").cast("int").alias("mentions_spark"),
    )


# GPT-2-style pre-tokenizer approximation. Deliberately restricted to
# syntax RE2 (DuckDB) and java.util.regex (Spark) evaluate identically:
# alternation + character classes only — no lookarounds, no backrefs.
BPE_ISH_PATTERN = r"'(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"
_BPE_SQL = BPE_ISH_PATTERN.replace("'", "''")


@register(
    "text_bpe_token_count",
    oracle=f"""
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{_BPE_SQL}')) AS INT)
    AS bpe_tokens,
  CAST(length(text) - length(replace(text, ' ', '')) + 1 AS INT)
    AS ws_tokens
FROM documents
""",
    doc="Token counting (E12): BPE-ish pre-tokenizer regex count next to "
    "the whitespace count — the cost-estimation primitive for training-"
    "data budgeting.",
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both token-count flavors per document, single scan, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    return docs.select(
        "doc_id",
        F.regexp_count(text, F.lit(BPE_ISH_PATTERN))
        .cast("int")
        .alias("bpe_tokens"),
        _n_tokens(text).alias("ws_tokens"),
    )


@register(
    "text_quality_score",
    oracle="""
WITH t AS (
  SELECT doc_id,
    length(text) - length(replace(text, ' ', '')) + 1 AS n_toks,
    length(text) AS n_ch,
    len(list_distinct(string_split(text, ' '))) AS n_uniq
  FROM documents
)
SELECT doc_id,
  CAST(n_toks AS INT) AS n_tokens,
  ROUND(n_uniq * 1.0 / n_toks, 4) AS uniq_ratio,
  CASE WHEN n_toks >= 20 AND n_ch >= 100
            AND n_uniq * 1.0 / n_toks >= 0.3 THEN 'keep'
       WHEN n_toks >= 10 THEN 'review'
       ELSE 'drop' END AS quality_bucket
FROM t
""",
    doc="Quality scoring (E12): length + lexical-diversity gates, the "
    "standard pre-training filter shape.",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    n_toks = _n_tokens(text)
    n_uniq = F.size(F.array_distinct(F.split(text, " ")))
    uniq_ratio = n_uniq * 1.0 / n_toks
    return docs.select(
        "doc_id",
        n_toks.alias("n_tokens"),
        F.round(uniq_ratio, 4).alias("uniq_ratio"),
        F.when(
            (n_toks >= 20) & (F.length(text) >= 100) & (uniq_ratio >= 0.3),
            "keep",
        )
        .when(n_toks >= 10, "review")
        .otherwise("drop")
        .alias("quality_bucket"),
    )


@register(
    "text_lang_id",
    oracle=f"""
SELECT {_lang_id_duck()} AS predicted_lang, lang AS labeled_lang,
  COUNT(*) AS n_docs
FROM documents
GROUP BY 1, 2
""",
    doc="Language-ID heuristic (E12): marker-word n-gram evidence vs the "
    "dataset's own labels, as a confusion rollup.",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            lang_id_score(F.col("text")).alias("predicted_lang"),
            F.col("lang").alias("labeled_lang"),
        )
        .groupBy("predicted_lang", "labeled_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# Character-trigram profiles per language — the classic n-gram language-ID
# shape (score = occurrence count of each language's signature trigrams).
# Occurrence counting is pure length arithmetic, identical in any engine.
_LANG_TRIGRAMS = [
    ("en", [" th", "he ", "nd "]),
    ("es", [" el", " de", "la "]),
    ("de", ["er ", "der", "und"]),
    ("fr", [" le", "et ", " la"]),
]


def _tg_count_spark(text: Column, tg: str) -> Column:
    return (
        F.length(text) - F.length(F.replace(text, F.lit(tg)))
    ) / len(tg)


def _tg_count_duck(tg: str) -> str:
    esc = tg.replace("'", "''")
    return f"(length(padded) - length(replace(padded, '{esc}', ''))) / 3"


def ngram_lang_pred(text: Column) -> Column:
    """Reusable trigram-profile classifier: argmax language with the fixed
    en > es > de > fr priority tiebreak (mirrors `ngram_lang_pred_duck`)."""
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    s = {
        lang: sum(_tg_count_spark(padded, tg) for tg in tgs)
        for lang, tgs in _LANG_TRIGRAMS
    }
    return (
        F.when(
            (s["en"] >= s["es"]) & (s["en"] >= s["de"]) & (s["en"] >= s["fr"]),
            F.lit("en"),
        )
        .when((s["es"] >= s["de"]) & (s["es"] >= s["fr"]), F.lit("es"))
        .when(s["de"] >= s["fr"], F.lit("de"))
        .otherwise(F.lit("fr"))
    )


def ngram_lang_pred_duck(text_expr: str) -> str:
    """DuckDB twin of ngram_lang_pred as a scalar SQL expression over
    `text_expr` (kept textually parallel to the Spark version)."""
    scores = {
        lang: "("
        + " + ".join(
            f"(length({'padded'}) - length(replace({'padded'}, "
            f"'{tg.replace(chr(39), chr(39) * 2)}', ''))) / 3"
            for tg in tgs
        )
        + ")"
        for lang, tgs in _LANG_TRIGRAMS
    }
    body = f"""CASE
  WHEN {scores['en']} >= {scores['es']} AND {scores['en']} >= {scores['de']}
       AND {scores['en']} >= {scores['fr']} THEN 'en'
  WHEN {scores['es']} >= {scores['de']} AND {scores['es']} >= {scores['fr']}
       THEN 'es'
  WHEN {scores['de']} >= {scores['fr']} THEN 'de'
  ELSE 'fr' END"""
    return body.replace("padded", f"(' ' || {text_expr} || ' ')")


@register(
    "text_lang_id_ngram",
    oracle="""
WITH scored AS (
  SELECT doc_id, lang AS labeled_lang, ' ' || text || ' ' AS padded
  FROM documents
), s AS (
  SELECT doc_id, labeled_lang,
"""
    + ",\n".join(
        f"    ({' + '.join(_tg_count_duck(tg) for tg in tgs)}) AS s_{lang}"
        for lang, tgs in _LANG_TRIGRAMS
    )
    + """
  FROM scored
)
SELECT CASE
  WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
  WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
  WHEN s_de >= s_fr THEN 'de'
  ELSE 'fr' END AS predicted_lang,
  labeled_lang, COUNT(*) AS n_docs
FROM s
GROUP BY 1, 2
""",
    doc="Character-n-gram language ID (E12): per-language trigram profile "
    "scores, argmax with fixed priority tiebreak, confusion rollup vs the "
    "dataset labels.",
)
def text_lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram occurrence counts are length/replace arithmetic fused into
    the scan — the whole classifier is one projection + one aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.col("lang").alias("labeled_lang"),
            ngram_lang_pred(F.col("text")).alias("predicted_lang"),
        )
        .groupBy("predicted_lang", "labeled_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "text_fingerprint_clusters",
    oracle="""
WITH fp AS (
  SELECT doc_id,
    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))),
        ' ')) AS fingerprint
  FROM documents
)
SELECT fingerprint, MIN(doc_id) AS keeper_doc_id, COUNT(*) AS cluster_size
FROM fp
GROUP BY fingerprint
""",
    doc="Document fingerprinting (E12): normalized sorted-token-set hash "
    "(OpenRefine-style), clustering permutation duplicates.",
)
def text_fingerprint_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fingerprint = F.md5(
        F.array_join(
            F.array_sort(F.array_distinct(F.split(F.col("text"), " "))), " "
        ).cast("binary")
    )
    return (
        docs.select("doc_id", fingerprint.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("cluster_size"),
        )
    )


@register(
    "text_token_frequencies",
    oracle="""
SELECT token, COUNT(*) AS freq
FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
GROUP BY token
ORDER BY freq DESC, token
LIMIT 20
""",
    doc="Corpus token histogram (E12): explode + count + top-20, the "
    "vocabulary-building primitive.",
)
def text_token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(20)
    )


@register(
    "text_rolling_hash_fingerprint",
    oracle="""
SELECT doc_id,
  CAST(list_aggregate(
    [(ascii(text[i]) * 31 + i) % 1000000007 for i in range(1, least(length(text), 64) + 1)],
    'sum') % 1000000007 AS BIGINT) AS rolling_hash
FROM documents
""",
    doc="Rolling-hash fingerprint (E12) over the first 64 chars — "
    "position-sensitive (unlike the token-set fingerprint).",
)
def text_rolling_hash_fingerprint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Polynomial-style rolling hash as a pure array expression: hash =
    sum over positions i of (ascii(char_i)*31 + i) mod p. Deterministic,
    engine-portable, fused into the scan."""
    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    prefix_len = F.least(F.length(text), F.lit(64))
    terms = F.transform(
        F.sequence(F.lit(1), prefix_len),
        lambda i: (
            F.ascii(F.substring(text, 1, 1000000).substr(i, F.lit(1)))
            * 31
            + i
        )
        % 1000000007,
    )
    rolling = (
        F.aggregate(terms, F.lit(0).cast("long"), lambda s, x: s + x)
        % 1000000007
    )
    return docs.select("doc_id", rolling.cast("long").alias("rolling_hash"))


@register(
    "text_tfidf_top_terms",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token
),
df AS (
  SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token
),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, df.df,
    tf.tf * ((SELECT COUNT(*) * 1.0 FROM documents) / df.df) AS score
  FROM tf JOIN df ON tf.token = df.token
)
SELECT doc_id, token, tf, df, score
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY score DESC, token
  ) AS rn FROM scored
) WHERE rn <= 5
""",
    doc="TF-IDF (E12): top-5 characteristic terms per document. Linear idf "
    "(tf * N/df) — same IEEE op order in both engines, so value-exact "
    "cross-engine (log-idf would differ in the last ulp between libm and "
    "the JVM and is a monotone transform of this ranking anyway).",
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tf = term count in doc; df = docs containing term; score =
    tf * (N/df). Two partial-aggregated shuffles (doc,token) and (token);
    the df table is vocabulary-sized and broadcast — at a 100 TB vocab
    (typo-heavy web text) swap the hint for a shuffle join, the rest of
    the plan is unchanged. Top-5 per doc via WindowGroupLimit."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.agg((F.count(F.lit(1)) * 1.0).alias("n_docs"))
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df.withColumnRenamed("token", "t2")),
                tf.token == F.col("t2"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id", "token", "tf", "df",
            (F.col("tf") * (F.col("n_docs") / F.col("df"))).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
    )


@register(
    "text_pii_scrub",
    oracle=r"""
WITH augmented AS (
  SELECT doc_id,
    text || ' contact user' || doc_id || '@ex' || (doc_id % 7) ||
    '.com phone ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') ||
    '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
  FROM documents
)
SELECT doc_id,
  regexp_replace(
    regexp_replace(t, '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
    '\b\d{3}-\d{4}\b', '<PHONE>', 'g') AS scrubbed,
  len(regexp_extract_all(t, '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}'))
    AS n_emails,
  len(regexp_extract_all(t, '\b\d{3}-\d{4}\b')) AS n_phones
FROM augmented
""",
    doc="PII scrub (E12, corpus-prep): regex redaction of emails/phones "
    "with per-doc redaction counts. The corpus has no PII, so each doc is "
    "augmented with synthesized deterministic contact strings first — the "
    "scrub provably fires on every row. Regexes stay in the RE2∩java.util"
    ".regex common syntax (no lookarounds/backrefs).",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-local regexp_replace/regexp_count fused into the scan — the
    embarrassingly-parallel shape; I/O-bound at 100 TB. Note DuckDB
    regexp_replace needs the 'g' flag to match Spark's replace-all."""
    email = r"[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}"
    phone = r"\b\d{3}-\d{4}\b"
    docs = load_table(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id"),
        F.lit("@ex"), F.col("doc_id") % 7,
        F.lit(".com phone "),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    return docs.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(t, email, "<EMAIL>"), phone, "<PHONE>"
        ).alias("scrubbed"),
        F.regexp_count(t, F.lit(email)).alias("n_emails"),
        F.regexp_count(t, F.lit(phone)).alias("n_phones"),
    )


@register(
    "text_inverted_index",
    oracle="""
WITH posting AS (
  SELECT token, doc_id FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
  ) WHERE token <> ''
  GROUP BY token, doc_id
)
SELECT token,
  COUNT(*) AS df,
  array_to_string(list_sort(list(doc_id)), ',') AS postings
FROM posting
GROUP BY token
ORDER BY df DESC, token
LIMIT 30
""",
    doc="Inverted-index build (E12): token -> sorted doc-id posting list + "
    "document frequency; top-30 terms by df. One explode + one shuffle on "
    "the term key; postings arrive sorted because collect_list runs over "
    "the deduped (token, doc) pairs and is array_sort-normalized — at "
    "100 TB this is the classic index-build job: shuffle O(distinct "
    "(token, doc) pairs), posting lists written per term partition. "
    "Postings are serialized to a comma-joined string for the cross-engine "
    "value hash (array columns don't canonicalize).",
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    posting = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
        )
        .filter(F.col("token") != "")
        .distinct()
    )
    return (
        posting.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings"),
        )
        .orderBy(F.desc("df"), "token")
        .limit(30)
    )


@register(
    "text_unigram_logprob",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token
),
lm AS (
  SELECT token, COUNT(*) AS c FROM tok GROUP BY token
),
total AS (SELECT COUNT(*) AS t FROM tok)
SELECT doc_id,
  CAST(SUM(tf) AS BIGINT) AS n_tokens,
  ROUND((log2(t) * SUM(tf) - SUM(tf * log2(c))) / SUM(tf), 6)
    AS avg_neg_log2p
FROM tf JOIN lm USING (token), total
GROUP BY doc_id, t
""",
    doc="Unigram language-model scoring — the KenLM-perplexity quality "
    "filter shape: train token log-probs on the corpus itself, score "
    "each document by mean per-token surprisal -log2 p(token) = "
    "log2(T) - log2(c_token). log2 is only ever applied to EXACT "
    "integer counts (the same inputs in both engines, the entropy-query "
    "precedent), summed and rounded to 6 dp.",
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    return unigram_logprob(load_table(spark, sf_dir, "documents"))


def unigram_logprob(docs: DataFrame) -> DataFrame:
    """Per-document mean surprisal under a corpus-trained unigram LM.

    High avg_neg_log2p = rare-token-heavy (gibberish / OOD candidates),
    low = repetitive boilerplate — both tails are what a training-data
    quality filter cuts. In production the LM side is a *held-out*
    reference corpus; training it on the scored corpus itself (done here
    so the query is self-contained) is the standard first pass.

    Scale notes (100 TB): two token-keyed partial-agg shuffles — per-doc
    term frequencies (doc_id, token) and corpus counts (token) — then
    the unigram table joins back BROADCAST (it is vocabulary-sized, not
    corpus-sized; at web-scale vocab swap the hint for a shuffle join,
    the rest of the plan is unchanged, same note as TF-IDF). The total
    token count rides a 1-row broadcast. Final per-doc aggregate re-uses
    the (doc_id, token) grouping's doc_id prefix.
    """
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    lm = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    total = tok.agg(F.count(F.lit(1)).alias("t"))
    return (
        tf.join(F.broadcast(lm), "token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            F.round(
                (
                    F.log2(F.first("t")) * F.sum("tf")
                    - F.sum(F.col("tf") * F.log2("c"))
                )
                / F.sum("tf"),
                6,
            ).alias("avg_neg_log2p"),
        )
    )


@register(
    "text_url_domain_stats",
    oracle="""
WITH urls AS (
  SELECT doc_id, source,
    'https://cdn' || CAST(doc_id % 40 AS VARCHAR) || '.host'
      || CAST(doc_id % 6 AS VARCHAR) || '.example/p/'
      || CAST(doc_id AS VARCHAR) || '?ref=' || source AS url
  FROM documents
),
parsed AS (
  SELECT doc_id,
    regexp_extract(url, '^https://([^/]+)/', 1) AS host,
    regexp_extract(url, '\\?ref=(.*)$', 1) AS ref
  FROM urls
)
SELECT regexp_extract(host, '\\.(host[0-9]+\\.example)$', 1)
         AS registered_domain,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT host) AS BIGINT) AS n_subdomains,
       CAST(COUNT(DISTINCT ref) AS BIGINT) AS n_refs
FROM parsed
GROUP BY 1
""",
    doc="URL parsing + domain-level corpus stats (E9/E12): Spark-native "
    "parse_url(HOST/QUERY) on deterministically synthesized per-doc "
    "URLs, rolled up by registered domain — the domain-filtering / "
    "source-attribution shape of web-corpus curation (domain allowlists, "
    "per-domain caps). The oracle parses with regex, proving the "
    "parse_url semantics against an independent implementation.",
)
def text_url_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parse_url runs JVM-side fused into the scan; the rollup shuffles
    O(domains). sample_per_source_quota is the enforcement half (cap per
    source); this is the measurement half."""
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://cdn"), (F.col("doc_id") % 40).cast("string"),
        F.lit(".host"), (F.col("doc_id") % 6).cast("string"),
        F.lit(".example/p/"), F.col("doc_id").cast("string"),
        F.lit("?ref="), F.col("source"),
    )
    parsed = docs.select(
        "doc_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("QUERY"), F.lit("ref")).alias("ref"),
    )
    return parsed.groupBy(
        F.regexp_extract(
            F.col("host"), r"\.(host[0-9]+\.example)$", 1
        ).alias("registered_domain")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count_distinct("host").cast("bigint").alias("n_subdomains"),
        F.count_distinct("ref").cast("bigint").alias("n_refs"),
    )


@register(
    "text_readability_flesch",
    oracle="""
WITH m AS (
  SELECT doc_id,
    length(text) - length(replace(text, ' ', '')) + 1 AS n_words,
    GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
    GREATEST(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
      AS n_syllables
  FROM documents
)
SELECT doc_id,
  CAST(n_words AS BIGINT) AS n_words,
  CAST(n_sentences AS BIGINT) AS n_sentences,
  CAST(n_syllables AS BIGINT) AS n_syllables,
  ROUND(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
        - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 4)
    AS flesch_score
FROM m
""",
    doc="Flesch reading-ease scoring (text-quality family): words via the "
    "split law, sentences via terminal-punctuation runs, syllables via "
    "the vowel-group heuristic — all integer counts, so the score's "
    "float arithmetic is identical in both engines. Scan-fused row-local "
    "expressions: zero shuffle, full codegen, trivially scales to any "
    "corpus size.",
)
def text_readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    n_words = F.length(t) - F.length(F.regexp_replace(t, " ", "")) + 1
    n_sents = F.greatest(
        F.regexp_count(t, F.lit(r"[.!?]+")), F.lit(1)
    )
    n_syll = F.greatest(
        F.regexp_count(F.lower(t), F.lit(r"[aeiouy]+")), F.lit(1)
    )
    m = docs.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        n_sents.cast("bigint").alias("n_sentences"),
        n_syll.cast("bigint").alias("n_syllables"),
    )
    return m.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.round(
            F.lit(206.835)
            - 1.015
            * (F.col("n_words").cast("double") / F.col("n_sentences"))
            - 84.6
            * (F.col("n_syllables").cast("double") / F.col("n_words")),
            4,
        ).alias("flesch_score"),
    )


HASH_DIM_BITS = 10  # 2^10 = 1024 feature buckets
HASH_DIM = 1 << HASH_DIM_BITS


@register(
    "text_hashed_linear_score",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token
  FROM documents
),
feat AS (
  SELECT doc_id,
    CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % {HASH_DIM}
      AS bucket
  FROM tok
),
scored AS (
  SELECT doc_id, bucket, COUNT(*) AS tf,
    -- deterministic per-bucket weight in [-8, 7]: the "trained model"
    (bucket * 2654435761) % 16 - 8 AS w
  FROM feat GROUP BY doc_id, bucket
)
SELECT doc_id,
  CAST(SUM(tf * w) AS BIGINT) AS score_raw,
  CAST(COUNT(*) AS BIGINT) AS n_active_features,
  SUM(tf * w) > 0 AS keep
FROM scored GROUP BY doc_id
""",
    doc="Feature-hashed linear quality scorer (the fastText-classifier "
    "inference shape): tokens hash into 2^10 buckets via md5 (the "
    "cross-engine hash primitive), per-doc term frequencies meet a "
    "bucket-indexed weight vector, score = <tf, w>. The weight vector "
    "here is a deterministic function of the bucket id standing in for "
    "trained parameters — in production it is a broadcast array lookup, "
    "identical plan. Integer arithmetic end-to-end. Scale shape: "
    "explode -> ONE partial-aggregated groupBy(doc, bucket) -> per-doc "
    "sum; the model never exceeds 2^k weights regardless of vocabulary "
    "size — the whole point of the hashing trick.",
)
def text_hashed_linear_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    bucket = (
        F.conv(F.substring(F.md5("token"), 1, 8), 16, 10)
        .cast("bigint")
        % HASH_DIM
    )
    feat = tok.select("doc_id", bucket.alias("bucket"))
    w = (F.col("bucket") * F.lit(2654435761)) % 16 - 8
    scored = (
        feat.groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
        .select("doc_id", (F.col("tf") * w).alias("contrib"))
    )
    return scored.groupBy("doc_id").agg(
        F.sum("contrib").cast("bigint").alias("score_raw"),
        F.count(F.lit(1)).cast("bigint").alias("n_active_features"),
        (F.sum("contrib") > 0).alias("keep"),
    )


@register(
    "text_bigram_logprob",
    oracle="""
WITH tok AS (
  SELECT doc_id,
    unnest(string_split(text, ' ')) AS token,
    generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
),
big AS (
  SELECT a.doc_id, a.token AS w1, b.token AS w2
  FROM tok a JOIN tok b
    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
doc_big AS (
  SELECT doc_id, w1, w2, COUNT(*) AS tf FROM big GROUP BY doc_id, w1, w2
),
lm_big AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2
),
lm_uni AS (
  SELECT w1, COUNT(*) AS c1 FROM big GROUP BY w1
),
vocab AS (
  SELECT COUNT(DISTINCT token) AS v FROM tok
)
SELECT doc_id,
  CAST(SUM(tf) AS BIGINT) AS n_bigrams,
  ROUND(
    (SUM(tf * log2(c1 + v)) - SUM(tf * log2(c12 + 1))) / SUM(tf),
    6) AS avg_neg_log2p
FROM doc_big
JOIN lm_big USING (w1, w2)
JOIN lm_uni USING (w1), vocab
GROUP BY doc_id
""",
    doc="BIGRAM language-model scoring with add-one (Laplace) smoothing — "
    "the order-2 upgrade of the unigram perplexity filter: "
    "-log2 P(w2|w1) = log2(c(w1)+V) - log2(c(w1w2)+1), averaged per "
    "document. Like the unigram and entropy precedents, log2 is only "
    "ever applied to exact integer counts, so both engines compute "
    "identical doubles. Scale shape: bigrams explode scan-side from "
    "the split tokens (no window, no doc_id exchange), then two "
    "token-keyed partial-agg shuffles; "
    "the bigram LM table joins back broadcast (vocab^2-bounded but "
    "Zipf-sparse — swap for a shuffle join at web scale, plan "
    "otherwise unchanged).",
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    tok = toks.select(F.explode("t").alias("token"))
    big = toks.select(
        "doc_id", F.explode(word_ngrams("t", 2)).alias("g")
    ).select("doc_id", "g.w1", "g.w2")
    doc_big = big.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).alias("tf")
    )
    lm_big = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    lm_uni = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = tok.agg(F.count_distinct("token").alias("v"))
    neg_lp = F.sum(
        F.col("tf") * F.log2(F.col("c1") + F.col("v"))
    ) - F.sum(F.col("tf") * F.log2(F.col("c12") + 1))
    return (
        doc_big.join(F.broadcast(lm_big), ["w1", "w2"])
        .join(F.broadcast(lm_uni), "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_bigrams"),
            F.round(neg_lp / F.sum("tf"), 6).alias("avg_neg_log2p"),
        )
    )


ZIPF_TOP_N = 100  # head of the rank-frequency curve used for the fit


@register(
    "text_zipf_slope",
    oracle=f"""
WITH cnt AS (
  SELECT token, COUNT(*) AS c
  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
  GROUP BY token
),
ranked AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, token) AS r FROM cnt
),
m AS (
  SELECT COUNT(*) AS n,
    SUM(log2(r)) AS sx, SUM(log2(c)) AS sy,
    SUM(log2(r) * log2(c)) AS sxy, SUM(log2(r) * log2(r)) AS sxx
  FROM ranked WHERE r <= {ZIPF_TOP_N}
)
SELECT CAST(n AS BIGINT) AS n_terms,
  ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
  ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
    AS zipf_intercept
FROM m
""",
    doc="Zipf's-law fit: OLS slope of log2(count) on log2(rank) over the "
    f"top-{ZIPF_TOP_N} tokens — the corpus-health diagnostic (natural "
    "text sits near slope -1; a crawl full of boilerplate or spam "
    "doesn't). Composes the OLS-sufficient-statistics pattern with the "
    "token counter: one token-keyed partial-agg shuffle, a top-N "
    "window over O(vocab) counts, then a 1-row moment aggregate — the "
    "100 TB input only ever feeds the first partial agg. log2 on exact "
    "integer counts/ranks per the entropy precedent.",
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # Top-N via TakeOrdered (per-partition heap), not a rank filter: the
    # unpartitioned row_number idiom gets no WindowGroupLimit rewrite
    # (r15 audit) and would single-task-sort the whole distinct-token
    # aggregate — vocabulary-sized at 100 TB.
    from ..operators.ranks import global_topk

    ranked = global_topk(
        cnt, [F.desc("c"), F.asc("token")], ZIPF_TOP_N, out="r"
    ).select("c", "r")
    lx, ly = F.log2("r"), F.log2("c")
    m = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(lx).alias("sx"),
        F.sum(ly).alias("sy"),
        F.sum(lx * ly).alias("sxy"),
        F.sum(lx * lx).alias("sxx"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx = F.col("sxy"), F.col("sxx")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return m.select(
        n.cast("bigint").alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((sy - slope * sx) / n, 6).alias("zipf_intercept"),
    )


# ---------------------------------------------------------------------------
# RAKE keyword extraction
# ---------------------------------------------------------------------------

RAKE_STOPWORDS = ("the", "a", "and", "of", "to", "in")
RAKE_TOP_K = 3


@register(
    "text_keyword_rake",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos, t.toks[i] AS tok
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t,
       LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i)
),
seg AS (
  SELECT doc_id, pos, tok,
    SUM(CASE WHEN tok IN {RAKE_STOPWORDS} THEN 1 ELSE 0 END)
      OVER (PARTITION BY doc_id ORDER BY pos) AS seg_id
  FROM toks
),
words AS (
  SELECT doc_id, seg_id, pos, tok FROM seg
  WHERE tok NOT IN {RAKE_STOPWORDS}
),
phrases AS (
  SELECT doc_id, seg_id,
    string_agg(tok, ' ' ORDER BY pos) AS phrase,
    COUNT(*) AS k
  FROM words GROUP BY doc_id, seg_id
),
wstats AS (
  SELECT w.doc_id, w.tok,
    COUNT(*) AS freq,
    SUM(p.k) AS deg
  FROM words w JOIN phrases p USING (doc_id, seg_id)
  GROUP BY w.doc_id, w.tok
),
scored AS (
  SELECT p.doc_id, p.phrase,
    SUM(s.deg * 1.0 / s.freq) AS score
  FROM words w
  JOIN phrases p USING (doc_id, seg_id)
  JOIN wstats s ON s.doc_id = w.doc_id AND s.tok = w.tok
  GROUP BY p.doc_id, p.seg_id, p.phrase
),
dedup AS (
  SELECT doc_id, phrase, ROUND(MAX(score), 6) AS rake_score
  FROM scored GROUP BY doc_id, phrase
),
ranked AS (
  SELECT doc_id, phrase, rake_score,
    ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY rake_score DESC, phrase) AS rnk
  FROM dedup
)
SELECT doc_id, CAST(rnk AS INT) AS rnk, phrase, rake_score
FROM ranked WHERE rnk <= {RAKE_TOP_K}
""",
    doc="RAKE keyword extraction (Rapid Automatic Keyword Extraction, "
    "Rose et al. 2010): split each document into candidate phrases at "
    f"stopwords {RAKE_STOPWORDS}, score each word as degree/frequency "
    "(degree = total length of phrases containing it), score a phrase "
    "as the sum of member-word scores, and keep the top-"
    f"{RAKE_TOP_K} phrases per document (rounded-score + phrase "
    "tiebreak so ranking is engine-deterministic). Spark shape: "
    "posexplode -> one running-sum window keyed by doc_id for segment "
    "ids -> three doc_id-co-partitioned aggregates; every shuffle key "
    "includes doc_id, so at 100 TB the work stays embarrassingly "
    "per-document with no global hotspot. Identical-phrase "
    "repetitions within a doc collapse to one row (same score by "
    "construction).",
)
def text_keyword_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos0", "tok"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    is_stop = F.col("tok").isin(*RAKE_STOPWORDS)
    seg = toks.withColumn(
        "seg_id",
        F.sum(is_stop.cast("int")).over(
            Window.partitionBy("doc_id").orderBy("pos")
        ),
    )
    words = seg.filter(~is_stop).select("doc_id", "seg_id", "pos", "tok")
    phrases = words.groupBy("doc_id", "seg_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("phrase"),
        F.count(F.lit(1)).alias("k"),
    )
    wstats = (
        words.join(phrases.select("doc_id", "seg_id", "k"),
                   ["doc_id", "seg_id"])
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("freq"), F.sum("k").alias("deg"))
    )
    scored = (
        words.join(phrases, ["doc_id", "seg_id"])
        .join(wstats, ["doc_id", "tok"])
        .groupBy("doc_id", "seg_id", "phrase")
        .agg(F.sum(F.col("deg") / F.col("freq")).alias("score"))
    )
    dedup = scored.groupBy("doc_id", "phrase").agg(
        F.round(F.max("score"), 6).alias("rake_score")
    )
    w_rank = Window.partitionBy("doc_id").orderBy(
        F.col("rake_score").desc(), "phrase"
    )
    return (
        dedup.withColumn("rnk", F.row_number().over(w_rank).cast("int"))
        .filter(F.col("rnk") <= RAKE_TOP_K)
        .select("doc_id", "rnk", "phrase", "rake_score")
    )


# ---------------------------------------------------------------------------
# BPE merge training (byte-pair encoding, Sennrich et al. 2016)
# ---------------------------------------------------------------------------

BPE_N_MERGES = 4


def _bpe_ctes() -> str:
    """Shared CTE chain for the BPE oracles: w_0 = the char-tokenized
    word-frequency table; each merge step k adds (pairs_k, best_k, w_k)
    where best_k picks the argmax pair with (count DESC, l, r) tiebreak
    and w_k applies it with the same greedy-left single-pass replace the
    Spark side uses."""
    parts = [
        """
WITH w_0 AS (
  SELECT word, n,
         array_to_string(regexp_extract_all(word, '.'), '  ') AS t
  FROM (
    SELECT tok AS word, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
    GROUP BY tok
  )
)"""
    ]
    for k in range(1, BPE_N_MERGES + 1):
        parts.append(f""",
pairs_{k} AS (
  SELECT toks[i] AS l, toks[i + 1] AS r, SUM(n) AS c
  FROM (SELECT n, string_split(t, '  ') AS toks FROM w_{k - 1}),
       LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i)
  GROUP BY 1, 2
),
best_{k} AS (
  SELECT l, r, CAST(c AS BIGINT) AS c FROM pairs_{k}
  ORDER BY c DESC, l, r LIMIT 1
),
w_{k} AS (
  SELECT word, n,
    trim(replace(' ' || t || ' ',
                 ' ' || b.l || '  ' || b.r || ' ',
                 ' ' || b.l || b.r || ' ')) AS t
  FROM w_{k - 1}, best_{k} b
)""")
    return "".join(parts)


def _bpe_oracle() -> str:
    """Unrolled DuckDB twin of the iterative trainer."""
    selects = " UNION ALL ".join(
        f"SELECT {k} AS merge_rank, l AS pair_left, r AS pair_right, "
        f"l || r AS merged, c AS pair_count FROM best_{k}"
        for k in range(1, BPE_N_MERGES + 1)
    )
    return _bpe_ctes() + f"""
SELECT CAST(merge_rank AS INT) AS merge_rank, pair_left, pair_right,
       merged, pair_count
FROM ({selects}) ORDER BY merge_rank
"""


def _bpe_apply_oracle() -> str:
    """Train (same CTE chain), then tokenize every document with the
    final vocabulary w_N and report per-doc compression."""
    return _bpe_ctes() + f"""
SELECT d.doc_id,
  CAST(SUM(len(string_split(w.t, '  '))) AS BIGINT) AS bpe_tokens,
  CAST(SUM(length(d.word)) AS BIGINT) AS char_tokens
FROM (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
) d
JOIN w_{BPE_N_MERGES} w USING (word)
GROUP BY d.doc_id
"""


@register(
    "text_bpe_train_merges",
    oracle=_bpe_oracle(),
    doc=f"Distributed BPE tokenizer training (Sennrich et al. 2016): "
    "count corpus word frequencies in ONE distributed shuffle, then "
    f"run {BPE_N_MERGES} merge iterations on the (word, count, tokens) "
    "vocabulary table — per iteration, count weighted adjacent token "
    "pairs, pick the argmax pair (count DESC, then lexicographic, so "
    "ties are engine-deterministic), and apply it with a greedy-left "
    "single-pass replace (the canonical apply order). This is exactly "
    "how production BPE trainers scale: the corpus is touched once "
    "for the frequency table; iterations ride the vocabulary, which "
    "is orders of magnitude smaller. The driver sees ONE row per "
    "iteration (the chosen pair) — the same bounded-scalar iterative "
    "pattern as the k-means and PageRank operators. End-of-word "
    "markers are omitted (a constant-suffix simplification; the merge "
    "dynamics are unchanged).",
)
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("text")
    words, _ = materialize(  # the corpus scan runs exactly once
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(
            "word",
            "n",
            F.array_join(
                F.expr("regexp_extract_all(word, '.', 0)"), "  "
            ).alias("t"),
        )
    )
    merges = []
    for rank in range(1, BPE_N_MERGES + 1):
        pairs = (
            words.select("n", F.split("t", "  ").alias("toks"))
            .select("n", F.explode(word_ngrams("toks", 2)).alias("p"))
            .groupBy(F.col("p.w1").alias("l"), F.col("p.w2").alias("r"))
            .agg(F.sum("n").alias("c"))
            .orderBy(F.col("c").desc(), "l", "r")
            .limit(1)
        )
        best = pairs.collect()[0]  # one scalar row per iteration
        merges.append((rank, best["l"], best["r"], best["l"] + best["r"],
                       int(best["c"])))
        # Column-literal replace: the winning pair is DATA and must never
        # be spliced into a SQL string (a token containing ' or \\ would
        # break the expression parse) — F.lit carries any bytes safely.
        words, _ = materialize(
            words.select(
                "word",
                "n",
                F.trim(
                    F.replace(
                        F.concat(F.lit(" "), F.col("t"), F.lit(" ")),
                        F.lit(f" {best['l']}  {best['r']} "),
                        F.lit(f" {best['l']}{best['r']} "),
                    )
                ).alias("t"),
            )
        )
    return spark.createDataFrame(
        merges,
        "merge_rank int, pair_left string, pair_right string, "
        "merged string, pair_count bigint",
    )


@register(
    "text_source_vocab_overlap",
    oracle="""
WITH toks AS (
  SELECT DISTINCT source, unnest(string_split(text, ' ')) AS tok
  FROM documents
),
sizes AS (SELECT source, COUNT(*) AS n FROM toks GROUP BY source),
inter AS (
  SELECT a.source AS s1, b.source AS s2, COUNT(*) AS i
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.source < b.source
  GROUP BY 1, 2
)
SELECT i.s1, i.s2,
  CAST(i.i AS BIGINT) AS n_shared,
  ROUND(i.i * 1.0 / (x.n + y.n - i.i), 6) AS jaccard
FROM inter i
JOIN sizes x ON x.source = i.s1
JOIN sizes y ON y.source = i.s2
ORDER BY s1, s2
""",
    doc="Cross-source vocabulary-overlap matrix: pairwise Jaccard of the "
    "distinct-token sets of every source pair — the corpus diagnostic "
    "that catches a source scraping another (or two crawls of the same "
    "site) before near-dup mining spends real money on it. Spark shape "
    "is the joinless posting-list pattern shared with "
    "dedup_ngram_jaccard: dedup (token, source) once, group tokens "
    "into sorted source arrays, expand C(sources-per-token, 2) pairs "
    "map-side with a higher-order transform, and count — the corpus "
    "is never self-joined (the oracle deliberately IS the self-join "
    "formulation). Per-token fan-out is bounded by the number of "
    "SOURCES (small by construction), so there is no max_df analogue "
    "to tune; vocab sizes broadcast back for the Jaccard finish.",
)
def text_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    toks = (
        docs.select(
            "source", F.explode(F.split("text", " ")).alias("tok")
        )
        .distinct()
    )
    sizes = toks.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    postings = toks.groupBy("tok").agg(
        F.array_sort(F.collect_set("source")).alias("srcs")
    )
    pairs_expr = """
flatten(transform(srcs, (x, i) ->
  transform(slice(srcs, i + 2, size(srcs) - i - 1),
            y -> struct(x AS s1, y AS s2))))
"""
    inter = (
        postings.select(F.explode(F.expr(pairs_expr)).alias("p"))
        .groupBy(F.col("p.s1").alias("s1"), F.col("p.s2").alias("s2"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sx = sizes.select(F.col("source").alias("s1"), F.col("n").alias("n1"))
    sy = sizes.select(F.col("source").alias("s2"), F.col("n").alias("n2"))
    return (
        inter.join(F.broadcast(sx), "s1")
        .join(F.broadcast(sy), "s2")
        .select(
            "s1",
            "s2",
            F.col("i").cast("bigint").alias("n_shared"),
            F.round(
                F.col("i") / (F.col("n1") + F.col("n2") - F.col("i")), 6
            ).alias("jaccard"),
        )
        .orderBy("s1", "s2")
    )


VOCAB_CHECKPOINTS = 10  # corpus deciles by doc_id


@register(
    "text_vocab_growth_curve",
    oracle=f"""
WITH firsts AS (
  SELECT tok, MIN(doc_id) AS first_doc
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents)
  GROUP BY tok
),
bounds AS (SELECT MAX(doc_id) + 1 AS n FROM documents),
cps AS (
  SELECT k, (SELECT n FROM bounds) * k / {VOCAB_CHECKPOINTS} AS thresh
  FROM (SELECT unnest(generate_series(1, {VOCAB_CHECKPOINTS})) AS k)
)
SELECT CAST(c.k AS INT) AS decile,
  CAST(c.thresh AS BIGINT) AS docs_processed,
  CAST(COUNT(f.tok) AS BIGINT) AS vocab_size
FROM cps c LEFT JOIN firsts f ON f.first_doc < c.thresh
GROUP BY c.k, c.thresh
ORDER BY decile
""",
    doc="Vocabulary-growth (Heaps'-law) curve: cumulative distinct "
    "token count after each tenth of the corpus in doc_id order — the "
    "diagnostic that says whether more data still buys new vocabulary "
    "or the crawl has saturated (this synthetic corpus saturates "
    "immediately, which the curve shows honestly). The naive "
    "formulation re-scans a growing prefix per checkpoint; the "
    "scalable rewrite is the FIRST-SEEN trick shared with "
    "events_running_distinct_users: one groupBy(token) -> min(doc_id), "
    "then each checkpoint counts tokens first seen before its "
    "threshold — O(vocab x checkpoints) work after one corpus "
    "shuffle, never a rescan.",
)
def text_vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    firsts = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("tok")
        )
        .groupBy("tok")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    n = docs.agg((F.max("doc_id") + 1).alias("n"))
    cps = (
        spark.range(1, VOCAB_CHECKPOINTS + 1)
        .withColumnRenamed("id", "k")
        .join(F.broadcast(n))
        .select(
            F.col("k").cast("int").alias("decile"),
            (F.col("n") * F.col("k") / VOCAB_CHECKPOINTS)
            .cast("bigint")
            .alias("thresh"),
        )
    )
    return (
        cps.join(
            firsts, F.col("first_doc") < F.col("thresh"), "left"
        )
        .groupBy("decile", "thresh")
        .agg(F.count(F.col("tok")).cast("bigint").alias("vocab_size"))
        .select(
            "decile",
            F.col("thresh").alias("docs_processed"),
            "vocab_size",
        )
        .orderBy("decile")
    )


@register(
    "ml_eval_langid_confusion",
    oracle=f"""
WITH preds AS (
  SELECT lang AS actual, {ngram_lang_pred_duck("text")} AS predicted
  FROM documents
),
cm AS (
  SELECT actual, predicted, CAST(COUNT(*) AS BIGINT) AS n
  FROM preds GROUP BY actual, predicted
),
tp AS (
  SELECT actual AS cls, n AS n_tp FROM cm WHERE actual = predicted
),
per_actual AS (SELECT actual AS cls, SUM(n) AS n_actual FROM cm GROUP BY 1),
per_pred AS (SELECT predicted AS cls, SUM(n) AS n_pred FROM cm GROUP BY 1)
SELECT a.cls,
  CAST(a.n_actual AS BIGINT) AS n_actual,
  CAST(COALESCE(p.n_pred, 0) AS BIGINT) AS n_predicted,
  CAST(COALESCE(t.n_tp, 0) AS BIGINT) AS n_correct,
  ROUND(COALESCE(t.n_tp, 0) * 1.0 / a.n_actual, 6) AS recall,
  CASE WHEN COALESCE(p.n_pred, 0) > 0
       THEN ROUND(COALESCE(t.n_tp, 0) * 1.0 / p.n_pred, 6) END
    AS precision
FROM per_actual a
LEFT JOIN per_pred p ON p.cls = a.cls
LEFT JOIN tp t ON t.cls = a.cls
ORDER BY a.cls
""",
    doc="Model-evaluation operator (the missing ML-eval family): "
    "confusion-matrix-derived per-class precision and recall of the "
    "n-gram language-ID model against the corpus's true lang labels — "
    "the eval harness every model-backed curation filter needs before "
    "it gates real data. Counts are exact integers; the two ratios "
    "divide once and round. Spark shape: one scan -> (actual, "
    "predicted) pairs -> O(langs^2) confusion counts -> three "
    "O(langs) rollups joined broadcast; at 100 TB everything after "
    "the first partial aggregate is bytes. Precision is NULL for a "
    "class the model never predicts (not fake-zeroed).",
)
def ml_eval_langid_confusion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    preds = docs.select(
        F.col("lang").alias("actual"),
        ngram_lang_pred(F.col("text")).alias("predicted"),
    )
    cm = preds.groupBy("actual", "predicted").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tp = cm.filter(F.col("actual") == F.col("predicted")).select(
        F.col("actual").alias("cls"), F.col("n").alias("n_tp")
    )
    per_actual = cm.groupBy(F.col("actual").alias("cls")).agg(
        F.sum("n").alias("n_actual")
    )
    per_pred = cm.groupBy(F.col("predicted").alias("cls")).agg(
        F.sum("n").alias("n_pred")
    )
    return (
        per_actual.join(F.broadcast(per_pred), "cls", "left")
        .join(F.broadcast(tp), "cls", "left")
        .select(
            "cls",
            F.col("n_actual").cast("bigint").alias("n_actual"),
            F.coalesce(F.col("n_pred"), F.lit(0))
            .cast("bigint")
            .alias("n_predicted"),
            F.coalesce(F.col("n_tp"), F.lit(0))
            .cast("bigint")
            .alias("n_correct"),
            F.round(
                F.coalesce(F.col("n_tp"), F.lit(0)) / F.col("n_actual"), 6
            ).alias("recall"),
            F.when(
                F.coalesce(F.col("n_pred"), F.lit(0)) > 0,
                F.round(
                    F.coalesce(F.col("n_tp"), F.lit(0)) / F.col("n_pred"),
                    6,
                ),
            ).alias("precision"),
        )
        .orderBy("cls")
    )


@register(
    "text_bpe_apply_compression",
    oracle=_bpe_apply_oracle(),
    doc="BPE tokenizer APPLY (the other half of the tokenizer story): "
    f"train the {BPE_N_MERGES}-merge vocabulary exactly as "
    "text_bpe_train_merges does, then tokenize the corpus with it and "
    "report per-document compression (BPE tokens vs character tokens). "
    "The scalable shape: merges are applied once to the DISTINCT-word "
    "vocabulary (orders of magnitude smaller than the corpus), then "
    "token counts reach documents through a word join — the corpus is "
    "never re-tokenized row by row. Merge literals ride F.replace "
    "column args (quote-safe, VERDICT r5 #5); the oracle re-derives "
    "training AND application in one unrolled SQL chain.",
)
def text_bpe_apply_compression(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    merges = sorted(
        text_bpe_train_merges(spark, sf_dir).collect(),
        key=lambda r: r["merge_rank"],
    )  # BPE_N_MERGES bounded driver rows, same class as the trainer's
    vocab = docs.select(
        F.explode(F.split("text", " ")).alias("word")
    ).distinct()
    tok = F.array_join(F.expr("regexp_extract_all(word, '.', 0)"), "  ")
    for m in merges:
        tok = F.trim(
            F.replace(
                F.concat(F.lit(" "), tok, F.lit(" ")),
                F.lit(f" {m['pair_left']}  {m['pair_right']} "),
                F.lit(f" {m['pair_left']}{m['pair_right']} "),
            )
        )
    vocab_tok = vocab.select(
        "word",
        F.size(F.split(tok, "  ")).cast("bigint").alias("n_tok"),
        F.length("word").cast("bigint").alias("n_char"),
    )
    exploded = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    return (
        exploded.join(vocab_tok, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("n_tok").alias("bpe_tokens"),
            F.sum("n_char").alias("char_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# BM25 retrieval: ranked top-k per query term
# ---------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ["join", "spark", "filter"]  # fixed benchmark query terms
BM25_TOPK = 5


@register(
    "text_bm25_topk",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
dl AS (SELECT doc_id, COUNT(*) AS dlen FROM tok GROUP BY doc_id),
stats AS (
  SELECT COUNT(*) AS n_docs, SUM(dlen) * 1.0 / COUNT(*) AS avgdl FROM dl
),
terms AS (SELECT unnest(['join', 'spark', 'filter']) AS term),
tf AS (
  SELECT t.doc_id, t.token AS term, COUNT(*) AS tf
  FROM tok t JOIN terms q ON q.term = t.token
  GROUP BY 1, 2
),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.term, tf.doc_id,
    ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
      * (tf * ({BM25_K1} + 1.0))
      / (tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dlen / avgdl))
      AS score
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id), stats
)
SELECT term, CAST(rnk AS INT) AS rnk, doc_id, ROUND(score, 6) AS score
FROM (
  SELECT term, doc_id, score,
    ROW_NUMBER() OVER (PARTITION BY term
                       ORDER BY ROUND(score, 6) DESC, doc_id) AS rnk
  FROM scored
)
WHERE rnk <= {BM25_TOPK}
ORDER BY term, rnk
""",
    doc="BM25 ranked retrieval (E12; Robertson-Sparck Jones with the "
    "Lucene idf flavor): top-5 documents per benchmark query term, "
    f"k1={BM25_K1} b={BM25_B}. Per-row scalar scoring — idf and the "
    "length normalization are single fixed-shape double expressions "
    "over exact integer counts (identical in both engines), ranked on "
    "the 6dp-rounded score with doc_id tiebreak so ordering never "
    "rides float noise. Plan: one tokenize scan; tf shuffles only "
    "rows matching the (broadcast) term list — O(matching tokens), "
    "not O(corpus); df/avgdl ride tiny broadcasts; WindowGroupLimit "
    "prunes to k per term before the final sort. At 100 TB the term "
    "list is the query side of an inverted-index probe; the full "
    "index build is text_inverted_index.",
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dlen"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dlen") * 1.0 / F.count(F.lit(1))).alias("avgdl"),
    )
    terms = spark.createDataFrame(
        [(t,) for t in BM25_TERMS], "term string"
    )
    tf = (
        tok.join(
            F.broadcast(terms), tok["token"] == terms["term"]
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    score = (
        F.log(
            (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            + 1.0
        )
        * (F.col("tf") * (BM25_K1 + 1.0))
        / (
            F.col("tf")
            + BM25_K1
            * (1.0 - BM25_B + BM25_B * F.col("dlen") / F.col("avgdl"))
        )
    )
    w = Window.partitionBy("term").orderBy(
        F.desc(F.round(F.col("score"), 6)), F.asc("doc_id")
    )
    return (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn("score", score)
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= BM25_TOPK)
        .select("term", "rnk", "doc_id", F.round("score", 6).alias("score"))
        .orderBy("term", "rnk")
    )


# ---------------------------------------------------------------------------
# Multinomial naive Bayes language classifier (closed-form, no iterations)
# ---------------------------------------------------------------------------

NB_MICRO = 1000000  # log-prob quantization: FLOOR(ln(p)*1e6) per (lang,tok)


@register(
    "ml_naive_bayes_lang_confusion",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
langs AS (SELECT lang, COUNT(*) AS nd FROM documents GROUP BY lang),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
vocab AS (SELECT COUNT(DISTINCT token) AS v FROM tok),
cnt AS (
  SELECT d.lang, t.token, COUNT(*) AS c
  FROM tok t JOIN documents d USING (doc_id) GROUP BY 1, 2
),
tot AS (SELECT lang, SUM(c) AS tot FROM cnt GROUP BY lang),
prior AS (
  SELECT lang, CAST(FLOOR(ln(nd * 1.0 / n_docs) * {NB_MICRO}) AS BIGINT)
    AS prior_micro
  FROM langs, n
),
tokll AS (
  SELECT t.lang, c.token,
    CAST(FLOOR(ln((c.c + 1.0) / (t.tot + v.v)) * {NB_MICRO}) AS BIGINT)
      AS ll_micro,
    CAST(FLOOR(ln(1.0 / (t.tot + v.v)) * {NB_MICRO}) AS BIGINT)
      AS unseen_micro
  FROM tot t LEFT JOIN cnt c ON c.lang = t.lang, vocab v
),
unseen AS (SELECT DISTINCT lang, unseen_micro FROM tokll),
scored AS (
  SELECT tf.doc_id, u.lang,
    MAX(p.prior_micro)
      + SUM(tf.tf * COALESCE(k.ll_micro, u.unseen_micro)) AS score_micro
  FROM tf
  CROSS JOIN unseen u
  LEFT JOIN tokll k ON k.lang = u.lang AND k.token = tf.token
  JOIN prior p ON p.lang = u.lang
  GROUP BY 1, 2
),
pred AS (
  SELECT doc_id, lang AS predicted,
    ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY score_micro DESC, lang) AS rn
  FROM scored
)
SELECT d.lang AS actual, p.predicted, CAST(COUNT(*) AS BIGINT) AS n
FROM documents d JOIN pred p ON p.doc_id = d.doc_id AND p.rn = 1
GROUP BY 1, 2
ORDER BY actual, predicted
""",
    doc="Multinomial naive Bayes language classifier, trained and "
    "evaluated closed-form in one plan (E12 x ML: the classical "
    "generative text classifier, complementing the n-gram heuristic "
    "ml_eval_langid_confusion and the discriminative "
    "ml_logistic_regression_gd): add-1-smoothed per-(lang,token) "
    "log-likelihoods + log priors, argmax per doc, confusion matrix "
    "out. Every log is applied to exact integer-count rationals and "
    "quantized to FLOOR(ln*1e6) BIGINT BEFORE summation, so scores "
    "are integer-exact and the argmax can never flip on float "
    "summation order in either engine. Plan: training is two "
    "token-keyed partial aggs (the same shuffles the unigram LM "
    "pays); scoring joins tf against the broadcast (lang,token) "
    "model — model size is vocab x langs, a bounded artifact at any "
    "corpus size; no iteration, no driver loop.",
)
def ml_naive_bayes_lang_confusion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    langs = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("nd"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    vocab = tok.agg(F.count_distinct("token").alias("v"))
    cnt = (
        tok.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = cnt.groupBy("lang").agg(F.sum("c").alias("tot"))
    prior = (
        langs.crossJoin(F.broadcast(n))
        .select(
            "lang",
            F.floor(
                F.log(F.col("nd") * 1.0 / F.col("n_docs")) * NB_MICRO
            )
            .cast("bigint")
            .alias("prior_micro"),
        )
    )
    tokll = (
        cnt.join(F.broadcast(tot), "lang")
        .crossJoin(F.broadcast(vocab))
        .select(
            "lang",
            "token",
            F.floor(
                F.log((F.col("c") + 1.0) / (F.col("tot") + F.col("v")))
                * NB_MICRO
            )
            .cast("bigint")
            .alias("ll_micro"),
        )
    )
    unseen = (
        tot.crossJoin(F.broadcast(vocab))
        .select(
            "lang",
            F.floor(
                F.log(1.0 / (F.col("tot") + F.col("v"))) * NB_MICRO
            )
            .cast("bigint")
            .alias("unseen_micro"),
        )
    )
    scored = (
        tf.crossJoin(F.broadcast(unseen))
        .join(F.broadcast(tokll), ["lang", "token"], "left")
        .join(F.broadcast(prior), "lang")
        .groupBy("doc_id", "lang")
        .agg(
            (
                F.max("prior_micro")
                + F.sum(
                    F.col("tf")
                    * F.coalesce(F.col("ll_micro"), F.col("unseen_micro"))
                )
            ).alias("score_micro")
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_micro"), F.asc("lang")
    )
    pred = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("lang").alias("predicted"))
    )
    return (
        docs.select("doc_id", F.col("lang").alias("actual"))
        .join(pred, "doc_id")
        .groupBy("actual", "predicted")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy("actual", "predicted")
    )


# ---------------------------------------------------------------------------
# PMI collocations: statistically-bound adjacent token pairs
# ---------------------------------------------------------------------------

PMI_MIN_COUNT = 5
PMI_TOPK = 20


@register(
    "text_collocations_pmi",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
big AS (
  SELECT t[i] AS w1, t[i + 1] AS w2
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
),
uni AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
),
bc AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY 1, 2),
uc AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
tot AS (
  SELECT (SELECT COUNT(*) FROM big) AS tb, (SELECT COUNT(*) FROM uni) AS tu
)
SELECT w1, w2, CAST(c12 AS BIGINT) AS pair_count,
  CAST(FLOOR(ln((c12 * tu * tu) * 1.0 / (tb * u1.c * u2.c)) * 1000000)
       AS BIGINT) AS pmi_micro
FROM bc JOIN uc u1 ON u1.w = bc.w1 JOIN uc u2 ON u2.w = bc.w2, tot
WHERE c12 >= {PMI_MIN_COUNT}
ORDER BY pmi_micro DESC, w1, w2
LIMIT {PMI_TOPK}
""",
    doc="Pointwise-mutual-information collocations (E12; the classical "
    "Church & Hanks 1990 association measure): adjacent-token bigrams "
    f"occurring >= {PMI_MIN_COUNT} times, scored by PMI = "
    "ln(p(xy)/(p(x)p(y))) computed on the exact integer count ratio "
    "and quantized to FLOOR(ln*1e6) BIGINT, so ranking is engine-"
    "exact. Plan: one tokenize scan feeding both the bigram and "
    "unigram partial aggs (token-keyed shuffles), unigram table "
    "joined back broadcast (vocabulary-sized); top-k via one final "
    "sort of the >= min-count survivors.",
)
def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.split(F.col("text"), " ").alias("t"))
    big = toks.select(F.explode(word_ngrams("t", 2)).alias("p")).select(
        "p.w1", "p.w2"
    )
    uni = toks.select(F.explode("t").alias("w"))
    bc = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    uc = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    tot = big.agg(F.count(F.lit(1)).alias("tb")).crossJoin(
        uni.agg(F.count(F.lit(1)).alias("tu"))
    )
    u1 = uc.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uc.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    return (
        bc.filter(F.col("c12") >= PMI_MIN_COUNT)
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.col("c12").cast("bigint").alias("pair_count"),
            F.floor(
                F.log(
                    (F.col("c12") * F.col("tu") * F.col("tu"))
                    * 1.0
                    / (F.col("tb") * F.col("c1") * F.col("c2"))
                )
                * 1000000
            )
            .cast("bigint")
            .alias("pmi_micro"),
        )
        .orderBy(F.desc("pmi_micro"), "w1", "w2")
        .limit(PMI_TOPK)
    )


# ---------------------------------------------------------------------------
# ROUGE-N evaluation: multiset n-gram overlap between paired documents
# ---------------------------------------------------------------------------

ROUGE_PAIR_MOD = 2  # candidate = even doc, reference = doc_id + 1


def _gram_counts(pairs: DataFrame, text: str, n: int, alias: str) -> DataFrame:
    """(cand_id, tok, <alias>): how often each word n-gram of the `text`
    column occurs for each candidate, the n-gram joined by single spaces
    — the count table of the ROUGE and BLEU overlaps."""
    grams = pairs.select("cand_id", F.split(text, " ").alias("t")).select(
        "cand_id", F.explode(word_ngrams("t", n)).alias("g")
    )
    tok = F.concat_ws(" ", *[F.col(f"g.w{i}") for i in range(1, n + 1)])
    return grams.groupBy("cand_id", tok.alias("tok")).agg(
        F.count(F.lit(1)).alias(alias)
    )


@register(
    "ml_eval_rouge_pairs",
    oracle="""
WITH pairs AS (
  SELECT c.doc_id AS cand_id, r.doc_id AS ref_id,
         c.text AS ctext, r.text AS rtext
  FROM documents c JOIN documents r ON r.doc_id = c.doc_id + 1
  WHERE c.doc_id % 2 = 0
),
u1 AS (
  SELECT cand_id, tok, COUNT(*) AS c
  FROM (SELECT cand_id, unnest(string_split(ctext, ' ')) AS tok FROM pairs)
  GROUP BY 1, 2
),
r1 AS (
  SELECT cand_id, tok, COUNT(*) AS c
  FROM (SELECT cand_id, unnest(string_split(rtext, ' ')) AS tok FROM pairs)
  GROUP BY 1, 2
),
o1 AS (
  SELECT u1.cand_id, SUM(LEAST(u1.c, r1.c)) AS ov
  FROM u1 JOIN r1 ON r1.cand_id = u1.cand_id AND r1.tok = u1.tok
  GROUP BY 1
),
t1 AS (SELECT cand_id, SUM(c) AS ct FROM u1 GROUP BY 1),
s1 AS (SELECT cand_id, SUM(c) AS rt FROM r1 GROUP BY 1),
cb AS (SELECT cand_id, string_split(ctext, ' ') AS t FROM pairs),
rb AS (SELECT cand_id, string_split(rtext, ' ') AS t FROM pairs),
u2 AS (
  SELECT cand_id, t[i] || ' ' || t[i + 1] AS tok, COUNT(*) AS c
  FROM cb, unnest(generate_series(1, len(t) - 1)) AS g(i)
  GROUP BY 1, 2
),
r2 AS (
  SELECT cand_id, t[i] || ' ' || t[i + 1] AS tok, COUNT(*) AS c
  FROM rb, unnest(generate_series(1, len(t) - 1)) AS g(i)
  GROUP BY 1, 2
),
o2 AS (
  SELECT u2.cand_id, SUM(LEAST(u2.c, r2.c)) AS ov
  FROM u2 JOIN r2 ON r2.cand_id = u2.cand_id AND r2.tok = u2.tok
  GROUP BY 1
),
t2 AS (SELECT cand_id, SUM(c) AS ct FROM u2 GROUP BY 1),
s2 AS (SELECT cand_id, SUM(c) AS rt FROM r2 GROUP BY 1)
SELECT p.cand_id, p.ref_id,
  CAST(COALESCE(o1.ov, 0) * 1000000 // t1.ct AS BIGINT) AS rouge1_p_micro,
  CAST(COALESCE(o1.ov, 0) * 1000000 // s1.rt AS BIGINT) AS rouge1_r_micro,
  CAST(COALESCE(o2.ov, 0) * 1000000 // t2.ct AS BIGINT) AS rouge2_p_micro,
  CAST(COALESCE(o2.ov, 0) * 1000000 // s2.rt AS BIGINT) AS rouge2_r_micro
FROM pairs p
JOIN t1 USING (cand_id) JOIN s1 USING (cand_id)
JOIN t2 USING (cand_id) JOIN s2 USING (cand_id)
LEFT JOIN o1 USING (cand_id) LEFT JOIN o2 USING (cand_id)
ORDER BY cand_id
""",
    doc="ROUGE-1/ROUGE-2 evaluation (Lin 2004 — the summarization/"
    "generation eval metric, completing the eval family next to "
    "perplexity and the langid/next-event baselines): each even doc "
    "is scored as a candidate against doc_id+1 as reference, with "
    "MULTISET n-gram overlap sum(min(count_cand, count_ref)) — the "
    "clipped-count definition, not set intersection. Precision and "
    "recall in exact integer micro-units. Plan: two tokenize scans "
    "feeding (pair, gram) partial aggs, overlap equi-join keyed on "
    "(pair, gram) — work is O(tokens), candidate pairing is a "
    "1-row-offset self-join on the doc key; at 100 TB pairs come "
    "from the upstream retrieval/generation stage instead and "
    "nothing else changes.",
)
def ml_eval_rouge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cand = docs.filter(F.col("doc_id") % ROUGE_PAIR_MOD == 0).select(
        F.col("doc_id").alias("cand_id"), F.col("text").alias("ctext")
    )
    ref = docs.select(
        (F.col("doc_id") - 1).alias("cand_id"),
        F.col("doc_id").alias("ref_id"),
        F.col("text").alias("rtext"),
    )
    pairs = cand.join(ref, "cand_id")
    out = pairs.select("cand_id", "ref_id")
    for n, tag in ((1, "1"), (2, "2")):
        u = _gram_counts(pairs, "ctext", n, "c")
        r = _gram_counts(pairs, "rtext", n, "c2")
        ov = (
            u.join(r, ["cand_id", "tok"])
            .groupBy("cand_id")
            .agg(F.sum(F.least("c", "c2")).alias("ov"))
        )
        ct = u.groupBy("cand_id").agg(F.sum("c").alias("ct"))
        rt = r.groupBy("cand_id").agg(F.sum("c2").alias("rt"))
        out = (
            out.join(ct, "cand_id")
            .join(rt, "cand_id")
            .join(ov, "cand_id", "left")
            .select(
                "cand_id",
                "ref_id",
                *[c for c in out.columns if c.endswith("_micro")],
                F.expr(
                    "CAST(coalesce(ov, 0) * 1000000 div ct AS BIGINT)"
                ).alias(f"rouge{tag}_p_micro"),
                F.expr(
                    "CAST(coalesce(ov, 0) * 1000000 div rt AS BIGINT)"
                ).alias(f"rouge{tag}_r_micro"),
            )
        )
    return out.orderBy("cand_id")


# ---------------------------------------------------------------------------
# n-gram novelty curve: does the tail of the corpus still add new content?
# ---------------------------------------------------------------------------

NOVELTY_DECILES = 10


@register(
    "text_ngram_novelty_curve",
    oracle=f"""
WITH dec AS (
  SELECT doc_id,
         NTILE({NOVELTY_DECILES}) OVER (ORDER BY doc_id) AS decile
  FROM documents
),
sh AS (
  SELECT d.decile, s.shingle
  FROM (
    SELECT doc_id, unnest(list_distinct(
      [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]
    )) AS shingle
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    WHERE len(toks) >= 3
  ) s JOIN dec d USING (doc_id)
),
firsts AS (
  SELECT shingle, MIN(decile) AS first_decile FROM sh GROUP BY shingle
),
per_dec AS (
  SELECT s.decile,
    COUNT(DISTINCT s.shingle) AS distinct_shingles,
    COUNT(DISTINCT CASE WHEN f.first_decile = s.decile
                        THEN s.shingle END) AS novel_shingles
  FROM sh s JOIN firsts f USING (shingle)
  GROUP BY s.decile
)
SELECT CAST(decile AS INT) AS decile,
  CAST(distinct_shingles AS BIGINT) AS distinct_shingles,
  CAST(novel_shingles AS BIGINT) AS novel_shingles,
  CAST((1000000 * novel_shingles) // distinct_shingles AS BIGINT)
    AS novelty_ppm
FROM per_dec
""",
    doc="n-gram novelty curve: corpus deciles (NTILE over doc_id) scored "
    "by how many of their distinct word-3-gram shingles appear for the "
    "FIRST time in that decile — the is-new-data-still-novel diagnostic "
    "that drives crawl-stopping and dedup-aggressiveness decisions "
    "(complement of text_vocab_growth_curve, which tracks single-token "
    "vocabulary; 3-grams keep discriminating long after unigrams "
    "saturate). Scalable via the shared first-seen rewrite: one "
    "shingle shuffle -> min(decile), one grouped distinct count; "
    "novelty rate is an exact integer ppm cross-product.",
)
def text_ngram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import doc_shingles, explode_shingles
    from ..operators.ranks import with_global_ntile

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    # corpus-position deciles over O(docs) ride the distributed NTILE
    # (operators/ranks.py) — never a single-task sort of the corpus.
    dec = with_global_ntile(
        docs, [F.col("doc_id")], NOVELTY_DECILES, out="decile"
    )
    sh = (
        explode_shingles(doc_shingles(spark, sf_dir), ["doc_id"], "shingle")
        .join(dec, "doc_id")
        .select("decile", "shingle")
    )
    firsts = sh.groupBy("shingle").agg(F.min("decile").alias("first_decile"))
    per_dec = (
        sh.join(firsts, "shingle")
        .groupBy("decile")
        .agg(
            F.countDistinct("shingle").alias("distinct_shingles"),
            F.countDistinct(
                F.when(
                    F.col("first_decile") == F.col("decile"),
                    F.col("shingle"),
                )
            ).alias("novel_shingles"),
        )
    )
    return per_dec.select(
        F.col("decile").cast("int").alias("decile"),
        F.col("distinct_shingles").cast("bigint").alias("distinct_shingles"),
        F.col("novel_shingles").cast("bigint").alias("novel_shingles"),
        F.expr(
            "CAST((1000000 * novel_shingles) div distinct_shingles"
            " AS BIGINT)"
        ).alias("novelty_ppm"),
    )


# ---------------------------------------------------------------------------
# CC-Net perplexity bucketing: head / middle / tail tertiles per language
# ---------------------------------------------------------------------------

CCNET_BUCKETS = 3
_LOG_MICRO = 1_000_000


@register(
    "text_perplexity_buckets",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, token
),
lm AS (
  SELECT token,
    CAST(FLOOR({_LOG_MICRO} * log2(COUNT(*))) AS BIGINT) AS l_c
  FROM tok GROUP BY token
),
total AS (
  SELECT CAST(FLOOR({_LOG_MICRO} * log2(COUNT(*))) AS BIGINT) AS l_t
  FROM tok
),
doc AS (
  SELECT tf.doc_id,
    CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
    CAST(SUM(tf.tf * (t.l_t - lm.l_c)) AS BIGINT) AS nll_micro_sum
  FROM tf JOIN lm USING (token), total t
  GROUP BY tf.doc_id, t.l_t
),
scored AS (
  SELECT d.doc_id, doc2.lang, d.n_tokens,
    CAST(d.nll_micro_sum // d.n_tokens AS BIGINT) AS mean_nll_micro
  FROM doc d JOIN documents doc2 USING (doc_id)
),
bucketed AS (
  SELECT *,
    NTILE({CCNET_BUCKETS}) OVER (PARTITION BY lang
      ORDER BY mean_nll_micro, doc_id) AS b
  FROM scored
)
SELECT lang,
  CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
    AS bucket,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
  CAST(MIN(mean_nll_micro) AS BIGINT) AS min_nll_micro,
  CAST(MAX(mean_nll_micro) AS BIGINT) AS max_nll_micro
FROM bucketed GROUP BY lang, b
""",
    doc="CC-Net perplexity bucketing (Wenzek et al. 2020): per language, "
    "documents split into head/middle/tail tertiles by LM score — the "
    "published recipe that keeps 'head' for training and routes 'tail' "
    "to inspection. Scoring reuses the unigram-LM surprisal but "
    "QUANTIZED before any summation (per-token FLOOR(1e6*log2(count)), "
    "the ml_naive_bayes device), so the per-doc score and the NTILE "
    "ordering are pure integer arithmetic that cannot diverge across "
    "engines; mean is an integer floor division. Two token-keyed "
    "shuffles + a broadcast vocabulary join + one partitioned NTILE.",
)
def text_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    tf = tok.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    lm = tok.groupBy("token").agg(
        F.floor(_LOG_MICRO * F.log2(F.count(F.lit(1))))
        .cast("bigint")
        .alias("l_c")
    )
    total = tok.agg(
        F.floor(_LOG_MICRO * F.log2(F.count(F.lit(1))))
        .cast("bigint")
        .alias("l_t")
    )
    doc = (
        tf.join(F.broadcast(lm), "token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            F.sum(F.col("tf") * (F.col("l_t") - F.col("l_c")))
            .cast("bigint")
            .alias("nll_micro_sum"),
        )
    )
    scored = doc.join(docs.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        "lang",
        "n_tokens",
        F.expr("CAST(nll_micro_sum div n_tokens AS BIGINT)").alias(
            "mean_nll_micro"
        ),
    )
    bucketed = scored.withColumn(
        "b",
        F.ntile(CCNET_BUCKETS).over(
            W.partitionBy("lang").orderBy("mean_nll_micro", "doc_id")
        ),
    )
    return bucketed.groupBy(
        "lang",
        F.when(F.col("b") == 1, "head")
        .when(F.col("b") == 2, "middle")
        .otherwise("tail")
        .alias("bucket"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.min("mean_nll_micro").cast("bigint").alias("min_nll_micro"),
        F.max("mean_nll_micro").cast("bigint").alias("max_nll_micro"),
    )


# ---------------------------------------------------------------------------
# C4-style line/page cleaning (Raffel et al. 2020, §2.2) — the canonical
# public web-corpus filter set, completing the published-method family
# (Gopher repetition, CC-Net perplexity buckets, DSIR, SemDeDup,
# ExactSubstr). The synthetic corpus is punctuation-free word soup, so —
# exactly as the multimodal family synthesizes payloads — the corpus
# STRUCTURE (lines, terminators, policy trigger strings) is synthesized
# deterministically from (doc_id, words) identically in both engines; the
# registered filter then does real regex-free line/page work on it.

C4_WORDS_PER_LINE_BASE = 5  # line length cycles 5..7 words by doc_id
C4_MIN_WORDS_PER_LINE = 5  # C4: "lines that contained at least 5 words"
C4_MIN_KEPT_LINES = 3  # C4: "pages with fewer than 3 sentences" dropped


def _c4_lines() -> Column:
    """Deterministic line synthesis: words chunked into k-word lines
    (k = 5 + doc_id % 3); line i ends in '.' unless (doc_id + i) % 4 == 0;
    policy strings injected on fixed doc_id residues — 'lorem ipsum'
    (page kill), '{' (page kill), 'javascript' (line kill)."""
    did = F.col("doc_id")
    k = F.col("k")
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.col("nl"), F.lit(1)) - 1),
        lambda i: F.concat(
            F.concat_ws(" ", F.slice(F.col("words"), i * k + 1, k)),
            F.when((did % 97 == 0) & (i == 0), F.lit(" lorem ipsum"))
            .when((did % 89 == 0) & (i == 0), F.lit(" {"))
            .when((did % 83 == 0) & (i == 1), F.lit(" javascript"))
            .otherwise(F.lit("")),
            F.when((did + i) % 4 != 0, F.lit(".")).otherwise(F.lit("")),
        ),
    )


_C4_ORACLE = f"""
WITH d AS (
  SELECT doc_id, source,
         list_filter(string_split(text, ' '), w -> w <> '') AS words,
         CAST({C4_WORDS_PER_LINE_BASE} + doc_id % 3 AS BIGINT) AS k
  FROM documents
),
l AS (
  SELECT doc_id, source,
    list_transform(
      range(0, GREATEST((len(words) + k - 1) // k, 1)),
      i -> array_to_string(words[i*k+1:(i+1)*k], ' ')
           || CASE WHEN doc_id % 97 = 0 AND i = 0 THEN ' lorem ipsum'
                   WHEN doc_id % 89 = 0 AND i = 0 THEN ' {{'
                   WHEN doc_id % 83 = 0 AND i = 1 THEN ' javascript'
                   ELSE '' END
           || CASE WHEN (doc_id + i) % 4 <> 0 THEN '.' ELSE '' END
    ) AS lines
  FROM d
),
f AS (
  SELECT doc_id, source,
    list_filter(lines, ln ->
      ln LIKE '%.' AND len(string_split(ln, ' ')) >= {C4_MIN_WORDS_PER_LINE}
      AND NOT contains(ln, 'javascript')) AS kept,
    len(list_filter(lines, ln -> contains(ln, 'lorem ipsum'))) > 0
      AS has_lorem,
    len(list_filter(lines, ln -> contains(ln, '{{'))) > 0 AS has_brace
  FROM l
),
s AS (
  SELECT source,
    CASE WHEN has_lorem THEN 'lorem' WHEN has_brace THEN 'brace'
         WHEN len(kept) < {C4_MIN_KEPT_LINES} THEN 'short'
         ELSE 'kept' END AS status,
    CAST(len(kept) AS BIGINT) AS n_kept,
    CASE WHEN NOT has_lorem AND NOT has_brace
              AND len(kept) >= {C4_MIN_KEPT_LINES}
         THEN CAST(list_sum(list_transform(
                kept, ln -> len(string_split(ln, ' ')))) AS BIGINT)
         ELSE CAST(0 AS BIGINT) END AS wk
  FROM f
)
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS docs_total,
  CAST(SUM(CASE WHEN status = 'lorem' THEN 1 ELSE 0 END) AS BIGINT)
    AS docs_drop_lorem,
  CAST(SUM(CASE WHEN status = 'brace' THEN 1 ELSE 0 END) AS BIGINT)
    AS docs_drop_brace,
  CAST(SUM(CASE WHEN status = 'short' THEN 1 ELSE 0 END) AS BIGINT)
    AS docs_drop_short,
  CAST(SUM(CASE WHEN status = 'kept' THEN 1 ELSE 0 END) AS BIGINT)
    AS docs_kept,
  CAST(SUM(CASE WHEN status = 'kept' THEN n_kept ELSE 0 END) AS BIGINT)
    AS lines_kept,
  CAST(SUM(wk) AS BIGINT) AS words_kept
FROM s GROUP BY source
"""


@register(
    "text_c4_line_filters",
    oracle=_C4_ORACLE,
    doc="C4 cleaning heuristics (Raffel et al. 2020 §2.2) over a "
    "deterministically line-structured corpus: keep lines ending in a "
    "terminal punctuation mark with >= 5 words, kill lines mentioning "
    "javascript, kill pages containing 'lorem ipsum' or '{', kill pages "
    "with < 3 surviving sentences; per-source retention accounting. "
    "FULL value oracle — the line synthesis and every filter are "
    "replayed by DuckDB list expressions. Scale shape: pure per-row "
    "array work fused into the scan (zero joins), one O(sources) "
    "aggregate — I/O-bound at 100 TB like the rest of E12.",
)
def text_c4_line_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    d = (
        docs.withColumn(
            "words", F.filter(F.split("text", " "), lambda w: w != "")
        )
        .withColumn(
            "k",
            (F.lit(C4_WORDS_PER_LINE_BASE) + F.col("doc_id") % 3).cast(
                "bigint"
            ),
        )
        .withColumn("nl", F.expr("(size(words) + k - 1) div k"))
        .withColumn("lines", _c4_lines())
    )
    f = d.select(
        "doc_id",
        "source",
        F.filter(
            F.col("lines"),
            lambda ln: ln.endswith(".")
            & (F.size(F.split(ln, " ")) >= C4_MIN_WORDS_PER_LINE)
            & ~ln.contains("javascript"),
        ).alias("kept"),
        F.exists(
            F.col("lines"), lambda ln: ln.contains("lorem ipsum")
        ).alias("has_lorem"),
        F.exists(F.col("lines"), lambda ln: ln.contains("{")).alias(
            "has_brace"
        ),
    )
    s = f.select(
        "source",
        F.when(F.col("has_lorem"), "lorem")
        .when(F.col("has_brace"), "brace")
        .when(F.size("kept") < C4_MIN_KEPT_LINES, "short")
        .otherwise("kept")
        .alias("status"),
        F.size("kept").cast("bigint").alias("n_kept"),
        F.when(
            ~F.col("has_lorem")
            & ~F.col("has_brace")
            & (F.size("kept") >= C4_MIN_KEPT_LINES),
            F.aggregate(
                F.col("kept"),
                F.lit(0).cast("bigint"),
                lambda acc, ln: acc + F.size(F.split(ln, " ")),
            ),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("wk"),
    )
    return s.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("docs_total"),
        F.sum((F.col("status") == "lorem").cast("int"))
        .cast("bigint")
        .alias("docs_drop_lorem"),
        F.sum((F.col("status") == "brace").cast("int"))
        .cast("bigint")
        .alias("docs_drop_brace"),
        F.sum((F.col("status") == "short").cast("int"))
        .cast("bigint")
        .alias("docs_drop_short"),
        F.sum((F.col("status") == "kept").cast("int"))
        .cast("bigint")
        .alias("docs_kept"),
        F.sum(
            F.when(F.col("status") == "kept", F.col("n_kept")).otherwise(
                F.lit(0)
            )
        )
        .cast("bigint")
        .alias("lines_kept"),
        F.sum("wk").cast("bigint").alias("words_kept"),
    )


# ---------------------------------------------------------------------------
# Per-source KL divergence vs the corpus — the distribution-drift
# diagnostic for training mixes: KL(P_source || P_corpus) over add-1
# smoothed unigram distributions. High KL = the source is lexically
# off-distribution (the quantitative cousin of text_source_vocab_overlap).

# Every operand is CAST AS DOUBLE before the divisions: DuckDB parses a
# bare `1.0` as DECIMAL, and BIGINT+DECIMAL division rounds at decimal
# scale — a ~1e-8 drift vs Spark's double arithmetic that a nano-unit
# floor quantization faithfully exposes (582/620 terms flipped).
_KL_P = "(CAST(cst + 1 AS DOUBLE) / CAST(ns + v AS DOUBLE))"
_KL_Q = "(CAST(ct + 1 AS DOUBLE) / CAST(nt + v AS DOUBLE))"
_KL_TERM = (
    f"CAST(FLOOR(1000000000.0 * {_KL_P} * LN({_KL_P} / {_KL_Q}))"
    " AS BIGINT)"
)


@register(
    "text_source_kl_divergence",
    oracle=f"""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
),
t AS (SELECT source, token FROM tok WHERE token <> ''),
cst AS (
  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS cst
  FROM t GROUP BY source, token
),
ct AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS ct FROM t GROUP BY token),
ns AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS ns FROM t GROUP BY source),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nt,
         CAST(COUNT(DISTINCT token) AS BIGINT) AS v
  FROM t
),
grid AS (
  SELECT ns.source, ct.token, ns.ns, ct.ct, tot.nt, tot.v,
         COALESCE(cst.cst, 0) AS cst
  FROM ns CROSS JOIN ct CROSS JOIN tot
  LEFT JOIN cst ON cst.source = ns.source AND cst.token = ct.token
),
terms AS (SELECT source, ns, v, {_KL_TERM} AS term_nano FROM grid)
SELECT source, MAX(ns) AS n_tokens, MAX(v) AS vocab_size,
       CAST(SUM(term_nano) AS BIGINT) AS kl_nano
FROM terms GROUP BY source
""",
    doc="Per-source unigram KL divergence vs the whole corpus (add-1 "
    "smoothed, so zero-count tokens contribute their smoothed mass): "
    "each p*ln(p/q) term is quantized to a nano-unit BIGINT before the "
    "order-free integer sum (the DSIR device) — FULL value oracle. "
    "Plan: two token aggregates + an O(sources x vocab) broadcast grid; "
    "vocabulary is the bounded artifact here (hash tokens into a fixed "
    "bucket space first at web scale, exactly as DSIR does). The "
    "training-mix drift screen beside pipeline_mixture_entropy.",
)
def text_source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "source", F.explode(F.split("text", " ")).alias("token")
    ).filter(F.col("token") != "")
    cst = t.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("cst")
    )
    ct = t.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("ct")
    )
    ns = t.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("ns")
    )
    tot = t.agg(
        F.count(F.lit(1)).cast("bigint").alias("nt"),
        F.count_distinct("token").cast("bigint").alias("v"),
    )
    grid = (
        ns.crossJoin(F.broadcast(ct))
        .crossJoin(F.broadcast(tot))
        .join(cst, ["source", "token"], "left")
        .select(
            "source",
            "ns",
            "ct",
            "nt",
            "v",
            F.coalesce("cst", F.lit(0)).alias("cst"),
        )
    )
    terms = grid.select("source", "ns", "v", F.expr(_KL_TERM).alias("term_nano"))
    return terms.groupBy("source").agg(
        F.max("ns").alias("n_tokens"),
        F.max("v").alias("vocab_size"),
        F.sum("term_nano").cast("bigint").alias("kl_nano"),
    )


# ---------------------------------------------------------------------------
# Dunning log-likelihood collocations (Dunning 1993) — the
# statistically-sound replacement for PMI on sparse bigrams: G^2 from
# the 2x2 contingency of (bigram observed) vs (words independent).

LLR_TOP = 25
# G^2 = 2 * sum over the 2x2 cells of O * ln(O/E); each O*ln(O/E) term is
# quantized to micro BIGINT before the 4-term sum, keeping the statistic
# an exact integer. Cells: k11 = c_ab, k12 = c_a - c_ab, k21 = c_b -
# c_ab, k22 = n - c_a - c_b + c_ab; expected under independence from the
# margins. A zero cell contributes 0 (lim x->0 of x ln x).
_LLR_CELL = (
    "CASE WHEN {o} > 0 THEN"
    " CAST(FLOOR(2000000.0 * {o} * LN(CAST({o} AS DOUBLE) * n"
    "   / (CAST({rm} AS DOUBLE) * {cm}))) AS BIGINT)"
    " ELSE CAST(0 AS BIGINT) END"
)
_LLR_SUM = " + ".join(
    _LLR_CELL.format(o=o, rm=rm, cm=cm)
    for o, rm, cm in [
        ("k11", "ca", "cb"),
        ("k12", "ca", "(n - cb)"),
        ("k21", "(n - ca)", "cb"),
        ("k22", "(n - ca)", "(n - cb)"),
    ]
)


@register(
    "text_collocations_llr",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
big AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
),
cb2 AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS k11
  FROM big GROUP BY w1, w2
),
c1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS ca FROM big GROUP BY w1),
c2 AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS cb FROM big GROUP BY w2),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM big),
cells AS (
  SELECT cb2.w1, cb2.w2, cb2.k11,
    c1.ca - cb2.k11 AS k12, c2.cb - cb2.k11 AS k21,
    tot.n - c1.ca - c2.cb + cb2.k11 AS k22,
    c1.ca, c2.cb, tot.n
  FROM cb2 JOIN c1 USING (w1) JOIN c2 USING (w2), tot
),
scored AS (
  SELECT w1, w2, k11, ({_LLR_SUM}) AS g2_micro FROM cells
),
ranked AS (
  SELECT w1, w2, k11, g2_micro,
    ROW_NUMBER() OVER (ORDER BY g2_micro DESC, w1, w2) AS rnk
  FROM scored
)
SELECT CAST(rnk AS INT) AS rnk, w1, w2, k11 AS pair_count, g2_micro
FROM ranked WHERE rnk <= {LLR_TOP}
""",
    doc="Dunning 1993 log-likelihood-ratio collocations: G^2 over the "
    "2x2 bigram contingency, each O*ln(O/E) cell quantized to micro "
    "BIGINT before the 4-term sum (order-free integers; all division "
    "operands CAST AS DOUBLE — the DECIMAL-literal lesson from "
    "text_source_kl_divergence), top-25 by exact integer G^2 with "
    "(w1, w2) tie-breaks. The sparse-robust complement to "
    "text_collocations_pmi. Plan: one bigram explode, three "
    "partial-agg'd count tables (margins broadcast), one top-k.",
)
def text_collocations_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    big = (
        docs.select(F.split(F.col("text"), " ").alias("t"))
        .select(F.explode(word_ngrams("t", 2)).alias("bg"))
        .select("bg.w1", "bg.w2")
    )
    cb2 = big.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("k11")
    )
    c1 = big.groupBy("w1").agg(F.count(F.lit(1)).cast("bigint").alias("ca"))
    c2 = big.groupBy("w2").agg(F.count(F.lit(1)).cast("bigint").alias("cb"))
    tot = big.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    cells = (
        cb2.join(F.broadcast(c1), "w1")
        .join(F.broadcast(c2), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "k11",
            (F.col("ca") - F.col("k11")).alias("k12"),
            (F.col("cb") - F.col("k11")).alias("k21"),
            (F.col("n") - F.col("ca") - F.col("cb") + F.col("k11")).alias(
                "k22"
            ),
            "ca",
            "cb",
            "n",
        )
    )
    scored = cells.select(
        "w1", "w2", "k11", F.expr(_LLR_SUM).alias("g2_micro")
    )
    # TakeOrdered top-k over the bigram aggregate (pair-vocabulary-sized
    # at 100 TB) — see global_topk for why the rank-filter idiom would
    # single-task-sort it instead.
    from ..operators.ranks import global_topk

    return global_topk(
        scored, [F.desc("g2_micro"), F.col("w1"), F.col("w2")], LLR_TOP,
        out="rnk",
    ).select("rnk", "w1", "w2", F.col("k11").alias("pair_count"), "g2_micro")


# ---------------------------------------------------------------------------
# MATTR lexical diversity (Covington & McFall 2010) — moving-average
# type-token ratio: TTR over every sliding W-token window, immune to the
# document-length bias that sinks the plain TTR as a quality feature.

MATTR_W = 25


@register(
    "text_mattr_diversity",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS t
  FROM documents
),
eligible AS (SELECT doc_id, t FROM toks WHERE len(t) >= {MATTR_W}),
wins AS (
  SELECT doc_id,
    CAST(len(t) - {MATTR_W} + 1 AS BIGINT) AS n_windows,
    CAST(list_sum(list_transform(
      range(1, len(t) - {MATTR_W} + 2),
      i -> len(list_distinct(t[i:i + {MATTR_W} - 1])))) AS BIGINT)
      AS distinct_sum
  FROM eligible
)
SELECT doc_id, n_windows, distinct_sum,
  CAST((distinct_sum * 1000000) // (n_windows * {MATTR_W}) AS BIGINT)
    AS mattr_ppm
FROM wins
""",
    doc="MATTR lexical diversity (Covington & McFall 2010): the mean "
    "type-token ratio over every sliding {w}-token window, as an exact "
    "integer ppm (sum of per-window distinct counts over n_windows*{w} "
    "— no floats until never). The length-unbiased replacement for raw "
    "TTR in quality scoring. Pure per-row array work fused into the "
    "scan — zero joins, zero shuffles before the implicit collect; "
    "O(len*W) per doc. Constant-doc and all-distinct fixtures pin the "
    "1/W and 1.0 extremes.".format(w=MATTR_W),
)
def text_mattr_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.filter(F.split("text", " "), lambda w: w != "")
    d = docs.select("doc_id", t.alias("t")).filter(
        F.size("t") >= MATTR_W
    )
    wins = d.select(
        "doc_id",
        (F.size("t") - MATTR_W + 1).cast("bigint").alias("n_windows"),
        F.aggregate(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - MATTR_W + 1),
                lambda i: F.size(
                    F.array_distinct(F.slice("t", i, MATTR_W))
                ),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("distinct_sum"),
    )
    return wins.select(
        "doc_id",
        "n_windows",
        "distinct_sum",
        F.expr(
            f"CAST((distinct_sum * 1000000)"
            f" div (n_windows * {MATTR_W}) AS BIGINT)"
        ).alias("mattr_ppm"),
    )


# ---------------------------------------------------------------------------
# Hapax legomena — the once-words: their share of the vocabulary is the
# classic corpus-maturity statistic beside the Zipf slope and the Heaps
# (vocab-growth) curve; a crawl dominated by boilerplate reads LOW hapax.


@register(
    "text_hapax_legomena",
    oracle="""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
),
t AS (SELECT source, token FROM tok WHERE token <> ''),
freq AS (
  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
  FROM t GROUP BY source, token
)
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS vocab,
  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
  CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dis_legomena,
  CAST((SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000)
       // COUNT(*) AS BIGINT) AS hapax_ppm
FROM freq GROUP BY source
""",
    doc="Hapax/dis legomena per source: the share of vocabulary seen "
    "exactly once (and twice) — the corpus-maturity statistic beside "
    "text_zipf_slope and text_vocab_growth_curve (Heaps); boilerplate-"
    "heavy sources read LOW hapax. Exact integer ppm; one token "
    "aggregate + one O(sources) rollup.",
)
def text_hapax_legomena(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "source", F.explode(F.split("text", " ")).alias("token")
    ).filter(F.col("token") != "")
    freq = t.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    return freq.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum((F.col("c") == 1).cast("int")).cast("bigint").alias("hapax"),
        F.sum((F.col("c") == 2).cast("int"))
        .cast("bigint")
        .alias("dis_legomena"),
        F.expr(
            "CAST((SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000)"
            " div COUNT(*) AS BIGINT)"
        ).alias("hapax_ppm"),
    )


# ---------------------------------------------------------------------------
# BLEU-2 (Papineni et al. 2002) — the precision-oriented complement to
# ROUGE's recall orientation, on the same deterministic (even, odd)
# document pairing: clipped unigram/bigram precisions, geometric mean,
# brevity penalty.

# CAST before dividing by the 1e6 literal: DuckDB parses 1000000.0 as
# DECIMAL and BIGINT/DECIMAL division rounds at decimal scale (the
# text_source_kl_divergence lesson — here it drifted bleu2_r6 by ~1e-6).
_BLEU_FINISH = (
    "CASE WHEN ct2 > 0 AND p1m > 0 AND p2m > 0 THEN"
    " ROUND(LEAST(1.0, EXP(1.0 - CAST(rt AS DOUBLE) / ct))"
    " * SQRT((CAST(p1m AS DOUBLE) / 1000000.0)"
    " * (CAST(p2m AS DOUBLE) / 1000000.0)), 6)"
    " ELSE 0.0 END"
)


@register(
    "ml_eval_bleu_pairs",
    oracle=f"""
WITH pairs AS (
  SELECT c.doc_id AS cand_id, r.doc_id AS ref_id,
         c.text AS ctext, r.text AS rtext
  FROM documents c JOIN documents r ON r.doc_id = c.doc_id + 1
  WHERE c.doc_id % 2 = 0
),
u1 AS (
  SELECT cand_id, tok, COUNT(*) AS c
  FROM (SELECT cand_id, unnest(string_split(ctext, ' ')) AS tok FROM pairs)
  GROUP BY 1, 2
),
r1 AS (
  SELECT cand_id, tok, COUNT(*) AS c
  FROM (SELECT cand_id, unnest(string_split(rtext, ' ')) AS tok FROM pairs)
  GROUP BY 1, 2
),
o1 AS (
  SELECT u1.cand_id, CAST(SUM(LEAST(u1.c, r1.c)) AS BIGINT) AS ov
  FROM u1 JOIN r1 ON r1.cand_id = u1.cand_id AND r1.tok = u1.tok
  GROUP BY 1
),
t1 AS (SELECT cand_id, CAST(SUM(c) AS BIGINT) AS ct FROM u1 GROUP BY 1),
s1 AS (SELECT cand_id, CAST(SUM(c) AS BIGINT) AS rt FROM r1 GROUP BY 1),
cb AS (SELECT cand_id, string_split(ctext, ' ') AS t FROM pairs),
rb AS (SELECT cand_id, string_split(rtext, ' ') AS t FROM pairs),
u2 AS (
  SELECT cand_id, t[i] || ' ' || t[i + 1] AS tok, COUNT(*) AS c
  FROM cb, unnest(generate_series(1, len(t) - 1)) AS g(i)
  GROUP BY 1, 2
),
r2 AS (
  SELECT cand_id, t[i] || ' ' || t[i + 1] AS tok, COUNT(*) AS c
  FROM rb, unnest(generate_series(1, len(t) - 1)) AS g(i)
  GROUP BY 1, 2
),
o2 AS (
  SELECT u2.cand_id, CAST(SUM(LEAST(u2.c, r2.c)) AS BIGINT) AS ov
  FROM u2 JOIN r2 ON r2.cand_id = u2.cand_id AND r2.tok = u2.tok
  GROUP BY 1
),
t2 AS (SELECT cand_id, CAST(SUM(c) AS BIGINT) AS ct2 FROM u2 GROUP BY 1),
fin AS (
  SELECT p.cand_id, p.ref_id, t1.ct, s1.rt, t2.ct2,
    CAST(COALESCE(o1.ov, 0) * 1000000 // t1.ct AS BIGINT) AS p1m,
    CAST(CASE WHEN t2.ct2 > 0
         THEN COALESCE(o2.ov, 0) * 1000000 // t2.ct2 ELSE 0 END
         AS BIGINT) AS p2m
  FROM pairs p
  JOIN t1 ON t1.cand_id = p.cand_id
  JOIN s1 ON s1.cand_id = p.cand_id
  LEFT JOIN t2 ON t2.cand_id = p.cand_id
  LEFT JOIN o1 ON o1.cand_id = p.cand_id
  LEFT JOIN o2 ON o2.cand_id = p.cand_id
)
SELECT cand_id, ref_id, p1m AS bleu1_p_micro, p2m AS bleu2_p_micro,
  {_BLEU_FINISH} AS bleu2_r6
FROM fin
""",
    doc="BLEU-2 (Papineni et al. 2002) over the same deterministic "
    "(even, odd) document pairing as ml_eval_rouge_pairs — the "
    "precision-oriented complement to ROUGE's recall orientation: "
    "clipped unigram/bigram precisions as exact integer micros, then "
    "one fixed-shape IEEE finish (brevity penalty x geometric mean) "
    "shared verbatim with the oracle; degenerate bigram/zero-overlap "
    "cases pinned to 0.0 identically. Same plan family as ROUGE: "
    "n-gram count tables + per-pair joins.",
)
def ml_eval_bleu_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    c = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("cand_id"), F.col("text").alias("ctext")
    )
    r = docs.select(
        (F.col("doc_id") - 1).alias("cand_id"),
        F.col("doc_id").alias("ref_id"),
        F.col("text").alias("rtext"),
    )
    pairs = c.join(r, "cand_id")
    u1 = _gram_counts(pairs, "ctext", 1, "c")
    r1 = _gram_counts(pairs, "rtext", 1, "rc")
    o1 = (
        u1.join(r1, ["cand_id", "tok"])
        .groupBy("cand_id")
        .agg(F.sum(F.least("c", "rc")).cast("bigint").alias("ov1"))
    )
    t1 = u1.groupBy("cand_id").agg(F.sum("c").cast("bigint").alias("ct"))
    s1 = r1.groupBy("cand_id").agg(F.sum("rc").cast("bigint").alias("rt"))
    u2 = _gram_counts(pairs, "ctext", 2, "c")
    r2 = _gram_counts(pairs, "rtext", 2, "rc")
    o2 = (
        u2.join(r2, ["cand_id", "tok"])
        .groupBy("cand_id")
        .agg(F.sum(F.least("c", "rc")).cast("bigint").alias("ov2"))
    )
    t2 = u2.groupBy("cand_id").agg(F.sum("c").cast("bigint").alias("ct2"))
    fin = (
        pairs.select("cand_id", "ref_id")
        .join(t1, "cand_id")
        .join(s1, "cand_id")
        .join(t2, "cand_id", "left")
        .join(o1, "cand_id", "left")
        .join(o2, "cand_id", "left")
        .select(
            "cand_id",
            "ref_id",
            "ct",
            "rt",
            "ct2",
            F.expr(
                "CAST(COALESCE(ov1, 0) * 1000000 div ct AS BIGINT)"
            ).alias("p1m"),
            F.expr(
                "CAST(CASE WHEN ct2 > 0 THEN COALESCE(ov2, 0) * 1000000"
                " div ct2 ELSE 0 END AS BIGINT)"
            ).alias("p2m"),
        )
    )
    return fin.select(
        "cand_id",
        "ref_id",
        F.col("p1m").alias("bleu1_p_micro"),
        F.col("p2m").alias("bleu2_p_micro"),
        F.expr(_BLEU_FINISH).alias("bleu2_r6"),
    )


@register(
    "text_simpson_diversity",
    oracle="""
WITH tok AS (
  SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (
  SELECT lang, token, COUNT(*) AS n FROM tok
  WHERE token <> '' GROUP BY lang, token
),
per_lang AS (
  SELECT lang,
         SUM(n) AS total,
         SUM(n * (n - 1)) AS coll,
         COUNT(*) AS vocab
  FROM tf GROUP BY lang
)
SELECT lang,
  CAST(total AS BIGINT) AS n_tokens,
  CAST(vocab AS BIGINT) AS vocab,
  CAST((coll * 1000000) // (total * (total - 1)) AS BIGINT)
    AS simpson_ppm,
  CAST((1000000 - (coll * 1000000) // (total * (total - 1))) AS BIGINT)
    AS gini_simpson_ppm
FROM per_lang ORDER BY lang
""",
    doc="Simpson / Gini-Simpson lexical diversity per language (E12 "
    "extension — the ecology-derived corpus-concentration measure "
    "quality pipelines track next to MATTR and hapax rate): "
    "D = sum n_t(n_t-1) / (N(N-1)) — the probability two sampled "
    "tokens coincide — computed entirely in exact BIGINTs with one "
    "floor-division to integer ppm at the end, so no float can flip a "
    "digit. Spark shape: scan -> split/explode -> partial-agg "
    "Exchange(lang, token) term frequencies -> O(langs) rollup. At "
    "100 TB the only row-count-scale shuffle carries (lang, token) "
    "partial counts — the same map-side-combined shape as every tf "
    "pass in the text family.",
)
def text_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    tf = (
        docs.select(
            "lang", F.explode(F.split("text", " ")).alias("token")
        )
        .filter(F.col("token") != "")
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    per = tf.groupBy("lang").agg(
        F.sum("n").alias("total"),
        F.sum(F.col("n") * (F.col("n") - 1)).alias("coll"),
        F.count(F.lit(1)).alias("vocab"),
    )
    simpson = F.expr("CAST((coll * 1000000) DIV (total * (total - 1)) AS BIGINT)")
    return per.select(
        "lang",
        F.col("total").cast("bigint").alias("n_tokens"),
        F.col("vocab").cast("bigint").alias("vocab"),
        simpson.alias("simpson_ppm"),
        (F.lit(1000000) - simpson).cast("bigint").alias("gini_simpson_ppm"),
    ).orderBy("lang")


@register(
    "text_burstiness_dispersion",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, COUNT(*) AS c FROM tok
  WHERE token <> '' GROUP BY doc_id, token
),
nd AS (SELECT COUNT(*) AS n FROM documents),
per_tok AS (
  SELECT token,
         COUNT(*) AS df,
         SUM(c) AS s1,
         SUM(c * c) AS s2
  FROM tf GROUP BY token
)
SELECT token,
  CAST(df AS BIGINT) AS doc_freq,
  CAST(s1 AS BIGINT) AS total_count,
  CAST(((nd.n * s2 - s1 * s1) * 1000000) // (nd.n * s1) AS BIGINT)
    AS vmr_micro
FROM per_tok CROSS JOIN nd
WHERE s1 >= 20
ORDER BY vmr_micro DESC, token
LIMIT 25
""",
    doc="Per-token burstiness (variance-to-mean dispersion over the "
    "per-document count distribution, zeros included) — Church & Gale's "
    "classic signal separating topical content words (bursty, VMR >> 1) "
    "from function words (Poisson-ish, VMR ~ 1); quality pipelines use "
    "it to pick keyword candidates and spot boilerplate. Exact "
    "integers end to end: across all N docs (zero counts included via "
    "the algebraic form), VMR = (N*sum(c^2) - sum(c)^2) / (N*sum(c)), "
    "emitted as one floor-division to micro units — no float variance. "
    "Top-25 bursty tokens with total count >= 20. Spark shape: "
    "scan -> explode -> partial-agg Exchange(doc_id, token) tf -> "
    "partial-agg Exchange(token) moment sums -> 1-row doc count "
    "broadcast -> TakeOrderedAndProject. At 100 TB both shuffles are "
    "map-side combined and the output is top-k bounded.",
)
def text_burstiness_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    nd = docs.agg(F.count(F.lit(1)).alias("n"))
    per = tf.groupBy("token").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    return (
        per.join(F.broadcast(nd))
        .filter(F.col("s1") >= 20)
        .select(
            "token",
            F.col("df").cast("bigint").alias("doc_freq"),
            F.col("s1").cast("bigint").alias("total_count"),
            F.expr(
                "CAST(((n * s2 - s1 * s1) * 1000000) DIV (n * s1) AS BIGINT)"
            ).alias("vmr_micro"),
        )
        .orderBy(F.desc("vmr_micro"), "token")
        .limit(25)
    )
