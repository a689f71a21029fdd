"""The shared text front end: word n-grams come from one primitive
(`operators/dedup.word_ngrams`) and signatures from one explode plus one
grouped aggregate, so no lambda re-splits a text or hashes a shingle."""

from __future__ import annotations

import re
import shutil
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from hbase_hadoop_flightsearch_spark.operators import iterate
from hbase_hadoop_flightsearch_spark.plans.registry import load_all
from hbase_hadoop_flightsearch_spark.sources.catalog import load_table

from .oracle_utils import compare_query_to_oracle
from .plan_utils import lambda_bodies

BIGRAM_NAMES = [
    "text_collocations_pmi",
    "text_collocations_llr",
    "ml_eval_rouge_pairs",
    "ml_eval_bleu_pairs",
    "text_bigram_logprob",
    "text_textrank_keywords",
]


@pytest.fixture(scope="module")
def short_text_corpus(tmp_path_factory, sf_smoke):
    """sf0.001 plus a one-token doc and an empty doc: an even doc_id
    followed by the next odd one, so the pairwise evals score them as a
    candidate and its reference."""
    out = tmp_path_factory.mktemp("short_texts")
    for f in Path(sf_smoke).glob("*.parquet"):
        shutil.copy(f, out)
    docs = pq.read_table(out / "documents.parquet")
    n = max(docs.column("doc_id").to_pylist()) + 1
    n += n % 2
    extra = pa.table(
        {
            "doc_id": [n, n + 1],
            "text": ["solo", ""],
            "lang": ["en", "en"],
            "source": ["src0", "src0"],
            "n_chars": [4, 0],
        },
        schema=docs.schema,
    )
    pq.write_table(pa.concat_tables([docs, extra]), out / "documents.parquet")
    return str(out)


@pytest.mark.parametrize("name", BIGRAM_NAMES)
def test_bigram_sites_hold_on_one_token_and_empty_texts(
    spark, short_text_corpus, name
):
    compare_query_to_oracle(spark, load_all()[name], short_text_corpus)


# The names whose builders moved to the n-gram primitive or to a grouped
# MinHash / SimHash aggregate. text_bpe_train_merges also uses the
# primitive, but only in frames it collects, which no plan here shows.
PORTED_NAMES = [
    "dedup_ngram_jaccard",
    "dedup_containment_prefix",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_minhash_md5_estimate",
    "incremental_minhash_merge",
    "text_decontaminate",
    "text_decontaminate_fuzzy",
    *BIGRAM_NAMES,
]

# split(...) whose first argument is a row column, not a lambda variable
_ROW_SPLIT = re.compile(r"split\((?!lambda )")


@pytest.mark.parametrize("name", PORTED_NAMES)
def test_ported_plans_keep_split_and_hashes_out_of_lambdas(
    spark, sf_smoke, monkeypatch, name
):
    """The optimized plan of the result and of every frame the builder
    materializes on the way: no lambda body splits a row's text or
    hashes with xxhash64 or md5."""
    query = load_all()[name]  # imports every module before the patch
    plans = []
    real = iterate.materialize

    def recording(df):
        plans.append(df._jdf.queryExecution().optimizedPlan().toString())
        return real(df)

    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith(
            "hbase_hadoop_flightsearch_spark"
        ) and hasattr(mod, "materialize"):
            monkeypatch.setattr(mod, "materialize", recording)
    df = query.fn(spark, sf_smoke)
    plans.append(df._jdf.queryExecution().optimizedPlan().toString())
    for plan in plans:
        for body in lambda_bodies(plan):
            assert not _ROW_SPLIT.search(body), body
            assert "xxhash64(" not in body and "md5(" not in body, body


def test_load_events_runs_one_job(spark, sf_smoke):
    """The events codec reads the footer once; the read reuses that
    schema instead of inferring it again."""
    sc = spark.sparkContext
    group = "load_events_jobs"
    sc.setJobGroup(group, group)
    try:
        load_table(spark, sf_smoke, "events")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
