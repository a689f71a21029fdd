"""Semantic tests for eval-set decontamination and Gopher repetition
rules on constructed corpora (the synthetic corpus exercises the happy
path; these pin the flag semantics)."""

from __future__ import annotations

from hbase_hadoop_flightsearch_spark.functions.decontam import (
    EVAL_MOD,
    decontaminate_from,
    gopher_repetition_from,
)

SF = "/root/testdata/sf0.01"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_copy_of_eval_doc_is_fully_contaminated(spark):
    eval_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, eval_text),  # eval slice (0 % EVAL_MOD == 0)
        (1, eval_text),  # verbatim leak -> overlap_frac 1.0
        (2, "one two three four five six seven eight nine ten"),  # clean
    ]
    out = {
        r["doc_id"]: r.asDict()
        for r in decontaminate_from(_docs(spark, rows)).collect()
    }
    assert out[1]["overlap_frac"] == 1.0 and out[1]["contaminated"] == 1
    assert 2 not in out  # zero-overlap docs don't appear
    assert 0 not in out  # eval docs are never scored as training docs


def test_partial_leak_below_threshold_not_flagged(spark):
    # Train doc shares exactly one 5-gram out of 26 (26*0.05 > 1 -> clean).
    shared = "alpha beta gamma delta epsilon"
    filler = " ".join(f"w{i}" for i in range(25))
    rows = [(0, shared + " zeta eta theta"), (1, shared + " " + filler)]
    out = decontaminate_from(_docs(spark, rows)).collect()
    assert len(out) == 1
    r = out[0].asDict()
    assert r["doc_id"] == 1 and r["n_overlap"] == 1
    assert r["contaminated"] == 0


def test_eval_docs_never_in_output_on_corpus(spark):
    from hbase_hadoop_flightsearch_spark.plans.registry import load_all

    df = load_all()["text_decontaminate"].fn(spark, SF)
    bad = df.filter(f"doc_id % {EVAL_MOD} = 0").count()
    assert bad == 0


def test_gopher_flags_repetitive_doc(spark):
    repetitive = "spam ham " * 20  # one bigram dominates
    clean = " ".join(f"w{i}" for i in range(40))
    rows = [(1, repetitive.strip()), (2, clean), (3, "too short")]
    out = {
        r["doc_id"]: r.asDict()
        for r in gopher_repetition_from(_docs(spark, rows)).collect()
    }
    assert out[1]["quality_pass"] == 0  # top bigram > 20% of mass
    assert out[1]["top_bigram_frac"] > 0.4
    assert out[1]["rep_bigram_frac"] > 0.9
    assert out[2]["quality_pass"] == 1
    assert out[2]["rep_bigram_frac"] == 0.0
    assert out[3]["quality_pass"] == 0  # below 10-token floor


def test_decontaminate_broadcasts_eval_side(spark):
    from hbase_hadoop_flightsearch_spark.plans.registry import load_all

    df = load_all()["text_decontaminate"].fn(spark, SF)
    em = df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "extended"
    )
    plan = df._jdf.queryExecution().explainString(em)
    # The 100 TB contract: eval n-grams broadcast, corpus never shuffles
    # through a join exchange.
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_fuzzy_decon_catches_all_exact_crossing_pairs(spark, sf_correctness):
    """Banding recall on the fixture: every exact >=0.5-Jaccard pair
    that crosses the eval split must be caught (measured 15/15 and 7/7
    at the two small SFs — the 8x2 banding's 0.90 floor is a LOWER
    bound; this pins the fixture behavior), and nothing below the
    threshold may appear (precision 1.0 by construction)."""
    from hbase_hadoop_flightsearch_spark.functions.decontam import (
        text_decontaminate_fuzzy,
    )
    from hbase_hadoop_flightsearch_spark.operators.dedup import (
        dedup_ngram_jaccard,
    )

    exact = dedup_ngram_jaccard(spark, sf_correctness).collect()
    want = {
        tuple(sorted((r.d1, r.d2)))
        for r in exact
        if (r.d1 % 7 == 5) != (r.d2 % 7 == 5)
    }
    got_rows = text_decontaminate_fuzzy(spark, sf_correctness).collect()
    got = {tuple(sorted((r.corpus_doc, r.eval_doc))) for r in got_rows}
    assert len(got_rows) == len(got), "a pair came out twice"
    assert want <= got, want - got
    assert got <= want, got - want  # nothing under the pair threshold
    for r in got_rows:
        assert r.jaccard_micro >= 500_000


def test_fuzzy_decon_flags_planted_contamination(spark, tmp_path):
    """A corpus doc sharing its exact text with an eval doc must be
    flagged at jaccard 1.0; an unrelated doc must not be flagged."""
    from hbase_hadoop_flightsearch_spark.functions.decontam import (
        text_decontaminate_fuzzy,
    )

    leaked = "the quick brown fox jumps over the lazy dog again and again"
    clean = "completely different words about spark catalyst planning"
    rows = [
        (5, leaked, "en", "eval", len(leaked)),     # eval (5 % 7 == 5)
        (14, leaked, "en", "web", len(leaked)),     # contaminated corpus
        (15, clean, "en", "web", len(clean)),       # clean corpus
    ]
    spark.createDataFrame(
        rows,
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = text_decontaminate_fuzzy(spark, str(tmp_path)).collect()
    assert len(got) == 1
    assert got[0].corpus_doc == 14 and got[0].eval_doc == 5
    assert got[0].jaccard_micro == 1_000_000
