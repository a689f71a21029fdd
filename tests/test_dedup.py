"""Self-checks for the non-oracle-able dedup path (SURVEY.md §7 R3):
SimHash has no SQL oracle (signature is hash-defined), so its output is
validated against the exact n-gram Jaccard operator instead.
"""

from __future__ import annotations

from hbase_hadoop_flightsearch_spark.operators.dedup import (
    dedup_ngram_jaccard,
    simhash_pairs,
)


def test_simhash_pairs_are_true_near_dups(spark, sf_correctness):
    """Hamming <= 7 on 64-bit 3-gram SimHash is a STRICTER notion of
    near-duplicate than 3-gram Jaccard >= 0.5: every SimHash pair must be
    a Jaccard pair (perfect precision w.r.t. the exact operator), and it
    must find a meaningful share of the HIGH-similarity tier (j >= 0.9 —
    the pairs a Hamming screen targets; the full >= 0.5 set is
    corpus-dependent, r7 altseed finding)."""
    jrows = dedup_ngram_jaccard(spark, sf_correctness).collect()
    jac = {(r.d1, r.d2) for r in jrows}
    hi = {(r.d1, r.d2) for r in jrows if r.jaccard >= 0.9}
    rows = simhash_pairs(spark, sf_correctness).collect()
    sim = {(r.d1, r.d2) for r in rows}
    assert sim, "simhash found nothing"
    assert len(rows) == len(sim), "a pair came out twice"
    assert sim <= jac, f"false positives: {sorted(sim - jac)[:5]}"
    assert hi and len(sim & hi) * 2 >= len(hi), (
        f"simhash recall vs high-sim tier too low: {len(sim & hi)}/{len(hi)}"
    )


def test_connected_components_closes_chains(spark):
    """A 5-node path graph (0-1-2-3-4) plus an isolated vertex, and a
    40-vertex path: the CC loop must close each full chain and leave the
    singleton alone — proof of real transitivity, since the corpus'
    near-dup clusters are near-cliques that converge in one round. The
    40-path has diameter 39, past any per-hop round budget; star
    contraction needs O(log n) rounds."""
    from hbase_hadoop_flightsearch_spark.operators.graph import (
        connected_components,
    )

    vertices = spark.createDataFrame([(i,) for i in range(6)], ["doc_id"])
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(4)], ["d1", "d2"]
    )
    got = {
        (r.doc_id, r.component_id)
        for r in connected_components(vertices, chain).collect()
    }
    assert got == {(i, 0) for i in range(5)} | {(5, 5)}

    vertices, path = _path_graph(spark, 40)
    got = {
        (r.doc_id, r.component_id)
        for r in connected_components(vertices, path).collect()
    }
    assert got == {(i, 0) for i in range(40)}


def _path_graph(spark, n):
    """(vertices, pairs) of the path 0-1-...-(n-1), edges shuffled so no
    round can lean on input order."""
    import random

    edges = [(i, i + 1) for i in range(n - 1)]
    random.Random(3).shuffle(edges)
    return (
        spark.createDataFrame([(i,) for i in range(n)], ["doc_id"]),
        spark.createDataFrame(edges, ["d1", "d2"]),
    )


def test_connected_components_fails_loudly_when_unconverged(
    spark, monkeypatch
):
    """A round budget too small for the graph must raise, never return a
    partial labeling."""
    import pytest

    from hbase_hadoop_flightsearch_spark.operators import graph

    monkeypatch.setattr(graph, "CC_MAX_ROUNDS", 1)
    vertices, path = _path_graph(spark, 40)
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        graph.connected_components(vertices, path)


def test_mllib_minhash_lsh_agrees(spark, sf_correctness):
    """Independent-implementation check: Spark MLlib's MinHashLSH
    (CountVectorizer -> approxSimilarityJoin on jaccard distance) over the
    SAME shingle sets must find a subset of our exact-jaccard pairs
    (approxSimilarityJoin verifies exact distance on candidates, so no
    false positives are possible) with near-total recall (16 OR-ed hash
    tables: P(miss) = (1-j)^16 <= 1.5e-5 at j >= 0.5)."""
    from pyspark.ml.feature import CountVectorizer, MinHashLSH

    from hbase_hadoop_flightsearch_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        dedup_ngram_jaccard,
        doc_shingles,
    )

    sh = doc_shingles(spark, sf_correctness)
    cv = CountVectorizer(inputCol="shingles", outputCol="features",
                         binary=True)
    feat = cv.fit(sh).transform(sh).select("doc_id", "features")
    mh = MinHashLSH(inputCol="features", outputCol="hashes",
                    numHashTables=16, seed=42)
    joined = (
        mh.fit(feat)
        .approxSimilarityJoin(feat, feat, 1.0 - JACCARD_THRESHOLD, "dist")
        .selectExpr("datasetA.doc_id AS a", "datasetB.doc_id AS b")
        .filter("a < b")
    )
    mllib_pairs = {(r.a, r.b) for r in joined.collect()}
    exact_pairs = {
        (r.d1, r.d2)
        for r in dedup_ngram_jaccard(spark, sf_correctness).collect()
    }
    assert mllib_pairs <= exact_pairs, (
        f"mllib found pairs we call non-dups: "
        f"{sorted(mllib_pairs - exact_pairs)[:5]}"
    )
    assert len(mllib_pairs) >= 0.95 * len(exact_pairs), (
        f"recall vs our exact operator: {len(mllib_pairs)}/{len(exact_pairs)}"
    )


def test_simhash_banding_theorem_and_packed_sig_consistency(
    spark, sf_correctness
):
    """The banding theorem against the production path: the banded
    `simhash_pairs` output must equal, as (d1, d2, hamming) rows, the
    brute-force all-pairs Hamming <= SIMHASH_HAMMING_MAX (7) set over
    the same packed signatures (complete: nothing missing; sound:
    nothing extra), each pair exactly once."""
    from hbase_hadoop_flightsearch_spark.operators.dedup import (
        SIMHASH_HAMMING_MAX,
        _simhash_sig_long,
    )
    from pyspark.sql import functions as F

    sigs = _simhash_sig_long(spark, sf_correctness)
    bf = (
        sigs.select(F.col("doc_id").alias("d1"), F.col("sig").alias("s1"))
        .crossJoin(
            sigs.select(F.col("doc_id").alias("d2"), F.col("sig").alias("s2"))
        )
        .filter(F.col("d1") < F.col("d2"))
        .withColumn("hamming", F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))))
        .filter(F.col("hamming") <= SIMHASH_HAMMING_MAX)
    )
    brute = {(r.d1, r.d2, r.hamming) for r in bf.collect()}
    rows = simhash_pairs(spark, sf_correctness).collect()
    banded = {(r.d1, r.d2, r.hamming) for r in rows}
    assert brute, "no pair within the Hamming bound"
    assert brute - banded == set(), "banding missed pairs"
    assert banded - brute == set(), "banding emitted non-pairs"
    assert len(rows) == len(banded)


def test_levenshtein_blocking_bounds_hot_buckets(spark):
    """Zipfian corpus: 300 equal-length docs (ONE length bucket — the shape
    that degraded length-only blocking toward all-pairs). The composed
    (length x first-token) key must split it, the LEV_BUCKET_CAP must skip
    the still-hot 200-doc sub-bucket (no pairs from it), and the 60-doc
    under-cap sub-bucket must yield exactly its full pair set — per-task
    pair work is bounded by cap^2/2 no matter how lengths concentrate."""
    from hbase_hadoop_flightsearch_spark.operators.dedup import (
        LEV_BUCKET_CAP,
        levenshtein_blocked_pairs,
    )

    def doc(i: int, tok: str) -> tuple[int, str]:
        body = f"{tok} {i:06d} "
        return (i, body + "z" * (31 - len(body)))

    rows = (
        [doc(i, "hot") for i in range(200)]  # over cap -> skipped
        + [doc(i, "warm") for i in range(200, 260)]  # under cap -> kept
        + [doc(i, f"tok{i}") for i in range(260, 300)]  # singleton buckets
    )
    assert len({len(t) for _, t in rows}) == 1  # truly one length bucket
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {
        (r.d1, r.d2) for r in levenshtein_blocked_pairs(docs).collect()
    }
    hot = {i for i in range(200)}
    assert 200 > LEV_BUCKET_CAP >= 60
    assert not any(d1 in hot or d2 in hot for d1, d2 in pairs), (
        "capped bucket leaked pairs"
    )
    warm_expected = {
        (a, b) for a in range(200, 260) for b in range(a + 1, 260)
    }
    assert pairs == warm_expected, (
        f"expected exactly the under-cap bucket's pairs, got {len(pairs)}"
    )


def test_levenshtein_block_stats_reports_caps(spark, sf_correctness):
    """The companion stats query makes cap skips observable: on the real
    corpus nothing is capped (flagging would mean lost coverage), and the
    largest bucket is far below the cap."""
    from hbase_hadoop_flightsearch_spark.operators.dedup import (
        LEV_BUCKET_CAP,
        dedup_levenshtein_block_stats,
    )

    r = dedup_levenshtein_block_stats(spark, sf_correctness).collect()[0]
    assert r.n_capped_buckets == 0 and r.n_skipped_docs == 0
    assert 0 < r.max_bucket <= LEV_BUCKET_CAP


def test_dedup_simhash_registered_pairs_and_md5_bit_parity(
    spark, sf_correctness
):
    """r8: dedup_simhash is now a FULL value oracle — the registered
    query returns the actual (d1, d2, hamming) pairs. Shape invariants
    here; pair-for-pair equality with DuckDB is the differential gate.
    Also pin the cross-engine md5 nibble/bit extraction the signature
    is built on."""
    import duckdb

    from pyspark.sql import functions as F

    from hbase_hadoop_flightsearch_spark.operators.dedup import (
        SIMHASH_HAMMING_MAX,
        dedup_simhash,
    )

    rows = dedup_simhash(spark, sf_correctness).collect()
    assert rows, "simhash found nothing"
    assert all(r.d1 < r.d2 for r in rows)
    assert all(0 <= r.hamming <= SIMHASH_HAMMING_MAX for r in rows)
    assert len({(r.d1, r.d2) for r in rows}) == len(rows)

    probe = "key agg row"
    spark_bits = spark.range(1).select(
        F.expr(f"""
          transform(sequence(0, 63), i ->
            CAST(shiftright(CAST(conv(substring(
                      md5(cast('{probe}' AS BINARY)),
                      CAST(i div 4 AS INT) + 1, 1), 16, 10) AS INT),
                CAST(i % 4 AS INT)) % 2 AS INT))
        """).alias("b")
    ).collect()[0]["b"]
    duck_bits = duckdb.connect().execute(f"""
      SELECT list_transform(range(64), i ->
        CAST((('0x' || substr(md5('{probe}'), CAST((i // 4) + 1 AS INT),
                1))::INT >> CAST(i % 4 AS INT)) % 2 AS INT))
    """).fetchone()[0]
    assert list(spark_bits) == list(duck_bits)


def test_bloom_no_false_negatives_and_bounded_fp(spark):
    """The Bloom contract: every reference member MUST flag (zero false
    negatives — this is what makes the composed operator exact), and on a
    fully-disjoint probe set the false-positive fraction stays near the
    analytic rate (~4% at the shipped m/n; assert a generous 15% so the
    test pins the mechanism, not the constant)."""
    from hbase_hadoop_flightsearch_spark.operators.dedup import (
        bloom_build,
        bloom_flag,
    )

    ref = spark.createDataFrame(
        [(i, f"member text number {i} alpha beta") for i in range(300)],
        "doc_id bigint, text string",
    )
    bf = bloom_build(ref)
    member_hits = bloom_flag(ref, bf).filter("bloom_hit").count()
    assert member_hits == 300  # no false negatives, ever

    novel = spark.createDataFrame(
        [(i, f"disjoint probe {i} gamma delta") for i in range(400)],
        "doc_id bigint, text string",
    )
    fp = bloom_flag(novel, bf).filter("bloom_hit").count()
    assert fp / 400 < 0.15, f"false-positive rate {fp}/400"


def test_bloom_reference_result_is_exact_anti_join(spark, sf_correctness):
    """End to end, the bloom-pruned plan must return EXACTLY the plain
    anti-join answer — false positives are verified away, and nothing
    else ever reaches the verification join."""
    from hbase_hadoop_flightsearch_spark.operators.dedup import (
        dedup_bloom_reference,
    )
    from hbase_hadoop_flightsearch_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    got = {r.doc_id for r in dedup_bloom_reference(spark, sf_correctness).collect()}
    docs = load_table(spark, sf_correctness, "documents").select("doc_id", "text")
    incoming = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.when(
            F.col("doc_id") % 2 == 1,
            F.concat(F.col("text"), F.lit(" novel"), F.col("doc_id").cast("string")),
        ).otherwise(F.col("text")).alias("text"),
    )
    want = {
        r.doc_id
        for r in incoming.join(docs.select("text"), "text", "left_anti").collect()
    }
    assert got == want and want  # nonempty and exact


def test_posting_list_max_df_cap_on_zipfian_corpus(spark, tmp_path):
    """Skew-resilience proof for the posting-list pair counter (the 100 TB
    knob): a Zipfian corpus with one stop-shingle OVER the cap and one
    exactly AT it. The over-cap list must contribute zero pairs, the
    at-cap list exactly C(cap,2), true near-dups with rare shingles must
    survive, and the cap filter must sit BELOW the pair explode in the
    plan so no task ever materializes more than C(cap,2) pairs per list."""
    from pyspark.sql import functions as F

    from hbase_hadoop_flightsearch_spark.operators.dedup import (
        dedup_ngram_jaccard,
        shingle_pair_intersections,
        shingles_from,
    )

    cap = 8
    rows = []
    # Group A: 20 docs (> cap) sharing ONLY the stop-shingle "sa sb sc".
    for i in range(20):
        rows.append((100 + i, f"a{i}x a{i}y sa sb sc a{i}z a{i}w"))
    # Group B: exactly `cap` docs sharing only "ta tb tc".
    for i in range(cap):
        rows.append((200 + i, f"b{i}x b{i}y ta tb tc b{i}z b{i}w"))
    # One true near-dup pair with rare shingles (df=2 each, far below cap).
    rows.append((301, "q r s t u v w x y z"))
    rows.append((302, "q r s t u v w x y z"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sf_dir = str(tmp_path)
    docs.write.parquet(f"{sf_dir}/documents.parquet")

    sh = shingles_from(spark, docs)
    capped = shingle_pair_intersections(sh, max_df=cap).collect()
    group_a = [r for r in capped if 100 <= r.d1 < 120]
    group_b = [r for r in capped if 200 <= r.d1 < 210]
    assert group_a == []  # over-cap stop-shingle contributes nothing
    assert len(group_b) == cap * (cap - 1) // 2  # at-cap list fully counted
    assert all(r.inter == 1 for r in group_b)
    # Per-list emission bound: every pair row's intersection came from
    # retained lists only, and total pairs <= n_retained_lists * C(cap,2).
    retained_lists = (
        sh.select(F.explode("shingles").alias("s"))
        .groupBy("s").count().filter(f"count between 2 and {cap}").count()
    )
    assert len(capped) <= retained_lists * cap * (cap - 1) // 2

    # The near-dup pair survives the capped END-TO-END query (rare
    # shingles are untouched by the cap), and the dropped stop-shingle
    # cannot fabricate or destroy their jaccard=1.0.
    out = dedup_ngram_jaccard(spark, sf_dir, max_df=cap).collect()
    assert [(r.d1, r.d2, r.jaccard) for r in out] == [(301, 302, 1.0)]

    # Plan shape: the size(ids) <= cap filter must run BEFORE the pair
    # Generate (explode), so a skewed list is dropped before any task
    # could materialize its O(df^2) pairs.
    plan = shingle_pair_intersections(sh, max_df=cap)._jdf.queryExecution(
    ).executedPlan().toString()
    gen_pos = plan.find("Generate explode")
    filt_pos = plan.find("size(ids")
    assert gen_pos != -1 and filt_pos != -1
    # executedPlan prints top-down: the Generate node appears ABOVE
    # (earlier string position than) the filter it consumes from.
    assert gen_pos < filt_pos


def test_phash_banding_is_lossless_vs_bruteforce(spark, sf_smoke):
    """Pigeonhole in practice: the 8-band candidate path must find
    EXACTLY the pairs brute-force hamming <= 7 finds, including
    hash-identical pairs at hamming 0."""
    import itertools

    from hbase_hadoop_flightsearch_spark.operators.dedup import (
        PHASH_HAM_T,
        _ahash_from_pixels,
        _synth_bmp_for_phash,
        dedup_image_phash,
    )
    from hbase_hadoop_flightsearch_spark.functions.multimodal import (
        bmp_pixels,
    )
    from hbase_hadoop_flightsearch_spark.sources.catalog import load_table

    ids = [
        r["doc_id"]
        for r in load_table(spark, sf_smoke, "documents")
        .select("doc_id")
        .collect()
    ]
    hashes = {
        i: _ahash_from_pixels(bmp_pixels(_synth_bmp_for_phash(i)))
        for i in ids
    }
    brute = {
        (a, b)
        for a, b in itertools.combinations(sorted(ids), 2)
        if bin((hashes[a] ^ hashes[b]) & ((1 << 64) - 1)).count("1")
        <= PHASH_HAM_T
    }
    rows = dedup_image_phash(spark, sf_smoke).collect()
    got = {(r["d1"], r["d2"]) for r in rows}
    assert got == brute
    assert len(rows) == len(got), "a pair came out twice"
    zero = [(a, b) for (a, b) in brute if hashes[a] == hashes[b]]
    assert zero, "hash-identical image pairs must exist"


def test_embedding_ann_pairs_precision_exact_and_recall(spark, sf_smoke):
    """The sub-quadratic embedding near-dup twin: every emitted pair must
    REALLY clear the exact cosine threshold (precision 1.0 by verify),
    and full recall vs the exact all-pairs ground truth must clear the
    measured floor (multi-probe banding: 1.0 at this SF)."""
    from hbase_hadoop_flightsearch_spark.operators.dedup import (
        EMB_DEDUP_THRESH,
        embedding_ann_pairs,
    )

    import duckdb

    got = embedding_ann_pairs(spark, sf_smoke).collect()
    exact = set(
        duckdb.sql(
            f"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                 FROM read_parquet('{sf_smoke}/embeddings.parquet'))
      SELECT a.vec_id, b.vec_id FROM e a JOIN e b
      ON a.vec_id < b.vec_id
         AND list_cosine_similarity(a.v, b.v) >= {EMB_DEDUP_THRESH}
    """
        ).fetchall()
    )
    pairs = {(r.d1, r.d2) for r in got}
    assert len(got) == len(pairs), "a pair came out twice"
    assert pairs <= exact  # precision 1.0: every pair is a true pair
    assert len(pairs & exact) / len(exact) >= 0.95  # measured 1.0
    assert all(r.cosine >= EMB_DEDUP_THRESH for r in got)


def test_embedding_ann_audit_sample_is_count_bounded(spark, sf_smoke):
    """The in-query recall audit must be O(K^2) CONSTANT, not quadratic
    in the corpus: its sample side is capped at EMB_DEDUP_AUDIT_K rows
    (VERDICT r6 #2 — the old %3 modulo subsample grew as (n/3)^2)."""
    from hbase_hadoop_flightsearch_spark.operators.dedup import (
        EMB_DEDUP_AUDIT_K,
        embedding_ann_audit_sample,
        embedding_ann_pairs,
    )

    sample = embedding_ann_audit_sample(spark, sf_smoke)
    assert sample.count() <= EMB_DEDUP_AUDIT_K
    # limit is structural, not data-dependent: the plan carries the cap
    assert f"limit={EMB_DEDUP_AUDIT_K}" in sample._jdf.queryExecution().simpleString() or \
        str(EMB_DEDUP_AUDIT_K) in sample._jdf.queryExecution().executedPlan().toString()
    # r8: the registered query now RETURNS the pairs (full value oracle);
    # the audit invariants the old flag row carried live here instead.
    from hbase_hadoop_flightsearch_spark.operators.dedup import (
        EMB_DEDUP_RECALL_FLOOR,
        EMB_DEDUP_THRESH,
    )
    from hbase_hadoop_flightsearch_spark.operators.similarity import _cosine
    from pyspark.sql import functions as F

    rows = embedding_ann_pairs(spark, sf_smoke).collect()
    assert rows, "no pairs found"
    assert all(r.d1 < r.d2 for r in rows)
    assert all(r.cosine >= EMB_DEDUP_THRESH for r in rows)
    assert len({(r.d1, r.d2) for r in rows}) == len(rows)
    a, b = sample.alias("a"), sample.alias("b")
    exact_sample = {
        (r["d1"], r["d2"])
        for r in a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .withColumn("cos", _cosine(F.col("a.v"), F.col("b.v")))
        .filter(F.col("cos") >= EMB_DEDUP_THRESH)
        .select(
            F.col("a.vec_id").alias("d1"), F.col("b.vec_id").alias("d2")
        )
        .collect()
    }
    got = {(r.d1, r.d2) for r in rows}
    assert exact_sample, "audit sample produced no ground-truth pairs"
    recall = len(got & exact_sample) / len(exact_sample)
    assert recall >= EMB_DEDUP_RECALL_FLOOR, f"sampled recall {recall:.2f}"


def test_embedding_ann_rejects_invalid_signature_shapes(spark, tmp_path):
    """Each invalid planes_n/bands_n shape raises a ValueError naming the
    parameter before any job runs (the corpus path does not even exist):
    more bands than planes would key every vector alike (an all-pairs
    cosine), a remainder would drop planes, and 64 planes do not pack
    into the bigint signature."""
    import pytest

    from hbase_hadoop_flightsearch_spark.operators.dedup import (
        embedding_ann_pairs,
    )

    missing = str(tmp_path / "no_corpus")
    for planes_n, bands_n, name in [
        (4, 6, "bands_n"),
        (12, 5, "planes_n"),
        (64, 4, "planes_n"),
    ]:
        with pytest.raises(ValueError, match=f"^{name}="):
            embedding_ann_pairs(
                spark, missing, planes_n=planes_n, bands_n=bands_n
            )


def test_semdedup_matches_sequential_reference(spark, sf_smoke):
    """SemDeDup's per-vector keep/remove decisions (cell assignment via
    the trained quantizer + in-cell greedy) must exactly match a
    sequential NumPy reference implementing the same definition."""
    import numpy as np

    from hbase_hadoop_flightsearch_spark.operators.dedup import (
        SEMDEDUP_TAU,
        semdedup_decisions,
    )
    from hbase_hadoop_flightsearch_spark.operators.similarity import (
        _embeddings,
        _ivf_centroids,
    )

    emb = _embeddings(spark, sf_smoke)
    cents = np.array(
        [r.cv for r in _ivf_centroids(spark, emb).orderBy("cent_id").collect()]
    )
    rows = sorted(emb.collect(), key=lambda r: r.vec_id)
    V = np.array([r.v for r in rows])
    ids = np.array([r.vec_id for r in rows])
    cn = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    sims = vn @ cn.T
    # tie-break lowest cent_id on equal cosine, like the Spark window
    cell = sims.argmax(axis=1)
    want_removed = set()
    for c in np.unique(cell):
        mask = cell == c
        sub, sid = vn[mask], ids[mask]
        kept: list[int] = []
        for i in range(len(sid)):
            if kept and (vn[kept] @ sub[i]).max() >= SEMDEDUP_TAU:
                want_removed.add(int(sid[i]))
            else:
                kept.append(int(np.where(ids == sid[i])[0][0]))
    got = semdedup_decisions(spark, sf_smoke).collect()
    got_removed = {r.vec_id for r in got if not r.kept}
    assert {r.vec_id for r in got} == set(map(int, ids))
    assert got_removed == want_removed
    for r in got:
        if not r.kept:
            assert r.witness_id < r.vec_id
            assert r.witness_cos_micro >= int(SEMDEDUP_TAU * 1000000)


def test_semdedup_zero_norm_embedding_fails_loudly(spark, tmp_path):
    """PRECONDITION test (ADVICE r9): a zero-norm embedding has no
    cosine; numpy's "NaN >= tau" (False -> kept) and DuckDB's NaN-sorts-
    highest ("mx >= tau" -> removed) would silently diverge. The pipeline
    must refuse loudly instead: under ANSI mode the cell-assignment
    cosine raises DIVIDE_BY_ZERO before the greedy even runs, and the
    in-cell greedy carries its own zero-norm ValueError as a second line
    of defense (for non-ANSI deployments where the NaN flows through)."""
    import numpy as np
    import pandas as pd
    import pytest

    from hbase_hadoop_flightsearch_spark.operators.dedup import (
        semdedup_decisions,
    )

    rng = np.random.default_rng(7)
    vecs = [rng.normal(size=64).tolist() for _ in range(40)]
    vecs[17] = [0.0] * 64  # the poisoned row
    pd.DataFrame(
        {"vec_id": list(range(40)), "embedding": vecs}
    ).to_parquet(tmp_path / "embeddings.parquet", index=False)
    with pytest.raises(Exception, match="zero-norm|DIVIDE_BY_ZERO"):
        semdedup_decisions(spark, str(tmp_path)).collect()

    # ... and the greedy's own guard (second line of defense) directly:
    from hbase_hadoop_flightsearch_spark.operators.dedup import (
        _semdedup_greedy_guard_check,
    )

    with pytest.raises(ValueError, match="zero-norm"):
        _semdedup_greedy_guard_check(
            np.array([[0.0, 0.0], [1.0, 0.0]]), cell_id=3
        )


def test_embedding_ann_wider_signature_prunes_dense_corpus(spark, tmp_path):
    """The r10 5x scale scan showed the 12-plane/4-band default passes
    ~94% of ALL pairs on a dense corpus (10% true-pair density) — the
    signature, not the execution, is the scale knob there. Pin the knob:
    on a deliberately clustered fixture, widening to 32 planes/4 bands
    (8-bit bands) must cut banding candidates by >= 3x (measured 3.9x:
    92% -> 24% survivors) while keeping >= 95% of the STRONG pairs
    (cos >= 0.8) the narrow signature found (measured 98%)."""
    import numpy as np
    import pandas as pd

    from hbase_hadoop_flightsearch_spark.operators.dedup import (
        embedding_ann_pairs,
    )

    rng = np.random.default_rng(99)
    centers = rng.normal(size=(8, 64))
    rows = []
    for i in range(400):
        c = centers[i % 8]
        v = c + 0.35 * rng.normal(size=64)
        rows.append(v.tolist())
    pd.DataFrame(
        {"vec_id": list(range(400)), "embedding": rows}
    ).to_parquet(tmp_path / "embeddings.parquet", index=False)

    narrow = embedding_ann_pairs(spark, str(tmp_path)).collect()
    wide = embedding_ann_pairs(
        spark, str(tmp_path), planes_n=32, bands_n=4
    ).collect()
    # Same exact verify -> both are SUBSETS of the true pair set; the
    # narrow result is the (near-exhaustive) reference here.
    n_strong = {(r.d1, r.d2) for r in narrow if r.cosine >= 0.8}
    w_all = {(r.d1, r.d2) for r in wide}
    missed = n_strong - w_all
    assert len(missed) <= max(1, len(n_strong) // 20), (
        f"wide signature lost {len(missed)}/{len(n_strong)} strong pairs"
    )  # measured 2% loss at 32 planes; 5% tolerance
    # candidate-volume claim: estimate banding survivors per signature
    # width from the signatures themselves (any-band hamming <= 1)
    from hbase_hadoop_flightsearch_spark.operators.similarity import (
        _hyperplanes,
    )

    X = np.array(rows)
    def survivors(planes_n, bands_n):
        H = np.array(_hyperplanes(planes_n, 64))
        bits = (X @ H.T > 0).astype(np.int64)
        w = planes_n // bands_n
        ok = np.zeros((len(X), len(X)), dtype=bool)
        for b in range(bands_n):
            seg = bits[:, b * w:(b + 1) * w]
            ham = (seg[:, None, :] != seg[None, :, :]).sum(axis=2)
            ok |= ham <= 1
        iu = np.triu_indices(len(X), 1)
        return int(ok[iu].sum())
    s12 = survivors(12, 4)
    s32 = survivors(32, 4)
    assert s32 * 3 <= s12, (s12, s32)


def test_cc_minlabel_oracle_chain_vs_union_find():
    """The bounded min-label CC oracle chain (cc_minlabel_duck, VERDICT
    r13 #3) must label exactly like sequential union-find on topologies
    that defeat its individual mechanisms: ordered/reversed/shuffled-id
    paths (contraction is a no-op — labels shift without merging),
    near-critical random graphs (the doc-level jump lands on
    knowledge-poor local minima), stars and deep trees. Pure DuckDB —
    no Spark session needed."""
    import random
    from collections import defaultdict

    import duckdb

    from hbase_hadoop_flightsearch_spark.operators.dedup import (
        cc_minlabel_duck,
    )

    def uf_truth(n, E):
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in E:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        mem = defaultdict(list)
        for v in range(n):
            mem[find(v)].append(v)
        return {v: min(mem[find(v)]) for v in range(n)}

    def run_chain(n, E):
        con = duckdb.connect()
        con.execute(
            f"CREATE TABLE verts AS SELECT range AS doc_id FROM range({n})"
        )
        con.execute("CREATE TABLE raw (s BIGINT, d BIGINT)")
        con.executemany("INSERT INTO raw VALUES (?, ?)", E)
        con.execute(
            "CREATE TABLE edges AS SELECT s AS src, d AS dst FROM raw "
            "UNION ALL SELECT d, s FROM raw"
        )
        sql = (
            f"WITH {cc_minlabel_duck('verts', 'edges')} "
            "SELECT doc_id, component_id FROM comp"
        )
        return dict(con.execute(sql).fetchall())

    cases = []
    n = 5000
    cases.append(("path", n, [(i, i + 1) for i in range(n - 1)]))
    cases.append(
        ("revpath", n, [(n - 1 - i, n - 2 - i) for i in range(n - 1)])
    )
    rng = random.Random(9)
    perm = list(range(n))
    rng.shuffle(perm)
    cases.append(
        ("shufpath", n, [(perm[i], perm[i + 1]) for i in range(n - 1)])
    )
    rng = random.Random(7)
    cases.append(
        ("nearcrit", 2000,
         [(rng.randrange(2000), rng.randrange(2000)) for _ in range(1500)])
    )
    rng = random.Random(42)
    cases.append(
        ("dense", 3000,
         [(rng.randrange(3000), rng.randrange(3000)) for _ in range(5000)])
    )
    cases.append(("star", 4096, [(0, i) for i in range(1, 4096)]))
    cases.append(("btree", 4096, [(i, (i - 1) // 2) for i in range(1, 4096)]))
    for name, n, E in cases:
        got = run_chain(n, E)
        want = uf_truth(n, E)
        assert got, f"{name}: convergence gate fired (comp empty)"
        assert got == want, f"{name}: labels differ from union-find"


def test_cc_minlabel_gate_fails_loudly_when_unconverged():
    """With too few rounds, the convergence gate must return an EMPTY
    comp (loud row-count mismatch) — never a silently wrong labeling."""
    import duckdb

    from hbase_hadoop_flightsearch_spark.operators.dedup import (
        cc_minlabel_duck,
    )

    n = 5000
    con = duckdb.connect()
    con.execute(
        f"CREATE TABLE verts AS SELECT range AS doc_id FROM range({n})"
    )
    con.execute(
        f"CREATE TABLE edges AS SELECT range AS src, range+1 AS dst "
        f"FROM range({n - 1}) UNION ALL SELECT range+1, range "
        f"FROM range({n - 1})"
    )
    sql = (
        f"WITH {cc_minlabel_duck('verts', 'edges', rounds=2)} "
        "SELECT COUNT(*) FROM comp"
    )
    assert con.execute(sql).fetchone()[0] == 0


def test_simhash_signatures_match_a_hashlib_reference(spark, sf_correctness):
    """Every packed SimHash signature equals one computed in Python from
    hashlib.md5 over the same shingles: bit i (nibble i div 4, bit
    i % 4 of the hex digest) is set when more than half of the shingles
    have it."""
    import hashlib

    from hbase_hadoop_flightsearch_spark.operators.dedup import (
        _simhash_sig_long,
        doc_shingles,
    )

    def reference(shingles):
        votes = [0] * 64
        for s in shingles:
            h = hashlib.md5(s.encode()).hexdigest()
            for i in range(64):
                votes[i] += 1 if (int(h[i // 4], 16) >> (i % 4)) & 1 else -1
        sig = sum(1 << i for i in range(64) if votes[i] > 0)
        return sig - (1 << 64) if sig >= 1 << 63 else sig

    want = {
        r.doc_id: reference(r.shingles)
        for r in doc_shingles(spark, sf_correctness).collect()
    }
    got = {r.doc_id: r.sig for r in _simhash_sig_long(spark, sf_correctness).collect()}
    assert got == want


def test_minhash_signatures_match_the_lambda_reference(spark, sf_correctness):
    """The grouped-aggregate signatures equal the nested-lambda form
    they replace: sig[j] = array_min(transform(shingles, s ->
    xxhash64(s, j))) for j < 64, bit for bit."""
    from pyspark.sql import functions as F

    from hbase_hadoop_flightsearch_spark.operators.dedup import (
        MINHASH_BANDS,
        MINHASH_ROWS,
        _minhash_sigs,
        doc_shingles,
    )

    lam = F.transform(
        F.sequence(F.lit(0), F.lit(MINHASH_BANDS * MINHASH_ROWS - 1)),
        lambda j: F.array_min(
            F.transform(F.col("shingles"), lambda s: F.xxhash64(s, j))
        ),
    )
    sh = doc_shingles(spark, sf_correctness)
    want = {r.doc_id: r.sig for r in sh.select("doc_id", lam.alias("sig")).collect()}
    got = {r.doc_id: r.sig for r in _minhash_sigs(spark, sf_correctness).collect()}
    assert got == want
