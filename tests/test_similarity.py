"""Self-checks for the non-oracle-able similarity path (SURVEY.md §7 R3):
ANN recall is measured against the exact brute-force baseline."""

from __future__ import annotations

from hbase_hadoop_flightsearch_spark.operators.similarity import (
    similarity_ann_ivf,
    similarity_ann_lsh,
    similarity_knn_bruteforce,
)


def test_ann_recall_vs_bruteforce(spark, sf_correctness):
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity_knn_bruteforce(spark, sf_correctness).collect()
    }
    ann = {
        (r.query_id, r.neighbor_id)
        for r in similarity_ann_lsh(spark, sf_correctness).collect()
    }
    assert exact, "brute-force baseline returned nothing"
    recall = len(exact & ann) / len(exact)
    # 12-bit/4-band hyperplane LSH with 1-bit query-side multi-probe:
    # measured recall@5 is 1.0 / 0.96 / 0.98 at sf0.001/0.01/0.1
    # (hash-deterministic per SF). Floor matches the registered oracle.
    from hbase_hadoop_flightsearch_spark.operators.similarity import (
        LSH_RECALL_FLOOR,
    )

    assert recall >= LSH_RECALL_FLOOR, f"ANN recall {recall:.2f} below floor"


def test_ivf_recall_vs_bruteforce(spark, sf_correctness):
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity_knn_bruteforce(spark, sf_correctness).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in similarity_ann_ivf(spark, sf_correctness).collect()
    }
    assert exact, "brute-force baseline returned nothing"
    recall = len(exact & ivf) / len(exact)
    # nprobe=8, trained 32-cell quantizer: measured recall@5 is
    # 0.96 / 0.84 / 0.82 at sf0.001/0.01/0.1 with real 75% pruning.
    # Floor matches the registered oracle.
    from hbase_hadoop_flightsearch_spark.operators.similarity import (
        IVF_RECALL_FLOOR,
    )

    assert recall >= IVF_RECALL_FLOOR, f"IVF recall {recall:.2f} below floor"


def test_ivf_results_are_true_cosines(spark, sf_correctness):
    exact = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in similarity_knn_bruteforce(spark, sf_correctness).collect()
    }
    for r in similarity_ann_ivf(spark, sf_correctness).collect():
        key = (r.query_id, r.neighbor_id)
        if key in exact:
            assert abs(exact[key] - r.cosine) < 1e-9


def test_ann_results_are_true_cosines(spark, sf_correctness):
    """Every ANN hit must carry the same cosine the exact scorer computes."""
    exact = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in similarity_knn_bruteforce(spark, sf_correctness).collect()
    }
    for r in similarity_ann_lsh(spark, sf_correctness).collect():
        key = (r.query_id, r.neighbor_id)
        if key in exact:
            assert abs(exact[key] - r.cosine) < 1e-9


def test_int8_quantized_recall_vs_bruteforce(spark, sf_correctness):
    """int8 symmetric quantization on 64-dim unit-ish vectors perturbs
    cosines by ~1/127 per axis — top-5 sets should survive nearly intact
    (floor 0.9, measured >= 0.98 at every shipped SF), and every
    quantized cosine must sit within 0.05 of the
    exact one."""
    from hbase_hadoop_flightsearch_spark.operators.similarity import (
        similarity_knn_bruteforce,
        similarity_knn_quantized_int8,
    )

    exact_rows = similarity_knn_bruteforce(spark, sf_correctness).collect()
    exact = {(r.query_id, r.neighbor_id) for r in exact_rows}
    exact_cos = {
        (r.query_id, r.neighbor_id): r.cosine for r in exact_rows
    }
    q = similarity_knn_quantized_int8(spark, sf_correctness).collect()
    got = {(r.query_id, r.neighbor_id) for r in q}
    from hbase_hadoop_flightsearch_spark.operators.similarity import (
        INT8_RECALL_FLOOR,
    )

    recall = len(exact & got) / len(exact)
    assert recall >= INT8_RECALL_FLOOR, f"int8 recall {recall:.2f}"
    for r in q:
        key = (r.query_id, r.neighbor_id)
        if key in exact_cos:
            assert abs(r.cosine - exact_cos[key]) < 0.05


def test_mmr_greedy_runs_distributed_no_driver_collect(spark, sf_smoke):
    """VERDICT r5 #4: the MMR greedy must run as applyInPandas over
    query_id (one parallel task per query), not as a driver loop over
    collected rows — asserted on both the operator source (no .collect)
    and the executed physical plan (FlatMapGroupsInPandas present)."""
    import inspect

    from hbase_hadoop_flightsearch_spark.operators.similarity import (
        similarity_mmr_rerank,
    )

    src = inspect.getsource(similarity_mmr_rerank)
    assert ".collect(" not in src
    df = similarity_mmr_rerank(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan, plan


def test_pq_adc_recall_and_code_size(spark, sf_correctness):
    """PQ/ADC must (a) beat its registered recall floor against exact
    kNN, and (b) actually compress: PQ_M 4-bit codes per vector = 16x
    smaller than float32. The codebook is a bounded driver artifact
    (PQ_M x PQ_KS x sub doubles ~ 4 KiB)."""
    from hbase_hadoop_flightsearch_spark.operators.similarity import (
        PQ_KS,
        PQ_M,
        PQ_RECALL_FLOOR,
        _embeddings,
        _pq_codebook,
        similarity_ann_pq,
        similarity_knn_bruteforce,
    )

    ann = set(
        map(
            tuple,
            similarity_ann_pq(spark, sf_correctness)
            .select("query_id", "neighbor_id")
            .collect(),
        )
    )
    exact = set(
        map(
            tuple,
            similarity_knn_bruteforce(spark, sf_correctness)
            .select("query_id", "neighbor_id")
            .collect(),
        )
    )
    recall = len(ann & exact) / len(exact)
    assert recall >= PQ_RECALL_FLOOR, recall
    book = _pq_codebook(_embeddings(spark, sf_correctness))
    assert book.shape[:2] == (PQ_M, PQ_KS)
    assert PQ_KS <= 16  # 4-bit codes: the 16x-vs-float32 claim


def test_ivf_centroid_tier_is_count_bounded(spark, sf_correctness):
    """The coarse quantizer must be a CONSTANT-size artifact: exactly
    IVF_N_CELLS centroids regardless of corpus size, trained from a
    sample capped at IVF_TRAIN_SAMPLE rows (VERDICT r6 #3 — the old
    vec_id % 100 tier grew n/100 centroids, a scale-killer broadcast
    and an O(n^2/100) assignment at 10^9 vectors)."""
    from hbase_hadoop_flightsearch_spark.operators.similarity import (
        IVF_N_CELLS,
        IVF_TRAIN_SAMPLE,
        _embeddings,
        _ivf_centroids,
    )

    emb = _embeddings(spark, sf_correctness)
    cents = _ivf_centroids(spark, emb)
    assert cents.count() == IVF_N_CELLS
    assert IVF_N_CELLS <= 256  # a broadcastable constant, not a fraction
    assert IVF_TRAIN_SAMPLE <= 4096
    # determinism: retraining from the same corpus is bit-identical
    again = _ivf_centroids(spark, emb)
    assert sorted(map(tuple, cents.collect())) == sorted(
        map(tuple, again.collect())
    )


def test_mmr_rerank_partitioning_invariance(spark, sf_smoke):
    """VERDICT r6 #7: the distributed MMR greedy's determinism argument
    (BIGINT micro-cosines, vec_id tiebreaks) is load-bearing — assert
    the full result is BIT-IDENTICAL between this session (local[8],
    shuffle=8) and a fresh local[3]/shuffle=3 session, where group-to-
    task placement and intra-group row order both differ."""
    import subprocess
    import sys

    from hbase_hadoop_flightsearch_spark.operators.similarity import (
        similarity_mmr_rerank,
    )

    here = sorted(map(tuple, similarity_mmr_rerank(spark, sf_smoke).collect()))
    child = (
        "import sys\n"
        "sys.path.insert(0, '/root/repo')\n"
        "from pyspark.sql import SparkSession\n"
        "from hbase_hadoop_flightsearch_spark.operators.similarity import "
        "similarity_mmr_rerank\n"
        "spark = (SparkSession.builder.master('local[3]')"
        ".config('spark.sql.shuffle.partitions', '3')"
        ".config('spark.ui.enabled', 'false')"
        ".config('spark.sql.session.timeZone', 'UTC').getOrCreate())\n"
        f"rows = sorted(map(tuple, similarity_mmr_rerank(spark, {sf_smoke!r})"
        ".collect()))\n"
        "print(repr(rows))\n"
        "spark.stop()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", child],
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    )
    there = eval(out.stdout.strip().splitlines()[-1])  # repr of row tuples
    assert here == there


def test_lsh_signature_cross_engine_sign_parity(spark, sf_correctness):
    """The r8 full-value LSH oracle rests on Spark's fold-order dot
    products matching DuckDB's list_reduce sign-for-sign. Pin the full
    corpus signature matrix across engines."""
    import duckdb

    from pyspark.sql import functions as F

    from hbase_hadoop_flightsearch_spark.operators.similarity import (
        LSH_PLANES,
        _embeddings,
        _hyperplanes,
        _lsh_signature,
    )

    planes = _hyperplanes(LSH_PLANES, 64)
    sig = _lsh_signature(F.col("v"), planes)
    got = {
        r["vec_id"]: list(r["sig"])
        for r in _embeddings(spark, sf_correctness)
        .select("vec_id", sig.alias("sig"))
        .collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM"
        f" read_parquet('{sf_correctness}/embeddings.parquet')"
    )
    vals = ", ".join(f"({p}, {planes[p]!r})" for p in range(LSH_PLANES))
    want = dict(
        con.execute(f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
        planes(p, w) AS (VALUES {vals}),
        dots AS (
          SELECT e.vec_id, pl.p,
            CASE WHEN list_reduce(list_transform(range(1, 65),
                                                 i -> e.v[i] * pl.w[i]),
                                  (s, x) -> s + x) > 0
                 THEN 1 ELSE 0 END AS bit
          FROM e, planes pl
        )
        SELECT vec_id, list(bit ORDER BY p) FROM dots GROUP BY vec_id
        """).fetchall()
    )
    assert got == {k: list(v) for k, v in want.items()}


def test_seq_sum_is_sequential_fold():
    """The r9 full-value IVF/PQ oracles rest on every driver-side
    reduction being a strict left-to-right 0.0-seeded sequential fold
    (so Lloyd training is bit-identical to DuckDB's list_reduce replay).
    _seq_sum is now an explicit loop fold (ADVICE r9 — no dependency on
    np.cumsum internals); pin that it equals the scalar fold on
    magnitude-diverse operands where pairwise summation WOULD diverge."""
    import random

    import numpy as np

    from hbase_hadoop_flightsearch_spark.operators.similarity import (
        _seq_sum,
    )

    rng = random.Random(0x17F)
    for _ in range(50):
        n = rng.randint(3, 257)
        vals = [
            rng.uniform(-1.0, 1.0) * 10.0 ** rng.randint(-6, 6)
            for _ in range(n)
        ]
        arr = np.array(vals, dtype=np.float64)
        s = 0.0
        for x in vals:
            s = s + x
        assert float(_seq_sum(arr)) == s
    # the 2-D axis forms _ivf_centroids actually uses
    m = np.array(
        [[rng.uniform(-1, 1) * 10.0 ** rng.randint(-3, 3) for _ in range(8)]
         for _ in range(9)]
    )
    for row in m:
        s = 0.0
        for x in row.tolist():
            s = s + x
        assert float(_seq_sum(row)) == s
    col_seq = [0.0] * 8
    for row in m.tolist():
        col_seq = [a + b for a, b in zip(col_seq, row)]
    assert [float(v) for v in _seq_sum(m, axis=0)] == col_seq


def test_listreduce_fold_parity():
    """DuckDB list_reduce seeds with the FIRST element; Python/Spark folds
    seed with 0.0. They agree because 0.0 + x == x exactly in IEEE 754 —
    pin that equivalence on magnitude-diverse operands."""
    import random

    import duckdb

    rng = random.Random(1742)
    vals = [
        rng.uniform(-1.0, 1.0) * 10.0 ** rng.randint(-6, 6)
        for _ in range(64)
    ]
    got = duckdb.connect().execute(
        f"SELECT list_reduce({vals!r}, (s, x) -> s + x)"
    ).fetchone()[0]
    s = 0.0
    for x in vals:
        s = s + x
    assert got == s


def test_ivf_centroids_cross_engine_parity(spark, sf_correctness):
    """The full-value IVF oracle re-derives the trained quantizer in SQL;
    pin the 32x64 centroid matrix itself across engines so a future
    drift in either training replay fails HERE (localized) rather than
    as an opaque neighbor-list hash mismatch."""
    import duckdb

    from hbase_hadoop_flightsearch_spark.operators.similarity import (
        _embeddings,
        _ivf_centroids,
    )

    got = {
        r["cent_id"]: list(r["cv"])
        for r in _ivf_centroids(
            spark, _embeddings(spark, sf_correctness)
        ).collect()
    }

    from hbase_hadoop_flightsearch_spark.operators.similarity import (
        _ivf_training_sql,
    )

    training, final = _ivf_training_sql()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM"
        f" read_parquet('{sf_correctness}/embeddings.parquet')"
    )
    want = dict(
        con.execute(f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),{training}
SELECT cent_id, cv FROM {final}
        """).fetchall()
    )
    assert got == {k: list(v) for k, v in want.items()}


def test_ivfpq_recall_vs_bruteforce(spark, sf_correctness):
    """The composed IVFADC recall floor moved from the retired flag
    oracle to a test contract when similarity_ann_ivfpq gained its full
    value oracle (r9). Floor = IVF cell recall x PQ shortlist recall."""
    from hbase_hadoop_flightsearch_spark.operators.similarity import (
        IVFPQ_RECALL_FLOOR,
        similarity_ann_ivfpq,
    )

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity_knn_bruteforce(spark, sf_correctness).collect()
    }
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity_ann_ivfpq(spark, sf_correctness).collect()
    }
    recall = len(exact & got) / len(exact)
    assert recall >= IVFPQ_RECALL_FLOOR, recall


def test_pq_codebook_cross_engine_parity(spark, sf_correctness):
    """Pin the trained PQ codebook itself across engines (the analogue
    of test_ivf_centroids_cross_engine_parity) so drift in either
    training replay fails here, localized, rather than as an opaque
    neighbor-list hash mismatch in the PQ/IVFPQ oracles."""
    import duckdb

    from hbase_hadoop_flightsearch_spark.operators.similarity import (
        _embeddings,
        _pq_codebook,
        _pq_training_sql,
    )

    book = _pq_codebook(_embeddings(spark, sf_correctness))
    got = {
        (m, c): [float(x) for x in book[m, c]]
        for m in range(book.shape[0])
        for c in range(book.shape[1])
    }

    training, final = _pq_training_sql()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM"
        f" read_parquet('{sf_correctness}/embeddings.parquet')"
    )
    want = {
        (m, c): list(cw)
        for m, c, cw in con.execute(f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),{training}
SELECT m, c, cw FROM {final}
        """).fetchall()
    }
    assert got == want


# --- the shared building blocks, on tiny in-memory inputs ---------------


def test_exact_topk_ties_bound_and_ranks(spark):
    """_exact_topk, the one exact re-rank behind every top-k tier: equal
    cosines rank by the lower neighbor_id, a query keeps at most KNN_K
    rows, and rn runs 1..k."""
    from hbase_hadoop_flightsearch_spark.operators.similarity import (
        KNN_K,
        _exact_topk,
    )

    assert KNN_K == 5
    # query 0: six neighbors exactly parallel to it (cosine 1.0 whatever
    # the length), listed out of id order, plus one at 45 degrees
    rows = [(0, [1.0, 0.0], n, [float(n), 0.0]) for n in (9, 3, 7, 5, 1, 6)]
    rows.append((0, [1.0, 0.0], 2, [1.0, 1.0]))
    # query 1: only two candidates, so fewer than KNN_K rows
    rows += [(1, [0.0, 1.0], 8, [1.0, 1.0]), (1, [0.0, 1.0], 4, [0.0, 2.0])]
    pairs = spark.createDataFrame(
        rows,
        "query_id bigint, qv array<double>, neighbor_id bigint, "
        "v array<double>",
    )
    got = [
        tuple(r)
        for r in _exact_topk(pairs).orderBy("query_id", "rn").collect()
    ]
    assert got == [
        (0, 1, 1.0, 1),
        (0, 3, 1.0, 2),
        (0, 5, 1.0, 3),
        (0, 6, 1.0, 4),
        (0, 7, 1.0, 5),
        (1, 4, 1.0, 1),
        (1, 8, 0.707107, 2),
    ]


def test_nearest_cells_tie_goes_to_lowest_cent_id(spark):
    """Two centroids at the same cosine from a vector: the home cell is
    the lower cent_id, and a 2-cell probe returns both."""
    from hbase_hadoop_flightsearch_spark.operators.similarity import (
        _nearest_cells,
    )

    cents = spark.createDataFrame(
        [(5, [1.0, 0.0]), (0, [0.0, 1.0]), (2, [4.0, 0.0])],
        "cent_id int, cv array<double>",
    )
    df = spark.createDataFrame(
        [(10, [3.0, 0.0]), (11, [0.0, 7.0])], "vec_id bigint, v array<double>"
    )
    home = {
        r.vec_id: r.cent_id
        for r in _nearest_cells(df, cents, "vec_id", "v", 1).collect()
    }
    assert home == {10: 2, 11: 0}
    two = _nearest_cells(df, cents, "vec_id", "v", 2).filter("vec_id = 10")
    assert sorted(r.cent_id for r in two.collect()) == [2, 5]
    assert two.columns == ["vec_id", "v", "cent_id"]


def test_lloyd_empty_cell_keeps_its_centroid():
    """A Lloyd cell that no row picks keeps its centroid (no NaN from an
    empty mean). Duplicate seed rows make cell 1 tie with cell 0 on every
    row, and the tie goes to cell 0, so cell 1 stays empty."""
    import numpy as np

    from hbase_hadoop_flightsearch_spark.operators.similarity import _lloyd

    mat = np.array([[2.0, 2.0], [2.0, 2.0], [8.0, 8.0], [9.0, 8.0]])
    cents = _lloyd(mat, 3, 4)
    assert cents.tolist() == [[2.0, 2.0], [2.0, 2.0], [8.5, 8.0]]
    assert mat.tolist()[0] == [2.0, 2.0]  # the input is not modified


def test_banded_pairs_emit_each_pair_once(spark):
    """_banded_pairs keeps a join row only in the first band whose hit
    holds: a pair colliding in three bands comes out once, a Hamming-1
    multi-probe hit comes out once, and a bipartite call (the probe
    frame is not the index frame) applies no id orientation."""
    from pyspark.sql import functions as F

    from hbase_hadoop_flightsearch_spark.operators.similarity import (
        _banded_pairs,
        _lsh_pairs,
    )

    def key(s, b):  # band b = elements 2b, 2b + 1
        return F.xxhash64(F.lit(b), F.slice(s, 2 * b + 1, 2))

    schema = "id bigint, sig array<int>"
    # 1 and 2 agree in bands 0, 1 and 3; 3 agrees with nobody
    docs = spark.createDataFrame(
        [
            (1, [1, 2, 3, 4, 5, 6, 7, 8]),
            (2, [1, 2, 3, 4, 0, 0, 7, 8]),
            (3, [9, 9, 9, 9, 9, 9, 9, 9]),
        ],
        schema,
    )

    def pairs(df):
        return sorted((r.id1, r.id2) for r in df.collect())

    assert pairs(_banded_pairs(docs, docs, "id", "sig", 4, key)) == [(1, 2)]

    # 2 bands of 3 bits: 10 and 11 differ by one bit in band 0 and agree
    # in band 1; 11 and 12 differ by one bit in band 0 only; 10 and 12
    # differ by two bits in each band
    vecs = spark.createDataFrame(
        [(10, [0.0], 0b000000), (11, [0.0], 0b000001), (12, [0.0], 0b011011)],
        "vec_id bigint, v array<double>, sig bigint",
    )
    got = sorted(
        (r.vec_id1, r.vec_id2) for r in _lsh_pairs(vecs, vecs, 2, 3).collect()
    )
    assert got == [(10, 11), (11, 12)]

    probe = spark.createDataFrame(
        [(5, [1, 2, 3, 4, 0, 0, 0, 0]), (1, [1, 2, 3, 4, 5, 6, 7, 8])], schema
    )
    assert pairs(_banded_pairs(docs, probe, "id", "sig", 4, key)) == [
        (1, 1),
        (1, 2),
        (5, 1),
        (5, 2),
    ]
