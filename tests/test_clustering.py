"""K-means contracts for the registered quantized Lloyd's: exact agreement
with a sequential NumPy replay of the same integer algorithm, monotone
integer inertia, and variance explained on the synthetic embeddings."""

from __future__ import annotations

import numpy as np

from hbase_hadoop_flightsearch_spark.operators.clustering import (
    KMEANS_ITERS,
    KMEANS_K,
    KMEANS_Q,
    _kmeans_assign_q,
    kmeans_fit_quantized,
)
from hbase_hadoop_flightsearch_spark.operators.similarity import _embeddings

SF = "/root/testdata/sf0.01"


def _numpy_reference(Xq: np.ndarray, k: int, iters: int) -> tuple:
    """Same integer algorithm, single process: k lowest-id init, argmin
    (first-min tie-break), floored integer means, empty clusters keep
    their centroid. Returns (centroids, per-iteration inertia)."""
    C = Xq[:k].copy()
    history = []
    for _ in range(iters):
        d2 = ((Xq[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        cl = d2.argmin(axis=1)
        history.append(int(d2[np.arange(len(cl)), cl].sum()))
        for j in range(k):
            if (cl == j).any():
                C[j] = Xq[cl == j].sum(axis=0) // (cl == j).sum()
    return C, history


def _quantized_corpus(spark) -> np.ndarray:
    rows = _embeddings(spark, SF).orderBy("vec_id").collect()
    X = np.array([r["v"] for r in rows], dtype=np.float64)
    return np.floor(X * KMEANS_Q).astype(np.int64)


def test_kmeans_matches_numpy_reference_and_converges(spark):
    centroids, history = kmeans_fit_quantized(spark, SF)
    C_ref, h_ref = _numpy_reference(
        _quantized_corpus(spark), KMEANS_K, KMEANS_ITERS
    )
    # Integer arithmetic end to end: the distributed fit IS the replay.
    assert np.array_equal(centroids, C_ref)
    assert history == h_ref
    # The integer inertia never increases, and it actually improves.
    assert all(b <= a for a, b in zip(history, history[1:])), history
    assert history[-1] < history[0]


def test_kmeans_explains_variance(spark):
    # The synthetic embeddings carry labels that are INDEPENDENT of the
    # vector geometry (measured: same-label and cross-label mean sqdist
    # are both ~2.0), so label recovery is not a valid oracle. What k-means
    # must still do on any data: beat the single-centroid baseline (total
    # sum of squares around the global mean) and use all k clusters.
    centroids, _ = kmeans_fit_quantized(spark, SF)
    Xq = _quantized_corpus(spark)
    tss = float(((Xq - Xq.mean(axis=0)) ** 2).sum())
    assigned = _kmeans_assign_q(_embeddings(spark, SF), centroids).toPandas()
    final = int(assigned["d2"].sum())
    assert final < 0.95 * tss, (final, tss)
    sizes = assigned.groupby("cluster").size()
    assert len(sizes) == KMEANS_K and sizes.sum() == len(Xq)
    assert (sizes > 0).all()


def test_kmeans_quantized_matches_sequential_numpy(spark):
    """The registered ml_kmeans_clusters (quantized Lloyd's) must agree
    EXACTLY with a sequential NumPy replay of the same integer algorithm
    — populations, integer inertia, and centroid checksums."""
    from hbase_hadoop_flightsearch_spark.plans.registry import load_all

    Xq = _quantized_corpus(spark)
    C, _ = _numpy_reference(Xq, KMEANS_K, KMEANS_ITERS)
    d2 = ((Xq[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    cl = d2.argmin(axis=1)
    want = {
        int(j): (
            int((cl == j).sum()),
            int(d2[cl == j, j].sum()),
            int(C[j].sum()),
        )
        for j in range(KMEANS_K)
        if (cl == j).any()
    }
    pdf = load_all()["ml_kmeans_clusters"].fn(spark, SF).toPandas()
    got = {
        int(r.cluster): (
            int(r.n_points),
            int(r.inertia_q),
            int(r.centroid_checksum),
        )
        for r in pdf.itertuples()
    }
    assert got == want
    assert sum(v[0] for v in got.values()) == len(Xq)


def test_pca_gram_matches_numpy_and_eigsolve_is_exact(spark, sf_correctness):
    """The distributed Gram/sums/n must equal the single-machine NumPy
    computation to float tolerance, and the top component must match
    np.linalg.eigh on the locally-built covariance (eigenvalue rel 1e-9,
    |cos| of eigenvectors ~ 1)."""
    from hbase_hadoop_flightsearch_spark.operators.clustering import (
        gram_stats,
        pca_top_component,
    )

    emb = _embeddings(spark, sf_correctness)
    X = np.stack([r.v for r in emb.orderBy("vec_id").collect()])
    G, sums, n = gram_stats(emb)
    assert n == len(X)
    np.testing.assert_allclose(G, X.T @ X, rtol=1e-9, atol=1e-9)
    np.testing.assert_allclose(sums, X.sum(axis=0), rtol=1e-9, atol=1e-9)

    mu = X.mean(axis=0)
    cov = ((X.T @ X) - n * np.outer(mu, mu)) / (n - 1)
    w, V = np.linalg.eigh(cov)
    stats = pca_top_component(emb)
    assert abs(stats["eigenvalue"] - w[-1]) <= 1e-9 * max(w[-1], 1e-12)
    assert stats["residual"] <= 1e-10 * np.trace(cov)


def test_linear_regression_matches_numpy(spark, sf_smoke):
    """Per-group OLS must agree with numpy.polyfit on the same rows."""
    import numpy as np

    from hbase_hadoop_flightsearch_spark.operators.clustering import (
        ml_linear_regression,
    )
    from hbase_hadoop_flightsearch_spark.sources.catalog import load_table

    got = {
        r.l_returnflag: (r.slope, r.intercept)
        for r in ml_linear_regression(spark, sf_smoke).collect()
    }
    li = load_table(spark, sf_smoke, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    ).collect()
    by_flag: dict[str, list] = {}
    for r in li:
        by_flag.setdefault(r.l_returnflag, []).append(
            (r.l_quantity, r.l_extendedprice)
        )
    for flag, pts in by_flag.items():
        x = np.array([p[0] for p in pts])
        y = np.array([p[1] for p in pts])
        slope, intercept = np.polyfit(x, y, 1)
        gs, gi = got[flag]
        assert abs(gs - slope) < 1e-3 * max(abs(slope), 1), flag
        assert abs(gi - intercept) < 1e-2 * max(abs(intercept), 1), flag


def test_pca_fixed_sweep_jacobi_converges_to_eigh(spark, sf_correctness):
    """The r10 value-oracle eigensolve DEFINES its output as the
    8-sweep parallel-ordered Jacobi diagonal — this test pins that the
    fixed sweep count EARNS the name 'top component': the sorted
    diagonal must match np.linalg.eigvalsh of the same quantized
    scatter matrix to ~1e-12 relative, and the off-diagonal residual
    must be negligible. (Convergence is what the oracle deliberately
    does NOT check — it replays the same fixed trajectory either way.)"""
    from hbase_hadoop_flightsearch_spark.operators.clustering import (
        PCA_DIM,
        _pca_parallel_jacobi,
        _pca_quant_gram,
    )

    emb = _embeddings(spark, sf_correctness)
    G, sums, n = _pca_quant_gram(emb)
    d = PCA_DIM
    A0 = [
        n * G[i * d + j] - sums[i] * sums[j]
        for i in range(d)
        for j in range(d)
    ]
    Af = _pca_parallel_jacobi(A0)
    diag = np.sort(np.diag(Af))
    ref = np.sort(np.linalg.eigvalsh(np.array(A0).reshape(d, d) / 1.0))
    np.testing.assert_allclose(diag, ref, rtol=1e-12, atol=abs(ref).max() * 1e-12)
    off = Af - np.diag(np.diag(Af))
    assert np.abs(off).max() <= 1e-12 * np.abs(ref).max()


def test_pca_quantized_top_eig_near_float_path(spark, sf_correctness):
    """Quantization sanity: the Q=2^12 integer-exact top eigenvalue
    (scaled back to covariance units) must sit within ~1e-4 relative of
    the float library path's eigh top eigenvalue — the quantization is
    an oracle-parity device, not a semantics change."""
    from hbase_hadoop_flightsearch_spark.operators.clustering import (
        ml_pca_top_component,
        pca_top_component,
    )

    emb = _embeddings(spark, sf_correctness)
    float_stats = pca_top_component(emb)
    row = ml_pca_top_component(spark, sf_correctness).collect()[0]
    rel = abs(row.top_eig_cov - float_stats["eigenvalue"]) / float_stats[
        "eigenvalue"
    ]
    assert rel < 1e-4, rel
    assert 0.0 < row.explained_ratio <= 1.0
    assert row.top_eig_cov >= row.second_eig_cov > 0.0


def test_pca_round_robin_schedule_is_valid(spark):
    """The circle-method schedule must be a perfect matching each round
    and cover ALL C(64,2) pivot pairs exactly once across 63 rounds —
    the property that makes 8 'sweeps' genuinely cyclic Jacobi."""
    from hbase_hadoop_flightsearch_spark.operators.clustering import (
        _pca_partner_list,
    )

    seen = set()
    for r in range(63):
        pl = _pca_partner_list(r)
        for i in range(64):
            assert pl[pl[i]] == i and pl[i] != i  # involution, no fixpoint
        pairs = {(min(i, pl[i]), max(i, pl[i])) for i in range(64)}
        assert len(pairs) == 32  # perfect matching
        assert not (pairs & seen)  # never repeats a pair
        seen |= pairs
    assert len(seen) == 64 * 63 // 2


def test_pca_jacobi_property_random_symmetric(spark):
    """Property: the fixed-8-sweep parallel-ordered Jacobi must
    diagonalize ARBITRARY 64x64 integer symmetric matrices (not just
    the fixtures' scatter shapes) to numpy eigvalsh agreement — the
    engine is a general eigensolver, and the schedule/two-phase update
    must not depend on PSD-ness, magnitude, or sign structure."""
    import numpy as np

    from hbase_hadoop_flightsearch_spark.operators.clustering import (
        PCA_DIM,
        _pca_parallel_jacobi,
    )

    rng = np.random.default_rng(0xA11CE)
    for scale in (1, 10**6, 10**12):
        M = rng.integers(-scale, scale, size=(PCA_DIM, PCA_DIM))
        A = (M + M.T) // 2  # integer symmetric
        Af = _pca_parallel_jacobi([int(x) for x in A.ravel()])
        diag = np.sort(np.diag(Af))
        ref = np.sort(np.linalg.eigvalsh(A.astype(np.float64)))
        denom = max(abs(ref).max(), 1.0)
        np.testing.assert_allclose(
            diag / denom, ref / denom, rtol=0, atol=1e-10
        )
        off = Af - np.diag(np.diag(Af))
        assert np.abs(off).max() <= 1e-9 * denom
