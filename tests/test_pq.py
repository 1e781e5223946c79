"""Product quantization: joint subspace training, encode, ADC top-k."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparksketch.pq import adc_table, pq_encode, pq_topk, pq_train

M_SUB, K, DSUB = 4, 4, 4
DIM = M_SUB * DSUB


def _representable(spark, n=300, seed=3, parts=3):
    """Corpus whose vectors ARE concatenations of k atoms per subspace —
    the analytic ground truth: perfect training reaches zero quantization
    error and ADC equals the exact squared distance."""
    rng = np.random.default_rng(seed)
    atoms = rng.normal(size=(M_SUB, K, DSUB)).astype(np.float32)
    choice = rng.integers(0, K, size=(n, M_SUB))
    vecs = np.concatenate([atoms[j, choice[:, j]] for j in range(M_SUB)], axis=1)
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    return df.repartition(parts), vecs


def test_pq_train_monotone_and_exact_on_representable(spark):
    df, _ = _representable(spark)
    model = pq_train(df, "embedding", m_sub=M_SUB, k=K, iters=8, seed=3)
    assert model.n == 300
    assert model.monotone()
    # representable corpus => Lloyd converges to the atoms, zero error
    assert model.costs[-1] < 1e-6


def test_pq_adc_equals_exact_distance_on_representable(spark):
    df, vecs = _representable(spark)
    model = pq_train(df, "embedding", m_sub=M_SUB, k=K, iters=8, seed=3)
    enc = pq_encode(df, "embedding", model).cache()
    assert enc.count() == 300
    q = vecs[7]
    top = pq_topk(enc, "vec_id", model, q, k=5)
    exact = np.sum((vecs - q) ** 2, axis=1)
    order = np.argsort(exact, kind="stable")[:5]
    assert [i for i, _ in top] == [int(i) for i in order]
    for (_, d), i in zip(top, order):
        assert abs(d - float(exact[i])) < 1e-4


def test_pq_decode_roundtrip_on_representable(spark):
    df, vecs = _representable(spark)
    model = pq_train(df, "embedding", m_sub=M_SUB, k=K, iters=8, seed=3)
    enc = pq_encode(df, "embedding", model)
    rows = sorted(enc.collect(), key=lambda r: r.vec_id)
    codes = np.array([list(r.pq_code) for r in rows], dtype=np.uint8)
    rec = model.decode(codes)
    assert np.allclose(rec, vecs, atol=1e-5)


def test_pq_code_is_m_sub_bytes(spark):
    df, _ = _representable(spark)
    model = pq_train(df, "embedding", m_sub=M_SUB, k=K, iters=4, seed=3)
    lengths = (pq_encode(df, "embedding", model)
               .select(F.length("pq_code").alias("l")).distinct().collect())
    assert [r.l for r in lengths] == [M_SUB]


def test_pq_deterministic_for_fixed_partitioning(spark):
    df, _ = _representable(spark)
    a = pq_train(df, "embedding", m_sub=M_SUB, k=K, iters=4, seed=3)
    b = pq_train(df, "embedding", m_sub=M_SUB, k=K, iters=4, seed=3)
    assert np.array_equal(a.codebooks, b.codebooks)
    assert a.costs == b.costs


def test_pq_recall_on_noisy_corpus(spark):
    """Non-representable data: ADC top-10 must still largely agree with the
    exact top-10 (16^4 cells over 300 clustered points)."""
    rng = np.random.default_rng(9)
    base = rng.normal(size=(20, DIM)).astype(np.float32)
    vecs = (base[np.arange(300) % 20] +
            0.1 * rng.normal(size=(300, DIM)).astype(np.float32))
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(3)
    model = pq_train(df, "embedding", m_sub=M_SUB, k=8, iters=8, seed=3)
    enc = pq_encode(df, "embedding", model).cache()
    q = vecs[0]
    top = {i for i, _ in pq_topk(enc, "vec_id", model, q, k=10)}
    exact = np.sum((vecs - q) ** 2, axis=1)
    true10 = set(np.argsort(exact, kind="stable")[:10].tolist())
    assert len(top & true10) >= 6


def test_pq_rerank_full_shortlist_is_exact(spark):
    """Two-stage query with shortlist == n degenerates to exact search:
    the rerank stage must return the true top-k regardless of code quality."""
    from sparksketch.pq import pq_topk_rerank
    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(200, DIM)).astype(np.float32)
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(3)
    model = pq_train(df, "embedding", m_sub=M_SUB, k=4, iters=2, seed=3)
    enc = pq_encode(df, "embedding", model).cache()
    q = vecs[42]
    got = pq_topk_rerank(enc, "embedding", "vec_id", model, q,
                         k=10, shortlist=200).collect()
    exact = np.sum((vecs.astype(np.float64) - q.astype(np.float64)) ** 2, axis=1)
    order = np.argsort(exact, kind="stable")[:10]
    assert [r.vec_id for r in got] == [int(i) for i in order]
    for r, i in zip(got, order):
        assert abs(r.dist - float(exact[i])) < 1e-9


def test_pq_validation_errors(spark):
    df, _ = _representable(spark)
    with pytest.raises(ValueError, match="not divisible"):
        pq_train(df, "embedding", m_sub=5, k=4, iters=1)
    with pytest.raises(ValueError, match="uint8"):
        pq_train(df, "embedding", m_sub=4, k=300, iters=1)


def test_codes_matrix_rejects_non_binary_codes():
    """Codes are read through int32 offsets, so a large_binary column (int64
    offsets) must raise instead of being misread."""
    import pyarrow as pa

    from sparksketch.pq import _codes_matrix

    codes = [b"\x01\x02", b"\x03\x04"]
    assert _codes_matrix(pa.array(codes, pa.binary()), 2).tolist() == [[1, 2], [3, 4]]
    with pytest.raises(ValueError, match="binary"):
        _codes_matrix(pa.array(codes, pa.large_binary()), 2)
    with pytest.raises(ValueError, match="binary"):
        _codes_matrix(pa.chunked_array([pa.array(codes, pa.large_binary())]), 2)


def test_pq_adc_table_matches_bruteforce(spark):
    df, vecs = _representable(spark)
    model = pq_train(df, "embedding", m_sub=M_SUB, k=K, iters=4, seed=3)
    q = vecs[11]
    table = adc_table(model, q)
    for j in range(M_SUB):
        sub = q[j * DSUB : (j + 1) * DSUB]
        d = np.sum((model.codebooks[j] - sub) ** 2, axis=1)
        assert np.allclose(table[j], d, atol=1e-5)


def test_pq_partials_zero_shuffle(spark):
    """The per-iteration joint-subspace statistics pass must plan as
    input -> MapInArrow with no Exchange (the partial/final contract)."""
    from sparksketch.pq import _pq_partials_frame
    from sparksketch.plans import plan_digest

    rows = [(i, [float(i)] * DIM) for i in range(32)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    proj = df.select(F.col("embedding").alias("_v"))
    books = np.zeros((M_SUB, K, DSUB), dtype=np.float32)
    digest = plan_digest(_pq_partials_frame(proj, books, DSUB))
    assert digest.n_python_evals == 1
    assert digest.n_exchanges == 0


# ====================================================================
# IVFPQ: coarse L2 quantizer + residual codes + list-pruned ADC
# ====================================================================

N_LISTS = 4


def _clustered(spark, n=240, seed=13, parts=3, spread=0.0):
    """Well-separated planted clusters: vecs = 10·center[g] + atom — the
    residuals are EXACTLY representable, so IVFPQ training reaches zero
    error and pruned ADC telescopes to the exact squared L2."""
    rng = np.random.default_rng(seed)
    centers = (10.0 * rng.normal(size=(N_LISTS, DIM))).astype(np.float32)
    atoms = rng.normal(size=(M_SUB, K, DSUB)).astype(np.float32)
    g = rng.integers(0, N_LISTS, size=n)
    choice = rng.integers(0, K, size=(n, M_SUB))
    res = np.concatenate([atoms[j, choice[:, j]] for j in range(M_SUB)], axis=1)
    vecs = centers[g] + res
    if spread:
        vecs = vecs + spread * rng.normal(size=vecs.shape).astype(np.float32)
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    return df.repartition(parts), vecs.astype(np.float32), centers, g


def test_ivfpq_full_probe_equals_exact_on_representable(spark):
    from sparksketch.pq import ivfpq_topk
    df, vecs, centers, g = _clustered(spark)
    model = pq_train(df, "embedding", m_sub=M_SUB, k=K, iters=8, seed=3,
                     coarse=centers)
    assert model.monotone() and model.costs[-1] < 1e-4
    enc = pq_encode(df, "embedding", model, coarse=centers,
                    keep=["vec_id"]).cache()
    # assignment recovers the planted cluster (centers are well separated)
    got_lists = {r.vec_id: r.ivf_list for r in enc.collect()}
    assert all(got_lists[i] == int(g[i]) for i in range(len(g)))
    q = vecs[5]
    top = ivfpq_topk(enc, "vec_id", model, centers, q, k=5, n_probe=N_LISTS)
    exact = np.sum((vecs.astype(np.float64) - q.astype(np.float64)) ** 2, axis=1)
    order = np.argsort(exact, kind="stable")[:5]
    assert [i for i, _ in top] == [int(i) for i in order]
    for (_, d), i in zip(top, order):
        assert abs(d - float(exact[i])) < 1e-3


def test_ivfpq_prune_scans_only_probed_lists(spark):
    from sparksketch.pq import ivfpq_topk
    df, vecs, centers, g = _clustered(spark)
    model = pq_train(df, "embedding", m_sub=M_SUB, k=K, iters=6, seed=3,
                     coarse=centers)
    enc = pq_encode(df, "embedding", model, coarse=centers,
                    keep=["vec_id"]).cache()
    q = vecs[17]
    home = int(np.argmin(np.sum((centers - q) ** 2, axis=1)))
    top = ivfpq_topk(enc, "vec_id", model, centers, q, k=10, n_probe=1)
    members = {int(i) for i in np.flatnonzero(g == home)}
    assert {i for i, _ in top} <= members
    # and the query's own vector is retrieved first (dist == its quant err)
    assert top[0][0] == 17


def test_ivfpq_rerank_full_probe_full_shortlist_is_exact(spark):
    from sparksketch.pq import ivfpq_topk_rerank
    df, vecs, centers, _ = _clustered(spark, spread=0.5)
    model = pq_train(df, "embedding", m_sub=M_SUB, k=4, iters=3, seed=3,
                     coarse=centers)
    enc = pq_encode(df, "embedding", model, coarse=centers).cache()
    q = vecs[42]
    got = ivfpq_topk_rerank(enc, "embedding", "vec_id", model, centers, q,
                            k=10, n_probe=N_LISTS, shortlist=240).collect()
    exact = np.sum((vecs.astype(np.float64) - q.astype(np.float64)) ** 2, axis=1)
    order = np.argsort(exact, kind="stable")[:10]
    assert [r.vec_id for r in got] == [int(i) for i in order]


def test_coarse_centroids_l2_recovers_planted_and_deterministic(spark):
    from sparksketch.pq import coarse_centroids_l2
    df, _, centers, _ = _clustered(spark)
    a = coarse_centroids_l2(df, "embedding", n_lists=N_LISTS, seed=11)
    b = coarse_centroids_l2(df, "embedding", n_lists=N_LISTS, seed=11)
    assert np.array_equal(a, b)
    # every planted center has a learned centroid nearby (clusters are
    # 10·N(0,1) apart; within-cluster spread is the unit-atom scale)
    for c in centers:
        d = np.sqrt(np.min(np.sum((a.astype(np.float64) - c) ** 2, axis=1)))
        assert d < 3.0


def test_ivfpq_partitioned_table_prunes(spark, tmp_path):
    """partitionBy(ivf_list) + the probe's isin filter = PartitionFilters
    pruning: the 100-TB path scans n_probe/n_lists of the files."""
    from sparksketch.pq import ivfpq_topk
    df, vecs, centers, g = _clustered(spark)
    model = pq_train(df, "embedding", m_sub=M_SUB, k=K, iters=4, seed=3,
                     coarse=centers)
    target = str(tmp_path / "ivfpq_codes")
    (pq_encode(df, "embedding", model, coarse=centers, keep=["vec_id"])
     .write.partitionBy("ivf_list").parquet(target))
    codes = spark.read.parquet(target)
    q = vecs[3]
    home = int(np.argmin(np.sum((centers - q) ** 2, axis=1)))
    pruned = codes.filter(F.col("ivf_list").isin([home]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "ivf_list" in plan
    top = ivfpq_topk(codes, "vec_id", model, centers, q, k=5, n_probe=1)
    assert top and top[0][0] == 3


def test_ivfpq_knn_join_full_probe_matches_exact_on_representable(spark):
    from sparksketch.pq import ivfpq_knn_join
    df, vecs, centers, _ = _clustered(spark)
    model = pq_train(df, "embedding", m_sub=M_SUB, k=K, iters=8, seed=3,
                     coarse=centers)
    enc = pq_encode(df, "embedding", model, coarse=centers,
                    keep=["vec_id"]).cache()
    queries = df.filter(F.col("vec_id") < 20)
    got = ivfpq_knn_join(enc, "vec_id", model, centers, queries,
                         k=5, n_probe=N_LISTS).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.q_id, []).append((r.nb_id, r.dist))
    X = vecs.astype(np.float64)
    for qi in range(20):
        exact = np.sum((X - X[qi]) ** 2, axis=1)
        order = np.lexsort((np.arange(len(exact)), exact))[:5]
        assert [i for i, _ in by_q[qi]] == [int(i) for i in order]
        for (_, d), i in zip(by_q[qi], order):
            assert abs(d - float(exact[i])) < 1e-3
        assert by_q[qi][0][0] == qi  # self at rank 1, dist 0


def test_ivfpq_knn_join_agrees_with_single_query_topk(spark):
    from sparksketch.pq import ivfpq_knn_join, ivfpq_topk
    df, vecs, centers, _ = _clustered(spark, spread=0.5)
    model = pq_train(df, "embedding", m_sub=M_SUB, k=8, iters=5, seed=3,
                     coarse=centers)
    enc = pq_encode(df, "embedding", model, coarse=centers,
                    keep=["vec_id"]).cache()
    queries = df.filter(F.col("vec_id").isin([3, 57, 101]))
    got = ivfpq_knn_join(enc, "vec_id", model, centers, queries,
                         k=7, n_probe=2).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.q_id, []).append((r.nb_id, r.dist))
    for qi in (3, 57, 101):
        single = ivfpq_topk(enc, "vec_id", model, centers, vecs[qi],
                            k=7, n_probe=2)
        # same ids in the same order; dists agree to float32-path tolerance
        # (the join builds its tables via the ||q||²−2qc+||c||² expansion,
        # the single-query path via the direct (q−c)² — not bit-identical)
        assert [i for i, _ in by_q[qi]] == [i for i, _ in single]
        for (_, a), (_, b) in zip(by_q[qi], single):
            assert abs(a - b) < 1e-4 * max(1.0, abs(b))


def test_ivfpq_knn_join_prune_subset_and_validation(spark):
    import pytest as _pt
    from sparksketch.pq import ivfpq_knn_join
    df, vecs, centers, g = _clustered(spark)
    model = pq_train(df, "embedding", m_sub=M_SUB, k=K, iters=4, seed=3,
                     coarse=centers)
    enc = pq_encode(df, "embedding", model, coarse=centers,
                    keep=["vec_id"]).cache()
    queries = df.filter(F.col("vec_id") < 8)
    got = ivfpq_knn_join(enc, "vec_id", model, centers, queries,
                         k=10, n_probe=1).collect()
    for r in got:
        home = int(np.argmin(np.sum((centers - vecs[r.q_id]) ** 2, axis=1)))
        assert g[r.nb_id] == home
    dup = queries.union(queries)
    with _pt.raises(ValueError, match="unique"):
        ivfpq_knn_join(enc, "vec_id", model, centers, dup, k=3)
    empty = queries.filter(F.col("vec_id") < 0)
    assert ivfpq_knn_join(enc, "vec_id", model, centers, empty, k=3).count() == 0


def test_ivfpq_knn_join_rerank_full_is_exact(spark):
    """Batch two-stage with full probe + full shortlist degenerates to
    exact search per query, regardless of code quality."""
    from sparksketch.pq import ivfpq_knn_join_rerank
    df, vecs, centers, _ = _clustered(spark, n=180, spread=0.7)
    model = pq_train(df, "embedding", m_sub=M_SUB, k=4, iters=2, seed=3,
                     coarse=centers)
    enc = pq_encode(df, "embedding", model, coarse=centers,
                    keep=["vec_id"]).cache()
    queries = df.filter(F.col("vec_id") < 6)
    got = ivfpq_knn_join_rerank(enc, df, "embedding", "vec_id", model,
                                centers, queries, k=4, n_probe=N_LISTS,
                                shortlist=180).collect()
    by_q = {}
    for r in sorted(got, key=lambda r: (r.q_id, r.dist, r.nb_id)):
        by_q.setdefault(r.q_id, []).append((r.nb_id, r.dist))
    X = vecs.astype(np.float64)
    for qi in range(6):
        exact = np.sum((X - X[qi]) ** 2, axis=1)
        order = np.lexsort((np.arange(len(exact)), exact))[:4]
        assert [i for i, _ in by_q[qi]] == [int(i) for i in order]
        for (_, d), i in zip(by_q[qi], order):
            assert abs(d - float(exact[i])) < 1e-9
