"""k-NN operators cross-checked against numpy brute force."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from rag_system_vector_db_spark.operators import ann, knn


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = df.collect()
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    ids = np.array([r.vec_id for r in rows])
    order = np.argsort(ids)
    return df, mat[order], ids[order]


def _np_lloyd(mat, k, n_iter):
    """Centroids of n_iter Lloyd rounds from the first k rows (ties to
    the lowest centroid); an empty cell keeps its centroid."""
    cents = mat[:k].copy()
    for _ in range(n_iter):
        assign = ((mat[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
        for c in range(k):
            if (assign == c).any():
                cents[c] = mat[assign == c].mean(axis=0)
    return cents.tolist()


def _np_cosine_topk(mat, ids, q, k, exclude=None):
    sims = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = sorted(range(len(ids)), key=lambda i: (-sims[i], ids[i]))
    out = [(int(ids[i]), float(sims[i])) for i in order if ids[i] != exclude]
    return out[:k]


def test_topk_matches_numpy(emb):
    df, mat, ids = emb
    q = mat[5]
    got = knn.topk(df.filter(F.col("vec_id") != 5), list(q), k=8).collect()
    exp = _np_cosine_topk(mat, ids, q, 8, exclude=5)
    assert [(r.vec_id, round(r.score, 9)) for r in got] == [
        (i, round(s, 9)) for i, s in exp
    ]


def test_topk_batch_matches_numpy(emb, spark):
    df, mat, ids = emb
    queries = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = knn.topk_batch(df, queries, k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append((r.rank, r.vec_id))
    for qid in range(3):
        exp = _np_cosine_topk(mat, ids, mat[qid], 5)
        assert sorted(by_q[qid]) == [(i + 1, e[0]) for i, e in enumerate(exp)]


def test_topk_batch_np_ranks_equal_hof_path(emb, spark):
    """The Arrow+BLAS path must produce identical (query, rank, id)
    triples to the exact HOF path; scores agree to 1e-9."""
    df, _, _ = emb
    queries = df.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    a = knn.topk_batch_np(df, queries, k=6).collect()
    b = knn.topk_batch(df, queries, k=6).collect()
    key = lambda r: (r.query_id, r.rank)
    a, b = sorted(a, key=key), sorted(b, key=key)
    assert [(r.query_id, r.rank, r.vec_id) for r in a] == [
        (r.query_id, r.rank, r.vec_id) for r in b
    ]
    assert all(abs(x.score - y.score) < 1e-9 for x, y in zip(a, b))


def test_euclidean_metric(emb):
    df, mat, ids = emb
    q = mat[0]
    got = knn.topk(df, list(q), k=3, metric="euclidean").collect()
    d = np.linalg.norm(mat - q, axis=1)
    order = sorted(range(len(ids)), key=lambda i: (d[i], ids[i]))[:3]
    assert [r.vec_id for r in got] == [int(ids[i]) for i in order]
    assert got[0].vec_id == 0 and got[0].score < 1e-9


def test_ivf_recall_reasonable(emb, spark):
    """IVF with nprobe=4 of k=8 cells should mostly agree with exact
    top-1 (sanity of the cell assignment + probe machinery)."""
    df, mat, ids = emb
    centroids = _np_lloyd(mat, k=8, n_iter=3)
    assert len(centroids) == 8 and len(centroids[0]) == 64
    queries = df.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = ann.ann_ivf_topk(df, queries, centroids, k=1, nprobe=4).collect()
    hits = 0
    for r in got:
        exact = _np_cosine_topk(mat, ids, mat[r.query_id], 1)
        hits += r.vec_id == exact[0][0]
    assert hits >= 5  # self-match via its own cell ≥ half the time

def test_multiprobe_superset_of_single(emb, spark):
    """Multi-probe candidates strictly include the single-probe bucket,
    so per-query recall vs brute force can only go up."""
    df, _, _ = emb
    planes = ann.hyperplanes(4, 64)
    queries = df.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    bf = knn.topk_batch(df, queries, k=10)
    single = ann.ann_lsh_topk(df, queries, planes, k=10)
    multi = ann.ann_lsh_multiprobe_topk(df, queries, planes, k=10)
    r1 = {r.query_id: r.recall for r in ann.recall_at_k(single, bf).collect()}
    r2 = {r.query_id: r.recall for r in ann.recall_at_k(multi, bf).collect()}
    assert set(r1) == set(r2) and len(r1) == 10
    assert all(r2[q] >= r1[q] for q in r1)
    assert all(0.0 <= r1[q] <= 1.0 for q in r1)
    # every query finds at least itself in its own bucket
    assert all(r1[q] > 0 for q in r1)


def test_recall_at_k_exact_self_is_one(emb, spark):
    """recall(exact, exact) == 1 for every query."""
    df, _, _ = emb
    queries = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    bf = knn.topk_batch(df, queries, k=7)
    out = ann.recall_at_k(bf, bf).collect()
    assert len(out) == 5
    assert all(r.recall == 1.0 and r.n_exact == 7 and r.n_hit == 7 for r in out)


def test_ivf_rerank_scores_are_exact(emb, spark):
    """Re-ranked scores must equal the exact cosine for the returned
    ids (the quantized first pass only picks the shortlist)."""
    df, mat, ids = emb
    centroids = _np_lloyd(mat, k=4, n_iter=2)
    queries = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = ann.ann_ivf_rerank_topk(
        df, queries, centroids, k=3, nprobe=2, shortlist=10
    ).collect()
    assert {r.query_id for r in got} == set(range(5))
    id_to_row = {int(i): mat[j] for j, i in enumerate(ids)}
    for r in got:
        q, v = id_to_row[r.query_id], id_to_row[r.vec_id]
        exact = float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
        assert abs(r.score - exact) < 1e-6
    # with nprobe = all cells and a deep shortlist, rerank == exact knn
    got_all = ann.ann_ivf_rerank_topk(
        df, queries, centroids, k=3, nprobe=4, shortlist=50
    ).collect()
    by_q = {}
    for r in sorted(got_all, key=lambda r: (r.query_id, r.rank)):
        by_q.setdefault(r.query_id, []).append(r.vec_id)
    for qid in range(5):
        exp = _np_cosine_topk(mat, ids, mat[qid], 3)
        assert by_q[qid] == [e[0] for e in exp]


def test_probe_sweep_monotone(emb, spark):
    """More probes → recall and candidate volume both non-decreasing."""
    df, _, _ = emb
    planes = ann.hyperplanes(4, 64)
    queries = df.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    bf = knn.topk_batch(df, queries, k=10)
    rows = sorted(
        ann.probe_sweep(df, queries, planes, bf, k=10).collect(),
        key=lambda r: r.n_probes,
    )
    assert [r.n_probes for r in rows] == [1, 2, 3, 4, 5]
    for a, b in zip(rows, rows[1:]):
        assert b.mean_recall >= a.mean_recall
        assert b.mean_candidates >= a.mean_candidates
    assert rows[0].mean_recall > 0  # the self bucket always hits


def test_knn_batch_np_rank_gaps_exceed_blas_noise():
    """Pin the PROPERTY the knn_batch_np oracle rests on, not the
    environment (ADVICE r7): its (query_id, vec_id, rank) surface is
    hash-checked against an exact-sequential-sum DuckDB ordering, which
    is only environment-independent if no two candidates near the
    rank-k boundary are within BLAS summation-reorder noise
    (~dim*eps ≈ 1.4e-14 for 64-d unit vectors). Assert the minimum
    adjacent score gap inside each query's top-(k+1) exceeds 1e-9 at
    BOTH gate sfs — five orders of magnitude of margin; if a future
    dataset regenerates with near-ties, this fails loudly instead of
    the gate flaking per-platform."""
    import duckdb
    import numpy as np

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        rows = duckdb.sql(
            f"SELECT vec_id, embedding FROM read_parquet('{sf_dir}/embeddings.parquet')"
            " ORDER BY vec_id"
        ).fetchall()
        x = np.array([list(r[1]) for r in rows], dtype=np.float64)
        norms = np.linalg.norm(x, axis=1)
        scores = (x[:5] @ x.T) / (norms[:5][:, None] * norms[None, :])
        for qi in range(5):
            top = np.sort(scores[qi])[::-1][:11]
            assert float(np.min(np.abs(np.diff(top)))) > 1e-9, (sf_dir, qi)
