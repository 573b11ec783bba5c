"""PQ / scalar quantization / materialized IVF index tests.

Numpy cross-checks for the encode path, an error bound for int8, and
a plan assertion that the materialized index actually partition-prunes.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from rag_system_vector_db_spark.operators import ann, embedding


@pytest.fixture(scope="module")
def books(sf_dir):
    return ann.pq_fit_sample(sf_dir)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = df.collect()
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    ids = np.array([r.vec_id for r in rows])
    order = np.argsort(ids)
    return df, mat[order], ids[order]


def _np_codes(mat, books):
    m, dsub = len(books), len(books[0][0])
    out = np.zeros((mat.shape[0], m), dtype=int)
    for mi in range(m):
        xs = mat[:, mi * dsub : (mi + 1) * dsub]
        cents = np.array(books[mi])
        d2 = ((xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        out[:, mi] = d2.argmin(axis=1)  # ties -> lowest code
    return out


def test_pq_codes_match_numpy(emb, books):
    df, mat, ids = emb
    got = (
        df.select("vec_id", ann.pq_code_expr("embedding", books).alias("codes"))
        .orderBy("vec_id")
        .collect()
    )
    exp = _np_codes(mat, books)
    assert [list(r.codes) for r in got] == exp.tolist()


def test_pq_adc_matches_numpy_reconstruction(emb, books):
    """ADC distance == euclidean(query, decode(codes)) by definition."""
    df, mat, ids = emb
    m, dsub = len(books), len(books[0][0])
    codes = _np_codes(mat, books)
    recon = np.concatenate(
        [np.array(books[mi])[codes[:, mi]] for mi in range(m)], axis=1
    )
    q = mat[2]
    dists = np.sqrt(((recon - q) ** 2).sum(axis=1))
    queries = df.filter(F.col("vec_id") == 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = ann.ann_pq_adc_topk(df, queries, books, k=5).collect()
    order = sorted(range(len(ids)), key=lambda i: (dists[i], ids[i]))[:5]
    assert [(r.vec_id, round(r.dist, 9)) for r in got] == [
        (int(ids[i]), round(float(dists[i]), 9)) for i in order
    ]


def test_pq_reconstruction_error_positive_and_complete(spark, sf_dir, books):
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = ann.pq_reconstruction_error(df, books).collect()
    n = df.count()
    assert sorted(r.subspace for r in rows) == [0, 1, 2, 3]
    assert all(r.n == n for r in rows)
    assert all(r.mse >= 0 for r in rows)


def test_int8_error_bounded_by_half_step(spark, sf_dir):
    """|v - code*scale| <= scale/2 wherever |v| <= absmax (always) —
    the defining bound of round-to-nearest symmetric quantization."""
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = embedding.quantize_int8_profile(df).collect()
    assert len(rows) == 64
    for r in rows:
        # columns are display-rounded to 6dp, so allow that quantum
        assert r.max_abs_err <= r.scale / 2 + 1e-6
        assert 0 <= r.mean_abs_err <= r.max_abs_err + 1e-6


def test_ivf_indexed_prunes_partitions(spark, sf_dir, tmp_path):
    """The materialized layout must expose cell as a partition column
    and prune non-probed directories at plan time."""
    cents = ann.kmeans_fit_sample(sf_dir, k=4)
    idx_dir = str(tmp_path / "ivf_idx")
    ann.ivf_index_build(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"), cents, idx_dir
    )
    pruned = spark.read.parquet(idx_dir).filter(F.col("cell") == 1)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "cell" in plan.split("PartitionFilters")[1][:120]
    # and the pruned read returns exactly the cell-1 rows
    direct = (
        ann.with_cell(
            spark.read.parquet(f"{sf_dir}/embeddings.parquet"), "embedding", cents
        )
        .filter(F.col("_cell") == 1)
        .count()
    )
    assert pruned.count() == direct


def test_ivf_indexed_equals_unindexed(spark, sf_dir, tmp_path):
    """Same result contract as the in-plan IVF search."""
    cents = ann.kmeans_fit_sample(sf_dir, k=4)
    idx_dir = str(tmp_path / "ivf_idx2")
    corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ann.ivf_index_build(corpus, cents, idx_dir)
    queries = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    a = ann.ann_ivf_indexed_topk(spark, idx_dir, queries, cents, k=3, nprobe=2).collect()
    b = ann.ann_ivf_topk(corpus, queries, cents, k=3, nprobe=2).collect()
    key = lambda r: (r.query_id, r.rank)
    assert sorted([(r.query_id, r.vec_id, round(r.score, 9)) for r in a]) == sorted(
        [(r.query_id, r.vec_id, round(r.score, 9)) for r in b]
    )


def test_ivfpq_indexed_prunes_and_matches_inline(spark, sf_dir, tmp_path, books):
    """The code-only IVF-PQ layout must (a) store NO embedding column
    (the 64x size win), (b) prune non-probed cell directories at plan
    time, and (c) reproduce the inline ann_ivfpq_topk ranking."""
    cents = ann.kmeans_fit_sample(sf_dir, k=4)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx_dir = str(tmp_path / "ivfpq_idx")
    ann.ivfpq_index_build(emb, cents, books, idx_dir)
    idx = spark.read.parquet(idx_dir)
    assert set(idx.columns) == {"vec_id", "codes", "cell"}
    pruned = idx.filter(F.col("cell") == 1)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "cell" in plan.split("PartitionFilters")[1][:120]
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = sorted(
        ann.ann_ivfpq_indexed_topk(
            spark, idx_dir, queries, cents, books, k=3, nprobe=2
        ).collect(),
        key=lambda r: (r.query_id, r.rank),
    )
    want = sorted(
        ann.ann_ivfpq_topk(emb, queries, cents, books, k=3, nprobe=2).collect(),
        key=lambda r: (r.query_id, r.rank),
    )
    assert [(r.query_id, r.vec_id, r.rank) for r in got] == [
        (r.query_id, r.vec_id, r.rank) for r in want
    ]
    for g, w in zip(got, want):
        assert abs(g.dist - w.dist) < 1e-9


def test_adc_lut_bit_identical_to_direct(spark, sf_dir, books):
    """The LUT-served ADC must be BIT-identical to the direct
    definition (same V.sq_euclidean operands, same left-assoc sum order) —
    the invariant that lets the serving paths swap formulations
    without touching the oracles."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    coded = emb.select(
        F.col("vec_id"), ann.pq_code_expr("embedding", books).alias("codes")
    )
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    both = coded.join(
        F.broadcast(
            q.select("qid", "qv", ann.pq_adc_luts("qv", books).alias("lut"))
        )
    ).select(
        "qid",
        "vec_id",
        ann.pq_adc_dist("qv", "codes", books).alias("direct"),
        ann.pq_adc_dist_lut(F.col("lut"), F.col("codes"), len(books)).alias("lut_d"),
    )
    assert both.filter(F.col("direct") != F.col("lut_d")).count() == 0


def test_residual_pq_reconstructs_tighter_than_raw(spark, sf_dir, books):
    """The reason faiss defaults to by_residual=True: with the same
    m×k code budget, residual codebooks (trained on x − c(x)) must
    reconstruct with LOWER total squared error than raw-vector
    codebooks. Checked corpus-wide via numpy replays of both encoders."""
    cents = ann.kmeans_fit_sample(sf_dir)
    rbooks = ann.pq_fit_residual_sample(sf_dir, cents)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    mat = np.array(
        [r.embedding for r in emb.orderBy("vec_id").collect()], dtype=np.float64
    )
    c = np.array(cents)
    assign = ((mat[:, None, :] - c[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)

    def _recon_err(x, bks):
        m, dsub = len(bks), len(bks[0][0])
        err = 0.0
        for mi in range(m):
            xs = x[:, mi * dsub : (mi + 1) * dsub]
            cb = np.array(bks[mi])
            d2 = ((xs[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
            err += d2.min(axis=1).sum()
        return err

    raw_err = _recon_err(mat, books)
    res_err = _recon_err(mat - c[assign], rbooks)
    assert res_err < raw_err


def test_residual_ivfpq_runs_and_ranks(spark, sf_dir):
    """Smoke + contract: residual IVF-PQ returns k ranked rows per
    query with ascending distances."""
    cents = ann.kmeans_fit_sample(sf_dir)
    rbooks = ann.pq_fit_residual_sample(sf_dir, cents)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ann.ann_ivfpq_residual_topk(emb, q, cents, rbooks, k=3, nprobe=2).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r.query_id, []).append((r.rank, r.dist))
    assert set(per_q) == {0, 1, 2}
    for rows in per_q.values():
        rows.sort()
        assert [r for r, _ in rows] == [1, 2, 3]
        assert all(a[1] <= b[1] for a, b in zip(rows, rows[1:]))


def test_nearest_centroid_twins_agree_on_ties(spark, tmp_path):
    """with_cell, probe_cells and pq_code_expr equal their DuckDB twins
    (V.dd_nearest_cell, V.dd_nearest_cells, ann.dd_pq_codes) row for
    row, and an exact tie goes to the lowest index on both engines:
    centroid 3 repeats centroid 1, and code 2 of each book repeats
    code 0."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rag_system_vector_db_spark.functions import vector as V

    rng = np.random.default_rng(7)
    mat = rng.standard_normal((200, 8)).round(1)
    cents = [[float(v) for v in c] for c in mat[:4]]
    cents[3] = cents[1]
    books = [[[float(v) for v in c] for c in rng.standard_normal((4, 4)).round(1)] for _ in range(2)]
    for b in books:
        b[2] = b[0]
    path = str(tmp_path / "v.parquet")
    pq.write_table(
        pa.table({"vec_id": pa.array(range(len(mat)), pa.int64()), "embedding": pa.array(mat.tolist())}),
        path,
    )
    df = spark.read.parquet(path)
    cells = ann.with_cell(df, "embedding", cents, out_col="cell").select(
        "vec_id", "cell", ann.pq_code_expr("embedding", books).alias("codes")
    )
    probes = (
        ann.probe_cells(df.selectExpr("vec_id AS query_id", "embedding AS query_vec"), cents, 3)
        .groupBy("query_id")
        .agg(F.expr("transform(sort_array(collect_list(struct(_probe, _cell))), s -> s._cell)").alias("p"))
    )
    got = {
        r.vec_id: (r.cell, list(r.codes), list(r.p))
        for r in cells.join(probes, cells.vec_id == probes.query_id).collect()
    }
    lit = V.dd_literal(cents)
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in duckdb.sql(
            f"SELECT vec_id, {V.dd_nearest_cell('embedding', lit)}, {ann.dd_pq_codes('embedding', books)},"
            f" {V.dd_nearest_cells('embedding', lit, 3)} FROM read_parquet('{path}')"
        ).fetchall()
    }
    assert got == want
    assert 3 not in {c for c, _, _ in got.values()}  # the tie goes to cell 1
    assert all(2 not in codes for _, codes, _ in got.values())
    assert all(p.index(1) < p.index(3) for _, _, p in got.values() if 3 in p)
