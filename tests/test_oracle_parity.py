"""Pre-verify the driver's t2 gate: every registry query with an
oracle must hash-match DuckDB at sf0.001."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from rag_system_vector_db_spark.registry import LAZY_ORACLES, ORACLES, QUERIES
from rag_system_vector_db_spark.sources import TABLES
from rag_system_vector_db_spark.sources.tables import EmptySampleError
from tests.oracle import compare, duck_connection


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duck_connection(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(name, spark, sf_dir, con):
    df = QUERIES[name](spark, sf_dir)
    compare(df, con, ORACLES[name])


@pytest.mark.parametrize("name", sorted(LAZY_ORACLES))
def test_lazy_oracle_parity(name, spark, sf_dir, con):
    df = QUERIES[name](spark, sf_dir)
    compare(df, con, LAZY_ORACLES[name](sf_dir))


def test_every_query_runs(spark, sf_dir):
    for name, fn in QUERIES.items():
        df = fn(spark, sf_dir)
        assert df.columns, name


def test_duckdb_spills_outside_the_checkout(sf_dir, monkeypatch):
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    monkeypatch.chdir(root)
    con = duck_connection(sf_dir)
    (spill,) = con.sql("SELECT current_setting('temp_directory')").fetchone()
    con.close()
    assert os.path.isabs(spill) and not os.path.abspath(spill).startswith(root + os.sep)


@pytest.mark.parametrize(
    "name",
    [
        "knn_topk_cosine",
        "rag_retrieve",
        "retrieval_mmr",
        "kmv_distinct",
        "dataset_card",
        "k_anonymity_audit",
        "chunk_documents",
        "dedup_minhash_lsh",
        "dedup_minhash_lsh_capped",
        "hot_bucket_report",
        "bloom_filter_sizing",
        "conversion_latency",
        "hill_tail_index",
        "join_cardinality_estimate",
        "knn_graph_degree_stats",
        "revenue_concentration",
        "rollup_grain_advisor",
        "rag_pipeline_e2e",
        "eval_results_artifact",
        "knn_batch_np",
    ],
)
def test_absent_query_row_matches_oracle(name, spark, sf_dir, tmp_path):
    """On a schema-preserving empty copy of the tables there is no
    query row: the retrieval entries return the oracle's no rows, and
    the summaries its one row of zero counts and NULL ratios (a ratio
    over zero rows is NULL, as DuckDB's x/0 is)."""
    _empty_tables(sf_dir, tmp_path)
    con = duck_connection(str(tmp_path))
    oracle = ORACLES.get(name) or LAZY_ORACLES[name](str(tmp_path))
    try:
        compare(QUERIES[name](spark, str(tmp_path)), con, oracle)
    finally:
        con.close()


def _empty_tables(sf_dir, out) -> None:
    for t in TABLES:
        schema = pq.read_schema(f"{sf_dir}/{t}.parquet")
        pq.write_table(schema.empty_table(), out / f"{t}.parquet")


@pytest.mark.parametrize(
    "name",
    [
        "ann_ivf",
        "ann_ivf_rerank",
        "ann_ivf_indexed",
        "ann_ivf_sq8",
        "ann_ivfpq",
        "ann_ivfpq_indexed",
        "ann_ivfpq_residual",
        "ivf_cell_stats",
        "ivf_probe_sweep",
        "cluster_purity",
        "semdedup",
        "semdedup_clusters",
        "ann_pq_adc",
        "pq_reconstruction_error",
        "seeding_quality_eval",
        "pca_project",
        "pca_explained_variance",
    ],
)
def test_empty_fit_sample_raises_on_both_sides(name, spark, sf_dir, tmp_path):
    """A driver-side fit (IVF centroids, PQ codebooks, PCA basis,
    seedings) has nothing to train on in an empty corpus. The Spark
    build and its lazy oracle call the same fit, so both raise the one
    named error of sources.tables.sample_vectors."""
    _empty_tables(sf_dir, tmp_path)
    with pytest.raises(EmptySampleError):
        QUERIES[name](spark, str(tmp_path))
    with pytest.raises(EmptySampleError):
        LAZY_ORACLES[name](str(tmp_path))


def test_hill_tail_index_with_fewer_orders_than_k(spark, sf_dir, tmp_path):
    """With k or fewer orders x_(k+1) does not exist: the gamma and
    alpha of that k are NULL on both sides (DuckDB's vs[k + 1] is NULL)
    rather than an ANSI index error in Spark."""
    for t in TABLES:
        table = pq.read_table(f"{sf_dir}/{t}.parquet")
        pq.write_table(table.slice(0, 20) if t == "orders" else table, tmp_path / f"{t}.parquet")
    con = duck_connection(str(tmp_path))
    try:
        compare(QUERIES["hill_tail_index"](spark, str(tmp_path)), con, ORACLES["hill_tail_index"])
    finally:
        con.close()
