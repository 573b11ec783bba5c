"""The upsert log under VectorCollection: a fresh collection and the
one-pass scan."""

from __future__ import annotations

import pytest

from rag_system_vector_db_spark.operators.vector_store import VectorCollection


def test_fresh_collection_answers_or_raises(spark, tmp_path):
    path = str(tmp_path / "fresh")
    c = VectorCollection.create(spark, path, dimension=4)
    assert c.stats()["rowCount"] == 0
    assert list(c.scan()) == []
    c.compact()  # nothing to fold
    for call in (
        c.df,
        c.query,
        lambda: c.get_by_ids([1]),
        lambda: c.search([1.0, 0.0, 0.0, 0.0]),
    ):
        with pytest.raises(ValueError, match="empty") as err:
            call()
        assert path in str(err.value)


def test_scan_runs_fewer_jobs_than_pages(spark, sf_dir, tmp_path):
    c = VectorCollection.create(
        spark, str(tmp_path / "coll"), dimension=64,
        primary_field="vec_id", vector_field="embedding",
    )
    c.insert(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    sc = spark.sparkContext
    sc.setJobGroup("test-scan", "scan pages")
    try:
        pages = list(c.scan(batch_size=7))
        jobs = sc.statusTracker().getJobIdsForGroup("test-scan")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    ids = [r.vec_id for page in pages for r in page]
    assert ids == sorted(ids) and len(ids) == len(set(ids))
    assert len(pages) > 1 and len(jobs) < len(pages)
