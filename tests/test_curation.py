"""Behavioral tests for the training-data curation suite (oracle
parity is covered by test_oracle_parity via the registry)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rag_system_vector_db_spark.operators import curation


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_repetition_flags_degenerate_docs(spark):
    df = _docs(
        spark,
        [
            (1, "spam spam spam spam spam spam"),
            (2, "one two three four five six"),
        ],
    )
    out = {r.doc_id: r for r in curation.repetition_stats(df).collect()}
    assert out[1].dup_token_frac == 1.0
    assert out[1].top_token_frac == 1.0
    assert out[1].top_2gram_frac == 1.0
    assert out[2].dup_token_frac == 0.0
    assert out[2].top_token_frac == pytest.approx(1 / 6, abs=1e-6)
    assert out[2].dup_2gram_frac == 0.0


def test_repetition_single_token_doc_has_no_2grams(spark):
    out = curation.repetition_stats(_docs(spark, [(1, "lonely")])).collect()
    assert out[0].n_tokens == 1
    assert out[0].top_2gram_frac == 0.0 and out[0].dup_2gram_frac == 0.0


def test_quality_filters_gate_logic(spark):
    good = "the quick brown fox jumps over the lazy dog and runs on far " * 2
    df = _docs(
        spark,
        [
            (1, good.strip()),          # passes all gates
            (2, "too short a doc"),     # fails ok_len (4 tokens)
            (3, ("word " * 50).strip()),  # fails ttr + stopwords
        ],
    )
    out = {r.doc_id: r for r in curation.quality_filters(df).collect()}
    assert out[1].keep and out[1].ok_len and out[1].ok_stopwords
    assert not out[2].ok_len and not out[2].keep
    assert not out[3].ok_ttr and not out[3].ok_stopwords and not out[3].keep
    # keep is exactly the conjunction of the per-rule flags
    for r in out.values():
        assert r.keep == (r.ok_len and r.ok_word_len and r.ok_stopwords and r.ok_ttr)


def test_contamination_finds_planted_overlap(spark):
    # doc 53 % 53 == 0 -> benchmark member; doc 7 shares a 4-gram run
    df = _docs(
        spark,
        [
            (53, "alpha beta gamma delta epsilon zeta"),
            (7, "noise words then alpha beta gamma delta more noise"),
            (8, "completely different tokens here nothing shared"),
        ],
    )
    out = {r.doc_id: r for r in curation.benchmark_contamination(df).collect()}
    assert 7 in out and 8 not in out
    assert 53 not in out  # self-match excluded
    assert out[7].n_shared_grams == 1 and out[7].n_bench_docs == 1


def test_contamination_explicit_bench_side(spark):
    train = _docs(spark, [(1, "a b c d e f"), (2, "x y z w v u")])
    bench = _docs(spark, [(100, "c d e f padding words")])
    out = curation.benchmark_contamination(train, bench=bench).collect()
    assert [(r.doc_id, r.n_shared_grams) for r in out] == [(1, 1)]


def test_corpus_mix_shares_sum_to_one(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = curation.corpus_mix(docs)
    total = out.agg(F.sum("token_share")).first()[0]
    assert total == pytest.approx(1.0, abs=1e-4)
    n_docs = out.agg(F.sum("n_docs")).first()[0]
    assert n_docs == docs.count()


def test_length_histogram_bins_are_exact(spark):
    df = _docs(
        spark,
        [(1, " ".join(["w"] * 15)), (2, " ".join(["w"] * 16)), (3, " ".join(["w"] * 17))],
    ).withColumn("lang", F.lit("en"))
    out = {r.bin_lo: r for r in curation.length_histogram(df).collect()}
    assert out[0].n_docs == 1 and out[0].max_tokens == 15
    assert out[16].n_docs == 2 and out[16].min_tokens == 16 and out[16].max_tokens == 17


def test_pca_basis_is_orthonormal_and_ranked(sf_dir):
    import numpy as np

    from rag_system_vector_db_spark.operators.embedding import pca_fit_sample

    mean, comps, _ = pca_fit_sample(sf_dir)
    c = np.array(comps)
    assert np.allclose(c @ c.T, np.eye(2), atol=1e-9)
    # deterministic: same input -> identical basis
    mean2, comps2, _ = pca_fit_sample(sf_dir)
    assert mean == mean2 and comps == comps2


def test_pca_projection_captures_leading_variance(spark, sf_dir):
    import numpy as np

    from rag_system_vector_db_spark.operators.embedding import (
        pca_fit_sample,
        pca_project,
    )

    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    mean, comps, _ = pca_fit_sample(sf_dir)
    out = pca_project(vecs, mean, comps).toPandas()
    # pc1 is the leading component: it must carry at least as much
    # sample variance as pc2
    assert np.var(out.pc1) >= np.var(out.pc2) > 0
