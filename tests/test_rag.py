"""End-to-end RAG pipeline (reference tests/test_app.py analog)."""

from __future__ import annotations

from rag_system_vector_db_spark.operators.rag import LLMStub, rag_query


def test_rag_query_shape(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    res = rag_query(spark, docs, "spark join performance tuning", k=3)
    assert set(res) == {"response", "context", "source_ids", "success"}
    assert res["success"] is True
    assert len(res["context"]) == 3
    assert len(res["source_ids"]) == 3
    assert res["response"]  # stub answer is non-empty
    # deterministic across runs
    res2 = rag_query(spark, docs, "spark join performance tuning", k=3)
    assert res2["source_ids"] == res["source_ids"]


def test_llm_stub_no_context():
    assert LLMStub.generate_response("q", []).startswith("Could not find")
    assert LLMStub.eval_grade(None) == 0.0
    assert LLMStub.eval_grade(1) == 1.0
    assert LLMStub.eval_grade(4) == 0.25


def test_load_qa_pairs_line_pairing(spark, tmp_path):
    """eval.py:30 parse_qa_files semantics: strip, pair by line index,
    truncate to the shorter file."""
    from rag_system_vector_db_spark.sources.qa_files import load_qa_pairs

    q = tmp_path / "questions.txt"
    a = tmp_path / "answers.txt"
    q.write_text("What is day one?\n  Second question?  \nThird?\nExtra question\n")
    a.write_text("Day one answer\nSecond answer\nThird answer\n")
    df = load_qa_pairs(spark, str(q), str(a))
    rows = sorted(df.collect(), key=lambda r: r.qa_id)
    assert [r.qa_id for r in rows] == [0, 1, 2]  # extra question dropped
    assert rows[1].question == "Second question?"  # stripped
    assert rows[2].expected_answer == "Third answer"


def test_qa_pairs_feed_eval_retrieval(spark, sf_dir, tmp_path):
    """QA file -> embed questions -> eval harness end-to-end (the
    eval.py flow with files as the entry point)."""
    from pyspark.sql import functions as F

    from rag_system_vector_db_spark.operators import rag
    from rag_system_vector_db_spark.operators.embedding import embed_udf
    from rag_system_vector_db_spark.sources.qa_files import load_qa_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
    texts = [r.text for r in docs.select("text").collect()]
    q = tmp_path / "q.txt"
    a = tmp_path / "a.txt"
    # questions ARE corpus texts, so rank-1 self-retrieval is expected
    q.write_text("\n".join(texts[:3]) + "\n")
    a.write_text("\n".join(f"answer {i}" for i in range(3)) + "\n")

    from rag_system_vector_db_spark.operators.embedding import embed_documents

    corpus = embed_documents(docs).select(
        F.col("doc_id").alias("vec_id"), F.col("embedding")
    )
    qa = load_qa_pairs(spark, str(q), str(a))
    queries = qa.select(
        F.col("qa_id").alias("query_id"),
        embed_udf(F.col("question")).alias("query_vec"),
        F.col("qa_id").alias("expected_id"),  # doc i embeds question i
    )
    out = rag.eval_retrieval(corpus, queries, k=5).collect()
    assert len(out) == 3
    assert all(r.hit_rank == 1 and r.grade == 1.0 for r in out)


def test_eval_from_qa_files_end_to_end(spark, sf_dir, tmp_path):
    """The single-call eval surface: QA text files in, per-question
    grades out (eval.py:30 parse + eval.py:58 loop, distributed)."""
    from rag_system_vector_db_spark.operators.rag import eval_from_qa_files

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
    texts = [r.text for r in docs.select("text").orderBy("doc_id").collect()]
    q = tmp_path / "questions.txt"
    a = tmp_path / "answers.txt"
    # 2 questions that ARE corpus texts (rank-1 expected) + 1 that isn't
    q.write_text(texts[0] + "\n" + texts[1] + "\nunmatched question\n")
    a.write_text("ans0\nans1\nans2\n")
    out = {r.qa_id: r for r in eval_from_qa_files(
        spark, docs, str(q), str(a), k=5
    ).collect()}
    assert len(out) == 3
    assert out[0].hit_rank == 1 and out[0].grade == 1.0
    assert out[1].hit_rank == 1 and out[1].grade == 1.0
    assert out[2].hit_rank is None and out[2].grade == 0.0
    assert out[2].expected_answer == "ans2"


def test_hybrid_rrf_fuses_both_towers(spark, sf_dir):
    """RRF must include docs from either tower (full outer) and score
    docs present in both above the floor of a single tower at the same
    ranks."""
    from pyspark.sql import functions as F

    from rag_system_vector_db_spark.operators import hybrid

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = emb.filter(F.col("vec_id") == 1).select(F.col("embedding").alias("qv"))
    out = hybrid.hybrid_search_rrf(
        docs, emb, ["spark", "join"], qv, k=10, depth=15
    ).collect()
    assert 0 < len(out) <= 10
    ranks = sorted(r.rank for r in out)
    assert ranks == list(range(1, len(out) + 1))
    for r in out:
        expected = (1.0 / (60 + r.bm25_rank) if r.bm25_rank else 0.0) + (
            1.0 / (60 + r.vec_rank) if r.vec_rank else 0.0
        )
        assert abs(r.fused - round(expected, 6)) < 1e-9
        assert r.bm25_rank is not None or r.vec_rank is not None
    # fused ordering is descending
    by_rank = sorted(out, key=lambda r: r.rank)
    assert all(a.fused >= b.fused for a, b in zip(by_rank, by_rank[1:]))


def test_bm25_prefers_term_dense_docs(spark):
    from rag_system_vector_db_spark.operators.hybrid import bm25_scores

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark join"),
            (2, "spark row value table"),
            (3, "row value table scan"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.bm25 for r in bm25_scores(docs, ["spark", "join"]).collect()}
    assert set(got) == {1, 2}  # doc 3 matches nothing
    assert got[1] > got[2]  # more matched mass ranks higher


def test_evaluation_results_artifact_round_trip(spark, sf_dir, tmp_path):
    """eval.py's final artifact: data/evaluation_results.json — a JSON
    LIST of {question, expected_answer, predicted_answer,
    groq_evaluation} records in QA order, produced end-to-end from
    questions.txt/answers.txt."""
    import json

    from rag_system_vector_db_spark.operators.rag import (
        evaluation_results,
        write_evaluation_results,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
    texts = [r.text for r in docs.select("text").orderBy("doc_id").collect()]
    q = tmp_path / "questions.txt"
    a = tmp_path / "answers.txt"
    # first two questions ARE corpus texts (rank-1 self-retrieval);
    # the third matches nothing exactly but still retrieves context
    q.write_text(texts[0] + "\n" + texts[1] + "\nutterly novel question\n")
    a.write_text("answer zero\nanswer one\nanswer two\n")

    res = evaluation_results(spark, docs, str(q), str(a), k=5)
    out_file = tmp_path / "evaluation_results.json"
    records = write_evaluation_results(res, str(out_file))

    # the artifact is the reference's shape: a list, these exact keys
    on_disk = json.loads(out_file.read_text())
    assert on_disk == records
    assert [set(r) for r in on_disk] == [
        {"question", "expected_answer", "predicted_answer", "groq_evaluation"}
    ] * 3
    assert [r["question"] for r in on_disk] == [texts[0], texts[1], "utterly novel question"]
    assert on_disk[0]["expected_answer"] == "answer zero"
    # self-retrieval hits rank 1 -> judge grade 1.0; context non-empty
    assert on_disk[0]["groq_evaluation"] == "Grade: 1.0"
    assert on_disk[1]["groq_evaluation"] == "Grade: 1.0"
    # no exact match -> grade 0.0, but retrieval still yields context
    assert on_disk[2]["groq_evaluation"] == "Grade: 0.0"
    for r in on_disk:
        assert r["predicted_answer"]
        assert len(r["predicted_answer"]) <= 200
    # deterministic end to end
    res2 = evaluation_results(spark, docs, str(q), str(a), k=5)
    assert [tuple(r) for r in res2.orderBy("qa_id").collect()] == [
        tuple(r) for r in res.orderBy("qa_id").collect()
    ]
