"""RAG pipeline operators: retrieve → context → (stub) answer, and the
batch eval harness.

Reference parity:
- app.py:59 ``process_query``: embed question → top-k search →
  get-by-ids → context list → LLM answer.
- scripts/eval.py:58 ``evaluate_rag_with_groq``: per-QA retrieval +
  LLM-judge grade.

The LLM (Groq) calls are stubbed deterministically (extractive answer,
reciprocal-rank grade) — the retrieval/data plane is real and
distributed; generation is an external service in any deployment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import knn
from .embedding import embed_documents, embed_text_py


class LLMStub:
    """Deterministic stand-in for src/groq_proxy.py GroqProxyRestAPI."""

    @staticmethod
    def generate_response(question: str, context: list[str], max_chars: int = 200) -> str:
        if not context:
            return "Could not find relevant data within the document."
        return " ".join(context)[:max_chars]

    @staticmethod
    def eval_grade(hit_rank: int | None) -> float:
        """Reciprocal-rank grade in [0,1] (LLM-as-judge stand-in)."""
        return 0.0 if hit_rank is None else 1.0 / hit_rank


def retrieve(
    corpus: DataFrame,
    question: str,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embed a question driver-side (it's the query, not data) and
    search the distributed index. Returns (id, score)."""
    qv = embed_text_py(question)
    return knn.topk(corpus, [float(x) for x in qv], k=k, id_col=id_col, vec_col=vec_col)


def rag_query(
    spark: SparkSession,
    docs: DataFrame,
    question: str,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """Full process_query (app.py:59): embed corpus + question,
    retrieve, assemble context, stub-generate. Returns the reference's
    response dict shape."""
    indexed = embed_documents(docs, text_col=text_col)
    hits = retrieve(indexed, question, k=k, id_col=id_col).collect()
    ids = [r[id_col] for r in hits]
    ctx_rows = (
        docs.filter(F.col(id_col).isin(ids)).select(id_col, text_col).collect()
    )
    by_id = {r[id_col]: r[text_col] for r in ctx_rows}
    context = [by_id[i] for i in ids if i in by_id]
    return {
        "response": LLMStub.generate_response(question, context),
        "context": context,
        "source_ids": [str(i) for i in ids],
        "success": bool(context),
    }


def eval_from_qa_files(
    spark: SparkSession,
    docs: DataFrame,
    questions_file: str,
    answers_file: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The reference's full eval entry point (eval.py:30 parse_qa_files
    → eval.py:58 evaluate loop) end to end: line-paired QA files →
    embed questions (Arrow batch) → batch kNN over the embedded corpus
    → per-question hit rank + grade.

    The reference's LLM-judge (it grades generated answer text) is
    stubbed as retrieval grading: expected_id is the corpus doc whose
    text equals the question (the self-retrieval convention), and the
    grade is the reciprocal rank of that doc in the top-k (0 when the
    question matches no corpus doc or misses the top-k). Returns
    (qa_id, question, expected_answer, hit_rank, grade) — one row per
    QA pair."""
    from ..sources.qa_files import load_qa_pairs
    from .embedding import embed_documents, embed_udf

    qa = load_qa_pairs(spark, questions_file, answers_file)
    corpus = embed_documents(docs, text_col=text_col).select(
        F.col(id_col).alias("vec_id"), F.col("embedding")
    )
    # expected doc = exact text match of the question against the
    # corpus (the self-retrieval convention the tests use); missing
    # matches keep null expected and grade on rank of the top hit.
    # exact-dup corpus texts exist (dedup_exact finds them): aggregate
    # to the MIN matching id so a question matching several identical
    # docs still yields exactly one QA row (keep-first convention).
    expected = (
        qa.join(
            docs.select(F.col(id_col).alias("expected_id"), F.col(text_col)),
            qa.question == F.col(text_col),
            "left",
        )
        .groupBy("qa_id", "question", "expected_answer")
        .agg(F.min("expected_id").alias("expected_id"))
    )
    queries = expected.select(
        F.col("qa_id").alias("query_id"),
        embed_udf(F.col("question")).alias("query_vec"),
        "expected_id",
    )
    graded = eval_retrieval(corpus, queries, k=k)
    return (
        expected.select("qa_id", "question", "expected_answer")
        .join(
            graded.select(
                F.col("query_id").alias("qa_id"), "hit_rank", "grade"
            ),
            "qa_id",
        )
    )


def evaluation_results(
    spark: SparkSession,
    docs: DataFrame,
    questions_file: str,
    answers_file: str,
    k: int = 10,
    max_chars: int = 200,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The reference's ``data/evaluation_results.json`` record shape
    (eval.py:58 evaluate_rag_with_groq → eval.py's final json.dump):
    one row per QA pair with question / expected_answer /
    predicted_answer / groq_evaluation.

    predicted_answer is LLMStub.generate_response over the top-k
    retrieved contexts in rank order (the reference's Groq call,
    deterministic here): joined context truncated to ``max_chars``,
    or the reference's literal no-data sentence when retrieval returns
    nothing. groq_evaluation mirrors the judge's "Grade: X" text with
    the deterministic reciprocal-rank grade. Everything is one batch
    plan — per-question contexts assemble via a rank-ordered agg, no
    driver loop over questions.

    Returns (qa_id, question, expected_answer, predicted_answer,
    groq_evaluation); ``write_evaluation_results`` dumps the
    reference's JSON artifact."""
    from ..sources.qa_files import load_qa_pairs
    from .embedding import embed_documents, embed_udf

    qa = load_qa_pairs(spark, questions_file, answers_file)
    corpus = embed_documents(docs, text_col=text_col).select(
        F.col(id_col).alias("vec_id"), F.col("embedding")
    )
    # exact-dup corpus texts exist (dedup_exact finds them): aggregate
    # to the MIN matching id so a question matching several identical
    # docs still yields exactly one QA row (keep-first convention).
    expected = (
        qa.join(
            docs.select(F.col(id_col).alias("expected_id"), F.col(text_col)),
            qa.question == F.col(text_col),
            "left",
        )
        .groupBy("qa_id", "question", "expected_answer")
        .agg(F.min("expected_id").alias("expected_id"))
    )
    queries = expected.select(
        F.col("qa_id").alias("query_id"),
        embed_udf(F.col("question")).alias("query_vec"),
        "expected_id",
    )
    topk = knn.topk_batch(
        corpus, queries.select("query_id", "query_vec"), k=k,
        query_id_col="query_id", query_vec_col="query_vec",
    )
    # ONE tower: the context assembly and the hit-rank grade both
    # reduce from the same topk frame (expected ids ride a broadcast
    # join into the same agg). A separate eval_retrieval call here
    # would re-plan the corpus embed + batch kNN a second time — Spark
    # shares no subtrees across DataFrame references.
    ctx = (
        topk.join(docs.select(F.col(id_col).alias("vec_id"), F.col(text_col)), "vec_id")
        .join(
            F.broadcast(
                expected.select(F.col("qa_id").alias("query_id"), "expected_id")
            ),
            "query_id",
            "left",
        )
        .groupBy(F.col("query_id").alias("qa_id"))
        .agg(
            F.expr(
                f"concat_ws(' ', transform(array_sort(collect_list(struct(`rank`, `{text_col}`))),"
                f" s -> s.`{text_col}`))"
            ).alias("_ctx"),
            F.min(
                F.when(F.col("vec_id") == F.col("expected_id"), F.col("rank"))
            ).alias("hit_rank"),
        )
    )
    # same grade formula as eval_retrieval (reciprocal rank, 0 on miss)
    grade = F.round(
        F.when(F.col("hit_rank").isNotNull(), 1.0 / F.col("hit_rank")).otherwise(0.0),
        6,
    )
    predicted = F.when(
        F.coalesce(F.col("_ctx"), F.lit("")) == "",
        F.lit("Could not find relevant data within the document."),
    ).otherwise(F.substring("_ctx", 1, max_chars))
    return (
        expected.select("qa_id", "question", "expected_answer")
        .join(ctx, "qa_id", "left")
        .select(
            "qa_id",
            "question",
            "expected_answer",
            predicted.alias("predicted_answer"),
            F.concat(F.lit("Grade: "), grade.cast("string")).alias(
                "groq_evaluation"
            ),
        )
    )


def write_evaluation_results(results: DataFrame, out_file: str) -> list[dict]:
    """Dump the reference's artifact: a JSON LIST of records in QA
    order, keys question / expected_answer / predicted_answer /
    groq_evaluation, indent=4, ensure_ascii=False (eval.py's final
    json.dump line). The QA set is config-sized (the reference's is a
    handful of lines), so the driver-side collect is bounded."""
    import json

    rows = results.orderBy("qa_id").collect()
    records = [
        {
            "question": r.question,
            "expected_answer": r.expected_answer,
            "predicted_answer": r.predicted_answer,
            "groq_evaluation": r.groq_evaluation,
        }
        for r in rows
    ]
    with open(out_file, "w", encoding="utf-8") as f:
        json.dump(records, f, indent=4, ensure_ascii=False)
    return records


def eval_retrieval(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    expected_col: str = "expected_id",
) -> DataFrame:
    """Batch eval (eval.py:58): for each query with a known expected
    id, the rank of the expected doc in top-k (null = miss) and the
    stub grade 1/rank. One broadcast batch-kNN, no per-question loop."""
    topk = knn.topk_batch(
        corpus, queries.select(query_id_col, query_vec_col), k=k,
        id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
    )
    expected = queries.select(query_id_col, expected_col)
    hits = topk.join(F.broadcast(expected), query_id_col).filter(
        F.col(id_col) == F.col(expected_col)
    )
    return (
        expected.join(
            hits.select(query_id_col, F.col("rank").alias("hit_rank")),
            query_id_col,
            "left",
        )
        .select(
            query_id_col,
            expected_col,
            F.col("hit_rank").cast("long"),
            F.round(
                F.when(F.col("hit_rank").isNotNull(), 1.0 / F.col("hit_rank")).otherwise(0.0),
                6,
            ).alias("grade"),
        )
    )
