"""Hybrid retrieval: BM25 keyword scoring fused with vector cosine by
reciprocal-rank fusion (RRF, Cormack SIGIR'09) — the two-tower serving
pattern every production RAG stack runs (Milvus 2.5 "hybrid search",
Elasticsearch+kNN, Vespa).

Everything is declarative and deterministic: BM25's corpus statistics
(df, avgdl) are aggregations, per-document scores are closed-form
column expressions, both ranked lists use (score desc, id) ordering,
and RRF is a full-outer join of the two lists — so the whole pipeline
is reproducible in the DuckDB oracle, Python-free end to end.

Scale: the keyword side touches only postings of the query terms
(term-filtered explode → skinny agg); the vector side is the standard
broadcast-query cosine scan; fusion joins two k-row relations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as X
from ..functions import vector as V
from .knn import topk_per_key

BM25_K1 = 1.2
BM25_B = 0.75


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Okapi BM25 over whitespace tokens, returns (id, bm25) for docs
    matching >= 1 query term.

    idf uses the standard +1-inside-the-log smoothing (never negative);
    doc length normalizes against the corpus mean. Only rows whose term
    is IN the query list survive the explode — the shuffled relation is
    |query| postings, not the corpus.

    The corpus-stats pass (N, avgdl) does NOT re-tokenize: with
    single-space tokenization, token count ≡ space count + 1, so avgdl
    aggregates over length(text) - length(translate(text,' ','')) + 1 —
    a codegen scalar per doc, no array allocation. (Benched against
    folding the stats through the postings shuffle as per-doc
    conditional sums: the early term filter + this allocation-free
    second pass is ~20% faster — hash-agg over every exploded token
    costs more than the extra narrow scan.) At index-build scale these
    corpus constants and df are precomputed statistics of the index,
    not per-query work."""
    toks = docs.select(
        F.col(id_col),
        F.size(F.expr(X.tokens(text_col))).alias("_dl"),
        F.explode(F.expr(X.tokens(text_col))).alias("term"),
    ).filter(F.col("term").isin(query_terms))
    tf = toks.groupBy(id_col, "term").agg(
        F.count("*").cast("double").alias("tf"), F.first("_dl").alias("dl")
    )
    dl_expr = (
        F.length(F.col(text_col))
        - F.length(F.translate(F.col(text_col), " ", ""))
        + 1
    )
    stats = docs.agg(
        F.count("*").alias("_n"),
        F.avg(dl_expr).alias("_avgdl"),
    )
    df_ = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    idf = F.log(
        1.0 + (F.col("_n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_norm = (F.col("tf") * (k1 + 1)) / (
        F.col("tf")
        + k1 * (1 - b + b * F.col("dl") / F.col("_avgdl"))
    )
    return (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("_s", idf * tf_norm)
        .groupBy(id_col)
        .agg(F.sum("_s").alias("bm25"))
    )


def hybrid_search_rrf(
    docs: DataFrame,
    vectors: DataFrame,
    query_terms: list[str],
    query_vec: DataFrame,
    k: int = 10,
    depth: int = 20,
    rrf_k: int = 60,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """RRF fusion of the BM25 top-``depth`` and cosine top-``depth``:
    fused = Σ 1/(rrf_k + rank), full-outer over the two lists (a doc
    ranked by only one tower still scores). ``query_vec`` is a one-row
    DataFrame with column ``qv``, broadcast into the plan (no separate
    driver fetch job). Returns (doc_id, bm25_rank, vec_rank, fused,
    rank) — top-k by fused desc, id asc."""
    kw = bm25_scores(docs, query_terms, id_col, text_col).select(
        F.col(id_col).alias("_id"), F.col("bm25").alias("score")
    )
    kw_top = topk_per_key(kw, [], "_id", depth).select(
        F.col("_id"), F.col("rank").alias("bm25_rank")
    )

    vec = vectors.crossJoin(F.broadcast(query_vec)).select(
        F.col(vec_id_col).alias("_id"),
        F.expr(V.cosine(vec_col, "qv")).alias("score"),
    )
    vec_top = topk_per_key(vec, [], "_id", depth).select(
        F.col("_id"), F.col("rank").alias("vec_rank")
    )

    return rrf_fuse(kw_top, vec_top, k=k, rrf_k=rrf_k, id_col=id_col)


def rrf_fuse(
    kw_top: DataFrame,
    vec_top: DataFrame,
    k: int = 10,
    rrf_k: int = 60,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion of two ranked lists (_id, bm25_rank) and
    (_id, vec_rank): fused = Σ 1/(rrf_k + rank), full-outer so a doc
    ranked by only one tower still scores. Shared by the per-query
    tokenizing path (hybrid_search_rrf) and the materialized-index
    serving path (text_index.hybrid_index_rrf). Thin single-query
    wrapper over ``rrf_fuse_batch`` (constant key) — ONE fusion
    implementation, no drift between the single and batch paths."""
    return rrf_fuse_batch(
        kw_top.withColumn("_q", F.lit(0)),
        vec_top.withColumn("_q", F.lit(0)),
        k=k,
        rrf_k=rrf_k,
        id_col=id_col,
        query_id_col="_q",
    ).drop("_q")


def rrf_fuse_batch(
    kw_top: DataFrame,
    vec_top: DataFrame,
    k: int = 10,
    rrf_k: int = 60,
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Keyed RRF fusion — THE fusion implementation (``rrf_fuse`` is a
    constant-key wrapper). Inputs carry (query_id, _id, bm25_rank) /
    (query_id, _id, vec_rank); the full-outer join and the top-k
    (knn.topk_per_key) both key on query_id, so every query fuses
    inside ONE plan with no per-query loop. The top-k keeps the rank
    payload columns — joining top-k ids back against the fused frame
    would replan both towers (Spark shares no subtrees; measured 10
    scans vs 5). Returns (query_id, doc_id, bm25_rank, vec_rank,
    fused, rank)."""
    fused = (
        kw_top.join(vec_top, [query_id_col, "_id"], "full_outer")
        .withColumn(
            "fused",
            F.round(
                F.coalesce(1.0 / (rrf_k + F.col("bm25_rank")), F.lit(0.0))
                + F.coalesce(1.0 / (rrf_k + F.col("vec_rank")), F.lit(0.0)),
                6,
            ),
        )
    )
    return topk_per_key(fused, query_id_col, "_id", k, score_col="fused").select(
        query_id_col,
        F.col("_id").alias(id_col),
        F.col("bm25_rank").cast("long").alias("bm25_rank"),
        F.col("vec_rank").cast("long").alias("vec_rank"),
        "fused",
        F.col("rank").cast("long").alias("rank"),
    )
