"""Materialized inverted text index: the BM25-serving analog of the
IVF cell layout (ann.ivf_index_build).

Build once: postings (term, doc_id, tf, dl) written as parquet
PARTITIONED BY term-hash bucket, plus a one-row corpus-stats table
(n_docs, avgdl). Query: the literal query terms map to their buckets
driver-side (same portable md5 the build used), so the postings scan
carries a PARTITION-column filter — directory pruning skips every
non-queried bucket before I/O, and the term filter pushes into the
pruned files. df/idf derive from the pruned postings themselves (a
term's postings live entirely inside its bucket), so no separate term
dictionary is needed.

At 100 TB this is the classic search posture: the O(corpus) tokenize +
groupBy happens once at build; a query then reads |query_terms|
buckets ≈ (n_query_buckets / n_buckets) of the index, scores only
matching postings, and top-k's via TakeOrdered — never a full scan.

Reference parity: the BM25 keyword tower of hybrid_search_rrf
(operators/hybrid.py bm25_scores) — identical formula and result
contract, served from the materialized index instead of re-tokenizing
the corpus per query.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import hashing as H
from ..functions import text as X
from ..functions.exact import emit_micro, from_micro, to_micro
from ..functions.vector import lit_array
from .hybrid import BM25_B, BM25_K1


def term_bucket_py(term: str, n_buckets: int) -> int:
    """Driver-side twin of the build's bucket expression: first 15 md5
    hex chars as a 60-bit int (functions.hashing.md5_long), mod
    n_buckets. Must stay in lockstep with keyword_index_build."""
    return int(hashlib.md5(term.encode()).hexdigest()[: H.HEX_WIDTH], 16) % n_buckets


def keyword_index_build(
    docs: DataFrame,
    index_dir: str,
    n_buckets: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """One-off batch index build: tokenize → per-(term, doc) tf with
    doc length → write bucket-partitioned postings + corpus stats.
    One explode → one map-side-combinable groupBy; the write shuffles
    on the partition column so each bucket directory gets locality."""
    toks = docs.select(
        F.col(id_col),
        F.size(F.expr(X.tokens(text_col))).alias("_dl"),
        F.explode(F.expr(X.tokens(text_col))).alias("term"),
    )
    postings = (
        toks.groupBy("term", id_col)
        .agg(F.count("*").cast("double").alias("tf"), F.first("_dl").alias("dl"))
        .withColumn("bucket", (F.expr(H.md5_long("term")) % n_buckets).cast("int"))
    )
    (
        postings.repartition("bucket")
        .write.partitionBy("bucket")
        .mode("overwrite")
        .parquet(f"{index_dir}/postings")
    )
    # corpus constants (allocation-free dl: token count ≡ spaces + 1)
    dl_expr = (
        F.length(F.col(text_col))
        - F.length(F.translate(F.col(text_col), " ", ""))
        + 1
    )
    stats = docs.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.avg(dl_expr).alias("avgdl"),
        # exact corpus token count — the collection-frequency
        # denominator for LM scorers (qlm_dirichlet); kept as a long so
        # p_c(t) = cf/total is engine-exact, unlike n_docs · avgdl
        F.sum(dl_expr).cast("long").alias("total_tokens"),
    )
    stats.coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/stats")
    # VSM norms (Lucene's per-doc norm file): ||d||² under smoothed
    # tf-idf, stored as EXACT micro-unit longs — each term's (tf·idf)²
    # quantizes before the per-doc sum, so the stored norm is
    # order-free and engine-reproducible. Derived from the postings
    # frame (df counts per term), one extra vocabulary join + doc agg
    # at build; readers without the VSM scorer never touch it.
    n_docs_scalar = docs.agg(F.count("*").alias("_n"))
    dfreq_all = postings.groupBy("term").agg(F.count("*").cast("long").alias("_df"))
    idf_all = "ln((_n + 1) / (_df + 1))"
    norm_contrib = F.expr(to_micro(f"(tf * {idf_all}) * (tf * {idf_all})"))
    norms = (
        postings.join(dfreq_all, "term")
        .crossJoin(F.broadcast(n_docs_scalar))
        .groupBy(id_col)
        .agg(F.sum(norm_contrib).alias("norm2_u"))
    )
    norms.write.mode("overwrite").parquet(f"{index_dir}/norms")


def keyword_index_topk(
    spark: SparkSession,
    index_dir: str,
    query_terms: list[str],
    k: int = 10,
    n_buckets: int = 32,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """BM25 top-k served from the materialized index. The bucket IN
    filter is on the PARTITION column (directory pruning — asserted in
    tests), the term IN filter pushes into the pruned parquet files.
    Returns (rank, doc_id, bm25)."""
    scored = bm25_from_index(spark, index_dir, query_terms, n_buckets, k1, b)
    top = scored.orderBy(F.col("_bm25").desc(), F.col("doc_id")).limit(k)
    w = Window.orderBy(F.col("_bm25").desc(), F.col("doc_id"))
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "doc_id",
        F.round("_bm25", 6).alias("bm25"),
    )


def bm25_from_index(
    spark: SparkSession,
    index_dir: str,
    query_terms: list[str],
    n_buckets: int = 32,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Scored (doc_id, _bm25) postings rollup from the materialized
    index — the shared tower behind keyword_index_topk and
    hybrid_index_rrf."""
    buckets = sorted({term_bucket_py(t, n_buckets) for t in query_terms})
    post = (
        spark.read.parquet(f"{index_dir}/postings")
        .filter(F.col("bucket").isin(buckets) & F.col("term").isin(query_terms))
    )
    stats = spark.read.parquet(f"{index_dir}/stats")
    dfreq = post.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    contrib = idf * (
        (F.col("tf") * (k1 + 1.0))
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    return (
        post.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(contrib).alias("_bm25"))
    )


def hybrid_index_rrf(
    spark: SparkSession,
    index_dir: str,
    vectors: DataFrame,
    query_terms: list[str],
    query_vec: DataFrame,
    k: int = 10,
    depth: int = 20,
    rrf_k: int = 60,
    n_buckets: int = 32,
) -> DataFrame:
    """Hybrid retrieval SERVED FROM THE MATERIALIZED INDEX: BM25 tower
    reads only the query terms' pruned postings buckets (no per-query
    corpus tokenize), vector tower is the usual broadcast-query cosine
    scan, fusion is the shared rrf_fuse. Result contract identical to
    hybrid_search_rrf — the production serving shape where the text
    index is built once and queried many times."""
    from ..functions import vector as V
    from .hybrid import rrf_fuse
    from .knn import topk_per_key

    kw = bm25_from_index(spark, index_dir, query_terms, n_buckets).select(
        F.col("doc_id").alias("_id"), F.col("_bm25").alias("score")
    )
    kw_top = topk_per_key(kw, [], "_id", depth).select(
        F.col("_id"), F.col("rank").alias("bm25_rank")
    )
    vec = vectors.crossJoin(F.broadcast(query_vec)).select(
        F.col("vec_id").alias("_id"),
        F.expr(V.cosine("embedding", "qv")).alias("score"),
    )
    vec_top = topk_per_key(vec, [], "_id", depth).select(
        F.col("_id"), F.col("rank").alias("vec_rank")
    )
    return rrf_fuse(kw_top, vec_top, k=k, rrf_k=rrf_k, id_col="doc_id")


def keyword_index_batch(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, list[str]]],
    k: int = 10,
    n_buckets: int = 32,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Batch BM25 serving: MANY keyword queries against the
    materialized index in ONE plan — the nightly-eval / offline-rerank
    shape (keyword_index_topk is the single-query latency shape).

    The union of all queries' terms prunes the postings read once
    (partition-column bucket IN + term IN pushed into the pruned
    files); a broadcast (query_id, term) frame fans each posting out
    only to the queries that asked for its term; df/idf compute once
    per term and are shared across queries; per-query top-k is
    knn.topk_per_key. Adding a query to the batch costs only its term
    fan-out — the index I/O is shared.

    NOTE: the BM25 pruning/df/idf/contrib expressions intentionally
    mirror ``bm25_from_index`` (kept separate so the driver-green
    single-query plan stays byte-stable); formula drift between the
    two is caught by tests/test_text_index.py's batch-vs-single
    equality tests.
    Returns (query_id, rank, doc_id, bm25)."""
    from .knn import topk_per_key

    all_terms = sorted({t for _, ts in queries for t in ts})
    buckets = sorted({term_bucket_py(t, n_buckets) for t in all_terms})
    post = (
        spark.read.parquet(f"{index_dir}/postings")
        .filter(F.col("bucket").isin(buckets) & F.col("term").isin(all_terms))
    )
    stats = spark.read.parquet(f"{index_dir}/stats")
    dfreq = post.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    qt = spark.createDataFrame(
        [(qid, t) for qid, ts in queries for t in ts], "query_id long, term string"
    )
    idf = F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    contrib = idf * (
        (F.col("tf") * (k1 + 1.0))
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    scored = (
        post.join(F.broadcast(qt), "term")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(F.sum(contrib).alias("_bm25"))
    )
    top = topk_per_key(scored, "query_id", "doc_id", k, score_col="_bm25")
    return top.select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        "doc_id",
        F.round("_bm25", 6).alias("bm25"),
    )


def hybrid_index_batch(
    spark: SparkSession,
    index_dir: str,
    vectors: DataFrame,
    queries: list[tuple[int, list[str]]],
    query_vecs: DataFrame,
    k: int = 10,
    depth: int = 20,
    rrf_k: int = 60,
    n_buckets: int = 32,
) -> DataFrame:
    """Batch hybrid retrieval from the materialized index: MANY
    (terms, vector) queries fused in ONE plan — the completion of the
    built-once / served-many story across BOTH towers. Keyword tower =
    keyword_index_batch (shared pruned postings read, per-query agg
    top-depth); vector tower = one broadcast batch-kNN corpus pass for
    every query vector; fusion = rrf_fuse_batch keyed on query_id.
    ``query_vecs`` is a (query_id, query_vec) frame aligned with
    ``queries``' ids. Returns (query_id, doc_id, bm25_rank, vec_rank,
    fused, rank)."""
    from .hybrid import rrf_fuse_batch
    from .knn import topk_batch

    kw_top = keyword_index_batch(
        spark, index_dir, queries, k=depth, n_buckets=n_buckets
    ).select(
        "query_id", F.col("doc_id").alias("_id"), F.col("rank").alias("bm25_rank")
    )
    vec_top = topk_batch(vectors, query_vecs, k=depth).select(
        "query_id", F.col("vec_id").alias("_id"), F.col("rank").alias("vec_rank")
    )
    return rrf_fuse_batch(kw_top, vec_top, k=k, rrf_k=rrf_k)


def positional_index_build(
    docs: DataFrame,
    index_dir: str,
    n_buckets: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Positional postings build — the phrase-query extension of the
    inverted index (the classic IR positional index, Manning IR ch.2):
    (term, doc_id, sorted position array) written bucket-partitioned
    exactly like the tf postings, as its own heavier layout
    (``postings_pos``). Positions come from posexplode BEFORE any
    token filter, so they index the original token stream. One explode
    + one map-side-combinable groupBy; collect_list is bounded by a
    term's per-doc tf."""
    toks = docs.select(
        F.col(id_col),
        F.posexplode(F.expr(X.tokens(text_col))).alias("pos", "term"),
    ).filter(F.col("term") != "")
    postings = (
        toks.groupBy("term", id_col)
        .agg(F.sort_array(F.collect_list(F.col("pos").cast("int"))).alias("positions"))
        .withColumn("bucket", (F.expr(H.md5_long("term")) % n_buckets).cast("int"))
    )
    (
        postings.repartition("bucket")
        .write.partitionBy("bucket")
        .mode("overwrite")
        .parquet(f"{index_dir}/postings_pos")
    )


def _shift_positions(col, off: int):
    """Positions shifted left by ``off`` (term i's positions become
    candidate phrase-start positions)."""
    return F.expr(f"transform({col}, p -> p - {int(off)})") if off else F.col(col)


def phrase_topk(
    spark: SparkSession,
    index_dir: str,
    phrase: list[str],
    k: int = 10,
    n_buckets: int = 32,
) -> DataFrame:
    """Exact phrase query over the positional index: doc matches where
    the phrase's terms occur at consecutive positions; score = number
    of phrase occurrences. Term i's positions shift left by i, and the
    intersection of all shifted arrays IS the set of phrase starts —
    per-doc array ops only, no positional explode at query time.

    Scale posture: the bucket IN filter is on the PARTITION column
    (directory pruning, same as the tf postings); each join is an
    equi-join on doc_id between term posting lists whose sizes are
    df(term) — the classic intersect-smallest-lists-first cost, here
    left to AQE since runtime sizes drive the join order. Returns
    (rank, doc_id, n_phrase), phrase-count descending."""
    if len(phrase) < 2:
        raise ValueError("phrase needs >= 2 terms")
    buckets = sorted({term_bucket_py(t, n_buckets) for t in phrase})
    post = spark.read.parquet(f"{index_dir}/postings_pos").filter(
        F.col("bucket").isin(buckets) & F.col("term").isin(sorted(set(phrase)))
    )
    joined = None
    for i, t in enumerate(phrase):
        pi = post.filter(F.col("term") == t).select(
            F.col("doc_id"),
            _shift_positions("positions", i).alias(f"_p{i}"),
        )
        joined = pi if joined is None else joined.join(pi, "doc_id")
    starts = F.col("_p0")
    for i in range(1, len(phrase)):
        starts = F.array_intersect(starts, F.col(f"_p{i}"))
    scored = joined.select(
        "doc_id", F.size(starts).cast("long").alias("n_phrase")
    ).filter(F.col("n_phrase") > 0)
    top = scored.orderBy(F.col("n_phrase").desc(), F.col("doc_id")).limit(k)
    w = Window.orderBy(F.col("n_phrase").desc(), F.col("doc_id"))
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"), "doc_id", "n_phrase"
    )


# ---------------------------------------------------------------------------
# Incremental index maintenance (the LSM posture of streaming/pipeline.py's
# IVF maintenance, applied to the inverted index): a mergeable layout whose
# postings are partitioned by (batch, bucket) with a tiny commit ledger.
# New corpus slices merge in WITHOUT re-tokenizing the base — at 100 TB the
# nightly ingest appends its own postings partitions (cost = O(new docs))
# while serving keeps reading the same directory with the same bucket
# pruning; only the O(n_batches)-row ledger and the 1-row stats cache are
# rewritten.
# ---------------------------------------------------------------------------


def _batch_postings(docs: DataFrame, batch_id: int, n_buckets: int,
                    id_col: str, text_col: str) -> DataFrame:
    """(term, doc_id, tf, dl, batch, bucket) postings rows for one
    corpus slice — identical per-row contract to keyword_index_build,
    plus the batch stamp that makes replays overwrite themselves."""
    toks = docs.select(
        F.col(id_col),
        F.size(F.expr(X.tokens(text_col))).alias("_dl"),
        F.explode(F.expr(X.tokens(text_col))).alias("term"),
    )
    return (
        toks.groupBy("term", id_col)
        .agg(F.count("*").cast("double").alias("tf"), F.first("_dl").alias("dl"))
        .withColumn("batch", F.lit(batch_id).cast("int"))
        .withColumn("bucket", (F.expr(H.md5_long("term")) % n_buckets).cast("int"))
    )


def _ledger_row(docs: DataFrame, batch_id: int, text_col: str) -> DataFrame:
    """One (batch, n_docs, sum_dl) commit row — the idempotence ledger
    AND the stats source (avgdl = sum(sum_dl)/sum(n_docs), exact under
    any merge order). dl uses the allocation-free spaces+1 identity."""
    dl_expr = (
        F.length(F.col(text_col))
        - F.length(F.translate(F.col(text_col), " ", ""))
        + 1
    )
    return docs.agg(
        F.lit(batch_id).cast("int").alias("batch"),
        F.count("*").cast("long").alias("n_docs"),
        F.sum(dl_expr).cast("long").alias("sum_dl"),
    )


def _refresh_stats(spark: SparkSession, index_dir: str) -> None:
    """Rebuild the 1-row (n_docs, avgdl) stats cache from the ledger so
    the serving path (bm25_from_index) stays byte-identical to the
    non-mergeable layout's."""
    led = spark.read.parquet(f"{index_dir}/ledger")
    stats = led.agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        (F.sum("sum_dl") / F.sum("n_docs")).alias("avgdl"),
    )
    stats.coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/stats")


def mergeable_index_build(
    docs: DataFrame,
    index_dir: str,
    n_buckets: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Bulk build of the MERGEABLE inverted-index layout: postings
    partitioned by (batch, bucket) with the bulk corpus as batch 0,
    plus the commit ledger and the derived stats cache. Serving is
    unchanged — bm25_from_index reads the same paths with the same
    bucket pruning (batch is just one more partition level)."""
    spark = docs.sparkSession
    post = _batch_postings(docs, 0, n_buckets, id_col, text_col)
    (
        post.repartition("bucket")
        .write.partitionBy("batch", "bucket")
        .mode("overwrite")
        .parquet(f"{index_dir}/postings")
    )
    _ledger_row(docs, 0, text_col).coalesce(1).write.mode("overwrite").parquet(
        f"{index_dir}/ledger"
    )
    _refresh_stats(spark, index_dir)


def keyword_index_merge(
    spark: SparkSession,
    docs_new: DataFrame,
    index_dir: str,
    batch_id: int,
    n_buckets: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """Merge a new corpus slice into a mergeable index — idempotent and
    crash-convergent:

    1. batch already in the ledger → only refresh the stats cache (the
       repair for a crash between ledger append and stats rewrite) and
       skip: replays cannot double-insert.
    2. else write the slice's postings with DYNAMIC partition
       overwrite — the write replaces exactly its own batch=<id>
       partitions, so a replay after a crashed or un-acked write lands
       on clean state instead of appending duplicates.
    3. append the ledger row — THE commit point — then refresh stats.

    A crash at any boundary leaves the index serving a consistent
    prefix of committed batches, and re-running the same merge
    converges. Only the new slice is ever tokenized."""
    committed = {
        r["batch"]
        for r in spark.read.parquet(f"{index_dir}/ledger").select("batch").collect()
    }
    if batch_id in committed:
        _refresh_stats(spark, index_dir)
        return "skipped"
    post = _batch_postings(docs_new, batch_id, n_buckets, id_col, text_col)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            post.repartition("bucket")
            .write.partitionBy("batch", "bucket")
            .mode("overwrite")
            .parquet(f"{index_dir}/postings")
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    _ledger_row(docs_new, batch_id, text_col).coalesce(1).write.mode("append").parquet(
        f"{index_dir}/ledger"
    )
    _refresh_stats(spark, index_dir)
    return "merged"


def query_expansion_prf(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    query_terms: list[str],
    n_feedback: int = 10,
    n_expansion: int = 10,
    n_buckets: int = 32,
) -> DataFrame:
    """RM3-style pseudo-relevance feedback (Lavrenko & Croft SIGIR'01;
    Lucene's RM3 rerank): run the query against the MATERIALIZED BM25
    index, take the top-``n_feedback`` docs as pseudo-relevant, and
    mine expansion terms weighted by relevance-model mass
    w(t) = Σ_d (tf(t,d)/dl(d)) · bm25(d) — term likelihood in the
    feedback doc times the doc's retrieval score.

    Physical posture: the first tower is the shared bucket-pruned
    bm25_from_index scan; the feedback set is ≤ n_feedback rows and
    BROADCASTS back onto the documents table (constant-bounded hint —
    allowed), so only the feedback docs are ever tokenized — the
    expansion pass costs O(n_feedback docs), not a corpus scan.
    Per-doc contributions quantize to exact micro-unit longs (from the
    6-decimal-rounded bm25, so the quantized input is engine-stable),
    making the cross-doc weight sum order-free. Original query terms
    are excluded; top expansion terms via sort-limit.

    Returns (rank, term, weight, n_docs) — the expanded query a
    second-pass retrieval would run."""
    fb = (
        bm25_from_index(spark, index_dir, query_terms, n_buckets)
        .orderBy(F.col("_bm25").desc(), "doc_id")
        .limit(n_feedback)
        .select("doc_id", F.round("_bm25", 6).alias("_bm25"))
    )
    ft = docs.join(F.broadcast(fb), "doc_id").select(
        "doc_id",
        "_bm25",
        F.size(F.expr(X.tokens("text"))).alias("_dl"),
        F.explode(F.expr(X.tokens("text"))).alias("term"),
    )
    tf = (
        ft.filter((F.col("term") != "") & ~F.col("term").isin(query_terms))
        .groupBy("term", "doc_id")
        .agg(
            F.count("*").cast("double").alias("tf"),
            F.first("_dl").alias("dl"),
            F.first("_bm25").alias("bm25"),
        )
    )
    contrib_u = F.expr(to_micro("tf / dl * bm25"))
    wt = tf.groupBy("term").agg(
        F.sum(contrib_u).alias("_wu"),
        F.count("*").cast("long").alias("n_docs"),
    )
    top = wt.orderBy(F.col("_wu").desc(), "term").limit(n_expansion)
    w = Window.orderBy(F.col("_wu").desc(), "term")
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "term",
        F.expr(emit_micro("_wu")).alias("weight"),
        "n_docs",
    )


def rerank_two_stage(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    query_terms: list[str],
    depth: int = 20,
    k: int = 10,
    n_buckets: int = 32,
) -> DataFrame:
    """Two-stage retrieval: cheap index-served BM25 recall at
    ``depth``, then a precise rerank of only those candidates — the
    retrieve-then-rerank shape every production search/RAG stack runs
    (the reranker here is a deterministic lexical scorer, token-set
    Jaccard against the query; the documented swap point for a
    cross-encoder Pandas-UDF, same literal-stand-in posture as the
    hash embedder).

    Physical posture: stage 1 is the bucket-pruned postings tower,
    TakeOrdered to ``depth`` rows; the candidate set BROADCASTS onto
    documents (constant-bounded hint), so stage 2 tokenizes ``depth``
    docs — never the corpus. Jaccard is a ratio of exact ints;
    ordering is (jaccard, bm25, doc_id) on engine-stable values.
    Returns (rank, doc_id, jaccard, bm25)."""
    first = (
        bm25_from_index(spark, index_dir, query_terms, n_buckets)
        .orderBy(F.col("_bm25").desc(), "doc_id")
        .limit(depth)
        .select("doc_id", F.round("_bm25", 6).alias("bm25"))
    )
    qset = sorted(set(query_terms))
    toks = F.array_distinct(F.expr(X.tokens("text")))
    inter = F.size(F.array_intersect(toks, lit_array(qset)))
    jac = F.round(inter / (F.size(toks) + F.lit(len(qset)) - inter), 6)
    cand = docs.join(F.broadcast(first), "doc_id").select(
        "doc_id", "bm25", jac.alias("jaccard")
    )
    top = cand.orderBy(F.col("jaccard").desc(), F.col("bm25").desc(), "doc_id").limit(k)
    w = Window.orderBy(F.col("jaccard").desc(), F.col("bm25").desc(), "doc_id")
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "doc_id",
        "jaccard",
        "bm25",
    )


def qlm_dirichlet_topk(
    spark: SparkSession,
    index_dir: str,
    query_terms: list[str],
    k: int = 10,
    mu: float = 100.0,
    n_buckets: int = 32,
) -> DataFrame:
    """Query-likelihood retrieval with Dirichlet smoothing (Zhai &
    Lafferty SIGIR'01 — the LM scorer next to BM25, the other classic
    probabilistic ranking function), served from the SAME materialized
    index: score(d) = Σ_t ln(1 + tf_td/(μ·p_c(t))) + |q|·ln(μ/(dl_d+μ))
    — the rank-equivalent decomposition that lets matched postings
    alone drive the sum (unmatched docs need no rows).

    p_c(t) = cf_t / total_tokens uses the EXACT corpus token count the
    build stores (collection frequency comes from the pruned postings
    themselves — a term's postings live wholly in its bucket, so cf
    needs no extra dictionary). Same bucket-directory pruning as
    keyword_index_topk. Returns (rank, doc_id, qlm)."""
    buckets = sorted({term_bucket_py(t, n_buckets) for t in query_terms})
    post = spark.read.parquet(f"{index_dir}/postings").filter(
        F.col("bucket").isin(buckets) & F.col("term").isin(query_terms)
    )
    stats = spark.read.parquet(f"{index_dir}/stats")
    cf = post.groupBy("term").agg(F.sum("tf").alias("cf"))
    contrib = F.log(
        1.0 + F.col("tf") / (F.lit(mu) * (F.col("cf") / F.col("total_tokens")))
    )
    scored = (
        post.join(F.broadcast(cf), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            (
                F.sum(contrib)
                + F.lit(float(len(query_terms)))
                * F.log(F.lit(mu) / (F.first("dl") + F.lit(mu)))
            ).alias("_qlm")
        )
    )
    top = scored.orderBy(F.col("_qlm").desc(), "doc_id").limit(k)
    w = Window.orderBy(F.col("_qlm").desc(), "doc_id")
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "doc_id",
        F.round("_qlm", 6).alias("qlm"),
    )


def tfidf_vsm_topk(
    spark: SparkSession,
    index_dir: str,
    query_terms: list[str],
    k: int = 10,
    n_buckets: int = 32,
) -> DataFrame:
    """Vector-space-model retrieval (Salton's tf-idf cosine — the
    third classic scorer beside BM25 and Dirichlet QLM, all served
    from the SAME materialized index): score(d) =
    Σ_{t∈q} tf_td·idf_t² / (||d|| · ||q||) with smoothed
    idf = ln((N+1)/(df+1)) and the query as a binary term vector
    weighted by idf. Doc norms come from the build's norms table
    (Lucene's norm file — stored as exact micro-unit longs, so the
    value measured against is engine-reproducible); query-time idf
    recomputes from the PRUNED buckets and equals the build's values
    because a term's postings live wholly in its bucket.

    The scored side is |docs matching ≥1 term| rows; AQE broadcasts it
    against the norms table, so the norms scan streams without a
    corpus shuffle. Returns (rank, doc_id, vsm)."""
    buckets = sorted({term_bucket_py(t, n_buckets) for t in query_terms})
    post = spark.read.parquet(f"{index_dir}/postings").filter(
        F.col("bucket").isin(buckets) & F.col("term").isin(query_terms)
    )
    stats = spark.read.parquet(f"{index_dir}/stats")
    norms = spark.read.parquet(f"{index_dir}/norms")
    dfreq = post.groupBy("term").agg(F.count("*").cast("long").alias("_df"))
    idf = F.log((F.col("n_docs") + 1) / (F.col("_df") + 1))
    num = (
        post.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("tf") * idf * idf).alias("_num"),
            F.sum(idf * idf).alias("_q2"),
        )
    )
    # ||q||² over the FULL query term set (not just terms a doc
    # matched): constant per query, computed from the pruned dfreq
    q2 = (
        dfreq.crossJoin(F.broadcast(stats))
        .agg(F.sum(idf * idf).alias("_qnorm2"))
    )
    scored = (
        num.drop("_q2")
        .join(norms, "doc_id")
        .crossJoin(F.broadcast(q2))
        .select(
            "doc_id",
            F.expr(f"_num / (sqrt({from_micro('norm2_u')}) * sqrt(_qnorm2))").alias("_vsm"),
        )
    )
    top = scored.orderBy(F.col("_vsm").desc(), "doc_id").limit(k)
    w = Window.orderBy(F.col("_vsm").desc(), "doc_id")
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "doc_id",
        F.round("_vsm", 6).alias("vsm"),
    )


def hybrid_combsum(
    spark: SparkSession,
    index_dir: str,
    vectors: DataFrame,
    query_terms: list[str],
    query_vec: DataFrame,
    k: int = 10,
    depth: int = 20,
    n_buckets: int = 32,
) -> DataFrame:
    """CombSUM / CombMNZ score fusion (Fox & Shaw TREC'94 — the
    score-based fusion family beside rank-based RRF): each tower's
    top-``depth`` scores min-max normalize to [0,1] WITHIN the tower
    (the comparable-score trick), CombSUM adds them, CombMNZ
    multiplies by the number of towers that retrieved the doc —
    rewarding multi-tower agreement more aggressively than RRF does.

    Determinism: tower scores round to 6 dp BEFORE normalization, so
    min/max and the normalized ratios are engine-stable; fusion is a
    fixed-order sum of two doubles. The normalization windows run over
    ``depth``-row frames, never the corpus; towers share the
    bucket-pruned postings read and the broadcast-query cosine scan
    with the RRF path. Returns (rank, doc_id, combsum, combmnz,
    n_towers)."""
    from ..functions import vector as V

    kw = (
        bm25_from_index(spark, index_dir, query_terms, n_buckets)
        .orderBy(F.col("_bm25").desc(), "doc_id")
        .limit(depth)
        .select("doc_id", F.round("_bm25", 6).alias("_s"))
    )
    vec = (
        vectors.crossJoin(F.broadcast(query_vec))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.expr(V.cosine("embedding", "qv")).alias("_raw"),
        )
        .orderBy(F.col("_raw").desc(), "doc_id")
        .limit(depth)
        .select("doc_id", F.round("_raw", 6).alias("_s"))
    )

    def norm(df: DataFrame, out: str) -> DataFrame:
        w = Window.partitionBy()
        lo, hi = F.min("_s").over(w), F.max("_s").over(w)
        return df.select(
            "doc_id",
            F.when(hi == lo, F.lit(1.0)).otherwise((F.col("_s") - lo) / (hi - lo)).alias(out),
        )

    kn = norm(kw, "_kn")
    vn = norm(vec, "_vn")
    fused = kn.join(vn, "doc_id", "full_outer").select(
        "doc_id",
        (F.coalesce("_kn", F.lit(0.0)) + F.coalesce("_vn", F.lit(0.0))).alias("_sum"),
        (F.col("_kn").isNotNull().cast("int") + F.col("_vn").isNotNull().cast("int"))
        .cast("long")
        .alias("n_towers"),
    )
    scored = fused.select(
        "doc_id",
        "_sum",
        (F.col("_sum") * F.col("n_towers")).alias("_mnz"),
        "n_towers",
    )
    top = scored.orderBy(F.col("_mnz").desc(), "doc_id").limit(k)
    w = Window.orderBy(F.col("_mnz").desc(), "doc_id")
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "doc_id",
        F.round("_sum", 6).alias("combsum"),
        F.round("_mnz", 6).alias("combmnz"),
        "n_towers",
    )
