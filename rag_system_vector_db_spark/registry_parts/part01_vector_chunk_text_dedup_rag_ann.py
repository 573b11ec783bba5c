"""Vector store / RAG core — mechanical split of registry.py (r6), statements unedited.

Registered into the shared QUERIES/ORACLES/LAZY_ORACLES dicts in
:mod:`..registry_core`; imported (in order) by :mod:`..registry`.
"""

from __future__ import annotations

import math as _math  # noqa: F401
import os as _os  # noqa: F401

from collections.abc import Callable  # noqa: F401

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from ..functions import hashing as H  # noqa: F401
from ..functions import vector as V  # noqa: F401
from ..functions.exact import MICRO, dd_round_div, emit_micro, from_micro, round6, round_div, to_micro  # noqa: F401
from ..operators import ann, chunking, knn, text_analysis  # noqa: F401
from ..operators.text_analysis import STOPWORDS  # noqa: F401
from ..operators.vector_store import resolve_log
from ..sources import load_table  # noqa: F401

from ..registry_core import (  # noqa: F401
    LAZY_ORACLES,
    ORACLES,
    QUERIES,
    query,
)


@query(
    "collection_stats",
    oracle="""
    SELECT source,
           count(*) AS n_rows,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           round(avg(n_chars), 6) AS avg_chars,
           min(doc_id) AS min_id,
           max(doc_id) AS max_id
    FROM documents
    GROUP BY source
    """,
)
def collection_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collection describe/stats (milvus_db.py:70 get_collection_stats)."""
    return (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
    )


@query(
    "query_entities_filter",
    oracle="""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE lang = 'en' AND n_chars > 300
    ORDER BY doc_id
    LIMIT 50
    """,
)
def query_entities_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered entity query with projection + limit (milvus_db.py:51
    query_entities). Filter + projection push down to the parquet scan."""
    return (
        load_table(spark, sf_dir, "documents")
        .filter((F.col("lang") == "en") & (F.col("n_chars") > 300))
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
        .limit(50)
    )


@query(
    "scan_paginated",
    oracle="""
    SELECT doc_id, source,
           CAST(floor((row_number() OVER (ORDER BY doc_id) - 1) / 100) AS BIGINT) AS page
    FROM documents
    """,
)
def scan_paginated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable-order paginated full scan (milvus_db.py:77 get_all_entities).
    Page = batch index at batch_size=100.

    Two-pass global ranking (r9, found by the bounded-window lint):
    the old single `row_number() OVER (ORDER BY doc_id)` funnelled the
    whole fact table through ONE partition. Instead, rank = per-bucket
    row_number + bucket offset, where buckets are order-preserving
    doc_id ranges (floor(doc_id/4096)): pass 1 is a map-side-combined
    count per bucket plus a prefix sum over the (N/4096-row) bucket
    aggregate; pass 2 ranks within buckets in parallel. Identical
    output — floor(doc_id/4096) is monotone, so offset + intra-bucket
    rank IS the global rank."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    b = docs.withColumn("_bkt", F.floor(F.col("doc_id") / 4096))
    offs = (
        b.groupBy("_bkt")
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            "_bkt",
            (F.sum("_n").over(Window.orderBy("_bkt")) - F.col("_n")).alias("_off"),
        )
    )
    rn = F.row_number().over(Window.partitionBy("_bkt").orderBy("doc_id"))
    return (
        b.join(F.broadcast(offs), "_bkt")
        .select(
            "doc_id",
            "source",
            F.floor((F.col("_off") + rn - 1) / 100).cast("long").alias("page"),
        )
    )


@query(
    "get_entities_by_ids",
    oracle="""
    SELECT doc_id, text, n_chars
    FROM documents
    WHERE doc_id IN (3, 7, 11, 101, 263, 499)
    """,
)
def get_entities_by_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup by id list (milvus_db.py:99 get_entities_by_ids)."""
    ids = [3, 7, 11, 101, 263, 499]
    return (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isin(ids))
        .select("doc_id", "text", "n_chars")
    )


@query(
    "insert_upsert",
    oracle="""
    WITH existing AS (
        SELECT vec_id, label, 0 AS batch FROM embeddings WHERE vec_id < 100
    ), incoming AS (
        SELECT vec_id, label + 1000 AS label, 1 AS batch
        FROM embeddings WHERE vec_id >= 50 AND vec_id < 150
    ), unioned AS (
        SELECT * FROM existing UNION ALL SELECT * FROM incoming
    )
    SELECT vec_id, label, batch FROM (
        SELECT *, row_number() OVER (ORDER BY batch DESC, vec_id) AS _rn,
               row_number() OVER (PARTITION BY vec_id ORDER BY batch DESC) AS rn
        FROM unioned
    ) WHERE rn = 1
    """,
)
def insert_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Insert with last-write-wins upsert by primary key (milvus_db.py:61
    insert_vectors), resolved by the vector store's own upsert-log rule."""
    emb = load_table(spark, sf_dir, "embeddings")
    existing = emb.filter(F.col("vec_id") < 100).select(
        "vec_id", "label", F.lit(0).alias("_batch")
    )
    incoming = emb.filter((F.col("vec_id") >= 50) & (F.col("vec_id") < 150)).select(
        "vec_id", (F.col("label") + 1000).alias("label"), F.lit(1).alias("_batch")
    )
    return resolve_log(existing.unionAll(incoming), "vec_id").select(
        "vec_id", "label", F.col("_batch").alias("batch")
    )


@query(
    "vector_norms",
    oracle=f"""
    SELECT vec_id, round({V.dd_l2_norm('embedding')}, 6) AS norm
    FROM embeddings
    WHERE vec_id < 100
    """,
)
def vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norms (reference normalize_embeddings=True check,
    prepare_data.py:54 / tests/model_test.py)."""
    return (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 100)
        .select("vec_id", F.round(F.expr(V.l2_norm("embedding")), 6).alias("norm"))
    )


def _query_corpus(corpus: DataFrame, emb: DataFrame, vec_id: int):
    """(corpus, query vector) for a literal-vector search by embeddings
    row ``vec_id``. Without that row nothing is scored: the oracles'
    join with an empty ``q`` CTE returns no rows either."""
    row = emb.filter(F.col("vec_id") == vec_id).select("embedding").first()
    return (corpus, list(row[0])) if row else (corpus.limit(0), [])


@query(
    "knn_topk_cosine",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, round(score, 6) AS score FROM (
        SELECT e.vec_id, {V.dd_cosine('e.embedding', 'q.qv')} AS score
        FROM embeddings e, q
        WHERE e.vec_id <> 0
        ORDER BY score DESC, e.vec_id
        LIMIT 10
    )
    """,
)
def knn_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-query brute-force cosine top-k (milvus_db.py:107
    search_vectors). Plan: narrow projection + TakeOrderedAndProject
    (per-partition k-heap, no full sort)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = knn.topk(*_query_corpus(emb.filter(F.col("vec_id") != 0), emb, 0), k=10)
    return out.withColumn("score", F.round("score", 6))


@query(
    "knn_batch",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS query_vec
        FROM embeddings WHERE vec_id < 5
    ), scored AS (
        SELECT q.query_id, e.vec_id,
               {V.dd_cosine('e.embedding', 'q.query_vec')} AS score
        FROM embeddings e, q
    ), ranked AS (
        SELECT query_id, vec_id, score,
               row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
        FROM scored
    )
    SELECT query_id, vec_id, round(score, 6) AS score, rank
    FROM ranked WHERE rank <= 10
    """,
)
def knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch retrieval: per-query top-k (eval.py:80 retrieval loop,
    vectorized). Broadcast query side; two-phase partial top-k prune."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = knn.topk_batch(emb, queries, k=10)
    return out.select(
        "query_id", "vec_id", F.round("score", 6).alias("score"), F.col("rank").cast("long")
    )


@query(
    "knn_batch_np",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS query_vec
        FROM embeddings WHERE vec_id < 5
    ), scored AS (
        SELECT q.query_id, e.vec_id,
               {V.dd_cosine('e.embedding', 'q.query_vec')} AS score
        FROM embeddings e, q
    ), ranked AS (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
        FROM scored
    )
    SELECT query_id, vec_id, rank FROM ranked WHERE rank <= 10
    """,
)
def knn_batch_np(spark, sf_dir):
    """Arrow+BLAS batch kNN — raw-throughput twin of knn_batch. The
    registry surface hash-checks the DETERMINISTIC columns
    (query_id, vec_id, rank — BLAS ordering agrees with exact-sum
    ordering wherever score gaps exceed ulp noise, which the gate now
    proves per sf); the float scores differ from the sequential-sum
    HOF path in last-ulp rounding and stay un-oracled — read them off
    knn.topk_batch_np directly (VERDICT r6 "Next round #7")."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = knn.topk_batch_np(emb, queries, k=10)
    return out.select("query_id", "vec_id", F.col("rank").cast("long"))


@query(
    "similarity_matrix",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({V.dd_cosine('a.embedding', 'b.embedding')}, 6) AS score
    FROM embeddings a, embeddings b
    WHERE a.vec_id < 20 AND b.vec_id < 20
    """,
)
def similarity_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine matrix on a bounded subset (prepare_data.py:101
    test_similarity)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 20)
    out = knn.similarity_matrix(emb)
    return out.withColumn("score", F.round("score", 6))


# ---------------------------------------------------------------------------
# Chunking / ingestion (reference parity: src/chunking_strategy.py)
# ---------------------------------------------------------------------------

# Shared DuckDB CTE: diary-shaped line stream synthesized from documents
# (must match operators.chunking.diary_lines exactly).
_DD_DIARY_LINES = """
    toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id < 50
    ), linesarr AS (
        SELECT doc_id,
               [CAST(doc_id % 28 + 1 AS VARCHAR) || ' Day of March 1887 - Entry ' || CAST(doc_id AS VARCHAR)]
               || [array_to_string(t[i*5+1 : i*5+5], ' ') FOR i IN range(CAST(ceil(len(t)/5.0) AS BIGINT))] AS ls
        FROM toks
    ), lines AS (
        SELECT doc_id,
               CAST(generate_subscripts(ls, 1) - 1 AS BIGINT) AS line_no,
               unnest(ls) AS line
        FROM linesarr
    )
"""

_DD_DIARY_CHUNKS = _DD_DIARY_LINES + """
    , stripped AS (
        SELECT doc_id, line_no, trim(line) AS line
        FROM lines WHERE trim(line) <> ''
    ), lined AS (
        SELECT doc_id, line_no, line,
               regexp_matches(line, '^\\d{1,2}(st|nd|rd|th)? Day of [A-Za-z]+ 18\\d{2} - .+$') AS is_date,
               CAST(sum(CASE WHEN regexp_matches(line, '^\\d{1,2}(st|nd|rd|th)? Day of [A-Za-z]+ 18\\d{2} - .+$') THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY line_no) AS BIGINT) AS day_id
        FROM stripped
    ), days AS (
        SELECT doc_id, day_id, regexp_extract(line, ' - (.+)$', 1) AS title
        FROM lined WHERE is_date
    ), date_chunks AS (
        SELECT doc_id, day_id, CAST(-1 AS BIGINT) AS chunk_id, true AS is_date_chunk,
               line AS chunk_text, CAST(1 AS BIGINT) AS line_count,
               CAST(len(regexp_split_to_array(line, '\\s+')) AS BIGINT) AS word_count
        FROM lined WHERE is_date
    ), content AS (
        SELECT doc_id, day_id, line_no, line,
               row_number() OVER (PARTITION BY doc_id, day_id ORDER BY line_no) AS rn
        FROM lined WHERE NOT is_date AND day_id >= 1
    ), content_chunks AS (
        SELECT doc_id, day_id, CAST(floor((rn - 1) / 3) AS BIGINT) AS chunk_id,
               false AS is_date_chunk,
               string_agg(line, chr(10) ORDER BY line_no) AS chunk_text,
               CAST(count(*) AS BIGINT) AS line_count,
               CAST(sum(len(regexp_split_to_array(line, '\\s+'))) AS BIGINT) AS word_count
        FROM content
        GROUP BY doc_id, day_id, CAST(floor((rn - 1) / 3) AS BIGINT)
    ), chunks AS (
        SELECT c.*, d.title
        FROM (SELECT * FROM date_chunks UNION ALL SELECT * FROM content_chunks) c
        JOIN days d USING (doc_id, day_id)
    )
"""


@query(
    "chunk_documents",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), chunked AS (
        SELECT doc_id,
               [array_to_string(t[i*40+1 : i*40+40], ' ') FOR i IN range(CAST(ceil(len(t)/40.0) AS BIGINT))] AS chunks
        FROM toks
    )
    SELECT doc_id,
           CAST(generate_subscripts(chunks, 1) - 1 AS BIGINT) AS chunk_number,
           unnest(chunks) AS chunk_text,
           CAST(len(string_split(unnest(chunks), ' ')) AS BIGINT) AS word_count,
           CAST(length(unnest(chunks)) AS BIGINT) AS n_chars
    FROM chunked
    """,
)
def chunk_documents(spark, sf_dir):
    """Fixed token-window chunking with per-chunk metadata
    (chunking_strategy.py:19 analog on the flat corpus)."""
    return chunking.chunk_by_tokens(load_table(spark, sf_dir, "documents"), window=40)


@query("chunk_diary", oracle="WITH " + _DD_DIARY_CHUNKS + """
    SELECT doc_id, day_id, chunk_id, is_date_chunk, chunk_text,
           line_count, word_count, title
    FROM chunks
    """)
def chunk_diary(spark, sf_dir):
    """Diary chunker: date-regex day detection + chunk-per-3-lines +
    day metadata (chunking_strategy.py:19 process_diary_chunks)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    lines = chunking.diary_lines(docs)
    return chunking.chunk_diary(lines)


@query("chunk_stats", oracle="WITH " + _DD_DIARY_CHUNKS + """
    SELECT doc_id,
           CAST(count(DISTINCT day_id) AS BIGINT) AS total_days,
           CAST(count(*) AS BIGINT) AS total_chunks,
           round(count(*) / count(DISTINCT day_id), 6) AS avg_chunks_per_day
    FROM chunks GROUP BY doc_id
    """)
def chunk_stats(spark, sf_dir):
    """Corpus chunk metadata rollup (chunking_strategy.py:115)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return chunking.diary_stats(chunking.chunk_diary(chunking.diary_lines(docs)))


@query(
    "split_large_chunks",
    # The greedy per-chunk split loop is sequential in Spark (Arrow
    # mapInPandas kernel) but still SQL-expressible: a recursive CTE
    # carries (rest, part_no) and replays the same rfind('.')-then-
    # rfind(' ')-then-hard-cut decision per step, so even the Python
    # kernel is hash-checked (same pattern as dedup_cluster's oracle).
    oracle="""
    WITH RECURSIVE split AS (
        SELECT doc_id, text AS chunk_text, text AS rest,
               CAST(-1 AS BIGINT) AS part_no, CAST(NULL AS VARCHAR) AS part_text
        FROM documents
        UNION ALL
        SELECT doc_id, chunk_text,
               CASE WHEN len(rest) > 200 THEN trim(substr(rest, cut + 2)) ELSE '' END AS rest,
               part_no + 1,
               CASE WHEN len(rest) > 200 THEN trim(substr(rest, 1, cut + 1)) ELSE rest END AS part_text
        FROM (
            SELECT doc_id, chunk_text, rest, part_no,
                   CASE
                     WHEN position('.' IN reverse(substr(rest, 1, 200))) > 0
                       THEN 200 - position('.' IN reverse(substr(rest, 1, 200)))
                     WHEN position(' ' IN reverse(substr(rest, 1, 200))) > 0
                       THEN 200 - position(' ' IN reverse(substr(rest, 1, 200)))
                     ELSE 200
                   END AS cut
            FROM split WHERE rest <> ''
        )
    )
    SELECT doc_id, chunk_text, part_no, part_text
    FROM split WHERE part_no >= 0
    """,
)
def split_large_chunks(spark, sf_dir):
    """Max-size sentence/space-boundary splitting
    (archive/chunking_strategy.py:4 split_large_chunk)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("chunk_text")
    )
    return chunking.split_large_chunks(docs, max_size=200)


@query(
    "extract_dates",
    oracle="WITH " + _DD_DIARY_LINES + """
    SELECT doc_id, line_no,
           CAST(regexp_extract(line, '^(\\d{1,2})', 1) AS BIGINT) AS day_num,
           regexp_extract(line, '^\\d{1,2}(st|nd|rd|th)? Day of ([A-Za-z]+)', 2) AS month,
           CAST(regexp_extract(line, ' (18\\d{2}) - ', 1) AS BIGINT) AS year,
           regexp_extract(line, ' - (.+)$', 1) AS title,
           CAST(len(regexp_extract_all(line, '\\b[A-Z]\\w*\\b')) AS BIGINT) AS n_caps,
           array_to_string(list_sort(regexp_extract_all(line, '\\b[A-Z]\\w*\\b')), ',') AS caps_csv
    FROM lines
    WHERE regexp_matches(line, '^\\d{1,2}(st|nd|rd|th)? Day of [A-Za-z]+ 18\\d{2} - .+$')
    """,
)
def extract_dates(spark, sf_dir):
    """Date-regex day extraction + title metadata
    (chunking_strategy.py:46 extract_date_parts), plus the capitalized-
    word metadata of archive/chunking_strategy_v3.py:62
    (palavras_maiusculas) as a sorted CSV."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    lines = chunking.diary_lines(docs)
    caps = F.regexp_extract_all("line", F.lit(r"\b[A-Z]\w*\b"), 0)
    return lines.filter(F.col("line").rlike(chunking.DATE_PATTERN)).select(
        "doc_id",
        "line_no",
        F.regexp_extract("line", r"^(\d{1,2})", 1).cast("long").alias("day_num"),
        F.regexp_extract("line", r"^\d{1,2}(st|nd|rd|th)? Day of ([A-Za-z]+)", 2).alias("month"),
        F.regexp_extract("line", r" (18\d{2}) - ", 1).cast("long").alias("year"),
        F.regexp_extract("line", chunking.TITLE_PATTERN, 1).alias("title"),
        F.size(caps).cast("long").alias("n_caps"),
        F.concat_ws(",", F.array_sort(caps)).alias("caps_csv"),
    )


@query(
    "regex_extract_meta",
    oracle="""
    SELECT doc_id,
           regexp_extract(text, '(spark|hash|join)', 1) AS first_kw,
           CAST(len(regexp_extract_all(text, '(spark|hash|join)')) AS BIGINT) AS kw_count
    FROM documents
    """,
)
def regex_extract_meta(spark, sf_dir):
    """Regex metadata extraction (the date-pattern machinery of
    chunking_strategy.py:46, generalized to keyword patterns)."""
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_extract("text", r"(spark|hash|join)", 1).alias("first_kw"),
        F.size(F.regexp_extract_all("text", F.lit(r"(spark|hash|join)"), F.lit(1)))
        .cast("long")
        .alias("kw_count"),
    )


# ---------------------------------------------------------------------------
# Text analysis (training-data pipeline)
# ---------------------------------------------------------------------------


def _dd_sw_count(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_filter(string_split(text, ' '), t -> list_contains([{words}], t)))"


def _dd_sw_ratio(lang: str) -> str:
    return f"({_dd_sw_count(lang)} / CAST(len(string_split(text, ' ')) AS DOUBLE))"


_DD_BEST = "greatest(" + ", ".join(f"r_{lg}" for lg in STOPWORDS) + ")"
_DD_PRED = "CASE WHEN " + _DD_BEST + " = 0 THEN 'unknown' " + " ".join(
    f"WHEN r_{lg} = {_DD_BEST} THEN '{lg}'" for lg in STOPWORDS
) + " ELSE 'unknown' END"


@query(
    "lang_id",
    oracle=f"""
    WITH r AS (
        SELECT doc_id,
               {", ".join(f"{_dd_sw_ratio(lg)} AS r_{lg}" for lg in STOPWORDS)}
        FROM documents
    )
    SELECT doc_id, {_DD_PRED} AS pred_lang, round({_DD_BEST}, 6) AS stopword_ratio
    FROM r
    """,
)
def lang_id(spark, sf_dir):
    """Stopword-ratio language ID heuristic."""
    return text_analysis.lang_id(load_table(spark, sf_dir, "documents"))


@query(
    "text_quality",
    oracle="""
    WITH t AS (
        SELECT doc_id, length(text) AS nc,
               len(string_split(text, ' ')) AS n,
               len(list_distinct(string_split(text, ' '))) AS nu
        FROM documents
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(nu AS BIGINT) AS n_uniq_tokens,
           round(nu / CAST(n AS DOUBLE), 6) AS ttr,
           round((nc - (n - 1)) / CAST(n AS DOUBLE), 6) AS mean_word_len,
           round((nu / CAST(n AS DOUBLE)) * 0.5 + least(n / 100.0, 1.0) * 0.5, 6) AS quality_score
    FROM t
    """,
)
def text_quality(spark, sf_dir):
    """Length/diversity quality scoring."""
    return text_analysis.text_quality(load_table(spark, sf_dir, "documents"))


@query(
    "token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_computed
    FROM documents
    """,
)
def token_count(spark, sf_dir):
    """Token counting."""
    return text_analysis.token_counts(load_table(spark, sf_dir, "documents"))


@query(
    "bpe_token_count",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, length(text) AS nc,
               regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]') AS toks
        FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_bpe_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq_bpe_tokens,
           round(nc / CAST(len(toks) AS DOUBLE), 6) AS chars_per_token
    FROM t
    """,
)
def bpe_token_count(spark, sf_dir):
    """BPE-ish regex pre-tokenization counting (GPT-2 pre-tokenizer
    shape): letter runs / digit runs / punctuation marks."""
    return text_analysis.bpe_token_count(load_table(spark, sf_dir, "documents"))


def _dd_gram_score(grams: tuple[str, ...]) -> str:
    s = " + ".join(
        f"((length(text) - length(replace(text, '{g}', ''))) / {len(g)})" for g in grams
    )
    return f"round((0.0 + {s}) / length(text) * 100, 6)"


_DD_NG_BEST = "greatest(" + ", ".join(f"g_{lg}" for lg in text_analysis.NGRAM_PROFILES) + ")"
_DD_NG_PRED = (
    "CASE WHEN " + _DD_NG_BEST + " = 0 THEN 'unknown' "
    + " ".join(
        f"WHEN g_{lg} = {_DD_NG_BEST} THEN '{lg}'"
        for lg in text_analysis.NGRAM_PROFILES
    )
    + " ELSE 'unknown' END"
)


@query(
    "lang_id_ngram",
    oracle=f"""
    WITH g AS (
        SELECT doc_id,
               {", ".join(f"{_dd_gram_score(grams)} AS g_{lg}" for lg, grams in text_analysis.NGRAM_PROFILES.items())}
        FROM documents
    )
    SELECT doc_id, {_DD_NG_PRED} AS pred_lang, {_DD_NG_BEST} AS ngram_score
    FROM g
    """,
)
def lang_id_ngram(spark, sf_dir):
    """Char-trigram-profile language ID (n-gram heuristic counterpart
    of the stopword-ratio lang_id)."""
    return text_analysis.lang_id_ngram(load_table(spark, sf_dir, "documents"))


@query(
    "tfidf_top_terms",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), toksf AS (SELECT * FROM toks WHERE term <> ''),
    tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM toksf GROUP BY doc_id, term
    ),
    df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS _n FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
               tf.tf * ln((n._n + 1) / CAST(df.df + 1 AS DOUBLE)) AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, round(tfidf, 6) AS tfidf, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, term) AS BIGINT) AS rank
        FROM scored
    ) WHERE rank <= 3
    """,
)
def tfidf_top_terms(spark, sf_dir):
    """Top-3 TF-IDF terms per document (smoothed idf)."""
    return text_analysis.tfidf_top_terms(load_table(spark, sf_dir, "documents"), k=3)


@query(
    "doc_fingerprint",
    oracle="""
    WITH sh AS (
        SELECT DISTINCT doc_id, md5(unnest(sub)) AS fp_hash
        FROM (
            SELECT doc_id,
                   CASE WHEN length(text) < 8 THEN [text]
                        ELSE [substr(text, i + 1, 8) FOR i IN range(length(text) - 7)] END AS sub
            FROM documents
        )
    )
    SELECT doc_id, fp_rank, fp_hash FROM (
        SELECT doc_id, fp_hash,
               CAST(row_number() OVER (PARTITION BY doc_id ORDER BY fp_hash) AS BIGINT) AS fp_rank
        FROM sh
    ) WHERE fp_rank <= 4
    """,
)
def doc_fingerprint(spark, sf_dir):
    """k-min-hash document fingerprint over char shingles."""
    return text_analysis.doc_fingerprint(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Dedup suite (training-data pipeline)
# ---------------------------------------------------------------------------

_DD_SHINGLES = """
    sh AS (
        SELECT DISTINCT doc_id, unnest(
            CASE WHEN len(t) < 3 THEN []::VARCHAR[]
                 ELSE [array_to_string(t[i + 1 : i + 3], ' ') FOR i IN range(len(t) - 2)]
            END) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    ), shf AS (SELECT * FROM sh WHERE shingle <> '')
"""


@query(
    "dedup_exact",
    oracle="""
    SELECT doc_id, md5(text) AS text_hash,
           min(doc_id) OVER (PARTITION BY md5(text)) AS keeper_id,
           doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
    FROM documents
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact content-hash dedup, keep-first."""
    from ..operators import dedup

    return dedup.dedup_exact(load_table(spark, sf_dir, "documents"))


# Two-point family mirror of operators.dedup.minhash_signatures:
# a = 60-bit md5 (seed 0), b = 56-bit md5 (seed 1), h_r = min(a + r*b).
_DD_MINHASH_SIG = (
    "mh AS (SELECT doc_id, "
    "('0x' || substr(md5('0:' || shingle), 1, 15))::BIGINT AS ha, "
    "('0x' || substr(md5('1:' || shingle), 1, 14))::BIGINT AS hb FROM shf), "
    "sig AS (SELECT doc_id, "
    + ", ".join(f"min(ha + {r} * hb) AS h{r}" for r in range(8))
    + " FROM mh GROUP BY doc_id)"
)

_DD_BANDS = (
    "bands AS ("
    + " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"md5(CAST(h{2*b} AS VARCHAR) || '|' || CAST(h{2*b+1} AS VARCHAR)) AS band_sig FROM sig"
        for b in range(4)
    )
    + ")"
)


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_DD_SHINGLES}, {_DD_MINHASH_SIG}, {_DD_BANDS}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared_bands
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    GROUP BY doc_a, doc_b
    """,
)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash (8 perms) + LSH (4 bands × 2 rows) candidate pairs."""
    from ..operators import dedup

    return dedup.dedup_minhash_lsh(load_table(spark, sf_dir, "documents"))


# The registered 100 TB configuration for boilerplate-heavy sources
# (VERDICT r7 #4): the SAME banding plan with the hot-bucket cap ON,
# plus the audit report, both oracle-backed. The cap here (4) is the
# gate-scale analog of the skew study's 512 — small enough that real
# over-cap buckets exist at N=500 (1 at sf0.001, 5 at sf0.01, 1128 at
# sf0.1), so the cap MECHANISM itself is hash-checked, not just the
# no-op path where capped ≡ uncapped. The oracle replays the cap as a
# membership-count filter on the identical band buckets.
_CAPPED_MAX_BUCKET = 4


@query(
    "dedup_minhash_lsh_capped",
    oracle=f"""
    WITH {_DD_SHINGLES}, {_DD_MINHASH_SIG}, {_DD_BANDS},
    sz AS (
        SELECT band, band_sig, count(*) AS n FROM bands GROUP BY band, band_sig
    ),
    keep AS (
        SELECT b.doc_id, b.band, b.band_sig
        FROM bands b JOIN sz USING (band, band_sig)
        WHERE sz.n <= {_CAPPED_MAX_BUCKET}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared_bands
    FROM keep a
    JOIN keep b ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    GROUP BY doc_a, doc_b
    """,
)
def dedup_minhash_lsh_capped(spark, sf_dir):
    """dedup_minhash_lsh with cap_hot_buckets(max_bucket=4) applied
    before the bucket collect — the skew-hardened configuration the
    SCALE_sf1_skew study measured (there at cap 512 against a 10k-doc
    boilerplate clique: +0.27 exponent vs an uncapped ~10^8-pair
    blow-up). Pairs whose every shared band bucket is over-cap are
    dropped by design; hot_bucket_report (next entry) is the audit."""
    from ..operators import dedup

    return dedup.dedup_minhash_lsh(
        load_table(spark, sf_dir, "documents"), max_bucket=_CAPPED_MAX_BUCKET
    )


@query(
    "hot_bucket_report",
    oracle=f"""
    WITH {_DD_SHINGLES}, {_DD_MINHASH_SIG}, {_DD_BANDS}
    SELECT CAST(band AS BIGINT) AS band, band_sig,
           CAST(count(*) AS BIGINT) AS n_members
    FROM bands GROUP BY band, band_sig
    HAVING count(*) > {_CAPPED_MAX_BUCKET}
    """,
)
def hot_bucket_report_q(spark, sf_dir):
    """The audit trail a capped dedup run publishes next to its pair
    output: every over-cap minhash band bucket with its membership
    count (operators/dedup.py hot_bucket_report). Built through
    dedup_minhash_lsh(with_report=True) — the SAME call (and therefore
    the same n/num_hashes/bands/rows defaults) as the
    dedup_minhash_lsh_capped entry, so the published audit cannot
    drift from the buckets the capped entry actually drops (ADVICE
    r8). One groupBy over the banded rows — measured 1.2 s flat on the
    10x skew corpus."""
    from ..operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    _, rep = dedup.dedup_minhash_lsh(
        docs, max_bucket=_CAPPED_MAX_BUCKET, with_report=True
    )
    return rep.select(F.col("band").cast("long"), "band_sig", "n_members")


@query(
    "dedup_ngram_jaccard",
    # Ground-truth formulation: FULL inverted-index join (no prefix
    # filter) over the same 60-bit shingle hashes — independently
    # validates that Spark's prefix-filtered plan is exact.
    oracle=f"""
    WITH {_DD_SHINGLES},
    hs AS (
        SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h FROM shf
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM hs GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS inter
        FROM hs a JOIN hs b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY doc_a, doc_b
    )
    SELECT doc_a, doc_b, inter,
           round(inter / CAST(sa.sz + sb.sz - inter AS DOUBLE), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE inter / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= 0.8
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard ≥ 0.8 pairs via prefix-filtered
    inverted-index join (oracle runs the unfiltered full join)."""
    from ..operators import dedup

    return dedup.dedup_ngram_jaccard(load_table(spark, sf_dir, "documents"))


_DD_SIMHASH_SUMS = (
    "sums AS (SELECT doc_id, "
    + ", ".join(f"sum(((hv >> {b}) & 1) * 2 - 1) AS s{b}" for b in range(32))
    + " FROM hv GROUP BY doc_id)"
)

_DD_SIMHASH_VAL = (
    "sim AS (SELECT doc_id, CAST("
    + " + ".join(f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(32))
    + " AS BIGINT) AS simhash FROM sums)"
)


@query(
    "dedup_simhash",
    oracle=f"""
    WITH toks AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), hv AS (
        SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hv FROM toks
    ), {_DD_SIMHASH_SUMS}, {_DD_SIMHASH_VAL},
    bands AS (
        SELECT doc_id, simhash, band, (simhash >> (8 * band)) & 255 AS band_val
        FROM sim, (VALUES (0), (1), (2), (3)) b(band)
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def dedup_simhash(spark, sf_dir):
    """32-bit SimHash near-dup pairs (hamming ≤ 3, exact via 4×8-bit
    byte-banding — pigeonhole guarantees every such pair shares a band)."""
    from ..operators import dedup

    return dedup.dedup_simhash(load_table(spark, sf_dir, "documents"))


# SimHash's byte bands have only 4x256 possible buckets, so the
# boilerplate failure mode is saturation, not md5 collision: at 10M
# docs a single band value can hold ~40k members -> ~10^9 pairs. The
# registered cap (128, the skew study's order of magnitude) bounds any
# band bucket's pair volume at C(128,2) ~ 8k. At the N=500 gate scales
# occupancy is ~0.5 so capped ≡ uncapped — the oracle replays the cap
# as a membership-count filter either way, and the skew-corpus parity
# run (tools/runner.py check --names skew) exercises the non-trivial
# drop path cross-engine.
_SIMHASH_MAX_BUCKET = 128


@query(
    "dedup_simhash_capped",
    oracle=f"""
    WITH toks AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), hv AS (
        SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hv FROM toks
    ), {_DD_SIMHASH_SUMS}, {_DD_SIMHASH_VAL},
    bands AS (
        SELECT doc_id, simhash, band, (simhash >> (8 * band)) & 255 AS band_val
        FROM sim, (VALUES (0), (1), (2), (3)) b(band)
    ), sz AS (
        SELECT band, band_val, count(*) AS n FROM bands GROUP BY band, band_val
    ), keep AS (
        SELECT b.doc_id, b.simhash, b.band, b.band_val
        FROM bands b JOIN sz USING (band, band_val)
        WHERE sz.n <= {_SIMHASH_MAX_BUCKET}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM keep a
    JOIN keep b ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def dedup_simhash_capped(spark, sf_dir):
    """dedup_simhash with cap_hot_buckets(max_bucket=128) — the
    skew-hardened configuration (SCALE_sf1_skew measured capped simhash
    at +0.08 exponent against a 10k-doc boilerplate clique that would
    otherwise emit ~10^8 pairs)."""
    from ..operators import dedup

    return dedup.dedup_simhash(
        load_table(spark, sf_dir, "documents"), max_bucket=_SIMHASH_MAX_BUCKET
    )


@query("dedup_embedding_lsh")  # oracle attached after _bucketed_pairs_oracle below
def dedup_embedding_lsh(spark, sf_dir):
    """Embedding near-dup at scale: corpus-sized LSH buckets
    (ann.planes_for: bits = log2(N/7.8), floor 6 — the r7 semdedup
    lesson generalized so same-bucket pair volume stays linear in N)
    generate candidates, exact cosine ≥ 0.3 on same-bucket pairs
    only. Floors reproduce the historical 6-plane plan at the N=500
    gate scales; the lazy oracle sizes identically."""
    from ..operators import dedup

    # split=True: the per-row hyperplane dot products (map-side LSH
    # bucketing) are the hot path — measured 2x faster parallelized.
    emb = load_table(spark, sf_dir, "embeddings", split=True)
    return dedup.dedup_embedding_lsh(emb, ann.planes_for(sf_dir), threshold=0.3)


@query("dedup_embedding_cosine")  # oracle attached after _bucketed_pairs_oracle below
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs (≥ 0.3) — the NAMED operator runs
    the scale path over the FULL table: corpus-sized LSH candidates at
    4x the bucket occupancy of the dedup_embedding_lsh entry
    (rows_per_bucket=31.25, floor 4 — higher recall at every scale),
    exact cosine rescoring of same-bucket pairs only. The O(n²)
    all-pairs form survives only as
    dedup.dedup_embedding_cosine(all_pairs=True), the explicit
    bounded-slice escape hatch (see dedup_cluster's pair seed)."""
    from ..operators import dedup

    emb = load_table(spark, sf_dir, "embeddings", split=True)
    return dedup.dedup_embedding_cosine(
        emb,
        threshold=0.3,
        planes=ann.planes_for(sf_dir, rows_per_bucket=31.25, bits_min=4, seed=7),
    )


# ---------------------------------------------------------------------------
# RAG pipeline + eval (reference parity: app.py, scripts/eval.py)
# ---------------------------------------------------------------------------


@query(
    "rag_retrieve",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 7),
    scored AS (
        SELECT e.vec_id, {V.dd_cosine('e.embedding', 'q.qv')} AS score
        FROM embeddings e, q
    ), ranked AS (
        SELECT vec_id, score,
               row_number() OVER (ORDER BY score DESC, vec_id) AS rank
        FROM scored
    )
    SELECT r.rank, d.doc_id, round(r.score, 6) AS score, d.source,
           substr(d.text, 1, 80) AS snippet
    FROM ranked r JOIN documents d ON d.doc_id = r.vec_id
    WHERE r.rank <= 5
    """,
)
def rag_retrieve(spark, sf_dir):
    """Retrieval path of app.py:59 process_query: top-k search + fetch
    entity text as LLM context (LLM call itself is external)."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    hits = knn.topk(*_query_corpus(emb, emb, 7), k=5)
    w = Window.orderBy(F.col("score").desc(), F.col("vec_id"))
    ranked = hits.withColumn("rank", F.row_number().over(w).cast("long"))
    return (
        ranked.join(docs, ranked.vec_id == docs.doc_id)
        .select(
            "rank",
            "doc_id",
            F.round("score", 6).alias("score"),
            "source",
            F.substring("text", 1, 80).alias("snippet"),
        )
    )


@query(
    "rag_eval_retrieval",
    oracle=f"""
    WITH total AS (SELECT count(*) AS n FROM embeddings),
    q AS (
        SELECT vec_id AS query_id, embedding AS query_vec,
               (vec_id * 7 + 3) % (SELECT n FROM total) AS expected_id
        FROM embeddings WHERE vec_id < 20
    ), scored AS (
        SELECT q.query_id, e.vec_id,
               {V.dd_cosine('e.embedding', 'q.query_vec')} AS score
        FROM embeddings e, q
    ), ranked AS (
        SELECT query_id, vec_id, score,
               row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
        FROM scored
    ), hits AS (
        SELECT r.query_id, r.rank AS hit_rank
        FROM ranked r JOIN q ON q.query_id = r.query_id AND r.vec_id = q.expected_id
        WHERE r.rank <= 10
    )
    SELECT q.query_id, q.expected_id, h.hit_rank,
           round(CASE WHEN h.hit_rank IS NULL THEN 0.0 ELSE 1.0 / h.hit_rank END, 6) AS grade
    FROM q LEFT JOIN hits h ON h.query_id = q.query_id
    """,
)
def rag_eval_retrieval(spark, sf_dir):
    """Batch QA eval harness (eval.py:58): per-query rank of the
    expected doc in top-10 + reciprocal-rank grade (LLM-judge stub)."""
    from ..operators import rag

    emb = load_table(spark, sf_dir, "embeddings")
    # Corpus size enters the plan as a broadcast scalar instead of a
    # separate .count() action — one job, no extra scan.
    total_df = emb.select(F.count("*").alias("_t"))
    queries = (
        emb.filter(F.col("vec_id") < 20)
        .crossJoin(F.broadcast(total_df))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
            ((F.col("vec_id") * 7 + 3) % F.col("_t")).alias("expected_id"),
        )
    )
    return rag.eval_retrieval(emb, queries, k=10)


@query(
    "hybrid_search_rrf",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 7),
    toks AS (
        SELECT doc_id, len(string_split(text, ' ')) AS dl, unnest(string_split(text, ' ')) AS term
        FROM documents
    ), qtoks AS (
        SELECT * FROM toks WHERE term IN ('spark', 'join', 'fast')
    ), tf AS (
        SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf, min(dl) AS dl
        FROM qtoks GROUP BY doc_id, term
    ), stats AS (
        SELECT count(*) AS n, avg(len(string_split(text, ' '))) AS avgdl FROM documents
    ), dfreq AS (
        SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term
    ), bm25 AS (
        SELECT tf.doc_id,
               sum(ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
                   * (tf.tf * (1.2 + 1)) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / s.avgdl))) AS bm25
        FROM tf JOIN dfreq d USING (term) CROSS JOIN stats s
        GROUP BY tf.doc_id
    ), kw_top AS (
        SELECT doc_id AS _id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS bm25_rank
        FROM bm25 ORDER BY bm25 DESC, doc_id LIMIT 20
    ), vec AS (
        SELECT e.vec_id AS _id, {V.dd_cosine('e.embedding', 'q.qv')} AS score
        FROM embeddings e, q
    ), vec_top AS (
        SELECT _id, row_number() OVER (ORDER BY score DESC, _id) AS vec_rank
        FROM vec ORDER BY score DESC, _id LIMIT 20
    ), fused AS (
        SELECT coalesce(k._id, v._id) AS _id, k.bm25_rank, v.vec_rank,
               round(coalesce(1.0 / (60 + k.bm25_rank), 0.0)
                     + coalesce(1.0 / (60 + v.vec_rank), 0.0), 6) AS fused
        FROM kw_top k FULL OUTER JOIN vec_top v ON k._id = v._id
    )
    SELECT _id AS doc_id, bm25_rank, vec_rank, fused,
           row_number() OVER (ORDER BY fused DESC, _id) AS rank
    FROM fused ORDER BY fused DESC, _id LIMIT 10
    """,
)
def hybrid_search_rrf(spark, sf_dir):
    """Hybrid retrieval: BM25 keyword tower + cosine vector tower fused
    by reciprocal-rank fusion (Cormack SIGIR'09) — the production RAG
    serving pattern, fully declarative so the oracle reproduces it."""
    from ..operators import hybrid

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    # query vector rides the plan as a broadcast row — no driver fetch
    q = emb.filter(F.col("vec_id") == 7).select(F.col("embedding").alias("qv"))
    return hybrid.hybrid_search_rrf(
        docs, emb, ["spark", "join", "fast"], q, k=10, depth=20
    )


@query("rag_pipeline_e2e")  # oracle: LAZY_ORACLES (Python re-implementation literals)
def rag_pipeline_e2e(spark, sf_dir):
    """Full app.py pipeline on raw text: embed corpus (pandas_udf) +
    embed question → retrieve → context rows. Not SQL-expressible (the
    hash embedder's md5→Gaussian kernel has no DuckDB form), but fully
    deterministic — so the lazy oracle re-runs the WHOLE pipeline in
    independent pure Python (driver-side embed_text_py + sequential
    float64 cosine, no Spark) and inlines the 5 expected rows as
    literals. The former rows-only declaration is upgraded to a real
    cross-implementation hash check (VERDICT r6 "Next round #7")."""
    from ..operators import embedding, knn as _knn

    docs = load_table(spark, sf_dir, "documents")
    indexed = embedding.embed_documents(docs).select("doc_id", "text", "embedding")
    qv = embedding.embed_text_py("spark join performance tuning")
    hits = _knn.topk(indexed, [float(x) for x in qv], k=5, id_col="doc_id")
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    ranked = hits.withColumn("rank", F.row_number().over(w).cast("long"))
    return ranked.join(docs, "doc_id").select(
        "rank", "doc_id", F.round("score", 6).alias("score"),
        F.substring("text", 1, 60).alias("snippet"),
    )


def _py_dot(a: list[float], b: list[float]) -> float:
    """Sequential left-to-right float64 sum — bit-identical to
    functions/vector.py's F.aggregate fold."""
    s = 0.0
    for x, y in zip(a, b):
        s += x * y
    return s


def _py_cosine(a: list[float], b: list[float]) -> float:
    na, nb = _math.sqrt(_py_dot(a, a)), _math.sqrt(_py_dot(b, b))
    d = na * nb
    return float("nan") if d == 0.0 else _py_dot(a, b) / d


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _values_sql(rows: list[str], cols: list[tuple[str, str]]) -> str:
    """Literal rows as a relation of (name, type) columns; with no rows,
    a typed empty relation (DuckDB cannot parse a VALUES list with none)."""
    if not rows:
        return "SELECT " + ", ".join(f"CAST(NULL AS {t}) AS {c}" for c, t in cols) + " WHERE false"
    return f"SELECT * FROM (VALUES {', '.join(rows)}) AS t({', '.join(c for c, _ in cols)})"


def _rag_e2e_oracle(sf_dir: str) -> str:
    import duckdb

    from ..operators.embedding import embed_text_py
    from ..sources.tables import duck_parquet_path

    docs = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{duck_parquet_path(sf_dir, 'documents')}')"
        " ORDER BY doc_id"
    ).fetchall()
    qv = [float(x) for x in embed_text_py("spark join performance tuning")]
    scored = []
    for doc_id, text in docs:
        e = [float(x) for x in embed_text_py(text)]
        scored.append((doc_id, _py_cosine(e, qv), text))
    # Spark sorts NaN as the GREATEST double: desc puts NaN first
    scored.sort(key=lambda r: (0 if r[1] != r[1] else 1, -r[1] if r[1] == r[1] else 0, r[0]))
    rows = []
    for rank, (doc_id, score, text) in enumerate(scored[:5], start=1):
        rows.append(
            f"(CAST({rank} AS BIGINT), CAST({doc_id} AS BIGINT), "
            f"CAST({round6(score)!r} AS DOUBLE), {_sql_str(text[:60])})"
        )
    return _values_sql(
        rows, [('"rank"', "BIGINT"), ("doc_id", "BIGINT"), ("score", "DOUBLE"), ("snippet", "VARCHAR")]
    )


LAZY_ORACLES["rag_pipeline_e2e"] = _rag_e2e_oracle


# ---------------------------------------------------------------------------
# ANN scale paths
# ---------------------------------------------------------------------------


def _sized_planes4(sf_dir: str) -> list[list[float]]:
    """Corpus-sized planes for the 4-bit-floor LSH family (probe ops +
    kNN-graph build): rows_per_bucket=31.25 reproduces the historical
    4-plane/16-bucket plan at the N=500 gate scales and grows bits with
    log N so bucket occupancy — candidate volume per query and
    same-bucket pair volume per vector — stays ~constant (6 bits at
    sf0.1, 9 at the derived sf1)."""
    return ann.planes_for(sf_dir, rows_per_bucket=31.25, bits_min=4)


@query("ann_lsh_cosine")
def ann_lsh_cosine(spark, sf_dir):
    """Random-hyperplane LSH search: 4 planes → 16 buckets, score only
    same-bucket candidates, top-3 per query."""
    # Corpus side split (heavy map-side plane dots); the broadcast
    # query side stays an unsplit scan so no exchange sits under it.
    emb = load_table(spark, sf_dir, "embeddings", split=True)
    planes = _sized_planes4(sf_dir)
    queries = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ann.ann_lsh_topk(emb, queries, planes, k=3)
    return out.select(
        "query_id", "vec_id", F.round("score", 6).alias("score"), F.col("rank").cast("long")
    )


def _ann_lsh_oracle(sf_dir: str) -> str:
    planes = _sized_planes4(sf_dir)
    return f"""
    WITH buckets AS (
        SELECT vec_id, {ann.dd_lsh_bucket('embedding', planes)} AS bucket FROM embeddings
    ), q AS (
        SELECT e.vec_id AS query_id, e.embedding AS query_vec, b.bucket
        FROM embeddings e JOIN buckets b USING (vec_id) WHERE e.vec_id < 5
    ), c AS (
        SELECT e.vec_id, e.embedding, b.bucket
        FROM embeddings e JOIN buckets b USING (vec_id)
    ), scored AS (
        SELECT q.query_id, c.vec_id,
               {V.dd_cosine('c.embedding', 'q.query_vec')} AS score
        FROM c JOIN q ON c.bucket = q.bucket
    ), ranked AS (
        SELECT query_id, vec_id, score,
               row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
        FROM scored
    )
    SELECT query_id, vec_id, round(score, 6) AS score, rank
    FROM ranked WHERE rank <= 3
    """


LAZY_ORACLES["ann_lsh_cosine"] = _ann_lsh_oracle


def _bucketed_pairs_oracle(planes, threshold: float) -> str:
    """Bucketed near-dup pair oracle: same-bucket pairs, exact cosine."""
    return f"""
    WITH buckets AS (
        SELECT vec_id, {ann.dd_lsh_bucket('embedding', planes)} AS bucket FROM embeddings
    ), v AS (
        SELECT e.vec_id, e.embedding, b.bucket
        FROM embeddings e JOIN buckets b USING (vec_id)
    )
    SELECT id_a, id_b, round(score, 6) AS score FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               {V.dd_cosine('a.embedding', 'b.embedding')} AS score
        FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ) WHERE score >= {threshold}
    """


def _dedup_embedding_lsh_oracle(sf_dir: str) -> str:
    return _bucketed_pairs_oracle(ann.planes_for(sf_dir), 0.3)


def _dedup_embedding_cosine_oracle(sf_dir: str) -> str:
    return _bucketed_pairs_oracle(
        ann.planes_for(sf_dir, rows_per_bucket=31.25, bits_min=4, seed=7), 0.3
    )


# Lazy: the plane COUNT is corpus-sized (ann.planes_for), so the
# literal block must be rendered per sf_dir exactly as the plan does.
LAZY_ORACLES["dedup_embedding_lsh"] = _dedup_embedding_lsh_oracle
LAZY_ORACLES["dedup_embedding_cosine"] = _dedup_embedding_cosine_oracle


@query("ann_ivf")  # oracle: LAZY_ORACLES["ann_ivf"] (centroids are per-sf literals)
def ann_ivf(spark, sf_dir):
    """IVF: coarse quantizer trained on a bounded deterministic sample
    (faiss posture — kmeans_fit_sample) + 2-probe search, top-3 per
    query. The fitted centroids are driver-held literals, so the same
    centroids inline into the DuckDB oracle and the whole path is
    hash-checked."""
    # corpus side split: cell assignment is CPU-heavy per-row work
    # (K 64-dim distances in interpreted HOFs); query side stays an
    # unsplit scan so no exchange sits under the broadcast.
    emb = load_table(spark, sf_dir, "embeddings", split=True)
    centroids = ann.kmeans_fit_sample(sf_dir)
    queries = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ann.ann_ivf_topk(emb, queries, centroids, k=3, nprobe=2)
    return out.select(
        "query_id", "vec_id", F.round("score", 6).alias("score"), F.col("rank").cast("long")
    )


def _ivf_oracle(sf_dir: str) -> str:
    centroids = ann.kmeans_fit_sample(sf_dir)
    return "WITH" + ann.dd_ivf_ctes(centroids, 5) + f"""
    , scored AS (
        SELECT p.query_id, s.vec_id,
               {V.dd_cosine('s.embedding', 'p.query_vec')} AS score
        FROM assigned s JOIN qprobe p ON s.cid = p.cid
    ), ranked AS (
        SELECT query_id, vec_id, score,
               row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
        FROM scored
    )
    SELECT query_id, vec_id, round(score, 6) AS score, rank
    FROM ranked WHERE rank <= 3
    """


LAZY_ORACLES["ann_ivf"] = _ivf_oracle


@query("ann_lsh_multiprobe")  # oracle attached after _multiprobe_oracle below
def ann_lsh_multiprobe(spark, sf_dir):
    """Multi-probe LSH (Lv VLDB'07): each query also probes the
    n_planes buckets one flipped bit away — one index, 1+n_planes
    probes' recall."""
    emb = load_table(spark, sf_dir, "embeddings", split=True)
    planes = _sized_planes4(sf_dir)
    queries = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ann.ann_lsh_multiprobe_topk(emb, queries, planes, k=3)
    return out.select(
        "query_id", "vec_id", F.round("score", 6).alias("score"), F.col("rank").cast("long")
    )


def _multiprobe_oracle(sf_dir: str) -> str:
    planes = _sized_planes4(sf_dir)
    flips = ", ".join(str(i) for i in range(len(planes)))
    return f"""
    WITH buckets AS (
        SELECT vec_id, {ann.dd_lsh_bucket('embedding', planes)} AS bucket FROM embeddings
    ), q AS (
        SELECT e.vec_id AS query_id, e.embedding AS query_vec, b.bucket
        FROM embeddings e JOIN buckets b USING (vec_id) WHERE e.vec_id < 5
    ), probes AS (
        SELECT query_id, query_vec, bucket AS pb FROM q
        UNION ALL
        SELECT query_id, query_vec, xor(bucket, (1::BIGINT << t.i)) AS pb
        FROM q CROSS JOIN (SELECT unnest([{flips}]) AS i) t
    ), c AS (
        SELECT e.vec_id, e.embedding, b.bucket
        FROM embeddings e JOIN buckets b USING (vec_id)
    ), scored AS (
        SELECT p.query_id, c.vec_id,
               {V.dd_cosine('c.embedding', 'p.query_vec')} AS score
        FROM c JOIN probes p ON c.bucket = p.pb
    ), ranked AS (
        SELECT query_id, vec_id, score,
               row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
        FROM scored
    )
    SELECT query_id, vec_id, round(score, 6) AS score, rank
    FROM ranked WHERE rank <= 3
    """


LAZY_ORACLES["ann_lsh_multiprobe"] = _multiprobe_oracle


@query("ann_ivf_rerank")  # oracle: LAZY_ORACLES["ann_ivf_rerank"]
def ann_ivf_rerank(spark, sf_dir):
    """IVF + exact re-rank: probed cells scored on quantized vectors
    (PQ-code stand-in) build a 10-deep shortlist; exact cosine re-ranks
    only shortlist rows. Sample-trained quantizer → centroid literals →
    fully hash-checked."""
    # split/unsplit sides chosen as in ann_ivf (heavy map work vs
    # broadcast query scan)
    emb = load_table(spark, sf_dir, "embeddings", split=True)
    centroids = ann.kmeans_fit_sample(sf_dir)
    queries = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ann.ann_ivf_rerank_topk(emb, queries, centroids, k=3, nprobe=2, shortlist=10)
    return out.select(
        "query_id", "vec_id", F.round("score", 6).alias("score"), F.col("rank").cast("long")
    )


def _ivf_rerank_oracle(sf_dir: str) -> str:
    centroids = ann.kmeans_fit_sample(sf_dir)
    quant = "list_transform((s.embedding)::DOUBLE[], x -> round(x, 1))"
    return "WITH" + ann.dd_ivf_ctes(centroids, 5) + f"""
    , qscored AS (
        SELECT p.query_id, s.vec_id,
               {V.dd_cosine(quant, 'p.query_vec')} AS approx
        FROM assigned s JOIN qprobe p ON s.cid = p.cid
    ), short AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id ORDER BY approx DESC, vec_id) AS rn
            FROM qscored
        ) WHERE rn <= 10
    ), exact AS (
        SELECT s.query_id, s.vec_id,
               {V.dd_cosine('e.embedding', 'q.query_vec')} AS score
        FROM short s
        JOIN embeddings e ON e.vec_id = s.vec_id
        JOIN q ON q.query_id = s.query_id
    ), ranked AS (
        SELECT query_id, vec_id, score,
               row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
        FROM exact
    )
    SELECT query_id, vec_id, round(score, 6) AS score, rank
    FROM ranked WHERE rank <= 3
    """


LAZY_ORACLES["ann_ivf_rerank"] = _ivf_rerank_oracle


@query("ann_probe_sweep")  # oracle attached below (_probe_sweep_oracle)
def ann_probe_sweep(spark, sf_dir):
    """Probe-budget sweep: mean recall@10 and mean scored candidates
    per query for 1..5 probes — the curve that sizes a multi-probe
    index's budget. Single plan: the budget is an exploded column over
    one bucket join (no driver-side per-budget loop)."""
    emb = load_table(spark, sf_dir, "embeddings", split=True)
    planes = _sized_planes4(sf_dir)
    queries = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    bf = knn.topk_batch(load_table(spark, sf_dir, "embeddings"), queries, k=10)
    return ann.probe_sweep(emb, queries, planes, bf, k=10)


def _probe_sweep_oracle(sf_dir: str) -> str:
    planes = _sized_planes4(sf_dir)
    flips = ", ".join(str(i) for i in range(len(planes)))
    budgets = ", ".join(str(i) for i in range(len(planes) + 1))
    return f"""
    WITH buckets AS (
        SELECT vec_id, {ann.dd_lsh_bucket('embedding', planes)} AS bucket FROM embeddings
    ), q AS (
        SELECT e.vec_id AS query_id, e.embedding AS query_vec, b.bucket
        FROM embeddings e JOIN buckets b USING (vec_id) WHERE e.vec_id < 10
    ), c AS (
        SELECT e.vec_id, e.embedding, b.bucket
        FROM embeddings e JOIN buckets b USING (vec_id)
    ), probes AS (
        SELECT query_id, query_vec, bucket AS pb, 0 AS m_min FROM q
        UNION ALL
        SELECT query_id, query_vec, xor(bucket, (1::BIGINT << t.i)) AS pb, t.i + 1 AS m_min
        FROM q CROSS JOIN (SELECT unnest([{flips}]) AS i) t
    ), cand AS (
        SELECT p.query_id, c.vec_id, p.m_min,
               {V.dd_cosine('c.embedding', 'p.query_vec')} AS score
        FROM c JOIN probes p ON c.bucket = p.pb
    ), budgets AS (
        SELECT unnest([{budgets}]) AS m
    ), pb AS (
        SELECT b.m, cand.query_id, cand.vec_id, cand.score
        FROM cand JOIN budgets b ON b.m >= cand.m_min
    ), topk AS (
        SELECT m, query_id, vec_id FROM (
            SELECT m, query_id, vec_id,
                   row_number() OVER (PARTITION BY m, query_id ORDER BY score DESC, vec_id) AS rn
            FROM pb
        ) WHERE rn <= 10
    ), bf AS (
        SELECT query_id, vec_id FROM (
            SELECT q.query_id, e.vec_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {V.dd_cosine('e.embedding', 'q.query_vec')} DESC, e.vec_id
                   ) AS rank
            FROM embeddings e CROSS JOIN q
        ) WHERE rank <= 10
    ), hitc AS (
        SELECT t.m, t.query_id, count(*) AS n_hit
        FROM topk t JOIN bf ON bf.query_id = t.query_id AND bf.vec_id = t.vec_id
        GROUP BY t.m, t.query_id
    ), nex AS (
        SELECT query_id, count(*) AS n_exact FROM bf GROUP BY query_id
    ), grid AS (
        SELECT b.m, n.query_id, n.n_exact FROM budgets b CROSS JOIN nex n
    ), rec AS (
        SELECT g.m, avg(coalesce(h.n_hit, 0) / g.n_exact) AS mean_recall
        FROM grid g LEFT JOIN hitc h ON h.m = g.m AND h.query_id = g.query_id
        GROUP BY g.m
    ), candn AS (
        SELECT m, count(*) AS n_cand FROM pb GROUP BY m
    ), nq AS (
        SELECT count(DISTINCT query_id) AS n_q FROM q
    )
    SELECT CAST(r.m + 1 AS BIGINT) AS n_probes,
           round(r.mean_recall, 6) AS mean_recall,
           round(c.n_cand / nq.n_q, 6) AS mean_candidates
    FROM rec r JOIN candn c ON c.m = r.m CROSS JOIN nq
    """


LAZY_ORACLES["ann_probe_sweep"] = _probe_sweep_oracle


@query("ann_recall_at_k")  # oracle attached after _recall_oracle below
def ann_recall_at_k(spark, sf_dir):
    """Recall@10 harness: single-probe vs multi-probe LSH against the
    exact brute-force top-10, per query — the evaluation loop that
    justifies an ANN index's probe budget."""
    emb = load_table(spark, sf_dir, "embeddings", split=True)
    planes = _sized_planes4(sf_dir)
    queries = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    bf = knn.topk_batch(load_table(spark, sf_dir, "embeddings"), queries, k=10)
    single = ann.ann_lsh_topk(emb, queries, planes, k=10)
    multi = ann.ann_lsh_multiprobe_topk(emb, queries, planes, k=10)
    r1 = ann.recall_at_k(single, bf).select(
        "query_id", F.col("recall").alias("recall_single")
    )
    r2 = ann.recall_at_k(multi, bf).select(
        "query_id", F.col("recall").alias("recall_multi")
    )
    return r1.join(r2, "query_id")


def _recall_oracle(sf_dir: str) -> str:
    planes = _sized_planes4(sf_dir)
    flips = ", ".join(str(i) for i in range(len(planes)))
    return f"""
    WITH buckets AS (
        SELECT vec_id, {ann.dd_lsh_bucket('embedding', planes)} AS bucket FROM embeddings
    ), q AS (
        SELECT e.vec_id AS query_id, e.embedding AS query_vec, b.bucket
        FROM embeddings e JOIN buckets b USING (vec_id) WHERE e.vec_id < 20
    ), c AS (
        SELECT e.vec_id, e.embedding, b.bucket
        FROM embeddings e JOIN buckets b USING (vec_id)
    ), bf AS (
        SELECT query_id, vec_id FROM (
            SELECT q.query_id, e.vec_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {V.dd_cosine('e.embedding', 'q.query_vec')} DESC, e.vec_id
                   ) AS rank
            FROM embeddings e CROSS JOIN q
        ) WHERE rank <= 10
    ), single AS (
        SELECT query_id, vec_id FROM (
            SELECT p.query_id, c.vec_id,
                   row_number() OVER (
                       PARTITION BY p.query_id
                       ORDER BY {V.dd_cosine('c.embedding', 'p.query_vec')} DESC, c.vec_id
                   ) AS rank
            FROM c JOIN q p ON c.bucket = p.bucket
        ) WHERE rank <= 10
    ), probes AS (
        SELECT query_id, query_vec, bucket AS pb FROM q
        UNION ALL
        SELECT query_id, query_vec, xor(bucket, (1::BIGINT << t.i)) AS pb
        FROM q CROSS JOIN (SELECT unnest([{flips}]) AS i) t
    ), multi AS (
        SELECT query_id, vec_id FROM (
            SELECT p.query_id, c.vec_id,
                   row_number() OVER (
                       PARTITION BY p.query_id
                       ORDER BY {V.dd_cosine('c.embedding', 'p.query_vec')} DESC, c.vec_id
                   ) AS rank
            FROM c JOIN probes p ON c.bucket = p.pb
        ) WHERE rank <= 10
    )
    SELECT q.query_id,
           round(coalesce(s.n, 0) / 10.0, 6) AS recall_single,
           round(coalesce(m.n, 0) / 10.0, 6) AS recall_multi
    FROM (SELECT DISTINCT query_id FROM q) q
    LEFT JOIN (
        SELECT bf.query_id, count(*) AS n FROM bf
        JOIN single s ON s.query_id = bf.query_id AND s.vec_id = bf.vec_id
        GROUP BY bf.query_id
    ) s ON s.query_id = q.query_id
    LEFT JOIN (
        SELECT bf.query_id, count(*) AS n FROM bf
        JOIN multi m ON m.query_id = bf.query_id AND m.vec_id = bf.vec_id
        GROUP BY bf.query_id
    ) m ON m.query_id = q.query_id
    """


LAZY_ORACLES["ann_recall_at_k"] = _recall_oracle


# ---------------------------------------------------------------------------
# Analytics engine generality (bench headliners)
# ---------------------------------------------------------------------------


@query(
    "agg_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS HUGEINT) AS DOUBLE) / 100 AS sum_base_price,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) * 10000 AS HUGEINT) AS DOUBLE) / 10000 AS sum_disc_price,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2)))) * {MICRO} AS HUGEINT) AS DOUBLE) / {MICRO} AS sum_charge,
           round(avg(l_quantity), 6) AS avg_qty,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark, sf_dir):
    """TPC-H Q1-style pricing summary (decimal-exact money sums)."""
    from ..plans import analytics

    return analytics.pricing_summary(spark, sf_dir)


@query(
    "join_revenue_topn",
    oracle="""
    WITH per_cust AS (
        SELECT o.o_custkey,
               sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))) AS revenue_d
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_custkey
    )
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(p.revenue_d AS DOUBLE) AS revenue
    FROM per_cust p
    JOIN customer c ON p.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    ORDER BY p.revenue_d DESC, c.c_custkey
    LIMIT 10
    """,
)
def join_revenue_topn(spark, sf_dir):
    """Multi-way join + top-N revenue per customer."""
    from ..plans import analytics

    return analytics.revenue_topn(spark, sf_dir)


@query(
    "local_supplier_volume",
    oracle="""
    SELECT n.n_name,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape: same-nation supplier/customer revenue per nation
    of one region and order year."""
    from ..plans import analytics

    return analytics.local_supplier_volume(spark, sf_dir)


@query(
    "rollup_pricing",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           count(*) AS n_rows,
           sum(l_quantity) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_pricing(spark, sf_dir):
    """ROLLUP: leaf groups + per-flag subtotals + grand total, one pass."""
    from ..plans import analytics

    return analytics.rollup_pricing(spark, sf_dir)


@query(
    "order_priority_pivot",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
           CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
           CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS total_f,
           CAST(sum(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS total_o
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def order_priority_pivot(spark, sf_dir):
    """Conditional aggregation (pivot shape) over order status."""
    from ..plans import analytics

    return analytics.order_priority_pivot(spark, sf_dir)


@query(
    "multimodal_stats",
    oracle="""
    SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           count(*) AS n_media,
           CAST(sum(length(text)) AS BIGINT) AS total_bytes,
           count(DISTINCT md5(text)) AS n_distinct_payloads,
           min(doc_id % 640 + 16) AS min_width,
           max(doc_id % 90000 + 1000) AS max_duration_ms
    FROM documents
    GROUP BY 1
    """,
)
def multimodal_stats(spark, sf_dir):
    """Binary-column corpus stats per media kind (payload bytes, md5
    cardinality, typed-metadata ranges). The payload is the synthetic
    utf-8 media (operators.multimodal.synthesize_media), so the oracle
    reproduces every value from the documents table."""
    from ..operators import multimodal

    media = multimodal.synthesize_media(load_table(spark, sf_dir, "documents"))
    return media.groupBy("kind").agg(
        F.count("*").alias("n_media"),
        F.sum(F.length("content")).alias("total_bytes"),
        F.countDistinct(F.md5("content")).alias("n_distinct_payloads"),
        F.min("meta.width").cast("long").alias("min_width"),
        F.max("meta.duration_ms").cast("long").alias("max_duration_ms"),
    )


@query(
    "multimodal_frames",
    oracle="""
    WITH media AS (
        SELECT doc_id AS media_id, text
        FROM documents WHERE doc_id % 3 = 2
    ), frames AS (
        SELECT media_id, t.i AS frame_no,
               substr(text, t.i * 64 + 1, 64) AS frame
        FROM media CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4]) AS i) t
        WHERE t.i * 64 < length(text)
    )
    SELECT media_id, frame_no, md5(frame) AS frame_md5
    FROM frames
    """,
)
def multimodal_frames(spark, sf_dir):
    """Deterministic frame sampling over video payloads (mapInPandas
    byte windows standing in for ffmpeg keyframes) — the Python batch
    kernel is hash-checked against the oracle's substring md5s."""
    from ..operators import multimodal

    media = multimodal.synthesize_media(
        load_table(spark, sf_dir, "documents", split=True)
    )
    return multimodal.frame_sample(media, every_n_bytes=64, max_frames=5)


@query(
    "multimodal_pipeline",
    # The mapInPandas feature kernel is a deterministic fake (md5-byte
    # features), so even the Python path is hash-checked: the oracle
    # recomputes each feature from the md5 hex digits. The feature
    # vector is serialized to a fixed %.6f CSV string on BOTH sides —
    # the driver's pandas canonicalizer cannot sort array-typed
    # columns, so oracle-backed results must be scalar-only (enforced
    # by tests/oracle.py). %.6f agrees across engines here even though
    # Java's Formatter rounds the double's shortest decimal repr
    # HALF_UP while C's printf rounds the exact binary expansion:
    # the two can only disagree within ~1 ulp of a x.xxxxxx5 tie
    # boundary, and k/255 doubles are never closer than ~2e-9 to a
    # 1e-7 grid midpoint, so both schemes land on the same 6th digit.
    oracle="""
    SELECT doc_id AS media_id,
           CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           CAST(length(text) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5,
           array_to_string(
               [printf('%.6f',
                       (16 * (strpos('0123456789abcdef', substr(md5(text), i*2+1, 1)) - 1)
                        + strpos('0123456789abcdef', substr(md5(text), i*2+2, 1)) - 1) / 255.0)
                FOR i IN range(8)], ',') AS features_csv
    FROM documents
    """,
)
def multimodal_pipeline(spark, sf_dir):
    """Full multimodal ingest pipeline: binary column + typed metadata
    (synthesize_media) → Arrow mapInPandas feature extraction
    (operators/multimodal.py extract_features; the deterministic
    md5-byte fake stands in for a CNN/audio head with the same
    schema/batch contract)."""
    from ..operators import multimodal

    media = multimodal.synthesize_media(
        load_table(spark, sf_dir, "documents", split=True)
    )
    out = multimodal.extract_features(media, n_features=8)
    return out.select(
        "media_id",
        "kind",
        "n_bytes",
        "content_md5",
        F.expr("array_join(transform(features, f -> format_string('%.6f', f)), ',')").alias(
            "features_csv"
        ),
    )


@query(
    "ngram_counts",
    oracle="""
    WITH g AS (
        SELECT doc_id, unnest(
            CASE WHEN len(t) < 2 THEN []::VARCHAR[]
                 ELSE [array_to_string(t[i + 1 : i + 2], ' ') FOR i IN range(len(t) - 1)]
            END) AS gram
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    ), gf AS (SELECT * FROM g WHERE gram <> '')
    SELECT gram,
           count(DISTINCT doc_id) AS n_docs,
           count(*) AS n_occurrences
    FROM gf
    GROUP BY gram
    ORDER BY n_occurrences DESC, gram
    LIMIT 20
    """,
)
def ngram_counts_q(spark, sf_dir):
    """Corpus top-20 word bigrams (collocation mining): count shuffle +
    TakeOrdered, no global sort."""
    return text_analysis.ngram_counts(load_table(spark, sf_dir, "documents"), n=2, k=20)


@query(
    "dedup_cluster",
    oracle=f"""
    WITH RECURSIVE pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM embeddings a JOIN embeddings b
          ON a.vec_id < b.vec_id AND a.vec_id < 200 AND b.vec_id < 200
        WHERE {V.dd_cosine('a.embedding', 'b.embedding')} >= 0.3
    ), edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b AS src, id_a AS dst FROM pairs
    ), cc(node, label) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.dst, cc.label FROM cc JOIN edges e ON cc.node = e.src
    )
    SELECT node, min(label) AS cluster_id,
           (node = min(label)) AS is_keeper
    FROM cc GROUP BY node
    """,
)
def dedup_cluster_q(spark, sf_dir):
    """Connected components over near-dup pairs → canonical keeper
    (min-label propagation; the oracle is a DuckDB recursive CTE over
    the same pair set, so even the iterative step is hash-checked)."""
    from ..operators import dedup

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    pairs = dedup.dedup_embedding_cosine(emb, threshold=0.3, all_pairs=True)
    return dedup.dedup_cluster(pairs, "id_a", "id_b")


@query(
    "stratified_sample",
    oracle=f"""
    SELECT lang, count(*) AS n_sampled, CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    WHERE {H.dd_md5_long('doc_id::VARCHAR')} / 1152921504606846976.0 <
          CASE lang WHEN 'en' THEN 0.3 WHEN 'de' THEN 0.1 WHEN 'fr' THEN 0.05 ELSE 0.0 END
    GROUP BY lang
    """,
)
def stratified_sample_q(spark, sf_dir):
    """Per-language deterministic sampling rates (rebalancing a
    multilingual corpus); strata without a rate drop out."""
    from ..operators import sketch

    s = sketch.stratified_sample(
        load_table(spark, sf_dir, "documents"),
        "lang",
        "doc_id",
        {"en": 0.3, "de": 0.1, "fr": 0.05},
    )
    return s.groupBy("lang").agg(
        F.count("*").alias("n_sampled"), F.sum("n_chars").alias("sum_chars")
    )


@query(
    "label_centroids",
    oracle="""
    SELECT label, pos, count(*) AS n, round(avg(v), 6) AS mean_val
    FROM (
        SELECT label, unnest(embedding) AS v,
               unnest(range(len(embedding))) AS pos
        FROM embeddings
    )
    GROUP BY label, pos
    """,
)
def label_centroids_q(spark, sf_dir):
    """Per-label centroid rows (class prototypes): posexplode +
    groupBy(label, dim) — one map-side-combinable shuffle of primitive
    doubles."""
    from ..operators import embedding

    out = embedding.label_centroids(
        load_table(spark, sf_dir, "embeddings", split=True)
    )
    return out.select("label", F.col("pos").cast("long"), "n", "mean_val")


@query(
    "redact_pii",
    oracle=r"""
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
           len(regexp_extract_all(text, '\b\d{3}[-.]\d{3,4}[-.]\d{4}\b')) AS n_phone,
           len(regexp_extract_all(text, '\b(customer|query)\b')) AS n_leak,
           length(regexp_replace(regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
               '\b\d{3}[-.]\d{3,4}[-.]\d{4}\b', '[PHONE]', 'g'),
               '\b(customer|query)\b', '[LEAK]', 'g')) AS n_chars_redacted,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
               '\b\d{3}[-.]\d{3,4}[-.]\d{4}\b', '[PHONE]', 'g'),
               '\b(customer|query)\b', '[LEAK]', 'g')) AS redacted_hash
    FROM documents
    """,
)
def redact_pii(spark, sf_dir):
    """PII + contaminant scrubbing: email/phone regexes (PII shapes)
    plus a blocklist (eval-set decontamination), counts + redacted
    hash."""
    pats = dict(text_analysis.PII_PATTERNS)
    pats["leak"] = r"\b(customer|query)\b"
    return text_analysis.redact_terms(
        load_table(spark, sf_dir, "documents"), patterns=pats
    )


@query(
    "normalize_text",
    oracle="""
    SELECT doc_id,
           length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS n_chars_norm,
           md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_hash
    FROM documents
    """,
)
def normalize_text(spark, sf_dir):
    """Canonicalization before hashing/dedup (lower, strip, collapse)."""
    return text_analysis.normalize_text(load_table(spark, sf_dir, "documents"))


@query(
    "kmv_distinct",
    oracle=f"""
    WITH h AS (
        SELECT DISTINCT {H.dd_md5_long('user_id::VARCHAR')} AS h FROM events
    ), kth AS (
        SELECT max(h) AS h_k, count(*) AS n_kept
        FROM (SELECT h FROM h ORDER BY h LIMIT 32)
    ), exact AS (
        SELECT count(DISTINCT user_id) AS ndv_exact FROM events
    )
    SELECT CAST(32 AS BIGINT) AS k,
           ndv_exact,
           round(CASE WHEN n_kept < 32 THEN CAST(n_kept AS DOUBLE)
                      ELSE 31 / (h_k / 1152921504606846976.0) END, 6) AS ndv_est,
           round(abs(CASE WHEN n_kept < 32 THEN CAST(n_kept AS DOUBLE)
                          ELSE 31 / (h_k / 1152921504606846976.0) END - ndv_exact) / ndv_exact, 6) AS rel_err
    FROM kth, exact
    """,
)
def kmv_distinct_q(spark, sf_dir):
    """KMV distinct-count sketch (Beyer SIGMOD'07) on events.user_id vs
    the exact count."""
    from ..operators import sketch

    return sketch.kmv_distinct(load_table(spark, sf_dir, "events"), "user_id", k=32)


@query(
    "hash_sample",
    oracle=f"""
    SELECT source, count(*) AS n_sampled, CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    WHERE {H.dd_md5_long('doc_id::VARCHAR')} / 1152921504606846976.0 < 0.1
    GROUP BY source
    """,
)
def hash_sample_q(spark, sf_dir):
    """Deterministic hash sampling at 10% keyed on doc_id — stable
    across engines/retries, per-source rollup of the sample."""
    from ..operators import sketch

    s = sketch.hash_sample(load_table(spark, sf_dir, "documents"), "doc_id", 0.1)
    return s.groupBy("source").agg(
        F.count("*").alias("n_sampled"), F.sum("n_chars").alias("sum_chars")
    )


@query(
    "column_profile",
    oracle="""
    WITH a AS (
        SELECT count(*) AS n,
               sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sum_p,
               sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sumsq_p,
               sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_q,
               sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sumsq_q,
               sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sum_pq,
               min(l_extendedprice) AS min_p,
               max(l_extendedprice) AS max_p
        FROM lineitem
    )
    SELECT CAST(n AS BIGINT) AS n,
           round(CAST(sum_p AS DOUBLE) / n, 6) AS mean_price,
           round(sqrt((CAST(sumsq_p AS DOUBLE) - CAST(sum_p AS DOUBLE) * CAST(sum_p AS DOUBLE) / n) / (n - 1)), 6) AS std_price,
           round(min_p, 6) AS min_price,
           round(max_p, 6) AS max_price,
           round(((CAST(sum_pq AS DOUBLE) - CAST(sum_p AS DOUBLE) * CAST(sum_q AS DOUBLE) / n) / (n - 1))
                 / sqrt(((CAST(sumsq_p AS DOUBLE) - CAST(sum_p AS DOUBLE) * CAST(sum_p AS DOUBLE) / n) / (n - 1))
                      * ((CAST(sumsq_q AS DOUBLE) - CAST(sum_q AS DOUBLE) * CAST(sum_q AS DOUBLE) / n) / (n - 1))), 6) AS corr_price_qty
    FROM a
    """,
)
def column_profile(spark, sf_dir):
    """describe-style profile with order-independent moments (decimal
    sums of x, x², x·y; doubles only in the final scalar formulas)."""
    from ..plans import analytics

    return analytics.column_profile(spark, sf_dir)


@query(
    "quantile_stats",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
           round(quantile_cont(l_extendedprice, 0.50), 6) AS p50,
           round(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
           round(quantile_cont(l_extendedprice, 0.95), 6) AS p95
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def quantile_stats(spark, sf_dir, exact_quantiles: bool = True):
    """Exact interpolated quantiles per return flag (default);
    ``exact_quantiles=False`` swaps in the bounded-memory
    percentile_approx scale path — see plans.analytics.quantile_stats."""
    from ..plans import analytics

    return analytics.quantile_stats(spark, sf_dir, exact_quantiles=exact_quantiles)


@query(
    "dormant_customers",
    oracle="""
    SELECT c.c_mktsegment, count(*) AS n_custs,
           CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
    FROM customer c
    LEFT JOIN (
        SELECT DISTINCT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
    ) o ON o.o_custkey = c.c_custkey
    WHERE c.c_acctbal > 0 AND o.o_custkey IS NULL
    GROUP BY c.c_mktsegment
    """,
)
def dormant_customers(spark, sf_dir):
    """TPC-H Q22 flavor: anti-join (no recent order) + segment rollup."""
    from ..plans import analytics

    return analytics.dormant_customers(spark, sf_dir)


@query(
    "window_events",
    oracle=f"""
    SELECT epoch_ns(ts) // 3600000000000 AS hour_id, event_type,
           count(*) AS n_events,
           {emit_micro(f"sum({to_micro('value')})")} AS sum_value,
           count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY epoch_ns(ts) // 3600000000000, event_type
    """,
)
def window_events(spark, sf_dir):
    """Tumbling 1-hour windowed aggregation over events."""
    from ..plans import analytics

    return analytics.window_events(spark, sf_dir)


@query(
    "sliding_window_events",
    oracle=f"""
    SELECT t.win_start_hour, event_type,
           count(*) AS n_events,
           {emit_micro(f"sum({to_micro('value')})")} AS sum_value
    FROM (
        SELECT event_type, value,
               unnest([epoch_ns(ts) // 3600000000000,
                       epoch_ns(ts) // 3600000000000 - 1]) AS win_start_hour
        FROM events
    ) t
    GROUP BY t.win_start_hour, event_type
    """,
)
def sliding_window_events(spark, sf_dir):
    """Sliding 2h/1h windows (native F.window, integer-hour keys)."""
    from ..plans import analytics

    return analytics.sliding_window_events(spark, sf_dir)


@query(
    "events_json_extract",
    oracle="""
    SELECT event_type, count(*) AS n,
           CAST(sum(json_extract_string(props, '$.k')::BIGINT) AS BIGINT) AS sum_k,
           min(json_extract_string(props, '$.k')::BIGINT) AS min_k,
           max(json_extract_string(props, '$.k')::BIGINT) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def events_json_extract(spark, sf_dir):
    """Semi-structured JSON extraction + aggregation."""
    from ..plans import analytics

    return analytics.events_json_extract(spark, sf_dir)


@query(
    "topk_per_group",
    oracle="""
    SELECT p_brand, rank, p_partkey, p_name, p_retailprice FROM (
        SELECT p_brand, p_partkey, p_name, p_retailprice,
               row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rank
        FROM part
    ) WHERE rank <= 3
    """,
)
def topk_per_group(spark, sf_dir):
    """Window top-k per group (3 priciest parts per brand)."""
    from ..plans import analytics

    return analytics.topk_per_group(spark, sf_dir)


@query(
    "sessionize_events",
    oracle=f"""
    WITH t AS (
        SELECT user_id, event_id, value,
               epoch_ns(ts) // 1000000000 AS ts_s,
               lag(epoch_ns(ts) // 1000000000) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_s
        FROM events
    ), s AS (
        SELECT user_id, event_id, value,
               CASE WHEN prev_s IS NULL OR ts_s - prev_s > 1800 THEN 1 ELSE 0 END AS new_sess
        FROM t
    ), sess AS (
        SELECT user_id, event_id, value,
               CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) AS session_no
        FROM s
    )
    SELECT user_id, session_no, count(*) AS n_events,
           {emit_micro(f"sum({to_micro('value')})")} AS sum_value
    FROM sess GROUP BY user_id, session_no
    """,
)
def sessionize_events(spark, sf_dir):
    """Gap-based sessionization (lag + cumsum) per user."""
    from ..plans import analytics

    return analytics.sessionize_events(spark, sf_dir)


# --- training-data curation suite (r2): repetition, filter gates,
# contamination, mix, length profile, PCA map ---


_DD_TOKS = "string_split(text, ' ')"


@query(
    "repetition_stats",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest({_DD_TOKS}) AS g FROM documents),
    tc AS (SELECT doc_id, g, count(*) AS c FROM toks WHERE g <> '' GROUP BY 1, 2),
    t1 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                  CAST(count(*) AS BIGINT) AS n_uniq_tokens,
                  max(c) AS top_c,
                  sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_c
           FROM tc GROUP BY 1),
    g2 AS (SELECT doc_id,
                  unnest(CASE WHEN len({_DD_TOKS}) < 2 THEN []::VARCHAR[] ELSE
                         [array_to_string(({_DD_TOKS})[i + 1 : i + 2], ' ')
                          FOR i IN range(len({_DD_TOKS}) - 1)] END) AS g
           FROM documents),
    gc AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
    t2 AS (SELECT doc_id, sum(c) AS n2, max(c) AS top2_c,
                  sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup2_c
           FROM gc GROUP BY 1)
    SELECT t1.doc_id, n_tokens, n_uniq_tokens,
           round(CAST(dup_c AS DOUBLE) / n_tokens, 6) AS dup_token_frac,
           round(CAST(top_c AS DOUBLE) / n_tokens, 6) AS top_token_frac,
           round(coalesce(CAST(top2_c AS DOUBLE) / n2, 0.0), 6) AS top_2gram_frac,
           round(coalesce(CAST(dup2_c AS DOUBLE) / n2, 0.0), 6) AS dup_2gram_frac
    FROM t1 LEFT JOIN t2 ON t1.doc_id = t2.doc_id
    """,
)
def repetition_stats(spark, sf_dir):
    """Gopher-style repetition signals (dup-token / top-token /
    2-gram shares) per document."""
    from ..operators import curation

    docs = load_table(spark, sf_dir, "documents", split=True)
    return curation.repetition_stats(docs)


@query(
    "quality_filters",
    oracle=f"""
    WITH q AS (
      SELECT doc_id,
             CAST(len({_DD_TOKS}) AS BIGINT) AS n,
             CAST(length(text) - (len({_DD_TOKS}) - 1) AS DOUBLE)
               / len({_DD_TOKS}) AS mean_wl,
             CAST(len(list_filter({_DD_TOKS},
                  t -> list_contains(['the','a','an','and','or','of','to','in','on','for','is','are','was','be','it','this','that','with','as','at'], t)))
               AS DOUBLE) / len({_DD_TOKS}) AS swf,
             CAST(len(list_distinct({_DD_TOKS})) AS DOUBLE)
               / len({_DD_TOKS}) AS ttr
      FROM documents)
    SELECT doc_id, n AS n_tokens,
           round(mean_wl, 6) AS mean_word_len,
           round(swf, 6) AS stopword_frac,
           round(ttr, 6) AS ttr,
           (n >= 20 AND n <= 80) AS ok_len,
           (mean_wl >= 3.0 AND mean_wl <= 8.0) AS ok_word_len,
           swf >= 0.05 AS ok_stopwords,
           ttr >= 0.3 AS ok_ttr,
           (n >= 20 AND n <= 80 AND mean_wl >= 3.0 AND mean_wl <= 8.0
            AND swf >= 0.05 AND ttr >= 0.3) AS keep
    FROM q
    """,
)
def quality_filters(spark, sf_dir):
    """C4/Gopher-style hard filter gates: per-rule booleans + `keep`
    conjunction, thresholds compared at full double precision."""
    from ..operators import curation

    docs = load_table(spark, sf_dir, "documents", split=True)
    return curation.quality_filters(docs)


@query(
    "benchmark_contamination",
    oracle=f"""
    WITH gr AS (
      SELECT doc_id, g FROM (
        SELECT doc_id,
               unnest(list_distinct(CASE WHEN len({_DD_TOKS}) < 4 THEN []::VARCHAR[] ELSE
                      [array_to_string(({_DD_TOKS})[i + 1 : i + 4], ' ')
                       FOR i IN range(len({_DD_TOKS}) - 3)] END)) AS g
        FROM documents)
      WHERE g <> ''),
    bench AS (SELECT doc_id AS bench_id, g FROM gr WHERE doc_id % 53 = 0),
    hits AS (SELECT gr.doc_id, gr.g, b.bench_id
             FROM gr JOIN bench b ON gr.g = b.g AND gr.doc_id <> b.bench_id)
    SELECT doc_id,
           CAST(count(DISTINCT g) AS BIGINT) AS n_shared_grams,
           CAST(count(DISTINCT bench_id) AS BIGINT) AS n_bench_docs
    FROM hits GROUP BY doc_id
    """,
)
def benchmark_contamination(spark, sf_dir):
    """Eval-set n-gram contamination scan (benchmark = doc_id % 53
    subset, word 4-grams, benchmark grams broadcast)."""
    from ..operators import curation

    docs = load_table(spark, sf_dir, "documents", split=True)
    return curation.benchmark_contamination(docs)


@query(
    "corpus_mix",
    oracle=f"""
    WITH agg AS (
      SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len({_DD_TOKS})) AS BIGINT) AS total_tokens,
             CAST(sum(length(text)) AS BIGINT) AS total_chars
      FROM documents GROUP BY 1, 2)
    SELECT source, lang, n_docs, total_tokens, total_chars,
           round(CAST(total_tokens AS DOUBLE) / sum(total_tokens) OVER (), 6)
             AS token_share
    FROM agg
    """,
)
def corpus_mix(spark, sf_dir):
    """Training-mix table per (source, lang) with corpus token shares."""
    from ..operators import curation

    docs = load_table(spark, sf_dir, "documents", split=True)
    return curation.corpus_mix(docs)


@query(
    "length_histogram",
    oracle=f"""
    WITH b AS (
      SELECT lang, CAST(len({_DD_TOKS}) AS BIGINT) AS n FROM documents)
    SELECT lang, n - (n % 16) AS bin_lo,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS total_tokens,
           CAST(min(n) AS BIGINT) AS min_tokens,
           CAST(max(n) AS BIGINT) AS max_tokens
    FROM b GROUP BY 1, 2
    """,
)
def length_histogram(spark, sf_dir):
    """Token-length histogram per (lang, 16-wide bin), integer-exact
    bin edges."""
    from ..operators import curation

    docs = load_table(spark, sf_dir, "documents", split=True)
    return curation.length_histogram(docs)


@query("pca_project")  # oracle: LAZY_ORACLES["pca_project"] (per-sf basis literals)
def pca_project(spark, sf_dir):
    """PCA corpus map: sample-fit basis (driver-side numpy, bounded
    deterministic sample) applied to every embedding as broadcast
    literals — dot-product HOFs, no shuffle."""
    from ..operators import embedding

    mean, comps, _ = embedding.pca_fit_sample(sf_dir)
    vecs = load_table(spark, sf_dir, "embeddings", split=True)
    return embedding.pca_project(vecs, mean, comps)


def _pca_oracle(sf_dir: str) -> str:
    from ..operators import embedding

    mean, comps, _ = embedding.pca_fit_sample(sf_dir)
    cols = []
    for i, comp in enumerate(comps, start=1):
        lit = f"[{', '.join(repr(x) for x in comp)}]::DOUBLE[]"
        off = 0.0
        for m, c in zip(mean, comp):
            off += m * c
        cols.append(f"round({V.dd_dot('embedding', lit)} - {off!r}, 6) AS pc{i}")
    return f"SELECT vec_id, {', '.join(cols)} FROM embeddings"


LAZY_ORACLES["pca_project"] = _pca_oracle
