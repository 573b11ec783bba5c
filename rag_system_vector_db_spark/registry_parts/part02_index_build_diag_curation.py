""" — mechanical split of registry.py (r6), statements unedited.

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
from ..sources import load_table  # noqa: F401

from ..registry_core import (  # noqa: F401
    LAZY_ORACLES,
    ORACLES,
    QUERIES,
    query,
)

from .part01_vector_chunk_text_dedup_rag_ann import _DD_BANDS, _DD_MINHASH_SIG, _DD_SHINGLES, _DD_TOKS  # noqa: F401


@query("ann_pq_adc")  # oracle: LAZY_ORACLES["ann_pq_adc"] (codebook literals)
def ann_pq_adc(spark, sf_dir):
    """PQ-compressed exhaustive search (faiss IndexPQ shape): 4x16
    codebooks sample-trained driver-side (Jégou PAMI'11), corpus
    encoded to 4 codes/vector, queries scan all codes with asymmetric
    distance. The fitted codebooks inline into the DuckDB oracle as
    literals, so encode + ADC + ranking are all hash-checked."""
    emb = load_table(spark, sf_dir, "embeddings", split=True)
    books = ann.pq_fit_sample(sf_dir)
    queries = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ann.ann_pq_adc_topk(emb, queries, books, k=3)
    return out.select(
        "query_id", "vec_id", F.round("dist", 6).alias("dist"), F.col("rank").cast("long")
    )


def _pq_adc_oracle(sf_dir: str) -> str:
    books = ann.pq_fit_sample(sf_dir)
    return f"""
    WITH coded AS (
        SELECT vec_id, {ann.dd_pq_codes('embedding', books)} AS codes FROM embeddings
    ), q AS (
        SELECT vec_id AS query_id, embedding AS query_vec
        FROM embeddings WHERE vec_id < 5
    ), scored AS (
        SELECT q.query_id, c.vec_id, {ann.dd_adc_dist('q.query_vec', 'c.codes', books)} AS dist
        FROM coded c, q
    ), ranked AS (
        SELECT query_id, vec_id, dist,
               row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rank
        FROM scored
    )
    SELECT query_id, vec_id, round(dist, 6) AS dist, rank
    FROM ranked WHERE rank <= 3
    """


LAZY_ORACLES["ann_pq_adc"] = _pq_adc_oracle


@query("pq_reconstruction_error")  # oracle: LAZY_ORACLES["pq_reconstruction_error"]
def pq_reconstruction_error_q(spark, sf_dir):
    """Per-subspace mean squared PQ quantization error over the whole
    corpus — the metric that sizes m/k for a target recall. One narrow
    projection + one map-side-combinable groupBy."""
    emb = load_table(spark, sf_dir, "embeddings", split=True)
    books = ann.pq_fit_sample(sf_dir)
    return ann.pq_reconstruction_error(emb, books)


def _pq_recon_oracle(sf_dir: str) -> str:
    books = ann.pq_fit_sample(sf_dir)
    errs = ", ".join(f"list_min({d})" for d in ann.dd_subspace_d2("embedding", books))
    return f"""
    WITH best AS (
        SELECT unnest(range({len(books)})) AS m, unnest([{errs}]) AS e2 FROM embeddings
    )
    SELECT CAST(m AS BIGINT) AS subspace, CAST(count(*) AS BIGINT) AS n,
           round(avg(e2), 6) AS mse
    FROM best GROUP BY m
    """


LAZY_ORACLES["pq_reconstruction_error"] = _pq_recon_oracle


@query(
    "embedding_quantize_int8",
    oracle="""
    WITH ex AS (
        SELECT unnest((embedding)::DOUBLE[]) AS v,
               unnest(range(len(embedding))) AS pos
        FROM embeddings
    ), s AS (
        SELECT pos, max(abs(v)) AS absmax FROM ex GROUP BY pos
    ), e AS (
        SELECT ex.pos, s.absmax, s.absmax / 127 AS scale,
               CASE WHEN s.absmax / 127 = 0 THEN 0.0
                    ELSE abs(ex.v - greatest(-127.0, least(127.0,
                         floor(ex.v / (s.absmax / 127) + 0.5))) * (s.absmax / 127))
               END AS aerr
        FROM ex JOIN s ON ex.pos = s.pos
    )
    SELECT CAST(pos AS BIGINT) AS pos, round(absmax, 6) AS absmax,
           round(scale, 6) AS scale,
           round(avg(aerr), 6) AS mean_abs_err,
           round(max(aerr), 6) AS max_abs_err
    FROM e GROUP BY pos, absmax, scale
    """,
)
def embedding_quantize_int8(spark, sf_dir):
    """Symmetric int8 scalar-quantization profile per dimension:
    absmax, scale, and reconstruction-error stats (the 4-bytes->1-byte
    compression check serving stacks run before enabling int8)."""
    from ..operators import embedding

    return embedding.quantize_int8_profile(
        load_table(spark, sf_dir, "embeddings", split=True)
    )


_WAREHOUSE = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))), "spark-warehouse"
)


@query("ann_ivf_indexed")  # oracle: LAZY_ORACLES["ann_ivf_indexed"] (= ann_ivf's)
def ann_ivf_indexed(spark, sf_dir):
    """IVF over a MATERIALIZED cell-partitioned parquet index (the
    batch index build north star): build once (idempotent — skipped if
    the layout exists), then probe by joining on the PARTITION column
    so pruning skips non-probed cells' directories before I/O. Result
    contract identical to ann_ivf, so the same centroid-literal oracle
    hash-checks the whole build+search path."""
    centroids = ann.kmeans_fit_sample(sf_dir)
    index_dir = _os.path.join(
        _WAREHOUSE, f"ivf_index_{_os.path.basename(sf_dir.rstrip('/'))}"
    )
    if not _os.path.exists(_os.path.join(index_dir, "_SUCCESS")):
        ann.ivf_index_build(
            load_table(spark, sf_dir, "embeddings", split=True), centroids, index_dir
        )
    queries = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ann.ann_ivf_indexed_topk(spark, index_dir, queries, centroids, k=3, nprobe=2)
    return out.select(
        "query_id", "vec_id", F.round("score", 6).alias("score"), F.col("rank").cast("long")
    )


LAZY_ORACLES["ann_ivf_indexed"] = LAZY_ORACLES["ann_ivf"]


# ---------------------------------------------------------------------------
# Time-series joins the DataFrame API has no native verb for
# ---------------------------------------------------------------------------


@query(
    "events_asof_attribution",
    oracle="""
    WITH u AS (
        SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
               CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS side
        FROM events WHERE event_type IN ('click', 'purchase')
    ), w AS (
        SELECT user_id, ts_us, event_id, value, side,
               last_value(CASE WHEN side = 0 THEN event_id END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts_us, side, event_id
                         ROWS UNBOUNDED PRECEDING) AS click_id,
               last_value(CASE WHEN side = 0 THEN ts_us END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts_us, side, event_id
                         ROWS UNBOUNDED PRECEDING) AS click_ts_us
        FROM u
    )
    SELECT event_id AS purchase_id, user_id, ts_us, round(value, 6) AS value,
           click_id, click_ts_us,
           (ts_us - click_ts_us) // 1000000 AS lag_s
    FROM w WHERE side = 1
    """,
)
def events_asof_attribution(spark, sf_dir):
    """As-of join (purchase -> latest at-or-before click, per user):
    union-tag + one windowed last(ignorenulls) pass — ONE shuffle, no
    join (DuckDB's ASOF JOIN verb, re-expressed for Spark)."""
    from ..plans import analytics

    return analytics.asof_attribution(spark, sf_dir)


@query(
    "events_range_join",
    # |Δt| ≤ c spelled as BETWEEN (identical predicate): the abs()
    # form forces DuckDB into a nested loop per user (>300 s at sf1,
    # the r8 sweep had to slice to 20% of users), while the BETWEEN
    # form is planned as a proper range join (1 s at sf1 full corpus)
    # — same naive theta-join declaration, still zero knowledge of the
    # Spark plan's bucket fan-out.
    oracle="""
    SELECT a.event_id, a.user_id, epoch_us(a.ts) AS ts_us,
           CAST(count(b.event_id) AS BIGINT) AS n_neighbors
    FROM events a LEFT JOIN events b
      ON b.user_id = a.user_id AND b.event_id <> a.event_id
     AND epoch_us(b.ts)
         BETWEEN epoch_us(a.ts) - 300000000 AND epoch_us(a.ts) + 300000000
    GROUP BY a.event_id, a.user_id, epoch_us(a.ts)
    """,
)
def events_range_join_q(spark, sf_dir):
    """Band (range) self-join via time-bucket fan-out: |Δt| ≤ 5 min
    neighbor counts per event without an O(n²)-per-user theta join.
    The oracle runs the naive theta join to prove the bucketed
    candidate generation is exactly equivalent."""
    from ..plans import analytics

    return analytics.events_range_join(spark, sf_dir)


# ---------------------------------------------------------------------------
# r4: operational diagnostics + cohort analytics
# ---------------------------------------------------------------------------


@query(
    "skew_profile",
    oracle="""
    WITH per_key AS (
        SELECT l_suppkey AS key, count(*) AS cnt FROM lineitem GROUP BY l_suppkey
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS n_keys,
               CAST(sum(cnt) AS BIGINT) AS n_rows,
               CAST(max(cnt) AS BIGINT) AS max_cnt,
               list_sort(list(cnt)) AS sorted_cnts
        FROM per_key
    ), hot AS (
        SELECT string_agg(key || ':' || cnt, ',' ORDER BY cnt DESC, key) AS top_keys_csv
        FROM (SELECT key, cnt FROM per_key ORDER BY cnt DESC, key LIMIT 5)
    )
    SELECT n_keys, n_rows, max_cnt,
           round(n_rows / CAST(n_keys AS DOUBLE), 6) AS mean_cnt,
           CAST(sorted_cnts[CAST(n_keys * 50 // 100 AS INT) + 1] AS BIGINT) AS p50_cnt,
           CAST(sorted_cnts[CAST(n_keys * 90 // 100 AS INT) + 1] AS BIGINT) AS p90_cnt,
           CAST(sorted_cnts[CAST(n_keys * 99 // 100 AS INT) + 1] AS BIGINT) AS p99_cnt,
           round(max_cnt * n_keys / CAST(n_rows AS DOUBLE), 6) AS skew_ratio,
           hot.top_keys_csv
    FROM s, hot
    """,
)
def skew_profile(spark, sf_dir):
    """Join-key skew diagnostics (rows-per-key distribution + heavy
    hitters) — the measurement that decides between plain shuffle,
    broadcast, and plans/scale.py salted_join."""
    from ..plans import analytics

    return analytics.skew_profile(spark, sf_dir)


@query(
    "cohort_retention",
    oracle="""
    WITH ev AS (
        SELECT user_id, epoch_ns(ts) // 604800000000000 AS week FROM events
    ), first AS (
        SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY user_id
    ), base AS (
        SELECT cohort_week, count(DISTINCT user_id) AS cohort_size
        FROM first GROUP BY cohort_week
    ), ret AS (
        SELECT f.cohort_week, e.week - f.cohort_week AS weeks_since,
               count(DISTINCT e.user_id) AS n_active
        FROM ev e JOIN first f USING (user_id)
        GROUP BY f.cohort_week, e.week - f.cohort_week
    )
    SELECT r.cohort_week, r.weeks_since,
           CAST(r.n_active AS BIGINT) AS n_active,
           CAST(b.cohort_size AS BIGINT) AS cohort_size,
           round(r.n_active / CAST(b.cohort_size AS DOUBLE), 6) AS retention
    FROM ret r JOIN base b USING (cohort_week)
    """,
)
def cohort_retention(spark, sf_dir):
    """Weekly cohort retention over events (first-seen-week cohorts,
    distinct-active per week offset) — the standard product-analytics
    rollup, integer epoch-week keys for cross-engine stability."""
    from ..plans import analytics

    return analytics.cohort_retention(spark, sf_dir)


@query(
    "dedup_fuzzy_edit",
    oracle="""
    WITH d AS (
        SELECT doc_id, substr(lower(text), 1, 32) AS p
        FROM documents WHERE length(text) >= 32
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.p, b.p) AS BIGINT) AS edit_dist
    FROM d a JOIN d b ON a.doc_id < b.doc_id
    WHERE levenshtein(a.p, b.p) <= 2
    """,
)
def dedup_fuzzy_edit(spark, sf_dir):
    """Fuzzy (edit-distance) near-dup pairs via PassJoin segment
    blocking — candidates from an equi-join on shifted segments, exact
    levenshtein verify; the oracle's naive theta join proves candidate
    recall is exact."""
    from ..operators import dedup

    return dedup.dedup_fuzzy_edit(load_table(spark, sf_dir, "documents"))


@query("semdedup")  # oracle: LAZY_ORACLES["semdedup"] (centroid literals)
def semdedup_q(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): embedding near-dup drop list
    scoped to k-means cells — the cluster-then-dedup curation pass for
    web-scale corpora. Same fitted-centroid literals as ann_ivf, so
    the whole path (assignment + within-cell pairs + keep-first
    keeper) is hash-checked. k scales with N (kmeans_k_for: N/250,
    floor 8) so within-cell pair volume stays linear — the fixed-k
    plan measured +1.17 superlinear on the sf1 study; this is the
    measured remedy rendered into the registered plan AND its oracle
    (the lazy render re-fits per sf-dir, so the gate hash-checks the
    same k the engine ran)."""
    from ..operators import dedup

    emb = load_table(spark, sf_dir, "embeddings", split=True)
    k = ann.kmeans_k_for(sf_dir)
    centroids = ann.kmeans_fit_sample(sf_dir, k)
    return dedup.semdedup(emb, centroids, threshold=0.3)


def _semdedup_oracle(sf_dir: str) -> str:
    k = ann.kmeans_k_for(sf_dir)
    centroids = ann.kmeans_fit_sample(sf_dir, k)
    return f"""
    WITH {ann.dd_ivf_ctes(centroids)}, pairs AS (
        SELECT a.cid, a.vec_id AS id_a, b.vec_id AS id_b,
               {V.dd_cosine('a.embedding', 'b.embedding')} AS score
        FROM assigned a
        JOIN assigned b ON a.cid = b.cid AND a.vec_id < b.vec_id
    )
    SELECT cid, id_b AS vec_id, min(id_a) AS keeper_id,
           round(min_by(score, id_a), 6) AS score
    FROM pairs WHERE score >= 0.3
    GROUP BY cid, id_b
    """


LAZY_ORACLES["semdedup"] = _semdedup_oracle


def _kw_index_dir(spark, sf_dir: str) -> str:
    """Idempotent keyword-index build gate shared by every consumer.
    Rebuilds when the index is absent OR predates the current stats
    schema (total_tokens added for the LM scorer — a persisted index
    from an older build is upgraded in place, the same
    layout-versioning a production index directory needs)."""
    from ..operators import text_index

    index_dir = _os.path.join(
        _WAREHOUSE, f"kw_index_{_os.path.basename(sf_dir.rstrip('/'))}"
    )
    stale = True
    if _os.path.exists(_os.path.join(index_dir, "stats", "_SUCCESS")):
        # schema/layout version gate: total_tokens (LM scorer) and the
        # norms table (VSM scorer) arrived after the first layout
        stale = "total_tokens" not in (
            spark.read.parquet(f"{index_dir}/stats").columns
        ) or not _os.path.exists(_os.path.join(index_dir, "norms", "_SUCCESS"))
    if stale:
        text_index.keyword_index_build(
            load_table(spark, sf_dir, "documents"), index_dir
        )
    return index_dir


@query(
    "keyword_index_topk",
    oracle="""
    WITH toks AS (
        SELECT doc_id, len(string_split(text, ' ')) AS dl,
               unnest(string_split(text, ' ')) AS term
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
    )
    SELECT row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank,
           doc_id, round(bm25, 6) AS bm25
    FROM bm25 ORDER BY bm25 DESC, doc_id LIMIT 10
    """,
)
def keyword_index_topk(spark, sf_dir):
    """BM25 top-10 served from the MATERIALIZED bucket-partitioned
    inverted index (build idempotent, like ann_ivf_indexed): query
    terms prune to their hash buckets at the directory level before
    any I/O. Result contract = hybrid's keyword tower, so the oracle
    recomputes it straight from documents — index-independent."""
    from ..operators import text_index

    index_dir = _kw_index_dir(spark, sf_dir)
    return text_index.keyword_index_topk(
        spark, index_dir, ["spark", "join", "fast"], k=10
    )


_DD_MH_EST = " + ".join(
    f"(CASE WHEN sa.h{r} = sb.h{r} THEN 1 ELSE 0 END)" for r in range(8)
)


@query(
    "minhash_accuracy",
    oracle=f"""
    WITH {_DD_SHINGLES}, {_DD_MINHASH_SIG}, {_DD_BANDS},
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    ), sizes AS (
        SELECT doc_id, CAST(count(*) AS DOUBLE) AS n_sh FROM shf GROUP BY doc_id
    ), inter AS (
        SELECT p.doc_a, p.doc_b, CAST(count(*) AS DOUBLE) AS n_int
        FROM pairs p
        JOIN shf x ON x.doc_id = p.doc_a
        JOIN shf y ON y.doc_id = p.doc_b AND y.shingle = x.shingle
        GROUP BY p.doc_a, p.doc_b
    ), est AS (
        SELECT p.doc_a, p.doc_b, ({_DD_MH_EST}) / 8.0 AS est_j
        FROM pairs p
        JOIN sig sa ON sa.doc_id = p.doc_a
        JOIN sig sb ON sb.doc_id = p.doc_b
    )
    SELECT e.doc_a, e.doc_b, round(e.est_j, 6) AS est_jaccard,
           round(coalesce(i.n_int, 0) / (na.n_sh + nb.n_sh - coalesce(i.n_int, 0)), 6) AS exact_jaccard,
           round(abs(e.est_j - coalesce(i.n_int, 0) / (na.n_sh + nb.n_sh - coalesce(i.n_int, 0))), 6) AS abs_err
    FROM est e
    LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
    JOIN sizes na ON na.doc_id = e.doc_a
    JOIN sizes nb ON nb.doc_id = e.doc_b
    """,
)
def minhash_accuracy(spark, sf_dir):
    """MinHash estimator-quality harness: signature-agreement Jaccard
    estimate vs exact shingle-set Jaccard on every LSH candidate pair
    — the num_hashes/bands sizing measurement, exact only on
    candidates (never all pairs)."""
    from ..operators import dedup

    return dedup.minhash_accuracy(load_table(spark, sf_dir, "documents"))


@query(
    "lm_perplexity",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
        SELECT doc_id, term, count(*) AS tf FROM toks WHERE term <> ''
        GROUP BY doc_id, term
    ), scored AS (
        SELECT doc_id, tf,
               CAST(sum(tf) OVER (PARTITION BY term) AS DOUBLE) AS cnt
        FROM tf
    ), d AS (
        SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
               sum(tf * ln(cnt)) / sum(tf) AS a
        FROM scored GROUP BY doc_id
    ), t AS (
        -- same decomposition as the Spark plan: logp = a - ln(total)
        SELECT doc_id, n_tokens,
               a - ln(CAST(sum(n_tokens) OVER () AS DOUBLE)) AS logp,
               ntile(3) OVER (ORDER BY round(a, 6) DESC, doc_id) AS b
        FROM d
    )
    SELECT doc_id, n_tokens, round(logp, 6) AS avg_logp,
           round(exp(-logp), 6) AS perplexity,
           CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
           END AS ppl_bucket
    FROM t
    """,
)
def lm_perplexity(spark, sf_dir):
    """CCNet-style perplexity quality signal under a corpus-trained
    unigram LM (deterministic KenLM stand-in), head/middle/tail
    tercile buckets."""
    from ..operators import text_analysis

    return text_analysis.lm_perplexity(load_table(spark, sf_dir, "documents"))


@query(
    "sequence_packing",
    oracle="""
    WITH d AS (
        SELECT lang, doc_id,
               CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens
        FROM documents
    ), pre AS (
        SELECT lang, doc_id, n_tokens,
               CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_offset
        FROM d
    )
    SELECT lang, doc_id, n_tokens, start_offset,
           start_offset // 512 AS first_pack,
           (start_offset + n_tokens - 1) // 512 AS last_pack,
           (start_offset + n_tokens - 1) // 512 - start_offset // 512 + 1 AS n_packs
    FROM pre
    """,
)
def sequence_packing(spark, sf_dir):
    """GPT-style pack layout for LLM training sequences: per-language
    concat-then-chunk offsets via the two-phase (shard-local window +
    tiny shard-offset frame) prefix sum — bit-identical to the
    oracle's naive full-stream cumsum, but the only full-data sort is
    per-shard."""
    from ..operators import chunking

    return chunking.sequence_packing(load_table(spark, sf_dir, "documents"))


@query(
    "incremental_dedup",
    oracle=f"""
    WITH {_DD_SHINGLES}, {_DD_MINHASH_SIG}, {_DD_BANDS},
    s AS (SELECT (max(doc_id) * 4) // 5 AS split FROM documents),
    newd AS (SELECT d.doc_id, d.text FROM documents d, s WHERE d.doc_id > s.split),
    bh AS (
        SELECT DISTINCT md5(d.text) AS h FROM documents d, s WHERE d.doc_id <= s.split
    ), ex AS (
        SELECT n.doc_id, (bh.h IS NOT NULL) AS is_exact_dup
        FROM newd n LEFT JOIN bh ON md5(n.text) = bh.h
    ), cand AS (
        SELECT DISTINCT nb.doc_id AS new_id, bb.doc_id AS base_id
        FROM bands nb
        JOIN bands bb ON nb.band = bb.band AND nb.band_sig = bb.band_sig
        CROSS JOIN s
        WHERE nb.doc_id > s.split AND bb.doc_id <= s.split
    ), c AS (
        SELECT new_id, CAST(count(*) AS BIGINT) AS n FROM cand GROUP BY new_id
    )
    SELECT e.doc_id, e.is_exact_dup,
           CAST(coalesce(c.n, 0) AS BIGINT) AS n_base_candidates
    FROM ex e LEFT JOIN c ON c.new_id = e.doc_id
    """,
)
def incremental_dedup(spark, sf_dir):
    """New-batch vs base-corpus dedup (nightly ingest posture): exact
    content-hash probe + minhash/LSH band collisions of the new slice
    against the base only; split point is a broadcast scalar."""
    from ..operators import dedup

    return dedup.incremental_dedup(load_table(spark, sf_dir, "documents"))


@query(
    "funnel_analysis",
    oracle="""
    WITH ev AS (
        SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id FROM events
    ), per_user AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN (ts_us, event_id) END) AS v,
               min(CASE WHEN event_type = 'click' THEN (ts_us, event_id) END) AS c,
               min(CASE WHEN event_type = 'purchase' THEN (ts_us, event_id) END) AS p
        FROM ev GROUP BY user_id
    ), flags AS (
        SELECT (v IS NOT NULL) AS f1,
               (v IS NOT NULL AND c IS NOT NULL AND c >= v) AS f2,
               (v IS NOT NULL AND c IS NOT NULL AND c >= v
                AND p IS NOT NULL AND p >= c) AS f3
        FROM per_user
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS step_view,
           CAST(sum(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT) AS step_click,
           CAST(sum(CASE WHEN f3 THEN 1 ELSE 0 END) AS BIGINT) AS step_purchase,
           round(sum(CASE WHEN f3 THEN 1 ELSE 0 END)
                 / CAST(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS DOUBLE), 6) AS conversion
    FROM flags
    """,
)
def funnel_analysis(spark, sf_dir):
    """Ordered view->click->purchase funnel: conditional-min first
    occurrences per user in ONE map-side-combinable groupBy, funnel
    conjunctions on the tiny per-user frame."""
    from ..plans import analytics

    return analytics.funnel_analysis(spark, sf_dir)


@query(
    "matryoshka_recall",
    oracle=f"""
    WITH dims(dim) AS (VALUES (16), (32), (64)),
    q AS (
        SELECT vec_id AS query_id, embedding AS query_vec
        FROM embeddings WHERE vec_id < 5
    ), scored AS (
        SELECT d.dim, q.query_id, e.vec_id,
               {V.dd_cosine('e.embedding[1:d.dim]', 'q.query_vec[1:d.dim]')} AS score
        FROM embeddings e CROSS JOIN q CROSS JOIN dims d
    ), ranked AS (
        SELECT dim, query_id, vec_id,
               row_number() OVER (PARTITION BY dim, query_id
                                  ORDER BY score DESC, vec_id) AS rn
        FROM scored
    ), tops AS (SELECT dim, query_id, vec_id FROM ranked WHERE rn <= 10),
    base AS (SELECT query_id, vec_id FROM tops WHERE dim = 64),
    hits AS (
        SELECT t.dim, t.query_id, CAST(count(*) AS BIGINT) AS n_hits
        FROM tops t JOIN base b ON b.query_id = t.query_id AND b.vec_id = t.vec_id
        GROUP BY t.dim, t.query_id
    ), keys AS (SELECT DISTINCT dim, query_id FROM tops)
    SELECT CAST(k.dim AS BIGINT) AS dim, k.query_id,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           round(coalesce(h.n_hits, 0) / 10.0, 6) AS recall
    FROM keys k LEFT JOIN hits h ON h.dim = k.dim AND h.query_id = k.query_id
    """,
)
def matryoshka_recall(spark, sf_dir):
    """Matryoshka (prefix-truncation) dimensionality sweep: exact
    cosine top-10 on 16/32/64-dim prefixes graded as recall@10 vs the
    full 64-dim top-10 — one plan, corpus scanned once, dim exploded
    on the broadcast query side."""
    emb = load_table(spark, sf_dir, "embeddings", split=True)
    queries = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 5
    ).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    return ann.matryoshka_recall(emb, queries, dims=[16, 32, 64], k=10)


@query("ivf_cell_stats")  # oracle: LAZY_ORACLES["ivf_cell_stats"] (centroid literals)
def ivf_cell_stats(spark, sf_dir):
    """IVF index balance diagnostics — the vector-side companion of
    skew_profile: per-cell occupancy and mean/max distance to the
    centroid, plus each cell's share of the corpus. A skewed cell list
    means probe cost varies wildly per query (hot cells dominate);
    this is the measurement that sizes k or triggers re-training.
    One narrow assignment pass (broadcast centroid literals) + one
    map-side-combinable groupBy(cell)."""
    emb = load_table(spark, sf_dir, "embeddings", split=True)
    centroids = ann.kmeans_fit_sample(sf_dir)
    assigned = ann.with_cell(emb, "embedding", centroids, out_col="cid")
    dists = ann._centroid_dists("embedding", centroids)
    d = assigned.withColumn("_d", F.get(dists, F.col("cid")))
    total = d.select(F.count("*").alias("_t"))
    return (
        d.groupBy("cid")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.round(F.avg("_d"), 6).alias("mean_dist"),
            F.round(F.max("_d"), 6).alias("max_dist"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "cid",
            "n_vecs",
            "mean_dist",
            "max_dist",
            F.round(F.col("n_vecs") / F.col("_t"), 6).alias("share"),
        )
    )


def _ivf_cell_stats_oracle(sf_dir: str) -> str:
    centroids = ann.kmeans_fit_sample(sf_dir)
    cents = V.dd_literal(centroids)
    return f"""
    WITH {ann.dd_ivf_ctes(centroids)}, dist AS (
        SELECT cid, {V.dd_euclidean('embedding', f'{cents}[cid + 1]')} AS d FROM assigned
    ), tot AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM dist)
    SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs,
           round(avg(d), 6) AS mean_dist,
           round(max(d), 6) AS max_dist,
           round(count(*) / (SELECT t FROM tot), 6) AS share
    FROM dist GROUP BY cid
    """


LAZY_ORACLES["ivf_cell_stats"] = _ivf_cell_stats_oracle


# Identical result contract to hybrid_search_rrf, so the same oracle
# hash-checks the index-served path end to end.
@query("hybrid_index_rrf", oracle=ORACLES["hybrid_search_rrf"])
def hybrid_index_rrf(spark, sf_dir):
    """Hybrid RRF retrieval SERVED FROM THE MATERIALIZED inverted
    index (keyword tower reads pruned postings buckets only — no
    per-query corpus tokenize); vector tower + fusion unchanged.
    Build is idempotent and shared with keyword_index_topk."""
    from ..operators import text_index

    index_dir = _kw_index_dir(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 7).select(F.col("embedding").alias("qv"))
    return text_index.hybrid_index_rrf(
        spark, index_dir, emb, ["spark", "join", "fast"], q, k=10, depth=20
    )


@query(
    "embedding_drift",
    oracle="""
    WITH s AS (SELECT max(vec_id) AS m FROM embeddings),
    ex AS (
        SELECT e.label,
               CASE WHEN e.vec_id * 2 <= s.m THEN 'a' ELSE 'b' END AS half,
               unnest(range(len(e.embedding))) AS pos,
               unnest(e.embedding) AS v
        FROM embeddings e CROSS JOIN s
    ), per AS (
        SELECT label, half, pos, CAST(count(*) AS BIGINT) AS n,
               round(avg(v), 6) AS m
        FROM ex GROUP BY label, half, pos
    ), j AS (
        SELECT a.label, a.pos, a.n AS n_a, b.n AS n_b, a.m AS ma, b.m AS mb
        FROM per a JOIN per b
          ON a.label = b.label AND a.pos = b.pos
         AND a.half = 'a' AND b.half = 'b'
    )
    SELECT label, max(n_a) AS n_a, max(n_b) AS n_b,
           round(sqrt(sum((ma - mb) * (ma - mb))), 6) AS drift,
           round(max(abs(ma - mb)), 6) AS max_dim_shift
    FROM j GROUP BY label
    """,
)
def embedding_drift(spark, sf_dir):
    """Per-label centroid drift between two id-split corpus halves —
    the embedding-space monitoring alarm (re-embedded batch or
    distribution shift moves class centroids). Per-dim means rounded
    before the distance so the arithmetic is cross-engine
    deterministic."""
    from ..operators import embedding

    return embedding.embedding_drift(
        load_table(spark, sf_dir, "embeddings", split=True)
    )


@query("semdedup_clusters")  # oracle: LAZY_ORACLES["semdedup_clusters"]
def semdedup_clusters(spark, sf_dir):
    """Full transitive SemDeDup groups: connected components over the
    (keeper_id, vec_id) drop edges → canonical cluster id + keeper per
    vector (min-label propagation; the recursive-CTE oracle
    hash-checks even the iteration). k scales with N (kmeans_k_for)
    like semdedup above — the registered plan is the one the sf1
    study measured scale-safe."""
    from ..operators import dedup

    emb = load_table(spark, sf_dir, "embeddings", split=True)
    k = ann.kmeans_k_for(sf_dir)
    centroids = ann.kmeans_fit_sample(sf_dir, k)
    sem = dedup.semdedup(emb, centroids, threshold=0.3)
    pairs = sem.select(F.col("keeper_id").alias("doc_a"), F.col("vec_id").alias("doc_b"))
    return dedup.dedup_cluster(pairs, "doc_a", "doc_b")


def _semdedup_clusters_oracle(sf_dir: str) -> str:
    k = ann.kmeans_k_for(sf_dir)
    centroids = ann.kmeans_fit_sample(sf_dir, k)
    return f"""
    WITH RECURSIVE {ann.dd_ivf_ctes(centroids)}, sempairs AS (
        SELECT a.cid, a.vec_id AS id_a, b.vec_id AS id_b,
               {V.dd_cosine('a.embedding', 'b.embedding')} AS score
        FROM assigned a
        JOIN assigned b ON a.cid = b.cid AND a.vec_id < b.vec_id
    ), sem AS (
        SELECT min(id_a) AS keeper_id, id_b AS vec_id
        FROM sempairs WHERE score >= 0.3 GROUP BY cid, id_b
    ), edges AS (
        SELECT keeper_id AS src, vec_id AS dst FROM sem
        UNION
        SELECT vec_id AS src, keeper_id AS dst FROM sem
    ), cc(node, label) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.dst, cc.label FROM cc JOIN edges e ON cc.node = e.src
    )
    SELECT node, min(label) AS cluster_id,
           (node = min(label)) AS is_keeper
    FROM cc GROUP BY node
    """


LAZY_ORACLES["semdedup_clusters"] = _semdedup_clusters_oracle


@query(
    "knn_filtered",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 7),
    allowed AS (
        SELECT doc_id FROM documents WHERE lang = 'en' AND n_chars >= 200
    ), scored AS (
        SELECT e.vec_id, {V.dd_cosine('e.embedding', 'q.qv')} AS score
        FROM embeddings e JOIN allowed a ON a.doc_id = e.vec_id, q
    )
    SELECT vec_id, round(score, 6) AS score,
           row_number() OVER (ORDER BY score DESC, vec_id) AS rank
    FROM scored ORDER BY score DESC, vec_id LIMIT 5
    """,
)
def knn_filtered(spark, sf_dir):
    """Filtered vector search (Milvus search+filter surface,
    milvus_db.py:51 query_entities' expr filter composed with
    milvus_db.py:107 search_vectors): metadata predicate first, cosine
    top-k over survivors only. The predicate pushes to the documents
    scan and the semi-join keeps only allowed ids — at scale the
    filter prunes BEFORE any distance work, the pre-filter posture
    (exact; contrast with post-filtering an unfiltered ANN list, which
    loses recall under selective predicates)."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    allowed = docs.filter(
        (F.col("lang") == "en") & (F.col("n_chars") >= 200)
    ).select(F.col("doc_id").alias("vec_id"))
    qv = emb.filter(F.col("vec_id") == 7).select(F.col("embedding").alias("qv"))
    scored = (
        emb.join(allowed, "vec_id", "left_semi")
        .crossJoin(F.broadcast(qv))
        .select("vec_id", F.expr(V.cosine("embedding", "qv")).alias("score"))
    )
    top = scored.orderBy(F.col("score").desc(), "vec_id").limit(5)
    w = Window.orderBy(F.col("score").desc(), "vec_id")
    return top.select(
        "vec_id",
        F.round("score", 6).alias("score"),
        F.row_number().over(w).cast("long").alias("rank"),
    )


@query(
    "maxsim_group_retrieval",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 7),
    scored AS (
        SELECT e.label, e.vec_id, {V.dd_cosine('e.embedding', 'q.qv')} AS score
        FROM embeddings e, q
    ), per_label AS (
        SELECT label, max(score) AS maxsim FROM scored GROUP BY label
    ), best AS (
        SELECT s.label, min(s.vec_id) AS best_vec
        FROM scored s JOIN per_label p ON p.label = s.label AND s.score = p.maxsim
        GROUP BY s.label
    )
    SELECT p.label, b.best_vec, round(p.maxsim, 6) AS maxsim,
           row_number() OVER (ORDER BY p.maxsim DESC, p.label) AS rank
    FROM per_label p JOIN best b ON b.label = p.label
    ORDER BY p.maxsim DESC, p.label LIMIT 3
    """,
)
def maxsim_group_retrieval(spark, sf_dir):
    """Multi-vector (parent-document / late-interaction lite)
    retrieval: each label is a parent with many vectors; a parent's
    score is the MAX cosine over its members (ColBERT's maxsim
    collapsed to one query vector), returning top-3 parents with
    their best-matching member. One narrow scoring pass + one
    map-side-combinable max_by groupBy — member count per parent never
    multiplies the shuffle."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 7).select(F.col("embedding").alias("qv"))
    scored = emb.crossJoin(F.broadcast(qv)).select(
        "label",
        "vec_id",
        F.expr(V.cosine("embedding", "qv")).alias("score"),
    )
    # max_by with (score, -vec_id) struct: ties on score pick the
    # SMALLEST vec_id, matching the oracle's min(vec_id) over argmax
    per = scored.groupBy("label").agg(
        F.max("score").alias("maxsim"),
        F.max_by(
            "vec_id", F.struct(F.col("score"), (-F.col("vec_id")).alias("_nid"))
        ).alias("best_vec"),
    )
    top = per.orderBy(F.col("maxsim").desc(), "label").limit(3)
    w = Window.orderBy(F.col("maxsim").desc(), "label")
    return top.select(
        "label",
        "best_vec",
        F.round("maxsim", 6).alias("maxsim"),
        F.row_number().over(w).cast("long").alias("rank"),
    )


def _graph_planes(sf_dir: str) -> list[list[float]]:
    """Corpus-sized plane set shared by the kNN-graph build and its
    oracle — the same 4-bit-floor sizing as the probe family
    (part01._sized_planes4): floor 4 reproduces the historical
    16-bucket plan at the N=500 gate scales; 6 bits at sf0.1, 9 at the
    derived sf1, so same-bucket candidate volume per vector stays
    ~constant instead of ~N/2^4."""
    from .part01_vector_chunk_text_dedup_rag_ann import _sized_planes4

    return _sized_planes4(sf_dir)


def _knn_graph_edges(spark, sf_dir, max_bucket=None):
    """Shared kNN-graph edge build for knn_graph_lsh and its degree
    diagnostics: per-vector top-3 cosine neighbors among LSH-bucket
    candidates (corpus-sized planes, _graph_planes), knn.topk_per_key
    per source. ``max_bucket`` (cap_hot_buckets) drops
    over-occupied buckets before the self-join — the same mega-bucket
    guard the pair-dedup family has; capped ≡ uncapped when no bucket
    exceeds the cap."""
    from ..operators.dedup import cap_hot_buckets

    emb = load_table(spark, sf_dir, "embeddings", split=True)
    planes = _graph_planes(sf_dir)
    b = emb.select(
        "vec_id",
        "embedding",
        ann.lsh_bucket("embedding", planes).alias("_b"),
        F.expr(V.l2_norm("embedding")).alias("_nrm"),
    )
    if max_bucket is not None:
        b = cap_hot_buckets(b, ["_b"], max_bucket)
    lhs, rhs = b.alias("a"), b.alias("b")
    scored = (
        lhs.join(
            rhs,
            (F.col("a._b") == F.col("b._b"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("src"),
            F.col("b.vec_id").alias("dst"),
            F.expr(V.cosine("a.embedding", "b.embedding", "a._nrm", "b._nrm")).alias("score"),
        )
    )
    return knn.topk_per_key(scored, "src", "dst", 3)


@query("knn_graph_lsh")  # oracle: LAZY_ORACLES (corpus-sized plane literals)
def knn_graph_lsh(spark, sf_dir):
    """Corpus kNN-graph build (the neighborhood-graph step behind
    HNSW/NN-descent index construction and graph-based dedup): every
    vector's top-3 cosine neighbors among its LSH bucket's candidates
    (corpus-sized planes — bits grow with log N so bucket occupancy,
    and with it candidate volume per vector, stays ~constant). The
    bucket equi-self-join bounds candidate volume by bucket occupancy
    (never n²); per-source top-k is the agg-based prune. Vectors alone
    in their bucket have no rows — at scale raise recall with
    multiprobe, not bigger buckets."""
    out = _knn_graph_edges(spark, sf_dir)
    return out.select(
        "src", "dst", F.round("score", 6).alias("score"), F.col("rank").cast("long")
    )


def _knn_graph_oracle(sf_dir: str) -> str:
    planes = _graph_planes(sf_dir)
    return f"""
    WITH buckets AS (
        SELECT vec_id, {ann.dd_lsh_bucket('embedding', planes)} AS bucket FROM embeddings
    ), c AS (
        SELECT e.vec_id, e.embedding, b.bucket
        FROM embeddings e JOIN buckets b USING (vec_id)
    ), scored AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               {V.dd_cosine('a.embedding', 'b.embedding')} AS score
        FROM c a JOIN c b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    ), ranked AS (
        SELECT src, dst, score,
               row_number() OVER (PARTITION BY src ORDER BY score DESC, dst) AS rank
        FROM scored
    )
    SELECT src, dst, round(score, 6) AS score, rank
    FROM ranked WHERE rank <= 3
    """


LAZY_ORACLES["knn_graph_lsh"] = _knn_graph_oracle


@query(
    "events_anomaly",
    oracle="""
    WITH hourly AS (
        SELECT epoch_ns(ts) // 3600000000000 AS hour_id,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1
    ), scored AS (
        SELECT hour_id, cnt,
               CAST(count(cnt) OVER w AS BIGINT) AS n_hist,
               sum(cnt) OVER w / CAST(count(cnt) OVER w AS DOUBLE) AS m,
               sum(cnt * cnt) OVER w / CAST(count(cnt) OVER w AS DOUBLE)
                 - (sum(cnt) OVER w / CAST(count(cnt) OVER w AS DOUBLE))
                   * (sum(cnt) OVER w / CAST(count(cnt) OVER w AS DOUBLE)) AS v
        FROM hourly
        WINDOW w AS (ORDER BY hour_id ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)
    )
    SELECT hour_id, cnt, round(m, 6) AS trailing_mean,
           round(CASE WHEN v > 0 THEN (cnt - m) / sqrt(v) END, 6) AS zscore,
           CASE WHEN v > 0 THEN abs((cnt - m) / sqrt(v)) > 2 ELSE FALSE END AS is_anomaly
    FROM scored WHERE n_hist >= 6
    """,
)
def events_anomaly(spark, sf_dir):
    """Trailing-window z-score spike/drop detector on hourly event
    counts: the stream collapses to one row per hour before any
    window; variance via exact integer sums (E[x²]-E[x]²) so engines
    agree bit-for-bit pre-round."""
    from ..plans import analytics

    return analytics.events_anomaly(spark, sf_dir)


@query(
    "retrieval_metrics",
    oracle=f"""
    WITH total AS (SELECT count(*) AS n FROM embeddings),
    q AS (
        SELECT vec_id AS query_id, embedding AS query_vec,
               CASE WHEN vec_id % 2 = 0 THEN vec_id
                    ELSE (vec_id * 7 + 3) % (SELECT n FROM total) END AS expected_id
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
    ), per AS (
        SELECT q.query_id, h.hit_rank FROM q LEFT JOIN hits h ON h.query_id = q.query_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(CASE WHEN hit_rank IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           round(avg(CASE WHEN hit_rank IS NULL THEN 0.0 ELSE 1.0 / hit_rank END), 6) AS mrr,
           round(avg(CASE WHEN hit_rank = 1 THEN 1.0 ELSE 0.0 END), 6) AS hit_at_1,
           round(avg(CASE WHEN hit_rank <= 5 THEN 1.0 ELSE 0.0 END), 6) AS hit_at_5,
           round(avg(CASE WHEN hit_rank <= 10 THEN 1.0 ELSE 0.0 END), 6) AS hit_at_10
    FROM per
    """,
)
def retrieval_metrics(spark, sf_dir):
    """Corpus-level retrieval quality rollup (the aggregate half of
    eval.py's harness): MRR and hit@{{1,5,10}} over the same batch
    eval rag_eval_retrieval runs per query — one extra
    map-side-combinable agg on the tiny per-query frame."""
    from ..operators import rag

    emb = load_table(spark, sf_dir, "embeddings")
    total_df = emb.select(F.count("*").alias("_t"))
    queries = (
        emb.filter(F.col("vec_id") < 20)
        .crossJoin(F.broadcast(total_df))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
            F.when(F.col("vec_id") % 2 == 0, F.col("vec_id"))
            .otherwise((F.col("vec_id") * 7 + 3) % F.col("_t"))
            .alias("expected_id"),
        )
    )
    per = rag.eval_retrieval(emb, queries, k=10)
    hit = F.col("hit_rank").isNotNull()
    return per.agg(
        F.count("*").cast("long").alias("n_queries"),
        F.sum(hit.cast("long")).cast("long").alias("n_hits"),
        F.round(F.avg(F.when(hit, 1.0 / F.col("hit_rank")).otherwise(0.0)), 6).alias("mrr"),
        F.round(F.avg(F.when(F.col("hit_rank") == 1, 1.0).otherwise(0.0)), 6).alias("hit_at_1"),
        F.round(F.avg(F.when(F.col("hit_rank") <= 5, 1.0).otherwise(0.0)), 6).alias("hit_at_5"),
        F.round(F.avg(F.when(F.col("hit_rank") <= 10, 1.0).otherwise(0.0)), 6).alias("hit_at_10"),
    )


# ---------------------------------------------------------------------------
# r5: IVF nprobe sweep (the IVF analog of ann_probe_sweep)
# ---------------------------------------------------------------------------


@query("ivf_probe_sweep")  # oracle: LAZY_ORACLES["ivf_probe_sweep"] (centroid literals)
def ivf_probe_sweep(spark, sf_dir):
    """IVF nprobe recall/latency sweep: mean recall@10 and mean scored
    candidates per query for nprobe = 1..4 over the 8-cell quantizer —
    the curve that sizes an IVF index's probe budget (faiss nprobe).
    ONE plan: the budget is an exploded column over a single cell join
    (no driver-side per-nprobe loop), same centroid literals as
    ann_ivf so the whole sweep is hash-checked."""
    emb = load_table(spark, sf_dir, "embeddings", split=True)
    centroids = ann.kmeans_fit_sample(sf_dir)
    queries = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    bf = knn.topk_batch(load_table(spark, sf_dir, "embeddings"), queries, k=10)
    return ann.ivf_probe_sweep(emb, queries, centroids, bf, max_nprobe=4, k=10)


def _ivf_probe_sweep_oracle(sf_dir: str) -> str:
    centroids = ann.kmeans_fit_sample(sf_dir)
    return f"""
    WITH {ann.dd_ivf_ctes(centroids, 10, nprobe=4)}, cand AS (
        SELECT p.query_id, s.vec_id, p.m_min,
               {V.dd_cosine('s.embedding', 'p.query_vec')} AS score
        FROM assigned s JOIN qprobe p ON s.cid = p.cid
    ), budgets AS (
        SELECT unnest([1, 2, 3, 4]) AS m
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
    SELECT CAST(r.m AS BIGINT) AS n_probes,
           round(r.mean_recall, 6) AS mean_recall,
           round(c.n_cand / nq.n_q, 6) AS mean_candidates
    FROM rec r JOIN candn c ON c.m = r.m CROSS JOIN nq
    """


LAZY_ORACLES["ivf_probe_sweep"] = _ivf_probe_sweep_oracle


@query("eval_results_artifact")  # oracle: LAZY_ORACLES (Python re-implementation literals)
def eval_results_artifact(spark, sf_dir):
    """The reference eval.py's data/evaluation_results.json record
    shape (question / expected_answer / predicted_answer /
    groq_evaluation per QA pair), produced end to end from line-paired
    QA text files synthesized deterministically from the corpus: the
    first 5 documents' texts are the questions (self-retrieval), so
    ranks and grades are stable. Rows-only by the same declaration as
    rag_pipeline_e2e — the question embedder is the Python Arrow
    kernel; the record assembly itself is round-trip tested in
    tests/test_rag.py."""
    from ..operators import rag

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    texts = [
        r.text.replace("\n", " ")
        for r in docs.select("doc_id", "text").orderBy("doc_id").limit(5).collect()
    ]
    # fixed per-sf path (like the kw_index reuse): repeated bench/driver
    # invocations overwrite the same two small files instead of leaking
    # a fresh mkdtemp per call
    d = _os.path.join(_WAREHOUSE, f"qa_eval_{_os.path.basename(sf_dir.rstrip('/'))}")
    _os.makedirs(d, exist_ok=True)
    qf, af = f"{d}/questions.txt", f"{d}/answers.txt"
    # one line per text: no texts, no lines (not one blank question)
    with open(qf, "w") as f:
        f.writelines(t + "\n" for t in texts)
    with open(af, "w") as f:
        f.writelines(f"expected answer {i}\n" for i in range(len(texts)))
    return rag.evaluation_results(spark, docs, qf, af, k=5)


def _eval_results_oracle(sf_dir: str) -> str:
    """Independent pure-Python replay of the whole eval pipeline
    (question synth → embed → top-5 → context assembly → RR grade),
    inlined as 5 literal rows — upgrading the former rows-only
    declaration to a cross-implementation hash check (VERDICT r6
    "Next round #7"). Mirrors rag.evaluation_results semantics exactly:
    stripped questions (the QA file round-trip strips lines), min
    expected_id over exact-dup texts, rank-ordered 200-char context,
    'Grade: <reciprocal rank>' text."""
    import duckdb

    from ..operators.embedding import embed_text_py
    from ..registry_parts.part01_vector_chunk_text_dedup_rag_ann import (
        _py_cosine,
        _sql_str,
        _values_sql,
    )
    from ..sources.tables import duck_parquet_path

    docs = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{duck_parquet_path(sf_dir, 'documents')}')"
        " WHERE doc_id < 20 ORDER BY doc_id"
    ).fetchall()
    questions = [t.replace("\n", " ").strip() for _, t in docs[:5]]
    emb = {i: [float(x) for x in embed_text_py(t)] for i, t in docs}
    by_text = {}
    for i, t in docs:
        by_text.setdefault(t, []).append(i)
    out_rows = []
    for qa_id, q in enumerate(questions):
        qv = [float(x) for x in embed_text_py(q)]
        scored = sorted(
            ((i, _py_cosine(emb[i], qv)) for i, _ in docs),
            key=lambda r: (0 if r[1] != r[1] else 1, -r[1] if r[1] == r[1] else 0, r[0]),
        )[:5]
        expected_id = min(by_text[q]) if q in by_text else None
        ctx = " ".join(dict(docs)[i] for i, _ in scored)
        predicted = (
            ctx[:200] if ctx else "Could not find relevant data within the document."
        )
        hit_rank = next(
            (r for r, (i, _) in enumerate(scored, start=1) if i == expected_id), None
        )
        grade = 0.0 if hit_rank is None else round6(1.0 / hit_rank)
        out_rows.append(
            f"(CAST({qa_id} AS BIGINT), {_sql_str(q)}, "
            f"{_sql_str(f'expected answer {qa_id}')}, {_sql_str(predicted)}, "
            f"{_sql_str('Grade: ' + str(grade))})"
        )
    text_cols = ("question", "expected_answer", "predicted_answer", "groq_evaluation")
    return _values_sql(out_rows, [("qa_id", "BIGINT")] + [(c, "VARCHAR") for c in text_cols])


LAZY_ORACLES["eval_results_artifact"] = _eval_results_oracle


# ---------------------------------------------------------------------------
# r5: learned quality scoring + contrastive mining + cell purity
# ---------------------------------------------------------------------------


def _qcls_weights_sql(w: list[float]) -> str:
    rows = ", ".join(
        f"({i}, {int(round(x * MICRO))}::BIGINT)" for i, x in enumerate(w)
    )
    return f"qw(i, wt) AS (VALUES {rows})"


def _quality_classifier_oracle() -> str:
    from ..operators.curation import classifier_weights

    w = classifier_weights(64)
    return f"""
    WITH {_qcls_weights_sql(w)},
    toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), f AS (
        SELECT doc_id, {H.dd_md5_long('tok')} % 64 AS b
        FROM toks WHERE tok <> ''
    ), per AS (
        SELECT f.doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(qw.wt) AS BIGINT) AS sum_micro
        FROM f JOIN qw ON qw.i = f.b
        GROUP BY f.doc_id
    )
    SELECT doc_id, n_tokens, sum_micro,
           round(1.0 / (1.0 + exp(-((sum_micro::DOUBLE) / (n_tokens * {MICRO}.0)))), 6) AS prob,
           sum_micro >= 0 AS keep
    FROM per
    """


@query("quality_classifier", oracle=None)
def quality_classifier(spark, sf_dir):
    """fasttext-style learned quality scorer (the CCNet/GPT-3 model
    filter next to quality_filters' hand-set gates): hashed token
    buckets x broadcast literal weights, mean-weight raw score,
    sigmoid prob, keep gate. Weights are the documented swap point for
    a trained model. One explode + one map-side-combinable groupBy;
    exact decimal sums make the score order-independent."""
    from ..operators import curation

    return curation.quality_classifier(load_table(spark, sf_dir, "documents"))


ORACLES["quality_classifier"] = _quality_classifier_oracle()


@query("hard_negative_mining")  # oracle attached below (_hard_negative_oracle)
def hard_negative_mining(spark, sf_dir):
    """Contrastive hard-negative mining for embedding training: per
    anchor, the most-similar DIFFERENT-label vector among its
    LSH-bucket candidates (highest cosine, ties to lowest id).
    Bucket-bound candidate volume — the same corpus-sized index
    dedup_embedding_lsh uses (ann.planes_for, floor 6 at gate
    scales)."""
    emb = load_table(spark, sf_dir, "embeddings", split=True)
    planes = ann.planes_for(sf_dir)
    out = ann.hard_negative_mining(emb, planes)
    return out.select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        "neg_id",
        F.col("neg_label").cast("long").alias("neg_label"),
        "score",
    )


def _hard_negative_oracle(sf_dir: str) -> str:
    planes = ann.planes_for(sf_dir)
    return f"""
    WITH buckets AS (
        SELECT vec_id, {ann.dd_lsh_bucket('embedding', planes)} AS bucket FROM embeddings
    ), v AS (
        SELECT e.vec_id, e.embedding, e.label, b.bucket
        FROM embeddings e JOIN buckets b USING (vec_id)
    ), pairs AS (
        SELECT a.vec_id, a.label, n.vec_id AS neg_id, n.label AS neg_label,
               {V.dd_cosine('a.embedding', 'n.embedding')} AS score
        FROM v a JOIN v n ON a.bucket = n.bucket AND a.label <> n.label
    ), ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY score DESC, neg_id
        ) AS rn FROM pairs
    )
    SELECT vec_id, CAST(label AS BIGINT) AS label, neg_id,
           CAST(neg_label AS BIGINT) AS neg_label, round(score, 6) AS score
    FROM ranked WHERE rn = 1
    """


LAZY_ORACLES["hard_negative_mining"] = _hard_negative_oracle


@query("cluster_purity")  # oracle: LAZY_ORACLES["cluster_purity"] (centroid literals)
def cluster_purity(spark, sf_dir):
    """IVF cell label purity (the alignment diagnostic next to
    ivf_cell_stats' occupancy balance): per cell, occupancy, distinct
    labels, majority label + share. Same fitted centroid literals as
    ann_ivf; one assignment pass + two map-side-combinable groupBys."""
    emb = load_table(spark, sf_dir, "embeddings", split=True)
    centroids = ann.kmeans_fit_sample(sf_dir)
    return ann.cluster_purity(emb, centroids).select(
        "cell",
        "n",
        "n_labels",
        F.col("top_label").cast("long").alias("top_label"),
        "top_share",
    )


def _cluster_purity_oracle(sf_dir: str) -> str:
    centroids = ann.kmeans_fit_sample(sf_dir)
    return f"""
    WITH {ann.dd_ivf_ctes(centroids)}, per_label AS (
        SELECT cid, label, count(*) AS c FROM assigned GROUP BY cid, label
    ), ranked AS (
        SELECT cid, label, c,
               row_number() OVER (PARTITION BY cid ORDER BY c DESC, label) AS rn,
               CAST(sum(c) OVER (PARTITION BY cid) AS BIGINT) AS n,
               CAST(count(*) OVER (PARTITION BY cid) AS BIGINT) AS n_labels
        FROM per_label
    )
    SELECT CAST(cid AS BIGINT) AS cell, n, n_labels,
           CAST(label AS BIGINT) AS top_label,
           round(c / n, 6) AS top_share
    FROM ranked WHERE rn = 1
    """


LAZY_ORACLES["cluster_purity"] = _cluster_purity_oracle


_KWB_QUERIES = [
    (0, ["spark", "join", "fast"]),
    (1, ["vector", "data", "scan"]),
    (2, ["window", "group", "stream"]),
    (3, ["hash", "merge", "slow"]),
    (4, ["filter", "column"]),
]


def _kwb_qt_sql() -> str:
    rows = ", ".join(
        f"({qid}, '{t}')" for qid, ts in _KWB_QUERIES for t in ts
    )
    return f"qt(query_id, term) AS (VALUES {rows})"


@query(
    "keyword_index_batch",
    oracle=f"""
    WITH {_kwb_qt_sql()},
    toks AS (
        SELECT doc_id, len(string_split(text, ' ')) AS dl,
               unnest(string_split(text, ' ')) AS term
        FROM documents
    ), qtoks AS (
        SELECT * FROM toks WHERE term IN (SELECT DISTINCT term FROM qt)
    ), tf AS (
        SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf, min(dl) AS dl
        FROM qtoks GROUP BY doc_id, term
    ), stats AS (
        SELECT count(*) AS n, avg(len(string_split(text, ' '))) AS avgdl FROM documents
    ), dfreq AS (
        SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term
    ), bm25 AS (
        SELECT qt.query_id, tf.doc_id,
               sum(ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
                   * (tf.tf * (1.2 + 1)) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / s.avgdl))) AS bm25
        FROM tf JOIN qt USING (term) JOIN dfreq d USING (term) CROSS JOIN stats s
        GROUP BY qt.query_id, tf.doc_id
    ), ranked AS (
        SELECT query_id, doc_id, bm25,
               row_number() OVER (PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS rank
        FROM bm25
    )
    SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS BIGINT) AS rank, doc_id, round(bm25, 6) AS bm25
    FROM ranked WHERE rank <= 10
    """,
)
def keyword_index_batch(spark, sf_dir):
    """Batch BM25 from the materialized bucket-pruned inverted index:
    5 keyword queries in ONE plan — shared postings read (union of the
    queries' term buckets), shared df/idf, per-query agg top-k. The
    offline-eval / rerank serving shape next to keyword_index_topk's
    single-query shape; oracle recomputes every query straight from
    documents, index-independent."""
    from ..operators import text_index

    index_dir = _kw_index_dir(spark, sf_dir)
    return text_index.keyword_index_batch(spark, index_dir, _KWB_QUERIES, k=10)


@query(
    "hybrid_index_batch",
    oracle=f"""
    WITH {_kwb_qt_sql()},
    qv AS (
        SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5
    ), toks AS (
        SELECT doc_id, len(string_split(text, ' ')) AS dl,
               unnest(string_split(text, ' ')) AS term
        FROM documents
    ), qtoks AS (
        SELECT * FROM toks WHERE term IN (SELECT DISTINCT term FROM qt)
    ), tf AS (
        SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf, min(dl) AS dl
        FROM qtoks GROUP BY doc_id, term
    ), stats AS (
        SELECT count(*) AS n, avg(len(string_split(text, ' '))) AS avgdl FROM documents
    ), dfreq AS (
        SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term
    ), bm25 AS (
        SELECT qt.query_id, tf.doc_id,
               sum(ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
                   * (tf.tf * (1.2 + 1)) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / s.avgdl))) AS bm25
        FROM tf JOIN qt USING (term) JOIN dfreq d USING (term) CROSS JOIN stats s
        GROUP BY qt.query_id, tf.doc_id
    ), kw_top AS (
        SELECT query_id, doc_id AS _id,
               row_number() OVER (PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS bm25_rank
        FROM bm25 QUALIFY bm25_rank <= 20
    ), vec AS (
        SELECT q.query_id, e.vec_id AS _id, {V.dd_cosine('e.embedding', 'q.qv')} AS score
        FROM embeddings e CROSS JOIN qv q
    ), vec_top AS (
        SELECT query_id, _id,
               row_number() OVER (PARTITION BY query_id ORDER BY score DESC, _id) AS vec_rank
        FROM vec QUALIFY vec_rank <= 20
    ), fused AS (
        SELECT coalesce(k.query_id, v.query_id) AS query_id,
               coalesce(k._id, v._id) AS _id, k.bm25_rank, v.vec_rank,
               round(coalesce(1.0 / (60 + k.bm25_rank), 0.0)
                     + coalesce(1.0 / (60 + v.vec_rank), 0.0), 6) AS fused
        FROM kw_top k FULL OUTER JOIN vec_top v
          ON k.query_id = v.query_id AND k._id = v._id
    ), ranked AS (
        SELECT query_id, _id, bm25_rank, vec_rank, fused,
               row_number() OVER (PARTITION BY query_id ORDER BY fused DESC, _id) AS rank
        FROM fused
    )
    SELECT CAST(query_id AS BIGINT) AS query_id, _id AS doc_id,
           CAST(bm25_rank AS BIGINT) AS bm25_rank,
           CAST(vec_rank AS BIGINT) AS vec_rank, fused,
           CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 10
    """,
)
def hybrid_index_batch(spark, sf_dir):
    """Batch hybrid RRF from the materialized index: 5 (terms, vector)
    queries fused in ONE plan — shared pruned postings read for the
    keyword tower, one broadcast batch-kNN corpus pass for the vector
    tower, keyed RRF fusion. The built-once / served-many completion
    of hybrid_index_rrf's single-query shape; the oracle recomputes
    every query from documents + embeddings, index-independent."""
    from ..operators import text_index

    index_dir = _kw_index_dir(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    query_vecs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return text_index.hybrid_index_batch(
        spark, index_dir, emb, _KWB_QUERIES, query_vecs, k=10, depth=20
    )


@query(
    "multimodal_dedup",
    oracle="""
    WITH m AS (
        SELECT d.doc_id AS media_id,
               CASE d.doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
               md5(p.text) AS content_md5
        FROM documents d JOIN documents p ON p.doc_id = d.doc_id // 3
    ), k AS (
        SELECT content_md5, min(media_id) AS keeper_id,
               CAST(count(*) AS BIGINT) AS n_copies
        FROM m GROUP BY content_md5
    )
    SELECT m.content_md5, m.media_id, m.kind, k.keeper_id, k.n_copies
    FROM m JOIN k USING (content_md5)
    WHERE m.media_id <> k.keeper_id
    """,
)
def multimodal_dedup(spark, sf_dir):
    """Binary-payload exact dedup over a re-crawled media table (the
    content-hash image/audio dedup step of a multimodal pretraining
    pipeline — a crawl fetches the same bytes under many URLs):
    keep-first per payload md5, drop list with keeper + copy count.
    The corpus has no exact-dup texts, so the media table simulates
    the re-crawl deterministically: media row i carries the payload of
    doc i div 3 (each payload appears under ~3 media ids). Payload
    bytes reduce to digests before the shuffle; the oracle reproduces
    every hash from the documents self-join."""
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    payloads = docs.select(F.col("doc_id").alias("_pid"), F.col("text").alias("_ptext"))
    media = (
        docs.select(
            F.col("doc_id").alias("media_id"),
            F.expr("doc_id div 3").alias("_pid"),
        )
        .join(payloads, "_pid")
        .select(
            "media_id",
            F.element_at(
                V.lit_array(["image", "audio", "video"]),
                (F.col("media_id") % 3 + 1).cast("int"),
            ).alias("kind"),
            F.encode(F.col("_ptext"), "utf-8").alias("content"),
        )
    )
    return multimodal.dedup_media(media)


@query(
    "volume_shipping",
    oracle="""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    WHERE l.l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND ((sn.n_name = 'NATION_18' AND cn.n_name = 'NATION_19')
        OR (sn.n_name = 'NATION_19' AND cn.n_name = 'NATION_18'))
    GROUP BY 1, 2, 3
    """,
)
def volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: cross-nation shipping revenue per
    (supp_nation, cust_nation, ship year) — the two-role-joins-of-one-
    dimension pattern (nation joins twice under different roles)."""
    from ..plans import analytics

    return analytics.volume_shipping(spark, sf_dir)


@query(
    "promo_revenue",
    oracle="""
    SELECT CAST(EXTRACT(year FROM l.l_shipdate) * 100 + EXTRACT(month FROM l.l_shipdate) AS BIGINT) AS ship_month,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CASE WHEN p.p_type = 'PROMO'
                    THEN CAST(l.l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))
                    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS promo_revenue,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS total_revenue,
           round(100.0 * CAST(sum(CASE WHEN p.p_type = 'PROMO'
                    THEN CAST(l.l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))
                    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                 / CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE), 6) AS promo_pct
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1
    """,
)
def promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape: promotion revenue share per ship month — the
    first headliner to exercise the part dimension (lineitem join on
    partkey, conditional decimal sums, one map-side-combinable agg)."""
    from ..plans import analytics

    return analytics.promo_revenue(spark, sf_dir)


@query(
    "discounted_revenue",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#4'  AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#19' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#16' AND p.p_size BETWEEN 1 AND 35 AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def discounted_revenue(spark, sf_dir):
    """TPC-H Q19 shape: disjunction of conjunctive (brand, size,
    quantity) clauses across lineitem ⋈ part, with the per-side
    pushdown hulls stated explicitly (the OR spans both sides, so
    Catalyst cannot derive them)."""
    from ..plans import analytics

    return analytics.discounted_revenue(spark, sf_dir)


@query("ann_ivfpq")  # oracle: LAZY_ORACLES["ann_ivfpq"] (centroid+codebook literals)
def ann_ivfpq(spark, sf_dir):
    """IVF-PQ composite search (faiss IndexIVFPQ): corpus encoded once
    into (cell, 4 PQ codes), queries ADC-scan only their 2 probed
    cells — the inverted-file + compressed-code serving shape that
    bounds a 100 TB scan to nprobe/K of 64×-compressed codes. Both the
    coarse quantizer and the codebooks are sample-fitted driver-side
    and inline into the DuckDB oracle as literals, so cell assignment,
    PQ encode, probe choice, ADC and ranking are all hash-checked."""
    emb = load_table(spark, sf_dir, "embeddings", split=True)
    centroids = ann.kmeans_fit_sample(sf_dir)
    books = ann.pq_fit_sample(sf_dir)
    queries = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ann.ann_ivfpq_topk(emb, queries, centroids, books, k=3, nprobe=2)
    return out.select(
        "query_id", "vec_id", F.round("dist", 6).alias("dist"), F.col("rank").cast("long")
    )


@query("ann_ivfpq_indexed")  # oracle: LAZY_ORACLES (= ann_ivfpq's — same contract)
def ann_ivfpq_indexed(spark, sf_dir):
    """IVF-PQ over a MATERIALIZED code-only cell-partitioned layout
    (faiss's on-disk IndexIVFPQ): build once (idempotent), ~64×
    smaller than the corpus because only PQ codes are stored; probes
    join on the PARTITION column so pruning skips non-probed cells'
    directories before I/O. Result contract identical to ann_ivfpq, so
    the same centroid+codebook-literal oracle hash-checks the whole
    build+ADC path."""
    centroids = ann.kmeans_fit_sample(sf_dir)
    books = ann.pq_fit_sample(sf_dir)
    index_dir = _os.path.join(
        _WAREHOUSE, f"ivfpq_index_{_os.path.basename(sf_dir.rstrip('/'))}"
    )
    if not _os.path.exists(_os.path.join(index_dir, "_SUCCESS")):
        ann.ivfpq_index_build(
            load_table(spark, sf_dir, "embeddings", split=True),
            centroids,
            books,
            index_dir,
        )
    queries = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ann.ann_ivfpq_indexed_topk(
        spark, index_dir, queries, centroids, books, k=3, nprobe=2
    )
    return out.select(
        "query_id", "vec_id", F.round("dist", 6).alias("dist"), F.col("rank").cast("long")
    )


def _ivfpq_oracle(sf_dir: str) -> str:
    centroids = ann.kmeans_fit_sample(sf_dir)
    books = ann.pq_fit_sample(sf_dir)
    # ADC only on the rows whose assigned cell is probed
    return "WITH" + ann.dd_ivf_ctes(centroids, 5) + f"""
    , coded AS (
        SELECT vec_id, cid, {ann.dd_pq_codes('embedding', books)} AS codes FROM assigned
    ), scored AS (
        SELECT p.query_id, c.vec_id, {ann.dd_adc_dist('p.query_vec', 'c.codes', books)} AS dist
        FROM coded c JOIN qprobe p ON c.cid = p.cid
    ), ranked AS (
        SELECT query_id, vec_id, dist,
               row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rank
        FROM scored
    )
    SELECT query_id, vec_id, round(dist, 6) AS dist, rank
    FROM ranked WHERE rank <= 3
    """


LAZY_ORACLES["ann_ivfpq"] = _ivfpq_oracle
LAZY_ORACLES["ann_ivfpq_indexed"] = _ivfpq_oracle


@query(
    "substring_dedup",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), w AS (
        SELECT doc_id, unnest(
            CASE WHEN len(t) < 8 THEN []::BIGINT[]
                 ELSE [{H.dd_md5_long("array_to_string(t[i + 1 : i + 8], ' ')")}
                       FOR i IN range(len(t) - 7)]
            END) AS wh
        FROM toks
    ), c AS (
        SELECT wh, count(*) AS cnt FROM w GROUP BY wh
    ), perdoc AS (
        SELECT w.doc_id,
               count(*) AS n_windows,
               sum(CASE WHEN c.cnt >= 2 THEN 1 ELSE 0 END) AS n_dup
        FROM w JOIN c USING (wh)
        GROUP BY w.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(p.n_windows, 0) AS BIGINT) AS n_windows,
           CAST(COALESCE(p.n_dup, 0) AS BIGINT) AS n_dup_windows,
           round(CASE WHEN COALESCE(p.n_windows, 0) = 0 THEN 0.0
                      ELSE p.n_dup * 1.0 / p.n_windows END, 6) AS dup_fraction
    FROM documents d LEFT JOIN perdoc p USING (doc_id)
    """,
)
def substring_dedup_q(spark, sf_dir):
    """Exact substring duplication (Lee et al. 2021 ExactSubstr
    criterion, relational form): per-doc fraction of 8-token windows
    whose hash occurs ≥ 2 times corpus-wide. Docs reduce to window
    hashes map-side; one count shuffle + one hash-partitioned join
    back — the paper's suffix array re-expressed as a plan that
    survives 100 TB."""
    from ..operators import dedup

    return dedup.substring_dedup(
        load_table(spark, sf_dir, "documents", split=True), w=8
    )


@query(
    "order_priority_check",
    oracle="""
    SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate >= o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY 1
    """,
)
def order_priority_check_q(spark, sf_dir):
    """TPC-H Q4 shape: per-priority count of one quarter's orders with
    ≥ 1 late-shipped lineitem — the EXISTS-as-LEFT-SEMI pattern (no
    duplicate orders, no distinct; cross-side date predicate rides the
    join condition)."""
    from ..plans import analytics

    return analytics.order_priority_check(spark, sf_dir)


@query(
    "customer_order_distribution",
    oracle="""
    WITH c_orders AS (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_custkey
    )
    SELECT CAST(c_count AS BIGINT) AS c_count,
           CAST(count(*) AS BIGINT) AS custdist
    FROM c_orders GROUP BY c_count
    """,
)
def customer_order_distribution_q(spark, sf_dir):
    """TPC-H Q13 shape: customers-per-order-count distribution
    including zero-order customers (the LEFT OUTER reason). Orders
    aggregate per custkey BEFORE the customer join, so wide customer
    rows never cross the fact shuffle."""
    from ..plans import analytics

    return analytics.customer_order_distribution(spark, sf_dir)


@query(
    "small_quantity_revenue",
    oracle="""
    WITH bp AS (
        SELECT p_partkey FROM part WHERE p_brand = 'Brand#13'
    ), li AS (
        SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
        FROM lineitem l JOIN bp ON l.l_partkey = bp.p_partkey
    ), pa AS (
        SELECT l_partkey, avg(l_quantity) AS avg_qty FROM li GROUP BY l_partkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_items,
           round(CAST(COALESCE(sum(CAST(li.l_extendedprice AS DECIMAL(18,2))),
                               CAST(0 AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 6)
               AS avg_yearly
    FROM li JOIN pa USING (l_partkey)
    WHERE li.l_quantity < 0.2 * pa.avg_qty
    """,
)
def small_quantity_revenue_q(spark, sf_dir):
    """TPC-H Q17 shape: revenue share of one brand's small-quantity
    items (quantity < 20% of the part's average) — the
    correlated-average pattern: brand semi-join cuts lineitem once,
    per-part avg + detail re-join both reuse that frame's partkey
    partitioning. Integer-valued quantities make the avg exact in
    both engines."""
    from ..plans import analytics

    return analytics.small_quantity_revenue(spark, sf_dir)


@query(
    "large_volume_customers",
    oracle="""
    WITH oq AS (
        SELECT l_orderkey, sum(l_quantity) AS sum_qty
        FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           CAST(epoch(o.o_orderdate) AS BIGINT) AS order_epoch,
           round(o.o_totalprice, 6) AS o_totalprice,
           CAST(oq.sum_qty AS BIGINT) AS sum_qty
    FROM orders o
    JOIN oq ON o.o_orderkey = oq.l_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
)
def large_volume_customers_q(spark, sf_dir):
    """TPC-H Q18 shape: customers whose single orders total > 300
    units — HAVING on the fact agg collapses to a handful of hot
    orders; AQE broadcasts the survivors through the orders/customer
    joins. Top-100 via TakeOrdered with an orderkey tie-break."""
    from ..plans import analytics

    return analytics.large_volume_customers(spark, sf_dir)


@query(
    "scd2_intervals",
    oracle="""
    WITH u AS (
        SELECT user_id, epoch_us(ts) AS ts_us, event_id, value
        FROM events WHERE event_type = 'purchase'
    ), chg AS (
        SELECT *, lag(value) OVER (
            PARTITION BY user_id ORDER BY ts_us, event_id) AS prev
        FROM u
    ), c AS (
        SELECT user_id, ts_us, event_id, value FROM chg
        WHERE prev IS NULL OR value <> prev
    ), v AS (
        SELECT user_id, value, ts_us AS valid_from_us,
               lead(ts_us) OVER (
                   PARTITION BY user_id ORDER BY ts_us, event_id) AS valid_to_us,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts_us, event_id) AS version
        FROM c
    )
    SELECT user_id, CAST(version AS BIGINT) AS version,
           round(value, 6) AS value, valid_from_us, valid_to_us,
           valid_to_us IS NULL AS is_current
    FROM v
    """,
)
def scd2_intervals_q(spark, sf_dir):
    """SCD2 history build (Kimball type-2 dimension merge): change
    events → validity intervals with open current rows; lag change
    detection and lead/row_number interval build share ONE (user_id)
    shuffle and sort. Micros precision end-to-end."""
    from ..plans import analytics

    return analytics.scd2_intervals(spark, sf_dir)


@query(
    "bloom_dedup_probe",
    oracle=f"""
    WITH c AS (
        SELECT doc_id, md5(text) AS ch, doc_id % 2 = 0 AS in_base FROM documents
    ), bits AS (
        SELECT DISTINCT b FROM (
            SELECT {H.dd_md5_long('ch', 0)} % 1024 AS b FROM c WHERE in_base
            UNION ALL
            SELECT {H.dd_md5_long('ch', 1)} % 1024 AS b FROM c WHERE in_base
        )
    ), probe AS (
        SELECT doc_id, in_base, ch, {H.dd_md5_long('ch', 0)} % 1024 AS b FROM c
        UNION ALL
        SELECT doc_id, in_base, ch, {H.dd_md5_long('ch', 1)} % 1024 AS b FROM c
    ), hits AS (
        SELECT p.doc_id, p.in_base, p.ch,
               sum(CASE WHEN bits.b IS NOT NULL THEN 1 ELSE 0 END) = 2 AS bloom_hit
        FROM probe p LEFT JOIN bits ON p.b = bits.b
        GROUP BY 1, 2, 3
    ), bh AS (
        SELECT DISTINCT ch FROM c WHERE in_base
    )
    SELECT h.doc_id, h.in_base, h.bloom_hit,
           bh.ch IS NOT NULL AS exact_dup,
           h.bloom_hit AND bh.ch IS NULL AS false_positive
    FROM hits h LEFT JOIN bh ON h.ch = bh.ch
    """,
)
def bloom_dedup_probe_q(spark, sf_dir):
    """Bloom-filter dedup pre-screen (Bloom CACM'70): the even-id half
    of the corpus builds a 1024-bit / 2-hash filter from content
    digests, every doc probes it — base docs can never miss (the
    no-false-negative property, hash-checked row-for-row) and non-base
    hits are the measured false-positive rate. The filter is the
    distinct set-bit table, bounded by the CONSTANT m — the one
    broadcast the no-data-proportional-hint rule explicitly allows."""
    from ..operators import sketch

    return sketch.bloom_dedup_probe(
        load_table(spark, sf_dir, "documents"), m=1024, k_hashes=2
    )


@query(
    "keyword_index_phrase",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term,
               unnest(range(len(string_split(text, ' ')))) AS pos
        FROM documents
    ), p0 AS (
        SELECT doc_id, pos FROM toks WHERE term = 'part'
    ), p1 AS (
        SELECT doc_id, pos FROM toks WHERE term = 'filter'
    ), m AS (
        SELECT p0.doc_id, CAST(count(*) AS BIGINT) AS n_phrase
        FROM p0 JOIN p1 ON p1.doc_id = p0.doc_id AND p1.pos = p0.pos + 1
        GROUP BY 1
    )
    SELECT row_number() OVER (ORDER BY n_phrase DESC, doc_id) AS rank,
           doc_id, n_phrase
    FROM m ORDER BY n_phrase DESC, doc_id LIMIT 10
    """,
)
def keyword_index_phrase(spark, sf_dir):
    """Exact phrase query ("part filter") served from the MATERIALIZED
    positional index (the phrase extension of keyword_index_topk's
    layout): term i's positions shift left by i, the intersection of
    the shifted arrays is the phrase-start set — bucket-partition
    pruning before I/O, per-doc array ops at query time, no positional
    explode. The oracle recomputes adjacency straight from documents,
    index-independent."""
    from ..operators import text_index

    index_dir = _os.path.join(
        _WAREHOUSE, f"kwpos_index_{_os.path.basename(sf_dir.rstrip('/'))}"
    )
    if not _os.path.exists(_os.path.join(index_dir, "postings_pos", "_SUCCESS")):
        text_index.positional_index_build(
            load_table(spark, sf_dir, "documents"), index_dir
        )
    return text_index.phrase_topk(spark, index_dir, ["part", "filter"], k=10)


@query(
    "top_supplier_revenue",
    oracle="""
    WITH r AS (
        SELECT l_suppkey,
               sum(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, CAST(r.rev AS DOUBLE) AS total_revenue
    FROM r JOIN supplier s ON r.l_suppkey = s.s_suppkey
    WHERE r.rev = (SELECT max(rev) FROM r)
    """,
)
def top_supplier_revenue_q(spark, sf_dir):
    """TPC-H Q15 shape: the quarter's maximum-revenue supplier(s) —
    agg-then-max-scalar (the reference's view + scalar subquery): one
    fact agg, 1-row broadcast max, exact DECIMAL equality so ties
    survive in both engines."""
    from ..plans import analytics

    return analytics.top_supplier_revenue(spark, sf_dir)


@query(
    "suppliers_kept_waiting",
    oracle="""
    WITH ls AS (
        SELECT l.l_orderkey, l.l_suppkey,
               max(CASE WHEN l.l_shipdate >= o.o_orderdate + INTERVAL 90 DAY
                        THEN 1 ELSE 0 END) AS late
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2
    ), po AS (
        SELECT l_orderkey, count(*) AS n_supps, sum(late) AS n_late
        FROM ls GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM ls JOIN po USING (l_orderkey)
    JOIN supplier s ON ls.l_suppkey = s.s_suppkey
    WHERE ls.late = 1 AND po.n_supps >= 2 AND po.n_late = 1
    GROUP BY 1, 2
    ORDER BY numwait DESC, s.s_suppkey
    LIMIT 10
    """,
)
def suppliers_kept_waiting_q(spark, sf_dir):
    """TPC-H Q21 shape: suppliers who were the only late shipper on a
    multi-supplier order — the EXISTS + NOT-EXISTS pair re-expressed
    as two stacked aggs sharing the orderkey partitioning (no
    correlated re-scans). Top-10 by wait count, TakeOrdered."""
    from ..plans import analytics

    return analytics.suppliers_kept_waiting(spark, sf_dir)


@query(
    "tokenizer_fertility",
    oracle=r"""
    WITH t AS (
        SELECT lang, length(text) AS nc,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS nbpe,
               len(string_split(text, ' ')) AS nw
        FROM documents
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(nbpe) AS BIGINT) AS n_subword_tokens,
           CAST(sum(nw) AS BIGINT) AS n_words,
           CAST(sum(nc) AS BIGINT) AS n_chars,
           round(sum(nbpe) * 1.0 / sum(nw), 6) AS fertility,
           round(sum(nc) * 1.0 / sum(nbpe), 6) AS chars_per_subword
    FROM t GROUP BY lang
    """,
)
def tokenizer_fertility_q(spark, sf_dir):
    """Tokenizer fertility per language (subword tokens per whitespace
    word — the multilingual tokenizer-efficiency metric that weighs
    vocab sizing and corpus-mix decisions), plus chars-per-subword.
    One narrow projection + one map-side-combinable groupBy(lang)."""
    return text_analysis.tokenizer_fertility(
        load_table(spark, sf_dir, "documents")
    )


def _dsir_oracle() -> str:
    from ..operators.curation import dsir_lambdas

    lam = dsir_lambdas(64)
    return f"""
    WITH {_qcls_weights_sql(lam)},
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    uni AS (SELECT doc_id, unnest(t) AS f FROM toks),
    bi AS (
        SELECT doc_id, unnest(
            CASE WHEN len(t) < 2 THEN []::VARCHAR[]
                 ELSE [array_to_string(t[i + 1 : i + 2], ' ') FOR i IN range(len(t) - 1)]
            END) AS f
        FROM toks
    ), feats AS (
        SELECT doc_id, f FROM uni WHERE f <> ''
        UNION ALL
        SELECT doc_id, f FROM bi WHERE f <> ''
    ), per AS (
        SELECT feats.doc_id,
               CAST(count(*) AS BIGINT) AS n_feats,
               CAST(sum(qw.wt) AS BIGINT) AS logratio_micro
        FROM feats JOIN qw ON qw.i = {H.dd_md5_long('f')} % 64
        GROUP BY feats.doc_id
    ), cut AS (
        SELECT quantile_cont(logratio_micro, 0.75) AS c FROM per
    )
    SELECT doc_id, n_feats, logratio_micro,
           round(exp((logratio_micro::DOUBLE) / (n_feats * {MICRO}.0)), 6) AS importance,
           logratio_micro >= cut.c AS selected
    FROM per, cut
    """


@query("dsir_selection", oracle=None)
def dsir_selection_q(spark, sf_dir):
    """DSIR data selection (Xie et al. NeurIPS'23): per-doc importance
    log-ratio under hashed unigram+bigram features (λ table = the
    documented swap point for the two fitted n-gram models), top-25%
    corpus-quantile keep cut — the deterministic analog of the
    resampling step. Integer micro-unit sums keep the score
    order-free; the quantile cut rides a 1-row broadcast."""
    from ..operators import curation

    return curation.dsir_selection(load_table(spark, sf_dir, "documents"))


ORACLES["dsir_selection"] = _dsir_oracle()


@query(
    "shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           CAST(EXTRACT(year FROM o.o_orderdate) * 10000
              + EXTRACT(month FROM o.o_orderdate) * 100
              + EXTRACT(day FROM o.o_orderdate) AS BIGINT) AS o_orderdate_key,
           o.o_orderpriority,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, o_orderdate_key, l_orderkey
    LIMIT 10
    """,
)
def shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: top-10 unshipped-order revenue for one market
    segment — both date filters and the segment filter reach their
    scans' PushedFilters; top-N via TakeOrdered, no global sort."""
    from ..plans import analytics

    return analytics.shipping_priority(spark, sf_dir)


@query(
    "revenue_forecast",
    oracle="""
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
)
def revenue_forecast(spark, sf_dir):
    """TPC-H Q6 shape: one scan + one map-side-combinable agg with
    every predicate pushed to the parquet reader — the canonical
    pushdown showcase (date range prunes partitions in a partitioned
    layout; residual filters evaluate before any row surfaces)."""
    from ..plans import analytics

    return analytics.revenue_forecast(spark, sf_dir)


@query(
    "returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY 1, 2, 3, 4
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def returned_items(spark, sf_dir):
    """TPC-H Q10 shape: top customers by returned-item revenue in one
    quarter — quarter filter pushed to orders, returnflag to lineitem,
    25-row nation broadcast, customer hint-free (AQE)."""
    from ..plans import analytics

    return analytics.returned_items(spark, sf_dir)


@query(
    "market_share",
    oracle="""
    SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
           CAST(sum(CASE WHEN sn.n_name = 'NATION_3'
                    THEN CAST(l.l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))
                    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS national_revenue,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS total_revenue,
           round(CAST(sum(CASE WHEN sn.n_name = 'NATION_3'
                    THEN CAST(l.l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))
                    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                 / CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE), 6) AS mkt_share
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    JOIN region r ON cn.n_regionkey = r.r_regionkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    WHERE p.p_type = 'ECONOMY'
      AND r.r_name = 'EUROPE'
      AND o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1
    """,
)
def market_share(spark, sf_dir):
    """TPC-H Q8 shape: one nation's revenue share for one part type
    among one region's customers, per order year — the widest
    headliner join tree (7 relations, nation twice under different
    roles); share = conditional-sum ratio in ONE agg."""
    from ..plans import analytics

    return analytics.market_share(spark, sf_dir)


@query(
    "keyword_index_merge",
    oracle="""
    WITH toks AS (
        SELECT doc_id, len(string_split(text, ' ')) AS dl,
               unnest(string_split(text, ' ')) AS term
        FROM documents
    ), qtoks AS (
        SELECT * FROM toks WHERE term IN ('table', 'scan', 'window')
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
    )
    SELECT row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank,
           doc_id, round(bm25, 6) AS bm25
    FROM bm25 ORDER BY bm25 DESC, doc_id LIMIT 10
    """,
)
def keyword_index_merge_q(spark, sf_dir):
    """Incremental inverted-index maintenance (the nightly-ingest shape
    of the BM25 layout): the even-id half bulk-builds the MERGEABLE
    index (postings partitioned by (batch, bucket) + commit ledger),
    the odd-id half merges in as batch 1 — only the new slice is
    tokenized, replays overwrite their own batch partitions
    (idempotent), and a crash at any boundary converges on re-run.
    Serving reads the merged directory with the usual bucket pruning;
    the oracle recomputes BM25 from the FULL corpus, proving
    merge == rebuild."""
    from ..operators import text_index

    index_dir = _os.path.join(
        _WAREHOUSE, f"kw_index_m_{_os.path.basename(sf_dir.rstrip('/'))}"
    )
    docs = load_table(spark, sf_dir, "documents")
    committed: set[int] = set()
    if _os.path.exists(_os.path.join(index_dir, "ledger", "_SUCCESS")):
        committed = {
            r["batch"]
            for r in spark.read.parquet(f"{index_dir}/ledger").select("batch").collect()
        }
    if not {0, 1} <= committed:
        text_index.mergeable_index_build(
            docs.filter(F.col("doc_id") % 2 == 0), index_dir
        )
        text_index.keyword_index_merge(
            spark, docs.filter(F.col("doc_id") % 2 == 1), index_dir, batch_id=1
        )
    return text_index.keyword_index_topk(
        spark, index_dir, ["table", "scan", "window"], k=10
    )


@query(
    "cdc_apply",
    oracle="""
    WITH log AS (
        SELECT user_id, epoch_us(ts) AS ts_us, event_id,
               CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
               value
        FROM events
    ), ranked AS (
        SELECT *, row_number() OVER (
                   PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC
               ) AS rn,
               count(*) OVER (PARTITION BY user_id) AS n_ops
        FROM log
    )
    SELECT user_id, value, ts_us AS updated_at_us, CAST(n_ops AS BIGINT) AS n_ops
    FROM ranked WHERE rn = 1 AND op = 'U'
    """,
)
def cdc_apply_q(spark, sf_dir):
    """CDC changelog apply (lakehouse MERGE / Debezium compaction):
    fold a keyed change log to current state — last-write-wins per
    key, tombstones drop the key. ONE map-side-combinable groupBy
    (max_by over the (ts, event_id) total order), no window over the
    raw log; the oracle replays the fold with a window."""
    from ..plans import analytics

    return analytics.cdc_apply(spark, sf_dir)


@query("ann_ivfpq_residual")  # oracle: LAZY_ORACLES (centroid + residual-codebook literals)
def ann_ivfpq_residual(spark, sf_dir):
    """IVF-PQ with RESIDUAL encoding (faiss IndexIVFPQ's default,
    by_residual=True): codebooks train on x − c(x) so the code budget
    quantizes the within-cell spread; ADC LUTs become per-(query,
    probed cell) on the exploded broadcast side. Completes the PQ
    family next to ann_ivfpq's by_residual=False. Coarse centroids AND
    residual codebooks inline into the DuckDB oracle, so assignment,
    residual encode, probe choice, per-cell LUT ADC and ranking are
    all hash-checked."""
    emb = load_table(spark, sf_dir, "embeddings", split=True)
    centroids = ann.kmeans_fit_sample(sf_dir)
    books = ann.pq_fit_residual_sample(sf_dir, centroids)
    queries = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ann.ann_ivfpq_residual_topk(emb, queries, centroids, books, k=3, nprobe=2)
    return out.select(
        "query_id", "vec_id", F.round("dist", 6).alias("dist"), F.col("rank").cast("long")
    )


def _ivfpq_residual_oracle(sf_dir: str) -> str:
    centroids = ann.kmeans_fit_sample(sf_dir)
    books = ann.pq_fit_residual_sample(sf_dir, centroids)
    cents = V.dd_literal(centroids)

    def residual(vec: str) -> str:
        # x − c(x) elementwise: the float sequence of Spark's zip_with
        return f"list_transform(list_zip(({vec})::DOUBLE[], {cents}[cid + 1]), x -> x[1] - x[2])"

    # the ADC LUT is per (query, probed cell): q − c changes with the cell
    return "WITH" + ann.dd_ivf_ctes(centroids, 5) + f"""
    , res AS (
        SELECT vec_id, cid, {residual('embedding')} AS r FROM assigned
    ), coded AS (
        SELECT vec_id, cid, {ann.dd_pq_codes('r', books)} AS codes FROM res
    ), qres AS (
        SELECT query_id, cid, {residual('query_vec')} AS qr FROM qprobe
    ), scored AS (
        SELECT p.query_id, c.vec_id, {ann.dd_adc_dist('p.qr', 'c.codes', books)} AS dist
        FROM coded c JOIN qres p ON c.cid = p.cid
    ), ranked AS (
        SELECT query_id, vec_id, dist,
               row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rank
        FROM scored
    )
    SELECT query_id, vec_id, round(dist, 6) AS dist, rank
    FROM ranked WHERE rank <= 3
    """


LAZY_ORACLES["ann_ivfpq_residual"] = _ivfpq_residual_oracle


@query(
    "dedup_cluster_stats",
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
    ), labelled AS (
        SELECT node, min(label) AS cluster_id FROM cc GROUP BY node
    ), per_cluster AS (
        SELECT cluster_id, count(*) AS sz FROM labelled GROUP BY cluster_id
    )
    SELECT sz AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(sz) AS BIGINT) AS n_docs,
           CAST(sum(sz - 1) AS BIGINT) AS n_removable
    FROM per_cluster GROUP BY sz
    """,
)
def dedup_cluster_stats_q(spark, sf_dir):
    """Duplicate-cluster size histogram + removable-doc counts over
    the connected-components labelling — the payoff/skew measurement
    a dedup run reads before deleting anything. Same pair set and
    components as dedup_cluster, so the recursive-CTE oracle
    hash-checks the iteration AND the rollup."""
    from ..operators import dedup

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    pairs = dedup.dedup_embedding_cosine(emb, threshold=0.3, all_pairs=True)
    cc = dedup.dedup_cluster(pairs, "id_a", "id_b")
    return dedup.cluster_stats(cc)


def _band_sweep_oracle() -> str:
    def cand(b: int, r: int) -> str:
        bands_sql = " OR ".join(
            "("
            + " AND ".join(f"a{band * r + row} = b{band * r + row}" for row in range(r))
            + ")"
            for band in range(b)
        )
        return bands_sql

    legs = "\n    UNION ALL\n    ".join(
        f"""SELECT CAST({b} AS BIGINT) AS bands, CAST({r} AS BIGINT) AS rows_per_band,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(CASE WHEN j >= 0.02 THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
               CAST(sum(CASE WHEN {cand(b, r)} THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
               CAST(sum(CASE WHEN ({cand(b, r)}) AND j >= 0.02 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
        FROM scored"""
        for b, r in ((8, 1), (4, 2), (2, 4), (1, 8))
    )
    ab = ", ".join(f"sa.h{i} AS a{i}, sb.h{i} AS b{i}" for i in range(8))
    return f"""
    WITH dsub AS (SELECT doc_id, text FROM documents WHERE doc_id < 120),
    sh AS (
        SELECT DISTINCT doc_id, unnest(
            CASE WHEN len(t) < 3 THEN []::VARCHAR[]
                 ELSE [array_to_string(t[i + 1 : i + 3], ' ') FOR i IN range(len(t) - 2)]
            END) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM dsub)
    ), shf AS (SELECT * FROM sh WHERE shingle <> ''),
    mh AS (SELECT doc_id,
        ('0x' || substr(md5('0:' || shingle), 1, 15))::BIGINT AS ha,
        ('0x' || substr(md5('1:' || shingle), 1, 14))::BIGINT AS hb FROM shf),
    sig AS (SELECT doc_id, {", ".join(f"min(ha + {i} * hb) AS h{i}" for i in range(8))}
        FROM mh GROUP BY doc_id),
    sizes AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS n FROM shf GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS da, b.doc_id AS db, CAST(count(*) AS DOUBLE) AS ni
        FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, {ab},
               coalesce(i.ni, 0) / (x.n + y.n - coalesce(i.ni, 0)) AS j
        FROM sig sa
        JOIN sig sb ON sa.doc_id < sb.doc_id
        JOIN sizes x ON x.doc_id = sa.doc_id
        JOIN sizes y ON y.doc_id = sb.doc_id
        LEFT JOIN inter i ON i.da = sa.doc_id AND i.db = sb.doc_id
    ), agged AS (
    {legs}
    )
    SELECT bands, rows_per_band AS rows, n_pairs, n_true, n_candidates, n_hits,
           CASE WHEN n_true > 0 THEN round(n_hits::DOUBLE / n_true, 6) END AS recall,
           CASE WHEN n_candidates > 0 THEN round(n_hits::DOUBLE / n_candidates, 6) END AS precision
    FROM agged
    """


@query("minhash_band_sweep", oracle=None)
def minhash_band_sweep_q(spark, sf_dir):
    """Banding-scheme sweep: candidate volume + recall/precision vs
    exact Jaccard ≥ τ for every (bands, rows) split of one 8-component
    signature — the empirical S-curve that sizes MinHash-LSH banding.
    Exact truth runs on an explicitly bounded id-prefix subset (the
    similarity_matrix posture); one signature frame, one pair pass,
    configs exploded per pair."""
    from ..operators import dedup

    return dedup.minhash_band_sweep(load_table(spark, sf_dir, "documents"))


ORACLES["minhash_band_sweep"] = _band_sweep_oracle()


# 1-based DCG rank discounts 1/log2(rank+1), inlined as literals on
# BOTH engines so no log evaluates at query time (libm log drift is
# the classic cross-engine hash killer)
_NDCG_DISC = [1.0 / _math.log2(r + 1) for r in range(1, 11)]
_NDCG_DISC_SQL = "[" + ", ".join(repr(d) for d in _NDCG_DISC) + "]::DOUBLE[]"


@query(
    "retrieval_ndcg",
    oracle=f"""
    WITH total AS (SELECT count(*) AS n FROM embeddings),
    q AS (
        SELECT vec_id AS query_id, embedding AS query_vec,
               vec_id AS e1,
               (vec_id * 7 + 3) % (SELECT n FROM total) AS e2,
               (vec_id * 13 + 5) % (SELECT n FROM total) AS e3
        FROM embeddings WHERE vec_id < 10
    ), rel0 AS (
        SELECT query_id, e1 AS doc_id, 3 AS g FROM q
        UNION ALL SELECT query_id, e2, 2 FROM q
        UNION ALL SELECT query_id, e3, 1 FROM q
    ), rels AS (
        SELECT query_id, doc_id, max(g) AS g FROM rel0 GROUP BY 1, 2
    ), scored AS (
        SELECT q.query_id, e.vec_id,
               {V.dd_cosine("e.embedding", "q.query_vec")} AS score
        FROM embeddings e, q
    ), ranked AS (
        SELECT query_id, vec_id, row_number() OVER (
                   PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
        FROM scored
    ), hits AS (
        SELECT r.query_id, r.rank, (pow(2, rel.g) - 1) * ({_NDCG_DISC_SQL})[r.rank] AS term
        FROM ranked r JOIN rels rel ON rel.query_id = r.query_id AND rel.doc_id = r.vec_id
        WHERE r.rank <= 10
    ), dcg AS (
        SELECT query_id, list_sum(list(term ORDER BY rank)) AS dcg FROM hits GROUP BY query_id
    ), idcg AS (
        SELECT query_id, CAST(len(gs) AS BIGINT) AS n_rel,
               list_sum([(pow(2, gs[i + 1]) - 1) * ({_NDCG_DISC_SQL})[i + 1]
                         FOR i IN range(len(gs))]) AS idcg
        FROM (SELECT query_id, list(g ORDER BY g DESC) AS gs FROM rels GROUP BY query_id)
        GROUP BY query_id, gs
    )
    SELECT i.query_id, i.n_rel,
           round(coalesce(d.dcg, 0.0), 6) AS dcg,
           round(i.idcg, 6) AS idcg,
           round(coalesce(d.dcg, 0.0) / i.idcg, 6) AS ndcg
    FROM idcg i LEFT JOIN dcg d ON d.query_id = i.query_id
    """,
)
def retrieval_ndcg(spark, sf_dir):
    """NDCG@10 with graded relevance (the ranking-quality completion
    of retrieval_metrics' binary MRR/hit@k): each query carries a
    deterministic 3/2/1-graded relevant-doc trio (self + two pseudo-
    random ids, grade collisions resolved by max); DCG sums
    (2^grade−1)·disc[rank] over the exact top-10 in rank order, IDCG
    over the grades sorted descending — the rank discounts are
    PRECOMPUTED literals on both engines, and both sums run
    sequentially in sorted order, so the floats match bit-for-bit.
    One corpus scan (broadcast batch kNN) + two tiny aggs."""
    from ..operators import knn

    emb = load_table(spark, sf_dir, "embeddings")
    total_df = emb.select(F.count("*").alias("_t"))
    q = (
        emb.filter(F.col("vec_id") < 10)
        .crossJoin(F.broadcast(total_df))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
            F.col("vec_id").alias("e1"),
            ((F.col("vec_id") * 7 + 3) % F.col("_t")).alias("e2"),
            ((F.col("vec_id") * 13 + 5) % F.col("_t")).alias("e3"),
        )
    )
    rels = (
        q.select(
            "query_id",
            F.explode(
                F.array(
                    F.struct(F.col("e1").alias("doc"), F.lit(3).alias("g")),
                    F.struct(F.col("e2").alias("doc"), F.lit(2).alias("g")),
                    F.struct(F.col("e3").alias("doc"), F.lit(1).alias("g")),
                )
            ).alias("x"),
        )
        .groupBy("query_id", F.col("x.doc").alias("doc_id"))
        .agg(F.max("x.g").alias("g"))
    )
    top = knn.topk_batch(emb, q.select("query_id", "query_vec"), k=10)
    disc = V.lit_array(_NDCG_DISC)
    term = (F.pow(F.lit(2), F.col("g")) - 1) * F.element_at(disc, F.col("rank").cast("int"))
    dcg = (
        top.join(
            rels,
            (top.query_id == rels.query_id) & (top.vec_id == rels.doc_id),
        )
        .select(top.query_id.alias("query_id"), F.col("rank"), term.alias("_term"))
        .groupBy("query_id")
        .agg(
            F.expr(
                "aggregate(transform(sort_array(collect_list(struct(`rank`, _term))),"
                " s -> s._term), 0D, (acc, t) -> acc + t)"
            ).alias("_dcg")
        )
    )
    idcg = rels.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_rel"),
        F.reverse(F.array_sort(F.collect_list("g"))).alias("_gs"),
    ).select(
        "query_id",
        "n_rel",
        # Σ (2^g - 1) · disc[i]: a dot of the gains with the discounts
        F.expr(
            V.dot(
                "transform(_gs, g -> pow(2, g) - 1)",
                f"slice({V.sql_literal(_NDCG_DISC)}, 1, size(_gs))",
            )
        ).alias("_idcg"),
    )
    return idcg.join(dcg, "query_id", "left").select(
        "query_id",
        "n_rel",
        F.round(F.coalesce(F.col("_dcg"), F.lit(0.0)), 6).alias("dcg"),
        F.round("_idcg", 6).alias("idcg"),
        F.round(F.coalesce(F.col("_dcg"), F.lit(0.0)) / F.col("_idcg"), 6).alias("ndcg"),
    )


def _knn_graph_degree_oracle(sf_dir: str) -> str:
    base = _knn_graph_oracle(sf_dir).rsplit("SELECT src, dst", 1)[0]
    return base + """
    , edges AS (SELECT src, dst FROM ranked WHERE rank <= 3),
    n AS (SELECT count(*) AS n_nodes FROM embeddings),
    outd AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
    ind AS (SELECT dst, count(*) AS id_ FROM edges GROUP BY dst),
    recip AS (
        SELECT count(*) AS n_recip
        FROM edges e JOIN edges r ON r.src = e.dst AND r.dst = e.src
    )
    SELECT CAST(n.n_nodes AS BIGINT) AS n_nodes,
           CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges,
           CAST(n.n_nodes - (SELECT count(*) FROM outd) AS BIGINT) AS n_isolated,
           round((SELECT count(*) FROM edges)::DOUBLE / n.n_nodes, 6) AS mean_out_degree,
           CAST((SELECT max(id_) FROM ind) AS BIGINT) AS max_in_degree,
           CAST((SELECT count(*) FROM ind WHERE id_ >= 6) AS BIGINT) AS n_hubs,
           round((SELECT n_recip FROM recip)::DOUBLE
                 / (SELECT count(*) FROM edges), 6) AS reciprocity
    FROM n
    """


@query("knn_graph_degree_stats", oracle=None)
def knn_graph_degree_stats(spark, sf_dir):
    """kNN-graph quality diagnostics (the NN-descent / HNSW
    pre-flight): isolated-node count (bucket singletons that got no
    neighbors — the recall hole multiprobe would fix), in-degree hub
    count (nodes ≥ 2k inbound — the skew that makes graph-build
    reducers hot), mean out-degree and edge reciprocity (symmetric
    neighborhoods predict NN-descent convergence). One edge build
    (shared with knn_graph_lsh) + three tiny aggs over (src, dst)
    longs; the corpus count rides as a broadcast scalar."""
    edges = _knn_graph_edges(spark, sf_dir).select("src", "dst")
    emb = load_table(spark, sf_dir, "embeddings")
    n_df = emb.select(F.count("*").cast("long").alias("n_nodes"))
    outd = edges.groupBy("src").agg(F.count("*").alias("_od"))
    ind = edges.groupBy("dst").agg(F.count("*").alias("_id"))
    e2 = edges.select(F.col("src").alias("_rs"), F.col("dst").alias("_rd"))
    recip = edges.join(
        e2, (F.col("_rs") == F.col("dst")) & (F.col("_rd") == F.col("src"))
    ).select(F.count("*").cast("long").alias("n_recip"))
    stats = edges.agg(F.count("*").cast("long").alias("n_edges")).crossJoin(
        F.broadcast(n_df)
    ).crossJoin(
        F.broadcast(outd.agg(F.count("*").cast("long").alias("_n_src")))
    ).crossJoin(
        F.broadcast(
            ind.agg(
                F.max("_id").cast("long").alias("max_in_degree"),
                F.count_if(F.col("_id") >= 6).cast("long").alias("n_hubs"),
            )
        )
    ).crossJoin(F.broadcast(recip))
    return stats.select(
        "n_nodes",
        "n_edges",
        (F.col("n_nodes") - F.col("_n_src")).cast("long").alias("n_isolated"),
        F.round(F.try_divide(F.col("n_edges").cast("double"), F.col("n_nodes")), 6).alias(
            "mean_out_degree"
        ),
        "max_in_degree",
        "n_hubs",
        F.round(F.try_divide(F.col("n_recip").cast("double"), F.col("n_edges")), 6).alias(
            "reciprocity"
        ),
    )


LAZY_ORACLES["knn_graph_degree_stats"] = _knn_graph_degree_oracle


@query(
    "global_sales_opportunity",
    oracle="""
    WITH inc AS (
        SELECT c_custkey, c_nationkey, c_acctbal
        FROM customer WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
    ), pos AS (
        SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) AS s,
               CAST(count(*) AS BIGINT) AS n
        FROM inc WHERE c_acctbal > 0
    )
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT) AS numcust,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM inc, pos
    WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n > s
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = inc.c_custkey)
    GROUP BY c_nationkey
    """,
)
def global_sales_opportunity_q(spark, sf_dir):
    """TPC-H Q22 shape: wealthy zero-order customers per nation —
    scalar-average threshold (exact DECIMAL cross-multiply, never a
    float division) + LEFT ANTI against key-projected orders."""
    from ..plans import analytics

    return analytics.global_sales_opportunity(spark, sf_dir)


@query(
    "group_reservoir_sample",
    oracle=f"""
    WITH ranked AS (
        SELECT source, doc_id, n_chars,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY {H.dd_md5_long('CAST(doc_id AS VARCHAR)', 'rsv')}, doc_id
               ) AS rank
        FROM documents
    )
    SELECT source, doc_id, n_chars, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def group_reservoir_sample_q(spark, sf_dir):
    """Per-group fixed-size uniform sample (the distributed reservoir:
    eval-set carving, per-source spot-check extraction). Priority =
    seeded md5 of the id — a uniform 60-bit draw that is reproducible
    across engines, runs AND cluster sizes, unlike rand(seed) whose
    stream depends on partitioning. Smallest-k-per-group via
    knn.topk_per_key (at most k rows per map partition and group are
    shuffled); adding a doc never evicts more than one survivor —
    the reservoir property — so incremental re-runs are stable."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "source",
        "doc_id",
        "n_chars",
        F.expr(H.md5_long("CAST(doc_id AS STRING)", "rsv")).alias("_pri"),
    )
    top = knn.topk_per_key(scored, "source", "doc_id", 5, score_col="_pri", asc=True)
    return top.select("source", "doc_id", "n_chars", F.col("rank").cast("long"))


@query(
    "priority_sample",
    oracle=f"""
    WITH pri AS (
        SELECT source, doc_id, n_chars,
               CAST(n_chars AS DOUBLE)
                   / (({H.dd_md5_long('CAST(doc_id AS VARCHAR)', 'pps')} + 1)
                      / 1152921504606846976.0) AS priority
        FROM documents
    ), ranked AS (
        SELECT source, doc_id, n_chars, priority,
               row_number() OVER (
                   PARTITION BY source ORDER BY priority DESC, doc_id
               ) AS rank
        FROM pri
    )
    SELECT source, doc_id, n_chars, round(priority, 4) AS priority,
           CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def priority_sample_q(spark, sf_dir):
    """Weighted sampling without replacement (Rosén/Duffield priority
    sampling, the PPS workhorse for budget-capped corpus selection):
    each doc draws u ∈ (0,1] from a seeded md5 and competes with
    priority = weight / u; the per-group top-k is a PPSWOR sample with
    inclusion probability ∝ weight (n_chars here — byte-budgeted
    selection). Per-row arithmetic only (two IEEE ops in a fixed
    order, bit-identical in both engines); ranking happens on full
    precision, rounding only on output. Same per-group top-k as the
    uniform reservoir — no global sort."""
    docs = load_table(spark, sf_dir, "documents")
    u = (F.expr(H.md5_long("CAST(doc_id AS STRING)", "pps")) + F.lit(1)) / F.lit(
        1152921504606846976.0
    )
    scored = docs.select(
        "source",
        "doc_id",
        "n_chars",
        (F.col("n_chars").cast("double") / u).alias("_pri"),
    )
    top = knn.topk_per_key(scored, "source", "doc_id", 5, score_col="_pri")
    return top.select(
        "source",
        "doc_id",
        "n_chars",
        F.round("_pri", 4).alias("priority"),
        F.col("rank").cast("long"),
    )


@query(
    "compaction_plan",
    oracle="""
    WITH sized AS (
        SELECT source, doc_id, n_chars,
               COALESCE(sum(n_chars) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS before
        FROM documents
    ), binned AS (
        SELECT source, before // 4096 AS bin, n_chars FROM sized
    )
    SELECT source, CAST(bin AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(n_chars) AS BIGINT) AS bin_chars
    FROM binned GROUP BY source, bin
    """,
)
def compaction_plan_q(spark, sf_dir):
    """Small-file compaction planner (the nightly table-maintenance
    pass every 100 TB lake runs: bin-pack many small files into
    ~target-size rewrite groups). Files = document rows, size =
    n_chars, target = 4096: each source's files are packed in id
    order by running-size-before ``div`` target — greedy first-fit in
    arrival order, the same assignment Delta/Iceberg OPTIMIZE
    computes. One window per source (prefix sum of a long) + one
    map-side-combinable rollup of (source, bin). At real scale the
    prefix sum runs per table-partition — bounded rows per window
    partition; for a single giant partition switch to the two-phase
    shard prefix sum sequence_packing uses (chunking.py:209)."""
    docs = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sized = docs.select(
        "source",
        "n_chars",
        F.coalesce(F.sum("n_chars").over(w), F.lit(0)).alias("_before"),
    )
    return (
        sized.select("source", "n_chars", F.expr("_before div 4096").alias("bin"))
        .groupBy("source", "bin")
        .agg(
            F.count("*").cast("long").alias("n_files"),
            F.sum("n_chars").cast("long").alias("bin_chars"),
        )
    )


def _z_interleave_spark(x, y, bits: int = 10):
    """Morton/Z-order interleave of two non-negative ints (bit i of x
    -> bit 2i, bit i of y -> bit 2i+1), as portable div/mod arithmetic
    identical in Spark and DuckDB."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z
            + (F.shiftright(x, i).bitwiseAND(F.lit(1))) * F.lit(1 << (2 * i))
            + (F.shiftright(y, i).bitwiseAND(F.lit(1))) * F.lit(1 << (2 * i + 1))
        )
    return z


def _z_interleave_dd(x: str, y: str, bits: int = 10) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({x}) >> {i}) & 1) * {1 << (2 * i)}")
        terms.append(f"((({y}) >> {i}) & 1) * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"


@query(
    "zorder_layout",
    oracle=f"""
    WITH keyed AS (
        SELECT user_id & 1023 AS x,
               (epoch_ns(ts) // 3600000000000) & 1023 AS y
        FROM events
    ), z AS (
        SELECT x, y, {_z_interleave_dd('x', 'y')} // 1024 AS block FROM keyed
    )
    SELECT CAST(block AS BIGINT) AS block,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(x) AS BIGINT) AS min_x, CAST(max(x) AS BIGINT) AS max_x,
           CAST(min(y) AS BIGINT) AS min_y, CAST(max(y) AS BIGINT) AS max_y,
           CAST(max(x) - min(x) AS BIGINT) AS x_span,
           CAST(max(y) - min(y) AS BIGINT) AS y_span
    FROM z GROUP BY block
    """,
)
def zorder_layout_q(spark, sf_dir):
    """Z-order (Morton-curve) data layout for multi-column pruning —
    the Delta/Iceberg OPTIMIZE ZORDER BY primitive: interleaving the
    bits of two cluster keys gives ONE sort key under which any
    fixed-size run of rows stays tight in BOTH dimensions, so min/max
    file stats prune selective predicates on either column. Keys here:
    user_id and epoch-hour (both masked to 10 bits); blocks = zvalue
    div 1024 model the file boundary, and the emitted per-block
    x/y spans ARE the pruning quality measurement (a z-ordered block
    covers ~sqrt(block_rows) of each key range instead of the full
    span a single-key sort leaves on the second column). The
    interleave is 40 shift-mask-add codegen ops per row, no shuffle
    until the per-block rollup; at 100 TB the same zvalue is the
    repartitionByRange + sortWithinPartitions key for the rewrite."""
    ev = load_table(spark, sf_dir, "events")
    keyed = ev.select(
        F.col("user_id").bitwiseAND(F.lit(1023)).alias("x"),
        F.expr("ts_ns div 3600000000000").bitwiseAND(F.lit(1023)).alias("y"),
    )
    z = keyed.select(
        "x",
        "y",
        F.shiftright(_z_interleave_spark(F.col("x"), F.col("y")), 10).alias("block"),
    )
    return z.groupBy("block").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.min("x").cast("long").alias("min_x"),
        F.max("x").cast("long").alias("max_x"),
        F.min("y").cast("long").alias("min_y"),
        F.max("y").cast("long").alias("max_y"),
        (F.max("x") - F.min("x")).cast("long").alias("x_span"),
        (F.max("y") - F.min("y")).cast("long").alias("y_span"),
    )


@query(
    "bpe_pair_counts",
    oracle="""
    WITH words AS (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ), vocab AS (
        SELECT w, count(*) AS n FROM words WHERE len(w) >= 2 GROUP BY w
    ), pairs AS (
        SELECT unnest(list_transform(range(1, len(w)), i -> substr(w, i, 2))) AS pair,
               n
        FROM vocab
    ), counts AS (
        SELECT pair, CAST(sum(n) AS BIGINT) AS n_occurrences
        FROM pairs GROUP BY pair
    ), ranked AS (
        SELECT pair, n_occurrences,
               row_number() OVER (ORDER BY n_occurrences DESC, pair) AS rank
        FROM counts
    )
    SELECT pair, n_occurrences, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 20
    """,
)
def bpe_pair_counts_q(spark, sf_dir):
    """One BPE training round (Sennrich ACL'16): the top adjacent
    symbol pairs whose merge the next vocab entry would be. The
    classic scale trick: corpus text collapses to the (word, count)
    VOCAB first — one map-side-combinable shuffle over the raw text —
    and pair explosion + pair counting then run over the vocab table
    only, so per-round cost is vocabulary-sized, independent of corpus
    size (this is why real BPE trainers iterate in minutes over TBs).
    Adjacent pairs via a transform/sequence HOF (no Python), global
    top-20 via TakeOrdered + a 20-row window for the rank column."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").alias("n"))
    )
    counts = (
        vocab.select(
            "n",
            F.explode(
                F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
            ).alias("pair"),
        )
        .groupBy("pair")
        .agg(F.sum("n").cast("long").alias("n_occurrences"))
    )
    top = counts.orderBy(F.col("n_occurrences").desc(), "pair").limit(20)
    w = Window.orderBy(F.col("n_occurrences").desc(), "pair")
    return top.select(
        "pair", "n_occurrences", F.row_number().over(w).cast("long").alias("rank")
    )


@query(
    "event_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
               ) AS from_type
        FROM events
    ), counts AS (
        SELECT from_type, event_type AS to_type,
               CAST(count(*) AS BIGINT) AS n
        FROM seq WHERE from_type IS NOT NULL
        GROUP BY from_type, event_type
    )
    SELECT from_type, to_type, n,
           round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type), 6) AS p
    FROM counts
    """,
)
def event_transitions_q(spark, sf_dir):
    """First-order Markov transition table over per-user event
    streams (the session-flow / funnel-discovery primitive): lag
    within (user_id) order gives consecutive-event bigrams, one
    map-side-combinable count per (from, to), row-probabilities
    normalized by a window over the ≤|types|² result frame (never the
    raw log). ONE shuffle keyed by user_id does all the sequencing —
    the same partitioning sessionize_events and scd2_intervals ride;
    ts_ns integer ordering with event_id tie-break makes the sequence
    (hence every count) deterministic in both engines."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    seq = ev.select(
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).filter(F.col("from_type").isNotNull())
    counts = seq.groupBy("from_type", "to_type").agg(
        F.count("*").cast("long").alias("n")
    )
    wf = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(wf), 6).alias("p"),
    )


def _pagerank_oracle(sf_dir: str) -> str:
    base = _knn_graph_oracle(sf_dir).rsplit("SELECT src, dst", 1)[0]
    rounds = []
    D = 1
    prev = "p0"
    for k in (1, 2, 3):
        rounds.append(
            f"""
    c{k} AS (
        SELECT ew.dst, sum({prev}.a * ew.w6) AS s
        FROM ew JOIN {prev} ON {prev}.vec_id = ew.src GROUP BY ew.dst
    ), p{k} AS (
        SELECT e.vec_id,
               CAST(18 * {D} + 17 * COALESCE(c{k}.s, 0) AS BIGINT) AS a
        FROM embeddings e LEFT JOIN c{k} ON c{k}.dst = e.vec_id
    )"""
        )
        D *= 120
        prev = f"p{k}"
    return (
        base
        + """
    , edges AS (SELECT src, dst FROM ranked WHERE rank <= 3),
    od AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
    ew AS (SELECT e.src, e.dst, 6 // od.od AS w6 FROM edges e JOIN od USING (src)),
    p0 AS (SELECT vec_id, CAST(1 AS BIGINT) AS a FROM embeddings),"""
        + ",".join(rounds)
        + f"""
    SELECT vec_id, round(a / {D}.0, 6) AS pagerank FROM p3
    """
    )


@query("knn_graph_pagerank")  # oracle attached below (plane literals)
def knn_graph_pagerank_q(spark, sf_dir):
    """PageRank over the corpus kNN graph (3 power iterations, d =
    0.85) — the graph-centrality signal retrieval stacks use for
    authority-weighted dedup keeps and crawl-frontier ordering. The
    iteration is EXACT INTEGER arithmetic: pr is carried as a
    numerator over the common denominator 120^k (0.85 = 17/20 and
    out-degrees ∈ {{1,2,3}} divide 6, so pr' = (18·D + 17·Σ a·(6/od))
    / 120D stays integral) — summed longs are order-independent, so
    three join-agg rounds hash-match the oracle's unrolled CTEs
    bit-for-bit, with ONE float division at output. Edges build once
    (lazy localCheckpoint) and feed all rounds; per round only
    (node, numerator) longs shuffle. Dangling-node mass is dropped,
    the standard simplified-PageRank convention."""
    edges = _knn_graph_edges(spark, sf_dir).select("src", "dst").localCheckpoint(eager=False)
    od = edges.groupBy("src").agg(F.count("*").alias("od"))
    ew = edges.join(od, "src").select("src", "dst", F.expr("6 div od").alias("w6"))
    ids = load_table(spark, sf_dir, "embeddings").select("vec_id")
    pr = ids.select("vec_id", F.lit(1).cast("long").alias("a"))
    D = 1
    for _ in range(3):
        contrib = (
            ew.join(pr, ew.src == pr.vec_id)
            .groupBy("dst")
            .agg(F.sum(F.col("a") * F.col("w6")).alias("_s"))
        )
        pr = ids.join(contrib, ids.vec_id == contrib.dst, "left").select(
            ids.vec_id,
            (F.lit(18 * D) + F.lit(17) * F.coalesce("_s", F.lit(0)))
            .cast("long")
            .alias("a"),
        )
        D *= 120
    return pr.select(
        "vec_id", F.round(F.col("a").cast("double") / F.lit(float(D)), 6).alias("pagerank")
    )


LAZY_ORACLES["knn_graph_pagerank"] = _pagerank_oracle


def _mutual_knn_oracle(sf_dir: str) -> str:
    base = _knn_graph_oracle(sf_dir).rsplit("SELECT src, dst", 1)[0]
    return base + """
    , edges AS (SELECT src, dst, score FROM ranked WHERE rank <= 3)
    SELECT e.src AS id_a, e.dst AS id_b, round(e.score, 6) AS score
    FROM edges e JOIN edges r ON r.src = e.dst AND r.dst = e.src
    WHERE e.src < e.dst
    """


@query("mutual_knn")  # oracle attached below (plane literals)
def mutual_knn_q(spark, sf_dir):
    """Reciprocal nearest neighbors: pairs where EACH vector sits in
    the other's top-3 — the high-precision pair filter under
    RNN-clustering and two-stage dedup (mutuality kills the hub
    false-positives a one-directional kNN graph keeps: a hub in many
    top-3 lists reciprocates only its own 3). One edge build feeds
    both sides of the (dst, src)=(src, dst) equi-self-join — edge
    volume is ≤ 3n rows of longs, so the join shuffles a frame ~the
    size of the node set, nothing pairwise. Score is the cosine from
    the src<dst direction (the element-wise product and sequential
    sum are symmetric, so both directions carry the identical
    double)."""
    edges = _knn_graph_edges(spark, sf_dir).select("src", "dst", "score")
    rev = edges.select(F.col("src").alias("_rs"), F.col("dst").alias("_rd"))
    return (
        edges.join(rev, (F.col("_rs") == F.col("dst")) & (F.col("_rd") == F.col("src")))
        .filter(F.col("src") < F.col("dst"))
        .select(
            F.col("src").alias("id_a"),
            F.col("dst").alias("id_b"),
            F.round("score", 6).alias("score"),
        )
    )


LAZY_ORACLES["mutual_knn"] = _mutual_knn_oracle


def _kmeans_oracle() -> str:
    """Two unrolled Lloyd rounds in the same fixed-point arithmetic as
    the Spark plan (see kmeans_refine)."""
    dist = V.dd_code_sq_dist("q.vq", "c.cq")

    def assign(cents: str, out: str) -> str:
        return f"""
    {out} AS (
        SELECT vec_id, vq, cid FROM (
            SELECT q.vec_id, q.vq, c.cid,
                   row_number() OVER (
                       PARTITION BY q.vec_id ORDER BY {dist}, c.cid
                   ) AS rn
            FROM q CROSS JOIN {cents} c
        ) WHERE rn = 1
    )"""

    def means(a: str, out: str) -> str:
        return f"""
    {out} AS (
        SELECT cid, pos,
               CAST(CAST(sum(v) AS BIGINT) // CAST(count(*) AS BIGINT) AS BIGINT) AS mq,
               CAST(count(*) AS BIGINT) AS n_vecs
        FROM (
            SELECT cid, unnest(vq) AS v, unnest(range(len(vq))) AS pos FROM {a}
        )
        GROUP BY cid, pos
    )"""

    return f"""
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                              v -> {to_micro('v')} + {MICRO}) AS vq
        FROM embeddings
    ), c0 AS (
        SELECT CAST(vec_id AS INT) AS cid, vq AS cq FROM q WHERE vec_id < 8
    ),{assign('c0', 'a1')},{means('a1', 'm1')},
    c1 AS (
        SELECT cid, list(mq ORDER BY pos) AS cq FROM m1 GROUP BY cid
    ),{assign('c1', 'a2')},{means('a2', 'm2')}
    SELECT cid, CAST(pos AS BIGINT) AS pos,
           {emit_micro(f'mq - {MICRO}')} AS c,
           n_vecs
    FROM m2
    """


@query("kmeans_refine", oracle=_kmeans_oracle())
def kmeans_refine_q(spark, sf_dir):
    """Distributed Lloyd's k-means refinement (the batch clustering
    pass behind IVF coarse quantizers, SemDeDup cells and corpus-map
    topic fits) — k=8 seeds (lowest vec_ids), TWO full
    assign-recompute rounds over the whole corpus, reporting the
    refined centroids in long format plus cell sizes.

    The iteration runs in EXACT FIXED-POINT arithmetic so it is
    hash-checkable across engines (the same trick as
    knn_graph_pagerank's integer numerators): components quantize
    ONCE to offset micro-units (v in micro-units plus one unit ≥ 0 — the offset
    makes the mean's integer division floor-consistent everywhere and
    cancels in every distance), squared-L2 distances are then exact
    longs with cid tie-break, and new centroids are sum div n — no
    float accumulates across rows anywhere, so two rounds compound
    zero drift. One FLOAT division per output cell at the end.

    Physical posture: per round, the k centroid arrays collapse to a
    ONE-ROW collect_list frame that rides a broadcast crossJoin (the
    scalar-attachment idiom) — assignment is a per-row array-argmin
    inside codegen, NO shuffle; the only exchanges are the two
    (cid, pos) mean rollups (map-side combinable, ≤ k·dims rows out).
    At 100 TB each round is one corpus scan + one tiny agg — the
    textbook Lloyd-on-MapReduce layout, with the corpus quantization
    subtree shared by both rounds."""
    emb = load_table(spark, sf_dir, "embeddings", split=True)
    q = emb.select(
        "vec_id",
        F.expr(f"transform(embedding, v -> {to_micro('cast(v as double)')} + {MICRO})").alias("vq"),
    )
    cents = q.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("cid"), F.col("vq").alias("cq")
    )
    dist = V.code_sq_dist("vq", "c.cq")
    argmin = F.expr(
        f"array_sort(transform(_cs, c -> struct({dist} AS d, c.cid AS cid)))[0].cid"
    )
    means = None
    for _ in range(2):
        one_row = cents.agg(F.collect_list(F.struct("cid", "cq")).alias("_cs"))
        assigned = q.crossJoin(F.broadcast(one_row)).select(
            "vec_id", "vq", argmin.alias("cid")
        )
        means = (
            assigned.select("cid", F.posexplode("vq").alias("pos", "v"))
            .groupBy("cid", "pos")
            .agg(
                F.expr("sum(v) div count(*)").cast("long").alias("mq"),
                F.count("*").cast("long").alias("n_vecs"),
            )
        )
        cents = means.groupBy("cid").agg(
            F.expr("transform(array_sort(collect_list(struct(pos, mq))), s -> s.mq)").alias(
                "cq"
            )
        )
    return means.select(
        "cid",
        F.col("pos").cast("long"),
        F.expr(emit_micro(f"mq - {MICRO}")).alias("c"),
        "n_vecs",
    )


@query(
    "salted_join_topn",
    oracle="""
    WITH rev AS (
        SELECT c.c_custkey, c.c_name,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, c.c_name
    ), ranked AS (
        SELECT *, row_number() OVER (ORDER BY revenue DESC, c_custkey) AS rank
        FROM rev
    )
    SELECT c_custkey, c_name, n_orders, revenue, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 10
    """,
)
def salted_join_topn_q(spark, sf_dir):
    """The skew-salting remedy as a first-class verified operator:
    top-10 customers by order revenue computed THROUGH
    plans/scale.salted_join — the fact side carries a deterministic
    whole-row salt, the dimension side replicates `salt`× so one hot
    custkey lands on `salt` reducers instead of one. The oracle is the
    PLAIN join: salting must be invisible in the result (correctness
    never depends on salt placement), which is exactly the property
    that makes it safe to flip on for a skewed 100 TB fact table when
    AQE's skew split isn't enough (extreme single-key skew, or a
    non-AQE engine). Money sums ride DECIMAL so reducer order can't
    drift them; top-10 via TakeOrdered."""
    from ..plans.scale import salted_join

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    joined = salted_join(orders, cust, "c_custkey", salt=8)
    rev = joined.groupBy("c_custkey", "c_name").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
    )
    top = rev.orderBy(F.col("revenue").desc(), "c_custkey").limit(10)
    w = Window.orderBy(F.col("revenue").desc(), "c_custkey")
    return top.select(
        "c_custkey",
        "c_name",
        "n_orders",
        "revenue",
        F.row_number().over(w).cast("long").alias("rank"),
    )


def _triangle_oracle(sf_dir: str) -> str:
    base = _knn_graph_oracle(sf_dir).rsplit("SELECT src, dst", 1)[0]
    return base + """
    , und AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM ranked WHERE rank <= 3
    ), deg AS (
        SELECT v, count(*) AS d FROM (
            SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und
        ) GROUP BY v
    ), tri AS (
        SELECT count(*) AS n_triangles
        FROM und e1
        JOIN und e2 ON e2.a = e1.b
        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ), wedges AS (
        SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges FROM deg
    )
    SELECT CAST((SELECT count(*) FROM und) AS BIGINT) AS n_edges,
           CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
           CAST(tri.n_triangles AS BIGINT) AS n_triangles,
           wedges.n_wedges,
           round(CASE WHEN wedges.n_wedges = 0 THEN 0.0
                      ELSE 3.0 * tri.n_triangles / wedges.n_wedges END, 6)
               AS clustering_coefficient
    FROM tri, wedges
    """


@query("triangle_count")  # oracle attached below (plane literals)
def triangle_count_q(spark, sf_dir):
    """Triangle count + global clustering coefficient over the
    undirected kNN graph — the graph-cohesion diagnostic (high
    transitivity predicts tight dup clusters and good NN-descent
    convergence; near-zero means the LSH buckets are slicing real
    neighborhoods apart). Canonical a<b edge orientation makes each
    triangle count EXACTLY once via the standard two-equi-join
    enumeration (e1=(a,b), e2=(b,c), closing edge (a,c)) — join
    volume is bounded by wedge count, never n³; wedges = Σ C(d,2)
    from one degree agg. All-integer counts, one float division."""
    edges = _knn_graph_edges(spark, sf_dir).select("src", "dst")
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(e3, (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")))
        .select(F.count("*").cast("long").alias("n_triangles"))
    )
    wedges = deg.select(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("n_wedges")
    )
    counts = und.agg(F.count("*").cast("long").alias("n_edges")).crossJoin(
        F.broadcast(deg.agg(F.count("*").cast("long").alias("n_nodes")))
    ).crossJoin(F.broadcast(tri)).crossJoin(F.broadcast(wedges))
    return counts.select(
        "n_edges",
        "n_nodes",
        "n_triangles",
        "n_wedges",
        F.round(
            F.when(F.col("n_wedges") == 0, F.lit(0.0)).otherwise(
                F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges")
            ),
            6,
        ).alias("clustering_coefficient"),
    )


LAZY_ORACLES["triangle_count"] = _triangle_oracle


_DD_CANON = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),"
    " ' +', ' ', 'g'))"
)


@query(
    "curation_pipeline",
    oracle=f"""
    WITH q AS (
      SELECT doc_id, source, lang,
             CAST(len({_DD_TOKS}) AS BIGINT) AS n,
             CAST(length(text) - (len({_DD_TOKS}) - 1) AS DOUBLE)
               / len({_DD_TOKS}) AS mean_wl,
             CAST(len(list_filter({_DD_TOKS},
                  t -> list_contains(['the','a','an','and','or','of','to','in','on','for','is','are','was','be','it','this','that','with','as','at'], t)))
               AS DOUBLE) / len({_DD_TOKS}) AS swf,
             CAST(len(list_distinct({_DD_TOKS})) AS DOUBLE)
               / len({_DD_TOKS}) AS ttr,
             md5(array_to_string(list_sort(list_distinct(
                 string_split({_DD_CANON}, ' '))), ' ')) AS h
      FROM documents
    ), flagged AS (
      SELECT *, (n >= 20 AND n <= 80 AND mean_wl >= 3.0 AND mean_wl <= 8.0
                 AND swf >= 0.05 AND ttr >= 0.3) AS keep
      FROM q
    ), marked AS (
      -- null-skipping window min: the keeper among QUALITY rows only,
      -- computed over ALL rows so one frame serves the whole funnel
      SELECT *, (keep AND doc_id = min(CASE WHEN keep THEN doc_id END)
                            OVER (PARTITION BY h)) AS is_keeper
      FROM flagged
    )
    SELECT source, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
           CAST(sum(CASE WHEN is_keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END)
                - sum(CASE WHEN is_keeper THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dups_removed,
           CAST(sum(CASE WHEN is_keeper THEN n ELSE 0 END) AS BIGINT)
               AS tokens_kept
    FROM marked GROUP BY source, lang
    """,
)
def curation_pipeline_q(spark, sf_dir):
    """END-TO-END curation pipeline as ONE verified plan — the
    composition the individual operators exist for (normalize_text ->
    quality_filters -> dedup_exact -> corpus_mix, the C4/Gopher
    pre-tokenization recipe): canonicalize, gate on the quality rules,
    dedup the survivors on the canonical BAG-OF-WORDS fingerprint
    (sorted distinct tokens — order-insensitive, so shuffled-template
    duplicates that exact hashing misses collapse too; keep-first),
    and roll the funnel up per (source, lang) — docs in, quality
    survivors, dedup keepers, dups removed, tokens kept.

    ONE corpus scan computes every per-doc signal (tokens, quality
    flags, canonical md5) in codegen; the only data-sized exchanges
    are the keeper window (hash-partitioned, same shuffle dedup_exact
    pays) and the two tiny (source, lang) rollups. The oracle replays
    the identical funnel in SQL, so stage interactions — a quality
    drop changing which doc becomes a hash's keeper — are
    hash-checked, not just each stage alone. At 100 TB this is the
    nightly corpus-refresh job shape: scan once, carry flags forward,
    never re-read."""
    from ..functions import text as X

    docs = load_table(spark, sf_dir, "documents", split=True)
    t = F.col("text")
    toks = F.expr(X.tokens("text"))
    n = F.size(toks)
    mean_wl = (F.length(t) - (n - 1)) / n
    swf = F.expr(X.stopword_count("text")) / n
    ttr = F.size(F.array_distinct(toks)) / n
    canon = F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(t), "[^a-z0-9 ]", ""), " +", " ")
    )
    bag = F.array_join(F.array_sort(F.array_distinct(F.split(canon, " "))), " ")
    keep = (
        (n >= 20) & (n <= 80) & (mean_wl >= 3.0) & (mean_wl <= 8.0)
        & (swf >= 0.05) & (ttr >= 0.3)
    )
    flagged = docs.select(
        "doc_id",
        "source",
        "lang",
        n.cast("long").alias("n"),
        keep.alias("keep"),
        F.md5(bag).alias("_h"),
    )
    w = Window.partitionBy("_h")
    # null-skipping window min: keeper among QUALITY rows, computed
    # over ALL rows — one frame carries the entire funnel, so the plan
    # stays a single scan + single window shuffle + single rollup
    marked = flagged.withColumn(
        "is_keeper",
        F.col("keep")
        & (
            F.col("doc_id")
            == F.min(F.when(F.col("keep"), F.col("doc_id"))).over(w)
        ),
    )
    return marked.groupBy("source", "lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.col("keep").cast("long")).cast("long").alias("n_quality"),
        F.sum(F.col("is_keeper").cast("long")).cast("long").alias("n_kept"),
        (
            F.sum(F.col("keep").cast("long"))
            - F.sum(F.col("is_keeper").cast("long"))
        )
        .cast("long")
        .alias("n_dups_removed"),
        F.sum(F.when(F.col("is_keeper"), F.col("n")).otherwise(0))
        .cast("long")
        .alias("tokens_kept"),
    )
