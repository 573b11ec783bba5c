""" (cont.) (cont.) — mechanical split of registry.py (r6), statements unedited.

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
from ..operators import chunking, knn, text_analysis  # noqa: F401
from ..operators.text_analysis import STOPWORDS  # noqa: F401
from ..sources import load_table  # noqa: F401

from ..registry_core import (  # noqa: F401
    LAZY_ORACLES,
    ORACLES,
    QUERIES,
    query,
)

from .part01_vector_chunk_text_dedup_rag_ann import _DD_TOKS  # noqa: F401
from .part04_experimentation_layout import _classifier_calibration_oracle  # noqa: F401


@query(
    "mix_entropy_trend",
    oracle=f"""
    WITH w AS (
        SELECT epoch_ns(ts) // 86400000000000 // 7 AS week_id, event_type,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY week_id, event_type
    ), t AS (
        SELECT week_id, event_type, n,
               CAST(sum(n) OVER (PARTITION BY week_id) AS BIGINT) AS tw
        FROM w
    ), h AS (
        SELECT week_id, CAST(max(tw) AS BIGINT) AS n_events,
               CAST(sum({to_micro('''-(CAST(n AS DOUBLE) / tw)
                    * ln(CAST(n AS DOUBLE) / tw)''')}) AS BIGINT)
                   AS h_u,
               CAST(count(*) AS BIGINT) AS n_types
        FROM t GROUP BY week_id
    )
    SELECT CAST(week_id AS BIGINT) AS week_id, n_events, n_types,
           {emit_micro('h_u')} AS mix_entropy,
           round({from_micro('h_u')} / ln(CAST(n_types AS DOUBLE)), 6) AS normalized_entropy
    FROM h WHERE n_types > 1
    """,
)
def mix_entropy_trend_q(spark, sf_dir):
    """Traffic-mix diversity over time — weekly Shannon entropy of the
    event-type distribution (a collapsing entropy means one event type
    is taking over: bot storms, a broken emitter, or a product shift;
    corpus_mix snapshots the mix, THIS trends its diversity): the
    stream collapses to (week, type) counts, shares ride one
    week-partitioned window, per-cell -p·ln(p) terms quantize to
    micro-units so each week's entropy is an order-free integer sum;
    normalized by ln(k) to a 0-1 scale."""
    ev = load_table(spark, sf_dir, "events")
    w = ev.groupBy(
        F.expr("ts_ns div 86400000000000 div 7").alias("week_id"), "event_type"
    ).agg(F.count("*").cast("long").alias("n"))
    t = w.select(
        "week_id",
        "n",
        F.sum("n").over(Window.partitionBy("week_id")).cast("long").alias("tw"),
    )
    p = F.col("n").cast("double") / F.col("tw")
    h = t.groupBy("week_id").agg(
        F.max("tw").cast("long").alias("n_events"),
        F.sum(F.expr(to_micro("-(cast(n as double) / tw) * ln(cast(n as double) / tw)")))
        .cast("long")
        .alias("h_u"),
        F.count("*").cast("long").alias("n_types"),
    )
    return h.filter(F.col("n_types") > 1).select(
        F.col("week_id").cast("long"),
        "n_events",
        "n_types",
        F.expr(emit_micro("h_u")).alias("mix_entropy"),
        F.expr(f"round({from_micro('h_u')} / ln(CAST(n_types AS DOUBLE)), 6)").alias(
            "normalized_entropy"
        ),
    )


def _gate_agreement_oracle() -> str:
    base = _classifier_calibration_oracle().rsplit(", binned AS", 1)[0]
    return (
        base
        + """
    , cells AS (
        SELECT CAST(sum(CASE WHEN p.prob >= 0.5 AND l.label THEN 1 ELSE 0 END)
                    AS BIGINT) AS a,
               CAST(sum(CASE WHEN p.prob >= 0.5 AND NOT l.label THEN 1 ELSE 0 END)
                    AS BIGINT) AS b,
               CAST(sum(CASE WHEN p.prob < 0.5 AND l.label THEN 1 ELSE 0 END)
                    AS BIGINT) AS c,
               CAST(sum(CASE WHEN p.prob < 0.5 AND NOT l.label THEN 1 ELSE 0 END)
                    AS BIGINT) AS d
        FROM probs p JOIN labels l ON l.doc_id = p.doc_id
    )
    SELECT a + b + c + d AS n,
           round(CAST(a + d AS DOUBLE) / (a + b + c + d), 6) AS observed_agreement,
           round((CAST(a + b AS DOUBLE) * (a + c) + CAST(c + d AS DOUBLE) * (b + d))
                 / pow(CAST(a + b + c + d AS DOUBLE), 2), 6) AS chance_agreement,
           round((CAST(a + d AS DOUBLE) / (a + b + c + d)
                  - (CAST(a + b AS DOUBLE) * (a + c) + CAST(c + d AS DOUBLE) * (b + d))
                    / pow(CAST(a + b + c + d AS DOUBLE), 2))
                 / (1 - (CAST(a + b AS DOUBLE) * (a + c)
                         + CAST(c + d AS DOUBLE) * (b + d))
                       / pow(CAST(a + b + c + d AS DOUBLE), 2)), 6) AS cohen_kappa
    FROM cells
    """
    )


@query("gate_agreement_kappa", oracle=None)  # oracle attached below
def gate_agreement_kappa_q(spark, sf_dir):
    """Cohen's kappa between the two independent quality signals — the
    learned scorer at tau=0.5 vs the hand-set filter gates (accuracy
    says how often they agree; kappa says how much BEYOND CHANCE,
    which is the honest number when classes are imbalanced — the
    rater-agreement check before trusting either gate as ground
    truth): one 2x2 contingency from a single conditional aggregate
    over the shared doc_id join; observed/chance/kappa in identical
    double arithmetic over four exact counts."""
    from ..operators import curation

    docs = load_table(spark, sf_dir, "documents", split=True)
    probs = curation.quality_classifier(docs).select("doc_id", "prob")
    labels = curation.quality_filters(docs).select(
        "doc_id", F.col("keep").alias("label")
    )
    cells = probs.join(labels, "doc_id").agg(
        F.sum(F.when((F.col("prob") >= 0.5) & F.col("label"), 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when((F.col("prob") >= 0.5) & ~F.col("label"), 1).otherwise(0))
        .cast("long")
        .alias("b"),
        F.sum(F.when((F.col("prob") < 0.5) & F.col("label"), 1).otherwise(0))
        .cast("long")
        .alias("c"),
        F.sum(F.when((F.col("prob") < 0.5) & ~F.col("label"), 1).otherwise(0))
        .cast("long")
        .alias("d"),
    )
    n = (F.col("a") + F.col("b") + F.col("c") + F.col("d")).cast("double")
    po = (F.col("a") + F.col("d")).cast("double") / n
    pe = (
        (F.col("a") + F.col("b")).cast("double") * (F.col("a") + F.col("c"))
        + (F.col("c") + F.col("d")).cast("double") * (F.col("b") + F.col("d"))
    ) / F.pow(n, F.lit(2.0))
    return cells.select(
        (F.col("a") + F.col("b") + F.col("c") + F.col("d")).cast("long").alias("n"),
        F.round(po, 6).alias("observed_agreement"),
        F.round(pe, 6).alias("chance_agreement"),
        F.round((po - pe) / (1 - pe), 6).alias("cohen_kappa"),
    )


ORACLES["gate_agreement_kappa"] = _gate_agreement_oracle()


@query(
    "sampling_weights_ess",
    oracle=f"""
    WITH b AS (
        SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS true_c
        FROM orders
    ), p AS (
        SELECT o_orderkey,
               least(1.0, 2000 * CAST(round(o_totalprice * 100) AS BIGINT)
                          / CAST(b.true_c AS DOUBLE)) AS pi,
               {H.dd_md5_long('o_orderkey::VARCHAR')} / 1152921504606846976.0 AS u
        FROM orders, b
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS n_sampled,
               CAST(sum(CAST(round(1.0 / pi * 1000) AS BIGINT)) AS BIGINT) AS sw_m,
               CAST(sum(CAST(round(1.0 / pi * 1000) AS BIGINT)
                        * CAST(round(1.0 / pi * 1000) AS BIGINT)) AS BIGINT) AS sww
        FROM p WHERE u < pi
    )
    SELECT n_sampled,
           round(CAST(sw_m AS DOUBLE) * sw_m / sww / 1, 6) AS effective_n,
           round(CAST(sw_m AS DOUBLE) * sw_m / sww / n_sampled, 6) AS ess_ratio,
           round(CAST(sww AS DOUBLE) * n_sampled / (CAST(sw_m AS DOUBLE) * sw_m), 6)
               AS kish_deff
    FROM s
    """,
)
def sampling_weights_ess_q(spark, sf_dir):
    """Kish effective sample size of the PPS design weights (the
    weights-health check that must accompany ANY weighted estimate —
    horvitz_thompson_total's n_sampled overstates information when
    weights vary; ESS = (Σw)²/Σw² is what the estimate is really
    worth, and Kish's deff = n·Σw²/(Σw)² is the variance inflation):
    the same md5-drawn PPS sample, weights 1/pi quantized to
    milli-units so both sums are exact integers; ESS, ESS ratio and
    deff from identical arithmetic."""
    o = load_table(spark, sf_dir, "orders")
    b = o.agg(
        F.sum(F.expr("cast(round(o_totalprice * 100) as bigint)"))
        .cast("long")
        .alias("true_c")
    )
    p = o.crossJoin(F.broadcast(b)).select(
        F.least(
            F.lit(1.0),
            2000
            * F.expr("cast(round(o_totalprice * 100) as bigint)")
            / F.col("true_c").cast("double"),
        ).alias("pi"),
        (
            F.expr(H.md5_long("CAST(o_orderkey AS STRING)"))
            / F.lit(1152921504606846976.0)
        ).alias("u"),
    )
    w_m = F.expr("cast(round(1.0 / pi * 1000) as bigint)")
    s = p.filter(F.col("u") < F.col("pi")).agg(
        F.count("*").cast("long").alias("n_sampled"),
        F.sum(w_m).cast("long").alias("sw_m"),
        F.sum(w_m * w_m).cast("long").alias("sww"),
    )
    ess = F.col("sw_m").cast("double") * F.col("sw_m") / F.col("sww")
    return s.select(
        "n_sampled",
        F.round(ess / F.lit(1), 6).alias("effective_n"),
        F.round(ess / F.col("n_sampled"), 6).alias("ess_ratio"),
        F.round(
            F.col("sww").cast("double")
            * F.col("n_sampled")
            / (F.col("sw_m").cast("double") * F.col("sw_m")),
            6,
        ).alias("kish_deff"),
    )


# ---------------------------------------------------------------------------
# Vector search completion wave (r5 cont.): range search, filter-order
# recall, HNSW capacity planning
# ---------------------------------------------------------------------------


@query(
    "knn_range_search",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS query_vec
        FROM embeddings WHERE vec_id < 5
    )
    SELECT q.query_id, e.vec_id,
           round({V.dd_cosine('e.embedding', 'q.query_vec')}, 6) AS score
    FROM embeddings e, q
    WHERE {V.dd_cosine('e.embedding', 'q.query_vec')} >= 0.25
      AND e.vec_id <> q.query_id
    """,
)
def knn_range_search_q(spark, sf_dir):
    """Range (radius) search — ALL neighbors with cosine >= tau per
    query, no k (the Milvus range-search / faiss range_search verb
    beside search_vectors' top-k, milvus_db.py:107): broadcast query
    side, ONE corpus pass, and the tau predicate is a plain filter on
    the scored rows — zero shuffles, a pure map job at 100 TB (top-k
    needs a reduction; range search does not). The raw-double
    threshold compares identically in both engines because the cosine
    arithmetic tree is bit-identical (norms factored once per side,
    same as topk_batch)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.expr(V.l2_norm("embedding")).alias("_qnorm"),
    )
    c = emb.select(
        "vec_id", "embedding", F.expr(V.l2_norm("embedding")).alias("_cnorm")
    )
    scored = c.crossJoin(F.broadcast(queries)).selectExpr(
        "query_id", "vec_id", f"{V.cosine('embedding', 'query_vec', '_cnorm', '_qnorm')} AS score"
    )
    return (
        scored.filter(
            (F.col("score") >= 0.25) & (F.col("vec_id") != F.col("query_id"))
        )
        .select("query_id", "vec_id", F.round("score", 6).alias("score"))
    )


@query(
    "post_filter_recall",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS query_vec
        FROM embeddings WHERE vec_id < 5
    ), scored AS (
        SELECT q.query_id, e.vec_id, e.label,
               {V.dd_cosine('e.embedding', 'q.query_vec')} AS score
        FROM embeddings e, q
    ), ranked AS (
        SELECT query_id, vec_id, label, score,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, vec_id) AS rank_full,
               CASE WHEN label = 3 THEN
                   row_number() OVER (PARTITION BY query_id, (label = 3)
                                      ORDER BY score DESC, vec_id)
               END AS rank_filt
        FROM scored
    ), truth AS (
        SELECT query_id, count(*) AS truth_n, list(vec_id) AS tids
        FROM ranked WHERE rank_filt <= 10 GROUP BY query_id
    ), post AS (
        SELECT query_id, count(*) AS post_kept, list(vec_id) AS pids
        FROM ranked WHERE rank_full <= 10 AND label = 3 GROUP BY query_id
    )
    SELECT t.query_id,
           CAST(t.truth_n AS BIGINT) AS truth_n,
           CAST(coalesce(p.post_kept, 0) AS BIGINT) AS post_kept,
           CAST(coalesce(len(list_intersect(t.tids, p.pids)), 0) AS BIGINT) AS hits,
           round(CAST(coalesce(len(list_intersect(t.tids, p.pids)), 0) AS DOUBLE)
                 / t.truth_n, 6) AS recall
    FROM truth t LEFT JOIN post p USING (query_id)
    """,
)
def post_filter_recall_q(spark, sf_dir):
    """Pre-filter vs post-filter recall@10 for filtered vector search —
    the measurement behind knn_filtered's pre-filter posture (Milvus
    filtered search design: filtering AFTER top-k loses every hit the
    filter would have admitted below rank k): the corpus is scored
    ONCE per query (norm-factored cosine), one top-10 per (query,
    label match) bounds both candidate sets (top-10 overall, top-10
    among label matches), and one final agg per query computes the
    intersection — no second corpus pass, no join between the two
    rankings. Truth = filter-then-rank; post = rank-then-filter;
    recall = |post ∩ truth| / |truth|."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.expr(V.l2_norm("embedding")).alias("_qnorm"),
    )
    c = emb.select(
        "vec_id", "label", "embedding", F.expr(V.l2_norm("embedding")).alias("_cnorm")
    )
    scored = c.crossJoin(F.broadcast(queries)).selectExpr(
        "query_id",
        "vec_id",
        "label = 3 AS _f",
        f"{V.cosine('embedding', 'query_vec', '_cnorm', '_qnorm')} AS score",
    )
    # The overall top 10 lies within the union of each label group's
    # top 10, so one bounded top-k per (query, is-match) feeds both
    # rankings; the overall rank is numbered over those few rows.
    ranked = knn.topk_per_key(scored, ["query_id", "_f"], "vec_id", 10).selectExpr(
        "query_id",
        "vec_id",
        "_f",
        "row_number() OVER (PARTITION BY query_id"
        " ORDER BY score DESC NULLS LAST, vec_id) AS rank_full",
    )
    merged = ranked.groupBy("query_id").agg(
        F.expr("collect_list(CASE WHEN _f THEN vec_id END)").alias("truth"),
        F.expr("collect_list(CASE WHEN _f AND rank_full <= 10 THEN vec_id END)").alias("post"),
    )
    hits = F.size(F.array_intersect("post", "truth"))
    return merged.select(
        "query_id",
        F.size("truth").cast("long").alias("truth_n"),
        F.size("post").cast("long").alias("post_kept"),
        hits.cast("long").alias("hits"),
        F.round(hits.cast("double") / F.size("truth"), 6).alias("recall"),
    )


@query(
    "hnsw_layer_plan",
    oracle=f"""
    WITH h AS (
        SELECT vec_id, {H.dd_md5_long('vec_id::VARCHAR', 'hnsw')} AS hv
        FROM embeddings
    ), lv AS (
        SELECT vec_id,
               least(length(regexp_extract(bin(hv), '(0*)$', 1)) // 2, 6) AS level
        FROM h
    ), per AS (
        SELECT CAST(level AS BIGINT) AS level, CAST(count(*) AS BIGINT) AS n_nodes
        FROM lv GROUP BY level
    )
    SELECT level, n_nodes,
           CAST(sum(n_nodes) OVER (ORDER BY level DESC) AS BIGINT) AS layer_size,
           CAST(sum(n_nodes) OVER (ORDER BY level DESC)
                * (CASE WHEN level = 0 THEN 32 ELSE 16 END) AS BIGINT) AS layer_edges,
           round(CAST(n_nodes AS DOUBLE)
                 / (SELECT sum(n_nodes) FROM per), 6) AS node_share
    FROM per
    """,
)
def hnsw_layer_plan_q(spark, sf_dir):
    """HNSW capacity planning — the layer-occupancy table an HNSW
    build (Malkov & Yashunin TPAMI'18) materializes before allocating
    neighbor lists: each node's max level is geometric(p=1/4), drawn
    here EXACTLY as trailing-zero bit PAIRS of the node's md5 (two
    zero bits per level — integer arithmetic both engines agree on,
    where the canonical floor(-ln(u)*mL) puts a libm ln at a floor
    boundary). Per level: nodes whose max level is exactly l, the
    cumulative layer size (every node of level >= l participates in
    layer l's graph — the sum the index sizes its M=16 / M0=32
    neighbor arrays by), edge budget, and node share. One narrow scan
    + one map-side-combinable groupBy; windows run over the <=7-row
    level frame."""
    emb = load_table(spark, sf_dir, "embeddings")
    hv = F.expr(H.md5_long("CAST(vec_id AS STRING)", "hnsw"))
    tz = F.length(F.regexp_extract(F.bin(hv), r"(0*)$", 1))
    lv = emb.select(F.least(tz.cast("long") / F.lit(2), F.lit(6)).cast("long").alias("level"))
    per = lv.groupBy("level").agg(F.count("*").cast("long").alias("n_nodes"))
    w = Window.orderBy(F.col("level").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wa = Window.partitionBy()
    return per.select(
        "level",
        "n_nodes",
        F.sum("n_nodes").over(w).cast("long").alias("layer_size"),
        (
            F.sum("n_nodes").over(w)
            * F.when(F.col("level") == 0, 32).otherwise(16)
        )
        .cast("long")
        .alias("layer_edges"),
        F.round(
            F.col("n_nodes").cast("double") / F.sum("n_nodes").over(wa), 6
        ).alias("node_share"),
    )


# ---------------------------------------------------------------------------
# Training-sample + governance wave (r5 cont.): FIM transform,
# k-anonymity audit, filter bias audit
# ---------------------------------------------------------------------------


@query(
    "fim_transform",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), cuts AS (
        SELECT doc_id, t, len(t) AS n,
               {H.dd_md5_long("doc_id::VARCHAR || '|a'", 'fim')} % (len(t) + 1) AS h1,
               {H.dd_md5_long("doc_id::VARCHAR || '|b'", 'fim')} % (len(t) + 1) AS h2
        FROM d
    ), spans AS (
        SELECT doc_id, t, n,
               least(h1, h2) AS lo, greatest(h1, h2) AS hi
        FROM cuts
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(lo AS BIGINT) AS cut_lo,
           CAST(hi AS BIGINT) AS cut_hi,
           '<PRE> ' || coalesce(array_to_string(t[1 : CAST(lo AS INTEGER)], ' '), '')
               || ' <SUF> ' || coalesce(array_to_string(t[CAST(hi + 1 AS INTEGER) : CAST(n AS INTEGER)], ' '), '')
               || ' <MID>' AS input_text,
           coalesce(array_to_string(t[CAST(lo + 1 AS INTEGER) : CAST(hi AS INTEGER)], ' '), '')
               AS target_text
    FROM spans
    """,
)
def fim_transform_q(spark, sf_dir):
    """Fill-in-the-middle training transform (Bavarian et al. 2022 —
    the FIM objective code models train with): two deterministic cut
    points from the seeded md5 family split each doc's token stream
    into prefix/middle/suffix, serialized in PSM order
    (`<PRE> prefix <SUF> suffix <MID>` -> middle) so the model learns
    to infill. Completes the sample-generation family beside
    mlm_mask_corpus / span_corrupt_corpus / skipgram_pairs. Pure
    codegen HOFs over ONE scan, zero shuffles — a map-only rewrite job
    at 100 TB; the FULL (input, target) pair is hash-checked, and the
    same md5 draw makes the corpus split identically across engines,
    runs, and cluster sizes."""
    docs = load_table(spark, sf_dir, "documents", split=True)
    t = F.split(F.col("text"), " ")
    d = docs.select("doc_id", t.alias("t"), F.size(t).alias("n"))
    h1 = F.expr(H.md5_long("concat(CAST(doc_id AS STRING), '|a')", "fim")) % (
        F.col("n") + 1
    )
    h2 = F.expr(H.md5_long("concat(CAST(doc_id AS STRING), '|b')", "fim")) % (
        F.col("n") + 1
    )
    s = d.select(
        "doc_id",
        "t",
        "n",
        F.least(h1, h2).alias("lo"),
        F.greatest(h1, h2).alias("hi"),
    )
    return s.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        F.col("lo").cast("long").alias("cut_lo"),
        F.col("hi").cast("long").alias("cut_hi"),
        F.concat(
            F.lit("<PRE> "),
            F.array_join(F.slice(F.col("t"), 1, F.col("lo").cast("int")), " "),
            F.lit(" <SUF> "),
            F.array_join(
                F.slice(
                    F.col("t"),
                    (F.col("hi") + 1).cast("int"),
                    (F.col("n") - F.col("hi")).cast("int"),
                ),
                " ",
            ),
            F.lit(" <MID>"),
        ).alias("input_text"),
        F.array_join(
            F.slice(
                F.col("t"),
                (F.col("lo") + 1).cast("int"),
                (F.col("hi") - F.col("lo")).cast("int"),
            ),
            " ",
        ).alias("target_text"),
    )


@query(
    "k_anonymity_audit",
    oracle="""
    WITH g AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(count(*) AS BIGINT) AS k,
               CAST(count(DISTINCT CAST(round(c_acctbal * 100) AS BIGINT) // 100000)
                    AS BIGINT) AS l
        FROM customer GROUP BY c_nationkey, c_mktsegment
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS n_groups,
               CAST(min(k) AS BIGINT) AS min_k,
               CAST(sum(CASE WHEN k < 5 THEN 1 ELSE 0 END) AS BIGINT)
                   AS violating_groups,
               CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
                   AS rows_at_risk,
               list_sort(list(k)) AS ks,
               CAST(min(l) AS BIGINT) AS min_l,
               CAST(sum(CASE WHEN l < 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS groups_low_diversity
        FROM g
    )
    SELECT n_groups, min_k, violating_groups, rows_at_risk,
           CAST(ks[CAST((n_groups + 1) // 2 AS INTEGER)] AS BIGINT) AS median_k,
           min_l, groups_low_diversity
    FROM s
    """,
)
def k_anonymity_audit_q(spark, sf_dir):
    """k-anonymity / l-diversity audit (Sweeney '02 / Machanavajjhala
    '07 — the privacy gate before releasing a table keyed on
    quasi-identifiers): equivalence classes over the QI pair
    (nation, market segment), per-class size k and sensitive-value
    diversity l (account-balance bands in exact integer cents — no
    float floor boundary), then one rollup: classes below k=5, rows
    at re-identification risk, median class size by exact sorted
    selection, and low-diversity class count. One map-side-combinable
    groupBy + one aggregate over the QI-cardinality-bounded frame."""
    c = load_table(spark, sf_dir, "customer")
    g = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").cast("long").alias("k"),
        F.countDistinct(
            F.expr("cast(round(c_acctbal * 100) as bigint) div 100000")
        )
        .cast("long")
        .alias("l"),
    )
    s = g.agg(
        F.count("*").cast("long").alias("n_groups"),
        F.min("k").cast("long").alias("min_k"),
        F.sum(F.when(F.col("k") < 5, 1).otherwise(0)).cast("long").alias(
            "violating_groups"
        ),
        F.sum(F.when(F.col("k") < 5, F.col("k")).otherwise(0))
        .cast("long")
        .alias("rows_at_risk"),
        F.sort_array(F.collect_list("k")).alias("ks"),
        F.min("l").cast("long").alias("min_l"),
        F.sum(F.when(F.col("l") < 2, 1).otherwise(0))
        .cast("long")
        .alias("groups_low_diversity"),
    )
    return s.select(
        "n_groups",
        "min_k",
        "violating_groups",
        "rows_at_risk",
        F.get("ks", F.expr("cast((n_groups + 1) div 2 as int) - 1"))
        .cast("long")
        .alias("median_k"),
        "min_l",
        "groups_low_diversity",
    )


@query(
    "filter_bias_audit",
    oracle=f"""
    WITH q AS (
      SELECT lang,
             CAST(len({_DD_TOKS}) AS BIGINT) AS n,
             CAST(length(text) - (len({_DD_TOKS}) - 1) AS DOUBLE)
               / len({_DD_TOKS}) AS mean_wl,
             CAST(len(list_filter({_DD_TOKS},
                  t -> list_contains(['the','a','an','and','or','of','to','in','on','for','is','are','was','be','it','this','that','with','as','at'], t)))
               AS DOUBLE) / len({_DD_TOKS}) AS swf,
             CAST(len(list_distinct({_DD_TOKS})) AS DOUBLE)
               / len({_DD_TOKS}) AS ttr
      FROM documents
    ), per AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN n >= 20 AND n <= 80 AND mean_wl >= 3.0
                            AND mean_wl <= 8.0 AND swf >= 0.05 AND ttr >= 0.3
                           THEN 1 ELSE 0 END) AS BIGINT) AS kept
      FROM q GROUP BY lang
    )
    SELECT lang, n_docs, kept,
           round(CAST(kept AS DOUBLE) / n_docs, 6) AS keep_rate,
           round((CAST(kept AS DOUBLE) / n_docs)
                 / max(CAST(kept AS DOUBLE) / n_docs) OVER (), 6) AS di_ratio,
           ((CAST(kept AS DOUBLE) / n_docs)
            / max(CAST(kept AS DOUBLE) / n_docs) OVER ()) < 0.8 AS flagged
    FROM per
    """,
)
def filter_bias_audit_q(spark, sf_dir):
    """Disparate-impact audit of the quality filter gates per language
    (the fairness check a multilingual curation pipeline runs before
    shipping a filter config — C4's blocklist famously over-filtered
    minority dialects; the four-fifths rule flags any language whose
    keep rate falls below 0.8x the best-treated language): the same
    quality_filters signals computed inline so ONE corpus scan feeds
    per-lang keep counts, then the disparate-impact ratio via a
    window over the languages-sized frame. Exact integer counts;
    the 0.8 comparison runs on identical doubles in both engines."""
    from ..functions import text as X

    docs = load_table(spark, sf_dir, "documents", split=True)
    t = F.col("text")
    toks = F.expr(X.tokens("text"))
    n = F.size(toks)
    mean_wl = (F.length(t) - (n - 1)) / n
    swf = F.expr(X.stopword_count("text")) / n
    ttr = F.size(F.array_distinct(toks)) / n
    keep = (
        (n >= 20)
        & (n <= 80)
        & (mean_wl >= 3.0)
        & (mean_wl <= 8.0)
        & (swf >= 0.05)
        & (ttr >= 0.3)
    )
    per = docs.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(keep.cast("int")).cast("long").alias("kept"),
    )
    wa = Window.partitionBy()
    rate = F.col("kept").cast("double") / F.col("n_docs")
    di = rate / F.max(rate).over(wa)
    return per.select(
        "lang",
        "n_docs",
        "kept",
        F.round(rate, 6).alias("keep_rate"),
        F.round(di, 6).alias("di_ratio"),
        (di < 0.8).alias("flagged"),
    )


# ---------------------------------------------------------------------------
# Fuzzy matching + sketch algebra + forecast evaluation wave (r5 cont.)
# ---------------------------------------------------------------------------

_FUZZY_QUERY_TERMS = ["bacth", "cusomer", "windoow", "sparc", "filtter"]


@query(
    "trigram_fuzzy_match",
    oracle=f"""
    WITH vocab AS (
        SELECT DISTINCT unnest(string_split(text, ' ')) AS term FROM documents
    ), v AS (
        SELECT term,
               list_distinct([substr('  ' || term || ' ', i, 3)
                              FOR i IN range(1, length(term) + 2)]) AS tgs
        FROM vocab WHERE term <> ''
    ), q AS (
        SELECT qterm,
               list_distinct([substr('  ' || qterm || ' ', i, 3)
                              FOR i IN range(1, length(qterm) + 2)]) AS tgs
        FROM (VALUES {", ".join(f"('{t}')" for t in _FUZZY_QUERY_TERMS)}) AS t(qterm)
    ), pairs AS (
        SELECT q.qterm, v.term,
               CAST(len(list_intersect(q.tgs, v.tgs)) AS BIGINT) AS shared,
               CAST(len(list_intersect(q.tgs, v.tgs)) AS DOUBLE)
                 / (len(q.tgs) + len(v.tgs) - len(list_intersect(q.tgs, v.tgs)))
                 AS sim
        FROM q, v
        WHERE len(list_intersect(q.tgs, v.tgs)) > 0
    ), ranked AS (
        SELECT qterm, term, shared, sim,
               row_number() OVER (PARTITION BY qterm
                                  ORDER BY sim DESC, term) AS rank
        FROM pairs
    )
    SELECT qterm, term, shared, round(sim, 6) AS sim, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 3
    """,
)
def trigram_fuzzy_match_q(spark, sf_dir):
    """Trigram fuzzy term matching (pg_trgm / Elasticsearch fuzzy — the
    typo-tolerant did-you-mean layer in front of keyword search):
    padded character trigrams ('  t', ' te', ...) per vocab term,
    similarity = trigram-set Jaccard, top-3 corrections per misspelled
    query term. The corpus collapses to its DISTINCT vocabulary first
    (the bpe_pair_counts trick — everything downstream is
    vocabulary-sized, independent of corpus size), candidates come
    from the trigram-keyed equi-join (a query term only meets vocab
    terms SHARING a trigram — never all of vocab), and per-query
    top-3 is knn.topk_per_key (rank on full-precision sim with term
    tie-break, round at emit)."""
    docs = load_table(spark, sf_dir, "documents", split=True)
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
        .distinct()
    )

    # trigram set builder as a SQL expr (1-based substr, both engines;
    # padded length is len+3, last trigram start = len+1)
    def tg_expr(name):
        return F.expr(
            f"array_distinct(transform(sequence(1, length({name}) + 1), "
            f"i -> substr(concat('  ', {name}, ' '), i, 3)))"
        )

    v = vocab.select("term", tg_expr("term").alias("tgs"), F.size(tg_expr("term")).alias("nv"))
    q = spark.createDataFrame(
        [(t,) for t in _FUZZY_QUERY_TERMS], "qterm string"
    ).select("qterm", tg_expr("qterm").alias("qtgs"), F.size(tg_expr("qterm")).alias("nq"))
    vx = v.select("term", "nv", F.explode("tgs").alias("tg"))
    qx = q.select("qterm", "nq", F.explode("qtgs").alias("tg"))
    pairs = (
        vx.join(F.broadcast(qx), "tg")
        .groupBy("qterm", "term", "nq", "nv")
        .agg(F.count("*").cast("long").alias("shared"))
        .select(
            "qterm",
            "term",
            "shared",
            (
                F.col("shared").cast("double")
                / (F.col("nq") + F.col("nv") - F.col("shared"))
            ).alias("sim"),
        )
    )
    return knn.topk_per_key(pairs, "qterm", "term", 3, score_col="sim").select(
        "qterm",
        "term",
        "shared",
        F.round("sim", 6).alias("sim"),
        F.col("rank").cast("long").alias("rank"),
    )


@query(
    "kmv_set_ops",
    oracle=f"""
    WITH du AS (
        SELECT DISTINCT event_type, user_id FROM events
        WHERE event_type IN ('click', 'purchase')
    ), h AS (
        SELECT event_type, {H.dd_md5_long('user_id::VARCHAR')} AS h FROM du
    ), per AS (
        SELECT event_type, (list_sort(list(h)))[1:32] AS sk
        FROM h GROUP BY event_type
    ), row_ AS (
        SELECT max(CASE WHEN event_type = 'click' THEN sk END) AS ska,
               max(CASE WHEN event_type = 'purchase' THEN sk END) AS skb
        FROM per
    ), u AS (
        SELECT ska, skb,
               (list_sort(list_distinct(ska || skb)))[1:32] AS sku
        FROM row_
    ), ex AS (
        SELECT CAST(count(DISTINCT CASE WHEN event_type = 'click' THEN user_id END) AS BIGINT) AS exact_a,
               CAST(count(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS BIGINT) AS exact_b,
               CAST(count(DISTINCT user_id) AS BIGINT) AS exact_union
        FROM du
    ), exi AS (
        SELECT CAST(count(*) AS BIGINT) AS exact_inter FROM (
            SELECT user_id FROM du GROUP BY user_id HAVING count(DISTINCT event_type) = 2)
    ), est AS (
        SELECT
            CASE WHEN len(ska) < 32 THEN CAST(len(ska) AS DOUBLE)
                 ELSE 31 / (ska[len(ska)] / 1152921504606846976.0) END AS est_a,
            CASE WHEN len(skb) < 32 THEN CAST(len(skb) AS DOUBLE)
                 ELSE 31 / (skb[len(skb)] / 1152921504606846976.0) END AS est_b,
            CASE WHEN len(sku) < 32 THEN CAST(len(sku) AS DOUBLE)
                 ELSE 31 / (sku[len(sku)] / 1152921504606846976.0) END AS est_union,
            CAST(len(list_intersect(list_intersect(sku, ska), skb)) AS DOUBLE)
                / len(sku) AS rho
        FROM u
    )
    SELECT CAST(32 AS BIGINT) AS k, exact_a, exact_b, exact_union, exact_inter,
           round(est_a, 6) AS est_a, round(est_b, 6) AS est_b,
           round(est_union, 6) AS est_union,
           round(rho * est_union, 6) AS est_inter,
           round(rho, 6) AS jaccard_est
    FROM est, ex, exi
    """,
)
def kmv_set_ops_q(spark, sf_dir):
    """KMV sketch SET ALGEBRA (Beyer SIGMOD'07 §5 — the property that
    makes KMV more than a distinct counter: k-min sketches compose
    under union, and membership of the union sketch in both input
    sketches is EXACT, so intersection/Jaccard estimates need no
    second pass over the data): click-user and purchase-user sketches
    merge into the union sketch by re-taking the k smallest; every
    audience-overlap number (union NDV, intersection NDV, Jaccard)
    then derives from three k-bounded integer arrays. The
    at-the-sketch-level answer to audience_overlap's exact join —
    at 100 TB you ship 32 longs per segment, not user lists.
    Small-range correction (sketch not full -> exact count) matches
    kmv_distinct's convention."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    du = ev.select("event_type", "user_id").distinct()
    h = du.select("event_type", F.expr(H.md5_long("CAST(user_id AS STRING)")).alias("h"))
    # two-phase k-min (sketch.kmv_distinct's): the collect_set partial
    # still ships each partition's distinct hashes across the first
    # exchange; only the merge sees ≤ n_partitions·k per type
    partial = (
        h.withColumn("_pid", F.spark_partition_id())
        .groupBy("event_type", "_pid")
        .agg(F.slice(F.array_sort(F.collect_set("h")), 1, 32).alias("hs"))
        .select("event_type", F.explode("hs").alias("h"))
    )
    per = partial.groupBy("event_type").agg(
        F.slice(F.sort_array(F.collect_set("h")), 1, 32).alias("sk")
    )
    row = per.agg(
        F.max(F.when(F.col("event_type") == "click", F.col("sk"))).alias("ska"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("sk"))).alias("skb"),
    )
    u = row.select(
        "ska",
        "skb",
        F.slice(F.array_sort(F.array_distinct(F.concat("ska", "skb"))), 1, 32).alias(
            "sku"
        ),
    )
    ex = du.agg(
        F.countDistinct(
            F.when(F.col("event_type") == "click", F.col("user_id"))
        ).alias("exact_a"),
        F.countDistinct(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).alias("exact_b"),
        F.countDistinct("user_id").alias("exact_union"),
    )
    exi = (
        du.groupBy("user_id")
        .agg(F.countDistinct("event_type").alias("nt"))
        .filter(F.col("nt") == 2)
        .agg(F.count("*").cast("long").alias("exact_inter"))
    )

    def est(sk):
        return F.when(F.size(sk) < 32, F.size(sk).cast("double")).otherwise(
            F.lit(31) / (F.element_at(sk, F.size(sk)) / F.lit(1152921504606846976.0))
        )

    rho = (
        F.size(F.array_intersect(F.array_intersect("sku", "ska"), F.col("skb"))).cast(
            "double"
        )
        / F.size("sku")
    )
    out = u.crossJoin(F.broadcast(ex)).crossJoin(F.broadcast(exi))
    return out.select(
        F.lit(32).cast("long").alias("k"),
        "exact_a",
        "exact_b",
        "exact_union",
        "exact_inter",
        F.round(est(F.col("ska")), 6).alias("est_a"),
        F.round(est(F.col("skb")), 6).alias("est_b"),
        F.round(est(F.col("sku")), 6).alias("est_union"),
        F.round(rho * est(F.col("sku")), 6).alias("est_inter"),
        F.round(rho, 6).alias("jaccard_est"),
    )


@query(
    "forecast_backtest",
    oracle="""
    WITH m AS (
        SELECT (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS month_id,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
        FROM orders GROUP BY month_id
    ), w AS (
        SELECT month_id, rev_c,
               row_number() OVER (ORDER BY month_id) AS rn,
               count(*) OVER () AS nm,
               lag(rev_c, 1) OVER (ORDER BY month_id) AS prev_c,
               lag(rev_c, 12) OVER (ORDER BY month_id) AS seas_c,
               first_value(rev_c) OVER (ORDER BY month_id) AS first_c
        FROM m
    ), folds AS (
        SELECT * FROM w WHERE rn > nm - 3
    ), preds AS (
        SELECT month_id, rev_c, method,
               CASE method
                   WHEN 'naive' THEN CAST(prev_c AS DOUBLE)
                   WHEN 'drift' THEN prev_c + CAST(prev_c - first_c AS DOUBLE) / (rn - 2)
                   WHEN 'seasonal_naive' THEN CAST(coalesce(seas_c, prev_c) AS DOUBLE)
               END AS pred_c
        FROM folds, (VALUES ('naive'), ('drift'), ('seasonal_naive')) AS t(method)
    )
    SELECT CAST(month_id AS BIGINT) AS month_id, method,
           round(pred_c / 100, 6) AS predicted,
           round(CAST(rev_c AS DOUBLE) / 100, 6) AS actual,
           round(abs(pred_c - rev_c) / rev_c, 6) AS ape
    FROM preds
    """,
)
def forecast_backtest_q(spark, sf_dir):
    """Rolling-origin forecast backtest (the evaluation loop behind
    trusting holt_forecast's point forecasts — each of the last 3
    months becomes a 1-step-ahead test fold with train = strictly
    earlier months): naive (last value), drift (last + mean
    historical increment — the random-walk-with-drift closed form
    (last-first)/(n-1)), and seasonal-naive (lag 12) baselines, each
    fold's prediction derived from CUMULATIVE window state so all
    folds come out of ONE pass over the month-bounded frame (no
    per-fold re-fit, no self-joins). Cent-exact integers everywhere;
    the drift division is the single double op, identical order both
    engines; APE per (fold, method) is the model-selection readout."""
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        ((F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1).alias(
            "month_id"
        )
    ).agg(
        F.sum(F.expr("cast(round(o_totalprice * 100) as bigint)"))
        .cast("long")
        .alias("rev_c")
    )
    wo = Window.orderBy("month_id")
    wa = Window.partitionBy()
    w = m.select(
        "month_id",
        "rev_c",
        F.row_number().over(wo).alias("rn"),
        F.count("*").over(wa).alias("nm"),
        F.lag("rev_c", 1).over(wo).alias("prev_c"),
        F.lag("rev_c", 12).over(wo).alias("seas_c"),
        F.first("rev_c").over(wo).alias("first_c"),
    )
    folds = w.filter(F.col("rn") > F.col("nm") - 3)
    methods = F.explode(V.lit_array(["naive", "drift", "seasonal_naive"]))
    p = folds.select("month_id", "rev_c", "rn", "prev_c", "seas_c", "first_c", methods.alias("method"))
    pred = (
        F.when(F.col("method") == "naive", F.col("prev_c").cast("double"))
        .when(
            F.col("method") == "drift",
            F.col("prev_c")
            + (F.col("prev_c") - F.col("first_c")).cast("double") / (F.col("rn") - 2),
        )
        .otherwise(F.coalesce(F.col("seas_c"), F.col("prev_c")).cast("double"))
    )
    return p.select(
        F.col("month_id").cast("long").alias("month_id"),
        "method",
        F.round(pred / 100, 6).alias("predicted"),
        F.round(F.col("rev_c").cast("double") / 100, 6).alias("actual"),
        F.round(F.abs(pred - F.col("rev_c")) / F.col("rev_c"), 6).alias("ape"),
    )


# ---------------------------------------------------------------------------
# Reference-surface completion + RAG evaluation wave (r5 cont.)
# ---------------------------------------------------------------------------


@query(
    "list_collections",
    oracle="""
    WITH counts AS (
        SELECT 'region' AS collection, count(*) AS row_count FROM region
        UNION ALL SELECT 'nation', count(*) FROM nation
        UNION ALL SELECT 'customer', count(*) FROM customer
        UNION ALL SELECT 'supplier', count(*) FROM supplier
        UNION ALL SELECT 'part', count(*) FROM part
        UNION ALL SELECT 'orders', count(*) FROM orders
        UNION ALL SELECT 'lineitem', count(*) FROM lineitem
        UNION ALL SELECT 'events', count(*) FROM events
        UNION ALL SELECT 'documents', count(*) FROM documents
        UNION ALL SELECT 'embeddings', count(*) FROM embeddings
    ), cols AS (
        SELECT table_name AS collection, CAST(count(*) AS BIGINT) AS n_fields
        FROM information_schema.columns
        WHERE table_name IN ('region','nation','customer','supplier','part',
                             'orders','lineitem','events','documents','embeddings')
        GROUP BY table_name
    )
    SELECT c.collection, CAST(c.row_count AS BIGINT) AS row_count, l.n_fields
    FROM counts c JOIN cols l USING (collection)
    """,
)
def list_collections_q(spark, sf_dir):
    """Collection listing surface (milvus_db.py:36 list_collections —
    the one REST verb not yet mirrored 1:1; completes the client
    surface beside describe_collection and get_collection_stats): one
    row per registered collection with row count and field count, the
    field count read from the ENGINE'S OWN resolved parquet schema so
    lake drift surfaces as a parity failure against the oracle's
    information_schema. Ten narrow count aggs unioned in one plan —
    each a metadata-cheap scan of one column at any scale."""
    from functools import reduce

    from ..sources import TABLES

    parts = []
    for tbl in TABLES:
        df = load_table(spark, sf_dir, tbl)
        # field count from the RAW parquet footer, not the loaded frame
        # (load_table normalizes events' dual ts layout by adding a
        # derived column; the catalog surface reports storage schema)
        n_fields = len(spark.read.parquet(f"{sf_dir}/{tbl}.parquet").schema.fields)
        parts.append(
            df.agg(F.count("*").cast("long").alias("row_count")).select(
                F.lit(tbl).alias("collection"),
                "row_count",
                F.lit(n_fields).cast("long").alias("n_fields"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), parts)


@query(
    "rag_groundedness",
    oracle=f"""
    WITH tot AS (SELECT count(*) AS t FROM embeddings),
    q AS (
        SELECT vec_id AS query_id, embedding AS qv,
               (vec_id * 7 + 3) % (SELECT t FROM tot) AS expected_id
        FROM embeddings WHERE vec_id < 20
    ), scored AS (
        SELECT q.query_id, q.expected_id, e.vec_id,
               {V.dd_cosine('e.embedding', 'q.qv')} AS score
        FROM embeddings e, q
    ), ctx AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, vec_id) AS rk
            FROM scored) WHERE rk <= 3
    ), dt AS (
        SELECT doc_id, text, string_split(text, ' ') AS t FROM documents
    ), ctx_bi AS (
        SELECT DISTINCT query_id, unnest((CASE WHEN len(string_split(text, ' ')) < 2 THEN []::VARCHAR[] ELSE [array_to_string((string_split(text, ' '))[i + 1 : i + 2], ' ') FOR i IN range(len(string_split(text, ' ')) - 2 + 1)] END)) AS bg
        FROM ctx JOIN dt ON dt.doc_id = ctx.vec_id
    ), ans AS (
        SELECT query_id, expected_id,
               array_to_string(t[1:20], ' ') AS head
        FROM q JOIN dt ON dt.doc_id = q.expected_id
    ), ans_bi AS (
        SELECT query_id, expected_id,
               unnest(list_distinct((CASE WHEN len(string_split(head, ' ')) < 2 THEN []::VARCHAR[] ELSE [array_to_string((string_split(head, ' '))[i + 1 : i + 2], ' ') FOR i IN range(len(string_split(head, ' ')) - 2 + 1)] END))) AS bg
        FROM ans
    ), j AS (
        SELECT a.query_id, a.expected_id,
               (c.bg IS NOT NULL) AS hit
        FROM ans_bi a LEFT JOIN ctx_bi c
          ON a.query_id = c.query_id AND a.bg = c.bg
    )
    SELECT query_id, CAST(expected_id AS BIGINT) AS expected_id,
           CAST(count(*) AS BIGINT) AS n_answer_bigrams,
           CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS supported,
           round(CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS groundedness
    FROM j GROUP BY query_id, expected_id
    """,
)
def rag_groundedness_q(spark, sf_dir):
    """Groundedness / context-support audit for the RAG pipeline (the
    RAGAS context-recall shape: is the REFERENCE answer actually
    supported by what retrieval brought back? — the metric that
    catches a retriever whose top-k misses the evidence even when
    rag_eval_retrieval's hit-rank looks fine): per query, the
    expected doc's first-20-token answer stub decomposes into word
    bigrams, the top-3 retrieved docs' bigram sets form the support
    set, groundedness = supported / total answer bigrams. Retrieval
    reuses topk_batch's broadcast-query partial-top-k plan; bigram
    matching joins on (query_id, bigram) — k-bounded context, never
    corpus-wide text movement."""
    from ..functions import text as X
    from ..operators import knn as knn_ops

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents", split=True)
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
    ctx = knn_ops.topk_batch(emb, queries, k=3).select("query_id", "vec_id")
    dt = docs.select("doc_id", "text")
    ctx_bi = (
        ctx.join(dt, ctx.vec_id == dt.doc_id)
        .select(
            "query_id", F.explode(F.expr(X.word_shingles("text", 2))).alias("bg")
        )
        .distinct()
    )
    ans = (
        queries.select("query_id", "expected_id")
        .join(dt, F.col("expected_id") == dt.doc_id)
        .select(
            "query_id",
            "expected_id",
            F.array_join(F.slice(F.expr(X.tokens("text")), 1, 20), " ").alias("head"),
        )
    )
    ans_bi = ans.select(
        "query_id",
        "expected_id",
        F.explode(F.array_distinct(F.expr(X.word_shingles("head", 2)))).alias("bg"),
    )
    j = ans_bi.join(
        ctx_bi.withColumn("_hit", F.lit(1)),
        ["query_id", "bg"],
        "left",
    )
    return j.groupBy("query_id", "expected_id").agg(
        F.count("*").cast("long").alias("n_answer_bigrams"),
        F.sum(F.when(F.col("_hit").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("supported"),
        F.round(
            F.sum(F.when(F.col("_hit").isNotNull(), 1).otherwise(0)).cast("double")
            / F.count("*"),
            6,
        ).alias("groundedness"),
    ).select(
        "query_id",
        F.col("expected_id").cast("long").alias("expected_id"),
        "n_answer_bigrams",
        "supported",
        "groundedness",
    )


# ---------------------------------------------------------------------------
# Product-analytics depth wave (r5 cont.): time-window funnel, position
# bias, multi-touch attribution
# ---------------------------------------------------------------------------

_HOUR_NS = 3_600_000_000_000
_WEEK_NS = 604_800_000_000_000


@query(
    "window_funnel",
    oracle=f"""
    WITH ev AS (
        SELECT event_id, user_id, event_type, epoch_ns(ts) AS tn FROM events
    ), v AS (SELECT * FROM ev WHERE event_type = 'view'),
    c1 AS (
        SELECT v.event_id AS aid, v.user_id, v.tn AS atn,
               c.tn AS ctn, c.event_id AS cid,
               row_number() OVER (PARTITION BY v.event_id
                                  ORDER BY c.tn, c.event_id) AS rk
        FROM v LEFT JOIN ev c
          ON c.user_id = v.user_id AND c.event_type = 'click'
         AND (c.tn > v.tn OR (c.tn = v.tn AND c.event_id > v.event_id))
    ), c2 AS (SELECT * FROM c1 WHERE rk = 1),
    p1 AS (
        SELECT c2.aid, c2.user_id, c2.atn, c2.ctn, p.tn AS ptn,
               row_number() OVER (PARTITION BY c2.aid
                                  ORDER BY p.tn, p.event_id) AS rk2
        FROM c2 LEFT JOIN ev p
          ON c2.ctn IS NOT NULL AND p.user_id = c2.user_id
         AND p.event_type = 'purchase'
         AND (p.tn > c2.ctn OR (p.tn = c2.ctn AND p.event_id > c2.cid))
    ), p2 AS (SELECT * FROM p1 WHERE rk2 = 1),
    da AS (
        SELECT user_id,
               CASE WHEN ctn IS NOT NULL AND ctn <= atn + {_HOUR_NS}
                    THEN CASE WHEN ptn IS NOT NULL AND ptn <= atn + {_HOUR_NS}
                              THEN 3 ELSE 2 END
                    ELSE 1 END AS depth
        FROM p2
    ), pu AS (SELECT user_id, max(depth) AS depth FROM da GROUP BY user_id),
    allu AS (SELECT DISTINCT user_id FROM ev),
    f AS (
        SELECT coalesce(pu.depth, 0) AS depth
        FROM allu LEFT JOIN pu USING (user_id)
    )
    SELECT CAST(depth AS BIGINT) AS depth,
           CAST(count(*) AS BIGINT) AS n_users,
           round(CAST(count(*) AS DOUBLE) / sum(count(*)) OVER (), 6) AS share
    FROM f GROUP BY depth
    """,
)
def window_funnel_q(spark, sf_dir):
    """Time-window funnel (ClickHouse windowFunnel, strict order):
    deepest view -> click -> purchase chain per user where every later
    step lands within 1 HOUR of the anchor view (funnel_analysis
    orders first occurrences globally; this demands the chain inside
    a sliding window — the conversion-latency-aware funnel). Greedy
    chain choice (earliest next step) is optimal for an
    anchor-fixed window, and both next-step lookups come from ONE
    descending window pass per user (running min of future
    click/purchase (ts, id) structs — the union-tag as-of trick), so
    the only exchanges are the user-keyed window shuffle and one
    (user, ts, id) equi-join to fetch the chosen click's own next
    purchase. The oracle replays with naive theta joins, proving the
    window recurrence equivalent."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts_ns"
    )
    w_future = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts_ns").desc(), F.col("event_id").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # Two STACKED windows on the identical spec (one exchange, no
    # join): pass 1 gives every row its next purchase; pass 2 takes
    # the first future click CARRYING that click's own next-purchase
    # struct as payload — so an anchor reads the whole chain from one
    # column and the click fetch-back join disappears.
    e1 = ev.withColumn(
        "np",
        F.min(
            F.when(F.col("event_type") == "purchase", F.struct("ts_ns", "event_id"))
        ).over(w_future),
    )
    e2 = e1.withColumn(
        "nc",
        F.min(
            F.when(
                F.col("event_type") == "click", F.struct("ts_ns", "event_id", "np")
            )
        ).over(w_future),
    )
    anchors = e2.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts_ns").alias("atn"), "nc"
    )
    depth = (
        F.when(
            F.col("nc").isNull() | (F.col("nc.ts_ns") > F.col("atn") + _HOUR_NS), 1
        )
        .when(
            F.col("nc.np").isNull()
            | (F.col("nc.np.ts_ns") > F.col("atn") + _HOUR_NS),
            2,
        )
        .otherwise(3)
    )
    pu = anchors.select("user_id", depth.alias("depth")).groupBy("user_id").agg(
        F.max("depth").alias("depth")
    )
    allu = ev.select("user_id").distinct()
    f = allu.join(pu, "user_id", "left").select(
        F.coalesce(F.col("depth"), F.lit(0)).alias("depth")
    )
    out = f.groupBy("depth").agg(F.count("*").cast("long").alias("n_users"))
    wa = Window.partitionBy()
    return out.select(
        F.col("depth").cast("long").alias("depth"),
        "n_users",
        F.round(
            F.col("n_users").cast("double") / F.sum("n_users").over(wa), 6
        ).alias("share"),
    )


@query(
    "position_bias_coec",
    oracle=f"""
    WITH imp AS (
        SELECT user_id % 40 AS item,
               json_extract_string(props, '$.k')::BIGINT % 10 AS pos,
               (value >= 50.0) AS clicked
        FROM events WHERE event_type = 'view'
    ), ps AS (
        SELECT pos, CAST(count(*) AS BIGINT) AS n_p,
               CAST(sum(CASE WHEN clicked THEN 1 ELSE 0 END) AS BIGINT) AS c_p
        FROM imp GROUP BY pos
    ), cells AS (
        SELECT item, pos, CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(CASE WHEN clicked THEN 1 ELSE 0 END) AS BIGINT) AS clk
        FROM imp GROUP BY item, pos
    ), j AS (
        SELECT item, cnt, clk,
               CAST(round(cnt * c_p * {MICRO}.0 / n_p) AS BIGINT) AS exp_u
        FROM cells JOIN ps USING (pos)
    )
    SELECT CAST(item AS BIGINT) AS item,
           CAST(sum(cnt) AS BIGINT) AS impressions,
           CAST(sum(clk) AS BIGINT) AS clicks,
           {emit_micro('CAST(sum(exp_u) AS DOUBLE)')} AS expected_clicks,
           CASE WHEN sum(exp_u) = 0 THEN NULL
                ELSE round(CAST(sum(clk) AS DOUBLE) * {MICRO} / sum(exp_u), 6)
           END AS coec
    FROM j GROUP BY item
    """,
)
def position_bias_coec_q(spark, sf_dir):
    """Position-bias-corrected CTR via COEC (clicks over expected
    clicks — the examination-model correction every ranking team
    applies before reading item CTRs: rank-1 slots get clicked more
    for REASONS OF POSITION, so raw CTR overrates whatever is already
    ranked high): the impression log (view events; slot = props.k mod
    10, item = user mod 40, click = value threshold) yields per-slot
    baseline CTRs, each item's expected clicks = sum of its
    impressions' slot baselines, COEC = actual/expected (1.0 = as
    expected for its slots). Expected-click terms quantize to exact
    micro-units per (item, slot) CELL before summing, so the
    data-proportional aggregation is order-free integer math; the
    per-slot frame is 10 rows, broadcast back. Two
    map-side-combinable groupBys over one scan."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "view")
    imp = ev.select(
        (F.col("user_id") % 40).alias("item"),
        (F.get_json_object("props", "$.k").cast("long") % 10).alias("pos"),
        (F.col("value") >= 50.0).alias("clicked"),
    )
    ps = imp.groupBy("pos").agg(
        F.count("*").cast("long").alias("n_p"),
        F.sum(F.col("clicked").cast("int")).cast("long").alias("c_p"),
    )
    cells = imp.groupBy("item", "pos").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum(F.col("clicked").cast("int")).cast("long").alias("clk"),
    )
    j = cells.join(F.broadcast(ps), "pos").select(
        "item",
        "cnt",
        "clk",
        F.expr(f"cast(round(cnt * c_p * {MICRO}.0 / n_p) as bigint)").alias("exp_u"),
    )
    return j.groupBy("item").agg(
        F.sum("cnt").cast("long").alias("impressions"),
        F.sum("clk").cast("long").alias("clicks"),
        F.expr(emit_micro("CAST(sum(exp_u) AS DOUBLE)")).alias("expected_clicks"),
        F.when(F.sum("exp_u") == 0, F.lit(None).cast("double"))
        .otherwise(F.round(F.sum("clk").cast("double") * float(MICRO) / F.sum("exp_u"), 6))
        .alias("coec"),
    ).select(
        F.col("item").cast("long").alias("item"),
        "impressions",
        "clicks",
        "expected_clicks",
        "coec",
    )


@query(
    "multitouch_attribution",
    oracle=f"""
    WITH ev AS (
        SELECT event_id, user_id, event_type, epoch_ns(ts) AS tn FROM events
    ), t0 AS (SELECT * FROM ev WHERE event_type <> 'purchase'),
    n1 AS (
        SELECT t0.event_id, t0.user_id, t0.event_type, t0.tn,
               p.event_id AS conv_id, p.tn AS ptn,
               row_number() OVER (PARTITION BY t0.event_id
                                  ORDER BY p.tn, p.event_id) AS rk
        FROM t0 JOIN ev p
          ON p.user_id = t0.user_id AND p.event_type = 'purchase'
         AND (p.tn > t0.tn OR (p.tn = t0.tn AND p.event_id > t0.event_id))
    ), touches AS (
        SELECT event_id, user_id, event_type, tn, conv_id
        FROM n1 WHERE rk = 1 AND ptn - tn <= {_WEEK_NS}
    ), per_conv AS (
        SELECT conv_id, CAST(count(*) AS BIGINT) AS n
        FROM touches GROUP BY conv_id
    ), fl AS (
        SELECT conv_id,
               min(ROW(tn, event_id, event_type)) AS frow,
               max(ROW(tn, event_id, event_type)) AS lrow
        FROM touches GROUP BY conv_id
    ), firsts AS (
        SELECT frow[3] AS touch_type, CAST(count(*) AS BIGINT) AS c FROM fl
        GROUP BY frow[3]
    ), lasts AS (
        SELECT lrow[3] AS touch_type, CAST(count(*) AS BIGINT) AS c FROM fl
        GROUP BY lrow[3]
    ), lin AS (
        SELECT t.event_type AS touch_type,
               CAST(sum(CAST(round({MICRO}.0 * cnt / n) AS BIGINT)) AS BIGINT) AS lin_u
        FROM (SELECT conv_id, event_type, CAST(count(*) AS BIGINT) AS cnt
              FROM touches GROUP BY conv_id, event_type) t
        JOIN per_conv USING (conv_id)
        GROUP BY t.event_type
    ), direct AS (
        SELECT CAST(count(*) AS BIGINT) AS c FROM ev
        WHERE event_type = 'purchase'
          AND event_id NOT IN (SELECT conv_id FROM per_conv)
    ), typed AS (
        SELECT coalesce(f.touch_type, l.touch_type, n.touch_type) AS touch_type,
               coalesce(f.c, 0) AS first_touch,
               coalesce(l.c, 0) AS last_touch,
               {emit_micro('coalesce(n.lin_u, 0)')} AS linear
        FROM firsts f
        FULL OUTER JOIN lasts l USING (touch_type)
        FULL OUTER JOIN lin n USING (touch_type)
    )
    SELECT * FROM typed
    UNION ALL
    SELECT 'direct', c, c, round(CAST(c AS DOUBLE), 6) FROM direct
    """,
)
def multitouch_attribution_q(spark, sf_dir):
    """Multi-touch conversion attribution (first-touch / last-touch /
    linear — the marketing-analytics credit models): every
    non-purchase event attributes to the user's NEXT purchase within
    7 days (one descending window pass computes each event's next
    purchase — the same as-of recurrence as window_funnel, no
    touch x purchase join), then per-conversion first/last structs
    and per-(conversion, type) counts reduce on the SAME conv_id
    partitioning. Linear credit 1/n quantizes to micro-units per
    (conversion, type) cell before the cross-conversion sum, so the
    only float is at emit; purchases with no attributed touch get
    the 'direct' row (LEFT ANTI on bare ids). The oracle replays
    next-purchase choice with a naive theta join."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts_ns"
    )
    w_future = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts_ns").desc(), F.col("event_id").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    st = F.struct("ts_ns", "event_id")
    e2 = ev.select(
        "event_id",
        "user_id",
        "event_type",
        "ts_ns",
        F.min(F.when(F.col("event_type") == "purchase", st)).over(w_future).alias("np"),
    )
    touches = (
        e2.filter(
            (F.col("event_type") != "purchase")
            & F.col("np").isNotNull()
            & (F.col("np.ts_ns") - F.col("ts_ns") <= _WEEK_NS)
        )
        .select(
            F.col("np.event_id").alias("conv_id"),
            "event_type",
            "ts_ns",
            "event_id",
        )
        # touches feeds two aggregation subtrees (per-conv rollup and
        # per-(conv, type) linear cells) — checkpoint so the window
        # pass over events runs ONCE, not once per consumer
        .localCheckpoint(eager=False)
    )
    per_conv = touches.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n"),
        F.min(F.struct("ts_ns", "event_id", "event_type")).alias("frow"),
        F.max(F.struct("ts_ns", "event_id", "event_type")).alias("lrow"),
    ).localCheckpoint(eager=False)
    firsts = per_conv.groupBy(F.col("frow.event_type").alias("touch_type")).agg(
        F.count("*").cast("long").alias("first_touch")
    )
    lasts = per_conv.groupBy(F.col("lrow.event_type").alias("touch_type")).agg(
        F.count("*").cast("long").alias("last_touch")
    )
    lin = (
        touches.groupBy("conv_id", "event_type")
        .agg(F.count("*").cast("long").alias("cnt"))
        .join(per_conv.select("conv_id", "n"), "conv_id")
        .groupBy(F.col("event_type").alias("touch_type"))
        .agg(
            F.sum(F.expr(f"cast(round({MICRO}.0 * cnt / n) as bigint)"))
            .cast("long")
            .alias("lin_u")
        )
    )
    typed = (
        firsts.join(lasts, "touch_type", "full_outer")
        .join(lin, "touch_type", "full_outer")
        .select(
            "touch_type",
            F.coalesce("first_touch", F.lit(0)).cast("long").alias("first_touch"),
            F.coalesce("last_touch", F.lit(0)).cast("long").alias("last_touch"),
            F.expr(emit_micro("coalesce(lin_u, 0)")).alias("linear"),
        )
    )
    direct = (
        ev.filter(F.col("event_type") == "purchase")
        .join(
            per_conv.select(F.col("conv_id").alias("event_id")),
            "event_id",
            "left_anti",
        )
        .agg(F.count("*").cast("long").alias("c"))
        .select(
            F.lit("direct").alias("touch_type"),
            F.col("c").alias("first_touch"),
            F.col("c").alias("last_touch"),
            F.round(F.col("c").cast("double"), 6).alias("linear"),
        )
    )
    return typed.unionByName(direct)


# ---------------------------------------------------------------------------
# Feature-store + sketch + join-planning wave (r5 cont.)
# ---------------------------------------------------------------------------


@query(
    "pit_feature_join",
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
    ), clicks AS (
        SELECT event_id, user_id, epoch_us(ts) AS ts_us
        FROM events WHERE event_type = 'click'
    )
    SELECT k.event_id, k.user_id, k.ts_us,
           CAST(v.version AS BIGINT) AS dim_version,
           round(v.value, 6) AS dim_value
    FROM clicks k LEFT JOIN v
      ON v.user_id = k.user_id
     AND k.ts_us >= v.valid_from_us
     AND (v.valid_to_us IS NULL OR k.ts_us < v.valid_to_us)
    """,
)
def pit_feature_join_q(spark, sf_dir):
    """Point-in-time feature join (the feature-store / training-set
    join that prevents feature leakage: each observation must see the
    dimension version valid AT ITS OWN timestamp, never a later one
    — Feast/Tecton's point-in-time correctness, Kimball's type-2
    lookup): clicks join the SCD2 dimension scd2_intervals builds
    (per-user purchase-value versions). NOT executed as an interval
    join — change rows and observation rows UNION-TAG into one
    (user, ts, tag, id) ordering and a running last(ignorenulls)
    carries the in-effect version onto every observation: ONE window
    pass, zero interval predicates (the as-of recurrence of
    events_asof_attribution applied to dimension versioning; change
    rows sort before same-instant observations so valid_from is
    inclusive, matching the oracle's [from, to) theta join)."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.expr("ts_ns div 1000").alias("ts_us"),
        "event_id",
        "value",
    )
    wl = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    c = (
        u.withColumn("prev", F.lag("value").over(wl))
        .filter(F.col("prev").isNull() | (F.col("value") != F.col("prev")))
        .select(
            "user_id",
            "ts_us",
            "event_id",
            "value",
            F.row_number().over(wl).alias("version"),
        )
    )
    changes = c.select(
        "user_id",
        "ts_us",
        F.lit(0).alias("tag"),
        "event_id",
        F.col("version").cast("long").alias("dim_version"),
        F.col("value").alias("dim_value"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.expr("ts_ns div 1000").alias("ts_us"),
        F.lit(1).alias("tag"),
        "event_id",
        F.lit(None).cast("long").alias("dim_version"),
        F.lit(None).cast("double").alias("dim_value"),
    )
    wa = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "tag", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tagged = changes.unionByName(clicks).select(
        "user_id",
        "ts_us",
        "tag",
        "event_id",
        F.last(F.when(F.col("tag") == 0, F.col("dim_version")), ignorenulls=True)
        .over(wa)
        .alias("cur_version"),
        F.last(F.when(F.col("tag") == 0, F.col("dim_value")), ignorenulls=True)
        .over(wa)
        .alias("cur_value"),
    )
    return tagged.filter(F.col("tag") == 1).select(
        "event_id",
        "user_id",
        "ts_us",
        F.col("cur_version").alias("dim_version"),
        F.round("cur_value", 6).alias("dim_value"),
    )


@query(
    "histogram_quantile_sketch",
    oracle=f"""
    WITH e AS (
        SELECT event_type, {to_micro('value')} AS v_u
        FROM events
    ), st AS (
        SELECT event_type, min(v_u) AS mn, max(v_u) AS mx,
               CAST(count(*) AS BIGINT) AS n,
               list_sort(list(v_u)) AS vs
        FROM e GROUP BY event_type
    ), wd AS (
        SELECT event_type, mn, n, vs, (mx - mn) // 64 + 1 AS width
        FROM st
    ), hist AS (
        SELECT e.event_type, (e.v_u - w.mn) // w.width AS bin,
               CAST(count(*) AS BIGINT) AS cnt
        FROM e JOIN wd w USING (event_type)
        GROUP BY e.event_type, bin
    ), cum AS (
        SELECT event_type, bin, cnt,
               CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS BIGINT) AS cum,
               CAST(coalesce(sum(cnt) OVER (PARTITION BY event_type ORDER BY bin
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        FROM hist
    ), qs AS (
        SELECT c.event_type, q.q, c.bin, c.cnt, c.cum_before, w.mn, w.width, w.n, w.vs,
               (q.q * w.n + 99) // 100 AS target
        FROM cum c
        JOIN wd w USING (event_type)
        CROSS JOIN (VALUES (50), (95), (99)) AS q(q)
        WHERE (q.q * w.n + 99) // 100 <= c.cum
          AND (q.q * w.n + 99) // 100 > c.cum_before
    )
    SELECT event_type, CAST(q AS BIGINT) AS q,
           {emit_micro('mn + bin * width + ((target - cum_before) * width) // cnt')} AS approx,
           {emit_micro('vs[CAST(target AS INTEGER)]')} AS exact,
           {emit_micro('''abs(mn + bin * width + ((target - cum_before) * width) // cnt
                     - vs[CAST(target AS INTEGER)])''')} AS abs_err
    FROM qs
    """,
)
def histogram_quantile_sketch_q(spark, sf_dir):
    """Mergeable equi-width histogram quantile sketch per event type —
    the quantile member of the sketch family (CMS = counts, KMV/HLL =
    distinct, this = quantiles): 64 integer-edged bins per type whose
    counts are ADDITIVE state (partial histograms merge by summing —
    the per-partition/streaming property), p50/p95/p99 read off the
    cumulative histogram with EXACT-INTEGER interpolation (bin lo +
    (rank remainder x width) div count — no float until the display
    division), graded against the exact sorted-selection quantile.
    The whole sketch path is one map-side-combinable groupBy over a
    5x64-bounded frame; the exact tower is the test-scale yardstick
    (approx IS the 100 TB path)."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type", F.expr(to_micro("value")).alias("v_u")
    )
    st = e.groupBy("event_type").agg(
        F.min("v_u").alias("mn"),
        F.max("v_u").alias("mx"),
        F.count("*").cast("long").alias("n"),
        F.sort_array(F.collect_list("v_u")).alias("vs"),
    )
    wd = st.select(
        "event_type", "mn", "n", "vs", F.expr("(mx - mn) div 64 + 1").alias("width")
    )
    hist = (
        e.join(F.broadcast(wd.select("event_type", "mn", "width")), "event_type")
        .groupBy("event_type", F.expr("(v_u - mn) div width").alias("bin"))
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    wcum = Window.partitionBy("event_type").orderBy("bin")
    cum = hist.select(
        "event_type",
        "bin",
        "cnt",
        F.sum("cnt").over(wcum.rowsBetween(Window.unboundedPreceding, 0)).cast("long").alias("cum"),
        F.coalesce(
            F.sum("cnt").over(wcum.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
        )
        .cast("long")
        .alias("cum_before"),
    )
    qlit = spark.createDataFrame([(50,), (95,), (99,)], "q int")
    qs = (
        cum.join(F.broadcast(wd), "event_type")
        .crossJoin(F.broadcast(qlit))
        .withColumn("target", F.expr("(q * n + 99) div 100"))
        .filter(
            (F.col("target") <= F.col("cum")) & (F.col("target") > F.col("cum_before"))
        )
    )
    approx = "mn + bin * width + ((target - cum_before) * width) div cnt"
    exact = "element_at(vs, CAST(target AS INT))"
    return qs.select(
        "event_type",
        F.col("q").cast("long").alias("q"),
        F.expr(emit_micro(approx)).alias("approx"),
        F.expr(emit_micro(exact)).alias("exact"),
        F.expr(emit_micro(f"abs(({approx}) - {exact})")).alias("abs_err"),
    )


@query(
    "broadcast_size_advisor",
    oracle="""
    WITH sizes AS (
        SELECT 'region' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(4 * count(*) + sum(length(r_name) + 4) AS BIGINT) AS est_bytes
        FROM region
        UNION ALL SELECT 'nation', count(*),
               CAST(8 * count(*) + sum(length(n_name) + 4) AS BIGINT) FROM nation
        UNION ALL SELECT 'customer', count(*),
               CAST(20 * count(*) + sum(length(c_name) + 4 + length(c_mktsegment) + 4) AS BIGINT)
        FROM customer
        UNION ALL SELECT 'supplier', count(*),
               CAST(20 * count(*) + sum(length(s_name) + 4) AS BIGINT) FROM supplier
        UNION ALL SELECT 'part', count(*),
               CAST(20 * count(*) + sum(length(p_name) + 4 + length(p_brand) + 4
                                        + length(p_type) + 4) AS BIGINT) FROM part
        UNION ALL SELECT 'orders', count(*),
               CAST(32 * count(*) + sum(length(o_orderstatus) + 4
                                        + length(o_orderpriority) + 4) AS BIGINT)
        FROM orders
        UNION ALL SELECT 'lineitem', count(*),
               CAST(68 * count(*) + sum(length(l_returnflag) + 4
                                        + length(l_linestatus) + 4) AS BIGINT)
        FROM lineitem
        UNION ALL SELECT 'events', count(*),
               CAST(32 * count(*) + sum(length(event_type) + 4
                                        + length(props) + 4) AS BIGINT) FROM events
        UNION ALL SELECT 'documents', count(*),
               CAST(16 * count(*) + sum(length(text) + 4 + length(lang) + 4
                                        + length(source) + 4) AS BIGINT)
        FROM documents
        UNION ALL SELECT 'embeddings', count(*),
               CAST(12 * count(*) + sum(4 * len(embedding) + 4) AS BIGINT)
        FROM embeddings
    )
    SELECT tbl AS collection, n_rows, est_bytes,
           round(CAST(est_bytes AS DOUBLE) / 1048576, 6) AS est_mb,
           est_bytes < 10485760 AS broadcastable
    FROM sizes
    """,
)
def broadcast_size_advisor_q(spark, sf_dir):
    """Broadcast-join planning advisor: per-table IN-MEMORY size
    estimate (the number Catalyst compares against
    autoBroadcastJoinThreshold, which sizes COMPRESSED parquet wrong
    by 3-10x — string-heavy tables blow past the threshold after
    decompression): fixed widths from the resolved schema (8/4 per
    numeric/timestamp, 4-byte overhead per string/array) plus EXACT
    integer sums of variable lengths, one narrow agg per table
    unioned in one plan. The verdict column is the < 10 MiB default
    threshold; at 100 TB this runs on table stats or a hash sample
    and decides which dimension joins get the hint (see §6's
    no-data-proportional-hint rule — this advisor is how the list of
    'fixed-size dims' stays honest as tables grow)."""
    from functools import reduce

    from pyspark.sql import types as T

    from ..sources import TABLES

    parts = []
    for tbl in TABLES:
        df = spark.read.parquet(f"{sf_dir}/{tbl}.parquet")
        fixed = 0
        var_terms = []
        for f in df.schema.fields:
            dt = f.dataType
            if isinstance(dt, T.IntegerType):
                fixed += 4
            elif isinstance(dt, (T.LongType, T.DoubleType, T.TimestampType, T.TimestampNTZType)):
                fixed += 8
            elif isinstance(dt, T.StringType):
                var_terms.append(F.length(F.col(f.name)) + 4)
            elif isinstance(dt, T.ArrayType):
                var_terms.append(F.size(F.col(f.name)) * 4 + 4)
            else:
                raise TypeError(f"unhandled type in {tbl}: {dt}")
        var_sum = (
            F.sum(sum(var_terms[1:], start=var_terms[0]).cast("long"))
            if var_terms
            else F.lit(0)
        )
        parts.append(
            df.agg(
                F.count("*").cast("long").alias("n_rows"),
                var_sum.cast("long").alias("_var"),
            ).select(
                F.lit(tbl).alias("collection"),
                "n_rows",
                (F.lit(fixed) * F.col("n_rows") + F.coalesce("_var", F.lit(0)))
                .cast("long")
                .alias("est_bytes"),
            )
        )
    out = reduce(lambda a, b: a.unionByName(b), parts)
    return out.select(
        "collection",
        "n_rows",
        "est_bytes",
        F.round(F.col("est_bytes").cast("double") / F.lit(1048576), 6).alias("est_mb"),
        (F.col("est_bytes") < 10485760).alias("broadcastable"),
    )


# ---------------------------------------------------------------------------
# Markov removal-effect attribution (r5 cont.)
# ---------------------------------------------------------------------------

_MARKOV_CHANNELS = ("view", "click", "signup", "error")
_MARKOV_K = 24


def _markov_oracle() -> str:
    """Generate the recursive-CTE oracle: 5 scenarios (full + one
    removal per channel) x 5 states iterate 24 absorption steps in
    exact micro-unit integers, so the whole fixed point hash-checks."""
    states = ("start",) + _MARKOV_CHANNELS
    scen = {"f": None}
    for ch in _MARKOV_CHANNELS:
        scen["r" + ch[0]] = ch  # rv, rc, rs, re
    cols = [f"{p}_{s}" for p in scen for s in states]
    zero = ", ".join(f"CAST(0 AS BIGINT) AS {c}" for c in cols)

    # The transition matrix pivots to ONE row of pu_{s}_{t} scalars
    # (<=30 nonzero cells: 5 sources x 6 targets) that the recursion
    # cross-joins; each step is then pure column arithmetic. The
    # earlier correlated-subquery form ((SELECT sum(..) FROM tp WHERE
    # s=..) per state per step) re-ran the full event-window pipeline
    # per probe when DuckDB inlined tp — the sf1 OOM (VERDICT r6
    # "Next round #4") — and DuckDB 1.0 returns WRONG values when tp
    # is declared MATERIALIZED under those correlated probes, so the
    # pivot is the only form that is both scale-bounded and correct.
    targets = _MARKOV_CHANNELS + ("conv", "null")
    pivot_cells = ",\n               ".join(
        f"coalesce(sum(CASE WHEN s = '{s}' AND t = '{t}' THEN pu END), 0)"
        f" AS pu_{s}_{t}"
        for s in states
        for t in targets
    )

    def step(p: str, removed: str | None, s: str) -> str:
        if removed is not None and s == removed:
            return f"CAST(0 AS BIGINT) AS {p}_{s}"
        terms = [f"m.pu_{s}_conv * {MICRO}"]
        for ch in _MARKOV_CHANNELS:
            if removed is None or ch != removed:
                terms.append(f"m.pu_{s}_{ch} * it.{p}_{ch}")
        return f"({' + '.join(terms)}) // {MICRO} AS {p}_{s}"

    steps = ",\n        ".join(
        step(p, rm, s) for p, rm in scen.items() for s in states
    )
    chan_rows = ", ".join(
        f"('{ch}', r{ch[0]}_start)" for ch in _MARKOV_CHANNELS
    )
    return f"""
    WITH RECURSIVE
    ev AS (
        SELECT user_id, epoch_ns(ts) AS tn, event_id,
               CASE WHEN event_type = 'purchase' THEN 'conv'
                    ELSE event_type END AS state,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS isc
        FROM events
    ), je AS (
        SELECT *, coalesce(sum(isc) OVER (
            PARTITION BY user_id ORDER BY tn, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS jid
        FROM ev
    ), pairs AS (
        SELECT coalesce(lag(state) OVER (
                   PARTITION BY user_id, jid ORDER BY tn, event_id),
               'start') AS s,
               state AS t
        FROM je
    ), tails AS (
        SELECT lr[3] AS s, 'null' AS t FROM (
            SELECT user_id, jid, max(ROW(tn, event_id, state)) AS lr,
                   max(isc) AS hasc
            FROM je GROUP BY user_id, jid)
        WHERE hasc = 0
    ), trans AS (
        SELECT s, t, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT * FROM pairs UNION ALL SELECT * FROM tails)
        GROUP BY s, t
    ), tp AS (
        SELECT s, t, (2000000 * c + ns) // (2 * ns) AS pu
        FROM (SELECT s, t, c, sum(c) OVER (PARTITION BY s) AS ns FROM trans)
    ), m AS MATERIALIZED (
        -- one-row pivot of the whole transition matrix; MATERIALIZED
        -- so the recursion's 24 steps read 30 cached scalars instead
        -- of re-running the event-window pipeline per iteration
        SELECT {pivot_cells}
        FROM tp
    ), it AS (
        SELECT 0 AS k, {zero}
        UNION ALL
        SELECT k + 1,
        {steps}
        FROM it, m WHERE k < {_MARKOV_K}
    ), fin AS (SELECT * FROM it WHERE k = {_MARKOV_K}),
    chans AS (
        SELECT c.channel, fin.f_start AS pf_u, c.pr_u
        FROM fin, (SELECT * FROM (VALUES {chan_rows}) AS t(channel, _dummy)) c0,
        LATERAL (SELECT c0.channel AS channel,
                        CASE c0.channel {" ".join(f"WHEN '{ch}' THEN fin.r{ch[0]}_start" for ch in _MARKOV_CHANNELS)} END AS pr_u) c
    ), eff AS (
        SELECT channel,
               {emit_micro('pf_u')} AS p_full,
               {emit_micro('pr_u')} AS p_removed,
               CASE WHEN pf_u = 0 THEN NULL
                    ELSE CAST(pf_u - pr_u AS DOUBLE) / pf_u END AS re_raw
        FROM chans
    )
    SELECT channel, p_full, p_removed, round(re_raw, 6) AS removal_effect,
           CASE WHEN sum(re_raw) OVER () = 0 OR sum(re_raw) OVER () IS NULL
                THEN NULL
                ELSE round(re_raw / sum(re_raw) OVER (), 6) END AS attribution_share
    FROM eff
    """


@query("markov_attribution", oracle=None)  # oracle attached below
def markov_attribution_q(spark, sf_dir):
    """Markov removal-effect attribution (Anderl et al. 2014 — the
    data-driven credit model beside multitouch_attribution's
    heuristics: channel credit = how much absorption probability the
    chain LOSES if the channel's node is deleted): user journeys
    split at conversions into (user, journey) chains, transition
    counts come from one lag pass + per-journey tail rows (two
    windows sharing the user partitioning), and the absorbing-chain
    fixed point runs 24 synchronous steps ENTIRELY IN EXACT
    MICRO-UNIT INTEGERS (transition probs as floor-rounded
    micro-probs, each step an integer dot product in micro-units) — so the
    iteration is order-free and the DuckDB recursive CTE replays it
    bit-for-bit (the prove-the-iteration posture of kmeans_refine /
    knn_graph_pagerank applied to absorption probabilities). The
    state space is bounded by the channel taxonomy, so the fixed
    point itself runs on a ≤49-row matrix collected driver-side
    (bounded-fit posture, like retrieval_mmr's greedy) while every
    data-proportional step stays distributed."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts_ns",
        "event_id",
        F.when(F.col("event_type") == "purchase", "conv")
        .otherwise(F.col("event_type"))
        .alias("state"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("isc"),
    )
    wu = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    je = ev.withColumn(
        "jid",
        F.coalesce(
            F.sum("isc").over(wu.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    )
    wj = Window.partitionBy("user_id", "jid").orderBy("ts_ns", "event_id")
    pairs = je.select(
        F.coalesce(F.lag("state").over(wj), F.lit("start")).alias("s"),
        F.col("state").alias("t"),
    )
    tails = (
        je.groupBy("user_id", "jid")
        .agg(
            F.max(F.struct("ts_ns", "event_id", "state")).alias("lr"),
            F.max("isc").alias("hasc"),
        )
        .filter(F.col("hasc") == 0)
        .select(F.col("lr.state").alias("s"), F.lit("null").alias("t"))
    )
    trans = (
        pairs.unionByName(tails)
        .groupBy("s", "t")
        .agg(F.count("*").cast("long").alias("c"))
        .collect()
    )
    # bounded driver-side fixed point in exact integers
    ns: dict[str, int] = {}
    for r in trans:
        ns[r["s"]] = ns.get(r["s"], 0) + r["c"]
    pu = {(r["s"], r["t"]): (2_000_000 * r["c"] + ns[r["s"]]) // (2 * ns[r["s"]]) for r in trans}
    states = ("start",) + _MARKOV_CHANNELS

    def absorb(removed: str | None) -> int:
        p = {s: 0 for s in states}
        for _ in range(_MARKOV_K):
            newp = {}
            for s in states:
                if removed is not None and s == removed:
                    newp[s] = 0
                    continue
                tot = 0
                for (ss, t), w in pu.items():
                    if ss != s:
                        continue
                    if t == "conv":
                        pt = MICRO
                    elif t == "null" or t == removed:
                        pt = 0
                    else:
                        pt = p.get(t, 0)
                    tot += w * pt
                newp[s] = tot // MICRO
            p = newp
        return p["start"]

    pf = absorb(None)
    rows = []
    effs = {}
    for ch in _MARKOV_CHANNELS:
        pr = absorb(ch)
        effs[ch] = None if pf == 0 else (pf - pr) / pf
        rows.append((ch, pf, pr))
    tot_eff = (
        sum(v for v in effs.values() if v is not None)
        if any(v is not None for v in effs.values())
        else None
    )
    out = []
    for ch, pfv, prv in rows:
        re_raw = effs[ch]
        share = (
            None if re_raw is None or not tot_eff else round6(re_raw / tot_eff)
        )
        out.append(
            (
                ch,
                pfv / MICRO,  # exact micro-units: ≤6 decimals already
                prv / MICRO,
                None if re_raw is None else round6(re_raw),
                share,
            )
        )
    return spark.createDataFrame(
        out,
        "channel string, p_full double, p_removed double, "
        "removal_effect double, attribution_share double",
    )


ORACLES["markov_attribution"] = _markov_oracle()
