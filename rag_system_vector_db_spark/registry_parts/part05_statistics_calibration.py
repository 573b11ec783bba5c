""" (cont.) — mechanical split of registry.py (r6), statements unedited.

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
from .part02_index_build_diag_curation import _knn_graph_edges, _knn_graph_oracle  # noqa: F401
from .part04_experimentation_layout import _classifier_calibration_oracle  # noqa: F401


def _dedup_keep_best_oracle() -> str:
    probs_base = _classifier_calibration_oracle().rsplit(", labels AS", 1)[0]
    return (
        probs_base
        + f""",
    {_DD_SHINGLES}, {_DD_MINHASH_SIG}, {_DD_BANDS},
    cpairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
                    AND a.doc_id < b.doc_id
    ), drops AS (
        SELECT DISTINCT CASE WHEN (pa.prob, -p.doc_a) < (pb.prob, -p.doc_b)
                             THEN p.doc_a ELSE p.doc_b END AS doc_id
        FROM cpairs p
        JOIN probs pa ON pa.doc_id = p.doc_a
        JOIN probs pb ON pb.doc_id = p.doc_b
    ), agg AS (
        SELECT d.source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN dr.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dropped
        FROM documents d LEFT JOIN drops dr ON d.doc_id = dr.doc_id
        GROUP BY d.source
    )
    SELECT source, n_docs, n_dropped,
           CAST(n_docs - n_dropped AS BIGINT) AS n_kept,
           round(CAST(n_dropped AS DOUBLE) / n_docs, 6) AS drop_rate
    FROM agg
    """
    )


@query("dedup_keep_best")  # oracle attached below (weight literals)
def dedup_keep_best_q(spark, sf_dir):
    """Quality-aware near-dup drop policy (the CCNet/RefinedWeb move:
    for every near-dup candidate PAIR, drop the lower-quality side —
    pairwise greedy, no transitive closure, which is exactly what
    web-scale dedup runs ship because full clustering is a luxury):
    MinHash-LSH candidate pairs from the shared banding build join the
    quality scorer's probs on both sides; the loser set is a DISTINCT
    of per-pair argmins (ties break on doc_id so both engines drop the
    SAME doc); per-source keep/drop rates are the curation readout
    feeding corpus_mix. Everything past banding moves (doc_id, prob)
    pairs only."""
    from ..operators import curation, dedup

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.dedup_minhash_lsh(docs).select("doc_a", "doc_b").distinct()
    probs = curation.quality_classifier(docs).select("doc_id", "prob")
    pa = probs.select(F.col("doc_id").alias("doc_a"), F.col("prob").alias("_pa"))
    pb = probs.select(F.col("doc_id").alias("doc_b"), F.col("prob").alias("_pb"))
    drops = (
        pairs.join(pa, "doc_a")
        .join(pb, "doc_b")
        .select(
            F.when(
                (F.col("_pa") < F.col("_pb"))
                | ((F.col("_pa") == F.col("_pb")) & (F.col("doc_a") > F.col("doc_b"))),
                F.col("doc_a"),
            )
            .otherwise(F.col("doc_b"))
            .alias("doc_id")
        )
        .distinct()
        .withColumn("_dropped", F.lit(1))
    )
    agg = (
        docs.select("doc_id", "source")
        .join(drops, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.coalesce("_dropped", F.lit(0))).cast("long").alias("n_dropped"),
        )
    )
    return agg.select(
        "source",
        "n_docs",
        "n_dropped",
        (F.col("n_docs") - F.col("n_dropped")).cast("long").alias("n_kept"),
        F.round(F.col("n_dropped").cast("double") / F.col("n_docs"), 6).alias(
            "drop_rate"
        ),
    )


ORACLES["dedup_keep_best"] = _dedup_keep_best_oracle()


@query(
    "quantile_confidence_bands",
    oracle=f"""
    WITH g AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               list_sort(list({to_micro('value')})) AS vs
        FROM events GROUP BY event_type
    ), q AS (SELECT unnest([0.5, 0.9, 0.99]) AS qq)
    SELECT event_type, qq AS quantile, n,
           {emit_micro('''vs[CAST(greatest(1, CAST(floor(n * qq
                 - 1.959964 * sqrt(n * qq * (1 - qq))) AS BIGINT) + 1) AS INTEGER)]''')} AS ci_lo,
           {emit_micro('vs[CAST(CAST(floor(n * qq) AS BIGINT) + 1 AS INTEGER)]')}
               AS estimate,
           {emit_micro('''vs[CAST(least(n, CAST(ceil(n * qq
                 + 1.959964 * sqrt(n * qq * (1 - qq))) AS BIGINT) + 1) AS INTEGER)]''')} AS ci_hi
    FROM g CROSS JOIN q
    """,
)
def quantile_confidence_bands_q(spark, sf_dir, exact_quantiles: bool = True):
    """Order-statistic confidence bands for p50/p90/p99 per event type
    (the distribution-free binomial CI — the honest error bar for
    latency/value percentiles, no normality assumed): per-type sorted
    micro-unit lists (the same exact sorted-selection frame
    trimmed_mean_stats uses, |type|-bounded), rank bounds
    n·q ± z·√(n·q(1−q)) computed with identical floor/ceil/clamp
    arithmetic on both engines, then three exact list selections per
    type.

    ``exact_quantiles=False`` is the 100 TB path: ONE
    percentile_approx sketch queried at a fixed 1001-point fraction
    grid (bounded per-group state: 1001 longs, vs the row-count-sized
    sorted list), then the per-(type, q) rank bounds are mapped to
    grid fractions q ± z·√(q(1−q)/n) and resolved by array indexing —
    same output contract, sketch-accuracy error bars."""
    ev = load_table(spark, sf_dir, "events")
    if not exact_quantiles:
        grid = [i / 1000 for i in range(1001)]
        g = ev.groupBy("event_type").agg(
            F.count("*").cast("long").alias("n"),
            F.percentile_approx(
                F.expr(to_micro("value")),
                V.lit_array(grid),
                F.lit(10000),
            ).alias("_grid"),
        )
        q = spark.createDataFrame([(0.5,), (0.9,), (0.99,)], "qq double")
        half = "1.959964D * sqrt(qq * (1 - qq) / CAST(n AS DOUBLE))"

        def at(frac):
            idx = f"CAST(round(greatest(0.0D, least(1.0D, {frac})) * 1000) AS INT)"
            return F.expr(emit_micro(f"get(_grid, {idx})"))

        return g.crossJoin(F.broadcast(q)).select(
            "event_type",
            F.col("qq").alias("quantile"),
            "n",
            at(f"qq - {half}").alias("ci_lo"),
            at("qq").alias("estimate"),
            at(f"qq + {half}").alias("ci_hi"),
        )
    g = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sort_array(
            F.collect_list(F.expr(to_micro("value")))
        ).alias("vs"),
    )
    q = spark.createDataFrame([(0.5,), (0.9,), (0.99,)], "qq double")
    nq = "CAST(n AS DOUBLE) * qq"
    spread = "1.959964D * sqrt(CAST(n AS DOUBLE) * qq * (1 - qq))"
    r_lo = f"greatest(CAST(1 AS BIGINT), CAST(floor({nq} - {spread}) AS BIGINT) + 1)"
    r_est = f"CAST(floor({nq}) AS BIGINT) + 1"
    r_hi = f"least(n, CAST(ceil({nq} + {spread}) AS BIGINT) + 1)"

    def at(rank):
        return F.expr(emit_micro(f"element_at(vs, CAST({rank} AS INT))"))

    return g.crossJoin(F.broadcast(q)).select(
        "event_type",
        F.col("qq").alias("quantile"),
        "n",
        at(r_lo).alias("ci_lo"),
        at(r_est).alias("estimate"),
        at(r_hi).alias("ci_hi"),
    )


@query(
    "intraclass_correlation",
    oracle="""
    WITH cl AS (
        SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_i,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS s_i,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)
                        * CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS q_i
        FROM orders GROUP BY o_custkey
    ), t AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(n_i) AS BIGINT) AS nn,
               CAST(sum(s_i) AS BIGINT) AS ss,
               CAST(sum(n_i * n_i) AS BIGINT) AS sn2,
               CAST(sum(CAST(round((CAST(q_i AS DOUBLE)
                    - CAST(s_i AS DOUBLE) * s_i / n_i) / 10000) AS BIGINT)) AS BIGINT)
                   AS ssw_u,
               CAST(sum(CAST(round((CAST(s_i AS DOUBLE) * s_i / n_i) / 10000)
                    AS BIGINT)) AS BIGINT) AS sb_u
        FROM cl
    ), d AS (
        SELECT k, nn,
               (CAST(sb_u AS DOUBLE) - CAST(round((CAST(ss AS DOUBLE) * ss / nn)
                    / 10000) AS BIGINT)) / (k - 1) AS msb,
               CAST(ssw_u AS DOUBLE) / (nn - k) AS msw,
               (CAST(nn AS DOUBLE) - CAST(sn2 AS DOUBLE) / nn) / (k - 1) AS n0
        FROM t
    )
    SELECT k AS n_clusters, nn AS n_rows,
           round(msb, 6) AS ms_between, round(msw, 6) AS ms_within,
           round((msb - msw) / (msb + (n0 - 1) * msw), 6) AS icc,
           round(1 + (CAST(nn AS DOUBLE) / k - 1)
                 * ((msb - msw) / (msb + (n0 - 1) * msw)), 6) AS design_effect
    FROM d
    """,
)
def intraclass_correlation_q(spark, sf_dir):
    """Intraclass correlation + design effect for order values
    clustered by customer (the survey-sampling question behind every
    cluster-sampled estimate: how much does sampling whole customers
    instead of random orders inflate variance? DEFF = 1+(m̄−1)·ICC —
    this calibrates hash_sample vs group_reservoir_sample): one-way
    ANOVA from per-cluster exact cent-unit (n, Σx, Σx²) — ONE fact
    rollup; per-cluster within/between terms quantize to unit-cents²
    so the cluster-frame sums stay order-free; Fisher's ICC from the
    mean squares in identical double arithmetic."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.expr("cast(round(o_totalprice * 100) as bigint)")
    cl = o.groupBy("o_custkey").agg(
        F.count("*").cast("long").alias("n_i"),
        F.sum(cents).cast("long").alias("s_i"),
        F.sum(cents * cents).cast("long").alias("q_i"),
    )
    t = cl.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n_i").cast("long").alias("nn"),
        F.sum("s_i").cast("long").alias("ss"),
        F.sum(F.col("n_i") * F.col("n_i")).cast("long").alias("sn2"),
        F.sum(
            F.expr(
                "cast(round((cast(q_i as double) - cast(s_i as double) * s_i / n_i)"
                " / 10000) as bigint)"
            )
        )
        .cast("long")
        .alias("ssw_u"),
        F.sum(
            F.expr("cast(round((cast(s_i as double) * s_i / n_i) / 10000) as bigint)")
        )
        .cast("long")
        .alias("sb_u"),
    )
    msb = (
        F.col("sb_u").cast("double")
        - F.expr("cast(round((cast(ss as double) * ss / nn) / 10000) as bigint)")
    ) / (F.col("k") - 1)
    msw = F.col("ssw_u").cast("double") / (F.col("nn") - F.col("k"))
    n0 = (F.col("nn").cast("double") - F.col("sn2").cast("double") / F.col("nn")) / (
        F.col("k") - 1
    )
    icc = (msb - msw) / (msb + (n0 - 1) * msw)
    return t.select(
        F.col("k").alias("n_clusters"),
        F.col("nn").alias("n_rows"),
        F.round(msb, 6).alias("ms_between"),
        F.round(msw, 6).alias("ms_within"),
        F.round(icc, 6).alias("icc"),
        F.round(1 + (F.col("nn").cast("double") / F.col("k") - 1) * icc, 6).alias(
            "design_effect"
        ),
    )


def _dedup_threshold_sweep_oracle(sf_dir: str) -> str:
    planes = ann.hyperplanes(ann.lsh_bits_for(sf_dir), 64)
    return f"""
    WITH buckets AS (
        SELECT vec_id, {ann.dd_lsh_bucket('embedding', planes)} AS bucket FROM embeddings
    ), v AS (
        SELECT e.vec_id, e.embedding, b.bucket
        FROM embeddings e JOIN buckets b USING (vec_id)
    ), scored AS (
        SELECT {V.dd_cosine('a.embedding', 'b.embedding')} AS score
        FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ), nv AS (SELECT CAST(count(*) AS BIGINT) AS n_vectors FROM embeddings),
    thr AS (SELECT unnest([0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8]) AS tau)
    SELECT t.tau, nv.n_vectors,
           CAST((SELECT count(*) FROM scored) AS BIGINT) AS n_candidates,
           CAST(sum(CASE WHEN s.score >= t.tau THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_pairs,
           round(CAST(sum(CASE WHEN s.score >= t.tau THEN 1 ELSE 0 END) AS DOUBLE)
                 / nv.n_vectors, 6) AS pairs_per_doc
    FROM scored s CROSS JOIN thr t CROSS JOIN nv
    GROUP BY t.tau, nv.n_vectors
    """


@query("dedup_threshold_sweep")  # oracle: LAZY_ORACLES (plane literals, bits ∝ log N)
def dedup_threshold_sweep_q(spark, sf_dir):
    """Near-dup threshold policy sweep (how aggressive should semantic
    dedup be? — the tuning table a curation team reads before fixing
    dedup_embedding_lsh's tau): same-bucket candidate pairs score
    ONCE; all 7 thresholds are conditional sums over that single
    scored pass (one more threshold = one more counter, not another
    pair join). The pairs-per-doc column is the de-dup pressure
    readout per tau; candidate volume stays bucket-bounded — and the
    bucket COUNT scales with N (lsh_bits_for: bits = log2(N/7.8), so
    expected occupancy is constant and pair volume linear; a fixed
    6-bit table would go quadratic at 10x data)."""
    emb = load_table(spark, sf_dir, "embeddings", split=True)
    planes = ann.hyperplanes(ann.lsh_bits_for(sf_dir), 64)
    v = emb.select(
        "vec_id",
        "embedding",
        ann.lsh_bucket("embedding", planes).alias("_b"),
        F.expr(V.l2_norm("embedding")).alias("_nrm"),
    )
    a, b = v.alias("a"), v.alias("b")
    scored = a.join(
        b, (F.col("a._b") == F.col("b._b")) & (F.col("a.vec_id") < F.col("b.vec_id"))
    ).select(F.expr(V.cosine("a.embedding", "b.embedding", "a._nrm", "b._nrm")).alias("score"))
    nv = load_table(spark, sf_dir, "embeddings").agg(
        F.count("*").cast("long").alias("n_vectors")
    )
    thr = spark.createDataFrame(
        [(0.2,), (0.3,), (0.4,), (0.5,), (0.6,), (0.7,), (0.8,)], "tau double"
    )
    nc = scored.agg(F.count("*").cast("long").alias("n_candidates"))
    return (
        scored.crossJoin(F.broadcast(thr))
        .groupBy("tau")
        .agg(
            F.sum(F.when(F.col("score") >= F.col("tau"), 1).otherwise(0))
            .cast("long")
            .alias("n_dup_pairs")
        )
        .crossJoin(F.broadcast(nv))
        .crossJoin(F.broadcast(nc))
        .select(
            "tau",
            "n_vectors",
            "n_candidates",
            "n_dup_pairs",
            F.round(
                F.col("n_dup_pairs").cast("double") / F.col("n_vectors"), 6
            ).alias("pairs_per_doc"),
        )
    )


LAZY_ORACLES["dedup_threshold_sweep"] = _dedup_threshold_sweep_oracle


@query(
    "embedding_dim_profile",
    oracle=f"""
    WITH d AS (
        SELECT unnest(range(len(embedding))) AS pos,
               {to_micro('unnest(embedding::DOUBLE[])')} AS v_u
        FROM embeddings
    ), g AS (
        SELECT CAST(pos AS BIGINT) AS pos, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(v_u) AS BIGINT) AS s,
               sum(CAST(v_u AS DECIMAL(18,0)) * CAST(v_u AS DECIMAL(18,0))) AS q,
               CAST(min(v_u) AS BIGINT) AS mn, CAST(max(v_u) AS BIGINT) AS mx
        FROM d GROUP BY pos
    )
    SELECT pos, n,
           {emit_micro('CAST(s AS DOUBLE) / n')} AS mean_v,
           round((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1) / 1e12, 6)
               AS variance,
           {emit_micro('mn')} AS min_v,
           {emit_micro('mx')} AS max_v,
           (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1) / 1e12 < 0.0001
               AS near_zero_var
    FROM g
    """,
)
def embedding_dim_profile_q(spark, sf_dir):
    """Per-DIMENSION embedding profile (the feature-screening pass
    before PCA/quantization: dead dimensions waste PQ codebook bits
    and mislead matryoshka truncation — embedding_quality_checks'
    per-vector QA, transposed): posexplode to (pos, value) primitives,
    one map-side-combinable rollup to 64 rows; micro-unit sums are
    exact BIGINTs with DECIMAL accumulation for the squares (overflows
    long at corpus scale), variance/min/max/near-zero flags derive
    from identical arithmetic."""
    emb = load_table(spark, sf_dir, "embeddings", split=True)
    d = emb.select(F.posexplode(F.col("embedding").cast("array<double>"))).select(
        F.col("pos").cast("long").alias("pos"),
        F.expr(to_micro("col")).alias("v_u"),
    )
    g = d.groupBy("pos").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v_u").cast("long").alias("s"),
        F.sum(F.col("v_u").cast("decimal(18,0)") * F.col("v_u").cast("decimal(18,0)"))
        .alias("q"),
        F.min("v_u").cast("long").alias("mn"),
        F.max("v_u").cast("long").alias("mx"),
    )
    var = (
        (F.col("q").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("n"))
        / (F.col("n") - 1)
        / F.lit(1e12)
    )
    return g.select(
        "pos",
        "n",
        F.expr(emit_micro("CAST(s AS DOUBLE) / n")).alias("mean_v"),
        F.round(var, 6).alias("variance"),
        F.expr(emit_micro("mn")).alias("min_v"),
        F.expr(emit_micro("mx")).alias("max_v"),
        (var < 0.0001).alias("near_zero_var"),
    )


@query(
    "eb_rate_shrinkage",
    oracle=f"""
    WITH u AS (
        SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS v,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS c
        FROM events GROUP BY user_id
    ), r AS (
        SELECT user_id, v, c,
               {to_micro('CAST(c AS DOUBLE) / v')} AS r_u
        FROM u WHERE v >= 1
    ), m AS (
        SELECT CAST(count(*) AS BIGINT) AS uu,
               CAST(sum(r_u) AS BIGINT) AS sr,
               CAST(sum(r_u * r_u) AS BIGINT) AS srr
        FROM r
    ), ab AS (
        SELECT uu,
               {from_micro('CAST(sr AS DOUBLE) / uu')} AS mean_r,
               (CAST(srr AS DOUBLE) - CAST(sr AS DOUBLE) * sr / uu)
                   / (uu - 1) / 1e12 AS var_r
        FROM m
    ), k AS (
        SELECT uu, mean_r, var_r,
               CASE WHEN var_r > 0 AND mean_r * (1 - mean_r) / var_r - 1 > 0
                    THEN mean_r * (1 - mean_r) / var_r - 1 ELSE 1.0 END AS kappa
        FROM ab
    )
    SELECT user_id, v AS n_views, c AS n_conversions,
           round(CAST(c AS DOUBLE) / v, 6) AS raw_rate,
           round((CAST(c AS DOUBLE) + k.mean_r * k.kappa)
                 / (CAST(v AS DOUBLE) + k.kappa), 6) AS shrunk_rate,
           round(k.mean_r * k.kappa, 6) AS alpha,
           round((1 - k.mean_r) * k.kappa, 6) AS beta,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
        SELECT r.*, row_number() OVER (ORDER BY v DESC, user_id) AS rnk FROM r
    ) r CROSS JOIN k
    WHERE rnk <= 20
    """,
)
def eb_rate_shrinkage_q(spark, sf_dir):
    """Empirical-Bayes (Beta-Binomial) shrinkage of per-user
    view->purchase rates (the classic fix for 1/1 = 100%% small-sample
    rates that pollute any leaderboard or CTR model): method-of-
    moments alpha/beta from the POPULATION of per-user rates — the
    user rollup is the only fact shuffle; rate moments are exact
    micro-unit integer sums over that frame, and the prior returns as
    one broadcast scalar row. Shrunk rate (c+alpha)/(v+alpha+beta) per
    user; top-20 by volume as the readout. Degenerate variance falls
    back to kappa=1 through the identical CASE on both engines."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("v"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("c"),
    )
    r = u.filter(F.col("v") >= 1).select(
        "user_id",
        "v",
        "c",
        F.expr(to_micro("cast(c as double) / v")).alias("r_u"),
    )
    m = r.agg(
        F.count("*").cast("long").alias("uu"),
        F.sum("r_u").cast("long").alias("sr"),
        F.sum(F.col("r_u") * F.col("r_u")).cast("long").alias("srr"),
    )
    mean_r = F.expr(from_micro("CAST(sr AS DOUBLE) / uu"))
    var_r = (
        (F.col("srr").cast("double") - F.col("sr").cast("double") * F.col("sr") / F.col("uu"))
        / (F.col("uu") - 1)
        / F.lit(1e12)
    )
    k = m.select(
        mean_r.alias("mean_r"),
        F.when(
            (var_r > 0) & (mean_r * (1 - mean_r) / var_r - 1 > 0),
            mean_r * (1 - mean_r) / var_r - 1,
        )
        .otherwise(F.lit(1.0))
        .alias("kappa"),
    )
    ranked = r.withColumn(
        "rnk",
        F.row_number()
        .over(Window.orderBy(F.col("v").desc(), "user_id"))
        .cast("long"),
    ).filter(F.col("rnk") <= 20)
    return ranked.crossJoin(F.broadcast(k)).select(
        "user_id",
        F.col("v").alias("n_views"),
        F.col("c").alias("n_conversions"),
        F.round(F.col("c").cast("double") / F.col("v"), 6).alias("raw_rate"),
        F.round(
            (F.col("c").cast("double") + F.col("mean_r") * F.col("kappa"))
            / (F.col("v").cast("double") + F.col("kappa")),
            6,
        ).alias("shrunk_rate"),
        F.round(F.col("mean_r") * F.col("kappa"), 6).alias("alpha"),
        F.round((1 - F.col("mean_r")) * F.col("kappa"), 6).alias("beta"),
        "rnk",
    )


@query(
    "simpson_paradox_check",
    oracle="""
    WITH d AS (
        SELECT n.n_name,
               CAST(round(l.l_discount * 100) AS BIGINT) AS x,
               CAST(round(l.l_quantity) AS BIGINT) AS y
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
    ), s AS (
        SELECT n_name, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy
        FROM d GROUP BY n_name
    ), w AS (
        SELECT n_name, n, sx, sy, sxx, sxy,
               CAST(sum(n) OVER () AS BIGINT) AS tn,
               CAST(sum(sx) OVER () AS BIGINT) AS tsx,
               CAST(sum(sy) OVER () AS BIGINT) AS tsy,
               CAST(sum(sxx) OVER () AS BIGINT) AS tsxx,
               CAST(sum(sxy) OVER () AS BIGINT) AS tsxy
        FROM s
    )
    SELECT n_name, n,
           round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6) AS slope,
           round((CAST(tn AS DOUBLE) * tsxy - CAST(tsx AS DOUBLE) * tsy)
                 / (CAST(tn AS DOUBLE) * tsxx - CAST(tsx AS DOUBLE) * tsx), 6)
               AS pooled_slope,
           ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) *
            (CAST(tn AS DOUBLE) * tsxy - CAST(tsx AS DOUBLE) * tsy)) < 0 AS sign_flip
    FROM w
    """,
)
def simpson_paradox_check_q(spark, sf_dir):
    """Simpson's-paradox screen for the discount->quantity relationship
    (does any nation's within-segment slope run OPPOSITE to the pooled
    slope? the aggregation trap every metrics review must rule out
    before acting on a pooled trend): per-nation OLS moments from ONE
    rollup (grouped_ols_slopes' frame), the POOLED moments derived by
    window-summing that same 25-row frame — no second fact scan; the
    sign_flip flag compares the two slope numerators under identical
    arithmetic."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    d = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            "n_name",
            F.expr("cast(round(l_discount * 100) as bigint)").alias("x"),
            F.expr("cast(round(l_quantity) as bigint)").alias("y"),
        )
    )
    s = d.groupBy("n_name").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    wa = Window.partitionBy()
    w = s.select(
        "*",
        F.sum("n").over(wa).cast("long").alias("tn"),
        F.sum("sx").over(wa).cast("long").alias("tsx"),
        F.sum("sy").over(wa).cast("long").alias("tsy"),
        F.sum("sxx").over(wa).cast("long").alias("tsxx"),
        F.sum("sxy").over(wa).cast("long").alias("tsxy"),
    )
    nd = F.col("n").cast("double")
    gnum = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    gden = nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    td = F.col("tn").cast("double")
    pnum = td * F.col("tsxy") - F.col("tsx").cast("double") * F.col("tsy")
    pden = td * F.col("tsxx") - F.col("tsx").cast("double") * F.col("tsx")
    return w.select(
        "n_name",
        "n",
        F.round(gnum / gden, 6).alias("slope"),
        F.round(pnum / pden, 6).alias("pooled_slope"),
        ((gnum * pnum) < 0).alias("sign_flip"),
    )


@query(
    "bloom_filter_sizing",
    oracle="""
    WITH n AS (
        SELECT CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_keys FROM documents
    ), t AS (SELECT unnest([0.01, 0.001, 0.0001]) AS target_fpr)
    SELECT t.target_fpr, n.n_keys,
           CAST(ceil(-CAST(n.n_keys AS DOUBLE) * ln(t.target_fpr)
                     / pow(ln(2.0), 2)) AS BIGINT) AS m_bits,
           round(ceil(-CAST(n.n_keys AS DOUBLE) * ln(t.target_fpr)
                      / pow(ln(2.0), 2)) / 8388608, 6) AS mib,
           CAST(greatest(1, CAST(round(ceil(-CAST(n.n_keys AS DOUBLE) * ln(t.target_fpr)
                / pow(ln(2.0), 2)) / n.n_keys * ln(2.0)) AS BIGINT)) AS BIGINT)
               AS k_hashes,
           round(pow(1 - exp(-greatest(1, CAST(round(ceil(-CAST(n.n_keys AS DOUBLE)
                     * ln(t.target_fpr) / pow(ln(2.0), 2)) / n.n_keys * ln(2.0))
                     AS BIGINT)) * CAST(n.n_keys AS DOUBLE)
                     / ceil(-CAST(n.n_keys AS DOUBLE) * ln(t.target_fpr)
                            / pow(ln(2.0), 2))),
               greatest(1, CAST(round(ceil(-CAST(n.n_keys AS DOUBLE) * ln(t.target_fpr)
                     / pow(ln(2.0), 2)) / n.n_keys * ln(2.0)) AS BIGINT))), 6)
               AS actual_fpr
    FROM n CROSS JOIN t
    """,
)
def bloom_filter_sizing_q(spark, sf_dir):
    """Bloom filter capacity planning for the dedup-at-the-door path
    (bloom_dedup_probe MEASURES a filter; this SIZES one): optimal
    m = -n·ln(p)/ln²2 bits and k = (m/n)·ln2 hashes for target FPRs,
    plus the realized FPR (1-e^(-kn/m))^k — the incremental_dedup /
    streaming_corpus_dedup front-door budget. The key count is one
    distinct-hash aggregate (HLL-swappable at 100 TB); the sizing
    table is pure literal math over that scalar, identical on both
    engines."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.agg(F.count_distinct(F.md5("text")).cast("long").alias("n_keys"))
    t = spark.createDataFrame([(0.01,), (0.001,), (0.0001,)], "target_fpr double")
    nd = F.col("n_keys").cast("double")
    ln2 = F.log(F.lit(2.0))
    m_bits = F.ceil(-nd * F.log(F.col("target_fpr")) / F.pow(ln2, F.lit(2.0)))
    k_hashes = F.greatest(
        F.lit(1).cast("long"),
        F.round(F.try_divide(m_bits, F.col("n_keys")) * ln2, 0).cast("long"),
    )
    actual = F.pow(
        1 - F.exp(F.try_divide(-k_hashes.cast("double") * nd, m_bits)), k_hashes.cast("double")
    )
    return n.crossJoin(F.broadcast(t)).select(
        "target_fpr",
        "n_keys",
        m_bits.cast("long").alias("m_bits"),
        F.round(m_bits / F.lit(8388608), 6).alias("mib"),
        k_hashes.alias("k_hashes"),
        F.round(actual, 6).alias("actual_fpr"),
    )


def _recall_sweep_oracle(sf_dir: str) -> str:
    from .part01_vector_chunk_text_dedup_rag_ann import _sized_planes4

    planes = _sized_planes4(sf_dir)
    return f"""
    WITH buckets AS (
        SELECT vec_id, {ann.dd_lsh_bucket('embedding', planes)} AS bucket FROM embeddings
    ), q AS (
        SELECT e.vec_id AS query_id, e.embedding AS query_vec, b.bucket
        FROM embeddings e JOIN buckets b USING (vec_id) WHERE e.vec_id < 20
    ), c AS (
        SELECT e.vec_id, e.embedding, b.bucket
        FROM embeddings e JOIN buckets b USING (vec_id)
    ), annr AS (
        SELECT query_id, vec_id, rnk FROM (
            SELECT q.query_id, c.vec_id,
                   row_number() OVER (PARTITION BY q.query_id
                       ORDER BY {V.dd_cosine('c.embedding', 'q.query_vec')} DESC,
                                c.vec_id) AS rnk
            FROM c JOIN q ON c.bucket = q.bucket
        ) WHERE rnk <= 20
    ), bfr AS (
        SELECT query_id, vec_id, rnk FROM (
            SELECT q.query_id, e.vec_id,
                   row_number() OVER (PARTITION BY q.query_id
                       ORDER BY {V.dd_cosine('e.embedding', 'q.query_vec')} DESC,
                                e.vec_id) AS rnk
            FROM embeddings e CROSS JOIN q
        ) WHERE rnk <= 20
    ), j AS (
        SELECT a.query_id, a.rnk AS r_ann, b.rnk AS r_bf
        FROM annr a JOIN bfr b ON a.query_id = b.query_id AND a.vec_id = b.vec_id
    ), nq AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries FROM q),
    ks AS (SELECT unnest([1, 5, 10, 20]) AS k)
    SELECT CAST(ks.k AS BIGINT) AS k, nq.n_queries,
           CAST(sum(CASE WHEN j.r_ann <= ks.k AND j.r_bf <= ks.k
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           round(CAST(sum(CASE WHEN j.r_ann <= ks.k AND j.r_bf <= ks.k
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / (nq.n_queries * ks.k), 6) AS mean_recall
    FROM j CROSS JOIN ks CROSS JOIN nq
    GROUP BY ks.k, nq.n_queries
    """


@query("recall_at_k_sweep")  # oracle attached below (plane literals)
def recall_at_k_sweep_q(spark, sf_dir):
    """Recall@k across a k-grid for single-probe LSH vs exact top-20
    (ann_recall_at_k fixes k=10; the CUTOFF-sensitivity view shows
    whether the probe budget holds as the serving k grows — the table
    that decides k before rerank_two_stage's depth): the ANN and
    brute-force rankings compute ONCE to depth 20; the rank-pair join
    is (queries x <=20)-bounded and every k in the grid is a
    conditional sum over that joined frame — 4 cutoffs, zero extra
    retrieval passes."""
    from .part01_vector_chunk_text_dedup_rag_ann import _sized_planes4

    emb = load_table(spark, sf_dir, "embeddings", split=True)
    planes = _sized_planes4(sf_dir)
    queries = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    annr = ann.ann_lsh_topk(emb, queries, planes, k=20).select(
        "query_id", "vec_id", F.col("rank").alias("r_ann")
    )
    bfr = knn.topk_batch(load_table(spark, sf_dir, "embeddings"), queries, k=20).select(
        "query_id", "vec_id", F.col("rank").alias("r_bf")
    )
    j = annr.join(bfr, ["query_id", "vec_id"])
    nq = queries.agg(F.count_distinct("query_id").cast("long").alias("n_queries"))
    ks = spark.createDataFrame([(1,), (5,), (10,), (20,)], "k long")
    return (
        j.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.sum(
                F.when((F.col("r_ann") <= F.col("k")) & (F.col("r_bf") <= F.col("k")), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("n_hits")
        )
        .crossJoin(F.broadcast(nq))
        .select(
            "k",
            "n_queries",
            "n_hits",
            F.round(
                F.col("n_hits").cast("double") / (F.col("n_queries") * F.col("k")), 6
            ).alias("mean_recall"),
        )
    )


LAZY_ORACLES["recall_at_k_sweep"] = _recall_sweep_oracle


def _uncertainty_sampling_oracle() -> str:
    base = _classifier_calibration_oracle().rsplit(", labels AS", 1)[0]
    return (
        base
        + """
    SELECT p.doc_id, d.source, round(p.prob, 6) AS prob,
           round(abs(p.prob - 0.5), 6) AS margin,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
        SELECT doc_id, prob,
               row_number() OVER (ORDER BY abs(prob - 0.5), doc_id) AS rnk
        FROM probs
    ) p JOIN documents d USING (doc_id)
    WHERE rnk <= 20
    """
    )


@query("uncertainty_sampling", oracle=None)  # oracle attached below
def uncertainty_sampling_q(spark, sf_dir):
    """Active-learning batch selection: the 20 documents the quality
    scorer is LEAST sure about (|prob - 0.5| margin, deterministic
    ties) — the annotation queue that improves the classifier fastest
    per label (uncertainty sampling, Lewis & Gale '94). One classifier
    pass; the margin ranking is a TakeOrdered-shaped top-k, and source
    metadata joins back for the 20 winners only — the same
    winners-only fetch posture as snippet_extraction."""
    from ..operators import curation

    docs = load_table(spark, sf_dir, "documents", split=True)
    probs = curation.quality_classifier(docs).select("doc_id", "prob")
    ranked = probs.withColumn(
        "rnk",
        F.row_number()
        .over(Window.orderBy(F.abs(F.col("prob") - 0.5), "doc_id"))
        .cast("long"),
    ).filter(F.col("rnk") <= 20)
    return ranked.join(
        load_table(spark, sf_dir, "documents").select("doc_id", "source"), "doc_id"
    ).select(
        "doc_id",
        "source",
        F.round("prob", 6).alias("prob"),
        F.round(F.abs(F.col("prob") - 0.5), 6).alias("margin"),
        "rnk",
    )


ORACLES["uncertainty_sampling"] = _uncertainty_sampling_oracle()


@query(
    "source_ngram_similarity",
    oracle="""
    WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
    ), grams AS (
        SELECT source, substr(term, 1, 3) AS g, CAST(count(*) AS BIGINT) AS c
        FROM toks WHERE term <> '' GROUP BY source, substr(term, 1, 3)
    ), norms AS (
        SELECT source, sqrt(CAST(sum(c * c) AS DOUBLE)) AS nrm FROM grams GROUP BY source
    ), pairs AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(sum(a.c * b.c) AS BIGINT) AS dot
        FROM grams a JOIN grams b ON a.g = b.g AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT p.source_a, p.source_b,
           round(CAST(p.dot AS DOUBLE) / (na.nrm * nb.nrm), 6) AS cosine_sim
    FROM pairs p
    JOIN norms na ON p.source_a = na.source
    JOIN norms nb ON p.source_b = nb.source
    """,
)
def source_ngram_similarity_q(spark, sf_dir):
    """Character-trigram-prefix profile similarity between sources
    (the stylometric 'are these feeds the same kind of text?' matrix —
    lang_id classifies rows, THIS compares whole slices;
    cross_source_duplication finds copies, this finds stylistic kin):
    per-source gram counts collapse map-side to a |sources|x|grams|
    frame; the pairwise dot joins on the gram key (bounded by gram
    vocabulary, never data volume) and norms come from exact integer
    sum-of-squares. Cosine from exact BIGINTs at emit."""
    docs = load_table(spark, sf_dir, "documents", split=True)
    grams = (
        docs.select("source", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("source", F.substring("term", 1, 3).alias("g"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    norms = grams.groupBy("source").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c")).cast("double")).alias("nrm")
    )
    a, b = grams.alias("a"), grams.alias("b")
    pairs = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.sum(F.col("a.c") * F.col("b.c")).cast("long").alias("dot"))
    )
    na = norms.select(F.col("source").alias("source_a"), F.col("nrm").alias("_na"))
    nb = norms.select(F.col("source").alias("source_b"), F.col("nrm").alias("_nb"))
    return (
        pairs.join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.round(F.col("dot").cast("double") / (F.col("_na") * F.col("_nb")), 6).alias(
                "cosine_sim"
            ),
        )
    )


@query(
    "seasonal_residual_anomaly",
    oracle=f"""
    WITH m AS (
        SELECT (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS month_id,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
        FROM orders GROUP BY month_id
    ), tr AS (
        SELECT month_id, rev_c,
               CAST(sum(rev_c) OVER w AS BIGINT) AS win_sum,
               CAST(count(*) OVER w AS BIGINT) AS win_n
        FROM m
        WINDOW w AS (ORDER BY month_id ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING)
    ), dt AS (
        SELECT month_id, rev_c,
               CAST(rev_c AS DOUBLE) / 100 - CAST(win_sum AS DOUBLE) / 13 / 100
                   AS detrended
        FROM tr WHERE win_n = 13
    ), si AS (
        SELECT month_id % 12 AS moy,
               CAST(sum({to_micro('detrended')}) AS BIGINT) AS s_u,
               CAST(count(*) AS BIGINT) AS n
        FROM dt GROUP BY month_id % 12
    ), res AS (
        SELECT d.month_id,
               {to_micro('d.detrended')}
               - CAST(round(CAST(s.s_u AS DOUBLE) / s.n) AS BIGINT) AS r_u
        FROM dt d JOIN si s ON d.month_id % 12 = s.moy
    ), med AS (
        SELECT list_sort(list(r_u)) AS vs, CAST(count(*) AS BIGINT) AS n FROM res
    ), m0 AS (
        SELECT vs[CAST(n // 2 AS INTEGER) + 1] AS med_u FROM med
    ), mad AS (
        SELECT list_sort(list(abs(r.r_u - m0.med_u))) AS avs,
               CAST(count(*) AS BIGINT) AS n
        FROM res r CROSS JOIN m0 GROUP BY ALL
    ), mad0 AS (
        SELECT avs[CAST(n // 2 AS INTEGER) + 1] AS mad_u FROM mad
    )
    SELECT CAST(r.month_id AS BIGINT) AS month_id,
           {emit_micro('r.r_u')} AS residual,
           {emit_micro('m0.med_u')} AS res_median,
           {emit_micro('mad0.mad_u')} AS res_mad,
           abs(r.r_u - m0.med_u) > 3 * mad0.mad_u AS is_anomaly
    FROM res r CROSS JOIN m0 CROSS JOIN mad0
    """,
)
def seasonal_residual_anomaly_q(spark, sf_dir):
    """Anomaly detection on the SEASONALLY-ADJUSTED series (the
    decompose->detect loop closed: a raw-value detector fires every
    December; flagging |residual − median| > 3·MAD only fires when a
    month breaks its OWN seasonal pattern — events_anomaly_mad's
    robust rule applied to seasonal_decompose's residuals): residuals
    in exact micro-units, median and MAD by exact sorted selection
    over the month-bounded frame, the threshold compare entirely in
    integers."""
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
    w = Window.orderBy("month_id").rowsBetween(-6, 6)
    tr = m.select(
        "month_id",
        "rev_c",
        F.sum("rev_c").over(w).cast("long").alias("win_sum"),
        F.count("*").over(w).cast("long").alias("win_n"),
    )
    dt = tr.filter(F.col("win_n") == 13).select(
        "month_id",
        (
            F.col("rev_c").cast("double") / 100
            - F.col("win_sum").cast("double") / 13 / 100
        ).alias("detrended"),
    )
    si = dt.groupBy((F.col("month_id") % 12).alias("moy")).agg(
        F.sum(F.expr(to_micro("detrended")))
        .cast("long")
        .alias("s_u"),
        F.count("*").cast("long").alias("n"),
    )
    res = (
        dt.join(F.broadcast(si), F.col("month_id") % 12 == F.col("moy"))
        .select(
            "month_id",
            (
                F.expr(to_micro("detrended"))
                - F.expr("cast(round(cast(s_u as double) / n) as bigint)")
            ).alias("r_u"),
        )
    )
    med = res.agg(
        F.sort_array(F.collect_list("r_u")).alias("vs"),
        F.count("*").cast("long").alias("n"),
    ).select(
        F.element_at("vs", (F.expr("n div 2") + 1).cast("int")).alias("med_u")
    )
    wm = res.crossJoin(F.broadcast(med))
    mad = wm.agg(
        F.sort_array(F.collect_list(F.abs(F.col("r_u") - F.col("med_u")))).alias("avs"),
        F.count("*").cast("long").alias("n"),
    ).select(
        F.element_at("avs", (F.expr("n div 2") + 1).cast("int")).alias("mad_u")
    )
    return (
        wm.crossJoin(F.broadcast(mad))
        .select(
            F.col("month_id").cast("long"),
            F.expr(emit_micro("r_u")).alias("residual"),
            F.expr(emit_micro("med_u")).alias("res_median"),
            F.expr(emit_micro("mad_u")).alias("res_mad"),
            (F.abs(F.col("r_u") - F.col("med_u")) > 3 * F.col("mad_u")).alias(
                "is_anomaly"
            ),
        )
    )


@query(
    "lorenz_curve_points",
    oracle="""
    WITH c AS (
        SELECT o_custkey,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS spend_c
        FROM orders GROUP BY o_custkey
    ), r AS (
        SELECT spend_c,
               ntile(10) OVER (ORDER BY spend_c, o_custkey) AS decile
        FROM c
    ), g AS (
        SELECT CAST(decile AS BIGINT) AS decile,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(spend_c) AS BIGINT) AS spend_dec
        FROM r GROUP BY decile
    )
    SELECT decile, n_customers,
           round(CAST(spend_dec AS DOUBLE) / 100, 6) AS decile_spend,
           round(CAST(sum(spend_dec) OVER (ORDER BY decile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                 / sum(spend_dec) OVER (), 6) AS cum_share
    FROM g
    """,
)
def lorenz_curve_points_q(spark, sf_dir):
    """Lorenz curve deciles of customer spend (the plot behind
    revenue_concentration's Gini — 'the bottom 50%% of customers hold
    X%% of revenue'): one fact rollup to per-customer exact cents,
    ntile(10) on a fully deterministic (spend, custkey) order, then
    cumulative shares from exact integer sums over the 10-row frame.
    The decile ranking is the only customer-frame window; everything
    after is bounded."""
    o = load_table(spark, sf_dir, "orders")
    c = o.groupBy("o_custkey").agg(
        F.sum(F.expr("cast(round(o_totalprice * 100) as bigint)"))
        .cast("long")
        .alias("spend_c")
    )
    r = c.select(
        "spend_c",
        F.ntile(10).over(Window.orderBy("spend_c", "o_custkey")).alias("decile"),
    )
    g = r.groupBy(F.col("decile").cast("long").alias("decile")).agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum("spend_c").cast("long").alias("spend_dec"),
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return g.select(
        "decile",
        "n_customers",
        F.round(F.col("spend_dec").cast("double") / 100, 6).alias("decile_spend"),
        F.round(
            F.sum("spend_dec").over(wc).cast("double")
            / F.sum("spend_dec").over(Window.partitionBy()),
            6,
        ).alias("cum_share"),
    )


@query(
    "partition_scheme_advisor",
    oracle="""
    WITH d AS (
        SELECT epoch_ns(ts) // 86400000000000 AS day, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY day
    ), schemes AS (
        SELECT 'daily' AS scheme, day AS part_id, n FROM d
        UNION ALL
        SELECT 'weekly', day // 7, n FROM d
        UNION ALL
        SELECT 'monthly', day // 30, n FROM d
    ), p AS (
        SELECT scheme, part_id, CAST(sum(n) AS BIGINT) AS rows_in_part
        FROM schemes GROUP BY scheme, part_id
    )
    SELECT scheme,
           CAST(count(*) AS BIGINT) AS n_partitions,
           CAST(min(rows_in_part) AS BIGINT) AS min_rows,
           CAST(max(rows_in_part) AS BIGINT) AS max_rows,
           round(CAST(sum(rows_in_part) AS DOUBLE) / count(*), 6) AS mean_rows,
           CAST(sum(CASE WHEN rows_in_part < 1000 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_undersized,
           round(CAST(sum(CASE WHEN rows_in_part < 1000 THEN rows_in_part ELSE 0 END)
                 AS DOUBLE) / sum(rows_in_part), 6) AS undersized_row_frac
    FROM p GROUP BY scheme
    """,
)
def partition_scheme_advisor_q(spark, sf_dir):
    """Time-partition granularity advisor (daily vs weekly vs monthly
    event partitions — the small-files question every lakehouse table
    answers at creation; partition_plan_sim sizes HASH buckets, this
    sizes TIME partitions): the stream collapses to day counts once,
    all three schemes are rollups of that bounded frame, and the
    undersized-partition count/row-fraction (here <1000 rows standing
    in for <128 MB files) is the compaction-pressure readout
    compaction_plan would then act on."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(F.expr("ts_ns div 86400000000000").alias("day")).agg(
        F.count("*").cast("long").alias("n")
    )
    schemes = (
        d.select(F.lit("daily").alias("scheme"), F.col("day").alias("part_id"), "n")
        .unionByName(
            d.select(
                F.lit("weekly").alias("scheme"),
                F.expr("day div 7").alias("part_id"),
                "n",
            )
        )
        .unionByName(
            d.select(
                F.lit("monthly").alias("scheme"),
                F.expr("day div 30").alias("part_id"),
                "n",
            )
        )
    )
    p = schemes.groupBy("scheme", "part_id").agg(
        F.sum("n").cast("long").alias("rows_in_part")
    )
    return p.groupBy("scheme").agg(
        F.count("*").cast("long").alias("n_partitions"),
        F.min("rows_in_part").cast("long").alias("min_rows"),
        F.max("rows_in_part").cast("long").alias("max_rows"),
        F.round(F.sum("rows_in_part").cast("double") / F.count("*"), 6).alias(
            "mean_rows"
        ),
        F.sum(F.when(F.col("rows_in_part") < 1000, 1).otherwise(0))
        .cast("long")
        .alias("n_undersized"),
        F.round(
            F.sum(
                F.when(F.col("rows_in_part") < 1000, F.col("rows_in_part")).otherwise(0)
            ).cast("double")
            / F.sum("rows_in_part"),
            6,
        ).alias("undersized_row_frac"),
    )


@query(
    "cache_hit_rate_plan",
    oracle="""
    WITH k AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY user_id
    ), r AS (
        SELECT n, CAST(row_number() OVER (ORDER BY n DESC, user_id) AS BIGINT) AS rnk
        FROM k
    ), tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS n_keys
        FROM k
    ), sizes AS (SELECT unnest([10, 50, 100, 500]) AS cache_size)
    SELECT CAST(s.cache_size AS BIGINT) AS cache_size, t.n_keys,
           CAST(sum(CASE WHEN r.rnk <= s.cache_size THEN r.n ELSE 0 END) AS BIGINT)
               AS hits,
           round(CAST(sum(CASE WHEN r.rnk <= s.cache_size THEN r.n ELSE 0 END)
                 AS DOUBLE) / t.total, 6) AS hit_rate
    FROM r CROSS JOIN sizes s CROSS JOIN tot t
    GROUP BY s.cache_size, t.n_keys, t.total
    """,
)
def cache_hit_rate_plan_q(spark, sf_dir):
    """Hot-key cache sizing (what hit rate does a k-entry cache of the
    hottest users buy? — the memoization-layer planning readout next
    to skew_profile's diagnosis): per-key counts in one rollup,
    frequency ranking on the key frame with deterministic ties, and
    each candidate cache size is a conditional sum over that ranked
    frame — the whole size grid costs one aggregate. A perfect-LFU
    upper bound by construction (docstring'd as such: real LRU serves
    less)."""
    ev = load_table(spark, sf_dir, "events")
    k = ev.groupBy("user_id").agg(F.count("*").cast("long").alias("n"))
    r = k.select(
        "n",
        F.row_number()
        .over(Window.orderBy(F.col("n").desc(), "user_id"))
        .cast("long")
        .alias("rnk"),
    )
    tot = k.agg(
        F.sum("n").cast("long").alias("total"),
        F.count("*").cast("long").alias("n_keys"),
    )
    sizes = spark.createDataFrame([(10,), (50,), (100,), (500,)], "cache_size long")
    return (
        r.crossJoin(F.broadcast(sizes))
        .groupBy("cache_size")
        .agg(
            F.sum(F.when(F.col("rnk") <= F.col("cache_size"), F.col("n")).otherwise(0))
            .cast("long")
            .alias("hits")
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "cache_size",
            "n_keys",
            "hits",
            F.round(F.col("hits").cast("double") / F.col("total"), 6).alias("hit_rate"),
        )
    )


@query(
    "paired_ttest_users",
    oracle=f"""
    WITH b AS (
        SELECT (min(epoch_ns(ts)) + max(epoch_ns(ts))) // 2 AS cut FROM events
    ), u AS (
        SELECT user_id,
               CAST(sum(CASE WHEN epoch_ns(ts) <= b.cut THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(sum(CASE WHEN epoch_ns(ts) <= b.cut THEN 0 ELSE 1 END) AS BIGINT) AS n2,
               CAST(sum(CASE WHEN epoch_ns(ts) <= b.cut
                             THEN {to_micro('value')}
                             ELSE 0 END) AS BIGINT) AS s1,
               CAST(sum(CASE WHEN epoch_ns(ts) <= b.cut THEN 0
                             ELSE {to_micro('value')} END) AS BIGINT) AS s2
        FROM events, b GROUP BY user_id
    ), d AS (
        SELECT CAST(round(CAST(s2 AS DOUBLE) / n2 - CAST(s1 AS DOUBLE) / n1)
                    AS BIGINT) AS d_u
        FROM u WHERE n1 > 0 AND n2 > 0
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(d_u) AS BIGINT) AS sd,
               CAST(sum(d_u * d_u) AS BIGINT) AS sdd
        FROM d
    )
    SELECT n AS n_pairs,
           {emit_micro('CAST(sd AS DOUBLE) / n')} AS mean_diff,
           round((CAST(sd AS DOUBLE) / n)
                 / sqrt(((CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * sd / n) / (n - 1))
                        / n), 6) AS t_stat
    FROM s
    """,
)
def paired_ttest_users_q(spark, sf_dir):
    """PAIRED t-test on per-user mean event values across the midpoint
    cutover (each user is their own control — pairing removes
    between-user variance, which is why this detects shifts
    ab_welch_ttest's unpaired test washes out): one conditional
    aggregate builds each user's pre/post exact micro-unit sums; only
    users active in BOTH windows pair; per-user differences quantize
    to micro-units so the t-statistic derives from exact integer
    moments over the user frame."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(F.expr("(min(ts_ns) + max(ts_ns)) div 2").alias("cut"))
    v_u = to_micro("value")
    u = ev.crossJoin(F.broadcast(b)).groupBy("user_id").agg(
        F.sum(F.when(F.col("ts_ns") <= F.col("cut"), 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("ts_ns") <= F.col("cut"), 0).otherwise(1))
        .cast("long")
        .alias("n2"),
        F.sum(F.when(F.col("ts_ns") <= F.col("cut"), F.expr(v_u)).otherwise(0))
        .cast("long")
        .alias("s1"),
        F.sum(F.when(F.col("ts_ns") <= F.col("cut"), 0).otherwise(F.expr(v_u)))
        .cast("long")
        .alias("s2"),
    )
    d = u.filter((F.col("n1") > 0) & (F.col("n2") > 0)).select(
        F.expr(
            "cast(round(cast(s2 as double) / n2 - cast(s1 as double) / n1) as bigint)"
        ).alias("d_u")
    )
    s = d.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("d_u").cast("long").alias("sd"),
        F.sum(F.col("d_u") * F.col("d_u")).cast("long").alias("sdd"),
    )
    nd = F.col("n").cast("double")
    mean_d = F.col("sd").cast("double") / F.col("n")
    var_d = (F.col("sdd").cast("double") - F.col("sd").cast("double") * F.col("sd") / F.col("n")) / (
        F.col("n") - 1
    )
    return s.select(
        F.col("n").alias("n_pairs"),
        F.expr(emit_micro("CAST(sd AS DOUBLE) / n")).alias("mean_diff"),
        F.round(mean_d / F.sqrt(var_d / nd), 6).alias("t_stat"),
    )


@query(
    "benford_first_digit",
    oracle="""
    WITH d AS (
        SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR),
                    1, 1) AS BIGINT) AS digit
        FROM orders WHERE o_totalprice > 0
    ), g AS (
        SELECT digit, CAST(count(*) AS BIGINT) AS observed FROM d GROUP BY digit
    ), e AS (
        SELECT g.digit, g.observed,
               CAST(sum(g.observed) OVER () AS BIGINT) AS n,
               ln(1.0 + 1.0 / g.digit) / ln(10.0) AS p_benford
        FROM g
    )
    SELECT digit, observed,
           round(p_benford, 6) AS expected_share,
           round(CAST(observed AS DOUBLE) / n, 6) AS observed_share,
           round(pow(CAST(observed AS DOUBLE) - n * p_benford, 2) / (n * p_benford), 6)
               AS chi2_contrib
    FROM e
    """,
)
def benford_first_digit_q(spark, sf_dir):
    """Benford's-law first-digit screen on order totals (the classic
    fabricated-numbers / broken-ETL detector: natural multi-scale
    amounts follow P(d)=log10(1+1/d); a flat or spiked digit profile
    flags synthetic or truncated data): the first digit comes from
    EXACT integer cents via string head — no float log10, no
    power-of-ten boundary risk; the 9-row digit frame carries totals
    by window sum and each digit's chi-square contribution is one
    identical double expression over exact counts."""
    o = load_table(spark, sf_dir, "orders")
    d = o.filter(F.col("o_totalprice") > 0).select(
        F.expr(
            "cast(substr(cast(cast(round(o_totalprice * 100) as bigint) as string),"
            " 1, 1) as bigint)"
        ).alias("digit")
    )
    g = d.groupBy("digit").agg(F.count("*").cast("long").alias("observed"))
    e = g.select(
        "digit",
        "observed",
        F.sum("observed").over(Window.partitionBy()).cast("long").alias("n"),
        (F.log(1.0 + 1.0 / F.col("digit")) / F.log(F.lit(10.0))).alias("p_benford"),
    )
    return e.select(
        "digit",
        "observed",
        F.round("p_benford", 6).alias("expected_share"),
        F.round(F.col("observed").cast("double") / F.col("n"), 6).alias(
            "observed_share"
        ),
        F.round(
            F.pow(
                F.col("observed").cast("double") - F.col("n") * F.col("p_benford"),
                F.lit(2.0),
            )
            / (F.col("n") * F.col("p_benford")),
            6,
        ).alias("chi2_contrib"),
    )


@query(
    "heaps_law_fit",
    oracle=f"""
    WITH mx AS (SELECT CAST(max(doc_id) AS BIGINT) AS mx FROM documents),
    toks AS (
        SELECT d.doc_id, unnest(string_split(d.text, ' ')) AS term
        FROM documents d
    ), tf AS (
        SELECT term, CAST(min(doc_id) AS BIGINT) AS first_doc
        FROM toks WHERE term <> '' GROUP BY term
    ), tok_n AS (
        SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_toks
        FROM toks t WHERE t.term <> '' GROUP BY t.doc_id
    ), pts AS (
        -- exact integer prefix cuts (mx*k)//5: CAST(mx * 0.2 AS BIGINT)
        -- ROUNDS in DuckDB but TRUNCATES in Spark (r8 sf1 catch: at
        -- mx=49999 the cuts differ and so does the fit; invisible at
        -- gate scale only because the synthetic vocab saturates there,
        -- making the slope 0 for any cuts)
        SELECT p.k,
               CAST(sum(CASE WHEN n.doc_id <= (m.mx * p.k) // 5
                             THEN n.n_toks ELSE 0 END) AS BIGINT) AS n_tokens,
               (SELECT CAST(count(*) AS BIGINT) FROM tf, mx
                WHERE tf.first_doc <= (mx.mx * p.k) // 5) AS vocab
        FROM tok_n n CROSS JOIN mx m
        CROSS JOIN (SELECT unnest([1, 2, 3, 4, 5]) AS k) p
        GROUP BY p.k, m.mx
    ), lg AS (
        SELECT {to_micro('ln(CAST(n_tokens AS DOUBLE))')} AS x_u,
               {to_micro('ln(CAST(vocab AS DOUBLE))')} AS y_u
        FROM pts WHERE n_tokens > 0 AND vocab > 0
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x_u) AS BIGINT) AS sx, CAST(sum(y_u) AS BIGINT) AS sy,
               CAST(sum(x_u * x_u) AS BIGINT) AS sxx, CAST(sum(x_u * y_u) AS BIGINT) AS sxy
        FROM lg
    )
    SELECT n AS n_points,
           round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6) AS beta,
           round(exp({from_micro('''(CAST(sy AS DOUBLE)
                 - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                   / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * sx) / n''')}), 6) AS k_coef
    FROM s
    """,
)
def heaps_law_fit_q(spark, sf_dir):
    """Heaps'-law fit V = K·N^beta — vocabulary growth against corpus
    size (zipf_fit's companion corpus-health probe: natural text grows
    vocabulary at beta~0.5; beta near 0 means the corpus is repeating
    itself, near 1 means token soup): growth points come from doc-id
    prefixes at 5 fractions — vocabulary-at-prefix is a conditional
    count over each term's FIRST document (one vocab-frame pass, no
    per-prefix re-tokenization), token counts likewise conditional
    sums over the per-doc rollup. The log-log OLS runs on 5
    micro-unit-quantized points."""
    docs = load_table(spark, sf_dir, "documents", split=True)
    mx = docs.agg(F.max("doc_id").cast("long").alias("mx"))
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("term").agg(F.min("doc_id").cast("long").alias("first_doc"))
    tok_n = toks.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_toks"))
    # exact integer cuts (see oracle comment): (mx*k) div 5, never a
    # double-cast whose trunc/round semantics differ across engines
    fr = spark.createDataFrame([(1,), (2,), (3,), (4,), (5,)], "k long")
    cut = F.expr("(mx * k) div 5")
    tok_pts = (
        tok_n.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(fr))
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("doc_id") <= cut, F.col("n_toks")).otherwise(0))
            .cast("long")
            .alias("n_tokens")
        )
    )
    voc_pts = (
        tf.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(fr))
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("first_doc") <= cut, 1).otherwise(0))
            .cast("long")
            .alias("vocab")
        )
    )
    lg = (
        tok_pts.join(voc_pts, "k")
        .filter((F.col("n_tokens") > 0) & (F.col("vocab") > 0))
        .select(
            F.expr(to_micro("ln(cast(n_tokens as double))")).alias(
                "x_u"
            ),
            F.expr(to_micro("ln(cast(vocab as double))")).alias(
                "y_u"
            ),
        )
    )
    s = lg.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x_u").cast("long").alias("sx"),
        F.sum("y_u").cast("long").alias("sy"),
        F.sum(F.col("x_u") * F.col("x_u")).cast("long").alias("sxx"),
        F.sum(F.col("x_u") * F.col("y_u")).cast("long").alias("sxy"),
    )
    num_sql = "CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy"
    den_sql = "CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx"
    k_u = f"(CAST(sy AS DOUBLE) - ({num_sql}) / ({den_sql}) * sx) / n"
    return s.select(
        F.col("n").alias("n_points"),
        F.round(F.expr(num_sql) / F.expr(den_sql), 6).alias("beta"),
        F.expr(f"round(exp({from_micro(k_u)}), 6)").alias("k_coef"),
    )


@query(
    "ks_two_sample",
    oracle="""
    WITH e AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v_u
        FROM events WHERE event_type IN ('click', 'purchase')
    ), g AS (
        SELECT v_u,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS c2
        FROM e GROUP BY v_u
    ), cum AS (
        SELECT sum(c1) OVER (ORDER BY v_u ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS f1,
               sum(c2) OVER (ORDER BY v_u ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS f2,
               CAST(sum(c1) OVER () AS BIGINT) AS n1,
               CAST(sum(c2) OVER () AS BIGINT) AS n2
        FROM g
    ), d AS (
        SELECT n1, n2, CAST(max(abs(f1 * n2 - f2 * n1)) AS BIGINT) AS d_num
        FROM cum GROUP BY n1, n2
    )
    SELECT n1, n2,
           round(CAST(d_num AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2), 6) AS ks_d,
           round(CAST(d_num AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2)
                 * sqrt(CAST(n1 AS DOUBLE) * n2 / (n1 + n2)), 6) AS ks_stat
    FROM d
    """,
)
def ks_two_sample_q(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov test (click vs purchase values —
    the whole-DISTRIBUTION divergence check completing the two-sample
    family: Welch compares means, Mann-Whitney ranks, KS the entire
    CDF): the corpus collapses to per-distinct-value counts, both
    empirical CDFs ride ONE cumulative window over that bounded frame,
    and the supremum gap is EXACT — max |F1·n2 − F2·n1| in integers,
    divided once at emit. The scaled statistic √(n1n2/(n1+n2))·D is
    the usual asymptotic test input."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    g = ev.select(
        "event_type", F.expr("cast(round(value * 100) as bigint)").alias("v_u")
    ).groupBy("v_u").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("c1"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("c2"),
    )
    wc = Window.orderBy("v_u").rowsBetween(Window.unboundedPreceding, 0)
    wa = Window.partitionBy()
    cum = g.select(
        F.sum("c1").over(wc).alias("f1"),
        F.sum("c2").over(wc).alias("f2"),
        F.sum("c1").over(wa).cast("long").alias("n1"),
        F.sum("c2").over(wa).cast("long").alias("n2"),
    )
    d = cum.groupBy("n1", "n2").agg(
        F.max(F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1")))
        .cast("long")
        .alias("d_num")
    )
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    ks_d = F.col("d_num").cast("double") / (n1d * n2d)
    return d.select(
        "n1",
        "n2",
        F.round(ks_d, 6).alias("ks_d"),
        F.round(ks_d * F.sqrt(n1d * n2d / (n1d + n2d)), 6).alias("ks_stat"),
    )


@query(
    "session_gap_sweep",
    oracle="""
    WITH o AS (
        SELECT user_id, epoch_ns(ts) AS t,
               lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_t
        FROM events
    ), gaps AS (
        SELECT CASE WHEN prev_t IS NULL THEN NULL ELSE t - prev_t END AS gap_ns
        FROM o
    ), u AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM events),
    e AS (SELECT CAST(count(*) AS BIGINT) AS n_events FROM events),
    thr AS (SELECT unnest([600, 1800, 3600]) AS gap_s)
    SELECT CAST(t.gap_s AS BIGINT) AS gap_seconds,
           CAST(u.n_users + sum(CASE WHEN g.gap_ns > CAST(t.gap_s AS BIGINT) * 1000000000
                                     THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
           round(CAST(e.n_events AS DOUBLE)
                 / (u.n_users + sum(CASE WHEN g.gap_ns > CAST(t.gap_s AS BIGINT) * 1000000000
                                         THEN 1 ELSE 0 END)), 6)
               AS mean_session_events
    FROM gaps g CROSS JOIN thr t CROSS JOIN u CROSS JOIN e
    WHERE g.gap_ns IS NOT NULL
    GROUP BY t.gap_s, u.n_users, e.n_events
    """,
)
def session_gap_sweep_q(spark, sf_dir):
    """Session-timeout sensitivity (how does the session count move as
    the inactivity gap goes 10m -> 30m -> 60m? — the tuning table
    behind sessionize_events' fixed threshold; get it wrong and every
    engagement metric shifts): per-user gaps from ONE lag() window
    (the shuffle sessionization already pays), then every candidate
    timeout is a conditional count over the gap frame —
    sessions(tau) = users + gaps>tau, an identity that makes the
    whole sweep one aggregate. Mean events/session per tau is the
    readout."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        (F.col("ts_ns") - F.lag("ts_ns").over(w)).alias("gap_ns")
    ).filter(F.col("gap_ns").isNotNull())
    u = ev.agg(F.count_distinct("user_id").cast("long").alias("n_users"))
    e = ev.agg(F.count("*").cast("long").alias("n_events"))
    thr = spark.createDataFrame([(600,), (1800,), (3600,)], "gap_s long")
    return (
        gaps.crossJoin(F.broadcast(thr))
        .groupBy("gap_s")
        .agg(
            F.sum(
                F.when(F.col("gap_ns") > F.col("gap_s") * 1000000000, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_breaks")
        )
        .crossJoin(F.broadcast(u))
        .crossJoin(F.broadcast(e))
        .select(
            F.col("gap_s").alias("gap_seconds"),
            (F.col("n_users") + F.col("n_breaks")).cast("long").alias("n_sessions"),
            F.round(
                F.col("n_events").cast("double")
                / (F.col("n_users") + F.col("n_breaks")),
                6,
            ).alias("mean_session_events"),
        )
    )


@query(
    "srm_check",
    oracle=f"""
    WITH u AS (
        SELECT DISTINCT user_id, {H.dd_md5_long('user_id::VARCHAR')} % 2 AS arm
        FROM events
    ), c AS (
        SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        FROM u
    )
    SELECT n_a, n_b,
           round(pow(CAST(n_a - n_b AS DOUBLE), 2) / (n_a + n_b), 6) AS chi2,
           pow(CAST(n_a - n_b AS DOUBLE), 2) / (n_a + n_b) > 9.0 AS srm_detected
    FROM c
    """,
)
def srm_check_q(spark, sf_dir):
    """Sample Ratio Mismatch check (the first gate every A/B platform
    runs before reading ANY metric: if the 50/50 hash split didn't
    land 50/50, the assignment path is broken and all downstream
    stats are garbage): users dedupe then hash into arms with the
    shared md5 primitive — the SAME function a real assignment
    service would use, so this op doubles as its audit; the 1-dof
    chi-square (n_a-n_b)²/N from exact counts, flagged at the
    |z|>3 equivalent threshold the LinkedIn/Microsoft SRM papers
    recommend."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.select("user_id").distinct().select(
        (F.expr(H.md5_long("CAST(user_id AS STRING)")) % 2).alias("arm")
    )
    c = u.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("n_b"),
    )
    chi2 = F.pow((F.col("n_a") - F.col("n_b")).cast("double"), F.lit(2.0)) / (
        F.col("n_a") + F.col("n_b")
    )
    return c.select(
        "n_a",
        "n_b",
        F.round(chi2, 6).alias("chi2"),
        (chi2 > 9.0).alias("srm_detected"),
    )


@query(
    "did_estimator",
    oracle=f"""
    WITH b AS (
        SELECT (min(epoch_ns(ts)) + max(epoch_ns(ts))) // 2 AS cut FROM events
    ), s AS (
        SELECT {H.dd_md5_long('user_id::VARCHAR')} % 2 AS grp,
               CASE WHEN epoch_ns(ts) <= b.cut THEN 0 ELSE 1 END AS period,
               {to_micro('value')} AS v_u
        FROM events, b
    ), cells AS (
        SELECT grp, period, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(v_u) AS BIGINT) AS sv,
               sum(CAST(v_u AS DECIMAL(18,0)) * CAST(v_u AS DECIMAL(18,0))) AS qv
        FROM s GROUP BY grp, period
    ), m AS (
        SELECT CAST(grp AS BIGINT) AS grp, CAST(period AS BIGINT) AS period, n,
               {from_micro('CAST(sv AS DOUBLE) / n')} AS mean_v,
               ((CAST(qv AS DOUBLE) - CAST(sv AS DOUBLE) * sv / n) / (n - 1))
                   / 1e12 / n AS var_of_mean
        FROM cells
    )
    SELECT CAST(sum(n) AS BIGINT) AS n_events,
           round(max(CASE WHEN grp = 0 AND period = 0 THEN mean_v END), 6) AS mean_a_pre,
           round(max(CASE WHEN grp = 0 AND period = 1 THEN mean_v END), 6) AS mean_a_post,
           round(max(CASE WHEN grp = 1 AND period = 0 THEN mean_v END), 6) AS mean_b_pre,
           round(max(CASE WHEN grp = 1 AND period = 1 THEN mean_v END), 6) AS mean_b_post,
           round((max(CASE WHEN grp = 1 AND period = 1 THEN mean_v END)
                  - max(CASE WHEN grp = 1 AND period = 0 THEN mean_v END))
                 - (max(CASE WHEN grp = 0 AND period = 1 THEN mean_v END)
                    - max(CASE WHEN grp = 0 AND period = 0 THEN mean_v END)), 6)
               AS did_effect,
           round(sqrt(sum(var_of_mean)), 6) AS did_se
    FROM m
    """,
)
def did_estimator_q(spark, sf_dir):
    """Difference-in-differences estimator (the parallel-trends causal
    design: treatment-group change minus control-group change cancels
    shared time shocks — what pre_post_analysis reads as one group's
    shift, DiD reads NET of the control): users hash into two arms
    with the shared md5 split, periods cut at the exact midpoint; the
    four (group, period) cells' exact micro-unit moments come from ONE
    conditional aggregate (DECIMAL squares — v_u² overflows bigint at
    event volumes); effect and its pooled SE pivot off the 4-row cell
    frame."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(F.expr("(min(ts_ns) + max(ts_ns)) div 2").alias("cut"))
    s = ev.crossJoin(F.broadcast(b)).select(
        (F.expr(H.md5_long("CAST(user_id AS STRING)")) % 2).alias("grp"),
        F.when(F.col("ts_ns") <= F.col("cut"), 0).otherwise(1).alias("period"),
        F.expr(to_micro("value")).alias("v_u"),
    )
    cells = s.groupBy("grp", "period").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v_u").cast("long").alias("sv"),
        F.sum(
            F.col("v_u").cast("decimal(18,0)") * F.col("v_u").cast("decimal(18,0)")
        ).alias("qv"),
    )
    mean_v = F.expr(from_micro("CAST(sv AS DOUBLE) / n"))
    vom = (
        (F.col("qv").cast("double") - F.col("sv").cast("double") * F.col("sv") / F.col("n"))
        / (F.col("n") - 1)
    ) / F.lit(1e12) / F.col("n")
    m = cells.select(
        F.col("grp").cast("long").alias("grp"),
        F.col("period").cast("long").alias("period"),
        "n",
        mean_v.alias("mean_v"),
        vom.alias("var_of_mean"),
    )

    def cell(g, p):
        return F.max(
            F.when((F.col("grp") == g) & (F.col("period") == p), F.col("mean_v"))
        )

    return m.agg(
        F.sum("n").cast("long").alias("n_events"),
        F.round(cell(0, 0), 6).alias("mean_a_pre"),
        F.round(cell(0, 1), 6).alias("mean_a_post"),
        F.round(cell(1, 0), 6).alias("mean_b_pre"),
        F.round(cell(1, 1), 6).alias("mean_b_post"),
        F.round((cell(1, 1) - cell(1, 0)) - (cell(0, 1) - cell(0, 0)), 6).alias(
            "did_effect"
        ),
        F.round(F.sqrt(F.sum("var_of_mean")), 6).alias("did_se"),
    )


@query(
    "cuped_adjustment",
    oracle=f"""
    WITH b AS (
        SELECT (min(epoch_ns(ts)) + max(epoch_ns(ts))) // 2 AS cut FROM events
    ), u AS (
        SELECT user_id,
               CAST(sum(CASE WHEN epoch_ns(ts) <= b.cut THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(sum(CASE WHEN epoch_ns(ts) <= b.cut THEN 0 ELSE 1 END) AS BIGINT) AS n2,
               CAST(sum(CASE WHEN epoch_ns(ts) <= b.cut
                             THEN {to_micro('value')} ELSE 0 END)
                    AS BIGINT) AS s1,
               CAST(sum(CASE WHEN epoch_ns(ts) <= b.cut THEN 0
                             ELSE {to_micro('value')} END)
                    AS BIGINT) AS s2
        FROM events, b GROUP BY user_id
    ), xy AS (
        SELECT CAST(round(CAST(s1 AS DOUBLE) / n1) AS BIGINT) AS x_u,
               CAST(round(CAST(s2 AS DOUBLE) / n2) AS BIGINT) AS y_u
        FROM u WHERE n1 > 0 AND n2 > 0
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x_u) AS BIGINT) AS sx, CAST(sum(y_u) AS BIGINT) AS sy,
               sum(CAST(x_u AS DECIMAL(18,0)) * CAST(x_u AS DECIMAL(18,0))) AS sxx,
               sum(CAST(y_u AS DECIMAL(18,0)) * CAST(y_u AS DECIMAL(18,0))) AS syy,
               sum(CAST(x_u AS DECIMAL(18,0)) * CAST(y_u AS DECIMAL(18,0))) AS sxy
        FROM xy
    )
    SELECT n AS n_users,
           round((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                 / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n), 6) AS theta,
           round(pow(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n, 2)
                 / ((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                    * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)), 6)
               AS rho_sq,
           round((1 - pow(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n, 2)
                      / ((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                         * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n))) * 100,
                 6) AS remaining_var_pct
    FROM s
    """,
)
def cuped_adjustment_q(spark, sf_dir):
    """CUPED variance reduction (Deng et al. WSDM'13 — the industry
    standard: regress each user's experiment-period metric on their
    PRE-period metric, subtract theta·X, and the metric's variance
    drops by rho² — experiments read significance days sooner): the
    per-user pre/post means come from ONE conditional aggregate
    (paired_ttest_users' frame reused), theta and rho² from exact
    micro-unit moments with DECIMAL cross-products over the user
    frame. remaining_var_pct is the headline: how much metric variance
    survives adjustment."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(F.expr("(min(ts_ns) + max(ts_ns)) div 2").alias("cut"))
    v_u = to_micro("value")
    u = ev.crossJoin(F.broadcast(b)).groupBy("user_id").agg(
        F.sum(F.when(F.col("ts_ns") <= F.col("cut"), 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("ts_ns") <= F.col("cut"), 0).otherwise(1))
        .cast("long")
        .alias("n2"),
        F.sum(F.when(F.col("ts_ns") <= F.col("cut"), F.expr(v_u)).otherwise(0))
        .cast("long")
        .alias("s1"),
        F.sum(F.when(F.col("ts_ns") <= F.col("cut"), 0).otherwise(F.expr(v_u)))
        .cast("long")
        .alias("s2"),
    )
    xy = u.filter((F.col("n1") > 0) & (F.col("n2") > 0)).select(
        F.expr("cast(round(cast(s1 as double) / n1) as bigint)").alias("x_u"),
        F.expr("cast(round(cast(s2 as double) / n2) as bigint)").alias("y_u"),
    )
    s = xy.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x_u").cast("long").alias("sx"),
        F.sum("y_u").cast("long").alias("sy"),
        F.sum(F.col("x_u").cast("decimal(18,0)") * F.col("x_u").cast("decimal(18,0)"))
        .alias("sxx"),
        F.sum(F.col("y_u").cast("decimal(18,0)") * F.col("y_u").cast("decimal(18,0)"))
        .alias("syy"),
        F.sum(F.col("x_u").cast("decimal(18,0)") * F.col("y_u").cast("decimal(18,0)"))
        .alias("sxy"),
    )
    cxy = F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy") / F.col("n")
    cxx = F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx") / F.col("n")
    cyy = F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy") / F.col("n")
    rho_sq = F.pow(cxy, F.lit(2.0)) / (cxx * cyy)
    return s.select(
        F.col("n").alias("n_users"),
        F.round(cxy / cxx, 6).alias("theta"),
        F.round(rho_sq, 6).alias("rho_sq"),
        F.round((1 - rho_sq) * 100, 6).alias("remaining_var_pct"),
    )


def _link_prediction_oracle(sf_dir: str) -> str:
    base = _knn_graph_oracle(sf_dir).rsplit("SELECT src, dst", 1)[0]
    return (
        base
        + """
    , edges AS (SELECT src, dst FROM ranked WHERE rank <= 3),
    und AS (
        SELECT src AS a, dst AS b FROM edges
        UNION
        SELECT dst, src FROM edges
    ), cand AS (
        SELECT e1.a AS u, e2.b AS v
        FROM und e1 JOIN und e2 ON e1.b = e2.a AND e1.a < e2.b
        EXCEPT
        SELECT a, b FROM und
    ), cn AS (
        SELECT c.u, c.v, CAST(count(*) AS BIGINT) AS common
        FROM cand c
        JOIN und x ON x.a = c.u
        JOIN und y ON y.a = c.v AND y.b = x.b
        GROUP BY c.u, c.v
    ), deg AS (
        SELECT a, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY a
    )
    SELECT u, v, common,
           round(CAST(common AS DOUBLE) / (da.d + dv.d - common), 6) AS jaccard,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
        SELECT cn.u, cn.v, cn.common,
               CAST(cn.common AS DOUBLE) / (da.d + dv.d - cn.common) AS j,
               row_number() OVER (ORDER BY CAST(cn.common AS DOUBLE)
                   / (da.d + dv.d - cn.common) DESC, cn.u, cn.v) AS rnk,
               da.d AS dad, dv.d AS dvd
        FROM cn JOIN deg da ON cn.u = da.a JOIN deg dv ON cn.v = dv.a
    ) t(u, v, common, j, rnk, dad, dvd)
    JOIN deg da ON t.u = da.a JOIN deg dv ON t.v = dv.a
    WHERE rnk <= 20
    """
    )


@query("link_prediction_jaccard")  # oracle attached below (plane literals)
def link_prediction_jaccard_q(spark, sf_dir):
    """Link prediction on the kNN graph via neighbor-set Jaccard
    (Liben-Nowell & Kleinberg '03 — the 'which vectors SHOULD be
    neighbors but the index missed' signal that NN-descent uses to
    densify a graph index): the graph is symmetrized, candidates are
    non-adjacent 2-hop pairs (volume Σdeg², never n²), common-neighbor
    counts come from one wedge join on (node, node) longs, and the
    Jaccard score |N(u)∩N(v)| / |N(u)∪N(v)| ranks top-20 with
    deterministic ties. No vector data moves past the shared edge
    build."""
    edges = _knn_graph_edges(spark, sf_dir).select("src", "dst")
    und = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionByName(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .distinct()
    )
    e1, e2 = und.alias("e1"), und.alias("e2")
    two_hop = (
        e1.join(e2, (F.col("e1.b") == F.col("e2.a")) & (F.col("e1.a") < F.col("e2.b")))
        .select(F.col("e1.a").alias("u"), F.col("e2.b").alias("v"))
        .distinct()
    )
    cand = two_hop.join(
        und.select(F.col("a").alias("u"), F.col("b").alias("v")),
        ["u", "v"],
        "left_anti",
    )
    x, y = und.alias("x"), und.alias("y")
    cn = (
        cand.join(x, F.col("x.a") == F.col("u"))
        .join(y, (F.col("y.a") == F.col("v")) & (F.col("y.b") == F.col("x.b")))
        .groupBy("u", "v")
        .agg(F.count("*").cast("long").alias("common"))
    )
    deg = und.groupBy("a").agg(F.count("*").cast("long").alias("d"))
    scored = (
        cn.join(deg.select(F.col("a").alias("u"), F.col("d").alias("_du")), "u")
        .join(deg.select(F.col("a").alias("v"), F.col("d").alias("_dv")), "v")
        .select(
            "u",
            "v",
            "common",
            (
                F.col("common").cast("double")
                / (F.col("_du") + F.col("_dv") - F.col("common"))
            ).alias("j"),
        )
    )
    ranked = scored.withColumn(
        "rnk",
        F.row_number()
        .over(Window.orderBy(F.col("j").desc(), "u", "v"))
        .cast("long"),
    ).filter(F.col("rnk") <= 20)
    return ranked.select("u", "v", "common", F.round("j", 6).alias("jaccard"), "rnk")


LAZY_ORACLES["link_prediction_jaccard"] = _link_prediction_oracle


@query(
    "conformal_interval",
    oracle=f"""
    WITH b AS (
        SELECT (min(epoch_ns(ts)) + max(epoch_ns(ts))) // 2 AS cut FROM events
    ), pred AS (
        SELECT event_type,
               CAST(sum(CASE WHEN epoch_ns(ts) <= b.cut
                             THEN {to_micro('value')} ELSE 0 END)
                    AS BIGINT) AS s_cal,
               CAST(sum(CASE WHEN epoch_ns(ts) <= b.cut THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_cal
        FROM events, b GROUP BY event_type
    ), resid AS (
        SELECT e.event_type,
               abs({to_micro('e.value')}
                   - CAST(round(CAST(p.s_cal AS DOUBLE) / p.n_cal) AS BIGINT)) AS r_u
        FROM events e JOIN pred p USING (event_type) CROSS JOIN b
        WHERE epoch_ns(e.ts) <= b.cut
    ), q AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_cal,
               list_sort(list(r_u)) AS rs
        FROM resid GROUP BY event_type
    ), qhat AS (
        SELECT event_type, n_cal,
               rs[CAST(least(n_cal, CAST(ceil((n_cal + 1) * 0.9) AS BIGINT))
                   AS INTEGER)] AS q_u
        FROM q
    ), cov AS (
        SELECT e.event_type,
               CAST(count(*) AS BIGINT) AS n_test,
               CAST(sum(CASE WHEN abs({to_micro('e.value')}
                    - CAST(round(CAST(p.s_cal AS DOUBLE) / p.n_cal) AS BIGINT))
                    <= h.q_u THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
        FROM events e
        JOIN pred p USING (event_type)
        JOIN qhat h USING (event_type)
        CROSS JOIN b
        WHERE epoch_ns(e.ts) > b.cut
        GROUP BY e.event_type
    )
    SELECT c.event_type, h.n_cal, c.n_test,
           {emit_micro('h.q_u')} AS interval_halfwidth,
           round(CAST(c.n_covered AS DOUBLE) / c.n_test, 6) AS coverage
    FROM cov c JOIN qhat h USING (event_type)
    """,
)
def conformal_interval_q(spark, sf_dir):
    """Split-conformal prediction intervals (the distribution-free
    coverage guarantee: calibrate the ceil((n+1)·0.9)-th absolute
    residual on the PRE half, and the post-half interval
    pred ± q̂ covers >=90%% regardless of the value distribution —
    the honest uncertainty wrapper for any per-segment predictor):
    the predictor is the per-type calibration mean (exact micro
    units); residual quantiles use the exact sorted-selection rule
    per type; coverage on the held-out half is an exact conditional
    count. Three passes over the fact, all map-side-combinable."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(F.expr("(min(ts_ns) + max(ts_ns)) div 2").alias("cut"))
    evb = ev.crossJoin(F.broadcast(b))
    pred = evb.groupBy("event_type").agg(
        F.sum(
            F.when(
                F.col("ts_ns") <= F.col("cut"),
                F.expr(to_micro("value")),
            ).otherwise(0)
        )
        .cast("long")
        .alias("s_cal"),
        F.sum(F.when(F.col("ts_ns") <= F.col("cut"), 1).otherwise(0))
        .cast("long")
        .alias("n_cal"),
    )
    mu = F.expr("cast(round(cast(s_cal as double) / n_cal) as bigint)")
    resid = (
        evb.filter(F.col("ts_ns") <= F.col("cut"))
        .join(F.broadcast(pred), "event_type")
        .select(
            "event_type",
            F.abs(F.expr(to_micro("value")) - mu).alias("r_u"),
        )
    )
    q = resid.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_cal"),
        F.sort_array(F.collect_list("r_u")).alias("rs"),
    )
    qhat = q.select(
        "event_type",
        "n_cal",
        F.element_at(
            "rs",
            F.least(
                F.col("n_cal"), F.ceil((F.col("n_cal") + 1) * 0.9).cast("long")
            ).cast("int"),
        ).alias("q_u"),
    )
    cov = (
        evb.filter(F.col("ts_ns") > F.col("cut"))
        .join(F.broadcast(pred), "event_type")
        .join(F.broadcast(qhat.select("event_type", "q_u")), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_test"),
            F.sum(
                F.when(
                    F.abs(F.expr(to_micro("value")) - mu)
                    <= F.col("q_u"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_covered"),
        )
    )
    return cov.join(F.broadcast(qhat), "event_type").select(
        "event_type",
        "n_cal",
        "n_test",
        F.expr(emit_micro("q_u")).alias("interval_halfwidth"),
        F.round(F.col("n_covered").cast("double") / F.col("n_test"), 6).alias(
            "coverage"
        ),
    )


@query(
    "dp_noise_calibration",
    oracle="""
    WITH t AS (
        SELECT source, CAST(count(*) AS BIGINT) AS true_count FROM documents
        GROUP BY source
    ), eps AS (SELECT unnest([0.1, 1.0, 10.0]) AS epsilon)
    SELECT t.source, e.epsilon, t.true_count,
           round(1.0 / e.epsilon, 6) AS laplace_scale,
           round(ln(10.0) / e.epsilon, 6) AS p90_abs_error,
           round(ln(10.0) / e.epsilon / t.true_count * 100, 6) AS p90_rel_error_pct,
           ln(10.0) / e.epsilon / t.true_count <= 0.01 AS releasable_at_1pct
    FROM t CROSS JOIN eps e
    """,
)
def dp_noise_calibration_q(spark, sf_dir):
    """Differential-privacy noise budget table for per-source count
    releases (Dwork's Laplace mechanism, sensitivity 1: scale = 1/eps,
    P(|noise| > ln(10)/eps) = 10%%): for each epsilon the p90 absolute
    and RELATIVE error against the true counts — the go/no-go readout
    for publishing per-slice statistics of a private corpus (small
    slices drown in noise; the releasable flag says which survive a
    1%% error budget). One count rollup; the grid is literal math,
    bloom_filter_sizing's posture."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.groupBy("source").agg(F.count("*").cast("long").alias("true_count"))
    eps = spark.createDataFrame([(0.1,), (1.0,), (10.0,)], "epsilon double")
    ln10 = F.log(F.lit(10.0))
    return t.crossJoin(F.broadcast(eps)).select(
        "source",
        "epsilon",
        "true_count",
        F.round(1.0 / F.col("epsilon"), 6).alias("laplace_scale"),
        F.round(ln10 / F.col("epsilon"), 6).alias("p90_abs_error"),
        F.round(ln10 / F.col("epsilon") / F.col("true_count") * 100, 6).alias(
            "p90_rel_error_pct"
        ),
        (ln10 / F.col("epsilon") / F.col("true_count") <= 0.01).alias(
            "releasable_at_1pct"
        ),
    )


@query(
    "oneway_anova_f",
    oracle=f"""
    WITH g AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_i,
               CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS s_i,
               CAST(sum(CAST(round(value * 1000) AS BIGINT)
                        * CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS q_i
        FROM events GROUP BY event_type
    ), t AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(n_i) AS BIGINT) AS nn,
               CAST(sum(s_i) AS BIGINT) AS ss,
               CAST(sum(CAST(round((CAST(q_i AS DOUBLE)
                    - CAST(s_i AS DOUBLE) * s_i / n_i)) AS BIGINT)) AS BIGINT) AS ssw_u,
               CAST(sum(CAST(round((CAST(s_i AS DOUBLE) * s_i / n_i)) AS BIGINT))
                    AS BIGINT) AS sb_u
        FROM g
    )
    SELECT k AS n_groups, nn AS n_rows,
           {emit_micro('''(CAST(sb_u AS DOUBLE)
                  - CAST(round(CAST(ss AS DOUBLE) * ss / nn) AS BIGINT))
                 / (k - 1)''')} AS ms_between,
           {emit_micro('CAST(ssw_u AS DOUBLE) / (nn - k)')} AS ms_within,
           round(((CAST(sb_u AS DOUBLE)
                   - CAST(round(CAST(ss AS DOUBLE) * ss / nn) AS BIGINT)) / (k - 1))
                 / (CAST(ssw_u AS DOUBLE) / (nn - k)), 6) AS f_stat
    FROM t
    """,
)
def oneway_anova_f_q(spark, sf_dir):
    """One-way ANOVA F-test across ALL event types at once (the
    k-group omnibus test: run THIS before pairwise Welch/Mann-Whitney
    comparisons — if F can't reject, the pairwise hunt is p-hacking):
    per-group exact milli-unit (n, Σx, Σx²) from one rollup, within/
    between sums-of-squares quantized to unit-milli² so the group-frame
    totals stay order-free (intraclass_correlation's decomposition,
    pointed at groups instead of clusters), F from the mean squares in
    identical double arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    v_m = F.expr("cast(round(value * 1000) as bigint)")
    g = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_i"),
        F.sum(v_m).cast("long").alias("s_i"),
        F.sum(v_m * v_m).cast("long").alias("q_i"),
    )
    t = g.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n_i").cast("long").alias("nn"),
        F.sum("s_i").cast("long").alias("ss"),
        F.sum(
            F.expr(
                "cast(round((cast(q_i as double) - cast(s_i as double) * s_i / n_i)) as bigint)"
            )
        )
        .cast("long")
        .alias("ssw_u"),
        F.sum(F.expr("cast(round((cast(s_i as double) * s_i / n_i)) as bigint)"))
        .cast("long")
        .alias("sb_u"),
    )
    ssb = "CAST(sb_u AS DOUBLE) - cast(round(cast(ss as double) * ss / nn) as bigint)"
    msb = f"({ssb}) / (k - 1)"
    msw = "CAST(ssw_u AS DOUBLE) / (nn - k)"
    return t.select(
        F.col("k").alias("n_groups"),
        F.col("nn").alias("n_rows"),
        F.expr(emit_micro(msb)).alias("ms_between"),
        F.expr(emit_micro(msw)).alias("ms_within"),
        F.expr(f"round(({msb}) / ({msw}), 6)").alias("f_stat"),
    )


@query(
    "hill_tail_index",
    oracle=f"""
    WITH v AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v_c FROM orders
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               list_sort(list(v_c), 'DESC') AS vs
        FROM v
    ), ks AS (SELECT unnest([50, 100, 500]) AS k),
    h AS (
        SELECT ks.k, s.n,
               list_sum(list_transform(s.vs[1:ks.k],
                   x -> {to_micro('''ln(CAST(x AS DOUBLE)
                        / s.vs[CAST(ks.k + 1 AS INTEGER)])''')}))
                   AS sum_u
        FROM s CROSS JOIN ks
    )
    SELECT CAST(k AS BIGINT) AS k, n,
           {emit_micro('CAST(sum_u AS DOUBLE) / k')} AS hill_gamma,
           round(CAST(k AS DOUBLE) * {MICRO} / sum_u, 6) AS tail_alpha
    FROM h
    """,
)
def hill_tail_index_q(spark, sf_dir):
    """Hill estimator of the heavy-tail index on order values (Hill
    '75: gamma = mean ln(x_(i)/x_(k+1)) over the top-k order
    statistics; alpha = 1/gamma < 2 means INFINITE variance — the
    number that says whether skew_profile's hot keys are an anomaly
    or the distribution's nature, and whether mean-based SLAs are
    even well-defined): top-k selection by exact sorted list
    (TakeOrdered at scale), per-order-statistic log ratios quantized
    to micro-units so the k-sums are exact integers; three k values
    probe estimator stability."""
    o = load_table(spark, sf_dir, "orders")
    v = o.select(F.expr("cast(round(o_totalprice * 100) as bigint)").alias("v_c"))
    s = v.agg(
        F.count("*").cast("long").alias("n"),
        F.reverse(F.sort_array(F.collect_list("v_c"))).alias("vs"),
    )
    ks = spark.createDataFrame([(50,), (100,), (500,)], "k long")
    # k or fewer orders: x_(k+1) is NULL, as DuckDB's vs[k + 1] is
    ratio = "ln(CAST(x AS DOUBLE) / try_element_at(vs, CAST(k + 1 AS INT)))"
    sum_u = (
        f"aggregate(transform(slice(vs, 1, CAST(k AS INT)), x -> {to_micro(ratio)}),"
        " CAST(0 AS BIGINT), (acc, y) -> acc + y)"
    )
    # no orders: NULL, as DuckDB's list_sum([]) is
    h = s.crossJoin(F.broadcast(ks)).selectExpr(
        "k", "n", f"CASE WHEN size(vs) > 0 THEN {sum_u} END AS sum_u"
    )
    return h.select(
        "k",
        "n",
        F.expr(emit_micro("CAST(sum_u AS DOUBLE) / k")).alias("hill_gamma"),
        F.expr(f"round(try_divide(CAST(k AS DOUBLE) * {MICRO}, sum_u), 6)").alias("tail_alpha"),
    )


@query(
    "daily_autocorrelation",
    oracle="""
    WITH d AS (
        SELECT epoch_ns(ts) // 86400000000000 AS day,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY day
    ), lags AS (SELECT unnest([1, 2, 7]) AS lag_d),
    p AS (
        SELECT l.lag_d, a.n AS x, b.n AS y
        FROM d a JOIN lags l ON TRUE
        JOIN d b ON b.day = a.day + l.lag_d
    ), s AS (
        SELECT lag_d, CAST(count(*) AS BIGINT) AS np,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM p GROUP BY lag_d
    )
    SELECT CAST(lag_d AS BIGINT) AS lag_days, np AS n_pairs,
           CASE WHEN CAST(np AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx = 0
                  OR CAST(np AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy = 0 THEN NULL
                ELSE round((CAST(np AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                           / sqrt((CAST(np AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                                  * (CAST(np AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
                           6)
           END AS autocorr
    FROM s
    """,
)
def daily_autocorrelation_q(spark, sf_dir):
    """Autocorrelation of daily event volume at lags 1/2/7 (the
    seasonality detector that DECIDES whether seasonal_decompose's
    period assumption holds — a strong lag-7 spike means weekly
    cycling): the stream collapses to day counts once; each lag is a
    self-join on the DAY frame (calendar-bounded, never event-sized),
    and the lag-correlation derives from exact integer moments with
    the shared degenerate-variance NULL guard."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(F.expr("ts_ns div 86400000000000").alias("day")).agg(
        F.count("*").cast("long").alias("n")
    )
    lags = spark.createDataFrame([(1,), (2,), (7,)], "lag_d long")
    a = d.crossJoin(F.broadcast(lags)).select(
        "lag_d", (F.col("day") + F.col("lag_d")).alias("jday"), F.col("n").alias("x")
    )
    b = d.select(F.col("day").alias("jday"), F.col("n").alias("y"))
    p = a.join(b, "jday")
    s = p.groupBy("lag_d").agg(
        F.count("*").cast("long").alias("np"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    nd = F.col("np").cast("double")
    num = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    den = nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    deny = nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    # decimal(38,0) guards + OR test: the long product of the two
    # variance factors overflows BIGINT once daily counts reach ~1e4
    # (sf1 scale) — same class as grouped_ols_slopes r8.
    dec = "decimal(38,0)"
    den0a = (
        F.col("np").cast(dec) * F.col("sxx").cast(dec)
        - F.col("sx").cast(dec) * F.col("sx").cast(dec)
    )
    den0b = (
        F.col("np").cast(dec) * F.col("syy").cast(dec)
        - F.col("sy").cast(dec) * F.col("sy").cast(dec)
    )
    return s.select(
        F.col("lag_d").alias("lag_days"),
        F.col("np").alias("n_pairs"),
        F.when((den0a == 0) | (den0b == 0), F.lit(None).cast("double"))
        .otherwise(F.round(num / F.sqrt(den * deny), 6))
        .alias("autocorr"),
    )


@query(
    "count_overdispersion",
    oracle="""
    WITH u AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS c FROM events GROUP BY user_id
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(c) AS BIGINT) AS sc,
               CAST(sum(c * c) AS BIGINT) AS scc
        FROM u
    )
    SELECT n AS n_users,
           round(CAST(sc AS DOUBLE) / n, 6) AS mean_count,
           round((CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * sc / n) / (n - 1), 6)
               AS var_count,
           round(((CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * sc / n) / (n - 1))
                 / (CAST(sc AS DOUBLE) / n), 6) AS dispersion_index,
           CASE WHEN (CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * sc / n) / (n - 1)
                     <= CAST(sc AS DOUBLE) / n THEN NULL
                ELSE round(pow(CAST(sc AS DOUBLE) / n, 2)
                     / ((CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * sc / n) / (n - 1)
                        - CAST(sc AS DOUBLE) / n), 6)
           END AS nb_size
    FROM s
    """,
)
def count_overdispersion_q(spark, sf_dir):
    """Per-user event-count overdispersion (Poisson says var=mean;
    real user activity is negative-binomial — the dispersion index
    decides whether rate alerts should use Poisson or NB thresholds,
    and the NB size parameter k = mu²/(var−mu) by method of moments
    feeds them; events_interarrival profiles TIME burstiness, this
    profiles COUNT burstiness): one user rollup, exact integer
    moments, NULL when the data is actually under-dispersed (the
    identical CASE on both engines)."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(F.count("*").cast("long").alias("c"))
    s = u.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("c").cast("long").alias("sc"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("scc"),
    )
    mean_c = F.col("sc").cast("double") / F.col("n")
    var_c = (
        F.col("scc").cast("double") - F.col("sc").cast("double") * F.col("sc") / F.col("n")
    ) / (F.col("n") - 1)
    return s.select(
        F.col("n").alias("n_users"),
        F.round(mean_c, 6).alias("mean_count"),
        F.round(var_c, 6).alias("var_count"),
        F.round(var_c / mean_c, 6).alias("dispersion_index"),
        F.when(var_c <= mean_c, F.lit(None).cast("double"))
        .otherwise(F.round(F.pow(mean_c, F.lit(2.0)) / (var_c - mean_c), 6))
        .alias("nb_size"),
    )


@query(
    "churn_auc_baseline",
    oracle="""
    WITH b AS (
        SELECT (min(epoch_ns(ts)) + max(epoch_ns(ts))) // 2 AS cut FROM events
    ), u AS (
        SELECT user_id,
               CAST(sum(CASE WHEN epoch_ns(ts) <= b.cut THEN 1 ELSE 0 END) AS BIGINT)
                   AS score,
               CAST(max(CASE WHEN epoch_ns(ts) > b.cut THEN 1 ELSE 0 END) AS BIGINT)
                   AS active_later
        FROM events, b GROUP BY user_id
    ), pre AS (
        SELECT score, active_later FROM u WHERE score > 0
    ), g AS (
        SELECT score,
               CAST(sum(active_later) AS BIGINT) AS pos,
               CAST(sum(1 - active_later) AS BIGINT) AS neg
        FROM pre GROUP BY score
    ), r AS (
        SELECT pos, neg,
               COALESCE(sum(neg) OVER (ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_below,
               CAST(sum(pos) OVER () AS BIGINT) AS n_pos,
               CAST(sum(neg) OVER () AS BIGINT) AS n_neg
        FROM g
    ), s AS (
        SELECT n_pos, n_neg,
               CAST(sum(2 * pos * neg_below + pos * neg) AS BIGINT) AS u2
        FROM r GROUP BY n_pos, n_neg
    )
    SELECT n_pos AS n_retained, n_neg AS n_churned,
           CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
                ELSE round(CAST(u2 AS DOUBLE) / (2.0 * n_pos * n_neg), 6) END AS auc
    FROM s
    """,
)
def churn_auc_baseline_q(spark, sf_dir):
    """Exact AUC of the simplest churn predictor — 'first-half
    activity count predicts second-half activity' (the baseline every
    churn model must beat, with AUC computed EXACTLY via the
    Mann-Whitney identity AUC = U/(n+ n−) rather than a sampled ROC):
    per-user score and label from one conditional aggregate; the
    distinct-SCORE frame carries tie-aware rank math in doubled
    integer units (mann_whitney_u's machinery re-aimed at
    classification), so the AUC is a ratio of exact integers."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(F.expr("(min(ts_ns) + max(ts_ns)) div 2").alias("cut"))
    u = ev.crossJoin(F.broadcast(b)).groupBy("user_id").agg(
        F.sum(F.when(F.col("ts_ns") <= F.col("cut"), 1).otherwise(0))
        .cast("long")
        .alias("score"),
        F.max(F.when(F.col("ts_ns") > F.col("cut"), 1).otherwise(0))
        .cast("long")
        .alias("active_later"),
    )
    g = u.filter(F.col("score") > 0).groupBy("score").agg(
        F.sum("active_later").cast("long").alias("pos"),
        F.sum(1 - F.col("active_later")).cast("long").alias("neg"),
    )
    wc = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    wa = Window.partitionBy()
    r = g.select(
        "pos",
        "neg",
        F.coalesce(F.sum("neg").over(wc), F.lit(0)).alias("neg_below"),
        F.sum("pos").over(wa).cast("long").alias("n_pos"),
        F.sum("neg").over(wa).cast("long").alias("n_neg"),
    )
    s = r.groupBy("n_pos", "n_neg").agg(
        F.sum(2 * F.col("pos") * F.col("neg_below") + F.col("pos") * F.col("neg"))
        .cast("long")
        .alias("u2")
    )
    return s.select(
        F.col("n_pos").alias("n_retained"),
        F.col("n_neg").alias("n_churned"),
        F.when(
            (F.col("n_pos") == 0) | (F.col("n_neg") == 0), F.lit(None).cast("double")
        )
        .otherwise(
            F.round(
                F.col("u2").cast("double") / (2.0 * F.col("n_pos") * F.col("n_neg")), 6
            )
        )
        .alias("auc"),
    )


@query(
    "cohort_ltv_curve",
    oracle=f"""
    WITH f AS (
        SELECT user_id, min(epoch_ns(ts)) // 86400000000000 // 7 AS cohort_week
        FROM events GROUP BY user_id
    ), cs AS (
        SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_users FROM f
        GROUP BY cohort_week
    ), r AS (
        SELECT f.cohort_week,
               epoch_ns(e.ts) // 86400000000000 // 7 - f.cohort_week AS age_week,
               CAST(sum(CASE WHEN e.event_type = 'purchase'
                             THEN {to_micro('e.value')}
                             ELSE 0 END) AS BIGINT) AS rev_u
        FROM events e JOIN f ON e.user_id = f.user_id
        GROUP BY f.cohort_week, age_week
    )
    SELECT CAST(r.cohort_week AS BIGINT) AS cohort_week,
           CAST(r.age_week AS BIGINT) AS age_week,
           c.n_users,
           {emit_micro('r.rev_u')} AS revenue,
           {emit_micro('''CAST(sum(r.rev_u) OVER (PARTITION BY r.cohort_week ORDER BY r.age_week
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                 / c.n_users''')} AS cum_ltv_per_user
    FROM r JOIN cs c USING (cohort_week)
    """,
)
def cohort_ltv_curve_q(spark, sf_dir):
    """Cumulative LTV curve per signup cohort (cohort_retention counts
    who COMES BACK; this sums what they SPEND — the payback-period
    readout marketing reads against acquisition cost): first-touch
    week from one conditional rollup, purchase revenue lands in
    (cohort, age) cells via the user-keyed join (the only fact
    shuffle), and the running LTV-per-user is an exact integer
    cumulative window over the cohort x age frame (calendar-bounded).
    Exact micro-unit revenue throughout."""
    ev = load_table(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(
        F.expr("min(ts_ns) div 86400000000000 div 7").alias("cohort_week")
    )
    cs = f.groupBy("cohort_week").agg(F.count("*").cast("long").alias("n_users"))
    r = (
        ev.join(f, "user_id")
        .groupBy(
            "cohort_week",
            (F.expr("ts_ns div 86400000000000 div 7") - F.col("cohort_week")).alias(
                "age_week"
            ),
        )
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.expr(to_micro("value")),
                ).otherwise(0)
            )
            .cast("long")
            .alias("rev_u")
        )
    )
    wc = (
        "OVER (PARTITION BY cohort_week ORDER BY age_week"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    return (
        r.join(F.broadcast(cs), "cohort_week")
        .select(
            F.col("cohort_week").cast("long"),
            F.col("age_week").cast("long"),
            "n_users",
            F.expr(emit_micro("rev_u")).alias("revenue"),
            F.expr(emit_micro(f"CAST(sum(rev_u) {wc} AS DOUBLE) / n_users")).alias(
                "cum_ltv_per_user"
            ),
        )
    )


@query(
    "term_burstiness",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tc AS (
        SELECT term, CAST(count(*) AS BIGINT) AS n_t,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS df_t
        FROM toks WHERE term <> '' GROUP BY term
    ), nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    sc AS (
        SELECT t.term, t.n_t, t.df_t,
               CAST(t.n_t AS DOUBLE) / t.df_t AS obs_per_doc,
               (CAST(t.n_t AS DOUBLE) / d.n_docs)
               / (1 - exp(-CAST(t.n_t AS DOUBLE) / d.n_docs)) AS poisson_per_doc
        FROM tc t CROSS JOIN nd d WHERE t.n_t >= 20
    )
    SELECT term, n_t AS n_occurrences, df_t AS doc_freq,
           round(obs_per_doc, 6) AS obs_per_doc,
           round(obs_per_doc / poisson_per_doc, 6) AS burstiness,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
        SELECT *, row_number() OVER (ORDER BY obs_per_doc / poisson_per_doc DESC,
                                     term) AS rnk
        FROM sc
    ) WHERE rnk <= 20
    """,
)
def term_burstiness_q(spark, sf_dir):
    """Church-Gale term burstiness (CompLing '95: content words CLUMP —
    once a term appears in a doc it repeats far beyond Poisson; the
    top-bursty list is topical vocabulary, and a corpus whose
    burstiness is flat is shuffled word soup — a corpus-health probe
    alongside zipf_fit/heaps_law_fit): per-term (occurrences, doc
    freq) from one vocab rollup, the zero-truncated-Poisson expected
    repeats lambda/(1-e^-lambda) as one identical double expression,
    top-20 ratio with deterministic ties."""
    docs = load_table(spark, sf_dir, "documents", split=True)
    tc = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(
            F.count("*").cast("long").alias("n_t"),
            F.count_distinct("doc_id").cast("long").alias("df_t"),
        )
    )
    nd = docs.agg(F.count("*").cast("long").alias("n_docs"))
    obs = F.col("n_t").cast("double") / F.col("df_t")
    lam = F.col("n_t").cast("double") / F.col("n_docs")
    poisson = lam / (1 - F.exp(-lam))
    sc = (
        tc.crossJoin(F.broadcast(nd))
        .filter(F.col("n_t") >= 20)
        .select(
            "term",
            "n_t",
            "df_t",
            obs.alias("obs_per_doc"),
            (obs / poisson).alias("b"),
        )
    )
    ranked = sc.withColumn(
        "rnk",
        F.row_number().over(Window.orderBy(F.col("b").desc(), "term")).cast("long"),
    ).filter(F.col("rnk") <= 20)
    return ranked.select(
        "term",
        F.col("n_t").alias("n_occurrences"),
        F.col("df_t").alias("doc_freq"),
        F.round("obs_per_doc", 6).alias("obs_per_doc"),
        F.round("b", 6).alias("burstiness"),
        "rnk",
    )


@query(
    "ratio_metric_delta",
    oracle="""
    WITH u AS (
        SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'purchase'
                             THEN CAST(round(value * 1000) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS x_u,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY user_id
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x_u) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x_u * x_u) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy,
               CAST(sum(x_u * y) AS BIGINT) AS sxy
        FROM u
    ), d AS (
        SELECT n,
               CAST(sx AS DOUBLE) / sy AS r,
               CAST(sx AS DOUBLE) / n AS mx, CAST(sy AS DOUBLE) / n AS my,
               (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / (n - 1) AS vx,
               (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) / (n - 1) AS vy,
               (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n) / (n - 1) AS cxy
        FROM s
    )
    SELECT n AS n_users,
           round(r / 1e3, 6) AS ratio,
           round(sqrt((vx - 2 * r * cxy + r * r * vy) / n) / my / 1e3, 6) AS delta_se,
           round((r - 1.959964 * sqrt((vx - 2 * r * cxy + r * r * vy) / n) / my)
                 / 1e3, 6) AS ci_lo,
           round((r + 1.959964 * sqrt((vx - 2 * r * cxy + r * r * vy) / n) / my)
                 / 1e3, 6) AS ci_hi
    FROM d
    """,
)
def ratio_metric_delta_q(spark, sf_dir):
    """Delta-method CI for a RATIO metric — revenue per event
    (Σx/Σy over users): naive per-row variance is WRONG for ratio
    metrics because the denominator is random too; the delta method
    (the standard experimentation-platform fix, cf. Deng KDD'18)
    expands var(X̄/Ȳ) ≈ (σx² − 2Rσxy + R²σy²)/(n·μy²). One user
    rollup, exact milli-unit moments (milli keeps x² inside BIGINT at
    100x user spend), CI from shared z literals. Pairs with cuped_adjustment and
    ab_power_analysis to complete the metric-engineering toolkit."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.expr("cast(round(value * 1000) as bigint)"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("x_u"),
        F.count("*").cast("long").alias("y"),
    )
    s = u.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x_u").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x_u") * F.col("x_u")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x_u") * F.col("y")).cast("long").alias("sxy"),
    )
    r = F.col("sx").cast("double") / F.col("sy")
    my = F.col("sy").cast("double") / F.col("n")
    vx = (F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx") / F.col("n")) / (
        F.col("n") - 1
    )
    vy = (F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy") / F.col("n")) / (
        F.col("n") - 1
    )
    cxy = (F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy") / F.col("n")) / (
        F.col("n") - 1
    )
    se = F.sqrt((vx - 2 * r * cxy + r * r * vy) / F.col("n")) / my
    return s.select(
        F.col("n").alias("n_users"),
        F.round(r / F.lit(1e3), 6).alias("ratio"),
        F.round(se / F.lit(1e3), 6).alias("delta_se"),
        F.round((r - F.lit(1.959964) * se) / F.lit(1e3), 6).alias("ci_lo"),
        F.round((r + F.lit(1.959964) * se) / F.lit(1e3), 6).alias("ci_hi"),
    )


# Isotropy pairs come from an ABSOLUTELY bounded sample: the
# _ISO_SAMPLE_CAP smallest (md5(vec_id), vec_id) rows — a total,
# engine-portable order, so both engines pick the identical set. The
# cap does not bind at the gate scales (N=500 at sf0.001/sf0.01,
# N=2000 at sf0.1), so gate outputs are unchanged; at sf1+ it bounds
# pair ENUMERATION at cap² regardless of corpus size (the r8 plan's 2%
# md5 gate bounded pair OUTPUT but still enumerated N² pairs through a
# nested-loop join — 148 s at sf1, a scale-killer at 100x).
_ISO_SAMPLE_CAP = 2000


@query(
    "embedding_isotropy",
    oracle=f"""
    WITH cd AS (
        SELECT pos, round(avg(v), 6) AS mv
        FROM (
            SELECT unnest(embedding::DOUBLE[]) AS v,
                   unnest(range(len(embedding))) AS pos
            FROM embeddings
        ) GROUP BY pos
    ), mu AS (
        SELECT list(mv ORDER BY pos) AS mvec FROM cd
    ), sub AS (
        SELECT vec_id, embedding FROM embeddings
        ORDER BY {H.dd_md5_long('vec_id::VARCHAR')}, vec_id
        LIMIT {_ISO_SAMPLE_CAP}
    ), c AS (
        SELECT e.vec_id,
               list_transform(list_zip(e.embedding::DOUBLE[], m.mvec),
                              x -> x[1] - x[2]) AS cv,
               e.embedding::DOUBLE[] AS ev
        FROM sub e CROSS JOIN mu m
    ), pairs AS (
        SELECT {V.dd_cosine('a.ev', 'b.ev')} AS raw_cos,
               {V.dd_cosine('a.cv', 'b.cv')} AS cen_cos
        FROM c a JOIN c b ON a.vec_id < b.vec_id
        WHERE {H.dd_md5_long("(a.vec_id::VARCHAR || ':' || b.vec_id::VARCHAR)")}
              / 1152921504606846976.0 < 0.02
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           {emit_micro(f"CAST(sum({to_micro('raw_cos')}) AS DOUBLE) / count(*)")} AS mean_cos,
           {emit_micro(f"CAST(sum({to_micro('cen_cos')}) AS DOUBLE) / count(*)")}
               AS mean_cos_centered
    FROM pairs
    """,
)
def embedding_isotropy_q(spark, sf_dir):
    """Embedding-space isotropy audit (Ethayarajh '19 / Mu '18
    representation degeneration: if random pairs average HIGH cosine,
    vectors live in a narrow cone and cosine similarity loses
    discriminative power — mean-centering should collapse the average
    toward 0; a large gap between raw and centered means the space
    needs centering before ANN): the mean vector is the
    label_centroids rollup (6dp-quantized so both engines share its
    bits) over the FULL corpus (one linear scan), centering is an
    in-plan zip, and pairs are drawn inside an ABSOLUTELY bounded
    md5-selected sample (the knn_classifier_eval posture: top-2000 by
    (md5(vec_id), vec_id) via TakeOrdered — per-partition top-m, no
    global sort) with the 2%% md5 pair gate on top, so pair
    enumeration is cap² regardless of corpus size. Micro-unit cosine
    sums keep both means order-free."""
    emb = load_table(spark, sf_dir, "embeddings", split=True)
    cd = (
        emb.select(F.posexplode(F.col("embedding").cast("array<double>")))
        .groupBy("pos")
        .agg(F.round(F.avg("col"), 6).alias("mv"))
    )
    mu = cd.agg(
        F.expr("transform(sort_array(collect_list(struct(pos, mv))), s -> s.mv)").alias("mvec")
    )
    sub = (
        emb.select("vec_id", "embedding")
        .orderBy(F.expr(H.md5_long("CAST(vec_id AS STRING)")), "vec_id")
        .limit(_ISO_SAMPLE_CAP)
    )
    c = sub.crossJoin(F.broadcast(mu)).select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("ev"),
        F.expr("zip_with(CAST(embedding AS ARRAY<DOUBLE>), mvec, (x, m) -> x - m)").alias("cv"),
    )
    a, b = c.alias("a"), c.alias("b")
    gate = (
        F.expr(H.md5_long("concat(CAST(a.vec_id AS STRING), ':', CAST(b.vec_id AS STRING))"))
        / F.lit(1152921504606846976.0)
        < 0.02
    )
    pairs = a.join(b, (F.col("a.vec_id") < F.col("b.vec_id")) & gate).select(
        F.expr(V.cosine("a.ev", "b.ev")).alias("raw_cos"),
        F.expr(V.cosine("a.cv", "b.cv")).alias("cen_cos"),
    )
    return pairs.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.expr(emit_micro(f"CAST(sum({to_micro('raw_cos')}) AS DOUBLE) / count(*)")).alias(
            "mean_cos"
        ),
        F.expr(emit_micro(f"CAST(sum({to_micro('cen_cos')}) AS DOUBLE) / count(*)")).alias(
            "mean_cos_centered"
        ),
    )


_DD_QF_STOP = (
    "['the','a','an','and','or','of','to','in','on','for','is','are',"
    "'was','be','it','this','that','with','as','at']"
)


@query(
    "boosting_stump_round",
    oracle=f"""
    WITH feat AS (
        SELECT doc_id,
               CAST(len({_DD_TOKS}) AS BIGINT) AS f_ntok,
               {to_micro(f"round(CAST(len(list_filter({_DD_TOKS}, t -> list_contains({_DD_QF_STOP}, t))) AS DOUBLE) / len({_DD_TOKS}), 6)")}
                   AS f_stop,
               {to_micro(f"round(CAST(len(list_distinct({_DD_TOKS})) AS DOUBLE) / len({_DD_TOKS}), 6)")}
                   AS f_ttr,
               (len({_DD_TOKS}) >= 20 AND len({_DD_TOKS}) <= 80
                AND CAST(length(text) - (len({_DD_TOKS}) - 1) AS DOUBLE)
                    / len({_DD_TOKS}) >= 3.0
                AND CAST(length(text) - (len({_DD_TOKS}) - 1) AS DOUBLE)
                    / len({_DD_TOKS}) <= 8.0
                AND CAST(len(list_filter({_DD_TOKS},
                    t -> list_contains({_DD_QF_STOP}, t))) AS DOUBLE)
                    / len({_DD_TOKS}) >= 0.05
                AND CAST(len(list_distinct({_DD_TOKS})) AS DOUBLE)
                    / len({_DD_TOKS}) >= 0.3) AS label
        FROM documents
    ), lf AS (
        SELECT 'n_tokens' AS feature, f_ntok AS v, label FROM feat
        UNION ALL
        SELECT 'stopword_frac', f_stop, label FROM feat
        UNION ALL
        SELECT 'ttr', f_ttr, label FROM feat
    ), th AS (
        SELECT DISTINCT feature, thr FROM (
            SELECT feature,
                   vs[CAST(n * k // 10 + 1 AS INTEGER)] AS thr
            FROM (
                SELECT feature, CAST(count(*) AS BIGINT) AS n,
                       list_sort(list(v)) AS vs
                FROM lf GROUP BY feature
            ) CROSS JOIN (SELECT unnest([1,2,3,4,5,6,7,8,9]) AS k)
        )
    ), ev AS (
        SELECT l.feature, t.thr,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN l.v <= t.thr AND NOT l.label THEN 1 ELSE 0 END)
                    + sum(CASE WHEN l.v > t.thr AND l.label THEN 1 ELSE 0 END)
                    AS BIGINT) AS mis_plus
        FROM lf l JOIN th t USING (feature)
        GROUP BY l.feature, t.thr
    ), sc AS (
        SELECT feature, thr, n,
               least(mis_plus, n - mis_plus) AS mis,
               CASE WHEN mis_plus <= n - mis_plus
                    THEN 'keep_if_le' ELSE 'keep_if_gt' END AS polarity
        FROM ev
    ), best AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (ORDER BY mis, feature, thr) AS r FROM sc
        ) WHERE r = 1
    )
    SELECT feature, CAST(thr AS BIGINT) AS threshold, polarity, n,
           mis AS n_misclassified,
           round(CAST(mis AS DOUBLE) / n, 6) AS error,
           round(0.5 * ln((1 - greatest(least(CAST(mis AS DOUBLE) / n,
                                              1 - 0.5 / n), 0.5 / n))
                          / greatest(least(CAST(mis AS DOUBLE) / n,
                                           1 - 0.5 / n), 0.5 / n)), 6) AS alpha
    FROM best
    """,
)
def boosting_stump_round_q(spark, sf_dir):
    """One AdaBoost round fitting a decision stump IN THE ENGINE
    (Freund-Schapire with uniform initial weights — demonstrating that
    a weak-learner training step is just a grouped aggregate, the way
    the quality classifier's documented swap point expects trained
    weights to be produced): features are quality_filters' own
    columns (token count, stopword fraction, TTR — micro-quantized so
    thresholds are exact integers), candidate thresholds are the 9
    exact decile selections per feature, and ALL 27 stumps evaluate in
    ONE conditional aggregate over the melted feature frame (a stump
    more costs a counter, not a pass). Best stump by exact integer
    misclassification count with deterministic ties; alpha from the
    clamped-error formula."""
    from ..operators import curation

    docs = load_table(spark, sf_dir, "documents", split=True)
    qf = curation.quality_filters(docs).select(
        "doc_id",
        F.col("n_tokens").alias("f_ntok"),
        F.expr(to_micro("stopword_frac")).alias("f_stop"),
        F.expr(to_micro("ttr")).alias("f_ttr"),
        F.col("keep").alias("label"),
    )
    lf = (
        qf.select(F.lit("n_tokens").alias("feature"), F.col("f_ntok").alias("v"), "label")
        .unionByName(
            qf.select(
                F.lit("stopword_frac").alias("feature"), F.col("f_stop").alias("v"), "label"
            )
        )
        .unionByName(
            qf.select(F.lit("ttr").alias("feature"), F.col("f_ttr").alias("v"), "label")
        )
    )
    ks = spark.createDataFrame([(k,) for k in range(1, 10)], "k long")
    th = (
        lf.groupBy("feature")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sort_array(F.collect_list("v")).alias("vs"),
        )
        .crossJoin(F.broadcast(ks))
        .select(
            "feature",
            F.element_at("vs", (F.expr("n * k div 10") + 1).cast("int")).alias("thr"),
        )
        .distinct()
    )
    ev = (
        lf.join(F.broadcast(th), "feature")
        .groupBy("feature", "thr")
        .agg(
            F.count("*").cast("long").alias("n"),
            (
                F.sum(F.when((F.col("v") <= F.col("thr")) & ~F.col("label"), 1).otherwise(0))
                + F.sum(F.when((F.col("v") > F.col("thr")) & F.col("label"), 1).otherwise(0))
            )
            .cast("long")
            .alias("mis_plus"),
        )
    )
    sc = ev.select(
        "feature",
        "thr",
        "n",
        F.least(F.col("mis_plus"), F.col("n") - F.col("mis_plus")).alias("mis"),
        F.when(F.col("mis_plus") <= F.col("n") - F.col("mis_plus"), "keep_if_le")
        .otherwise("keep_if_gt")
        .alias("polarity"),
    )
    best = (
        sc.withColumn(
            "r", F.row_number().over(Window.orderBy("mis", "feature", "thr"))
        )
        .filter(F.col("r") == 1)
        .drop("r")
    )
    e = F.col("mis").cast("double") / F.col("n")
    e_c = F.greatest(F.least(e, 1 - 0.5 / F.col("n")), 0.5 / F.col("n"))
    return best.select(
        "feature",
        F.col("thr").cast("long").alias("threshold"),
        "polarity",
        "n",
        F.col("mis").alias("n_misclassified"),
        F.round(e, 6).alias("error"),
        F.round(0.5 * F.log((1 - e_c) / e_c), 6).alias("alpha"),
    )


@query(
    "neyman_allocation",
    oracle="""
    WITH g AS (
        SELECT n.n_name,
               CAST(count(*) AS BIGINT) AS n_h,
               CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS s_h,
               sum(CAST(CAST(round(o.o_totalprice * 100) AS BIGINT) AS DECIMAL(18,0))
                   * CAST(round(o.o_totalprice * 100) AS BIGINT)) AS q_h
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    ), w AS (
        SELECT n_name, n_h,
               CAST(round(n_h * sqrt((CAST(q_h AS DOUBLE)
                    - CAST(s_h AS DOUBLE) * s_h / n_h) / (n_h - 1)) / 100)
                    AS BIGINT) AS w_u
        FROM g
    ), t AS (
        SELECT n_name, n_h, w_u,
               CAST(sum(w_u) OVER () AS BIGINT) AS tw
        FROM w
    ), fl AS (
        SELECT n_name, n_h, w_u, tw,
               CAST(1000 * w_u // tw AS BIGINT) AS base,
               1000 * w_u % tw AS rem
        FROM t
    )
    SELECT n_name, n_h AS stratum_rows,
           round(CAST(w_u AS DOUBLE) / tw, 6) AS neyman_share,
           CAST(base + CASE WHEN row_number() OVER (ORDER BY rem DESC, n_name)
                            <= 1000 - sum(base) OVER () THEN 1 ELSE 0 END AS BIGINT)
               AS allocated_n
    FROM fl
    """,
)
def neyman_allocation_q(spark, sf_dir):
    """Neyman optimal allocation of a 1000-row sampling budget across
    nation strata (n_h ∝ N_h·σ_h — minimum-variance stratified
    sampling; the principled upgrade to stratified_sample's
    proportional split, and intraclass_correlation's design-effect
    lesson applied): per-stratum std from ONE exact rollup (DECIMAL
    squares), N·σ weights quantized to exact cent units, and the
    integer budget splits by largest-remainder (token_budget_plan's
    Hamilton method) so Σ allocated_n == 1000 EXACTLY on both
    engines."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    cents = F.expr("cast(round(o_totalprice * 100) as bigint)")
    g = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").cast("long").alias("n_h"),
            F.sum(cents).cast("long").alias("s_h"),
            F.sum(cents.cast("decimal(18,0)") * cents).alias("q_h"),
        )
    )
    w = g.select(
        "n_name",
        "n_h",
        F.expr(
            "cast(round(n_h * sqrt((cast(q_h as double)"
            " - cast(s_h as double) * s_h / n_h) / (n_h - 1)) / 100) as bigint)"
        ).alias("w_u"),
    )
    wa = Window.partitionBy()
    t = w.select("n_name", "n_h", "w_u", F.sum("w_u").over(wa).cast("long").alias("tw"))
    fl = t.select(
        "n_name",
        "n_h",
        "w_u",
        "tw",
        F.expr("1000 * w_u div tw").cast("long").alias("base"),
        F.expr("1000 * w_u % tw").alias("rem"),
    )
    return fl.select(
        "n_name",
        F.col("n_h").alias("stratum_rows"),
        F.round(F.col("w_u").cast("double") / F.col("tw"), 6).alias("neyman_share"),
        (
            F.col("base")
            + F.when(
                F.row_number().over(Window.orderBy(F.col("rem").desc(), "n_name"))
                <= 1000 - F.sum("base").over(wa),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("allocated_n"),
    )


@query(
    "horvitz_thompson_total",
    oracle=f"""
    WITH b AS (
        SELECT CAST(count(*) AS BIGINT) AS nn,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS true_c
        FROM orders
    ), p AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS v_c,
               least(1.0, 2000 * CAST(round(o_totalprice * 100) AS BIGINT)
                          / CAST(b.true_c AS DOUBLE)) AS pi,
               {H.dd_md5_long('o_orderkey::VARCHAR')} / 1152921504606846976.0 AS u
        FROM orders, b
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS n_sampled,
               CAST(sum(CAST(round(v_c / pi) AS BIGINT)) AS BIGINT) AS ht_c
        FROM p WHERE u < pi
    )
    SELECT b.nn AS n_rows, s.n_sampled,
           round(CAST(b.true_c AS DOUBLE) / 100, 6) AS true_total,
           round(CAST(s.ht_c AS DOUBLE) / 100, 6) AS ht_estimate,
           round(abs(CAST(s.ht_c AS DOUBLE) - b.true_c) / b.true_c * 100, 6)
               AS abs_err_pct
    FROM s, b
    """,
)
def horvitz_thompson_total_q(spark, sf_dir):
    """Probability-proportional-to-size sampling + Horvitz-Thompson
    total (the unequal-probability estimator behind every 'sample the
    big accounts more' audit design: pi_i ∝ value, estimate
    Σ y_i/pi_i is unbiased): inclusion probabilities from one exact
    scalar pass (clamped at 1 for takeall units), the sample selected
    by the engine-portable md5 uniform — so both engines draw the
    SAME sample and the HT estimate matches to the cent; the
    abs-error column demonstrates the estimator against the true
    total it can see at test scale."""
    o = load_table(spark, sf_dir, "orders")
    b = o.agg(
        F.count("*").cast("long").alias("nn"),
        F.sum(F.expr("cast(round(o_totalprice * 100) as bigint)"))
        .cast("long")
        .alias("true_c"),
    )
    p = o.crossJoin(F.broadcast(b)).select(
        F.expr("cast(round(o_totalprice * 100) as bigint)").alias("v_c"),
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
        "nn",
        "true_c",
    )
    s = p.filter(F.col("u") < F.col("pi")).agg(
        F.count("*").cast("long").alias("n_sampled"),
        F.sum(F.expr("cast(round(v_c / pi) as bigint)")).cast("long").alias("ht_c"),
        F.max("nn").alias("nn"),
        F.max("true_c").alias("true_c"),
    )
    return s.select(
        F.col("nn").alias("n_rows"),
        "n_sampled",
        F.round(F.col("true_c").cast("double") / 100, 6).alias("true_total"),
        F.round(F.col("ht_c").cast("double") / 100, 6).alias("ht_estimate"),
        F.round(
            F.abs(F.col("ht_c").cast("double") - F.col("true_c"))
            / F.col("true_c")
            * 100,
            6,
        ).alias("abs_err_pct"),
    )


@query(
    "quadratic_trend_fit",
    oracle="""
    WITH m AS (
        SELECT (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS x,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y_c
        FROM orders GROUP BY x
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS s1, CAST(sum(x * x) AS BIGINT) AS s2,
               CAST(sum(x * x * x) AS BIGINT) AS s3,
               CAST(sum(x * x * x * x) AS BIGINT) AS s4,
               CAST(sum(y_c) AS BIGINT) AS sy,
               CAST(sum(x * y_c) AS BIGINT) AS sxy,
               CAST(sum(x * x * y_c) AS BIGINT) AS sx2y
        FROM m
    ), d AS (
        SELECT n, sy, sxy, sx2y,
               CAST(n AS DOUBLE) * (CAST(s2 AS DOUBLE) * s4 - CAST(s3 AS DOUBLE) * s3)
               - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s4 - CAST(s3 AS DOUBLE) * s2)
               + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s3 - CAST(s2 AS DOUBLE) * s2)
                   AS det,
               CAST(s1 AS DOUBLE) AS d1, CAST(s2 AS DOUBLE) AS d2,
               CAST(s3 AS DOUBLE) AS d3, CAST(s4 AS DOUBLE) AS d4
        FROM s
    )
    SELECT n AS n_months,
           round((CAST(sy AS DOUBLE) * (d2 * d4 - d3 * d3)
                  - d1 * (CAST(sxy AS DOUBLE) * d4 - d3 * CAST(sx2y AS DOUBLE))
                  + d2 * (CAST(sxy AS DOUBLE) * d3 - d2 * CAST(sx2y AS DOUBLE)))
                 / det / 100, 6) AS c0,
           round((CAST(n AS DOUBLE) * (CAST(sxy AS DOUBLE) * d4
                      - d3 * CAST(sx2y AS DOUBLE))
                  - CAST(sy AS DOUBLE) * (d1 * d4 - d3 * d2)
                  + d2 * (d1 * CAST(sx2y AS DOUBLE) - CAST(sxy AS DOUBLE) * d2))
                 / det / 100, 6) AS c1,
           round((CAST(n AS DOUBLE) * (d2 * CAST(sx2y AS DOUBLE)
                      - CAST(sxy AS DOUBLE) * d3)
                  - d1 * (d1 * CAST(sx2y AS DOUBLE) - CAST(sxy AS DOUBLE) * d2)
                  + CAST(sy AS DOUBLE) * (d1 * d3 - d2 * d2))
                 / det / 100, 6) AS c2
    FROM d
    """,
)
def quadratic_trend_fit_q(spark, sf_dir):
    """Quadratic trend fit of monthly revenue, y = c0 + c1·x + c2·x²
    (revenue_forecast's linear trend can't see acceleration — c2's
    sign IS the 'growth is speeding up / rolling over' readout): the
    classic closed-form normal equations via Cramer's rule on the
    3×3 moment matrix — ALL seven moments (Σx..Σx⁴, Σy, Σxy, Σx²y)
    are exact integers from the month-frame rollup (x ≤ 84 keeps x⁴
    well inside BIGINT), and the three determinant expansions are
    written in the identical expansion order on both engines. No
    solver, no iteration: polynomial regression as one aggregate."""
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        ((F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1).alias("x")
    ).agg(
        F.sum(F.expr("cast(round(o_totalprice * 100) as bigint)"))
        .cast("long")
        .alias("y_c")
    )
    x = F.col("x")
    s = m.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(x).cast("long").alias("s1"),
        F.sum(x * x).cast("long").alias("s2"),
        F.sum(x * x * x).cast("long").alias("s3"),
        F.sum(x * x * x * x).cast("long").alias("s4"),
        F.sum("y_c").cast("long").alias("sy"),
        F.sum(x * F.col("y_c")).cast("long").alias("sxy"),
        F.sum(x * x * F.col("y_c")).cast("long").alias("sx2y"),
    )
    nd = F.col("n").cast("double")
    d1, d2 = F.col("s1").cast("double"), F.col("s2").cast("double")
    d3, d4 = F.col("s3").cast("double"), F.col("s4").cast("double")
    syd = F.col("sy").cast("double")
    sxyd = F.col("sxy").cast("double")
    sx2yd = F.col("sx2y").cast("double")
    det = (
        nd * (d2 * d4 - d3 * d3)
        - d1 * (d1 * d4 - d3 * d2)
        + d2 * (d1 * d3 - d2 * d2)
    )
    c0 = (
        syd * (d2 * d4 - d3 * d3)
        - d1 * (sxyd * d4 - d3 * sx2yd)
        + d2 * (sxyd * d3 - d2 * sx2yd)
    ) / det
    c1 = (
        nd * (sxyd * d4 - d3 * sx2yd)
        - syd * (d1 * d4 - d3 * d2)
        + d2 * (d1 * sx2yd - sxyd * d2)
    ) / det
    c2 = (
        nd * (d2 * sx2yd - sxyd * d3)
        - d1 * (d1 * sx2yd - sxyd * d2)
        + syd * (d1 * d3 - d2 * d2)
    ) / det
    return s.select(
        F.col("n").alias("n_months"),
        F.round(c0 / 100, 6).alias("c0"),
        F.round(c1 / 100, 6).alias("c1"),
        F.round(c2 / 100, 6).alias("c2"),
    )


@query(
    "mix_shift_decomposition",
    oracle=f"""
    WITH b AS (
        SELECT (min(epoch_ns(ts)) + max(epoch_ns(ts))) // 2 AS cut FROM events
    ), g AS (
        SELECT event_type,
               CAST(sum(CASE WHEN epoch_ns(ts) <= b.cut THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(sum(CASE WHEN epoch_ns(ts) <= b.cut THEN 0 ELSE 1 END) AS BIGINT) AS n2,
               CAST(sum(CASE WHEN epoch_ns(ts) <= b.cut
                             THEN {to_micro('value')} ELSE 0 END)
                    AS BIGINT) AS s1,
               CAST(sum(CASE WHEN epoch_ns(ts) <= b.cut THEN 0
                             ELSE {to_micro('value')} END)
                    AS BIGINT) AS s2
        FROM events, b GROUP BY event_type
    ), t AS (
        SELECT event_type, n1, n2, s1, s2,
               CAST(sum(n1) OVER () AS BIGINT) AS t1,
               CAST(sum(n2) OVER () AS BIGINT) AS t2
        FROM g
    ), c AS (
        SELECT event_type,
               CAST(n1 AS DOUBLE) / t1 AS share1, CAST(n2 AS DOUBLE) / t2 AS share2,
               {from_micro('CAST(s1 AS DOUBLE) / n1')} AS rate1,
               {from_micro('CAST(s2 AS DOUBLE) / n2')} AS rate2
        FROM t WHERE n1 > 0 AND n2 > 0
    )
    SELECT event_type,
           round(share1, 6) AS share_pre, round(share2, 6) AS share_post,
           round(rate1, 6) AS rate_pre, round(rate2, 6) AS rate_post,
           round((share2 - share1) * rate1, 6) AS mix_effect,
           round(share2 * (rate2 - rate1), 6) AS rate_effect,
           {emit_micro(f"CAST(sum({to_micro('(share2 - share1) * rate1 + share2 * (rate2 - rate1)')}) OVER () AS DOUBLE)")}
               AS total_delta
    FROM c
    """,
)
def mix_shift_decomposition_q(spark, sf_dir):
    """Mix-vs-rate decomposition of the mean event value's change
    across the cutover (the 'why did the average move' analysis every
    metrics review runs: did segment RATES change, or did the MIX of
    segments shift? — Oaxaca-Blinder's accounting identity
    Δ = Σ(Δshare·rate_pre + share_post·Δrate)): one conditional
    rollup builds all per-type cells, totals ride window sums on the
    types frame, each effect is an identical double expression over
    exact integers, and the reconciliation total sums 6dp micro-unit
    contributions so Δ decomposes EXACTLY on both engines."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(F.expr("(min(ts_ns) + max(ts_ns)) div 2").alias("cut"))
    v_u = to_micro("value")
    g = ev.crossJoin(F.broadcast(b)).groupBy("event_type").agg(
        F.sum(F.when(F.col("ts_ns") <= F.col("cut"), 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("ts_ns") <= F.col("cut"), 0).otherwise(1))
        .cast("long")
        .alias("n2"),
        F.sum(F.when(F.col("ts_ns") <= F.col("cut"), F.expr(v_u)).otherwise(0))
        .cast("long")
        .alias("s1"),
        F.sum(F.when(F.col("ts_ns") <= F.col("cut"), 0).otherwise(F.expr(v_u)))
        .cast("long")
        .alias("s2"),
    )
    wa = Window.partitionBy()
    t = g.select(
        "*",
        F.sum("n1").over(wa).cast("long").alias("t1"),
        F.sum("n2").over(wa).cast("long").alias("t2"),
    ).filter((F.col("n1") > 0) & (F.col("n2") > 0))
    share1 = F.col("n1").cast("double") / F.col("t1")
    share2 = F.col("n2").cast("double") / F.col("t2")
    rate1 = F.expr(from_micro("CAST(s1 AS DOUBLE) / n1"))
    rate2 = F.expr(from_micro("CAST(s2 AS DOUBLE) / n2"))
    c = t.select(
        "event_type",
        F.round(share1, 6).alias("share_pre"),
        F.round(share2, 6).alias("share_post"),
        F.round(rate1, 6).alias("rate_pre"),
        F.round(rate2, 6).alias("rate_post"),
        F.round((share2 - share1) * rate1, 6).alias("mix_effect"),
        F.round(share2 * (rate2 - rate1), 6).alias("rate_effect"),
        (
            (share2 - share1) * rate1 + share2 * (rate2 - rate1)
        ).alias("_contrib"),
    )
    return c.select(
        "event_type",
        "share_pre",
        "share_post",
        "rate_pre",
        "rate_post",
        "mix_effect",
        "rate_effect",
        F.expr(emit_micro(f"CAST(sum({to_micro('_contrib')}) OVER () AS DOUBLE)")).alias(
            "total_delta"
        ),
    )


def _cost_optimal_threshold_oracle() -> str:
    base = _classifier_calibration_oracle().rsplit(", binned AS", 1)[0]
    return (
        base
        + """
    , thr AS (
        SELECT unnest([0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS tau
    ), j AS (
        SELECT t.tau,
               CAST(sum(CASE WHEN p.prob >= t.tau AND NOT l.label THEN 1 ELSE 0 END)
                    AS BIGINT) AS fp,
               CAST(sum(CASE WHEN p.prob < t.tau AND l.label THEN 1 ELSE 0 END)
                    AS BIGINT) AS fn
        FROM probs p JOIN labels l ON l.doc_id = p.doc_id CROSS JOIN thr t
        GROUP BY t.tau
    ), costed AS (
        SELECT tau, fp, fn, fp * 1 + fn * 5 AS cost
        FROM j
    )
    SELECT tau, fp, fn, CAST(cost AS BIGINT) AS cost,
           CAST(cost AS BIGINT) = CAST(min(cost) OVER () AS BIGINT) AS is_optimal
    FROM costed
    """
    )


@query("cost_optimal_threshold", oracle=None)  # oracle attached below
def cost_optimal_threshold_q(spark, sf_dir):
    """Cost-sensitive operating point for the quality classifier (the
    decision-theory step after classifier_pr_curve: with a false
    negative 5x as expensive as a false positive — dropping good
    training data costs more than keeping some junk — which tau
    minimizes expected cost?): the same single counting aggregate as
    the PR curve, an exact integer cost per threshold, and the
    argmin flagged via a window over the 9-row grid. Change the cost
    literals and the whole policy re-derives in one pass."""
    from ..operators import curation

    docs = load_table(spark, sf_dir, "documents", split=True)
    probs = curation.quality_classifier(docs).select("doc_id", "prob")
    labels = curation.quality_filters(docs).select(
        "doc_id", F.col("keep").alias("label")
    )
    thr = spark.createDataFrame([(t / 10.0,) for t in range(1, 10)], "tau double")
    j = (
        probs.join(labels, "doc_id")
        .crossJoin(F.broadcast(thr))
        .groupBy("tau")
        .agg(
            F.sum(
                F.when((F.col("prob") >= F.col("tau")) & ~F.col("label"), 1).otherwise(0)
            )
            .cast("long")
            .alias("fp"),
            F.sum(F.when((F.col("prob") < F.col("tau")) & F.col("label"), 1).otherwise(0))
            .cast("long")
            .alias("fn"),
        )
    )
    costed = j.select(
        "tau", "fp", "fn", (F.col("fp") * 1 + F.col("fn") * 5).cast("long").alias("cost")
    )
    return costed.select(
        "tau",
        "fp",
        "fn",
        "cost",
        (F.col("cost") == F.min("cost").over(Window.partitionBy())).alias("is_optimal"),
    )


ORACLES["cost_optimal_threshold"] = _cost_optimal_threshold_oracle()


@query(
    "winsorized_mean_stats",
    oracle=f"""
    WITH e AS (
        SELECT event_type, {to_micro('value')} AS v_u
        FROM events
    ), s AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               list_sort(list(v_u)) AS vs
        FROM e GROUP BY event_type
    ), b AS (
        SELECT event_type, n,
               vs[CAST(n // 10 + 1 AS INTEGER)] AS lo,
               vs[CAST(n - n // 10 AS INTEGER)] AS hi
        FROM s
    )
    SELECT e.event_type, b.n,
           {emit_micro('b.lo')} AS clamp_lo,
           {emit_micro('b.hi')} AS clamp_hi,
           {emit_micro('''CAST(sum(least(greatest(e.v_u, b.lo), b.hi)) AS DOUBLE)
                 / b.n''')} AS winsorized_mean,
           {emit_micro('CAST(sum(e.v_u) AS DOUBLE) / b.n')} AS raw_mean
    FROM e JOIN b USING (event_type)
    GROUP BY e.event_type, b.n, b.lo, b.hi
    """,
)
def winsorized_mean_stats_q(spark, sf_dir):
    """10%%-winsorized mean per event type (trimmed_mean_stats DROPS
    the tails — winsorizing CLAMPS them, keeping n constant, which is
    what a metrics pipeline wants when downstream joins assume every
    row survives): clamp bounds by exact sorted selection (the
    documented approx_percentile swap at 100 TB), then ONE more pass
    clamps and sums exact integers — the winsorized mean is
    order-free, shown against the raw mean as the outlier-impact
    readout."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type", F.expr(to_micro("value")).alias("v_u")
    )
    s = e.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sort_array(F.collect_list("v_u")).alias("vs"),
    )
    b = s.select(
        "event_type",
        "n",
        F.element_at("vs", (F.expr("n div 10") + 1).cast("int")).alias("lo"),
        F.element_at("vs", (F.col("n") - F.expr("n div 10")).cast("int")).alias("hi"),
    )
    return (
        e.join(F.broadcast(b), "event_type")
        .groupBy("event_type", "n", "lo", "hi")
        .agg(
            F.sum(F.least(F.greatest(F.col("v_u"), F.col("lo")), F.col("hi")))
            .cast("long")
            .alias("_ws"),
            F.sum("v_u").cast("long").alias("_rs"),
        )
        .select(
            "event_type",
            "n",
            F.expr(emit_micro("lo")).alias("clamp_lo"),
            F.expr(emit_micro("hi")).alias("clamp_hi"),
            F.expr(emit_micro("CAST(_ws AS DOUBLE) / n")).alias("winsorized_mean"),
            F.expr(emit_micro("CAST(_rs AS DOUBLE) / n")).alias("raw_mean"),
        )
    )


@query(
    "revenue_max_drawdown",
    oracle=f"""
    WITH m AS (
        SELECT (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS month_id,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
        FROM orders GROUP BY month_id
    ), anom AS (
        SELECT month_id, rev_c,
               CAST(count(*) OVER () AS BIGINT) AS nm,
               CAST(count(*) OVER () AS BIGINT) * rev_c
               - CAST(sum(rev_c) OVER () AS BIGINT) AS dev_u
        FROM m
    ), c AS (
        SELECT month_id, nm,
               CAST(sum(dev_u) OVER (ORDER BY month_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS cum_u
        FROM anom
    ), dd AS (
        SELECT month_id, nm, cum_u,
               CAST(max(cum_u) OVER (ORDER BY month_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS peak_u
        FROM c
    )
    SELECT CAST(month_id AS BIGINT) AS month_id,
           -- exact micro emission (r8): round(double/nm/100, 6) at 4e9+
           -- magnitudes is sub-ulp and engine-dependent; round-div the
           -- exact integers to micro-dollars first (HUGEINT headroom),
           -- then ONE double division
           {from_micro(f"CAST({dd_round_div('CAST(cum_u AS HUGEINT) * 10000', 'nm')} AS DOUBLE)")}
               AS cum_deviation,
           {from_micro(f"CAST({dd_round_div('CAST(peak_u AS HUGEINT) * 10000', 'nm')} AS DOUBLE)")}
               AS running_peak,
           {from_micro(f"CAST({dd_round_div('CAST(peak_u - cum_u AS HUGEINT) * 10000', 'nm')} AS DOUBLE)")}
               AS drawdown,
           CAST(peak_u - cum_u AS BIGINT)
               = CAST(max(peak_u - cum_u) OVER () AS BIGINT) AS is_max_drawdown
    FROM dd
    """,
)
def revenue_max_drawdown_q(spark, sf_dir):
    """Maximum drawdown of cumulative revenue DEVIATION from its mean
    month (the risk lens on the revenue series: the deepest sustained
    under-performance stretch vs trend — where cusum_changepoint finds
    WHERE the level shifted, drawdown says HOW BAD the worst run was):
    month rollup → mean-deviation cumulative sum → running peak →
    drawdown, all EXACT integers via the scale-by-n identity
    n·rev − total (cusum_changepoint's trick — no float mean enters
    the scan) on calendar-bounded window frames; the max-drawdown
    month is flagged by exact integer comparison."""
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
    wa = Window.partitionBy()
    anom = m.select(
        "month_id",
        F.count("*").over(wa).cast("long").alias("nm"),
        (
            F.count("*").over(wa).cast("long") * F.col("rev_c")
            - F.sum("rev_c").over(wa).cast("long")
        ).alias("dev_u"),
    )
    wc = Window.orderBy("month_id").rowsBetween(Window.unboundedPreceding, 0)
    c = anom.select(
        "month_id", "nm", F.sum("dev_u").over(wc).cast("long").alias("cum_u")
    )
    dd = c.select(
        "month_id", "nm", "cum_u", F.max("cum_u").over(wc).cast("long").alias("peak_u")
    )
    def micro(a_sql):  # exact round-div to micro-dollars
        u = round_div(f"cast({a_sql} as decimal(38,0)) * 10000", "nm")
        return F.expr(from_micro(f"cast({u} as double)"))
    return dd.select(
        F.col("month_id").cast("long"),
        micro("cum_u").alias("cum_deviation"),
        micro("peak_u").alias("running_peak"),
        micro("(peak_u - cum_u)").alias("drawdown"),
        (
            (F.col("peak_u") - F.col("cum_u"))
            == F.max(F.col("peak_u") - F.col("cum_u")).over(wa).cast("long")
        ).alias("is_max_drawdown"),
    )
