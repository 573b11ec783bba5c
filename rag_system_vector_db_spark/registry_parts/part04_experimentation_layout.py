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

from .part01_vector_chunk_text_dedup_rag_ann import _DD_BANDS, _DD_MINHASH_SIG, _DD_SHINGLES, _DD_TOKS, _query_corpus  # noqa: F401
from .part02_index_build_diag_curation import _knn_graph_edges, _knn_graph_oracle, _qcls_weights_sql  # noqa: F401


@query(
    "corr_matrix",
    oracle="""
    WITH s AS (
        SELECT count(*) AS n,
               sum(CAST(l_quantity AS DECIMAL(18,2))) AS s_q,
               sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS s_p,
               sum(CAST(l_discount AS DECIMAL(18,2))) AS s_d,
               sum(CAST(l_tax AS DECIMAL(18,2))) AS s_t,
               sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS ss_q,
               sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS ss_p,
               sum(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS ss_d,
               sum(CAST(l_tax AS DECIMAL(18,2)) * CAST(l_tax AS DECIMAL(18,2))) AS ss_t,
               sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS x_qp,
               sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS x_qd,
               sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_tax AS DECIMAL(18,2))) AS x_qt,
               sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS x_pd,
               sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_tax AS DECIMAL(18,2))) AS x_pt,
               sum(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_tax AS DECIMAL(18,2))) AS x_dt
        FROM lineitem
    ), p AS (
        SELECT 'quantity' AS col_a, 'extendedprice' AS col_b, n,
               CAST(x_qp AS DOUBLE) AS sxy, CAST(s_q AS DOUBLE) AS sx, CAST(s_p AS DOUBLE) AS sy,
               CAST(ss_q AS DOUBLE) AS sxx, CAST(ss_p AS DOUBLE) AS syy FROM s
        UNION ALL
        SELECT 'quantity', 'discount', n, CAST(x_qd AS DOUBLE), CAST(s_q AS DOUBLE), CAST(s_d AS DOUBLE),
               CAST(ss_q AS DOUBLE), CAST(ss_d AS DOUBLE) FROM s
        UNION ALL
        SELECT 'quantity', 'tax', n, CAST(x_qt AS DOUBLE), CAST(s_q AS DOUBLE), CAST(s_t AS DOUBLE),
               CAST(ss_q AS DOUBLE), CAST(ss_t AS DOUBLE) FROM s
        UNION ALL
        SELECT 'extendedprice', 'discount', n, CAST(x_pd AS DOUBLE), CAST(s_p AS DOUBLE), CAST(s_d AS DOUBLE),
               CAST(ss_p AS DOUBLE), CAST(ss_d AS DOUBLE) FROM s
        UNION ALL
        SELECT 'extendedprice', 'tax', n, CAST(x_pt AS DOUBLE), CAST(s_p AS DOUBLE), CAST(s_t AS DOUBLE),
               CAST(ss_p AS DOUBLE), CAST(ss_t AS DOUBLE) FROM s
        UNION ALL
        SELECT 'discount', 'tax', n, CAST(x_dt AS DOUBLE), CAST(s_d AS DOUBLE), CAST(s_t AS DOUBLE),
               CAST(ss_d AS DOUBLE), CAST(ss_t AS DOUBLE) FROM s
    )
    SELECT col_a, col_b, CAST(n AS BIGINT) AS n,
           round((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS corr
    FROM p
    """,
)
def corr_matrix_q(spark, sf_dir):
    """Pairwise Pearson correlation matrix over lineitem's numeric
    columns (the feature-profiling pass before any modeling work): ONE
    aggregate computes all 4 sums + 4 sum-of-squares + 6 cross-products
    as exact DECIMAL(18,2) accumulators (order-independent — the same
    exact-moments posture as column_profile), then the 6 pairs unpivot
    from that single row driver-free via an in-plan stack(). One scan,
    one map-side-combinable shuffle of a single row; corr derives from
    the exact sums in double at emit time with the textbook
    (n·Sxy − Sx·Sy)/√((n·Sxx − Sx²)(n·Syy − Sy²)) form, identical
    operation order on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    cols = {"q": "l_quantity", "p": "l_extendedprice", "d": "l_discount", "t": "l_tax"}
    dec = {k: F.col(c).cast("decimal(18,2)") for k, c in cols.items()}
    aggs = [F.count("*").alias("n")]
    for k in cols:
        aggs.append(F.sum(dec[k]).alias(f"s_{k}"))
        aggs.append(F.sum(dec[k] * dec[k]).alias(f"ss_{k}"))
    pairs = [("q", "p"), ("q", "d"), ("q", "t"), ("p", "d"), ("p", "t"), ("d", "t")]
    for a, b in pairs:
        aggs.append(F.sum(dec[a] * dec[b]).alias(f"x_{a}{b}"))
    s = li.agg(*aggs)
    names = {"q": "quantity", "p": "extendedprice", "d": "discount", "t": "tax"}
    stack_args = ", ".join(
        f"'{names[a]}', '{names[b]}', cast(x_{a}{b} as double), "
        f"cast(s_{a} as double), cast(s_{b} as double), "
        f"cast(ss_{a} as double), cast(ss_{b} as double)"
        for a, b in pairs
    )
    unp = s.select(
        "n",
        F.expr(
            f"stack({len(pairs)}, {stack_args}) AS (col_a, col_b, sxy, sx, sy, sxx, syy)"
        ),
    )
    n = F.col("n").cast("double")
    return unp.select(
        "col_a",
        "col_b",
        F.col("n").cast("long").alias("n"),
        F.round(
            (n * F.col("sxy") - F.col("sx") * F.col("sy"))
            / F.sqrt(
                (n * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (n * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("corr"),
    )


@query(
    "cusum_changepoint",
    oracle=f"""
    WITH s AS (
        SELECT event_type, event_id, epoch_ns(ts) AS ts_ns,
               {to_micro('value')} AS v_u,
               row_number() OVER w AS t,
               sum({to_micro('value')}) OVER
                   (PARTITION BY event_type ORDER BY epoch_ns(ts), event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pfx,
               count(*) OVER (PARTITION BY event_type) AS n,
               sum({to_micro('value')})
                   OVER (PARTITION BY event_type) AS total
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY epoch_ns(ts), event_id)
    ), c AS (
        SELECT event_type, t, ts_ns, n,
               abs(n * pfx - t * total) AS s_abs,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY abs(n * pfx - t * total) DESC, t) AS rk
        FROM s
    )
    SELECT event_type, CAST(n AS BIGINT) AS n, CAST(t AS BIGINT) AS t_star,
           ts_ns AS ts_ns_star,
           {emit_micro('s_abs / CAST(n AS DOUBLE)')} AS cusum_peak
    FROM c WHERE rk = 1
    """,
)
def cusum_changepoint_q(spark, sf_dir):
    """CUSUM changepoint per event type (where did the level shift? —
    the classic page-one drift detector over a metric stream): the
    peak of |S_t| where S_t = Σ_{i≤t}(x_i − x̄). Computed EXACTLY in
    integer micro-units via the scale-by-n identity
    n·S_t = n·prefix_t − t·total (no float mean subtraction inside the
    scan, so cross-engine prefix order can't drift). Both cumulative
    and whole-partition aggregates ride the SAME event_type window
    partitioning — one shuffle, then an in-partition argmax via
    row_number (ties → earliest t). Bigint headroom: n·prefix ≤
    n²·max|v_u| ≈ 1e17 at sf0.1; the 100 TB swap-in is DECIMAL(38,0)
    accumulators, same plan shape."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts_ns", "event_id")
    wall = Window.partitionBy("event_type")
    s = ev.select(
        "event_type",
        "event_id",
        "ts_ns",
        F.expr(to_micro("value")).alias("v_u"),
    ).select(
        "event_type",
        "ts_ns",
        F.row_number().over(w).alias("t"),
        F.sum("v_u").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("pfx"),
        F.count("*").over(wall).alias("n"),
        F.sum("v_u").over(wall).alias("total"),
    )
    c = s.select(
        "event_type",
        "t",
        "ts_ns",
        "n",
        F.abs(F.col("n") * F.col("pfx") - F.col("t") * F.col("total")).alias("s_abs"),
    ).withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(F.col("s_abs").desc(), "t")
        ),
    )
    return c.filter(F.col("rk") == 1).select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("t").cast("long").alias("t_star"),
        F.col("ts_ns").alias("ts_ns_star"),
        F.expr(emit_micro("s_abs / CAST(n AS DOUBLE)")).alias("cusum_peak"),
    )


@query(
    "events_interarrival",
    oracle="""
    WITH g AS (
        SELECT event_type,
               epoch_ns(ts) - lag(epoch_ns(ts)) OVER
                   (PARTITION BY event_type ORDER BY epoch_ns(ts), event_id) AS gap
        FROM events
    )
    SELECT event_type,
           CAST(count(gap) AS BIGINT) AS n_gaps,
           round(CAST(sum(CAST(gap AS DECIMAL(38,0))) AS DOUBLE) / count(gap) / 1e9, 6) AS mean_gap_s,
           round(sqrt((CAST(sum(CAST(gap AS DECIMAL(38,0)) * CAST(gap AS DECIMAL(38,0))) AS DOUBLE)
                       - CAST(sum(CAST(gap AS DECIMAL(38,0))) AS DOUBLE)
                         * CAST(sum(CAST(gap AS DECIMAL(38,0))) AS DOUBLE) / count(gap))
                      / (count(gap) - 1)) / 1e9, 6) AS std_gap_s,
           round(sqrt((CAST(sum(CAST(gap AS DECIMAL(38,0)) * CAST(gap AS DECIMAL(38,0))) AS DOUBLE)
                       - CAST(sum(CAST(gap AS DECIMAL(38,0))) AS DOUBLE)
                         * CAST(sum(CAST(gap AS DECIMAL(38,0))) AS DOUBLE) / count(gap))
                      / (count(gap) - 1))
                 / (CAST(sum(CAST(gap AS DECIMAL(38,0))) AS DOUBLE) / count(gap)), 6) AS cv
    FROM g GROUP BY event_type
    """,
)
def events_interarrival_q(spark, sf_dir):
    """Inter-arrival burstiness profile per event type (CV≈1 ⇒
    Poisson-like, CV≫1 ⇒ bursty — the sizing input for stream-state
    and rate-limit budgets): lag() gaps in exact ns over one
    event-time window shuffle, then mean/std/CV from exact
    DECIMAL(38,0) Σg and Σg² (gap² overflows bigint at month spans —
    decimal accumulators are the right call at any scale), doubles
    only at emit. Sample std (n−1); first event per type contributes
    no gap."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts_ns", "event_id")
    g = ev.select(
        "event_type",
        (F.col("ts_ns") - F.lag("ts_ns").over(w)).cast("decimal(38,0)").alias("gap"),
    )
    agg = g.groupBy("event_type").agg(
        F.count("gap").alias("n_gaps"),
        F.sum("gap").alias("sg"),
        F.sum(F.col("gap") * F.col("gap")).alias("sgg"),
    )
    n = F.col("n_gaps").cast("double")
    sg = F.col("sg").cast("double")
    sgg = F.col("sgg").cast("double")
    var = (sgg - sg * sg / n) / (n - F.lit(1.0))
    return agg.select(
        "event_type",
        F.col("n_gaps").cast("long").alias("n_gaps"),
        F.round(sg / n / F.lit(1e9), 6).alias("mean_gap_s"),
        F.round(F.sqrt(var) / F.lit(1e9), 6).alias("std_gap_s"),
        F.round(F.sqrt(var) / (sg / n), 6).alias("cv"),
    )


@query(
    "ab_welch_ttest",
    oracle="""
    WITH b AS (
        SELECT (min(epoch_ns(ts)) + max(epoch_ns(ts))) // 2 AS cut FROM events
    ), s AS (
        SELECT event_type, epoch_ns(ts) <= b.cut AS pre,
               CAST(CAST(round(value * 1000) AS BIGINT) AS DECIMAL(18,0)) AS v_m
        FROM events, b
    ), a AS (
        SELECT event_type,
               sum(CASE WHEN pre THEN 1 ELSE 0 END) AS n1,
               sum(CASE WHEN pre THEN 0 ELSE 1 END) AS n2,
               sum(CASE WHEN pre THEN v_m ELSE 0 END) AS s1,
               sum(CASE WHEN pre THEN 0 ELSE v_m END) AS s2,
               sum(CASE WHEN pre THEN v_m * v_m ELSE 0 END) AS q1,
               sum(CASE WHEN pre THEN 0 ELSE v_m * v_m END) AS q2
        FROM s GROUP BY event_type
    ), d AS (
        SELECT event_type, n1, n2,
               CAST(s1 AS DOUBLE) / n1 AS m1, CAST(s2 AS DOUBLE) / n2 AS m2,
               ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n1) / (n1 - 1)) / n1 AS se1,
               ((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / n2) / (n2 - 1)) / n2 AS se2
        FROM a
    )
    SELECT event_type, CAST(n1 AS BIGINT) AS n_pre, CAST(n2 AS BIGINT) AS n_post,
           round(m1 / 1e3, 6) AS mean_pre,
           round(m2 / 1e3, 6) AS mean_post,
           round((m2 - m1) / sqrt(se1 + se2) , 6) AS t_stat,
           round((se1 + se2) * (se1 + se2)
                 / (se1 * se1 / (n1 - 1) + se2 * se2 / (n2 - 1)), 6) AS welch_df
    FROM d
    """,
)
def ab_welch_ttest_q(spark, sf_dir):
    """Welch two-sample t-test per event type across the exact-midpoint
    pre/post cutover (pre_post_analysis's panel upgraded from a point
    estimate to an inference readout — unequal variances assumed, the
    safe default for experiment analysis): counts, Σv and Σv² for BOTH
    windows come from ONE conditional aggregate — one fact shuffle.
    Milli-unit DECIMAL(18,0) accumulators keep Σv² exact (micro-units
    would square to 3e17/row and threaten bigint), doubles only at the
    t-statistic / Welch–Satterthwaite df emit, identical operation
    order on both engines."""
    ev = load_table(spark, sf_dir, "events")
    cut = ev.agg(F.expr("(min(ts_ns) + max(ts_ns)) div 2").alias("_cut"))
    s = ev.crossJoin(F.broadcast(cut)).select(
        "event_type",
        (F.col("ts_ns") <= F.col("_cut")).alias("pre"),
        F.expr("cast(cast(round(value * 1000) as bigint) as decimal(18,0))").alias(
            "v_m"
        ),
    )
    zero = F.lit(0).cast("decimal(18,0)")
    a = s.groupBy("event_type").agg(
        F.sum(F.when(F.col("pre"), 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("pre"), 0).otherwise(1)).alias("n2"),
        F.sum(F.when(F.col("pre"), F.col("v_m")).otherwise(zero)).alias("s1"),
        F.sum(F.when(F.col("pre"), zero).otherwise(F.col("v_m"))).alias("s2"),
        F.sum(
            F.when(F.col("pre"), F.col("v_m") * F.col("v_m")).otherwise(
                F.lit(0).cast("decimal(38,0)")
            )
        ).alias("q1"),
        F.sum(
            F.when(F.col("pre"), F.lit(0).cast("decimal(38,0)")).otherwise(
                F.col("v_m") * F.col("v_m")
            )
        ).alias("q2"),
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    m1 = F.col("s1").cast("double") / n1
    m2 = F.col("s2").cast("double") / n2
    se1 = ((F.col("q1").cast("double") - F.col("s1").cast("double") * F.col("s1").cast("double") / n1) / (n1 - F.lit(1.0))) / n1
    se2 = ((F.col("q2").cast("double") - F.col("s2").cast("double") * F.col("s2").cast("double") / n2) / (n2 - F.lit(1.0))) / n2
    return a.select(
        "event_type",
        F.col("n1").cast("long").alias("n_pre"),
        F.col("n2").cast("long").alias("n_post"),
        F.round(m1 / F.lit(1e3), 6).alias("mean_pre"),
        F.round(m2 / F.lit(1e3), 6).alias("mean_post"),
        F.round((m2 - m1) / F.sqrt(se1 + se2), 6).alias("t_stat"),
        F.round(
            (se1 + se2) * (se1 + se2)
            / (se1 * se1 / (n1 - F.lit(1.0)) + se2 * se2 / (n2 - F.lit(1.0))),
            6,
        ).alias("welch_df"),
    )


@query(
    "corpus_temperature_mix",
    oracle="""
    WITH t AS (
        SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY lang
    ), z AS (
        SELECT sum(n_tokens) AS total,
               sum(pow(CAST(n_tokens AS DOUBLE), 0.3)) AS z03 FROM t
    )
    SELECT lang, n_tokens,
           round(CAST(n_tokens AS DOUBLE) / total, 6) AS share,
           round(pow(CAST(n_tokens AS DOUBLE), 0.3) / z03, 6) AS w_alpha,
           round((pow(CAST(n_tokens AS DOUBLE), 0.3) / z03)
                 / (CAST(n_tokens AS DOUBLE) / total), 6) AS upsample
    FROM t, z
    """,
)
def corpus_temperature_mix_q(spark, sf_dir):
    """Temperature-scaled multilingual sampling mix (the mBERT/XLM-R
    α-sampling recipe, α = 0.3: p_l ∝ n_l^α flattens the head so
    low-resource languages aren't starved): per-lang token totals from
    one map-side-combinable shuffle; the normalizers ride back as ONE
    broadcast scalar row; w_alpha, raw share and the implied
    upsample factor derive per row at emit. The only data-sized pass is
    the tokenize+count scan. Whitespace tokens match token_count's
    convention exactly."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.groupBy("lang").agg(
        F.sum(F.size(F.split(F.col("text"), " ", -1))).cast("long").alias("n_tokens")
    )
    z = t.agg(
        F.sum("n_tokens").alias("total"),
        F.sum(F.pow(F.col("n_tokens").cast("double"), F.lit(0.3))).alias("z03"),
    )
    share = F.col("n_tokens").cast("double") / F.col("total")
    w = F.pow(F.col("n_tokens").cast("double"), F.lit(0.3)) / F.col("z03")
    return (
        t.crossJoin(F.broadcast(z))
        .select(
            "lang",
            "n_tokens",
            F.round(share, 6).alias("share"),
            F.round(w, 6).alias("w_alpha"),
            F.round(w / share, 6).alias("upsample"),
        )
    )


@query(
    "token_budget_plan",
    oracle="""
    WITH t AS (
        SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ), z AS (
        SELECT sum(n_tokens) AS total FROM t
    ), q AS (
        SELECT source, n_tokens,
               CAST((10000000 * n_tokens) // z.total AS BIGINT) AS base_quota,
               (10000000 * n_tokens) % z.total AS rem_units
        FROM t, z
    ), r AS (
        SELECT *, row_number() OVER (ORDER BY rem_units DESC, source) AS rk,
               10000000 - sum(base_quota) OVER () AS leftover
        FROM q
    )
    SELECT source, n_tokens, base_quota,
           CAST(base_quota + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS final_quota,
           round((base_quota + CASE WHEN rk <= leftover THEN 1 ELSE 0 END)
                 / CAST(n_tokens AS DOUBLE), 6) AS epochs
    FROM r
    """,
)
def token_budget_plan_q(spark, sf_dir):
    """Training-token budget allocation per source by the
    largest-remainder (Hamilton) method — the integer-exact way to
    split a fixed 10M-token budget proportionally with Σquota == budget
    GUARANTEED (naive rounding drifts by ±k tokens): floor quotas and
    remainders from exact integer arithmetic (budget·n_s fits bigint up
    to corpus sizes of ~1e12 tokens; swap DECIMAL at 100 TB), leftover
    units distributed by remainder rank (ties → source name). Everything
    after the one tokenize+count shuffle runs on the sources-sized tiny
    frame (window over a handful of rows). Epochs-per-source is the
    over/undersampling readout a data-mix plan needs."""
    docs = load_table(spark, sf_dir, "documents")
    budget = F.lit(10_000_000).cast("long")
    t = docs.groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), " ", -1))).cast("long").alias("n_tokens")
    )
    z = t.agg(F.sum("n_tokens").alias("total"))
    q = t.crossJoin(F.broadcast(z)).select(
        "source",
        "n_tokens",
        F.expr("(10000000 * n_tokens) div total").alias("base_quota"),
        (budget * F.col("n_tokens") % F.col("total")).alias("rem_units"),
    )
    wrk = Window.orderBy(F.col("rem_units").desc(), "source")
    r = q.select(
        "*",
        F.row_number().over(wrk).alias("rk"),
        (budget - F.sum("base_quota").over(Window.partitionBy())).alias("leftover"),
    )
    final = F.col("base_quota") + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
    return r.select(
        "source",
        "n_tokens",
        "base_quota",
        final.cast("long").alias("final_quota"),
        F.round(final / F.col("n_tokens").cast("double"), 6).alias("epochs"),
    )


@query(
    "hll_distinct",
    oracle=f"""
    WITH h AS (
        SELECT DISTINCT {H.dd_md5_long('user_id::VARCHAR')} AS h FROM events
    ), b AS (
        SELECT h >> 52 AS idx, h & 4503599627370495 AS w FROM h
    ), f1 AS (SELECT idx, w | (w >> 1) AS w FROM b),
    f2 AS (SELECT idx, w | (w >> 2) AS w FROM f1),
    f3 AS (SELECT idx, w | (w >> 4) AS w FROM f2),
    f4 AS (SELECT idx, w | (w >> 8) AS w FROM f3),
    f5 AS (SELECT idx, w | (w >> 16) AS w FROM f4),
    f6 AS (SELECT idx, w | (w >> 32) AS w FROM f5),
    regs AS (
        SELECT idx, max(53 - bit_count(w)) AS m_j FROM f6 GROUP BY idx
    ), agg AS (
        SELECT count(*) AS n_present,
               sum(1::BIGINT << (53 - m_j)) AS sum_scaled
        FROM regs
    ), est AS (
        SELECT 256 - n_present AS n_zero,
               (0.7213 / (1 + 1.079 / 256)) * 65536.0 * 9007199254740992.0
                   / (sum_scaled + (256 - n_present) * 9007199254740992) AS e_raw
        FROM agg
    ), exact AS (
        SELECT count(DISTINCT user_id) AS ndv_exact FROM events
    )
    SELECT CAST(256 AS BIGINT) AS m,
           ndv_exact,
           CAST(n_zero AS BIGINT) AS n_zero_registers,
           round(CASE WHEN e_raw <= 640.0 AND n_zero > 0
                      THEN 256.0 * ln(256.0 / n_zero) ELSE e_raw END, 6) AS ndv_est,
           round(abs(CASE WHEN e_raw <= 640.0 AND n_zero > 0
                          THEN 256.0 * ln(256.0 / n_zero) ELSE e_raw END - ndv_exact)
                 / ndv_exact, 6) AS rel_err
    FROM est, exact
    """,
)
def hll_distinct_q(spark, sf_dir):
    """HyperLogLog distinct-count sketch (Flajolet AofA'07) on
    events.user_id vs the exact count — the register-based sibling of
    kmv_distinct, m = 256 registers (p = 8) over the portable 60-bit
    md5 hash: register = top 8 bits, rho = leading-zero rank of the
    remaining 52. rho is EXACT integer bit math on both engines — the
    shift-or fill cascade + bit_count (never floor(log2()), whose
    float rounding can misrank exact powers of two). The harmonic-mean
    denominator stays exact too: Σ2^(−M_j) scaled by 2^53 is an
    integer sum (≤ 2^60 for 256 registers), so engines agree
    bit-for-bit before the one double division. Linear-counting
    small-range correction (E ≤ 2.5m, V > 0) included. Per-register
    state is 256 bytes total — the sketch a 100 TB pipeline keeps per
    partition and merges by max(), exactly as this plan's partial
    aggregation already does."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.select(F.expr(H.md5_long("CAST(user_id AS STRING)")).alias("h")).distinct()
    b = h.select(
        F.expr("shiftright(h, 52)").alias("idx"),
        F.expr("h & 4503599627370495").alias("w"),
    )
    for k in (1, 2, 4, 8, 16, 32):
        b = b.withColumn("w", F.expr(f"w | shiftright(w, {k})"))
    regs = b.groupBy("idx").agg(F.expr("max(53 - bit_count(w))").alias("m_j"))
    agg = regs.agg(
        F.count("*").alias("n_present"),
        F.sum(F.expr("shiftleft(cast(1 as bigint), cast(53 - m_j as int))")).alias(
            "sum_scaled"
        ),
    )
    est = agg.select(
        (F.lit(256) - F.col("n_present")).alias("n_zero"),
        (
            F.lit(0.7213 / (1 + 1.079 / 256))
            * F.lit(65536.0)
            * F.lit(9007199254740992.0)
            / (
                F.col("sum_scaled")
                + (F.lit(256) - F.col("n_present")) * F.lit(9007199254740992)
            )
        ).alias("e_raw"),
    )
    exact = ev.agg(F.count_distinct("user_id").alias("ndv_exact"))
    e_fix = F.when(
        (F.col("e_raw") <= F.lit(640.0)) & (F.col("n_zero") > 0),
        F.lit(256.0) * F.log(F.lit(256.0) / F.col("n_zero")),
    ).otherwise(F.col("e_raw"))
    return (
        est.crossJoin(F.broadcast(exact))
        .select(
            F.lit(256).cast("long").alias("m"),
            "ndv_exact",
            F.col("n_zero").cast("long").alias("n_zero_registers"),
            F.round(e_fix, 6).alias("ndv_est"),
            F.round(F.abs(e_fix - F.col("ndv_exact")) / F.col("ndv_exact"), 6).alias(
                "rel_err"
            ),
        )
    )


@query(
    "retrieval_mmr",
    oracle=f"""
    WITH RECURSIVE q AS (
        SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
    ), cand AS (
        SELECT e.vec_id, {V.dd_cosine('e.embedding', 'q.qv')} AS qsim
        FROM embeddings e, q WHERE e.vec_id <> 0
        ORDER BY qsim DESC, e.vec_id LIMIT 20
    ), pairs AS (
        SELECT a.vec_id AS a, b.vec_id AS b,
               {V.dd_cosine('ea.embedding', 'eb.embedding')} AS sim
        FROM cand a
        JOIN embeddings ea ON ea.vec_id = a.vec_id
        JOIN cand b ON b.vec_id <> a.vec_id
        JOIN embeddings eb ON eb.vec_id = b.vec_id
    ), state AS (
        SELECT 1 AS step,
               [(SELECT vec_id FROM cand ORDER BY qsim DESC, vec_id LIMIT 1)] AS ids
        UNION ALL
        SELECT step + 1, list_append(ids, (
            SELECT c.vec_id FROM cand c
            WHERE NOT list_contains(s.ids, c.vec_id)
            ORDER BY 0.7 * c.qsim - 0.3 * (SELECT max(p.sim) FROM pairs p
                                           WHERE p.a = c.vec_id
                                             AND list_contains(s.ids, p.b)) DESC,
                     c.vec_id
            LIMIT 1))
        FROM state s WHERE step < 10
    ), sel AS (
        SELECT unnest(ids) AS vec_id,
               generate_subscripts(ids, 1) AS rank
        FROM state WHERE step = 10
    )
    SELECT CAST(sel.rank AS BIGINT) AS rank, sel.vec_id,
           round(cand.qsim, 6) AS qsim
    FROM sel JOIN cand ON cand.vec_id = sel.vec_id
    """,
)
def retrieval_mmr_q(spark, sf_dir):
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    SIGIR'98) — diversity-aware top-k, the de-duplicating step between
    retrieval and a RAG context window: greedy-select k=10 from the
    brute-force top-20 shortlist maximizing
    0.7·sim(q,d) − 0.3·max_{s∈S} sim(d,s).

    Architecture mirrors faiss-style two-stage serving: the
    DISTRIBUTED work — corpus top-k shortlist and the 20×20 candidate
    similarity matrix — runs in-plan (TakeOrdered + bounded pair
    join); the inherently SEQUENTIAL greedy runs driver-side over the
    k²-bounded matrix (same bounded-fit posture as the IVF/k-means
    centroid training) and re-enters the plan as a literal
    (rank, vec_id) map joined back to the shortlist. Cross-engine
    determinism: both engines' cosine folds are bit-identical (house
    sequential-sum convention), so the greedy's double comparisons
    agree exactly; ties break to the lower vec_id. The oracle replays
    the greedy as a recursive CTE — the selection loop itself is
    hash-checked, not just the shortlist."""
    emb = load_table(spark, sf_dir, "embeddings")
    shortlist = knn.topk(*_query_corpus(emb.filter(F.col("vec_id") != 0), emb, 0), k=20)
    cand = [(r["vec_id"], r["score"]) for r in shortlist.orderBy(F.col("score").desc(), "vec_id").collect()]
    ids = [c[0] for c in cand]
    sub = emb.filter(F.col("vec_id").isin(ids))
    pair_rows = knn.similarity_matrix(sub).filter(F.col("id_a") != F.col("id_b")).collect()
    sim = {(r["id_a"], r["id_b"]): r["score"] for r in pair_rows}
    qsim = dict(cand)
    selected = [min(ids, key=lambda i: (-qsim[i], i))] if ids else []
    while len(selected) < min(10, len(ids)):
        best = min(
            (i for i in ids if i not in selected),
            key=lambda i: (
                -(0.7 * qsim[i] - 0.3 * max(sim[(i, s)] for s in selected)),
                i,
            ),
        )
        selected.append(best)
    ranks = spark.createDataFrame(
        [(r + 1, v) for r, v in enumerate(selected)], "rank long, vec_id long"
    )
    return (
        shortlist.join(F.broadcast(ranks), "vec_id")
        .select("rank", "vec_id", F.round("score", 6).alias("qsim"))
    )


def _classifier_calibration_oracle() -> str:
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
    ), probs AS (
        SELECT doc_id,
               round(1.0 / (1.0 + exp(-((sum_micro::DOUBLE) / (n_tokens * {MICRO}.0)))), 6) AS prob
        FROM per
    ), labels AS (
        SELECT doc_id,
               (len({_DD_TOKS}) >= 20 AND len({_DD_TOKS}) <= 80
                AND CAST(length(text) - (len({_DD_TOKS}) - 1) AS DOUBLE) / len({_DD_TOKS}) >= 3.0
                AND CAST(length(text) - (len({_DD_TOKS}) - 1) AS DOUBLE) / len({_DD_TOKS}) <= 8.0
                AND CAST(len(list_filter({_DD_TOKS},
                     t -> list_contains(['the','a','an','and','or','of','to','in','on','for','is','are','was','be','it','this','that','with','as','at'], t)))
                    AS DOUBLE) / len({_DD_TOKS}) >= 0.05
                AND CAST(len(list_distinct({_DD_TOKS})) AS DOUBLE) / len({_DD_TOKS}) >= 0.3) AS label
        FROM documents
    ), binned AS (
        SELECT least(CAST(floor(p.prob * 10) AS BIGINT), 9) AS bin,
               {to_micro('p.prob')} AS prob_u,
               CASE WHEN l.label THEN 1 ELSE 0 END AS pos
        FROM probs p JOIN labels l ON l.doc_id = p.doc_id
    ), g AS (
        SELECT bin, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(pos) AS BIGINT) AS n_pos,
               CAST(sum(prob_u) AS BIGINT) AS sum_prob_u
        FROM binned GROUP BY bin
    )
    SELECT bin, n, n_pos,
           round(sum_prob_u / (n * {MICRO}.0), 6) AS mean_prob,
           round(n_pos / CAST(n AS DOUBLE), 6) AS frac_pos,
           round(abs(sum_prob_u / (n * {MICRO}.0) - n_pos / CAST(n AS DOUBLE)), 6) AS gap,
           round(n / CAST(sum(n) OVER () AS DOUBLE)
                 * abs(sum_prob_u / (n * {MICRO}.0) - n_pos / CAST(n AS DOUBLE)), 6) AS ece_contrib
    FROM g
    """


@query("classifier_calibration", oracle=None)
def classifier_calibration_q(spark, sf_dir):
    """Reliability diagram + ECE for the learned quality scorer against
    an INDEPENDENT signal (the quality_filters hard-gate conjunction —
    calibrating a classifier against its own threshold would be
    circular): per-decile-bin mean predicted prob vs empirical positive
    rate, the |gap|, and the corpus-weighted ECE contribution (Σ = the
    scalar ECE). One classifier pass + one zero-shuffle gate pass share
    the doc_id join key; mean probs come from exact micro-unit integer
    sums (the 6-dp-rounded prob is integral in micro-units, so engines sum
    identical longs); everything past the join is a ≤10-row frame.
    The window total rides that tiny frame — no extra action."""
    from ..operators import curation

    docs = load_table(spark, sf_dir, "documents", split=True)
    probs = curation.quality_classifier(docs).select("doc_id", "prob")
    labels = curation.quality_filters(docs).select("doc_id", F.col("keep").alias("label"))
    binned = probs.join(labels, "doc_id").select(
        F.least(F.floor(F.col("prob") * 10).cast("long"), F.lit(9).cast("long")).alias("bin"),
        F.expr(to_micro("prob")).alias("prob_u"),
        F.when(F.col("label"), 1).otherwise(0).alias("pos"),
    )
    g = binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum("prob_u").cast("long").alias("sum_prob_u"),
    )
    mean_prob = F.col("sum_prob_u") / (F.col("n") * F.lit(float(MICRO)))
    frac_pos = F.col("n_pos") / F.col("n").cast("double")
    total = F.sum("n").over(Window.partitionBy())
    return g.select(
        "bin",
        "n",
        "n_pos",
        F.round(mean_prob, 6).alias("mean_prob"),
        F.round(frac_pos, 6).alias("frac_pos"),
        F.round(F.abs(mean_prob - frac_pos), 6).alias("gap"),
        F.round(
            F.col("n") / total.cast("double") * F.abs(mean_prob - frac_pos), 6
        ).alias("ece_contrib"),
    )


ORACLES["classifier_calibration"] = _classifier_calibration_oracle()


@query(
    "events_histogram_equidepth",
    oracle=f"""
    WITH r AS (
        SELECT event_type, event_id,
               {to_micro('value')} AS v_u,
               ntile(10) OVER (PARTITION BY event_type
                               ORDER BY value, event_id) AS decile
        FROM events
    )
    SELECT event_type, CAST(decile AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n,
           {emit_micro('min(v_u)')} AS lo,
           {emit_micro('max(v_u)')} AS hi,
           {emit_micro('sum(v_u) / count(*)')} AS mean_v
    FROM r GROUP BY event_type, decile
    """,
)
def events_histogram_equidepth_q(spark, sf_dir, exact_quantiles: bool = True):
    """Equi-depth (equal-count) histogram per event type — the
    optimizer's-eye value profile (equal-WIDTH bins hide skew; deciles
    expose it, and the per-bin [lo, hi] spread IS the skew readout):
    ntile(10) rides ONE event_type window shuffle with a fully
    deterministic (value, event_id) order, then per-bin stats come
    from exact micro-unit integer sums on the same partitioning.

    ``exact_quantiles=False`` is the 100 TB path: approx decile EDGES
    from percentile_approx (bounded sketch — the ntile window needs a
    per-type full sort, one straggler partition per hot type at
    scale), broadcast the 9-edge-per-type table back, decile = 1 +
    #edges strictly below the value (map-side expression), stats on a
    plain groupBy. Bin populations are approximately-equal rather than
    exactly-equal — the documented sketch contract."""
    ev = load_table(spark, sf_dir, "events")
    if not exact_quantiles:
        vu = ev.select(
            "event_type", F.expr(to_micro("value")).alias("v_u")
        )
        edges = vu.groupBy("event_type").agg(
            F.percentile_approx(
                "v_u", V.lit_array([i / 10 for i in range(1, 10)]), F.lit(10000)
            ).alias("_edges")
        )
        # percentile_approx returns TIED edges on heavily duplicated
        # values; counting ties would skip decile ids entirely (empty
        # bins). Distinct edges instead COLLAPSE the tied bins: decile
        # ids stay consecutive 1..k (k < 10 exactly when ties ate
        # bins), every value lands in a well-defined bin (ADVICE r6).
        r = vu.join(
            F.broadcast(edges.withColumn("_edges", F.array_distinct("_edges"))),
            "event_type",
        ).select(
            "event_type",
            "v_u",
            F.expr(
                "1 + aggregate(_edges, 0, (acc, e) -> acc + CASE WHEN e < v_u THEN 1 ELSE 0 END)"
            ).alias("decile"),
        )
    else:
        w = Window.partitionBy("event_type").orderBy("value", "event_id")
        r = ev.select(
            "event_type",
            F.expr(to_micro("value")).alias("v_u"),
            F.ntile(10).over(w).alias("decile"),
        )
    return r.groupBy("event_type", F.col("decile").cast("long").alias("decile")).agg(
        F.count("*").cast("long").alias("n"),
        F.expr(emit_micro("min(v_u)")).alias("lo"),
        F.expr(emit_micro("max(v_u)")).alias("hi"),
        F.expr(emit_micro("sum(v_u) / count(*)")).alias("mean_v"),
    )


@query(
    "describe_collection",
    oracle="""
    SELECT table_name AS collection,
           column_name AS field_name,
           CAST(ordinal_position AS BIGINT) AS ordinal,
           data_type AS field_type,
           column_name IN ('doc_id', 'vec_id') AS is_primary
    FROM information_schema.columns
    WHERE table_name IN ('documents', 'embeddings')
    """,
)
def describe_collection_q(spark, sf_dir):
    """Collection DESCRIBE surface (milvus_db.py:75 — the describe
    endpoint get_collection_stats wraps; list/describe is the one
    metadata shape the REST client exposes beyond stats): one row per
    field with ordinal, portable type name and the primary-key flag
    (the reference's auto-id primary key). Built from the ENGINE'S OWN
    resolved parquet schema (spark.read's StructType — so a schema
    drift in the lake surfaces as a parity failure against the
    oracle's information_schema), mapped to ANSI-ish type names.
    Driver-side metadata only; no executor work at any scale."""
    from pyspark.sql import types as T

    def type_name(dt) -> str:
        if isinstance(dt, T.LongType):
            return "BIGINT"
        if isinstance(dt, T.IntegerType):
            return "INTEGER"
        if isinstance(dt, T.StringType):
            return "VARCHAR"
        if isinstance(dt, T.DoubleType):
            return "DOUBLE"
        if isinstance(dt, T.FloatType):
            return "FLOAT"
        if isinstance(dt, T.TimestampType | T.TimestampNTZType):
            return "TIMESTAMP"
        if isinstance(dt, T.ArrayType):
            return f"{type_name(dt.elementType)}[]"
        return dt.simpleString().upper()

    rows = []
    for tbl in ("documents", "embeddings"):
        schema = spark.read.parquet(f"{sf_dir}/{tbl}.parquet").schema
        for i, f in enumerate(schema.fields, start=1):
            rows.append(
                (tbl, f.name, i, type_name(f.dataType), f.name in ("doc_id", "vec_id"))
            )
    return spark.createDataFrame(
        rows,
        "collection string, field_name string, ordinal long, field_type string, is_primary boolean",
    )


# ---------------------------------------------------------------------------
# r5 continuation wave: statistical testing + lakehouse layout advisor
# ---------------------------------------------------------------------------


@query(
    "chi_square_independence",
    oracle=f"""
    WITH cells AS (
        SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS observed
        FROM lineitem GROUP BY l_returnflag, l_linestatus
    ), tot AS (
        SELECT l_returnflag, l_linestatus, observed,
               CAST(sum(observed) OVER (PARTITION BY l_returnflag) AS BIGINT) AS row_tot,
               CAST(sum(observed) OVER (PARTITION BY l_linestatus) AS BIGINT) AS col_tot,
               CAST(sum(observed) OVER () AS BIGINT) AS n
        FROM cells
    ), dims AS (
        SELECT CAST(count(DISTINCT l_returnflag) AS BIGINT) AS nr,
               CAST(count(DISTINCT l_linestatus) AS BIGINT) AS nc
        FROM cells
    ), c AS (
        SELECT l_returnflag, l_linestatus, observed,
               round(CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE) / n, 6) AS expected,
               round(pow(CAST(observed AS DOUBLE) * CAST(n AS DOUBLE)
                         - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE), 2)
                     / (CAST(n AS DOUBLE) * CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)), 6)
                   AS contribution,
               (nr - 1) * (nc - 1) AS dof
        FROM tot CROSS JOIN dims
    )
    SELECT l_returnflag, l_linestatus, observed, expected, contribution,
           {emit_micro(f"CAST(sum({to_micro('contribution')}) OVER () AS DOUBLE)")} AS chi2,
           dof
    FROM c
    """,
)
def chi_square_independence_q(spark, sf_dir):
    """Chi-square test of independence over the returnflag x linestatus
    contingency table (the categorical-drift check a data-quality stack
    runs per ingest batch): ONE map-side-combinable count shuffle
    builds the cells; row/column/grand totals ride window sums over the
    BOUNDED cell frame (|flags| x |statuses| rows, never data-sized);
    the distinct-level dims attach via the broadcast-scalar idiom.
    Per-cell expected counts and chi2 contributions derive from exact
    BIGINT counts with identical double expression shape on both
    engines; the chi2 total sums the 6dp-rounded contributions as
    exact micro-unit integers, so the statistic is order-free."""
    li = load_table(spark, sf_dir, "lineitem")
    cells = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").cast("long").alias("observed")
    )
    dims = cells.agg(
        F.count_distinct("l_returnflag").cast("long").alias("nr"),
        F.count_distinct("l_linestatus").cast("long").alias("nc"),
    )
    tot = cells.select(
        "l_returnflag",
        "l_linestatus",
        "observed",
        F.sum("observed").over(Window.partitionBy("l_returnflag")).alias("row_tot"),
        F.sum("observed").over(Window.partitionBy("l_linestatus")).alias("col_tot"),
        F.sum("observed").over(Window.partitionBy()).alias("n"),
    ).crossJoin(F.broadcast(dims))
    od, nd = F.col("observed").cast("double"), F.col("n").cast("double")
    rd, cd = F.col("row_tot").cast("double"), F.col("col_tot").cast("double")
    c = tot.select(
        "l_returnflag",
        "l_linestatus",
        "observed",
        F.round(rd * cd / F.col("n"), 6).alias("expected"),
        F.round(F.pow(od * nd - rd * cd, F.lit(2.0)) / (nd * rd * cd), 6).alias(
            "contribution"
        ),
        ((F.col("nr") - 1) * (F.col("nc") - 1)).alias("dof"),
    )
    return c.select(
        "l_returnflag",
        "l_linestatus",
        "observed",
        "expected",
        "contribution",
        F.expr(emit_micro(f"CAST(sum({to_micro('contribution')}) OVER () AS DOUBLE)")).alias(
            "chi2"
        ),
        "dof",
    )


@query(
    "layout_skipping_compare",
    oracle="""
    WITH tagged AS (
        SELECT l_orderkey // 2048 AS file_natural,
               (year(l_shipdate) - 1995) * 12 + month(l_shipdate) - 1 AS file_clustered,
               CASE WHEN l_shipdate >= TIMESTAMP '1996-03-01'
                     AND l_shipdate < TIMESTAMP '1996-06-01' THEN 1 ELSE 0 END AS hit,
               datediff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE)) AS day_id
        FROM lineitem
    ), files AS (
        SELECT 'natural' AS layout, file_natural AS file_id,
               CAST(count(*) AS BIGINT) AS rows_in_file,
               CAST(sum(hit) AS BIGINT) AS rows_matched,
               CAST(min(day_id) AS BIGINT) AS min_day, CAST(max(day_id) AS BIGINT) AS max_day
        FROM tagged GROUP BY file_natural
        UNION ALL
        SELECT 'clustered', file_clustered,
               CAST(count(*) AS BIGINT), CAST(sum(hit) AS BIGINT),
               CAST(min(day_id) AS BIGINT), CAST(max(day_id) AS BIGINT)
        FROM tagged GROUP BY file_clustered
    ), scanned AS (
        SELECT layout, file_id, rows_in_file, rows_matched,
               CASE WHEN min_day <= datediff('day', DATE '1995-01-01', DATE '1996-05-31')
                     AND max_day >= datediff('day', DATE '1995-01-01', DATE '1996-03-01')
                    THEN 1 ELSE 0 END AS file_hit
        FROM files
    )
    SELECT layout,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(file_hit) AS BIGINT) AS files_scanned,
           CAST(sum(rows_in_file) AS BIGINT) AS total_rows,
           CAST(sum(file_hit * rows_in_file) AS BIGINT) AS rows_scanned,
           CAST(sum(rows_matched) AS BIGINT) AS rows_matched,
           round(1.0 - CAST(sum(file_hit) AS DOUBLE) / count(*), 6) AS skip_ratio,
           round(CAST(sum(file_hit * rows_in_file) AS DOUBLE)
                 / CAST(sum(rows_matched) AS DOUBLE), 6) AS read_amplification
    FROM scanned GROUP BY layout
    """,
)
def layout_skipping_compare_q(spark, sf_dir):
    """Zone-map file-skipping advisor: simulates per-file min/max
    statistics (parquet row-group / Delta file stats) under TWO
    layouts — `natural` (insertion order: orderkey div 2048 per file)
    vs `clustered` (ship-month partitioning) — and scores a ship-date
    range predicate against each. Per layout: files scanned after
    min/max pruning, rows scanned vs rows matched (read
    amplification), and the skip ratio — the number that justifies a
    re-clustering job at 100 TB (this IS the OPTIMIZE/Z-ORDER
    cost-benefit readout; zorder_layout builds the layout, this one
    measures what it buys). One scan, two bounded map-side-combinable
    aggregations; all stats exact BIGINT, two final divisions."""
    li = load_table(spark, sf_dir, "lineitem")
    tagged = li.select(
        F.expr("l_orderkey div 2048").alias("file_natural"),
        ((F.year("l_shipdate") - 1995) * 12 + F.month("l_shipdate") - 1).alias(
            "file_clustered"
        ),
        F.when(
            (F.col("l_shipdate") >= "1996-03-01")
            & (F.col("l_shipdate") < "1996-06-01"),
            1,
        )
        .otherwise(0)
        .alias("hit"),
        F.datediff(F.col("l_shipdate").cast("date"), F.lit("1995-01-01")).alias(
            "day_id"
        ),
    )

    def per_layout(name: str, col: str):
        return tagged.groupBy(F.col(col).alias("file_id")).agg(
            F.count("*").cast("long").alias("rows_in_file"),
            F.sum("hit").cast("long").alias("rows_matched"),
            F.min("day_id").cast("long").alias("min_day"),
            F.max("day_id").cast("long").alias("max_day"),
        ).select(F.lit(name).alias("layout"), "*")

    files = per_layout("natural", "file_natural").unionByName(
        per_layout("clustered", "file_clustered")
    )
    lo = F.datediff(F.lit("1996-03-01").cast("date"), F.lit("1995-01-01").cast("date"))
    hi = F.datediff(F.lit("1996-05-31").cast("date"), F.lit("1995-01-01").cast("date"))
    scanned = files.withColumn(
        "file_hit",
        F.when((F.col("min_day") <= hi) & (F.col("max_day") >= lo), 1).otherwise(0),
    )
    return scanned.groupBy("layout").agg(
        F.count("*").cast("long").alias("n_files"),
        F.sum("file_hit").cast("long").alias("files_scanned"),
        F.sum("rows_in_file").cast("long").alias("total_rows"),
        F.sum(F.col("file_hit") * F.col("rows_in_file")).cast("long").alias(
            "rows_scanned"
        ),
        F.sum("rows_matched").cast("long").alias("rows_matched"),
        F.round(
            F.lit(1.0) - F.sum("file_hit").cast("double") / F.count("*"), 6
        ).alias("skip_ratio"),
        F.round(
            F.sum(F.col("file_hit") * F.col("rows_in_file")).cast("double")
            / F.sum("rows_matched").cast("double"),
            6,
        ).alias("read_amplification"),
    )


@query(
    "events_decayed_topk",
    oracle=f"""
    WITH d AS (
        SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY event_type, epoch_ns(ts) // 86400000000000
    ), a AS (
        SELECT event_type, cnt,
               least((CAST(max(day) OVER () AS BIGINT) - day) // 7, 40) AS k
        FROM d
    ), s AS (
        SELECT event_type,
               CAST(sum(cnt) AS BIGINT) AS n_events,
               CAST(sum(cnt * {to_micro('pow(2.0, -k)')}) AS BIGINT)
                   AS decayed_u
        FROM a GROUP BY event_type
    )
    SELECT event_type, n_events,
           {emit_micro('CAST(decayed_u AS DOUBLE)')} AS decayed_count,
           CAST(rank() OVER (ORDER BY decayed_u DESC, event_type) AS BIGINT) AS rnk
    FROM s
    """,
)
def events_decayed_topk_q(spark, sf_dir):
    """Exponentially time-decayed event counts (7-day half-life) — the
    trending/top-k ranking a feed or alerting stack keeps instead of a
    raw count, where last week counts double vs the week before. The
    decay is EXACT by construction: ages quantize to week buckets, the
    half-life weight 2^-k is an exact power-of-two double, and its
    6dp micro-unit quantization is an exact integer both engines agree
    on — so the decayed sum is an order-free BIGINT dot product, not a
    float accumulation. Corpus collapses to (type, day) counts in ONE
    map-side-combinable shuffle (the frame a 100 TB event stream's
    daily rollup already materializes); the max-day anchor rides a
    window over that bounded frame."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.expr("ts_ns div 86400000000000").alias("day")
    ).agg(F.count("*").cast("long").alias("cnt"))
    a = d.select(
        "event_type",
        "cnt",
        F.least(
            F.expr("(max(day) over () - day) div 7").cast("long"), F.lit(40).cast("long")
        ).alias("k"),
    )
    s = a.groupBy("event_type").agg(
        F.sum("cnt").cast("long").alias("n_events"),
        F.sum(
            F.col("cnt")
            * F.expr(to_micro("pow(2.0, -k)"))
        )
        .cast("long")
        .alias("decayed_u"),
    )
    return s.select(
        "event_type",
        "n_events",
        F.expr(emit_micro("CAST(decayed_u AS DOUBLE)")).alias("decayed_count"),
        F.rank()
        .over(Window.orderBy(F.col("decayed_u").desc(), "event_type"))
        .cast("long")
        .alias("rnk"),
    )


@query(
    "grouped_ols_slopes",
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
               CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM d GROUP BY n_name
    )
    SELECT n_name, n,
           CASE WHEN CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx = 0 THEN NULL
                ELSE round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                           / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6)
           END AS slope,
           CASE WHEN CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx = 0 THEN NULL
                ELSE round((CAST(sy AS DOUBLE)
                            - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                              / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * sx)
                           / n, 6)
           END AS intercept,
           CASE WHEN CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx = 0
                  OR CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy = 0 THEN NULL
                ELSE round(pow(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy, 2)
                           / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                              * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)
           END AS r2
    FROM s
    """,
)
def grouped_ols_slopes_q(spark, sf_dir):
    """Per-nation OLS of quantity on discount%% — the grouped
    regression sweep (one model per segment) a metrics stack fits
    without a solver, extending discount_elasticity's closed form to
    GROUP BY. The fact joins shuffle on their keys, nation broadcasts;
    the five sufficient statistics per group are exact order-free
    BIGINTs from ONE map-side-combinable aggregate, and degenerate
    groups (zero x- or y-variance) emit NULL through the identical
    CASE guard on both engines. At 100 TB this is a thin rollup over
    the same join the revenue queries already run — no per-group
    iteration, no driver loop."""
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
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    den = nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    deny = nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    # Exact zero guards in decimal(38,0): sx*sx overflows BIGINT at the
    # 10x corpus (sx ~ 6e10 -> sx² ~ 3.6e21; caught by sf1 parity r8) —
    # DuckDB auto-promotes to HUGEINT, so decimal is the matching exact
    # domain Spark-side. Test den0==0 OR deny0==0, never the product
    # (the product would overflow even decimal38 at ~1e43).
    dec = "decimal(38,0)"
    den0 = (
        F.col("n").cast(dec) * F.col("sxx").cast(dec)
        - F.col("sx").cast(dec) * F.col("sx").cast(dec)
    )
    deny0 = (
        F.col("n").cast(dec) * F.col("syy").cast(dec)
        - F.col("sy").cast(dec) * F.col("sy").cast(dec)
    )
    slope = num / den
    return s.select(
        "n_name",
        "n",
        F.when(den0 == 0, F.lit(None).cast("double"))
        .otherwise(F.round(slope, 6))
        .alias("slope"),
        F.when(den0 == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                (F.col("sy").cast("double") - slope * F.col("sx")) / F.col("n"), 6
            )
        )
        .alias("intercept"),
        F.when((den0 == 0) | (deny0 == 0), F.lit(None).cast("double"))
        .otherwise(F.round(F.pow(num, F.lit(2.0)) / (den * deny), 6))
        .alias("r2"),
    )


@query(
    "mann_whitney_u",
    oracle="""
    WITH e AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v_u
        FROM events WHERE event_type IN ('click', 'purchase')
    ), g AS (
        SELECT v_u,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS c2
        FROM e GROUP BY v_u
    ), r AS (
        SELECT c1, c2, c1 + c2 AS t,
               2 * COALESCE(sum(c1 + c2) OVER (ORDER BY v_u
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (c1 + c2) + 1 AS rank2
        FROM g
    ), s AS (
        SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2,
               CAST(sum(c1 * rank2) AS BIGINT) AS r1_2,
               CAST(sum(t * t * t - t) AS BIGINT) AS ties
        FROM r
    )
    SELECT n1, n2,
           (CAST(r1_2 AS DOUBLE) - CAST(n1 AS DOUBLE) * (n1 + 1)) / 2 AS u1,
           round(((CAST(r1_2 AS DOUBLE) - CAST(n1 AS DOUBLE) * (n1 + 1)) / 2
                  - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2)
                 / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12
                        * ((CAST(n1 + n2 AS DOUBLE) + 1)
                           - CAST(ties AS DOUBLE)
                             / (CAST(n1 + n2 AS DOUBLE) * (CAST(n1 + n2 AS DOUBLE) - 1)))),
                 6) AS z_value
    FROM s
    """,
)
def mann_whitney_u_q(spark, sf_dir):
    """Mann-Whitney U rank-sum test (click vs purchase event values) —
    the nonparametric two-sample test an experimentation stack runs
    when values are skewed and the t-test's normality story fails
    (pairs with ab_welch_ttest). Scale shape: the corpus collapses to
    per-DISTINCT-VALUE counts first (one map-side-combinable shuffle,
    cardinality bounded by the value domain, not the row count), then
    average ranks come from a cumulative window over that bounded
    frame in doubled-integer units — so rank sums, U, and the tie
    correction are all exact order-free BIGINTs; z is one identical
    double expression at emit."""
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
    w = Window.orderBy("v_u").rowsBetween(Window.unboundedPreceding, -1)
    r = g.select(
        "c1",
        "c2",
        (F.col("c1") + F.col("c2")).alias("t"),
        (
            2 * F.coalesce(F.sum(F.col("c1") + F.col("c2")).over(w), F.lit(0))
            + (F.col("c1") + F.col("c2"))
            + 1
        ).alias("rank2"),
    )
    s = r.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
        F.sum(F.col("c1") * F.col("rank2")).cast("long").alias("r1_2"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("long")
        .alias("ties"),
    )
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    nd = (F.col("n1") + F.col("n2")).cast("double")
    u1 = (F.col("r1_2").cast("double") - n1d * (F.col("n1") + 1)) / F.lit(2)
    var = n1d * n2d / F.lit(12) * (
        (nd + 1) - F.col("ties").cast("double") / (nd * (nd - 1))
    )
    return s.select(
        "n1",
        "n2",
        u1.alias("u1"),
        F.round((u1 - n1d * n2d / F.lit(2)) / F.sqrt(var), 6).alias("z_value"),
    )


@query(
    "knn_classifier_eval",
    oracle=f"""
    WITH train AS (
        SELECT vec_id, embedding, label FROM embeddings WHERE vec_id % 10 <> 0
    ), test AS (
        SELECT vec_id AS query_id, embedding AS query_vec, label AS true_label
        FROM embeddings WHERE vec_id % 10 = 0 AND vec_id < 10000
    ), scored AS (
        SELECT t.query_id, e.vec_id, e.label,
               {V.dd_cosine('e.embedding', 't.query_vec')} AS score
        FROM train e, test t
    ), nn AS (
        SELECT query_id, label FROM (
            SELECT query_id, label,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, vec_id) AS rnk
            FROM scored
        ) WHERE rnk <= 5
    ), votes AS (
        SELECT query_id, label, CAST(count(*) AS BIGINT) AS c
        FROM nn GROUP BY query_id, label
    ), pred AS (
        SELECT query_id, label AS pred_label FROM (
            SELECT query_id, label,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY c DESC, label) AS v
            FROM votes
        ) WHERE v = 1
    ), conf AS (
        SELECT t.true_label, p.pred_label, CAST(count(*) AS BIGINT) AS n
        FROM test t JOIN pred p ON t.query_id = p.query_id
        GROUP BY t.true_label, p.pred_label
    )
    SELECT CAST(true_label AS BIGINT) AS true_label,
           CAST(pred_label AS BIGINT) AS pred_label, n,
           round(CAST(sum(CASE WHEN true_label = pred_label THEN n ELSE 0 END) OVER ()
                      AS DOUBLE) / sum(n) OVER (), 6) AS accuracy
    FROM conf
    """,
)
def knn_classifier_eval_q(spark, sf_dir):
    """kNN label classifier evaluated on a held-out split (the
    label-propagation / weak-supervision QA check a curation pipeline
    runs before trusting pseudo-labels): hash-style modulo split (10%%
    test), k=5 cosine neighbors from the TRAIN side only via the same
    broadcast-query partial-top-k plan as knn_batch, majority vote
    with deterministic ties (count desc, then smaller label), and the
    confusion matrix + overall accuracy as the readout. Scale: the
    eval set is ABSOLUTELY bounded (first 1000 test ids — a 10%-of-N
    test split makes the broadcast fan-out N²/10, measured 140 s at
    sf1 r8; a fixed-size eval sample is the standard posture and keeps
    train-side work one scan + per-partition top-k heaps); the cap
    does not bind at the N=500 gate scales, so gate outputs are
    unchanged."""
    # The heavy side (train corpus x 10% query fan-out) is CPU-bound
    # per-pair vector math — split the scan across cores (embeddings
    # arrive as one split at test scale; split=True is the documented
    # opt-in for heavy map-side vector work). The broadcast query side
    # loads unsplit so its tiny build skips the exchange.
    train = load_table(spark, sf_dir, "embeddings", split=True).filter(
        F.col("vec_id") % 10 != 0
    )
    test = load_table(spark, sf_dir, "embeddings").filter(
        (F.col("vec_id") % 10 == 0) & (F.col("vec_id") < 10000)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("true_label"),
    )
    nn = knn.topk_batch(train, test.select("query_id", "query_vec"), k=5)
    # Label lookup re-reads the narrow (vec_id, label) projection from
    # the unsplit scan — joining back to the split `train` would rerun
    # its repartition exchange for a 2-column dimension fetch.
    labels = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % 10 != 0
    ).select("vec_id", "label")
    votes = (
        nn.join(labels, "vec_id")
        .groupBy("query_id", "label")
        .agg(F.count("*").cast("long").alias("c"))
    )
    pred = (
        votes.withColumn(
            "v",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.col("c").desc(), "label")
            ),
        )
        .filter(F.col("v") == 1)
        .select("query_id", F.col("label").alias("pred_label"))
    )
    conf = (
        test.join(pred, "query_id")
        .groupBy("true_label", "pred_label")
        .agg(F.count("*").cast("long").alias("n"))
    )
    w = Window.partitionBy()
    return conf.select(
        F.col("true_label").cast("long"),
        F.col("pred_label").cast("long"),
        "n",
        F.round(
            F.sum(
                F.when(F.col("true_label") == F.col("pred_label"), F.col("n")).otherwise(0)
            )
            .over(w)
            .cast("double")
            / F.sum("n").over(w),
            6,
        ).alias("accuracy"),
    )


@query(
    "survival_km",
    oracle="""
    WITH f AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN epoch_ns(ts) END) AS fv,
               min(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) END) AS fp
        FROM events GROUP BY user_id
    ), endt AS (SELECT max(epoch_ns(ts)) AS end_ns FROM events),
    coh AS (
        SELECT CASE WHEN fp IS NOT NULL AND fp >= fv
                    THEN (fp - fv) // 86400000000000
                    ELSE (end_ns - fv) // 86400000000000 END AS t,
               CASE WHEN fp IS NOT NULL AND fp >= fv THEN 1 ELSE 0 END AS is_event
        FROM f, endt WHERE fv IS NOT NULL
    ), g AS (
        SELECT CAST(t AS BIGINT) AS t_day,
               CAST(sum(is_event) AS BIGINT) AS d,
               CAST(sum(1 - is_event) AS BIGINT) AS c
        FROM coh GROUP BY t
    ), r AS (
        SELECT t_day, d, c,
               CAST(sum(d + c) OVER () AS BIGINT)
               - CAST(COALESCE(sum(d + c) OVER (ORDER BY t_day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                   AS at_risk
        FROM g
    ), k AS (
        SELECT t_day, at_risk, d, c,
               list(CAST(at_risk - d AS DOUBLE) / at_risk)
                   OVER (ORDER BY t_day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rl
        FROM r
    )
    SELECT t_day, at_risk AS n_at_risk, d AS n_events, c AS n_censored,
           round(CAST(d AS DOUBLE) / at_risk, 6) AS hazard,
           round(list_reduce(rl, (a, b) -> a * b), 6) AS survival
    FROM k
    """,
)
def survival_km_q(spark, sf_dir):
    """Kaplan-Meier time-to-convert curve (first view -> first
    purchase, non-converters RIGHT-CENSORED at observation end) — the
    censoring-aware partner to conversion_latency: dropping
    non-converters overstates conversion speed; KM keeps them in the
    risk set until their censor time. Per-user endpoints from ONE
    conditional-min aggregate; the lifetable collapses to per-DAY
    (d, c) counts, so the at-risk ladder and the survival product run
    on a duration-domain-bounded frame. S(t) is the ascending-ordered
    sequential product of exact-integer ratios — both engines fold the
    SAME ordered list left-to-right, so the float product is
    bit-identical, not an order-free approximation."""
    ev = load_table(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts_ns"))).alias("fv"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts_ns"))).alias("fp"),
    )
    end = ev.agg(F.max("ts_ns").alias("end_ns"))
    conv = F.col("fp").isNotNull() & (F.col("fp") >= F.col("fv"))
    coh = (
        f.filter(F.col("fv").isNotNull())
        .crossJoin(F.broadcast(end))
        .select(
            F.when(conv, F.expr("(fp - fv) div 86400000000000"))
            .otherwise(F.expr("(end_ns - fv) div 86400000000000"))
            .alias("t"),
            F.when(conv, 1).otherwise(0).alias("is_event"),
        )
    )
    g = coh.groupBy(F.col("t").cast("long").alias("t_day")).agg(
        F.sum("is_event").cast("long").alias("d"),
        F.sum(1 - F.col("is_event")).cast("long").alias("c"),
    )
    wp = Window.orderBy("t_day").rowsBetween(Window.unboundedPreceding, -1)
    r = g.select(
        "t_day",
        "d",
        "c",
        (
            F.sum(F.col("d") + F.col("c")).over(Window.partitionBy())
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(wp), F.lit(0))
        )
        .cast("long")
        .alias("at_risk"),
    )
    wc = Window.orderBy("t_day").rowsBetween(Window.unboundedPreceding, 0)
    k = r.select(
        "t_day",
        "at_risk",
        "d",
        "c",
        F.collect_list(
            (F.col("at_risk") - F.col("d")).cast("double") / F.col("at_risk")
        )
        .over(wc)
        .alias("rl"),
    )
    return k.select(
        "t_day",
        F.col("at_risk").alias("n_at_risk"),
        F.col("d").alias("n_events"),
        F.col("c").alias("n_censored"),
        F.round(F.col("d").cast("double") / F.col("at_risk"), 6).alias("hazard"),
        F.expr("round(aggregate(rl, 1.0D, (acc, r) -> acc * r), 6)").alias("survival"),
    )


@query(
    "silhouette_simplified",
    oracle=f"""
    WITH cd AS (
        SELECT label, pos, round(avg(v), 6) AS cv
        FROM (
            SELECT label, unnest(embedding) AS v,
                   unnest(range(len(embedding))) AS pos
            FROM embeddings
        ) GROUP BY label, pos
    ), cent AS (
        SELECT label AS clabel, list(cv ORDER BY pos) AS cvec FROM cd GROUP BY label
    ), dist AS (
        SELECT e.vec_id, e.label, c.clabel,
               {V.dd_euclidean('e.embedding', 'c.cvec')} AS dst
        FROM embeddings e, cent c
    ), ab AS (
        SELECT vec_id, label,
               min(CASE WHEN label = clabel THEN dst END) AS a,
               min(CASE WHEN label <> clabel THEN dst END) AS b
        FROM dist GROUP BY vec_id, label
    ), s AS (
        SELECT label,
               {to_micro('(b - a) / greatest(a, b)')} AS s_u
        FROM ab
    ), lab AS (
        SELECT CAST(label AS BIGINT) AS label, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(s_u) AS BIGINT) AS su
        FROM s GROUP BY label
    )
    SELECT label, n,
           {emit_micro('CAST(su AS DOUBLE) / n')} AS mean_silhouette,
           {emit_micro('CAST(sum(su) OVER () AS DOUBLE) / sum(n) OVER ()')}
               AS overall_silhouette
    FROM lab
    """,
)
def silhouette_simplified_q(spark, sf_dir):
    """Simplified (centroid-based) silhouette per label — the cluster
    cohesion/separation score at O(n·k) instead of classic
    silhouette's O(n²) pairwise distances (the standard large-scale
    substitution): a = distance to own centroid, b = nearest OTHER
    centroid, s = (b-a)/max(a,b). Centroids come from the same
    posexplode rollup label_centroids materializes, quantized to 6dp
    so both engines agree on their bits, and broadcast (k x dim
    literals-worth of data) against one corpus scan. Per-point s
    quantizes to micro-units, so per-label and overall means are exact
    order-free integer sums."""
    emb = load_table(spark, sf_dir, "embeddings", split=True)
    cd = (
        emb.select("label", F.posexplode(F.col("embedding").cast("array<double>")))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("col"), 6).alias("cv"))
    )
    cent = cd.groupBy(F.col("label").alias("clabel")).agg(
        F.expr("transform(sort_array(collect_list(struct(pos, cv))), s -> s.cv)").alias("cvec")
    )
    dist = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "label",
        "clabel",
        F.expr(V.euclidean("embedding", "cvec")).alias("dst"),
    )
    ab = dist.groupBy("vec_id", "label").agg(
        F.min(F.when(F.col("label") == F.col("clabel"), F.col("dst"))).alias("a"),
        F.min(F.when(F.col("label") != F.col("clabel"), F.col("dst"))).alias("b"),
    )
    s = ab.select(
        "label",
        F.expr(
            to_micro("(b - a) / greatest(a, b)")
        ).alias("s_u"),
    )
    lab = s.groupBy(F.col("label").cast("long").alias("label")).agg(
        F.count("*").cast("long").alias("n"), F.sum("s_u").cast("long").alias("su")
    )
    return lab.select(
        "label",
        "n",
        F.expr(emit_micro("CAST(su AS DOUBLE) / n")).alias("mean_silhouette"),
        F.expr(emit_micro("CAST(sum(su) OVER () AS DOUBLE) / sum(n) OVER ()")).alias(
            "overall_silhouette"
        ),
    )


@query(
    "zipf_fit",
    oracle=f"""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS term FROM documents
    ), tc AS (
        SELECT term, CAST(count(*) AS BIGINT) AS cnt
        FROM toks WHERE term <> '' GROUP BY term
    ), ranked AS (
        SELECT cnt, CAST(row_number() OVER (ORDER BY cnt DESC, term) AS BIGINT) AS rnk
        FROM tc
    ), top AS (
        SELECT {to_micro('ln(CAST(rnk AS DOUBLE))')} AS x_u,
               {to_micro('ln(CAST(cnt AS DOUBLE))')} AS y_u
        FROM ranked WHERE rnk <= 100
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x_u) AS BIGINT) AS sx, CAST(sum(y_u) AS BIGINT) AS sy,
               CAST(sum(x_u * x_u) AS BIGINT) AS sxx,
               CAST(sum(y_u * y_u) AS BIGINT) AS syy,
               CAST(sum(x_u * y_u) AS BIGINT) AS sxy
        FROM top
    )
    SELECT n AS n_terms,
           round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6) AS zipf_slope,
           {emit_micro('''(CAST(sy AS DOUBLE) - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                  / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * sx)
                 / n''')} AS ln_c_intercept,
           round(pow(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy, 2)
                 / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6) AS r2
    FROM s
    """,
)
def zipf_fit_q(spark, sf_dir):
    """Zipf's-law fit over the corpus vocabulary (the rank-frequency
    log-log slope ~ -1 healthy text shows; a flat or broken slope
    flags boilerplate or synthetic spam — a standard corpus-health
    probe next to token_entropy): term counts collapse map-side, the
    top-100 ranking runs on the vocab-sized frame, and the log-log OLS
    uses micro-unit-quantized ln values so all five moments are exact
    order-free BIGINTs (both engines agree on ln's 6dp rounding; the
    slope is scale-invariant under the shared quantization). Output is
    one row: slope (the Zipf exponent), intercept, fit R²."""
    docs = load_table(spark, sf_dir, "documents", split=True)
    tc = (
        docs.select(F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    ranked = tc.select(
        "cnt",
        F.row_number()
        .over(Window.orderBy(F.col("cnt").desc(), "term"))
        .cast("long")
        .alias("rnk"),
    ).filter(F.col("rnk") <= 100)
    top = ranked.select(
        F.expr(to_micro("ln(cast(rnk as double))")).alias("x_u"),
        F.expr(to_micro("ln(cast(cnt as double))")).alias("y_u"),
    )
    s = top.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x_u").cast("long").alias("sx"),
        F.sum("y_u").cast("long").alias("sy"),
        F.sum(F.col("x_u") * F.col("x_u")).cast("long").alias("sxx"),
        F.sum(F.col("y_u") * F.col("y_u")).cast("long").alias("syy"),
        F.sum(F.col("x_u") * F.col("y_u")).cast("long").alias("sxy"),
    )
    num_sql = "CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy"
    den_sql = "CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx"
    num, den = F.expr(num_sql), F.expr(den_sql)
    deny = F.expr("CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy")
    return s.select(
        F.col("n").alias("n_terms"),
        F.round(num / den, 6).alias("zipf_slope"),
        F.expr(emit_micro(f"(CAST(sy AS DOUBLE) - ({num_sql}) / ({den_sql}) * sx) / n")).alias(
            "ln_c_intercept"
        ),
        F.round(F.pow(num, F.lit(2.0)) / (den * deny), 6).alias("r2"),
    )


@query(
    "jackknife_variance",
    oracle=f"""
    WITH j AS (
        SELECT n.n_name,
               CAST(count(*) AS BIGINT) AS n_g,
               CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS s_g
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    ), w AS (
        SELECT n_g, s_g,
               CAST(sum(n_g) OVER () AS BIGINT) AS nn,
               CAST(sum(s_g) OVER () AS BIGINT) AS ss,
               CAST(count(*) OVER () AS BIGINT) AS g
        FROM j
    ), t AS (
        SELECT g, nn, ss,
               {to_micro('CAST(ss - s_g AS DOUBLE) / (nn - n_g) / 100')} AS t_u
        FROM w
    ), m AS (
        SELECT g, nn, ss, t_u,
               CAST(sum(t_u) OVER () AS BIGINT) AS st_u
        FROM t
    ), d AS (
        SELECT g, nn, ss, st_u,
               {to_micro(f"pow({from_micro('CAST(t_u AS DOUBLE)')} - {from_micro('CAST(st_u AS DOUBLE) / g')}, 2)")}
                   AS dev_u
        FROM m
    )
    SELECT CAST(g AS BIGINT) AS n_groups,
           round(CAST(ss AS DOUBLE) / nn / 100, 6) AS theta_hat,
           {emit_micro('CAST(st_u AS DOUBLE) / g')} AS theta_bar,
           round(sqrt((CAST(g AS DOUBLE) - 1) / g
                      * ({from_micro('CAST(sum(dev_u) AS DOUBLE)')})), 6) AS jack_se,
           round((CAST(g AS DOUBLE) - 1)
                 * ({from_micro('CAST(st_u AS DOUBLE) / g')}
                    - CAST(ss AS DOUBLE) / nn / 100), 6) AS bias_est
    FROM d GROUP BY g, nn, ss, st_u
    """,
)
def jackknife_variance_q(spark, sf_dir):
    """Delete-one-GROUP jackknife for the mean order value — the
    resampling-free standard error a pipeline can afford at 100 TB
    (delete-one-ROW is n passes; delete-one-group is ONE rollup): the
    25 nation-level (n_g, Σprice) sufficient statistics are exact
    cent-unit BIGINTs from one aggregate; every leave-one-out estimate
    θ_(i) = (S-s_i)/(N-n_i) derives from those integers, quantizes to
    micro-units, and the jackknife variance/bias then run as exact
    integer sums over the 25-row frame. The statistic, its SE and the
    bias estimate emit in one row."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    j = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").cast("long").alias("n_g"),
            F.sum(F.expr("cast(round(o_totalprice * 100) as bigint)"))
            .cast("long")
            .alias("s_g"),
        )
    )
    wa = Window.partitionBy()
    w = j.select(
        "n_g",
        "s_g",
        F.sum("n_g").over(wa).cast("long").alias("nn"),
        F.sum("s_g").over(wa).cast("long").alias("ss"),
        F.count("*").over(wa).cast("long").alias("g"),
    )
    t = w.select(
        "g",
        "nn",
        "ss",
        F.expr(
            to_micro("cast(ss - s_g as double) / (nn - n_g) / 100")
        ).alias("t_u"),
    )
    m = t.select("g", "nn", "ss", "t_u", F.sum("t_u").over(wa).cast("long").alias("st_u"))
    d = m.select(
        "g",
        "nn",
        "ss",
        "st_u",
        F.expr(
            to_micro(
                f"pow({from_micro('cast(t_u as double)')}"
                f" - {from_micro('cast(st_u as double) / g')}, 2)"
            )
        ).alias("dev_u"),
    )
    return d.groupBy("g", "nn", "ss", "st_u").agg(
        F.round(F.col("ss").cast("double") / F.col("nn") / F.lit(100), 6).alias("_th"),
        F.expr(emit_micro("CAST(st_u AS DOUBLE) / g")).alias("_tb"),
        F.expr(
            "round(sqrt((CAST(g AS DOUBLE) - 1) / CAST(g AS DOUBLE)"
            f" * {from_micro('CAST(sum(dev_u) AS DOUBLE)')}), 6)"
        ).alias("_se"),
        F.expr(
            f"round((CAST(g AS DOUBLE) - 1) * ({from_micro('CAST(st_u AS DOUBLE) / g')}"
            " - CAST(ss AS DOUBLE) / nn / 100), 6)"
        ).alias("_bias"),
    ).select(
        F.col("g").cast("long").alias("n_groups"),
        F.col("_th").alias("theta_hat"),
        F.col("_tb").alias("theta_bar"),
        F.col("_se").alias("jack_se"),
        F.col("_bias").alias("bias_est"),
    )


# Poisson(1) inverse-CDF thresholds on the unit interval, shared as
# literals by the Spark plan and the oracle (cumulative e^-1 * 1/k!).
_POISSON1_CUM = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
)


def _poisson1_case(u: str) -> str:
    """SQL CASE mapping a uniform [0,1) value to a Poisson(1) draw."""
    branches = " ".join(
        f"WHEN {u} < {c!r} THEN {k}" for k, c in enumerate(_POISSON1_CUM)
    )
    return f"(CASE {branches} ELSE 6 END)"


_BOOT_U = H.dd_md5_long("(e.event_id::VARCHAR || ':' || r::VARCHAR)") + " / 1152921504606846976.0"


@query(
    "bootstrap_ci",
    oracle=f"""
    WITH reps AS (
        SELECT r, {to_micro('e.value')} AS v_u,
               {_poisson1_case(_BOOT_U)} AS w
        FROM events e CROSS JOIN (SELECT unnest(range(50)) AS r)
    ), m AS (
        SELECT r, CAST(sum(w) AS BIGINT) AS n_w, CAST(sum(w * v_u) AS BIGINT) AS s_w
        FROM reps GROUP BY r
    ), mm AS (
        SELECT {from_micro('CAST(s_w AS DOUBLE) / n_w')} AS mean_r,
               CAST(round(CAST(s_w AS DOUBLE) / n_w) AS BIGINT) AS mean_u
        FROM m
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS n_reps,
               list_sort(list(mean_r)) AS vs,
               CAST(sum(mean_u) AS BIGINT) AS sm,
               CAST(sum(mean_u * mean_u) AS BIGINT) AS smm
        FROM mm
    ), pt AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum({to_micro('value')}) AS BIGINT) AS sv
        FROM events
    )
    SELECT pt.n AS n_rows, s.n_reps,
           {emit_micro('CAST(pt.sv AS DOUBLE) / pt.n')} AS point_mean,
           round(s.vs[2], 6) AS ci_lo,
           round(s.vs[49], 6) AS ci_hi,
           {emit_micro('''sqrt((CAST(s.smm AS DOUBLE) - CAST(s.sm AS DOUBLE) * s.sm / s.n_reps)
                      / (s.n_reps - 1))''')} AS boot_se
    FROM s, pt
    """,
)
def bootstrap_ci_q(spark, sf_dir):
    """Poisson bootstrap CI for the mean event value (Chamandy/Google's
    'Estimating Uncertainty for Massive Data Streams': per-row
    independent Poisson(1) replicate weights make the bootstrap a
    SINGLE distributed pass — no resampling shuffle, no driver RNG):
    50 replicates explode map-side, each row's weight derives from the
    shared md5 hash through literal inverse-CDF thresholds, so both
    engines draw the SAME resamples. Replicate means come from exact
    integer (Σw, Σw·v) pairs; the 2.5%%/97.5%% CI uses the exact
    sorted-selection rule over the 50-row replicate frame and the
    bootstrap SE uses micro-unit integer moments. At 100 TB: one scan,
    50x map-side rows, a 50-row agg — the canonical error-bar plan."""
    ev = load_table(spark, sf_dir, "events")
    # Spark-side expression built from the same md5-long primitive
    u_col = F.expr(
        H.md5_long("concat(CAST(event_id AS STRING), ':', CAST(r AS STRING))")
    ) / F.lit(1152921504606846976.0)
    w_col = F.lit(6)
    for k in range(len(_POISSON1_CUM) - 1, -1, -1):
        w_col = F.when(u_col < F.lit(_POISSON1_CUM[k]), F.lit(k)).otherwise(w_col)
    reps = ev.select(
        "event_id",
        F.expr(to_micro("value")).alias("v_u"),
        F.explode(F.sequence(F.lit(0), F.lit(49))).alias("r"),
    ).select("r", "v_u", w_col.alias("w"))
    m = reps.groupBy("r").agg(
        F.sum("w").cast("long").alias("n_w"),
        F.sum(F.col("w") * F.col("v_u")).cast("long").alias("s_w"),
    )
    mm = m.select(
        F.expr(from_micro("CAST(s_w AS DOUBLE) / n_w")).alias("mean_r"),
        F.expr("cast(round(cast(s_w as double) / n_w) as bigint)").alias("mean_u"),
    )
    s = mm.agg(
        F.count("*").cast("long").alias("n_reps"),
        F.sort_array(F.collect_list("mean_r")).alias("vs"),
        F.sum("mean_u").cast("long").alias("sm"),
        F.sum(F.col("mean_u") * F.col("mean_u")).cast("long").alias("smm"),
    )
    pt = ev.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.expr(to_micro("value"))).cast("long").alias("sv"),
    )
    return s.crossJoin(F.broadcast(pt)).select(
        F.col("n").alias("n_rows"),
        "n_reps",
        F.expr(emit_micro("CAST(sv AS DOUBLE) / n")).alias("point_mean"),
        F.round(F.get("vs", F.lit(1)), 6).alias("ci_lo"),
        F.round(F.get("vs", F.lit(48)), 6).alias("ci_hi"),
        F.expr(
            emit_micro(
                "sqrt((CAST(smm AS DOUBLE) - CAST(sm AS DOUBLE) * sm / CAST(n_reps AS DOUBLE))"
                " / (CAST(n_reps AS DOUBLE) - 1))"
            )
        ).alias("boot_se"),
    )


@query(
    "partition_plan_sim",
    oracle=f"""
    WITH plans AS (SELECT unnest([8, 16, 64]) AS p),
    keyed AS (
        SELECT p, {H.dd_md5_long('user_id::VARCHAR')} %% p AS bucket,
               CAST(count(*) AS BIGINT) AS rows_in_bucket
        FROM events CROSS JOIN plans
        GROUP BY p, bucket
    )
    SELECT CAST(p AS BIGINT) AS plan_partitions,
           CAST(count(*) AS BIGINT) AS buckets_used,
           CAST(sum(rows_in_bucket) AS BIGINT) AS total_rows,
           CAST(max(rows_in_bucket) AS BIGINT) AS max_bucket_rows,
           round(CAST(sum(rows_in_bucket) AS DOUBLE) / p, 6) AS mean_bucket_rows,
           round(CAST(max(rows_in_bucket) AS DOUBLE)
                 / (CAST(sum(rows_in_bucket) AS DOUBLE) / p), 6) AS skew_ratio
    FROM keyed GROUP BY p
    """.replace("%%", "%"),
)
def partition_plan_sim_q(spark, sf_dir):
    """Shuffle-partition plan simulator: for candidate partition
    counts (8/16/64), hash events.user_id with the engine-portable
    md5 hash and measure the resulting bucket histogram — max bucket
    vs mean (the straggler ratio AQE's skew-join would react to).
    This is the planning readout behind `spark.sql.shuffle.partitions`
    and repartition(): at 100 TB you run it on the 0.1%% hash sample
    and read the skew_ratio BEFORE committing a shuffle. One scan
    with a 3x map-side plan explode into a (plan, bucket)-bounded
    aggregate; all counts exact."""
    ev = load_table(spark, sf_dir, "events")
    keyed = (
        ev.select(
            F.expr(H.md5_long("CAST(user_id AS STRING)")).alias("h"),
            F.explode(V.lit_array([8, 16, 64])).alias("p"),
        )
        .groupBy("p", (F.col("h") % F.col("p")).alias("bucket"))
        .agg(F.count("*").cast("long").alias("rows_in_bucket"))
    )
    return keyed.groupBy(F.col("p").cast("long").alias("plan_partitions")).agg(
        F.count("*").cast("long").alias("buckets_used"),
        F.sum("rows_in_bucket").cast("long").alias("total_rows"),
        F.max("rows_in_bucket").cast("long").alias("max_bucket_rows"),
        F.round(
            F.sum("rows_in_bucket").cast("double") / F.col("plan_partitions"), 6
        ).alias("mean_bucket_rows"),
        F.round(
            F.max("rows_in_bucket").cast("double")
            / (F.sum("rows_in_bucket").cast("double") / F.col("plan_partitions")),
            6,
        ).alias("skew_ratio"),
    )


@query(
    "postings_compression_stats",
    oracle="""
    WITH post AS (
        SELECT DISTINCT term, doc_id FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        ) WHERE term <> ''
    ), df AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY term
    ), gaps AS (
        SELECT p.term,
               COALESCE(p.doc_id - lag(p.doc_id) OVER (PARTITION BY p.term ORDER BY p.doc_id),
                        p.doc_id + 1) AS gap
        FROM post p
    ), byt AS (
        SELECT term,
               CAST(sum(CASE WHEN gap < 128 THEN 1
                             WHEN gap < 16384 THEN 2
                             WHEN gap < 2097152 THEN 3
                             WHEN gap < 268435456 THEN 4
                             ELSE 5 END) AS BIGINT) AS vbytes,
               CAST(count(*) AS BIGINT) AS n_post
        FROM gaps GROUP BY term
    )
    SELECT CAST(length(bin(df.df)) AS BIGINT) AS df_bucket,
           CAST(count(*) AS BIGINT) AS n_terms,
           CAST(sum(b.n_post) AS BIGINT) AS n_postings,
           CAST(sum(b.n_post) * 8 AS BIGINT) AS raw_bytes,
           CAST(sum(b.vbytes) AS BIGINT) AS varint_bytes,
           round(CAST(sum(b.n_post) * 8 AS DOUBLE) / sum(b.vbytes), 6)
               AS compression_ratio
    FROM byt b JOIN df ON b.term = df.term
    GROUP BY length(bin(df.df))
    """,
)
def postings_compression_stats_q(spark, sf_dir):
    """Inverted-index size planning (the delta-gap + varint estimate
    every IR engine runs before choosing a postings codec — Lucene's
    VByte model): postings collapse to DISTINCT (term, doc_id), gaps
    come from one lag() window on the term partitioning (the posting
    lists' own sort order — at scale this IS the index build's
    existing shuffle, reused), and varint byte counts are exact CASE
    thresholds — no float log. Rolled up by document-frequency
    magnitude bucket (length of df's binary representation — exact on
    both engines), the readout is raw 8-byte postings vs
    delta-varint bytes: the compression ratio that decides codec and
    shard sizing for the keyword_index_* family's artifacts."""
    docs = load_table(spark, sf_dir, "documents", split=True)
    post = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
        .distinct()
    )
    df = post.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    wg = Window.partitionBy("term").orderBy("doc_id")
    gaps = post.select(
        "term",
        F.coalesce(
            F.col("doc_id") - F.lag("doc_id").over(wg), F.col("doc_id") + 1
        ).alias("gap"),
    )
    byt = gaps.groupBy("term").agg(
        F.sum(
            F.when(F.col("gap") < 128, 1)
            .when(F.col("gap") < 16384, 2)
            .when(F.col("gap") < 2097152, 3)
            .when(F.col("gap") < 268435456, 4)
            .otherwise(5)
        )
        .cast("long")
        .alias("vbytes"),
        F.count("*").cast("long").alias("n_post"),
    )
    return (
        byt.join(df, "term")
        .groupBy(F.length(F.bin("df")).cast("long").alias("df_bucket"))
        .agg(
            F.count("*").cast("long").alias("n_terms"),
            F.sum("n_post").cast("long").alias("n_postings"),
            (F.sum("n_post") * 8).cast("long").alias("raw_bytes"),
            F.sum("vbytes").cast("long").alias("varint_bytes"),
            F.round(
                (F.sum("n_post") * 8).cast("double") / F.sum("vbytes"), 6
            ).alias("compression_ratio"),
        )
    )


@query(
    "source_distinctive_terms",
    oracle="""
    WITH tc AS (
        SELECT source, term, CAST(count(*) AS BIGINT) AS y FROM (
            SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
        ) WHERE term <> '' GROUP BY source, term
    ), st AS (
        SELECT source, CAST(sum(y) AS BIGINT) AS n_s FROM tc GROUP BY source
    ), tt AS (
        SELECT term, CAST(sum(y) AS BIGINT) AS y_t FROM tc GROUP BY term
    ), tot AS (
        SELECT CAST(sum(y) AS BIGINT) AS nn FROM tc
    ), sc AS (
        SELECT tc.source, tc.term, tc.y,
               ln((tc.y + 0.5) / (st.n_s - tc.y + 0.5))
               - ln((tt.y_t - tc.y + 0.5) / (tot.nn - st.n_s - tt.y_t + tc.y + 0.5))
                   AS delta,
               sqrt(1.0 / (tc.y + 0.5) + 1.0 / (tt.y_t - tc.y + 0.5)) AS sigma
        FROM tc JOIN st USING (source) JOIN tt USING (term) CROSS JOIN tot
        WHERE tc.y >= 5
    )
    SELECT source, term, y AS term_count, round(z, 6) AS z_score, rnk FROM (
        SELECT source, term, y, delta / sigma AS z,
               CAST(row_number() OVER (PARTITION BY source
                                       ORDER BY delta / sigma DESC, term) AS BIGINT)
                   AS rnk
        FROM sc
    ) WHERE rnk <= 5
    """,
)
def source_distinctive_terms_q(spark, sf_dir):
    """Distinctive vocabulary per source via log-odds with Dirichlet
    smoothing and a z-score (Monroe/Colaresi/Quinn '08 'Fightin'
    Words' — the corpus-comparison method that beats raw TF-IDF for
    'what makes this slice different', used to audit source mix in
    training data): (source, term) counts collapse map-side; source
    and term marginals are two bounded rollups joined back (term
    marginal shuffles on the vocab key, never the corpus); the
    log-odds delta and its variance are single double expressions
    over exact integers, ranked per source with deterministic ties.
    Top-5 terms per source."""
    docs = load_table(spark, sf_dir, "documents", split=True)
    tc = (
        docs.select("source", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("source", "term")
        .agg(F.count("*").cast("long").alias("y"))
    )
    st = tc.groupBy("source").agg(F.sum("y").cast("long").alias("n_s"))
    tt = tc.groupBy("term").agg(F.sum("y").cast("long").alias("y_t"))
    tot = tc.agg(F.sum("y").cast("long").alias("nn"))
    sc = (
        tc.join(F.broadcast(st), "source")
        .join(tt, "term")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("y") >= 5)
        .select(
            "source",
            "term",
            "y",
            (
                F.log((F.col("y") + 0.5) / (F.col("n_s") - F.col("y") + 0.5))
                - F.log(
                    (F.col("y_t") - F.col("y") + 0.5)
                    / (F.col("nn") - F.col("n_s") - F.col("y_t") + F.col("y") + 0.5)
                )
            ).alias("delta"),
            F.sqrt(
                1.0 / (F.col("y") + 0.5) + 1.0 / (F.col("y_t") - F.col("y") + 0.5)
            ).alias("sigma"),
        )
    )
    ranked = sc.select(
        "source",
        "term",
        "y",
        (F.col("delta") / F.col("sigma")).alias("z"),
    ).withColumn(
        "rnk",
        F.row_number()
        .over(Window.partitionBy("source").orderBy(F.col("z").desc(), "term"))
        .cast("long"),
    )
    return ranked.filter(F.col("rnk") <= 5).select(
        "source",
        "term",
        F.col("y").alias("term_count"),
        F.round("z", 6).alias("z_score"),
        "rnk",
    )


@query(
    "psi_drift",
    oracle=f"""
    WITH b AS (
        SELECT (min(epoch_ns(ts)) + max(epoch_ns(ts))) // 2 AS cut,
               min({to_micro('value')}) AS lo,
               max({to_micro('value')}) AS hi
        FROM events
    ), s AS (
        SELECT event_type,
               least(CAST(({to_micro('value')} - b.lo) * 10
                          // (b.hi - b.lo + 1) AS BIGINT), 9) AS bin,
               CASE WHEN epoch_ns(ts) <= b.cut THEN 1 ELSE 0 END AS pre
        FROM events, b
    ), g AS (
        SELECT event_type, bin,
               CAST(sum(pre) AS BIGINT) AS c_a,
               CAST(sum(1 - pre) AS BIGINT) AS c_b
        FROM s GROUP BY event_type, bin
    ), t AS (
        SELECT event_type, bin, c_a, c_b,
               CAST(sum(c_a) OVER (PARTITION BY event_type) AS BIGINT) AS n_a,
               CAST(sum(c_b) OVER (PARTITION BY event_type) AS BIGINT) AS n_b
        FROM g
    ), c AS (
        SELECT event_type, bin, c_a, c_b,
               round((CAST(c_a + 1 AS DOUBLE) / (n_a + 10)
                      - CAST(c_b + 1 AS DOUBLE) / (n_b + 10))
                     * ln((CAST(c_a + 1 AS DOUBLE) / (n_a + 10))
                          / (CAST(c_b + 1 AS DOUBLE) / (n_b + 10))), 6) AS contrib
        FROM t
    )
    SELECT event_type, CAST(bin AS BIGINT) AS bin, c_a AS n_pre, c_b AS n_post,
           contrib,
           {emit_micro(f"CAST(sum({to_micro('contrib')}) OVER (PARTITION BY event_type) AS DOUBLE)")}
               AS psi
    FROM c
    """,
)
def psi_drift_q(spark, sf_dir):
    """Population Stability Index between the first and second half of
    the event stream, per event type (the model-monitoring drift
    gauge: PSI < 0.1 stable, > 0.25 retrain — the VALUE-distribution
    drift partner to embedding_drift/vocab_drift): global cut/lo/hi
    ride one broadcast scalar row; rows bin by exact integer
    arithmetic into 10 fixed-width buckets; Laplace-smoothed shares
    keep ln finite with identical smoothing on both engines; each
    bin's contribution rounds to 6dp and the per-type PSI sums those
    micro-unit integers — order-free. One fact shuffle to the
    (type, bin) frame."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(
        F.expr("(min(ts_ns) + max(ts_ns)) div 2").alias("cut"),
        F.min(F.expr(to_micro("value"))).alias("lo"),
        F.max(F.expr(to_micro("value"))).alias("hi"),
    )
    s = ev.crossJoin(F.broadcast(b)).select(
        "event_type",
        F.least(
            F.expr(
                f"({to_micro('value')} - lo) * 10 div (hi - lo + 1)"
            ).cast("long"),
            F.lit(9).cast("long"),
        ).alias("bin"),
        F.when(F.col("ts_ns") <= F.col("cut"), 1).otherwise(0).alias("pre"),
    )
    g = s.groupBy("event_type", "bin").agg(
        F.sum("pre").cast("long").alias("c_a"),
        F.sum(1 - F.col("pre")).cast("long").alias("c_b"),
    )
    wt = Window.partitionBy("event_type")
    t = g.select(
        "event_type",
        "bin",
        "c_a",
        "c_b",
        F.sum("c_a").over(wt).cast("long").alias("n_a"),
        F.sum("c_b").over(wt).cast("long").alias("n_b"),
    )
    pa = (F.col("c_a") + 1).cast("double") / (F.col("n_a") + 10)
    pb = (F.col("c_b") + 1).cast("double") / (F.col("n_b") + 10)
    c = t.select(
        "event_type",
        "bin",
        "c_a",
        "c_b",
        F.round((pa - pb) * F.log(pa / pb), 6).alias("contrib"),
    )
    return c.select(
        "event_type",
        F.col("bin").cast("long"),
        F.col("c_a").alias("n_pre"),
        F.col("c_b").alias("n_post"),
        "contrib",
        F.expr(
            emit_micro(f"CAST(sum({to_micro('contrib')}) OVER (PARTITION BY event_type) AS DOUBLE)")
        ).alias("psi"),
    )


def _assortativity_oracle(sf_dir: str) -> str:
    base = _knn_graph_oracle(sf_dir).rsplit("SELECT src, dst", 1)[0]
    return (
        base
        + """
    , edges AS (SELECT src, dst FROM ranked WHERE rank <= 3),
    od AS (SELECT src, CAST(count(*) AS BIGINT) AS outd FROM edges GROUP BY src),
    idg AS (SELECT dst, CAST(count(*) AS BIGINT) AS ind FROM edges GROUP BY dst),
    dd AS (
        SELECT od.outd AS x, idg.ind AS y
        FROM edges e JOIN od ON e.src = od.src JOIN idg ON e.dst = idg.dst
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM dd
    )
    SELECT n AS n_edges,
           round(CAST(sx AS DOUBLE) / n, 6) AS mean_src_outdeg,
           round(CAST(sy AS DOUBLE) / n, 6) AS mean_dst_indeg,
           CASE WHEN CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx = 0
                  OR CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy = 0 THEN NULL
                ELSE round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                           / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                                  * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)
           END AS assortativity
    FROM s
    """
    )


@query("knn_graph_assortativity")  # oracle attached below (plane literals)
def knn_graph_assortativity_q(spark, sf_dir):
    """Degree assortativity of the kNN graph (Newman '02: do
    well-connected vectors point at other well-connected vectors?) —
    the hub-structure diagnostic for graph-ANN builds: strongly
    DISassortative kNN graphs concentrate traffic through hub nodes
    (the in-degree hubs knn_graph_degree_stats counts), which is
    exactly where HNSW level assignment and NN-descent sampling need
    care. Reuses the shared LSH-bounded edge build; out/in degree
    rollups join back onto the edge list (all (src,dst)-long frames),
    and the Pearson correlation of (outdeg(src), indeg(dst)) across
    edges comes from exact BIGINT moments in one aggregate."""
    edges = _knn_graph_edges(spark, sf_dir).select("src", "dst")
    od = edges.groupBy("src").agg(F.count("*").cast("long").alias("outd"))
    idg = edges.groupBy("dst").agg(F.count("*").cast("long").alias("ind"))
    dd = (
        edges.join(od, "src")
        .join(idg, "dst")
        .select(F.col("outd").alias("x"), F.col("ind").alias("y"))
    )
    s = dd.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    den = nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    deny = nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    # Exact zero guards in decimal(38,0) with an OR test: the long
    # product den0*deny0 ~ 81·n_edges⁴ overflows BIGINT past ~60k edges
    # (hit at the derived sf1; same class as grouped_ols_slopes r8).
    dec = "decimal(38,0)"
    den0 = (
        F.col("n").cast(dec) * F.col("sxx").cast(dec)
        - F.col("sx").cast(dec) * F.col("sx").cast(dec)
    )
    deny0 = (
        F.col("n").cast(dec) * F.col("syy").cast(dec)
        - F.col("sy").cast(dec) * F.col("sy").cast(dec)
    )
    return s.select(
        F.col("n").alias("n_edges"),
        F.round(F.col("sx").cast("double") / F.col("n"), 6).alias("mean_src_outdeg"),
        F.round(F.col("sy").cast("double") / F.col("n"), 6).alias("mean_dst_indeg"),
        F.when((den0 == 0) | (deny0 == 0), F.lit(None).cast("double"))
        .otherwise(F.round(num / F.sqrt(den * deny), 6))
        .alias("assortativity"),
    )


LAZY_ORACLES["knn_graph_assortativity"] = _assortativity_oracle


@query(
    "bm25_tuning_grid",
    oracle="""
    WITH grid AS (
        SELECT unnest([1.2, 1.2, 0.6, 2.0]) AS k1,
               unnest([0.75, 0.25, 0.75, 0.75]) AS b
    ), toks AS (
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
        SELECT g.k1, g.b, tf.doc_id,
               sum(ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
                   * (tf.tf * (g.k1 + 1))
                   / (tf.tf + g.k1 * (1 - g.b + g.b * tf.dl / s.avgdl))) AS score
        FROM tf JOIN dfreq d USING (term) CROSS JOIN stats s CROSS JOIN grid g
        GROUP BY g.k1, g.b, tf.doc_id
    )
    SELECT k1, b, CAST(rnk AS BIGINT) AS rnk, doc_id, bm25 FROM (
        SELECT k1, b, doc_id, round(score, 6) AS bm25,
               row_number() OVER (PARTITION BY k1, b
                                  ORDER BY round(score, 6) DESC, doc_id) AS rnk
        FROM bm25
    ) WHERE rnk <= 5
    """,
)
def bm25_tuning_grid_q(spark, sf_dir):
    """BM25 (k1, b) hyper-parameter grid in ONE plan (the relevance
    tuning sweep an IR team runs before freezing index params —
    ann_probe_sweep's keyword-side sibling): the expensive work
    (tokenize, tf, df, corpus stats) happens ONCE; the 4-combo grid
    is a broadcast literal frame joined at the SCORING step, so each
    extra combo costs one more agg row per (doc, combo), not another
    corpus scan. Per-combo top-5 ranked on the 6dp-ROUNDED score (then
    doc_id): mathematically-tied docs (sf1 replicas) differ in the
    last ulp per engine depending on term summation order, so ranking
    on the raw double is cross-engine nondeterministic — rounding
    first makes the tie explicit and the doc_id break decisive
    (caught by sf1 parity r8)."""
    docs = load_table(spark, sf_dir, "documents", split=True)
    grid = spark.createDataFrame(
        [(1.2, 0.75), (1.2, 0.25), (0.6, 0.75), (2.0, 0.75)], "k1 double, b double"
    )
    toks = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("dl"),
        F.explode(F.split("text", " ")).alias("term"),
    )
    qtoks = toks.filter(F.col("term").isin("spark", "join", "fast"))
    tf = qtoks.groupBy("doc_id", "term").agg(
        F.count("*").cast("double").alias("tf"), F.min("dl").alias("dl")
    )
    stats = docs.agg(
        F.count("*").alias("n"), F.avg(F.size(F.split("text", " "))).alias("avgdl")
    )
    dfreq = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(grid))
        .groupBy("k1", "b", "doc_id")
        .agg(
            F.sum(
                F.log(
                    1.0 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (F.col("k1") + 1))
                / (
                    F.col("tf")
                    + F.col("k1")
                    * (1 - F.col("b") + F.col("b") * F.col("dl") / F.col("avgdl"))
                )
            ).alias("score")
        )
    )
    ranked = scored.withColumn("bm25", F.round("score", 6)).withColumn(
        "rnk",
        F.row_number()
        .over(Window.partitionBy("k1", "b").orderBy(F.col("bm25").desc(), "doc_id"))
        .cast("long"),
    )
    return ranked.filter(F.col("rnk") <= 5).select("k1", "b", "rnk", "doc_id", "bm25")


@query(
    "snippet_extraction",
    oracle="""
    WITH toks AS (
        SELECT doc_id, text,
               unnest(string_split(text, ' ')) AS term,
               CAST(unnest(range(len(string_split(text, ' ')))) AS BIGINT) AS pos
        FROM documents
    ), hits AS (
        SELECT doc_id, pos FROM toks WHERE term IN ('spark', 'join', 'fast')
    ), win AS (
        SELECT a.doc_id, a.pos AS start_pos, CAST(count(*) AS BIGINT) AS n_hits
        FROM hits a JOIN hits b
          ON a.doc_id = b.doc_id AND b.pos >= a.pos AND b.pos < a.pos + 20
        GROUP BY a.doc_id, a.pos
    ), best AS (
        SELECT doc_id, start_pos, n_hits FROM (
            SELECT doc_id, start_pos, n_hits,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY n_hits DESC, start_pos) AS r
            FROM win
        ) WHERE r = 1
    ), top AS (
        SELECT b.doc_id, b.start_pos, b.n_hits,
               array_to_string(string_split(d.text, ' ')
                   [CAST(b.start_pos + 1 AS INTEGER)
                    : CAST(b.start_pos + 20 AS INTEGER)], ' ') AS snippet,
               row_number() OVER (ORDER BY b.n_hits DESC, b.doc_id) AS rnk
        FROM best b JOIN documents d USING (doc_id)
    )
    SELECT doc_id, start_pos, n_hits, snippet, CAST(rnk AS BIGINT) AS rnk
    FROM top WHERE rnk <= 10
    """,
)
def snippet_extraction_q(spark, sf_dir):
    """Extractive snippet/highlighting (the result-page feature next
    to keyword search: the densest 20-token window of query-term
    hits per document): term positions from one posexplode; candidate
    windows anchor at hit positions only, so the per-doc range
    self-join is hits²-bounded (never dl²); best window per doc by
    deterministic (density, position) order; top-10 docs re-join
    documents ONLY for the 10 winners to slice the snippet text —
    at 100 TB the text column is fetched for k docs, not the corpus."""
    docs = load_table(spark, sf_dir, "documents", split=True)
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "term")
    )
    hits = toks.filter(F.col("term").isin("spark", "join", "fast")).select(
        "doc_id", F.col("pos").cast("long").alias("pos")
    )
    a, bb = hits.alias("a"), hits.alias("b")
    win = (
        a.join(
            bb,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.pos") >= F.col("a.pos"))
            & (F.col("b.pos") < F.col("a.pos") + 20),
        )
        .groupBy(F.col("a.doc_id").alias("doc_id"), F.col("a.pos").alias("start_pos"))
        .agg(F.count("*").cast("long").alias("n_hits"))
    )
    best = (
        win.withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(
                    F.col("n_hits").desc(), "start_pos"
                )
            ),
        )
        .filter(F.col("r") == 1)
        .drop("r")
    )
    top = best.withColumn(
        "rnk",
        F.row_number()
        .over(Window.orderBy(F.col("n_hits").desc(), "doc_id"))
        .cast("long"),
    ).filter(F.col("rnk") <= 10)
    return (
        top.join(docs.select("doc_id", "text"), "doc_id")
        .select(
            "doc_id",
            "start_pos",
            "n_hits",
            F.array_join(
                F.slice(
                    F.split("text", " "),
                    (F.col("start_pos") + 1).cast("int"),
                    20,
                ),
                " ",
            ).alias("snippet"),
            "rnk",
        )
    )


@query(
    "cross_source_duplication",
    oracle=f"""
    WITH {_DD_SHINGLES}, {_DD_MINHASH_SIG}, {_DD_BANDS},
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
                    AND a.doc_id < b.doc_id
    ), sp AS (
        SELECT least(da.source, db.source) AS source_a,
               greatest(da.source, db.source) AS source_b,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM pairs p
        JOIN documents da ON p.doc_a = da.doc_id
        JOIN documents db ON p.doc_b = db.doc_id
        GROUP BY least(da.source, db.source), greatest(da.source, db.source)
    ), dim AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY source
    )
    SELECT sp.source_a, sp.source_b, sp.n_pairs,
           CAST(CASE WHEN sp.source_a = sp.source_b
                     THEN a.n_docs * (a.n_docs - 1) / 2
                     ELSE a.n_docs * b.n_docs END AS BIGINT) AS possible_pairs,
           round(CAST(sp.n_pairs AS DOUBLE)
                 / (CASE WHEN sp.source_a = sp.source_b
                         THEN a.n_docs * (a.n_docs - 1) / 2
                         ELSE a.n_docs * b.n_docs END), 6) AS dup_rate
    FROM sp
    JOIN dim a ON sp.source_a = a.source
    JOIN dim b ON sp.source_b = b.source
    """,
)
def cross_source_duplication_q(spark, sf_dir):
    """Cross-SOURCE near-duplication matrix (which feeds copy from
    each other — the provenance audit run before setting per-source
    sampling weights, since duplicated sources double-count in the
    mix): MinHash-LSH candidate pairs from the shared banding build
    (bucket-bound, never n²) roll up to an ordered (source, source)
    matrix; the tiny per-source dims broadcast back to normalize into
    duplication rates against possible-pair counts. The matrix is
    |sources|²-bounded — the readout corpus_mix and
    corpus_temperature_mix consume."""
    from ..operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.dedup_minhash_lsh(docs).select("doc_a", "doc_b").distinct()
    src = docs.select("doc_id", "source")
    sp = (
        pairs.join(src.withColumnRenamed("source", "_sa"), pairs.doc_a == src.doc_id)
        .drop("doc_id")
        .join(
            src.withColumnRenamed("source", "_sb").withColumnRenamed("doc_id", "_id2"),
            F.col("doc_b") == F.col("_id2"),
        )
        .groupBy(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
        )
        .agg(F.count("*").cast("long").alias("n_pairs"))
    )
    dim = docs.groupBy("source").agg(F.count("*").cast("long").alias("n_docs"))
    possible = F.when(
        F.col("source_a") == F.col("source_b"),
        F.col("_na") * (F.col("_na") - 1) / 2,
    ).otherwise(F.col("_na") * F.col("_nb"))
    return (
        sp.join(
            F.broadcast(dim.select(F.col("source").alias("source_a"), F.col("n_docs").alias("_na"))),
            "source_a",
        )
        .join(
            F.broadcast(dim.select(F.col("source").alias("source_b"), F.col("n_docs").alias("_nb"))),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_pairs",
            possible.cast("long").alias("possible_pairs"),
            F.round(F.col("n_pairs").cast("double") / possible, 6).alias("dup_rate"),
        )
    )


@query(
    "holt_forecast",
    oracle="""
    WITH m AS (
        SELECT (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS month_id,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
        FROM orders GROUP BY month_id
    ), ser AS (
        SELECT CAST(count(*) AS BIGINT) AS n_months,
               list(CAST(rev_c AS DOUBLE) / 100 ORDER BY month_id) AS ys
        FROM m
    ), fit AS (
        SELECT n_months,
               list_reduce(
                   list_transform(ys, y -> [y, 0.0, 0.0]),
                   (acc, x) -> [0.5 * x[1] + 0.5 * (acc[1] + acc[2]),
                                0.3 * (0.5 * x[1] + 0.5 * (acc[1] + acc[2]) - acc[1])
                                + 0.7 * acc[2],
                                1.0]) AS st
        FROM ser
    )
    SELECT CAST(h AS BIGINT) AS horizon, n_months,
           round(st[1], 6) AS level_end,
           round(st[2], 6) AS trend_end,
           round(st[1] + h * st[2], 6) AS forecast
    FROM fit CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)
    """,
)
def holt_forecast_q(spark, sf_dir):
    """Holt double-exponential smoothing over monthly revenue with a
    3-month forecast (the trend-aware upgrade to revenue_forecast's
    OLS line — level + trend adapt to recent months instead of
    weighting all history equally; alpha=0.5, beta=0.3): the fact
    table collapses to exact cent-unit MONTH totals first, and the
    inherently sequential recursion runs as an ordered left fold over
    that ~80-element series — survival_km's bit-identical
    ordered-fold posture, with [level, trend] as the fold state. The
    first element seeds level (trend 0); both engines then apply the
    identical recurrence left-to-right."""
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
    ser = m.agg(
        F.count("*").cast("long").alias("n_months"),
        F.expr(
            "transform(sort_array(collect_list(struct(month_id, CAST(rev_c AS DOUBLE) / 100 AS y))),"
            " s -> s.y)"
        ).alias("ys"),
    )
    def step(acc, y):
        new_l = 0.5 * y + 0.5 * (acc[0] + acc[1])
        new_b = 0.3 * (0.5 * y + 0.5 * (acc[0] + acc[1]) - acc[0]) + 0.7 * acc[1]
        return F.when(
            acc[2] == 0.0, F.array(y, F.lit(0.0), F.lit(1.0))
        ).otherwise(F.array(new_l, new_b, F.lit(1.0)))

    fit = ser.select(
        "n_months",
        F.aggregate(
            F.col("ys"),
            V.lit_array([0.0, 0.0, 0.0]),
            step,
        ).alias("st"),
    )
    h = spark.range(1, 4).select(F.col("id").alias("horizon"))
    return fit.crossJoin(F.broadcast(h)).select(
        "horizon",
        "n_months",
        F.round(F.col("st")[0], 6).alias("level_end"),
        F.round(F.col("st")[1], 6).alias("trend_end"),
        F.round(F.col("st")[0] + F.col("horizon") * F.col("st")[1], 6).alias("forecast"),
    )


@query(
    "kendall_tau_ranks",
    oracle="""
    WITH g AS (
        SELECT n.n_name,
               CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    ), p AS (
        SELECT CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(CASE WHEN (a.rev_c - b.rev_c) * (a.n_orders - b.n_orders) > 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
               CAST(sum(CASE WHEN (a.rev_c - b.rev_c) * (a.n_orders - b.n_orders) < 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
               CAST(sum(CASE WHEN a.rev_c = b.rev_c THEN 1 ELSE 0 END) AS BIGINT) AS ties_x,
               CAST(sum(CASE WHEN a.n_orders = b.n_orders THEN 1 ELSE 0 END) AS BIGINT) AS ties_y
        FROM g a JOIN g b ON a.n_name < b.n_name
    )
    SELECT n_pairs, concordant, discordant,
           round((CAST(concordant AS DOUBLE) - discordant)
                 / sqrt(CAST(n_pairs - ties_x AS DOUBLE) * (n_pairs - ties_y)), 6)
               AS tau_b
    FROM p
    """,
)
def kendall_tau_ranks_q(spark, sf_dir):
    """Kendall tau-b agreement between two per-nation rankings
    (revenue rank vs order-count rank — the rank-stability check
    behind 'does the cheap metric order segments like the expensive
    one?', pairing with topk_stability's overlap view): the fact
    joins collapse to a 25-row (nation, revenue, orders) frame, and
    concordant/discordant/tie counts come from the exact-integer
    pairwise self-join over that BOUNDED frame (|groups|², never
    data-sized). tau-b's tie correction uses the same exact counts;
    one double expression at emit."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    g = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(F.expr("cast(round(o_totalprice * 100) as bigint)"))
            .cast("long")
            .alias("rev_c"),
            F.count("*").cast("long").alias("n_orders"),
        )
    )
    a, b = g.alias("a"), g.alias("b")
    p = (
        a.join(b, F.col("a.n_name") < F.col("b.n_name"))
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum(
                F.when(
                    (F.col("a.rev_c") - F.col("b.rev_c"))
                    * (F.col("a.n_orders") - F.col("b.n_orders"))
                    > 0,
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("concordant"),
            F.sum(
                F.when(
                    (F.col("a.rev_c") - F.col("b.rev_c"))
                    * (F.col("a.n_orders") - F.col("b.n_orders"))
                    < 0,
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("discordant"),
            F.sum(F.when(F.col("a.rev_c") == F.col("b.rev_c"), 1).otherwise(0))
            .cast("long")
            .alias("ties_x"),
            F.sum(F.when(F.col("a.n_orders") == F.col("b.n_orders"), 1).otherwise(0))
            .cast("long")
            .alias("ties_y"),
        )
    )
    return p.select(
        "n_pairs",
        "concordant",
        "discordant",
        F.round(
            (F.col("concordant").cast("double") - F.col("discordant"))
            / F.sqrt(
                (F.col("n_pairs") - F.col("ties_x")).cast("double")
                * (F.col("n_pairs") - F.col("ties_y"))
            ),
            6,
        ).alias("tau_b"),
    )


@query(
    "ab_power_analysis",
    oracle=f"""
    WITH b AS (
        SELECT (min(epoch_ns(ts)) + max(epoch_ns(ts))) // 2 AS cut FROM events
    ), s AS (
        SELECT event_type, epoch_ns(ts) <= b.cut AS pre,
               CAST(round(value * 1000) AS BIGINT) AS v_m
        FROM events, b
    ), a AS (
        SELECT event_type,
               CAST(sum(CASE WHEN pre THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(sum(CASE WHEN pre THEN 0 ELSE 1 END) AS BIGINT) AS n2,
               CAST(sum(CASE WHEN pre THEN v_m ELSE 0 END) AS BIGINT) AS s1,
               CAST(sum(CASE WHEN pre THEN 0 ELSE v_m END) AS BIGINT) AS s2,
               CAST(sum(CASE WHEN pre THEN v_m * v_m ELSE 0 END) AS BIGINT) AS q1,
               CAST(sum(CASE WHEN pre THEN 0 ELSE v_m * v_m END) AS BIGINT) AS q2
        FROM s GROUP BY event_type
    ), d AS (
        SELECT event_type, n1, n2,
               (CAST(s2 AS DOUBLE) / n2 - CAST(s1 AS DOUBLE) / n1) / 1000 AS delta,
               {from_micro('((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1))')} AS var1,
               {from_micro('((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2) / (n2 - 1))')} AS var2
        FROM a
    )
    SELECT event_type, n1 AS n_pre, n2 AS n_post,
           round(delta, 6) AS observed_delta,
           CAST(ceil(pow(1.959964 + 0.841621, 2) * (var1 + var2)
                     / (delta * delta)) AS BIGINT) AS n_required_per_arm,
           least(n1, n2) >= ceil(pow(1.959964 + 0.841621, 2) * (var1 + var2)
                                 / (delta * delta)) AS adequately_powered
    FROM d
    """,
)
def ab_power_analysis_q(spark, sf_dir):
    """Two-sample power analysis per event type (the 'is this A/B test
    big enough?' calculator — 80%% power at alpha=0.05 via the
    standard (z_a/2 + z_b)^2 (s1^2+s2^2)/delta^2 rule, z constants as
    shared literals): reuses ab_welch_ttest's exact milli-unit
    conditional moments (one scan, one agg), so the observed effect,
    both variances and the required-n all derive from identical
    integers on both engines. The adequately_powered flag is the
    go/no-go readout an experimentation stack surfaces next to the
    t-stat."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(F.expr("(min(ts_ns) + max(ts_ns)) div 2").alias("cut"))
    s = ev.crossJoin(F.broadcast(b)).select(
        "event_type",
        (F.col("ts_ns") <= F.col("cut")).alias("pre"),
        F.expr("cast(round(value * 1000) as bigint)").alias("v_m"),
    )
    a = s.groupBy("event_type").agg(
        F.sum(F.when(F.col("pre"), 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("pre"), 0).otherwise(1)).cast("long").alias("n2"),
        F.sum(F.when(F.col("pre"), F.col("v_m")).otherwise(0)).cast("long").alias("s1"),
        F.sum(F.when(F.col("pre"), 0).otherwise(F.col("v_m"))).cast("long").alias("s2"),
        F.sum(F.when(F.col("pre"), F.col("v_m") * F.col("v_m")).otherwise(0))
        .cast("long")
        .alias("q1"),
        F.sum(F.when(F.col("pre"), 0).otherwise(F.col("v_m") * F.col("v_m")))
        .cast("long")
        .alias("q2"),
    )
    delta = (
        F.col("s2").cast("double") / F.col("n2")
        - F.col("s1").cast("double") / F.col("n1")
    ) / F.lit(1000)
    var1 = F.expr(from_micro("(CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1)"))
    var2 = F.expr(from_micro("(CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2) / (n2 - 1)"))
    req = F.ceil(
        F.pow(F.lit(1.959964) + F.lit(0.841621), F.lit(2.0))
        * (var1 + var2)
        / (delta * delta)
    )
    return a.select(
        "event_type",
        F.col("n1").alias("n_pre"),
        F.col("n2").alias("n_post"),
        F.round(delta, 6).alias("observed_delta"),
        req.cast("long").alias("n_required_per_arm"),
        (F.least("n1", "n2") >= req).alias("adequately_powered"),
    )


def _classifier_pr_curve_oracle() -> str:
    base = _classifier_calibration_oracle().rsplit(", binned AS", 1)[0]
    return (
        base
        + """
    , thr AS (
        SELECT unnest([0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS tau
    ), j AS (
        SELECT t.tau,
               CAST(sum(CASE WHEN p.prob >= t.tau AND l.label THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(sum(CASE WHEN p.prob >= t.tau AND NOT l.label THEN 1 ELSE 0 END) AS BIGINT) AS fp,
               CAST(sum(CASE WHEN p.prob < t.tau AND l.label THEN 1 ELSE 0 END) AS BIGINT) AS fn
        FROM probs p JOIN labels l ON l.doc_id = p.doc_id CROSS JOIN thr t
        GROUP BY t.tau
    )
    SELECT tau, tp, fp, fn,
           CASE WHEN tp + fp = 0 THEN NULL
                ELSE round(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS precis,
           CASE WHEN tp + fn = 0 THEN NULL
                ELSE round(CAST(tp AS DOUBLE) / (tp + fn), 6) END AS recall,
           CASE WHEN tp = 0 THEN NULL
                ELSE round(2.0 * tp / (2.0 * tp + fp + fn), 6) END AS f1
    FROM j
    """
    )


@query("classifier_pr_curve", oracle=None)  # oracle attached below (weight literals)
def classifier_pr_curve_q(spark, sf_dir):
    """Precision/recall/F1 curve for the learned quality scorer over a
    9-point threshold grid (the operating-point selection step after
    classifier_calibration says the probabilities are honest — a data
    team picks tau off THIS table): one classifier pass + one gate
    pass share the doc_id join (same frames as calibration); the
    threshold grid is a broadcast literal crossed at the COUNTING agg,
    so 9 operating points cost one grouped aggregate over exact
    integer confusion counts, not 9 corpus passes. Zero-denominator
    points emit NULL through identical CASE guards."""
    from ..operators import curation

    docs = load_table(spark, sf_dir, "documents", split=True)
    probs = curation.quality_classifier(docs).select("doc_id", "prob")
    labels = curation.quality_filters(docs).select(
        "doc_id", F.col("keep").alias("label")
    )
    thr = spark.createDataFrame(
        [(t / 10.0,) for t in range(1, 10)], "tau double"
    )
    j = (
        probs.join(labels, "doc_id")
        .crossJoin(F.broadcast(thr))
        .groupBy("tau")
        .agg(
            F.sum(F.when((F.col("prob") >= F.col("tau")) & F.col("label"), 1).otherwise(0))
            .cast("long")
            .alias("tp"),
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
    return j.select(
        "tau",
        "tp",
        "fp",
        "fn",
        F.when(F.col("tp") + F.col("fp") == 0, F.lit(None).cast("double"))
        .otherwise(F.round(F.col("tp").cast("double") / (F.col("tp") + F.col("fp")), 6))
        .alias("precis"),
        F.when(F.col("tp") + F.col("fn") == 0, F.lit(None).cast("double"))
        .otherwise(F.round(F.col("tp").cast("double") / (F.col("tp") + F.col("fn")), 6))
        .alias("recall"),
        F.when(F.col("tp") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(2.0 * F.col("tp") / (2.0 * F.col("tp") + F.col("fp") + F.col("fn")), 6)
        )
        .alias("f1"),
    )


ORACLES["classifier_pr_curve"] = _classifier_pr_curve_oracle()


def _brier_decomposition_oracle() -> str:
    base = _classifier_calibration_oracle().rsplit(", binned AS", 1)[0]
    return (
        base
        + f"""
    , binned AS (
        SELECT least(CAST(floor(p.prob * 10) AS BIGINT), 9) AS bin,
               {to_micro('p.prob')} AS prob_u,
               CASE WHEN l.label THEN 1 ELSE 0 END AS pos
        FROM probs p JOIN labels l ON l.doc_id = p.doc_id
    ), direct AS (
        SELECT CAST(count(*) AS BIGINT) AS nn,
               CAST(sum(pos) AS BIGINT) AS npos,
               CAST(sum((prob_u - pos * {MICRO}) * (prob_u - pos * {MICRO})) AS BIGINT)
                   AS sq_u
        FROM binned
    ), g AS (
        SELECT bin, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(pos) AS BIGINT) AS n_pos,
               CAST(sum(prob_u) AS BIGINT) AS sum_prob_u
        FROM binned GROUP BY bin
    ), terms AS (
        SELECT CAST(sum({to_micro(f"n * pow(sum_prob_u / (n * {MICRO}.0) - CAST(n_pos AS DOUBLE) / n, 2)")})
                   AS BIGINT) AS rel_u,
               CAST(sum({to_micro("n * pow(CAST(n_pos AS DOUBLE) / n - CAST(d.npos AS DOUBLE) / d.nn, 2)")})
                   AS BIGINT) AS res_u
        FROM g CROSS JOIN direct d
        GROUP BY d.nn
    )
    SELECT d.nn AS n_docs,
           round(CAST(d.sq_u AS DOUBLE) / d.nn / 1e12, 6) AS brier,
           round(CAST(d.npos AS DOUBLE) / d.nn
                 * (1 - CAST(d.npos AS DOUBLE) / d.nn), 6) AS uncertainty,
           {emit_micro('CAST(t.rel_u AS DOUBLE) / d.nn')} AS reliability,
           {emit_micro('CAST(t.res_u AS DOUBLE) / d.nn')} AS resolution
    FROM direct d CROSS JOIN terms t
    """
    )


@query("brier_decomposition", oracle=None)  # oracle attached below (weight literals)
def brier_decomposition_q(spark, sf_dir):
    """Murphy decomposition of the quality scorer's Brier score
    (brier = reliability - resolution + uncertainty): uncertainty is
    the base rate's variance (can the data be predicted at all),
    resolution how much the scorer's bins separate outcomes,
    reliability the calibration penalty classifier_calibration plots.
    The direct Brier term is an EXACT integer sum of squared
    micro-unit residuals (prob_u and the 0/1 label share the micro-unit
    scale); the bin terms quantize per-bin doubles to micro-units so
    the decile-frame sums stay order-free. One classifier + one gate
    pass, then everything runs on the 10-row bin frame."""
    from ..operators import curation

    docs = load_table(spark, sf_dir, "documents", split=True)
    probs = curation.quality_classifier(docs).select("doc_id", "prob")
    labels = curation.quality_filters(docs).select(
        "doc_id", F.col("keep").alias("label")
    )
    binned = probs.join(labels, "doc_id").select(
        F.least(F.floor(F.col("prob") * 10).cast("long"), F.lit(9).cast("long")).alias(
            "bin"
        ),
        F.expr(to_micro("prob")).alias("prob_u"),
        F.when(F.col("label"), 1).otherwise(0).alias("pos"),
    )
    direct = binned.agg(
        F.count("*").cast("long").alias("nn"),
        F.sum("pos").cast("long").alias("npos"),
        F.sum(
            (F.col("prob_u") - F.col("pos") * MICRO)
            * (F.col("prob_u") - F.col("pos") * MICRO)
        )
        .cast("long")
        .alias("sq_u"),
    )
    g = binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum("prob_u").cast("long").alias("sum_prob_u"),
    )
    terms = (
        g.crossJoin(F.broadcast(direct))
        .groupBy("nn")
        .agg(
            F.sum(
                F.expr(
                    to_micro(
                        f"n * pow(sum_prob_u / (n * {MICRO}.0) - cast(n_pos as double) / n, 2)"
                    )
                )
            )
            .cast("long")
            .alias("rel_u"),
            F.sum(
                F.expr(to_micro("n * pow(cast(n_pos as double) / n - cast(npos as double) / nn, 2)"))
            )
            .cast("long")
            .alias("res_u"),
        )
        .drop("nn")
    )
    return direct.crossJoin(F.broadcast(terms)).select(
        F.col("nn").alias("n_docs"),
        F.round(F.col("sq_u").cast("double") / F.col("nn") / F.lit(1e12), 6).alias(
            "brier"
        ),
        F.round(
            F.col("npos").cast("double")
            / F.col("nn")
            * (1 - F.col("npos").cast("double") / F.col("nn")),
            6,
        ).alias("uncertainty"),
        F.expr(emit_micro("CAST(rel_u AS DOUBLE) / nn")).alias("reliability"),
        F.expr(emit_micro("CAST(res_u AS DOUBLE) / nn")).alias("resolution"),
    )


ORACLES["brier_decomposition"] = _brier_decomposition_oracle()


@query(
    "join_cardinality_estimate",
    oracle="""
    WITH jo AS (
        SELECT 'orders x customer' AS join_name,
               (SELECT count(*) FROM orders) AS rows_a,
               (SELECT count(*) FROM customer) AS rows_b,
               (SELECT count(DISTINCT o_custkey) FROM orders) AS ndv_a,
               (SELECT count(DISTINCT c_custkey) FROM customer) AS ndv_b,
               (SELECT count(*) FROM orders o JOIN customer c
                 ON o.o_custkey = c.c_custkey) AS actual_rows
        UNION ALL
        SELECT 'lineitem x orders',
               (SELECT count(*) FROM lineitem),
               (SELECT count(*) FROM orders),
               (SELECT count(DISTINCT l_orderkey) FROM lineitem),
               (SELECT count(DISTINCT o_orderkey) FROM orders),
               (SELECT count(*) FROM lineitem l JOIN orders o
                 ON l.l_orderkey = o.o_orderkey)
        UNION ALL
        SELECT 'lineitem x part',
               (SELECT count(*) FROM lineitem),
               (SELECT count(*) FROM part),
               (SELECT count(DISTINCT l_partkey) FROM lineitem),
               (SELECT count(DISTINCT p_partkey) FROM part),
               (SELECT count(*) FROM lineitem l JOIN part p
                 ON l.l_partkey = p.p_partkey)
    )
    SELECT join_name,
           CAST(rows_a AS BIGINT) AS rows_a, CAST(rows_b AS BIGINT) AS rows_b,
           CAST(ndv_a AS BIGINT) AS ndv_a, CAST(ndv_b AS BIGINT) AS ndv_b,
           CAST(rows_a * rows_b // greatest(ndv_a, ndv_b) AS BIGINT) AS est_rows,
           CAST(actual_rows AS BIGINT) AS actual_rows,
           round(greatest(
               CAST(rows_a * rows_b // greatest(ndv_a, ndv_b) AS DOUBLE) / actual_rows,
               CAST(actual_rows AS DOUBLE)
               / (rows_a * rows_b // greatest(ndv_a, ndv_b))), 6) AS q_error
    FROM jo
    """,
)
def join_cardinality_estimate_q(spark, sf_dir):
    """Join cardinality estimation audit — the textbook CBO formula
    |A|·|B| / max(ndv(a), ndv(b)) (what Catalyst's cost-based
    optimizer and every System-R descendant uses to order joins)
    scored against the TRUE join sizes, with the q-error metric from
    the 'How Good Are Query Optimizers, Really?' benchmark (Leis
    VLDB'15). Three equi-joins on the TPC-H graph: per-join inputs are
    two counts + two exact NDVs + one real join count; the estimate is
    exact integer div arithmetic. At 100 TB the NDVs swap to the HLL
    sketch (hll_distinct) — same formula, same output contract; this
    exact version IS the oracle for that swap."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    p = load_table(spark, sf_dir, "part")

    def one(name, a, b, ka, kb):
        sa = a.agg(
            F.count("*").cast("long").alias("rows_a"),
            F.count_distinct(F.col(ka)).cast("long").alias("ndv_a"),
        )
        sb = b.agg(
            F.count("*").cast("long").alias("rows_b"),
            F.count_distinct(F.col(kb)).cast("long").alias("ndv_b"),
        )
        ac = a.join(b, F.col(ka) == F.col(kb)).agg(
            F.count("*").cast("long").alias("actual_rows")
        )
        return (
            sa.crossJoin(F.broadcast(sb))
            .crossJoin(F.broadcast(ac))
            .select(
                F.lit(name).alias("join_name"),
                "rows_a",
                "rows_b",
                "ndv_a",
                "ndv_b",
                "actual_rows",
            )
        )

    jo = (
        one("orders x customer", o, c, "o_custkey", "c_custkey")
        .unionByName(one("lineitem x orders", li, o, "l_orderkey", "o_orderkey"))
        .unionByName(one("lineitem x part", li, p, "l_partkey", "p_partkey"))
    )
    # empty inputs: DuckDB's // and / by zero give NULL, so nullif/try_divide
    est = F.expr("rows_a * rows_b div nullif(greatest(ndv_a, ndv_b), 0)")
    return jo.select(
        "join_name",
        "rows_a",
        "rows_b",
        "ndv_a",
        "ndv_b",
        est.cast("long").alias("est_rows"),
        "actual_rows",
        F.round(
            F.greatest(
                F.try_divide(est.cast("double"), F.col("actual_rows")),
                F.try_divide(F.col("actual_rows").cast("double"), est),
            ),
            6,
        ).alias("q_error"),
    )


@query(
    "filter_selectivity_estimate",
    oracle="""
    WITH b AS (
        SELECT min(CAST(round(o_totalprice * 100) AS BIGINT)) AS lo,
               max(CAST(round(o_totalprice * 100) AS BIGINT)) AS hi,
               CAST(count(*) AS BIGINT) AS nn
        FROM orders
    ), hist AS (
        SELECT least((CAST(round(o_totalprice * 100) AS BIGINT) - b.lo) * 10
                     // (b.hi - b.lo + 1), 9) AS bkt,
               CAST(count(*) AS BIGINT) AS n_k
        FROM orders, b GROUP BY 1
    ), preds AS (
        SELECT * FROM (VALUES
            ('price < 50k', 0::BIGINT, 5000000::BIGINT),
            ('50k..150k', 5000000::BIGINT, 15000000::BIGINT),
            ('price >= 250k', 25000000::BIGINT, 100000000::BIGINT))
            AS t(pred_name, p_lo, p_hi)
    ), est AS (
        SELECT p.pred_name, p.p_lo, p.p_hi, b.nn,
               CAST(round(sum(h.n_k * greatest(least(
                   (least(p.p_hi, b.lo + (h.bkt + 1) * (b.hi - b.lo + 1) // 10)
                    - greatest(p.p_lo, b.lo + h.bkt * (b.hi - b.lo + 1) // 10))
                   / CAST((b.hi - b.lo + 1) // 10 AS DOUBLE), 1.0), 0.0)))
                   AS BIGINT) AS est_rows
        FROM hist h CROSS JOIN b CROSS JOIN preds p
        GROUP BY p.pred_name, p.p_lo, p.p_hi, b.nn
    ), act AS (
        SELECT p.pred_name, CAST(count(*) AS BIGINT) AS actual_rows
        FROM orders o CROSS JOIN b
        JOIN preds p ON CAST(round(o.o_totalprice * 100) AS BIGINT) >= p.p_lo
                    AND CAST(round(o.o_totalprice * 100) AS BIGINT) < p.p_hi
        GROUP BY p.pred_name
    )
    SELECT e.pred_name, e.est_rows, a.actual_rows,
           round(CAST(e.est_rows AS DOUBLE) / e.nn, 6) AS sel_est,
           round(CAST(a.actual_rows AS DOUBLE) / e.nn, 6) AS sel_actual,
           round(greatest(CAST(e.est_rows AS DOUBLE) / a.actual_rows,
                          CAST(a.actual_rows AS DOUBLE) / e.est_rows), 6) AS q_error
    FROM est e JOIN act a USING (pred_name)
    """,
)
def filter_selectivity_estimate_q(spark, sf_dir):
    """Range-predicate selectivity estimation audit — the equi-width
    histogram + uniform-within-bucket interpolation every cost-based
    optimizer runs for `WHERE price BETWEEN a AND b`, scored against
    true counts with q-error: the 10-bucket histogram builds in one
    exact-integer aggregate (cent units; identical integer bucket
    edges on both engines); each predicate's estimate is the
    histogram dot product with clamped overlap fractions — all on the
    10-row frame; actuals come from one shared filtered count pass.
    The q-error column is the reading: equi-width's known failure on
    skew is visible next to events_histogram_equidepth's fix."""
    o = load_table(spark, sf_dir, "orders")
    b = o.agg(
        F.min(F.expr("cast(round(o_totalprice * 100) as bigint)")).alias("lo"),
        F.max(F.expr("cast(round(o_totalprice * 100) as bigint)")).alias("hi"),
        F.count("*").cast("long").alias("nn"),
    )
    hist = (
        o.crossJoin(F.broadcast(b))
        .groupBy(
            F.least(
                F.expr(
                    "(cast(round(o_totalprice * 100) as bigint) - lo) * 10"
                    " div (hi - lo + 1)"
                ),
                F.lit(9).cast("long"),
            ).alias("bkt")
        )
        .agg(F.count("*").cast("long").alias("n_k"))
    )
    preds = spark.createDataFrame(
        [
            ("price < 50k", 0, 5000000),
            ("50k..150k", 5000000, 15000000),
            ("price >= 250k", 25000000, 100000000),
        ],
        "pred_name string, p_lo long, p_hi long",
    )
    width = F.expr("(hi - lo + 1) div 10")
    lb = F.col("lo") + F.col("bkt") * F.expr("(hi - lo + 1) div 10")
    ub = F.col("lo") + (F.col("bkt") + 1) * F.expr("(hi - lo + 1) div 10")
    frac = F.greatest(
        F.least(
            (F.least(F.col("p_hi"), ub) - F.greatest(F.col("p_lo"), lb))
            / width.cast("double"),
            F.lit(1.0),
        ),
        F.lit(0.0),
    )
    est = (
        hist.crossJoin(F.broadcast(b))
        .crossJoin(F.broadcast(preds))
        .groupBy("pred_name", "p_lo", "p_hi", "nn")
        .agg(
            F.expr(
                "cast(round(sum(n_k * greatest(least("
                "(least(p_hi, lo + (bkt + 1) * ((hi - lo + 1) div 10))"
                " - greatest(p_lo, lo + bkt * ((hi - lo + 1) div 10)))"
                " / cast((hi - lo + 1) div 10 as double), 1.0d), 0.0d))) as bigint)"
            ).alias("est_rows")
        )
    )
    act = (
        o.crossJoin(F.broadcast(preds))
        .filter(
            (F.expr("cast(round(o_totalprice * 100) as bigint)") >= F.col("p_lo"))
            & (F.expr("cast(round(o_totalprice * 100) as bigint)") < F.col("p_hi"))
        )
        .groupBy("pred_name")
        .agg(F.count("*").cast("long").alias("actual_rows"))
    )
    return est.join(act, "pred_name").select(
        "pred_name",
        "est_rows",
        "actual_rows",
        F.round(F.col("est_rows").cast("double") / F.col("nn"), 6).alias("sel_est"),
        F.round(F.col("actual_rows").cast("double") / F.col("nn"), 6).alias(
            "sel_actual"
        ),
        F.round(
            F.greatest(
                F.col("est_rows").cast("double") / F.col("actual_rows"),
                F.col("actual_rows").cast("double") / F.col("est_rows"),
            ),
            6,
        ).alias("q_error"),
    )


# Ground-truth sample for embedding_dedup_recall: the 0.3 md5 rate
# gate (unchanged — keeps gate-scale outputs byte-identical: the rate
# set is ~150 rows at sf0.001/sf0.01 and ~600 at sf0.1, well under the
# cap) topped by an ABSOLUTE cap of the _EDR_SAMPLE_CAP smallest
# (md5(vec_id), vec_id) members, so the exact all-pairs ground truth
# is cap² bounded regardless of corpus size (the r8 plan's 30% RATE
# sample was 0.045*N² pairs — still quadratic; the sf1 sweep had to
# slice it to finish).
_EDR_SAMPLE_CAP = 2000


def _embedding_dedup_recall_oracle(sf_dir: str) -> str:
    planes = ann.planes_for(sf_dir)
    h = H.dd_md5_long("vec_id::VARCHAR")
    return f"""
    WITH sub AS (
        SELECT vec_id, embedding FROM embeddings
        WHERE {h} / 1152921504606846976.0 < 0.3
        ORDER BY {h}, vec_id
        LIMIT {_EDR_SAMPLE_CAP}
    ), buckets AS (
        SELECT vec_id, {ann.dd_lsh_bucket('embedding', planes)} AS bucket FROM sub
    ), v AS (
        SELECT s.vec_id, s.embedding, b.bucket FROM sub s JOIN buckets b USING (vec_id)
    ), pairs AS (
        SELECT CASE WHEN a.bucket = b.bucket THEN 1 ELSE 0 END AS cand,
               CASE WHEN {V.dd_cosine('a.embedding', 'b.embedding')} >= 0.3
                    THEN 1 ELSE 0 END AS truth
        FROM v a JOIN v b ON a.vec_id < b.vec_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(truth) AS BIGINT) AS n_true,
           CAST(sum(cand) AS BIGINT) AS n_candidates,
           CAST(sum(cand * truth) AS BIGINT) AS n_hit,
           round(CAST(sum(cand * truth) AS DOUBLE) / sum(truth), 6) AS recall,
           round(CAST(sum(cand * truth) AS DOUBLE) / sum(cand), 6) AS precis
    FROM pairs
    """


@query("embedding_dedup_recall")  # oracle attached below (plane literals)
def embedding_dedup_recall_q(spark, sf_dir):
    """Candidate-generation QA for embedding near-dup (the dedup-side
    twin of ann_recall_at_k: what fraction of TRUE near-dup pairs do
    the 6-plane LSH buckets actually surface, and how much candidate
    volume buys it): ground truth is exact all-pairs cosine >= 0.3
    over an ABSOLUTELY bounded sample — the 0.3 md5 rate gate capped
    at the 2000 smallest (md5(vec_id), vec_id) members, a total
    engine-portable order, so the exact ground truth is cap² bounded
    at any corpus size (the cap does not bind at the N=500/2000 gate
    scales, so gate outputs are unchanged) — candidates are
    same-bucket pairs on the identical sample, and ONE self-join
    computes both flags per pair so recall and precision come from
    one exact-integer aggregate."""
    emb = load_table(spark, sf_dir, "embeddings", split=True)
    planes = ann.planes_for(sf_dir)
    h = F.expr(H.md5_long("CAST(vec_id AS STRING)"))
    sub = (
        emb.withColumn("_h", h)
        .filter(F.col("_h") / F.lit(1152921504606846976.0) < 0.3)
        .orderBy("_h", "vec_id")
        .limit(_EDR_SAMPLE_CAP)
    ).select(
        "vec_id",
        "embedding",
        ann.lsh_bucket("embedding", planes).alias("_b"),
        F.expr(V.l2_norm("embedding")).alias("_nrm"),
    )
    a, b = sub.alias("a"), sub.alias("b")
    pairs = a.join(b, F.col("a.vec_id") < F.col("b.vec_id")).select(
        F.when(F.col("a._b") == F.col("b._b"), 1).otherwise(0).alias("cand"),
        F.expr(
            f"CASE WHEN {V.cosine('a.embedding', 'b.embedding', 'a._nrm', 'b._nrm')} >= 0.3"
            " THEN 1 ELSE 0 END"
        ).alias("truth"),
    )
    return pairs.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("truth").cast("long").alias("n_true"),
        F.sum("cand").cast("long").alias("n_candidates"),
        F.sum(F.col("cand") * F.col("truth")).cast("long").alias("n_hit"),
        F.round(
            F.sum(F.col("cand") * F.col("truth")).cast("double") / F.sum("truth"), 6
        ).alias("recall"),
        F.round(
            F.sum(F.col("cand") * F.col("truth")).cast("double") / F.sum("cand"), 6
        ).alias("precis"),
    )


LAZY_ORACLES["embedding_dedup_recall"] = _embedding_dedup_recall_oracle


@query(
    "order_backlog_timeseries",
    oracle="""
    WITH opened AS (
        SELECT (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS month_id,
               CAST(count(*) AS BIGINT) AS n_opened
        FROM orders GROUP BY month_id
    ), shipped AS (
        SELECT (year(last_ship) - 1995) * 12 + month(last_ship) - 1 AS month_id,
               CAST(count(*) AS BIGINT) AS n_fulfilled
        FROM (
            SELECT l_orderkey, max(l_shipdate) AS last_ship
            FROM lineitem GROUP BY l_orderkey
        ) GROUP BY month_id
    ), m AS (
        SELECT COALESCE(o.month_id, s.month_id) AS month_id,
               COALESCE(o.n_opened, 0) AS n_opened,
               COALESCE(s.n_fulfilled, 0) AS n_fulfilled
        FROM opened o FULL OUTER JOIN shipped s ON o.month_id = s.month_id
    )
    SELECT CAST(month_id AS BIGINT) AS month_id, n_opened, n_fulfilled,
           CAST(sum(n_opened - n_fulfilled) OVER (ORDER BY month_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS backlog_end
    FROM m
    """,
)
def order_backlog_timeseries_q(spark, sf_dir):
    """Open-order backlog over time (the operations WIP gauge: orders
    placed minus orders fully shipped, cumulatively — rising backlog
    is the capacity alarm): both fact tables collapse to MONTH counts
    map-side (an order is 'fulfilled' at its LAST line's ship date —
    one groupBy, no window over lineitem), the month frames full-outer
    merge, and the running backlog is an exact-integer cumulative sum
    over the calendar-bounded frame. Two fact shuffles total, both to
    month-sized frames."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    opened = o.groupBy(
        ((F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1).alias(
            "month_id"
        )
    ).agg(F.count("*").cast("long").alias("n_opened"))
    shipped = (
        li.groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("last_ship"))
        .groupBy(
            ((F.year("last_ship") - 1995) * 12 + F.month("last_ship") - 1).alias(
                "month_id"
            )
        )
        .agg(F.count("*").cast("long").alias("n_fulfilled"))
    )
    m = (
        opened.join(shipped, "month_id", "full_outer")
        .select(
            F.col("month_id").cast("long"),
            F.coalesce("n_opened", F.lit(0)).alias("n_opened"),
            F.coalesce("n_fulfilled", F.lit(0)).alias("n_fulfilled"),
        )
    )
    w = Window.orderBy("month_id").rowsBetween(Window.unboundedPreceding, 0)
    return m.select(
        "month_id",
        "n_opened",
        "n_fulfilled",
        F.sum(F.col("n_opened") - F.col("n_fulfilled"))
        .over(w)
        .cast("long")
        .alias("backlog_end"),
    )


@query(
    "rollup_grain_advisor",
    oracle="""
    WITH f AS (
        SELECT n.n_name, year(o.o_orderdate) AS yr, month(o.o_orderdate) AS mo,
               o.o_custkey
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
    ), tot AS (SELECT CAST(count(*) AS BIGINT) AS fact_rows FROM f),
    g AS (
        SELECT 'nation' AS grain,
               CAST(count(DISTINCT n_name) AS BIGINT) AS n_groups FROM f
        UNION ALL
        SELECT 'nation_year',
               CAST(count(DISTINCT (n_name, yr)) AS BIGINT) FROM f
        UNION ALL
        SELECT 'nation_year_month',
               CAST(count(DISTINCT (n_name, yr, mo)) AS BIGINT) FROM f
        UNION ALL
        SELECT 'customer',
               CAST(count(DISTINCT o_custkey) AS BIGINT) FROM f
    )
    SELECT g.grain, g.n_groups,
           CAST(g.n_groups * 64 AS BIGINT) AS est_bytes,
           t.fact_rows,
           round(CAST(t.fact_rows AS DOUBLE) / g.n_groups, 6) AS reduction_ratio,
           g.n_groups * 64 <= 65536 AS fits_budget
    FROM g CROSS JOIN tot t
    """,
)
def rollup_grain_advisor_q(spark, sf_dir):
    """Materialized-rollup grain advisor (the cube-planning question:
    which pre-aggregation grains fit the storage budget and how much
    scan reduction each buys): candidate grains' group cardinalities
    from count-distinct rollups over ONE shared join frame (narrow
    keys only past the join), a 64-byte/row size model, and the
    reduction ratio = fact rows per materialized row — the number
    that justifies incremental_agg_maintenance keeping that rollup
    live. At 100 TB each count-distinct swaps to the HLL sketch
    (hll_distinct — same contract)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    f = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            "n_name",
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mo"),
            "o_custkey",
        )
        .localCheckpoint(eager=False)
    )
    tot = f.agg(F.count("*").cast("long").alias("fact_rows"))

    def grain(name, *cols):
        return f.agg(
            F.count_distinct(*[F.col(x) for x in cols]).cast("long").alias("n_groups")
        ).select(F.lit(name).alias("grain"), "n_groups")

    g = (
        grain("nation", "n_name")
        .unionByName(grain("nation_year", "n_name", "yr"))
        .unionByName(grain("nation_year_month", "n_name", "yr", "mo"))
        .unionByName(grain("customer", "o_custkey"))
    )
    return g.crossJoin(F.broadcast(tot)).select(
        "grain",
        "n_groups",
        (F.col("n_groups") * 64).cast("long").alias("est_bytes"),
        "fact_rows",
        F.round(F.try_divide(F.col("fact_rows").cast("double"), F.col("n_groups")), 6).alias(
            "reduction_ratio"
        ),
        (F.col("n_groups") * 64 <= 65536).alias("fits_budget"),
    )


@query(
    "seasonal_decompose",
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
               {dd_round_div('win_sum * 10000', '13')} AS trend_u,
               rev_c * 10000 - {dd_round_div('win_sum * 10000', '13')} AS det_u
        FROM tr WHERE win_n = 13
    ), si AS (
        SELECT month_id % 12 AS moy,
               CAST(sum(det_u) AS BIGINT) AS s_u, CAST(count(*) AS BIGINT) AS n
        FROM dt GROUP BY month_id % 12
    ), se AS (
        SELECT moy, n,
               {dd_round_div('s_u', 'n')} AS seas_u
        FROM si
    )
    SELECT CAST(d.month_id AS BIGINT) AS month_id,
           CAST(d.rev_c AS DOUBLE) / 100 AS revenue,
           {from_micro('CAST(d.trend_u AS DOUBLE)')} AS trend,
           {from_micro('CAST(e.seas_u AS DOUBLE)')} AS seasonal,
           {from_micro('CAST(d.det_u - e.seas_u AS DOUBLE)')} AS residual
    FROM dt d JOIN se e ON d.month_id % 12 = e.moy
    """,
)
def seasonal_decompose_q(spark, sf_dir):
    """Classical seasonal decomposition of monthly revenue (trend via
    symmetric 13-month moving average, additive month-of-year seasonal
    indices, residual — the series sanity pass before any forecast;
    holt_forecast's diagnostic partner): the fact table collapses to
    exact cent-unit month totals, the centered MA is an exact integer
    window sum over the calendar-bounded frame (only full 13-month
    windows emit), and EVERY emitted float is a single division of an
    exact micro-unit integer (trend_u = round-div(win_sum·10⁴, 13),
    seasonal = round-div(Σdet_u, n), residual = det_u − seas_u; the
    round-div is the truncating-division half-away formula
    (2a ± b) div 2b, identical in both engines). r8 lesson: round(x,6)
    of a 4.8e9-magnitude double is sub-ulp — the 6th decimal sits
    below ulp(x) ≈ 9.5e-7, so the two engines' round() primitives can
    legitimately disagree; exact-integer division before the ONE
    double conversion removes the ambiguity at any magnitude.
    Everything past the one fact shuffle runs on <=84 rows."""
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
        "rev_c",
        F.expr(round_div("win_sum * 10000", "13")).alias("trend_u"),
    ).withColumn("det_u", F.expr("rev_c * 10000 - trend_u"))
    si = dt.groupBy((F.col("month_id") % 12).alias("moy")).agg(
        F.sum("det_u").cast("long").alias("s_u"),
        F.count("*").cast("long").alias("n"),
    )
    se = si.select(
        "moy",
        F.expr(round_div("s_u", "n")).alias("seas_u"),
    )
    return (
        dt.join(F.broadcast(se), F.col("month_id") % 12 == F.col("moy"))
        .select(
            F.col("month_id").cast("long"),
            (F.col("rev_c").cast("double") / 100).alias("revenue"),
            F.expr(from_micro("CAST(trend_u AS DOUBLE)")).alias("trend"),
            F.expr(from_micro("CAST(seas_u AS DOUBLE)")).alias("seasonal"),
            F.expr(from_micro("CAST(det_u - seas_u AS DOUBLE)")).alias("residual"),
        )
    )
