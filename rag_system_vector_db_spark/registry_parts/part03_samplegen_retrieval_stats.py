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

from .part01_vector_chunk_text_dedup_rag_ann import _DD_BANDS, _DD_MINHASH_SIG, _DD_PRED, _DD_SHINGLES, _dd_sw_ratio  # noqa: F401
from .part02_index_build_diag_curation import _knn_graph_edges, _kw_index_dir  # noqa: F401


@query(
    "data_quality_checks",
    oracle="""
    WITH o AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_cust,
               CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS dup_orderkey,
               CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS bad_price,
               CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1992-01-01'
                              OR o_orderdate >= TIMESTAMP '1999-01-01'
                             THEN 1 ELSE 0 END) AS BIGINT) AS bad_date
        FROM orders
    ), l AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN l_quantity <= 0 OR l_quantity > 60
                             THEN 1 ELSE 0 END) AS BIGINT) AS bad_qty,
               CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.5
                             THEN 1 ELSE 0 END) AS BIGINT) AS bad_disc
        FROM lineitem
    ), fk AS (
        SELECT CAST(count(*) AS BIGINT) AS orphans
        FROM lineitem li
        WHERE NOT EXISTS (SELECT 1 FROM orders oo WHERE oo.o_orderkey = li.l_orderkey)
    )
    SELECT * FROM (
        SELECT 'orders_custkey_not_null' AS check_name, o.n AS n_checked,
               null_cust AS n_violations, null_cust = 0 AS pass FROM o
        UNION ALL
        SELECT 'orders_orderkey_unique', o.n, dup_orderkey, dup_orderkey = 0 FROM o
        UNION ALL
        SELECT 'orders_totalprice_positive', o.n, bad_price, bad_price = 0 FROM o
        UNION ALL
        SELECT 'orders_orderdate_in_range', o.n, bad_date, bad_date = 0 FROM o
        UNION ALL
        SELECT 'lineitem_quantity_in_range', l.n, bad_qty, bad_qty = 0 FROM l
        UNION ALL
        SELECT 'lineitem_discount_in_range', l.n, bad_disc, bad_disc = 0 FROM l
        UNION ALL
        SELECT 'lineitem_orderkey_fk', l.n, fk.orphans, fk.orphans = 0 FROM l, fk
    )
    """,
)
def data_quality_checks_q(spark, sf_dir):
    """Deequ-style data-validation pass (the expectations gate a
    100 TB pipeline runs BEFORE training consumes a table): one row
    per constraint — null checks, key uniqueness, value ranges, and
    the cross-table FK containment (lineitem.l_orderkey ⊆
    orders.o_orderkey) — with checked/violation counts and a pass
    verdict.

    All same-table constraints for a table fold into ONE conditional
    agg over ONE scan (seven checks, two scans total — adding a
    constraint costs a column, not a pass); the FK check is a LEFT
    ANTI on key-projected frames, counted map-side. The verdict
    frame is seven rows — the cheap artifact a scheduler gates on."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    o = orders.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("o_custkey").isNull().cast("long")).cast("long").alias("null_cust"),
        (F.count("*") - F.countDistinct("o_orderkey")).cast("long").alias("dup_orderkey"),
        F.sum((F.col("o_totalprice") <= 0).cast("long")).cast("long").alias("bad_price"),
        F.sum(
            (
                (F.col("o_orderdate") < "1992-01-01")
                | (F.col("o_orderdate") >= "1999-01-01")
            ).cast("long")
        )
        .cast("long")
        .alias("bad_date"),
    )
    l = li.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(((F.col("l_quantity") <= 0) | (F.col("l_quantity") > 60)).cast("long"))
        .cast("long")
        .alias("bad_qty"),
        F.sum(((F.col("l_discount") < 0) | (F.col("l_discount") > 0.5)).cast("long"))
        .cast("long")
        .alias("bad_disc"),
    )
    fk = (
        li.select("l_orderkey")
        .join(
            orders.select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left_anti",
        )
        .agg(F.count("*").cast("long").alias("orphans"))
    )

    def row(frame, name, viol_col):
        return frame.select(
            F.lit(name).alias("check_name"),
            F.col("n").alias("n_checked"),
            F.col(viol_col).alias("n_violations"),
            (F.col(viol_col) == 0).alias("pass"),
        )

    out = (
        row(o, "orders_custkey_not_null", "null_cust")
        .unionAll(row(o, "orders_orderkey_unique", "dup_orderkey"))
        .unionAll(row(o, "orders_totalprice_positive", "bad_price"))
        .unionAll(row(o, "orders_orderdate_in_range", "bad_date"))
        .unionAll(row(l, "lineitem_quantity_in_range", "bad_qty"))
        .unionAll(row(l, "lineitem_discount_in_range", "bad_disc"))
        .unionAll(
            row(
                l.crossJoin(F.broadcast(fk)), "lineitem_orderkey_fk", "orphans"
            )
        )
    )
    return out


@query(
    "mlm_mask_corpus",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), m AS (
        SELECT doc_id, toks,
               list_transform(range(len(toks)),
                   i -> ('0x' || substr(md5('mlm:' || doc_id || ':' || i), 1, 15))::BIGINT % 100 < 15
               ) AS mask
        FROM t
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(mask, x -> x)) AS BIGINT) AS n_masked,
           round(CAST(len(list_filter(mask, x -> x)) AS DOUBLE) / len(toks), 6)
               AS masked_frac,
           array_to_string(list_transform(range(len(toks)),
               i -> CASE WHEN mask[i + 1] THEN '[MASK]' ELSE toks[i + 1] END), ' ')
               AS input_text,
           COALESCE(array_to_string(list_filter(
               list_transform(range(len(toks)),
                   i -> CASE WHEN mask[i + 1] THEN toks[i + 1] END),
               x -> x IS NOT NULL), ' '), '') AS target_text
    FROM m
    """,
)
def mlm_mask_corpus_q(spark, sf_dir):
    """Deterministic MLM training-sample generation (BERT-style 15%
    token masking): every (doc, position) draws from the seeded md5
    family — the same engine/run/cluster-size-independent coin the
    samplers use — so the corpus masks identically everywhere and the
    oracle hash-checks the full (input_text, target_text) pair, not
    just counts. Pure codegen HOFs over one scan (zip via index
    range, conditional transform for the input, filtered transform
    for the target) — zero shuffles, zero Python; at 100 TB this is a
    map-only rewrite job whose output partitioning mirrors the
    input's. Span (T5) masking = the same recipe with the draw keyed
    on i div span_len."""
    docs = load_table(spark, sf_dir, "documents", split=True)
    cond = (
        "cast(conv(substring(md5(concat('mlm:', cast(doc_id as string), ':',"
        " cast(i as string))), 1, 15), 16, 10) as bigint) % 100 < 15"
    )
    out = docs.selectExpr(
        "doc_id",
        "split(text, ' ') AS toks",
        f"transform(sequence(0, size(split(text, ' ')) - 1), i -> {cond}) AS mask",
    )
    return out.selectExpr(
        "doc_id",
        "cast(size(toks) as long) AS n_tokens",
        "cast(size(filter(mask, x -> x)) as long) AS n_masked",
        "round(cast(size(filter(mask, x -> x)) as double) / size(toks), 6)"
        " AS masked_frac",
        "array_join(zip_with(toks, mask, (t, m) -> if(m, '[MASK]', t)), ' ')"
        " AS input_text",
        "array_join(filter(zip_with(toks, mask, (t, m) -> if(m, t, null)),"
        " x -> x is not null), ' ') AS target_text",
    )


@query(
    "span_corrupt_corpus",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), sp AS (
        SELECT doc_id, toks,
               list_filter(
                   list_transform(range((len(toks) + 2) // 3),
                       s -> CASE WHEN ('0x' || substr(md5('t5:' || doc_id || ':' || s), 1, 15))::BIGINT % 100 < 15
                                 THEN s END),
                   x -> x IS NOT NULL) AS mspans
        FROM t
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(mspans) AS BIGINT) AS n_masked_spans,
           COALESCE(array_to_string(list_filter(list_transform(range(len(toks)),
               i -> CASE
                      WHEN NOT list_contains(mspans, i // 3) THEN toks[i + 1]
                      WHEN i % 3 = 0 THEN '<extra_id_' || (list_position(mspans, i // 3) - 1) || '>'
                    END),
               x -> x IS NOT NULL), ' '), '') AS input_text,
           COALESCE(array_to_string(list_filter(list_transform(range(len(toks)),
               i -> CASE
                      WHEN list_contains(mspans, i // 3) AND i % 3 = 0
                        THEN '<extra_id_' || (list_position(mspans, i // 3) - 1) || '> ' || toks[i + 1]
                      WHEN list_contains(mspans, i // 3) THEN toks[i + 1]
                    END),
               x -> x IS NOT NULL), ' '), '') AS target_text
    FROM sp
    """,
)
def span_corrupt_corpus_q(spark, sf_dir):
    """T5-style span corruption (Raffel JMLR'20 denoising objective),
    the span companion to mlm_mask_corpus: tokens group into aligned
    3-token spans, each span draws its mask coin from the seeded md5
    family keyed on ``i div 3``, masked spans collapse to ONE ordinal
    sentinel ``<extra_id_N>`` in the input, and the target replays
    sentinel + span content in order (closing sentinel omitted). The
    span ordinal is list_position over the doc's masked-span list —
    computed once per doc, referenced from the per-token lambda, so
    numbering is positional like the HF T5 preprocessor's. Same
    posture as MLM: pure codegen HOFs, one scan, zero shuffles, the
    full (input, target) pair hash-checked cross-engine."""
    docs = load_table(spark, sf_dir, "documents", split=True)
    cond = (
        "cast(conv(substring(md5(concat('t5:', cast(doc_id as string), ':',"
        " cast(s as string))), 1, 15), 16, 10) as bigint) % 100 < 15"
    )
    base = docs.selectExpr(
        "doc_id",
        "split(text, ' ') AS toks",
    ).selectExpr(
        "doc_id",
        "toks",
        "filter(transform(sequence(0, cast((size(toks) + 2) div 3 as int) - 1),"
        f" s -> if({cond}, s, null)), x -> x is not null) AS mspans",
    )
    sent = "concat('<extra_id_', array_position(mspans, i div 3) - 1, '>')"
    return base.selectExpr(
        "doc_id",
        "cast(size(toks) as long) AS n_tokens",
        "cast(size(mspans) as long) AS n_masked_spans",
        "coalesce(array_join(filter(transform(sequence(0, size(toks) - 1),"
        " i -> case"
        "        when not array_contains(mspans, i div 3) then toks[i]"
        f"       when i % 3 = 0 then {sent}"
        "      end),"
        " x -> x is not null), ' '), '') AS input_text",
        "coalesce(array_join(filter(transform(sequence(0, size(toks) - 1),"
        " i -> case"
        f"       when array_contains(mspans, i div 3) and i % 3 = 0"
        f"         then concat({sent}, ' ', toks[i])"
        "        when array_contains(mspans, i div 3) then toks[i]"
        "      end),"
        " x -> x is not null), ' '), '') AS target_text",
    )


@query(
    "rag_context_budget",
    oracle=f"""
    WITH q AS (
        SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
    ), scored AS (
        SELECT e.vec_id, {V.dd_cosine('e.embedding', 'q.qv')} AS score
        FROM embeddings e, q WHERE e.vec_id <> 0
    ), ranked AS (
        SELECT vec_id, score,
               row_number() OVER (ORDER BY score DESC, vec_id) AS rank
        FROM scored
    ), top AS (
        SELECT * FROM ranked WHERE rank <= 10
    ), j AS (
        SELECT t.rank, t.vec_id, t.score,
               CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
        FROM top t JOIN documents d ON d.doc_id = t.vec_id
    )
    SELECT CAST(rank AS BIGINT) AS rank, vec_id, round(score, 6) AS score,
           n_tokens,
           CAST(sum(n_tokens) OVER (ORDER BY rank
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_tokens,
           sum(n_tokens) OVER (ORDER BY rank
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) <= 120
               AS included
    FROM j
    """,
)
def rag_context_budget_q(spark, sf_dir):
    """Token-budgeted RAG context assembly — the step between
    retrieval and the LLM call that app.py's context list glosses
    over at scale: the top-10 cosine hits join their texts' token
    counts and fill a 120-token context window greedily in rank order
    (prefix-sum cutoff); every candidate row is emitted with its
    cumulative cost and `included` verdict, so the packing decision
    is inspectable (and the budget is a parameter, not policy).
    The corpus pass is the usual broadcast-query scan + top-k; the
    prefix sum windows over TEN rows — the budget logic costs nothing
    at any scale. Rank ties break on vec_id; token counts are exact
    integers, so the greedy cutoff is engine-identical."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("_qv"))
    scored = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", F.expr(V.cosine("embedding", "_qv")).alias("score"))
    )
    top = scored.orderBy(F.col("score").desc(), "vec_id").limit(10)
    wr = Window.orderBy(F.col("score").desc(), "vec_id")
    ranked = top.select(
        F.row_number().over(wr).cast("long").alias("rank"), "vec_id", "score"
    )
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("_d"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    j = ranked.join(docs, ranked.vec_id == F.col("_d"))
    wc = Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)
    cum = F.sum("n_tokens").over(wc)
    return j.select(
        "rank",
        "vec_id",
        F.round("score", 6).alias("score"),
        "n_tokens",
        cum.cast("long").alias("cum_tokens"),
        (cum <= 120).alias("included"),
    )


@query(
    "events_gap_fill",
    oracle=f"""
    WITH hourly AS (
        SELECT epoch_ns(ts) // 3600000000000 AS h,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum({to_micro('value')}) AS BIGINT) AS v_u
        FROM events GROUP BY 1
    ), bounds AS (
        SELECT min(h) AS h0, max(h) AS h1 FROM hourly
    ), spine AS (
        SELECT unnest(range(h0, h1 + 1)) AS h FROM bounds
    ), joined AS (
        SELECT s.h, COALESCE(hourly.n, 0) AS n_events,
               hourly.v_u
        FROM spine s LEFT JOIN hourly ON hourly.h = s.h
    )
    SELECT CAST(h AS BIGINT) AS hour_id,
           n_events,
           (n_events = 0) AS gap_filled,
           {emit_micro('''COALESCE(v_u, last_value(v_u IGNORE NULLS) OVER (
                   ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))''')}
               AS value_locf
    FROM joined
    """,
)
def events_gap_fill_q(spark, sf_dir):
    """Time-series gap filling (the regularization step before
    anomaly detection / forecasting consumes an event stream): an
    hour spine spans min..max event hour (sequence + explode — no
    driver loop), missing hours zero-fill their counts and mark
    `gap_filled`, and the hourly value carries forward LOCF-style
    (last_value IGNORE NULLS over the time order). Hour sums ride
    exact micro-unit integers so the carried values are
    engine-identical; ONE fact shuffle (the hourly rollup) + a spine
    that is |hours| rows — the fill itself never touches the fact
    table again. At 100 TB you'd partition the spine window by series
    key; the global single-series window here is |hours| rows, not
    |events|."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.select(
        F.expr("ts_ns div 3600000000000").alias("h"),
        F.expr(to_micro("value")).alias("_vu"),
    ).groupBy("h").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum("_vu").cast("long").alias("v_u"),
    )
    spine = (
        hourly.agg(F.min("h").alias("_h0"), F.max("h").alias("_h1"))
        .select(F.explode(F.sequence("_h0", "_h1")).alias("h"))
    )
    joined = spine.join(hourly, "h", "left")
    return joined.select(
        F.col("h").cast("long").alias("hour_id"),
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        (F.coalesce("n_events", F.lit(0)) == 0).alias("gap_filled"),
        F.expr(
            emit_micro(
                "coalesce(v_u, last(v_u, true) OVER"
                " (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))"
            )
        ).alias("value_locf"),
    )


@query(
    "events_ohlc",
    oracle=f"""
    WITH e AS (
        SELECT epoch_ns(ts) // 3600000000000 AS h, event_id,
               epoch_ns(ts) AS ts_ns,
               {to_micro('value')} AS v_u
        FROM events
    ), ranked AS (
        SELECT h, v_u,
               row_number() OVER (PARTITION BY h ORDER BY ts_ns, event_id) AS rn_a,
               row_number() OVER (PARTITION BY h ORDER BY ts_ns DESC, event_id DESC) AS rn_z
        FROM e
    )
    SELECT CAST(h AS BIGINT) AS hour_id,
           CAST(count(*) AS BIGINT) AS n_events,
           {emit_micro('max(CASE WHEN rn_a = 1 THEN v_u END)')} AS open,
           {emit_micro('max(v_u)')} AS high,
           {emit_micro('min(v_u)')} AS low,
           {emit_micro('max(CASE WHEN rn_z = 1 THEN v_u END)')} AS close,
           CAST(sum(v_u) AS BIGINT) AS volume_u
    FROM ranked GROUP BY h
    """,
)
def events_ohlc_q(spark, sf_dir):
    """OHLC downsampling bars (the telemetry/market-data compaction
    primitive): per hour — open/close via min_by/max_by over the
    exact (ts_ns, event_id) total order (deterministic tie-breaks, no
    window over the fact in the Spark plan), high/low/volume as plain
    aggs. Values quantize to micro-unit integers BEFORE aggregation,
    so every bar field — including the order-sensitive open/close —
    is engine-identical; ONE map-side-combinable shuffle keyed by
    hour. The oracle replays open/close with rank-1 windows to prove
    the min_by/max_by selection against an independent formulation."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.expr("ts_ns div 3600000000000").alias("h"),
        "ts_ns",
        "event_id",
        F.expr(to_micro("value")).alias("v_u"),
    )
    return e.groupBy("h").agg(
        F.count("*").cast("long").alias("n_events"),
        F.expr(emit_micro("min_by(v_u, struct(ts_ns, event_id))")).alias("open"),
        F.expr(emit_micro("max(v_u)")).alias("high"),
        F.expr(emit_micro("min(v_u)")).alias("low"),
        F.expr(emit_micro("max_by(v_u, struct(ts_ns, event_id))")).alias("close"),
        F.sum("v_u").cast("long").alias("volume_u"),
    ).select(
        F.col("h").cast("long").alias("hour_id"),
        "n_events",
        "open",
        "high",
        "low",
        "close",
        "volume_u",
    )


@query(
    "lineitem_priority_mix",
    oracle="""
    SELECT l.l_linestatus,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate >= o.o_orderdate + INTERVAL 45 DAY
    GROUP BY 1
    """,
)
def lineitem_priority_mix_q(spark, sf_dir):
    """TPC-H Q12 shape: critical vs other priority mix among late
    lines, per line status (shipmode stand-in — the schema carries no
    l_shipmode/commit/receipt dates). The priority CASE collapses to
    one bit before the order side crosses its shuffle."""
    from ..plans import analytics

    return analytics.lineitem_priority_mix(spark, sf_dir)


@query(
    "train_test_split",
    oracle=f"""
    WITH s AS (
        SELECT source,
               CASE WHEN {H.dd_md5_long("doc_id::VARCHAR", seed="split")} % 100 < 90 THEN 'train'
                    WHEN {H.dd_md5_long("doc_id::VARCHAR", seed="split")} % 100 < 95 THEN 'valid'
                    ELSE 'test' END AS split,
               CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS t
        FROM documents
    ), per AS (
        SELECT source, split, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(t) AS BIGINT) AS n_tokens
        FROM s GROUP BY 1, 2
    )
    SELECT source, split, n_docs, n_tokens,
           round(n_docs / CAST(sum(n_docs) OVER (PARTITION BY source) AS DOUBLE), 6) AS source_share
    FROM per
    """,
)
def train_test_split_q(spark, sf_dir):
    """Deterministic stratified 90/5/5 split audit keyed on seeded
    md5(doc_id) — reproducible across engines/runs/cluster sizes;
    per-(source, split) doc/token counts + stratification share."""
    from ..operators import curation

    return curation.train_test_split(load_table(spark, sf_dir, "documents"))


@query(
    "lang_confusion",
    oracle=f"""
    WITH r AS (
        SELECT lang AS gold_lang,
               {", ".join(f"{_dd_sw_ratio(lg)} AS r_{lg}" for lg in STOPWORDS)}
        FROM documents
    ), p AS (
        SELECT gold_lang, {_DD_PRED} AS pred_lang FROM r
    ), cells AS (
        SELECT gold_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
        FROM p GROUP BY 1, 2
    )
    SELECT gold_lang, pred_lang, n,
           round(n / CAST(sum(n) OVER (PARTITION BY gold_lang) AS DOUBLE), 6) AS recall_share,
           round(n / CAST(sum(n) OVER (PARTITION BY pred_lang) AS DOUBLE), 6) AS precision_share
    FROM cells
    """,
)
def lang_confusion_q(spark, sf_dir):
    """Language-ID confusion matrix vs the gold lang column: per
    (gold, pred) cell count + recall/precision shares — the
    classifier-quality audit behind corpus-mix decisions. One corpus
    scan; shares are windows over the ≤|langs|² confusion frame."""
    return text_analysis.lang_confusion(load_table(spark, sf_dir, "documents"))


@query(
    "pmi_collocations",
    oracle="""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
        SELECT term, CAST(count(*) AS BIGINT) AS c FROM toks
        WHERE term <> '' GROUP BY term
    ), g AS (
        SELECT unnest(
            CASE WHEN len(t) < 2 THEN []::VARCHAR[]
                 ELSE [array_to_string(t[i + 1 : i + 2], ' ') FOR i IN range(len(t) - 1)]
            END) AS bigram
        FROM (SELECT string_split(text, ' ') AS t FROM documents)
    ), bf AS (
        SELECT bigram, CAST(count(*) AS BIGINT) AS c_xy FROM g GROUP BY bigram
    ), tot AS (
        SELECT (SELECT CAST(sum(c) AS DOUBLE) FROM tf) AS n_uni,
               (SELECT CAST(sum(c_xy) AS DOUBLE) FROM bf) AS n_bi
    ), cand AS (
        SELECT b.bigram, b.c_xy, x.c AS c_x, y.c AS c_y,
               ln(b.c_xy) - ln(x.c) - ln(y.c) - ln(t.n_bi) + 2.0 * ln(t.n_uni) AS _pmi
        FROM bf b
        JOIN tf x ON x.term = string_split(b.bigram, ' ')[1]
        JOIN tf y ON y.term = string_split(b.bigram, ' ')[2]
        CROSS JOIN tot t
        WHERE b.c_xy >= 5
    ), ranked AS (
        SELECT bigram, c_xy, c_x, c_y, round(_pmi, 6) AS pmi,
               CAST(row_number() OVER (ORDER BY _pmi DESC, bigram) AS BIGINT) AS rank
        FROM cand
    )
    SELECT * FROM ranked WHERE rank <= 50
    """,
)
def pmi_collocations_q(spark, sf_dir):
    """Top-50 PMI bigram collocations with a min-count floor — corpus
    collapses to vocab-sized count frames before any join; PMI is a
    fixed-order ln sum over exact counts."""
    return text_analysis.pmi_collocations(load_table(spark, sf_dir, "documents"))


@query(
    "query_expansion_prf",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, len(string_split(text, ' ')) AS dl,
               unnest(string_split(text, ' ')) AS term
        FROM documents
    ), qtoks AS (
        SELECT * FROM toks WHERE term IN ('spark', 'join', 'fast')
    ), tf0 AS (
        SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf, min(dl) AS dl
        FROM qtoks GROUP BY doc_id, term
    ), stats AS (
        SELECT count(*) AS n, avg(len(string_split(text, ' '))) AS avgdl FROM documents
    ), dfreq AS (
        SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf0 GROUP BY term
    ), bm25 AS (
        SELECT tf0.doc_id,
               sum(ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
                   * (tf0.tf * (1.2 + 1)) / (tf0.tf + 1.2 * (1 - 0.75 + 0.75 * tf0.dl / s.avgdl))) AS bm25
        FROM tf0 JOIN dfreq d USING (term) CROSS JOIN stats s
        GROUP BY tf0.doc_id
    ), fb AS (
        SELECT doc_id, round(bm25, 6) AS bm25
        FROM bm25 ORDER BY bm25 DESC, doc_id LIMIT 10
    ), ft AS (
        SELECT t.term, t.doc_id, t.dl, fb.bm25
        FROM toks t JOIN fb USING (doc_id)
        WHERE t.term <> '' AND t.term NOT IN ('spark', 'join', 'fast')
    ), tfq AS (
        SELECT term, doc_id, CAST(count(*) AS DOUBLE) AS tf,
               min(dl) AS dl, min(bm25) AS bm25
        FROM ft GROUP BY term, doc_id
    ), wt AS (
        SELECT term,
               CAST(sum({to_micro('tf / dl * bm25')}) AS BIGINT) AS wu,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM tfq GROUP BY term
    )
    SELECT CAST(row_number() OVER (ORDER BY wu DESC, term) AS BIGINT) AS rank,
           term, {emit_micro('wu')} AS weight, n_docs
    FROM wt ORDER BY wu DESC, term LIMIT 10
    """,
)
def query_expansion_prf_q(spark, sf_dir):
    """RM3 pseudo-relevance feedback from the materialized BM25 index:
    top-10 feedback docs broadcast back onto documents, so expansion
    mining tokenizes 10 docs — never the corpus. The oracle recomputes
    BM25 straight from documents (index-independent)."""
    from ..operators import text_index

    index_dir = _kw_index_dir(spark, sf_dir)
    return text_index.query_expansion_prf(
        spark,
        load_table(spark, sf_dir, "documents"),
        index_dir,
        ["spark", "join", "fast"],
    )


@query(
    "ann_binary_hamming",
    oracle=f"""
    WITH w AS (
        SELECT vec_id,
               {V.dd_sign_bits('embedding[1:32]', 32)} AS lo,
               {V.dd_sign_bits('embedding[33:64]', 32)} AS hi
        FROM embeddings
    ), q AS (SELECT lo AS qlo, hi AS qhi FROM w WHERE vec_id = 0),
    s AS (
        SELECT w.vec_id,
               CAST(bit_count(xor(w.lo, q.qlo)) + bit_count(xor(w.hi, q.qhi)) AS BIGINT) AS hamming
        FROM w, q WHERE w.vec_id <> 0
    )
    SELECT CAST(row_number() OVER (ORDER BY hamming, vec_id) AS BIGINT) AS rank,
           vec_id, hamming
    FROM s ORDER BY hamming, vec_id LIMIT 10
    """,
)
def ann_binary_hamming(spark, sf_dir):
    """Sign-binarized Hamming top-10 (faiss IndexBinaryFlat): 64 dims
    → two 32-bit words (8 B/vector), xor+popcount distance — exact
    integers end-to-end."""
    return ann.binary_hamming_topk(load_table(spark, sf_dir, "embeddings", split=True))


@query(
    "ann_sq8",
    oracle=f"""
    WITH am AS (
        SELECT {V.dd_sq8_absmax('embedding')} AS absmax FROM embeddings
    ), c AS (
        SELECT vec_id, {V.dd_sq8_code('embedding', 'am.absmax')} AS codes,
               am.absmax AS absmax
        FROM embeddings, am
    ), q AS (SELECT codes AS qcodes FROM c WHERE vec_id = 0),
    s AS (
        SELECT c.vec_id, {V.dd_code_sq_dist('c.codes', 'q.qcodes')} AS code_dist,
               c.absmax AS absmax
        FROM c, q WHERE c.vec_id <> 0
    )
    SELECT CAST(row_number() OVER (ORDER BY code_dist, vec_id) AS BIGINT) AS rank,
           vec_id, code_dist,
           round(sqrt(code_dist) * (absmax / 127), 6) AS approx_l2
    FROM s ORDER BY code_dist, vec_id LIMIT 10
    """,
)
def ann_sq8(spark, sf_dir):
    """Uniform int8 scalar-quantizer L2 top-10 (faiss QT_8bit_uniform):
    one global scale, Σ(Δcode)² in exact longs, rescale to float space
    only on the 10 emitted rows."""
    return ann.sq8_topk(load_table(spark, sf_dir, "embeddings", split=True))


@query(
    "soft_dedup_weights",
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
    ), sized AS (
        SELECT l.node, s.sz FROM labelled l
        JOIN (SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz
              FROM labelled GROUP BY cluster_id) s USING (cluster_id)
    )
    SELECT e.vec_id,
           CAST(coalesce(s.sz, 1) AS BIGINT) AS cluster_size,
           round(1.0 / coalesce(s.sz, 1), 6) AS weight
    FROM embeddings e LEFT JOIN sized s ON e.vec_id = s.node
    WHERE e.vec_id < 200
    """,
)
def soft_dedup_weights_q(spark, sf_dir):
    """Soft dedup: 1/cluster_size training weights from the CC
    labelling — duplicates down-weighted, not deleted; singletons
    weight 1.0 without entering the iteration."""
    from ..operators import dedup

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    pairs = dedup.dedup_embedding_cosine(emb, threshold=0.3, all_pairs=True)
    return dedup.soft_dedup_weights(emb, pairs)


@query(
    "revenue_cube",
    oracle="""
    SELECT n.n_name, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           CAST(GROUPING_ID(n.n_name, CAST(year(o.o_orderdate) AS BIGINT)) AS BIGINT) AS gid,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1.00 - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY CUBE (n.n_name, CAST(year(o.o_orderdate) AS BIGINT))
    """,
)
def revenue_cube_q(spark, sf_dir):
    """CUBE over (customer nation, order year): all four drill grains
    from one map-side-combinable aggregation pass; grouping_id
    disambiguates subtotal rows; DECIMAL-exact revenue."""
    from ..plans import analytics

    return analytics.revenue_cube(spark, sf_dir)


@query(
    "rerank_two_stage",
    oracle="""
    WITH toks AS (
        SELECT doc_id, len(string_split(text, ' ')) AS dl,
               unnest(string_split(text, ' ')) AS term
        FROM documents
    ), qtoks AS (
        SELECT * FROM toks WHERE term IN ('spark', 'join', 'fast')
    ), tf0 AS (
        SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf, min(dl) AS dl
        FROM qtoks GROUP BY doc_id, term
    ), stats AS (
        SELECT count(*) AS n, avg(len(string_split(text, ' '))) AS avgdl FROM documents
    ), dfreq AS (
        SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf0 GROUP BY term
    ), bm25 AS (
        SELECT tf0.doc_id,
               sum(ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
                   * (tf0.tf * (1.2 + 1)) / (tf0.tf + 1.2 * (1 - 0.75 + 0.75 * tf0.dl / s.avgdl))) AS bm25
        FROM tf0 JOIN dfreq d USING (term) CROSS JOIN stats s
        GROUP BY tf0.doc_id
    ), fb AS (
        SELECT doc_id, round(bm25, 6) AS bm25
        FROM bm25 ORDER BY bm25 DESC, doc_id LIMIT 20
    ), r AS (
        SELECT d.doc_id, fb.bm25,
               len(list_intersect(list_distinct(string_split(d.text, ' ')),
                                  ['fast', 'join', 'spark'])) AS inter,
               len(list_distinct(string_split(d.text, ' '))) AS nd
        FROM documents d JOIN fb USING (doc_id)
    )
    SELECT CAST(row_number() OVER (ORDER BY round(inter / CAST(nd + 3 - inter AS DOUBLE), 6) DESC, bm25 DESC, doc_id) AS BIGINT) AS rank,
           doc_id,
           round(inter / CAST(nd + 3 - inter AS DOUBLE), 6) AS jaccard,
           bm25
    FROM r
    ORDER BY jaccard DESC, bm25 DESC, doc_id LIMIT 10
    """,
)
def rerank_two_stage_q(spark, sf_dir):
    """Retrieve-then-rerank: bucket-pruned BM25 at depth 20, lexical
    Jaccard rerank of the broadcast candidate set (tokenizes 20 docs,
    never the corpus); deterministic cross-encoder stand-in."""
    from ..operators import text_index

    index_dir = _kw_index_dir(spark, sf_dir)
    return text_index.rerank_two_stage(
        spark,
        load_table(spark, sf_dir, "documents"),
        index_dir,
        ["spark", "join", "fast"],
    )


_EWMA_TAPS = 16
_DD_EWMA_WSUM = " + ".join(
    f"coalesce(lag(v_u, {j}) OVER w, 0) * {1 << (_EWMA_TAPS - 1 - j)}"
    for j in range(_EWMA_TAPS)
)


@query(
    "events_ewma",
    oracle=f"""
    WITH e AS (
        SELECT event_type, epoch_ns(ts) // 3600000000000 AS h,
               {to_micro('value')} AS v_u
        FROM events
    ), hourly AS (
        SELECT event_type, CAST(h AS BIGINT) AS h, CAST(sum(v_u) AS BIGINT) AS v_u
        FROM e GROUP BY event_type, h
    ), smoothed AS (
        SELECT event_type, h, v_u,
               CAST({_DD_EWMA_WSUM} AS BIGINT) AS wsum,
               CAST(65536 - (1::BIGINT << (16 - least(CAST(row_number() OVER w AS INTEGER), 16))) AS BIGINT) AS avail
        FROM hourly
        WINDOW w AS (PARTITION BY event_type ORDER BY h)
    )
    SELECT event_type, h AS hour_id, v_u,
           {emit_micro('wsum / CAST(avail AS DOUBLE)')} AS ewma
    FROM smoothed
    """,
)
def events_ewma_q(spark, sf_dir):
    """Exponentially-weighted smoothing of the hourly series per event
    type — the trend/denoise pass feeding dashboards and the anomaly
    detector's expected-value baseline. The classic EWMA recurrence is
    inherently sequential, so it is re-expressed as its 16-tap FIR
    truncation (weights 2^15..2^0 — the α=1/2 kernel; tap 17's weight
    is < 0.002% of the mass): a fixed stack of lag()s over ONE
    (event_type, hour) window — one shuffle, codegen arithmetic, and
    every weighted sum is an exact long (values pre-quantized to
    micro-units), so warm-up normalization (2^16 − 2^(16−m) for m
    available taps) and the final ratio are engine-identical. The
    infinite-memory recurrence belongs to the streaming layer
    (stateful fold); compose with events_gap_fill first when hour
    gaps should decay rather than skip."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select(
            "event_type",
            F.expr("ts_ns div 3600000000000").alias("h"),
            F.expr(to_micro("value")).alias("v_u"),
        )
        .groupBy("event_type", "h")
        .agg(F.sum("v_u").cast("long").alias("v_u"))
    )
    w = "OVER (PARTITION BY event_type ORDER BY h)"
    wsum = " + ".join(
        f"coalesce(lag(v_u, {j}) {w}, 0) * {1 << (_EWMA_TAPS - 1 - j)}"
        for j in range(_EWMA_TAPS)
    )
    m = f"least(row_number() {w}, {_EWMA_TAPS})"
    # 2^(16-m) via double pow — exact for exponents ≤ 16, then long
    avail = f"CAST(65536 AS BIGINT) - CAST(POWER(2.0D, CAST({_EWMA_TAPS} - {m} AS DOUBLE)) AS BIGINT)"
    return hourly.select(
        "event_type",
        F.col("h").cast("long").alias("hour_id"),
        "v_u",
        F.expr(emit_micro(f"CAST({wsum} AS BIGINT) / ({avail})")).alias("ewma"),
    )


@query(
    "incremental_agg_maintenance",
    oracle=f"""
    WITH e AS (
        SELECT user_id, epoch_ns(ts) AS ts_ns,
               {to_micro('value')} AS v_u
        FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(v_u) AS BIGINT) AS sum_u,
           CAST(min(v_u) AS BIGINT) AS min_u,
           CAST(max(v_u) AS BIGINT) AS max_u
    FROM e GROUP BY user_id
    """,
)
def incremental_agg_maintenance_q(spark, sf_dir):
    """Incremental materialized-view maintenance (the lakehouse
    aggregate-table refresh: Delta/Iceberg MERGE of a nightly delta
    into a per-key summary): per-user (count, sum, min, max) state is
    computed as base-window state MERGED with delta-window state —
    full-outer on the key, commutative-monoid combine (counts/sums
    add, min/max fold) — and the oracle recomputes the aggregate from
    ALL events directly, so the hash match PROVES merge == rebuild
    (the algebraic property that makes incremental refresh safe;
    avg/quantiles must be carried as (sum, count)/sketches, exactly
    why the state schema stores the monoid, not the answer).

    The time split point ((min + 4·(max−min) div 5) on ts_ns) rides a
    broadcast scalar — no driver action. At 100 TB the base state is
    the persisted artifact (the posture keyword_index_merge
    demonstrates with a ledger); each refresh aggregates ONLY the
    delta slice and rewrites merged partitions. Values quantize to
    micro-unit longs so every merged field is engine-exact."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts_ns", F.expr(to_micro("value")).alias("v_u")
    )
    split = ev.agg(
        (F.min("ts_ns") + F.expr("(max(ts_ns) - min(ts_ns)) * 4 div 5")).alias("_split")
    )
    tagged = ev.crossJoin(F.broadcast(split))
    aggs = [
        F.count("*").cast("long").alias("n_events"),
        F.sum("v_u").cast("long").alias("sum_u"),
        F.min("v_u").cast("long").alias("min_u"),
        F.max("v_u").cast("long").alias("max_u"),
    ]
    base = (
        tagged.filter(F.col("ts_ns") <= F.col("_split")).groupBy("user_id").agg(*aggs)
    )
    delta = (
        tagged.filter(F.col("ts_ns") > F.col("_split")).groupBy("user_id").agg(*aggs)
    )
    b, d = base.alias("b"), delta.alias("d")
    merged = b.join(d, F.col("b.user_id") == F.col("d.user_id"), "full_outer")
    z = F.lit(0).cast("long")
    return merged.select(
        F.coalesce(F.col("b.user_id"), F.col("d.user_id")).alias("user_id"),
        (F.coalesce(F.col("b.n_events"), z) + F.coalesce(F.col("d.n_events"), z)).alias("n_events"),
        (F.coalesce(F.col("b.sum_u"), z) + F.coalesce(F.col("d.sum_u"), z)).alias("sum_u"),
        F.least(
            F.coalesce(F.col("b.min_u"), F.col("d.min_u")),
            F.coalesce(F.col("d.min_u"), F.col("b.min_u")),
        ).alias("min_u"),
        F.greatest(
            F.coalesce(F.col("b.max_u"), F.col("d.max_u")),
            F.coalesce(F.col("d.max_u"), F.col("b.max_u")),
        ).alias("max_u"),
    )


@query(
    "token_entropy",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents
    ), s AS (
        SELECT doc_id,
               len(toks) AS n,
               len(list_distinct(toks)) AS nu,
               CAST(list_sum(list_transform(list_distinct(toks),
                    u -> {to_micro('''CAST(len(list_filter(toks, x -> x = u)) AS DOUBLE)
                              * ln(CAST(len(list_filter(toks, x -> x = u)) AS DOUBLE))''')}))
                    AS BIGINT) AS e_sum
        FROM t
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(nu AS BIGINT) AS n_uniq,
           round(ln(CAST(n AS DOUBLE)) - ({from_micro('e_sum')}) / n, 6) AS entropy,
           round(CASE WHEN n > 1
                      THEN (ln(CAST(n AS DOUBLE)) - ({from_micro('e_sum')}) / n) / ln(CAST(n AS DOUBLE))
                      ELSE 0.0 END, 6) AS norm_entropy
    FROM s
    """,
)
def token_entropy_q(spark, sf_dir):
    """Per-doc unigram entropy + normalized entropy — map-only HOF
    pass, zero shuffles; cross-term sum in exact micro-unit longs."""
    return text_analysis.token_entropy(load_table(spark, sf_dir, "documents"))


@query(
    "qlm_dirichlet_topk",
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
    ), cf AS (
        SELECT term, CAST(sum(tf) AS DOUBLE) AS cf FROM tf GROUP BY term
    ), tot AS (
        SELECT CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total
        FROM documents
    ), scored AS (
        SELECT tf.doc_id,
               sum(ln(1.0 + tf.tf / (100.0 * (cf.cf / t.total))))
               + 3.0 * ln(100.0 / (min(tf.dl) + 100.0)) AS qlm
        FROM tf JOIN cf USING (term) CROSS JOIN tot t
        GROUP BY tf.doc_id
    )
    SELECT CAST(row_number() OVER (ORDER BY qlm DESC, doc_id) AS BIGINT) AS rank,
           doc_id, round(qlm, 6) AS qlm
    FROM scored ORDER BY qlm DESC, doc_id LIMIT 10
    """,
)
def qlm_dirichlet_topk_q(spark, sf_dir):
    """Dirichlet query-likelihood top-10 from the materialized index
    (Zhai & Lafferty SIGIR'01) — the LM scorer beside BM25, sharing
    the same bucket-pruned postings; collection frequency comes from
    the pruned buckets themselves, the exact total-token count from
    the build's stats row. Oracle recomputes from documents,
    index-independent."""
    from ..operators import text_index

    index_dir = _kw_index_dir(spark, sf_dir)
    return text_index.qlm_dirichlet_topk(spark, index_dir, ["spark", "join", "fast"])


@query(
    "faceted_search_counts",
    oracle="""
    WITH m AS (
        SELECT lang, source FROM documents
        WHERE len(list_intersect(string_split(text, ' '),
                                 ['fast', 'join', 'spark'])) > 0
    ), cells AS (
        SELECT lang, source, CAST(count(*) AS BIGINT) AS n_hits
        FROM m GROUP BY 1, 2
    )
    SELECT lang, source, n_hits,
           round(n_hits / CAST(sum(n_hits) OVER () AS DOUBLE), 6) AS share
    FROM cells
    """,
)
def faceted_search_counts_q(spark, sf_dir):
    """Facet counts for a search-results page (the aggregation strip
    beside every commercial search UI): per (lang, source), how many
    docs match ANY query term, plus each facet cell's share of all
    hits. The match test is a map-side array_intersect (no explode, no
    per-term shuffle); the share window runs over the ≤|langs×sources|
    facet frame, never the corpus. At 100 TB this rides the SAME
    pruned postings scan as the ranked query (join doc_ids to facet
    columns) — here the direct form keeps the oracle index-free."""
    docs = load_table(spark, sf_dir, "documents")
    terms = V.lit_array(["fast", "join", "spark"])
    from ..functions import text as X

    m = docs.filter(F.size(F.array_intersect(F.expr(X.tokens("text")), terms)) > 0)
    cells = m.groupBy("lang", "source").agg(F.count("*").cast("long").alias("n_hits"))
    w = Window.partitionBy()
    return cells.select(
        "lang",
        "source",
        "n_hits",
        F.round(F.col("n_hits") / F.sum("n_hits").over(w), 6).alias("share"),
    )


@query(
    "rfm_segments",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id,
               CAST(max(epoch_ns(ts)) AS BIGINT) AS last_ts_ns,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum({to_micro('value')}) AS BIGINT) AS sum_u
        FROM events GROUP BY user_id
    ), scored AS (
        SELECT *,
               CAST(ntile(5) OVER (ORDER BY last_ts_ns DESC, user_id) AS BIGINT) AS r_q,
               CAST(ntile(5) OVER (ORDER BY n_events DESC, user_id) AS BIGINT) AS f_q,
               CAST(ntile(5) OVER (ORDER BY sum_u DESC, user_id) AS BIGINT) AS m_q
        FROM per_user
    )
    SELECT user_id, last_ts_ns, n_events, sum_u, r_q, f_q, m_q,
           r_q || '' || f_q || '' || m_q AS segment
    FROM scored
    """,
)
def rfm_segments_q(spark, sf_dir):
    """RFM customer segmentation (recency/frequency/monetary quintile
    scores — the classic behavioral-cohort recipe): ONE fact shuffle
    builds the per-user profile (map-side-combinable max/count/sum in
    exact micro-units); the three ntile windows then run over the
    per-user frame — cardinality |users|, not |events| — with
    deterministic (metric, user_id) total orders so quintile
    boundaries are engine-identical. Quintile 1 = best in each
    dimension; segment '111' is the champion cell."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max("ts_ns").cast("long").alias("last_ts_ns"),
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.expr(to_micro("value"))).cast("long").alias("sum_u"),
    )
    r = Window.orderBy(F.col("last_ts_ns").desc(), "user_id")
    f = Window.orderBy(F.col("n_events").desc(), "user_id")
    m = Window.orderBy(F.col("sum_u").desc(), "user_id")
    scored = per_user.select(
        "*",
        F.ntile(5).over(r).cast("long").alias("r_q"),
        F.ntile(5).over(f).cast("long").alias("f_q"),
        F.ntile(5).over(m).cast("long").alias("m_q"),
    )
    return scored.select(
        "*",
        F.concat_ws("", "r_q", "f_q", "m_q").alias("segment"),
    )


@query(
    "lm_perplexity_bigram",
    oracle=f"""
    WITH g AS (
        SELECT doc_id, unnest(
            CASE WHEN len(t) < 2 THEN []::VARCHAR[]
                 ELSE [array_to_string(t[i + 1 : i + 2], ' ') FOR i IN range(len(t) - 1)]
            END) AS bigram
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    ), bf AS (
        SELECT bigram, CAST(count(*) AS BIGINT) AS c_xy FROM g GROUP BY bigram
    ), px AS (
        SELECT string_split(bigram, ' ')[1] AS x, CAST(sum(c_xy) AS BIGINT) AS c_x
        FROM bf GROUP BY 1
    ), v AS (
        SELECT CAST(count(DISTINCT term) AS BIGINT) AS v FROM (
            SELECT unnest(string_split(text, ' ')) AS term FROM documents
        ) WHERE term <> ''
    ), dtf AS (
        SELECT doc_id, bigram, CAST(count(*) AS BIGINT) AS tf
        FROM g GROUP BY doc_id, bigram
    ), per_doc AS (
        SELECT d.doc_id,
               CAST(sum(d.tf) AS BIGINT) AS n_bigrams,
               CAST(sum(d.tf * {to_micro('ln((b.c_xy + 1) / CAST(p.c_x + v.v AS DOUBLE))')}) AS BIGINT) AS lu
        FROM dtf d
        JOIN bf b USING (bigram)
        JOIN px p ON string_split(d.bigram, ' ')[1] = p.x
        CROSS JOIN v
        GROUP BY d.doc_id
    )
    SELECT doc_id, n_bigrams,
           round(({from_micro('lu')}) / n_bigrams, 6) AS avg_logp,
           round(exp(-(({from_micro('lu')}) / n_bigrams)), 6) AS perplexity
    FROM per_doc
    """,
)
def lm_perplexity_bigram_q(spark, sf_dir):
    """Bigram-LM perplexity with add-1 smoothing — the local-fluency
    quality signal one order above lm_perplexity; vocab²-bounded count
    frame checkpoints once, per-term contributions quantize to
    micro-unit longs so the per-doc sum is order-free."""
    return text_analysis.lm_perplexity_bigram(load_table(spark, sf_dir, "documents"))


@query(
    "session_paths",
    oracle="""
    WITH e AS (
        SELECT user_id, epoch_ns(ts) AS ts_ns, event_id, event_type
        FROM events
    ), flagged AS (
        SELECT *, CASE WHEN lag(ts_ns) OVER w IS NULL
                        OR ts_ns - lag(ts_ns) OVER w > 1800000000000
                       THEN 1 ELSE 0 END AS new_sess
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id)
    ), sess AS (
        SELECT *, sum(new_sess) OVER (PARTITION BY user_id
                       ORDER BY ts_ns, event_id ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM flagged
    ), paths AS (
        SELECT user_id, sess_id,
               array_to_string(list(event_type ORDER BY ts_ns, event_id)[1:3], '>') AS path
        FROM sess GROUP BY user_id, sess_id
    ), counted AS (
        SELECT path, CAST(count(*) AS BIGINT) AS n_sessions FROM paths GROUP BY path
    ), shared AS (
        SELECT path, n_sessions,
               round(n_sessions / CAST(sum(n_sessions) OVER () AS DOUBLE), 6) AS share
        FROM counted
    )
    SELECT CAST(row_number() OVER (ORDER BY n_sessions DESC, path) AS BIGINT) AS rank,
           path, n_sessions, share
    FROM shared ORDER BY n_sessions DESC, path LIMIT 10
    """,
)
def session_paths_q(spark, sf_dir):
    """Top session-opening paths (the flow-discovery mining behind
    funnel design: which 3-step sequences do sessions actually start
    with): gap-based sessionization (30 min, same convention as
    sessionize_events) via one (user, time) window, path assembly from
    each session's first 3 events (knn.topk_per_key in (ts_ns,
    event_id) order, on the user partitioning the first window left),
    counts + share over the ≤|types|³ path frame, top-10 via
    sort-limit. Two fact shuffles total: the user window and the path
    rollup."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    gap = F.lit(1800000000000)
    new_sess = F.when(
        F.lag("ts_ns").over(w).isNull()
        | (F.col("ts_ns") - F.lag("ts_ns").over(w) > gap),
        1,
    ).otherwise(0)
    sess = ev.select(
        "user_id", "ts_ns", "event_id", "event_type", new_sess.alias("_new")
    ).select(
        "*",
        F.sum("_new")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("sess_id"),
    )
    paths = (
        knn.topk_per_key(sess, ["user_id", "sess_id"], "event_id", 3, score_col="ts_ns", asc=True)
        .groupBy("user_id", "sess_id")
        .agg(
            F.expr(
                "concat_ws('>', transform(array_sort(collect_list(struct(rank, event_type))),"
                " s -> s.event_type))"
            ).alias("path")
        )
    )
    counted = paths.groupBy("path").agg(
        F.count("*").cast("long").alias("n_sessions")
    )
    tot = Window.partitionBy()
    shared = counted.select(
        "path",
        "n_sessions",
        F.round(F.col("n_sessions") / F.sum("n_sessions").over(tot), 6).alias("share"),
    )
    top = shared.orderBy(F.col("n_sessions").desc(), "path").limit(10)
    rw = Window.orderBy(F.col("n_sessions").desc(), "path")
    return top.select(
        F.row_number().over(rw).cast("long").alias("rank"),
        "path",
        "n_sessions",
        "share",
    )


@query(
    "skipgram_pairs",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(list_sum([len(list_filter(range(i - 2, i + 3),
                    j -> j >= 0 AND j < len(toks) AND j != i))
                FOR i IN range(len(toks))]) AS BIGINT) AS n_pairs,
           array_to_string([toks[i + 1] || ':' ||
                array_to_string(list_transform(
                    list_filter(range(i - 2, i + 3),
                        j -> j >= 0 AND j < len(toks) AND j != i),
                    j -> toks[j + 1]), ',')
                FOR i IN range(len(toks))], ';') AS pairs_text,
           array_to_string([
                CAST(('0x' || substr(md5('sg:' || doc_id || ':' || i || ':1'), 1, 15))::BIGINT % 1024 AS VARCHAR)
                || ',' ||
                CAST(('0x' || substr(md5('sg:' || doc_id || ':' || i || ':2'), 1, 15))::BIGINT % 1024 AS VARCHAR)
                FOR i IN range(len(toks))], ';') AS neg_text
    FROM t
    """,
)
def skipgram_pairs_q(spark, sf_dir):
    """Deterministic skip-gram training-pair generation (word2vec SGNS
    — Mikolov NIPS'13), completing the sample-generation family beside
    mlm_mask_corpus and span_corrupt_corpus: per position, the ±2
    context window yields (center, context) pairs, and two negatives
    per position draw from the seeded md5 family into a 1024-bucket
    hashed vocab (documented swap point for a frequency^0.75 unigram
    table — the hash keeps the draw engine/run/cluster-independent).
    Pure codegen HOFs over one scan — zero shuffles, a map-only job at
    100 TB; the full serialized (pairs, negatives) layout is
    hash-checked, not just counts."""
    docs = load_table(spark, sf_dir, "documents", split=True)
    neg = (
        "cast(conv(substring(md5(concat('sg:', cast(doc_id as string), ':',"
        " cast(i as string), ':{j}')), 1, 15), 16, 10) as bigint) % 1024"
    )
    ctx_idx = (
        "filter(sequence(i - 2, i + 2),"
        " j -> j >= 0 and j < size(toks) and j != i)"
    )
    return docs.selectExpr("doc_id", "split(text, ' ') AS toks").selectExpr(
        "doc_id",
        "cast(size(toks) as long) AS n_tokens",
        f"cast(aggregate(transform(sequence(0, size(toks) - 1),"
        f" i -> size({ctx_idx})), 0, (a, b) -> a + b) as long) AS n_pairs",
        f"array_join(transform(sequence(0, size(toks) - 1),"
        f" i -> concat(element_at(toks, i + 1), ':',"
        f" array_join(transform({ctx_idx}, j -> element_at(toks, j + 1)), ','))),"
        f" ';') AS pairs_text",
        f"array_join(transform(sequence(0, size(toks) - 1),"
        f" i -> concat({neg.format(j=1)}, ',', {neg.format(j=2)})), ';') AS neg_text",
    )


@query(
    "temporal_split",
    oracle="""
    WITH b AS (
        SELECT min(epoch_ns(ts)) + (max(epoch_ns(ts)) - min(epoch_ns(ts))) * 4 // 5 AS cut
        FROM events
    ), s AS (
        SELECT CASE WHEN epoch_ns(ts) <= b.cut THEN 'train' ELSE 'test' END AS split,
               event_type, user_id, epoch_ns(ts) AS ts_ns
        FROM events, b
    )
    SELECT split, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(min(ts_ns) AS BIGINT) AS min_ts_ns,
           CAST(max(ts_ns) AS BIGINT) AS max_ts_ns
    FROM s GROUP BY split, event_type
    """,
)
def temporal_split_q(spark, sf_dir):
    """Temporal train/test split audit — the OTHER split every
    forecasting/recommendation pipeline needs beside the hash split
    (train_test_split): train = first 80% of the time range, test =
    the future tail, so evaluation never leaks the future into
    training. The cut point is a broadcast scalar (min + 4·span div 5
    in exact nanos — no driver action); per-(split, event_type) the
    audit reports counts, distinct users, and the min/max timestamps
    whose hash-checked values PROVE the no-overlap boundary (every
    train max < every test min). One fact shuffle."""
    ev = load_table(spark, sf_dir, "events")
    cut = ev.agg(
        (F.min("ts_ns") + F.expr("(max(ts_ns) - min(ts_ns)) * 4 div 5")).alias("_cut")
    )
    s = ev.crossJoin(F.broadcast(cut)).select(
        F.when(F.col("ts_ns") <= F.col("_cut"), F.lit("train"))
        .otherwise(F.lit("test"))
        .alias("split"),
        "event_type",
        "user_id",
        "ts_ns",
    )
    return s.groupBy("split", "event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
        F.min("ts_ns").cast("long").alias("min_ts_ns"),
        F.max("ts_ns").cast("long").alias("max_ts_ns"),
    )


@query("ann_ivf_sq8")  # oracle: LAZY_ORACLES["ann_ivf_sq8"] (centroid + scale literals)
def ann_ivf_sq8_q(spark, sf_dir):
    """IVF + uniform int8 scalar quantizer (faiss 'IVF8,SQ8'): nprobe
    cells bound which vectors scan, int8 codes bound comparison cost;
    symmetric integer distance keeps the whole composite path
    hash-exact."""
    emb = load_table(spark, sf_dir, "embeddings", split=True)
    centroids = ann.kmeans_fit_sample(sf_dir)
    queries = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ann.ann_ivf_sq8_topk(emb, queries, centroids, k=3, nprobe=2)
    return out.select("query_id", "vec_id", "code_dist", F.col("rank").cast("long"))


def _ivf_sq8_oracle(sf_dir: str) -> str:
    centroids = ann.kmeans_fit_sample(sf_dir)
    return "WITH" + ann.dd_ivf_ctes(centroids, 5) + f"""
    , am AS (
        SELECT {V.dd_sq8_absmax('embedding')} AS absmax FROM embeddings
    ), ca AS (
        SELECT a.vec_id, a.cid, {V.dd_sq8_code('a.embedding', 'am.absmax')} AS codes
        FROM assigned a, am
    ), cq AS (
        SELECT p.query_id, p.cid, {V.dd_sq8_code('p.query_vec', 'am.absmax')} AS qcodes
        FROM qprobe p, am
    ), scored AS (
        SELECT cq.query_id, ca.vec_id, {V.dd_code_sq_dist('ca.codes', 'cq.qcodes')} AS code_dist
        FROM ca JOIN cq ON ca.cid = cq.cid
    ), ranked AS (
        SELECT query_id, vec_id, code_dist,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY code_dist, vec_id) AS rank
        FROM scored
    )
    SELECT query_id, vec_id, code_dist, rank FROM ranked WHERE rank <= 3
    """


LAZY_ORACLES["ann_ivf_sq8"] = _ivf_sq8_oracle


@query(
    "dataset_card",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT) AS total_tokens,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_dup_copies,
           round((count(*) - count(DISTINCT md5(text))) / CAST(count(*) AS DOUBLE), 6) AS dup_frac,
           round(sum(length(text) - length(replace(text, ' ', '')) + 1) / CAST(count(*) AS DOUBLE), 6) AS mean_doc_tokens
    FROM documents
    """,
)
def dataset_card_q(spark, sf_dir):
    """Dataset-card summary row (the header block of a HF dataset card
    / Datasheets-for-Datasets audit): doc/token/char totals, lang and
    source cardinalities, exact-duplicate copy count + fraction — ONE
    scan, ONE aggregate (count_distinct rides the same agg; the dup
    count is n_docs − distinct text hashes, md5 so the oracle
    reproduces it). The allocation-free spaces+1 token count keeps the
    scan narrow; at 100 TB this is the cheapest whole-corpus
    health-check that exists."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = (
        F.length("text") - F.length(F.translate(F.col("text"), " ", "")) + 1
    )
    return docs.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(n_tok).cast("long").alias("total_tokens"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
        F.count_distinct("lang").cast("long").alias("n_langs"),
        F.count_distinct("source").cast("long").alias("n_sources"),
        (F.count("*") - F.count_distinct(F.md5("text"))).cast("long").alias("n_dup_copies"),
        F.round(
            F.try_divide(F.count("*") - F.count_distinct(F.md5("text")), F.count("*")), 6
        ).alias("dup_frac"),
        F.round(F.try_divide(F.sum(n_tok), F.count("*")), 6).alias("mean_doc_tokens"),
    )


@query(
    "quantization_recall",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5
    ), exact AS (
        SELECT query_id, vec_id FROM (
            SELECT q.query_id, e.vec_id,
                   row_number() OVER (PARTITION BY q.query_id
                       ORDER BY {V.dd_euclidean('e.embedding', 'q.qv')}, e.vec_id) AS rn
            FROM embeddings e, q WHERE e.vec_id <> q.query_id
        ) WHERE rn <= 10
    ), am AS (
        SELECT {V.dd_sq8_absmax('embedding')} AS absmax FROM embeddings
    ), codes AS (
        SELECT vec_id, {V.dd_sq8_code('embedding', 'am.absmax')} AS c
        FROM embeddings, am
    ), qcodes AS (
        SELECT q.query_id, {V.dd_sq8_code('q.qv', 'am.absmax')} AS c
        FROM q, am
    ), sq AS (
        SELECT query_id, vec_id FROM (
            SELECT qc.query_id, e.vec_id,
                   row_number() OVER (PARTITION BY qc.query_id ORDER BY
                       {V.dd_code_sq_dist('e.c', 'qc.c')}, e.vec_id) AS rn
            FROM codes e, qcodes qc WHERE e.vec_id <> qc.query_id
        ) WHERE rn <= 10
    ), words AS (
        SELECT vec_id, {V.dd_sign_bits('v[1:32]', 32)} AS lo, {V.dd_sign_bits('v[33:64]', 32)} AS hi
        FROM (SELECT vec_id, embedding AS v FROM embeddings)
    ), qwords AS (
        SELECT q.query_id, {V.dd_sign_bits('v[1:32]', 32)} AS lo, {V.dd_sign_bits('v[33:64]', 32)} AS hi
        FROM (SELECT query_id, qv AS v FROM q) q
    ), ham AS (
        SELECT query_id, vec_id FROM (
            SELECT qw.query_id, w.vec_id,
                   row_number() OVER (PARTITION BY qw.query_id ORDER BY
                       bit_count(xor(w.lo, qw.lo)) + bit_count(xor(w.hi, qw.hi)),
                       w.vec_id) AS rn
            FROM words w, qwords qw WHERE w.vec_id <> qw.query_id
        ) WHERE rn <= 10
    ), sq_r AS (
        SELECT s.query_id, 'sq8' AS method,
               round(sum(CASE WHEN ex.vec_id IS NOT NULL THEN 1 ELSE 0 END) / 10.0, 6) AS recall
        FROM sq s LEFT JOIN exact ex
          ON ex.query_id = s.query_id AND ex.vec_id = s.vec_id
        GROUP BY s.query_id
    ), ham_r AS (
        SELECT h.query_id, 'binary' AS method,
               round(sum(CASE WHEN ex.vec_id IS NOT NULL THEN 1 ELSE 0 END) / 10.0, 6) AS recall
        FROM ham h LEFT JOIN exact ex
          ON ex.query_id = h.query_id AND ex.vec_id = h.vec_id
        GROUP BY h.query_id
    )
    SELECT * FROM sq_r UNION ALL SELECT * FROM ham_r
    """,
)
def quantization_recall_q(spark, sf_dir):
    """Recall@10 of the int8-SQ and sign-binary towers vs exact float
    L2 — the quantization-loss measurement that sizes the refinement
    stage; zero-hit queries still emit their recall=0 row."""
    return ann.quantization_recall(load_table(spark, sf_dir, "embeddings", split=True))


@query(
    "embedding_quality_checks",
    oracle="""
    WITH e AS (
        SELECT vec_id, embedding,
               len(embedding) AS dim,
               list_sum(list_transform(embedding::DOUBLE[],
                   x -> CASE WHEN isnan(x) OR isinf(x) THEN 1 ELSE 0 END)) AS n_bad,
               list_sum(list_transform(embedding::DOUBLE[], x -> x * x)) AS sq
        FROM embeddings
    )
    SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(sum(CASE WHEN embedding IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           CAST(sum(CASE WHEN dim <> 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_wrong_dim,
           CAST(sum(CASE WHEN n_bad > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nonfinite,
           CAST(sum(CASE WHEN sq = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_norm,
           CAST(count(*) - count(DISTINCT vec_id) AS BIGINT) AS n_dup_ids,
           (sum(CASE WHEN embedding IS NULL THEN 1 ELSE 0 END) = 0
            AND sum(CASE WHEN dim <> 64 THEN 1 ELSE 0 END) = 0
            AND sum(CASE WHEN n_bad > 0 THEN 1 ELSE 0 END) = 0
            AND sum(CASE WHEN sq = 0 THEN 1 ELSE 0 END) = 0
            AND count(*) = count(DISTINCT vec_id)) AS all_ok
    FROM e
    """,
)
def embedding_quality_checks_q(spark, sf_dir):
    """Vector-table expectations gate (the embeddings twin of
    data_quality_checks — what an index build MUST verify before
    ingesting a re-embedded corpus): null vectors, wrong
    dimensionality, non-finite components (NaN/Inf — the classic
    sign of an fp16 overflow upstream), zero-norm vectors (cosine is
    undefined — they poison normalized scores silently), duplicate
    primary keys. ONE scan, ONE aggregate — every check is a
    conditional sum over per-row HOF signals, and the single all_ok
    boolean is what a scheduler gates the index build on."""
    emb = load_table(spark, sf_dir, "embeddings")
    dim = F.size("embedding")
    n_bad = F.expr(
        "aggregate(transform(CAST(embedding AS ARRAY<DOUBLE>), e -> CASE WHEN isnan(e)"
        f" OR abs(e) = {V.sql_literal(float('inf'))} THEN 1 ELSE 0 END), 0, (acc, n) -> acc + n)"
    )
    sq = F.expr(V.dot("embedding", "embedding"))
    base = emb.select(
        "vec_id",
        F.col("embedding").isNull().alias("_null"),
        (dim != 64).alias("_wdim"),
        (n_bad > 0).alias("_nonfin"),
        (sq == 0).alias("_zero"),
    )
    agg = base.agg(
        F.count("*").cast("long").alias("n_vectors"),
        F.sum(F.when(F.col("_null"), 1).otherwise(0)).cast("long").alias("n_null"),
        F.sum(F.when(F.col("_wdim"), 1).otherwise(0)).cast("long").alias("n_wrong_dim"),
        F.sum(F.when(F.col("_nonfin"), 1).otherwise(0)).cast("long").alias("n_nonfinite"),
        F.sum(F.when(F.col("_zero"), 1).otherwise(0)).cast("long").alias("n_zero_norm"),
        (F.count("*") - F.count_distinct("vec_id")).cast("long").alias("n_dup_ids"),
    )
    ok = (
        (F.col("n_null") == 0)
        & (F.col("n_wrong_dim") == 0)
        & (F.col("n_nonfinite") == 0)
        & (F.col("n_zero_norm") == 0)
        & (F.col("n_dup_ids") == 0)
    )
    return agg.select("*", ok.alias("all_ok"))


_DD_SYM_BIGRAMS = """
        unnest(CASE WHEN len(string_split(trim(s), ' ')) < 2 THEN []::VARCHAR[]
             ELSE [array_to_string(string_split(trim(s), ' ')[i + 1 : i + 2], ' ')
                   FOR i IN range(len(string_split(trim(s), ' ')) - 1)]
        END) AS pair
"""


@query(
    "bpe_train_rounds",
    oracle=f"""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ), w AS (
        SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM toks
        WHERE word <> '' GROUP BY word
    ), s0 AS (
        SELECT ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS s, cnt FROM w
    ), p1 AS (
        SELECT pair, CAST(sum(cnt) AS BIGINT) AS pair_count FROM (
            SELECT cnt, {_DD_SYM_BIGRAMS} FROM s0
        ) GROUP BY pair
    ), best1 AS (
        SELECT pair FROM p1 ORDER BY pair_count DESC, pair LIMIT 1
    ), s1 AS (
        SELECT replace(s0.s,
                   ' ' || b.pair || ' ',
                   ' ' || replace(b.pair, ' ', '') || ' ') AS s, s0.cnt
        FROM s0, best1 b
    ), p2 AS (
        SELECT pair, CAST(sum(cnt) AS BIGINT) AS pair_count FROM (
            SELECT cnt, {_DD_SYM_BIGRAMS} FROM s1
        ) GROUP BY pair
    ), r1 AS (
        SELECT 1 AS round, CAST(row_number() OVER (ORDER BY pair_count DESC, pair) AS BIGINT) AS rank,
               pair, pair_count
        FROM p1 ORDER BY pair_count DESC, pair LIMIT 5
    ), r2 AS (
        SELECT 2 AS round, CAST(row_number() OVER (ORDER BY pair_count DESC, pair) AS BIGINT) AS rank,
               pair, pair_count
        FROM p2 ORDER BY pair_count DESC, pair LIMIT 5
    )
    SELECT CAST(round AS BIGINT) AS round, rank, pair, pair_count
    FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
    """,
)
def bpe_train_rounds_q(spark, sf_dir):
    """TWO iterative BPE training rounds (Sennrich ACL'16 — the loop
    bpe_pair_counts is one step of): round 1 counts symbol pairs over
    the spaced-character vocab, the argmax pair (ties → lexicographic,
    chosen IN-PLAN as a 1-row broadcast — no driver literal) merges
    into every word via the sentinel-space string replace whose
    non-overlap semantics are IDENTICAL in both engines: replace
    resumes AFTER the replacement, so the token following a merge is
    never the next match's left member — this deviates from the
    canonical fold only on ≥4-runs of a self-paired symbol (found by
    hypothesis, pinned by tests/test_kernel_properties.py's replace
    model; absent from word corpora) — and round 2 recounts on the
    merged symbols. Top-5 pairs of each round are hash-checked,
    so the merge application itself is verified through round 2's
    counts — the same prove-the-iteration posture as kmeans_refine
    and dedup_cluster.

    Scale: everything after the first groupBy is VOCABULARY-sized —
    the corpus is touched once; each round is one map (replace) + one
    map-side-combinable count over the vocab frame. n rounds = n
    broadcast-scalar joins, the relational form of the classic
    single-machine BPE trainer loop."""
    docs = load_table(spark, sf_dir, "documents")
    w = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    s0 = w.select(
        F.concat(F.lit(" "), F.regexp_replace("word", "(.)", "$1 ")).alias("s"),
        "cnt",
    ).localCheckpoint(eager=False)

    def pair_counts(sym: DataFrame) -> DataFrame:
        from ..functions import text as X

        return (
            sym.select(
                "cnt",
                F.explode(F.expr(X.word_shingles("trim(s)", 2))).alias("pair"),
            )
            .groupBy("pair")
            .agg(F.sum("cnt").cast("long").alias("pair_count"))
        )

    def top5(pc: DataFrame, rnd: int) -> DataFrame:
        top = pc.orderBy(F.col("pair_count").desc(), "pair").limit(5)
        rw = Window.orderBy(F.col("pair_count").desc(), "pair")
        return top.select(
            F.lit(rnd).cast("long").alias("round"),
            F.row_number().over(rw).cast("long").alias("rank"),
            "pair",
            "pair_count",
        )

    p1 = pair_counts(s0).localCheckpoint(eager=False)
    best1 = p1.orderBy(F.col("pair_count").desc(), "pair").limit(1).select("pair")
    s1 = s0.crossJoin(F.broadcast(best1)).select(
        F.replace(
            F.col("s"),
            F.concat(F.lit(" "), F.col("pair"), F.lit(" ")),
            F.concat(F.lit(" "), F.replace(F.col("pair"), F.lit(" "), F.lit("")), F.lit(" ")),
        ).alias("s"),
        "cnt",
    )
    return top5(p1, 1).unionAll(top5(pair_counts(s1), 2))


@query(
    "label_outliers",
    oracle="""
    WITH ex AS (
        SELECT vec_id, label, i AS pos, embedding[i + 1]::DOUBLE AS v
        FROM embeddings, range(64) t(i)
    ), cent AS (
        SELECT label, pos, round(avg(v), 6) AS m FROM ex GROUP BY label, pos
    ), d AS (
        SELECT e.vec_id, e.label,
               CAST(sum(CAST(round((e.v - c.m) * (e.v - c.m) * 1e12) AS BIGINT)) AS BIGINT) AS d2u
        FROM ex e JOIN cent c ON e.label = c.label AND e.pos = c.pos
        GROUP BY e.vec_id, e.label
    )
    SELECT CAST(row_number() OVER (ORDER BY d2u DESC, vec_id) AS BIGINT) AS rank,
           vec_id, label, round(sqrt(d2u / 1e12), 6) AS dist
    FROM d ORDER BY d2u DESC, vec_id LIMIT 20
    """,
)
def label_outliers_q(spark, sf_dir):
    """Label-outlier mining (the data-cleaning pass behind confident
    learning / mislabel detection: vectors farthest from their own
    class centroid are the mislabel candidates a human reviews first):
    per-(label, dim) centroids from one posexplode shuffle (means
    ROUNDED to 6 dp first, so the centroid representation — not the
    unstable float mean — is what both engines measure against);
    per-vector squared distance accumulates as micro-unit longs
    (order-free), top-20 via sort-limit. One corpus-wide posexplode
    shuffle; everything after is label-cardinality-sized and the
    centroid frame broadcasts (|labels| x dim rows)."""
    emb = load_table(spark, sf_dir, "embeddings", split=True)
    ex = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"),
    )
    cent = ex.groupBy("label", "pos").agg(F.round(F.avg("v"), 6).alias("m"))
    contrib = F.round((F.col("v") - F.col("m")) * (F.col("v") - F.col("m")) * 1e12).cast("long")
    d = (
        ex.join(F.broadcast(cent), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(F.sum(contrib).alias("d2u"))
    )
    top = d.orderBy(F.col("d2u").desc(), "vec_id").limit(20)
    w = Window.orderBy(F.col("d2u").desc(), "vec_id")
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "vec_id",
        "label",
        F.round(F.sqrt(F.col("d2u") / 1e12), 6).alias("dist"),
    )


@query(
    "tfidf_vsm_topk",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
        SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
        FROM toks GROUP BY doc_id, term
    ), n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    dfreq AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
    ), norms AS (
        SELECT tf.doc_id,
               CAST(sum({to_micro('''(tf.tf * ln((n.n + 1) / (d.df + 1)))
                    * (tf.tf * ln((n.n + 1) / (d.df + 1)))''')}) AS BIGINT) AS norm2_u
        FROM tf JOIN dfreq d USING (term) CROSS JOIN n
        GROUP BY tf.doc_id
    ), q AS (
        SELECT tf.doc_id,
               sum(tf.tf * ln((n.n + 1) / (d.df + 1)) * ln((n.n + 1) / (d.df + 1))) AS num
        FROM tf JOIN dfreq d USING (term) CROSS JOIN n
        WHERE tf.term IN ('spark', 'join', 'fast')
        GROUP BY tf.doc_id
    ), qn AS (
        SELECT sum(ln((n.n + 1) / (d.df + 1)) * ln((n.n + 1) / (d.df + 1))) AS qnorm2
        FROM dfreq d CROSS JOIN n
        WHERE d.term IN ('spark', 'join', 'fast')
    ), scored AS (
        SELECT q.doc_id,
               q.num / (sqrt({from_micro('nm.norm2_u')}) * sqrt(qn.qnorm2)) AS vsm
        FROM q JOIN norms nm USING (doc_id) CROSS JOIN qn
    )
    SELECT CAST(row_number() OVER (ORDER BY vsm DESC, doc_id) AS BIGINT) AS rank,
           doc_id, round(vsm, 6) AS vsm
    FROM scored ORDER BY vsm DESC, doc_id LIMIT 10
    """,
)
def tfidf_vsm_topk_q(spark, sf_dir):
    """tf-idf cosine (VSM) top-10 from the materialized index — the
    third classic scorer beside BM25 and QLM, reading the build's
    norms table (exact micro-unit ||d||², Lucene's norm-file analog);
    oracle recomputes everything from documents, index-free."""
    from ..operators import text_index

    index_dir = _kw_index_dir(spark, sf_dir)
    return text_index.tfidf_vsm_topk(spark, index_dir, ["spark", "join", "fast"])


@query(
    "grouped_latency_slo",
    oracle=f"""
    WITH e AS (
        SELECT event_type, {to_micro('value')} AS v_u
        FROM events
    ), s AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               list_sort(list(v_u)) AS vs,
               CAST(sum(CASE WHEN v_u < {MICRO} THEN 1 ELSE 0 END) AS BIGINT) AS n_ok
        FROM e GROUP BY event_type
    )
    SELECT event_type, n,
           {emit_micro('vs[CAST(n * 50 // 100 AS INTEGER) + 1]')} AS p50,
           {emit_micro('vs[CAST(n * 95 // 100 AS INTEGER) + 1]')} AS p95,
           {emit_micro('vs[CAST(n * 99 // 100 AS INTEGER) + 1]')} AS p99,
           {emit_micro('vs[n]')} AS p_max,
           round(n_ok / CAST(n AS DOUBLE), 6) AS slo_attainment
    FROM s
    """,
)
def grouped_latency_slo_q(spark, sf_dir, exact_quantiles: bool = True):
    """Per-group tail-latency SLO report (the p50/p95/p99 +
    attainment panel every service dashboard carries — here per
    event_type over the value column, micro-unit exact): EXACT
    percentiles via the same sorted-collect selection rule as
    quantile_stats/skew_profile — deterministic in both engines where
    approx_percentile's sketch is not — with the same documented
    limit (buffer = per-group row count) and sorted[n·p div 100]
    0-based selection. SLO attainment (share under the 1.0 threshold)
    rides the same single agg — one fact shuffle total.

    ``exact_quantiles=False`` is the 100 TB path: percentile_approx
    (KLL-style mergeable sketch, bounded memory regardless of group
    size) replaces the sorted-collect buffer; p_max/attainment stay
    exact (max/sum partials). The exact default stays the oracle
    anchor — the sketch is engine-dependent at the margin."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.expr(to_micro("value")).alias("v_u")
    )
    if not exact_quantiles:
        s = ev.groupBy("event_type").agg(
            F.count("*").cast("long").alias("n"),
            F.percentile_approx("v_u", V.lit_array([0.5, 0.95, 0.99]), F.lit(10000)).alias("_qs"),
            F.max("v_u").alias("_mx"),
            F.sum(F.when(F.col("v_u") < MICRO, 1).otherwise(0)).cast("long").alias("_ok"),
        )
        return s.select(
            "event_type",
            "n",
            F.expr(emit_micro("_qs[0]")).alias("p50"),
            F.expr(emit_micro("_qs[1]")).alias("p95"),
            F.expr(emit_micro("_qs[2]")).alias("p99"),
            F.expr(emit_micro("_mx")).alias("p_max"),
            F.round(F.col("_ok") / F.col("n"), 6).alias("slo_attainment"),
        )
    s = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sort_array(F.collect_list("v_u")).alias("_vs"),
        F.sum(F.when(F.col("v_u") < MICRO, 1).otherwise(0)).cast("long").alias("_ok"),
    )
    def pick(p):
        return F.expr(emit_micro(f"get(_vs, CAST(n * {p} div 100 AS INT))"))
    return s.select(
        "event_type",
        "n",
        pick(50).alias("p50"),
        pick(95).alias("p95"),
        pick(99).alias("p99"),
        F.expr(emit_micro("element_at(_vs, -1)")).alias("p_max"),
        F.round(F.col("_ok") / F.col("n"), 6).alias("slo_attainment"),
    )


@query(
    "vocab_coverage",
    oracle="""
    WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
        SELECT source, term, CAST(count(*) AS BIGINT) AS c
        FROM toks WHERE term <> '' GROUP BY source, term
    ), gcounts AS (
        SELECT term, CAST(sum(c) AS BIGINT) AS g FROM tf GROUP BY term
    ), vocab AS (
        SELECT term FROM gcounts ORDER BY g DESC, term LIMIT 100
    )
    SELECT tf.source,
           CAST(sum(tf.c) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.term IS NOT NULL THEN tf.c ELSE 0 END) AS BIGINT) AS n_covered,
           round(sum(CASE WHEN v.term IS NOT NULL THEN tf.c ELSE 0 END)
                 / CAST(sum(tf.c) AS DOUBLE), 6) AS coverage
    FROM tf LEFT JOIN vocab v USING (term)
    GROUP BY tf.source
    """,
)
def vocab_coverage_q(spark, sf_dir):
    """Vocabulary coverage per source (the OOV / domain-shift audit
    behind tokenizer sizing and corpus-mix decisions — a source whose
    coverage under the global top-100 vocab drops is the one drifting
    away from the training distribution): ONE corpus explode produces
    the (source, term) count frame, the global vocab derives from it
    (no second scan — same collapse-to-vocab trick as
    bpe_pair_counts), top-100 cut is sort-limit, and coverage is a
    conditional sum over the vocab-sized join."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("source", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("source", "term")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    vocab = (
        tf.groupBy("term")
        .agg(F.sum("c").cast("long").alias("g"))
        .orderBy(F.col("g").desc(), "term")
        .limit(100)
        .select("term", F.lit(True).alias("_v"))
    )
    return (
        tf.join(F.broadcast(vocab), "term", "left")
        .groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("_v"), F.col("c")).otherwise(0)).cast("long").alias("n_covered"),
            F.round(
                F.sum(F.when(F.col("_v"), F.col("c")).otherwise(0)) / F.sum("c"), 6
            ).alias("coverage"),
        )
    )


def _knn_graph_2hop_oracle(sf_dir: str) -> str:
    from .part02_index_build_diag_curation import _graph_planes

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
    ), e AS (
        SELECT src, dst FROM (
            SELECT src, dst,
                   row_number() OVER (PARTITION BY src ORDER BY score DESC, dst) AS rank
            FROM scored
        ) WHERE rank <= 3
    ), twohop AS (
        SELECT DISTINCT a.src, b.dst AS dst2
        FROM e a JOIN e b ON a.dst = b.src
        WHERE b.dst <> a.src
    ), fresh AS (
        SELECT t.src, t.dst2 FROM twohop t
        LEFT JOIN e d ON d.src = t.src AND d.dst = t.dst2
        WHERE d.src IS NULL
    ), agg2 AS (
        SELECT src, CAST(count(*) AS BIGINT) AS n_new FROM fresh GROUP BY src
    ), agg1 AS (
        SELECT src, CAST(count(*) AS BIGINT) AS n_direct FROM e GROUP BY src
    )
    SELECT a1.src, a1.n_direct,
           CAST(coalesce(a2.n_new, 0) AS BIGINT) AS n_two_hop_new,
           round(coalesce(a2.n_new, 0) / CAST(a1.n_direct AS DOUBLE), 6) AS expansion_ratio
    FROM agg1 a1 LEFT JOIN agg2 a2 USING (src)
    """


@query("knn_graph_2hop")  # oracle: ORACLES set below (plane literals)
def knn_graph_2hop_q(spark, sf_dir):
    """NN-descent's neighborhood expansion step (Dong WWW'11: a
    node's next candidates are its neighbors' neighbors): from the
    shared kNN-graph edges, the 2-hop frontier per node — distinct
    neighbors-of-neighbors that are NOT already direct neighbors nor
    the node itself — plus the expansion ratio that predicts how fast
    graph refinement converges. Edge self-join volume is bounded by
    Σ deg² (degrees capped at 3 by the build), the anti-membership
    check is a LEFT join on bare (src, dst) longs — never any
    vector data past the edge build."""
    edges = (
        _knn_graph_edges(spark, sf_dir)
        .select("src", "dst")
        .localCheckpoint(eager=False)
    )
    a, b = edges.alias("a"), edges.alias("b")
    twohop = (
        a.join(b, F.col("a.dst") == F.col("b.src"))
        .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst2"))
        .filter(F.col("dst2") != F.col("src"))
        .distinct()
    )
    direct = edges.select("src", F.col("dst").alias("dst2"))
    fresh = twohop.join(direct, ["src", "dst2"], "left_anti")
    agg2 = fresh.groupBy("src").agg(F.count("*").cast("long").alias("n_new"))
    agg1 = edges.groupBy("src").agg(F.count("*").cast("long").alias("n_direct"))
    return (
        agg1.join(agg2, "src", "left")
        .select(
            "src",
            "n_direct",
            F.coalesce("n_new", F.lit(0)).cast("long").alias("n_two_hop_new"),
            F.round(F.coalesce("n_new", F.lit(0)) / F.col("n_direct"), 6).alias(
                "expansion_ratio"
            ),
        )
    )


LAZY_ORACLES["knn_graph_2hop"] = _knn_graph_2hop_oracle


@query(
    "multimodal_shard_plan",
    oracle="""
    WITH media AS (
        SELECT doc_id AS media_id,
               CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
               CAST(length(text) AS BIGINT) AS nbytes
        FROM documents
    ), placed AS (
        SELECT kind, media_id, nbytes,
               CAST((sum(nbytes) OVER (PARTITION BY kind ORDER BY media_id
                     ROWS UNBOUNDED PRECEDING) - nbytes) // 4096 AS BIGINT) AS shard
        FROM media
    )
    SELECT kind, shard,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(nbytes) AS BIGINT) AS shard_bytes,
           CAST(min(media_id) AS BIGINT) AS first_id,
           CAST(max(media_id) AS BIGINT) AS last_id
    FROM placed GROUP BY kind, shard
    """,
)
def multimodal_shard_plan_q(spark, sf_dir):
    """WebDataset-style shard manifest for the media corpus (the
    tar-shard layout multimodal training loaders stream): per kind,
    media pack greedily in id order into ~4 KB shards via the
    bytes-before div target rule (compaction_plan's assignment applied
    to payload bytes); output is the per-shard manifest (items, bytes,
    id range) the loader's shuffle-by-shard consumes. Window runs per
    kind; the two-phase shard prefix sum (sequence_packing) is the
    stated swap-in when one kind outgrows a partition. Payload bytes
    reduce to lengths BEFORE the window — media content never enters
    a shuffle."""
    from ..operators import multimodal

    media = multimodal.synthesize_media(load_table(spark, sf_dir, "documents"))
    sized = media.select(
        "kind", "media_id", F.length("content").cast("long").alias("nbytes")
    )
    w = Window.partitionBy("kind").orderBy("media_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    placed = sized.select(
        "kind",
        "media_id",
        "nbytes",
        F.expr("(sum(nbytes) over (partition by kind order by media_id rows between unbounded preceding and current row) - nbytes) div 4096").alias("shard"),
    )
    return placed.groupBy("kind", "shard").agg(
        F.count("*").cast("long").alias("n_items"),
        F.sum("nbytes").cast("long").alias("shard_bytes"),
        F.min("media_id").cast("long").alias("first_id"),
        F.max("media_id").cast("long").alias("last_id"),
    )


@query(
    "pre_post_analysis",
    oracle=f"""
    WITH b AS (
        SELECT (min(epoch_ns(ts)) + max(epoch_ns(ts))) // 2 AS cut FROM events
    ), s AS (
        SELECT event_type,
               epoch_ns(ts) <= b.cut AS pre,
               {to_micro('value')} AS v_u
        FROM events, b
    )
    SELECT event_type,
           CAST(sum(CASE WHEN pre THEN 1 ELSE 0 END) AS BIGINT) AS n_pre,
           CAST(sum(CASE WHEN pre THEN 0 ELSE 1 END) AS BIGINT) AS n_post,
           {emit_micro('''sum(CASE WHEN pre THEN v_u ELSE 0 END)
                 / CAST(sum(CASE WHEN pre THEN 1 ELSE 0 END) AS DOUBLE)''')} AS mean_pre,
           {emit_micro('''sum(CASE WHEN pre THEN 0 ELSE v_u END)
                 / CAST(sum(CASE WHEN pre THEN 0 ELSE 1 END) AS DOUBLE)''')} AS mean_post,
           {emit_micro('''sum(CASE WHEN pre THEN 0 ELSE v_u END)
                  / CAST(sum(CASE WHEN pre THEN 0 ELSE 1 END) AS DOUBLE)
                  - sum(CASE WHEN pre THEN v_u ELSE 0 END)
                    / CAST(sum(CASE WHEN pre THEN 1 ELSE 0 END) AS DOUBLE)''')} AS mean_diff
    FROM s GROUP BY event_type
    """,
)
def pre_post_analysis_q(spark, sf_dir):
    """Pre/post intervention comparison per event type (the
    before-after readout of a deploy/experiment cutover — the simplest
    causal panel a metrics stack serves): the cut point is the exact
    midpoint of the time range (broadcast scalar), and BOTH windows'
    counts and micro-unit sums come from ONE conditional aggregate —
    one fact shuffle, no second pass, the same single-agg trick as
    promo_revenue's numerator/denominator. Means and the difference
    derive from exact integer sums at emit time."""
    ev = load_table(spark, sf_dir, "events")
    # exact integer midpoint: (min+max) exceeds 2^53, so a double
    # division here would round the cut differently than the oracle's
    # integer `//` and could flip boundary events between windows
    cut = ev.agg(F.expr("(min(ts_ns) + max(ts_ns)) div 2").alias("_cut"))
    s = ev.crossJoin(F.broadcast(cut)).select(
        "event_type",
        (F.col("ts_ns") <= F.col("_cut")).alias("pre"),
        F.expr(to_micro("value")).alias("v_u"),
    )
    n_pre = "sum(CASE WHEN pre THEN 1 ELSE 0 END)"
    n_post = "sum(CASE WHEN pre THEN 0 ELSE 1 END)"
    s_pre = "sum(CASE WHEN pre THEN v_u ELSE 0 END)"
    s_post = "sum(CASE WHEN pre THEN 0 ELSE v_u END)"
    return s.groupBy("event_type").agg(
        F.expr(f"CAST({n_pre} AS BIGINT)").alias("n_pre"),
        F.expr(f"CAST({n_post} AS BIGINT)").alias("n_post"),
        F.expr(emit_micro(f"{s_pre} / {n_pre}")).alias("mean_pre"),
        F.expr(emit_micro(f"{s_post} / {n_post}")).alias("mean_post"),
        F.expr(emit_micro(f"{s_post} / {n_post} - {s_pre} / {n_pre}")).alias("mean_diff"),
    )


@query(
    "hybrid_combsum",
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
        SELECT doc_id, round(bm25, 6) AS s
        FROM bm25 ORDER BY bm25 DESC, doc_id LIMIT 20
    ), kn AS (
        SELECT doc_id,
               CASE WHEN max(s) OVER () = min(s) OVER () THEN 1.0
                    ELSE (s - min(s) OVER ()) / (max(s) OVER () - min(s) OVER ())
               END AS kn
        FROM kw_top
    ), vecs AS (
        SELECT e.vec_id AS doc_id, {V.dd_cosine('e.embedding', 'q.qv')} AS raw
        FROM embeddings e, q
    ), vec_top AS (
        SELECT doc_id, round(raw, 6) AS s
        FROM vecs ORDER BY raw DESC, doc_id LIMIT 20
    ), vn AS (
        SELECT doc_id,
               CASE WHEN max(s) OVER () = min(s) OVER () THEN 1.0
                    ELSE (s - min(s) OVER ()) / (max(s) OVER () - min(s) OVER ())
               END AS vn
        FROM vec_top
    ), fused AS (
        SELECT coalesce(k.doc_id, v.doc_id) AS doc_id,
               coalesce(k.kn, 0.0) + coalesce(v.vn, 0.0) AS csum,
               CAST((CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                    + (CASE WHEN v.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_towers
        FROM kn k FULL OUTER JOIN vn v ON k.doc_id = v.doc_id
    )
    SELECT CAST(row_number() OVER (ORDER BY csum * n_towers DESC, doc_id) AS BIGINT) AS rank,
           doc_id, round(csum, 6) AS combsum,
           round(csum * n_towers, 6) AS combmnz, n_towers
    FROM fused ORDER BY csum * n_towers DESC, doc_id LIMIT 10
    """,
)
def hybrid_combsum_q(spark, sf_dir):
    """CombSUM/CombMNZ score fusion from the materialized index —
    the score-based fusion family beside RRF; per-tower min-max
    normalization over depth-row frames, multi-tower agreement
    rewarded by the MNZ multiplier."""
    from ..operators import text_index

    index_dir = _kw_index_dir(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 7).select(F.col("embedding").alias("qv"))
    return text_index.hybrid_combsum(
        spark, index_dir, emb, ["spark", "join", "fast"], q, k=10, depth=20
    )


@query(
    "chunk_overlap",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), n AS (
        SELECT doc_id, toks,
               CAST(1 + ceil(greatest(len(toks) - 40, 0) / 30.0) AS INTEGER) AS n_starts
        FROM t
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_number,
           CAST(i * 30 AS BIGINT) AS start_token,
           array_to_string(toks[i * 30 + 1 : i * 30 + 40], ' ') AS chunk_text,
           CAST(len(toks[i * 30 + 1 : i * 30 + 40]) AS BIGINT) AS word_count
    FROM n, unnest(range(n_starts)) u(i)
    """,
)
def chunk_overlap_q(spark, sf_dir):
    """Overlapping 40-token chunks at stride 30 (10-token overlap —
    the RAG chunk_overlap parameter): boundary sentences always have
    a chunk containing them whole; map-only codegen like
    chunk_documents."""
    from ..operators import chunking

    return chunking.chunk_overlapping(
        load_table(spark, sf_dir, "documents"), window=40, stride=30
    )


@query(
    "dedup_containment",
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
    )
    SELECT p.doc_a, p.doc_b,
           round(coalesce(i.n_int, 0) / (na.n_sh + nb.n_sh - coalesce(i.n_int, 0)), 6) AS jaccard,
           round(coalesce(i.n_int, 0) / na.n_sh, 6) AS cont_a_in_b,
           round(coalesce(i.n_int, 0) / nb.n_sh, 6) AS cont_b_in_a,
           (greatest(coalesce(i.n_int, 0) / na.n_sh, coalesce(i.n_int, 0) / nb.n_sh) >= 0.8
            AND coalesce(i.n_int, 0) / (na.n_sh + nb.n_sh - coalesce(i.n_int, 0)) < 0.5) AS is_excerpt
    FROM pairs p
    LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
    JOIN sizes na ON na.doc_id = p.doc_a
    JOIN sizes nb ON nb.doc_id = p.doc_b
    """,
)
def dedup_containment_q(spark, sf_dir):
    """Broder containment on LSH candidates — catches the
    excerpt/quote inclusion shape symmetric Jaccard misses; exact set
    ops on band-bounded candidates only."""
    from ..operators import dedup

    return dedup.dedup_containment(load_table(spark, sf_dir, "documents"))


_PERCOLATE_QUERIES = [
    (0, ["spark", "join"]),
    (1, ["vector", "data"]),
    (2, ["window", "stream", "fast"]),
    (3, ["zzzghostterm"]),
]


@query(
    "percolate_queries",
    oracle=f"""
    WITH q(query_id, terms) AS (VALUES
        {", ".join(f"({qid}, {terms!r}::VARCHAR[])".replace("'", "'") for qid, terms in _PERCOLATE_QUERIES)}
    ), d AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks,
               (SELECT count(*) FROM documents) AS n_docs
        FROM documents
    ), m AS (
        SELECT q.query_id, d.doc_id, d.n_docs
        FROM q, d
        WHERE len(list_intersect(d.toks, q.terms)) = len(q.terms)
    ), agg AS (
        SELECT query_id, CAST(count(*) AS BIGINT) AS n_matched,
               CAST(min(doc_id) AS BIGINT) AS first_doc,
               round(count(*) / CAST(min(n_docs) AS DOUBLE), 6) AS match_share
        FROM m GROUP BY query_id
    )
    SELECT CAST(q.query_id AS BIGINT) AS query_id,
           CAST(coalesce(a.n_matched, 0) AS BIGINT) AS n_matched,
           a.first_doc,
           round(coalesce(a.match_share, 0.0), 6) AS match_share
    FROM q LEFT JOIN agg a USING (query_id)
    """,
)
def percolate_queries_q(spark, sf_dir):
    """Percolation / reverse search (Elasticsearch's percolator — the
    alerting direction: STORED queries run against each incoming doc):
    a literal frame of conjunctive term queries broadcasts onto the
    corpus, the ALL-terms match is one map-side array_intersect per
    (doc, query) — no explode, no per-term shuffle — and per-query
    match counts + first-match + corpus share come from one tiny agg.
    Zero-match queries keep their row (the alert that should NOT fire
    is half the test). At 100 TB this is the saved-search/alerting
    scan: queries are the small side by definition, and the match
    predicate runs where the docs already are."""
    docs = load_table(spark, sf_dir, "documents")
    q = spark.createDataFrame(
        [(qid, terms) for qid, terms in _PERCOLATE_QUERIES],
        "query_id long, terms array<string>",
    )
    n_docs = docs.agg(F.count("*").alias("_n"))
    toks = F.array_distinct(F.split("text", " "))
    m = (
        docs.select("doc_id", toks.alias("_toks"))
        .crossJoin(F.broadcast(q))
        .filter(F.size(F.array_intersect("_toks", "terms")) == F.size("terms"))
    )
    agg = (
        m.groupBy("query_id")
        .agg(
            F.count("*").cast("long").alias("n_matched"),
            F.min("doc_id").cast("long").alias("first_doc"),
        )
        .crossJoin(F.broadcast(n_docs))
        .select(
            "query_id",
            "n_matched",
            "first_doc",
            F.round(F.col("n_matched") / F.col("_n"), 6).alias("match_share"),
        )
    )
    return (
        q.select("query_id")
        .join(agg, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_matched", F.lit(0)).cast("long").alias("n_matched"),
            "first_doc",
            F.round(F.coalesce("match_share", F.lit(0.0)), 6).alias("match_share"),
        )
    )


@query(
    "snapshot_diff",
    oracle="""
    WITH v1 AS (
        SELECT doc_id, md5(text) AS h FROM documents
    ), v2 AS (
        -- deterministic simulated next snapshot: every 23rd doc
        -- deleted, every 17th edited (content suffix), plus 10 new ids
        SELECT doc_id, md5(CASE WHEN doc_id % 17 = 0 THEN text || ' v2' ELSE text END) AS h
        FROM documents WHERE doc_id % 23 <> 0
        UNION ALL
        SELECT (SELECT max(doc_id) FROM documents) + 1 + i AS doc_id,
               md5('new doc ' || CAST(i AS VARCHAR)) AS h
        FROM range(10) t(i)
    ), d AS (
        SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
               CASE WHEN v1.doc_id IS NULL THEN 'added'
                    WHEN v2.doc_id IS NULL THEN 'removed'
                    WHEN v1.h <> v2.h THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
    )
    SELECT status, CAST(count(*) AS BIGINT) AS n,
           CAST(min(doc_id) AS BIGINT) AS first_id,
           CAST(max(doc_id) AS BIGINT) AS last_id
    FROM d GROUP BY status
    """,
)
def snapshot_diff_q(spark, sf_dir):
    """Dataset snapshot reconciliation (the data-diff every lakehouse
    version upgrade runs before swapping a table pointer: what
    changed between v1 and v2, by primary key): FULL OUTER join on
    the key with md5 content hashes — raw text never crosses the
    shuffle, only 16-byte digests — classifying every key as
    added/removed/changed/unchanged, rolled up per status. The v2
    snapshot is deterministically simulated (every 23rd doc deleted,
    every 17th edited, 10 appended) so the oracle replays the exact
    diff; in production v2 is just the other table. One shuffle per
    side on the key."""
    docs = load_table(spark, sf_dir, "documents")
    v1 = docs.select("doc_id", F.md5("text").alias("h"))
    maxid = docs.agg(F.max("doc_id").alias("_m"))
    edited = docs.filter(F.col("doc_id") % 23 != 0).select(
        "doc_id",
        F.md5(
            F.when(F.col("doc_id") % 17 == 0, F.concat("text", F.lit(" v2"))).otherwise(
                F.col("text")
            )
        ).alias("h"),
    )
    added = (
        spark.range(10)
        .crossJoin(F.broadcast(maxid))
        .select(
            (F.col("_m") + 1 + F.col("id")).alias("doc_id"),
            F.md5(F.concat(F.lit("new doc "), F.col("id").cast("string"))).alias("h"),
        )
    )
    v2 = edited.unionAll(added)
    a, b = v1.alias("a"), v2.alias("b")
    d = a.join(b, F.col("a.doc_id") == F.col("b.doc_id"), "full_outer").select(
        F.coalesce(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_id"),
        F.when(F.col("a.doc_id").isNull(), "added")
        .when(F.col("b.doc_id").isNull(), "removed")
        .when(F.col("a.h") != F.col("b.h"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )
    return d.groupBy("status").agg(
        F.count("*").cast("long").alias("n"),
        F.min("doc_id").cast("long").alias("first_id"),
        F.max("doc_id").cast("long").alias("last_id"),
    )


@query(
    "events_twa",
    oracle=f"""
    WITH e AS (
        SELECT event_type, epoch_ns(ts) AS ts_ns, event_id,
               {to_micro('value')} AS v_u
        FROM events
    ), seg AS (
        SELECT event_type, v_u,
               lead(ts_ns) OVER (PARTITION BY event_type ORDER BY ts_ns, event_id)
                 - ts_ns AS dt
        FROM e
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(sum(dt) AS BIGINT) AS span_ns,
           {emit_micro('sum(v_u * (dt // 1000000)) / CAST(sum(dt // 1000000) AS DOUBLE)')} AS twa
    FROM seg WHERE dt IS NOT NULL
    GROUP BY event_type
    """,
)
def events_twa_q(spark, sf_dir):
    """Time-weighted average per event type (the irregular-sampling
    mean: each observation holds until the next one, so sparse quiet
    periods aren't drowned out by bursts — the metric plain avg gets
    WRONG on event data, and the standard gauge rollup in tsdb-land):
    Δt to the next observation via ONE (event_type, time) window,
    weights and weighted sums in exact integers (Δt scaled to micros
    so v_u·Δt stays within long range), final ratio at emit. The last
    observation per series has no successor and drops out (standard
    left-closed convention)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts_ns", "event_id")
    seg = ev.select(
        "event_type",
        F.expr(to_micro("value")).alias("v_u"),
        (F.lead("ts_ns").over(w) - F.col("ts_ns")).alias("dt"),
    ).filter(F.col("dt").isNotNull())
    return seg.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_segments"),
        F.sum("dt").cast("long").alias("span_ns"),
        F.expr(emit_micro("sum(v_u * (dt div 1000000)) / sum(dt div 1000000)")).alias("twa"),
    )


@query(
    "kmv_distinct_by_group",
    oracle=f"""
    WITH h AS (
        SELECT DISTINCT event_type, {H.dd_md5_long('user_id::VARCHAR')} AS h FROM events
    ), ranked AS (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM h
    ), kth AS (
        SELECT event_type, max(h) AS h_k, CAST(count(*) AS BIGINT) AS n_kept
        FROM ranked WHERE rn <= 32 GROUP BY event_type
    ), exact AS (
        SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS ndv_exact
        FROM events GROUP BY event_type
    )
    SELECT k.event_type, e.ndv_exact,
           round(CASE WHEN k.n_kept < 32 THEN CAST(k.n_kept AS DOUBLE)
                      ELSE 31 / (k.h_k / 1152921504606846976.0) END, 6) AS ndv_est,
           round(abs(CASE WHEN k.n_kept < 32 THEN CAST(k.n_kept AS DOUBLE)
                          ELSE 31 / (k.h_k / 1152921504606846976.0) END - e.ndv_exact)
                 / e.ndv_exact, 6) AS rel_err
    FROM kth k JOIN exact e USING (event_type)
    """,
)
def kmv_distinct_by_group_q(spark, sf_dir):
    """Per-group KMV distinct sketch (the GROUP BY form of
    kmv_distinct — per-event-type distinct users with BOUNDED state:
    k hashes per group, not NDV): a per-(partition, group) k-min pass,
    then the merge keeps the k smallest of ≤ n_partitions·k candidates
    per group. The first pass does NOT bound its shuffle: the
    collect_set partial ships every distinct hash of each partition
    across the exchange, and slice cuts to k only after it. Exact
    counts ride along for the harness only."""
    ev = load_table(spark, sf_dir, "events")
    k = 32
    hashes = ev.select(
        "event_type", F.expr(H.md5_long("CAST(user_id AS STRING)")).alias("h")
    )
    partial = (
        hashes.withColumn("_pid", F.spark_partition_id())
        .groupBy("event_type", "_pid")
        .agg(F.slice(F.array_sort(F.collect_set("h")), 1, k).alias("hs"))
        .select("event_type", F.explode("hs").alias("h"))
        .distinct()
    )
    merged = partial.groupBy("event_type").agg(
        F.slice(F.array_sort(F.collect_set("h")), 1, k).alias("top")
    )
    kth = merged.select(
        "event_type",
        F.element_at("top", -1).alias("h_k"),
        F.size("top").cast("long").alias("n_kept"),
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("ndv_exact")
    )
    est = F.when(F.col("n_kept") < k, F.col("n_kept").cast("double")).otherwise(
        (k - 1) / (F.col("h_k") / F.lit(1152921504606846976.0))
    )
    return kth.join(exact, "event_type").select(
        "event_type",
        "ndv_exact",
        F.round(est, 6).alias("ndv_est"),
        F.round(F.abs(est - F.col("ndv_exact")) / F.col("ndv_exact"), 6).alias(
            "rel_err"
        ),
    )


@query(
    "events_anomaly_mad",
    oracle=f"""
    WITH hourly AS (
        SELECT epoch_ns(ts) // 3600000000000 AS hour_id,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1
    ), st AS (
        SELECT list_sort(list(cnt)) AS vs, CAST(count(*) AS BIGINT) AS n FROM hourly
    ), med AS (
        SELECT vs[CAST(n // 2 AS INTEGER) + 1] AS med FROM st
    ), dev AS (
        SELECT list_sort(list(abs(h.cnt - m.med))) AS ds, CAST(count(*) AS BIGINT) AS n
        FROM hourly h, med m
    ), mad AS (
        SELECT ds[CAST(n // 2 AS INTEGER) + 1] AS mad FROM dev
    )
    SELECT h.hour_id, h.cnt,
           CAST(m.med AS BIGINT) AS med,
           CAST(d.mad AS BIGINT) AS mad,
           {from_micro(f"CAST({dd_round_div('674500 * (h.cnt - m.med)', 'd.mad')} AS DOUBLE)")}
               AS modified_z,
           abs({dd_round_div('674500 * (h.cnt - m.med)', 'd.mad')}) > 3500000 AS is_anomaly
    FROM hourly h, med m, mad d
    """,
)
def events_anomaly_mad_q(spark, sf_dir):
    """Robust (median/MAD) anomaly detection on hourly event counts —
    the Iglewicz-Hoaglin modified z-score, the robust twin of
    events_anomaly's trailing mean/stddev: a single 10× traffic spike
    inflates a stddev enough to hide a second one, but cannot move the
    median. Median and MAD use the exact sorted-selection rule
    (upper median, sorted[n div 2] 0-based — engine-identical
    integers); both are 1-row broadcasts over the tiny hourly frame,
    and the only fact-sized operation is the hourly count shuffle."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select(F.expr("ts_ns div 3600000000000").alias("hour_id"))
        .groupBy("hour_id")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    st = hourly.agg(
        F.sort_array(F.collect_list("cnt")).alias("_vs"),
        F.count("*").cast("long").alias("_n"),
    )
    med = st.select(
        F.get("_vs", F.expr("CAST(_n div 2 AS INT)")).cast("long").alias("med")
    )
    dev = hourly.crossJoin(F.broadcast(med)).agg(
        F.sort_array(F.collect_list(F.abs(F.col("cnt") - F.col("med")))).alias("_ds"),
        F.count("*").cast("long").alias("_n"),
    )
    mad = dev.select(
        F.get("_ds", F.expr("CAST(_n div 2 AS INT)")).cast("long").alias("mad")
    )
    # Exact micro-unit z (r8: round(0.6745·Δ/mad, 6) can land on a
    # decimal boundary where the engines' round() primitives disagree;
    # 0.6745 = 674500 micro exactly, so z_u is an exact round-div
    # integer and the displayed double is ONE exact-integer division)
    z_u = round_div("674500 * (cnt - med)", "mad")
    return (
        hourly.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(mad))
        .select(
            "hour_id",
            "cnt",
            "med",
            "mad",
            F.expr(from_micro(f"CAST({z_u} AS DOUBLE)")).alias("modified_z"),
            F.expr(f"abs({z_u}) > 3500000").alias("is_anomaly"),
        )
    )


@query(
    "vocab_drift",
    oracle="""
    WITH s AS (SELECT max(doc_id) AS m FROM documents),
    t AS (
        SELECT CASE WHEN d.doc_id * 2 <= s.m THEN 'a' ELSE 'b' END AS half,
               unnest(string_split(d.text, ' ')) AS term
        FROM documents d, s
    ), tf AS (
        SELECT half, term, CAST(count(*) AS BIGINT) AS c
        FROM t WHERE term <> '' GROUP BY half, term
    ), piv AS (
        SELECT term,
               max(CASE WHEN half = 'a' THEN c END) AS ca,
               max(CASE WHEN half = 'b' THEN c END) AS cb
        FROM tf GROUP BY term
    )
    SELECT CAST(sum(CASE WHEN ca IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS vocab_a,
           CAST(sum(CASE WHEN cb IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS vocab_b,
           CAST(sum(CASE WHEN ca IS NOT NULL AND cb IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS vocab_shared,
           round(sum(CASE WHEN ca IS NOT NULL AND cb IS NOT NULL THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS jaccard,
           round(sum(CASE WHEN ca IS NULL AND cb IS NOT NULL THEN 1 ELSE 0 END)
                 / CAST(sum(CASE WHEN cb IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE), 6) AS new_term_rate
    FROM piv
    """,
)
def vocab_drift_q(spark, sf_dir):
    """Vocabulary drift between two corpus halves (the text twin of
    embedding_drift — a new crawl slice whose vocabulary Jaccard
    drops or whose new-term rate spikes is drifting away from what
    the tokenizer/filters were tuned on): one corpus explode to the
    (half, term) count frame, then a vocab-sized pivot and ONE
    conditional aggregate for all five audit numbers."""
    docs = load_table(spark, sf_dir, "documents")
    split = docs.agg(F.max("doc_id").alias("_m"))
    t = (
        docs.crossJoin(F.broadcast(split))
        .select(
            F.when(F.col("doc_id") * 2 <= F.col("_m"), "a").otherwise("b").alias("half"),
            F.explode(F.split("text", " ")).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    piv = (
        t.groupBy("half", "term")
        .agg(F.count("*").alias("c"))
        .groupBy("term")
        .agg(
            F.max(F.when(F.col("half") == "a", F.col("c"))).alias("ca"),
            F.max(F.when(F.col("half") == "b", F.col("c"))).alias("cb"),
        )
    )
    in_a = F.col("ca").isNotNull()
    in_b = F.col("cb").isNotNull()
    return piv.agg(
        F.sum(F.when(in_a, 1).otherwise(0)).cast("long").alias("vocab_a"),
        F.sum(F.when(in_b, 1).otherwise(0)).cast("long").alias("vocab_b"),
        F.sum(F.when(in_a & in_b, 1).otherwise(0)).cast("long").alias("vocab_shared"),
        F.round(F.sum(F.when(in_a & in_b, 1).otherwise(0)) / F.count("*"), 6).alias("jaccard"),
        F.round(
            F.sum(F.when(~in_a & in_b, 1).otherwise(0))
            / F.sum(F.when(in_b, 1).otherwise(0)),
            6,
        ).alias("new_term_rate"),
    )


@query(
    "split_ngram_leakage",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, text,
               CASE WHEN {H.dd_md5_long("doc_id::VARCHAR", seed="split")} % 100 < 90
                    THEN 'train' ELSE 'test' END AS split
        FROM documents
    ), w AS (
        SELECT split, unnest(
            CASE WHEN len(t) < 8 THEN []::VARCHAR[]
                 ELSE [md5(array_to_string(t[i + 1 : i + 8], ' ')) FOR i IN range(len(t) - 7)]
            END) AS wh
        FROM (SELECT split, string_split(text, ' ') AS t FROM s)
    ), train_w AS (
        SELECT DISTINCT wh FROM w WHERE split = 'train'
    ), test_w AS (
        SELECT wh, CAST(count(*) AS BIGINT) AS n FROM w WHERE split = 'test' GROUP BY wh
    )
    SELECT CAST(sum(t.n) AS BIGINT) AS test_windows,
           CAST(sum(CASE WHEN tr.wh IS NOT NULL THEN t.n ELSE 0 END) AS BIGINT) AS leaked_windows,
           round(sum(CASE WHEN tr.wh IS NOT NULL THEN t.n ELSE 0 END)
                 / CAST(sum(t.n) AS DOUBLE), 6) AS leakage_rate
    FROM test_w t LEFT JOIN train_w tr USING (wh)
    """,
)
def split_ngram_leakage_q(spark, sf_dir):
    """Train→test n-gram leakage audit (the memorization-risk /
    contamination check run BEFORE trusting held-out perplexity: what
    fraction of the test split's 8-token windows literally appear in
    the train split): the same seeded-md5 90/5/5 split as
    train_test_split (valid counts as test here — 10% holdout), docs
    reduce to window HASHES map-side (raw text never shuffles —
    substring_dedup's posture), one distinct on the train side, one
    hash-partitioned LEFT join. High leakage means the held-out loss
    is measuring memory, not generalization."""
    docs = load_table(spark, sf_dir, "documents", split=True)
    split = F.when(
        F.expr(H.md5_long("CAST(doc_id AS STRING)", seed="split")) % 100 < 90, "train"
    ).otherwise("test")
    from ..functions import text as X

    w = docs.select(
        split.alias("split"),
        F.explode(F.expr(f"transform({X.word_shingles('text', 8)}, s -> md5(s))")).alias("wh"),
    )
    train_w = w.filter(F.col("split") == "train").select("wh").distinct()
    test_w = (
        w.filter(F.col("split") == "test")
        .groupBy("wh")
        .agg(F.count("*").cast("long").alias("n"))
    )
    j = test_w.join(train_w.withColumn("_hit", F.lit(True)), "wh", "left")
    return j.agg(
        F.sum("n").cast("long").alias("test_windows"),
        F.sum(F.when(F.col("_hit"), F.col("n")).otherwise(0)).cast("long").alias("leaked_windows"),
        F.round(
            F.sum(F.when(F.col("_hit"), F.col("n")).otherwise(0)) / F.sum("n"), 6
        ).alias("leakage_rate"),
    )


@query(
    "discount_elasticity",
    oracle="""
    WITH d AS (
        SELECT CAST(round(l_discount * 100) AS BIGINT) AS x_pct,
               CAST(round(l_quantity) AS BIGINT) AS y_q
        FROM lineitem
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x_pct) AS BIGINT) AS sx,
               CAST(sum(y_q) AS BIGINT) AS sy,
               CAST(sum(x_pct * x_pct) AS BIGINT) AS sxx,
               CAST(sum(y_q * y_q) AS BIGINT) AS syy,
               CAST(sum(x_pct * y_q) AS BIGINT) AS sxy
        FROM d
    )
    SELECT n,
           round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6) AS slope,
           round((CAST(sy AS DOUBLE) - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                  / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * sx) / n, 6) AS intercept,
           round(pow(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy, 2)
                 / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6) AS r2
    FROM s
    """,
)
def discount_elasticity_q(spark, sf_dir):
    """Single-pass OLS (quantity on discount%): slope, intercept and
    R² from the five sufficient statistics in ONE map-side-combinable
    aggregate — the closed-form regression every metrics stack
    computes without a solver. Inputs quantize to exact integer units
    (discount → %, quantity integral by construction), so all five
    sums are order-free longs and both engines derive identical
    coefficients from identical integers."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.expr("cast(round(l_discount * 100) as bigint)").alias("x"),
        F.expr("cast(round(l_quantity) as bigint)").alias("y"),
    )
    s = li.agg(
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
    slope = num / den
    return s.select(
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy").cast("double") - slope * F.col("sx")) / F.col("n"), 6).alias("intercept"),
        F.round(F.pow(num, F.lit(2.0)) / (den * deny), 6).alias("r2"),
    )


@query(
    "trimmed_mean_stats",
    oracle=f"""
    WITH e AS (
        SELECT event_type, {to_micro('value')} AS v_u
        FROM events
    ), s AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               list_sort(list(v_u)) AS vs, CAST(sum(v_u) AS BIGINT) AS su
        FROM e GROUP BY event_type
    ), t AS (
        SELECT event_type, n, su,
               CAST(n // 10 AS INTEGER) AS cut,
               vs[CAST(n // 10 AS INTEGER) + 1 : CAST(n AS INTEGER) - CAST(n // 10 AS INTEGER)] AS core
        FROM s
    )
    SELECT event_type, n,
           {emit_micro('su / CAST(n AS DOUBLE)')} AS mean,
           {emit_micro('CAST(list_sum(core) AS BIGINT) / CAST(len(core) AS DOUBLE)')} AS trimmed_mean,
           CAST(2 * cut AS BIGINT) AS n_trimmed
    FROM t
    """,
)
def trimmed_mean_stats_q(spark, sf_dir, exact_quantiles: bool = True):
    """10% trimmed mean per event type next to the plain mean (the
    robust-location family with events_anomaly_mad: a handful of
    outliers move the mean but not the trimmed mean, and the GAP
    between the two is itself the contamination signal): exact
    sorted-selection trim (drop n div 10 from each tail), core sum in
    exact micro-unit longs, one fact shuffle. The sorted-collect
    buffer is per-group row count.

    ``exact_quantiles=False`` is the 100 TB path: p10/p90 fences from
    percentile_approx (bounded sketch) in pass one, broadcast the tiny
    per-type fence table back, conditional agg of the in-fence core in
    pass two — two scans, no row-count-sized buffer anywhere. Same
    output contract; n_trimmed counts the actually-excluded rows."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.expr(to_micro("value")).alias("v_u")
    )
    if not exact_quantiles:
        fences = ev.groupBy("event_type").agg(
            F.percentile_approx("v_u", V.lit_array([0.1, 0.9]), F.lit(10000)).alias("_f")
        ).select(
            "event_type", F.col("_f")[0].alias("_lo"), F.col("_f")[1].alias("_hi")
        )
        in_core = (F.col("v_u") >= F.col("_lo")) & (F.col("v_u") <= F.col("_hi"))
        return (
            ev.join(F.broadcast(fences), "event_type")
            .groupBy("event_type")
            .agg(
                F.count("*").cast("long").alias("n"),
                F.sum("v_u").cast("long").alias("_su"),
                F.sum(F.when(in_core, F.col("v_u"))).cast("long").alias("_core_su"),
                F.sum(F.when(in_core, 1).otherwise(0)).cast("long").alias("_core_n"),
            )
            .select(
                "event_type",
                "n",
                F.expr(emit_micro("_su / n")).alias("mean"),
                F.expr(emit_micro("_core_su / _core_n")).alias("trimmed_mean"),
                (F.col("n") - F.col("_core_n")).cast("long").alias("n_trimmed"),
            )
        )
    s = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sort_array(F.collect_list("v_u")).alias("_vs"),
        F.sum("v_u").cast("long").alias("_su"),
    )
    cut = "CAST(n div 10 AS INT)"
    core = f"slice(_vs, {cut} + 1, CAST(n AS INT) - {cut} * 2)"
    core_sum = f"aggregate({core}, CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    return s.select(
        "event_type",
        "n",
        F.expr(emit_micro("_su / n")).alias("mean"),
        F.expr(emit_micro(f"{core_sum} / size({core})")).alias("trimmed_mean"),
        (F.lit(2) * F.expr(cut)).cast("long").alias("n_trimmed"),
    )


@query(
    "revenue_concentration",
    oracle="""
    WITH per_cust AS (
        SELECT o_custkey,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS rev_c
        FROM orders GROUP BY o_custkey
    ), ranked AS (
        SELECT rev_c,
               row_number() OVER (ORDER BY rev_c, o_custkey) AS i,
               row_number() OVER (ORDER BY rev_c DESC, o_custkey DESC) AS j
        FROM per_cust
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(rev_c) AS BIGINT) AS s
        FROM ranked
    ), g AS (
        SELECT CAST(sum(i * rev_c) AS BIGINT) AS iws FROM ranked
    ), topq AS (
        SELECT CAST(count(*) AS BIGINT) AS n80 FROM (
            SELECT sum(rev_c) OVER (ORDER BY j ROWS UNBOUNDED PRECEDING) - rev_c AS cum_before
            FROM ranked
        ) c, tot
        WHERE c.cum_before < 0.8 * tot.s
    )
    SELECT t.n AS n_customers,
           round((2.0 * g.iws) / (CAST(t.n AS DOUBLE) * t.s) - (t.n + 1.0) / t.n, 6) AS gini,
           q.n80 AS n_top80,
           round(q.n80 / CAST(t.n AS DOUBLE), 6) AS top80_share
    FROM tot t, g, topq q
    """,
)
def revenue_concentration_q(spark, sf_dir):
    """Customer revenue concentration: exact Gini coefficient (the
    sorted-rank formula G = 2·Σi·xᵢ/(n·Σx) − (n+1)/n on cent-exact
    integers) plus the Pareto cut — how many top customers cover 80%
    of revenue. The whale-dependence audit: a high Gini says revenue
    (and the matching join skew) concentrates in few keys — the
    business-side reading of skew_profile. One fact agg to per-customer
    totals; ranking windows run over the |customers| frame. Ties order
    by (rev, custkey) so both engines rank identically."""
    per = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("rev_c")
        )
    )
    wi = Window.orderBy("rev_c", "o_custkey")
    wj = Window.orderBy(F.col("rev_c").desc(), F.col("o_custkey").desc())
    ranked = per.select(
        "rev_c",
        F.row_number().over(wi).alias("i"),
        F.row_number().over(wj).alias("j"),
    )
    tot = ranked.agg(
        F.count("*").cast("long").alias("n"), F.sum("rev_c").cast("long").alias("s")
    )
    g = ranked.agg(F.sum(F.col("i") * F.col("rev_c")).cast("long").alias("iws"))
    cum = ranked.select(
        "j",
        "rev_c",
        (
            F.sum("rev_c").over(
                Window.orderBy("j").rowsBetween(Window.unboundedPreceding, 0)
            )
            - F.col("rev_c")
        ).alias("cum_before"),
    )
    topq = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("cum_before") < 0.8 * F.col("s"))
        .agg(F.count("*").cast("long").alias("n80"))
    )
    return (
        tot.crossJoin(F.broadcast(g))
        .crossJoin(F.broadcast(topq))
        .select(
            F.col("n").alias("n_customers"),
            F.round(
                F.try_divide(2.0 * F.col("iws"), F.col("n").cast("double") * F.col("s"))
                - F.try_divide(F.col("n") + 1.0, F.col("n")),
                6,
            ).alias("gini"),
            F.col("n80").alias("n_top80"),
            F.round(F.try_divide(F.col("n80"), F.col("n").cast("double")), 6).alias(
                "top80_share"
            ),
        )
    )


@query(
    "seasonality_profile",
    oracle=f"""
    WITH e AS (
        SELECT CAST((epoch_ns(ts) // 3600000000000) % 24 AS BIGINT) AS hour_of_day,
               CAST((epoch_ns(ts) // 86400000000000 + 4) % 7 AS BIGINT) AS day_of_week,
               {to_micro('value')} AS v_u
        FROM events
    )
    SELECT hour_of_day, day_of_week,
           CAST(count(*) AS BIGINT) AS n_events,
           {emit_micro('sum(v_u) / CAST(count(*) AS DOUBLE)')} AS mean_value
    FROM e GROUP BY hour_of_day, day_of_week
    """,
)
def seasonality_profile_q(spark, sf_dir):
    """Hour-of-day × day-of-week seasonal profile (the heatmap behind
    capacity planning and the seasonal baseline the anomaly detectors
    should eventually subtract): both grid keys derive from exact
    integer epoch arithmetic (hour mod 24; day index +4 shifts the
    1970-01-01-was-Thursday origin so 0 = Monday, engine-identical by
    construction rather than by locale-dependent date functions); ONE
    map-side-combinable aggregate to a ≤168-row grid."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.expr("(ts_ns div 3600000000000) % 24").cast("long").alias("hour_of_day"),
            F.expr("(ts_ns div 86400000000000 + 4) % 7").cast("long").alias("day_of_week"),
            F.expr(to_micro("value")).alias("v_u"),
        )
        .groupBy("hour_of_day", "day_of_week")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.expr(emit_micro("sum(v_u) / count(*)")).alias("mean_value"),
        )
    )


@query(
    "conversion_latency",
    oracle="""
    WITH f AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN epoch_ns(ts) END) AS first_view,
               min(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) END) AS first_purchase
        FROM events GROUP BY user_id
    ), conv AS (
        SELECT user_id, (first_purchase - first_view) // 1000000 AS lat_ms
        FROM f
        WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
          AND first_purchase >= first_view
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS n_converted,
               list_sort(list(lat_ms)) AS vs
        FROM conv
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_view_users
        FROM f WHERE first_view IS NOT NULL
    )
    SELECT t.n_view_users, s.n_converted,
           round(s.n_converted / CAST(t.n_view_users AS DOUBLE), 6) AS conversion_rate,
           CAST(s.vs[CAST(s.n_converted // 2 AS INTEGER) + 1] AS BIGINT) AS median_latency_ms,
           CAST(s.vs[CAST(s.n_converted * 90 // 100 AS INTEGER) + 1] AS BIGINT) AS p90_latency_ms
    FROM s, tot t
    """,
)
def conversion_latency_q(spark, sf_dir, exact_quantiles: bool = True):
    """View→purchase conversion funnel with latency percentiles (the
    product metric pair: HOW MANY convert and HOW FAST): per-user
    first-view/first-purchase via ONE conditional min aggregate (no
    window, no self-join — the same one-agg trick as funnel_analysis),
    converters = users whose first purchase follows their first view;
    median/p90 latency via the exact sorted-selection rule over the
    converter frame (|users|-bounded). One fact shuffle total.

    ``exact_quantiles=False`` is the 100 TB path: percentile_approx
    over the converter frame (bounded sketch; at billions of users the
    sorted-collect buffer is the one non-mergeable piece). The exact
    default stays the oracle anchor."""
    ev = load_table(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts_ns"))).alias("fv"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts_ns"))).alias("fp"),
    )
    conv = f.filter(
        F.col("fv").isNotNull() & F.col("fp").isNotNull() & (F.col("fp") >= F.col("fv"))
    ).select(F.expr("(fp - fv) div 1000000").alias("lat_ms"))
    if exact_quantiles:
        s = conv.agg(
            F.count("*").cast("long").alias("n_converted"),
            F.sort_array(F.collect_list("lat_ms")).alias("_vs"),
        )
        med = F.get("_vs", F.expr("CAST(n_converted div 2 AS INT)")).cast("long")
        p90 = F.get("_vs", F.expr("CAST(n_converted * 90 div 100 AS INT)")).cast("long")
    else:
        s = conv.agg(
            F.count("*").cast("long").alias("n_converted"),
            F.percentile_approx("lat_ms", V.lit_array([0.5, 0.9]), F.lit(10000)).alias("_vs"),
        )
        med = F.col("_vs")[0].cast("long")
        p90 = F.col("_vs")[1].cast("long")
    tot = f.filter(F.col("fv").isNotNull()).agg(
        F.count("*").cast("long").alias("n_view_users")
    )
    return (
        s.crossJoin(F.broadcast(tot))
        .select(
            "n_view_users",
            "n_converted",
            F.round(F.try_divide("n_converted", "n_view_users"), 6).alias("conversion_rate"),
            med.alias("median_latency_ms"),
            p90.alias("p90_latency_ms"),
        )
    )


@query(
    "topk_stability",
    oracle="""
    WITH b AS (
        SELECT (min(epoch_ns(ts)) + max(epoch_ns(ts))) // 2 AS cut FROM events
    ), halves AS (
        SELECT CASE WHEN epoch_ns(ts) <= b.cut THEN 'a' ELSE 'b' END AS half, user_id
        FROM events, b
    ), counts AS (
        SELECT half, user_id, CAST(count(*) AS BIGINT) AS n
        FROM halves GROUP BY half, user_id
    ), top_a AS (
        SELECT user_id FROM counts WHERE half = 'a'
        ORDER BY n DESC, user_id LIMIT 20
    ), top_b AS (
        SELECT user_id FROM counts WHERE half = 'b'
        ORDER BY n DESC, user_id LIMIT 20
    ), ovl AS (
        SELECT CAST(count(*) AS BIGINT) AS n_common
        FROM top_a JOIN top_b USING (user_id)
    )
    SELECT CAST(20 AS BIGINT) AS k, n_common,
           round(n_common / CAST(40 - n_common AS DOUBLE), 6) AS jaccard,
           round(n_common / 20.0, 6) AS overlap_at_k
    FROM ovl
    """,
)
def topk_stability_q(spark, sf_dir):
    """Top-k set stability between consecutive periods (the
    leaderboard-churn metric: overlap@k and Jaccard of the two top-20
    most-active-user sets — low stability means ranking dashboards
    and per-key caches churn): exact midpoint time split (broadcast
    scalar, integer nanos), per-half counts from one fact shuffle,
    both top-20 cuts via sort-limit with deterministic (n, user_id)
    ties, the overlap a 20-row join."""
    ev = load_table(spark, sf_dir, "events")
    cut = ev.agg(F.expr("(min(ts_ns) + max(ts_ns)) div 2").alias("_cut"))
    halves = ev.crossJoin(F.broadcast(cut)).select(
        F.when(F.col("ts_ns") <= F.col("_cut"), "a").otherwise("b").alias("half"),
        "user_id",
    )
    counts = halves.groupBy("half", "user_id").agg(F.count("*").cast("long").alias("n"))

    def top(h):
        return (
            counts.filter(F.col("half") == h)
            .orderBy(F.col("n").desc(), "user_id")
            .limit(20)
            .select("user_id")
        )

    ovl = top("a").join(top("b"), "user_id").agg(
        F.count("*").cast("long").alias("n_common")
    )
    return ovl.select(
        F.lit(20).cast("long").alias("k"),
        "n_common",
        F.round(F.col("n_common") / (F.lit(40) - F.col("n_common")).cast("double"), 6).alias("jaccard"),
        F.round(F.col("n_common") / 20.0, 6).alias("overlap_at_k"),
    )


_CMS_ROWS, _CMS_W = 4, 256
_DD_CMS_HASH = lambda r: f"('0x' || substr(md5('cms{r}:' || term), 1, 15))::BIGINT % {_CMS_W}"  # noqa: E731


@query(
    "cms_heavy_hitters",
    oracle=f"""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
        SELECT term, CAST(count(*) AS BIGINT) AS exact FROM toks
        WHERE term <> '' GROUP BY term
    ), top AS (
        SELECT term, exact FROM tf ORDER BY exact DESC, term LIMIT 10
    ), cells AS (
        {" UNION ALL ".join(
            f"SELECT {r} AS r, {_DD_CMS_HASH(r)} AS bucket, CAST(sum(exact) AS BIGINT) AS cell FROM tf GROUP BY 2"
            for r in range(_CMS_ROWS)
        )}
    ), probes AS (
        {" UNION ALL ".join(
            f"SELECT term, exact, {r} AS r, {_DD_CMS_HASH(r)} AS bucket FROM top"
            for r in range(_CMS_ROWS)
        )}
    ), est AS (
        SELECT p.term, p.exact, CAST(min(c.cell) AS BIGINT) AS cms_est
        FROM probes p JOIN cells c ON p.r = c.r AND p.bucket = c.bucket
        GROUP BY p.term, p.exact
    )
    SELECT term, exact, cms_est,
           CAST(cms_est - exact AS BIGINT) AS overestimate
    FROM est
    """,
)
def cms_heavy_hitters_q(spark, sf_dir):
    """Count-Min sketch heavy-hitter estimates (Cormode & Muthukrishnan
    '05 — the additive-mergeable frequency sketch next to KMV's
    distinct sketch): a 4×256 counter grid built from one
    map-side-combinable aggregate (the grid is additive, so partial
    grids merge associatively — the property that makes CMS a
    distributed/streaming sketch), point estimates = min over the 4
    row cells. All integer arithmetic; the hash-checked
    ``overestimate`` column exhibits CMS's ONE-SIDED guarantee
    (est ≥ exact always — also invariant-asserted). The exact counts
    ride along for the harness; production keeps only the 1 KB grid."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("exact"))
        .localCheckpoint(eager=False)
    )
    rows = V.lit_array(list(range(_CMS_ROWS)))
    hashed = tf.select(
        "term", "exact", F.explode(rows).alias("r")
    ).select(
        "term",
        "exact",
        "r",
        (
            F.expr(H.md5_long("concat('cms', CAST(r AS STRING), ':', term)"))
            % _CMS_W
        ).alias("bucket"),
    )
    cells = hashed.groupBy("r", "bucket").agg(F.sum("exact").cast("long").alias("cell"))
    top = tf.orderBy(F.col("exact").desc(), "term").limit(10)
    probes = top.select("term", "exact", F.explode(rows).alias("r")).select(
        "term",
        "exact",
        "r",
        (
            F.expr(H.md5_long("concat('cms', CAST(r AS STRING), ':', term)"))
            % _CMS_W
        ).alias("bucket"),
    )
    est = (
        probes.join(F.broadcast(cells), ["r", "bucket"])
        .groupBy("term", "exact")
        .agg(F.min("cell").cast("long").alias("cms_est"))
    )
    return est.select(
        "term", "exact", "cms_est", (F.col("cms_est") - F.col("exact")).cast("long").alias("overestimate")
    )


@query(
    "exactly_once_ingest",
    oracle="""
    WITH delivered AS (
        SELECT event_id, event_type FROM events
        UNION ALL
        -- deterministic at-least-once redelivery: every 50th event
        -- arrives twice (the retry), every 200th three times
        SELECT event_id, event_type FROM events WHERE event_id % 50 = 0
        UNION ALL
        SELECT event_id, event_type FROM events WHERE event_id % 200 = 0
    ), agg AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_delivered,
               CAST(count(DISTINCT event_id) AS BIGINT) AS n_unique
        FROM delivered GROUP BY event_type
    )
    SELECT event_type, n_delivered, n_unique,
           CAST(n_delivered - n_unique AS BIGINT) AS n_dupes_dropped,
           round((n_delivered - n_unique) / CAST(n_delivered AS DOUBLE), 6) AS dupe_rate
    FROM agg
    """,
)
def exactly_once_ingest_q(spark, sf_dir):
    """Exactly-once ingestion dedup audit (the at-least-once →
    exactly-once repair every Kafka/queue consumer pipeline runs:
    retries redeliver, the table must converge anyway): a
    deterministic redelivery overlay (every 50th event twice, every
    200th three times) simulates the retry storm, keep-one-per-
    event_id collapses it, and the per-type report (delivered vs
    unique vs dropped) is what an ingestion dashboard watches. The
    dedup is count(DISTINCT key) / min-by-key — one shuffle on the
    8-byte key; the streaming twin is streaming_dedup's keyed state."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    delivered = ev.unionAll(ev.filter(F.col("event_id") % 50 == 0)).unionAll(
        ev.filter(F.col("event_id") % 200 == 0)
    )
    agg = delivered.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_delivered"),
        F.count_distinct("event_id").cast("long").alias("n_unique"),
    )
    return agg.select(
        "event_type",
        "n_delivered",
        "n_unique",
        (F.col("n_delivered") - F.col("n_unique")).cast("long").alias("n_dupes_dropped"),
        F.round(
            (F.col("n_delivered") - F.col("n_unique")) / F.col("n_delivered"), 6
        ).alias("dupe_rate"),
    )


@query(
    "slo_burn_rate",
    oracle="""
    WITH hourly AS (
        SELECT epoch_ns(ts) // 3600000000000 AS h,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errs
        FROM events GROUP BY 1
    ), w AS (
        SELECT h, n, errs,
               CAST(sum(n) OVER win6 AS BIGINT) AS n6,
               CAST(sum(errs) OVER win6 AS BIGINT) AS errs6,
               CAST(count(*) OVER win6 AS BIGINT) AS hrs6
        FROM hourly
        WINDOW win6 AS (ORDER BY h ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(h AS BIGINT) AS hour_id, n, errs,
           round(errs / CAST(n AS DOUBLE) / 0.01, 6) AS burn_1h,
           round(errs6 / CAST(n6 AS DOUBLE) / 0.01, 6) AS burn_6h,
           (errs / CAST(n AS DOUBLE) / 0.01 > 14.4
            AND errs6 / CAST(n6 AS DOUBLE) / 0.01 > 6) AS page_alert
    FROM w WHERE hrs6 = 6
    """,
)
def slo_burn_rate_q(spark, sf_dir):
    """Error-budget burn rate with multi-window alerting (Google SRE
    workbook's 14.4×/6× two-window rule against a 1% error SLO): the
    fast window catches the spike, the slow window confirms it isn't
    noise — paging only when BOTH burn. The stream collapses to one
    row per hour before any window (events_anomaly's posture); the
    6-hour rolling sums are exact integers over the tiny hourly
    frame; warm-up hours (fewer than 6 in window) are excluded so the
    slow burn is never computed on partial budget."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select(
            F.expr("ts_ns div 3600000000000").alias("h"),
            (F.col("event_type") == "error").cast("int").alias("_e"),
        )
        .groupBy("h")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("_e").cast("long").alias("errs"),
        )
    )
    w6 = Window.orderBy("h").rowsBetween(-5, 0)
    w = hourly.select(
        "h",
        "n",
        "errs",
        F.sum("n").over(w6).cast("long").alias("n6"),
        F.sum("errs").over(w6).cast("long").alias("errs6"),
        F.count("*").over(w6).cast("long").alias("hrs6"),
    ).filter(F.col("hrs6") == 6)
    b1 = F.col("errs") / F.col("n") / 0.01
    b6 = F.col("errs6") / F.col("n6") / 0.01
    return w.select(
        F.col("h").cast("long").alias("hour_id"),
        "n",
        "errs",
        F.round(b1, 6).alias("burn_1h"),
        F.round(b6, 6).alias("burn_6h"),
        ((b1 > 14.4) & (b6 > 6)).alias("page_alert"),
    )


@query(
    "audience_overlap",
    oracle="""
    WITH tu AS (
        SELECT DISTINCT event_type, user_id FROM events
    ), sizes AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_users FROM tu GROUP BY event_type
    ), pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(count(*) AS BIGINT) AS n_common
        FROM tu a JOIN tu b ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b, p.n_common,
           round(p.n_common / CAST(sa.n_users + sb.n_users - p.n_common AS DOUBLE), 6) AS jaccard,
           round(p.n_common / CAST(least(sa.n_users, sb.n_users) AS DOUBLE), 6) AS containment
    FROM pairs p
    JOIN sizes sa ON sa.event_type = p.type_a
    JOIN sizes sb ON sb.event_type = p.type_b
    """,
)
def audience_overlap_q(spark, sf_dir):
    """Audience overlap matrix (the segment-intersection analysis
    behind campaign planning and dedup of audience counts): pairwise
    user overlap between event types — Jaccard and
    smaller-side containment per pair. The corpus collapses to the
    DISTINCT (type, user) frame first (one shuffle); the pair join is
    keyed on user_id so its volume is Σ per-user type-pair counts
    (≤ C(|types|,2) per user), never |users|²; the ≤C(5,2)-row result
    joins the 5-row size table twice."""
    ev = load_table(spark, sf_dir, "events")
    tu = ev.select("event_type", "user_id").distinct().localCheckpoint(eager=False)
    sizes = tu.groupBy("event_type").agg(F.count("*").cast("long").alias("n_users"))
    a = tu.select(F.col("event_type").alias("type_a"), "user_id")
    b = tu.select(F.col("event_type").alias("type_b"), "user_id")
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n_users").alias("na"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n_users").alias("nb"))
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_common",
            F.round(F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")), 6).alias("jaccard"),
            F.round(F.col("n_common") / F.least("na", "nb"), 6).alias("containment"),
        )
    )


@query(
    "market_basket_lift",
    oracle="""
    WITH b AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n_orders AS (
        SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM b
    ), item AS (
        SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_a FROM b GROUP BY l_partkey
    ), pair AS (
        SELECT a.l_partkey AS part_a, c.l_partkey AS part_b,
               CAST(count(*) AS BIGINT) AS n_ab
        FROM b a JOIN b c
          ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= 3
    ), scored AS (
        SELECT p.part_a, p.part_b, p.n_ab, ia.n_a, ib.n_a AS n_b,
               (p.n_ab * o.n) / CAST(ia.n_a * ib.n_a AS DOUBLE) AS lift,
               p.n_ab / CAST(ia.n_a AS DOUBLE) AS confidence
        FROM pair p
        JOIN item ia ON ia.l_partkey = p.part_a
        JOIN item ib ON ib.l_partkey = p.part_b
        CROSS JOIN n_orders o
    )
    SELECT CAST(row_number() OVER (ORDER BY lift DESC, part_a, part_b) AS BIGINT) AS rank,
           part_a, part_b, n_ab, n_a, n_b,
           round(lift, 6) AS lift, round(confidence, 6) AS confidence
    FROM scored ORDER BY lift DESC, part_a, part_b LIMIT 10
    """,
)
def market_basket_lift_q(spark, sf_dir):
    """Market-basket association rules over order baskets (Agrawal
    SIGMOD'93 — support/confidence/lift, the classic co-purchase
    miner): baskets = DISTINCT (order, part); pair support from the
    orderkey-keyed self-join (volume = Σ C(basket,2) — bounded by
    basket size², never |parts|²); the min-support floor (≥3) cuts
    BEFORE the item-count joins (Apriori's pruning insight: only
    frequent pairs proceed); lift = n_ab·N/(n_a·n_b) from exact
    integer counts, top-10 via sort-limit with full deterministic tie
    order."""
    b = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_orders = b.agg(F.count_distinct("l_orderkey").cast("long").alias("_n"))
    item = b.groupBy("l_partkey").agg(F.count("*").cast("long").alias("n_a"))
    lhs = b.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_a"))
    rhs = b.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_b"))
    pair = (
        lhs.join(rhs, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
    )
    ia = item.select(F.col("l_partkey").alias("part_a"), F.col("n_a"))
    ib = item.select(F.col("l_partkey").alias("part_b"), F.col("n_a").alias("n_b"))
    scored = (
        pair.join(ia, "part_a")
        .join(ib, "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            "n_a",
            "n_b",
            ((F.col("n_ab") * F.col("_n")) / (F.col("n_a") * F.col("n_b")).cast("double")).alias("_lift"),
            (F.col("n_ab") / F.col("n_a").cast("double")).alias("_conf"),
        )
    )
    top = scored.orderBy(F.col("_lift").desc(), "part_a", "part_b").limit(10)
    w = Window.orderBy(F.col("_lift").desc(), "part_a", "part_b")
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "part_a",
        "part_b",
        "n_ab",
        "n_a",
        "n_b",
        F.round("_lift", 6).alias("lift"),
        F.round("_conf", 6).alias("confidence"),
    )


@query(
    "dau_stickiness",
    oracle="""
    WITH du AS (
        SELECT DISTINCT epoch_ns(ts) // 86400000000000 AS day, user_id
        FROM events
    ), dau AS (
        SELECT day, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY day
    ), wau AS (
        SELECT d.day, CAST(count(DISTINCT w.user_id) AS BIGINT) AS wau
        FROM (SELECT DISTINCT day FROM du) d
        JOIN du w ON w.day BETWEEN d.day - 6 AND d.day
        GROUP BY d.day
    )
    SELECT CAST(a.day AS BIGINT) AS day_id, a.dau, w.wau,
           round(a.dau / CAST(w.wau AS DOUBLE), 6) AS stickiness
    FROM dau a JOIN wau w ON a.day = w.day
    WHERE a.day >= (SELECT min(day) FROM du) + 6
    """,
)
def dau_stickiness_q(spark, sf_dir):
    """DAU/WAU stickiness (the growth metric: what share of the weekly
    audience shows up daily): the stream collapses to the DISTINCT
    (day, user) frame first — everything after is |active-days ×
    users|-bounded, never event-sized. WAU is a rolling 7-day
    DISTINCT, which no window function computes (distinct doesn't
    decompose over sliding frames) — the relational form is the
    day-spine range join + count(DISTINCT) per anchor day, the same
    pattern a tsdb materializes; warm-up days (< 7 days of history)
    are excluded. Integer day keys from exact epoch arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    du = (
        ev.select(
            F.expr("ts_ns div 86400000000000").alias("day"), "user_id"
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    dau = du.groupBy("day").agg(F.count("*").cast("long").alias("dau"))
    days = du.select("day").distinct().select(F.col("day").alias("anchor"))
    wau = (
        days.join(
            du,
            (F.col("day") >= F.col("anchor") - 6) & (F.col("day") <= F.col("anchor")),
        )
        .groupBy("anchor")
        .agg(F.count_distinct("user_id").cast("long").alias("wau"))
    )
    first_day = du.agg(F.min("day").alias("_d0"))
    return (
        dau.join(wau, dau.day == wau.anchor)
        .crossJoin(F.broadcast(first_day))
        .filter(F.col("day") >= F.col("_d0") + 6)
        .select(
            F.col("day").cast("long").alias("day_id"),
            "dau",
            "wau",
            F.round(F.col("dau") / F.col("wau").cast("double"), 6).alias("stickiness"),
        )
    )
