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
from ..operators import chunking, embedding, knn, text_analysis  # noqa: F401
from ..operators.text_analysis import STOPWORDS  # noqa: F401
from ..sources import load_table  # noqa: F401

from ..registry_core import (  # noqa: F401
    LAZY_ORACLES,
    ORACLES,
    QUERIES,
    query,
)

from .part01_vector_chunk_text_dedup_rag_ann import _DD_BANDS, _DD_MINHASH_SIG, _DD_SHINGLES  # noqa: F401


@query(
    "cdc_chunking",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS t,
               len(string_split(text, ' ')) AS n
        FROM documents
    ), cuts AS (
        SELECT doc_id, t, n,
               [0] || [j FOR j IN range(4, CAST(n AS BIGINT))
                       IF {H.dd_md5_long("array_to_string(t[j - 3 : j], ' ')", 'cdc')} % 32 = 0]
                   || [CAST(n AS BIGINT)] AS c
        FROM d
    ), chunks AS (
        SELECT doc_id, n, len(c) - 1 AS n_chunks,
               [md5(array_to_string(t[CAST(c[i] + 1 AS INTEGER) : CAST(c[i + 1] AS INTEGER)], ' '))
                FOR i IN range(1, len(c))] AS hs,
               [c[i + 1] - c[i] FOR i IN range(1, len(c))] AS lens
        FROM cuts
    ), ex AS (
        SELECT doc_id, unnest(hs) AS ch FROM chunks
    ), freq AS (
        SELECT ch, CAST(count(*) AS BIGINT) AS cnt FROM ex GROUP BY ch
    ), dup AS (
        SELECT e.doc_id,
               CAST(sum(CASE WHEN f.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks
        FROM ex e JOIN freq f USING (ch) GROUP BY e.doc_id
    )
    SELECT c.doc_id,
           CAST(c.n_chunks AS BIGINT) AS n_chunks,
           CAST(list_max(c.lens) AS BIGINT) AS max_chunk_tokens,
           round(CAST(c.n AS DOUBLE) / c.n_chunks, 6) AS mean_chunk_tokens,
           d.dup_chunks
    FROM chunks c JOIN dup d USING (doc_id)
    """,
)
def cdc_chunking_q(spark, sf_dir):
    """Content-defined chunking (FastCDC / LBFS rolling-hash cut
    points — the dedup-friendly chunking under restic/borg/rsync and
    chunk-level corpus dedup: boundaries depend on CONTENT, so a
    shared passage yields the same chunks regardless of where it
    sits in the doc, where fixed-size chunking shifts every boundary
    after one insertion): a cut lands after token j iff the 4-gram
    ending at j hashes to 0 mod 32 (seeded-md5 family — expected
    chunk ~32 tokens), chunk hashes and lengths come from pure
    codegen HOFs over one scan, and one (chunk-hash) count shuffle
    grades the payoff: dup_chunks counts this doc's chunks that
    recur ANYWHERE in the corpus. Raw text never crosses the
    shuffle — 16-byte digests do (substring_dedup's posture at
    chunk granularity)."""
    docs = load_table(spark, sf_dir, "documents", split=True)
    d = docs.select(
        "doc_id",
        F.split("text", " ").alias("t"),
        F.size(F.split("text", " ")).alias("n"),
    )
    bound_cond = (
        "conv(substring(md5(concat('cdc:', array_join(slice(t, j - 3, 4), ' '))), 1, 15), 16, 10) % 32 = 0"
    )
    cuts = d.select(
        "doc_id",
        "t",
        "n",
        F.expr(
            f"concat(array(0L), CASE WHEN n >= 5 THEN "
            f"transform(filter(sequence(4, n - 1), j -> {bound_cond}), j -> cast(j as long)) "
            f"ELSE array() END, array(cast(n as long)))"
        ).alias("c"),
    )
    chunks = cuts.select(
        "doc_id",
        "n",
        (F.size("c") - 1).alias("n_chunks"),
        F.expr(
            "transform(sequence(1, size(c) - 1), "
            "i -> md5(array_join(slice(t, cast(element_at(c, i) + 1 as int), "
            "cast(element_at(c, i + 1) - element_at(c, i) as int)), ' ')))"
        ).alias("hs"),
        F.expr(
            "transform(sequence(1, size(c) - 1), "
            "i -> element_at(c, i + 1) - element_at(c, i))"
        ).alias("lens"),
    ).localCheckpoint(eager=False)
    ex = chunks.select("doc_id", F.explode("hs").alias("ch"))
    freq = ex.groupBy("ch").agg(F.count("*").cast("long").alias("cnt"))
    dup = (
        ex.join(freq, "ch")
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0))
            .cast("long")
            .alias("dup_chunks")
        )
    )
    return chunks.join(dup, "doc_id").select(
        "doc_id",
        F.col("n_chunks").cast("long").alias("n_chunks"),
        F.array_max("lens").cast("long").alias("max_chunk_tokens"),
        F.round(F.col("n").cast("double") / F.col("n_chunks"), 6).alias(
            "mean_chunk_tokens"
        ),
        "dup_chunks",
    )


@query(
    "backfill_plan",
    oracle="""
    WITH b AS (
        SELECT epoch_ns(ts) // 3600000000000
               - (SELECT min(epoch_ns(ts) // 3600000000000) FROM events) AS hour_id,
               event_type
        FROM events
    ), mx AS (SELECT max(hour_id) AS maxh FROM b),
    spine AS (
        SELECT t.event_type, h.hour_id
        FROM (SELECT DISTINCT event_type FROM b) t,
             (SELECT unnest(range((SELECT maxh + 1 FROM mx))) AS hour_id) h
    ), present AS (
        SELECT DISTINCT event_type, hour_id FROM b
    ), missing AS (
        SELECT s.event_type, s.hour_id
        FROM spine s LEFT JOIN present p
          ON s.event_type = p.event_type AND s.hour_id = p.hour_id
        WHERE p.event_type IS NULL
    )
    SELECT event_type, CAST(hour_id AS BIGINT) AS hour_id,
           CAST((row_number() OVER (ORDER BY event_type, hour_id) - 1) // 10
                AS BIGINT) AS batch_id
    FROM missing
    """,
)
def backfill_plan_q(spark, sf_dir):
    """Backfill planner (the orchestration pass a scheduler runs
    after an outage: which (partition, hour) cells are MISSING from
    the lake, batched into bounded-size runs so the backfill doesn't
    starve the live pipeline): the expected spine is types × hours
    (generated in-plan, no driver loop), present cells come from one
    DISTINCT pass, missing = spine LEFT ANTI present on bare integer
    keys, and batch ids assign by deterministic (type, hour) order
    div batch-size — the compaction_plan trick for work scheduling.
    The spine is |types|·|hours|-bounded; only the DISTINCT pass
    touches the fact table."""
    ev = load_table(spark, sf_dir, "events")
    minh = ev.agg(F.min(F.expr("ts_ns div 3600000000000")).alias("h0"))
    b = ev.crossJoin(F.broadcast(minh)).select(
        (F.expr("ts_ns div 3600000000000") - F.col("h0")).alias("hour_id"),
        "event_type",
    )
    mx = b.agg(F.max("hour_id").alias("maxh"))
    types = b.select("event_type").distinct()
    spine = (
        types.crossJoin(F.broadcast(mx))
        .select("event_type", F.explode(F.sequence(F.lit(0), F.col("maxh"))).alias("hour_id"))
    )
    present = b.distinct()
    missing = spine.join(present, ["event_type", "hour_id"], "left_anti")
    w = Window.orderBy("event_type", "hour_id")
    return missing.select(
        "event_type",
        F.col("hour_id").cast("long").alias("hour_id"),
        ((F.row_number().over(w) - 1) / 10).cast("long").alias("batch_id"),
    )


# ---------------------------------------------------------------------------
# Recommender + weighted dedup wave (r5 cont.)
# ---------------------------------------------------------------------------


@query(
    "als_rank1_round",
    oracle=f"""
    WITH r AS (
        SELECT o.o_custkey AS c, l.l_partkey AS p, CAST(count(*) AS BIGINT) AS r
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2
    ), u AS (
        SELECT c, ({MICRO} * CAST(sum(r) AS BIGINT)) // CAST(count(*) AS BIGINT) AS u_u
        FROM r GROUP BY c
    ), v AS (
        SELECT r.p,
               CAST(count(*) AS BIGINT) AS n_raters,
               CAST(sum(r.r * u.u_u) AS BIGINT) AS num_u,
               CAST(sum(u.u_u * u.u_u) AS BIGINT) AS den_u
        FROM r JOIN u USING (c) GROUP BY r.p
    ), ranked AS (
        SELECT p, n_raters,
               CAST(num_u AS DOUBLE) * {MICRO} / den_u AS v_next,
               row_number() OVER (
                   ORDER BY CAST(num_u AS DOUBLE) * {MICRO} / den_u DESC, p) AS rank
        FROM v
    )
    SELECT CAST(rank AS BIGINT) AS rank, CAST(p AS BIGINT) AS partkey,
           n_raters, round(v_next, 6) AS item_factor
    FROM ranked WHERE rank <= 20
    """,
)
def als_rank1_round_q(spark, sf_dir):
    """One alternation of rank-1 implicit-feedback ALS on the real
    (customer × part) interaction matrix (matrix factorization's
    inner loop as two grouped aggregates — at rank 1 each
    least-squares solve is a closed-form ratio, no linear algebra):
    interactions from the orders ⋈ lineitem purchase counts, item
    factors init 1 ⇒ user step u_i = Σr/n_i in exact micro-units
    (integer div), item step v_j = Σ r·u / Σ u² from exact integer
    products — the whole round order-free, one double division per
    item at emit. Top-20 item factors = the first popularity-cum-
    quality ranking a recommender bootstrap produces. Higher rank =
    the same two keyed aggregates with k-vector state (documented
    swap); interactions shuffle on their natural keys, nothing
    user×item-shaped materializes."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    r = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .agg(F.count("*").cast("long").alias("r"))
    )
    u = r.groupBy("c").agg(
        F.expr(f"({MICRO} * cast(sum(r) as bigint)) div cast(count(*) as bigint)").alias(
            "u_u"
        )
    )
    v = (
        r.join(u, "c")
        .groupBy("p")
        .agg(
            F.count("*").cast("long").alias("n_raters"),
            F.sum(F.col("r") * F.col("u_u")).cast("long").alias("num_u"),
            F.sum(F.col("u_u") * F.col("u_u")).cast("long").alias("den_u"),
        )
    )
    v_next = F.col("num_u").cast("double") * MICRO / F.col("den_u")
    w = Window.orderBy(v_next.desc(), "p")
    return (
        v.select(
            F.row_number().over(w).cast("long").alias("rank"),
            F.col("p").cast("long").alias("partkey"),
            "n_raters",
            F.round(v_next, 6).alias("item_factor"),
        )
        .filter(F.col("rank") <= 20)
    )


# MATERIALIZED CTE hints (pure DuckDB planner directive, zero
# semantic content): without them DuckDB inlines the banding CTE
# chain into the candidate self-join and the tf join, re-deriving the
# shingle explode per consumer — >550 s at sf1; materialized it is
# 44 s (r9 measurement). The hint lets the r9 sweep verify this entry
# on the FULL sf1 corpus instead of the r8 30%-doc slice.
def _materialize_ctes(sql: str, names: tuple[str, ...]) -> str:
    import re

    for cte in names:
        sql = re.sub(rf"\b{cte} AS \(", f"{cte} AS MATERIALIZED (", sql)
    return sql


@query(
    "weighted_jaccard_pairs",
    oracle=_materialize_ctes(f"""
    WITH {_DD_SHINGLES}, {_DD_MINHASH_SIG}, {_DD_BANDS},
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
                    AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        GROUP BY doc_id, term
    ), dl AS (
        SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id
    ), smin AS (
        SELECT c.doc_a, c.doc_b,
               CAST(sum(least(ta.tf, tb.tf)) AS BIGINT) AS sum_min
        FROM cand c
        JOIN tf ta ON ta.doc_id = c.doc_a
        JOIN tf tb ON tb.doc_id = c.doc_b AND tb.term = ta.term
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT s.doc_a, s.doc_b, s.sum_min,
           round(CAST(s.sum_min AS DOUBLE)
                 / (da.dl + db.dl - s.sum_min), 6) AS weighted_jaccard
    FROM smin s
    JOIN dl da ON da.doc_id = s.doc_a
    JOIN dl db ON db.doc_id = s.doc_b
    """, ("shf", "mh", "sig", "bands", "cand", "tf", "dl", "smin")),
)
def weighted_jaccard_pairs_q(spark, sf_dir):
    """Weighted (multiset) Jaccard on the MinHash-LSH candidates —
    the near-dup score SET Jaccard gets wrong when token COUNTS
    differ (a doc that repeats a template 5× has set-Jaccard ≈ 1
    against one copy; weighted Jaccard Σmin/Σmax sees the
    difference): candidates come from the same banding build as
    dedup_minhash_lsh (bucket-bound, never all-pairs), Σmin from the
    (doc, term) tf join keyed on candidate ids + term, and
    Σmax = dl_a + dl_b − Σmin by the max+min identity so only ONE
    per-pair aggregation runs. Exact integer counts, one double
    division per emitted pair."""
    from ..operators import dedup
    from ..functions import text as X

    docs = load_table(spark, sf_dir, "documents", split=True)
    cand = dedup.dedup_minhash_lsh(docs).select("doc_a", "doc_b")
    tf = (
        docs.select("doc_id", F.explode(F.expr(X.tokens("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
        .localCheckpoint(eager=False)
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    ta = tf.select(
        F.col("doc_id").alias("doc_a"), F.col("term"), F.col("tf").alias("tfa")
    )
    tb = tf.select(
        F.col("doc_id").alias("doc_b"), F.col("term"), F.col("tf").alias("tfb")
    )
    smin = (
        cand.join(ta, "doc_a")
        .join(tb, ["doc_b", "term"])
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.least("tfa", "tfb")).cast("long").alias("sum_min"))
    )
    da = dl.select(F.col("doc_id").alias("doc_a"), F.col("dl").alias("dla"))
    db = dl.select(F.col("doc_id").alias("doc_b"), F.col("dl").alias("dlb"))
    return (
        smin.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "sum_min",
            F.round(
                F.col("sum_min").cast("double")
                / (F.col("dla") + F.col("dlb") - F.col("sum_min")),
                6,
            ).alias("weighted_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Dimensionality + graph-text wave (r5 cont.)
# ---------------------------------------------------------------------------


def _jl_matrix(k: int = 16, dim: int = 64) -> list[list[float]]:
    """Deterministic ±1/√k Johnson-Lindenstrauss matrix from the
    md5 family (same static-literal posture as LSH hyperplanes)."""
    import hashlib

    rows = []
    for i in range(k):
        row = []
        for j in range(dim):
            h = hashlib.md5(f"jl:{i}|{j}".encode()).hexdigest()
            row.append((1.0 if int(h[:2], 16) % 2 == 0 else -1.0) / (k ** 0.5))
        rows.append(row)
    return rows


@query("jl_projection_audit")  # oracle: LAZY (static matrix literals)
def jl_projection_audit_q(spark, sf_dir):
    """Johnson-Lindenstrauss distance-preservation audit (the theorem
    random projection indexes lean on: a ±1/√k matrix into k=16 dims
    preserves pairwise L2 up to 1±ε — this measures the actual ε on
    real pairs before anyone trusts a 4× cheaper distance): each
    vector projects ONCE through the md5-derived literal matrix
    (deterministic — the same matrix on every engine/run), then the
    bounded 40-vector sample pairs up (780 pairs) and the
    distortion ratio d_proj/d_orig rolls up with micro-quantized
    means and a ±30%% containment share. Projection is narrow
    codegen; nothing pairwise ever touches the full corpus."""
    R = _jl_matrix()
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 40)

    pv = "array(" + ", ".join(V.dot("embedding", V.sql_literal(row)) for row in R) + ")"
    p = emb.selectExpr("vec_id", "embedding", f"{pv} AS pv")
    a = p.select(
        F.col("vec_id").alias("ida"),
        F.col("embedding").alias("ea"),
        F.col("pv").alias("pa"),
    )
    b = p.select(
        F.col("vec_id").alias("idb"),
        F.col("embedding").alias("eb"),
        F.col("pv").alias("pb"),
    )
    pairs = a.join(b, F.col("ida") < F.col("idb")).select(
        (
            F.expr(V.euclidean("pa", "pb"))
            / F.expr(V.euclidean("ea", "eb"))
        ).alias("ratio")
    )
    return pairs.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.expr(emit_micro(f"CAST(sum({to_micro('ratio')}) AS DOUBLE) / count(*)")).alias(
            "mean_ratio"
        ),
        F.round(F.min("ratio"), 6).alias("min_ratio"),
        F.round(F.max("ratio"), 6).alias("max_ratio"),
        F.round(
            F.sum(
                F.when((F.col("ratio") >= 0.7) & (F.col("ratio") <= 1.3), 1).otherwise(
                    0
                )
            ).cast("double")
            / F.count("*"),
            6,
        ).alias("within_30pct"),
    )


def _jl_oracle(sf_dir: str) -> str:
    R = _jl_matrix()

    def proj_sql(vec: str) -> str:
        lits = ("[" + ", ".join(repr(v) for v in row) + "]" for row in R)
        return "[" + ", ".join(V.dd_dot(vec, lit) for lit in lits) + "]"

    return f"""
    WITH p AS (
        SELECT vec_id, embedding, {proj_sql('embedding')} AS pv
        FROM embeddings WHERE vec_id < 40
    ), pairs AS (
        SELECT {V.dd_euclidean('a.pv', 'b.pv')} / {V.dd_euclidean('a.embedding', 'b.embedding')} AS ratio
        FROM p a JOIN p b ON a.vec_id < b.vec_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           {emit_micro(f"CAST(sum({to_micro('ratio')}) AS DOUBLE) / count(*)")} AS mean_ratio,
           round(min(ratio), 6) AS min_ratio,
           round(max(ratio), 6) AS max_ratio,
           round(CAST(sum(CASE WHEN ratio >= 0.7 AND ratio <= 1.3 THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS within_30pct
    FROM pairs
    """


LAZY_ORACLES["jl_projection_audit"] = _jl_oracle


@query("pca_explained_variance")  # oracle: LAZY (basis literals)
def pca_explained_variance_q(spark, sf_dir):
    """PCA spectrum audit (the sizing table behind pca_project and
    matryoshka truncation: how many directions actually carry
    variance, and does the SAMPLE-fit spectrum hold corpus-wide?):
    the bounded-sample eigendecomposition contributes eigenvalue
    shares as literals, then ONE corpus pass measures the realized
    variance along each of the 8 components (projections
    micro-quantized, DECIMAL-exact moment sums — order-free), with
    cumulative explained share per rank. A sample share that
    disagrees with the measured column is the drift alarm for
    refitting the basis."""
    mu, comps, shares = embedding.pca_fit_sample(sf_dir, n_components=8)
    emb = load_table(spark, sf_dir, "embeddings", split=True)
    centered = f"zip_with(CAST(embedding AS ARRAY<DOUBLE>), {V.sql_literal(mu)}, (e, m) -> e - m)"
    projs = [V.dot(centered, V.sql_literal(c)) for c in comps]
    row = emb.selectExpr(
        *[f"{p} AS _raw{i}" for i, p in enumerate(projs)]
    ).select(
        *[
            F.expr(to_micro(f"_raw{i}")).alias(f"p{i}")
            for i in range(len(projs))
        ]
    )
    agg = row.agg(
        F.count("*").cast("long").alias("n"),
        *[
            F.sum(F.col(f"p{i}").cast("decimal(38,0)")).alias(f"s{i}")
            for i in range(len(projs))
        ],
        *[
            F.sum(F.col(f"p{i}").cast("decimal(38,0)") * F.col(f"p{i}")).alias(
                f"q{i}"
            )
            for i in range(len(projs))
        ],
    )
    rows_expr = F.array(
        *[
            F.struct(
                F.lit(i + 1).cast("long").alias("component"),
                F.lit(round(shares[i], 6)).alias("sample_share"),
                F.lit(round(sum(shares[: i + 1]), 6)).alias("sample_cum_share"),
                F.round(
                    (
                        F.col(f"q{i}").cast("double") / F.col("n")
                        - (F.col(f"s{i}").cast("double") / F.col("n"))
                        * (F.col(f"s{i}").cast("double") / F.col("n"))
                    )
                    / 1e12,
                    6,
                ).alias("measured_var"),
            )
            for i in range(len(projs))
        ]
    )
    return agg.select(F.explode(rows_expr).alias("r")).select(
        F.col("r.component").alias("component"),
        F.col("r.sample_share").alias("sample_share"),
        F.col("r.sample_cum_share").alias("sample_cum_share"),
        F.col("r.measured_var").alias("measured_var"),
    )


def _pca_var_oracle(sf_dir: str) -> str:
    mu, comps, shares = embedding.pca_fit_sample(sf_dir, n_components=8)
    mu_lit = "[" + ", ".join(repr(v) for v in mu) + "]"
    sel = []
    for i, c in enumerate(comps):
        lit = "[" + ", ".join(repr(v) for v in c) + "]"
        centered = f"list_transform(list_zip(embedding::DOUBLE[], {mu_lit}::DOUBLE[]), x -> x[1]-x[2])"
        proj = V.dd_dot(centered, lit)
        sel.append(f"{to_micro(proj)} AS p{i}")
    rows = []
    for i in range(len(comps)):
        rows.append(
            f"SELECT CAST({i + 1} AS BIGINT) AS component,"
            f" {round(shares[i], 6)!r} AS sample_share,"
            f" {round(sum(shares[: i + 1]), 6)!r} AS sample_cum_share,"
            f" round((CAST(q{i} AS DOUBLE) / n"
            f" - (CAST(s{i} AS DOUBLE) / n) * (CAST(s{i} AS DOUBLE) / n)) / 1e12, 6)"
            f" AS measured_var FROM agg"
        )
    return f"""
    WITH proj AS (
        SELECT {", ".join(sel)} FROM embeddings
    ), agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               {", ".join(f"CAST(sum(CAST(p{i} AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s{i}, CAST(sum(CAST(p{i} AS DECIMAL(38,0)) * p{i}) AS DECIMAL(38,0)) AS q{i}" for i in range(len(comps)))}
        FROM proj
    )
    {" UNION ALL ".join(rows)}
    """


LAZY_ORACLES["pca_explained_variance"] = _pca_var_oracle


def _textrank_iter_sql(prev: str, out: str) -> str:
    return f"""
    {out} AS (
        SELECT n.term,
               150000 + CAST(coalesce((
                   SELECT sum((p.p_u * e.w * 850000) // (wt.wtot * {MICRO}))
                   FROM edges e
                   JOIN {prev} p ON p.term = e.a
                   JOIN wtot wt ON wt.term = e.a
                   WHERE e.b = n.term), 0) AS BIGINT) AS p_u
        FROM nodes n
    )"""


@query("textrank_keywords", oracle=None)  # oracle attached below
def textrank_keywords_q(spark, sf_dir):
    """TextRank keyword extraction (Mihalcea & Tarau EMNLP'04 —
    PageRank on the word co-occurrence graph; the unsupervised
    keyword ranker that beats raw frequency by rewarding words that
    CONNECT the vocabulary): the corpus collapses to the
    vocabulary-sized ±2-window co-occurrence edge list first (the
    bpe_pair_counts trick — iteration cost is independent of corpus
    size), then 3 damped power-iteration rounds run as unrolled
    join-aggregates in a DEFINED exact-integer arithmetic
    (contributions p·w·0.85 div W and base 0.15, all in exact
    micro-units) so both engines iterate bit-for-bit — the
    prove-the-iteration posture of knn_graph_pagerank generalized to
    arbitrary degree distributions via per-edge integer division.
    Top-10 words by final score."""

    docs = load_table(spark, sf_dir, "documents", split=True)
    toks = docs.select(F.split("text", " ").alias("t"))
    pairs = toks.select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(1, size(t)), i -> "
                "filter(transform(sequence(1, 2), o -> "
                "CASE WHEN i + o <= size(t) AND element_at(t, i) != element_at(t, i + o) "
                "THEN struct(element_at(t, i) AS a, element_at(t, i + o) AS b) END), "
                "x -> x IS NOT NULL)))"
            )
        ).alias("p")
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    # symmetric edges
    edges = (
        pairs.unionByName(pairs.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("w"))
        .localCheckpoint(eager=False)
    )
    wtot = edges.groupBy("a").agg(F.sum("w").cast("long").alias("wtot"))
    nodes = edges.select(F.col("a").alias("term")).distinct()
    p = nodes.select("term", F.lit(MICRO).cast("long").alias("p_u"))
    for _ in range(3):
        contrib = (
            edges.join(p.select(F.col("term").alias("a"), "p_u"), "a")
            .join(wtot.select(F.col("a"), F.col("wtot")), "a")
            .groupBy(F.col("b").alias("term"))
            .agg(
                F.sum(
                    F.expr(f"(p_u * w * 850000) div (wtot * {MICRO})")
                )
                .cast("long")
                .alias("inflow")
            )
        )
        p = nodes.join(contrib, "term", "left").select(
            "term",
            (F.lit(150_000) + F.coalesce("inflow", F.lit(0))).cast("long").alias("p_u"),
        )
    w10 = Window.orderBy(F.col("p_u").desc(), "term")
    return (
        p.orderBy(F.col("p_u").desc(), "term")
        .limit(10)
        .select(
            F.row_number().over(w10).cast("long").alias("rank"),
            "term",
            F.expr(emit_micro("p_u")).alias("score"),
        )
    )


def _textrank_oracle() -> str:
    its = ",".join(
        _textrank_iter_sql(f"p{i}", f"p{i + 1}") for i in range(3)
    )
    return f"""
    WITH toks AS (
        SELECT string_split(text, ' ') AS t FROM documents
    ), pairs0 AS (
        SELECT t[i] AS a, t[i + o] AS b
        FROM toks, range(1, 3) oo(o), LATERAL (
            SELECT unnest(range(1, len(t) + 1)) AS i)
        WHERE i + o <= len(t) AND t[i] <> t[i + o]
    ), pairs AS (
        SELECT a, b FROM pairs0 UNION ALL SELECT b, a FROM pairs0
    ), edges AS (
        SELECT a, b, CAST(count(*) AS BIGINT) AS w FROM pairs GROUP BY a, b
    ), wtot AS (
        SELECT a AS term, CAST(sum(w) AS BIGINT) AS wtot FROM edges GROUP BY a
    ), nodes AS (SELECT DISTINCT a AS term FROM edges),
    p0 AS (SELECT term, CAST({MICRO} AS BIGINT) AS p_u FROM nodes),
    {its}
    SELECT CAST(row_number() OVER (ORDER BY p_u DESC, term) AS BIGINT) AS rank,
           term, {emit_micro('p_u')} AS score
    FROM p3 ORDER BY p_u DESC, term LIMIT 10
    """


ORACLES["textrank_keywords"] = _textrank_oracle()


# ---------------------------------------------------------------------------
# Signed sketch + collaborative filtering wave (r5 cont.)
# ---------------------------------------------------------------------------


@query(
    "count_sketch_estimate",
    oracle=f"""
    WITH ev AS (SELECT user_id::VARCHAR AS k FROM events),
    grid AS (
        SELECT r, {H.dd_md5_long("k", None)} AS _h,
               {H.dd_md5_long("('csb' || r || ':' || k)", None)} % 256 AS b,
               CASE WHEN {H.dd_md5_long("('css' || r || ':' || k)", None)} % 2 = 0
                    THEN 1 ELSE -1 END AS s
        FROM ev, range(4) t(r)
    ), counters AS (
        SELECT r, b, CAST(sum(s) AS BIGINT) AS c FROM grid GROUP BY r, b
    ), exact AS (
        SELECT k, CAST(count(*) AS BIGINT) AS f
        FROM ev GROUP BY k ORDER BY f DESC, k LIMIT 10
    ), est AS (
        SELECT e.k, e.f, t.r,
               (CASE WHEN {H.dd_md5_long("('css' || t.r || ':' || e.k)", None)} % 2 = 0
                     THEN 1 ELSE -1 END) * c.c AS g
        FROM exact e, range(4) t(r)
        JOIN counters c
          ON c.r = t.r
         AND c.b = {H.dd_md5_long("('csb' || t.r || ':' || e.k)", None)} % 256
    ), med AS (
        SELECT k, f, list_sort(list(g)) AS gs FROM est GROUP BY k, f
    )
    SELECT CAST(k AS BIGINT) AS user_id, f AS exact_count,
           CAST((gs[2] + gs[3]) // 2 AS BIGINT) AS estimate,
           CAST((gs[2] + gs[3]) // 2 - f AS BIGINT) AS signed_err
    FROM med
    """,
)
def count_sketch_estimate_q(spark, sf_dir):
    """CountSketch frequency estimation (Charikar ICALP'02 — the
    UNBIASED signed sibling of cms_heavy_hitters: CMS only
    over-counts, CountSketch's random signs cancel collisions in
    expectation, which is what downstream inner-product estimates
    need): 4×256 signed integer counters from one
    map-side-combinable grouped aggregate (the additive-mergeable
    state again), per-key estimate = exact-selection median of the
    four signed reads (integer floor-average of the middle pair),
    graded with SIGNED error against the true top-10 counts — the
    two-sided error profile CMS cannot produce. Hash family =
    seeded md5, engine-identical."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("k")
    )
    r4 = spark.range(4).select(F.col("id").cast("int").alias("r"))
    grid = ev.crossJoin(F.broadcast(r4)).select(
        "r",
        (
            F.expr(H.md5_long("concat('csb', r, ':', k)"))
            % 256
        ).alias("b"),
        F.when(
            F.expr(H.md5_long("concat('css', r, ':', k)")) % 2
            == 0,
            1,
        )
        .otherwise(-1)
        .alias("s"),
    )
    counters = grid.groupBy("r", "b").agg(F.sum("s").cast("long").alias("c"))
    exact = (
        ev.groupBy("k")
        .agg(F.count("*").cast("long").alias("f"))
        .orderBy(F.col("f").desc(), "k")
        .limit(10)
    )
    est = (
        exact.crossJoin(F.broadcast(r4))
        .withColumn(
            "b",
            F.expr(H.md5_long("concat('csb', r, ':', k)"))
            % 256,
        )
        .withColumn(
            "s",
            F.when(
                F.expr(H.md5_long("concat('css', r, ':', k)"))
                % 2
                == 0,
                1,
            ).otherwise(-1),
        )
        .join(F.broadcast(counters), ["r", "b"])
        .select("k", "f", (F.col("s") * F.col("c")).alias("g"))
    )
    med = est.groupBy("k", "f").agg(F.sort_array(F.collect_list("g")).alias("gs"))
    e = F.expr("(element_at(gs, 2) + element_at(gs, 3)) div 2")
    return med.select(
        F.col("k").cast("long").alias("user_id"),
        F.col("f").alias("exact_count"),
        e.cast("long").alias("estimate"),
        (e - F.col("f")).cast("long").alias("signed_err"),
    )


@query(
    "itemcf_topk",
    oracle="""
    WITH ui AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ), buyers AS (
        SELECT p, CAST(count(*) AS BIGINT) AS nb FROM ui GROUP BY p
    ), co AS (
        SELECT a.p AS pa, b.p AS pb, CAST(count(*) AS BIGINT) AS co
        FROM ui a JOIN ui b ON a.c = b.c AND a.p <> b.p
        GROUP BY a.p, b.p
    ), scored AS (
        SELECT co.pa, co.pb, co.co,
               CAST(co.co AS DOUBLE) / (ba.nb + bb.nb - co.co) AS jac
        FROM co JOIN buyers ba ON ba.p = co.pa
                JOIN buyers bb ON bb.p = co.pb
        WHERE co.pa < 20
    ), ranked AS (
        SELECT pa, pb, co, jac,
               row_number() OVER (PARTITION BY pa ORDER BY jac DESC, pb) AS rank
        FROM scored
    )
    SELECT CAST(pa AS BIGINT) AS partkey, CAST(rank AS BIGINT) AS rank,
           CAST(pb AS BIGINT) AS neighbor, co AS common_buyers,
           round(jac, 6) AS jaccard
    FROM ranked WHERE rank <= 3
    """,
)
def itemcf_topk_q(spark, sf_dir):
    """Item-item collaborative filtering neighbors (Sarwar WWW'01 —
    the 'customers who bought X also bought' list, THE production
    recommender baseline): distinct (customer, part) ownership from
    the fact join, co-ownership pairs via the CUSTOMER-keyed
    self-join (volume = Σ C(items-per-customer, 2) — the
    basket-bounded candidate rule, never |parts|²), buyer-set
    Jaccard from exact integer counts, per-anchor top-3 with
    deterministic ties. market_basket_lift mines RULES from
    co-baskets; this builds the per-item NEIGHBOR LIST a recommender
    serves. Anchors bounded to partkey < 20 for the emitted frame;
    the pair computation is the same at any anchor set."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    ui = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    buyers = ui.groupBy("p").agg(F.count("*").cast("long").alias("nb"))
    a = ui.select(F.col("c"), F.col("p").alias("pa"))
    b = ui.select(F.col("c"), F.col("p").alias("pb"))
    co = (
        a.join(b, "c")
        .filter(F.col("pa") != F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").cast("long").alias("co"))
        .filter(F.col("pa") < 20)
    )
    scored = (
        co.join(buyers.select(F.col("p").alias("pa"), F.col("nb").alias("ba")), "pa")
        .join(buyers.select(F.col("p").alias("pb"), F.col("nb").alias("bb")), "pb")
        .select(
            "pa",
            "pb",
            "co",
            (
                F.col("co").cast("double")
                / (F.col("ba") + F.col("bb") - F.col("co"))
            ).alias("jac"),
        )
    )
    return knn.topk_per_key(scored, "pa", "pb", 3, score_col="jac").select(
        F.col("pa").cast("long").alias("partkey"),
        F.col("rank").cast("long").alias("rank"),
        F.col("pb").cast("long").alias("neighbor"),
        F.col("co").alias("common_buyers"),
        F.round("jac", 6).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# Kneser-Ney LM + MoE routing wave (r5 cont.)
# ---------------------------------------------------------------------------


@query(
    "kneser_ney_bigram_ppl",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), bg AS (
        SELECT doc_id, t[i] || ' ' || t[i + 1] AS b, t[i] AS w1, t[i + 1] AS w2
        FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i)
    ), cb AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY w1, w2
    ), cpre AS (
        SELECT w1, CAST(sum(c) AS BIGINT) AS cp,
               CAST(count(*) AS BIGINT) AS n1p_fwd
        FROM cb GROUP BY w1
    ), ccont AS (
        SELECT w2, CAST(count(*) AS BIGINT) AS n1p_bwd FROM cb GROUP BY w2
    ), nbi AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM cb),
    pkn AS (
        SELECT cb.w1, cb.w2,
               (CAST(4 * cb.c - 3 AS DOUBLE) / (4 * p.cp))
               + (0.75 * p.n1p_fwd / p.cp)
                 * (CAST(cc.n1p_bwd AS DOUBLE) / nbi.nb) AS p
        FROM cb JOIN cpre p USING (w1)
                JOIN ccont cc USING (w2)
                CROSS JOIN nbi
    ), scored AS (
        SELECT g.doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(sum({to_micro('ln(pkn.p)')}) AS BIGINT) AS lnp_u
        FROM bg g JOIN pkn ON pkn.w1 = g.w1 AND pkn.w2 = g.w2
        GROUP BY g.doc_id
    )
    SELECT doc_id, n_bigrams,
           round(exp(-({from_micro('CAST(lnp_u AS DOUBLE) / n_bigrams')})), 6) AS ppl
    FROM scored
    """,
)
def kneser_ney_bigram_ppl_q(spark, sf_dir):
    """Interpolated Kneser-Ney bigram perplexity (Kneser & Ney '95 —
    THE n-gram smoothing: the backoff weight of a word is how many
    DISTINCT contexts it continues, not how often it occurs, which
    is why 'Francisco' stops getting high unigram backoff outside
    'San'): absolute discount D=¾ keeps max(c−D,0)/c_prefix an exact
    rational ((4c−3)/4c_prefix for c≥1 — no float discounting), the
    continuation distribution N1+(·w)/|bigram types| comes from the
    SAME vocab²-bounded count frame, and per-doc scores quantize
    ln p to micro-units × counts (order-free) before the one exp at
    emit. Completes the LM ladder: unigram mix (lm_perplexity),
    add-1 bigram (lm_perplexity_bigram), KN bigram — all from one
    tokenize pass + vocab-bounded joins."""

    docs = load_table(spark, sf_dir, "documents", split=True)
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    bg = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), "
                "i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    cb = bg.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("c")).localCheckpoint(
        eager=False
    )
    cpre = cb.groupBy("w1").agg(
        F.sum("c").cast("long").alias("cp"),
        F.count("*").cast("long").alias("n1p_fwd"),
    )
    ccont = cb.groupBy("w2").agg(F.count("*").cast("long").alias("n1p_bwd"))
    nbi = cb.agg(F.count("*").cast("long").alias("nb"))
    pkn = (
        cb.join(cpre, "w1")
        .join(ccont, "w2")
        .crossJoin(F.broadcast(nbi))
        .select(
            "w1",
            "w2",
            (
                (4 * F.col("c") - 3).cast("double") / (4 * F.col("cp"))
                + (0.75 * F.col("n1p_fwd") / F.col("cp"))
                * (F.col("n1p_bwd").cast("double") / F.col("nb"))
            ).alias("p"),
        )
    )
    scored = (
        bg.join(pkn, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum(F.expr(to_micro("ln(p)")))
            .cast("long")
            .alias("lnp_u"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        F.expr(f"round(exp(-{from_micro('CAST(lnp_u AS DOUBLE) / n_bigrams')}), 6)").alias("ppl"),
    )


@query(
    "moe_router_balance",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, i AS pos
        FROM (SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents),
             LATERAL (SELECT unnest(range(1, n + 1)) AS i)
    ), logits AS (
        SELECT doc_id, pos, e,
               {H.dd_md5_long("(doc_id || '|' || pos || '|' || e)", 'moe')} AS h
        FROM toks, range(8) t(e)
    ), z AS (
        SELECT doc_id, pos, e, h, h / 1152921504606846976.0 AS x FROM logits
    ), sm AS (
        SELECT doc_id, pos, e, h,
               exp(x) / sum(exp(x)) OVER (PARTITION BY doc_id, pos) AS p,
               h = max(h) OVER (PARTITION BY doc_id, pos) AS routed
        FROM z
    ), per AS (
        SELECT e, CAST(sum(CASE WHEN routed THEN 1 ELSE 0 END) AS BIGINT) AS n_routed,
               CAST(sum({to_micro('p')}) AS BIGINT) AS p_u,
               CAST(count(*) AS BIGINT) AS n_tok
        FROM sm GROUP BY e
    )
    SELECT CAST(e AS BIGINT) AS expert, n_routed,
           round(CAST(n_routed AS DOUBLE) / (n_tok / 8) / 8, 6) AS load_share,
           {emit_micro('CAST(p_u AS DOUBLE) / n_tok')} AS mean_prob,
           round(8 * sum(CAST(n_routed AS DOUBLE) / (n_tok / 8)
                         * ({from_micro('CAST(p_u AS DOUBLE) / n_tok')})) OVER () / 8, 6)
               AS aux_loss
    FROM per
    """,
)
def moe_router_balance_q(spark, sf_dir):
    """Mixture-of-Experts router load-balance audit (the Switch
    Transformer auxiliary loss, Fedus '21 — a router that funnels
    tokens to two favorite experts wastes 6/8 of the FLOPs you paid
    for; this is the number that says so BEFORE training diverges):
    every corpus token draws 8 deterministic md5 logits, routing is
    the EXACT-INTEGER hash argmax (no float compare), router probs
    are the softmax over the derived uniforms with per-token
    micro-quantization before the cross-token sums, and
    aux = N·Σ f_e·P_e (load fraction × mean prob) — ≈1 balanced,
    →8 collapsed. One token explode + one 8-way fan-out, all
    map-side-combinable; per-expert frame is 8 rows."""
    from ..functions import text as X

    docs = load_table(spark, sf_dir, "documents", split=True)
    toks = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.size(F.expr(X.tokens("text"))))).alias("pos"),
    )
    e8 = spark.range(8).select(F.col("id").cast("int").alias("e"))
    logits = toks.crossJoin(F.broadcast(e8)).select(
        "doc_id",
        "pos",
        "e",
        F.expr(H.md5_long("concat(doc_id, '|', pos, '|', e)", "moe")).alias("h"),
    )
    wt = Window.partitionBy("doc_id", "pos")
    sm = logits.select(
        "e",
        (
            F.exp(F.col("h") / F.lit(1152921504606846976.0))
            / F.sum(F.exp(F.col("h") / F.lit(1152921504606846976.0))).over(wt)
        ).alias("p"),
        (F.col("h") == F.max("h").over(wt)).alias("routed"),
    )
    per = sm.groupBy("e").agg(
        F.sum(F.when(F.col("routed"), 1).otherwise(0)).cast("long").alias("n_routed"),
        F.sum(F.expr(to_micro("p"))).cast("long").alias("p_u"),
        F.count("*").cast("long").alias("n_tok"),
    )
    wa = Window.partitionBy()
    f_e = F.col("n_routed").cast("double") / (F.col("n_tok") / 8) / 8
    p_e = F.expr(from_micro("CAST(p_u AS DOUBLE) / n_tok"))
    return per.select(
        F.col("e").cast("long").alias("expert"),
        "n_routed",
        F.round(f_e, 6).alias("load_share"),
        F.round(p_e, 6).alias("mean_prob"),
        F.round(F.lit(8) * F.sum(f_e * 8 * p_e).over(wa) / 8, 6).alias("aux_loss"),
    )


@query(
    "topic_coherence_npmi",
    oracle=f"""
    WITH pres AS (
        SELECT DISTINCT doc_id, source, term FROM (
            SELECT doc_id, source, unnest(string_split(text, ' ')) AS term
            FROM documents)
        WHERE term <> ''
    ), n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    sfreq AS (
        SELECT source, term, CAST(count(*) AS BIGINT) AS c
        FROM pres GROUP BY source, term
    ), topic AS (
        SELECT source, term FROM (
            SELECT source, term,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY c DESC, term) AS rk
            FROM sfreq) WHERE rk <= 3
    ), dfreq AS (
        SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM pres
        GROUP BY term
    ), tpairs AS (
        SELECT a.source, a.term AS ta, b.term AS tb
        FROM topic a JOIN topic b
          ON a.source = b.source AND a.term < b.term
    ), copres AS (
        SELECT tp.source, tp.ta, tp.tb,
               CAST(count(DISTINCT pa.doc_id) AS BIGINT) AS cab
        FROM tpairs tp
        JOIN pres pa ON pa.term = tp.ta
        JOIN pres pb ON pb.term = tp.tb AND pb.doc_id = pa.doc_id
        GROUP BY tp.source, tp.ta, tp.tb
    ), scored AS (
        SELECT c.source,
               {to_micro('''ln((CAST(c.cab AS DOUBLE) * n.n) / (da.df * CAST(db.df AS DOUBLE)))
                   / -ln(CAST(c.cab AS DOUBLE) / n.n)''')} AS npmi_u
        FROM copres c
        JOIN dfreq da ON da.term = c.ta
        JOIN dfreq db ON db.term = c.tb
        CROSS JOIN n
        WHERE c.cab > 0
    ), tl AS (
        SELECT source, string_agg(term, ',' ORDER BY term) AS topic_terms
        FROM topic GROUP BY source
    )
    SELECT s.source, tl.topic_terms,
           CAST(count(*) AS BIGINT) AS n_pairs,
           {emit_micro('CAST(sum(npmi_u) AS DOUBLE) / count(*)')} AS mean_npmi
    FROM scored s JOIN tl USING (source)
    GROUP BY s.source, tl.topic_terms
    """,
)
def topic_coherence_npmi_q(spark, sf_dir):
    """Topic coherence via NPMI (Bouma '09 / the standard topic-model
    eval — do a topic's words actually CO-OCCUR, or did the model
    stitch frequent-but-unrelated terms?): each source's top-3
    presence terms play the topic, pairwise NPMI comes from
    document-level co-occurrence counts (NPMI = PMI normalized by
    −ln p(a,b): +1 perfect co-occurrence, 0 independence, −1 never
    together), per-pair scores micro-quantize before the per-topic
    mean. Presence/co-occurrence joins are keyed by the 15-row topic
    term set — the corpus contributes one DISTINCT (doc, term) pass
    and everything after is topic-bounded."""
    from ..functions import text as X

    docs = load_table(spark, sf_dir, "documents", split=True)
    pres = (
        docs.select(
            "doc_id", "source", F.explode(F.expr(X.tokens("text"))).alias("term")
        )
        .filter(F.col("term") != "")
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = docs.agg(F.count("*").cast("long").alias("n"))
    sfreq = pres.groupBy("source", "term").agg(F.count("*").cast("long").alias("c"))
    wt = Window.partitionBy("source").orderBy(F.col("c").desc(), "term")
    topic = (
        sfreq.select("source", "term", F.row_number().over(wt).alias("rk"))
        .filter(F.col("rk") <= 3)
        .drop("rk")
    )
    dfreq = pres.groupBy("term").agg(
        F.countDistinct("doc_id").cast("long").alias("df")
    )
    ta = topic.select("source", F.col("term").alias("ta"))
    tb = topic.select("source", F.col("term").alias("tb"))
    tpairs = ta.join(tb, "source").filter(F.col("ta") < F.col("tb"))
    pa = pres.select(F.col("term").alias("ta"), F.col("doc_id"))
    pb = pres.select(F.col("term").alias("tb"), F.col("doc_id"))
    copres = (
        tpairs.join(pa, "ta")
        .join(pb, ["tb", "doc_id"])
        .groupBy("source", "ta", "tb")
        .agg(F.countDistinct("doc_id").cast("long").alias("cab"))
    )
    scored = (
        copres.join(dfreq.select(F.col("term").alias("ta"), F.col("df").alias("dfa")), "ta")
        .join(dfreq.select(F.col("term").alias("tb"), F.col("df").alias("dfb")), "tb")
        .crossJoin(F.broadcast(n))
        .filter(F.col("cab") > 0)
        .select(
            "source",
            F.expr(
                to_micro(
                    "ln((cast(cab as double) * n) / (dfa * cast(dfb as double)))"
                    " / -ln(cast(cab as double) / n)"
                )
            ).alias("npmi_u"),
        )
    )
    tl = topic.groupBy("source").agg(
        F.array_join(F.sort_array(F.collect_list("term")), ",").alias("topic_terms")
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.expr(emit_micro("CAST(sum(npmi_u) AS DOUBLE) / count(*)")).alias("mean_npmi"),
        )
        .join(tl, "source")
        .select("source", "topic_terms", "n_pairs", "mean_npmi")
    )


# ---------------------------------------------------------------------------
# Holt-Winters seasonal forecast (r5 cont. — completes the forecasting
# ladder: OLS line -> Holt level+trend -> HW level+trend+season)
# ---------------------------------------------------------------------------


@query(
    "holt_winters_forecast",
    oracle=f"""
    WITH m AS (
        SELECT (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS month_id,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
        FROM orders GROUP BY month_id
    ), ser AS (
        SELECT CAST(count(*) AS BIGINT) AS n_months,
               list(CAST(rev_c AS DOUBLE) / 100 ORDER BY month_id) AS ys
        FROM m
    ), init AS (
        SELECT n_months, ys,
               list_sum(ys[1:12]) / 12 AS l0
        FROM ser
    ), fit AS (
        SELECT n_months,
               list_reduce(
                   [[l0, 0.0] || list_transform(ys[1:12], y -> y - l0)]
                   || list_transform(ys[13:CAST(n_months AS INTEGER)],
                                     y -> [y] || [0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
                                                  0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
                   (acc, x) ->
                       [0.5 * (x[1] - acc[3]) + 0.5 * (acc[1] + acc[2]),
                        0.5 * ((0.5 * (x[1] - acc[3]) + 0.5 * (acc[1] + acc[2])) - acc[1])
                          + 0.5 * acc[2]]
                       || acc[4:14]
                       || [0.5 * (x[1] - (0.5 * (x[1] - acc[3])
                                          + 0.5 * (acc[1] + acc[2])))
                           + 0.5 * acc[3]]
               ) AS st
        FROM init
    )
    SELECT CAST(h AS BIGINT) AS horizon, n_months,
           {from_micro(to_micro('st[1]'))} AS level_end,
           {from_micro(to_micro('st[2]'))} AS trend_end,
           {from_micro(to_micro('st[1] + h * st[2] + st[2 + h]'))} AS forecast
    FROM fit CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)
    """,
)
def holt_winters_forecast_q(spark, sf_dir):
    """Holt-Winters additive triple smoothing + 3-month seasonal
    forecast (the seasonality-aware member of the forecasting ladder:
    revenue_forecast's OLS line -> holt_forecast's level+trend -> HW
    level+trend+12 seasonal states; alpha=beta=gamma=0.5): the
    inherently sequential recursion runs as the bit-identical ordered
    fold (survival_km's contract) with a 14-element state vector —
    and the seasonal array is a ROTATING QUEUE (head = current
    month's seasonal; each step consumes the head and appends the
    updated value), so the fold needs NO computed list indices: pure
    concat/slice lambdas both engines evaluate identically. Init:
    level = first-year mean, seasonals = first-year deviations.
    Forecast h steps out reads the queue h positions in. The fact
    table collapses to ~80 cent-exact month totals before any of
    this; the fold runs on one row."""
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
            "transform(array_sort(collect_list(struct(month_id, rev_c))), "
            "s -> cast(s.rev_c as double) / 100)"
        ).alias("ys"),
    )
    init = ser.select(
        "n_months",
        "ys",
        F.expr(
            "aggregate(slice(ys, 1, 12), cast(0.0 as double), (a, y) -> a + y) / 12"
        ).alias("l0"),
    )
    fit = init.select(
        "n_months",
        F.expr(
            """
            aggregate(
                transform(slice(ys, 13, cast(n_months as int) - 12),
                          y -> concat(array(y), array_repeat(cast(0.0 as double), 13))),
                concat(array(l0, cast(0.0 as double)),
                       transform(slice(ys, 1, 12), y -> y - l0)),
                (acc, x) ->
                    concat(
                        array(
                            0.5 * (element_at(x, 1) - element_at(acc, 3))
                              + 0.5 * (element_at(acc, 1) + element_at(acc, 2)),
                            0.5 * ((0.5 * (element_at(x, 1) - element_at(acc, 3))
                                    + 0.5 * (element_at(acc, 1) + element_at(acc, 2)))
                                   - element_at(acc, 1))
                              + 0.5 * element_at(acc, 2)),
                        slice(acc, 4, 11),
                        array(
                            0.5 * (element_at(x, 1)
                                   - (0.5 * (element_at(x, 1) - element_at(acc, 3))
                                      + 0.5 * (element_at(acc, 1) + element_at(acc, 2))))
                              + 0.5 * element_at(acc, 3))))
            """
        ).alias("st"),
    )
    hs = spark.createDataFrame([(1,), (2,), (3,)], "h int")
    # Exact emission (SURVEY §6 rule; the r9 sf1 sweep caught round(x,6)
    # diverging in the last digit at 1.26e9 magnitude, where 6 dp sits
    # below ulp(x) ≈ 4.8e-7): micro-unit bigint, then ONE double
    # conversion shared by both engines.
    return fit.crossJoin(F.broadcast(hs)).select(
        F.col("h").cast("long").alias("horizon"),
        "n_months",
        F.expr(from_micro(to_micro("element_at(st, 1)"))).alias("level_end"),
        F.expr(from_micro(to_micro("element_at(st, 2)"))).alias("trend_end"),
        F.expr(
            from_micro(to_micro("element_at(st, 1) + h * element_at(st, 2) + element_at(st, 2 + h)"))
        ).alias("forecast"),
    )
