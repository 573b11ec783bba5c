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
from ..operators import chunking, knn, text_analysis  # noqa: F401
from ..operators.text_analysis import STOPWORDS  # noqa: F401
from ..sources import load_table  # noqa: F401
from ..sources.tables import sample_vectors

from ..registry_core import (  # noqa: F401
    LAZY_ORACLES,
    ORACLES,
    QUERIES,
    query,
)

from .part02_index_build_diag_curation import _knn_graph_edges, _knn_graph_oracle  # noqa: F401


_WAND_TERMS = ("spark", "join", "fast", "batch", "scan")


@query(
    "wand_pruning_sim",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, len(string_split(text, ' ')) AS dl,
               unnest(string_split(text, ' ')) AS term
        FROM documents
    ), qtoks AS (
        SELECT * FROM toks
        WHERE term IN ({", ".join(f"'{t}'" for t in _WAND_TERMS)})
    ), tf AS (
        SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf, min(dl) AS dl
        FROM qtoks GROUP BY doc_id, term
    ), stats AS (
        SELECT count(*) AS n, avg(len(string_split(text, ' '))) AS avgdl
        FROM documents
    ), dfreq AS (
        SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term
    ), contrib AS (
        SELECT tf.doc_id, tf.term,
               ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
                 * (tf.tf * (1.2 + 1))
                 / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / s.avgdl)) AS w
        FROM tf JOIN dfreq d USING (term) CROSS JOIN stats s
    ), ub AS (
        SELECT term, max(w) AS ub FROM contrib GROUP BY term
    ), full_score AS (
        SELECT doc_id, sum(w) AS score FROM contrib GROUP BY doc_id
    ), theta AS (
        SELECT min(score) AS theta FROM (
            SELECT score FROM full_score
            ORDER BY score DESC, doc_id LIMIT 10)
    ), per_doc AS (
        SELECT c.doc_id, sum(u.ub) AS ub_sum, sum(c.w) AS score
        FROM contrib c JOIN ub u USING (term)
        GROUP BY c.doc_id
    ), verdict AS (
        SELECT d.doc_id, d.ub_sum < t.theta AS skippable,
               d.score >= t.theta AS in_topk
        FROM per_doc d CROSS JOIN theta t
    )
    SELECT CAST(count(*) AS BIGINT) AS n_candidates,
           CAST(sum(CASE WHEN skippable THEN 1 ELSE 0 END) AS BIGINT)
               AS n_skippable,
           round(CAST(sum(CASE WHEN skippable THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS skip_fraction,
           round((SELECT theta FROM theta), 6) AS theta,
           CAST(sum(CASE WHEN skippable AND in_topk THEN 1 ELSE 0 END) AS BIGINT)
               = 0 AS safe
    FROM verdict
    """,
)
def wand_pruning_sim_q(spark, sf_dir):
    """WAND dynamic-pruning audit (Broder CIKM'03 — the upper-bound
    skipping that makes exhaustive BM25 top-k affordable: a doc whose
    sum of per-term score CEILINGS can't reach the current k-th score
    is never fully scored): per-term max contributions form the
    upper-bound table (terms-sized, broadcast), theta = exact 10th
    best full score, and the verdict counts candidates WAND would
    skip plus the safety proof (no skipped doc is in the true
    top-k — the certificate the pruning's correctness rests on).
    One tokenize pass feeds tf/df/contributions; everything after is
    term- or candidate-bounded. The skip_fraction is the number that
    justifies (or kills) maintaining per-term max-score metadata in
    keyword_index_* layouts at 100 TB."""
    from ..functions import text as X

    docs = load_table(spark, sf_dir, "documents", split=True)
    toks = docs.select(
        "doc_id",
        F.size(F.expr(X.tokens("text"))).alias("dl"),
        F.explode(F.expr(X.tokens("text"))).alias("term"),
    )
    qtoks = toks.filter(F.col("term").isin(*_WAND_TERMS))
    tf = qtoks.groupBy("doc_id", "term").agg(
        F.count("*").cast("double").alias("tf"), F.min("dl").alias("dl")
    )
    stats = docs.agg(
        F.count("*").alias("n"),
        F.avg(F.size(F.expr(X.tokens("text")))).alias("avgdl"),
    )
    dfreq = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    contrib = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "term",
            (
                F.log(1.0 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
                * (F.col("tf") * (1.2 + 1))
                / (
                    F.col("tf")
                    + 1.2 * (1 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl"))
                )
            ).alias("w"),
        )
        .localCheckpoint(eager=False)
    )
    ub = contrib.groupBy("term").agg(F.max("w").alias("ub"))
    full_score = contrib.groupBy("doc_id").agg(F.sum("w").alias("score"))
    theta = (
        full_score.orderBy(F.col("score").desc(), "doc_id")
        .limit(10)
        .agg(F.min("score").alias("theta"))
    )
    per_doc = (
        contrib.join(F.broadcast(ub), "term")
        .groupBy("doc_id")
        .agg(F.sum("ub").alias("ub_sum"), F.sum("w").alias("score"))
    )
    verdict = per_doc.crossJoin(F.broadcast(theta)).select(
        (F.col("ub_sum") < F.col("theta")).alias("skippable"),
        (F.col("score") >= F.col("theta")).alias("in_topk"),
        "theta",
    )
    return verdict.agg(
        F.count("*").cast("long").alias("n_candidates"),
        F.sum(F.when(F.col("skippable"), 1).otherwise(0))
        .cast("long")
        .alias("n_skippable"),
        F.round(
            F.sum(F.when(F.col("skippable"), 1).otherwise(0)).cast("double")
            / F.count("*"),
            6,
        ).alias("skip_fraction"),
        F.round(F.first("theta"), 6).alias("theta"),
        (
            F.sum(F.when(F.col("skippable") & F.col("in_topk"), 1).otherwise(0)) == 0
        ).alias("safe"),
    )


@query(
    "padding_waste_audit",
    oracle="""
    WITH d AS (
        SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents
    ), tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS total_tokens,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM d
    ), grid AS (
        SELECT L FROM (VALUES (32), (64), (128)) AS t(L)
    ), per AS (
        SELECT g.L,
               CAST(sum(((d.n + g.L - 1) // g.L) * g.L - d.n) AS BIGINT)
                   AS doc_pad_tokens
        FROM d CROSS JOIN grid g GROUP BY g.L
    )
    SELECT CAST(p.L AS BIGINT) AS seq_len,
           t.n_docs, t.total_tokens,
           p.doc_pad_tokens,
           round(CAST(p.doc_pad_tokens AS DOUBLE)
                 / (t.total_tokens + p.doc_pad_tokens), 6) AS doc_pad_fraction,
           CAST(CASE WHEN t.total_tokens % p.L = 0 THEN 0
                     ELSE p.L - t.total_tokens % p.L END AS BIGINT)
               AS concat_pad_tokens,
           round(CAST(CASE WHEN t.total_tokens % p.L = 0 THEN 0
                           ELSE p.L - t.total_tokens % p.L END AS DOUBLE)
                 / (t.total_tokens
                    + CASE WHEN t.total_tokens % p.L = 0 THEN 0
                           ELSE p.L - t.total_tokens % p.L END), 6)
               AS concat_pad_fraction
    FROM per p CROSS JOIN tot t
    """,
)
def padding_waste_audit_q(spark, sf_dir):
    """Padding-waste audit across a sequence-length grid (the sizing
    table behind sequence_packing: pad-per-document wastes
    ceil(n/L)·L − n tokens PER DOC, concat-then-chunk packing wastes
    only the stream tail — this measures exactly how much compute the
    packing layout buys at each candidate training length): per-doc
    token counts reduce map-side, the 3-point grid joins as a
    broadcast literal at the aggregation (3 rows cost one grouped
    agg, the bm25_tuning_grid trick), every waste number an exact
    integer. At 100 TB the doc_pad_fraction column is the GPU-hours
    argument for running sequence_packing at all."""
    from ..functions import text as X

    docs = load_table(spark, sf_dir, "documents", split=True)
    d = docs.select(F.size(F.expr(X.tokens("text"))).cast("long").alias("n"))
    grid = spark.createDataFrame([(32,), (64,), (128,)], "L int")
    per = (
        d.crossJoin(F.broadcast(grid))
        .groupBy("L")
        .agg(
            F.sum(F.expr("((n + L - 1) div L) * L - n"))
            .cast("long")
            .alias("doc_pad_tokens")
        )
    )
    tot = d.agg(
        F.sum("n").cast("long").alias("total_tokens"),
        F.count("*").cast("long").alias("n_docs"),
    )
    j = per.crossJoin(F.broadcast(tot))
    concat_pad = F.when(
        F.col("total_tokens") % F.col("L") == 0, F.lit(0)
    ).otherwise(F.col("L") - F.col("total_tokens") % F.col("L"))
    return j.select(
        F.col("L").cast("long").alias("seq_len"),
        "n_docs",
        "total_tokens",
        "doc_pad_tokens",
        F.round(
            F.col("doc_pad_tokens").cast("double")
            / (F.col("total_tokens") + F.col("doc_pad_tokens")),
            6,
        ).alias("doc_pad_fraction"),
        concat_pad.cast("long").alias("concat_pad_tokens"),
        F.round(
            concat_pad.cast("double") / (F.col("total_tokens") + concat_pad), 6
        ).alias("concat_pad_fraction"),
    )


# ---------------------------------------------------------------------------
# Cascade retrieval + lakehouse MERGE wave (r5 cont.)
# ---------------------------------------------------------------------------


@query(
    "cascade_retrieval_sim",
    oracle=f"""
    WITH w AS (
        SELECT vec_id, embedding,
               {V.dd_sign_bits('embedding[1:32]', 32)} AS lo,
               {V.dd_sign_bits('embedding[33:64]', 32)} AS hi
        FROM embeddings
    ), q AS (SELECT lo AS qlo, hi AS qhi, embedding AS qv FROM w WHERE vec_id = 0),
    s1 AS (
        SELECT w.vec_id, w.embedding
        FROM w, q WHERE w.vec_id <> 0
        ORDER BY bit_count(xor(w.lo, q.qlo)) + bit_count(xor(w.hi, q.qhi)), w.vec_id
        LIMIT 50
    ), am AS (
        SELECT {V.dd_sq8_absmax('embedding')} AS absmax FROM embeddings
    ), qc AS (
        SELECT {V.dd_sq8_code('e.embedding', 'am.absmax')} AS qcodes
        FROM embeddings e, am WHERE e.vec_id = 0
    ), s2 AS (
        SELECT s1.vec_id, s1.embedding
        FROM s1, am, qc
        ORDER BY {V.dd_code_sq_dist(V.dd_sq8_code('s1.embedding', 'am.absmax'), 'qc.qcodes')}, s1.vec_id
        LIMIT 20
    ), s3 AS (
        SELECT s2.vec_id, {V.dd_euclidean('s2.embedding', 'q.qv')} AS l2
        FROM s2, q
        ORDER BY l2, s2.vec_id LIMIT 10
    ), truth AS (
        SELECT w.vec_id FROM w, q WHERE w.vec_id <> 0
        ORDER BY {V.dd_euclidean('w.embedding', 'q.qv')}, w.vec_id LIMIT 10
    )
    SELECT CAST(row_number() OVER (ORDER BY s3.l2, s3.vec_id) AS BIGINT) AS rank,
           s3.vec_id, round(s3.l2, 6) AS exact_l2,
           t.vec_id IS NOT NULL AS in_exact_topk
    FROM s3 LEFT JOIN truth t ON s3.vec_id = t.vec_id
    """,
)
def cascade_retrieval_sim_q(spark, sf_dir):
    """Multi-stage cascade retrieval (the production serving shape
    that makes billion-scale ANN affordable: a dirt-cheap stage
    over-recalls, each later stage re-ranks a shrinking shortlist
    with a more faithful distance): sign-bit Hamming (8 B/vector,
    xor+popcount) recalls 50 → uniform-SQ8 integer distance re-ranks
    to 20 → exact float L2 scores the survivors, graded against the
    exact top-10 with a per-row membership flag. Stage budgets bound
    every later stage's work (candidate fetches are broadcast-id
    semi-joins, never corpus passes); the full corpus is touched only
    by the 8-byte word scan, the absmax scalar agg, and the truth
    tower (which exists only to grade — production runs stages 1-3).
    Composes the ann_binary_hamming and ann_sq8 kernels bit-exactly,
    so the whole cascade hash-checks."""
    from ..operators.ann import sign_bit_words

    emb = load_table(spark, sf_dir, "embeddings", split=True)
    lo, hi = sign_bit_words("embedding")
    words = emb.selectExpr("vec_id", "embedding", f"{lo} AS _lo", f"{hi} AS _hi")
    q = words.filter(F.col("vec_id") == 0).select(
        F.col("_lo").alias("_qlo"),
        F.col("_hi").alias("_qhi"),
        F.col("embedding").alias("_qv"),
    )
    s1 = (
        words.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q.select("_qlo", "_qhi")))
        .select(
            "vec_id",
            "embedding",
            (
                F.bit_count(F.col("_lo").bitwiseXOR(F.col("_qlo")))
                + F.bit_count(F.col("_hi").bitwiseXOR(F.col("_qhi")))
            ).alias("_ham"),
        )
        .orderBy("_ham", "vec_id")
        .limit(50)
        .select("vec_id", "embedding")
    )
    absmax = emb.selectExpr(f"{V.sq8_absmax('embedding')} AS _absmax")
    qc = (
        emb.filter(F.col("vec_id") == 0)
        .crossJoin(F.broadcast(absmax))
        .selectExpr(f"{V.sq8_code('embedding', '_absmax')} AS _qcodes")
    )
    cd = V.code_sq_dist(V.sq8_code("embedding", "_absmax"), "_qcodes")
    s2 = (
        s1.crossJoin(F.broadcast(absmax))
        .crossJoin(F.broadcast(qc))
        .selectExpr("vec_id", "embedding", f"{cd} AS _cd")
        .orderBy("_cd", "vec_id")
        .limit(20)
        .select("vec_id", "embedding")
    )
    s3 = (
        s2.crossJoin(F.broadcast(q.select("_qv")))
        .select("vec_id", F.expr(V.euclidean("embedding", "_qv")).alias("l2"))
        .orderBy("l2", "vec_id")
        .limit(10)
    )
    truth = (
        words.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q.select("_qv")))
        .select("vec_id", F.expr(V.euclidean("embedding", "_qv")).alias("tl2"))
        .orderBy("tl2", "vec_id")
        .limit(10)
        .select(F.col("vec_id").alias("tid"))
    )
    wr = Window.orderBy("l2", "vec_id")
    return (
        s3.join(F.broadcast(truth), s3.vec_id == truth.tid, "left")
        .select(
            F.row_number().over(wr).cast("long").alias("rank"),
            "vec_id",
            F.round("l2", 6).alias("exact_l2"),
            F.col("tid").isNotNull().alias("in_exact_topk"),
        )
    )


@query(
    "merge_into_apply",
    oracle="""
    WITH t AS (
        SELECT c_custkey AS key,
               CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
        FROM customer
    ), mx AS (SELECT max(key) AS mk FROM t),
    src AS (
        SELECT key, 'U' AS op, bal_c * 11 // 10 AS new_bal
        FROM t WHERE key % 7 = 0 AND key % 13 <> 0
        UNION ALL
        SELECT key, 'D', NULL FROM t WHERE key % 13 = 0
        UNION ALL
        SELECT mx.mk + i + 1, 'I', CAST((i + 1) * 1000 + 50 AS BIGINT)
        FROM range(50) AS r(i), mx
    ), m AS (
        SELECT coalesce(t.key, s.key) AS key,
               CASE WHEN s.op IS NULL THEN 'unchanged'
                    WHEN s.op = 'U' THEN 'updated'
                    WHEN s.op = 'D' THEN 'deleted'
                    ELSE 'inserted' END AS status,
               CASE WHEN s.op = 'U' THEN s.new_bal
                    WHEN s.op = 'I' THEN s.new_bal
                    ELSE t.bal_c END AS bal_c
        FROM t FULL OUTER JOIN src s ON t.key = s.key
    )
    SELECT CAST(key AS BIGINT) AS c_custkey, CAST(bal_c AS BIGINT) AS balance_c,
           status
    FROM m WHERE status <> 'deleted'
    """,
)
def merge_into_apply_q(spark, sf_dir):
    """Lakehouse MERGE INTO (Delta/Iceberg's upsert verb — the
    three-branch fold cdc_apply's last-write-wins is a special case
    of): WHEN MATCHED AND cond THEN DELETE (every 13th key), WHEN
    MATCHED THEN UPDATE (every 7th key, +10% balance in EXACT integer
    cents — bal·11 div 10, no float money math), WHEN NOT MATCHED
    THEN INSERT (50 new keys above the current max, which rides a
    1-row broadcast). One FULL OUTER join on bare keys resolves every
    branch; the emitted frame is the complete post-MERGE table state
    with per-row status, so the oracle hash-checks the entire merge
    result, not just counts. Delete-wins precedence for keys matching
    both conditions is by source construction (a key contributes one
    source row)."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"),
        F.expr("cast(round(c_acctbal * 100) as bigint)").alias("bal_c"),
    )
    mx = c.agg(F.max("key").alias("mk"))
    upd = c.filter((F.col("key") % 7 == 0) & (F.col("key") % 13 != 0)).select(
        "key", F.lit("U").alias("op"), F.expr("bal_c * 11 div 10").alias("new_bal")
    )
    dele = c.filter(F.col("key") % 13 == 0).select(
        "key", F.lit("D").alias("op"), F.lit(None).cast("long").alias("new_bal")
    )
    ins = (
        spark.range(50)
        .crossJoin(F.broadcast(mx))
        .select(
            (F.col("mk") + F.col("id") + 1).alias("key"),
            F.lit("I").alias("op"),
            ((F.col("id") + 1) * 1000 + 50).cast("long").alias("new_bal"),
        )
    )
    src = upd.unionByName(dele).unionByName(ins)
    m = c.join(src, "key", "full_outer").select(
        "key",
        F.when(F.col("op").isNull(), "unchanged")
        .when(F.col("op") == "U", "updated")
        .when(F.col("op") == "D", "deleted")
        .otherwise("inserted")
        .alias("status"),
        F.when(F.col("op").isin("U", "I"), F.col("new_bal"))
        .otherwise(F.col("bal_c"))
        .alias("bal_c"),
    )
    return m.filter(F.col("status") != "deleted").select(
        F.col("key").cast("long").alias("c_custkey"),
        F.col("bal_c").cast("long").alias("balance_c"),
        "status",
    )


# ---------------------------------------------------------------------------
# Seeding quality + graph walk sampling wave (r5 cont.)
# ---------------------------------------------------------------------------


def _seeding_sets(sf_dir: str):
    """Two deterministic 8-seed sets over the fit sample: naive first-k
    (the init of ann._lloyd_books) vs Gonzalez farthest-point (the
    deterministic k-means++ shape: next seed = point maximizing its
    min distance to the chosen set, ties to lowest index)."""
    import numpy as np

    k = 8
    x = sample_vectors(sf_dir, 4096)
    firstk = [[float(v) for v in row] for row in x[:k]]
    chosen = [0]
    d2 = ((x - x[0]) ** 2).sum(axis=1)
    for _ in range(k - 1):
        nxt = int(d2.argmax())  # argmax ties -> lowest index
        chosen.append(nxt)
        d2 = np.minimum(d2, ((x - x[nxt]) ** 2).sum(axis=1))
    far = [[float(v) for v in x[i]] for i in chosen]
    return firstk, far


def _min_d2_sql(vec: str, cents: list[list[float]]) -> str:
    lits = ("[" + ", ".join(repr(v) for v in c) + "]" for c in cents)
    return "least(" + ", ".join(V.dd_sq_euclidean(vec, lit) for lit in lits) + ")"


def _seeding_oracle(sf_dir: str) -> str:
    firstk, far = _seeding_sets(sf_dir)
    return f"""
    WITH costs AS (
        SELECT {to_micro(_min_d2_sql('embedding', firstk))} AS c_first,
               {to_micro(_min_d2_sql('embedding', far))} AS c_far
        FROM embeddings
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(c_first) AS BIGINT) AS t_first,
               CAST(sum(c_far) AS BIGINT) AS t_far
        FROM costs
    ), u AS (
        SELECT 'first_k' AS seeding, n, t_first AS total_u FROM s
        UNION ALL
        SELECT 'farthest_point', n, t_far FROM s
    )
    SELECT seeding, n,
           {emit_micro('total_u')} AS total_cost,
           {emit_micro('CAST(total_u AS DOUBLE) / n')} AS mean_cost,
           round(CAST(total_u AS DOUBLE) / min(total_u) OVER (), 6) AS vs_best
    FROM u
    """


@query("seeding_quality_eval")  # oracle: LAZY_ORACLES (per-sf seed literals)
def seeding_quality_eval_q(spark, sf_dir):
    """Quantizer seeding quality (the init step kmeans_refine and
    ann.kmeans_fit_sample take as given: the first k sample vectors) —
    k-means++-style spread seeding vs that naive first-k init,
    measured as k-means assignment cost BEFORE
    any Lloyd round): both seed sets fit driver-side on the bounded
    deterministic sample (Gonzalez '85 farthest-point as the
    deterministic k-means++ shape), then ONE corpus pass scores both
    (per-vector min squared L2 to each literal set, micro-quantized
    before the order-free integer sum). The vs_best column is the
    init-quality gap a bad seeding hands to every later Lloyd
    iteration. Same literal-inlining oracle posture as IVF centroids
    / PCA basis."""
    firstk, far = _seeding_sets(sf_dir)

    def min_d2(vec, cents):
        return f"least({', '.join(V.sq_euclidean(vec, V.sql_literal(c)) for c in cents)})"

    emb = load_table(spark, sf_dir, "embeddings", split=True)
    costs = emb.select(
        F.expr(to_micro(min_d2("embedding", firstk))).alias("c_first"),
        F.expr(to_micro(min_d2("embedding", far))).alias("c_far"),
    )
    s = costs.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("c_first").cast("long").alias("t_first"),
        F.sum("c_far").cast("long").alias("t_far"),
    )
    u = s.select(
        F.explode(
            F.array(
                F.struct(F.lit("first_k").alias("seeding"), F.col("t_first").alias("total_u")),
                F.struct(F.lit("farthest_point").alias("seeding"), F.col("t_far").alias("total_u")),
            )
        ).alias("r"),
        "n",
    ).select(F.col("r.seeding").alias("seeding"), "n", F.col("r.total_u").alias("total_u"))
    wa = Window.partitionBy()
    return u.select(
        "seeding",
        "n",
        F.expr(emit_micro("total_u")).alias("total_cost"),
        F.expr(emit_micro("CAST(total_u AS DOUBLE) / n")).alias("mean_cost"),
        F.round(
            F.col("total_u").cast("double") / F.min("total_u").over(wa), 6
        ).alias("vs_best"),
    )


LAZY_ORACLES["seeding_quality_eval"] = _seeding_oracle


def _walks_oracle(sf_dir: str) -> str:
    base = _knn_graph_oracle(sf_dir).rsplit("SELECT src, dst", 1)[0]
    steps_sql = ""
    prev = "w0"
    selects = ["SELECT walk_id, CAST(0 AS BIGINT) AS step, node FROM w0"]
    for i in (1, 2, 3):
        steps_sql += f"""
    , s{i} AS (
        SELECT {prev}.walk_id, e.dst AS node
        FROM {prev}
        JOIN dg d ON d.src = {prev}.node
        JOIN edges e ON e.src = {prev}.node
         AND e.rank = {H.dd_md5_long(f"({prev}.walk_id)::VARCHAR || '|{i}'", 'walk')} % d.deg + 1
    )"""
        selects.append(f"SELECT walk_id, {i}, node FROM s{i}")
        prev = f"s{i}"
    return (
        base
        + """, e3 AS (SELECT src, dst, rank FROM ranked WHERE rank <= 3),
    dg AS (SELECT src, CAST(max(rank) AS BIGINT) AS deg FROM e3 GROUP BY src),
    w0 AS (SELECT vec_id AS walk_id, vec_id AS node FROM embeddings)
    """
        + steps_sql.replace("JOIN edges e", "JOIN e3 e")
        + "\n    "
        + " UNION ALL ".join(selects)
    )


@query("graph_random_walks")  # oracle attached below (plane literals)
def graph_random_walks_q(spark, sf_dir):
    """Deterministic random-walk sampling over the corpus kNN graph
    (DeepWalk/node2vec's sequence-generation step — walks feed the
    same skip-gram machinery skipgram_pairs builds for text): one
    walk of length 4 starts at every node, and step i moves to
    neighbor index md5(walk_id|i) mod degree — the seeded-md5 family
    again, so the walk corpus is identical across engines, runs, and
    cluster sizes (rand() could never be). Edges come from the shared
    LSH-bounded kNN build (degree ≤ 3); each step is one equi-join of
    the frontier against the ranked edge list on (node, chosen rank)
    — 3 bounded joins, no iteration state. Isolated nodes emit only
    their start row (the walk terminates, as in DeepWalk)."""
    edges = _knn_graph_edges(spark, sf_dir).select("src", "dst", "rank")
    edges = edges.localCheckpoint(eager=False)
    dg = edges.groupBy("src").agg(F.max("rank").cast("long").alias("deg"))
    emb = load_table(spark, sf_dir, "embeddings")
    frontier = emb.select(
        F.col("vec_id").alias("walk_id"), F.col("vec_id").alias("node")
    )
    outs = [
        frontier.select(
            "walk_id", F.lit(0).cast("long").alias("step"), "node"
        )
    ]
    for i in (1, 2, 3):
        chosen = (
            F.expr(H.md5_long(f"concat(CAST(walk_id AS STRING), '|{i}')", "walk"))
            % F.col("deg")
            + 1
        )
        frontier = (
            frontier.join(dg, dg.src == frontier.node)
            .join(
                edges.select(
                    F.col("src").alias("_es"),
                    F.col("dst").alias("_ed"),
                    F.col("rank").alias("_er"),
                ),
                (F.col("_es") == F.col("node")) & (F.col("_er") == chosen),
            )
            .select("walk_id", F.col("_ed").alias("node"))
        )
        outs.append(
            frontier.select("walk_id", F.lit(i).cast("long").alias("step"), "node")
        )
    from functools import reduce

    return reduce(lambda a, b: a.unionByName(b), outs)


LAZY_ORACLES["graph_random_walks"] = _walks_oracle


# ---------------------------------------------------------------------------
# OOD mining + retention decay + sketch-merge proof wave (r5 cont.)
# ---------------------------------------------------------------------------


@query(
    "ood_mahalanobis",
    oracle="""
    WITH ex AS (
        SELECT vec_id, label, i AS pos, embedding[i + 1]::DOUBLE AS v
        FROM embeddings, range(64) t(i)
    ), st AS (
        SELECT label, pos, round(avg(v), 6) AS m,
               round(avg(v * v) - avg(v) * avg(v), 6) AS s2
        FROM ex GROUP BY label, pos
    ), d AS (
        SELECT e.vec_id, e.label,
               CAST(sum(CAST(round((e.v - st.m) * (e.v - st.m)
                    / (st.s2 + 0.000001) * 1e9) AS BIGINT)) AS BIGINT) AS mdu
        FROM ex e JOIN st ON e.label = st.label AND e.pos = st.pos
        GROUP BY e.vec_id, e.label
    )
    SELECT CAST(row_number() OVER (ORDER BY mdu DESC, vec_id) AS BIGINT) AS rank,
           vec_id, label, round(sqrt(mdu / 1e9), 6) AS mahalanobis
    FROM d ORDER BY mdu DESC, vec_id LIMIT 20
    """,
)
def ood_mahalanobis_q(spark, sf_dir):
    """Out-of-distribution mining via diagonal-covariance Mahalanobis
    distance (Lee NeurIPS'18's OOD score; the statistically-honest
    upgrade of label_outliers' euclidean — a dimension with natural
    spread shouldn't scream outlier): per-(label, dim) mean AND
    variance from the same single posexplode shuffle, both ROUNDED to
    6 dp so the reference representation is engine-stable; per-dim
    contributions (x−μ)²/(σ²+ε) quantize to nano-units before the
    order-free integer sum; top-20 via sort-limit. The |labels|×dim
    stats frame broadcasts — nothing pairwise anywhere."""
    emb = load_table(spark, sf_dir, "embeddings", split=True)
    ex = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"),
    )
    st = ex.groupBy("label", "pos").agg(
        F.round(F.avg("v"), 6).alias("m"),
        F.round(F.avg(F.col("v") * F.col("v")) - F.avg("v") * F.avg("v"), 6).alias(
            "s2"
        ),
    )
    contrib = F.round(
        (F.col("v") - F.col("m"))
        * (F.col("v") - F.col("m"))
        / (F.col("s2") + 0.000001)
        * 1e9
    ).cast("long")
    d = (
        ex.join(F.broadcast(st), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(F.sum(contrib).alias("mdu"))
    )
    w = Window.orderBy(F.col("mdu").desc(), "vec_id")
    return (
        d.orderBy(F.col("mdu").desc(), "vec_id")
        .limit(20)
        .select(
            F.row_number().over(w).cast("long").alias("rank"),
            "vec_id",
            "label",
            F.round(F.sqrt(F.col("mdu") / 1e9), 6).alias("mahalanobis"),
        )
    )


@query(
    "retention_halflife_fit",
    oracle=f"""
    WITH e AS (
        SELECT user_id, epoch_ns(ts) // 86400000000000 AS wk FROM events
    ), fw AS (
        SELECT user_id, min(wk) AS first_wk FROM e GROUP BY user_id
    ), mx AS (SELECT max(wk) AS maxw FROM e),
    act AS (
        SELECT DISTINCT e.user_id, e.wk - f.first_wk AS off
        FROM e JOIN fw f USING (user_id)
    ), num AS (
        SELECT off, CAST(count(*) AS BIGINT) AS active
        FROM act WHERE off >= 1 AND off <= 14 GROUP BY off
    ), den AS (
        SELECT o.off, CAST(count(*) AS BIGINT) AS eligible
        FROM fw, mx, (SELECT unnest(range(1, 15)) AS off) o
        WHERE fw.first_wk + o.off <= mx.maxw
        GROUP BY o.off
    ), pts AS (
        SELECT n.off AS x,
               ln(CAST(n.active AS DOUBLE) / d.eligible) AS y
        FROM num n JOIN den d USING (off)
        WHERE n.active > 0 AND d.eligible > 0
    ), q AS (
        SELECT CAST(x AS BIGINT) AS xi,
               {to_micro('y')} AS yu
        FROM pts
    ), m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(xi) AS BIGINT) AS sx,
               CAST(sum(xi * xi) AS BIGINT) AS sxx,
               CAST(sum(yu) AS BIGINT) AS sy,
               CAST(sum(xi * yu) AS BIGINT) AS sxy,
               CAST(sum(yu * yu) AS BIGINT) AS syy
        FROM q
    )
    SELECT n AS n_points,
           CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                ELSE {emit_micro('''-(CAST(n * sxy - sx * sy AS DOUBLE)
                             / (n * sxx - sx * sx))''')} END AS lambda,
           CASE WHEN n * sxx - sx * sx = 0 OR n * sxy - sx * sy >= 0 THEN NULL
                ELSE round(0.6931471805599453
                           / ((CAST(n * sxy - sx * sy AS DOUBLE)
                               / (n * sxx - sx * sx)) / -{MICRO}), 6) END
               AS half_life_days,
           CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN NULL
                ELSE round(CAST(n * sxy - sx * sy AS DOUBLE) * (n * sxy - sx * sy)
                           / ((CAST(n * sxx - sx * sx AS DOUBLE))
                              * (CAST(n * syy - sy * sy AS DOUBLE))), 6) END AS r2
    FROM m
    """,
)
def retention_halflife_fit_q(spark, sf_dir):
    """Retention half-life fit (the engagement-decay constant a
    growth model plugs into LTV math: retention ≈ e^(−λ·age) ⇒
    half-life = ln2/λ): pooled daily retention rates at offsets 1-14
    with censoring-aware denominators (only users whose first week
    leaves room for the offset count as eligible), then log-linear
    OLS via the exact-moment closed form — ln(rate) micro-quantizes
    so all five moments are order-free BIGINTs (zipf_fit's recipe
    pointed at the retention curve). One (user, week) distinct +
    week-bounded frames after."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select("user_id", F.expr("ts_ns div 86400000000000").alias("wk"))
    fw = e.groupBy("user_id").agg(F.min("wk").alias("first_wk"))
    mx = e.agg(F.max("wk").alias("maxw"))
    act = (
        e.join(fw, "user_id")
        .select("user_id", (F.col("wk") - F.col("first_wk")).alias("off"))
        .distinct()
    )
    num = (
        act.filter((F.col("off") >= 1) & (F.col("off") <= 14))
        .groupBy("off")
        .agg(F.count("*").cast("long").alias("active"))
    )
    offs = spark.range(1, 15).select(F.col("id").alias("off"))
    den = (
        fw.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(offs))
        .filter(F.col("first_wk") + F.col("off") <= F.col("maxw"))
        .groupBy("off")
        .agg(F.count("*").cast("long").alias("eligible"))
    )
    pts = (
        num.join(den, "off")
        .filter((F.col("active") > 0) & (F.col("eligible") > 0))
        .select(
            F.col("off").cast("long").alias("xi"),
            F.expr(
                to_micro("ln(cast(active as double) / eligible)")
            ).alias("yu"),
        )
    )
    m = pts.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("xi").cast("long").alias("sx"),
        F.sum(F.col("xi") * F.col("xi")).cast("long").alias("sxx"),
        F.sum("yu").cast("long").alias("sy"),
        F.sum(F.col("xi") * F.col("yu")).cast("long").alias("sxy"),
        F.sum(F.col("yu") * F.col("yu")).cast("long").alias("syy"),
    )
    sxx_d = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    sxy_n = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    syy_d = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    slope = "CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx)"
    return m.select(
        F.col("n").alias("n_points"),
        F.when(sxx_d == 0, F.lit(None).cast("double"))
        .otherwise(F.expr(emit_micro(f"-({slope})")))
        .alias("lambda"),
        F.when((sxx_d == 0) | (sxy_n >= 0), F.lit(None).cast("double"))
        .otherwise(F.expr(f"round(0.6931471805599453D / (({slope}) / -{MICRO}), 6)"))
        .alias("half_life_days"),
        F.when((sxx_d == 0) | (syy_d == 0), F.lit(None).cast("double"))
        .otherwise(
            F.round(
                sxy_n.cast("double") * sxy_n / (sxx_d.cast("double") * syy_d.cast("double")),
                6,
            )
        )
        .alias("r2"),
    )


@query("hll_merge_rollup", oracle=None)  # oracle attached below
def hll_merge_rollup_q(spark, sf_dir):
    """HLL register-merge proof (the property that makes HLL the
    distributed distinct counter: per-slice sketches merge by
    register-wise max, and merging per-type sketches yields EXACTLY
    the registers a direct whole-corpus sketch builds — so the merged
    estimate equals the rebuild estimate bit-for-bit, hash-proven
    here by the 'merged' and 'direct' rows agreeing): per-event-type
    register tables from one (type, idx) groupBy over the shift-or
    rho cascade, the merged sketch one register-wise max over the
    5×256-bounded frame, the direct sketch recomputed from scratch
    from the raw hashes. Per scope: set registers, HLL estimate
    (small-range corrected), exact NDV. 256 bytes of state per
    slice is what crosses the wire at 100 TB — not user lists."""
    ev = load_table(spark, sf_dir, "events")
    SCALE = 9007199254740992  # 2^53

    def regs_for(frame, scope_col):
        h = frame.select(
            scope_col.alias("scope"),
            F.expr(H.md5_long("CAST(user_id AS STRING)")).alias("h"),
        ).distinct()
        b = h.select(
            "scope",
            F.expr("shiftright(h, 52)").alias("idx"),
            F.expr("h & 4503599627370495").alias("w"),
        )
        for k in (1, 2, 4, 8, 16, 32):
            b = b.withColumn("w", F.expr(f"w | shiftright(w, {k})"))
        return b.groupBy("scope", "idx").agg(
            F.expr("max(53 - bit_count(w))").alias("m_j")
        )

    per_type = regs_for(ev, F.col("event_type")).localCheckpoint(eager=False)
    merged = per_type.groupBy("idx").agg(F.max("m_j").alias("m_j")).select(
        F.lit("merged").alias("scope"), "idx", "m_j"
    )
    direct = regs_for(ev, F.lit("direct"))
    regs = per_type.unionByName(merged).unionByName(direct)
    agg = regs.groupBy("scope").agg(
        F.count("*").alias("n_present"),
        F.sum(F.expr("shiftleft(cast(1 as bigint), cast(53 - m_j as int))")).alias(
            "sum_scaled"
        ),
    )
    est = agg.select(
        "scope",
        (F.lit(256) - F.col("n_present")).alias("n_zero"),
        (
            F.lit(0.7213 / (1 + 1.079 / 256))
            * F.lit(65536.0)
            * F.lit(float(SCALE))
            / (F.col("sum_scaled") + (F.lit(256) - F.col("n_present")) * F.lit(SCALE))
        ).alias("e_raw"),
    )
    ex_t = ev.groupBy(F.col("event_type").alias("scope")).agg(
        F.count_distinct("user_id").alias("ndv_exact")
    )
    ex_all = ev.agg(F.count_distinct("user_id").alias("ndv"))
    ex_md = ex_all.select(
        F.explode(V.lit_array(["merged", "direct"])).alias("scope"),
        F.col("ndv").alias("ndv_exact"),
    )
    exact = ex_t.unionByName(ex_md)
    e_fix = F.when(
        (F.col("e_raw") <= F.lit(640.0)) & (F.col("n_zero") > 0),
        F.lit(256.0) * F.log(F.lit(256.0) / F.col("n_zero")),
    ).otherwise(F.col("e_raw"))
    return est.join(exact, "scope").select(
        "scope",
        F.col("n_zero").cast("long").alias("n_zero_registers"),
        F.round(e_fix, 6).alias("ndv_est"),
        F.col("ndv_exact").cast("long").alias("ndv_exact"),
    )


def _hll_merge_oracle() -> str:
    def cascade(src_sql: str) -> str:
        # SEQUENTIAL saturating fill, stage n ORing the shift of stage
        # n-1's already-partially-filled word — the same chain the
        # Spark side and the hll_distinct oracle run. A one-pass OR of
        # shifted copies of the ORIGINAL word is NOT equivalent: a set
        # bit only reaches offsets {1,2,4,8,16,32} below itself, so a
        # sparse-top word under-fills and inflates rho. The r6 sf1
        # parity gate caught exactly that here: at gate scales
        # (sf<=0.1) every estimate rides the linear-counting branch,
        # which depends only on register PRESENCE and so masked the
        # divergence; at sf1 the raw harmonic branch exposed it
        # (oracle 52749 vs the correct 15277 for ndv_exact 15000).
        return f"""
        SELECT scope, idx, max(53 - bit_count(w)) AS m_j
        FROM (
        SELECT scope, idx, w | (w >> 32) AS w FROM (
        SELECT scope, idx, w | (w >> 16) AS w FROM (
        SELECT scope, idx, w | (w >> 8) AS w FROM (
        SELECT scope, idx, w | (w >> 4) AS w FROM (
        SELECT scope, idx, w | (w >> 2) AS w FROM (
        SELECT scope, idx, w | (w >> 1) AS w FROM (
            SELECT scope, h >> 52 AS idx, h & 4503599627370495 AS w FROM ({src_sql})
        ))))))) GROUP BY scope, idx
        """
    per_type_src = (
        "SELECT DISTINCT event_type AS scope, "
        + H.dd_md5_long("user_id::VARCHAR")
        + " AS h FROM events"
    )
    direct_src = (
        "SELECT DISTINCT 'direct' AS scope, "
        + H.dd_md5_long("user_id::VARCHAR")
        + " AS h FROM events"
    )
    return f"""
    WITH per_type AS ({cascade(per_type_src)}),
    merged AS (
        SELECT 'merged' AS scope, idx, max(m_j) AS m_j FROM per_type GROUP BY idx
    ),
    direct AS ({cascade(direct_src)}),
    regs AS (
        SELECT * FROM per_type UNION ALL SELECT * FROM merged
        UNION ALL SELECT * FROM direct
    ), agg AS (
        SELECT scope, count(*) AS n_present,
               sum(1::BIGINT << (53 - m_j)) AS sum_scaled
        FROM regs GROUP BY scope
    ), est AS (
        SELECT scope, 256 - n_present AS n_zero,
               (0.7213 / (1 + 1.079 / 256)) * 65536.0 * 9007199254740992.0
                   / (sum_scaled + (256 - n_present) * 9007199254740992) AS e_raw
        FROM agg
    ), ex AS (
        SELECT event_type AS scope, count(DISTINCT user_id) AS ndv_exact
        FROM events GROUP BY event_type
        UNION ALL
        SELECT 'merged', count(DISTINCT user_id) FROM events
        UNION ALL
        SELECT 'direct', count(DISTINCT user_id) FROM events
    )
    SELECT est.scope,
           CAST(n_zero AS BIGINT) AS n_zero_registers,
           round(CASE WHEN e_raw <= 640.0 AND n_zero > 0
                      THEN 256.0 * ln(256.0 / n_zero) ELSE e_raw END, 6) AS ndv_est,
           CAST(ndv_exact AS BIGINT) AS ndv_exact
    FROM est JOIN ex ON est.scope = ex.scope
    """


ORACLES["hll_merge_rollup"] = _hll_merge_oracle()


# ---------------------------------------------------------------------------
# Growth accounting + LTR pairs + autocomplete wave (r5 cont.)
# ---------------------------------------------------------------------------


@query(
    "growth_accounting",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day
        FROM events
    ), mx AS (SELECT max(day) AS maxd FROM ud),
    w AS (
        SELECT user_id, day,
               lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev,
               lead(day) OVER (PARTITION BY user_id ORDER BY day) AS nxt
        FROM ud
    ), status AS (
        SELECT day,
               CASE WHEN prev IS NULL THEN 'new'
                    WHEN prev = day - 1 THEN 'retained'
                    ELSE 'resurrected' END AS st
        FROM w
    ), per AS (
        SELECT day,
               CAST(count(*) AS BIGINT) AS dau,
               CAST(sum(CASE WHEN st = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
               CAST(sum(CASE WHEN st = 'retained' THEN 1 ELSE 0 END) AS BIGINT) AS retained,
               CAST(sum(CASE WHEN st = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS resurrected
        FROM status GROUP BY day
    ), churn AS (
        SELECT day + 1 AS day, CAST(count(*) AS BIGINT) AS churned
        FROM w, mx
        WHERE (nxt IS NULL OR nxt > day + 1) AND day + 1 <= mx.maxd
        GROUP BY day + 1
    )
    SELECT CAST(p.day AS BIGINT) AS day, p.dau, p.new_users, p.retained,
           p.resurrected, CAST(coalesce(c.churned, 0) AS BIGINT) AS churned
    FROM per p LEFT JOIN churn c ON p.day = c.day
    """,
)
def growth_accounting_q(spark, sf_dir):
    """Growth accounting (the DAU decomposition identity every growth
    team reports: DAU(t) = new + retained + resurrected, and net
    growth = new + resurrected − churned — which of the three is
    moving is the difference between a launch working and a leaky
    bucket): one DISTINCT (user, day) pass, then lag/lead on the SAME
    user window classify every active day (first-ever / consecutive /
    gap-return) and locate each churn event at its day+1; two
    map-side-combinable day rollups merge on integer day keys. The
    conservation identity is hash-checked by construction and
    invariant-tested."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.expr("ts_ns div 86400000000000").alias("day")
    ).distinct()
    mx = ud.agg(F.max("day").alias("maxd"))
    wu = Window.partitionBy("user_id").orderBy("day")
    w = ud.select(
        "user_id",
        "day",
        F.lag("day").over(wu).alias("prev"),
        F.lead("day").over(wu).alias("nxt"),
    )
    st = F.when(F.col("prev").isNull(), "new").when(
        F.col("prev") == F.col("day") - 1, "retained"
    ).otherwise("resurrected")
    per = w.groupBy("day").agg(
        F.count("*").cast("long").alias("dau"),
        F.sum((st == "new").cast("int")).cast("long").alias("new_users"),
        F.sum((st == "retained").cast("int")).cast("long").alias("retained"),
        F.sum((st == "resurrected").cast("int")).cast("long").alias("resurrected"),
    )
    churn = (
        w.crossJoin(F.broadcast(mx))
        .filter(
            (F.col("nxt").isNull() | (F.col("nxt") > F.col("day") + 1))
            & (F.col("day") + 1 <= F.col("maxd"))
        )
        .groupBy((F.col("day") + 1).alias("day"))
        .agg(F.count("*").cast("long").alias("churned"))
    )
    return per.join(churn, "day", "left").select(
        F.col("day").cast("long").alias("day"),
        "dau",
        "new_users",
        "retained",
        "resurrected",
        F.coalesce("churned", F.lit(0)).cast("long").alias("churned"),
    )


@query(
    "ltr_pair_gen",
    oracle=f"""
    WITH tot AS (SELECT count(*) AS t FROM embeddings),
    q AS (
        SELECT vec_id AS query_id, embedding AS qv,
               (vec_id * 7 + 3) % (SELECT t FROM tot) AS expected_id
        FROM embeddings WHERE vec_id < 10
    ), scored AS (
        SELECT q.query_id, q.expected_id, e.vec_id,
               {V.dd_cosine('e.embedding', 'q.qv')} AS score
        FROM embeddings e, q
    ), ranked AS (
        SELECT query_id, expected_id, vec_id, score,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, vec_id) AS rank
        FROM scored
    ), top AS (SELECT * FROM ranked WHERE rank <= 10),
    pos AS (
        SELECT query_id, vec_id AS pos_id, rank AS pos_rank, score AS pos_score
        FROM top WHERE vec_id = expected_id
    )
    SELECT p.query_id, p.pos_id,
           t.vec_id AS neg_id,
           CAST(p.pos_rank AS BIGINT) AS pos_rank,
           CAST(t.rank AS BIGINT) AS neg_rank,
           round(p.pos_score - t.score, 6) AS score_margin
    FROM pos p JOIN top t
      ON t.query_id = p.query_id AND t.rank < p.pos_rank
    """,
)
def ltr_pair_gen_q(spark, sf_dir):
    """Learning-to-rank pair extraction (Joachims KDD'02 skip-above:
    when the relevant doc sits at rank r, every doc ranked ABOVE it
    was seen and skipped — each (skipped, relevant) pair is a
    preference judgment, the training data behind rerank_two_stage's
    swap point): batch retrieval reuses topk_batch's broadcast-query
    partial-top-k plan, the positive is the expected doc when it
    lands in the top-10, negatives are exactly the docs out-ranking
    it, score_margin the regression target. Pair volume is
    k-bounded per query (≤ k−1 pairs), never corpus-shaped."""
    from ..operators import knn as knn_ops

    emb = load_table(spark, sf_dir, "embeddings")
    total_df = emb.select(F.count("*").alias("_t"))
    queries = (
        emb.filter(F.col("vec_id") < 10)
        .crossJoin(F.broadcast(total_df))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
            ((F.col("vec_id") * 7 + 3) % F.col("_t")).alias("expected_id"),
        )
    )
    top = knn_ops.topk_batch(emb, queries, k=10).join(
        F.broadcast(queries.select("query_id", "expected_id")), "query_id"
    )
    pos = top.filter(F.col("vec_id") == F.col("expected_id")).select(
        "query_id",
        F.col("vec_id").alias("pos_id"),
        F.col("rank").alias("pos_rank"),
        F.col("score").alias("pos_score"),
    )
    return (
        top.join(F.broadcast(pos), "query_id")
        .filter(F.col("rank") < F.col("pos_rank"))
        .select(
            "query_id",
            "pos_id",
            F.col("vec_id").alias("neg_id"),
            F.col("pos_rank").cast("long").alias("pos_rank"),
            F.col("rank").cast("long").alias("neg_rank"),
            F.round(F.col("pos_score") - F.col("score"), 6).alias("score_margin"),
        )
    )


_AUTOCOMPLETE_PREFIXES = ("sp", "ba", "fi", "wi", "s")


@query(
    "prefix_autocomplete",
    oracle=f"""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS term FROM documents
    ), freq AS (
        SELECT term, CAST(count(*) AS BIGINT) AS freq
        FROM tok WHERE term <> '' GROUP BY term
    ), edge AS (
        SELECT term, freq, substr(term, 1, i) AS prefix
        FROM freq, range(1, 5) t(i)
        WHERE length(term) >= i
    ), q AS (
        SELECT prefix FROM (VALUES {", ".join(f"('{p}')" for p in _AUTOCOMPLETE_PREFIXES)}) AS t(prefix)
    ), ranked AS (
        SELECT q.prefix, e.term, e.freq,
               row_number() OVER (PARTITION BY q.prefix
                                  ORDER BY e.freq DESC, e.term) AS rank
        FROM q JOIN edge e ON e.prefix = q.prefix
    )
    SELECT prefix, CAST(rank AS BIGINT) AS rank, term, freq
    FROM ranked WHERE rank <= 5
    """,
)
def prefix_autocomplete_q(spark, sf_dir):
    """Prefix autocomplete via edge n-grams (Elasticsearch's
    edge_ngram / search-as-you-type index): the corpus collapses to
    its frequency-weighted VOCABULARY first (everything downstream
    vocabulary-sized), terms explode into 1-4 char edge prefixes (the
    materialization an autocomplete index stores), live-typed
    prefixes join by exact key, completions rank by corpus frequency
    with term tie-break via knn.topk_per_key. At 100 TB the edge
    table is the build artifact — query cost is a point lookup per
    keystroke, independent of corpus size."""
    from ..functions import text as X

    docs = load_table(spark, sf_dir, "documents", split=True)
    freq = (
        docs.select(F.explode(F.expr(X.tokens("text"))).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    edge = freq.select(
        "term",
        "freq",
        F.explode(
            F.expr(
                "filter(transform(sequence(1, 4), i -> substr(term, 1, i)), "
                "p -> length(term) >= length(p))"
            )
        ).alias("prefix"),
    )
    q = spark.createDataFrame(
        [(p,) for p in _AUTOCOMPLETE_PREFIXES], "prefix string"
    )
    pairs = edge.join(F.broadcast(q), "prefix")
    return knn.topk_per_key(pairs, "prefix", "term", 5, score_col="freq").select(
        "prefix", F.col("rank").cast("long").alias("rank"), "term", "freq"
    )


# ---------------------------------------------------------------------------
# Decision-systems wave (r5 cont.): UCB bandit replay, propensity matching
# ---------------------------------------------------------------------------

_UCB_ARMS = ("click", "error", "purchase", "signup", "view")  # alpha order
_UCB_ROUNDS = 30


def _ucb_oracle() -> str:
    arms = _UCB_ARMS
    short = {a: a[0] + ("2" if a == "signup" else "") for a in arms}
    zero = ", ".join(
        f"CAST(0 AS BIGINT) AS n_{short[a]}, CAST(0 AS BIGINT) AS s_{short[a]}"
        for a in arms
    )
    ucb = {
        a: (
            f"({from_micro(f'CAST(it.s_{short[a]} AS DOUBLE) / it.n_{short[a]}')}"
            f" + sqrt(2 * ln(CAST(it.t AS DOUBLE)) / it.n_{short[a]}))"
        )
        for a in arms
    }
    maxu = "greatest(" + ", ".join(ucb[a] for a in arms) + ")"
    pick_ucb = "CASE " + " ".join(
        f"WHEN {ucb[a]} = {maxu} THEN '{a}'" for a in arms
    ) + " END"
    init_pick = "CASE it.t + 1 " + " ".join(
        f"WHEN {i + 1} THEN '{a}'" for i, a in enumerate(arms)
    ) + " END"
    choice = f"CASE WHEN it.t + 1 <= {len(arms)} THEN {init_pick} ELSE {pick_ucb} END"
    arm_arr = "CASE ch.arm " + " ".join(
        f"WHEN '{a}' THEN rrow.rs_{short[a]}" for a in arms
    ) + " END"
    best_arr = "CASE best.arm " + " ".join(
        f"WHEN '{a}' THEN rrow.rs_{short[a]}" for a in arms
    ) + " END"
    upd = ", ".join(
        f"it.n_{short[a]} + CASE WHEN ch.arm = '{a}' THEN 1 ELSE 0 END AS n_{short[a]}, "
        f"it.s_{short[a]} + CASE WHEN ch.arm = '{a}' THEN ch.r_u ELSE 0 END AS s_{short[a]}"
        for a in arms
    )
    rrow_cols = ", ".join(
        f"max(CASE WHEN arm = '{a}' THEN rs END) AS rs_{short[a]}" for a in arms
    )
    return f"""
    WITH RECURSIVE rt AS (
        SELECT event_type AS arm, epoch_ns(ts) // 86400000000000
               - (SELECT min(epoch_ns(ts) // 86400000000000) FROM events) AS day,
               CAST(sum({to_micro('value')}) AS BIGINT)
                 // CAST(count(*) AS BIGINT) AS r_u
        FROM events GROUP BY 1, 2
    ), spine AS (
        SELECT a.arm, d.day
        FROM (SELECT unnest({list(arms)!r}) AS arm) a, range({_UCB_ROUNDS}) d(day)
    ), filled AS (
        SELECT s.arm, s.day, coalesce(rt.r_u, 0) AS r_u
        FROM spine s LEFT JOIN rt ON rt.arm = s.arm AND rt.day = s.day
    ), rarr AS (
        SELECT arm, list(r_u ORDER BY day) AS rs FROM filled GROUP BY arm
    ), rrow AS (SELECT {rrow_cols} FROM rarr),
    it AS (
        SELECT 0 AS t, NULL::VARCHAR AS chosen, CAST(0 AS BIGINT) AS reward_u, {zero}
        UNION ALL
        SELECT it.t + 1, ch.arm, ({arm_arr})[it.t + 1], {upd}
        FROM it, rrow, LATERAL (
            SELECT {choice} AS arm,
                   ({arm_arr.replace('ch.arm', choice)})[it.t + 1] AS r_u
        ) ch
        WHERE it.t < {_UCB_ROUNDS}
    ), best AS (
        SELECT arm FROM (
            SELECT arm, CAST(list_sum(rs) AS BIGINT) AS tot FROM rarr
        ) ORDER BY tot DESC, arm LIMIT 1
    )
    SELECT CAST(it.t AS BIGINT) AS round, it.chosen AS arm,
           {emit_micro('it.reward_u')} AS reward,
           {emit_micro(f"CAST(sum(({best_arr})[it.t] - it.reward_u) OVER (ORDER BY it.t) AS DOUBLE)")}
               AS cum_regret
    FROM it, best, rrow
    WHERE it.t >= 1
    """


@query("ucb_bandit_replay", oracle=None)  # oracle attached below
def ucb_bandit_replay_q(spark, sf_dir):
    """UCB1 bandit offline replay (Auer '02 — the
    explore/exploit policy an adaptive experimentation platform runs
    where a fixed A/B split would keep sending traffic to a losing
    arm): arms = event types, rounds = the 30 days, reward(arm, day)
    = that cell's EXACT integer micro-unit mean value (sum div n —
    no float mean), each arm played once then UCB_i = mean_i +
    √(2·ln t / n_i) with alphabetical tie-break. The replay is
    inherently sequential, so it runs driver-side over the
    150-row (arm × day) reward table (bounded-fit posture) and the
    DuckDB RECURSIVE CTE replays all 30 decisions — state updates
    are exact integers, the UCB comparison the single double
    expression, so every pull, reward and the regret-vs-best-fixed-
    arm ladder hash-check. The arm×day rollup is the only
    data-proportional work."""
    ev = load_table(spark, sf_dir, "events")
    mind = ev.agg(F.min(F.expr("ts_ns div 86400000000000")).alias("d0"))
    rt_rows = (
        ev.crossJoin(F.broadcast(mind))
        .groupBy(
            F.col("event_type").alias("arm"),
            (F.expr("ts_ns div 86400000000000") - F.col("d0")).alias("day"),
        )
        .agg(
            (
                F.sum(F.expr(to_micro("value")))
                .cast("long")
                / F.count("*").cast("long")
            )
            .cast("long")
            .alias("r_u")
        )
        .collect()
    )
    rt = {(r["arm"], r["day"]): r["r_u"] for r in rt_rows}
    n = {a: 0 for a in _UCB_ARMS}
    s = {a: 0 for a in _UCB_ARMS}
    steps = []
    for t in range(1, _UCB_ROUNDS + 1):
        if t <= len(_UCB_ARMS):
            arm = _UCB_ARMS[t - 1]
        else:
            tprev = t - 1
            best_u, arm = None, None
            us = {
                a: s[a] / n[a] / MICRO + _math.sqrt(2 * _math.log(float(tprev)) / n[a])
                for a in _UCB_ARMS
            }
            mx = max(us.values())
            arm = next(a for a in _UCB_ARMS if us[a] == mx)
        r = rt.get((arm, t - 1), 0)
        n[arm] += 1
        s[arm] += r
        steps.append((t, arm, r))
    totals = {
        a: sum(rt.get((a, d), 0) for d in range(_UCB_ROUNDS)) for a in _UCB_ARMS
    }
    best_arm = sorted(_UCB_ARMS, key=lambda a: (-totals[a], a))[0]
    out, cum = [], 0
    for t, arm, r in steps:
        cum += rt.get((best_arm, t - 1), 0) - r
        out.append((t, arm, r / MICRO, cum / MICRO))
    return spark.createDataFrame(
        out, "round long, arm string, reward double, cum_regret double"
    )


ORACLES["ucb_bandit_replay"] = _ucb_oracle()


@query(
    "propensity_matching_att",
    oracle=f"""
    WITH u0 AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_ev,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
               CAST(sum(CASE WHEN event_type = 'purchase'
                             THEN {to_micro('value')}
                             ELSE 0 END) AS BIGINT) AS y_u
        FROM events GROUP BY user_id
    ), med AS (
        SELECT ns[CAST((n + 1) // 2 AS INTEGER)] AS med FROM (
            SELECT list_sort(list(n_ev)) AS ns, count(*) AS n FROM u0)
    ), u AS (
        SELECT u0.*, CASE WHEN u0.n_ev > med.med THEN 1 ELSE 0 END AS treated
        FROM u0, med
    ), ps AS (
        SELECT user_id, treated, y_u,
               1.0 / (1.0 + exp(-(-1.0 + 0.3 * ln(1.0 + n_ev)
                                  + 0.8 * (CAST(n_click AS DOUBLE) / n_ev)))) AS p
        FROM u
    ), tagged AS (
        SELECT user_id, treated, y_u, p,
               last_value(CASE WHEN treated = 0 THEN user_id END IGNORE NULLS)
                   OVER (ORDER BY p, treated, user_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m_user,
               last_value(CASE WHEN treated = 0 THEN y_u END IGNORE NULLS)
                   OVER (ORDER BY p, treated, user_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m_y,
               last_value(CASE WHEN treated = 0 THEN p END IGNORE NULLS)
                   OVER (ORDER BY p, treated, user_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m_p
        FROM ps
    ), matched AS (
        SELECT * FROM tagged WHERE treated = 1 AND m_user IS NOT NULL
    ), agg AS (
        SELECT CAST((SELECT count(*) FROM ps WHERE treated = 1) AS BIGINT) AS n_treated,
               CAST(count(*) AS BIGINT) AS n_matched,
               CAST(sum(y_u - m_y) AS BIGINT) AS att_num_u,
               CAST(sum({to_micro('abs(p - m_p)')}) AS BIGINT) AS gap_u
        FROM matched
    ), naive AS (
        SELECT CAST(sum(CASE WHEN treated = 1 THEN y_u ELSE 0 END) AS BIGINT) AS yt,
               CAST(sum(CASE WHEN treated = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nt,
               CAST(sum(CASE WHEN treated = 0 THEN y_u ELSE 0 END) AS BIGINT) AS yc,
               CAST(sum(CASE WHEN treated = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc
        FROM ps
    )
    SELECT a.n_treated, a.n_matched,
           {emit_micro('CAST(a.att_num_u AS DOUBLE) / a.n_matched')} AS att,
           round({from_micro('CAST(n.yt AS DOUBLE) / n.nt')}
                 - {from_micro('CAST(n.yc AS DOUBLE) / n.nc')}, 6) AS naive_diff,
           {emit_micro('CAST(a.gap_u AS DOUBLE) / a.n_matched')} AS mean_ps_gap
    FROM agg a, naive n
    """,
)
def propensity_matching_att_q(spark, sf_dir):
    """Propensity-score matching ATT (Rosenbaum & Rubin '83 — the
    observational-causal estimate when you can't randomize: compare
    each treated user to a control with a similar propensity to be
    treated, not to the control average): treatment = signed-up
    users, outcome = purchase spend in exact micro-units, propensity
    from a literal-weight logistic over activity features (documented
    swap point for a trained model — the quality_classifier posture).
    Matching is NOT a pairwise search: controls and treated UNION-TAG
    onto one propensity ordering and a running last(control) window
    hands every treated user its nearest preceding control in ONE
    pass (greedy with replacement, deterministic ties) — the as-of
    recurrence on the propensity axis instead of time. ATT and the
    balance readout (mean propensity gap) come from exact integer
    sums; naive_diff shows the selection bias matching removed."""
    ev = load_table(spark, sf_dir, "events")
    u0 = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_ev"),
        F.sum((F.col("event_type") == "click").cast("int"))
        .cast("long")
        .alias("n_click"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.expr(to_micro("value")),
            ).otherwise(0)
        )
        .cast("long")
        .alias("y_u"),
    )
    # treatment = above-median activity (exact sorted-selection median
    # as a broadcast scalar; approx_percentile is the 100 TB swap-in)
    med = u0.agg(
        F.element_at(
            F.sort_array(F.collect_list("n_ev")),
            F.expr("cast((count(*) + 1) div 2 as int)"),
        ).alias("med")
    )
    u = u0.crossJoin(F.broadcast(med)).select(
        "user_id",
        "n_ev",
        "n_click",
        "y_u",
        (F.col("n_ev") > F.col("med")).cast("long").alias("treated"),
    )
    p = 1.0 / (
        1.0
        + F.exp(
            -(
                -1.0
                + 0.3 * F.log(1.0 + F.col("n_ev"))
                + 0.8 * (F.col("n_click").cast("double") / F.col("n_ev"))
            )
        )
    )
    ps = u.select("user_id", "treated", "y_u", p.alias("p"))
    wm = Window.orderBy("p", "treated", "user_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    tagged = ps.select(
        "user_id",
        "treated",
        "y_u",
        "p",
        F.last(F.when(F.col("treated") == 0, F.col("user_id")), ignorenulls=True)
        .over(wm)
        .alias("m_user"),
        F.last(F.when(F.col("treated") == 0, F.col("y_u")), ignorenulls=True)
        .over(wm)
        .alias("m_y"),
        F.last(F.when(F.col("treated") == 0, F.col("p")), ignorenulls=True)
        .over(wm)
        .alias("m_p"),
    )
    matched = tagged.filter((F.col("treated") == 1) & F.col("m_user").isNotNull())
    nt_df = ps.agg(
        F.sum(F.when(F.col("treated") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_treated"),
        F.sum(F.when(F.col("treated") == 1, F.col("y_u")).otherwise(0))
        .cast("long")
        .alias("yt"),
        F.sum(F.when(F.col("treated") == 1, 1).otherwise(0)).cast("long").alias("nt"),
        F.sum(F.when(F.col("treated") == 0, F.col("y_u")).otherwise(0))
        .cast("long")
        .alias("yc"),
        F.sum(F.when(F.col("treated") == 0, 1).otherwise(0)).cast("long").alias("nc"),
    )
    agg = matched.agg(
        F.count("*").cast("long").alias("n_matched"),
        F.sum(F.col("y_u") - F.col("m_y")).cast("long").alias("att_num_u"),
        F.sum(
            F.expr(to_micro("abs(p - m_p)"))
        )
        .cast("long")
        .alias("gap_u"),
    )
    return agg.crossJoin(F.broadcast(nt_df)).select(
        "n_treated",
        "n_matched",
        F.expr(emit_micro("CAST(att_num_u AS DOUBLE) / n_matched")).alias("att"),
        F.expr(
            f"round({from_micro('CAST(yt AS DOUBLE) / nt')}"
            f" - {from_micro('CAST(yc AS DOUBLE) / nc')}, 6)"
        ).alias("naive_diff"),
        F.expr(emit_micro("CAST(gap_u AS DOUBLE) / n_matched")).alias("mean_ps_gap"),
    )


# ---------------------------------------------------------------------------
# In-engine learning + causal + graph-quality wave (r5 cont.)
# ---------------------------------------------------------------------------


@query(
    "gmm_em_round",
    oracle=f"""
    WITH e AS (
        SELECT {to_micro('value')} AS v_u FROM events
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               list_sort(list(v_u)) AS vs,
               CAST(sum(CAST(v_u AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sv,
               CAST(sum(CAST(v_u AS DECIMAL(38,0)) * v_u) AS DECIMAL(38,0)) AS svv
        FROM e
    ), init AS (
        SELECT n,
               vs[CAST((n + 3) // 4 AS INTEGER)] AS mu1,
               vs[CAST((3 * n + 3) // 4 AS INTEGER)] AS mu2,
               (CAST(svv AS DOUBLE) / n)
                 - (CAST(sv AS DOUBLE) / n) * (CAST(sv AS DOUBLE) / n) AS sig2
        FROM s
    ), r AS (
        SELECT e.v_u, i.mu1, i.mu2, i.sig2, i.n,
               CAST(round({MICRO}.0 / (1.0 + exp(
                   (CAST(e.v_u - i.mu1 AS DOUBLE) * (e.v_u - i.mu1)
                    - CAST(e.v_u - i.mu2 AS DOUBLE) * (e.v_u - i.mu2))
                   / (2.0 * i.sig2)))) AS BIGINT) AS r_u
        FROM e, init i
    ), m AS (
        SELECT any_value(mu1) AS mu1, any_value(mu2) AS mu2,
               any_value(sig2) AS sig2, any_value(n) AS n,
               CAST(sum(CAST(r_u AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sr,
               CAST(sum(CAST(r_u AS DECIMAL(38,0)) * v_u) AS DECIMAL(38,0)) AS srv,
               CAST(sum(CAST({MICRO} - r_u AS DECIMAL(38,0)) * v_u) AS DECIMAL(38,0)) AS scv,
               CAST(sum(CAST({MICRO} - r_u AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sc
        FROM r
    )
    SELECT {emit_micro('mu1')} AS mu1_init,
           {emit_micro('mu2')} AS mu2_init,
           round(sig2 / 1e12, 6) AS sigma2_init,
           {emit_micro('CAST(srv AS DOUBLE) / CAST(sr AS DOUBLE)')} AS mu1_next,
           {emit_micro('CAST(scv AS DOUBLE) / CAST(sc AS DOUBLE)')} AS mu2_next,
           {emit_micro('CAST(sr AS DOUBLE) / n')} AS pi1_next
    FROM m
    """,
)
def gmm_em_round_q(spark, sf_dir):
    """One EM round of a 2-component 1-D Gaussian mixture on event
    values (in-engine learning beside boosting_stump_round — the
    bimodality probe behind 'is this metric one population or two?'):
    deterministic init (μ = exact-selection quartiles, shared σ² from
    exact DECIMAL moments, π = ½), E-step responsibilities collapse
    to ONE sigmoid per row under the shared-σ identity
    r = 1/(1+exp((d₁²−d₂²)/2σ²)) and quantize to micro-units, M-step
    means/weights from DECIMAL-exact weighted sums — so the whole
    round is order-free and hash-checks. One scan + one aggregate
    per step; further rounds repeat the same shape (the
    prove-the-iteration posture, one round deep here)."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(F.expr(to_micro("value")).alias("v_u"))
    s = e.agg(
        F.count("*").cast("long").alias("n"),
        F.sort_array(F.collect_list("v_u")).alias("vs"),
        F.sum(F.col("v_u").cast("decimal(38,0)")).alias("sv"),
        F.sum(F.col("v_u").cast("decimal(38,0)") * F.col("v_u")).alias("svv"),
    )
    init = s.select(
        "n",
        F.element_at("vs", F.expr("cast((n + 3) div 4 as int)")).alias("mu1"),
        F.element_at("vs", F.expr("cast((3 * n + 3) div 4 as int)")).alias("mu2"),
        (
            F.col("svv").cast("double") / F.col("n")
            - (F.col("sv").cast("double") / F.col("n"))
            * (F.col("sv").cast("double") / F.col("n"))
        ).alias("sig2"),
    )
    r = e.crossJoin(F.broadcast(init)).select(
        "v_u",
        "mu1",
        "mu2",
        "sig2",
        "n",
        F.round(
            float(MICRO)
            / (
                1.0
                + F.exp(
                    (
                        (F.col("v_u") - F.col("mu1")).cast("double")
                        * (F.col("v_u") - F.col("mu1"))
                        - (F.col("v_u") - F.col("mu2")).cast("double")
                        * (F.col("v_u") - F.col("mu2"))
                    )
                    / (2.0 * F.col("sig2"))
                )
            )
        )
        .cast("long")
        .alias("r_u"),
    )
    m = r.agg(
        F.first("mu1").alias("mu1"),
        F.first("mu2").alias("mu2"),
        F.first("sig2").alias("sig2"),
        F.first("n").alias("n"),
        F.sum(F.col("r_u").cast("decimal(38,0)")).alias("sr"),
        F.sum(F.col("r_u").cast("decimal(38,0)") * F.col("v_u")).alias("srv"),
        F.sum((F.lit(MICRO) - F.col("r_u")).cast("decimal(38,0)") * F.col("v_u")).alias(
            "scv"
        ),
        F.sum((F.lit(MICRO) - F.col("r_u")).cast("decimal(38,0)")).alias("sc"),
    )
    return m.select(
        F.expr(emit_micro("mu1")).alias("mu1_init"),
        F.expr(emit_micro("mu2")).alias("mu2_init"),
        F.round(F.col("sig2") / 1e12, 6).alias("sigma2_init"),
        F.expr(emit_micro("CAST(srv AS DOUBLE) / CAST(sr AS DOUBLE)")).alias("mu1_next"),
        F.expr(emit_micro("CAST(scv AS DOUBLE) / CAST(sc AS DOUBLE)")).alias("mu2_next"),
        F.expr(emit_micro("CAST(sr AS DOUBLE) / n")).alias("pi1_next"),
    )


@query(
    "mediation_analysis",
    oracle="""
    WITH d AS (
        SELECT CAST(round(l_discount * 100) AS BIGINT) AS x,
               CAST(round(l_quantity) AS BIGINT) AS md,
               CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS y
        FROM lineitem
    ), mo AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
               CAST(sum(CAST(md AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sm,
               CAST(sum(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
               CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
               CAST(sum(CAST(md AS DECIMAL(38,0)) * md) AS DECIMAL(38,0)) AS smm,
               CAST(sum(CAST(x AS DECIMAL(38,0)) * md) AS DECIMAL(38,0)) AS sxm,
               CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy,
               CAST(sum(CAST(md AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS smy
        FROM d
    ), c AS (
        SELECT n,
               CAST(n * sxx - sx * sx AS DOUBLE) AS cxx,
               CAST(n * smm - sm * sm AS DOUBLE) AS cmm,
               CAST(n * sxm - sx * sm AS DOUBLE) AS cxm,
               CAST(n * sxy - sx * sy AS DOUBLE) AS cxy,
               CAST(n * smy - sm * sy AS DOUBLE) AS cmy
        FROM mo
    )
    SELECT n,
           round(cxy / cxx / 100, 6) AS c_total,
           round(cxm / cxx, 6) AS a_path,
           round((cxx * cmy - cxm * cxy) / (cxx * cmm - cxm * cxm) / 100, 6) AS b_path,
           round((cmm * cxy - cxm * cmy) / (cxx * cmm - cxm * cxm) / 100, 6) AS c_direct,
           round((cxm / cxx) * ((cxx * cmy - cxm * cxy) / (cxx * cmm - cxm * cxm)) / 100, 6)
               AS indirect,
           round((cxm / cxx) * ((cxx * cmy - cxm * cxy) / (cxx * cmm - cxm * cxm))
                 / (cxy / cxx), 6) AS prop_mediated
    FROM c
    """,
)
def mediation_analysis_q(spark, sf_dir):
    """Baron-Kenny mediation decomposition (does discount move revenue
    DIRECTLY or through quantity? — the causal-pathway accounting
    behind pricing decisions): three OLS fits (y~x, m~x, y~x+m) all
    derived from ONE aggregate's nine DECIMAL-exact moments — the
    two-predictor fit via Cramer's rule on the centered 2×2 system
    (quadratic_trend_fit's recipe), so no solver and no second scan;
    total = direct + indirect reconciles by construction. Units:
    discount in integer percent, revenue in cents, coefficients
    emitted per-percent in currency units."""
    li = load_table(spark, sf_dir, "lineitem")
    d = li.select(
        F.expr("cast(round(l_discount * 100) as bigint)").alias("x"),
        F.expr("cast(round(l_quantity) as bigint)").alias("md"),
        F.expr(
            "cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)"
        ).alias("y"),
    )
    mo = d.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("md").cast("decimal(38,0)")).alias("sm"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("md").cast("decimal(38,0)") * F.col("md")).alias("smm"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("md")).alias("sxm"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("md").cast("decimal(38,0)") * F.col("y")).alias("smy"),
    )
    c = mo.select(
        "n",
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double").alias("cxx"),
        (F.col("n") * F.col("smm") - F.col("sm") * F.col("sm")).cast("double").alias("cmm"),
        (F.col("n") * F.col("sxm") - F.col("sx") * F.col("sm")).cast("double").alias("cxm"),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double").alias("cxy"),
        (F.col("n") * F.col("smy") - F.col("sm") * F.col("sy")).cast("double").alias("cmy"),
    )
    det = F.col("cxx") * F.col("cmm") - F.col("cxm") * F.col("cxm")
    b_path = (F.col("cxx") * F.col("cmy") - F.col("cxm") * F.col("cxy")) / det
    return c.select(
        "n",
        F.round(F.col("cxy") / F.col("cxx") / 100, 6).alias("c_total"),
        F.round(F.col("cxm") / F.col("cxx"), 6).alias("a_path"),
        F.round(b_path / 100, 6).alias("b_path"),
        F.round(
            (F.col("cmm") * F.col("cxy") - F.col("cxm") * F.col("cmy")) / det / 100, 6
        ).alias("c_direct"),
        F.round((F.col("cxm") / F.col("cxx")) * b_path / 100, 6).alias("indirect"),
        F.round(
            (F.col("cxm") / F.col("cxx")) * b_path / (F.col("cxy") / F.col("cxx")), 6
        ).alias("prop_mediated"),
    )


@query("graph_modularity", oracle=None)  # oracle attached below
def graph_modularity_q(spark, sf_dir):
    """Directed modularity of the LABEL partition on the kNN graph
    (Newman '04 — does the graph 'see' the labels? high Q means
    neighborhoods respect class structure, the go signal for
    graph-propagated pseudo-labels and cluster-scoped dedup; Q≈0
    means the labels are invisible to the geometry): edges from the
    shared LSH-bounded build join id-keyed label lookups on both
    endpoints, the mixing matrix is |labels|²-bounded, and
    Q = Σ_c (e_cc·m − out_c·in_c) / m² keeps the whole numerator an
    EXACT integer (one double division at emit). Companion number to
    knn_graph_assortativity's degree correlation."""
    edges = _knn_graph_edges(spark, sf_dir).select("src", "dst")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    lab = (
        edges.join(
            emb.select(F.col("vec_id").alias("src"), F.col("label").alias("sl")),
            "src",
        )
        .join(
            emb.select(F.col("vec_id").alias("dst"), F.col("label").alias("dl")),
            "dst",
        )
    )
    mix = lab.groupBy("sl", "dl").agg(F.count("*").cast("long").alias("c"))
    per = mix.groupBy("sl").agg(
        F.sum("c").cast("long").alias("out_c"),
        F.sum(F.when(F.col("sl") == F.col("dl"), F.col("c")).otherwise(0))
        .cast("long")
        .alias("e_cc"),
    )
    incoming = mix.groupBy(F.col("dl").alias("sl")).agg(
        F.sum("c").cast("long").alias("in_c")
    )
    j = per.join(incoming, "sl", "full_outer").select(
        F.coalesce("e_cc", F.lit(0)).alias("e_cc"),
        F.coalesce("out_c", F.lit(0)).alias("out_c"),
        F.coalesce("in_c", F.lit(0)).alias("in_c"),
    )
    tot = mix.agg(F.sum("c").cast("long").alias("m"))
    agg = j.agg(
        F.count("*").cast("long").alias("n_labels"),
        F.sum("e_cc").cast("long").alias("sum_ecc"),
        F.sum(F.col("out_c") * F.col("in_c")).cast("long").alias("sum_oi"),
    )
    return agg.crossJoin(F.broadcast(tot)).select(
        F.col("m").alias("m_edges"),
        "n_labels",
        F.round(
            (F.col("sum_ecc") * F.col("m") - F.col("sum_oi")).cast("double")
            / (F.col("m").cast("double") * F.col("m")),
            6,
        ).alias("modularity"),
    )


def _modularity_oracle(sf_dir: str) -> str:
    base = _knn_graph_oracle(sf_dir).rsplit("SELECT src, dst", 1)[0]
    return base + """, e AS (
        SELECT src, dst FROM ranked WHERE rank <= 3
    ), lab AS (
        SELECT a.label AS sl, b.label AS dl, CAST(count(*) AS BIGINT) AS c
        FROM e JOIN embeddings a ON a.vec_id = e.src
               JOIN embeddings b ON b.vec_id = e.dst
        GROUP BY 1, 2
    ), per AS (
        SELECT sl, CAST(sum(c) AS BIGINT) AS out_c,
               CAST(sum(CASE WHEN sl = dl THEN c ELSE 0 END) AS BIGINT) AS e_cc
        FROM lab GROUP BY sl
    ), inc AS (
        SELECT dl AS sl, CAST(sum(c) AS BIGINT) AS in_c FROM lab GROUP BY dl
    ), j AS (
        SELECT coalesce(p.e_cc, 0) AS e_cc, coalesce(p.out_c, 0) AS out_c,
               coalesce(i.in_c, 0) AS in_c
        FROM per p FULL OUTER JOIN inc i USING (sl)
    ), tot AS (SELECT CAST(sum(c) AS BIGINT) AS m FROM lab)
    SELECT tot.m AS m_edges,
           CAST((SELECT count(*) FROM j) AS BIGINT) AS n_labels,
           round(CAST((SELECT sum(e_cc) FROM j) * tot.m
                      - (SELECT sum(out_c * in_c) FROM j) AS DOUBLE)
                 / (CAST(tot.m AS DOUBLE) * tot.m), 6) AS modularity
    FROM tot
    """


LAZY_ORACLES["graph_modularity"] = _modularity_oracle


# ---------------------------------------------------------------------------
# Ranking agreement + sliding sketch wave (r5 cont.)
# ---------------------------------------------------------------------------


@query(
    "rank_biased_overlap",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 7),
    toks AS (
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
    ), kw AS (
        SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS ra
        FROM bm25 ORDER BY bm25 DESC, doc_id LIMIT 20
    ), vec AS (
        SELECT e.vec_id AS doc_id,
               row_number() OVER (ORDER BY {V.dd_cosine('e.embedding', 'q.qv')} DESC, e.vec_id) AS rb
        FROM embeddings e, q
        ORDER BY {V.dd_cosine('e.embedding', 'q.qv')} DESC, e.vec_id LIMIT 20
    ), shared AS (
        SELECT kw.ra, vec.rb FROM kw JOIN vec USING (doc_id)
    ), depths AS (SELECT unnest(range(1, 21)) AS d),
    terms AS (
        SELECT d.d,
               CAST((SELECT count(*) FROM shared s WHERE s.ra <= d.d AND s.rb <= d.d)
                    AS BIGINT) AS x_d
        FROM depths d
    ), contrib AS (
        SELECT d, x_d,
               CAST(round((1 - 0.9) * pow(0.9, d - 1) * x_d / d * 1000000000)
                    AS BIGINT) AS c_u
        FROM terms
    )
    SELECT CAST(20 AS BIGINT) AS depth, 0.9 AS p,
           CAST((SELECT x_d FROM terms WHERE d = 20) AS BIGINT) AS overlap_at_depth,
           round(CAST(sum(c_u) AS BIGINT) / 1e9, 6) AS rbo
    FROM contrib
    """,
)
def rank_biased_overlap_q(spark, sf_dir):
    """Rank-biased overlap between the keyword and vector towers
    (Webber TOIS'10 — the TOP-WEIGHTED ranking agreement measure:
    kendall_tau_ranks weights every swap equally, RBO geometrically
    discounts depth, which is what serving cares about when two
    ranker versions disagree only in the tail): both depth-20
    rankings reuse hybrid_search_rrf's towers, the per-depth overlap
    X_d comes from one ≤20-row join crossed with the 20-row depth
    spine (conditional counts on exact integer ranks), and the
    truncated RBO sum quantizes each (1−p)p^(d−1)·X_d/d term to
    nano-units so the 20-term sum is order-free. Everything after
    the two top-k cuts is constant-bounded."""
    from ..operators.hybrid import bm25_scores

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 7).select(F.col("embedding").alias("qv"))
    kw_sc = bm25_scores(docs, ["spark", "join", "fast"]).select(
        F.col("doc_id").alias("_id"), F.col("bm25").alias("score")
    )
    kw = knn.topk_per_key(kw_sc, [], "_id", 20).select(
        F.col("_id").alias("doc_id"), F.col("rank").alias("ra")
    )
    vec_sc = emb.crossJoin(F.broadcast(q)).select(
        F.col("vec_id").alias("_id"),
        F.expr(V.cosine("embedding", "qv")).alias("score"),
    )
    vec = knn.topk_per_key(vec_sc, [], "_id", 20).select(
        F.col("_id").alias("doc_id"), F.col("rank").alias("rb")
    )
    shared = kw.join(vec, "doc_id").select("ra", "rb")
    depths = spark.range(1, 21).select(F.col("id").alias("d"))
    terms = (
        shared.crossJoin(F.broadcast(depths))
        .groupBy("d")
        .agg(
            F.sum(
                F.when((F.col("ra") <= F.col("d")) & (F.col("rb") <= F.col("d")), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("x_d")
        )
        # depths with zero overlap drop out of the groupBy — restore
        .join(depths, "d", "right")
        .select("d", F.coalesce("x_d", F.lit(0)).alias("x_d"))
    )
    contrib = terms.select(
        "d",
        "x_d",
        F.round(
            (1 - 0.9)
            * F.pow(F.lit(0.9), F.col("d") - 1)
            * F.col("x_d")
            / F.col("d")
            * 1e9
        )
        .cast("long")
        .alias("c_u"),
    )
    x20 = terms.filter(F.col("d") == 20).select(F.col("x_d").alias("overlap_at_depth"))
    return (
        contrib.agg(F.sum("c_u").cast("long").alias("s_u"))
        .crossJoin(F.broadcast(x20))
        .select(
            F.lit(20).cast("long").alias("depth"),
            F.lit(0.9).alias("p"),
            F.col("overlap_at_depth").cast("long").alias("overlap_at_depth"),
            F.round(F.col("s_u") / F.lit(1e9), 6).alias("rbo"),
        )
    )


@query(
    "sliding_window_hll",
    oracle=f"""
    WITH ud AS (
        SELECT DISTINCT user_id,
               epoch_ns(ts) // 86400000000000
               - (SELECT min(epoch_ns(ts) // 86400000000000) FROM events) AS day
        FROM events
    ), h AS (
        SELECT DISTINCT day, {H.dd_md5_long('user_id::VARCHAR')} AS h FROM ud
    ), regs AS (
        -- sequential saturating fill (see _hll_merge_oracle: the
        -- one-pass OR of shifts of the ORIGINAL word under-fills
        -- sparse-top words; masked by linear counting below sf1)
        SELECT day, idx, max(53 - bit_count(w)) AS m_j
        FROM (
        SELECT day, idx, w | (w >> 32) AS w FROM (
        SELECT day, idx, w | (w >> 16) AS w FROM (
        SELECT day, idx, w | (w >> 8) AS w FROM (
        SELECT day, idx, w | (w >> 4) AS w FROM (
        SELECT day, idx, w | (w >> 2) AS w FROM (
        SELECT day, idx, w | (w >> 1) AS w FROM (
            SELECT day, h >> 52 AS idx, h & 4503599627370495 AS w FROM h
        ))))))) GROUP BY day, idx
    ), days AS (SELECT DISTINCT day FROM ud),
    anchors AS (SELECT day AS anchor FROM days WHERE day >= 6),
    win AS (
        SELECT a.anchor, r.idx, max(r.m_j) AS m_j
        FROM anchors a JOIN regs r
          ON r.day BETWEEN a.anchor - 6 AND a.anchor
        GROUP BY a.anchor, r.idx
    ), agg AS (
        SELECT anchor, count(*) AS n_present,
               sum(1::BIGINT << (53 - m_j)) AS sum_scaled
        FROM win GROUP BY anchor
    ), est AS (
        SELECT anchor, 256 - n_present AS n_zero,
               (0.7213 / (1 + 1.079 / 256)) * 65536.0 * 9007199254740992.0
                   / (sum_scaled + (256 - n_present) * 9007199254740992) AS e_raw
        FROM agg
    ), exact AS (
        SELECT a.anchor, CAST(count(DISTINCT u.user_id) AS BIGINT) AS ndv_exact
        FROM anchors a JOIN ud u ON u.day BETWEEN a.anchor - 6 AND a.anchor
        GROUP BY a.anchor
    )
    SELECT CAST(e.anchor AS BIGINT) AS day, x.ndv_exact,
           round(CASE WHEN e_raw <= 640.0 AND n_zero > 0
                      THEN 256.0 * ln(256.0 / n_zero) ELSE e_raw END, 6) AS ndv_est,
           round(abs(CASE WHEN e_raw <= 640.0 AND n_zero > 0
                          THEN 256.0 * ln(256.0 / n_zero) ELSE e_raw END
                     - x.ndv_exact) / x.ndv_exact, 6) AS rel_err
    FROM est e JOIN exact x ON e.anchor = x.anchor
    """,
)
def sliding_window_hll_q(spark, sf_dir):
    """Rolling 7-day distinct users via HLL register merge (the
    sketch answer to dau_stickiness' day-spine COUNT(DISTINCT):
    sliding distinct does NOT decompose over window frames, but HLL
    registers DO — per-day 256-byte register tables merge by max
    over any window, so a year of rolling uniques costs one bounded
    register join instead of 365 distinct recounts): per-day
    registers from one grouped rho cascade, anchors join a 7-day
    register range (days × 256-bounded), estimates carry the
    standard small-range correction and are graded against the exact
    rolling distinct. THIS is why the 100 TB pipeline stores per-day
    sketches next to per-day rollups."""
    ev = load_table(spark, sf_dir, "events")
    mind = ev.agg(F.min(F.expr("ts_ns div 86400000000000")).alias("d0"))
    ud = (
        ev.crossJoin(F.broadcast(mind))
        .select(
            "user_id",
            (F.expr("ts_ns div 86400000000000") - F.col("d0")).alias("day"),
        )
        .distinct()
    )
    h = ud.select(
        "day", F.expr(H.md5_long("CAST(user_id AS STRING)")).alias("h")
    ).distinct()
    b = h.select(
        "day",
        F.expr("shiftright(h, 52)").alias("idx"),
        F.expr("h & 4503599627370495").alias("w"),
    )
    for k in (1, 2, 4, 8, 16, 32):
        b = b.withColumn("w", F.expr(f"w | shiftright(w, {k})"))
    regs = b.groupBy("day", "idx").agg(
        F.expr("max(53 - bit_count(w))").alias("m_j")
    ).localCheckpoint(eager=False)
    anchors = ud.select("day").distinct().filter(F.col("day") >= 6).select(
        F.col("day").alias("anchor")
    )
    win = (
        anchors.join(
            regs,
            (F.col("day") >= F.col("anchor") - 6) & (F.col("day") <= F.col("anchor")),
        )
        .groupBy("anchor", "idx")
        .agg(F.max("m_j").alias("m_j"))
    )
    agg = win.groupBy("anchor").agg(
        F.count("*").alias("n_present"),
        F.sum(F.expr("shiftleft(cast(1 as bigint), cast(53 - m_j as int))")).alias(
            "sum_scaled"
        ),
    )
    SCALE = 9007199254740992
    est = agg.select(
        "anchor",
        (F.lit(256) - F.col("n_present")).alias("n_zero"),
        (
            F.lit(0.7213 / (1 + 1.079 / 256))
            * F.lit(65536.0)
            * F.lit(float(SCALE))
            / (F.col("sum_scaled") + (F.lit(256) - F.col("n_present")) * F.lit(SCALE))
        ).alias("e_raw"),
    )
    exact = (
        anchors.join(
            ud,
            (F.col("day") >= F.col("anchor") - 6) & (F.col("day") <= F.col("anchor")),
        )
        .groupBy("anchor")
        .agg(F.count_distinct("user_id").cast("long").alias("ndv_exact"))
    )
    e_fix = F.when(
        (F.col("e_raw") <= F.lit(640.0)) & (F.col("n_zero") > 0),
        F.lit(256.0) * F.log(F.lit(256.0) / F.col("n_zero")),
    ).otherwise(F.col("e_raw"))
    return est.join(exact, "anchor").select(
        F.col("anchor").cast("long").alias("day"),
        "ndv_exact",
        F.round(e_fix, 6).alias("ndv_est"),
        F.round(F.abs(e_fix - F.col("ndv_exact")) / F.col("ndv_exact"), 6).alias(
            "rel_err"
        ),
    )
