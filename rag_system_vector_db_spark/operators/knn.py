"""Brute-force exact k-NN (cosine / dot / euclidean) over a vector column.

Reference parity: scripts/milvus_db.py:107 ``search_vectors`` (top-k
cosine search) and scripts/eval.py:80 (per-question retrieval loop →
batch k-NN here).

Scale design (100 TB posture):
- Single query: score is a narrow projection over the corpus scan;
  ``orderBy(...).limit(k)`` compiles to TakeOrderedAndProject — each
  task keeps a k-heap, only n_partitions×k rows reach the driver-side
  merge. No full sort, no wide shuffle.
- Batch queries: the query set is the small side → ``F.broadcast`` —
  corpus never shuffles for the join. Per-query top-k is
  ``topk_per_key``, a row_number window that Spark plans as a partial
  WindowGroupLimit before the exchange: at most k rows per (map
  partition, query) are shuffled, not N×Q.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import vector as V

_METRICS = {"cosine": V.cosine, "dot": V.dot, "euclidean": V.euclidean}


def _score(metric: str, a: str, b: str) -> str:
    try:
        fn = _METRICS[metric]
    except KeyError:
        raise ValueError(f"metric must be one of {sorted(_METRICS)}") from None
    return fn(a, b)


def _ascending(metric: str) -> bool:
    return metric == "euclidean"


def topk(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
) -> DataFrame:
    """Top-k for one literal query vector (milvus search_vectors shape).

    The query literal appears once in the plan. For cosine its norm is
    taken on the driver with the same sequential double sum and
    correctly rounded sqrt Spark's fold evaluates, and enters V.cosine
    as a hoisted norm, so the score is bit for bit the inline one; a
    zero-norm row or query scores NULL and ``score DESC`` sorts it
    last. Returns (id_col, score) — score full-precision double.
    """
    q = [float(x) for x in query_vec]
    q_sql = V.sql_literal(q)
    if metric == "cosine":
        ss = 0.0
        for x in q:
            ss += x * x
        score = V.cosine(vec_col, q_sql, nb=V.sql_literal(math.sqrt(ss)))
    else:
        score = _score(metric, vec_col, q_sql)
    order = F.asc("score") if _ascending(metric) else F.desc("score")
    return corpus.selectExpr(id_col, f"{score} AS score").orderBy(order, F.asc(id_col)).limit(k)


def topk_batch(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    metric: str = "cosine",
) -> DataFrame:
    """Per-query top-k for a (small, broadcast) query set.

    Returns (query_id, id_col, score, rank).
    """
    if metric == "cosine":
        # norms hoisted (V's docstring): once per corpus row, BELOW
        # the broadcast join, and once per broadcast query row
        c2 = corpus.selectExpr(id_col, vec_col, f"{V.l2_norm(vec_col)} AS _cnorm")
        q2 = queries.selectExpr(
            query_id_col, query_vec_col, f"{V.l2_norm(query_vec_col)} AS _qnorm"
        )
        scored = c2.crossJoin(F.broadcast(q2)).selectExpr(
            query_id_col,
            id_col,
            f"{V.cosine(vec_col, query_vec_col, '_cnorm', '_qnorm')} AS score",
        )
    else:
        scored = corpus.crossJoin(F.broadcast(queries)).selectExpr(
            query_id_col, id_col, f"{_score(metric, vec_col, query_vec_col)} AS score"
        )
    return topk_per_key(scored, query_id_col, id_col, k, asc=_ascending(metric))


def topk_batch_np(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Arrow/numpy batch cosine kNN — the raw-throughput path for wide
    query fan-out over a huge corpus.

    The (small) query set is collected to a Q×D float64 matrix and
    shipped inside the UDF closure; each corpus Arrow batch is scored
    with ONE BLAS matmul (B×D @ D×Q) and reduced to its per-query
    top-k before leaving Python — candidate volume is
    n_batches × Q × k, never N × Q. A final per-query window merges
    candidates. Ranks are exact (ties broken by id); scores differ
    from the sequential-sum HOF path only in float64 last-ulp
    rounding, so this is registered rows-only rather than
    oracle-hashed. Returns (query_id, id, score, rank).
    """
    import numpy as np
    import pandas as pd

    # Output id types follow the INPUT schemas (string/int ids work the
    # same as long — a hardcoded "long" would null them out in Arrow).
    qid_t = queries.schema[query_id_col].dataType.simpleString()
    id_t = corpus.schema[id_col].dataType.simpleString()
    schema = f"{query_id_col} {qid_t}, {id_col} {id_t}, score double"
    q_rows = queries.select(query_id_col, query_vec_col).collect()
    if not q_rows:  # no query, no rows
        return topk_per_key(corpus.sparkSession.createDataFrame([], schema), query_id_col, id_col, k)
    qids = [r[0] for r in q_rows]
    qmat = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    qnorm = np.linalg.norm(qmat, axis=1)

    def score_batches(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            norms = np.linalg.norm(mat, axis=1)
            scores = (mat @ qmat.T) / np.outer(norms, qnorm)  # B×Q
            kk = min(k, len(ids))
            out_q, out_i, out_s = [], [], []
            for qi in range(scores.shape[1]):
                col = scores[:, qi]
                # exact top-k incl. the (score desc, id asc) tiebreak
                top = np.lexsort((ids, -col))[:kk]
                out_q.extend([qids[qi]] * len(top))
                out_i.extend(ids[top])
                out_s.extend(col[top])
            yield pd.DataFrame(
                {query_id_col: out_q, id_col: out_i, "score": out_s}
            )

    cand = corpus.select(id_col, vec_col).mapInPandas(score_batches, schema)
    return topk_per_key(cand, query_id_col, id_col, k)


def topk_per_key(
    scored: DataFrame,
    keys: str | list[str],
    id_col: str,
    k: int,
    score_col: str = "score",
    asc: bool = False,
) -> DataFrame:
    """The k best rows of each key: ``score_col`` DESC (ASC with
    ``asc``) NULLS LAST, ties by ``id_col`` asc — DuckDB's order, so a
    NULL score (a zero-norm cosine) ranks last. Keeps every column of
    ``scored`` and adds ``rank`` (INT, 1..k).

    The one per-key top-k rule: ``row_number() OVER (PARTITION BY keys
    ORDER BY ...) <= k`` as SQL text. Spark plans it as a partial
    WindowGroupLimit before the exchange and a final one after it, so
    at most k rows per (map partition, key) are shuffled, while k is
    below ``spark.sql.optimizer.windowGroupLimitThreshold`` (1000 by
    default; tests/test_window_lint.py checks every registered plan).
    With no keys (``[]``) Spark pushes ``LIMIT k`` below the window:
    one TakeOrderedAndProject, then the rank numbered over k rows.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    part = "PARTITION BY " + ", ".join(f"`{c}`" for c in keys) if keys else ""
    order = f"`{score_col}` {'ASC' if asc else 'DESC'} NULLS LAST, `{id_col}` ASC"
    return scored.selectExpr(
        "*", f"row_number() OVER ({part} ORDER BY {order}) AS rank"
    ).where(f"rank <= {int(k)}")


def similarity_matrix(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
) -> DataFrame:
    """Full pairwise similarity (reference prepare_data.py:101
    ``test_similarity``). Quadratic — callers bound the input; the
    smaller side is broadcast so only one side streams.
    """
    a = vectors.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    b = vectors.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    return (
        a.crossJoin(F.broadcast(b))
        .selectExpr("id_a", "id_b", f"{_score(metric, '_va', '_vb')} AS score")
    )
