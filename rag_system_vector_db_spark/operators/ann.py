"""Approximate nearest neighbor — the scale path past brute force.

Two classic index families re-expressed as DataFrame plans:

- Random-hyperplane LSH (cosine): sign-pattern bucket per vector; a
  query only scores vectors in its bucket. Hyperplanes are
  deterministic (seeded hash) so plans — and the DuckDB oracle, which
  receives the same planes as SQL literals — are reproducible.
- IVF (inverted file) and PQ: one numpy Lloyd fit (``_lloyd_books``;
  k-means is its one-subspace case) over the driver-side sample
  ``sources.tables.sample_vectors`` reads; only the centroids and
  codebooks enter the plan, as literals. A vector's cell, a query's
  nprobe probe cells and a PQ code are one rule, the nearest centroid
  with ties to the lowest index, spelled once per engine: ``with_cell``,
  ``probe_cells`` and ``V.argmin`` in Spark; ``V.dd_nearest_cell(s)``
  and ``V.dd_argmin`` (through ``dd_ivf_ctes`` and ``dd_pq_codes``)
  in the DuckDB oracles.

At 100 TB: bucket/cell assignment is a narrow map; candidate scoring
shuffles only matching buckets (AQE skew-join for hot cells); the
centroid table is broadcast everywhere.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vector as V
from ..sources.tables import duck_parquet_path as _duck_path
from ..sources.tables import sample_vectors
from .knn import topk_per_key


def hyperplanes(n_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes (also inlined into oracles)."""
    rng = np.random.default_rng(seed)
    return [[float(x) for x in rng.standard_normal(dim)] for _ in range(n_planes)]


def lsh_bucket(vec: str, planes: list[list[float]]):
    """Bucket id = bit b set iff dot(v, plane_b) > 0, for the SQL
    vector expression ``vec``. The planes enter as one nested literal
    and each dot appears exactly once (transform), keeping the
    interpreted-HOF tree size linear in n_planes."""
    dots = f"transform({V.sql_literal(planes)}, pl -> {V.dot(vec, 'pl')})"
    return F.expr(V.sign_bits(dots, len(planes)))


def dd_lsh_bucket(vec: str, planes: list[list[float]]) -> str:
    """DuckDB twin of lsh_bucket."""
    dots = f"list_transform({V.dd_literal(planes)}, _p -> {V.dd_dot(vec, '_p')})"
    return V.dd_sign_bits(dots, len(planes))


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Single-probe LSH search: score only same-bucket candidates.
    Returns (query_id, id, score, rank)."""
    cb = corpus.withColumn("_bucket", lsh_bucket(vec_col, planes))
    qb = queries.withColumn("_bucket", lsh_bucket(query_vec_col, planes))
    scored = (
        cb.join(F.broadcast(qb), "_bucket")
        .select(
            query_id_col,
            id_col,
            F.expr(V.cosine(vec_col, query_vec_col)).alias("score"),
        )
    )
    return topk_per_key(scored, query_id_col, id_col, k)


def ann_lsh_multiprobe_topk(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Multi-probe LSH (Lv VLDB'07): besides its own bucket, each query
    probes every bucket at hamming distance 1 (one flipped plane bit) —
    recall of a (1+n_planes)-probe search for the cost of ONE index,
    instead of maintaining 1+n_planes hash tables.

    Only the (small, broadcast) query side fans out — the corpus keeps
    exactly one bucket per vector, so each (query, candidate) pair can
    match at most one probe row and no dedup pass is needed.
    Returns (query_id, id, score, rank).
    """
    cb = corpus.withColumn("_bucket", lsh_bucket(vec_col, planes))
    qb = queries.withColumn("_b0", lsh_bucket(query_vec_col, planes))
    probes = F.array(
        F.col("_b0"),
        *[F.col("_b0").bitwiseXOR(F.lit(1 << b)) for b in range(len(planes))],
    )
    qp = qb.select(
        query_id_col, query_vec_col, F.explode(probes).alias("_bucket")
    )
    scored = cb.join(F.broadcast(qp), "_bucket").select(
        query_id_col,
        id_col,
        F.expr(V.cosine(vec_col, query_vec_col)).alias("score"),
    )
    return topk_per_key(scored, query_id_col, id_col, k)


def _budget_sweep_tail(
    per_budget: DataFrame,
    queries: DataFrame,
    exact_hits: DataFrame,
    m_lo: int,
    m_hi: int,
    k: int,
    id_col: str,
    query_id_col: str,
) -> DataFrame:
    """Shared recall/cost reduction for the probe-budget sweeps: ONE
    aggregation over the (budget, query, candidate) relation yields
    both the top-k id array and the candidate count; hits are
    size(array_intersect) against the broadcast per-query exact-id
    arrays — no semi-join, so the expensive candidate subtree and the
    exact-baseline tower each plan exactly ONCE (Spark re-plans every
    reference to a frame; the semi-join + separate count formulation
    ran both towers twice). Recall denominator is k: the exact top-k
    is always full whenever the corpus has >= k vectors (any real
    scale; the oracles' per-query counts equal k too).
    Returns (m, mean_recall, mean_candidates) for m in [m_lo, m_hi]."""
    exact_arr = exact_hits.groupBy(query_id_col).agg(
        F.collect_set(id_col).alias("_exact")
    )
    # NULL scores (zero-norm cosine) sort last, as in topk_per_key
    pair = f"named_struct('_n', score IS NULL, '_o', -score, '_id', `{id_col}`)"
    agged = per_budget.groupBy("m", query_id_col).agg(
        F.count("*").alias("n_cand"),
        F.expr(f"slice(sort_array(collect_list({pair})), 1, {k})").alias("_top"),
    )
    joined = agged.join(F.broadcast(exact_arr), query_id_col).select(
        "m",
        query_id_col,
        "n_cand",
        F.expr("size(array_intersect(transform(_top, s -> s._id), _exact))").alias("n_hit"),
    )
    grid = queries.select(query_id_col).distinct().crossJoin(
        F.broadcast(
            per_budget.sparkSession.range(m_lo, m_hi + 1).select(
                F.col("id").cast("int").alias("m")
            )
        )
    )
    return (
        grid.join(joined, ["m", query_id_col], "left")
        .groupBy("m")
        .agg(
            F.avg(F.coalesce(F.col("n_hit"), F.lit(0)) / F.lit(float(k))).alias(
                "mean_recall"
            ),
            F.avg(F.coalesce(F.col("n_cand"), F.lit(0))).alias("mean_candidates"),
        )
    )


def probe_sweep(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    exact_hits: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Recall/cost tradeoff sweep: for each probe budget m = 0..n_planes
    (own bucket + first m flipped bits), mean recall@k vs mean scored
    candidates per query — the curve that picks an index's probe
    budget.

    ONE plan, no driver-side loop: every probe row carries the minimum
    budget that includes it (own bucket → 0, flipped bit b → b+1), the
    bucket join runs once, and the budget dimension is exploded as a
    column (each candidate fans out only to the budgets that include
    it). Per-(budget, query) top-k, recall vs the exact hits, and
    candidate counts all aggregate from that single joined relation —
    at scale this is one corpus pass instead of n_planes+1.
    Returns (n_probes, mean_recall, mean_candidates)."""
    n_planes = len(planes)
    cb = corpus.withColumn("_bucket", lsh_bucket(vec_col, planes))
    qb = queries.withColumn("_b0", lsh_bucket(query_vec_col, planes))
    probes = F.array(
        F.struct(F.col("_b0").alias("b"), F.lit(0).alias("m_min")),
        *[
            F.struct(
                F.col("_b0").bitwiseXOR(F.lit(1 << b)).alias("b"),
                F.lit(b + 1).alias("m_min"),
            )
            for b in range(n_planes)
        ],
    )
    qp = qb.select(
        query_id_col, query_vec_col, F.explode(probes).alias("_p")
    ).select(
        query_id_col,
        query_vec_col,
        F.col("_p.b").alias("_bucket"),
        F.col("_p.m_min").alias("_m_min"),
    )
    # Each corpus vector has exactly one bucket and a query's probe
    # buckets are distinct, so (query, candidate) pairs are unique and
    # _m_min is well-defined per pair.
    cand = cb.join(F.broadcast(qp), "_bucket").select(
        query_id_col,
        id_col,
        F.col("_m_min"),
        F.expr(V.cosine(vec_col, query_vec_col)).alias("score"),
    )
    per_budget = cand.withColumn(
        "m", F.explode(F.sequence(F.col("_m_min"), F.lit(n_planes)))
    )
    return _budget_sweep_tail(
        per_budget, queries, exact_hits, 0, n_planes, k, id_col, query_id_col
    ).select(
        (F.col("m") + 1).cast("long").alias("n_probes"),
        F.round("mean_recall", 6).alias("mean_recall"),
        F.round("mean_candidates", 6).alias("mean_candidates"),
    )


def recall_at_k(
    ann_hits: DataFrame,
    exact_hits: DataFrame,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall@k harness: fraction of the exact top-k an ANN search
    recovered, per query. Both inputs are (query_id, id[, ...]) top-k
    result sets. Returns (query_id, n_exact, n_hit, recall)."""
    hits = exact_hits.select(query_id_col, id_col).join(
        ann_hits.select(query_id_col, id_col), [query_id_col, id_col], "left_semi"
    )
    per_q = exact_hits.groupBy(query_id_col).agg(
        F.count("*").cast("long").alias("n_exact")
    )
    got = hits.groupBy(query_id_col).agg(F.count("*").cast("long").alias("n_hit"))
    return (
        per_q.join(got, query_id_col, "left")
        .select(
            query_id_col,
            "n_exact",
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
            F.round(F.coalesce("n_hit", F.lit(0)) / F.col("n_exact"), 6).alias("recall"),
        )
    )


# --- IVF ---


def corpus_rows(sf_dir: str, table: str = "embeddings") -> int:
    """Row count straight off parquet metadata (no Spark job) — the
    one corpus statistic the scale-aware sizing helpers below need."""
    import duckdb

    return duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{_duck_path(sf_dir, table)}')"
    ).fetchone()[0]


def kmeans_k_for(
    sf_dir: str,
    rows_per_cell: int = 250,
    k_min: int = 8,
    k_max: int = 4096,
    table: str = "embeddings",
) -> int:
    """Scale-honest cell count for SemDeDup/IVF-style partition-then-
    pair operators: k grows with N so expected cell occupancy (and
    therefore within-cell pair volume) stays LINEAR in N instead of
    quadratic. Fixed k=8 measured superlinear (+1.17 exponent) on the
    sf0.1->sf1 study; k=N/250 measured the remedy (29.5 s vs 61.5 s at
    sf1, pair volume provably linear). At the gate scales
    (N=500..2000) this floors at k_min=8, so gate-scale oracles are
    byte-identical to the fixed-k plan.

    ``k_max`` bounds the OTHER quadratic: centroid assignment costs
    N*k interpreted euclideans, so uncapped k = N/250 makes assignment
    O(N²/250) — linear pair volume bought with a quadratic assignment
    term one scale later — and the driver-side fit sample (16*k rows)
    plus the k*dim centroid literals inlined into plans and lazy-oracle
    SQL would grow unboundedly. k_max=4096 holds assignment cost at
    N*4096 (linear), keeps the fit sample ≤64k rows and the literal
    block ≤~4 MB of SQL, and concedes that beyond N ≈ k_max*250 ≈ 1M
    sampled vectors per fit scope, cell occupancy grows ~N/k_max again
    — within-cell pair volume is then quadratic with a 1/4096
    constant; the 100 TB posture for that regime is sharding the fit
    scope (per-partition SemDeDup), not a bigger flat k."""
    return min(k_max, max(k_min, corpus_rows(sf_dir, table) // rows_per_cell))


def lsh_bits_for(
    sf_dir: str,
    rows_per_bucket: float = 7.8125,
    bits_min: int = 6,
    bits_max: int = 24,
    table: str = "embeddings",
) -> int:
    """Scale-honest LSH plane count: bits = log2(N / target_occupancy)
    keeps expected bucket occupancy (and same-bucket pair volume per
    vector) constant as N grows. The 7.8125 default reproduces the
    historical 6-bit plan at the N=500 gate scale (500/64), giving 8
    bits at sf0.1 (N=2000) and 11 at the derived sf1 (N=20000)."""
    import math

    n = max(1, corpus_rows(sf_dir, table))
    return min(bits_max, max(bits_min, round(math.log2(max(2.0, n / rows_per_bucket)))))


def planes_for(
    sf_dir: str,
    rows_per_bucket: float = 7.8125,
    bits_min: int = 6,
    dim: int = 64,
    seed: int = 42,
    table: str = "embeddings",
) -> list[list[float]]:
    """Corpus-sized hyperplane set: lsh_bits_for picks the plane count,
    hyperplanes draws them. The r7 sf1 study's lesson generalized: every
    pair-GENERATING LSH consumer (bucketed dedup, kNN-graph build,
    hard-negative mining) must size bits to N or same-bucket pair
    volume grows ~N²/2^bits; the floors reproduce the historical fixed
    plans at the N=500 gate scales so gate oracles (and prior driver
    stamps) are unchanged by construction. The first ``bits_min``
    planes of a larger draw equal the fixed draw's planes only when the
    seed and order match — hyperplanes() draws plane-by-plane from one
    rng stream, so growing the count EXTENDS the set without changing
    the shared prefix; bucket ids still differ (more bits), which is
    the point."""
    return hyperplanes(lsh_bits_for(sf_dir, rows_per_bucket, bits_min, table=table), dim, seed=seed)


N_ITER = 3  # Lloyd rounds of every driver-side fit


def kmeans_fit_sample(sf_dir: str, k: int = 8) -> list[list[float]]:
    """Train the IVF coarse quantizer on a bounded deterministic sample,
    driver-side in numpy — the standard IVF posture (faiss trains
    quantizers on a ~O(100k) subsample however large the corpus is;
    the index then assigns all vectors against the broadcast
    centroids). The sample is the first max(4096, 16·k) vectors by id
    (``sample_vectors``), and the fit is ``_lloyd_books`` with one
    subspace, so the centroids can be inlined as SQL literals into a
    DuckDB oracle the same way LSH planes are.

    Mirrors reference scripts/prepare_data.py:50's bounded in-process
    model fit (embedder there, quantizer here)."""
    return _lloyd_books(sample_vectors(sf_dir, max(4096, 16 * k)), 1, k)[0]


def _assign(x, cents):
    """Nearest centroid of each row of x, ties -> the lowest index
    (numpy's argmin, as V.argmin and V.dd_argmin)."""
    return ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)


def _lloyd_books(x, m: int, k: int) -> list[list[list[float]]]:
    """The one Lloyd fit: per subspace of ``m`` (m=1 is plain k-means),
    init = the first k sample subvectors, N_ITER rounds, an empty cell
    keeps its centroid. Returns books[m][k][dim/m]."""
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    dsub = dim // m
    books: list[list[list[float]]] = []
    for mi in range(m):
        xs = x[:, mi * dsub : (mi + 1) * dsub]
        cents = xs[:k].copy()
        for _ in range(N_ITER):
            assign = _assign(xs, cents)
            for c in range(k):
                members = xs[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books.append([[float(v) for v in c] for c in cents])
    return books


def with_cell(df: DataFrame, vec_col, centroids, out_col: str = "_cell") -> DataFrame:
    """Attach the nearest-centroid cell id (ties -> the lowest cell).
    The distance array is materialized once per row, then dropped: a
    nested when(d < best, ...) argmin would duplicate every distance
    subtree into each later branch, and HOFs evaluate interpreted with
    no common subexpression elimination (measured 15x slower at
    sf0.1)."""
    return (
        df.withColumn("_cd", _centroid_dists(vec_col, centroids))
        .withColumn(out_col, F.expr(V.argmin("_cd")))
        .drop("_cd")
    )


def _centroid_dists(vec: str, centroids: list[list[float]]):
    """Array of euclidean distances to each centroid literal, each
    distance expression appearing exactly once."""
    return F.expr(f"transform({V.sql_literal(centroids)}, c -> {V.euclidean(vec, 'c')})")


def probe_cells(
    queries: DataFrame,
    centroids: list[list[float]],
    nprobe: int,
    out_col: str = "_cell",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """The probe set of each query: one (query id, query vec, cell,
    ``_probe`` rank from 1) row for each of its nprobe nearest cells.
    Cells sort by (distance, cell id), so exact-equal distances probe
    the lower cell first, as V.dd_nearest_cells does."""
    structs = (
        f"transform({V.sql_literal(centroids)},"
        f" (c, i) -> named_struct('cell', i, 'd', {V.euclidean(query_vec_col, 'c')}))"
    )
    order = (
        "(a, b) -> CASE WHEN a.d < b.d THEN -1 WHEN a.d > b.d THEN 1"
        " WHEN a.cell < b.cell THEN -1 ELSE 1 END"
    )
    return queries.selectExpr(
        query_id_col,
        query_vec_col,
        f"posexplode(slice(array_sort({structs}, {order}), 1, {int(nprobe)})) AS (_probe, _p)",
    ).selectExpr(query_id_col, query_vec_col, f"_p.cell AS {out_col}", "_probe + 1 AS _probe")


def dd_ivf_ctes(centroids: list[list[float]], n_queries: int = 0, nprobe: int = 2) -> str:
    """DuckDB twin of with_cell and probe_cells, as CTEs for an oracle
    (after its ``WITH``): ``assigned`` (each embeddings row and its
    ``cid``), ``q`` (query_id, query_vec: the vec_ids below
    ``n_queries``) and ``qprobe`` (query_id, query_vec, cid, m_min: the
    probe rank from 1)."""
    cents = V.dd_literal(centroids)
    return f"""
    assigned AS (
        SELECT *, {V.dd_nearest_cell('embedding', cents)} AS cid FROM embeddings
    ), q AS (
        SELECT vec_id AS query_id, embedding AS query_vec
        FROM embeddings WHERE vec_id < {int(n_queries)}
    ), qprobe AS (
        SELECT query_id, query_vec, unnest(cells) AS cid,
               unnest(range(1, len(cells) + 1)) AS m_min
        FROM (SELECT *, {V.dd_nearest_cells('query_vec', cents, nprobe)} AS cells FROM q)
    )
    """


def ann_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 3,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVF probe search: per query, score only the nprobe nearest
    centroid cells. Returns (query_id, id, score, rank)."""
    cell = with_cell(corpus, vec_col, centroids)
    qcells = probe_cells(queries, centroids, nprobe, "_cell", query_id_col, query_vec_col)
    scored = (
        cell.join(F.broadcast(qcells), "_cell")
        .select(
            query_id_col,
            id_col,
            F.expr(V.cosine(vec_col, query_vec_col)).alias("score"),
        )
    )
    return topk_per_key(scored, query_id_col, id_col, k)


def hard_negative_mining(
    vectors: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Contrastive hard-negative mining (the training-pair step of
    embedding-model fine-tuning): for each anchor, the most-similar
    vector with a DIFFERENT label among its LSH-bucket candidates —
    highest cosine, ties to the lowest negative id.

    Scale: same posture as every dedup/ANN path here — candidates are
    bucket-bound (equi-self-join on the bucket id, volume scales with
    bucket occupancy, never n²); top-1 per anchor reduces via a single
    map-side-combinable max_by agg, no window over the pair set.
    Anchors whose bucket holds no cross-label vector produce no row
    (they have no hard negative at this probe depth — widen with
    multi-probe buckets if coverage matters more than cost).
    Returns (vec_id, label, neg_id, neg_label, score)."""
    b = vectors.select(
        F.col(id_col),
        F.col(vec_col),
        F.col(label_col),
        lsh_bucket(vec_col, planes).alias("_bucket"),
        F.expr(V.l2_norm(vec_col)).alias("_nrm"),
    )
    a, c = b.alias("a"), b.alias("n")
    pairs = a.join(
        c,
        (F.col("a._bucket") == F.col("n._bucket"))
        & (F.col(f"a.{label_col}") != F.col(f"n.{label_col}")),
    ).select(
        F.col(f"a.{id_col}").alias(id_col),
        F.col(f"a.{label_col}").alias(label_col),
        F.col(f"n.{id_col}").alias("neg_id"),
        F.col(f"n.{label_col}").alias("neg_label"),
        F.expr(V.cosine(f"a.{vec_col}", f"n.{vec_col}", "a._nrm", "n._nrm")).alias("score"),
    )
    # max_by on (score, -neg_id): highest cosine wins, exact ties go to
    # the lowest negative id — deterministic, oracle-matched. A NULL
    # score (a zero vector) loses to any other, as the oracle's NULLS
    # LAST does.
    return (
        pairs.groupBy(id_col, label_col)
        .agg(
            F.max_by(
                F.struct("neg_id", "neg_label", "score"),
                F.struct(F.col("score"), (-F.col("neg_id")).alias("_t")),
            ).alias("s")
        )
        .select(
            id_col,
            label_col,
            F.col("s.neg_id"),
            F.col("s.neg_label"),
            F.round("s.score", 6).alias("score"),
        )
    )


def cluster_purity(
    vectors: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Label purity of the IVF cells (the diversity/alignment
    diagnostic next to ivf_cell_stats' occupancy balance): per cell,
    occupancy, distinct labels, the majority label (ties to the lowest
    label id) and its share. Low purity = the quantizer's semantic
    cells cut across labels — retrain or re-label before using cells
    as sampling strata.

    One narrow assignment pass (broadcast centroid literals) + two
    map-side-combinable groupBys ((cell,label) then cell); nothing
    wide ever shuffles. Returns (cell, n, n_labels, top_label,
    top_share)."""
    cell = with_cell(vectors, vec_col, centroids, out_col="cell")
    per_label = cell.groupBy("cell", label_col).agg(F.count("*").alias("c"))
    return (
        per_label.groupBy("cell")
        .agg(
            F.sum("c").cast("long").alias("n"),
            F.count("*").cast("long").alias("n_labels"),
            F.max_by(
                F.col(label_col),
                F.struct(F.col("c"), (-F.col(label_col)).alias("_t")),
            ).alias("top_label"),
            F.max(F.struct(F.col("c"), (-F.col(label_col)).alias("_t"))).alias("_m"),
        )
        .select(
            F.col("cell").cast("long"),
            "n",
            "n_labels",
            "top_label",
            F.round(F.col("_m.c") / F.col("n"), 6).alias("top_share"),
        )
    )


def ivf_probe_sweep(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    exact_hits: DataFrame,
    max_nprobe: int = 4,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVF nprobe recall/cost sweep — the IVF analog of
    ``probe_sweep``: for each probe budget nprobe = 1..max_nprobe,
    mean recall@k vs mean scored candidates per query. The curve that
    sizes an IVF index's probe budget (faiss's nprobe parameter).

    ONE plan, no driver-side per-budget loop: each query's cells are
    sorted by (centroid distance, cell id) once and the first
    max_nprobe carry their probe rank r (1-based) — the MINIMUM
    nprobe that includes them. The cell join runs once; each candidate
    explodes only to budgets >= its rank. Per-(budget, query) top-k,
    recall vs the exact hits, and candidate counts all aggregate from
    that single joined relation — one corpus pass instead of
    max_nprobe passes.
    Returns (n_probes, mean_recall, mean_candidates)."""
    cell = with_cell(corpus, vec_col, centroids)
    qp = probe_cells(
        queries, centroids, max_nprobe, "_cell", query_id_col, query_vec_col
    ).withColumnRenamed("_probe", "_m_min")
    # A corpus vector has exactly one cell and a query's probed cells
    # are distinct, so (query, candidate) pairs are unique and _m_min
    # (the candidate's probe rank) is well-defined per pair.
    cand = cell.join(F.broadcast(qp), "_cell").select(
        query_id_col,
        id_col,
        F.col("_m_min"),
        F.expr(V.cosine(vec_col, query_vec_col)).alias("score"),
    )
    per_budget = cand.withColumn(
        "m", F.explode(F.sequence(F.col("_m_min"), F.lit(max_nprobe)))
    )
    return _budget_sweep_tail(
        per_budget, queries, exact_hits, 1, max_nprobe, k, id_col, query_id_col
    ).select(
        F.col("m").cast("long").alias("n_probes"),
        F.round("mean_recall", 6).alias("mean_recall"),
        F.round("mean_candidates", 6).alias("mean_candidates"),
    )


# --- PQ (product quantization) ---


def pq_fit_sample(sf_dir: str) -> list[list[list[float]]]:
    """Train 4×16 PQ codebooks (Jégou PAMI'11) on the bounded
    deterministic sample, driver-side in numpy — same posture as
    ``kmeans_fit_sample``: faiss trains PQ on an O(100k) subsample
    however large the corpus is, then encodes everything against the
    broadcast codebooks. Each of the 4 subspaces gets an independent
    16-centroid ``_lloyd_books`` fit (ties -> lowest code). Returns
    codebooks[4][16][dim/4], inlineable as SQL literals for oracles."""
    return _lloyd_books(sample_vectors(sf_dir, 4096), 4, 16)


def pq_fit_residual_sample(sf_dir: str, centroids: list[list[float]]) -> list[list[list[float]]]:
    """Residual-PQ codebook fit (faiss IndexIVFPQ ``by_residual=True``,
    its default): each sample vector is assigned to its nearest coarse
    centroid (the Lloyd assignment step) and the codebooks train on
    the RESIDUALS x − c(x). Residuals cluster far tighter around zero
    than raw vectors, so the same m×k code budget quantizes finer —
    the reason faiss defaults to it. Same sample as pq_fit_sample."""
    x = sample_vectors(sf_dir, 4096)
    c = np.array(centroids, dtype=np.float64)
    return _lloyd_books(x - c[_assign(x, c)], 4, 16)


def _subspace_d2(vec: str, codebooks: list[list[list[float]]]) -> str:
    """SQL for d2[m][k] = ||v_m − codebook[m][k]||² over the m subspace
    slices v_m of a vector (V.sq_euclidean: no sqrt, the oracle's
    list_sum order). One zip_with pairs each slice with its codebook,
    so every distance subtree evaluates exactly once."""
    dsub = len(codebooks[0][0])
    v = f"CAST(({vec}) AS ARRAY<DOUBLE>)"
    slices = ", ".join(f"slice({v}, {mi * dsub + 1}, {dsub})" for mi in range(len(codebooks)))
    return (
        f"zip_with({V.sql_literal(codebooks)}, array({slices}),"
        f" (book, sv) -> transform(book, c -> {V.sq_euclidean('sv', 'c')}))"
    )


def pq_code_expr(vec: str, codebooks: list[list[list[float]]]):
    """PQ encode: per subspace, the code of the nearest centroid by
    squared euclidean (ties -> lowest code, V.argmin; dd_pq_codes is
    the oracle's twin). The argmin runs on the materialized
    per-subspace distance array (_subspace_d2).
    Returns an array<int> of m codes.

    Formulation note (measured at sf0.1): HOFs run interpreted, but
    the alternative — expanding the m×k distances into explicit
    element_at/literal arithmetic for whole-stage codegen — built a
    ~2048-term expression tree that ran 6x SLOWER (10.5 s vs 1.7 s
    for ann_pq_adc): the giant tree defeats codegen and re-evaluates
    element accesses the zip_with formulation materializes once. The
    interpreted-but-materialized shape wins."""
    return F.expr(f"transform({_subspace_d2(vec, codebooks)}, d -> {V.argmin('d')})")


def dd_subspace_d2(vec: str, codebooks: list[list[list[float]]]) -> list[str]:
    """DuckDB twin of _subspace_d2: for each subspace m, the DOUBLE[]
    of squared distances from the m-th slice of ``vec`` to the codes
    of codebook m."""
    dsub = len(codebooks[0][0])
    return [
        f"list_transform({V.dd_literal(book)}, _c ->"
        f" {V.dd_sq_euclidean(f'list_slice(({vec})::DOUBLE[], {mi * dsub + 1}, {(mi + 1) * dsub})', '_c')})"
        for mi, book in enumerate(codebooks)
    ]


def dd_pq_codes(vec: str, codebooks: list[list[list[float]]]) -> str:
    """DuckDB twin of pq_code_expr: the INTEGER[] of m codes of ``vec``."""
    return "[" + ", ".join(V.dd_argmin(d) for d in dd_subspace_d2(vec, codebooks)) + "]"


def dd_adc_dist(query_vec: str, codes: str, codebooks: list[list[list[float]]]) -> str:
    """DuckDB twin of pq_adc_dist: sqrt of Σ_m ||q_m − codebook[m][code_m]||²,
    added left to right (SQL + is left-associative)."""
    dsub = len(codebooks[0][0])
    legs = " + ".join(
        V.dd_sq_euclidean(
            f"list_slice(({query_vec})::DOUBLE[], {mi * dsub + 1}, {(mi + 1) * dsub})",
            f"{V.dd_literal(book)}[({codes})[{mi + 1}] + 1]",
        )
        for mi, book in enumerate(codebooks)
    )
    return f"sqrt({legs})"


def pq_adc_dist(query_vec: str, codes: str, codebooks: list[list[list[float]]]):
    """Asymmetric distance (ADC): euclidean between the full-precision
    query and a corpus vector's PQ reconstruction — computed straight
    from the codes, Σ_m ||q_m - codebook[m][code_m]||², left-to-right
    over subspaces (the oracle adds its per-subspace terms in the same
    order), sqrt once at the end.

    Reference formulation — the serving paths use pq_adc_luts +
    pq_adc_dist_lut (bit-identical values, ~10x less per-row work);
    this stays as the direct-definition twin the LUT path is
    unit-tested against."""
    dsub = len(codebooks[0][0])
    terms = [
        V.sq_euclidean(
            f"slice(CAST(({query_vec}) AS ARRAY<DOUBLE>), {mi * dsub + 1}, {dsub})",
            f"element_at({V.sql_literal(book)}, ({codes})[{mi}] + 1)",
        )
        for mi, book in enumerate(codebooks)
    ]
    return F.expr(f"sqrt({' + '.join(terms)})")


def pq_adc_luts(query_vec: str, codebooks: list[list[list[float]]]):
    """Per-QUERY ADC lookup tables — faiss's actual ADC trick (Jégou
    PAMI'11 §V.A): luts[m][k] = ||q_m − codebook[m][k]||², computed
    once per query row (Q × m × k entries, interpreted-HOF cost paid
    on the tiny broadcast side), so the corpus-side distance is m
    array lookups + m−1 adds per row instead of m interpreted
    dsub-dim euclideans. Each entry is the SAME V.sq_euclidean expression
    pq_adc_dist would evaluate per corpus row — identical operands,
    identical order — so LUT-served distances are bit-identical. The
    tables are pq_code_expr's distance array, before its argmin."""
    return F.expr(_subspace_d2(query_vec, codebooks))


def pq_adc_dist_lut(lut_col, codes_col, m: int):
    """ADC from the per-query LUT: sqrt of the left-associative sum of
    the m table entries the corpus row's codes select — the same
    addition order as pq_adc_dist's python loop and the oracle's
    SQL `+` chain."""
    total = None
    for mi in range(m):
        t = F.element_at(F.element_at(lut_col, mi + 1), codes_col[mi] + 1)
        total = t if total is None else total + t
    return F.sqrt(total)


def ann_pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """PQ-compressed exhaustive search (faiss IndexPQ): the corpus is
    encoded to m small codes (m bytes/vector instead of dim×4), every
    query scans ALL codes with ADC — the memory-bound regime where the
    working set shrinks 64× and the scan stays sequential. Combine
    with IVF cell pruning for the IVF-PQ serving shape
    (ann_ivf_rerank_topk shows the shortlist+rerank half).
    Returns (query_id, id, dist, rank), dist ascending."""
    coded = corpus.select(
        F.col(id_col), pq_code_expr(vec_col, codebooks).alias("_codes")
    )
    qlut = queries.select(
        query_id_col, pq_adc_luts(query_vec_col, codebooks).alias("_lut")
    )
    scored = coded.join(F.broadcast(qlut)).select(
        query_id_col,
        id_col,
        pq_adc_dist_lut(F.col("_lut"), F.col("_codes"), len(codebooks)).alias("dist"),
    )
    return topk_per_key(scored, query_id_col, id_col, k, score_col="dist", asc=True)


def pq_reconstruction_error(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Index-quality metric: per-subspace mean squared quantization
    error over the whole corpus (the number PQ papers tune m/k
    against). Encode + per-subspace error in one narrow projection,
    then a single map-side-combinable groupBy(subspace).
    Returns (subspace, n, mse)."""
    errs = F.expr(f"transform({_subspace_d2(vec_col, codebooks)}, d -> array_min(d))")
    return (
        corpus.select(F.posexplode(errs).alias("subspace", "e2"))
        .groupBy("subspace")
        .agg(F.count("*").alias("n"), F.round(F.avg("e2"), 6).alias("mse"))
        .select(F.col("subspace").cast("long"), F.col("n").cast("long"), "mse")
    )


def ann_ivf_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 3,
    nprobe: int = 2,
    shortlist: int = 10,
    quant_decimals: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVF with exact re-ranking (the IVF-PQ serving pattern): the
    probed cells are scored with QUANTIZED vectors (rounded to
    ``quant_decimals`` — standing in for PQ codes, which cost bytes/vec
    instead of dim×4) to build a per-query shortlist; exact cosine then
    re-scores only shortlist×Q rows against the full-precision vectors.

    At scale the first pass reads the small quantized index, and the
    expensive full-precision column is fetched (join by id) for
    shortlist rows only. Returns (query_id, id, score, rank) with exact
    scores.
    """
    # cast-then-round in DOUBLE so the quantized values are exactly
    # reproducible in SQL oracles (round(float32) would round a
    # different binary value than the oracle's DOUBLE[] cast sees)
    quant = F.expr(
        f"transform(CAST(({vec_col}) AS ARRAY<DOUBLE>), x -> round(x, {int(quant_decimals)}))"
    )
    cell = with_cell(
        corpus.select(F.col(id_col), quant.alias("_qv"), F.col(vec_col)),
        vec_col,
        centroids,
    ).select(id_col, "_qv", "_cell")
    qcells = probe_cells(queries, centroids, nprobe, "_cell", query_id_col, query_vec_col)
    approx = cell.join(F.broadcast(qcells), "_cell").select(
        query_id_col,
        id_col,
        F.expr(V.cosine("_qv", query_vec_col)).alias("_approx"),
    )
    short = topk_per_key(
        approx, query_id_col, id_col, shortlist, score_col="_approx"
    ).select(query_id_col, id_col)
    exact = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .join(F.broadcast(short), id_col)
        .join(
            F.broadcast(queries.select(query_id_col, query_vec_col)), query_id_col
        )
        .select(
            query_id_col,
            id_col,
            F.expr(V.cosine(vec_col, query_vec_col)).alias("score"),
        )
    )
    return topk_per_key(exact, query_id_col, id_col, k)


def ann_ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 3,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVF-PQ composite (faiss IndexIVFPQ, Jégou PAMI'11 §V): the
    corpus is encoded ONCE into (cell, m PQ codes) — the inverted-file
    + compressed-code layout where a vector costs m bytes + a cell id
    instead of dim×4 — and each query ADC-scans only its nprobe nearest
    cells. Encoding raw vectors, not residuals (faiss
    ``by_residual=False``), so the same codebooks serve every cell and
    the oracle replays encode + probe + ADC from the fitted literals.

    At 100 TB this is THE serving shape for vector search: the scan is
    bounded by nprobe/K of the corpus and reads 64×-compressed codes;
    the cell join key is broadcast probe structs, the per-query top-k
    is knn.topk_per_key (at most k rows per map partition and query
    are shuffled). Returns (query_id, id, dist, rank), dist ascending."""
    coded = with_cell(
        corpus.select(F.col(id_col), F.col(vec_col)), vec_col, centroids
    ).select(
        F.col(id_col), pq_code_expr(vec_col, codebooks).alias("_codes"), "_cell"
    )
    qcells = probe_cells(queries, centroids, nprobe, "_cell", query_id_col, query_vec_col).select(
        query_id_col, pq_adc_luts(query_vec_col, codebooks).alias("_lut"), "_cell"
    )
    scored = coded.join(F.broadcast(qcells), "_cell").select(
        query_id_col,
        id_col,
        pq_adc_dist_lut(F.col("_lut"), F.col("_codes"), len(codebooks)).alias("dist"),
    )
    return topk_per_key(scored, query_id_col, id_col, k, score_col="dist", asc=True)


def ivfpq_index_build(
    corpus: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialized IVF-PQ index (faiss's on-disk IndexIVFPQ layout):
    every vector stored as (id, m PQ codes) in its cell's partition
    directory — the full-precision embedding column is NOT written, so
    the index is ~64× smaller than the corpus and a probe reads only
    compressed codes. The one-off O(corpus) encode job that turns a
    100 TB embedding table into an index whose queries read
    nprobe/K of a 64×-smaller artifact."""
    coded = with_cell(
        corpus.select(F.col(id_col), F.col(vec_col)), vec_col, centroids, out_col="cell"
    ).select(
        F.col(id_col), pq_code_expr(vec_col, codebooks).alias("codes"), "cell"
    )
    coded.write.partitionBy("cell").mode("overwrite").parquet(index_dir)


def ann_ivfpq_indexed_topk(
    spark,
    index_dir: str,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 3,
    nprobe: int = 2,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """ADC probe search over the materialized IVF-PQ index: identical
    result contract to ann_ivfpq_topk, but the corpus side is the
    code-only partitioned layout — the cell join key is the PARTITION
    column, so directory pruning skips non-probed cells before any
    I/O, and what IS read is m bytes of codes per vector, not the
    embedding. The serving half of the build-once/probe-many story
    ann_ivf_indexed tells for full-precision IVF."""
    idx = spark.read.parquet(index_dir)
    qcells = probe_cells(queries, centroids, nprobe, "cell", query_id_col, query_vec_col).select(
        query_id_col, pq_adc_luts(query_vec_col, codebooks).alias("_lut"), "cell"
    )
    scored = idx.join(F.broadcast(qcells), "cell").select(
        query_id_col,
        id_col,
        pq_adc_dist_lut(F.col("_lut"), F.col("codes"), len(codebooks)).alias("dist"),
    )
    return topk_per_key(scored, query_id_col, id_col, k, score_col="dist", asc=True)


# --- IVF as a materialized, partition-pruned index layout ---


def ivf_index_build(
    corpus: DataFrame,
    centroids: list[list[float]],
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Batch index build (the north-star workload): assign every vector
    its IVF cell and materialize the corpus as a CELL-PARTITIONED
    parquet layout. Probing then reads only nprobe directories per
    query — partition pruning does the inverted-file lookup, no
    per-row filter ever touches non-probed cells' bytes. At cluster
    scale this is the one-off O(corpus) job that turns a 100 TB
    embedding table into an index whose queries read nprobe/K of it."""
    # keep every payload column (entities carry metadata); cell and the
    # _batch = 0 stamp make the layout the base of the streaming
    # maintenance log (streaming.pipeline.start_ivf_index_maintenance
    # appends micro-batches with increasing ids; reads resolve latest)
    coded = with_cell(corpus, vec_col, centroids, out_col="cell")
    coded.withColumn("_batch", F.lit(0).cast("long")).write.partitionBy(
        "cell"
    ).mode("overwrite").parquet(index_dir)


def ann_ivf_indexed_topk(
    spark,
    index_dir: str,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 3,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Probe search over the materialized index: identical result
    contract to ann_ivf_topk, but the corpus side is the partitioned
    layout and the cell join key is the PARTITION column — Spark's
    dynamic partition pruning turns the broadcast probe set into
    directory-level skips before any I/O."""
    idx = spark.read.parquet(index_dir)
    qcells = probe_cells(queries, centroids, nprobe, "cell", query_id_col, query_vec_col)
    scored = idx.join(F.broadcast(qcells), "cell").select(
        query_id_col,
        id_col,
        F.expr(V.cosine(vec_col, query_vec_col)).alias("score"),
    )
    return topk_per_key(scored, query_id_col, id_col, k)


def matryoshka_recall(
    corpus: DataFrame,
    queries: DataFrame,
    dims: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Matryoshka truncation sweep (Kusupati et al. NeurIPS'22): for
    each prefix dimensionality, exact cosine top-k on the TRUNCATED
    vectors, graded as recall@k against the full-dimension top-k —
    the measurement that picks the serving dimensionality/recall
    trade-off (the embedding analog of ann_probe_sweep's probe
    budget).

    ONE plan, ONE corpus scan serves every dim: the (query x dim) set
    is exploded on the broadcast side (|Q|*|dims| rows),
    slice(vec, 1, dim) truncates inside the cosine, and the top-k per
    (dim, query) survivors collapse to id-arrays. The full-dim
    baseline is then a max_by window over that tiny frame — reusing
    the top-k relation twice would replan the whole scoring subtree
    (Spark shares no subtrees), so the grading join is a window, not
    a self-join. The largest ``dims`` entry is the grading baseline.
    Returns (dim, query_id, n_hits, recall)."""
    qd = queries.select(
        query_id_col,
        query_vec_col,
        F.explode(V.lit_array(dims)).alias("dim"),
    )
    scored = corpus.crossJoin(F.broadcast(qd)).select(
        "dim",
        F.col(query_id_col),
        F.col(id_col),
        F.expr(V.cosine(f"slice({vec_col}, 1, dim)", f"slice({query_vec_col}, 1, dim)")).alias("score"),
    )
    tops = (
        topk_per_key(scored, ["dim", query_id_col], id_col, k)
        .groupBy("dim", query_id_col)
        .agg(F.collect_list(id_col).alias("ids"))
    )
    w = Window.partitionBy(query_id_col)
    graded = tops.withColumn(
        "_base", F.expr("max_by(ids, dim)").over(w)
    ).withColumn("_hits", F.size(F.array_intersect("ids", "_base")))
    return graded.select(
        F.col("dim").cast("long"),
        query_id_col,
        F.col("_hits").cast("long").alias("n_hits"),
        F.round(F.col("_hits") / float(k), 6).alias("recall"),
    )


def _residual_expr(vec: str, cell: str, centroids: list[list[float]]):
    """x − centroid[cell], elementwise (zip_with; the oracle's
    list_transform(list_zip(...)) computes the identical sequence)."""
    return F.expr(
        f"zip_with(CAST(({vec}) AS ARRAY<DOUBLE>),"
        f" element_at({V.sql_literal(centroids)}, ({cell}) + 1), (x, c) -> x - c)"
    )


def ann_ivfpq_residual_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 3,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding (faiss IndexIVFPQ
    ``by_residual=True``, its default — the completion of ann_ivfpq's
    ``by_residual=False``): vectors encode the residual x − c(x)
    against codebooks trained on residuals, so the code budget spends
    itself on the within-cell spread instead of the cell layout.

    The serving cost faiss pays for it appears here too: the ADC
    lookup tables become per-(query, PROBED CELL) — the query residual
    q − c changes with the cell — instead of per-query. That work
    lands on the exploded broadcast side (nprobe small LUT builds per
    query); the corpus side stays m lookups + m−1 adds per code row.
    Same probe choice, join shape and top-k as ann_ivfpq_topk.
    Returns (query_id, id, dist, rank), dist ascending."""
    # the residual is a column of its own: encoding slices it m times
    coded = (
        with_cell(corpus.select(F.col(id_col), F.col(vec_col)), vec_col, centroids)
        .select(id_col, _residual_expr(vec_col, "_cell", centroids).alias("_res"), "_cell")
        .select(id_col, pq_code_expr("_res", codebooks).alias("_codes"), "_cell")
    )
    qcells = (
        probe_cells(queries, centroids, nprobe, "_cell", query_id_col, query_vec_col)
        .select(
            query_id_col,
            _residual_expr(query_vec_col, "_cell", centroids).alias("_res"),
            "_cell",
        )
        .select(query_id_col, pq_adc_luts("_res", codebooks).alias("_lut"), "_cell")
    )
    scored = coded.join(F.broadcast(qcells), "_cell").select(
        query_id_col,
        id_col,
        pq_adc_dist_lut(F.col("_lut"), F.col("_codes"), len(codebooks)).alias("dist"),
    )
    return topk_per_key(scored, query_id_col, id_col, k, score_col="dist", asc=True)


# --- binary (sign-bit) index: faiss IndexBinaryFlat ----------------------


def sign_bit_words(vec: str, dim: int = 64, word_bits: int = 32) -> list[str]:
    """Binarize a vector to sign-bit machine words (faiss
    IndexBinaryFlat's layout; ITQ/sign-hash binarization): bit i of
    word w is set iff vec[w·32 + i] > 0 (``V.sign_bits``). Two 32-bit
    words cover 64 dims without touching the sign bit of a long."""
    words = []
    for w in range(0, dim, word_bits):
        n = min(word_bits, dim - w)
        words.append(V.sign_bits(f"slice({vec}, {w + 1}, {n})", n))
    return words


def binary_hamming_topk(
    vectors: DataFrame,
    query_id: int = 0,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hamming top-k over sign-binarized vectors (faiss
    IndexBinaryFlat): 64 dims compress to 8 BYTES per vector (32×
    smaller than float32), distance is two xor+popcount ops — the
    cheapest usable ANN when vectors are roughly isotropic (random
    hyperplane LSH with the axis-aligned planes).

    Plan: binarization is a narrow codegen map; the query's two words
    ride a 1-row broadcast; top-k via sort-limit. Every value is an
    exact integer, so the oracle hash-checks bit-for-bit. At 100 TB
    the words column is the thing you'd MATERIALIZE (8 B/vector) and
    scan instead of the embeddings — the same build-once posture as
    ann_ivf_indexed."""
    lo, hi = sign_bit_words(vec_col)
    words = vectors.selectExpr(id_col, f"{lo} AS _lo", f"{hi} AS _hi")
    q = (
        words.filter(F.col(id_col) == query_id)
        .select(F.col("_lo").alias("_qlo"), F.col("_hi").alias("_qhi"))
    )
    scored = (
        words.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            id_col,
            (
                F.bit_count(F.col("_lo").bitwiseXOR(F.col("_qlo")))
                + F.bit_count(F.col("_hi").bitwiseXOR(F.col("_qhi")))
            )
            .cast("long")
            .alias("hamming"),
        )
    )
    top = scored.orderBy("hamming", id_col).limit(k)
    w = Window.orderBy("hamming", id_col)
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"), id_col, "hamming"
    )


# --- uniform int8 scalar quantizer: faiss QT_8bit_uniform ----------------


def sq8_topk(
    vectors: DataFrame,
    query_id: int = 0,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar-quantized L2 top-k (faiss IndexScalarQuantizer,
    QT_8bit_uniform): every component quantizes to an int in
    [-127, 127] under ONE global scale (corpus absmax / 127), and the
    symmetric distance Σ(Δcode)² is computed entirely in exact longs —
    4× smaller vectors, integer-only distance kernel, and the oracle
    hash-checks every distance bit-for-bit.

    Plan: absmax is a 1-row broadcast scalar (one map-side-combinable
    agg of per-vector maxes); encode is a narrow transform; the query
    code rides a second 1-row broadcast; top-k via sort-limit.
    approx_l2 = √dist · scale rescales to float space at the very end
    (one sqrt + one multiply per emitted row). The per-dimension-scale
    variant (QT_8bit) is quantize_int8_profile's scheme — this op
    keeps the uniform scale so the distance stays integer."""
    absmax = vectors.selectExpr(f"{V.sq8_absmax(vec_col)} AS _absmax")
    coded = vectors.crossJoin(F.broadcast(absmax)).selectExpr(
        id_col, f"{V.sq8_code(vec_col, '_absmax')} AS _codes", "_absmax"
    )
    q = coded.filter(F.col(id_col) == query_id).select(
        F.col("_codes").alias("_qcodes")
    )
    scored = (
        coded.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .selectExpr(id_col, f"{V.code_sq_dist('_codes', '_qcodes')} AS code_dist", "_absmax")
    )
    top = scored.orderBy("code_dist", id_col).limit(k)
    w = Window.orderBy("code_dist", id_col)
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        id_col,
        "code_dist",
        F.round(F.sqrt(F.col("code_dist")) * (F.col("_absmax") / 127), 6).alias(
            "approx_l2"
        ),
    )


def ann_ivf_sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 3,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVF + uniform int8 scalar quantizer (faiss
    IndexIVFScalarQuantizer with QT_8bit_uniform): the inverted file
    bounds WHICH vectors a query scans (nprobe cells), the scalar
    quantizer bounds WHAT each comparison costs (4× smaller codes,
    integer-only Σ(Δcode)² kernel) — the two compressions compose
    orthogonally, which is the reason the faiss factory string
    'IVF...,SQ8' exists. Symmetric code-space distance keeps every
    compared value an exact long, so the full composite path — cell
    assignment, probe choice, encode, distance, ranking — hash-checks
    bit-for-bit against the oracle's replay of the same centroid and
    scale literals.

    Plan posture: one global absmax broadcast, cell assignment +
    encode in a single narrow map over the corpus, probe fan-out on
    the broadcast query side, candidate join on the cell key, per-query
    top-k as a keyed agg. At 100 TB the (cell, id, codes) frame is the
    materialized index (ann_ivfpq_indexed's layout with SQ codes)."""
    absmax = corpus.selectExpr(f"{V.sq8_absmax(vec_col)} AS _absmax")
    coded = (
        with_cell(corpus, vec_col, centroids)
        .crossJoin(F.broadcast(absmax))
        .selectExpr(id_col, "_cell", f"{V.sq8_code(vec_col, '_absmax')} AS _codes")
    )
    qcells = (
        probe_cells(queries, centroids, nprobe, "_cell", query_id_col, query_vec_col)
        .crossJoin(F.broadcast(absmax))
        .selectExpr(query_id_col, f"{V.sq8_code(query_vec_col, '_absmax')} AS _qcodes", "_cell")
    )
    scored = coded.join(F.broadcast(qcells), "_cell").selectExpr(
        query_id_col, id_col, f"{V.code_sq_dist('_codes', '_qcodes')} AS code_dist"
    )
    return topk_per_key(
        scored, query_id_col, id_col, k, score_col="code_dist", asc=True
    )


def quantization_recall(
    vectors: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of the two compressed indexes (uniform-int8 SQ and
    sign-bit binary) against exact float L2 — the quantization-loss
    measurement that decides how much refinement (rerank) a compressed
    first stage needs. Per (query, method): |compressed top-k ∩ exact
    top-k| / k.

    One corpus pass per representation (float, int8 codes, sign
    words), each with the broadcast query side and a keyed per-query
    top-k; the intersections are k-row joins. Exact integer
    kernels for both compressed towers, so the only float ranking is
    the exact-L2 reference itself."""
    qs = vectors.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    corpus = vectors.select(id_col, vec_col)

    exact = (
        corpus.crossJoin(F.broadcast(qs))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            F.expr(V.euclidean(vec_col, "_qv")).alias("dist"),
        )
    )
    exact_top = topk_per_key(exact, "query_id", id_col, k, "dist", asc=True)

    absmax = vectors.selectExpr(f"{V.sq8_absmax(vec_col)} AS _absmax")
    coded = corpus.crossJoin(F.broadcast(absmax)).selectExpr(
        id_col, f"{V.sq8_code(vec_col, '_absmax')} AS _codes"
    )
    qcoded = qs.crossJoin(F.broadcast(absmax)).selectExpr(
        "query_id", f"{V.sq8_code('_qv', '_absmax')} AS _qcodes"
    )
    sq = (
        coded.crossJoin(F.broadcast(qcoded))
        .filter(F.col(id_col) != F.col("query_id"))
        .selectExpr(
            "query_id", id_col, f"CAST({V.code_sq_dist('_codes', '_qcodes')} AS DOUBLE) AS dist"
        )
    )
    sq_top = topk_per_key(sq, "query_id", id_col, k, "dist", asc=True)

    lo, hi = sign_bit_words(vec_col)
    words = corpus.selectExpr(id_col, f"{lo} AS _lo", f"{hi} AS _hi")
    qlo, qhi = sign_bit_words("_qv")
    qwords = qs.selectExpr("query_id", f"{qlo} AS _qlo", f"{qhi} AS _qhi")
    ham = (
        words.crossJoin(F.broadcast(qwords))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            (
                F.bit_count(F.col("_lo").bitwiseXOR(F.col("_qlo")))
                + F.bit_count(F.col("_hi").bitwiseXOR(F.col("_qhi")))
            )
            .cast("double")
            .alias("dist"),
        )
    )
    ham_top = topk_per_key(ham, "query_id", id_col, k, "dist", asc=True)

    marked = exact_top.select("query_id", F.col(id_col), F.lit(1).alias("_hit"))

    def _recall(top: DataFrame, method: str) -> DataFrame:
        # LEFT join (not semi) so a query with ZERO hits still emits
        # its recall=0 row — the failure case is the one the harness
        # exists to surface.
        joined = top.join(marked, ["query_id", id_col], "left")
        return (
            joined.groupBy("query_id")
            .agg(F.sum(F.coalesce("_hit", F.lit(0))).alias("_n"))
            .select(
                "query_id",
                F.lit(method).alias("method"),
                F.round(F.col("_n") / k, 6).alias("recall"),
            )
        )

    return _recall(sq_top, "sq8").unionAll(_recall(ham_top, "binary"))
