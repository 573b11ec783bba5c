"""Deterministic text embedder — the Spark stand-in for the reference's
SentenceTransformer("Snowflake/snowflake-arctic-embed-s") with
``normalize_embeddings=True`` (prepare_data.py:50, app.py:55).

The real model isn't in this container, so the embedder is a
feature-hashing encoder: every token contributes a deterministic
pseudo-random Gaussian vector (seeded from md5(token)); the document
vector is the normalized token-vector sum. Properties preserved from
the reference: fixed dim, unit norm, determinism, and shared-token
similarity structure. Swap ``_token_vec`` for a real model's
``encode`` to go to production — the Spark plumbing is identical.

Execution: Arrow-batched pandas_udf (vectorized, ~10-100× over
row-at-a-time UDFs); embarrassingly parallel per input split at
cluster scale — no shuffle.

Where the node's time goes, in the ingest build (10,000 docs → 18,936
40-token chunks in 4 partitions, 4 cores, noop sink, median of 8):
the chunks alone take 0.34 s; a pandas UDF that returns a constant
vector takes 0.70 s, so the Arrow/Python boundary (rows out, vectors
back, the worker hand-off) costs ~0.36 s; the encoder UDF takes
0.82 s. Alone, hashing_encoder takes ~0.06 s per partition (the
per-token loop it replaced took ~0.19 s). The boundary, not the
encoder, is the larger share; a faster stand-in cannot remove it.
"""

from __future__ import annotations

import hashlib
import itertools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.tables import sample_vectors

DIM = 64


def _token_vec(token: str, dim: int = DIM) -> np.ndarray:
    seed = int.from_bytes(hashlib.md5(token.encode("utf-8")).digest()[:4], "big")
    return np.random.default_rng(seed).standard_normal(dim)


def hashing_encoder(texts, dim: int = DIM) -> np.ndarray:
    """The stand-in batch encoder (list[str] -> (n, dim) float32): each
    row is the normalized sum of its tokens' vectors, accumulated in
    float64 in token order.

    Vectorized over the batch. Tokens map to ids into a per-batch table
    of token vectors. Rows are ordered longest first, so the rows that
    have a j-th token are a prefix, and one numpy add per token
    position adds the j-th token of every such row. Each row still
    receives its token vectors one at a time, in token order, in
    float64, so the sum is bit-identical to a per-row loop. The norm
    stays per row: a vectorized norm reduces in another order."""
    vocab: dict[str, int] = {}
    ids = [[vocab.setdefault(t, len(vocab)) for t in text.split(" ") if t] for text in texts]
    table = np.array([_token_vec(t, dim) for t in vocab]).reshape(len(vocab), dim)
    lens = np.array([len(r) for r in ids], dtype=np.int64)
    order = np.argsort(-lens, kind="stable")
    lens = lens[order]
    flat = np.fromiter(itertools.chain.from_iterable(ids[i] for i in order), np.int64)
    starts = np.cumsum(lens) - lens
    acc = np.zeros((len(ids), dim))
    for j in range(int(lens[0]) if len(lens) else 0):
        k = int(np.searchsorted(-lens, -j))  # rows with more than j tokens
        acc[:k] += table[flat[starts[:k] + j]]
    out = np.empty_like(acc)
    out[order] = acc
    for v in out:
        n = float(np.linalg.norm(v))
        if n > 0:
            v /= n
    return out.astype(np.float32)


def embed_text_py(text: str, dim: int = DIM) -> np.ndarray:
    """Driver-side single-text embedding (question path, app.py:55)."""
    return hashing_encoder([text], dim)[0]


# The documented swap point, made mechanical: any batch encoder
# (list[str] -> (n, dim) float array) becomes the Arrow-batched UDF.
# sentence_transformer_encoder() below wires the reference's real
# model (Snowflake/snowflake-arctic-embed-s, prepare_data.py:50)
# through the SAME plumbing when its wheel is present — the gated
# smoke test in tests/test_embedding.py proves the swap works where
# the wheel exists (same posture as sources/pdf.py's pypdf gate).
# Wheel detection without importing the package: sentence-transformers
# pulls in torch at import time (multi-second startup), which would tax
# every session/bench run that never uses the real encoder.
import importlib.util as _ilu

_HAVE_ST = _ilu.find_spec("sentence_transformers") is not None


def make_embed_udf(encode_batch, dim: int = DIM):
    """Wrap a batch text encoder (list[str] -> (n, dim) array) as an
    Arrow-batched pandas_udf. The encoder is serialized to executors,
    so it must be picklable (SentenceTransformer models are; they load
    lazily per worker on first batch)."""

    # DataType object, not a DDL string: embed_udf below is built at
    # import time, when no SparkSession may be active.
    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def _udf(texts: pd.Series) -> pd.Series:
        # Zero-row Arrow batches are legal; real encoders return a 1-D
        # empty array for [] which would fail the shape check below.
        if len(texts) == 0:
            return pd.Series([], dtype=object)
        vecs = np.asarray(encode_batch([t or "" for t in texts]), dtype=np.float32)
        if vecs.ndim != 2 or vecs.shape[1] != dim:
            raise ValueError(f"encoder returned shape {vecs.shape}, want (n, {dim})")
        return pd.Series(list(vecs))

    return _udf


embed_udf = make_embed_udf(hashing_encoder)


def sentence_transformer_encoder(model_name: str = "Snowflake/snowflake-arctic-embed-s"):
    """Real-model batch encoder (wheel-gated). Returns (encode_batch,
    dim); raises ImportError where sentence-transformers is absent."""
    from sentence_transformers import SentenceTransformer

    model = SentenceTransformer(model_name)
    dim = model.get_sentence_embedding_dimension()

    def encode_batch(texts):
        return model.encode(list(texts), normalize_embeddings=True)

    return encode_batch, dim


def embed_documents(
    docs: DataFrame,
    text_col: str = "text",
    out_col: str = "embedding",
    encoder=None,
    dim: int = DIM,
) -> DataFrame:
    """Batch index build: attach a normalized embedding column.

    ``encoder=None`` -> the deterministic feature-hashing stand-in;
    pass ``encoder=encode_batch`` (e.g. from
    ``sentence_transformer_encoder()``) to run a real model through
    identical Arrow-batched, shuffle-free plumbing."""
    if encoder is None:
        return docs.withColumn(out_col, embed_udf(F.col(text_col)))
    return docs.withColumn(out_col, make_embed_udf(encoder, dim)(F.col(text_col)))


def pca_fit_sample(
    sf_dir: str, n_components: int = 2
) -> tuple[list[float], list[list[float]], list[float]]:
    """Fit a PCA basis on the driver-side fit sample
    (``sources.tables.sample_vectors``: the first 4096 vectors by id, no
    Spark job), in numpy: dimensionality models train on a bounded
    subsample regardless of corpus size, and the projection then
    applies to every vector via broadcast literals. float64 eigh, and
    each component is sign-fixed so its largest-|loading| entry is
    positive — fully reproducible, so the basis can be inlined as SQL
    literals into a DuckDB oracle exactly like LSH planes / IVF
    centroids. Returns (mean, components[n_components][dim], shares):
    shares[i] is component i's eigenvalue over the sum of all
    eigenvalues."""
    x = sample_vectors(sf_dir, 4096)
    mu = x.mean(axis=0)
    xc = x - mu
    vals, vecs = np.linalg.eigh(xc.T @ xc)  # ascending eigenvalues
    tot = float(vals.sum())
    comps, shares = [], []
    for i in range(1, n_components + 1):
        v = vecs[:, -i]
        if v[int(np.abs(v).argmax())] < 0:
            v = -v
        comps.append([float(c) for c in v])
        shares.append(float(vals[-i]) / tot)
    return [float(m) for m in mu], comps, shares


def pca_project(
    vectors: DataFrame,
    mean: list[float],
    components: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project every vector onto a fitted PCA basis — the 2-D/low-D
    map used for corpus visualization and density-based curation.

    pc_i = dot(vec, comp_i) - dot(mean, comp_i): the mean offset is a
    per-component SCALAR baked in at plan time, so the per-row work is
    one zip_with/aggregate dot product per component (JVM-side HOFs,
    sequential double accumulation — bit-stable vs the DuckDB oracle's
    list_sum). Components ride the plan as literals; no shuffle, no
    Python workers. Returns (id, pc1..pcK) rounded to 6dp."""
    from ..functions import vector as V

    outs = [F.col(id_col)]
    for i, comp in enumerate(components, start=1):
        lit = V.sql_literal([float(c) for c in comp])
        # scalar offset computed the same sequential way both engines use
        off = 0.0
        for m, c in zip(mean, comp):
            off += m * c
        outs.append(F.round(F.expr(V.dot(vec_col, lit)) - F.lit(off), 6).alias(f"pc{i}"))
    return vectors.select(*outs)


def label_centroids(
    vectors: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label centroid, one (label, pos, mean_val) row per dimension
    — the class-prototype / cluster-summary aggregation (and the bulk
    step of a k-means round).

    posexplode + groupBy(label, pos) keeps the whole thing a single
    map-side-combinable shuffle of primitive doubles; no vector UDAF,
    no driver collection. Rebuild arrays downstream with
    sort_array(collect_list(struct(pos, mean_val))) if needed.
    """
    ex = vectors.select(
        F.col(label_col), F.posexplode(F.col(vec_col)).alias("pos", "v")
    )
    return ex.groupBy(label_col, "pos").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.avg("v"), 6).alias("mean_val"),
    )


def quantize_int8_profile(vectors: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Symmetric int8 scalar quantization profile — the compression
    step serving stacks apply before PQ is worth it (4 bytes -> 1 byte
    per dim, ~0.4% recall cost at 64-128d). Per dimension: absmax over
    the corpus, scale = absmax/127, code = clamp(floor(v/scale + 0.5)),
    and the reconstruction-error stats that decide whether int8 is
    safe for a given corpus.

    Two narrow shuffles of primitive doubles (absmax agg, then error
    agg), both map-side-combinable; the 64-row scale table broadcasts
    back onto the exploded values. floor(v/scale + 0.5) is used instead
    of round() so the tie behavior is a fixed formula in both engines.
    Returns (pos, absmax, scale, mean_abs_err, max_abs_err)."""
    ex = vectors.select(
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "v")
    )
    scales = ex.groupBy("pos").agg(F.max(F.abs(F.col("v"))).alias("absmax"))
    scales = scales.withColumn("scale", F.col("absmax") / 127)
    code = F.greatest(
        F.lit(-127.0),
        F.least(F.lit(127.0), F.floor(F.col("v") / F.col("scale") + 0.5).cast("double")),
    )
    recon = code * F.col("scale")
    err = F.when(F.col("scale") == 0, F.lit(0.0)).otherwise(
        F.abs(F.col("v") - recon)
    )
    return (
        ex.join(F.broadcast(scales), "pos")
        .select("pos", "absmax", "scale", err.alias("_err"))
        .groupBy("pos", "absmax", "scale")
        .agg(
            F.round(F.avg("_err"), 6).alias("mean_abs_err"),
            F.round(F.max("_err"), 6).alias("max_abs_err"),
        )
        .select(
            F.col("pos").cast("long"),
            F.round("absmax", 6).alias("absmax"),
            F.round("scale", 6).alias("scale"),
            "mean_abs_err",
            "max_abs_err",
        )
    )

def embedding_drift(
    vectors: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label centroid drift between two corpus halves (id-split) —
    the embedding-space monitoring metric: a re-embedded or
    distribution-shifted batch moves class centroids, and this is the
    alarm that triggers re-indexing / re-training.

    Same single-shuffle posexplode shape as label_centroids, with the
    (label, half, dim) means rounded to 6 BEFORE the distance so the
    downstream arithmetic is deterministic cross-engine; the split
    point (max id) rides as a broadcast scalar. Returns one row per
    label: counts per half, euclidean centroid drift, and the single
    largest per-dimension shift."""
    split = vectors.agg(F.max(id_col).alias("_m"))
    half = F.when(F.col(id_col) * 2 <= F.col("_m"), "a").otherwise("b")
    ex = (
        vectors.crossJoin(F.broadcast(split))
        .select(
            F.col(label_col),
            half.alias("half"),
            F.posexplode(F.col(vec_col)).alias("pos", "v"),
        )
    )
    per = ex.groupBy(label_col, "half", "pos").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.avg("v"), 6).alias("m"),
    )
    a = per.filter(F.col("half") == "a").select(
        label_col, "pos", F.col("n").alias("n_a"), F.col("m").alias("ma")
    )
    b = per.filter(F.col("half") == "b").select(
        label_col, "pos", F.col("n").alias("n_b"), F.col("m").alias("mb")
    )
    j = a.join(b, [label_col, "pos"])
    return j.groupBy(label_col).agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.round(F.sqrt(F.sum((F.col("ma") - F.col("mb")) * (F.col("ma") - F.col("mb")))), 6).alias("drift"),
        F.round(F.max(F.abs(F.col("ma") - F.col("mb"))), 6).alias("max_dim_shift"),
    )
