"""Multimodal columns: image/audio/video as opaque binary + typed
metadata, with decode / feature-extract / frame-sample as Arrow-batched
mapInPandas operators.

The actual codec libraries (PIL/ffmpeg/librosa) are NOT in this
container — the decode kernels are deterministic fakes or explicit
``NotImplementedError`` stubs, clearly marked. Everything Spark-side
(schema, partitioning, UDF signatures, batch shapes) is real and
tested, so dropping a real decoder in is a one-function change.

At 100 TB: binary payloads stay columnar in parquet; mapInPandas
streams Arrow batches so a task never materializes more than one
batch; feature extraction is embarrassingly parallel per split.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.vector import lit_array

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("content", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.IntegerType()),
                    T.StructField("codec", T.StringType()),
                ]
            ),
        ),
    ]
)

REAL_DECODERS_AVAILABLE = False  # flipped when PIL/ffmpeg land


def synthesize_media(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Build a media table from the documents corpus: utf-8 bytes as
    the opaque payload + deterministic typed metadata. Stands in for a
    real binary ingest (S3 image/audio crawl)."""
    kind = F.element_at(
        lit_array(["image", "audio", "video"]),
        (F.col(id_col) % 3 + 1).cast("int"),
    )
    meta = F.struct(
        (F.col(id_col) % 640 + 16).cast("int").alias("width"),
        (F.col(id_col) % 480 + 16).cast("int").alias("height"),
        (F.col(id_col) % 90000 + 1000).cast("int").alias("duration_ms"),
        F.lit("fake/v1").alias("codec"),
    )
    return docs.select(
        F.col(id_col).alias("media_id"),
        kind.alias("kind"),
        F.encode(F.col(text_col), "utf-8").alias("content"),
        meta.alias("meta"),
    )


def decode_image(content: bytes) -> bytes:
    """REAL-DECODER STUB: would return decoded pixel buffer."""
    if not REAL_DECODERS_AVAILABLE:
        raise NotImplementedError(
            "image decode requires PIL/libjpeg — not in this container; "
            "extract_features uses the deterministic fake path instead"
        )
    raise AssertionError("unreachable")


def _fake_features(content: bytes, n: int = 8) -> list[float]:
    """Deterministic fake 'embedding' of a binary payload: normalized
    bytes of its md5 — a placeholder with the same shape/contract as a
    real CNN/audio feature head."""
    dig = hashlib.md5(content).digest()
    return [b / 255.0 for b in dig[:n]]


def extract_features(media: DataFrame, n_features: int = 8) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.
    Output: (media_id, kind, n_bytes, content_md5, features[n])."""
    schema = (
        "media_id bigint, kind string, n_bytes bigint, "
        "content_md5 string, features array<double>"
    )

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["content"].map(len),
                    "content_md5": pdf["content"].map(
                        lambda b: hashlib.md5(b).hexdigest()
                    ),
                    "features": pdf["content"].map(
                        lambda b: _fake_features(b, n_features)
                    ),
                }
            )

    return media.mapInPandas(gen, schema=schema)


def frame_sample(media: DataFrame, every_n_bytes: int = 64, max_frames: int = 5) -> DataFrame:
    """'Frame sampling' for video rows: deterministic byte-window
    samples standing in for ffmpeg keyframe extraction. One output row
    per frame: (media_id, frame_no, frame_md5)."""
    schema = "media_id bigint, frame_no int, frame_md5 string"

    def gen(batches):
        for pdf in batches:
            rows = []
            vids = pdf[pdf["kind"] == "video"]
            for mid, content in zip(vids["media_id"], vids["content"]):
                for i in range(max_frames):
                    start = i * every_n_bytes
                    if start >= len(content):
                        break
                    window = bytes(content[start : start + every_n_bytes])
                    rows.append(
                        {
                            "media_id": mid,
                            "frame_no": i,
                            "frame_md5": hashlib.md5(window).hexdigest(),
                        }
                    )
            yield pd.DataFrame(rows, columns=["media_id", "frame_no", "frame_md5"])

    return media.mapInPandas(gen, schema=schema)


def resize_stub(media: DataFrame, width: int, height: int) -> DataFrame:
    """REAL-DECODER STUB: resize requires an image library. The plan
    shape (select + mapInPandas contract) is what this validates."""
    raise NotImplementedError(
        "resize requires PIL — not in this container; plumbing validated "
        "via extract_features/frame_sample fakes"
    )


def dedup_media(media: DataFrame, id_col: str = "media_id") -> DataFrame:
    """Exact binary-payload dedup — the content-hash image/audio dedup
    every multimodal pretraining pipeline runs before feature
    extraction (a crawl re-downloads the same bytes under many URLs).
    Keep-first (min id) per payload md5; returns the DROP LIST: one
    row per duplicate occurrence with its keeper and the payload's
    copy count. md5 keys, never payload bytes, cross the shuffle —
    the binary column is read once and reduced to 16-byte digests
    before any exchange.
    Returns (content_md5, media_id, kind, keeper_id, n_copies)."""
    hashed = media.select(
        F.col(id_col), F.col("kind"), F.md5(F.col("content")).alias("content_md5")
    )
    keep = hashed.groupBy("content_md5").agg(
        F.min(id_col).alias("keeper_id"),
        F.count("*").cast("long").alias("n_copies"),
    )
    return (
        hashed.join(keep, "content_md5")
        .filter(F.col(id_col) != F.col("keeper_id"))
        .select("content_md5", id_col, "kind", "keeper_id", "n_copies")
    )
