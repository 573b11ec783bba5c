"""Structured Streaming: the reference's batch ingest pipeline
(prepare_data.py process_pdf → chunk → embed → insert) re-expressed as
a continuous stream, plus watermarked event-time aggregation.

Local tests drive these with the file source + memory sink and
``processAllAvailable()``; on a cluster the same plans run off Kafka
with checkpointed exactly-once sinks — only the source/sink lines
change, the transformation DAG is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.exact import MICRO, to_micro
from ..operators.chunking import chunk_by_tokens
from ..operators.embedding import embed_udf
from ..operators.vector_store import append_log, compact_log, resolve_log

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

def _events_schema(ts_type: T.DataType) -> T.StructType:
    # The physical `ts` type varies across testdata generations
    # (TIMESTAMP(NANOS) → long, timestamp[us] → timestamp_ntz); the
    # stream source needs the matching schema, so callers probe the
    # files once (footer read) and build it here.
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def stream_documents(spark: SparkSession, path: str) -> DataFrame:
    """File-source document stream (one file = one micro-batch locally)."""
    return spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(path)


def ingest_pipeline(docs_stream: DataFrame, chunk_window: int = 40) -> DataFrame:
    """Continuous chunk → embed: the streaming twin of the reference's
    prepare_data pipeline. Stateless per-row transforms — scales
    linearly with input rate, no state store."""
    chunks = chunk_by_tokens(docs_stream, window=chunk_window)
    return chunks.withColumn("embedding", embed_udf(F.col("chunk_text")))


def stream_events(spark: SparkSession, path: str) -> DataFrame:
    """Event stream normalized to the batch contract: (event_id, ts_ns
    long, user_id, event_type, value, props, ts timestamp). Probes the
    existing files (one footer read) to match the on-disk `ts` type —
    file streams require an explicit schema and a mismatched one reads
    garbage silently."""
    try:
        probed = spark.read.parquet(path).schema["ts"].dataType
    except Exception as e:
        # A guessed schema on an empty dir is a silent-corruption
        # hazard: if the first file that lands uses the other `ts`
        # layout, the mismatched explicit schema reads garbage with no
        # error. Fail fast instead — stage one file, then start.
        raise FileNotFoundError(
            f"stream_events: cannot probe the `ts` layout of {path!r} "
            "(empty or missing source dir). Stage at least one parquet "
            "file before starting the stream so the schema matches the "
            "on-disk layout."
        ) from e
    raw = spark.readStream.schema(_events_schema(probed)).parquet(path)
    if isinstance(probed, T.LongType):
        return raw.withColumnRenamed("ts", "ts_ns").withColumn(
            "ts", F.timestamp_micros(F.expr("ts_ns div 1000"))
        )
    ts_utc = F.col("ts").cast("timestamp")
    return (
        raw.withColumn("ts_ns", F.unix_micros(ts_utc) * F.lit(1000))
        .withColumn("ts", ts_utc)
        .select("event_id", "ts_ns", "user_id", "event_type", "value", "props", "ts")
    )


def windowed_event_counts(
    events: DataFrame, window: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Watermarked tumbling-window counts — late rows beyond the
    watermark are dropped and state is bounded (required for any
    unbounded run)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def session_event_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Session-window aggregation (the streaming twin of
    plans.analytics.sessionize_events)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("session_window.start").alias("sess_start"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def streaming_dedup(docs_stream: DataFrame, text_col: str = "text") -> DataFrame:
    """Streaming exact dedup with explicit group state
    (applyInPandasWithState): keyed by content hash, the first document
    seen for a hash is emitted as keeper; later arrivals only bump the
    duplicate counter in state (emitting nothing). The streaming twin
    of operators.dedup.dedup_exact.

    State per key is two longs — bounded by the number of DISTINCT
    contents, not the stream length; partitioned by hash across
    executors, so the dedup scales out with the state store."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    hashed = docs_stream.select(
        F.md5(F.col(text_col)).alias("text_hash"), F.col("doc_id")
    )

    def dedup_fn(key, pdf_iter, state: GroupState):
        n_new = 0
        min_id = None
        for pdf in pdf_iter:
            n_new += len(pdf)
            batch_min = int(pdf["doc_id"].min())
            min_id = batch_min if min_id is None else min(min_id, batch_min)
        if state.exists:
            keeper, n_seen = state.get
            state.update((int(keeper), int(n_seen) + n_new))
            return iter(())  # duplicate content — emit nothing
        state.update((int(min_id), n_new))
        return iter([pd.DataFrame({"text_hash": [key[0]], "keeper_id": [min_id]})])

    return hashed.groupBy("text_hash").applyInPandasWithState(
        dedup_fn,
        outputStructType="text_hash string, keeper_id long",
        stateStructType="keeper_id long, n_seen long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_within_watermark(
    events: DataFrame, id_col: str = "event_id", watermark: str = "2 hours"
) -> DataFrame:
    """Engine-managed streaming dedup (idempotent ingest): duplicate
    keys arriving within the watermark horizon are dropped, and the
    key-state is evicted once event time passes the watermark — bounded
    state without custom code. Complements streaming_dedup
    (applyInPandasWithState), which keeps richer per-key state but
    never expires it."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        [id_col]
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    join_key: str = "user_id",
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Time-bounded stream-stream inner join: right-stream rows match
    left-stream rows of the same key with r_ts in [l_ts, l_ts+within]
    (the click-attribution shape). Both sides carry watermarks and the
    join condition bounds event-time distance, so the engine can evict
    join state — without both, state grows with the stream."""
    l = left.withWatermark("ts", watermark).select(
        F.col(join_key).alias("l_key"),
        F.col("ts").alias("l_ts"),
        F.col("event_id").alias("l_event_id"),
        F.col("value").alias("l_value"),
    )
    r = right.withWatermark("ts", watermark).select(
        F.col(join_key).alias("r_key"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_event_id"),
        F.col("value").alias("r_value"),
    )
    cond = (
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {within}"))
    )
    return l.join(r, cond, "inner")


def rocksdb_state_store_conf(
    bounded_memory_mb: int | None = 512,
) -> dict[str, str]:
    """Cluster-deploy state-store configuration for the stateful
    queries in this module (stream-stream joins, dropDuplicates
    WithinWatermark, applyInPandasWithState, windowed aggs).

    The default HDFS-backed store keeps every key IN EXECUTOR HEAP —
    fine locally, an OOM risk once join/dedup state reaches tens of GB
    per executor. RocksDB spills state to local disk with incremental
    changelog checkpointing, so state size is bounded by disk, not
    heap. Apply at session build time (configs are static):

        builder = SparkSession.builder
        for k, v in rocksdb_state_store_conf().items():
            builder = builder.config(k, v)

    Not applied in the local test sessions: single-JVM local runs keep
    tiny state, and the HDFS store avoids the per-test RocksDB native
    file churn."""
    conf = {
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        ),
        # changelog checkpointing uploads per-batch deltas instead of
        # full snapshots — the difference between O(state) and
        # O(changed keys) per commit at scale.
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
        # unbounded native memory is the classic RocksDB failure mode;
        # cap the block cache + memtables per executor.
    }
    if bounded_memory_mb is not None:
        conf.update(
            {
                "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage": "true",
                "spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB": str(
                    bounded_memory_mb
                ),
            }
        )
    return conf


def run_to_memory(stream_df: DataFrame, name: str) -> None:
    """Drive a streaming DF to completion against a memory sink
    (local smoke path)."""
    q = (
        stream_df.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def run_complete_to_memory(stream_df: DataFrame, name: str) -> None:
    """Complete-mode variant for aggregations (emits every window,
    watermark-final results not required)."""
    q = (
        stream_df.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


EMBEDDINGS_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)


def stream_embeddings(spark: SparkSession, path: str) -> DataFrame:
    """File-source embedding stream (Kafka-shaped in production)."""
    return spark.readStream.schema(EMBEDDINGS_SCHEMA).parquet(path)


def start_ivf_index_maintenance(
    emb_stream: DataFrame,
    centroids: list[list[float]],
    index_dir: str,
    checkpoint_dir: str,
):
    """Incremental maintenance of the cell-partitioned IVF index
    (operators.ann.ivf_index_build's layout, the stamp-0 base): each
    micro-batch assigns cells and appends to the index's upsert log
    (operators.vector_store.append_log) under stamp batch id + 1, so a
    replayed batch is idempotent. read_ivf_index resolves the log;
    periodic compact_ivf_index folds it down so probe reads stay
    O(live rows). This is the streaming half of the batch index build:
    bulk-build once, then the index follows the ingest stream without
    rebuilds."""
    from ..operators.ann import with_cell

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        coded = with_cell(batch_df, "embedding", centroids, out_col="cell")
        append_log(coded, index_dir, batch_id + 1, partition_by=("cell",))

    return (
        emb_stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def read_ivf_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """Resolved view of the maintained index: latest version of every
    vector. An updated vector may have moved cells, so resolution is
    global, one shuffle on vec_id. Probe-path readers that prune cells
    first instead resolve within probed cells only and rely on
    compaction to clear cross-cell staleness — the standard LSM trade;
    this view is the correctness reference."""
    return resolve_log(spark.read.parquet(index_dir), "vec_id").drop("_batch")


def compact_ivf_index(spark: SparkSession, index_dir: str) -> None:
    """Fold the index log down to one live row per vec_id, keeping the
    cell-partitioned layout."""
    compact_log(spark, index_dir, "vec_id", partition_by=("cell",))


# --- streaming corpus dedup against a persisted base index ---------------


def build_dedup_index(docs: DataFrame, index_dir: str) -> None:
    """Bulk half of incremental corpus dedup (the streaming analog of
    operators.dedup.incremental_dedup): persist the base corpus's
    dedup artifacts — the DISTINCT content-hash set and the
    minhash/LSH band table. These are the only things a new batch ever
    joins against; the base text itself is never re-read."""
    from ..operators.dedup import lsh_band_buckets, minhash_signatures, shingle_set

    # _batch = -1 marks bulk-build rows; streaming appends stamp their
    # micro-batch id, and probes read only STRICTLY OLDER stamps so a
    # replayed batch never collides with its own partial writes.
    (
        docs.select(F.md5("text").alias("text_hash"))
        .distinct()
        .withColumn("_batch", F.lit(-1).cast("long"))
        .write.mode("overwrite")
        .parquet(f"{index_dir}/hashes")
    )
    bands = lsh_band_buckets(minhash_signatures(shingle_set(docs)))
    bands.withColumn("_batch", F.lit(-1).cast("long")).write.mode(
        "overwrite"
    ).parquet(f"{index_dir}/bands")


def start_streaming_corpus_dedup(
    docs_stream: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Streaming ingest with dedup-at-the-door: each micro-batch is
    checked against the persisted index (exact content hash, then
    minhash/LSH band collision — candidate-level, the conservative
    drop) and against itself (keep-first within the batch); only novel
    docs land in ``out_dir``, and their hash + band rows APPEND to the
    index so later batches dedup against earlier ones.

    Replay safety: every index row carries its micro-batch stamp and
    probes read only STRICTLY OLDER stamps, so a replayed batch sees
    exactly the pre-batch index state regardless of which of its own
    appends survived the crash — it recomputes the identical novel
    set and rewrites all three artifacts (duplicate rows under the
    same stamp are harmless: bands/hashes feed semi-joins, and out is
    an upsert log keyed on doc_id). This keeps the
    completeness invariant — every doc the index hashes also has its
    band rows — which a stamp-free append order cannot guarantee
    across crashes."""
    from ..operators.dedup import lsh_band_buckets, minhash_signatures, shingle_set

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        hashed = batch_df.withColumn("_h", F.md5("text"))
        # within-batch keep-first on content
        w_first = hashed.groupBy("_h").agg(F.min("doc_id").alias("_keep"))
        local = hashed.join(w_first, "_h").filter(F.col("doc_id") == F.col("_keep")).drop("_keep")
        # Probe only rows stamped strictly before this batch: after a
        # crash mid-append, the replay (same batch_id) must not see its
        # own partial writes — hash rows would make `fresh` empty and
        # the batch's band rows / out rows would never be rewritten.
        base_hashes = spark.read.parquet(f"{index_dir}/hashes").filter(
            F.col("_batch") < batch_id
        )
        fresh = local.join(
            base_hashes, local["_h"] == base_hashes["text_hash"], "left_anti"
        )
        bands = lsh_band_buckets(minhash_signatures(shingle_set(fresh)))
        base_bands = (
            spark.read.parquet(f"{index_dir}/bands")
            .filter(F.col("_batch") < batch_id)
            .select("band", "band_sig")
        )
        near_dup_ids = (
            bands.join(base_bands, ["band", "band_sig"], "left_semi")
            .select("doc_id")
            .distinct()
        )
        novel = fresh.join(near_dup_ids, "doc_id", "left_anti")
        append_log(novel.drop("_h"), out_dir, batch_id)
        novel_bands = bands.join(novel.select("doc_id"), "doc_id", "left_semi")
        append_log(novel_bands, f"{index_dir}/bands", batch_id)
        novel_hashes = novel.select(F.col("_h").alias("text_hash")).distinct()
        append_log(novel_hashes, f"{index_dir}/hashes", batch_id)

    return (
        docs_stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def streaming_dedup_tws(docs_stream: DataFrame, text_col: str = "text") -> DataFrame:
    """streaming_dedup on the Spark 4 transformWithStateInPandas API —
    the arbitrary-stateful successor to applyInPandasWithState:
    typed, composable state handles (getValueState/getListState/
    getMapState, optional TTL and timers) instead of one tuple, and a
    StatefulProcessor lifecycle (init/handleInputRows/close) the
    engine can re-use across batches. Semantics are IDENTICAL to
    streaming_dedup — first doc per content hash is the keeper, later
    arrivals bump a duplicate counter and emit nothing — and
    tests/test_streaming.py asserts batch-for-batch parity between
    the two implementations.

    State per key stays two longs in a ValueState; keys partition by
    hash across the state store exactly as before, so the scale story
    (bounded by distinct contents, RocksDB-backed on clusters) is
    unchanged."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    hashed = docs_stream.select(
        F.md5(F.col(text_col)).alias("text_hash"), F.col("doc_id")
    )

    class DedupProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "seen", "keeper_id long, n_seen long"
            )

        def handleInputRows(self, key, rows, timerValues):
            n_new = 0
            min_id = None
            for pdf in rows:
                n_new += len(pdf)
                batch_min = int(pdf["doc_id"].min())
                min_id = batch_min if min_id is None else min(min_id, batch_min)
            if self._state.exists():
                keeper, n_seen = self._state.get()
                self._state.update((int(keeper), int(n_seen) + n_new))
                return iter(())
            self._state.update((int(min_id), n_new))
            return iter(
                [pd.DataFrame({"text_hash": [key[0]], "keeper_id": [min_id]})]
            )

        def close(self) -> None:
            pass

    return hashed.groupBy("text_hash").transformWithStateInPandas(
        DedupProcessor(),
        outputStructType="text_hash string, keeper_id long",
        outputMode="Append",
        timeMode="None",
    )


def streaming_ewma(events_stream: DataFrame) -> DataFrame:
    """Streaming per-event-type EWMA with explicit group state — the
    infinite-memory recurrence the batch operator (events_ewma)
    declares to this layer: e ← (e + v) div 2 in exact micro-unit
    longs, applied in (ts_ns, event_id) order within each batch, so
    the fold is deterministic and BATCH-BOUNDARY INDEPENDENT (a fold
    over a fixed order composes the same through any micro-batch
    split — the property the parity test replays). Emits one running
    (event_type, n_seen, ewma) row per key per batch; state per key
    is two longs.

    At scale: state is partitioned by event_type across executors and
    bounded by key cardinality; the div-2 recurrence is the α=1/2
    EWMA with truncation toward -∞ (exact integers, no float drift
    across millions of updates — the reason the state carries micro
    units, not doubles)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    typed = events_stream.select(
        "event_type",
        "ts_ns",
        "event_id",
        F.expr(to_micro("value")).alias("v_u"),
    )

    def ewma_fn(key, pdf_iter, state: GroupState):
        rows = [pdf for pdf in pdf_iter]
        pdf = pd.concat(rows).sort_values(["ts_ns", "event_id"])
        if state.exists:
            ewma_u, n_seen = state.get
        else:
            ewma_u, n_seen = None, 0
        for v in pdf["v_u"]:
            v = int(v)
            # SQL `div` truncates toward zero; python // goes toward
            # -inf — values can be negative, so spell out the
            # toward-zero halving in exact ints (no float division:
            # sums can exceed 2^53).
            s = ewma_u + v if ewma_u is not None else v + v
            ewma_u = s // 2 if s >= 0 else -((-s) // 2)
            n_seen += 1
        state.update((int(ewma_u), int(n_seen)))
        return iter(
            [
                pd.DataFrame(
                    {
                        "event_type": [key[0]],
                        "n_seen": [int(n_seen)],
                        "ewma": [ewma_u / MICRO],
                    }
                )
            ]
        )

    return typed.groupBy("event_type").applyInPandasWithState(
        ewma_fn,
        outputStructType="event_type string, n_seen long, ewma double",
        stateStructType="ewma_u long, n_seen long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def day_hll_registers(events_df: DataFrame) -> DataFrame:
    """Per-day HLL register table (256 registers, p=8) over user_id —
    the mergeable distinct-count state sliding_window_hll reads:
    register-wise max over ANY slice of rows yields the union
    sketch."""
    from ..functions import hashing as H

    h = events_df.select(
        F.expr("unix_micros(cast(ts as timestamp)) * 1000 div 86400000000000").alias(
            "day"
        ),
        F.expr(H.md5_long("CAST(user_id AS STRING)")).alias("h"),
    ).distinct()
    b = h.select(
        "day",
        F.expr("shiftright(h, 52)").alias("idx"),
        F.expr("h & 4503599627370495").alias("w"),
    )
    for k in (1, 2, 4, 8, 16, 32):
        b = b.withColumn("w", F.expr(f"w | shiftright(w, {k})"))
    return b.groupBy("day", "idx").agg(F.expr("max(53 - bit_count(w))").alias("m_j"))


def start_streaming_hll_maintenance(
    events_stream: DataFrame, reg_dir: str, checkpoint_dir: str
):
    """Streaming maintenance of the per-day HLL register table: each
    micro-batch APPENDS its batch-local registers; the resolved view
    takes max per (day, idx). Because register merge is idempotent
    AND commutative (max), a replayed batch appends rows that cannot
    change the resolved state — exactly-once repair comes free from
    the sketch algebra, with no batch stamps and no compaction needed
    for correctness (compact by rewriting max-merged rows whenever
    file count grows). This is the streaming half of
    sliding_window_hll: the lake keeps 256 longs per day, and any
    rolling-window distinct estimate is a bounded register read."""

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        day_hll_registers(batch_df).write.mode("append").parquet(reg_dir)

    return (
        events_stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def read_hll_registers(spark: SparkSession, reg_dir: str) -> DataFrame:
    """Resolved register table: max per (day, idx) over all appended
    micro-batch rows."""
    return (
        spark.read.parquet(reg_dir)
        .groupBy("day", "idx")
        .agg(F.max("m_j").alias("m_j"))
    )
