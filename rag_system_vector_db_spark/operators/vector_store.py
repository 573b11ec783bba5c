"""Parquet-backed vector collection — the reference's vector-store
surface (scripts/milvus_db.py ZillizClient) as a Spark-native library.

A collection is a parquet directory + a tiny JSON manifest (dim,
metric, primary field). All operations are DataFrame plans.

Storage is an **upsert log**: parquet rows stamped with ``_batch``,
appended and never rewritten in place. At read time the latest stamp
per key wins; compaction (an explicit maintenance call) folds the log
down to one row per key. ``append_log`` / ``resolve_log`` /
``compact_log`` below own the format. Callers: ``VectorCollection``;
the streaming IVF index (``streaming.pipeline``'s
``start_ivf_index_maintenance``, ``read_ivf_index``,
``compact_ivf_index``); and the registry entry ``insert_upsert``, so
its DuckDB oracle checks the rule the store runs. The streaming corpus
dedup also writes its stamped logs through ``append_log``.

Reads go through one cached snapshot per log listing, the analogue of
the collection Milvus keeps loaded in query-node memory:
``VectorCollection.df()`` keys the resolved view on the ``(name, size)``
of every parquet file in the log, so search, get_by_ids, query, scan
and stats share one resolve (one shuffle) until the listing changes.
The key is sound because the log is append-only and no file is
rewritten in place: an insert, a compaction, or a second instance or
process writing the same path all change the listing. The snapshot
reads exactly the files of its key, so a DataFrame built on it keeps
reading that log state after later appends.

At 100 TB: a collection is just partitioned parquet — reads get
pushdown/pruning, inserts are distributed writes, search is
operators.knn/ann over the scan.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import weakref

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import knn


def append_log(df: DataFrame, path: str, stamp: int, partition_by=()) -> None:
    """Append ``df`` to the upsert log at ``path`` under ``stamp``.

    Each append must stamp higher than every earlier row of the keys it
    writes: resolve_log keeps the highest stamp per key, and two rows of
    one key under one stamp resolve arbitrarily. A bulk build or a
    compaction writes stamp 0, so a writer appending over one starts at
    1 (the streaming IVF maintenance stamps micro-batch id + 1).
    Re-running an append under the same stamp rewrites identical rows,
    which resolve the same: that makes a replayed micro-batch
    idempotent."""
    (
        df.withColumn("_batch", F.lit(stamp).cast("long"))
        .write.partitionBy(*partition_by)
        .mode("append")
        .parquet(path)
    )


def resolve_log(raw: DataFrame, key: str) -> DataFrame:
    """Keep the latest-``_batch`` row per ``key`` (one shuffle on the
    key). ``_batch`` stays in place for the caller to drop."""
    w = Window.partitionBy(key).orderBy(F.col("_batch").desc())
    return (
        raw.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def compact_log(spark: SparkSession, path: str, key: str, partition_by=()) -> None:
    """Fold the log at ``path`` down to its resolved rows, under stamp 0.

    Crash-safe swap: write the resolved view to a tmp directory, rename
    the live dir aside, rename tmp into place, then drop the old dir.
    No read-back-and-overwrite of the live dir (a failure mid-overwrite
    there would destroy the log), and the tmp dir never outlives the
    call. A crash between the two renames leaves ``<path>_old`` intact
    for manual recovery. (On object stores, directory rename is not
    atomic — there, compaction swaps a manifest pointer instead.)"""
    tmp = path.rstrip("/") + "_compacting"
    old = path.rstrip("/") + "_old"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    try:
        live = resolve_log(spark.read.parquet(path), key).drop("_batch")
        append_log(live, tmp, 0, partition_by)
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old, ignore_errors=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def list_collections(root: str) -> list[dict]:
    """milvus_db.py:36 list_collections: every collection directory
    (has a _manifest.json) under ``root`` with its manifest."""
    out = []
    if not os.path.isdir(root):
        return out
    for name in sorted(os.listdir(root)):
        mp = os.path.join(root, name, "_manifest.json")
        if os.path.isfile(mp):
            with open(mp) as f:
                out.append({"collectionName": name, **json.load(f)})
    return out


class VectorCollection:
    """Mirrors ZillizClient's collection API (milvus_db.py:14)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        with open(os.path.join(path, "_manifest.json")) as f:
            m = json.load(f)
        self.dim = m["dimension"]
        self.metric = m["metricType"]
        self.id_col = m["primaryField"]
        self.vec_col = m["vectorField"]
        # df()'s snapshot: its log listing, and the call that unpersists it
        self._key: tuple = ()
        self._release = lambda: None

    # -- lifecycle (milvus_db.py:40 create_collection) --

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        dimension: int,
        metric: str = "cosine",
        primary_field: str = "id",
        vector_field: str = "vector",
    ) -> "VectorCollection":
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "_manifest.json"), "w") as f:
            json.dump(
                {
                    "dimension": dimension,
                    "metricType": metric,
                    "primaryField": primary_field,
                    "vectorField": vector_field,
                },
                f,
            )
        return cls(spark, path)

    def _data_path(self) -> str:
        return os.path.join(self.path, "data")

    def _listing(self) -> tuple:
        """(name, size) of every parquet file of the log, sorted."""
        try:
            with os.scandir(self._data_path()) as it:
                files = [(e.name, e.stat().st_size) for e in it if e.name.endswith(".parquet")]
        except FileNotFoundError:
            return ()
        return tuple(sorted(files))

    def _has_data(self) -> bool:
        return bool(self._listing())

    def _unload(self) -> None:
        """Unpersist the snapshot now; the next read builds a new one."""
        self._release()
        self._key = ()

    # -- writes (milvus_db.py:61 insert_vectors) --

    def insert(self, df: DataFrame) -> None:
        """Append a batch under the next stamp: last write wins per
        primary key at read time.

        The snapshot is unpersisted first: Spark's writer refreshes
        every cached plan that reads under the path it writes, and would
        re-list and re-plan a snapshot that the next read replaces
        anyway."""
        self._unload()
        append_log(df, self._data_path(), self._next_batch_id())

    def _next_batch_id(self) -> int:
        if not self._has_data():
            return 0
        return (
            self.spark.read.parquet(self._data_path())
            .agg(F.max("_batch"))
            .first()[0]
            + 1
        )

    def compact(self) -> None:
        """Fold the log to one row per primary key (maintenance;
        optional). Nothing to fold in an empty collection. The
        snapshot is unpersisted first, so its memory is freed at once."""
        self._unload()
        if self._has_data():
            compact_log(self.spark, self._data_path(), self.id_col)

    # -- reads --

    def df(self) -> DataFrame:
        """Resolved collection: latest batch wins per primary key.

        The cached snapshot of the current log listing (see the module
        docstring): a new listing unpersists it and builds the next, and
        a collection that is garbage collected unpersists its own."""
        key = self._listing()
        if not key:
            raise ValueError(f"collection {self.path!r} is empty: insert rows before reading it")
        if key != self._key:
            self._release()
            raw = self.spark.read.parquet(*[os.path.join(self._data_path(), n) for n, _ in key])
            self._snap = resolve_log(raw, self.id_col).drop("_batch").cache()
            self._release = weakref.finalize(self, self._snap.unpersist)
            self._release.atexit = False  # the session may be stopped by then
            self._key = key
        return self._snap

    def query(
        self,
        filter: str | None = None,
        output_fields: list[str] | None = None,
        limit: int | None = None,
    ) -> DataFrame:
        """milvus_db.py:51 query_entities: filter string + projection +
        limit with deterministic order."""
        df = self.df()
        if filter:
            df = df.filter(filter)
        if output_fields and output_fields != ["*"]:
            df = df.select(*output_fields)
        df = df.orderBy(self.id_col) if self.id_col in df.columns else df
        if limit is not None:
            df = df.limit(limit)
        return df

    def get_by_ids(self, ids: list) -> DataFrame:
        """milvus_db.py:99 get_entities_by_ids."""
        return self.df().filter(F.col(self.id_col).isin(ids))

    def scan(self, batch_size: int = 100):
        """milvus_db.py:77 get_all_entities: stable-order paginated
        iterator — one pass over a sorted snapshot, chunked on the
        driver."""
        if not self._has_data():
            return
        rows = self.df().orderBy(self.id_col).toLocalIterator()
        while batch := list(itertools.islice(rows, batch_size)):
            yield batch

    def stats(self) -> dict:
        """milvus_db.py:70 get_collection_stats."""
        n = self.df().count() if self._has_data() else 0
        return {
            "collectionName": os.path.basename(self.path),
            "rowCount": n,
            "dimension": self.dim,
            "metricType": self.metric,
            # complete the describe payload (milvus_db.py:40's create
            # fields echoed back, as collections/describe does)
            "primaryField": self.id_col,
            "vectorField": self.vec_col,
        }

    # -- search (milvus_db.py:107 search_vectors) --

    def search(self, vector: list[float], limit: int = 5) -> DataFrame:
        return knn.topk(
            self.df(),
            vector,
            k=limit,
            id_col=self.id_col,
            vec_col=self.vec_col,
            metric=self.metric,
        )
