"""Streaming evidence artifact (VERDICT r7 "Next round #8"): the 15
tests-only §2 rows rest on pytest alone — this tool re-runs the core
stream-vs-batch parity pipelines end-to-end and emits a COMMITTED
manifest (STREAMING_r{N}.json) of per-pipeline row counts and
order-free checksums, so the driver record covers the streaming half
of the engine too.

Each pipeline drives a Structured Streaming plan to completion
(file source -> memory/foreachBatch sink, processAllAvailable) and
compares its final output against an independent batch formulation of
the same semantics ON THE SAME ENGINE (stream-vs-batch parity — the
cross-engine DuckDB gate covers the batch side separately). The
checksum is the sf1-parity tool's: sum of 60-bit md5 over
name-sorted, '|'-joined canonical rows — order-free, engine-side.

Usage: python tools/streaming_manifest.py [--sf /root/testdata/sf0.01]
Writes STREAMING_r8.json at the repo root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def checksum(df) -> int:
    """Order-free 60-bit-md5 sum over canonical rows: columns sorted by
    name, floats rounded to 6dp, arrays JSON-rendered, '|'-joined."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cols = []
    for f in sorted(df.schema.fields, key=lambda f: f.name):
        c = F.col(f.name)
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            c = F.round(c.cast("double"), 6)
        elif isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
            c = F.to_json(c)
        cols.append(c.cast("string"))
    h = F.conv(F.substring(F.md5(F.concat_ws("|", *cols)), 1, 15), 16, 10).cast(
        "decimal(38,0)"
    )
    row = df.select(F.coalesce(F.sum(h), F.lit(0).cast("decimal(38,0)")).alias("c")).first()
    return int(row["c"])


def both(name: str, stream_df, batch_df, results: dict) -> None:
    t0 = time.time()
    cs, cb = checksum(stream_df), checksum(batch_df)
    ns, nb = stream_df.count(), batch_df.count()
    results[name] = {
        "rows_stream": ns,
        "rows_batch": nb,
        "checksum_stream": str(cs),
        "checksum_batch": str(cb),
        "match": bool(ns == nb and cs == cb),
        "sec": round(time.time() - t0, 2),
    }
    print(name, "MATCH" if results[name]["match"] else "MISMATCH", flush=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=os.path.join(REPO, "STREAMING_r8.json"))
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from rag_system_vector_db_spark.operators.chunking import chunk_by_tokens
    from rag_system_vector_db_spark.operators.embedding import embed_udf
    from rag_system_vector_db_spark.session import get_spark
    from rag_system_vector_db_spark.sources.tables import load_table
    from rag_system_vector_db_spark.streaming import pipeline as P

    spark = get_spark("streaming-manifest")
    spark.sparkContext.setLogLevel("ERROR")
    results: dict = {}
    work = tempfile.mkdtemp(prefix="stream_manifest_")
    try:
        # stage file-stream sources (one file = one micro-batch)
        dirs = {}
        for t in ("documents", "events"):
            d = os.path.join(work, t)
            os.makedirs(d)
            os.symlink(f"{args.sf}/{t}.parquet", os.path.join(d, f"{t}.parquet"))
            dirs[t] = d

        # 1. continuous chunk -> embed vs the batch prepare pipeline
        stream = P.ingest_pipeline(P.stream_documents(spark, dirs["documents"]), 40)
        P.run_to_memory(stream, "m_ingest")
        batch = chunk_by_tokens(
            spark.read.parquet(f"{args.sf}/documents.parquet"), window=40
        ).withColumn("embedding", embed_udf(F.col("chunk_text")))
        both("ingest_chunks_embed", spark.sql("SELECT * FROM m_ingest"), batch, results)

        # 2. watermarked tumbling-window counts vs batch window agg
        P.run_complete_to_memory(
            P.windowed_event_counts(
                P.stream_events(spark, dirs["events"]), "1 hour", "2 hours"
            ),
            "m_win",
        )
        ev = load_table(spark, args.sf, "events")
        bwin = (
            ev.groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
            .select(
                F.col("window.start").alias("win_start"),
                F.col("window.end").alias("win_end"),
                "event_type",
                "n",
                "sum_value",
            )
        )
        both("windowed_counts", spark.sql("SELECT * FROM m_win"), bwin, results)

        # 3. session windows vs batch session_window agg
        P.run_complete_to_memory(
            P.session_event_counts(
                P.stream_events(spark, dirs["events"]), "30 minutes", "1 hour"
            ),
            "m_sess",
        )
        bsess = (
            ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
            .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
            .select(
                F.col("session_window.start").alias("sess_start"),
                "user_id",
                "n_events",
                "sum_value",
            )
        )
        both("session_windows", spark.sql("SELECT * FROM m_sess"), bsess, results)

        # 4. time-bounded stream-stream join vs the batch interval join
        types = sorted(r[0] for r in ev.select("event_type").distinct().collect())
        t_l, t_r = types[0], types[1]
        ssj = P.stream_stream_join(
            P.stream_events(spark, dirs["events"]).filter(F.col("event_type") == t_l),
            P.stream_events(spark, dirs["events"]).filter(F.col("event_type") == t_r),
            within="1 hour",
        )
        P.run_to_memory(ssj, "m_ssj")
        got = spark.sql("SELECT * FROM m_ssj")
        bl = ev.filter(F.col("event_type") == t_l).select(
            F.col("user_id").alias("l_key"),
            F.col("ts").alias("l_ts"),
            F.col("event_id").alias("l_event_id"),
            F.col("value").alias("l_value"),
        )
        br = ev.filter(F.col("event_type") == t_r).select(
            F.col("user_id").alias("r_key"),
            F.col("ts").alias("r_ts"),
            F.col("event_id").alias("r_event_id"),
            F.col("value").alias("r_value"),
        )
        bj = bl.join(
            br,
            (F.col("l_key") == F.col("r_key"))
            & (F.col("r_ts") >= F.col("l_ts"))
            & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 1 hour")),
        ).select(*sorted(got.columns))
        both("stream_stream_join", got.select(*sorted(got.columns)), bj, results)

        # 5. stateful keep-first dedup across micro-batches vs batch
        # keep-first (3 files -> 3 batches; duplicate content spans them)
        docs = spark.read.parquet(f"{args.sf}/documents.parquet").select(
            "doc_id", "text"
        )
        dd = os.path.join(work, "dedup_src")
        os.makedirs(dd)
        n = docs.count()
        third = n // 3
        pdf = docs.orderBy("doc_id").toPandas()
        for i in range(3):
            lo = i * third
            hi = n if i == 2 else (i + 1) * third
            sl = pdf.iloc[lo:hi]
            # duplicate the first slice's heads into later slices so
            # cross-batch suppression is exercised
            if i > 0:
                import pandas as pd

                dup = pdf.iloc[:5].copy()
                dup["doc_id"] = dup["doc_id"] + 1_000_000 * i
                sl = pd.concat([sl, dup])
            spark.createDataFrame(sl).coalesce(1).write.mode("overwrite").parquet(
                os.path.join(dd, f"b{i}")
            )
        src = os.path.join(work, "dedup_stream")
        os.makedirs(src)
        for i in range(3):
            b = os.path.join(dd, f"b{i}")
            f = [x for x in os.listdir(b) if x.endswith(".parquet")][0]
            os.symlink(os.path.join(b, f), os.path.join(src, f"{i:02d}.parquet"))
        stream_docs = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        P.run_to_memory(P.streaming_dedup(stream_docs), "m_dedup")
        all_docs = spark.read.parquet(src)
        bdd = (
            all_docs.groupBy(F.md5("text").alias("text_hash"))
            .agg(F.min("doc_id").alias("keeper_id"))
        )
        both("stateful_dedup", spark.sql("SELECT * FROM m_dedup"), bdd, results)

        # 6. streaming EWMA final state vs driver-side sequential replay
        P.run_to_memory(P.streaming_ewma(P.stream_events(spark, dirs["events"])), "m_ewma")
        sdf = spark.sql(
            "SELECT event_type, n_seen, ewma FROM ("
            " SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY n_seen DESC) rn"
            " FROM m_ewma) WHERE rn = 1"
        )
        rows = (
            ev.select(
                "event_type",
                "ts_ns",
                "event_id",
                F.expr("cast(round(value * 1000000) as bigint)").alias("v_u"),
            )
            .orderBy("event_type", "ts_ns", "event_id")
            .collect()
        )
        state: dict = {}
        for r in rows:
            e, cnt = state.get(r.event_type, (None, 0))
            s = e + int(r.v_u) if e is not None else int(r.v_u) * 2
            e = s // 2 if s >= 0 else -((-s) // 2)
            state[r.event_type] = (e, cnt + 1)
        replay = spark.createDataFrame(
            [(k, v[1], v[0] / 1e6) for k, v in state.items()],
            "event_type string, n_seen long, ewma double",
        )
        both("streaming_ewma", sdf, replay, results)

        # 7. streaming HLL register maintenance (2 micro-batches,
        # append + max-resolve) vs the one-shot batch register build
        reg = os.path.join(work, "hll_reg")
        ck = os.path.join(work, "hll_ck")
        src2 = os.path.join(work, "hll_src")
        os.makedirs(src2)
        half = ev.count() // 2
        epdf = ev.select("event_id", "ts", "user_id").orderBy("event_id").toPandas()
        for i, sl in enumerate((epdf.iloc[:half], epdf.iloc[half:])):
            spark.createDataFrame(sl).coalesce(1).write.mode("overwrite").parquet(
                os.path.join(work, f"hll_b{i}")
            )
            b = os.path.join(work, f"hll_b{i}")
            f = [x for x in os.listdir(b) if x.endswith(".parquet")][0]
            os.symlink(os.path.join(b, f), os.path.join(src2, f"{i:02d}.parquet"))
        estream = (
            spark.readStream.schema("event_id long, ts timestamp, user_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src2)
        )
        q = P.start_streaming_hll_maintenance(estream, reg, ck)
        q.processAllAvailable()
        q.stop()
        both(
            "hll_register_maintenance",
            P.read_hll_registers(spark, reg),
            P.day_hll_registers(ev.select("ts", "user_id")),
            results,
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)

    n_match = sum(1 for v in results.values() if v["match"])
    manifest = {
        "sf_dir": args.sf,
        "pipelines": results,
        "n_pipelines": len(results),
        "n_match": n_match,
        "all_match": n_match == len(results),
    }
    with open(args.out, "w") as f:
        json.dump(manifest, f, indent=1)
        f.write("\n")
    print(f"MANIFEST {n_match}/{len(results)} match -> {args.out}")
    return 0 if n_match == len(results) else 1


if __name__ == "__main__":
    raise SystemExit(main())
