"""The three workloads: what each sets up, times and checks.

Each workload gets the session, the tracer, its seed and run length, and
returns a ``Result``.  An operation that raises or whose output fails
its check counts as failed; checks run outside the timed region.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from rag_system_vector_db_spark import registry
from rag_system_vector_db_spark.operators import embedding
from rag_system_vector_db_spark.operators.rag import LLMStub
from rag_system_vector_db_spark.operators.vector_store import VectorCollection
from rag_system_vector_db_spark.sources import TABLES
from rag_system_vector_db_spark.sources.tables import duck_parquet_path

import datagen
import tracing

# bench.HEADLINE as it stood when this benchmark was defined; frozen here
# so the workload does not move when that list is edited.
HEADLINE = (
    "knn_topk_cosine knn_batch knn_batch_np similarity_matrix rag_retrieve "
    "rag_eval_retrieval hybrid_search_rrf ann_lsh_cosine ann_lsh_multiprobe "
    "collection_stats insert_upsert chunk_documents chunk_diary doc_fingerprint "
    "text_quality dedup_exact dedup_minhash_lsh dedup_simhash dedup_ngram_jaccard "
    "dedup_embedding_lsh tfidf_top_terms redact_pii normalize_text kmv_distinct "
    "agg_pricing_summary column_profile join_revenue_topn local_supplier_volume "
    "rollup_pricing order_priority_pivot dormant_customers window_events "
    "sliding_window_events sessionize_events events_json_extract topk_per_group"
).split()

SETUP_REPEATS = 3
STEAL_LIMIT = 0.02
TOPK = 5
CHUNK_WINDOW = 40
# (smoke, full) input sizes
SERVE_DOCS = (200, 2000)
UPSERT_ROWS = 100
# Warm-up lengths.  While the JVM's JIT catches up, the first question
# takes ~4x its steady time and the tenth still ~1.3x; the 10-step
# warm-up fits the run time, and is one block of ten, so the timed loop
# starts a block.  An ingest build of 10k docs falls from ~16 s to
# within ~15% of its steady time over its first 3.
WARMUP_STEPS = 10
INGEST_DOCS = (300, 10_000)
WARMUP_BUILDS = (1, 3)
HEADLINE_SF = (0.001, 0.01)
# units of the report lines that are measurements
REPORT_UNITS = {
    "setup_prepare_s": "s",
    "setup_warmup_s": "s",
    "loop_cpu_steal_share": "ratio",
    "search_p50_s": "s",
    "search_p90_s": "s",
    "upsert_p50_s": "s",
    "serve_ops_per_s": "1/s",
    "ingest_docs_per_s": "docs/s",
    "headline_total_s": "s",
    "layers_sum_s": "s",
}


@dataclass
class Result:
    setup_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    end_to_end: dict[str, float] = field(default_factory=dict)
    report: dict[str, object] = field(default_factory=dict)

    def set_up(self, prepare_s: float, warmup_s: float) -> None:
        """The workload's share of setup_s, with its parts reported."""
        self.setup_s = prepare_s + warmup_s
        self.report["setup_prepare_s"] = prepare_s
        self.report["setup_warmup_s"] = warmup_s

    def attempt(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _prepare(fn) -> tuple[float, object]:
    """Run a set-up step SETUP_REPEATS times; median time, last output."""
    times, out = [], None
    for i in range(SETUP_REPEATS):
        dt, out = _timed(lambda: fn(i))
        times.append(dt)
    return statistics.median(times), out


def _guard(res: Result, what: str, fn) -> None:
    """Run one operation; an exception counts it as failed."""
    try:
        fn()
    except Exception as e:  # noqa: BLE001 - the run reports it and goes on
        res.attempt(False, f"{what}: {type(e).__name__}: {str(e)[:300]}")


def _loop(seconds: float, step, res: Result) -> None:
    """Closed loop, one client: start the next operation only if, at the
    median latency so far, it ends within ``seconds``; at least one runs.
    The share of host CPU time stolen by the hypervisor meanwhile is
    reported, to tell a noisy host from a slow program."""
    ticks0 = tracing.cpu_ticks()
    start, lat = time.perf_counter(), []
    while not lat or time.perf_counter() - start + statistics.median(lat) <= seconds:
        t0 = time.perf_counter()
        _guard(res, f"operation {len(lat)}", lambda: step(len(lat)))
        lat.append(time.perf_counter() - t0)
    res.report["loop_cpu_steal_share"] = round(tracing.steal_share(ticks0, tracing.cpu_ticks()), 4)


def _quiet_p50(ops: list[dict], res: Result) -> float:
    """Median latency of the operations during which the hypervisor took
    less than STEAL_LIMIT of the host's CPU time, and at least of the 3
    it took the least from.

    On a shared VM, a neighbour's load stalls this program's vCPUs, and
    the stall shows as steal; a question, a chain of ~1000 sequential
    py4j round trips, then takes two to three times as long, and an
    ingest build half as long again."""
    ops = sorted(ops, key=lambda op: op["steal_share"])
    quiet = sum(op["steal_share"] < STEAL_LIMIT for op in ops)
    res.report["quiet_ops"] = f"{quiet} of {len(ops)}"
    return statistics.median(op["latency_s"] for op in ops[: max(3, quiet)])


class _Embedder:
    """Python replica of the stand-in embedder, used as the oracle."""

    def __init__(self):
        self._tok: dict[str, np.ndarray] = {}

    def __call__(self, text: str) -> np.ndarray:
        v = np.zeros(embedding.DIM)
        for tok in text.split(" "):
            if tok:
                tv = self._tok.get(tok)
                if tv is None:
                    tv = self._tok[tok] = embedding._token_vec(tok)
                v += tv
        n = float(np.linalg.norm(v))
        if n > 0:
            v /= n
        return v.astype(np.float32)


def _topk_ok(got: list[int], ids: np.ndarray, mat: np.ndarray, q: np.ndarray, k: int) -> bool:
    """Spark's top-k ids against a numpy brute force (score desc, id
    asc); a different id is accepted only where the scores tie to ulp
    noise."""
    a = mat.astype(np.float64)
    qd = q.astype(np.float64)
    scores = (a @ qd) / (np.linalg.norm(a, axis=1) * np.linalg.norm(qd))
    order = np.lexsort((ids, -scores))[:k]
    by_id = dict(zip(ids.tolist(), scores.tolist()))
    if len(got) != len(order) or len(set(got)) != len(got) or any(g not in by_id for g in got):
        return False
    return all(
        g == int(ids[o]) or abs(by_id[g] - float(scores[o])) <= 1e-12
        for g, o in zip(got, order)
    )


# -- rag_serve ---------------------------------------------------------------


def rag_serve(spark, tr, seed: int, seconds: float, smoke: bool, work: str) -> Result:
    res = Result()
    n_docs = SERVE_DOCS[not smoke]
    rng = np.random.default_rng([seed, 3])
    emb = _Embedder()

    def prepare(i):
        table, _ = datagen.corpus(seed, n_docs)
        path = os.path.join(work, f"serve-corpus-{i}.parquet")
        pq.write_table(table.select(["doc_id", "text"]).rename_columns(["id", "text"]), path)
        coll = VectorCollection.create(spark, os.path.join(work, f"serve-{i}"), embedding.DIM)
        coll.insert(embedding.embed_documents(spark.read.parquet(path), out_col="vector"))
        return coll, table.column("text").to_pylist()

    prep_s, (coll, texts) = _prepare(prepare)
    # what the collection must hold: id -> text, and id -> vector
    state = dict(enumerate(texts))
    vecs = {i: emb(t) for i, t in state.items()}
    next_id = [n_docs]

    def question_text() -> str:
        toks = state[int(rng.integers(0, n_docs))].split(" ")
        at = int(rng.integers(0, max(1, len(toks) - 8)))
        return " ".join(toks[at : at + 8])

    def ask(kind: str) -> None:
        question = question_text()
        with tr.operation(kind) as op:
            if tr.enabled:
                tr.count(op, "store.data_files", _parquet_files(coll))
            qv = embedding.embed_text_py(question)
            hits_df = coll.search([float(x) for x in qv], limit=TOPK)
            with tr.span("action"):
                hits = [r[coll.id_col] for r in hits_df.collect()]
            tr.planned(hits_df)
            ctx_df = coll.get_by_ids(hits)
            with tr.span("action"):
                rows = {r[coll.id_col]: r["text"] for r in ctx_df.collect()}
            tr.planned(ctx_df)
            answer = LLMStub.generate_response(question, [rows[i] for i in hits if i in rows])
        ids = np.fromiter(vecs, np.int64, len(vecs))
        ok = _topk_ok(hits, ids, np.stack([vecs[int(i)] for i in ids]), emb(question), TOPK)
        ok = ok and rows == {i: state[i] for i in hits}
        ok = ok and answer == LLMStub.generate_response(question, [state[i] for i in hits])
        res.attempt(ok, f"{kind}: top-{TOPK} or context mismatch for {question!r}")

    def upsert() -> None:
        n_new = UPSERT_ROWS // 4
        old = rng.choice(n_docs, UPSERT_ROWS - n_new, replace=False).tolist()
        ids = old + list(range(next_id[0], next_id[0] + n_new))
        next_id[0] += n_new
        new_texts = datagen.texts(rng, UPSERT_ROWS)
        with tr.operation("upsert"):
            batch = spark.createDataFrame(list(zip(ids, new_texts)), "id long, text string")
            coll.insert(embedding.embed_documents(batch, out_col="vector"))
        state.update(zip(ids, new_texts))
        vecs.update((i, emb(t)) for i, t in zip(ids, new_texts))
        back = {r["id"]: (r["text"], np.asarray(r["vector"], np.float32)) for r in coll.get_by_ids(ids).collect()}
        ok = sorted(back) == sorted(ids) and all(
            back[i][0] == state[i] and np.array_equal(back[i][1], vecs[i]) for i in ids
        )
        res.attempt(ok, "upsert: ids did not read back their new values")

    # one upsert in every block of ten operations, at a seeded slot after
    # the first, so that every run times at least one question
    slots: list[int] = []

    def step(i: int) -> None:
        if i % 10 == 0:
            slots.append(int(rng.integers(1, 10)))
        upsert() if i % 10 == slots[-1] else ask("question")

    warm_s, _ = _timed(lambda: [step(i) for i in range(WARMUP_STEPS)])
    tr.ops.clear()
    _loop(seconds, lambda i: step(WARMUP_STEPS + i), res)
    loop_ops = list(tr.ops)

    def compact() -> None:
        with tr.operation("compact"):
            coll.compact()

    _guard(res, "compact", compact)
    n = coll.stats()["rowCount"]
    res.attempt(n == len(state), f"stats rowCount {n} != {len(state)}")
    _guard(res, "final", lambda: ask("final"))  # one search on the compacted collection
    tr.ops[:] = loop_ops + [op for op in tr.ops if op["kind"] == "compact"]

    q = [op["latency_s"] for op in loop_ops if op["kind"] == "question"]
    u = [op["latency_s"] for op in loop_ops if op["kind"] == "upsert"]
    total = sum(op["latency_s"] for op in loop_ops)
    res.set_up(prep_s, warm_s)
    res.end_to_end = {"op_p50_s": _quiet_p50([op for op in loop_ops if op["kind"] == "question"], res)}
    res.report |= {
        "search_p50_s": statistics.median(q),
        "search_p90_s": _pct(q, 0.9),
        "questions": len(q),
        "upsert_p50_s": statistics.median(u) if u else None,
        "upserts": len(u),
        "serve_ops_per_s": len(loop_ops) / total,
        "loop": "closed, 1 client",
        "corpus_docs": n_docs,
        "final_row_count": n,
    }
    return res


def _parquet_files(coll: VectorCollection) -> int:
    d = os.path.join(coll.path, "data")
    return sum(n.endswith(".parquet") for n in os.listdir(d))


def _pct(xs: list[float], p: float) -> float:
    s = sorted(xs)
    return s[min(len(s) - 1, math.ceil(p * len(s)) - 1)]


# -- ingest_batch ------------------------------------------------------------


def ingest_batch(spark, tr, seed: int, seconds: float, smoke: bool, work: str) -> Result:
    res = Result()
    n_docs = INGEST_DOCS[not smoke]

    def prepare(i):
        table, planted = datagen.corpus(seed, n_docs)
        corpus_dir = os.path.join(work, f"ingest-corpus-{i}")
        datagen.write_tables({"documents": table}, corpus_dir)
        return corpus_dir, table, planted

    prep_s, (corpus_dir, table, planted) = _prepare(prepare)
    want = sum(
        math.ceil(len(t.split(" ")) / CHUNK_WINDOW) for t in table.column("text").to_pylist()
    )
    pairs = None

    def build(i: int) -> None:
        nonlocal pairs
        # the registry entries chunk_documents (chunk_by_tokens, 40-token
        # windows) and dedup_minhash_lsh load the corpus as every
        # registry query does
        with tr.operation("build") as op:
            rows = registry.QUERIES["chunk_documents"](spark, corpus_dir).select(
                (F.col("doc_id") * 1000 + F.col("chunk_number")).alias("id"),
                F.col("chunk_text").alias("text"),
            )
            coll = VectorCollection.create(spark, os.path.join(work, f"ingest-{i}"), embedding.DIM)
            coll.insert(embedding.embed_documents(rows, out_col="vector"))
            pairs = registry.QUERIES["dedup_minhash_lsh"](spark, corpus_dir)
            with tr.span("action"):
                pairs.write.format("noop").mode("overwrite").save()
        n = coll.stats()["rowCount"]
        res.attempt(n == want, f"build {i}: {n} rows != {want} chunks")
        tr.count(op, "chunking.chunks_out", n)
        shutil.rmtree(coll.path)

    warm_s, _ = _timed(lambda: [build(-1 - i) for i in range(WARMUP_BUILDS[not smoke])])
    tr.ops.clear()
    _loop(seconds, build, res)
    # The last build's candidate pairs, collected once: every planted
    # near-duplicate must be among them.
    candidates = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    found = sum(p in candidates for p in planted)
    res.attempt(found == len(planted), f"dedup found {found} of {len(planted)} planted pairs")
    for op in tr.ops:
        tr.count(op, "dedup.candidate_pairs", len(candidates))
        tr.count(op, "dedup.planted_found_ratio", found / max(1, len(candidates)))

    lat = [op["latency_s"] for op in tr.ops]
    res.set_up(prep_s, warm_s)
    res.end_to_end = {"op_p50_s": _quiet_p50(tr.ops, res)}
    res.report |= {
        "ingest_docs_per_s": n_docs * len(lat) / sum(lat),
        "builds": len(lat),
        "loop": "closed, 1 client, one batch build per operation",
        "corpus_docs": n_docs,
        "chunks": want,
        "planted_pairs": len(planted),
        "candidate_pairs": len(candidates),
    }
    return res


# -- headline_mix ------------------------------------------------------------


def _canon(v):
    if hasattr(v, "item") and not isinstance(v, (list, tuple, str, bytes)):
        try:
            v = v.item()
        except (ValueError, AttributeError):
            pass
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return f"{type(v).__name__}:{v}"


def _canon_frame(pdf) -> tuple[list[str], list[tuple]]:
    cols = sorted(pdf.columns)
    return cols, sorted(tuple(_canon(v) for v in row) for row in pdf[cols].itertuples(index=False))


def headline_mix(spark, tr, seed: int, seconds: float, smoke: bool, work: str) -> Result:
    res = Result()
    sf = HEADLINE_SF[not smoke]
    order = [HEADLINE[i] for i in np.random.default_rng([seed, 4]).permutation(len(HEADLINE))]

    def prepare(i):
        d = os.path.join(work, f"tables-{i}")
        datagen.write_tables(datagen.star_tables(seed, sf), d)
        return d

    prep_s, sf_dir = _prepare(prepare)
    per_query: dict[str, list[float]] = {n: [] for n in order}

    def one_pass(_):
        with tr.operation("pass"):
            for name in order:
                t0 = time.perf_counter()
                df = registry.QUERIES[name](spark, sf_dir)
                with tr.span("plan"):
                    df._jdf.queryExecution().executedPlan()
                tr.planned(df)
                with tr.span("action"):
                    df.write.format("noop").mode("overwrite").save()
                per_query[name].append(time.perf_counter() - t0)

    # No warm-up: the first pass runs in a fresh session, as a batch job
    # that runs the suite once per process does.
    tr.ops.clear()
    _loop(seconds, one_pass, res)
    timed_ops = list(tr.ops)

    # Check, after the timed region: each query's result is materialized
    # once more and compared, order-insensitively, with its DuckDB oracle.
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(work, 'duckdb')}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{duck_parquet_path(sf_dir, t)}')")
    for name in order:

        def check(name=name):
            got = registry.QUERIES[name](spark, sf_dir).toPandas()
            sql = registry.ORACLES.get(name) or registry.LAZY_ORACLES[name](sf_dir)
            ok = _canon_frame(got) == _canon_frame(con.sql(sql).df())
            res.attempt(ok, f"headline {name}: result differs from its DuckDB oracle")

        _guard(res, f"headline {name}", check)
    con.close()
    tr.ops[:] = timed_ops

    lat = [op["latency_s"] for op in tr.ops]
    res.set_up(prep_s, 0.0)
    res.end_to_end = {"op_p50_s": _quiet_p50(tr.ops, res)}
    slowest = sorted(per_query, key=lambda n: -statistics.median(per_query[n]))[:5]
    if tr.enabled:
        # build + plan + execute, per pass, to set against the pass time
        res.report["layers_sum_s"] = [
            round(sum(op["metrics"].get(k, 0.0) for k in ("registry.build_s", "plan.s", "action.s")), 3)
            for op in tr.ops
        ]
    res.report |= {
        "headline_total_s": statistics.median(lat),
        "passes": len(lat),
        "loop": "closed, 1 client, one pass of 36 queries per operation",
        "sf": sf,
        "lineitem_rows": int(6_000_000 * sf),
        "slowest": {n: round(statistics.median(per_query[n]), 4) for n in slowest},
    }
    return res


WORKLOADS = {"rag_serve": rag_serve, "ingest_batch": ingest_batch, "headline_mix": headline_mix}
