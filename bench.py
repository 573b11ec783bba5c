"""Benchmark every registered query at $SPARK_GRAFT_SF_DIR (default sf0.1).

tools/runner.py times each query: best of 2 after one warm run, built
from scratch and materialized to a noop sink. HEADLINE is the scored
subset, frozen so round-over-round totals compare like for like; every
other registered query is timed as an extra. The full record goes to
BENCH_result.json. The LAST stdout line is a compact JSON summary
(metric/value/unit/queries/sf), at most 2,000 chars, because the driver
reads only that tail.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from rag_system_vector_db_spark.registry import QUERIES  # noqa: E402
from rag_system_vector_db_spark.session import get_spark  # noqa: E402
from tools import runner  # noqa: E402

# Headliners: vector search + dedup-ish + analytics; every registered
# query that exists is eligible, this list is the stable scored subset.
HEADLINE = [
    # vector search / RAG core
    "knn_topk_cosine",
    "knn_batch",
    "knn_batch_np",
    "similarity_matrix",
    "rag_retrieve",
    "rag_eval_retrieval",
    "hybrid_search_rrf",
    "ann_lsh_cosine",
    "ann_lsh_multiprobe",
    # store surface
    "collection_stats",
    "insert_upsert",
    # chunking + text analysis
    "chunk_documents",
    "chunk_diary",
    "doc_fingerprint",
    "text_quality",
    # dedup
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_embedding_lsh",
    "tfidf_top_terms",
    "redact_pii",
    "normalize_text",
    "kmv_distinct",
    # analytics
    "agg_pricing_summary",
    "column_profile",
    "join_revenue_topn",
    "local_supplier_volume",
    "rollup_pricing",
    "order_priority_pivot",
    "dormant_customers",
    "window_events",
    "sliding_window_events",
    "sessionize_events",
    "events_json_extract",
    "topk_per_group",
]


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0
    spark = get_spark("bench")
    headline = set(HEADLINE)
    extra = [n for n in QUERIES if n not in headline]
    results = runner.run(spark, sf_dir, HEADLINE + extra, "time")
    secs, failures = runner.split(results)
    timings = {n: secs[n] for n in HEADLINE if n in secs}
    result = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "sf": sf,
        "queries": timings,
        "timed_passes": 2,
        "sink": "noop",
        "session": runner.stamp(spark),
        "failures": failures,
        "extra_queries": {n: secs[n] for n in extra if n in secs},
    }
    spark.stop()
    out_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_result.json")
    try:
        with open(out_path, "w") as f:
            json.dump(result, f, indent=1)
            f.write("\n")
    except OSError as e:
        print(f"warning: could not write {out_path}: {e}", file=sys.stderr)
    compact = {k: v for k, v in result.items() if k != "extra_queries"}
    compact.update(failures=len(failures), extras="BENCH_result.json")
    line = json.dumps(compact, separators=(",", ":"))
    # The summary line must fit the driver's 2000-char tail whole: if the
    # headline dict ever outgrows it, drop to the totals-only form rather
    # than ship an unparseable record.
    if len(line) > 1900:
        compact.pop("queries")
        line = json.dumps(compact, separators=(",", ":"))
    print(line, flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
