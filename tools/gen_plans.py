"""Regenerate PLANS.md — physical-plan evidence for flagship queries.

Usage: python tools/gen_plans.py

Rewrites, in place, the PLANS.md sections named in NOTES (one `## name`
heading each) and the file's header. Every other section is
hand-written and is kept as it stands; a NOTES name not yet in the file
is appended.
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from rag_system_vector_db_spark.registry import QUERIES  # noqa: E402
from rag_system_vector_db_spark.session import get_spark  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_PLAN_SF_DIR", "/root/testdata/sf0.01")

NOTES = {
    "knn_batch": (
        "Query side broadcast (BroadcastNestedLoopJoin / BroadcastExchange); "
        "corpus scans once; a partial WindowGroupLimit keeps <=k rows per "
        "(partition, query) before the only exchange; no global sort."
    ),
    "dedup_minhash_lsh": (
        "Shingle explode + codegen md5s; ONE groupBy produces signatures "
        "(map-side partial mins); bucket-collect pair generation means one "
        "more groupBy instead of a self-join's two exchanges."
    ),
    "local_supplier_volume": (
        "Region/year filters pushed to the parquet scans (PushedFilters); "
        "every dimension is a BroadcastHashJoin build side; single wide "
        "exchange for the final groupBy."
    ),
    "ann_probe_sweep": (
        "ONE bucket join serves every probe budget: probe rows carry "
        "min-budget, the budget dimension is an exploded column, and "
        "recall + candidate counts aggregate per budget — no per-budget "
        "driver loop or repeated corpus passes."
    ),
    "ann_ivf_rerank": (
        "Centroids are broadcast literals (sample-trained quantizer); "
        "probed cells score QUANTIZED vectors into a shortlist; exact "
        "cosine re-scores only shortlist x Q rows via broadcast joins. "
        "Cell assignment is an array-argmin over ONE nested centroid "
        "literal (each distance subtree appears once; a when-chain "
        "argmin re-evaluated them combinatorially — 15x slower)."
    ),
    "benchmark_contamination": (
        "Benchmark-side grams BROADCAST (eval sets are small); the "
        "corpus-side explode joins without a shuffle and only matching "
        "grams reach the per-doc aggregation."
    ),
    "repetition_stats": (
        "Two explode subtrees each reduced by map-side-combinable "
        "HashAggregate pairs keyed (doc, gram) then (doc); the final "
        "join reuses the doc-hash partitioning from both aggs."
    ),
    "tfidf_top_terms": (
        "One explode subtree; df is an unordered count window over tf "
        "(partition-local sort only); top-k per doc is a sort_array/slice "
        "aggregation — no global sorts anywhere."
    ),
    "keyword_index_topk": (
        "Both postings scans carry PartitionFilters on the term-hash "
        "bucket (directory pruning before I/O) plus the pushed term IN "
        "filter; df and corpus stats are broadcast sides; top-k is "
        "TakeOrderedAndProject over scored postings only."
    ),
    "dedup_fuzzy_edit": (
        "PassJoin: segment/substring equi-join on ~11-char keys "
        "generates candidates (no theta join anywhere); distinct pair "
        "set then re-joins the 32-char prefix keys for the exact "
        "levenshtein verify — full texts never enter a shuffle."
    ),
    "lm_perplexity": (
        "The tokenize/tf subtree plans ONCE: vocab counts are an "
        "unordered sum window over tf (term-partitioned), the corpus "
        "total folds in as logp = a - ln(total) with total a "
        "single-partition window over the per-doc frame (n_docs rows)."
    ),
    "sequence_packing": (
        "Two-phase prefix sum: shard-local windows (bounded "
        "partitions) + cumulative window over the tiny per-shard "
        "totals frame, recombined by a broadcast join — no global "
        "sort of the corpus."
    ),
    "incremental_dedup": (
        "Band pipeline runs once over the corpus; new-side rows "
        "equi-join base-side rows on (band, band_sig); the batch "
        "split point is a broadcast scalar, exact layer probes the "
        "distinct base hash set — md5 keys only through the shuffle."
    ),
    "hybrid_search_rrf": (
        "Each tower plans ONCE: rrf_fuse carries the rank payload "
        "through a single sort_array/slice top-k agg instead of "
        "re-joining the fused relation (which re-planned both towers "
        "— 10 scans before, 5 now)."
    ),
    "knn_filtered": (
        "The metadata predicate pushes to the documents scan "
        "(PushedFilters) and semi-joins ids BEFORE any cosine work — "
        "exact pre-filter posture; top-k via TakeOrdered."
    ),
    "knn_graph_lsh": (
        "Bucket equi-self-join (no theta join): candidate volume is "
        "bucket-occupancy bound; per-source top-3 collapses in the "
        "agg-based prune before any wide exchange."
    ),
    "matryoshka_recall": (
        "One corpus scan serves every dim (exploded on the broadcast "
        "query side); the full-dim grading baseline is a max_by "
        "window over the tiny per-(dim, query) frame — no subtree "
        "reuse, no second scoring pass."
    ),
    "events_anomaly": (
        "The raw stream collapses to one row per hour (map-side "
        "combinable count) BEFORE any window; trailing mean/variance "
        "run on the tiny hourly frame via exact integer sums."
    ),
    "retrieval_metrics": (
        "Same broadcast batch-kNN eval as rag_eval_retrieval plus one "
        "map-side-combinable rollup agg on the per-query frame — the "
        "corpus never shuffles for the metrics."
    ),
    "ivf_probe_sweep": (
        "ONE cell join serves every nprobe budget (the IVF analog of "
        "ann_probe_sweep): each query's probed cells carry their probe "
        "rank, candidates explode only to budgets >= that rank, and "
        "recall + candidate counts aggregate per budget — one corpus "
        "pass instead of max_nprobe."
    ),
    "keyword_index_batch": (
        "Five queries, one pruned postings read: the bucket IN filter "
        "is a PartitionFilter over the union of the queries' term "
        "buckets, the broadcast (query_id, term) frame fans postings "
        "only to asking queries, df/idf compute once per term, and "
        "per-query top-k reduces via one agg."
    ),
    "hybrid_index_batch": (
        "Both towers batch: the keyword tower shares the pruned "
        "postings read across queries, the vector tower is one "
        "broadcast batch-kNN corpus pass for all query vectors, and "
        "the keyed RRF fusion joins two depth-20-per-query relations "
        "with a payload-carrying per-query top-k agg."
    ),
    "ann_ivfpq": (
        "IVF-PQ composite: the corpus encodes ONCE into (cell, 4 PQ "
        "codes) in a single projection (centroid argmin + per-subspace "
        "code argmin over nested literals); probe structs broadcast; "
        "ADC runs only on probed cells' code rows; per-query top-k is "
        "an agg, no window over the scored relation."
    ),
    "substring_dedup": (
        "Docs collapse to window hashes map-side (word_shingles, no "
        "shuffle); ONE map-side-combinable count per hash; the "
        "join-back is hash-partitioned with the count side already "
        "aggregated — a boilerplate-hot window is a single count row, "
        "so skew is bounded before AQE even looks."
    ),
    "keyword_index_phrase": (
        "postings_pos scan carries the bucket PartitionFilter "
        "(directory pruning) + term pushdown; each phrase term "
        "contributes one posting-list frame and the joins are doc_id "
        "equi-joins between df(term)-sized lists; phrase starts come "
        "from array_intersect of shifted position arrays — per-doc "
        "array ops, no positional explode at query time."
    ),
    "dsir_selection": (
        "Unigram and bigram features are two map-side explodes "
        "unioned into ONE groupBy(doc); the lambda lookup is "
        "element_at on a broadcast literal array (no join); the "
        "quantile cut is a 1-row broadcast crossJoin over the per-doc "
        "frame — no second corpus pass, no global sort."
    ),
    "bloom_dedup_probe": (
        "The filter is the distinct set-bit table — bounded by the "
        "CONSTANT m=1024, so its BroadcastHashJoin hint is safe under "
        "the no-data-proportional-broadcast rule; probe explodes k=2 "
        "bit rows per doc and reduces in one map-side-combinable "
        "groupBy; the exact-dup check joins 16-byte digests only."
    ),
    "suppliers_kept_waiting": (
        "Q21's EXISTS + NOT-EXISTS pair as two stacked aggs: the "
        "(order, supplier) agg establishes the orderkey partitioning, "
        "and both the per-order rollup and the join-back reuse it "
        "(one fact exchange, no correlated re-scans); supplier join "
        "is AQE-promoted from runtime size; top-10 via TakeOrdered."
    ),
    "global_sales_opportunity": (
        "Q22: nation-set filter pushed to the customer scan; the "
        "positive-balance average rides as a 1-row BroadcastExchange "
        "(exact DECIMAL cross-multiply threshold); the no-orders check "
        "is a LEFT ANTI whose orders side is projected to o_custkey "
        "before the exchange — bare keys cross the shuffle."
    ),
    "priority_sample": (
        "PPSWOR priority sampling: per-row md5 draw + one IEEE divide "
        "inside codegen; per-group top-k lowers to a "
        "partial_collect_list ObjectHashAggregate pair — no Window "
        "sort stage, group survivors bounded at k before the exchange."
    ),
    "compaction_plan": (
        "Prefix-sum Window partitioned by source (single exchange), "
        "bin assignment is integer div in a Project, rollup is a "
        "partial/final HashAggregate pair over (source, bin)."
    ),
    "zorder_layout": (
        "Morton interleave = 40 shiftright/&/* ops in one codegen "
        "Project (no Python eval, no join); the only exchange is the "
        "per-block stats rollup's partial->final agg pair."
    ),
    "bpe_pair_counts": (
        "Corpus collapses to the (word, count) vocab in the first "
        "partial/final agg pair; pair explosion runs over the vocab "
        "only (transform/sequence HOFs, vocabulary-sized, corpus-size "
        "independent); top-20 via TakeOrderedAndProject."
    ),
    "event_transitions": (
        "ONE exchange keyed by user_id drives the lag window; bigram "
        "counts are a partial/final agg pair; row-normalization "
        "windows only the tiny (from,to) result frame."
    ),
    "knn_graph_pagerank": (
        "Edges materialize once behind a lazy localCheckpoint (plan "
        "shows Scan ExistingRDD, not three repeated LSH self-joins); "
        "each of the 3 rounds shuffles only (node, numerator) longs "
        "through a partial/final sum pair; exact integer arithmetic "
        "keeps the rounds hash-checkable."
    ),
    "mutual_knn": (
        "One edge build feeds both sides of the reversed "
        "equi-self-join (<=3n rows of longs); src<dst dedup is a "
        "codegen Filter — nothing pairwise ever materializes."
    ),
    "kmeans_refine": (
        "Each Lloyd round: the k centroid arrays collapse to a one-row "
        "broadcast (scalar-attachment crossJoin), assignment is a "
        "codegen array-argmin over exact integer distances — no "
        "shuffle; only the (cid, pos) mean rollups exchange."
    ),
    "salted_join_topn": (
        "Fact side derives a deterministic xxhash64 salt, dimension "
        "replicates salt x, the join runs on (key, _salt) so a hot "
        "key spreads over salt reducers; result provably identical "
        "to the plain join (the oracle IS the plain join)."
    ),
    "triangle_count": (
        "Canonical a<b edges materialize once (lazy localCheckpoint) "
        "and feed the two-equi-join triangle enumeration — join "
        "volume bounded by wedges, never n^3; degree/wedge/triangle "
        "rollups are tiny broadcast scalars."
    ),
    "curation_pipeline": (
        "ONE corpus scan computes tokens, quality flags and the bag "
        "fingerprint in codegen; the null-skipping window-min keeper "
        "keeps the whole funnel on a single frame — 1 scan + 1 window "
        "shuffle + 1 (source, lang) rollup."
    ),
    "data_quality_checks": (
        "All same-table constraints fold into ONE conditional agg per "
        "scan (a constraint costs a column, not a pass); the FK check "
        "is a key-projected LEFT ANTI counted map-side; the verdict "
        "union is seven one-row frames."
    ),
    "mlm_mask_corpus": (
        "Pure codegen HOFs over one scan — zero shuffles, zero "
        "Python: a map-only rewrite job whose output partitioning "
        "mirrors the input's."
    ),
    "span_corrupt_corpus": (
        "Same map-only posture as mlm_mask_corpus; the masked-span "
        "list computes once per doc and the per-token lambdas "
        "reference it for ordinal sentinel numbering."
    ),
    "rag_context_budget": (
        "Broadcast-query corpus scan + TakeOrdered top-10; the "
        "packing prefix-sum windows over TEN rows — budget logic "
        "costs nothing at any scale."
    ),
    "events_gap_fill": (
        "ONE fact shuffle (hourly rollup); the spine is "
        "sequence+explode over a 1-row bounds agg, and the LOCF "
        "window runs over |hours| rows, never |events|."
    ),
    "knn_range_search": (
        "Radius search is a pure MAP job: broadcast query side, one "
        "corpus pass, plain filter on bit-identical scores — no "
        "exchange, no aggregate, no sort anywhere in the plan."
    ),
    "post_filter_recall": (
        "Corpus scored ONCE; one top-10 per (query, label match), "
        "limited before the exchange, holds BOTH k-sets (overall + "
        "filtered); one final agg intersects — no second scoring "
        "pass, no ranking join."
    ),
    "pit_feature_join": (
        "Point-in-time lookup with NO join operator: dimension "
        "changes and observations union-tag onto one (user, ts, tag, "
        "id) window; running last(ignorenulls) carries the in-effect "
        "version. Plan-asserted join-free."
    ),
    "window_funnel": (
        "Two STACKED windows on the identical spec (one exchange): "
        "pass 1 gives every row its next purchase, pass 2 takes the "
        "first future click CARRYING that struct as payload — the "
        "click fetch-back join disappears."
    ),
    "markov_attribution": (
        "Transitions from one lag pass + per-journey tails (two "
        "windows sharing the user partitioning); the <=49-row matrix "
        "solves driver-side in exact micro-unit integers and the "
        "recursive-CTE oracle replays all 24 steps."
    ),
    "cascade_retrieval_sim": (
        "Corpus-shaped work = 8-byte word scan + absmax scalar + "
        "(grading-only) truth tower; stage-2/3 candidates are "
        "broadcast-id fetches with vec_id pushdown, never corpus "
        "rescans."
    ),
    "hll_merge_rollup": (
        "Per-type registers from one grouped rho cascade; merge is a "
        "register-wise max over the 5x256-bounded frame; the direct "
        "sketch rebuilds from raw hashes — the hash-check proves "
        "merge == rebuild."
    ),
    "wand_pruning_sim": (
        "One tokenize pass feeds tf/df/contributions "
        "(localCheckpoint); upper bounds are a terms-sized broadcast, "
        "theta a 1-row broadcast — the skip verdict never rescans "
        "text."
    ),
    "merge_into_apply": (
        "ONE full-outer join on bare keys resolves all three MERGE "
        "branches; the 50-row insert source and the max-key scalar "
        "ride broadcasts."
    ),
    "sliding_window_hll": (
        "Per-day registers once (localCheckpoint), anchors join a "
        "7-day register RANGE on the day-bounded frame — rolling "
        "distinct without touching the fact table per anchor."
    ),
}

PLANS = os.path.join(ROOT, "PLANS.md")
HEADER = """# PLANS — physical-plan evidence for the flagship queries

Generated with `.explain(formatted)` at sf0.01 (plans are scale-
invariant in shape; AQE may re-pick join strategies from runtime
stats at larger inputs). Regenerate: `python tools/gen_plans.py`; it
rewrites the sections named in its NOTES and keeps the hand-written
ones."""


def section(spark, name: str, note: str) -> str:
    df = QUERIES[name](spark, SF)
    df.count()  # finalize AQE
    p = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    tree, _, details = p.partition("\n\n")
    keep = [
        line
        for line in details.splitlines()
        if line.startswith(("(", "PushedFilters", "PartitionFilters", "Join type"))
        and (
            "Scan parquet" in line
            or line.startswith(("PushedFilters", "PartitionFilters", "Join type"))
        )
    ]
    body = tree.strip() + ("\n\n" + "\n".join(keep) if keep else "")
    return f"## {name}\n\n{note}\n\n```\n{body}\n```"


def splice(text: str, generated: dict[str, str]) -> str:
    """PLANS.md text with the header and each generated section
    replaced where it stands; other sections are kept verbatim and new
    names go at the end."""
    _, *parts = re.split(r"(?m)^(?=## )", text)
    out = [HEADER]
    for part in parts:
        name = part.splitlines()[0][3:].strip()
        out.append(generated.pop(name, part.rstrip("\n")))
    out.extend(generated.values())
    return "\n\n".join(out) + "\n"


def main() -> None:
    spark = get_spark("plans")
    generated = {name: section(spark, name, note) for name, note in NOTES.items()}
    spark.stop()
    text = open(PLANS).read() if os.path.exists(PLANS) else ""
    with open(PLANS, "w") as f:
        f.write(splice(text, generated))


if __name__ == "__main__":
    main()
