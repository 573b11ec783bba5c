"""Value-demonstration properties for the layout / sampling / graph
operators — the *why* behind the plans: Z-order's tile bound, the
compaction packer's bin invariant, PageRank's baseline floor, and the
weighted sampler's size bias. (Cross-engine equality is covered by
the oracle-parity suite; these pin the semantic guarantees.)"""

from __future__ import annotations

from pyspark.sql import functions as F

from rag_system_vector_db_spark.registry import QUERIES


def test_zorder_blocks_are_tiles(spark, sf_dir):
    """1024 consecutive Morton codes on an aligned boundary cover
    exactly a 32x32 tile, so EVERY block bounds both key spans at 31 —
    this is the pruning guarantee: a predicate on either column skips
    any block whose 32-wide range misses it. A single-key sort gives
    span 0 on the sort key but up to the full 1023 on the other."""
    rows = QUERIES["zorder_layout"](spark, sf_dir).collect()
    assert rows, "no blocks"
    assert max(r.x_span for r in rows) <= 31
    assert max(r.y_span for r in rows) <= 31
    # tile corners align: min_x/min_y of every block sit on the grid
    for r in rows:
        assert r.min_x // 32 == r.max_x // 32
        assert r.min_y // 32 == r.max_y // 32


def test_compaction_bins_respect_target(spark, sf_dir):
    """First-fit by running size: every bin except a source's last
    must have crossed the 4096 target only with its final file (the
    greedy invariant), and no bin is empty."""
    rows = QUERIES["compaction_plan"](spark, sf_dir).collect()
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    for src, bins in by_src.items():
        bins.sort(key=lambda r: r.bin)
        assert all(b.n_files >= 1 for b in bins)
        # bins are consecutive from 0 (prefix-sum assignment is dense)
        assert [b.bin for b in bins] == list(range(len(bins)))
        # every non-final bin ends because the next file would overflow:
        # its size is >= target - (max single file ~553 chars)
        for b in bins[:-1]:
            assert b.bin_chars >= 4096 - 553


def test_pagerank_floor_and_isolated_nodes(spark, sf_dir):
    """Simplified PageRank keeps pr >= 0.15 everywhere; a node with no
    in-edges stays exactly at the 0.15 baseline through every round."""
    pr = {r.vec_id: r.pagerank for r in QUERIES["knn_graph_pagerank"](spark, sf_dir).collect()}
    assert pr and min(pr.values()) >= 0.15
    edges = QUERIES["knn_graph_lsh"](spark, sf_dir).select("dst").distinct().collect()
    with_in = {r.dst for r in edges}
    no_in = set(pr) - with_in
    assert no_in, "test data should have some in-degree-0 nodes"
    assert all(abs(pr[v] - 0.15) < 1e-9 for v in no_in)


def test_mutual_knn_is_symmetric_subset(spark, sf_dir):
    """Every mutual pair appears in BOTH directions of the kNN graph,
    and pairs are emitted once with id_a < id_b."""
    pairs = QUERIES["mutual_knn"](spark, sf_dir).collect()
    edges = {
        (r.src, r.dst) for r in QUERIES["knn_graph_lsh"](spark, sf_dir).collect()
    }
    assert pairs
    for p in pairs:
        assert p.id_a < p.id_b
        assert (p.id_a, p.id_b) in edges and (p.id_b, p.id_a) in edges


def test_priority_sample_prefers_heavy_docs(spark, sf_dir):
    """PPSWOR with weight = n_chars: the sampled docs' mean size must
    exceed the corpus mean (deterministic on the fixed md5 draws)."""
    sampled = QUERIES["priority_sample"](spark, sf_dir).agg(
        F.avg("n_chars").alias("m")
    ).collect()[0].m
    corpus = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .agg(F.avg("n_chars").alias("m"))
        .collect()[0]
        .m
    )
    assert sampled > corpus


def test_reservoir_sample_is_stable_under_deletion(spark, sf_dir):
    """The reservoir property: dropping a non-sampled doc never
    changes the sample (hash priorities are per-row, not positional)."""
    full = {
        (r.source, r.doc_id)
        for r in QUERIES["group_reservoir_sample"](spark, sf_dir).collect()
    }
    sampled_ids = {d for _, d in full}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    victim = (
        docs.filter(~F.col("doc_id").isin(list(sampled_ids)))
        .select("doc_id")
        .first()
        .doc_id
    )
    from rag_system_vector_db_spark.functions import hashing as H
    from rag_system_vector_db_spark.operators import knn

    scored = docs.filter(F.col("doc_id") != victim).select(
        "source",
        "doc_id",
        F.expr(H.md5_long("CAST(doc_id AS STRING)", "rsv")).alias("_pri"),
    )
    again = {
        (r.source, r.doc_id)
        for r in knn.topk_per_key(
            scored, "source", "doc_id", 5, score_col="_pri", asc=True
        ).collect()
    }
    assert again == full
