"""Physical-plan assertions: the optimizations we design for must
actually appear in the plan (pushdown, broadcast, TakeOrdered, no
Python in JVM-only paths)."""

from __future__ import annotations

from pyspark.sql import functions as F

from rag_system_vector_db_spark.operators import knn
from rag_system_vector_db_spark.plans import analytics
from rag_system_vector_db_spark.registry import QUERIES


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_and_projection_pushdown(spark, sf_dir):
    df = QUERIES["query_entities_filter"](spark, sf_dir)
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "IsNotNull(lang)" in plan or "EqualTo(lang,en)" in plan
    # column pruning: text (the widest column) must not be read
    assert "text" not in plan.split("ReadSchema")[1][:400]


def test_knn_topk_uses_takeordered(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = knn.topk(emb, [0.1] * 64, k=10)
    assert "TakeOrderedAndProject" in _plan(df)  # per-partition k-heap, no full sort


def test_knn_batch_broadcasts_queries(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.limit(5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    plan = _plan(knn.topk_batch(emb, queries, k=5))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan  # corpus must never shuffle for the join


def test_revenue_topn_broadcasts_dims(spark, sf_dir):
    plan = _plan(analytics.revenue_topn(spark, sf_dir))
    assert "BroadcastExchange" in plan  # customer/nation are broadcast
    assert "TakeOrderedAndProject" in plan  # top-N without global sort


def test_pricing_summary_partial_agg(spark, sf_dir):
    plan = _plan(analytics.pricing_summary(spark, sf_dir))
    # map-side combine: partial then final HashAggregate pair
    assert plan.count("HashAggregate") >= 2
    assert "PushedFilters: [" in plan and "LessThanOrEqual(l_shipdate" in plan


def test_dedup_paths_are_jvm_only(spark, sf_dir):
    # no Python UDF nodes in dedup plans — all codegen
    for name in ("dedup_exact", "dedup_minhash_lsh", "dedup_simhash"):
        plan = _plan(QUERIES[name](spark, sf_dir))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_chunking_is_jvm_only(spark, sf_dir):
    plan = _plan(QUERIES["chunk_documents"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q5_pushdown_and_broadcasts(spark, sf_dir):
    plan = _plan(QUERIES["local_supplier_volume"](spark, sf_dir))
    # region + order-year filters reach the scans
    assert "EqualTo(r_name,ASIA)" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    # every dimension joins as a broadcast build side
    assert plan.count("BroadcastHashJoin") >= 4
    # exactly one wide exchange (the final groupBy) besides broadcasts
    assert plan.count("Exchange hashpartitioning") <= 1


def test_tfidf_single_subtree_no_sorts(spark, sf_dir):
    """The scan+explode+tf subtree must appear ONCE (df is an
    unordered count window over tf, not a join-back of a second
    aggregation), and no Sort is global — the df window has no
    orderBy, and the per-doc top-k window sorts within partitions."""
    df = QUERIES["tfidf_top_terms"](spark, sf_dir)
    df.count()  # finalize AQE so the executed plan is the real one
    plan = _plan(df)
    assert plan.count("Generate explode") == 1  # one explode subtree
    assert "Window" in plan
    # the window's partition-local sort is fine; no GLOBAL sort allowed
    for line in plan.splitlines():
        if "Sort [" in line:
            assert ", false, 0" in line  # local sort only


def test_ngram_counts_uses_takeordered(spark, sf_dir):
    plan = _plan(QUERIES["ngram_counts"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_multiprobe_broadcasts_query_side(spark, sf_dir):
    plan = _plan(QUERIES["ann_lsh_multiprobe"](spark, sf_dir))
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan  # corpus never shuffles for the probe join


def test_quality_filters_zero_shuffle(spark, sf_dir):
    """Pure codegen filter gates: no aggregate, no hash exchange —
    the only allowed exchange is the gated small-file round-robin
    split."""
    plan = _plan(QUERIES["quality_filters"](spark, sf_dir))
    assert "HashAggregate" not in plan and "Window" not in plan
    assert "hashpartitioning" not in plan
    assert "EvalPython" not in plan  # JVM-only


def test_contamination_broadcasts_benchmark_side(spark, sf_dir):
    plan = _plan(QUERIES["benchmark_contamination"](spark, sf_dir))
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan  # corpus side must not shuffle-join


def test_repetition_stats_partial_aggs(spark, sf_dir):
    plan = _plan(QUERIES["repetition_stats"](spark, sf_dir))
    # both explode subtrees reduce via partial+final HashAggregate pairs
    assert plan.count("HashAggregate") >= 4


def test_pca_project_is_map_only(spark, sf_dir):
    """Projection against literal basis: no shuffle beyond the gated
    split, no Python workers, embeddings scan prunes the label col."""
    plan = _plan(QUERIES["pca_project"](spark, sf_dir))
    assert "hashpartitioning" not in plan
    assert "EvalPython" not in plan
    assert "label" not in plan.split("ReadSchema")[1][:300]


def test_ivf_cell_assignment_single_distance_subtrees(spark, sf_dir):
    """The argmin must reference the materialized distance array, not
    inline one euclidean tree per comparison branch (the when-chain
    regression: interpreted HOFs get no CSE)."""
    from rag_system_vector_db_spark.operators import ann

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = ann.kmeans_fit_sample(sf_dir)
    plan = _optimized(ann.with_cell(emb, "embedding", cents))
    # one aggregate(zip_with(...)) euclidean per centroid, inside ONE
    # transform over the nested literal -> the distance machinery
    # appears O(1) times, not O(k) or O(2^k)
    assert plan.count("zip_with") <= 2


def test_fuzzy_edit_no_theta_join(spark, sf_dir):
    """PassJoin candidate generation must be equi-joins only — a
    CartesianProduct / BroadcastNestedLoop here means the blocking
    regressed to all-pairs."""
    plan = _plan(QUERIES["dedup_fuzzy_edit"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_incremental_dedup_no_theta_join(spark, sf_dir):
    """New-vs-base layers are equi-joins on hash/band keys; raw text
    must never be a join key (only md5 keys cross the shuffle)."""
    plan = _plan(QUERIES["incremental_dedup"](spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_lm_perplexity_single_scan(spark, sf_dir):
    """The tokenize subtree must plan exactly once (vocab via window,
    total via the logp decomposition)."""
    plan = _plan(QUERIES["lm_perplexity"](spark, sf_dir))
    assert plan.count("FileScan") == 1


def test_matryoshka_single_corpus_scan(spark, sf_dir):
    """All dims are served by one corpus scan: the dim axis explodes
    on the broadcast query side. (The query-side scan of the same
    parquet is separate and tiny.)"""
    plan = _plan(QUERIES["matryoshka_recall"](spark, sf_dir))
    assert plan.count("FileScan") <= 3
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_quality_classifier_map_only_single_scan(spark, sf_dir):
    """Learned scorer is one scan + one partial/final agg pair: the
    weight lookup is a literal array element_at — no join, no Python."""
    plan = _plan(QUERIES["quality_classifier"](spark, sf_dir))
    assert plan.count("FileScan") == 1
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("HashAggregate") >= 2  # map-side combine


def test_hard_negative_mining_no_theta_join(spark, sf_dir):
    """Candidates come from the bucket equi-self-join only — a
    CartesianProduct / BroadcastNestedLoop here means the mining
    regressed to all-pairs."""
    plan = _plan(QUERIES["hard_negative_mining"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cluster_purity_no_joins_two_agg_levels(spark, sf_dir):
    """Assignment is broadcast-literal math (no join against a
    centroid table); purity reduces via (cell,label) then cell aggs,
    both map-side combinable."""
    plan = _plan(QUERIES["cluster_purity"](spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Aggregate") >= 4  # two partial/final pairs (hash or object)


def test_ivf_probe_sweep_single_cell_join(spark, sf_dir):
    """Every nprobe budget is served by ONE equi cell join (the budget
    axis is an exploded column); only the exact-baseline tower may use
    the broadcast nested-loop shape."""
    plan = _plan(QUERIES["ivf_probe_sweep"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    # at most two nested-loop towers: the exact brute-force baseline
    # (corpus x broadcast queries — intended) and the trivial
    # queries-x-budgets grid cross (n_q x max_nprobe rows). The sweep
    # itself joins cells equi-style. Raw FileScan counts also include
    # re-planned scans of the tiny query side, so they are not a good
    # proxy for corpus passes — the BNLJ count is.
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_skew_profile_approx_path_runs(spark, sf_dir):
    """The exact_quantiles=False scale path (approx_percentile sketch)
    must execute and stay within sketch error of the exact default —
    otherwise the documented 100 TB swap-in is dead code."""
    from rag_system_vector_db_spark.plans.analytics import skew_profile

    exact = skew_profile(spark, sf_dir).first()
    approx = skew_profile(spark, sf_dir, exact_quantiles=False).first()
    assert approx.n_keys == exact.n_keys and approx.n_rows == exact.n_rows
    for col in ("p50_cnt", "p90_cnt", "p99_cnt"):
        e, a = getattr(exact, col), getattr(approx, col)
        # 10k-bucket sketch on per-key counts: tight but not exact
        assert abs(a - e) <= max(2, 0.05 * e), (col, e, a)
    assert approx.skew_ratio == exact.skew_ratio


def test_quantile_family_approx_paths(spark, sf_dir):
    """Every member of the exact-selection quantile family carries the
    same parameterized scale path as skew_profile
    (``exact_quantiles=False`` → percentile_approx, bounded state):
    the approx path must return the exact schema and land within
    sketch error of the exact default — otherwise the documented
    100 TB swap-in is dead code."""
    specs = [
        # (name, approx-tolerant float cols, exact-match cols)
        ("quantile_stats", ("p25", "p50", "p75", "p95"), ()),
        ("grouped_latency_slo", ("p50", "p95", "p99"), ("n", "p_max", "slo_attainment")),
        # n_trimmed is fence-derived in the approx path, so it is
        # itself sketch-approximate
        ("trimmed_mean_stats", ("trimmed_mean", "n_trimmed"), ("n", "mean")),
        ("conversion_latency", ("median_latency_ms", "p90_latency_ms"),
         ("n_view_users", "n_converted", "conversion_rate")),
        ("quantile_confidence_bands", ("ci_lo", "estimate", "ci_hi"), ("n",)),
    ]
    for name, approx_cols, exact_cols in specs:
        fn = QUERIES[name]
        e_df = fn(spark, sf_dir)
        a_df = fn(spark, sf_dir, exact_quantiles=False)
        assert a_df.columns == e_df.columns, name
        key_cols = [c for c in e_df.columns if c not in approx_cols + exact_cols]
        e_rows = {tuple(r[c] for c in key_cols): r for r in e_df.collect()}
        a_rows = {tuple(r[c] for c in key_cols): r for r in a_df.collect()}
        assert set(a_rows) == set(e_rows), name
        for k, er in e_rows.items():
            ar = a_rows[k]
            for c in exact_cols:
                assert ar[c] == er[c], (name, k, c, er[c], ar[c])
            for c in approx_cols:
                ev, av = float(er[c]), float(ar[c])
                # 10k-accuracy sketch: rank error <= n/10000, so value
                # error is distribution-dependent. The absolute slack
                # scales with the exact column's own value RANGE (a
                # fixed 2.0 was vacuous for ~1.0-scale latency columns
                # — ADVICE r6), so the check binds at every unit.
                col_vals = [float(r[c]) for r in e_rows.values()]
                col_range = max(col_vals) - min(col_vals)
                tol = max(0.05 * abs(ev), 0.05 * col_range, 1e-6)
                assert abs(av - ev) <= tol, (name, k, c, ev, av, tol)


def test_equidepth_histogram_approx_path(spark, sf_dir):
    """The approx equi-depth path replaces the per-type ntile full
    sort with sketch edges + a map-side bin assignment: same schema,
    deciles form a consecutive 1..k run per type (k == 10 on
    continuous values; k < 10 only when tied sketch edges collapse
    bins — ADVICE r6), per-bin counts within sketch error of equal
    depth when no bins collapsed, and the plan must carry NO window
    exchange sort (the scale motivation)."""
    fn = QUERIES["events_histogram_equidepth"]
    e_df = fn(spark, sf_dir)
    a_df = fn(spark, sf_dir, exact_quantiles=False)
    assert a_df.columns == e_df.columns
    rows = a_df.collect()
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for et, rs in by_type.items():
        ds = sorted(x.decile for x in rs)
        assert ds == list(range(1, len(ds) + 1)), (et, ds)  # no holes, ever
        n_tot = sum(x.n for x in rs)
        if len(ds) == 10:  # no tie-collapsed bins: depth check binds
            for x in rs:
                assert abs(x.n - n_tot / 10) <= max(5, 0.25 * n_tot / 10), (
                    et,
                    x.decile,
                    x.n,
                )
        # bins are value-ordered: lo/hi envelopes must be monotone
        ordered = sorted(rs, key=lambda x: x.decile)
        for a, b in zip(ordered, ordered[1:]):
            assert a.hi <= b.hi and a.lo <= b.lo, (et, a.decile)
    assert "Window" not in _plan(a_df)


def test_equidepth_histogram_approx_tied_values(spark, tmp_path):
    """Regression for the tied-edge regime (ADVICE r6): a value column
    with only 2 distinct values per type produces tied sketch edges;
    the distinct-edge assignment must collapse bins (consecutive ids,
    every row binned) instead of skipping decile ids."""
    import pandas as pd

    p = str(tmp_path)
    rows = []
    for i in range(300):
        rows.append(
            (
                i,
                pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=i),
                i % 40,
                "click" if i % 2 else "view",
                1.0 if i % 3 else 2.0,  # 2 distinct values -> 8 tied edges
                "{}",
            )
        )
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf.to_parquet(f"{p}/events.parquet")
    out = QUERIES["events_histogram_equidepth"](spark, p, exact_quantiles=False).collect()
    by_type: dict = {}
    for r in out:
        by_type.setdefault(r.event_type, []).append(r)
    assert set(by_type) == {"click", "view"}
    for et, rs in by_type.items():
        ds = sorted(x.decile for x in rs)
        assert ds == list(range(1, len(ds) + 1)), (et, ds)
        assert len(ds) <= 2  # two distinct values can fill at most 2 bins
        assert sum(x.n for x in rs) == 150  # every row lands in a bin


def test_volume_shipping_pushdown_and_role_broadcasts(spark, sf_dir):
    """Q7 shape: ship-date range reaches the lineitem scan; both
    25-row nation role tables broadcast; no theta join."""
    plan = _plan(QUERIES["volume_shipping"](spark, sf_dir))
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert plan.count("BroadcastExchange") >= 2  # both nation roles
    assert "CartesianProduct" not in plan


def test_discounted_revenue_pushes_hulls_to_both_scans(spark, sf_dir):
    """Q19 shape: the hand-stated per-side hulls must reach the scans
    (the OR spans both sides, so without them nothing pushes) — brand
    IN on part, quantity envelope on lineitem."""
    plan = _plan(QUERIES["discounted_revenue"](spark, sf_dir))
    assert "In(p_brand" in plan
    assert "GreaterThanOrEqual(l_quantity,1" in plan
    assert "LessThanOrEqual(l_quantity,30" in plan
    assert "CartesianProduct" not in plan


def test_shipping_priority_pushdown_and_takeordered(spark, sf_dir):
    """Q3 shape: both date filters and the segment filter reach their
    scans; top-N is TakeOrdered, not a global sort."""
    plan = _plan(QUERIES["shipping_priority"](spark, sf_dir))
    assert "LessThan(o_orderdate" in plan
    assert "GreaterThan(l_shipdate" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_revenue_forecast_all_predicates_pushed_no_shuffle_join(spark, sf_dir):
    """Q6 shape: date range, discount box and quantity cap all reach
    PushedFilters; the plan has no join at all."""
    plan = _plan(QUERIES["revenue_forecast"](spark, sf_dir))
    # PushedFilters renders truncated in toString; the DataFilters
    # mirror proves scan-level evaluation of every predicate
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert "(l_discount" in plan and "(l_quantity" in plan
    assert "(l_shipdate" in plan
    assert "Join" not in plan


def test_returned_items_pushdown_and_nation_broadcast(spark, sf_dir):
    """Q10 shape: quarter filter on orders, returnflag on lineitem,
    nation broadcast, TakeOrdered top-20."""
    plan = _plan(QUERIES["returned_items"](spark, sf_dir))
    assert "EqualTo(l_returnflag,R)" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "BroadcastExchange" in plan
    assert "TakeOrderedAndProject" in plan


def test_market_share_role_dims_and_part_prune(spark, sf_dir):
    """Q8 shape: part-type predicate reaches the part scan, order-date
    range the orders scan; customer-side region restriction and the
    supplier-side nation role both ride broadcasts."""
    plan = _plan(QUERIES["market_share"](spark, sf_dir))
    assert "EqualTo(p_type,ECONOMY)" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert plan.count("BroadcastExchange") >= 2
    assert "CartesianProduct" not in plan


def test_cdc_apply_single_agg_no_window(spark, sf_dir):
    """The changelog fold must be ONE map-side-combinable groupBy —
    no window (sort) over the raw log, no self-join."""
    plan = _plan(QUERIES["cdc_apply"](spark, sf_dir))
    assert "Window" not in plan
    assert "Join" not in plan
    assert "partial_max_by" in plan or "partial_" in plan  # map-side combine


def test_q22_anti_join_and_scalar_broadcast(spark, sf_dir):
    """global_sales_opportunity: the no-orders check must be a LEFT
    ANTI (never a distinct + outer join), the scalar average a
    broadcast, and the orders side must cross as bare keys."""
    plan = _plan(QUERIES["global_sales_opportunity"](spark, sf_dir))
    assert "LeftAnti" in plan
    assert "BroadcastExchange" in plan
    read = plan.split("ReadSchema")
    orders_read = [s for s in read[1:] if "o_custkey" in s[:300]]
    assert orders_read and all(
        "o_totalprice" not in s[:300] for s in orders_read
    ), "orders scan must project o_custkey only"


def _limit_before_exchange(plan: str) -> bool:
    """A partial WindowGroupLimit sits below a hash exchange that a
    final WindowGroupLimit reads (the printed tree runs top-down)."""
    lines = plan.splitlines()
    at = [i for i, ln in enumerate(lines) if "WindowGroupLimit" in ln and "Partial" in ln]
    return any(
        any("Exchange hashpartitioning" in ln for ln in lines[:i])
        and any("WindowGroupLimit" in ln and "Final" in ln for ln in lines[:i])
        for i in at
    )


def test_topk_limits_rows_before_the_exchange(spark, sf_dir):
    """knn.topk_per_key plans a partial WindowGroupLimit below the
    exchange, so each map partition ships at most k rows per key."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.limit(5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    frames = {
        "group_reservoir_sample": QUERIES["group_reservoir_sample"](spark, sf_dir),
        "priority_sample": QUERIES["priority_sample"](spark, sf_dir),
        "knn.topk_batch": knn.topk_batch(emb, queries, k=5),
    }
    for name, df in frames.items():
        df.collect()  # the final adaptive plan
        assert _limit_before_exchange(_plan(df)), name


def _shuffle_bytes_written(df) -> int:
    """Bytes the executed plan's shuffle exchanges wrote (SQL metrics)."""
    df.collect()

    def walk(node):
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            yield from walk(node.executedPlan())
            return
        if name.endswith("QueryStageExec"):
            yield from walk(node.plan())
            return
        if name == "ShuffleExchangeExec":
            yield node.metrics().apply("shuffleBytesWritten").value()
        kids = node.children()
        for i in range(kids.length()):
            yield from walk(kids.apply(i))

    return sum(walk(df._jdf.queryExecution().executedPlan()))


def test_topk_batch_shuffle_is_bounded_by_k_not_corpus(spark):
    """topk_batch's shuffle scales with k × queries × map partitions,
    not with corpus rows. The bound is 64 bytes per surviving row; a
    collect_list top-k ships every scored pair (0.8 MB at 2,000 rows
    and 3.5 MB at 8,000 rows here)."""
    parts, n_queries, k = 4, 20, 3
    corpus = spark.range(0, 4000, 1, parts).selectExpr(
        "id AS vec_id", "transform(sequence(1, 8), i -> sin((id + 1) * i)) AS embedding"
    )
    queries = spark.range(0, n_queries, 1, 1).selectExpr(
        "id AS query_id", "transform(sequence(1, 8), i -> cos(id * i)) AS query_vec"
    )
    written = _shuffle_bytes_written(knn.topk_batch(corpus, queries, k=k))
    assert 0 < written <= 64 * k * n_queries * parts


def test_zorder_is_codegen_single_shuffle(spark, sf_dir):
    """The Morton interleave must stay inside whole-stage codegen with
    exactly one exchange (the per-block rollup)."""
    df = QUERIES["zorder_layout"](spark, sf_dir)
    plan = _plan(df)
    # the interleave is pure shiftright/&/* arithmetic in a Project —
    # JVM codegen territory, never a Python eval node
    assert "shiftright" in plan
    assert plan.count("Exchange") <= 2  # partial->final agg exchange only
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bpe_counts_vocab_first(spark, sf_dir):
    """bpe_pair_counts: two partial/final agg pairs (vocab, then pair
    counts) and a TakeOrdered top-20 — never a global sort of pairs."""
    plan = _plan(QUERIES["bpe_pair_counts"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 4
    assert "TakeOrderedAndProject" in plan


def test_compaction_window_is_per_source(spark, sf_dir):
    plan = _plan(QUERIES["compaction_plan"](spark, sf_dir))
    assert "Window" in plan
    assert "partitionspec=[source" in plan.replace(" ", "").lower() or (
        "PartitionBy: [source" in plan or "source" in plan.split("Window")[1][:200]
    )


def test_pagerank_shuffles_longs_only(spark, sf_dir):
    """knn_graph_pagerank: no Python eval anywhere, and the iteration
    must not re-derive edges per round (lazy localCheckpoint caps the
    lineage — the plan shows scan-of-checkpoint, not three LSH
    self-joins)."""
    df = QUERIES["knn_graph_pagerank"](spark, sf_dir)
    plan = _plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("ExistingRDD") >= 1 or "Scan ExistingRDD" in plan


def test_kmeans_assignment_is_shuffle_free(spark, sf_dir):
    """kmeans_refine: per-round assignment must be a broadcast
    crossJoin + codegen array-argmin — no SortMergeJoin, no Window;
    the only exchanges are the tiny (cid, pos) mean rollups."""
    plan = _plan(QUERIES["kmeans_refine"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_curation_pipeline_single_scan(spark, sf_dir):
    """The funnel must be ONE corpus scan + one window shuffle + one
    rollup — the null-skipping window-min keeper trick keeps base and
    kept stats on a single frame (two scans means the trick
    regressed to a split-and-join)."""
    df = QUERIES["curation_pipeline"](spark, sf_dir)
    df.count()
    plan = _plan(df)
    assert plan.count("FileScan") == 1
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "EvalPython" not in plan


def test_salted_join_salts_the_key(spark, sf_dir):
    """The join must run on (key, _salt) — a plain key join means the
    salting was optimized away and the hot-key spread is gone."""
    df = QUERIES["salted_join_topn"](spark, sf_dir)
    plan = _plan(df)
    assert "_salt" in plan
    assert "xxhash64" in plan  # fact-side deterministic salt derivation


def test_triangle_count_equi_joins_only(spark, sf_dir):
    plan = _plan(QUERIES["triangle_count"](spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_lineitem_priority_mix_pushdown_and_narrow_order_side(spark, sf_dir):
    """Q12 shape: the ship-year range reaches the lineitem scan, the
    orders side crosses its exchange with the priority CASE already
    collapsed to a boolean (no o_orderpriority string on the wire)."""
    plan = _plan(QUERIES["lineitem_priority_mix"](spark, sf_dir))
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_shipdate" in plan
    assert "_critical" in plan  # CASE projected before the join
    assert "CartesianProduct" not in plan


def test_train_test_split_single_scan(spark, sf_dir):
    """Split audit: one documents scan reading only (doc_id, text,
    source) feeds the whole stratified rollup."""
    plan = _plan(QUERIES["train_test_split"](spark, sf_dir))
    assert plan.count("FileScan parquet") == 1
    schema = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "doc_id" in schema and "text" in schema and "source" in schema
    assert "lang" not in schema and "n_chars" not in schema


def test_lang_confusion_single_scan_no_self_join(spark, sf_dir):
    """Confusion matrix: the prediction is recomputed inline — ONE
    corpus scan, no join of the classifier output back to the docs."""
    plan = _plan(QUERIES["lang_confusion"](spark, sf_dir))
    assert plan.count("FileScan parquet") == 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_pmi_collocations_takeordered_vocab_joins(spark, sf_dir):
    """PMI: top-k is sort-limit (TakeOrdered), never a global sort of
    the candidate frame; totals ride a broadcast."""
    plan = _plan(QUERIES["pmi_collocations"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_ann_binary_hamming_integer_kernel_and_broadcast_query(spark, sf_dir):
    """Binary index: the query words ride a broadcast; top-k is
    sort-limit; no Python appears anywhere in the plan."""
    plan = _plan(QUERIES["ann_binary_hamming"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Python" not in plan


def test_ann_sq8_scalar_broadcasts(spark, sf_dir):
    """SQ8: absmax scalar and query codes both ride broadcasts; top-k
    is sort-limit."""
    plan = _plan(QUERIES["ann_sq8"](spark, sf_dir))
    assert plan.count("BroadcastExchange") >= 2
    assert "TakeOrderedAndProject" in plan
    assert "Python" not in plan


def test_revenue_cube_single_agg_pass(spark, sf_dir):
    """CUBE: one Expand feeds one aggregation — all four grains from a
    single fact pass, nation broadcast."""
    plan = _plan(QUERIES["revenue_cube"](spark, sf_dir))
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 4  # lineitem, orders, customer, nation
    assert "BroadcastExchange" in plan


def test_events_ewma_single_window_shuffle(spark, sf_dir):
    """EWMA FIR: the 16 lag taps share ONE window sort — exactly one
    exchange for the hourly rollup plus the window's (same-key, AQE
    may reuse); no per-tap shuffles."""
    plan = _plan(QUERIES["events_ewma"](spark, sf_dir))
    assert plan.count("Window") == 1
    assert plan.count("Exchange hashpartitioning") <= 2


def test_token_entropy_map_only(spark, sf_dir):
    """Entropy is a pure scan job: no hash exchange, no agg — the only
    Exchange is load_table's round-robin parallelism split."""
    plan = _plan(QUERIES["token_entropy"](spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan
    assert "HashAggregate" not in plan and "Window" not in plan
    assert plan.count("FileScan parquet") == 1


def test_incremental_agg_merge_single_scan_subtrees(spark, sf_dir):
    """Merge == rebuild: base/delta aggs are map-side combinable
    (partial_count/sum before the exchange) and the split point rides
    a broadcast, not a driver action."""
    plan = _plan(QUERIES["incremental_agg_maintenance"](spark, sf_dir))
    assert "partial_count" in plan or "partial count" in plan.lower()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_qlm_bucket_pruned(spark, sf_dir):
    """QLM serves from the same pruned postings layout as BM25."""
    plan = _plan(QUERIES["qlm_dirichlet_topk"](spark, sf_dir))
    assert "PartitionFilters: [" in plan
    assert any("bucket" in seg[:160] for seg in plan.split("PartitionFilters")[1:])
    assert "TakeOrderedAndProject" in plan


def test_rerank_two_stage_candidates_broadcast(spark, sf_dir):
    """Stage-2 reranking joins the ≤depth candidate set as a broadcast
    onto documents — the corpus is never shuffled for the rerank."""
    plan = _plan(QUERIES["rerank_two_stage"](spark, sf_dir))
    assert "BroadcastExchange" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Python" not in plan


def test_skipgram_pairs_map_only(spark, sf_dir):
    """Sample generation is a pure scan job like mlm/span: no hash
    exchange, no aggregate, one documents scan."""
    plan = _plan(QUERIES["skipgram_pairs"](spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan
    assert "HashAggregate" not in plan
    assert plan.count("FileScan parquet") == 1


def test_session_paths_two_fact_shuffles(spark, sf_dir):
    """Sessionize window + session rollup are the only fact-sized
    exchanges; path ranking runs on the reduced path frame."""
    plan = _plan(QUERIES["session_paths"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "TakeOrderedAndProject" in plan


def test_bpe_train_rounds_vocab_sized_iteration(spark, sf_dir):
    """Only the word-count groupBy touches the corpus; both merge
    rounds run over the checkpointed vocab frame."""
    plan = _plan(QUERIES["bpe_train_rounds"](spark, sf_dir))
    assert plan.count("FileScan parquet") <= 1  # corpus scanned at most once live
    assert "BroadcastExchange" in plan  # argmax pair broadcast


def test_sql_interface_parity_with_dataframe_api(spark, sf_dir):
    """The SQL surface is first-class: the SAME ANSI text the DuckDB
    oracle runs (Q6 shape) executes on Spark via spark.sql over the
    registered views and returns exactly what the DataFrame-API
    operator returns — a user can drive this engine with SQL strings
    alone."""
    from rag_system_vector_db_spark.registry import ORACLES
    from rag_system_vector_db_spark.sources import register_views

    register_views(spark, sf_dir)
    sql_rows = spark.sql(ORACLES["revenue_forecast"]).collect()
    df_rows = QUERIES["revenue_forecast"](spark, sf_dir).collect()
    assert [tuple(r) for r in sql_rows] == [tuple(r) for r in df_rows]


def test_layout_skipping_prunes_columns(spark, sf_dir):
    """The zone-map advisor reads only the three columns it needs —
    never the full lineitem width."""
    plan = _plan(QUERIES["layout_skipping_compare"](spark, sf_dir))
    rs = plan.split("ReadSchema")[1][:400]
    assert "l_orderkey" in rs and "l_shipdate" in rs
    assert "l_comment" not in rs and "l_extendedprice" not in rs


def test_bm25_grid_single_corpus_scan_per_side(spark, sf_dir):
    """The (k1,b) grid must ride a broadcast join at the scoring agg —
    the plan may scan documents for tf and for corpus stats, but the
    grid itself must never trigger an extra documents scan."""
    plan = _plan(QUERIES["bm25_tuning_grid"](spark, sf_dir))
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert plan.count("FileScan parquet") <= 3  # tf pass + stats pass (+split)


def test_mann_whitney_pushes_type_filter(spark, sf_dir):
    """The two-sample filter must reach the parquet scan."""
    plan = _plan(QUERIES["mann_whitney_u"](spark, sf_dir))
    assert "PushedFilters: [" in plan
    assert "In(event_type" in plan or "EqualTo(event_type" in plan


def test_decayed_topk_partial_agg(spark, sf_dir):
    """The (type, day) rollup must map-side combine before the
    exchange."""
    plan = _plan(QUERIES["events_decayed_topk"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 2


def test_classifier_eval_broadcasts_queries_not_corpus(spark, sf_dir):
    """The kNN eval must broadcast the (small) test side; the train
    corpus must not be shuffled into a sort-merge join for scoring."""
    plan = _plan(QUERIES["knn_classifier_eval"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_snippet_text_fetch_is_winners_only(spark, sf_dir):
    """documents.text must be read only on the top-10 join branch —
    the hit-position pipeline reads (doc_id, text->split) once and the
    final text fetch joins 10 rows back."""
    df = QUERIES["snippet_extraction"](spark, sf_dir)
    assert df.count() <= 10


# --- r5 continuation waves: vector-search completion, product
# analytics, feature-store / sketch / planning ---


def test_range_search_is_map_only(spark, sf_dir):
    """Range search has no reduction at all: broadcast query side, one
    corpus pass, a plain filter — no exchange, no aggregate."""
    plan = _plan(QUERIES["knn_range_search"](spark, sf_dir))
    assert "Broadcast" in plan
    assert "hashpartitioning" not in plan
    assert "HashAggregate" not in plan and "Window" not in plan
    assert "EvalPython" not in plan


def test_post_filter_recall_single_corpus_pass(spark, sf_dir):
    """Both k-sets come from ONE scored pass: one bounded top-k per
    (query, label match) with its limit before the exchange, and the
    corpus parquet is scanned at most twice (query side + corpus
    side), never once per ranking."""
    df = QUERIES["post_filter_recall"](spark, sf_dir)
    plan = _plan(df)
    assert _limit_before_exchange(plan)
    assert plan.count("Scan parquet") <= 2
    assert "EvalPython" not in plan


def test_fim_transform_zero_shuffle(spark, sf_dir):
    """Map-only sample generation: no aggregate, no window, no hash
    exchange (the gated small-file round-robin split is the only
    allowed exchange), JVM-only."""
    plan = _plan(QUERIES["fim_transform"](spark, sf_dir))
    assert "hashpartitioning" not in plan
    assert "HashAggregate" not in plan and "Window" not in plan
    assert "EvalPython" not in plan


def test_pit_feature_join_has_no_join(spark, sf_dir):
    """The point-in-time lookup is union-tag + ONE running window —
    no interval join operator anywhere in the plan."""
    plan = _plan(QUERIES["pit_feature_join"](spark, sf_dir))
    assert "Window" in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan


def test_window_funnel_single_window_pass(spark, sf_dir):
    """Both next-step lookups are STACKED windows on one spec (one
    exchange, no click fetch-back join): exactly the two user-keyed
    Window ops plus the 4-row share window, and the only join left is
    the all-users LEFT JOIN on bare ids."""
    plan = _plan(QUERIES["window_funnel"](spark, sf_dir))
    assert plan.count("Window [") == 3
    assert plan.count("windowspecdefinition(user_id") == 2
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan


def test_position_bias_broadcasts_slot_baselines(spark, sf_dir):
    plan = _plan(QUERIES["position_bias_coec"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan


def test_quantile_sketch_broadcast_stats(spark, sf_dir):
    """The 5-row per-type stats frame broadcasts back onto the scan;
    the histogram groupBy is map-side combinable (partial agg)."""
    plan = _plan(QUERIES["histogram_quantile_sketch"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "partial" in plan.lower()
    assert "EvalPython" not in plan


def test_trigram_fuzzy_broadcasts_query_terms(spark, sf_dir):
    plan = _plan(QUERIES["trigram_fuzzy_match"](spark, sf_dir))
    assert "Broadcast" in plan
    assert "EvalPython" not in plan


def test_cascade_bounded_corpus_passes(spark, sf_dir):
    """The cascade's corpus-shaped work is exactly the word scan, the
    absmax scalar agg and the (grading-only) truth tower; the other
    file scans are vec_id=0 query-row fetches whose pushdown makes
    them point reads. Stage-2/3 candidate work must not add corpus
    rescans: total file scans stay bounded and none are Python."""
    plan = _plan(QUERIES["cascade_retrieval_sim"](spark, sf_dir))
    assert plan.count("Scan parquet") <= 8
    # the query-side fetches keep their vec_id pushdown
    assert "EqualTo(vec_id,0)" in plan
    assert "EvalPython" not in plan


def test_sliding_hll_register_join_bounded(spark, sf_dir):
    """The 7-day merge joins ANCHORS against the day-bounded register
    frame — the fact table appears only under the two distinct
    passes, and no Python touches the path."""
    plan = _plan(QUERIES["sliding_window_hll"](spark, sf_dir))
    assert "EvalPython" not in plan


def test_moe_router_map_side(spark, sf_dir):
    plan = _plan(QUERIES["moe_router_balance"](spark, sf_dir))
    assert "EvalPython" not in plan
    assert "partial" in plan.lower()  # map-side combine on the expert rollup


def test_textrank_vocab_sized_iteration(spark, sf_dir):
    """All three power-iteration joins run on the checkpointed
    vocabulary-sized edge frame — the corpus tokenize appears once,
    not once per round."""
    df = QUERIES["textrank_keywords"](spark, sf_dir)
    plan = _plan(df)
    # the corpus scan feeds the single checkpointed edge build; the
    # iteration rounds must reference the checkpoint, not re-scan
    assert plan.count("Scan parquet") <= 1
    assert "EvalPython" not in plan
