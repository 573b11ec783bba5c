"""General OLAP plans over the TPC-H-ish tables — the engine-generality
headliners for bench.

Money aggregates go through DECIMAL(18,2) so parallel summation is
exact and order-independent (identical in Spark and DuckDB regardless
of partitioning), then cast to double for a stable output schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import emit_micro, to_micro
from ..functions.vector import lit_array
from ..sources import load_table


def _dec(col, p: int = 18, s: int = 2):
    return F.col(col).cast(f"decimal({p},{s})")


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy multi-agg groupBy. Filter pushes to
    parquet; all aggs map-side combinable; two-column group key."""
    li = load_table(spark, sf_dir, "lineitem")
    # Narrow decimal factors keep every product within decimal(38,_)
    # in both engines, so sums stay exact and order-independent. The
    # EMISSION is the two-step double(exact integer units) / 10^s on
    # both engines (r8): Spark's decimal->double is correctly rounded
    # while DuckDB's divides double(mantissa) by 10^scale — one ulp
    # apart once the scaled mantissa exceeds 2^53 (sum_charge at the
    # derived sf1: 2.8e16 micro-units). Converting the INTEGER is
    # correctly rounded in both engines; the final /10^s is then one
    # identical double op.
    disc = F.lit(1).cast("decimal(3,2)") - _dec("l_discount", 3, 2)
    charge = _dec("l_extendedprice") * disc * (F.lit(1).cast("decimal(3,2)") + _dec("l_tax", 3, 2))
    def emit(sum_col, scale):
        u = (sum_col * F.lit(10 ** scale)).cast("decimal(38,0)")
        return u.cast("double") / F.lit(float(10 ** scale))
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            emit(F.sum(_dec("l_extendedprice")), 2).alias("sum_base_price"),
            emit(F.sum(_dec("l_extendedprice") * disc), 4).alias("sum_disc_price"),
            emit(F.sum(charge), 6).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def revenue_topn(spark: SparkSession, sf_dir: str, n: int = 10) -> DataFrame:
    """Join-heavy: lineitem ⋈ orders ⋈ customer ⋈ nation, revenue per
    customer, top-N. Dimensions broadcast; the fact tables join on
    their natural keys and AQE picks the physical strategy."""
    # NO split here: the join's own exchange on l_orderkey already
    # redistributes to full parallelism, so a round-robin repartition
    # of the fact table is a wasted extra shuffle — measured 2x slower
    # at both sf0.1 and the derived sf1 (r6 scaling study). split=True
    # is for map-heavy per-row work, not shuffle-join shapes.
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(3,2)") - _dec("l_discount", 3, 2))
    per_cust = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum(rev).alias("revenue_d"))
    )
    # customer scales with SF (15B rows at the 100 TB posture), so it
    # gets no forced broadcast — AQE promotes the join at runtime when
    # the table is actually small. nation is fixed 25 rows: safe hint.
    return (
        per_cust.join(cust, per_cust.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(
            F.col("c_custkey"),
            F.col("c_name"),
            F.col("n_name"),
            F.col("revenue_d"),
        )
        .orderBy(F.col("revenue_d").desc(), F.col("c_custkey"))
        .limit(n)
        .select("c_custkey", "c_name", "n_name", F.col("revenue_d").cast("double").alias("revenue"))
    )


def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue from orders where the supplier and the
    customer share a nation, per nation of one region, one order year.

    Physical posture: the two fact tables (lineitem, orders) shuffle
    once on the order key; customer joins the fact side on custkey;
    supplier/nation/region are broadcast. The region + year filters cut
    the fact scan first (pushdown), and the c_nationkey = s_nationkey
    predicate rides the supplier broadcast join.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(3,2)") - _dec("l_discount", 3, 2))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        # supplier scales with SF (no forced broadcast — AQE decides);
        # nation/region are fixed 25/5 rows so their hints are safe.
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


def rollup_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation: (returnflag, linestatus) → per-flag subtotals
    → grand total in one pass (Spark expands grouping sets inside a
    single shuffle; every agg stays map-side combinable). NULL group
    keys from the rollup are labelled 'ALL' for a sentinel-free compare.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("l_quantity").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_price"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_rows",
            "sum_qty",
            "sum_price",
        )
    )


def order_priority_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (pivot shape): per order priority, order
    counts and totals split by order status — one scan, one shuffle,
    every branch a map-side-combinable sum(CASE WHEN ...)."""
    orders = load_table(spark, sf_dir, "orders")

    def _status(s: str):
        return F.when(F.col("o_orderstatus") == s, 1).otherwise(0)

    def _price(s: str):
        return F.when(
            F.col("o_orderstatus") == s, _dec("o_totalprice")
        ).otherwise(F.lit(0).cast("decimal(18,2)"))

    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_status("F")).cast("long").alias("n_f"),
            F.sum(_status("O")).cast("long").alias("n_o"),
            F.sum(_status("P")).cast("long").alias("n_p"),
            F.sum(_price("F")).cast("double").alias("total_f"),
            F.sum(_price("O")).cast("double").alias("total_o"),
        )
    )


def dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 flavor: positive-balance customers with NO order since
    a cutoff, aggregated by market segment. The no-recent-order
    predicate is a LEFT ANTI join — only customer keys cross the
    shuffle, never a wide row, and the filtered orders side is
    pre-projected to its join key."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "2000-01-01")
        .select("o_custkey")
    )
    return (
        cust.join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_custs"),
            F.sum(_dec("c_acctbal")).cast("double").alias("sum_acctbal"),
        )
    )


def window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event aggregation (batch shape of the streaming
    windowed agg)."""
    ev = load_table(spark, sf_dir, "events")
    # Exact integer hour buckets from raw nanos (ts is TIMESTAMP(NANOS)
    # in parquet — see sources.tables); avoids cross-engine timestamp
    # canonicalization entirely.
    return (
        ev.groupBy(
            F.expr("ts_ns div 3600000000000").alias("hour_id"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            # exact micro-unit sum (see sessionize_events: a raw double
            # sum is order-sensitive once one window holds ~10^5 rows)
            F.expr(emit_micro(f"sum({to_micro('value')})")).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def sliding_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2-hour windows every hour (each event lands in exactly
    two windows) via the native F.window — same operator the streaming
    twin uses. Output keys on integer window-start hours (UTC) so the
    oracle does exact integer arithmetic instead of timestamp
    canonicalization."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.expr(emit_micro(f"sum({to_micro('value')})")).alias("sum_value"),
        )
        .select(
            (F.unix_timestamp("window.start") / 3600)
            .cast("long")
            .alias("win_start_hour"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured: JSON props extraction + aggregation."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def topk_per_group(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Window top-k per group: k priciest parts per brand."""
    part = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc(), F.col("p_partkey"))
    return (
        part.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("p_brand", "rank", "p_partkey", "p_name", "p_retailprice")
    )


def column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (the `describe` every engine ships): count /
    mean / stddev / min / max for lineitem money columns, plus the
    price↔quantity correlation.

    Floating sums are NOT order-independent under parallelism, so the
    moments are built from DECIMAL sums (x, x², x·y exact in
    decimal(38,*)) and only converted to double inside the final
    scalar formulas — bit-identical across engines and partitionings.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = _dec("l_extendedprice")  # decimal(18,2)
    q = _dec("l_quantity")
    agg = li.agg(
        F.count("*").alias("n"),
        F.sum(p).alias("sum_p"),
        F.sum(p * p).alias("sumsq_p"),
        F.sum(q).alias("sum_q"),
        F.sum(q * q).alias("sumsq_q"),
        F.sum(p * q).alias("sum_pq"),
        F.min("l_extendedprice").alias("min_p"),
        F.max("l_extendedprice").alias("max_p"),
    )
    n = F.col("n").cast("double")
    sp, sq = F.col("sum_p").cast("double"), F.col("sum_q").cast("double")
    ssp, ssq = F.col("sumsq_p").cast("double"), F.col("sumsq_q").cast("double")
    spq = F.col("sum_pq").cast("double")
    var_p = (ssp - sp * sp / n) / (n - 1)
    var_q = (ssq - sq * sq / n) / (n - 1)
    cov = (spq - sp * sq / n) / (n - 1)
    return agg.select(
        F.col("n").cast("long"),
        F.round(sp / n, 6).alias("mean_price"),
        F.round(F.sqrt(var_p), 6).alias("std_price"),
        F.round("min_p", 6).alias("min_price"),
        F.round("max_p", 6).alias("max_price"),
        F.round(cov / F.sqrt(var_p * var_q), 6).alias("corr_price_qty"),
    )


def quantile_stats(
    spark: SparkSession, sf_dir: str, exact_quantiles: bool = True
) -> DataFrame:
    """Exact interpolated quantiles per group (percentile is a single
    shuffled agg whose buffer holds every group value; the exact form
    is the oracle-checkable anchor). ``exact_quantiles=False`` is the
    100 TB path: percentile_approx — KLL-style mergeable sketch,
    bounded memory regardless of group size — same output contract,
    sketch accuracy at the margin."""
    li = load_table(spark, sf_dir, "lineitem")
    if exact_quantiles:
        q = F.percentile("l_extendedprice", lit_array([0.25, 0.5, 0.75, 0.95]))
    else:
        q = F.percentile_approx(
            "l_extendedprice", lit_array([0.25, 0.5, 0.75, 0.95]), F.lit(10000)
        )
    return (
        li.groupBy("l_returnflag")
        .agg(q.alias("qs"))
        .select(
            "l_returnflag",
            F.round(F.col("qs")[0], 6).alias("p25"),
            F.round(F.col("qs")[1], 6).alias("p50"),
            F.round(F.col("qs")[2], 6).alias("p75"),
            F.round(F.col("qs")[3], 6).alias("p95"),
        )
    )


def sessionize_events(spark: SparkSession, sf_dir: str, gap_minutes: int = 30) -> DataFrame:
    """Sessionization: lag + cumulative-sum session ids per user, then
    per-session stats. Single shuffle on user_id."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    gap = F.expr("ts_ns div 1000000000") - F.lag(F.expr("ts_ns div 1000000000")).over(w)
    with_sess = (
        ev.withColumn("new_sess", F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0))
        .withColumn("session_no", F.sum("new_sess").over(w))
    )
    # Exact micro-unit sum (the repo's money-sum convention): a plain
    # double sum is order-sensitive in the last ulp, which the 6dp
    # round EXPOSES once a single session holds ~250k events (the skew
    # corpus's hot user: 12439640.049999 vs .05 — caught by
    # the r8 skew-corpus parity run). Long micro-units are associative, so
    # Spark's partial-agg order and DuckDB's scan order produce the
    # identical integer at any scale.
    return (
        with_sess.groupBy("user_id", "session_no")
        .agg(
            F.count("*").alias("n_events"),
            F.expr(emit_micro(f"sum({to_micro('value')})")).alias("sum_value"),
        )
    )


def asof_attribution(
    spark: SparkSession,
    sf_dir: str,
    left_type: str = "purchase",
    right_type: str = "click",
) -> DataFrame:
    """As-of join — the time-series operator Spark has no native verb
    for (DuckDB spells it ASOF JOIN): each purchase is attributed to
    the LATEST click at-or-before it by the same user.

    Implemented as union-tag + one windowed last(ignorenulls) pass:
    both sides interleave into a single (user_id, ts, side) sort, so
    the whole operator is ONE shuffle with no join at all — the shape
    that survives 100 TB (a per-key sort-merge as-of needs the same
    sort anyway, plus join machinery; skew lands on AQE's sort spill
    rather than a hot join bucket). Ties at equal ts: the click sorts
    first (side 0) so a same-instant click attributes, matching the
    oracle's ORDER BY ts_ns, side, event_id.
    Returns (purchase_id, user_id, ts_ns, value, click_id,
    click_ts_ns, lag_s); click columns null when no prior click."""
    # micros, not nanos: DuckDB TIMESTAMP truncates parquet NANOS to
    # microseconds, so the oracle's epoch_us(ts) is the exact common
    # precision — both engines sort/compare/emit identical integers.
    ev = load_table(spark, sf_dir, "events")
    u = ev.filter(F.col("event_type").isin(right_type, left_type)).select(
        "user_id",
        F.expr("ts_ns div 1000").alias("ts_us"),
        "event_id",
        "value",
        F.when(F.col("event_type") == right_type, 0).otherwise(1).alias("side"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "side", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r_id = F.when(F.col("side") == 0, F.col("event_id"))
    r_ts = F.when(F.col("side") == 0, F.col("ts_us"))
    return (
        u.withColumn("click_id", F.last(r_id, ignorenulls=True).over(w))
        .withColumn("click_ts_us", F.last(r_ts, ignorenulls=True).over(w))
        .filter(F.col("side") == 1)
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            "ts_us",
            F.round("value", 6).alias("value"),
            "click_id",
            "click_ts_us",
            F.expr("(ts_us - click_ts_us) div 1000000").alias("lag_s"),
        )
    )


def events_range_join(
    spark: SparkSession, sf_dir: str, window_s: int = 300
) -> DataFrame:
    """Band (range) self-join: per event, how many OTHER events the
    same user produced within ±window_s — the local-density feature
    (bursts, bot detection) that a naive |Δt| ≤ W predicate would
    compute as an O(n²)-per-user theta join.

    Bucketize ts into W-wide buckets and fan the PROBE side out to its
    own bucket ± 1: every qualifying pair shares (user_id, bucket) in
    exactly one probe row, so an equi-join + exact |Δt| filter finds
    each pair once. The join is a plain shuffle-hash equi-join on
    narrow keys — at 100 TB this scales with events-per-(user, 2W)
    band, not events-per-user².
    Returns (event_id, user_id, ts_ns, n_neighbors)."""
    # micros precision end-to-end (see asof_attribution's note)
    w_us = window_s * 1_000_000
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr("ts_ns div 1000").alias("ts_us"), "event_id"
    )
    right = ev.withColumn("bucket", F.expr(f"ts_us div {w_us}"))
    probe = ev.select(
        "user_id",
        F.col("ts_us").alias("p_ts_us"),
        F.col("event_id").alias("p_event_id"),
        F.explode(
            F.array(
                F.expr(f"ts_us div {w_us} - 1"),
                F.expr(f"ts_us div {w_us}"),
                F.expr(f"ts_us div {w_us} + 1"),
            )
        ).alias("bucket"),
    )
    pairs = probe.join(right, ["user_id", "bucket"]).filter(
        (F.col("event_id") != F.col("p_event_id"))
        & (F.abs(F.col("ts_us") - F.col("p_ts_us")) <= w_us)
    )
    counts = pairs.groupBy("p_event_id").agg(F.count("*").alias("n_neighbors"))
    return (
        ev.join(counts, ev.event_id == counts.p_event_id, "left")
        .select(
            "event_id",
            "user_id",
            "ts_us",
            F.coalesce("n_neighbors", F.lit(0)).cast("long").alias("n_neighbors"),
        )
    )


def skew_profile(
    spark: SparkSession,
    sf_dir: str,
    key: str = "l_suppkey",
    exact_quantiles: bool = True,
) -> DataFrame:
    """Join-key skew diagnostics — the pre-flight check before choosing
    broadcast / salted / plain shuffle join strategy (plans/scale.py
    salted_join is the remedy this measures the need for).

    One map-side-combinable groupBy(key) produces the per-key counts;
    everything after runs on the per-key frame: distribution moments,
    p50/p90/p99 of rows-per-key, max/mean skew ratio, and the top-5
    heavy hitters serialized to a CSV string (scalar-only output so the
    driver hash can canonicalize it). At 100 TB the only full-data pass
    is the first count shuffle — identical shape to the join it
    profiles, partials collapse per key before the exchange.

    Quantiles: the default exact path sorts ALL per-key counts inside
    one aggregation buffer — memory is bounded by join-key CARDINALITY,
    fine while n_keys is millions but not at billions of keys. Pass
    ``exact_quantiles=False`` for the scale path (approx_percentile,
    bounded sketch memory, engine-dependent at the margin — which is
    why the oracle-matched default stays exact)."""
    li = load_table(spark, sf_dir, "lineitem").select(F.col(key).alias("key"))
    per_key = li.groupBy("key").agg(F.count("*").alias("cnt"))
    # top-5 heavy hitters: collect_list order is NOT guaranteed, so the
    # (cnt desc, key asc) order is enforced by sort_array on
    # (-cnt, key) structs AFTER collection; limit(5) bounds the collect.
    hot = (
        per_key.orderBy(F.col("cnt").desc(), F.col("key"))
        .limit(5)
        .agg(
            F.expr(
                "array_join(transform(sort_array(collect_list(struct(-cnt AS _n, key, cnt))),"
                " s -> concat_ws(':', s.key, s.cnt)), ',')"
            ).alias("top_keys_csv")
        )
    )
    if exact_quantiles:
        # exact quantiles over per-key counts: sort_array over the
        # collected counts — deterministic, no approx_percentile engine
        # drift. Buffer memory = O(n_keys); see docstring for the limit.
        q_aggs = [F.sort_array(F.collect_list("cnt")).alias("_sorted")]
        q_cols = [
            # percentile = sorted[floor(n*p/100)] 0-based (F.get), so the
            # oracle's 1-based list index is the same expression + 1
            F.get("_sorted", F.expr(f"CAST(n_keys * {p} div 100 AS INT)"))
            .cast("long")
            .alias(f"p{p}_cnt")
            for p in (50, 90, 99)
        ]
    else:
        # scale path: t-digest-style sketch, bounded memory regardless
        # of key cardinality.
        q_aggs = [
            F.approx_percentile("cnt", F.lit(p / 100.0), F.lit(10000)).alias(f"_p{p}")
            for p in (50, 90, 99)
        ]
        q_cols = [F.col(f"_p{p}").cast("long").alias(f"p{p}_cnt") for p in (50, 90, 99)]
    stats = per_key.agg(
        F.count("*").alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("max_cnt"),
        *q_aggs,
    ).select(
        "n_keys",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("max_cnt").cast("long").alias("max_cnt"),
        F.round(F.col("n_rows") / F.col("n_keys"), 6).alias("mean_cnt"),
        *q_cols,
        F.round(F.col("max_cnt") * F.col("n_keys") / F.col("n_rows"), 6).alias("skew_ratio"),
    )
    return stats.crossJoin(F.broadcast(hot))


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention over events: users grouped by first-seen
    week, retention = distinct active users per (cohort, weeks-since).

    Two shuffles, both map-side-combinable: (1) min(ts) per user (the
    cohort assignment), (2) distinct (cohort, offset, user) collapse →
    count. The user-level join broadcasts nothing wide — cohort rides
    as one small int per user. Week ids are integer epoch-days/7 so
    both engines agree without timezone/DST drift."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr("ts_ns div 86400000000000").alias("day")
    )
    ev = ev.withColumn("week", F.expr("day div 7"))
    first = ev.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    joined = ev.join(first, "user_id").select(
        "cohort_week",
        (F.col("week") - F.col("cohort_week")).alias("weeks_since"),
        "user_id",
    )
    base = first.groupBy("cohort_week").agg(
        F.countDistinct("user_id").alias("cohort_size")
    )
    ret = joined.groupBy("cohort_week", "weeks_since").agg(
        F.countDistinct("user_id").alias("n_active")
    )
    return (
        ret.join(F.broadcast(base), "cohort_week")
        .select(
            "cohort_week",
            "weeks_since",
            F.col("n_active").cast("long"),
            F.col("cohort_size").cast("long"),
            F.round(F.col("n_active") / F.col("cohort_size"), 6).alias("retention"),
        )
    )


def funnel_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-step funnel over events (view → click → purchase): a
    user converts step k only if step k's first occurrence is AT OR
    AFTER step k-1's first occurrence (classic product-analytics
    semantics, strictly ordered by event time with event_id as the
    deterministic tie-break).

    One map-side-combinable groupBy(user) computes the three
    first-occurrence timestamps as conditional mins — no joins, no
    windows over raw events; the funnel conjunctions and the final
    one-row rollup run on the tiny per-user frame. Micros precision
    (ts_ns div 1000) so both engines compare identical integers."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.expr("ts_ns div 1000").alias("ts_us"),
        "event_id",
    )
    # first occurrence = min (ts, event_id) struct per step; the
    # event_id tie-break makes simultaneous events deterministic
    def first_of(step: str):
        return F.min(
            F.when(
                F.col("event_type") == step,
                F.struct(F.col("ts_us"), F.col("event_id")),
            )
        ).alias(f"_{step}")

    per_user = ev.groupBy("user_id").agg(
        first_of("view"), first_of("click"), first_of("purchase")
    )
    s1 = F.col("_view").isNotNull()
    s2 = s1 & F.col("_click").isNotNull() & (
        (F.col("_click.ts_us") > F.col("_view.ts_us"))
        | (
            (F.col("_click.ts_us") == F.col("_view.ts_us"))
            & (F.col("_click.event_id") >= F.col("_view.event_id"))
        )
    )
    s3 = s2 & F.col("_purchase").isNotNull() & (
        (F.col("_purchase.ts_us") > F.col("_click.ts_us"))
        | (
            (F.col("_purchase.ts_us") == F.col("_click.ts_us"))
            & (F.col("_purchase.event_id") >= F.col("_click.event_id"))
        )
    )
    flags = per_user.select(
        s1.alias("f1"), s2.alias("f2"), s3.alias("f3")
    )
    return flags.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum(F.col("f1").cast("long")).cast("long").alias("step_view"),
        F.sum(F.col("f2").cast("long")).cast("long").alias("step_click"),
        F.sum(F.col("f3").cast("long")).cast("long").alias("step_purchase"),
        F.round(
            F.sum(F.col("f3").cast("long")) / F.sum(F.col("f1").cast("long")), 6
        ).alias("conversion"),
    )


def events_anomaly(spark: SparkSession, sf_dir: str, window_hours: int = 6) -> DataFrame:
    """Trailing-window anomaly detection over the event stream: hourly
    event counts scored as z = (cnt - trailing_mean) / trailing_std
    against the preceding ``window_hours`` hours (current hour
    excluded), flagged at |z| > 2 — the ops-dashboard spike/drop
    detector.

    The raw stream collapses to one row per hour FIRST (map-side
    combinable count shuffle); every window after that runs on the
    tiny hourly frame. Variance uses the explicit E[x²]-E[x]² form
    over exact integer sums so both engines agree bit-for-bit before
    the final round; hours with undefined or zero deviation are
    unflagged."""
    ev = load_table(spark, sf_dir, "events").select(
        F.expr("ts_ns div 3600000000000").alias("hour_id")
    )
    hourly = ev.groupBy("hour_id").agg(F.count("*").cast("long").alias("cnt"))
    w = (
        Window.orderBy("hour_id")
        .rowsBetween(-window_hours, -1)
    )
    n = F.count("cnt").over(w)
    s1 = F.sum("cnt").over(w)
    s2 = F.sum(F.col("cnt") * F.col("cnt")).over(w)
    mean = s1 / n
    var = s2 / n - mean * mean
    scored = hourly.select(
        "hour_id",
        "cnt",
        n.cast("long").alias("n_hist"),
        mean.alias("_mean"),
        var.alias("_var"),
    ).filter(F.col("n_hist") >= window_hours)
    z = (F.col("cnt") - F.col("_mean")) / F.sqrt("_var")
    return scored.select(
        "hour_id",
        "cnt",
        F.round("_mean", 6).alias("trailing_mean"),
        F.round(F.when(F.col("_var") > 0, z), 6).alias("zscore"),
        F.when(F.col("_var") > 0, F.abs(z) > 2).otherwise(F.lit(False)).alias("is_anomaly"),
    )


def volume_shipping(
    spark: SparkSession,
    sf_dir: str,
    nation_a: str = "NATION_18",
    nation_b: str = "NATION_19",
) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two trading nations —
    revenue of lineitems a supplier of one nation shipped to a customer
    of the other (both directions), per (supp_nation, cust_nation,
    ship year).

    Physical posture: the ship-date range filter pushes into the
    lineitem scan; the two-nation predicates push into the 25-row
    nation ROLE tables (broadcast — fixed size), which then prune
    supplier/customer before the fact probe; lineitem⋈orders shuffles
    once on the order key; supplier/customer get no forced broadcast
    (they scale with SF — AQE promotes from runtime sizes). The pair
    OR-condition rides the joined row, exactly like the spec query.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n_s = nation.filter(F.col("n_name").isin(nation_a, nation_b)).select(
        F.col("n_nationkey").alias("_sn_key"), F.col("n_name").alias("supp_nation")
    )
    n_c = nation.filter(F.col("n_name").isin(nation_a, nation_b)).select(
        F.col("n_nationkey").alias("_cn_key"), F.col("n_name").alias("cust_nation")
    )
    rev = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(3,2)") - _dec("l_discount", 3, 2)
    )
    pair = (
        (F.col("supp_nation") == nation_a) & (F.col("cust_nation") == nation_b)
    ) | ((F.col("supp_nation") == nation_b) & (F.col("cust_nation") == nation_a))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n_s), supp.s_nationkey == F.col("_sn_key"))
        .join(F.broadcast(n_c), cust.c_nationkey == F.col("_cn_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year")
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


def promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promotion effect — the share of revenue coming
    from PROMO-type parts, per ship month. Exercises the part
    dimension (lineitem ⋈ part on partkey), which no other headliner
    touches.

    Physical posture: ship-date range pushes into the lineitem scan;
    part joins on its key with NO forced broadcast (it scales with SF
    — AQE promotes when small); both numerator and denominator are
    conditional decimal sums inside ONE map-side-combinable groupBy
    (no second pass, no window). Month keys are integer yyyymm so the
    engines agree without date-format drift.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    part = load_table(spark, sf_dir, "part")
    rev = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(3,2)") - _dec("l_discount", 3, 2)
    )
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    yyyymm = (F.year("l_shipdate") * 100 + F.month("l_shipdate")).cast("long")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(yyyymm.alias("ship_month"))
        .agg(
            F.sum(promo).alias("_promo"),
            F.sum(rev).alias("_total"),
            F.count("*").cast("long").alias("n_items"),
        )
        .select(
            "ship_month",
            "n_items",
            F.col("_promo").cast("double").alias("promo_revenue"),
            F.col("_total").cast("double").alias("total_revenue"),
            F.round(
                F.lit(100.0) * F.col("_promo").cast("double")
                / F.col("_total").cast("double"),
                6,
            ).alias("promo_pct"),
        )
    )


def discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue from a DISJUNCTION of conjunctive
    (brand, size range, quantity range) clauses across the
    lineitem ⋈ part join — the classic predicate-pushdown stress
    query.

    The OR spans both join sides, so Catalyst cannot push it below the
    join by itself; the per-side HULLS are stated explicitly (brand IN
    + max size on the part scan, quantity envelope on the lineitem
    scan) — at 100 TB those hulls are the difference between scanning
    three brands' parts and scanning every part. The exact disjunction
    then filters the joined rows. One conditional-sum agg, single row
    out.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        # quantity envelope of the three clauses (pushdown hull)
        (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 30)
    )
    part = load_table(spark, sf_dir, "part").filter(
        # brand + size hulls (pushdown)
        F.col("p_brand").isin("Brand#4", "Brand#19", "Brand#16")
        & (F.col("p_size") >= 1)
        & (F.col("p_size") <= 35)
    )
    clause = (
        (
            (F.col("p_brand") == "Brand#4")
            & (F.col("p_size") <= 15)
            & (F.col("l_quantity") <= 11)
        )
        | (
            (F.col("p_brand") == "Brand#19")
            & (F.col("p_size") <= 25)
            & (F.col("l_quantity") >= 10)
            & (F.col("l_quantity") <= 20)
        )
        | (
            (F.col("p_brand") == "Brand#16")
            & (F.col("p_size") <= 35)
            & (F.col("l_quantity") >= 20)
            & (F.col("l_quantity") <= 30)
        )
    )
    rev = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(3,2)") - _dec("l_discount", 3, 2)
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(clause)
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.sum(rev).cast("double").alias("revenue"),
        )
    )


def order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: per-priority count of one quarter's orders that
    have at least one late-shipped lineitem (EXISTS — shipped ≥ 60
    days after the order date; the schema has no l_commitdate, so the
    late predicate compares l_shipdate to o_orderdate).

    Physical posture: LEFT SEMI join — the fact-side EXISTS that
    neither duplicates orders with many late items nor needs a
    distinct. Both sides shuffle once on the order key; the quarter
    filter pushes to the orders scan; lineitem projects only
    (l_orderkey, l_shipdate). The cross-side date predicate rides the
    join condition, evaluated before any order row is emitted."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate >= orders.o_orderdate + F.expr("INTERVAL 60 DAY")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").cast("long").alias("order_count"))
    )


def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: how many customers placed exactly N orders —
    including the zero-order customers the LEFT OUTER join exists for.

    Physical posture: aggregate orders per custkey FIRST (map-side
    combinable count), then left-join customer against the per-cust
    counts — the wide customer rows never cross the orders shuffle.
    The final distribution groupBy collapses to ≤ max-orders rows."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").cast("long").alias("_n"))
    )
    return (
        cust.join(per_cust, cust.c_custkey == per_cust.o_custkey, "left")
        .select(F.coalesce("_n", F.lit(0)).cast("long").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").cast("long").alias("custdist"))
    )


def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: yearly revenue that would vanish if one
    brand's small orders (quantity < 20% of that part's average
    quantity) were dropped — the correlated-average pattern.

    Physical posture: the brand filter cuts part to a handful of keys;
    lineitem semi-joins down to those parts' items ONCE, and both the
    per-part average and the detail re-join run over that same frame,
    partitioned by partkey both times (exchange reuse — the second
    groupBy and the join see the partitioning the first shuffle
    established). l_quantity is integer-valued, so avg is exact and
    order-independent in both engines; money sums in DECIMAL."""
    bparts = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#13")
        .select("p_partkey")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .join(bparts, F.col("l_partkey") == F.col("p_partkey"))
        .drop("p_partkey")
    )
    per_part = li.groupBy("l_partkey").agg(F.avg("l_quantity").alias("_avg_qty"))
    small = li.join(per_part, "l_partkey").filter(
        F.col("l_quantity") < 0.2 * F.col("_avg_qty")
    )
    return small.agg(
        F.count("*").cast("long").alias("n_items"),
        F.round(
            F.coalesce(F.sum(_dec("l_extendedprice")), F.lit(0).cast("decimal(18,2)"))
            .cast("double")
            / 7.0,
            6,
        ).alias("avg_yearly"),
    )


def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers whose single orders total > 300
    units — the having-on-fact-agg semi-join.

    Physical posture: lineitem aggregates per order first (map-side
    combinable sum, the only full-fact shuffle); the HAVING filter
    collapses the agg to a handful of hot orders, and AQE promotes the
    subsequent orders/customer joins to broadcasts from the runtime
    size. Top-100 by total price via TakeOrdered, no global sort."""
    qty = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_sum_qty"))
        .filter(F.col("_sum_qty") > 300)
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(qty, orders.o_orderkey == qty.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            # NTZ has no direct long cast; NTZ -> timestamp is identity
            # wall-clock under the session's UTC tz, so this is the same
            # epoch-seconds integer DuckDB's epoch() produces.
            F.col("o_orderdate").cast("timestamp").cast("long").alias("order_epoch"),
            F.round("o_totalprice", 6).alias("o_totalprice"),
            F.col("_sum_qty").cast("long").alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) with maximum revenue over one
    quarter — the agg-then-max-scalar pattern (the reference view +
    scalar subquery, re-expressed without a view).

    Physical posture: one map-side-combinable fact agg per suppkey;
    the global max is a 1-row broadcast crossJoin over the (tiny)
    per-supplier frame — no second fact pass, no window over the agg.
    Revenue stays DECIMAL end-to-end so the max-equality predicate is
    exact in both engines (a double max could strand ties)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(3,2)") - _dec("l_discount", 3, 2))
    per_supp = li.groupBy("l_suppkey").agg(F.sum(rev).alias("_rev"))
    mx = per_supp.agg(F.max("_rev").alias("_mx"))
    supp = load_table(spark, sf_dir, "supplier")
    return (
        per_supp.crossJoin(F.broadcast(mx))
        .filter(F.col("_rev") == F.col("_mx"))
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("_rev").cast("double").alias("total_revenue"),
        )
    )


def suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the ONLY late shipper on a
    multi-supplier order — the EXISTS + NOT-EXISTS pair over the same
    fact, re-expressed as two stacked aggs (no correlated re-scans:
    the second agg and the join-back reuse the first shuffle's
    (orderkey) partitioning). "Late" compares l_shipdate to
    o_orderdate + 90 days (the schema has no l_receiptdate /
    l_commitdate). Top-10 suppliers by wait count, TakeOrdered."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    ls = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                (
                    F.col("l_shipdate")
                    >= F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")
                ).cast("int")
            ).alias("_late")
        )
    )
    per_order = ls.groupBy("l_orderkey").agg(
        F.count("*").alias("_n_supps"), F.sum("_late").alias("_n_late")
    )
    supp = load_table(spark, sf_dir, "supplier")
    return (
        ls.join(per_order, "l_orderkey")
        .filter(
            (F.col("_late") == 1) & (F.col("_n_supps") >= 2) & (F.col("_n_late") == 1)
        )
        .groupBy("l_suppkey")
        .agg(F.count("*").cast("long").alias("numwait"))
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.col("numwait").desc(), F.col("s_suppkey"))
        .limit(10)
    )


def scd2_intervals(
    spark: SparkSession, sf_dir: str, event_type: str = "purchase"
) -> DataFrame:
    """SCD2 history build (the warehouse slowly-changing-dimension
    merge, Kimball type 2): each user's change events become validity
    intervals — a version row opens at its event time and closes when
    the next CHANGED value arrives (no-op repeats collapse into the
    open interval; the last version stays open, is_current).

    Physical posture: ONE shuffle — change detection (lag) and
    interval build (lead + row_number) are windows over the same
    (user_id) partitioning and (ts, event_id) order, so the second
    window reuses the first's sort, no second exchange. Micros
    precision end-to-end (the engines' exact common timestamp grain).
    Returns (user_id, version, value, valid_from_us, valid_to_us,
    is_current); valid_to_us null while current."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == event_type
    )
    u = ev.select(
        "user_id", F.expr("ts_ns div 1000").alias("ts_us"), "event_id", "value"
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    chg = u.withColumn("_prev", F.lag("value").over(w)).filter(
        F.col("_prev").isNull() | (F.col("value") != F.col("_prev"))
    )
    return (
        chg.select(
            "user_id",
            F.row_number().over(w).cast("long").alias("version"),
            F.round("value", 6).alias("value"),
            F.col("ts_us").alias("valid_from_us"),
            F.lead("ts_us").over(w).alias("valid_to_us"),
        )
        .withColumn("is_current", F.col("valid_to_us").isNull())
    )


def shipping_priority(
    spark: SparkSession,
    sf_dir: str,
    segment: str = "BUILDING",
    cutoff: str = "1996-03-15",
    n: int = 10,
) -> DataFrame:
    """TPC-H Q3 shape: shipping priority — the 10 highest-revenue
    orders not yet shipped as of a date, for one market segment
    (customer placed the order before the cutoff, at least one
    lineitem ships after it).

    Physical posture: both date filters push into their scans
    (o_orderdate < cutoff on orders, l_shipdate > cutoff on lineitem)
    and the segment filter prunes customer BEFORE its join — the fact
    shuffle carries only qualifying rows. The customer join needs no
    columns beyond the key, so it is a semi-join in effect (projected
    to c_custkey); no forced broadcast — customer scales with SF, AQE
    promotes from runtime sizes. Top-N via TakeOrdered (sort+limit),
    never a full global sort. Order-date keys are integer yyyymmdd so
    the engines compare identical integers.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == segment)
        .select("c_custkey")
    )
    rev = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(3,2)") - _dec("l_discount", 3, 2)
    )
    odate = (
        F.year("o_orderdate") * 10000
        + F.month("o_orderdate") * 100
        + F.dayofmonth("o_orderdate")
    ).cast("long")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .groupBy(
            "l_orderkey",
            odate.alias("o_orderdate_key"),
            "o_orderpriority",
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderdate_key", "l_orderkey")
        .limit(n)
    )


def revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: forecast revenue change — the revenue that
    would have been gained by eliminating small discounts in one year
    (sum of l_extendedprice * l_discount over a (shipdate, discount,
    quantity) box predicate).

    Physical posture: the whole query is ONE scan + map-side-
    combinable agg with every predicate in PushedFilters — the
    canonical pushdown showcase. At 100 TB the date range alone
    prunes partitions in a date-partitioned layout, and the residual
    filters evaluate inside the parquet reader before any row
    surfaces; no join, no shuffle beyond the 1-row final agg.
    Discount bounds compare against the same double literals in both
    engines (0.01-step domain, exactly representable comparisons).
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    gain = _dec("l_extendedprice") * _dec("l_discount", 3, 2)
    return li.agg(
        F.sum(gain).cast("double").alias("revenue"),
        F.count("*").cast("long").alias("n_items"),
    )


def returned_items(
    spark: SparkSession, sf_dir: str, n: int = 20
) -> DataFrame:
    """TPC-H Q10 shape: returned-item reporting — the top customers by
    revenue lost to returns in one quarter (lineitems flagged 'R' on
    orders placed that quarter), with customer and nation detail.

    Physical posture: the quarter filter pushes into the orders scan
    and the returnflag filter into the lineitem scan — both reach
    PushedFilters; the fact join shuffles only the quarter's orders.
    Customer joins hint-free (SF-scaled, AQE decides); the 25-row
    nation dimension broadcasts. The wide name/acctbal columns ride
    the group-by keys (functionally dependent on c_custkey, so the
    agg stays map-side-combinable). Top-N via TakeOrdered with
    c_custkey tie-break.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    rev = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(3,2)") - _dec("l_discount", 3, 2)
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(n)
    )


def market_share(
    spark: SparkSession,
    sf_dir: str,
    nation: str = "NATION_3",
    region: str = "EUROPE",
    p_type: str = "ECONOMY",
) -> DataFrame:
    """TPC-H Q8 shape: national market share — one nation's share of
    revenue for one part type among customers of one region, per
    order year. The widest headliner join tree (lineitem, orders,
    customer, supplier, part, nation twice under different roles,
    region), with the share as a conditional-sum ratio.

    Physical posture: the part-type predicate prunes part before the
    fact probe; the order-date range pushes into the orders scan; the
    customer-side region restriction flows region→nation→customer
    through two fixed-size broadcast dims; the SUPPLIER-side nation
    is a second broadcast ROLE copy whose name feeds the conditional
    numerator (the spec's CASE WHEN nation = X) — no filter, every
    surviving row contributes to the denominator. Supplier/customer/
    part are hint-free (SF-scaled, AQE). Numerator and denominator
    are decimal sums in ONE map-side-combinable agg.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == p_type).select(
        "p_partkey"
    )
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == region)
    n_cust = nat.join(
        F.broadcast(reg), nat.n_regionkey == reg.r_regionkey
    ).select(F.col("n_nationkey").alias("_cn_key"))
    n_supp = nat.select(
        F.col("n_nationkey").alias("_sn_key"), F.col("n_name").alias("supp_nation")
    )
    rev = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(3,2)") - _dec("l_discount", 3, 2)
    )
    national = F.when(F.col("supp_nation") == nation, rev).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(n_cust), cust.c_nationkey == F.col("_cn_key"))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n_supp), supp.s_nationkey == F.col("_sn_key"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.sum(national).alias("_national"),
            F.sum(rev).alias("_total"),
        )
        .select(
            "o_year",
            F.col("_national").cast("double").alias("national_revenue"),
            F.col("_total").cast("double").alias("total_revenue"),
            F.round(
                F.col("_national").cast("double") / F.col("_total").cast("double"), 6
            ).alias("mkt_share"),
        )
    )


def cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog apply (the lakehouse MERGE / Debezium-compaction
    shape): fold a keyed change log into current table state —
    last-write-wins per key, delete tombstones drop the key. The log
    here derives deterministically from events (key = user_id, 'error'
    rows are tombstones, everything else upserts the row's value),
    standing in for a real CDC feed; the fold itself is the operator.

    Physical posture: ONE map-side-combinable groupBy — the latest op
    per key is a max_by over the (ts, event_id) total order (no window
    over the raw log, no self-join), with the op count riding the same
    agg for audit. At 100 TB this is the nightly Debezium-compaction
    pass: shuffle keyed by user_id, each reducer folds its keys
    independently, tombstoned keys simply emit nothing. Micros
    precision end-to-end (the engines' exact common timestamp grain).

    Returns (user_id, value, updated_at_us, n_ops) for keys whose
    latest op is an upsert.
    """
    ev = load_table(spark, sf_dir, "events")
    log = ev.select(
        "user_id",
        F.expr("ts_ns div 1000").alias("ts_us"),
        "event_id",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        "value",
    )
    last = F.max_by(
        F.struct("op", "value", F.col("ts_us").alias("_ts")),
        F.struct("ts_us", "event_id"),
    )
    folded = log.groupBy("user_id").agg(
        last.alias("_last"), F.count("*").cast("long").alias("n_ops")
    )
    return folded.filter(F.col("_last.op") == "U").select(
        "user_id",
        F.col("_last.value").alias("value"),
        F.col("_last._ts").alias("updated_at_us"),
        "n_ops",
    )


def global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: wealthy-but-dormant customers per country —
    customers in a fixed set of nations whose balance beats the
    positive-balance average and who have placed NO orders.

    Physical posture: the nation-set filter pushes to the customer
    scan; the positive-balance average is a 1-row broadcast scalar
    (crossJoin of an agg, no second customer pass beyond the shared
    scan); "no orders" is a LEFT ANTI against orders projected to
    o_custkey only, so the fact side crosses the shuffle as bare keys.
    The threshold compares exactly: ``acctbal * n > sum`` in DECIMAL
    (not ``acctbal > sum/n`` in floating point), so an ULP of
    double-division drift can never flip a membership decision between
    engines — at 100 TB a boundary customer is a wrong-answer bug, not
    noise. Final groupBy collapses to ≤ |nation set| rows."""
    codes = [1, 3, 5, 7, 9, 11, 13]
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey").isin(codes))
        .select("c_custkey", "c_nationkey", "c_acctbal")
    )
    pos = cust.filter(F.col("c_acctbal") > 0).agg(
        F.sum(_dec("c_acctbal")).alias("_sum"),
        F.count("*").cast("long").alias("_cnt"),
    )
    rich = cust.crossJoin(F.broadcast(pos)).filter(
        _dec("c_acctbal") * F.col("_cnt") > F.col("_sum")
    )
    dormant = rich.join(
        load_table(spark, sf_dir, "orders").select("o_custkey"),
        rich.c_custkey == F.col("o_custkey"),
        "left_anti",
    )
    return dormant.groupBy("c_nationkey").agg(
        F.count("*").cast("long").alias("numcust"),
        F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"),
    )


def lineitem_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: per line-status, how many LATE lines belong to
    critical-priority orders vs the rest — the conditional-count-by-
    line-attribute-with-order-attribute-CASE pattern (Q12 groups by
    l_shipmode; this schema has no shipmode/commit/receipt dates, so
    the group key is l_linestatus and "late" is shipped ≥ 45 days
    after the order date, the same adaptation order_priority_check and
    suppliers_kept_waiting document).

    Physical posture: the ship-year filter pushes to the lineitem
    scan; orders crosses its shuffle as (o_orderkey, 1-bit priority
    class) — the CASE collapses BEFORE the join so the priority string
    never rides the exchange; both conditional counts come from ONE
    map-side-combinable agg over a ≤2-row group key."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
        )
        .select("l_orderkey", "l_linestatus", "l_shipdate")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderdate",
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("_critical"),
    )
    late = li.join(
        orders,
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate >= orders.o_orderdate + F.expr("INTERVAL 45 DAY")),
        "inner",
    )
    return late.groupBy("l_linestatus").agg(
        F.sum(F.when(F.col("_critical"), 1).otherwise(0)).cast("long").alias("high_line_count"),
        F.sum(F.when(F.col("_critical"), 0).otherwise(1)).cast("long").alias("low_line_count"),
    )


def revenue_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE rollup of revenue by (customer nation, order year) — the
    multi-grain OLAP summary a dashboard reads at every drill level
    (nation×year, nation totals, year totals, grand total) from ONE
    aggregation pass; completes the grouping-set family next to
    rollup_pricing (ROLLUP) and order_priority_pivot (pivot).

    Physical posture: Spark expands the cube via a Generate (one row
    per grouping set) BEFORE the exchange, and the agg stays map-side
    combinable — one shuffle serves all four grains (vs four separate
    groupBys = four fact passes). grouping_id() disambiguates real
    NULLs from subtotal rows, and both engines use the same
    MSB-first bit convention (asserted by the oracle hash). Revenue
    sums ride DECIMAL(18,2) — exact and order-independent."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (_dec("l_extendedprice") * (F.lit(1).cast("decimal(3,2)") - _dec("l_discount", 3, 2))).alias("_rev"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").cast("long").alias("o_year")
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    return (
        j.cube("n_name", "o_year")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.sum("_rev").cast("double").alias("revenue"),
            F.count("*").cast("long").alias("n_lines"),
        )
        .select("n_name", "o_year", "gid", "revenue", "n_lines")
    )
