"""Deduplication suite for training-data pipelines: exact, MinHash+LSH,
SimHash, n-gram Jaccard, embedding-cosine near-dup.

Everything is expressed as declarative DataFrame plans on top of the
portable md5 hash family (functions.hashing) so the DuckDB oracle can
reproduce results bit-for-bit.

Scale design (100 TB posture):
- Raw text never crosses a shuffle: docs are reduced to (id, hash)
  rows before any exchange.
- Candidate generation is always bucket-join (shared shingle / LSH
  band / simhash byte-band) — no O(n²) all-pairs on the big side.
- Hot-bucket skew (stopword-ish shingles) → AQE skew-join handles
  runtime splitting; for extreme cases drop top-frequency shingles
  (document-frequency cap) before the join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import hashing as H
from ..functions import text as X


def dedup_exact(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup by content hash; keeper = min id per hash group.

    Returns (id, text_hash, keeper_id, is_dup). The shuffle key is the
    md5, not the text — 32 bytes/row regardless of document size.
    """
    hashed = docs.selectExpr(id_col, f"{H.md5_hex(text_col)} AS text_hash")
    w = Window.partitionBy("text_hash")
    return (
        hashed.withColumn("keeper_id", F.min(id_col).over(w))
        .withColumn("is_dup", F.col(id_col) != F.col("keeper_id"))
    )


def shingle_set(
    docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Distinct (id, shingle) rows — the base relation for minhash and
    Jaccard. Explode happens after array_distinct so duplicate shingles
    within a doc never hit the shuffle."""
    return docs.selectExpr(
        id_col, f"explode(array_distinct({X.word_shingles(text_col, n)})) AS shingle"
    ).filter("shingle != ''")


# The two md5 draws per shingle of the minhash family (a: 60-bit,
# b: 56-bit), as selectExpr items over a shingle_set frame.
_SHINGLE_DRAWS = (
    f"{H.md5_long('shingle', seed=0)} AS _ha",
    f"{H.md5_long('shingle', seed=1, width=14)} AS _hb",
)


def _minhash_mins(num_hashes: int) -> list[Column]:
    """The signature aggregates h_r = min(a + r·b) over _SHINGLE_DRAWS
    rows, one SQL expression each."""
    if num_hashes > 64:
        raise ValueError("num_hashes > 64 would overflow the a + r*b family")
    return [F.expr(f"min(_ha + _hb * {r}) AS h{r}") for r in range(num_hashes)]


def minhash_signatures(
    shingles: DataFrame, num_hashes: int = 8, id_col: str = "doc_id"
) -> DataFrame:
    """MinHash signature via a two-point hash family: two independent
    md5 draws per shingle (a: 60-bit, b: 56-bit), h_r = min(a + r·b).

    2 md5s per row instead of num_hashes — the classic Carter-Wegman
    (a + r·b) construction gives the independent families. One groupBy
    with map-side partial mins — a single shuffle of
    (id, num_hashes × 8B). b is 56-bit so r·b never overflows int64
    for num_hashes ≤ 64.
    """
    mins = _minhash_mins(num_hashes)
    return shingles.selectExpr(id_col, *_SHINGLE_DRAWS).groupBy(id_col).agg(*mins)


def _minhash_features(shingles: DataFrame, num_hashes: int, id_col: str) -> DataFrame:
    """(id, sset, h0..): the shingle set next to the signature, from one
    groupBy, for the harnesses that score candidates on exact sets."""
    mins = _minhash_mins(num_hashes)
    return (
        shingles.selectExpr(id_col, "shingle", *_SHINGLE_DRAWS)
        .groupBy(id_col)
        .agg(F.expr("collect_set(shingle) AS sset"), *mins)
    )


def lsh_band_buckets(
    sigs: DataFrame, bands: int = 4, rows: int = 2, id_col: str = "doc_id"
) -> DataFrame:
    """Band the signature: (id, band, band_sig) where band_sig is the
    md5 of the band's '|'-joined row-hashes."""
    entries = ", ".join(
        f"named_struct('band', {b}, 'band_sig', "
        + H.md5_hex("concat_ws('|', " + ", ".join(f"h{b * rows + r}" for r in range(rows)) + ")")
        + ")"
        for b in range(bands)
    )
    return sigs.selectExpr(id_col, f"explode(array({entries})) AS e").selectExpr(
        id_col, "e.band AS band", "e.band_sig AS band_sig"
    )


def _bucket_pairs(b: DataFrame, keys: list[str], id_col: str) -> DataFrame:
    """(doc_a, doc_b) with doc_a < doc_b, once per bucket the two share.

    Pair generation via bucket-collect instead of a self-join: the
    signature pipeline upstream runs ONCE, and one groupBy replaces
    the join's two exchanges. Each bucket's sorted member list pairs
    every member with the ones after it. Bucket arrays are bounded by
    dup-cluster size; cap_hot_buckets caps pathological hot buckets
    before this groupBy ever buffers them."""
    return (
        b.groupBy(*keys)
        .agg(F.expr(f"sort_array(collect_list({id_col})) AS ids"))
        .filter("size(ids) > 1")
        .selectExpr("ids", "posexplode(ids) AS (i, doc_a)")
        .selectExpr("doc_a", "explode(slice(ids, i + 2, size(ids))) AS doc_b")
    )


def cap_hot_buckets(df: DataFrame, keys: list[str], max_bucket: int) -> DataFrame:
    """Drop every row belonging to a bucket with more than ``max_bucket``
    members, BEFORE any collect/self-join sees it.

    The 100 TB failure mode this guards: one boilerplate mega-bucket
    (an empty-string shingle, an all-zero simhash byte) puts its whole
    membership in a single aggregation buffer and then emits O(m²)
    pairs — a 10M-doc bucket means 10^14 pairs either way, so the only
    scale-correct move is to drop it, not join it (near-dup signal from
    boilerplate buckets is noise anyway; that's the same df-cut BM25
    applies to stopwords). The unbounded count window hash-partitions
    on the same keys the downstream groupBy/join clusters on, so the
    window's exchange is REUSED (its output partitioning satisfies the
    aggregate's required distribution) — the cap costs one in-partition
    sort, never a second shuffle of the banded rows."""
    return (
        df.selectExpr("*", f"count(1) OVER (PARTITION BY {', '.join(keys)}) AS _bsz")
        .filter(f"_bsz <= {max_bucket}")
        .drop("_bsz")
    )


def hot_bucket_report(df: DataFrame, keys: list[str], max_bucket: int) -> DataFrame:
    """Side report of the buckets cap_hot_buckets dropped:
    (keys..., n_members) per over-cap bucket — the audit trail a
    curation run publishes next to its dedup output."""
    return (
        df.groupBy(*keys)
        .agg(F.expr("CAST(count(1) AS BIGINT) AS n_members"))
        .filter(f"n_members > {max_bucket}")
    )


def dedup_minhash_lsh(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    rows: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int | None = None,
    with_report: bool = False,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing ≥1 LSH band bucket.
    Returns (doc_a, doc_b, n_shared_bands). ``max_bucket`` drops
    pathological hot buckets before the collect (cap_hot_buckets);
    capped output ≡ uncapped whenever no bucket exceeds the cap.
    ``with_report=True`` returns (pairs, hot_bucket_report) so a capped
    production run publishes WHAT it dropped next to its output instead
    of relying on the caller to remember the audit (ADVICE r7)."""
    # explode+groupBy (codegen'd md5 + map-side partial mins) beats the
    # map-only HOF variant locally: higher-order functions are
    # interpreted (CodegenFallback) and get re-evaluated per reference.
    b = lsh_band_buckets(
        minhash_signatures(shingle_set(docs, n, id_col, text_col), num_hashes, id_col),
        bands,
        rows,
        id_col,
    )
    if with_report and max_bucket is None:
        # ADVICE r8: an uncapped with_report call used to return
        # (pairs, None) — a silent shape change and a downstream
        # AttributeError. The report only describes what a CAP
        # dropped, so requiring the cap keeps the tuple meaningful.
        raise ValueError("with_report=True requires max_bucket")
    report = None
    if max_bucket is not None:
        if with_report:
            report = hot_bucket_report(b, ["band", "band_sig"], max_bucket)
        b = cap_hot_buckets(b, ["band", "band_sig"], max_bucket)
    out = (
        _bucket_pairs(b, ["band", "band_sig"], id_col)
        .groupBy("doc_a", "doc_b")
        .agg(F.expr("CAST(count(*) AS BIGINT) AS n_shared_bands"))
    )
    return (out, report) if with_report else out


def dedup_ngram_jaccard(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int | None = None,
    with_report: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard ≥ threshold via prefix filtering (AllPairs/
    PPJoin principle, Chaudhuri ICDE'06 / Bayardo WWW'07).

    Shingles are hashed to 60-bit ints and globally ordered by hash;
    only each doc's first ``sz - ceil(t·sz) + 1`` hashes enter the
    inverted-index self-join — any pair with J ≥ t must share a prefix
    hash, so candidate recall is exact. The exact intersection is then
    computed only for surviving candidate pairs via array_intersect on
    the per-doc sorted hash arrays.

    Scale: join shuffle volume scales with (1 - t)·corpus shingles
    (8-byte keys, never raw text); the full posting lists move once
    (groupBy) and are joined back only to the candidate pairs.
    Returns (doc_a, doc_b, inter, jaccard)."""
    sh = shingle_set(docs, n, id_col, text_col).selectExpr(
        id_col, f"{H.md5_long('shingle')} AS h"
    )
    arrs = sh.groupBy(id_col).agg(F.array_sort(F.collect_set("h")).alias("arr"))
    # Prefix rows are BARE (id, sz, pos, h) — 24 bytes — never the hash
    # arrays: with hot prefix hashes a pair row is emitted once per
    # shared hash, and carrying arrays through that multiplicity benches
    # ~40% slower than joining them back onto the deduplicated
    # candidates afterwards.
    prefix_len = (
        F.size("arr") - F.ceil(F.lit(float(threshold)) * F.size("arr")) + 1
    ).cast("int")
    pre = arrs.select(
        F.col(id_col),
        F.size("arr").alias("sz"),
        F.posexplode(F.slice(F.col("arr"), F.lit(1), prefix_len)).alias("pos", "h"),
    )
    # Bucket-collect pair generation (one groupBy, not a self-join's two
    # exchanges); posting lists per prefix hash are bounded by document
    # frequency — max_bucket drops hot-shingle posting lists
    # (boilerplate n-grams shared by a mega-clique) before the collect,
    # the same cap_hot_buckets guard the banding family has. NOTE: the
    # cap trades recall on the capped shingles (a qualifying pair whose
    # ONLY shared prefix hashes are all hot is lost), which is the
    # documented df-cut semantics, not silent truncation —
    # with_report=True returns (pairs, hot_bucket_report) so the capped
    # path publishes its own audit (ADVICE r7).
    if with_report and max_bucket is None:
        # ADVICE r8: an uncapped with_report call used to return
        # (pairs, None) — a silent shape change and a downstream
        # AttributeError. The report only describes what a CAP
        # dropped, so requiring the cap keeps the tuple meaningful.
        raise ValueError("with_report=True requires max_bucket")
    report = None
    if max_bucket is not None:
        if with_report:
            report = hot_bucket_report(pre, ["h"], max_bucket)
        pre = cap_hot_buckets(pre, ["h"], max_bucket)
    bk = (
        pre.groupBy("h")
        .agg(F.sort_array(F.collect_list(F.struct(id_col, "sz", "pos"))).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    ex = bk.select(F.col("ds"), F.posexplode("ds").alias("i", "a"))
    raw_pairs = ex.select(
        F.col("a"),
        F.explode(F.slice(F.col("ds"), F.col("i") + 2, F.size("ds"))).alias("b"),
    )
    # Positional filter (PPJoin, Xiao WWW'08): a shared prefix hash at
    # 0-based positions (pos_a, pos_b) bounds the achievable overlap by
    # 1 + min(remaining_a, remaining_b); candidates that cannot reach
    # the required overlap α = ceil(t/(1+t)·(sz_a+sz_b)) are dropped
    # before the pair shuffle. Exact: for a qualifying pair, its FIRST
    # shared prefix element always passes the bound.
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("a.sz") + F.col("b.sz"))
    )
    ubound = 1 + F.least(
        F.col("a.sz") - F.col("a.pos") - 1, F.col("b.sz") - F.col("b.pos") - 1
    )
    cands = (
        raw_pairs.filter(ubound >= alpha)
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .agg(F.count("*").alias("_m"))
    )
    # Join the posting arrays back onto the ~|result|-sized candidate
    # set. No explicit broadcast hint: `arrs` is corpus-proportional
    # (one hash array per doc), so forcing it to every executor is a
    # scale-killer at 100 TB. AQE (enabled in session.py) converts
    # these to broadcast joins at runtime exactly when the measured
    # shuffle output is under the threshold — small corpora keep the
    # broadcast plan, large ones get a shuffle hash join on the id.
    aa = arrs.select(F.col(id_col).alias("doc_a"), F.col("arr").alias("arr_a"))
    bb = arrs.select(F.col(id_col).alias("doc_b"), F.col("arr").alias("arr_b"))
    out = (
        cands.join(aa, "doc_a")
        .join(bb, "doc_b")
        .withColumn("inter", F.size(F.array_intersect("arr_a", "arr_b")).cast("long"))
        .withColumn(
            "jaccard",
            F.col("inter")
            / (F.size("arr_a") + F.size("arr_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "inter", F.round("jaccard", 6).alias("jaccard"))
    )
    return (out, report) if with_report else out


SIMHASH_BITS = 32


def simhash(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """32-bit SimHash over distinct tokens: bit b is set iff the sum of
    (±1 per token, + when token-hash bit b is set) is positive.

    One explode + one groupBy with 32 map-side-combinable sums (all
    codegen'd primitive ops; an HOF fold variant benched slower —
    higher-order functions run interpreted). The sums and the bit
    assembly over them are one SQL aggregate expression, built with a
    handful of py4j calls rather than thousands of Column nodes.
    """
    toks = docs.selectExpr(
        id_col, f"explode(array_distinct({X.tokens(text_col)})) AS tok"
    ).selectExpr(id_col, f"{H.md5_int32('tok')} AS hv")
    bits = " + ".join(
        f"CASE WHEN sum((shiftright(hv, {b}) & 1) * 2 - 1) > 0 THEN {1 << b} ELSE 0 END"
        for b in range(SIMHASH_BITS)
    )
    return toks.groupBy(id_col).agg(F.expr(f"CAST(0 AS BIGINT) + {bits} AS simhash"))


def dedup_simhash(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int | None = None,
    with_report: bool = False,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming. Candidates
    via byte-banding: 4 bands of 8 bits, so by pigeonhole every pair
    with hamming ≤ 3 shares at least one whole band — the default is
    exact. max_hamming > 3 trades recall for reach (pairs differing in
    4+ bits spread across all 4 bands are missed). ``max_bucket`` drops
    boilerplate mega-buckets before the collect (cap_hot_buckets).
    Returns (doc_a, doc_b, hamming)."""
    s = simhash(docs, id_col, text_col)
    structs = ", ".join(
        f"named_struct('band', {b}, 'band_val', shiftright(simhash, {8 * b}) & 255)"
        for b in range(4)
    )
    bands = s.select(id_col, "simhash", F.expr(f"explode(array({structs}))").alias("e")).select(
        id_col, "simhash", F.col("e.band").alias("band"), F.col("e.band_val").alias("band_val")
    )
    # Bucket-collect pair generation (see dedup_minhash_lsh): the
    # simhash aggregation runs once; sorted (id, simhash) structs give
    # doc_a < doc_b for free.
    if with_report and max_bucket is None:
        # ADVICE r8: an uncapped with_report call used to return
        # (pairs, None) — a silent shape change and a downstream
        # AttributeError. The report only describes what a CAP
        # dropped, so requiring the cap keeps the tuple meaningful.
        raise ValueError("with_report=True requires max_bucket")
    report = None
    if max_bucket is not None:
        if with_report:
            report = hot_bucket_report(bands, ["band", "band_val"], max_bucket)
        bands = cap_hot_buckets(bands, ["band", "band_val"], max_bucket)
    bk = (
        bands.groupBy("band", "band_val")
        .agg(F.sort_array(F.collect_list(F.struct(id_col, "simhash"))).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    ex = bk.select("band", F.col("ds"), F.posexplode("ds").alias("i", "a"))
    pairs = ex.select(
        "band",
        F.col("a"),
        F.explode(F.slice(F.col("ds"), F.col("i") + 2, F.size("ds"))).alias("b"),
    )
    # A pair qualifies in every band whose byte matches, so it would be
    # emitted up to 4x. Uncapped, keep only the FIRST matching band — a
    # codegen filter on the xor bytes — instead of a distinct(), which
    # would shuffle every surviving pair a second time. CAPPED, the
    # first-band trick is WRONG: a pair whose first matching band's
    # bucket was dropped by the cap still exists via a later kept band,
    # but the xor-byte filter (cap-blind) would reject it — so the
    # capped path pays the distinct() on the (small) surviving pair set
    # instead, matching the oracle's "shares ≥1 kept band" semantics.
    xor = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    sel = pairs.select(
        F.col(f"a.{id_col}").alias("doc_a"),
        F.col(f"b.{id_col}").alias("doc_b"),
        F.bit_count(xor).cast("long").alias("hamming"),
        xor.alias("_xor"),
        F.col("band"),
    ).filter(F.col("hamming") <= max_hamming)
    if max_bucket is not None:
        out = sel.drop("_xor", "band").distinct()
    else:
        first_band = "true" + "".join(
            f" AND (band <= {j} OR (shiftright(_xor, {8 * j}) & 255) != 0)" for j in range(3)
        )
        out = sel.filter(first_band).drop("_xor", "band")
    return (out, report) if with_report else out


def dedup_cluster(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over near-dup pairs → canonical keeper per
    doc (the step after any pair-generating dedup: clusters of
    transitively-linked documents collapse to their min id).

    Min-label propagation as iterative DataFrame joins: each round a
    node adopts the smallest label among itself and its neighbors;
    converges in O(component diameter) rounds (dup clusters are
    shallow). localCheckpoint() truncates the growing lineage each
    round — without it the plan tree doubles per iteration. The loop
    moves only (node, label) longs; the changed-count convergence
    check rides the checkpoint job itself as an observed metric
    (df.observe), so each round is exactly ONE job — no second count
    action over the cached rows.
    Returns (node, cluster_id, is_keeper).
    """
    from pyspark.sql import Observation
    edges = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    edges = (
        edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        neigh = (
            edges.join(labels, edges.src == labels.node)
            .groupBy("dst")
            .agg(F.min("label").alias("nmin"))
            .withColumnRenamed("dst", "node")
        )
        # The changed count rides the checkpoint job: eager
        # localCheckpoint executes the plan through withAction, which
        # reports observed metrics — verified to fire without any
        # follow-up action — so the per-round cost is one job, not two.
        best = F.least(F.col("label"), F.coalesce("nmin", F.col("label")))
        obs = Observation()
        labels = (
            labels.join(neigh, "node", "left")
            .select("node", best.alias("_new"), (best != F.col("label")).alias("_chg"))
            .withColumnRenamed("_new", "label")
            .observe(
                obs,
                F.coalesce(F.sum(F.col("_chg").cast("long")), F.lit(0)).alias("chg"),
            )
            .drop("_chg")
            .localCheckpoint()
        )
        if obs.get["chg"] == 0:
            break
    return labels.select(
        F.col("node"),
        F.col("label").alias("cluster_id"),
        (F.col("node") == F.col("label")).alias("is_keeper"),
    )


def dedup_embedding_lsh(
    vectors: DataFrame,
    planes: list[list[float]],
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup at scale: random-hyperplane LSH buckets as
    the candidate generator — only same-bucket pairs are scored, so
    the join shuffles one bucket id per row instead of exploding
    all-pairs. Exact cosine is applied to candidates; recall per pair
    with angle θ is (1 - θ/π)^n_planes (tune n_planes/band count for
    the target recall).
    Returns (id_a, id_b, score ≥ threshold)."""
    from ..functions import vector as V
    from .ann import lsh_bucket

    b = vectors.select(
        F.col(id_col),
        F.col(vec_col),
        lsh_bucket(vec_col, planes).alias("_bucket"),
        F.expr(V.l2_norm(vec_col)).alias("_nrm"),
    )
    a, c = b.alias("a"), b.alias("b")
    return (
        a.join(
            c,
            (F.col("a._bucket") == F.col("b._bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.expr(V.cosine(f"a.{vec_col}", f"b.{vec_col}", "a._nrm", "b._nrm")).alias("score"),
        )
        .filter(F.col("score") >= threshold)
        .select("id_a", "id_b", F.round("score", 6).alias("score"))
    )


def dedup_embedding_cosine(
    vectors: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: list[list[float]] | None = None,
    all_pairs: bool = False,
    n_planes: int = 4,
    seed: int = 7,
) -> DataFrame:
    """Embedding near-dup: pairs with cosine ≥ threshold.

    Default path is SCALE-SAFE: LSH-bucketed candidate generation +
    exact cosine rescoring of same-bucket pairs only (recall per pair
    at angle θ is (1 - θ/π)^n_planes — fewer planes = bigger buckets =
    higher recall at more compute). ``planes`` defaults to
    deterministic seeded hyperplanes (dim probed from the first row).

    ``all_pairs=True`` is the exact-recall escape hatch for BOUNDED
    slices only: O(n²) compute with a full-input broadcast — never run
    it on an unbounded corpus.
    Returns (id_a, id_b, score)."""
    from ..functions import vector as V

    if all_pairs:
        a = vectors.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
        b = vectors.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
        return (
            a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", F.expr(V.cosine("_va", "_vb")).alias("score"))
            .filter(F.col("score") >= threshold)
            .select("id_a", "id_b", F.round("score", 6).alias("score"))
        )
    if planes is None:
        from .ann import hyperplanes

        dim = len(vectors.select(vec_col).first()[0])
        planes = hyperplanes(n_planes, dim, seed)
    return dedup_embedding_lsh(vectors, planes, threshold, id_col, vec_col)


def _passjoin_segments(key_len: int, k: int) -> list[tuple[int, int, int]]:
    """Even PassJoin partition of a fixed-length key into k+1 segments:
    (seg_id, start_1based, seg_len). Shorter segments first, like
    Li et al. SIGMOD'11's even partition."""
    n_seg = k + 1
    base, extra = divmod(key_len, n_seg)
    out, pos = [], 1  # 1-based for SQL substring
    for i in range(n_seg):
        ln = base + (1 if i >= n_seg - extra else 0)
        out.append((i, pos, ln))
        pos += ln
    return out


def dedup_fuzzy_edit(
    docs: DataFrame,
    key_len: int = 32,
    k: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Edit-distance near-dup pairs: levenshtein ≤ k on the lowered
    ``key_len``-char prefix key, found via PassJoin segment blocking
    (Li et al. SIGMOD'11) — NOT an all-pairs theta join.

    Pigeonhole: k edits can corrupt at most k of the k+1 segments, so
    any qualifying pair shares at least one segment EXACTLY, shifted by
    at most k positions. Candidate generation is therefore an
    equi-join: index side emits each doc's k+1 segments, probe side
    emits each doc's substrings at the segment positions ± k (≤
    (k+1)(2k+1) short probe rows per doc); exact levenshtein then
    removes false positives. The shuffle carries ~10-char segment keys,
    never full texts, and candidates scale with segment-collision
    frequency, not n² (hot segments → AQE skew join). Docs shorter
    than ``key_len`` are excluded (their prefix key is not comparable
    under a fixed segmentation).

    Returns (doc_a < doc_b, edit_dist ≤ k), one row per pair."""
    segs = _passjoin_segments(key_len, k)
    d = (
        docs.filter(F.length(text_col) >= key_len)
        .select(
            F.col(id_col).alias("id"),
            F.substring(F.lower(F.col(text_col)), 1, key_len).alias("p"),
        )
    )
    seg_lits = F.array(
        *[
            F.struct(F.lit(i).alias("seg_id"), F.lit(s).alias("start"), F.lit(ln).alias("len"))
            for i, s, ln in segs
        ]
    )
    index = (
        d.select("id", "p", F.explode(seg_lits).alias("g"))
        .select(
            F.col("id").alias("id_i"),
            F.col("g.seg_id").alias("seg_id"),
            F.expr("substring(p, g.start, g.len)").alias("s"),
        )
    )
    probe_lits = F.array(
        *[
            F.struct(F.lit(i).alias("seg_id"), F.lit(s + dlt).alias("start"), F.lit(ln).alias("len"))
            for i, s, ln in segs
            for dlt in range(-k, k + 1)
            if 1 <= s + dlt and (s + dlt) + ln - 1 <= key_len
        ]
    )
    probes = (
        d.select("id", "p", F.explode(probe_lits).alias("g"))
        .select(
            F.col("id").alias("id_p"),
            F.col("g.seg_id").alias("seg_id"),
            F.expr("substring(p, g.start, g.len)").alias("s"),
        )
    )
    cand = (
        index.join(probes, ["seg_id", "s"])
        .filter(F.col("id_i") != F.col("id_p"))
        .select(
            F.least("id_i", "id_p").alias("id_a"),
            F.greatest("id_i", "id_p").alias("id_b"),
        )
        .distinct()
    )
    a = d.select(F.col("id").alias("id_a"), F.col("p").alias("pa"))
    b = d.select(F.col("id").alias("id_b"), F.col("p").alias("pb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("edit_dist", F.levenshtein("pa", "pb").cast("long"))
        .filter(F.col("edit_dist") <= k)
        .select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "edit_dist")
    )


def semdedup(
    vectors: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster-scoped semantic dedup.
    Every vector is assigned to its nearest (broadcast-literal)
    centroid; near-duplicate pairs are searched WITHIN each cluster
    only, so candidate volume scales with cluster occupancy, not n².
    A vector is dropped when some same-cluster vector with a smaller id
    has cosine ≥ threshold (keep-first, same convention as dedup_exact);
    its keeper is the smallest such id.

    Returns one row per dropped vector:
    (cid, vec_id, keeper_id = min qualifying smaller id,
     score = cosine to that keeper). Chains are reported pairwise —
    a keeper may itself be dropped against a smaller id (resolve full
    transitive groups with dedup_cluster over these pairs)."""
    from ..functions import vector as V
    from .ann import with_cell

    b = with_cell(vectors, vec_col, centroids, out_col="cid").select(
        "cid",
        F.col(id_col),
        F.col(vec_col),
        F.expr(V.l2_norm(vec_col)).alias("_nrm"),
    )
    # The self-join would otherwise evaluate the assignment subtree on
    # BOTH sides — and at k ∝ N the k interpreted per-centroid euclids
    # are the dominant stage cost (measured 2x the whole pipeline at
    # sf1: 20.5 s unmaterialized vs 10 s assign + 3 s join once
    # checkpointed). Same materialize-before-reuse posture as
    # dedup_cluster's iteration.
    b = b.localCheckpoint(eager=False)
    lhs, rhs = b.alias("a"), b.alias("b")
    pairs = (
        lhs.join(
            rhs,
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col("a.cid").alias("cid"),
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.expr(V.cosine(f"a.{vec_col}", f"b.{vec_col}", "a._nrm", "b._nrm")).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )
    return (
        pairs.groupBy("cid", F.col("id_b").alias(id_col))
        .agg(
            F.min("id_a").alias("keeper_id"),
            F.min_by("score", "id_a").alias("_s"),
        )
        .select("cid", id_col, "keeper_id", F.round("_s", 6).alias("score"))
    )


def minhash_accuracy(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    rows: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Estimator-quality harness for the MinHash sketch: for every LSH
    candidate pair, the signature-agreement estimate of Jaccard
    (#equal components / num_hashes) next to the EXACT shingle-set
    Jaccard and the absolute error — the measurement that sizes
    num_hashes/bands/rows for a target recall-precision point.

    ONE per-doc feature frame (shingle set + minhash components from a
    single shingle explode/groupBy) feeds the band-bucket candidate
    generation and both sides of the pair join — Spark shares no
    subtrees, so splitting signatures and sets into separate frames
    re-planned the shingle pipeline five times (measured; now three).
    Exact Jaccard is computed ONLY on candidates, never all pairs.
    Returns (doc_a, doc_b, est_jaccard, exact_jaccard, abs_err)."""
    sh = shingle_set(docs, n, id_col, text_col)
    feats = _minhash_features(sh, num_hashes, id_col)
    b = lsh_band_buckets(feats, bands, rows, id_col)
    pairs = _bucket_pairs(b, ["band", "band_sig"], id_col).distinct()
    sa = feats.select(
        F.col(id_col).alias("doc_a"),
        F.col("sset").alias("set_a"),
        *[F.col(f"h{r}").alias(f"a{r}") for r in range(num_hashes)],
    )
    sb = feats.select(
        F.col(id_col).alias("doc_b"),
        F.col("sset").alias("set_b"),
        *[F.col(f"h{r}").alias(f"b{r}") for r in range(num_hashes)],
    )
    est = sum(
        F.when(F.col(f"a{r}") == F.col(f"b{r}"), 1).otherwise(0) for r in range(num_hashes)
    ) / float(num_hashes)
    inter = F.size(F.array_intersect("set_a", "set_b")).cast("double")
    union = (
        F.size("set_a") + F.size("set_b") - F.size(F.array_intersect("set_a", "set_b"))
    ).cast("double")
    # No broadcast hint on `pairs`: LSH candidate volume is
    # data-dependent and unbounded on a skewed corpus, so forcing it
    # resident on every executor is unsafe at scale. AQE promotes the
    # join to broadcast at runtime when the pair set is actually small.
    return (
        sa.join(pairs, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(est, 6).alias("est_jaccard"),
            F.round(inter / union, 6).alias("exact_jaccard"),
            F.round(F.abs(est - inter / union), 6).alias("abs_err"),
        )
    )


def incremental_dedup(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    rows: int = 2,
    frac_num: int = 4,
    frac_den: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental (new-batch vs base-corpus) dedup — the nightly
    ingest posture: only the NEW slice is checked, against the base's
    indexed artifacts, never base-vs-base again.

    The batch split point ((max_id · frac_num) div frac_den) enters
    the plan as a broadcast scalar — no driver action. Exact layer:
    new docs probe the DISTINCT base content-hash set (md5 keys, never
    text, through the join). Near-dup layer: the minhash/LSH band
    pipeline runs ONCE over the corpus; new-side band rows equi-join
    base-side band rows, so candidate volume is bucket-collision
    bound exactly like dedup_minhash_lsh. At scale the base band
    table is the persisted index artifact — only the new slice is
    re-signed per batch.

    Returns one row per NEW doc: (doc_id, is_exact_dup,
    n_base_candidates = distinct base docs sharing ≥1 LSH band)."""
    split = docs.agg(F.max(id_col).alias("_m")).select(
        F.expr(f"_m * {frac_num} div {frac_den}").alias("_split")
    )
    tagged = docs.crossJoin(F.broadcast(split))
    new = tagged.filter(F.col(id_col) > F.col("_split"))
    base = tagged.filter(F.col(id_col) <= F.col("_split"))
    bhash = (
        base.select(F.md5(F.col(text_col)).alias("_h"))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    ex = (
        new.select(F.col(id_col), F.md5(F.col(text_col)).alias("_h"))
        .join(bhash, "_h", "left")
        .select(F.col(id_col), F.coalesce("_dup", F.lit(False)).alias("is_exact_dup"))
    )
    b = lsh_band_buckets(
        minhash_signatures(shingle_set(docs, n, id_col, text_col), num_hashes, id_col),
        bands,
        rows,
        id_col,
    ).crossJoin(F.broadcast(split))
    nb = b.filter(F.col(id_col) > F.col("_split")).select(
        F.col(id_col).alias("_new_id"), "band", "band_sig"
    )
    bb = b.filter(F.col(id_col) <= F.col("_split")).select(
        F.col(id_col).alias("_base_id"), "band", "band_sig"
    )
    cand = nb.join(bb, ["band", "band_sig"]).select("_new_id", "_base_id").distinct()
    counts = cand.groupBy("_new_id").agg(F.count("*").cast("long").alias("_n"))
    return (
        ex.join(counts, ex[id_col] == counts["_new_id"], "left")
        .select(
            id_col,
            "is_exact_dup",
            F.coalesce("_n", F.lit(0)).cast("long").alias("n_base_candidates"),
        )
    )


def substring_dedup(
    docs: DataFrame,
    w: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact substring-duplication signal (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better" — the
    ExactSubstr criterion, re-expressed relationally): a window of
    ``w`` consecutive tokens is *duplicated* when its hash occurs ≥ 2
    times corpus-wide (any doc, self-repeats included). Per doc:
    window count, duplicated-window count, duplicated fraction — the
    per-doc number the ExactSubstr cut step thresholds on.

    The suffix-array formulation of the paper is a single-machine
    construction; at 100 TB the equivalent signal is this relational
    shape: docs reduce to (id, window-hash) rows map-side
    (word_shingles — no shuffle), one map-side-combinable count per
    hash, and a hash-partitioned join back. Boilerplate-heavy hot
    windows are single aggregated rows on the count side, so skew is
    bounded and AQE split-joins the residue. Raw text never crosses a
    shuffle. Returns (doc_id, n_windows, n_dup_windows, dup_fraction).
    """
    wins = docs.selectExpr(
        id_col, f"explode({X.word_shingles(text_col, w)}) AS _win"
    ).selectExpr(id_col, f"{H.md5_long('_win')} AS _wh")
    counts = wins.groupBy("_wh").agg(F.count("*").cast("long").alias("_cnt"))
    per_doc = (
        wins.join(counts, "_wh")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_windows"),
            F.sum((F.col("_cnt") >= 2).cast("long")).cast("long").alias("n_dup_windows"),
        )
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_windows", F.lit(0)).cast("long").alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"),
        )
        .withColumn(
            "dup_fraction",
            F.round(
                F.when(F.col("n_windows") == F.lit(0), F.lit(0.0)).otherwise(
                    F.col("n_dup_windows") / F.col("n_windows")
                ),
                6,
            ),
        )
    )


def cluster_stats(cc: DataFrame) -> DataFrame:
    """Duplicate-cluster size profile over a connected-components
    labelling (dedup_cluster's output): for each cluster size, how
    many clusters have it, how many docs they hold, and how many of
    those docs dedup would remove (size − 1 per cluster, the keeper
    stays). The number that sizes a dedup run's payoff BEFORE the
    deletes happen — and the skew diagnostic for the components step
    (one giant cluster = a near-dup storm worth inspecting).

    Two map-side-combinable groupBys over the tiny (node, label)
    relation — the expensive part (pair generation + label
    propagation) is already done upstream."""
    per_cluster = cc.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("_sz")
    )
    return (
        per_cluster.groupBy(F.col("_sz").alias("cluster_size"))
        .agg(
            F.count("*").cast("long").alias("n_clusters"),
            F.sum("_sz").cast("long").alias("n_docs"),
            F.sum(F.col("_sz") - 1).cast("long").alias("n_removable"),
        )
    )


def minhash_band_sweep(
    docs: DataFrame,
    configs: tuple[tuple[int, int], ...] = ((8, 1), (4, 2), (2, 4), (1, 8)),
    n: int = 3,
    num_hashes: int = 8,
    tau: float = 0.02,
    max_id: int = 120,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Banding-scheme sweep for MinHash-LSH (the bands×rows sizing
    curve next to minhash_accuracy's estimator error): for each
    (bands, rows) split of the same ``num_hashes`` signature, the
    candidate count plus recall/precision against exact shingle
    Jaccard ≥ τ — the empirical S-curve that picks a banding scheme
    for a target threshold (more rows per band → fewer, more precise
    candidates; more bands → higher recall).

    Ground truth needs EXACT Jaccard on every pair, so the harness
    runs on an explicitly bounded id-prefix subset (``max_id``, the
    similarity_matrix posture) — the pair relation is
    O(max_id²) BY CONSTRUCTION, never corpus-scaled; production
    candidate generation stays the banded path this sweep sizes. All
    configs evaluate on ONE signature frame and ONE pair pass (the
    config axis explodes per pair).

    Returns (bands, rows, n_pairs, n_true, n_candidates, n_hits,
    recall, precision) — recall/precision null when undefined."""
    for b, r in configs:
        if b * r > num_hashes:
            raise ValueError(f"config {b}x{r} exceeds {num_hashes} hashes")
    sub = docs.filter(F.col(id_col) < max_id)
    sh = shingle_set(sub, n, id_col, text_col)
    feats = _minhash_features(sh, num_hashes, id_col)
    sa = feats.select(
        F.col(id_col).alias("doc_a"),
        F.col("sset").alias("set_a"),
        *[F.col(f"h{r}").alias(f"a{r}") for r in range(num_hashes)],
    )
    sb = feats.select(
        F.col(id_col).alias("doc_b"),
        F.col("sset").alias("set_b"),
        *[F.col(f"h{r}").alias(f"b{r}") for r in range(num_hashes)],
    )
    # bounded-subset theta join: the exact-truth requirement, NOT the
    # production candidate path (see docstring)
    pairs = sa.join(sb, F.col("doc_a") < F.col("doc_b"))
    inter = F.size(F.array_intersect("set_a", "set_b")).cast("double")
    union = (
        F.size("set_a") + F.size("set_b") - F.size(F.array_intersect("set_a", "set_b"))
    ).cast("double")

    def _cand(b: int, r: int):
        bands_ok = [
            reduce_and([F.col(f"a{band * r + row}") == F.col(f"b{band * r + row}")
                        for row in range(r)])
            for band in range(b)
        ]
        out = bands_ok[0]
        for expr in bands_ok[1:]:
            out = out | expr
        return out

    def reduce_and(exprs):
        out = exprs[0]
        for e in exprs[1:]:
            out = out & e
        return out

    cfg = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).cast("long").alias("bands"),
                    F.lit(r).cast("long").alias("rows"),
                    _cand(b, r).alias("cand"),
                )
                for b, r in configs
            ]
        )
    ).alias("c")
    per = pairs.select((inter / union).alias("_j"), cfg).select(
        F.col("c.bands").alias("bands"),
        F.col("c.rows").alias("rows"),
        F.col("c.cand").alias("_cand"),
        (F.col("_j") >= tau).alias("_true"),
    )
    n_true = F.sum(F.when(F.col("_true"), 1).otherwise(0)).cast("long")
    n_cand = F.sum(F.when(F.col("_cand"), 1).otherwise(0)).cast("long")
    n_hit = F.sum(F.when(F.col("_cand") & F.col("_true"), 1).otherwise(0)).cast("long")
    return (
        per.groupBy("bands", "rows")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            n_true.alias("n_true"),
            n_cand.alias("n_candidates"),
            n_hit.alias("n_hits"),
        )
        .select(
            "bands",
            "rows",
            "n_pairs",
            "n_true",
            "n_candidates",
            "n_hits",
            F.when(
                F.col("n_true") > 0,
                F.round(F.col("n_hits") / F.col("n_true"), 6),
            ).alias("recall"),
            F.when(
                F.col("n_candidates") > 0,
                F.round(F.col("n_hits") / F.col("n_candidates"), 6),
            ).alias("precision"),
        )
    )


def soft_dedup_weights(
    universe: DataFrame,
    pairs: DataFrame,
    id_col: str = "vec_id",
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Soft deduplication: REWEIGHT duplicates instead of deleting
    them (SoftDeDup-style down-weighting; the `1/cluster_size`
    sampling weight that makes every duplicate cluster contribute one
    effective document to training). Hard dedup throws away paraphrase
    diversity; the soft variant keeps every copy at weight
    1/|cluster|, so the training distribution matches the deduped one
    in expectation while retaining intra-cluster variation.

    Plan: connected components over the near-dup pairs (shared
    dedup_cluster iteration — the oracle's recursive CTE hash-checks
    it), a cluster-size rollup over the (node, label) longs, then ONE
    left join back to the id universe — docs outside every pair get
    weight 1.0 without ever entering the iteration (at 100 TB the CC
    loop runs on the pair-touched minority, never the corpus).
    Returns (id, cluster_size, weight)."""
    cc = dedup_cluster(pairs, a_col, b_col)
    sizes = cc.groupBy("cluster_id").agg(F.count("*").cast("long").alias("_sz"))
    labelled = cc.join(sizes, "cluster_id").select(
        F.col("node").alias("_node"), "_sz"
    )
    ids = universe.select(F.col(id_col))
    return (
        ids.join(labelled, ids[id_col] == F.col("_node"), "left")
        .select(
            id_col,
            F.coalesce("_sz", F.lit(1)).cast("long").alias("cluster_size"),
            F.round(F.lit(1.0) / F.coalesce("_sz", F.lit(1)), 6).alias("weight"),
        )
    )


def dedup_containment(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    rows: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Shingle-set CONTAINMENT on LSH candidates (Broder'97's second
    resemblance measure): c(A→B) = |A∩B|/|A|. Symmetric Jaccard
    misses the excerpt/quote case — a short doc wholly contained in a
    long one scores low Jaccard but containment ≈ 1 — which is
    exactly the boilerplate-inclusion / quoted-reply shape a corpus
    dedup wants to see. Emits both directions plus the excerpt flag
    (max containment ≥ 0.8 while Jaccard < 0.5: contained but not
    near-identical).

    Same ONE-feature-frame posture as minhash_accuracy (single
    shingle explode feeds bands and both pair sides); candidates are
    band-bucket-bound, exact set ops run on candidates only.
    Returns (doc_a, doc_b, jaccard, cont_a_in_b, cont_b_in_a,
    is_excerpt)."""
    sh = shingle_set(docs, n, id_col, text_col)
    feats = _minhash_features(sh, num_hashes, id_col)
    b = lsh_band_buckets(feats, bands, rows, id_col)
    pairs = _bucket_pairs(b, ["band", "band_sig"], id_col).distinct()
    sa = feats.select(F.col(id_col).alias("doc_a"), F.col("sset").alias("set_a"))
    sb = feats.select(F.col(id_col).alias("doc_b"), F.col("sset").alias("set_b"))
    inter = F.size(F.array_intersect("set_a", "set_b")).cast("double")
    na = F.size("set_a").cast("double")
    nb = F.size("set_b").cast("double")
    jac = inter / (na + nb - inter)
    ca = inter / na
    cb = inter / nb
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(jac, 6).alias("jaccard"),
            F.round(ca, 6).alias("cont_a_in_b"),
            F.round(cb, 6).alias("cont_b_in_a"),
            ((F.greatest(ca, cb) >= 0.8) & (jac < 0.5)).alias("is_excerpt"),
        )
    )
