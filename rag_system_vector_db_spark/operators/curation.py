"""Training-data curation operators: repetition signals, quality
filter gates, benchmark contamination, corpus mix, length profiling.

These are the corpus-curation passes an LLM training pipeline runs
between raw ingest and tokenization (the Gopher/C4 filtering recipe
family). Everything here is pure DataFrame ops — explode + map-side
combinable groupBys or plain Column expressions — no Python workers,
no driver collection, so every pass scales with the corpus.

Reference parity note: the reference (a Milvus RAG app) has no
curation layer; these operators are the "beyond the reference"
pipeline suite the Spark engine adds. They share the tokenizer and
stopword conventions of operators/text_analysis.py so signals compose.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as X
from ..functions.exact import MICRO
from ..functions.vector import lit_array


def repetition_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition signals per document: fraction of token
    occurrences that are duplicates, most-frequent-token share, and the
    same two signals over word 2-grams. High values flag boilerplate /
    degenerate repetition for filtering.

    Plan: two explode subtrees (1-grams, 2-grams), each reduced by a
    map-side-combinable groupBy(doc, gram) then groupBy(doc); both agg
    outputs are hash-partitioned on the doc key, so the final join
    reuses that partitioning (no extra exchange). No windows, no
    driver state — linear in corpus token count at any scale.
    Returns (doc_id, n_tokens, n_uniq_tokens, dup_token_frac,
    top_token_frac, top_2gram_frac, dup_2gram_frac).
    """
    toks = docs.select(
        F.col(id_col), F.explode(F.expr(X.tokens(text_col))).alias("g")
    ).filter(F.col("g") != "")
    t1 = (
        toks.groupBy(id_col, "g")
        .agg(F.count("*").alias("c"))
        .groupBy(id_col)
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("n_uniq_tokens"),
            F.max("c").alias("top_c"),
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("dup_c"),
        )
    )
    grams2 = docs.select(
        F.col(id_col),
        F.explode(F.expr(X.word_shingles(text_col, 2))).alias("g"),
    )
    t2 = (
        grams2.groupBy(id_col, "g")
        .agg(F.count("*").alias("c"))
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n2"),
            F.max("c").alias("top2_c"),
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("dup2_c"),
        )
    )
    return (
        t1.join(t2, id_col, "left")
        .select(
            F.col(id_col),
            "n_tokens",
            "n_uniq_tokens",
            F.round(F.col("dup_c") / F.col("n_tokens"), 6).alias("dup_token_frac"),
            F.round(F.col("top_c") / F.col("n_tokens"), 6).alias("top_token_frac"),
            F.round(
                F.coalesce(F.col("top2_c") / F.col("n2"), F.lit(0.0)), 6
            ).alias("top_2gram_frac"),
            F.round(
                F.coalesce(F.col("dup2_c") / F.col("n2"), F.lit(0.0)), 6
            ).alias("dup_2gram_frac"),
        )
    )


def quality_filters(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 20,
    max_tokens: int = 80,
    min_word_len: float = 3.0,
    max_word_len: float = 8.0,
    min_stopword_frac: float = 0.05,
    min_ttr: float = 0.3,
) -> DataFrame:
    """C4/Gopher-style hard filter gates, one boolean per rule plus the
    conjunction `keep` — the standard pre-tokenization document filter.

    All pure codegen Column expressions over one scan (no shuffle at
    all); flag thresholds compare at FULL double precision (the
    displayed metrics are rounded copies), so boundary documents don't
    flip between engines. Returns (doc_id, n_tokens, mean_word_len,
    stopword_frac, ttr, ok_len, ok_word_len, ok_stopwords, ok_ttr,
    keep).
    """
    t = F.col(text_col)
    toks = F.expr(X.tokens(text_col))
    n = F.size(toks)
    mean_wl = (F.length(t) - (n - 1)) / n
    sw_frac = F.expr(X.stopword_count(text_col)) / n
    ttr = F.size(F.array_distinct(toks)) / n
    ok_len = (n >= min_tokens) & (n <= max_tokens)
    ok_wl = (mean_wl >= min_word_len) & (mean_wl <= max_word_len)
    ok_sw = sw_frac >= min_stopword_frac
    ok_ttr = ttr >= min_ttr
    return docs.select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(sw_frac, 6).alias("stopword_frac"),
        F.round(ttr, 6).alias("ttr"),
        ok_len.alias("ok_len"),
        ok_wl.alias("ok_word_len"),
        ok_sw.alias("ok_stopwords"),
        ok_ttr.alias("ok_ttr"),
        (ok_len & ok_wl & ok_sw & ok_ttr).alias("keep"),
    )


def benchmark_contamination(
    docs: DataFrame,
    bench: DataFrame | None = None,
    n: int = 4,
    bench_mod: int = 53,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Eval-set contamination scan: which training documents share any
    word n-gram with a benchmark document (the n-gram-overlap decontam
    check run before training; production pipelines use 8-13-grams —
    n=4 here because the synthetic corpus draws from a 31-word vocab).

    ``bench`` defaults to the deterministic `doc_id % bench_mod == 0`
    subset of the corpus (a stand-in for the real eval set);
    self-matches are excluded. The benchmark side is tiny relative to
    the corpus, so its distinct grams BROADCAST to the training-side
    explode — the corpus-sized subtree joins without a shuffle, and
    only matching grams survive into the per-doc aggregation.
    Returns (doc_id, n_shared_grams, n_bench_docs), contaminated
    training docs only.
    """
    grams = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(F.expr(X.word_shingles(text_col, n)))).alias("g"),
    ).filter(F.col("g") != "")
    if bench is None:
        bench_grams = grams.filter(F.col(id_col) % bench_mod == 0).select(
            F.col(id_col).alias("bench_id"), "g"
        )
    else:
        bench_grams = bench.select(
            F.col(id_col).alias("bench_id"),
            F.explode(
                F.array_distinct(F.expr(X.word_shingles(text_col, n)))
            ).alias("g"),
        ).filter(F.col("g") != "")
    return (
        grams.join(F.broadcast(bench_grams), "g")
        .filter(F.col(id_col) != F.col("bench_id"))
        .groupBy(id_col)
        .agg(
            F.countDistinct("g").cast("long").alias("n_shared_grams"),
            F.countDistinct("bench_id").cast("long").alias("n_bench_docs"),
        )
    )


def corpus_mix(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Training-mix table per (source, lang): document/token/char
    totals and each cell's share of corpus tokens — the table a
    data-mixture (sampling-weight) decision is made from.

    One map-side-combinable groupBy; the share is a window over the
    ALREADY-AGGREGATED frame (n_sources x n_langs rows, i.e. tiny), so
    the unpartitioned window never sees corpus-sized data.
    Returns (source, lang, n_docs, total_tokens, total_chars,
    token_share).
    """
    agg = docs.groupBy("source", "lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.expr(X.token_count(text_col))).cast("long").alias("total_tokens"),
        F.sum(F.length(F.col(text_col))).cast("long").alias("total_chars"),
    )
    w = Window.partitionBy()
    return agg.select(
        "source",
        "lang",
        "n_docs",
        "total_tokens",
        "total_chars",
        F.round(F.col("total_tokens") / F.sum("total_tokens").over(w), 6).alias(
            "token_share"
        ),
    )


def length_histogram(
    docs: DataFrame,
    bin_width: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Token-length histogram per (lang, fixed-width bin) — the length
    profile used to pick sequence-length / packing parameters.

    Integer-exact binning (`n_tokens div bin_width`), so bucket edges
    can't drift between engines the way float log2 boundaries do. One
    map-side-combinable groupBy. Returns (lang, bin_lo, n_docs,
    total_tokens, min_tokens, max_tokens).
    """
    n = F.expr(X.token_count(text_col)).cast("long")
    # integer modulo, not float-divide-then-cast: DuckDB casts DOUBLE ->
    # BIGINT by rounding-to-nearest while Spark truncates, so the float
    # route would disagree on odd half-bins.
    binned = docs.select(
        F.col("lang"), n.alias("n"), (n - n % bin_width).alias("bin_lo")
    )
    return binned.groupBy("lang", "bin_lo").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n").cast("long").alias("total_tokens"),
        F.min("n").cast("long").alias("min_tokens"),
        F.max("n").cast("long").alias("max_tokens"),
    )


def classifier_weights(n_features: int = 64, seed: str = "qcls") -> list[float]:
    """Deterministic stand-in weights for a trained quality classifier
    (the fasttext linear model of the CCNet/GPT-3 filtering recipes):
    one weight in [-1, 1) per hashed feature bucket, derived from md5
    of the bucket index and rounded to 6 dp so both engines inline the
    exact same decimals. The SWAP POINT for a real model: replace this
    list with the trained weight vector — every plan below is
    unchanged (weights are broadcast literals either way, exactly like
    the IVF centroid and PCA basis literals)."""
    import hashlib

    out = []
    for i in range(n_features):
        h = int(hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[:15], 16)
        out.append(round(h / float(16**15) * 2.0 - 1.0, 6))
    return out


def quality_classifier(
    docs: DataFrame,
    n_features: int = 64,
    weights: list[float] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """fasttext-style linear quality scorer (Joulin EACL'17 shape, the
    learned counterpart of quality_filters' hand-set gates): tokens
    hash into ``n_features`` buckets, the doc's raw score is the mean
    bucket weight, prob is its sigmoid, keep = raw >= 0.

    Plan: one explode + ONE map-side-combinable groupBy(doc); the
    weight lookup is element_at on a broadcast literal array (pure
    codegen, no join, no Python). Determinism across engines: weights
    are INTEGER micro-units (functions.exact) summed exactly as longs —
    order-free, no float accumulation anywhere — and the exact sum is
    what the output carries: ``sum_micro / n_tokens`` in micro-units IS the
    raw mean-weight score, bit-recoverable. A rounded rational raw
    score is deliberately NOT emitted: s/n can land exactly on a 5e-7
    rounding boundary (observed at sf0.001), where engines' double
    rounding legitimately disagrees; the sigmoid prob is transcendental
    and cannot tie, so it rounds safely.
    Returns (doc_id, n_tokens, sum_micro, prob, keep)."""
    from ..functions import hashing as H

    w = weights if weights is not None else classifier_weights(n_features)
    w_micro = [int(round(x * MICRO)) for x in w]
    warr = lit_array(w_micro).cast("array<long>")
    toks = docs.select(
        F.col(id_col), F.explode(F.expr(X.tokens(text_col))).alias("tok")
    ).filter(F.col("tok") != "")
    feat = toks.select(
        F.col(id_col),
        F.element_at(warr, (F.expr(H.md5_long("tok")) % n_features + 1).cast("int")).alias("wt"),
    )
    per = feat.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum("wt").cast("long").alias("sum_micro"),
    )
    raw = F.col("sum_micro").cast("double") / (F.col("n_tokens") * float(MICRO))
    return per.select(
        F.col(id_col),
        "n_tokens",
        "sum_micro",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-raw)), 6).alias("prob"),
        (F.col("sum_micro") >= 0).alias("keep"),
    )


def dsir_lambdas(n_features: int = 64, seed: str = "dsir") -> list[float]:
    """Deterministic stand-in for the per-bucket log-likelihood ratio
    log p_target(b) − log p_raw(b) of DSIR's two fitted hashed n-gram
    models (Xie et al. NeurIPS'23, "Data Selection for Language Models
    via Importance Resampling"). Same derivation as
    ``classifier_weights`` under its own seed; the SWAP POINT for real
    fitted models — replace this list with the fitted log-ratios and
    every plan below is unchanged (broadcast literals, exactly like
    the IVF centroids / PCA basis / classifier weights)."""
    return classifier_weights(n_features, seed=seed)


def dsir_selection(
    docs: DataFrame,
    n_features: int = 64,
    lambdas: list[float] | None = None,
    keep_quantile: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR data selection (Xie et al. NeurIPS'23): per-doc importance
    log-ratio under hashed n-gram features — unigrams AND bigrams hash
    into ``n_features`` buckets, the doc's log importance weight is
    the sum of per-bucket log-ratios — then select the top
    ``1 - keep_quantile`` fraction by corpus quantile cut (the
    resampling step's deterministic analog: DSIR's Gumbel-top-k keeps
    the highest-weight docs in expectation; the quantile cut is the
    noise-free version both engines replay exactly).

    Determinism: λ in INTEGER micro-units summed as longs (order-free,
    no float accumulation — the quality_classifier posture); the
    reported ``importance`` is exp of the per-feature mean log-ratio
    (geometric-mean ratio — bounded, overflow-free; transcendental so
    its 6-dp rounding cannot tie on a boundary). Plan: two map-side
    explodes union into ONE map-side-combinable groupBy(doc); the
    quantile cut is a 1-row broadcast crossJoin (exact percentile
    here; approx_percentile is the stated 100 TB swap-in).
    Returns (doc_id, n_feats, logratio_micro, importance, selected)."""
    from ..functions import hashing as H

    lams = lambdas if lambdas is not None else dsir_lambdas(n_features)
    lam_micro = [int(round(x * MICRO)) for x in lams]
    larr = lit_array(lam_micro).cast("array<long>")
    uni = docs.select(F.col(id_col), F.explode(F.expr(X.tokens(text_col))).alias("f"))
    bi = docs.select(F.col(id_col), F.explode(F.expr(X.word_shingles(text_col, 2))).alias("f"))
    feats = uni.unionAll(bi).filter(F.col("f") != "")
    per = (
        feats.select(
            F.col(id_col),
            F.element_at(
                larr, (F.expr(H.md5_long("f")) % n_features + 1).cast("int")
            ).alias("_lam"),
        )
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_feats"),
            F.sum("_lam").cast("long").alias("logratio_micro"),
        )
    )
    cut = per.agg(
        F.expr(f"percentile(logratio_micro, {keep_quantile})").alias("_cut")
    )
    return per.crossJoin(F.broadcast(cut)).select(
        F.col(id_col),
        "n_feats",
        "logratio_micro",
        F.round(
            F.exp(F.col("logratio_micro").cast("double") / (F.col("n_feats") * float(MICRO))),
            6,
        ).alias("importance"),
        (F.col("logratio_micro") >= F.col("_cut")).alias("selected"),
    )


def train_test_split(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    train_pct: int = 90,
    valid_pct: int = 5,
    seed: str = "split",
) -> DataFrame:
    """Deterministic stratified train/valid/test split audit — the
    hash-based split every training pipeline needs to be REPRODUCIBLE:
    a doc's split follows from its id alone (seeded md5 bucket 0..99),
    so it is stable across runs, engines, cluster sizes, and future
    ingests (new docs land in splits without reshuffling old ones —
    the property rand()-based splits lack, whose stream depends on
    partitioning).

    Returns per (source, split): doc count, token count, and the
    split's share of its source (the stratification check — each
    stratum should mirror the global 90/5/5). One scan, one
    map-side-combinable groupBy; at 100 TB the same bucket expression
    IS the partition column of the split write, so downstream readers
    prune to their split without a filter scan.
    """
    from ..functions import hashing as H

    bucket = F.expr(H.md5_long(f"CAST({id_col} AS STRING)", seed=seed)) % 100
    split = (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + valid_pct, F.lit("valid"))
        .otherwise(F.lit("test"))
    )
    n_tok = (
        F.length(F.col(text_col))
        - F.length(F.translate(F.col(text_col), " ", ""))
        + 1
    )
    per = (
        docs.select(F.col("source"), split.alias("split"), n_tok.alias("_t"))
        .groupBy("source", "split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("_t").cast("long").alias("n_tokens"),
        )
    )
    src_tot = Window.partitionBy("source")
    return per.select(
        "source",
        "split",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_docs") / F.sum("n_docs").over(src_tot), 6).alias("source_share"),
    )
