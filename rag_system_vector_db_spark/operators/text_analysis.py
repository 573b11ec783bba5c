"""Text-analysis operators for a training-data pipeline: language ID,
quality scoring, token counting, document fingerprinting.

All pure Column expressions (codegen, pushdown-friendly); the md5
fingerprint family is portable to the DuckDB oracle (functions.hashing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import hashing as H
from ..functions import text as X
from ..functions.exact import from_micro, to_micro
from .knn import topk_per_key

# Public-domain common-word lists per language (tiny on purpose — the
# operator shape matters, swap lists freely).
STOPWORDS = {
    "en": ("the", "a", "an", "and", "of", "to", "in", "is", "it", "that"),
    "de": ("der", "die", "das", "und", "ist", "ein", "zu", "den", "mit", "von"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "des", "du", "que"),
    "es": ("el", "la", "los", "las", "y", "es", "un", "una", "de", "que"),
}


def _ratio(text_col: str, words: tuple[str, ...]):
    return F.expr(X.stopword_count(text_col, words)) / F.expr(X.token_count(text_col))


def lang_id(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Stopword-ratio language guess. Argmax over per-language ratios,
    ties broken by language-code order (en first)."""
    ratios = {lang: _ratio(text_col, words) for lang, words in STOPWORDS.items()}
    best = F.greatest(*ratios.values())
    pred = F.lit("unknown")
    for lang in reversed(list(STOPWORDS)):  # earlier langs win ties
        pred = F.when(ratios[lang] == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best > 0, pred).otherwise(F.lit("unknown"))
    return docs.select(
        F.col(id_col),
        pred.alias("pred_lang"),
        F.round(best, 6).alias("stopword_ratio"),
    )


def text_quality(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Quality metrics: token count, type-token ratio, mean word
    length, composite score in [0,1]."""
    t = F.col(text_col)
    toks = F.expr(X.tokens(text_col))
    n = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    ttr = n_uniq / n
    mean_wl = (F.length(t) - (n - 1)) / n  # chars minus separators
    score = F.round(ttr * 0.5 + F.least(n / F.lit(100.0), F.lit(1.0)) * 0.5, 6)
    return docs.select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        n_uniq.cast("long").alias("n_uniq_tokens"),
        F.round(ttr, 6).alias("ttr"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        score.alias("quality_score"),
    )


def token_counts(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Whitespace token counting + distinct counts (BPE-ish proxy:
    distinct lowercase alphanumeric tokens)."""
    t = F.col(text_col)
    toks = F.expr(X.tokens(text_col))
    return docs.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_uniq_tokens"),
        F.length(t).cast("long").alias("n_chars_computed"),
    )


# BPE-ish pre-tokenization split (GPT-2-style, ASCII-simplified):
# letter runs | digit runs | single non-alphanumeric non-space marks.
BPE_SPLIT_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Characteristic char-trigram profiles per language (tiny on purpose;
# the operator shape is the point — swap profiles freely).
NGRAM_PROFILES = {
    "en": ("the", "ing", "and", "ion"),
    "de": ("der", "sch", "ein", "und"),
    "fr": ("les", "ent", "que", "des"),
    "es": ("que", "los", "ado", "nte"),
}


def bpe_token_count(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """BPE-ish regex pre-tokenization counts: letter runs, digit runs
    and punctuation marks as separate tokens (the GPT-2 pre-tokenizer
    shape). chars_per_token is a compression-rate proxy for token-budget
    estimation. All codegen (regexp_extract_all)."""
    t = F.col(text_col)
    toks = F.regexp_extract_all(t, F.lit(BPE_SPLIT_PATTERN), F.lit(0))
    return docs.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_uniq_bpe_tokens"),
        F.round(F.length(t) / F.size(toks), 6).alias("chars_per_token"),
    )


def _gram_count(t, gram: str):
    """Occurrences of ``gram`` in t via the length-difference trick —
    pure codegen string ops, no explode, portable to any SQL engine."""
    return (F.length(t) - F.length(F.replace(t, F.lit(gram), F.lit("")))) / len(gram)


def lang_id_ngram(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Character-trigram-profile language guess: per language, total
    occurrences of its characteristic trigrams per 100 chars; argmax
    wins, ties broken by language-code order (en first)."""
    t = F.col(text_col)
    scores = {
        lang: F.round(
            sum((_gram_count(t, g) for g in grams), F.lit(0.0)) / F.length(t) * 100, 6
        )
        for lang, grams in NGRAM_PROFILES.items()
    }
    best = F.greatest(*scores.values())
    pred = F.lit("unknown")
    for lang in reversed(list(NGRAM_PROFILES)):  # earlier langs win ties
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best > 0, pred).otherwise(F.lit("unknown"))
    return docs.select(
        F.col(id_col),
        pred.alias("pred_lang"),
        best.alias("ngram_score"),
    )


def tfidf_top_terms(
    docs: DataFrame, k: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Top-k TF-IDF terms per document (smoothed idf =
    ln((N+1)/(df+1))). Corpus statistics as two shuffles: term
    frequency per (doc, term) and document frequency per term (both
    map-side combinable); N is a broadcast scalar. Top-k per doc via
    window on the scored rows.
    Returns (doc_id, term, tf, df, tfidf, rank)."""
    toks = docs.select(
        F.col(id_col), F.explode(F.expr(X.tokens(text_col))).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy(id_col, "term").agg(F.count("*").cast("long").alias("tf"))
    # df as an unordered count window OVER tf — the scan+explode+tf
    # subtree runs exactly ONCE (a groupBy+join-back formulation plans
    # it twice; Spark doesn't share the subtree). No orderBy → no sort,
    # just a term-hashed exchange; hot-term skew here equals the skew
    # the df-join's term shuffle would have had anyway.
    w = Window.partitionBy("term")
    n_docs = docs.select(F.count("*").alias("_n"))
    scored = (
        tf.withColumn("df", F.count("*").over(w).cast("long"))
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", F.col("tf") * F.log((F.col("_n") + 1) / (F.col("df") + 1)))
    )
    return topk_per_key(scored, id_col, "term", k, score_col="tfidf").select(
        id_col,
        "term",
        "tf",
        "df",
        F.round("tfidf", 6).alias("tfidf"),
        F.col("rank").cast("long").alias("rank"),
    )


# Default redaction patterns: real PII shapes (email/phone may hit
# nothing on clean corpora — that's the point of a scrubber) plus a
# blocklist slot for eval-set decontamination terms.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}[-.]\d{3,4}[-.]\d{4}\b",
}


def redact_terms(
    docs: DataFrame,
    patterns: dict[str, str] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """PII / contaminant scrubbing: apply each named regex in order,
    replacing matches with ``[NAME]`` and counting hits per pattern —
    the decontamination pass a training pipeline runs before tokenizing.

    Pure codegen string ops (regexp_count/regexp_replace), portable to
    the DuckDB oracle. Returns (id, n_<name>..., n_chars_redacted,
    redacted_hash)."""
    if patterns is None:
        patterns = PII_PATTERNS
    t = F.col(text_col)
    counts = [
        F.regexp_count(t, F.lit(p)).cast("long").alias(f"n_{name}")
        for name, p in patterns.items()
    ]
    red = t
    for name, p in patterns.items():
        red = F.regexp_replace(red, p, f"[{name.upper()}]")
    return docs.select(
        F.col(id_col),
        *counts,
        F.length(red).cast("long").alias("n_chars_redacted"),
        F.md5(red).alias("redacted_hash"),
    )


def normalize_text(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Canonicalization before hashing/dedup: lowercase, strip
    non-alphanumerics (keeping spaces), collapse whitespace runs, trim.
    Emits the normalized length and md5 so exact-dedup keys off the
    canonical form, not raw bytes."""
    t = F.col(text_col)
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(t), r"[^a-z0-9 ]", ""), r" +", " "
        )
    )
    return docs.select(
        F.col(id_col),
        F.length(norm).cast("long").alias("n_chars_norm"),
        F.md5(norm).alias("norm_hash"),
    )


def ngram_counts(
    docs: DataFrame,
    n: int = 2,
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level top-k word n-grams (collocation mining / corpus
    profiling). One explode + one map-side-combinable count shuffle +
    TakeOrdered(k) — no global sort. Ties break on the gram string.
    Returns (gram, n_docs, n_occurrences) for the k most frequent."""
    grams = docs.select(
        F.col(text_col),
        F.explode(F.expr(X.word_shingles(text_col, n))).alias("gram"),
    ).filter(F.col("gram") != "")
    counts = grams.groupBy("gram").agg(
        F.count("*").cast("long").alias("n_occurrences")
    )
    per_doc = (
        docs.select(
            F.explode(F.array_distinct(F.expr(X.word_shingles(text_col, n)))).alias(
                "gram"
            )
        )
        .filter(F.col("gram") != "")
        .groupBy("gram")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )
    return (
        counts.join(per_doc, "gram")
        .orderBy(F.col("n_occurrences").desc(), F.col("gram"))
        .limit(k)
        .select("gram", "n_docs", "n_occurrences")
    )


def doc_fingerprint(
    docs: DataFrame,
    k: int = 4,
    shingle_len: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """k-min-hash fingerprint over character shingles (winnowing-style):
    the k lexicographically smallest md5s of distinct char n-grams.

    Shuffle-free plan: per row, sort the distinct shingle hashes and
    slice the k smallest (array_sort + slice inside codegen), then
    posexplode k rows per doc — no wide explode, no window shuffle.
    Returns (doc_id, fp_rank, fp_hash).
    """
    hashes = F.expr(
        "array_sort(array_distinct(transform("
        f"array_distinct({X.char_shingles(text_col, shingle_len)}), s -> md5(s))))"
    )
    return docs.select(
        F.col(id_col), F.posexplode(F.slice(hashes, 1, k)).alias("pos", "fp_hash")
    ).select(F.col(id_col), (F.col("pos") + 1).cast("long").alias("fp_rank"), "fp_hash")


def lm_perplexity(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """CCNet-style LM quality signal (Wenzek et al. LREC'20): per-doc
    perplexity under a corpus-trained unigram LM, bucketed head /
    middle / tail by perplexity terciles. The deterministic unigram
    model stands in for KenLM (not in this container) — the swap point
    is the (term → logp) table; everything downstream is unchanged.

    The tokenize subtree plans exactly ONCE: vocab counts come from an
    unordered sum window over the tf frame partitioned by term (the
    tfidf df trick — a groupBy+join-back would plan the explode
    twice), and the corpus total enters via the decomposition
    logp = Σ tf·ln(cnt)/n − ln(total), where total is a global window
    over the one-row-per-doc frame (n_docs rows through a single
    partition — tiny; the oracle uses the identical decomposition so
    float semantics agree). The tercile split orders by the
    Σ tf·ln(cnt)/n term alone — equivalent, since −ln(total) is a
    constant shift. Swap ntile for approx quantile cuts if even
    n_docs rows can't sort at your scale.
    Returns (doc_id, n_tokens, avg_logp, perplexity, ppl_bucket)."""
    toks = docs.select(
        F.col(id_col), F.explode(F.expr(X.tokens(text_col))).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy(id_col, "term").agg(F.count("*").cast("long").alias("tf"))
    w_term = Window.partitionBy("term")
    scored = tf.withColumn("cnt", F.sum("tf").over(w_term).cast("double"))
    per_doc = scored.groupBy(id_col).agg(
        F.sum("tf").cast("long").alias("n_tokens"),
        (F.sum(F.col("tf") * F.log("cnt")) / F.sum("tf")).alias("_a"),
    )
    w_all = Window.partitionBy()  # single-partition frame: n_docs rows
    # tercile split on the 6dp-ROUNDED score (r8, the bm25 lesson):
    # replica docs are mathematically tied but carry 1-ulp-different
    # doubles per engine (per-doc agg order), so ordering by the raw
    # double makes the tie-break nondeterministic cross-engine.
    w_rank = Window.orderBy(F.round(F.col("_a"), 6).desc(), F.col(id_col))
    with_tot = per_doc.withColumn(
        "_logp", F.col("_a") - F.log(F.sum("n_tokens").over(w_all).cast("double"))
    ).withColumn("_bucket", F.ntile(3).over(w_rank))
    return with_tot.select(
        F.col(id_col),
        "n_tokens",
        F.round("_logp", 6).alias("avg_logp"),
        F.round(F.exp(-F.col("_logp")), 6).alias("perplexity"),
        F.when(F.col("_bucket") == 1, "head")
        .when(F.col("_bucket") == 2, "middle")
        .otherwise("tail")
        .alias("ppl_bucket"),
    )


def tokenizer_fertility(
    docs: DataFrame, text_col: str = "text", lang_col: str = "lang"
) -> DataFrame:
    """Tokenizer fertility per language — subword tokens per
    whitespace word, the multilingual tokenizer-efficiency metric
    (high fertility = a language pays more sequence length per word;
    the number tokenizer-vocab sizing and corpus-mix decisions weigh).
    Subwords are the BPE-ish regex pre-tokens of bpe_token_count;
    also reports chars-per-subword (compression rate).

    One narrow projection + ONE map-side-combinable groupBy(lang);
    all counts are exact integer sums, ratios derived once from the
    aggregated longs. Returns (lang, n_docs, n_subword_tokens,
    n_words, n_chars, fertility, chars_per_subword)."""
    t = F.col(text_col)
    toks = F.regexp_extract_all(t, F.lit(BPE_SPLIT_PATTERN), F.lit(0))
    per = docs.select(
        F.col(lang_col),
        F.size(toks).cast("long").alias("_bpe"),
        F.size(F.expr(X.tokens(text_col))).cast("long").alias("_words"),
        F.length(t).cast("long").alias("_chars"),
    )
    return per.groupBy(lang_col).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("_bpe").cast("long").alias("n_subword_tokens"),
        F.sum("_words").cast("long").alias("n_words"),
        F.sum("_chars").cast("long").alias("n_chars"),
        F.round(F.sum("_bpe") / F.sum("_words"), 6).alias("fertility"),
        F.round(F.sum("_chars") / F.sum("_bpe"), 6).alias("chars_per_subword"),
    )


def lang_confusion(
    docs: DataFrame, gold_col: str = "lang", text_col: str = "text"
) -> DataFrame:
    """Language-ID evaluation confusion matrix: the stopword-ratio
    classifier's prediction (same expression as lang_id — no join back
    to the docs, the pred is recomputed inline so ONE scan feeds the
    whole evaluation) against the gold label column.

    Returns one row per observed (gold_lang, pred_lang) cell: count,
    recall_share (cell / gold-row total — the diagonal cell's value IS
    that language's recall) and precision_share (cell / pred-column
    total — the diagonal's precision). The two shares are windows over
    the ≤ |langs|² confusion frame, not the corpus. This is the audit
    that decides whether the cheap classifier is good enough to gate a
    corpus-mix decision, and per-language where it bleeds."""
    ratios = {lang: _ratio(text_col, words) for lang, words in STOPWORDS.items()}
    best = F.greatest(*ratios.values())
    pred = F.lit("unknown")
    for lang in reversed(list(STOPWORDS)):
        pred = F.when(ratios[lang] == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best > 0, pred).otherwise(F.lit("unknown"))
    cells = (
        docs.select(F.col(gold_col).alias("gold_lang"), pred.alias("pred_lang"))
        .groupBy("gold_lang", "pred_lang")
        .agg(F.count("*").cast("long").alias("n"))
    )
    by_gold = Window.partitionBy("gold_lang")
    by_pred = Window.partitionBy("pred_lang")
    return cells.select(
        "gold_lang",
        "pred_lang",
        "n",
        F.round(F.col("n") / F.sum("n").over(by_gold), 6).alias("recall_share"),
        F.round(F.col("n") / F.sum("n").over(by_pred), 6).alias("precision_share"),
    )


def pmi_collocations(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 50,
) -> DataFrame:
    """PMI-scored bigram collocations (Church & Hanks 1990) — the
    phrase-mining pass behind tokenizer vocab extension and
    multi-word-entity discovery: pmi(x,y) = ln P(x,y) − ln P(x) −
    ln P(y), estimated from corpus bigram/unigram occurrence counts.

    Plan: the corpus collapses to the unigram and bigram COUNT frames
    first (two explode + map-side-combinable groupBys — the same
    vocabulary-sized-then-independent-of-corpus-size trick as
    bpe_pair_counts); totals derive from those frames (no third corpus
    scan) and ride a 1-row broadcast. The min_count floor (Dunning's
    low-count-PMI pathology: hapax pairs score highest) cuts the
    candidate frame before the two vocabulary joins — AQE broadcasts
    the floored side when small. Top-k via sort-limit (TakeOrdered —
    no global sort), rank assigned on the ≤k survivors. PMI is a
    fixed-order sum of ln's over exact integer counts (no big
    products, no overflow), ordered at full precision and rounded to 6
    decimals after ranking."""
    # The unigram frame feeds three consumers (x-join, y-join, totals)
    # and the bigram frame two (candidates, totals); a lazy
    # localCheckpoint materializes each VOCAB-SIZED count frame once so
    # the corpus is tokenized exactly twice — without it every consumer
    # re-runs its own corpus explode (observed: 5 parquet scans).
    uni = (
        docs.select(F.explode(F.expr(X.tokens(text_col))).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    bi = (
        docs.select(F.explode(F.expr(X.word_shingles(text_col, 2))).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").cast("long").alias("c_xy"))
        .localCheckpoint(eager=False)
    )
    totals = uni.agg(F.sum("c").alias("n_uni")).crossJoin(
        bi.agg(F.sum("c_xy").alias("n_bi"))
    )
    x = uni.select(F.col("term").alias("_x"), F.col("c").alias("c_x"))
    y = uni.select(F.col("term").alias("_y"), F.col("c").alias("c_y"))
    parts = F.split("bigram", " ")
    cand = (
        bi.filter(F.col("c_xy") >= min_count)
        .withColumn("_x", parts.getItem(0))
        .withColumn("_y", parts.getItem(1))
        .join(x, "_x")
        .join(y, "_y")
        .crossJoin(F.broadcast(totals))
    )
    pmi = (
        F.log("c_xy") - F.log("c_x") - F.log("c_y") - F.log("n_bi")
        + F.lit(2.0) * F.log("n_uni")
    )
    top = (
        cand.select("bigram", "c_xy", "c_x", "c_y", pmi.alias("_pmi"))
        .orderBy(F.col("_pmi").desc(), "bigram")
        .limit(k)
    )
    w = Window.orderBy(F.col("_pmi").desc(), "bigram")
    return top.select(
        "bigram",
        "c_xy",
        "c_x",
        "c_y",
        F.round("_pmi", 6).alias("pmi"),
        F.row_number().over(w).cast("long").alias("rank"),
    )


def token_entropy(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document unigram entropy H = ln(n) − (Σ_t tf·ln tf)/n and
    its normalized form H/ln(n) ∈ [0,1] — the information-density
    quality signal that separates degenerate repetition (→0) from
    diverse text (→1), complementing text_quality's TTR (entropy sees
    the full distribution, TTR only support size).

    MAP-ONLY: per-row HOFs compute each term's in-doc frequency
    (distinct-terms × filter scan — O(len²) per doc but zero
    shuffles; at 100 TB this is a pure scan job). The Σ tf·ln tf
    cross-term sum quantizes each term's contribution to micro-unit
    longs BEFORE the fold, so summation order can't move the result —
    the fold itself is exact integer addition."""
    toks = f"filter({X.tokens(text_col)}, x -> x != '')"
    n = f"size({toks})"
    uniq = f"array_distinct({toks})"
    tf = f"CAST(size(filter({toks}, x -> x = u)) AS DOUBLE)"
    e_sum = (
        f"aggregate(transform({uniq}, u -> {to_micro(f'{tf} * ln({tf})')}),"
        " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    h = f"ln(CAST({n} AS DOUBLE)) - {from_micro(e_sum)} / {n}"
    return docs.selectExpr(
        id_col,
        f"CAST({n} AS BIGINT) AS n_tokens",
        f"CAST(size({uniq}) AS BIGINT) AS n_uniq",
        f"round({h}, 6) AS entropy",
        f"round(CASE WHEN {n} > 1 THEN ({h}) / ln(CAST({n} AS DOUBLE)) ELSE 0.0D END, 6)"
        " AS norm_entropy",
    )


def lm_perplexity_bigram(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc perplexity under a corpus-trained BIGRAM LM with add-1
    smoothing — one order up from lm_perplexity's unigram model
    (CCNet's KenLM is a 5-gram; the bigram captures the local-fluency
    signal a unigram can't: scrambled text scores high-ppl here even
    when its unigram mix is normal). P(y|x) = (c_xy + 1)/(c_x· + V)
    with c_x· = x's corpus count AS A PREFIX (derived from the bigram
    frame itself) and V = unigram vocab size.

    Plan: the corpus collapses to the vocab²-bounded bigram count
    frame once (lazy localCheckpoint — it feeds both the prefix rollup
    and the scoring join); per-doc scoring joins (doc, bigram, tf)
    against it on the bigram key. Each (doc, bigram) contribution
    quantizes ln P to micro-units and multiplies by the integer tf, so
    the per-doc sum is exact longs — order-free. V and the tercile
    bucketing mirror lm_perplexity's conventions.
    Returns (doc_id, n_bigrams, avg_logp, perplexity)."""
    bi_occ = docs.select(
        F.col(id_col), F.explode(F.expr(X.word_shingles(text_col, 2))).alias("bigram")
    )
    bi_counts = (
        bi_occ.groupBy("bigram")
        .agg(F.count("*").cast("long").alias("c_xy"))
        .localCheckpoint(eager=False)
    )
    prefix = F.split("bigram", " ").getItem(0)
    px_counts = (
        bi_counts.select(prefix.alias("_x"), "c_xy")
        .groupBy("_x")
        .agg(F.sum("c_xy").cast("long").alias("c_x"))
    )
    vocab = (
        docs.select(F.explode(F.expr(X.tokens(text_col))).alias("term"))
        .filter(F.col("term") != "")
        .agg(F.count_distinct("term").cast("long").alias("_v"))
    )
    doc_tf = bi_occ.groupBy(id_col, "bigram").agg(
        F.count("*").cast("long").alias("tf")
    )
    term_u = F.expr(f"tf * {to_micro('ln((c_xy + 1) / CAST(c_x + _v AS DOUBLE))')}")
    per_doc = (
        doc_tf.join(bi_counts, "bigram")
        .join(px_counts, F.split("bigram", " ").getItem(0) == F.col("_x"))
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("long").alias("n_bigrams"),
            F.sum(term_u).alias("_lu"),
        )
    )
    logp = F.expr(f"{from_micro('_lu')} / n_bigrams")
    return per_doc.select(
        F.col(id_col),
        "n_bigrams",
        F.round(logp, 6).alias("avg_logp"),
        F.round(F.exp(-logp), 6).alias("perplexity"),
    )
