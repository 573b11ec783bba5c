"""Chunking operators — Spark-first re-expression of the reference's
chunking strategies.

Reference parity:
- src/chunking_strategy.py:19 ``process_diary_chunks``: date-regex day
  detection (``N{st,nd,rd,th} Day of <Month> 18xx - <title>``), date
  lines become their own chunks, content chunks every 3 lines, per-chunk
  line_count/word_count/is_date_chunk + day metadata (full_date, title).
- src/archive/chunking_strategy.py:4 ``split_large_chunk``: max-size
  splitting at sentence/space boundaries.

Scale design: everything is windowed **per document** (partitionBy
doc_id) — a corpus of diaries parallelizes across executors; no global
ordering, no driver-side loops. The reference's single-stream loop
becomes window cumsums + groupBy, all JVM-side.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as X
from ..functions.vector import sql_literal

DATE_PATTERN = r"^\d{1,2}(st|nd|rd|th)? Day of [A-Za-z]+ 18\d{2} - .+$"
TITLE_PATTERN = r" - (.+)$"
WORD_SPLIT = r"\s+"  # Python's str.split(): runs of whitespace


def _tokenized(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, _t): the token array, split once per doc. Inlined into the
    window lambda, the split would run again for every window."""
    return docs.selectExpr(id_col, f"{X.tokens(text_col)} AS _t")


def _windows(count: str, step: int, width: int) -> str:
    """SQL text of ``count`` token windows of the token array ``_t``,
    each joined by single spaces: window i spans tokens
    [i·step, i·step + width). One transform(sequence) per row, SQL
    text so that its lambda costs no py4j round trip to build."""
    return (
        f"transform(sequence(0, {count} - 1),"
        f" i -> concat_ws(' ', slice(_t, i * {step} + 1, {width})))"
    )


def chunk_by_tokens(
    docs: DataFrame,
    window: int = 40,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fixed token-window chunking (the generic strategy).

    Returns (id, chunk_number, chunk_text, word_count, n_chars).
    One split, one transform(sequence) and one posexplode per doc,
    map-side; no shuffle.
    """
    chunks = _windows(f"CAST(ceil(size(_t) / {window}) AS INT)", window, window)
    exploded = _tokenized(docs, id_col, text_col).selectExpr(
        id_col, f"posexplode({chunks}) AS (chunk_number, chunk_text)"
    )
    return exploded.selectExpr(
        id_col,
        "CAST(chunk_number AS BIGINT) AS chunk_number",
        "chunk_text",
        f"CAST({X.token_count('chunk_text')} AS BIGINT) AS word_count",
        "CAST(length(chunk_text) AS BIGINT) AS n_chars",
    )


def diary_lines(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_per_line: int = 5,
) -> DataFrame:
    """Synthesize a diary-shaped line stream from flat documents: a
    deterministic date header line + the text re-wrapped N tokens per
    line. Lets the diary chunker run on the synthetic corpus with an
    exactly reproducible oracle."""
    n_lines = f"CAST(ceil(size(_t) / {tokens_per_line}) AS INT)"
    body = _windows(n_lines, tokens_per_line, tokens_per_line)
    header = (
        f"concat(CAST({id_col} % 28 + 1 AS STRING), ' Day of March 1887 - Entry ',"
        f" CAST({id_col} AS STRING))"
    )
    return _tokenized(docs, id_col, text_col).selectExpr(
        id_col, f"posexplode(concat(array({header}), {body})) AS (line_no, line)"
    ).selectExpr(id_col, "CAST(line_no AS BIGINT) AS line_no", "line")


def chunk_diary(
    lines: DataFrame,
    lines_per_chunk: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """Diary chunker (chunking_strategy.py:19) over a (doc, line_no,
    line) stream. Date-header lines open a new day and emit their own
    chunk; content lines group into ``lines_per_chunk`` chunks within
    the day. Content before the first date line is dropped (reference
    behavior).

    Returns (doc_id, day_id, chunk_id, is_date_chunk, chunk_text,
    line_count, word_count, title).

    Reference-exact details (replayed against the reference's own
    golden fixtures in tests/test_chunking_golden.py): lines are
    stripped and blank lines dropped (chunking_strategy.py's
    ``line.strip(); if line:``), and word_count counts WHITESPACE-RUN
    tokens (Python ``str.split()``), not single-space fields — the
    PDF-extracted diary text is full of double spaces and the two
    differ on every such line.
    """
    words = f"size(split(line, {sql_literal(WORD_SPLIT)}))"
    lined = (
        lines.selectExpr(id_col, "line_no", "trim(line) AS line")
        .filter("line != ''")
        .selectExpr("*", f"line RLIKE {sql_literal(DATE_PATTERN)} AS is_date")
        .selectExpr(
            "*",
            f"sum(CAST(is_date AS INT)) OVER (PARTITION BY {id_col} ORDER BY line_no) AS day_id",
        )
    )

    # Day metadata (title) — one row per day, joined back.
    days = lined.filter("is_date").selectExpr(
        id_col, "day_id", f"regexp_extract(line, {sql_literal(TITLE_PATTERN)}, 1) AS title"
    )

    date_chunks = lined.filter("is_date").selectExpr(
        id_col,
        "day_id",
        "CAST(-1 AS BIGINT) AS chunk_id",
        "true AS is_date_chunk",
        "line AS chunk_text",
        "CAST(1 AS BIGINT) AS line_count",
        f"CAST({words} AS BIGINT) AS word_count",
    )

    content_chunks = (
        lined.filter("NOT is_date AND day_id >= 1")
        .selectExpr(
            "*",
            f"FLOOR((row_number() OVER (PARTITION BY {id_col}, day_id ORDER BY line_no) - 1)"
            f" / {lines_per_chunk}) AS chunk_id",
        )
        .groupBy(id_col, "day_id", "chunk_id")
        .agg(
            F.expr(
                "concat_ws('\\n', transform(array_sort(collect_list(struct(line_no, line))),"
                " x -> x.line)) AS chunk_text"
            ),
            F.expr("CAST(count(*) AS BIGINT) AS line_count"),
            # per-line whitespace-token sum == tokens of '\n'.join(buffer)
            # because every buffered line is stripped and non-empty
            F.expr(f"CAST(sum({words}) AS BIGINT) AS word_count"),
        )
        .selectExpr(
            id_col, "day_id", "chunk_id", "false AS is_date_chunk",
            "chunk_text", "line_count", "word_count",
        )
    )

    # days is one row per detected day heading — corpus-proportional,
    # so no forced broadcast; AQE promotes the join when it is small.
    return date_chunks.unionByName(content_chunks).join(days, [id_col, "day_id"])


def diary_stats(chunks: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Corpus metadata rollup (chunking_strategy.py:115): per doc
    total_days, total_chunks, avg_chunks_per_day."""
    return chunks.groupBy(id_col).agg(
        F.countDistinct("day_id").cast("long").alias("total_days"),
        F.count("*").cast("long").alias("total_chunks"),
        F.round(F.count("*") / F.countDistinct("day_id"), 6).alias("avg_chunks_per_day"),
    )


def split_large_chunks(
    chunks: DataFrame,
    max_size: int = 800,
    text_col: str = "chunk_text",
) -> DataFrame:
    """Greedy max-size splitting at sentence/space boundaries
    (archive/chunking_strategy.py:4 ``split_large_chunk``).

    The greedy rfind loop is inherently sequential per chunk → Arrow
    pandas_udf via mapInPandas (batched, no per-row pickling). Emits
    one row per part with ``part_no``; all other columns pass through.
    """
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in chunks.schema.fields
    ) + ", part_no bigint, part_text string"

    def split_text(text: str) -> list[str]:
        parts: list[str] = []
        while len(text) > max_size:
            cut = text.rfind(".", 0, max_size)
            if cut == -1:
                cut = text.rfind(" ", 0, max_size)
            if cut == -1:
                cut = max_size
            parts.append(text[: cut + 1].strip())
            text = text[cut + 1 :].strip()
        if text:
            parts.append(text)
        return parts

    def gen(batches):
        for pdf in batches:
            rows = []
            for rec in pdf.to_dict("records"):
                for i, part in enumerate(split_text(rec[text_col])):
                    rows.append({**rec, "part_no": i, "part_text": part})
            yield pd.DataFrame(rows, columns=list(pdf.columns) + ["part_no", "part_text"])

    return chunks.mapInPandas(gen, schema=out_schema)


def sequence_packing(
    docs: DataFrame,
    seq_len: int = 512,
    shard_size: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "lang",
) -> DataFrame:
    """GPT-style sequence packing layout: per group (language shard),
    documents are concatenated in id order into one token stream cut
    every ``seq_len`` tokens; each doc's byte-position in that stream
    is its prefix token sum.

    The prefix sum is computed the SCALE-SAFE two-phase way, not with
    one global window: (1) docs get a shard id (``id div shard_size``);
    a window inside each (group, shard) computes the within-shard
    prefix — bounded partitions, no global sort; (2) per-shard totals
    (a small frame: one row per shard) get a cumulative window per
    group, giving each shard its stream offset; an equi-join (AQE
    broadcasts it when small) adds the two. Result is bit-identical
    to the naive full-stream cumsum —
    which is exactly what the oracle computes — while the only
    full-data sort is per-shard.

    Token count is the allocation-free spaces+1 scalar (single-space
    tokenization). Returns (group, doc_id, n_tokens, start_offset,
    first_pack, last_pack, n_packs) — first/last pack index the
    seq_len-token training sequences the doc lands in."""
    n_tok = (
        F.length(F.col(text_col))
        - F.length(F.translate(F.col(text_col), " ", ""))
        + 1
    ).cast("long")
    d = docs.select(
        F.col(group_col).alias("grp"),
        F.col(id_col),
        n_tok.alias("n_tokens"),
        # integer div, not float division: float truncates toward zero
        # for negative ids and loses precision past 2^53.
        F.expr(f"{id_col} div {shard_size}").cast("long").alias("_shard"),
    )
    w_in = (
        Window.partitionBy("grp", "_shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = d.withColumn("_pre", F.sum("n_tokens").over(w_in) - F.col("n_tokens"))
    totals = d.groupBy("grp", "_shard").agg(F.sum("n_tokens").alias("_tot"))
    w_sh = (
        Window.partitionBy("grp")
        .orderBy("_shard")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = totals.withColumn(
        "_off", F.sum("_tot").over(w_sh) - F.col("_tot")
    ).select("grp", "_shard", "_off")
    # offsets is one row per shard — corpus/shard_size, so it is NOT
    # fixed-size; no forced broadcast (AQE promotes when small).
    out = within.join(offsets, ["grp", "_shard"]).select(
        F.col("grp").alias(group_col),
        F.col(id_col),
        "n_tokens",
        (F.col("_pre") + F.col("_off")).alias("start_offset"),
    )
    first = F.expr(f"start_offset div {seq_len}")
    last = F.expr(f"(start_offset + n_tokens - 1) div {seq_len}")
    return out.select(
        group_col,
        id_col,
        "n_tokens",
        "start_offset",
        first.cast("long").alias("first_pack"),
        last.cast("long").alias("last_pack"),
        (last - first + 1).cast("long").alias("n_packs"),
    )


def chunk_overlapping(
    docs: DataFrame,
    window: int = 40,
    stride: int = 30,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Overlapping token-window chunking — the RAG chunk_overlap
    parameter (LangChain/LlamaIndex's overlap = window − stride):
    chunks start every ``stride`` tokens and span ``window``, so
    adjacent chunks share ``window − stride`` tokens and no sentence
    is ever split across a retrieval boundary without a copy that
    contains it whole. Start count = 1 + ceil(max(n − window, 0) /
    stride) — the final start is the last one that adds new tokens.

    Same codegen shape as chunk_by_tokens (transform(sequence) +
    posexplode, no shuffle); returns (id, chunk_number, start_token,
    chunk_text, word_count)."""
    n_starts = f"CAST(1 + ceil(greatest(size(_t) - {window}, 0) / {stride}) AS INT)"
    chunks = _windows(n_starts, stride, window)
    exploded = _tokenized(docs, id_col, text_col).selectExpr(
        id_col, f"posexplode({chunks}) AS (chunk_number, chunk_text)"
    )
    return exploded.selectExpr(
        id_col,
        "CAST(chunk_number AS BIGINT) AS chunk_number",
        f"CAST(chunk_number * {stride} AS BIGINT) AS start_token",
        "chunk_text",
        f"CAST({X.token_count('chunk_text')} AS BIGINT) AS word_count",
    )
