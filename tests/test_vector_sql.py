"""Vector math is SQL text, exact against the DuckDB oracle.

`functions.vector` renders every vector expression for Spark and its
`dd_` twin for DuckDB: the float folds (dot, l2_norm, cosine with
inline or hoisted norms, euclidean) with one sequential double sum,
and the integer ones (SQ8 codes, their code distance, sign bits)
exactly, so the two engines must agree with `==`, not within a
tolerance. `knn.topk` takes the query norm on the driver; its scores
must still equal the oracle's cosine. A zero vector scores NULL on
both engines, in every ranker and pair scorer, instead of failing the
whole query. Two lints keep it so: a token lint finds a fold shape
anywhere outside `functions/vector.py`, and an AST lint finds the
Python-lambda higher-order functions, which cost a py4j round trip
per lambda node, anywhere in the package. `word_shingles`, one regex,
equals the oracle's list slicing on edge inputs.
"""

from __future__ import annotations

import ast
import io
import pathlib
import re
import tokenize

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from rag_system_vector_db_spark.functions import text as X
from rag_system_vector_db_spark.functions import vector as V
from rag_system_vector_db_spark.operators import knn
from rag_system_vector_db_spark.operators.ann import ann_lsh_topk, hard_negative_mining, sq8_topk
from rag_system_vector_db_spark.operators.dedup import dedup_embedding_lsh, semdedup
from rag_system_vector_db_spark.operators.hybrid import hybrid_search_rrf
from rag_system_vector_db_spark.operators.vector_store import VectorCollection
from rag_system_vector_db_spark.registry import LAZY_ORACLES, ORACLES, QUERIES
from rag_system_vector_db_spark.sources import TABLES
from tests.oracle import compare, duck_connection
from tests.test_topk_lint import _SKIP, _STRING, _enclosing

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = ROOT / "rag_system_vector_db_spark"
LINTED = [PKG]


def _random_parquet(path, n: int, dim: int, seed: int = 0, zero_rows=()) -> str:
    rng = np.random.default_rng(seed)
    mat = rng.standard_normal((n, dim)).astype(np.float32)
    mat[list(zero_rows)] = 0.0
    table = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(mat.tolist(), pa.list_(pa.float32())),
        }
    )
    pq.write_table(table, str(path))
    return str(path)


@pytest.fixture(scope="module", params=["sf", "random384"])
def vectors(request, spark, sf_dir, tmp_path_factory):
    if request.param == "sf":
        return f"{sf_dir}/embeddings.parquet"
    return _random_parquet(tmp_path_factory.mktemp("v") / "rand.parquet", 2000, 384)


def _edge_parquet(path) -> str:
    """64-dim vectors under absmax 127, so the SQ8 scale is exactly 1.0:
    row 0 is zero, row 1 holds ±absmax, and rows 2 and 3 hold half-way
    values, where x / scale + 0.5 is an exact integer of either sign."""
    rng = np.random.default_rng(11)
    mat = np.clip(rng.standard_normal((40, 64)) * 30, -126, 126)
    mat[0] = 0.0
    mat[1, :2] = [127.0, -127.0]
    halves = np.arange(32) + 0.5
    mat[2] = np.concatenate([halves, -halves])
    mat[3] = np.concatenate([127 - halves, halves - 127])
    table = pa.table(
        {
            "vec_id": pa.array(range(len(mat)), pa.int64()),
            "embedding": pa.array(mat.astype(np.float32).tolist(), pa.list_(pa.float32())),
        }
    )
    pq.write_table(table, str(path))
    return str(path)


@pytest.fixture(scope="module", params=["sf", "random384", "edge64", "zeros64"])
def math_vectors(request, sf_dir, tmp_path_factory):
    if request.param == "edge64":
        return _edge_parquet(tmp_path_factory.mktemp("v") / "edge.parquet")
    if request.param == "zeros64":  # absmax 0: the SQ8 scale is 1, every code 0
        return _random_parquet(tmp_path_factory.mktemp("v") / "zeros.parquet", 40, 64, zero_rows=range(40))
    if request.param == "sf":
        return f"{sf_dir}/embeddings.parquet"
    return _random_parquet(tmp_path_factory.mktemp("v") / "rand.parquet", 2000, 384, zero_rows=[5])


def test_vector_math_equals_duckdb_exactly(spark, math_vectors):
    """Each Spark builder equals its dd_ twin bit for bit, zero rows
    (NULL cosines), an all-zero corpus, and SQ8 half-way and clamp
    inputs included."""
    df = spark.read.parquet(math_vectors)
    side = df.crossJoin(df.selectExpr(f"{V.sq8_absmax('embedding')} AS am")).selectExpr(
        "vec_id",
        "embedding",
        "am",
        f"{V.l2_norm('embedding')} AS n",
        f"{V.sq8_code('embedding', 'am')} AS c",
        f"{V.sign_bits('embedding', 32)} AS lo",
        f"{V.sign_bits('slice(embedding, 33, 32)', 32)} AS hi",
    )
    got = {
        (r[0], r[1]): tuple(r[2:])
        for r in side.alias("a")
        .crossJoin(side.filter("vec_id < 4").alias("b"))
        .selectExpr(
            "a.vec_id",
            "b.vec_id",
            V.dot("a.embedding", "b.embedding"),
            V.l2_norm("a.embedding"),
            V.cosine("a.embedding", "b.embedding"),
            V.cosine("a.embedding", "b.embedding", "a.n", "b.n"),
            V.euclidean("a.embedding", "b.embedding"),
            V.sq_euclidean("a.embedding", "b.embedding"),
            "a.am",
            "a.c",
            V.code_sq_dist("a.c", "b.c"),
            "a.lo",
            "a.hi",
        )
        .collect()
    }
    rows = duckdb.connect().execute(
        f"""WITH e AS (SELECT * FROM read_parquet('{math_vectors}')),
            am AS (SELECT {V.dd_sq8_absmax('embedding')} AS am FROM e),
            side AS (
                SELECT vec_id, embedding, am, {V.dd_sq8_code('embedding', 'am')} AS c,
                       {V.dd_sign_bits('embedding', 32)} AS lo,
                       {V.dd_sign_bits('embedding[33:64]', 32)} AS hi
                FROM e, am
            )
            SELECT a.vec_id, b.vec_id, {V.dd_dot('a.embedding', 'b.embedding')},
                   {V.dd_l2_norm('a.embedding')}, {V.dd_cosine('a.embedding', 'b.embedding')},
                   {V.dd_cosine('a.embedding', 'b.embedding')},
                   {V.dd_euclidean('a.embedding', 'b.embedding')},
                   {V.dd_sq_euclidean('a.embedding', 'b.embedding')},
                   a.am, a.c, {V.dd_code_sq_dist('a.c', 'b.c')}, a.lo, a.hi
            FROM side a, side b WHERE b.vec_id < 4"""
    ).fetchall()
    want = {(r[0], r[1]): tuple(r[2:]) for r in rows}
    assert len(got) == len(want) >= 4 * 40
    assert got == want
    if math_vectors.endswith("edge.parquet"):
        assert got[(0, 1)][2] is None and got[(0, 1)][3] is None  # zero row: NULL cosine
        codes = {i: got[(i, 0)][7] for i in range(4)}
        assert codes[1][:2] == [127, -127]
        assert codes[2] == list(range(1, 33)) + list(range(0, -32, -1))  # half up
        assert codes[3][0] == 127 and codes[3][32] == -126
    if math_vectors.endswith("zeros.parquet"):
        assert {v[6] for v in got.values()} == {0.0}
        assert {tuple(v[7]) for v in got.values()} == {(0,) * 64}


def test_sq8_topk_on_an_all_zero_corpus_matches_oracle(spark, tmp_path):
    """absmax 0 takes the SQ8 scale 1 on both engines: every code and
    code distance is 0, not an ANSI division by zero in Spark and code
    127 in DuckDB."""
    path = _random_parquet(tmp_path / "embeddings.parquet", 3, 4, zero_rows=range(3))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')")
    try:
        compare(sq8_topk(spark.read.parquet(path)), con, ORACLES["ann_sq8"])
    finally:
        con.close()
    assert [tuple(r) for r in sq8_topk(spark.read.parquet(path)).collect()] == [(1, 1, 0, 0.0), (2, 2, 0, 0.0)]


def test_topk_scores_equal_duckdb_cosine_exactly(spark, vectors):
    df = spark.read.parquet(vectors)
    q = [float(x) for x in df.filter("vec_id = 1").first().embedding]
    q[0] += 0.25  # not a corpus row, so no score is exactly 1
    n = df.count()
    got = [(r.vec_id, r.score) for r in knn.topk(df, q, k=n).collect()]
    rows = duckdb.connect().execute(
        f"SELECT vec_id, {V.dd_cosine('embedding', 'q')}"
        f" FROM read_parquet('{vectors}'), (SELECT ?::DOUBLE[] AS q)",
        [q],
    ).fetchall()
    assert dict(got) == dict(rows)
    assert got == sorted(got, key=lambda r: (-r[1], r[0]))


@pytest.fixture()
def with_zero_row(spark, tmp_path):
    rng = np.random.default_rng(3)
    mat = rng.standard_normal((40, 8))
    mat[0] = 0.0  # e.g. the embedding of an empty document
    coll = VectorCollection.create(spark, str(tmp_path / "z"), dimension=8)
    coll.insert(
        spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(mat)],
            "id long, vector array<double>",
        )
    )
    return coll, mat


def test_zero_vector_row_does_not_fail_search(with_zero_row):
    coll, mat = with_zero_row
    q = mat[7] + 0.5
    got = [(r.id, round(r.score, 9)) for r in coll.search(list(q), limit=5).collect()]
    with np.errstate(invalid="ignore"):
        sims = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = sorted(range(1, len(mat)), key=lambda i: (-sims[i], i))[:5]
    assert got == [(i, round(float(sims[i]), 9)) for i in order]


def test_zero_query_scores_null_by_id(with_zero_row):
    coll, _ = with_zero_row
    got = [(r.id, r.score) for r in coll.search([0.0] * 8, limit=4).collect()]
    assert got == [(0, None), (1, None), (2, None), (3, None)]


@pytest.fixture()
def zero_parquet(tmp_path):
    return _random_parquet(tmp_path / "z.parquet", 40, 8, seed=5, zero_rows=[0])


def _dd_ranked(path: str, q: list[float]) -> list[tuple]:
    """The oracle's cosine ranking: score DESC (NULLs last), id asc."""
    return duckdb.connect().execute(
        f"SELECT vec_id, {V.dd_cosine('embedding', 'q')} AS score"
        f" FROM read_parquet('{path}'), (SELECT ?::DOUBLE[] AS q)"
        " ORDER BY score DESC NULLS LAST, vec_id",
        [q],
    ).fetchall()


def test_topk_ranks_a_zero_row_as_duckdb_does(spark, zero_parquet):
    df = spark.read.parquet(zero_parquet)
    q = [float(x) + 0.5 for x in df.filter("vec_id = 7").first().embedding]
    got = [(r.vec_id, r.score) for r in knn.topk(df, q, k=40).collect()]
    assert got[-1] == (0, None)
    assert got == _dd_ranked(zero_parquet, q)


def _one_query(spark, q):
    return spark.createDataFrame([(0, q)], "query_id int, query_vec array<double>")


def _lsh(spark, df, q):
    # one all-zero plane puts every vector in bucket 0: the search is exact
    return ann_lsh_topk(df, _one_query(spark, q), [[0.0] * 8], k=40)


def _batch(spark, df, q):
    return knn.topk_batch(df, _one_query(spark, q), k=40)


def _hybrid_vector_leg(spark, df, q):
    # no keyword hit, so the fused order is the vector leg's order
    docs = spark.createDataFrame([(0, "a")], "doc_id long, text string")
    qv = spark.createDataFrame([(q,)], "qv array<double>")
    return hybrid_search_rrf(docs, df, ["zzz"], qv, k=40, depth=40).withColumnRenamed(
        "doc_id", "vec_id"
    )


@pytest.mark.parametrize(
    "ranker",
    [_lsh, _batch, _hybrid_vector_leg],
    ids=["ann_lsh_topk", "topk_batch", "hybrid_vector_leg"],
)
def test_ranked_cosine_puts_a_zero_row_last(spark, zero_parquet, ranker):
    """Every cosine ranker orders score DESC NULLS LAST, id asc
    (knn.topk_per_key), so a zero row, whose V.cosine is NULL, ranks
    last exactly as in the oracle."""
    df = spark.read.parquet(zero_parquet)
    q = [float(x) + 0.5 for x in df.filter("vec_id = 7").first().embedding]
    rows = ranker(spark, df, q).orderBy("rank").collect()
    want = _dd_ranked(zero_parquet, q)
    assert want[-1] == (0, None)
    assert [r.vec_id for r in rows] == [i for i, _ in want]
    if "score" in rows[0].asDict():
        assert [(r.vec_id, r.score) for r in rows] == want


def _labelled(spark, path):
    return spark.read.parquet(path).selectExpr("vec_id", "embedding", "CAST(vec_id % 3 AS INT) AS label")


_DD_PAIRS = f"""
    WITH e AS (SELECT vec_id, embedding, vec_id % 3 AS label FROM read_parquet(?)),
    pairs AS (
        SELECT a.vec_id AS a, b.vec_id AS b, a.label AS la, b.label AS lb,
               {V.dd_cosine('a.embedding', 'b.embedding')} AS score
        FROM e a, e b WHERE a.vec_id <> b.vec_id
    )
"""


def _dd_pair_rows(path: str, select: str) -> list[tuple]:
    sql = _DD_PAIRS.replace("read_parquet(?)", f"read_parquet('{path}')") + select
    return sorted(duckdb.connect().execute(sql).fetchall(), key=repr)


# one all-zero plane (one centroid) puts every vector in one bucket (cell)
def _dedup_lsh(spark, path):
    got = dedup_embedding_lsh(spark.read.parquet(path), [[0.0] * 8], threshold=0.3)
    want = "SELECT a, b, round(score, 6) FROM pairs WHERE a < b AND score >= 0.3"
    return got.select("id_a", "id_b", "score"), want


def _semdedup(spark, path):
    got = semdedup(spark.read.parquet(path), [[0.0] * 8], threshold=0.3)
    want = """SELECT 0, b, min(a), round(arg_min(score, a), 6) FROM pairs
              WHERE a < b AND score >= 0.3 GROUP BY b"""
    return got.select("cid", "vec_id", "keeper_id", "score"), want


def _hard_negatives(spark, path):
    got = hard_negative_mining(_labelled(spark, path), [[0.0] * 8])
    want = """SELECT a, la, b, lb, round(score, 6) FROM (
                  SELECT *, row_number() OVER (PARTITION BY a ORDER BY score DESC NULLS LAST, b) AS rn
                  FROM pairs WHERE la <> lb) WHERE rn = 1"""
    return got.select("vec_id", "label", "neg_id", "neg_label", "score"), want


@pytest.mark.parametrize(
    "scorer",
    [_dedup_lsh, _semdedup, _hard_negatives],
    ids=["dedup_embedding_lsh", "semdedup", "hard_negative_mining"],
)
def test_pair_scorers_take_a_zero_row_as_duckdb_does(spark, zero_parquet, scorer):
    """The norm-hoisted pair cosines score a zero vector NULL, as
    DuckDB does: a threshold drops its pairs, and a hard negative it
    anchors is the lowest cross-label id with a NULL score. collect(),
    not count(): a count prunes the score column and with it the
    division."""
    got, want = scorer(spark, zero_parquet)
    rows = sorted((tuple(r) for r in got.collect()), key=repr)
    assert rows == _dd_pair_rows(zero_parquet, want)
    assert rows


@pytest.fixture(scope="module")
def sf_zeroed(sf_dir, tmp_path_factory):
    """A copy of the tables with vec_id 6's embedding zeroed; vec_id 6
    is in embedding_dedup_recall's md5 sample."""
    out = tmp_path_factory.mktemp("sf_zeroed")
    for t in TABLES:
        table = pq.read_table(f"{sf_dir}/{t}.parquet")
        if t == "embeddings":
            rows = table.to_pylist()
            for r in rows:
                if r["vec_id"] == 6:
                    r["embedding"] = [0.0] * len(r["embedding"])
            table = pa.Table.from_pylist(rows, schema=table.schema)
        pq.write_table(table, out / f"{t}.parquet")
    return str(out)


@pytest.mark.parametrize(
    "name",
    [
        "knn_range_search",
        "post_filter_recall",
        "dedup_threshold_sweep",
        "embedding_dedup_recall",
        "dedup_embedding_lsh",
        "hard_negative_mining",
        "knn_graph_lsh",
        "semdedup",
    ],
)
def test_zeroed_embedding_matches_oracle(name, spark, sf_zeroed):
    con = duck_connection(sf_zeroed)
    oracle = ORACLES.get(name) or LAZY_ORACLES[name](sf_zeroed)
    try:
        compare(QUERIES[name](spark, sf_zeroed), con, oracle)
    finally:
        con.close()


SHINGLE_TEXTS = ["", "a", "a  b", " a b", "a b ", "   ", "\t", "naïve café  日本 語", None, "a b c d e"]


@pytest.mark.parametrize("n", [1, 2, 3, 8])
def test_word_shingles_equal_duckdb_on_edge_inputs(spark, n):
    """Empty tokens (doubled, leading and trailing spaces) are windows
    like any other token; fewer than n tokens give []; NULL stays NULL."""
    rows = list(enumerate(SHINGLE_TEXTS))
    got = dict(
        spark.createDataFrame(rows, "i int, t string")
        .selectExpr("i", f"{X.word_shingles('t', n)} AS sh")
        .collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE d (i INTEGER, t VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", rows)
    want = dict(con.execute(f"SELECT i, {X.dd_word_shingles('t', n)} FROM d").fetchall())
    assert got == want
    assert got[SHINGLE_TEXTS.index(None)] is None


HOFS = {"aggregate", "zip_with", "transform", "filter"}


def _offences(tree: ast.AST):
    for node in ast.walk(tree):
        f = node.func if isinstance(node, ast.Call) else None
        if not (isinstance(f, ast.Attribute) and f.attr in HOFS):
            continue
        if not (isinstance(f.value, ast.Name) and f.value.id == "F"):
            continue
        args = list(node.args) + [k.value for k in node.keywords]
        if any(isinstance(a, ast.Lambda) for a in args):
            yield node.lineno, f"F.{f.attr}(..., lambda ...)"


def test_lint_flags_python_lambda_hofs():
    src = [
        "F.aggregate(c, F.lit(0.0), lambda acc, v: acc + v)",
        "F.zip_with(a, b, lambda x, y: x * y)",
        "F.transform(a, f=lambda x: x)",
        "F.filter(a, lambda x: x > 0)",
    ]
    found = [k for _, k in _offences(ast.parse("\n".join(src)))]
    assert found == [
        "F.aggregate(..., lambda ...)",
        "F.zip_with(..., lambda ...)",
        "F.transform(..., lambda ...)",
        "F.filter(..., lambda ...)",
    ]
    ok = "F.expr(V.dot('a', 'b'))\ndf.filter(F.col('x') > 0)\nF.transform(a, F.abs)\nsorted(v, key=lambda r: r[0])\n"
    assert not list(_offences(ast.parse(ok)))


def test_no_python_lambda_hofs_in_vector_math():
    files = [p for d in LINTED for p in (sorted(d.rglob("*.py")) if d.is_dir() else [d])]
    found = [
        f"{p.relative_to(ROOT)}:{line}: {kind}"
        for p in files
        for line, kind in _offences(ast.parse(p.read_text(), str(p)))
    ]
    assert not found, "write the HOF as SQL text (see functions.vector):\n" + "\n".join(found)


# A fold is spelled once, in functions/vector.py: the Column-API and
# Spark SQL ``aggregate(zip_with(...))``, DuckDB's
# ``list_sum(list_transform(list_zip(...)))``, and the LSH bucket id as
# a sum of ``1::BIGINT << pid`` over a planes table (V.dd_sign_bits).
_FOLD = re.compile(
    r"(?<![\w.])(?:F\s*\.\s*)?aggregate\s*\(\s*(?:F\s*\.\s*)?zip_with\s*\("
    r"|(?<![\w.])list_sum\s*\(\s*list_transform\s*\(\s*list_zip\s*\("
    r"|1::BIGINT\s*<<\s*pid\b"
)
FOLD_HOME = "functions/vector.py"
# The nearest-centroid rule has one home per layer. The driver's fit
# sample is read once, in sources/tables.py (``ORDER BY <id> LIMIT {n}``
# SQL, then ``fetchall()], dtype=np.float64``). An oracle's nearest
# cell, probe list or PQ code is V.dd_argmin, never a row_number window
# over ``CROSS JOIN cents``, so the window argmin has no home at all.
_SAMPLE_READ = re.compile(
    r"ORDER\s+BY\s+\{?[\w.]+\}?\s+LIMIT\s+\{"
    r"|fetchall\s*\(\s*\)\s*\]\s*,\s*dtype\s*=\s*np\s*\.\s*float64"
)
SAMPLE_HOME = "sources/tables.py"
_WINDOW_ARGMIN = re.compile(r"CROSS\s+JOIN\s+cents\b")
# (file, enclosing function, reason)
FOLD_EXCEPTIONS: list[tuple[str, str, str]] = []


def _fold_offences(src: str, pattern=_FOLD):
    """Line of each ``pattern`` match (a fold shape by default) in the
    code and string literals of ``src``; docstrings and comments are
    prose, not code."""
    docs = {
        (n.lineno, n.col_offset)
        for n in ast.walk(ast.parse(src))
        if isinstance(n, ast.Expr) and isinstance(n.value, ast.Constant) and isinstance(n.value.value, str)
    }
    chars, lines = [], []
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type in _SKIP or (tok.type == tokenize.STRING and tok.start in docs):
            continue
        text = _STRING.match(tok.string).group(2) if tok.type == tokenize.STRING else tok.string
        for off, ch in enumerate(" " + text):
            chars.append(ch)
            lines.append(tok.start[0] + text.count("\n", 0, off))
    for m in pattern.finditer("".join(chars)):
        yield lines[m.start()]


def _unexcused_folds(rel: str, src: str, used: set, pattern=_FOLD):
    tree = ast.parse(src)
    for line in _fold_offences(src, pattern):
        fn = _enclosing(tree, line)
        excused = [e for e in FOLD_EXCEPTIONS if e[:2] == (rel, fn)]
        used.update(excused)
        if not excused:
            yield f"{rel}:{line} ({fn}): {src.splitlines()[line - 1].strip()}"


def test_fold_lint_flags_every_spelling():
    bad = [
        "d = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)",
        "d = F.aggregate(\n    F.zip_with(a, b, lambda x, y: x * y),\n    F.lit(0.0),\n    lambda acc, v: acc + v,\n)",
        'd = F.expr("aggregate(zip_with(vq, c.cq, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)")',
        'd = f"aggregate( zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"',
        'd = ("aggregate("\n     "zip_with(a, b, (x, y) -> x * y), 0D, (acc, v) -> acc + v)")',
        'q = f"""SELECT list_sum(list_transform(\n    list_zip(a, b), x -> x[1]*x[2])) FROM t"""',
        'q = "ORDER BY list_sum(list_transform(list_zip(c.codes, q.qcodes), p -> p[1]))"',
        'q = f"SELECT vec_id, sum(CASE WHEN d > 0 THEN (1::BIGINT << pid) ELSE 0 END) FROM dots"',
    ]
    assert [len(list(_fold_offences(s))) for s in bad] == [1] * len(bad)
    assert list(_fold_offences(bad[5])) == [1]
    ok = (
        'def f():\n    """Like aggregate(zip_with(a, b)) and list_sum(list_transform(list_zip(a, b)))."""\n'
        "    return F.expr(V.dot('a', 'b'))  # aggregate(zip_with(a, b))\n"
        "r = F.expr('zip_with(a, b, (x, c) -> x - c)')\n"
        "s = F.expr('aggregate(transform(a, s -> s.t), 0D, (acc, t) -> acc + t)')\n"
        "t = 'list_transform(list_zip(a, b), x -> x[1] - x[2])'\n"
        "u = F.zip_with(a, b, f)\n"
    )
    assert not list(_fold_offences(ok))
    used: set = set()
    src = "def g():\n    return F.expr('aggregate(zip_with(a, b, (x, y) -> x), 0D, (acc, v) -> acc + v)')\n"
    assert list(_unexcused_folds("operators/knn.py", src, used)) == [
        "operators/knn.py:2 (g): return F.expr('aggregate(zip_with(a, b, (x, y) -> x), 0D, (acc, v) -> acc + v)')"
    ]


def test_nearest_centroid_lint_flags_every_spelling():
    reads = [
        'rel = duckdb.sql(f"SELECT vec_id, embedding FROM t ORDER BY vec_id LIMIT {sample_limit}")',
        'rel = duckdb.sql(\n    f"SELECT {id_col}, {vec_col} FROM t "\n    f"ORDER BY {id_col} LIMIT {n}"\n)',
        "x = np.array([list(r[1]) for r in rel.fetchall()], dtype=np.float64)",
        "x = np.array(\n    [list(r[1]) for r in rel.fetchall()],\n    dtype=np.float64,\n)",
    ]
    assert [len(list(_fold_offences(s, _SAMPLE_READ))) for s in reads] == [1] * len(reads)
    assert list(_fold_offences(reads[1], _SAMPLE_READ)) == [3]
    argmins = [
        'q = f"SELECT e.vec_id, c.cid FROM embeddings e CROSS JOIN cents c"',
        'q = """SELECT q.query_id FROM q\n    CROSS   JOIN cents c"""',
    ]
    assert [list(_fold_offences(s, _WINDOW_ARGMIN)) for s in argmins] == [[1], [2]]
    ok = (
        'def f():\n    """Reads ORDER BY vec_id LIMIT {n} and fetchall()], dtype=np.float64."""\n'
        '    q = f"SELECT * FROM t ORDER BY {h}, vec_id LIMIT {cap}"  # CROSS JOIN cents\n'
        '    r = "SELECT * FROM bm25 ORDER BY bm25 DESC, doc_id LIMIT 10"\n'
        "    m = np.array([list(r[1]) for r in rows], dtype=np.float64)\n"
        '    c = "FROM embeddings e CROSS JOIN centroids_by_label c"\n'
    )
    assert not list(_fold_offences(ok, _SAMPLE_READ)) and not list(_fold_offences(ok, _WINDOW_ARGMIN))


def test_sample_reads_and_argmins_only_in_their_homes():
    used: set = set()
    found = [
        hit
        for p in sorted(PKG.rglob("*.py"))
        for pattern, home in ((_SAMPLE_READ, SAMPLE_HOME), (_WINDOW_ARGMIN, None))
        if p.relative_to(PKG).as_posix() != home
        for hit in _unexcused_folds(p.relative_to(PKG).as_posix(), p.read_text(), used, pattern)
    ]
    assert not found, (
        "read the fit sample with sources.tables.sample_vectors, and take the"
        " nearest centroid with V.dd_nearest_cell(s) / V.dd_argmin:\n" + "\n".join(found)
    )
    assert len(list(_fold_offences((PKG / SAMPLE_HOME).read_text(), _SAMPLE_READ))) == 2


def test_folds_only_in_functions_vector():
    used: set = set()
    found = [
        hit
        for p in sorted(PKG.rglob("*.py"))
        if p.relative_to(PKG).as_posix() != FOLD_HOME
        for hit in _unexcused_folds(p.relative_to(PKG).as_posix(), p.read_text(), used)
    ]
    assert not found, "spell the fold through functions.vector (V.dot, V.dd_dot, ...):\n" + "\n".join(found)
    assert used == set(FOLD_EXCEPTIONS), f"stale exceptions: {set(FOLD_EXCEPTIONS) - used}"
    assert list(_fold_offences((PKG / FOLD_HOME).read_text()))  # the home still holds them
