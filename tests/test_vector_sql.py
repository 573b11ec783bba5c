"""Vector math is SQL text, exact against the DuckDB oracle.

`functions.vector` renders dot, l2_norm, cosine and euclidean as SQL
folds with the same sequential double sum the oracle's `_dd_*`
snippets use, so the two engines must agree with `==`, not within a
tolerance. `knn.topk` takes the query norm on the driver; its scores
must still equal the oracle's cosine. A zero vector scores NULL and
ranks last on both engines, in `knn.topk` and in every ranker built
on `V.cosine`, instead of failing the whole search. An AST lint keeps
Python-lambda higher-order functions, which cost a py4j round trip
per lambda node, out of the vector math and the ingest operators
(chunking, dedup). `word_shingles`, one regex, equals the oracle's
list slicing on edge inputs.
"""

from __future__ import annotations

import ast
import pathlib

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from rag_system_vector_db_spark.functions import text as X
from rag_system_vector_db_spark.functions import vector as V
from rag_system_vector_db_spark.operators import knn
from rag_system_vector_db_spark.operators.ann import ann_lsh_topk
from rag_system_vector_db_spark.operators.hybrid import hybrid_search_rrf
from rag_system_vector_db_spark.operators.vector_store import VectorCollection
from rag_system_vector_db_spark.registry_core import _dd_cosine, _dd_dot, _dd_euclid, _dd_norm

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = ROOT / "rag_system_vector_db_spark"
LINTED = [
    PKG / "functions",
    PKG / "operators" / "knn.py",
    PKG / "operators" / "dedup.py",
    PKG / "operators" / "chunking.py",
]


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


def test_vector_math_equals_duckdb_exactly(spark, vectors):
    df = spark.read.parquet(vectors)
    got = {
        (r.ida, r.idb): (r.dot, r.norm, r.cos, r.euc)
        for r in df.alias("a")
        .crossJoin(df.filter("vec_id < 3").alias("b"))
        .selectExpr(
            "a.vec_id AS ida",
            "b.vec_id AS idb",
            f"{V.dot('a.embedding', 'b.embedding')} AS dot",
            f"{V.l2_norm('a.embedding')} AS norm",
            f"{V.cosine('a.embedding', 'b.embedding')} AS cos",
            f"{V.euclidean('a.embedding', 'b.embedding')} AS euc",
        )
        .collect()
    }
    rows = duckdb.connect().execute(
        f"""SELECT a.vec_id, b.vec_id, {_dd_dot('a.embedding', 'b.embedding')},
                   {_dd_norm('a.embedding')}, {_dd_cosine('a.embedding', 'b.embedding')},
                   {_dd_euclid('a.embedding', 'b.embedding')}
            FROM read_parquet('{vectors}') a, read_parquet('{vectors}') b
            WHERE b.vec_id < 3"""
    ).fetchall()
    want = {(r[0], r[1]): tuple(r[2:]) for r in rows}
    assert len(got) == len(want) >= 3 * 100
    assert got == want


def test_topk_scores_equal_duckdb_cosine_exactly(spark, vectors):
    df = spark.read.parquet(vectors)
    q = [float(x) for x in df.filter("vec_id = 1").first().embedding]
    q[0] += 0.25  # not a corpus row, so no score is exactly 1
    n = df.count()
    got = [(r.vec_id, r.score) for r in knn.topk(df, q, k=n).collect()]
    rows = duckdb.connect().execute(
        f"SELECT vec_id, {_dd_cosine('embedding', 'q')}"
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
        f"SELECT vec_id, {_dd_cosine('embedding', 'q')} AS score"
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
