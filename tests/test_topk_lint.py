"""Per-key top-k is spelled once: `knn.topk_per_key`.

A `slice` over a `sort_array`/`array_sort` of a `collect_list` or
`collect_set` buffers every row of the group: the partial aggregate
ships the whole list across the exchange, and the slice cuts it only
after the final merge. `knn.topk_per_key` is a row_number window that
Spark plans with a partial WindowGroupLimit, which ships at most k
rows per (map partition, key). This token lint finds the aggregate
form in Column-API code and in SQL text anywhere in the package; it
may stay only in the functions named below, each with its reason.
"""

from __future__ import annotations

import ast
import io
import pathlib
import re
import tokenize

ROOT = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "rag_system_vector_db_spark"

_KMV = "KMV sketch (k smallest distinct hashes); not yet measured against the window form"

# (file, enclosing function, reason)
EXCEPTIONS = [
    ("operators/ann.py", "_budget_sweep_tail", "the same aggregate counts every candidate; a second one would plan the candidate tower twice"),
    ("operators/sketch.py", "kmv_distinct", _KMV),
    ("registry_parts/part03_samplegen_retrieval_stats.py", "kmv_distinct_by_group_q", _KMV),
    ("registry_parts/part06_search_governance_product.py", "kmv_set_ops_q", _KMV),
]

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT}
_STRING = re.compile(r"^[A-Za-z]*('''|\"\"\"|'|\")(.*)\1$", re.S)
_SLICE = re.compile(r"(?<![\w.])(?:F\s*\.\s*)?slice\s*\(")
_SORTED_COLLECT = re.compile(r"(?:sort_array|array_sort)\s*\(.*collect_(?:list|set)\s*\(", re.S)


def _flat(src: str):
    """The code and string contents of ``src`` as one string, tokens
    apart by a space, without comments or quotes; and the source line
    of each char."""
    chars, lines = [], []
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type in _SKIP:
            continue
        text = _STRING.match(tok.string).group(2) if tok.type == tokenize.STRING else tok.string
        for off, ch in enumerate(" " + text):
            chars.append(ch)
            lines.append(tok.start[0] + text.count("\n", 0, off))
    return "".join(chars), lines


def _first_arg(text: str, start: int) -> str:
    depth = 0
    for i in range(start, len(text)):
        if depth == 0 and text[i] in ",)":
            return text[start:i]
        depth += {"(": 1, ")": -1}.get(text[i], 0)
    return text[start:]


def _offences(src: str):
    """Line of each slice whose first argument sorts a collected list."""
    text, lines = _flat(src)
    for m in _SLICE.finditer(text):
        if _SORTED_COLLECT.search(_first_arg(text, m.end())):
            yield lines[m.start()]


def _enclosing(tree: ast.AST, line: int) -> str:
    defs = [
        n
        for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)) and n.lineno <= line <= n.end_lineno
    ]
    return max(defs, key=lambda n: n.lineno).name if defs else "<module>"


def _unexcused(rel: str, src: str, used: set):
    tree = ast.parse(src)
    for line in _offences(src):
        fn = _enclosing(tree, line)
        excused = [e for e in EXCEPTIONS if e[:2] == (rel, fn)]
        used.update(excused)
        if not excused:
            yield f"{rel}:{line} ({fn}): {src.splitlines()[line - 1].strip()}"


def test_lint_flags_every_spelling():
    bad = [
        "t = F.slice(F.sort_array(F.collect_list(pair)), 1, k)",
        "t = F.slice(\n    F.array_sort(\n        F.collect_set('h')\n    ),\n    1,\n    k,\n)",
        "t = F.slice(F.sort_array(F.flatten(F.collect_list('full'))), 1, 10)",
        "t = F.slice(F.transform(F.sort_array(F.collect_list(t)), lambda s: s.x), 1, 3)",
        't = F.expr("slice(sort_array(collect_list(struct(-s, id))), 1, 3)")',
        "t = F.expr(f'slice(array_sort(collect_set({c})), 1, {k})')",
        't = F.expr("slice(sort_array("\n           "collect_list(x)), 1, 3)")',
        'q = """SELECT slice( sort_array( collect_list(x) ), 1, 3) FROM t"""',
    ]
    assert [len(list(_offences(s))) for s in bad] == [1] * len(bad)
    assert list(_offences(bad[1])) == [1]
    ok = (
        "a = F.sort_array(F.collect_list('v'))  # slice(sort_array(collect_list(v)), 1, 3)\n"
        "b = F.slice(hashes, 1, k)\n"
        "c = F.slice(F.array_sort(F.array_distinct(F.concat('a', 'b'))), 1, 32)\n"
        "d = 'list_sort(list(h))[1:32]'\n"
        "e = F.expr('array_slice(sort_array(collect_list(x)), 1, 3)')\n"
        "f = F.slice(F.col('v'), 1, 3).alias('sort_array'), F.collect_list('x')\n"
    )
    assert not list(_offences(ok))
    used: set = set()
    src = "def kmv_distinct():\n    return F.slice(F.array_sort(F.collect_set('h')), 1, k)\n"
    assert not list(_unexcused("operators/sketch.py", src, used))
    assert used == {EXCEPTIONS[1]}
    found = list(_unexcused("operators/knn.py", src, set()))
    assert found == ["operators/knn.py:2 (kmv_distinct): return F.slice(F.array_sort(F.collect_set('h')), 1, k)"]


def test_topk_only_through_topk_per_key():
    used: set = set()
    found = [
        hit
        for p in sorted(PACKAGE.rglob("*.py"))
        for hit in _unexcused(p.relative_to(PACKAGE).as_posix(), p.read_text(), used)
    ]
    assert not found, "rank per key with knn.topk_per_key:\n" + "\n".join(found)
    assert used == set(EXCEPTIONS), f"stale exceptions: {set(EXCEPTIONS) - used}"
