"""Properties the pipeline kernels' docstrings claim: the vectorized
Mersenne-61 mulmod equals Python-int arithmetic, and the one-pass
shingle generator equals the Catalyst ``explode(shingles_expr(...))``."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from informationretrieval_en_people_cn_spark.operators.pipeline import (
    _mulmod_p61,
    _shingle_rows,
    shingles_expr,
)

P61 = (1 << 61) - 1
EDGES = [0, 1, 2, 1 << 60, P61 - 1]
U61 = st.integers(0, (1 << 61) - 1)  # every uint64 below 2^61


def _python_mulmod(a, x):
    return [[(int(ai) * int(xi)) % P61 for xi in x] for ai in a]


@given(st.lists(U61, min_size=1, max_size=16), st.lists(U61, min_size=1, max_size=16))
@settings(max_examples=300, deadline=None)
def test_mulmod_p61_equals_python_ints(a, x):
    got = _mulmod_p61(np.array(a, dtype=np.uint64), np.array(x, dtype=np.uint64))
    assert got.tolist() == _python_mulmod(a, x)


def test_mulmod_p61_edges():
    a = np.array(EDGES, dtype=np.uint64)
    assert _mulmod_p61(a, a).tolist() == _python_mulmod(EDGES, EDGES)


ADVERSARIAL = [
    None,
    "",
    "one",                                   # fewer than n tokens
    "ab cd",
    "a b c d e f g",                         # 1-char tokens are not indexed
    "x" * 129 + " foo bar baz qux",          # 129-char token is dropped
    "y" * 128 + " foo bar baz",              # 128-char token is kept
    "the cat the cat the cat sat the cat",   # repeated n-grams
    "Hello, World! It's-a (test); e.g. x_y foo.bar/baz 42 4.2",
    "UPPER Case MiXeD case upper CASE Upper case",
    "café naïve Ünïcode 北京 東京 straße ÅNGSTRÖM ﬁle ok ok ok",
    "  leading   and\ttrailing\nwhitespace  ",
]


@pytest.mark.parametrize("n", [1, 2, 3, 5])
def test_shingle_rows_equals_explode_shingles_expr(spark, n):
    df = spark.createDataFrame(
        list(enumerate(ADVERSARIAL)), "doc_id long, text string"
    )
    got = sorted(
        (r.doc, r.sz, r.shingle)
        for r in _shingle_rows(df, text_col="text", id_col="doc_id", n=n).collect()
    )
    sh = shingles_expr("text", n)
    want = sorted(
        (r.doc, r.sz, r.shingle)
        for r in df.select(
            F.col("doc_id").alias("doc"),
            F.size(sh).alias("sz"),
            F.explode(sh).alias("shingle"),
        ).collect()
    )
    assert got == want
    assert want  # the table must produce shingles at every n
