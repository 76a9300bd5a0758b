"""Equivalence of the once-per-row (`let`-bound) text and vector helpers.

`operators.text.shingles`/`ngrams` bind each document's token array
once, and `functions.vectors.with_unit_vector`/`vec_divide` bind each
vector's norm once. These tests pin that the binding changes cost
only: shingles match a pure-Python reference on edge-case documents,
and unit normalization matches the inline per-element expression value
for value, or fails with the same ANSI error, on zero, NaN, ±Inf and
NULL components.
"""

import re

import pytest
from pyspark.errors import PySparkException
from pyspark.sql import functions as F

from aics_dask_utils_spark.functions.vectors import (
    as_double_array,
    vec_divide,
    vec_dot,
    with_unit_vector,
)
from aics_dask_utils_spark.operators import text as T

_DOCS = [
    "",
    "   ",
    " \t\n ",
    None,
    "word",
    "two words",
    "The quick brown fox jumps",
    "  Leading and trailing  spaces ",
    "tab\tseparated\nand\r\nnewlines",
    "a a a a a a a a a a a a a",
    "x y x y x y x y x y x y x y",
    "one two three four five six seven eight nine",
    " ".join(f"w{i % 7}" for i in range(40)),
]


def _py_tokens(text):
    # Spark: split(lower(trim(text)), '\s+') — trim strips spaces only,
    # Java's \s is ASCII whitespace, and split keeps empty edge tokens.
    return re.split(r"[ \t\n\x0b\f\r]+", text.strip(" ").lower())


def _py_ngrams(text, k):
    if text is None:
        return []
    t = _py_tokens(text)
    return [" ".join(t[i : i + k]) for i in range(len(t) - k + 1)]


def _py_shingles(text, k):
    return list(dict.fromkeys(_py_ngrams(text, k)))


@pytest.mark.parametrize("k", [1, 2, 3, 5, 9])
def test_shingles_match_python_reference(spark, k):
    df = spark.createDataFrame([(i, d) for i, d in enumerate(_DOCS)], "i int, text string")
    got = {
        r["i"]: (r["sh"], r["ng"])
        for r in df.select(
            "i",
            T.shingles("text", k).alias("sh"),
            T.ngrams("text", k).alias("ng"),
        ).collect()
    }
    for i, doc in enumerate(_DOCS):
        assert got[i] == (_py_shingles(doc, k), _py_ngrams(doc, k)), (k, doc)


_VECS = [
    [3.0, 4.0],
    [0.0, 0.0],
    [],
    None,
    [1.0, None],
    [float("nan"), 1.0],
    [float("inf"), 1.0],
    [float("-inf"), 2.0],
    [float("inf"), float("-inf")],
    [1e-200, 1e-200],
    [1e200, -1e200],
    [0.1, -0.7, 2.5, 1e-3],
]


def _inline_unit(df, vec_col, out_col):
    """with_unit_vector as written before the norm was bound: the
    single-use ``__nrm`` column is inlined into the lambda."""
    nrm = F.sqrt(
        F.aggregate(
            as_double_array(vec_col), F.lit(0.0), lambda acc, x: acc + x * x
        )
    )
    return (
        df.withColumn("__nrm", nrm)
        .withColumn(
            out_col,
            F.transform(as_double_array(vec_col), lambda x: x / F.col("__nrm")),
        )
        .drop("__nrm")
    )


def _outcome(df):
    """repr of the one output value (NaN-safe), or the error condition."""
    try:
        return repr(df.collect()[0][0])
    except PySparkException as ex:
        return ex.getCondition()


@pytest.fixture(params=["true", "false"], ids=["ansi", "legacy"])
def ansi(spark, request):
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", request.param)
    yield request.param
    spark.conf.set("spark.sql.ansi.enabled", prev)


@pytest.mark.parametrize("vtype", ["array<float>", "array<double>"])
def test_unit_vector_matches_inline_norm(spark, ansi, vtype):
    outcomes = set()
    for vec in _VECS:
        df = spark.createDataFrame([(vec,)], f"v {vtype}")
        ref = _outcome(_inline_unit(df, "v", "u").select("u"))
        got = _outcome(with_unit_vector(df, "v", "u").select("u"))
        assert got == ref, (vec, ansi)
        outcomes.add(ref)
    if ansi == "true":
        assert "DIVIDE_BY_ZERO" in outcomes


def test_vec_divide_matches_inline_dot_norm(spark, ansi):
    # the clustering / semdedup / hybrid sites: sqrt(vec_dot(v, v))
    for vec in _VECS:
        df = spark.createDataFrame([(vec,)], "v array<double>")
        nrm = F.sqrt(vec_dot("v", "v"))
        ref = _outcome(df.select(F.transform("v", lambda x: x / nrm)))
        got = _outcome(df.select(vec_divide("v", nrm)))
        assert got == ref, (vec, ansi)

