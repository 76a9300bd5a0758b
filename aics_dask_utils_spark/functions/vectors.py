"""Embedding-vector math as JVM-side higher-order functions (E12).

All ops stay inside whole-stage codegen — no Python boundary. Elements
are cast to double first so the fold is the same IEEE sequence on any
engine (the parquet column is ``array<float>``).

The fold (`F.aggregate`) is sequential left-to-right over the array, so
results are deterministic — same guarantee a DuckDB ``list_reduce``
oracle gives.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .binding import let


def as_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def vec_dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two equal-length numeric arrays."""
    return F.aggregate(
        F.zip_with(as_double_array(a), as_double_array(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def vec_norm(a: Column | str) -> Column:
    """L2 norm."""
    return F.sqrt(
        F.aggregate(as_double_array(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def vec_cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; NULL when either norm is zero."""
    return vec_dot(a, b) / F.nullif(vec_norm(a) * vec_norm(b), F.lit(0.0))


def vec_divide(a: Column | str, denom: Column) -> Column:
    """Each element of ``a`` divided by the row scalar ``denom``.

    ``denom`` is evaluated once per row (see :func:`.binding.let`): in
    a plain ``transform(a, x -> x / denom)`` Spark re-evaluates it for
    every element, so a norm fold there costs O(d²) per vector."""
    c = F.col(a) if isinstance(a, str) else a
    return let(denom, lambda d: F.transform(c, lambda x: x / d))


def with_unit_vector(df, vec_col: str, out_col: str):
    """Add a pre-normalized copy of ``vec_col``: the norm fold runs once
    per row (bound by :func:`vec_divide`), so any later pairwise cosine
    is a single dot product. At corpus scale you materialize this
    column — normalize-on-write, not per-pair."""
    return df.withColumn(
        out_col, vec_divide(as_double_array(vec_col), vec_norm(vec_col))
    )
