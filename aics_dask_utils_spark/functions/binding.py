"""Bind a row-level value once for use inside array lambdas.

Spark evaluates higher-order-function lambdas (``transform``,
``aggregate``, ``filter``, ...) per element and interpreted, with no
common-subexpression elimination. An expression that does not depend
on the lambda variable but appears in the lambda body -- a document's
token array, a vector's norm -- is therefore re-evaluated for every
element. Moving it into its own ``withColumn`` does not help: when the
column is used once, ``CollapseProject`` inlines it straight back into
the lambda body.

:func:`let` makes the value a lambda variable instead. The body runs
once per row on the bound value, and no optimizer rule inlines a
lambda variable.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


def let(value: Column, body: Callable[[Column], Column]) -> Column:
    """``body(value)`` with ``value`` evaluated exactly once per row.

    Written ``element_at(transform(array(value), v -> body(v)), 1)``:
    the one-element array carries the value (NULL included) into the
    lambda, and the body sees it as a variable. ``body`` must be
    deterministic; it may nest further lambdas that reference the
    bound variable.
    """
    return F.element_at(F.transform(F.array(value), body), 1)
