"""Scalar Column-expression helpers (all JVM-side, codegen-friendly).

Covers SURVEY §2.2/§2.8: the fold-predicates and derived-timestamp
expressions the reference builds inline (Cleaning.scala:36-41,57-63),
expressed once as reusable combinators. No Python UDFs anywhere — every
helper returns a built-in Column expression.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, functions as F


def any_null(cols: list[str]) -> Column:
    """P4 — OR-fold: true when ANY of ``cols`` is null (Cleaning.scala:59-60)."""
    return reduce(operator.or_, [F.col(c).isNull() for c in cols])


def all_null(cols: list[str]) -> Column:
    """P5 — AND-fold: true when ALL of ``cols`` are null (Cleaning.scala:62-63)."""
    return reduce(operator.and_, [F.col(c).isNull() for c in cols])


def null_counts_exprs(cols: list[str]) -> list[Column]:
    """One conditional-sum per column: single-pass null profiling.

    Replaces the reference's one-job-per-column ``filter(isNull).count()``
    loops (Cleaning.scala:104-106) with aggregate expressions that run in
    ONE job (SURVEY §4.3.2).
    """
    return [
        F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"nulls_{c}")
        for c in cols
    ]


def to_event_datetime() -> Column:
    """P2 — parse the unpadded ``d/M/yyyy`` ``Date`` + ``H:mm:ss`` ``Time``
    columns into a timestamp.

    Reference Cleaning.scala:36-41. Unparseable input yields null (counted
    by the cleaning profiler rather than erroring), hence try_to_timestamp.
    """
    return F.try_to_timestamp(
        F.concat_ws(" ", F.col("Date"), F.col("Time")), F.lit("d/M/yyyy H:mm:ss")
    )
