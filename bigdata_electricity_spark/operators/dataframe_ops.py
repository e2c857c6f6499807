"""DataFrame re-expressions of the reference's RDD module.

The reference's rdd/RDDOperations.scala (SURVEY §3.3) re-implements its
analytics with textFile + manual split + groupByKey/reduceByKey/sortByKey.
An idiomatic Spark engine must not ship that: every capability maps to a
declarative DataFrame op (SURVEY §2.2/§2.4/§2.6 P14, A13-A16, O3-O5),
which buys partial aggregation, whole-stage codegen and AQE for free —
``groupByKey`` shuffles every value, ``groupBy().agg()`` shuffles one
partial aggregate per key per partition (SURVEY §4.3.1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def threshold_filter(df: DataFrame, col: str, threshold: float) -> DataFrame:
    """P14 — numeric threshold filter (RDDOperations.scala:21-24's >5 kW lambda)."""
    return df.filter(F.col(col) > threshold)


def totals_by_key(df: DataFrame, key: Column, value: str,
                  key_name: str = "key", total_name: str = "total") -> DataFrame:
    """A13/A15 — per-key sums; replaces groupByKey/reduceByKey+sum
    (RDDOperations.scala:82-100,158-181)."""
    return df.groupBy(key.alias(key_name)).agg(F.sum(value).alias(total_name))


def argmax(df: DataFrame, key_col: str, value_col: str) -> DataFrame:
    """A16 — global argmax via max_by; replaces the pairwise reduce
    (RDDOperations.scala:112-115). One-pass aggregate, no sort."""
    return df.agg(
        F.max_by(key_col, value_col).alias(key_col),
        F.max(value_col).alias(value_col),
    )


def top_k(df: DataFrame, order_col: str, k: int) -> DataFrame:
    """O3/O4 — top-k by descending measure; Catalyst plans sort+limit as
    TakeOrderedAndProject (true top-k, no global sort —
    RDDOperations.scala:197-206's sortByKey+take)."""
    return df.orderBy(F.desc(order_col)).limit(k)


def categorize(df: DataFrame, col: str, buckets: list[tuple[float, str]],
               default_label: str) -> DataFrame:
    """A14 — when-chain bucketing; replaces the map+reduceByKey categorizer
    (RDDOperations.scala:121-137).

    ``buckets`` is a list of (upper_bound_exclusive, label) in ascending
    order; values ≥ the last bound get ``default_label``. The label goes
    to a ``category`` column.
    """
    expr: Column | None = None
    for bound, label in buckets:
        cond = F.col(col) < bound
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    assert expr is not None
    return df.withColumn("category", expr.otherwise(default_label))


def category_counts(df: DataFrame, col: str, buckets: list[tuple[float, str]],
                    default_label: str) -> DataFrame:
    """A14 — bucket then count per category (RDDOperations.scala:121-154)."""
    return (
        categorize(df, col, buckets, default_label)
        .groupBy("category").count()
    )
