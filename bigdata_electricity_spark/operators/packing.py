"""Scalable sequence packing: global prefix sums without a global window.

`pack_sequences_chunked` (plans/training_queries.py) computes the running
token offset with `Window.orderBy(doc_id)` — semantically exact but a
single-partition sort at scale. This module implements the 100 TB shape
of the SAME computation:

1. range-repartition by doc_id and sort within partitions (a distributed
   sort — each partition holds a contiguous doc_id range);
2. one tiny aggregate: token subtotal per partition id;
3. driver-side exclusive prefix sum over the per-partition subtotals
   (one row per partition — kilobytes at any scale);
4. broadcast the partition base offsets back and add them to the
   per-partition running sums (window partitioned BY partition id — no
   cross-partition shuffle, full parallelism).

The result is bit-identical to the global-window version (asserted by a
differential test), because range partitioning + in-partition order is
exactly the global doc_id order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..materialise import checkpoint


def running_offsets_scalable(sized: DataFrame, id_col: str = "doc_id",
                             size_col: str = "n_tokens",
                             n_partitions: int | None = None) -> DataFrame:
    """Add ``start_offset`` = exclusive running sum of ``size_col`` in
    global ``id_col`` order, computed with per-partition windows only.
    """
    parts = sized.repartitionByRange(
        *( [n_partitions] if n_partitions else [] ), F.col(id_col)
    ).sortWithinPartitions(id_col).withColumn("__pid", F.spark_partition_id())
    # Pin the partition assignment: repartitionByRange samples its range
    # boundaries with a per-execution seed, so the subtotal action below
    # and the returned plan would otherwise re-sample independently and
    # could place boundary rows in different __pid partitions once the
    # input is large enough for partial sampling — silently misaligning
    # every base offset. The lazy checkpoint makes both jobs read the
    # SAME materialized partitioning.
    #
    # Tradeoff: an executor lost after materialization cannot recompute
    # the checkpoint's blocks (see ``materialise``), failing the job. A
    # production cluster run should either use a reliable checkpoint
    # dir (a small write: (id, size) pairs only), or precompute exact
    # per-key range boundaries so both jobs partition by the same
    # explicit ranges with no materialization at all.
    parts = checkpoint(parts)

    # One row per partition: (pid, subtotal). Collected to the driver —
    # this is the only driver-side data and it is O(#partitions).
    subtotals = {
        r["__pid"]: r["subtotal"]
        for r in parts.groupBy("__pid").agg(F.sum(size_col).alias("subtotal")).collect()
    }
    base, acc = {}, 0
    for pid in sorted(subtotals):
        base[pid] = acc
        acc += subtotals[pid]
    base_df = parts.sparkSession.createDataFrame(
        [(pid, b) for pid, b in base.items()], "__pid int, __base long"
    )

    w = Window.partitionBy("__pid").orderBy(id_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        parts.join(F.broadcast(base_df), "__pid")
        .withColumn(
            "start_offset",
            (F.sum(size_col).over(w) - F.col(size_col) + F.col("__base")).cast("long"),
        )
        .drop("__pid", "__base")
    )


def exclusive_prefix_sums(df: DataFrame, order_col: str,
                          size_cols: list[str],
                          n_partitions: int | None = None) -> DataFrame:
    """Multi-column generalization of :func:`running_offsets_scalable`:
    for each ``c`` in ``size_cols`` add ``{c}_excl`` = exclusive running
    sum of ``c`` in global ``order_col`` order — same two-phase shape
    (range partition + in-partition windows + O(#partitions) driver
    fold), one pass for all columns. ``order_col`` values must be
    distinct (callers pre-aggregate to one row per key).

    This is the scalable backbone for rank/CDF statistics (Mann-Whitney
    ranks, KS empirical CDFs): the prefix runs over the DISTINCT-value
    table, which a global window would otherwise pull into a single
    partition.
    """
    parts = (
        df.repartitionByRange(
            *([n_partitions] if n_partitions else []), F.col(order_col)
        )
        .sortWithinPartitions(order_col)
        .withColumn("__pid", F.spark_partition_id())
    )
    # Pin the range-partition assignment before the first action — same
    # per-execution-seed hazard as running_offsets_scalable above.
    parts = checkpoint(parts)
    subtot_rows = (
        parts.groupBy("__pid")
        .agg(*[F.sum(c).alias(c) for c in size_cols])
        .collect()
    )
    acc = {c: 0 for c in size_cols}
    base_rows = []
    for r in sorted(subtot_rows, key=lambda r: r["__pid"]):
        base_rows.append((r["__pid"], *[acc[c] for c in size_cols]))
        for c in size_cols:
            acc[c] += r[c] or 0
    schema = "__pid int, " + ", ".join(f"__base_{c} long" for c in size_cols)
    base_df = parts.sparkSession.createDataFrame(base_rows, schema)

    w = Window.partitionBy("__pid").orderBy(order_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    out = parts.join(F.broadcast(base_df), "__pid")
    for c in size_cols:
        out = out.withColumn(
            f"{c}_excl",
            (F.sum(c).over(w) - F.col(c) + F.col(f"__base_{c}")).cast("long"),
        )
    return out.drop("__pid", *[f"__base_{c}" for c in size_cols])
