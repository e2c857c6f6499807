"""Sinks. The only custom plumbing the reference has: a single-file CSV export.

The reference triplicates this utility (Cleaning.scala:155-178,
Transformation.scala:92-115, reduction.scala:52-76): coalesce(1) → write
CSV into a temp dir → rename the part file → delete the temp dir. One
shared implementation here (SURVEY §4.3.5).

Among the sinks, ``coalesce(1)`` lives ONLY inside this explicit export
operator (it serializes the whole plan through one task at scale); the
only other one is the loaders' single-split rule, on inputs Spark
already reads as one task. For big outputs use :func:`write_parquet`
which keeps parallelism and is the engine's interchange format (SURVEY
§4.3.4).
"""

from __future__ import annotations

import glob
import os
import re
import shutil

from pyspark import SparkFiles
from pyspark.sql import DataFrame


def run_dir(entry: str, sf_dir: str) -> str:
    """Scratch directory for export / round-trip entries, owned by the
    active Spark application.

    The path lies under the driver's per-application temp dir
    (``SparkFiles.getRootDirectory()``, itself under ``spark.local.dir``),
    which Spark deletes on ``SparkContext.stop()`` and at JVM exit. So
    two concurrent applications never share a path and cannot clobber
    each other's round-trip audits, while reruns of an entry within one
    application get the same path (every writer uses mode("overwrite")).
    The data dir's basename keeps scale factors apart. Needs an active
    SparkContext.
    """
    tag = re.sub(r"[^A-Za-z0-9_.-]+", "_",
                 os.path.basename(os.path.normpath(sf_dir)) or "data")
    return os.path.join(SparkFiles.getRootDirectory(), "scratch", f"{entry}_{tag}")


def run_table(base: str) -> str:
    """Per-run catalog table identifier, mirroring ``run_dir``.

    A per-application file path alone only half-closes the concurrency
    hole: two drivers sharing a metastore still race on the
    DROP TABLE + saveAsTable sequence if the table NAME is fixed.
    Suffixing the identifier with the process id makes the whole
    (name, location) pair per-process. Table names can't contain dots
    or dashes, so only [A-Za-z0-9_] survives.
    """
    safe = re.sub(r"[^A-Za-z0-9_]+", "_", base)
    return f"{safe}_pid{os.getpid()}"


def save_single_csv(df: DataFrame, out_path: str) -> str:
    """S6 — export a (small) DataFrame as exactly one CSV file at ``out_path``.

    Mirrors reference Cleaning.scala:155-178 semantics: overwrite, header,
    single part file renamed to the target name. Uses local-FS rename
    (the reference drives Hadoop FS via the JVM; for local/posix paths
    shutil is equivalent and avoids py4j round-trips).
    """
    tmp_dir = out_path + "__tmp"
    (df.coalesce(1).write.option("header", "true")
       .mode("overwrite").csv(tmp_dir))
    part = glob.glob(os.path.join(tmp_dir, "part-*.csv"))
    if not part:  # e.g. compressed part files
        part = [p for p in glob.glob(os.path.join(tmp_dir, "part-*")) if not p.endswith(".crc")]
    if os.path.exists(out_path):
        os.remove(out_path)
    shutil.move(part[0], out_path)
    shutil.rmtree(tmp_dir, ignore_errors=True)
    return out_path


def write_parquet(df: DataFrame, out_dir: str, partition_by: list[str] | None = None) -> str:
    """Parquet sink — the engine's default intermediate/interchange format."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(out_dir)
    return out_dir


def write_bucketed_table(df: DataFrame, table_name: str, bucket_col: str,
                         n_buckets: int = 16,
                         sort_col: str | None = None,
                         path: str | None = None) -> str:
    """Bucketed managed-table sink: pre-shuffles ONCE at write time so
    every later equi-join/aggregation on ``bucket_col`` between
    co-bucketed tables runs shuffle-free (SortMergeJoin without
    Exchange).

    The 100 TB pattern for repeatedly-joined fact tables: pay the
    partitioning once, reuse it across the workload. Spark buckets only
    via ``saveAsTable`` (the bucket metadata lives in the catalog).
    tests/test_bucketing.py asserts the co-located join plan contains no
    shuffle exchange.

    ``path`` pins the table files to an explicit location (external
    table) — pass it when the session's warehouse dir (defaults to
    cwd/spark-warehouse) is not a place you control.
    """
    # saveAsTable cannot redefine an existing EXTERNAL table's layout in
    # one step on every catalog; drop first so overwrite is total.
    df.sparkSession.sql(f"DROP TABLE IF EXISTS {table_name}")
    writer = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)
    return table_name


def export_corpus(df: DataFrame, out_dir: str, partition_col: str) -> DataFrame:
    """Publish a curated corpus: parquet partitioned by ``partition_col``
    (e.g. predicted language or source domain) plus a manifest DataFrame
    — one row per partition value with its doc count, computed from the
    written files themselves (not the input plan), so the manifest
    certifies what actually landed on disk.

    At scale the partition column doubles as the mixture-control handle:
    a trainer reads `lang=en/` directories directly, and directory
    pruning keeps unrelated partitions unscanned.
    """
    import pyspark.sql.functions as F

    df.write.mode("overwrite").partitionBy(partition_col).parquet(out_dir)
    spark = df.sparkSession
    written = spark.read.parquet(out_dir)
    return (
        written.groupBy(partition_col)
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(partition_col)
    )


def compact_parquet(spark, in_dir: str, out_dir: str,
                    target_file_bytes: int = 128 * 1024 * 1024) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ceil(total_bytes / target) evenly-sized files. Returns the file count.

    The lakehouse maintenance op streaming/incremental writers make
    necessary — thousands of KB-sized part files turn scan planning and
    task scheduling into the bottleneck. Sizing from the actual on-disk
    bytes (not row counts) keeps output files near the row-group sweet
    spot regardless of schema width. The rewrite is one round-robin
    repartition — no key skew, fully parallel.
    """
    import glob as _glob
    import math
    import os as _os

    total = sum(
        _os.path.getsize(p)
        for p in _glob.glob(_os.path.join(in_dir, "**", "*.parquet"), recursive=True)
        if _os.path.isfile(p)
    ) or sum(
        _os.path.getsize(_os.path.join(r, f))
        for r, _, fs in _os.walk(in_dir)
        for f in fs
        if f.startswith("part-")
    )
    n_files = max(1, math.ceil(total / target_file_bytes))
    spark.read.parquet(in_dir).repartition(n_files).write.mode("overwrite").parquet(out_dir)
    return n_files


def export_jsonl(df: DataFrame, out_dir: str) -> DataFrame:
    """Publish a corpus as JSON-Lines shards (the lingua franca of LLM
    training-data interchange) and return the READ-BACK DataFrame.

    ``df.write.json`` emits one JSON object per line per part file —
    exactly the sharded .jsonl layout trainers consume, written in
    parallel (one shard per task, no coalesce). The return value is
    re-read from disk with the input's own schema pinned (schema
    inference on read would widen/reorder fields), so any manifest
    computed over it certifies the files that actually landed.
    """
    df.write.mode("overwrite").json(out_dir)
    return df.sparkSession.read.schema(df.schema).json(out_dir)
