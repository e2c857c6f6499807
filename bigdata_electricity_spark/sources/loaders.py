"""Table loaders: driver parquet testdata + household CSV scans.

Covers SURVEY §2.1: S1 (raw CSV scan, all-string, ``"?"`` sentinels —
reference Cleaning.scala:22-28), S2 (typed CSV scan with inferSchema —
reference SQLOperations.scala:12-15), S5 (temp-view registration —
reference SQLOperations.scala:25), and the new-engine parquet scans for
``/root/testdata/sf*/{...}.parquet``.

Scale notes: parquet scans get predicate pushdown + column pruning from
Catalyst for free; the loaders never cache or collect. The only eager
work is the one-row-group schema peek for the events nanos fallback.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..session import configure

TESTDATA_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _assert_ts_is_parquet_nanos(path: str) -> None:
    """Pin the events-ts unit contract before dividing by 1000.

    The bigint fallback below exists because ``nanosAsLong`` surfaces
    parquet TIMESTAMP(NANOS) as epoch-nanos longs. But a bigint dtype
    alone doesn't prove the unit: a regenerated testdata drop that wrote
    plain INT64 epoch-MICROS would also arrive as bigint, and the ÷1000
    would silently shift every event-time window by 1000× (r8 VERDICT
    task 4). So read the parquet footer (pyarrow, metadata-only — no
    data pages) and require the column's declared logical type to be
    timestamp[ns]; anything else is a loud contract failure, not a
    guess.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        # Directory-style parquet: a drop with MIXED units across part
        # files would pass a first-file-only peek and silently misconvert
        # the other parts (r9 ADVICE) — footer reads are metadata-only,
        # so validate every part.
        checks = [
            os.path.join(path, f)
            for f in sorted(os.listdir(path))
            if f.endswith(".parquet")
        ]
    else:
        checks = [path]
    for check in checks:
        t = pq.read_schema(check).field("ts").type
        if not (pa.types.is_timestamp(t) and t.unit == "ns"):
            raise ValueError(
                f"events.ts arrived as bigint but the parquet logical type is "
                f"{t}, not timestamp[ns]; the epoch-nanos conversion contract "
                f"does not hold for this file — refusing to guess the unit "
                f"({check})"
            )


def parquet_row_count(path: str) -> int:
    """Exact table row count from parquet FOOTERS only — no Spark job.

    Index-build parameters (e.g. an LSH signature length sized to n)
    need the corpus cardinality before the plan runs; `df.count()` pays
    a full scan for a number every footer already stores. Metadata-only
    reads, summed across part files for directory-style datasets —
    the same access pattern as :func:`_assert_ts_is_parquet_nanos`
    (r9 VERDICT task 6).
    """
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        parts = [
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        ]
    else:
        parts = [path]
    return sum(pq.ParquetFile(p).metadata.num_rows for p in parts)


def _events_ts_to_timestamp(df: DataFrame) -> DataFrame:
    """Convert the epoch-nanos ``ts`` long to a UTC-naive timestamp.

    events.parquet stores TIMESTAMP(NANOS); with
    ``spark.sql.legacy.parquet.nanosAsLong`` the column arrives as bigint
    epoch-nanos. Truncate to micros (Spark timestamp precision) and cast
    to timestamp_ntz so downstream hour()/to_date() are timezone-free and
    match the DuckDB oracle's naive TIMESTAMP_NS semantics.
    """
    return df.withColumn(
        "ts",
        F.timestamp_micros(F.floor(F.col("ts") / F.lit(1000)).cast("long")).cast("timestamp_ntz"),
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame (lazy parquet scan)."""
    configure(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        _assert_ts_is_parquet_nanos(f"{sf_dir}/{name}.parquet")
        df = _events_ts_to_timestamp(df)
    return df


def register_views(spark: SparkSession, sf_dir: str,
                   tables: tuple[str, ...] = TESTDATA_TABLES) -> dict[str, DataFrame]:
    """Load tables and register each as a temp view (S5).

    Mirrors the reference's temp-view + spark.sql pattern
    (SQLOperations.scala:25) generalized to the whole star schema.
    """
    out: dict[str, DataFrame] = {}
    for name in tables:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


# ---------------------------------------------------------------------------
# Household-power CSV scans (reference-parity sources)
# ---------------------------------------------------------------------------

def load_household_raw(spark: SparkSession, path: str, sep: str = ";") -> DataFrame:
    """S1 — raw scan: header, ``;`` separator, every column string.

    inferSchema is deliberately false so ``"?"`` sentinel handling and
    cast-failure accounting stay possible (reference Cleaning.scala:22-28).
    """
    configure(spark)
    return (
        spark.read.option("header", "true")
        .option("sep", sep)
        .option("inferSchema", "false")
        .csv(path)
    )


def load_household_typed(spark: SparkSession, path: str) -> DataFrame:
    """S2 — typed scan with schema inference (reference SQLOperations.scala:12-15).

    Kept for reference parity; production paths should pass an explicit
    schema or use parquet intermediates (inference costs an extra scan).
    """
    configure(spark)
    return (
        spark.read.option("header", "true")
        .option("inferSchema", "true")
        .csv(path)
    )
