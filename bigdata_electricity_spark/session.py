"""SparkSession factory and runtime configuration.

The reference hard-codes ``master("local[*]")`` in its entry point
(reference: src/main/scala/Main.scala:8-11). This engine instead accepts
any externally-built session (the driver passes its own) and applies the
runtime-settable configuration it needs via :func:`configure`; the local
factory :func:`get_spark` exists for tests and the bench harness.

Scale notes (100 TB design):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  broadcast demotion/promotion — essential once real data sizes vary.
- ``spark.sql.shuffle.partitions`` is a floor for local runs; on a real
  cluster AQE re-plans from this starting point.
- Session timezone pinned to UTC so date/hour extraction is reproducible
  and matches the (UTC-naive) DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable SQL confs the engine relies on. Applied both in the
# local factory and (idempotently) to driver-supplied sessions.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Every testdata drop stores events.ts as TIMESTAMP(MICROS), read
    # natively as timestamp_ntz. A TIMESTAMP(NANOS) column needs this
    # flag: Spark 4.1 then reads it as epoch-nanos bigint, which
    # loaders.events_ts_to_timestamp converts, and without it fails the
    # read with PARQUET_TYPE_ILLEGAL.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow for pandas_udf / mapInPandas / toPandas paths.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Plan cached queries with adaptive execution, as their uncached
    # plans are. Off by default in Spark 4: a cached plan's last shuffle
    # then keeps every partition instead of being coalesced, so a seeded
    # sample or split drawn over a cache would differ from the one drawn
    # over the lazy plan. Caching must never change a seeded result.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an existing session (idempotent)."""
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # Non-settable in this deployment — proceed with its value
            # (with nanosAsLong off, a NANOS column fails its read loudly).
            pass
    return spark


def get_spark(app_name: str = "bigdata_electricity_spark",
              cores: int | None = None) -> SparkSession:
    """Build a local session for tests/bench.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all cores; shuffle
    partitions equal the core count (never the 200 default, which is
    pathological for sub-GB local data — SURVEY §4.2).
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return configure(spark)
