"""Data-reduction operators — temporal rollup, sampling, feature selection.

Re-expression of reference preprocessing/reduction.scala (SURVEY §2.9:
R1-R4, A3, P10, O1). The minute→hour rollup is the reference's key
data-reduction stage (60× row reduction before analytics).

Scale notes: the hourly rollup is a hash aggregation with map-side partial
aggregation — the canonical scalable shape. Sampling is per-partition
Bernoulli (no shuffle, no driver involvement).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .cleaning import NUM_COLS


def aggregate_hourly(df: DataFrame, ts_col: str = "DateTime",
                     num_cols: list[str] | None = None,
                     out_ts_col: str = "Hour") -> DataFrame:
    """A3/R3 — truncate to hour and average every measurement.

    Reference reduction.scala:10-24: ``date_trunc("hour", ...)`` +
    one avg per numeric column, ordered by hour.
    """
    num_cols = num_cols or NUM_COLS
    return (
        df.withColumn(out_ts_col, F.date_trunc("hour", F.col(ts_col)))
        .groupBy(out_ts_col)
        .agg(*[F.avg(c).alias(f"avg_{c}") for c in num_cols])
        .orderBy(out_ts_col)
    )


def sample_rows(df: DataFrame, fraction: float = 0.5, seed: int = 42) -> DataFrame:
    """R1 — seeded Bernoulli sample without replacement (reduction.scala:27-29).

    Seed-deterministic within Spark but engine-specific → declared
    rows-only for oracle checking (SURVEY §5.2). The draw is per
    partition, so the kept rows also depend on the partition layout,
    which follows the core count of ``local[N]`` (it sets the shuffle
    partitions) and adaptive execution's coalescing of them: pin a
    sampled digest for one core count only, never across them.
    """
    return df.sample(withReplacement=False, fraction=fraction, seed=seed)


def stratified_sample(df: DataFrame, strata_col: str, fractions: dict,
                      seed: int = 42) -> DataFrame:
    """R1-extension — per-stratum Bernoulli sampling (``sampleBy``).

    The scale-correct way to downsample skewed categories independently
    (e.g. keep 1% of 'view' events but 100% of 'purchase'): per-partition
    filtering with no shuffle, like ``sample``. Seed-deterministic within
    Spark → rows-only for oracle purposes.
    """
    return df.sampleBy(strata_col, fractions, seed=seed)


def select_features(df: DataFrame, keep: list[str] | None = None) -> DataFrame:
    """P10/R4 — column-pruning projection (reduction.scala:32-43).

    The reference keeps Hour + 6 of the 7 averaged measurements,
    deliberately dropping avg_Global_reactive_power.
    """
    keep = keep or [
        "Hour",
        "avg_Global_active_power",
        "avg_Voltage",
        "avg_Global_intensity",
        "avg_Sub_metering_1",
        "avg_Sub_metering_2",
        "avg_Sub_metering_3",
    ]
    return df.select(*keep)


def reduce_pipeline(df: DataFrame, sample_fraction: float = 0.5, seed: int = 42) -> DataFrame:
    """Hourly rollup → seeded sample → feature selection (reduction.scala:46-51)."""
    return select_features(sample_rows(aggregate_hourly(df), sample_fraction, seed))
