"""Feature-engineering operators — time-derived columns, one-hot, scaling.

Re-expression of reference preprocessing/Transformation.scala (SURVEY §2.2:
P11-P13, M7-M8, plus §2.8's date-part functions). Key fixes over the
reference: min/max for scaling computed in ONE aggregation job for all
columns (the reference runs one job per column, Transformation.scala:53-66)
and a max==min guard (the reference divides by zero).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def add_time_derived(df: DataFrame) -> DataFrame:
    """Derive date / hour_of_day from the hourly timestamp ``Hour``
    (Transformation.scala:12-13)."""
    return df.withColumns({
        "date": F.to_date(F.col("Hour")),
        "hour_of_day": F.hour(F.col("Hour")),
    })


def one_hot_dow(ts_or_date: Column) -> dict[str, Column]:
    """P11 — manual one-hot of day-of-week, dow_1..dow_7 (1=Sunday..7=Saturday).

    Reference Transformation.scala:23-31 builds 7 explicit 0.0/1.0 double
    columns with `when`; semantics preserved exactly (NOT
    pyspark.ml.OneHotEncoder, which yields a sparse vector — SURVEY M8).
    """
    dow = F.dayofweek(ts_or_date)
    return {
        f"dow_{d}": F.when(dow == d, 1.0).otherwise(0.0) for d in range(1, 8)
    }


def one_hot_month(ts_or_date: Column) -> dict[str, Column]:
    """P11 — manual one-hot of month, month_1..month_12 (Transformation.scala:34-36)."""
    month = F.month(ts_or_date)
    return {
        f"month_{m}": F.when(month == m, 1.0).otherwise(0.0) for m in range(1, 13)
    }


def one_hot_encode(df: DataFrame) -> DataFrame:
    """Apply both manual one-hots of ``Hour`` in a single projection."""
    return df.withColumns({**one_hot_dow(F.col("Hour")), **one_hot_month(F.col("Hour"))})


def add_engineered(df: DataFrame) -> DataFrame:
    """P12 — arithmetic projection: ``total_sub_metering``, the sum of the
    three sub-meter averages (Transformation.scala:41-48)."""
    total = (F.col("avg_Sub_metering_1") + F.col("avg_Sub_metering_2")
             + F.col("avg_Sub_metering_3"))
    return df.withColumn("total_sub_metering", total)


def min_max_scale(df: DataFrame, cols: list[str]) -> DataFrame:
    """M7/P13/A4 — per-column min-max scaling to [0,1], into ``{c}_scaled``.

    Reference Transformation.scala:51-68 runs one agg job per column and
    divides by zero when max==min; here: ONE global agg for every column
    (SURVEY §4.3.2) and a constant-column guard that emits 0.0.

    Scale note: the stats pass is a full scan but a tiny all-to-driver
    reduce (2 doubles per column); the scaling itself is a pure projection.
    """
    stats = df.agg(
        *[F.min(c).alias(f"min_{c}") for c in cols],
        *[F.max(c).alias(f"max_{c}") for c in cols],
    ).first()
    projections: dict[str, Column] = {}
    for c in cols:
        lo, hi = stats[f"min_{c}"], stats[f"max_{c}"]
        if lo is None or hi is None or hi == lo:
            projections[f"{c}_scaled"] = F.lit(0.0)
        else:
            projections[f"{c}_scaled"] = (F.col(c) - F.lit(lo)) / F.lit(hi - lo)
    return df.withColumns(projections)


DEFAULT_SCALE_COLS = [
    "avg_Global_active_power",
    "avg_Voltage",
    "avg_Global_intensity",
    "total_sub_metering",
]


def transform_pipeline(df: DataFrame) -> DataFrame:
    """Time-derived → one-hot → engineered → min-max scale
    (Transformation.scala:71-89), producing the 33-column analytical table
    (FIXTURES.md A2)."""
    out = add_time_derived(df)
    out = one_hot_encode(out)
    out = add_engineered(out)
    out = min_max_scale(out, DEFAULT_SCALE_COLS)
    return out
