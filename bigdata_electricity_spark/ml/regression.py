"""ML pipeline — reference parity for ml/MLOperations.scala (SURVEY §2.12).

The reference's VectorAssembler → MinMaxScaler → LinearRegression →
RegressionEvaluator chain vs a mean-predictor baseline (M1-M6), as one
fit aggregate and one metrics aggregate, for any (label, features) spec.
M1 (assembly) needs no step, and neither does M2 (min-max scaling): an
affine rescale of the features cannot change an unregularised fit's
predictions. The fit (M3) solves the centred normal equations from the
population covariances: with raw ``XᵀX`` sums a 240 V column beside the
intercept would cost precision, and ``lstsq`` still gives the unique
OLS predictions when a feature is constant or two are collinear.

Float metrics are seed/solver-dependent → rows-only driver check
(SURVEY §5.2); they are unit-tested against MLlib's fit.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, functions as F


def _fit(df: DataFrame, label_col: str, feature_cols: list[str], seed: int):
    """R2 + M3 — the seeded split and the OLS fit of its train part.
    Returns (test, train label mean, intercept, coefficients), or None
    when the train split is empty."""
    data = df.select(F.col(label_col).alias("label"), *feature_cols).na.drop()
    train, test = data.randomSplit([0.7, 0.3], seed=seed)
    cols = ["label", *feature_cols]
    n, *stats = train.agg(F.count(F.lit(1)), *[F.avg(c) for c in cols],
                          *[F.covar_pop(a, b) for a in feature_cols for b in cols]).first()
    if n == 0:
        return None
    mean = np.array(stats[:len(cols)], dtype=float)
    cov = np.array(stats[len(cols):], dtype=float).reshape(len(feature_cols), len(cols))
    coefs = np.linalg.lstsq(cov[:, 1:], cov[:, 0], rcond=None)[0]
    return test, float(mean[0]), float(mean[0] - mean[1:] @ coefs), [float(b) for b in coefs]


def run_regression_pipeline(df: DataFrame, label_col: str,
                            feature_cols: list[str],
                            seed: int = 42) -> DataFrame | None:
    """Train OLS vs mean baseline; return a (metric, model, baseline) DataFrame.

    Mirrors MLOperations.run (MLOperations.scala:12-174): 0.7/0.3 split
    (R2), fit (M3), evaluate rmse/mae/r2 on test (M4), lit(mean)
    baseline (M5). Returns None (not fitted) when either split is empty,
    as for a one-hour household file.

    The metrics are RegressionEvaluator's, from one aggregate over the
    test split with the prediction as a column: rmse = sqrt(SSE/n),
    mae = SAE/n and r2 = 1 - SSE/(n * var_pop(label)), NaN when the test
    labels are constant.
    """
    fit = _fit(df, label_col, feature_cols, seed)
    if fit is None:
        return None
    test, train_mean, intercept, coefs = fit

    # M4 + M5 — model and mean-predictor baseline (MLOperations.scala:128-142)
    # from the same sums.
    prediction = sum((F.lit(b) * F.col(c) for b, c in zip(coefs, feature_cols)),
                     F.lit(intercept))
    err = F.col("label") - prediction
    base_err = F.col("label") - F.lit(train_mean)
    n, sse, sae, base_sse, base_sae, var = test.agg(
        F.count(F.lit(1)), F.sum(err * err), F.sum(F.abs(err)),
        F.sum(base_err * base_err), F.sum(F.abs(base_err)), F.var_pop("label"),
    ).first()
    if n == 0:
        return None
    sst = n * var
    rows = [
        ("rmse", math.sqrt(sse / n), math.sqrt(base_sse / n)),
        ("mae", sae / n, base_sae / n),
        ("r2", 1.0 - sse / sst if sst else math.nan,
         1.0 - base_sse / sst if sst else math.nan),
    ]
    # A VALUES table is a local relation: reading it runs no Spark job.
    cols = ("metric", "model", "baseline")
    args = {f"{c}{i}": v for i, row in enumerate(rows) for c, v in zip(cols, row)}
    values = ", ".join(f"(:metric{i}, :model{i}, :baseline{i})" for i in range(len(rows)))
    return df.sparkSession.sql(
        f"SELECT * FROM VALUES {values} AS metrics(metric, model, baseline)", args=args)


def coefficient_report(df: DataFrame, label_col: str,
                       feature_cols: list[str]) -> list[tuple[str, float]]:
    """M6 — (feature, coefficient) pairs (MLOperations.scala:169-174),
    fitted on a 70% split drawn with seed 42 (empty when it has no row)."""
    fit = _fit(df, label_col, feature_cols, 42)
    return [] if fit is None else list(zip(feature_cols, fit[3]))
