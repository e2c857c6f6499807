"""ML pipeline — reference parity for ml/MLOperations.scala (SURVEY §2.12).

VectorAssembler → MinMaxScaler → LinearRegression → rmse/mae/r2 as
RegressionEvaluator defines them → mean-predictor baseline comparison
(M1-M6), generalized from the household table to any (label, features)
column spec.

Float metrics are seed/solver-dependent → rows-only driver check
(SURVEY §5.2); the pipeline's invariants (schema, metric sanity, model
beating the baseline on a linear target) are unit-tested.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F
from pyspark.ml.feature import MinMaxScaler, VectorAssembler
from pyspark.ml.regression import LinearRegression


def run_regression_pipeline(df: DataFrame, label_col: str,
                            feature_cols: list[str],
                            seed: int = 42) -> DataFrame | None:
    """Train LR vs mean baseline; return a (metric, model, baseline) DataFrame.

    Mirrors MLOperations.run (MLOperations.scala:12-174): 0.7/0.3 split
    (R2), assemble (M1), min-max scale fit on train only (M2), LR fit
    (M3), evaluate rmse/mae/r2 on test (M4), lit(mean) baseline (M5).
    Returns None (not fitted) when either split is empty, as for a
    one-hour household file.

    The metrics are RegressionEvaluator's, computed from one aggregate
    over the test predictions instead of one evaluator pass per metric
    and predictor: rmse = sqrt(SSE/n), mae = SAE/n and
    r2 = 1 - SSE/(n * var_pop(label)), NaN when the test labels are
    constant.
    """
    data = df.select(F.col(label_col).alias("label"), *feature_cols).na.drop()
    train, test = data.randomSplit([0.7, 0.3], seed=seed)
    n_train, train_mean = train.agg(F.count(F.lit(1)), F.avg("label")).first()
    if n_train == 0:
        return None

    assembler = VectorAssembler(inputCols=feature_cols, outputCol="features")
    scaler = MinMaxScaler(inputCol="features", outputCol="scaledFeatures")
    train_vec = assembler.transform(train)
    scaler_model = scaler.fit(train_vec)  # fit on train only — no test leakage
    lr = LinearRegression(featuresCol="scaledFeatures", labelCol="label")
    model = lr.fit(scaler_model.transform(train_vec))
    predictions = model.transform(scaler_model.transform(assembler.transform(test)))

    # M4 + M5 — model and mean-predictor baseline (MLOperations.scala:128-142)
    # from the same sums.
    err = F.col("label") - F.col("prediction")
    base_err = F.col("label") - F.lit(train_mean)
    n, sse, sae, base_sse, base_sae, var = predictions.agg(
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
    fitted on a 70% split drawn with seed 42."""
    data = df.select(F.col(label_col).alias("label"), *feature_cols).na.drop()
    train, _ = data.randomSplit([0.7, 0.3], seed=42)
    vec = VectorAssembler(inputCols=feature_cols, outputCol="features").transform(train)
    model = LinearRegression(featuresCol="features", labelCol="label").fit(vec)
    return list(zip(feature_cols, [float(c) for c in model.coefficients]))
