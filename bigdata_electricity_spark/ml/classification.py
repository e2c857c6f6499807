"""Multiclass classification over the embeddings table (ML extension).

Rounds out the pyspark.ml surface beyond the reference's single
LinearRegression (MLOperations.scala:67-72): a seeded multinomial
logistic regression predicting the embedding's cluster label, evaluated
train/test — the supervised twin of the KMeans quantizer
(ml/clustering.py).

Scale notes: logistic regression trains via distributed l-bfgs
(treeAggregate gradient passes — no data shuffle); the 0.7/0.3 split
mirrors the reference's seeded randomSplit (MLOperations.scala:18).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def logreg_label_accuracy(embeddings: DataFrame, seed: int = 42) -> DataFrame:
    """Train multinomial logistic regression label←embedding; return one
    row of train/test accuracy vs the majority-class baseline
    (rows-only check: solver floats are engine-specific).
    """
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator
    from pyspark.ml.functions import array_to_vector

    data = embeddings.select(
        F.col("label").cast("double").alias("label"),
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
    )
    train, test = data.randomSplit([0.7, 0.3], seed=seed)
    model = LogisticRegression(maxIter=50, regParam=0.01).fit(train)
    evaluator = MulticlassClassificationEvaluator(metricName="accuracy")
    acc_train = evaluator.evaluate(model.transform(train))
    acc_test = evaluator.evaluate(model.transform(test))
    majority = (
        train.groupBy("label").count().orderBy(F.desc("count"), "label").first()
    )
    baseline = (
        test.filter(F.col("label") == majority["label"]).count() / max(test.count(), 1)
    )
    spark = embeddings.sparkSession
    return spark.createDataFrame(
        [(round(acc_train, 4), round(acc_test, 4), round(baseline, 4))],
        "acc_train double, acc_test double, acc_majority_baseline double",
    )
