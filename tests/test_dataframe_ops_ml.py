"""DataFrame re-expressions of the reference RDD module + the ML pipeline."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from bigdata_electricity_spark.ml.regression import coefficient_report, run_regression_pipeline
from bigdata_electricity_spark.operators import dataframe_ops as O


@pytest.fixture(scope="module")
def kv(spark):
    rows = [("a", 1.0), ("a", 2.0), ("b", 10.0), ("c", 4.0), ("c", 4.5)]
    return spark.createDataFrame(rows, ["k", "v"])


def test_threshold_filter_and_count(kv):
    out = O.threshold_filter(kv, "v", 3.0)
    assert out.count() == 3


def test_totals_by_key(kv):
    got = {r["k"]: r["total"] for r in
           O.totals_by_key(kv, F.col("k"), "v", key_name="k").collect()}
    assert got == {"a": 3.0, "b": 10.0, "c": 8.5}


def test_argmax(kv):
    totals = O.totals_by_key(kv, F.col("k"), "v", key_name="k")
    top = O.argmax(totals, "k", "total").first()
    assert top["k"] == "b" and top["total"] == 10.0


def test_top_k(kv):
    got = [r["v"] for r in O.top_k(kv, "v", 2).collect()]
    assert got == [10.0, 4.5]


def test_categorize_buckets(spark):
    df = spark.createDataFrame([(0.5,), (2.0,), (10.0,)], ["v"])
    buckets = [(1.0, "low"), (5.0, "mid")]
    got = [r["category"] for r in
           O.categorize(df, "v", buckets, "high").orderBy("v").collect()]
    assert got == ["low", "mid", "high"]


def test_category_counts(spark):
    df = spark.createDataFrame([(0.5,), (0.7,), (2.0,)], ["v"])
    got = {r["category"]: r["count"] for r in
           O.category_counts(df, "v", [(1.0, "low")], "high").collect()}
    assert got == {"low": 2, "high": 1}


def test_regression_on_linear_target(spark):
    # y = 3x + 2 exactly → LR must fit ~perfectly and crush the mean baseline.
    df = spark.createDataFrame(
        [(float(i), 3.0 * i + 2.0) for i in range(200)], ["x", "y"]
    )
    metrics = {r["metric"]: r for r in run_regression_pipeline(df, "y", ["x"]).collect()}
    assert metrics["r2"]["model"] == pytest.approx(1.0, abs=1e-6)
    assert metrics["rmse"]["model"] < 1e-3
    assert metrics["rmse"]["baseline"] > 100
    assert metrics["r2"]["baseline"] <= 0.01


@pytest.mark.parametrize("noise", [0.0, 5.0])
def test_regression_metrics_match_evaluator(spark, noise):
    # The one-pass metrics against RegressionEvaluator, the oracle, over
    # the same split and fit: the linear target above, and with noise.
    from pyspark.ml.evaluation import RegressionEvaluator
    from pyspark.ml.feature import MinMaxScaler, VectorAssembler
    from pyspark.ml.regression import LinearRegression

    df = spark.createDataFrame(
        [(float(i), 3.0 * i + 2.0 + noise * math.sin(i)) for i in range(200)], ["x", "y"]
    )
    got = {r["metric"]: (r["model"], r["baseline"])
           for r in run_regression_pipeline(df, "y", ["x"]).collect()}

    train, test = df.select(F.col("y").alias("label"), "x").randomSplit([0.7, 0.3], seed=42)
    assembler = VectorAssembler(inputCols=["x"], outputCol="features")
    scaler = MinMaxScaler(inputCol="features", outputCol="scaledFeatures").fit(
        assembler.transform(train))
    model = LinearRegression(featuresCol="scaledFeatures", labelCol="label").fit(
        scaler.transform(assembler.transform(train)))
    predictions = model.transform(scaler.transform(assembler.transform(test)))
    baseline = predictions.withColumn(
        "prediction", F.lit(train.agg(F.avg("label")).first()[0]))
    for metric in ("rmse", "mae", "r2"):
        evaluator = RegressionEvaluator(labelCol="label", predictionCol="prediction",
                                        metricName=metric)
        want = (evaluator.evaluate(predictions), evaluator.evaluate(baseline))
        assert got[metric] == pytest.approx(want, rel=1e-9), metric


def test_coefficient_report_recovers_slope(spark):
    df = spark.createDataFrame(
        [(float(i), 3.0 * i + 2.0) for i in range(100)], ["x", "y"]
    )
    coefs = dict(coefficient_report(df, "y", ["x"]))
    assert coefs["x"] == pytest.approx(3.0, abs=1e-6)


def test_kmeans_partitions_all_points(spark):
    from bigdata_electricity_spark.ml.clustering import kmeans_cluster_sizes
    from bigdata_electricity_spark.sources.loaders import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    sizes = kmeans_cluster_sizes(emb, k=4, seed=42).collect()
    # Every point lands in exactly one cluster; no empty clusters with
    # k=4 over 4-ish natural label groups.
    assert sum(r["n_points"] for r in sizes) == emb.count()
    assert 1 <= len(sizes) <= 4
    # Seeded run is reproducible within the engine.
    again = kmeans_cluster_sizes(emb, k=4, seed=42).collect()
    assert [tuple(r) for r in sizes] == [tuple(r) for r in again]


@pytest.mark.heavy
def test_logreg_learns_planted_clusters(spark):
    # The testdata embeddings carry random labels (chance-level by
    # construction), so learnability is asserted on PLANTED separable
    # clusters: label k lives around unit axis k.
    from bigdata_electricity_spark.ml.classification import logreg_label_accuracy

    rows = []
    for k in range(3):
        for i in range(40):
            vec = [0.0] * 8
            vec[k] = 1.0
            vec[(k + i) % 8] += 0.1 * ((i % 7) - 3)  # deterministic jitter
            rows.append((k, vec))
    df = spark.createDataFrame(rows, "label int, embedding array<float>")
    row = logreg_label_accuracy(df, seed=42).first()
    assert row["acc_test"] > row["acc_majority_baseline"] + 0.3
    assert row["acc_test"] > 0.9


def test_logreg_registry_query_runs(spark):
    from bigdata_electricity_spark.plans import REGISTRY

    row = REGISTRY["ml_logreg_labels"].fn(spark, "/root/testdata/sf0.001").first()
    assert 0.0 <= row["acc_test"] <= 1.0
    assert 0.0 <= row["acc_majority_baseline"] <= 1.0
