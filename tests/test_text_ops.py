"""Text-analysis column functions on hand-computed examples."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_electricity_spark.operators import text as T


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "The cat and the dog. The end of it is near."),        # en
        (2, "el perro y la casa que los gatos"),                   # es
        (3, "der Hund und die Katze das Haus"),                    # de
        (4, "xyzzy plugh qwerty"),                                 # und
        (5, ""),                                                   # empty
        (6, "a a a a a a"),                                        # repetitive
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_token_counts(spark):
    df = spark.createDataFrame([("one two  three",)], ["text"])
    row = df.select(
        T.token_count(F.col("text")).alias("ws"),
        T.bpe_ish_token_count(F.col("text")).alias("bpe"),
    ).first()
    assert row["ws"] == 3
    assert row["bpe"] == 3


def test_bpe_ish_counts_punctuation_separately(spark):
    df = spark.createDataFrame([("Hello, world!",)], ["text"])
    row = df.select(T.bpe_ish_token_count(F.col("text")).alias("n")).first()
    assert row["n"] == 4  # Hello , world !


def test_punct_ratio(spark):
    df = spark.createDataFrame([("ab.!",), ("",)], ["text"])
    vals = [r["p"] for r in df.select(T.punct_ratio(F.col("text")).alias("p")).collect()]
    assert vals[0] == pytest.approx(0.5)
    assert vals[1] == 0.0


def test_distinct_token_ratio_repetition(docs):
    row = (
        docs.filter("doc_id = 6")
        .select(T.distinct_token_ratio(F.col("text")).alias("r"))
        .first()
    )
    assert row["r"] == pytest.approx(1 / 6)


def test_language_id(docs):
    got = {
        r["doc_id"]: r["lang"]
        for r in docs.select("doc_id", T.predict_language(F.col("text")).alias("lang")).collect()
    }
    assert got[1] == "en"
    assert got[2] == "es"
    assert got[3] == "de"
    assert got[4] == "und"


def test_sentiment_label_branches(spark):
    df = spark.createDataFrame(
        [
            (1, "this is a great and excellent thing, best ever"),
            (2, "terrible awful experience, the worst"),
            (3, "the meter reads forty watts"),
            (4, "good but also bad"),                 # tie → neutral
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["s"]
           for r in df.select("doc_id", T.sentiment_label(F.col("text")).alias("s")).collect()}
    assert got == {1: "positive", 2: "negative", 3: "neutral", 4: "neutral"}


def test_fingerprint_normalization_invariance(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "other")], ["doc_id", "text"]
    )
    fps = [r["fp"] for r in df.select(T.fingerprint(F.col("text")).alias("fp")).collect()]
    assert fps[0] == fps[1]
    assert fps[0] != fps[2]
