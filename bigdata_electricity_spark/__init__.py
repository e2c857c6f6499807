"""bigdata_electricity_spark — a PySpark-native analytics engine.

A ground-up re-expression of the query and data-processing capabilities of
the reference repo (noorge/BigData-Electricity, a Scala/Spark 3.5 batch
pipeline over household electricity meter readings — see SURVEY.md), built
Spark-first on the PySpark DataFrame / Spark SQL API and generalized to run
over arbitrary relational testdata plus LLM-data-pipeline extensions
(dedup, similarity search, text analysis, multimodal plumbing, streaming).

Layout:
    session.py          SparkSession factory + runtime config
    sources/            table loaders (parquet testdata, household CSV) + sinks
    functions/          scalar/array helper expressions (all JVM-side)
    operators/          cleaning / reduction / transformation / analytics /
                        dedup / similarity / text / multimodal operators
    plans/              the named-query registry (Spark impl + DuckDB oracle)
    streaming/          Structured Streaming variants of the event analytics
    ml/                 regression pipeline (OLS from one aggregate)
"""

__version__ = "0.1.0"
