"""End-to-end reference pipeline on the dirty household fixture.

The closest thing to 'running the reference': raw semicolon-CSV with
every pathology → cleaned → reduced → transformed → exported → Q1-Q5 →
ML, all in one call, with invariants checked at each artifact.
"""

from __future__ import annotations

import gc
import math
import os

import pytest
from pyspark.sql import functions as F

from bigdata_electricity_spark.ml.regression import run_regression_pipeline
from bigdata_electricity_spark.operators.cleaning import NUM_COLS, clean_pipeline
from bigdata_electricity_spark.operators.reduction import reduce_pipeline
from bigdata_electricity_spark.operators.transformation import transform_pipeline
from bigdata_electricity_spark.pipeline import (
    ML_FEATURES, ML_LABEL, POWER_SQL, run_reference_pipeline,
)
from bigdata_electricity_spark.sources.loaders import load_household_raw
from tests.conftest import COLUMNS, make_household_rows

# Spark jobs that one fixture pipeline and its consumption ran once the
# CSV was read with a pinned schema as one partition (no header job, no
# shuffle), parsed once, the cleaned and sampled tables were cached, and
# the regression was fitted from one aggregate (the MLlib fit ran 20 in
# all); the lazy plans, which re-ran the lineage from the CSV on every
# action, ran 98.
JOB_BUDGET = 17


def _write_csv(path, rows) -> str:
    with open(path, "w") as fh:
        fh.write(";".join(COLUMNS) + "\n")
        for r in rows:
            fh.write(";".join(r) + "\n")
    return str(path)


def _persisted_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _consume(cleaned, sql_results, ml_metrics):
    """Every column of the cleaned table, every SQL row and the ML metrics."""
    cleaned_row = tuple(cleaned.agg(
        F.count(F.lit(1)), *[F.sum(c) for c in NUM_COLS],
        F.min("DateTime"), F.max("DateTime"),
        F.sum(F.length("Date")) + F.sum(F.length("Time")),
    ).first())
    sql = {name: [tuple(r) for r in df.collect()] for name, df in sql_results.items()}
    ml = None if ml_metrics is None else sorted(tuple(r) for r in ml_metrics.collect())
    return cleaned_row, sql, ml


def _close(a, b) -> bool:
    if isinstance(a, (tuple, list)):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    if isinstance(a, dict):
        return a.keys() == b.keys() and all(_close(a[k], b[k]) for k in a)
    if isinstance(a, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    return a == b


@pytest.fixture(scope="module")
def result(spark, tmp_path_factory):
    rows, _ = make_household_rows()
    csv_dir = tmp_path_factory.mktemp("household")
    src = _write_csv(csv_dir / "power.csv", rows)
    out_csv = str(csv_dir / "transformed.csv")
    with run_reference_pipeline(
        spark, src, sample_fraction=1.0, export_csv_path=out_csv
    ) as res:
        yield res


def test_pipeline_profile(result):
    _, expected = make_household_rows()
    assert result.before_stats.total_rows == expected["total_rows"]
    assert result.before_stats.any_null_measurement == expected["any_null"]


def test_pipeline_transformed_schema(result):
    # The 33-column analytical table of FIXTURES.md A2.
    cols = result.transformed.columns
    assert len(cols) == 33
    assert cols[0] == "Hour"
    for c in ("dow_1", "month_12", "total_sub_metering", "total_sub_metering_scaled"):
        assert c in cols


def test_pipeline_export_single_file(result):
    assert result.export_path and os.path.isfile(result.export_path)
    with open(result.export_path) as fh:
        header = fh.readline().strip().split(",")
    assert header[0] == "Hour"
    assert len(header) == 33


def test_pipeline_sql_results(result):
    q1 = result.sql_results["q1_avg_by_hour"].collect()
    assert len(q1) == 24  # all 24 hours present in the fixture
    # Descending by avg_power.
    vals = [r["avg_power"] for r in q1]
    assert vals == sorted(vals, reverse=True)

    q2 = result.sql_results["q2_global_stats"].first()
    assert q2["distinct_days"] == 3

    q5 = result.sql_results["q5_top_month_per_year"].collect()
    assert len(q5) == 1 and q5[0]["month"] == 3  # single March window


def test_pipeline_ml_metrics(result):
    metrics = {r["metric"]: r for r in result.ml_metrics.collect()}
    assert set(metrics) == {"rmse", "mae", "r2"}
    # Power ~ intensity is near-linear in the fixture: model must beat baseline.
    assert metrics["rmse"]["model"] < metrics["rmse"]["baseline"]


def test_observe_metrics_single_action(spark):
    # Stage metrics must arrive as a side effect of the ONE action the
    # pipeline already runs — no extra count() jobs (SURVEY §4.3.2).
    from pyspark.sql import functions as F

    from bigdata_electricity_spark.operators.observability import observe_stage
    from bigdata_electricity_spark.sources.loaders import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    staged, obs_in = observe_stage(
        docs, "ingest",
        F.count(F.lit(1)).alias("n_rows"), F.sum("n_chars").alias("n_chars"),
    )
    kept = staged.filter(F.col("n_chars") >= 100)
    kept, obs_out = observe_stage(kept, "kept")

    n_kept_action = kept.count()  # the single action
    assert obs_out.get["n_rows"] == n_kept_action
    assert obs_in.get["n_rows"] == docs.count()
    assert obs_in.get["n_chars"] == docs.agg(F.sum("n_chars")).first()[0]


def test_pipeline_matches_lazy_plans_and_releases_caches(spark, tmp_path):
    # The materialised pipeline reads the same cleaned table, seeded
    # sample, SQL results and metrics as the lazy composition of the same
    # operators, and gives back every cache it made: on leaving the with
    # block, and when an unclosed result is dropped.
    src = _write_csv(tmp_path / "power.csv", make_household_rows()[0])
    cleaned = clean_pipeline(load_household_raw(spark, src))
    transformed = transform_pipeline(reduce_pipeline(cleaned, sample_fraction=0.5, seed=42))
    transformed.createOrReplaceTempView("power_data")
    lazy = _consume(cleaned, {name: spark.sql(q) for name, q in POWER_SQL.items()},
                    run_regression_pipeline(transformed, ML_LABEL, ML_FEATURES, seed=42))

    # RDDs are compared by id: the context cleaner may meanwhile drop RDDs
    # that earlier tests left persisted.
    before = _persisted_ids(spark)
    with run_reference_pipeline(spark, src, sample_fraction=0.5, seed=42) as res:
        assert len(_persisted_ids(spark) - before) == 2  # cleaned + sampled
        got = _consume(res.cleaned, res.sql_results, res.ml_metrics)
    assert _persisted_ids(spark) <= before
    assert _close(got, lazy)
    res.close()  # idempotent

    res = run_reference_pipeline(spark, src)
    assert len(_persisted_ids(spark) - before) == 2
    del res
    gc.collect()
    assert _persisted_ids(spark) <= before


def test_pipeline_job_budget(spark, tmp_path):
    # Re-running the lineage from the CSV on every action must fail this.
    src = _write_csv(tmp_path / "power.csv", make_household_rows()[0])
    sc = spark.sparkContext
    group = "test-pipeline-job-budget"
    sc.setJobGroup(group, "household pipeline job budget")
    try:
        with run_reference_pipeline(spark, src, sample_fraction=1.0,
                                    export_csv_path=str(tmp_path / "out.csv")) as res:
            _consume(res.cleaned, res.sql_results, res.ml_metrics)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < jobs <= JOB_BUDGET, jobs


def _one_hour_rows():
    return make_household_rows()[0][:60]


DEGENERATE_INPUTS = {
    "header_only": lambda: [],
    "all_missing": lambda: [["?"] * len(COLUMNS)] * 5,
    # ISO dates where the reference expects d/M/yyyy: no row has a DateTime
    "unparseable_dates": lambda: [["2007-03-07", *r[1:]] for r in _one_hour_rows()],
    "one_hour": _one_hour_rows,
}


@pytest.mark.parametrize("case", sorted(DEGENERATE_INPUTS))
def test_pipeline_degenerate_input(spark, tmp_path, case):
    rows = DEGENERATE_INPUTS[case]()
    src = _write_csv(tmp_path / "power.csv", rows)
    before = _persisted_ids(spark)
    with run_reference_pipeline(spark, src, export_csv_path=str(tmp_path / "out.csv")) as res:
        assert res.before_stats.total_rows == len(rows)
        n_clean = res.cleaned.count()
        assert n_clean == (len(rows) if case == "one_hour" else 0)
        assert set(res.outlier_report) == {f"outliers_{c}" for c in NUM_COLS}
        if n_clean == 0:
            assert set(res.outlier_report.values()) == {0}
        assert res.ml_metrics is None  # at most one hourly row: not fitted
        for df in res.sql_results.values():
            df.collect()
    # No RDD the run persisted is left. Compared by id, not by count: the
    # context cleaner may meanwhile drop checkpoints earlier tests leaked.
    assert _persisted_ids(spark) <= before
