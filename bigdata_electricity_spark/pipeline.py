"""End-to-end reference pipeline: the PySpark Main.scala.

Wires the full flow the reference runs as separate hand-edited stages
(Main.scala:18 switches modules by recompiling): raw CSV → Cleaning →
Reduction → Transformation → export → SQL analytics → ML — as one
composable function over DataFrames, with parquet (not CSV) as the
inter-stage format when materialization is requested (SURVEY §4.3.4).

A user of the reference can point :func:`run_reference_pipeline` at the
same semicolon-CSV and get every artifact the reference produces.

Materialisation (Spark SQL, SIGMOD 2015, §3: lazy plans, with in-memory
columnar caches placed at the points where a result is reused). The
pipeline caches exactly three tables, each read by several actions:

* the prepared raw table (sentinels nulled, ``DateTime`` added), so the
  CSV is parsed once for the profile and the cleaning. It is released as
  soon as the outlier pass has materialised the cleaned table;
* the cleaned table (``PipelineResult.cleaned``), read by the outlier
  pass, the hourly rollup and the caller;
* the hourly, sampled and feature-selected table. ``transformed`` is a
  projection over it, so the min/max stats, the export, Q1-Q5 and the
  regression all read one seeded sample, drawn once per pipeline.

Release: the :class:`PipelineResult` owns the last two caches, by the
rule of ``materialise``. Released, every artifact is still usable and
recomputed from the CSV on each action. Spark keys caches by plan, so
two open results over the same file share them, and closing either
releases them for both.

Partition layout. S1 reads the CSV with a pinned schema and runs no
job to do it. A CSV that Spark reads as one split (the single-split rule
of ``sources.loaders``) is declared one partition, so the profile, the
dedup, the hourly rollup and its sort, and Q1-Q5 plan no shuffle, and
each cache holds one partition. A larger CSV or a directory of CSVs
keeps Spark's split plan and its exchanges. The caches are planned with
adaptive execution, like the uncached plans (a rule of
``session.RUNTIME_CONFS``), so they keep those plans' partition layout,
and with it the seeded sample and the train/test split.
"""

from __future__ import annotations

import weakref
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .materialise import Owner, cache, release
from .ml.regression import run_regression_pipeline
from .operators.cleaning import (
    BeforeStats,
    clean_prepared,
    compute_before_stats,
    outlier_report_iqr,
    prepare_raw,
)
from .operators.reduction import reduce_pipeline
from .operators.transformation import transform_pipeline
from .sources.loaders import load_household_raw
from .sources.sinks import save_single_csv


@dataclass
class PipelineResult:
    """Every artifact of the reference flow.

    ``cleaned`` and the sampled table behind ``transformed`` (and so
    behind ``sql_results``) are cached until :meth:`close`, the end of a
    ``with`` block, or the result being garbage-collected, whichever
    comes first; the other DataFrames are lazy plans. ``ml_metrics`` is
    None when the regression could not be fitted.
    """

    before_stats: BeforeStats
    cleaned: DataFrame
    transformed: DataFrame
    outlier_report: dict[str, int]
    owner: Owner = field(repr=False)
    sql_results: dict[str, DataFrame] = field(default_factory=dict)
    ml_metrics: DataFrame | None = None
    export_path: str | None = None

    def __post_init__(self) -> None:
        # The finalizer holds the owner, never the result itself. It may
        # release the owner's frames because they are caches only. At
        # interpreter exit the session may be gone, and its caches with it.
        self._release = weakref.finalize(self, self.owner.close)
        self._release.atexit = False

    def close(self) -> None:
        """Release what the pipeline cached (idempotent)."""
        self._release()

    def __enter__(self) -> PipelineResult:
        return self

    def __exit__(self, *exc) -> None:
        self.close()


# Q1-Q5 over the transformed household table (temp view power_data), the
# literal query surface of sql/SQLOperations.scala:39-151 with identical
# shapes (names parameterized to the transformed schema of FIXTURES.md A2).
POWER_SQL: dict[str, str] = {
    "q1_avg_by_hour": """
        SELECT hour_of_day, AVG(avg_Global_active_power) AS avg_power
        FROM power_data GROUP BY hour_of_day ORDER BY avg_power DESC
    """,
    "q2_global_stats": """
        SELECT COUNT(DISTINCT date) AS distinct_days,
               AVG(avg_Global_active_power) AS avg_power,
               VARIANCE(avg_Global_active_power) AS var_power
        FROM power_data
    """,
    "q3_rank_years": """
        SELECT year, avg_power, RANK() OVER (ORDER BY avg_power DESC) AS power_rank
        FROM (SELECT YEAR(date) AS year, AVG(avg_Global_active_power) AS avg_power
              FROM power_data GROUP BY YEAR(date))
        ORDER BY power_rank
    """,
    "q4_above_avg_days": """
        WITH daily_consumption AS (
            SELECT date, SUM(avg_Global_active_power) AS total_power
            FROM power_data GROUP BY date
        )
        SELECT date, total_power FROM daily_consumption
        WHERE total_power > (SELECT AVG(total_power) FROM daily_consumption)
        ORDER BY total_power DESC
    """,
    "q5_top_month_per_year": """
        WITH monthly AS (
            SELECT YEAR(date) AS year, MONTH(date) AS month,
                   AVG(avg_Global_active_power) AS avg_power
            FROM power_data GROUP BY YEAR(date), MONTH(date)
        ), ranked AS (
            SELECT year, month, avg_power,
                   ROW_NUMBER() OVER (PARTITION BY year ORDER BY avg_power DESC) AS month_rank
            FROM monthly
        )
        SELECT year, month, avg_power FROM ranked WHERE month_rank = 1 ORDER BY year
    """,
}

ML_LABEL = "avg_Global_active_power"
ML_FEATURES = ["avg_Voltage", "avg_Global_intensity", "total_sub_metering"]


def run_reference_pipeline(spark: SparkSession, raw_csv_path: str,
                           sample_fraction: float = 0.5, seed: int = 42,
                           export_csv_path: str | None = None) -> PipelineResult:
    """The complete reference flow on a raw household-power CSV.

    Stages (with reference citations):
      1. load S1 + profile (Cleaning.scala:22-89)
      2. clean: sentinels→DateTime→cast→drop→dedup (Cleaning.scala:92-120)
      3. outlier report (Cleaning.scala:123-152)
      4. reduce: hourly rollup → seeded sample → feature selection
         (reduction.scala:10-43)
      5. transform: time-derived, one-hot, engineered, min-max scale
         (Transformation.scala:12-89)
      6. single-file CSV export when ``export_csv_path`` is given
         (Transformation.scala:92-115)
      7. SQL analytics Q1-Q5 on temp view power_data
         (SQLOperations.scala:25-153)
      8. ML regression vs mean baseline, one fit and one metrics
         aggregate (MLOperations.scala:12-167)

    The result holds caches (see the module docstring); release them with
    ``with run_reference_pipeline(...) as result:`` or ``result.close()``.
    A failed run releases them before it raises.
    """
    owner = Owner()
    try:
        prepped = cache(prepare_raw(load_household_raw(spark, raw_csv_path)))
        before = compute_before_stats(prepped)

        cleaned = cache(clean_prepared(prepped))
        outliers = outlier_report_iqr(cleaned).first().asDict()
        # cleaned is materialised now, so its cache no longer reads prepped's.
        release(prepped)

        sampled = cache(reduce_pipeline(cleaned, sample_fraction=sample_fraction, seed=seed))
        transformed = transform_pipeline(sampled)

        export_path = None
        if export_csv_path is not None:
            export_path = save_single_csv(transformed, export_csv_path)

        transformed.createOrReplaceTempView("power_data")
        sql_results = {name: spark.sql(q) for name, q in POWER_SQL.items()}

        ml_metrics = run_regression_pipeline(
            transformed, label_col=ML_LABEL, feature_cols=ML_FEATURES, seed=seed
        )
    except BaseException:
        owner.close()
        raise
    owner.stop()
    return PipelineResult(
        before_stats=before,
        cleaned=cleaned,
        transformed=transformed,
        outlier_report=outliers,
        owner=owner,
        sql_results=sql_results,
        ml_metrics=ml_metrics,
        export_path=export_path,
    )
