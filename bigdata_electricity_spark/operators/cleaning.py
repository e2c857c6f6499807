"""Cleaning operators — sentinel handling, typing, dedup, profiling, gaps, outliers.

PySpark-native re-expression of the reference's preprocessing/Cleaning.scala
(SURVEY §2.2/§2.4/§2.5: P1-P9, A1-A2, A11-A12, W1). Structure mirrors the
reference's decomposition but fixes its one-job-per-metric profiling
(SURVEY §4.3.2): every profile here is a SINGLE aggregation pass.

Column names are those of the UCI household-power table the reference
targets (Cleaning.scala:11-19): ``Date``/``Time`` strings, the derived
``DateTime`` and the seven :data:`NUM_COLS` measurements. A table with
other names is renamed to these with one projection first. Only the
outlier fences, ``drop_missing`` and the cadence-gap detector take
column parameters, because callers run them on other columns.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.scalars import all_null, any_null, null_counts_exprs, to_event_datetime

# Canonical numeric columns of the household table (Cleaning.scala:11-19).
NUM_COLS: list[str] = [
    "Global_active_power",
    "Global_reactive_power",
    "Voltage",
    "Global_intensity",
    "Sub_metering_1",
    "Sub_metering_2",
    "Sub_metering_3",
]

SENTINEL = "?"


def replace_sentinels_with_null(df: DataFrame) -> DataFrame:
    """P1 — replace the ``"?"`` missing-value sentinel with null.

    Reference Cleaning.scala:31-33 (na.replace over all columns).
    """
    return df.na.replace(SENTINEL, None, subset=df.columns)


def add_datetime(df: DataFrame) -> DataFrame:
    """P2 — derive ``DateTime`` from the unpadded Date+Time strings.

    Reference Cleaning.scala:36-41 (`to_timestamp(concat_ws(...), "d/M/yyyy H:mm:ss")`);
    unparseable rows become null and are accounted for in before_stats.
    """
    return df.withColumn("DateTime", to_event_datetime())


@dataclass
class BeforeStats:
    """Profile of the raw table prior to cleaning (Cleaning.scala:44-51)."""

    total_rows: int
    null_datetime: int
    any_null_measurement: int
    all_null_measurement: int
    duplicate_timestamps: int
    per_column_nulls: dict[str, int]


def compute_before_stats(df: DataFrame) -> BeforeStats:
    """Single-query profiling of null/dup pathologies.

    The reference runs 6+ separate count jobs (Cleaning.scala:53-89); here
    ONE query groups by timestamp, counting rows and nulls per group, and
    totals the groups, so the duplicate-timestamp count (A1,
    Cleaning.scala:65-66) shares the scan. Rows with a null timestamp form
    one group of their own, counted but never as duplicates.
    """
    null_counts = {
        "any_null": any_null(NUM_COLS),
        "all_null": all_null(NUM_COLS),
        **{f"nulls_{c}": F.col(c).isNull() for c in NUM_COLS},
    }
    per_ts = df.groupBy("DateTime").agg(
        F.count(F.lit(1)).alias("n"),
        *[F.count_if(cond).alias(name) for name, cond in null_counts.items()],
    )
    null_ts = F.col("DateTime").isNull()
    row = per_ts.agg(
        F.sum("n").alias("total_rows"),
        F.sum(F.when(null_ts, F.col("n"))).alias("null_dt"),
        F.sum(F.when(~null_ts, F.col("n") - 1)).alias("dups"),
        *[F.sum(name).alias(name) for name in null_counts],
    ).first()
    return BeforeStats(
        total_rows=row["total_rows"] or 0,
        null_datetime=row["null_dt"] or 0,
        any_null_measurement=row["any_null"] or 0,
        all_null_measurement=row["all_null"] or 0,
        duplicate_timestamps=row["dups"] or 0,
        per_column_nulls={c: (row[f"nulls_{c}"] or 0) for c in NUM_COLS},
    )


def drop_missing(df: DataFrame, num_cols: list[str] | None = None) -> DataFrame:
    """P6 — drop rows with any null measurement (Cleaning.scala:92-94)."""
    return df.na.drop("any", subset=num_cols or NUM_COLS)


def cast_numerics(df: DataFrame) -> DataFrame:
    """P7 — cast measurement columns string→double (Cleaning.scala:97-101).

    Invalid numerics become null, counted by :func:`count_cast_failures`.
    try_cast, not cast: Spark 4 enables ANSI mode by default, under which
    a plain cast on malformed input raises instead of reproducing the
    reference's Spark-3 null-on-failure semantics.
    """
    return df.withColumns({c: F.col(c).try_cast("double") for c in NUM_COLS})


def count_cast_failures(before: DataFrame, after: DataFrame) -> dict[str, int]:
    """Cast-failure accounting (Cleaning.scala:104-106) in ONE job per table.

    A failure is a value that was non-null pre-cast and null post-cast.
    The reference runs 7 separate count jobs; here we join nothing and
    aggregate each side once.
    """
    pre = before.agg(*null_counts_exprs(NUM_COLS)).first()
    post = after.agg(*null_counts_exprs(NUM_COLS)).first()
    return {c: (post[f"nulls_{c}"] or 0) - (pre[f"nulls_{c}"] or 0) for c in NUM_COLS}


def drop_full_row_dups(df: DataFrame) -> DataFrame:
    """P8 — dropDuplicates on DateTime + all measurements (Cleaning.scala:117-120)."""
    return df.dropDuplicates(["DateTime", *NUM_COLS])


def count_full_row_dups(df: DataFrame) -> int:
    """A2 — number of redundant full-row duplicates (Cleaning.scala:109-115)."""
    row = (
        df.groupBy("DateTime", *NUM_COLS).count().filter(F.col("count") > 1)
        .agg(F.coalesce(F.sum(F.col("count") - 1), F.lit(0)).alias("dups"))
        .first()
    )
    return row["dups"]


def detect_cadence_gaps(df: DataFrame, ts_col: str = "DateTime",
                        tiebreak_cols: list[str] | None = None) -> DataFrame:
    """W1 — lag-based cadence-gap detection (Cleaning.scala:68-79).

    Returns rows whose gap to the previous reading is not the expected
    60 s, with ``prev_ts`` and ``gap_sec`` added. Rows with a null
    ``ts_col`` are left out.
    Scale note: the semantics require a global order, which Spark executes
    as a single-partition window — correct but serial (SURVEY §4.3.3). At
    cluster scale, pre-aggregate or partition by a coarse time bucket and
    stitch boundaries; for meter-cadence QA the input is typically already
    a per-device slice, so prefer ``partition_cols`` via
    :func:`detect_cadence_gaps_partitioned`.
    """
    order = [F.col(ts_col), *[F.col(c) for c in (tiebreak_cols or [])]]
    w = Window.orderBy(*order)
    return (
        df.filter(F.col(ts_col).isNotNull())
        .withColumn("prev_ts", F.lag(ts_col, 1).over(w))
        .withColumn(
            "gap_sec",
            (F.unix_timestamp(ts_col) - F.unix_timestamp("prev_ts")).cast("long"),
        )
        .filter(F.col("prev_ts").isNotNull() & (F.col("gap_sec") != 60))
    )


def detect_cadence_gaps_partitioned(df: DataFrame, partition_cols: list[str]) -> DataFrame:
    """Scalable gap detection: lag of ``ts`` within a partition key (e.g.
    per device/user), keeping gaps over 60 s.

    The 100 TB-safe variant — the window shuffles by ``partition_cols``
    instead of funnelling everything through one partition.
    """
    w = Window.partitionBy(*partition_cols).orderBy("ts")
    return (
        df.withColumn("prev_ts", F.lag("ts", 1).over(w))
        .withColumn(
            "gap_sec",
            (F.unix_timestamp("ts") - F.unix_timestamp("prev_ts")).cast("long"),
        )
        .filter(F.col("prev_ts").isNotNull() & (F.col("gap_sec") > 60))
    )


def outlier_bounds_iqr(df: DataFrame, cols: list[str] | None = None,
                       accuracy: int = 1000) -> dict[str, tuple[float, float]]:
    """A11 — IQR outlier bounds (Cleaning.scala:123-152): Tukey's fences,
    1.5 IQR beyond the quartiles.

    ONE ``df.agg`` of ``percentile_approx`` (Greenwald-Khanna, the summary
    ``approxQuantile`` builds) over the columns instead of the reference's
    per-column loop. Returns {col: (lower, upper)}; a column with no
    non-null value has no fence and is left out.

    Rank error: ``1 / accuracy`` of the rows is what Spark is asked for,
    not a bound it keeps. It merges per-partition summaries, and the
    merged error depends on the partition layout. Measured on five seeded
    20,000-row household tables on 4 cores, the worst quartile was 0.0008
    of the rows from its exact rank; perfbench's notes record 0.003, and
    it checks the outlier counts against quartiles within 0.01 of the
    exact ranks (perfbench/README.md). An ``accuracy`` of twice the row
    count gives exact quartiles (at the row count one can be a rank off).
    """
    cols = cols or NUM_COLS
    quantiles = df.agg(*[F.percentile_approx(c, [0.25, 0.75], accuracy) for c in cols]).first()
    out: dict[str, tuple[float, float]] = {}
    for c, qs in zip(cols, quantiles):
        if qs:
            q1, q3 = qs
            iqr = q3 - q1
            out[c] = (q1 - 1.5 * iqr, q3 + 1.5 * iqr)
    return out


def outlier_report_iqr(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """P9 + A12 — per-column outlier counts outside the IQR fence.

    All per-column counts fold into one aggregation job; a column without
    a fence (no non-null value) counts 0.
    """
    cols = cols or NUM_COLS
    bounds = outlier_bounds_iqr(df, cols)
    exprs = []
    for c in cols:
        outside = F.lit(False)
        if c in bounds:
            lo, hi = bounds[c]
            outside = (F.col(c) < F.lit(lo)) | (F.col(c) > F.lit(hi))
        exprs.append(F.count(F.when(outside, 1)).alias(f"outliers_{c}"))
    return df.agg(*exprs)


def prepare_raw(df: DataFrame) -> DataFrame:
    """Sentinels → DateTime: the raw table the profile and cleaning share
    (Cleaning.scala:31-41)."""
    return add_datetime(replace_sentinels_with_null(df))


def clean_prepared(df: DataFrame) -> DataFrame:
    """Cast → drop → dedup over the output of :func:`prepare_raw`
    (Cleaning.scala:92-120)."""
    out = cast_numerics(df)
    out = drop_missing(out)
    out = out.filter(F.col("DateTime").isNotNull())
    return drop_full_row_dups(out)


def clean_pipeline(df: DataFrame) -> DataFrame:
    """Full cleaning pipeline: sentinels → DateTime → cast → drop → dedup.

    Composition of the reference's Cleaning stages as one lazy plan —
    Catalyst collapses the stacked projections into a single stage.
    """
    return clean_prepared(prepare_raw(df))
