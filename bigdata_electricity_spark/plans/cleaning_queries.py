"""Oracle-checkable cleaning/reduction/transformation query shapes on testdata.

Each query exercises a SURVEY §2 preprocessing operator (P1-P13, A1-A4,
A11, W1, M7/M8) against the driver's tables so the DuckDB oracle can
verify semantics; the household-fixture variants live in the operators
package and are unit-tested (tests/), since testdata has no "?" sentinels
or dirty rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.cleaning import detect_cadence_gaps
from ..sources.loaders import load_table
from ..functions.rounding import dround, hround
from .registry import query


@query(
    "clean_sentinel_nulls",
    oracle="""
    SELECT CAST(SUM(CASE WHEN NULLIF(lang, 'en') IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_sentinel,
           COUNT(*) AS total_rows
    FROM documents
    """,
)
def clean_sentinel_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 — sentinel→null replacement + null accounting.

    Reference Cleaning.scala:31-33 replaces the "?" sentinel; here 'en'
    plays the sentinel on documents.lang (testdata has no "?" columns).
    """
    docs = load_table(spark, sf_dir, "documents")
    nulled = docs.na.replace("en", None, subset=["lang"])
    return nulled.agg(
        F.sum(F.when(F.col("lang").isNull(), 1).otherwise(0)).alias("n_sentinel"),
        F.count(F.lit(1)).alias("total_rows"),
    )


@query(
    "clean_null_profile",
    oracle="""
    SELECT COUNT(*) AS total_rows,
           CAST(SUM(CASE WHEN NULLIF(l_discount, 0.0) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_discount,
           CAST(SUM(CASE WHEN NULLIF(l_tax, 0.0) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_tax,
           CAST(SUM(CASE WHEN NULLIF(l_discount, 0.0) IS NULL AND NULLIF(l_tax, 0.0) IS NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_all_null,
           CAST(SUM(CASE WHEN NULLIF(l_discount, 0.0) IS NULL OR NULLIF(l_tax, 0.0) IS NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_any_null
    FROM lineitem
    """,
)
def clean_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3-P5/A12 — single-pass null profiling with AND/OR fold predicates.

    Reference Cleaning.scala:53-89 runs 6+ separate count jobs; this is
    the single-aggregation replacement (SURVEY §4.3.2). Nulls are
    injected via NULLIF since testdata is clean.
    """
    li = load_table(spark, sf_dir, "lineitem").withColumns({
        "d": F.when(F.col("l_discount") == 0.0, None).otherwise(F.col("l_discount")),
        "t": F.when(F.col("l_tax") == 0.0, None).otherwise(F.col("l_tax")),
    })
    one_if = lambda cond: F.sum(F.when(cond, 1).otherwise(0))  # noqa: E731
    return li.agg(
        F.count(F.lit(1)).alias("total_rows"),
        one_if(F.col("d").isNull()).alias("n_null_discount"),
        one_if(F.col("t").isNull()).alias("n_null_tax"),
        one_if(F.col("d").isNull() & F.col("t").isNull()).alias("n_all_null"),
        one_if(F.col("d").isNull() | F.col("t").isNull()).alias("n_any_null"),
    )


@query(
    "clean_cast_failures",
    oracle="""
    SELECT COUNT(*) AS total_rows,
           CAST(SUM(CASE WHEN TRY_CAST(l_returnflag AS DOUBLE) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_cast_fail,
           CAST(SUM(CASE WHEN TRY_CAST(CAST(l_quantity AS VARCHAR) AS DOUBLE) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_numeric_fail
    FROM lineitem
    """,
)
def clean_cast_failures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 — try_cast string→double with failure accounting
    (Cleaning.scala:97-106): non-numeric strings null out and are counted;
    numeric round-trips don't."""
    li = load_table(spark, sf_dir, "lineitem")
    one_if = lambda cond: F.sum(F.when(cond, 1).otherwise(0))  # noqa: E731
    return li.agg(
        F.count(F.lit(1)).alias("total_rows"),
        one_if(F.col("l_returnflag").try_cast("double").isNull()).alias("n_cast_fail"),
        one_if(F.col("l_quantity").cast("string").try_cast("double").isNull()).alias("n_numeric_fail"),
    )


@query(
    "clean_dedup_distinct",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def clean_dedup_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8/A1 — key-based deduplication (dropDuplicates;
    Cleaning.scala:117-120). Hash-aggregate distinct, partial dedup
    map-side before the shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").dropDuplicates()


@query(
    "clean_gap_detection",
    oracle="""
    WITH ordered AS (
        SELECT event_id, ts,
               LAG(ts) OVER (ORDER BY ts, event_id) AS prev_ts
        FROM events
    )
    SELECT event_id, date_diff('second', prev_ts, ts) AS gap_sec
    FROM ordered
    WHERE prev_ts IS NOT NULL AND date_diff('second', prev_ts, ts) > 600
    ORDER BY event_id
    """,
)
def clean_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 — lag-based cadence-gap detection (Cleaning.scala:68-79).

    Global-order window (reference semantics) via
    :func:`~bigdata_electricity_spark.operators.cleaning.detect_cadence_gaps`.
    Correct but serial — the scalable variant partitions by a coarse key
    first (operators.cleaning.detect_cadence_gaps_partitioned); kept
    global here because gap detection is inherently a total-order
    property.
    """
    events = load_table(spark, sf_dir, "events")
    return (
        detect_cadence_gaps(events, ts_col="ts", tiebreak_cols=["event_id"])
        .filter(F.col("gap_sec") > 600)
        .select("event_id", "gap_sec")
        .orderBy("event_id")
    )


@query(
    "clean_outlier_iqr",
    oracle="""
    WITH b AS (
        SELECT quantile_cont(l_extendedprice, 0.25) AS q1,
               quantile_cont(l_extendedprice, 0.75) AS q3
        FROM lineitem
    )
    SELECT CAST(SUM(CASE WHEN l_extendedprice < q1 - 1.5 * (q3 - q1)
                           OR l_extendedprice > q3 + 1.5 * (q3 - q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           floor((MIN(q1 - 1.5 * (q3 - q1))) * 10000.0 + 0.5) / 10000.0 AS lower_bound,
           floor((MIN(q3 + 1.5 * (q3 - q1))) * 10000.0 + 0.5) / 10000.0 AS upper_bound
    FROM lineitem, b
    """,
)
def clean_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9/A11 — IQR outlier fence + count (Cleaning.scala:123-152).

    Exact interpolated percentiles (F.percentile ≡ quantile_cont) so the
    oracle can match; the production operator
    (operators.cleaning.outlier_report_iqr) uses approxQuantile
    (Greenwald-Khanna) for the 100 TB path, where an exact percentile
    needs a full sort.
    """
    li = load_table(spark, sf_dir, "lineitem")
    bounds = li.agg(
        F.percentile("l_extendedprice", F.lit(0.25)).alias("q1"),
        F.percentile("l_extendedprice", F.lit(0.75)).alias("q3"),
    ).select(
        (F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias("hi"),
    )
    return (
        li.crossJoin(F.broadcast(bounds))
        .agg(
            F.sum(
                F.when(
                    (F.col("l_extendedprice") < F.col("lo"))
                    | (F.col("l_extendedprice") > F.col("hi")),
                    1,
                ).otherwise(0)
            ).alias("n_outliers"),
            hround(F.min("lo"), 4).alias("lower_bound"),
            hround(F.min("hi"), 4).alias("upper_bound"),
        )
    )


@query(
    "reduction_hourly_agg",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_ts,
           floor((AVG(value)) * 10000.0 + 0.5) / 10000.0 AS avg_value,
           COUNT(*) AS n_events
    FROM events
    GROUP BY date_trunc('hour', ts)
    ORDER BY hour_ts
    """,
)
def reduction_hourly_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/R3 — minute→hour temporal rollup (reduction.scala:10-24), the
    reference's 60× data-reduction stage. Timestamps exported as strings
    (ns-vs-µs precision differs across engines; the hour bucket doesn't)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(hround(F.avg("value"), 4).alias("avg_value"),
             F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
            "avg_value",
            "n_events",
        )
        .orderBy("hour_ts")
    )


@query(
    "transform_onehot",
    oracle="""
    SELECT o_orderkey,
           CAST(CASE WHEN dayofweek(o_orderdate) + 1 = 1 THEN 1 ELSE 0 END AS DOUBLE) AS dow_1,
           CAST(CASE WHEN dayofweek(o_orderdate) + 1 = 2 THEN 1 ELSE 0 END AS DOUBLE) AS dow_2,
           CAST(CASE WHEN dayofweek(o_orderdate) + 1 = 3 THEN 1 ELSE 0 END AS DOUBLE) AS dow_3,
           CAST(CASE WHEN dayofweek(o_orderdate) + 1 = 4 THEN 1 ELSE 0 END AS DOUBLE) AS dow_4,
           CAST(CASE WHEN dayofweek(o_orderdate) + 1 = 5 THEN 1 ELSE 0 END AS DOUBLE) AS dow_5,
           CAST(CASE WHEN dayofweek(o_orderdate) + 1 = 6 THEN 1 ELSE 0 END AS DOUBLE) AS dow_6,
           CAST(CASE WHEN dayofweek(o_orderdate) + 1 = 7 THEN 1 ELSE 0 END AS DOUBLE) AS dow_7,
           CAST(CASE WHEN month(o_orderdate) = 1 THEN 1 ELSE 0 END AS DOUBLE) AS month_1,
           CAST(CASE WHEN month(o_orderdate) = 2 THEN 1 ELSE 0 END AS DOUBLE) AS month_2,
           CAST(CASE WHEN month(o_orderdate) = 3 THEN 1 ELSE 0 END AS DOUBLE) AS month_3,
           CAST(CASE WHEN month(o_orderdate) = 4 THEN 1 ELSE 0 END AS DOUBLE) AS month_4,
           CAST(CASE WHEN month(o_orderdate) = 5 THEN 1 ELSE 0 END AS DOUBLE) AS month_5,
           CAST(CASE WHEN month(o_orderdate) = 6 THEN 1 ELSE 0 END AS DOUBLE) AS month_6,
           CAST(CASE WHEN month(o_orderdate) = 7 THEN 1 ELSE 0 END AS DOUBLE) AS month_7,
           CAST(CASE WHEN month(o_orderdate) = 8 THEN 1 ELSE 0 END AS DOUBLE) AS month_8,
           CAST(CASE WHEN month(o_orderdate) = 9 THEN 1 ELSE 0 END AS DOUBLE) AS month_9,
           CAST(CASE WHEN month(o_orderdate) = 10 THEN 1 ELSE 0 END AS DOUBLE) AS month_10,
           CAST(CASE WHEN month(o_orderdate) = 11 THEN 1 ELSE 0 END AS DOUBLE) AS month_11,
           CAST(CASE WHEN month(o_orderdate) = 12 THEN 1 ELSE 0 END AS DOUBLE) AS month_12
    FROM orders
    """,
)
def transform_onehot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11/M8 — manual one-hot of day-of-week + month as 19 explicit
    0.0/1.0 double columns (Transformation.scala:23-39; Spark dayofweek
    convention 1=Sunday, DuckDB dow 0=Sunday → +1 in the oracle)."""
    from ..operators.transformation import one_hot_dow, one_hot_month

    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        *[expr.alias(name) for name, expr in one_hot_dow(F.col("o_orderdate")).items()],
        *[expr.alias(name) for name, expr in one_hot_month(F.col("o_orderdate")).items()],
    )


@query(
    "transform_minmax_scale",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           floor(((l_extendedprice - MIN(l_extendedprice) OVER ())
                 / (MAX(l_extendedprice) OVER () - MIN(l_extendedprice) OVER ())) * 1000000.0 + 0.5) / 1000000.0 AS price_scaled
    FROM lineitem
    """,
)
def transform_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7/P13/A4 — min-max scaling to [0,1] (Transformation.scala:51-68).

    Stats via ONE global min/max aggregate broadcast back over the table
    (not a window over () — that would single-partition the whole scan;
    SURVEY §4.3.2). min/max are order-insensitive → exact float parity.
    """
    li = load_table(spark, sf_dir, "lineitem")
    stats = li.agg(
        F.min("l_extendedprice").alias("lo"), F.max("l_extendedprice").alias("hi")
    )
    return (
        li.crossJoin(F.broadcast(stats))
        .select(
            "l_orderkey",
            "l_linenumber",
            hround(
                (F.col("l_extendedprice") - F.col("lo")) / (F.col("hi") - F.col("lo")), 6
            ).alias("price_scaled"),
        )
    )


@query(
    "transform_engineered",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           floor((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 10000.0 + 0.5) / 10000.0 AS charge,
           CAST(year(l_shipdate) AS INTEGER) AS ship_year,
           CAST(month(l_shipdate) AS INTEGER) AS ship_month
    FROM lineitem
    """,
)
def transform_engineered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12 + time-derived columns (Transformation.scala:12-13,41-48) —
    pure per-row projection, stays in whole-stage codegen."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        hround(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")), 4
        ).alias("charge"),
        F.year("l_shipdate").alias("ship_year"),
        F.month("l_shipdate").alias("ship_month"),
    )
