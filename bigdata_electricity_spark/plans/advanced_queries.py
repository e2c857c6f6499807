"""Advanced relational shapes beyond the reference surface (extensions).

As-of join, analytic-function zoo, statistical moments, exact
percentiles, ROLLUP, and distributed vector aggregation — each a shape a
production analytics engine needs, each expressed so Catalyst plans it
scalably and DuckDB can oracle-check it.
"""

from __future__ import annotations

# Module-level: ``from __future__ import annotations`` leaves pandas_udf
# hints as strings, which it resolves against the module's globals.
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.rounding import dround, hround
from ..sources.loaders import load_table
from .registry import query

_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


@query(
    "asof_join_click_to_purchase",
    oracle=f"""
    SELECT p.event_id,
           p.user_id,
           strftime(CAST(p.ts AS TIMESTAMP), '{_TS_FMT_DUCK}') AS purchase_ts,
           strftime(CAST(c.ts AS TIMESTAMP), '{_TS_FMT_DUCK}') AS click_ts,
           CAST(date_diff('second', CAST(c.ts AS TIMESTAMP), CAST(p.ts AS TIMESTAMP)) AS BIGINT) AS gap_sec
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts > c.ts
    ORDER BY p.event_id
    """,
)
def asof_join_click_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent strictly
    earlier click (attribution).

    Spark has no native as-of join; the scalable composition is the
    union-and-carry idiom: tag both sides, union, then one window
    partitioned by the join key carries the latest click timestamp
    forward. ONE shuffle on user_id, no range-explosion self-join —
    the shape that survives 100 TB (vs. the naive t1.join(t2, t1.ts >
    t2.ts) which is O(n·m) per key). Strict inequality falls out of the
    sort order: at equal ts the purchase (is_p=1 desc first) precedes the
    click, so the carried value can't include it.
    """
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.lit(1).alias("is_p"), F.lit(None).cast("timestamp_ntz").alias("click_ts")
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.lit(None).cast("long").alias("event_id"), "user_id", "ts",
        F.lit(0).alias("is_p"), F.col("ts").alias("click_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("is_p").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        purchases.unionByName(clicks)
        .withColumn("last_click", F.last("click_ts", ignorenulls=True).over(w))
        .filter((F.col("is_p") == 1) & F.col("last_click").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", _TS_FMT_SPARK).alias("purchase_ts"),
            F.date_format("last_click", _TS_FMT_SPARK).alias("click_ts"),
            (F.unix_timestamp("ts") - F.unix_timestamp("last_click")).cast("bigint").alias("gap_sec"),
        )
        .orderBy("event_id")
    )


@query(
    "range_join_event_pairs",
    oracle=f"""
    SELECT a.user_id,
           a.event_id AS id_a,
           b.event_id AS id_b,
           CAST(date_diff('second', CAST(a.ts AS TIMESTAMP), CAST(b.ts AS TIMESTAMP)) AS BIGINT) AS delta_sec
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL '60 seconds'
    ORDER BY a.user_id, id_a, id_b
    """,
)
def range_join_event_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: event pairs of the same user within 60 seconds.

    The scalable composition for an interval join Spark lacks natively:
    bucket time into range-width bins and join on (user, bin) ∪ (user,
    bin+1), then filter the exact range — candidate pairs are bounded by
    bucket occupancy instead of per-user O(m²). (A bare non-equi
    predicate on the user-equi join degrades to per-user all-pairs; at
    100 TB the bucketed form is the difference between a join and an
    explosion.)
    """
    events = load_table(spark, sf_dir, "events")
    width = 60  # seconds — equals the range bound
    base = events.select(
        "user_id", "event_id", "ts",
        F.floor(F.unix_timestamp("ts") / width).cast("long").alias("bin"),
    )
    # Right side appears in its own bin and the previous one, so every
    # (a, b) with b.ts - a.ts ≤ width shares a join key with a.
    b_side = base.select(
        F.col("user_id").alias("b_user"),
        F.col("event_id").alias("id_b"),
        F.col("ts").alias("b_ts"),
        F.explode(F.array(F.col("bin"), F.col("bin") - 1)).alias("b_bin"),
    )
    return (
        base.join(
            b_side,
            (F.col("user_id") == F.col("b_user"))
            & (F.col("bin") == F.col("b_bin"))
            & (F.col("b_ts") > F.col("ts"))
            & (F.col("b_ts") <= F.col("ts") + F.expr("INTERVAL 60 SECONDS")),
        )
        .select(
            "user_id",
            F.col("event_id").alias("id_a"),
            "id_b",
            (F.unix_timestamp("b_ts") - F.unix_timestamp("ts")).cast("bigint").alias("delta_sec"),
        )
        .orderBy("user_id", "id_a", "id_b")
    )


@query(
    "hypertable_rollup",
    oracle=f"""
    SELECT resolution, window_start, n_events, total_value FROM (
        SELECT '10min' AS resolution,
               strftime(time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP)), '{_TS_FMT_DUCK}') AS window_start,
               COUNT(*) AS n_events,
               {dround('SUM(value)', 2)} AS total_value
        FROM events GROUP BY 2
        UNION ALL
        SELECT 'hour',
               strftime(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)), '{_TS_FMT_DUCK}'),
               COUNT(*), {dround('SUM(value)', 2)}
        FROM events GROUP BY 2
        UNION ALL
        SELECT 'day',
               strftime(time_bucket(INTERVAL '1 day', CAST(ts AS TIMESTAMP)), '{_TS_FMT_DUCK}'),
               COUNT(*), {dround('SUM(value)', 2)}
        FROM events GROUP BY 2
    )
    ORDER BY resolution, window_start
    """,
)
def hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: the same measure rolled up
    at 10-minute, hourly, and daily resolution in one result (resolution
    column tags each tier).

    Built hierarchically the way a timeseries store materializes
    continuous aggregates: the 10-minute tier aggregates the raw scan
    ONCE; hour and day tiers re-aggregate the previous tier (sums of
    sums), so the raw table is read once instead of three times — at
    100 TB the coarser tiers cost ~nothing.
    """
    events = load_table(spark, sf_dir, "events")
    tier10 = (
        events.groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_raw"))
        .select(F.col("w.start").alias("t"), "n_events", "sum_raw")
    )
    def _tier(src: DataFrame, label: str, trunc: str) -> DataFrame:
        return (
            src.groupBy(F.date_trunc(trunc, "t").alias("t"))
            .agg(F.sum("n_events").alias("n_events"), F.sum("sum_raw").alias("sum_raw"))
            .select(F.lit(label).alias("resolution"), "t", "n_events", "sum_raw")
        )

    t10 = tier10.select(F.lit("10min").alias("resolution"), "t", "n_events", "sum_raw")
    hour = _tier(tier10, "hour", "hour")
    day = _tier(tier10, "day", "day")
    return (
        t10.unionByName(hour).unionByName(day)
        .select(
            "resolution",
            F.date_format("t", _TS_FMT_SPARK).alias("window_start"),
            "n_events",
            hround("sum_raw", 2).alias("total_value"),
        )
        .orderBy("resolution", "window_start")
    )


@query(
    "window_function_zoo",
    oracle="""
    SELECT o_custkey,
           o_orderkey,
           CAST(DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS price_rank,
           LEAD(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_orderkey,
           LAG(o_orderkey)  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_orderkey,
           CAST(NTILE(4) OVER (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey) AS INT) AS price_quartile,
           floor((PERCENT_RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)) * 1000000.0 + 0.5) / 1000000.0 AS price_pctrank,
           floor((CUME_DIST() OVER (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)) * 1000000.0 + 0.5) / 1000000.0 AS price_cumedist,
           floor((AVG(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)) * 100.0 + 0.5) / 100.0 AS moving_avg_price
    FROM orders
    ORDER BY o_custkey, o_orderkey
    """,
)
def window_function_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-function coverage: dense_rank, lead, lag, ntile, and a
    3-row moving-average frame, all per-customer.

    Every window partitions by o_custkey → one hash shuffle, per-group
    sorts only (no global order). Tie-broken on o_orderkey so results
    hash-match deterministically.
    """
    orders = load_table(spark, sf_dir, "orders")
    by_price = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    by_date = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    by_price_asc = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.dense_rank().over(by_price).alias("price_rank"),
            F.lead("o_orderkey").over(by_date).alias("next_orderkey"),
            F.lag("o_orderkey").over(by_date).alias("prev_orderkey"),
            F.ntile(4).over(by_price_asc).alias("price_quartile"),
            hround(F.percent_rank().over(by_price_asc), 6).alias("price_pctrank"),
            hround(F.cume_dist().over(by_price_asc), 6).alias("price_cumedist"),
            hround(
                F.avg("o_totalprice").over(by_date.rowsBetween(-2, Window.currentRow)), 2
            ).alias("moving_avg_price"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@query(
    "range_frame_trailing_spend",
    oracle=f"""
    SELECT o_custkey,
           o_orderkey,
           {dround('''SUM(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS TIMESTAMP)
               RANGE BETWEEN INTERVAL '90 days' PRECEDING AND CURRENT ROW)''', 2)} AS trailing_90d_spend
    FROM orders
    ORDER BY o_custkey, o_orderkey
    """,
)
def range_frame_trailing_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-interval window frame: per-customer trailing-90-day spend.

    A VALUE-based frame (all orders within 90 days of the current one),
    not a row-count frame — the other frame family the engine must
    support. Implemented on the epoch-seconds ordering column so the
    frame bound is a plain numeric range (90·86400); Spark's RANGE
    frames take numeric offsets.

    Note: ties on (custkey, orderdate) are deterministic because RANGE
    frames include ALL peers of the current order date on both engines.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-90 * 86400, Window.currentRow)
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            hround(F.sum("o_totalprice").over(w), 2).alias("trailing_90d_spend"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@query(
    "histogram_price_bins",
    oracle=f"""
    SELECT CAST(floor(l_extendedprice / 10000.0) AS BIGINT) AS bin,
           COUNT(*) AS n,
           {dround('MIN(l_extendedprice)', 2)} AS bin_min,
           {dround('MAX(l_extendedprice)', 2)} AS bin_max
    FROM lineitem
    GROUP BY 1
    ORDER BY bin
    """,
)
def histogram_price_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-distribution histogram: fixed-width 10k bins over
    extendedprice. floor-arithmetic binning is engine-portable (no
    width_bucket dependency) and aggregates map-side like any groupBy."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.floor(F.col("l_extendedprice") / 10000.0).cast("bigint").alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            hround(F.min("l_extendedprice"), 2).alias("bin_min"),
            hround(F.max("l_extendedprice"), 2).alias("bin_max"),
        )
        .orderBy("bin")
    )


@query(
    "stats_moments_lineitem",
    oracle=f"""
    SELECT l_returnflag,
           {dround('corr(l_extendedprice, l_quantity)', 6)} AS price_qty_corr,
           {dround('covar_samp(l_extendedprice, l_quantity)', 4)} AS price_qty_covar,
           {dround('stddev_samp(l_extendedprice)', 4)} AS price_stddev,
           {dround('var_samp(l_quantity)', 6)} AS qty_variance
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def stats_moments_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment aggregates (corr/covar/stddev/variance) per group —
    single-pass partial+final aggregation (each moment is a sum of
    products, so map-side combine applies)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            hround(F.corr("l_extendedprice", "l_quantity"), 6).alias("price_qty_corr"),
            hround(F.covar_samp("l_extendedprice", "l_quantity"), 4).alias("price_qty_covar"),
            hround(F.stddev_samp("l_extendedprice"), 4).alias("price_stddev"),
            hround(F.var_samp("l_quantity"), 6).alias("qty_variance"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "percentiles_exact",
    oracle=f"""
    SELECT l_linestatus,
           {dround('quantile_cont(l_extendedprice, 0.25)', 4)} AS price_p25,
           {dround('quantile_cont(l_extendedprice, 0.5)', 4)} AS price_p50,
           {dround('quantile_cont(l_extendedprice, 0.75)', 4)} AS price_p75,
           {dround('quantile_cont(l_extendedprice, 0.95)', 4)} AS price_p95
    FROM lineitem
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
)
def percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark `percentile` ≡
    DuckDB `quantile_cont`).

    Exact percentile gathers per-group values — fine for bounded group
    cardinality; at 100 TB with huge groups switch to
    approx_percentile (same query shape, driver records rows-only).
    """
    li = load_table(spark, sf_dir, "lineitem")
    pct = F.expr(
        "percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D, 0.95D))"
    )
    return (
        li.groupBy("l_linestatus")
        .agg(pct.alias("p"))
        .select(
            "l_linestatus",
            hround(F.col("p")[0], 4).alias("price_p25"),
            hround(F.col("p")[1], 4).alias("price_p50"),
            hround(F.col("p")[2], 4).alias("price_p75"),
            hround(F.col("p")[3], 4).alias("price_p95"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "rollup_orders_year_priority",
    oracle=f"""
    SELECT COALESCE(CAST(EXTRACT(YEAR FROM o_orderdate) AS VARCHAR), 'ALL') AS order_year,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           COUNT(*) AS n_orders,
           {dround('SUM(o_totalprice)', 2)} AS total_price
    FROM orders
    GROUP BY ROLLUP (EXTRACT(YEAR FROM o_orderdate), o_orderpriority)
    ORDER BY order_year, priority
    """,
)
def rollup_orders_year_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy (year → priority → grand total).

    Catalyst plans rollup as a single Expand + hash aggregate — one scan,
    one shuffle for all three grouping levels. Null grouping cells are
    labeled 'ALL' so the hash compare is unambiguous.
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.withColumn("order_year", F.year("o_orderdate").cast("string"))
        .rollup("order_year", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"), hround(F.sum("o_totalprice"), 2).alias("total_price"))
        .select(
            F.coalesce("order_year", F.lit("ALL")).alias("order_year"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
        .orderBy("order_year", "priority")
    )


@query(
    "funnel_view_click_purchase",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(ts) AS t FROM events WHERE event_type = 'view' GROUP BY 1
    ), c AS (
        SELECT e.user_id, MIN(e.ts) AS t
        FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t
        WHERE e.event_type = 'click' GROUP BY 1
    ), p AS (
        SELECT e.user_id, MIN(e.ts) AS t
        FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t
        WHERE e.event_type = 'purchase' GROUP BY 1
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_view_click,
           (SELECT COUNT(*) FROM p) AS n_view_click_purchase
    """,
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users who viewed, then clicked after the first
    view, then purchased after that first click.

    Each stage joins the events of one type against the previous stage's
    per-user first-completion time — user_id-keyed joins and aggregates
    throughout, so every stage co-partitions on the same key (one shuffle
    family, no global ordering). The staged min-after-min semantics is
    the standard strict-ordering funnel.
    """
    events = load_table(spark, sf_dir, "events")

    def stage(event_type: str, prev: DataFrame | None) -> DataFrame:
        e = events.filter(F.col("event_type") == event_type).select("user_id", "ts")
        if prev is not None:
            e = e.join(prev, "user_id").filter(F.col("ts") > F.col("t")).drop("t")
        return e.groupBy("user_id").agg(F.min("ts").alias("t"))

    v = stage("view", None)
    c = stage("click", v)
    p = stage("purchase", c)
    counts = [
        df.agg(F.count(F.lit(1)).alias(name))
        for df, name in [(v, "n_view"), (c, "n_view_click"), (p, "n_view_click_purchase")]
    ]
    return counts[0].crossJoin(counts[1]).crossJoin(counts[2])


@query(
    "cohort_retention_weekly",
    oracle="""
    WITH firsts AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY 1
    ), activity AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    )
    SELECT f.cohort_day,
           CAST(floor((a.day - f.cohort_day) / 7) AS INT) AS week_offset,
           COUNT(DISTINCT a.user_id) AS n_active
    FROM activity a JOIN firsts f USING (user_id)
    GROUP BY 1, 2
    ORDER BY cohort_day, week_offset
    """,
)
def cohort_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen day, activity counted
    per week offset since joining.

    Two aggregates over the same scan (first-seen, distinct activity)
    joined on user_id — the firsts side is one row per user and
    broadcastable at moderate cardinality; at 100 TB both sides shuffle
    on user_id and co-partition, so the join adds no extra exchange
    beyond the aggregates' own.
    """
    events = load_table(spark, sf_dir, "events")
    days = events.select("user_id", F.to_date("ts").alias("day"))
    firsts = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    activity = days.distinct()
    return (
        activity.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.floor(F.datediff("day", "cohort_day") / 7).cast("int").alias("week_offset"),
        )
        .groupBy("cohort_day", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
        .orderBy("cohort_day", "week_offset")
    )


@query(
    "events_daily_dense",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n, SUM(value) AS total
        FROM events GROUP BY 1
    ), bounds AS (
        SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily
    ), calendar AS (
        SELECT CAST(unnest(generate_series(lo, hi, INTERVAL '1 day')) AS DATE) AS day
        FROM bounds
    )
    SELECT c.day,
           COALESCE(d.n, 0) AS n_events,
           {dround('COALESCE(d.total, 0.0)', 2)} AS total_value
    FROM calendar c LEFT JOIN daily d USING (day)
    ORDER BY c.day
    """,
)
def events_daily_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification: daily rollup left-joined onto a generated
    contiguous date spine, holes filled with zeros.

    Time-series gap filling — downstream windows/models need every day
    present. The spine comes from ``sequence(min, max)`` exploded off the
    1-row bounds aggregate (driver-free, no Python range); the join
    broadcasts the spine, which is tiny relative to the fact table.
    """
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("total")
    )
    spine = (
        daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select(F.explode(F.sequence("lo", "hi")).alias("day"))
    )
    return (
        F.broadcast(spine).join(daily, "day", "left")
        .select(
            "day",
            F.coalesce("n", F.lit(0)).alias("n_events"),
            hround(F.coalesce("total", F.lit(0.0)), 2).alias("total_value"),
        )
        .orderBy("day")
    )


@query(
    "grouping_sets_lineitem",
    oracle=f"""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           COUNT(*) AS n_items,
           {dround('SUM(l_quantity)', 2)} AS total_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    ORDER BY returnflag, linestatus
    """,
)
def grouping_sets_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (flag-only, status-only, grand total) —
    planned as one Expand + single hash aggregate, same as cube/rollup.
    Run through the SQL front-end (the DataFrame API gained groupingSets
    recently; the SQL shape is the portable one). Registers ONLY the
    view it reads — a blanket register_views would make the entry
    demand every table on disk for a single-table query."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql("""
        SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
               COALESCE(l_linestatus, 'ALL') AS linestatus,
               COUNT(*) AS n_items,
               floor(SUM(l_quantity) * 100.0D + 0.5D) / 100.0D AS total_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY returnflag, linestatus
    """)


@query(
    "embedding_centroids",
    oracle=f"""
    SELECT label,
           CAST(pos AS INT) AS pos,
           {dround('AVG(v)', 6)} AS centroid
    FROM (
        SELECT label, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS pos
        FROM embeddings
    )
    GROUP BY label, pos
    ORDER BY label, pos
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the 64-dim embeddings — distributed vector
    aggregation via posexplode + (label, dim) hash aggregate.

    The explode multiplies rows ×64 but each is 16 bytes; the aggregate
    is partial+final so the shuffle carries one (label, pos, sum, count)
    per partition — the canonical way to average vectors at scale without
    collecting them (a pandas UDF here would move whole vectors).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos0", "v"))
        .withColumn("pos", F.col("pos0") + 1)  # 1-based like generate_subscripts
        .groupBy("label", "pos")
        .agg(hround(F.avg("v"), 6).alias("centroid"))
        .orderBy("label", "pos")
    )


@query(
    "cdc_latest_state",
    oracle=f"""
    WITH ranked AS (
        SELECT user_id, ts, event_type, value, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n_versions
        FROM events
    )
    SELECT user_id,
           strftime(CAST(ts AS TIMESTAMP), '{_TS_FMT_DUCK}') AS last_ts,
           event_type AS last_event_type,
           {dround('value', 2)} AS last_value,
           n_versions
    FROM ranked WHERE rn = 1
    ORDER BY user_id
    """,
)
def cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog compaction: collapse an append-only event log to the
    latest row per key (CDC upsert materialization, latest-wins).

    The scalable shape is ``max_by`` over a ``(ts, event_id)`` ordering
    struct — ONE partial-aggregatable hash aggregate whose state is a
    single row per key, so the map side already discards superseded
    versions and the shuffle carries one candidate per key per
    partition. A ROW_NUMBER window (the oracle's formulation) would
    instead shuffle EVERY version and sort within each key — at a 100 TB
    changelog the aggregate formulation is the difference between
    carrying the live set and carrying the full history. ``event_id``
    breaks timestamp ties deterministically on both engines.
    """
    events = load_table(spark, sf_dir, "events")
    ord_key = F.struct("ts", "event_id")
    return (
        events.groupBy("user_id")
        .agg(
            F.max_by(F.struct("ts", "event_type", "value"), ord_key).alias("last"),
            F.count(F.lit(1)).alias("n_versions"),
        )
        .select(
            "user_id",
            F.date_format("last.ts", _TS_FMT_SPARK).alias("last_ts"),
            F.col("last.event_type").alias("last_event_type"),
            hround(F.col("last.value"), 2).alias("last_value"),
            "n_versions",
        )
        .orderBy("user_id")
    )


@query(
    "events_locf_gap_fill",
    oracle=f"""
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               COUNT(*) AS n, {dround('AVG(value)', 4)} AS v
        FROM events GROUP BY 1, 2
    ), bounds AS (
        SELECT MIN(CAST(ts AS DATE)) AS lo, MAX(CAST(ts AS DATE)) AS hi FROM events
    ), calendar AS (
        SELECT CAST(unnest(generate_series(lo, hi, INTERVAL '1 day')) AS DATE) AS day
        FROM bounds
    ), grid AS (
        SELECT u.user_id, c.day
        FROM (SELECT DISTINCT user_id FROM events) u CROSS JOIN calendar c
    )
    SELECT g.user_id, g.day,
           COALESCE(d.n, 0) AS n_events,
           last_value(d.v IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_locf
    FROM grid g LEFT JOIN daily d USING (user_id, day)
    ORDER BY user_id, day
    """,
)
def events_locf_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily series densified onto a full calendar with
    last-observation-carried-forward imputation of the daily mean.

    Gap filling for downstream feature windows: the date spine comes from
    one 1-row bounds aggregate exploded via ``sequence`` and is
    cross-joined (broadcast — |days| rows) onto the distinct keys, so the
    grid build is map-side fan-out, never a shuffle of the fact table.
    LOCF is ``last(ignorenulls)`` over a per-user running frame — state
    is one value per key, and the window partitions by user so no global
    sort exists. Days before a user's first observation stay NULL
    (nothing to carry). The daily mean is rounded BEFORE the carry so
    both engines propagate bit-identical values.
    """
    events = load_table(spark, sf_dir, "events")
    day = F.to_date("ts").alias("day")
    daily = events.groupBy("user_id", day).agg(
        F.count(F.lit(1)).alias("n"), hround(F.avg("value"), 4).alias("v")
    )
    spine = (
        events.agg(F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi"))
        .select(F.explode(F.sequence("lo", "hi")).alias("day"))
    )
    grid = events.select("user_id").distinct().crossJoin(F.broadcast(spine))
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_events"),
            F.last("v", ignorenulls=True).over(w).alias("value_locf"),
        )
        .orderBy("user_id", "day")
    )


@query(
    "attribution_last_touch",
    oracle="""
    WITH attributed AS (
        SELECT event_type,
               COALESCE(
                   last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   'direct') AS channel
        FROM events
    )
    SELECT channel, COUNT(*) AS n_purchases
    FROM attributed
    WHERE event_type = 'purchase'
    GROUP BY channel
    ORDER BY channel
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution — every purchase is credited to the
    user's most recent PRECEDING non-purchase event type ('direct' when
    the purchase is the user's first event). The standard marketing
    attribution model, expressed as one partitioned window:
    ``last(when(type != purchase, type), ignorenulls=True)`` over rows
    unbounded-preceding → 1-preceding, ordered by (ts, event_id) so
    same-timestamp rows break ties deterministically on both engines.

    Scale shape: one shuffle on user_id (bounded partitions — a user's
    history fits an executor), then a tiny channel aggregation. No
    self-join: the naive per-purchase correlated lookup would be
    O(|purchases| × |history|).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.withColumn("channel", F.coalesce(prior, F.lit("direct")))
        .filter(F.col("event_type") == "purchase")
        .groupBy("channel")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
        .orderBy("channel")
    )


@query(
    "cogroup_purchase_click_windows",
    oracle="""
    WITH p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
    SELECT p.user_id AS user_id,
           COUNT(*) AS n_purchases,
           CAST(SUM(CASE WHEN EXISTS (
                    SELECT 1 FROM c
                    WHERE c.user_id = p.user_id
                      AND c.ts <= p.ts
                      AND c.ts >= p.ts - INTERVAL 30 MINUTE
                ) THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed
    FROM p
    GROUP BY 1
    ORDER BY user_id
    """,
)
def cogroup_purchase_click_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user merge of two event timelines via
    ``cogroup(...).applyInPandas`` — the API for arbitrary two-sided
    per-key programs that neither a join nor a window expresses
    directly. Here: for each user, count purchases that have ≥1 click
    in the trailing 30-minute window (binary-search over the sorted
    click timeline — O((|c|+|p|) log |c|) per user, vectorized with
    numpy searchsorted inside one Arrow batch per user).

    Scale shape: both sides shuffle ONCE on user_id and arrive
    co-grouped; state is bounded by a single user's history. This is
    the batch cousin of the stateful-streaming ops ladder. The oracle
    is the declarative equivalent (correlated EXISTS over the same
    window) — same result, quadratic per user, which is exactly why
    the cogroup form exists.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    clicks = ev.filter(F.col("event_type") == "click").drop("event_type")
    purchases = ev.filter(F.col("event_type") == "purchase").drop("event_type")

    def merge(key, clicks_pdf: pd.DataFrame, purchases_pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        # A key absent from one side arrives as an empty frame that may
        # carry NO columns while still reporting a nonzero index length —
        # gate on column presence, never on len() alone.
        if "ts" not in purchases_pdf.columns or len(purchases_pdf) == 0:
            return pd.DataFrame(
                {
                    "user_id": pd.Series([], dtype="int64"),
                    "n_purchases": pd.Series([], dtype="int64"),
                    "n_attributed": pd.Series([], dtype="int64"),
                }
            )
        pt = purchases_pdf["ts"].astype("datetime64[ns]").astype("int64").to_numpy()
        if "ts" not in clicks_pdf.columns or len(clicks_pdf) == 0:
            ct = np.array([], dtype="int64")
        else:
            ct = np.sort(
                clicks_pdf["ts"].astype("datetime64[ns]").astype("int64").to_numpy()
            )
        lo = np.searchsorted(ct, pt - 30 * 60 * 1_000_000_000, side="left")
        hi = np.searchsorted(ct, pt, side="right")
        return pd.DataFrame(
            {
                "user_id": [int(key[0])],
                "n_purchases": [int(len(pt))],
                "n_attributed": [int((hi > lo).sum())],
            }
        )

    out = (
        purchases.groupBy("user_id")
        .cogroup(clicks.groupBy("user_id"))
        .applyInPandas(
            lambda key, l, r: merge(key, r, l),
            schema="user_id long, n_purchases long, n_attributed long",
        )
    )
    return out.orderBy("user_id")


@query(
    "funnel_time_to_convert",
    oracle=f"""
    WITH v AS (
        SELECT user_id, MIN(ts) AS first_view
        FROM events WHERE event_type = 'view' GROUP BY 1
    ), p AS (
        SELECT e.user_id, MIN(e.ts) AS first_purchase
        FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.first_view
        WHERE e.event_type = 'purchase'
        GROUP BY 1
    ), lat AS (
        SELECT (epoch(p.first_purchase) - epoch(v.first_view)) / 60.0 AS m
        FROM p JOIN v USING (user_id)
    )
    SELECT COUNT(*) AS n_converted,
           {dround('quantile_cont(m, 0.5)', 4)} AS p50_min,
           {dround('quantile_cont(m, 0.9)', 4)} AS p90_min,
           {dround('AVG(m)', 4)} AS avg_min
    FROM lat
    """,
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution — the funnel's other half: minutes
    from a user's FIRST view to their first subsequent purchase, summarized
    as exact interpolated p50/p90 (`F.percentile` ≡ DuckDB quantile_cont)
    plus the mean. Two partial-aggregatable groupBys on user_id and one
    small join; the percentile runs over ≤|users| latencies, so the final
    single-partition percentile state is bounded by the user count, not
    the event count.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    first_p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(views, "user_id")
        .filter(F.col("ts") > F.col("first_view"))
        .groupBy("user_id", "first_view")
        .agg(F.min("ts").alias("first_purchase"))
    )
    epoch = lambda c: F.col(c).cast("timestamp").cast("double")  # noqa: E731
    lat = first_p.select(
        ((epoch("first_purchase") - epoch("first_view")) / F.lit(60.0)).alias("m")
    )
    return lat.agg(
        F.count(F.lit(1)).alias("n_converted"),
        hround(F.percentile("m", 0.5), 4).alias("p50_min"),
        hround(F.percentile("m", 0.9), 4).alias("p90_min"),
        hround(F.avg("m"), 4).alias("avg_min"),
    )


@query(
    "agg_gini_by_priority",
    oracle=f"""
    WITH r AS (
        SELECT o_orderpriority AS priority, o_totalprice AS x,
               ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice, o_orderkey) AS i
        FROM orders
    ), s AS (
        SELECT priority, COUNT(*) AS n_orders,
               SUM(i * x) AS sxi, SUM(x) AS sx, CAST(COUNT(*) AS DOUBLE) AS n
        FROM r GROUP BY priority
    )
    SELECT priority, n_orders,
           {dround('2.0 * sxi / (n * sx) - (n + 1.0) / n', 6)} AS gini
    FROM s
    ORDER BY priority
    """,
)
def agg_gini_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of order value per priority class, computed by
    a GROUPED_AGG pandas UDF — the user-defined AGGREGATE surface (the
    one Arrow-batched UDF family not exercised elsewhere; scalar /
    grouped-map / cogrouped-map / map-iter / stateful / UDTF each have
    their own entry). The UDF receives one whole group's values as a
    Series and returns a scalar, exactly the contract of a custom AGG.

    Gini here is the closed form 2·Σᵢ i·x₍ᵢ₎ / (n·Σx) − (n+1)/n over
    ascending-sorted values — permutation-invariant under ties, so the
    oracle's window-rank formulation lands on the identical number
    (6-decimal hround absorbs summation-order float noise). Scale note:
    a grouped-agg UDF holds ONE group in memory — fine for bounded
    groups like priority classes; for unbounded keys use the mergeable
    built-in sketches instead.
    """
    @F.pandas_udf("double")
    def gini_udf(x: pd.Series) -> float:
        import numpy as np

        xs = np.sort(x.to_numpy(dtype="float64"))
        n = len(xs)
        s = xs.sum()
        if n == 0 or s == 0.0:
            return 0.0
        i = np.arange(1, n + 1, dtype="float64")
        return float(2.0 * (i * xs).sum() / (n * s) - (n + 1.0) / n)

    orders = load_table(spark, sf_dir, "orders")
    # A grouped-agg pandas UDF cannot share an agg() with JVM aggregates
    # (INVALID_PANDAS_UDF_PLACEMENT) — run the two aggregations separately
    # and join on the (tiny) key set.
    gini = orders.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        hround(gini_udf(F.col("o_totalprice")), 6).alias("gini")
    )
    counts = orders.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    return (
        counts.join(F.broadcast(gini), "priority")
        .select("priority", "n_orders", "gini")
        .orderBy("priority")
    )


@query(
    "array_function_zoo",
    oracle=f"""
    WITH arrs AS (
        SELECT l_orderkey AS orderkey,
               list_sort(list(l_quantity)) AS q
        FROM lineitem
        WHERE l_orderkey <= 100
        GROUP BY l_orderkey
    )
    SELECT orderkey,
           CAST(len(q) AS INT) AS n_items,
           CAST(len(list_filter(q, x -> x > 25.0)) AS INT) AS n_over25,
           len(list_filter(q, x -> x = 50.0)) > 0 AS has_50,
           len(list_filter(q, x -> NOT (x > 0.0))) = 0 AS all_positive,
           {dround('list_sum(q)', 4)} AS total_qty,
           {dround('list_sum(list_transform(q, (x, i) -> x * i))', 4)} AS pos_weighted
    FROM arrs
    ORDER BY orderkey
    """,
)
def array_function_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The array higher-order-function surface in one oracle-checked
    sweep: collect_list→sort_array (deterministic arrays from an
    unordered aggregate), `filter`, `exists`, `forall`, `aggregate`
    (sequential double fold), and the INDEXED two-arg `transform`
    lambda. The index convention differs across engines — Spark's i is
    0-based, DuckDB's is 1-based — so the Spark side weights by (i+1);
    this zoo pins that equivalence the individual entries rely on.

    Scale shape: one groupBy on the join key; every HOF then runs
    row-local over that key's array (bounded by lines-per-order). The
    sort inside each array is the determinism price of collect_list —
    at scale prefer sort_array over any assumption about arrival order.
    """
    li = load_table(spark, sf_dir, "lineitem")
    arrs = (
        li.filter(F.col("l_orderkey") <= 100)
        .groupBy(F.col("l_orderkey").alias("orderkey"))
        .agg(F.sort_array(F.collect_list("l_quantity")).alias("q"))
    )
    total = F.aggregate(
        F.col("q"), F.lit(0.0), lambda acc, x: acc + x
    )
    weighted = F.aggregate(
        F.zip_with(
            F.col("q"),
            F.transform(F.col("q"), lambda x, i: (i + 1).cast("double")),
            lambda x, w: x * w,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        arrs.select(
            "orderkey",
            F.size("q").alias("n_items"),
            F.size(F.filter(F.col("q"), lambda x: x > 25.0)).alias("n_over25"),
            F.exists(F.col("q"), lambda x: x == 50.0).alias("has_50"),
            F.forall(F.col("q"), lambda x: x > 0.0).alias("all_positive"),
            hround(total, 4).alias("total_qty"),
            hround(weighted, 4).alias("pos_weighted"),
        )
        .orderBy("orderkey")
    )


@query(
    "map_type_roundtrip",
    scale_class="certification",
    oracle="""
    SELECT user_id,
           COUNT(DISTINCT event_type) AS n_types,
           COUNT(*) AS total_events,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_clicks
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def map_type_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface — the one nested column kind the rest of the
    registry doesn't touch: per-user event-type counters packed into a
    map<string,bigint> (`map_from_entries` over a sorted entry list —
    maps from unordered aggregates need the same determinism discipline
    as arrays), then consumed via `size`, `map_values` fold, and
    `element_at` lookup. The oracle recomputes the same figures straight
    from the rows, certifying the pack/lookup round-trip loses nothing.

    Scale shape: a per-user map is bounded by the event-type vocabulary
    (5 here) — the natural layout for per-entity counter state (the
    batch cousin of the streaming state store's per-key map).
    """
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    maps = per.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "n")))
        ).alias("m")
    )
    total = F.aggregate(
        F.map_values("m"), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    return (
        maps.select(
            "user_id",
            F.size("m").cast("long").alias("n_types"),
            total.alias("total_events"),
            F.coalesce(F.element_at("m", F.lit("click")), F.lit(0).cast("long")).alias(
                "n_clicks"
            ),
        )
        .orderBy("user_id")
    )


@query(
    "asof_join_click_next_purchase",
    oracle=f"""
    SELECT c.event_id,
           c.user_id,
           strftime(CAST(c.ts AS TIMESTAMP), '{_TS_FMT_DUCK}') AS click_ts,
           strftime(CAST(p.ts AS TIMESTAMP), '{_TS_FMT_DUCK}') AS purchase_ts,
           CAST(date_diff('second', CAST(c.ts AS TIMESTAMP), CAST(p.ts AS TIMESTAMP)) AS BIGINT) AS gap_sec
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND c.ts < p.ts
    ORDER BY c.event_id
    """,
)
def asof_join_click_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each click matched to the user's EARLIEST
    strictly later purchase — the time-to-next-event direction
    (`asof_join_click_to_purchase` is the backward/attribution
    direction; forward is the conversion-latency direction, and the two
    are not symmetric row sets).

    Same union-and-carry idiom mirrored: one window per user ordered
    ts DESCENDING carries the nearest future purchase backward; at
    equal ts the click sorts before the purchase in the traversal so
    strictness (c.ts < p.ts) falls out of the sort order, exactly like
    the backward twin. ONE shuffle on user_id, no range self-join.
    """
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.lit(1).alias("is_c"),
        F.lit(None).cast("timestamp_ntz").alias("p_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.lit(None).cast("long").alias("event_id"), "user_id", "ts",
        F.lit(0).alias("is_c"), F.col("ts").alias("p_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), F.col("is_c").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        clicks.unionByName(purchases)
        .withColumn("next_purchase", F.last("p_ts", ignorenulls=True).over(w))
        .filter((F.col("is_c") == 1) & F.col("next_purchase").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", _TS_FMT_SPARK).alias("click_ts"),
            F.date_format("next_purchase", _TS_FMT_SPARK).alias("purchase_ts"),
            (F.unix_timestamp("next_purchase") - F.unix_timestamp("ts"))
            .cast("bigint")
            .alias("gap_sec"),
        )
        .orderBy("event_id")
    )


@query(
    "map_function_zoo",
    oracle="""
    WITH per AS (
        SELECT user_id, event_type, COUNT(*) AS c, SUM(value) AS s
        FROM events WHERE user_id <= 50
        GROUP BY user_id, event_type
    )
    SELECT user_id,
           CAST(COUNT(*) AS INT) AS n_types,
           CAST(COALESCE(SUM(CASE WHEN c >= 2 THEN 1 END), 0) AS INT) AS n_frequent,
           string_agg('evt_' || event_type, ',' ORDER BY event_type) AS keys_renamed,
           string_agg(event_type || '=' ||
                      CAST(CAST(floor(s / c * 100.0 + 0.5) AS BIGINT) AS VARCHAR),
                      ';' ORDER BY event_type) AS avg_cents
    FROM per
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def map_function_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MAP higher-order-function surface in one oracle-checked
    sweep — the collection-function completion of `array_function_zoo`:
    per-user maps of event-type counts and value sums, then
    `map_filter` (frequent types), `transform_keys` (rename), and
    `map_zip_with` (counts ⋈ sums → average, rendered as exact cents so
    no float ever crosses the boundary as a string). The oracle
    computes the SAME values straight from the grouped table, pinning
    the map semantics against plain relational algebra.

    Determinism: maps are built with map_from_entries over SORTED entry
    arrays, and every map-valued result is re-sorted on extraction
    (map iteration order is undefined — render through
    sort_array(map_entries(...)), never trust it).
    """
    ev = load_table(spark, sf_dir, "events")
    per = (
        ev.filter(F.col("user_id") <= 50)
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("c"), F.sum("value").alias("s"))
    )
    maps = per.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "c")))
        ).alias("cnts"),
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "s")))
        ).alias("sums"),
    )
    frequent = F.map_filter("cnts", lambda k, v: v >= 2)
    renamed = F.transform_keys("cnts", lambda k, v: F.concat(F.lit("evt_"), k))
    cents = F.map_zip_with(
        "cnts", "sums",
        lambda k, c, s: F.floor(s / c * 100.0 + 0.5).cast("long"),
    )
    return maps.select(
        "user_id",
        F.size("cnts").cast("int").alias("n_types"),
        F.size(frequent).cast("int").alias("n_frequent"),
        F.array_join(F.array_sort(F.map_keys(renamed)), ",").alias("keys_renamed"),
        F.array_join(
            F.transform(
                F.sort_array(F.map_entries(cents)),
                lambda e: F.concat(e["key"], F.lit("="), e["value"].cast("string")),
            ),
            ";",
        ).alias("avg_cents"),
    ).orderBy("user_id")
