"""Time-window analytics over the events table (extension — SURVEY §2.10).

Batch equivalents of the streaming operators (tumbling/sliding windows,
sessionization) expressed with F.window / window functions so DuckDB can
oracle-check them; the true Structured Streaming variants live in
``streaming/`` and are rows-only checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..sources.loaders import load_table
from ..functions.rounding import dround, hround
from ..materialise import checkpoint
from .registry import query

_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


@query(
    "events_tumbling_10min",
    oracle=f"""
    SELECT strftime(time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP)), '{_TS_FMT_DUCK}') AS window_start,
           COUNT(*) AS n_events,
           floor((SUM(value)) * 100.0 + 0.5) / 100.0 AS total_value
    FROM events
    GROUP BY 1
    ORDER BY window_start
    """,
)
def events_tumbling_10min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 10-minute window aggregation via F.window.

    The batch shape of the streaming rollup; hash aggregate on the bucket
    — scales like any groupBy (no ordering requirement).
    """
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             hround(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format(F.col("w.start"), _TS_FMT_SPARK).alias("window_start"),
            "n_events",
            "total_value",
        )
        .orderBy("window_start")
    )


@query(
    "events_sliding_10min_5min",
    oracle=f"""
    WITH assigned AS (
        SELECT time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS ws, value FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) - INTERVAL '5 minutes' AS ws, value FROM events
    )
    SELECT strftime(ws, '{_TS_FMT_DUCK}') AS window_start,
           COUNT(*) AS n_events,
           floor((SUM(value)) * 100.0 + 0.5) / 100.0 AS total_value
    FROM assigned
    GROUP BY ws
    ORDER BY window_start
    """,
)
def events_sliding_10min_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (10 min length, 5 min slide): each event lands in two
    overlapping windows. Spark expands rows internally exactly like the
    oracle's UNION ALL of shifted buckets."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             hround(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format(F.col("w.start"), _TS_FMT_SPARK).alias("window_start"),
            "n_events",
            "total_value",
        )
        .orderBy("window_start")
    )


@query(
    "events_sessionization",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR date_diff('second', LAG(ts) OVER w, ts) > 1800
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    )
    SELECT user_id,
           CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_events,
           strftime(MIN(ts), '{_TS_FMT_DUCK}') AS session_start,
           date_diff('second', MIN(ts), MAX(ts)) AS duration_sec,
           floor((SUM(value)) * 100.0 + 0.5) / 100.0 AS total_value
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-min-inactivity session boundaries per user.

    Classic gap-and-island: lag → boundary flag → running sum as session
    id → per-session rollup. Window partitioned by user_id — fully
    parallel, no global order (the streaming twin uses session_window).
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = events.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | ((F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))) > 1800),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.min("ts"), _TS_FMT_SPARK).alias("session_start"),
            (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
            .cast("long")
            .alias("duration_sec"),
            hround(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("user_id", "session_id")
    )


@query(
    "events_json_extract",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(NULLIF(regexp_extract(props, '"k": (\\d+)', 1), '') AS INTEGER)) AS BIGINT) AS sum_k,
           floor((AVG(CAST(NULLIF(regexp_extract(props, '"k": (\\d+)', 1), '') AS INTEGER))) * 10000.0 + 0.5) / 10000.0 AS avg_k,
           COUNT(*) AS n_events
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull ``k`` out of the JSON props column
    and aggregate per event type (get_json_object stays JVM-side).

    Rows whose props lack a ``k`` key yield NULL on both engines:
    Spark's get_json_object returns NULL, and the oracle NULLIFs
    DuckDB's no-match empty string before the cast (a bare
    CAST('' AS INTEGER) is a hard ConversionException — the wide-net
    tie sweep caught the oracle crashing on k-less props)."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        events.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.sum("k").cast("bigint").alias("sum_k"),
            hround(F.avg("k"), 4).alias("avg_k"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )


@query(
    "events_user_gaps",
    oracle="""
    WITH gaps AS (
        SELECT user_id,
               EXTRACT(EPOCH FROM ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                 AS gap_sec
        FROM events
    )
    SELECT user_id,
           COUNT(*) AS n_gaps,
           CAST(SUM(CASE WHEN gap_sec > 3600.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps_over_1h,
           CAST(floor(MAX(gap_sec)) AS BIGINT) AS max_gap_sec
    FROM gaps
    WHERE gap_sec IS NOT NULL
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def events_user_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user cadence gaps: lag over (PARTITION BY user_id ORDER BY ts)
    — the scalable shape of the reference's gap detection
    (Cleaning.scala:68-79 runs the same lag over a GLOBAL order, a
    single-partition funnel; partitioning by the entity key is the 100 TB
    fix, SURVEY §4.3.3). Tie-broken on event_id for determinism.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("timestamp").cast("double")  # NTZ→ts is tz-free under UTC
    gap = epoch - F.lag(epoch, 1).over(w)
    return (
        events.select("user_id", gap.alias("gap_sec"))
        .filter(F.col("gap_sec").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.sum(F.when(F.col("gap_sec") > 3600.0, 1).otherwise(0)).alias("n_gaps_over_1h"),
            F.floor(F.max("gap_sec")).cast("bigint").alias("max_gap_sec"),
        )
        .orderBy("user_id")
    )


@query(
    "events_twap_by_user",
    oracle="""
    WITH spans AS (
        SELECT user_id, value,
               EXTRACT(EPOCH FROM
                   LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) - ts)
                 AS dt
        FROM events
    )
    SELECT user_id,
           floor((SUM(value * dt) / SUM(dt)) * 1000000.0 + 0.5) / 1000000.0
             AS twap,
           COUNT(*) AS n_spans
    FROM spans
    WHERE dt IS NOT NULL AND dt > 0.0
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def events_twap_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user: each reading is weighted by
    how long it was 'current' (until the next event) — the correct
    average for irregularly-sampled telemetry, where a plain AVG
    over-weights bursts.

    One lead window partitioned by user (entity-parallel, no global
    sort), then a plain grouped ratio-of-sums.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("timestamp").cast("double")
    dt = F.lead(epoch, 1).over(w) - epoch
    return (
        events.select("user_id", "value", dt.alias("dt"))
        .filter(F.col("dt").isNotNull() & (F.col("dt") > 0.0))
        .groupBy("user_id")
        .agg(
            hround(F.sum(F.col("value") * F.col("dt")) / F.sum("dt"), 6).alias("twap"),
            F.count(F.lit(1)).alias("n_spans"),
        )
        .orderBy("user_id")
    )


@query(
    "events_rolling_anomaly",
    oracle="""
    WITH w AS (
        SELECT user_id, value,
               avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING) AS mu,
               stddev_samp(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING) AS sd
        FROM events
    )
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN sd > 0 AND abs(value - mu) > 3 * sd
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
    FROM w GROUP BY user_id ORDER BY user_id
    """,
)
def events_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-window anomaly counts: per user, events whose value sits
    more than 3 sample-stddevs from the trailing-20-event mean
    (excluding the current row) — the telemetry outlier monitor.

    Scale shape: one shuffle on user_id, then a bounded ROWS frame —
    per-task state is the 20-row frame, independent of series length.
    The trailing frame (not centered) is the streamable form: the same
    statistic works incrementally under structured streaming.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    frame = (
        Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-20, -1)
    )
    flagged = ev.select(
        "user_id",
        "value",
        F.avg("value").over(frame).alias("mu"),
        F.stddev_samp("value").over(frame).alias("sd"),
    )
    return (
        flagged.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(
                    (F.col("sd") > 0)
                    & (F.abs(F.col("value") - F.col("mu")) > 3 * F.col("sd")),
                    F.lit(1),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_anomalies"),
        )
        .orderBy("user_id")
    )


@query(
    "events_variant_extract",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
           COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS INTEGER)) AS n_distinct_k,
           COUNT(*) AS n_events
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction via the VARIANT type (Spark 4):
    ``parse_json`` once into the binary-encoded variant, then typed
    ``variant_get`` paths — the modern twin of `events_json_extract`'s
    per-path get_json_object.

    Why it matters at 100 TB: with repeated multi-path extraction,
    get_json_object re-parses the JSON text per path while VARIANT
    parses ONCE and every path probe walks the pre-shredded binary —
    the difference compounds per extra field. Parse and probe both stay
    JVM-side expressions.
    """
    events = load_table(spark, sf_dir, "events")
    v = events.select(
        "event_type", F.parse_json("props").alias("pv")
    )
    k = F.try_variant_get("pv", "$.k", "int")
    return (
        v.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").cast("bigint").alias("sum_k"),
            F.countDistinct("k").alias("n_distinct_k"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )


@query(
    "events_session_window_builtin",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts > LAG(ts) OVER w + INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '{_TS_FMT_DUCK}') AS session_start,
           strftime(MAX(ts) + INTERVAL 30 MINUTE, '{_TS_FMT_DUCK}') AS session_end,
           COUNT(*) AS n_events,
           floor((SUM(value)) * 100.0 + 0.5) / 100.0 AS total_value
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
)
def events_session_window_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via the BUILT-IN ``session_window`` aggregation —
    the one-line twin of `events_sessionization`'s manual
    gaps-and-islands. Boundary-tie semantics (pinned by a direct
    micro-experiment on Spark 4.1.2, see
    tests/test_degenerate_inputs.py): an event landing EXACTLY at the
    current session end (gap == timeout) is MERGED — the builtin's
    proposed interval [ts, ts+gap) is treated as closed-at-the-left
    against the running session end, so a new session starts only when
    gap > timeout. The oracle's island flag therefore uses the same
    strict > 1800 as the manual twin; the two operators agree on ties.

    The builtin merges windows inside a partial-then-final aggregation
    (no explicit window function pass), which is also the shape its
    streaming variant uses; partitioning is (user_id), fully parallel.
    The oracle compares timestamps directly (`ts > prev + INTERVAL 30
    MINUTE`) rather than a truncating date_diff('second'), so the tie
    rule is exact at any timestamp precision (a 1800.5s gap splits in
    both engines; a 1800.0s gap merges in both).
    """
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            hround(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format("session_window.start", _TS_FMT_SPARK).alias("session_start"),
            F.date_format("session_window.end", _TS_FMT_SPARK).alias("session_end"),
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "session_start")
    )


# Deterministic per-event ordering key for arg_min/arg_max-style picks:
# microseconds since 2024-01-01 (events span one month, so this stays
# ≪ 2^43) shifted left 20 bits + event_id (unique, < 2^20 at tested
# SFs) — one BIGINT both engines compute identically, since neither
# supports composite arg_min keys.
_EPOCH_2024_US = 1704067200000000


@query(
    "resample_events_hourly_ohlc",
    oracle=f"""
    WITH keyed AS (
        SELECT event_type,
               time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS bucket,
               value,
               (epoch_us(CAST(ts AS TIMESTAMP))
                - epoch_us(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))))
                 * 2147483648 + event_id AS ord
        FROM events
    )
    SELECT event_type,
           strftime(bucket, '{_TS_FMT_DUCK}') AS hour_start,
           floor((arg_min(value, ord)) * 100.0 + 0.5) / 100.0 AS open,
           floor((MAX(value)) * 100.0 + 0.5) / 100.0 AS high,
           floor((MIN(value)) * 100.0 + 0.5) / 100.0 AS low,
           floor((arg_max(value, ord)) * 100.0 + 0.5) / 100.0 AS close,
           COUNT(*) AS n_events
    FROM keyed
    GROUP BY event_type, bucket
    ORDER BY event_type, hour_start
    """,
)
def resample_events_hourly_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling: per (event_type, hour) keep the opening value
    (first by time), the high/low extremes, and the closing value (last
    by time) — the lossy-but-shaped compaction that turns raw telemetry
    into chartable series at 1/N the storage.

    open/close are min_by/max_by on a single deterministic BIGINT
    ordering key (within-bucket µs ≪ 31 bits | event_id) because ties
    on a raw timestamp would make first/last engine-dependent and
    neither engine takes composite arg-keys. The offset is relative to
    the event's OWN hour bucket — arg ordering only needs to be correct
    within a group — so the key is date-independent: ≤ 3.6e9 µs × 2³¹
    ≈ 7.7e18 < 2⁶³ for any timestamp, with event_ids up to 2³¹. (The
    round-7 boundary-tie sweep caught the previous absolute-epoch
    packing overflowing LONG for data ≳101 days past its 2024-01-01
    anchor.) One partial+final aggregation, no window functions, no
    shuffle wider than (type, hour).
    """
    events = load_table(spark, sf_dir, "events")
    bucket = F.window("ts", "1 hour").getField("start")
    ord_key = (
        (F.unix_micros(F.col("ts").cast("timestamp"))
         - F.unix_micros(bucket.cast("timestamp")))
        * F.lit(2147483648)
        + F.col("event_id")
    )
    keyed = events.select(
        "event_type",
        bucket.alias("bucket"),
        "value",
        ord_key.alias("ord"),
    )
    return (
        keyed.groupBy("event_type", "bucket")
        .agg(
            hround(F.min_by("value", "ord"), 2).alias("open"),
            hround(F.max("value"), 2).alias("high"),
            hround(F.min("value"), 2).alias("low"),
            hround(F.max_by("value", "ord"), 2).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "event_type",
            F.date_format("bucket", _TS_FMT_SPARK).alias("hour_start"),
            "open", "high", "low", "close", "n_events",
        )
        .orderBy("event_type", "hour_start")
    )


@query(
    "user_engagement_segments",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR date_diff('second', LAG(ts) OVER w, ts) > 1800
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    ), per_user AS (
        SELECT user_id,
               COUNT(*) AS n_events,
               COUNT(DISTINCT session_id) AS n_sessions,
               floor(CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT session_id) * 10000.0 + 0.5) / 10000.0
                 AS events_per_session
        FROM sess GROUP BY user_id
    ), cuts AS (
        SELECT quantile_cont(events_per_session, [0.33, 0.66]) AS c FROM per_user
    )
    SELECT CASE WHEN p.events_per_session > c[2] THEN 'deep'
                WHEN p.events_per_session > c[1] THEN 'mid'
                ELSE 'shallow' END AS segment,
           COUNT(*) AS n_users,
           CAST(SUM(p.n_events) AS BIGINT) AS total_events,
           CAST(SUM(p.n_sessions) AS BIGINT) AS total_sessions
    FROM per_user p CROSS JOIN cuts
    GROUP BY 1
    ORDER BY segment
    """,
)
def user_engagement_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral segmentation composition: sessionize per user
    (gaps-and-islands), derive engagement depth (events per session),
    tercile-segment by broadcast quantile cut points — sessionization,
    feature derivation, and cut-point binning wired into one lazy plan
    (the `rfm_segmentation` pattern driven by session features instead
    of order history).

    Entity-keyed windows for sessionization, one per-user aggregate,
    a 2-value broadcast cut array, 3-key rollup — no global sort, no
    unbounded window anywhere. Ratio rounded to 1e-4 pre-comparison so
    both engines bucket identical doubles against identical cuts.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = events.select(
        "user_id", "ts", "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | ((F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))) > 1800),
            1,
        ).otherwise(0).alias("new_session"),
    )
    # cumsum ordered by the SAME (ts, event_id) key as the flag window —
    # ts alone leaves rows tied on timestamp free to swap between a
    # flag=1 row and its same-instant successors (the ADVICE r6 class).
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = flagged.select(
        "user_id",
        F.sum("new_session").over(w2).alias("session_id"),
    )
    per_user = sess.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("session_id").alias("n_sessions"),
    ).withColumn(
        "events_per_session",
        hround(F.col("n_events").cast("double") / F.col("n_sessions"), 4),
    )
    cuts = per_user.agg(
        F.percentile("events_per_session", F.array(F.lit(0.33), F.lit(0.66))).alias("c")
    )
    return (
        per_user.crossJoin(F.broadcast(cuts))
        .select(
            F.when(F.col("events_per_session") > F.element_at("c", 2), "deep")
            .when(F.col("events_per_session") > F.element_at("c", 1), "mid")
            .otherwise("shallow")
            .alias("segment"),
            "n_events", "n_sessions",
        )
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("n_events").alias("total_events"),
            F.sum("n_sessions").alias("total_sessions"),
        )
        .orderBy("segment")
    )


@query(
    "events_ewma_by_user",
    oracle="""
    WITH tail32 AS (
        SELECT user_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    SELECT user_id,
           floor((SUM(value * POWER(0.8, rn - 1)) / SUM(POWER(0.8, rn - 1)))
                 * 1000000.0 + 0.5) / 1000000.0 AS ewma_value,
           COUNT(*) AS n_tail
    FROM tail32
    WHERE rn <= 32
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def events_ewma_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of each user's latest
    telemetry (alpha=0.2), evaluated at the newest event.

    EWMA is a recursion, which neither SQL windows nor Spark frames
    express directly; the truncated-kernel form is exact to within
    0.8^32 ~ 8e-4 of the weight mass and IS expressible: keep each
    user's 32 newest rows (one partitioned row_number — WindowGroupLimit
    pushes the rank filter into the sort), weight row k by 0.8^k, and
    normalize by the realized weight sum so short histories stay
    unbiased. Scale shape: one shuffle on user_id, bounded per-user
    state, no global sort; the same statistic streams incrementally
    (the recursion form) under applyInPandasWithState.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    tail = ev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 32)
    decay = F.pow(F.lit(0.8), F.col("rn") - 1)
    return (
        tail.groupBy("user_id")
        .agg(
            hround(F.sum(F.col("value") * decay) / F.sum(decay), 6).alias("ewma_value"),
            F.count(F.lit(1)).alias("n_tail"),
        )
        .orderBy("user_id")
    )


@query(
    "stats_autocorrelation_hourly",
    oracle="""
    WITH hourly AS (
        SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS h,
               SUM(value) AS v
        FROM events GROUP BY 1
    ), lagged AS (
        SELECT v,
               LAG(v, 1)  OVER (ORDER BY h) AS v1,
               LAG(v, 2)  OVER (ORDER BY h) AS v2,
               LAG(v, 24) OVER (ORDER BY h) AS v24
        FROM hourly
    )
    SELECT floor(CORR(v, v1)  * 1000000.0 + 0.5) / 1000000.0 AS acf_lag1,
           floor(CORR(v, v2)  * 1000000.0 + 0.5) / 1000000.0 AS acf_lag2,
           floor(CORR(v, v24) * 1000000.0 + 0.5) / 1000000.0 AS acf_lag24,
           COUNT(*) AS n_hours
    FROM lagged
    """,
)
def stats_autocorrelation_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the hourly load series at lags 1, 2 and 24 —
    the standard seasonality diagnostic (lag-24 exposes the daily cycle)
    before fitting any forecast model.

    The raw events aggregate down to one row per hour FIRST (partial+
    final shuffle agg), so the ordered lag window runs over a
    calendar-bounded series — 720 rows for a 30-day month regardless of
    event volume. A single-partition window over calendar hours is
    scale-safe: its size is fixed by the time span, not the data
    (contrast clean_gap_detection's documented parity artifact).
    Pearson CORR is the built-in JVM aggregate on both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(F.sum("value").alias("v"))
    )
    w = Window.orderBy("h")
    lagged = hourly.select(
        "v",
        F.lag("v", 1).over(w).alias("v1"),
        F.lag("v", 2).over(w).alias("v2"),
        F.lag("v", 24).over(w).alias("v24"),
    )
    return lagged.agg(
        hround(F.corr("v", "v1"), 6).alias("acf_lag1"),
        hround(F.corr("v", "v2"), 6).alias("acf_lag2"),
        hround(F.corr("v", "v24"), 6).alias("acf_lag24"),
        F.count(F.lit(1)).alias("n_hours"),
    )


@query(
    "events_cusum_changepoint",
    oracle="""
    WITH hourly AS (
        SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS h,
               SUM(value) AS v
        FROM events GROUP BY 1
    ), centered AS (
        SELECT h, v - (SELECT AVG(v) FROM hourly) AS dev FROM hourly
    ), cusum AS (
        SELECT h, SUM(dev) OVER (ORDER BY h
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS s,
               COUNT(*) OVER () AS n_hours
        FROM centered
    )
    SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS changepoint_hour,
           floor(ABS(s) * 100.0 + 0.5) / 100.0 AS max_abs_cusum,
           n_hours
    FROM cusum
    ORDER BY ABS(s) DESC, h
    LIMIT 1
    """,
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint scan over the hourly load series: the hour
    where the cumulative deviation from the global mean peaks is the
    single most likely level-shift point (classic cumulative-sum
    control-chart statistic).

    Same calendar-bounded reduction as the ACF entry: events collapse
    to <=720 hourly rows before any ordered window, so the running-sum
    window is fixed-size at any corpus scale. The global mean is a
    1-row broadcast; the peak is a single-pass ORDER BY ABS(s) LIMIT 1
    with the hour as tiebreak. (First revision compared ABS(s) against
    a separately-aggregated MAX — DuckDB inlines CTEs, so the two
    evaluations cumulate floats in different orders and the equality
    can select ZERO rows. Never equality-compare a float against a
    re-evaluation of itself.)
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(F.sum("value").alias("v"))
    )
    mean = hourly.agg(F.avg("v").alias("mu"))
    centered = hourly.crossJoin(F.broadcast(mean)).select(
        "h", (F.col("v") - F.col("mu")).alias("dev")
    )
    w = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cusum = centered.select(
        "h",
        F.sum("dev").over(w).alias("s"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n_hours"),
    )
    return (
        cusum.orderBy(F.abs(F.col("s")).desc(), "h")
        .limit(1)
        .select(
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("changepoint_hour"),
            hround(F.abs(F.col("s")), 2).alias("max_abs_cusum"),
            F.col("n_hours"),
        )
    )


@query(
    "events_rolling_7d_distinct_users",
    oracle=f"""
    WITH day_events AS (
        SELECT time_bucket(INTERVAL '1 day', CAST(ts AS TIMESTAMP)) AS d,
               user_id, event_id
        FROM events
    ), fanout AS (
        SELECT d - TO_DAYS(CAST(k.range AS INTEGER)) AS window_start,
               user_id, event_id
        FROM day_events, range(7) k
    )
    SELECT strftime(window_start, '{_TS_FMT_DUCK}') AS window_start,
           COUNT(DISTINCT user_id) AS distinct_users,
           COUNT(*) AS n_events
    FROM fanout
    GROUP BY window_start
    ORDER BY window_start
    """,
)
def events_rolling_7d_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users (the marketing WAU metric), computed
    with Spark's sliding event-time window: every event lands in the 7
    daily-sliding windows that contain it, then COUNT(DISTINCT user)
    per window.

    The 7× fan-out is the honest cost of an exact sliding distinct —
    distinct counts don't merge across subwindows, so there is no
    tumbling+combine shortcut (contrast `events_tumbling_10min`); the
    streaming-scale variant trades exactness for mergeable HLL sketches
    (`streaming_distinct_users_hourly`). The DuckDB twin reproduces
    Spark's epoch-aligned window starts with an explicit 0..6-day
    shift-and-union, labelling each window by its START like F.window.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "7 days", "1 day").alias("w"))
        .agg(
            F.count_distinct("user_id").alias("distinct_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.date_format(F.col("w.start"), _TS_FMT_SPARK).alias("window_start"),
            "distinct_users",
            "n_events",
        )
        .orderBy("window_start")
    )


@query("events_rolling_7d_distinct_users_sketch")  # rows-only: HLL estimates
def events_rolling_7d_distinct_users_sketch(spark: SparkSession,
                                            sf_dir: str) -> DataFrame:
    """Mergeable-sketch twin of `events_rolling_7d_distinct_users`
    (r12 VERDICT task 3 — the last exact-baseline without a chainable
    production twin): ONE HLL sketch of user_id per day, then each
    day's fixed-size sketch fans out to the 7 sliding window starts
    that contain it and union-merges per window.

    The exact entry fans out every EVENT 7× because distinct counts
    don't merge across subwindows; at 100 TB that is 7× the event
    stream through a shuffle into unbounded per-window distinct state.
    Here the fan-out is |days|×7 KILOBYTE-sized sketch rows — state
    bounded by the calendar, not the data — and Datasketches HLL union
    is lossless over sub-sketches, so accuracy is the sketch's own
    (~1.6% rse at the default lgk=12; the per-window estimate-vs-exact
    error is pinned ≤5% in tests/test_sketches.py, the
    `sketch_quantile_error_bound` style). n_events stays EXACT — sums
    merge. Window-start set is identical to the exact entry's: a
    window is emitted iff one of its 7 days has events. Day buckets
    come from the same epoch-aligned F.window the exact entry slides
    by, so starts line up bit-for-bit.

    Rows-only by design (HLL estimates are implementation-specific;
    the twin relation to the oracled exact entry is the correctness
    anchor, SCALE_TWINS in plans/__init__.py).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.window("ts", "1 day").alias("d")).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count(F.lit(1)).alias("n"),
    )
    fanout = daily.select(
        F.explode(
            F.sequence(
                F.col("d.start") - F.expr("INTERVAL 6 DAYS"),
                F.col("d.start"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("ws"),
        "sk",
        "n",
    )
    return (
        fanout.groupBy("ws")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("distinct_users_est"),
            F.sum("n").alias("n_events"),
        )
        .select(
            F.date_format("ws", _TS_FMT_SPARK).alias("window_start"),
            "distinct_users_est",
            "n_events",
        )
        .orderBy("window_start")
    )


@query(
    "events_top_trigram_paths",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type, 1) OVER w AS prev1,
               LAG(event_type, 2) OVER w AS prev2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT prev2 || '>' || prev1 || '>' || event_type AS path,
           COUNT(*) AS n_occurrences
    FROM seq
    WHERE prev2 IS NOT NULL
    GROUP BY path
    ORDER BY n_occurrences DESC, path
    LIMIT 10
    """,
)
def events_top_trigram_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 three-step user journeys (A>B>C paths) — the order-3
    extension of `events_transition_matrix`, the path-analysis query
    behind every funnel/Sankey dashboard.

    Per-user lag windows (entity-parallel, one user_id shuffle) emit
    each consecutive triple; the path strings then partial-aggregate
    map-side into at most |types|³ = 125 keys, and the top-10 plans as
    TakeOrderedAndProject. Deterministic via the path tiebreak.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lag("event_type", 1).over(w).alias("prev1"),
        F.lag("event_type", 2).over(w).alias("prev2"),
    )
    return (
        seq.filter(F.col("prev2").isNotNull())
        .select(
            F.concat_ws(">", "prev2", "prev1", "event_type").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "path")
        .limit(10)
    )


@query(
    "events_rolling_regression_slope",
    oracle=f"""
    WITH base AS (
        SELECT user_id, ts, event_id, value,
               CAST(floor(epoch(ts)) AS BIGINT)
               - MIN(CAST(floor(epoch(ts)) AS BIGINT))
                     OVER (PARTITION BY user_id) AS x
        FROM events
    ), framed AS (
        SELECT user_id, ts, event_id, value,
               COUNT(*)        OVER w AS n,
               SUM(CAST(x AS DOUBLE))     OVER w AS sx,
               SUM(value)                 OVER w AS sy,
               SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) OVER w AS sxx,
               SUM(CAST(x AS DOUBLE) * value)             OVER w AS sxy,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rev
        FROM base
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id,
           CAST(n AS INT) AS n_window,
           {dround('''CASE WHEN n >= 3 AND n * sxx - sx * sx > 0
                 THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END''', 9)}
               AS slope_per_sec
    FROM framed
    WHERE rev = 1 AND user_id <= 200
    ORDER BY user_id
    """,
)
def events_rolling_regression_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling OLS slope inside a window frame — regression WITHOUT a
    UDF: the trailing-10-events slope of value against time per user,
    assembled from four windowed sums via the closed form
    (nΣxy − ΣxΣy)/(nΣx² − (Σx)²), reported at each user's latest event.
    The window-algebra pattern for online trend features.

    Numerical safety is the point being demonstrated: raw epoch seconds
    (~1.7e9) square to ~3e18 > 2⁵³, so nΣx² − (Σx)² would cancel
    catastrophically — x is therefore re-based per user (seconds since
    the user's first event, a slope-invariant shift) keeping every
    intermediate exactly representable. Degenerate frames (n < 3 or
    zero x-variance from same-second events) yield NULL, not a crash —
    the divide-by-zero class from the degenerate-input sweep. All
    windows partition by user_id; output is bounded to users ≤ 200.
    """
    ev = load_table(spark, sf_dir, "events")
    base = ev.withColumn(
        "x",
        (
            F.unix_timestamp("ts")
            - F.min(F.unix_timestamp("ts")).over(Window.partitionBy("user_id"))
        ).cast("double"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, Window.currentRow)
    )
    wrev = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    framed = base.select(
        "user_id",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("value").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("x") * F.col("value")).over(w).alias("sxy"),
        F.row_number().over(wrev).alias("rev"),
    )
    n, sx, sy, sxx, sxy = (F.col(c) for c in ["n", "sx", "sy", "sxx", "sxy"])
    denom = n * sxx - sx * sx
    slope = F.when((n >= 3) & (denom > 0), (n * sxy - sx * sy) / denom)
    return (
        framed.filter((F.col("rev") == 1) & (F.col("user_id") <= 200))
        .select(
            "user_id",
            n.cast("int").alias("n_window"),
            hround(slope, 9).alias("slope_per_sec"),
        )
        .orderBy("user_id")
    )


@query(
    "events_session_window_dynamic_gap",
    oracle=f"""
    WITH g AS (
        SELECT user_id, ts, event_id, value, event_type,
               ts + CASE WHEN event_type = 'purchase'
                         THEN INTERVAL 45 MINUTE ELSE INTERVAL 15 MINUTE END AS proposed_end
        FROM events
    ), flagged AS (
        SELECT user_id, ts, event_id, value, event_type, proposed_end,
               CASE WHEN MAX(proposed_end) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                         OR ts > MAX(proposed_end) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    THEN 1 ELSE 0 END AS new_session
        FROM g
    ), sessions AS (
        SELECT user_id, ts, value, event_type, proposed_end,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '{_TS_FMT_DUCK}') AS session_start,
           strftime(MAX(proposed_end), '{_TS_FMT_DUCK}') AS session_end,
           COUNT(*) AS n_events,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 END), 0)
                AS BIGINT) AS n_purchases,
           floor((SUM(value)) * 100.0 + 0.5) / 100.0 AS total_value
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
)
def events_session_window_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap sessionization: `session_window` with a PER-ROW gap
    expression — purchases hold the session open 45 minutes, everything
    else 15 — the engagement-weighted timeout real session models use
    (a conversion event earns a longer attention window).

    Dynamic gaps change the merge rule: each event proposes
    [ts, ts+gap] and touching-or-overlapping proposals merge, so a
    session's end is the RUNNING MAX of proposed ends, not
    last-event+timeout — the oracle replays exactly that (island
    starts only when ts > max of all previous proposed ends). An
    event landing EXACTLY on the running session end IS merged:
    Spark 4.1.2's builtin treats the boundary as inclusive, pinned by
    a direct micro-experiment and the interval-merge property test
    (tests/test_r6_entries.py). Same partial+final merge aggregation
    shape as the static builtin, fully parallel per user.
    """
    events = load_table(spark, sf_dir, "events")
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("45 minutes")
    ).otherwise(F.lit("15 minutes"))
    return (
        events.groupBy("user_id", F.session_window("ts", gap))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.coalesce(
                F.sum(F.when(F.col("event_type") == "purchase", 1)), F.lit(0)
            ).cast("long").alias("n_purchases"),
            hround(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format("session_window.start", _TS_FMT_SPARK).alias("session_start"),
            F.date_format("session_window.end", _TS_FMT_SPARK).alias("session_end"),
            "n_events",
            "n_purchases",
            "total_value",
        )
        .orderBy("user_id", "session_start")
    )


@query(
    "events_pattern_vshape",
    oracle="""
    WITH ordered AS (
        SELECT user_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ord,
               LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events
    ), dirs AS (
        SELECT user_id, value, ord, prev,
               CAST(sign(value - prev) AS INTEGER) AS dir
        FROM ordered WHERE prev IS NOT NULL
    ), runs AS (
        SELECT user_id, value, ord, prev, dir,
               SUM(CASE WHEN pdir IS NULL OR dir != pdir THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ord) AS run_id
        FROM (
            SELECT d.*, LAG(dir) OVER (PARTITION BY user_id ORDER BY ord) AS pdir
            FROM dirs d
        )
    ), run_stats AS (
        SELECT user_id, run_id, MIN(dir) AS dir,
               MIN(ord) AS s_ord, MAX(ord) AS e_ord,
               arg_min(prev, ord) AS start_prev,
               arg_max(value, ord) AS end_val
        FROM runs GROUP BY user_id, run_id
    )
    SELECT d.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_vshapes,
           floor(MAX(d.start_prev - d.end_val) * 1000000.0 + 0.5) / 1000000.0 AS max_depth,
           floor(AVG(d.start_prev - d.end_val) * 1000000.0 + 0.5) / 1000000.0 AS avg_depth
    FROM run_stats d
    JOIN run_stats u
      ON u.user_id = d.user_id AND u.s_ord = d.e_ord + 1
     AND d.dir = -1 AND u.dir = 1
    GROUP BY d.user_id
    ORDER BY d.user_id
    """,
)
def events_pattern_vshape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern detection (the MATCH_RECOGNIZE `DOWN+ UP+` V
    shape, which Spark has no native operator for) as gaps-and-islands:
    per-user step directions (sign of consecutive value delta over the
    tie-stable (ts, event_id) order), direction runs via the
    change-flag cumulative sum, then one self-join of run summaries on
    run adjacency — a strictly-falling run immediately followed by a
    strictly-rising run is one V. Depth = value entering the fall minus
    the trough (min_by/arg_max over a single BIGINT in-run order key —
    composite arg-keys don't port to DuckDB, ROUND_NOTES r4).

    A flat step (exact value tie — planted by the edge net, never by
    ns-precision testdata) is its own dir=0 run and BLOCKS adjacency:
    down-flat-up is deliberately NOT a V (strict pattern semantics,
    documented over the alternative of fuzzy plateaus).

    Scale: both windows and the run aggregation are user-partitioned;
    the adjacency join keys on (user_id, run boundary) — every stage
    shuffles on the entity key, nothing global. This is the same
    recognizer shape Flink's CEP compiles simple NFA patterns to when
    state fits in a keyed window.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = events.select(
        "user_id",
        "value",
        F.row_number().over(w).alias("ord"),
        F.lag("value").over(w).alias("prev"),
    )
    dirs = ordered.filter(F.col("prev").isNotNull()).select(
        "user_id",
        "value",
        "ord",
        "prev",
        F.signum(F.col("value") - F.col("prev")).cast("int").alias("dir"),
    )
    wo = Window.partitionBy("user_id").orderBy("ord")
    runs = dirs.withColumn("pdir", F.lag("dir").over(wo)).withColumn(
        "run_id",
        F.sum(
            F.when(
                F.col("pdir").isNull() | (F.col("dir") != F.col("pdir")), 1
            ).otherwise(0)
        ).over(wo),
    )
    run_stats = runs.groupBy("user_id", "run_id").agg(
        F.min("dir").alias("dir"),
        F.min("ord").alias("s_ord"),
        F.max("ord").alias("e_ord"),
        F.min_by("prev", "ord").alias("start_prev"),
        F.max_by("value", "ord").alias("end_val"),
    )
    d = run_stats.alias("d")
    u = run_stats.alias("u")
    vs = d.join(
        u,
        (F.col("d.user_id") == F.col("u.user_id"))
        & (F.col("u.s_ord") == F.col("d.e_ord") + 1)
        & (F.col("d.dir") == -1)
        & (F.col("u.dir") == 1),
    )
    depth = F.col("d.start_prev") - F.col("d.end_val")
    return (
        vs.groupBy(F.col("d.user_id").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_vshapes"),
            hround(F.max(depth), 6).alias("max_depth"),
            hround(F.avg(depth), 6).alias("avg_depth"),
        )
        .orderBy("user_id")
    )


COPRESENCE_TOP_K = 20
_HOUR_US = 3_600_000_000


@query(
    "intervals_copresence_pairs",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR date_diff('second', LAG(ts) OVER w, ts) > 1800
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id, ts, event_type,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    ), intervals AS (
        SELECT user_id, session_id,
               epoch_us(MIN(ts)) AS s_us, epoch_us(MAX(ts)) AS e_us
        FROM sess
        GROUP BY user_id, session_id
        HAVING MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1
    ), ovl AS (
        SELECT a.user_id AS user_a, b.user_id AS user_b,
               LEAST(a.e_us, b.e_us) - GREATEST(a.s_us, b.s_us) AS ov_us
        FROM intervals a JOIN intervals b
          ON a.user_id < b.user_id
         AND a.s_us < b.e_us AND b.s_us < a.e_us
    )
    SELECT user_a, user_b,
           CAST(COUNT(*) AS BIGINT) AS n_copresent,
           CAST(SUM(ov_us) AS BIGINT) AS total_overlap_us,
           MAX(ov_us) AS max_overlap_us
    FROM ovl
    WHERE ov_us > 0
    GROUP BY user_a, user_b
    ORDER BY total_overlap_us DESC, user_a, user_b
    LIMIT {COPRESENCE_TOP_K}
    """,
)
def intervals_copresence_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join: which user pairs run concurrent
    purchase sessions? Sessions are the manual 30-min gaps-and-islands
    intervals (the events_sessionization rule, purchase-containing
    only), and two sessions co-occur when they STRICTLY overlap
    (min(end) - max(start) > 0 — touching endpoints are not presence,
    pinned by the edge net's exact-tie fixtures).

    The Spark plan is the bucket-blocked interval join — the generic
    distributed recipe for interval x interval overlap, which Spark has
    no native operator for (`range_join_event_pairs` covers point-in-
    range): explode each interval to the hour buckets it touches, join
    on bucket, and keep a surviving pair only in the bucket holding
    max(start_a, start_b) so a pair spanning several shared buckets is
    counted exactly once without a post-join distinct. Overlap
    arithmetic is INTEGER microseconds end to end (epoch_us on both
    engines) — no float crosses the boundary, every output column is
    exact. The oracle is the direct non-equi join (DuckDB IEJoin),
    deliberately a DIFFERENT join algorithm certifying the blocking.

    At 100 TB: bucket width trades replication (intervals/bucket) for
    candidate density — the sum over buckets of n_b^2 is the real cost,
    the same skew law as `diagnose_key_skew`; co-presence is inherently
    quadratic in per-bucket concurrency, so production deployments
    thin the interval set first (here: purchase sessions only).
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = events.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | ((F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))) > 1800),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    intervals = (
        sess.groupBy("user_id", "session_id")
        .agg(
            # ts is NTZ from the events loader; NTZ->ts cast is tz-free under
            # the pinned UTC session (events_user_gaps idiom)
            F.unix_micros(F.min("ts").cast("timestamp")).alias("s_us"),
            F.unix_micros(F.max("ts").cast("timestamp")).alias("e_us"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("has_purchase"),
        )
        .filter(F.col("has_purchase") == 1)
        .drop("has_purchase")
    )
    buckets = intervals.select(
        "user_id",
        "s_us",
        "e_us",
        F.explode(
            F.sequence(
                F.expr(f"s_us div {_HOUR_US}"), F.expr(f"e_us div {_HOUR_US}")
            )
        ).alias("bucket"),
    )
    a = buckets.select(
        F.col("user_id").alias("user_a"),
        F.col("s_us").alias("sa"),
        F.col("e_us").alias("ea"),
        "bucket",
    )
    b = buckets.select(
        F.col("user_id").alias("user_b"),
        F.col("s_us").alias("sb"),
        F.col("e_us").alias("eb"),
        "bucket",
    )
    ov = F.least("ea", "eb") - F.greatest("sa", "sb")
    pairs = (
        a.join(b, ["bucket"])
        .filter(F.col("user_a") < F.col("user_b"))
        .filter((F.col("sa") < F.col("eb")) & (F.col("sb") < F.col("ea")))
        # count each overlapping pair exactly once: only in the bucket
        # where the overlap starts
        .filter(F.col("bucket") == F.expr(f"greatest(sa, sb) div {_HOUR_US}"))
        .select("user_a", "user_b", ov.alias("ov_us"))
        .filter(F.col("ov_us") > 0)
    )
    return (
        pairs.groupBy("user_a", "user_b")
        .agg(
            F.count(F.lit(1)).alias("n_copresent"),
            F.sum("ov_us").alias("total_overlap_us"),
            F.max("ov_us").alias("max_overlap_us"),
        )
        .orderBy(F.desc("total_overlap_us"), "user_a", "user_b")
        .limit(COPRESENCE_TOP_K)
    )


@query(
    "intervals_max_concurrency",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR date_diff('second', LAG(ts) OVER w, ts) > 1800
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id,
               ts
        FROM flagged
    ), intervals AS (
        SELECT epoch_us(MIN(ts)) AS s_us, epoch_us(MAX(ts)) AS e_us
        FROM sess GROUP BY user_id, session_id
    ), instants AS (
        SELECT t_us,
               SUM(n_starts) AS n_starts, SUM(n_ends) AS n_ends
        FROM (
            SELECT s_us AS t_us, 1 AS n_starts, 0 AS n_ends FROM intervals
            UNION ALL
            SELECT e_us AS t_us, 0 AS n_starts, 1 AS n_ends FROM intervals
        )
        GROUP BY t_us
    ), swept AS (
        SELECT t_us,
               SUM(n_starts) OVER (ORDER BY t_us) AS s_incl,
               SUM(n_ends) OVER (ORDER BY t_us) - n_ends AS e_excl
        FROM instants
    ), conc AS (
        SELECT t_us, CAST(s_incl - e_excl AS BIGINT) AS c FROM swept
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM intervals) AS n_sessions,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM instants) AS n_instants,
           MAX(c) AS peak_concurrency,
           MIN(CASE WHEN c = (SELECT MAX(c) FROM conc) THEN t_us END) AS peak_ts_us
    FROM conc
    """,
)
def intervals_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions via the endpoint sweep — the classic
    interval-analytics question ("what was our max simultaneous
    load?"), answered WITHOUT a global-order window: session endpoints
    collapse to per-instant (n_starts, n_ends) counts, and the running
    sweep runs through `exclusive_prefix_sums` (operators/packing.py)
    — range partition + in-partition windows + an O(#partitions)
    driver fold — so no single task ever sorts all endpoints (the same
    two-phase backbone as the Mann-Whitney ranks). Concurrency at
    instant t is starts<=t minus ends<t (CLOSED intervals: a session
    ending exactly when another starts still overlaps it — the
    opposite convention from `intervals_copresence_pairs`' strict
    overlap seconds, deliberately, and pinned by the edge net's
    same-instant fixtures). Peak ties resolve to the earliest instant.

    The oracle sweeps with ordinary running-sum windows — a different
    mechanism certifying the distributed prefix sums.
    """
    from ..operators.packing import exclusive_prefix_sums

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = events.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | ((F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))) > 1800),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    intervals = checkpoint(sess.groupBy("user_id", "session_id").agg(
        F.unix_micros(F.min("ts").cast("timestamp")).alias("s_us"),
        F.unix_micros(F.max("ts").cast("timestamp")).alias("e_us"),
    ))  # endpoints + n_sessions
    points = intervals.select(
        F.col("s_us").alias("t_us"), F.lit(1).alias("n_starts"), F.lit(0).alias("n_ends")
    ).unionByName(
        intervals.select(
            F.col("e_us").alias("t_us"), F.lit(0).alias("n_starts"), F.lit(1).alias("n_ends")
        )
    )
    instants = points.groupBy("t_us").agg(
        F.sum("n_starts").alias("n_starts"), F.sum("n_ends").alias("n_ends")
    )
    swept = exclusive_prefix_sums(instants, "t_us", ["n_starts", "n_ends"])
    conc = swept.select(
        "t_us",
        (
            (F.col("n_starts_excl") + F.col("n_starts")) - F.col("n_ends_excl")
        ).cast("bigint").alias("c"),
    )
    peak = conc.agg(F.max("c").alias("peak_concurrency"))
    peak_ts = (
        conc.join(F.broadcast(peak), conc.c == F.col("peak_concurrency"))
        .agg(F.min("t_us").alias("peak_ts_us"))
    )
    n_sessions = intervals.agg(F.count(F.lit(1)).alias("n_sessions"))
    n_instants = instants.agg(F.count(F.lit(1)).alias("n_instants"))
    return (
        n_sessions.crossJoin(F.broadcast(n_instants))
        .crossJoin(F.broadcast(peak))
        .crossJoin(F.broadcast(peak_ts))
        .select("n_sessions", "n_instants", "peak_concurrency", "peak_ts_us")
    )
