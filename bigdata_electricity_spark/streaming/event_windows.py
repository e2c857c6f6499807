"""Structured Streaming variants of the event-window analytics (SURVEY §2.10).

The events parquet drives a real ``readStream`` → windowed aggregation →
memory sink, run to completion synchronously (processAllAvailable) so the
result is a DataFrame the driver can count. Batch/stream parity is
asserted in tests: the tumbling stream must equal the batch
``events_tumbling_10min`` query.

Scale notes: in production the source is Kafka/files-on-arrival; the
watermark bounds state, and the memory sink becomes a real sink. The
query shapes (window agg, session_window, watermark) are identical.
"""

from __future__ import annotations

import itertools
import math

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.loaders import events_ts_to_timestamp, table_entry

_COUNTER = itertools.count()


def _read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the static events parquet: schema pinned from the
    table catalog, ``ts`` converted as :func:`load_table` converts it."""
    entry = table_entry(spark, f"{sf_dir}/events.parquet")
    stream = (
        spark.readStream.schema(entry.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    # Watermarks need plain TIMESTAMP event time, not timestamp_ntz; the
    # cast keeps the wall clock under the UTC session tz configure() pins.
    return events_ts_to_timestamp(stream, entry).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )


def _run_to_completion(result, name: str, mode: str = "complete") -> None:
    query = (
        result.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()


def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 10-minute windowed aggregation as a streaming query.

    Must produce exactly the batch events_tumbling_10min result —
    asserted in tests/test_streaming.py.
    """
    name = f"stream_tumbling_{next(_COUNTER)}"
    events = _read_events_stream(spark, sf_dir)
    agg = (
        events.groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             (F.floor(F.sum("value") * 100.0 + F.lit(0.5)) / 100.0).alias("total_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
            "total_value",
        )
    )
    _run_to_completion(agg, name)
    return spark.table(name).orderBy("window_start")


def streaming_user_running_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running count / total / max-value state carried across micro-batches.

    The shape SURVEY §2.10 calls 'custom stateful operators': state is an
    explicit (count, total, max) tuple per user_id, updated from Arrow
    batches — the escape hatch for stateful logic `groupBy().agg()`
    can't express (e.g. conditional resets, per-key ML state). Emits the
    running totals each batch; with the static-parquet source that is one
    batch, so the final table equals the batch per-user aggregate
    (asserted in tests).

    Scale: state lives in the state store partitioned by user_id —
    per-key memory is O(1), shuffle is one hash exchange per batch.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update_user(key, pdfs, state: GroupState):
        import pandas as pd

        count, total, vmax = state.get if state.exists else (0, 0.0, float("-inf"))
        for pdf in pdfs:
            count += len(pdf)
            total += float(pdf["value"].sum())
            vmax = max(vmax, float(pdf["value"].max()))
        state.update((count, total, vmax))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [count],
                "total_value": [math.floor(total * 100.0 + 0.5) / 100.0],
                "max_value": [math.floor(vmax * 100.0 + 0.5) / 100.0],
            }
        )

    name = f"stream_user_stats_{next(_COUNTER)}"
    events = _read_events_stream(spark, sf_dir)
    result = (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update_user,
            outputStructType="user_id long, n_events long, total_value double, max_value double",
            stateStructType="count long, total double, vmax double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    _run_to_completion(result, name, mode="update")
    return spark.table(name).orderBy("user_id")


def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows (30-min gap) with a 10-minute watermark.

    Uses the native ``session_window`` stateful operator — the streaming
    twin of the batch gap-and-island sessionization.
    """
    name = f"stream_session_{next(_COUNTER)}"
    events = _read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             (F.floor(F.sum("value") * 100.0 + F.lit(0.5)) / 100.0).alias("total_value"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
            "total_value",
        )
    )
    # Session windows don't support complete mode; append emits every
    # session the watermark has closed (all but the trailing 10 minutes
    # of the static input).
    _run_to_completion(agg, name, mode="append")
    return spark.table(name).orderBy("user_id", "session_start")


def streaming_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against the static
    customer dimension (user_id → c_custkey), rolled up per segment.

    The static side is re-planned per micro-batch unhinted (the
    dims.py policy: customer is O(SF), so stats decide broadcast vs
    shuffle each batch) — the canonical stream⋈dim pattern (no state,
    unlike stream-stream joins).
    Batch equivalence asserted in tests/test_streaming_multimodal.py.
    """
    from ..sources.loaders import load_table  # late import to avoid cycle

    name = f"stream_enrich_{next(_COUNTER)}"
    events = _read_events_stream(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment")
    )
    joined = (
        events.join(customer, events.user_id == customer.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             (F.floor(F.sum("value") * 100.0 + F.lit(0.5)) / 100.0).alias("total_value"))
    )
    _run_to_completion(joined, name, mode="complete")
    return spark.table(name).orderBy("segment")


def streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup: two branches of the same source unioned (every
    event arrives twice) → ``dropDuplicatesWithinWatermark`` on event_id
    collapses them back to one.

    WithinWatermark-dedup keys expire once the watermark passes them —
    bounded state, unlike plain streaming dropDuplicates whose key set
    grows forever. The per-type rollup equals the batch distinct counts
    (asserted in tests); registered rows-only because emission depends
    on micro-batch/watermark timing.
    """
    name = f"stream_dedup_{next(_COUNTER)}"
    doubled = _read_events_stream(spark, sf_dir).union(_read_events_stream(spark, sf_dir))
    deduped = (
        doubled.withWatermark("ts", "30 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "event_type")
    )
    _run_to_completion(deduped, name, mode="append")
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("event_type")
    )


def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: views joined to the same user's
    purchases within the following hour, both sides watermarked.

    The hardest streaming op: both sides buffer state, and the interval
    condition + watermarks bound how long each view/purchase is held
    (without them the join state grows forever). Per-user counts of
    converted views come out; batch equivalence is asserted in tests.
    """
    name = f"stream_ssjoin_{next(_COUNTER)}"
    views = (
        _read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", "2 hours")
    )
    purchases = (
        _read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "2 hours")
    )
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(F.col("v_user").alias("user_id"), "v_ts", "p_ts")
    _run_to_completion(joined, name, mode="append")
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_view_purchase_pairs"))
        .orderBy("user_id")
    )


def streaming_hourly_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `resample_events_hourly_ohlc`: per (event_type,
    hour) OHLC maintained incrementally under a watermark. min_by/max_by
    are standard (partial-merge-capable) aggregates, so open/close track
    the earliest/latest ordering key seen so far per window — the
    telemetry-compaction job run AS data arrives instead of nightly.

    Must equal the batch query exactly once the (static-file) stream
    drains — asserted in tests/test_streaming_multimodal.py. Complete
    output mode (same as the other windowed entries here): at 100 TB use
    append mode + watermark-expired finalized windows into a parquet
    sink (the `foreachBatch` pattern of `streaming_foreach_batch_upsert`).
    """
    name = f"stream_ohlc_{next(_COUNTER)}"
    events = _read_events_stream(spark, sf_dir)
    # Within-bucket µs offset ≪ 31 bits | event_id — the same
    # date-independent packing as the batch twin (an absolute-epoch
    # offset overflows LONG ~101 days past its anchor; caught by the
    # round-7 tie sweep in both twins).
    bucket = F.window("ts", "1 hour")
    ord_key = (
        (F.unix_micros(F.col("ts").cast("timestamp"))
         - F.unix_micros(bucket.getField("start").cast("timestamp")))
        * F.lit(2147483648)
        + F.col("event_id")
    )
    keyed = events.withWatermark("ts", "1 hour").select(
        "event_type",
        bucket.alias("w"),
        "value",
        ord_key.alias("ord"),
    )
    agg = (
        keyed.groupBy("event_type", "w")
        .agg(
            F.min_by("value", "ord").alias("open_raw"),
            F.max("value").alias("high_raw"),
            F.min("value").alias("low_raw"),
            F.max_by("value", "ord").alias("close_raw"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "event_type",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            (F.floor(F.col("open_raw") * 100.0 + F.lit(0.5)) / 100.0).alias("open"),
            (F.floor(F.col("high_raw") * 100.0 + F.lit(0.5)) / 100.0).alias("high"),
            (F.floor(F.col("low_raw") * 100.0 + F.lit(0.5)) / 100.0).alias("low"),
            (F.floor(F.col("close_raw") * 100.0 + F.lit(0.5)) / 100.0).alias("close"),
            "n_events",
        )
    )
    _run_to_completion(agg, name)
    return spark.table(name).orderBy("event_type", "hour_start")


def streaming_distinct_users_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed approx-distinct users per hour as a streaming query:
    hll_sketch_agg is a mergeable aggregate, so each micro-batch folds
    its partial sketch into O(KB) state per window — the only way a
    distinct count stays bounded on an unbounded stream (exact distinct
    would hold every key in state forever).

    Estimates equal the batch HLL over the same windows (same sketch
    impl, same lgK) — asserted in tests; both are estimates, hence
    rows-only at the driver.
    """
    name = f"stream_distinct_{next(_COUNTER)}"
    events = _read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("approx_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "approx_users",
            "n_events",
        )
    )
    _run_to_completion(agg, name)
    return spark.table(name).orderBy("hour_start")


def streaming_available_now_backfill(spark: SparkSession, sf_dir: str,
                                     return_query: bool = False):
    """Bounded-backlog drain with ``Trigger.AvailableNow`` — the backfill
    trigger: stage the events table as a multi-file directory, stream it
    with ``maxFilesPerTrigger=2`` so the backlog is consumed as several
    rate-limited micro-batches, and let the trigger terminate the query
    by itself once the staged files are exhausted.

    This is the production shape for "catch up on a day of files without
    one giant batch, then exit": AvailableNow honors source rate limits
    (unlike the deprecated Trigger.Once) yet needs no manual stop. The
    per-type totals must equal the batch aggregate — any dropped or
    double-read micro-batch shows up against the oracle.
    """
    from ..sources.loaders import load_table  # late import to avoid cycle
    from ..sources.sinks import run_dir

    name = f"stream_avnow_{next(_COUNTER)}"
    staged = run_dir("events_backlog", sf_dir)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    ev.repartition(8, "event_id").write.mode("overwrite").parquet(staged)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(staged)
    )
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.floor(F.sum("value") * 100.0 + F.lit(0.5)) / 100.0).alias("total_value"),
    )
    query = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    out = spark.table(name).orderBy("event_type")
    if return_query:
        return out, query
    return out
