"""Non-SQL-expressible queries: sampling, ML metrics, streaming, multimodal.

These are registered WITHOUT oracle SQL (rows-only driver checks —
SURVEY §5.2): seeded sampling and ML metrics are engine-specific floats,
streaming runs through a stateful runtime, and the multimodal decode goes
through mapInPandas. Their semantics are covered by unit tests instead.
One exception: the multimodal metadata math is deterministic arithmetic,
so it DOES get an oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.rounding import dround, hround
from ..materialise import checkpoint
from ..ml.regression import run_regression_pipeline
from ..operators.multimodal import attach_binary_payload, decode_media
from ..sources.loaders import load_table, vector_dim
from ..sources.sinks import run_dir
from .registry import query

_TS_DUCK = "%Y-%m-%d %H:%M:%S"


@query("sample_events")  # rows-only: Bernoulli sampling is engine-specific (R1)
def sample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 — seeded 50% Bernoulli sample (reduction.scala:27-29), reduced to
    a count + aggregate so the smoke check is cheap and stable per seed."""
    from ..operators.reduction import sample_rows

    events = load_table(spark, sf_dir, "events")
    return sample_rows(events, 0.5, seed=42).agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.round(F.avg("value"), 4).alias("avg_value"),
    )


@query("ml_linear_regression")  # rows-only: solver floats (M1-M6)
def ml_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1-M6 — OLS (one aggregate fit) vs mean baseline on lineitem
    (label l_extendedprice ~ quantity/discount/tax)."""
    li = load_table(spark, sf_dir, "lineitem")
    return run_regression_pipeline(
        li, label_col="l_extendedprice", feature_cols=["l_quantity", "l_discount", "l_tax"]
    )


@query(
    "streaming_tumbling_counts",
    oracle=f"""
    SELECT strftime(time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP)), '{_TS_DUCK}') AS window_start,
           COUNT(*) AS n_events,
           floor((SUM(value)) * 100.0 + 0.5) / 100.0 AS total_value
    FROM events
    GROUP BY 1
    ORDER BY window_start
    """,
)  # complete-mode memory sink over the single-file source drains deterministically
def streaming_tumbling_counts_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming tumbling-window counts (readStream → memory
    sink); batch parity asserted in tests/test_streaming.py."""
    from ..streaming.event_windows import streaming_tumbling_counts

    return streaming_tumbling_counts(spark, sf_dir)


@query("streaming_session_window")  # rows-only: streaming runtime + watermark
def streaming_session_window_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window stateful aggregation with watermark."""
    from ..streaming.event_windows import streaming_session_window

    return streaming_session_window(spark, sf_dir)


@query("sample_stratified_events")  # rows-only: seeded per-stratum Bernoulli
def sample_stratified_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling: keep all purchases, 10% of views/clicks, 50%
    of the rest — the skew-aware downsampling a training pipeline uses.
    Reduced to per-type counts so the rows-only smoke check is stable."""
    from ..operators.reduction import stratified_sample

    events = load_table(spark, sf_dir, "events")
    sampled = stratified_sample(
        events, "event_type",
        {"purchase": 1.0, "view": 0.1, "click": 0.1, "signup": 0.5, "error": 0.5},
    )
    return sampled.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).orderBy("event_type")


@query("sketch_approx_stats")  # rows-only: HLL++/KLL estimates are engine-specific
def sketch_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based aggregates: approx_count_distinct (HyperLogLog++) and
    approx_percentile (KLL-style) on lineitem.

    The 100 TB path for distinct counts and quantiles: fixed-size sketch
    per partition, merged at the final aggregate — no exact distinct
    shuffle, no per-group value gathering. Estimates are
    implementation-specific → rows-only; accuracy vs the exact values is
    asserted in tests/test_sketches.py.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
        F.percentile_approx("l_extendedprice", [0.5, 0.95, 0.99], 10000).alias("price_quantiles"),
    )


@query(
    "streaming_stateful_user_stats",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           floor((SUM(value)) * 100.0 + 0.5) / 100.0 AS total_value,
           floor((MAX(value)) * 100.0 + 0.5) / 100.0 AS max_value
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)  # single micro-batch -> final state equals the batch per-user aggregate
def streaming_stateful_user_stats_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user running count/total/max. Batch equivalence asserted in
    tests/test_streaming_multimodal.py."""
    from ..streaming.event_windows import streaming_user_running_stats

    return streaming_user_running_stats(spark, sf_dir)


@query(
    "multimodal_frame_sample",
    oracle="""
    WITH f AS (
        SELECT doc_id, text, GREATEST(length(text) // 16, 1) AS nf
        FROM documents
    ), frames AS (
        SELECT doc_id, md5(substring(text, k * 16 + 1, 16)) AS cs
        FROM f, LATERAL (SELECT unnest(range(0, nf, 4)) AS k) u
    )
    SELECT doc_id, COUNT(*) AS n_frames, MIN(cs) AS min_checksum
    FROM frames GROUP BY doc_id ORDER BY doc_id
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling stage (every 4th 16-byte 'frame' per payload) —
    the 1→K fan-out shape of video frame extraction through mapInPandas;
    checksums verified against Python md5 in tests.

    Oracle precondition: DuckDB's md5/substring are VARCHAR-only, so the
    SQL twin hashes CHARACTER windows — equal to the operator's BYTE
    windows exactly when the corpus is ASCII (true of the testdata at
    every SF, asserted cheap at runtime below). The multibyte byte-split
    path stays covered by the Python-md5 unit test."""
    from ..operators.multimodal import frame_sample

    docs = load_table(spark, sf_dir, "documents")
    n_multibyte = docs.filter(F.octet_length("text") != F.length("text")).count()
    assert n_multibyte == 0, "frame-sample oracle assumes an ASCII corpus"
    sampled = frame_sample(attach_binary_payload(docs), every_n=4)
    return sampled.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.min("frame_checksum").alias("min_checksum"),
    ).orderBy("doc_id")


@query(
    "multimodal_decode_meta",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
           CAST(octet_length(encode(text)) % 640 AS INTEGER) AS fake_width,
           CAST(octet_length(encode(text)) % 480 AS INTEGER) AS fake_height,
           md5(text) AS checksum
    FROM documents
    ORDER BY doc_id
    """,
)
def multimodal_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload column → mapInPandas decode stub
    → typed metadata. The decode math is deterministic, so the Arrow
    round-trip is fully oracle-checked even though the operator runs in
    Python (the real image decode is stubbed — operators/multimodal.py)."""
    docs = load_table(spark, sf_dir, "documents")
    return decode_media(attach_binary_payload(docs)).orderBy("doc_id")


@query(
    "streaming_static_join",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS n_events,
           floor((SUM(e.value)) * 100.0 + 0.5) / 100.0 AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    ORDER BY segment
    """,
)
def streaming_static_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join (events stream ⋈ broadcast customer
    dim) rolled up per market segment; batch equivalence asserted in
    tests/test_streaming_multimodal.py."""
    from ..streaming.event_windows import streaming_static_enrichment

    return streaming_static_enrichment(spark, sf_dir)


@query(
    "streaming_dedup_watermark",
    oracle="""
    SELECT event_type, COUNT(DISTINCT event_id) AS n_events
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)  # dedup emits rows in the processing batch itself (not held for the watermark)
def streaming_dedup_watermark_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark over a doubled event stream —
    bounded-state streaming dedup; collapses the 2× union back to the
    batch distinct counts (asserted in tests)."""
    from ..streaming.event_windows import streaming_dedup_within_watermark

    return streaming_dedup_within_watermark(spark, sf_dir)


@query("ml_kmeans_embeddings")  # rows-only: cluster ids/init are engine-specific
def ml_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded KMeans (k=8) over the embeddings — the coarse quantizer
    that produces IVF buckets for the similarity queries; per-cluster
    sizes. Iterative treeAggregate: no data shuffle, centroids broadcast
    per iteration (ml/clustering.py)."""
    from ..ml.clustering import kmeans_cluster_sizes

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_cluster_sizes(emb, k=8, seed=42)


@query(
    "streaming_stream_stream_join",
    oracle="""
    SELECT v.user_id AS user_id, COUNT(*) AS n_view_purchase_pairs
    FROM (SELECT user_id, ts FROM events WHERE event_type = 'view') v
    JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
      ON p.user_id = v.user_id
     AND p.ts > v.ts
     AND p.ts <= v.ts + INTERVAL 1 HOUR
    GROUP BY v.user_id
    ORDER BY v.user_id
    """,
)  # inner-join matches emit in-batch; watermarks only bound state
def streaming_stream_stream_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (views ⋈ purchases within 1h, both
    sides watermarked — bounded join state); per-user pair counts.
    Batch equivalence asserted in tests/test_streaming_multimodal.py."""
    from ..streaming.event_windows import streaming_stream_stream_join

    return streaming_stream_stream_join(spark, sf_dir)


@query("ml_logreg_labels")  # rows-only: solver floats are engine-specific
def ml_logreg_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial logistic regression label←embedding with train/test
    accuracy vs majority baseline (ml/classification.py). The synthetic
    labels are uncorrelated with the embeddings (measured: intra-label
    mean dot ≈ inter-label ≈ 0), so accuracies here sit at chance — the
    pipeline's learning ability is asserted in tests on planted
    separable clusters instead."""
    from ..ml.classification import logreg_label_accuracy

    emb = load_table(spark, sf_dir, "embeddings")
    return logreg_label_accuracy(emb, seed=42)


@query(
    "export_corpus_manifest",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def export_corpus_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Publish the corpus as lang-partitioned parquet and certify the
    result: the manifest counts come from reading BACK the written
    files, not from the input plan — so a short write (lost partition,
    failed task) shows up as a count mismatch against the oracle.

    The partition column is the mixture-control handle at scale: a
    trainer reads `lang=en/` directly and directory pruning keeps other
    partitions unscanned. Output pinned under the repo warehouse so a
    driver session's cwd is irrelevant.
    """
    from ..sources.sinks import export_corpus

    docs = load_table(spark, sf_dir, "documents")
    return export_corpus(
        docs, run_dir("corpus_export", sf_dir), "lang"
    ).select("lang", "n_docs")


@query("sketch_shard_merge")  # rows-only: HLL estimates are implementation-specific
def sketch_shard_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup: one HLL sketch of user_id PER DAY, then a
    lossless union across days vs a direct sketch over all events.

    The pattern behind incremental distinct counts at 100 TB: store a
    fixed-size (~KB) sketch per partition/day at ingest, answer any
    rollup later by UNIONING sketches — the raw data is never re-scanned
    and the merge input is |days|·KB regardless of row count. Datasketches
    HLL union is exact over sub-sketches, so the merged estimate EQUALS
    the direct single-pass estimate (asserted in tests/test_sketches.py);
    both are implementation-specific estimates → rows-only check.
    """
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("merged_distinct_users"),
        F.count(F.lit(1)).alias("n_daily_sketches"),
    )
    direct = events.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("direct_distinct_users"),
        F.countDistinct("user_id").alias("exact_distinct_users"),
    )
    return merged.crossJoin(F.broadcast(direct))


@query(
    "sketch_topk_event_types",
    oracle="""
    SELECT event_type AS item, COUNT(*) AS est_count
    FROM events
    GROUP BY event_type
    ORDER BY est_count DESC, item
    """,
)
def sketch_topk_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-items sketch top-k (``approx_top_k``) over event types.

    The heavy-hitters op for high-cardinality streams: one pass, fixed
    sketch memory, mergeable across partitions — at 100 TB the exact
    groupBy this oracle runs shuffles every distinct key, while the
    sketch ships a bounded summary per partition. With k ≥ the actual
    cardinality (5 event types ≪ the 10⁴-item sketch capacity) the
    estimates are provably exact, which is what makes this entry
    hash-checkable; the k < cardinality regime returns estimates and
    would be rows-only.

    Output re-sorted (count DESC, item) on BOTH sides — the sketch's
    own tie order is undefined.
    """
    events = load_table(spark, sf_dir, "events")
    topk = events.agg(F.expr("approx_top_k(event_type, 16)").alias("tk"))
    return (
        topk.select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("item"),
            F.col("e.count").alias("est_count"),
        )
        .orderBy(F.desc("est_count"), "item")
    )


@query(
    "streaming_hourly_ohlc",
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
           strftime(bucket, '{_TS_DUCK}') AS hour_start,
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
def streaming_hourly_ohlc_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OHLC downsampling (watermarked tumbling windows with
    min_by/max_by open/close) — must equal the batch
    `resample_events_hourly_ohlc` exactly; asserted in tests."""
    from ..streaming.event_windows import streaming_hourly_ohlc

    return streaming_hourly_ohlc(spark, sf_dir)


@query("streaming_distinct_users_hourly")  # rows-only: HLL estimates + streaming runtime
def streaming_distinct_users_hourly_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly approx-distinct users on the event stream — bounded-state
    (mergeable HLL) distinct counting under a watermark; equals the
    batch sketch over the same windows (asserted in tests)."""
    from ..streaming.event_windows import streaming_distinct_users_hourly

    return streaming_distinct_users_hourly(spark, sf_dir)


@query("streaming_python_source")  # rows-only: streaming runtime
def streaming_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the custom Python DataSource
    (`sources/pydatasource.py`): micro-batched offsets through the
    SimpleDataSourceStreamReader contract, aggregated per user bucket —
    with the connector's deterministic rows, the streamed total equals
    the batch read exactly (asserted in tests)."""
    import itertools as _it

    from ..sources.pydatasource import register
    from ..streaming.event_windows import _COUNTER

    register(spark)
    name = f"stream_pyds_{next(_COUNTER)}"
    df = (
        spark.readStream.format("synthetic_events")
        .option("n_rows", 2000).option("batch_rows", 500).load()
    )
    agg = df.groupBy((F.col("user_id") % 10).alias("user_bucket")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.floor(F.sum("value") * 100.0 + F.lit(0.5)).alias("total_cents"),
    )
    q = (
        agg.writeStream.outputMode("complete").format("memory").queryName(name).start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name).orderBy("user_bucket")


@query(
    "kmeans_dataframe_lloyd",
    oracle="""
    WITH pts AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    c0 AS (SELECT vec_id AS cid, v AS c FROM pts WHERE vec_id IN (0, 1, 2, 3)),
    s1 AS (
        SELECT p.vec_id, p.v, c.cid,
               list_sum(list_transform(list_zip(p.v, c.c),
                        q -> (q[1] - q[2]) * (q[1] - q[2]))) AS d2
        FROM pts p CROSS JOIN c0 c
    ),
    a1 AS (
        SELECT vec_id, v, cid, d2,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM s1
    ),
    c1 AS (
        SELECT cid, list(m ORDER BY i) AS c
        FROM (
            SELECT cid, i, floor(AVG(x) * 1000000000.0 + 0.5) / 1000000000.0 AS m
            FROM (SELECT cid, generate_subscripts(v, 1) AS i, unnest(v) AS x
                  FROM a1 WHERE rn = 1)
            GROUP BY cid, i
        )
        GROUP BY cid
    ),
    s2 AS (
        SELECT p.vec_id, p.v, c.cid,
               list_sum(list_transform(list_zip(p.v, c.c),
                        q -> (q[1] - q[2]) * (q[1] - q[2]))) AS d2
        FROM pts p CROSS JOIN c1 c
    ),
    a2 AS (
        SELECT vec_id, cid, d2,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM s2
    )
    SELECT cid,
           COUNT(*) AS n_points,
           floor(AVG(d2) * 1000000.0 + 0.5) / 1000000.0 AS mean_d2
    FROM a2 WHERE rn = 1
    GROUP BY cid
    ORDER BY cid
    """,
)
def kmeans_dataframe_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means (k=4, 2 Lloyd rounds) as a pure declarative plan — the
    iterative-algorithm-as-joins demonstration, and unlike
    `ml_kmeans_embeddings` it is HASH-CHECKABLE: id-based seeding,
    cid-tie-broken argmin, and 1e-9-rounded centroids per round make
    both engines' assignments bit-reproducible (ml/clustering.py
    `lloyd_dataframe`). Output: per-cluster size + mean squared
    distance after the final assignment.
    """
    from ..ml.clustering import lloyd_dataframe

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    dim = vector_dim(spark, f"{sf_dir}/embeddings.parquet", "embedding")
    assigned = lloyd_dataframe(emb, dim, seed_ids=[0, 1, 2, 3], iters=2)
    return (
        assigned.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            (F.floor(F.avg("d2") * 1e6 + F.lit(0.5)) / 1e6).alias("mean_d2"),
        )
        .orderBy("cid")
    )


@query(
    "streaming_foreach_batch_upsert",
    oracle="""
    WITH synth AS (
        SELECT range AS event_id,
               CAST(CAST(('0x' || substr(md5('u' || CAST(range AS VARCHAR)), 1, 6)) AS BIGINT) % 50 AS BIGINT) AS user_id,
               CAST(floor(CAST(CAST(('0x' || substr(md5('v' || CAST(range AS VARCHAR)), 1, 6)) AS BIGINT) AS DOUBLE)
                    / 16777216.0 * 50000.0 + 0.5) AS BIGINT) / 100.0 AS value
        FROM range(0, 2000)
    )
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents,
           MAX(event_id) AS last_event_id
    FROM synth
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def streaming_foreach_batch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming upsert via ``foreachBatch``: every micro-batch is
    aggregated and MERGEd (copy-on-write full-outer join) into a keyed
    parquet snapshot — the standard Structured-Streaming pattern for
    maintaining a serving table when the sink has no native MERGE.

    The source is the custom Python DataSource's stream reader (4
    micro-batches of 500 md5-derived rows), so the final snapshot is
    fully deterministic and the ORACLE recomputes it from a bare
    integer range — certifying offset tracking, per-batch aggregation,
    and the cross-batch merge arithmetic, not just row counts. Values
    convert to integer cents AT THE ROW level before any sum, so the
    cross-batch addition order can't drift a double ulp past a cent
    boundary.

    At 100 TB the pattern holds with two changes (both registry-proven
    elsewhere): the snapshot lives bucketed on the key
    (`write_bucketed_table`) so each merge is one co-located join, and
    the rewrite touches only changed buckets (`merge_upsert_orders` is
    the batch shape of the same join).
    """
    import os
    import shutil

    from ..sources.pydatasource import register
    from ..streaming.event_windows import _COUNTER

    register(spark)
    base = run_dir("stream_upsert", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    snap, tmp = f"{base}/snapshot", f"{base}/snapshot_tmp"
    batches: list[int] = []

    def merge_batch(batch_df, batch_id: int) -> None:
        batches.append(batch_id)
        inc = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")).alias("total_cents"),
            F.max("event_id").alias("last_event_id"),
        )
        if os.path.exists(snap):
            cur = batch_df.sparkSession.read.parquet(snap)
            merged = (
                cur.alias("c").join(inc.alias("i"), "user_id", "full_outer")
                .select(
                    "user_id",
                    (F.coalesce("c.n_events", F.lit(0)) + F.coalesce("i.n_events", F.lit(0))).alias("n_events"),
                    (F.coalesce("c.total_cents", F.lit(0)) + F.coalesce("i.total_cents", F.lit(0))).alias("total_cents"),
                    F.greatest(
                        F.coalesce("c.last_event_id", F.lit(-1)),
                        F.coalesce("i.last_event_id", F.lit(-1)),
                    ).alias("last_event_id"),
                )
            )
        else:
            merged = inc
        merged.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(snap, ignore_errors=True)
        os.rename(tmp, snap)

    name = f"stream_upsert_{next(_COUNTER)}"
    df = (
        spark.readStream.format("synthetic_events")
        .option("n_rows", 2000).option("batch_rows", 500).load()
    )
    q = df.writeStream.foreachBatch(merge_batch).queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(batches) >= 3, f"expected multiple micro-batches, got {batches}"
    return spark.read.parquet(snap).orderBy("user_id")


@query(
    "streaming_checkpoint_recovery",
    scale_class="certification",
    oracle="""
    WITH synth AS (
        SELECT range AS event_id,
               CAST(CAST(('0x' || substr(md5('u' || CAST(range AS VARCHAR)), 1, 6)) AS BIGINT) % 50 AS BIGINT) AS user_id,
               CAST(floor(CAST(CAST(('0x' || substr(md5('v' || CAST(range AS VARCHAR)), 1, 6)) AS BIGINT) AS DOUBLE)
                    / 16777216.0 * 50000.0 + 0.5) AS BIGINT) / 100.0 AS value
    FROM range(0, 2000)
    )
    SELECT CAST(user_id % 10 AS BIGINT) AS user_bucket,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
    FROM synth
    GROUP BY 1
    ORDER BY user_bucket
    """,
)
def streaming_checkpoint_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crash-and-recover exactly-once: a foreachBatch append sink dies
    mid-stream (a planted exception at micro-batch 2), restarts from
    the SAME checkpointLocation, and the materialized total still
    matches the batch recomputation bit-for-bit.

    What this certifies, in order: the offset log plans batch 2 before
    the crash, so the restarted query re-executes exactly that row
    range (not a fresh split of the remainder); the commit log shows
    batches 0-1 done, so they are NOT replayed; the sink's
    batch_id-keyed append stays idempotent either way. This is the
    recovery contract a 100 TB ingest job leans on when an executor
    OOMs halfway — rows land once, provably (the oracle hash-checks
    the final table against a from-scratch recomputation).
    """
    import glob
    import shutil

    from ..sources.pydatasource import register
    from ..streaming.event_windows import _COUNTER

    register(spark)
    base = run_dir("stream_recovery", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    ckpt, out = f"{base}/checkpoint", f"{base}/out"
    seen: list[int] = []

    def make_sink(crash_at: int | None):
        def sink(batch_df, batch_id: int) -> None:
            if batch_id == crash_at:
                raise RuntimeError("planted crash before batch commit")
            seen.append(batch_id)
            # batch_id-keyed subdir: replays overwrite, never double-append
            (batch_df.groupBy((F.col("user_id") % 10).alias("user_bucket"))
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.sum(F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")).alias("total_cents"))
             .write.mode("overwrite").parquet(f"{out}/batch_id={batch_id}"))
        return sink

    def run(crash_at: int | None) -> None:
        name = f"stream_recover_{next(_COUNTER)}"
        df = (
            spark.readStream.format("synthetic_events")
            .option("n_rows", 2000).option("batch_rows", 500).load()
        )
        q = (df.writeStream.foreachBatch(make_sink(crash_at))
             .option("checkpointLocation", ckpt).queryName(name).start())
        try:
            q.processAllAvailable()
        except Exception:
            pass  # the planted crash surfaces here on the first run
        finally:
            q.stop()

    run(crash_at=2)
    first_run = sorted(seen)
    assert 2 not in first_run, f"batch 2 committed despite crash: {first_run}"
    run(crash_at=None)
    assert sorted(set(seen)) == [0, 1, 2, 3], f"bad batch coverage: {sorted(seen)}"
    assert len(glob.glob(f"{out}/batch_id=*")) == 4
    back = spark.read.parquet(out)
    return (
        back.groupBy("user_bucket")
        .agg(F.sum("n_events").alias("n_events"), F.sum("total_cents").alias("total_cents"))
        .orderBy("user_bucket")
    )


@query(
    "multimodal_resize_meta",
    oracle="""
    WITH geo AS (
        SELECT doc_id,
               GREATEST(octet_length(encode(text)) % 640, 1) AS w,
               GREATEST(octet_length(encode(text)) % 480, 1) AS h
        FROM documents
    )
    SELECT doc_id,
           CAST(224 AS INTEGER) AS width,
           CAST(round_even(h * (224.0 / w), 0) AS INTEGER) AS height,
           CAST(floor(round_even(224.0 / w, 6) * 1000000.0 + 0.5) AS BIGINT) AS scale_ppm
    FROM geo
    ORDER BY doc_id
    """,
)
def multimodal_resize_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second multimodal stage: decode → aspect-preserving resize as TWO
    chained mapInPandas passes (Arrow in, Arrow out, no shuffle between
    them) — the registry entry for `operators/multimodal.resize_metadata`,
    previously exercised only by unit tests.

    Cross-engine rounding: numpy's .round() is half-to-even, so the
    oracle uses DuckDB round_even for the height; the float scale is
    published as integer MICRO-UNITS (floor(x*1e6+0.5) over the
    already-6-rounded value) — the snap-to-grid makes a 1-ulp
    discrepancy between the two engines' rounding paths unobservable,
    the repo's standard defense for Python-side float output.
    """
    from ..operators.multimodal import (
        attach_binary_payload, decode_media, resize_metadata,
    )

    docs = load_table(spark, sf_dir, "documents")
    resized = resize_metadata(decode_media(attach_binary_payload(docs)))
    return resized.select(
        "doc_id", "width", "height",
        F.floor(F.col("scale") * 1e6 + F.lit(0.5)).cast("long").alias("scale_ppm"),
    ).orderBy("doc_id")


@query(
    "streaming_available_now",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           floor((SUM(value)) * 100.0 + 0.5) / 100.0 AS total_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)  # AvailableNow drains the staged multi-file backlog in rate-limited
# micro-batches and self-terminates; the final complete-mode snapshot is
# deterministic, so the driver hash applies.
def streaming_available_now_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigger.AvailableNow backfill drain (multi micro-batch, rate-limited,
    self-terminating); totals certified against the batch aggregate."""
    from ..streaming.event_windows import streaming_available_now_backfill

    return streaming_available_now_backfill(spark, sf_dir)


@query(
    "sketch_quantile_error_bound",
    oracle=f"""
    WITH e AS (
        SELECT quantile_cont(l_extendedprice, 0.49) AS lo50,
               quantile_cont(l_extendedprice, 0.50) AS p50,
               quantile_cont(l_extendedprice, 0.51) AS hi50,
               quantile_cont(l_extendedprice, 0.94) AS lo95,
               quantile_cont(l_extendedprice, 0.95) AS p95,
               quantile_cont(l_extendedprice, 0.96) AS hi95
        FROM lineitem
    )
    SELECT CAST(0.5 AS DOUBLE) AS p, {dround('p50', 4)} AS exact_value, TRUE AS approx_in_band FROM e
    UNION ALL
    SELECT CAST(0.95 AS DOUBLE), {dround('p95', 4)}, TRUE FROM e
    ORDER BY p
    """,
)
def sketch_quantile_error_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certified approximate quantiles: `percentile_approx` (mergeable
    sketch — the 100 TB quantile path) audited against the EXACT
    interpolated percentile, with the acceptance band expressed in RANK
    space (the sketch's actual guarantee): the approx p-quantile must
    land between the exact (p−0.01)- and (p+0.01)-quantiles. With
    accuracy=10000 the rank error is ≤ 1e-4 ≪ 0.01, so the flag is
    deterministically TRUE on both engines — the oracle certifies the
    exact values and the CONTRACT, the Spark side additionally proves
    its sketch satisfies it.

    Value-space |approx − exact| tolerances are the wrong audit (dense
    regions make them vacuous, sparse ones impossible); rank bands are
    scale-free.
    """
    li = load_table(spark, sf_dir, "lineitem")
    stats = li.agg(
        F.percentile("l_extendedprice", 0.49).alias("lo50"),
        F.percentile("l_extendedprice", 0.50).alias("p50"),
        F.percentile("l_extendedprice", 0.51).alias("hi50"),
        F.percentile("l_extendedprice", 0.94).alias("lo95"),
        F.percentile("l_extendedprice", 0.95).alias("p95"),
        F.percentile("l_extendedprice", 0.96).alias("hi95"),
        F.percentile_approx("l_extendedprice", 0.50, 10000).alias("a50"),
        F.percentile_approx("l_extendedprice", 0.95, 10000).alias("a95"),
    )
    half = stats.select(
        F.lit(0.5).alias("p"),
        hround(F.col("p50"), 4).alias("exact_value"),
        ((F.col("a50") >= F.col("lo50")) & (F.col("a50") <= F.col("hi50"))).alias(
            "approx_in_band"
        ),
    )
    p95 = stats.select(
        F.lit(0.95).alias("p"),
        hround(F.col("p95"), 4).alias("exact_value"),
        ((F.col("a95") >= F.col("lo95")) & (F.col("a95") <= F.col("hi95"))).alias(
            "approx_in_band"
        ),
    )
    return half.unionByName(p95).orderBy("p")


# Expression-level Bloom filter: m = 8 lanes × 62 bits = 496 positions,
# k = 4 md5-derived hashes (shift stays ≤ 61, so lane masks never touch
# the sign bit — identical BIGINT semantics on both engines).
_BLOOM_LANES = 8
_BLOOM_BITS = 62
_BLOOM_M = _BLOOM_LANES * _BLOOM_BITS
_BLOOM_K = 4


def _bloom_duck(key: str, i: str) -> str:
    return (
        f"CAST(CAST(('0x' || substr(md5(CAST({i} AS VARCHAR) || '#' || "
        f"CAST({key} AS VARCHAR)), 1, 6)) AS BIGINT) AS BIGINT) % {_BLOOM_M}"
    )


@query(
    "sketch_bloom_prefilter",
    oracle=f"""
    WITH members AS (
        SELECT p_partkey AS key FROM part WHERE p_size > 48
    ), mpos AS (
        SELECT DISTINCT ({_bloom_duck('key', 'i')}) AS p
        FROM members, UNNEST([0, 1, 2, 3]) AS t(i)
    ), bloom AS (
        SELECT p // {_BLOOM_BITS} AS lane,
               bit_or(CAST(1 AS BIGINT) << CAST(p % {_BLOOM_BITS} AS INT)) AS bits
        FROM mpos GROUP BY 1
    ), probes AS (
        SELECT DISTINCT l_partkey AS key FROM lineitem
    ), ppos AS (
        SELECT key, ({_bloom_duck('key', 'i')}) AS p
        FROM probes, UNNEST([0, 1, 2, 3]) AS t(i)
    ), verdict AS (
        SELECT ppos.key,
               bool_and(COALESCE(
                   (bloom.bits & (CAST(1 AS BIGINT) << CAST(ppos.p % {_BLOOM_BITS} AS INT))) <> 0,
                   FALSE)) AS pass
        FROM ppos LEFT JOIN bloom ON ppos.p // {_BLOOM_BITS} = bloom.lane
        GROUP BY ppos.key
    ), truth AS (
        SELECT v.key, v.pass, (m.key IS NOT NULL) AS is_member
        FROM verdict v LEFT JOIN members m ON v.key = m.key
    )
    SELECT (SELECT COUNT(*) FROM members) AS n_members,
           COUNT(*) AS n_probes,
           CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_true_members,
           CAST(SUM(CASE WHEN pass AND NOT is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_false_positives,
           floor((CAST(SUM(CASE WHEN pass AND NOT is_member THEN 1 ELSE 0 END) AS DOUBLE)
                  / SUM(CASE WHEN NOT is_member THEN 1 ELSE 0 END)) * 1000000.0 + 0.5) / 1000000.0 AS fp_rate
    FROM truth
    """,
)
def sketch_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefilter join built from pure relational expressions — the
    pattern that cuts a 100 TB probe-side scan down before an expensive
    join: build a 496-bit Bloom filter (4 md5-derived hashes, 8×62-bit
    BIGINT lanes folded with bit_or) over the FILTERED build side
    (p_size > 48), broadcast its 8 lane rows, and pass only probe keys
    whose 4 bits are all set. The audit joins the verdict against exact
    membership: zero false negatives BY CONSTRUCTION (unit-asserted),
    and the measured false-positive rate lands near the textbook
    (1−e^(−kn/m))^k ≈ 4-5% for n=75.

    Spark 4's builtin bloom_filter_agg/might_contain is not a public SQL
    routine in this build (docs/ROUND_NOTES.md) — this entry IS the
    public-API equivalent, and being md5-based it is cross-engine
    hash-checkable, which no opaque sketch blob can be.
    """
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    members = part.filter(F.col("p_size") > 48).select(F.col("p_partkey").alias("key"))

    def pos(i: int):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{i}#"), F.col("key").cast("string"))), 1, 6
                ),
                16,
                10,
            ).cast("long")
            % _BLOOM_M
        )

    mpos = members.select(
        F.explode(F.array(*[pos(i) for i in range(_BLOOM_K)])).alias("p")
    ).distinct()
    bloom = (
        mpos.select(
            (F.col("p") / _BLOOM_BITS).cast("long").alias("lane"),
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(p % {_BLOOM_BITS} AS INT))").alias("m"),
        )
        .groupBy("lane")
        .agg(F.bit_or("m").alias("bits"))
    )
    probes = li.select(F.col("l_partkey").alias("key")).distinct()
    ppos = probes.select(
        "key", F.explode(F.array(*[pos(i) for i in range(_BLOOM_K)])).alias("p")
    )
    verdict = (
        ppos.join(F.broadcast(bloom), (F.col("p") / _BLOOM_BITS).cast("long") == F.col("lane"), "left")
        .select(
            "key",
            F.coalesce(
                F.expr(f"(bits & shiftleft(CAST(1 AS BIGINT), CAST(p % {_BLOOM_BITS} AS INT))) <> 0"),
                F.lit(False),
            ).alias("hit"),
        )
        .groupBy("key")
        .agg(F.min("hit").alias("pass"))
    )
    truth = verdict.join(
        F.broadcast(members.withColumn("is_member", F.lit(True))), "key", "left"
    ).select("key", "pass", F.coalesce("is_member", F.lit(False)).alias("is_member"))
    n_members = members.count()
    return truth.agg(
        F.lit(n_members).cast("long").alias("n_members"),
        F.count(F.lit(1)).alias("n_probes"),
        F.sum(F.col("pass").cast("long")).alias("n_pass"),
        F.sum(F.col("is_member").cast("long")).alias("n_true_members"),
        F.sum((F.col("pass") & ~F.col("is_member")).cast("long")).alias("n_false_positives"),
        hround(
            F.sum((F.col("pass") & ~F.col("is_member")).cast("double"))
            / F.sum((~F.col("is_member")).cast("double")),
            6,
        ).alias("fp_rate"),
    )


_CMS_W = 64
_CMS_D = 4


def _cms_duck(key: str, i: str) -> str:
    return (
        f"CAST(CAST(('0x' || substr(md5(CAST({i} AS VARCHAR) || '@' || "
        f"CAST({key} AS VARCHAR)), 1, 6)) AS BIGINT) AS BIGINT) % {_CMS_W}"
    )


@query(
    "sketch_countmin_user_counts",
    oracle=f"""
    WITH pairs AS (
        SELECT ({_cms_duck('user_id', 'i')}) AS b, i
        FROM events, UNNEST([0, 1, 2, 3]) AS t(i)
    ), sketch AS (
        SELECT i, b, COUNT(*) AS c FROM pairs GROUP BY i, b
    ), truth AS (
        SELECT user_id, COUNT(*) AS true_n FROM events GROUP BY user_id
    ), ppos AS (
        SELECT user_id, true_n, i, ({_cms_duck('user_id', 'i')}) AS b
        FROM truth, UNNEST([0, 1, 2, 3]) AS t(i)
    ), est AS (
        SELECT p.user_id, p.true_n, MIN(s.c) AS est_n
        FROM ppos p JOIN sketch s ON p.i = s.i AND p.b = s.b
        GROUP BY p.user_id, p.true_n
    )
    SELECT COUNT(*) AS n_keys,
           CAST(SUM(CASE WHEN est_n = true_n THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
           CAST(MIN(est_n - true_n) AS BIGINT) AS min_overestimate,
           CAST(MAX(est_n - true_n) AS BIGINT) AS max_overestimate,
           CAST(SUM(est_n - true_n) AS BIGINT) AS total_overestimate
    FROM est
    """,
)
def sketch_countmin_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch from relational primitives — the mergeable
    heavy-hitter counter: d=4 md5-derived hash rows × w=64 buckets
    (deliberately < |users| so collisions are visible), each bucket a
    plain COUNT, the estimate the MIN across rows. The audit joins
    estimates against exact per-user counts: CMS can only OVERcount
    (est ≥ truth — unit-asserted), and the overestimate profile shows
    the ε≈e/w error behaving as advertised.

    Scale shape: build is one groupBy over (row, bucket) — 256 cells
    regardless of stream size, partial-aggregatable, mergeable across
    shards by cell-wise addition (the same property `sketch_shard_merge`
    exploits for HLL). Probe side broadcasts the 256-cell sketch.
    All-integer outputs — no float rounding anywhere.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id")

    def bucket(i: int, key="user_id"):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{i}@"), F.col(key).cast("string"))), 1, 6
                ),
                16,
                10,
            ).cast("long")
            % _CMS_W
        )

    pairs = ev.select(
        F.explode(
            F.array(*[
                F.struct(F.lit(i).alias("i"), bucket(i).alias("b"))
                for i in range(_CMS_D)
            ])
        ).alias("ib")
    ).select("ib.i", "ib.b")
    sketch = pairs.groupBy("i", "b").agg(F.count(F.lit(1)).alias("c"))
    truth = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_n"))
    ppos = truth.select(
        "user_id",
        "true_n",
        F.explode(
            F.array(*[
                F.struct(F.lit(i).alias("i"), bucket(i).alias("b"))
                for i in range(_CMS_D)
            ])
        ).alias("ib"),
    ).select("user_id", "true_n", "ib.i", "ib.b")
    est = (
        ppos.join(F.broadcast(sketch), ["i", "b"])
        .groupBy("user_id", "true_n")
        .agg(F.min("c").alias("est_n"))
    )
    return est.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum((F.col("est_n") == F.col("true_n")).cast("long")).alias("n_exact"),
        F.min(F.col("est_n") - F.col("true_n")).alias("min_overestimate"),
        F.max(F.col("est_n") - F.col("true_n")).alias("max_overestimate"),
        F.sum(F.col("est_n") - F.col("true_n")).alias("total_overestimate"),
    )


@query(
    "streaming_late_data_accounting",
    scale_class="certification",
    oracle="""
    WITH synth AS (
        SELECT range AS event_id,
               1704067200 + range * 60
                 - CASE WHEN range % 37 = 0 THEN 40000 ELSE 0 END AS es,
               range // 500 AS batch
        FROM range(0, 2000)
    ), batch_max AS (
        SELECT batch, MAX(es) AS mx FROM synth GROUP BY batch
    ), wm AS (
        SELECT batch,
               COALESCE(MAX(mx) OVER (ORDER BY batch
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 2 PRECEDING) - 1800, 0) AS w
        FROM batch_max
    ), kept AS (
        SELECT s.es
        FROM synth s JOIN wm ON s.batch = wm.batch
        WHERE (s.es // 600) * 600 + 600 > wm.w
    )
    SELECT strftime(to_timestamp((es // 600) * 600), '%Y-%m-%d %H:%M:%S')
               AS window_start,
           COUNT(*) AS n_events
    FROM kept GROUP BY 1 ORDER BY window_start
    """,
)
def streaming_late_data_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data DROP semantics, certified: a deterministic
    stream where every 37th event arrives ~11 hours late in event time
    (beyond one micro-batch's span PLUS the watermark's one-batch
    grace — a 3h plant drops nothing, which is itself part of the
    finding); with a 30-minute watermark over 10-minute windows, a
    late row is dropped iff its window had already been finalized when
    its micro-batch ran — and which rows those are depends on
    watermark STATE (the first ~126 ids of each batch drop, later ids
    of the SAME batch land in still-open windows), not on a static
    rule.

    The oracle replays Spark's exact watermark protocol in SQL, and
    parity EMPIRICALLY pinned a subtlety the docs gloss over: the
    watermark active while micro-batch b executes reflects event times
    through batch b-2, not b-1 — batch b-1's maximum is folded into
    the watermark only when the following batch is planned, so late
    data gets one extra batch of grace. (Modeling it as b-1 fails the
    hash on exactly the rows in that grace window.) Eviction boundary:
    window_end > watermark keeps the row; watermark starts at epoch 0
    and is monotone. Update-mode foreachBatch
    appends per-batch window counts; counts are monotone per window, so
    MAX over updates is the final state. The remaining streaming
    entries all feed in-order data and never exercise the drop path —
    this one exists to pin it.
    """
    import shutil

    from ..sources.pydatasource import register
    from ..streaming.event_windows import _COUNTER

    register(spark)
    base = run_dir("stream_late", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    ckpt, out = f"{base}/checkpoint", f"{base}/out"
    stream = (
        spark.readStream.format("synthetic_events")
        .option("n_rows", 2000)
        .option("batch_rows", 500)
        .load()
        .select(
            F.timestamp_seconds(
                F.lit(1704067200)
                + F.col("event_id") * 60
                - F.when(F.col("event_id") % 37 == 0, 40000).otherwise(0)
            ).alias("ts")
        )
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n",
        )
    )

    def sink(batch_df, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out}/batch_id={batch_id}")

    q = (
        stream.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .queryName(f"stream_late_{next(_COUNTER)}")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    back = spark.read.parquet(out)
    return (
        back.groupBy("window_start")
        .agg(F.max("n").alias("n_events"))
        .orderBy("window_start")
    )


HIST_SHARDS = 8
HIST_BINS = 64


def _hist_quantile_oracle() -> str:
    # est = lo + width * (bin + (target - cum_before) / c) with all
    # inputs derived from exact integer counts and the shared (lo, hi)
    # broadcast — identical double math on both engines.
    est = (
        "lo + width * (cum.bin + (({q} * n - cw + c) / c))"
    )
    pick = (
        "SELECT MIN(bin) AS bin FROM cum, bounds WHERE cw >= {q} * n"
    )
    return f"""
    WITH bounds AS MATERIALIZED (
        SELECT MIN(value) AS lo, MAX(value) AS hi,
               CAST(COUNT(*) AS DOUBLE) AS n,
               (MAX(value) - MIN(value)) / {HIST_BINS}.0 AS width
        FROM events
    ), binned AS (
        SELECT CASE WHEN width = 0 THEN 0
                    ELSE LEAST(CAST(floor((value - lo) / width) AS BIGINT),
                               {HIST_BINS - 1}) END AS bin,
               CAST(CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 6))
                    AS BIGINT) % {HIST_SHARDS} AS BIGINT) AS shard
        FROM events, bounds
    ), shard_hists AS MATERIALIZED (
        SELECT shard, bin, COUNT(*) AS c FROM binned GROUP BY shard, bin
    ), shard_sig AS MATERIALIZED (
        SELECT CAST(SUM((shard * {HIST_BINS} + bin + 1) * c) AS BIGINT)
               AS shard_checksum
        FROM shard_hists
    ), merged AS MATERIALIZED (
        SELECT bin, CAST(SUM(c) AS DOUBLE) AS c FROM shard_hists GROUP BY bin
    ), cum AS MATERIALIZED (
        SELECT bin, c, SUM(c) OVER (ORDER BY bin) AS cw FROM merged
    ), picks AS (
        SELECT 'p50' AS stat, CAST(0.5 AS DOUBLE) AS q,
               ({pick.format(q='0.5')}) AS bin
        UNION ALL
        SELECT 'p90' AS stat, CAST(0.9 AS DOUBLE) AS q,
               ({pick.format(q='0.9')}) AS bin
    ), ests AS (
        SELECT p.stat,
               CASE WHEN b.width = 0 THEN b.lo
                    ELSE {est.format(q='p.q')} END AS est,
               b.width
        FROM picks p
        JOIN cum ON cum.bin = p.bin
        CROSS JOIN bounds b
    ), exact AS (
        SELECT quantile_cont(value, CAST(0.5 AS DOUBLE)) AS x50,
               quantile_cont(value, CAST(0.9 AS DOUBLE)) AS x90
        FROM events
    )
    SELECT e.stat,
           {dround('e.est', 6)} AS est,
           {dround("CASE WHEN e.stat = 'p50' THEN x.x50 ELSE x.x90 END", 6)} AS exact,
           {dround('e.width', 6)} AS bin_width,
           abs(e.est - CASE WHEN e.stat = 'p50' THEN x.x50 ELSE x.x90 END)
             <= e.width + 1e-9 AS within_bound,
           s.shard_checksum
    FROM ests e CROSS JOIN exact x CROSS JOIN shard_sig s
    ORDER BY e.stat
    """


@query("sketch_histogram_shard_quantiles", oracle=_hist_quantile_oracle())
def sketch_histogram_shard_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable equi-width histogram quantiles with an explicit
    shard-merge step: each of 8 salted-md5 hash shards (the SAME
    deterministic shard function on both engines — r7 ADVICE) builds
    its own 64-bin histogram of events.value, the shard histograms are
    merged by plain per-bin addition (histograms are mergeable BY
    CONSTRUCTION — the property `sketch_shard_merge` certifies for HLL
    and this entry certifies for quantiles), and p50/p90 are read off
    the merged cumulative histogram by within-bin linear interpolation.
    The `shard_checksum` column (position-weighted sum over the
    (shard, bin, count) cells) makes the shard SPLIT itself
    hash-checked cross-engine, not only the shard-invariant merge.

    The certification column is the point: |est − exact| ≤ bin_width is
    a GUARANTEE of the equi-width construction (the true quantile lies
    in the picked bin; interpolation can only move within it), checked
    against the exact interpolated percentile on the same data. That
    differs from `sketch_quantile_error_bound`, which certifies
    approx_percentile's KLL RANK-space ε — this one is value-space,
    distribution-sensitive (a heavy-tailed value column widens bins),
    and exactly reproducible cross-engine because every input to the
    estimate is an integer count or the shared (min, max) broadcast.

    At 100 TB the two grouped aggregates ARE the full cost: one pass to
    (shard, bin) cells (map-side combinable), one |shards|x|bins| merge
    — the same plan shape keeps working when 'shard' means 'executor'
    or 'day partition', which is how warehouse rollups maintain
    streaming quantile dashboards without re-scanning history.
    """
    events = load_table(spark, sf_dir, "events")
    bounds = events.agg(
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        F.count(F.lit(1)).cast("double").alias("n"),
        ((F.max("value") - F.min("value")) / F.lit(float(HIST_BINS))).alias("width"),
    )
    binned = events.crossJoin(F.broadcast(bounds)).select(
        F.when(F.col("width") == 0, F.lit(0))
        .otherwise(
            F.least(
                F.floor((F.col("value") - F.col("lo")) / F.col("width")).cast("bigint"),
                F.lit(HIST_BINS - 1),
            )
        )
        .alias("bin"),
        # Salted-md5 shard (the registry idiom): the SAME deterministic
        # shard function on both engines, so the shard split itself is
        # cross-checked — not just the shard-invariant merged histogram.
        (
            F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 6), 16, 10)
            .cast("long")
            % HIST_SHARDS
        ).alias("shard"),
    )
    shard_hists = binned.groupBy("shard", "bin").agg(F.count(F.lit(1)).alias("c"))
    # Cross-engine witness of the shard SPLIT itself: a position-weighted
    # checksum over the (shard, bin, c) cells. Two different splits with
    # the same merged histogram produce different checksums.
    shard_sig = shard_hists.agg(
        F.sum((F.col("shard") * HIST_BINS + F.col("bin") + 1) * F.col("c"))
        .cast("bigint")
        .alias("shard_checksum")
    )
    merged = shard_hists.groupBy("bin").agg(F.sum("c").cast("double").alias("c"))
    cum = checkpoint(merged.select(
        "bin",
        "c",
        F.sum("c").over(Window.orderBy("bin")).alias("cw"),  # 64 rows
    ))  # referenced once per stat
    exact = events.agg(
        F.percentile("value", F.lit(0.5)).alias("x50"),
        F.percentile("value", F.lit(0.9)).alias("x90"),
    )
    frames: list[DataFrame] = []
    for stat, q in [("p50", 0.5), ("p90", 0.9)]:
        pick = cum.crossJoin(F.broadcast(bounds.select("n"))).filter(
            F.col("cw") >= F.lit(q) * F.col("n")
        ).agg(F.min("bin").alias("bin"))
        est_expr = F.when(F.col("width") == 0, F.col("lo")).otherwise(
            F.col("lo")
            + F.col("width")
            * (
                F.col("bin")
                + (F.lit(q) * F.col("n") - F.col("cw") + F.col("c")) / F.col("c")
            )
        )
        frames.append(
            cum.join(F.broadcast(pick), "bin")
            .crossJoin(F.broadcast(bounds))
            .crossJoin(F.broadcast(exact))
            .crossJoin(F.broadcast(shard_sig))
            .select(
                F.lit(stat).alias("stat"),
                hround(est_expr, 6).alias("est"),
                hround(F.col("x50") if stat == "p50" else F.col("x90"), 6).alias(
                    "exact"
                ),
                hround("width", 6).alias("bin_width"),
                (
                    F.abs(
                        est_expr
                        - (F.col("x50") if stat == "p50" else F.col("x90"))
                    )
                    <= F.col("width") + F.lit(1e-9)
                ).alias("within_bound"),
                F.col("shard_checksum"),
            )
        )
    return frames[0].unionByName(frames[1]).orderBy("stat")


AMS_DRAWS = 8


def _ams_oracle() -> str:
    # sign draw d for user u: +1/-1 from bit d of the md5 of the user id
    # (salt 'ams') — 2-universal enough for the estimator's mean to be
    # F2, deterministic on both engines.
    sign = (
        "CASE WHEN (CAST(('0x' || substr(md5('ams' || CAST(user_id AS VARCHAR)), 1, 8))"
        " AS BIGINT) >> {d}) % 2 = 0 THEN 1.0 ELSE -1.0 END"
    )
    draws = ",\n               ".join(
        f"SUM({sign.format(d=d)}) AS s{d}" for d in range(AMS_DRAWS)
    )
    sq = " + ".join(f"s{d} * s{d}" for d in range(AMS_DRAWS))
    return f"""
    WITH sketch AS (
        SELECT {draws}
        FROM events
    ), exact AS (
        SELECT SUM(c * c) AS f2, CAST(COUNT(*) AS BIGINT) AS n_keys
        FROM (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM events GROUP BY user_id)
    )
    SELECT e.n_keys,
           CAST(e.f2 AS BIGINT) AS exact_f2,
           CAST(floor(({sq}) / {AMS_DRAWS}.0) AS BIGINT) AS est_f2,
           {dround(f'abs(({sq}) / {AMS_DRAWS}.0 - e.f2) / e.f2', 6)} AS rel_error
    FROM sketch, exact e
    """


@query("sketch_ams_second_moment", oracle=_ams_oracle())
def sketch_ams_second_moment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS (Alon–Matias–Szegedy) second frequency moment estimator:
    F2 = Σ_u c_u² of the per-user event counts, estimated WITHOUT
    grouping by user — each of 8 sign draws keeps one running sum
    Σ s(u) per event (s(u) = ±1 from an md5 bit of the user id), and
    E[(Σ s(u))²] = F2. The whole sketch is ONE ungrouped aggregate of 8
    map-combinable sums over the raw stream: the self-join size / skew
    statistic (`diagnose_key_skew` computes it exactly via groupBy)
    measured with O(1) state per partition — the estimator that
    motivated the streaming-sketch literature, completing the ladder
    next to HLL (F0), Count-Min (point counts), and KLL (quantiles).

    All draws are deterministic md5 bits (salt 'ams'), so est and
    rel_error are hash-checkable; the exact F2 is computed alongside
    and the honest relative error reported (AMS has no per-instance
    bound — the guarantee is on the variance across draws; averaging
    8 draws keeps the typical error under ~1/sqrt(8) ≈ 35%). At 100 TB
    the exact side costs a |users| shuffle while the sketch costs
    none — that asymmetry is the entry's point.
    """
    events = load_table(spark, sf_dir, "events")
    h32 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("ams"), F.col("user_id").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    draws = [
        F.sum(
            F.when(F.shiftright(h32, d) % 2 == 0, 1.0).otherwise(-1.0)
        ).alias(f"s{d}")
        for d in range(AMS_DRAWS)
    ]
    sketch = events.agg(*draws)
    exact = (
        events.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
        .agg(
            F.sum(F.col("c") * F.col("c")).alias("f2"),
            F.count(F.lit(1)).alias("n_keys"),
        )
    )
    sq = None
    for d in range(AMS_DRAWS):
        term = F.col(f"s{d}") * F.col(f"s{d}")
        sq = term if sq is None else sq + term
    est = sq / F.lit(float(AMS_DRAWS))
    return sketch.crossJoin(F.broadcast(exact)).select(
        "n_keys",
        F.col("f2").cast("bigint").alias("exact_f2"),
        F.floor(est).cast("bigint").alias("est_f2"),  # floor, not CAST-round (r4 trap)
        hround(F.abs(est - F.col("f2")) / F.col("f2"), 6).alias("rel_error"),
    )


KMV_K = 64
_KMV_H = (
    "CAST(CAST(('0x' || substr(md5('kmv' || CAST(user_id AS VARCHAR)), 1, 12))"
    " AS BIGINT) AS DOUBLE) / 281474976710656.0"
)


def _kmv_oracle() -> str:
    return f"""
    WITH uh AS MATERIALIZED (
        SELECT DISTINCT event_type, user_id, {_KMV_H} AS h
        FROM events
    ), sk AS MATERIALIZED (
        SELECT event_type, user_id, h
        FROM (
            SELECT event_type, user_id, h,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY h, user_id) AS rn
            FROM uh
        ) WHERE rn <= {KMV_K}
    ), pairs AS (
        SELECT a.event_type AS ta, b.event_type AS tb
        FROM (SELECT DISTINCT event_type FROM sk) a
        JOIN (SELECT DISTINCT event_type FROM sk) b ON a.event_type < b.event_type
    ), merged AS (
        SELECT p.ta, p.tb, s.user_id, s.h,
               MAX(CASE WHEN s.event_type = p.ta THEN 1 ELSE 0 END) AS in_a,
               MAX(CASE WHEN s.event_type = p.tb THEN 1 ELSE 0 END) AS in_b
        FROM pairs p
        JOIN sk s ON s.event_type = p.ta OR s.event_type = p.tb
        GROUP BY p.ta, p.tb, s.user_id, s.h
    ), ranked AS (
        SELECT ta, tb, in_a, in_b,
               ROW_NUMBER() OVER (PARTITION BY ta, tb ORDER BY h, user_id) AS rn
        FROM merged
    ), est AS (
        SELECT ta, tb,
               CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / LEAST(COUNT(*), {KMV_K}) AS j_est
        FROM ranked WHERE rn <= {KMV_K}
        GROUP BY ta, tb
    ), exact AS (
        SELECT a.ta, a.tb,
               CAST(COUNT(CASE WHEN a.cnt = 2 THEN 1 END) AS DOUBLE)
                 / COUNT(*) AS j_true
        FROM (
            SELECT p.ta, p.tb, u.user_id, COUNT(DISTINCT u.event_type) AS cnt
            FROM pairs p
            JOIN uh u ON u.event_type = p.ta OR u.event_type = p.tb
            GROUP BY p.ta, p.tb, u.user_id
        ) a
        GROUP BY a.ta, a.tb
    )
    SELECT e.ta AS type_a, e.tb AS type_b,
           {dround('e.j_est', 6)} AS jaccard_est,
           {dround('x.j_true', 6)} AS jaccard_true,
           {dround('abs(e.j_est - x.j_true)', 6)} AS abs_err
    FROM est e JOIN exact x ON e.ta = x.ta AND e.tb = x.tb
    ORDER BY type_a, type_b
    """


@query("sketch_kmv_audience_overlap", oracle=_kmv_oracle())
def sketch_kmv_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) audience-overlap sketches: per event
    type, keep the 64 smallest md5-derived hashes of its distinct
    users; estimate every pair's user-set Jaccard as the fraction of
    the UNION'S k smallest hashes present in both sketches — the
    classic Beyer et al. distinct-value sketch, and the one sketch
    family (set-intersection capable) still missing from the ladder
    (HLL = F0, AMS = F2, Count-Min = point counts, KLL = quantiles,
    Bloom = membership). Reported against the exact Jaccard with the
    honest per-pair absolute error.

    Scale shape: the per-type k-min is rank<=k over a window
    partitioned by type — Spark compiles it to WindowGroupLimit with a
    PARTIAL pass (per-task heaps before the shuffle, verified in the
    lateral entry's plan), so no type's full user set is ever sorted
    in one place; everything after operates on <=k rows per type.
    Union-of-sketches k-min is valid KMV algebra (min-k of a union is
    computable from the per-set min-k's), which is exactly why
    production systems can merge per-partition sketches. LEAST(n, k)
    in the denominator keeps small sets exact instead of biased.
    Hashes are content-addressed (salt 'kmv'), so both engines build
    byte-identical sketches and the whole estimate is hash-checkable.
    """
    events = load_table(spark, sf_dir, "events")
    h = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("kmv"), F.col("user_id").cast("string"))), 1, 12
            ),
            16,
            10,
        ).cast("bigint").cast("double")
        / F.lit(281474976710656.0)
    )
    uh = checkpoint(  # feeds sketches AND exact overlap
        events.select("event_type", "user_id")
        .distinct()
        .select("event_type", "user_id", h.alias("h"))
    )
    w = Window.partitionBy("event_type").orderBy("h", "user_id")
    sk = checkpoint(
        uh.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KMV_K)
        .drop("rn")
    )
    types = sk.select("event_type").distinct()
    pairs = (
        types.select(F.col("event_type").alias("ta"))
        .join(types.select(F.col("event_type").alias("tb")), F.col("ta") < F.col("tb"))
    )
    merged = (
        pairs.join(
            sk,
            (sk.event_type == F.col("ta")) | (sk.event_type == F.col("tb")),
        )
        .groupBy("ta", "tb", "user_id", "h")
        .agg(
            F.max(F.when(F.col("event_type") == F.col("ta"), 1).otherwise(0)).alias("in_a"),
            F.max(F.when(F.col("event_type") == F.col("tb"), 1).otherwise(0)).alias("in_b"),
        )
    )
    wr = Window.partitionBy("ta", "tb").orderBy("h", "user_id")
    est = (
        merged.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= KMV_K)
        .groupBy("ta", "tb")
        .agg(
            (
                F.sum(
                    F.when((F.col("in_a") == 1) & (F.col("in_b") == 1), 1).otherwise(0)
                ).cast("double")
                / F.least(F.count(F.lit(1)), F.lit(KMV_K))
            ).alias("j_est")
        )
    )
    per_user = (
        pairs.join(
            uh,
            (uh.event_type == F.col("ta")) | (uh.event_type == F.col("tb")),
        )
        .groupBy("ta", "tb", "user_id")
        .agg(F.count_distinct("event_type").alias("cnt"))
    )
    exact = per_user.groupBy("ta", "tb").agg(
        (
            F.sum(F.when(F.col("cnt") == 2, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("j_true")
    )
    return (
        est.join(exact, ["ta", "tb"])
        .select(
            F.col("ta").alias("type_a"),
            F.col("tb").alias("type_b"),
            hround("j_est", 6).alias("jaccard_est"),
            hround("j_true", 6).alias("jaccard_true"),
            hround(F.abs(F.col("j_est") - F.col("j_true")), 6).alias("abs_err"),
        )
        .orderBy("type_a", "type_b")
    )
