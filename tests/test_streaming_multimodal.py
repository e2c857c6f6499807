"""Streaming batch/stream parity + multimodal binary-column plumbing."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

import hashlib

from bigdata_electricity_spark.operators.multimodal import attach_binary_payload, decode_media
from bigdata_electricity_spark.plans import REGISTRY
from bigdata_electricity_spark.streaming.event_windows import streaming_tumbling_counts

SF_DIR = "/root/testdata/sf0.001"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_streaming_tumbling_matches_batch(spark):
    # The streaming tumbling-window agg must produce exactly the batch
    # result — same windows, same counts, same rounded sums.
    stream = streaming_tumbling_counts(spark, SF_DIR)
    batch = REGISTRY["events_tumbling_10min"].fn(spark, SF_DIR)
    s = {tuple(r) for r in stream.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert s == b and len(s) > 0


def test_streaming_session_rows(spark):
    out = REGISTRY["streaming_session_window"].fn(spark, SF_DIR)
    rows = out.collect()
    assert len(rows) > 0
    assert {"user_id", "session_start", "n_events", "total_value"} <= set(out.columns)


def test_streaming_stateful_matches_batch_agg(spark):
    # One micro-batch over the static source → the final state per user
    # must equal the plain batch per-user aggregate.
    from pyspark.sql import functions as F

    from bigdata_electricity_spark.sources.loaders import load_table
    from bigdata_electricity_spark.streaming.event_windows import streaming_user_running_stats

    got = {r["user_id"]: r for r in streaming_user_running_stats(spark, SF_DIR).collect()}
    batch = {
        r["user_id"]: r
        for r in load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.floor(F.sum("value") * 100.0 + F.lit(0.5)) / 100.0).alias("total_value"),
            (F.floor(F.max("value") * 100.0 + F.lit(0.5)) / 100.0).alias("max_value"),
        )
        .collect()
    }
    assert set(got) == set(batch)
    for uid, b in batch.items():
        g = got[uid]
        assert (g["n_events"], g["total_value"], g["max_value"]) == (
            b["n_events"], b["total_value"], b["max_value"]), uid


def test_multimodal_decode_plumbing(spark):
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "xyz")], ["doc_id", "text"]
    )
    decoded = {r["doc_id"]: r for r in
               decode_media(attach_binary_payload(docs)).collect()}
    assert decoded[1]["n_bytes"] == 11
    assert decoded[2]["n_bytes"] == 3
    assert decoded[1]["fake_width"] == 11 and decoded[1]["fake_height"] == 11
    # Checksum is md5 of the payload bytes — verifiable outside Spark.
    assert decoded[2]["checksum"] == hashlib.md5(b"xyz").hexdigest()


def test_multimodal_binary_type(spark):
    docs = spark.createDataFrame([(1, "abc")], ["doc_id", "text"])
    out = attach_binary_payload(docs)
    assert dict(out.dtypes)["payload"] == "binary"


def test_multimodal_resize_stage(spark):
    from bigdata_electricity_spark.operators.multimodal import resize_metadata

    docs = spark.createDataFrame([(1, "x" * 100)], ["doc_id", "text"])
    decoded = decode_media(attach_binary_payload(docs))
    out = resize_metadata(decoded, target_width=224).first()
    # decode gives fake_width = 100 % 640 = 100 → scale 2.24.
    assert out["width"] == 224
    assert out["scale"] == 2.24
    assert out["height"] == round((100 % 480) * 2.24)


def test_multimodal_frame_sampling(spark):
    import hashlib

    from bigdata_electricity_spark.operators.multimodal import frame_sample

    text = "0123456789abcdef" * 8  # 8 'frames' of 16 bytes
    docs = spark.createDataFrame([(7, text)], ["doc_id", "text"])
    frames = frame_sample(attach_binary_payload(docs), every_n=4).collect()
    assert [f["frame_idx"] for f in frames] == [0, 4]
    raw = text.encode()
    assert frames[0]["frame_checksum"] == hashlib.md5(raw[0:16]).hexdigest()
    assert frames[1]["frame_checksum"] == hashlib.md5(raw[64:80]).hexdigest()


def test_streaming_static_join_matches_batch(spark):
    from pyspark.sql import functions as F

    from bigdata_electricity_spark.sources.loaders import load_table
    from bigdata_electricity_spark.streaming.event_windows import streaming_static_enrichment

    stream = streaming_static_enrichment(spark, SF_DIR)
    events = load_table(spark, SF_DIR, "events")
    customer = load_table(spark, SF_DIR, "customer")
    batch = (
        events.join(customer, events.user_id == customer.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 2).alias("total_value"))
    )
    assert {tuple(r) for r in stream.collect()} == {tuple(r) for r in batch.collect()}
    assert stream.count() > 0


def test_streaming_dedup_collapses_doubled_stream(spark):
    from pyspark.sql import functions as F

    from bigdata_electricity_spark.sources.loaders import load_table
    from bigdata_electricity_spark.streaming.event_windows import (
        streaming_dedup_within_watermark,
    )

    got = {tuple(r) for r in streaming_dedup_within_watermark(spark, SF_DIR).collect()}
    want = {
        tuple(r)
        for r in load_table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    # The 2× unioned stream must dedup back to exactly the batch counts.
    assert got == want


def test_stream_stream_join_matches_batch(spark):
    from pyspark.sql import functions as F

    from bigdata_electricity_spark.sources.loaders import load_table
    from bigdata_electricity_spark.streaming.event_windows import (
        streaming_stream_stream_join,
    )

    got = {tuple(r) for r in streaming_stream_stream_join(spark, SF_DIR).collect()}
    ev = load_table(spark, SF_DIR, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    want = {
        tuple(r)
        for r in views.join(
            purchases,
            (F.col("v_user") == F.col("p_user"))
            & (F.col("p_ts") > F.col("v_ts"))
            & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .groupBy(F.col("v_user").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want and len(got) > 0


def test_streaming_ohlc_matches_batch(spark):
    stream = REGISTRY["streaming_hourly_ohlc"].fn(spark, SF_DIR).collect()
    batch = REGISTRY["resample_events_hourly_ohlc"].fn(spark, SF_DIR).collect()
    assert [tuple(r) for r in stream] == [tuple(r) for r in batch]


def test_streaming_hourly_distinct_matches_batch_sketch(spark):
    from bigdata_electricity_spark.sources.loaders import load_table
    import pyspark.sql.functions as F

    stream = REGISTRY["streaming_distinct_users_hourly"].fn(spark, SF_DIR).collect()
    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("approx_users"),
             F.count(F.lit(1)).alias("n_events"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
                "approx_users", "n_events")
        .orderBy("hour_start")
        .collect()
    )
    assert [tuple(r) for r in stream] == [tuple(r) for r in batch]


def test_available_now_drains_in_rate_limited_batches(spark):
    """AvailableNow must (a) self-terminate, (b) respect maxFilesPerTrigger
    — the 8-file staged backlog at 2 files/trigger needs ≥3 data
    micro-batches — and (c) agree with the batch aggregate."""
    from bigdata_electricity_spark.streaming.event_windows import (
        streaming_available_now_backfill,
    )

    out, query = streaming_available_now_backfill(spark, SF_DIR, return_query=True)
    assert not query.isActive  # trigger terminated the query on its own
    n_batches = sum(
        1 for p in query.recentProgress if p["numInputRows"] and p["numInputRows"] > 0
    )
    assert n_batches >= 3, f"expected rate-limited multi-batch drain, got {n_batches}"
    rows = {tuple(r) for r in out.collect()}
    from bigdata_electricity_spark.sources.loaders import load_table
    import pyspark.sql.functions as F

    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.floor(F.sum("value") * 100.0 + F.lit(0.5)) / 100.0).alias("total_value"),
        )
    )
    assert rows == {tuple(r) for r in batch.collect()}


@pytest.mark.heavy
def test_late_data_accounting_actually_drops(spark):
    """The lateness entry must exercise the drop path: total events in
    the final state < rows emitted by the source (2000)."""
    from bigdata_electricity_spark.plans import REGISTRY

    rows = REGISTRY["streaming_late_data_accounting"].fn(spark, "/root/testdata/sf0.001").collect()
    total = sum(r["n_events"] for r in rows)
    assert total < 2000  # some late rows were evicted
    assert total > 1900  # but only the planted late stragglers


@pytest.mark.heavy
def test_streaming_incremental_sim_microbatch_boundary_invariance(spark, tmp_path):
    """r11 VERDICT task 5: the streaming ANN ingest gate's final
    snapshot must be invariant to WHERE the micro-batch boundaries
    fall. The batch vectors are staged as two separate parquet files
    consumed at maxFilesPerTrigger=1 (≥2 data micro-batches asserted),
    each micro-batch served through the SAME corpus-only IVF index
    inside foreachBatch — and the appended snapshot must equal the
    one-shot bulk serve of all batch vectors."""
    import math

    import pandas as pd
    import pyspark.sql.functions as F

    from bigdata_electricity_spark.operators.similarity import (
        build_ivf_index,
        serve_ivf_topk,
    )

    emb_pd = pd.read_parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus_pd = emb_pd[emb_pd.vec_id % 7 != 0]
    batch_pd = emb_pd[emb_pd.vec_id % 7 == 0].reset_index(drop=True)
    src = tmp_path / "arrivals"
    src.mkdir()
    half = len(batch_pd) // 2
    batch_pd.iloc[:half].to_parquet(src / "part1.parquet")
    batch_pd.iloc[half:].to_parquet(src / "part2.parquet")

    def vecs(df):
        return df.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )

    corpus = vecs(
        spark.createDataFrame(corpus_pd)
    )
    nlist = int(math.ceil(math.sqrt(len(corpus_pd))))
    dim = len(batch_pd["embedding"].iloc[0])
    index = build_ivf_index(corpus, nlist=nlist, dim=dim, par=8)
    # pin the index: foreachBatch re-executes the plan per micro-batch,
    # and the serve relation must come from ONE fixed index
    index = {
        k: (v.localCheckpoint() if hasattr(v, "localCheckpoint") else v)
        for k, v in index.items()
    }

    out = str(tmp_path / "flags")
    stream = spark.readStream.schema(
        spark.read.parquet(str(src)).schema
    ).option("maxFilesPerTrigger", "1").parquet(str(src))

    def serve_batch(bdf, _bid):
        served = serve_ivf_topk(index, vecs(bdf), k=3, nprobe=2, par=8)
        served.write.mode("append").parquet(out)

    q = stream.writeStream.outputMode("append").foreachBatch(serve_batch).start()
    try:
        q.processAllAvailable()
        n_batches = sum(
            1 for p in q.recentProgress
            if p["numInputRows"] and p["numInputRows"] > 0
        )
    finally:
        q.stop()
    assert n_batches >= 2, f"expected ≥2 data micro-batches, got {n_batches}"

    def rows(df):
        return sorted(
            (r["qid"], r["rank"], r["mid"], round(r["cos"], 9))
            for r in df.collect()
        )

    streamed = rows(spark.read.parquet(out))
    bulk = rows(
        serve_ivf_topk(index, vecs(spark.createDataFrame(batch_pd)),
                       k=3, nprobe=2, par=8)
    )
    assert streamed == bulk
    assert len(bulk) > 0


@pytest.mark.heavy
def test_streaming_incremental_sim_passes_microbatch_count(spark, monkeypatch):
    """r13: the streaming ANN gate must pass each materialized
    micro-batch's TRUE row count to serve_ivf_topk's ``n_batch`` so the
    broadcast bound applies inside the stream (a single oversized input
    file arrives as one oversized micro-batch — measured at sf100f,
    where one 761 MB file became one 286k-vector micro-batch). Guard:
    wrap the serve, record every n_batch passed, and assert the counts
    are present and sum to the full batch-side population."""
    from bigdata_electricity_spark.operators import similarity as sim_ops
    from bigdata_electricity_spark.plans import REGISTRY

    seen = []
    real_serve = sim_ops.serve_ivf_topk

    def recording_serve(index, batch, *args, **kwargs):
        seen.append(kwargs.get("n_batch"))
        return real_serve(index, batch, *args, **kwargs)

    # the entry imports serve_ivf_topk function-locally, so patch the
    # defining module — the local import resolves there at call time
    monkeypatch.setattr(sim_ops, "serve_ivf_topk", recording_serve)
    result = REGISTRY["streaming_incremental_sim"].fn(
        spark, "/root/testdata/sf0.001"
    )
    n_expected = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .filter("vec_id % 7 = 0")
        .count()
    )
    assert seen, "stream never reached the serve"
    assert all(isinstance(n, int) and n > 0 for n in seen), seen
    assert sum(seen) == n_expected, (seen, n_expected)
    assert result.count() > 0


def test_python_workers_need_not_import_the_package(tmp_path):
    """Entries whose Python workers run package code (a mapInPandas
    function, a batch and a streaming Python data source) pass their
    oracle checks from another directory, with the package on the
    driver's path only."""
    names = ["multimodal_decode_meta", "pyds_synthetic_events", "streaming_python_source"]
    script = tmp_path / "elsewhere.py"
    script.write_text(
        "import sys\n"
        f"sys.path[:0] = [{ROOT!r}, {os.path.join(ROOT, 'tools')!r}]\n"
        "from parity import compare_one, oracle_connection\n"
        "from bigdata_electricity_spark.plans import REGISTRY\n"
        "from bigdata_electricity_spark.session import get_spark\n"
        "spark = get_spark('elsewhere', cores=2)\n"
        f"con = oracle_connection({SF_DIR!r})\n"
        f"for name in {names!r}:\n"
        f"    print(name, compare_one(spark, con, REGISTRY[name], {SF_DIR!r}))\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    out = subprocess.run([sys.executable, str(script)], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    got = dict(line.split(" ", 1) for line in out.stdout.strip().splitlines())
    assert got == {
        "multimodal_decode_meta": "None",
        "pyds_synthetic_events": "None",
        "streaming_python_source": "ok:rows-only (10 rows)",
    }, out.stdout
