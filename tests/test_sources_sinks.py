"""Loaders (parquet testdata, household CSV) and the single-file CSV sink."""

from __future__ import annotations

import csv
import os
import subprocess
import sys

import pytest

from bigdata_electricity_spark.sources.household_fixture import COLUMNS
from bigdata_electricity_spark.sources.loaders import (
    TESTDATA_TABLES,
    load_household_raw,
    load_table,
    register_views,
)
from bigdata_electricity_spark.sources.sinks import save_single_csv, write_parquet

SF_DIR = "/root/testdata/sf0.001"


def test_load_all_testdata_tables(spark):
    for name in TESTDATA_TABLES:
        df = load_table(spark, SF_DIR, name)
        assert df.count() > 0, name


def test_events_ts_is_timestamp(spark):
    df = load_table(spark, SF_DIR, "events")
    assert dict(df.dtypes)["ts"].startswith("timestamp")


def test_events_ts_unit_contract_both_units(spark, tmp_path):
    """Loader pins the ts unit: nanos converts exactly; a micros drop that
    still arrives as bigint (plain INT64) must FAIL LOUDLY, never shift
    event times 1000× (r8 VERDICT task 4)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    base_us = 1_700_000_000_000_000  # 2023-11-14T22:13:20 epoch-micros

    # Stage 1: TIMESTAMP(NANOS), read as epoch-nanos bigint under
    # nanosAsLong. Must load and land on the exact micro-truncated
    # timestamps.
    ns_dir = tmp_path / "ns"
    ns_dir.mkdir()
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2], type=pa.int64()),
            "ts": pa.array([base_us * 1000 + 1500, base_us * 1000 + 2500],
                           type=pa.timestamp("ns")),
        }),
        str(ns_dir / "events.parquet"),
        store_schema=False,  # plain parquet logical types, like testdata
    )
    df = load_table(spark, str(ns_dir), "events")
    assert dict(df.dtypes)["ts"].startswith("timestamp")
    got = sorted(r["ts"].isoformat() for r in df.select("ts").collect())
    assert got == ["2023-11-14T22:13:20.000001", "2023-11-14T22:13:20.000002"]
    # The stream reader shares the conversion: the same file streams to
    # the same instants, as the plain TIMESTAMP watermarks need.
    from pyspark.sql import functions as F

    from bigdata_electricity_spark.streaming.event_windows import (
        _read_events_stream,
        _run_to_completion,
    )

    stream = _read_events_stream(spark, str(ns_dir))
    assert dict(stream.dtypes)["ts"] == "timestamp"
    _run_to_completion(stream.select(F.unix_micros("ts").alias("us")),
                       "events_ts_nanos_stream", mode="append")
    got_us = sorted(r["us"] for r in spark.table("events_ts_nanos_stream").collect())
    assert got_us == [base_us + 1, base_us + 2]

    # Stage 2: plain INT64 epoch-MICROS — same bigint dtype in Spark,
    # wrong unit. The loader must refuse, not divide by 1000.
    us_dir = tmp_path / "us"
    us_dir.mkdir()
    pq.write_table(
        pa.table({
            "event_id": pa.array([1], type=pa.int64()),
            "ts": pa.array([base_us], type=pa.int64()),
        }),
        str(us_dir / "events.parquet"),
        store_schema=False,
    )
    with pytest.raises(ValueError, match="timestamp\\[ns\\]"):
        load_table(spark, str(us_dir), "events")

    # Stage 3: TIMESTAMP(MICROS), as every testdata drop stores it —
    # arrives as a real timestamp (the nanosAsLong flag only affects
    # NANOS), no conversion path at all.
    us2_dir = tmp_path / "us2"
    us2_dir.mkdir()
    pq.write_table(
        pa.table({
            "event_id": pa.array([1], type=pa.int64()),
            "ts": pa.array([base_us], type=pa.timestamp("us")),
        }),
        str(us2_dir / "events.parquet"),
        store_schema=False,
    )
    df3 = load_table(spark, str(us2_dir), "events")
    assert dict(df3.dtypes)["ts"].startswith("timestamp")


def test_events_stream_refuses_micros_bigint_ts(spark, tmp_path):
    """The stream source keeps the loader's unit contract: plain INT64
    epoch-micros arrives as bigint like nanos does, and must fail loudly
    rather than be divided by 1000."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from bigdata_electricity_spark.streaming import streaming_tumbling_counts

    pq.write_table(
        pa.table({
            "event_id": pa.array([1], type=pa.int64()),
            "ts": pa.array([1_700_000_000_000_000], type=pa.int64()),
            "value": pa.array([1.0]),
        }),
        str(tmp_path / "events.parquet"),
        store_schema=False,
    )
    with pytest.raises(ValueError, match="timestamp\\[ns\\]"):
        streaming_tumbling_counts(spark, str(tmp_path))


def test_run_dir_is_released_with_the_application(tmp_path):
    """Scratch written under run_dir lives in the application's temp dir
    and is gone once the session stops. Runs in its own process, so
    stopping that session leaves the shared test session alone."""
    script = tmp_path / "lifetime.py"
    script.write_text(
        "import os\n"
        "from pyspark import SparkFiles\n"
        "from bigdata_electricity_spark.session import get_spark\n"
        "from bigdata_electricity_spark.sources.sinks import run_dir\n"
        "spark = get_spark('run-dir-lifetime', cores=1)\n"
        "d = run_dir('lifetime', '/data/sf0.001')\n"
        "assert d.startswith(SparkFiles.getRootDirectory() + os.sep), d\n"
        "spark.range(3).write.parquet(d)\n"
        "assert spark.read.parquet(d).count() == 3\n"
        "spark.stop()\n"
        "print(d)\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": root, "SPARK_DRIVER_MEMORY": "1g"}
    out = subprocess.run([sys.executable, str(script)], env=env, capture_output=True,
                         text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    scratch = out.stdout.strip().splitlines()[-1]
    assert scratch.endswith(os.path.join("scratch", "lifetime_sf0.001")), scratch
    assert not os.path.exists(scratch)


def test_register_views_sql(spark):
    register_views(spark, SF_DIR)
    n = spark.sql("SELECT count(*) AS n FROM lineitem").first()["n"]
    assert n > 0


def test_household_raw_loader(spark, tmp_path):
    body = (
        "7/3/2007;0:05:00;1.5;0.1;240.0;6.2;0.0;1.0;17.0\n"
        "7/3/2007;0:06:00;?;?;?;?;?;?;?\n"
    )
    p = tmp_path / "power.csv"
    p.write_text(";".join(COLUMNS) + "\n" + body)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    df = load_household_raw(spark, str(p))
    assert set(tracker.getJobIdsForGroup(None)) == before  # pinned schema: no header job
    assert df.columns == COLUMNS
    assert all(t == "string" for _, t in df.dtypes)  # S1: no inferSchema
    assert df.count() == 2

    # The header is still checked against the pinned names, so a file
    # with reordered columns fails instead of loading shifted values.
    reordered = tmp_path / "reordered.csv"
    reordered.write_text(";".join(reversed(COLUMNS)) + "\n" + body)
    with pytest.raises(Exception, match="CSV header does not conform to the schema"):
        load_household_raw(spark, str(reordered)).collect()


def test_save_single_csv(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "s"])
    out = str(tmp_path / "out.csv")
    save_single_csv(df, out)
    assert os.path.isfile(out)
    with open(out) as fh:
        rows = list(csv.reader(fh))
    assert rows[0] == ["id", "s"]
    assert sorted(rows[1:]) == [["1", "a"], ["2", "b"]]


def test_write_parquet_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "x"), (2, "y")], ["id", "part"])
    out = str(tmp_path / "pq")
    write_parquet(df, out, partition_by=["part"])
    back = spark.read.parquet(out)
    assert back.count() == 2


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    # Hive-style partitioned layout + a partition-key predicate must show
    # up as PartitionFilters (directory pruning — at 100 TB this is the
    # difference between scanning one day and scanning the lake).
    from pyspark.sql import functions as F

    from bigdata_electricity_spark.sources.loaders import load_table

    events = load_table(spark, SF_DIR, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    out = str(tmp_path / "events_by_date")
    write_parquet(events, out, partition_by=["event_date"])

    back = spark.read.parquet(out)
    one_day = back.filter(F.col("event_date") == back.agg(F.min("event_date")).first()[0])
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(event_date" in plan, plan[:800]
    # The data filter moved entirely into partition pruning — no pushed
    # row-group filter remains on event_date.
    assert one_day.count() > 0
    n_dirs = len([p for p in __import__("os").listdir(out) if p.startswith("event_date=")])
    assert n_dirs > 1


def test_export_corpus_manifest_matches_input(spark, tmp_path):
    from pyspark.sql import functions as F

    from bigdata_electricity_spark.sources.loaders import load_table
    from bigdata_electricity_spark.sources.sinks import export_corpus

    docs = load_table(spark, SF_DIR, "documents")
    out = str(tmp_path / "corpus")
    manifest = export_corpus(docs, out, "source")
    got = {r["source"]: r["n_docs"] for r in manifest.collect()}
    want = {r["source"]: r["count"] for r in docs.groupBy("source").count().collect()}
    assert got == want
    # Partition directories exist and reading one prunes the rest.
    one = spark.read.parquet(out).filter(F.col("source") == next(iter(got)))
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    from bigdata_electricity_spark.sources.loaders import load_table
    from bigdata_electricity_spark.sources.sinks import compact_parquet

    events = load_table(spark, SF_DIR, "events")
    fragmented = str(tmp_path / "fragmented")
    events.repartition(32).write.parquet(fragmented)
    n_before = len([f for f in os.listdir(fragmented) if f.endswith(".parquet")])
    assert n_before == 32

    compacted = str(tmp_path / "compacted")
    # Tiny target: everything fits in one file.
    n_planned = compact_parquet(spark, fragmented, compacted, target_file_bytes=1 << 30)
    n_after = len([f for f in os.listdir(compacted) if f.endswith(".parquet")])
    assert n_planned == n_after == 1
    # Content-preserving.
    assert spark.read.parquet(compacted).count() == events.count()
