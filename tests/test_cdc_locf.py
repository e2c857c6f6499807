"""Semantics of changelog compaction and LOCF gap filling on planted
fixtures: timestamp tie-breaks, leading-null preservation, multi-day
carry. The sf-data parity checks cover engine agreement; these pin the
intended behavior itself."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, event_type string, value double"
    )


def test_cdc_latest_wins_with_tie_break(spark):
    t0 = datetime(2024, 1, 1, 12, 0, 0)
    t1 = datetime(2024, 1, 2, 12, 0, 0)
    df = _events(
        spark,
        [
            (1, t0, 7, "signup", 1.0),
            (2, t1, 7, "view", 2.0),     # same ts as event 3: tie
            (3, t1, 7, "click", 3.0),    # higher event_id wins the tie
            (4, t0, 8, "purchase", 4.0),
        ],
    )
    out = (
        df.groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("ts", "event_type", "value"), F.struct("ts", "event_id")
            ).alias("last"),
            F.count(F.lit(1)).alias("n_versions"),
        )
        .select("user_id", "last.event_type", "n_versions")
        .orderBy("user_id")
        .collect()
    )
    assert [(r["user_id"], r["event_type"], r["n_versions"]) for r in out] == [
        (7, "click", 3),
        (8, "purchase", 1),
    ]


def test_locf_carries_and_preserves_leading_nulls(spark, tmp_path):
    """User 1 observed on days 1 and 4 → day 2/3 carry day-1's mean;
    user 2 first observed day 3 → days 1-2 stay NULL."""
    from bigdata_electricity_spark.plans import REGISTRY

    def nanos(dt):
        return int(dt.timestamp() * 1_000_000) * 1_000

    rows = [
        (1, nanos(datetime(2024, 1, 1, 9)), 1, "view", 10.0, "{}"),
        (2, nanos(datetime(2024, 1, 1, 10)), 1, "view", 20.0, "{}"),
        (3, nanos(datetime(2024, 1, 4, 9)), 1, "view", 40.0, "{}"),
        (4, nanos(datetime(2024, 1, 3, 9)), 2, "view", 7.0, "{}"),
    ]
    # The registry fn loads events from parquet; write the fixture as a
    # real parquet TIMESTAMP(NANOS) column (via pyarrow — Spark can't
    # write nanos), which the loader's r9 unit contract REQUIRES before
    # treating bigint ts as nanos (a raw int64 column is refused, by
    # design).
    import pyarrow as pa
    import pyarrow.parquet as pq

    out_dir = tmp_path / "events.parquet"
    out_dir.mkdir()
    pq.write_table(
        pa.table({
            "event_id": pa.array([r[0] for r in rows], type=pa.int64()),
            "ts": pa.array([r[1] for r in rows], type=pa.timestamp("ns")),
            "user_id": pa.array([r[2] for r in rows], type=pa.int64()),
            "event_type": pa.array([r[3] for r in rows], type=pa.string()),
            "value": pa.array([r[4] for r in rows], type=pa.float64()),
            "props": pa.array([r[5] for r in rows], type=pa.string()),
        }),
        str(out_dir / "part-0.parquet"),
        store_schema=False,
    )
    got = REGISTRY["events_locf_gap_fill"].fn(spark, str(tmp_path)).collect()
    by_key = {(r["user_id"], str(r["day"])): r for r in got}
    assert len(got) == 8  # 2 users x 4 days
    assert by_key[(1, "2024-01-01")]["value_locf"] == 15.0
    assert by_key[(1, "2024-01-02")]["value_locf"] == 15.0  # carried
    assert by_key[(1, "2024-01-03")]["value_locf"] == 15.0  # carried
    assert by_key[(1, "2024-01-04")]["value_locf"] == 40.0
    assert by_key[(1, "2024-01-02")]["n_events"] == 0
    assert by_key[(2, "2024-01-01")]["value_locf"] is None  # leading null
    assert by_key[(2, "2024-01-02")]["value_locf"] is None
    assert by_key[(2, "2024-01-03")]["value_locf"] == 7.0
    assert by_key[(2, "2024-01-04")]["value_locf"] == 7.0  # carried
