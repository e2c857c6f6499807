"""Round-7 hardening tests: the edges VERDICT r6 called out.

1. Zero-variance OLS frames — the rolling-regression entry must yield
   NULL (never NaN/Inf or a crash) when every event in the trailing
   window lands on the same second, and its DuckDB oracle must agree.
"""

from __future__ import annotations

import datetime as dt
import os

import pandas as pd

from bigdata_electricity_spark.plans import REGISTRY


def test_rolling_regression_zero_variance_frame_is_null(spark, tmp_path_factory):
    """Deterministic zero-variance fixture (VERDICT r6 #3): user 1 has
    five events on the SAME second (x-variance 0 after re-basing →
    denominator n·Σx² − (Σx)² == 0 → NULL by the guard), user 2 a
    normal spread (non-null slope 2.0/60 per sec), user 3 only two
    events (n < 3 → NULL). Checked Spark-vs-oracle with the driver
    compare so the NULL shows up identically on both engines."""
    import duckdb

    from parity import compare_one

    B = dt.datetime(2024, 5, 1, 12, 0, 0)
    rows = []
    rows += [(i, B, 1, "view", float(i), "{}") for i in range(5)]
    rows += [(10 + i, B + dt.timedelta(minutes=i), 2, "view", 2.0 * i, "{}")
             for i in range(6)]
    rows += [(20, B, 3, "view", 1.0, "{}"), (21, B + dt.timedelta(minutes=1), 3, "view", 5.0, "{}")]
    d = tmp_path_factory.mktemp("ols_sf")
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).to_parquet(os.path.join(d, "events.parquet"), coerce_timestamps="us")

    got = {r.user_id: r for r in
           REGISTRY["events_rolling_regression_slope"].fn(spark, str(d)).collect()}
    assert got[1].slope_per_sec is None and got[1].n_window == 5
    assert got[3].slope_per_sec is None and got[3].n_window == 2
    assert abs(got[2].slope_per_sec - 2.0 / 60.0) < 1e-9

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet'")
    err = compare_one(spark, con, REGISTRY["events_rolling_regression_slope"], str(d))
    assert err is None or err.startswith("ok:"), err

