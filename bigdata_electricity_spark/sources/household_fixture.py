"""Deterministic dirty-household CSV fixture (FIXTURES.md §A1).

Synthesizes 3 days of 1-minute meter readings with every dirty-data
pathology the reference's Cleaning stage exists to handle
(reference preprocessing/Cleaning.scala:22-152), planted at known row
indices so both tests and the `pipeline_household_e2e` registry oracle
can reproduce the EXPECTED output independently: every cell is a pure
function of the row index, so a DuckDB `range()` generator can rebuild
the same table without reading the staged file.

Shared by tests/conftest.py (in-memory DataFrame fixture) and
plans/household_queries.py (staged-CSV registry entry).
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

from .sinks import run_dir

NUM_COLS_FIXTURE = [
    "Global_active_power",
    "Global_reactive_power",
    "Voltage",
    "Global_intensity",
    "Sub_metering_1",
    "Sub_metering_2",
    "Sub_metering_3",
]

COLUMNS = ["Date", "Time", *NUM_COLS_FIXTURE]


def _base_rows() -> list[list[str]]:
    """3 days × 1440 min of clean rows starting 2007-03-07 (d/M unpadded)."""
    rows = []
    start = datetime(2007, 3, 7)
    for i in range(3 * 1440):
        ts = start + timedelta(minutes=i)
        # Deterministic pseudo-values, no RNG: vary with index.
        gap_kw = 0.5 + (i % 97) * 0.05          # 0.5..5.3 kW
        rows.append([
            f"{ts.day}/{ts.month}/{ts.year}",
            f"{ts.hour}:{ts.minute:02d}:00",
            f"{gap_kw:.3f}",
            f"{0.1 + (i % 13) * 0.01:.3f}",
            f"{235.0 + (i % 20) * 0.5:.3f}",
            # Intensity tracks power (I ≈ P·1000/230) as in the real UCI
            # data — gives the ML pipeline a learnable relationship.
            f"{gap_kw * 4.27 + (i % 5) * 0.1:.3f}",
            f"{i % 3}.000",
            f"{i % 5}.000",
            f"{i % 7}.000",
        ])
    return rows


def make_household_rows() -> tuple[list[list[str]], dict[str, int]]:
    """Dirty household rows + the exact pathology counts planted."""
    rows = _base_rows()
    # 1. all-7-null rows (also any-null).
    for i in (100, 200):
        for j in range(2, 9):
            rows[i][j] = "?"
    # 2. single-column "?" rows.
    for i in range(300, 310):
        rows[i][2] = "?"
    # 3. unparseable Date → null DateTime.
    rows[400][0] = ""
    # 4. cast failure: numeric garbage (non-"?" so it survives sentinel pass).
    rows[700][2] = "n/a"
    # 5. outliers: extreme active power.
    for i in range(900, 905):
        rows[i][2] = "55.000"
    # 6. duplicate timestamps: full-row copy of 500; differing copy of 600.
    full_dup = list(rows[500])
    diff_dup = list(rows[600])
    diff_dup[2] = "9.999"
    # 7. cadence gap: remove 20 consecutive minutes (rows 800-819).
    del rows[800:820]
    rows.append(full_dup)
    rows.append(diff_dup)
    expected = {
        "total_rows": 3 * 1440 - 20 + 2,
        "all_null": 2,
        "any_null": 12,            # 2 all-null + 10 single-col
        "null_datetime": 1,
        "cast_failures_gap": 1,    # "n/a" in Global_active_power
        "outliers_gap_min": 5,     # at least the 5 planted 55 kW rows
        "full_row_dups": 1,
        "dup_timestamps": 2,       # one redundant copy each at 500 and 600
        "gaps": 2,                 # 21-min hole + 2-min hole at the bad-date row
    }
    return rows, expected


def stage_household_csv(sf_dir: str) -> str:
    """Write the fixture as the reference-shaped semicolon CSV; return its path.

    The file lives in the application's scratch dir (sources/sinks.run_dir),
    so concurrent driver sessions never clobber each other and Spark
    deletes it when the application stops. ~4.3k rows — negligible
    staging cost per call. Needs an active SparkContext.
    """
    d = run_dir("household_e2e", sf_dir)
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, "power.csv")
    rows, _ = make_household_rows()
    with open(path, "w") as fh:
        fh.write(";".join(COLUMNS) + "\n")
        for r in rows:
            fh.write(";".join(r) + "\n")
    return path
