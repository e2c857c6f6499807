"""The reference pipeline end-to-end as a driver-checkable registry entry.

The reference's actual program is the COMPOSITION Cleaning → Reduction →
Transformation over the household CSV (Main.scala:18 switches the module,
Cleaning.scala:22 → reduction.scala:46-51 → Transformation.scala:71-89);
until r8 that composition ran only in pytest (tests/test_pipeline_e2e.py).
This module stages the deterministic dirty-CSV fixture (FIXTURES.md §A1,
sources/household_fixture.py) and runs the composed plan S1 → P1-P13 →
A3 → M7/M8 as ONE registry entry whose final 33-column analytical table
(FIXTURES.md §A2) is value-hash-checked against DuckDB.

Oracle design: the fixture is a pure function of the row index, so the
oracle REGENERATES the expected table from `range(4320)` — the same
self-contained-oracle idiom as the multimodal entries — rather than
reading the staged file (no cross-process path coordination). The
formatted-string round-trip (`printf('%.3f', ·)::DOUBLE`) reproduces the
CSV's 3-decimal quantization exactly; printf parity with Python's
``f"{x:.3f}"`` holds over the full index range (verified r8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.rounding import dround, hround
from ..operators.cleaning import clean_pipeline
from ..operators.reduction import DEFAULT_KEEP_COLS, reduce_pipeline
from ..operators.transformation import DEFAULT_SCALE_COLS as SCALE_COLS, transform_pipeline
from ..sources.household_fixture import stage_household_csv
from ..sources.loaders import load_household_raw
from .registry import query

AVG_COLS = [c for c in DEFAULT_KEEP_COLS if c != "Hour"]


def _household_oracle() -> str:
    d = "CAST({v} AS DOUBLE)"
    gap = f"({d.format(v='0.5')} + (i % 97) * {d.format(v='0.05')})"
    raw_cols = {
        # planted 55 kW outliers at original indices 900-904 (kept by
        # cleaning — the IQR report only REPORTS); everything else is the
        # base formula through the 3-decimal CSV quantization.
        "gap": (
            f"CASE WHEN i BETWEEN 900 AND 904 THEN {d.format(v='55.0')} "
            f"ELSE CAST(printf('%.3f', {gap}) AS DOUBLE) END"
        ),
        "volt": (
            f"CAST(printf('%.3f', {d.format(v='235.0')}"
            f" + (i % 20) * {d.format(v='0.5')}) AS DOUBLE)"
        ),
        "gi": (
            f"CAST(printf('%.3f', {gap} * {d.format(v='4.27')}"
            f" + (i % 5) * {d.format(v='0.1')}) AS DOUBLE)"
        ),
        "s1": "CAST(i % 3 AS DOUBLE)",
        "s2": "CAST(i % 5 AS DOUBLE)",
        "s3": "CAST(i % 7 AS DOUBLE)",
    }
    raw_select = ",\n               ".join(
        f"{e} AS {c}" for c, e in raw_cols.items()
    )
    # Rows that survive cleaning, in ORIGINAL index space: drop the
    # all-null (100, 200), single-col-null (300-309), bad-date (400) and
    # cast-failure (700) rows, the deleted 20-minute hole (800-819), and
    # regenerate the one DIFFERING duplicate of row 600 (gap=9.999) —
    # the FULL duplicate of row 500 is removed by dropDuplicates, so it
    # is simply not generated.
    dup_cols = dict(raw_cols, gap=d.format(v="9.999"))
    dup600 = ",\n               ".join(
        f"{e.replace('i %', '600 %')} AS {c}" for c, e in dup_cols.items()
    )
    onehots = ",\n           ".join(
        [
            f"CAST(CASE WHEN dayofweek(\"Hour\") + 1 = {k} THEN 1.0 ELSE 0.0 END AS DOUBLE) AS dow_{k}"
            for k in range(1, 8)
        ]
        + [
            f"CAST(CASE WHEN month(\"Hour\") = {m} THEN 1.0 ELSE 0.0 END AS DOUBLE) AS month_{m}"
            for m in range(1, 13)
        ]
    )
    avg_out = ",\n           ".join(
        f"{dround('e.' + c, 6)} AS {c}" for c in AVG_COLS
    )
    stats = ", ".join(
        f"MIN({c}) AS lo_{i}, MAX({c}) AS hi_{i}"
        for i, c in enumerate(SCALE_COLS)
    )
    scaled = ",\n           ".join(
        f"{dround(f'(e.{c} - s.lo_{i}) / (s.hi_{i} - s.lo_{i})', 6)}"
        f" AS {c}_scaled"
        for i, c in enumerate(SCALE_COLS)
    )
    return f"""
    WITH raw AS (
        SELECT TIMESTAMP '2007-03-07 00:00:00' + i * INTERVAL 1 MINUTE AS dt,
               {raw_select}
        FROM (SELECT range AS i FROM range(4320))
        WHERE i NOT IN (100, 200, 400, 700)
          AND NOT (i >= 300 AND i < 310)
          AND NOT (i >= 800 AND i < 820)
        UNION ALL
        SELECT TIMESTAMP '2007-03-07 00:00:00' + 600 * INTERVAL 1 MINUTE AS dt,
               {dup600}
    ), hourly AS (
        SELECT date_trunc('hour', dt) AS "Hour",
               AVG(gap) AS avg_Global_active_power,
               AVG(volt) AS avg_Voltage,
               AVG(gi) AS avg_Global_intensity,
               AVG(s1) AS avg_Sub_metering_1,
               AVG(s2) AS avg_Sub_metering_2,
               AVG(s3) AS avg_Sub_metering_3
        FROM raw GROUP BY 1
    ), e AS (
        SELECT *, avg_Sub_metering_1 + avg_Sub_metering_2 + avg_Sub_metering_3
                  AS total_sub_metering
        FROM hourly
    ), s AS (
        SELECT {stats} FROM e
    )
    SELECT e."Hour",
           {avg_out},
           CAST(e."Hour" AS DATE) AS "date",
           CAST(hour(e."Hour") AS INTEGER) AS hour_of_day,
           {onehots},
           {dround('e.total_sub_metering', 6)} AS total_sub_metering,
           {scaled}
    FROM e, s
    ORDER BY e."Hour"
    """


@query("pipeline_household_e2e", oracle=_household_oracle())
def pipeline_household_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference pipeline S1→P1-P13→A3→M7/M8 end-to-end, oracle-checked.

    Stages the FIXTURES.md §A1 dirty CSV (per-process scratch path) and
    runs the real composed plan: raw ``;``-CSV scan with string columns
    (Cleaning.scala:22-28) → sentinel→null → DateTime parse → try_cast →
    any-null drop → full-row dedup (Cleaning.scala:31-120) → hourly
    rollup → feature selection (reduction.scala:10-43; sample step at
    fraction 1.0 so the entry stays deterministic) → time-derived +
    one-hot + engineered + min-max scale (Transformation.scala:12-89).
    Result: the 33-column analytical table, 72 hourly rows for the
    3-day fixture. Floats are hround(6)-quantized for cross-engine
    hashing; Hour is cast to timestamp_ntz (UTC session) to match the
    oracle's naive timestamps. Input is the staged fixture, not the
    sf tables — the entry certifies the COMPOSITION, so it is
    deliberately SF-independent.

    Scale shape: the whole pipeline is projections + one hash aggregate
    + one 2-row-per-key dedup aggregate; the only driver action is the
    min/max stats row (2 doubles per scaled column) — the same plan
    survives a year of minute data unchanged (SURVEY §4.3.2).
    """
    path = stage_household_csv(sf_dir)
    cleaned = clean_pipeline(load_household_raw(spark, path))
    transformed = transform_pipeline(
        reduce_pipeline(cleaned, sample_fraction=1.0)
    )
    onehot = [f"dow_{k}" for k in range(1, 8)] + [
        f"month_{m}" for m in range(1, 13)
    ]
    return transformed.select(
        F.col("Hour").cast("timestamp_ntz").alias("Hour"),
        *[hround(c, 6).alias(c) for c in AVG_COLS],
        "date",
        "hour_of_day",
        *onehot,
        hround("total_sub_metering", 6).alias("total_sub_metering"),
        *[hround(f"{c}_scaled", 6).alias(f"{c}_scaled") for c in SCALE_COLS],
    ).orderBy("Hour")
