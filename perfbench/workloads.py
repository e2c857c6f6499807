"""The benchmark's workloads: their inputs, operations and output checks.

Each workload prepares its inputs, computes what it can of the expected
outputs with DuckDB before any timing starts, and then runs operations
by name. ``run`` is the timed part: it builds the plan and consumes the
full result (``collect()`` or an all-column aggregate, never ``count()``,
which lets Catalyst prune the computed columns away). ``check`` runs
outside the timer and returns a list of problems; a non-empty list makes
the operation a failed one.
"""

from __future__ import annotations

import csv
import hashlib
import json
import math
import os
from dataclasses import dataclass

import duckdb
from pyspark.sql import functions as F

import datagen

HERE = os.path.dirname(os.path.abspath(__file__))
# Pinned (rows, digest) of the registry entries that have no DuckDB oracle.
EXPECTED = os.path.join(HERE, "expected.json")


@dataclass(frozen=True)
class Size:
    """Input size of one benchmark configuration."""

    household_rows: int
    tables: str  # directory under data/ holding the registry's parquet tables


SIZES = {
    # ~2 weeks of minute readings and the sf0.01 test drop (the scale the
    # repository's parity tool compares the DuckDB oracles at)
    "full": Size(household_rows=20_000, tables="full"),
    # the self-test's toy size: a two-day CSV and the sf0.001 test drop
    "toy": Size(household_rows=3_000, tables="toy"),
}

# One of each kind of query the registry serves: a join with a top-k, a
# window rank, a sessionization, regex text statistics, exact-duplicate
# grouping and the Arrow pandas-UDF top-k (a Python-worker path and the
# rows-only entry pinned in expected.json). Six entries keep a run near
# 45 s, which the benchmark's time budget needs (see README.md).
STAR_ENTRIES = (
    "tpch_q3_shipping_priority", "q5_top_month_per_year", "events_sessionization",
)
CORPUS_ENTRIES = (
    "text_stats", "dedup_exact_groups", "sim_topk_arrow",
)


def digest(rows) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def pin(rows: list[tuple]) -> tuple[int, str]:
    """Row count and digest of a result, order-insensitive, with floats
    cut to 9 significant digits so a last-bit difference in a vectorised
    sum does not change it."""
    cells = sorted(tuple(f"{v:.9g}" if isinstance(v, float) else repr(v) for v in r)
                   for r in rows)
    return len(cells), digest(cells)


def _close(a, b, rel: float = 1e-9) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and math.isclose(a, b, rel_tol=rel, abs_tol=1e-9)
    return a == b


def _rows_close(got: list[tuple], want: list[tuple]) -> bool:
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_close(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want))


class RegistryWorkload:
    """Ops are registry entries: ``REGISTRY[name].fn`` plus ``collect()``.

    The mix is the star-schema entries (short, plan-bound, read-only
    parquet scans, joins, windows) followed by the corpus entries (regex
    and higher-order-function codegen, Arrow pandas UDFs in Python
    workers), so one workload reaches both the plan-building layers and
    the text, dedup and similarity operators.

    Entries with a DuckDB oracle are compared with the oracle's result,
    normalised the way the repository's parity tool does it. Rows-only
    entries are compared with the row count and digest pinned for the
    input size in ``expected.json``."""

    name = "registry_queries"
    ops = STAR_ENTRIES + CORPUS_ENTRIES
    input_rows = 0

    def __init__(self) -> None:
        self.expected: dict[str, tuple[list, list]] = {}
        self.pinned: dict[str, tuple[int, str]] = {}
        self.topk_oracle: list[tuple] = []

    def prepare(self, work_dir: str, seed: int, size: Size) -> None:
        from parity import _norm_rows, oracle_connection
        from bigdata_electricity_spark.plans import REGISTRY

        self.data_dir = os.path.join(HERE, "data", size.tables)
        with open(EXPECTED) as fh:
            self.pinned = {op: tuple(v) for op, v in json.load(fh)[size.tables].items()}
        con = oracle_connection(self.data_dir)
        try:
            for entry in self.ops:
                oracle = REGISTRY[entry].oracle
                if oracle is not None:
                    res = con.execute(oracle)
                    self.expected[entry] = _norm_rows([d[0] for d in res.description],
                                                      res.fetchall())
                elif entry not in self.pinned:
                    raise KeyError(f"{entry}: no oracle and nothing pinned in {EXPECTED}")
            self.topk_oracle = con.execute(REGISTRY["sim_topk_bruteforce"].oracle).fetchall()
        finally:
            con.close()

    def run(self, spark, op: str, tracer):
        from bigdata_electricity_spark.plans import REGISTRY

        df = REGISTRY[op].fn(spark, self.data_dir)
        with tracer.span("exec", op):
            rows = df.collect()
        return df, rows

    def result_rows(self, result) -> int:
        return len(result[1])

    def check(self, op: str, result) -> list[str]:
        from parity import _norm_rows

        df, rows = result
        problems = []
        if op in self.expected:
            cols, norm = _norm_rows(df.columns, [tuple(r) for r in rows])
            want_cols, want = self.expected[op]
            if cols != want_cols:
                problems.append(f"{op}: columns {cols} != oracle {want_cols}")
            elif norm != want:
                problems.append(f"{op}: {len(norm)} rows differ from the oracle's {len(want)}")
        else:
            got, want = pin([tuple(r) for r in rows]), self.pinned[op]
            if got != want:
                problems.append(f"{op}: rows/digest {got[0]}/{got[1][:12]} != pinned "
                                f"{want[0]}/{want[1][:12]}")
        if op == "sim_topk_arrow":
            got = [(r["vec_id"], r["cosine"]) for r in rows]
            if [v for v, _ in got] != [v for v, _ in self.topk_oracle] or not all(
                    math.isclose(a, b, abs_tol=2e-6)
                    for (_, a), (_, b) in zip(got, self.topk_oracle)):
                problems.append("sim_topk_arrow: top-k differs from the brute-force oracle")
        return problems


_NUM = ["Global_active_power", "Global_reactive_power", "Voltage", "Global_intensity",
        "Sub_metering_1", "Sub_metering_2", "Sub_metering_3"]
_EXPORTED_AVGS = ["avg_Global_active_power", "avg_Voltage", "avg_Global_intensity",
                  "avg_Sub_metering_1", "avg_Sub_metering_2", "avg_Sub_metering_3"]
# The pipeline's IQR fence (k), and the rank error allowed to its
# approxQuantile quartiles: ten times the 0.001 it asks for, because Spark's
# merged per-partition summaries miss that target (0.003 seen at 20,000 rows).
_IQR_K = 1.5
_RANK_ERR = 0.01


@dataclass
class _PipelineOutput:
    result: object
    cleaned: tuple
    sql: dict[str, list[tuple]]
    ml: list[tuple]


class HouseholdWorkload:
    """Each op is one full ``run_reference_pipeline`` over the seeded CSV:
    load, profile, clean, outlier report, hourly rollup, seeded sample,
    transformation, single-file CSV export, SQL Q1-Q5 and the regression
    pipeline, with the cleaned table, every SQL result and the ML metrics
    consumed in full.

    Checks, all against DuckDB over the same CSV: the raw profile, the
    cleaned table and the hourly rollup are recomputed; every exported row
    must equal the rollup of its hour and the sample must keep 30-70% of
    the hours; Q1-Q5 are recomputed over the exported table; each outlier
    count must lie between the counts that the lowest and highest IQR
    fences allowed by approxQuantile's rank error give; the model must
    beat the mean baseline."""

    name = "household_pipeline"
    ops = ("pipeline",)

    def prepare(self, work_dir: str, seed: int, size: Size) -> None:
        self.csv = f"{work_dir}/power.csv"
        self.export = f"{work_dir}/export.csv"
        self.input_rows = size.household_rows
        datagen.write_household_csv(self.csv, size.household_rows, seed)
        nums = ", ".join(f"TRY_CAST(NULLIF({c}, '?') AS DOUBLE) AS {c}" for c in _NUM)
        con = duckdb.connect()
        try:
            con.execute(f"""
                CREATE TABLE prepped AS
                SELECT Date, Time,
                       try_strptime(Date || ' ' || Time, '%d/%m/%Y %H:%M:%S') AS DateTime, {nums}
                FROM read_csv('{self.csv}', delim=';', header=true, all_varchar=true)""")
            any_null = " OR ".join(f"{c} IS NULL" for c in _NUM)
            all_null = " AND ".join(f"{c} IS NULL" for c in _NUM)
            row = con.execute(f"""
                SELECT COUNT(*), COUNT(*) FILTER (DateTime IS NULL),
                       COUNT(*) FILTER ({any_null}), COUNT(*) FILTER ({all_null}),
                       {", ".join(f"COUNT(*) FILTER ({c} IS NULL)" for c in _NUM)}
                FROM prepped""").fetchone()
            dups = con.execute("""
                SELECT COALESCE(SUM(n - 1), 0) FROM (
                    SELECT COUNT(*) AS n FROM prepped WHERE DateTime IS NOT NULL
                    GROUP BY DateTime HAVING COUNT(*) > 1)""").fetchone()[0]
            self.before = (row[0], row[1], row[2], row[3], int(dups),
                           dict(zip(_NUM, row[4:])))
            not_null = " AND ".join(f"{c} IS NOT NULL" for c in _NUM)
            con.execute(f"""
                CREATE TABLE cleaned AS
                SELECT DISTINCT ON (DateTime, {", ".join(_NUM)}) *
                FROM prepped WHERE DateTime IS NOT NULL AND {not_null}""")
            self.cleaned = con.execute(f"""
                SELECT COUNT(*), {", ".join(f"SUM({c})" for c in _NUM)},
                       strftime(MIN(DateTime), '%Y-%m-%d %H:%M:%S'),
                       strftime(MAX(DateTime), '%Y-%m-%d %H:%M:%S'),
                       SUM(length(Date)) + SUM(length(Time))
                FROM cleaned""").fetchone()
            self.hourly = {
                r[0]: r[1:] for r in con.execute(f"""
                    SELECT strftime(date_trunc('hour', DateTime), '%Y-%m-%d %H:%M:%S'),
                           {", ".join(f"AVG({c[4:]})" for c in _EXPORTED_AVGS)}
                    FROM cleaned GROUP BY 1""").fetchall()}
            self.outlier_range = {c: _outlier_count_range(con, c) for c in _NUM}
        finally:
            con.close()

    def run(self, spark, op: str, tracer):
        from bigdata_electricity_spark.pipeline import run_reference_pipeline

        result = run_reference_pipeline(spark, self.csv, export_csv_path=self.export)
        with tracer.span("exec", "consume"):
            cleaned = tuple(result.cleaned.agg(
                F.count(F.lit(1)), *[F.sum(c) for c in _NUM],
                F.date_format(F.min("DateTime"), "yyyy-MM-dd HH:mm:ss"),
                F.date_format(F.max("DateTime"), "yyyy-MM-dd HH:mm:ss"),
                F.sum(F.length("Date")) + F.sum(F.length("Time")),
            ).first())
            sql = {name: [tuple(r) for r in df.collect()]
                   for name, df in result.sql_results.items()}
            ml = [tuple(r) for r in result.ml_metrics.collect()]
        return _PipelineOutput(result, cleaned, sql, ml)

    def result_rows(self, out: _PipelineOutput) -> int:
        return 1 + sum(len(v) for v in out.sql.values()) + len(out.ml)

    def check(self, op: str, out: _PipelineOutput) -> list[str]:
        from bigdata_electricity_spark.pipeline import POWER_SQL

        problems = []
        b = out.result.before_stats
        got_before = (b.total_rows, b.null_datetime, b.any_null_measurement,
                      b.all_null_measurement, b.duplicate_timestamps, b.per_column_nulls)
        if got_before != self.before:
            problems.append(f"profile {got_before} != DuckDB {self.before}")
        if not _rows_close([out.cleaned], [self.cleaned]):
            problems.append(f"cleaned {out.cleaned} != DuckDB {self.cleaned}")

        for c, (lo, hi) in self.outlier_range.items():
            n = out.result.outlier_report.get(f"outliers_{c}")
            if n is None or not lo <= n <= hi:
                problems.append(f"outliers_{c} = {n}, DuckDB allows [{lo}, {hi}]")

        with open(self.export, newline="") as fh:
            exported = list(csv.DictReader(fh))
        for r in exported:
            want = self.hourly.get(r["Hour"][:19].replace("T", " "))
            if want is None or not all(_close(float(r[c]), w)
                                       for c, w in zip(_EXPORTED_AVGS, want)):
                problems.append(f"exported hour {r['Hour']} != DuckDB rollup {want}")
                break
        hours = {r["Hour"] for r in exported}
        if len(hours) != len(exported):
            problems.append(f"export repeats hours: {len(exported)} rows, {len(hours)} hours")
        if not 0.3 * len(self.hourly) <= len(exported) <= 0.7 * len(self.hourly):
            problems.append(f"sample kept {len(exported)} of {len(self.hourly)} hours")

        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW power_data AS SELECT * FROM read_csv('{self.export}', header=true)")
            for name, q in POWER_SQL.items():
                if not _rows_close(out.sql[name], con.execute(q).fetchall()):
                    problems.append(f"{name} differs from DuckDB over the exported table")
        finally:
            con.close()

        ml = {m: (model, base) for m, model, base in out.ml}
        if not (ml["rmse"][0] < ml["rmse"][1] and ml["r2"][0] > 0.9):
            problems.append(f"regression does not beat the mean baseline: {ml}")
        return problems


def _outlier_count_range(con, col: str) -> tuple[int, int]:
    """Fewest and most values of ``col`` outside an IQR fence whose
    quartiles lie within ``_RANK_ERR`` of the exact ranks. The lower fence
    (1+k)q1 - k*q3 grows with q1 and falls with q3, the upper one the
    other way round, so the extreme quartiles give the extreme counts."""
    e = _RANK_ERR
    q1_lo, q1_hi, q3_lo, q3_hi = con.execute(
        f"SELECT quantile_disc({col}, [{0.25 - e}, {0.25 + e}, {0.75 - e}, {0.75 + e}])"
        " FROM cleaned").fetchone()[0]
    k = _IQR_K
    wide = (q1_lo - k * (q3_hi - q1_lo), q3_hi + k * (q3_hi - q1_lo))
    narrow = (q1_hi - k * (q3_lo - q1_hi), q3_lo + k * (q3_lo - q1_hi))
    fewest, most = con.execute(
        f"SELECT COUNT(*) FILTER ({col} < {wide[0]} OR {col} > {wide[1]}),"
        f" COUNT(*) FILTER ({col} < {narrow[0]} OR {col} > {narrow[1]}) FROM cleaned"
    ).fetchone()
    return fewest, most


WORKLOADS = {w.name: w for w in (HouseholdWorkload, RegistryWorkload)}
