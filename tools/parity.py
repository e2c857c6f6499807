"""Local replica of the driver's t2 correctness gate.

Runs every REGISTRY query on Spark and its oracle on DuckDB at a given
scale factor, compares row count, column names/order-insensitive values,
and reports per-query PASS/FAIL with a diff sample. Use while iterating:

    python tools/parity.py [--time] [sf_dir] [query ...]

`--schemas` runs the arrow-type lint instead of the value compare: the
value compare stringifies cells, so a DuckDB DECIMAL/HUGEINT oracle
column is locally indistinguishable from a Spark DOUBLE/BIGINT — but the
driver's hash is type-sensitive, so that divergence fails its gate (the
exact class that shipped in round 1). The lint maps the Spark result
schema and the DuckDB arrow result schema to common tags and FAILs on:
DECIMAL/HUGEINT anywhere in the oracle output (CAST to BIGINT/DOUBLE),
int-width mismatches (int32 vs int64), DATE vs TIMESTAMP vs string
divergence, and any other category mismatch.

    python tools/parity.py --schemas [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdata_electricity_spark.materialise import Owner  # noqa: E402
from bigdata_electricity_spark.plans import REGISTRY  # noqa: E402
from bigdata_electricity_spark.session import get_spark  # noqa: E402
from bigdata_electricity_spark.sources.loaders import TESTDATA_TABLES  # noqa: E402


def _norm_cell(v):
    if v is None:
        return "\x00NULL"  # sortable sentinel (tuples with None don't compare)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v + 0.0)  # exact repr; normalize -0.0
    return str(v)


def _norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in idx) for r in rows]
    return sorted(cols), sorted(out)


def oracle_connection(sf_dir: str):
    """DuckDB connection with the testdata tables registered as views."""
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def compare_one(spark, con, spec, sf_dir: str) -> str | None:
    """Run one query on Spark and its oracle on DuckDB; None = match.

    Mirrors the driver's t2 compare: column names, row count, and
    order-insensitive value equality over name-sorted columns.
    Returns a failure description, or "rows-only (N rows)" prefixed with
    "ok:" for oracle-less specs.

    The entry and its collect run inside one materialisation owner; an
    RDD the entry persisted that is still persisted once the owner has
    closed is a leak, and fails the entry. RDDs are compared by id: the
    context cleaner may drop RDDs leaked earlier at any moment.
    """
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persisted().keys())
    with Owner():
        sdf = spec.fn(spark, sf_dir)
        s_cols = sdf.columns
        s_rows = [tuple(r) for r in sdf.collect()]
    leaked = set(persisted().keys()) - before
    if leaked:
        return f"leaked {len(leaked)} persisted RDDs"
    if spec.oracle is None:
        return f"ok:rows-only ({len(s_rows)} rows)"
    res = con.execute(spec.oracle)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    sc, sr = _norm_rows(s_cols, s_rows)
    dc, dr = _norm_rows(d_cols, d_rows)
    if sc != dc:
        return f"columns differ spark={sc} duck={dc}"
    if len(sr) != len(dr):
        return f"rowcount spark={len(sr)} duck={len(dr)}"
    if sr != dr:
        diffs = [(a, b) for a, b in zip(sr, dr) if a != b][:3]
        return f"values differ; first diffs: {diffs}"
    return None


def _spark_type_tag(dt) -> str:
    """Collapse a Spark DataType to a comparable tag."""
    from pyspark.sql import types as T

    if isinstance(dt, T.LongType):
        return "int64"
    if isinstance(dt, T.IntegerType):
        return "int32"
    if isinstance(dt, (T.ShortType, T.ByteType)):
        return "int16"
    if isinstance(dt, T.DoubleType):
        return "float64"
    if isinstance(dt, T.FloatType):
        return "float32"
    if isinstance(dt, T.DecimalType):
        return "decimal"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.TimestampType):
        return "timestamp_tz"
    if isinstance(dt, T.TimestampNTZType):
        return "timestamp"
    if isinstance(dt, T.BinaryType):
        return "binary"
    if isinstance(dt, T.ArrayType):
        return f"list<{_spark_type_tag(dt.elementType)}>"
    return f"other:{dt.simpleString()}"


def _arrow_type_tag(t) -> str:
    """Collapse a pyarrow DataType (DuckDB result) to a comparable tag."""
    import pyarrow as pa

    if pa.types.is_decimal(t):
        return "decimal"  # includes HUGEINT results surfaced as decimal128
    if pa.types.is_int64(t):
        return "int64"
    if pa.types.is_int32(t):
        return "int32"
    if pa.types.is_integer(t):  # int8/16, uints, and int128 fallbacks
        return "int16" if t.bit_width <= 16 else f"int{t.bit_width}"
    if pa.types.is_float64(t):
        return "float64"
    if pa.types.is_float32(t):
        return "float32"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "timestamp_tz" if t.tz else "timestamp"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{_arrow_type_tag(t.value_type)}>"
    return f"other:{t}"


def lint_schemas(sf_dir: str, names: list[str] | None = None) -> int:
    """Arrow-type lint over every oracle'd query. Returns #failures.

    Spark side is schema-only (no job runs); the DuckDB oracle executes
    (cheap at sf0.001) because output types aren't known without it.
    """
    spark = get_spark("parity-schemas")
    con = oracle_connection(sf_dir)
    failures = 0
    checked = 0
    for name, spec in REGISTRY.items():
        if names and name not in names:
            continue
        if spec.oracle is None:
            continue
        checked += 1
        try:
            s_tags = {
                f.name: _spark_type_tag(f.dataType)
                for f in spec.fn(spark, sf_dir).schema.fields
            }
            tbl = con.execute(spec.oracle).arrow()
            d_tags = {f.name: _arrow_type_tag(f.type) for f in tbl.schema}
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: error: {exc}")
            failures += 1
            continue
        probs = []
        for col in sorted(set(s_tags) | set(d_tags)):
            st, dt = s_tags.get(col), d_tags.get(col)
            if st is None or dt is None:
                probs.append(f"{col}: only on {'duck' if st is None else 'spark'} side")
                continue
            if "decimal" in dt or "int128" in dt:
                probs.append(f"{col}: oracle emits {dt} — CAST to BIGINT/DOUBLE")
            if "decimal" in st:
                probs.append(f"{col}: spark emits {st} — cast to bigint/double")
            if st != dt and "decimal" not in (st, dt):
                probs.append(f"{col}: spark={st} duck={dt}")
        if probs:
            print(f"FAIL {name}: " + "; ".join(probs))
            failures += 1
        else:
            print(f"PASS {name}")
    print(f"-- schema lint: {checked} oracles checked, {failures} failed")
    spark.stop()
    return failures


def run(sf_dir: str, names: list[str] | None = None, timed: bool = False) -> int:
    unknown = set(names or []) - set(REGISTRY)
    if unknown:
        print(f"FAIL unknown query names: {sorted(unknown)}")
        return 1
    spark = get_spark("parity")
    con = oracle_connection(sf_dir)
    failures = 0
    import time as _time

    for name, spec in REGISTRY.items():
        if names and name not in names:
            continue
        t0 = _time.perf_counter()
        try:
            outcome = compare_one(spark, con, spec, sf_dir)
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: error: {exc}")
            failures += 1
            continue
        stamp = f"  [{_time.perf_counter() - t0:6.2f}s]" if timed else ""
        if outcome is None:
            print(f"PASS {name}{stamp}")
        elif outcome.startswith("ok:"):
            print(f"ok   {name}: {outcome[3:]}{stamp}")
        else:
            print(f"FAIL {name}: {outcome}")
            failures += 1
    spark.stop()
    return failures


if __name__ == "__main__":
    args = sys.argv[1:]
    timed = "--time" in args
    schemas = "--schemas" in args
    args = [a for a in args if a not in ("--time", "--schemas")]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    names = [a for a in args if "/" not in a] or None
    if schemas:
        sys.exit(1 if lint_schemas(sf_dir, names) else 0)
    sys.exit(1 if run(sf_dir, names, timed=timed) else 0)
