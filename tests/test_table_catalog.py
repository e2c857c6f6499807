"""The table catalog: pinned schemas and single-split scans as one partition.

``load_table`` infers a table's schema once per version (path, part-file
sizes and mtimes, ``nanosAsLong``) and reads it with that schema
afterwards, which runs no Spark job. A table Spark reads as one split is
declared one partition, so the planner adds no shuffle above it; larger
tables keep the distributed plan. The household CSV loader applies the
same rule to a single CSV file.
"""

from __future__ import annotations

import os
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from bigdata_electricity_spark.operators.cleaning import clean_pipeline
from bigdata_electricity_spark.operators.reduction import reduce_pipeline
from bigdata_electricity_spark.operators.transformation import transform_pipeline
from bigdata_electricity_spark.pipeline import POWER_SQL
from bigdata_electricity_spark.plans import REGISTRY
from bigdata_electricity_spark.sources import loaders
from bigdata_electricity_spark.sources.household_fixture import stage_household_csv
from bigdata_electricity_spark.sources.loaders import (
    load_household_raw,
    load_table,
    parquet_row_count,
    table_entry,
    vector_dim,
)
from tests.conftest import SF_DIR as SF0001

SF01 = os.path.join(os.path.dirname(SF0001), "sf0.1")

# The registry entries the benchmark's registry_queries workload runs.
BENCH_ENTRIES = (
    "tpch_q3_shipping_priority", "q5_top_month_per_year", "events_sessionization",
    "text_stats", "dedup_exact_groups", "sim_topk_arrow",
)

# A shuffle exchange; broadcast exchanges are not shuffles.
_SHUFFLE = re.compile(r"(?<!Broadcast)Exchange ")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _job_ids(spark) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


@pytest.mark.parametrize("name", BENCH_ENTRIES)
def test_small_tables_plan_without_shuffles(spark, name):
    plan = _plan(REGISTRY[name].fn(spark, SF0001))
    scans = plan.count("FileScan parquet")
    assert scans > 0 and plan.count("Coalesce 1") == scans, plan
    assert not _SHUFFLE.search(plan), plan


def test_multi_split_lineitem_keeps_its_exchange(spark):
    """sf0.1 lineitem (10.8 MB) is read as several splits, so it is not
    declared one partition and its pre-aggregate still shuffles."""
    plan = _plan(REGISTRY["tpch_q3_shipping_priority"].fn(spark, SF01))
    assert "Exchange hashpartitioning(l_orderkey" in plan
    lines = plan.splitlines()
    scan = next(i for i, ln in enumerate(lines) if "sf0.1/lineitem.parquet" in ln)
    assert "Coalesce" not in lines[scan - 1]


def _household_plans(spark) -> dict[str, str]:
    """Plans of the fixture CSV's cleaned and sampled tables and of Q1-Q5."""
    cleaned = clean_pipeline(load_household_raw(spark, stage_household_csv(SF0001)))
    sampled = reduce_pipeline(cleaned)
    transform_pipeline(sampled).createOrReplaceTempView("power_data")
    plans = {"cleaned": _plan(cleaned), "sampled": _plan(sampled)}
    plans.update({name: _plan(spark.sql(q)) for name, q in POWER_SQL.items()})
    return plans


def test_single_split_household_csv_plans_without_shuffles(spark):
    plans = _household_plans(spark)
    assert "Coalesce 1" in plans["cleaned"], plans["cleaned"]
    for name, plan in plans.items():
        assert not _SHUFFLE.search(plan), (name, plan)


def test_household_dedup_shuffles_without_the_rule(spark, monkeypatch):
    monkeypatch.setattr(loaders, "_is_single_split", lambda spark, parts, nbytes: False)
    plan = _household_plans(spark)["cleaned"]
    # The dedup's keys (DateTime and the measurements) come in set order.
    assert re.search(r"Exchange hashpartitioning\([^)]*\bDateTime#", plan), plan
    assert "Coalesce" not in plan, plan


def test_warm_load_runs_no_job(spark):
    load_table(spark, SF0001, "orders")
    before = _job_ids(spark)
    df = load_table(spark, SF0001, "orders")
    assert _job_ids(spark) == before
    assert df.count() == parquet_row_count(spark, f"{SF0001}/orders.parquet")


def test_vector_dim_reads_the_footers_only(spark, tmp_path):
    """``vector_dim`` is the one array length, from the catalog's footer
    read: no job on a warm table, and a ragged column is refused."""
    path = f"{SF0001}/embeddings.parquet"
    table_entry(spark, path)
    before = _job_ids(spark)
    assert vector_dim(spark, path, "embedding") == 64
    assert _job_ids(spark) == before
    ragged = str(tmp_path / "ragged.parquet")
    pq.write_table(pa.table({"v": pa.array([[1.0, 2.0], [3.0, 4.0, 5.0]])}), ragged)
    with pytest.raises(ValueError, match="one length"):
        vector_dim(spark, ragged, "v")


def test_rewritten_table_gets_a_new_entry(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"k": pa.array([1, 2], type=pa.int64())}), str(path))
    first = table_entry(spark, str(path))
    assert first is table_entry(spark, str(path))
    assert first.rows == 2

    pq.write_table(pa.table({"k": pa.array([1, 2, 3], type=pa.int64()),
                             "v": pa.array(["a", "b", "c"])}), str(path))
    second = table_entry(spark, str(path))
    assert second is not first
    assert second.rows == 3 and second.schema.fieldNames() == ["k", "v"]
    assert second.bytes == os.path.getsize(path)
    assert sorted(load_table(spark, str(tmp_path), "t").columns) == ["k", "v"]


def test_nanos_as_long_value_gets_its_own_entry(spark):
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    path = f"{SF0001}/region.parquet"
    saved = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "true")
        on = table_entry(spark, path)
        spark.conf.set(conf, "false")
        off = table_entry(spark, path)
        assert off is not on
        assert off is table_entry(spark, path)
        spark.conf.set(conf, "true")
        assert table_entry(spark, path) is on
    finally:
        spark.conf.set(conf, saved)
