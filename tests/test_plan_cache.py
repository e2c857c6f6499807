"""The registry's plan cache: a warm call reuses the analysed plan only.

``REGISTRY[name].fn`` builds an entry's plan once per session, ``sf_dir``,
conf values and table version, and answers a later call with
``select("*")`` over that plan. A rewritten table, another session and a
changed split conf each miss; a build that runs a job, materialises or
reads anything but catalog tables is never cached; and a hit returns the
rows and runs the stages of a fresh build.
"""

from __future__ import annotations

import dataclasses
import hashlib
import os
import re
import subprocess
import sys
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from bigdata_electricity_spark import materialise
from bigdata_electricity_spark.plans import REGISTRY, registry
from bigdata_electricity_spark.sources.loaders import TESTDATA_TABLES, table_entry
from tests.conftest import ROOT, SF_DIR
from tests.test_table_catalog import BENCH_ENTRIES


def _counted(call) -> tuple[Counter, object]:
    """What ``call()`` added to :data:`registry.PLAN_CACHE`, and its result."""
    before = Counter(registry.PLAN_CACHE)
    out = call()
    return Counter(registry.PLAN_CACHE) - before, out


def _warm(spark, name: str, sf_dir: str = SF_DIR):
    """Call ``name`` until its plan is cached: the first call of a session
    may infer a table's schema (a job), which makes that build uncacheable."""
    fn = REGISTRY[name].fn
    fn(spark, sf_dir)
    fn(spark, sf_dir)
    counts, df = _counted(lambda: fn(spark, sf_dir))
    assert counts == Counter(hit=1), counts
    return df


def _rows(df) -> list[str]:
    return sorted(map(repr, df.collect()))


def _plan(df) -> str:
    """The optimised plan with expression ids blanked out."""
    return re.sub(r"#\d+L?", "#", df._jdf.queryExecution().optimizedPlan().toString())


def test_rewritten_table_misses_and_returns_its_new_rows(spark, tmp_path):
    table = pq.read_table(f"{SF_DIR}/lineitem.parquet")
    path, sf_dir = str(tmp_path / "lineitem.parquet"), str(tmp_path)
    pq.write_table(table, path)
    _warm(spark, "rdd_threshold_count", sf_dir)

    rewritten = table.slice(0, 1000)
    pq.write_table(rewritten, path)
    counts, df = _counted(lambda: REGISTRY["rdd_threshold_count"].fn(spark, sf_dir))
    # A new table version: the catalog re-infers its schema, a job.
    assert counts == Counter(miss=1, job=1), counts
    want = sum(q > 45 for q in rewritten.column("l_quantity").to_pylist())
    assert df.first()["n_rows"] == want
    assert want != sum(q > 45 for q in table.column("l_quantity").to_pylist())


_RESTART = """
import sys
sys.path.insert(0, {root!r})
from collections import Counter
from bigdata_electricity_spark.plans import REGISTRY, registry
from bigdata_electricity_spark.session import get_spark

fn = REGISTRY["q5_top_month_per_year"].fn
spark = get_spark("plan-cache-restart", cores=2)
rows = [fn(spark, {sf!r}).collect() for _ in range(3)]
first = Counter(registry.PLAN_CACHE)
spark.stop()
spark = get_spark("plan-cache-restart", cores=2)
rows.append(fn(spark, {sf!r}).collect())
after = Counter(registry.PLAN_CACHE) - first
print(first["hit"], after["hit"], after["miss"], len(registry._PLANS), rows[0] == rows[-1])
spark.stop()
"""


def test_session_restart_misses():
    """A stopped session's plans are dropped, and the new session builds
    its own (a fresh process, so the shared test session keeps running)."""
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    out = subprocess.run([sys.executable, "-c", _RESTART.format(root=ROOT, sf=SF_DIR)],
                         capture_output=True, text=True, env=env, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.split()[-5:] == ["1", "0", "1", "1", "True"], out.stdout


def test_split_conf_change_misses(spark):
    name, conf = "q5_top_month_per_year", "spark.sql.files.maxPartitionBytes"
    single = _warm(spark, name)
    saved = spark.conf.get(conf, None)
    try:
        spark.conf.set(conf, "1k")  # lineitem is no longer read as one split
        counts, split = _counted(lambda: REGISTRY[name].fn(spark, SF_DIR))
        assert counts == Counter(miss=1), counts
        executed = [df._jdf.queryExecution().executedPlan().toString() for df in (single, split)]
        assert "Coalesce 1" in executed[0] and "Coalesce 1" not in executed[1]
        assert _rows(split) == _rows(single)
    finally:
        if saved is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, saved)
    counts, _ = _counted(lambda: REGISTRY[name].fn(spark, SF_DIR))
    assert counts == Counter(hit=1), counts


def test_runtime_conf_is_reset_before_the_lookup(spark):
    """A changed ``RUNTIME_CONFS`` value is reset by ``configure`` before
    the key is read, as a fresh build's ``load_table`` resets it, so the
    call hits and matches a fresh build."""
    name, tz = "events_tumbling_10min", "spark.sql.session.timeZone"
    _warm(spark, name)
    spark.conf.set(tz, "America/Los_Angeles")
    counts, hit = _counted(lambda: REGISTRY[name].fn(spark, SF_DIR))
    assert counts == Counter(hit=1), counts
    assert spark.conf.get(tz) == "UTC"
    fresh = REGISTRY[name].fn.__wrapped__(spark, SF_DIR)
    assert _plan(hit) == _plan(fresh)
    assert _rows(hit) == _rows(fresh)


def test_impure_builds_are_never_cached(spark, tmp_path):
    side = str(tmp_path / "side.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2], type=pa.int64())}), side)
    builders = {
        "job": lambda s, sf: s.range(s.range(3).count()),
        "materialised": lambda s, sf: materialise.checkpoint(s.range(3)),
        # a parquet file that is not a catalog table, an RDD, and that
        # file read only inside a scalar subquery
        "leaf": lambda s, sf: s.read.schema("a long").parquet(side),
        "rdd": lambda s, sf: s.createDataFrame(s.sparkContext.parallelize([(1,)]), "a long"),
        "subquery": lambda s, sf: s.range(5).where(
            F.col("id") > s.read.schema("a long").parquet(side).select(F.max("a")).scalar()),
    }
    for reason, fn in builders.items():
        build = registry._cached(f"test_{reason}", fn)
        for _ in range(2):
            with materialise.Owner():
                counts, df = _counted(lambda: build(spark, SF_DIR))
                df.collect()
            kind = "leaf" if reason in ("rdd", "subquery") else reason
            assert counts == Counter({"miss": 1, kind: 1}), counts
    pure = registry._cached("test_pure", lambda s, sf: s.range(3))
    assert [_counted(lambda: pure(spark, SF_DIR))[0] for _ in range(2)] == [
        Counter(miss=1), Counter(hit=1)]


def test_entries_that_materialise_or_run_a_job_are_never_cached(spark):
    for name in ("graph_kcore_peel", "sim_topk_arrow"):
        for _ in range(2):
            with materialise.Owner():
                counts, df = _counted(lambda: REGISTRY[name].fn(spark, SF_DIR))
                df.collect()
            assert counts["hit"] == 0 and counts["miss"] == 1, (name, counts)
            assert counts["job"] + counts["materialised"] == 1, (name, counts)


def test_with_clause_twins_are_cached(spark, monkeypatch):
    """A ``WITH`` plan's ``CTERelationRef`` leaves point at CTE
    definitions whose own leaves are checked, so the SQL-text twins cache
    — q4's scalar subquery reads only a CTE."""
    monkeypatch.setattr(registry, "_PLANS", {})
    for name in ("q4_above_avg_days_sqltext", "q5_top_month_per_year_sqltext"):
        fresh = _rows(REGISTRY[name].fn.__wrapped__(spark, SF_DIR))
        calls = [_counted(lambda: REGISTRY[name].fn(spark, SF_DIR)) for _ in range(2)]
        assert [c for c, _ in calls] == [Counter(miss=1), Counter(hit=1)], (name, calls)
        assert [_rows(df) for _, df in calls] == [fresh, fresh], name


def test_bench_entries_twice_in_one_session(spark):
    """The benchmark's six entries through ``compare_one`` twice in one
    session: both passes pass with identical rows, and the second serves
    the five job-free builds from the cache."""
    from parity import compare_one, oracle_connection

    for t in TESTDATA_TABLES:  # schemas known, so no build runs a job
        table_entry(spark, f"{SF_DIR}/{t}.parquet")
    con = oracle_connection(SF_DIR)
    passes = []
    try:
        for _ in range(2):
            seen = {}
            for name in BENCH_ENTRIES:
                built = []
                spec = dataclasses.replace(
                    REGISTRY[name],
                    fn=lambda s, sf, fn=REGISTRY[name].fn: built.append(fn(s, sf)) or built[-1])
                counts, outcome = _counted(lambda: compare_one(spark, con, spec, SF_DIR))
                assert outcome is None or outcome.startswith("ok:"), (name, outcome)
                rows = _rows(built[0])
                seen[name] = (counts["hit"], len(rows),
                              hashlib.sha256(repr(rows).encode()).hexdigest())
            passes.append(seen)
    finally:
        con.close()
    first, second = passes
    assert {n: v[1:] for n, v in first.items()} == {n: v[1:] for n, v in second.items()}
    assert {n for n, v in second.items() if v[0]} == set(BENCH_ENTRIES) - {"sim_topk_arrow"}


def _stages(spark, df, group: str) -> tuple[list[int], str]:
    """Completed-task counts of every stage the collect's jobs list (a
    skipped stage completes none), and the final plan."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    status = sc.statusTracker()
    stages = sorted({sid for jid in status.getJobIdsForGroup(group)
                     for sid in status.getJobInfo(jid).stageIds})
    plan = df._jdf.queryExecution().executedPlan().toString()
    infos = [status.getStageInfo(sid) for sid in stages]
    return [i.numCompletedTasks if i else 0 for i in infos], plan


def test_hit_runs_the_stages_of_a_fresh_build(spark, distributed_plans):
    """With every exchange in place, a hit's executed plan has the fresh
    build's exchanges and scans, and its collect runs as many stages and
    skips none more: nothing but the plan is reused. Last in the module:
    the fixture stays on until the module ends."""
    name = "tpch_q3_shipping_priority"
    _warm(spark, name)
    fresh_tasks, fresh_plan = _stages(
        spark, REGISTRY[name].fn.__wrapped__(spark, SF_DIR), "plan-cache-fresh")
    assert "Exchange hashpartitioning" in fresh_plan
    for i in range(2):  # the second hit follows an executed one
        counts, hit = _counted(lambda: REGISTRY[name].fn(spark, SF_DIR))
        assert counts == Counter(hit=1), counts
        hit_tasks, hit_plan = _stages(spark, hit, f"plan-cache-hit-{i}")
        for node in ("Exchange", "FileScan parquet"):
            assert hit_plan.count(node) == fresh_plan.count(node), node
        assert len(hit_tasks) == len(fresh_tasks)
        assert sum(t > 0 for t in hit_tasks) == sum(t > 0 for t in fresh_tasks)
