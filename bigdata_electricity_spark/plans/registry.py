"""Query registry — the contract between the engine and the driver.

Each entry pairs a Spark implementation ``(spark, sf_dir) -> DataFrame``
with an equivalent ANSI/DuckDB oracle SQL string (or None for ops whose
semantics aren't SQL-expressible: seeded sampling, ML metrics, streaming,
LSH — the driver then records a weaker rows-only check).

Determinism rules enforced across the registry (SURVEY §7.4):
- every computed column is aliased identically in Spark and oracle SQL;
- float aggregates are rounded magnitude-aware on BOTH sides so partial
  aggregation order cannot flip the driver's value hash;
- timestamps cross the boundary as formatted strings or DATEs, never raw
  (events.ts is ns in parquet, µs in Spark);
- integer-ish derived values are cast to the same width on both sides
  (DuckDB year()/hour() return BIGINT, Spark INT).

Plan cache. ``REGISTRY[name].fn`` builds each entry's plan once per
session (classic PySpark analyses each DataFrame step eagerly on the JVM,
tens to hundreds of ms a build); a warm call returns
``cached.select("*")``, a new Dataset over the same analysed plan that is
optimised, planned and executed afresh: plans are reused, never shuffle
output or results. Key: the entry name, the absolute ``sf_dir`` and the
values of ``session.RUNTIME_CONFS`` (after :func:`configure`) and of the
two confs ``loaders._is_single_split`` reads; another JVM session empties
the cache. Validity: each catalog table the build read keeps every part
file's size and mtime. Purity: only a build that ran no Spark job,
materialised nothing (``materialise.made``) and whose analysed plan's
leaves, its subqueries' included, are all ``LocalRelation``, ``Range``,
``OneRowRelation``, ``CTERelationRef`` or file relations over those
tables is cached; a direct call of the decorated
function always builds. :data:`PLAN_CACHE` counts hits, misses and
uncacheable builds by reason (``job``, ``materialised``, ``leaf``).
"""

from __future__ import annotations

import functools
import os
from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .. import materialise
from ..session import RUNTIME_CONFS, configure
from ..sources import loaders

QueryFn = Callable[[SparkSession, str], DataFrame]


SCALE_CLASSES = ("production", "exact-baseline", "certification")


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None → rows-only check
    doc: str
    # How the entry should be used at scale (r10 VERDICT task 6 — the
    # driver-facing surfacing of plans.SCALE_TWINS):
    #   production     — the plan survives a 100× scale-up as written;
    #   exact-baseline — deliberately exact small-data semantics kept as
    #                    an oracle-checkable baseline; a named scale twin
    #                    in plans.SCALE_TWINS computes the production
    #                    variant (set automatically from that dict);
    #   certification  — exists to certify an engine property
    #                    (persistence roundtrip, crash recovery, recall
    #                    audit, sink format), not to answer a query.
    scale_class: str = "production"


REGISTRY: dict[str, QuerySpec] = {}

_KEY_CONFS = (*RUNTIME_CONFS, "spark.sql.files.openCostInBytes",
              "spark.sql.files.maxPartitionBytes")
_PURE_LEAVES = ("HadoopFsRelation", "LocalRelation", "Range", "OneRowRelation",
                "CTERelationRef")
# key -> (JVM session, built frame, (path, stamp) of each table it read)
_PLANS: dict[tuple, tuple[object, DataFrame, list]] = {}
PLAN_CACHE: Counter = Counter()  # hit, miss, and job/materialised/leaf


def _reads_only(df: DataFrame, served: list) -> bool:
    """Whether every leaf of ``df``'s analysed plan and of each subquery
    in it is local data, a CTE reference or a file relation over tables
    in ``served`` (a ``WITH`` plan's leaves include its CTE definitions')."""
    paths = {path for path, _ in served}
    plan = df._jdf.queryExecution().analyzed()
    subqueries = plan.subqueriesAll()
    for p in [plan, *(subqueries.apply(i) for i in range(subqueries.size()))]:
        leaves = p.collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "LogicalRelation":
                leaf = leaf.relation()  # a file source's is a HadoopFsRelation
            kind = leaf.getClass().getSimpleName()
            if kind not in _PURE_LEAVES:
                return False
            if kind == "HadoopFsRelation":
                roots = leaf.location().rootPaths().mkString("\n").split("\n")
                if not {r.removeprefix("file:") for r in roots} <= paths:
                    return False
    return True


def _cached(name: str, fn: QueryFn) -> QueryFn:
    """``fn`` behind the plan cache (see the module docstring)."""

    @functools.wraps(fn)
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        configure(spark)
        session = spark._jsparkSession
        key = (name, os.path.abspath(sf_dir),
               tuple(spark.conf.get(k, None) for k in _KEY_CONFS))
        if _PLANS and next(iter(_PLANS.values()))[0] is not session:
            _PLANS.clear()
        hit = _PLANS.get(key)
        if hit is not None and all(loaders._stamp(p) == s for p, s in hit[2]):
            PLAN_CACHE["hit"] += 1
            return hit[1].select("*")
        PLAN_CACHE["miss"] += 1
        dag = spark.sparkContext._jsc.sc().dagScheduler()
        jobs, made = dag.numTotalJobs(), materialise.made
        outer, served = getattr(loaders._served, "reads", None), []
        loaders._served.reads = served
        try:
            df = fn(spark, sf_dir)
        finally:
            loaders._served.reads = outer
        reason = ("job" if dag.numTotalJobs() != jobs
                  else "materialised" if materialise.made != made
                  else None if _reads_only(df, served) else "leaf")
        if reason:
            PLAN_CACHE[reason] += 1
            return df
        _PLANS[key] = (session, df, served)
        return df.select("*")

    return build


def query(name: str, oracle: str | None = None,
          scale_class: str = "production") -> Callable[[QueryFn], QueryFn]:
    """Register a named query, optionally with its DuckDB oracle SQL.

    ``scale_class`` defaults to "production"; pass "certification" for
    property-certification entries. "exact-baseline" is assigned
    centrally from plans.SCALE_TWINS, never at the definition site."""
    if scale_class not in SCALE_CLASSES:
        raise ValueError(f"unknown scale_class {scale_class!r} for {name}")

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(
            name=name, fn=_cached(name, fn), oracle=oracle, doc=(fn.__doc__ or "").strip(),
            scale_class=scale_class,
        )
        return fn

    return deco
