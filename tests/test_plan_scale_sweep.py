"""Registry-wide plan sweep: no unaggregated single-partition shuffles.

`Exchange SinglePartition` is fine when the rows entering it were already
reduced (a partial aggregate, a top-k, a domain-bounded generator) — a
1-row global aggregate or a window over 24 hourly rows survives 100 TB.
What does NOT survive is RAW rows funneling into one partition (global
sort, global-order window over the fact table). Every entry in that
class must be a documented exact variant with a scale-safe twin
(`SCALE_TWINS`, plans/__init__.py) — this sweep asserts, at plan level
and for EVERY registry entry, that no new one sneaks in untwinned
(r7 VERDICT task 4).

The checker parses the executed-plan tree and flags each
`Exchange SinglePartition` whose subtree contains no aggregate /
top-k / bounded-generator node.
"""

from __future__ import annotations

import pytest

import re

from bigdata_electricity_spark.plans import REGISTRY, SCALE_TWINS

SF_DIR = "/root/testdata/sf0.001"

# Guard the distributed plan, not the one-partition plan small tables get.
pytestmark = pytest.mark.usefixtures("distributed_plans")

# Subtree markers proving the exchange input is reduced or bounded:
# partial aggregates, top-k, size-bounded generators, or a reuse of an
# exchange that was itself checked where it first appeared.
_BOUNDED = re.compile(
    r"HashAggregate|SortAggregate|ObjectHashAggregate"
    r"|TakeOrderedAndProject|\bRange \(|LocalTableScan|OneRowRelation"
    r"|ReusedExchange"
)


def _depth(line: str) -> int:
    # Tree-drawing prefix: spaces, ':'/'+'/'-' connectors, and the
    # '*(n)' whole-stage-codegen tag. Payload starts at the operator.
    return len(re.match(r"^[\s:+*\-()0-9]*", line).group(0))


def unagg_single_partition(plan: str) -> list[str]:
    """Lines of each SinglePartition exchange with no reduction below it."""
    lines = [ln for ln in plan.splitlines() if ln.strip()]
    bad: list[str] = []
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        d = _depth(ln)
        subtree = []
        for nxt in lines[i + 1 :]:
            if _depth(nxt) <= d:
                break
            subtree.append(nxt)
        if not any(_BOUNDED.search(s) for s in subtree):
            bad.append(ln.strip()[:80])
    return bad


@pytest.mark.heavy
def test_no_untwinned_global_shuffles(spark):
    flagged: dict[str, list[str]] = {}
    for name, spec in REGISTRY.items():
        if name.startswith("streaming_"):
            # Streaming entries execute a full stream inside fn(); their
            # batch readback plan is a trivial parquet scan. State-store
            # partitioning is covered by tests/test_streaming_*.
            continue
        plan = (
            spec.fn(spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        hits = unagg_single_partition(plan)
        if hits:
            flagged[name] = hits
    untwinned = set(flagged) - set(SCALE_TWINS)
    assert not untwinned, (
        "entries shuffle unreduced rows into one partition without a "
        f"documented scale twin: {sorted(untwinned)} — add a scale-safe "
        "twin and register the pair in SCALE_TWINS, or bound the input "
        f"with an aggregate. Plans: { {k: flagged[k] for k in untwinned} }"
    )
    # Checker liveness: the two documented global-order exact variants
    # MUST be flagged — if they stop being, the checker went blind (or
    # the entries were rewritten and SCALE_TWINS should shrink).
    assert "clean_gap_detection" in flagged
    assert "binning_equal_frequency" in flagged
