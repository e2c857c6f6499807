"""The driver's t2 gate, replicated at sf0.001: every registry query runs
on Spark AND its DuckDB oracle, compared on columns + rowcount + values.

This is the highest-value test in the suite — it is exactly what the
driver measures (CORRECTNESS_r{N}.json), just at the smallest SF so the
whole sweep stays fast.
"""

from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")

from bigdata_electricity_spark.plans import REGISTRY
from tools.parity import compare_one, oracle_connection

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = oracle_connection(SF_DIR)
    yield con
    con.close()


# Default tier (r14, VERDICT r13 task 1): the FULL 347-entry sweep takes
# ~10 min of the suite's ~32 — past the driver's verify budget. The
# default tier keeps (a) the first 64 registry entries — a superset of
# the driver's own 50-entry correctness sample, so anything the driver
# checks is also pytest-checked — plus (b) the headline bench queries
# and (c) every entry whose plan an optimization round touched. The
# full sweep still runs under SPARK_GRAFT_HEAVY_TESTS=1 (and is exactly
# what `python tools/parity.py` runs standalone). Gated, not removed.
from tests.conftest import DEFAULT_TIER_ENTRIES, HEAVY_TESTS

_DEFAULT_PARITY = set(list(REGISTRY)[:64]) | DEFAULT_TIER_ENTRIES


@pytest.mark.parametrize("name", list(REGISTRY))
def test_query_parity(spark, duck, name):
    if not HEAVY_TESTS and name not in _DEFAULT_PARITY:
        pytest.skip("full parity sweep is heavy-gated (SPARK_GRAFT_HEAVY_TESTS=1)")
    outcome = compare_one(spark, duck, REGISTRY[name], SF_DIR)
    if outcome is not None and outcome.startswith("ok:"):
        return  # rows-only spec: ran without error
    assert outcome is None, outcome


def test_entry_contract(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.entry(spark)
    assert df.count() > 0
    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) == len(REGISTRY)


def test_scale_twins_exist():
    # Every documented exact↔scale-safe pairing must reference real
    # registry entries on both sides (the catalog renders these links).
    from bigdata_electricity_spark.plans import SCALE_TWINS

    for exact, twin in SCALE_TWINS.items():
        assert exact in REGISTRY, exact
        assert twin in REGISTRY, twin
        assert exact != twin


def test_scale_class_total_and_consistent():
    """Every entry carries a valid scale_class; every exact-baseline is
    a SCALE_TWINS key (names its production twin) and vice versa; twins
    of exact baselines are never themselves classified exact unless they
    have a further twin (the sim_lsh_hyperplane chain)."""
    from bigdata_electricity_spark.plans import SCALE_TWINS
    from bigdata_electricity_spark.plans.registry import SCALE_CLASSES

    for name, spec in REGISTRY.items():
        assert spec.scale_class in SCALE_CLASSES, (name, spec.scale_class)
    exact = {n for n, s in REGISTRY.items() if s.scale_class == "exact-baseline"}
    assert exact == set(SCALE_TWINS), exact ^ set(SCALE_TWINS)
    # the END of every twin chain is a production (or certification) plan
    for e in exact:
        t = SCALE_TWINS[e]
        seen = {e}
        while t in SCALE_TWINS:
            assert t not in seen, f"twin cycle at {t}"
            seen.add(t)
            t = SCALE_TWINS[t]
        assert REGISTRY[t].scale_class == "production", (e, t)
