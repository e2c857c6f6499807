"""One materialisation rule: every cache and local checkpoint in the
package is made by ``bigdata_electricity_spark.materialise`` and released
by its owner.

The guard is pure ``ast`` (no Spark session): it fails on any
``localCheckpoint``, ``cache`` or ``persist`` call in the package
outside that module. The other tests check the module's release rule on
the test session.
"""

from __future__ import annotations

import ast
import os
import threading

from pyspark.sql import functions as F

from bigdata_electricity_spark.materialise import Owner, cache, checkpoint, release

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "bigdata_electricity_spark"
MODULE = os.path.join(PACKAGE, "materialise.py")
MATERIALISING = {"localCheckpoint", "cache", "persist"}


def materialising_calls():
    """['path:line .method(...)'] for every such call outside MODULE."""
    found = []
    for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, PACKAGE)):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        for name in sorted(filenames):
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, ROOT)
            if not name.endswith(".py") or rel == MODULE:
                continue
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read(), filename=path)
            for node in ast.walk(tree):
                if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                        and node.func.attr in MATERIALISING):
                    found.append(f"{rel}:{node.lineno} .{node.func.attr}(...)")
    return found


def test_package_materialises_only_through_one_module():
    found = materialising_calls()
    assert not found, (
        f"{len(found)} materialisation(s) outside {MODULE}; use its "
        "checkpoint()/cache() so an owner releases them:\n  " + "\n  ".join(found))


def _persisted_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_owner_releases_what_was_made_while_open(spark):
    df = spark.range(50).withColumn("k", F.col("id") % 5)
    before = _persisted_ids(spark)
    with Owner():
        ck = checkpoint(df.groupBy("k").count())
        cached = cache(df.filter(F.col("k") > 0))
        assert ck.count() == 5 and cached.count() == 40
        assert len(_persisted_ids(spark) - before) == 2
    assert _persisted_ids(spark) <= before
    assert not cached.is_cached


def test_release_frees_a_checkpoint_now_and_is_idempotent(spark):
    before = _persisted_ids(spark)
    ck = checkpoint(spark.range(10).selectExpr("id * 2 AS x"))
    assert len(_persisted_ids(spark) - before) == 1  # registered when planned
    release(ck)
    release(ck)
    assert _persisted_ids(spark) <= before


def test_owner_is_per_thread_and_innermost(spark):
    before = _persisted_ids(spark)
    made = []
    with Owner():
        with Owner():
            checkpoint(spark.range(3))
        assert _persisted_ids(spark) <= before  # the inner owner released it
        checkpoint(spark.range(5))
        thread = threading.Thread(target=lambda: made.append(checkpoint(spark.range(4))))
        thread.start()
        thread.join()
        assert len(_persisted_ids(spark) - before) == 2
    # The other thread had no open owner, so its checkpoint outlives ours.
    assert len(_persisted_ids(spark) - before) == 1
    release(*made)
    assert _persisted_ids(spark) <= before
