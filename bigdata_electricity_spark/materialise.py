"""The one place an intermediate result is materialised and released.

:func:`checkpoint` cuts lineage with a local checkpoint, for a frame
that an iterated or multi-consumer plan reads several times;
:func:`cache` keeps a reused table in memory; :func:`release` frees a
frame's blocks now.

A checkpoint's blocks are written by the first action that reads it,
but the call itself is not always job-free. With adaptive execution on
(``session.RUNTIME_CONFS``), planning the checkpoint's RDD runs each
shuffle stage of the plan, one job per stage, at the call: measured, a
projection ran 0 jobs, a ``groupBy`` 1, a ``groupBy`` plus a join 2.

Release rule: whoever places a materialisation releases it. An
:class:`Owner` releases, when it closes, every frame materialised on its
thread while it was the innermost open owner. Operators and entries take
no owner argument; they reach the open one implicitly. A consumer opens
one around an entry and its action (``tools/parity.py``); a
``foreachBatch`` callback opens its own, as it runs on a Py4J thread.
With no owner open, a checkpoint is left to Spark's context cleaner. A
loop may free a dead round's checkpoint with :func:`release` once the
next round is materialised (graph's CC loop does). A checkpoint cannot
be recomputed once its blocks are gone, so an entry's checkpoints live
until its consumer's owner closes, and a weakref finalizer may release
caches only (Spark recomputes them).

A registry build that materialises (changes :data:`made`) is never
plan-cached: its plan reads blocks that its consumer's owner frees.

``DataFrame.unpersist()`` frees nothing on a local checkpoint: what is
persisted is the RDD under the returned frame's ``LogicalRDD``, not a
cached plan. :func:`release` unpersists that RDD. It is registered when
the checkpoint is planned, so releasing one that never ran is correct.

The level is serialized: a deserialized checkpoint unrolls whole
partitions on-heap as row objects, which ran an 8g driver out of heap
(``MemoryStore.putIteratorAsValues``) on a 100M-edge graph with 32
tasks; serialized blocks unroll incrementally and spill to disk cleanly.
"""

from __future__ import annotations

import threading

from pyspark import StorageLevel
from pyspark.sql import DataFrame

LEVEL = StorageLevel.MEMORY_AND_DISK  # serialized: deserialized=False
made = 0  # frames materialised so far in this process


class Owner:
    """Releases what was materialised on its thread while it was the
    innermost open owner. It opens when constructed and releases on
    :meth:`close` (idempotent) or at the end of its ``with`` block."""

    _open = threading.local()  # .stack: this thread's open owners

    def __init__(self) -> None:
        self._stack: list[Owner] = vars(Owner._open).setdefault("stack", [])
        self._stack.append(self)
        self._held: list[DataFrame] = []

    def stop(self) -> None:
        """Stop recording new frames; keep holding the recorded ones."""
        if self in self._stack:
            self._stack.remove(self)

    def close(self) -> None:
        """Stop recording and release every frame held (idempotent)."""
        self.stop()
        held, self._held = self._held, []
        release(*held)

    def __enter__(self) -> Owner:
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def _held(df: DataFrame) -> DataFrame:
    global made
    made += 1
    stack = vars(Owner._open).get("stack")
    if stack:
        stack[-1]._held.append(df)
    return df


def checkpoint(df: DataFrame) -> DataFrame:
    """A local checkpoint of ``df`` at :data:`LEVEL`, written by its first
    action (the call runs the plan's shuffle stages; see above)."""
    return _held(df.localCheckpoint(eager=False, storageLevel=LEVEL))


def cache(df: DataFrame) -> DataFrame:
    """``df`` cached in memory (Spark's default cache level)."""
    return _held(df.cache())


def release(*frames: DataFrame) -> None:
    """Free the blocks of frames made by :func:`checkpoint` or
    :func:`cache` now (idempotent). Call it on a checkpoint only once
    every reader has materialised what it needs from it."""
    for df in frames:
        if df.is_cached:
            df.unpersist()
            continue
        plan = df._jdf.logicalPlan()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(True)
