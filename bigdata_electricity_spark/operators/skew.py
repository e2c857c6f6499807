"""Skew-mitigation join: explicit key salting.

AQE's skew-join splitting (on by default — session.py) handles most skew
at runtime, but only for sort-merge joins and only per shuffle-block
statistics. Salting is the declarative fallback for pathological keys
(one key = 30% of a 100 TB fact table): the fact side gets a random salt
in [0, S), the dimension side is replicated S times, and the join key
becomes (key, salt) — splitting each hot key across S tasks.

Equality with the unsalted join is asserted in tests/test_skew.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def salted_join(fact: DataFrame, dim: DataFrame, on: str, salt_buckets: int = 8) -> DataFrame:
    """Inner join ``fact ⋈ dim`` on column ``on`` with the fact side salted.

    The dimension side is exploded ×``salt_buckets`` (fine for dimension
    tables; never salt two fact tables this way — pick the smaller side
    to replicate). Salt uses a deterministic-per-row spray:
    ``pmod(hash(monotonically_increasing_id()), S)`` spreads rows without
    requiring a random source, keeping the operator replayable.
    """
    salted_fact = fact.withColumn(
        "__salt", F.pmod(F.hash(F.monotonically_increasing_id()), F.lit(salt_buckets))
    )
    replicated_dim = dim.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    out = salted_fact.join(replicated_dim, on=[on, "__salt"])
    return out.drop("__salt")
