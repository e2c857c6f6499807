"""Random-hyperplane LSH for embedding vectors (cosine-preserving).

The scale path for similarity search when no IVF/label bucketing exists:
hash each vector to a k-bit signature (sign of dot product with k seeded
pseudo-random hyperplanes), bucket-join on the signature. Collision
probability is (1 - θ/π)^k — near-duplicates (small angle θ) collide with
high probability, so candidate generation is per-bucket instead of
all-pairs.

The hyperplanes are generated deterministically (seeded, driver-side,
~k·dim floats) and embedded as literals in the plan — every executor
evaluates sign(v·p) as a JVM-side higher-order expression; no UDF, no
broadcast needed for the planes themselves.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.vectors import cosine_similarity, dot_product, l2_norm, unit_vector
from ..materialise import checkpoint


def hyperplanes(dim: int, k: int = 16, seed: int = 42) -> list[list[float]]:
    """k seeded unit hyperplanes in R^dim (Gaussian → normalized)."""
    rng = random.Random(seed)
    planes = []
    for _ in range(k):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / norm for x in v])
    return planes


def banded_signature_col(vec: Column, planes: list[list[float]], bands: int) -> Column:
    """Per-band LSH buckets as array<bigint>: band b packs ITS OWN
    bits-per-band sign bits, so total signature length is unbounded —
    the n-scaled signatures (bits ∝ log n, r9) exceed the 63-bit
    single-long cap as soon as n/occupancy passes 2^(63/bands).

    (The single-long ``signature_col`` predecessor was removed in r10 —
    dead code after :func:`lsh_near_dup_pairs` switched to banded
    packing; this is the only signature builder.) Guards raise, not
    assert, so they survive ``python -O``."""
    k = len(planes)
    if k % bands != 0:
        raise ValueError(f"k_bits={k} not divisible by bands={bands}")
    bpb = k // bands
    if bpb > 63:
        raise ValueError(f"bits-per-band {bpb} exceeds signed-long packing (63)")
    cols = []
    for b in range(bands):
        bits = [
            F.when(
                dot_product(vec, F.array(*[F.lit(x) for x in p])) >= 0,
                F.lit(1 << i),
            ).otherwise(F.lit(0))
            for i, p in enumerate(planes[b * bpb:(b + 1) * bpb])
        ]
        out = bits[0]
        for x in bits[1:]:
            out = out + x
        cols.append(out.cast("bigint"))
    return F.array(*cols)


def lsh_near_dup_pairs(embeddings: DataFrame, dim: int, k_bits: int = 16,
                       bands: int = 4, threshold: float = 0.9) -> DataFrame:
    """Near-duplicate ``(vec_id, embedding)`` pairs above cosine
    ``threshold`` via banded hyperplane LSH.

    The k-bit signature is split into ``bands`` sub-signatures; vectors
    sharing ANY band bucket become candidates (banding trades precision
    for recall exactly as in MinHash-LSH). Candidates are verified with
    the exact cosine. Each join is per-(band, bucket); at 100 TB the
    bucket histogram bounds the worst self-join quadratically by the
    largest bucket, not n².
    """
    if k_bits % bands != 0:
        raise ValueError(f"k_bits={k_bits} not divisible by bands={bands}")
    planes = hyperplanes(dim, k_bits)

    # Normalize each vector ONCE per row: candidate verification then
    # needs a single dot product per pair instead of dot + two norms —
    # HOFs run interpreted with no CSE, and pairs outnumber rows by
    # orders of magnitude, so per-pair expression count is the cost
    # driver (measured 11.6s → ~5s at sf0.1). Signs (and therefore
    # signatures) are unchanged by positive scaling. The norm must be
    # evaluated once per ROW, never inside the division lambda (the
    # HOF-CSE trap; measured 15.6s, WORSE than no normalization) —
    # unit_vector keeps it in argument position, immune to the
    # pushdown/collapse re-inlining found in r13 (functions/vectors.py).
    base = checkpoint(embeddings.select(
        F.col("vec_id").alias("id"),
        unit_vector(F.col("embedding")).alias("unit"),
        banded_signature_col(F.col("embedding"), planes, bands).alias("sigs"),
    ))

    # Candidate generation carries ONLY ids through the band fan-out and
    # self-join; unit vectors re-attach AFTER the pair set is deduped.
    # Payload-after-dedup is the scale shape: the banded self-join and
    # the distinct shuffle move 16-byte id pairs, never 512-byte
    # vectors, and each unique pair is verified exactly once (multi-band
    # collisions would otherwise be verified per band).
    # Per-band buckets (not one packed long) so the n-scaled signatures
    # of sim_lsh_hyperplane_scaled can exceed 63 total bits.
    banded = base.select(
        "id", F.posexplode("sigs").alias("band", "bucket")
    )

    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    units = base.select("id", "unit")
    return (
        pairs.join(units.select(F.col("id").alias("id_a"), F.col("unit").alias("ua")), "id_a")
        .join(units.select(F.col("id").alias("id_b"), F.col("unit").alias("ub")), "id_b")
        .select(
            "id_a", "id_b",
            dot_product(F.col("ua"), F.col("ub")).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cosine"))
    )
