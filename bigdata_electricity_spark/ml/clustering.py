"""KMeans clustering over the embeddings table (north-star ML extension).

The reference's ML surface is regression-only (MLOperations.scala:27-72);
clustering is the other half of the pyspark.ml story a corpus pipeline
needs — coarse quantization for IVF-style ANN (the `label` bucket the
similarity queries treat as given is exactly what this produces) and
topic-ish grouping for mixture control.

Scale notes: KMeans in pyspark.ml is iterative treeAggregate — each
iteration is one map-side pass + a driver-side centroid update of k×dim
doubles; no shuffle of the data itself. Cost scales linearly in rows and
centroids broadcast, so the shape survives 100 TB (init via k-means||,
itself distributed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def kmeans_cluster_sizes(embeddings: DataFrame, k: int = 8, seed: int = 42) -> DataFrame:
    """Cluster embeddings with seeded KMeans; return per-cluster sizes and
    centroid norms (cluster ids are arbitrary → rows-only check).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    data = embeddings.select(
        "vec_id", array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    model = KMeans(k=k, seed=seed, maxIter=20).fit(data)
    assigned = model.transform(data)
    return (
        assigned.groupBy(F.col("prediction").alias("cluster_id"))
        .agg(F.count(F.lit(1)).alias("n_points"))
        .orderBy("cluster_id")
    )


def lloyd_dataframe(points: DataFrame, dim: int, seed_ids: list[int], iters: int) -> DataFrame:
    """K-means Lloyd iterations over ``(vec_id, v)`` points as PURE
    DataFrame operations — no pyspark.ml, no RNG: centroids seed from
    fixed point ids, each round is (broadcast centroids → per-point
    nearest centroid by squared L2 → per-dimension mean), unrolled
    ``iters`` times into one lazy plan.

    FIXED-DIM REQUIREMENT (r10 ADVICE): the unrolled distance reads
    exactly ``dim`` elements per vector, so every vector must have the
    table's one constant dimension — a longer vector is silently
    truncated to ``dim`` terms, a shorter one contributes NULL d2
    (non-ANSI element_at). Callers read ``dim`` from the parquet
    footers (``loaders.vector_dim``), so building the plan runs no job.

    Determinism contract (what makes this oracle-checkable when
    `ml_kmeans_embeddings` is rows-only): seeding is by id, argmin ties
    break on centroid id, and centroids are ROUNDED to 1e-9 after every
    update — so both engines compare points against bit-identical
    centroids and partial-aggregation reorder noise (~1e-13) can never
    flip an assignment.

    Returns (id, cid, d2) after the final assignment. Scale shape: each
    round broadcasts the k centroids, assigns every point with the IVF's
    own map-side ``operators.similarity.nearest_centroid`` (vectors
    rejoin for the n winners only) and runs one groupBy (cid, dim) over
    exploded dims — (long, long, double) triples, never whole vectors;
    iterations multiply plan depth, not data size (chain
    localCheckpoint for iters ≫ 5).
    """
    assigned, _ = _lloyd_rounds(points, dim, seed_ids, iters)
    return assigned.select(F.col("vec_id").alias("id"), "cid", "d2")


def lloyd_centroids(points: DataFrame, dim: int, seed_ids: list[int], iters: int) -> DataFrame:
    """(cid, c): centroids AFTER ``iters`` Lloyd updates, same
    determinism contract as :func:`lloyd_dataframe` (id seeding, cid
    tie-break, 1e-9 rounding per update) — the trained coarse quantizer
    the IVF similarity path probes against. Same fixed-dim requirement."""
    _, cent = _lloyd_rounds(points, dim, seed_ids, iters)
    return cent


def _lloyd_rounds(points: DataFrame, dim: int, seed_ids: list[int], iters: int):
    from ..operators.similarity import nearest_centroid

    cent = points.filter(F.col("vec_id").isin(seed_ids)).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("c")
    )
    assigned = None
    for _ in range(iters):
        assigned = nearest_centroid(points, cent, dim)
        dims = assigned.join(points, "vec_id").select(
            "cid", F.posexplode("v").alias("i", "x"))
        cent = (
            dims.groupBy("cid", "i")
            .agg((F.floor(F.avg("x") * 1e9 + F.lit(0.5)) / 1e9).alias("m"))
            .groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("i", "m"))).alias("s"))
            .select("cid", F.transform("s", lambda st: st.getField("m")).alias("c"))
        )
    return assigned, cent
