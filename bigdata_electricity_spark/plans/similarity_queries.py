"""Similarity-search queries over embeddings (north-star extension).

The oracle computes cosine with explicit double math over list_zip so the
accumulation order matches Spark's sequential higher-order fold — results
agree to well below the rounding grain.
"""

from __future__ import annotations

import functools
import math

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.rounding import dround, hround
from ..functions.vectors import (
    cosine_similarity,
    cosine_similarity_unrolled,
    dot_product,
    l2_norm,
    unit_vector,
)
from ..materialise import checkpoint
from ..operators.dims import hint_dim
from ..operators.similarity import (
    brute_force_topk,
    bucketed_nearest_neighbor,
    nearest_centroid,
    pairwise_near_dups,
    pairwise_near_dups_sampled,
    probe_lists,
    seed_centroids,
)
from ..sources.loaders import load_table, parquet_row_count, vector_dim
from .registry import query

# DuckDB cosine between two FLOAT[] lists with double accumulation.
# NULL when either norm is zero — mirrors functions/vectors.py's
# cosine_similarity guard (DuckDB's x/0 is ±inf, Spark ANSI throws;
# NULL is the one value both engines can agree on for "no direction").
_DUCK_COS = """
CASE WHEN (sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
           * sqrt(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) > 0
     THEN list_sum(list_transform(list_zip({a}, {b}),
              p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
          / (sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             * sqrt(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
END
"""

# Pre-normalized variant for the bucketed pair queries: unit vectors are
# computed ONCE per row (mirrors operators/similarity._unit_base — the
# Spark side divides each element by the same sequentially-accumulated
# norm, so u_i is bit-identical across engines), and each pair costs one
# dot product. The norm lives in its own CTE column for the same reason
# Spark materializes it: one evaluation per row, not per element.
_DUCK_UNITS = """
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS unit
        FROM (
            SELECT vec_id, label, embedding,
                   sqrt(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
            FROM embeddings
        )
        WHERE nrm > 0
"""
_DUCK_UDOT = "list_sum(list_transform(list_zip(a.unit, b.unit), p -> p[1] * p[2]))"


@query(
    "sim_topk_bruteforce",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           floor(({_DUCK_COS.format(a='embedding', b='qv')}) * 1000000.0 + 0.5) / 1000000.0 AS cosine
    FROM embeddings, q
    WHERE vec_id <> 0
    ORDER BY {_DUCK_COS.format(a='embedding', b='qv')} DESC, vec_id ASC
    LIMIT 10
    """,
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for query vector vec_id=0.

    Exact ANN baseline: broadcast 1 query row, map-side score, TakeOrdered
    top-k — no shuffle of the embedding table.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, query_vec_id=0, k=10)


@query(
    "sim_bucketed_nn",
    oracle=f"""
    WITH u AS ({_DUCK_UNITS})
    SELECT a.vec_id AS vec_id,
           arg_max(b.vec_id, {_DUCK_UDOT}) AS nn_id,
           floor((MAX({_DUCK_UDOT})) * 1000000.0 + 0.5) / 1000000.0 AS cosine
    FROM u a
    JOIN u b ON a.label = b.label AND a.vec_id <> b.vec_id
    GROUP BY a.vec_id
    ORDER BY vec_id
    """,
)
def sim_bucketed_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: nearest neighbour within the same coarse bucket
    (label ≈ centroid assignment). Per-bucket self-join — bounded vs.
    brute force's all-pairs, but the bucket COUNT is fixed, so buckets
    grow with the corpus (r8 sf1 audit: 60×). Scale twin:
    `sim_ivf_scaled_nlist` (nlist = ⌈√n⌉ — bucket count scales)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return bucketed_nearest_neighbor(emb).orderBy("vec_id")


@query("sim_lsh_hyperplane")  # rows-only: signature buckets are seed/float-sign sensitive
def sim_lsh_hyperplane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH near-dup pairs (no precomputed buckets).

    The scale path when no IVF/label bucketing exists: 16-bit seeded
    hyperplane signatures, 4-band bucket join, exact-cosine verify
    (operators/lsh.py). Recall against the exhaustive ground truth is
    unit-tested (tests/test_lsh.py); bucket boundaries depend on float
    sign at ~0 so the pair set is declared rows-only for the oracle.

    Scaling note (r8 sf1 audit): 17.7× for 10× rows — the growth is the
    OUTPUT pair mass (identical replicated vectors land in identical
    buckets, pairs grow as replica²), which any correct near-dup pair
    listing must emit; candidate banding itself stays linear. At higher
    duplicate density raise k_bits/bands (bucket occupancy halves per
    bit) and emit clusters, not pairs.
    """
    from ..operators.lsh import lsh_near_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_near_dup_pairs(emb, dim=64, k_bits=16, bands=4, threshold=0.3)


@query("sim_lsh_hyperplane_scaled")  # rows-only: seed/float-sign sensitive
def sim_lsh_hyperplane_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane LSH whose signature LENGTH scales with the corpus:
    bits-per-band = max(4, ⌈log₂(n/64)⌉) (bucket occupancy pinned ≈64),
    8 bands — the scale twin of `sim_lsh_hyperplane`.

    The r9 density-controlled sweep re-diagnosed the baseline's 17.7×
    flag: with cross-replica near-dups REMOVED the output grew only
    ~10× but runtime stayed ~16× — so the growth was never output mass
    (r8's attribution). The cause is the same fixed-cardinality disease
    as label blocking: 16-bit signatures in 4-bit bands give 16 buckets
    per band FOREVER, so occupancy grows ∝ n and candidate pairs ∝ n².
    Scaling bits with n keeps bucket count ∝ n and candidates ∝ n·occ.

    The recall trade is explicit: longer bands lower per-band collision
    probability, partially offset here by doubling bands (8 vs 4).
    For production near-dup thresholds (cos ≥ 0.9) banded recall stays
    high (planted-fixture acceptance test, tests/test_lsh.py); at this
    demo corpus' 0.3 threshold the pair lists are sampling-grade on any
    banded scheme — near-orthogonal "neighbors" collide rarely no
    matter the banding, which is a property of the threshold, not the
    index.
    """
    from ..operators.lsh import lsh_near_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    # Signature sizing needs n BEFORE the plan runs; the parquet footers
    # already store it, so read them metadata-only instead of paying a
    # full count() scan per invocation (r9 VERDICT task 6 — the entry's
    # query plan now contains no count job at all).
    n = parquet_row_count(spark, f"{sf_dir}/embeddings.parquet")
    bits = max(4, math.ceil(math.log2(max(n, 128) / 64.0)))
    bands = 8
    return lsh_near_dup_pairs(
        emb, dim=64, k_bits=bands * bits, bands=bands, threshold=0.3
    )


@query("sim_lsh_clusters")  # rows-only: banded edges are seed/float-sign sensitive
def sim_lsh_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL semantic-dedup clusters, production path: hyperplane-LSH
    bands → exact-cosine verify → star-contraction closure → per-vector
    cluster id + keeper flag.

    The embedding-space sibling of `dedup_lsh_clusters` (r9): where
    `sim_semantic_clusters` closes over label-blocked exact pairs
    (Θ(block²) candidates) and `sim_lsh_hyperplane` emits a PAIR listing
    (output itself quadratic in duplicate density), this entry is the
    composition a 100 TB user runs — band-bounded candidates, exact
    verification (precision 1), O(log n) closure rounds, and ONE output
    row per vector. Rows-only (bucket boundaries are seed/float-sign
    sensitive); cluster-set equality to the exact recursive-CTE closure
    is pytest-proven on a planted high-cosine fixture
    (tests/test_lsh.py).
    """
    from ..operators.graph import connected_components
    from ..operators.lsh import lsh_near_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    # r10: size the signature with the corpus exactly like
    # `sim_lsh_hyperplane_scaled` (bits ∝ log n, occupancy pinned ≈64) —
    # the composed production path must not carry the fixed-16-bucket
    # disease its own pair-listing baseline was twinned for. n from the
    # parquet footers, no count() job.
    n = parquet_row_count(spark, f"{sf_dir}/embeddings.parquet")
    bits = max(4, math.ceil(math.log2(max(n, 128) / 64.0)))
    bands = 8
    pairs = lsh_near_dup_pairs(
        emb, dim=64, k_bits=bands * bits, bands=bands, threshold=0.3
    )
    nodes = emb.select(F.col("vec_id").alias("id"))
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    return (
        connected_components(nodes, edges)
        .select(
            F.col("id").alias("vec_id"),
            F.col("component").alias("cluster_id"),
            (F.col("id") == F.col("component")).alias("is_keeper"),
        )
        .orderBy("vec_id")
    )


@query(
    "sim_near_dup_pairs",
    oracle=f"""
    WITH u AS ({_DUCK_UNITS})
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           floor(({_DUCK_UDOT}) * 1000000.0 + 0.5) / 1000000.0 AS cosine
    FROM u a
    JOIN u b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_DUCK_UDOT} >= 0.3
    ORDER BY id_a, id_b
    """,
)
def sim_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within label buckets.

    The embedding-space dedup verifier. Threshold 0.3 because the
    synthetic embeddings are near-orthogonal (max within-bucket cosine
    ≈0.47, measured) — a production 0.9 cut would return zero rows on
    this corpus; 0.3 keeps the demo output in the observable range.

    exact, small-data (r8 sf1 audit, 63×): the label bucket has fixed
    cardinality, so per-bucket pairs grow quadratically with the
    corpus. Scale twin: `sim_lsh_hyperplane` (banded signatures —
    bucket occupancy halves per signature bit)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return pairwise_near_dups(emb, threshold=0.3)


@query(
    "sim_topk_batch",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qv
        FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)
    ), scored AS (
        SELECT q.query_id, e.vec_id,
               {_DUCK_COS.format(a='e.embedding', b='q.qv')} AS c
        FROM embeddings e, q
        WHERE e.vec_id <> q.query_id
    ), ranked AS (
        SELECT query_id, vec_id, c,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY c DESC, vec_id) AS rn
        FROM scored
    )
    SELECT query_id, CAST(rn AS INTEGER) AS rank, vec_id,
           floor(c * 1000000.0 + 0.5) / 1000000.0 AS cosine
    FROM ranked WHERE rn <= 3
    ORDER BY query_id, rank
    """,
)
def sim_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched ANN serving shape: top-3 cosine neighbours for 5 query
    vectors in ONE corpus scan (broadcast query batch, map-side scoring,
    per-query window top-k)."""
    from ..operators.similarity import brute_force_topk_batch

    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk_batch(emb, query_ids=[0, 1, 2, 3, 4], k=3)


@query(
    "sim_fuzzy_name_pairs",
    oracle="""
    WITH p AS (
        SELECT p_partkey, p_name, p_brand FROM part
    )
    SELECT a.p_brand,
           a.p_partkey AS a_key, b.p_partkey AS b_key,
           a.p_name AS a_name, b.p_name AS b_name,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_dist
    FROM p a JOIN p b
      ON a.p_brand = b.p_brand
     AND a.p_partkey < b.p_partkey
    WHERE abs(length(a.p_name) - length(b.p_name)) <= 1
      AND levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 2
    ORDER BY a_key, b_key
    """,
)
def sim_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string-similarity self-join: near-identical part names
    (edit distance 1-2, same brand) — the entity-resolution /
    catalog-dedup primitive. Edit distance 0 is excluded: exact
    duplicates belong to `dedup_exact_groups`.

    Scale shape: levenshtein runs on the DISTINCT-NAME vocabulary, not
    on row pairs — |vocab|² ≪ |rows|² whenever values repeat (64 names
    vs 20k parts at sf0.1; brand-only row-pair blocking took 9s in a
    full-registry timing sweep; this shape is sub-second). The vocab
    self-join is additionally banded on name length with the
    |len_a − len_b| ≤ 1 predicate folded into the join key (left side
    replicated to bands {len−1, len, len+1}), the surviving near-match
    name pairs broadcast back, and the row-level expansion is a pair of
    equi-joins keyed on (brand, name). At 100 TB the vocabulary table
    is the thing you LSH/q-gram further; the fact table only ever does
    hash joins.
    """
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand")
    names = p.select("p_name").distinct()
    nlen = F.length("p_name")
    na = names.select(
        F.col("p_name").alias("name_a"),
        F.explode(F.array(nlen - 1, nlen, nlen + 1)).alias("blk"),
    )
    nb = names.select(F.col("p_name").alias("name_b"), nlen.alias("blk"))
    npairs = (
        na.join(nb, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("edit_dist").between(1, 2))
        .select("name_a", "name_b", "edit_dist")
    )
    x = p.select("p_brand", F.col("p_partkey").alias("x_key"), F.col("p_name").alias("name_a"))
    y = p.select("p_brand", F.col("p_partkey").alias("y_key"), F.col("p_name").alias("name_b"))
    expanded = x.join(npairs, "name_a").join(y, ["p_brand", "name_b"])
    first_is_a = F.col("x_key") < F.col("y_key")
    return expanded.select(
        "p_brand",
        F.least("x_key", "y_key").alias("a_key"),
        F.greatest("x_key", "y_key").alias("b_key"),
        F.when(first_is_a, F.col("name_a")).otherwise(F.col("name_b")).alias("a_name"),
        F.when(first_is_a, F.col("name_b")).otherwise(F.col("name_a")).alias("b_name"),
        "edit_dist",
    ).orderBy("a_key", "b_key")


@query("sim_topk_arrow")  # rows-only: numpy pairwise summation rounds
# differently than the sequential HOF fold, so hash-parity with the
# SQL oracle is not guaranteed (equality to the HOF twin within 1e-9
# is unit-tested instead).
def sim_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 via the Arrow/numpy path — the
    vectorized Pandas-UDF twin of `sim_topk_bruteforce` (one BLAS
    matvec per Arrow batch vs a per-row interpreted fold). Same
    distribution shape: map-side scan, no shuffle before the k-row
    TakeOrdered merge."""
    from ..operators.similarity import brute_force_topk_arrow

    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk_arrow(emb, query_vec_id=0, k=10)


# Dequantized-embedding CTE: int8 affine quantize (identical math to
# quantize_embeddings_int8's oracle) then reconstruct — both engines
# produce bit-identical dequantized doubles, so quantized-search
# rankings are deterministic and hash-checkable.
_DUCK_DEQUANT = """
        SELECT vec_id, label, list_transform(
            list_zip(v, list_transform(v, x -> CASE WHEN sc = 0 THEN 0
                ELSE least(greatest(floor((x - mn) / sc + 0.5), 0), 255) END)),
            p -> mn + p[2] * sc) AS dq
        FROM (
            SELECT vec_id, label, v,
                   list_min(v) AS mn,
                   (list_max(v) - list_min(v)) / 255.0 AS sc
            FROM (SELECT vec_id, label,
                         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                  FROM embeddings)
        )
"""


@query(
    "quantized_recall_at_k",
    scale_class="certification",
    oracle=f"""
    WITH dq AS ({_DUCK_DEQUANT}),
    exact_scored AS (
        SELECT q.vec_id AS query_id, e.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                   {_DUCK_COS.format(a='e.embedding', b='q.embedding')} DESC, e.vec_id) AS rn
        FROM embeddings e JOIN embeddings q
          ON q.vec_id IN (0, 1, 2, 3, 4) AND e.vec_id <> q.vec_id
    ),
    quant_scored AS (
        SELECT q.vec_id AS query_id, e.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                   CASE WHEN (sqrt(list_sum(list_transform(e.dq, x -> x * x)))
                              * sqrt(list_sum(list_transform(q.dq, x -> x * x)))) > 0
                        THEN list_sum(list_transform(list_zip(e.dq, q.dq), p -> p[1] * p[2]))
                             / (sqrt(list_sum(list_transform(e.dq, x -> x * x)))
                                * sqrt(list_sum(list_transform(q.dq, x -> x * x))))
                   END DESC,
                   e.vec_id) AS rn
        FROM dq e JOIN dq q
          ON q.vec_id IN (0, 1, 2, 3, 4) AND e.vec_id <> q.vec_id
    )
    SELECT a.query_id AS query_id,
           CAST(COUNT(*) AS INT) AS n_overlap
    FROM (SELECT * FROM exact_scored WHERE rn <= 5) a
    JOIN (SELECT * FROM quant_scored WHERE rn <= 5) b
      ON a.query_id = b.query_id AND a.vec_id = b.vec_id
    GROUP BY a.query_id
    ORDER BY a.query_id
    """,
)
def quantized_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of int8-quantized retrieval vs full-precision exact
    search, for 5 query vectors — the acceptance test you run BEFORE
    shipping `quantize_embeddings_int8`'s 4× compression to an ANN
    serving tier: per query, how many of the true top-5 survive when
    both sides of the cosine are dequantized vectors.

    Both engines quantize→dequantize with identical floor-based math,
    so the quantized ranking (and thus the overlap count) is exactly
    reproducible — no tolerance needed. Shape: one broadcastable
    5-query join against the corpus for each ranking, window top-k per
    query, then an id-equality join of the two top-5 sets.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    mm = v.select(
        "vec_id", "v",
        F.array_min("v").alias("mn"),
        ((F.array_max("v") - F.array_min("v")) / F.lit(255.0)).alias("sc"),
    )
    qv = mm.select(
        "vec_id", "v", "mn", "sc",
        F.transform(
            "v",
            lambda x: F.when(F.col("sc") == 0, F.lit(0).cast("long")).otherwise(
                F.least(
                    F.greatest(
                        F.floor((x - F.col("mn")) / F.col("sc") + F.lit(0.5)),
                        F.lit(0).cast("long"),
                    ),
                    F.lit(255).cast("long"),
                )
            ),
        ).alias("q"),
    )
    dq = qv.select(
        "vec_id", "v",
        F.zip_with("v", "q", lambda x, qi: F.col("mn") + qi * F.col("sc")).alias("dq"),
    )

    def topk(df, vec_col):
        queries = df.filter(F.col("vec_id").isin([0, 1, 2, 3, 4])).select(
            F.col("vec_id").alias("query_id"), F.col(vec_col).alias("qvec")
        )
        scored = (
            df.crossJoin(F.broadcast(queries))
            .filter(F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id", "vec_id",
                # NULL for zero-norm sides (a dequantized zero vector
                # stays zero) — same guard as cosine_similarity.
                F.when(
                    (l2_norm(F.col(vec_col)) * l2_norm(F.col("qvec"))) > 0,
                    dot_product(F.col(vec_col), F.col("qvec"))
                    / (l2_norm(F.col(vec_col)) * l2_norm(F.col("qvec"))),
                ).alias("c"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("c"), F.asc("vec_id"))
        return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)

    exact = topk(dq.select("vec_id", "v"), "v").select("query_id", "vec_id")
    quant = topk(dq.select("vec_id", "dq"), "dq").select("query_id", "vec_id")
    return (
        exact.join(quant, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("int").alias("n_overlap"))
        .orderBy("query_id")
    )


@query(
    "sim_semantic_clusters",
    oracle=f"""
    WITH RECURSIVE u AS ({_DUCK_UNITS}),
    edges AS (
        SELECT a.vec_id AS s, b.vec_id AS d
        FROM u a JOIN u b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE {_DUCK_UDOT} >= 0.3
    ), sym AS (
        SELECT s, d FROM edges UNION ALL SELECT d AS s, s AS d FROM edges
    ), reach AS (
        SELECT vec_id AS id, vec_id AS comp FROM embeddings
        UNION
        SELECT sym.d AS id, reach.comp
        FROM reach JOIN sym ON sym.s = reach.id
        WHERE reach.comp < sym.d
    )
    SELECT component, COUNT(*) AS n_vectors FROM (
        SELECT id, MIN(comp) AS component FROM reach GROUP BY id
    )
    GROUP BY component
    ORDER BY component
    """,
)
def sim_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup clusters: transitive closure over the
    embedding-cosine near-dup graph (`sim_near_dup_pairs` edges →
    join-based connected components) — A~B and B~C collapse into one
    cluster even when A·C < threshold, exactly the text-side
    `dedup_cc_clusters` story replayed in embedding space. Cluster ids
    are the min reachable vec_id: deterministic, so the closure is
    oracle-checked by a recursive CTE over the identical unit-dot
    edges (bit-identical pre-normalized math on both engines).

    exact, small-data (r8 sf1 audit, 42× — the label-blocked edge
    generation is the quadratic term). Scale twin:
    `kmeans_dataframe_lloyd` (centroid clustering assigns every vector
    in one linear pass; at scale semantic dedup clusters via
    centroids or banded LSH edges, not exact pair graphs).
    """
    from ..operators.graph import connected_components

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = pairwise_near_dups(emb, threshold=0.3)
    nodes = emb.select(F.col("vec_id").alias("id"))
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    return (
        connected_components(nodes, edges)
        .groupBy("component")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("component")
    )


@query(
    "sim_ivf_probe_topk",
    oracle=f"""
    WITH pts AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    c0 AS (SELECT vec_id AS cid, v AS c FROM pts WHERE vec_id IN (0, 1, 2, 3)),
    s1 AS (
        SELECT p.vec_id, p.v, c.cid,
               list_sum(list_transform(list_zip(p.v, c.c),
                        q -> (q[1] - q[2]) * (q[1] - q[2]))) AS d2
        FROM pts p CROSS JOIN c0 c
    ),
    a1 AS (
        SELECT vec_id, v, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM s1
    ),
    c1 AS (
        SELECT cid, list(m ORDER BY i) AS c
        FROM (
            SELECT cid, i, floor(AVG(x) * 1000000000.0 + 0.5) / 1000000000.0 AS m
            FROM (SELECT cid, generate_subscripts(v, 1) AS i, unnest(v) AS x
                  FROM a1 WHERE rn = 1)
            GROUP BY cid, i
        )
        GROUP BY cid
    ),
    lists AS (
        SELECT vec_id, cid FROM (
            SELECT p.vec_id, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY p.vec_id ORDER BY
                       list_sum(list_transform(list_zip(p.v, c.c),
                                q -> (q[1] - q[2]) * (q[1] - q[2]))), c.cid) AS rn
            FROM pts p CROSS JOIN c1 c
        ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS qid, v AS qv FROM pts WHERE vec_id IN (5, 17, 42)),
    probe AS (
        SELECT qid, cid FROM (
            SELECT q.qid, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                       list_sum(list_transform(list_zip(q.qv, c.c),
                                p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS rn
            FROM q CROSS JOIN c1 c
        ) WHERE rn <= 2
    ),
    cand AS (
        SELECT q.qid, p.vec_id,
               {_DUCK_COS.format(a='p.v', b='q.qv')} AS cos
        FROM q
        JOIN probe pr ON pr.qid = q.qid
        JOIN lists l ON l.cid = pr.cid
        JOIN pts p ON p.vec_id = l.vec_id
        WHERE p.vec_id <> q.qid
    )
    SELECT qid AS query_id, rank, cand_id,
           floor(cos * 1000000.0 + 0.5) / 1000000.0 AS cosine
    FROM (
        SELECT qid, vec_id AS cand_id, cos,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
        FROM cand
    )
    WHERE rank <= 3
    ORDER BY query_id, rank
    """,
)
def sim_ivf_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-ANN with a LEARNED coarse quantizer, end to end: train k=4
    centroids (one deterministic Lloyd round, `ml/clustering.py`
    contract — id seeding, cid tie-break, 1e-9-rounded updates), build
    the inverted lists (every vector assigned to its nearest centroid),
    then serve 3 queries probing their nprobe=2 closest lists and
    taking exact-cosine top-3 within the probed candidates.

    This replaces `sim_bucketed_nn`'s given `label` bucket with the
    trained assignment — the full IVF story. Serving shape at 100 TB:
    centroids and the (query × probe) table broadcast (k × nprobe
    rows), candidate scoring touches ONLY the probed lists' partitions
    (with lists stored partitioned by cid, partition pruning does it),
    and the final top-k is a per-query WindowGroupLimit. Every stage is
    deterministic, so the whole index+serve path is hash-checked
    against the oracle's replication of the same rounds.
    """
    from ..ml.clustering import lloyd_centroids

    emb, dim = _vectors(spark, sf_dir), _dim(spark, sf_dir)
    cent = lloyd_centroids(emb, dim, seed_ids=[0, 1, 2, 3], iters=1)
    return _ivf_probe_top3(emb, cent, dim)


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v): the embeddings as double vectors."""
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )


def _dim(spark: SparkSession, sf_dir: str) -> int:
    """The embeddings' one vector dimension, from the parquet footers."""
    return vector_dim(spark, f"{sf_dir}/embeddings.parquet", "embedding")


def _ivf_probe_top3(emb: DataFrame, cent: DataFrame, dim: int) -> DataFrame:
    """The IVF tail `sim_ivf_probe_topk` and `sim_ivf_scaled_nlist` share:
    every vector in its nearest centroid's list, queries 5, 17 and 42
    probing their 2 nearest lists, exact cosine inside them with the
    query itself excluded, and each query's top 3 as (query_id, rank,
    cand_id, cosine)."""
    lists = emb.join(nearest_centroid(emb, cent, dim), "vec_id")
    queries = emb.filter(F.col("vec_id").isin([5, 17, 42]))
    probe = probe_lists(queries.withColumn("qv", F.col("v")), cent, 2, dim)
    cand = lists.join(F.broadcast(probe), "cid").filter(
        F.col("vec_id") != F.col("qid")
    ).select(
        "qid", "vec_id",
        cosine_similarity_unrolled(F.col("v"), F.col("qv"), dim).alias("cos"),
    )
    w_rank = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= 3)
        .select(
            F.col("qid").alias("query_id"),
            F.col("rank").cast("long").alias("rank"),
            F.col("vec_id").alias("cand_id"),
            (F.floor(F.col("cos") * 1e6 + F.lit(0.5)) / 1e6).alias("cosine"),
        )
        .orderBy("query_id", "rank")
    )


@query(
    "sim_ivf_scaled_nlist",
    oracle=f"""
    WITH pts AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    cent AS (
        SELECT vec_id AS cid, v AS c FROM pts
        QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id)
                <= (SELECT ceil(sqrt(COUNT(*))) FROM pts)
    ),
    lists AS (
        SELECT vec_id, cid FROM (
            SELECT p.vec_id, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY p.vec_id ORDER BY
                       list_sum(list_transform(list_zip(p.v, c.c),
                                q -> (q[1] - q[2]) * (q[1] - q[2]))), c.cid) AS rn
            FROM pts p CROSS JOIN cent c
        ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS qid, v AS qv FROM pts WHERE vec_id IN (5, 17, 42)),
    probe AS (
        SELECT qid, cid FROM (
            SELECT q.qid, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                       list_sum(list_transform(list_zip(q.qv, c.c),
                                p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS rn
            FROM q CROSS JOIN cent c
        ) WHERE rn <= 2
    ),
    cand AS (
        SELECT q.qid, p.vec_id,
               {_DUCK_COS.format(a='p.v', b='q.qv')} AS cos
        FROM q
        JOIN probe pr ON pr.qid = q.qid
        JOIN lists l ON l.cid = pr.cid
        JOIN pts p ON p.vec_id = l.vec_id
        WHERE p.vec_id <> q.qid
    )
    SELECT qid AS query_id, rank, cand_id,
           floor(cos * 1000000.0 + 0.5) / 1000000.0 AS cosine
    FROM (
        SELECT qid, vec_id AS cand_id, cos,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
        FROM cand
    )
    WHERE rank <= 3
    ORDER BY query_id, rank
    """,
)
def sim_ivf_scaled_nlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-ANN whose bucket COUNT scales with the corpus: nlist =
    ⌈√n⌉ seeded centroids (the nlist smallest vec_ids), nprobe=2 — the
    structural fix for the r8 sf1 finding that FIXED-cardinality
    buckets (label in `sim_bucketed_nn`, k=4 in `sim_ivf_probe_topk`)
    make per-bucket work quadratic as the corpus grows.

    With nlist ∝ √n, expected bucket occupancy is √n, so serving one
    query scores nprobe·√n candidates (sub-linear) and index build is
    the n×√n assignment map — embarrassingly parallel, combined
    map-side (`nearest_centroid`). Centroids stay deterministic seed
    vectors (no Lloyd round): quantizer QUALITY is certified by
    `sim_ivf_probe_topk` / `kmeans_dataframe_lloyd`; this entry
    certifies the SCALING mechanics, and seeding keeps nlist a pure
    function of the data so both engines derive the identical index.

    100 TB notes: the √n centroid table eventually outgrows a
    broadcast — serve then shuffle-joins assignment by cid (inverted
    lists stored partitioned by cid make probing partition pruning);
    recall at fixed nprobe decays as buckets shrink, so production
    raises nprobe ∝ log n alongside.
    """
    emb = _vectors(spark, sf_dir)
    # n from the parquet footers (metadata-only) — sizing the index must
    # not cost a scan (r9 VERDICT task 6 pattern).
    n = parquet_row_count(spark, f"{sf_dir}/embeddings.parquet")
    cent = seed_centroids(emb, int(math.ceil(math.sqrt(n))))
    return _ivf_probe_top3(emb, cent, _dim(spark, sf_dir))


@query(
    "sim_ivf_recall_profile",
    scale_class="certification",
    oracle=f"""
    WITH pts AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    cent AS (
        SELECT vec_id AS cid, v AS c FROM pts
        QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id)
                <= (SELECT ceil(sqrt(COUNT(*))) FROM pts)
    ),
    lists AS (
        SELECT vec_id, cid FROM (
            SELECT p.vec_id, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY p.vec_id ORDER BY
                       list_sum(list_transform(list_zip(p.v, c.c),
                                q -> (q[1] - q[2]) * (q[1] - q[2]))), c.cid) AS rn
            FROM pts p CROSS JOIN cent c
        ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS qid, v AS qv FROM pts WHERE vec_id IN (5, 17, 42)),
    gt AS (
        SELECT qid, vec_id FROM (
            SELECT q.qid, p.vec_id,
                   ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                       {_DUCK_COS.format(a='p.v', b='q.qv')} DESC, p.vec_id) AS rk
            FROM q JOIN pts p ON p.vec_id <> q.qid
        ) WHERE rk <= 10
    ),
    probes AS (
        SELECT np.nprobe, pr.qid, pr.cid FROM (
            SELECT q.qid, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                       list_sum(list_transform(list_zip(q.qv, c.c),
                                p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS rn
            FROM q CROSS JOIN cent c
        ) pr CROSS JOIN (VALUES (1), (2), (4)) AS np(nprobe)
        WHERE pr.rn <= np.nprobe
    ),
    cand AS (
        SELECT pr.nprobe, pr.qid, l.vec_id,
               CASE WHEN g.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
        FROM probes pr
        JOIN lists l ON l.cid = pr.cid
        LEFT JOIN gt g ON g.qid = pr.qid AND g.vec_id = l.vec_id
        WHERE l.vec_id <> pr.qid
    ),
    per_q AS (
        SELECT nprobe, qid,
               SUM(hit) / 10.0 AS recall,
               COUNT(*) / (SELECT CAST(COUNT(*) AS DOUBLE) FROM pts) AS frac
        FROM cand GROUP BY nprobe, qid
    )
    SELECT nprobe,
           floor(AVG(recall) * 1000000.0 + 0.5) / 1000000.0 AS avg_recall_at_10,
           floor(AVG(frac) * 1000000.0 + 0.5) / 1000000.0 AS avg_frac_scanned
    FROM per_q GROUP BY nprobe ORDER BY nprobe
    """,
)
def sim_ivf_recall_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN quality/cost CURVE, measured in one job: recall@10 and
    fraction-of-corpus-scanned for the ⌈√n⌉-centroid IVF at nprobe ∈
    {1, 2, 4}, against the exact brute-force top-10 ground truth.

    `sim_ivf_scaled_nlist` certifies the index's scaling mechanics;
    this entry certifies what the index BUYS — the number a 100 TB
    operator actually tunes nprobe with (recall rises toward 1, scanned
    fraction stays ≈ nprobe/√n instead of 1.0 for brute force). Fully
    deterministic (seeded centroids = the nlist smallest vec_ids, tie
    order pinned), so unlike most ANN artifacts the whole curve is
    DuckDB-oracled, not just row-counted.

    Plan shape: centroid table broadcast twice (assignment + probe),
    ground truth is 3 queries × n brute-force (bounded by the fixed
    query set, NOT n² — queries are broadcast), one aggregate per
    (nprobe, query). The nprobe fan-out is one `probe_lists` per
    nprobe over the 3 queries, never over corpus rows.
    """
    emb = _vectors(spark, sf_dir)
    # footer-only row count — no scan to size the index
    n = parquet_row_count(spark, f"{sf_dir}/embeddings.parquet")
    dim = _dim(spark, sf_dir)
    cent = seed_centroids(emb, int(math.ceil(math.sqrt(n))))
    lists = nearest_centroid(emb, cent, dim)
    queries = emb.filter(F.col("vec_id").isin([5, 17, 42]))
    gt = (
        emb.crossJoin(F.broadcast(
            queries.select(F.col("vec_id").alias("qid"), F.col("v").alias("qv"))))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "vec_id",
            cosine_similarity_unrolled(F.col("v"), F.col("qv"), dim).alias("cos"),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
            ),
        )
        .filter(F.col("rk") <= 10)
        .select("qid", "vec_id", F.lit(1).alias("hit"))
    )
    probes = functools.reduce(DataFrame.unionByName, (
        probe_lists(queries, cent, nprobe, dim).select(
            F.lit(nprobe).alias("nprobe"), "qid", "cid")
        for nprobe in (1, 2, 4)
    ))
    cand = (
        lists.join(F.broadcast(probes), "cid")
        .filter(F.col("vec_id") != F.col("qid"))
        .join(gt, ["qid", "vec_id"], "left")
        .select("nprobe", "qid", F.coalesce("hit", F.lit(0)).alias("hit"))
    )
    per_q = cand.groupBy("nprobe", "qid").agg(
        (F.sum("hit") / F.lit(10.0)).alias("recall"),
        (F.count(F.lit(1)) / F.lit(float(n))).alias("frac"),
    )
    return (
        per_q.groupBy("nprobe")
        .agg(
            (F.floor(F.avg("recall") * 1e6 + F.lit(0.5)) / 1e6)
            .alias("avg_recall_at_10"),
            (F.floor(F.avg("frac") * 1e6 + F.lit(0.5)) / 1e6)
            .alias("avg_frac_scanned"),
        )
        .orderBy("nprobe")
    )


@query(
    "graph_triangle_stats",
    oracle=f"""
    WITH u AS ({_DUCK_UNITS}),
    e AS (
        SELECT a.vec_id AS s, b.vec_id AS d
        FROM u a
        JOIN u b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE {_DUCK_UDOT} >= 0.3
    ),
    sym AS (SELECT s, d FROM e UNION ALL SELECT d AS s, s AS d FROM e),
    deg AS (SELECT s AS id, COUNT(*) AS dg FROM sym GROUP BY s),
    agg AS (
        SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
               (SELECT COUNT(*) FROM e) AS n_edges,
               (SELECT COUNT(*) FROM e e1
                JOIN e e2 ON e2.s = e1.d
                JOIN e e3 ON e3.s = e1.s AND e3.d = e2.d) AS n_triangles,
               (SELECT CAST(SUM((dg * (dg - 1)) // 2) AS BIGINT) FROM deg) AS n_wedges
    )
    SELECT n_nodes, n_edges, n_triangles, n_wedges,
           CASE WHEN n_wedges = 0 THEN 0.0
                ELSE floor(3.0 * n_triangles / n_wedges * 1000000.0 + 0.5) / 1000000.0
           END AS clustering_coeff
    FROM agg
    """,
)
def graph_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the embedding
    near-dup graph — the graph-analytics step past connectivity
    (`sim_semantic_clusters` tells you WHICH vectors merge; this tells
    you how clique-like the merged neighborhoods are, the standard
    sanity signal on a near-dup threshold: chains ≈ threshold too
    loose, cliques ≈ genuine duplicate groups).

    Join shape (the MapReduce triangle-counting classic): edges are
    oriented low-id → high-id, so each triangle a<b<c is found exactly
    once as wedge (a,b)+(b,c) closed by edge (a,c) — two self-joins of
    the edge table, no node-side adjacency list, wedge fan-out bounded
    by the orientation (each node's out-degree, not total degree).
    Wedge count comes from the symmetrized degree table; every number
    is exact-integer, so the whole profile is hash-checked.

    Scaling note (r8 sf1 audit, corrected): the 60× growth is the
    label-blocked EDGE GENERATION (sim_near_dup_pairs alone measured
    328 s of this entry's 330 s at sf1 — fixed-cardinality buckets,
    class 1 of docs/SCALING_SF1.md), not the wedge join; the triangle
    algorithm itself is the oriented-wedge optimum. Scale twin:
    `graph_triangle_stats_scaled` — the same exact profile over the
    ⌈√n⌉-bucket near-dup graph.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    e = pairwise_near_dups(emb, threshold=0.3).select(
        F.col("id_a").alias("s"), F.col("id_b").alias("d")
    )
    return _triangle_profile(spark, e)


def _triangle_profile(spark: SparkSession, e: DataFrame) -> DataFrame:
    """Exact (nodes, edges, triangles, wedges, clustering coeff) of an
    oriented (s < d) edge DataFrame — the MapReduce triangle-counting
    classic shared by `graph_triangle_stats` and its scaled twin."""
    e = checkpoint(e)
    sym = e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
    deg = sym.groupBy("s").agg(F.count(F.lit(1)).alias("dg"))
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.s") == F.col("e1.d"))
        .join(e3, (F.col("e3.s") == F.col("e1.s")) & (F.col("e3.d") == F.col("e2.d")))
        .count()
    )
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        ((F.sum(F.col("dg") * (F.col("dg") - 1)) / 2).cast("long")).alias("n_wedges"),
    ).first()
    n_edges = e.count()
    n_wedges = stats["n_wedges"] or 0
    gcc = 0.0 if n_wedges == 0 else math.floor(
        3.0 * tri / n_wedges * 1e6 + 0.5
    ) / 1e6
    return spark.createDataFrame(
        [(stats["n_nodes"], n_edges, tri, n_wedges, gcc)],
        "n_nodes bigint, n_edges bigint, n_triangles bigint, "
        "n_wedges bigint, clustering_coeff double",
    )


@query(
    "graph_triangle_stats_scaled",
    oracle=f"""
    WITH pts AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    cent AS (
        SELECT vec_id AS cid, v AS c FROM pts
        QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id)
                <= (SELECT ceil(sqrt(COUNT(*))) FROM pts)
    ),
    lists AS (
        SELECT vec_id, cid FROM (
            SELECT p.vec_id, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY p.vec_id ORDER BY
                       list_sum(list_transform(list_zip(p.v, c.c),
                                q -> (q[1] - q[2]) * (q[1] - q[2]))), c.cid) AS rn
            FROM pts p CROSS JOIN cent c
        ) WHERE rn = 1
    ),
    u0 AS ({_DUCK_UNITS}),
    u AS (
        SELECT u0.vec_id, l.cid, u0.unit
        FROM u0 JOIN lists l ON l.vec_id = u0.vec_id
    ),
    e AS (
        SELECT a.vec_id AS s, b.vec_id AS d
        FROM u a
        JOIN u b ON a.cid = b.cid AND a.vec_id < b.vec_id
        WHERE {_DUCK_UDOT} >= 0.3
    ),
    sym AS (SELECT s, d FROM e UNION ALL SELECT d AS s, s AS d FROM e),
    deg AS (SELECT s AS id, COUNT(*) AS dg FROM sym GROUP BY s),
    agg AS (
        SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
               (SELECT COUNT(*) FROM e) AS n_edges,
               (SELECT COUNT(*) FROM e e1
                JOIN e e2 ON e2.s = e1.d
                JOIN e e3 ON e3.s = e1.s AND e3.d = e2.d) AS n_triangles,
               (SELECT CAST(SUM((dg * (dg - 1)) // 2) AS BIGINT) FROM deg) AS n_wedges
    )
    SELECT n_nodes, n_edges, n_triangles, n_wedges,
           CASE WHEN n_wedges = 0 THEN 0.0
                ELSE floor(3.0 * n_triangles / n_wedges * 1000000.0 + 0.5) / 1000000.0
           END AS clustering_coeff
    FROM agg
    """,
)
def graph_triangle_stats_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle profile of the near-dup graph built over SCALED buckets —
    the scale twin of `graph_triangle_stats` (r8 sf1 audit): the
    baseline's cost is its label-blocked edge generation (fixed bucket
    count → per-bucket pairs quadratic); here edges come from pairs
    within the ⌈√n⌉-seeded-centroid assignment of
    `sim_ivf_scaled_nlist`, so bucket occupancy — and with it the edge
    join AND the wedge fan-out — scales as √n instead of n/|labels|.
    Same exact triangle algorithm (`_triangle_profile`), fully
    deterministic, hash-checked end to end.
    """
    pairs = pairwise_near_dups(_sqrt_n_assignment(spark, sf_dir), threshold=0.3,
                               bucket_col="cid")
    e = pairs.select(F.col("id_a").alias("s"), F.col("id_b").alias("d"))
    return _triangle_profile(spark, e)


def _sqrt_n_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding, cid): each embedding in its nearest of the
    ⌈√n⌉ seeded centroids — the coarse quantizer of
    `graph_triangle_stats_scaled` (mirrored by its DuckDB oracle). n
    comes from the parquet footers (metadata-only), not a count() job."""
    emb = load_table(spark, sf_dir, "embeddings")
    pts = _vectors(spark, sf_dir)
    n = parquet_row_count(spark, f"{sf_dir}/embeddings.parquet")
    cent = seed_centroids(pts, int(math.ceil(math.sqrt(n))))
    best = nearest_centroid(pts, cent, _dim(spark, sf_dir))
    return emb.select("vec_id", "embedding").join(best.select("vec_id", "cid"), "vec_id")


@query("graph_triangle_doulion")  # rows-only: hash-sampled estimator
def graph_triangle_doulion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOULION triangle estimate over the SAME √n-bucket near-dup graph
    as `graph_triangle_stats_scaled` — the approximate twin the exact
    entry needs at 100 TB (r9 VERDICT task 2).

    The exact oriented-wedge count is the optimal exact algorithm but
    honestly n^1.5 on this graph (31.8× ≈ 10√10 for the sf1f→sf10f
    decade, docs/SCALING_SF10.md row 1) — the cost is carrying unit
    vectors through every Θ(Σ bucket²) candidate pair plus the wedge
    join over the full edge set. DOULION (Tsourakakis et al., KDD'09)
    keeps each EDGE with probability 1/p and scales the sampled
    triangle count by p³ (wedges by p²); here the coin is
    pmod(xxhash64(id_a, id_b, seed), p) == 0 — deterministic, so the
    estimate is reproducible run-to-run. The gate sits INSIDE the
    ids-only candidate join (operators/similarity.py,
    pairwise_near_dups_sampled): candidates stream through codegen as
    16-byte rows, vectors attach for the 1/p survivors only, and the
    wedge join runs over the sampled edges — every super-linear term is
    divided by p (wedge terms by p²..p³).

    p scales as max(2, ⌈√n/64⌉): sampled VERIFY mass n^1.5/√n ∝ n, so
    the decade is ~linear where the exact twin is n^1.5. Estimator
    quality: Var(T̂) ≈ T·p³ + wedge co-terms (paper §3) — the output
    carries the raw sampled counts next to the scaled estimates so a
    consumer can see the support (a sampled_triangles of 3 means the
    estimate is noise; thousands means percent-level error).

    The r10 sf10f re-measure showed the twin inheriting ~700 s of
    INTERPRETED d2 fold from the shared assignment (HOFs are
    CodegenFallback: n·√n 64-element evaluations), dwarfing everything
    the sampling saves — so the estimator uses the Arrow/BLAS
    assignment (`nearest_centroid_udf`): one matmul per batch, ties to
    the smallest cid like the exact fold. ulp-tie assignments may
    differ from the oracled exact entries — an estimator-only liberty,
    documented there. Centroid pull is a bounded ⌈√n⌉-row collect (an
    index-build parameter, not a data path).

    Rows-only: the sampled edge subset is hash-seed-specific by design;
    estimate-within-band vs the exact profile is pytest-proven
    (tests/test_graph_triangles.py) on planted cliques and at p=1,
    where the estimator degenerates to the exact profile.
    """
    from ..operators.similarity import nearest_centroid_udf

    emb = load_table(spark, sf_dir, "embeddings")
    embd = emb.select(
        "vec_id",
        "embedding",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    n = parquet_row_count(spark, f"{sf_dir}/embeddings.parquet")
    nlist = int(math.ceil(math.sqrt(n)))
    cent_rows = [(r["cid"], r["c"]) for r in seed_centroids(embd, nlist).collect()]
    assigned = embd.select(
        "vec_id", "embedding", nearest_centroid_udf(cent_rows)(F.col("v")).alias("cid")
    )
    p = max(2, int(math.ceil(math.sqrt(n) / 64.0)))
    pairs = pairwise_near_dups_sampled(
        assigned, threshold=0.3, sample_mod=p, bucket_col="cid"
    )
    es = pairs.select(F.col("id_a").alias("s"), F.col("id_b").alias("d"))
    prof = _triangle_profile(spark, es)
    est_cc = F.when(
        F.col("n_wedges") > 0,
        F.floor(3.0 * F.col("n_triangles") * p / F.col("n_wedges") * 1e6 + 0.5) / 1e6,
    ).otherwise(F.lit(0.0))
    return prof.select(
        F.lit(p).alias("sample_mod"),
        F.col("n_edges").alias("sampled_edges"),
        F.col("n_triangles").alias("sampled_triangles"),
        F.col("n_wedges").alias("sampled_wedges"),
        (F.col("n_edges") * p).alias("est_edges"),
        (F.col("n_triangles") * p * p * p).alias("est_triangles"),
        (F.col("n_wedges") * F.lit(p) * p).alias("est_wedges"),
        est_cc.alias("est_clustering_coeff"),
    )


@query(
    "graph_pagerank_nations",
    oracle="""
    WITH edges AS (
        SELECT cn.n_name AS src, sn.n_name AS dst,
               SUM(l.l_extendedprice * (1 - l.l_discount)) AS rev
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
        JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
        GROUP BY 1, 2
    ), norm AS (
        SELECT src, dst, rev / SUM(rev) OVER (PARTITION BY src) AS w
        FROM edges
    ), nodes AS (
        SELECT n_name AS node, CAST(COUNT(*) OVER () AS DOUBLE) AS n
        FROM nation
    ), r0 AS (
        SELECT node, CAST(1.0 AS DOUBLE) / n AS r, n FROM nodes
    ), r1 AS (
        SELECT nd.node,
               CAST(0.15 AS DOUBLE) / nd.n
                 + CAST(0.85 AS DOUBLE) * COALESCE(SUM(e.w * p.r), CAST(0.0 AS DOUBLE)) AS r,
               nd.n
        FROM nodes nd
        LEFT JOIN norm e ON e.dst = nd.node
        LEFT JOIN r0 p   ON p.node = e.src
        GROUP BY nd.node, nd.n
    ), r2 AS (
        SELECT nd.node,
               CAST(0.15 AS DOUBLE) / nd.n
                 + CAST(0.85 AS DOUBLE) * COALESCE(SUM(e.w * p.r), CAST(0.0 AS DOUBLE)) AS r,
               nd.n
        FROM nodes nd
        LEFT JOIN norm e ON e.dst = nd.node
        LEFT JOIN r1 p   ON p.node = e.src
        GROUP BY nd.node, nd.n
    ), r3 AS (
        SELECT nd.node,
               CAST(0.15 AS DOUBLE) / nd.n
                 + CAST(0.85 AS DOUBLE) * COALESCE(SUM(e.w * p.r), CAST(0.0 AS DOUBLE)) AS r,
               nd.n
        FROM nodes nd
        LEFT JOIN norm e ON e.dst = nd.node
        LEFT JOIN r2 p   ON p.node = e.src
        GROUP BY nd.node, nd.n
    )
    SELECT node AS nation,
           floor(r * 100000000.0 + 0.5) / 100000000.0 AS pagerank
    FROM r3
    ORDER BY pagerank DESC, nation
    """,
)
def graph_pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 power iterations, damping 0.85) over the nation trade
    graph: an edge cust-nation → supp-nation weighted by revenue share.

    The expensive part — building the weighted edge list — is one pass
    over lineitem (the tpch_q7 join shape: nation aliases hinted
    broadcast, supplier/customer unhinted per the dims.py policy) and a
    single (src,dst) shuffle agg; at 100 TB the edge list
    is |nations|² ≤ 625 rows no matter the fact volume. Each power
    iteration is then a broadcast join of the tiny rank vector into the
    tiny edge list — the loop unrolls into one declarative plan, no
    driver-side collect. Fixed iteration count keeps the result
    hash-checkable (the DuckDB twin unrolls the same three CTEs);
    convergence-driven stopping lives in operators/graph.py's CC
    machinery instead.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")

    sn = nation.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("dst"))
    cn = nation.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("src"))
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(hint_dim(supplier, "supplier"), li.l_suppkey == supplier.s_suppkey)
        .join(hint_dim(customer, "customer"), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .groupBy("src", "dst")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
    )
    from pyspark.sql import Window

    norm = edges.select(
        "src", "dst", (F.col("rev") / F.sum("rev").over(Window.partitionBy("src"))).alias("w")
    )
    # |V| via a broadcast 1-row aggregate, not a global window — keeps
    # the plan free of unaggregated single-partition exchanges (the
    # r8 plan-scale sweep asserts none exist outside SCALE_TWINS).
    nodes = nation.select(F.col("n_name").alias("node")).crossJoin(
        F.broadcast(nation.agg(F.count(F.lit(1)).cast("double").alias("n")))
    )
    ranks = nodes.select("node", (F.lit(1.0) / F.col("n")).alias("r"))
    for _ in range(3):
        contrib = (
            norm.join(
                F.broadcast(ranks.select(F.col("node").alias("p_node"), "r")),
                F.col("src") == F.col("p_node"),
            )
            .groupBy("dst")
            .agg(F.sum(F.col("w") * F.col("r")).alias("mass"))
        )
        ranks = (
            nodes.join(F.broadcast(contrib), nodes.node == contrib.dst, "left")
            .select(
                "node",
                (
                    F.lit(0.15) / F.col("n")
                    + F.lit(0.85) * F.coalesce(F.col("mass"), F.lit(0.0))
                ).alias("r"),
            )
        )
    return ranks.select(
        F.col("node").alias("nation"), hround("r", 8).alias("pagerank")
    ).orderBy(F.desc("pagerank"), "nation")


@query(
    "embedding_random_projection",
    oracle="""
    WITH exploded AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) - 1 AS i,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
    ), mat AS (
        SELECT i.range AS i, j.range AS j,
               CASE WHEN substr(md5(CAST(i.range AS VARCHAR) || '_' || CAST(j.range AS VARCHAR)), 1, 1)
                         IN ('0','1','2','3','4','5','6','7')
                    THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END AS sgn
        FROM range(64) i, range(16) j
    )
    SELECT e.vec_id, m.j AS dim,
           floor((SUM(e.x * m.sgn) / SQRT(16.0)) * 100000.0 + 0.5) / 100000.0
             AS component
    FROM exploded e
    JOIN mat m ON e.i = m.i
    GROUP BY e.vec_id, m.j
    ORDER BY e.vec_id, dim
    """,
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction 64 -> 16 with an
    Achlioptas +-1 sign matrix derived from md5(i_j) — deterministic, so
    every executor (and the DuckDB twin) regenerates the SAME matrix
    from nothing instead of shipping seeded RNG state.

    Scale shape: the 64x16 sign matrix is a 1024-row broadcast;
    embeddings posexplode in-partition and join the matrix broadcast,
    then one (vec_id, dim) shuffle agg rebuilds the projected vectors.
    At 100 TB the matrix stays constant-size and the shuffle carries
    k=16 doubles per vector — the JL guarantee (distance preservation
    within 1+-eps) is what lets the ANN entries downstream run on 4x
    fewer bytes.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "vec_id", F.posexplode("embedding").alias("i", "x")
    ).select("vec_id", "i", F.col("x").cast("double").alias("x"))
    mat = (
        spark.range(64)
        .select(F.col("id").cast("int").alias("mi"))
        .crossJoin(spark.range(16).select(F.col("id").cast("long").alias("j")))
        .select(
            "mi",
            "j",
            F.when(
                F.substring(
                    F.md5(F.concat_ws("_", F.col("mi"), F.col("j"))), 1, 1
                ).isin(*"01234567"),
                F.lit(1.0),
            )
            .otherwise(F.lit(-1.0))
            .alias("sgn"),
        )
    )
    return (
        exploded.join(F.broadcast(mat), exploded.i == mat.mi)
        .groupBy("vec_id", F.col("j").alias("dim"))
        .agg(hround(F.sum(F.col("x") * F.col("sgn")) / F.sqrt(F.lit(16.0)), 5).alias("component"))
        .orderBy("vec_id", "dim")
    )


@query(
    "sim_hard_negatives",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, label AS q_label, embedding AS qv
        FROM embeddings WHERE vec_id IN (0, 1, 2)
    ), scored AS (
        SELECT q.query_id, e.vec_id, e.label,
               {_DUCK_COS.format(a='e.embedding', b='q.qv')} AS c
        FROM embeddings e, q
        WHERE e.label <> q.q_label
    ), ranked AS (
        SELECT query_id, vec_id, label, c,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY c DESC, vec_id) AS rn
        FROM scored
    )
    SELECT query_id, CAST(rn AS INTEGER) AS rank, vec_id,
           CAST(label AS INTEGER) AS neg_label,
           floor(c * 1000000.0 + 0.5) / 1000000.0 AS cosine
    FROM ranked WHERE rn <= 2
    ORDER BY query_id, rank
    """,
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    vector, the most-similar corpus vectors with a DIFFERENT label —
    the negatives closest to the decision boundary, which carry most of
    the gradient signal in a triplet/InfoNCE loss.

    Same serving shape as `sim_topk_batch` (anchors broadcast, one
    corpus scan, per-anchor window top-k) with the label-mismatch
    predicate folded into the broadcast join condition, so same-label
    rows are skipped at probe time, not post-filtered.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("qv"),
    )
    scored = emb.join(
        F.broadcast(q), emb.label != q.q_label
    ).select(
        "query_id",
        "vec_id",
        "label",
        cosine_similarity(F.col("embedding"), F.col("qv")).alias("c"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("c"), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 2)
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            "vec_id",
            F.col("label").cast("int").alias("neg_label"),
            hround("c", 6).alias("cosine"),
        )
        .orderBy("query_id", "rank")
    )


_MMR_DOT = "list_sum(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]))"
_R6 = "floor(({x}) * 1000000.0 + 0.5) / 1000000.0"


@query(
    "sim_mmr_diversified_topk",
    oracle=f"""
    WITH units AS ({_DUCK_UNITS}),
    q AS (SELECT unit AS qu FROM units WHERE vec_id = 0),
    cand AS (
        SELECT vec_id, unit,
               {_R6.format(x=_MMR_DOT.format(a='unit', b='qu'))} AS rel
        FROM units, q WHERE vec_id <> 0
        ORDER BY rel DESC, vec_id LIMIT 8
    ),
    s1 AS (SELECT * FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
    r2 AS (
        SELECT c.vec_id, c.unit, c.rel,
               {_R6.format(x="CAST(0.7 AS DOUBLE) * c.rel - CAST(0.3 AS DOUBLE) * "
                             + _MMR_DOT.format(a='c.unit', b='s1.unit'))} AS score
        FROM cand c, s1 WHERE c.vec_id <> s1.vec_id
    ),
    s2 AS (SELECT * FROM r2 ORDER BY score DESC, vec_id LIMIT 1),
    r3 AS (
        SELECT c.vec_id, c.rel,
               {_R6.format(x="CAST(0.7 AS DOUBLE) * c.rel - CAST(0.3 AS DOUBLE) * greatest("
                             + _MMR_DOT.format(a='c.unit', b='s1.unit') + ", "
                             + _MMR_DOT.format(a='c.unit', b='s2.unit') + ")")} AS score
        FROM cand c, s1, s2 WHERE c.vec_id <> s1.vec_id AND c.vec_id <> s2.vec_id
    ),
    s3 AS (SELECT * FROM r3 ORDER BY score DESC, vec_id LIMIT 1)
    SELECT CAST(1 AS BIGINT) AS rank, vec_id, rel AS relevance, rel AS mmr_score FROM s1
    UNION ALL SELECT CAST(2 AS BIGINT), vec_id, rel, score FROM s2
    UNION ALL SELECT CAST(3 AS BIGINT), vec_id, rel, score FROM s3
    ORDER BY rank
    """,
)
def sim_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance — diversified retrieval: greedily pick
    3 of the top-8 cosine candidates, each round maximizing
    0.7·relevance − 0.3·max-similarity-to-already-picked (λ=0.7). The
    dedup-aware cousin of plain top-k: near-duplicate candidates can't
    all win, which is exactly what a hard-negative / exemplar sampler
    wants. Greedy selection is inherently sequential, so the 3 rounds
    are UNROLLED as declarative plans (the `kmeans_dataframe_lloyd`
    idiom): each selected row is a 1-row broadcast into the next round —
    no collect, no Python loop over data.

    Determinism: every comparison key is 6-decimal-rounded BEFORE
    ordering (both engines round identically — hround/floor), ties break
    on vec_id; unit vectors and dots are the sequentially-accumulated
    forms shared with the bucketed-ANN entries, so scores match by
    construction. Scale: candidate generation is the brute-force top-k
    scan shape; everything after operates on ≤8 rows.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # zero vectors have no direction (see _DUCK_UNITS); unit_vector keeps
    # the norm fold once-per-row under pushdown/collapse (r13, see
    # functions/vectors.py)
    units = emb.filter(l2_norm(F.col("embedding")) > 0).select(
        "vec_id", unit_vector(F.col("embedding")).alias("unit")
    )
    q = units.filter(F.col("vec_id") == 0).select(F.col("unit").alias("qu"))
    cand = (
        units.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id", "unit",
            hround(dot_product(F.col("unit"), F.col("qu")), 6).alias("rel"),
        )
        .orderBy(F.desc("rel"), "vec_id")
        .limit(8)
    )
    s1 = cand.orderBy(F.desc("rel"), "vec_id").limit(1)
    s1b = s1.select(
        F.col("vec_id").alias("s1_id"), F.col("unit").alias("s1_unit")
    )
    r2 = (
        cand.crossJoin(F.broadcast(s1b))
        .filter(F.col("vec_id") != F.col("s1_id"))
        .select(
            "vec_id", "unit", "rel", "s1_id", "s1_unit",
            hround(
                F.lit(0.7) * F.col("rel")
                - F.lit(0.3) * dot_product(F.col("unit"), F.col("s1_unit")),
                6,
            ).alias("score"),
        )
    )
    s2 = r2.orderBy(F.desc("score"), "vec_id").limit(1)
    s2b = s2.select(
        "s1_id", "s1_unit",
        F.col("vec_id").alias("s2_id"), F.col("unit").alias("s2_unit"),
    )
    r3 = (
        cand.crossJoin(F.broadcast(s2b))
        .filter((F.col("vec_id") != F.col("s1_id")) & (F.col("vec_id") != F.col("s2_id")))
        .select(
            "vec_id", "rel",
            hround(
                F.lit(0.7) * F.col("rel")
                - F.lit(0.3)
                * F.greatest(
                    dot_product(F.col("unit"), F.col("s1_unit")),
                    dot_product(F.col("unit"), F.col("s2_unit")),
                ),
                6,
            ).alias("score"),
        )
    )
    s3 = r3.orderBy(F.desc("score"), "vec_id").limit(1)
    rank = lambda n: F.lit(n).cast("long").alias("rank")  # noqa: E731
    return (
        s1.select(rank(1), "vec_id", F.col("rel").alias("relevance"), F.col("rel").alias("mmr_score"))
        .unionByName(s2.select(rank(2), "vec_id", F.col("rel").alias("relevance"), F.col("score").alias("mmr_score")))
        .unionByName(s3.select(rank(3), "vec_id", F.col("rel").alias("relevance"), F.col("score").alias("mmr_score")))
        .orderBy("rank")
    )


def _rrf_list_duck(qid: int) -> str:
    return f"""
        SELECT vec_id,
               ROW_NUMBER() OVER (ORDER BY rel DESC, vec_id) AS rnk
        FROM (
            SELECT vec_id,
                   {_R6.format(x=_MMR_DOT.format(a='unit', b='qu'))} AS rel
            FROM units, (SELECT unit AS qu FROM units WHERE vec_id = {qid}) q
            WHERE vec_id NOT IN (0, 1)
            ORDER BY rel DESC, vec_id
            LIMIT 20
        )
    """


@query(
    "sim_rrf_fusion",
    oracle=f"""
    WITH units AS ({_DUCK_UNITS}),
    l0 AS ({_rrf_list_duck(0)}),
    l1 AS ({_rrf_list_duck(1)}),
    fused AS (
        SELECT COALESCE(l0.vec_id, l1.vec_id) AS vec_id,
               (CASE WHEN l0.rnk IS NULL THEN 0 ELSE 1 END
                + CASE WHEN l1.rnk IS NULL THEN 0 ELSE 1 END) AS n_lists,
               (COALESCE(CAST(1 AS DOUBLE) / (60 + l0.rnk), 0.0)
                + COALESCE(CAST(1 AS DOUBLE) / (60 + l1.rnk), 0.0)) AS rrf
        FROM l0 FULL OUTER JOIN l1 ON l0.vec_id = l1.vec_id
    )
    SELECT vec_id, CAST(n_lists AS INT) AS n_lists,
           floor(rrf * 100000000.0 + 0.5) / 100000000.0 AS rrf_score
    FROM fused
    ORDER BY rrf_score DESC, vec_id
    LIMIT 10
    """,
)
def sim_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (k=60) of two retrieval rankings — the
    standard hybrid-search combiner (it needs only RANKS, so it fuses
    heterogeneous scorers: two ANN queries here; BM25 + ANN in a real
    stack, see `text_bm25_topk`). Top-20 per query vector (vec 0 and
    vec 1), full-outer join on candidate id, score = Σ 1/(60+rank),
    absent list contributes 0.

    Scale shape: each ranking is the brute-force top-k scan; the
    row_number window runs AFTER the limit, over ≤20 rows (the one
    deliberately tiny single-partition spot — post-top-k, not on data).
    Ranks come from 6-decimal-rounded cosines with id tie-breaks, so
    both engines rank identically; the fused score rounds at 1e-8 (its
    values are sums of exact 1/(60+r) rationals ~0.016 apart).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # zero vectors have no direction (see _DUCK_UNITS); unit_vector keeps
    # the norm fold once-per-row under pushdown/collapse (r13, see
    # functions/vectors.py)
    units = emb.filter(l2_norm(F.col("embedding")) > 0).select(
        "vec_id", unit_vector(F.col("embedding")).alias("unit")
    )

    def ranking(qid: int) -> DataFrame:
        q = units.filter(F.col("vec_id") == qid).select(F.col("unit").alias("qu"))
        top = (
            units.filter(~F.col("vec_id").isin(0, 1))
            .crossJoin(F.broadcast(q))
            .select(
                "vec_id", hround(dot_product(F.col("unit"), F.col("qu")), 6).alias("rel")
            )
            .orderBy(F.desc("rel"), "vec_id")
            .limit(20)
        )
        w = Window.orderBy(F.desc("rel"), "vec_id")
        return top.select("vec_id", F.row_number().over(w).alias(f"rnk{qid}"))

    l0, l1 = ranking(0), ranking(1)
    fused = (
        l0.join(l1, "vec_id", "full_outer")
        .select(
            "vec_id",
            (
                F.col("rnk0").isNotNull().cast("int")
                + F.col("rnk1").isNotNull().cast("int")
            ).alias("n_lists"),
            (
                F.coalesce(F.lit(1.0) / (F.col("rnk0") + 60), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (F.col("rnk1") + 60), F.lit(0.0))
            ).alias("rrf"),
        )
    )
    return (
        fused.select("vec_id", "n_lists", hround(F.col("rrf"), 8).alias("rrf_score"))
        .orderBy(F.desc("rrf_score"), "vec_id")
        .limit(10)
    )


@query(
    "sim_filtered_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
        SELECT vec_id, label,
               floor(({_DUCK_COS.format(a='embedding', b='qv')}) * 1000000.0 + 0.5)
                   / 1000000.0 AS cosine
        FROM embeddings, q
        WHERE vec_id <> 0 AND label = 3
    )
    SELECT vec_id, label, cosine
    FROM scored
    ORDER BY cosine DESC, vec_id ASC
    LIMIT 5
    """,
)
def sim_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search: exact cosine top-5 among candidates
    passing a metadata predicate (label = 3) — the filter-then-search
    strategy every vector store needs when predicates are selective
    (search-then-filter over-fetches or starves when the filter kills
    most of the top-k; with a pushed-down filter the scored set IS the
    eligible set).

    The label predicate reaches the parquet scan (PushedFilters), so
    scoring cost scales with the filtered cardinality, not the corpus;
    the 1-row query vector broadcasts, the final top-5 is a
    TakeOrdered merge. Complements `sim_ivf_probe_topk` (which prunes
    by geometry; this prunes by metadata — real systems compose both).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    scored = (
        emb.filter((F.col("vec_id") != 0) & (F.col("label") == 3))
        .crossJoin(F.broadcast(query))
        .select(
            "vec_id",
            "label",
            cosine_similarity(F.col("embedding"), F.col("qv")).alias("cos_raw"),
        )
    )
    # Round-before-rank discipline (same as sim_mmr/sim_rrf/text_bm25):
    # rank on the 6-decimal-rounded cosine with vec_id tie-break so a
    # ~1e-13 cross-engine float divergence can't flip the top-5 cut.
    return (
        scored.select("vec_id", "label", hround("cos_raw", 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(5)
    )


KCENTER_ROUNDS = 4
_DUCK_UDOT_D = (
    "list_sum(list_transform(list_zip(d{p}.unit, c{r}.unit), p -> p[1] * p[2]))"
)


def _kcenter_oracle() -> str:
    """Unrolled farthest-point traversal; every min-distance is 1e-9
    half-up rounded before the argmax so float noise can't flip the
    selection (units are already double)."""
    r9 = lambda e: f"floor(({e}) * 1000000000.0 + 0.5) / 1000000000.0"  # noqa: E731
    r6 = lambda e: f"floor(({e}) * 1000000.0 + 0.5) / 1000000.0"  # noqa: E731
    sql = f"""
    WITH u AS MATERIALIZED ({_DUCK_UNITS}),
    c1 AS (SELECT vec_id, unit FROM u WHERE vec_id = 0),
    d1 AS MATERIALIZED (
        SELECT u.vec_id, u.unit,
               {r9('1.0 - list_sum(list_transform(list_zip(u.unit, c1.unit), p -> p[1] * p[2]))')} AS d
        FROM u, c1 WHERE u.vec_id <> 0
    )"""
    for r in range(2, KCENTER_ROUNDS + 2):
        p = r - 1
        sql += f""", c{r} AS (
        SELECT vec_id, unit FROM d{p} ORDER BY d DESC, vec_id LIMIT 1
    ), d{r} AS MATERIALIZED (
        SELECT d{p}.vec_id, d{p}.unit,
               least(d{p}.d, {r9(f'1.0 - {_DUCK_UDOT_D.format(p=p, r=r)}')}) AS d
        FROM d{p}, c{r} WHERE d{p}.vec_id <> c{r}.vec_id
    )"""
    selects = ["SELECT 1 AS sel_order, c1.vec_id, "
               f"{r6('(SELECT MAX(d) FROM d1)')} AS radius_after FROM c1"]
    for r in range(2, KCENTER_ROUNDS + 2):
        selects.append(
            f"SELECT {r} AS sel_order, c{r}.vec_id, "
            f"{r6(f'(SELECT MAX(d) FROM d{r})')} AS radius_after FROM c{r}"
        )
    return sql + "\n" + "\nUNION ALL\n".join(selects) + "\nORDER BY sel_order"


@query("sample_kcenter_greedy", oracle=_kcenter_oracle())
def sample_kcenter_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware data selection: k-center greedy (farthest-point
    traversal) over the embedding cloud in cosine distance — seed at
    vec 0, then 4 rounds of "pick the point farthest from everything
    selected", reporting each pick and the k-center coverage radius
    after it (monotone decreasing — the 2-approximation objective).

    The coreset/active-learning selection primitive: each round is one
    argmax (TakeOrdered) + one broadcast of the single new center +
    one map-side min-distance update — corpus never shuffles, state is
    one running distance column. Distances are 1e-9-rounded before the
    argmax and ties break on vec_id, so the greedy trajectory is
    hash-checkable (the kmeans/PCA/GD lockstep idiom). Lineage is
    truncated per round (lazy localCheckpoint).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # zero vectors have no direction (see _DUCK_UNITS); unit_vector keeps
    # the norm fold once-per-row under pushdown/collapse (r13, see
    # functions/vectors.py)
    units = checkpoint(emb.filter(l2_norm(F.col("embedding")) > 0).select(
        "vec_id",
        unit_vector(F.col("embedding")).alias("unit"),
    ))
    r9 = lambda c: F.floor(c * F.lit(1e9) + F.lit(0.5)) / F.lit(1e9)  # noqa: E731
    c1 = units.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("c_id"), F.col("unit").alias("c_unit")
    )
    d = checkpoint(
        units.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(c1))
        .select(
            "vec_id",
            "unit",
            r9(F.lit(1.0) - dot_product(F.col("unit"), F.col("c_unit"))).alias("d"),
        )
    )
    sel_rows = [
        c1.crossJoin(F.broadcast(d.agg(hround(F.max("d"), 6).alias("radius_after"))))
        .select(F.lit(1).alias("sel_order"), F.col("c_id").alias("vec_id"), "radius_after")
    ]
    for r in range(2, KCENTER_ROUNDS + 2):
        c = (
            d.orderBy(F.col("d").desc(), "vec_id")
            .limit(1)
            .select(F.col("vec_id").alias("c_id"), F.col("unit").alias("c_unit"))
        )
        d = checkpoint(
            d.crossJoin(F.broadcast(c))
            .filter(F.col("vec_id") != F.col("c_id"))
            .select(
                "vec_id",
                "unit",
                F.least(
                    F.col("d"),
                    r9(F.lit(1.0) - dot_product(F.col("unit"), F.col("c_unit"))),
                ).alias("d"),
            )
        )
        sel_rows.append(
            c.crossJoin(F.broadcast(d.agg(hround(F.max("d"), 6).alias("radius_after"))))
            .select(F.lit(r).alias("sel_order"), F.col("c_id").alias("vec_id"), "radius_after")
        )
    out = sel_rows[0]
    for s in sel_rows[1:]:
        out = out.unionByName(s)
    return out.orderBy("sel_order")


PQ_SUBSPACES = 8
PQ_SUBDIM = 8
_DUCK_L2 = (
    "list_sum(list_transform(list_zip({a}, {b}), q -> (q[1] - q[2]) * (q[1] - q[2])))"
)


@query(
    "sim_pq_adc_topk",
    oracle=f"""
    WITH pts AS MATERIALIZED (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    subs AS MATERIALIZED (
        SELECT vec_id, s, v[(s * {PQ_SUBDIM} + 1):(s * {PQ_SUBDIM} + {PQ_SUBDIM})] AS sv
        FROM pts, (SELECT unnest(generate_series(0, {PQ_SUBSPACES - 1})) AS s)
    ),
    c0 AS (SELECT s, vec_id AS cid, sv AS c FROM subs WHERE vec_id BETWEEN 0 AND 15),
    a1 AS (
        SELECT vec_id, s, sv, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                  ORDER BY {_DUCK_L2.format(a='sv', b='c')}, cid) AS rn
        FROM subs JOIN c0 USING (s)
    ),
    c1 AS MATERIALIZED (
        SELECT s, cid, list(m ORDER BY i) AS c
        FROM (
            SELECT s, cid, i,
                   floor(AVG(x) * 1000000000.0 + 0.5) / 1000000000.0 AS m
            FROM (SELECT s, cid, generate_subscripts(sv, 1) AS i, unnest(sv) AS x
                  FROM a1 WHERE rn = 1)
            GROUP BY s, cid, i
        )
        GROUP BY s, cid
    ),
    codes AS MATERIALIZED (
        SELECT vec_id, s, cid FROM (
            SELECT subs.vec_id, subs.s, c1.cid,
                   ROW_NUMBER() OVER (PARTITION BY subs.vec_id, subs.s
                                      ORDER BY {_DUCK_L2.format(a='subs.sv', b='c1.c')},
                                               c1.cid) AS rn
            FROM subs JOIN c1 USING (s)
        ) WHERE rn = 1
    ),
    qsub AS (SELECT vec_id AS qid, s, sv AS qv FROM subs WHERE vec_id IN (5, 17, 42)),
    lut AS MATERIALIZED (
        SELECT qid, s, cid, {_DUCK_L2.format(a='qv', b='c')} AS d
        FROM qsub JOIN c1 USING (s)
    ),
    adc AS (
        SELECT lut.qid, codes.vec_id,
               floor(SUM(lut.d) * 1000000000.0 + 0.5) / 1000000000.0 AS adc
        FROM codes JOIN lut ON codes.s = lut.s AND codes.cid = lut.cid
        WHERE codes.vec_id <> lut.qid
        GROUP BY lut.qid, codes.vec_id
    ),
    approx AS (
        SELECT qid, vec_id, adc,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS arank
        FROM adc
    ),
    reranked AS (
        SELECT qid, vec_id, l2,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY l2, vec_id) AS rank
        FROM (
            SELECT a.qid, a.vec_id,
                   floor({_DUCK_L2.format(a='p.v', b='q.v')} * 1000000000.0 + 0.5)
                       / 1000000000.0 AS l2
            FROM approx a
            JOIN pts p ON p.vec_id = a.vec_id
            JOIN pts q ON q.vec_id = a.qid
            WHERE a.arank <= 50
        )
    ),
    exact3 AS (
        SELECT qid, vec_id FROM (
            SELECT q.vec_id AS qid, p.vec_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                      ORDER BY {_DUCK_L2.format(a='p.v', b='q.v')},
                                               p.vec_id) AS rn
            FROM pts p JOIN pts q ON q.vec_id IN (5, 17, 42)
                                 AND p.vec_id <> q.vec_id
        ) WHERE rn <= 3
    )
    SELECT r.qid AS query_id, CAST(r.rank AS BIGINT) AS rank,
           r.vec_id AS cand_id,
           floor(r.l2 * 1000000.0 + 0.5) / 1000000.0 AS l2_dist,
           EXISTS (SELECT 1 FROM exact3 e
                   WHERE e.qid = r.qid AND e.vec_id = r.vec_id) AS exact_hit
    FROM reranked r WHERE r.rank <= 3
    ORDER BY query_id, rank
    """,
)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization with asymmetric distance (the remaining
    mainstream vector-index technique after IVF/int8/LSH): split the
    64-dim space into 8 subspaces, learn a k=16 codebook per subspace
    (one deterministic Lloyd round, id-seeded, 1e-9-rounded — the
    `sim_ivf_probe_topk` contract with the subspace as a KEY COLUMN,
    not 8 unrolled plans), encode every vector as 8 codes, then answer
    in the production two-stage shape: ADC generates 50 candidates
    (the query precomputes one (subspace x code) distance table; every
    candidate's score is 8 lookups summed — no original vectors
    touched during the scan, which is the point at 100 TB: the scan is
    code-table-sized), and only the 50 survivors are reranked with
    exact L2 to the final top-3. exact_hit flags each result against
    the true L2 top-3 — recall@3 is 6/9 on this (worst-case, random)
    embedding cloud, a real measured loss, hash-pinned.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    pts = checkpoint(emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    ))
    subs = checkpoint(
        pts.select(
            "vec_id",
            F.explode(F.sequence(F.lit(0), F.lit(PQ_SUBSPACES - 1))).alias("s"),
            "v",
        )
        .select("vec_id", "s", F.expr(f"slice(v, s * {PQ_SUBDIM} + 1, {PQ_SUBDIM})").alias("sv"))
    )

    def l2(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    c0 = subs.filter(F.col("vec_id").between(0, 15)).select(
        "s", F.col("vec_id").alias("cid"), F.col("sv").alias("c")
    )
    wvs = Window.partitionBy("vec_id", "s")
    a1 = (
        subs.join(F.broadcast(c0), "s")
        .withColumn("d2", l2(F.col("sv"), F.col("c")))
        .withColumn("rn", F.row_number().over(wvs.orderBy("d2", "cid")))
        .filter(F.col("rn") == 1)
    )
    c1 = checkpoint(
        a1.select("s", "cid", F.posexplode("sv").alias("i", "x"))
        .groupBy("s", "cid", "i")
        .agg(hround(F.avg("x"), 9).alias("m"))
        .groupBy("s", "cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "m"))), lambda t: t["m"]
            ).alias("c")
        )
    )
    codes = (
        subs.join(F.broadcast(c1), "s")
        .withColumn("d2", l2(F.col("sv"), F.col("c")))
        .withColumn("rn", F.row_number().over(wvs.orderBy("d2", "cid")))
        .filter(F.col("rn") == 1)
        .select("vec_id", "s", "cid")
    )
    qsub = subs.filter(F.col("vec_id").isin(5, 17, 42)).select(
        F.col("vec_id").alias("qid"), "s", F.col("sv").alias("qv")
    )
    lut = qsub.join(F.broadcast(c1), "s").select(
        "qid", "s", "cid", l2(F.col("qv"), F.col("c")).alias("d")
    )
    adc = (
        codes.join(F.broadcast(lut), ["s", "cid"])
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(hround(F.sum("d"), 9).alias("adc"))
    )
    approx = adc.withColumn(
        "arank", F.row_number().over(Window.partitionBy("qid").orderBy("adc", "vec_id"))
    ).filter(F.col("arank") <= 50)
    q3 = pts.filter(F.col("vec_id").isin(5, 17, 42)).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    reranked = (
        approx.join(pts, "vec_id")
        .join(F.broadcast(q3), "qid")
        .withColumn("l2", hround(l2(F.col("v"), F.col("qv")), 9))
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.partitionBy("qid").orderBy("l2", "vec_id"))
            .cast("long"),
        )
        .filter(F.col("rank") <= 3)
    )
    exact3 = (
        pts.crossJoin(F.broadcast(q3))
        .filter(F.col("vec_id") != F.col("qid"))
        .withColumn("d2", l2(F.col("v"), F.col("qv")))
        .withColumn(
            "rn", F.row_number().over(Window.partitionBy("qid").orderBy("d2", "vec_id"))
        )
        .filter(F.col("rn") <= 3)
        .select("qid", "vec_id", F.lit(True).alias("exact_hit"))
    )
    return (
        reranked.join(exact3, ["qid", "vec_id"], "left")
        .select(
            F.col("qid").alias("query_id"),
            "rank",
            F.col("vec_id").alias("cand_id"),
            hround("l2", 6).alias("l2_dist"),
            F.coalesce("exact_hit", F.lit(False)).alias("exact_hit"),
        )
        .orderBy("query_id", "rank")
    )


SNM_W = 3       # neighborhood width (rank distance)
SNM_MAXED = 3   # edit-distance verify threshold


@query(
    "sim_sorted_neighborhood_pairs",
    oracle=f"""
    WITH n AS (
        SELECT p_name, COUNT(*) AS n_parts FROM part GROUP BY p_name
    ), r AS (
        SELECT p_name, n_parts,
               ROW_NUMBER() OVER (ORDER BY p_name) AS rnk
        FROM n
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(b.rnk - a.rnk AS INTEGER) AS rank_dist,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_dist,
           CAST(a.n_parts AS BIGINT) AS n_parts_a,
           CAST(b.n_parts AS BIGINT) AS n_parts_b
    FROM r a JOIN r b ON b.rnk BETWEEN a.rnk + 1 AND a.rnk + {SNM_W}
    WHERE levenshtein(a.p_name, b.p_name) <= {SNM_MAXED}
    ORDER BY name_a, name_b
    """,
)
def sim_sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood entity resolution (Hernández-Stolfo SNM):
    sort the distinct-name vocabulary, compare each name only to its
    w=3 lexicographic neighbors, verify with edit distance ≤ 3 — the
    OTHER classic ER blocking strategy, complementing the hash/equality
    blocking of `sim_fuzzy_name_pairs` (SNM catches near-misses that
    share a PREFIX but no exact blocking key).

    Scale shape: ranks come from the two-phase prefix sum over the
    distinct-name table (count=1 per name), never a global window over
    rows; the neighborhood join is bucketized — each name emits its
    rank bucket and the next (floor(rank/w), +1), the self-join keys on
    the bucket, and the rank-distance filter trims to the true window —
    so every name meets at most ~4w candidates regardless of corpus
    size, the textbook SNM bound. Levenshtein runs on vocabulary pairs
    only (the `sim_fuzzy_name_pairs` lesson).
    """
    from ..operators.packing import exclusive_prefix_sums

    part = load_table(spark, sf_dir, "part")
    names = part.groupBy("p_name").agg(F.count(F.lit(1)).alias("n_parts"))
    ranked = exclusive_prefix_sums(
        names.withColumn("one", F.lit(1)), "p_name", ["one"]
    ).select(
        "p_name", "n_parts", (F.col("one_excl") + 1).cast("long").alias("rnk")
    )
    bucketed = ranked.withColumn("b", F.floor(F.col("rnk") / SNM_W))
    left = bucketed.select(
        F.col("p_name").alias("name_a"),
        F.col("n_parts").alias("n_parts_a"),
        F.col("rnk").alias("rnk_a"),
        F.explode(F.array(F.col("b"), F.col("b") + 1)).alias("jb"),
    )
    right = bucketed.select(
        F.col("p_name").alias("name_b"),
        F.col("n_parts").alias("n_parts_b"),
        F.col("rnk").alias("rnk_b"),
        F.col("b").alias("jb"),
    )
    cand = left.join(right, "jb").filter(
        (F.col("rnk_b") > F.col("rnk_a"))
        & (F.col("rnk_b") - F.col("rnk_a") <= SNM_W)
    )
    return (
        cand.withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("edit_dist") <= SNM_MAXED)
        .select(
            "name_a",
            "name_b",
            (F.col("rnk_b") - F.col("rnk_a")).cast("int").alias("rank_dist"),
            F.col("edit_dist").cast("int"),
            F.col("n_parts_a").cast("long"),
            F.col("n_parts_b").cast("long"),
        )
        .orderBy("name_a", "name_b")
    )


@query(
    "mining_association_rules",
    oracle=f"""
    WITH op AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n_orders AS (
        SELECT CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS n FROM op
    ), item AS (
        SELECT l_partkey, COUNT(*) AS c FROM op GROUP BY l_partkey
    ), pair AS (
        SELECT a.l_partkey AS ant, b.l_partkey AS con, COUNT(*) AS c_pair
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= 3
    )
    SELECT pair.ant, pair.con,
           CAST(pair.c_pair AS BIGINT) AS n_together,
           {dround('pair.c_pair / n_orders.n', 6)} AS support,
           {dround('CAST(pair.c_pair AS DOUBLE) / ia.c', 6)} AS confidence,
           {dround('(CAST(pair.c_pair AS DOUBLE) / ia.c) / (ic.c / n_orders.n)', 6)} AS lift
    FROM pair
    JOIN item ia ON ia.l_partkey = pair.ant
    JOIN item ic ON ic.l_partkey = pair.con, n_orders
    ORDER BY lift DESC, ant, con
    LIMIT 25
    """,
)
def mining_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets — the Apriori level-2 read
    of the co-purchase graph: for every DIRECTED part pair bought
    together in ≥3 orders, support P(A∧B), confidence P(B|A) and lift
    P(B|A)/P(B); top-25 by lift. `market_basket_pairs` reports the undirected
    co-occurrence COUNTS; this entry turns them into the
    recommendation-grade metrics (a lift > 1 pair co-occurs more than
    its popularity predicts). `market_basket_pairs` is the level-1
    support count this builds on — its docstring calls itself the first
    Apriori iteration; this entry is the second.

    Shape: the same bounded per-order fan-out (directed now — C(b,2)×2),
    one pair shuffle with a map-side-combinable count + a HAVING that
    prunes the long tail BEFORE the metric joins (the Apriori support
    prune), then two broadcast-sized joins against the item-frequency
    table and a scalar order count. Top-25 via TakeOrderedAndProject.
    """
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    n_orders = op.agg(
        F.countDistinct("l_orderkey").cast("double").alias("n")
    )
    item = op.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    a, b = op.alias("a"), op.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("ant"), F.col("b.l_partkey").alias("con")
        )
        .agg(F.count(F.lit(1)).alias("c_pair"))
        .filter(F.col("c_pair") >= 3)
    )
    ia = item.select(F.col("l_partkey").alias("ant"), F.col("c").alias("c_ant"))
    ic = item.select(F.col("l_partkey").alias("con"), F.col("c").alias("c_con"))
    conf = F.col("c_pair").cast("double") / F.col("c_ant")
    return (
        pair.join(F.broadcast(ia), "ant")
        .join(F.broadcast(ic), "con")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "ant",
            "con",
            F.col("c_pair").cast("long").alias("n_together"),
            hround(F.col("c_pair") / F.col("n"), 6).alias("support"),
            hround(conf, 6).alias("confidence"),
            hround(conf / (F.col("c_con") / F.col("n")), 6).alias("lift"),
        )
        .orderBy(F.desc("lift"), "ant", "con")
        .limit(25)
    )


# Shared by sim_incremental_batch and sim_index_roundtrip: the relation
# depends only on (corpus, batch, nlist seeding, nprobe, k) — whether
# the index is fresh lineage or a cold parquet reload is invisible to
# it, which is exactly what sharing the oracle verbatim certifies.
_SIM_INCR_ORACLE = f"""
    WITH pts AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    corpus AS (SELECT * FROM pts WHERE vec_id % 7 <> 0),
    batch  AS (SELECT * FROM pts WHERE vec_id % 7 = 0),
    cent AS (
        SELECT vec_id AS cid, v AS c FROM corpus
        QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id)
                <= (SELECT ceil(sqrt(COUNT(*))) FROM corpus)
    ),
    lists AS (
        SELECT vec_id, cid FROM (
            SELECT p.vec_id, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY p.vec_id ORDER BY
                       list_sum(list_transform(list_zip(p.v, c.c),
                                q -> (q[1] - q[2]) * (q[1] - q[2]))), c.cid) AS rn
            FROM corpus p CROSS JOIN cent c
        ) WHERE rn = 1
    ),
    probe AS (
        SELECT qid, cid FROM (
            SELECT b.vec_id AS qid, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
                       list_sum(list_transform(list_zip(b.v, c.c),
                                p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS rn
            FROM batch b CROSS JOIN cent c
        ) WHERE rn <= 2
    ),
    cand AS (
        SELECT b.vec_id AS qid, p.vec_id AS mid,
               {{cos}} AS cos
        FROM batch b
        JOIN probe pr ON pr.qid = b.vec_id
        JOIN lists l ON l.cid = pr.cid
        JOIN pts p ON p.vec_id = l.vec_id
    )
    SELECT qid AS vec_id, rank, mid AS match_id,
           floor(cos * 1000000.0 + 0.5) / 1000000.0 AS cosine
    FROM (
        SELECT qid, mid, cos,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, mid) AS rank
        FROM cand
    )
    WHERE rank <= 3
    ORDER BY vec_id, rank
    """.format(cos=_DUCK_COS.format(a="p.v", b="b.v"))


def _incr_corpus_batch(spark: SparkSession, sf_dir: str):
    """(corpus, batch, nlist, dim, par, n_batch) for the incremental
    entries — n_corpus AND n_batch from the parquet footer (ids are
    dense 0..n-1), no scan; n_batch feeds serve_ivf_topk's broadcast
    bound (r11 VERDICT task 3) so an oversized batch falls back to
    shuffle joins instead of broadcasting through the driver."""
    emb = _vectors(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") % 7 != 0)
    batch = emb.filter(F.col("vec_id") % 7 == 0)
    n_total = parquet_row_count(spark, f"{sf_dir}/embeddings.parquet")
    n_batch = (n_total + 6) // 7
    n_corpus = n_total - n_batch
    nlist = int(math.ceil(math.sqrt(n_corpus)))
    dim = _dim(spark, sf_dir)
    par = spark.sparkContext.defaultParallelism
    return corpus, batch, nlist, dim, par, n_batch, n_corpus


def _incr_format(served: DataFrame) -> DataFrame:
    return served.select(
        F.col("qid").alias("vec_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("mid").alias("match_id"),
        (F.floor(F.col("cos") * 1e6 + F.lit(0.5)) / 1e6).alias("cosine"),
    ).orderBy("vec_id", "rank")


@query("sim_incremental_batch", oracle=_SIM_INCR_ORACLE)
def sim_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental embedding ingest: every NEW-batch vector (vec_id % 7
    == 0, ~14%) bulk-retrieves its top-3 exact-cosine corpus neighbors
    through a corpus-only IVF index — the embedding sibling of
    `dedup_incremental_batch`, and the BULK-serve shape the other IVF
    entries (which serve 3 fixed queries) do not exercise.

    Index side (reusable across batches in production — corpus-only by
    construction): nlist = ceil(sqrt(n_corpus)) seeded centroids (the
    nlist smallest corpus vec_ids), corpus inverted lists assigned via
    the map-side min(struct(d2, cid)) aggregate (never shuffles the
    n x sqrt(n) scored stream). Serve side: the batch probes its
    nprobe=2 nearest lists; probe ranking runs on SKINNY (qid, cid, d2)
    rows — query vectors rejoin only for the |batch| x 2 winners, so no
    vector payload rides the ranking shuffle. Candidates score exact
    cosine inside the probed lists; per-query top-3 is a window over
    candidate rows (output-bounded). A batch vector whose two probed
    lists are empty yields no rows — possible only when buckets
    outnumber occupied cells; both engines drop it identically.

    n_corpus derives from the parquet footer row count (ids are dense
    0..n-1 in this testdata): no scan spent sizing the index.

    Measured at sf1f (10× bench SF): 47.8 s as first written → 14.3 s
    cold-session / 5.3 s warm after three r10 fixes, each its own
    lesson: (1) unrolled fixed-dim d2 replaces the interpreted HOF fold
    in the n×√n index build (bit-identical — functions/vectors.py);
    (2) norms precompute once per vector so candidates pay one dot,
    not three sums; (3) EXPLICIT repartition counts on the build and
    serve stages — the work is compute-bound on ~60 KB partitions,
    which AQE's byte-based coalescing wrongly serializes (measured: a
    single 21 s task; repartition("cid") without a count got coalesced
    back to 6). The BLAS argmin twin exists for estimator entries but
    differs by float ulps; oracled entries stay expression-exact. In
    production the build amortizes across every batch the index
    serves; the per-batch increment is the serve term
    (|batch| × nprobe·√n dots).

    BROADCAST BOUND (r10 ADVICE, IMPLEMENTED r12 — r11 VERDICT task 3):
    the entry passes the footer-derived batch row count to
    serve_ivf_topk's ``n_batch``; batches above the 100k-row threshold
    fall back to hinted SHUFFLE joins for the probe winners and the
    query-vector table (broadcasting 1/7 of a 100 TB corpus would blow
    any driver limit), while bounded micro-batches keep the broadcast
    plan. Both paths produce the identical relation — forced and
    plan-asserted in tests/test_dedup_similarity.py.

    Composition of ``build_ivf_index`` (corpus-only, materialize-once)
    and ``serve_ivf_topk`` (per-batch) — `sim_index_roundtrip` persists
    the index to parquet and serves the same batch from a cold reload,
    certifying the amortization claim the way the dedup side does.
    """
    from ..operators.similarity import build_ivf_index, serve_ivf_topk

    corpus, batch, nlist, dim, par, n_batch, n_corpus = _incr_corpus_batch(spark, sf_dir)
    index = build_ivf_index(corpus, nlist, dim, par, n_corpus=n_corpus)
    return _incr_format(
        serve_ivf_topk(index, batch, k=3, nprobe=2, par=par, n_batch=n_batch)
    )


@query("sim_index_roundtrip", oracle=_SIM_INCR_ORACLE,
       scale_class="certification")
def sim_index_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persistence certification for the IVF embedding index (r10
    VERDICT task 3 — the embedding sibling of `dedup_index_roundtrip`):
    the corpus-only index (centroids + inverted lists with precomputed
    norms, `operators/similarity.py::build_ivf_index`) is WRITTEN to
    parquet, RELOADED cold, and the batch is served entirely from the
    reloaded copies — proving the "build amortizes across batches"
    claim `sim_incremental_batch` makes: nothing about the top-k
    relation depends on in-session lineage, so production pays the
    ~√n·n build once and each batch pays only the serve term.

    Shares `sim_incremental_batch`'s oracle VERBATIM — same relation
    through a second execution topology (fresh build vs cold reload).
    Norms persist as plain doubles (parquet doubles are exact), so the
    reloaded cosine denominators are bit-identical to fresh lineage. At
    100 TB the lists would be WRITTEN partitioned/bucketed by cid so a
    probe is partition-pruned I/O, and centroids cached on the serving
    cluster; plain parquet keeps the entry engine-portable. Build
    parameters travel as a JSON manifest beside the parquet and are
    restored into the reloaded dict, like the dedup index's.

    Measured at sf1f (r11): build+persist 6.4 s once; SERVE-ONLY from
    the cold reload 6.9 s warm / 8.9 s first pass for the 2,858-vector
    batch (~2.4 ms/query) — the amortization the incremental entry
    claims, now a number.
    """
    import json
    import os
    import shutil

    from ..operators.similarity import build_ivf_index, serve_ivf_topk
    from ..sources.sinks import run_dir

    corpus, batch, nlist, dim, par, n_batch, n_corpus = _incr_corpus_batch(spark, sf_dir)
    base = run_dir("ivf_index", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    built = build_ivf_index(corpus, nlist, dim, par, n_corpus=n_corpus)
    tables = {k: v for k, v in built.items() if isinstance(v, DataFrame)}
    params = {k: v for k, v in built.items() if not isinstance(v, DataFrame)}
    for name, df in tables.items():
        df.write.mode("overwrite").parquet(f"{base}/{name}")
    os.makedirs(base, exist_ok=True)
    with open(f"{base}/manifest.json", "w") as fh:
        json.dump(params, fh)
    with open(f"{base}/manifest.json") as fh:
        loaded = json.load(fh)
    loaded.update({name: spark.read.parquet(f"{base}/{name}") for name in tables})
    return _incr_format(
        serve_ivf_topk(loaded, batch, k=3, nprobe=2, par=par, n_batch=n_batch)
    )

@query("streaming_incremental_sim", oracle=_SIM_INCR_ORACLE)
def streaming_incremental_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `sim_incremental_batch` (r11 VERDICT task 5 —
    closes the embedding-side triad the text side already has:
    batch probe / streaming foreachBatch gate / persisted-index cold
    reload): the new-vector stream (vec_id % 7 == 0) arrives via
    ``readStream`` and every micro-batch retrieves its top-3
    exact-cosine corpus neighbors THROUGH THE PERSISTED IVF INDEX
    inside ``foreachBatch``, the per-batch results appended to a
    parquet snapshot — the production embedding-ingest topology
    (vectors-on-arrival → ANN gate → route or flag) on the real
    streaming engine.

    The index is built ONCE from the corpus, written to parquet with
    its JSON manifest, and every micro-batch serves from the COLD
    RELOAD (`build_ivf_index`/`serve_ivf_topk`, the same
    materialize-once seam `sim_index_roundtrip` certifies; the manifest
    round-trip is asserted before the stream starts). Shares
    `sim_incremental_batch`'s oracle VERBATIM: each batch vector
    appears exactly once across micro-batches and its top-k depends
    only on that vector plus the static index, so the final snapshot
    is micro-batch-boundary-invariant (pinned by the two-micro-batch
    pytest, the `streaming_incremental_dedup` pattern). Micro-batches
    are bounded by construction — the broadcast serve path is the
    per-batch contract; a bulk caller passes n_batch for the shuffle
    fallback.
    """
    import json
    import os
    import shutil

    from ..operators.similarity import build_ivf_index, serve_ivf_topk
    from ..sources.sinks import run_dir

    corpus, _, nlist, dim, par, _, n_corpus = _incr_corpus_batch(spark, sf_dir)
    base = run_dir("stream_incr_sim", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    out = f"{base}/flags"
    built = build_ivf_index(corpus, nlist, dim, par, n_corpus=n_corpus)
    tables = {k: v for k, v in built.items() if isinstance(v, DataFrame)}
    params = {k: v for k, v in built.items() if not isinstance(v, DataFrame)}
    for name, df in tables.items():
        df.write.mode("overwrite").parquet(f"{base}/index/{name}")
    os.makedirs(f"{base}/index", exist_ok=True)
    with open(f"{base}/index/manifest.json", "w") as fh:
        json.dump(params, fh)
    with open(f"{base}/index/manifest.json") as fh:
        loaded = json.load(fh)
    if loaded["nlist"] != nlist or loaded["dim"] != dim:
        raise ValueError(
            f"IVF manifest round-trip mismatch: built (nlist={nlist}, "
            f"dim={dim}), reloaded ({loaded['nlist']}, {loaded['dim']}) — "
            "refusing to serve micro-batches from a wrong-parameter index"
        )
    loaded.update(
        {name: spark.read.parquet(f"{base}/index/{name}") for name in tables}
    )

    emb_static = load_table(spark, sf_dir, "embeddings")
    stream = (
        spark.readStream.schema(emb_static.schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf_dir)
        .filter(F.col("vec_id") % 7 == 0)
    )

    def serve_batch(batch_df, batch_id: int) -> None:
        b = batch_df.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
        # BROADCAST BOUND inside the stream (r13): micro-batches are
        # bounded by the trigger policy in production, but the policy is
        # the CALLER's — a single oversized input file arrives as one
        # oversized micro-batch (measured: the sf100f corpus is one
        # 761 MB file → a 286k-vector "micro"-batch). foreachBatch hands
        # us a materialized bounded batch, so counting IT (not the
        # corpus) is one cheap job per trigger and lets serve_ivf_topk's
        # threshold demote oversized batches to the hinted shuffle plan
        # instead of broadcasting an unbounded query table. The batch-
        # mode entries keep their footer-derived n_batch (no count job);
        # this count is per-micro-batch by construction.
        (
            _incr_format(
                serve_ivf_topk(
                    loaded, b, k=3, nprobe=2, par=par, n_batch=b.count()
                )
            )
            .write.mode("append")
            .parquet(out)
        )

    query_handle = (
        stream.writeStream.outputMode("append").foreachBatch(serve_batch).start()
    )
    try:
        query_handle.processAllAvailable()
    finally:
        query_handle.stop()
    return spark.read.parquet(out).orderBy("vec_id", "rank")


_SIM_REFRESH_ORACLE = f"""
    WITH pts AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    corpus0 AS (SELECT * FROM pts WHERE vec_id % 7 NOT IN (0, 6)),
    delta   AS (SELECT * FROM pts WHERE vec_id % 7 = 6),
    batch   AS (SELECT * FROM pts WHERE vec_id % 7 = 0),
    cent AS (
        SELECT vec_id AS cid, v AS c FROM corpus0
        QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id)
                <= (SELECT ceil(sqrt(COUNT(*))) FROM corpus0)
    ),
    allpts AS (SELECT * FROM corpus0 UNION ALL SELECT * FROM delta),
    lists AS (
        SELECT vec_id, cid FROM (
            SELECT p.vec_id, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY p.vec_id ORDER BY
                       list_sum(list_transform(list_zip(p.v, c.c),
                                q -> (q[1] - q[2]) * (q[1] - q[2]))), c.cid) AS rn
            FROM allpts p CROSS JOIN cent c
        ) WHERE rn = 1
    ),
    probe AS (
        SELECT qid, cid FROM (
            SELECT b.vec_id AS qid, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
                       list_sum(list_transform(list_zip(b.v, c.c),
                                p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS rn
            FROM batch b CROSS JOIN cent c
        ) WHERE rn <= 2
    ),
    cand AS (
        SELECT b.vec_id AS qid, p.vec_id AS mid,
               {{cos}} AS cos
        FROM batch b
        JOIN probe pr ON pr.qid = b.vec_id
        JOIN lists l ON l.cid = pr.cid
        JOIN pts p ON p.vec_id = l.vec_id
    )
    SELECT qid AS vec_id, rank, mid AS match_id,
           floor(cos * 1000000.0 + 0.5) / 1000000.0 AS cosine
    FROM (
        SELECT qid, mid, cos,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, mid) AS rank
        FROM cand
    )
    WHERE rank <= 3
    ORDER BY vec_id, rank
    """.format(cos=_DUCK_COS.format(a="p.v", b="b.v"))


@query("sim_ivf_epoch_refresh", oracle=_SIM_REFRESH_ORACLE)
def sim_ivf_epoch_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-refresh ingest for the IVF index (r12 VERDICT task 2 —
    the warm-start docs/SCALING_SF10.md finding 6 promised): the
    epoch-0 corpus (vec_id % 7 ∉ {0, 6}) builds its index ONCE; the
    next epoch's delta (vec_id % 7 == 6, ~14%) is folded in by
    `operators/similarity.py::refresh_ivf_index` — the delta vectors
    assign to the PREVIOUS epoch's frozen centroids (warm start: no
    re-seed, no n×√n rebuild, no existing vector touched) and append
    to the inverted lists. The query batch (vec_id % 7 == 0) then
    serves top-3 exact-cosine neighbors over corpus+delta through the
    refreshed index.

    The refresh term is |delta| × nlist distance evaluations vs the
    fresh build's (n + |delta|) × nlist — measured with a 1% staged
    delta: sf10f 1.81 s vs 10.07 s fresh (5.6×, overhead-floored);
    sf100f (2M vectors) 2.32 s vs 185.7 s best-tuned fresh — 80×,
    and the rebuild's 2.8B-row intermediate needs partition sizing
    the refresh never does (the fresh build needed 2,048 shuffle
    partitions). The
    quantizer staying frozen is
    what makes "only new vectors re-assigned" exact, not approximate;
    drift is handled by periodic retrains (build_ivf_index, or Lloyd
    rounds warm-seeded from the persisted centroids) that restart the
    amortization clock. Serve-result equality with a fresh
    corpus+delta build under append-only ids is pytest-certified on
    planted geometry (tests/test_dedup_similarity.py).

    The oracle replicates the refreshed semantics exactly: centroids
    seeded from the EPOCH-0 corpus only (⌈√n₀⌉ smallest ids), lists
    over corpus+delta, probe/serve identical to
    `sim_incremental_batch`'s.
    """
    from ..operators.similarity import (
        build_ivf_index,
        refresh_ivf_index,
        serve_ivf_topk,
    )
    emb = _vectors(spark, sf_dir)
    corpus0 = emb.filter(~(F.col("vec_id") % 7).isin(0, 6))
    delta = emb.filter(F.col("vec_id") % 7 == 6)
    batch = emb.filter(F.col("vec_id") % 7 == 0)
    n_total = parquet_row_count(spark, f"{sf_dir}/embeddings.parquet")
    n_batch = (n_total + 6) // 7       # ids dense 0..n-1: % 7 == 0 count
    n_delta = n_total // 7             # % 7 == 6 count
    n_corpus0 = n_total - n_batch - n_delta
    nlist = int(math.ceil(math.sqrt(n_corpus0)))
    dim = _dim(spark, sf_dir)
    par = spark.sparkContext.defaultParallelism
    index0 = build_ivf_index(corpus0, nlist, dim, par, n_corpus=n_corpus0)
    index1 = refresh_ivf_index(index0, delta, par)
    return _incr_format(
        serve_ivf_topk(index1, batch, k=3, nprobe=2, par=par, n_batch=n_batch)
    )
