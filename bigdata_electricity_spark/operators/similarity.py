"""Similarity search over the embeddings table (north-star extension).

Brute-force cosine top-k as the exact baseline, plus a bucketed
(IVF-style) variant as the scale path: restrict candidate generation to a
coarse partition (here the ``label`` column stands in for a centroid
assignment) so the pairwise work is per-bucket, never all-pairs.

Vector math uses higher-order functions (functions/vectors.py) — JVM-side
double accumulation, no Arrow boundary on the hot path.

One coarse quantizer serves every IVF, triangle and k-means entry, in
three steps over ``(vec_id, v)`` points: :func:`seed_centroids` (the
``nlist`` smallest ids), :func:`nearest_centroid` (each point's nearest
centroid, ties to the smallest cid) and :func:`probe_lists` (each
query's ``nprobe`` nearest centroids).

The search operators read the embeddings table's ``vec_id`` and
``embedding`` columns; the quantizer and the IVF build/serve pair read
``vec_id`` and the pre-cast ``v`` vector.
"""

from __future__ import annotations

# Module-level: ``from __future__ import annotations`` leaves pandas_udf
# hints as strings, which it resolves against the module's globals.
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from ..functions.vectors import (
    cosine_similarity,
    dot_product,
    dot_product_unrolled,
    l2_norm,
    l2_norm_unrolled,
    squared_l2_unrolled,
    unit_vector,
)


def _unit_base(embeddings: DataFrame, bucket_col: str) -> DataFrame:
    """(id, bucket, unit) from ``vec_id`` and ``embedding``: vectors pre-normalized ONCE per row so every
    downstream pair comparison is a single dot product instead of
    dot + two norms — HOFs run interpreted with no CSE, and pairs
    outnumber rows quadratically within buckets, so per-pair expression
    count dominates. The norm is materialized in its own projection
    first (inlined in the transform lambda it would be re-evaluated per
    element — the HOF-CSE trap, docs/ROUND_NOTES.md).

    Zero-norm vectors are EXCLUDED: they have no direction, so they can
    neither be a neighbour nor have one under cosine — and dividing by
    their norm is an ANSI divide-by-zero. Oracles apply the same
    WHERE nrm > 0 (plans/similarity_queries._DUCK_UNITS)."""
    return (
        embeddings.filter(l2_norm(F.col("embedding")) > 0)
        .select(
            F.col("vec_id").alias("id"),
            F.col(bucket_col).alias("bucket"),
            unit_vector(F.col("embedding")).alias("unit"),
        )
    )


def brute_force_topk(embeddings: DataFrame, query_vec_id: int, k: int = 10) -> DataFrame:
    """Exact top-k nearest neighbours of one query vector by cosine.

    Broadcast the single query row against the full table (a map-side
    scan: no shuffle except the final k-row TakeOrdered merge). Ties break
    on id for determinism.
    """
    query = embeddings.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("__query_vec")
    )
    scored = (
        embeddings.filter(F.col("vec_id") != query_vec_id)
        .crossJoin(F.broadcast(query))
        .select(
            "vec_id",
            cosine_similarity(F.col("embedding"), F.col("__query_vec")).alias("cosine_raw"),
        )
    )
    return (
        scored.orderBy(F.desc("cosine_raw"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id", F.round("cosine_raw", 6).alias("cosine"))
    )


def bucketed_nearest_neighbor(embeddings: DataFrame) -> DataFrame:
    """IVF-style ANN: nearest neighbour within the same coarse bucket.

    The self-join keys on the bucket, so candidate pairs are |bucket|²
    per bucket instead of n² global — the shape that survives 100 TB
    (bucket assignment would come from a trained coarse quantizer; the
    testdata ``label`` plays that role).
    """
    base = _unit_base(embeddings, "label")
    a, b = base.alias("a"), base.alias("b")
    pairs = a.join(
        b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") != F.col("b.id"))
    ).select(
        F.col("a.id").alias("id"),
        F.col("b.id").alias("cand"),
        dot_product(F.col("a.unit"), F.col("b.unit")).alias("cos"),
    )
    w = Window.partitionBy("id").orderBy(F.desc("cos"), F.asc("cand"))
    return (
        pairs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("id").alias("vec_id"),
            F.col("cand").alias("nn_id"),
            F.round("cos", 6).alias("cosine"),
        )
    )


def pairwise_near_dups(embeddings: DataFrame, threshold: float,
                       bucket_col: str = "label") -> DataFrame:
    """Embedding-cosine near-duplicate pairs above ``threshold``, blocked
    by the coarse bucket (the embedding-space analogue of MinHash-LSH
    candidate verification)."""
    base = _unit_base(embeddings, bucket_col)
    a, b = base.alias("a"), base.alias("b")
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            dot_product(F.col("a.unit"), F.col("b.unit")).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cosine"))
    )


def pairwise_near_dups_sampled(embeddings: DataFrame, threshold: float,
                               sample_mod: int,
                               bucket_col: str = "label") -> DataFrame:
    """DOULION-style deterministic edge sample of the bucketed near-dup
    graph: exactly the pairs of :func:`pairwise_near_dups` whose
    ``pmod(xxhash64(id_a, id_b, 7), sample_mod) == 0`` — a 1/p edge
    sample that is a pure FUNCTION of the pair, so it is reproducible
    across runs and engines (Tsourakakis et al., "DOULION: Counting
    Triangles in Massive Graphs with a Coin", KDD'09 — the coin here is
    a hash, not an RNG).

    Scale shape (the point of the twin): the sampling gate sits INSIDE
    the ids-only bucket self-join, so the Θ(Σ bucket²) candidate stream
    is 16-byte id rows evaluated in codegen, and unit vectors join back
    for the 1/p survivors only. The baseline carries both unit vectors
    through every candidate pair — at 100× the bench SF that is the
    entire cost of the exact entry (~500-byte rows × n^1.5 pairs).
    """
    base = _unit_base(embeddings, bucket_col)
    ids = base.select("id", "bucket")
    a, b = ids.alias("a"), ids.alias("b")
    sampled = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id"))
            & (
                F.pmod(
                    F.xxhash64(F.col("a.id"), F.col("b.id"), F.lit(7)),
                    F.lit(sample_mod),
                )
                == 0
            ),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    units = base.select("id", "unit")
    return (
        sampled.join(units.select(F.col("id").alias("id_a"), F.col("unit").alias("ua")), "id_a")
        .join(units.select(F.col("id").alias("id_b"), F.col("unit").alias("ub")), "id_b")
        .select("id_a", "id_b", dot_product(F.col("ua"), F.col("ub")).alias("cos"))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cosine"))
    )


def nearest_centroid_udf(centroids: list[tuple[int, list[float]]]):
    """Arrow-batched BLAS nearest-centroid assignment (factory — the
    decorator needs an active session, so it binds lazily).

    For k = ⌈√n⌉ centroids the exact JVM-side d2 fold is n·√n
    INTERPRETED 64-element zip_with/aggregate evaluations (HOFs are
    CodegenFallback) — measured ~700 s of both sf10f triangle entries
    (r10). Per Arrow batch this is one matmul: argmin_c(-2·X·Cᵀ + |c|²)
    (the |x|² term is constant per row, so it cannot change the
    argmin). Ties break toward the SMALLEST cid — centroids are laid
    out in ascending cid order and np.argmin returns the first
    minimum — matching the exact fold's (d2, cid) tie-break.

    Caveat (why only ESTIMATOR entries use this): BLAS accumulation
    order differs from the sequential fold, so a pair of centroids
    whose d2 gap is within float ulps could assign differently than
    the exact oracled entries. Fine for DOULION-style estimates;
    oracled entries keep the engine-exact fold.

    ``centroids``: [(cid, vector)] — bounded (⌈√n⌉ rows), collected
    driver-side as an index-build parameter, broadcast to executors
    inside the UDF closure.
    """
    import numpy as np

    cids = np.array([c[0] for c in sorted(centroids)], dtype=np.int64)
    C = np.array([c[1] for c in sorted(centroids)], dtype=np.float64)
    c2 = (C * C).sum(axis=1)

    @F.pandas_udf("long")
    def _assign(vecs):  # type: ignore[misc]
        X = np.stack(vecs.to_numpy())
        scores = X @ (-2.0 * C.T) + c2
        return pd.Series(cids[np.argmin(scores, axis=1)])

    return _assign


def brute_force_topk_batch(embeddings: DataFrame, query_ids: list[int], k: int = 3) -> DataFrame:
    """Exact top-k neighbours for a BATCH of query vectors in one pass.

    The query rows (tiny: a search request batch) broadcast against the
    candidate table, so the table is scanned once for all queries —
    queries × candidates scoring happens map-side, then one
    per-query-partitioned window takes the top k. This is the serving
    shape: N concurrent searches amortize a single corpus scan.
    """
    queries = embeddings.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qvec")
    )
    scored = (
        embeddings.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            cosine_similarity(F.col("embedding"), F.col("__qvec")).alias("cosine_raw"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_raw"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", F.round("cosine_raw", 6).alias("cosine"))
        .orderBy("query_id", "rank")
    )


def brute_force_topk_arrow(embeddings: DataFrame, query_vec_id: int, k: int = 10) -> DataFrame:
    """Arrow/numpy twin of :func:`brute_force_topk`: cosine scoring as a
    vectorized Pandas UDF — one BLAS matrix-vector product per Arrow
    batch instead of a per-row interpreted HOF fold.

    This is the documented escape hatch of SURVEY §2.11: dense linear
    algebra is the one workload where the JVM-expression path loses to
    Arrow batching, because numpy's contiguous-memory dot amortizes to
    ~1 ns/element while an interpreted higher-order fold pays expression
    dispatch per element. Distribution shape is IDENTICAL to the HOF
    twin (map-side scan, broadcast query, TakeOrdered merge); results
    match to ≤1e-9 (asserted in tests — numpy's pairwise summation
    rounds differently than a sequential fold, so bit-equality is NOT
    guaranteed and this variant is not oracle-hashed).
    """
    import numpy as np

    qrow = embeddings.filter(F.col("vec_id") == query_vec_id).select("embedding").head()
    if qrow is None:
        raise ValueError(f"query vector {query_vec_id} not found")
    q = np.asarray(qrow[0], dtype=np.float64)
    qn = q / np.sqrt(q @ q)

    @F.pandas_udf("double")
    def cos_q(v: pd.Series) -> pd.Series:
        m = np.asarray(v.tolist(), dtype=np.float64)
        norms = np.sqrt((m * m).sum(axis=1))
        return pd.Series((m @ qn) / norms)

    return (
        embeddings.filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", cos_q(F.col("embedding")).alias("cosine_raw"))
        .orderBy(F.desc("cosine_raw"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id", F.round("cosine_raw", 6).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# The coarse quantizer: one seeding, one assignment, one probe
# ---------------------------------------------------------------------------
#
# Each oracle replicates these steps as ``ROW_NUMBER() OVER (... ORDER BY
# d2, cid)`` over the same d2 values.


def seed_centroids(points: DataFrame, nlist: int) -> DataFrame:
    """(cid, c): the ``nlist`` smallest ``vec_id``s of ``(vec_id, v)``
    points as centroids — deterministic, engine-portable, and a
    TakeOrdered bounded by ``nlist``."""
    return (
        points.orderBy("vec_id")
        .limit(nlist)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("c"))
    )


def nearest_centroid(points: DataFrame, cent: DataFrame, dim: int) -> DataFrame:
    """(vec_id, cid, d2): each ``(vec_id, v)`` point's nearest ``(cid, c)``
    centroid, ties to the smallest cid.

    min(struct(d2, cid)) picks the lexicographic minimum of the same
    (d2, cid) values a ``ROW_NUMBER`` over ``(d2, cid)`` ranks first, but
    the aggregate combines MAP-SIDE: the n×nlist scored stream never
    shuffles, and a caller that needs the vectors rejoins them for the
    n winners only (the window form shuffled every scored row with its
    vector — ~90 GB at 500k vectors, r10).

    Unrolled fixed-dim d2 (r10): the HOF fold is CodegenFallback, so the
    n×nlist assignment walked an interpreted tree per scored row —
    measured 22.5 -> 2.9 s at sf1f. Unrolling is bit-identical (same
    left-assoc double adds, functions/vectors.py), so every oracled
    assignment and the Lloyd rounds' 1e-9-rounded contract are
    untouched. ``dim`` is the points' one constant dimension."""
    return (
        points.crossJoin(F.broadcast(cent))
        .select(
            "vec_id", "cid",
            squared_l2_unrolled(F.col("v"), F.col("c"), dim).alias("d2"),
        )
        .groupBy("vec_id")
        .agg(F.min(F.struct("d2", "cid")).alias("__m"))
        .select("vec_id", "__m.cid", "__m.d2")
    )


def probe_lists(queries: DataFrame, cent: DataFrame, nprobe: int, dim: int) -> DataFrame:
    """(qid, cid): each ``(vec_id, v)`` query's ``nprobe`` nearest
    centroids, ranked by (d2, cid). ``v`` is dropped before the ranking,
    so it runs on skinny rows; any other query column rides along (a
    caller scoring a few queries attaches their vectors here rather
    than joining them back)."""
    rest = [c for c in queries.columns if c not in ("vec_id", "v")]
    w = Window.partitionBy("qid").orderBy("d2", "cid")
    return (
        queries.crossJoin(F.broadcast(cent))
        .select(
            F.col("vec_id").alias("qid"), "cid", *rest,
            squared_l2_unrolled(F.col("v"), F.col("c"), dim).alias("d2"),
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= nprobe)
        .select("qid", "cid", *rest)
    )


# ---------------------------------------------------------------------------
# IVF index as a persistable build/serve pair (r10 VERDICT task 3)
# ---------------------------------------------------------------------------
#
# The incremental-ingest entry (plans/similarity_queries.py
# sim_incremental_batch) argued "the build amortizes across batches" but
# rebuilt its IVF every invocation. These two halves make the claim
# concrete the same way the dedup side did (operators/dedup.py
# build_incremental_index / incremental_flags_from_index): everything in
# build_ivf_index is a pure function of the CORPUS, all plain-columnar
# (longs + double arrays + one double), so it persists to parquet and
# cold-reloads in any later session; serve_ivf_topk answers a batch from
# whichever copy it is handed — fresh lineage or reloaded — with the
# identical relation (certified by sim_index_roundtrip's shared oracle).


def assignment_partitions(par: int, n_corpus: int, nlist: int) -> int:
    """Partition count for the IVF assignment stage, sized to the
    n×nlist scored intermediate: min(struct) is not hash-aggregable,
    so each task SORTS its slice of the scored stream —
    8M (id, cid, d2) rows per task ≈ 200 MB of sort buffer,
    comfortable under an 8 GiB/32-thread local JVM and a
    4 GiB-executor cluster alike. Never shrinks below the caller's
    compute-spread ``par``."""
    return max(par, -(-n_corpus * nlist // 8_000_000))


def build_ivf_index(corpus: DataFrame, nlist: int, dim: int, par: int,
                    n_corpus: int | None = None) -> dict:
    """The corpus-only half of IVF ANN serving over ``(vec_id, v)``
    vectors: ``cent`` (cid, c) — nlist seeded centroids (the nlist
    smallest corpus ids: deterministic, engine-portable); ``lists``
    (id, cid, v, nv) — every corpus vector
    assigned to its nearest centroid via the map-side min(struct(d2,
    cid)) aggregate (the n×√n scored stream never shuffles), with its
    L2 norm precomputed ONCE so serving pays a single dot per candidate.

    The dict records the build parameters (nlist, dim) as plain values
    — persisting callers write them as a JSON manifest beside the
    parquet, exactly like the dedup index.

    Scale: build cost is n×nlist distance terms (unrolled fixed-dim —
    compiled, not interpreted); at 100 TB the build shards per partition
    and merges, or trains on a hash sample (documented in
    sim_ivf_scaled_nlist). The assignment input is repartitioned to
    ``par`` explicitly: the work is compute-bound on tiny partitions,
    the shape AQE's byte-based coalescing wrongly serializes (measured
    r10: one 21 s task without the hint).

    SELF-SIZED ASSIGNMENT (r13): pass ``n_corpus`` (parquet footer
    count — never a count job) and the repartition count scales to the
    n×nlist ASSIGNMENT intermediate, not just the input: min(struct)
    over a struct is not hash-aggregable, so the scored stream goes
    through a SortAggregate whose per-task sort buffer holds
    n×nlist/partitions rows. At 2M vectors × nlist=1408 the caller's
    par=32 put 88M scored rows in each task's sorter — OOM at the
    default 8 GiB heap; sizing partitions so each sorts ≤ ~8M scored
    rows completes at default heap FASTER than a 6×-heap run at the
    small count (185.7 s at 2,048 partitions vs 302.5 s at 128 and a
    48 GiB heap).
    Without the hint behavior is unchanged (callers at bench SFs are
    nowhere near the cliff).
    """
    if n_corpus is not None:
        par = assignment_partitions(par, n_corpus, nlist)
    cent = seed_centroids(corpus, nlist)
    lists = _inverted_lists(corpus.repartition(par, "vec_id"), cent, dim)
    return {"cent": cent, "lists": lists, "nlist": nlist, "dim": dim}


def _inverted_lists(points: DataFrame, cent: DataFrame, dim: int) -> DataFrame:
    """(id, cid, v, nv): every point in its nearest centroid's list, its
    L2 norm precomputed ONCE so serving pays a single dot per candidate."""
    return points.join(nearest_centroid(points, cent, dim), "vec_id").select(
        F.col("vec_id").alias("id"), "cid", "v",
        l2_norm_unrolled(F.col("v"), dim).alias("nv"),
    )


def serve_ivf_topk(index: dict, batch: DataFrame, k: int = 3,
                   nprobe: int = 2, par: int | None = None,
                   n_batch: int | None = None,
                   broadcast_threshold: int = 100_000) -> DataFrame:
    """The per-batch half: probe each query's ``nprobe`` nearest lists,
    score exact cosine inside them, return (qid, rank, mid, cos) for
    rank <= k. ``index`` may be freshly built or reloaded from parquet —
    same relation either way.

    Probe ranking runs on SKINNY (qid, cid, d2) rows; the query vectors
    (with precomputed norms) rejoin only for the |batch|×nprobe
    winners — BEFORE the lists join, so the candidate stream is
    produced after its last vector-carrying shuffle and a list-local
    top-k (exchange-free: the cid join's partitioning satisfies the
    (cid, qid) window) bounds the rows entering the global per-query
    ranking at |batch|×nprobe×k. The lists are repartitioned to ``par``
    by cid HERE (not at build) so a cold parquet reload gets the same
    compute-spread as fresh lineage.

    BROADCAST BOUND (r11 VERDICT task 3): by default the batch-derived
    side (probe winners with their query vectors attached) broadcasts —
    the micro-batch contract, and the fastest plan for bounded batches.
    A production server feeding BULK batches must not broadcast
    arbitrarily large query tables through the driver, so callers pass
    ``n_batch`` (parquet footer count or the micro-batch's own size —
    never a count job) and any batch above ``broadcast_threshold``
    falls back to SHUFFLE joins: both joins are hinted shuffle_hash so
    neither Catalyst's size estimate nor AQE re-promotes a broadcast,
    and only the |batch|×nprobe winner table and the lists (once)
    shuffle with vectors aboard. Identical relation on both paths (the
    roundtrip pytest forces threshold=0 and asserts no batch-side
    BroadcastExchange survives in the plan). The centroid table stays
    broadcast on both paths: it is √n-bounded by construction."""
    dim = index["dim"]
    cent, lists = index["cent"], index["lists"]
    broadcast_batch = n_batch is None or n_batch <= broadcast_threshold
    if par is not None:
        lists = lists.repartition(par, "cid")
    probe = probe_lists(batch, cent, nprobe, dim)
    bq = batch.select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"),
        l2_norm_unrolled(F.col("v"), dim).alias("nq"),
    )
    # JOIN ORDER (r13): attach query vectors to the probe winners
    # (|batch|×nprobe rows) BEFORE joining the lists. The earlier shape
    # (lists ⋈ probe on cid, then ⋈ bq on qid) shuffled the full
    # candidate stream — |batch|×nprobe×(n/nlist) rows, each carrying a
    # dim-double match vector — by qid in the fallback path: at 2M
    # vectors / 286k-query bulk batch that is ~750M vector-laden rows
    # (hundreds of GB of shuffle; measured disk-full on a 250 GB box;
    # this order completes with 1.81 GB of shuffle writes). With the
    # probe⋈bq join first, the candidate stream is born AFTER its last
    # vector-carrying shuffle: only `lists` (n rows, once) and the
    # |batch|×nprobe winner table ever shuffle with vectors aboard.
    if broadcast_batch:
        pqv = F.broadcast(probe.join(bq, "qid"))
    else:
        pqv = (
            probe.hint("shuffle_hash")
            .join(bq.hint("shuffle_hash"), "qid")
            .hint("shuffle_hash")
        )
    denom = F.col("nv") * F.col("nq")
    cand = lists.join(pqv, "cid").select(
        "cid", "qid",
        F.col("id").alias("mid"),
        F.when(denom > 0,
               dot_product_unrolled(F.col("v"), F.col("qv"), dim) / denom
               ).alias("cos"),
    )
    # LOCAL TOP-K PRE-REDUCTION (r13): the cid join leaves cand
    # hash-partitioned by cid, which SATISFIES a window clustered on
    # (cid, qid) — Spark inserts only a local sort, no exchange. Taking
    # per-(query, probed-list) top-k here cuts the rows entering the
    # global per-query ranking from |batch|×nprobe×(n/nlist) to
    # |batch|×nprobe×k (750M → 1.7M at the 2M-vector point), so the
    # final window's qid shuffle moves k-bounded rows instead of the
    # whole candidate mass. Exact: ordering matches the global window
    # (cos desc NULLS LAST, mid asc — a total order), so any row in the
    # global top-k is necessarily in its list-local top-k.
    w_local = Window.partitionBy("cid", "qid").orderBy(
        F.desc("cos"), F.asc("mid"))
    cand = (
        cand.withColumn("__lr", F.row_number().over(w_local))
        .filter(F.col("__lr") <= k)
        .select("qid", "mid", "cos")
    )
    w_rank = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("mid"))
    return (
        cand.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "mid", "cos")
    )


def refresh_ivf_index(index: dict, delta: DataFrame, par: int) -> dict:
    """Epoch refresh for the IVF index (r12 VERDICT task 2 — the
    warm-start docs/SCALING_SF10.md finding 6 promised): assign ONLY
    the ``delta`` vectors to the PREVIOUS epoch's centroids — the
    quantizer is warm-started from the persisted ``cent`` and frozen,
    so no existing vector re-assigns and no n×√n rebuild runs — and
    append them to the inverted lists. The refresh term is
    |delta| × nlist distance evaluations vs the fresh build's
    (n + |delta|) × nlist — and the measured ratio widens with scale
    exactly as that model predicts (1% staged delta): sf10f (200k
    vectors) 1.81 s vs 10.07 s fresh (5.6×, overhead-floored); sf100f
    (2M vectors, nlist=1408) 2.32 s vs 185.7 s fresh — 80× against the
    best-tuned rebuild. The fresh build's 2.8B-row assignment
    intermediate also demands its own tuning (OOMs at 8 GiB/128
    partitions until shuffle partitions are sized to it — the
    spill-aware rule); the refresh needs neither knob, because it never
    builds that stream.

    Semantics: the refreshed index IS ``build_ivf_index``'s output for
    corpus+delta whenever the fresh build would seed the same centroid
    set (delta ids above the corpus seed range — the steady-state
    append-only ingest shape); the planted-geometry pytest certifies
    serve-result equality on exactly that configuration. When drift
    accumulates, periodic retrains re-run ``build_ivf_index`` (or
    Lloyd rounds seeded from ``cent`` — ml/clustering.lloyd_centroids
    accepts any centroid frame) and the amortization clock restarts;
    nlist grows with ⌈√n⌉ on those retrains, never mid-epoch.

    Assignment is the build's own step (:func:`nearest_centroid` over
    the broadcast √n-bounded centroids, norms precomputed once per new
    vector). The returned dict shares ``cent`` (and every build
    parameter) with the input, so manifests persist unchanged; ``lists``
    is the union — a metadata-only plan on parquet-backed inputs, which
    at 100 TB is an APPEND of the delta's list rows to the
    cid-partitioned store.
    """
    new_lists = _inverted_lists(delta.repartition(par, "vec_id"), index["cent"], index["dim"])
    return {**index, "lists": index["lists"].unionByName(new_lists)}
