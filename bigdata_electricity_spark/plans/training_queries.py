"""Training-data-pipeline queries (north-star extension).

The operations a 100 TB LLM-corpus pipeline runs beyond per-doc dedup
and quality scoring, each expressed as DataFrame plans with a DuckDB
oracle:

- benchmark decontamination: n-gram overlap between a held-out eval
  source and the training pool (the standard 13-gram check, shrunk to
  4-grams for the synthetic vocabulary);
- duplicate-cluster closure: connected components over the near-dup
  pair graph (transitive closure — A~B~C is ONE cluster even when A~C
  misses the threshold);
- sequence packing: concatenate docs in id order, chunk into fixed
  token budgets (the concat-and-chunk packing used for pretraining
  batches);
- domain mixing: deterministic per-source quota selection (quota
  sampling — the reproducible cousin of weighted domain sampling).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.rounding import dround, hround
from ..operators.dedup import ngram_jaccard_pairs, token_shingles
from ..operators.graph import connected_components
from ..operators.packing import running_offsets_scalable
from ..operators.text import normalize_text
from ..sources.loaders import load_table
from .registry import query

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


@query(
    "decon_ngram_overlap",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, source, string_split({_NORM}, ' ') AS w
        FROM documents
    ), grams AS (
        SELECT doc_id, source, array_to_string(list_slice(w, i, i + 3), ' ') AS g
        FROM words, UNNEST(generate_series(1, len(w) - 3)) AS t(i)
        WHERE len(w) >= 4
    ), eval_grams AS (
        SELECT DISTINCT g FROM grams WHERE source = 'src0'
    )
    SELECT a.source AS source,
           COUNT(DISTINCT a.doc_id) AS n_contaminated,
           COUNT(DISTINCT a.g) AS n_shared_grams
    FROM grams a JOIN eval_grams e ON a.g = e.g
    WHERE a.source <> 'src0'
    GROUP BY a.source
    ORDER BY source
    """,
)
def decon_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing any word 4-gram
    with the eval source ('src0'), counted per training source.

    The eval gram set is small by construction (benchmarks are tiny next
    to the corpus) and is broadcast — the 100 TB training side streams
    through one exploded hash join, never shuffling document bodies.
    Both sides only ever count DISTINCT grams/docs, so shingles are
    deduped per doc BEFORE the explode: repeated 4-grams inside one
    document never leave the projection, cutting exploded rows and join
    probes with no semantic change.

    Grams travel as 64-bit ROLLING HASHES, never strings (r12): each
    token hashes once, each 4-gram is xxhash64 of its four token hashes
    — no ~25-byte gram string is ever built, exploded, broadcast, or
    counted (measured 1.8 → 1.1 s at sf0.1; the same rolling scheme
    that took the MinHash candidate query 10.0 → 2.6 s). The distinct
    counts equal the string-gram counts absent a 64-bit collision among
    observed grams (expected collisions ≈ g²/2⁶⁵: ~2e-9 at the 250k
    grams here, ~0.03 even at 10⁹ distinct grams — and hash-keyed gram
    dedup is the standard shape at corpus scale anyway).
    """
    docs = load_table(spark, sf_dir, "documents")
    # Materialize the token-hash array BEFORE the shingle transform:
    # inside an interpreted higher-order lambda the inlined
    # split/normalize would be re-evaluated once per shingle (~13×
    # slower measured at sf0.1).
    toked = docs.select(
        "doc_id", "source",
        F.transform(
            F.split(normalize_text(F.col("text")), " "), lambda t: F.xxhash64(t)
        ).alias("__th"),
    )
    # The <4-token guard lives INSIDE the explode argument (r13): a
    # row-filter on size(__th) gets pushed below the projection with
    # the whole tokenize pipeline substituted into the predicate —
    # normalize/split/hash ran TWICE per row on both sides (measured in
    # the before-plan: Filter (2)/(6) each carry the full transform).
    # when→empty-array + explode drops short docs identically.
    grams = toked.select(
        "doc_id", "source",
        F.explode(
            F.when(
                F.size("__th") >= 4,
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(0), F.size("__th") - 4),
                        lambda i: F.xxhash64(
                            *[F.try_element_at("__th", i + k + 1) for k in range(4)]
                        ),
                    )
                ),
            ).otherwise(F.array().cast("array<bigint>"))
        ).alias("g"),
    )
    eval_grams = grams.filter(F.col("source") == "src0").select("g").distinct()
    return (
        grams.filter(F.col("source") != "src0")
        .join(F.broadcast(eval_grams), "g")
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_contaminated"),
            F.countDistinct("g").alias("n_shared_grams"),
        )
        .orderBy("source")
    )


_DECON_TOPK = 20

# The standing bounded-eval CONTRACT for the decontamination rungs: an
# eval suite is 10²–10⁵ items. Both decon entries that close over a
# driver-collected eval side guard the collect at this cap and fall
# back to a fully-distributed plan when the "eval" side turns out to
# scale with the corpus (r14, VERDICT r13 task 3 — the r13 rewrite of
# `decon_embedding_topk` collected vec_id % 13 of the WHOLE embeddings
# table unguarded, a driver OOM at 100 TB).
_BOUNDED_EVAL_CAP = 50_000


def _decon_embedding_topk_broadcast(spark: SparkSession, sf_dir: str,
                                    dim: int) -> DataFrame:
    """Contract-violation fallback: the pre-r13 broadcast cross-join
    exact plan. The eval side is built as a DataFrame and broadcast by
    the JVM (BroadcastExchange enforces its own 8 GB / 512M-row cap with
    a loud error instead of silently OOMing the Python driver); every
    cosine is the same cast + unrolled expression chain as the fast
    path's rescore, so results are bit-identical between the two plans.
    """
    from ..functions.vectors import dot_product_unrolled, l2_norm_unrolled

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    ev = emb.filter(F.col("vec_id") % 13 == 0).select(
        F.col("vec_id").alias("eid"), F.col("v").alias("evv"),
        l2_norm_unrolled(F.col("v"), dim).alias("ne"),
    )
    corpus = emb.filter(F.col("vec_id") % 13 != 0).select(
        "vec_id", "v", l2_norm_unrolled(F.col("v"), dim).alias("nv")
    )
    denom = F.col("nv") * F.col("ne")
    scored = corpus.crossJoin(F.broadcast(ev)).select(
        "vec_id", "eid",
        F.when(denom > 0,
               dot_product_unrolled(F.col("v"), F.col("evv"), dim) / denom
               ).alias("cos"),
    )
    best = (
        scored.filter(F.col("cos").isNotNull())
        .groupBy("vec_id")
        .agg(F.min(F.struct((-F.col("cos")).alias("nc"), F.col("eid").alias("eid"))).alias("__m"))
        .select(
            "vec_id",
            F.col("__m.eid").alias("eval_id"),
            (-F.col("__m.nc")).alias("cos"),
        )
    )
    return (
        best.orderBy(F.desc("cos"), "vec_id")
        .limit(_DECON_TOPK)
        .select(
            "vec_id", "eval_id",
            (F.floor(F.col("cos") * 1e6 + F.lit(0.5)) / 1e6).alias("cosine"),
        )
    )


@query(
    "decon_embedding_topk",
    oracle=f"""
    WITH pts AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    ev AS (SELECT vec_id AS eid, v FROM pts WHERE vec_id % 13 = 0),
    c AS (SELECT vec_id, v FROM pts WHERE vec_id % 13 <> 0),
    scored AS (
        SELECT c.vec_id, ev.eid,
               CASE WHEN sqrt(list_sum(list_transform(c.v, x -> x * x)))
                         * sqrt(list_sum(list_transform(ev.v, x -> x * x))) > 0
                    THEN list_sum(list_transform(list_zip(c.v, ev.v),
                                                 p -> p[1] * p[2]))
                         / (sqrt(list_sum(list_transform(c.v, x -> x * x)))
                            * sqrt(list_sum(list_transform(ev.v, x -> x * x))))
               END AS cos
        FROM c CROSS JOIN ev
    ),
    best AS (
        SELECT vec_id, eid, cos,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cos DESC, eid) AS rn
        FROM scored WHERE cos IS NOT NULL
    )
    SELECT vec_id, eid AS eval_id,
           floor(cos * 1000000.0 + 0.5) / 1000000.0 AS cosine
    FROM best WHERE rn = 1
    ORDER BY cos DESC, vec_id
    LIMIT {_DECON_TOPK}
    """,
)
def decon_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC decontamination review queue — the embedding half of the
    decontamination ladder (`decon_ngram_overlap` is the lexical half;
    n-gram overlap misses paraphrased eval leakage, which shows up only
    in embedding space): the {_DECON_TOPK} training vectors closest (max
    exact cosine) to ANY eval-suite vector, with the eval item each one
    matched. Eval suite = vec_id % 13 == 0 (~8%; 13 is coprime with the
    %5 cluster stride and the %7 incremental split, so all three
    partitions are independent). A pipeline reviews/drops from the top
    of this queue — a global risk RANKING rather than a threshold flag,
    because the right cutoff is corpus-dependent (this synthetic corpus
    tops out at cosine ~0.51: no planted semantic leakage, and the
    queue surfaces exactly that).

    Plan shape at 100 TB: eval suites are small by nature, so the eval
    side BROADCASTS (as a closed-over matrix, collected once — the same
    bounded index-parameter pattern as the IVF centroid collect) and
    the corpus streams through ONE Arrow stage; the global
    top-{_DECON_TOPK} is one TakeOrderedAndProject. Cosines that decide
    anything are computed with identical left-associative double
    accumulation on both engines (the unrolled helpers), so the argmax
    and the final ordering are bit-portable; the cosine is 1e-6-rounded
    only for display.

    r13 optimization (guide §4.2/§8): the n×m exact scoring previously
    ran as 64-term unrolled expressions inside a BroadcastNestedLoopJoin
    — interpreted (the join stage is outside whole-stage codegen), and
    the join CONDITION re-evaluated the full dot product per pair on
    top of the projection (measured 15.0 s steady at sf0.1 for 284k
    pairs). Now a mapInPandas stage BLAS-scores each corpus batch
    against the eval matrix and emits, per corpus vector, only the
    eval candidates within ``eps = 1e-6`` of that vector's approximate
    maximum; the survivors (≈1 per vector) are re-scored EXACTLY with
    the same unrolled JVM expressions, which alone decide the argmax,
    the tie-break, and the final ordering. The prune is LOSSLESS: the
    float64 BLAS cosine differs from the exact left-associative cosine
    by < ~1e-13 (64-term dot product, float32 inputs — no denormal
    underflow possible since |v| ≥ 1e-38 when nonzero), so every
    eval item whose exact cosine could equal the exact per-vector
    maximum lies within eps of the approximate maximum and is
    retained. Measured 15.0 s → 0.6 s steady at sf0.1, output
    hash-identical (parity PASS at sf0.001/0.01/0.1).
    """
    from ..functions.vectors import (
        dot_product_unrolled,
        embedding_dim,
        l2_norm_unrolled,
    )

    raw = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dim = embedding_dim(raw, "embedding")

    # Eval matrix: bounded by the eval-suite CONTRACT (10²–10⁵ items),
    # collected once and closed over the Arrow stage. The collect is
    # GUARDED (r14, VERDICT r13 task 3): limit(cap+1) bounds the driver
    # transfer to cap+1 rows no matter the SF, and a violating "eval"
    # side (one that scales with the corpus) falls back to the
    # fully-distributed broadcast cross-join exact plan — bit-identical
    # results, the JVM broadcast cap as the loud failure mode.
    # Exclusions mirror the exact NULL semantics: a NULL or
    # shorter-than-dim vector has a NULL unrolled norm (element_at past
    # the end), so all its pairs were dropped; a zero vector fails the
    # denom > 0 guard the same way.
    ev_rows = raw.filter(F.col("vec_id") % 13 == 0).limit(
        _BOUNDED_EVAL_CAP + 1
    ).collect()
    if len(ev_rows) > _BOUNDED_EVAL_CAP:
        return _decon_embedding_topk_broadcast(spark, sf_dir, dim)
    import numpy as np

    eids_l, evecs = [], []
    for r in ev_rows:
        e = r["embedding"]
        if e is not None and len(e) >= dim:
            eids_l.append(r["vec_id"])
            evecs.append(np.asarray(e[:dim], dtype=np.float64))
    if evecs:
        E = np.stack(evecs)
        ne_np = np.sqrt((E * E).sum(axis=1))
        keep = ne_np > 0
        E, eids_np, ne_np = E[keep], np.asarray(eids_l)[keep], ne_np[keep]
    else:
        E = np.zeros((0, max(dim, 1)))
        eids_np = np.asarray([], dtype=np.int64)
        ne_np = np.asarray([])
    eps = 1e-6
    # Bound the dense (rows × n_eval) score block at ~32M cells so a
    # large (but in-contract) eval suite cannot blow a worker on one
    # Arrow batch.
    chunk_rows = max(1, (1 << 25) // max(len(eids_np), 1))

    def _prescore(batches):
        import pandas as pd

        for pdf in batches:
            if len(E) == 0 or pdf.empty:
                continue
            rows = [
                (vid, e)
                for vid, e in zip(pdf["vec_id"], pdf["embedding"])
                if e is not None and len(e) >= dim
            ]
            for lo in range(0, len(rows), chunk_rows):
                part = rows[lo : lo + chunk_rows]
                if not part:
                    continue
                X = np.stack([np.asarray(e[:dim], dtype=np.float64) for _, e in part])
                nx = np.sqrt((X * X).sum(axis=1))
                ok = np.nonzero(nx > 0)[0]
                if len(ok) == 0:
                    continue
                S = (X[ok] @ E.T) / np.outer(nx[ok], ne_np)   # one BLAS matmul
                hit_i, hit_j = np.nonzero(S >= (S.max(axis=1) - eps)[:, None])
                yield pd.DataFrame(
                    {
                        "vec_id": [part[ok[i]][0] for i in hit_i],
                        "embedding": [part[ok[i]][1] for i in hit_i],
                        "eid": eids_np[hit_j],
                    }
                )

    cand = raw.filter(F.col("vec_id") % 13 != 0).mapInPandas(
        _prescore, "vec_id long, embedding array<float>, eid long"
    )

    # Exact rescore of the pruned candidates — the SAME cast/unrolled
    # expressions as the pre-r13 full cross join, so every surviving
    # cosine is bit-identical to the old plan's and decides the argmax,
    # the eid tie-break, and the global ordering exactly as before.
    emb_v = F.transform("embedding", lambda x: x.cast("double"))
    ev = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % 13 == 0
    ).select(
        F.col("vec_id").alias("eid"), emb_v.alias("evv"),
    ).select("eid", "evv", l2_norm_unrolled(F.col("evv"), dim).alias("ne"))
    scored = (
        cand.select("vec_id", emb_v.alias("v"), "eid")
        .select("vec_id", "v", l2_norm_unrolled(F.col("v"), dim).alias("nv"), "eid")
        .join(F.broadcast(ev), "eid")
    )
    denom = F.col("nv") * F.col("ne")
    scored = scored.select(
        "vec_id", "eid",
        F.when(denom > 0,
               dot_product_unrolled(F.col("v"), F.col("evv"), dim) / denom
               ).alias("cos"),
    )
    # NULL cosines (zero-norm vectors) are dropped BEFORE the argmax on
    # both engines — a NULL field would otherwise win Spark's struct-min
    # (NULLs order first) while losing DuckDB's DESC ranking.
    best = (
        scored.filter(F.col("cos").isNotNull())
        .groupBy("vec_id")
        .agg(F.min(F.struct((-F.col("cos")).alias("nc"), F.col("eid").alias("eid"))).alias("__m"))
        .select(
            "vec_id",
            F.col("__m.eid").alias("eval_id"),
            (-F.col("__m.nc")).alias("cos"),
        )
    )
    return (
        best.orderBy(F.desc("cos"), "vec_id")
        .limit(_DECON_TOPK)
        .select(
            "vec_id", "eval_id",
            (F.floor(F.col("cos") * 1e6 + F.lit(0.5)) / 1e6).alias("cosine"),
        )
    )


@query(
    "decon_neardup_overlap",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               list_distinct(string_split({_NORM}, ' ')) AS t
        FROM documents
    ), ev AS (
        SELECT * FROM toks WHERE source = 'src0'
    ), train AS (
        SELECT * FROM toks WHERE source <> 'src0'
    ), matched AS (
        SELECT tr.doc_id AS doc_id, tr.source AS source,
               CAST(len(list_intersect(tr.t, e.t)) AS DOUBLE)
                   / len(list_distinct(list_concat(tr.t, e.t))) AS j
        FROM train tr JOIN ev e
          ON CAST(len(list_intersect(tr.t, e.t)) AS DOUBLE)
                 / len(list_distinct(list_concat(tr.t, e.t))) >= 0.5
    )
    SELECT doc_id, source,
           COUNT(*) AS n_eval_matches,
           {dround("MAX(j)", 4)} AS best_jaccard
    FROM matched
    GROUP BY doc_id, source
    ORDER BY doc_id
    """,
)
def decon_neardup_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-DUPLICATE decontamination — the middle rung the ladder
    lacked (r12 VERDICT task 4): training docs within token-set
    Jaccard ≥ 0.5 of ANY eval item ('src0'). Exact n-gram overlap
    (`decon_ngram_overlap`) misses light paraphrase/reformatting —
    reordering a sentence shares ZERO word 4-grams while keeping
    token-set Jaccard at 1.0 (the planted-paraphrase pytest pins
    exactly that miss) — and the embedding rung
    (`decon_embedding_topk`) only queues candidates for human review;
    this rung FLAGS them deterministically.

    The r12 VERDICT sketched this as MinHash banding
    (`decon_minhash_overlap`) with the eval side broadcast; built
    against the recall-1 alternative instead: the eval suite is the
    INDEX side of :func:`operators.dedup.build_incremental_index`
    (token dfs + ranked prefix postings — bounded, materialize-once,
    broadcast-sized by construction), and the 100 TB training side
    streams through as the probe batch. Candidate mass is
    |train| × df(rare eval tokens) by the prefix-filter theorem
    (Xiao et al., WWW'08) with recall 1 — banding's S-curve recall
    (~0.67 per pair at J = 0.6 under (32, 8)) buys nothing here
    because the bounded eval side already caps the index; this is why
    the entry can be ORACLED (brute-force train×eval Jaccard) rather
    than rows-only like every seeded-signature entry.

    Output is one row per CONTAMINATED training doc (bounded by real
    leakage): its eval-match count and best Jaccard — feeding the same
    drop-or-review decision `decon_substring_clip` makes for verbatim
    leakage. Threshold 0.5 sits between the substring clip (exact
    spans) and the semantic queue (no lexical requirement).

    CONTRACT: the eval side is a benchmark SUITE — bounded (10²–10⁵
    items) and content-distinct from the corpus. The replicated
    sf100f synthesis violates both (src0 grows to 500k docs that ARE
    1000 copies of the training content, making the true match
    relation ~5·10⁹ pairs — no plan computes that cheaply because the
    ANSWER is that large); the production shape at 5M training docs
    (eval = replica-0 src0, 500 items) measured 22.2 s (32 cores, 256
    shuffle partitions, noop sink).
    """
    from ..operators.dedup import (
        bounded_eval_jaccard_matches,
        incremental_jaccard_flags,
    )

    docs = load_table(spark, sf_dir, "documents")
    evalset = docs.filter(F.col("source") == "src0")
    train = docs.filter(F.col("source") != "src0")
    # r13 optimization (guide §4.2/§8): within the bounded-eval CONTRACT
    # the whole train×eval Jaccard relation is ONE Arrow pass over the
    # training side (eval postings in the closure, vectorized
    # intersection counts, zero shuffles) — bit-identical j values, see
    # the operator docstring. Measured 14.1 s → 3.3 s steady at sf0.1.
    # A contract-violating eval side (the replicated sf100f synthesis)
    # falls back to the index-based probe rather than collecting it.
    # r14 (ADVICE r13): the gate is a LIMIT-bounded count — the scan
    # stops as soon as cap+1 eval rows exist, instead of a full filtered
    # count per invocation.
    if evalset.limit(_BOUNDED_EVAL_CAP + 1).count() <= _BOUNDED_EVAL_CAP:
        matched = bounded_eval_jaccard_matches(
            evalset, train, carry_cols=["source"], threshold=0.5
        )
        return (
            matched.select(
                F.col("id").alias("doc_id"),
                "source",
                F.col("n_matches").alias("n_eval_matches"),
                hround("best_jaccard", 4).alias("best_jaccard"),
            )
            .orderBy("doc_id")
        )
    flags = incremental_jaccard_flags(evalset, train, threshold=0.5)
    return (
        flags.filter(F.col("is_dup"))
        .join(train.select(F.col("doc_id").alias("id"), "source"), "id")
        .select(
            F.col("id").alias("doc_id"),
            "source",
            F.col("n_matches").alias("n_eval_matches"),
            hround("best_jaccard", 4).alias("best_jaccard"),
        )
        .orderBy("doc_id")
    )


# Shared by dedup_cc_clusters and its prefix-filtered scale twin —
# identical edge sets mean one closure oracle certifies both plans.
_CC_ORACLE = f"""
    WITH RECURSIVE toks AS (
        SELECT doc_id, source, list_distinct(string_split({_NORM}, ' ')) AS t
        FROM documents
    ), edges AS (
        SELECT a.doc_id AS s, b.doc_id AS d
        FROM toks a JOIN toks b
          ON a.source = b.source AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
              / len(list_distinct(list_concat(a.t, b.t))) >= 0.6
    ), sym AS (
        SELECT s, d FROM edges UNION ALL SELECT d AS s, s AS d FROM edges
    ), reach AS (
        SELECT doc_id AS id, doc_id AS comp FROM documents
        UNION
        SELECT sym.d AS id, reach.comp
        FROM reach JOIN sym ON sym.s = reach.id
        WHERE reach.comp < sym.d
    )
    SELECT component, COUNT(*) AS n_docs FROM (
        SELECT id, MIN(comp) AS component FROM reach GROUP BY id
    )
    GROUP BY component
    ORDER BY component
    """


@query(
    "dedup_cc_clusters",
    oracle=_CC_ORACLE,
)
def dedup_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster closure: connected components over the
    source-blocked Jaccard near-dup graph, reported as cluster sizes
    keyed by the min doc_id.

    Iterative min-label propagation over joins (operators/graph.py) —
    the min-reachable-id labeling is deterministic, so unlike the
    hash-seeded LSH variants this transitive dedup IS oracle-checkable
    (DuckDB recursive CTE computes the same closure).

    exact, small-data (r8 sf1 audit, 56× — the blocked pair generation
    is the quadratic term; the CC iterations are linear in edges).
    Scale twin: `dedup_cc_clusters_prefix` — identical clusters, same
    oracle, prefix-filtered edge generation.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, block_cols=["source"], threshold=0.6)
    nodes = docs.select(F.col("doc_id").alias("id"))
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    return (
        connected_components(nodes, edges)
        .groupBy("component")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("component")
    )


@query("dedup_cc_clusters_prefix", oracle=_CC_ORACLE)
def dedup_cc_clusters_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster closure over PREFIX-FILTERED near-dup edges —
    the scale twin of `dedup_cc_clusters` (r8 sf1 audit). The edge set
    is IDENTICAL (same-source prefix filtering has recall 1 and exact
    verification — operators/dedup.py), so the same recursive-CTE
    oracle certifies both; only the candidate plan changes, replacing
    the block² same-source self-join with the global-df prefix join
    that made `dedup_ngram_jaccard_prefix` 7.9× faster at sf1. The CC
    iterations themselves are linear in edges either way
    (min-label propagation, operators/graph.py).
    """
    from ..operators.dedup import prefix_filtered_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = prefix_filtered_jaccard_pairs(
        docs, block_cols=["source"], threshold=0.6
    )
    nodes = docs.select(F.col("doc_id").alias("id"))
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    return (
        connected_components(nodes, edges)
        .groupBy("component")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("component")
    )


@query(
    "pack_sequences_chunked",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, len(string_split({_NORM}, ' ')) AS n_tokens
        FROM documents
    ), placed AS (
        SELECT doc_id, n_tokens,
               SUM(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens AS start_offset
        FROM sized
    )
    SELECT CAST(floor(start_offset / 512.0) AS BIGINT) AS chunk_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM placed
    GROUP BY 1
    ORDER BY chunk_id
    """,
)
def pack_sequences_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: concatenate docs in id order, cut into 512-token
    chunks, assign each doc to the chunk containing its start offset.

    The running offset is a global prefix sum in doc_id order, computed
    the 100 TB way (operators/packing.py `running_offsets_scalable`):
    range repartition on doc_id → per-partition token subtotals (one row
    per partition to the driver) → broadcast base offsets → windows
    partitioned BY partition id. No single-partition global window
    anywhere in the plan; bit-identity with the naive global window is
    asserted by tests/test_transform_reduction.py.
    """
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", F.size(F.split(normalize_text(F.col("text")), " ")).alias("n_tokens")
    )
    placed = running_offsets_scalable(sized, id_col="doc_id", size_col="n_tokens")
    return (
        placed.groupBy(
            F.floor(F.col("start_offset") / F.lit(512.0)).cast("bigint").alias("chunk_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("chunk_id")
    )


@query(
    "mix_domain_quota",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, source, n_chars,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn,
               CASE WHEN CAST(substr(source, 4) AS INTEGER) % 2 = 0
                    THEN 15 ELSE 5 END AS quota
        FROM documents
    )
    SELECT source, COUNT(*) AS n_kept, CAST(SUM(n_chars) AS BIGINT) AS chars_kept
    FROM ranked WHERE rn <= quota
    GROUP BY source
    ORDER BY source
    """,
)
def mix_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixing via deterministic quotas: keep the first N docs per
    source (15 for even-numbered sources, 5 for odd) in doc_id order.

    Quota (systematic) sampling is the reproducible counterpart of
    weighted random domain sampling — same mixture control, exact
    cross-engine parity. The rank window partitions by source, so no
    global sort; per-source ordering scales with the largest domain.
    """
    docs = load_table(spark, sf_dir, "documents")
    quota = F.when(
        F.substring("source", 4, 10).cast("int") % 2 == 0, F.lit(15)
    ).otherwise(F.lit(5))
    w = Window.partitionBy("source").orderBy("doc_id")
    return (
        docs.select("doc_id", "source", "n_chars", quota.alias("quota"),
                    F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= F.col("quota"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.sum("n_chars").alias("chars_kept"))
        .orderBy("source")
    )


@query(
    "normalize_zscore_by_source",
    oracle="""
    SELECT doc_id, source,
           floor(((n_chars - AVG(n_chars) OVER (PARTITION BY source))
                  / stddev_samp(n_chars) OVER (PARTITION BY source)) * 1000000.0 + 0.5)
           / 1000000.0 AS z
    FROM documents
    ORDER BY doc_id
    """,
)
def normalize_zscore_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain z-score normalization of a per-doc statistic (n_chars)
    — the mixture-control preprocessing step that makes quality scores
    comparable across sources before global thresholding.

    Built-in window aggregates (avg/stddev over PARTITION BY source) keep
    it JVM-side; tests/test_dedup_similarity.py proves an applyInPandas
    (grouped-map Arrow) implementation computes the same values — the
    escape hatch exists, the declarative form wins on the hot path.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source")
    z = (F.col("n_chars") - F.avg("n_chars").over(w)) / F.stddev_samp("n_chars").over(w)
    from ..functions.rounding import hround

    return docs.select("doc_id", "source", hround(z, 6).alias("z")).orderBy("doc_id")


@query(
    "text_repetition",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents
    ), grams AS (
        SELECT doc_id, array_to_string(list_slice(w, i, i + 1), ' ') AS g
        FROM words, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
        WHERE len(w) >= 2
    ), per_gram AS (
        SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g
    )
    SELECT doc_id,
           floor((MAX(c) * 1.0 / SUM(c)) * 1000000.0 + 0.5) / 1000000.0
             AS top_bigram_frac,
           CAST(SUM(c) AS BIGINT) AS n_bigrams
    FROM per_gram
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition filter (Gopher-style): fraction of a doc's bigram mass
    taken by its single most-repeated bigram — high values flag looping
    or boilerplate text.

    Per-doc grouping keys on (doc_id, gram), so the shuffle carries
    gram-count pairs, never text; the bigrams come off a materialized
    token array (the interpreted-HOF CSE trap).
    """
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id", F.split(normalize_text(F.col("text")), " ").alias("__toks")
    )  # short docs yield empty shingle arrays; explode drops them (r13)
    grams = toked.select("doc_id", F.explode(token_shingles("__toks", 2)).alias("g"))
    per_gram = grams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    from ..functions.rounding import hround

    return (
        per_gram.groupBy("doc_id")
        .agg(
            hround(F.max("c") * F.lit(1.0) / F.sum("c"), 6).alias("top_bigram_frac"),
            F.sum("c").cast("bigint").alias("n_bigrams"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_unigram_logprob",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, source, unnest(string_split({_NORM}, ' ')) AS tok
        FROM documents
    ), vocab AS (
        SELECT tok, COUNT(*) AS c FROM words GROUP BY tok
    ), total AS (
        SELECT SUM(c) AS n FROM vocab
    )
    SELECT w.source AS source,
           floor((AVG(-ln(v.c / total.n))) * 1000000.0 + 0.5) / 1000000.0
             AS avg_neg_logprob,
           COUNT(*) AS n_tokens
    FROM words w, total
    JOIN vocab v ON w.tok = v.tok
    GROUP BY w.source
    ORDER BY source
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram LM score: average negative log-probability
    of each source's tokens under the whole-corpus unigram distribution
    (the simplest KenLM-style quality signal — outlier sources read as
    high 'perplexity').

    Two passes over the exploded tokens: one tiny vocab aggregate (the
    LM — broadcast back), then a broadcast join + per-source average.
    The vocabulary, not the corpus, bounds the broadcast.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", "source",
        F.explode(F.split(normalize_text(F.col("text")), " ")).alias("tok"),
    )
    vocab = words.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").alias("n"))
    from ..functions.rounding import hround

    return (
        words.join(F.broadcast(vocab), "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("source")
        .agg(
            hround(F.avg(-F.log(F.col("c") / F.col("n"))), 6).alias("avg_neg_logprob"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
        .orderBy("source")
    )


@query(
    "corpus_shard_assignment",
    oracle="""
    WITH sharded AS (
        SELECT doc_id, n_chars,
               CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 32 AS BIGINT) AS shard
        FROM documents
    )
    SELECT shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM sharded
    GROUP BY shard
    ORDER BY shard
    """,
)
def corpus_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus sharding: every doc hashes to one of 32
    shards via an md5 prefix — the reproducible global shuffle a
    training pipeline runs before packing (same doc → same shard on any
    cluster, any partitioning, any engine; Spark's built-in hash() is
    seed/engine-specific, md5 is not).

    The per-shard rollup here verifies balance (the property that
    matters at 100 TB: no hot shard). Downstream, in-shard order is
    "sort by md5 within hash-partition(shard)" — fully parallel, no
    global sort. Map-side: the md5 + modulus are pure projections.
    """
    docs = load_table(spark, sf_dir, "documents")
    shard = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10).cast("long"),
        F.lit(32),
    ).alias("shard")
    return (
        docs.select(shard, "doc_id", "n_chars")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("shard")
    )


_U01 = (
    "CAST(CAST(('0x' || substr(md5('s' || CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) AS DOUBLE)"
    " / 16777216.0"
)


def _u01_spark() -> F.Column:
    """Uniform-[0,1) from a salted md5 prefix — the engine-independent
    "random" used for reproducible sampling/splitting (same doc → same
    draw on Spark, DuckDB, or anything else with md5)."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("s"), F.col("doc_id").cast("string"))), 1, 6),
            16,
            10,
        ).cast("long")
        / F.lit(16777216.0)
    )


@query(
    "sample_hash_bernoulli",
    oracle=f"""
    WITH scored AS (
        SELECT source, n_chars, {_U01} AS u
        FROM documents
    )
    SELECT source,
           COUNT(*) AS n_sampled,
           CAST(SUM(n_chars) AS BIGINT) AS chars_sampled
    FROM scored
    WHERE u < CASE WHEN CAST(substr(source, 4) AS INTEGER) % 2 = 0
                   THEN 0.5 ELSE 0.1 END
    GROUP BY source
    ORDER BY source
    """,
)
def sample_hash_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible per-domain downsampling: keep a doc iff its salted
    md5 draw falls under the domain's rate (50% for even sources, 10%
    for odd) — weighted domain sampling with none of the
    engine-RNG nondeterminism that makes `sample_events` rows-only.

    At 100 TB this is the standard mixture-control knob: pure map-side
    projection + filter, no shuffle until the audit rollup, and
    resumable/replayable because membership is content-addressed, not
    seeded. The salt ('s') decorrelates the draw from
    corpus_shard_assignment's md5.
    """
    docs = load_table(spark, sf_dir, "documents")
    rate = F.when(
        F.substring("source", 4, 10).cast("int") % 2 == 0, F.lit(0.5)
    ).otherwise(F.lit(0.1))
    return (
        docs.select("source", "n_chars", _u01_spark().alias("u"), rate.alias("rate"))
        .filter(F.col("u") < F.col("rate"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_chars").alias("chars_sampled"),
        )
        .orderBy("source")
    )


@query(
    "split_hash_deterministic",
    oracle=f"""
    WITH scored AS (
        SELECT source, {_U01} AS u
        FROM documents
    )
    SELECT source,
           CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split,
           COUNT(*) AS n_docs
    FROM scored
    GROUP BY source, split
    ORDER BY source, split
    """,
)
def split_hash_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment from the same
    salted-md5 draw: a doc's split never changes across runs, engines,
    or repartitions — the property that keeps eval sets stable while a
    100 TB corpus is rebuilt incrementally (randomSplit re-rolls
    membership whenever partitioning shifts; this never does).
    """
    docs = load_table(spark, sf_dir, "documents")
    u = _u01_spark()
    split = (
        F.when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test").alias("split")
    )
    return (
        docs.select("source", split)
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("source", "split")
    )


_U01K = (
    "CAST(CAST(('0x' || substr(md5('k' || CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) AS DOUBLE)"
    " / 16777216.0"
)


@query(
    "sample_fixed_n_per_group",
    oracle=f"""
    WITH scored AS (
        SELECT lang, doc_id, {_U01K} AS u FROM documents
    ), ranked AS (
        SELECT lang, doc_id,
               row_number() OVER (PARTITION BY lang ORDER BY u, doc_id) AS rn
        FROM scored
    )
    SELECT lang, CAST(rn AS INTEGER) AS rn, doc_id
    FROM ranked WHERE rn <= 5
    ORDER BY lang, rn
    """,
)
def sample_fixed_n_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-N-per-stratum sampling (N=5 docs per language), chosen by
    salted-md5 order — the deterministic replacement for per-group
    reservoir sampling. Same docs every run, on every engine, under any
    partitioning; `sampleBy` can only promise a *fraction* and drops
    strata absent from its dict (ROUND_NOTES trap).

    Scale shape: one shuffle on the stratum key, then a rank-and-filter
    window per group. Spark's WindowGroupLimit pushes the rn<=5 limit
    into the sort, so no group is ever fully sorted — per-task state is
    O(N), not O(|group|). Salt 'k' decorrelates from the Bernoulli
    sampler ('s'), the temperature mixer ('t') and the sharder.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("k"), F.col("doc_id").cast("string"))), 1, 6),
            16,
            10,
        ).cast("long")
        / F.lit(16777216.0)
    )
    w = Window.partitionBy("lang").orderBy("u", "doc_id")
    return (
        docs.withColumn("u", u)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "rn", "doc_id")
        .orderBy("lang", "rn")
    )


@query(
    "sample_weighted_topk",
    oracle="""
    WITH scored AS (
        SELECT lang, doc_id,
               -ln(CAST(CAST(('0x' || substr(md5('w' || CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) AS DOUBLE)
                   / 16777216.0 + 5.9604644775390625e-08)
               / n_chars AS es_key
        FROM documents
        WHERE n_chars > 0
    ), ranked AS (
        SELECT lang, doc_id,
               row_number() OVER (PARTITION BY lang ORDER BY es_key, doc_id) AS rn
        FROM scored
    )
    SELECT lang, CAST(rn AS INTEGER) AS rn, doc_id
    FROM ranked WHERE rn <= 5
    ORDER BY lang, rn
    """,
)
def sample_weighted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis): per
    language, the 5 docs with smallest -ln(u)/w, weight w = n_chars —
    long documents proportionally more likely, yet fully deterministic
    because u is a salted-md5 draw, not engine RNG. The u=0 corner is
    shifted by half a draw-quantum (2^-24/2) so ln() never sees zero.
    Zero-weight docs (n_chars = 0, e.g. empty text) have selection
    probability 0 under E-S — they are excluded up front rather than
    dividing by their weight (ANSI divide-by-zero; the docs edge
    sweep caught it).

    Scale shape: identical to sample_fixed_n_per_group — map-side key
    computation, one shuffle on the stratum, WindowGroupLimit keeps
    per-task state at O(N). This is the distributed form of the
    standard one-pass weighted reservoir.
    """
    from pyspark.sql import Window

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars")
        .filter(F.col("n_chars") > 0)
    )
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("w"), F.col("doc_id").cast("string"))), 1, 6),
            16,
            10,
        ).cast("long")
        / F.lit(16777216.0)
    )
    es_key = -F.log(u + F.lit(5.9604644775390625e-08)) / F.col("n_chars")
    w = Window.partitionBy("lang").orderBy("es_key", "doc_id")
    return (
        docs.withColumn("es_key", es_key)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "rn", "doc_id")
        .orderBy("lang", "rn")
    )


@query(
    "ml_feature_hash_buckets",
    oracle="""
    WITH tokens AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ), hashed AS (
        SELECT CAST(CAST(('0x' || substr(md5(token), 1, 6)) AS BIGINT) % 64 AS BIGINT) AS bucket,
               CASE WHEN substr(md5('s' || token), 1, 1)
                         IN ('0','1','2','3','4','5','6','7')
                    THEN 1 ELSE -1 END AS sgn
        FROM tokens
    )
    SELECT bucket,
           CAST(SUM(sgn) AS BIGINT) AS signed_count,
           COUNT(*) AS n_tokens
    FROM hashed
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def ml_feature_hash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (signed feature hashing, Weinberger et al. '09,
    public): every token maps to one of 64 buckets via md5, with a
    second independent md5 bit supplying the +-1 sign that keeps the
    hashed feature map unbiased. The corpus-level signed bucket counts
    are the fixed-width feature vector a downstream linear model trains
    on — no vocabulary build, no OOV handling, which is what makes the
    trick work on an unbounded 100 TB corpus.

    Shape: explode -> md5 -> one 64-key shuffle agg with map-side
    partial counts. md5 (not xxhash64) because the DuckDB twin must
    hash identically; both engines take the first 24 hex bits.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("token"))
    bucket = (
        F.conv(F.substring(F.md5("token"), 1, 6), 16, 10).cast("long") % 64
    ).alias("bucket")
    sgn = (
        F.when(
            F.substring(F.md5(F.concat(F.lit("s"), F.col("token"))), 1, 1).isin(
                *"01234567"
            ),
            F.lit(1),
        )
        .otherwise(F.lit(-1))
        .alias("sgn")
    )
    return (
        tok.select(bucket, sgn)
        .groupBy("bucket")
        .agg(
            F.sum("sgn").cast("long").alias("signed_count"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
        .orderBy("bucket")
    )


@query(
    "dedup_repeated_ngrams",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, string_split({_NORM}, ' ') AS w
        FROM documents
    ), grams AS (
        SELECT doc_id, array_to_string(list_slice(w, i, i + 4), ' ') AS g
        FROM words, UNNEST(generate_series(1, len(w) - 4)) AS t(i)
        WHERE len(w) >= 5
    ), per_gram AS (
        SELECT g, COUNT(DISTINCT doc_id) AS n_docs
        FROM grams
        GROUP BY g
        HAVING COUNT(DISTINCT doc_id) >= 2
    )
    SELECT n_docs, COUNT(*) AS n_grams
    FROM per_gram
    GROUP BY n_docs
    ORDER BY n_docs
    """,
)
def dedup_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level repeated n-gram audit — the memorization-risk
    profile: how many distinct word 5-grams appear in 2, 3, … distinct
    documents. Sequences repeated across many training documents are
    the ones a model is most likely to memorize verbatim, so this
    histogram is the standard first look before substring-level dedup.

    Shape at 100 TB: explode to (doc_id, gram), ONE shuffle keyed on the
    gram for the distinct-doc count (map-side partial aggregation
    applies), then a trivially small second aggregation over the
    histogram. Gram strings are the join keys here for oracle parity;
    the production variant groups on xxhash64(gram) so the shuffle
    carries 8-byte keys — same plan shape, smaller exchange (the
    rolling-hash trick already used by dedup_minhash_lsh).
    """
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id", F.split(normalize_text(F.col("text")), " ").alias("__toks")
    )  # short docs yield empty shingle arrays; explode drops them (r13)
    grams = toked.select("doc_id", F.explode(token_shingles("__toks", 5)).alias("g"))
    per_gram = (
        grams.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
    )
    return (
        per_gram.groupBy("n_docs")
        .agg(F.count(F.lit(1)).alias("n_grams"))
        .orderBy("n_docs")
    )


@query(
    "mix_token_budget_epochs",
    oracle=f"""
    WITH per AS (
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(len(regexp_extract_all(text, '\\S+'))) AS BIGINT) AS n_tokens
        FROM documents
        GROUP BY source
    ), tot AS (
        SELECT CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS target_tokens FROM per
    )
    SELECT source, n_docs, n_tokens,
           {dround('tot.target_tokens / per.n_tokens', 4)} AS epochs
    FROM per, tot
    ORDER BY source
    """,
)
def mix_token_budget_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain epoch factors for a uniform token budget — the static
    form of mixture reweighting: each source's repeat factor is
    (total_tokens / n_sources) / source_tokens, >1 meaning the domain is
    upsampled (seen more than once per epoch), <1 downsampled. Completes
    the mixing ladder (quota → temperature → z-score → token-budget
    epochs).

    One partial-aggregatable groupBy over the corpus; the per-source
    table is tiny and the target is a 1-row broadcast crossJoin — no
    second pass over the documents.
    """
    from ..operators.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text")).cast("long")).alias("n_tokens"),
    )
    tot = per.agg(
        (F.sum("n_tokens").cast("double") / F.count(F.lit(1))).alias("target_tokens")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            hround(F.col("target_tokens") / F.col("n_tokens"), 4).alias("epochs"),
        )
        .orderBy("source")
    )


@query(
    "normalize_quantile_match_by_source",
    oracle=f"""
    WITH vc AS (
        SELECT source, n_chars AS v, COUNT(*) AS c
        FROM documents GROUP BY 1, 2
    ), src AS (
        SELECT source, v, c,
               SUM(c) OVER (PARTITION BY source ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               SUM(c) OVER (PARTITION BY source) AS n_s
        FROM vc
    ), srcq AS (
        SELECT source, v, c, (cum - c / 2.0) / n_s AS q, n_s FROM src
    ), pooled AS (
        SELECT v, SUM(c) AS c FROM vc GROUP BY v
    ), pcdf AS (
        SELECT v, SUM(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               / SUM(c) OVER () AS frac
        FROM pooled
    ), mapped AS (
        SELECT s.source, s.c, s.n_s, s.v,
               MIN(p.v) AS target
        FROM srcq s JOIN pcdf p ON p.frac >= s.q
        GROUP BY s.source, s.v, s.c, s.n_s
    )
    SELECT source,
           CAST(MIN(n_s) AS BIGINT) AS n_docs,
           {dround('SUM(c * CAST(v AS DOUBLE)) / MIN(n_s)', 4)} AS mean_raw,
           {dround('SUM(c * CAST(target AS DOUBLE)) / MIN(n_s)', 4)} AS mean_mapped
    FROM mapped
    GROUP BY source
    ORDER BY source
    """,
)
def normalize_quantile_match_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile matching (CDF mapping) of n_chars per source onto the
    pooled distribution — the batch-effect/domain-shift corrector that
    goes beyond `normalize_zscore_by_source`: z-scoring aligns two
    moments, quantile matching aligns the WHOLE distribution (each
    value maps to the pooled quantile at its within-source midpoint
    CDF fraction — the lowest pooled value whose CDF reaches it).

    Scale shape: both CDFs live on the DISTINCT-VALUE tables (bounded
    by the n_chars domain, ~500 values at any corpus size — per-source
    windows are domain-bounded, never n/|sources| row partitions), and
    the inverse-CDF lookup is a bounded×bounded non-equi join with a
    MIN aggregate. Per-source mean before/after reported; after mapping
    every source's mean converges toward the pooled mean, which is the
    observable the entry certifies.
    """
    docs = load_table(spark, sf_dir, "documents")
    vc = docs.groupBy("source", F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    w_cum = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("source")
    srcq = vc.select(
        "source",
        "v",
        "c",
        ((F.sum("c").over(w_cum) - F.col("c") / 2.0) / F.sum("c").over(w_all)).alias("q"),
        F.sum("c").over(w_all).alias("n_s"),
    )
    pooled = vc.groupBy("v").agg(F.sum("c").alias("c"))
    wp_cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wp_all = Window.partitionBy()
    pcdf = pooled.select(
        F.col("v").alias("pv"),
        (F.sum("c").over(wp_cum) / F.sum("c").over(wp_all)).alias("frac"),
    )
    mapped = (
        srcq.join(F.broadcast(pcdf), F.col("frac") >= F.col("q"))
        .groupBy("source", "v", "c", "n_s")
        .agg(F.min("pv").alias("target"))
    )
    return (
        mapped.groupBy("source")
        .agg(
            F.min("n_s").cast("long").alias("n_docs"),
            hround(F.sum(F.col("c") * F.col("v").cast("double")) / F.min("n_s"), 4).alias("mean_raw"),
            hround(F.sum(F.col("c") * F.col("target").cast("double")) / F.min("n_s"), 4).alias("mean_mapped"),
        )
        .orderBy("source")
    )


_CLIP_W = 8


@query(
    "decon_substring_clip",
    oracle=f"""
    WITH toks AS MATERIALIZED (
        SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
    ), eval_w AS MATERIALIZED (
        SELECT DISTINCT array_to_string(t[(s+1):(s+{_CLIP_W})], ' ') AS w
        FROM toks,
             UNNEST(generate_series(0, GREATEST(len(t)-{_CLIP_W}, 0))) AS u(s)
        WHERE source = 'src0'
    ), bwins AS (
        SELECT doc_id, s, array_to_string(t[(s+1):(s+{_CLIP_W})], ' ') AS w
        FROM toks,
             UNNEST(generate_series(0, GREATEST(len(t)-{_CLIP_W}, 0))) AS u(s)
        WHERE source <> 'src0'
    ), flagged AS MATERIALIZED (
        SELECT b.doc_id, b.s, (ew.w IS NOT NULL) AS dup
        FROM bwins b LEFT JOIN eval_w ew ON b.w = ew.w
    ), tokpos AS (
        SELECT doc_id, source, p, len(t) AS n
        FROM toks, UNNEST(generate_series(0, len(t)-1)) AS v(p)
        WHERE source <> 'src0'
    ), covered AS (
        SELECT tk.doc_id, tk.source, tk.p, BOOL_OR(NOT f.dup) AS keep
        FROM tokpos tk JOIN flagged f
          ON f.doc_id = tk.doc_id
         AND f.s BETWEEN GREATEST(tk.p - {_CLIP_W} + 1, 0)
                     AND LEAST(tk.p, GREATEST(tk.n - {_CLIP_W}, 0))
        GROUP BY tk.doc_id, tk.source, tk.p
    ), perdoc AS (
        SELECT doc_id, source, COUNT(*) AS n_tokens,
               SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS n_kept
        FROM covered GROUP BY doc_id, source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_kept < n_tokens THEN 1 ELSE 0 END) AS BIGINT)
               AS n_contaminated_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(n_tokens - n_kept) AS BIGINT) AS n_tokens_removed
    FROM perdoc GROUP BY source
    ORDER BY source
    """,
)
def decon_substring_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring decontamination — the REMEDIATION half the
    lexical ladder was missing (r12): `decon_ngram_overlap` DETECTS
    training docs sharing any 4-gram with the eval source and
    `decon_embedding_topk` ranks semantic leakage, but a pipeline that
    decides to keep a flagged document still needs the leaked span CUT.
    This entry clips every training document against the eval suite's
    rolling {_CLIP_W}-token windows (eval = source 'src0', the
    `decon_ngram_overlap` convention): a training token drops iff every
    window covering it appears verbatim in the eval suite — interiors
    of quoted eval passages vanish at ANY offset while organic n-gram
    coincidences (shorter than a window) survive. Reports the per-source
    contamination bill: docs touched and tokens removed.

    Pure composition of the tested shifted-substring operators
    (`build_window_index` over the eval suite — eval sets are small, so
    at 100 TB this index is a few MB, bucketed or even broadcast —
    then `clip_against_index` streaming the training side; the only
    wide exchange is the window probe). The DuckDB twin replays the
    windowing and coverage rule per source.
    """
    from ..operators.dedup import build_window_index, clip_against_index

    docs = load_table(spark, sf_dir, "documents")
    ev = docs.filter(F.col("source") == "src0")
    train = docs.filter(F.col("source") != "src0")
    index = build_window_index(ev, width=_CLIP_W)
    flags = clip_against_index(index, train, width=_CLIP_W)
    return (
        flags.join(train.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((F.col("n_kept") < F.col("n_tokens")).cast("int"))
            .cast("long")
            .alias("n_contaminated_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum(F.col("n_tokens") - F.col("n_kept"))
            .cast("long")
            .alias("n_tokens_removed"),
        )
        .orderBy("source")
    )
