"""Deduplication operators over the documents table (north-star extension).

Exact (hash-groupBy), MinHash+LSH, SimHash, and n-gram Jaccard near-dup —
the training-data-pipeline dedup ladder, each designed shuffle-aware:

- exact dedup groups by a 128-bit content hash (md5 of normalized text),
  so the shuffle key is 16 bytes instead of the document body;
- MinHash/LSH banding turns all-pairs O(n²) into per-bucket candidate
  generation (the only scalable shape at 100 TB);
- Jaccard verification runs only on blocked candidate pairs.

The token-set operators (n-gram Jaccard and containment, their
prefix-filtered twins, incremental dedup and the LSH closure) share one
pipeline, and each of its steps has one implementation below:
:func:`_token_base` (hashed distinct-token arrays),
:func:`_df_ranked_postings` (document-frequency ranked postings),
:func:`_prefix` (the prefix bound), :func:`_jaccard_candidates` (the
pair-dependent prefix candidate join), :func:`_jaccard_verified` (the
exact Jaccard verify) and :func:`_minhash` (the per-seed minimum
signature).

Every operator reads the documents table's ``doc_id`` and ``text``
columns; rename another corpus's columns to these first.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window, functions as F

from .. import materialise
from .text import normalize_text


# ---------------------------------------------------------------------------
# The token-set pipeline: one implementation of each shared step
# ---------------------------------------------------------------------------
#
# The r8 sf1 audit (docs/SCALING_SF1.md) showed the fixed-cardinality
# blocking of ngram_jaccard_pairs and containment_pairs (source / label)
# going quadratic: block populations grow with the corpus while the
# number of blocks does not, so per-block pairs grow as n². PPJoin-style
# prefix filtering replaces the block key with a CONTENT-derived bound:
# order each doc's tokens by ascending global document frequency; a pair
# can reach the threshold only if it shares a token inside both docs'
# short "prefix" of globally-rarest tokens, so candidates concentrate on
# rare tokens and total candidate mass tracks the TRUE-pair mass, not
# block². (r6 measured prefix filtering as a net loss at sf0.1 where
# source blocking was within 1.4x of the true-pair floor — both
# measurements stand; the crossover is the regime change the audit
# exposed. Xiao et al., "Efficient Similarity Joins for Near Duplicate
# Detection", WWW'08 — public algorithm.)
#
# Correctness of the filter (recall = 1, any global token order): if
# |A∩B| ≥ ⌈t·|A|⌉, fewer than |A| − ⌈t·|A|⌉ + 1 of A's tokens are outside
# B, so at least one of A's first |A| − ⌈t·|A|⌉ + 1 tokens (in ANY fixed
# order) is shared. Verification is exact, so each engine may use its own
# token order (Spark ranks xxhash64 longs, the DuckDB oracle ranks
# strings) and still produce the identical final pair set.


def _token_base(df: DataFrame, block_cols: list[str] | None = None,
                checkpoint: bool = True) -> DataFrame:
    """(id, [blocks], toks, __n) hashed distinct-token arrays.

    ``checkpoint=True`` (default) truncates lineage so multi-consumer
    plans (postings + both verify sides of the prefix-filter path)
    don't re-tokenize per consumer. Single-pass consumers (the blocked
    self-joins, the bounded Arrow fast path) pass ``checkpoint=False``:
    the checkpoint would materialize the ENTIRE tokenized relation to
    executor storage before the one pass, and its plan scans an
    ExistingRDD where the uncheckpointed one scans parquet with a
    ReadSchema of just doc_id, text and source."""
    tokens = F.transform(
        F.array_distinct(F.split(normalize_text(F.col("text")), " ")),
        lambda t: F.xxhash64(t),
    )
    out = df.select(
        F.col("doc_id").alias("id"),
        *[F.col(c) for c in (block_cols or [])],
        tokens.alias("toks"),
    ).withColumn("__n", F.size("toks"))
    # reused: postings + both verify sides
    return materialise.checkpoint(out) if checkpoint else out


def _minhash(shingle_hashes: str, num_hashes: int):
    """array<bigint> MinHash signature of an array<bigint> column: per
    seed, the minimum seeded xxhash64 over its elements."""
    return F.array(*[
        F.array_min(F.transform(shingle_hashes, lambda s: F.xxhash64(s, F.lit(seed))))
        for seed in range(num_hashes)
    ])


def _df_ranked_postings(base: DataFrame, block_cols: list[str] | None = None,
                        tok_df: DataFrame | None = None) -> tuple[DataFrame, DataFrame]:
    """(ranked, tok_df): ``ranked`` is every (tok, id, __n, [blocks], df,
    rk) posting, each doc's tokens ranked by ascending document frequency
    ``df`` (ties by token hash — any total order works).

    ``tok_df`` (tok → df) defaults to the frequencies over ``base``
    itself. An incremental batch ranks against its corpus index's
    frequencies instead; tokens the corpus has never seen get df 0, the
    rarest."""
    posting = base.select(
        "id", "__n", *(block_cols or []), F.explode("toks").alias("tok")
    )
    if tok_df is None:
        tok_df = posting.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        posting.join(tok_df, "tok", "left")
        .withColumn("df", F.coalesce("df", F.lit(0)))
        .withColumn("rk", F.row_number().over(Window.partitionBy("id").orderBy("df", "tok")))
    )
    return ranked, tok_df


def _prefix(ranked: DataFrame, threshold: float) -> DataFrame:
    """The ranked postings inside each doc's prefix: its first
    n − ⌈t·n⌉ + 1 tokens (the bound above, recall 1)."""
    return ranked.filter(
        F.col("rk") <= F.col("__n") - F.ceil(F.lit(threshold) * F.col("__n")) + 1
    )


def _pair_cond(left: str, right: str, block_cols: list[str] | None):
    cond = F.lit(True)
    for c in block_cols or []:
        cond = cond & (F.col(f"{left}.{c}") == F.col(f"{right}.{c}"))
    return cond


def _size_ratio_ok(left: str, right: str, threshold: float):
    """Size-ratio prune (semantics-preserving): J(A,B) ≤ min(|A|,|B|) /
    max(|A|,|B|), so pairs whose token-set sizes are too lopsided can
    never reach the threshold — skip their intersect/union entirely."""
    na, nb = F.col(f"{left}.__n"), F.col(f"{right}.__n")
    return F.least(na, nb).cast("double") >= F.lit(threshold) * F.greatest(na, nb)


def _jaccard_candidates(left: DataFrame, right: DataFrame, threshold: float,
                        block_cols: list[str] | None, self_join: bool) -> DataFrame:
    """Distinct (id_a, id_b) pairs of two prefix-posting frames that may
    reach Jaccard ≥ threshold: a shared token inside both pair-dependent
    prefixes, token-set sizes within the ratio bound, equal blocks. A
    ``self_join`` keeps each unordered pair once, as id_a < id_b."""
    pa, pb = left.alias("pa"), right.alias("pb")
    # Pair-dependent tightening (classical prefix-filter theorem: if
    # |A∩B| ≥ α, the SMALLEST common token lies within BOTH prefixes of
    # length |·|−α+1): at join time both sizes are known, so α can be
    # the pairwise ⌈t·max(|A|,|B|)⌉ instead of each side's static
    # ⌈t·n⌉ — strictly fewer candidates, recall still 1.
    alpha = F.ceil(F.lit(threshold) * F.greatest(F.col("pa.__n"), F.col("pb.__n")))
    cond = F.col("pa.tok") == F.col("pb.tok")
    if self_join:
        cond = cond & (F.col("pa.id") < F.col("pb.id"))
    cond = (
        cond
        & _pair_cond("pa", "pb", block_cols)
        & _size_ratio_ok("pa", "pb", threshold)
        & (F.col("pa.rk") <= F.col("pa.__n") - alpha + 1)
        & (F.col("pb.rk") <= F.col("pb.__n") - alpha + 1)
    )
    return (
        pa.join(pb, cond)
        .select(F.col("pa.id").alias("id_a"), F.col("pb.id").alias("id_b"))
        .distinct()
    )


def _jaccard_verified(cand: DataFrame, left: DataFrame, right: DataFrame,
                      threshold: float) -> DataFrame:
    """``cand``'s (id_a, id_b, ...) rows whose exact token-set Jaccard is
    ≥ threshold, with it appended as ``jaccard``. ``left`` and ``right``
    are the (id, toks, __n) frames that id_a and id_b index. toks are
    distinct, so |A∪B| = |A|+|B|−|A∩B| — arithmetic instead of a second
    array per pair."""
    va = left.select(
        F.col("id").alias("id_a"), F.col("toks").alias("__ta"), F.col("__n").alias("__na")
    )
    vb = right.select(
        F.col("id").alias("id_b"), F.col("toks").alias("__tb"), F.col("__n").alias("__nb")
    )
    inter = F.size(F.array_intersect("__ta", "__tb"))
    jaccard = inter.cast("double") / (F.col("__na") + F.col("__nb") - inter).cast("double")
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(*cand.columns, jaccard.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def exact_dup_groups(df: DataFrame) -> DataFrame:
    """Exact dedup via content-hash groupBy (fp, keep_id, n_copies).

    The shuffle moves only (hash, id) pairs — never document bodies.
    """
    return (
        df.select("doc_id", F.md5(F.encode(normalize_text(F.col("text")), "UTF-8")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def shingles(col, n: int = 3):
    """Word n-gram shingles of normalized text (array<string>).

    PERFORMANCE: higher-order functions run interpreted with no
    cross-expression CSE, so the inlined split/normalize here is
    re-evaluated once per shingle. Fine for a single projection that is
    immediately materialized; for anything that
    explodes or re-reads the shingles, materialize the token array in
    its own projection first and use :func:`token_shingles`.
    """
    tokens = F.split(normalize_text(col), " ")
    k = F.size(tokens) - (n - 1)
    return F.when(k <= 0, F.array(F.concat_ws(" ", tokens))).otherwise(
        F.transform(
            F.sequence(F.lit(0), k - 1),
            lambda i: F.concat_ws(" ", F.slice(tokens, i + 1, n)),
        )
    )


def token_shingles(tokens_col, n: int = 3):
    """Word n-gram shingles over an ALREADY-MATERIALIZED token array
    column. The lambda then reads a bound attribute instead of
    re-evaluating the tokenization per element (measured ~13× faster
    than :func:`shingles` on exploded 4-gram generation at sf0.1).

    Arrays shorter than ``n`` yield an EMPTY shingle array (r13): the
    guard lives in the expression, not in a caller row-filter — a
    ``filter(size(toks) >= n)`` above the tokenizing projection gets
    pushed below it with the tokenize pipeline SUBSTITUTED into the
    predicate, re-running normalize+split+hash twice per row (measured
    in the decon_ngram_overlap/text_repetition/dedup_repeated_ngrams
    plans). Callers that explode the shingles drop short docs
    identically either way.
    """
    c = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    return F.when(
        F.size(c) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(c) - n),
            lambda i: F.concat_ws(" ", F.slice(c, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", num_hashes: int = 32,
                       shingle_n: int = 3) -> DataFrame:
    """(id, sig) MinHash signatures as array<bigint>.

    Two materialized projections before fanning out to the per-hash
    mins (higher-order functions run interpreted with no
    cross-expression CSE, so anything inlined would be re-evaluated
    per hash function — measured 16× slower at 32 hashes):
      1. hash every TOKEN once to a long (xxhash64);
      2. shingle hash = xxhash64 over the n token hashes via
         try_element_at — a rolling hash that never builds the n-gram
         STRING. Skipping the slice+concat_ws string materialization
         and hashing fixed-width longs instead of ~20-byte strings
         measured 10.0s → 2.6s at sf0.1 for the full candidate query.
    try_element_at (not element_at) so docs shorter than shingle_n
    hash their <n available tokens with trailing NULLs instead of
    raising under ANSI — still a deterministic per-doc shingle.
    """
    tokenhashed = df.select(
        F.col(id_col).alias("id"),
        F.transform(
            F.split(normalize_text(F.col(text_col)), " "), lambda t: F.xxhash64(t)
        ).alias("__th"),
    )
    n_shingles = F.greatest(F.size(F.col("__th")) - (shingle_n - 1), F.lit(1))
    shingled = tokenhashed.select(
        "id",
        F.transform(
            F.sequence(F.lit(0), n_shingles - 1),
            lambda i: F.xxhash64(
                *[F.try_element_at("__th", i + k + 1) for k in range(shingle_n)]
            ),
        ).alias("__sh"),
    )
    return shingled.select("id", _minhash("__sh", num_hashes).alias("sig"))


def banded_postings(sig: DataFrame, num_hashes: int = 32,
                    bands: int = 8) -> DataFrame:
    """(id, band, bucket) LSH band postings: one row per (doc, band),
    bucket = xxhash64 of the band's rows_per_band signature entries.
    8·n skinny rows — the ONLY relation candidate generation needs."""
    rows_per_band = num_hashes // bands
    return sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at("sig", b * rows_per_band + r + 1).cast("string")
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def minhash_lsh_candidates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                           num_hashes: int = 32, bands: int = 8,
                           shingle_n: int = 3) -> DataFrame:
    """MinHash+LSH candidate pairs: band the signature, bucket-join.

    rows_per_band = num_hashes / bands. Docs sharing ANY band bucket become
    a candidate pair. The self-join is per-bucket (skew-bounded by bucket
    size), never all-pairs. Returns (id_a, id_b) with id_a < id_b.

    NOTE this MATERIALIZES the distinct candidate-pair relation — the
    right shape for bounded pair consumers (`dedup_minhash_lsh`'s
    reporting, recall audits), but `lsh_dedup_clusters` deliberately
    does NOT call it: at duplicate-dense SFs the distinct pair relation
    is ~1000× the doc count (40.5M pairs for 39k docs at sf1f), and the
    clustering path needs only spanning edges + a colocated exhaustive
    verify (see its docstring).
    """
    banded = banded_postings(
        minhash_signatures(df, text_col, id_col, num_hashes, shingle_n),
        num_hashes, bands,
    )
    left = banded.alias("a")
    right = banded.alias("b")
    return (
        left.join(
            right,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash64_udf():
    """64-bit SimHash as an Arrow-batched Pandas UDF (factory — the
    decorator needs an active session, so it binds lazily).

    Per-bit majority vote over word-bigram shingle hashes (md5-derived
    64-bit ints — stable across runs/engines). This is one of the few
    operators where an expression-level formulation is genuinely
    pathological (64 per-bit aggregates over the shingle array per row),
    so the vectorized-UDF escape hatch is the right scale call
    (SURVEY §2.11); numpy does the bit voting per batch.
    """

    @F.pandas_udf("long")
    def _simhash(texts):  # type: ignore[misc]
        import hashlib

        import numpy as np
        import pandas as pd

        out = np.zeros(len(texts), dtype=np.int64)
        for row_idx, text in enumerate(texts):
            norm = " ".join(str(text or "").lower().split())
            tokens = norm.split(" ")
            if len(tokens) < 2:
                grams = [norm]
            else:
                grams = [tokens[i] + " " + tokens[i + 1] for i in range(len(tokens) - 1)]
            hashes = np.array(
                [
                    int.from_bytes(hashlib.md5(g.encode("utf-8")).digest()[:8], "big")
                    for g in grams
                ],
                dtype=np.uint64,
            )
            bits = (hashes[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
            votes = 2 * bits.astype(np.int64).sum(axis=0) - len(grams)
            fp = np.uint64(0)
            for i in np.nonzero(votes > 0)[0]:
                fp |= np.uint64(1) << np.uint64(i)
            out[row_idx] = int(fp) if fp < (1 << 63) else int(fp) - (1 << 64)
        return pd.Series(out)

    return _simhash


def simhash_near_dups(df: DataFrame, max_hamming: int = 8) -> DataFrame:
    """SimHash near-dup pairs: block on each of the four 16-bit fingerprint
    quarters (the standard rotated-table scheme), verify Hamming distance
    within blocks.

    Two fingerprints at distance d ≤ 3 agree on ≥1 of 4 quarters by
    pigeonhole — guaranteed recall there, high recall for moderate d. Each
    join is per-(quarter, value) bucket, so candidate generation stays
    O(bucket²) instead of O(n²); pairs colliding in several quarters are
    deduplicated before the Hamming verify.
    """
    fp = df.select(F.col("doc_id").alias("id"), simhash64_udf()(F.col("text")).alias("fp"))
    blocked = fp.select(
        "id", "fp",
        F.explode(F.array(*[
            F.struct(
                F.lit(q).alias("q"),
                F.shiftrightunsigned("fp", 16 * q).bitwiseAND(F.lit(0xFFFF)).alias("block"),
            )
            for q in range(4)
        ])).alias("qb"),
    ).select("id", "fp", "qb.q", "qb.block")
    a, b = blocked.alias("a"), blocked.alias("b")
    hamming = F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
    return (
        a.join(
            b,
            (F.col("a.q") == F.col("b.q"))
            & (F.col("a.block") == F.col("b.block"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), hamming.alias("hamming"))
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_group_pairs(df: DataFrame, max_hamming: int = 8) -> DataFrame:
    """SimHash near-dup relation at FINGERPRINT granularity — the scale
    twin of :func:`simhash_near_dups` (r9 density-controlled sweep).

    The baseline's hot bucket: documents with IDENTICAL fingerprints
    (exact dups, near-empty texts) collide in all four quarter-blocks,
    so a k-member fp group contributes 4·C(k,2) candidate rows —
    quadratic in the biggest group (measured: 48s at 30× → killed at
    >23min at 100× the bench SF; one task, two cores, everything else
    idle). But identical fps need NO pairwise verification at all —
    Hamming 0 by definition. So: collapse to DISTINCT fingerprints
    first (one representative id + member count per fp), run the same
    quarter-block join over distinct fps only, and emit the relation as
    (fp_a, fp_b, hamming, n_a, n_b) group pairs plus the group sizes.
    Per-bucket work is now bounded by DISTINCT-fp occupancy, which
    fresh content grows sub-linearly; the full pair listing (if a
    consumer really wants Θ(k²) rows) is a deliberate downstream
    explode, not a hidden join cost.

    Returns one row per near-dup fp-group pair: representative ids, the
    Hamming distance, and both group sizes (n_pairs_expanded = n_a·n_b
    tells the consumer what an expansion would cost). Every fp group
    with ≥2 members ALSO emits a self row (rep, rep, hamming=0, n, n):
    without it, an exact-duplicate group whose fp has no near-dup
    neighbor would vanish from the relation entirely, and the
    baseline's Hamming-0 within-group pairs would be unrecoverable
    from this output (r9 ADVICE). A consumer expands within-group
    pairs as C(n,2) from the self rows and cross-group products as
    n_a·n_b from the pair rows, joining back to the fp table only for
    the member ids.
    """
    fp = df.select(
        F.col("doc_id").alias("id"), simhash64_udf()(F.col("text")).alias("fp")
    )
    groups = fp.groupBy("fp").agg(
        F.min("id").alias("rep_id"), F.count(F.lit(1)).alias("n_members")
    )
    blocked = groups.select(
        "fp", "rep_id", "n_members",
        F.explode(F.array(*[
            F.struct(
                F.lit(q).alias("q"),
                F.shiftrightunsigned("fp", 16 * q).bitwiseAND(F.lit(0xFFFF)).alias("block"),
            )
            for q in range(4)
        ])).alias("qb"),
    ).select("fp", "rep_id", "n_members", "qb.q", "qb.block")
    a, b = blocked.alias("a"), blocked.alias("b")
    hamming = F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
    cross = (
        a.join(
            b,
            (F.col("a.q") == F.col("b.q"))
            & (F.col("a.block") == F.col("b.block"))
            & (F.col("a.fp") < F.col("b.fp")),
        )
        .select(
            F.col("a.rep_id").alias("rep_a"),
            F.col("b.rep_id").alias("rep_b"),
            hamming.alias("hamming"),
            F.col("a.n_members").alias("n_a"),
            F.col("b.n_members").alias("n_b"),
        )
        .dropDuplicates(["rep_a", "rep_b"])
        .filter(F.col("hamming") <= max_hamming)
    )
    # Self rows: exact-dup groups are near-dup relations too (Hamming 0
    # by identity) — emit them so the relation is self-contained even
    # when the group's fp has no distinct-fp neighbor.
    selfs = groups.filter(F.col("n_members") >= 2).select(
        F.col("rep_id").alias("rep_a"),
        F.col("rep_id").alias("rep_b"),
        F.lit(0).cast("int").alias("hamming"),
        F.col("n_members").alias("n_a"),
        F.col("n_members").alias("n_b"),
    )
    return cross.unionByName(selfs)


def ngram_jaccard_pairs(df: DataFrame, block_cols: list[str] | None = None,
                        threshold: float = 0.5) -> DataFrame:
    """Token-set Jaccard similarity over blocked candidate pairs.

    ``block_cols`` bounds the self-join (same-block pairs only); Jaccard =
    |A∩B| / |A∪B| over distinct tokens, computed with array intersect/union
    — JVM-side, no UDF.

    The verify runs over xxhash64-hashed tokens, not strings: Jaccard only
    needs intersection/union COUNTS, and set ops over fixed-width longs are
    ~2× faster than over strings (measured 9.9s → 4.7s at sf0.1 on the
    all-near-dup corpus, bit-identical output). A 64-bit collision inside
    one pair's union would be needed to change a count; at a few hundred
    distinct tokens per doc that is P ≈ |union|²/2⁶⁵ < 1e-12 per pair.

    PPJoin prefix filtering: MEASURED AND REJECTED (r6). At sf0.1 the
    blocked join + size prune costs 0.57s and yields 490k candidates, of
    which 354k are true pairs — verification (2.95s) can shrink by at
    most the 28% non-matching share, ~0.8s, before paying for PPJoin's
    own machinery (global token-frequency aggregation, per-doc
    frequency-order sort, prefix-explode join, candidate-pair dedup —
    each a shuffle the current plan doesn't have). End-to-end ceiling
    1.16× on a 6.0s entry, below the 1.3× land bar. The filter earns its
    keep only when candidates ≫ true pairs (weak blocking); this corpus'
    source-blocking is already within 1.4× of the true-pair floor.
    """
    base = _token_base(df, block_cols, checkpoint=False)
    a, b = base.alias("a"), base.alias("b")
    cond = (
        (F.col("a.id") < F.col("b.id"))
        & _pair_cond("a", "b", block_cols)
        & _size_ratio_ok("a", "b", threshold)
    )
    # toks are distinct, so |A∪B| = |A|+|B|−|A∩B| — pure arithmetic
    # instead of materializing a second array per candidate pair.
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    union = F.col("a.__n") + F.col("b.__n") - inter
    jaccard = inter.cast("double") / union.cast("double")
    return (
        a.join(b, cond)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            jaccard.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(df: DataFrame, block_cols: list[str] | None = None,
                      threshold: float = 0.8) -> DataFrame:
    """Asymmetric token-set containment C(A→B) = |A∩B| / |A| over blocked
    pairs, A oriented as the smaller set (ties by id).

    Containment is the quote/boilerplate-dedup relation Jaccard misses:
    a short doc fully embedded in a much longer one has Jaccard
    ≈ |A|/|B| (arbitrarily low) but containment 1.0. Because a tiny set
    can sit inside a huge one, the Jaccard size-ratio prune does NOT
    apply — blocking is the only candidate bound, which is the honest
    cost of the asymmetric relation (documented; at 100 TB pair the
    block key with a length bucket or LSH prefilter if blocks grow).

    Same hashed-token representation as :func:`ngram_jaccard_pairs`
    (xxhash64 longs, collision P < 1e-12 per pair).
    """
    base = _token_base(df, block_cols, checkpoint=False)
    a, b = base.alias("a"), base.alias("b")
    cond = (F.col("a.id") < F.col("b.id")) & _pair_cond("a", "b", block_cols)
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    # containee = smaller token set; equal sizes orient by id (a first).
    a_is_containee = F.col("a.__n") <= F.col("b.__n")
    containee_id = F.when(a_is_containee, F.col("a.id")).otherwise(F.col("b.id"))
    container_id = F.when(a_is_containee, F.col("b.id")).otherwise(F.col("a.id"))
    denom = F.least(F.col("a.__n"), F.col("b.__n"))
    return (
        a.join(b, cond)
        .select(
            containee_id.alias("containee_id"),
            container_id.alias("container_id"),
            (inter.cast("double") / denom.cast("double")).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def prefix_filtered_jaccard_pairs(df: DataFrame,
                                  block_cols: list[str] | None = None,
                                  threshold: float = 0.6) -> DataFrame:
    """Exact token-set Jaccard pairs ≥ threshold, candidates bounded by
    prefix filtering instead of block².

    With ``block_cols`` the output is IDENTICAL to
    :func:`ngram_jaccard_pairs` on the same blocks (prefix filtering has
    recall 1, verification is exact) — only the candidate plan changes,
    so the same oracle certifies both. Without block_cols the pair
    relation is global; on a corpus as dense as the testdata (57% of all
    pairs ≥ 0.6) that OUTPUT is itself Θ(n²) — measured r8, which is why
    the shipped twin keeps the same-source semantics.

    Plan: one posting aggregate (global token df), one per-doc rank
    window, prefix×prefix join keyed on rare tokens with the Jaccard
    size-ratio prune, candidate-pair distinct, then the same exact
    hashed-array verification as :func:`ngram_jaccard_pairs`. Every
    shuffle keys on ids or 8-byte token hashes — document bodies never
    move after the first projection.
    """
    base = _token_base(df, block_cols)
    ranked, _ = _df_ranked_postings(base, block_cols)
    prefix = _prefix(ranked, threshold)
    cand = _jaccard_candidates(prefix, prefix, threshold, block_cols, self_join=True)
    return _jaccard_verified(cand, base, base, threshold)


def prefix_filtered_containment_pairs(df: DataFrame,
                                      block_cols: list[str] | None = None,
                                      threshold: float = 0.8) -> DataFrame:
    """Exact containment pairs C(A→B) = |A∩B|/|A| ≥ threshold, with the
    containee's rare-token prefix probing FULL postings.

    With ``block_cols`` the output is IDENTICAL to
    :func:`containment_pairs` on the same blocks — prefix filtering has
    recall 1 (pigeonhole on the ⌈t·|A|⌉ required overlap), verification
    is exact, so the baseline's oracle certifies this plan too.

    The asymmetric relation has no size-ratio prune and no bound on the
    container's prefix (a tiny set can sit inside any huge one), so the
    candidate join is containee-prefix × full-postings — still bounded:
    prefixes prefer the globally rarest tokens, so the per-token join
    fan-out is df(rare), not df(hot). Containee orientation matches
    :func:`containment_pairs`: the smaller token set, ties to the lower
    id.
    """
    base = _token_base(df, block_cols)
    ranked, _ = _df_ranked_postings(base, block_cols)
    pa, pb = _prefix(ranked, threshold).alias("pa"), ranked.alias("pb")
    # Pair-dependent container prefix (both-prefixes theorem): with
    # α = ⌈t·|A|⌉ known at join time, the smallest common token must
    # also sit within the container's first |B|−α+1 tokens — prunes the
    # hot tail of the full postings the asymmetric probe would
    # otherwise sweep. Recall stays 1.
    alpha = F.ceil(F.lit(threshold) * F.col("pa.__n"))
    cand = (
        pa.join(
            pb,
            (F.col("pa.tok") == F.col("pb.tok"))
            & _pair_cond("pa", "pb", block_cols)
            & (F.col("pb.rk") <= F.col("pb.__n") - alpha + 1)
            # containee = smaller set, ties to the lower id — dedups the
            # pair AND pins the orientation before verification.
            & (
                (F.col("pa.__n") < F.col("pb.__n"))
                | (
                    (F.col("pa.__n") == F.col("pb.__n"))
                    & (F.col("pa.id") < F.col("pb.id"))
                )
            ),
        )
        .select(
            F.col("pa.id").alias("containee_id"),
            F.col("pb.id").alias("container_id"),
        )
        .distinct()
    )
    va = base.select(
        F.col("id").alias("containee_id"),
        F.col("toks").alias("ta"),
        F.col("__n").alias("na"),
    )
    vb = base.select(
        F.col("id").alias("container_id"), F.col("toks").alias("tb")
    )
    inter = F.size(F.array_intersect(F.col("ta"), F.col("tb")))
    return (
        cand.join(va, "containee_id")
        .join(vb, "container_id")
        .select(
            "containee_id",
            "container_id",
            (inter.cast("double") / F.col("na").cast("double")).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def incremental_jaccard_flags(corpus: DataFrame, batch: DataFrame,
                              block_cols: list[str] | None = None,
                              threshold: float = 0.6) -> DataFrame:
    """Incremental dedup: flag each NEW-batch doc that near-duplicates
    (token-set Jaccard ≥ threshold) any EXISTING-corpus doc — without
    ever pairing corpus docs with each other.

    The production ingest pattern at 100 TB: the corpus is deduped once;
    every arriving batch must be checked against it (and dropped or
    kept), re-deduping the corpus daily is off the table. This operator
    keeps the corpus side index-shaped:

    - token document frequencies (``tok_df``) and the ranked corpus
      prefix postings derive from the CORPUS ALONE, so in production
      both are materialized once and reused across batches — the
      per-batch work is ranking the batch docs (against the corpus df;
      tokens the corpus has never seen get df 0 = rarest) and one
      prefix×prefix join;
    - the candidate join is batch-prefix × corpus-prefix: its mass is
      |batch| × df(rare tokens), never |corpus|² nor |corpus|×|batch|.
      Prefix filtering keeps recall 1 under ANY shared total token
      order (pigeonhole on the required overlap — Xiao et al., WWW'08),
      and both sides here rank by the same (corpus-df, token-hash) key;
    - verification is exact on the hashed token arrays, then one
      per-batch-doc aggregate; corpus rows never appear in the output.

    Returns one row PER BATCH DOC: (id, n_matches, best_jaccard,
    is_dup) — n_matches = corpus docs at ≥ threshold, best_jaccard = 0.0
    for clean docs. Oracle-checkable (deterministic relation; the
    DuckDB twin brute-forces batch×corpus).

    Composition of :func:`build_incremental_index` (the corpus-only,
    materialize-once half) and :func:`incremental_flags_from_index`
    (the per-batch half) — `dedup_index_roundtrip` persists the index
    DataFrames to parquet and serves from the reloaded copies to
    certify that split end-to-end.
    """
    index = build_incremental_index(corpus, block_cols, threshold)
    return incremental_flags_from_index(index, batch, block_cols, threshold)


def bounded_eval_jaccard_matches(evalset: DataFrame, batch: DataFrame,
                                 carry_cols: list[str] | None = None,
                                 threshold: float = 0.5) -> DataFrame:
    """Token-set Jaccard match counts of a large batch against a BOUNDED
    eval set, in ONE Arrow pass over the batch — the r13-optimized fast
    path behind `decon_neardup_overlap` (guide §4.2/§8).

    The index-based probe (:func:`incremental_jaccard_flags`) exists for
    the corpus-scale right side; against a bounded eval suite its
    machinery is pure overhead — at duplicate-dense SFs the prefix
    filter passes ~86% of all |batch|×|eval| pairs (measured sf0.1:
    1.02M distinct candidates of 1.19M possible), so the entry paid an
    explode + df join + per-doc window + 8M-row candidate join +
    distinct + two array-carrying verify joins to end up brute-forcing
    anyway (14.1 s steady at sf0.1). Here the batch streams through
    mapInPandas ONCE (no shuffle at all): eval token postings ride in
    the closure as sorted arrays, per-batch intersection counts come
    from one vectorized postings expansion + bincount, and only matched
    docs (bounded by real leakage) are emitted.

    EXACTNESS: tokenization stays in Spark (the same
    :func:`_token_base` xxhash64 arrays both sides), so intersection
    counts are integers identical to ``size(array_intersect(...))``,
    and ``j = inter/(na+nb−inter)`` is one IEEE-double division of the
    same integers — bit-identical to the JVM expression (both are
    correctly-rounded float64 divisions), so the ≥ threshold compare
    and MAX(j) agree with the oracle exactly.

    BOUNDEDNESS: the eval side is collected (the entry's standing
    CONTRACT: a benchmark suite, 10²–10⁵ items). Callers should guard
    the collect with a count and fall back to the index-based probe
    when the contract is violated (`decon_neardup_overlap` does, at
    50k eval docs).

    Returns (id, *carry_cols, n_matches, best_jaccard) for MATCHED
    batch docs only (n_matches ≥ 1).
    """
    import numpy as np

    carry = list(carry_cols or [])
    # checkpoint=False both sides (r14, VERDICT r13 task 6): the eval
    # side is collected immediately and the batch side streams through
    # the Arrow stage exactly once — a lineage checkpoint would spill
    # the whole tokenized relation to executor storage first AND hide
    # the parquet scan from column pruning. NULL-text rows tokenize to
    # NULL toks/__n (r13 ADVICE): the numpy conversions would raise on
    # them, while the JVM index-probe path silently drops them (NULL
    # never reaches a match) — filter them out explicitly on both sides
    # so the two paths agree.
    # The filter is on the RAW text column, not on toks: toks is NULL
    # exactly when text is NULL (every tokenize step propagates NULL),
    # and a `toks IS NOT NULL` predicate gets pushed below the
    # tokenizing projection with the whole normalize/split/hash pipeline
    # substituted into it — re-tokenizing every row twice (the same
    # pushdown trap the token_shingles guard documents).
    ebase = _token_base(
        evalset.filter(F.col("text").isNotNull()), checkpoint=False,
    )
    ev_rows = ebase.select("toks", "__n").collect()
    nb_np = np.asarray([r["__n"] for r in ev_rows], dtype=np.int64)
    n_eval = len(ev_rows)
    # Eval postings as CSR over the sorted distinct token universe:
    # uniq[u] -> eflat[eptr[u]:eptr[u+1]] = eval row indices holding it.
    if n_eval:
        tok_cat = np.concatenate(
            [np.asarray(r["toks"] or [], dtype=np.int64) for r in ev_rows]
        )
        eidx_cat = np.repeat(
            np.arange(n_eval, dtype=np.int64),
            [len(r["toks"] or []) for r in ev_rows],
        )
        order = np.argsort(tok_cat, kind="stable")
        tok_sorted, eflat = tok_cat[order], eidx_cat[order]
        uniq, start = np.unique(tok_sorted, return_index=True)
        eptr = np.append(start, len(tok_sorted))
    else:
        uniq = np.empty(0, dtype=np.int64)
        eflat = np.empty(0, dtype=np.int64)
        eptr = np.zeros(1, dtype=np.int64)
    thr = float(threshold)
    # Cap the dense (rows × n_eval) intersection block at ~32M cells.
    chunk_rows = max(1, (1 << 25) // max(n_eval, 1))

    def _flags(batches):
        import pandas as pd

        for pdf in batches:
            # len(uniq) == 0 (no eval doc has any token): no pair can
            # reach J >= thr — n_eval > 0 with all-empty toks gives
            # inter = 0, so j is 0 or NaN (0/0), both non-matches in
            # the JVM expression too.
            if pdf.empty or n_eval == 0 or len(uniq) == 0:
                continue
            for lo in range(0, len(pdf), chunk_rows):
                part = pdf.iloc[lo : lo + chunk_rows]
                toks_col = part["toks"].to_numpy()
                lens = np.asarray([len(t) if t is not None else 0 for t in toks_col])
                na = part["__n"].to_numpy(dtype=np.int64)
                if lens.sum() == 0:
                    continue
                flat = np.concatenate(
                    [np.asarray(t, dtype=np.int64) for t in toks_col if t is not None and len(t)]
                )
                rows = np.repeat(np.arange(len(part), dtype=np.int64), lens)
                pos = np.searchsorted(uniq, flat)
                pos[pos >= len(uniq)] = 0
                hit = uniq[pos] == flat
                rows_h, pos_h = rows[hit], pos[hit]
                starts, seg = eptr[pos_h], eptr[pos_h + 1] - eptr[pos_h]
                total = int(seg.sum())
                if total == 0:
                    continue
                # Concatenate eflat[starts[i] : starts[i]+seg[i]] ranges.
                cum = np.concatenate(([0], np.cumsum(seg)[:-1]))
                take = np.arange(total, dtype=np.int64) - np.repeat(cum, seg) + np.repeat(starts, seg)
                pair_rows = np.repeat(rows_h, seg)
                inter = np.bincount(
                    pair_rows * n_eval + eflat[take], minlength=len(part) * n_eval
                ).reshape(len(part), n_eval).astype(np.float64)
                denom = (na[:, None] + nb_np[None, :]).astype(np.float64) - inter
                with np.errstate(divide="ignore", invalid="ignore"):
                    j = inter / denom
                matched = j >= thr  # NaN (0/0) compares False, like the JVM filter
                n_matches = matched.sum(axis=1)
                keep = np.nonzero(n_matches > 0)[0]
                if len(keep) == 0:
                    continue
                best = np.where(matched[keep], j[keep], -np.inf).max(axis=1)
                out = {"id": part["id"].to_numpy()[keep]}
                for c in carry:
                    out[c] = part[c].to_numpy()[keep]
                out["n_matches"] = n_matches[keep].astype(np.int64)
                out["best_jaccard"] = best
                yield pd.DataFrame(out)

    tbase = _token_base(batch.filter(F.col("text").isNotNull()), carry,
                        checkpoint=False)
    # Carry-column types are derived from the input schema (r13 ADVICE:
    # the former hard-coded `string` silently mis-declared non-string
    # carries).
    _types = {f.name: f.dataType.simpleString() for f in tbase.schema.fields}
    carry_schema = "".join(f", {c} {_types[c]}" for c in carry)
    return tbase.mapInPandas(
        _flags, f"id long{carry_schema}, n_matches long, best_jaccard double"
    )


def build_incremental_index(corpus: DataFrame,
                            block_cols: list[str] | None = None,
                            threshold: float = 0.6) -> dict[str, DataFrame]:
    """The corpus-only half of incremental dedup — everything here is a
    pure function of the corpus and therefore persistable/reusable
    across batches: ``tok_df`` (token → document frequency), ``prefix``
    (each corpus doc's rarest-⌈(1−t)·n⌉+1 ranked postings, with size
    and block columns), ``arrays`` (hashed token arrays for the exact
    verify). All three are plain-columnar DataFrames (longs + smalls) —
    write them as parquet (bucket ``prefix`` by tok for a shuffle-free
    candidate probe at scale) and reload in any later session.

    The dict also records the BUILD PARAMETERS (``threshold``,
    ``block_cols`` — plain values, not DataFrames): the corpus prefix
    length is ⌈(1−t)·n⌉+1, so serving a reloaded index with a LOWER
    threshold (or different blocks) than it was built with would
    silently lose recall — the corpus prefixes are too short for the
    looser bound. :func:`incremental_flags_from_index` asserts the
    serve parameters match. Persisting callers should write these two
    alongside the parquet (a one-row manifest) and restore them into
    the reloaded dict."""
    cbase = _token_base(corpus, block_cols)
    blocks = block_cols or []
    cranked, tok_df = _df_ranked_postings(cbase, blocks)
    return {
        "tok_df": tok_df,
        "prefix": _prefix(cranked, threshold).select("id", "__n", *blocks, "tok", "rk"),
        "arrays": cbase.select("id", "toks", "__n"),
        "threshold": threshold,
        "block_cols": list(blocks),
    }


def incremental_flags_from_index(index: dict[str, DataFrame], batch: DataFrame,
                                 block_cols: list[str] | None = None,
                                 threshold: float = 0.6) -> DataFrame:
    """The per-batch half of incremental dedup: rank the batch against
    the index's corpus df (unseen tokens → df 0 = rarest), candidate
    via batch-prefix × index-prefix, verify exactly on the index's
    token arrays. ``index`` may be freshly built or reloaded from
    parquet — same relation either way (certified by
    `dedup_index_roundtrip`'s shared oracle).

    If the index records its build parameters (threshold/block_cols —
    :func:`build_incremental_index` always does), they MUST match the
    serve parameters: the persisted corpus prefixes are sized for the
    build threshold, so a looser serve threshold would silently lose
    recall. Asserted here rather than documented-only (r10 ADVICE)."""
    # Only a LOOSER serve threshold loses recall: prefix length
    # ⌈(1−t)·n⌉+1 shrinks as t rises, so build-time prefixes cover any
    # serve threshold ≥ the build value (candidate superset, exact
    # verify filters) — and the comparison is tolerant so a threshold
    # that does not survive a JSON manifest round-trip bit-exactly does
    # not brick a recall-safe serve (r11 ADVICE).
    if "threshold" in index and threshold < index["threshold"] - 1e-9:
        raise ValueError(
            f"index built at threshold={index['threshold']} cannot serve "
            f"looser threshold={threshold}: corpus prefixes are sized "
            "⌈(1−t)·n⌉+1 at build time, too short for the looser bound — "
            "rebuild the index or serve at ≥ the build value"
        )
    if "block_cols" in index and list(index["block_cols"]) != list(block_cols or []):
        raise ValueError(
            f"index built with block_cols={index['block_cols']} cannot serve "
            f"block_cols={list(block_cols or [])}: candidate blocking is baked "
            "into the persisted prefix postings"
        )
    bbase = _token_base(batch, block_cols)
    branked, _ = _df_ranked_postings(bbase, block_cols, index["tok_df"])
    cand = _jaccard_candidates(
        _prefix(branked, threshold), index["prefix"], threshold, block_cols,
        self_join=False,
    )
    matches = _jaccard_verified(cand, bbase, index["arrays"], threshold)
    per_doc = matches.groupBy("id_a").agg(
        F.count(F.lit(1)).alias("n_matches"), F.max("jaccard").alias("best_jaccard")
    )
    batch_ids = bbase.select("id")
    return (
        batch_ids.join(per_doc, batch_ids["id"] == per_doc["id_a"], "left")
        .select(
            "id",
            F.coalesce("n_matches", F.lit(0)).alias("n_matches"),
            F.coalesce("best_jaccard", F.lit(0.0)).alias("best_jaccard"),
            (F.coalesce("n_matches", F.lit(0)) > 0).alias("is_dup"),
        )
    )


def lsh_signature_for(n_docs: int) -> tuple[int, int]:
    """(num_hashes, bands) for a corpus of ``n_docs`` distinct documents —
    the dedup-side analogue of `sim_lsh_hyperplane_scaled`'s
    bits-scale-with-n discipline (r10 VERDICT task 1).

    Two constraints, in tension:

    - RECALL: a pair at Jaccard j_t = 0.8 must become a candidate with
      probability ≥ R = 0.98; the banded S-curve gives
      b ≥ ln(1 − R) / ln(1 − j_tʳ) for rows-per-band r.
    - FALSE-CANDIDATE MASS: background (non-duplicate) pairs collide at
      ≈ b·j_bgʳ each, so total false candidates ≈ b·n²·E[j^r] — which
      grows n² at FIXED r while true pairs grow ~n. Sharpening r by one
      per decade of corpus growth multiplies per-pair false probability
      by j_bg (= 0.1, the measured p90 background token-set Jaccard at
      sf1f), exactly cancelling a 10× growth in n.

    The law: r = 4 below 10⁷ distinct docs (the bench/sf10f regime,
    where measured false-candidate share is only ~12% and the r10
    recall table pins pair recall at 0.98 — docs/RECALL_DENSITY.md),
    then +1 per decade; b re-derived from the recall bound at every r.
    At r=4 the bound yields b=8 — today's certified operating point
    emerges from the law rather than being replaced by it.
    """
    r = 4
    n0 = 10_000_000
    while n_docs > n0:
        r += 1
        n0 *= 10
    b = math.ceil(math.log(1.0 - 0.98) / math.log(1.0 - 0.8 ** r))
    return r * b, b


def lsh_dedup_clusters(df: DataFrame, threshold: float = 0.6,
                       num_hashes: int | None = None, bands: int | None = None,
                       n_docs: int | None = None,
                       per_node_cap: int = 4) -> DataFrame:
    """The production GLOBAL dedup path, composed end-to-end: token-set
    contraction → MinHash bands → spanning-edge verify → ONE exhaustive
    bucket-colocated cross-component verify → star-contraction closure
    → cluster ids (r8 VERDICT task 2; verify redesigned r10; contraction
    + footer-scaled signature r11; pair materialization ELIMINATED r12).

    The r12 redesign, driven by measurement: the r10/r11 shape
    materialized the distinct candidate-pair relation (40.5M pairs for
    39,350 post-contraction docs at sf1f — ~70 of ~105 s: the 89.5M-row
    banding join output shuffled into a distinct-pair aggregate, two
    global row_number windows over it, and the leftover pool localCheck-
    pointed to disk — the very structure that filled the disk at sf10f
    in r9). But the CLUSTER output only ever needs a spanning subset of
    the true-pair relation plus proof that no cross-cluster candidate
    was missed; neither requires the pair relation as a materialized
    intermediate. The r12 shape keeps every shuffle O(n):

    0. CONTRACTION (r11): documents with IDENTICAL token sets are
       J = 1.0 ≥ any threshold by definition, so they collapse to one
       representative (min id) BEFORE candidate generation — exactly
       partition-preserving (signature, buckets, and exact verify all
       depend only on the token SET). At sf1f it removes 13.2k of 50k
       docs (max group 248 members). Token-LESS docs fingerprint as
       (id, −id) and stay singletons (r11 ADVICE). Members rejoin by
       (id → rep) at the end — an ids-only join.

    Signature size: pass ``n_docs`` (parquet footer row count — no
    scan) and (num_hashes, bands) derive from :func:`lsh_signature_for`
    — r = 4 below 10⁷ distinct docs then +1 per decade (pins false-
    candidate mass against n² pair growth), b from the recall bound at
    J = 0.8 ≥ 0.98. At every tested SF the law yields the certified
    (32, 8) point (docs/RECALL_DENSITY.md).

    1. banded postings (:func:`banded_postings` over
       :func:`minhash_signatures` with ``shingle_n=1``, so the
       signature estimates TOKEN-SET Jaccard — the same relation the
       exact operators compute): bands·n skinny rows, checkpointed once
       and reused by stages 2–3. No pair relation is ever built from
       them.
    2. spanning-edge verify: within each (band, bucket), every member
       pairs with the bucket's ``per_node_cap`` smallest ids — ≤
       bands·cap·n pairs TOTAL (vs Σ C(bucket,2) ≈ 89.5M enumerated
       pairs at sf1f), generated by one per-bucket row_number, verified
       with exact Jaccard (the only stage that joins token arrays by
       pair id). A true duplicate quasi-clique collapses here: every
       member reaches a near-min id in some shared bucket. Verified
       edges feed star-contraction CC (operators/graph.py).
    3. exhaustive cross-component verify: the banded postings relabel
       by current component and self-join per (band, bucket) with
       INTS-ONLY rows (id, component, token count — ~40 bytes);
       id<, component≠ and the integer size-ratio prune evaluate during
       the probe, so the intra-component quasi-clique mass (74% of the
       89.5M enumerations at sf1f) dies on an integer compare without
       ever being materialized (carrying the token arrays through this
       join instead measured 66 s vs 3.0 s — the sort-merge inner loop
       copies the joined row per enumerated pair, so payload width IS
       the cost). The surviving cross-component candidates (1.95M at
       sf1f, shrinking as stage 2 merges more) deduplicate to distinct
       pairs and join the token arrays for the exact verify — the
       irreducible exactness work, since a cross-component candidate
       must be verified under any schedule. One pass is EXHAUSTIVE:
       every candidate pair is either verified here, verified in stage
       2, or already intra-component — so the result is exactly the
       closure of the fully-verified candidate relation (cluster-set
       equality to the recursive-CTE closure stays pytest-proven,
       tests/test_graph_cc.py), with precision 1 and recall the banded
       S-curve of candidate generation. Signature-identical docs share
       every bucket, so this pass verifies them too.

    Scale accounting (sf1f, measured r12): 105 s → ~28 s composed
    (sf10f, 500k docs: 577.6 → 77.6 s — 138.9 s before the
    signature-from-contraction reuse); no
    materialized intermediate exceeds bands·n rows plus the
    still-cross-component pair set, vs the r11 shape's 40.5M-pair pool.
    At sf10f the eliminated pool was ~10× larger — the r9 disk-full
    shape is now structurally impossible. The stage-3 enumeration cost
    is Σ_buckets C(k,2) integer compares (bucket occupancy is pinned by
    the signature law, so this is near-linear per decade —
    docs/RECALL_DENSITY.md's projection), and its array joins touch
    only the still-cross-component fraction.

    Returns (doc_id, cluster_id, is_keeper): cluster_id = min doc_id of
    the component, is_keeper marks the one row per cluster a dedup job
    keeps. Output is per-doc (n rows), never per-pair — the whole point
    at scale.
    """
    from .graph import connected_components

    if (num_hashes is None) != (bands is None):
        # Deriving the missing half from the law would silently ignore
        # the recall/false-mass coupling the pair encodes (r11 ADVICE:
        # the old branch overwrote BOTH, discarding the explicit one).
        raise ValueError(
            "pass BOTH num_hashes and bands or NEITHER — the pair is "
            "coupled through the banded S-curve (lsh_signature_for); "
            f"got num_hashes={num_hashes}, bands={bands}"
        )
    if num_hashes is None:
        num_hashes, bands = (
            lsh_signature_for(n_docs) if n_docs is not None else (32, 8)
        )

    # Stage 0 — token-set contraction. all_base is the ONE tokenization
    # pass over the full corpus (checkpointed); everything downstream
    # (signature, verify arrays, sizes) touches representatives only.
    all_base = _token_base(df)
    tokless = F.col("__st").isNull() | (F.size("__st") == 0)
    fpd = materialise.checkpoint(
        all_base.select("id", F.array_sort("toks").alias("__st")).select(
            "id",
            F.when(tokless, F.col("id")).otherwise(F.xxhash64("__st")).alias("__f1"),
            F.when(tokless, -F.col("id")).otherwise(
                F.xxhash64(F.lit(1), "__st")
            ).alias("__f2"),
        )
    )
    # ^ checkpointed: fpd feeds the group aggregate and the member expand
    # join; uncheckpointed, each consumer re-evaluates the array_sort and
    # both fingerprints, and the join's pushed-down IsNotNull filters
    # inline them once more below the projection.
    # 128-bit fingerprint (two independently-seeded xxhash64 over the
    # SORTED distinct-token-hash array — set-equal docs hash equal
    # regardless of token order); collision would need ~2⁶⁴ groups.
    # Token-LESS docs fingerprint as (id, −id) — each its own
    # representative (r11 ADVICE; see stage 0 above).
    grp = materialise.checkpoint(  # feeds base, the sigs, and the expand
        fpd.groupBy("__f1", "__f2").agg(F.min("id").alias("rep"))
    )
    member_map = fpd.join(grp, ["__f1", "__f2"]).select("id", "rep")
    base = all_base.join(grp.select(F.col("rep").alias("id")), "id", "left_semi")
    nodes = grp.select(F.col("rep").alias("id"))

    # Stage 1 — signatures + banded postings. Only the banded postings
    # are checkpointed (reused by the spanning edges and the exhaustive
    # cross-component verify): they are the signature's one reader. At
    # shingle_n=1 the signature is a pure function of the
    # DISTINCT-token-hash array the contraction already
    # checkpointed (min over duplicates = min over distinct, and
    # :func:`minhash_signatures` hashes exactly xxhash64(token) →
    # xxhash64(that) → per-seed xxhash64), so it derives from ``base``
    # instead of re-tokenizing the reps' text — one whole
    # normalize/split/hash scan saved (bit-identical signatures for
    # every doc with tokens).
    # Token-less docs (__n NULL or 0) are excluded STRUCTURALLY here —
    # no signature, no banded posting, no stage-2/3 membership — so
    # their singleton-ness never depends on NULL/NaN semantics of the
    # verify expression or the session's sizeOfNull setting (r12
    # ADVICE). They remain in ``nodes`` and close as singletons.
    sig = base.filter(F.col("__n") > 0).select(
        "id", F.transform("toks", lambda x: F.xxhash64(x)).alias("__sh")
    ).select("id", _minhash("__sh", num_hashes).alias("sig"))
    banded = materialise.checkpoint(banded_postings(sig, num_hashes, bands))

    # Stage 2 — spanning edges: each bucket member pairs with the
    # bucket's per_node_cap smallest ids; exact-Jaccard verify is the
    # only per-pair array join, over ≤ bands·cap·n rows.
    wb = Window.partitionBy("band", "bucket").orderBy("id")
    ranked = banded.withColumn("__rk", F.row_number().over(wb))
    anchors = ranked.filter(F.col("__rk") <= per_node_cap).select(
        "band", "bucket", F.col("id").alias("id_a")
    )
    stars = (
        ranked.join(anchors, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id"))
        .select("id_a", F.col("id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    edges1 = _jaccard_verified(stars, base, base, threshold).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    comp = materialise.checkpoint(connected_components(nodes, edges1))

    # Stage 3 — exhaustive cross-component verify. The bucket self-join
    # runs INTS-ONLY (id, band, bucket, component, token count): the
    # intra-component quasi-clique mass (74% of enumerations at sf1f)
    # is rejected by an integer compare during the probe with ~40-byte
    # rows — carrying the token arrays through this join instead
    # measured 66 s vs 3.0 s at sf1f (the sort-merge inner loop copies
    # the joined row per enumerated pair, so payload width is the whole
    # cost). Only the surviving cross-component candidates (1.95M of
    # 89.5M enumerations at sf1f, shrinking as stage 2 merges more)
    # deduplicate to pairs and join the arrays for the exact verify —
    # the irreducible exactness work, since a cross-component candidate
    # must be verified no matter the schedule.
    bi = (
        banded.join(comp, "id")
        .join(base.select("id", "__n").filter(F.col("__n") > 0), "id")
        .select("id", "band", "bucket", "component", "__n")
    )
    a, b = bi.alias("a"), bi.alias("b")
    cross = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id"))
            & (F.col("a.component") != F.col("b.component"))
            & _size_ratio_ok("a", "b", threshold),
        )
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.col("a.component").alias("__ca"), F.col("b.component").alias("__cb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    merges = (
        _jaccard_verified(cross, base, base, threshold)
        .select(F.col("__ca").alias("src"), F.col("__cb").alias("dst"))
        .distinct()
    )
    # Component-level contraction: CC runs over current components.
    cnodes = comp.select(F.col("component").alias("id")).distinct()
    mapping = connected_components(cnodes, merges)
    final_comp = materialise.checkpoint(
        comp.join(
            mapping.select(
                F.col("id").alias("component"), F.col("component").alias("__new")
            ),
            "component",
        ).select("id", F.col("__new").alias("component"))
    )
    final_comp.count()  # materialize before releasing the parents
    materialise.release(comp, banded)

    # Expand representatives back to members (ids-only join). The
    # component label is the min doc id over the component's REPS,
    # which equals the min over all member docs because each rep is
    # already the min id of its token-set group — so cluster_id and
    # is_keeper are identical to the uncontracted path's.
    rep_comp = final_comp.select(
        F.col("id").alias("rep"), F.col("component").alias("cluster_id")
    )
    return member_map.join(rep_comp, "rep").select(
        F.col("id").alias("doc_id"),
        "cluster_id",
        (F.col("id") == F.col("cluster_id")).alias("is_keeper"),
    )


def build_window_index(corpus: DataFrame, width: int = 8) -> dict:
    """The corpus-only half of incremental shifted-substring dedup: the
    DISTINCT rolling ``width``-token windows of the corpus (one row per
    distinct window string), plus the build parameters. Pure function
    of the corpus — persist to parquet (bucketed by xxhash64(w) at
    scale so batch probes are co-located joins) and reload in any later
    session; the dict records ``width`` so serving with a different
    window width raises instead of silently clipping the wrong grain.

    Windows are the same relation `dedup_substring_rolling`'s
    first-occurrence ranking partitions by: per-doc transform() emits
    the n rolling windows (one per token offset; a single whole-doc
    window for docs with ≤ width tokens), then one distinct. The window
    STRING is kept as the key for oracle parity at test scale; the
    production key is xxhash64(w) (8 bytes — the
    `decon_ngram_overlap` rolling-hash discipline).
    """
    toks = corpus.select(F.split(F.col("text"), " ").alias("t"))
    wins = toks.select(
        F.explode(
            F.expr(
                f"transform(sequence(0, greatest(size(t)-{width}, 0)),"
                f" s -> array_join(slice(t, s+1, {width}), ' '))"
            )
        ).alias("w")
    ).distinct()
    return {"windows": wins, "width": width}


def clip_against_index(index: dict, batch: DataFrame, width: int = 8) -> DataFrame:
    """The per-batch half: clip each NEW document against the corpus
    window index — a batch window is duplicate iff the corpus contains
    it (the corpus always wins; batch docs are NOT paired with each
    other, the `incremental_jaccard_flags` contract), and a batch token
    is dropped iff every window covering it is a duplicate. Returns the
    same per-doc relation as `dedup_substring_rolling`: (doc_id,
    n_tokens, n_windows, n_dup_windows, n_kept, kept_fp).

    Plan: one content-keyed probe (batch windows LEFT SEMI-shaped join
    against the index — expressed as a left join onto a flag so misses
    survive), then the per-doc ROWS BETWEEN coverage max and one
    grouped reassembly — the only wide exchange is the probe, and at
    100 TB it is co-located when the index is bucketed by window key.
    """
    if "width" in index and index["width"] != width:
        raise ValueError(
            f"window index built at width={index['width']} cannot clip at "
            f"width={width}: the window grain is baked into the persisted "
            "distinct-window set — rebuild or serve at the build width"
        )
    windows = index["windows"]
    toks = batch.select("doc_id", F.split(F.col("text"), " ").alias("t"))
    wins = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, greatest(size(t)-{width}, 0)),"
                f" s -> array_join(slice(t, s+1, {width}), ' '))"
            )
        ).alias("s", "w"),
    )
    flagged = (
        wins.join(windows.withColumn("__hit", F.lit(True)), "w", "left")
        .select("doc_id", F.col("s").alias("p"),
                F.coalesce("__hit", F.lit(False)).alias("dup"))
    )
    tokpos = toks.select("doc_id", F.posexplode("t").alias("p", "token"))
    wdoc = Window.partitionBy("doc_id").orderBy("p").rowsBetween(-(width - 1), 0)
    covered = tokpos.join(flagged, ["doc_id", "p"], "left").withColumn(
        "keep",
        F.max(F.when(~F.col("dup"), 1).when(F.col("dup"), 0)).over(wdoc) == 1,
    )
    return (
        covered.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.count("dup").cast("long").alias("n_windows"),
            F.sum(F.col("dup").cast("int")).cast("long").alias("n_dup_windows"),
            F.sum(F.col("keep").cast("int")).cast("long").alias("n_kept"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(F.col("keep"), F.struct("p", "token"))
                            )
                        ),
                        lambda x: x["token"],
                    ),
                    " ",
                )
            ).alias("kept_fp"),
        )
        .select("doc_id", "n_tokens", "n_windows", "n_dup_windows",
                "n_kept", "kept_fp")
    )
