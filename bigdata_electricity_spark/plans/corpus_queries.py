"""Corpus-science extensions: sub-document dedup and tokenizer
vocabulary induction.

Training-corpus surface beyond the reference (its text path stops at
loading — SURVEY §2.1); these are the ops a 100 TB pretraining pipeline
runs between raw text and the tokenizer:

- segment-level exact dedup (the CCNet/paragraph-dedup shape: drop
  repeated spans corpus-wide, keep first occurrence, reconstruct docs);
- byte-pair-encoding merge induction (the count-pairs -> pick-best ->
  apply-merge loop), run as unrolled declarative rounds over the
  |vocab|-bounded distinct-word table — the corpus is scanned exactly
  once for word frequencies; every later round touches only the tiny
  symbol table, which is what makes BPE training feasible at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.rounding import dround, hround
from ..materialise import checkpoint
from ..sources.loaders import load_table
from .registry import REGISTRY, query

SEG_TOKENS = 16
ROLL_W = 8
BPE_ROUNDS = 3


@query(
    "dedup_segment_exact",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), segs AS (
        SELECT doc_id, i AS seg_idx,
               array_to_string(t[(i*{SEG_TOKENS}+1):(i*{SEG_TOKENS}+{SEG_TOKENS})], ' ') AS seg
        FROM toks,
             UNNEST(generate_series(0,
                 CAST(ceil(len(t) / {SEG_TOKENS}.0) AS INT) - 1)) AS u(i)
    ), ranked AS (
        SELECT doc_id, seg_idx, seg,
               ROW_NUMBER() OVER (PARTITION BY seg
                                  ORDER BY doc_id, seg_idx) AS rn
        FROM segs
    ), per_doc AS (
        SELECT doc_id, COUNT(*) AS n_segs FROM segs GROUP BY doc_id
    ), kept AS (
        SELECT doc_id, COUNT(*) AS n_kept,
               md5(string_agg(seg, ' ' ORDER BY seg_idx)) AS kept_fp
        FROM ranked WHERE rn = 1 GROUP BY doc_id
    )
    SELECT p.doc_id, p.n_segs,
           COALESCE(k.n_kept, 0) AS n_kept,
           COALESCE(k.kept_fp, md5('')) AS kept_fp
    FROM per_doc p LEFT JOIN kept k ON p.doc_id = k.doc_id
    ORDER BY p.doc_id
    """,
)
def dedup_segment_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document exact dedup: drop repeated 16-token segments
    corpus-wide (first occurrence by (doc_id, seg_idx) wins), then
    reconstruct each document from its surviving segments.

    The paragraph-dedup shape of CCNet-style pipelines, at fixed
    segment grain because this corpus has no paragraph breaks. One
    explode to |segments| rows, one window partitioned by segment text
    (at 100 TB: partition by xxhash64(seg) and carry the text — the
    shuffle key must be the fingerprint, never the body; here segments
    are <= 16 tokens so the string key is already small), one grouped
    re-assembly. Docs that lose every segment (exact doc dups) come
    back with n_kept = 0 via the left join.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    segs = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(t)/{SEG_TOKENS}.0) as int)-1),"
                f" i -> array_join(slice(t, i*{SEG_TOKENS}+1, {SEG_TOKENS}), ' '))"
            )
        ).alias("seg_idx", "seg"),
    )
    ranked = segs.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("seg").orderBy("doc_id", "seg_idx")),
    )
    per_doc = segs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_segs"))
    kept = (
        ranked.filter(F.col("rn") == 1)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("seg_idx", "seg"))),
                        lambda s: s["seg"],
                    ),
                    " ",
                )
            ).alias("kept_fp"),
        )
    )
    return (
        per_doc.join(kept.withColumnRenamed("doc_id", "k_doc_id"),
                     per_doc.doc_id == F.col("k_doc_id"), "left")
        .select(
            "doc_id",
            "n_segs",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("kept_fp", F.md5(F.lit(""))).alias("kept_fp"),
        )
        .orderBy("doc_id")
    )


@query(
    "dedup_substring_rolling",
    oracle=f"""
    WITH toks AS MATERIALIZED (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), wins AS MATERIALIZED (
        SELECT doc_id, s,
               array_to_string(t[(s+1):(s+{ROLL_W})], ' ') AS w
        FROM toks,
             UNNEST(generate_series(0, GREATEST(len(t)-{ROLL_W}, 0))) AS u(s)
    ), flagged AS MATERIALIZED (
        SELECT doc_id, s,
               ROW_NUMBER() OVER (PARTITION BY w ORDER BY doc_id, s) > 1 AS dup
        FROM wins
    ), tokpos AS (
        SELECT doc_id, p, t[p+1] AS token, len(t) AS n
        FROM toks, UNNEST(generate_series(0, len(t)-1)) AS v(p)
    ), covered AS (
        SELECT tk.doc_id, tk.p, tk.token, BOOL_OR(NOT f.dup) AS keep
        FROM tokpos tk JOIN flagged f
          ON f.doc_id = tk.doc_id
         AND f.s BETWEEN GREATEST(tk.p - {ROLL_W} + 1, 0)
                     AND LEAST(tk.p, GREATEST(tk.n - {ROLL_W}, 0))
        GROUP BY tk.doc_id, tk.p, tk.token
    ), winstats AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
               CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_windows
        FROM flagged GROUP BY doc_id
    ), perdoc AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               md5(string_agg(CASE WHEN keep THEN token END, ' ' ORDER BY p))
                   AS kept_fp
        FROM covered GROUP BY doc_id
    )
    SELECT p.doc_id, p.n_tokens, w.n_windows, w.n_dup_windows, p.n_kept,
           COALESCE(p.kept_fp, md5('')) AS kept_fp
    FROM perdoc p JOIN winstats w USING (doc_id)
    ORDER BY doc_id
    """,
)
def dedup_substring_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shifted-substring dedup (r11 VERDICT task 1): rolling
    {ROLL_W}-token windows at EVERY token offset, duplicated-window
    detection corpus-wide with first occurrence (by (doc_id, start))
    winning, and per-token clipping — a token is dropped iff every
    window covering it is a duplicate, so the interior of any copied
    passage of length ≥ ROLL_W vanishes while span edges (covered by
    windows straddling into novel text) survive. This is the
    Lee-et-al.-style exact-substring dedup shape that
    `dedup_segment_exact` cannot express: its FIXED 16-token boundaries
    miss any duplicated passage offset from a boundary (the planted
    test in tests/test_corpus_queries.py proves the miss), because a
    shifted copy never reproduces the original's segment alignment.
    Generalizes the reference's exact-row dedup (Cleaning.scala:117-120)
    to sub-document content, like the segment entry.

    Plan shape — three narrow stages around ONE content-keyed wide
    exchange:

    1. window fingerprints: per-doc transform() emits the n rolling
       windows (arrays never explode per window — one projection), then
       the ONLY exchange partitioned by window content ranks first
       occurrence. At 100 TB the shuffle key is xxhash64 of the window
       (8 bytes), never the text; here the ≤{ROLL_W}-token string keeps
       the relation oracle-checkable.
    2. coverage: token keep-ness is a per-doc ROWS BETWEEN -(W-1) AND 0
       running max over the window-start flags (window s covers tokens
       s..s+W-1, so token p is covered by starts p-W+1..p) — no
       token×window fan-out, one per-doc sort.
    3. reconstruction: kept tokens reassemble per doc (collect_list of
       (pos, token) structs, nulls — dropped tokens — skipped), md5
       fingerprinted. Docs losing every token return n_kept=0 and
       md5('') via the same aggregate.

    Windows shorter than W exist only for docs with n ≤ W (one
    whole-doc window) — both engines generate them identically.

    Measured at sf1f (10× bench SF, 50k docs): 2.9 s cold / 1.1 s warm;
    plan-asserted one content-keyed + one doc-keyed exchange
    (tests/test_physical_plans.py) — fusing the window stats into the
    coverage aggregate (instead of re-scanning the flagged windows)
    took the cold pass 6.0 → 2.9 s.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    wins = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, greatest(size(t)-{ROLL_W}, 0)),"
                f" s -> array_join(slice(t, s+1, {ROLL_W}), ' '))"
            )
        ).alias("s", "w"),
    )
    flagged = wins.withColumn(
        "dup",
        F.row_number().over(Window.partitionBy("w").orderBy("doc_id", "s")) > 1,
    ).select("doc_id", F.col("s").alias("p"), "dup")
    tokpos = toks.select("doc_id", F.posexplode("t").alias("p", "token"))
    wdoc = Window.partitionBy("doc_id").orderBy("p").rowsBetween(-(ROLL_W - 1), 0)
    covered = tokpos.join(flagged, ["doc_id", "p"], "left").withColumn(
        "keep",
        F.max(F.when(~F.col("dup"), 1).when(F.col("dup"), 0)).over(wdoc) == 1,
    )
    # Window stats fold into the SAME per-doc aggregate: each token row
    # p ≤ n−W carries the flag of the window STARTING there (the left
    # join above), so count(dup)/sum(dup) over token rows are exactly
    # the per-doc window counts — flagged is scanned once and the
    # content-keyed exchange happens once (verified in the plan).
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
        .orderBy("doc_id")
    )


@query(
    "dedup_substring_incremental",
    oracle=f"""
    WITH toks AS MATERIALIZED (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), corpus_w AS MATERIALIZED (
        SELECT DISTINCT array_to_string(t[(s+1):(s+{ROLL_W})], ' ') AS w
        FROM toks,
             UNNEST(generate_series(0, GREATEST(len(t)-{ROLL_W}, 0))) AS u(s)
        WHERE doc_id % 7 <> 0
    ), bwins AS (
        SELECT doc_id, s, array_to_string(t[(s+1):(s+{ROLL_W})], ' ') AS w
        FROM toks,
             UNNEST(generate_series(0, GREATEST(len(t)-{ROLL_W}, 0))) AS u(s)
        WHERE doc_id % 7 = 0
    ), flagged AS MATERIALIZED (
        SELECT b.doc_id, b.s, (cw.w IS NOT NULL) AS dup
        FROM bwins b LEFT JOIN corpus_w cw ON b.w = cw.w
    ), tokpos AS (
        SELECT doc_id, p, t[p+1] AS token, len(t) AS n
        FROM toks, UNNEST(generate_series(0, len(t)-1)) AS v(p)
        WHERE doc_id % 7 = 0
    ), covered AS (
        SELECT tk.doc_id, tk.p, tk.token, BOOL_OR(NOT f.dup) AS keep
        FROM tokpos tk JOIN flagged f
          ON f.doc_id = tk.doc_id
         AND f.s BETWEEN GREATEST(tk.p - {ROLL_W} + 1, 0)
                     AND LEAST(tk.p, GREATEST(tk.n - {ROLL_W}, 0))
        GROUP BY tk.doc_id, tk.p, tk.token
    ), winstats AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
               CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_windows
        FROM flagged GROUP BY doc_id
    ), perdoc AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               md5(string_agg(CASE WHEN keep THEN token END, ' ' ORDER BY p))
                   AS kept_fp
        FROM covered GROUP BY doc_id
    )
    SELECT p.doc_id, p.n_tokens, w.n_windows, w.n_dup_windows, p.n_kept,
           COALESCE(p.kept_fp, md5('')) AS kept_fp
    FROM perdoc p JOIN winstats w USING (doc_id)
    ORDER BY doc_id
    """,
)
def dedup_substring_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental shifted-substring dedup — the ingest-gate twin of
    `dedup_substring_rolling` (and the substring rung of the
    incremental triad the Jaccard and embedding ladders already have):
    each NEW-batch document (doc_id % 7 == 0) is clipped against the
    EXISTING corpus's rolling-window index — a batch window is
    duplicate iff the corpus contains it (corpus always wins; batch
    docs are never paired with each other), a batch token drops iff
    every covering window is duplicate. The production need: a deduped
    100 TB corpus receives daily arrivals whose passages may quote it
    at ANY offset; re-running global substring dedup is off the table,
    so arrivals probe a reusable corpus-only index
    (`operators/dedup.py build_window_index` — the distinct corpus
    windows, persistable to parquet and bucketed by window key at
    scale) through `clip_against_index`, whose only wide exchange is
    that content-keyed probe. The width travels with the index and a
    mismatched serve raises.

    Same output relation per batch doc as the global entry: (doc_id,
    n_tokens, n_windows, n_dup_windows, n_kept, kept_fp). The DuckDB
    twin replays the windowing with a LEFT JOIN against the corpus's
    distinct windows.
    """
    from ..operators.dedup import build_window_index, clip_against_index

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    batch = docs.filter(F.col("doc_id") % 7 == 0)
    index = build_window_index(corpus, width=ROLL_W)
    return clip_against_index(index, batch, width=ROLL_W).orderBy("doc_id")


_SUBSTR_INCR_ORACLE = REGISTRY["dedup_substring_incremental"].oracle


@query("dedup_substring_index_roundtrip", oracle=_SUBSTR_INCR_ORACLE,
       scale_class="certification")
def dedup_substring_index_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persistence certification for the corpus window index — the
    substring sibling of `dedup_index_roundtrip` / `sim_index_roundtrip`:
    the corpus-only distinct-window set is WRITTEN to parquet with its
    width manifest, RELOADED cold, and the batch is clipped entirely
    from the reloaded copy — proving the materialize-once claim
    `dedup_substring_incremental` makes (arrivals probe a reusable
    index; the n-window distinct never reruns per batch). Shares that
    entry's oracle VERBATIM: same relation through a second execution
    topology. At 100 TB the windows would be written bucketed by
    xxhash64(w) so every batch probe is a co-located join; plain
    parquet keeps the entry engine-portable. The width travels as a
    JSON manifest and is restored into the reloaded dict — serving at
    another width raises (pytest-pinned).
    """
    import json
    import os
    import shutil

    from ..operators.dedup import build_window_index, clip_against_index
    from ..sources.sinks import run_dir

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    batch = docs.filter(F.col("doc_id") % 7 == 0)
    base = run_dir("substr_index", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    built = build_window_index(corpus, width=ROLL_W)
    built["windows"].write.mode("overwrite").parquet(f"{base}/windows")
    os.makedirs(base, exist_ok=True)
    with open(f"{base}/manifest.json", "w") as fh:
        json.dump({"width": built["width"]}, fh)
    with open(f"{base}/manifest.json") as fh:
        loaded = json.load(fh)
    loaded["windows"] = spark.read.parquet(f"{base}/windows")
    return clip_against_index(loaded, batch, width=ROLL_W).orderBy("doc_id")


@query("streaming_incremental_substring", oracle=_SUBSTR_INCR_ORACLE)
def streaming_incremental_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `dedup_substring_incremental` — completes the
    substring rung of the incremental-triad pattern (batch probe /
    streaming foreachBatch gate / persisted-index cold reload) that the
    token-Jaccard and embedding rungs already have: the new-doc stream
    (doc_id % 7 == 0) arrives via ``readStream`` and every micro-batch
    is clipped against the PERSISTED corpus window index inside
    ``foreachBatch`` (parquet + width manifest, reloaded before the
    stream starts), per-batch results appended to a parquet snapshot.

    Shares the batch twin's oracle VERBATIM: each batch doc appears
    exactly once across micro-batches and its clipping depends only on
    that doc plus the static corpus windows, so the final snapshot is
    micro-batch-boundary-invariant.
    """
    import json
    import os
    import shutil

    from ..operators.dedup import build_window_index, clip_against_index
    from ..sources.sinks import run_dir

    docs_static = load_table(spark, sf_dir, "documents")
    corpus = docs_static.filter(F.col("doc_id") % 7 != 0)
    base = run_dir("stream_incr_substr", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    out = f"{base}/flags"
    built = build_window_index(corpus, width=ROLL_W)
    built["windows"].write.mode("overwrite").parquet(f"{base}/windows")
    os.makedirs(base, exist_ok=True)
    with open(f"{base}/manifest.json", "w") as fh:
        json.dump({"width": built["width"]}, fh)
    with open(f"{base}/manifest.json") as fh:
        loaded = json.load(fh)
    loaded["windows"] = spark.read.parquet(f"{base}/windows")

    stream = (
        spark.readStream.schema(docs_static.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .filter(F.col("doc_id") % 7 == 0)
    )

    def clip_batch(batch_df, batch_id: int) -> None:
        (
            clip_against_index(loaded, batch_df, width=ROLL_W)
            .write.mode("append")
            .parquet(out)
        )

    query_handle = (
        stream.writeStream.outputMode("append").foreachBatch(clip_batch).start()
    )
    try:
        query_handle.processAllAvailable()
    finally:
        query_handle.stop()
    return spark.read.parquet(out).orderBy("doc_id")


def _bpe_merge_step(lhs: F.Column, rhs: F.Column):
    """Greedy left-to-right application of merge (lhs, rhs) as a string
    fold: acc holds the already-merged prefix (space-separated symbols).

    Matches list_reduce semantics: empty acc (only before the first
    element) becomes the element; when acc's last symbol is `lhs` and
    the incoming symbol is `rhs`, the pair fuses — and the fused symbol
    cannot fuse again as `lhs` this round, which is exactly greedy BPE
    ('a a a a' + (a,a) -> 'aa aa', not 'aaa a').
    """

    def merge(acc: F.Column, x: F.Column) -> F.Column:
        tail_is_lhs = (acc == lhs) | acc.endswith(F.concat(F.lit(" "), lhs))
        fused = F.when(acc == lhs, F.concat(lhs, rhs)).otherwise(
            F.concat(
                F.substring(acc, F.lit(1), F.length(acc) - F.length(lhs)), lhs, rhs
            )
        )
        return (
            F.when(acc == F.lit(""), x)
            .when(tail_is_lhs & (x == rhs), fused)
            .otherwise(F.concat(acc, F.lit(" "), x))
        )

    return merge


def _bpe_oracle() -> str:
    """Unrolled DuckDB twin: same fold via list_reduce (string
    accumulator — DuckDB's reduce has no initial value, so the
    accumulator type must match the element type)."""
    parts = [
        """
    WITH wf AS (
        SELECT t AS word, COUNT(*) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
        WHERE t <> '' GROUP BY t
    ), s0 AS (
        SELECT word, freq,
               trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS sym
        FROM wf
    )"""
    ]
    for r in range(1, BPE_ROUNDS + 1):
        parts.append(
            f""", p{r} AS (
        SELECT string_split(sym, ' ')[i] AS lhs,
               string_split(sym, ' ')[i + 1] AS rhs,
               SUM(freq) AS pair_count
        FROM s{r - 1},
             UNNEST(generate_series(1, len(string_split(sym, ' ')) - 1)) AS u(i)
        GROUP BY 1, 2
    ), b{r} AS (
        SELECT lhs, rhs, CAST(pair_count AS BIGINT) AS pair_count
        FROM p{r} ORDER BY pair_count DESC, lhs, rhs LIMIT 1
    ), s{r} AS (
        SELECT word, freq,
               (SELECT list_reduce(string_split(s{r - 1}.sym, ' '), (acc, x) ->
                   CASE WHEN (acc = b.lhs OR ends_with(acc, ' ' || b.lhs))
                             AND x = b.rhs
                        THEN CASE WHEN acc = b.lhs THEN b.lhs || b.rhs
                             ELSE substr(acc, 1, len(acc) - len(b.lhs))
                                  || b.lhs || b.rhs END
                        ELSE acc || ' ' || x END)
                FROM b{r} b) AS sym
        FROM s{r - 1}
    )"""
        )
    selects = [
        f"SELECT {r} AS merge_round, lhs, rhs, lhs || rhs AS merged, pair_count FROM b{r}"
        for r in range(1, BPE_ROUNDS + 1)
    ]
    return "".join(parts) + "\n" + "\nUNION ALL\n".join(selects) + "\nORDER BY merge_round"


@query("vocab_bpe_merges", oracle=_bpe_oracle())
def vocab_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding vocabulary induction: 3 unrolled merge rounds
    (count adjacent symbol pairs -> pick the most frequent, ties broken
    lexicographically -> apply the merge greedily left-to-right).

    The corpus is scanned ONCE for word frequencies; every round after
    runs on the distinct-word symbol table (|vocab| rows), so round
    cost is independent of corpus size — the property that makes BPE
    training distributable. The merge application is a per-word fold
    (F.aggregate with a string accumulator) identical in semantics to
    the oracle's list_reduce; pair counting explodes the symbol arrays
    with the weights attached (never per-corpus-token). All-integer /
    string output — exact cross-engine hash.
    """
    docs = load_table(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    sym_tab = wf.select(
        "word",
        "freq",
        F.trim(F.regexp_replace("word", "(.)", "$1 ")).alias("sym"),
    )
    best_rounds: list[DataFrame] = []
    for r in range(1, BPE_ROUNDS + 1):
        syms = sym_tab.select(
            "word", "freq", "sym", F.split("sym", " ").alias("syms")
        )
        pairs = (
            syms.select(
                "freq",
                F.explode(
                    F.arrays_zip(
                        F.expr("slice(syms, 1, size(syms)-1)").alias("lhs"),
                        F.expr("slice(syms, 2, size(syms)-1)").alias("rhs"),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
            .agg(F.sum("freq").cast("long").alias("pair_count"))
        )
        best = pairs.orderBy(
            F.col("pair_count").desc(), "lhs", "rhs"
        ).limit(1)
        best_rounds.append(
            best.select(
                F.lit(r).alias("merge_round"),
                "lhs",
                "rhs",
                F.concat("lhs", "rhs").alias("merged"),
                "pair_count",
            )
        )
        merged_sym = F.aggregate(
            F.col("syms"),
            F.lit(""),
            _bpe_merge_step(F.col("b_lhs"), F.col("b_rhs")),
        )
        sym_tab = (
            syms.crossJoin(
                F.broadcast(
                    best.select(
                        F.col("lhs").alias("b_lhs"), F.col("rhs").alias("b_rhs")
                    )
                )
            )
            .select("word", "freq", merged_sym.alias("sym"))
        )
    out = best_rounds[0]
    for b in best_rounds[1:]:
        out = out.unionByName(b)
    return out.orderBy("merge_round")


LM_LAMBDA = 0.8


@query(
    "text_bigram_perplexity",
    oracle=f"""
    WITH toks AS MATERIALIZED (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), big AS MATERIALIZED (
        SELECT doc_id, t[i] AS v, t[i + 1] AS w
        FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
    ), cvw AS (
        SELECT v, w, COUNT(*) AS c FROM big GROUP BY v, w
    ), cv AS (
        SELECT v, SUM(c) AS cv FROM cvw GROUP BY v
    ), uni AS (
        SELECT w, COUNT(*) AS cw
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY w
    ), scored AS (
        SELECT b.doc_id,
               -ln({LM_LAMBDA!r} * (cvw.c / CAST(cv.cv AS DOUBLE))
                   + {1.0 - LM_LAMBDA!r} * (uni.cw / (SELECT CAST(SUM(cw) AS DOUBLE)
                                                     FROM uni))) AS nll
        FROM big b
        JOIN cvw ON b.v = cvw.v AND b.w = cvw.w
        JOIN cv ON b.v = cv.v
        JOIN uni ON b.w = uni.w
    ), per_doc AS (
        SELECT doc_id, COUNT(*) AS n_bigrams,
               {dround('exp(AVG(nll))', 4)} AS ppl
        FROM scored GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams, ppl FROM per_doc
    ORDER BY ppl DESC, doc_id LIMIT 10
    """,
)
def text_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity filtering, the CCNet/KenLM corpus-quality gate, with
    the LM trained in the same pass: interpolated bigram model
    (lambda=0.8 bigram MLE + 0.2 unigram) scored per doc, returning the
    10 highest-perplexity documents — the ones a perplexity filter
    drops first.

    The model tables (bigram, context, unigram counts) are
    |vocab|^2-bounded and broadcast back onto the exploded bigram
    stream, so scoring is map-side after one counting shuffle — the
    standard shape when the LM is small enough to ship to executors
    (at 100 TB with a real KenLM you'd mapInPandas the scorer; the
    relational form here keeps it oracle-checkable). Perplexity is
    rounded BEFORE the top-10 ordering on both engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    big = toks.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.expr("slice(t, 1, size(t)-1)").alias("v"),
                F.expr("slice(t, 2, size(t)-1)").alias("w"),
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.v").alias("v"), F.col("p.w").alias("w"))
    cvw = big.groupBy("v", "w").agg(F.count(F.lit(1)).alias("c"))
    cv = cvw.groupBy("v").agg(F.sum("c").alias("cv"))
    uni = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cw"))
    )
    ntok = uni.agg(F.sum("cw").cast("double").alias("n"))
    p_interp = F.lit(LM_LAMBDA) * (F.col("c") / F.col("cv").cast("double")) + F.lit(
        1.0 - LM_LAMBDA
    ) * (F.col("cw") / F.col("n"))
    # No forced broadcast on the model tables: they are |vocab|- and
    # |vocab|^2-bounded, tiny here (AQE broadcasts them anyway) but a
    # real web-corpus bigram table is billions of rows — the join must
    # be allowed to stay a shuffle join at that scale.
    scored = (
        big.join(cvw, ["v", "w"])
        .join(cv, "v")
        .join(uni, "w")
        .crossJoin(F.broadcast(ntok))
        .select("doc_id", (-F.log(p_interp)).alias("nll"))
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        hround(F.exp(F.avg("nll")), 4).alias("ppl"),
    )
    return per_doc.orderBy(F.col("ppl").desc(), "doc_id").limit(10)


def _bpe_encode_oracle() -> str:
    """Reuses the training CTE chain, then reports encoding statistics
    instead of the merge table (everything before the merge-table
    UNION ALL is the shared training prefix)."""
    parts = _bpe_oracle().split("\nSELECT")[0]
    return f"""{parts}
    , enc AS (
        SELECT word, freq, string_split(sym, ' ') AS toks
        FROM s{BPE_ROUNDS}
    ), totals AS (
        SELECT CAST(SUM(freq * len(word)) AS BIGINT) AS total_chars,
               CAST(SUM(freq * len(toks)) AS BIGINT) AS total_tokens
        FROM enc
    ), symfreq AS (
        SELECT t AS symbol, CAST(SUM(freq) AS BIGINT) AS sym_count
        FROM (SELECT freq, unnest(toks) AS t FROM enc)
        GROUP BY t
    ), top5 AS (
        SELECT symbol, sym_count,
               CAST(ROW_NUMBER() OVER (ORDER BY sym_count DESC, symbol) AS BIGINT) AS rank
        FROM symfreq ORDER BY sym_count DESC, symbol LIMIT 5
    )
    SELECT top5.rank, top5.symbol, top5.sym_count,
           totals.total_chars, totals.total_tokens,
           {dround('100.0 * (1.0 - CAST(totals.total_tokens AS DOUBLE) / totals.total_chars)', 4)}
               AS compression_pct
    FROM top5, totals
    ORDER BY rank
    """


@query("vocab_bpe_encode_stats", oracle=_bpe_encode_oracle())
def vocab_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE inference: apply the 3 learned merges (same training as
    `vocab_bpe_merges`) to every word and report what the tokenizer
    buys — total symbols before/after, the compression percentage, and
    the 5 most frequent symbols in the encoded corpus (the head of the
    learned vocabulary).

    Same scale contract as training: the corpus is scanned once for
    word frequencies; encoding applies the fold to the distinct-word
    table and all statistics are frequency-weighted aggregates of it —
    the corpus itself is never re-tokenized row by row.
    """
    docs = load_table(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    sym_tab = wf.select(
        "word", "freq", F.trim(F.regexp_replace("word", "(.)", "$1 ")).alias("sym")
    )
    for _ in range(BPE_ROUNDS):
        syms = sym_tab.select("word", "freq", "sym", F.split("sym", " ").alias("syms"))
        pairs = (
            syms.select(
                "freq",
                F.explode(
                    F.arrays_zip(
                        F.expr("slice(syms, 1, size(syms)-1)").alias("lhs"),
                        F.expr("slice(syms, 2, size(syms)-1)").alias("rhs"),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
            .agg(F.sum("freq").cast("long").alias("pair_count"))
        )
        best = pairs.orderBy(F.col("pair_count").desc(), "lhs", "rhs").limit(1)
        merged_sym = F.aggregate(
            F.col("syms"), F.lit(""), _bpe_merge_step(F.col("b_lhs"), F.col("b_rhs"))
        )
        sym_tab = (
            syms.crossJoin(
                F.broadcast(
                    best.select(F.col("lhs").alias("b_lhs"), F.col("rhs").alias("b_rhs"))
                )
            )
            .select("word", "freq", merged_sym.alias("sym"))
        )
    enc = checkpoint(sym_tab.select("word", "freq", F.split("sym", " ").alias("toks")))
    totals = enc.agg(
        F.sum(F.col("freq") * F.length("word")).cast("long").alias("total_chars"),
        F.sum(F.col("freq") * F.size("toks")).cast("long").alias("total_tokens"),
    )
    symfreq = (
        enc.select("freq", F.explode("toks").alias("symbol"))
        .groupBy("symbol")
        .agg(F.sum("freq").cast("long").alias("sym_count"))
    )
    top5 = (
        symfreq.orderBy(F.col("sym_count").desc(), "symbol")
        .limit(5)
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.col("sym_count").desc(), "symbol"))
            .cast("long"),
        )
    )
    return (
        top5.crossJoin(F.broadcast(totals))
        .select(
            "rank",
            "symbol",
            "sym_count",
            "total_chars",
            "total_tokens",
            hround(
                F.lit(100.0)
                * (F.lit(1.0) - F.col("total_tokens").cast("double") / F.col("total_chars")),
                4,
            ).alias("compression_pct"),
        )
        .orderBy("rank")
    )


HEAPS_CHECKPOINTS = (50, 100, 200, 500)


@query(
    "corpus_heaps_law_fit",
    oracle=f"""
    WITH toks AS MATERIALIZED (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), cps AS (
        SELECT k FROM (SELECT unnest([{", ".join(map(str, HEAPS_CHECKPOINTS))}]) AS k)
        WHERE k <= (SELECT MAX(doc_id) + 1 FROM toks)
    ), stats AS MATERIALIZED (
        SELECT cps.k,
               CAST(COUNT(*) FILTER (toks.doc_id < cps.k) AS BIGINT) AS n_tokens,
               CAST(COUNT(DISTINCT CASE WHEN toks.doc_id < cps.k THEN toks.w END)
                    AS BIGINT) AS vocab
        FROM toks, cps GROUP BY cps.k
    ), pts AS (
        SELECT ln(CAST(n_tokens AS DOUBLE)) AS lx, ln(CAST(vocab AS DOUBLE)) AS ly
        FROM stats
    ), fit AS (
        SELECT {dround('(COUNT(*) * SUM(lx * ly) - SUM(lx) * SUM(ly))'
                       ' / (COUNT(*) * SUM(lx * lx) - SUM(lx) * SUM(lx))', 6)} AS beta
        FROM pts
    )
    SELECT CAST(stats.k AS BIGINT) AS k_docs, stats.n_tokens, stats.vocab,
           fit.beta AS heaps_beta
    FROM stats, fit ORDER BY k_docs
    """,
)
def corpus_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps' law) audit: distinct-word counts at
    doc-prefix checkpoints plus the fitted log-log growth exponent
    V ~ n^beta — the statistic that predicts how a tokenizer's
    vocabulary and every vocab-bounded plan in this repo (BPE, unigram
    LM, TF-IDF) scale as the corpus grows. Natural language sits at
    beta ~ 0.4-0.6; a closed synthetic vocabulary like this corpus
    shows beta ~ 0 (saturation) — which is exactly what certifies that
    the vocab-bounded claims hold at 100 TB here.

    One scan: every checkpoint is a conditional COUNT(DISTINCT CASE)
    over the same exploded token stream; the OLS fit runs on
    |checkpoints| points.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    max_doc = docs.agg((F.max("doc_id") + 1).alias("nd"))
    cps = (
        spark.createDataFrame([(k,) for k in HEAPS_CHECKPOINTS], "k long")
        .crossJoin(F.broadcast(max_doc))
        .filter(F.col("k") <= F.col("nd"))
        .select("k")
    )
    stats = checkpoint(
        toks.crossJoin(F.broadcast(cps))
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("doc_id") < F.col("k"), 1).otherwise(0))
            .cast("long")
            .alias("n_tokens"),
            F.countDistinct(
                F.when(F.col("doc_id") < F.col("k"), F.col("w"))
            )
            .cast("long")
            .alias("vocab"),
        )
    )
    pts = stats.select(
        F.log(F.col("n_tokens").cast("double")).alias("lx"),
        F.log(F.col("vocab").cast("double")).alias("ly"),
    )
    fit = pts.agg(
        hround(
            (
                F.count(F.lit(1)) * F.sum(F.col("lx") * F.col("ly"))
                - F.sum("lx") * F.sum("ly")
            )
            / (
                F.count(F.lit(1)) * F.sum(F.col("lx") * F.col("lx"))
                - F.sum("lx") * F.sum("lx")
            ),
            6,
        ).alias("beta")
    )
    return (
        stats.crossJoin(F.broadcast(fit))
        .select(
            F.col("k").alias("k_docs"),
            "n_tokens",
            "vocab",
            F.col("beta").alias("heaps_beta"),
        )
        .orderBy("k_docs")
    )


_ZIPF_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


@query(
    "corpus_zipf_slope",
    oracle=f"""
    WITH tok AS (
        SELECT unnest(string_split({_ZIPF_NORM}, ' ')) AS token FROM documents
    ), freq AS (
        SELECT token, COUNT(*) AS f FROM tok GROUP BY token
    ), byf AS (
        SELECT f, COUNT(*) AS n_types FROM freq GROUP BY f
    ), ranked AS (
        SELECT f, n_types,
               COALESCE(SUM(n_types) OVER (ORDER BY f DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (n_types + 1) / 2.0 AS rank_mid
        FROM byf
    ), pts AS (
        SELECT CAST(n_types AS DOUBLE) AS w, ln(rank_mid) AS x, ln(CAST(f AS DOUBLE)) AS y
        FROM ranked
    ), s AS (
        SELECT SUM(w) AS sw, SUM(w*x) AS sx, SUM(w*y) AS sy,
               SUM(w*x*x) AS sxx, SUM(w*x*y) AS sxy
        FROM pts
    )
    SELECT CAST(sw AS BIGINT) AS vocab_size,
           {dround('(sxy - sx * sy / sw) / (sxx - sx * sx / sw)', 6)} AS zipf_slope,
           {dround('sy / sw - (sxy - sx * sy / sw) / (sxx - sx * sx / sw) * sx / sw', 6)} AS log_intercept
    FROM s
    """,
)
def corpus_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit: weighted log-log OLS of token frequency against
    mid-rank, slope ≈ −1 on natural corpora. Companion to
    `corpus_heaps_law_fit` (vocabulary growth) — together they are the
    two classic corpus-statistics diagnostics a training pipeline runs
    before mixing a new source.

    Scale shape: ranks are never materialized per TYPE — types collapse
    to the (frequency, n_types) table first (O(distinct frequencies),
    thousands at any corpus size by Zipf itself), and each frequency
    class gets its average rank from :func:`exclusive_prefix_sums` over
    that tiny table, ordered by descending frequency via the negated
    key. The regression is then one aggregate over O(freq-classes)
    weighted points — the same no-global-window discipline as
    `abtest_mannwhitney_u`.
    """
    from ..operators.packing import exclusive_prefix_sums
    from ..operators.text import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.split(normalize_text(F.col("text")), " ")).alias("token")
    )
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("f"))
    byf = freq.groupBy("f").agg(F.count(F.lit(1)).alias("n_types"))
    # exclusive_prefix_sums orders ascending; rank needs higher-f-first.
    desc = byf.withColumn("negf", -F.col("f"))
    ranked = exclusive_prefix_sums(desc, "negf", ["n_types"]).select(
        "f",
        "n_types",
        (F.col("n_types_excl") + (F.col("n_types") + 1) / F.lit(2.0)).alias("rank_mid"),
    )
    pts = ranked.select(
        F.col("n_types").cast("double").alias("w"),
        F.log(F.col("rank_mid")).alias("x"),
        F.log(F.col("f").cast("double")).alias("y"),
    )
    s = pts.agg(
        F.sum("w").alias("sw"),
        F.sum(F.col("w") * F.col("x")).alias("sx"),
        F.sum(F.col("w") * F.col("y")).alias("sy"),
        F.sum(F.col("w") * F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("w") * F.col("x") * F.col("y")).alias("sxy"),
    )
    slope = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("sw")) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / F.col("sw")
    )
    intercept = F.col("sy") / F.col("sw") - slope * F.col("sx") / F.col("sw")
    return s.select(
        F.col("sw").cast("long").alias("vocab_size"),
        hround(slope, 6).alias("zipf_slope"),
        hround(intercept, 6).alias("log_intercept"),
    )


KN_D = 0.75


@query(
    "text_kneser_ney_bigrams",
    oracle=f"""
    WITH toks AS MATERIALIZED (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), big AS MATERIALIZED (
        SELECT t[i] AS v, t[i + 1] AS w
        FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
    ), cvw AS (
        SELECT v, w, COUNT(*) AS c FROM big GROUP BY v, w
    ), ctx AS (
        SELECT v, SUM(c) AS cv, COUNT(*) AS n1p_fwd FROM cvw GROUP BY v
    ), cont AS (
        SELECT w, COUNT(*) AS n1p_bwd FROM cvw GROUP BY w
    ), tot AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS b FROM cvw
    )
    SELECT cvw.v, cvw.w, cvw.c AS c_bigram,
           CAST(ctx.cv AS BIGINT) AS c_context,
           {dround('cont.n1p_bwd / tot.b', 6)} AS p_continuation,
           {dround(f'GREATEST(cvw.c - {KN_D!r}, 0.0) / ctx.cv'
                   f' + {KN_D!r} * ctx.n1p_fwd / ctx.cv * (cont.n1p_bwd / tot.b)', 6)}
               AS p_kn
    FROM cvw JOIN ctx USING (v) JOIN cont USING (w), tot
    ORDER BY c_bigram DESC, v, w
    LIMIT 20
    """,
)
def text_kneser_ney_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities for the corpus's 20
    most frequent bigrams: absolute discount D=0.75 with the mass routed
    to the CONTINUATION unigram (how many contexts a word completes,
    not how often it occurs) — the smoothing insight that makes KN the
    standard n-gram LM, and the companion the plain-interpolation
    `text_bigram_perplexity` model is usually compared against.

    All four model tables (bigram counts, context totals+fanouts,
    continuation fanins, distinct-bigram total) come from ONE bigram
    counting shuffle and |vocab|-bounded regroupings of it — the
    N1+ statistics are COUNT(*) over the already-aggregated bigram
    table, never a second pass over the corpus. Top-20 via
    TakeOrderedAndProject.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.split("text", " ").alias("t"))
    big = toks.select(
        F.explode(
            F.arrays_zip(
                F.expr("slice(t, 1, size(t)-1)").alias("v"),
                F.expr("slice(t, 2, size(t)-1)").alias("w"),
            )
        ).alias("p")
    ).select(F.col("p.v").alias("v"), F.col("p.w").alias("w"))
    cvw = big.groupBy("v", "w").agg(F.count(F.lit(1)).alias("c"))
    ctx = cvw.groupBy("v").agg(
        F.sum("c").alias("cv"), F.count(F.lit(1)).alias("n1p_fwd")
    )
    cont = cvw.groupBy("w").agg(F.count(F.lit(1)).alias("n1p_bwd"))
    tot = cvw.agg(F.count(F.lit(1)).cast("double").alias("b"))
    joined = (
        cvw.join(ctx, "v")
        .join(cont, "w")
        .crossJoin(F.broadcast(tot))
    )
    p_cont = F.col("n1p_bwd") / F.col("b")
    p_kn = (
        F.greatest(F.col("c") - F.lit(KN_D), F.lit(0.0)) / F.col("cv")
        + F.lit(KN_D) * F.col("n1p_fwd") / F.col("cv") * p_cont
    )
    return (
        joined.select(
            "v",
            "w",
            F.col("c").alias("c_bigram"),
            F.col("cv").cast("long").alias("c_context"),
            hround(p_cont, 6).alias("p_continuation"),
            hround(p_kn, 6).alias("p_kn"),
        )
        .orderBy(F.desc("c_bigram"), "v", "w")
        .limit(20)
    )
