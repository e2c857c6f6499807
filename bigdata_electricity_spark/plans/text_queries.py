"""Text-analysis queries over documents (north-star extension).

Every op here is expression-level Spark with a DuckDB oracle — language
ID, quality scoring, token counting and fingerprinting are all
SQL-expressible by design (SURVEY §7.2 step 8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..materialise import checkpoint
from ..operators.text import (
    LANG_STOPWORDS,
    bpe_ish_token_count,
    distinct_token_ratio,
    fingerprint,
    predict_language,
    punct_ratio,
    quality_score,
    token_count,
)
from ..sources.loaders import load_table
from ..functions.rounding import dround, hround
from .registry import query


@query(
    "text_stats",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS INTEGER) AS n_chars,
           CAST(len(regexp_extract_all(text, '\\S+')) AS INTEGER) AS n_tokens,
           CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS INTEGER) AS n_bpe_tokens,
           floor((CASE WHEN len(regexp_extract_all(text, '\\S+')) > 0
                  THEN CAST(len(list_distinct(regexp_extract_all(text, '\\S+'))) AS DOUBLE)
                       / len(regexp_extract_all(text, '\\S+')) END) * 1000000.0 + 0.5) / 1000000.0 AS distinct_ratio
    FROM documents
    ORDER BY doc_id
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token statistics per document: chars, whitespace tokens, BPE-ish
    (word-or-punct) tokens, distinct-token ratio. Pure projection —
    map-only at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    c = F.col("text")
    return docs.select(
        "doc_id",
        F.length(c).alias("n_chars"),
        token_count(c).alias("n_tokens"),
        bpe_ish_token_count(c).alias("n_bpe_tokens"),
        hround(distinct_token_ratio(c), 6).alias("distinct_ratio"),
    ).orderBy("doc_id")


@query(
    "text_quality",
    oracle="""
    WITH scored AS (
        SELECT doc_id,
               LEAST(CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE) / 50.0, 1.0) * 0.5
               + (CASE WHEN len(regexp_extract_all(text, '\\S+')) > 0
                  THEN CAST(len(list_distinct(regexp_extract_all(text, '\\S+'))) AS DOUBLE)
                       / len(regexp_extract_all(text, '\\S+')) END) * 0.5 AS q,
               floor((CASE WHEN length(text) > 0
                           THEN CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                                / length(text) ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS punct_ratio
        FROM documents
    )
    SELECT doc_id, floor((q) * 1000000.0 + 0.5) / 1000000.0 AS quality, punct_ratio,
           CASE WHEN q >= 0.75 THEN 'keep' ELSE 'drop' END AS verdict
    FROM scored
    ORDER BY doc_id
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length-saturation × token diversity composite with
    a keep/drop verdict — the filter stage of a training-data pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    c = F.col("text")
    q = quality_score(c)
    return docs.select(
        "doc_id",
        hround(q, 6).alias("quality"),
        hround(punct_ratio(c), 6).alias("punct_ratio"),
        F.when(q >= 0.75, "keep").otherwise("drop").alias("verdict"),
    ).orderBy("doc_id")


def _duck_lang_score(lang: str) -> str:
    pattern = r"\b(" + "|".join(LANG_STOPWORDS[lang]) + r")\b"
    return f"len(regexp_extract_all(lower(text), '{pattern}'))"


_LANG_CASE = " ".join(
    f"WHEN {_duck_lang_score(lang)} = best THEN '{lang}'" for lang in sorted(LANG_STOPWORDS)
)

@query(
    "text_langid",
    oracle=f"""
    WITH scored AS (
        SELECT lang,
               greatest({', '.join(_duck_lang_score(lang) for lang in LANG_STOPWORDS)}) AS best,
               text
        FROM documents
    ), predicted AS (
        SELECT lang,
               CASE WHEN best = 0 THEN 'und' {_LANG_CASE} ELSE 'und' END AS predicted_lang
        FROM scored
    )
    SELECT lang, predicted_lang, COUNT(*) AS n
    FROM predicted
    GROUP BY lang, predicted_lang
    ORDER BY lang, predicted_lang
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (stopword-signature argmax) with a confusion
    matrix against the labeled ``lang`` column. Expression-only n-gram
    heuristic — no model, no UDF."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", predict_language(F.col("text")).alias("predicted_lang"))
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "predicted_lang")
    )


def _duck_word_count(words: list[str]) -> str:
    pattern = r"\b(" + "|".join(words) + r")\b"
    return f"len(regexp_extract_all(lower(text), '{pattern}'))"


from ..operators.text import NEGATIVE_WORDS, POSITIVE_WORDS  # noqa: E402

_POS = _duck_word_count(POSITIVE_WORDS)
_NEG = _duck_word_count(NEGATIVE_WORDS)


@query(
    "text_sentiment",
    oracle=f"""
    SELECT source,
           CASE WHEN {_POS} > {_NEG} THEN 'positive'
                WHEN {_NEG} > {_POS} THEN 'negative'
                ELSE 'neutral' END AS sentiment,
           COUNT(*) AS n
    FROM documents
    GROUP BY 1, 2
    ORDER BY source, sentiment
    """,
)
def text_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword sentiment per source: the wordlist-count classifier of the
    classic Spark sentiment pipelines, as a pure expression."""
    from ..operators.text import sentiment_label

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("source", sentiment_label(F.col("text")).alias("sentiment"))
        .groupBy("source", "sentiment")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("source", "sentiment")
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
    FROM documents
    ORDER BY doc_id
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint: md5 over normalized text — engine-portable
    document identity (the exact-dedup key)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fp")).orderBy("doc_id")


@query(
    "text_top_tokens",
    oracle="""
    SELECT token, COUNT(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    ORDER BY n DESC, token
    LIMIT 20
    """,
)
def text_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level token frequency top-20 (explode → count → top-k;
    tie-broken by token for determinism). The explode fan-out is bounded
    per-row; counts partially aggregate map-side."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


@query(
    "text_tfidf_top_term",
    oracle="""
    WITH tf AS (
        SELECT doc_id, token, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY doc_id, token
    ), df AS (
        SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY token
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.token,
               floor((tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0))) * 1000000.0 + 0.5) / 1000000.0 AS tfidf
        FROM tf JOIN df USING (token) CROSS JOIN n
    )
    SELECT doc_id, token AS top_term, tfidf
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rn
          FROM scored)
    WHERE rn = 1
    ORDER BY doc_id
    """,
)
def text_tfidf_top_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: highest-scoring term per document.

    The full distributed shape: explode → (doc, term) counts → document
    frequency join → per-doc window argmax. The df side aggregates to
    |vocab| rows — Heaps-law growth at corpus scale, so it joins
    unhinted (stats/AQE-sized); scores are rounded BEFORE ranking so
    libm ln() ulp differences can't flip the per-doc argmax across
    engines (tie-break on term).
    """
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    scored = (
        tf.join(df, "token")
        .select(
            "doc_id",
            "token",
            hround(
                F.col("tf") * F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df") + 1.0)), 6
            ).alias("tfidf"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("token").alias("top_term"), "tfidf")
        .orderBy("doc_id")
    )


@query(
    "text_bigram_pmi",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ), pos AS (
        SELECT doc_id, unnest(l) AS w, generate_subscripts(l, 1) AS i FROM toks
    ), big AS (
        SELECT a.w AS w1, b.w AS w2
        FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.i = a.i + 1
    ), pair AS (
        SELECT w1, w2, COUNT(*) AS n_pair FROM big GROUP BY w1, w2
        HAVING COUNT(*) >= 5
    ), uni AS (
        SELECT w, COUNT(*) AS n_w FROM pos GROUP BY w
    ), tot AS (
        SELECT CAST(SUM(n_w) AS DOUBLE) AS t_uni FROM uni
    ), totb AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS t_pairs FROM big
    )
    SELECT p.w1, p.w2, p.n_pair,
           {dround('log2((CAST(p.n_pair AS DOUBLE) / tb.t_pairs)'
                   ' * (t.t_uni / ua.n_w) * (t.t_uni / ub.n_w))', 6)} AS pmi
    FROM pair p
    JOIN uni ua ON p.w1 = ua.w
    JOIN uni ub ON p.w2 = ub.w
    CROSS JOIN tot t CROSS JOIN totb tb
    ORDER BY w1, w2
    """,
)
def text_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level bigram PMI: log2(p(a,b) / (p(a)·p(b))) over adjacent
    whitespace-token pairs, reported for pairs seen ≥5 times — the
    collocation-mining stage of corpus analysis (phrase detection,
    tokenizer-merge candidates).

    Scale shape: bigrams come from zipping the token array with its
    own tail (map-side; the array is materialized ONCE before slicing —
    the HOF-CSE trap), then two grouped counts and a pair↔unigram join
    keyed on vocabulary terms. No broadcast is forced: at 100 TB the
    vocabulary can exceed driver memory, so the join shuffles on the
    term key and AQE may still demote it to broadcast when small. The
    ≥5 support filter runs before the join, bounding the pair side.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", F.split(F.col("text"), " ").alias("l")
    )
    # Materialize the two shifted slices as real columns before zipping
    # (higher-order functions are CodegenFallback with no CSE). The
    # <2-token guard lives INSIDE the slice expressions (r13): a
    # row-filter on size(l) gets pushed below the projection with the
    # split substituted into the predicate — tokenizing twice per row;
    # empty slices zip to an empty array and explode drops the row
    # identically.
    short = F.size("l") < 2
    empty = F.array().cast("array<string>")
    big = (
        toks.select(
            F.when(short, empty).otherwise(
                F.slice(F.col("l"), 1, F.size("l") - 1)
            ).alias("a1"),
            F.when(short, empty).otherwise(
                F.slice(F.col("l"), 2, F.size("l") - 1)
            ).alias("a2"),
        )
        .select(F.explode(F.arrays_zip("a1", "a2")).alias("bg"))
        .select(F.col("bg.a1").alias("w1"), F.col("bg.a2").alias("w2"))
    )
    pair = (
        big.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= 5)
    )
    uni = (
        toks.select(F.explode("l").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
    )
    tot = uni.agg(F.sum("n_w").cast("double").alias("t_uni"))
    totb = big.agg(F.count(F.lit(1)).cast("double").alias("t_pairs"))
    ua = uni.select(F.col("w").alias("w1"), F.col("n_w").alias("n_a"))
    ub = uni.select(F.col("w").alias("w2"), F.col("n_w").alias("n_b"))
    joined = (
        pair.join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(totb))
    )
    pmi = F.log2(
        (F.col("n_pair").cast("double") / F.col("t_pairs"))
        * (F.col("t_uni") / F.col("n_a"))
        * (F.col("t_uni") / F.col("n_b"))
    )
    return joined.select(
        "w1", "w2", "n_pair", hround(pmi, 6).alias("pmi")
    ).orderBy("w1", "w2")


@query(
    "text_inverted_index",
    oracle="""
    WITH pos AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), per AS (
        SELECT w, doc_id, COUNT(*) AS tf FROM pos GROUP BY w, doc_id
    )
    SELECT w AS token,
           CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM(tf) AS BIGINT) AS cf,
           array_to_string(
               (list(CAST(doc_id AS VARCHAR) || ':' || CAST(tf AS VARCHAR)
                     ORDER BY doc_id))[1:20], ' ') AS postings
    FROM per GROUP BY w HAVING COUNT(*) >= 10 ORDER BY token
    """,
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: per token, document frequency, collection
    frequency, and the first 20 (doc_id:tf) postings in doc order —
    the retrieval-side artifact of a corpus pipeline.

    Scale shape: (token, doc) term frequencies and the per-token rollup
    are both partial+final grouped aggregates; postings are capped at
    20 entries so a stop-word's row stays bounded (a real index shards
    long posting lists — the cap documents that boundary honestly
    instead of materializing an unbounded collect_list).
    """
    docs = load_table(spark, sf_dir, "documents")
    per = (
        docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("w"))
        .groupBy("w", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return (
        per.groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("cf"),
            F.array_join(
                F.transform(
                    F.slice(
                        F.array_sort(F.collect_list(F.struct("doc_id", "tf"))), 1, 20
                    ),
                    lambda s: F.concat(
                        s["doc_id"].cast("string"), F.lit(":"), s["tf"].cast("string")
                    ),
                ),
                " ",
            ).alias("postings"),
        )
        .filter(F.col("df") >= 10)
        .select(F.col("w").alias("token"), "df", "cf", "postings")
        .orderBy("token")
    )


# GPT-2-family pretokenizer regex, ASCII-restricted so Java (Spark) and
# RE2 (DuckDB) agree byte-for-byte: contraction suffixes, space-prefixed
# letter runs, space-prefixed digit runs, space-prefixed punctuation
# runs, whitespace runs. Public pattern shape (Radford et al. 2019).
_BPE_PRETOK = "'[a-z]+| ?[a-z]+| ?[0-9]+| ?[^ a-z0-9]+| +"
_BPE_PRETOK_SQL = _BPE_PRETOK.replace("'", "''")


@query(
    "text_bpe_pretokenize",
    oracle=f"""
    WITH toks AS (
        SELECT source,
               len(list_filter(regexp_extract_all(lower(text), '{_BPE_PRETOK_SQL}'),
                               t -> trim(t) <> '')) AS n_bpe
        FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_bpe) AS BIGINT) AS total_bpe_tokens,
           floor((CAST(SUM(n_bpe) AS DOUBLE) / COUNT(*)) * 100.0 + 0.5) / 100.0
             AS avg_bpe_per_doc,
           CAST(MAX(n_bpe) AS BIGINT) AS max_bpe_tokens
    FROM toks
    GROUP BY source
    ORDER BY source
    """,
)
def text_bpe_pretokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style token accounting: the GPT-2 pretokenizer regex splits
    text into the word/number/punctuation pieces a byte-pair encoder
    would merge, giving a far better token-budget estimate than
    whitespace counting (whitespace undercounts punctuation-heavy text
    by 20-40%). The per-source totals are what a 100 TB corpus plan is
    budgeted in — token counts, not byte counts.

    Pure JVM path: regexp_extract_all + filter inside whole-stage
    codegen, one small shuffle on source. The pattern is deliberately
    ASCII-restricted so Spark's Java regex and DuckDB's RE2 tokenize
    identically (\\p{{L}} classes differ across engines).
    """
    docs = load_table(spark, sf_dir, "documents")
    n_bpe = F.size(
        F.filter(
            F.regexp_extract_all(F.lower("text"), F.lit(_BPE_PRETOK), 0),
            lambda t: F.trim(t) != "",
        )
    )
    return (
        docs.select("source", n_bpe.alias("n_bpe"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bpe").cast("long").alias("total_bpe_tokens"),
            hround(F.sum("n_bpe").cast("double") / F.count(F.lit(1)), 2).alias(
                "avg_bpe_per_doc"
            ),
            F.max("n_bpe").cast("long").alias("max_bpe_tokens"),
        )
        .orderBy("source")
    )


# BM25 (Lucene idf form): k1=1.2, b=0.75, query = {hash, join, scan}.
_BM25_Q = ("hash", "join", "scan")
_BM25_K1 = "CAST(1.2 AS DOUBLE)"
_BM25_B = "CAST(0.75 AS DOUBLE)"


@query(
    "text_bm25_topk",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), lens AS (
        SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl FROM d
    ), corpus AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl FROM lens
    ), tf AS (
        SELECT doc_id, t.w AS term, CAST(COUNT(*) AS DOUBLE) AS tf
        FROM d, UNNEST(d.w) AS t(w)
        WHERE t.w IN ('hash', 'join', 'scan')
        GROUP BY doc_id, t.w
    ), df AS (
        SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term
    ), scored AS (
        SELECT tf.doc_id,
               SUM(ln((corpus.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
                   * tf.tf * ({_BM25_K1} + 1.0)
                   / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * lens.dl / corpus.avgdl))
               ) AS score
        FROM tf
        JOIN df ON tf.term = df.term
        JOIN lens ON tf.doc_id = lens.doc_id
        CROSS JOIN corpus
        GROUP BY tf.doc_id
    )
    SELECT doc_id, floor(score * 1000000.0 + 0.5) / 1000000.0 AS bm25
    FROM scored
    ORDER BY bm25 DESC, doc_id
    LIMIT 10
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (Lucene idf, k1=1.2, b=0.75) for the query
    {hash, join, scan} — the lexical half of a hybrid search stack (the
    embedding half is the sim_* ladder; `sim_rrf_fusion` fuses two
    rankings). Completes text retrieval beyond raw TF-IDF: BM25's tf
    saturation and length normalization are what production keyword
    search actually runs.

    Scale shape: tf is one explode+groupBy restricted to the 3 query
    terms BEFORE the shuffle (the match filter prunes ~99% of postings
    at the map side); df and corpus stats are tiny broadcast sides; the
    top-10 is TakeOrdered. ln() is libm-grade on both engines and the
    score rounds at 6 decimals before ranking (tie-break doc_id).
    """
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", F.split("text", " ").alias("w"))
    lens = d.select("doc_id", F.size("w").cast("double").alias("dl"))
    corpus = lens.agg(
        F.count(F.lit(1)).cast("double").alias("n"), F.avg("dl").alias("avgdl")
    )
    tf = (
        d.select("doc_id", F.explode("w").alias("term"))
        .filter(F.col("term").isin(*_BM25_Q))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    k1, b = F.lit(1.2), F.lit(0.75)
    idf = F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    denom = F.col("tf") + k1 * (
        F.lit(1.0) - b + b * F.col("dl") / F.col("avgdl")
    )
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .select("doc_id", (idf * F.col("tf") * (k1 + 1.0) / denom).alias("s"))
        .groupBy("doc_id")
        .agg(F.sum("s").alias("score"))
    )
    return (
        scored.select("doc_id", hround(F.col("score"), 6).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(10)
    )


@query(
    "text_vocab_js_drift",
    oracle="""
    WITH toks AS MATERIALIZED (
        SELECT source, t.tok, CAST(COUNT(*) AS DOUBLE) AS c
        FROM documents,
             UNNEST(regexp_extract_all(text, '\\S+')) AS t(tok)
        GROUP BY source, t.tok
    ), totals AS MATERIALIZED (
        SELECT source, SUM(c) AS tot, COUNT(*) AS n_types
        FROM toks GROUP BY source
    ), probs AS MATERIALIZED (
        SELECT k.source, k.tok, k.c / t.tot AS p
        FROM toks k JOIN totals t ON k.source = t.source
    ), pairs AS (
        SELECT a.source AS sa, b.source AS sb
        FROM totals a JOIN totals b ON a.source < b.source
    ), side_a AS (
        SELECT pr.sa, pr.sb,
               SUM(0.5 * pa.p * ln(2.0 * pa.p / (pa.p + COALESCE(pb.p, 0.0)))) AS js_part,
               CAST(SUM(CASE WHEN pb.p IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
        FROM pairs pr
        JOIN probs pa ON pa.source = pr.sa
        LEFT JOIN probs pb ON pb.source = pr.sb AND pb.tok = pa.tok
        GROUP BY pr.sa, pr.sb
    ), side_b AS (
        SELECT pr.sa, pr.sb,
               SUM(0.5 * pb.p * ln(2.0 * pb.p / (pb.p + COALESCE(pa.p, 0.0)))) AS js_part
        FROM pairs pr
        JOIN probs pb ON pb.source = pr.sb
        LEFT JOIN probs pa ON pa.source = pr.sa AND pa.tok = pb.tok
        GROUP BY pr.sa, pr.sb
    )
    SELECT a.sa AS source_a, a.sb AS source_b,
           ta.n_types AS n_types_a, tb.n_types AS n_types_b,
           a.n_shared,
           floor((a.js_part + b.js_part) * 1000000.0 + 0.5) / 1000000.0 AS js_nats
    FROM side_a a
    JOIN side_b b ON a.sa = b.sa AND a.sb = b.sb
    JOIN totals ta ON ta.source = a.sa
    JOIN totals tb ON tb.source = a.sb
    ORDER BY source_a, source_b
    """,
)
def text_vocab_js_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary drift between corpus slices: Jensen-Shannon divergence
    of the unigram distributions for every pair of sources — the
    corpus-level companion of `drift_psi_value` (which watches ONE
    numeric column through fixed bins; JS here compares full token
    distributions, is symmetric, and is bounded by ln 2 even on
    disjoint vocabularies, where KL diverges).

    JS(P,Q) = 0.5·KL(P||M) + 0.5·KL(Q||M) with M the midpoint, computed
    without materializing M: each side's terms come from its own token
    list with the other side's probability left-joined in (absent → 0,
    where the term reduces to 0.5·p·ln 2). Tokens are the pinned \\S+
    runs (convention #10 of the r9 edge sweep). Both windows of the
    computation shuffle on (source, token) — at 100 TB the token-keyed
    group is the only wide stage, and it prunes to |vocab| rows before
    the tiny per-pair join; the |sources|² pair fan-out multiplies
    |vocab|-sized sides, never the corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "source",
            F.explode(
                F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0)
            ).alias("tok"),
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    totals = toks.groupBy("source").agg(
        F.sum("c").alias("tot"), F.count(F.lit(1)).alias("n_types")
    )
    probs = checkpoint(  # referenced 4x across the two sides
        toks.join(totals.select("source", "tot"), "source")
        .select("source", "tok", (F.col("c") / F.col("tot")).alias("p"))
    )
    pairs = (
        totals.select(F.col("source").alias("sa"))
        .join(totals.select(F.col("source").alias("sb")), F.col("sa") < F.col("sb"))
    )
    pa = probs.select(F.col("source").alias("sa"), "tok", F.col("p").alias("p_a"))
    pb = probs.select(F.col("source").alias("sb"), "tok", F.col("p").alias("p_b"))
    side_a = (
        pairs.join(pa, "sa")
        .join(pb, ["sb", "tok"], "left")
        .groupBy("sa", "sb")
        .agg(
            F.sum(
                F.lit(0.5)
                * F.col("p_a")
                * F.log(
                    F.lit(2.0) * F.col("p_a")
                    / (F.col("p_a") + F.coalesce("p_b", F.lit(0.0)))
                )
            ).alias("js_a"),
            F.sum(F.when(F.col("p_b").isNotNull(), 1).otherwise(0)).alias("n_shared"),
        )
    )
    side_b = (
        pairs.join(pb, "sb")
        .join(pa, ["sa", "tok"], "left")
        .groupBy("sa", "sb")
        .agg(
            F.sum(
                F.lit(0.5)
                * F.col("p_b")
                * F.log(
                    F.lit(2.0) * F.col("p_b")
                    / (F.col("p_b") + F.coalesce("p_a", F.lit(0.0)))
                )
            ).alias("js_b")
        )
    )
    return (
        side_a.join(side_b, ["sa", "sb"])
        .join(
            F.broadcast(totals.select(F.col("source").alias("sa"),
                                      F.col("n_types").alias("n_types_a"))),
            "sa",
        )
        .join(
            F.broadcast(totals.select(F.col("source").alias("sb"),
                                      F.col("n_types").alias("n_types_b"))),
            "sb",
        )
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            "n_types_a",
            "n_types_b",
            "n_shared",
            hround(F.col("js_a") + F.col("js_b"), 6).alias("js_nats"),
        )
        .orderBy("source_a", "source_b")
    )


TEXTRANK_ROUNDS = 3
TEXTRANK_MIN_FREQ = 5
TEXTRANK_TOP_K = 15
_TR_DAMP = "0.85"


def _textrank_oracle() -> str:
    r9 = lambda e: dround(e, 9)  # noqa: E731
    sql = f"""
    WITH toks AS MATERIALIZED (
        SELECT doc_id, t.tok, t.pos
        FROM (
            SELECT doc_id,
                   generate_subscripts(regexp_extract_all(text, '\\S+'), 1) AS pos,
                   unnest(regexp_extract_all(text, '\\S+')) AS tok
            FROM documents
        ) AS t(doc_id, pos, tok)
    ), freq AS MATERIALIZED (
        SELECT tok FROM toks GROUP BY tok HAVING COUNT(*) >= {TEXTRANK_MIN_FREQ}
    ), pairs AS (
        SELECT LEAST(a.tok, b.tok) AS wa, GREATEST(a.tok, b.tok) AS wb
        FROM toks a JOIN toks b
          ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        WHERE a.tok != b.tok
          AND a.tok IN (SELECT tok FROM freq)
          AND b.tok IN (SELECT tok FROM freq)
    ), und AS MATERIALIZED (
        SELECT wa, wb, CAST(COUNT(*) AS DOUBLE) AS w FROM pairs GROUP BY wa, wb
    ), edges AS MATERIALIZED (
        SELECT wa AS src, wb AS dst, w FROM und
        UNION ALL
        SELECT wb AS src, wa AS dst, w FROM und
    ), wdeg AS MATERIALIZED (
        SELECT src, SUM(w) AS d FROM edges GROUP BY src
    ), r0 AS MATERIALIZED (
        SELECT src AS tok, CAST(1.0 AS DOUBLE) AS r FROM wdeg
    )"""
    for i in range(1, TEXTRANK_ROUNDS + 1):
        p = i - 1
        sql += f""", r{i} AS MATERIALIZED (
        SELECT e.dst AS tok,
               {r9(f'0.15 + {_TR_DAMP} * SUM(r.r * e.w / d.d)')} AS r
        FROM edges e
        JOIN r{p} r ON e.src = r.tok
        JOIN wdeg d ON e.src = d.src
        GROUP BY e.dst
    )"""
    return sql + f"""
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY {dround('r', 6)} DESC, tok) AS BIGINT) AS rnk,
           tok AS word, {dround('r', 6)} AS score
    FROM r{TEXTRANK_ROUNDS}
    QUALIFY rnk <= {TEXTRANK_TOP_K}
    ORDER BY rnk
    """


@query("text_textrank_keywords", oracle=_textrank_oracle())
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): build the
    word co-occurrence graph from ADJACENT token pairs (window 2, the
    paper's default), drop rare tokens (corpus freq < 5 — the noise
    floor that also bounds the graph to the frequent vocabulary), and
    run 3 rounds of damped weighted PageRank; top-15 words by final
    score. Graph centrality as keyword salience — complements
    `text_tfidf_top_term` (frequency-contrast salience) and reuses the
    iterative scalar-free shape of `graph_pagerank_nations` on a
    corpus-DERIVED graph instead of a relational one.

    Every stage is a keyed shuffle: adjacency pairs group to undirected
    edge weights (|frequent-vocab|²-bounded, corpus-scanned once),
    weighted degree is one grouped sum, each round is one edges x
    scores join + grouped sum (the LPA/HITS iterative shape, scores
    1e-9 lockstep-rounded). Top-k via orderBy().limit() on Spark
    (TakeOrderedAndProject), rank window only over the k survivors.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0)
        ).alias("pos", "tok"),
    )
    freq = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= TEXTRANK_MIN_FREQ)
        .select("tok")
    )
    a = toks.select("doc_id", F.col("pos").alias("pa"), F.col("tok").alias("ta"))
    b = toks.select("doc_id", F.col("pos").alias("pb"), F.col("tok").alias("tb"))
    adj = (
        a.join(b, ["doc_id"])
        .filter((F.col("pb") == F.col("pa") + 1) & (F.col("ta") != F.col("tb")))
        .join(freq.withColumnRenamed("tok", "ta"), "ta", "left_semi")
        .join(freq.withColumnRenamed("tok", "tb"), "tb", "left_semi")
        .select(
            F.least("ta", "tb").alias("wa"), F.greatest("ta", "tb").alias("wb")
        )
    )
    und = adj.groupBy("wa", "wb").agg(F.count(F.lit(1)).cast("double").alias("w"))
    edges = checkpoint(  # referenced once per round + wdeg
        und.select(F.col("wa").alias("src"), F.col("wb").alias("dst"), "w")
        .unionByName(und.select(F.col("wb").alias("src"), F.col("wa").alias("dst"), "w"))
    )
    wdeg = checkpoint(edges.groupBy("src").agg(F.sum("w").alias("d")))
    r = wdeg.select(F.col("src").alias("tok"), F.lit(1.0).alias("r"))
    for _ in range(TEXTRANK_ROUNDS):
        r = checkpoint(
            edges.join(r.withColumnRenamed("tok", "src"), "src")
            .join(wdeg, "src")
            .groupBy(F.col("dst").alias("tok"))
            .agg(
                hround(
                    F.lit(0.15)
                    + F.lit(float(_TR_DAMP))
                    * F.sum(F.col("r") * F.col("w") / F.col("d")),
                    9,
                ).alias("r")
            )
        )
    top = (
        r.select(F.col("tok").alias("word"), hround("r", 6).alias("score"))
        .orderBy(F.desc("score"), "word")
        .limit(TEXTRANK_TOP_K)
    )
    wk = Window.orderBy(F.desc("score"), "word")  # k rows only
    return top.select(
        F.row_number().over(wk).cast("bigint").alias("rnk"), "word", "score"
    ).orderBy("rnk")
