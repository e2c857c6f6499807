"""Data-quality / robust-statistics queries (training-pipeline extension).

Robust outlier profiling (median/MAD), winsorization, a single-pass
constraint audit, per-document token entropy, and temperature-flattened
language mixing — the quality-control stages of a large-corpus pipeline.
All five are oracle-checked: every statistic is either exact-integer or
an interpolated percentile / deterministic hash draw that both engines
compute identically (registry determinism rules, SURVEY §7.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.rounding import dround, hround
from ..materialise import checkpoint
from ..sources.loaders import load_table
from .registry import query

# 3.5 × 1.4826 (the normal-consistency constant): pre-multiplied so both
# engines compare against the same literal, not their own float product.
_MAD_K = "5.1891"

# Salted md5 → uniform[0,1) draw keyed on doc_id. Salt 't' decorrelates
# from sample_hash_bernoulli ('s') and corpus_shard_assignment (unsalted).
_U01T = (
    "CAST(CAST(('0x' || substr(md5('t' || CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) AS DOUBLE)"
    " / 16777216.0"
)


def _u01t_spark() -> F.Column:
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("t"), F.col("doc_id").cast("string"))), 1, 6),
            16,
            10,
        ).cast("long")
        / F.lit(16777216.0)
    )


@query(
    "clean_outlier_mad",
    oracle=f"""
    WITH med AS (
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, 0.5) AS med,
               COUNT(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag
    ), dev AS (
        SELECT l.l_returnflag,
               abs(l.l_extendedprice - m.med) AS adev,
               m.med, m.n_rows
        FROM lineitem l JOIN med m USING (l_returnflag)
    ), mad AS (
        SELECT l_returnflag, quantile_cont(adev, 0.5) AS mad
        FROM dev GROUP BY l_returnflag
    )
    SELECT d.l_returnflag,
           {dround('any_value(d.med)', 6)} AS med,
           {dround('any_value(ma.mad)', 6)} AS mad,
           any_value(d.n_rows) AS n_rows,
           CAST(SUM(CASE WHEN d.adev > CAST({_MAD_K} AS DOUBLE) * ma.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad ma USING (l_returnflag)
    GROUP BY d.l_returnflag
    ORDER BY d.l_returnflag
    """,
)
def clean_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) outlier profile per return flag — the
    heavy-tail-safe sibling of `clean_outlier_iqr` (reference
    Cleaning.scala's IQR filter generalized to the robust-z rule
    |x − med| > 3.5·1.4826·MAD).

    Scale shape: two grouped exact-percentile aggregates over a
    3-group key, each result broadcast back — lineitem is scanned
    three times but never shuffled on anything wider than
    l_returnflag, and the broadcast sides are |distinct flags| rows.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    med = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.5)).alias("med"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    dev = li.join(F.broadcast(med), "l_returnflag").withColumn(
        "adev", F.abs(F.col("l_extendedprice") - F.col("med"))
    )
    mad = dev.groupBy("l_returnflag").agg(F.percentile("adev", F.lit(0.5)).alias("mad"))
    out = (
        dev.join(F.broadcast(mad), "l_returnflag")
        .filter(F.col("adev") > F.lit(float(_MAD_K)) * F.col("mad"))
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_outliers"))
    )
    return (
        med.join(mad, "l_returnflag")
        .join(out, "l_returnflag", "left")
        .select(
            "l_returnflag",
            hround("med", 6).alias("med"),
            hround("mad", 6).alias("mad"),
            "n_rows",
            F.coalesce(F.col("n_outliers"), F.lit(0).cast("long")).alias("n_outliers"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "transform_winsorize",
    oracle=f"""
    WITH q AS (
        SELECT quantile_cont(l_extendedprice, 0.01) AS p01,
               quantile_cont(l_extendedprice, 0.99) AS p99
        FROM lineitem
    ), c AS (
        SELECT l.l_returnflag,
               l.l_extendedprice AS raw,
               least(greatest(l.l_extendedprice, q.p01), q.p99) AS w,
               CASE WHEN l.l_extendedprice < q.p01 OR l.l_extendedprice > q.p99
                    THEN 1 ELSE 0 END AS clip
        FROM lineitem l CROSS JOIN q
    )
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           {dround('avg(raw)', 4)} AS avg_raw,
           {dround('avg(w)', 4)} AS avg_winsor,
           CAST(SUM(clip) AS BIGINT) AS n_clipped
    FROM c
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def transform_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorize l_extendedprice at global p01/p99 and report per-flag
    raw-vs-clipped means — the tail-clipping normalization stage
    (extends reference Transformation.scala's min-max scale, P13/M7).

    Scale shape: one global exact-percentile aggregate (a 2-double
    result) broadcast via crossJoin, then a map-side clip and one
    grouped aggregate — no extra shuffle of the fact table. At 100 TB
    swap F.percentile for percentile_approx; exact is used here so the
    DuckDB oracle matches bit-for-bit.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    q = li.agg(
        F.percentile("l_extendedprice", F.array(F.lit(0.01), F.lit(0.99))).alias("qs")
    ).select(F.col("qs")[0].alias("p01"), F.col("qs")[1].alias("p99"))
    price = F.col("l_extendedprice")
    clipped = li.crossJoin(F.broadcast(q)).select(
        "l_returnflag",
        price.alias("raw"),
        F.least(F.greatest(price, F.col("p01")), F.col("p99")).alias("w"),
        F.when((price < F.col("p01")) | (price > F.col("p99")), F.lit(1))
        .otherwise(F.lit(0))
        .alias("clip"),
    )
    return (
        clipped.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            hround(F.avg("raw"), 4).alias("avg_raw"),
            hround(F.avg("w"), 4).alias("avg_winsor"),
            F.sum("clip").cast("long").alias("n_clipped"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "validate_constraints",
    oracle="""
    WITH a AS (
        SELECT COUNT(*) AS rows_total,
               SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS null_orderkey,
               SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS nonpositive_quantity,
               SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS nonpositive_price,
               SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS discount_out_of_range,
               SUM(CASE WHEN l_tax < 0 OR l_tax > 1 THEN 1 ELSE 0 END) AS tax_out_of_range,
               SUM(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R') THEN 1 ELSE 0 END) AS bad_returnflag,
               SUM(CASE WHEN l_linestatus NOT IN ('O', 'F') THEN 1 ELSE 0 END) AS bad_linestatus,
               SUM(CASE WHEN l_shipdate < TIMESTAMP '1990-01-01'
                          OR l_shipdate >= TIMESTAMP '2031-01-01' THEN 1 ELSE 0 END) AS shipdate_out_of_range
        FROM lineitem
    )
    SELECT rule, CAST(violations AS BIGINT) AS violations FROM (
        SELECT 'rows_total' AS rule, rows_total AS violations FROM a
        UNION ALL SELECT 'null_orderkey', null_orderkey FROM a
        UNION ALL SELECT 'nonpositive_quantity', nonpositive_quantity FROM a
        UNION ALL SELECT 'nonpositive_price', nonpositive_price FROM a
        UNION ALL SELECT 'discount_out_of_range', discount_out_of_range FROM a
        UNION ALL SELECT 'tax_out_of_range', tax_out_of_range FROM a
        UNION ALL SELECT 'bad_returnflag', bad_returnflag FROM a
        UNION ALL SELECT 'bad_linestatus', bad_linestatus FROM a
        UNION ALL SELECT 'shipdate_out_of_range', shipdate_out_of_range FROM a
    )
    ORDER BY rule
    """,
)
def validate_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass declarative constraint audit over lineitem (nullity,
    ranges, domain membership, date sanity) unpivoted to (rule,
    violations) rows — the expectation-suite pattern (deequ-style)
    expressed as ONE aggregate job.

    Scale shape: every rule is a conditional-count inside a single
    partial+final aggregate, so auditing N rules costs exactly one scan
    and one 1-row shuffle regardless of N — the observability pattern
    `observe`-based stage metrics also use (operators/observability.py).
    """
    li = load_table(spark, sf_dir, "lineitem")

    def viol(cond: F.Column) -> F.Column:
        return F.sum(F.when(cond, F.lit(1)).otherwise(F.lit(0))).cast("long")

    agged = li.agg(
        F.count(F.lit(1)).alias("rows_total"),
        viol(F.col("l_orderkey").isNull()).alias("null_orderkey"),
        viol(F.col("l_quantity") <= 0).alias("nonpositive_quantity"),
        viol(F.col("l_extendedprice") <= 0).alias("nonpositive_price"),
        viol((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).alias("discount_out_of_range"),
        viol((F.col("l_tax") < 0) | (F.col("l_tax") > 1)).alias("tax_out_of_range"),
        viol(~F.col("l_returnflag").isin("A", "N", "R")).alias("bad_returnflag"),
        viol(~F.col("l_linestatus").isin("O", "F")).alias("bad_linestatus"),
        viol(
            (F.col("l_shipdate") < F.lit("1990-01-01").cast("timestamp"))
            | (F.col("l_shipdate") >= F.lit("2031-01-01").cast("timestamp"))
        ).alias("shipdate_out_of_range"),
    )
    rules = [
        "rows_total",
        "null_orderkey",
        "nonpositive_quantity",
        "nonpositive_price",
        "discount_out_of_range",
        "tax_out_of_range",
        "bad_returnflag",
        "bad_linestatus",
        "shipdate_out_of_range",
    ]
    stack_args = ", ".join(f"'{r}', {r}" for r in rules)
    return agged.selectExpr(
        f"stack({len(rules)}, {stack_args}) AS (rule, violations)"
    ).orderBy("rule")


@query(
    "text_token_entropy",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    )
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           {dround('entropy(tok)', 6)} AS token_entropy
    FROM toks GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy (bits) of the whitespace-token
    distribution — a repetition/diversity quality signal that, unlike
    text_repetition's top-fraction heuristic, sees the whole
    distribution. H = log2(N) − Σ c·log2(c)/N over token counts c.

    Scale shape: explode → two grouped aggregates, first keyed
    (doc_id, tok) then doc_id. Entropy in this decomposed form is
    algebraic over token counts, so both aggregates get map-side
    partial aggregation; nothing ever materializes a per-doc token
    map in one task's memory.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))
    cnt = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    ent = cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.sum(F.col("c") * F.log2("c")).alias("clog"),
    )
    return ent.select(
        "doc_id",
        "n_tokens",
        hround(F.log2(F.col("n_tokens")) - F.col("clog") / F.col("n_tokens"), 6).alias(
            "token_entropy"
        ),
    ).orderBy("doc_id")


@query(
    "mix_lang_temperature",
    oracle=f"""
    WITH counts AS (
        SELECT lang, COUNT(*) AS n_total FROM documents GROUP BY lang
    ), m AS (
        SELECT MIN(n_total) AS n_min FROM counts
    ), rates AS (
        SELECT c.lang, c.n_total,
               sqrt(CAST(m.n_min AS DOUBLE) / c.n_total) AS keep_rate
        FROM counts c CROSS JOIN m
    ), scored AS (
        SELECT d.lang, {_U01T} AS u FROM documents d
    ), kept AS (
        SELECT s.lang, COUNT(*) AS n_kept
        FROM scored s JOIN rates r ON s.lang = r.lang
        WHERE s.u < r.keep_rate
        GROUP BY s.lang
    )
    SELECT r.lang, r.n_total,
           COALESCE(k.n_kept, 0) AS n_kept,
           {dround('r.keep_rate', 6)} AS keep_rate
    FROM rates r LEFT JOIN kept k ON r.lang = k.lang
    ORDER BY r.lang
    """,
)
def mix_lang_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened language mixing (α = 0.5): keep-rate per
    language is sqrt(n_min/n_lang), so over-represented languages are
    downsampled toward the α-tempered distribution (the multilingual
    sampling rule from the XLM/mC4 lineage) while the rarest language
    keeps 100%. Membership is a salted-md5 draw — deterministic,
    replayable, and exactly reproducible by the DuckDB oracle, unlike
    engine-RNG sampling.

    Scale shape: the per-language rate table is |languages| rows
    (broadcast); the fact scan is map-only projection + filter; the
    only fact-table shuffle is the |languages|-key audit rollup.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total"))
    minc = counts.agg(F.min("n_total").alias("n_min"))
    rates = counts.crossJoin(F.broadcast(minc)).withColumn(
        "keep_rate", F.sqrt(F.col("n_min").cast("double") / F.col("n_total"))
    )
    kept = (
        docs.select("lang", _u01t_spark().alias("u"))
        .join(F.broadcast(rates), "lang")
        .filter(F.col("u") < F.col("keep_rate"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        rates.join(F.broadcast(kept), "lang", "left")
        .select(
            "lang",
            "n_total",
            F.coalesce(F.col("n_kept"), F.lit(0).cast("long")).alias("n_kept"),
            hround("keep_rate", 6).alias("keep_rate"),
        )
        .orderBy("lang")
    )


@query(
    "drift_psi_value",
    oracle=f"""
    WITH binned AS (
        SELECT LEAST(CAST(floor(value / 50) AS BIGINT), 9) AS bin,
               CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-07' THEN 'a'
                    WHEN CAST(ts AS DATE) >= DATE '2024-01-22' THEN 'b'
               END AS period
        FROM events
        WHERE CAST(ts AS DATE) <= DATE '2024-01-07'
           OR CAST(ts AS DATE) >= DATE '2024-01-22'
    ), counts AS (
        SELECT bin,
               COUNT(*) FILTER (WHERE period = 'a') AS n_a,
               COUNT(*) FILTER (WHERE period = 'b') AS n_b
        FROM binned GROUP BY bin
    ), tot AS (
        SELECT SUM(n_a) AS t_a, SUM(n_b) AS t_b, COUNT(*) AS k FROM counts
    ), p AS (
        SELECT c.bin,
               (CAST(c.n_a AS DOUBLE) + 1.0) / (t.t_a + t.k) AS p_a,
               (CAST(c.n_b AS DOUBLE) + 1.0) / (t.t_b + t.k) AS p_b
        FROM counts c CROSS JOIN tot t
    )
    SELECT bin,
           {dround('p_a', 8)} AS p_a,
           {dround('p_b', 8)} AS p_b,
           {dround('(p_a - p_b) * ln(p_a / p_b)', 8)} AS psi_term
    FROM p
    ORDER BY bin
    """,
)
def drift_psi_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift check of events.value between a
    reference week (Jan 1-7) and a comparison window (Jan 22-30): fixed
    50-unit bins, Laplace-smoothed shares (+1/bin so an empty bin can't
    produce ±inf), per-bin PSI terms — Σ terms > 0.2 is the classic
    'investigate the feature' alarm before a model retrain.

    One scan with the date predicate pushed down, one groupBy on a
    10-value bin key, totals broadcast back — at 100 TB the only wide
    state is |bins| rows. Laplace smoothing also makes the math
    engine-deterministic (no conditional inf/NaN paths).
    """
    events = load_table(spark, sf_dir, "events")
    d = F.to_date("ts")
    binned = events.filter(
        (d <= F.lit("2024-01-07")) | (d >= F.lit("2024-01-22"))
    ).select(
        F.least(F.floor(F.col("value") / 50).cast("long"), F.lit(9).cast("long")).alias("bin"),
        F.when(d <= F.lit("2024-01-07"), "a").otherwise("b").alias("period"),
    )
    counts = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("period") == "a", 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("period") == "b", 1).otherwise(0)).alias("n_b"),
    )
    tot = counts.agg(
        F.sum("n_a").alias("t_a"), F.sum("n_b").alias("t_b"),
        F.count(F.lit(1)).alias("k"),
    )
    p = counts.crossJoin(F.broadcast(tot)).select(
        "bin",
        ((F.col("n_a").cast("double") + 1.0) / (F.col("t_a") + F.col("k"))).alias("p_a"),
        ((F.col("n_b").cast("double") + 1.0) / (F.col("t_b") + F.col("k"))).alias("p_b"),
    )
    return p.select(
        "bin",
        hround("p_a", 8).alias("p_a"),
        hround("p_b", 8).alias("p_b"),
        hround((F.col("p_a") - F.col("p_b")) * F.log(F.col("p_a") / F.col("p_b")), 8).alias("psi_term"),
    ).orderBy("bin")


@query(
    "audit_benford_totalprice",
    oracle=f"""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS d
        FROM orders
        WHERE floor(o_totalprice * 100.0 + 0.5) > 0
    )
    SELECT d,
           COUNT(*) AS n,
           {dround('CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER ()', 6)} AS observed,
           {dround('log10(1.0 + 1.0 / d)', 6)} AS expected
    FROM digits
    GROUP BY d
    ORDER BY d
    """,
)
def audit_benford_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals: observed share of each
    leading digit vs the Benford expectation log10(1+1/d) — the
    fraud/synthetic-data smoke test for financial columns (a uniform
    price generator fails it loudly; real invoice data tracks it).

    The first digit is extracted via exact integer cents →
    string-of-integer, never log10-of-double (floor(log10(x)) flips at
    exact powers of ten depending on the engine's libm; integer
    rendering is identical everywhere). Zero amounts have no leading
    digit — they are excluded, as in standard Benford practice (a d=0
    bucket also divides by zero in the expectation log10(1+1/d); the
    orders edge sweep planted one). One groupBy on a ≤9-value key;
    the share window runs over ≤9 rows.
    """
    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
    digits = orders.filter(cents > 0).select(
        F.substring(cents.cast("string"), 1, 1).cast("int").alias("d")
    )
    counts = digits.groupBy("d").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy()
    return counts.select(
        "d", "n",
        hround(F.col("n").cast("double") / F.sum("n").over(w), 6).alias("observed"),
        hround(F.log10(1.0 + 1.0 / F.col("d")), 6).alias("expected"),
    ).orderBy("d")


@query(
    "abtest_priority_ztest",
    oracle=f"""
    WITH assigned AS (
        SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'a' ELSE 'b' END AS variant,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS converted
        FROM orders
    ), per AS (
        SELECT variant, COUNT(*) AS n, CAST(SUM(converted) AS BIGINT) AS x
        FROM assigned GROUP BY variant
    ), wide AS (
        SELECT MAX(n) FILTER (WHERE variant = 'a') AS n_a,
               MAX(x) FILTER (WHERE variant = 'a') AS x_a,
               MAX(n) FILTER (WHERE variant = 'b') AS n_b,
               MAX(x) FILTER (WHERE variant = 'b') AS x_b
        FROM per
    ), stats AS (
        SELECT n_a, x_a, n_b, x_b,
               CAST(x_a AS DOUBLE) / n_a AS p_a,
               CAST(x_b AS DOUBLE) / n_b AS p_b,
               CAST(x_a + x_b AS DOUBLE) / (n_a + n_b) AS p_pool
        FROM wide
    )
    SELECT n_a, x_a, n_b, x_b,
           {dround('p_a', 6)} AS p_a,
           {dround('p_b', 6)} AS p_b,
           {dround('(p_a - p_b) / sqrt(p_pool * (1.0 - p_pool) * (1.0 / n_a + 1.0 / n_b))', 4)} AS z_score,
           CASE WHEN abs({dround('(p_a - p_b) / sqrt(p_pool * (1.0 - p_pool) * (1.0 / n_a + 1.0 / n_b))', 4)}) > 1.96
                THEN 1 ELSE 0 END AS significant
    FROM stats
    """,
)
def abtest_priority_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample proportion z-test — the experimentation primitive on
    top of the drift (PSI) and conformance (Benford) audits. Variants
    are assigned deterministically by key parity (the hash-bucket
    assignment every real experiment framework uses), conversion is
    order fulfillment, and the pooled z-statistic is pure arithmetic
    over four counts.

    Scale shape: ONE partial+final aggregate over orders produces the
    2×2 table; everything after is constant-size arithmetic. The
    significance flag compares the ROUNDED z so an ulp at the 1.96
    boundary can't flip membership across engines (the curation-
    pipeline threshold rule).
    """
    orders = load_table(spark, sf_dir, "orders")
    per = (
        orders.select(
            F.when(F.col("o_orderkey") % 2 == 0, "a").otherwise("b").alias("variant"),
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("converted"),
        )
        .groupBy("variant")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("converted").alias("x"))
    )
    wide = per.agg(
        F.max(F.when(F.col("variant") == "a", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("variant") == "a", F.col("x"))).alias("x_a"),
        F.max(F.when(F.col("variant") == "b", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("variant") == "b", F.col("x"))).alias("x_b"),
    )
    p_a = F.col("x_a").cast("double") / F.col("n_a")
    p_b = F.col("x_b").cast("double") / F.col("n_b")
    p_pool = (F.col("x_a") + F.col("x_b")).cast("double") / (F.col("n_a") + F.col("n_b"))
    z = (p_a - p_b) / F.sqrt(
        p_pool * (1.0 - p_pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    zr = hround(z, 4)
    return wide.select(
        "n_a", "x_a", "n_b", "x_b",
        hround(p_a, 6).alias("p_a"),
        hround(p_b, 6).alias("p_b"),
        zr.alias("z_score"),
        F.when(F.abs(zr) > 1.96, 1).otherwise(0).alias("significant"),
    )


@query(
    "observe_filter_funnel_metrics",
    oracle="""
    SELECT COUNT(*) AS n_scanned,
           CAST(SUM(CASE WHEN o_totalprice > 1000.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_price_pass,
           CAST(SUM(CASE WHEN o_totalprice > 1000.0 AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    """,
)
def observe_filter_funnel_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability via the ``Observation`` API: per-stage
    funnel metrics (rows scanned, rows surviving each filter, key
    bounds) collected DURING the query's own action — zero extra scans.

    At 100 TB this is the difference between "profile the pipeline" as
    a free side effect and paying a second full pass per audit count
    (the `clean_null_profile` batched-aggregate trick solves a related
    problem; Observation attaches the audit to a query you were already
    running). Three observation points straddle the two filters; the
    final action drains the stream once and every metric materializes.
    The metrics are plain deterministic aggregates, so the oracle
    recomputes them in one SQL pass.
    """
    from pyspark.sql import Observation

    orders = load_table(spark, sf_dir, "orders")
    o_scan = Observation("scan")
    o_price = Observation("price")
    o_final = Observation("final")
    pipe = (
        orders.observe(o_scan, F.count(F.lit(1)).alias("n"),
                       F.min("o_orderkey").alias("min_key"),
                       F.max("o_orderkey").alias("max_key"))
        .filter(F.col("o_totalprice") > 1000.0)
        .observe(o_price, F.count(F.lit(1)).alias("n"))
        .filter(F.col("o_orderstatus") == "F")
        .observe(o_final, F.count(F.lit(1)).alias("n"))
    )
    pipe.write.format("noop").mode("overwrite").save()  # the one real action
    row = (
        o_scan.get["n"], o_price.get["n"], o_final.get["n"],
        o_scan.get["min_key"], o_scan.get["max_key"],
    )
    return spark.createDataFrame(
        [row],
        "n_scanned bigint, n_price_pass bigint, n_final bigint, "
        "min_key bigint, max_key bigint",
    )


@query(
    "abtest_chi_square_dow",
    oracle=f"""
    WITH counts AS (
        SELECT event_type, CAST(dayofweek(CAST(ts AS TIMESTAMP)) AS INTEGER) AS dow,
               CAST(COUNT(*) AS DOUBLE) AS o
        FROM events GROUP BY 1, 2
    ), margins AS (
        SELECT event_type, dow, o,
               SUM(o) OVER (PARTITION BY event_type) AS row_tot,
               SUM(o) OVER (PARTITION BY dow) AS col_tot,
               SUM(o) OVER () AS n
        FROM counts
    ), cells AS (
        SELECT o, row_tot * col_tot / n AS e, n FROM margins
    ), stat AS (
        SELECT SUM((o - e) * (o - e) / e) AS chi2,
               (SELECT CAST((COUNT(DISTINCT event_type) - 1)
                            * (COUNT(DISTINCT dayofweek(CAST(ts AS TIMESTAMP))) - 1) AS BIGINT)
                FROM events) AS dof,
               CAST(MAX(n) AS BIGINT) AS n_events
        FROM cells
    )
    SELECT {dround('chi2', 4)} AS chi2, dof, n_events,
           {dround('(POWER(chi2 / dof, 1.0/3.0) - (1.0 - 2.0/(9.0*dof))) / SQRT(2.0/(9.0*dof))', 4)} AS wh_z,
           CASE WHEN {dround('(POWER(chi2 / dof, 1.0/3.0) - (1.0 - 2.0/(9.0*dof))) / SQRT(2.0/(9.0*dof))', 4)} > 1.645
                THEN 1 ELSE 0 END AS significant
    FROM stat
    """,
)
def abtest_chi_square_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test: is event-type mix independent of
    day-of-week? The contingency table reduces events to |types|x7
    cells in one shuffle agg; margins are windows over that tiny
    grouped table, never over raw events. Significance comes from the
    Wilson-Hilferty cube-root normal approximation (closed form, so
    both engines compute it without a chi-square quantile table);
    the z is rounded BEFORE the 1.645 threshold so the flag can't
    straddle float noise (the ztest-entry convention).
    """
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy(
        "event_type", F.dayofweek("ts").cast("int").alias("dow")
    ).agg(F.count(F.lit(1)).cast("double").alias("o"))
    margins = counts.select(
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).alias("row_tot"),
        F.sum("o").over(Window.partitionBy("dow")).alias("col_tot"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    dims = counts.agg(
        ((F.count_distinct("event_type") - 1) * (F.count_distinct("dow") - 1)).alias("dof")
    )
    cells = margins.select(
        "o", (F.col("row_tot") * F.col("col_tot") / F.col("n")).alias("e"), "n"
    )
    stat = cells.agg(
        F.sum((F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")).alias("chi2"),
        F.max("n").cast("long").alias("n_events"),
    ).crossJoin(F.broadcast(dims))
    d = F.col("dof").cast("double")
    wh = (F.pow(F.col("chi2") / d, 1.0 / 3.0) - (1.0 - 2.0 / (9.0 * d))) / F.sqrt(
        2.0 / (9.0 * d)
    )
    return stat.select(
        hround("chi2", 4).alias("chi2"),
        F.col("dof"),
        F.col("n_events"),
        hround(wh, 4).alias("wh_z"),
        F.when(hround(wh, 4) > 1.645, F.lit(1)).otherwise(F.lit(0)).alias("significant"),
    )


@query(
    "abtest_welch_ttest",
    oracle=f"""
    WITH assigned AS (
        SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'a' ELSE 'b' END AS variant,
               o_totalprice AS metric
        FROM orders
    ), per AS (
        SELECT variant, COUNT(*) AS n, AVG(metric) AS m, VAR_SAMP(metric) AS v
        FROM assigned GROUP BY variant
    ), wide AS (
        SELECT MAX(n) FILTER (WHERE variant = 'a') AS n_a,
               MAX(m) FILTER (WHERE variant = 'a') AS m_a,
               MAX(v) FILTER (WHERE variant = 'a') AS v_a,
               MAX(n) FILTER (WHERE variant = 'b') AS n_b,
               MAX(m) FILTER (WHERE variant = 'b') AS m_b,
               MAX(v) FILTER (WHERE variant = 'b') AS v_b
        FROM per
    ), stats AS (
        SELECT n_a, n_b, m_a, m_b,
               (m_a - m_b) / SQRT(v_a / n_a + v_b / n_b) AS t,
               POWER(v_a / n_a + v_b / n_b, 2.0)
                 / (POWER(v_a / n_a, 2.0) / (n_a - 1)
                    + POWER(v_b / n_b, 2.0) / (n_b - 1)) AS df
        FROM wide
    )
    SELECT n_a, n_b,
           {dround('m_a', 4)} AS mean_a,
           {dround('m_b', 4)} AS mean_b,
           {dround('t', 4)} AS t_stat,
           {dround('df', 2)} AS welch_df,
           CASE WHEN abs({dround('t', 4)}) > 1.96 THEN 1 ELSE 0 END AS significant
    FROM stats
    """,
)
def abtest_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test on order value between two
    hash-assigned variants — the continuous-metric companion to the
    proportion z-test. Welch-Satterthwaite degrees of freedom come out
    in closed form, so no lookup table is needed; with df in the
    thousands the normal 1.96 critical value is exact to 3 decimals.
    One pass: a 2-group aggregate (count/avg/var_samp all shuffle
    map-side partials), pivoted wide with conditional MAX, pure
    expression math after. |t| is compared AFTER rounding so the
    significance flag is hash-stable (ztest convention).
    """
    orders = load_table(spark, sf_dir, "orders")
    assigned = orders.select(
        F.when(F.col("o_orderkey") % 2 == 0, "a").otherwise("b").alias("variant"),
        F.col("o_totalprice").alias("metric"),
    )
    per = assigned.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("metric").alias("m"),
        F.var_samp("metric").alias("v"),
    )
    wide = per.agg(
        F.max(F.when(F.col("variant") == "a", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("variant") == "a", F.col("m"))).alias("m_a"),
        F.max(F.when(F.col("variant") == "a", F.col("v"))).alias("v_a"),
        F.max(F.when(F.col("variant") == "b", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("variant") == "b", F.col("m"))).alias("m_b"),
        F.max(F.when(F.col("variant") == "b", F.col("v"))).alias("v_b"),
    )
    se2 = F.col("v_a") / F.col("n_a") + F.col("v_b") / F.col("n_b")
    t = (F.col("m_a") - F.col("m_b")) / F.sqrt(se2)
    df = F.pow(se2, 2.0) / (
        F.pow(F.col("v_a") / F.col("n_a"), 2.0) / (F.col("n_a") - 1)
        + F.pow(F.col("v_b") / F.col("n_b"), 2.0) / (F.col("n_b") - 1)
    )
    return wide.select(
        "n_a",
        "n_b",
        hround("m_a", 4).alias("mean_a"),
        hround("m_b", 4).alias("mean_b"),
        hround(t, 4).alias("t_stat"),
        hround(df, 2).alias("welch_df"),
        F.when(F.abs(hround(t, 4)) > 1.96, F.lit(1)).otherwise(F.lit(0)).alias("significant"),
    )


@query(
    "abtest_mannwhitney_u",
    oracle=f"""
    WITH s AS (
        SELECT o_totalprice AS v,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g1
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ), pv AS (
        SELECT v, COUNT(*) AS c, CAST(SUM(g1) AS BIGINT) AS c1 FROM s GROUP BY v
    ), r AS (
        SELECT v, c, c1,
               COALESCE(SUM(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c_excl
        FROM pv
    ), agg AS (
        SELECT CAST(SUM(c1) AS DOUBLE) AS n1,
               CAST(SUM(c - c1) AS DOUBLE) AS n2,
               SUM(c1 * (c_excl + (c + 1) / 2.0)) AS r1,
               CAST(SUM(c*c*c - c) AS DOUBLE) AS ties
        FROM r
    )
    SELECT CAST(n1 AS BIGINT) AS n1,
           CAST(n2 AS BIGINT) AS n2,
           {dround('r1 - n1 * (n1 + 1.0) / 2.0', 1)} AS u1,
           {dround('(r1 - n1 * (n1 + 1.0) / 2.0 - n1 * n2 / 2.0)'
                   ' / sqrt(n1 * n2 / 12.0 * ((n1 + n2 + 1.0)'
                   ' - ties / ((n1 + n2) * (n1 + n2 - 1.0))))', 6)} AS z,
           abs({dround('(r1 - n1 * (n1 + 1.0) / 2.0 - n1 * n2 / 2.0)'
                   ' / sqrt(n1 * n2 / 12.0 * ((n1 + n2 + 1.0)'
                   ' - ties / ((n1 + n2) * (n1 + n2 - 1.0))))', 6)}) > 1.96 AS significant
    FROM agg
    """,
)
def abtest_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) — the nonparametric two-sample
    test the ab-test ladder was missing (z/t/chi-square assume a
    distribution; MWU only needs ranks): does order value for
    '1-URGENT' stochastically dominate '5-LOW'? Average ranks with tie
    correction, normal approximation (no continuity correction —
    documented, matched by the oracle formula).

    Scale shape: ranks are NEVER materialized per row — the test runs on
    the distinct-value table (one groupBy), whose cumulative-below
    counts come from :func:`exclusive_prefix_sums` (range partition +
    per-partition windows + O(#partitions) driver fold). No global
    window, no single-partition sort at any size. U1 is a multiple of
    0.5, so the 1-decimal hround is exact against float summation noise.
    """
    from ..operators.packing import exclusive_prefix_sums

    orders = load_table(spark, sf_dir, "orders")
    s = orders.filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        F.col("o_totalprice").alias("v"),
        (F.col("o_orderpriority") == "1-URGENT").cast("long").alias("g1"),
    )
    pv = s.groupBy("v").agg(F.count(F.lit(1)).alias("c"), F.sum("g1").alias("c1"))
    pref = exclusive_prefix_sums(pv, "v", ["c"])
    agg = pref.agg(
        F.sum("c1").cast("double").alias("n1"),
        F.sum(F.col("c") - F.col("c1")).cast("double").alias("n2"),
        F.sum(
            F.col("c1") * (F.col("c_excl") + (F.col("c") + 1) / F.lit(2.0))
        ).alias("r1"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("double")
        .alias("ties"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    nn = n1 + n2
    u1 = F.col("r1") - n1 * (n1 + F.lit(1.0)) / F.lit(2.0)
    z = (u1 - n1 * n2 / F.lit(2.0)) / F.sqrt(
        n1 * n2 / F.lit(12.0) * ((nn + F.lit(1.0)) - F.col("ties") / (nn * (nn - F.lit(1.0))))
    )
    return agg.select(
        n1.cast("long").alias("n1"),
        n2.cast("long").alias("n2"),
        hround(u1, 1).alias("u1"),
        hround(z, 6).alias("z"),
        (F.abs(hround(z, 6)) > F.lit(1.96)).alias("significant"),
    )


@query(
    "abtest_ks_distribution",
    oracle=f"""
    WITH s AS (
        SELECT value AS v,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is1
        FROM events
        WHERE event_type IN ('click', 'view')
    ), pv AS (
        SELECT v,
               CAST(SUM(is1) AS BIGINT) AS c1,
               CAST(SUM(1 - is1) AS BIGINT) AS c2
        FROM s GROUP BY v
    ), r AS (
        SELECT v, c1, c2,
               SUM(c1) OVER (ORDER BY v) AS cum1,
               SUM(c2) OVER (ORDER BY v) AS cum2
        FROM pv
    ), tot AS (
        SELECT CAST(SUM(c1) AS DOUBLE) AS n1, CAST(SUM(c2) AS DOUBLE) AS n2 FROM pv
    ), d AS (
        SELECT MAX(ABS(cum1 / n1 - cum2 / n2)) AS ks_d FROM r, tot
    )
    SELECT CAST(n1 AS BIGINT) AS n1,
           CAST(n2 AS BIGINT) AS n2,
           {dround('ks_d', 6)} AS ks_d,
           {dround('ks_d * sqrt(n1 * n2 / (n1 + n2))', 4)} AS ks_stat,
           {dround('ks_d * sqrt(n1 * n2 / (n1 + n2))', 4)} > 1.358 AS significant
    FROM d, tot
    """,
)
def abtest_ks_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov — distribution-shape drift between
    click and view event values: D = max |F̂₁ − F̂₂| over the pooled
    support, scaled to the large-sample statistic (critical value 1.358
    at α=0.05). The test the drift ladder (PSI buckets a fixed grid)
    can't replace: KS is grid-free and sensitive anywhere in the CDF.

    Scale shape mirrors :func:`abtest_mannwhitney_u`: both empirical
    CDFs come from ONE multi-column :func:`exclusive_prefix_sums` pass
    over the distinct-value table — no per-row ranks, no global window;
    the max-gap reduction is a plain aggregate.
    """
    from ..operators.packing import exclusive_prefix_sums

    ev = load_table(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type").isin("click", "view")).select(
        F.col("value").alias("v"),
        (F.col("event_type") == "click").cast("long").alias("is1"),
    )
    pv = s.groupBy("v").agg(
        F.sum("is1").alias("c1"),
        F.sum(F.lit(1) - F.col("is1")).alias("c2"),
    )
    pref = exclusive_prefix_sums(pv, "v", ["c1", "c2"])
    tot = pv.agg(
        F.sum("c1").cast("double").alias("n1"), F.sum("c2").cast("double").alias("n2")
    )
    d = (
        pref.crossJoin(F.broadcast(tot))
        .select(
            "n1",
            "n2",
            F.abs(
                (F.col("c1_excl") + F.col("c1")) / F.col("n1")
                - (F.col("c2_excl") + F.col("c2")) / F.col("n2")
            ).alias("gap"),
        )
        .agg(F.first("n1").alias("n1"), F.first("n2").alias("n2"), F.max("gap").alias("ks_d"))
    )
    stat = F.col("ks_d") * F.sqrt(F.col("n1") * F.col("n2") / (F.col("n1") + F.col("n2")))
    return d.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        hround(F.col("ks_d"), 6).alias("ks_d"),
        hround(stat, 4).alias("ks_stat"),
        (hround(stat, 4) > F.lit(1.358)).alias("significant"),
    )


@query(
    "privacy_k_anonymity",
    oracle="""
    WITH g AS (
        SELECT lang, source, CAST(n_chars // 100 AS BIGINT) AS size_bucket,
               COUNT(*) AS k
        FROM documents
        GROUP BY 1, 2, 3
    )
    SELECT k,
           COUNT(*) AS n_groups,
           CAST(SUM(k) AS BIGINT) AS n_docs,
           k < 5 AS at_risk
    FROM g
    GROUP BY k
    ORDER BY k
    """,
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-anonymity audit over the quasi-identifier (lang, source,
    n_chars//100): the size distribution of QI equivalence classes, each
    flagged when it leaves its members re-identifiable (k < 5 — the
    conventional release threshold). The governance sibling of
    `redact_pii_props` (content) and `maintain_cascade_delete`
    (erasure): this one measures LINKAGE risk, which redaction alone
    doesn't remove.

    One partial-aggregatable groupBy on the QI tuple, then a trivial
    histogram — the same two-phase shape at any corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy(
        "lang", "source", (F.col("n_chars") / 100).cast("long").alias("size_bucket")
    ).agg(F.count(F.lit(1)).alias("k"))
    return (
        g.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_groups"), F.sum("k").alias("n_docs"))
        .select("k", "n_groups", "n_docs", (F.col("k") < 5).alias("at_risk"))
        .orderBy("k")
    )


# Laplace scale b = sensitivity/epsilon = 1/0.1. The uniform draw is the
# registry's salted-md5 trick keyed on the group VALUE ('n' salt), so both
# engines derive the identical noise; the 1e-7 floor keeps ln() finite on
# the (probability 2^-24) all-zero hash prefix.
_DP_B = 10.0


@query(
    "privacy_dp_noisy_counts",
    oracle=f"""
    WITH c AS (
        SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS true_n
        FROM events GROUP BY event_type
    ), u AS (
        SELECT event_type, true_n,
               CAST(CAST(('0x' || substr(md5('n' || event_type), 1, 6)) AS BIGINT) AS DOUBLE)
                   / 16777216.0 - 0.5 AS uu
        FROM c
    )
    SELECT event_type,
           CAST(true_n AS BIGINT) AS true_count,
           floor((true_n - {_DP_B} * sign(uu) * ln(greatest(1.0 - 2.0 * abs(uu), 0.0000001)) * -1.0) * 10000.0 + 0.5) / 10000.0 AS noisy_count,
           CAST(0.1 AS DOUBLE) AS epsilon
    FROM u
    ORDER BY event_type
    """,
)
def privacy_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private release counts — the ε=0.1 Laplace
    mechanism with DETERMINISTIC noise: the uniform draw comes from a
    salted md5 of the group value (the registry's seeded-randomness
    idiom), inverse-CDF-transformed to Laplace(b=10). Same bits → same
    noise on both engines, so a normally-unverifiable randomized
    mechanism becomes hash-checkable; swap the salt for a secret nonce
    and the release is genuinely DP with the same plan.

    Noise is injected AFTER the aggregate (count sensitivity 1), so the
    scan/shuffle shape is identical to the plain count — DP costs one
    projection. ln() is libm-grade on both engines; the 4-decimal
    rounding absorbs the ≤1-ulp divergence (bounded ~1e-8 given the
    24-bit draw's 1e-7 floor).
    """
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("event_type").agg(F.count(F.lit(1)).cast("double").alias("true_n"))
    uu = (
        F.conv(F.substring(F.md5(F.concat(F.lit("n"), F.col("event_type"))), 1, 6), 16, 10)
        .cast("double")
        / F.lit(16777216.0)
        - F.lit(0.5)
    )
    # +b·sgn(u)·ln(1−2|u|) is the inverse-CDF Laplace draw (the usual
    # −b·sgn(u) form mirrored — u is symmetric, so both are Laplace(b)).
    noise = (
        F.lit(_DP_B)
        * F.signum(uu)
        * F.log(F.greatest(F.lit(1.0) - F.lit(2.0) * F.abs(uu), F.lit(1e-7)))
    )
    return c.select(
        "event_type",
        F.col("true_n").cast("long").alias("true_count"),
        hround(F.col("true_n") + noise, 4).alias("noisy_count"),
        F.lit(0.1).alias("epsilon"),
    ).orderBy("event_type")


@query(
    "abtest_power_analysis",
    oracle=f"""
    WITH s AS (
        SELECT var_pop(value) AS sigma2, AVG(value) AS mu
        FROM events WHERE event_type = 'purchase'
    )
    SELECT {dround('mu', 4)} AS baseline_mean,
           {dround('sigma2', 4)} AS variance,
           CAST(ceil(2.0 * power(CAST(1.959964 AS DOUBLE) + CAST(0.841621 AS DOUBLE), 2)
                * sigma2 / power(CAST(0.05 AS DOUBLE) * mu, 2)) AS BIGINT) AS n_per_arm_5pct,
           CAST(ceil(2.0 * power(CAST(1.959964 AS DOUBLE) + CAST(0.841621 AS DOUBLE), 2)
                * sigma2 / power(CAST(0.10 AS DOUBLE) * mu, 2)) AS BIGINT) AS n_per_arm_10pct
    FROM s
    """,
)
def abtest_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment sample-size planner — the question asked BEFORE any
    z/t/MWU test runs: with the observed purchase-value variance, how
    many users per arm detect a 5% (resp. 10%) lift in the mean at
    α=0.05, power 0.8? Closed form n = 2(z_{{α/2}}+z_β)²σ²/δ² with the
    z constants inlined as shared literals (1.959964, 0.841621) so both
    engines compute the identical expression — no erf/quantile function
    crossing engines.

    One aggregate over the metric stream; the planner itself is a 1-row
    projection. Completes the experimentation ladder: plan
    (power analysis) → run (z/t/chi²/MWU/KS) → read out (significance).
    """
    ev = load_table(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type") == "purchase").agg(
        F.var_pop("value").alias("sigma2"), F.avg("value").alias("mu")
    )
    z = F.lit(1.959964) + F.lit(0.841621)
    def n_for(frac: float):
        return F.ceil(
            F.lit(2.0) * F.pow(z, 2) * F.col("sigma2")
            / F.pow(F.lit(frac) * F.col("mu"), 2)
        ).cast("long")
    return s.select(
        hround(F.col("mu"), 4).alias("baseline_mean"),
        hround(F.col("sigma2"), 4).alias("variance"),
        n_for(0.05).alias("n_per_arm_5pct"),
        n_for(0.10).alias("n_per_arm_10pct"),
    )


@query(
    "privacy_t_closeness",
    oracle=f"""
    WITH d AS (
        SELECT lang, source, CAST(n_chars // 100 AS BIGINT) AS sb FROM documents
    ), cells AS (
        SELECT lang, source, sb, COUNT(*) AS c FROM d GROUP BY 1, 2, 3
    ), groups AS (
        SELECT lang, source, SUM(c) AS n_g FROM cells GROUP BY 1, 2
    ), buckets AS (
        SELECT sb, SUM(c) AS n_b FROM cells GROUP BY 1
    ), tot AS (
        SELECT SUM(c) AS n, COUNT(DISTINCT sb) AS m FROM cells
    ), spine AS (
        SELECT g.lang, g.source, g.n_g, b.sb, b.n_b, tot.n, tot.m,
               COALESCE(cells.c, 0) AS c
        FROM groups g CROSS JOIN buckets b CROSS JOIN tot
        LEFT JOIN cells ON cells.lang = g.lang AND cells.source = g.source
                       AND cells.sb = b.sb
    ), cum AS (
        SELECT lang, source, n_g, m,
               SUM(CAST(c AS DOUBLE) / n_g - CAST(n_b AS DOUBLE) / n) OVER (
                   PARTITION BY lang, source ORDER BY sb
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cd
        FROM spine
    )
    SELECT lang, source, CAST(MIN(n_g) AS BIGINT) AS n_docs,
           {dround('SUM(abs(cd)) / GREATEST(MIN(m) - 1, 1)', 6)} AS emd,
           {dround('SUM(abs(cd)) / GREATEST(MIN(m) - 1, 1)', 6)} > 0.2 AS t_violation
    FROM cum
    GROUP BY lang, source
    ORDER BY lang, source
    """,
)
def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (t = 0.2) over QI groups (lang, source) with the
    ordered sensitive attribute n_chars//100: per group, the Earth
    Mover's Distance between its size-bucket distribution and the
    global one — EMD for an ordered attribute is the mean |cumulative
    difference| (Li et al.'s ordered-distance form). Completes the
    privacy ladder: k-anonymity bounds group SIZE, l-diversity bounds
    sensitive-value VARIETY, t-closeness bounds distributional SKEW —
    a group can pass both k and l while still leaking via skew, which
    is exactly what this measures.

    Shape: one (QI, bucket) aggregate, then a dense group×bucket spine
    (|QI groups| × |buckets| — both domain-bounded, 100×~50 here) with
    cumulative-difference windows PARTITIONED per group, each window
    O(buckets) regardless of corpus size. The global bucket histogram
    is a broadcast-sized cross join.
    """
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy(
        "lang", "source", (F.col("n_chars") / 100).cast("long").alias("sb")
    ).agg(F.count(F.lit(1)).alias("c"))
    groups = cells.groupBy("lang", "source").agg(F.sum("c").alias("n_g"))
    buckets = cells.groupBy("sb").agg(F.sum("c").alias("n_b"))
    tot = cells.agg(
        F.sum("c").alias("n"), F.countDistinct("sb").alias("m")
    )
    spine = (
        groups.crossJoin(F.broadcast(buckets))
        .crossJoin(F.broadcast(tot))
        .join(cells, ["lang", "source", "sb"], "left")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0)))
    )
    w = (
        Window.partitionBy("lang", "source")
        .orderBy("sb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = spine.withColumn(
        "cd",
        F.sum(
            F.col("c").cast("double") / F.col("n_g")
            - F.col("n_b").cast("double") / F.col("n")
        ).over(w),
    )
    # GREATEST guard: a single-bucket domain (m=1) makes every per-group
    # distribution identical to the global one — cum diffs are all 0, so
    # EMD is 0 under any denominator; without the guard (m-1)=0 is an
    # ANSI divide-by-zero (the degenerate-input sweep's fault class).
    emd = F.sum(F.abs(F.col("cd"))) / F.greatest(F.min("m") - 1, F.lit(1))
    return (
        cum.groupBy("lang", "source")
        .agg(
            F.min("n_g").cast("long").alias("n_docs"),
            hround(emd, 6).alias("emd"),
            (hround(emd, 6) > F.lit(0.2)).alias("t_violation"),
        )
        .orderBy("lang", "source")
    )


_FD_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


def _fd_oracle() -> str:
    ctes = []
    selects = []
    for lhs in _FD_COLS:
        others = [c for c in _FD_COLS if c != lhs]
        cds = ", ".join(
            f"COUNT(DISTINCT {rhs}) AS cd_{rhs}" for rhs in others
        )
        ctes.append(
            f"g_{lhs} AS MATERIALIZED (SELECT {cds} FROM orders GROUP BY {lhs})"
        )
        for rhs in others:
            selects.append(
                f"SELECT '{lhs}' AS lhs, '{rhs}' AS rhs,"
                f" CAST(COUNT(*) AS BIGINT) AS n_groups,"
                f" CAST(SUM(CASE WHEN cd_{rhs} > 1 THEN 1 ELSE 0 END) AS BIGINT)"
                f" AS n_violations,"
                f" SUM(CASE WHEN cd_{rhs} > 1 THEN 1 ELSE 0 END) = 0 AS fd_holds"
                f" FROM g_{lhs}"
            )
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY lhs, rhs"
    )


@query("audit_functional_dependencies", oracle=_fd_oracle())
def audit_functional_dependencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery over `orders`: for every ordered
    column pair (A, B), does A -> B hold (every A-group has exactly one
    B value)? Reports group/violation counts for all 30 pairs — the
    schema-mining layer of data-quality tooling (key detection, derived
    columns, denormalization audits), complementing
    `audit_referential_integrity` (cross-table FKs) and
    `validate_constraints` (declared single-column rules).

    Shape: ONE grouped aggregate per LHS column — 6 scans, each
    computing all 5 distinct-counts for that grouping together
    (partial/distinct aggregation, map-side combinable) — then a tiny
    rollup of each group table to (n_groups, n_violations). Never the
    naive 30 per-pair scans, and never a row-level unpivot self-join
    (that would shuffle |rows|x|cols|^2). At 100 TB the same plan runs
    with approx_count_distinct per group (HLL, one-sided error on the
    HOLDS verdict) — the exact form here keeps the entry
    hash-checkable; `sketch_*` entries cover the sketch substitution.
    """
    orders = load_table(spark, sf_dir, "orders")
    frames: list[DataFrame] = []
    for lhs in _FD_COLS:
        others = [c for c in _FD_COLS if c != lhs]
        grouped = orders.groupBy(lhs).agg(
            *[F.count_distinct(F.col(rhs)).alias(f"cd_{rhs}") for rhs in others]
        )
        rollup = grouped.agg(
            F.count(F.lit(1)).alias("n_groups"),
            *[
                F.sum(F.when(F.col(f"cd_{rhs}") > 1, 1).otherwise(0)).alias(
                    f"viol_{rhs}"
                )
                for rhs in others
            ],
        )
        for rhs in others:
            frames.append(
                rollup.select(
                    F.lit(lhs).alias("lhs"),
                    F.lit(rhs).alias("rhs"),
                    F.col("n_groups"),
                    F.col(f"viol_{rhs}").alias("n_violations"),
                    (F.col(f"viol_{rhs}") == 0).alias("fd_holds"),
                )
            )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out.orderBy("lhs", "rhs")


_CRAMER_PAIRS = [
    ("o_orderstatus", "o_orderpriority"),
    ("o_orderstatus", "order_dow"),
    ("o_orderpriority", "order_dow"),
]


def _cramers_oracle() -> str:
    blocks = []
    for ca, cb in _CRAMER_PAIRS:
        blocks.append(f"""
    SELECT '{ca}' AS col_a, '{cb}' AS col_b, n, r_levels, c_levels,
           {dround('chi2', 4)} AS chi2,
           {dround('sqrt(chi2 / (n * GREATEST(LEAST(r_levels, c_levels) - 1, 1)))', 6)}
             AS cramers_v
    FROM (
        SELECT SUM((o - e) * (o - e) / e) AS chi2,
               MAX(n) AS n, MAX(r_levels) AS r_levels, MAX(c_levels) AS c_levels
        FROM (
            SELECT COALESCE(c.o, 0.0) AS o,
                   rm.ra * cm.cb / tot.n AS e,
                   tot.n,
                   tot.r_levels, tot.c_levels
            FROM (
                SELECT a, CAST(SUM(o) AS DOUBLE) AS ra FROM grid_{ca}_{cb} GROUP BY a
            ) rm
            CROSS JOIN (
                SELECT b, CAST(SUM(o) AS DOUBLE) AS cb FROM grid_{ca}_{cb} GROUP BY b
            ) cm
            CROSS JOIN (
                SELECT CAST(SUM(o) AS DOUBLE) AS n,
                       CAST(COUNT(DISTINCT a) AS BIGINT) AS r_levels,
                       CAST(COUNT(DISTINCT b) AS BIGINT) AS c_levels
                FROM grid_{ca}_{cb}
            ) tot
            LEFT JOIN grid_{ca}_{cb} c ON c.a = rm.a AND c.b = cm.b
        )
    )""")
    grids = ",\n".join(
        f"""grid_{ca}_{cb} AS MATERIALIZED (
        SELECT CAST({'CAST(dayofweek(CAST(o_orderdate AS TIMESTAMP)) AS INTEGER)' if ca == 'order_dow' else ca} AS VARCHAR) AS a,
               CAST({'CAST(dayofweek(CAST(o_orderdate AS TIMESTAMP)) AS INTEGER)' if cb == 'order_dow' else cb} AS VARCHAR) AS b,
               CAST(COUNT(*) AS DOUBLE) AS o
        FROM orders GROUP BY 1, 2
    )"""
        for ca, cb in _CRAMER_PAIRS
    )
    return "WITH " + grids + "\n" + "\nUNION ALL\n".join(blocks) + "\nORDER BY col_a, col_b"


@query("stats_cramers_v_pairs", oracle=_cramers_oracle())
def stats_cramers_v_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association matrix over the categorical columns of
    `orders` (status, priority, order day-of-week): the normalized-
    chi-square effect size in [0,1] — the categorical complement of
    `stats_correlation_matrix` (numeric Pearson) and the effect-SIZE
    companion of `abtest_chi_square_dow` (which tests significance of
    one pair; V says how strong the dependence is, comparable across
    tables of different shape).

    One |A|x|B| contingency aggregate per pair (single shuffle each,
    map-combinable), then margins / expected counts over the tiny
    grouped grid — chi-square is summed over the FULL r x c grid
    (margin cross join, zero-observed cells contribute their expected
    mass), not just observed cells, which matters exactly when an
    association is strong enough to empty a cell. GREATEST(min(r,c)-1,
    1) guards the 1-level degenerate domain (V:=0 there, chi2 is 0
    anyway — the t-closeness lesson from r8's tiny-table sweep).
    """
    orders = load_table(spark, sf_dir, "orders")
    dow = F.dayofweek("o_orderdate").cast("int")
    col_of = {
        "o_orderstatus": F.col("o_orderstatus"),
        "o_orderpriority": F.col("o_orderpriority"),
        "order_dow": dow,
    }
    frames: list[DataFrame] = []
    for ca, cb in _CRAMER_PAIRS:
        grid = orders.groupBy(
            col_of[ca].cast("string").alias("a"), col_of[cb].cast("string").alias("b")
        ).agg(F.count(F.lit(1)).cast("double").alias("o"))
        rm = grid.groupBy("a").agg(F.sum("o").alias("ra"))
        cm = grid.groupBy("b").agg(F.sum("o").alias("cb"))
        tot = grid.agg(
            F.sum("o").alias("n"),
            F.count_distinct("a").alias("r_levels"),
            F.count_distinct("b").alias("c_levels"),
        )
        cells = (
            rm.crossJoin(cm)
            .crossJoin(F.broadcast(tot))
            .join(grid, ["a", "b"], "left")
            .select(
                F.coalesce("o", F.lit(0.0)).alias("o"),
                (F.col("ra") * F.col("cb") / F.col("n")).alias("e"),
                "n",
                "r_levels",
                "c_levels",
            )
        )
        stat = cells.agg(
            F.sum((F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")).alias("chi2"),
            F.max("n").alias("n"),
            F.max("r_levels").alias("r_levels"),
            F.max("c_levels").alias("c_levels"),
        )
        frames.append(
            stat.select(
                F.lit(ca).alias("col_a"),
                F.lit(cb).alias("col_b"),
                "n",
                "r_levels",
                "c_levels",
                hround("chi2", 4).alias("chi2"),
                hround(
                    F.sqrt(
                        F.col("chi2")
                        / (
                            F.col("n")
                            * F.greatest(
                                F.least("r_levels", "c_levels") - 1, F.lit(1)
                            )
                        )
                    ),
                    6,
                ).alias("cramers_v"),
            )
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out.orderBy("col_a", "col_b")


HUBER_K = "1.345"   # 95%-efficiency Huber constant, shared literal
HUBER_ROUNDS = 2
_MADN = "1.4826"    # normal-consistency factor for the MAD scale


def _huber_oracle() -> str:
    r9 = lambda e: dround(e, 9)  # noqa: E731
    sql = f"""
    WITH x AS MATERIALIZED (
        SELECT l_extendedprice AS v FROM lineitem
    ), m0 AS MATERIALIZED (
        SELECT {r9('quantile_cont(v, CAST(0.5 AS DOUBLE))')} AS m FROM x
    ), s0 AS MATERIALIZED (
        SELECT {r9(f'{_MADN} * quantile_cont(abs(v - m), CAST(0.5 AS DOUBLE))')} AS s
        FROM x, m0
    )"""
    in_core = f"abs(v - m) <= {HUBER_K} * s OR s = 0"
    wnum = (
        f"SUM(CASE WHEN {in_core} THEN v"
        f" ELSE v * {HUBER_K} * s / abs(v - m) END)"
    )
    wden = (
        f"SUM(CASE WHEN {in_core} THEN 1.0"
        f" ELSE {HUBER_K} * s / abs(v - m) END)"
    )
    for r in range(1, HUBER_ROUNDS + 1):
        p = f"m{r - 1}"
        sql += f""", m{r} AS MATERIALIZED (
        SELECT {r9(wnum + ' / ' + wden)} AS m,
               {dround(wden, 4)} AS sum_w
        FROM x, {p}, s0
    )"""
    selects = [
        f"SELECT {r} AS irls_round, {dround('m', 6)} AS huber_mean, sum_w,"
        f" (SELECT {dround('m', 6)} FROM m0) AS start_median,"
        f" (SELECT {dround('AVG(v)', 6)} FROM x) AS plain_mean,"
        f" (SELECT {dround('s', 6)} FROM s0) AS mad_scale"
        f" FROM m{r}"
        for r in range(1, HUBER_ROUNDS + 1)
    ]
    return sql + "\n" + "\nUNION ALL\n".join(selects) + "\nORDER BY irls_round"


@query("stats_huber_mean_irls", oracle=_huber_oracle())
def stats_huber_mean_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Huber M-estimator of location for lineitem extended price, 2
    unrolled IRLS rounds — the ROBUST mean, completing the robust-stats
    ladder (clean_outlier_mad detects, transform_winsorize clips; the
    M-estimator instead downweights smoothly: w = min(1, k·s/|x − m|),
    k = 1.345 for 95% Gaussian efficiency, scale s = normalized MAD).

    Start at the exact median, scale = 1.4826·MAD (one interpolated-
    percentile aggregate each — the F.percentile ≡ quantile_cont parity
    trick), then each IRLS round is ONE full-scan aggregate computing
    the weighted numerator and denominator together against the 1-row
    broadcast state — the ml_gd_linreg_rounds shape; at 100 TB the
    estimate is a pair of map-combinable sums per round. s = 0
    (zero-MAD degenerate column, the tiny-table class) forces all
    weights to 1, collapsing to the plain mean instead of dividing by
    zero. Updates 1e-9 lockstep-rounded; trajectory hash-checkable.
    """
    li = load_table(spark, sf_dir, "lineitem")
    x = checkpoint(li.select(F.col("l_extendedprice").alias("v")))
    m0 = x.agg(hround(F.percentile("v", F.lit(0.5)), 9).alias("m"))
    s0 = (
        x.crossJoin(F.broadcast(m0))
        .agg(
            hround(
                F.lit(float(_MADN))
                * F.percentile(F.abs(F.col("v") - F.col("m")), F.lit(0.5)),
                9,
            ).alias("s")
        )
    )
    plain = x.agg(hround(F.avg("v"), 6).alias("plain_mean"))
    k = F.lit(float(HUBER_K))
    state = m0
    out_rows: list[DataFrame] = []
    for r in range(1, HUBER_ROUNDS + 1):
        dev = F.abs(F.col("v") - F.col("m"))
        in_core = (dev <= k * F.col("s")) | (F.col("s") == 0)
        w = F.when(in_core, F.lit(1.0)).otherwise(k * F.col("s") / dev)
        upd = (
            x.crossJoin(F.broadcast(state))
            .crossJoin(F.broadcast(s0))
            .agg(
                hround(F.sum(w * F.col("v")) / F.sum(w), 9).alias("m"),
                hround(F.sum(w), 4).alias("sum_w"),
            )
        )
        state = upd.select("m")
        out_rows.append(
            upd.select(
                F.lit(r).alias("irls_round"),
                hround("m", 6).alias("huber_mean"),
                "sum_w",
            )
            .crossJoin(F.broadcast(m0.select(hround("m", 6).alias("start_median"))))
            .crossJoin(F.broadcast(plain))
            .crossJoin(F.broadcast(s0.select(hround("s", 6).alias("mad_scale"))))
            .select(
                "irls_round", "huber_mean", "sum_w", "start_median",
                "plain_mean", "mad_scale",
            )
        )
    out = out_rows[0]
    for o in out_rows[1:]:
        out = out.unionByName(o)
    return out.orderBy("irls_round")


RR_P = 0.75  # probability of answering truthfully


@query(
    "privacy_randomized_response",
    oracle=f"""
    WITH flips AS (
        SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS b,
               CAST(CAST(('0x' || substr(md5('rr' || CAST(event_id AS VARCHAR)), 1, 6))
                    AS BIGINT) AS DOUBLE) / 16777216.0 AS u_honest,
               CASE WHEN CAST(('0x' || substr(md5('rb' || CAST(event_id AS VARCHAR)), 1, 6))
                    AS BIGINT) % 2 = 0 THEN 0 ELSE 1 END AS coin
        FROM events
    ), reported AS (
        SELECT b, CASE WHEN u_honest < {RR_P} THEN b ELSE coin END AS rep
        FROM flips
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(b) AS DOUBLE) / COUNT(*) AS true_rate,
               CAST(SUM(rep) AS DOUBLE) / COUNT(*) AS reported_rate
        FROM reported
    )
    SELECT n,
           {dround('true_rate', 6)} AS true_rate,
           {dround('reported_rate', 6)} AS reported_rate,
           {dround(f'(reported_rate - (1.0 - {RR_P}) / 2.0) / {RR_P}', 6)} AS estimated_rate,
           {dround(f'abs((reported_rate - (1.0 - {RR_P}) / 2.0) / {RR_P} - true_rate)', 6)}
             AS abs_err,
           {dround(f'ln(({RR_P} + (1.0 - {RR_P}) / 2.0) / ((1.0 - {RR_P}) / 2.0))', 4)}
             AS epsilon
    FROM agg
    """,
)
def privacy_randomized_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warner randomized response over the 'did this event convert'
    bit: each row reports the truth with probability p = 0.75 and a
    fair coin otherwise, and the aggregate debiases the reported rate
    back to an unbiased estimate: (rep − (1−p)/2) / p — LOCAL
    differential privacy with per-record plausible deniability
    (ε = ln((p + (1−p)/2) / ((1−p)/2)) ≈ ln 7), complementing
    `privacy_dp_noisy_counts` (central DP: noise added to the
    aggregate, not the record).

    Both 'random' draws are salted md5 hashes of event_id (salts 'rr'
    and 'rb' — independent of every other registry salt), so the
    mechanism is deterministic and hash-checkable while behaving
    statistically like the real coin flips; the estimate is exact
    closed-form arithmetic on two integer counts. One scan, one
    aggregate — the mechanism is embarrassingly parallel at any scale
    (that is the point of LOCAL DP: the per-record transform commutes
    with partitioning).
    """
    events = load_table(spark, sf_dir, "events")
    u_honest = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("rr"), F.col("event_id").cast("string"))), 1, 6),
            16,
            10,
        ).cast("bigint").cast("double")
        / F.lit(16777216.0)
    )
    coin = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("rb"), F.col("event_id").cast("string"))), 1, 6),
            16,
            10,
        ).cast("bigint")
        % 2
    )
    b = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    reported = events.select(
        b.alias("b"),
        F.when(u_honest < F.lit(RR_P), b).otherwise(coin).alias("rep"),
    )
    p = F.lit(RR_P)
    agg = reported.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("b").cast("double") / F.count(F.lit(1))).alias("true_rate"),
        (F.sum("rep").cast("double") / F.count(F.lit(1))).alias("reported_rate"),
    )
    est = (F.col("reported_rate") - (F.lit(1.0) - p) / 2) / p
    return agg.select(
        "n",
        hround("true_rate", 6).alias("true_rate"),
        hround("reported_rate", 6).alias("reported_rate"),
        hround(est, 6).alias("estimated_rate"),
        hround(F.abs(est - F.col("true_rate")), 6).alias("abs_err"),
        hround(
            F.log((p + (F.lit(1.0) - p) / 2) / ((F.lit(1.0) - p) / 2)), 4
        ).alias("epsilon"),
    )


_GEN_LEVELS = [
    ("L0_lang_source_b100", "lang", "source", "CAST(n_chars // 100 AS BIGINT)"),
    ("L1_lang_source_b1000", "lang", "source", "CAST(n_chars // 1000 AS BIGINT)"),
    ("L2_lang_source", "lang", "source", "CAST(0 AS BIGINT)"),
    ("L3_lang", "lang", "'*'", "CAST(0 AS BIGINT)"),
    ("L4_all", "'*'", "'*'", "CAST(0 AS BIGINT)"),
]


def _gen_oracle() -> str:
    per_level = [
        f"""
        SELECT '{name}' AS level,
               CAST(COUNT(*) AS BIGINT) AS n_groups,
               CAST(MIN(k) AS BIGINT) AS k_min
        FROM (
            SELECT COUNT(*) AS k FROM documents GROUP BY {la}, {so}, {bu}
        )"""
        for name, la, so, bu in _GEN_LEVELS
    ]
    return f"""
    WITH levels AS ({" UNION ALL ".join(per_level)}),
    chosen AS (
        SELECT MIN(level) AS pick FROM levels WHERE k_min >= 5
    )
    SELECT l.level, l.n_groups, l.k_min,
           l.k_min >= 5 AS meets_k,
           l.level = c.pick AS chosen
    FROM levels l CROSS JOIN chosen c
    ORDER BY l.level
    """


@query("privacy_generalize_to_k", oracle=_gen_oracle())
def privacy_generalize_to_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalization-to-k: the REPAIR step on top of the
    `privacy_k_anonymity` audit. A fixed 5-level generalization ladder
    over the (lang, source, size-bucket) quasi-identifier — coarsen the
    size bucket 100→1000→drop, then suppress source, then suppress
    everything — is evaluated in full (min class size and group count
    per level), and the least-general level whose SMALLEST class
    reaches k=5 is marked chosen (lexicographic level names make the
    argmin a plain MIN — the portable-argmin idiom). On a corpus too
    small for any level to reach k, no level is chosen — the honest
    small-release verdict rather than a forced pick.

    Each ladder rung is one partial-aggregatable groupBy (bounded
    output: |QI domain| rows) plus a 2-value rollup; the whole ladder
    is 5 cheap scans that production anonymizers fuse into one
    GROUPING SETS pass when the levels share keys (here the bucket
    VALUES differ per level, so the scans stay separate — documented
    trade-off, and at 100 TB the 5 scans are still each one
    map-combinable shuffle).
    """
    docs = load_table(spark, sf_dir, "documents")
    frames: list[DataFrame] = []
    for name, la, so, bu in _GEN_LEVELS:
        keys = [
            F.expr(la).alias("qa"),
            F.expr(so).alias("qb"),
            F.expr(bu.replace("//", "div")).alias("qc"),
        ]
        g = docs.groupBy(*keys).agg(F.count(F.lit(1)).alias("k"))
        frames.append(
            g.agg(
                F.count(F.lit(1)).alias("n_groups"),
                F.min("k").alias("k_min"),
            ).select(F.lit(name).alias("level"), "n_groups", "k_min")
        )
    levels = frames[0]
    for fr in frames[1:]:
        levels = levels.unionByName(fr)
    chosen = levels.filter(F.col("k_min") >= 5).agg(F.min("level").alias("pick"))
    return (
        levels.crossJoin(F.broadcast(chosen))
        .select(
            "level",
            "n_groups",
            "k_min",
            (F.col("k_min") >= 5).alias("meets_k"),
            (F.col("level") == F.col("pick")).alias("chosen"),
        )
        .orderBy("level")
    )
