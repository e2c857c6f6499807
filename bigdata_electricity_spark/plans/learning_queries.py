"""Learning-and-mining extensions: matrix factorization, tree
induction, and link prediction as declarative Spark plans.

Three algorithm families the registry did not yet cover (the reference's
ML surface stops at MLlib linear regression — `MLOperations.scala:12-174`
— and the existing iterative entries cover EM/k-means, power-iteration
PCA, gradient descent, isotonic, LPA):

- alternating least squares (collaborative filtering's workhorse) at
  rank 1, where each half-step is exactly one join + one grouped
  aggregate — the honest declarative core of distributed ALS;
- histogram-binned decision-tree induction (the LightGBM/XGBoost-hist
  shape: pre-bin features once, choose every split from bin-histogram
  prefix sums — no per-split data scans);
- Adamic-Adar link prediction over a support-thresholded co-purchase
  graph (wedge join + anti-join of known edges).

All three are hash-checkable: every cross-engine float crosses the
boundary through the `hround`/`dround` lockstep idiom, and every argmin
is taken over a single BIGINT ordering key (composite arg-keys are not
portable to DuckDB — ROUND_NOTES r4).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.rounding import dround, hround
from ..materialise import checkpoint
from ..sources.loaders import load_table
from .registry import query

ALS_ROUNDS = 3
ALS_REG = 0.1  # ridge term; also guards a factor's denominator at 0


def _als_oracle() -> str:
    r9 = lambda e: dround(e, 9)  # noqa: E731
    lam = "CAST(0.1 AS DOUBLE)"  # bare 0.1 would be DECIMAL in DuckDB
    sql = f"""
    WITH ratings AS MATERIALIZED (
        SELECT o.o_custkey AS u, l.l_partkey AS i,
               CAST(SUM(l.l_quantity) AS DOUBLE) AS r
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_custkey, l.l_partkey
    ), v0 AS MATERIALIZED (
        SELECT DISTINCT i, CAST(1.0 AS DOUBLE) AS vf FROM ratings
    )"""
    for r in range(1, ALS_ROUNDS + 1):
        p = r - 1
        sql += f""", u{r} AS MATERIALIZED (
        SELECT t.u, {r9(f'SUM(t.r * v.vf) / ({lam} + SUM(v.vf * v.vf))')} AS uf
        FROM ratings t JOIN v{p} v ON t.i = v.i GROUP BY t.u
    ), v{r} AS MATERIALIZED (
        SELECT t.i, {r9(f'SUM(t.r * u.uf) / ({lam} + SUM(u.uf * u.uf))')} AS vf
        FROM ratings t JOIN u{r} u ON t.u = u.u GROUP BY t.i
    ), e{r} AS (
        SELECT {dround('sqrt(AVG((t.r - u.uf * v.vf) * (t.r - u.uf * v.vf)))', 6)} AS rmse,
               (SELECT {dround('SUM(uf * uf)', 4)} FROM u{r}) AS u_ss,
               (SELECT {dround('SUM(vf * vf)', 4)} FROM v{r}) AS v_ss
        FROM ratings t
        JOIN u{r} u ON t.u = u.u
        JOIN v{r} v ON t.i = v.i
    )"""
    selects = [
        f"SELECT {r} AS als_round, rmse, u_ss, v_ss FROM e{r}"
        for r in range(1, ALS_ROUNDS + 1)
    ]
    return sql + "\n" + "\nUNION ALL\n".join(selects) + "\nORDER BY als_round"


@query("ml_als_rank1_rounds", oracle=_als_oracle())
def ml_als_rank1_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-1 alternating least squares on the customer x part implicit
    'rating' matrix (r = total quantity ever ordered), 3 unrolled
    alternations, reported as the (rmse, ||u||^2, ||v||^2) trajectory.

    Each half-step is the closed-form ridge solution at rank 1:
    u_i = sum_j(r_ij v_j) / (lambda + sum_j v_j^2) over the items user i
    rated, then symmetrically for v. On Spark that is ONE shuffle join
    (ratings x current factor, keyed on the factor's id — both sides
    scale with SF, so no broadcast hint) plus ONE grouped aggregate with
    map-side combine — exactly the per-iteration shape of production
    distributed ALS, minus the rank-k normal-equation solve that needs a
    dense kxk inverse per entity (rank 1 makes the solve a scalar
    division, which keeps the whole trajectory expressible on both
    engines and therefore hash-checkable). Factor updates are 1e-9
    half-up rounded on both engines so the 3-round trajectory cannot
    drift apart (the ml_gd_linreg_rounds float-lockstep idiom); the
    factor tables are lazily localCheckpointed because each is
    referenced twice per round (Catalyst does not CSE whole subplans
    across joins — ROUND_NOTES r7).

    ||u||^2 / ||v||^2 sum ~55k squared factors of magnitude ~1-60, so
    they are rounded at 1e-4 (|x| * 10^n must stay < 2^53 for the
    cross-engine floor idiom).
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    ratings = checkpoint(  # referenced 3x per round
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i")
        )
        .agg(F.sum("l_quantity").cast("double").alias("r"))
    )
    lam = F.lit(ALS_REG)
    v = ratings.select("i").distinct().select("i", F.lit(1.0).alias("vf"))
    out_rows: list[DataFrame] = []
    for r in range(1, ALS_ROUNDS + 1):
        u = checkpoint(  # used by v-step, rmse, u_ss
            ratings.join(v, "i")
            .groupBy("u")
            .agg(
                hround(
                    F.sum(F.col("r") * F.col("vf"))
                    / (lam + F.sum(F.col("vf") * F.col("vf"))),
                    9,
                ).alias("uf")
            )
        )
        v = checkpoint(
            ratings.join(u, "u")
            .groupBy("i")
            .agg(
                hround(
                    F.sum(F.col("r") * F.col("uf"))
                    / (lam + F.sum(F.col("uf") * F.col("uf"))),
                    9,
                ).alias("vf")
            )
        )
        rmse = (
            ratings.join(u, "u")
            .join(v, "i")
            .agg(
                hround(
                    F.sqrt(
                        F.avg(
                            (F.col("r") - F.col("uf") * F.col("vf"))
                            * (F.col("r") - F.col("uf") * F.col("vf"))
                        )
                    ),
                    6,
                ).alias("rmse")
            )
        )
        u_ss = u.agg(hround(F.sum(F.col("uf") * F.col("uf")), 4).alias("u_ss"))
        v_ss = v.agg(hround(F.sum(F.col("vf") * F.col("vf")), 4).alias("v_ss"))
        out_rows.append(
            rmse.crossJoin(F.broadcast(u_ss))
            .crossJoin(F.broadcast(v_ss))
            .select(F.lit(r).alias("als_round"), "rmse", "u_ss", "v_ss")
        )
    out = out_rows[0]
    for o in out_rows[1:]:
        out = out.unionByName(o)
    return out.orderBy("als_round")


ALS2_ROUNDS = 3


def _als2_oracle() -> str:
    """Rank-2 ALS oracle: each half-step solves the 2×2 ridge normal
    equations in closed form. The normal-equation CELLS (a11, a12, a22,
    b1, b2) are 1e-9-rounded BEFORE the solve and the solved factors
    1e-9-rounded after — both engines then run identical IEEE arithmetic
    between identical rounded inputs, so the trajectory cannot drift."""
    r9 = lambda e: dround(e, 9)  # noqa: E731
    lam = "CAST(0.1 AS DOUBLE)"
    det = "(a11 * a22 - a12 * a12)"
    sql = f"""
    WITH ratings AS MATERIALIZED (
        SELECT o.o_custkey AS u, l.l_partkey AS i,
               CAST(SUM(l.l_quantity) AS DOUBLE) AS r
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_custkey, l.l_partkey
    ), v0 AS MATERIALIZED (
        SELECT DISTINCT i, CAST(1.0 AS DOUBLE) AS vf1,
               CAST(i % 97 AS DOUBLE) / CAST(97 AS DOUBLE) AS vf2
        FROM ratings
    )"""
    for r in range(1, ALS2_ROUNDS + 1):
        p = r - 1
        sql += f""", uc{r} AS MATERIALIZED (
        SELECT t.u,
               {r9(f'{lam} + SUM(v.vf1 * v.vf1)')} AS a11,
               {r9('SUM(v.vf1 * v.vf2)')} AS a12,
               {r9(f'{lam} + SUM(v.vf2 * v.vf2)')} AS a22,
               {r9('SUM(t.r * v.vf1)')} AS b1,
               {r9('SUM(t.r * v.vf2)')} AS b2
        FROM ratings t JOIN v{p} v ON t.i = v.i GROUP BY t.u
    ), u{r} AS MATERIALIZED (
        SELECT u, {r9(f'(a22 * b1 - a12 * b2) / {det}')} AS uf1,
               {r9(f'(a11 * b2 - a12 * b1) / {det}')} AS uf2
        FROM uc{r}
    ), vc{r} AS MATERIALIZED (
        SELECT t.i,
               {r9(f'{lam} + SUM(u.uf1 * u.uf1)')} AS a11,
               {r9('SUM(u.uf1 * u.uf2)')} AS a12,
               {r9(f'{lam} + SUM(u.uf2 * u.uf2)')} AS a22,
               {r9('SUM(t.r * u.uf1)')} AS b1,
               {r9('SUM(t.r * u.uf2)')} AS b2
        FROM ratings t JOIN u{r} u ON t.u = u.u GROUP BY t.i
    ), v{r} AS MATERIALIZED (
        SELECT i, {r9(f'(a22 * b1 - a12 * b2) / {det}')} AS vf1,
               {r9(f'(a11 * b2 - a12 * b1) / {det}')} AS vf2
        FROM vc{r}
    ), e{r} AS (
        SELECT {dround('sqrt(AVG((t.r - (u.uf1 * v.vf1 + u.uf2 * v.vf2)) '
                       '* (t.r - (u.uf1 * v.vf1 + u.uf2 * v.vf2))))', 6)} AS rmse,
               (SELECT {dround('SUM(uf1 * uf1 + uf2 * uf2)', 4)} FROM u{r}) AS u_ss,
               (SELECT {dround('SUM(vf1 * vf1 + vf2 * vf2)', 4)} FROM v{r}) AS v_ss
        FROM ratings t
        JOIN u{r} u ON t.u = u.u
        JOIN v{r} v ON t.i = v.i
    )"""
    selects = [
        f"SELECT {r} AS als_round, rmse, u_ss, v_ss FROM e{r}"
        for r in range(1, ALS2_ROUNDS + 1)
    ]
    return sql + "\n" + "\nUNION ALL\n".join(selects) + "\nORDER BY als_round"


@query("ml_als_rank2_rounds", oracle=_als2_oracle())
def ml_als_rank2_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-2 alternating least squares on the same customer × part
    implicit matrix as `ml_als_rank1_rounds` — the real distributed-ALS
    shape (r10 VERDICT task 5): each half-step accumulates the k×k
    ridge normal equations PER ENTITY as grouped-aggregate cells (k²+k
    = 6 sums at k=2: a11, a12, a22, b1, b2 — Gram matrix + right-hand
    side) and solves them in closed form (2×2 inverse; det ≥ λ² > 0
    because the Gram matrix is PSD and λ = 0.1 rides the diagonal, so
    the division is always defined). That is exactly production ALS's
    per-iteration plan — one shuffle join (ratings × current factor,
    keyed on the factor id) + one grouped aggregate with map-side
    combine — generalized from rank-1's scalar division to the normal-
    equation solve; rank-k just widens the cell tuple to k² + k columns.

    Init breaks the rank symmetry deterministically and engine-portably:
    vf1 = 1, vf2 = (i mod 97)/97 — without distinct components both
    factor columns would stay proportional forever and rank 2 would
    collapse to rank 1.

    Float lockstep (the `ml_gd_linreg_rounds` idiom, one level deeper):
    the normal-equation cells are 1e-9 half-up rounded BEFORE the
    solve, and the solved factors 1e-9 rounded after — between
    roundings both engines do identical IEEE arithmetic on identical
    inputs, so the 3-round trajectory is hash-comparable. Trajectory
    additionally pinned against a plain-Python recursion on a planted
    2-block fixture (tests/test_r8_entries.py) where rank 2 must fit
    the two blocks strictly better than rank 1.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    ratings = checkpoint(  # referenced 3× per round
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i")
        )
        .agg(F.sum("l_quantity").cast("double").alias("r"))
    )
    lam = F.lit(ALS_REG)
    v = ratings.select("i").distinct().select(
        "i",
        F.lit(1.0).alias("vf1"),
        ((F.col("i") % 97).cast("double") / F.lit(97).cast("double")).alias("vf2"),
    )

    def half_step(fac: DataFrame, join_key: str, group_key: str,
                  f1: str, f2: str, out1: str, out2: str) -> DataFrame:
        """One ridge half-step: join ratings with the current factor on
        ``join_key``, accumulate the 2×2 normal equations per
        ``group_key``, solve closed-form. Cells and factors both
        1e-9-rounded (cross-engine lockstep)."""
        cells = (
            ratings.join(fac, join_key)
            .groupBy(group_key)
            .agg(
                hround(lam + F.sum(F.col(f1) * F.col(f1)), 9).alias("a11"),
                hround(F.sum(F.col(f1) * F.col(f2)), 9).alias("a12"),
                hround(lam + F.sum(F.col(f2) * F.col(f2)), 9).alias("a22"),
                hround(F.sum(F.col("r") * F.col(f1)), 9).alias("b1"),
                hround(F.sum(F.col("r") * F.col(f2)), 9).alias("b2"),
            )
        )
        det = F.col("a11") * F.col("a22") - F.col("a12") * F.col("a12")
        return checkpoint(cells.select(
            group_key,
            hround((F.col("a22") * F.col("b1") - F.col("a12") * F.col("b2")) / det, 9).alias(out1),
            hround((F.col("a11") * F.col("b2") - F.col("a12") * F.col("b1")) / det, 9).alias(out2),
        ))  # used by next half-step, rmse, ss

    out_rows: list[DataFrame] = []
    for r in range(1, ALS2_ROUNDS + 1):
        u = half_step(v, "i", "u", "vf1", "vf2", "uf1", "uf2")
        v = half_step(u, "u", "i", "uf1", "uf2", "vf1", "vf2")
        pred = F.col("uf1") * F.col("vf1") + F.col("uf2") * F.col("vf2")
        rmse = (
            ratings.join(u, "u")
            .join(v, "i")
            .agg(
                hround(
                    F.sqrt(F.avg((F.col("r") - pred) * (F.col("r") - pred))), 6
                ).alias("rmse")
            )
        )
        u_ss = u.agg(
            hround(F.sum(F.col("uf1") * F.col("uf1") + F.col("uf2") * F.col("uf2")), 4).alias("u_ss")
        )
        v_ss = v.agg(
            hround(F.sum(F.col("vf1") * F.col("vf1") + F.col("vf2") * F.col("vf2")), 4).alias("v_ss")
        )
        out_rows.append(
            rmse.crossJoin(F.broadcast(u_ss))
            .crossJoin(F.broadcast(v_ss))
            .select(F.lit(r).alias("als_round"), "rmse", "u_ss", "v_ss")
        )
    out = out_rows[0]
    for o in out_rows[1:]:
        out = out.unionByName(o)
    return out.orderBy("als_round")


TREE_BINS = 8  # histogram resolution: 7 interior quantile edges


def _tree_oracle() -> str:
    """Depth-2 histogram-tree oracle.

    Mirrors the Spark plan CTE for CTE; every float that feeds a
    comparison (bin edges, entropies) is rounded through dround before
    use, and the per-node argmin over candidate splits is a MIN over a
    single BIGINT key (entropy_1e9 * 1000 + feature * 100 + cut_bin).
    """
    probs = ", ".join(
        f"CAST({b}.0/{TREE_BINS} AS DOUBLE)" for b in range(1, TREE_BINS)
    )
    ent = (
        "CASE WHEN {n} = 0 THEN CAST(0.0 AS DOUBLE) ELSE "
        "(CASE WHEN {p} > 0 THEN -({p} / {n}) * ln({p} / {n}) ELSE 0.0 END"
        " + CASE WHEN {n} - {p} > 0 THEN -(({n} - {p}) / {n}) * ln(({n} - {p}) / {n})"
        " ELSE 0.0 END) END"
    )
    went = (
        "(" + ent.format(p="lp", n="ln_") + ") * ln_ / (ln_ + rn)"
        " + (" + ent.format(p="rp", n="rn") + ") * rn / (ln_ + rn)"
    )
    return f"""
    WITH feats AS MATERIALIZED (
        SELECT CAST(n_chars AS DOUBLE) AS f1,
               CAST(len(list_distinct(regexp_extract_all(text, '\\S+'))) AS DOUBLE) AS f2,
               CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE) AS toks
        FROM documents
    ), med AS (
        SELECT {dround('quantile_cont(toks, CAST(0.5 AS DOUBLE))', 9)} AS m FROM feats
    ), edges AS MATERIALIZED (
        SELECT list_transform(quantile_cont(f1, [{probs}]), e -> {dround('e', 9)}) AS e1,
               list_transform(quantile_cont(f2, [{probs}]), e -> {dround('e', 9)}) AS e2
        FROM feats
    ), rows_ AS MATERIALIZED (
        SELECT CASE WHEN toks > m THEN 1 ELSE 0 END AS y,
               1 + len(list_filter(e1, c -> f1 > c)) AS b1,
               1 + len(list_filter(e2, c -> f2 > c)) AS b2
        FROM feats, med, edges
    ), melted AS MATERIALIZED (
        SELECT 1 AS feature, b1 AS bin, y FROM rows_
        UNION ALL
        SELECT 2 AS feature, b2 AS bin, y FROM rows_
    ), hist AS (
        SELECT feature, bin,
               CAST(COUNT(*) AS DOUBLE) AS c,
               CAST(SUM(y) AS DOUBLE) AS cp
        FROM melted GROUP BY feature, bin
    ), prefix AS (
        SELECT feature, bin,
               SUM(c) OVER (PARTITION BY feature ORDER BY bin) AS ln_,
               SUM(cp) OVER (PARTITION BY feature ORDER BY bin) AS lp,
               SUM(c) OVER (PARTITION BY feature) - SUM(c) OVER (PARTITION BY feature ORDER BY bin) AS rn,
               SUM(cp) OVER (PARTITION BY feature) - SUM(cp) OVER (PARTITION BY feature ORDER BY bin) AS rp
        FROM hist
    ), cand AS (
        SELECT feature, bin, {dround(went, 9)} AS we
        FROM prefix WHERE bin < {TREE_BINS} AND rn > 0
    ), root AS MATERIALIZED (
        -- k IS NOT NULL: MIN over an EMPTY candidate set (single-bin or
        -- empty corpus) is a 1-row NULL in SQL but an empty groupBy on
        -- Spark — drop it so both engines emit zero rows for the
        -- degenerate tree.
        SELECT MIN(CAST(floor(we * 1000000000.0 + 0.5) AS BIGINT) * 1000
                   + feature * 100 + bin) AS k
        FROM cand
    ), root_pick AS MATERIALIZED (
        SELECT CAST((k % 1000) / 100 AS INTEGER) AS feature,
               CAST(k % 100 AS INTEGER) AS cut_bin,
               CAST(k / 1000 AS DOUBLE) / 1000000000.0 AS we
        FROM root WHERE k IS NOT NULL
    ), sided AS MATERIALIZED (
        SELECT r.y, r.b1, r.b2,
               CASE WHEN (CASE WHEN p.feature = 1 THEN r.b1 ELSE r.b2 END)
                    <= p.cut_bin THEN 'L' ELSE 'R' END AS side
        FROM rows_ r, root_pick p
    ), melted2 AS (
        SELECT side, 1 AS feature, b1 AS bin, y FROM sided
        UNION ALL
        SELECT side, 2 AS feature, b2 AS bin, y FROM sided
    ), hist2 AS (
        SELECT side, feature, bin,
               CAST(COUNT(*) AS DOUBLE) AS c, CAST(SUM(y) AS DOUBLE) AS cp
        FROM melted2 GROUP BY side, feature, bin
    ), prefix2 AS (
        SELECT side, feature, bin,
               SUM(c) OVER (PARTITION BY side, feature ORDER BY bin) AS ln_,
               SUM(cp) OVER (PARTITION BY side, feature ORDER BY bin) AS lp,
               SUM(c) OVER (PARTITION BY side, feature)
                 - SUM(c) OVER (PARTITION BY side, feature ORDER BY bin) AS rn,
               SUM(cp) OVER (PARTITION BY side, feature)
                 - SUM(cp) OVER (PARTITION BY side, feature ORDER BY bin) AS rp
        FROM hist2
    ), cand2 AS (
        SELECT side, feature, bin, {dround(went, 9)} AS we
        FROM prefix2 WHERE bin < {TREE_BINS} AND rn > 0
    ), child_pick AS MATERIALIZED (
        SELECT side,
               CAST((k % 1000) / 100 AS INTEGER) AS feature,
               CAST(k % 100 AS INTEGER) AS cut_bin,
               CAST(k / 1000 AS DOUBLE) / 1000000000.0 AS we
        FROM (
            SELECT side,
                   MIN(CAST(floor(we * 1000000000.0 + 0.5) AS BIGINT) * 1000
                       + feature * 100 + bin) AS k
            FROM cand2 GROUP BY side
        )
    ), leaves AS MATERIALIZED (
        SELECT s.side,
               CASE WHEN (CASE WHEN c.feature = 1 THEN s.b1 ELSE s.b2 END)
                    <= c.cut_bin THEN 'L' ELSE 'R' END AS sub,
               s.y
        FROM sided s JOIN child_pick c ON s.side = c.side
    ), leaf_stats AS MATERIALIZED (
        SELECT side, sub, COUNT(*) AS n, SUM(y) AS np,
               CASE WHEN SUM(y) * 2 >= COUNT(*) THEN 1 ELSE 0 END AS maj
        FROM leaves GROUP BY side, sub
    ), acc AS (
        SELECT {dround('SUM(CASE WHEN l.y = s.maj THEN 1.0 ELSE 0.0 END) / COUNT(*)', 6)} AS acc
        FROM leaves l JOIN leaf_stats s ON l.side = s.side AND l.sub = s.sub
    ), node_rows AS (
        SELECT 'root' AS node,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM rows_) AS n,
               (SELECT CAST(SUM(y) AS BIGINT) FROM rows_) AS n_pos,
               p.feature, p.cut_bin, {dround('p.we', 6)} AS wentropy,
               (SELECT acc FROM acc) AS acc
        FROM root_pick p
        UNION ALL
        SELECT s.side AS node,
               CAST(t.n AS BIGINT) AS n, CAST(t.np AS BIGINT) AS n_pos,
               s.feature, s.cut_bin, {dround('s.we', 6)} AS wentropy,
               CAST(NULL AS DOUBLE) AS acc
        FROM child_pick s
        JOIN (SELECT side, SUM(n) AS n, SUM(np) AS np
              FROM leaf_stats GROUP BY side) t ON t.side = s.side
    )
    SELECT * FROM node_rows ORDER BY node
    """


@query("ml_tree_depth2_histogram", oracle=_tree_oracle())
def ml_tree_depth2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-2 decision-tree induction over documents, the
    histogram-binned way (LightGBM / XGBoost-hist): features are
    pre-binned ONCE into 8 equal-frequency bins, and every split —
    root and both children — is chosen from bin-histogram prefix sums,
    so growing a level costs one grouped aggregate over (node, feature,
    bin, y) counts, never a per-candidate data scan.

    Task: predict y = (token count > corpus median) from n_chars and
    the distinct-token count — the one genuinely learnable relation in
    this corpus (n_chars ~ tokens, corr ~0.998; ROUND_NOTES r7), so the
    reported depth-2 train accuracy is high for a real reason, not by
    label leakage. Split criterion is minimum weighted child entropy;
    ties break on the single BIGINT key (entropy_1e9 | feature | bin),
    the portable composite-argmin idiom. Output: one row per node
    (root/L/R) with its chosen (feature, cut_bin), weighted entropy,
    class counts, and — on the root row — whole-tree train accuracy
    from the four leaf majorities.

    At 100 TB: bin edges come from one quantile aggregate (swap
    F.percentile for approxQuantile when GK error is acceptable), bin
    assignment is a map-side broadcast compare, and each level is one
    map-combinable groupBy over at most nodes x features x bins x 2
    cells — the histogram trick is exactly what makes distributed GBDT
    feasible; deeper trees just repeat the `sided` step per level.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0)
    feats = checkpoint(docs.select(
        F.col("n_chars").cast("double").alias("f1"),
        F.size(F.array_distinct(toks)).cast("double").alias("f2"),
        F.size(toks).cast("double").alias("toks"),
    ))  # feeds edges, median, and rows
    probs = [b / TREE_BINS for b in range(1, TREE_BINS)]
    parr = F.array(*[F.lit(p) for p in probs])
    edges = feats.agg(
        F.transform(
            F.percentile("f1", parr), lambda e: hround(e, 9)
        ).alias("e1"),
        F.transform(
            F.percentile("f2", parr), lambda e: hround(e, 9)
        ).alias("e2"),
        hround(F.percentile("toks", F.lit(0.5)), 9).alias("m"),
    )
    rows = checkpoint(  # feeds both levels + accuracy
        feats.crossJoin(F.broadcast(edges))
        .select(
            F.when(F.col("toks") > F.col("m"), 1).otherwise(0).alias("y"),
            (
                F.lit(1)
                + F.size(F.filter("e1", lambda c: F.col("f1") > c))
            ).alias("b1"),
            (
                F.lit(1)
                + F.size(F.filter("e2", lambda c: F.col("f2") > c))
            ).alias("b2"),
        )
    )

    def melt(df: DataFrame, keys: list[str]) -> DataFrame:
        m1 = df.select(*keys, F.lit(1).alias("feature"), F.col("b1").alias("bin"), "y")
        m2 = df.select(*keys, F.lit(2).alias("feature"), F.col("b2").alias("bin"), "y")
        return m1.unionByName(m2)

    def entropy(p: F.Column, n: F.Column) -> F.Column:
        term = lambda c: F.when(c > 0, -(c / n) * F.log(c / n)).otherwise(0.0)  # noqa: E731
        return F.when(n == 0, F.lit(0.0)).otherwise(term(p) + term(n - p))

    def best_splits(df: DataFrame, keys: list[str]) -> DataFrame:
        """Per-`keys` argmin over (feature, cut_bin) candidates from the
        bin histogram — one grouped agg + one bounded window."""
        from pyspark.sql import Window

        hist = melt(df, keys).groupBy(*keys, "feature", "bin").agg(
            F.count(F.lit(1)).cast("double").alias("c"),
            F.sum("y").cast("double").alias("cp"),
        )
        w = Window.partitionBy(*keys, "feature").orderBy("bin")
        wt = Window.partitionBy(*keys, "feature")
        prefix = hist.select(
            *keys,
            "feature",
            "bin",
            F.sum("c").over(w).alias("ln_"),
            F.sum("cp").over(w).alias("lp"),
            (F.sum("c").over(wt) - F.sum("c").over(w)).alias("rn"),
            (F.sum("cp").over(wt) - F.sum("cp").over(w)).alias("rp"),
        )
        tot = F.col("ln_") + F.col("rn")
        we = hround(
            entropy(F.col("lp"), F.col("ln_")) * F.col("ln_") / tot
            + entropy(F.col("rp"), F.col("rn")) * F.col("rn") / tot,
            9,
        )
        cand = prefix.filter(
            (F.col("bin") < TREE_BINS) & (F.col("rn") > 0)
        ).select(*keys, "feature", "bin", we.alias("we"))
        key = (
            F.floor(F.col("we") * F.lit(1e9) + F.lit(0.5)).cast("bigint")
            * F.lit(1000)
            + F.col("feature") * F.lit(100)
            + F.col("bin")
        )
        picked = cand.groupBy(*keys).agg(F.min(key).alias("k"))
        return picked.select(
            *keys,
            ((F.col("k") % 1000) / 100).cast("int").alias("feature"),
            (F.col("k") % 100).cast("int").alias("cut_bin"),
            ((F.col("k") / 1000).cast("double") / F.lit(1e9)).alias("we"),
        )

    root_pick = best_splits(rows.withColumn("g", F.lit(1)), ["g"]).drop("g")
    side = F.when(
        F.when(F.col("feature") == 1, F.col("b1")).otherwise(F.col("b2"))
        <= F.col("cut_bin"),
        "L",
    ).otherwise("R")
    sided = checkpoint(  # feeds child split + leaves
        rows.crossJoin(F.broadcast(root_pick))
        .select("y", "b1", "b2", side.alias("side"))
    )
    child_pick = best_splits(sided, ["side"])
    leaves = (
        sided.join(child_pick.withColumnRenamed("side", "cside"),
                   F.col("side") == F.col("cside"))
        .select("side", "y", side.alias("sub"))
    )
    leaf_stats = leaves.groupBy("side", "sub").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("np"),
        F.when(F.sum("y") * 2 >= F.count(F.lit(1)), 1).otherwise(0).alias("maj"),
    )
    acc = (
        leaves.join(F.broadcast(leaf_stats), ["side", "sub"])
        .agg(
            hround(
                F.sum(F.when(F.col("y") == F.col("maj"), 1.0).otherwise(0.0))
                / F.count(F.lit(1)),
                6,
            ).alias("acc")
        )
    )
    totals = rows.agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").cast("long").alias("n_pos")
    )
    root_row = (
        root_pick.crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(acc))
        .select(
            F.lit("root").alias("node"),
            "n",
            "n_pos",
            "feature",
            "cut_bin",
            hround("we", 6).alias("wentropy"),
            "acc",
        )
    )
    side_tot = leaf_stats.groupBy("side").agg(
        F.sum("n").alias("n"), F.sum("np").cast("long").alias("n_pos")
    )
    child_rows = child_pick.join(side_tot, "side").select(
        F.col("side").alias("node"),
        "n",
        "n_pos",
        "feature",
        "cut_bin",
        hround("we", 6).alias("wentropy"),
        F.lit(None).cast("double").alias("acc"),
    )
    return root_row.unionByName(child_rows).orderBy("node")


AA_MIN_SUPPORT = 2
AA_TOP_K = 20


@query(
    "graph_adamic_adar",
    oracle=f"""
    WITH pair_counts AS MATERIALIZED (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb,
               COUNT(DISTINCT a.l_orderkey) AS support
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
    ), edges AS MATERIALIZED (
        SELECT pa, pb FROM pair_counts WHERE support >= {AA_MIN_SUPPORT}
    ), und AS MATERIALIZED (
        SELECT pa AS u, pb AS v FROM edges
        UNION ALL
        SELECT pb AS u, pa AS v FROM edges
    ), deg AS MATERIALIZED (
        SELECT u, CAST(COUNT(*) AS DOUBLE) AS d FROM und GROUP BY u
    ), wedges AS (
        SELECT e1.v AS a, e2.v AS b, e1.u AS z
        FROM und e1 JOIN und e2
          ON e1.u = e2.u AND e1.v < e2.v
    ), scored AS (
        SELECT w.a, w.b,
               SUM(1.0 / ln(d.d)) AS aa_raw,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM wedges w JOIN deg d ON w.z = d.u
        WHERE NOT EXISTS (
            SELECT 1 FROM edges e WHERE e.pa = w.a AND e.pb = w.b
        )
        GROUP BY w.a, w.b
    )
    SELECT a AS part_a, b AS part_b, {dround('aa_raw', 6)} AS aa_score, n_common
    FROM scored
    ORDER BY {dround('aa_raw', 6)} DESC, a, b
    LIMIT {AA_TOP_K}
    """,
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the support-thresholded
    co-purchase graph: parts are nodes, an edge exists when two parts
    share >= 2 distinct orders, and for every NON-adjacent pair with
    common neighbors the score is sum(1/ln(deg(z))) over the shared
    neighbors z. Top-20 predicted links.

    The support threshold is the scale bound, and it is not optional:
    the raw co-occurrence graph here has mean degree ~120 and ~300M
    wedges at sf0.1 (measured), while min-support 2 prunes it to <10k
    wedges — the same frequent-itemset pruning `market_basket_pairs`
    applies, for the same reason. The wedge join (und x und on the
    shared center) shuffles on the center key; a wedge center by
    construction has degree >= 2, so ln(deg) never divides by zero. The
    anti-join against known edges removes already-connected pairs.
    Final ranking is 1e-6-rounded before ORDER BY so the cross-engine
    top-k cut is tie-stable ((score, a, b) is a total order).

    At 100x: every stage is a keyed shuffle (pair counts on (pa, pb),
    degrees on node, wedges on center, scores on (a, b)); the one knob
    is the support threshold, which production itemset miners raise
    with corpus size precisely to hold the wedge count flat.

    r11 residual attribution (r10 VERDICT task 4 — the 20.4× decade at
    uniform 256 partitions): measured with per-query shuffle metrics, the
    OLD plan's shuffle bytes grew 185 MB → 1.68 GB over sf1f→sf10f
    (9.1×, linear) and the pruned graph is EXACTLY linear (edges
    35,730 → 357,300, wedges 13,960 → 139,600, max degree 6 at both
    SFs) — so the support-2 prune holds and the residual was NOT wedge
    growth. It was the count-distinct expansion: COUNT(DISTINCT ok)
    over the 119.6M joined pair triples keeps every (pa, pb, ok) live
    in the aggregation hash maps (GC-locker retry warnings all through
    the sf10f stage at the 8 GiB heap). Fix above: with (ok, part)
    pre-distinct (99.99% unique already), support = COUNT(*) — a
    map-side-combinable aggregate — and the triples never enter a
    distinct map. Measured sf10f 96.8 s → 57.8 s (same 256-partition
    harness), sf1f warm 3.9 s → 3.8 s (neutral), decade 20.4× → ~4×.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # Pre-distinct (ok, part) BEFORE the self-join (r11, task-4 profile):
    # with unique inputs every joined (pa, pb, ok) triple is unique, so
    # support = COUNT(*) — a map-side-combinable aggregate — instead of
    # COUNT(DISTINCT ok), whose two-phase expansion shuffled all 119.6M
    # 24-byte pair triples at sf10f. The distinct itself is one shuffle
    # of 16-byte rows over the (smaller) input side, and Catalyst does
    # not derive this rewrite from the join's key structure. Identical
    # relation (same oracle, hash-checked).
    # No localCheckpoint on the distinct: AQE's runtime exchange reuse
    # serves both join sides from one shuffle, and block materialization
    # measured strictly slower (4.5 vs 3.8 s warm at sf1f) — at sf10f
    # under 32 partitions the cached blocks even got evicted mid-join
    # (localCheckpoint blocks are unrecoverable by design).
    op = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p")
    ).distinct()
    a = op.select("ok", F.col("p").alias("pa"))
    b = op.select("ok", F.col("p").alias("pb"))
    edges = checkpoint(  # feeds und twice + the anti-join
        a.join(b, ["ok"])
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= AA_MIN_SUPPORT)
        .select("pa", "pb")
    )
    und = edges.select(F.col("pa").alias("u"), F.col("pb").alias("v")).unionByName(
        edges.select(F.col("pb").alias("u"), F.col("pa").alias("v"))
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).cast("double").alias("d"))
    e1 = und.select(F.col("u").alias("z"), F.col("v").alias("a"))
    e2 = und.select(F.col("u").alias("z"), F.col("v").alias("b"))
    wedges = e1.join(e2, ["z"]).filter(F.col("a") < F.col("b"))
    open_wedges = wedges.join(
        edges,
        (wedges.a == edges.pa) & (wedges.b == edges.pb),
        "left_anti",
    )
    scored = (
        open_wedges.join(deg, open_wedges.z == deg.u)
        .groupBy("a", "b")
        .agg(
            F.sum(F.lit(1.0) / F.log(F.col("d"))).alias("aa_raw"),
            F.count(F.lit(1)).alias("n_common"),
        )
    )
    return (
        scored.select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            hround("aa_raw", 6).alias("aa_score"),
            "n_common",
        )
        .orderBy(F.desc("aa_score"), "part_a", "part_b")
        .limit(AA_TOP_K)
    )


HITS_ROUNDS = 2
HITS_TOP_K = 10


def _hits_oracle() -> str:
    r9 = lambda e: dround(e, 9)  # noqa: E731
    sql = """
    WITH edges AS MATERIALIZED (
        SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS i
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), h0 AS MATERIALIZED (
        SELECT DISTINCT u, CAST(1.0 AS DOUBLE) AS h FROM edges
    )"""
    for r in range(1, HITS_ROUNDS + 1):
        p = r - 1
        sql += f""", ar{r} AS MATERIALIZED (
        SELECT e.i, SUM(h.h) AS a
        FROM edges e JOIN h{p} h ON e.u = h.u GROUP BY e.i
    ), an{r} AS MATERIALIZED (
        SELECT sqrt(SUM(a * a)) AS nrm FROM ar{r}
    ), a{r} AS MATERIALIZED (
        SELECT i, {r9('a / nrm')} AS a FROM ar{r}, an{r}
    ), hr{r} AS MATERIALIZED (
        SELECT e.u, SUM(a.a) AS h
        FROM edges e JOIN a{r} a ON e.i = a.i GROUP BY e.u
    ), hn{r} AS MATERIALIZED (
        SELECT sqrt(SUM(h * h)) AS nrm FROM hr{r}
    ), h{r} AS MATERIALIZED (
        SELECT u, {r9('h / nrm')} AS h FROM hr{r}, hn{r}
    )"""
    last = HITS_ROUNDS
    return sql + f"""
    SELECT kind, rnk, node_id, score FROM (
        SELECT 'authority' AS kind,
               CAST(ROW_NUMBER() OVER (ORDER BY {dround('a', 6)} DESC, i) AS BIGINT) AS rnk,
               i AS node_id, {dround('a', 6)} AS score
        FROM a{last}
        UNION ALL
        SELECT 'hub' AS kind,
               CAST(ROW_NUMBER() OVER (ORDER BY {dround('h', 6)} DESC, u) AS BIGINT) AS rnk,
               u AS node_id, {dround('h', 6)} AS score
        FROM h{last}
    ) WHERE rnk <= {HITS_TOP_K}
    ORDER BY kind, rnk
    """


@query("graph_hits_rounds", oracle=_hits_oracle())
def graph_hits_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities on the customer->part purchase
    bipartite graph, 2 unrolled power-iteration rounds with L2
    normalization — the mutually-recursive cousin of
    `graph_pagerank_nations` (authority mass flows from good hubs and
    back; on a bipartite graph HITS is exactly alternating power
    iteration on A^T A, so it converges fast and 2 rounds already
    separate heavy buyers from popular parts).

    Each half-step is one edges x scores shuffle join + grouped sum
    (map-side combinable) and one 1-row L2-norm aggregate broadcast
    back as the divisor — at 100 TB the norm is the only global state,
    the classic scalar-broadcast iterative shape (same as
    `ml_gd_linreg_rounds`). Normalized scores are 1e-9 lockstep-rounded
    per round; the top-10 per side is rank over the 1e-6-rounded score
    with node-id tie-break, so the cut is total-order stable.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    edges = checkpoint(  # referenced twice per round
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i"))
        .distinct()
    )
    h = edges.select("u").distinct().select("u", F.lit(1.0).alias("h"))
    a = None
    for _ in range(HITS_ROUNDS):
        ar = edges.join(h, "u").groupBy("i").agg(F.sum("h").alias("a"))
        anorm = ar.agg(F.sqrt(F.sum(F.col("a") * F.col("a"))).alias("nrm"))
        a = checkpoint(
            ar.crossJoin(F.broadcast(anorm))
            .select("i", hround(F.col("a") / F.col("nrm"), 9).alias("a"))
        )
        hr = edges.join(a, "i").groupBy("u").agg(F.sum("a").alias("h"))
        hnorm = hr.agg(F.sqrt(F.sum(F.col("h") * F.col("h"))).alias("nrm"))
        h = checkpoint(
            hr.crossJoin(F.broadcast(hnorm))
            .select("u", hround(F.col("h") / F.col("nrm"), 9).alias("h"))
        )
    from pyspark.sql import Window

    # top-k FIRST via orderBy().limit() (TakeOrderedAndProject — per-
    # partition heaps, no global sort), THEN rank the k survivors; a
    # row_number window straight over the SF-scaling factor table would
    # be a single-partition sort of all nodes.
    auth_top = (
        a.select(F.col("i").alias("node_id"), hround(F.col("a"), 6).alias("score"))
        .orderBy(F.desc("score"), "node_id")
        .limit(HITS_TOP_K)
    )
    hub_top = (
        h.select(F.col("u").alias("node_id"), hround(F.col("h"), 6).alias("score"))
        .orderBy(F.desc("score"), "node_id")
        .limit(HITS_TOP_K)
    )
    wk = Window.orderBy(F.desc("score"), "node_id")  # k rows only
    auth = auth_top.select(
        F.lit("authority").alias("kind"),
        F.row_number().over(wk).cast("bigint").alias("rnk"),
        "node_id",
        "score",
    )
    hubs = hub_top.select(
        F.lit("hub").alias("kind"),
        F.row_number().over(wk).cast("bigint").alias("rnk"),
        "node_id",
        "score",
    )
    return auth.unionByName(hubs).orderBy("kind", "rnk")


GMM_ROUNDS = 2
_GMM_VAR_FLOOR = "0.000001"


def _gmm_oracle() -> str:
    r9 = lambda e: dround(e, 9)  # noqa: E731
    dens = (
        "(1.0 / sqrt(2.0 * pi() * {v})) * exp(-((x - {m}) * (x - {m})) / (2.0 * {v}))"
    )
    d1 = dens.format(m="mu1", v="var1")
    d2 = dens.format(m="mu2", v="var2")
    sql = f"""
    WITH x AS MATERIALIZED (
        SELECT value AS x FROM events
    ), init AS MATERIALIZED (
        SELECT {r9('quantile_cont(x, CAST(0.25 AS DOUBLE))')} AS mu1,
               {r9('quantile_cont(x, CAST(0.75 AS DOUBLE))')} AS mu2,
               {r9(f'GREATEST(var_samp(x), {_GMM_VAR_FLOOR})')} AS var1,
               {r9(f'GREATEST(var_samp(x), {_GMM_VAR_FLOOR})')} AS var2,
               CAST(0.5 AS DOUBLE) AS pi1
        FROM x
    ), p0 AS (SELECT mu1, mu2, var1, var2, pi1 FROM init)"""
    var1_e = (
        "GREATEST(SUM(r1 * x * x) / SUM(r1)"
        " - (SUM(r1 * x) / SUM(r1)) * (SUM(r1 * x) / SUM(r1)),"
        f" {_GMM_VAR_FLOOR})"
    )
    var2_e = (
        "GREATEST(SUM((1.0 - r1) * x * x) / SUM(1.0 - r1)"
        " - (SUM((1.0 - r1) * x) / SUM(1.0 - r1))"
        " * (SUM((1.0 - r1) * x) / SUM(1.0 - r1)),"
        f" {_GMM_VAR_FLOOR})"
    )
    for r in range(1, GMM_ROUNDS + 1):
        p = r - 1
        sql += f""", resp{r} AS (
        SELECT x,
               (pi1 * {d1}) / (pi1 * {d1} + (1.0 - pi1) * {d2}) AS r1
        FROM x, p{p}
    ), p{r} AS MATERIALIZED (
        SELECT {r9('SUM(r1 * x) / SUM(r1)')} AS mu1,
               {r9('SUM((1.0 - r1) * x) / SUM(1.0 - r1)')} AS mu2,
               {r9(var1_e)} AS var1,
               {r9(var2_e)} AS var2,
               {r9('AVG(r1)')} AS pi1
        FROM resp{r}
    ), ll{r} AS (
        SELECT {dround(f'AVG(ln(pi1 * {d1} + (1.0 - pi1) * {d2}))', 6)} AS avg_loglik
        FROM x, p{r}
    )"""
    selects = [
        f"SELECT {r} AS em_round, {dround('pi1', 6)} AS pi1,"
        f" {dround('mu1', 6)} AS mu1, {dround('var1', 4)} AS var1,"
        f" {dround('mu2', 6)} AS mu2, {dround('var2', 4)} AS var2,"
        f" avg_loglik FROM p{r}, ll{r}"
        for r in range(1, GMM_ROUNDS + 1)
    ]
    return sql + "\n" + "\nUNION ALL\n".join(selects) + "\nORDER BY em_round"


@query("ml_gmm_em_rounds", oracle=_gmm_oracle())
def ml_gmm_em_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-component 1-D Gaussian mixture fit to events.value by
    expectation-maximization, 2 unrolled rounds — the SOFT-assignment
    member of the iterative family (`kmeans_dataframe_lloyd` is the
    hard-EM limit; this carries full responsibilities). Init at the
    quartiles with the pooled variance, E-step responsibilities as a
    pure row expression against the 1-row broadcast parameter state,
    M-step as ONE full-scan aggregate computing all five sufficient
    statistics together (Σr, Σrx, Σrx² and complements — map-side
    combinable; var via the E[x²]−mu² identity so mu needs no second
    pass). Variance floored at 1e-6 on both engines — the EM collapse
    guard, same class as the zero-variance cell fix (r9 edge sweep #7).

    Parameters are 1e-9 lockstep-rounded per round; the reported
    average log-likelihood must be non-decreasing (EM's monotonicity —
    asserted against a direct Python EM in tests). exp/ln cross-engine
    agreement at this rounding is already load-bearing for the
    periodogram and perplexity entries.
    """
    events = load_table(spark, sf_dir, "events")
    x = checkpoint(events.select(F.col("value").alias("x")))
    floor_ = F.lit(float(_GMM_VAR_FLOOR))
    init = x.agg(
        hround(F.percentile("x", F.lit(0.25)), 9).alias("mu1"),
        hround(F.percentile("x", F.lit(0.75)), 9).alias("mu2"),
        hround(F.greatest(F.var_samp("x"), floor_), 9).alias("var1"),
        hround(F.greatest(F.var_samp("x"), floor_), 9).alias("var2"),
        F.lit(0.5).alias("pi1"),
    )

    def dens(m: str, v: str):
        return (
            F.lit(1.0)
            / F.sqrt(F.lit(2.0) * F.lit(math.pi) * F.col(v))
        ) * F.exp(
            -((F.col("x") - F.col(m)) * (F.col("x") - F.col(m)))
            / (F.lit(2.0) * F.col(v))
        )

    state = init
    out_rows: list[DataFrame] = []
    for r in range(1, GMM_ROUNDS + 1):
        d1, d2 = dens("mu1", "var1"), dens("mu2", "var2")
        r1 = (F.col("pi1") * d1) / (
            F.col("pi1") * d1 + (F.lit(1.0) - F.col("pi1")) * d2
        )
        resp = x.crossJoin(F.broadcast(state)).select("x", r1.alias("r1"))
        sr = F.sum("r1")
        sc = F.sum(F.lit(1.0) - F.col("r1"))
        srx = F.sum(F.col("r1") * F.col("x"))
        scx = F.sum((F.lit(1.0) - F.col("r1")) * F.col("x"))
        srx2 = F.sum(F.col("r1") * F.col("x") * F.col("x"))
        scx2 = F.sum((F.lit(1.0) - F.col("r1")) * F.col("x") * F.col("x"))
        state = checkpoint(resp.agg(
            hround(srx / sr, 9).alias("mu1"),
            hround(scx / sc, 9).alias("mu2"),
            hround(
                F.greatest(srx2 / sr - (srx / sr) * (srx / sr), floor_), 9
            ).alias("var1"),
            hround(
                F.greatest(scx2 / sc - (scx / sc) * (scx / sc), floor_), 9
            ).alias("var2"),
            hround(F.avg("r1"), 9).alias("pi1"),
        ))  # feeds loglik + next round
        d1n, d2n = dens("mu1", "var1"), dens("mu2", "var2")
        ll = (
            x.crossJoin(F.broadcast(state))
            .agg(
                hround(
                    F.avg(
                        F.log(
                            F.col("pi1") * d1n
                            + (F.lit(1.0) - F.col("pi1")) * d2n
                        )
                    ),
                    6,
                ).alias("avg_loglik")
            )
        )
        out_rows.append(
            state.crossJoin(F.broadcast(ll)).select(
                F.lit(r).alias("em_round"),
                hround("pi1", 6).alias("pi1"),
                hround("mu1", 6).alias("mu1"),
                hround("var1", 4).alias("var1"),
                hround("mu2", 6).alias("mu2"),
                hround("var2", 4).alias("var2"),
                "avg_loglik",
            )
        )
    out = out_rows[0]
    for o in out_rows[1:]:
        out = out.unionByName(o)
    return out.orderBy("em_round")


CONF_ALPHA = "0.9"


def _conformal_oracle() -> str:
    r9 = lambda e: dround(e, 9)  # noqa: E731
    beta_e = (
        "CASE WHEN var_pop(x) = 0 THEN 0.0"
        " ELSE covar_pop(x, y) / var_pop(x) END"
    )
    cov_e = (
        "AVG(CASE WHEN abs(c.y - (f.alpha + f.beta * c.x)) <= q.q90"
        " THEN 1.0 ELSE 0.0 END)"
    )
    return f"""
    WITH feats AS MATERIALIZED (
        SELECT doc_id % 2 AS half,
               CAST(n_chars AS DOUBLE) AS x,
               CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE) AS y
        FROM documents
    ), fit AS MATERIALIZED (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_cal,
               {r9(beta_e)} AS beta
        FROM feats WHERE half = 0
    ), fit2 AS MATERIALIZED (
        SELECT f.n_cal, f.beta,
               {r9('AVG(c.y) - f.beta * AVG(c.x)')} AS alpha
        FROM feats c, fit f WHERE c.half = 0
        GROUP BY f.n_cal, f.beta
    ), q AS MATERIALIZED (
        SELECT {r9(f'quantile_cont(abs(c.y - (f.alpha + f.beta * c.x)), CAST({CONF_ALPHA} AS DOUBLE))')}
                 AS q90
        FROM feats c, fit2 f WHERE c.half = 0
    ), cov AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
               {dround(cov_e, 6)} AS coverage
        FROM feats c, fit2 f, q WHERE c.half = 1
    )
    SELECT f.n_cal, c.n_test,
           {dround('f.beta', 6)} AS beta, {dround('f.alpha', 6)} AS alpha,
           {dround('q.q90', 6)} AS q90, c.coverage
    FROM fit2 f, q, cov c
    """


@query("ml_conformal_interval", oracle=_conformal_oracle())
def ml_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals around the one-feature OLS
    model tokens ~ n_chars (the corpus's one genuinely learnable
    relation): fit on the even-doc_id half, take the 0.9 quantile of
    absolute residuals on the SAME half as the interval radius, then
    report empirical coverage on the held-out odd half — the
    distribution-free uncertainty layer missing from the point-
    prediction ML entries (`ml_gd_linreg_rounds` et al).

    Everything is closed-form single-pass aggregates: beta from
    covar_pop/var_pop (zero-variance calibration feature -> beta 0,
    intercept-only — the degenerate-input class), the radius from one
    interpolated percentile (F.percentile ≡ quantile_cont), coverage
    from one counting aggregate against the 3 broadcast scalars. The
    textbook finite-sample ceil((n+1)α)/n adjustment is deliberately
    omitted (documented): at corpus scale it shifts the quantile by
    <1e-3 and it would force a data-dependent percentile fraction,
    which neither engine accepts as an aggregate argument; coverage is
    therefore ≈α rather than the ≥α guarantee.

    The deterministic doc_id%2 split is the registry's standard
    (split_hash_deterministic); at 100 TB swap in the salted-hash
    split for robustness to id patterns.
    """
    docs = load_table(spark, sf_dir, "documents")
    feats = checkpoint(docs.select(
        (F.col("doc_id") % 2).alias("half"),
        F.col("n_chars").cast("double").alias("x"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0)
        ).cast("double").alias("y"),
    ))  # scanned by fit, quantile, coverage
    cal = feats.filter(F.col("half") == 0)
    fit = cal.agg(
        F.count(F.lit(1)).alias("n_cal"),
        hround(
            F.when(F.var_pop("x") == 0, F.lit(0.0)).otherwise(
                F.covar_pop("x", "y") / F.var_pop("x")
            ),
            9,
        ).alias("beta"),
    )
    fit2 = (
        cal.crossJoin(F.broadcast(fit))
        .groupBy("n_cal", "beta")
        .agg(hround(F.avg("y") - F.col("beta") * F.avg("x"), 9).alias("alpha"))
    )
    resid = F.abs(F.col("y") - (F.col("alpha") + F.col("beta") * F.col("x")))
    q = (
        cal.crossJoin(F.broadcast(fit2))
        .agg(hround(F.percentile(resid, F.lit(float(CONF_ALPHA))), 9).alias("q90"))
    )
    cov = (
        feats.filter(F.col("half") == 1)
        .crossJoin(F.broadcast(fit2))
        .crossJoin(F.broadcast(q))
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            hround(
                F.avg(F.when(resid <= F.col("q90"), 1.0).otherwise(0.0)), 6
            ).alias("coverage"),
        )
    )
    return (
        fit2.crossJoin(F.broadcast(q))
        .crossJoin(F.broadcast(cov))
        .select(
            "n_cal",
            "n_test",
            hround("beta", 6).alias("beta"),
            hround("alpha", 6).alias("alpha"),
            hround("q90", 6).alias("q90"),
            "coverage",
        )
    )


GLM_ROUNDS = 2


def _poisson_oracle() -> str:
    r9 = lambda e: dround(e, 9)  # noqa: E731
    dev_e = (
        "2.0 * SUM(CASE WHEN y > 0 THEN y * ln(y / mu) - (y - mu)"
        " ELSE mu END)"
    )
    b_e = (
        "(SUM(w) * SUM(w * x * z) - SUM(w * x) * SUM(w * z))"
        " / (SUM(w) * SUM(w * x * x) - SUM(w * x) * SUM(w * x))"
    )
    # Zero weighted x-variance (all events in one distinct hour-of-day)
    # must yield NULL on both engines, not ANSI divide-by-zero; NULLs
    # then propagate through a/mu/deviance identically.
    b_guard = "SUM(w) * SUM(w * x * x) - SUM(w * x) * SUM(w * x) > 0"
    a_e = "(SUM(w * z) - bnew * SUM(w * x)) / SUM(w)"
    sql = f"""
    WITH counts AS MATERIALIZED (
        SELECT CAST(hour(h) AS DOUBLE) AS x, y FROM (
            SELECT date_trunc('hour', ts) AS h,
                   CAST(COUNT(*) AS DOUBLE) AS y
            FROM events GROUP BY 1
        )
    ), p0 AS MATERIALIZED (
        SELECT {r9('ln(AVG(y))')} AS a, CAST(0.0 AS DOUBLE) AS b FROM counts
    )"""
    for r in range(1, GLM_ROUNDS + 1):
        p = r - 1
        sql += f""", work{r} AS (
        SELECT x, y,
               exp(a + b * x) AS mu,
               (a + b * x) + (y - exp(a + b * x)) / exp(a + b * x) AS z,
               exp(a + b * x) AS w
        FROM counts, p{p}
    ), bstep{r} AS MATERIALIZED (
        SELECT CASE WHEN {b_guard} THEN {r9(b_e)} END AS bnew
        FROM work{r}
    ), p{r} AS MATERIALIZED (
        SELECT {r9(a_e)} AS a, bnew AS b
        FROM work{r}, bstep{r} GROUP BY bnew
    ), dev{r} AS (
        SELECT {dround(dev_e, 4)} AS deviance
        FROM (
            SELECT c.y, exp(p.a + p.b * c.x) AS mu FROM counts c, p{r} p
        )
    )"""
    selects = [
        f"SELECT {r} AS irls_round, {dround('a', 6)} AS intercept,"
        f" {dround('b', 6)} AS slope, deviance FROM p{r}, dev{r}"
        for r in range(1, GLM_ROUNDS + 1)
    ]
    return sql + "\n" + "\nUNION ALL\n".join(selects) + "\nORDER BY irls_round"


@query("ml_poisson_glm_irls", oracle=_poisson_oracle())
def ml_poisson_glm_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson regression with log link by IRLS — hourly event counts
    against hour-of-day, 2 unrolled Fisher-scoring rounds. The GLM
    member of the iterative family: unlike `ml_gd_linreg_rounds`
    (identity link, constant variance) each round reweights by the
    current mean (w = mu) and regresses the working response
    z = eta + (y − mu)/mu, and the single-feature normal equations
    solve in closed form (the 2x2 determinant — no matrix inverse
    operator needed, which is what keeps a GLM hash-checkable on both
    engines).

    The aggregation pipeline is the 100 TB shape: raw events collapse
    to the |hours| working table in ONE shuffle (745 rows for a month —
    bounded by the calendar, not the data), and each IRLS round is one
    pass over that table computing all five weighted sums together.
    Deviance 2Σ[y ln(y/mu) − (y − mu)] (y = 0 rows contribute mu)
    reported per round; mu = exp(eta) > 0 always, so no division
    guard is needed — the canonical-link advantage. The linear-in-hour
    model is deliberately misspecified for a 24h cycle (the honest
    periodogram verdict, ROUND_NOTES r7); the entry certifies the
    ALGORITHM, and the planted-exponential test certifies recovery.
    """
    events = load_table(spark, sf_dir, "events")
    counts = checkpoint(  # scanned per round + deviance
        events.groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("y"),
            F.first(F.hour("ts")).cast("double").alias("x"),
        )
        .select("x", "y")
    )
    state = counts.agg(
        hround(F.log(F.avg("y")), 9).alias("a"), F.lit(0.0).alias("b")
    )
    out_rows: list[DataFrame] = []
    for r in range(1, GLM_ROUNDS + 1):
        eta = F.col("a") + F.col("b") * F.col("x")
        mu = F.exp(eta)
        work = counts.crossJoin(F.broadcast(state)).select(
            "x",
            "y",
            mu.alias("mu"),
            (eta + (F.col("y") - mu) / mu).alias("z"),
            mu.alias("w"),
        )
        sw = F.sum("w")
        swx = F.sum(F.col("w") * F.col("x"))
        swz = F.sum(F.col("w") * F.col("z"))
        swxz = F.sum(F.col("w") * F.col("x") * F.col("z"))
        swxx = F.sum(F.col("w") * F.col("x") * F.col("x"))
        # Zero weighted x-variance (degenerate single-hour input) →
        # NULL slope on both engines, never ANSI divide-by-zero.
        bstep = work.agg(
            F.when(
                sw * swxx - swx * swx > 0,
                hround((sw * swxz - swx * swz) / (sw * swxx - swx * swx), 9),
            ).alias("bnew"),
        )
        state = (
            work.crossJoin(F.broadcast(bstep))
            .groupBy("bnew")
            .agg(
                hround(
                    (F.sum(F.col("w") * F.col("z")) - F.col("bnew") * F.sum(F.col("w") * F.col("x")))
                    / F.sum("w"),
                    9,
                ).alias("a")
            )
            .select("a", F.col("bnew").alias("b"))
        )
        mu2 = F.exp(F.col("a") + F.col("b") * F.col("x"))
        dev = (
            counts.crossJoin(F.broadcast(state))
            .agg(
                hround(
                    F.lit(2.0)
                    * F.sum(
                        F.when(
                            F.col("y") > 0,
                            F.col("y") * F.log(F.col("y") / mu2)
                            - (F.col("y") - mu2),
                        ).otherwise(mu2)
                    ),
                    4,
                ).alias("deviance")
            )
        )
        out_rows.append(
            state.crossJoin(F.broadcast(dev)).select(
                F.lit(r).alias("irls_round"),
                hround("a", 6).alias("intercept"),
                hround("b", 6).alias("slope"),
                "deviance",
            )
        )
    out = out_rows[0]
    for o in out_rows[1:]:
        out = out.unionByName(o)
    return out.orderBy("irls_round")


TAU_BINS = 10


def _kendall_oracle() -> str:
    tau_e = (
        "(cd.conc - cd.disc)"
        " / sqrt((m.n * (m.n - 1) / 2.0 - m.tx)"
        " * (m.n * (m.n - 1) / 2.0 - m.ty))"
    )
    # Fully-tied margin (single hour or single decile) makes the
    # denominator 0: NULL on both engines, never divide-by-zero.
    tau_guard = (
        "(m.n * (m.n - 1) / 2.0 - m.tx)"
        " * (m.n * (m.n - 1) / 2.0 - m.ty) > 0"
    )
    probs = ", ".join(
        f"CAST({b}.0/{TAU_BINS} AS DOUBLE)" for b in range(1, TAU_BINS)
    )
    return f"""
    WITH cuts AS (
        SELECT list_transform(quantile_cont(value, [{probs}]),
                              e -> {dround('e', 9)}) AS cs
        FROM events
    ), cells AS MATERIALIZED (
        SELECT hour(ts) AS h,
               1 + len(list_filter(cs, c -> value > c)) AS dec_,
               CAST(COUNT(*) AS DOUBLE) AS c
        FROM events, cuts
        GROUP BY 1, 2
    ), cd AS (
        SELECT SUM(CASE WHEN b.dec_ > a.dec_ THEN a.c * b.c ELSE 0.0 END) AS conc,
               SUM(CASE WHEN b.dec_ < a.dec_ THEN a.c * b.c ELSE 0.0 END) AS disc
        FROM cells a JOIN cells b ON b.h > a.h
    ), margins AS (
        SELECT (SELECT SUM(c) FROM cells) AS n,
               (SELECT SUM(r * (r - 1) / 2.0) FROM
                   (SELECT SUM(c) AS r FROM cells GROUP BY h)) AS tx,
               (SELECT SUM(s * (s - 1) / 2.0) FROM
                   (SELECT SUM(c) AS s FROM cells GROUP BY dec_)) AS ty
    )
    SELECT CAST(m.n AS BIGINT) AS n_events,
           CAST(cd.conc AS BIGINT) AS n_concordant,
           CAST(cd.disc AS BIGINT) AS n_discordant,
           CASE WHEN {tau_guard} THEN {dround(tau_e, 6)} END AS tau_b
    FROM cd, margins m
    """


@query("stats_kendall_tau_b", oracle=_kendall_oracle())
def stats_kendall_tau_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b rank correlation between hour-of-day and the
    value decile of events — the third rank-correlation family next to
    `stats_spearman_rank_corr` (rank linearity) and
    `stats_cramers_v_pairs` (pure association): tau counts concordant
    vs discordant PAIRS, with the tau-b tie correction for both
    margins.

    The naive statistic is an O(n²) pair scan; on a DISCRETIZED domain
    it collapses to the contingency table: concordant/discordant mass
    comes from one |cells|² self-join (24 hours x 10 deciles = 240
    cells → 57k cell pairs, a constant independent of data size) with
    the cell-count products summed in DOUBLE (pair counts exceed int64
    at warehouse scale), and tie terms from the margins. One grouped
    aggregate over the data, then arithmetic on the tiny cell table —
    the same counting-statistics shape as the MWU/KS entries. Deciles
    come from the interpolated-quantile cut idiom
    (`binning_equal_frequency_approx`), 1e-9-rounded before comparison.
    """
    events = load_table(spark, sf_dir, "events")
    probs = [b / TAU_BINS for b in range(1, TAU_BINS)]
    cuts = events.agg(
        F.transform(
            F.percentile("value", F.array(*[F.lit(p) for p in probs])),
            lambda e: hround(e, 9),
        ).alias("cs")
    )
    cells = checkpoint(  # self-joined + two margin scans
        events.crossJoin(F.broadcast(cuts))
        .groupBy(
            F.hour("ts").alias("h"),
            (
                F.lit(1) + F.size(F.filter("cs", lambda c: F.col("value") > c))
            ).alias("dec_"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    a = cells.select(F.col("h").alias("ha"), F.col("dec_").alias("da"), F.col("c").alias("ca"))
    b = cells.select(F.col("h").alias("hb"), F.col("dec_").alias("db"), F.col("c").alias("cb"))
    cd = (
        a.join(b, F.col("hb") > F.col("ha"))
        .agg(
            F.sum(
                F.when(F.col("db") > F.col("da"), F.col("ca") * F.col("cb")).otherwise(0.0)
            ).alias("conc"),
            F.sum(
                F.when(F.col("db") < F.col("da"), F.col("ca") * F.col("cb")).otherwise(0.0)
            ).alias("disc"),
        )
    )
    n = cells.agg(F.sum("c").alias("n"))
    tx = (
        cells.groupBy("h").agg(F.sum("c").alias("r"))
        .agg(F.sum(F.col("r") * (F.col("r") - 1) / 2.0).alias("tx"))
    )
    ty = (
        cells.groupBy("dec_").agg(F.sum("c").alias("s"))
        .agg(F.sum(F.col("s") * (F.col("s") - 1) / 2.0).alias("ty"))
    )
    n0 = F.col("n") * (F.col("n") - 1) / F.lit(2.0)
    # Tie-correction product is 0 when a margin is fully tied (all
    # events in one hour, or one decile): NULL tau, not ANSI div/0.
    tie_prod = (n0 - F.col("tx")) * (n0 - F.col("ty"))
    return (
        cd.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
        .select(
            F.col("n").cast("bigint").alias("n_events"),
            F.col("conc").cast("bigint").alias("n_concordant"),
            F.col("disc").cast("bigint").alias("n_discordant"),
            F.when(
                tie_prod > 0,
                hround(
                    (F.col("conc") - F.col("disc")) / F.sqrt(tie_prod), 6
                ),
            ).alias("tau_b"),
        )
    )
