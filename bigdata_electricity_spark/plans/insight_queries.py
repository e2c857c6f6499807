"""Lifecycle / frontier / anomaly analytics: survival curves, interval
algebra, skyline queries, seasonal-residual anomaly detection.

Extension surface beyond the reference (its analytics stop at grouped
aggregates and rank windows — SQLOperations.scala:39-153 has no
survival/interval/skyline shapes). Everything here is window+aggregate
composition: partitioned windows, no per-row Python, no global sorts on
unbounded inputs (the one global window in the skyline runs over the
per-spend-group table, which is aggregate-bounded, not row-bounded).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.rounding import dround, hround
from ..materialise import checkpoint
from ..sources.loaders import load_table
from .registry import query


@query(
    "survival_session_km",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR date_diff('second', LAG(ts) OVER w, ts) > 1800
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id,
               ts
        FROM flagged
    ), lifetimes AS (
        SELECT CAST(5 * floor(date_diff('second', MIN(ts), MAX(ts)) / 300.0)
                    AS BIGINT) AS t_min5,
               CASE WHEN MAX(ts) < (SELECT MAX(ts) - INTERVAL 30 MINUTE
                                    FROM events)
                    THEN 1 ELSE 0 END AS observed
        FROM sess GROUP BY user_id, session_id
    ), per_t AS (
        SELECT t_min5, COUNT(*) AS n_total,
               CAST(SUM(observed) AS BIGINT) AS n_events
        FROM lifetimes GROUP BY t_min5
    ), at_risk AS (
        SELECT t_min5, n_events,
               SUM(n_total) OVER (ORDER BY t_min5 DESC
                                  ROWS UNBOUNDED PRECEDING) AS n_risk
        FROM per_t
    ), factors AS (
        SELECT t_min5, n_events, n_risk,
               1.0 - CAST(n_events AS DOUBLE) / n_risk AS f
        FROM at_risk
    ), km AS (
        SELECT t_min5, n_events, n_risk,
               CASE WHEN MIN(f) OVER cum = 0.0 THEN 0.0
                    ELSE exp(SUM(ln(CASE WHEN f = 0.0 THEN 1.0 ELSE f END))
                             OVER cum)
               END AS surv
        FROM factors
        WINDOW cum AS (ORDER BY t_min5 ROWS UNBOUNDED PRECEDING)
    )
    SELECT t_min5, CAST(n_risk AS BIGINT) AS n_risk, n_events,
           {dround('surv', 6)} AS survival
    FROM km WHERE n_events > 0 ORDER BY t_min5
    """,
)
def survival_session_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of session lifetimes (5-minute grid).

    Sessions come from the 30-min-gap sessionizer (same island logic as
    `events_sessionization`); a session is right-censored when it runs
    into the end of the observation window (last event within 30 min of
    the corpus max ts — its true end was never observed). Death times
    are bucketed to a 5-minute grid and the product-limit estimator
    S(t) = prod_{t_i<=t} (1 - d_i/n_i) is evaluated per bucket via
    exp(cumsum(ln(factor))) with an explicit zero-factor guard — Spark
    has no product window aggregate, and this form keeps the cumulative
    product a partitioned-window primitive on both engines.

    Scale: sessionization windows are user-partitioned; the KM table
    itself is |distinct death buckets| rows (bounded by max session
    length / 5 min), so the final global window is trivially small.
    Censoring cutoff derives from a 1-row global max — broadcast join.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = events.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | ((F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))) > 1800),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    cutoff = events.agg(
        (F.max("ts") - F.expr("INTERVAL 30 MINUTE")).alias("cutoff_ts")
    )
    lifetimes = (
        sess.groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
        .crossJoin(F.broadcast(cutoff))
        .select(
            (
                5
                * F.floor(
                    (F.unix_timestamp("s_end") - F.unix_timestamp("s_start")) / F.lit(300.0)
                )
            )
            .cast("long")
            .alias("t_min5"),
            F.when(F.col("s_end") < F.col("cutoff_ts"), 1).otherwise(0).alias("observed"),
        )
    )
    per_t = lifetimes.groupBy("t_min5").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum("observed").cast("long").alias("n_events"),
    )
    at_risk = per_t.withColumn(
        "n_risk",
        F.sum("n_total").over(
            Window.orderBy(F.col("t_min5").desc()).rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    cum = Window.orderBy("t_min5").rowsBetween(Window.unboundedPreceding, 0)
    factors = at_risk.withColumn(
        "f", F.lit(1.0) - F.col("n_events").cast("double") / F.col("n_risk")
    )
    f_safe = F.when(F.col("f") == 0.0, F.lit(1.0)).otherwise(F.col("f"))
    km = factors.withColumn(
        "surv",
        F.when(F.min("f").over(cum) == 0.0, F.lit(0.0)).otherwise(
            F.exp(F.sum(F.log(f_safe)).over(cum))
        ),
    )
    return (
        km.filter(F.col("n_events") > 0)
        .select(
            "t_min5",
            F.col("n_risk").cast("long").alias("n_risk"),
            "n_events",
            hround("surv", 6).alias("survival"),
        )
        .orderBy("t_min5")
    )


@query(
    "intervals_user_active_runs",
    oracle="""
    WITH hours AS (
        SELECT DISTINCT user_id,
               CAST(floor(epoch(ts) / 3600.0) AS BIGINT) AS h
        FROM events
    ), flagged AS (
        SELECT user_id, h,
               CASE WHEN LAG(h) OVER (PARTITION BY user_id ORDER BY h)
                         IS NULL
                         OR h > LAG(h) OVER (PARTITION BY user_id ORDER BY h) + 1
                    THEN 1 ELSE 0 END AS new_island
        FROM hours
    ), islands AS (
        SELECT user_id, h,
               SUM(new_island) OVER (PARTITION BY user_id ORDER BY h
                                     ROWS UNBOUNDED PRECEDING) AS island_id
        FROM flagged
    ), merged AS (
        SELECT user_id, island_id,
               MAX(h) - MIN(h) + 1 AS run_len
        FROM islands GROUP BY user_id, island_id
    )
    SELECT user_id,
           COUNT(*) AS n_runs,
           CAST(SUM(run_len) AS BIGINT) AS active_hours,
           CAST(MAX(run_len) AS BIGINT) AS longest_run
    FROM merged GROUP BY user_id ORDER BY user_id
    """,
)
def intervals_user_active_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands over a sparse point set: maximal runs of
    consecutive active hours per user.

    The canonical island detection: distinct active hour indexes per
    user, flag a new island when the hour skips (h > prev + 1), running
    sum of flags as island id, roll up to run lengths. One
    user-partitioned window over the distinct-hour table — no calendar
    spine join, no explode of inactive hours (a dense 100 TB calendar
    cross join is the anti-pattern this replaces). All-integer output,
    exact cross-engine hash.
    """
    events = load_table(spark, sf_dir, "events")
    hours = events.select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / F.lit(3600.0)).cast("long").alias("h"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("h")
    flagged = hours.withColumn(
        "new_island",
        F.when(
            F.lag("h").over(w).isNull() | (F.col("h") > F.lag("h").over(w) + 1), 1
        ).otherwise(0),
    )
    islands = flagged.withColumn(
        "island_id",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    merged = islands.groupBy("user_id", "island_id").agg(
        (F.max("h") - F.min("h") + 1).alias("run_len")
    )
    return (
        merged.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_runs"),
            F.sum("run_len").cast("long").alias("active_hours"),
            F.max("run_len").cast("long").alias("longest_run"),
        )
        .orderBy("user_id")
    )


@query(
    "skyline_customer_frontier",
    oracle=f"""
    WITH per_cust AS (
        SELECT o_custkey,
               {dround('SUM(o_totalprice)', 2)} AS spend,
               MAX(CAST(o_orderdate AS DATE)) AS last_day
        FROM orders GROUP BY o_custkey
    ), per_spend AS (
        SELECT spend, MAX(last_day) AS best_day,
               DENSE_RANK() OVER (ORDER BY spend DESC) AS srank
        FROM per_cust GROUP BY spend
    ), frontier AS (
        SELECT spend, best_day,
               MAX(best_day) OVER (ORDER BY srank
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING) AS prev_best
        FROM per_spend
    )
    SELECT c.o_custkey AS custkey, c.spend, c.last_day
    FROM per_cust c
    JOIN frontier f
      ON c.spend = f.spend AND c.last_day = f.best_day
    WHERE f.prev_best IS NULL OR f.best_day > f.prev_best
    ORDER BY c.spend DESC, c.o_custkey
    """,
)
def skyline_customer_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier): customers not weakly dominated on
    (total spend, recency) — nobody else has >= spend AND >= last order
    date with at least one strict.

    Sort-based skyline without the O(n^2) dominance self-join, in the
    two-phase distributed form: phase 1 computes the LOCAL skyline per
    partition (a partition-dominated point is globally dominated, so
    this is a pure pruning step — a __pid-partitioned window, fully
    parallel); phase 2 runs the running-max frontier scan over the
    union of local skylines, which is O(partitions x frontier size),
    not O(distinct spends). Joining back on (spend, max date) recovers
    the customers.
    Spend is rounded BEFORE the frontier test on both engines so the
    ordering key is cross-engine stable (r6 MMR lesson).
    """
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        hround(F.sum("o_totalprice"), 2).alias("spend"),
        F.max(F.col("o_orderdate").cast("date")).alias("last_day"),
    )
    per_spend = per_cust.groupBy("spend").agg(F.max("last_day").alias("best_day"))
    # Phase 1 — local skyline per partition: a point dominated within its
    # partition is dominated globally, so the global pass only sees each
    # partition's frontier (typically O(log n) points). This is the
    # standard two-phase distributed skyline; it changes the plan, not
    # the result.
    wl = (
        Window.partitionBy(F.spark_partition_id())
        .orderBy(F.col("spend").desc(), F.col("best_day").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    per_spend = per_spend.withColumn("l_prev", F.max("best_day").over(wl)).filter(
        F.col("l_prev").isNull() | (F.col("best_day") > F.col("l_prev"))
    ).drop("l_prev")
    per_spend = per_spend.withColumn(
        "srank", F.dense_rank().over(Window.orderBy(F.col("spend").desc()))
    )
    frontier = (
        per_spend.withColumn(
            "prev_best",
            F.max("best_day").over(
                Window.orderBy("srank").rowsBetween(Window.unboundedPreceding, -1)
            ),
        )
        .filter(F.col("prev_best").isNull() | (F.col("best_day") > F.col("prev_best")))
        .select(F.col("spend").alias("f_spend"), F.col("best_day").alias("f_day"))
    )
    return (
        per_cust.join(
            F.broadcast(frontier),
            on=[
                F.col("spend") == F.col("f_spend"),
                F.col("last_day") == F.col("f_day"),
            ],
        )
        .select(
            F.col("o_custkey").alias("custkey"),
            "spend",
            "last_day",
        )
        .orderBy(F.col("spend").desc(), "custkey")
    )


@query(
    "anomaly_seasonal_residual",
    oracle=f"""
    WITH cells AS (
        SELECT dayofweek(ts) + 1 AS dow, hour(ts) AS h,
               AVG(value) AS m, STDDEV_SAMP(value) AS s
        FROM events GROUP BY 1, 2
    ), scored AS (
        SELECT e.event_type, dayofweek(e.ts) + 1 AS dow,
               CASE WHEN c.s > 0
                    THEN {dround('abs((e.value - c.m) / c.s)', 4)} END AS abs_z
        FROM events e
        JOIN cells c ON dayofweek(e.ts) + 1 = c.dow AND hour(e.ts) = c.h
    )
    SELECT event_type, CAST(dow AS INT) AS dow,
           COUNT(*) AS n_events,
           CAST(COUNT(*) FILTER (WHERE abs_z > 3.0) AS BIGINT) AS n_anomalies,
           MAX(abs_z) AS max_abs_z
    FROM scored GROUP BY event_type, dow ORDER BY event_type, dow
    """,
)
def anomaly_seasonal_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-residual anomaly detection: z-score each event against
    its hour-of-week cell profile (168 cells), flag |z| > 3.

    The STL-lite pattern: the seasonal component is the cell mean, the
    residual scale the cell sample-stddev; anomalies are 3-sigma
    residuals. Complements `events_rolling_anomaly` (trailing-window
    baseline): this baseline is periodic, catching "normal for 3am
    Sunday, anomalous for 3pm Monday" cases a trailing window blurs.
    The 168-row profile broadcast-joins back to events — one shuffle
    for the profile agg, map-side scoring after. |z| is rounded to 4
    decimals BEFORE the threshold and max on both engines so the
    flag count can't flap on float noise. A zero-variance cell (all
    values equal, or a single event → NULL stddev) has no z-scale:
    abs_z is NULL there on both engines — never an ANSI
    divide-by-zero (Spark) or ±inf (DuckDB); such rows still count
    in n_events but can't be anomalies (the wide-net tie sweep
    caught the unguarded division).
    """
    events = load_table(spark, sf_dir, "events")
    cells = events.groupBy(
        F.dayofweek("ts").alias("dow"), F.hour("ts").alias("h")
    ).agg(F.avg("value").alias("m"), F.stddev_samp("value").alias("s"))
    scored = events.join(
        F.broadcast(cells),
        on=[F.dayofweek(events.ts) == cells.dow, F.hour(events.ts) == cells.h],
    ).select(
        "event_type",
        cells.dow.alias("dow"),
        F.when(
            F.col("s") > 0,
            hround(F.abs((F.col("value") - F.col("m")) / F.col("s")), 4),
        ).alias("abs_z"),
    )
    return (
        scored.groupBy("event_type", "dow")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("abs_z") > 3.0, 1).otherwise(0)).cast("long").alias("n_anomalies"),
            F.max("abs_z").alias("max_abs_z"),
        )
        .select(
            "event_type",
            F.col("dow").cast("int").alias("dow"),
            "n_events",
            "n_anomalies",
            "max_abs_z",
        )
        .orderBy("event_type", "dow")
    )


def _pca_oracle() -> str:
    """Unrolled power-iteration twin. Every covariance cell and every
    iterate component is half-up rounded at 1e-9 on both engines (the
    kmeans_dataframe_lloyd idiom), so cross-engine float-sum noise
    (~1e-13) can never drift the iteration."""
    r9 = lambda e: dround(e, 9)  # noqa: E731
    sql = f"""
    WITH x AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS j,
               unnest(embedding) AS xv
        FROM embeddings
    ), mu AS (
        SELECT j, AVG(xv) AS m FROM x GROUP BY j
    ), cent AS (
        SELECT x.vec_id, x.j, x.xv - mu.m AS xc FROM x JOIN mu USING (j)
    ), cov AS (
        SELECT a.j AS j, b.j AS k,
               {r9('SUM(a.xc * b.xc) / ((SELECT COUNT(*) FROM embeddings) - 1)')} AS c
        FROM cent a JOIN cent b ON a.vec_id = b.vec_id
        GROUP BY a.j, b.j
    ), v0 AS (
        SELECT j, CAST(0.125 AS DOUBLE) AS v FROM mu
    )"""
    prev = "v0"
    for i in (1, 2, 3):
        sql += f""", w{i} AS (
        SELECT cov.j, SUM(cov.c * {prev}.v) AS w
        FROM cov JOIN {prev} ON cov.k = {prev}.j GROUP BY cov.j
    ), v{i} AS (
        SELECT j, {r9(f'w / sqrt((SELECT SUM(w * w) FROM w{i}))')} AS v FROM w{i}
    )"""
        prev = f"v{i}"
    sql += f""", wl AS (
        SELECT cov.j, SUM(cov.c * v3.v) AS w
        FROM cov JOIN v3 ON cov.k = v3.j GROUP BY cov.j
    ), lam AS (
        SELECT {dround('SUM(v3.v * wl.w)', 6)} AS eigval
        FROM v3 JOIN wl USING (j)
    ), sgn AS (
        SELECT CASE WHEN v < 0.0 THEN -1.0 ELSE 1.0 END AS s
        FROM v3 ORDER BY abs(v) DESC, j LIMIT 1
    )
    SELECT CAST(v3.j AS INT) AS dim_j,
           {dround('v3.v * sgn.s', 6)} AS loading,
           lam.eigval
    FROM v3, sgn, lam
    ORDER BY dim_j
    """
    return sql


@query("embedding_pca_top_component", oracle=_pca_oracle())
def embedding_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the 64-dim embedding cloud: sample
    covariance matrix + 3 unrolled power-iteration rounds, entirely as
    declarative joins/aggregates.

    Rounding at 1e-9 after the covariance and after each normalized
    iterate keeps both engines in float lockstep (the iterative-
    algorithm-as-hashable-query idiom from kmeans_dataframe_lloyd);
    the sign is fixed by the largest-|loading| component so the
    eigenvector's inherent sign ambiguity can't flip the hash.

    Scale: the covariance build here is an explode + self-join on
    vec_id (d^2 rows per vector) — fine for d=64 at test SFs and fully
    declarative for the oracle; at 100 TB replace the self-join with
    per-partition Gram-matrix partials (mapInPandas emitting d^2-cell
    partial sums, one final d^2-row reduce — O(d^2) state per task,
    corpus scanned once). Power iteration cost is |d^2| per round
    regardless of corpus size.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    x = emb.select(
        "vec_id", F.posexplode("embedding").alias("p", "xv")
    ).select("vec_id", (F.col("p") + 1).alias("j"), "xv")
    mu = x.groupBy("j").agg(F.avg("xv").alias("m"))
    cent = x.join(F.broadcast(mu), "j").select(
        "vec_id", "j", (F.col("xv") - F.col("m")).alias("xc")
    )
    a = cent.select("vec_id", F.col("j").alias("cj"), F.col("xc").alias("xa"))
    b = cent.select("vec_id", F.col("j").alias("ck"), F.col("xc").alias("xb"))
    # Referenced by every iteration + the Rayleigh quotient; without
    # lineage truncation the 20M-row covariance join re-executes per
    # reference (Catalyst does not CSE whole subplans across joins).
    cov = checkpoint(
        a.join(b, "vec_id")
        .groupBy(F.col("cj").alias("j"), F.col("ck").alias("k"))
        .agg(hround(F.sum(F.col("xa") * F.col("xb")) / F.lit(float(n - 1)), 9).alias("c"))
    )
    v = mu.select("j", F.lit(0.125).alias("v"))
    for _ in range(3):
        w = (
            cov.join(F.broadcast(v.select(F.col("j").alias("k"), "v")), "k")
            .groupBy("j")
            .agg(F.sum(F.col("c") * F.col("v")).alias("w"))
        )
        norm = w.agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
        v = w.crossJoin(F.broadcast(norm)).select(
            "j", hround(F.col("w") / F.col("nrm"), 9).alias("v")
        )
    wl = (
        cov.join(F.broadcast(v.select(F.col("j").alias("k"), "v")), "k")
        .groupBy("j")
        .agg(F.sum(F.col("c") * F.col("v")).alias("w"))
    )
    lam = (
        v.join(wl, "j")
        .agg(hround(F.sum(F.col("v") * F.col("w")), 6).alias("eigval"))
    )
    sgn = (
        v.orderBy(F.abs("v").desc(), "j")
        .limit(1)
        .select(F.when(F.col("v") < 0.0, F.lit(-1.0)).otherwise(F.lit(1.0)).alias("s"))
    )
    return (
        v.crossJoin(F.broadcast(sgn))
        .crossJoin(F.broadcast(lam))
        .select(
            F.col("j").cast("int").alias("dim_j"),
            hround(F.col("v") * F.col("s"), 6).alias("loading"),
            "eigval",
        )
        .orderBy("dim_j")
    )


KCORE_K = 3
KCORE_ROUNDS = 10


def _kcore_oracle() -> str:
    """Unrolled peel rounds; same trajectory both engines regardless of
    whether the peel converges within the unroll budget."""
    sql = """
    WITH e0 AS MATERIALIZED (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    )"""
    for r in range(1, KCORE_ROUNDS + 1):
        p = r - 1
        sql += f""", d{r} AS MATERIALIZED (
        SELECT node, COUNT(*) AS deg
        FROM (SELECT u AS node FROM e{p} UNION ALL SELECT v FROM e{p})
        GROUP BY node
    ), bad{r} AS MATERIALIZED (
        SELECT node FROM d{r} WHERE deg < {KCORE_K}
    ), e{r} AS MATERIALIZED (
        SELECT u, v FROM e{p}
        WHERE u NOT IN (SELECT node FROM bad{r})
          AND v NOT IN (SELECT node FROM bad{r})
    )"""
    selects = [
        f"""SELECT {r} AS peel_round,
           (SELECT COUNT(*) FROM bad{r}) AS n_removed,
           (SELECT COUNT(*) FROM (SELECT u AS n FROM e{r}
                                  UNION SELECT v FROM e{r})) AS n_nodes_after,
           (SELECT COUNT(*) FROM e{r}) AS n_edges_after"""
        for r in range(1, KCORE_ROUNDS + 1)
    ]
    return sql + "\n" + "\nUNION ALL\n".join(selects) + "\nORDER BY peel_round"


@query("graph_kcore_peel", oracle=_kcore_oracle())
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core decomposition by iterative peeling (k=3) of the part
    co-purchase graph (parts co-occurring >= 2x in the same order),
    reported as the full peel trajectory: per round, nodes removed
    (degree < k), then surviving nodes/edges.

    10 unrolled rounds — enough for convergence at test SFs (measured:
    8 at sf0.01); an unconverged graph still yields a deterministic,
    identical trajectory on both engines, so the oracle hash can't
    drift with SF. Each round is one degree count (explode both
    endpoints + groupBy) and two broadcast anti-joins — no driver-side
    graph. Lineage is truncated per round via lazy localCheckpoint
    (the `connected_components` idiom — without it the iterated plan
    tree grows geometrically). Graph ops family: see
    `graph_pagerank_nations`, `graph_triangle_stats`,
    `dedup_cc_clusters`.
    """
    li = load_table(spark, sf_dir, "lineitem")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    edges = checkpoint(
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .select("u", "v")
    )
    stats: list[DataFrame] = []
    for r in range(1, KCORE_ROUNDS + 1):
        deg = (
            edges.select(F.explode(F.array("u", "v")).alias("node"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        bad = deg.filter(F.col("deg") < KCORE_K).select("node")
        edges = checkpoint(
            edges.join(F.broadcast(bad), edges.u == bad.node, "left_anti")
            .join(F.broadcast(bad), F.col("v") == bad.node, "left_anti")
        )
        n_removed = bad.agg(F.count(F.lit(1)).alias("n_removed"))
        n_nodes = (
            edges.select(F.col("u").alias("n"))
            .union(edges.select(F.col("v").alias("n")))
            .distinct()
            .agg(F.count(F.lit(1)).alias("n_nodes_after"))
        )
        n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges_after"))
        stats.append(
            n_removed.crossJoin(n_nodes)
            .crossJoin(n_edges)
            .select(
                F.lit(r).alias("peel_round"),
                "n_removed",
                "n_nodes_after",
                "n_edges_after",
            )
        )
    out = stats[0]
    for s in stats[1:]:
        out = out.unionByName(s)
    return out.orderBy("peel_round")


BOOT_B = 64
# Cumulative Poisson(1) CDF at k = 0..7; draws above the last threshold
# cap at 8. Literals are exact IEEE doubles, identical on both engines.
_POIS1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
    0.9999897508033253,
)


def _bootstrap_oracle() -> str:
    # Five 6-hex draws per md5: chunk = (b-1) div 5 selects the hash,
    # j = (b-1) mod 5 the 6-hex slice — mirrors the Spark side exactly.
    u = (
        "CAST(CAST(('0x' || substr(md5('bs' || CAST(o_orderkey AS VARCHAR) || ':' ||"
        " CAST((b - 1) // 5 AS VARCHAR)), ((b - 1) % 5) * 6 + 1, 6)) AS BIGINT)"
        " AS DOUBLE) / 16777216.0"
    )
    ladder = " ".join(
        f"WHEN u < CAST({t!r} AS DOUBLE) THEN {k}" for k, t in enumerate(_POIS1_CDF)
    )
    return f"""
    WITH expanded AS (
        SELECT o_orderkey, o_totalprice, b, {u} AS u
        FROM orders CROSS JOIN (SELECT unnest(generate_series(1, {BOOT_B})) AS b)
    ), weighted AS (
        SELECT b, o_totalprice, CASE {ladder} ELSE 8 END AS w FROM expanded
    ), reps AS (
        SELECT b, CASE WHEN SUM(w) > 0
                       THEN {dround('SUM(w * o_totalprice) / SUM(w)', 9)}
                  END AS m_b
        FROM weighted GROUP BY b
        HAVING SUM(w) > 0
    ), ranked AS (
        SELECT m_b, ROW_NUMBER() OVER (ORDER BY m_b, b) AS rn FROM reps
    )
    SELECT (SELECT COUNT(*) FROM orders) AS n_orders,
           {BOOT_B} AS boot_reps,
           (SELECT {dround('AVG(o_totalprice)', 4)} FROM orders) AS mean_full,
           (SELECT {dround('m_b', 4)} FROM ranked WHERE rn = 2) AS ci_lo,
           (SELECT {dround('m_b', 4)} FROM ranked WHERE rn = {BOOT_B - 1}) AS ci_hi
    """


@query("stats_bootstrap_ci_mean", oracle=_bootstrap_oracle())
def stats_bootstrap_ci_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap confidence interval for mean(o_totalprice) via the
    Poisson bootstrap — the resampling scheme that distributes: instead
    of drawing n rows with replacement (impossible without global
    coordination), each row enters replica b with weight ~ Poisson(1),
    derived here from a salted md5 draw so the resample is
    content-addressed and engine-independent (the
    `sample_hash_bernoulli` trick, lifted to weighted resampling).

    One explode to n x B rows, one groupBy(b) for replica means — fully
    map-side-combinable; the CI is order statistics 2 and B-1 of the 64
    replica means (ceil(0.025*B) from each tail, no interpolation —
    interpolated quantile definitions differ across engines). Replica
    means are 1e-9-rounded before ranking so float-sum order can't swap
    near-equal ranks. At 100 TB: B explodes the scan, not the shuffle —
    the shuffle carries B partial aggregates per map task.

    md5 is the only portable RNG the two engines share, and it
    dominated the runtime at one hash per (row, replica). A 128-bit
    digest holds five independent 24-bit draws, so the hash explodes in
    two levels — 13 chunk hashes per row, then 5 six-hex slices per
    hash ((b-1) div 5 picks the chunk, (b-1) mod 5 the slice) — cutting
    md5 calls 64 → 13 per row (measured 7.2s → 5.0s steady at sf0.1;
    the residual cost is the n×B explode plus per-draw hex-parse, which
    scale with B regardless of hashing; draw independence is unchanged
    because distinct (chunk, slice) pairs never reuse digest bits).
    """
    orders = load_table(spark, sf_dir, "orders")
    n_chunks = (BOOT_B + 4) // 5
    chunked = orders.select(
        "o_orderkey",
        "o_totalprice",
        F.explode(F.sequence(F.lit(0), F.lit(n_chunks - 1))).alias("chunk"),
    ).withColumn(
        "h",
        F.md5(
            F.concat(
                F.lit("bs"),
                F.col("o_orderkey").cast("string"),
                F.lit(":"),
                F.col("chunk").cast("string"),
            )
        ),
    )
    expanded = (
        chunked.select(
            "o_totalprice",
            "chunk",
            "h",
            F.explode(F.sequence(F.lit(0), F.lit(4))).alias("j"),
        )
        .withColumn("b", F.col("chunk") * 5 + F.col("j") + 1)
        .filter(F.col("b") <= BOOT_B)
        .withColumn(
            "u",
            F.conv(
                F.substring(F.col("h"), F.col("j") * 6 + 1, F.lit(6)),
                16,
                10,
            ).cast("long")
            / F.lit(16777216.0),
        )
    )
    w = F.lit(8)
    for k in range(len(_POIS1_CDF) - 1, -1, -1):
        w = F.when(F.col("u") < F.lit(_POIS1_CDF[k]), F.lit(k)).otherwise(w)
    reps = (
        expanded.withColumn("w", w)
        .groupBy("b")
        .agg(
            F.when(
                F.sum("w") > 0,
                hround(F.sum(F.col("w") * F.col("o_totalprice")) / F.sum("w"), 9),
            ).alias("m_b")
        )
        .filter(F.col("m_b").isNotNull())  # all-zero-weight replica (P = e^-n)
    )
    ranked = reps.withColumn("rn", F.row_number().over(Window.orderBy("m_b", "b")))
    full = orders.agg(
        F.count(F.lit(1)).alias("n_orders"),
        hround(F.avg("o_totalprice"), 4).alias("mean_full"),
    )
    lo = ranked.filter(F.col("rn") == 2).select(hround("m_b", 4).alias("ci_lo"))
    hi = ranked.filter(F.col("rn") == BOOT_B - 1).select(hround("m_b", 4).alias("ci_hi"))
    return (
        full.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            "n_orders",
            F.lit(BOOT_B).alias("boot_reps"),
            "mean_full",
            "ci_lo",
            "ci_hi",
        )
    )


@query(
    "stats_mutual_information",
    oracle=f"""
    WITH cells AS (
        SELECT event_type AS x, dayofweek(ts) + 1 AS y, COUNT(*) AS c
        FROM events GROUP BY 1, 2
    ), tot AS (
        SELECT CAST(SUM(c) AS DOUBLE) AS n FROM cells
    ), px AS (
        SELECT x, SUM(c) AS cx FROM cells GROUP BY x
    ), py AS (
        SELECT y, SUM(c) AS cy FROM cells GROUP BY y
    ), joined AS (
        SELECT cells.c, px.cx, py.cy, tot.n
        FROM cells JOIN px USING (x) JOIN py USING (y), tot
    ), agg AS (
        SELECT MAX(n) AS n,
               SUM((c / n) * ln((c * n) / (CAST(cx AS DOUBLE) * cy))) AS mi
        FROM joined
    ), hx AS (
        SELECT -SUM((cx / tot.n) * ln(cx / tot.n)) AS h FROM px, tot
    ), hy AS (
        SELECT -SUM((cy / tot.n) * ln(cy / tot.n)) AS h FROM py, tot
    )
    SELECT CAST(agg.n AS BIGINT) AS n_events,
           {dround('hx.h', 6)} AS h_event_type,
           {dround('hy.h', 6)} AS h_dow,
           {dround('agg.mi', 6)} AS mi_nats,
           {dround('agg.mi / sqrt(hx.h * hy.h)', 6)} AS nmi
    FROM agg, hx, hy
    """,
)
def stats_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (nats) between event_type and day-of-week,
    with both marginal entropies and the sqrt-normalized NMI.

    Dependence detection complementary to `abtest_chi_square_dow`: MI
    measures *how much* the joint deviates from independence in
    information units, not just whether. Everything reduces over the
    |X|x|Y| contingency cells (35 rows here): one corpus-scan groupBy,
    then all probability math happens on the tiny cell table —
    marginals are grouped sums of the cells, never a second scan.
    ln() noise is 1-ulp per term; rounding at 1e-6 over <=35 terms is
    noise-proof.
    """
    events = load_table(spark, sf_dir, "events")
    cells = events.groupBy(
        F.col("event_type").alias("x"), F.dayofweek("ts").alias("y")
    ).agg(F.count(F.lit(1)).alias("c"))
    tot = cells.agg(F.sum("c").cast("double").alias("n"))
    px = cells.groupBy("x").agg(F.sum("c").alias("cx"))
    py = cells.groupBy("y").agg(F.sum("c").alias("cy"))
    joined = (
        cells.join(F.broadcast(px), "x")
        .join(F.broadcast(py), "y")
        .crossJoin(F.broadcast(tot))
    )
    agg = joined.agg(
        F.max("n").alias("n"),
        F.sum(
            (F.col("c") / F.col("n"))
            * F.log((F.col("c") * F.col("n")) / (F.col("cx").cast("double") * F.col("cy")))
        ).alias("mi"),
    )
    hx = (
        px.crossJoin(F.broadcast(tot))
        .agg((-F.sum((F.col("cx") / F.col("n")) * F.log(F.col("cx") / F.col("n")))).alias("hx"))
    )
    hy = (
        py.crossJoin(F.broadcast(tot))
        .agg((-F.sum((F.col("cy") / F.col("n")) * F.log(F.col("cy") / F.col("n")))).alias("hy"))
    )
    return (
        agg.crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .select(
            F.col("n").cast("long").alias("n_events"),
            hround("hx", 6).alias("h_event_type"),
            hround("hy", 6).alias("h_dow"),
            hround("mi", 6).alias("mi_nats"),
            hround(F.col("mi") / F.sqrt(F.col("hx") * F.col("hy")), 6).alias("nmi"),
        )
    )


GD_ROUNDS = 5
GD_LR = 0.3


def _gd_oracle() -> str:
    r9 = lambda e: dround(e, 9)  # noqa: E731
    sql = f"""
    WITH feats AS MATERIALIZED (
        SELECT len(string_split(text, ' ')) AS f1,
               len(list_distinct(string_split(text, ' '))) AS f2,
               CAST(n_chars AS DOUBLE) AS fy
        FROM documents
    ), stats AS MATERIALIZED (
        SELECT {r9('AVG(f1)')} AS m1, {r9('STDDEV_SAMP(f1)')} AS s1,
               {r9('AVG(f2)')} AS m2, {r9('STDDEV_SAMP(f2)')} AS s2,
               {r9('AVG(fy)')} AS my, {r9('STDDEV_SAMP(fy)')} AS sy,
               CAST(COUNT(*) AS DOUBLE) AS n
        FROM feats
    ), d AS MATERIALIZED (
        SELECT (f1 - m1) / s1 AS x1,
               (f2 - m2) / s2 AS x2,
               (fy - my) / sy AS y,
               n
        FROM feats, stats
    ), p0 AS (SELECT CAST(0.0 AS DOUBLE) AS w1, CAST(0.0 AS DOUBLE) AS w2,
                     CAST(0.0 AS DOUBLE) AS b)"""
    for r in range(1, GD_ROUNDS + 1):
        p = r - 1
        sql += f""", g{r} AS (
        SELECT {r9(f'w1 - {GD_LR} * 2.0 / MAX(d.n) * SUM((w1*x1 + w2*x2 + b - y) * x1)')} AS w1,
               {r9(f'w2 - {GD_LR} * 2.0 / MAX(d.n) * SUM((w1*x1 + w2*x2 + b - y) * x2)')} AS w2,
               {r9(f'b - {GD_LR} * 2.0 / MAX(d.n) * SUM(w1*x1 + w2*x2 + b - y)')} AS b
        FROM d, p{p} GROUP BY w1, w2, b
    ), p{r} AS (SELECT w1, w2, b FROM g{r})
    , e{r} AS (
        SELECT {dround('AVG((w1*x1 + w2*x2 + b - y) * (w1*x1 + w2*x2 + b - y))', 6)} AS mse
        FROM d, p{r}
    )"""
    selects = [
        f"SELECT {r} AS gd_round, {dround('w1', 6)} AS w1, {dround('w2', 6)} AS w2,"
        f" {dround('b', 6)} AS b, e{r}.mse FROM p{r}, e{r}"
        for r in range(1, GD_ROUNDS + 1)
    ]
    return sql + "\n" + "\nUNION ALL\n".join(selects) + "\nORDER BY gd_round"


@query("ml_gd_linreg_rounds", oracle=_gd_oracle())
def ml_gd_linreg_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gradient descent for linear regression (standardized
    n_chars ~ token count + distinct-token count over documents — a
    genuinely learnable relation, corr ~0.998), 5 unrolled rounds, as
    pure scan+aggregate plans — the optimizer-as-declarative-query
    member of the iterative family (`kmeans_dataframe_lloyd` = EM,
    `embedding_pca_top_component` = power iteration, this = GD).

    Each round is ONE full-scan aggregate (three gradient sums computed
    together, map-side combinable) against the 1-row broadcast
    parameter table, plus one MSE scan for the trajectory report —
    exactly how distributed GD runs at 100 TB (the gradient is an
    aggregate; parameters are the broadcast state). Standardization
    stats and each parameter update are 1e-9 half-up rounded on both
    engines (float-lockstep idiom), so the whole 5-round trajectory is
    hash-checkable.
    """
    docs = load_table(spark, sf_dir, "documents")
    feats = docs.select(F.split("text", " ").alias("toks"), "n_chars").select(
        F.size("toks").alias("f1"),
        F.size(F.array_distinct("toks")).alias("f2"),
        F.col("n_chars").cast("double").alias("fy"),
    )
    stats = feats.agg(
        hround(F.avg("f1"), 9).alias("m1"),
        hround(F.stddev_samp("f1"), 9).alias("s1"),
        hround(F.avg("f2"), 9).alias("m2"),
        hround(F.stddev_samp("f2"), 9).alias("s2"),
        hround(F.avg("fy"), 9).alias("my"),
        hround(F.stddev_samp("fy"), 9).alias("sy"),
        F.count(F.lit(1)).cast("double").alias("n"),
    )
    d = checkpoint(feats.crossJoin(F.broadcast(stats)).select(
        ((F.col("f1") - F.col("m1")) / F.col("s1")).alias("x1"),
        ((F.col("f2") - F.col("m2")) / F.col("s2")).alias("x2"),
        ((F.col("fy") - F.col("my")) / F.col("sy")).alias("y"),
        "n",
    ))  # referenced 2x per GD round
    p = stats.select(
        F.lit(0.0).alias("w1"), F.lit(0.0).alias("w2"), F.lit(0.0).alias("b")
    )
    out_rows: list[DataFrame] = []
    for r in range(1, GD_ROUNDS + 1):
        resid = F.col("w1") * F.col("x1") + F.col("w2") * F.col("x2") + F.col("b") - F.col("y")
        step = F.lit(GD_LR) * F.lit(2.0) / F.max("n")
        p = (
            d.crossJoin(F.broadcast(p))
            .groupBy("w1", "w2", "b")
            .agg(
                hround(F.col("w1") - step * F.sum(resid * F.col("x1")), 9).alias("nw1"),
                hround(F.col("w2") - step * F.sum(resid * F.col("x2")), 9).alias("nw2"),
                hround(F.col("b") - step * F.sum(resid), 9).alias("nb"),
            )
            .select(
                F.col("nw1").alias("w1"), F.col("nw2").alias("w2"), F.col("nb").alias("b")
            )
        )
        mse = (
            d.crossJoin(F.broadcast(p))
            .agg(hround(F.avg(resid * resid), 6).alias("mse"))
        )
        out_rows.append(
            p.crossJoin(F.broadcast(mse)).select(
                F.lit(r).alias("gd_round"),
                hround("w1", 6).alias("w1"),
                hround("w2", 6).alias("w2"),
                hround("b", 6).alias("b"),
                "mse",
            )
        )
    out = out_rows[0]
    for o in out_rows[1:]:
        out = out.unionByName(o)
    return out.orderBy("gd_round")


@query(
    "ml_isotonic_fit",
    oracle=f"""
    WITH g AS (
        SELECT l_quantity AS x, COUNT(*) AS w, SUM(l_extendedprice) AS s
        FROM lineitem GROUP BY l_quantity
    ), ordered AS (
        SELECT x, w, s,
               ROW_NUMBER() OVER (ORDER BY x) AS idx,
               SUM(w) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cw,
               SUM(s) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cs
        FROM g
    ), pairs AS (
        SELECT i.idx AS i, j.idx AS j,
               {dround('(j.cs - i.cs + i.s) / (j.cw - i.cw + i.w)', 9)} AS a
        FROM ordered i JOIN ordered j ON i.idx <= j.idx
    ), suffix_min AS (
        SELECT i, j,
               MIN(a) OVER (PARTITION BY i ORDER BY j DESC
                            ROWS UNBOUNDED PRECEDING) AS b
        FROM pairs
    ), fitted AS (
        SELECT j AS idx, MAX(b) AS fit FROM suffix_min GROUP BY j
    )
    SELECT o.x, CAST(o.w AS BIGINT) AS n_obs,
           {dround('o.s / o.w', 6)} AS raw_avg,
           {dround('f.fit', 6)} AS iso_fit
    FROM ordered o JOIN fitted f ON o.idx = f.idx
    ORDER BY o.x
    """,
)
def ml_isotonic_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted isotonic regression of avg(l_extendedprice) on
    l_quantity via the closed-form minimax characterization of the PAV
    solution: fit(k) = max_{{i<=k}} min_{{j>=k}} wavg(y[i..j]) — no
    iterative pooling, just prefix sums, one bounded non-equi
    self-join, a suffix-min window, and a grouped max.

    The heavy lifting (groupBy x) reduces the corpus to |distinct x|
    rows (<=50 quantity levels) BEFORE any quadratic work, so the
    O(|x|^2) interval table is tiny and independent of corpus size —
    the right shape at 100 TB (never PAV over raw rows). Interval
    averages are 1e-9-rounded before min/max so cross-engine float
    noise can't flip the argmin. Output is the monotone step fit next
    to the raw per-level average.
    """
    li = load_table(spark, sf_dir, "lineitem")
    g = li.groupBy(F.col("l_quantity").alias("x")).agg(
        F.count(F.lit(1)).alias("w"), F.sum("l_extendedprice").alias("s")
    )
    wo = Window.orderBy("x")
    ordered = g.select(
        "x",
        "w",
        "s",
        F.row_number().over(wo).alias("idx"),
        F.sum("w").over(wo.rowsBetween(Window.unboundedPreceding, 0)).alias("cw"),
        F.sum("s").over(wo.rowsBetween(Window.unboundedPreceding, 0)).alias("cs"),
    )
    i = ordered.select(
        F.col("idx").alias("i"),
        F.col("w").alias("iw"),
        F.col("s").alias("is_"),
        F.col("cw").alias("icw"),
        F.col("cs").alias("ics"),
    )
    j = ordered.select(
        F.col("idx").alias("j"), F.col("cw").alias("jcw"), F.col("cs").alias("jcs")
    )
    pairs = (
        i.join(F.broadcast(j), F.col("i") <= F.col("j"))
        .select(
            "i",
            "j",
            hround(
                (F.col("jcs") - F.col("ics") + F.col("is_"))
                / (F.col("jcw") - F.col("icw") + F.col("iw")),
                9,
            ).alias("a"),
        )
    )
    suffix_min = pairs.withColumn(
        "b",
        F.min("a").over(
            Window.partitionBy("i")
            .orderBy(F.col("j").desc())
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    fitted = suffix_min.groupBy("j").agg(F.max("b").alias("fit"))
    return (
        ordered.join(fitted, ordered.idx == fitted.j)
        .select(
            "x",
            F.col("w").cast("long").alias("n_obs"),
            hround(F.col("s") / F.col("w"), 6).alias("raw_avg"),
            hround("fit", 6).alias("iso_fit"),
        )
        .orderBy("x")
    )


_TWO_PI = 6.283185307179586


@query(
    "events_periodogram",
    oracle=f"""
    WITH h AS (
        SELECT CAST(floor(epoch(ts) / 3600.0) AS BIGINT) AS th,
               {dround('SUM(value)', 6)} AS xv
        FROM events GROUP BY 1
    ), base AS (
        SELECT th - (SELECT MIN(th) FROM h) AS t, xv,
               xv - (SELECT AVG(xv) FROM h) AS xc
        FROM h
    ), spans AS (
        SELECT p.period_hours, base.t, base.xc
        FROM base CROSS JOIN (SELECT unnest([6, 12, 24, 168]) AS period_hours) p
    ), spectral AS (
        SELECT period_hours,
               SUM(xc * cos({_TWO_PI} * t / period_hours)) AS c,
               SUM(xc * sin({_TWO_PI} * t / period_hours)) AS s,
               COUNT(*) AS n
        FROM spans GROUP BY period_hours
    ), floor_ AS (
        SELECT 2.0 * VAR_POP(xc) AS nf FROM base
    )
    SELECT CAST(period_hours AS INT) AS period_hours,
           {dround('(c * c + s * s) * 2.0 / n', 2)} AS power,
           {dround('floor_.nf', 2)} AS noise_floor,
           CASE WHEN floor_.nf > 0.0
                THEN {dround('((c * c + s * s) * 2.0 / n) / floor_.nf', 4)}
           END AS snr
    FROM spectral, floor_
    ORDER BY period_hours
    """,
)
def events_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodicity detection: single-frequency DFT power of the hourly
    value series at candidate periods (6h, 12h, 24h, weekly), with the
    white-noise floor (2*var) and the SNR against it — the spectral
    complement to `seasonality_profile_events` (which *assumes* the
    period; this *finds* it: the 24h band carries ~200x the 6h power
    on this data).

    One corpus-scan groupBy to the hourly series, then the spectral
    sums are plain aggregates over |hours| x |candidate periods| rows —
    map-side combinable, no FFT machinery needed for a handful of
    candidate bands (the standard trick for petabyte telemetry: you
    probe named periods, not the full spectrum). Hourly sums are
    1e-6-rounded before the trig sums so engine float-sum order can't
    leak into the 1e-2-rounded powers.
    """
    events = load_table(spark, sf_dir, "events")
    h = events.groupBy(
        F.floor(F.unix_timestamp("ts") / F.lit(3600.0)).cast("long").alias("th")
    ).agg(hround(F.sum("value"), 6).alias("xv"))
    gstats = h.agg(F.min("th").alias("t0"), F.avg("xv").alias("mu"))
    base = h.crossJoin(F.broadcast(gstats)).select(
        (F.col("th") - F.col("t0")).alias("t"),
        (F.col("xv") - F.col("mu")).alias("xc"),
    )
    periods = F.explode(F.array(*[F.lit(p) for p in (6, 12, 24, 168)]))
    spans = base.select("t", "xc", periods.alias("period_hours"))
    phase = F.lit(_TWO_PI) * F.col("t") / F.col("period_hours")
    spectral = spans.groupBy("period_hours").agg(
        F.sum(F.col("xc") * F.cos(phase)).alias("c"),
        F.sum(F.col("xc") * F.sin(phase)).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    nf = base.agg((F.lit(2.0) * F.var_pop("xc")).alias("nf"))
    power = (F.col("c") * F.col("c") + F.col("s") * F.col("s")) * F.lit(2.0) / F.col("n")
    return (
        spectral.crossJoin(F.broadcast(nf))
        .select(
            F.col("period_hours").cast("int").alias("period_hours"),
            hround(power, 2).alias("power"),
            hround("nf", 2).alias("noise_floor"),
            F.when(F.col("nf") > 0.0, hround(power / F.col("nf"), 4)).alias("snr"),
        )
        .orderBy("period_hours")
    )


@query(
    "privacy_l_diversity",
    oracle=f"""
    WITH cells AS (
        SELECT dayofweek(ts) + 1 AS dow, hour(ts) AS h,
               CAST(user_id // 10 AS BIGINT) AS ub,
               event_type, COUNT(*) AS c
        FROM events GROUP BY 1, 2, 3, 4
    ), totals AS (
        SELECT dow, h, ub, COUNT(*) AS l_div, CAST(SUM(c) AS BIGINT) AS n
        FROM cells GROUP BY dow, h, ub
    ), ent AS (
        SELECT c.dow, c.h, c.ub,
               exp(-SUM((c.c / CAST(t.n AS DOUBLE))
                        * ln(c.c / CAST(t.n AS DOUBLE)))) AS ent_l
        FROM cells c JOIN totals t USING (dow, h, ub)
        GROUP BY c.dow, c.h, c.ub
    )
    SELECT t.l_div,
           COUNT(*) AS n_groups,
           CAST(SUM(t.n) AS BIGINT) AS n_events,
           {dround('MIN(e.ent_l)', 4)} AS min_entropy_l,
           t.l_div < 3 AS at_risk
    FROM totals t JOIN ent e USING (dow, h, ub)
    GROUP BY t.l_div ORDER BY t.l_div
    """,
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-diversity audit: for each quasi-identifier group (day-of-week,
    hour, user-id bucket), how many DISTINCT sensitive values
    (event_type) it contains, plus the entropy l-diversity exp(H) of
    the worst group at each level — the k-anonymity follow-up
    (`privacy_k_anonymity` bounds group SIZE; a size-50 group whose
    sensitive attribute is constant still leaks, which is exactly what
    l < 3 flags here).

    Two partial-aggregatable groupBys (QI+sensitive cells, then per-QI
    rollup) and one aggregate-to-aggregate join for the entropy — the
    sensitive-value distribution never leaves the aggregate domain.
    """
    events = load_table(spark, sf_dir, "events")
    cells = events.groupBy(
        F.dayofweek("ts").alias("dow"),
        F.hour("ts").alias("h"),
        (F.col("user_id") / 10).cast("long").alias("ub"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("c"))
    totals = cells.groupBy("dow", "h", "ub").agg(
        F.count(F.lit(1)).alias("l_div"), F.sum("c").cast("long").alias("n")
    )
    p = F.col("c") / F.col("n").cast("double")
    ent = (
        cells.join(totals, ["dow", "h", "ub"])
        .groupBy("dow", "h", "ub")
        .agg(F.exp(-F.sum(p * F.log(p))).alias("ent_l"))
    )
    return (
        totals.join(ent, ["dow", "h", "ub"])
        .groupBy("l_div")
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum("n").cast("long").alias("n_events"),
            hround(F.min("ent_l"), 4).alias("min_entropy_l"),
        )
        .select(
            "l_div", "n_groups", "n_events", "min_entropy_l",
            (F.col("l_div") < 3).alias("at_risk"),
        )
        .orderBy("l_div")
    )


import math as _math

# SPRT for purchase-rate hypotheses p0=0.18 vs p1=0.22, alpha=beta=0.05.
# The per-observation increments are exact double literals shared by both
# engines, so the LLR (a*successes + b*failures) is bit-identical.
_SPRT_A = _math.log(0.22 / 0.18)
_SPRT_B = _math.log(0.78 / 0.82)
_SPRT_UP = _math.log(0.95 / 0.05)
_SPRT_LO = _math.log(0.05 / 0.95)


@query(
    "abtest_sprt_sequential",
    oracle=f"""
    WITH obs AS (
        SELECT CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS grp,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x,
               ts, event_id
        FROM events
    ), walked AS (
        SELECT grp,
               ROW_NUMBER() OVER w AS t,
               SUM(x) OVER (PARTITION BY grp ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS s
        FROM obs
        WINDOW w AS (PARTITION BY grp ORDER BY ts, event_id)
    ), llr AS (
        SELECT grp, t, s,
               {_SPRT_A!r} * s + {_SPRT_B!r} * (t - s) AS llr
        FROM walked
    )
    SELECT grp,
           MAX(t) AS n_events,
           CAST(MAX(s) AS BIGINT) AS n_success,
           {dround('arg_max(llr, t)', 6)} AS llr_final,
           COALESCE(MIN(CASE WHEN llr >= {_SPRT_UP!r} THEN t END), -1) AS first_up_cross,
           COALESCE(MIN(CASE WHEN llr <= {_SPRT_LO!r} THEN t END), -1) AS first_lo_cross
    FROM llr GROUP BY grp ORDER BY grp
    """,
)
def abtest_sprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's sequential probability ratio test, replayed over the
    event stream: per cohort (even/odd user_id), the cumulative
    log-likelihood ratio for purchase-rate hypotheses p1=0.22 vs
    p0=0.18, with the first step crossing each 5%-error Wald boundary
    (+-ln 19) — the sequential complement of the fixed-horizon tests
    (`abtest_priority_ztest`, `abtest_welch_ttest`): it answers "when
    could we have stopped", not just "is it significant now".

    The LLR is linear in the running success count (a*S_t + b*(t-S_t)
    with constant exact-double increments), so the whole walk is one
    cohort-partitioned cumulative-sum window and the boundary scan is
    a conditional min — bit-identical across engines, no rounding
    needed before the crossing comparison. Sequential by nature: each
    cohort's walk is one ordered partition (at scale, evaluate at
    micro-batch checkpoints instead of per event — the boundary
    crossing time coarsens, the decision doesn't change).
    """
    events = load_table(spark, sf_dir, "events")
    obs = events.select(
        F.when(F.col("user_id") % 2 == 0, F.lit("even")).otherwise(F.lit("odd")).alias("grp"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("x"),
        "ts",
        "event_id",
    )
    w = Window.partitionBy("grp").orderBy("ts", "event_id")
    walked = obs.select(
        "grp",
        F.row_number().over(w).alias("t"),
        F.sum("x").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("s"),
    )
    llr = walked.withColumn(
        "llr", F.lit(_SPRT_A) * F.col("s") + F.lit(_SPRT_B) * (F.col("t") - F.col("s"))
    )
    final_llr = F.max(F.struct("t", "llr")).getField("llr")
    return (
        llr.groupBy("grp")
        .agg(
            F.max("t").cast("long").alias("n_events"),
            F.max("s").cast("long").alias("n_success"),
            hround(final_llr, 6).alias("llr_final"),
            F.coalesce(
                F.min(F.when(F.col("llr") >= _SPRT_UP, F.col("t"))), F.lit(-1)
            ).cast("long").alias("first_up_cross"),
            F.coalesce(
                F.min(F.when(F.col("llr") <= _SPRT_LO, F.col("t"))), F.lit(-1)
            ).cast("long").alias("first_lo_cross"),
        )
        .orderBy("grp")
    )


MARKOV_ROUNDS = 4


def _markov_oracle() -> str:
    r9 = lambda e: dround(e, 9)  # noqa: E731
    sql = f"""
    WITH seq AS MATERIALIZED (
        SELECT event_type,
               LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS prev_type
        FROM events
    ), pmat AS MATERIALIZED (
        SELECT prev_type, event_type AS next_type,
               {r9('CAST(COUNT(*) AS DOUBLE) /'
                   ' SUM(COUNT(*)) OVER (PARTITION BY prev_type)')} AS p
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    ), states AS MATERIALIZED (
        SELECT DISTINCT prev_type AS st FROM pmat
    ), emp AS MATERIALIZED (
        SELECT event_type AS st,
               {dround('CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM events)', 6)}
                   AS empirical
        FROM events GROUP BY event_type
    ), pi0 AS (
        SELECT st, 1.0 / (SELECT COUNT(*) FROM states) AS v FROM states
    )"""
    prev = "pi0"
    for i in range(1, MARKOV_ROUNDS + 1):
        sql += f""", m{i} AS (
        SELECT pmat.next_type AS st, SUM({prev}.v * pmat.p) AS v
        FROM {prev} JOIN pmat ON {prev}.st = pmat.prev_type
        GROUP BY pmat.next_type
    ), pi{i} AS (
        SELECT st, {r9(f'v / (SELECT SUM(v) FROM m{i})')} AS v FROM m{i}
    )"""
        prev = f"pi{i}"
    sql += f"""
    SELECT pi{MARKOV_ROUNDS}.st AS event_type,
           {dround(f'pi{MARKOV_ROUNDS}.v', 6)} AS pi_stationary,
           emp.empirical
    FROM pi{MARKOV_ROUNDS} JOIN emp USING (st)
    ORDER BY event_type
    """
    return sql


@query("events_markov_stationary", oracle=_markov_oracle())
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the per-user event-type Markov chain:
    4 unrolled pi <- pi P power-iteration rounds from uniform over the
    row-normalized transition matrix (`events_transition_matrix`'s P,
    recomputed here at 1e-9 lockstep rounding), next to the empirical
    type frequencies — if the chain models the stream well, the two
    columns agree, and a gap flags non-stationary behavior.

    The matrix is |types|^2 rows and the iterate |types| rows, so every
    round after the one corpus-scan lag+count is negligible at any
    scale (same shape as `embedding_pca_top_component`). Renormalizing
    each round keeps rounding drift from accumulating in the simplex.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    wp = Window.partitionBy("prev_type")
    pmat = checkpoint(  # corpus-scan lag referenced per round
        seq.groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "prev_type",
            "next_type",
            hround(F.col("n").cast("double") / F.sum("n").over(wp), 9).alias("p"),
        )
    )
    states = pmat.select(F.col("prev_type").alias("st")).distinct()
    n_states = states.agg(F.count(F.lit(1)).alias("ns"))
    pi = states.crossJoin(F.broadcast(n_states)).select(
        "st", (F.lit(1.0) / F.col("ns")).alias("v")
    )
    for _ in range(MARKOV_ROUNDS):
        m = (
            pi.join(F.broadcast(pmat), pi.st == pmat.prev_type)
            .groupBy(F.col("next_type").alias("st"))
            .agg(F.sum(F.col("v") * F.col("p")).alias("v"))
        )
        tot = m.agg(F.sum("v").alias("tot"))
        pi = m.crossJoin(F.broadcast(tot)).select(
            "st", hround(F.col("v") / F.col("tot"), 9).alias("v")
        )
    n_events = events.agg(F.count(F.lit(1)).alias("ne"))
    emp = (
        events.groupBy(F.col("event_type").alias("st"))
        .agg(F.count(F.lit(1)).alias("c"))
        .crossJoin(F.broadcast(n_events))
        .select("st", hround(F.col("c").cast("double") / F.col("ne"), 6).alias("empirical"))
    )
    return (
        pi.join(emp, "st")
        .select(
            F.col("st").alias("event_type"),
            hround("v", 6).alias("pi_stationary"),
            "empirical",
        )
        .orderBy("event_type")
    )


@query(
    "featurestore_pit_features",
    oracle=f"""
    WITH stream AS (
        SELECT user_id, ts, event_id, event_type, value,
               CAST(floor(epoch(ts)) AS BIGINT) AS es
        FROM events
    ), feat AS (
        SELECT user_id, event_type,
               LAG(value) OVER w AS last_val,
               COUNT(*) OVER (PARTITION BY user_id ORDER BY es
                              RANGE BETWEEN 86400 PRECEDING AND 1 PRECEDING)
                   AS cnt_24h,
               ROW_NUMBER() OVER w - 1 AS n_prior
        FROM stream
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           COUNT(*) AS n_purchases,
           {dround('AVG(last_val)', 4)} AS avg_last_val,
           {dround('AVG(CAST(cnt_24h AS DOUBLE))', 4)} AS avg_cnt_24h,
           CAST(MAX(n_prior) AS BIGINT) AS max_prior_events
    FROM feat
    WHERE event_type = 'purchase' AND last_val IS NOT NULL
    GROUP BY user_id ORDER BY user_id
    """,
)
def featurestore_pit_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store point-in-time join: for every purchase (the label
    spine), three leakage-free features as of strictly BEFORE the
    event — last observed value (lag), activity count in the trailing
    24h (range frame), and lifetime prior event count — rolled up per
    user for a bounded audit.

    The single-stream formulation: instead of N as-of joins (one per
    feature — what a naive feature store runs), flag the spine rows
    inside the one user-partitioned ordered stream and read every
    feature off windows over it; one shuffle total, features never see
    the future by construction (lag / 1-PRECEDING frames). The range
    frame keys on TRUNCATED epoch seconds — floor() in the oracle,
    because a bare CAST(epoch(..) AS BIGINT) rounds in DuckDB while
    Spark's unix_timestamp truncates (the r4 // trap; a sub-second
    event straddling the 24h boundary diverges without it). Same-second
    events resolve by value-range semantics identically on both
    engines: a feature event in the SAME second as the purchase is
    outside the cnt_24h frame (es ≤ es-1 fails) even though lag,
    ordered by full-precision (ts, event_id), does see it.
    """
    events = load_table(spark, sf_dir, "events")
    stream = events.withColumn("es", F.unix_timestamp("ts").cast("long"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wr = Window.partitionBy("user_id").orderBy("es").rangeBetween(-86400, -1)
    feat = stream.select(
        "user_id",
        "event_type",
        F.lag("value").over(w).alias("last_val"),
        F.count(F.lit(1)).over(wr).alias("cnt_24h"),
        (F.row_number().over(w) - 1).alias("n_prior"),
    )
    return (
        feat.filter((F.col("event_type") == "purchase") & F.col("last_val").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            hround(F.avg("last_val"), 4).alias("avg_last_val"),
            hround(F.avg(F.col("cnt_24h").cast("double")), 4).alias("avg_cnt_24h"),
            F.max("n_prior").cast("long").alias("max_prior_events"),
        )
        .orderBy("user_id")
    )


HAAR_LEVELS = 5


def _haar_oracle() -> str:
    r9 = lambda e: dround(e, 9)  # noqa: E731
    sql = f"""
    WITH hours AS (
        SELECT CAST(floor(epoch(ts) / 3600.0) AS BIGINT) AS th,
               {dround('SUM(value)', 6)} AS xv
        FROM events GROUP BY 1
    ), bounds AS (
        SELECT MIN(th) AS t0, MAX(th) AS t1 FROM hours
    ), s0 AS MATERIALIZED (
        SELECT g.t - bounds.t0 AS t, COALESCE(hours.xv, 0.0) AS x
        FROM bounds,
             UNNEST(generate_series(bounds.t0, bounds.t1)) AS g(t)
        LEFT JOIN hours ON hours.th = g.t
    )"""
    for k in range(1, HAAR_LEVELS + 1):
        p = k - 1
        xcol = "x" if p == 0 else "a"
        sql += f""", s{k} AS MATERIALIZED (
        SELECT t // 2 AS t,
               {r9(f'SUM({xcol}) / 2.0')} AS a,
               {r9(f'SUM(CASE WHEN t % 2 = 0 THEN {xcol} ELSE -{xcol} END) / 2.0')} AS d
        FROM s{p} GROUP BY t // 2
    )"""
    selects = [
        f"""SELECT {k} AS level,
           (SELECT COUNT(*) FROM s{k}) AS n_coeffs,
           (SELECT {dround('SUM(d * d)', 2)} FROM s{k}) AS detail_energy"""
        for k in range(1, HAAR_LEVELS + 1)
    ]
    return sql + "\n" + "\nUNION ALL\n".join(selects) + "\nORDER BY level"


@query("events_haar_multiscale", oracle=_haar_oracle())
def events_haar_multiscale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar wavelet multiscale decomposition of the dense hourly value
    series: 5 levels of pairwise average/difference, reporting the
    detail-coefficient energy per scale (2h, 4h, 8h, 16h, 32h) — the
    time-localized complement of `events_periodogram` (a periodogram
    says WHICH band carries energy; the wavelet pyramid also survives
    regime changes a global DFT smears).

    Each level is one groupBy(t//2) with sign-flipped sums (no
    ordering, no window — the pair average and difference are plain
    CASE aggregates), halving the series; level cost is |series|/2^k
    regardless of corpus size once the hourly rollup is done. Odd
    tails zero-pad identically on both engines; iterates are
    1e-9-lockstep rounded.
    """
    events = load_table(spark, sf_dir, "events")
    hours = events.groupBy(
        F.floor(F.unix_timestamp("ts") / F.lit(3600.0)).cast("long").alias("th")
    ).agg(hround(F.sum("value"), 6).alias("xv"))
    bounds = hours.agg(F.min("th").alias("t0"), F.max("th").alias("t1"))
    spine = bounds.select(
        F.explode(F.sequence(F.col("t0"), F.col("t1"))).alias("th"), "t0"
    )
    s = checkpoint(
        spine.join(hours, "th", "left")
        .select(
            (F.col("th") - F.col("t0")).alias("t"),
            F.coalesce("xv", F.lit(0.0)).alias("x"),
        )
    )
    out_rows: list[DataFrame] = []
    for k in range(1, HAAR_LEVELS + 1):
        signed = F.when(F.col("t") % 2 == 0, F.col("x")).otherwise(-F.col("x"))
        s = checkpoint(
            s.groupBy((F.col("t") / 2).cast("long").alias("t"))
            .agg(
                hround(F.sum("x") / F.lit(2.0), 9).alias("a"),
                hround(F.sum(signed) / F.lit(2.0), 9).alias("d"),
            )
        )
        stats = s.agg(
            F.count(F.lit(1)).alias("n_coeffs"),
            hround(F.sum(F.col("d") * F.col("d")), 2).alias("detail_energy"),
        )
        out_rows.append(stats.select(F.lit(k).alias("level"), "n_coeffs", "detail_energy"))
        s = s.select("t", F.col("a").alias("x"))
    out = out_rows[0]
    for o in out_rows[1:]:
        out = out.unionByName(o)
    return out.orderBy("level")


ABSORB_STEPS = 6


def _absorb_oracle() -> str:
    r9 = lambda e: dround(e, 9)  # noqa: E731
    sql = f"""
    WITH seq AS MATERIALIZED (
        SELECT event_type,
               LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS prev_type
        FROM events
    ), pmat AS MATERIALIZED (
        SELECT prev_type, event_type AS next_type,
               {r9('CAST(COUNT(*) AS DOUBLE) /'
                   ' SUM(COUNT(*)) OVER (PARTITION BY prev_type)')} AS p
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    ), direct AS MATERIALIZED (
        SELECT prev_type AS st, SUM(p) FILTER (next_type = 'purchase') AS pd
        FROM pmat WHERE prev_type <> 'purchase' GROUP BY prev_type
    ), h0 AS (
        SELECT st, CAST(0.0 AS DOUBLE) AS h FROM direct
    )"""
    prev = "h0"
    for i in range(1, ABSORB_STEPS + 1):
        sql += f""", h{i} AS (
        SELECT d.st,
               {r9(f'''d.pd + COALESCE((
                   SELECT SUM(pmat.p * {prev}.h)
                   FROM pmat JOIN {prev} ON pmat.next_type = {prev}.st
                   WHERE pmat.prev_type = d.st
                     AND pmat.next_type <> 'purchase'), 0.0)''')} AS h
        FROM direct d
    )"""
        prev = f"h{i}"
    sql += f"""
    SELECT d.st AS event_type,
           {dround('d.pd', 6)} AS p_convert_1step,
           {dround(f'h{ABSORB_STEPS}.h', 6)} AS p_convert_{ABSORB_STEPS}steps
    FROM direct d JOIN h{ABSORB_STEPS} ON d.st = h{ABSORB_STEPS}.st
    ORDER BY event_type
    """
    return sql


@query("funnel_absorbing_conversion", oracle=_absorb_oracle())
def funnel_absorbing_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absorbing-chain conversion: probability of reaching 'purchase'
    within 6 transitions from each non-purchase state, by unrolled
    first-step analysis h_{{k+1}}(s) = P(s,buy) + sum_s' Q(s,s') h_k(s')
    over the transition matrix with 'purchase' made absorbing — the
    model-based funnel (the empirical funnels count observed paths;
    this extrapolates from the one-step structure, and the 1-step vs
    6-step columns quantify how much conversion is indirect).

    Same scale shape as the other matrix iterations: one corpus-scan
    lag+count, then every round works on the |types|^2 matrix and a
    |types|-row vector, 1e-9 lockstep-rounded.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    wp = Window.partitionBy("prev_type")
    pmat = checkpoint(
        seq.groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "prev_type",
            "next_type",
            hround(F.col("n").cast("double") / F.sum("n").over(wp), 9).alias("p"),
        )
        .filter(F.col("prev_type") != "purchase")
    )
    direct = pmat.groupBy(F.col("prev_type").alias("st")).agg(
        F.sum(F.when(F.col("next_type") == "purchase", F.col("p"))).alias("pd")
    )
    q = pmat.filter(F.col("next_type") != "purchase")
    h = direct.select("st", F.lit(0.0).alias("h"))
    for _ in range(ABSORB_STEPS):
        step = (
            q.join(F.broadcast(h.withColumnRenamed("st", "nst")), q.next_type == F.col("nst"))
            .groupBy(F.col("prev_type").alias("st"))
            .agg(F.sum(F.col("p") * F.col("h")).alias("hq"))
        )
        h = (
            direct.join(step, "st", "left")
            .select(
                "st",
                hround(F.col("pd") + F.coalesce("hq", F.lit(0.0)), 9).alias("h"),
            )
        )
    return (
        direct.join(h, "st")
        .select(
            F.col("st").alias("event_type"),
            hround("pd", 6).alias("p_convert_1step"),
            hround("h", 6).alias(f"p_convert_{ABSORB_STEPS}steps"),
        )
        .orderBy("event_type")
    )


@query(
    "forecast_snaive_backtest",
    oracle=f"""
    WITH hourly AS MATERIALIZED (
        SELECT CAST(floor(epoch(ts) / 3600.0) AS BIGINT) AS th,
               {dround('SUM(value)', 6)} AS xv
        FROM events GROUP BY 1
    ), cutoff AS (
        SELECT MAX(th) - 168 AS c FROM hourly
    ), train_mean AS (
        SELECT {dround('AVG(xv)', 9)} AS m
        FROM hourly, cutoff WHERE th <= cutoff.c
    ), prof AS (
        SELECT th % 24 AS hod, {dround('AVG(xv)', 9)} AS p_prof
        FROM hourly, cutoff WHERE th <= cutoff.c GROUP BY th % 24
    ), test AS (
        SELECT h.th, h.xv FROM hourly h, cutoff WHERE h.th > cutoff.c
    ), preds AS (
        SELECT t.th, t.xv,
               n24.xv AS p_naive24, n168.xv AS p_naive168, tm.m AS p_mean,
               prof.p_prof
        FROM test t
        LEFT JOIN hourly n24 ON n24.th = t.th - 24
        LEFT JOIN hourly n168 ON n168.th = t.th - 168
        LEFT JOIN prof ON prof.hod = t.th % 24
        CROSS JOIN train_mean tm
    )
    SELECT method, n_hours,
           {dround('mae', 4)} AS mae, {dround('rmse', 4)} AS rmse
    FROM (
        SELECT 'mean' AS method, COUNT(xv) AS n_hours,
               AVG(abs(xv - p_mean)) AS mae,
               sqrt(AVG((xv - p_mean) * (xv - p_mean))) AS rmse
        FROM preds
        UNION ALL
        SELECT 'naive24', COUNT(p_naive24),
               AVG(abs(xv - p_naive24)),
               sqrt(AVG((xv - p_naive24) * (xv - p_naive24)))
        FROM preds WHERE p_naive24 IS NOT NULL
        UNION ALL
        SELECT 'naive168', COUNT(p_naive168),
               AVG(abs(xv - p_naive168)),
               sqrt(AVG((xv - p_naive168) * (xv - p_naive168)))
        FROM preds WHERE p_naive168 IS NOT NULL
        UNION ALL
        SELECT 'seasonal_profile', COUNT(p_prof),
               AVG(abs(xv - p_prof)),
               sqrt(AVG((xv - p_prof) * (xv - p_prof)))
        FROM preds WHERE p_prof IS NOT NULL
    ) ORDER BY method
    """,
)
def forecast_snaive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtesting harness: hold out the last week of the
    hourly value series and score three baselines — training mean,
    24h seasonal-naive, and 168h seasonal-naive — by MAE/RMSE. The
    evaluation shape every forecasting deployment needs BEFORE any
    model — plus the hour-of-day profile mean. The backtest's honest
    verdict on this series: EVERY structure-exploiting baseline loses
    to the plain mean — snaive because differencing doubles
    observation-noise variance, and even the smoothed profile by a
    hair, because the 24h cycle `events_periodogram` detects (SNR 2.3)
    carries under 1% of hourly variance. Detectable seasonality is not
    exploitable seasonality; catching exactly that before a deployment
    ships snaive is what a backtest harness is for.

    All three predictions are self-joins of the tiny hourly rollup at
    fixed lags (24/168 rows back) — at 100 TB the rollup is the only
    corpus-scale pass, and lag-joins on an aggregated series stay
    aggregate-sized.
    """
    events = load_table(spark, sf_dir, "events")
    hourly = checkpoint(events.groupBy(
        F.floor(F.unix_timestamp("ts") / F.lit(3600.0)).cast("long").alias("th")
    ).agg(hround(F.sum("value"), 6).alias("xv")))
    cutoff = hourly.agg((F.max("th") - 168).alias("c"))
    train_mean = (
        hourly.crossJoin(F.broadcast(cutoff))
        .filter(F.col("th") <= F.col("c"))
        .agg(hround(F.avg("xv"), 9).alias("m"))
    )
    prof = (
        hourly.crossJoin(F.broadcast(cutoff))
        .filter(F.col("th") <= F.col("c"))
        .groupBy((F.col("th") % 24).alias("hod"))
        .agg(hround(F.avg("xv"), 9).alias("p_prof"))
    )
    test = hourly.crossJoin(F.broadcast(cutoff)).filter(F.col("th") > F.col("c"))
    n24 = hourly.select((F.col("th") + 24).alias("th"), F.col("xv").alias("p_naive24"))
    n168 = hourly.select((F.col("th") + 168).alias("th"), F.col("xv").alias("p_naive168"))
    preds = (
        test.join(n24, "th", "left")
        .join(n168, "th", "left")
        .join(F.broadcast(prof), test.th % 24 == prof.hod, "left")
        .crossJoin(F.broadcast(train_mean))
    )

    def scores(method: str, pred: F.Column):
        err = F.col("xv") - pred
        return (
            preds.filter(pred.isNotNull())
            .agg(
                F.count(F.lit(1)).alias("n_hours"),
                hround(F.avg(F.abs(err)), 4).alias("mae"),
                hround(F.sqrt(F.avg(err * err)), 4).alias("rmse"),
            )
            .select(F.lit(method).alias("method"), "n_hours", "mae", "rmse")
        )

    out = (
        scores("mean", F.col("m"))
        .unionByName(scores("naive24", F.col("p_naive24")))
        .unionByName(scores("naive168", F.col("p_naive168")))
        .unionByName(scores("seasonal_profile", F.col("p_prof")))
    )
    return out.orderBy("method")


@query(
    "events_trending_rank_wow",
    oracle="""
    WITH secs AS (
        SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events
    ), based AS (
        SELECT event_type,
               (es - (SELECT MIN(es) FROM secs)) // 604800 AS week
        FROM secs
    ), weekly AS (
        SELECT week, event_type, COUNT(*) AS n
        FROM based GROUP BY week, event_type
    ), ranked AS (
        SELECT week, event_type, n,
               CAST(RANK() OVER (PARTITION BY week
                                 ORDER BY n DESC, event_type) AS BIGINT) AS rnk
        FROM weekly
    )
    SELECT week, event_type, n, rnk,
           CAST(rnk - LAG(rnk) OVER (PARTITION BY event_type ORDER BY week)
                AS BIGINT) AS rank_delta
    FROM ranked ORDER BY week, rnk, event_type
    """,
)
def events_trending_rank_wow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending detection: weekly volume rank of each event type and
    its week-over-week rank movement (negative delta = climbing) — the
    leaderboard-movement shape behind every "trending" surface.

    Two bounded windows after one corpus-scan groupBy: the rank window
    partitions by week over |types| rows, the delta lag partitions by
    type over |weeks| rows — both aggregate-sized at any corpus scale.
    All-integer output, exact cross-engine hash.
    """
    events = load_table(spark, sf_dir, "events")
    t0 = events.agg(F.min(F.unix_timestamp("ts")).alias("t0"))
    based = events.crossJoin(F.broadcast(t0)).select(
        "event_type",
        F.floor((F.unix_timestamp("ts") - F.col("t0")) / F.lit(604800)).cast("long").alias("week"),
    )
    weekly = based.groupBy("week", "event_type").agg(F.count(F.lit(1)).alias("n"))
    ranked = weekly.withColumn(
        "rnk",
        F.rank()
        .over(Window.partitionBy("week").orderBy(F.col("n").desc(), "event_type"))
        .cast("long"),
    )
    return ranked.select(
        "week",
        "event_type",
        "n",
        "rnk",
        (
            F.col("rnk")
            - F.lag("rnk").over(Window.partitionBy("event_type").orderBy("week"))
        )
        .cast("long")
        .alias("rank_delta"),
    ).orderBy("week", "rnk", "event_type")


LP_ROUNDS = 5


def _labelprop_oracle() -> str:
    sql = """
    WITH e AS MATERIALIZED (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ), adj AS MATERIALIZED (
        SELECT u AS node, v AS nbr FROM e
        UNION ALL SELECT v, u FROM e
    ), l0 AS (
        SELECT DISTINCT node, node AS lbl FROM adj
    )"""
    for r in range(1, LP_ROUNDS + 1):
        p = r - 1
        sql += f""", v{r} AS MATERIALIZED (
        SELECT node, lbl FROM (
            SELECT a.node, l.lbl,
                   ROW_NUMBER() OVER (PARTITION BY a.node
                                      ORDER BY COUNT(*) DESC, l.lbl) AS rn
            FROM adj a JOIN l{p} l ON a.nbr = l.node
            GROUP BY a.node, l.lbl
        ) WHERE rn = 1
    ), l{r} AS (SELECT node, lbl FROM v{r})"""
    selects = [
        f"""SELECT {r} AS lp_round,
           (SELECT COUNT(DISTINCT lbl) FROM l{r}) AS n_labels,
           (SELECT MAX(n) FROM (SELECT COUNT(*) AS n FROM l{r} GROUP BY lbl))
               AS largest_community"""
        for r in range(1, LP_ROUNDS + 1)
    ]
    return sql + "\n" + "\nUNION ALL\n".join(selects) + "\nORDER BY lp_round"


@query("graph_label_propagation", oracle=_labelprop_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation over the
    part co-purchase graph: every node adopts its neighbors' most
    frequent label each round (ties to the smallest label — the
    determinism knob async LPA lacks), 5 unrolled rounds, reported as
    the convergence trajectory (distinct labels, largest community).

    Completes the graph-analytics ladder: `dedup_cc_clusters` answers
    connectivity, `graph_kcore_peel` cohesion, this one community
    structure within connected components. Each round is one
    adjacency-join + grouped argmax — the same shuffle shape as a
    round of PageRank; lineage truncated per round.
    """
    li = load_table(spark, sf_dir, "lineitem")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    e = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .select("u", "v")
    )
    adj = checkpoint(
        e.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
        .unionByName(e.select(F.col("v").alias("node"), F.col("u").alias("nbr")))
    )
    labels = adj.select("node").distinct().select("node", F.col("node").alias("lbl"))
    out_rows: list[DataFrame] = []
    for r in range(1, LP_ROUNDS + 1):
        labels = checkpoint(
            adj.join(labels.withColumnRenamed("node", "nbr"), "nbr")
            .groupBy("node", "lbl")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("node").orderBy(F.col("cnt").desc(), "lbl")
                ),
            )
            .filter(F.col("rn") == 1)
            .select("node", "lbl")
        )
        comm = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("n"))
        stats = comm.agg(
            F.count(F.lit(1)).alias("n_labels"), F.max("n").alias("largest_community")
        )
        out_rows.append(
            stats.select(F.lit(r).alias("lp_round"), "n_labels", "largest_community")
        )
    out = out_rows[0]
    for o in out_rows[1:]:
        out = out.unionByName(o)
    return out.orderBy("lp_round")


@query(
    "stats_spearman_rank_corr",
    oracle=f"""
    WITH feats AS MATERIALIZED (
        SELECT len(string_split(text, ' ')) AS x, n_chars AS y FROM documents
    ), rx AS (
        SELECT x, COALESCE(SUM(cnt) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
                                          PRECEDING AND 1 PRECEDING), 0) * 1.0
                  + (cnt + 1) / 2.0 AS r
        FROM (SELECT x, COUNT(*) AS cnt FROM feats GROUP BY x)
    ), ry AS (
        SELECT y, COALESCE(SUM(cnt) OVER (ORDER BY y ROWS BETWEEN UNBOUNDED
                                          PRECEDING AND 1 PRECEDING), 0) * 1.0
                  + (cnt + 1) / 2.0 AS r
        FROM (SELECT y, COUNT(*) AS cnt FROM feats GROUP BY y)
    ), ranked AS (
        SELECT rx.r AS xr, ry.r AS yr
        FROM feats JOIN rx USING (x) JOIN ry USING (y)
    ), sums AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               SUM(xr) AS sx, SUM(yr) AS sy,
               SUM(xr * xr) AS sxx, SUM(yr * yr) AS syy,
               SUM(xr * yr) AS sxy
        FROM ranked
    ), raw AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               SUM(CAST(x AS DOUBLE)) AS sx, SUM(CAST(y AS DOUBLE)) AS sy,
               SUM(CAST(x AS DOUBLE) * x) AS sxx,
               SUM(CAST(y AS DOUBLE) * y) AS syy,
               SUM(CAST(x AS DOUBLE) * y) AS sxy
        FROM feats
    )
    SELECT CAST(sums.n AS BIGINT) AS n_docs,
           {dround('(sums.n * sums.sxy - sums.sx * sums.sy)'
                   ' / sqrt((sums.n * sums.sxx - sums.sx * sums.sx)'
                   ' * (sums.n * sums.syy - sums.sy * sums.sy))', 6)} AS spearman_rho,
           {dround('(raw.n * raw.sxy - raw.sx * raw.sy)'
                   ' / sqrt((raw.n * raw.sxx - raw.sx * raw.sx)'
                   ' * (raw.n * raw.syy - raw.sy * raw.sy))', 6)} AS pearson_r
    FROM sums, raw
    """,
)
def stats_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (with Pearson alongside) between token
    count and character count over documents — the robust/monotone
    dependence measure `stats_correlation_matrix` (Pearson-only) lacks.

    Ranks are NEVER assigned per row: midranks come from the
    distinct-value table (cumulative count + (ties+1)/2 — the
    `abtest_mannwhitney_u` prefix-sum idea in its simplest form) and
    broadcast-join back, so there is no global row window at any
    corpus size. Both correlations are computed from one explicit
    sum-of-products formula shared verbatim by the engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    feats = checkpoint(docs.select(
        F.size(F.split("text", " ")).alias("x"), F.col("n_chars").alias("y")
    ))

    def midranks(col: str):
        counts = feats.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
        return counts.select(
            col,
            (
                F.coalesce(F.sum("cnt").over(w), F.lit(0)) * 1.0
                + (F.col("cnt") + 1) / 2.0
            ).alias("r"),
        )

    ranked = (
        feats.join(F.broadcast(midranks("x")).withColumnRenamed("r", "xr"), "x")
        .join(F.broadcast(midranks("y")).withColumnRenamed("r", "yr"), "y")
    )

    def corr_row(df, xc, yc, out):
        x, y = F.col(xc).cast("double"), F.col(yc).cast("double")
        s = df.agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(x).alias("sx"),
            F.sum(y).alias("sy"),
            F.sum(x * x).alias("sxx"),
            F.sum(y * y).alias("syy"),
            F.sum(x * y).alias("sxy"),
        )
        num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
        den = F.sqrt(
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        )
        return s.select(
            F.col("n").cast("long").alias("n_docs"), hround(num / den, 6).alias(out)
        )

    sp = corr_row(ranked, "xr", "yr", "spearman_rho")
    pe = corr_row(feats, "x", "y", "pearson_r").drop("n_docs")
    return sp.crossJoin(F.broadcast(pe))


@query(
    "events_anomaly_mad",
    oracle=f"""
    WITH vc AS (
        SELECT event_type, value AS v, COUNT(*) AS c
        FROM events GROUP BY 1, 2
    ), med AS (
        SELECT event_type, MIN(v) AS median_v FROM (
            SELECT event_type, v,
                   SUM(c) OVER (PARTITION BY event_type ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                   SUM(c) OVER (PARTITION BY event_type) AS n
            FROM vc
        ) WHERE cum >= (n + 1) / 2.0
        GROUP BY event_type
    ), dev AS (
        SELECT vc.event_type, abs(vc.v - med.median_v) AS d, SUM(vc.c) AS c
        FROM vc JOIN med USING (event_type)
        GROUP BY 1, 2
    ), mad AS (
        SELECT event_type, MIN(d) AS mad_v FROM (
            SELECT event_type, d,
                   SUM(c) OVER (PARTITION BY event_type ORDER BY d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                   SUM(c) OVER (PARTITION BY event_type) AS n
            FROM dev
        ) WHERE cum >= (n + 1) / 2.0
        GROUP BY event_type
    )
    SELECT vc.event_type,
           CAST(SUM(vc.c) AS BIGINT) AS n_events,
           {dround('MIN(med.median_v)', 2)} AS median_value,
           {dround('MIN(mad.mad_v)', 2)} AS mad,
           CAST(COALESCE(SUM(vc.c) FILTER (
               abs(vc.v - med.median_v) > 3.0 * 1.4826 * mad.mad_v), 0) AS BIGINT)
               AS n_outliers
    FROM vc JOIN med USING (event_type) JOIN mad USING (event_type)
    GROUP BY vc.event_type
    ORDER BY vc.event_type
    """,
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen per event type: median absolute deviation
    with the 1.4826 normal-consistency factor, counting values beyond
    3 robust sigmas. The scale-safe COUNTING twin of
    `clean_outlier_mad` (which takes exact per-group percentiles —
    correct, but its aggregation buffer grows with group size): here
    no raw value is ever gathered, so the robust screen survives
    groups of any row count.

    Exact medians WITHOUT a per-group sort of raw rows: events.value is
    2-decimal quantized (bounded domain — measured: every value equals
    its 2-decimal rounding), so each median is computed by COUNTING —
    groupBy (type, value) first, then a window over the distinct-value
    table only, whose per-type size is bounded by the value domain
    (≤ ~50k rows) at ANY corpus scale. Upper-median convention: the
    smallest value whose cumulative count reaches (n+1)/2 — sorted
    position n//2+1, i.e. the HIGHER of the two middles for even n —
    identical on both engines and property-tested against the sorted
    array. Deviations re-quantize onto the same bounded grid, so the
    MAD pass repeats the identical trick.
    """
    ev = load_table(spark, sf_dir, "events")
    vc = ev.groupBy("event_type", F.col("value").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    wall = Window.partitionBy("event_type")

    def counting_median(df: DataFrame, val_col: str) -> DataFrame:
        cum = F.sum("c").over(
            Window.partitionBy("event_type")
            .orderBy(val_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        n = F.sum("c").over(wall)
        return (
            df.withColumn("__cum", cum)
            .withColumn("__n", n)
            .filter(F.col("__cum") >= (F.col("__n") + 1) / F.lit(2.0))
            .groupBy("event_type")
            .agg(F.min(val_col).alias(f"{val_col}_median"))
        )

    med = counting_median(vc, "v").withColumnRenamed("v_median", "median_v")
    dev = (
        vc.join(med, "event_type")
        .groupBy("event_type", F.abs(F.col("v") - F.col("median_v")).alias("d"))
        .agg(F.sum("c").alias("c"))
    )
    mad = counting_median(dev, "d").withColumnRenamed("d_median", "mad_v")
    joined = vc.join(med, "event_type").join(mad, "event_type")
    is_out = F.abs(F.col("v") - F.col("median_v")) > F.lit(3.0) * F.lit(1.4826) * F.col("mad_v")
    return (
        joined.groupBy("event_type")
        .agg(
            F.sum("c").cast("long").alias("n_events"),
            hround(F.min("median_v"), 2).alias("median_value"),
            hround(F.min("mad_v"), 2).alias("mad"),
            F.coalesce(F.sum(F.when(is_out, F.col("c"))), F.lit(0))
            .cast("long")
            .alias("n_outliers"),
        )
        .orderBy("event_type")
    )


@query(
    "events_drift_cusum_chart",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               {dround('AVG(value)', 6)} AS daily_mean
        FROM events GROUP BY 1
    ), params AS (
        SELECT {dround('AVG(daily_mean)', 6)} AS mu,
               {dround('stddev_pop(daily_mean)', 6)} AS sigma
        FROM daily
    ), scored AS (
        SELECT day, daily_mean,
               SUM(daily_mean - mu - 0.5 * sigma) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
               sigma
        FROM daily, params
    ), cus AS (
        SELECT day, daily_mean, sigma,
               p - LEAST(MIN(p) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0)
               AS s
        FROM scored
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, daily_mean,
           {dround('s', 6)} AS cusum,
           s > 4.0 * sigma AS breach
    FROM cus
    ORDER BY day
    """,
)
def events_drift_cusum_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift control chart on the daily mean of
    events.value: S_t = max(0, S_{t-1} + (x_t − μ − kσ)) with slack
    k = 0.5σ and decision threshold h = 4σ — sequential upward-drift
    MONITORING (the full alarm curve with resets), complementing
    `events_cusum_changepoint`, which estimates the single most likely
    level-shift LOCATION as the peak cumulative deviation.

    The recursive max-reset has no window equivalent, but the identity
    S_t = P_t − min(0, min_{j≤t} P_j) (prefix sum minus running minimum
    of the slack-adjusted series, current row included — an exclusive
    window goes negative whenever P_t is the new minimum; unit-tested
    against the direct recursion) makes it two stock window functions —
    no UDF, no iteration. Windows run over the DAILY table only:
    calendar-bounded O(days) rows regardless of event volume, the same
    justification as the hourly/weekly series entries. Daily means, μ
    and σ are 1e-6-rounded before entering the recursion so float
    partial-sum order can't propagate into the hash.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        hround(F.avg("value"), 6).alias("daily_mean")
    )
    params = daily.agg(
        hround(F.avg("daily_mean"), 6).alias("mu"),
        hround(F.stddev_pop("daily_mean"), 6).alias("sigma"),
    )
    w_cum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored = daily.crossJoin(F.broadcast(params)).withColumn(
        "p",
        F.sum(F.col("daily_mean") - F.col("mu") - F.lit(0.5) * F.col("sigma")).over(w_cum),
    )
    # S_t = P_t − min(0, min_{j≤t} P_j): the running min must INCLUDE the
    # current row — when P_t is itself the new minimum the recursion
    # resets to exactly 0, and an exclusive window would go negative.
    cus = scored.withColumn(
        "s",
        F.col("p") - F.least(F.min("p").over(w_cum), F.lit(0.0)),
    )
    return cus.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "daily_mean",
        hround("s", 6).alias("cusum"),
        (F.col("s") > F.lit(4.0) * F.col("sigma")).alias("breach"),
    ).orderBy("day")


@query(
    "forecast_theilsen_daily_trend",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) / 86400) AS BIGINT) AS x,
               {dround('AVG(value)', 6)} AS y
        FROM events GROUP BY 1
    ), slopes AS (
        SELECT (b.y - a.y) / (b.x - a.x) AS slope
        FROM daily a JOIN daily b ON a.x < b.x
    ), ranked AS (
        SELECT slope, ROW_NUMBER() OVER (ORDER BY slope) AS rn,
               COUNT(*) OVER () AS n
        FROM slopes
    ), med_slope AS (
        SELECT slope AS m FROM ranked WHERE rn = CAST(floor((n + 1) / 2.0) AS BIGINT)
    ), resid AS (
        SELECT y - med_slope.m * x AS r FROM daily, med_slope
    ), rranked AS (
        SELECT r, ROW_NUMBER() OVER (ORDER BY r) AS rn, COUNT(*) OVER () AS n
        FROM resid
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM slopes) AS n_pairs,
           (SELECT {dround('m', 8)} FROM med_slope) AS slope_per_day,
           (SELECT {dround('r', 6)} FROM rranked
             WHERE rn = CAST(floor((n + 1) / 2.0) AS BIGINT)) AS intercept
    """,
)
def forecast_theilsen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of the daily mean: the median of all
    pairwise slopes, with intercept = median(y − slope·x). Immune to
    the outlier days that bias OLS — the standard robust complement to
    `ml_gd_linreg_rounds`' least squares.

    The O(days²) pair join is CALENDAR-bounded (30 days → 435 pairs
    here; a decade of dailies is <7M pairs), not data-bounded — the
    same justification as the CUSUM/ACF entries, with the raw stream
    collapsed to the daily table before any pairing. Daily means are
    1e-6-rounded first so float partial-sum order can't move a median.
    Lower-median convention on both engines (rn = floor((n+1)/2)), and
    x is the epoch DAY NUMBER (truncating integer division — the r7
    `//`-on-fractional-epoch trap applies and is routed through
    floor+CAST in the oracle).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.floor(F.unix_timestamp("ts") / F.lit(86400)).cast("long").alias("x")
    ).agg(hround(F.avg("value"), 6).alias("y"))
    a, b = daily.alias("a"), daily.alias("b")
    slopes = a.join(b, F.col("a.x") < F.col("b.x")).select(
        ((F.col("b.y") - F.col("a.y")) / (F.col("b.x") - F.col("a.x"))).alias("slope")
    )

    def lower_median(df: DataFrame, col: str) -> DataFrame:
        w = Window.orderBy(col)
        return (
            df.withColumn("rn", F.row_number().over(w))
            .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy()))
            .filter(F.col("rn") == F.floor((F.col("n") + 1) / F.lit(2.0)).cast("long"))
            .select(F.col(col))
        )

    m = lower_median(slopes, "slope").select(F.col("slope").alias("m"))
    resid = daily.crossJoin(F.broadcast(m)).select(
        (F.col("y") - F.col("m") * F.col("x")).alias("r")
    )
    icept = lower_median(resid, "r").select(F.col("r").alias("icept"))
    counts = daily.agg(F.count(F.lit(1)).alias("n_days")).crossJoin(
        slopes.agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    return (
        counts.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(icept))
        .select(
            "n_days",
            "n_pairs",
            hround("m", 8).alias("slope_per_day"),
            hround("icept", 6).alias("intercept"),
        )
    )


_NB_SCORE = (
    "MAX(p.logprior) + SUM(ln((COALESCE(tc.c, 0) + 1.0)"
    " / (nc.n_c + (SELECT v FROM vocab))))"
)


@query(
    "ml_naive_bayes_lang",
    oracle=f"""
    WITH train AS (
        SELECT doc_id, lang, text FROM documents WHERE doc_id % 2 = 0
    ), test AS (
        SELECT doc_id, lang, text FROM documents WHERE doc_id % 2 = 1
    ), ttok AS (
        SELECT lang, unnest(string_split(text, ' ')) AS token FROM train
    ), tc AS (
        SELECT lang, token, COUNT(*) AS c FROM ttok GROUP BY 1, 2
    ), nc AS (
        SELECT lang, SUM(c) AS n_c FROM tc GROUP BY 1
    ), vocab AS (
        SELECT CAST(COUNT(DISTINCT token) AS DOUBLE) AS v FROM ttok
    ), priors AS (
        SELECT lang, COUNT(*) AS n_docs,
               ln(COUNT(*) / (SELECT CAST(COUNT(*) AS DOUBLE) FROM train)) AS logprior
        FROM train GROUP BY lang
    ), stok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM test
    ), scored AS (
        SELECT s.doc_id, nc.lang,
               {dround(_NB_SCORE, 6)} AS score
        FROM stok s
        CROSS JOIN nc
        JOIN priors p ON p.lang = nc.lang
        LEFT JOIN tc ON tc.lang = nc.lang AND tc.token = s.token
        GROUP BY s.doc_id, nc.lang
    ), pred AS (
        SELECT doc_id, lang AS predicted FROM (
            SELECT doc_id, lang,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY score DESC, lang) AS rn
            FROM scored
        ) WHERE rn = 1
    )
    SELECT t.lang,
           CAST(MAX(p2.n_docs) AS BIGINT) AS n_train_docs,
           {dround('MAX(p2.logprior)', 6)} AS logprior,
           COUNT(*) AS n_test_docs,
           CAST(COALESCE(SUM(CASE WHEN pred.predicted = t.lang THEN 1 END), 0)
                AS BIGINT) AS n_correct
    FROM test t
    JOIN pred ON pred.doc_id = t.doc_id
    JOIN priors p2 ON p2.lang = t.lang
    GROUP BY t.lang
    ORDER BY t.lang
    """,
)
def ml_naive_bayes_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive Bayes trained and evaluated as PURE relational
    aggregation — the classic demonstration that generative-model
    "training" is one counting shuffle: Laplace-smoothed token-class
    log-likelihoods + class log-priors from the even-id half, argmax
    scoring over the odd-id half, per-class accuracy reported.

    HONEST VERDICT (fixture-documented): documents.lang is an arbitrary
    label uncorrelated with the text (TESTDATA measurement, same reason
    the logreg entry asserts learnability on planted fixtures instead),
    so accuracy lands at the class-prior level — the entry certifies
    the ALGORITHM (counts → smoothed log-probs → argmax), not the
    corpus. Test docs whose true class never occurs in training are
    excluded by the priors join (standard: an unseen class can be
    neither scored nor fairly evaluated). Scale shape: the model
    (vocab × 5 classes) comes from one
    token-counting shuffle; scoring joins the exploded test stream
    against it on the token key — map-side after broadcast when the
    model is small, shuffle-join when it isn't; the per-doc argmax is a
    5-row window per doc. Scores are 1e-6-rounded in lockstep before
    ranking so float summation order can't flip a near-tie argmax.
    """
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    test = docs.filter(F.col("doc_id") % 2 == 1)
    ttok = train.select(
        "lang", F.explode(F.split("text", " ")).alias("token")
    )
    tc = ttok.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("c"))
    nc = tc.groupBy("lang").agg(F.sum("c").alias("n_c"))
    vocab = ttok.agg(F.countDistinct("token").cast("double").alias("v"))
    n_train = train.count()
    priors = train.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.log(F.count(F.lit(1)) / F.lit(float(n_train))).alias("logprior"),
    )
    stok = test.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    classes = nc.join(priors.select("lang", "logprior"), "lang")
    scored = (
        stok.crossJoin(F.broadcast(classes))
        .join(
            tc.withColumnRenamed("lang", "c_lang"),
            (F.col("c_lang") == F.col("lang")) & (tc.token == stok.token),
            "left",
        )
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id", "lang")
        .agg(
            hround(
                F.max("logprior")
                + F.sum(
                    F.log(
                        (F.coalesce(F.col("c"), F.lit(0)) + 1.0)
                        / (F.col("n_c") + F.col("v"))
                    )
                ),
                6,
            ).alias("score")
        )
    )
    wp = Window.partitionBy("doc_id").orderBy(F.desc("score"), "lang")
    pred = (
        scored.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("lang").alias("predicted"))
    )
    return (
        test.join(pred, "doc_id")
        .join(priors.withColumnRenamed("lang", "p_lang"),
              F.col("p_lang") == F.col("lang"))
        .groupBy("lang")
        .agg(
            F.max("n_docs").cast("long").alias("n_train_docs"),
            hround(F.max("logprior"), 6).alias("logprior"),
            F.count(F.lit(1)).alias("n_test_docs"),
            F.coalesce(
                F.sum(F.when(F.col("predicted") == F.col("lang"), 1)), F.lit(0)
            ).cast("long").alias("n_correct"),
        )
        .orderBy("lang")
    )


CROSTON_TAIL = 16


@query(
    "forecast_croston_intermittent",
    oracle=f"""
    WITH dd AS MATERIALIZED (
        SELECT l_partkey, CAST(l_shipdate AS DATE) AS d,
               CAST(SUM(l_quantity) AS DOUBLE) AS q
        FROM lineitem GROUP BY 1, 2
    ), seq AS (
        SELECT l_partkey, d, q,
               date_diff('day', LAG(d) OVER (PARTITION BY l_partkey ORDER BY d), d)
                 AS gap_days,
               ROW_NUMBER() OVER (PARTITION BY l_partkey ORDER BY d DESC) AS rn,
               COUNT(*) OVER (PARTITION BY l_partkey) AS nd
        FROM dd
    ), z AS (
        SELECT l_partkey, CAST(MAX(nd) AS BIGINT) AS n_demand_days,
               {dround('SUM(q * POWER(0.8, rn - 1)) / SUM(POWER(0.8, rn - 1))', 6)} AS z_demand
        FROM seq WHERE rn <= {CROSTON_TAIL}
        GROUP BY l_partkey
        HAVING MAX(nd) >= 3
    ), iv AS (
        SELECT l_partkey,
               {dround('SUM(CAST(gap_days AS DOUBLE) * POWER(0.8, irn - 1)) / SUM(POWER(0.8, irn - 1))', 6)}
                 AS p_interval
        FROM (
            SELECT l_partkey, gap_days,
                   ROW_NUMBER() OVER (PARTITION BY l_partkey ORDER BY d DESC) AS irn
            FROM seq WHERE gap_days IS NOT NULL
        ) WHERE irn <= {CROSTON_TAIL}
        GROUP BY l_partkey
    )
    SELECT z.l_partkey AS part_key, z.n_demand_days, z.z_demand, iv.p_interval,
           {dround('z.z_demand / iv.p_interval', 6)} AS croston_rate
    FROM z JOIN iv ON z.l_partkey = iv.l_partkey
    ORDER BY part_key
    """,
)
def forecast_croston_intermittent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston-style intermittent-demand forecast per part: daily
    demand here is SPARSE (~30 demand days per part across 7 years of
    shipdates — measured), where ordinary smoothing of the calendar
    series collapses toward zero. Croston instead smooths TWO series
    defined only at demand points — demand size z and inter-demand
    interval p — and forecasts the per-day rate z/p.

    Both smoothers use the registry's truncated-kernel EWMA idiom
    (`events_ewma_by_user`): the 16 newest demand days / intervals per
    part, weight 0.8^(rn−1), normalized by realized weight mass —
    the exact expressible form of the recursion (tail mass 0.8^16 ≈
    2.8%), documented in place of the textbook update-at-each-point
    recursion. Shape: one (part, day) aggregate, user-partitioned
    windows with WindowGroupLimit-pushed rank filters, two grouped
    kernel sums — one shuffle key end to end, no calendar spine ever
    materialized (the point of Croston at scale: state is per DEMAND
    POINT, not per day).
    """
    li = load_table(spark, sf_dir, "lineitem")
    dd = checkpoint(  # feeds both smoothers
        li.groupBy(
            F.col("l_partkey"), F.to_date("l_shipdate").alias("d")
        )
        .agg(F.sum("l_quantity").cast("double").alias("q"))
    )
    wasc = Window.partitionBy("l_partkey").orderBy("d")
    wdesc = Window.partitionBy("l_partkey").orderBy(F.desc("d"))
    wall = Window.partitionBy("l_partkey")
    seq = dd.select(
        "l_partkey",
        "d",
        "q",
        F.datediff(F.col("d"), F.lag("d").over(wasc)).alias("gap_days"),
        F.row_number().over(wdesc).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("nd"),
    )
    decay = F.pow(F.lit(0.8), F.col("rn") - 1)
    z = (
        seq.filter(F.col("rn") <= CROSTON_TAIL)
        .groupBy("l_partkey")
        .agg(
            F.max("nd").cast("bigint").alias("n_demand_days"),
            hround(F.sum(F.col("q") * decay) / F.sum(decay), 6).alias("z_demand"),
        )
        .filter(F.col("n_demand_days") >= 3)
    )
    ivs = (
        seq.filter(F.col("gap_days").isNotNull())
        .withColumn("irn", F.row_number().over(wdesc))
        .filter(F.col("irn") <= CROSTON_TAIL)
    )
    idecay = F.pow(F.lit(0.8), F.col("irn") - 1)
    iv = ivs.groupBy("l_partkey").agg(
        hround(
            F.sum(F.col("gap_days").cast("double") * idecay) / F.sum(idecay), 6
        ).alias("p_interval")
    )
    return (
        z.join(iv, "l_partkey")
        .select(
            F.col("l_partkey").alias("part_key"),
            "n_demand_days",
            "z_demand",
            "p_interval",
            hround(F.col("z_demand") / F.col("p_interval"), 6).alias("croston_rate"),
        )
        .orderBy("part_key")
    )
