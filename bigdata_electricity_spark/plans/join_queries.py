"""Star-schema join queries (new-engine extension — SURVEY §2.3).

The reference implements zero joins; these are required by the driver's
TPC-H-ish testdata and the north-star. Join-strategy discipline for the
100 TB tier:
- constant-cardinality dimensions (region 5 rows, nation 25 — fixed at
  every SF) are broadcast explicitly; supplier/customer/part scale with
  SF and therefore join UNhinted via operators/dims.py's hint_dim, so
  Catalyst/AQE broadcast them when actually small and shuffle at scale
  (an explicit hint is not AQE-demotable and the 8 GB broadcast cap
  bites at 100 TB);
- the one genuinely large⋈large join (lineitem⋈orders) shuffles on the
  join key, with AQE skew-splitting enabled in the session confs;
- aggregations sit ABOVE the join but Catalyst pushes projections/filters
  below it — verified via .explain in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.dims import hint_dim
from ..operators.skew import salted_join
from ..sources.loaders import load_table
from ..sources.sinks import run_dir, run_table, write_bucketed_table
from ..functions.rounding import dround, hround
from .registry import query


@query(
    "join_revenue_by_nation",
    oracle="""
    SELECT n.n_name AS nation,
           floor((SUM(l.l_extendedprice * (1 - l.l_discount))) * 100.0 + 0.5) / 100.0 AS revenue,
           COUNT(*) AS n_lineitems
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY revenue DESC
    """,
)
def join_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-way star join: fact⋈fact shuffle + dimension joins, then rollup.

    The revenue sum is pushed BELOW the lineitem⋈orders join as a
    per-orderkey partial aggregate (Catalyst does not do this rewrite):
    map-side combine cuts the lineitem shuffle ~4× (TPC-H averages ~4
    lines/order), the join probes ~4× fewer rows, and the groupBy's
    HashPartitioning(l_orderkey) is reused by the sort-merge join — no
    extra exchange. Sums are additive and the final key (n_name) is a
    function of the orders side, so the relation is unchanged (same
    oracle). nation is hinted broadcast (25 rows), customer joins
    unhinted — stats/AQE broadcast it while it fits and demote it at
    scale. TPC-H Q5-like shape.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    li_per_order = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("__rev"),
        F.count(F.lit(1)).alias("__n_lines"),
    )
    return (
        li_per_order.join(orders, li_per_order.l_orderkey == orders.o_orderkey)
        .join(hint_dim(customer, "customer"), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            hround(F.sum("__rev"), 2).alias("revenue"),
            F.sum("__n_lines").alias("n_lineitems"),
        )
        .orderBy(F.desc("revenue"))
    )


@query(
    "join_part_brand_volume",
    oracle="""
    SELECT p.p_brand AS brand,
           floor((SUM(l.l_quantity)) * 100.0 + 0.5) / 100.0 AS total_qty,
           floor((AVG(l.l_extendedprice)) * 10000.0 + 0.5) / 10000.0 AS avg_price,
           COUNT(*) AS n_lineitems
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    ORDER BY brand
    """,
)
def join_part_brand_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dimension join (unhinted — stats/AQE-sized): volume per brand."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(hint_dim(part, "part"), li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            hround(F.sum("l_quantity"), 2).alias("total_qty"),
            hround(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy("brand")
    )


@query(
    "join_region_rollup",
    oracle="""
    SELECT r.r_name AS region,
           floor((SUM(o.o_totalprice)) * 100.0 + 0.5) / 100.0 AS total_sales,
           COUNT(DISTINCT c.c_custkey) AS n_customers
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    ORDER BY region
    """,
)
def join_region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snowflake rollup through two dimension hops (customer unhinted,
    nation/region hinted broadcast).

    Orders pre-aggregate per o_custkey BELOW the customer join: the fact
    shuffle shrinks ~10× (TPC-H has ~10 orders/customer) with map-side
    combine, and — because each surviving custkey is unique after the
    pre-agg and customer is PK-unique — COUNT(DISTINCT c_custkey)
    degenerates to a plain COUNT, so the final rollup needs no Expand /
    two-level distinct machinery at all. Same relation, same oracle.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    orders_per_cust = orders.groupBy("o_custkey").agg(
        F.sum("o_totalprice").alias("__sales")
    )
    return (
        orders_per_cust.join(
            hint_dim(customer, "customer"), orders_per_cust.o_custkey == customer.c_custkey
        )
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            hround(F.sum("__sales"), 2).alias("total_sales"),
            F.count("c_custkey").alias("n_customers"),
        )
        .orderBy("region")
    )


@query(
    "join_semi_customers_with_orders",
    oracle="""
    SELECT c.c_mktsegment AS segment, COUNT(*) AS n_customers
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_mktsegment
    ORDER BY segment
    """,
)
def join_semi_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers that placed at least one order,
    by segment. Semi joins never duplicate or widen rows — the scalable
    EXISTS shape."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_semi")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("segment")
    )


@query(
    "join_anti_customers_without_orders",
    oracle="""
    SELECT n.n_name AS nation, COUNT(*) AS n_customers
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2001-01-01')
    GROUP BY n.n_name
    ORDER BY nation
    """,
)
def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no 2001+ order, by
    nation. (Every testdata customer has some order, so the unfiltered
    never-ordered variant would be trivially empty — the date predicate
    keeps the anti join exercised with real rows.)"""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    nation = load_table(spark, sf_dir, "nation")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("nation")
    )


@query(
    "join_supplier_nation",
    oracle="""
    SELECT s.s_name AS supplier, n.n_name AS nation,
           floor((s.s_acctbal) * 100.0 + 0.5) / 100.0 AS acctbal
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    ORDER BY supplier
    """,
)
def join_supplier_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension⋈dimension broadcast join (supplier enrichment)."""
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        supplier.join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .select(
            F.col("s_name").alias("supplier"),
            F.col("n_name").alias("nation"),
            hround("s_acctbal", 2).alias("acctbal"),
        )
        .orderBy("supplier")
    )


@query(
    "join_outer_hourly_alignment",
    oracle="""
    WITH views AS (
        SELECT date_trunc('hour', ts) AS hr, COUNT(*) AS n_views
        FROM events WHERE event_type = 'view' GROUP BY 1
    ), purchases AS (
        SELECT date_trunc('hour', ts) AS hr, COUNT(*) AS n_purchases
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    )
    SELECT strftime(COALESCE(v.hr, p.hr), '%Y-%m-%d %H:%M:%S') AS hour,
           COALESCE(v.n_views, 0) AS n_views,
           COALESCE(p.n_purchases, 0) AS n_purchases,
           CASE WHEN v.hr IS NULL THEN 'purchase_only'
                WHEN p.hr IS NULL THEN 'view_only'
                ELSE 'both' END AS coverage
    FROM views v FULL OUTER JOIN purchases p ON v.hr = p.hr
    ORDER BY hour
    """,
)
def join_outer_hourly_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer alignment of two sparse hourly series (views vs
    purchases): hours where either side is missing survive with
    coalesced zeros — the outer-join shape for reconciling independently
    aggregated fact streams.

    Both inputs pre-aggregate BEFORE the join (hours ≪ events), so the
    full-outer join runs on two small keyed sides; at scale both sides
    hash-partition on the hour key — no broadcast (full outer cannot
    broadcast either side).
    """
    events = load_table(spark, sf_dir, "events")
    hr = F.date_trunc("hour", F.col("ts"))
    views = (
        events.filter(F.col("event_type") == "view")
        .groupBy(hr.alias("v_hr"))
        .agg(F.count(F.lit(1)).alias("n_views"))
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(hr.alias("p_hr"))
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    return (
        views.join(purchases, views.v_hr == purchases.p_hr, "full_outer")
        .select(
            F.date_format(F.coalesce("v_hr", "p_hr"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            F.coalesce("n_views", F.lit(0)).alias("n_views"),
            F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
            F.when(F.col("v_hr").isNull(), "purchase_only")
            .when(F.col("p_hr").isNull(), "view_only")
            .otherwise("both")
            .alias("coverage"),
        )
        .orderBy("hour")
    )


@query(
    "join_skew_salted_segment_revenue",
    oracle=f"""
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS n_orders,
           {dround("SUM(o.o_totalprice)", 2)} AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY segment
    """,
)
def join_skew_salted_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated fact⋈dim join: orders salted on custkey across 8
    buckets, customer replicated ×8, joined on (custkey, salt) — then
    revenue per market segment.

    The salt splits any pathological hot customer across 8 tasks instead
    of one straggler; result-identity with the plain join is the oracle
    check here plus tests/test_skew.py's planted-hot-key property. This
    is the declarative fallback for skew AQE's runtime splitting can't
    fix (e.g. a hot key inside a broadcast-ineligible join).
    """
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    joined = salted_join(orders, customer, on="custkey", salt_buckets=8)
    return (
        joined.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            hround(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("segment")
    )


@query(
    "join_skew_aqe_segment_revenue",
    oracle=f"""
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS n_orders,
           {dround("SUM(o.o_totalprice)", 2)} AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY segment
    """,
)
def join_skew_aqe_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NATIVE skew path beside `join_skew_salted_segment_revenue`:
    the same fact⋈dim rollup, unsalted, merge-hinted so the join plans
    as the SortMergeJoin shape AQE's skew rule can split at runtime
    (broadcast would bypass it — and at 100 TB the dimension may not
    broadcast anyway).

    Same oracle as the salted entry, so the driver hash-matches the two
    mitigation paths against each other through DuckDB. That Spark's
    `spark.sql.adaptive.skewJoin` actually FIRES on planted skew (final
    plan shows `SortMergeJoin(skew=true)` + skewed AQEShuffleRead) is
    certified in tests/test_physical_plans.py — detection reads
    compressed shuffle-block sizes, so thresholds are scaled there; at
    production SFs the session defaults (session.py: AQE + skewJoin on)
    apply unchanged. Use the salted twin only for skew AQE can't see
    (e.g. a hot key inside a broadcast join).
    """
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    return (
        orders.join(customer.hint("merge"), "custkey")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            hround(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("segment")
    )


@query(
    "join_bucketed_colocated_priority",
    oracle=f"""
    SELECT o.o_orderpriority AS priority,
           COUNT(*) AS n_lineitems,
           {dround("SUM(l.l_quantity)", 2)} AS total_qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    ORDER BY priority
    """,
)
def join_bucketed_colocated_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located large⋈large join: lineitem and orders bucketed ×8 on
    the order key at write time, then joined shuffle-free and rolled up
    by order priority.

    The bucketed write IS the query's point — pay the partitioning once,
    then every orderkey equi-join between the two tables plans
    SortMergeJoin with no Exchange (asserted under broadcast demotion in
    tests/test_physical_plans.py; bucket files pinned under the
    application's scratch dir so a driver session's cwd doesn't matter).
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    li_tbl = run_table("colo_lineitem_bkt")
    o_tbl = run_table("colo_orders_bkt")
    write_bucketed_table(
        li, li_tbl, "l_orderkey", 8, sort_col="l_orderkey",
        path=run_dir("colo_lineitem_bkt", sf_dir),
    )
    write_bucketed_table(
        orders, o_tbl, "l_orderkey", 8, sort_col="l_orderkey",
        path=run_dir("colo_orders_bkt", sf_dir),
    )
    joined = spark.table(li_tbl).join(spark.table(o_tbl), "l_orderkey")
    return (
        joined.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            hround(F.sum("l_quantity"), 2).alias("total_qty"),
        )
        .orderBy("priority")
    )
