"""Classic TPC-H query shapes adapted to the driver's star schema.

The reference implements zero joins (SURVEY §2.3); ``tpch_q1`` lives in
reference_queries. This module widens the relational surface with the
canonical TPC-H patterns the testdata schema can express — each one
exercises a distinct planner capability:

- Q3: selective dim filter → fact join → grouped top-k (TakeOrderedAndProject)
- Q4: EXISTS via left-semi join (no row duplication)
- Q6: pure scan-side predicate pushdown, no join, single-row agg
- Q7: one dimension joined twice under different aliases (both broadcast)
- Q9: five-way join, build-side filter pruned before the join
- Q10: group-by-customer revenue with broadcast nation, top 20
- Q12: interval arithmetic + two-tier conditional aggregation
- Q14: conditional-sum ratio over the part join
- Q15: scalar-subquery max over a reused CTE (1-row broadcast)
- Q17: correlated per-part AVG subquery, decorrelated by hand
- Q18: having-filter on a grouped fact, joined back to dimensions
- Q19: disjunctive cross-side predicate evaluated post-probe
- Q22: scalar-subquery cutoff + NOT EXISTS anti join
- Q5: region-gated 6-way star with the customer-nation = supplier-nation
  equality (the classic "local supplier" join cycle)
- Q8: market share — one dimension (nation) joined twice, conditional
  share ratio per year
- Q13: left-outer join with an ON-clause filter + two-level aggregation
  (the canonical count-distribution query)
- Q16-shape: NOT IN supplier exclusion + COUNT DISTINCT rollup
  (partsupp does not exist in the testdata; lineitem supplies the
  part↔supplier pairs)
- Q20-shape: nested semi-join chain — suppliers shipping >1.5× the
  per-part average of a name-filtered part family (quantity cutoff
  aggregated over the filtered subset ONLY, the q17 lesson)
- Q21-shape: sole-latest-shipper per multi-supplier order (lineitem has
  only shipdate, so "kept waiting" is re-expressed as "uniquely latest")

Scale notes (100 TB tier): broadcast hints follow the
operators/dims.py policy — unconditional F.broadcast only on
constant-cardinality dims (nation 25 / region 5 rows) and 1-row scalar
aggregates; customer/part/supplier go through hint_dim() UNhinted so
Catalyst (file stats) and AQE (runtime stats) pick broadcast when the
table is genuinely small and a shuffle join when it is not (an explicit
hint is not AQE-demotable, and these tables exceed the 8 GB broadcast
cap at the 100 TB tier — tests/test_physical_plans.py sweeps every
entry here under autoBroadcastJoinThreshold=-1).
lineitem⋈orders shuffles on the shared key so AQE can split skew; all
date predicates sit directly on the parquet scan (PushedFilters verified
in tests/test_physical_plans.py for the existing joins — same loaders).
Top-k queries carry a unique tiebreak key so LIMIT output is
deterministic under the driver's value-hash compare.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.rounding import dround, hround
from ..operators.dims import hint_dim
from ..sources.loaders import load_table
from .registry import query


@query(
    "tpch_q3_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey AS orderkey,
           CAST(o.o_orderdate AS DATE) AS orderdate,
           o.o_orderpriority AS priority,
           {dround("SUM(l.l_extendedprice * (1 - l.l_discount))", 2)} AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate  > TIMESTAMP '1998-01-01'
    GROUP BY l.l_orderkey, CAST(o.o_orderdate AS DATE), o.o_orderpriority
    ORDER BY revenue DESC, orderkey
    LIMIT 10
    """,
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: unshipped-orders revenue top-10 for one segment.

    The GROUP BY key (l_orderkey, orderdate, priority) is functionally
    determined by l_orderkey (orders/customer are PK-unique), so the
    revenue sum is computed as a per-orderkey partial aggregate BELOW
    the join and the post-join groupBy disappears entirely: map-side
    combine shrinks the lineitem shuffle, the join emits exactly one
    row per surviving order, and the only remaining exchange above the
    join is the TakeOrderedAndProject top-k (never a global sort).
    Customer filters to ~1/5 of rows and joins unhinted (stats-based
    broadcast when small, shuffle at scale — dims.py policy). Tiebreak
    on orderkey keeps the LIMIT deterministic.
    """
    customer = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    li_per_order = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("__rev")
    )
    return (
        li_per_order.join(orders, li_per_order.l_orderkey == orders.o_orderkey)
        .join(hint_dim(customer, "customer"), orders.o_custkey == customer.c_custkey)
        .select(
            F.col("l_orderkey").alias("orderkey"),
            F.to_date("o_orderdate").alias("orderdate"),
            F.col("o_orderpriority").alias("priority"),
            hround(F.col("__rev"), 2).alias("revenue"),
        )
        .orderBy(F.desc("revenue"), "orderkey")
        .limit(10)
    )


@query(
    "tpch_q4_order_priority",
    oracle="""
    SELECT o.o_orderpriority AS priority, COUNT(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-07-01'
      AND o.o_orderdate <  TIMESTAMP '1997-10-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o.o_orderpriority
    ORDER BY priority
    """,
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4: orders per priority that shipped anything after the
    order date, one quarter. EXISTS = left-semi join on (orderkey +
    non-equi date predicate) — semi joins never widen or duplicate the
    probe side, the scalable EXISTS shape.
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("priority")
    )


@query(
    "tpch_q6_forecast_revenue",
    oracle=f"""
    SELECT {dround("SUM(l_extendedprice * l_discount)", 2)} AS promo_revenue,
           COUNT(*) AS n_lineitems
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: revenue increase from ending low-discount small orders.

    Join-free: all four predicates push into the parquet scan
    (PushedFilters), the row-group min/max stats skip whole chunks at
    scale, and the single-row global agg is one partial+final pass.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        hround(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("promo_revenue"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


@query(
    "tpch_q10_returned_items",
    oracle=f"""
    SELECT c.c_custkey AS custkey, c.c_name AS name, n.n_name AS nation,
           {dround("SUM(l.l_extendedprice * (1 - l.l_discount))", 2)} AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-04-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, custkey
    LIMIT 20
    """,
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by returned-merchandise revenue in a
    quarter. The returnflag filter pushes into the lineitem scan; nation
    and customer broadcast; TakeOrderedAndProject caps the result with a
    custkey tiebreak for deterministic LIMIT output.

    Deliberately NOT pre-aggregated per orderkey below the join (unlike
    q3/q18/join_revenue_by_nation): the 'R' filter keeps ~25% of lines,
    i.e. ~1 surviving line per order, so the pre-agg's combine factor is
    ~1 — measured at 10× the bench SF (demoted, warm) the pre-agg
    variant was 1.29→1.97 s, a hash pass bought nothing. Pre-agg below a
    join pays only when rows-per-key is material AFTER filters.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(hint_dim(customer, "customer"), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("n_name").alias("nation"),
        )
        .agg(hround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "custkey")
        .limit(20)
    )


@query(
    "tpch_q12_late_shipments",
    oracle="""
    SELECT CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INTEGER) AS ship_year,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    GROUP BY 1
    ORDER BY ship_year
    """,
)
def tpch_q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: lineitems shipped >60 days after ordering, split
    into high/low priority counts per ship year. The non-equi interval
    predicate rides on the equi-join (evaluated post-probe, no extra
    pass); the two-tier count is a conditional-sum pair in one agg.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            orders,
            (li.l_orderkey == orders.o_orderkey)
            & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        )
        .groupBy(F.year("l_shipdate").alias("ship_year"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("ship_year")
    )


@query(
    "tpch_q14_promo_effect",
    oracle=f"""
    SELECT {dround(
        "100.0 * SUM(CASE WHEN p.p_type = 'PROMO' "
        "THEN l.l_extendedprice * (1 - l.l_discount) ELSE CAST(0.0 AS DOUBLE) END) "
        "/ SUM(l.l_extendedprice * (1 - l.l_discount))", 4)} AS promo_pct,
           COUNT(*) AS n_lineitems
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
      AND l.l_shipdate <  TIMESTAMP '1997-10-01'
    """,
)
def tpch_q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: share of one month's revenue from PROMO parts.

    Conditional-sum ratio in a single aggregate over the part join
    (unhinted — stats/AQE-sized) — one pass, no second scan for the
    denominator.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(hint_dim(part, "part"), li.l_partkey == part.p_partkey)
        .agg(
            hround(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                4,
            ).alias("promo_pct"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@query(
    "tpch_q18_large_orders",
    oracle=f"""
    SELECT c.c_name AS name, c.c_custkey AS custkey,
           o.o_orderkey AS orderkey,
           CAST(o.o_orderdate AS DATE) AS orderdate,
           {dround("o.o_totalprice", 2)} AS totalprice,
           {dround("SUM(l.l_quantity)", 2)} AS total_qty
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey,
             CAST(o.o_orderdate AS DATE), o.o_totalprice
    HAVING SUM(l.l_quantity) > 250
    ORDER BY totalprice DESC, orderkey
    """,
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: large-volume orders (total quantity > 250) with their
    customers.

    Every GROUP BY key is functionally determined by o_orderkey, so the
    whole aggregate + HAVING runs on lineitem alone BELOW the joins:
    map-side combine shrinks the fact shuffle ~4×, the >250 filter is
    highly selective, and only qualifying orderkeys ever probe
    orders/customer — at 100 TB the joins see thousands of rows, not
    billions. Same relation as the post-join HAVING (the oracle is
    unchanged).
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big_orders = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__qty"))
        .filter(F.col("__qty") > 250)
    )
    return (
        big_orders.join(orders, big_orders.l_orderkey == orders.o_orderkey)
        .join(hint_dim(customer, "customer"), orders.o_custkey == customer.c_custkey)
        .select(
            F.col("c_name").alias("name"),
            F.col("c_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.to_date("o_orderdate").alias("orderdate"),
            hround("o_totalprice", 2).alias("totalprice"),
            hround("__qty", 2).alias("total_qty"),
        )
        .orderBy(F.desc("totalprice"), "orderkey")
    )


@query(
    "tpch_q19_bracketed_revenue",
    oracle=f"""
    SELECT {dround("SUM(l.l_extendedprice * (1 - l.l_discount))", 2)} AS revenue,
           COUNT(*) AS n_lineitems
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 11)
       OR (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity >= 10 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity >= 20 AND l.l_quantity <= 30)
    """,
)
def tpch_q19_bracketed_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: disjunctive brand/size/quantity brackets.

    The OR-of-ANDs predicate spans both join sides, so it can't push
    below the join — but the broadcast-hash join keeps it a single
    streamed pass over lineitem with the predicate evaluated post-probe.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")

    def bracket(brand: str, size_hi: int, qty_lo: float, qty_hi: float):
        return (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(1, size_hi)
            & (F.col("l_quantity") >= qty_lo)
            & (F.col("l_quantity") <= qty_hi)
        )

    cond = (
        bracket("Brand#1", 15, 1, 11)
        | bracket("Brand#12", 25, 10, 20)
        | bracket("Brand#23", 35, 20, 30)
    )
    return (
        li.join(hint_dim(part, "part"), li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(
            hround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@query(
    "tpch_q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
        SELECT l_suppkey AS suppkey,
               SUM(l_extendedprice * (1 - l_discount)) AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey AS suppkey, s.s_name AS name,
           {dround("r.total_rev", 2)} AS total_rev
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.suppkey
    WHERE r.total_rev = (SELECT MAX(total_rev) FROM revenue)
    ORDER BY suppkey
    """,
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with the maximum quarterly revenue.

    The scalar subquery (global max over the revenue CTE) becomes a
    1-row broadcast joined against the same aggregate — the CTE is
    declared once and Catalyst decides between reuse and recompute.
    Rounding happens AFTER the max-equality test, mirroring the oracle.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    supplier = load_table(spark, sf_dir, "supplier")
    revenue = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_rev")
    )
    max_rev = revenue.agg(F.max("total_rev").alias("max_rev"))
    return (
        supplier.join(revenue, supplier.s_suppkey == revenue.suppkey)
        .join(F.broadcast(max_rev), F.col("total_rev") == F.col("max_rev"))
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("name"),
            hround("total_rev", 2).alias("total_rev"),
        )
        .orderBy("suppkey")
    )


@query(
    "tpch_q17_small_quantity_revenue",
    oracle=f"""
    SELECT {dround("SUM(l.l_extendedprice) / 7.0", 2)} AS avg_yearly,
           COUNT(*) AS n_lineitems
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand = 'Brand#3'
      AND l.l_quantity < (
          SELECT 0.2 * AVG(l2.l_quantity)
          FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
    """,
)
def tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue lost by never filling small orders of one brand.

    The correlated per-part AVG subquery is decorrelated by hand, but the
    aggregate is computed only over the lineitems of the brand-filtered
    parts: lineitem is first semi-joined to the brand part subset, then
    the per-part cutoff is aggregated over that subset. The cutoff
    aggregate is |brand parts|-proportional — NOT |all parts|-
    proportional — but a brand slice still grows linearly with SF, so
    neither it nor part carries a forced broadcast hint: AQE promotes
    the joins to broadcast at fixture scale and keeps them shuffles at
    the 100 TB tier. (An earlier revision grouped over ALL lineitem
    partkeys and force-broadcast the result — an OOM at the target;
    tests/test_physical_plans.py asserts the cutoff aggregates over the
    brand-filtered subset and survives full broadcast demotion.)
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    # Restrict lineitem to brand parts ONCE; both the cutoff aggregate
    # and the probe side reuse this filtered plan.
    brand_li = li.join(hint_dim(part, "part"), li.l_partkey == part.p_partkey)
    per_part_avg = brand_li.groupBy(F.col("l_partkey").alias("avg_partkey")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_cutoff")
    )
    return (
        brand_li.join(per_part_avg, li.l_partkey == F.col("avg_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_cutoff"))
        .agg(
            hround(F.sum("l_extendedprice") / F.lit(7.0), 2).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@query(
    "tpch_q22_dormant_balances",
    oracle=f"""
    WITH positive_avg AS (
        SELECT AVG(c_acctbal) AS cutoff FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS n_customers,
           {dround("SUM(c.c_acctbal)", 2)} AS total_bal
    FROM customer c, positive_avg
    WHERE c.c_acctbal > positive_avg.cutoff
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c.c_mktsegment
    ORDER BY segment
    """,
)
def tpch_q22_dormant_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: well-funded customers DORMANT since 2000 (no
    recent order), by segment.

    Two classic sub-plans in one query: a scalar subquery (global avg of
    positive balances → 1-row broadcast crossJoin) gating the probe
    side, then a left-anti join against date-filtered orders for the
    NOT EXISTS. (Every testdata customer has *some* order, so the
    classic never-ordered predicate would select zero rows — the recency
    cutoff keeps the anti-join leg non-trivial.)
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    cutoff = customer.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("cutoff")
    )
    return (
        customer.crossJoin(F.broadcast(cutoff))
        .filter(F.col("c_acctbal") > F.col("cutoff"))
        .join(orders, F.col("c_custkey") == orders.o_custkey, "left_anti")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            hround(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
        .orderBy("segment")
    )


@query(
    "tpch_q7_nation_trade",
    oracle=f"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INTEGER) AS ship_year,
           {dround("SUM(l.l_extendedprice * (1 - l.l_discount))", 2)} AS volume
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
    JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
    WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
    GROUP BY sn.n_name, cn.n_name, 3
    ORDER BY supp_nation, cust_nation, ship_year
    """,
)
def tpch_q7_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: shipping volume between two nations per year, in both
    directions. The nation table joins TWICE under different aliases
    (supplier side and customer side) — both hinted broadcast (25 rows
    at every SF); supplier/customer join unhinted (dims.py policy); the
    disjunctive nation-pair predicate evaluates after both probes.
    """
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(hint_dim(supplier, "supplier"), li.l_suppkey == supplier.s_suppkey)
        .join(hint_dim(customer, "customer"), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year"))
        .agg(hround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("volume"))
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


@query(
    "tpch_q9_product_profit",
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INTEGER) AS order_year,
           {dround("SUM(l.l_extendedprice * (1 - l.l_discount) - l.l_quantity * p.p_retailprice * 0.6)", 2)} AS profit
    FROM lineitem l
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    WHERE p.p_type = 'PROMO'
    GROUP BY n.n_name, 2
    ORDER BY nation, order_year DESC
    """,
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: per-nation-per-year profit on one product line
    (revenue minus a 60%-of-retail cost proxy — the testdata has no
    partsupp cost table). Five-way join where only lineitem⋈orders
    shuffles; nation is hinted broadcast, part/supplier join unhinted
    (stats/AQE-sized — dims.py policy), and the p_type filter prunes
    the part side before it reaches the join.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    supplier = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("l_quantity") * F.col("p_retailprice") * F.lit(0.6)
    )
    return (
        li.join(hint_dim(part, "part"), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(hint_dim(supplier, "supplier"), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("order_year"))
        .agg(hround(F.sum(profit), 2).alias("profit"))
        .orderBy("nation", F.desc("order_year"))
    )


@query(
    "tpch_q5_local_supplier_volume",
    oracle=f"""
    SELECT n.n_name AS nation,
           {dround("SUM(l.l_extendedprice * (1 - l.l_discount))", 2)} AS revenue,
           COUNT(*) AS n_lineitems
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate <  TIMESTAMP '1999-01-01'
    GROUP BY n.n_name
    ORDER BY nation
    """,
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: revenue from orders where customer and supplier share a
    nation, for one region and a 2-year window.

    The join cycle (customer→orders→lineitem→supplier plus
    c_nationkey = s_nationkey) is expressed as an extra equality on the
    supplier join — Catalyst keeps it a hash-join key pair, no
    post-filter. nation/region are hinted broadcast; customer/supplier
    join unhinted (dims.py policy). The region gate prunes nation
    before it ever reaches the fact side.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(hint_dim(customer, "customer"), orders.o_custkey == customer.c_custkey)
        .join(
            hint_dim(supplier, "supplier"),
            (li.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            hround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy("nation")
    )


@query(
    "tpch_q8_market_share",
    oracle=f"""
    SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INTEGER) AS o_year,
           {dround("SUM(CASE WHEN n2.n_name = 'NATION_12' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END) / SUM(l.l_extendedprice * (1 - l.l_discount))", 6)} AS mkt_share,
           COUNT(*) AS n_lineitems
    FROM part p
    JOIN lineitem l ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
    JOIN region r   ON n1.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
    JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
    WHERE p.p_type = 'ECONOMY'
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: NATION_12's share of ECONOMY-part revenue sold into the
    ASIA market, per order year.

    nation joins twice under different roles — the customer side gated
    through region, the supplier side carried into a conditional sum.
    The share is one grouped pass: sum(case)/sum, rounded at 1e-6 on
    both engines so partial-agg order can't flip the hash.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    n_cust = load_table(spark, sf_dir, "nation").alias("n1")
    n_supp = load_table(spark, sf_dir, "nation").alias("n2")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(hint_dim(part, "part"), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(hint_dim(customer, "customer"), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(n_cust), customer.c_nationkey == F.col("n1.n_nationkey"))
        .join(F.broadcast(region), F.col("n1.n_regionkey") == region.r_regionkey)
        .join(hint_dim(supplier, "supplier"), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(n_supp), supplier.s_nationkey == F.col("n2.n_nationkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            hround(
                F.sum(F.when(F.col("n2.n_name") == "NATION_12", vol).otherwise(F.lit(0.0)))
                / F.sum(vol),
                6,
            ).alias("mkt_share"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy("o_year")
    )


@query(
    "tpch_q13_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT OUTER JOIN orders o
          ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
    ORDER BY c_count
    """,
)
def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: how many customers placed 0, 1, 2, … non-urgent orders.

    The priority predicate lives in the JOIN condition, not a WHERE —
    customers whose only orders are urgent must still appear with
    count 0, which a post-join filter would silently drop. Two
    aggregations: per-customer count (shuffles on custkey — COUNT(col)
    skips the nulls the outer join manufactures), then the tiny
    distribution rollup.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy("c_count")
    )


@query(
    "tpch_q16_supplier_part_counts",
    oracle="""
    SELECT p.p_brand AS brand, p.p_type AS type, p.p_size AS size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#5'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
      AND l.l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000.0)
    GROUP BY brand, type, size
    ORDER BY brand, type, size
    """,
)
def tpch_q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct suppliers per (brand, type, size) slice,
    excluding low-balance suppliers. (The testdata has no partsupp;
    lineitem supplies the observed part↔supplier pairs.)

    The NOT IN becomes a left-anti join against the excluded-supplier
    set (unhinted — O(supplier), so stats/AQE size it) — null-safe
    here because s_suppkey is a
    non-null key. COUNT DISTINCT plans as the two-level expand Spark
    uses for distinct aggregates; the part filters prune at the scan.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))
    )
    excluded = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 1000.0
    ).select("s_suppkey")
    return (
        li.join(hint_dim(part, "part"), li.l_partkey == part.p_partkey)
        .join(excluded, li.l_suppkey == excluded.s_suppkey, "left_anti")
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("p_type").alias("type"),
            F.col("p_size").alias("size"),
        )
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
        .orderBy("brand", "type", "size")
    )


@query(
    "tpch_q20_excess_shippers",
    oracle=f"""
    WITH shipped AS (
        SELECT l.l_suppkey, l.l_partkey, SUM(l.l_quantity) AS qty
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_name LIKE '%widget%'
          AND l.l_shipdate >= TIMESTAMP '1998-01-01'
          AND l.l_shipdate <  TIMESTAMP '1999-01-01'
        GROUP BY l.l_suppkey, l.l_partkey
    ), cutoff AS (
        SELECT l_partkey AS cutoff_partkey, 1.5 * AVG(qty) AS qty_max
        FROM shipped GROUP BY l_partkey
    )
    SELECT s.s_name AS name, {dround("s.s_acctbal", 2)} AS acctbal
    FROM supplier s
    WHERE s.s_suppkey IN (
        SELECT sh.l_suppkey FROM shipped sh
        JOIN cutoff c ON sh.l_partkey = c.cutoff_partkey
        WHERE sh.qty > c.qty_max)
    ORDER BY name
    """,
)
def tpch_q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who shipped more than 1.5× the
    per-part average quantity of the widget part family in 1998.
    (No partsupp in the testdata — "available quantity" becomes the
    per-part average shipped quantity.)

    Nested semi-join chain: the shipped aggregate is computed ONCE over
    the name-filtered part family (|widget parts|-bounded, the q17
    discipline — but still O(SF), so no forced hint), its per-part
    cutoff re-aggregated from it, and supplier is left-semi-joined to
    the qualifying suppkeys.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    supplier = load_table(spark, sf_dir, "supplier")
    shipped = (
        li.join(hint_dim(part, "part"), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    cutoff = shipped.groupBy(F.col("l_partkey").alias("cutoff_partkey")).agg(
        (F.lit(1.5) * F.avg("qty")).alias("qty_max")
    )
    qualifying = (
        shipped.join(cutoff, shipped.l_partkey == cutoff.cutoff_partkey)
        .filter(F.col("qty") > F.col("qty_max"))
        .select("l_suppkey")
    )
    return (
        supplier.join(qualifying, supplier.s_suppkey == qualifying.l_suppkey, "left_semi")
        .select(F.col("s_name").alias("name"), hround("s_acctbal", 2).alias("acctbal"))
        .orderBy("name")
    )


@query(
    "tpch_q21_sole_late_shipper",
    oracle="""
    WITH per_order AS (
        SELECT l_orderkey, MAX(l_shipdate) AS max_ship,
               COUNT(DISTINCT l_suppkey) AS n_supp
        FROM lineitem GROUP BY l_orderkey
    ), sole AS (
        SELECT l.l_orderkey, MIN(l.l_suppkey) AS suppkey
        FROM lineitem l
        JOIN per_order p
          ON l.l_orderkey = p.l_orderkey AND l.l_shipdate = p.max_ship
        WHERE p.n_supp >= 2
        GROUP BY l.l_orderkey
        HAVING COUNT(DISTINCT l.l_suppkey) = 1
    )
    SELECT s.s_name AS name, COUNT(*) AS numwait
    FROM sole JOIN supplier s ON sole.suppkey = s.s_suppkey
    GROUP BY name
    ORDER BY name
    """,
)
def tpch_q21_sole_late_shipper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: per supplier, the number of multi-supplier orders
    where that supplier alone shipped last. (lineitem carries only
    l_shipdate, so Q21's receipt-vs-commit lateness becomes
    "uniquely latest ship date in the order".)

    The EXISTS / NOT EXISTS pair of the original decorrelates into one
    grouped pass over lineitem (max ship date + distinct-supplier count
    per order), a self-join back on (orderkey, max ship), and a
    HAVING that keeps orders whose latest shipment came from exactly
    one supplier. Both shuffles key on l_orderkey — AQE can reuse the
    exchange; supplier joins unhinted at the end (the sole side has
    already collapsed to per-order rows).
    """
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    per_order = li.groupBy(F.col("l_orderkey").alias("po_orderkey")).agg(
        F.max("l_shipdate").alias("max_ship"),
        F.count_distinct("l_suppkey").alias("n_supp"),
    )
    sole = (
        li.join(
            per_order,
            (li.l_orderkey == per_order.po_orderkey)
            & (li.l_shipdate == per_order.max_ship),
        )
        .filter(F.col("n_supp") >= 2)
        .groupBy("l_orderkey")
        .agg(
            F.min("l_suppkey").alias("suppkey"),
            F.count_distinct("l_suppkey").alias("n_late_supp"),
        )
        .filter(F.col("n_late_supp") == 1)
    )
    return (
        sole.join(hint_dim(supplier, "supplier"), sole.suppkey == supplier.s_suppkey)
        .groupBy(F.col("s_name").alias("name"))
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy("name")
    )


@query(
    "tpch_q2_min_cost_supplier",
    oracle=f"""
    WITH supply AS (
        SELECT l_partkey AS partkey, l_suppkey AS suppkey,
               MIN(l_extendedprice / l_quantity) AS unit_cost
        FROM lineitem
        GROUP BY l_partkey, l_suppkey
    ), euro AS (
        SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
        FROM supplier s
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'EUROPE'
    ), cand AS (
        SELECT p.p_partkey, p.p_brand, e.s_suppkey, e.s_name, e.s_acctbal,
               e.n_name, sp.unit_cost,
               MIN(sp.unit_cost) OVER (PARTITION BY p.p_partkey) AS best_cost
        FROM part p
        JOIN supply sp ON p.p_partkey = sp.partkey
        JOIN euro e ON sp.suppkey = e.s_suppkey
        WHERE p.p_size BETWEEN 10 AND 20 AND p.p_type = 'STANDARD'
    )
    SELECT {dround("s_acctbal", 2)} AS acctbal, s_name AS sname,
           n_name AS nation, p_partkey AS partkey, p_brand AS brand,
           {dround("unit_cost", 4)} AS unit_cost
    FROM cand
    WHERE unit_cost = best_cost
    ORDER BY acctbal DESC, nation, sname, partkey, s_suppkey
    LIMIT 100
    """,
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: cheapest EUROPE supplier per qualifying part.

    The testdata has no partsupp, so the part↔supplier catalog is
    derived from lineitem: per (partkey, suppkey) the minimum observed
    unit price stands in for ps_supplycost (Q16/Q20 use the same
    substitution). The correlated MIN subquery of the original is
    decorrelated as a window MIN over the part partition — computed on
    the already region+size+type-filtered candidate set, never over all
    parts (the q17 lesson). nation/region hinted broadcast, part and
    the euro supplier set unhinted (both O(SF)); the one shuffle keys
    the (partkey, suppkey) aggregate; the window reuses the partkey
    clustering. unit_cost equality is float-safe: MIN over identical
    doubles is exact on both engines (no summation-order noise).
    LIMIT carries a full tiebreak chain.

    Reference parity: extends SURVEY §2.3 (reference has zero joins);
    classic query shape per the public TPC-H spec.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_size").between(10, 20) & (F.col("p_type") == "STANDARD")
    )
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")

    supply = li.groupBy(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    ).agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    euro = (
        supplier.join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    from pyspark.sql import Window

    cand = (
        supply.join(hint_dim(part, "part"), supply.partkey == part.p_partkey)
        .join(euro, supply.suppkey == F.col("s_suppkey"))
        .withColumn(
            "best_cost", F.min("unit_cost").over(Window.partitionBy("p_partkey"))
        )
        .filter(F.col("unit_cost") == F.col("best_cost"))
    )
    return (
        cand.select(
            hround("s_acctbal", 2).alias("acctbal"),
            F.col("s_name").alias("sname"),
            F.col("n_name").alias("nation"),
            F.col("p_partkey").alias("partkey"),
            F.col("p_brand").alias("brand"),
            hround("unit_cost", 4).alias("unit_cost"),
            F.col("s_suppkey").alias("_tie"),
        )
        .orderBy(F.desc("acctbal"), "nation", "sname", "partkey", "_tie")
        .limit(100)
        .drop("_tie")
    )


@query(
    "tpch_q11_important_stock",
    oracle=f"""
    WITH natsupply AS (
        SELECT l.l_partkey AS partkey,
               SUM(l.l_extendedprice * l.l_quantity) AS value
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE n.n_name IN ('NATION_7', 'NATION_8', 'NATION_9')
        GROUP BY l.l_partkey
    )
    SELECT partkey, {dround("value", 2)} AS value
    FROM natsupply
    WHERE value > (SELECT 1.5 * AVG(value) FROM natsupply)
    ORDER BY value DESC, partkey
    """,
)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose stock value in a 3-nation supplier
    bloc is far above typical.

    ps_supplycost*ps_availqty becomes SUM(extendedprice*quantity) over
    the bloc's lineitems. The original's HAVING > FRACTION*SUM(total) is
    deliberately re-cut as > 1.5*AVG(value): a fraction-of-total cutoff
    degenerates as the part catalog grows (at sf0.01 it already selects
    zero rows), while a mean-multiple is scale-invariant — the kind of
    threshold a 100 TB pipeline can keep across reprocessing runs.
    Plan: the hinted nation bloc joins into supplier; the resulting
    supplier set joins lineitem unhinted (O(supplier) — stats/AQE
    size it); one shuffle on partkey; the scalar AVG is a 1-row
    broadcast crossJoin (q22 pattern).
    """
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_7", "NATION_8", "NATION_9")
    )
    bloc = supplier.join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey).select(
        "s_suppkey"
    )
    natsupply = (
        li.join(bloc, li.l_suppkey == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(F.col("l_extendedprice") * F.col("l_quantity")).alias("value"))
    )
    cutoff = natsupply.agg((F.lit(1.5) * F.avg("value")).alias("cutoff"))
    return (
        natsupply.crossJoin(F.broadcast(cutoff))
        .filter(F.col("value") > F.col("cutoff"))
        .select("partkey", hround("value", 2).alias("value"))
        .orderBy(F.desc("value"), "partkey")
    )
