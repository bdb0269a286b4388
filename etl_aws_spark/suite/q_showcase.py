"""Composed multi-way-join showcase queries (TPC-H Q3/Q5 shapes on the
driver's TPC-H-ish fixtures).

The reference never joins more than two tables; these demonstrate that the
engine surface composes to classic warehouse workloads — Catalyst handles
join ordering, broadcast selection for the dimension chain, and partial
aggregation with no hand-holding."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_aws_spark.registry import load, query
from etl_aws_spark.suite._util import rnd, rnd_nudged


@query(
    "showcase_topk_revenue_3way",
    oracle="""
    SELECT l.l_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) + 0.0 AS revenue,
           CAST(o.o_orderdate AS TIMESTAMP) AS o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-06-01'
      AND l.l_shipdate > TIMESTAMP '1997-06-01'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
    category="showcase",
)
def showcase_topk_revenue_3way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join, filtered on every table, grouped revenue,
    deterministic top-k. Filters push to all three scans; customer
    broadcasts; the orders⋈lineitem shuffle is the only wide exchange."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1997-06-01")
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1997-06-01")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            rnd(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


@query(
    "showcase_regional_revenue_5way",
    oracle="""
    WITH s AS (
      SELECT n.n_name,
             sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                 * CAST(round((1 - l.l_discount) * 100) AS BIGINT)) AS s
      FROM region r
      JOIN nation n ON r.r_regionkey = n.n_regionkey
      JOIN customer c ON n.n_nationkey = c.c_nationkey
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      WHERE r.r_name = 'ASIA'
      GROUP BY n.n_name
    )
    SELECT n_name, CAST((s + 50) // 100 AS DOUBLE) / 100.0 AS revenue FROM s
    """,
    category="showcase",
)
def showcase_regional_revenue_5way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (minus the supplier leg the fixtures can't close):
    region→nation→customer dimension chain folds into broadcast joins; only
    orders⋈lineitem shuffles. Prices and discounts carry 2 decimals, so
    revenue folds exactly as an integer in 1e-4 units, then rounds half-up
    to cents: a double sum rounded to 2 decimals depends on the summation
    order, and two engines land a half-cent total on different cents."""
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem")
    price = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    keep = F.round((1 - F.col("l_discount")) * 100).cast("bigint")
    return (
        r.join(n, r.r_regionkey == n.n_regionkey)
        .join(c, n.n_nationkey == c.c_nationkey)
        .join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("n_name")
        .agg(F.sum(price * keep).alias("s"))
        .select("n_name", (F.expr("(s + 50) div 100").cast("double") / 100.0).alias("revenue"))
    )


@query(
    "showcase_promo_revenue_ratio",
    oracle="""
    SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS month,
           round(100.0 * sum(CASE WHEN p_type = 'ECONOMY'
                             THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) + 0.0 AS economy_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY 1
    """,
    category="showcase",
)
def showcase_promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregate ratio over a dim join with a
    date-range filter — the filter reaches the lineitem scan as a pushed
    predicate, `part` broadcasts, and the CASE rides the partial aggregate
    (monthly promo-revenue share, the marketing-mix rollup)."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    return (
        joined.groupBy(F.date_trunc("month", "l_shipdate").alias("month"))
        .agg(
            rnd(
                100.0
                * F.sum(F.when(F.col("p_type") == "ECONOMY", rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                4,
            ).alias("economy_pct")
        )
    )


@query(
    "showcase_large_volume_customers",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, round(sum(l_quantity), 4) + 0.0 AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           CAST(o.o_orderdate AS TIMESTAMP) AS o_orderdate,
           round(o.o_totalprice, 2) + 0.0 AS o_totalprice,
           b.total_qty
    FROM big b
    JOIN orders o ON b.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
    LIMIT 20
    """,
    category="showcase",
)
def showcase_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate-then-join — the HAVING pre-aggregate
    shrinks lineitem to the qualifying orderkeys BEFORE any join, so the
    expensive fact⋈fact becomes a join against a tiny filtered aggregate
    (broadcast-able), then the customer dim attaches. The
    aggregate-first ordering is the whole point of the shape: joining raw
    lineitem to orders first would shuffle the full fact table."""
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .filter(F.col("_q") > 150)
        .select("l_orderkey", rnd(F.col("_q"), 4).alias("total_qty"))
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            rnd(F.col("o_totalprice"), 2).alias("o_totalprice"),
            "total_qty",
        )
    )


@query(
    "showcase_nation_volume_pairs",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           round(sum(volume), 2) + 0.0 AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate < TIMESTAMP '1998-01-01'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
    category="showcase",
)
def showcase_nation_volume_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bidirectional nation-pair trade volume by ship year.
    Both nation legs and supplier broadcast (tiny dims); the disjunctive
    nation-pair predicate is applied after the dim attach, and the only wide
    exchanges are the fact-side equi-joins lineitem⋈orders and
    orders⋈customer plus one partial-aggregated group-by. The ship-date
    range prunes the lineitem scan before any join."""
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_cn_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2") | (
        F.col("supp_nation") == "NATION_2"
    ) & (F.col("cust_nation") == "NATION_1")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("_sn_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("_cn_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            rnd(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


@query(
    "showcase_supplier_part_variety",
    oracle="""
    SELECT p_brand, p_type, CAST(p_size AS INTEGER) AS p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_type <> 'PROMO'
      AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
    GROUP BY p_brand, p_type, p_size
    """,
    category="showcase",
)
def showcase_supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (lineitem standing in for partsupp): distinct
    supplier count per part attribute triple under negated + IN filters.
    The part filters push to the (broadcast) dim scan; COUNT(DISTINCT)
    expands to the classic two-phase Expand/partial-agg plan, so the
    distinct set is de-duplicated map-side before the single exchange."""
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    )
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", F.col("p_size").cast("int").alias("p_size"))
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "showcase_disjunctive_brand_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) + 0.0 AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 5 AND 25)
       OR (p_brand = 'Brand#12' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 40)
       OR (p_brand = 'Brand#20' AND p_size BETWEEN 20 AND 50
           AND l_quantity BETWEEN 20 AND 50)
    """,
    category="showcase",
)
def showcase_disjunctive_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: three OR'd conjunctive branches mixing part and
    lineitem predicates. Catalyst extracts the common-subexpression
    per-table disjunctions (p_brand IN its three values / l_quantity
    BETWEEN the envelope) and pushes them below the broadcast join, so
    both scans prune before the OR is evaluated on the joined row."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    q, sz, br = F.col("l_quantity"), F.col("p_size"), F.col("p_brand")
    branch = (
        ((br == "Brand#3") & sz.between(1, 15) & q.between(5, 25))
        | ((br == "Brand#12") & sz.between(10, 30) & q.between(10, 40))
        | ((br == "Brand#20") & sz.between(20, 50) & q.between(20, 50))
    )
    return j.filter(branch).agg(
        rnd(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        )
    )


@query(
    "showcase_dormant_rich_customers",
    oracle="""
    WITH cutoff AS (
      SELECT avg(c_acctbal) AS bal FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_nationkey, count(*) AS numcust,
           round(sum(c_acctbal), 2) + 0.0 AS totacctbal
    FROM customer c CROSS JOIN cutoff
    WHERE c.c_acctbal > cutoff.bal
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2000-01-01'
      )
    GROUP BY c_nationkey
    """,
    category="showcase",
)
def showcase_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no recent
    orders (dormant since 2000), rolled up per nation. The positive-balance
    average attaches as a 1-row broadcast (scalar subquery), the NOT EXISTS
    is a LEFT ANTI join whose orders side is date-pruned at the scan and
    ships only the key column, and the final rollup groups the surviving
    slice — an anti-join + scalar-subquery composition none of the other
    showcases exercise."""
    c = load(spark, sf_dir, "customer")
    cutoff = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(F.avg("c_acctbal").alias("_bal"))
    )
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "2000-01-01")
        .select("o_custkey")
    )
    return (
        c.crossJoin(F.broadcast(cutoff))
        .filter(F.col("c_acctbal") > F.col("_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            rnd(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@query(
    "showcase_order_priority_count",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o_orderpriority
    """,
    category="showcase",
)
def showcase_order_priority_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: date-windowed orders, EXISTS-filtered by a mixed
    equi + non-equi condition (any lineitem shipped after the order date),
    counted per priority. The LEFT SEMI join carries the extra theta
    predicate on the equi-join hash match, emits each order at most once,
    and never materializes lineitem columns — the date filter prunes the
    orders scan first."""
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = load(spark, sf_dir, "lineitem")
    qualified = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"]) & (li["l_shipdate"] > o["o_orderdate"]),
        "left_semi",
    )
    return qualified.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


@query(
    "showcase_top_supplier_revenue",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             round(sum(l_extendedprice * (1 - l_discount)), 2) + 0.0 AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
    category="showcase",
)
def showcase_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: a revenue view over a 3-month shipping window, a
    global-max scalar subquery against that SAME view, and a dim join to
    name the winner(s). Spark-first plan: the revenue aggregate is computed
    once (one narrow (suppkey) shuffle); the max is a 1-row aggregate of
    the 100-row revenue frame joined back as a broadcast — the fact table
    is scanned exactly once, pruned by the pushed shipdate range."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        rnd(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_revenue"
        )
    )
    top = revenue.agg(F.max("total_revenue").alias("mx"))
    sup = load(spark, sf_dir, "supplier")
    return (
        revenue.join(F.broadcast(top), F.col("total_revenue") == F.col("mx"))
        .join(sup, F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "showcase_small_quantity_revenue",
    oracle="""
    SELECT round(sum(l.l_extendedprice) / 7.0, 2) + 0.0 AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#12'
      AND l.l_quantity < (
        SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey
      )
    """,
    category="showcase",
)
def showcase_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (per-part average
    quantity) gating a brand-filtered revenue sum. Spark-first
    decorrelation done by hand the way Catalyst rewrites it: the per-part
    threshold is ONE map-side-combined aggregate joined back on partkey —
    but restricted to the brand's parts first (broadcast semi-filter), so
    the threshold aggregate reads only the brand's ~70 parts' lineitems,
    not the whole fact table."""
    part = load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#12")
    li = load(spark, sf_dir, "lineitem")
    brand_items = li.join(
        F.broadcast(part.select("p_partkey")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    thresholds = brand_items.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_cut")
    )
    small = brand_items.join(
        F.broadcast(thresholds.withColumnRenamed("l_partkey", "t_partkey")),
        (F.col("l_partkey") == F.col("t_partkey"))
        & (F.col("l_quantity") < F.col("qty_cut")),
    )
    return small.agg(
        (F.round(F.sum("l_extendedprice") / 7.0, 2) + F.lit(0.0)).alias("avg_yearly")
    )


@query(
    "showcase_waiting_supplier_blame",
    oracle="""
    WITH li AS (
      SELECT l.l_orderkey, l.l_suppkey,
             (l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY) AS late
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
    )
    SELECT s.s_name,
           CAST(count(*) AS BIGINT) AS numwait
    FROM li l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE l1.late
      AND EXISTS (
        SELECT 1 FROM li l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM li l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.late
      )
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name ASC
    LIMIT 20
    """,
    category="showcase",
)
def showcase_waiting_supplier_blame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted: lateness = shipped >90 days after the
    order date, the fixtures carry no commit/receipt dates): suppliers who
    were the SOLE late supplier on a finalized multi-supplier order — the
    classic EXISTS / NOT EXISTS correlated pair. Spark-first plan: the
    order-level truth is computed ONCE as a per-(order) aggregate
    (n_suppliers, n_late_suppliers) instead of two correlated re-scans;
    the blame condition becomes a pure filter on the joined aggregate —
    one fact scan, one narrow shuffle, no nested-loop subqueries."""
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = load(spark, sf_dir, "lineitem").join(
        orders.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    flagged = li.select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")).alias(
            "late"
        ),
    )
    # order-level truth via ONE window partitioning instead of re-joining
    # a per-order aggregate: the fact side is scanned once and shuffled
    # once (on l_orderkey); distinct-supplier sets per order are tiny
    from pyspark.sql import Window

    w = Window.partitionBy("l_orderkey")
    annotated = flagged.select(
        "l_orderkey",
        "l_suppkey",
        "late",
        F.size(F.collect_set("l_suppkey").over(w)).alias("n_supps"),
        F.size(
            F.collect_set(F.when(F.col("late"), F.col("l_suppkey"))).over(w)
        ).alias("n_late_supps"),
    )
    # sole-late-supplier on a multi-supplier order; count every late ITEM
    # of that supplier (matches the row-level EXISTS semantics)
    blamed = annotated.filter(
        F.col("late") & (F.col("n_supps") > 1) & (F.col("n_late_supps") == 1)
    )
    sup = load(spark, sf_dir, "supplier")
    return (
        blamed.join(F.broadcast(sup), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


@query(
    "segment_rfm_quartiles",
    # ntile(4) is deterministic only under a TOTAL order — every ORDER BY
    # carries c_custkey as the unconditional tie-break on both engines.
    oracle="""
    WITH ref AS (
      SELECT max(o_orderdate) AS t_ref FROM orders
    ), rfm AS (
      SELECT o_custkey AS c_custkey,
             date_diff('day', max(o_orderdate), (SELECT t_ref FROM ref))
               AS recency_days,
             count(*) AS frequency,
             round(sum(o_totalprice), 2) + 0.0 AS monetary
      FROM orders GROUP BY o_custkey
    )
    SELECT c_custkey,
           CAST(recency_days AS BIGINT) AS recency_days,
           CAST(frequency AS BIGINT) AS frequency,
           monetary,
           CAST(ntile(4) OVER (ORDER BY recency_days DESC, c_custkey)
                AS INT) AS r_score,
           CAST(ntile(4) OVER (ORDER BY frequency ASC, c_custkey)
                AS INT) AS f_score,
           CAST(ntile(4) OVER (ORDER BY monetary ASC, c_custkey)
                AS INT) AS m_score
    FROM rfm
    """,
    category="showcase",
)
def segment_rfm_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency (days since last order, vs the
    corpus max date), frequency (order count), monetary (total spend),
    each scored into quartiles by ntile(4) — the classic marketing
    segmentation data product. Score 4 = best (most recent / most
    frequent / highest spend).

    Scale shape: the fact table reduces to ONE |customers|-sized frame
    first; each quartile is then the HISTOGRAM-EXACT ntile
    (`_util.exact_ntile`, the `stat_mann_whitney_u` formulation) — ranks
    come from windows PARTITIONED by a coarse value cell (recency days /
    order count / spend-in-thousands, all bounded by the VALUE DOMAIN,
    not |customers|), the only unpartitioned windows run over the
    |distinct cells| count frames, and the ntile boundary rule is applied
    per row against broadcast scalars — bit-identical to ntile(4) under
    the same total orders, with no single-partition pass over customers.
    Monetary is rounded BEFORE scoring so the quartile assignment itself
    can never straddle a float-jitter tie."""
    from etl_aws_spark.suite._util import exact_ntile

    orders = load(spark, sf_dir, "orders")
    t_ref = orders.agg(F.max("o_orderdate").alias("t_ref"))
    rfm = (
        orders.groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            (F.round(F.sum("o_totalprice"), 2) + F.lit(0.0)).alias("monetary"),
        )
        .crossJoin(F.broadcast(t_ref))
        .select(
            "c_custkey",
            F.datediff(F.to_date("t_ref"), F.to_date("last_order")).alias(
                "recency_days"
            ),
            "frequency",
            "monetary",
        )
    )
    scored = exact_ntile(
        rfm, 4, "recency_days", "c_custkey", F.col("recency_days"),
        descending=True, out_col="r_score",
    )
    scored = exact_ntile(
        scored, 4, "frequency", "c_custkey", F.col("frequency"),
        descending=False, out_col="f_score",
    )
    scored = exact_ntile(
        scored, 4, "monetary", "c_custkey", F.floor(F.col("monetary") / 1000),
        descending=False, out_col="m_score",
    )
    return scored.select(
        "c_custkey",
        F.col("recency_days").cast("long").alias("recency_days"),
        F.col("frequency").cast("long").alias("frequency"),
        "monetary",
        F.col("r_score").cast("int").alias("r_score"),
        F.col("f_score").cast("int").alias("f_score"),
        F.col("m_score").cast("int").alias("m_score"),
    )


@query(
    "showcase_forecast_revenue_q6",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) + 0.0 AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    category="showcase",
)
def showcase_forecast_revenue_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape — the forecast-revenue-change query every engine
    benches first: a pure scan-filter-aggregate whose entire predicate
    (date range, discount band, quantity cap) must PUSH DOWN to the
    parquet scan and whose aggregate is one map-side-combined partial —
    zero joins, at most one 1-row exchange. The simplest possible query
    is also the purest pushdown test."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        (F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2) + F.lit(0.0)).alias(
            "revenue"
        ),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )


@query(
    "showcase_market_share_q8",
    oracle="""
    WITH vol AS (
      SELECT year(o.o_orderdate) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             sn.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      JOIN region r ON cn.n_regionkey = r.r_regionkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      JOIN part p ON l.l_partkey = p.p_partkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
    )
    SELECT CAST(o_year AS INT) AS o_year,
           round(sum(CASE WHEN supp_nation = 'NATION_7' THEN volume
                          ELSE 0 END) / sum(volume), 6) + 0.0 AS mkt_share,
           round(sum(volume), 2) + 0.0 AS total_volume
    FROM vol GROUP BY o_year
    """,
    category="showcase",
)
def showcase_market_share_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): NATION_7's share of the
    ECONOMY-part volume sold into ASIA customers, per order year — the
    deepest dimension chain in the suite (lineitem → orders → customer →
    nation → region on the demand side, supplier → nation on the supply
    side, part on the product side: 7 joins). Every dimension is
    broadcast; the fact table is scanned once and never re-shuffled —
    Catalyst orders the chain itself. The share is a conditional-sum
    ratio in ONE aggregate (no second pass)."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region")
    sup = load(spark, sf_dir, "supplier")
    part = load(spark, sf_dir, "part")
    cn = nat.alias("cn")
    sn = nat.alias("sn")
    vol = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn.n_nationkey"))
        .join(F.broadcast(reg), F.col("cn.n_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn.n_nationkey"))
        .join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .filter((F.col("r_name") == "ASIA") & (F.col("p_type") == "ECONOMY"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
            F.col("sn.n_name").alias("supp_nation"),
        )
    )
    return vol.groupBy(F.col("o_year").cast("int").alias("o_year")).agg(
        rnd(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_7", F.col("volume")).otherwise(
                    0.0
                )
            )
            / F.sum("volume"),
            6,
        ).alias("mkt_share"),
        (F.round(F.sum("volume"), 2) + F.lit(0.0)).alias("total_volume"),
    )


@query(
    "showcase_returned_items_q10",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount))
                 + sign(sum(l.l_extendedprice * (1 - l.l_discount))) * 1e-9,
                 2) + 0.0 AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY round(sum(l.l_extendedprice * (1 - l.l_discount))
                   + sign(sum(l.l_extendedprice * (1 - l.l_discount))) * 1e-9,
                   2) + 0.0 DESC, c.c_custkey
    LIMIT 20
    """,
    category="showcase",
)
def showcase_returned_items_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): the 20 customers who
    generated the most lost revenue from returned lines in one quarter.
    The quarter predicate prunes orders BEFORE the fact join, the
    returnflag filter prunes lineitem at its scan, nation broadcasts,
    and the top-20 ranks the already customer-sized aggregate on the
    ROUNDED revenue (engine-deterministic cut, c_custkey tie-break)."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    return (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"])
        .join(li, orders["o_orderkey"] == li["l_orderkey"])
        .join(F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            rnd_nudged(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "showcase_customer_distribution_q13",
    oracle="""
    WITH per_cust AS (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey
       AND o.o_orderpriority <> '5-LOW'
      GROUP BY c.c_custkey
    )
    SELECT CAST(c_count AS BIGINT) AS c_count,
           CAST(count(*) AS BIGINT) AS custdist
    FROM per_cust GROUP BY c_count
    """,
    category="showcase",
)
def showcase_customer_distribution_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): how many
    customers placed exactly N qualifying orders — INCLUDING the
    zero-order customers, which forces the LEFT join with the filter in
    the JOIN CONDITION (an ON-clause predicate, not a WHERE — the
    classic Q13 trap: a WHERE would silently drop the zero bucket). Two
    aggregates: per-customer counts, then the histogram over counts —
    the second runs on a |customers|-sized frame."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders,
            (cust["c_custkey"] == orders["o_custkey"])
            & (orders["o_orderpriority"] != "5-LOW"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy(F.col("c_count").cast("long").alias("c_count")).agg(
        F.count(F.lit(1)).cast("long").alias("custdist")
    )


@query(
    "showcase_cohort_ltv_curve",
    oracle="""
    WITH first_order AS (
      SELECT o_custkey,
             date_trunc('month', min(o_orderdate)) AS cohort
      FROM orders GROUP BY o_custkey
    ), aged AS (
      SELECT f.cohort,
             (year(o.o_orderdate) - year(f.cohort)) * 12
               + (month(o.o_orderdate) - month(f.cohort)) AS age_months,
             o.o_totalprice
      FROM orders o JOIN first_order f ON o.o_custkey = f.o_custkey
    ), cells AS (
      SELECT cohort, age_months,
             sum(o_totalprice) AS rev
      FROM aged GROUP BY cohort, age_months
    ), sizes AS (
      SELECT cohort, count(*) AS n_customers FROM first_order GROUP BY cohort
    )
    SELECT CAST(c.cohort AS TIMESTAMP) AS cohort,
           CAST(c.age_months AS INT) AS age_months,
           CAST(s.n_customers AS BIGINT) AS n_customers,
           round(sum(c.rev) OVER (PARTITION BY c.cohort ORDER BY c.age_months
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 / s.n_customers
                 + sign(sum(c.rev) OVER (PARTITION BY c.cohort
                     ORDER BY c.age_months ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) / s.n_customers) * 1e-9, 4) + 0.0
             AS cum_ltv_per_customer
    FROM cells c JOIN sizes s USING (cohort)
    """,
    category="showcase",
)
def showcase_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves: cumulative revenue per customer by signup
    cohort (first-order month) and account age — the unit-economics
    chart behind every 'payback period' decision, and the REVENUE twin
    of `events_cohort_retention`'s activity grid. The fact table reduces
    to the (cohort, age) cell grid before the cumulative window, so the
    running sum rides a frame of ~cohorts×ages rows; cohort sizes join
    from the per-customer first-order frame; per-customer normalization
    divides exact sums once at the end."""
    from pyspark.sql import Window

    orders = load(spark, sf_dir, "orders")
    first_order = orders.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort")
    )
    aged = orders.join(first_order, "o_custkey").select(
        "cohort",
        (
            (F.year("o_orderdate") - F.year("cohort")) * 12
            + (F.month("o_orderdate") - F.month("cohort"))
        ).alias("age_months"),
        "o_totalprice",
    )
    cells = aged.groupBy("cohort", "age_months").agg(
        F.sum("o_totalprice").alias("rev")
    )
    sizes = first_order.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    w = Window.partitionBy("cohort").orderBy("age_months").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        cells.join(F.broadcast(sizes), "cohort")
        .select(
            "cohort",
            F.col("age_months").cast("int").alias("age_months"),
            F.col("n_customers").cast("long").alias("n_customers"),
            rnd_nudged(
                F.sum("rev").over(w) / F.col("n_customers"), 4
            ).alias("cum_ltv_per_customer"),
        )
    )


@query(
    "showcase_abc_classification",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             round(sum(l_extendedprice * (1 - l_discount))
                   + sign(sum(l_extendedprice * (1 - l_discount))) * 1e-9, 2)
               + 0.0 AS revenue
      FROM lineitem GROUP BY l_partkey
    ), rc AS (
      SELECT l_partkey, revenue,
             CAST(round(revenue * 100) AS BIGINT) AS cents
      FROM rev
    ), ranked AS (
      SELECT l_partkey, revenue, cents,
             CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               / CAST(sum(cents) OVER () AS DOUBLE) AS cum_share
      FROM rc
    ), classed AS (
      SELECT l_partkey, revenue, cents,
             CASE WHEN cum_share <= 0.8 THEN 'A'
                  WHEN cum_share <= 0.95 THEN 'B'
                  ELSE 'C' END AS abc_class
      FROM ranked
    )
    SELECT abc_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           round(CAST(sum(cents) AS DOUBLE) / 100.0, 2) + 0.0 AS class_revenue
    FROM classed GROUP BY abc_class
    """,
    category="showcase",
)
def showcase_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification (the 80/15/5 Pareto cut): parts rank
    by revenue, the running share assigns A (first 80%), B (to 95%), C
    (tail), and the rollup reports class sizes and revenue — the
    supply-chain prioritization every ops team runs. Scale posture: the
    fact table reduces to the |parts| revenue frame FIRST; the running
    sum is then EXACT-CENTS integers through the bucketed two-phase
    cumsum (`_util.bucketed_cumsum`) — per-$1000-cell subtotals cumulate
    in the only unpartitioned window (bounded by the PRICE domain, not
    |parts|), within-cell sums are partitioned windows, and integer
    cents make the result order-insensitive and bit-identical on both
    engines, so the 0.80/0.95 class boundary can never straddle a float
    flip."""
    from etl_aws_spark.suite._util import bucketed_cumsum

    li = load(spark, sf_dir, "lineitem")
    raw_rev = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    rev = li.groupBy("l_partkey").agg(rnd_nudged(raw_rev, 2).alias("revenue"))
    revc = rev.withColumn("cents", F.round(F.col("revenue") * 100).cast("long"))
    tot = revc.agg(F.sum("cents").alias("_tot"))
    cum = bucketed_cumsum(
        revc,
        "cents",
        "cents",
        F.expr("cents div 100000"),
        out_cols="cum_cents",
        descending=True,
        tie_cols=["l_partkey"],
    )
    ranked = cum.crossJoin(F.broadcast(tot)).withColumn(
        "cum_share",
        F.col("cum_cents").cast("double") / F.col("_tot").cast("double"),
    )
    classed = ranked.withColumn(
        "abc_class",
        F.when(F.col("cum_share") <= 0.8, "A")
        .when(F.col("cum_share") <= 0.95, "B")
        .otherwise("C"),
    )
    return classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        # class revenue folds as EXACT integer cents — summing the
        # rounded per-part doubles accumulated enough jitter at sf1 to
        # flip a round-2 boundary between engines (sf1 parity catch)
        (F.round(F.sum("cents").cast("double") / 100.0, 2) + F.lit(0.0)).alias(
            "class_revenue"
        ),
    )


@query(
    "showcase_min_cost_supplier_q2",
    # TPC-H Q2 shape with lineitem standing in for partsupp: per-(part,
    # supplier) cost = MIN observed unit price (exact double min — no
    # fold), the per-part regional minimum selects winners by exact
    # double equality, and the final cut is orderBy().limit(100). The
    # correlated-subquery of the spec becomes one broadcast of the tiny
    # per-part min frame.
    oracle="""
    WITH eu AS (
      SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
      FROM supplier s
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE'
    ), cost AS (
      SELECT l.l_partkey, l.l_suppkey,
             min(CAST(l.l_extendedprice AS DOUBLE) / l.l_quantity) AS cost
      FROM lineitem l JOIN eu ON l.l_suppkey = eu.s_suppkey
      GROUP BY l.l_partkey, l.l_suppkey
    ), best AS (
      SELECT l_partkey, min(cost) AS min_cost FROM cost GROUP BY l_partkey
    )
    SELECT eu.s_acctbal, eu.s_name, eu.n_name,
           CAST(c.l_partkey AS BIGINT) AS p_partkey,
           round(c.cost + sign(c.cost) * 1e-9, 4) + 0.0 AS cost
    FROM cost c
    JOIN best b ON c.l_partkey = b.l_partkey AND c.cost = b.min_cost
    JOIN eu ON c.l_suppkey = eu.s_suppkey
    ORDER BY eu.s_acctbal DESC, eu.s_name ASC, c.l_partkey ASC
    LIMIT 100
    """,
    category="showcase",
)
def showcase_min_cost_supplier_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 SHAPE (minimum-cost supplier): for every part, the
    EUROPE-region supplier(s) achieving the minimum observed unit price,
    ranked by account balance — the classic correlated-MIN-subquery
    query, re-expressed Spark-first: the per-part minimum is ONE
    aggregate on the same (partkey)-keyed shuffle as the cost build, and
    the 'correlation' is an equi-join against that tiny frame plus an
    exact double-equality filter (identical doubles on both engines, so
    the winner set is deterministic). Region/nation/supplier dims ride
    broadcast joins; the final cut is TakeOrderedAndProject.

    Scale shape (100 TB): lineitem is scanned once, reduced map-side to
    (part, supplier) cost cells; everything downstream lives on cell
    frames and broadcast dims. No window, no self-join on the fact."""
    sup = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    eu = (
        sup.join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    cost = (
        li.join(F.broadcast(eu.select("s_suppkey")), li["l_suppkey"] == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.min(
                F.col("l_extendedprice").cast("double") / F.col("l_quantity")
            ).alias("cost")
        )
    )
    best = cost.groupBy("l_partkey").agg(F.min("cost").alias("min_cost")).select(
        F.col("l_partkey").alias("bk"), "min_cost"
    )
    return (
        cost.join(
            best,
            (cost["l_partkey"] == best["bk"])
            & (cost["cost"] == best["min_cost"]),
        )
        .drop("bk")
        .join(F.broadcast(eu), cost["l_suppkey"] == eu["s_suppkey"])
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("l_partkey").cast("long").alias("p_partkey"),
            rnd_nudged(F.col("cost"), 4).alias("cost"),
        )
        .orderBy(F.desc("s_acctbal"), F.asc("s_name"), F.asc("p_partkey"))
        .limit(100)
    )


@query(
    "showcase_important_parts_q11",
    # TPC-H Q11 shape: per-part value vs a global-fraction threshold —
    # exact integer cents everywhere, the scalar total broadcast back,
    # top-50 via orderBy().limit.
    oracle="""
    WITH v AS (
      SELECT l_partkey,
             sum(CAST(round(CAST(l_extendedprice AS DOUBLE) * 100.0)
                 AS BIGINT)) AS cents
      FROM lineitem GROUP BY l_partkey
    ), t AS (
      SELECT sum(cents) AS total, count(*) AS npk FROM v
    )
    SELECT CAST(v.l_partkey AS BIGINT) AS p_partkey,
           round(CAST(v.cents AS DOUBLE) / 100.0, 2) + 0.0 AS part_value,
           round(CAST(v.cents AS DOUBLE) / t.total, 8) + 0.0 AS share
    FROM v CROSS JOIN t
    WHERE 2 * v.cents * t.npk > 3 * t.total
    ORDER BY v.cents DESC, v.l_partkey ASC
    LIMIT 50
    """,
    category="showcase",
)
def showcase_important_parts_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 SHAPE (important stock): parts whose total lineitem
    value exceeds a SCALE-RELATIVE fraction — 1.5× the mean per-part
    share — of the global total; the HAVING-against-a-scalar-subquery
    classic. The threshold is relative to |parts| (the r11 audit: the
    spec's fixed 0.1% is unreachable with ~20k near-uniform parts, so
    the head was empty at every gate SF), and the comparison is pure
    integer arithmetic (2·cents·npk > 3·total — cents ≈ 1e10 times
    npk ≈ 2e7 stays far under 2^63 even at 100 TB), so no float
    threshold jitter can flip a borderline part across engines. The
    global (total, npk) is a 1-row aggregate broadcast back over the
    per-part cell frame (no second fact scan, which is how the spec's
    naive form reads), value sums are exact integer cents so the
    threshold comparison and the top-50 cut (on cents, not the rounded
    display value) are deterministic.

    Scale shape (100 TB): one map-side-combined aggregate to |parts|
    cells, one broadcast scalar, TakeOrderedAndProject."""
    li = load(spark, sf_dir, "lineitem")
    v = li.groupBy("l_partkey").agg(
        F.sum(
            F.round(F.col("l_extendedprice").cast("double") * 100.0).cast("long")
        ).alias("cents")
    )
    t = v.agg(F.sum("cents").alias("total"), F.count(F.lit(1)).alias("npk"))
    return (
        v.crossJoin(F.broadcast(t))
        .filter(
            F.lit(2) * F.col("cents") * F.col("npk")
            > F.lit(3) * F.col("total")
        )
        .orderBy(F.desc("cents"), F.asc("l_partkey"))
        .limit(50)
        .select(
            F.col("l_partkey").cast("long").alias("p_partkey"),
            (F.round(F.col("cents").cast("double") / 100.0, 2) + F.lit(0.0)).alias(
                "part_value"
            ),
            (
                F.round(F.col("cents").cast("double") / F.col("total"), 8)
                + F.lit(0.0)
            ).alias("share"),
        )
    )
