"""TPC-H query shapes adapted to the driver schema (no partsupp /
l_shipmode / l_commitdate / c_phone — each query keeps the original's
*plan shape* while substituting available columns): the Q1 pricing
summary, the equi/semi/anti/outer join shapes, the global top-k sort,
and q2-q22 — correlated EXISTS aggregation, nation-pair volume,
lost-revenue top-k, profit rollup, HAVING + join-back, disjunctive
pushdown.  Determinism rules: see the package docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_addresses_spark.plans import _dec_sum
from etl_addresses_spark.sources.tables import load_table


def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan -> filter -> hash agg (map-side partial
    combine; only 4 groups so the shuffle is tiny at any scale)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = (
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    )
    return (
        li.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum(F.col("l_quantity"), "decimal(18,2)").alias("sum_qty"),
            _dec_sum(F.col("l_extendedprice"), "decimal(18,2)").alias("sum_base_price"),
            _dec_sum(disc_price, "decimal(18,4)").alias("sum_disc_price"),
            _dec_sum(charge, "decimal(18,6)").alias("sum_charge"),
            (
                _dec_sum(F.col("l_quantity"), "decimal(18,2)") / F.count(F.lit(1))
            ).alias("avg_qty"),
            (
                _dec_sum(F.col("l_extendedprice"), "decimal(18,2)")
                / F.count(F.lit(1))
            ).alias("avg_price"),
            (
                _dec_sum(F.col("l_discount"), "decimal(18,2)") / F.count(F.lit(1))
            ).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


AGG_PRICING_SUMMARY_SQL = """
SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
  CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
  CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def join_topk_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: dim filter -> 3-way equi-join -> agg -> top-k.
    customer is broadcast (small dim); lineitem/orders join shuffles on
    orderkey.  Deterministic LIMIT via (revenue desc, orderkey) order."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
        .agg(_dec_sum(revenue, "decimal(18,4)").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


JOIN_TOPK_ORDER_REVENUE_SQL = """
SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority,
  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey, strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


def join_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join with two broadcast dims, agg by nation."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(_dec_sum(revenue, "decimal(18,4)").alias("revenue"))
    )


JOIN_REGION_VOLUME_SQL = """
SELECT n_name,
  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""


def join_semi_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI (EXISTS): orders with any high-quantity lineitem."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return o.join(li, o.o_orderkey == li.l_orderkey, "left_semi").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


JOIN_SEMI_ORDERS_SQL = """
SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
"""


def join_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI (NOT EXISTS): customers who never ordered."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


JOIN_ANTI_CUSTOMERS_SQL = """
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def join_outer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join + agg: order count/value per customer incl. zero.

    The aggregate is pushed BELOW the join: orders collapse to one row
    per o_custkey first (map-side partial agg does most of it), then
    customers left-join the already-aggregated side.  Same result as
    join-then-group (c_custkey is the customer key, so the post-join
    grouping was per-customer anyway), but the join probes |customers|
    x |distinct custkeys| instead of fanning every order row through
    the join — the shape that survives a 100x orders scale-up.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.count("o_orderkey").alias("_n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("_s"),
    )
    return c.join(per_cust, c.c_custkey == per_cust.o_custkey, "left").select(
        "c_custkey",
        "c_mktsegment",
        F.coalesce(F.col("_n"), F.lit(0)).alias("n_orders"),
        F.coalesce(F.col("_s").cast("double"), F.lit(0.0)).alias("total_spent"),
    )


JOIN_OUTER_ORDER_COUNTS_SQL = """
SELECT c_custkey, c_mktsegment, count(o_orderkey) AS n_orders,
  coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS total_spent
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_mktsegment
"""


def sort_limit_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 (TakeOrderedAndProject — no full sort at scale)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.orderBy(
            F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")
        )
        .limit(20)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    )


SORT_LIMIT_GLOBAL_SQL = """
SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
LIMIT 20
"""


def q4_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape: orders with any lineitem shipped after the order date,
    counted per priority (correlated EXISTS -> left-semi join)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
"""


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 shape: pure scan-filter-aggregate; every predicate pushes to
    the parquet scan."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-01-01")))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _dec_sum(
                F.col("l_extendedprice") * F.col("l_discount"), "decimal(18,4)"
            ).alias("revenue")
        )
    )


Q6_SQL = """
SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
"""


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: shipping volume between supplier/customer nation pairs
    per year (two nation joins aliased apart, broadcast both)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("c_nk"))
        .filter(F.col("supp_nation") < F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(_dec_sum(revenue, "decimal(18,4)").alias("revenue"))
    )


Q7_SQL = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name < n2.n_name
GROUP BY 1, 2, 3
"""


def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape: top-20 customers by revenue on returned items."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(_dec_sum(revenue, "decimal(18,4)").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, n_name,
  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape: conditional-aggregate ratio (promo revenue share)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    return joined.agg(
        (
            F.sum(F.when(F.col("p_type") == "PROMO", revenue)).cast("double")
            / F.sum(revenue).cast("double")
            * 100
        ).alias("promo_share_pct")
    )


Q14_SQL = """
SELECT CAST(sum(CASE WHEN p_type = 'PROMO'
                     THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) END) AS DOUBLE)
       / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
       * 100 AS promo_share_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
"""


def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape: profit (revenue minus retail cost proxy) per supplier
    nation and year."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("long").alias("o_year"),
        )
        .agg(_dec_sum(amount, "decimal(18,4)").alias("sum_profit"))
    )


Q9_SQL = """
SELECT n_name AS nation, year(l_shipdate) AS o_year,
  CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                - p_retailprice * l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY 1, 2
"""


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape: HAVING on a grouped sum, then join back to detail."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(_dec_sum(F.col("l_quantity"), "decimal(18,2)").alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice", "total_qty")
    )


Q18_SQL = """
SELECT c_custkey, c_name, o_orderkey, o_totalprice, total_qty
FROM (
  SELECT l_orderkey,
    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 250
) big
JOIN orders ON big.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: disjunction of conjunctive brand/size/quantity
    predicates (exercises OR pushdown + constant folding)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & (F.col("p_size") <= 15)
            & (F.col("l_quantity") >= 10)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & (F.col("p_size") <= 30)
            & (F.col("l_quantity") >= 20)
        )
        | ((F.col("p_type") == "PROMO") & (F.col("l_quantity") >= 40))
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.filter(cond).agg(
        _dec_sum(revenue, "decimal(18,4)").alias("revenue"), F.count(F.lit(1)).alias("n_items")
    )


Q19_SQL = """
SELECT
  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
  count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size <= 15 AND l_quantity >= 10)
   OR (p_brand = 'Brand#2' AND p_size <= 30 AND l_quantity >= 20)
   OR (p_type = 'PROMO' AND l_quantity >= 40)
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shape: segment-filtered customer ⋈ orders ⋈ lineitem with
    date predicates on BOTH fact sides, top-10 orders by revenue.
    Rounds out the TPC-H shape suite (q1-analog..q22) — q3 was the
    missing three-way-with-sort member.  The customer side filters to
    one segment BEFORE the join (predicate reaches the parquet scan),
    orders and lineitem carry their date filters into their scans too,
    and the final top-10 is TakeOrderedAndProject — no global sort.
    o_orderpriority stands in for the reference schema's missing
    o_shippriority column."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.to_timestamp(F.lit("1997-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.to_timestamp(F.lit("1997-01-01"))
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_dec_sum(revenue, "decimal(18,4)").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
    )


Q3_SQL = """
SELECT l_orderkey,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND l_shipdate > TIMESTAMP '1997-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 shape: six-way join closed by the LOCAL-supplier equality
    (customer and supplier in the same nation) with the region filter
    pushed through two broadcast dims.  The nation-equality predicate
    rides the supplier join condition, so it prunes DURING the join
    rather than after; region and nation broadcast (5 and 25 rows) and
    the three fact joins shuffle on their natural keys."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-01-01")))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey)
            & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(_dec_sum(revenue, "decimal(18,4)").alias("revenue"))
    )


Q5_SQL = """
SELECT n_name,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


def q2_min_cost_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape: join back to the row achieving a per-group minimum
    (cheapest part per brand).  The aggregate side is tiny -> broadcast."""
    p = load_table(spark, sf_dir, "part")
    mins = p.groupBy(F.col("p_brand").alias("mb")).agg(
        F.min("p_retailprice").alias("min_price")
    )
    return (
        p.join(
            F.broadcast(mins),
            (p.p_brand == F.col("mb")) & (p.p_retailprice == F.col("min_price")),
        )
        .select("p_brand", "p_partkey", "p_name", "p_retailprice")
    )


Q2_SQL = """
SELECT p_brand, p_partkey, p_name, p_retailprice
FROM part
WHERE p_retailprice = (SELECT min(p_retailprice) FROM part p2
                       WHERE p2.p_brand = part.p_brand)
"""


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape: yearly market share of one supplier nation within one
    customer region (conditional-sum ratio per year)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AFRICA")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("c_nk"))
        .join(F.broadcast(n2), s.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(r), F.col("c_rk") == F.col("r_regionkey"))
        .groupBy(F.year("l_shipdate").cast("long").alias("o_year"))
        .agg(
            (
                F.sum(
                    F.when(
                        F.col("supp_nation") == "NATION_1",
                        vol.cast("decimal(18,4)"),
                    )
                ).cast("double")
                / F.sum(vol.cast("decimal(18,4)")).cast("double")
            ).alias("mkt_share")
        )
    )


Q8_SQL = """
SELECT year(l_shipdate) AS o_year,
  CAST(sum(CASE WHEN n2.n_name = 'NATION_1'
                THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) END) AS DOUBLE)
  / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
  AS mkt_share
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
JOIN region ON n1.n_regionkey = r_regionkey
WHERE r_name = 'AFRICA'
GROUP BY 1
"""


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape: groups whose aggregate exceeds a fraction of the global
    total (scalar subquery -> broadcast cross join of a 1-row aggregate)."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 0)
    scoped = li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey).join(
        F.broadcast(n), s.s_nationkey == n.n_nationkey
    )
    per_part = scoped.groupBy("l_partkey").agg(
        _dec_sum(F.col("l_extendedprice"), "decimal(18,4)").alias("part_value")
    )
    total = scoped.agg(
        (_dec_sum(F.col("l_extendedprice"), "decimal(18,4)") * 0.001).alias("threshold")
    )
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("part_value") > F.col("threshold"))
        .select("l_partkey", "part_value")
    )


Q11_SQL = """
SELECT l_partkey,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS part_value
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE n_regionkey = 0
GROUP BY l_partkey
HAVING CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) >
  (SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) * 0.001e0
   FROM lineitem
   JOIN supplier ON l_suppkey = s_suppkey
   JOIN nation ON s_nationkey = n_nationkey
   WHERE n_regionkey = 0)
"""


def q12_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape: conditional counts of high/low priority orders among
    late shipments, per line status."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    late = li.join(o, li.l_orderkey == o.o_orderkey).filter(
        F.col("l_shipdate") > F.col("o_orderdate")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return late.groupBy("l_linestatus").agg(
        F.count(F.when(high, 1)).alias("high_line_count"),
        F.count(F.when(~high, 1)).alias("low_line_count"),
    )


Q12_SQL = """
SELECT l_linestatus,
  count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END)
    AS high_line_count,
  count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 END)
    AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate
GROUP BY l_linestatus
"""


def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape: distribution of per-customer order counts (left outer
    join preserving zero-order customers, then a second aggregation)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


Q13_SQL = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: revenue-per-supplier view over a date window, then the
    supplier(s) achieving the maximum (scalar-max join-back).  Revenue is
    a decimal sum cast to double, so max-equality is exact."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1996-07-01")))
    )
    s = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        _dec_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")), "decimal(18,4)"
        ).alias("total_revenue")
    )
    top = rev.agg(F.max("total_revenue").alias("max_rev"))
    return (
        rev.join(F.broadcast(top), rev.total_revenue == F.col("max_rev"))
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey,
    CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
      AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-07-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape: distinct-supplier counts per part attribute triple.
    The part<->supplier bridge is lineitem (schema has no partsupp)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#3")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#3'
GROUP BY p_brand, p_type, p_size
"""


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape: rows below a per-group threshold derived from the same
    table (0.2 * per-part average quantity), then a global sum / 7.
    The average is built as decimal-sum / count so both engines agree
    bit-for-bit before the multiply."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    scoped = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    thresholds = scoped.groupBy(F.col("l_partkey").alias("tk")).agg(
        (
            0.2
            * (
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            )
        ).alias("qty_threshold")
    )
    return (
        scoped.join(thresholds, scoped.l_partkey == F.col("tk"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            (_dec_sum(F.col("l_extendedprice"), "decimal(18,4)") / 7.0).alias("avg_yearly")
        )
    )


Q17_SQL = """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0e0
  AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#1'
  AND l_quantity < (
    SELECT 0.2e0 * (CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE))
    FROM lineitem l2
    JOIN part p2 ON l2.l_partkey = p2.p_partkey
    WHERE p2.p_brand = 'Brand#1' AND l2.l_partkey = lineitem.l_partkey)
"""


def q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape (adapted — no partsupp table in the fixture schema):
    suppliers who shipped more than half of a part's total 1996 volume,
    for parts with material volume.  Two grouped decimal sums share one
    scan-stage aggregation pattern; the part-total side joins back on
    the part key."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.year("l_shipdate") == 1996
    )
    per_sp = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sq")
    )
    per_p = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("tq")
    )
    s = load_table(spark, sf_dir, "supplier")
    dominant = per_sp.join(per_p, "l_partkey").filter(
        (F.col("tq").cast("double") >= 50.0)
        & (F.col("sq").cast("double") > 0.5 * F.col("tq").cast("double"))
    )
    return (
        dominant.join(F.broadcast(s), dominant.l_suppkey == s.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("n_dominated_parts"))
    )


Q20_SQL = """
WITH li AS (
  SELECT * FROM lineitem WHERE year(l_shipdate) = 1996
),
per_sp AS (
  SELECT l_suppkey, l_partkey,
    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sq
  FROM li GROUP BY 1, 2
),
per_p AS (
  SELECT l_partkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS tq
  FROM li GROUP BY 1
)
SELECT s_suppkey, s_name, count(*) AS n_dominated_parts
FROM per_sp
JOIN per_p USING (l_partkey)
JOIN supplier ON l_suppkey = s_suppkey
WHERE CAST(tq AS DOUBLE) >= 50.0e0
  AND CAST(sq AS DOUBLE) > 0.5e0 * CAST(tq AS DOUBLE)
GROUP BY s_suppkey, s_name
"""


def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape: suppliers that were the ONLY late supplier on a
    multi-supplier finished order.  The reference formulation is
    EXISTS / NOT EXISTS (kept in the oracle SQL); the Spark plan uses an
    equivalent per-order aggregate — one shuffle on orderkey instead of
    two correlated probes, which is the scalable formulation."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = load_table(spark, sf_dir, "supplier")
    lines = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.col("o_orderdate")).alias("is_late"),
    )
    per_order = lines.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("is_late"), F.col("l_suppkey"))).alias(
            "n_late_supp"
        ),
    )
    culprit = (
        lines.filter(F.col("is_late"))
        .join(
            per_order.filter(
                (F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1)
            ),
            "l_orderkey",
        )
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    return (
        culprit.join(F.broadcast(s), culprit.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


Q21_SQL = """
SELECT s_name, count(*) AS numwait
FROM (
  SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
  FROM lineitem l1
  JOIN orders ON l1.l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F' AND l1.l_shipdate > o_orderdate
    AND EXISTS (SELECT 1 FROM lineitem l2
                WHERE l2.l_orderkey = l1.l_orderkey
                  AND l2.l_suppkey <> l1.l_suppkey)
    AND NOT EXISTS (SELECT 1 FROM lineitem l3
                    JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey
                    WHERE l3.l_orderkey = l1.l_orderkey
                      AND l3.l_suppkey <> l1.l_suppkey
                      AND l3.l_shipdate > o3.o_orderdate)
) culprit
JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_name
"""


def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape: customers above a global-average balance with no
    URGENT orders (scalar subquery + anti join), rolled up per market
    segment.  (Plain "no orders" is empty at every test SF — the
    generator gives all customers orders — so the anti-join side is the
    urgent subset to keep the check non-vacuous.)"""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,4)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_bal")
    )
    rich = c.join(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    idle = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return idle.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("numcust"),
        _dec_sum(F.col("c_acctbal"), "decimal(18,4)").alias("totacctbal"),
    )


Q22_SQL = """
SELECT c_mktsegment, count(*) AS numcust,
  CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
                          / CAST(count(*) AS DOUBLE)
                   FROM customer WHERE c_acctbal > 0.0e0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderpriority = '1-URGENT')
GROUP BY c_mktsegment
"""


QUERIES = {
    "agg_pricing_summary": (agg_pricing_summary, AGG_PRICING_SUMMARY_SQL),
    "join_topk_order_revenue": (join_topk_order_revenue, JOIN_TOPK_ORDER_REVENUE_SQL),
    "join_region_volume": (join_region_volume, JOIN_REGION_VOLUME_SQL),
    "join_semi_orders": (join_semi_orders, JOIN_SEMI_ORDERS_SQL),
    "join_anti_customers": (join_anti_customers, JOIN_ANTI_CUSTOMERS_SQL),
    "join_outer_order_counts": (join_outer_order_counts, JOIN_OUTER_ORDER_COUNTS_SQL),
    "sort_limit_global": (sort_limit_global, SORT_LIMIT_GLOBAL_SQL),
    "q4_late_shipments": (q4_late_shipments, Q4_SQL),
    "q6_forecast_revenue": (q6_forecast_revenue, Q6_SQL),
    "q7_nation_volume": (q7_nation_volume, Q7_SQL),
    "q10_returned_revenue": (q10_returned_revenue, Q10_SQL),
    "q14_promo_share": (q14_promo_share, Q14_SQL),
    "q9_profit_by_nation_year": (q9_profit_by_nation_year, Q9_SQL),
    "q18_large_orders": (q18_large_orders, Q18_SQL),
    "q19_disjunctive_revenue": (q19_disjunctive_revenue, Q19_SQL),
    "q3_shipping_priority": (q3_shipping_priority, Q3_SQL),
    "q5_local_supplier_volume": (q5_local_supplier_volume, Q5_SQL),
    "q2_min_cost_part": (q2_min_cost_part, Q2_SQL),
    "q8_market_share": (q8_market_share, Q8_SQL),
    "q11_important_parts": (q11_important_parts, Q11_SQL),
    "q12_priority_by_status": (q12_priority_by_status, Q12_SQL),
    "q13_order_distribution": (q13_order_distribution, Q13_SQL),
    "q15_top_supplier": (q15_top_supplier, Q15_SQL),
    "q16_supplier_variety": (q16_supplier_variety, Q16_SQL),
    "q17_small_quantity_revenue": (q17_small_quantity_revenue, Q17_SQL),
    "q20_dominant_suppliers": (q20_dominant_suppliers, Q20_SQL),
    "q21_sole_late_supplier": (q21_sole_late_supplier, Q21_SQL),
    "q22_idle_customers": (q22_idle_customers, Q22_SQL),
}
