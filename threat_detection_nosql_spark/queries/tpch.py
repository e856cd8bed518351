"""TPC-H-classic query shapes over the driver testdata.

The reference's query surface is covered elsewhere (queries/threat.py);
these exercise the same operator classes (SURVEY.md §2.3-2.5: multi-way
joins, selective date predicates, semi-joins, conditional aggregation)
in their canonical TPC-H form so the engine's relational completeness
is visible line-by-line. Scale notes per query: predicates are applied
before joins (Catalyst pushes them into the parquet scan), small/
filtered sides are broadcast, and aggregations are map-combinable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from threat_detection_nosql_spark.operators.dedup import _portable_hash60
from threat_detection_nosql_spark.sources.readers import load_table

_CUTOFF = "1998-06-01"


def shipping_priority_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shape: unshipped-revenue top-10 for one market segment.

    The segment filter keeps ~1/5 of customers; that filtered dim is
    broadcast so the orders scan never shuffles on custkey. Lineitem is
    date-filtered at the scan (PushedFilters on l_shipdate), and the
    revenue agg groups on the already-joined order grain.
    """
    cust = (load_table(spark, sf_dir, "customer")
            .filter(F.col("c_mktsegment") == "BUILDING")
            .select("c_custkey"))
    orders = (load_table(spark, sf_dir, "orders")
              .filter(F.col("o_orderdate") < _CUTOFF)
              .select("o_orderkey", "o_custkey", "o_orderdate",
                      "o_orderpriority"))
    li = (load_table(spark, sf_dir, "lineitem")
          .filter(F.col("l_shipdate") > _CUTOFF)
          .select("l_orderkey", "l_extendedprice", "l_discount"))
    return (li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
            .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 4)
                 .alias("revenue"))
            .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
            .limit(10))


_Q3_SQL = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '{_CUTOFF}'
  AND l_shipdate > TIMESTAMP '{_CUTOFF}'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape: orders with at least one line shipped after the order
    date (a lateness proxy — the testdata has no commit/receipt dates),
    counted by priority. The EXISTS is a left-semi join: lineitem never
    leaves the join as payload, so the shuffle carries keys only."""
    orders = (load_table(spark, sf_dir, "orders")
              .filter((F.col("o_orderdate") >= "1997-01-01")
                      & (F.col("o_orderdate") < "1998-01-01")))
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey",
                                                      "l_shipdate")
    late = orders.join(
        li, (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")), "left_semi")
    return (late.groupBy("o_orderpriority")
            .agg(F.count("*").alias("order_count")))


_Q4_SQL = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
"""


def promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape: PROMO revenue share for one ship month. Part is
    joined on partkey; the one-month lineitem filter is pushed to the
    scan, and the ratio is a single conditional aggregate (no second
    pass). At 100 TB part is too large to broadcast blindly — the join
    keys are both bucketable on partkey; here the month filter already
    shrinks the probe side to ~1/36 of lineitem."""
    li = (load_table(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= "1998-03-01")
                  & (F.col("l_shipdate") < "1998-04-01"))
          .select("l_partkey", "l_extendedprice", "l_discount"))
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.join(part, F.col("l_partkey") == F.col("p_partkey"))
            .agg(F.round(
                100.0 * F.sum(F.when(F.col("p_type") == "PROMO", rev)
                              .otherwise(0.0)) / F.sum(rev), 6)
                 .alias("promo_revenue_pct")))


_Q14_SQL = """
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6)
       AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1998-03-01'
  AND l_shipdate < TIMESTAMP '1998-04-01'
"""


def top_supplier_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: suppliers achieving the maximum quarterly revenue.
    The max is a scalar subquery over the same pre-agg — Catalyst reuses
    the exchange, so lineitem is scanned once."""
    li = (load_table(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= "1997-01-01")
                  & (F.col("l_shipdate") < "1997-04-01")))
    rev = (li.groupBy("l_suppkey")
           .agg(F.round(F.sum(F.col("l_extendedprice")
                              * (1 - F.col("l_discount"))), 4)
                .alias("total_rev")))
    mx = rev.agg(F.max("total_rev").alias("mx"))
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (rev.join(F.broadcast(mx), F.col("total_rev") == F.col("mx"))
            .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
            .select("s_suppkey", "s_name", "total_rev"))


_Q15_SQL = """
WITH rev AS (
  SELECT l_suppkey,
         round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_rev
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_rev = (SELECT max(total_rev) FROM rev)
"""


def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 shape: revenue by nation for one region/year where customer
    and supplier share the nation. Region→nation is a two-level
    broadcast chain pruning both dim sides before the fact join; the
    c_nationkey = s_nationkey equality rides the join condition, so no
    post-join filter materializes the mismatched pairs."""
    nations = (load_table(spark, sf_dir, "nation")
               .join(F.broadcast(load_table(spark, sf_dir, "region")
                                 .filter(F.col("r_name") == "ASIA")),
                     F.col("n_regionkey") == F.col("r_regionkey"))
               .select("n_nationkey", "n_name"))
    cust = (load_table(spark, sf_dir, "customer")
            .select("c_custkey", "c_nationkey"))
    sup = (load_table(spark, sf_dir, "supplier")
           .select("s_suppkey", "s_nationkey"))
    orders = (load_table(spark, sf_dir, "orders")
              .filter((F.col("o_orderdate") >= "1997-01-01")
                      & (F.col("o_orderdate") < "1998-01-01"))
              .select("o_orderkey", "o_custkey"))
    li = (load_table(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_suppkey", "l_extendedprice",
                  "l_discount"))
    return (li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(cust),
                  F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(sup),
                  (F.col("l_suppkey") == F.col("s_suppkey"))
                  & (F.col("c_nationkey") == F.col("s_nationkey")))
            .join(F.broadcast(nations),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .groupBy("n_name")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 4)
                 .alias("revenue")))


_Q5_SQL = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


def revenue_change_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 shape: revenue delta from eliminating small discounts — a
    pure scan-aggregate. Every predicate (date range, discount band,
    quantity cap) pushes to the parquet reader; the whole query is one
    map-combined scalar, the canonical zero-shuffle shape."""
    li = (load_table(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= "1997-01-01")
                  & (F.col("l_shipdate") < "1998-01-01")
                  & (F.col("l_discount") >= 0.05)
                  & (F.col("l_discount") <= 0.07)
                  & (F.col("l_quantity") < 24)))
    return li.agg(F.round(F.sum(F.col("l_extendedprice")
                                * F.col("l_discount")), 4)
                  .alias("revenue_delta"))


_Q6_SQL = """
SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue_delta
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def nation_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: bilateral trade volume between two nations by ship
    year. Both nation filters collapse the supplier/customer dims to a
    few hundred keys → broadcast; the symmetric pair condition is an
    OR inside the join, evaluated on broadcast rows, never a cross."""
    nation = load_table(spark, sf_dir, "nation")
    sup = (load_table(spark, sf_dir, "supplier")
           .join(F.broadcast(nation),
                 F.col("s_nationkey") == F.col("n_nationkey"))
           .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    cust = (load_table(spark, sf_dir, "customer")
            .join(F.broadcast(nation),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .select("c_custkey", F.col("n_name").alias("cust_nation")))
    orders = (load_table(spark, sf_dir, "orders")
              .select("o_orderkey", "o_custkey"))
    li = (load_table(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= "1996-01-01")
                  & (F.col("l_shipdate") < "1998-01-01")))
    pair = (((F.col("supp_nation") == "NATION_5")
             & (F.col("cust_nation") == "NATION_10"))
            | ((F.col("supp_nation") == "NATION_10")
               & (F.col("cust_nation") == "NATION_5")))
    return (li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
            .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
            .filter(pair)
            .groupBy("supp_nation", "cust_nation",
                     F.year("l_shipdate").cast("long").alias("l_year"))
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 4)
                 .alias("revenue")))


_Q7_SQL = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND ((sn.n_name = 'NATION_5' AND cn.n_name = 'NATION_10')
       OR (sn.n_name = 'NATION_10' AND cn.n_name = 'NATION_5'))
GROUP BY sn.n_name, cn.n_name, year(l_shipdate)
"""


def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape: one nation's share of a region's revenue in one part
    type, by order year. The share is a conditional aggregate over the
    joined rows — numerator and denominator in a single pass."""
    nation = load_table(spark, sf_dir, "nation")
    region = (load_table(spark, sf_dir, "region")
              .filter(F.col("r_name") == "EUROPE"))
    cust = (load_table(spark, sf_dir, "customer")
            .join(F.broadcast(
                nation.join(F.broadcast(region),
                            F.col("n_regionkey") == F.col("r_regionkey"))
                .select("n_nationkey")),
                F.col("c_nationkey") == F.col("n_nationkey"))
            .select("c_custkey"))
    sup = (load_table(spark, sf_dir, "supplier")
           .join(F.broadcast(nation),
                 F.col("s_nationkey") == F.col("n_nationkey"))
           .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    part = (load_table(spark, sf_dir, "part")
            .filter(F.col("p_type") == "ECONOMY")
            .select("p_partkey"))
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.join(F.broadcast(part),
                    F.col("l_partkey") == F.col("p_partkey"))
            .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
            .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
            .agg(F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_10", rev)
                      .otherwise(0.0)) / F.sum(rev), 6)
                .alias("mkt_share")))


_Q8_SQL = """
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       round(sum(CASE WHEN sn.n_name = 'NATION_10'
                      THEN l_extendedprice * (1 - l_discount)
                      ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN region ON cn.n_regionkey = r_regionkey
WHERE r_name = 'EUROPE' AND p_type = 'ECONOMY'
GROUP BY year(o_orderdate)
"""


def product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape (adapted: the testdata has no partsupp, so profit =
    discounted revenue rather than revenue − ps_supplycost·qty): profit
    by supplier nation and order year over a part-name subset. Part is
    filtered then broadcast; nation rides on the supplier broadcast."""
    part = (load_table(spark, sf_dir, "part")
            .filter(F.col("p_name").contains("red"))
            .select("p_partkey"))
    sup = (load_table(spark, sf_dir, "supplier")
           .join(F.broadcast(load_table(spark, sf_dir, "nation")),
                 F.col("s_nationkey") == F.col("n_nationkey"))
           .select("s_suppkey", F.col("n_name").alias("nation")))
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem")
    return (li.join(F.broadcast(part),
                    F.col("l_partkey") == F.col("p_partkey"))
            .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
            .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("nation", F.year("o_orderdate").cast("long").alias("o_year"))
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 4)
                 .alias("profit")))


_Q9_SQL = """
SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, year(o_orderdate)
"""


def returned_items_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape: customers ranked by revenue lost to returns in one
    quarter. The quarter+returnflag predicates push to the lineitem
    scan; customer/nation attach by broadcast AFTER the heavy agg, so
    the shuffle carries (custkey, revenue) pairs only."""
    orders = (load_table(spark, sf_dir, "orders")
              .filter((F.col("o_orderdate") >= "1997-01-01")
                      & (F.col("o_orderdate") < "1997-04-01"))
              .select("o_orderkey", "o_custkey"))
    li = (load_table(spark, sf_dir, "lineitem")
          .filter(F.col("l_returnflag") == "R")
          .select("l_orderkey", "l_extendedprice", "l_discount"))
    lost = (li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_custkey")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 4)
                 .alias("revenue")))
    cust = (load_table(spark, sf_dir, "customer")
            .join(F.broadcast(load_table(spark, sf_dir, "nation")),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .select("c_custkey", "c_name", "c_acctbal", "n_name"))
    return (lost.join(F.broadcast(cust),
                      F.col("o_custkey") == F.col("c_custkey"))
            .select("c_custkey", "c_name", "c_acctbal", "n_name", "revenue")
            .orderBy(F.desc("revenue"), F.asc("c_custkey"))
            .limit(20))


_Q10_SQL = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-04-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def customer_order_distribution(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Q13 shape: histogram of customers by order count, including the
    zero bucket via left outer join. Two cascaded aggs: per-customer
    count (shuffle on custkey), then the tiny count-of-counts."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = (load_table(spark, sf_dir, "orders")
              .filter(F.col("o_orderpriority") != "1-URGENT")
              .select("o_orderkey", "o_custkey"))
    per_cust = (cust.join(orders, F.col("c_custkey") == F.col("o_custkey"),
                          "left")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count("*").alias("custdist")))


_Q13_SQL = """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey
                      AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey) c_orders
GROUP BY c_count
"""


def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape (adapted: brand-only filter — testdata has no
    p_container): yearly revenue from orders below 20% of a part's
    average quantity. The per-part average is a second aggregate over
    the same filtered join — Catalyst reuses the scan; the final figure
    divides by 7 per the TPC-H definition."""
    part = (load_table(spark, sf_dir, "part")
            .filter(F.col("p_brand") == "Brand#13")
            .select("p_partkey"))
    li = (load_table(spark, sf_dir, "lineitem")
          .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
          .select("l_partkey", "l_quantity", "l_extendedprice"))
    avg_qty = (li.groupBy("l_partkey")
               .agg((0.2 * F.avg("l_quantity")).alias("qty_cap"))
               .withColumnRenamed("l_partkey", "a_partkey"))
    return (li.join(F.broadcast(avg_qty),
                    F.col("l_partkey") == F.col("a_partkey"))
            .filter(F.col("l_quantity") < F.col("qty_cap"))
            .agg(F.round(F.sum("l_extendedprice") / 7.0, 4)
                 .alias("avg_yearly")))


_Q17_SQL = """
SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#13'
  AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
                    WHERE l2.l_partkey = lineitem.l_partkey)
"""


def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape: customers whose single orders exceed a quantity
    threshold. The HAVING runs on the (orderkey) grain BEFORE customer
    attaches — the broadcast join sees only the surviving handful."""
    big = (load_table(spark, sf_dir, "lineitem")
           .groupBy("l_orderkey")
           .agg(F.sum("l_quantity").alias("total_qty"))
           .filter(F.col("total_qty") > 250))
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name")
    return (orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
            .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
            .select("c_custkey", "c_name", "o_orderkey", "o_orderdate",
                    "o_totalprice", "total_qty")
            .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
            .limit(100))


_Q18_SQL = """
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
       total_qty
FROM orders
JOIN (SELECT l_orderkey AS bok, sum(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > 250) big ON o_orderkey = bok
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100
"""


def discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape (adapted: p_size bands replace p_container): revenue
    from an OR-of-ANDs predicate across three brand/size/quantity
    bands. The whole disjunction is one join condition — Catalyst
    extracts the common l_partkey = p_partkey equi-part and evaluates
    the residual on broadcast part rows."""
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount")

    def band(brand, qlo, qhi, slo, shi):
        return ((F.col("p_brand") == brand)
                & (F.col("l_quantity") >= qlo) & (F.col("l_quantity") <= qhi)
                & (F.col("p_size") >= slo) & (F.col("p_size") <= shi))

    cond = (F.col("l_partkey") == F.col("p_partkey")) & (
        band("Brand#13", 1, 11, 1, 5)
        | band("Brand#20", 10, 20, 1, 10)
        | band("Brand#25", 20, 30, 1, 15))
    return (li.join(F.broadcast(part), cond)
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 4)
                 .alias("revenue")))


_Q19_SQL = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#13' AND l_quantity BETWEEN 1 AND 11
       AND p_size BETWEEN 1 AND 5)
   OR (p_brand = 'Brand#20' AND l_quantity BETWEEN 10 AND 20
       AND p_size BETWEEN 1 AND 10)
   OR (p_brand = 'Brand#25' AND l_quantity BETWEEN 20 AND 30
       AND p_size BETWEEN 1 AND 15)
"""


QUERIES = {
    "shipping_priority_top10": shipping_priority_top10,
    "order_priority_counts": order_priority_counts,
    "promo_revenue_ratio": promo_revenue_ratio,
    "top_supplier_by_revenue": top_supplier_by_revenue,
    "local_supplier_volume": local_supplier_volume,
    "revenue_change_forecast": revenue_change_forecast,
    "nation_volume_shipping": nation_volume_shipping,
    "nation_market_share": nation_market_share,
    "product_type_profit": product_type_profit,
    "returned_items_top20": returned_items_top20,
    "customer_order_distribution": customer_order_distribution,
    "small_quantity_revenue": small_quantity_revenue,
    "large_volume_customers": large_volume_customers,
    "discounted_revenue": discounted_revenue,
}

ORACLES = {
    "shipping_priority_top10": _Q3_SQL,
    "order_priority_counts": _Q4_SQL,
    "promo_revenue_ratio": _Q14_SQL,
    "top_supplier_by_revenue": _Q15_SQL,
    "local_supplier_volume": _Q5_SQL,
    "revenue_change_forecast": _Q6_SQL,
    "nation_volume_shipping": _Q7_SQL,
    "nation_market_share": _Q8_SQL,
    "product_type_profit": _Q9_SQL,
    "returned_items_top20": _Q10_SQL,
    "customer_order_distribution": _Q13_SQL,
    "small_quantity_revenue": _Q17_SQL,
    "large_volume_customers": _Q18_SQL,
    "discounted_revenue": _Q19_SQL,
}


def monthly_return_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return-rate time series: per ship month, the fraction of line
    items (and of revenue) flagged 'R' — one conditional aggregate per
    month bucket, the canonical ratio-over-time rollup. Shuffle is
    |months| rows; everything else is map-side."""
    li = load_table(spark, sf_dir, "lineitem")
    ret = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.groupBy(F.date_trunc("month", "l_shipdate").alias("month"))
            .agg(F.count("*").alias("n_lines"),
                 F.sum(ret).alias("n_returned"),
                 F.round(F.sum(ret) / F.count("*"), 6)
                 .alias("return_rate"),
                 F.round(F.sum(F.when(F.col("l_returnflag") == "R", rev)
                               .otherwise(0.0)) / F.sum(rev), 6)
                 .alias("returned_revenue_share")))


_RETURN_RATE_SQL = """
SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS month,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_returned,
       round(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS return_rate,
       round(sum(CASE WHEN l_returnflag = 'R'
                      THEN l_extendedprice * (1 - l_discount)
                      ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6)
         AS returned_revenue_share
FROM lineitem
GROUP BY date_trunc('month', l_shipdate)
"""


QUERIES["monthly_return_rate"] = monthly_return_rate
ORACLES["monthly_return_rate"] = _RETURN_RATE_SQL


# ---------------------------------------------------------------------------
# Round-4 tail: Q12/Q21/Q22 shapes. The testdata lacks l_shipmode,
# l_commitdate/l_receiptdate and c_phone (and partsupp entirely, which
# rules out Q2/Q11/Q16/Q20), so these keep each query's OPERATOR shape
# — conditional priority counts, decorrelated exists/not-exists,
# scalar-subquery + anti-join — on the columns that exist.
# ---------------------------------------------------------------------------


def late_shipment_priority_counts(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Q12 shape: lines shipped > 90 days after their order date,
    split into high/low-priority counts per return flag (the original
    groups by shipmode with commit/receipt lateness — same join +
    CASE-count aggregation). Single join-shuffle, map-combined
    conditional sums."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_shipdate")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority")
    late = (li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .filter(F.col("l_shipdate")
                    > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")))
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (late.groupBy("l_returnflag")
            .agg(F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
                 F.sum(F.when(hi, 0).otherwise(1)).alias("low_line_count")))


_Q12_SQL = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
GROUP BY l_returnflag
"""


def waiting_supplier_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape: suppliers who were the SOLE late shipper in a
    multi-supplier order (late = shipped > 60 days after order date).
    The original's correlated EXISTS / NOT EXISTS pair decorrelates
    into one (order, supplier) late-flag aggregation plus an order-
    grain HAVING — two map-combined shuffles, no correlated re-scan
    per row, which is the 100 TB-safe formulation."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate")
    ls = (li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
          .groupBy("l_orderkey", "l_suppkey")
          .agg(F.max(F.when(
              F.col("l_shipdate")
              > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"), 1)
              .otherwise(0)).alias("late")))
    sole = (ls.groupBy("l_orderkey")
            .agg(F.count("*").alias("n_supp"), F.sum("late").alias("n_late"))
            .filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
            .select("l_orderkey"))
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name")
    return (ls.filter(F.col("late") == 1)
            .join(sole, "l_orderkey")
            .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
            .groupBy("s_name")
            .agg(F.count("*").alias("numwait"))
            .orderBy(F.desc("numwait"), F.asc("s_name"))
            .limit(10))


_Q21_SQL = """
WITH ls AS (
  SELECT l_orderkey, l_suppkey,
         max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                  THEN 1 ELSE 0 END) AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY l_orderkey, l_suppkey),
sole AS (
  SELECT l_orderkey FROM ls
  GROUP BY l_orderkey
  HAVING count(*) >= 2 AND sum(late) = 1)
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM ls JOIN sole USING (l_orderkey)
JOIN supplier ON l_suppkey = s_suppkey
WHERE late = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 10
"""


_Q22_CUTOFF = "1998-01-01"


def dormant_customer_balance_groups(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Q22 shape: above-average-balance customers with NO recent
    orders, grouped into nation-derived segments (the original groups
    by phone country code). Scalar subquery (global positive-balance
    average, broadcast 1 row) + left-anti join against recent orders
    + map-combined segment aggregation."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_nationkey")
    avg_bal = (cust.filter(F.col("c_acctbal") > 0)
               .agg(F.avg("c_acctbal").alias("a")))
    recent = (load_table(spark, sf_dir, "orders")
              .filter(F.col("o_orderdate") >= _Q22_CUTOFF)
              .select("o_custkey"))
    return (cust.crossJoin(F.broadcast(avg_bal))
            .filter(F.col("c_acctbal") > F.col("a"))
            .join(recent, F.col("c_custkey") == F.col("o_custkey"),
                  "left_anti")
            .groupBy((F.col("c_nationkey") % 5).alias("cgroup"))
            .agg(F.count("*").alias("numcust"),
                 F.round(F.sum("c_acctbal"), 4).alias("totacctbal")))


_Q22_SQL = f"""
WITH avg_bal AS (SELECT avg(c_acctbal) AS a FROM customer
                 WHERE c_acctbal > 0)
SELECT c_nationkey % 5 AS cgroup,
       CAST(count(*) AS BIGINT) AS numcust,
       round(sum(c_acctbal), 4) AS totacctbal
FROM customer CROSS JOIN avg_bal
WHERE c_acctbal > a
  AND c_custkey NOT IN (SELECT o_custkey FROM orders
                        WHERE o_orderdate >= TIMESTAMP '{_Q22_CUTOFF}')
GROUP BY c_nationkey % 5
"""


QUERIES_TAIL = {
    "late_shipment_priority_counts": late_shipment_priority_counts,
    "waiting_supplier_top10": waiting_supplier_top10,
    "dormant_customer_balance_groups": dormant_customer_balance_groups,
}
ORACLES_TAIL = {
    "late_shipment_priority_counts": _Q12_SQL,
    "waiting_supplier_top10": _Q21_SQL,
    "dormant_customer_balance_groups": _Q22_SQL,
}


# ---------------------------------------------------------------------------
# Round-5: the partsupp-dependent tail (Q2/Q11/Q16/Q20 shapes). The
# testdata ships no partsupp table, but lineitem carries l_suppkey, so
# the supply relation IS observable: partsupp := DISTINCT (l_partkey,
# l_suppkey), consistent with every lineitem join by construction.
# ps_availqty (1-40, sized against the shipped-qty scale so the
# Q20 half-stock predicate is selective) and ps_supplycost are
# md5-derived deterministic attributes
# (the same portable-hash idiom as operators/dedup), with supplycost
# kept in INTEGER CENTS internally so every min/sum/HAVING comparison
# is exact BIGINT arithmetic in both engines — no float-ulp risk in
# the correlated-min (Q2) or threshold (Q11) predicates.
# ---------------------------------------------------------------------------

def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(ps_partkey, ps_suppkey, ps_availqty, ps_cost_cents)."""
    ps = (load_table(spark, sf_dir, "lineitem")
          .select(F.col("l_partkey").alias("ps_partkey"),
                  F.col("l_suppkey").alias("ps_suppkey"))
          .distinct())

    def h60(tag: str):
        key = F.concat_ws(":", F.col("ps_partkey"), F.col("ps_suppkey"),
                          F.lit(tag))
        return _portable_hash60(key)

    return (ps
            .withColumn("ps_availqty", h60("aq") % 40 + 1)
            .withColumn("ps_cost_cents", h60("sc") % 99900 + 100))


_PARTSUPP_SQL = """
psk AS (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
        FROM lineitem),
partsupp AS (
  SELECT ps_partkey, ps_suppkey,
         CAST(('0x' || substr(md5(ps_partkey::VARCHAR || ':'
                 || ps_suppkey::VARCHAR || ':aq'), 1, 15)) AS BIGINT)
           % 40 + 1 AS ps_availqty,
         CAST(('0x' || substr(md5(ps_partkey::VARCHAR || ':'
                 || ps_suppkey::VARCHAR || ':sc'), 1, 15)) AS BIGINT)
           % 99900 + 100 AS ps_cost_cents
  FROM psk)
"""


def min_cost_regional_supplier(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Q2 shape: for STANDARD parts of size ≤ 10, the EUROPE supplier
    with the minimum supply cost per part (ties → every minimal
    supplier, as in Q2). The correlated min-subquery is decorrelated
    into a per-part window min over the already-region-filtered supply
    rows; the supplier→nation→region dim chain is broadcast. Cost
    comparison is exact (integer cents)."""
    from pyspark.sql import Window

    part = (load_table(spark, sf_dir, "part")
            .filter((F.col("p_type") == "STANDARD")
                    & (F.col("p_size") <= 10))
            .select("p_partkey", "p_brand"))
    sup = (load_table(spark, sf_dir, "supplier")
           .join(F.broadcast(load_table(spark, sf_dir, "nation")),
                 F.col("s_nationkey") == F.col("n_nationkey"))
           .join(F.broadcast(load_table(spark, sf_dir, "region")),
                 F.col("n_regionkey") == F.col("r_regionkey"))
           .filter(F.col("r_name") == "EUROPE")
           .select("s_suppkey", "s_name", "s_acctbal", "n_name"))
    ps = _partsupp(spark, sf_dir)
    regional = (ps.join(F.broadcast(sup),
                        F.col("ps_suppkey") == F.col("s_suppkey"))
                .join(F.broadcast(part),
                      F.col("ps_partkey") == F.col("p_partkey")))
    w = Window.partitionBy("ps_partkey")
    return (regional
            .withColumn("min_cents", F.min("ps_cost_cents").over(w))
            .filter(F.col("ps_cost_cents") == F.col("min_cents"))
            .select("s_acctbal", "s_name", "n_name", "p_partkey",
                    "p_brand",
                    F.round(F.col("ps_cost_cents")
                            / F.lit(100.0), 2).alias("supplycost"))
            .orderBy(F.desc("s_acctbal"), F.asc("n_name"),
                     F.asc("s_name"), F.asc("p_partkey"))
            .limit(100))


_Q2_SQL = f"""
WITH {_PARTSUPP_SQL},
sup AS (SELECT s_suppkey, s_name, s_acctbal, n_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'),
regional AS (
  SELECT p.p_partkey, p.p_brand, s.s_acctbal, s.s_name, s.n_name,
         ps.ps_cost_cents,
         min(ps.ps_cost_cents) OVER (PARTITION BY ps.ps_partkey)
           AS min_cents
  FROM partsupp ps
  JOIN sup s ON ps.ps_suppkey = s.s_suppkey
  JOIN part p ON ps.ps_partkey = p.p_partkey
  WHERE p.p_type = 'STANDARD' AND p.p_size <= 10)
SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
       round(ps_cost_cents / CAST(100.0 AS DOUBLE), 2) AS supplycost
FROM regional
WHERE ps_cost_cents = min_cents
ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC
LIMIT 100
"""


def important_stock_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape: per-part inventory value (Σ cost×availqty) restricted
    to EUROPE suppliers, keeping parts whose value exceeds TWICE the
    mean per-part value. (Spec scopes to one nation and uses fraction
    0.0001/SF — explicitly scale-dependent; the testdata's per-nation
    supplier counts hit zero at sf0.001, so the stable region grain is
    used, and the 2x-mean threshold is the scale-invariant equivalent
    of the spec's 1/SF scaling. Same dim-chain + global-threshold
    shape.) Both the per-part values and the
    global threshold are exact BIGINT cent sums — the HAVING compare
    can never flip on summation order. The 1-row total broadcasts."""
    sup = (load_table(spark, sf_dir, "supplier")
           .join(F.broadcast(load_table(spark, sf_dir, "nation")),
                 F.col("s_nationkey") == F.col("n_nationkey"))
           .join(F.broadcast(load_table(spark, sf_dir, "region")),
                 F.col("n_regionkey") == F.col("r_regionkey"))
           .filter(F.col("r_name") == "EUROPE")
           .select("s_suppkey"))
    ps = (_partsupp(spark, sf_dir)
          .join(F.broadcast(sup), F.col("ps_suppkey") == F.col("s_suppkey"))
          .withColumn("v_cents",
                      F.col("ps_cost_cents") * F.col("ps_availqty")))
    per_part = (ps.groupBy("ps_partkey")
                .agg(F.sum("v_cents").alias("part_cents")))
    total = per_part.agg(F.sum("part_cents").alias("total_cents"),
                         F.count("*").alias("n_parts"))
    return (per_part.crossJoin(F.broadcast(total))
            .filter(F.col("part_cents") * F.col("n_parts")
                    > 2 * F.col("total_cents"))
            .select(F.col("ps_partkey").alias("p_partkey"),
                    F.round(F.col("part_cents") / F.lit(100.0), 2)
                    .alias("stock_value"))
            .orderBy(F.desc("stock_value"), F.asc("p_partkey")))


_Q11_SQL = f"""
WITH {_PARTSUPP_SQL},
nat_ps AS (
  SELECT ps_partkey, ps_cost_cents * ps_availqty AS v_cents
  FROM partsupp
  JOIN supplier ON ps_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'),
per_part AS (SELECT ps_partkey, CAST(sum(v_cents) AS BIGINT) AS part_cents
             FROM nat_ps GROUP BY ps_partkey),
total AS (SELECT CAST(sum(part_cents) AS BIGINT) AS total_cents,
                 CAST(count(*) AS BIGINT) AS n_parts
          FROM per_part)
SELECT ps_partkey AS p_partkey,
       round(part_cents / CAST(100.0 AS DOUBLE), 2) AS stock_value
FROM per_part CROSS JOIN total
WHERE part_cents * n_parts > 2 * total_cents
ORDER BY stock_value DESC, p_partkey ASC
"""


def supplier_count_by_part_attrs(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Q16 shape: distinct supplier count per (brand, type, size) for
    the Q16 size list, excluding one brand and one type. (The spec's
    complaint-supplier NOT IN is dropped — the reduced supplier schema
    has no comment column; documented adaptation.) Count-distinct over
    the supply relation is the Expand-based exact path."""
    sizes = [1, 5, 9, 13, 17, 21, 25, 29]
    part = (load_table(spark, sf_dir, "part")
            .filter((F.col("p_brand") != "Brand#1")
                    & (F.col("p_type") != "PROMO")
                    & F.col("p_size").isin(sizes))
            .select("p_partkey", "p_brand", "p_type", "p_size"))
    ps = _partsupp(spark, sf_dir)
    return (ps.join(part, F.col("ps_partkey") == F.col("p_partkey"))
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
            .orderBy(F.desc("supplier_cnt"), F.asc("p_brand"),
                     F.asc("p_type"), F.asc("p_size")))


_Q16_SQL = f"""
WITH {_PARTSUPP_SQL}
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
FROM partsupp
JOIN part ON ps_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC
"""


def excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape: suppliers holding excess stock of 'small …' parts —
    ps_availqty > half the 1997 shipped quantity of that (part,
    supplier). The shipped-qty agg runs on the date-pruned lineitem
    scan; the part-name filter is a broadcast semi-join; the final
    distinct-supplier projection joins the (tiny) qualifying supply
    rows back to supplier. Quantities are integral doubles, so the
    half-compare (2·availqty > qty) is exact."""
    part = (load_table(spark, sf_dir, "part")
            .filter(F.col("p_name").startswith("small"))
            .select("p_partkey"))
    li = (load_table(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= "1997-01-01")
                  & (F.col("l_shipdate") < "1998-01-01"))
          .groupBy("l_partkey", "l_suppkey")
          .agg(F.sum("l_quantity").alias("qty_1997")))
    ps = (_partsupp(spark, sf_dir)
          .join(F.broadcast(part), F.col("ps_partkey") == F.col("p_partkey"))
          .join(li, (F.col("ps_partkey") == F.col("l_partkey"))
                & (F.col("ps_suppkey") == F.col("l_suppkey")))
          .filter(F.col("ps_availqty") * 2 > F.col("qty_1997")))
    sup = load_table(spark, sf_dir, "supplier")
    return (ps.select("ps_suppkey").distinct()
            .join(sup, F.col("ps_suppkey") == F.col("s_suppkey"))
            .select("s_suppkey", "s_name")
            .orderBy(F.asc("s_suppkey")))


_Q20_SQL = f"""
WITH {_PARTSUPP_SQL},
qty AS (SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty_1997
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY l_partkey, l_suppkey),
excess AS (
  SELECT DISTINCT ps_suppkey
  FROM partsupp
  JOIN part ON ps_partkey = p_partkey
  JOIN qty ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
  WHERE p_name LIKE 'small%' AND ps_availqty * 2 > qty_1997)
SELECT s_suppkey, s_name
FROM excess JOIN supplier ON ps_suppkey = s_suppkey
ORDER BY s_suppkey ASC
"""


QUERIES_TAIL.update({
    "min_cost_regional_supplier": min_cost_regional_supplier,
    "important_stock_parts": important_stock_parts,
    "supplier_count_by_part_attrs": supplier_count_by_part_attrs,
    "excess_stock_suppliers": excess_stock_suppliers,
})
ORACLES_TAIL.update({
    "min_cost_regional_supplier": _Q2_SQL,
    "important_stock_parts": _Q11_SQL,
    "supplier_count_by_part_attrs": _Q16_SQL,
    "excess_stock_suppliers": _Q20_SQL,
})


def product_type_profit_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 in its FULL form, unlocked by the round-5 derived partsupp:
    profit = Σ(l_extendedprice·(1−l_discount) − ps_supplycost·l_qty)
    by supplier nation and order year over a part-name subset — the
    cost term ``product_type_profit`` had to omit when the testdata
    carried no supply relation. Supply cost converts from the exact
    integer cents (ps_cost_cents/100.0 — the same double in both
    engines); the partsupp join keys on the composite (partkey,
    suppkey) the lineitem row already carries, so it adds no new
    shuffle dimension. Dims broadcast as in the adapted variant."""
    part = (load_table(spark, sf_dir, "part")
            .filter(F.col("p_name").contains("red"))
            .select("p_partkey"))
    sup = (load_table(spark, sf_dir, "supplier")
           .join(F.broadcast(load_table(spark, sf_dir, "nation")),
                 F.col("s_nationkey") == F.col("n_nationkey"))
           .select("s_suppkey", F.col("n_name").alias("nation")))
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate")
    ps = _partsupp(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    amount = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
              - (F.col("ps_cost_cents") / 100.0) * F.col("l_quantity"))
    return (li.join(F.broadcast(part),
                    F.col("l_partkey") == F.col("p_partkey"))
            .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
            .join(ps, (F.col("l_partkey") == F.col("ps_partkey"))
                  & (F.col("l_suppkey") == F.col("ps_suppkey")))
            .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("nation",
                     F.year("o_orderdate").cast("long").alias("o_year"))
            .agg(F.round(F.sum(amount), 4).alias("profit")))


_Q9_FULL_SQL = f"""
WITH {_PARTSUPP_SQL.strip()}
SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       round(sum(l_extendedprice * (1 - l_discount)
                 - (ps_cost_cents / 100.0) * l_quantity), 4) AS profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN partsupp ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, year(o_orderdate)
"""

QUERIES_TAIL["product_type_profit_full"] = product_type_profit_full
ORACLES_TAIL["product_type_profit_full"] = _Q9_FULL_SQL


# -- B1: week-over-week revenue bridge (price/volume decomposition) ----------

def revenue_bridge_wow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-bridge decomposition: for every consecutive week pair
    within each order priority, the revenue delta split into a VOLUME
    effect ((v1−v0)·p0) and a PRICE/MIX effect (v1·(p1−p0)) — the BI
    "why did revenue move" waterfall (weekly_revenue_wow reports the
    delta; this explains it). The two effects sum to the delta by
    construction.

    Exactness: volumes and cents are BIGINT; the volume effect is an
    exact integer division (v1−v0)·rev0 div v0 and the price effect
    its exact integer complement delta − volume — NO float is ever
    emitted (a rounded-double form flipped a 6-decimal boundary at
    the 30× soak once magnitudes hit 10⁸ cents; integers can't), and
    volume + price == delta holds exactly by construction.

    Scale shape: one fact agg to (week, priority) grain, then a lag()
    window PARTITIONED BY priority over the tiny week grid. Nothing
    global."""
    from pyspark.sql.window import Window as W
    orders = load_table(spark, sf_dir, "orders")
    wk = (orders.groupBy(
        F.date_format(F.date_trunc("week", F.col("o_orderdate")),
                      "yyyy-MM-dd").alias("week"),
        F.col("o_orderpriority").alias("priority"))
        .agg(F.count("*").alias("v"),
             F.sum(F.round(F.col("o_totalprice") * 100, 0)
                   .cast("long")).alias("rev")))
    w = W.partitionBy("priority").orderBy("week")
    lagged = wk.select(
        "week", "priority", "v", "rev",
        F.lag("v").over(w).alias("v0"),
        F.lag("rev").over(w).alias("rev0"))
    return (lagged.filter(F.col("v0").isNotNull())
            .withColumn("vol_eff", F.expr("(v - v0) * rev0 div v0"))
            .select("week", "priority",
                    F.col("rev0").alias("prev_rev_cents"),
                    F.col("rev").alias("rev_cents"),
                    (F.col("rev") - F.col("rev0")).alias("delta_cents"),
                    F.col("vol_eff").alias("volume_effect_cents"),
                    (F.col("rev") - F.col("rev0") - F.col("vol_eff"))
                    .alias("price_effect_cents"))
            .orderBy("priority", "week"))


_BRIDGE_SQL = """
WITH wk AS (
  SELECT strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS week,
         o_orderpriority AS priority,
         CAST(count(*) AS BIGINT) AS v,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
              AS BIGINT) AS rev
  FROM orders GROUP BY 1, 2),
lagged AS (
  SELECT week, priority, v, rev,
         lag(v) OVER pw AS v0, lag(rev) OVER pw AS rev0
  FROM wk WINDOW pw AS (PARTITION BY priority ORDER BY week))
SELECT week, priority, rev0 AS prev_rev_cents, rev AS rev_cents,
       rev - rev0 AS delta_cents,
       CAST((v - v0) * rev0 // v0 AS BIGINT) AS volume_effect_cents,
       CAST(rev - rev0 - (v - v0) * rev0 // v0 AS BIGINT)
         AS price_effect_cents
FROM lagged WHERE v0 IS NOT NULL
ORDER BY priority, week
"""

QUERIES_TAIL["revenue_bridge_wow"] = revenue_bridge_wow
ORACLES_TAIL["revenue_bridge_wow"] = _BRIDGE_SQL


# -- B2: ABC-XYZ inventory classification ------------------------------------

def abc_xyz_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ABC-XYZ inventory matrix: parts classed by cumulative
    revenue share (A ≤ 80%, B ≤ 95%, C rest — Pareto bands) crossed
    with demand variability (X/Y/Z by the coefficient of variation of
    monthly shipped quantity: CV² ≤ ¼, ≤ 1, else Z). The standard
    stocking-policy segmentation; emitted at the 9-cell matrix grain.

    Exactness: quantities are integral and prices cents-exact in this
    corpus, so revenue runs in e4 units (cents × (100−disc100)) as
    BIGINT; CV² bands compare 4·(n·Σq²−S²) vs S² / (n·Σq²−S²) vs S²
    — exact integer cross-multiplications, no division; ABC bands
    compare 5·cum ≤ 4·tot and 20·cum ≤ 19·tot on DECIMAL(38,0)
    sums. Not one float enters a comparison.

    Scale shape: two part-grain aggs off one lineitem scan; the ABC
    cumulative share rides the DISTRIBUTED prefix sum
    (operators/ranking.with_global_cumsum, round 10 — range partition
    + per-slice running sum + broadcast value offsets), so no
    single-partition sort of the part dimension remains; the final
    matrix agg is 9 rows."""
    from threat_detection_nosql_spark.operators.ranking import \
        with_global_cumsum
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        "l_partkey",
        F.date_trunc("month", F.col("l_shipdate")).alias("m"),
        F.col("l_quantity").cast("long").alias("q"),
        (F.round(F.col("l_extendedprice") * 100, 0).cast("long")
         * (F.lit(100) - F.round(F.col("l_discount") * 100, 0)
            .cast("long"))).alias("rev_e4"))
    monthly = (base.groupBy("l_partkey", "m")
               .agg(F.sum("q").alias("mq")))
    varr = (monthly.groupBy("l_partkey")
            .agg(F.count("*").alias("n"),
                 F.sum("mq").alias("s"),
                 F.sum(F.col("mq") * F.col("mq")).alias("qq")))
    spread = (F.col("n") * F.col("qq") - F.col("s") * F.col("s"))
    xyz = varr.select(
        "l_partkey",
        F.when(4 * spread <= F.col("s") * F.col("s"), "X")
        .when(spread <= F.col("s") * F.col("s"), "Y")
        .otherwise("Z").alias("xyz_class"))
    rev = base.groupBy("l_partkey").agg(
        F.sum(F.col("rev_e4").cast("decimal(38,0)")).alias("rev"))
    tot = rev.agg(F.sum("rev").alias("tot"))
    abc = (with_global_cumsum(rev,
                              [F.desc("rev"), F.asc("l_partkey")],
                              "rev", cumsum_cols=["cum"])
           .crossJoin(F.broadcast(tot))
           .select("l_partkey", "rev", "tot",
                   F.when(5 * F.col("cum") <= 4 * F.col("tot"), "A")
                   .when(20 * F.col("cum") <= 19 * F.col("tot"), "B")
                   .otherwise("C").alias("abc_class")))
    return (abc.join(xyz, "l_partkey")
            .groupBy("abc_class", "xyz_class")
            .agg(F.count("*").alias("n_parts"),
                 F.round(F.sum("rev").cast("double")
                         / F.first("tot").cast("double"), 6)
                 .alias("rev_share"))
            .orderBy("abc_class", "xyz_class"))


_ABC_XYZ_SQL = """
WITH base AS (
  SELECT l_partkey, date_trunc('month', l_shipdate) AS m,
         CAST(l_quantity AS BIGINT) AS q,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT)
           * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))
           AS rev_e4
  FROM lineitem),
monthly AS (
  SELECT l_partkey, m, CAST(sum(q) AS BIGINT) AS mq
  FROM base GROUP BY 1, 2),
varr AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(mq) AS BIGINT) AS s,
         CAST(sum(mq * mq) AS BIGINT) AS qq
  FROM monthly GROUP BY 1),
xyz AS (
  SELECT l_partkey,
         CASE WHEN 4 * (n * qq - s * s) <= s * s THEN 'X'
              WHEN n * qq - s * s <= s * s THEN 'Y'
              ELSE 'Z' END AS xyz_class
  FROM varr),
rev AS (SELECT l_partkey, CAST(sum(rev_e4) AS HUGEINT) AS rev
        FROM base GROUP BY 1),
tot AS (SELECT CAST(sum(rev) AS HUGEINT) AS tot FROM rev),
abc AS (
  SELECT l_partkey, rev, tot,
         CASE WHEN 5 * sum(rev) OVER (ORDER BY rev DESC, l_partkey ASC
                   ROWS UNBOUNDED PRECEDING) <= 4 * tot THEN 'A'
              WHEN 20 * sum(rev) OVER (ORDER BY rev DESC, l_partkey ASC
                   ROWS UNBOUNDED PRECEDING) <= 19 * tot THEN 'B'
              ELSE 'C' END AS abc_class
  FROM rev CROSS JOIN tot)
SELECT a.abc_class, x.xyz_class,
       CAST(count(*) AS BIGINT) AS n_parts,
       round(CAST(sum(a.rev) AS DOUBLE) / CAST(max(a.tot) AS DOUBLE),
             6) AS rev_share
FROM abc a JOIN xyz x USING (l_partkey)
GROUP BY 1, 2
ORDER BY 1, 2
"""

QUERIES_TAIL["abc_xyz_parts"] = abc_xyz_parts
ORACLES_TAIL["abc_xyz_parts"] = _ABC_XYZ_SQL
