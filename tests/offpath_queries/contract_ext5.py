"""Round-3 contract entries, session A: the eleven TPC-H query shapes the
registry did not yet cover (q2/q3/q4/q6/q8/q9/q10/q11/q12/q14/q20
analogues) — closing out all 22 TPC-H shapes against the driver's adapted
star schema.

Schema adaptations (the driver tables have no partsupp, commit/receipt
dates, or ship modes):
- q2's partsupp supply-cost becomes the per-(part,supplier) average unit
  price observed on lineitem;
- q4's late-delivery EXISTS becomes an any-returned-line EXISTS;
- q11's stock value becomes shipped quantity x retail price;
- q12's ship modes become the two l_linestatus codes;
- q20's availqty threshold becomes a share-of-part-volume threshold.
Each docstring names the reference shape it preserves (decorrelated scalar
subquery, semi/anti join, conditional aggregation, nested aggregation).

Scale discipline, same as every TPC-H entry in contract_ext2.py: lineitem
is the only large relation and it NEVER shuffles at input size — every
dimension (part/supplier/customer/nation/region and every pre-aggregate
keyed by a dimension key) joins via explicit ``F.broadcast``; the only
exchanges carry group-by outputs (|parts|, |suppliers|, |orders|-keyed
aggregates). Float discipline: every float aggregate rounded to R=6 (2 for
money argmax equality) in BOTH engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .contract import R, _pq, _t

# ---------------------------------------------------------------------------
# q2ish: min-cost supplier per part within a region
# ---------------------------------------------------------------------------

_Q2_REGION = "EUROPE"
_Q2_SIZE = 20


def q_tpch_q2ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): per part of one size class,
    the EU supplier(s) offering the lowest observed unit price. partsupp is
    synthesized as the (part, supplier) average unit price over lineitem;
    the correlated MIN subquery decorrelates into a per-part pre-aggregate
    joined back on (partkey, cost) equality at 2 decimals. lineitem
    aggregates once, keyed by (part, supplier) — output-sized; every
    dimension side is broadcast."""
    li = _pq(spark, _t(sf_dir, "lineitem"))
    part = _pq(spark, _t(sf_dir, "part")).where(F.col("p_size") == _Q2_SIZE)
    sup = _pq(spark, _t(sf_dir, "supplier"))
    nation = _pq(spark, _t(sf_dir, "nation"))
    region = _pq(spark, _t(sf_dir, "region")).where(F.col("r_name") == _Q2_REGION)
    eu_sup = (
        sup.join(F.broadcast(nation), sup["s_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .select("s_suppkey", "s_name", "n_name")
    )
    cost = (
        li.join(F.broadcast(part.select("p_partkey")), li["l_partkey"] == F.col("p_partkey"))
        .join(F.broadcast(eu_sup), li["l_suppkey"] == eu_sup["s_suppkey"])
        .groupBy("p_partkey", "s_suppkey", "s_name", "n_name")
        .agg(F.round(F.avg(F.col("l_extendedprice") / F.col("l_quantity")), 2).alias("unit_cost"))
    )
    min_cost = cost.groupBy("p_partkey").agg(F.min("unit_cost").alias("min_cost"))
    return (
        cost.join(F.broadcast(min_cost), "p_partkey")
        .where(F.col("unit_cost") == F.col("min_cost"))
        .join(F.broadcast(part.select("p_partkey", "p_name")), "p_partkey")
        .select("p_partkey", "p_name", "s_suppkey", "s_name", "n_name", "unit_cost")
        .orderBy("p_partkey", "s_suppkey")
    )


SQL_TPCH_Q2ISH = f"""
WITH eu_sup AS (
  SELECT s_suppkey, s_name, n_name
  FROM supplier
  JOIN nation ON n_nationkey = s_nationkey
  JOIN region ON r_regionkey = n_regionkey AND r_name = '{_Q2_REGION}'),
cost AS (
  SELECT l_partkey AS p_partkey, s_suppkey, s_name, n_name,
         ROUND(avg(l_extendedprice / l_quantity), 2) AS unit_cost
  FROM lineitem
  JOIN part ON p_partkey = l_partkey AND p_size = {_Q2_SIZE}
  JOIN eu_sup ON s_suppkey = l_suppkey
  GROUP BY l_partkey, s_suppkey, s_name, n_name)
SELECT p_partkey, p_name, s_suppkey, s_name, n_name, unit_cost
FROM cost
JOIN part USING (p_partkey)
WHERE unit_cost = (SELECT min(unit_cost) FROM cost c2 WHERE c2.p_partkey = cost.p_partkey)
ORDER BY p_partkey, s_suppkey
"""


# ---------------------------------------------------------------------------
# q3ish: shipping-priority top-10 unshipped orders
# ---------------------------------------------------------------------------

_Q3_SEG = "BUILDING"
_Q3_DATE = "1998-06-01"


def q_tpch_q3ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): revenue of orders placed before
    the cutoff by one market segment, counting only lines still unshipped
    at the cutoff; top 10 by revenue. customer filters push into a
    broadcast semi-side of orders; the per-order rollup is the only
    shuffle; top-10 is TakeOrderedAndProject (no global sort
    materialization)."""
    li = _pq(spark, _t(sf_dir, "lineitem")).where(F.col("l_shipdate") > F.lit(_Q3_DATE))
    orders = _pq(spark, _t(sf_dir, "orders")).where(F.col("o_orderdate") < F.lit(_Q3_DATE))
    cust = _pq(spark, _t(sf_dir, "customer")).where(F.col("c_mktsegment") == _Q3_SEG)
    o = orders.join(
        F.broadcast(cust.select("c_custkey")), orders["o_custkey"] == F.col("c_custkey")
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    return (
        li.join(F.broadcast(o), li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


SQL_TPCH_Q3ISH = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       ROUND(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey AND o_orderdate < TIMESTAMP '{_Q3_DATE}'
JOIN customer ON c_custkey = o_custkey AND c_mktsegment = '{_Q3_SEG}'
WHERE l_shipdate > TIMESTAMP '{_Q3_DATE}'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey LIMIT 10
"""


# ---------------------------------------------------------------------------
# q4ish: order-priority checking (EXISTS semi join)
# ---------------------------------------------------------------------------

_Q4_LO, _Q4_HI = "1997-07-01", "1997-10-01"


def q_tpch_q4ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order priority checking): orders placed in one
    quarter with at least one returned line, counted per priority. The
    EXISTS becomes a LEFT SEMI join from the date-pruned orders slice to
    the returned-lines projection of lineitem — only order keys travel;
    the count shuffle is |priorities|-sized."""
    orders = _pq(spark, _t(sf_dir, "orders")).where(
        (F.col("o_orderdate") >= F.lit(_Q4_LO)) & (F.col("o_orderdate") < F.lit(_Q4_HI))
    )
    returned = (
        _pq(spark, _t(sf_dir, "lineitem"))
        .where(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        orders.join(returned, orders["o_orderkey"] == returned["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


SQL_TPCH_Q4ISH = f"""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '{_Q4_LO}' AND o_orderdate < TIMESTAMP '{_Q4_HI}'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# q6ish: forecast revenue change (pure scan-side filter + single agg)
# ---------------------------------------------------------------------------

_Q6_LO, _Q6_HI = "1997-01-01", "1998-01-01"


def q_tpch_q6ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecast revenue change): one filtered scan, one
    global sum — every predicate (date range, discount band, quantity cap)
    is scan-pushable, so at 100 TB this is a parquet-statistics-pruned
    single-pass aggregate with a 1-row exchange."""
    li = _pq(spark, _t(sf_dir, "lineitem"))
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit(_Q6_LO))
            & (F.col("l_shipdate") < F.lit(_Q6_HI))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), R).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


SQL_TPCH_Q6ISH = f"""
SELECT ROUND(sum(l_extendedprice * l_discount), {R}) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{_Q6_LO}' AND l_shipdate < TIMESTAMP '{_Q6_HI}'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


# ---------------------------------------------------------------------------
# q8ish: national market share by year
# ---------------------------------------------------------------------------

_Q8_NATION = "NATION_5"
_Q8_REGION = "AMERICA"
_Q8_TYPE = "PROMO"


def q_tpch_q8ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): of the PROMO-part revenue
    sold to AMERICA-region customers, the share supplied by one nation,
    per order year. The CASE-inside-sum ratio is conditional aggregation —
    one pass, |years|-sized output; part/supplier-nation/customer-region
    sides all broadcast."""
    li = _pq(spark, _t(sf_dir, "lineitem"))
    part = _pq(spark, _t(sf_dir, "part")).where(F.col("p_type") == _Q8_TYPE)
    sup = _pq(spark, _t(sf_dir, "supplier"))
    nation = _pq(spark, _t(sf_dir, "nation"))
    region = _pq(spark, _t(sf_dir, "region")).where(F.col("r_name") == _Q8_REGION)
    orders = _pq(spark, _t(sf_dir, "orders"))
    cust = _pq(spark, _t(sf_dir, "customer"))
    am_cust = (
        cust.join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .select("c_custkey")
    )
    sup_nat = sup.join(
        F.broadcast(nation), sup["s_nationkey"] == nation["n_nationkey"]
    ).select("s_suppkey", "n_name")
    am_orders = orders.join(
        F.broadcast(am_cust), orders["o_custkey"] == am_cust["c_custkey"]
    ).select("o_orderkey", F.year("o_orderdate").alias("o_year"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part.select("p_partkey")), li["l_partkey"] == F.col("p_partkey"))
        .join(F.broadcast(sup_nat), li["l_suppkey"] == sup_nat["s_suppkey"])
        .join(F.broadcast(am_orders), li["l_orderkey"] == am_orders["o_orderkey"])
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("n_name") == _Q8_NATION, rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                R,
            ).alias("mkt_share"),
            F.round(F.sum(rev), 2).alias("total_rev"),
        )
        .orderBy("o_year")
    )


SQL_TPCH_Q8ISH = f"""
SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
       ROUND(sum(CASE WHEN n2.n_name = '{_Q8_NATION}'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), {R}) AS mkt_share,
       ROUND(sum(l_extendedprice * (1 - l_discount)), 2) AS total_rev
FROM lineitem
JOIN part ON p_partkey = l_partkey AND p_type = '{_Q8_TYPE}'
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation n2 ON n2.n_nationkey = s_nationkey
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON n1.n_nationkey = c_nationkey
JOIN region ON r_regionkey = n1.n_regionkey AND r_name = '{_Q8_REGION}'
GROUP BY year(o_orderdate)
ORDER BY o_year
"""


# ---------------------------------------------------------------------------
# q9ish: product-type profit by nation and year
# ---------------------------------------------------------------------------

_Q9_PAT = "gear"


def q_tpch_q9ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): profit on parts whose name
    contains a token, grouped by supplier nation x order year. Supply cost
    (partsupp) is adapted to retail price x quantity. One wide fact pass,
    |nations x years| output shuffle; all dimension joins broadcast."""
    li = _pq(spark, _t(sf_dir, "lineitem"))
    part = _pq(spark, _t(sf_dir, "part")).where(F.col("p_name").contains(_Q9_PAT))
    sup = _pq(spark, _t(sf_dir, "supplier"))
    nation = _pq(spark, _t(sf_dir, "nation"))
    orders = _pq(spark, _t(sf_dir, "orders")).select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )
    sup_nat = sup.join(
        F.broadcast(nation), sup["s_nationkey"] == nation["n_nationkey"]
    ).select("s_suppkey", "n_name")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    # micro-unit DECIMAL(38,0) sum: raw double profit sums at sf0.1
    # magnitude (~1e7 per group) drift a ULP between engines across the
    # ROUND(2) boundary (r9 sf0.1 strict sweep)
    return (
        li.join(
            F.broadcast(part.select("p_partkey", "p_retailprice")),
            li["l_partkey"] == F.col("p_partkey"),
        )
        .join(F.broadcast(sup_nat), li["l_suppkey"] == sup_nat["s_suppkey"])
        .join(F.broadcast(orders), li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("n_name", "o_year")
        .agg(
            F.round(
                # long interposition: compact-decimal fast path (see
                # contract.q_tpch_q1 msum note, r11)
                F.sum(
                    F.round(profit * 1e6).cast("long").cast("decimal(38,0)")
                ).cast(
                    "double"
                )
                / 1e6,
                2,
            ).alias("sum_profit")
        )
        .orderBy("n_name", F.col("o_year").desc())
    )


SQL_TPCH_Q9ISH = f"""
SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
       ROUND(CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)
                                  - p_retailprice * l_quantity) * 1e6)
                          AS HUGEINT)) AS DOUBLE) / 1e6, 2)
         AS sum_profit
FROM lineitem
JOIN part ON p_partkey = l_partkey AND p_name LIKE '%{_Q9_PAT}%'
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
JOIN orders ON o_orderkey = l_orderkey
GROUP BY n_name, year(o_orderdate)
ORDER BY n_name, o_year DESC
"""


# ---------------------------------------------------------------------------
# q10ish: returned-item reporting (top 20 customers by lost revenue)
# ---------------------------------------------------------------------------

_Q10_LO, _Q10_HI = "1997-10-01", "1998-01-01"


def q_tpch_q10ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned items): revenue lost to returns per
    customer for one order quarter, top 20. The date-pruned orders slice
    broadcasts into the returned-lines scan; the rollup shuffle is keyed
    by customer (output-sized); top-20 is TakeOrderedAndProject."""
    li = _pq(spark, _t(sf_dir, "lineitem")).where(F.col("l_returnflag") == "R")
    orders = _pq(spark, _t(sf_dir, "orders")).where(
        (F.col("o_orderdate") >= F.lit(_Q10_LO)) & (F.col("o_orderdate") < F.lit(_Q10_HI))
    )
    cust = _pq(spark, _t(sf_dir, "customer"))
    nation = _pq(spark, _t(sf_dir, "nation"))
    cust_nat = cust.join(
        F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"]
    ).select("c_custkey", "c_name", "c_acctbal", "n_name")
    return (
        li.join(
            F.broadcast(orders.select("o_orderkey", "o_custkey")),
            li["l_orderkey"] == F.col("o_orderkey"),
        )
        .groupBy("o_custkey")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .join(F.broadcast(cust_nat), F.col("o_custkey") == cust_nat["c_custkey"])
        .select("c_custkey", "c_name", "n_name", F.round("c_acctbal", 2).alias("c_acctbal"), "revenue")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


SQL_TPCH_Q10ISH = f"""
SELECT c_custkey, c_name, n_name, ROUND(c_acctbal, 2) AS c_acctbal,
       ROUND(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
  AND o_orderdate >= TIMESTAMP '{_Q10_LO}' AND o_orderdate < TIMESTAMP '{_Q10_HI}'
JOIN customer ON c_custkey = o_custkey
JOIN nation ON n_nationkey = c_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name, c_acctbal
ORDER BY revenue DESC, c_custkey LIMIT 20
"""


# ---------------------------------------------------------------------------
# q11ish: important stock identification (scalar-threshold filter)
# ---------------------------------------------------------------------------

_Q11_NATION = "NATION_7"
_Q11_FRAC = 0.002


def q_tpch_q11ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): per-part shipped value from one
    nation's suppliers, keeping parts above a fraction of the nation
    total. partsupp value adapts to quantity x retail price. The HAVING
    threshold is a 1-row broadcast of the same aggregate — the fact scan
    runs once into a |parts|-keyed rollup, reused for both the per-part
    values and the total (self-agg on the small rollup, not a second
    scan)."""
    li = _pq(spark, _t(sf_dir, "lineitem"))
    part = _pq(spark, _t(sf_dir, "part"))
    sup = _pq(spark, _t(sf_dir, "supplier"))
    nation = _pq(spark, _t(sf_dir, "nation")).where(F.col("n_name") == _Q11_NATION)
    nat_sup = sup.join(
        F.broadcast(nation), sup["s_nationkey"] == nation["n_nationkey"]
    ).select("s_suppkey")
    per_part = (
        li.join(F.broadcast(nat_sup), li["l_suppkey"] == nat_sup["s_suppkey"])
        .join(
            F.broadcast(part.select("p_partkey", "p_retailprice")),
            li["l_partkey"] == F.col("p_partkey"),
        )
        .groupBy("p_partkey")
        .agg(F.sum(F.col("l_quantity") * F.col("p_retailprice")).alias("value_raw"))
    )
    total = per_part.agg(F.sum("value_raw").alias("total_raw"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(F.col("value_raw") > _Q11_FRAC * F.col("total_raw"))
        .select("p_partkey", F.round("value_raw", 2).alias("stock_value"))
        .orderBy(F.col("stock_value").desc(), "p_partkey")
    )


SQL_TPCH_Q11ISH = f"""
WITH per_part AS (
  SELECT l_partkey AS p_partkey, sum(l_quantity * p_retailprice) AS value_raw
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey AND n_name = '{_Q11_NATION}'
  JOIN part ON p_partkey = l_partkey
  GROUP BY l_partkey)
SELECT p_partkey, ROUND(value_raw, 2) AS stock_value
FROM per_part
WHERE value_raw > {_Q11_FRAC} * (SELECT sum(value_raw) FROM per_part)
ORDER BY stock_value DESC, p_partkey
"""


# ---------------------------------------------------------------------------
# q12ish: shipping-class priority counts (conditional aggregation)
# ---------------------------------------------------------------------------

_Q12_LO, _Q12_HI = "1998-01-01", "1999-01-01"


def q_tpch_q12ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipmode priority): for lines shipped in one year,
    per line-status class (shipmode stand-in), how many belong to
    high-priority vs low-priority orders. The join carries only
    (orderkey, priority); the conditional counts are map-side partials
    into a 2-row exchange."""
    li = _pq(spark, _t(sf_dir, "lineitem")).where(
        (F.col("l_shipdate") >= F.lit(_Q12_LO)) & (F.col("l_shipdate") < F.lit(_Q12_HI))
    )
    orders = _pq(spark, _t(sf_dir, "orders")).select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(F.broadcast(orders), li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


SQL_TPCH_Q12ISH = f"""
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
            AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
            AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '{_Q12_LO}' AND l_shipdate < TIMESTAMP '{_Q12_HI}'
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


# ---------------------------------------------------------------------------
# q14ish: promotion revenue share for one month
# ---------------------------------------------------------------------------

_Q14_LO, _Q14_HI = "1998-03-01", "1998-04-01"


def q_tpch_q14ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): percentage of one month's
    revenue coming from PROMO-type parts. Date-pruned scan, broadcast part
    side, CASE-ratio in a single global aggregate (1-row exchange)."""
    li = _pq(spark, _t(sf_dir, "lineitem")).where(
        (F.col("l_shipdate") >= F.lit(_Q14_LO)) & (F.col("l_shipdate") < F.lit(_Q14_HI))
    )
    part = _pq(spark, _t(sf_dir, "part")).select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"]).agg(
        F.round(
            100.0 * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))) / F.sum(rev),
            R,
        ).alias("promo_pct"),
        F.round(F.sum(rev), 2).alias("total_rev"),
    )


SQL_TPCH_Q14ISH = f"""
SELECT ROUND(100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), {R}) AS promo_pct,
       ROUND(sum(l_extendedprice * (1 - l_discount)), 2) AS total_rev
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= TIMESTAMP '{_Q14_LO}' AND l_shipdate < TIMESTAMP '{_Q14_HI}'
"""


# ---------------------------------------------------------------------------
# q20ish: potential part promotion (nested aggregation + semi join)
# ---------------------------------------------------------------------------

_Q20_NATION = "NATION_3"
_Q20_PAT = "red"
_Q20_YEAR_LO, _Q20_YEAR_HI = "1997-01-01", "1998-01-01"
_Q20_SHARE = 0.5


def q_tpch_q20ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): suppliers in one nation
    who, for some 'red' part, shipped more than half of that part's 1997
    volume (availqty-threshold stand-in). Two nested aggregates over the
    same pruned scan — per (part, supplier) and per part — then a
    broadcast-joined share filter and a semi join up to suppliers. The
    fact scan runs once; every exchange is keyed by part or supplier."""
    li = _pq(spark, _t(sf_dir, "lineitem")).where(
        (F.col("l_shipdate") >= F.lit(_Q20_YEAR_LO))
        & (F.col("l_shipdate") < F.lit(_Q20_YEAR_HI))
    )
    part = _pq(spark, _t(sf_dir, "part")).where(F.col("p_name").contains(_Q20_PAT))
    sup = _pq(spark, _t(sf_dir, "supplier"))
    nation = _pq(spark, _t(sf_dir, "nation")).where(F.col("n_name") == _Q20_NATION)
    red_lines = li.join(
        F.broadcast(part.select("p_partkey")), li["l_partkey"] == F.col("p_partkey")
    )
    per_ps = red_lines.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("supp_qty")
    )
    per_p = per_ps.groupBy("l_partkey").agg(F.sum("supp_qty").alias("part_qty"))
    dominant = (
        per_ps.join(F.broadcast(per_p), "l_partkey")
        .where(F.col("supp_qty") > _Q20_SHARE * F.col("part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    nat_sup = sup.join(
        F.broadcast(nation), sup["s_nationkey"] == nation["n_nationkey"]
    ).select("s_suppkey", "s_name")
    return (
        nat_sup.join(dominant, nat_sup["s_suppkey"] == dominant["l_suppkey"], "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


SQL_TPCH_Q20ISH = f"""
WITH red_lines AS (
  SELECT l_partkey, l_suppkey, l_quantity
  FROM lineitem
  JOIN part ON p_partkey = l_partkey AND p_name LIKE '%{_Q20_PAT}%'
  WHERE l_shipdate >= TIMESTAMP '{_Q20_YEAR_LO}' AND l_shipdate < TIMESTAMP '{_Q20_YEAR_HI}'),
per_ps AS (
  SELECT l_partkey, l_suppkey, sum(l_quantity) AS supp_qty
  FROM red_lines GROUP BY l_partkey, l_suppkey),
per_p AS (
  SELECT l_partkey, sum(supp_qty) AS part_qty FROM per_ps GROUP BY l_partkey),
dominant AS (
  SELECT DISTINCT l_suppkey
  FROM per_ps JOIN per_p USING (l_partkey)
  WHERE supp_qty > {_Q20_SHARE} * part_qty)
SELECT s_suppkey, s_name
FROM supplier
JOIN nation ON n_nationkey = s_nationkey AND n_name = '{_Q20_NATION}'
WHERE EXISTS (SELECT 1 FROM dominant WHERE l_suppkey = s_suppkey)
ORDER BY s_suppkey
"""


# ---------------------------------------------------------------------------
# max_dup_spans: suffix-array-style maximal duplicated substrings
# ---------------------------------------------------------------------------

_DUP_K = 8


def q_max_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-granularity dedup (Lee et al.): maximal duplicated token
    ranges at ANY offset, vs span_dedup's fixed-aligned chunks. See
    operators/dedup.py:max_dup_spans for the narrow-shuffle scale shape."""
    from gridmet_etl_spark.operators.dedup import max_dup_spans

    docs = _pq(spark, _t(sf_dir, "documents"))
    return max_dup_spans(docs, min_tokens=_DUP_K)


SQL_MAX_DUP_SPANS = f"""
WITH norm AS (
  SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
  FROM documents),
toks AS (SELECT doc_id, string_split(t, ' ') AS a FROM norm),
grams AS (
  SELECT doc_id, g.pos,
         md5(array_to_string(a[g.pos + 1 : g.pos + {_DUP_K}], ' ')) AS h
  FROM toks, unnest(generate_series(0, len(a) - {_DUP_K})) AS g(pos)),
dup AS (SELECT h FROM grams GROUP BY h HAVING count(*) >= 2),
marked AS (SELECT doc_id, pos FROM grams WHERE h IN (SELECT h FROM dup)),
brk AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER w > {_DUP_K} THEN 1 ELSE 0 END AS b
  FROM marked WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
isl AS (
  SELECT doc_id, pos,
         sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM brk)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + {_DUP_K} - 1 AS BIGINT) AS span_end,
       CAST(max(pos) + {_DUP_K} - min(pos) AS BIGINT) AS span_len
FROM isl GROUP BY doc_id, island
"""


# ---------------------------------------------------------------------------
# calibration_eval: reliability bins + Brier for a probabilistic classifier
# ---------------------------------------------------------------------------


def q_calibration_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins for a deterministic pseudo-probability
    (logistic in n_chars) against the binary is-English label: per-bin
    observed-vs-predicted gap + bin-local Brier. One corpus scan, one
    |bins|-row exchange."""
    from gridmet_etl_spark.operators.scoring import calibration_bins

    docs = _pq(spark, _t(sf_dir, "documents"))
    prob = F.round(
        1.0 / (1.0 + F.exp(-(F.col("n_chars").cast("double") - 300.0) / 100.0)), 6
    )
    scored = docs.select(
        prob.alias("score"), (F.col("lang") == "en").cast("int").alias("label")
    )
    return calibration_bins(scored, "score", "label", n_bins=10)


SQL_CALIBRATION_EVAL = """
WITH scored AS (
  SELECT ROUND(1.0 / (1.0 + exp(-(CAST(n_chars AS DOUBLE) - 300.0) / 100.0)), 6) AS s,
         CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
  FROM documents)
SELECT CAST(least(floor(s * 10), 9) AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n,
       ROUND(avg(s), 6) AS mean_score,
       ROUND(avg(y), 6) AS frac_pos,
       ROUND(abs(avg(s) - avg(y)), 6) AS abs_gap,
       ROUND(avg((s - y) * (s - y)), 6) AS brier
FROM scored
GROUP BY least(floor(s * 10), 9)
"""


# ---------------------------------------------------------------------------
# incremental_refresh: algebraic-state merge vs full recompute
# ---------------------------------------------------------------------------

_INC_CUT = "1999-01-01"


def q_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view refresh without re-scanning history: per-customer
    (count, sum, min, max) state over pre-cutoff orders merged with the
    post-cutoff delta's state. The oracle is the FULL recompute over all
    orders — green means the algebraic merge is exact, so a daily refresh
    at 100 TB touches only the delta plus the state table."""
    from gridmet_etl_spark.operators.incremental import refresh, with_read_time_cols

    orders = _pq(spark, _t(sf_dir, "orders"))
    hist = orders.where(F.col("o_orderdate") < F.lit(_INC_CUT))
    delta = orders.where(F.col("o_orderdate") >= F.lit(_INC_CUT))
    merged = refresh(hist, delta, ["o_custkey"], "o_totalprice")
    # compare the EXACT algebraic state; the derived quotient vavg =
    # total/cnt lands on round-half boundaries (e.g. sum/6 = x.425) where
    # Spark's HALF_UP and DuckDB's binary-value rounding legitimately
    # disagree — the classifier_score lesson: hash numerators, not
    # quotients. with_read_time_cols stays the read-time API.
    return merged.select(
        "o_custkey",
        "cnt",
        F.round("total", 2).alias("total"),
        F.round("vmin", 2).alias("vmin"),
        F.round("vmax", 2).alias("vmax"),
    )


SQL_INCREMENTAL_REFRESH = """
SELECT o_custkey,
       CAST(count(o_totalprice) AS BIGINT) AS cnt,
       ROUND(sum(o_totalprice), 2) AS total,
       ROUND(min(o_totalprice), 2) AS vmin,
       ROUND(max(o_totalprice), 2) AS vmax
FROM orders
GROUP BY o_custkey
"""


# ---------------------------------------------------------------------------
# quantile_normalize: cross-source distribution alignment
# ---------------------------------------------------------------------------


def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-normalize doc length across sources: every source's
    n_chars distribution is mapped onto the GLOBAL one (lower-quantile,
    floor-indexed — no round-half boundary). The global ordering runs
    through scale.global_rank (range-partition two-level prefix sums), so
    there is no single-partition sort at any corpus size."""
    from gridmet_etl_spark.operators.mlprep import quantile_normalize

    docs = _pq(spark, _t(sf_dir, "documents")).select("doc_id", "source", "n_chars")
    return quantile_normalize(docs, "source", "n_chars", "doc_id")


SQL_QUANTILE_NORMALIZE = """
WITH base AS (SELECT doc_id, source, n_chars FROM documents),
pos AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS pos,
         count(*) OVER (PARTITION BY source) AS n
  FROM base),
keyed AS (
  SELECT doc_id, source, n_chars,
         1 + CAST(floor(
               (CASE WHEN n > 1
                     THEN CAST(pos - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE)
                     ELSE 0.5 END)
               * CAST((SELECT count(*) - 1 FROM base) AS DOUBLE)
             ) AS BIGINT) AS idx
  FROM pos),
ref AS (
  SELECT row_number() OVER (ORDER BY n_chars, doc_id) AS idx, n_chars AS qnorm
  FROM base)
SELECT k.doc_id, k.source, k.n_chars, r.qnorm
FROM keyed k JOIN ref r USING (idx)
"""


# ---------------------------------------------------------------------------
# cusum_changepoints: regime-shift detection on daily event series
# ---------------------------------------------------------------------------

_CUSUM_H = 1.8  # fixture series are stationary noise; 1.8sigma surfaces their excursions
_CUSUM_K = 0.5


def q_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change points on each event type's daily-count series. The
    max(0,·) recursion is rewritten as cumsum-minus-running-min (exact
    reflection identity), so the operator is two stacked window passes
    per side — no recursion, no UDF (operators/timeseries.py)."""
    from gridmet_etl_spark.operators.timeseries import cusum_changepoints
    from gridmet_etl_spark.sources.readers import read_events

    e = read_events(spark, _t(sf_dir, "events"))
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count("*").cast("double").alias("n")
    )
    return cusum_changepoints(
        daily, ["event_type"], "day", "n",
        threshold_sigmas=_CUSUM_H, drift_sigmas=_CUSUM_K,
    )


SQL_CUSUM_CHANGEPOINTS = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS n
  FROM events GROUP BY event_type, CAST(ts AS DATE)),
stats AS (
  SELECT event_type, avg(n) AS mu, stddev_pop(n) AS sd
  FROM daily GROUP BY event_type),
z AS (
  SELECT d.event_type, d.day, d.n, (d.n - s.mu) / s.sd AS z
  FROM daily d JOIN stats s USING (event_type) WHERE s.sd > 0),
c AS (
  SELECT event_type, day, n, z,
         sum(z - {_CUSUM_K}) OVER w AS uc,
         sum(z + {_CUSUM_K}) OVER w AS lc
  FROM z WINDOW w AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
s AS (
  SELECT event_type, day, n, z,
         uc - min(least(uc, 0.0)) OVER w AS cusum_pos,
         lc - max(greatest(lc, 0.0)) OVER w AS cusum_neg
  FROM c WINDOW w AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT event_type, day, n, ROUND(z, 6) AS z,
       ROUND(cusum_pos, 6) AS cusum_pos, ROUND(cusum_neg, 6) AS cusum_neg,
       CASE WHEN cusum_pos > {_CUSUM_H} THEN 'up' ELSE 'down' END AS direction
FROM s WHERE cusum_pos > {_CUSUM_H} OR cusum_neg < -{_CUSUM_H}
"""


# ---------------------------------------------------------------------------
# rolling_median: exact 7-point rolling quantile per daily series
# ---------------------------------------------------------------------------


def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 7-day rolling median of each event type's daily counts
    (operators/timeseries.py:rolling_quantile — one window pass, exact
    percentile over the bounded frame)."""
    from gridmet_etl_spark.operators.timeseries import rolling_quantile
    from gridmet_etl_spark.sources.readers import read_events

    e = read_events(spark, _t(sf_dir, "events"))
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count("*").cast("double").alias("n")
    )
    out = rolling_quantile(daily, ["event_type"], "day", "n", q=0.5, frame_rows=7)
    return out.select("event_type", "day", "n", F.round("roll_q", R).alias("roll_med"))


SQL_ROLLING_MEDIAN = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS n
  FROM events GROUP BY event_type, CAST(ts AS DATE))
SELECT event_type, day, n,
       ROUND(quantile_cont(n, 0.5) OVER (PARTITION BY event_type ORDER BY day
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), {R}) AS roll_med
FROM daily
"""


# ---------------------------------------------------------------------------
# kcore_nodes: k-core of the part co-purchase graph
# ---------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_ROUNDS = 8


def q_kcore_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the part co-purchase graph (parts sharing an order are
    adjacent): synchronous peel, fixed rounds (operators/graph.py:kcore;
    convergence at this depth is pytest-pinned). The co-occurrence self
    join is order-keyed; every peel round is one edge-keyed aggregate +
    two semi joins over a monotonically shrinking edge list."""
    from gridmet_etl_spark.operators.graph import kcore

    li = _pq(spark, _t(sf_dir, "lineitem")).select("l_orderkey", "l_partkey").distinct()
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("dst"))
    edges = (
        a.join(b, "ok")
        .where(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    return kcore(edges, k=_KCORE_K, rounds=_KCORE_ROUNDS)


def _sql_kcore() -> str:
    k, rounds = _KCORE_K, _KCORE_ROUNDS
    # MATERIALIZED: each round references its predecessor multiple times;
    # inlined CTEs would expand the chain exponentially (observed as a
    # too-many-open-files blowup on the 8-round unroll)
    ctes = [
        """e0 AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)"""
    ]
    for r in range(rounds):
        ctes.append(
            f"""d{r} AS MATERIALIZED (
  SELECT node, count(*) AS deg FROM (
    SELECT a AS node FROM e{r} UNION ALL SELECT b FROM e{r}) GROUP BY node),
alive{r} AS MATERIALIZED (SELECT node FROM d{r} WHERE deg >= {k}),
e{r + 1} AS MATERIALIZED (
  SELECT e.a, e.b FROM e{r} e
  WHERE e.a IN (SELECT node FROM alive{r})
    AND e.b IN (SELECT node FROM alive{r}))"""
        )
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
  SELECT a AS node FROM e{rounds} UNION ALL SELECT b FROM e{rounds})
GROUP BY node
"""
    )


SQL_KCORE_NODES = _sql_kcore()


# ---------------------------------------------------------------------------
# dedup_report: per-source duplication observability
# ---------------------------------------------------------------------------


def q_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dedup observability: doc counts, exact-content uniques
    (md5 of normalized text), and the duplication rate — the rollup every
    corpus-curation run reports before/after dedup. One scan; the shuffle
    carries (source, digest) rows."""
    docs = _pq(spark, _t(sf_dir, "documents"))
    norm = F.md5(F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))))
    return (
        docs.select("source", norm.alias("h"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("h").alias("n_unique"),
            F.round(1.0 - F.countDistinct("h") / F.count("*"), R).alias("dup_rate"),
        )
    )


SQL_DEDUP_REPORT = f"""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT h) AS BIGINT) AS n_unique,
       ROUND(1.0 - count(DISTINCT h) / CAST(count(*) AS DOUBLE), {R}) AS dup_rate
FROM (SELECT source,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS h
      FROM documents)
GROUP BY source
"""


# ---------------------------------------------------------------------------
# rfm_segments: recency / frequency / monetary quintile scoring
# ---------------------------------------------------------------------------


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per customer, days since last order
    (vs the dataset's max date), order count, and total spend — each
    scored into quintiles (ntile over the |customers|-sized rollup; the
    global sort the ntile needs runs on the BOUNDED per-customer
    relation, never the fact table). Output: one row per customer with
    the three scores and the combined segment code."""
    orders = _pq(spark, _t(sf_dir, "orders"))
    mx = orders.agg(F.max("o_orderdate").alias("_mx"))
    per_cust = (
        orders.crossJoin(F.broadcast(mx))
        .groupBy("o_custkey")
        .agg(
            F.min(F.datediff(F.col("_mx"), F.col("o_orderdate"))).alias("recency_days"),
            F.count("*").alias("frequency"),
            F.round(F.sum("o_totalprice"), 2).alias("monetary"),
        )
    )
    r = F.ntile(5).over(Window.orderBy(F.col("recency_days").asc(), F.col("o_custkey")))
    f = F.ntile(5).over(Window.orderBy(F.col("frequency").desc(), F.col("o_custkey")))
    m = F.ntile(5).over(Window.orderBy(F.col("monetary").desc(), F.col("o_custkey")))
    scored = per_cust.select(
        "o_custkey", "recency_days", "frequency", "monetary",
        r.alias("r_score"), f.alias("f_score"), m.alias("m_score"),
    )
    return scored.withColumn(
        "segment",
        F.concat(F.col("r_score"), F.col("f_score"), F.col("m_score")).cast("string"),
    )


SQL_RFM_SEGMENTS = """
WITH per_cust AS (
  SELECT o_custkey,
         CAST(min(date_diff('day', CAST(o_orderdate AS DATE),
                            (SELECT CAST(max(o_orderdate) AS DATE) FROM orders)))
              AS INTEGER) AS recency_days,
         CAST(count(*) AS BIGINT) AS frequency,
         ROUND(sum(o_totalprice), 2) AS monetary
  FROM orders GROUP BY o_custkey)
SELECT o_custkey, recency_days, frequency, monetary,
       CAST(ntile(5) OVER (ORDER BY recency_days ASC, o_custkey) AS INTEGER) AS r_score,
       CAST(ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS INTEGER) AS f_score,
       CAST(ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS INTEGER) AS m_score,
       CAST(ntile(5) OVER (ORDER BY recency_days ASC, o_custkey) AS VARCHAR)
         || CAST(ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS VARCHAR)
         || CAST(ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS VARCHAR) AS segment
FROM per_cust
"""


# ---------------------------------------------------------------------------
# basket_lift: market-basket association (support / confidence / lift)
# ---------------------------------------------------------------------------

_LIFT_MIN_SUPPORT = 3
_LIFT_TOPK = 20


def q_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity over order baskets: for part pairs
    co-purchased in ≥ min_support orders, lift = N·n_ab/(n_a·n_b). The
    pair generation is the order-keyed self join (the kcore edge
    relation); singles broadcast into the pair rollup; top-k by lift is
    TakeOrderedAndProject."""
    li = _pq(spark, _t(sf_dir, "lineitem")).select("l_orderkey", "l_partkey").distinct()
    n_orders = li.select("l_orderkey").distinct().count()
    singles = li.groupBy("l_partkey").agg(F.count("*").alias("n_single"))
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(b, "ok")
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("n_pair"))
        .where(F.col("n_pair") >= _LIFT_MIN_SUPPORT)
    )
    sa = singles.select(F.col("l_partkey").alias("pa"), F.col("n_single").alias("n_a"))
    sb = singles.select(F.col("l_partkey").alias("pb"), F.col("n_single").alias("n_b"))
    return (
        pairs.join(F.broadcast(sa), "pa")
        .join(F.broadcast(sb), "pb")
        .select(
            "pa",
            "pb",
            "n_pair",
            F.round(
                F.lit(float(n_orders)) * F.col("n_pair") / (F.col("n_a") * F.col("n_b")), R
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "pa", "pb")
        .limit(_LIFT_TOPK)
    )


SQL_BASKET_LIFT = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
singles AS (SELECT l_partkey, count(*) AS n_single FROM li GROUP BY l_partkey),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS n_pair
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING count(*) >= {_LIFT_MIN_SUPPORT})
SELECT pa, pb, CAST(n_pair AS BIGINT) AS n_pair,
       ROUND(CAST((SELECT count(DISTINCT l_orderkey) FROM li) AS DOUBLE)
             * n_pair / (sa.n_single * sb.n_single), {R}) AS lift
FROM pairs
JOIN singles sa ON sa.l_partkey = pa
JOIN singles sb ON sb.l_partkey = pb
ORDER BY lift DESC, pa, pb LIMIT {_LIFT_TOPK}
"""


EXT5_QUERIES = {
    "tpch_q2ish": (q_tpch_q2ish, SQL_TPCH_Q2ISH),
    "tpch_q3ish": (q_tpch_q3ish, SQL_TPCH_Q3ISH),
    "tpch_q4ish": (q_tpch_q4ish, SQL_TPCH_Q4ISH),
    "tpch_q6ish": (q_tpch_q6ish, SQL_TPCH_Q6ISH),
    "tpch_q8ish": (q_tpch_q8ish, SQL_TPCH_Q8ISH),
    "tpch_q9ish": (q_tpch_q9ish, SQL_TPCH_Q9ISH),
    "tpch_q10ish": (q_tpch_q10ish, SQL_TPCH_Q10ISH),
    "tpch_q11ish": (q_tpch_q11ish, SQL_TPCH_Q11ISH),
    "tpch_q12ish": (q_tpch_q12ish, SQL_TPCH_Q12ISH),
    "tpch_q14ish": (q_tpch_q14ish, SQL_TPCH_Q14ISH),
    "tpch_q20ish": (q_tpch_q20ish, SQL_TPCH_Q20ISH),
    "max_dup_spans": (q_max_dup_spans, SQL_MAX_DUP_SPANS),
    "calibration_eval": (q_calibration_eval, SQL_CALIBRATION_EVAL),
    "incremental_refresh": (q_incremental_refresh, SQL_INCREMENTAL_REFRESH),
    "quantile_normalize": (q_quantile_normalize, SQL_QUANTILE_NORMALIZE),
    "cusum_changepoints": (q_cusum_changepoints, SQL_CUSUM_CHANGEPOINTS),
    "rolling_median": (q_rolling_median, SQL_ROLLING_MEDIAN),
    "kcore_nodes": (q_kcore_nodes, SQL_KCORE_NODES),
    "dedup_report": (q_dedup_report, SQL_DEDUP_REPORT),
    "rfm_segments": (q_rfm_segments, SQL_RFM_SEGMENTS),
    "basket_lift": (q_basket_lift, SQL_BASKET_LIFT),
}
