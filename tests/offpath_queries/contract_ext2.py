"""Round-3 session-B contract entries: warehouse depth (TPC-H q15/q17/q21/
q22 analogues, SCD2, referential integrity, skew profiling), ML-prep
(target encoding, correlation matrix), and time-series depth (ACF, EWMA,
k-hop graph reach).

Same float discipline as contract.py: every float aggregate rounded to 6 in
BOTH engines; timestamps cast to µs on the oracle side (events.ts is
TIMESTAMP_NS in DuckDB, Spark reads µs — the sessionize_batch lesson).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .contract import FIXDIR, R, _pq, _t

# ---------------------------------------------------------------------------
# TPC-H q15ish: top-revenue supplier(s) over a ship-date quarter
# ---------------------------------------------------------------------------

_Q15_LO, _Q15_HI = "1996-01-01", "1996-04-01"


def q_tpch_q15ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top_supplier): revenue view per supplier over one
    quarter, then the supplier(s) achieving the global max. The max is a
    1-row broadcast (scalar-subquery decorrelation by hand); revenue
    equality is compared at 2 decimals so cross-engine float-sum order
    cannot flip the argmax."""
    li = _pq(spark, _t(sf_dir, "lineitem"))
    sup = _pq(spark, _t(sf_dir, "supplier"))
    rev = (
        li.where(
            (F.col("l_shipdate") >= F.lit(_Q15_LO))
            & (F.col("l_shipdate") < F.lit(_Q15_HI))
        )
        .groupBy("l_suppkey")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "total_rev"
            )
        )
    )
    mx = rev.agg(F.max("total_rev").alias("max_rev"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("total_rev") == F.col("max_rev"))
        .join(F.broadcast(sup), rev["l_suppkey"] == sup["s_suppkey"])
        .select("s_suppkey", "s_name", "total_rev")
    )


SQL_TPCH_Q15ISH = f"""
WITH rev AS (
  SELECT l_suppkey, ROUND(sum(l_extendedprice * (1 - l_discount)), 2) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{_Q15_LO}' AND l_shipdate < TIMESTAMP '{_Q15_HI}'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_rev
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_rev = (SELECT max(total_rev) FROM rev)
"""


# ---------------------------------------------------------------------------
# TPC-H q17ish: small-quantity-order revenue (correlated avg per part)
# ---------------------------------------------------------------------------

_Q17_BRAND = "Brand#1"


def q_tpch_q17ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue lost to small-quantity orders of one
    brand's parts. The correlated scalar subquery (per-part avg quantity)
    becomes a broadcast-joined pre-aggregate; the fact table never
    shuffles."""
    li = _pq(spark, _t(sf_dir, "lineitem"))
    part = _pq(spark, _t(sf_dir, "part")).where(F.col("p_brand") == _Q17_BRAND)
    avg_qty = li.groupBy("l_partkey").agg((0.2 * F.avg("l_quantity")).alias("qty_cut"))
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(F.broadcast(avg_qty), "l_partkey")
        .where(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            F.lit(_Q17_BRAND).alias("p_brand"),
            F.round(F.sum("l_extendedprice") / 7.0, R).alias("avg_yearly"),
            F.count("*").alias("n_lines"),
        )
    )


SQL_TPCH_Q17ISH = f"""
WITH cuts AS (
  SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_cut FROM lineitem GROUP BY l_partkey)
SELECT '{_Q17_BRAND}' AS p_brand,
       ROUND(sum(l_extendedprice) / 7.0, {R}) AS avg_yearly,
       count(*) AS n_lines
FROM lineitem
JOIN part ON p_partkey = l_partkey AND p_brand = '{_Q17_BRAND}'
JOIN cuts USING (l_partkey)
WHERE l_quantity < qty_cut
"""


# ---------------------------------------------------------------------------
# TPC-H q21ish: the lone returning supplier in multi-supplier orders
# ---------------------------------------------------------------------------


def q_tpch_q21ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting), adapted to this
    schema's columns: orders served by ≥2 distinct suppliers where EXACTLY
    ONE supplier has a returned line ('R') — that supplier takes the blame.
    The double EXISTS/NOT-EXISTS collapses into one per-order aggregate
    (conditional distinct counts), then a per-supplier count. Shuffles:
    |orders| then |suppliers| — both output-sized."""
    li = _pq(spark, _t(sf_dir, "lineitem"))
    sup = _pq(spark, _t(sf_dir, "supplier"))
    # r11: the double countDistinct planned as a 3-way Expand of lineitem
    # (3x the fact rows through a 4-key aggregate + two exchanges,
    # guide §2.3 "aggregate before you shuffle"). Two-level rewrite: one
    # explicit orderkey exchange that BOTH aggregation levels reuse
    # (§2.4) — level 1 collapses to distinct (order, supplier) with a
    # has-returned flag, level 2 counts them. Bit-identical (probed:
    # 2.58 s → 1.01 s, Expand gone, 20/20 rows equal): countDistinct
    # skips NULL suppkeys, so the level-1 input filters them the same way.
    li2 = (
        li.where(F.col("l_suppkey").isNotNull())
        .select(
            "l_orderkey",
            "l_suppkey",
            (F.col("l_returnflag") == "R").cast("int").alias("_r"),
        )
        .repartition("l_orderkey")
    )
    lvl1 = li2.groupBy("l_orderkey", "l_suppkey").agg(F.max("_r").alias("_has_r"))
    per_order = lvl1.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("_has_r").alias("n_ret_supp"),
        F.max(F.when(F.col("_has_r") == 1, F.col("l_suppkey"))).alias("blame"),
    )
    blamed = per_order.where((F.col("n_supp") >= 2) & (F.col("n_ret_supp") == 1))
    counts = blamed.groupBy("blame").agg(F.count("*").alias("numwait"))
    return (
        counts.join(F.broadcast(sup), counts["blame"] == sup["s_suppkey"])
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.col("numwait").desc(), "s_suppkey")
        .limit(20)
    )


SQL_TPCH_Q21ISH = """
WITH per_order AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS n_ret_supp,
         max(CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS blame
  FROM lineitem GROUP BY l_orderkey)
SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS numwait
FROM per_order JOIN supplier ON s_suppkey = blame
WHERE n_supp >= 2 AND n_ret_supp = 1
GROUP BY s_suppkey, s_name
ORDER BY numwait DESC, s_suppkey LIMIT 20
"""


# ---------------------------------------------------------------------------
# TPC-H q22ish: well-funded customers who never ordered, by nation
# ---------------------------------------------------------------------------


def q_tpch_q22ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global-sales-opportunity): customers with balance
    above the positive-balance average and NO orders since 1999 (funded but
    churned), rolled up by nation. Scalar avg broadcast + left-anti join
    against orders (the orders side prunes on the date predicate and
    reduces to its distinct custkeys before the join)."""
    cust = _pq(spark, _t(sf_dir, "customer"))
    orders = _pq(spark, _t(sf_dir, "orders")).where(
        F.col("o_orderdate") >= F.lit("1999-01-01")
    )
    nation = _pq(spark, _t(sf_dir, "nation"))
    cut = cust.where(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("bal_cut"))
    idle = (
        cust.crossJoin(F.broadcast(cut))
        .where(F.col("c_acctbal") > F.col("bal_cut"))
        .join(orders.select(F.col("o_custkey").alias("c_custkey")).distinct(), "c_custkey", "left_anti")
    )
    return (
        idle.join(F.broadcast(nation), idle["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_custs"),
            F.round(F.sum("c_acctbal"), R).alias("total_bal"),
        )
    )


SQL_TPCH_Q22ISH = f"""
SELECT n_name, count(*) AS n_custs, ROUND(sum(c_acctbal), {R}) AS total_bal
FROM customer
JOIN nation ON n_nationkey = c_nationkey
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1999-01-01')
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# Autocorrelation of the daily event-count series
# ---------------------------------------------------------------------------


def q_autocorr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1/lag-7 autocorrelation of each event type's daily-count series
    (forecasting/seasonality primitive). The daily rollup shrinks the data
    to |types|×|days| before the window, so the ACF stage is driver-cheap
    at any corpus size."""
    from gridmet_etl_spark.operators.timeseries import autocorrelation
    from gridmet_etl_spark.sources.readers import read_events

    e = read_events(spark, _t(sf_dir, "events"))
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count("*").cast("double").alias("n")
    )
    return autocorrelation(daily, ["event_type"], "day", "n", lags=(1, 7))


SQL_AUTOCORR_DAILY = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS n
  FROM events GROUP BY event_type, CAST(ts AS DATE)),
lagged AS (
  SELECT event_type, n AS y,
         lag(n, 1) OVER w AS x1,
         lag(n, 7) OVER w AS x7
  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
l AS (
  SELECT event_type, 1 AS lag, y, x1 AS x FROM lagged WHERE x1 IS NOT NULL
  UNION ALL
  SELECT event_type, 7, y, x7 FROM lagged WHERE x7 IS NOT NULL)
SELECT event_type, lag,
       CASE WHEN stddev_samp(y) > 0 AND stddev_samp(x) > 0
            THEN ROUND(covar_samp(y, x) / (stddev_samp(y) * stddev_samp(x)), {R})
       END AS acf,
       count(*) AS n_pairs
FROM l GROUP BY event_type, lag
"""


# ---------------------------------------------------------------------------
# Truncated EWMA over the daily revenue series
# ---------------------------------------------------------------------------


def q_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-day half-life-7 exponentially weighted moving average of each
    event type's daily value total — the trend-smoothing primitive, in the
    truncated-exact form both engines can compute bit-stably."""
    from gridmet_etl_spark.operators.timeseries import ewma_truncated
    from gridmet_etl_spark.sources.readers import read_events

    e = read_events(spark, _t(sf_dir, "events"))
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value"), R).alias("v")
    )
    return ewma_truncated(daily, ["event_type"], "day", "v", half_life_days=7.0, window_days=14)


SQL_EWMA_DAILY = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, ROUND(sum(value), {R}) AS v
  FROM events GROUP BY event_type, CAST(ts AS DATE))
SELECT a.event_type, a.day,
       ROUND(sum(pow(0.5, (a.day - c.day) / 7.0) * c.v)
             / sum(pow(0.5, (a.day - c.day) / 7.0)), {R}) AS ewma,
       count(*) AS n_in_window
FROM daily a
JOIN daily c ON c.event_type = a.event_type
            AND a.day - c.day >= 0 AND a.day - c.day < 14
GROUP BY a.event_type, a.day
"""


# ---------------------------------------------------------------------------
# SCD2 history build from the event log
# ---------------------------------------------------------------------------


def q_scd2_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension build: each user's event_type run-length history as
    [valid_from, valid_to) versioned rows (operators/scd.py). One
    user-keyed shuffle; oracle casts ns→µs at the edge (sessionize
    lesson)."""
    from gridmet_etl_spark.operators.scd import scd2_history
    from gridmet_etl_spark.sources.readers import read_events

    e = read_events(spark, _t(sf_dir, "events"))
    # restrict to a deterministic slice so ties cannot exist: one event per
    # (user, ts) pair is guaranteed by event_id uniqueness — keep ts+type
    return scd2_history(e, ["user_id"], "event_type", "ts")


SQL_SCD2_USERS = """
WITH changed AS (
  SELECT user_id, ts, event_type,
         lag(event_type) OVER w AS prev
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_type)),
runs AS (
  SELECT user_id, ts, event_type,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_type) AS valid_to_ns
  FROM changed
  WHERE prev IS NULL OR event_type <> prev)
SELECT user_id, event_type,
       CAST(ts AS TIMESTAMP) AS valid_from,
       CAST(valid_to_ns AS TIMESTAMP) AS valid_to,
       valid_to_ns IS NULL AS is_current
FROM runs
"""


# ---------------------------------------------------------------------------
# Pairwise correlation matrix of lineitem measures
# ---------------------------------------------------------------------------

_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All 6 pairwise Pearson correlations of the lineitem measures in ONE
    aggregate scan (operators/mlprep.corr_pairs)."""
    from gridmet_etl_spark.operators.mlprep import corr_pairs

    li = _pq(spark, _t(sf_dir, "lineitem"))
    out = corr_pairs(li, _CORR_COLS)
    return out.select("col_a", "col_b", F.round("corr", R).alias("corr"))


def _sql_corr_matrix() -> str:
    arms = []
    for i, a in enumerate(_CORR_COLS):
        for b in _CORR_COLS[i + 1 :]:
            arms.append(
                f"SELECT '{a}' AS col_a, '{b}' AS col_b,"
                f" ROUND(corr({a}, {b}), {R}) AS corr FROM lineitem"
            )
    return " UNION ALL ".join(arms)


# ---------------------------------------------------------------------------
# Smoothed target encoding of part brand by line revenue
# ---------------------------------------------------------------------------


def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe categorical encode: p_brand → smoothed mean
    l_extendedprice (m=10 prior toward the global mean). The encode table
    is |brands|-sized; facts never shuffle (broadcast part join)."""
    from gridmet_etl_spark.operators.mlprep import target_encode

    li = _pq(spark, _t(sf_dir, "lineitem"))
    part = _pq(spark, _t(sf_dir, "part"))
    joined = li.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        li["l_partkey"] == part["p_partkey"],
    )
    out = target_encode(joined, "p_brand", "l_extendedprice", m=10.0)
    return out.select("p_brand", "n", F.round("enc", R).alias("enc"))


SQL_TARGET_ENCODE = f"""
WITH j AS (
  SELECT p_brand, l_extendedprice FROM lineitem JOIN part ON p_partkey = l_partkey),
g AS (SELECT sum(l_extendedprice) / count(l_extendedprice) AS mu FROM j)
SELECT p_brand, count(l_extendedprice) AS n,
       ROUND((sum(l_extendedprice) + 10.0 * mu) / (count(l_extendedprice) + 10.0), {R}) AS enc
FROM j CROSS JOIN g
GROUP BY p_brand, mu
"""


# ---------------------------------------------------------------------------
# Referential-integrity orphan check
# ---------------------------------------------------------------------------


def q_ref_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ gate: orphan foreign keys across the star schema (lineitem →
    orders/part/supplier, orders → customer). Dimensions broadcast; facts
    scan without shuffling."""
    from gridmet_etl_spark.operators.mlprep import referential_orphans

    li = _pq(spark, _t(sf_dir, "lineitem"))
    orders = _pq(spark, _t(sf_dir, "orders"))
    out_li = referential_orphans(
        li,
        {
            "l_orderkey": (orders, "o_orderkey"),
            "l_partkey": (_pq(spark, _t(sf_dir, "part")), "p_partkey"),
            "l_suppkey": (_pq(spark, _t(sf_dir, "supplier")), "s_suppkey"),
        },
        relation="lineitem",
    )
    out_o = referential_orphans(
        orders,
        {"o_custkey": (_pq(spark, _t(sf_dir, "customer")), "c_custkey")},
        relation="orders",
    )
    return out_li.unionByName(out_o)


SQL_REF_INTEGRITY = """
SELECT 'lineitem' AS relation, 'l_orderkey' AS fk,
       count(CASE WHEN l_orderkey IS NOT NULL AND o_orderkey IS NULL THEN 1 END) AS n_orphans,
       count(CASE WHEN l_orderkey IS NULL THEN 1 END) AS n_null
FROM lineitem LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o ON o_orderkey = l_orderkey
UNION ALL
SELECT 'lineitem', 'l_partkey',
       count(CASE WHEN l_partkey IS NOT NULL AND p_partkey IS NULL THEN 1 END),
       count(CASE WHEN l_partkey IS NULL THEN 1 END)
FROM lineitem LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p ON p_partkey = l_partkey
UNION ALL
SELECT 'lineitem', 'l_suppkey',
       count(CASE WHEN l_suppkey IS NOT NULL AND s_suppkey IS NULL THEN 1 END),
       count(CASE WHEN l_suppkey IS NULL THEN 1 END)
FROM lineitem LEFT JOIN (SELECT DISTINCT s_suppkey FROM supplier) s ON s_suppkey = l_suppkey
UNION ALL
SELECT 'orders', 'o_custkey',
       count(CASE WHEN o_custkey IS NOT NULL AND c_custkey IS NULL THEN 1 END),
       count(CASE WHEN o_custkey IS NULL THEN 1 END)
FROM orders LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c ON c_custkey = o_custkey
"""


# ---------------------------------------------------------------------------
# Join-key skew profile
# ---------------------------------------------------------------------------


def q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-size distribution of the l_orderkey join key — the diagnostic
    that decides salting/AQE-skew-join settings before a big join."""
    from gridmet_etl_spark.operators.mlprep import key_skew_profile

    li = _pq(spark, _t(sf_dir, "lineitem"))
    return key_skew_profile(li, ["l_orderkey"])


SQL_SKEW_PROFILE = """
SELECT group_size, count(*) AS n_keys
FROM (SELECT l_orderkey, count(*) AS group_size FROM lineitem GROUP BY l_orderkey)
GROUP BY group_size
"""


# ---------------------------------------------------------------------------
# k-hop reachability over the synthetic link graph
# ---------------------------------------------------------------------------

_KHOP_K = 3
_KHOP_SEED = "example1.test"


def q_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-hop BFS neighborhood of one seed host over the deterministic link
    layer (same augmentation as pagerank) — crawl-frontier expansion as
    bounded iterative joins."""
    from gridmet_etl_spark.operators.graph import k_hop_reach, link_graph

    pages = spark.read.parquet(os.path.join(FIXDIR, "webpages.parquet"))
    aug = pages.select(
        "page_id",
        "url",
        F.concat(
            F.col("text"),
            F.lit(" see https://example"),
            ((F.col("page_id") * 7 + 1) % 50).cast("string"),
            F.lit(".test/a and https://example"),
            ((F.col("page_id") * 13 + 2) % 50).cast("string"),
            F.lit(".test/b"),
        ).alias("text"),
    )
    edges = link_graph(aug)
    seeds = spark.createDataFrame([(_KHOP_SEED,)], "node string")
    return k_hop_reach(edges, seeds, k=_KHOP_K)


def _sql_khop_reach() -> str:
    path = os.path.join(FIXDIR, "webpages.parquet")
    return rf"""
WITH RECURSIVE aug AS (
  SELECT page_id,
         lower(regexp_extract(url, 'https?://([^/\s:?#]+)', 1)) AS src,
         text || ' see https://example' || CAST((page_id * 7 + 1) % 50 AS VARCHAR)
              || '.test/a and https://example' || CAST((page_id * 13 + 2) % 50 AS VARCHAR)
              || '.test/b' AS t
  FROM read_parquet('{path}')),
edges AS (
  SELECT DISTINCT src, u.dst
  FROM (SELECT src,
               list_transform(regexp_extract_all(t, 'https?://([^/\s:?#]+)', 1),
                              x -> lower(x)) AS dsts
        FROM aug) a, unnest(list_distinct(a.dsts)) AS u(dst)
  WHERE u.dst <> a.src AND a.src <> ''),
reach(node, hops) AS (
  SELECT '{_KHOP_SEED}' AS node, 0 AS hops
  UNION ALL
  SELECT e.dst, r.hops + 1
  FROM reach r JOIN edges e ON e.src = r.node
  WHERE r.hops < {_KHOP_K})
SELECT node, CAST(min(hops) AS INT) AS hops FROM reach GROUP BY node
"""


# ---------------------------------------------------------------------------
# Climate batch: heat-wave runs, SPI, frost dates
# ---------------------------------------------------------------------------

_HW_THRESH = 285.0  # K; fixture tmmx mean ≈ 284
_FROST_K = 273.15


def _fx_grid(spark: SparkSession) -> DataFrame:
    from .contract import FX
    from gridmet_etl_spark.sources.readers import read_grid

    return read_grid(spark, FX["grid"])


def q_heatwave_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal consecutive-day runs of tmmx above
    threshold per cell (heat-wave detection; operators/timeseries.py
    ``runs_above_threshold`` — one cell-keyed shuffle, no self-join)."""
    from gridmet_etl_spark.operators.timeseries import runs_above_threshold

    g = _fx_grid(spark).where(F.col("var") == "tmmx")
    return runs_above_threshold(g, ["i", "j"], "time", "value", _HW_THRESH, min_len=2)


def _sql_heatwave_runs() -> str:
    from .contract import FX

    return f"""
WITH above AS (
  SELECT i, j, time, value,
         CAST(time AS DATE) - CAST(row_number() OVER (
             PARTITION BY i, j ORDER BY time) AS INT) AS anchor
  FROM '{FX["grid"]}' WHERE var = 'tmmx' AND value > {_HW_THRESH})
SELECT i, j, min(time) AS run_start, max(time) AS run_end,
       count(*) AS run_len, ROUND(max(value), {R}) AS peak
FROM above GROUP BY i, j, anchor HAVING count(*) >= 2
"""


def q_spi_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPI-shaped drought index: 3-day rolling precip totals standardized
    per cell (operators/timeseries.py ``rolling_zscore`` — both windows
    share one cell-keyed sort)."""
    from gridmet_etl_spark.operators.timeseries import rolling_zscore

    g = _fx_grid(spark).where(F.col("var") == "pr")
    return rolling_zscore(g, ["i", "j"], "time", "value", window=3)


def _sql_spi_index() -> str:
    from .contract import FX

    return f"""
WITH r AS (
  SELECT i, j, time,
         sum(value) OVER w AS roll,
         count(*) OVER w AS cnt
  FROM '{FX["grid"]}' WHERE var = 'pr'
  WINDOW w AS (PARTITION BY i, j ORDER BY time ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)),
f AS (SELECT i, j, time, roll FROM r WHERE cnt = 3),
s AS (SELECT i, j, avg(roll) AS mu, stddev_samp(roll) AS sd FROM f GROUP BY i, j)
SELECT f.i, f.j, f.time AS day, ROUND(f.roll, {R}) AS roll_sum,
       CASE WHEN sd > 0 THEN ROUND((f.roll - mu) / sd, {R}) + 0.0 END AS z
FROM f JOIN s ON f.i = s.i AND f.j = s.j
"""


def q_frost_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell frost summary: first/last sub-freezing day and frost-day
    count over the period (growing-season primitive). One output-sized
    aggregate over the partition-pruned tmmn scan."""
    g = _fx_grid(spark).where(
        (F.col("var") == "tmmn") & (F.col("value") < _FROST_K)
    )
    return g.groupBy("i", "j").agg(
        F.min("time").alias("first_frost"),
        F.max("time").alias("last_frost"),
        F.count("*").alias("n_frost_days"),
        F.round(F.min("value"), R).alias("coldest_k"),
    )


def _sql_frost_dates() -> str:
    from .contract import FX

    return f"""
SELECT i, j, min(time) AS first_frost, max(time) AS last_frost,
       count(*) AS n_frost_days, ROUND(min(value), {R}) AS coldest_k
FROM '{FX["grid"]}' WHERE var = 'tmmn' AND value < {_FROST_K}
GROUP BY i, j
"""


# ---------------------------------------------------------------------------
# Threshold-crossing alerts (batch twin of streaming/alerts.py)
# ---------------------------------------------------------------------------

_ALERT_THRESH = 70.0


def q_threshold_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monitoring gate: the first day each event type's daily count rises
    above threshold after being at-or-below it (hysteresis — no re-alert
    while it stays high). Batch twin of
    streaming/alerts.py::streaming_threshold_alerts; ONE lag window keyed
    by type over the |types|×|days| rollup."""
    from gridmet_etl_spark.sources.readers import read_events
    from gridmet_etl_spark.streaming.alerts import threshold_alerts

    e = read_events(spark, _t(sf_dir, "events"))
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count("*").cast("double").alias("n")
    )
    return threshold_alerts(daily, ["event_type"], "day", "n", _ALERT_THRESH)


SQL_THRESHOLD_ALERTS = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS n
  FROM events GROUP BY event_type, CAST(ts AS DATE)),
lagged AS (
  SELECT event_type, day, n,
         lag(n) OVER (PARTITION BY event_type ORDER BY day) AS prev
  FROM daily)
SELECT event_type, day, n
FROM lagged
WHERE n > {_ALERT_THRESH} AND (prev IS NULL OR prev <= {_ALERT_THRESH})
"""


# ---------------------------------------------------------------------------
# Interval×interval overlap join: activity spans × campaign windows
# ---------------------------------------------------------------------------

_CAMPAIGNS = [
    ("launch", "2024-01-05 00:00:00", "2024-01-10 00:00:00"),
    ("midmonth", "2024-01-14 12:00:00", "2024-01-18 00:00:00"),
    ("finale", "2024-01-25 00:00:00", "2024-01-31 00:00:00"),
]


def q_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval overlap join (operators/rangejoin.py::overlap_join): per-user
    daily activity spans [first event, last event] against campaign windows,
    rolled up per campaign. Granule-bucketed equi-join (1-day granules) with
    the first-shared-granule dedup gate — no cartesian, no distinct."""
    from gridmet_etl_spark.operators.rangejoin import overlap_join
    from gridmet_etl_spark.sources.readers import read_events

    e = read_events(spark, _t(sf_dir, "events"))
    spans = e.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.min("ts").alias("l_start"), F.max("ts").alias("l_end")
    )
    camps = spark.createDataFrame(
        _CAMPAIGNS, "campaign string, r_start string, r_end string"
    ).select(
        "campaign",
        F.col("r_start").cast("timestamp").alias("r_start"),
        F.col("r_end").cast("timestamp").alias("r_end"),
    )
    hits = overlap_join(
        spans, F.broadcast(camps), granule_seconds=86400,
        l_start="l_start", l_end="l_end", r_start="r_start", r_end="r_end",
    )
    return hits.groupBy("campaign").agg(
        F.count("*").alias("n_spans"),
        F.countDistinct("user_id").alias("n_users"),
    )


def _sql_overlap_join() -> str:
    vals = ", ".join(
        f"('{c}', TIMESTAMP '{s}', TIMESTAMP '{e}')" for c, s, e in _CAMPAIGNS
    )
    return f"""
WITH spans AS (
  SELECT user_id, CAST(ts AS DATE) AS day, min(ts) AS l_start, max(ts) AS l_end
  FROM events GROUP BY user_id, CAST(ts AS DATE)),
camps(campaign, r_start, r_end) AS (VALUES {vals})
SELECT campaign, count(*) AS n_spans, count(DISTINCT user_id) AS n_users
FROM spans JOIN camps
  ON l_start < r_end AND r_start < l_end
GROUP BY campaign
"""


# ---------------------------------------------------------------------------
# Embedding classification evals: nearest-centroid + leave-one-out kNN
# ---------------------------------------------------------------------------

_EMB_DIM64 = 64


def q_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rocchio nearest-centroid confusion rollup over the labeled embedding
    table (operators/mlprep.py::nearest_centroid): centroids broadcast,
    corpus dot products row-local, rank on rounded cosine."""
    from gridmet_etl_spark.operators.mlprep import nearest_centroid

    emb = _pq(spark, _t(sf_dir, "embeddings"))
    return nearest_centroid(emb, rank_round=R)


SQL_CENTROID_CLASSIFY = f"""
WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
cent AS (
  SELECT label AS clabel, g.i,
         avg(CAST(embedding[g.i] AS DOUBLE)) AS c
  FROM e, generate_series(1, {_EMB_DIM64}) g(i)
  GROUP BY label, g.i),
s AS (
  SELECT e.vec_id, e.label, c.clabel,
         sum(CAST(e.embedding[c.i] AS DOUBLE) * c.c) AS dot,
         sqrt(sum(CAST(e.embedding[c.i] AS DOUBLE) * CAST(e.embedding[c.i] AS DOUBLE))) AS nv,
         sqrt(sum(c.c * c.c)) AS nc
  FROM e JOIN cent c ON TRUE
  GROUP BY e.vec_id, e.label, c.clabel),
a AS (
  SELECT label, clabel AS assigned,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY ROUND(dot / (nv * nc), {R}) DESC, clabel) AS rn
  FROM s)
SELECT label, assigned, count(*) AS n FROM a WHERE rn = 1 GROUP BY label, assigned
"""


def q_knn_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out 5-NN label-vote confusion rollup
    (operators/mlprep.py::knn_classify) — the embedding-quality eval."""
    from gridmet_etl_spark.operators.mlprep import knn_classify

    emb = _pq(spark, _t(sf_dir, "embeddings"))
    return knn_classify(emb, k=5, rank_round=R)


SQL_KNN_EVAL = f"""
WITH pairs AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         q.label AS qlabel, e.label AS nlabel,
         sum(CAST(e.embedding[g.i] AS DOUBLE) * CAST(q.embedding[g.i] AS DOUBLE)) AS dot,
         sqrt(sum(CAST(e.embedding[g.i] AS DOUBLE) * CAST(e.embedding[g.i] AS DOUBLE))) AS ne,
         sqrt(sum(CAST(q.embedding[g.i] AS DOUBLE) * CAST(q.embedding[g.i] AS DOUBLE))) AS nq
  FROM embeddings q
  JOIN embeddings e ON e.vec_id <> q.vec_id,
       generate_series(1, {_EMB_DIM64}) g(i)
  GROUP BY q.vec_id, e.vec_id, q.label, e.label),
ranked AS (
  SELECT query_id, qlabel, nlabel,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY ROUND(dot / (ne * nq), {R}) DESC, neighbor_id) AS rn
  FROM pairs),
votes AS (
  SELECT query_id, qlabel, nlabel, count(*) AS v
  FROM ranked WHERE rn <= 5 GROUP BY query_id, qlabel, nlabel),
pred AS (
  SELECT query_id, qlabel, nlabel AS predicted,
         row_number() OVER (PARTITION BY query_id ORDER BY v DESC, nlabel) AS rn
  FROM votes)
SELECT qlabel AS label, predicted, count(*) AS n
FROM pred WHERE rn = 1 GROUP BY qlabel, predicted
"""


# ---------------------------------------------------------------------------
# Seasonal decomposition
# ---------------------------------------------------------------------------


def q_seasonal_decomp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of each event type's daily-count
    series: centered 7-point MA trend, phase-mean seasonal (integer
    day-mod-period phase — engine-portable), residual."""
    from gridmet_etl_spark.operators.timeseries import seasonal_decompose
    from gridmet_etl_spark.sources.readers import read_events

    e = read_events(spark, _t(sf_dir, "events"))
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count("*").cast("double").alias("n")
    )
    return seasonal_decompose(daily, ["event_type"], "day", "n", period=7)


SQL_SEASONAL_DECOMP = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS v
  FROM events GROUP BY event_type, CAST(ts AS DATE)),
t AS (
  SELECT event_type, day, v,
         avg(v) OVER w AS trend, count(*) OVER w AS cnt
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
f AS (
  SELECT event_type, day, v, trend, v - trend AS det,
         CAST(day - DATE '1970-01-01' AS BIGINT) % 7 AS phase
  FROM t WHERE cnt = 7),
s AS (SELECT event_type, phase, avg(det) AS seasonal
      FROM f GROUP BY event_type, phase)
SELECT f.event_type, f.day, ROUND(v, {R}) AS value, ROUND(trend, {R}) AS trend,
       ROUND(seasonal, {R}) + 0.0 AS seasonal,
       ROUND(det - seasonal, {R}) + 0.0 AS resid
FROM f JOIN s ON f.event_type = s.event_type AND f.phase = s.phase
"""


# ---------------------------------------------------------------------------
# Temporal (purged/embargoed) split
# ---------------------------------------------------------------------------

_TSPLIT_TRAIN_END = "2024-01-20 00:00:00"
_TSPLIT_TEST_START = "2024-01-22 00:00:00"


def q_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purged temporal split over the event stream: train < cutoff,
    2-day embargo band, test ≥ start (operators/sampling.py::temporal_split
    — a pure predicate, partition-pruning at scale). Output: per-split
    per-type row counts and value totals."""
    from gridmet_etl_spark.operators.sampling import temporal_split
    from gridmet_etl_spark.sources.readers import read_events

    e = read_events(spark, _t(sf_dir, "events"))
    s = temporal_split(e, "ts", _TSPLIT_TRAIN_END, _TSPLIT_TEST_START)
    return s.groupBy("split", "event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), R).alias("sum_value"),
    )


SQL_TEMPORAL_SPLIT = f"""
SELECT CASE WHEN ts < TIMESTAMP '{_TSPLIT_TRAIN_END}' THEN 'train'
            WHEN ts >= TIMESTAMP '{_TSPLIT_TEST_START}' THEN 'test'
            ELSE 'embargo' END AS split,
       event_type, count(*) AS n, ROUND(sum(value), {R}) AS sum_value
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Statistical tests: chi-square, Mann–Whitney, KS, AUC
# ---------------------------------------------------------------------------


def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square contingency of event type × day-of-period phase
    (operators/stats.py::chi_square_contingency) — the independence audit
    behind dow_anomaly's seasonality assumption."""
    from gridmet_etl_spark.operators.stats import chi_square_contingency
    from gridmet_etl_spark.sources.readers import read_events

    e = read_events(spark, _t(sf_dir, "events")).select(
        "event_type", F.pmod(F.unix_date(F.to_date("ts")), 7).alias("phase")
    )
    return chi_square_contingency(e, "event_type", "phase")


SQL_CHI_SQUARE = f"""
WITH obs AS (
  SELECT event_type, CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) % 7 AS phase
  FROM events),
cells AS (SELECT event_type, phase, count(*) AS n FROM obs GROUP BY 1, 2),
rt AS (SELECT event_type, sum(n) AS r FROM cells GROUP BY 1),
ct AS (SELECT phase, sum(n) AS c FROM cells GROUP BY 1),
t AS (SELECT sum(n) AS tt FROM cells)
SELECT event_type, phase, n,
       ROUND(CAST(r AS DOUBLE) * c / tt, {R}) AS expected,
       ROUND(pow(n - CAST(r AS DOUBLE) * c / tt, 2) / (CAST(r AS DOUBLE) * c / tt), {R}) AS chi2_term
FROM cells JOIN rt USING (event_type) JOIN ct USING (phase) CROSS JOIN t
"""


_MW_A, _MW_B = "click", "error"


def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U between two event types' value distributions
    (operators/stats.py::mann_whitney_u) — ranks computed DISTRIBUTED via
    scale.global_rank (range partition + offset prefix sums), no
    single-partition global sort."""
    from gridmet_etl_spark.operators.stats import mann_whitney_u
    from gridmet_etl_spark.sources.readers import read_events

    e = read_events(spark, _t(sf_dir, "events")).where(
        F.col("event_type").isin(_MW_A, _MW_B)
    )
    return mann_whitney_u(e.select("event_type", "value"), "event_type", "value")


SQL_MANN_WHITNEY = f"""
WITH two AS (
  SELECT event_type, value AS v FROM events
  WHERE event_type IN ('{_MW_A}', '{_MW_B}')),
r0 AS (SELECT event_type, v, row_number() OVER (ORDER BY v) AS rn FROM two),
ar AS (SELECT v, avg(rn) AS rank FROM r0 GROUP BY v)
SELECT event_type, count(*) AS n,
       ROUND(sum(rank), {R}) AS rank_sum,
       ROUND(sum(rank) - count(*) * (count(*) + 1) / 2.0, {R}) AS u
FROM r0 JOIN ar USING (v) GROUP BY event_type
"""


def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift statistic between two event
    types' value distributions (operators/stats.py::ks_statistic) — ECDF
    prefix sums distributed by range partition."""
    from gridmet_etl_spark.operators.stats import ks_statistic
    from gridmet_etl_spark.sources.readers import read_events

    e = read_events(spark, _t(sf_dir, "events"))
    return ks_statistic(
        e.select("event_type", "value"), "event_type", "value", _MW_A, _MW_B
    )


SQL_KS_TEST = f"""
WITH two AS (
  SELECT event_type AS g, value AS v FROM events
  WHERE event_type IN ('{_MW_A}', '{_MW_B}')),
pv AS (
  SELECT v,
         count(CASE WHEN g = '{_MW_A}' THEN 1 END) AS na,
         count(CASE WHEN g = '{_MW_B}' THEN 1 END) AS nb
  FROM two GROUP BY v),
c AS (SELECT sum(na) OVER (ORDER BY v) AS ca, sum(nb) OVER (ORDER BY v) AS cb FROM pv),
t AS (SELECT sum(na) AS n_a, sum(nb) AS n_b FROM pv)
-- CAST: sum()-derived counts are HUGEINT in DuckDB (driver pandas-fetch
-- renders those as float64 while Spark emits int64 — hash poison)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       ROUND(max(abs(CAST(ca AS DOUBLE) / n_a - CAST(cb AS DOUBLE) / n_b)), {R}) AS d_stat
FROM c CROSS JOIN t GROUP BY n_a, n_b
"""


def q_auc_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC of the hashed-BoW classifier's logit against the
    English-language label (operators/stats.py::auc_score — the
    Mann–Whitney rank identity, average ranks on ties, distributed
    ranking). Ranks on the UNROUNDED logit: IEEE division of identical
    integer operands is bit-identical across engines."""
    from gridmet_etl_spark.operators.scoring import classifier_scores
    from gridmet_etl_spark.operators.stats import auc_score

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    scored = classifier_scores(docs).join(
        docs.select("doc_id", (F.col("lang") == "en").alias("is_en")), "doc_id"
    )
    return auc_score(scored, "is_en", "logit")


SQL_AUC_EVAL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
w AS (
  SELECT doc_id,
         CAST('0x' || substr(md5('w:' || CAST(
           CAST('0x' || substr(md5(tok), 1, 6) AS BIGINT) % 1024
         AS VARCHAR)), 1, 6) AS BIGINT) % 2001 - 1000 AS wi
  FROM toks WHERE tok <> ''),
agg AS (
  SELECT doc_id, CAST(sum(wi) AS BIGINT) AS swi, count(*) AS n
  FROM w GROUP BY doc_id),
s AS (
  SELECT a.doc_id, swi / (1000.0 * n) AS score, (d.lang = 'en') AS y
  FROM agg a JOIN documents d ON d.doc_id = a.doc_id),
r0 AS (SELECT y, score, row_number() OVER (ORDER BY score) AS rn FROM s),
ar AS (SELECT score, avg(rn) AS rank FROM r0 GROUP BY score),
j AS (SELECT y, rank FROM r0 JOIN ar USING (score)),
f AS (
  SELECT count(CASE WHEN y THEN 1 END) AS n_pos,
         count(CASE WHEN NOT y THEN 1 END) AS n_neg,
         sum(CASE WHEN y THEN rank END) AS rp
  FROM j)
SELECT n_pos, n_neg,
       ROUND((rp - n_pos * (n_pos + 1) / 2.0) / (CAST(n_pos AS DOUBLE) * n_neg), {R}) AS auc
FROM f
"""


# ---------------------------------------------------------------------------
# Trailing features, OHLC resample, survivorship
# ---------------------------------------------------------------------------


def q_trailing_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time trailing 90-day order features per customer
    (operators/mlprep.py::trailing_window_features): strictly-prior RANGE
    frame — gap-exact, no same-day leakage."""
    from gridmet_etl_spark.operators.mlprep import trailing_window_features

    o = _pq(spark, _t(sf_dir, "orders"))
    out = trailing_window_features(o, ["o_custkey"], "o_orderdate", "o_totalprice", days=90)
    return out.select(
        "o_orderkey",
        "o_custkey",
        F.to_date("o_orderdate").alias("day"),
        "n_prior",
        F.round(F.coalesce(F.col("sum_prior"), F.lit(0.0)), R).alias("sum_prior"),
    )


SQL_TRAILING_FEATURES = f"""
SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS day,
       COALESCE(count(o_totalprice) OVER w, 0) AS n_prior,
       ROUND(COALESCE(sum(o_totalprice) OVER w, 0.0), {R}) AS sum_prior
FROM orders
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY CAST(o_orderdate AS DATE) - DATE '1970-01-01'
             RANGE BETWEEN 90 PRECEDING AND 1 PRECEDING)
"""


def q_daily_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC resample of each event type's value ticks
    (operators/timeseries.py::resample_ohlc — min_by/max_by argmin/argmax,
    one partial-agg shuffle; events carry unique timestamps)."""
    from gridmet_etl_spark.operators.timeseries import resample_ohlc
    from gridmet_etl_spark.sources.readers import read_events

    e = read_events(spark, _t(sf_dir, "events"))
    return resample_ohlc(e, ["event_type"], "ts", "value")


SQL_DAILY_OHLC = f"""
SELECT event_type, CAST(ts AS DATE) AS day,
       ROUND(arg_min(value, ts), {R}) AS open,
       ROUND(max(value), {R}) AS high,
       ROUND(min(value), {R}) AS low,
       ROUND(arg_max(value, ts), {R}) AS close,
       count(*) AS n_ticks
FROM events GROUP BY event_type, CAST(ts AS DATE)
"""


def q_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record election over near-dup clusters
    (operators/cluster.py::survivorship): exact 3-gram Jaccard ≥ 0.8 pairs
    → components → survivor = max n_chars (ties to lowest id) + cluster
    rollup."""
    from .contract_ext import ngram_jaccard_pairs
    from gridmet_etl_spark.operators.cluster import survivorship

    docs = spark.read.parquet(_t(sf_dir, "documents")).filter(F.col("doc_id") < 300)
    pairs = ngram_jaccard_pairs(docs, threshold=0.8).select("doc_a", "doc_b")
    return survivorship(pairs, docs, quality_col="n_chars")


def _sql_survivorship() -> str:
    from .contract_ext import SQL_DEDUP_CLUSTERS

    # reuse the dedup_clusters CTE chain (shingles → pairs → components,
    # its re-read CTEs MATERIALIZED), swap the final projection for the
    # election + rollup; assign is read twice, so it is MATERIALIZED too
    base = SQL_DEDUP_CLUSTERS.split("comp AS")[0]
    return f"""{base}comp AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node),
assign AS MATERIALIZED (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id, d.n_chars
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
  WHERE d.doc_id < 300),
elect AS (
  SELECT cluster_id, doc_id AS survivor_id,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM assign)
SELECT a.cluster_id, e.survivor_id,
       count(*) AS n_members, CAST(sum(a.n_chars) AS BIGINT) AS total_quality
FROM assign a JOIN elect e ON e.cluster_id = a.cluster_id AND e.rn = 1
GROUP BY a.cluster_id, e.survivor_id
"""


EXT2_QUERIES = {
    "trailing_features": (q_trailing_features, SQL_TRAILING_FEATURES),
    "daily_ohlc": (q_daily_ohlc, SQL_DAILY_OHLC),
    "survivorship": (q_survivorship, _sql_survivorship()),
    "chi_square": (q_chi_square, SQL_CHI_SQUARE),
    "mann_whitney": (q_mann_whitney, SQL_MANN_WHITNEY),
    "ks_test": (q_ks_test, SQL_KS_TEST),
    "auc_eval": (q_auc_eval, SQL_AUC_EVAL),
    "temporal_split": (q_temporal_split, SQL_TEMPORAL_SPLIT),
    "seasonal_decomp": (q_seasonal_decomp, SQL_SEASONAL_DECOMP),
    "centroid_classify": (q_centroid_classify, SQL_CENTROID_CLASSIFY),
    "knn_eval": (q_knn_eval, SQL_KNN_EVAL),
    "overlap_join": (q_overlap_join, _sql_overlap_join()),
    "threshold_alerts": (q_threshold_alerts, SQL_THRESHOLD_ALERTS),
    "heatwave_runs": (q_heatwave_runs, _sql_heatwave_runs()),
    "spi_index": (q_spi_index, _sql_spi_index()),
    "frost_dates": (q_frost_dates, _sql_frost_dates()),
    "tpch_q15ish": (q_tpch_q15ish, SQL_TPCH_Q15ISH),
    "tpch_q17ish": (q_tpch_q17ish, SQL_TPCH_Q17ISH),
    "tpch_q21ish": (q_tpch_q21ish, SQL_TPCH_Q21ISH),
    "tpch_q22ish": (q_tpch_q22ish, SQL_TPCH_Q22ISH),
    "autocorr_daily": (q_autocorr_daily, SQL_AUTOCORR_DAILY),
    "ewma_daily": (q_ewma_daily, SQL_EWMA_DAILY),
    "scd2_users": (q_scd2_users, SQL_SCD2_USERS),
    "corr_matrix": (q_corr_matrix, _sql_corr_matrix()),
    "target_encode": (q_target_encode, SQL_TARGET_ENCODE),
    "ref_integrity": (q_ref_integrity, SQL_REF_INTEGRITY),
    "skew_profile": (q_skew_profile, SQL_SKEW_PROFILE),
    "khop_reach": (q_khop_reach, _sql_khop_reach()),
}
