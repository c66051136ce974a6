"""Off-path queries of the former driver-contract registry that lived in
``gridmet_etl_spark/contract.py``: TPC-H shapes over the driver tables at
``sf_dir``, event/session queries, and the grid statistics the two paper
pipelines do not use. Each is a (spark, sf_dir) callable with matching
DuckDB oracle SQL, checked by ``tests/test_contract.py``.

Also the shared helpers the ``contract_ext*`` modules import: ``R``, ``FX``,
``FIXDIR`` and ``_pq`` from the package contract, plus ``_t`` for driver
tables. Float aggregates are rounded to ``R`` decimals in BOTH engines.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gridmet_etl_spark.contract import FIXDIR, R, _grid, _pq, _weights  # noqa: F401

FX = {
    name: os.path.join(FIXDIR, f"{name}.parquet")
    for name in ["grid", "grid_ens", "weights", "weights_ens", "features", "catalog", "elevation", "media", "polygons"]
}


def _t(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def q_tpch_weighted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/A1 shape on TPC-H: lineitem ⋈ broadcast(part) → qty-weighted mean
    price per (brand, returnflag)."""
    li = _pq(spark, _t(sf_dir, "lineitem"))
    part = _pq(spark, _t(sf_dir, "part"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "l_returnflag")
        .agg(
            F.round(
                F.sum(F.col("l_quantity") * F.col("p_retailprice")) / F.sum("l_quantity"), R
            ).alias("wavg_price"),
            F.count("*").alias("n_rows"),
        )
    )


SQL_TPCH_WEIGHTED_MEAN = """
SELECT p_brand, l_returnflag,
       ROUND(sum(l_quantity * p_retailprice) / sum(l_quantity), 6) AS wavg_price,
       count(*) AS n_rows
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand, l_returnflag
"""


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-like pricing summary (partial-agg-friendly groupBy).

    Money sums quantize to exact micro-units and accumulate in
    DECIMAL(38,0) — real TPC-H prices are DECIMAL(12,2), and a raw double
    sum at sf0.1 magnitude (~3×10⁹) differs between engines (and between
    partition orders) in the last ULP, which the driver's full-repr hash
    sees (caught by the r9 sf0.1 strict sweep). Decimal partials stay
    exact, order-independent, and map-side mergeable."""
    li = _pq(spark, _t(sf_dir, "lineitem"))
    # route the integral micro-unit double through LONG before the
    # decimal(38,0) accumulator (r11): double→decimal goes through a
    # per-row BigDecimal construction, double→long→decimal stays on the
    # compact-long fast path — measured 1.37 s → 0.91 s on this query.
    # Exact: round() already made the value integral and micro-unit
    # magnitudes (~1e11/row) sit far below 2^53.
    msum = lambda c: F.round(  # noqa: E731
        F.sum(F.round(c * 1e6).cast("long").cast("decimal(38,0)")).cast("double")
        / 1e6,
        R,
    )
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), R).alias("sum_qty"),
            msum(F.col("l_extendedprice")).alias("sum_base_price"),
            msum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), R).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


SQL_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       ROUND(sum(l_quantity), 6) AS sum_qty,
       ROUND(CAST(sum(CAST(round(l_extendedprice * 1e6) AS HUGEINT)) AS DOUBLE)
             / 1e6, 6) AS sum_base_price,
       ROUND(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 1e6)
                           AS HUGEINT)) AS DOUBLE) / 1e6, 6) AS sum_disc_price,
       ROUND(avg(l_quantity), 6) AS avg_qty,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_tpch_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi + anti join surface (SURVEY §2.4 note): customers with orders vs
    without, per nation."""
    c = _pq(spark, _t(sf_dir, "customer"))
    o = _pq(spark, _t(sf_dir, "orders"))
    with_orders = (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_with"))
    )
    without = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_without"))
    )
    return (
        with_orders.join(without, "c_nationkey", "full_outer")
        .select(
            "c_nationkey",
            F.coalesce("n_with", F.lit(0)).alias("n_with"),
            F.coalesce("n_without", F.lit(0)).alias("n_without"),
        )
    )


SQL_TPCH_SEMI_ANTI = """
WITH w AS (
  SELECT c_nationkey, count(*) AS n_with FROM customer
  WHERE c_custkey IN (SELECT o_custkey FROM orders) GROUP BY c_nationkey),
wo AS (
  SELECT c_nationkey, count(*) AS n_without FROM customer
  WHERE c_custkey NOT IN (SELECT o_custkey FROM orders) GROUP BY c_nationkey)
SELECT COALESCE(w.c_nationkey, wo.c_nationkey) AS c_nationkey,
       COALESCE(n_with, 0) AS n_with, COALESCE(n_without, 0) AS n_without
FROM w FULL OUTER JOIN wo ON w.c_nationkey = wo.c_nationkey
"""


def q_tpch_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 shape: top-1 order by totalprice per customer (ties → lowest key)."""
    o = _pq(spark, _t(sf_dir, "orders"))
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", R).alias("o_totalprice"))
    )


SQL_TPCH_WINDOW_TOPK = """
SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 6) AS o_totalprice
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) t
WHERE rn = 1
"""


def q_tpch_join3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way join through the dimension chain: revenue per region."""
    c = _pq(spark, _t(sf_dir, "customer"))
    o = _pq(spark, _t(sf_dir, "orders"))
    n = _pq(spark, _t(sf_dir, "nation"))
    r = _pq(spark, _t(sf_dir, "region"))
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.round(F.sum("o_totalprice"), R).alias("revenue"), F.count("*").alias("n_orders"))
    )


SQL_TPCH_JOIN3 = """
SELECT r_name, ROUND(sum(o_totalprice), 6) AS revenue, count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 incremental-append analogue: per-type daily event rollup."""
    from gridmet_etl_spark.sources.readers import read_events

    e = read_events(spark, _t(sf_dir, "events"))
    return (
        e.groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), R).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


SQL_EVENTS_DAILY = """
SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n_events,
       ROUND(sum(value), 6) AS sum_value, count(DISTINCT user_id) AS n_users
FROM events GROUP BY CAST(ts AS DATE), event_type
"""


def q_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch tumbling-window rollup (the streaming operator's batch twin —
    same F.window expression Structured Streaming uses)."""
    from gridmet_etl_spark.sources.readers import read_events

    e = read_events(spark, _t(sf_dir, "events"))
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), R).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


SQL_EVENTS_WINDOW = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
       count(*) AS n_events, ROUND(sum(value), 6) AS sum_value
FROM events GROUP BY time_bucket(INTERVAL '1 hour', ts), event_type
"""


def q_events_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-frame window functions over the daily series: 7-day moving
    average (ROWS BETWEEN 6 PRECEDING) and day-over-day delta via lag —
    the window is partitioned by event_type, so parallelism = |types| and
    no global sort exists."""
    from pyspark.sql import Window as W

    from gridmet_etl_spark.sources.readers import read_events

    e = read_events(spark, _t(sf_dir, "events"))
    daily = e.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
        F.sum("value").alias("sv")
    )
    wma = W.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
    wlag = W.partitionBy("event_type").orderBy("day")
    return daily.select(
        "day",
        "event_type",
        F.round("sv", R).alias("sum_value"),
        F.round(F.avg("sv").over(wma), R).alias("ma7"),
        F.round(F.col("sv") - F.lag("sv", 1).over(wlag), R).alias("delta"),
    )


SQL_EVENTS_MOVING_AVG = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, event_type, sum(value) AS sv
  FROM events GROUP BY CAST(ts AS DATE), event_type)
SELECT day, event_type, ROUND(sv, 6) AS sum_value,
       ROUND(avg(sv) OVER (PARTITION BY event_type ORDER BY day
                           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS ma7,
       ROUND(sv - lag(sv, 1) OVER (PARTITION BY event_type ORDER BY day), 6) AS delta
FROM daily
"""


def q_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gap-based sessionization (30-min inactivity gap) — the
    oracle-checkable twin of streaming/events.py::sessionize: lag →
    new-session flag → running count = session index → per-session rollup
    (operators/sessionize.py). Two windows + one agg, all partitioned by
    user (no global sort); the per-key sort is hub-bounded here by the
    sf fixtures' key cardinality — bot-heavy streams pass
    ``bucket_seconds`` for the identical-output segment-and-merge plan
    (property-tested in tests/test_sessionize.py)."""
    from gridmet_etl_spark.operators.sessionize import gap_sessionize, session_rollup
    from gridmet_etl_spark.sources.readers import read_events

    e = read_events(spark, _t(sf_dir, "events")).select(
        "user_id", "ts", "value", "event_id"
    )
    # ts is TIMESTAMP_NTZ (unix_micros rejects it); timestamp subtraction
    # yields a day-time interval on both tz and ntz inputs, so the 30-min
    # gap test stays timezone-independent.
    sessioned = gap_sessionize(
        e, key_col="user_id", ts_col="ts", gap_seconds=1800,
        order_cols=["event_id"],
    )
    return session_rollup(sessioned, round_digits=R)


SQL_SESSIONIZE_BATCH = """
WITH flagged AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN ts - lag(ts, 1) OVER w > INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sessioned AS (
  SELECT user_id, ts, value,
         -- sum(INT) is HUGEINT in DuckDB; cast so the group key hashes as int64
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
  FROM flagged)
SELECT user_id, session_idx,
       -- events.ts is TIMESTAMP_NS in DuckDB and min/max preserve ns, while
       -- the Spark side floors ns->us at read (readers.read_events); CAST to
       -- TIMESTAMP (us) truncates identically so the value-hash agrees
       CAST(min(ts) AS TIMESTAMP) AS session_start,
       CAST(max(ts) AS TIMESTAMP) AS session_end,
       count(*) AS n_events, ROUND(sum(value), 6) AS sum_value
FROM sessioned GROUP BY user_id, session_idx
"""


def q_tpch_q7ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape — the same dimension joined under TWO roles (supplier
    nation vs customer nation) with a year extraction: volume shipped
    between each ordered nation pair per year. Broadcast both nation
    aliases; the fact side shuffles only for the final aggregation."""
    li = _pq(spark, _t(sf_dir, "lineitem"))
    o = _pq(spark, _t(sf_dir, "orders"))
    c = _pq(spark, _t(sf_dir, "customer"))
    s = _pq(spark, _t(sf_dir, "supplier"))
    n = _pq(spark, _t(sf_dir, "nation"))
    n1 = n.select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("ck"), F.col("n_name").alias("cust_nation"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == n1.sk)
        .join(F.broadcast(n2), c.c_nationkey == n2.ck)
        .filter(F.col("supp_nation") < F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), R).alias(
                "volume"
            ),
            F.count("*").alias("n_lineitems"),
        )
    )


SQL_TPCH_Q7ISH = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       ROUND(sum(l_extendedprice * (1 - l_discount)), 6) AS volume,
       count(*) AS n_lineitems
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name < n2.n_name
GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
"""


def q_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram frequencies (array-zip surface): adjacent token pairs
    via arrays_zip(tokens, slice(tokens, 2)), exploded map-locally, counted
    with partial agg, global top-50 via TakeOrderedAndProject."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    toks = F.split(F.col("text"), " ")
    pairs = F.arrays_zip(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
    )
    return (
        docs.select(F.explode(pairs).alias("p"))
        .select(F.concat_ws(" ", F.col("p.0"), F.col("p.1")).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram"))
        .limit(50)
    )


SQL_BIGRAM_TOPK = """
WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
pairs AS (
  SELECT t[i] || ' ' || t[i + 1] AS bigram
  FROM toks, generate_series(1, 2000) g(i)
  WHERE i <= len(t) - 1)
SELECT bigram, count(*) AS n
FROM pairs GROUP BY bigram ORDER BY n DESC, bigram LIMIT 50
"""


def q_media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column surface: per-kind stats over opaque media payloads —
    count, total bytes, and a deterministic content digest (md5 over hex:
    both engines hex uppercase, so the digest is portable; Spark's md5
    accepts binary directly but DuckDB's wants VARCHAR). Payloads never
    shuffle: partial agg reduces each partition to 3 rows."""
    m = _pq(spark, FX["media"])
    return m.groupBy("kind").agg(
        F.count("*").alias("n"),
        F.sum(F.length("payload")).alias("total_bytes"),
        F.min(F.md5(F.hex("payload"))).alias("min_digest"),
        F.count("width").alias("n_with_dims"),
    )


SQL_MEDIA_STATS = f"""
SELECT kind, count(*) AS n,
       -- DuckDB sum(INT) is HUGEINT (128-bit) which stringifies differently
       -- from Spark's BIGINT in the driver's hash layer; cast to match
       CAST(sum(octet_length(payload)) AS BIGINT) AS total_bytes,
       min(md5(hex(payload))) AS min_digest, count(width) AS n_with_dims
FROM '{FX["media"]}' GROUP BY kind
"""


def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof two-phase aggregation must be value-identical to the
    plain GROUP BY (the oracle IS the plain form): phase 1 on (key, salt)
    bounds any task to ~1/16 of the hottest key, phase 2 merges partials."""
    from gridmet_etl_spark.operators.scale import salted_sum

    li = _pq(spark, _t(sf_dir, "lineitem"))
    out = salted_sum(
        li,
        ["l_returnflag"],
        {"l_quantity": "sum", "l_orderkey": "count", "l_extendedprice": "max"},
    )
    return out.select(
        "l_returnflag",
        F.round("sum_l_quantity", R).alias("sum_qty"),
        F.col("count_l_orderkey").alias("n_rows"),
        F.round("max_l_extendedprice", R).alias("max_price"),
    )


SQL_SALTED_AGG = """
SELECT l_returnflag, ROUND(sum(l_quantity), 6) AS sum_qty,
       count(l_orderkey) AS n_rows, ROUND(max(l_extendedprice), 6) AS max_price
FROM lineitem GROUP BY l_returnflag
"""


def q_tpch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (hierarchical subtotals — cube's sibling;
    Spark expands both through the same Expand operator)."""
    li = _pq(spark, _t(sf_dir, "lineitem"))
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"), F.round(F.sum("l_quantity"), R).alias("sum_qty")
    )


SQL_TPCH_ROLLUP = """
SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
       ROUND(sum(l_quantity), 6) AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured surface: extract a numeric field from the JSON
    ``props`` column (get_json_object — codegen'd Jackson path eval, no
    UDF) and aggregate it per event type."""
    from gridmet_etl_spark.sources.readers import read_events

    e = read_events(spark, _t(sf_dir, "events"))
    return (
        e.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.round(F.avg("k"), R).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
    )


SQL_EVENTS_PROPS_JSON = """
SELECT event_type, count(k) AS n_with_k, ROUND(avg(k), 6) AS avg_k, max(k) AS max_k
FROM (SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events)
GROUP BY event_type
"""


def q_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the watermarked stream-stream join: view→click pairs
    per user within 10 minutes (equi key + time-range predicate)."""
    from gridmet_etl_spark.sources.readers import read_events
    from gridmet_etl_spark.streaming.attribution import attribution_join

    e = read_events(spark, _t(sf_dir, "events"))
    out = attribution_join(e, within_minutes=10)
    return out.select(
        "user_id", "left_id", "right_id", F.round("lag_seconds", R).alias("lag_seconds")
    )


SQL_ATTRIBUTION_JOIN = """
SELECT l.user_id, l.event_id AS left_id, r.event_id AS right_id,
       ROUND(CAST(epoch_us(r.ts) - epoch_us(l.ts) AS DOUBLE) / 1000000.0, 6) AS lag_seconds
FROM (SELECT * FROM events WHERE event_type = 'view') l
JOIN (SELECT * FROM events WHERE event_type = 'click') r
  ON l.user_id = r.user_id
 AND r.ts >= l.ts
 AND epoch_us(r.ts) - epoch_us(l.ts) <= 600 * 1000000
"""


def q_tpch_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ORDER BY + LIMIT (TakeOrderedAndProject — no full sort at
    scale), deterministic tie-break."""
    o = _pq(spark, _t(sf_dir, "orders"))
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", R).alias("o_totalprice"))
    )


SQL_TPCH_TOPN = """
SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 6) AS o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


def q_tpch_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping-set aggregation (beyond-reference relational surface)."""
    li = _pq(spark, _t(sf_dir, "lineitem"))
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"), F.round(F.sum("l_quantity"), R).alias("sum_qty")
    )


SQL_TPCH_CUBE = """
SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
       ROUND(sum(l_quantity), 6) AS sum_qty
FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: each purchase event annotated with the user's
    most recent prior signup/click value (feature-store label-join shape).
    Right side deduped to one row per (user, ts) for cross-engine tie
    determinism."""
    from gridmet_etl_spark.operators.asof import asof_join
    from gridmet_etl_spark.sources.readers import read_events

    e = read_events(spark, _t(sf_dir, "events")).withColumn(
        "ts", F.date_trunc("second", F.col("ts"))
    )  # second-truncate: DuckDB stores ns, Spark µs — equalize the compare
    left = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    right = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
    )
    out = asof_join(left, right, on="user_id", left_ts="ts", right_ts="ts")
    return out.select(
        "user_id",
        "purchase_id",
        F.round("click_value_right", R).alias("click_value"),
        F.col("ts_right").alias("click_ts"),
    )


SQL_ASOF_JOIN = """
WITH l AS (
  SELECT user_id, date_trunc('second', ts) AS ts, event_id AS purchase_id
  FROM events WHERE event_type = 'purchase'),
r AS (
  SELECT user_id, date_trunc('second', ts) AS ts, max(value) AS click_value
  FROM events WHERE event_type = 'click' GROUP BY user_id, date_trunc('second', ts))
SELECT l.user_id, l.purchase_id, ROUND(r.click_value, 6) AS click_value,
       r.ts AS click_ts
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def q_tpch_q5ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 shape: 6-way join through the dimension chain with a region
    filter and a date range — exercises join reordering + broadcast
    selection across the star schema."""
    li = _pq(spark, _t(sf_dir, "lineitem"))
    o = _pq(spark, _t(sf_dir, "orders"))
    c = _pq(spark, _t(sf_dir, "customer"))
    s = _pq(spark, _t(sf_dir, "supplier"))
    n = _pq(spark, _t(sf_dir, "nation"))
    r = _pq(spark, _t(sf_dir, "region"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .filter(F.col("o_orderdate").between("1994-01-01", "1996-12-31"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), R
            ).alias("revenue"),
            F.count("*").alias("n_lineitems"),
        )
    )


SQL_TPCH_Q5ISH = """
SELECT n_name,
       ROUND(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue,
       count(*) AS n_lineitems
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA' AND o_orderdate BETWEEN DATE '1994-01-01' AND DATE '1996-12-31'
GROUP BY n_name
"""


def q_tpch_q19ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: disjunction of conjunctive predicates across the join —
    exercises predicate normalization/pushdown through OR branches."""
    li = _pq(spark, _t(sf_dir, "lineitem"))
    p = _pq(spark, _t(sf_dir, "part"))
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 15) & (F.col("l_quantity") >= 5))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size") <= 30) & (F.col("l_quantity") >= 10))
        | ((F.col("p_brand") == "Brand#3") & (F.col("l_discount") > 0.05))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), R).alias(
                "revenue"
            ),
            F.count("*").alias("n_rows"),
        )
    )


SQL_TPCH_Q19ISH = """
SELECT ROUND(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue,
       count(*) AS n_rows
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size <= 15 AND l_quantity >= 5)
   OR (p_brand = 'Brand#2' AND p_size <= 30 AND l_quantity >= 10)
   OR (p_brand = 'Brand#3' AND l_discount > 0.05)
"""


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-containment join (bucketed equi-join + exact BETWEEN):
    purchases landing inside 2-hour windows opened by each signup."""
    from gridmet_etl_spark.operators.rangejoin import range_join
    from gridmet_etl_spark.sources.readers import read_events

    e = read_events(spark, _t(sf_dir, "events")).withColumn(
        "ts", F.date_trunc("second", F.col("ts"))
    )
    points = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    intervals = e.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("event_id").alias("signup_id"),
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end"),
    )
    out = range_join(points, intervals, on="user_id", granule_seconds=3600)
    return out.select("user_id", "purchase_id", "signup_id")


SQL_RANGE_JOIN = """
WITH p AS (
  SELECT user_id, date_trunc('second', ts) AS ts, event_id AS purchase_id
  FROM events WHERE event_type = 'purchase'),
s AS (
  SELECT user_id, event_id AS signup_id, date_trunc('second', ts) AS start_ts,
         date_trunc('second', ts) + INTERVAL 2 HOUR AS end_ts
  FROM events WHERE event_type = 'signup')
SELECT p.user_id, p.purchase_id, s.signup_id
FROM p JOIN s ON p.user_id = s.user_id AND p.ts BETWEEN s.start_ts AND s.end_ts
"""


def q_qa_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate: key uniqueness, null rate, weight-sum envelope."""
    from gridmet_etl_spark.operators.qa import qa_report

    out = qa_report(grid=_grid(spark), weights=_weights(spark))
    return out.select("check", "metric", F.round("value", R).alias("value"), "ok")


SQL_QA_CHECKS = f"""
WITH dupes AS (
  SELECT count(*) AS n FROM (
    SELECT var, ens, time, i, j FROM '{FX["grid"]}'
    GROUP BY var, ens, time, i, j HAVING count(*) > 1)),
nulls AS (
  SELECT CAST(count(CASE WHEN value IS NULL THEN 1 END) AS DOUBLE) / count(*) AS r
  FROM '{FX["grid"]}'),
wsums AS (SELECT feature_id, sum(wght) AS s FROM '{FX["weights"]}' GROUP BY feature_id),
wagg AS (
  SELECT min(s) AS mn, max(s) AS mx,
         count(CASE WHEN s < 0.8 OR s > 1.0 + 1e-9 THEN 1 END) AS bad
  FROM wsums)
SELECT 'grid_duplicates' AS check, 'n_dupe_keys' AS metric,
       ROUND(CAST(n AS DOUBLE), {R}) AS value, n = 0 AS ok FROM dupes
UNION ALL
SELECT 'grid_null_rate', 'null_rate', ROUND(r, {R}), r <= 0.10 FROM nulls
UNION ALL
SELECT 'weights_sum_min', 'min_weight_sum', ROUND(mn, {R}), mn >= 0.8 FROM wagg
UNION ALL
SELECT 'weights_sum_max', 'max_weight_sum', ROUND(mx, {R}), mx <= 1.0 + 1e-9 FROM wagg
UNION ALL
SELECT 'weights_out_of_range', 'n_features', ROUND(CAST(bad AS DOUBLE), {R}), bad = 0 FROM wagg
"""


def q_approx_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates (HLL distinct + quantile sketch) alongside
    their exact twins. Sketch values are engine-specific, so the hashed
    projection carries the EXACT aggregates plus deterministic booleans
    asserting each sketch lands within tolerance of its exact twin (the
    oracle states them as TRUE). The sketches still run inside the checked
    plan; tighter error-bound assertions live in pytest."""
    li = _pq(spark, _t(sf_dir, "lineitem"))
    return li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("n_parts"),
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), R).alias("median_price"),
        F.count("*").alias("n_rows"),
        (
            F.abs(
                F.approx_count_distinct("l_partkey") - F.count_distinct("l_partkey")
            )
            <= 0.10 * F.count_distinct("l_partkey")
        ).alias("approx_parts_ok"),
        (
            F.abs(
                F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(1000))
                - F.expr("percentile(l_extendedprice, 0.5)")
            )
            <= 0.10 * F.expr("percentile(l_extendedprice, 0.5)")
        ).alias("approx_median_ok"),
    )


SQL_APPROX_AGGS = """
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS n_parts,
       ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS median_price,
       count(*) AS n_rows,
       TRUE AS approx_parts_ok,
       TRUE AS approx_median_ok
FROM lineitem GROUP BY l_returnflag
"""


def q_tpch_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery shape (Catalyst decorrelates to a join): orders
    priced above their customer's average order value."""
    o = _pq(spark, _t(sf_dir, "orders"))
    avg_per_cust = o.groupBy("o_custkey").agg(F.avg("o_totalprice").alias("cust_avg"))
    return (
        o.join(avg_per_cust, "o_custkey")
        .filter(F.col("o_totalprice") > F.col("cust_avg"))
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_above"),
            F.round(F.max("o_totalprice"), R).alias("max_price"),
        )
    )


SQL_TPCH_ABOVE_AVG = """
SELECT o_custkey, count(*) AS n_above, ROUND(max(o_totalprice), 6) AS max_price
FROM orders o
WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders i
                      WHERE i.o_custkey = o.o_custkey)
GROUP BY o_custkey
"""


def q_tpch_outer_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join + null-aware aggregation: every customer with order
    stats, zero-filled for the orderless."""
    c = _pq(spark, _t(sf_dir, "customer"))
    o = _pq(spark, _t(sf_dir, "orders"))
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), R).alias("total_spend"),
        )
    )


SQL_TPCH_OUTER_AGG = """
SELECT c_custkey, c_mktsegment, count(o_orderkey) AS n_orders,
       ROUND(COALESCE(sum(o_totalprice), 0.0), 6) AS total_spend
FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_mktsegment
"""


def q_tpch_q18ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape — aggregate, HAVING-filter, then join back: large-volume
    orders (sum qty > 100) with their customer. The having-filtered agg is
    tiny, so AQE broadcasts it into the orders/customer joins."""
    li = _pq(spark, _t(sf_dir, "lineitem"))
    o = _pq(spark, _t(sf_dir, "orders"))
    c = _pq(spark, _t(sf_dir, "customer"))
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_raw_qty"))
        # filter the RAW sum (like the oracle's HAVING), round only for
        # output — rounding first would flip sums just above the threshold
        .filter(F.col("_raw_qty") > 100)
        .select("l_orderkey", F.round("_raw_qty", R).alias("tot_qty"))
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "l_orderkey",
            F.date_trunc("second", F.col("o_orderdate")).alias("o_orderdate"),
            "tot_qty",
        )
    )


SQL_TPCH_Q18ISH = """
SELECT c_name, l_orderkey, date_trunc('second', o_orderdate) AS o_orderdate, tot_qty
FROM (SELECT l_orderkey, ROUND(sum(l_quantity), 6) AS tot_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 100) big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q_tpch_q16ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape — DISTINCT aggregate with an anti-joined exclusion list:
    distinct supplier count per (p_brand, p_size), excluding suppliers with
    negative account balance. count(distinct) expands to a two-phase agg;
    the exclusion list is broadcast anti-joined."""
    li = _pq(spark, _t(sf_dir, "lineitem"))
    p = _pq(spark, _t(sf_dir, "part"))
    s = _pq(spark, _t(sf_dir, "supplier"))
    bad = s.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


SQL_TPCH_Q16ISH = """
SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_size
"""


def q_tpch_q13ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape — customer order-count distribution: outer join so
    orderless customers count as 0, then a second aggregation over the
    first's result (two chained shuffles, the classic histogram query)."""
    c = _pq(spark, _t(sf_dir, "customer"))
    o = _pq(spark, _t(sf_dir, "orders")).filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


SQL_TPCH_Q13ISH = """
SELECT c_count, count(*) AS custdist
FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey)
GROUP BY c_count
"""


def q_climatology_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gridmet_etl_spark.operators.timeseries import climatology_anomaly

    out = climatology_anomaly(_grid(spark), keys=("var", "ens", "i", "j"))
    return out.select(
        "var", "ens", "time", "i", "j", "value",
        F.round("clim", R).alias("clim"),
        # + 0.0 normalizes IEEE -0.0 (tiny negative anomalies round to it)
        (F.round("anomaly", R) + F.lit(0.0)).alias("anomaly"),
    )


SQL_CLIMATOLOGY_ANOMALY = f"""
SELECT var, ens, time, i, j, value,
       ROUND(avg(value) OVER w, {R}) AS clim,
       ROUND(value - avg(value) OVER w, {R}) + 0.0 AS anomaly
FROM '{FX["grid"]}'
WINDOW w AS (PARTITION BY var, ens, i, j)
"""


def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gridmet_etl_spark.operators.timeseries import gap_fill_linear

    out = gap_fill_linear(
        _grid(spark), key_cols=("var", "ens", "i", "j"),
        ts_col="time", value_col="value",
    )
    return out.select(
        "var", "ens", "i", "j", "t_us", "value", "was_null",
        F.round("filled", R).alias("filled"),
    )


SQL_GAP_FILL = f"""
WITH b AS (
  SELECT var, ens, i, j, epoch_us(CAST(time AS TIMESTAMP)) AS t_us, value
  FROM '{FX["grid"]}'),
w AS (
  SELECT *,
    last_value(CASE WHEN value IS NOT NULL THEN t_us END IGNORE NULLS)
      OVER wp AS pt,
    last_value(value IGNORE NULLS) OVER wp AS pv,
    first_value(CASE WHEN value IS NOT NULL THEN t_us END IGNORE NULLS)
      OVER wn AS nt,
    first_value(value IGNORE NULLS) OVER wn AS nv
  FROM b
  WINDOW
    wp AS (PARTITION BY var, ens, i, j ORDER BY t_us
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
    wn AS (PARTITION BY var, ens, i, j ORDER BY t_us
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
SELECT var, ens, i, j, t_us, value, value IS NULL AS was_null,
       ROUND(COALESCE(
         value,
         CASE WHEN nt = pt THEN pv
              ELSE pv + (nv - pv)
                   * (CAST(t_us - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
         END,
         pv, nv), {R}) AS filled
FROM w
"""


def q_resample_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gridmet_etl_spark.operators.timeseries import resample_time

    out = resample_time(_grid(spark), freq="week")
    return out.select(
        "var", "ens", "i", "j",
        F.col("bucket").cast("date").alias("bucket"),
        "n_rows", "n_obs",
        F.round("vmean", R).alias("vmean"),
        "vmin", "vmax",
    )


SQL_RESAMPLE_WEEKLY = f"""
SELECT var, ens, i, j,
       CAST(date_trunc('week', CAST(time AS TIMESTAMP)) AS DATE) AS bucket,
       count(*) AS n_rows, count(value) AS n_obs,
       ROUND(avg(value), {R}) AS vmean,
       min(value) AS vmin, max(value) AS vmax
FROM '{FX["grid"]}'
GROUP BY 1, 2, 3, 4, 5
"""


def q_zscore_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gridmet_etl_spark.operators.normalize import zscore_normalize

    out = zscore_normalize(_grid(spark), keys=("var", "ens"))
    return out.select(
        "var", "ens", "time", "i", "j", "value",
        F.round("mu", R).alias("mu"),
        F.round("sigma", R).alias("sigma"),
        F.round("z", R).alias("z"),
    )


SQL_ZSCORE_GRID = f"""
WITH s AS (
  SELECT var, ens, avg(value) AS mu, stddev_pop(value) AS sigma
  FROM '{FX["grid"]}' GROUP BY 1, 2)
SELECT g.var, g.ens, g.time, g.i, g.j, g.value,
       ROUND(s.mu, {R}) AS mu, ROUND(s.sigma, {R}) AS sigma,
       ROUND(CASE WHEN s.sigma > 0 THEN (g.value - s.mu) / s.sigma END, {R}) AS z
FROM '{FX["grid"]}' g JOIN s USING (var, ens)
"""


def q_winsorize_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gridmet_etl_spark.operators.normalize import winsorize_clip

    out = winsorize_clip(_grid(spark), keys=("var",), p_lo=0.05, p_hi=0.95)
    return out.select(
        "var", "ens", "time", "i", "j", "value",
        F.round("lo", R).alias("lo"),
        F.round("hi", R).alias("hi"),
        F.round("clipped", R).alias("clipped"),
    )


SQL_WINSORIZE_GRID = f"""
WITH b AS (
  SELECT var, quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi
  FROM '{FX["grid"]}' GROUP BY 1)
SELECT g.var, g.ens, g.time, g.i, g.j, g.value,
       ROUND(b.lo, {R}) AS lo, ROUND(b.hi, {R}) AS hi,
       ROUND(CASE WHEN g.value < b.lo THEN b.lo
                  WHEN g.value > b.hi THEN b.hi
                  ELSE g.value END, {R}) AS clipped
FROM '{FX["grid"]}' g JOIN b USING (var)
"""


CONTRACT_QUERIES = {
    "climatology_anomaly": (q_climatology_anomaly, SQL_CLIMATOLOGY_ANOMALY),
    "resample_weekly": (q_resample_weekly, SQL_RESAMPLE_WEEKLY),
    "zscore_grid": (q_zscore_grid, SQL_ZSCORE_GRID),
    "winsorize_grid": (q_winsorize_grid, SQL_WINSORIZE_GRID),
    "gap_fill": (q_gap_fill, SQL_GAP_FILL),
    "tpch_weighted_mean": (q_tpch_weighted_mean, SQL_TPCH_WEIGHTED_MEAN),
    "tpch_q1": (q_tpch_q1, SQL_TPCH_Q1),
    "tpch_semi_anti": (q_tpch_semi_anti, SQL_TPCH_SEMI_ANTI),
    "tpch_window_topk": (q_tpch_window_topk, SQL_TPCH_WINDOW_TOPK),
    "tpch_join3": (q_tpch_join3, SQL_TPCH_JOIN3),
    "events_daily": (q_events_daily, SQL_EVENTS_DAILY),
    "events_window": (q_events_window, SQL_EVENTS_WINDOW),
    "events_moving_avg": (q_events_moving_avg, SQL_EVENTS_MOVING_AVG),
    "sessionize_batch": (q_sessionize_batch, SQL_SESSIONIZE_BATCH),
    "attribution_join": (q_attribution_join, SQL_ATTRIBUTION_JOIN),
    "tpch_topn": (q_tpch_topn, SQL_TPCH_TOPN),
    "tpch_cube": (q_tpch_cube, SQL_TPCH_CUBE),
    "tpch_rollup": (q_tpch_rollup, SQL_TPCH_ROLLUP),
    "salted_agg": (q_salted_agg, SQL_SALTED_AGG),
    "media_stats": (q_media_stats, SQL_MEDIA_STATS),
    "tpch_q7ish": (q_tpch_q7ish, SQL_TPCH_Q7ISH),
    "bigram_topk": (q_bigram_topk, SQL_BIGRAM_TOPK),
    "events_props_json": (q_events_props_json, SQL_EVENTS_PROPS_JSON),
    "tpch_above_avg": (q_tpch_above_avg, SQL_TPCH_ABOVE_AVG),
    "tpch_outer_agg": (q_tpch_outer_agg, SQL_TPCH_OUTER_AGG),
    "tpch_q18ish": (q_tpch_q18ish, SQL_TPCH_Q18ISH),
    "tpch_q16ish": (q_tpch_q16ish, SQL_TPCH_Q16ISH),
    "tpch_q13ish": (q_tpch_q13ish, SQL_TPCH_Q13ISH),
    "asof_join": (q_asof_join, SQL_ASOF_JOIN),
    "tpch_q5ish": (q_tpch_q5ish, SQL_TPCH_Q5ISH),
    "tpch_q19ish": (q_tpch_q19ish, SQL_TPCH_Q19ISH),
    "range_join": (q_range_join, SQL_RANGE_JOIN),
    "qa_checks": (q_qa_checks, SQL_QA_CHECKS),
    "approx_aggs": (q_approx_aggs, SQL_APPROX_AGGS),
}
