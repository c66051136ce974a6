"""Round-9 wave-7 contract entries: five structure-discovery shapes —
Granger lag-causality (temporal precedence, completing the causal
family), frequent 3-event paths (the minimal sequence-mining readout),
Ripley's K (point-pattern clustering on the reference-shaped raster),
ABC/Pareto classification, and Herfindahl concentration.

Discipline: classes/pairs/paths are decided by exact integer arithmetic
(cum·100 ≤ pct·total cuts, offset-join pair counts, total-order
tiebreaks); regressions solve in closed form from DECIMAL(38,0) moments;
each published float is one fixed-operand-order double expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .contract import FX, R, _t

EXT26_QUERIES: dict = {}

# ---------------------------------------------------------------------------
# granger_lead: does the market return lead each priority's return?
# ---------------------------------------------------------------------------


def q_granger_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 Granger F per priority: x_t ~ x_{t−1} (+ market_{t−1}?) on
    e6 daily revenue returns — closed-form two-regressor OLS from nine
    exact DECIMAL(38,0) moments
    (operators/causal.py::granger_lag1)."""
    from gridmet_etl_spark.operators.causal import granger_lag1

    o = spark.read.parquet(_t(sf_dir, "orders"))
    daily = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").cast("date").alias("day"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("cents")
    )
    wp = Window.partitionBy("priority").orderBy("day")
    asset = daily.select(
        "priority",
        "day",
        F.round(
            (F.col("cents") - F.lag("cents").over(wp)).cast("double")
            * 1e6
            / F.lag("cents").over(wp).cast("double"),
            0,
        ).cast("long").alias("r"),
    ).filter(F.col("r").isNotNull())
    mdaily = daily.groupBy("day").agg(F.sum("cents").alias("cents"))
    wm = Window.orderBy("day")
    market = mdaily.select(
        "day",
        F.round(
            (F.col("cents") - F.lag("cents").over(wm)).cast("double")
            * 1e6
            / F.lag("cents").over(wm).cast("double"),
            0,
        ).cast("long").alias("rm"),
    ).filter(F.col("rm").isNotNull())
    lagged = asset.select(
        "priority",
        "day",
        F.col("r").alias("v"),
        F.lag("r").over(wp).alias("u"),
    )
    joined = (
        lagged.join(
            F.broadcast(
                market.select(
                    F.date_add(F.col("day"), 1).alias("day"),
                    F.col("rm").alias("w"),
                )
            ),
            "day",
        )
        .filter(F.col("u").isNotNull() & F.col("w").isNotNull())
    )
    return granger_lag1(joined, ["priority"], "v", "u", "w")


SQL_GRANGER_LEAD = f"""
WITH daily AS (
  SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS day,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1, 2),
asset AS (
  SELECT priority, day,
         CAST(round(CAST(cents - lag(cents) OVER w AS DOUBLE) * 1e6
                    / CAST(lag(cents) OVER w AS DOUBLE)) AS BIGINT) AS r
  FROM daily WINDOW w AS (PARTITION BY priority ORDER BY day)),
a2 AS (SELECT priority, day, r FROM asset WHERE r IS NOT NULL),
mdaily AS (SELECT day, sum(cents) AS cents FROM daily GROUP BY day),
market AS (
  SELECT day,
         CAST(round(CAST(cents - lag(cents) OVER w AS DOUBLE) * 1e6
                    / CAST(lag(cents) OVER w AS DOUBLE)) AS BIGINT) AS rm
  FROM mdaily WINDOW w AS (ORDER BY day)),
m2 AS (SELECT day, rm FROM market WHERE rm IS NOT NULL),
lagged AS (
  SELECT priority, day, r AS v,
         lag(r) OVER (PARTITION BY priority ORDER BY day) AS u
  FROM a2),
j AS (
  SELECT l.priority, l.v, l.u, m.rm AS w
  FROM lagged l JOIN m2 m ON l.day = m.day + 1
  WHERE l.u IS NOT NULL AND m.rm IS NOT NULL),
acc AS (
  SELECT priority, CAST(count(*) AS BIGINT) AS n,
         sum(CAST(u AS HUGEINT)) AS su, sum(CAST(w AS HUGEINT)) AS sw,
         sum(CAST(v AS HUGEINT)) AS sv,
         sum(CAST(u AS HUGEINT) * u) AS suu,
         sum(CAST(w AS HUGEINT) * w) AS sww,
         sum(CAST(u AS HUGEINT) * v) AS suv,
         sum(CAST(w AS HUGEINT) * v) AS swv,
         sum(CAST(u AS HUGEINT) * w) AS suw,
         sum(CAST(v AS HUGEINT) * v) AS svv
  FROM j GROUP BY priority),
cen AS (
  SELECT priority, n,
         CAST(n AS DOUBLE) * CAST(suu AS DOUBLE)
           - CAST(su AS DOUBLE) * CAST(su AS DOUBLE) AS cuu,
         CAST(n AS DOUBLE) * CAST(sww AS DOUBLE)
           - CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) AS cww,
         CAST(n AS DOUBLE) * CAST(suv AS DOUBLE)
           - CAST(su AS DOUBLE) * CAST(sv AS DOUBLE) AS cuv,
         CAST(n AS DOUBLE) * CAST(swv AS DOUBLE)
           - CAST(sw AS DOUBLE) * CAST(sv AS DOUBLE) AS cwv,
         CAST(n AS DOUBLE) * CAST(suw AS DOUBLE)
           - CAST(su AS DOUBLE) * CAST(sw AS DOUBLE) AS cuw,
         CAST(n AS DOUBLE) * CAST(svv AS DOUBLE)
           - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) AS cvv
  FROM acc),
sol AS (
  SELECT priority, n, cuu, cuv, cwv, cvv,
         cuu * cww - cuw * cuw AS det,
         (cuv * cww - cwv * cuw) AS bn,
         (cwv * cuu - cuv * cuw) AS cn
  FROM cen),
fin AS (
  SELECT priority, n,
         CASE WHEN det = 0.0 THEN 0.0 ELSE bn / det END AS b,
         CASE WHEN det = 0.0 THEN 0.0 ELSE cn / det END AS c,
         cvv - (bn / det) * cuv - (cn / det) * cwv AS sse_u,
         cvv - CASE WHEN cuu = 0.0 THEN 0.0
               ELSE cuv * cuv / cuu END AS sse_r,
         det
  FROM sol)
SELECT priority, n,
       ROUND(b, {R}) + 0 AS beta_ar,
       ROUND(c, {R}) + 0 AS beta_cross,
       ROUND(CASE WHEN n < 4 OR det = 0.0 OR sse_u <= 0.0 THEN 0.0
             ELSE (sse_r - sse_u) / (sse_u / (CAST(n AS DOUBLE) - 3.0))
             END, {R}) + 0 AS f_stat
FROM fin
"""


EXT26_QUERIES["granger_lead"] = (q_granger_lead, SQL_GRANGER_LEAD)

# ---------------------------------------------------------------------------
# trigram_paths: top consecutive 3-event paths across user histories
# ---------------------------------------------------------------------------


def q_trigram_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 consecutive event-type trigrams across user event streams
    (total order (ts, event_id); count ties break lexicographically on
    the path) — the 3-step sequence mining event_transitions' bigrams
    can't see (operators/funnel.py::event_trigrams)."""
    from gridmet_etl_spark.operators.funnel import event_trigrams
    from gridmet_etl_spark.sources.readers import read_events

    ev = read_events(spark, _t(sf_dir, "events"))
    return event_trigrams(ev, "user_id", "ts", "event_type", "event_id")


SQL_TRIGRAM_PATHS = """
WITH tri AS (
  SELECT event_type AS e1,
         lead(event_type, 1) OVER w AS e2,
         lead(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
counts AS (
  SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n_paths
  FROM tri WHERE e3 IS NOT NULL GROUP BY e1, e2, e3),
ranked AS (
  SELECT e1, e2, e3, n_paths,
         CAST(row_number() OVER (ORDER BY n_paths DESC, e1, e2, e3) AS INT)
           AS rank
  FROM counts)
SELECT * FROM ranked WHERE rank <= 20
"""


EXT26_QUERIES["trigram_paths"] = (q_trigram_paths, SQL_TRIGRAM_PATHS)

# ---------------------------------------------------------------------------
# ripley_k: wet-cell clustering on the pr raster slice
# ---------------------------------------------------------------------------


def q_ripley_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ripley's K(r), r = 1..4 (Chebyshev), of the wet cells (pr > 0) in
    the first precipitation slice — are rain cells clustered beyond the
    CSR expectation? Offsets explode onto the point relation, ONE equi
    join counts every pair (operators/geo.py::ripley_k)."""
    from gridmet_etl_spark.operators.geo import ripley_k

    grid = spark.read.parquet(FX["grid"]).filter(F.col("var") == "pr")
    t0 = grid.agg(F.min("time").alias("_t0"))
    wet = (
        grid.join(F.broadcast(t0), grid.time == t0._t0)
        .filter(F.col("value").isNotNull() & (F.col("value") > 0))
        .select("i", "j")
    )
    return ripley_k(wet, "i", "j", max_r=4)


SQL_RIPLEY_K = f"""
WITH wet AS (
  SELECT DISTINCT i, j
  FROM '{FX["grid"]}'
  WHERE var = 'pr'
    AND time = (SELECT min(time) FROM '{FX["grid"]}' WHERE var = 'pr')
    AND value IS NOT NULL AND value > 0),
offs AS (
  SELECT di.d AS di, dj.d AS dj, greatest(abs(di.d), abs(dj.d)) AS dist
  FROM (SELECT unnest(range(-4, 5)) AS d) di,
       (SELECT unnest(range(-4, 5)) AS d) dj
  WHERE NOT (di.d = 0 AND dj.d = 0)),
hits AS (
  SELECT offs.dist AS d, CAST(count(*) AS BIGINT) AS pairs_at
  FROM wet a, offs, wet b
  WHERE b.i = a.i + offs.di AND b.j = a.j + offs.dj
  GROUP BY offs.dist),
rings AS (SELECT unnest(range(1, 5)) AS d),
dense AS (
  SELECT rings.d, coalesce(hits.pairs_at, 0) AS pairs_at
  FROM rings LEFT JOIN hits ON hits.d = rings.d),
cum AS (
  SELECT d AS r,
         CAST(sum(pairs_at) OVER (ORDER BY d) AS BIGINT) AS n_pairs
  FROM dense),
ext AS (
  SELECT CAST(count(*) AS BIGINT) AS n_points,
         CAST((max(i) - min(i) + 1) * (max(j) - min(j) + 1) AS BIGINT)
           AS bbox
  FROM wet)
SELECT CAST(r AS INT) AS r, n_points, n_pairs,
       ROUND(CAST(bbox AS DOUBLE) * CAST(n_pairs AS DOUBLE)
             / (CAST(n_points AS DOUBLE) * CAST(n_points AS DOUBLE)),
             {R}) + 0 AS k_est
FROM cum, ext
"""


EXT26_QUERIES["ripley_k"] = (q_ripley_k, SQL_RIPLEY_K)

# ---------------------------------------------------------------------------
# abc_classes: Pareto revenue classes over the part catalog
# ---------------------------------------------------------------------------


def q_abc_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC classification of parts by revenue cents (A ≤ 80% cumulative,
    B ≤ 95%, C rest) — class cuts decided by exact integer cum·100 ≤
    pct·total comparisons (operators/profile.py::abc_classification)."""
    from gridmet_etl_spark.operators.profile import abc_classification

    li = spark.read.parquet(_t(sf_dir, "lineitem")).select(
        "l_partkey",
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
    )
    return abc_classification(li, "l_partkey", "cents")


SQL_ABC_CLASSES = """
WITH per AS (
  SELECT l_partkey AS k, sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS v
  FROM lineitem GROUP BY 1),
cum AS (
  SELECT k, v,
         sum(CAST(v AS HUGEINT)) OVER (ORDER BY v DESC, k) AS c
  FROM per),
tot AS (SELECT sum(CAST(v AS HUGEINT)) AS t FROM per),
classed AS (
  SELECT CASE WHEN c * 100 <= t * 80 THEN 'A'
              WHEN c * 100 <= t * 95 THEN 'B'
              ELSE 'C' END AS abc_class,
         v, t
  FROM cum, tot)
SELECT abc_class, CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(CAST(v AS HUGEINT)) AS DOUBLE) AS value_sum,
       ROUND(CAST(sum(CAST(v AS HUGEINT)) AS DOUBLE) / CAST(min(t) AS DOUBLE),
             6) + 0 AS value_share
FROM classed GROUP BY abc_class
"""


EXT26_QUERIES["abc_classes"] = (q_abc_classes, SQL_ABC_CLASSES)

# ---------------------------------------------------------------------------
# hhi_concentration: supplier revenue concentration per region
# ---------------------------------------------------------------------------


def q_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman index of supplier revenue within each region
    — exact DECIMAL(38,0) share moments, one division
    (operators/profile.py::herfindahl)."""
    from gridmet_etl_spark.operators.profile import herfindahl

    li = spark.read.parquet(_t(sf_dir, "lineitem")).select(
        "l_suppkey",
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
    )
    sup = spark.read.parquet(_t(sf_dir, "supplier")).select(
        "s_suppkey", "s_nationkey"
    )
    nat = spark.read.parquet(_t(sf_dir, "nation")).select(
        "n_nationkey", "n_regionkey"
    )
    reg = spark.read.parquet(_t(sf_dir, "region"))
    j = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select(F.col("r_name").alias("region"), "s_suppkey", "cents")
    )
    return herfindahl(j, ["region"], "s_suppkey", "cents")


SQL_HHI = f"""
WITH j AS (
  SELECT r_name AS region, s_suppkey,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey),
per AS (
  SELECT region, s_suppkey, sum(CAST(cents AS HUGEINT)) AS v
  FROM j GROUP BY 1, 2),
acc AS (
  SELECT region, CAST(count(*) AS BIGINT) AS n_members,
         sum(v) AS s, sum(v * v) AS q, max(v) AS mx
  FROM per GROUP BY region)
SELECT region, n_members,
       ROUND(CASE WHEN s = 0 THEN 0.0 ELSE CAST(q AS DOUBLE)
             / (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) END, {R}) + 0 AS hhi,
       ROUND(CASE WHEN s = 0 THEN 0.0
             ELSE 1.0 / (CAST(q AS DOUBLE)
                    / (CAST(s AS DOUBLE) * CAST(s AS DOUBLE))) END, {R}) + 0
         AS effective_n,
       ROUND(CASE WHEN s = 0 THEN 0.0
             ELSE CAST(mx AS DOUBLE) / CAST(s AS DOUBLE) END, {R}) + 0
         AS top_share
FROM acc
"""


EXT26_QUERIES["hhi_concentration"] = (q_hhi_concentration, SQL_HHI)
