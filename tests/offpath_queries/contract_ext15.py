"""Round-8 wave-3 contract entries: local clustering coefficient, weighted
Slope One recommendations, sharp regression discontinuity, the Wald IV
estimator, the Nelson–Aalen cumulative hazard, Hurst R/S analysis, and the
Murphy Brier-score decomposition.

Reference parity note: engine-extension surface (the reference is a fixed
two-pipeline ETL, SURVEY §3); oracles are the contract.

Discipline (README "output-type discipline"): graph counts, Slope One
deviation numerators, OLS/Wald moment sums, per-block m·Y_k rescaled-range
terms, and the e6 micro-probability Brier numerator are all EXACT integers
(DECIMAL(38,0)/HUGEINT where squares exceed int64); unordered double sums
(per-size R/S means, log-log OLS terms, Brier bin terms) quantize
max-normalized floor-e12 first; running hazard sums ride ordered window
frames (sequential order, the kaplan_meier precedent); displays round at R.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .contract import R, _t

EXT15_QUERIES: dict = {}

# ---------------------------------------------------------------------------
# clustering_coeff: neighborhood density of the co-supplier graph
# ---------------------------------------------------------------------------


def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient of the part CO-PURCHASE graph: parts
    are linked when they appear together in ≥2 orders — the
    co-occurrence THRESHOLD is the sparsification every real
    similarity-graph build applies (one shared order is noise; the
    supplier co-part graph without it is near-complete, the worst case
    for any triangle algorithm — see SCALE.md)
    (operators/graph.py::clustering_coefficient)."""
    from gridmet_etl_spark.operators.graph import clustering_coefficient

    op = (
        spark.read.parquet(_t(sf_dir, "lineitem"))
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    b = op.withColumnRenamed("p", "p2")
    edges = (
        op.join(b, "o")
        .where(F.col("p") < F.col("p2"))
        .groupBy(F.col("p").alias("src"), F.col("p2").alias("dst"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("src", "dst")
    )
    return clustering_coefficient(edges)


SQL_CLUSTERING_COEFF = f"""
WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
e AS (
  SELECT a.p AS a, b.p AS b
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2 HAVING count(*) >= 2),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS degree
  FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
  GROUP BY node),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
pt AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
  FROM (SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri)
  GROUP BY node)
SELECT d.node, d.degree,
       COALESCE(pt.n_triangles, 0) AS n_triangles,
       ROUND(2.0 * CAST(COALESCE(pt.n_triangles, 0) AS DOUBLE)
             / (CAST(d.degree AS DOUBLE) * (CAST(d.degree AS DOUBLE) - 1.0)),
             {R}) + 0 AS coeff
FROM deg d LEFT JOIN pt ON pt.node = d.node
WHERE d.degree >= 2
"""


EXT15_QUERIES["clustering_coeff"] = (q_clustering_coeff, SQL_CLUSTERING_COEFF)

# ---------------------------------------------------------------------------
# slope_one: closed-form CF predictions for unrated brands
# ---------------------------------------------------------------------------


def q_slope_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted Slope One predictions of per-brand purchase intensity for
    every (sampled customer, unrated brand) pair — ratings are exact
    integer total quantities, so the prediction is one float division of
    exact integer sums (operators/recommend.py::slope_one)."""
    from gridmet_etl_spark.operators.recommend import slope_one

    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    o = spark.read.parquet(_t(sf_dir, "orders")).select(
        "o_orderkey", "o_custkey"
    )
    p = spark.read.parquet(_t(sf_dir, "part")).select("p_partkey", "p_brand")
    ratings = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(F.col("o_custkey") % 10 == 0)
        .groupBy("o_custkey", "p_brand")
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("rt"))
    )
    return slope_one(ratings, "o_custkey", "p_brand", "rt")


SQL_SLOPE_ONE = f"""
WITH r AS (
  SELECT o_custkey AS u, p_brand AS i,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS rt
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  WHERE o_custkey % 10 = 0
  GROUP BY 1, 2),
pairs AS (
  SELECT a.i AS j, b.i AS i, CAST(count(*) AS BIGINT) AS c,
         CAST(sum(a.rt - b.rt) AS BIGINT) AS num
  FROM r a JOIN r b ON a.u = b.u AND a.i <> b.i
  GROUP BY 1, 2),
items AS (SELECT DISTINCT i FROM r),
cand AS (
  SELECT uu.u, it.i AS j
  FROM (SELECT DISTINCT u FROM r) uu CROSS JOIN items it
  WHERE NOT EXISTS (SELECT 1 FROM r WHERE r.u = uu.u AND r.i = it.i)),
scored AS (
  SELECT c.u, c.j, CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(p.num + p.c * r.rt) AS BIGINT) AS numer,
         CAST(sum(p.c) AS BIGINT) AS denom
  FROM cand c
  JOIN r ON r.u = c.u
  JOIN pairs p ON p.j = c.j AND p.i = r.i
  GROUP BY 1, 2)
SELECT u AS "user", j AS item, n_pairs, denom,
       ROUND(CAST(numer AS DOUBLE) / CAST(denom AS DOUBLE), {R}) + 0 AS pred
FROM scored
"""


EXT15_QUERIES["slope_one"] = (q_slope_one, SQL_SLOPE_ONE)

# ---------------------------------------------------------------------------
# rdd_estimate: order activity jump at the zero-balance threshold
# ---------------------------------------------------------------------------

_RDD_BW = 500_000  # ±$5000 in cents


def q_rdd_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharp RDD of per-customer order counts at the zero-balance cutoff
    (negative-balance accounts as the 'treated' rule side), local linear
    within ±$5000 (operators/causal.py::rdd_estimate). The synthetic
    tables carry no real discontinuity — the contract pins the exact
    two-sided fit arithmetic, effect ≈ 0 expected."""
    from gridmet_etl_spark.operators.causal import rdd_estimate

    cust = spark.read.parquet(_t(sf_dir, "customer")).select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("cents"),
    )
    oc = (
        spark.read.parquet(_t(sf_dir, "orders"))
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )
    units = cust.join(
        oc, cust.c_custkey == oc.o_custkey, "left"
    ).na.fill({"n_orders": 0})
    return rdd_estimate(units, "cents", "n_orders", cutoff=0, bandwidth=_RDD_BW)


SQL_RDD_ESTIMATE = f"""
WITH oc AS (
  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1),
units AS (
  SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS x,
         COALESCE(oc.n_orders, 0) AS y
  FROM customer LEFT JOIN oc ON o_custkey = c_custkey),
acc AS (
  SELECT
    CAST(count(CASE WHEN x >= -{_RDD_BW} AND x < 0 THEN 1 END) AS BIGINT)
      AS nl,
    sum(CASE WHEN x >= -{_RDD_BW} AND x < 0 THEN CAST(x AS HUGEINT) END)
      AS sxl,
    sum(CASE WHEN x >= -{_RDD_BW} AND x < 0 THEN CAST(y AS HUGEINT) END)
      AS syl,
    sum(CASE WHEN x >= -{_RDD_BW} AND x < 0 THEN CAST(x AS HUGEINT) * y END)
      AS sxyl,
    sum(CASE WHEN x >= -{_RDD_BW} AND x < 0 THEN CAST(x AS HUGEINT) * x END)
      AS sxxl,
    CAST(count(CASE WHEN x >= 0 AND x <= {_RDD_BW} THEN 1 END) AS BIGINT)
      AS nr,
    sum(CASE WHEN x >= 0 AND x <= {_RDD_BW} THEN CAST(x AS HUGEINT) END)
      AS sxr,
    sum(CASE WHEN x >= 0 AND x <= {_RDD_BW} THEN CAST(y AS HUGEINT) END)
      AS syr,
    sum(CASE WHEN x >= 0 AND x <= {_RDD_BW} THEN CAST(x AS HUGEINT) * y END)
      AS sxyr,
    sum(CASE WHEN x >= 0 AND x <= {_RDD_BW} THEN CAST(x AS HUGEINT) * x END)
      AS sxxr
  FROM units),
fits AS (
  SELECT nl, nr,
         CASE WHEN nl < 2 OR CAST(nl AS DOUBLE) * CAST(sxxl AS DOUBLE)
                   - CAST(sxl AS DOUBLE) * CAST(sxl AS DOUBLE) = 0.0 THEN 0.0
         ELSE (CAST(nl AS DOUBLE) * CAST(sxyl AS DOUBLE)
               - CAST(sxl AS DOUBLE) * CAST(syl AS DOUBLE))
              / (CAST(nl AS DOUBLE) * CAST(sxxl AS DOUBLE)
                 - CAST(sxl AS DOUBLE) * CAST(sxl AS DOUBLE)) END AS sl,
         CASE WHEN nr < 2 OR CAST(nr AS DOUBLE) * CAST(sxxr AS DOUBLE)
                   - CAST(sxr AS DOUBLE) * CAST(sxr AS DOUBLE) = 0.0 THEN 0.0
         ELSE (CAST(nr AS DOUBLE) * CAST(sxyr AS DOUBLE)
               - CAST(sxr AS DOUBLE) * CAST(syr AS DOUBLE))
              / (CAST(nr AS DOUBLE) * CAST(sxxr AS DOUBLE)
                 - CAST(sxr AS DOUBLE) * CAST(sxr AS DOUBLE)) END AS sr,
         CAST(sxl AS DOUBLE) AS sxld, CAST(syl AS DOUBLE) AS syld,
         CAST(sxr AS DOUBLE) AS sxrd, CAST(syr AS DOUBLE) AS syrd
  FROM acc),
ib AS (
  SELECT nl, nr, sl, sr,
         CASE WHEN nl < 1 THEN 0.0
              ELSE (syld - sl * sxld) / CAST(nl AS DOUBLE) END AS il,
         CASE WHEN nr < 1 THEN 0.0
              ELSE (syrd - sr * sxrd) / CAST(nr AS DOUBLE) END AS ir
  FROM fits)
SELECT nl AS n_left, nr AS n_right,
       ROUND(il, {R}) + 0 AS intercept_left,
       ROUND(ir, {R}) + 0 AS intercept_right,
       ROUND(sl, {R}) + 0 AS slope_left,
       ROUND(sr, {R}) + 0 AS slope_right,
       ROUND(ir - il, {R}) + 0 AS effect
FROM ib
"""


EXT15_QUERIES["rdd_estimate"] = (q_rdd_estimate, SQL_RDD_ESTIMATE)

# ---------------------------------------------------------------------------
# iv_wald: encouragement-design LATE on event activity
# ---------------------------------------------------------------------------


def q_iv_wald(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald IV estimate: instrument = md5 coin per user, 'treatment' =
    a deterministic encouragement-dependent engagement rule (z=1 users
    qualify at >5 events, z=0 at >20), outcome = purchase count — the
    contract pins the exact first-stage/reduced-form/ratio arithmetic
    (operators/causal.py::iv_wald)."""
    from gridmet_etl_spark.operators.causal import hash_pct, iv_wald
    from gridmet_etl_spark.sources.readers import read_events

    e = read_events(spark, _t(sf_dir, "events"))
    users = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_ev"),
        F.sum((F.col("event_type") == "purchase").cast("long"))
        .cast("long")
        .alias("y"),
    )
    z = (hash_pct(F.col("user_id"), "iv") < 50).cast("int")
    units = users.select(
        z.alias("z"),
        (
            ((z == 1) & (F.col("n_ev") > 5))
            | ((z == 0) & (F.col("n_ev") > 20))
        ).cast("int").alias("t"),
        "y",
    )
    return iv_wald(units, "z", "t", "y")


SQL_IV_WALD = f"""
WITH users AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_ev,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS y
  FROM events GROUP BY 1),
units AS (
  SELECT CASE WHEN CAST('0x' || substr(md5('iv:' || CAST(user_id AS VARCHAR)), 1, 6)
                   AS BIGINT) % 100 < 50 THEN 1 ELSE 0 END AS z,
         n_ev, y
  FROM users),
units2 AS (
  SELECT z,
         CASE WHEN (z = 1 AND n_ev > 5) OR (z = 0 AND n_ev > 20)
              THEN 1 ELSE 0 END AS t,
         y
  FROM units),
acc AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(z) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN z = 1 THEN y END) AS BIGINT) AS sy1,
         CAST(sum(CASE WHEN z = 0 THEN y END) AS BIGINT) AS sy0,
         CAST(sum(CASE WHEN z = 1 THEN t END) AS BIGINT) AS st1,
         CAST(sum(CASE WHEN z = 0 THEN t END) AS BIGINT) AS st0
  FROM units2),
itt AS (
  SELECT n, n1,
         CASE WHEN n1 = 0 OR n = n1 THEN 0.0
              ELSE CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                   - CAST(sy0 AS DOUBLE) / CAST(n - n1 AS DOUBLE) END AS iy,
         CASE WHEN n1 = 0 OR n = n1 THEN 0.0
              ELSE CAST(st1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                   - CAST(st0 AS DOUBLE) / CAST(n - n1 AS DOUBLE) END AS it
  FROM acc)
SELECT n, n1 AS n_z1,
       ROUND(iy, {R}) + 0 AS itt_y,
       ROUND(it, {R}) + 0 AS itt_t,
       ROUND(CASE WHEN it = 0.0 THEN NULL ELSE iy / it END, {R}) + 0 AS late
FROM itt
"""


EXT15_QUERIES["iv_wald"] = (q_iv_wald, SQL_IV_WALD)

# ---------------------------------------------------------------------------
# nelson_aalen: cumulative hazard on the kaplan_meier cohort
# ---------------------------------------------------------------------------


def q_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson–Aalen cumulative hazard per order priority over the SAME
    synthetic cohort kaplan_meier certifies (duration = orderkey-derived
    days, ~25% censored) — the −ln S vs H diagnostic pair
    (operators/stats.py::nelson_aalen)."""
    from gridmet_etl_spark.operators.stats import nelson_aalen

    o = spark.read.parquet(_t(sf_dir, "orders")).select(
        F.col("o_orderpriority").alias("grp"),
        (F.col("o_orderkey") % 60 + 1).alias("dur"),
        (F.col("o_orderkey") % 4 != 0).cast("int").alias("ev"),
    )
    return nelson_aalen(o, ["grp"], "dur", "ev")


SQL_NELSON_AALEN = f"""
WITH base AS (
  SELECT o_orderpriority AS grp,
         CAST(o_orderkey % 60 + 1 AS BIGINT) AS t,
         CAST(o_orderkey % 4 <> 0 AS INT) AS e
  FROM orders),
per_t AS (
  SELECT grp, t, CAST(sum(e) AS BIGINT) AS d, CAST(count(*) AS BIGINT) AS lv
  FROM base GROUP BY grp, t),
cum AS (
  SELECT grp, t, d,
         sum(lv) OVER (PARTITION BY grp)
           - COALESCE(sum(lv) OVER (PARTITION BY grp ORDER BY t
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS n
  FROM per_t),
haz AS (
  SELECT grp, t, d, n,
         CAST(d AS DOUBLE) / CAST(n AS DOUBLE) AS h,
         CAST(d AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS hv
  FROM cum),
run AS (
  SELECT grp, t, d, n,
         sum(h) OVER (PARTITION BY grp ORDER BY t
                      ROWS UNBOUNDED PRECEDING) AS hh,
         sum(hv) OVER (PARTITION BY grp ORDER BY t
                       ROWS UNBOUNDED PRECEDING) AS vv
  FROM haz)
SELECT grp, t, CAST(n AS BIGINT) AS n_risk, d,
       ROUND(hh, {R}) + 0 AS cumhaz,
       ROUND(vv, {R}) + 0 AS var
FROM run WHERE d > 0
"""


EXT15_QUERIES["nelson_aalen"] = (q_nelson_aalen, SQL_NELSON_AALEN)

# ---------------------------------------------------------------------------
# hurst_exponent: persistence of the daily event series
# ---------------------------------------------------------------------------

_HURST_SIZES = (16, 32, 64, 128)


def q_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent (R/S analysis at block sizes 16..128) of the daily
    ORDER-count series (~2400 days — the longest daily series in the
    corpus) — trending, mean-reverting, or random-walk? Block rescaled
    ranges are exact-integer m·Y_k forms; unordered means and the
    log-log OLS quantize e12 first
    (operators/timeseries.py::hurst_exponent)."""
    from gridmet_etl_spark.operators.timeseries import hurst_exponent

    o = spark.read.parquet(_t(sf_dir, "orders"))
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    return hurst_exponent(daily, "day", "cnt", block_sizes=_HURST_SIZES)


def _sql_hurst() -> str:
    sizes = ", ".join(f"({m})" for m in _HURST_SIZES)
    return f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, CAST(count(*) AS BIGINT) AS v
  FROM orders GROUP BY 1),
base AS (
  SELECT v AS x, row_number() OVER (ORDER BY day) - 1 AS rn FROM daily),
sizes(m) AS (VALUES {sizes}),
blocks AS (
  SELECT m, rn // m AS b, rn % m + 1 AS k, x FROM base, sizes),
nb AS (SELECT m, b FROM blocks GROUP BY m, b HAVING count(*) = m),
full_ AS (SELECT blocks.* FROM blocks JOIN nb USING (m, b)),
stepped AS (
  SELECT m, b, k, x,
         sum(CAST(x AS HUGEINT)) OVER (PARTITION BY m, b ORDER BY k
                                       ROWS UNBOUNDED PRECEDING) AS cs,
         sum(CAST(x AS HUGEINT)) OVER (PARTITION BY m, b) AS s,
         sum(CAST(x AS HUGEINT) * x) OVER (PARTITION BY m, b) AS q
  FROM full_),
my AS (SELECT m, b, m * cs - k * s AS my, s, q FROM stepped),
per_b AS (
  SELECT m, b, max(my) - min(my) AS r,
         any_value(s) AS s, any_value(q) AS q
  FROM my GROUP BY m, b),
rs AS (
  SELECT m, b, CAST(r AS DOUBLE) / sqrt(CAST(m * q - s * s AS DOUBLE)) AS rs
  FROM per_b WHERE CAST(m * q - s * s AS DOUBLE) > 0.0),
smax AS (SELECT m, max(rs) AS tm FROM rs GROUP BY m),
agg AS (
  SELECT rs.m, CAST(count(*) AS BIGINT) AS n_blocks,
         CAST(sum(CASE WHEN tm > 0.0
                       THEN CAST(floor(rs / tm * 1e12) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS qs,
         any_value(tm) AS tm
  FROM rs JOIN smax ON smax.m = rs.m GROUP BY rs.m),
sizesr AS (
  SELECT CAST(m AS BIGINT) AS block_size, n_blocks,
         CAST(qs AS DOUBLE) / 1e12 * tm / CAST(n_blocks AS DOUBLE) AS rsm
  FROM agg WHERE n_blocks > 0),
terms AS (
  SELECT block_size, n_blocks, rsm,
         ln(CAST(block_size AS DOUBLE)) AS u, ln(rsm) AS v
  FROM sizesr),
tmax AS (
  SELECT max(abs(u)) AS um, max(abs(v)) AS vm,
         max(abs(u * v)) AS uvm, max(u * u) AS uum
  FROM terms),
ols AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(CASE WHEN um > 0.0
                       THEN CAST(floor(u / um * 1e12) AS BIGINT)
                       ELSE 0 END) AS DOUBLE) / 1e12 * any_value(um) AS su,
         CAST(sum(CASE WHEN vm > 0.0
                       THEN CAST(floor(v / vm * 1e12) AS BIGINT)
                       ELSE 0 END) AS DOUBLE) / 1e12 * any_value(vm) AS sv,
         CAST(sum(CASE WHEN uvm > 0.0
                       THEN CAST(floor(u * v / uvm * 1e12) AS BIGINT)
                       ELSE 0 END) AS DOUBLE) / 1e12 * any_value(uvm) AS suv,
         CAST(sum(CASE WHEN uum > 0.0
                       THEN CAST(floor(u * u / uum * 1e12) AS BIGINT)
                       ELSE 0 END) AS DOUBLE) / 1e12 * any_value(uum) AS suu
  FROM terms, tmax),
h AS (
  SELECT CASE WHEN CAST(k AS DOUBLE) * suu - su * su = 0.0 THEN 0.0
         ELSE (CAST(k AS DOUBLE) * suv - su * sv)
              / (CAST(k AS DOUBLE) * suu - su * su) END AS hurst
  FROM ols)
SELECT block_size, n_blocks,
       ROUND(rsm, {R}) + 0 AS rs_mean,
       ROUND(hurst, {R}) + 0 AS hurst
FROM sizesr, h
"""


EXT15_QUERIES["hurst_exponent"] = (q_hurst_exponent, _sql_hurst())

# ---------------------------------------------------------------------------
# brier_decomp: is the pseudo-classifier miscalibrated or uninformative?
# ---------------------------------------------------------------------------


def q_brier_decomp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the calibration_eval pseudo-probability
    (logistic in n_chars vs is-English): reliability − resolution +
    uncertainty next to the raw Brier, all from exact e6
    micro-probability integers
    (operators/scoring.py::brier_decomposition)."""
    from gridmet_etl_spark.operators.scoring import brier_decomposition

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    p6 = F.round(
        F.round(
            1.0 / (1.0 + F.exp(-(F.col("n_chars").cast("double") - 300.0) / 100.0)),
            6,
        )
        * 1e6,
        0,
    ).cast("long")
    scored = docs.select(
        p6.alias("s6"), (F.col("lang") == "en").cast("int").alias("label")
    )
    return brier_decomposition(scored, "s6", "label", n_bins=10)


SQL_BRIER_DECOMP = f"""
WITH scored AS (
  SELECT CAST(round(ROUND(1.0 / (1.0 + exp(-(CAST(n_chars AS DOUBLE) - 300.0)
                                           / 100.0)), 6) * 1e6) AS BIGINT)
           AS s6,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents),
binned AS (
  SELECT least(s6 * 10 // 1000000, 9) AS b, s6, y FROM scored),
per_b AS (
  SELECT b, CAST(count(*) AS BIGINT) AS n,
         sum(CAST(s6 AS HUGEINT)) AS ss,
         CAST(sum(y) AS BIGINT) AS sy,
         sum(CAST(s6 - y * 1000000 AS HUGEINT) * (s6 - y * 1000000)) AS se2
  FROM binned GROUP BY b),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(sy) AS BIGINT) AS syt,
         CAST(sum(se2) AS DOUBLE) AS se2t,
         CAST(count(*) AS BIGINT) AS nbins
  FROM per_b),
terms AS (
  SELECT n,
         CAST(n AS DOUBLE)
           * (CAST(ss AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6)
              - CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
           * (CAST(ss AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6)
              - CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) AS rel_t,
         CAST(n AS DOUBLE)
           * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
              - CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE))
           * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
              - CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE)) AS res_t
  FROM per_b, tot),
tm AS (SELECT max(rel_t) AS rm, max(res_t) AS sm FROM terms),
acc AS (
  SELECT CAST(sum(CASE WHEN rm > 0.0
                       THEN CAST(floor(rel_t / rm * 1e12) AS BIGINT)
                       ELSE 0 END) AS DOUBLE) / 1e12 * any_value(rm) AS qr,
         CAST(sum(CASE WHEN sm > 0.0
                       THEN CAST(floor(res_t / sm * 1e12) AS BIGINT)
                       ELSE 0 END) AS DOUBLE) / 1e12 * any_value(sm) AS qs
  FROM terms, tm),
fin AS (
  SELECT nt, nbins,
         se2t / (CAST(nt AS DOUBLE) * 1e12) AS brier_raw,
         qr / CAST(nt AS DOUBLE) AS rel,
         qs / CAST(nt AS DOUBLE) AS res,
         (CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE))
           * (1.0 - CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE)) AS unc
  FROM acc, tot)
SELECT nt AS n, CAST(nbins AS INT) AS n_bins_used,
       ROUND(brier_raw, {R}) + 0 AS brier_raw,
       ROUND(rel - res + unc, {R}) + 0 AS brier_binned,
       ROUND(rel, {R}) + 0 AS reliability,
       ROUND(res, {R}) + 0 AS resolution,
       ROUND(unc, {R}) + 0 AS uncertainty
FROM fin
"""


EXT15_QUERIES["brier_decomp"] = (q_brier_decomp, SQL_BRIER_DECOMP)
