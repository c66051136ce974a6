"""Round-8 wave-2 contract entries: Jarque–Bera normality, Brown–Forsythe
variance homogeneity, max drawdown, Bollinger-band breakouts, first-order
partial correlation, Theil's U1 persistence yardstick, the approximate
functional-dependency audit, and the 1R decision stump.

Reference parity note: engine-extension surface (the reference is a fixed
two-pipeline ETL, SURVEY §3); oracles are the contract.

Discipline (README "output-type discipline"): every value that feeds a
moment sum is quantized to an INTEGER at the query boundary (cents, counts,
quantities); x⁴/price² sums accumulate as DECIMAL(38,0)/HUGEINT (exact and
order-independent — int64 dies at |x| ≳ 10⁴ under a fourth power); the
Bollinger breach and the stump argmax are decided on exact-integer /
quantized-integer forms, never on a raw float; closed-form doubles combine
exact sums in fixed operand order; displays round at R.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .contract import R, _t

EXT14_QUERIES: dict = {}

# ---------------------------------------------------------------------------
# jarque_bera: distribution-shape screen per market segment
# ---------------------------------------------------------------------------


def q_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque–Bera normality of customer balances (cents) per market
    segment — the tail/skew gate before any z/t-based metric test trusts
    the segment (operators/stats.py::jarque_bera)."""
    from gridmet_etl_spark.operators.stats import jarque_bera

    cust = spark.read.parquet(_t(sf_dir, "customer")).select(
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("cents"),
    )
    return jarque_bera(cust, "cents", group_cols=("c_mktsegment",))


SQL_JARQUE_BERA = f"""
WITH v AS (
  SELECT c_mktsegment, CAST(round(c_acctbal * 100) AS BIGINT) AS x
  FROM customer WHERE c_acctbal IS NOT NULL),
acc AS (
  SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
         sum(CAST(x AS HUGEINT)) AS s1,
         sum(CAST(x AS HUGEINT) * x) AS s2,
         sum(CAST(x AS HUGEINT) * x * x) AS s3,
         sum(CAST(x AS HUGEINT) * x * x * x) AS s4
  FROM v GROUP BY c_mktsegment),
m1 AS (
  SELECT c_mktsegment, n,
         CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m,
         CAST(s2 AS DOUBLE) AS s2d, CAST(s3 AS DOUBLE) AS s3d,
         CAST(s4 AS DOUBLE) AS s4d, CAST(n AS DOUBLE) AS nd
  FROM acc),
mom AS (
  SELECT c_mktsegment, n, nd, m,
         s2d / nd - m * m AS m2,
         s3d / nd - 3.0 * m * (s2d / nd) + 2.0 * m * m * m AS m3,
         s4d / nd - 4.0 * m * (s3d / nd) + 6.0 * m * m * (s2d / nd)
           - 3.0 * m * m * m * m AS m4
  FROM m1),
sk AS (
  SELECT c_mktsegment, n, nd, m, m2,
         CASE WHEN m2 <= 0.0 THEN 0.0
              ELSE m3 / sqrt(m2 * m2 * m2) END AS skew,
         CASE WHEN m2 <= 0.0 THEN 0.0 ELSE m4 / (m2 * m2) END AS kurt
  FROM mom)
SELECT c_mktsegment, n,
       ROUND(m, {R}) + 0 AS mean,
       ROUND(skew, {R}) + 0 AS skewness,
       ROUND(kurt, {R}) + 0 AS kurtosis,
       ROUND(CASE WHEN n < 2 OR m2 <= 0.0 THEN 0.0
             ELSE nd / 6.0 * (skew * skew
                              + (kurt - 3.0) * (kurt - 3.0) / 4.0)
             END, {R}) + 0 AS jb
FROM sk
"""


EXT14_QUERIES["jarque_bera"] = (q_jarque_bera, SQL_JARQUE_BERA)

# ---------------------------------------------------------------------------
# brown_forsythe: robust variance-homogeneity across return flags
# ---------------------------------------------------------------------------


def q_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe (median-centered Levene) of l_quantity spread
    across returnflag groups — the gate before welch/pooled tests; the
    2·median is exact from the value histogram
    (operators/stats.py::brown_forsythe)."""
    from gridmet_etl_spark.operators.stats import brown_forsythe

    li = spark.read.parquet(_t(sf_dir, "lineitem")).select(
        F.col("l_quantity").cast("long").alias("qty"), "l_returnflag"
    )
    return brown_forsythe(li, "qty", "l_returnflag")


SQL_BROWN_FORSYTHE = f"""
WITH v AS (
  SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS x FROM lineitem),
rk AS (
  SELECT g, x, row_number() OVER (PARTITION BY g ORDER BY x) AS rn,
         count(*) OVER (PARTITION BY g) AS ng
  FROM v),
med AS (
  SELECT g,
         CAST(sum(CASE WHEN rn = (ng + 1) // 2 THEN x ELSE 0 END)
              + sum(CASE WHEN rn = ng // 2 + 1 THEN x ELSE 0 END)
              AS BIGINT) AS m2
  FROM rk GROUP BY g),
z AS (SELECT v.g, abs(2 * x - m2) AS z2 FROM v JOIN med ON v.g = med.g),
per_g AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n_g,
         sum(CAST(z2 AS HUGEINT)) AS sz,
         sum(CAST(z2 AS HUGEINT) * z2) AS szz
  FROM z GROUP BY g),
parts AS (
  SELECT g, n_g, sz, szz,
         CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE) / CAST(n_g AS DOUBLE) AS t
  FROM per_g),
pm AS (SELECT max(t) AS tm FROM parts),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n_g) AS BIGINT) AS n,
         CAST(sum(sz) AS DOUBLE) AS sz_all,
         CAST(sum(szz) AS DOUBLE) AS szz_all,
         CAST(sum(CASE WHEN tm > 0.0
                       THEN CAST(floor(t / tm * 1e12) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS q,
         any_value(tm) AS tm
  FROM parts, pm),
fin AS (
  SELECT k, n, CAST(q AS DOUBLE) / 1e12 * tm AS sb_parts, sz_all, szz_all,
         CAST(n AS DOUBLE) AS nd, CAST(k AS DOUBLE) AS kd
  FROM tot),
ss AS (
  SELECT k, n, nd, kd,
         sb_parts - sz_all * sz_all / nd AS ssb,
         szz_all - sb_parts AS ssw
  FROM fin)
SELECT CAST(k AS INT) AS k, n,
       ROUND(CASE WHEN k < 2 OR n <= k OR ssw <= 0.0 THEN 0.0
             ELSE (ssb / (kd - 1.0)) / (ssw / (nd - kd)) END, {R}) + 0
         AS f_stat,
       CAST(k - 1 AS BIGINT) AS df1,
       CAST(n - k AS BIGINT) AS df2
FROM ss
"""


EXT14_QUERIES["brown_forsythe"] = (q_brown_forsythe, SQL_BROWN_FORSYTHE)

# ---------------------------------------------------------------------------
# max_drawdown: deepest peak-to-trough fall of net shipped units per nation
# ---------------------------------------------------------------------------


def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max drawdown of each supplier nation's cumulative NET shipped
    units (returns count negative): how deep did the running balance
    fall from its peak, and when
    (operators/timeseries.py::max_drawdown)."""
    from gridmet_etl_spark.operators.timeseries import max_drawdown

    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    sup = spark.read.parquet(_t(sf_dir, "supplier")).select(
        "s_suppkey", "s_nationkey"
    )
    nat = spark.read.parquet(_t(sf_dir, "nation")).select(
        "n_nationkey", "n_name"
    )
    signed = F.when(
        F.col("l_returnflag") == "R", -F.col("l_quantity").cast("long")
    ).otherwise(F.col("l_quantity").cast("long"))
    daily = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("l_shipdate").cast("date").alias("day"),
        )
        .agg(F.sum(signed).cast("long").alias("v"))
    )
    return max_drawdown(daily, ["nation"], "day", "v")


SQL_MAX_DRAWDOWN = f"""
WITH daily AS (
  SELECT n_name AS nation, CAST(l_shipdate AS DATE) AS day,
         CAST(sum(CASE WHEN l_returnflag = 'R'
                       THEN -CAST(l_quantity AS BIGINT)
                       ELSE CAST(l_quantity AS BIGINT) END) AS BIGINT) AS v
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY 1, 2),
stepped AS (
  SELECT nation, day, v,
         sum(CAST(v AS HUGEINT)) OVER (PARTITION BY nation ORDER BY day
                                       ROWS UNBOUNDED PRECEDING) AS cum
  FROM daily),
pk AS (
  SELECT nation, day, cum,
         max(cum) OVER (PARTITION BY nation ORDER BY day
                        ROWS UNBOUNDED PRECEDING) AS peak
  FROM stepped),
dd AS (
  SELECT nation, day, peak, peak - cum AS d,
         count(*) OVER (PARTITION BY nation) AS n_pts,
         last_value(cum) OVER (PARTITION BY nation ORDER BY day
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND UNBOUNDED FOLLOWING) AS fin,
         row_number() OVER (PARTITION BY nation
                            ORDER BY peak - cum DESC, day ASC) AS rn
  FROM pk)
SELECT nation, CAST(n_pts AS BIGINT) AS n_points,
       CAST(fin AS BIGINT) AS final_value,
       CAST(peak AS BIGINT) AS peak,
       CAST(d AS BIGINT) AS max_drawdown,
       ROUND(CASE WHEN CAST(peak AS DOUBLE) > 0.0
             THEN CAST(d AS DOUBLE) / CAST(peak AS DOUBLE)
             ELSE 0.0 END, {R}) + 0 AS dd_pct,
       day AS trough
FROM dd WHERE rn = 1
"""


EXT14_QUERIES["max_drawdown"] = (q_max_drawdown, SQL_MAX_DRAWDOWN)

# ---------------------------------------------------------------------------
# bollinger_breakouts: volatility-scaled anomaly days per region
# ---------------------------------------------------------------------------


def q_bollinger_breakouts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days when a region's daily order count leaves its 20-day ±2σ
    Bollinger envelope — breach decided on the exact integer form
    (n−1)(nx−S)² > 4n(nQ−S²), no float flags a row
    (operators/timeseries.py::bollinger_breakouts)."""
    from gridmet_etl_spark.operators.timeseries import bollinger_breakouts

    o = spark.read.parquet(_t(sf_dir, "orders"))
    c = spark.read.parquet(_t(sf_dir, "customer")).select(
        "c_custkey", "c_nationkey"
    )
    nat = spark.read.parquet(_t(sf_dir, "nation")).select(
        "n_nationkey", "n_regionkey"
    )
    reg = spark.read.parquet(_t(sf_dir, "region"))
    daily = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(nat), c.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("v"))
    )
    return bollinger_breakouts(daily, ["region"], "day", "v")


SQL_BOLLINGER = f"""
WITH daily AS (
  SELECT r_name AS region, CAST(o_orderdate AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS v
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY 1, 2),
wnd AS (
  SELECT region, day, v,
         sum(CAST(v AS HUGEINT)) OVER w AS s,
         sum(CAST(v AS HUGEINT) * v) OVER w AS q,
         count(*) OVER w AS k
  FROM daily
  WINDOW w AS (PARTITION BY region ORDER BY day
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
el AS (
  SELECT region, day, v, s, q,
         20 * CAST(v AS HUGEINT) - s AS d,
         20 * q - s * s AS ssq
  FROM wnd WHERE k = 20),
br AS (
  SELECT region, day, v,
         CAST(s AS DOUBLE) / 20.0 AS ma,
         sqrt(greatest(CAST(ssq AS DOUBLE), 0.0) / (20.0 * (20.0 - 1.0)))
           AS sd,
         CAST(d AS DOUBLE) AS dd
  FROM el
  WHERE 19.0 * CAST(d AS DOUBLE) * CAST(d AS DOUBLE)
        > 4.0 * 20.0 * CAST(ssq AS DOUBLE))
SELECT region, day, v AS value,
       ROUND(ma, {R}) + 0 AS ma,
       ROUND(sd, {R}) + 0 AS sd,
       ROUND(ma + 2 * sd, {R}) + 0 AS upper,
       ROUND(ma - 2 * sd, {R}) + 0 AS lower,
       CAST(CASE WHEN dd > 0.0 THEN 1 ELSE -1 END AS INT) AS direction
FROM br
"""


EXT14_QUERIES["bollinger_breakouts"] = (q_bollinger_breakouts, SQL_BOLLINGER)

# ---------------------------------------------------------------------------
# partial_corr: item count ↔ order value with total quantity partialed out
# ---------------------------------------------------------------------------


def q_partial_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation of (lineitem count, order total cents)
    controlling total quantity — does the corr_matrix entry survive the
    obvious confounder? (operators/stats.py::partial_corr)."""
    from gridmet_etl_spark.operators.stats import partial_corr

    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    per_o = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("z"),
    )
    o = spark.read.parquet(_t(sf_dir, "orders")).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("y"),
    )
    j = per_o.join(o, per_o.l_orderkey == o.o_orderkey)
    return partial_corr(j, "x", "y", "z")


SQL_PARTIAL_CORR = f"""
WITH per_o AS (
  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS x,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS z
  FROM lineitem GROUP BY 1),
j AS (
  SELECT p.x, CAST(round(o_totalprice * 100) AS BIGINT) AS y, p.z
  FROM per_o p JOIN orders ON o_orderkey = l_orderkey),
acc AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
         sum(CAST(z AS HUGEINT)) AS sz,
         sum(CAST(x AS HUGEINT) * x) AS sxx,
         sum(CAST(y AS HUGEINT) * y) AS syy,
         sum(CAST(z AS HUGEINT) * z) AS szz,
         sum(CAST(x AS HUGEINT) * y) AS sxy,
         sum(CAST(x AS HUGEINT) * z) AS sxz,
         sum(CAST(y AS HUGEINT) * z) AS syz
  FROM j),
rs AS (
  SELECT n,
         CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <= 0.0
                OR CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) <= 0.0 THEN 0.0
         ELSE (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
         END AS rxy,
         CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <= 0.0
                OR CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
                   - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE) <= 0.0 THEN 0.0
         ELSE (CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE))
              / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
                        - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)))
         END AS rxz,
         CASE WHEN CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) <= 0.0
                OR CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
                   - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE) <= 0.0 THEN 0.0
         ELSE (CAST(n AS DOUBLE) * CAST(syz AS DOUBLE)
               - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE))
              / sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                     * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
                        - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)))
         END AS ryz
  FROM acc)
SELECT n,
       ROUND(rxy, {R}) + 0 AS r_xy,
       ROUND(rxz, {R}) + 0 AS r_xz,
       ROUND(ryz, {R}) + 0 AS r_yz,
       ROUND(CASE WHEN (1.0 - rxz * rxz) * (1.0 - ryz * ryz) <= 0.0 THEN 0.0
             ELSE (rxy - rxz * ryz)
                  / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz))
             END, {R}) + 0 AS r_xy_z
FROM rs
"""


EXT14_QUERIES["partial_corr"] = (q_partial_corr, SQL_PARTIAL_CORR)

# ---------------------------------------------------------------------------
# theil_u: is anything beating persistence on the daily event series?
# ---------------------------------------------------------------------------


def q_theil_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's U1 of lag-1 and lag-7 naive forecasts on the daily event
    count — the persistence floor every forecast_eval model must beat.
    The input series is the |days|-bounded daily rollup, so the single-
    partition lag window is bounded by construction
    (operators/timeseries.py::theil_u_eval)."""
    from gridmet_etl_spark.operators.timeseries import theil_u_eval
    from gridmet_etl_spark.sources.readers import read_events

    e = read_events(spark, _t(sf_dir, "events"))
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    return theil_u_eval(daily, "day", "cnt", lags=(1, 7))


def _sql_theil() -> str:
    blocks = []
    for lag in (1, 7):
        blocks.append(f"""
SELECT CAST({lag} AS INT) AS lag, n,
       ROUND(CAST(sae AS DOUBLE) / CAST(n AS DOUBLE), {R}) + 0 AS mae,
       ROUND(sqrt(CAST(se2 AS DOUBLE) / CAST(n AS DOUBLE)), {R}) + 0 AS rmse,
       ROUND(CASE WHEN sqrt(CAST(sf2 AS DOUBLE) / CAST(n AS DOUBLE))
                       + sqrt(CAST(sy2 AS DOUBLE) / CAST(n AS DOUBLE)) <= 0.0
             THEN 0.0
             ELSE sqrt(CAST(se2 AS DOUBLE) / CAST(n AS DOUBLE))
                  / (sqrt(CAST(sf2 AS DOUBLE) / CAST(n AS DOUBLE))
                     + sqrt(CAST(sy2 AS DOUBLE) / CAST(n AS DOUBLE)))
             END, {R}) + 0 AS u1
FROM (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(CAST(f - y AS HUGEINT) * (f - y)) AS se2,
         sum(abs(CAST(f - y AS HUGEINT))) AS sae,
         sum(CAST(f AS HUGEINT) * f) AS sf2,
         sum(CAST(y AS HUGEINT) * y) AS sy2
  FROM (SELECT lag(v, {lag}) OVER (ORDER BY day) AS f, v AS y FROM daily)
  WHERE f IS NOT NULL)""")
    u = "\nUNION ALL\n".join(blocks)
    return f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS v
  FROM events GROUP BY 1)
{u}
"""


EXT14_QUERIES["theil_u"] = (q_theil_u, _sql_theil())

# ---------------------------------------------------------------------------
# funcdep_audit: which lineitem columns functionally determine which
# ---------------------------------------------------------------------------

_FD_PAIRS = [
    ("l_orderkey", "l_returnflag"),
    ("l_partkey", "l_suppkey"),
    ("l_linestatus", "l_returnflag"),
    ("l_suppkey", "l_linestatus"),
]


def q_funcdep_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate functional-dependency strength (TANE g3, inverted)
    for four lineitem column pairs — the layout/normalization profiling
    pass (operators/profile.py::fd_strength)."""
    from gridmet_etl_spark.operators.profile import fd_strength

    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    return fd_strength(li, _FD_PAIRS)


def _sql_fd() -> str:
    blocks = []
    for det, dep in _FD_PAIRS:
        blocks.append(f"""
SELECT '{det}' AS determinant, '{dep}' AS dependent,
       CAST(count(*) AS BIGINT) AS n_det_values,
       CAST(sum(tot) AS BIGINT) AS n_rows,
       CAST(sum(mx) AS BIGINT) AS n_kept,
       ROUND(CASE WHEN sum(tot) > 0
             THEN CAST(sum(mx) AS DOUBLE) / CAST(sum(tot) AS BIGINT)
             ELSE 0.0 END, {R}) + 0 AS strength,
       CAST(sum(mx) AS BIGINT) = CAST(sum(tot) AS BIGINT) AS is_exact
FROM (
  SELECT max(n) AS mx, sum(n) AS tot
  FROM (SELECT {det} AS a, {dep} AS b, CAST(count(*) AS BIGINT) AS n
        FROM lineitem GROUP BY 1, 2)
  GROUP BY a)""")
    return "\nUNION ALL\n".join(blocks)


EXT14_QUERIES["funcdep_audit"] = (q_funcdep_audit, _sql_fd())

# ---------------------------------------------------------------------------
# decision_stump: the strongest single quantity cut for predicting returns
# ---------------------------------------------------------------------------


def q_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best 1R threshold split of l_quantity against returnflag='R' —
    candidates from the value histogram, argmax on the e12-quantized
    gain (operators/mlprep.py::decision_stump)."""
    from gridmet_etl_spark.operators.mlprep import decision_stump

    li = spark.read.parquet(_t(sf_dir, "lineitem")).select(
        F.col("l_quantity").cast("long").alias("qty"),
        (F.col("l_returnflag") == "R").cast("int").alias("is_r"),
    )
    return decision_stump(li, "qty", "is_r")


SQL_DECISION_STUMP = f"""
WITH hist AS (
  SELECT CAST(l_quantity AS BIGINT) AS v, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
           AS p
  FROM lineitem GROUP BY 1),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(p) AS BIGINT) AS pt
        FROM hist),
cum AS (
  SELECT v,
         CAST(sum(n) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS nl,
         CAST(sum(p) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS pl
  FROM hist),
el AS (SELECT v, nl, pl, nt, pt FROM cum, tot WHERE nl < nt),
sc AS (
  SELECT v, nl, pl, nt, pt,
         (CASE WHEN nt > 0 THEN CAST(nt AS DOUBLE) * ln(CAST(nt AS DOUBLE))
               ELSE 0.0 END
          - CASE WHEN pt > 0 THEN CAST(pt AS DOUBLE) * ln(CAST(pt AS DOUBLE))
                 ELSE 0.0 END
          - CASE WHEN nt - pt > 0
                 THEN CAST(nt - pt AS DOUBLE) * ln(CAST(nt - pt AS DOUBLE))
                 ELSE 0.0 END) AS t_root,
         (CASE WHEN nl > 0 THEN CAST(nl AS DOUBLE) * ln(CAST(nl AS DOUBLE))
               ELSE 0.0 END
          - CASE WHEN pl > 0 THEN CAST(pl AS DOUBLE) * ln(CAST(pl AS DOUBLE))
                 ELSE 0.0 END
          - CASE WHEN nl - pl > 0
                 THEN CAST(nl - pl AS DOUBLE) * ln(CAST(nl - pl AS DOUBLE))
                 ELSE 0.0 END) AS t_l,
         (CASE WHEN nt - nl > 0
               THEN CAST(nt - nl AS DOUBLE) * ln(CAST(nt - nl AS DOUBLE))
               ELSE 0.0 END
          - CASE WHEN pt - pl > 0
                 THEN CAST(pt - pl AS DOUBLE) * ln(CAST(pt - pl AS DOUBLE))
                 ELSE 0.0 END
          - CASE WHEN (nt - nl) - (pt - pl) > 0
                 THEN CAST((nt - nl) - (pt - pl) AS DOUBLE)
                      * ln(CAST((nt - nl) - (pt - pl) AS DOUBLE))
                 ELSE 0.0 END) AS t_r
  FROM el),
gq AS (
  SELECT v, nl, pl, nt, pt, t_root, t_root - t_l - t_r AS gain_n,
         CASE WHEN t_root > 0.0
              THEN CAST(floor((t_root - t_l - t_r) / t_root * 1e12) AS BIGINT)
              ELSE 0 END AS g
  FROM sc),
best AS (
  SELECT *, row_number() OVER (ORDER BY g DESC, v ASC) AS rn FROM gq)
SELECT v AS threshold, nl AS n_left, CAST(nt - nl AS BIGINT) AS n_right,
       pl AS pos_left, CAST(pt - pl AS BIGINT) AS pos_right,
       ROUND(gain_n / CAST(nt AS DOUBLE), {R}) + 0 AS gain,
       ROUND(CAST(greatest(pl, nl - pl)
                  + greatest(pt - pl, (nt - nl) - (pt - pl)) AS DOUBLE)
             / CAST(nt AS DOUBLE), {R}) + 0 AS stump_acc
FROM best WHERE rn = 1
"""


EXT14_QUERIES["decision_stump"] = (q_decision_stump, SQL_DECISION_STUMP)
