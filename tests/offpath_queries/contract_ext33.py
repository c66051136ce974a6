"""Round-9 wave-14 contract entries: survival/association completions —
restricted mean survival time (the horizon-bounded KM summary that stays
defined when the median never crosses), Goodman–Kruskal lambda (the
proportional-reduction-in-error view of a nominal contingency), and
Somers' D (ordinal_gamma's asymmetric, ties-penalizing sibling).

Discipline: the RMST area re-quantizes the certified rounded KM curve to
exact 10^k integers so step areas accumulate as exact longs and divide
once; lambda/D are exact integer cell arithmetic with single divisions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .contract import R, _t
from .contract_ext7 import _RKM

EXT33_QUERIES: dict = {}

# ---------------------------------------------------------------------------
# rmst_survival: expected fulfilled-time within the 45-day horizon
# ---------------------------------------------------------------------------

_RMST_TAU = 45


def q_rmst_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RMST(τ=45) per order priority on the SAME certified KM cohort
    km_median reads (orderkey-derived durations, ~25% censored) —
    "expected days surviving in the first 45"
    (operators/stats.py::km_rmst)."""
    from gridmet_etl_spark.operators.stats import km_rmst

    o = spark.read.parquet(_t(sf_dir, "orders")).select(
        F.col("o_orderpriority").alias("grp"),
        (F.col("o_orderkey") % 60 + 1).alias("dur"),
        (F.col("o_orderkey") % 4 != 0).cast("int").alias("ev"),
    )
    return km_rmst(o, ["grp"], "dur", "ev", tau=_RMST_TAU, km_digits=_RKM)


SQL_RMST_SURVIVAL = f"""
WITH base AS (
  SELECT o_orderpriority AS grp,
         CAST(o_orderkey % 60 + 1 AS BIGINT) AS t,
         CAST(o_orderkey % 4 <> 0 AS INT) AS e
  FROM orders),
per_t AS (
  SELECT grp, t, sum(e) AS d, count(*) AS lv
  FROM base GROUP BY grp, t),
cum AS (
  SELECT grp, t, d,
         sum(lv) OVER (PARTITION BY grp) -
           coalesce(sum(lv) OVER (PARTITION BY grp ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n
  FROM per_t),
surv AS (
  SELECT grp, t, d, n,
         exp(sum(ln(greatest(1.0 - CAST(d AS DOUBLE) / n, 1e-300)))
             OVER (PARTITION BY grp ORDER BY t
                   ROWS UNBOUNDED PRECEDING)) AS s
  FROM cum),
km AS (
  SELECT grp, CAST(t AS BIGINT) AS t,
         CAST(round((ROUND(s, {_RKM}) + 0.0) * {10 ** _RKM}) AS BIGINT)
           AS se
  FROM surv WHERE d > 0),
filt AS (SELECT * FROM km WHERE t <= {_RMST_TAU}),
stepped AS (
  SELECT grp, t, se,
         coalesce(lag(se) OVER w, CAST({10 ** _RKM} AS BIGINT)) AS sprev,
         coalesce(lag(t) OVER w, CAST(0 AS BIGINT)) AS tprev
  FROM filt WINDOW w AS (PARTITION BY grp ORDER BY t)),
acc AS (
  SELECT grp,
         CAST(sum(sprev * (t - tprev)) AS BIGINT) AS area,
         max(t) AS t_last,
         CAST(min_by(se, -t) AS BIGINT) AS slast
  FROM stepped GROUP BY grp),
gset AS (SELECT DISTINCT grp FROM base)
SELECT gset.grp, CAST({_RMST_TAU} AS BIGINT) AS tau,
       ROUND(CAST(coalesce(area + slast * ({_RMST_TAU} - t_last),
                           {_RMST_TAU} * {10 ** _RKM}) AS DOUBLE)
             / {10 ** _RKM}.0, {R}) + 0 AS rmst,
       CAST(coalesce(t_last, 0) AS BIGINT) AS t_last,
       ROUND(CAST(coalesce(slast, {10 ** _RKM}) AS DOUBLE)
             / {10 ** _RKM}.0, {R}) + 0 AS final_surv
FROM gset LEFT JOIN acc ON gset.grp = acc.grp
"""


EXT33_QUERIES["rmst_survival"] = (q_rmst_survival, SQL_RMST_SURVIVAL)

# ---------------------------------------------------------------------------
# gk_lambda_assoc: does knowing the segment improve priority prediction?
# ---------------------------------------------------------------------------


def q_gk_lambda_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodman–Kruskal λ on the segment × priority contingency — the
    modal-prediction usefulness the same table's nmi_assoc measures in
    nats (operators/stats.py::gk_lambda)."""
    from gridmet_etl_spark.operators.stats import gk_lambda

    o = spark.read.parquet(_t(sf_dir, "orders")).select(
        "o_custkey", "o_orderpriority"
    )
    c = spark.read.parquet(_t(sf_dir, "customer")).select(
        "c_custkey", "c_mktsegment"
    )
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"),
        F.col("o_orderpriority").alias("pri"),
    )
    return gk_lambda(j, "seg", "pri")


SQL_GK_LAMBDA = f"""
WITH j AS (
  SELECT c_mktsegment AS x, o_orderpriority AS y
  FROM orders JOIN customer ON o_custkey = c_custkey),
cells AS (SELECT x, y, CAST(count(*) AS BIGINT) AS n FROM j GROUP BY x, y),
srow AS (SELECT CAST(sum(mx) AS BIGINT) AS srow
         FROM (SELECT x, max(n) AS mx FROM cells GROUP BY x)),
scol AS (SELECT CAST(sum(my) AS BIGINT) AS scol
         FROM (SELECT y, max(n) AS my FROM cells GROUP BY y)),
mody AS (SELECT CAST(max(ny) AS BIGINT) AS mody
         FROM (SELECT y, sum(n) AS ny FROM cells GROUP BY y)),
modx AS (SELECT CAST(max(nx) AS BIGINT) AS modx
         FROM (SELECT x, sum(n) AS nx FROM cells GROUP BY x)),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS n FROM cells)
SELECT tot.n,
       ROUND(CASE WHEN tot.n = mody.mody THEN 0.0
             ELSE CAST(srow.srow - mody.mody AS DOUBLE)
                  / CAST(tot.n - mody.mody AS DOUBLE) END, {R}) + 0
         AS lambda_yx,
       ROUND(CASE WHEN tot.n = modx.modx THEN 0.0
             ELSE CAST(scol.scol - modx.modx AS DOUBLE)
                  / CAST(tot.n - modx.modx AS DOUBLE) END, {R}) + 0
         AS lambda_xy
FROM srow, scol, mody, modx, tot
"""


EXT33_QUERIES["gk_lambda_assoc"] = (q_gk_lambda_assoc, SQL_GK_LAMBDA)

# ---------------------------------------------------------------------------
# somers_d_eval: does order value rank predict priority rank?
# ---------------------------------------------------------------------------


def q_somers_d_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Somers' D_yx of priority rank (y, leading digit) on order-value
    band (x, $50k bands) — the ties-penalizing asymmetric ordinal
    association (operators/stats.py::somers_d)."""
    from gridmet_etl_spark.operators.stats import somers_d

    o = spark.read.parquet(_t(sf_dir, "orders")).select(
        F.floor(F.col("o_totalprice") / 50000).cast("int").alias("band"),
        F.substring("o_orderpriority", 1, 1).cast("int").alias("pri"),
    )
    return somers_d(o, "band", "pri")


SQL_SOMERS_D = f"""
WITH src AS (
  SELECT CAST(floor(o_totalprice / 50000) AS INT) AS x,
         CAST(substr(o_orderpriority, 1, 1) AS INT) AS y
  FROM orders),
cells AS (SELECT x, y, count(*) AS n FROM src GROUP BY x, y),
pairs AS (
  SELECT a.y AS ya, b.y AS yb, a.n AS na, b.n AS nb
  FROM cells a, cells b WHERE a.x < b.x),
acc AS (
  SELECT CAST(sum(CASE WHEN ya < yb THEN na * nb ELSE 0 END) AS BIGINT)
           AS concordant,
         CAST(sum(CASE WHEN ya > yb THEN na * nb ELSE 0 END) AS BIGINT)
           AS discordant,
         CAST(sum(CASE WHEN ya = yb THEN na * nb ELSE 0 END) AS BIGINT)
           AS ties_y
  FROM pairs),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS n FROM cells)
SELECT tot.n, acc.concordant, acc.discordant, acc.ties_y,
       ROUND(CASE WHEN acc.concordant + acc.discordant + acc.ties_y = 0
             THEN 0.0
             ELSE CAST(acc.concordant - acc.discordant AS DOUBLE)
                  / CAST(acc.concordant + acc.discordant + acc.ties_y
                         AS DOUBLE) END, {R}) + 0 AS d_yx
FROM acc, tot
"""


EXT33_QUERIES["somers_d_eval"] = (q_somers_d_eval, SQL_SOMERS_D)
