"""Round-9 wave-6 contract entries: the monitoring/eval quartet —
hdr_quantiles (an exact-integer-bucketed HDR-histogram quantile sketch,
the mergeable DDSketch alternative whose buckets can't flip on an ULP),
spc_rules (the Western Electric control-chart alarm set), err_eval
(cascade-model Expected Reciprocal Rank for graded retrieval), and
mcc_eval (the class-imbalance-honest confusion-matrix correlation).

Discipline: bucket ids, rule sides, and confusion cells are decided by
EXACT integer arithmetic (bit-length exponents, n·v − Σv sign tests,
conditional counts); doubles appear only in final fixed-operand-order
display expressions; the ERR cascade's stop probabilities are dyadic
rationals so its running product is exact in binary doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .contract import R, _t
from .contract_ext4 import _EMB_DIM

EXT25_QUERIES: dict = {}

# ---------------------------------------------------------------------------
# hdr_quantiles: mergeable relative-error quantiles of order value cents
# ---------------------------------------------------------------------------


def q_hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDR-histogram p50/p90/p99/p99.9 of order value cents — power-of-2
    octaves × 16 linear sub-buckets, bucket id by exact bit-length
    arithmetic, rel. error ≤ 1/32 guaranteed
    (operators/sketch.py::hdr_quantiles)."""
    from gridmet_etl_spark.operators.sketch import hdr_quantiles

    o = spark.read.parquet(_t(sf_dir, "orders")).select(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents")
    )
    return hdr_quantiles(o, "cents")


SQL_HDR_QUANTILES = f"""
WITH base AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS x
  FROM orders WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 0),
bucketed AS (
  SELECT length(bin(x)) - 1 AS e,
         CAST(floor(CAST(x * 16 AS DOUBLE)
                    / power(2.0, CAST(length(bin(x)) - 1 AS DOUBLE)))
              AS INT) - 16 AS s
  FROM base),
hist AS (SELECT e, s, count(*) AS c FROM bucketed GROUP BY e, s),
cum AS (
  SELECT e, s, CAST(sum(c) OVER (ORDER BY e, s) AS BIGINT) AS cumc
  FROM hist),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
qs AS (SELECT * FROM (VALUES (0.5), (0.9), (0.99), (0.999)) AS t(q)),
pick AS (
  SELECT qs.q, tot.n, cum.e, cum.s,
         row_number() OVER (PARTITION BY qs.q ORDER BY cum.e, cum.s) AS rn
  FROM qs, tot, cum
  WHERE cum.cumc >= CAST(ceil(qs.q * tot.n) AS BIGINT))
SELECT CAST(q AS DOUBLE) AS q, n,
       CAST(e AS INT) AS bucket_e, CAST(s AS INT) AS bucket_s,
       ROUND(power(2.0, CAST(e AS DOUBLE))
             * (1.0 + (CAST(s AS DOUBLE) + 0.5) / 16.0), {R}) + 0 AS est,
       CAST(0.03125 AS DOUBLE) AS rel_err_bound
FROM pick WHERE rn = 1
"""


EXT25_QUERIES["hdr_quantiles"] = (q_hdr_quantiles, SQL_HDR_QUANTILES)

# ---------------------------------------------------------------------------
# spc_rules: Western Electric alarms on regional daily order counts
# ---------------------------------------------------------------------------


def q_spc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Western Electric rule alarms (1: beyond 3σ, 2: 2-of-3 beyond 2σ,
    3: 4-of-5 beyond 1σ, 4: 8 same-side) on each region's daily order
    count — mean crossings decided by the exact integer sign of n·v − Σv
    (operators/timeseries.py::control_chart_rules)."""
    from gridmet_etl_spark.operators.timeseries import control_chart_rules

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
    return control_chart_rules(daily, ["region"], "day", "v")


SQL_SPC_RULES = f"""
WITH daily AS (
  SELECT r_name AS region, CAST(o_orderdate AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS v
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY 1, 2),
mom AS (
  SELECT region, CAST(count(*) AS BIGINT) AS n,
         sum(CAST(v AS HUGEINT)) AS s,
         sum(CAST(v AS HUGEINT) * v) AS q
  FROM daily GROUP BY region),
z AS (
  SELECT d.region, d.day, d.v,
         CASE WHEN m.n < 2
                OR sqrt((CAST(m.n AS DOUBLE) * CAST(m.q AS DOUBLE)
                         - CAST(m.s AS DOUBLE) * CAST(m.s AS DOUBLE))
                        / (CAST(m.n AS DOUBLE)
                           * (CAST(m.n AS DOUBLE) - 1.0))) = 0.0
              THEN 0.0
              ELSE (CAST(m.n AS DOUBLE) * CAST(d.v AS DOUBLE)
                    - CAST(m.s AS DOUBLE))
                   / (CAST(m.n AS DOUBLE)
                      * sqrt((CAST(m.n AS DOUBLE) * CAST(m.q AS DOUBLE)
                              - CAST(m.s AS DOUBLE) * CAST(m.s AS DOUBLE))
                             / (CAST(m.n AS DOUBLE)
                                * (CAST(m.n AS DOUBLE) - 1.0))))
         END AS zv,
         CASE WHEN CAST(d.v AS HUGEINT) * m.n - m.s > 0 THEN 1
              WHEN CAST(d.v AS HUGEINT) * m.n - m.s < 0 THEN -1
              ELSE 0 END AS side
  FROM daily d JOIN mom m ON d.region = m.region),
ind AS (
  SELECT region, day, v, zv, side,
         CASE WHEN abs(zv) > 3.0 THEN 1 ELSE 0 END AS b3,
         CASE WHEN zv > 2.0 THEN 1 ELSE 0 END AS a2,
         CASE WHEN zv < -2.0 THEN 1 ELSE 0 END AS l2,
         CASE WHEN zv > 1.0 THEN 1 ELSE 0 END AS a1,
         CASE WHEN zv < -1.0 THEN 1 ELSE 0 END AS l1
  FROM z),
wnd AS (
  SELECT region, day, v, zv, b3,
         sum(a2) OVER w3 AS a2_3, sum(l2) OVER w3 AS l2_3,
         count(*) OVER w3 AS c3,
         sum(a1) OVER w5 AS a1_5, sum(l1) OVER w5 AS l1_5,
         count(*) OVER w5 AS c5,
         sum(CASE WHEN side > 0 THEN 1 ELSE 0 END) OVER w8 AS up8,
         sum(CASE WHEN side < 0 THEN 1 ELSE 0 END) OVER w8 AS dn8,
         count(*) OVER w8 AS c8
  FROM ind
  WINDOW w3 AS (PARTITION BY region ORDER BY day
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
         w5 AS (PARTITION BY region ORDER BY day
                ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
         w8 AS (PARTITION BY region ORDER BY day
                ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)),
flags AS (
  SELECT region, day, v AS value, ROUND(zv, {R}) + 0 AS z,
         CAST(b3 AS INT) AS r1,
         CAST(CASE WHEN c3 >= 3 AND (a2_3 >= 2 OR l2_3 >= 2)
              THEN 1 ELSE 0 END AS INT) AS r2,
         CAST(CASE WHEN c5 >= 5 AND (a1_5 >= 4 OR l1_5 >= 4)
              THEN 1 ELSE 0 END AS INT) AS r3,
         CAST(CASE WHEN c8 >= 8 AND (up8 = 8 OR dn8 = 8)
              THEN 1 ELSE 0 END AS INT) AS r4
  FROM wnd)
SELECT * FROM flags WHERE r1 + r2 + r3 + r4 > 0
"""


EXT25_QUERIES["spc_rules"] = (q_spc_rules, SQL_SPC_RULES)

# ---------------------------------------------------------------------------
# err_eval: cascade-model graded retrieval eval of the cosine retriever
# ---------------------------------------------------------------------------


def q_err_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected Reciprocal Rank @10 of the exact cosine retriever with
    graded relevance (2 = same label, 1 = adjacent label, 0 otherwise) —
    the cascade eval where an early perfect hit devalues later ranks;
    stop probabilities are dyadic so the cascade product is exact
    (operators/scoring.py::err_at_k)."""
    from gridmet_etl_spark.operators.scoring import err_at_k
    from gridmet_etl_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    hits = cosine_topk(emb, queries, k=10, rank_round=R)
    labels = emb.select("vec_id", "label")
    qlab = labels.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel")
    )
    graded = (
        hits.join(F.broadcast(qlab), "query_id")
        .join(
            F.broadcast(labels.withColumnRenamed("vec_id", "neighbor_id")),
            "neighbor_id",
        )
        .select(
            "query_id",
            "rank",
            F.when(F.col("label") == F.col("qlabel"), F.lit(2))
            .when(F.abs(F.col("label") - F.col("qlabel")) == 1, F.lit(1))
            .otherwise(F.lit(0))
            .alias("grade"),
        )
    )
    return err_at_k(graded, "query_id", "rank", "grade", gmax=2)


def _sql_err_eval() -> str:
    # the oracle re-runs the brute-force cosine top-10 exactly as the
    # (long-green) ndcg_eval oracle does — generate_series dot/norms,
    # self excluded, R-rounded rank key, neighbor_id tiebreak — then the
    # same dyadic cascade
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS q_vec, label AS qlabel
  FROM embeddings WHERE vec_id < 5),
pairs AS (
  SELECT q.query_id, q.qlabel, e.vec_id AS neighbor_id, e.label,
         sum(CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_vec[i] AS DOUBLE))
           AS dot,
         sqrt(sum(CAST(e.embedding[i] AS DOUBLE)
                  * CAST(e.embedding[i] AS DOUBLE))) AS n_e,
         sqrt(sum(CAST(q.q_vec[i] AS DOUBLE)
                  * CAST(q.q_vec[i] AS DOUBLE))) AS n_q
  FROM embeddings e, q, generate_series(1, {_EMB_DIM}) g(i)
  WHERE e.vec_id <> q.query_id
  GROUP BY q.query_id, q.qlabel, e.vec_id, e.label),
ranked AS (
  SELECT query_id, qlabel, label,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY ROUND(dot / (n_e * n_q), {R}) DESC,
                                     neighbor_id) AS rank
  FROM pairs),
topk AS (
  SELECT query_id, rank,
         CASE WHEN label = qlabel THEN 2
              WHEN abs(label - qlabel) = 1 THEN 1
              ELSE 0 END AS grade
  FROM ranked WHERE rank <= 10),
casc AS (
  SELECT query_id, rank,
         (power(2.0, CAST(grade AS DOUBLE)) - 1.0) / 4.0 AS r_stop
  FROM topk),
terms AS (
  SELECT query_id,
         CAST(round(coalesce(product(1.0 - r_stop) OVER
                      (PARTITION BY query_id ORDER BY rank
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    1.0)
               * r_stop / CAST(rank AS DOUBLE) * 1e12) AS BIGINT) AS t
  FROM casc)
SELECT query_id,
       ROUND(CAST(sum(t) AS BIGINT) / 1e12, {R}) + 0 AS err
FROM terms GROUP BY query_id
"""


EXT25_QUERIES["err_eval"] = (q_err_eval, _sql_err_eval())

# ---------------------------------------------------------------------------
# mcc_eval: confusion-matrix correlation of a value-threshold classifier
# ---------------------------------------------------------------------------


def q_mcc_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation of the below-mean-value rule predicting order
    fulfillment — prediction decided by the EXACT integer comparison
    cents·N < Σcents, cells counted in one pass
    (operators/scoring.py::mcc_confusion)."""
    from gridmet_etl_spark.operators.scoring import mcc_confusion

    o = spark.read.parquet(_t(sf_dir, "orders")).select(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        (F.col("o_orderstatus") == "F").cast("int").alias("label"),
    )
    tot = o.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("_s"),
    )
    pred = o.crossJoin(F.broadcast(tot)).select(
        "label",
        (F.col("cents").cast("decimal(38,0)") * F.col("_n") < F.col("_s"))
        .cast("int")
        .alias("pred"),
    )
    return mcc_confusion(pred, "label", "pred")


SQL_MCC_EVAL = f"""
WITH o AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label
  FROM orders),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, sum(CAST(cents AS HUGEINT)) AS s
  FROM o),
p AS (
  SELECT label,
         CASE WHEN CAST(cents AS HUGEINT) * tot.n < tot.s THEN 1 ELSE 0 END
           AS pred
  FROM o, tot),
acc AS (
  SELECT CAST(sum(CASE WHEN label = 1 AND pred = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS tp,
         CAST(sum(CASE WHEN label = 0 AND pred = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS fp,
         CAST(sum(CASE WHEN label = 0 AND pred = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS tn,
         CAST(sum(CASE WHEN label = 1 AND pred = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS fn
  FROM p),
fin AS (
  SELECT tp, fp, tn, fn,
         CAST(CAST(tp AS HUGEINT) * tn - CAST(fp AS HUGEINT) * fn
              AS DOUBLE) AS num,
         sqrt(CAST(tp + fp AS DOUBLE)) * sqrt(CAST(tp + fn AS DOUBLE))
           * sqrt(CAST(tn + fp AS DOUBLE)) * sqrt(CAST(tn + fn AS DOUBLE))
           AS den
  FROM acc)
SELECT tp, fp, tn, fn,
       ROUND(CAST(tp + tn AS DOUBLE)
             / CAST(tp + fp + tn + fn AS DOUBLE), {R}) + 0 AS accuracy,
       ROUND(CASE WHEN den = 0.0 THEN 0.0 ELSE num / den END, {R}) + 0
         AS mcc
FROM fin
"""


EXT25_QUERIES["mcc_eval"] = (q_mcc_eval, SQL_MCC_EVAL)
