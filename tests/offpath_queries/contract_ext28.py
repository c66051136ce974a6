"""Round-9 wave-9 contract entries: three distribution-shape readouts —
Hellinger distance between source vocabularies (source_jsd's metric
companion), Fano-factor burstiness of event arrivals (over/under-
dispersion vs Poisson), and Gini impurity of each source's language mix
(the label-purity gate a curation split reads before stratifying).

Discipline: counts are exact; Bhattacharyya terms quantize e12 before
the k-token sum; Fano/impurity are single divisions of exact
DECIMAL(38,0)/BIGINT moments.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .contract import R, _t

EXT28_QUERIES: dict = {}

# ---------------------------------------------------------------------------
# hellinger_sources: metric distance between source vocabularies
# ---------------------------------------------------------------------------


def q_hellinger_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hellinger distance between every source pair over the global
    top-100 vocabulary (operators/textops.py::source_hellinger)."""
    from gridmet_etl_spark.operators.textops import source_hellinger

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return source_hellinger(docs, k=100)


SQL_HELLINGER_SOURCES = f"""
WITH toks AS (
  SELECT source AS src, unnest(string_split(text, ' ')) AS token
  FROM documents),
tok2 AS (SELECT src, token FROM toks WHERE token <> ''),
per_src AS (
  SELECT src, token, CAST(count(*) AS BIGINT) AS c
  FROM tok2 GROUP BY src, token),
topk AS (
  SELECT token FROM (
    SELECT token, sum(c) AS n FROM per_src GROUP BY token
    ORDER BY n DESC, token LIMIT 100)),
kept AS (SELECT per_src.* FROM per_src JOIN topk USING (token)),
totals AS (SELECT src, CAST(sum(c) AS BIGINT) AS t FROM kept GROUP BY src),
a AS (
  SELECT kept.src AS source_a, kept.token, kept.c AS ca, totals.t AS ta
  FROM kept JOIN totals ON kept.src = totals.src),
b AS (
  SELECT kept.src AS source_b, kept.token, kept.c AS cb, totals.t AS tb
  FROM kept JOIN totals ON kept.src = totals.src),
pairs AS (
  SELECT a.source_a, b.source_b,
         CAST(round(sqrt((CAST(a.ca AS DOUBLE) / CAST(a.ta AS DOUBLE))
                         * (CAST(b.cb AS DOUBLE) / CAST(b.tb AS DOUBLE)))
                    * 1e12) AS BIGINT) AS q
  FROM a JOIN b ON a.token = b.token
  WHERE a.source_a < b.source_b),
acc AS (
  SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_shared_topk,
         CAST(sum(q) AS BIGINT) AS bc
  FROM pairs GROUP BY 1, 2)
SELECT source_a, source_b, n_shared_topk,
       ROUND(sqrt(greatest(0.0, 1.0 - CAST(bc AS DOUBLE) / 1e12)), {R}) + 0
         AS hellinger
FROM acc
"""


EXT28_QUERIES["hellinger_sources"] = (q_hellinger_sources, SQL_HELLINGER_SOURCES)

# ---------------------------------------------------------------------------
# burstiness_fano: arrival over-dispersion per event type
# ---------------------------------------------------------------------------


def q_burstiness_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (var/mean of daily counts, sample variance) and the
    Goh–Barabási burstiness B = (σ−μ)/(σ+μ) per event type — Poisson
    arrivals ⇒ F ≈ 1, B < 0; bursty traffic ⇒ F ≫ 1. Observed days only
    (a day with zero events of a type contributes no row — documented
    grain). Exact integer moments, fixed-order double finishes."""
    from gridmet_etl_spark.sources.readers import read_events

    ev = read_events(spark, _t(sf_dir, "events"))
    daily = ev.groupBy(
        F.col("event_type"),
        F.col("ts").cast("date").alias("day"),
    ).agg(F.count(F.lit(1)).cast("long").alias("v"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    acc = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(dec(F.col("v"))).alias("s"),
        F.sum(dec(F.col("v")) * F.col("v")).alias("q"),
    )
    n = F.col("n_days").cast("double")
    s = F.col("s").cast("double")
    mean = s / n
    var = (n * F.col("q").cast("double") - s * s) / (n * (n - F.lit(1.0)))
    sd = F.sqrt(var)
    fano = F.when((F.col("n_days") < 2) | (mean == 0.0), F.lit(0.0)).otherwise(
        var / mean
    )
    burst = F.when((F.col("n_days") < 2) | (sd + mean == 0.0), F.lit(0.0)).otherwise(
        (sd - mean) / (sd + mean)
    )
    return acc.select(
        "event_type",
        F.col("n_days"),
        (F.round(mean, R) + F.lit(0.0)).alias("mean_daily"),
        (F.round(fano, R) + F.lit(0.0)).alias("fano"),
        (F.round(burst, R) + F.lit(0.0)).alias("burstiness"),
    )


SQL_BURSTINESS_FANO = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS v
  FROM events GROUP BY 1, 2),
acc AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
         sum(CAST(v AS HUGEINT)) AS s, sum(CAST(v AS HUGEINT) * v) AS q
  FROM daily GROUP BY event_type),
fin AS (
  SELECT event_type, n_days,
         CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE) AS mean,
         (CAST(n_days AS DOUBLE) * CAST(q AS DOUBLE)
          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
           / (CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) - 1.0))
           AS var
  FROM acc)
SELECT event_type, n_days,
       ROUND(mean, {R}) + 0 AS mean_daily,
       ROUND(CASE WHEN n_days < 2 OR mean = 0.0 THEN 0.0
             ELSE var / mean END, {R}) + 0 AS fano,
       ROUND(CASE WHEN n_days < 2 OR sqrt(var) + mean = 0.0 THEN 0.0
             ELSE (sqrt(var) - mean) / (sqrt(var) + mean) END, {R}) + 0
         AS burstiness
FROM fin
"""


EXT28_QUERIES["burstiness_fano"] = (q_burstiness_fano, SQL_BURSTINESS_FANO)

# ---------------------------------------------------------------------------
# gini_impurity: language purity of each source's mix
# ---------------------------------------------------------------------------


def q_gini_impurity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini impurity of each source's language distribution (1 − Σ
    (c_i/n)² — 0 = pure) plus the majority-language share — the purity
    readout a stratified curation split checks first. Exact
    DECIMAL(38,0) count moments, one division each."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    per = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    acc = per.groupBy("source").agg(
        F.sum(dec(F.col("c"))).alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_langs"),
        F.sum(dec(F.col("c")) * F.col("c")).alias("q"),
        F.max("c").alias("mx"),
    )
    n = F.col("n").cast("double")
    gini = F.lit(1.0) - F.col("q").cast("double") / (n * n)
    return acc.select(
        "source",
        F.col("n").cast("long").alias("n_docs"),
        "n_langs",
        (F.round(gini, R) + F.lit(0.0)).alias("gini_impurity"),
        (F.round(F.col("mx").cast("double") / n, R) + F.lit(0.0)).alias(
            "majority_share"
        ),
    )


SQL_GINI_IMPURITY = f"""
WITH per AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2),
acc AS (
  SELECT source, sum(CAST(c AS HUGEINT)) AS n,
         CAST(count(*) AS BIGINT) AS n_langs,
         sum(CAST(c AS HUGEINT) * c) AS q, max(c) AS mx
  FROM per GROUP BY source)
SELECT source, CAST(n AS BIGINT) AS n_docs, n_langs,
       ROUND(1.0 - CAST(q AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), {R}) + 0
         AS gini_impurity,
       ROUND(CAST(mx AS DOUBLE) / CAST(n AS DOUBLE), {R}) + 0
         AS majority_share
FROM acc
"""


EXT28_QUERIES["gini_impurity"] = (q_gini_impurity, SQL_GINI_IMPURITY)
