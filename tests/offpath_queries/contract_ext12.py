"""Round-7 contract entries: the temporal-join pair (native-shaped as-of
join, calendar gap-fill with linear interpolation), the rank-statistics
trio (Spearman, Kruskal–Wallis, Cramér's V summary), robust winsorized/
trimmed means, corpus fingerprints (Heaps'-law vocabulary growth, the
duplicated-n-gram inventory), rank-biased overlap for top-k comparisons,
the filter-cascade marginal-value report, and CCNet-style perplexity
bucketing.

Reference parity note: engine-extension surface (the reference is a fixed
two-pipeline ETL, SURVEY §3); oracles are the contract. The as-of oracle
is DuckDB's NATIVE ``ASOF LEFT JOIN`` — the engine's union+window
composition (operators/asof.py) is checked against another engine's
first-class implementation of the same operator.

Discipline (README "output-type discipline"): every oracle integer sum is
CAST(... AS BIGINT); ratios are exact scaled integers or doubles whose
operands are exact integers combined in the SAME expression order on both
engines; order-dependent double sums are quantized to integers BEFORE
aggregation (spearman/kruskal rank sums are exact 2·r̄ integers; chi²/H
terms are max-normalized floor-quantized per group before the k-row sum; RBO terms are
exact integer divisions because p = 1/2 makes the weights powers of two).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .contract import R, _t

EXT12_QUERIES: dict = {}

# ---------------------------------------------------------------------------
# asof_forward_join: FORWARD as-of with tolerance (the existing asof_join
# contract query covers backward; this certifies the other direction plus
# the staleness gate on the same operator)
# ---------------------------------------------------------------------------

_ASOF_TOL_S = 3600


def q_asof_forward_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of with a 1-hour tolerance: every purchase event gets
    the user's NEXT click at or after it, nulled when staler than the
    tolerance (operators/asof.py direction="forward" — same ONE
    (key, ts)-keyed shuffle, mirrored window). Right side deduped to
    unique (user, ts) (max event_id wins) for deterministic ties; the
    match lead is reported in exact microseconds."""
    from pyspark.sql import Window as W

    from gridmet_etl_spark.operators.asof import asof_join
    from gridmet_etl_spark.sources.readers import read_events

    e = read_events(spark, _t(sf_dir, "events")).select(
        "user_id", "ts", "event_id", "value", "event_type"
    )
    left = e.filter(F.col("event_type") == "purchase").drop("event_type")
    clicks = e.filter(F.col("event_type") == "click").drop("event_type")
    wd = W.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    right = (
        clicks.withColumn("_rn", F.row_number().over(wd))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    out = asof_join(
        left,
        right,
        on="user_id",
        direction="forward",
        tolerance_seconds=_ASOF_TOL_S,
    )
    return out.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.col("event_id_right").alias("next_click_id"),
        F.col("value_right").alias("next_click_value"),
        F.col("ts_right").alias("next_click_ts"),
        (
            F.unix_micros(F.col("ts_right").cast("timestamp"))
            - F.unix_micros(F.col("ts").cast("timestamp"))
        ).alias("lead_us"),
    )


SQL_ASOF_FORWARD_JOIN = f"""
WITH ev AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value, event_type
  FROM events),
pur AS (SELECT user_id, ts, event_id, value FROM ev
        WHERE event_type = 'purchase'),
clk AS (
  SELECT user_id, ts, event_id, value,
         row_number() OVER (PARTITION BY user_id, ts
                            ORDER BY event_id DESC) AS rn
  FROM ev WHERE event_type = 'click'),
rt AS (SELECT user_id, ts, event_id, value FROM clk WHERE rn = 1),
j AS (
  SELECT p.user_id, p.ts, p.event_id, p.value,
         r.event_id AS next_click_id, r.value AS next_click_value,
         r.ts AS rts,
         row_number() OVER (PARTITION BY p.event_id ORDER BY r.ts ASC)
           AS rn
  FROM pur p LEFT JOIN rt r
    ON r.user_id = p.user_id AND r.ts >= p.ts)
SELECT user_id, ts, event_id, value,
       CASE WHEN ok THEN next_click_id END AS next_click_id,
       CASE WHEN ok THEN next_click_value END AS next_click_value,
       CASE WHEN ok THEN rts END AS next_click_ts,
       CASE WHEN ok THEN CAST(epoch_us(rts) - epoch_us(ts) AS BIGINT) END
         AS lead_us
FROM (SELECT *, rts IS NOT NULL
             AND epoch_us(rts) - epoch_us(ts) <= CAST({_ASOF_TOL_S} AS BIGINT) * 1000000
             AS ok
      FROM j WHERE rn = 1)
"""


EXT12_QUERIES["asof_forward_join"] = (q_asof_forward_join, SQL_ASOF_FORWARD_JOIN)

# ---------------------------------------------------------------------------
# gapfill_interp: densified daily series with interior linear interpolation
# ---------------------------------------------------------------------------


def q_gapfill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily 'view' series densified to each user's [min, max]
    day range (sequence+explode — no driver calendar) with interior gaps
    linearly interpolated; leading/trailing missing days stay NULL
    (operators/timeseries.py::gapfill_interp). The daily metric is an
    exact e6-quantized mean so both engines interpolate from identical
    doubles."""
    from gridmet_etl_spark.operators.timeseries import gapfill_interp
    from gridmet_etl_spark.sources.readers import read_events

    e = read_events(spark, _t(sf_dir, "events"))
    daily = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.round(F.col("value") * 1e6, 0).cast("long")).alias("_s"),
            F.count(F.lit(1)).alias("_c"),
        )
        .select(
            "user_id",
            "day",
            (F.col("_s").cast("double") / (F.lit(1e6) * F.col("_c"))).alias(
                "value"
            ),
        )
    )
    return gapfill_interp(daily, ["user_id"], "day", "value")


SQL_GAPFILL_INTERP = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS DOUBLE)
           / (1e6 * count(*)) AS value
  FROM events WHERE event_type = 'view'
  GROUP BY user_id, CAST(ts AS DATE)),
span AS (SELECT user_id, min(day) AS d0, max(day) AS d1
         FROM daily GROUP BY user_id),
cal AS (
  SELECT user_id, CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                 CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
  FROM span),
filled AS (
  SELECT c.user_id, c.day, d.value,
    last_value(CASE WHEN d.value IS NOT NULL
                    THEN {'d': c.day, 'v': d.value} END IGNORE NULLS)
      OVER (PARTITION BY c.user_id ORDER BY c.day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev,
    first_value(CASE WHEN d.value IS NOT NULL
                     THEN {'d': c.day, 'v': d.value} END IGNORE NULLS)
      OVER (PARTITION BY c.user_id ORDER BY c.day
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next
  FROM cal c LEFT JOIN daily d ON c.user_id = d.user_id AND c.day = d.day)
SELECT user_id, day,
  ROUND(CASE WHEN value IS NOT NULL THEN value
        WHEN prev IS NOT NULL AND next IS NOT NULL THEN
          prev.v + (next.v - prev.v)
            * (CAST(day - prev.d AS DOUBLE) / CAST(next.d - prev.d AS DOUBLE))
        END, 6) + 0 AS value,
  (value IS NULL AND (CASE WHEN value IS NOT NULL THEN value
        WHEN prev IS NOT NULL AND next IS NOT NULL THEN
          prev.v + (next.v - prev.v)
            * (CAST(day - prev.d AS DOUBLE) / CAST(next.d - prev.d AS DOUBLE))
        END) IS NOT NULL) AS is_filled,
  CASE WHEN value IS NULL AND prev IS NOT NULL AND next IS NOT NULL
       THEN CAST(next.d - prev.d AS INT) END AS gap_fill_src_span
FROM filled
"""


EXT12_QUERIES["gapfill_interp"] = (q_gapfill_interp, SQL_GAPFILL_INTERP)

# ---------------------------------------------------------------------------
# spearman_corr: rank correlation per group (exact 2·r̄ integer ranks)
# ---------------------------------------------------------------------------


def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation of (l_quantity, l_extendedprice) per
    returnflag — tie-averaged ranks carried as exact 2·r̄ integers so the
    regression sums are engine-exact (operators/stats.py::spearman_corr)."""
    from gridmet_etl_spark.operators.stats import spearman_corr

    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    return spearman_corr(
        li, "l_quantity", "l_extendedprice", group_cols=("l_returnflag",)
    )


SQL_SPEARMAN_CORR = f"""
WITH ranked AS (
  SELECT l_returnflag,
         2 * rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
           + count(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1 AS rx,
         2 * rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
           + count(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1
           AS ry
  FROM lineitem),
acc AS (
  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(rx) AS BIGINT) AS sx, CAST(sum(ry) AS BIGINT) AS sy,
         CAST(sum(rx * ry) AS BIGINT) AS sxy,
         CAST(sum(rx * rx) AS BIGINT) AS sxx,
         CAST(sum(ry * ry) AS BIGINT) AS syy
  FROM ranked GROUP BY l_returnflag),
d AS (
  SELECT l_returnflag, n,
         CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy AS dn,
         CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx AS dx,
         CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy AS dy
  FROM acc)
SELECT l_returnflag, n,
       ROUND(CASE WHEN dx = 0 OR dy = 0 THEN 0.0
             ELSE dn / sqrt(dx * dy) END, {R}) + 0 AS rho
FROM d
"""


EXT12_QUERIES["spearman_corr"] = (q_spearman_corr, SQL_SPEARMAN_CORR)

# ---------------------------------------------------------------------------
# kruskal_wallis: k-sample rank ANOVA with tie correction
# ---------------------------------------------------------------------------


def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis H over l_extendedprice by returnflag: global
    tie-averaged 2·r̄ integer ranks, deviation-form per-group terms
    (exact integer numerators, positive terms, max-normalized
    floor-e12-quantized before the k-row sum — overflow-free at any
    group separation), integer tie correction
    (operators/stats.py::kruskal_wallis)."""
    from gridmet_etl_spark.operators.stats import kruskal_wallis

    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    return kruskal_wallis(li, "l_extendedprice", "l_returnflag")


SQL_KRUSKAL_WALLIS = f"""
WITH ranked AS (
  SELECT l_returnflag AS grp,
         2 * rank() OVER (ORDER BY l_extendedprice)
           + count(*) OVER (PARTITION BY l_extendedprice) - 1 AS r2
  FROM lineitem),
per_g AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n_g, CAST(sum(r2) AS BIGINT) AS s2
  FROM ranked GROUP BY grp),
tot AS (
  SELECT CAST(sum(n_g) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k
  FROM per_g),
ties AS (
  SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tie3
  FROM (SELECT CAST(count(*) AS BIGINT) AS t
        FROM lineitem GROUP BY l_extendedprice)),
gterms AS (
  SELECT CAST(s2 - n_g * (n + 1) AS DOUBLE)
           * CAST(s2 - n_g * (n + 1) AS DOUBLE)
           / (4.0 * CAST(n_g AS DOUBLE)) AS term,
         n, k
  FROM per_g, tot),
tmx AS (SELECT max(term) AS tm FROM gterms),
terms AS (
  SELECT CAST(sum(CASE WHEN tm > 0
           THEN CAST(floor(term / tm * 1e12) AS BIGINT) ELSE 0 END)
           AS BIGINT) AS q_e12,
         any_value(tm) AS tm, any_value(n) AS n, any_value(k) AS k
  FROM gterms, tmx),
summary AS (
  SELECT n, CAST(k - 1 AS INT) AS dof,
         12.0 * (CAST(q_e12 AS DOUBLE) / 1e12 * tm)
           / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) AS h_raw,
         1.0 - CAST(tie3 AS DOUBLE)
           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
              - CAST(n AS DOUBLE)) AS corr
  FROM terms, ties)
SELECT p.grp, p.n_g,
       ROUND(CAST(p.s2 AS DOUBLE) / (2.0 * p.n_g), {R}) + 0 AS mean_rank,
       s.n, s.dof,
       ROUND(s.h_raw, {R}) + 0 AS h,
       ROUND(CASE WHEN s.corr = 0 THEN 0.0 ELSE s.h_raw / s.corr END, {R}) + 0
         AS h_corrected
FROM per_g p CROSS JOIN summary s
"""


EXT12_QUERIES["kruskal_wallis"] = (q_kruskal_wallis, SQL_KRUSKAL_WALLIS)

# ---------------------------------------------------------------------------
# cramers_v: categorical-association summary (chi_square is the table)
# ---------------------------------------------------------------------------


def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total chi², dof, and Cramér's V for the documents lang × source
    contingency — per-cell terms max-normalized-e12-quantized before the
    cells-row sum (operators/stats.py::cramers_v, ADVICE r8 overflow fix)."""
    from gridmet_etl_spark.operators.stats import cramers_v

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return cramers_v(docs, "lang", "source")


SQL_CRAMERS_V = f"""
WITH cells AS (
  SELECT lang AS _r, source AS _c, CAST(count(*) AS BIGINT) AS n
  FROM documents GROUP BY lang, source),
rt AS (SELECT _r, CAST(sum(n) AS BIGINT) AS rt FROM cells GROUP BY _r),
ct AS (SELECT _c, CAST(sum(n) AS BIGINT) AS ct FROM cells GROUP BY _c),
grand AS (SELECT CAST(sum(n) AS BIGINT) AS tot,
                 CAST(count(*) AS BIGINT) AS n_cells FROM cells),
dims AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM rt) AS r,
                (SELECT CAST(count(*) AS BIGINT) FROM ct) AS c),
full_tab AS (
  -- the FULL r×c table including zero cells: (0−E)²/E terms are part of
  -- chi² (mirrors the engine; omitting them halves perfect-association)
  SELECT rt._r, ct._c, rt.rt, ct.ct, COALESCE(c.n, 0) AS n
  FROM rt CROSS JOIN ct LEFT JOIN cells c ON c._r = rt._r AND c._c = ct._c),
terms AS (
  -- per-cell (O-E)^2/E in the engine's exact operand order; summed after
  -- MAX-NORMALIZED e12 quantization (floor(term/tmax*1e12) — the
  -- kruskal_wallis pattern; absolute e9 overflowed int64 at term > ~9.2e9)
  SELECT (CAST(n AS DOUBLE) - CAST(rt AS DOUBLE) * ct / tot)
         * (CAST(n AS DOUBLE) - CAST(rt AS DOUBLE) * ct / tot)
         / (CAST(rt AS DOUBLE) * ct / tot) AS term,
         tot, n_cells
  FROM full_tab, grand),
tmax AS (SELECT max(term) AS tmax FROM terms),
acc AS (
  SELECT CAST(sum(CASE WHEN tmax > 0
                       THEN CAST(floor(term / tmax * 1e12) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS q_e12,
         any_value(tmax) AS tmax,
         any_value(tot) AS tot, any_value(n_cells) AS n_cells
  FROM terms, tmax)
SELECT tot AS n, CAST(r AS INT) AS n_rows, CAST(c AS INT) AS n_cols,
       CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
       ROUND(CAST(q_e12 AS DOUBLE) / 1e12 * tmax, {R}) + 0 AS chi2,
       ROUND(CASE WHEN CAST(tot AS DOUBLE) * least(r - 1, c - 1) = 0 THEN 0.0
             ELSE sqrt((CAST(q_e12 AS DOUBLE) / 1e12 * tmax)
                       / (CAST(tot AS DOUBLE)
                          * CAST(least(r - 1, c - 1) AS DOUBLE)))
             END, {R}) + 0 AS cramers_v
FROM acc, dims
"""


EXT12_QUERIES["cramers_v"] = (q_cramers_v, SQL_CRAMERS_V)

# ---------------------------------------------------------------------------
# winsorized_stats: robust means over exact cents integers
# ---------------------------------------------------------------------------


def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5/95 winsorized + trimmed + raw mean of the cents-quantized
    extended price per returnflag — nearest-rank bounds and integer sums,
    divisions only at the end (operators/stats.py::winsorized_stats)."""
    from gridmet_etl_spark.operators.stats import winsorized_stats

    li = spark.read.parquet(_t(sf_dir, "lineitem")).select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
    )
    return winsorized_stats(li, "cents", group_cols=("l_returnflag",))


SQL_WINSORIZED_STATS = f"""
WITH base AS (
  SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS v
  FROM lineitem),
ranked AS (
  SELECT l_returnflag, v,
         row_number() OVER (PARTITION BY l_returnflag ORDER BY v) AS rn,
         CAST(count(*) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
  FROM base),
kk AS (
  SELECT l_returnflag, v, rn, n,
         (n * 5 + 99) // 100 AS k_lo, (n * 95 + 99) // 100 AS k_hi
  FROM ranked),
bounds AS (
  SELECT l_returnflag,
         max(CASE WHEN rn = k_lo THEN v END) AS lo,
         max(CASE WHEN rn = k_hi THEN v END) AS hi
  FROM kk GROUP BY l_returnflag),
acc AS (
  SELECT k.l_returnflag, CAST(count(*) AS BIGINT) AS n,
         any_value(b.lo) AS lo_bound, any_value(b.hi) AS hi_bound,
         CAST(sum(greatest(least(k.v, b.hi), b.lo)) AS BIGINT) AS s_win,
         CAST(sum(CASE WHEN k.rn > k.k_lo AND k.rn <= k.k_hi
                       THEN k.v END) AS BIGINT) AS s_trim,
         CAST(sum(CASE WHEN k.rn > k.k_lo AND k.rn <= k.k_hi
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_core,
         CAST(sum(k.v) AS BIGINT) AS s_raw
  FROM kk k JOIN bounds b USING (l_returnflag)
  GROUP BY k.l_returnflag)
SELECT l_returnflag, n, lo_bound, hi_bound,
       ROUND(CAST(s_win AS DOUBLE) / n, {R}) + 0 AS winsorized_mean,
       -- empty trim core (⌈lo·n⌉ = ⌈hi·n⌉, e.g. n = 1): winsorized fallback
       ROUND(CASE WHEN n_core > 0 THEN CAST(s_trim AS DOUBLE) / n_core
             ELSE CAST(s_win AS DOUBLE) / n END, {R}) + 0 AS trimmed_mean,
       ROUND(CAST(s_raw AS DOUBLE) / n, {R}) + 0 AS raw_mean,
       CAST(n - n_core AS BIGINT) AS n_trimmed
FROM acc
"""


EXT12_QUERIES["winsorized_stats"] = (q_winsorized_stats, SQL_WINSORIZED_STATS)

# ---------------------------------------------------------------------------
# heaps_fit: vocabulary-growth fingerprint (Heaps' law log-log OLS)
# ---------------------------------------------------------------------------

_HEAPS_BUCKETS = 10


def q_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit at 10 id-ordered corpus
    checkpoints (operators/textops.py::heaps_fit) — the vocabulary twin
    of zipf_fit, third member of the is-more-data-worth-it trio with
    novelty_curve."""
    from gridmet_etl_spark.operators.textops import heaps_fit

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return heaps_fit(docs, n_buckets=_HEAPS_BUCKETS)


SQL_HEAPS_FIT = f"""
WITH mx AS (SELECT max(doc_id) AS m FROM documents),
toks AS (
  SELECT CAST(doc_id * {_HEAPS_BUCKETS} // (m + 1) AS INT) AS bucket,
         unnest(string_split(text, ' ')) AS w
  FROM documents, mx),
tok AS (SELECT bucket, w FROM toks WHERE w <> ''),
tok_per AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_tok
            FROM tok GROUP BY bucket),
first_b AS (SELECT w, min(bucket) AS bucket FROM tok GROUP BY w),
new_types AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_new
              FROM first_b GROUP BY bucket),
pts0 AS (
  SELECT t.bucket,
         CAST(sum(t.n_tok) OVER (ORDER BY t.bucket
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_tokens,
         CAST(sum(COALESCE(n.n_new, 0)) OVER (ORDER BY t.bucket
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_types
  FROM tok_per t LEFT JOIN new_types n USING (bucket)),
pts AS (
  SELECT bucket, cum_tokens, cum_types,
         CAST(round(ln(CAST(cum_tokens AS DOUBLE)) * 1e6) AS BIGINT) AS x,
         CAST(round(ln(CAST(cum_types AS DOUBLE)) * 1e6) AS BIGINT) AS y
  FROM pts0),
acc AS (
  SELECT CAST(count(*) AS BIGINT) AS kk,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM pts),
d AS (
  SELECT kk, sx, sy,
         CAST(kk * sxy - sx * sy AS DOUBLE) AS dn,
         CAST(kk * sxx - sx * sx AS DOUBLE) AS dx,
         CAST(kk * syy - sy * sy AS DOUBLE) AS dy
  FROM acc)
SELECT CAST(p.bucket AS INT) AS bucket, p.cum_tokens, p.cum_types,
       ROUND(CASE WHEN dx = 0 THEN 0.0 ELSE dn / dx END, {R}) + 0 AS beta,
       ROUND((CAST(sy AS DOUBLE) / 1e6
              - (CASE WHEN dx = 0 THEN 0.0 ELSE dn / dx END)
                * CAST(sx AS DOUBLE) / 1e6) / kk, {R}) + 0 AS ln_k,
       ROUND(CASE WHEN dx = 0 OR dy = 0 THEN 0.0
             ELSE dn * dn / (dx * dy) END, {R}) + 0 AS r2
FROM pts0 p CROSS JOIN d
"""


EXT12_QUERIES["heaps_fit"] = (q_heaps_fit, SQL_HEAPS_FIT)

# ---------------------------------------------------------------------------
# dup_ngrams: the corpus's most-duplicated word 5-grams (boilerplate
# inventory)
# ---------------------------------------------------------------------------

_DUPGRAM_K = 5
_DUPGRAM_TOP = 20


def q_dup_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most-duplicated word 5-grams with document frequency and
    occurrence counts (operators/textops.py::dup_ngrams) — the
    human-readable boilerplate inventory behind span_dedup's digests."""
    from gridmet_etl_spark.operators.textops import dup_ngrams

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return dup_ngrams(docs, k=_DUPGRAM_K, top=_DUPGRAM_TOP)


SQL_DUP_NGRAMS = f"""
WITH arr AS (
  SELECT doc_id, string_split(text, ' ') AS a FROM documents
  WHERE len(string_split(text, ' ')) >= {_DUPGRAM_K}),
grams AS (
  SELECT doc_id,
         array_to_string(a[st:st + {_DUPGRAM_K} - 1], ' ') AS ngram
  FROM arr, LATERAL (SELECT unnest(range(1, len(a) - {_DUPGRAM_K} + 2)) AS st)),
agg AS (
  SELECT ngram, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_occurrences
  FROM grams GROUP BY ngram)
SELECT ngram, n_docs, n_occurrences
FROM agg WHERE n_docs >= 2
ORDER BY n_docs DESC, n_occurrences DESC, ngram
LIMIT {_DUPGRAM_TOP}
"""


EXT12_QUERIES["dup_ngrams"] = (q_dup_ngrams, SQL_DUP_NGRAMS)

# ---------------------------------------------------------------------------
# rbo_overlap: rank-biased overlap of two revenue top-k rankings
# ---------------------------------------------------------------------------

_RBO_K = 32


def q_rbo_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RBO(p=1/2) between the top-32 parts by revenue shipped in 1996 vs
    1997 (operators/scoring.py::rbo_overlap): rankings from exact
    cents-integer revenue with partkey tie-break; every depth term is an
    exact integer division because the p=1/2 weights are powers of two."""
    from pyspark.sql import Window as W

    from gridmet_etl_spark.operators.scoring import rbo_overlap

    li = spark.read.parquet(_t(sf_dir, "lineitem")).select(
        "l_partkey",
        "l_shipdate",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0)
        .cast("long")
        .alias("rev_c"),
    )

    def ranking(year: int):
        rev = (
            li.filter(F.year("l_shipdate") == year)
            .groupBy("l_partkey")
            .agg(F.sum("rev_c").alias("rev"))
        )
        w = W.orderBy(F.col("rev").desc(), F.col("l_partkey"))
        return (
            rev.orderBy(F.col("rev").desc(), F.col("l_partkey"))
            .limit(_RBO_K)
            .select(
                F.col("l_partkey").alias("item"),
                F.row_number().over(w).alias("rank"),
            )
        )

    return rbo_overlap(ranking(1996), ranking(1997), k=_RBO_K)


SQL_RBO_OVERLAP = f"""
WITH rev AS (
  SELECT CAST(year(l_shipdate) AS INT) AS yr, l_partkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS rev
  FROM lineitem WHERE year(l_shipdate) IN (1996, 1997)
  GROUP BY year(l_shipdate), l_partkey),
ra AS (
  SELECT l_partkey AS item,
         row_number() OVER (ORDER BY rev DESC, l_partkey) AS r
  FROM rev WHERE yr = 1996 QUALIFY r <= {_RBO_K}),
rb AS (
  SELECT l_partkey AS item,
         row_number() OVER (ORDER BY rev DESC, l_partkey) AS r
  FROM rev WHERE yr = 1997 QUALIFY r <= {_RBO_K}),
inboth AS (
  SELECT greatest(ra.r, rb.r) AS md FROM ra JOIN rb USING (item)),
nb AS (SELECT CAST(count(*) AS BIGINT) AS n_both FROM inboth),
depths AS (SELECT CAST(unnest(range(1, {_RBO_K} + 1)) AS INT) AS depth),
curve AS (
  SELECT d.depth,
         CAST((SELECT count(*) FROM inboth b WHERE b.md <= d.depth) AS BIGINT)
           AS overlap
  FROM depths d),
terms AS (
  SELECT depth, overlap,
         overlap * CAST(1000000000000000 AS BIGINT)
           // (depth * CAST(power(2, depth) AS BIGINT)) AS term
  FROM curve),
summary AS (
  SELECT ROUND(CAST(CAST(sum(term) AS BIGINT) AS DOUBLE) / 1000000000000000,
               {R}) + 0 AS rbo
  FROM terms)
SELECT t.depth, t.overlap,
       t.overlap * 10000 // t.depth AS agree_e4,
       s.rbo, n.n_both
FROM terms t CROSS JOIN summary s CROSS JOIN nb n
"""


EXT12_QUERIES["rbo_overlap"] = (q_rbo_overlap, SQL_RBO_OVERLAP)

# ---------------------------------------------------------------------------
# filter_cascade: marginal-value report for the Gopher rule set
# ---------------------------------------------------------------------------

_CASCADE_RULES = ["word_count_ok", "word_len_ok", "symbol_ok", "alpha_ok", "stop_ok"]


def q_filter_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rule fail and UNIQUE-kill counts for the five Gopher quality
    rules (operators/quality.py::filter_cascade over gopher_flags) — the
    is-this-filter-still-earning-its-keep readout: a rule whose kills are
    all shadowed by other rules is dead weight in the cascade."""
    from gridmet_etl_spark.operators.quality import filter_cascade, gopher_flags

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    flags = gopher_flags(docs).select(
        "doc_id",
        "word_count_ok",
        "word_len_ok",
        (F.col("symbol_ratio") <= 0.1).alias("symbol_ok"),
        (F.col("alpha_frac") >= 0.8).alias("alpha_ok"),
        "stop_ok",
    )
    return filter_cascade(flags, _CASCADE_RULES)


_CASCADE_BASE = r"""
base AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '\S+')) AS n_words,
         length(regexp_replace(text, '\s+', '', 'g')) AS n_chars,
         len(regexp_extract_all(text, '#|\.\.\.')) AS n_symbols,
         len(list_filter(regexp_extract_all(text, '\S+'),
                         w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
         len(list_filter(regexp_extract_all(lower(text), '\S+'),
             w -> list_contains(['the','be','to','of','and','that','have','with'], w)))
           AS stop_hits
  FROM documents),
flags AS (
  SELECT doc_id,
         (n_words >= 50 AND n_words <= 100000) AS word_count_ok,
         (CASE WHEN n_words > 0 THEN CAST(n_chars AS DOUBLE) / n_words
               ELSE 0.0 END >= 3
          AND CASE WHEN n_words > 0 THEN CAST(n_chars AS DOUBLE) / n_words
               ELSE 0.0 END <= 10) AS word_len_ok,
         (CASE WHEN n_words > 0 THEN CAST(n_symbols AS DOUBLE) / n_words
               ELSE 0.0 END <= 0.1) AS symbol_ok,
         (CASE WHEN n_words > 0 THEN CAST(n_alpha AS DOUBLE) / n_words
               ELSE 0.0 END >= 0.8) AS alpha_ok,
         (stop_hits >= 2) AS stop_ok
  FROM base)
"""

_CASCADE_SQL_ROWS = "\nUNION ALL\n".join(
    f"""SELECT '{r}' AS rule,
       CAST(sum(CASE WHEN NOT {r} THEN 1 ELSE 0 END) AS BIGINT) AS n_failed,
       CAST(sum(CASE WHEN NOT {r} AND {" AND ".join(o for o in _CASCADE_RULES if o != r)}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_unique_kills,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN {" AND ".join(_CASCADE_RULES)} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_survivors
FROM flags"""
    for r in _CASCADE_RULES
)

SQL_FILTER_CASCADE = f"WITH {_CASCADE_BASE.strip()}\n{_CASCADE_SQL_ROWS}"


EXT12_QUERIES["filter_cascade"] = (q_filter_cascade, SQL_FILTER_CASCADE)

# ---------------------------------------------------------------------------
# ppl_buckets: CCNet head/middle/tail perplexity tiers per language
# ---------------------------------------------------------------------------


def q_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language perplexity terciles of the corpus bigram-LM scores
    (operators/lm.py::ppl_buckets): band volumes and score ranges — the
    keep-head / sample-middle / drop-tail curation knob."""
    from gridmet_etl_spark.operators.lm import ppl_buckets

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return ppl_buckets(docs, n_buckets=3)


def _sql_ppl_buckets() -> str:
    from .contract_ext3 import SQL_LM_SCORES

    return f"""
WITH scored AS ({SQL_LM_SCORES}),
banded AS (
  SELECT d.lang, s.doc_id, s.n_bigrams, s.nll,
         ntile(3) OVER (PARTITION BY d.lang ORDER BY s.nll, s.doc_id)
           AS bucket
  FROM scored s JOIN documents d USING (doc_id))
SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_bigrams) AS BIGINT) AS sum_bigrams,
       min(nll) AS min_nll, max(nll) AS max_nll
FROM banded GROUP BY lang, bucket
"""


EXT12_QUERIES["ppl_buckets"] = (q_ppl_buckets, _sql_ppl_buckets())

# ===========================================================================
# Round-7 second wave: the slots freed by rotating fewer flagship re-checks
# go to six more certified queries (nonparametric test family completion,
# the windowed funnel, inter-document repetition)
# ===========================================================================

# ---------------------------------------------------------------------------
# fleiss_kappa: multi-rater agreement of three deterministic length raters
# ---------------------------------------------------------------------------


def q_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa across three deterministic document 'raters' (char-,
    word-, and BPE-ish-token-count bucketers into short/mid/long) —
    cohen_kappa's m-rater generalization; all agreement terms are ratios
    of exact integers (operators/stats.py::fleiss_kappa)."""
    from gridmet_etl_spark.operators.stats import fleiss_kappa

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    nw = F.size(F.split(F.col("text"), " "))
    nv = F.size(F.array_distinct(F.split(F.col("text"), " ")))

    def bucket(c, lo, hi):
        return (
            F.when(c < lo, F.lit("short"))
            .when(c < hi, F.lit("mid"))
            .otherwise(F.lit("long"))
        )

    # tercile-ish thresholds of the sf corpus so the three raters
    # genuinely disagree at the boundaries (char-length, word-count, and
    # vocabulary-size views of "document size")
    ratings = (
        docs.select(F.col("doc_id").alias("item"),
                    bucket(F.col("n_chars"), 216, 373).alias("category"))
        .unionByName(
            docs.select(F.col("doc_id").alias("item"),
                        bucket(nw, 39, 68).alias("category"))
        )
        .unionByName(
            docs.select(F.col("doc_id").alias("item"),
                        bucket(nv, 22, 27).alias("category"))
        )
    )
    return fleiss_kappa(ratings)


SQL_FLEISS_KAPPA = rf"""
WITH ratings AS (
  SELECT doc_id AS item,
         CASE WHEN n_chars < 216 THEN 'short'
              WHEN n_chars < 373 THEN 'mid' ELSE 'long' END AS category
  FROM documents
  UNION ALL
  SELECT doc_id,
         CASE WHEN len(string_split(text, ' ')) < 39 THEN 'short'
              WHEN len(string_split(text, ' ')) < 68 THEN 'mid'
              ELSE 'long' END
  FROM documents
  UNION ALL
  SELECT doc_id,
         CASE WHEN len(list_distinct(string_split(text, ' '))) < 22
              THEN 'short'
              WHEN len(list_distinct(string_split(text, ' '))) < 27
              THEN 'mid'
              ELSE 'long' END
  FROM documents),
per_cell AS (
  SELECT item, category, CAST(count(*) AS BIGINT) AS n
  FROM ratings GROUP BY item, category),
per_item AS (
  SELECT item, CAST(sum(n) AS BIGINT) AS m,
         CAST(sum(n * n) AS BIGINT) AS s2
  FROM per_cell GROUP BY item),
mmode AS (
  SELECT m AS mm FROM (
    SELECT m, count(*) AS c FROM per_item GROUP BY m
    ORDER BY c DESC, m LIMIT 1)),
kept AS (SELECT p.* FROM per_item p, mmode WHERE p.m = mmode.mm),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_items, any_value(m) AS m,
         CAST(sum(s2) AS BIGINT) AS s2
  FROM kept),
dropped AS (
  SELECT CAST(count(*) AS BIGINT) AS n_dropped
  FROM per_item p, mmode WHERE p.m <> mmode.mm),
ct AS (
  SELECT category, CAST(sum(n) AS BIGINT) AS cj
  FROM per_cell SEMI JOIN kept USING (item)
  GROUP BY category),
c2 AS (SELECT CAST(sum(cj * cj) AS BIGINT) AS c2 FROM ct)
SELECT n_items, CAST(m AS INT) AS m_raters, n_dropped,
       ROUND((CAST(s2 AS DOUBLE) - CAST(n_items AS DOUBLE) * m)
             / (CAST(n_items AS DOUBLE) * m * (CAST(m AS DOUBLE) - 1.0)),
             {R}) + 0 AS pbar,
       ROUND(CAST(c2 AS DOUBLE)
             / ((CAST(n_items AS DOUBLE) * m) * (CAST(n_items AS DOUBLE) * m)),
             {R}) + 0 AS pe,
       ROUND(CASE WHEN CAST(c2 AS DOUBLE)
                       / ((CAST(n_items AS DOUBLE) * m)
                          * (CAST(n_items AS DOUBLE) * m)) = 1.0 THEN 1.0
             ELSE ((CAST(s2 AS DOUBLE) - CAST(n_items AS DOUBLE) * m)
                   / (CAST(n_items AS DOUBLE) * m * (CAST(m AS DOUBLE) - 1.0))
                   - CAST(c2 AS DOUBLE)
                     / ((CAST(n_items AS DOUBLE) * m)
                        * (CAST(n_items AS DOUBLE) * m)))
                  / (1.0 - CAST(c2 AS DOUBLE)
                     / ((CAST(n_items AS DOUBLE) * m)
                        * (CAST(n_items AS DOUBLE) * m)))
             END, {R}) + 0 AS kappa
FROM tot, c2, dropped
"""


EXT12_QUERIES["fleiss_kappa"] = (q_fleiss_kappa, SQL_FLEISS_KAPPA)

# ---------------------------------------------------------------------------
# wilcoxon_signed: paired per-customer spend, 1996 vs 1997
# ---------------------------------------------------------------------------


def q_wilcoxon_signed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank over paired per-customer order spend
    (1997 − 1996, exact cents, customers active both years) — the paired
    companion to mann_whitney/welch_ttest; |d| ranks via the shared
    distributed prefix (operators/stats.py::wilcoxon_signed_rank)."""
    from gridmet_etl_spark.operators.stats import wilcoxon_signed_rank

    o = spark.read.parquet(_t(sf_dir, "orders")).select(
        "o_custkey",
        F.year("o_orderdate").alias("yr"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    per = (
        o.filter(F.col("yr").isin(1996, 1997))
        .groupBy("o_custkey")
        .agg(
            F.sum(F.when(F.col("yr") == 1996, F.col("cents"))).alias("c96"),
            F.sum(F.when(F.col("yr") == 1997, F.col("cents"))).alias("c97"),
        )
        .filter(F.col("c96").isNotNull() & F.col("c97").isNotNull())
        .select((F.col("c97") - F.col("c96")).alias("diff"))
    )
    return wilcoxon_signed_rank(per)


SQL_WILCOXON_SIGNED = f"""
WITH per AS (
  SELECT o_custkey,
         CAST(sum(CASE WHEN year(o_orderdate) = 1996
              THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT)
           AS c96,
         CAST(sum(CASE WHEN year(o_orderdate) = 1997
              THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT)
           AS c97
  FROM orders WHERE year(o_orderdate) IN (1996, 1997)
  GROUP BY o_custkey),
d AS (SELECT c97 - c96 AS d FROM per
      WHERE c96 IS NOT NULL AND c97 IS NOT NULL),
nz AS (SELECT CAST(count(*) AS BIGINT) AS n_zero FROM d WHERE d = 0),
cells AS (
  SELECT abs(d) AS v, d > 0 AS pos, CAST(count(*) AS BIGINT) AS c
  FROM d WHERE d <> 0 GROUP BY abs(d), d > 0),
vals AS (SELECT v, CAST(sum(c) AS BIGINT) AS cv FROM cells GROUP BY v),
r2v AS (
  SELECT v, CAST(2 * COALESCE(sum(cv) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            + cv + 1 AS BIGINT) AS r2
  FROM vals),
acc AS (
  SELECT CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(CASE WHEN pos THEN c * r2 END) AS BIGINT) AS wp2,
         CAST(sum(CASE WHEN NOT pos THEN c * r2 END) AS BIGINT) AS wm2
  FROM cells JOIN r2v USING (v)),
ties AS (SELECT CAST(sum(cv * cv * cv - cv) AS BIGINT) AS tie3 FROM vals)
SELECT n, n_zero,
       ROUND(COALESCE(CAST(wp2 AS DOUBLE), 0.0) / 2.0, {R}) + 0 AS w_plus,
       ROUND(COALESCE(CAST(wm2 AS DOUBLE), 0.0) / 2.0, {R}) + 0 AS w_minus,
       ROUND(CASE WHEN CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)
                       * (2.0 * CAST(n AS DOUBLE) + 1.0) / 24.0
                       - CAST(tie3 AS DOUBLE) / 48.0 <= 0.0 THEN 0.0
             ELSE (COALESCE(CAST(wp2 AS DOUBLE), 0.0) / 2.0
                   - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) / 4.0)
                  / sqrt(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)
                         * (2.0 * CAST(n AS DOUBLE) + 1.0) / 24.0
                         - CAST(tie3 AS DOUBLE) / 48.0)
             END, {R}) + 0 AS z
FROM acc, ties, nz
"""


EXT12_QUERIES["wilcoxon_signed"] = (q_wilcoxon_signed, SQL_WILCOXON_SIGNED)

# ---------------------------------------------------------------------------
# friedman_test: event types ranked within each day
# ---------------------------------------------------------------------------


def q_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test of the five event types' daily volumes across the 30
    day-blocks — the repeated-measures cousin of kruskal_wallis
    (operators/stats.py::friedman_test); within-block rank windows are
    k(=5)-row bounded."""
    from gridmet_etl_spark.operators.stats import friedman_test
    from gridmet_etl_spark.sources.readers import read_events

    e = read_events(spark, _t(sf_dir, "events"))
    daily = e.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    return friedman_test(daily, "day", "event_type", "n")


SQL_FRIEDMAN_TEST = f"""
WITH one AS (
  SELECT CAST(ts AS DATE) AS b, event_type AS t,
         CAST(count(*) AS BIGINT) AS v
  FROM events GROUP BY CAST(ts AS DATE), event_type),
ranked AS (
  SELECT b, t,
         2 * rank() OVER (PARTITION BY b ORDER BY v)
           + count(*) OVER (PARTITION BY b, v) - 1 AS r2
  FROM one),
per_t AS (
  SELECT t, CAST(count(*) AS BIGINT) AS n_blocks,
         CAST(sum(r2) AS BIGINT) AS s2
  FROM ranked GROUP BY t),
kk AS (SELECT CAST(count(*) AS BIGINT) AS k,
              CAST(max(n_blocks) AS BIGINT) AS n FROM per_t),
ties AS (
  SELECT CAST(sum(t3 * t3 * t3 - t3) AS BIGINT) AS tie3
  FROM (SELECT CAST(count(*) AS BIGINT) AS t3 FROM one GROUP BY b, v)),
gterms AS (
  SELECT CAST(s2 - n * (k + 1) AS DOUBLE)
           * CAST(s2 - n * (k + 1) AS DOUBLE) / 4.0 AS term,
         k, n
  FROM per_t, kk),
tmx AS (SELECT max(term) AS tm FROM gterms),
terms AS (
  SELECT CAST(sum(CASE WHEN tm > 0
           THEN CAST(floor(term / tm * 1e12) AS BIGINT) ELSE 0 END)
           AS BIGINT) AS q_e12,
         any_value(tm) AS tm, any_value(k) AS k, any_value(n) AS n
  FROM gterms, tmx),
summary AS (
  SELECT CAST(k AS INT) AS k,
         12.0 * (CAST(q_e12 AS DOUBLE) / 1e12 * tm)
           / (CAST(n AS DOUBLE) * CAST(k AS DOUBLE)
              * (CAST(k AS DOUBLE) + 1.0)) AS chi_raw,
         1.0 - CAST(tie3 AS DOUBLE)
           / (CAST(n AS DOUBLE) * CAST(k AS DOUBLE)
              * (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0)) AS corr,
         CAST(k - 1 AS INT) AS dof
  FROM terms, ties)
SELECT p.t AS treatment, p.n_blocks,
       ROUND(CAST(p.s2 AS DOUBLE) / (2.0 * p.n_blocks), {R}) + 0
         AS mean_rank,
       s.k, ROUND(s.chi_raw, {R}) + 0 AS chi2,
       ROUND(CASE WHEN s.corr = 0 THEN 0.0 ELSE s.chi_raw / s.corr END,
             {R}) + 0 AS chi2_corrected,
       s.dof
FROM per_t p CROSS JOIN summary s
"""


EXT12_QUERIES["friedman_test"] = (q_friedman_test, SQL_FRIEDMAN_TEST)

# ---------------------------------------------------------------------------
# ordinal_gamma: quantity quintile × order priority
# ---------------------------------------------------------------------------


def q_ordinal_gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodman–Kruskal gamma between the quantity quintile bucket and the
    order-priority ordinal — concordant/discordant pair counts computed
    on the 5×5 cell relation only (operators/stats.py::ordinal_gamma)."""
    from gridmet_etl_spark.operators.stats import ordinal_gamma

    li = spark.read.parquet(_t(sf_dir, "lineitem")).select(
        "l_orderkey",
        F.expr("CAST((CAST(l_quantity AS BIGINT) - 1) div 10 AS INT)").alias(
            "qbucket"
        ),
    )
    o = spark.read.parquet(_t(sf_dir, "orders")).select(
        "o_orderkey",
        F.substring("o_orderpriority", 1, 1).cast("int").alias("prio"),
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey).select("qbucket", "prio")
    return ordinal_gamma(j, "qbucket", "prio")


SQL_ORDINAL_GAMMA = f"""
WITH j AS (
  SELECT CAST((CAST(l_quantity AS BIGINT) - 1) // 10 AS INT) AS x,
         CAST(substr(o_orderpriority, 1, 1) AS INT) AS y
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
cells AS (
  SELECT x, y, CAST(count(*) AS BIGINT) AS n FROM j GROUP BY x, y),
pairs AS (
  SELECT a.y AS ya, b.y AS yb, a.n AS na, b.n AS nb
  FROM cells a JOIN cells b ON a.x < b.x AND a.y <> b.y),
acc AS (
  SELECT CAST(sum(CASE WHEN ya < yb THEN na * nb END) AS BIGINT)
           AS concordant,
         CAST(sum(CASE WHEN ya > yb THEN na * nb END) AS BIGINT)
           AS discordant
  FROM pairs),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS n_cells FROM cells)
SELECT n, n_cells,
       COALESCE(concordant, 0) AS concordant,
       COALESCE(discordant, 0) AS discordant,
       ROUND(CASE WHEN COALESCE(CAST(concordant AS DOUBLE), 0.0)
                       + COALESCE(CAST(discordant AS DOUBLE), 0.0) = 0.0
             THEN 0.0
             ELSE (COALESCE(CAST(concordant AS DOUBLE), 0.0)
                   - COALESCE(CAST(discordant AS DOUBLE), 0.0))
                  / (COALESCE(CAST(concordant AS DOUBLE), 0.0)
                     + COALESCE(CAST(discordant AS DOUBLE), 0.0))
             END, {R}) + 0 AS gamma
FROM acc, tot
"""


EXT12_QUERIES["ordinal_gamma"] = (q_ordinal_gamma, SQL_ORDINAL_GAMMA)

# ---------------------------------------------------------------------------
# window_funnel: strictly-sequenced view→click→purchase within 12 hours
# ---------------------------------------------------------------------------

_WF_STEPS = ["view", "click", "purchase"]
_WF_WITHIN_S = 43200


def q_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse-windowFunnel shape: per user, the deepest
    view→click→purchase chain with non-decreasing timestamps completing
    within 12 hours of the chain's first event; each chain extension is
    one forward as-of join (operators/funnel.py::window_funnel reusing
    operators/asof.py). funnel_steps counts unordered step users — this
    is the sequenced, time-bounded version."""
    from gridmet_etl_spark.operators.funnel import window_funnel
    from gridmet_etl_spark.sources.readers import read_events

    e = read_events(spark, _t(sf_dir, "events"))
    return window_funnel(e, _WF_STEPS, _WF_WITHIN_S)


SQL_WINDOW_FUNNEL = f"""
WITH ev AS (
  SELECT user_id AS u, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
s1 AS (SELECT u, ts AS t1 FROM ev WHERE event_type = '{_WF_STEPS[0]}'),
r2 AS (SELECT u, ts FROM ev WHERE event_type = '{_WF_STEPS[1]}'
       GROUP BY u, ts),
r3 AS (SELECT u, ts FROM ev WHERE event_type = '{_WF_STEPS[2]}'
       GROUP BY u, ts),
c2 AS (
  SELECT s1.u, s1.t1, min(r2.ts) AS t2
  FROM s1 LEFT JOIN r2 ON r2.u = s1.u AND r2.ts >= s1.t1
  GROUP BY s1.u, s1.t1),
k2 AS (SELECT u, t1, t2 FROM c2 WHERE t2 IS NOT NULL
       AND epoch_us(t2) - epoch_us(t1)
           <= CAST({_WF_WITHIN_S} AS BIGINT) * 1000000),
c3 AS (
  SELECT k2.u, k2.t1, min(r3.ts) AS t3
  FROM k2 LEFT JOIN r3 ON r3.u = k2.u AND r3.ts >= k2.t2
  GROUP BY k2.u, k2.t1),
k3 AS (SELECT u, t1, t3 FROM c3 WHERE t3 IS NOT NULL
       AND epoch_us(t3) - epoch_us(t1)
           <= CAST({_WF_WITHIN_S} AS BIGINT) * 1000000),
lv AS (
  SELECT u, 1 AS lvl FROM s1
  UNION ALL SELECT u, 2 FROM k2
  UNION ALL SELECT u, 3 FROM k3),
per_user AS (SELECT u, max(lvl) AS lvl FROM lv GROUP BY u)
SELECT CAST(lvl AS INT) AS level, CAST(count(*) AS BIGINT) AS n_users
FROM per_user GROUP BY lvl
"""


EXT12_QUERIES["window_funnel"] = (q_window_funnel, SQL_WINDOW_FUNNEL)

# ---------------------------------------------------------------------------
# interdup_report: per-source inter-document 5-gram repetition rate
# ---------------------------------------------------------------------------


def q_interdup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source inter-document repetition: each doc's share of distinct
    word 5-grams that appear in ≥1 OTHER document, averaged per source
    (exact scaled integers; operators/textops.py::interdup_report) — the
    rate behind dup_ngrams' top-offender list."""
    from gridmet_etl_spark.operators.textops import interdup_report

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return interdup_report(docs, k=5)


SQL_INTERDUP_REPORT = """
WITH base AS (
  SELECT doc_id, source, string_split(text, ' ') AS a FROM documents),
short AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_short_docs
  FROM base WHERE len(a) < 5 GROUP BY source),
grams AS (
  SELECT DISTINCT doc_id, source,
         array_to_string(a[st:st + 4], ' ') AS gram
  FROM base, LATERAL (SELECT unnest(range(1, len(a) - 3)) AS st)
  WHERE len(a) >= 5),
flagged AS (
  SELECT doc_id, source,
         count(*) OVER (PARTITION BY gram) AS df
  FROM grams),
per_doc AS (
  SELECT source,
         CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) * 10000
              // count(*) AS BIGINT) AS share
  FROM flagged GROUP BY doc_id, source),
agg AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(CAST(sum(share) AS BIGINT) // count(*) AS BIGINT)
           AS mean_interdup_e4,
         CAST(max(share) AS BIGINT) AS max_interdup_e4
  FROM per_doc GROUP BY source),
sources AS (SELECT DISTINCT source FROM base)
SELECT src.source,
       CAST(COALESCE(a.n_docs, 0) AS BIGINT) AS n_docs,
       CAST(COALESCE(s.n_short_docs, 0) AS BIGINT) AS n_short_docs,
       a.mean_interdup_e4, a.max_interdup_e4
FROM sources src LEFT JOIN agg a USING (source)
LEFT JOIN short s USING (source)
"""


EXT12_QUERIES["interdup_report"] = (q_interdup_report, SQL_INTERDUP_REPORT)
