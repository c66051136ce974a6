"""Round-5 session-C contract entries: sketch SET ALGEBRA (KMV theta
sketches — the union-AND-intersection answer HLL cannot give), hybrid
retrieval fusion, graph link prediction, a causal-inference batch
(CUPED / stratified IPW / diff-in-differences), session path analytics,
and Hilbert-curve layout scoring extending the round-5B planner loop.

Reference parity note: like the planner layer (contract_ext9) these are
engine-extension surface — the reference is a fixed two-pipeline ETL
(SURVEY §3) with none of this; oracles are the contract. Float discipline
follows README: integer-exact wherever a scaled-integer form exists
(RRF ranks, resource-allocation link scores), ROUND(x, R) + stability
margin elsewhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .contract import R, _t

EXT10_QUERIES: dict = {}

# ---------------------------------------------------------------------------
# KMV theta sketch: distinct estimates + set algebra, closed-loop vs truth
# ---------------------------------------------------------------------------

_KMV_K = 256
_KMV_SPACE = 1 << 48
# user-day activity key: ~1.6k distinct per event_type at sf0.01, ~35%
# pairwise overlap — the estimator path (not the exact small-set path)
_KMV_KEY_SPARK = None  # built in the query body
_KMV_KEY_SQL = "CAST(user_id AS VARCHAR) || ':' || CAST(CAST(ts AS TIMESTAMP) AS DATE)"


def _kmv_events_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(_t(sf_dir, "events"))
    return ev.select(
        "event_type",
        F.concat(
            F.col("user_id").cast("string"),
            F.lit(":"),
            F.date_format(F.col("ts"), "yyyy-MM-dd"),
        ).alias("k"),
    )


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distinct user-days: KMV estimate next to measured
    truth (the closed-loop convention of selectivity_eval/join_qerror) —
    (event_type, n_kept, kth_hash, est_distinct, true_distinct, rel_err).

    Scale: the sketch build is ONE (group, hash) distinct shuffle +
    WindowGroupLimit bounded-k ranking; at 100 TB the truth column is the
    thing you drop, and the sketch (≤ k rows/group) is what you keep and
    merge across days/sources."""
    from gridmet_etl_spark.operators.sketch import kmv_build, kmv_estimate

    keyed = _kmv_events_keyed(spark, sf_dir)
    sk = kmv_build(keyed, "k", ["event_type"], k=_KMV_K)
    est = kmv_estimate(sk, ["event_type"], k=_KMV_K, ndigits=R)
    truth = keyed.distinct().groupBy("event_type").agg(
        F.count(F.lit(1)).alias("true_distinct")
    )
    return est.join(truth, "event_type").select(
        "event_type",
        "n_kept",
        "kth_hash",
        "est_distinct",
        "true_distinct",
        (
            F.round(
                (F.col("est_distinct") - F.col("true_distinct"))
                / F.col("true_distinct"),
                R,
            )
            + F.lit(0.0)
        ).alias("rel_err"),
    )


_SQL_KMV_SKETCH = f"""
dist AS (
  SELECT DISTINCT event_type AS g,
         CAST('0x' || substr(md5('kmv:' || {_KMV_KEY_SQL}), 1, 12) AS BIGINT) AS h
  FROM events),
rk AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn FROM dist),
sk AS (SELECT g, h, rn FROM rk WHERE rn <= {_KMV_K})
"""


def _sql_kmv_distinct() -> str:
    return f"""
WITH {_SQL_KMV_SKETCH},
est AS (
  SELECT g, count(*) AS n_kept, max(h) AS kth_hash,
         ROUND(CASE WHEN count(*) < {_KMV_K} THEN CAST(count(*) AS DOUBLE)
               ELSE CAST({(_KMV_K - 1) * _KMV_SPACE} AS DOUBLE) / max(h) END,
               {R}) + 0 AS est_distinct
  FROM sk GROUP BY g),
truth AS (SELECT g, count(*) AS true_distinct FROM dist GROUP BY g)
SELECT est.g AS event_type, est.n_kept, est.kth_hash, est.est_distinct,
       truth.true_distinct,
       ROUND((est.est_distinct - truth.true_distinct)
             / CAST(truth.true_distinct AS DOUBLE), {R}) + 0 AS rel_err
FROM est JOIN truth ON truth.g = est.g
"""


EXT10_QUERIES["kmv_distinct"] = (q_kmv_distinct, _sql_kmv_distinct())


def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise |A ∪ B| / |A ∩ B| / Jaccard across event-type activity
    sets, estimated from the k-row sketches alone (the corpus is never
    rescanned, the join never executed) — next to executed truth. The
    capability HLL rollups structurally lack: sketch INTERSECTION."""
    from gridmet_etl_spark.operators.sketch import kmv_build, kmv_set_ops

    keyed = _kmv_events_keyed(spark, sf_dir)
    sk = kmv_build(keyed, "k", ["event_type"], k=_KMV_K)
    est = kmv_set_ops(sk, "event_type", k=_KMV_K, ndigits=R)
    dist = keyed.distinct()
    a = dist.select(F.col("event_type").alias("ga"), "k")
    b = dist.select(F.col("event_type").alias("gb"), "k")
    inter = (
        a.join(b, "k")
        .filter(F.col("ga") < F.col("gb"))
        .groupBy("ga", "gb")
        .agg(F.count(F.lit(1)).alias("true_inter"))
    )
    sizes = dist.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    out = (
        est.join(inter, ["ga", "gb"])
        .join(
            F.broadcast(sizes.select(F.col("event_type").alias("ga"), F.col("n").alias("na"))),
            "ga",
        )
        .join(
            F.broadcast(sizes.select(F.col("event_type").alias("gb"), F.col("n").alias("nb"))),
            "gb",
        )
    )
    return out.select(
        "ga",
        "gb",
        "n_common",
        "union_est",
        "inter_est",
        "jaccard_est",
        (F.col("na") + F.col("nb") - F.col("true_inter")).alias("true_union"),
        "true_inter",
    )


def _sql_kmv_set_ops() -> str:
    return f"""
WITH {_SQL_KMV_SKETCH},
meta AS (
  SELECT g, count(*) AS n_kept, max(h) AS kth,
         CASE WHEN count(*) < {_KMV_K} THEN {_KMV_SPACE} ELSE max(h) END AS theta
  FROM sk GROUP BY g),
pairs AS (SELECT a.g AS ga, b.g AS gb FROM meta a, meta b WHERE a.g < b.g),
u AS (
  SELECT DISTINCT p.ga, p.gb, s.h
  FROM pairs p JOIN sk s ON s.g = p.ga OR s.g = p.gb),
urk AS (
  SELECT ga, gb, h,
         row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rn FROM u),
uk AS (
  SELECT ga, gb, count(*) AS u_kept, max(h) AS u_kth
  FROM urk WHERE rn <= {_KMV_K} GROUP BY ga, gb),
common AS (
  SELECT p.ga, p.gb, count(*) AS n_common
  FROM pairs p
  JOIN sk a ON a.g = p.ga
  JOIN sk b ON b.g = p.gb AND b.h = a.h
  JOIN meta ma ON ma.g = p.ga
  JOIN meta mb ON mb.g = p.gb
  WHERE a.h < ma.theta AND a.h < mb.theta
  GROUP BY p.ga, p.gb),
-- Jaccard numerator: common hashes INSIDE the union k-sample (rn <= k),
-- one sampling window with the u_kept denominator (theta-window counts
-- overestimate by ~|A inter B|/max(|A|,|B|))
common_u AS (
  SELECT a.ga, a.gb, count(*) AS n_common_u
  FROM (SELECT ga, gb, h FROM urk WHERE rn <= {_KMV_K}) a
  JOIN sk sa2 ON sa2.g = a.ga AND sa2.h = a.h
  JOIN sk sb2 ON sb2.g = a.gb AND sb2.h = a.h
  GROUP BY a.ga, a.gb),
rawdist AS (SELECT DISTINCT event_type AS g, {_KMV_KEY_SQL} AS k FROM events),
truth AS (
  SELECT a.g AS ga, b.g AS gb, count(*) AS true_inter
  FROM rawdist a JOIN rawdist b ON b.k = a.k AND a.g < b.g
  GROUP BY 1, 2),
sizes AS (SELECT g, count(*) AS n FROM rawdist GROUP BY g)
SELECT p.ga, p.gb,
       COALESCE(c.n_common, 0) AS n_common,
       ROUND(CASE WHEN uk.u_kept < {_KMV_K} THEN CAST(uk.u_kept AS DOUBLE)
             ELSE CAST({(_KMV_K - 1) * _KMV_SPACE} AS DOUBLE) / uk.u_kth END,
             {R}) + 0 AS union_est,
       ROUND(CASE WHEN least(ma.theta, mb.theta) = {_KMV_SPACE}
                  THEN CAST(COALESCE(c.n_common, 0) AS DOUBLE)
             ELSE COALESCE(c.n_common, 0)
                  * CAST({_KMV_SPACE} AS DOUBLE) / least(ma.theta, mb.theta) END,
             {R}) + 0 AS inter_est,
       ROUND(COALESCE(cu.n_common_u, 0) / CAST(uk.u_kept AS DOUBLE), {R}) + 0
         AS jaccard_est,
       sa.n + sb.n - t.true_inter AS true_union,
       t.true_inter
FROM pairs p
JOIN meta ma ON ma.g = p.ga
JOIN meta mb ON mb.g = p.gb
JOIN uk ON uk.ga = p.ga AND uk.gb = p.gb
LEFT JOIN common c ON c.ga = p.ga AND c.gb = p.gb
LEFT JOIN common_u cu ON cu.ga = p.ga AND cu.gb = p.gb
JOIN truth t ON t.ga = p.ga AND t.gb = p.gb
JOIN sizes sa ON sa.g = p.ga
JOIN sizes sb ON sb.g = p.gb
"""


EXT10_QUERIES["kmv_set_ops"] = (q_kmv_set_ops, _sql_kmv_set_ops())

# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of BM25 (lexical) + cosine (dense)
# ---------------------------------------------------------------------------

_RRF_C = 60
_RRF_SCALE = 1_000_000_000
_RRF_DEPTH = 50  # per-system candidate depth
_RRF_K = 20


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: BM25 top-50 (documents, the standing query-term set)
    fused with exact-cosine top-50 (embeddings, query = vec 0; vec_id ≙
    doc_id) by reciprocal-rank fusion. Scores are
    scaled-INTEGER reciprocals (scale DIV (c+rank)) so the fused ranking
    is bit-exact in any engine. Fusion cost is bounded by the candidate
    lists (≤ 100 rows) — the corpus is touched only by the two retrievers."""
    from pyspark.sql.window import Window

    from .contract_ext import BM25_QUERY_TERMS
    from gridmet_etl_spark.operators.retrieval import bm25_topk, rrf_fuse
    from gridmet_etl_spark.operators.similarity import cosine_topk

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    lex = bm25_topk(docs, BM25_QUERY_TERMS, k=_RRF_DEPTH)
    wl = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    lex_r = lex.select("doc_id", "score").withColumn(
        "rank", F.row_number().over(wl)
    )
    q0 = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    dense = cosine_topk(emb, q0, k=_RRF_DEPTH, rank_round=R).select(
        F.col("neighbor_id").alias("doc_id"), "rank"
    )
    return rrf_fuse(
        [("bm25", lex_r), ("dense", dense)],
        id_col="doc_id",
        k=_RRF_K,
        c=_RRF_C,
        scale=_RRF_SCALE,
    )


def _sql_rrf_fusion() -> str:
    from .contract_ext import _EMB_DIM, BM25_QUERY_TERMS
    from gridmet_etl_spark.operators.retrieval import BM25_B, BM25_K1

    terms = ", ".join(f"'{t}'" for t in sorted(set(BM25_QUERY_TERMS)))
    return f"""
WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
dls AS (SELECT doc_id, len(toks) AS dl FROM base),
stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dls),
tf AS (
  SELECT b.doc_id, u.term, count(*) AS tf
  FROM base b, unnest(b.toks) AS u(term)
  WHERE u.term IN ({terms})
  GROUP BY 1, 2),
dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
bm AS (
  SELECT tf.doc_id,
         ln(1 + (stats.n_docs - dfc.df + 0.5) / (dfc.df + 0.5))
           * CAST(tf.tf AS DOUBLE) * {BM25_K1 + 1.0}
           / (CAST(tf.tf AS DOUBLE)
              + {BM25_K1} * (1.0 - {BM25_B}
                 + {BM25_B} * dls.dl / (CAST(stats.sum_dl AS DOUBLE) / stats.n_docs))) AS s
  FROM tf JOIN dfc USING (term) JOIN dls USING (doc_id) CROSS JOIN stats),
bm_scored AS (
  SELECT doc_id, ROUND(sum(s), {R}) AS score FROM bm GROUP BY doc_id
  ORDER BY score DESC, doc_id LIMIT {_RRF_DEPTH}),
bm_ranked AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
  FROM bm_scored),
qv AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0),
cs AS (
  SELECT e.vec_id AS doc_id,
         sum(CAST(e.embedding[i] AS DOUBLE) * CAST(qv.q_vec[i] AS DOUBLE))
           / (sqrt(sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
              * sqrt(sum(CAST(qv.q_vec[i] AS DOUBLE) * CAST(qv.q_vec[i] AS DOUBLE)))) AS sim
  FROM embeddings e, qv, generate_series(1, {_EMB_DIM}) g(i)
  WHERE e.vec_id <> 0
  GROUP BY e.vec_id),
cs_ranked AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY ROUND(sim, {R}) DESC, doc_id) AS rank
  FROM cs QUALIFY rank <= {_RRF_DEPTH}),
contribs AS (
  SELECT doc_id, {_RRF_SCALE} // ({_RRF_C} + rank) AS contrib FROM bm_ranked
  UNION ALL
  SELECT doc_id, {_RRF_SCALE} // ({_RRF_C} + rank) AS contrib FROM cs_ranked),
fused AS (
  SELECT doc_id, count(*) AS n_systems, sum(contrib) AS rrf_score
  FROM contribs GROUP BY doc_id)
SELECT doc_id, CAST(n_systems AS BIGINT) AS n_systems,
       CAST(rrf_score AS BIGINT) AS rrf_score,
       CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS INT)
         AS fused_rank
FROM fused
QUALIFY fused_rank <= {_RRF_K}
"""


EXT10_QUERIES["rrf_fusion"] = (q_rrf_fusion, _sql_rrf_fusion())

# ---------------------------------------------------------------------------
# Graph link prediction: CN / resource-allocation / preferential attachment
# ---------------------------------------------------------------------------

_LP_K = 25
_LP_RA_SCALE = 1_000_000_000_000


def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 predicted links over the synthetic deterministic host graph
    (the pagerank/triangle link layer), scored by resource allocation with
    CN and preferential-attachment columns — all integer-exact (RA is the
    scaled-integer DIV sum)."""
    import os

    from .contract import FIXDIR
    from gridmet_etl_spark.operators.graph import link_graph, link_prediction

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
    return link_prediction(link_graph(aug), k=_LP_K, ra_scale=_LP_RA_SCALE)


def _sql_link_prediction() -> str:
    import os

    from .contract import FIXDIR

    path = os.path.join(FIXDIR, "webpages.parquet")
    return rf"""
WITH aug AS (
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
und AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM edges UNION ALL SELECT dst AS src, src AS dst FROM edges)
  WHERE src <> dst),
deg AS (SELECT src, count(*) AS deg FROM und GROUP BY src),
wedges AS (
  SELECT a1.dst AS x, a2.dst AS y, a1.src AS z
  FROM und a1 JOIN und a2 ON a2.src = a1.src AND a1.dst < a2.dst),
cand AS (
  SELECT w.x, w.y, w.z FROM wedges w
  WHERE NOT EXISTS (SELECT 1 FROM und e WHERE e.src = w.x AND e.dst = w.y)),
scored AS (
  SELECT c.x, c.y, count(*) AS common_neighbors,
         sum({_LP_RA_SCALE} // dz.deg) AS ra_score_scaled
  FROM cand c JOIN deg dz ON dz.src = c.z
  GROUP BY c.x, c.y)
SELECT s.x, s.y, s.common_neighbors,
       CAST(s.ra_score_scaled AS BIGINT) AS ra_score_scaled,
       CAST(dx.deg * dy.deg AS BIGINT) AS pref_attach,
       CAST(row_number() OVER (ORDER BY s.ra_score_scaled DESC,
            s.common_neighbors DESC, s.x, s.y) AS INT) AS rank
FROM scored s JOIN deg dx ON dx.src = s.x JOIN deg dy ON dy.src = s.y
QUALIFY rank <= {_LP_K}
"""


EXT10_QUERIES["link_prediction"] = (q_link_prediction, _sql_link_prediction())

# ---------------------------------------------------------------------------
# Causal / experimentation batch: CUPED, stratified IPW, diff-in-differences
# ---------------------------------------------------------------------------

# Shared user-grain panel: pre/post metric split at the integer-µs midpoint
# of the event time range (integer DIV — no float boundary), deterministic
# md5 assignment. x = pre-period value sum, y = post-period value sum.
_SQL_CAUSAL_UNITS = """
ev AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, value FROM events),
b AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
pu AS (
  SELECT user_id,
         sum(CASE WHEN us <= b.mid THEN value ELSE 0 END) AS x,
         sum(CASE WHEN us >  b.mid THEN value ELSE 0 END) AS y
  FROM ev, b GROUP BY user_id)
"""


def _causal_units(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(_t(sf_dir, "events")).select(
        # ts is TIMESTAMP_NTZ; session tz is pinned UTC, so the cast is the
        # same naive-as-UTC epoch DuckDB's epoch_us computes
        "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("us"), "value"
    )
    bounds = ev.agg(
        F.expr("(min(us) + max(us)) DIV 2").alias("mid")
    )
    return (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("us") <= F.col("mid"), F.col("value")).otherwise(0.0)).alias("x"),
            F.sum(F.when(F.col("us") > F.col("mid"), F.col("value")).otherwise(0.0)).alias("y"),
        )
    )


_SQL_ASSIGN_50 = (
    "CASE WHEN CAST('0x' || substr(md5('assign:' || CAST(user_id AS VARCHAR)), 1, 6)"
    " AS BIGINT) % 100 < 50 THEN 1 ELSE 0 END"
)


def q_cuped_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted A/B readout on the user panel: pre-period value sum
    as the covariate, post-period as the metric, 50/50 md5 assignment.
    Under a null effect the naive and adjusted diffs agree in expectation
    but the adjusted one has var_reduction≈corr² less variance — the
    query returns both plus θ."""
    from gridmet_etl_spark.operators.causal import cuped, hash_pct

    units = _causal_units(spark, sf_dir).withColumn(
        "t", (hash_pct(F.col("user_id"), "assign") < 50).cast("int")
    )
    return cuped(units, ndigits=R)


def _sql_cuped() -> str:
    return f"""
WITH {_SQL_CAUSAL_UNITS},
units AS (SELECT pu.*, {_SQL_ASSIGN_50} AS t FROM pu),
g AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy,
         sum(x*x) AS sxx, sum(y*y) AS syy
  FROM units),
gg AS (
  SELECT n, sx / n AS xbar,
         (sxy - sx * sy / n) / (sxx - sx * sx / n) AS theta,
         (syy - sy * sy / n) / n AS var_y,
         sxy / n - sx * sy / (n * n) AS cov_xy,
         (sxx - sx * sx / n) / n AS var_x
  FROM g),
arms AS (
  SELECT t, count(*) AS n_arm, avg(y) AS mean_y,
         avg(y - gg.theta * (x - gg.xbar)) AS mean_adj
  FROM units, gg GROUP BY t)
SELECT tt.n_arm AS n_t, cc.n_arm AS n_c,
       ROUND(tt.mean_y - cc.mean_y, {R}) + 0 AS diff_naive,
       ROUND(tt.mean_adj - cc.mean_adj, {R}) + 0 AS diff_cuped,
       ROUND(gg.theta, {R}) + 0 AS theta,
       ROUND(gg.cov_xy * gg.cov_xy / (gg.var_x * gg.var_y), {R}) + 0
         AS var_reduction
FROM (SELECT * FROM arms WHERE t = 1) tt,
     (SELECT * FROM arms WHERE t = 0) cc, gg
"""


EXT10_QUERIES["cuped_adjust"] = (q_cuped_adjust, _sql_cuped())


def q_ipw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified-confounding ATE: strata = user_id % 4, treatment
    assigned with stratum-dependent propensity (20/40/60/80%), outcome =
    post-period value. The naive diff is confounded; the IPW and
    stratification forms de-bias it — and equal each other algebraically
    (carried as a consistency pair)."""
    from gridmet_etl_spark.operators.causal import hash_pct, ipw_ate

    units = (
        _causal_units(spark, sf_dir)
        .withColumn("stratum", (F.col("user_id") % 4).cast("int"))
        .withColumn(
            "t",
            (hash_pct(F.col("user_id"), "ipw") < 20 + 20 * F.col("stratum")).cast("int"),
        )
    )
    return ipw_ate(units, y_col="y", t_col="t", stratum_col="stratum", ndigits=R)


def _sql_ipw() -> str:
    assign = (
        "CASE WHEN CAST('0x' || substr(md5('ipw:' || CAST(user_id AS VARCHAR)), 1, 6)"
        " AS BIGINT) % 100 < 20 + 20 * (user_id % 4) THEN 1 ELSE 0 END"
    )
    return f"""
WITH {_SQL_CAUSAL_UNITS},
units AS (
  SELECT pu.*, CAST(user_id % 4 AS INT) AS stratum, {assign} AS t FROM pu),
strata AS (
  SELECT stratum, count(*) AS n_s, sum(t) AS n_t_s,
         sum(CASE WHEN t = 1 THEN y END) AS sy_t,
         sum(CASE WHEN t = 0 THEN y END) AS sy_c
  FROM units GROUP BY stratum),
tot AS (
  SELECT count(*) AS n,
         avg(CASE WHEN t = 1 THEN y END) AS mean_t,
         avg(CASE WHEN t = 0 THEN y END) AS mean_c
  FROM units),
per AS (
  SELECT n_s, (n_t_s = 0 OR n_t_s = n_s) AS deg,
         sy_t * n_s / n_t_s AS ht_t,
         sy_c * n_s / (n_s - n_t_s) AS ht_c,
         n_s * (sy_t / n_t_s - sy_c / (n_s - n_t_s)) AS strat_term
  FROM strata),
acc AS (
  -- positivity trim: strata lacking an arm leave BOTH numerator and
  -- denominator (overlap-population estimand), surfaced in the output
  SELECT sum(CASE WHEN NOT deg THEN ht_t END) AS sht_t,
         sum(CASE WHEN NOT deg THEN ht_c END) AS sht_c,
         sum(CASE WHEN NOT deg THEN strat_term END) AS s_strat,
         CAST(sum(CASE WHEN NOT deg THEN n_s ELSE 0 END) AS BIGINT) AS n_ov,
         CAST(sum(CASE WHEN deg THEN 1 ELSE 0 END) AS BIGINT) AS n_deg
  FROM per)
SELECT CAST(tot.n AS BIGINT) AS n_units,
       acc.n_ov AS n_overlap_units,
       acc.n_deg AS n_degenerate_strata,
       ROUND(tot.mean_t - tot.mean_c, {R}) + 0 AS diff_naive,
       ROUND((acc.sht_t - acc.sht_c) / acc.n_ov, {R}) + 0 AS ate_ipw,
       ROUND(acc.s_strat / acc.n_ov, {R}) + 0 AS ate_stratified
FROM acc, tot
"""


EXT10_QUERIES["ipw_ate"] = (q_ipw_ate, _sql_ipw())


def q_did_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on the two-period user panel (pre = x,
    post = y, 50/50 md5 assignment): the four cell means, both deltas
    implicit, and the DiD estimate — removes any additive common trend
    (here pre≠post traffic levels)."""
    from gridmet_etl_spark.operators.causal import did, hash_pct

    units = _causal_units(spark, sf_dir).withColumn(
        "t", (hash_pct(F.col("user_id"), "assign") < 50).cast("int")
    )
    return did(units, y_pre_col="x", y_post_col="y", t_col="t", ndigits=R)


def _sql_did() -> str:
    return f"""
WITH {_SQL_CAUSAL_UNITS},
units AS (SELECT pu.*, {_SQL_ASSIGN_50} AS t FROM pu),
cells AS (
  SELECT t, count(*) AS n_arm, avg(x) AS m_pre, avg(y) AS m_post
  FROM units GROUP BY t)
SELECT tt.n_arm AS n_t, cc.n_arm AS n_c,
       ROUND(tt.m_pre, {R}) + 0 AS pre_t,
       ROUND(tt.m_post, {R}) + 0 AS post_t,
       ROUND(cc.m_pre, {R}) + 0 AS pre_c,
       ROUND(cc.m_post, {R}) + 0 AS post_c,
       ROUND((tt.m_post - tt.m_pre) - (cc.m_post - cc.m_pre), {R}) + 0 AS did
FROM (SELECT * FROM cells WHERE t = 1) tt,
     (SELECT * FROM cells WHERE t = 0) cc
"""


EXT10_QUERIES["did_estimate"] = (q_did_estimate, _sql_did())

# ---------------------------------------------------------------------------
# Hilbert-curve layout + Morton-vs-Hilbert prune bake-off
# ---------------------------------------------------------------------------

_HB_BITS = 6  # 2^6 = 64 covers the 40x40 fixture grid
_CURVE_ZONE_ROWS = 64
# seam-straddling boxes: quadrant-aligned boxes tie across curves (both
# respect aligned splits); the Z-jump cost shows on boxes crossing the
# half/quarter seams of the 40x40 fixture grid
_CURVE_BOXES = [
    ("mid", 12, 19, 12, 19),
    ("off", 5, 14, 9, 18),
    ("seam", 14, 17, 0, 39),
    ("band", 10, 21, 24, 29),
]


def _sql_hilbert_rounds(src: str, bits: int = _HB_BITS) -> str:
    """Chained per-bit CTEs replicating hilbert_key_stages: rotate/reflect
    recurrence, one CTE per bit, xor() for the quadrant digit."""
    ctes = [
        f"h0 AS (SELECT i, j, CAST(i AS BIGINT) AS x, CAST(j AS BIGINT) AS y,"
        f" CAST(0 AS BIGINT) AS d FROM {src})"
    ]
    step = 0
    for b in reversed(range(bits)):
        s = 1 << b
        prev, step = f"h{step}", step + 1
        ctes.append(f"""h{step} AS (
  SELECT i, j,
         CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN {s - 1} - y ELSE y END
              ELSE x END AS x,
         CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN {s - 1} - x ELSE x END
              ELSE y END AS y,
         d + {s * s} * xor(3 * rx, ry) AS d
  FROM (SELECT *,
               CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END AS rx,
               CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END AS ry
        FROM {prev}) _r{step})""")
    return ",\n".join(ctes) + f",\nhfin AS (SELECT i, j, d AS hkey FROM h{step})"


def q_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert write-layout keys for the distinct grid cells — the
    no-Z-jumps sibling of zorder_layout (bijective on the 2^bits square;
    bijectivity is pytest-pinned)."""
    import os

    from .contract import FIXDIR
    from gridmet_etl_spark.operators.scale import hilbert_key_stages
    from gridmet_etl_spark.sources.readers import read_grid

    grid = read_grid(spark, os.path.join(FIXDIR, "grid.parquet"))
    return hilbert_key_stages(
        grid.select("i", "j").distinct(), bits=_HB_BITS, out_col="hkey"
    )


def _sql_hilbert_layout() -> str:
    import os

    from .contract import FIXDIR

    path = os.path.join(FIXDIR, "grid.parquet")
    return f"""
WITH cells AS (SELECT DISTINCT i, j FROM read_parquet('{path}')),
{_sql_hilbert_rounds("cells")}
SELECT i, j, hkey FROM hfin
"""


EXT10_QUERIES["hilbert_layout"] = (q_hilbert_layout, _sql_hilbert_layout())


def q_curve_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton vs Hilbert zone-map prune rates for a 4-box bbox workload
    over the fixture cells — the layout_advisor loop extended across
    space-filling curves. Hilbert's prune_frac ≥ Morton's on the square
    boxes (pytest-pinned)."""
    import os

    from .contract import FIXDIR
    from gridmet_etl_spark.operators.planner import curve_layout_compare
    from gridmet_etl_spark.sources.readers import read_grid

    grid = read_grid(spark, os.path.join(FIXDIR, "grid.parquet"))
    cells = grid.select("i", "j").distinct()
    return curve_layout_compare(
        cells, _CURVE_BOXES, bits=_HB_BITS, zone_rows=_CURVE_ZONE_ROWS, ndigits=R
    )


def _sql_curve_compare() -> str:
    import os

    from .contract import FIXDIR

    path = os.path.join(FIXDIR, "grid.parquet")
    zterms = " + ".join(
        f"(((i >> {b}) & 1) << {2 * b}) + (((j >> {b}) & 1) << {2 * b + 1})"
        for b in range(_HB_BITS)
    )
    branches = []
    for curve, keysrc in (("zorder", "zkeyed"), ("hilbert", "hkeyed")):
        branches.append(f"""
SELECT '{curve}' AS curve, b.box, count(*) AS n_zones,
       -- CAST: DuckDB sums widen to HUGEINT — not hash-safe (pandas fetch)
       CAST(sum(CASE WHEN b.hit THEN 1 ELSE 0 END) AS BIGINT)
         AS n_zones_scanned,
       CAST(sum(CASE WHEN b.hit THEN z.n_rows ELSE 0 END) AS BIGINT)
         AS n_rows_scanned,
       ROUND(1.0 - sum(CASE WHEN b.hit THEN z.n_rows ELSE 0 END)
                   / CAST(sum(z.n_rows) AS DOUBLE), {R}) + 0 AS prune_frac
FROM (
  SELECT CAST((rn - 1) // {_CURVE_ZONE_ROWS} AS INT) AS zone,
         count(*) AS n_rows,
         min(i) AS i_min, max(i) AS i_max, min(j) AS j_min, max(j) AS j_max
  FROM (SELECT i, j, row_number() OVER (ORDER BY key) AS rn FROM {keysrc})
  GROUP BY 1) z,
LATERAL (VALUES {", ".join(f"('{name}', z.i_max >= {ilo} AND z.i_min <= {ihi} AND z.j_max >= {jlo} AND z.j_min <= {jhi})" for name, ilo, ihi, jlo, jhi in _CURVE_BOXES)}) b(box, hit)
GROUP BY b.box""")
    return f"""
WITH cells AS (SELECT DISTINCT i, j FROM read_parquet('{path}')),
{_sql_hilbert_rounds("cells")},
zkeyed AS (SELECT i, j, CAST({zterms} AS BIGINT) AS key FROM cells),
hkeyed AS (SELECT i, j, hkey AS key FROM hfin)
{branches[0]}
UNION ALL
{branches[1]}
"""


EXT10_QUERIES["curve_compare"] = (q_curve_compare, _sql_curve_compare())

# ---------------------------------------------------------------------------
# Session path analytics: top navigation paths
# ---------------------------------------------------------------------------

_SP_K = 20
_SP_MAX_EVENTS = 20


def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session navigation paths over the events stream (30-min gap
    sessions, paths capped at 20 events): the which-journeys-dominate /
    which-convert product-analytics readout. User-partitioned windows
    only; path rollup is output-sized."""
    from gridmet_etl_spark.operators.funnel import session_paths
    from gridmet_etl_spark.sources.readers import read_events

    ev = read_events(spark, _t(sf_dir, "events"))
    return session_paths(ev, gap_minutes=30, k=_SP_K, max_events=_SP_MAX_EVENTS)


SQL_SESSION_PATHS = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN ts - lag(ts, 1) OVER w > INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sessioned AS (
  SELECT user_id, ts, event_id, event_type,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
  FROM flagged),
capped AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, session_idx
                               ORDER BY ts, event_id) AS ern
  FROM sessioned QUALIFY ern <= {_SP_MAX_EVENTS}),
per_sess AS (
  SELECT user_id, session_idx,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM capped GROUP BY user_id, session_idx),
agg AS (
  SELECT path, count(*) AS n_sessions, count(DISTINCT user_id) AS n_users
  FROM per_sess GROUP BY path)
SELECT path, n_sessions, n_users,
       CAST(len(string_split(path, '>')) AS INT) AS n_events_path,
       -- exact type membership, not substring (a 'pre_purchase_view'
       -- event type must not read as converted)
       list_contains(string_split(path, '>'), 'purchase') AS converted,
       CAST(row_number() OVER (ORDER BY n_sessions DESC, path) AS INT) AS rank
FROM agg
QUALIFY rank <= {_SP_K}
"""

EXT10_QUERIES["session_paths"] = (q_session_paths, SQL_SESSION_PATHS)

# ---------------------------------------------------------------------------
# Markov-chain attribution: removal effects via unrolled value iteration
# ---------------------------------------------------------------------------

_MK_CHANNELS = ["click", "error", "signup", "view"]
_MK_ITERS = 10
# day-level journeys: at a 30-min gap this event stream is all singleton
# sessions (no multi-touch paths at all); 1440 min gives 3-10-touch
# journeys with real channel->CONV mass
_MK_GAP_MIN = 1440


def q_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Removal-effect attribution over day-level (1440-min gap) journeys
    — 30-min sessions on this stream are all singleton, see _MK_GAP_MIN:
    START →
    touches → CONV/NULL first-order chain, conversion probability by
    10-round value iteration, channel knocked out by clamping its state to
    absorb at 0. The principled sibling of multitouch_credit."""
    from gridmet_etl_spark.operators.funnel import markov_removal_effects
    from gridmet_etl_spark.sources.readers import read_events

    ev = read_events(spark, _t(sf_dir, "events"))
    return markov_removal_effects(
        ev, channels=_MK_CHANNELS, gap_minutes=_MK_GAP_MIN, iters=_MK_ITERS, ndigits=R
    )


def _sql_markov() -> str:
    # probs is MATERIALIZED: every value-iteration CTE joins it, and
    # DuckDB would otherwise re-run the sessionizing windows for each one.
    trans = """
flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN ts - lag(ts, 1) OVER w > INTERVAL '1440 minutes'
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sessioned AS (
  SELECT user_id, ts, event_id, event_type,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
  FROM flagged),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, session_idx
                               ORDER BY ts, event_id) AS ern
  FROM sessioned),
fp AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' THEN ern END)
              OVER (PARTITION BY user_id, session_idx) AS fp_ern
  FROM ranked),
kept AS (SELECT * FROM fp WHERE fp_ern IS NULL OR ern <= fp_ern),
body AS (
  SELECT event_type AS s_from,
         COALESCE(CASE WHEN nxt = 'purchase' THEN 'CONV' ELSE nxt END, 'NULL') AS s_to
  FROM (SELECT *, lead(event_type) OVER (PARTITION BY user_id, session_idx
                                         ORDER BY ts, event_id) AS nxt
        FROM kept) _k
  WHERE event_type <> 'purchase'),
firsts AS (
  SELECT 'START' AS s_from,
         CASE WHEN event_type = 'purchase' THEN 'CONV' ELSE event_type END AS s_to
  FROM kept WHERE ern = 1),
trans AS (
  SELECT s_from, s_to, count(*) AS n
  FROM (SELECT * FROM body UNION ALL SELECT * FROM firsts) _u
  GROUP BY s_from, s_to),
rowsum AS (SELECT s_from, sum(n) AS n_out FROM trans GROUP BY s_from),
probs AS MATERIALIZED (
  SELECT t.s_from, t.s_to, t.n / CAST(r.n_out AS DOUBLE) AS prob
  FROM trans t JOIN rowsum r USING (s_from))"""

    def run(tag: str, clamp: str | None) -> list[str]:
        ctes = []
        for k in range(1, _MK_ITERS + 1):
            clamp_val = f" WHEN probs.s_to = '{clamp}' THEN 0.0" if clamp else ""
            tail = (
                "ELSE 0.0 END"
                if k == 1
                else f"ELSE COALESCE(p{tag}{k - 1}.p, 0.0) END"
            )
            val = (
                "CASE WHEN probs.s_to = 'CONV' THEN 1.0"
                f" WHEN probs.s_to = 'NULL' THEN 0.0{clamp_val} {tail}"
            )
            src = "probs" if k == 1 else (
                f"probs LEFT JOIN p{tag}{k - 1} ON p{tag}{k - 1}.state = probs.s_to"
            )
            where = f" WHERE probs.s_from <> '{clamp}'" if clamp else ""
            ctes.append(
                f"p{tag}{k} AS (SELECT probs.s_from AS state,"
                f" sum(probs.prob * ({val})) AS p FROM {src}{where} GROUP BY 1)"
            )
        return ctes

    ctes = [trans]
    ctes += run("base", None)
    for c in _MK_CHANNELS:
        ctes += run(c, c)
    rem_union = "\nUNION ALL\n".join(
        f"SELECT '{c}' AS channel, p AS removed_cvr FROM p{c}{_MK_ITERS} WHERE state = 'START'"
        for c in _MK_CHANNELS
    )
    ctes.append(
        f"base_p AS (SELECT p AS base_cvr FROM pbase{_MK_ITERS} WHERE state = 'START')"
    )
    ctes.append(f"rem AS ({rem_union})")
    ctes.append(
        "eff AS (SELECT channel, base_cvr, removed_cvr,"
        " (base_cvr - removed_cvr) / base_cvr AS removal_effect"
        " FROM rem, base_p)"
    )
    ctes.append("tot AS (SELECT sum(removal_effect) AS t FROM eff)")
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT channel, ROUND(base_cvr, {R}) + 0 AS base_cvr,
       ROUND(removed_cvr, {R}) + 0 AS removed_cvr,
       ROUND(removal_effect, {R}) + 0 AS removal_effect,
       ROUND(removal_effect / tot.t, {R}) + 0 AS share
FROM eff, tot
"""
    )


EXT10_QUERIES["markov_attribution"] = (q_markov_attribution, _sql_markov())

# ---------------------------------------------------------------------------
# WOE / Information Value feature screening
# ---------------------------------------------------------------------------

_WOE_BINS = 10
_WOE_LAP = 0.5


def q_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence table + information value for l_extendedprice
    against the return flag (label = returnflag == 'R') — the
    credit-scoring feature screen as one scan + bin-bounded arithmetic."""
    from gridmet_etl_spark.operators.mlprep import woe_iv

    li = spark.read.parquet(_t(sf_dir, "lineitem")).select(
        "l_extendedprice",
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
    )
    return woe_iv(li, "l_extendedprice", "y", n_bins=_WOE_BINS, laplace=_WOE_LAP, ndigits=R)


def _sql_woe_iv() -> str:
    return f"""
WITH src AS (
  SELECT l_extendedprice AS x,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
  FROM lineitem),
b AS (SELECT min(x) AS lo, max(x) AS hi, (max(x) - min(x)) / {_WOE_BINS} AS w FROM src),
binned AS (
  SELECT least({_WOE_BINS - 1},
               CAST(floor((src.x - b.lo) / b.w) AS INT)) AS bin, src.y, b.lo, b.w
  FROM src, b),
per_bin AS (
  SELECT bin,
         min(lo + bin * w) AS blo, min(lo + (bin + 1) * w) AS bhi,
         count(CASE WHEN y = 1 THEN 1 END) AS n_pos,
         count(CASE WHEN y = 0 THEN 1 END) AS n_neg
  FROM binned GROUP BY bin),
tot AS (SELECT sum(n_pos) AS tp, sum(n_neg) AS tn FROM per_bin),
scored AS (
  SELECT bin, blo, bhi, n_pos, n_neg,
         ln(((n_pos + {_WOE_LAP}) / (tp + {_WOE_LAP * _WOE_BINS}))
            / ((n_neg + {_WOE_LAP}) / (tn + {_WOE_LAP * _WOE_BINS}))) AS woe,
         ((n_pos + {_WOE_LAP}) / (tp + {_WOE_LAP * _WOE_BINS})
          - (n_neg + {_WOE_LAP}) / (tn + {_WOE_LAP * _WOE_BINS}))
         * ln(((n_pos + {_WOE_LAP}) / (tp + {_WOE_LAP * _WOE_BINS}))
              / ((n_neg + {_WOE_LAP}) / (tn + {_WOE_LAP * _WOE_BINS}))) AS iv_term
  FROM per_bin, tot),
iv AS (SELECT sum(iv_term) AS iv FROM scored)
SELECT bin, ROUND(blo, {R}) + 0 AS lo, ROUND(bhi, {R}) + 0 AS hi,
       n_pos, n_neg,
       ROUND(woe, {R}) + 0 AS woe,
       ROUND(iv_term, {R}) + 0 AS iv_term,
       ROUND(iv.iv, {R}) + 0 AS iv
FROM scored, iv
"""


EXT10_QUERIES["woe_iv"] = (q_woe_iv, _sql_woe_iv())

# ---------------------------------------------------------------------------
# TPC-DS q88 shape: N band predicates answered in ONE scan
# ---------------------------------------------------------------------------

_BANDS = [
    ("q1_d1", 1, 10, 0.00, 0.03),
    ("q1_d2", 1, 10, 0.03, 0.06),
    ("q2_d1", 11, 20, 0.00, 0.03),
    ("q2_d2", 11, 20, 0.03, 0.06),
    ("q3_d1", 21, 30, 0.00, 0.03),
    ("q3_d2", 21, 30, 0.03, 0.06),
    ("q4_d1", 31, 40, 0.00, 0.03),
    ("q4_d2", 31, 40, 0.03, 0.06),
]


def q_tpcds_multiband(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q88 shape: eight (quantity band × discount band) counts +
    revenue sums answered by ONE lineitem scan of conditional aggregates —
    where a naive engine runs eight scans, the single-pass form is an 8×
    I/O saving that grows with predicate count. Output: one row per band."""
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    aggs = []
    for name, qlo, qhi, dlo, dhi in _BANDS:
        hit = (
            F.col("l_quantity").between(qlo, qhi)
            & (F.col("l_discount") >= dlo)
            & (F.col("l_discount") < dhi)
        )
        aggs.append(F.count(F.when(hit, F.lit(1))).alias(f"n_{name}"))
        # micro-unit DECIMAL(38,0) sum: exact at any sf (double sums at
        # ~2e9 drift a ULP between engines — r9 sf0.1 strict sweep)
        aggs.append(
            F.round(
                F.sum(
                    F.when(
                        hit,
                        F.round(F.col("l_extendedprice") * 1e6).cast(
                            "decimal(38,0)"
                        ),
                    )
                ).cast("double")
                / 1e6,
                R,
            ).alias(f"rev_{name}")
        )
    one = li.agg(*aggs)
    bands = F.array(
        *[
            F.struct(
                F.lit(name).alias("band"),
                F.col(f"n_{name}").alias("n_rows"),
                (F.col(f"rev_{name}") + F.lit(0.0)).alias("revenue"),
            )
            for name, *_ in _BANDS
        ]
    )
    return one.select(F.explode(bands).alias("b")).select(
        "b.band", "b.n_rows", "b.revenue"
    )


def _sql_tpcds_multiband() -> str:
    parts = []
    for name, qlo, qhi, dlo, dhi in _BANDS:
        hit = (
            f"l_quantity BETWEEN {qlo} AND {qhi}"
            f" AND l_discount >= {dlo} AND l_discount < {dhi}"
        )
        parts.append(
            f"SELECT '{name}' AS band,"
            f" count(CASE WHEN {hit} THEN 1 END) AS n_rows,"
            f" ROUND(CAST(sum(CASE WHEN {hit} THEN"
            f" CAST(round(l_extendedprice * 1e6) AS HUGEINT) END) AS DOUBLE)"
            f" / 1e6, {R}) + 0 AS revenue FROM lineitem"
        )
    return "\nUNION ALL\n".join(parts)


EXT10_QUERIES["tpcds_multiband"] = (q_tpcds_multiband, _sql_tpcds_multiband())

# ---------------------------------------------------------------------------
# Feature hashing + class-balanced downsampling (training-prep pair)
# ---------------------------------------------------------------------------

_FH_DIM = 512


def q_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization of the documents table into
    512-dimension signed sparse triples — vocabulary-free, integer-exact,
    one partial-agg shuffle."""
    from gridmet_etl_spark.operators.retrieval import feature_hash

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return feature_hash(docs, dim=_FH_DIM)


SQL_FEATURE_HASH = f"""
WITH toks AS (
  SELECT doc_id, u.tok
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) d,
       unnest(d.t) AS u(tok)
  WHERE u.tok <> ''),
h AS (
  SELECT doc_id,
         CAST('0x' || substr(md5('fh:' || tok), 1, 6) AS BIGINT) % {_FH_DIM} AS idx,
         CASE WHEN CAST('0x' || substr(md5('fs:' || tok), 1, 2) AS BIGINT) % 2 = 0
              THEN 1 ELSE -1 END AS s
  FROM toks)
SELECT doc_id, idx, CAST(sum(s) AS BIGINT) AS val
FROM h GROUP BY doc_id, idx
HAVING sum(s) <> 0
"""

EXT10_QUERIES["feature_hash"] = (q_feature_hash, SQL_FEATURE_HASH)

_CB_PCT = 10


def q_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsample of lineitem (positive = returned rows,
    ~25%; negatives hash-kept at 10% with weight 10) — verified by the
    closed-loop readout: per-class kept counts, weighted counts (weighted
    negatives ≈ true negatives), and weighted revenue next to true
    revenue."""
    from gridmet_etl_spark.operators.sampling import class_balance

    li = spark.read.parquet(_t(sf_dir, "lineitem")).select(
        F.concat(
            F.col("l_orderkey").cast("string"),
            F.lit("-"),
            F.col("l_linenumber").cast("string"),
        ).alias("rid"),
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
        "l_extendedprice",
    )
    kept = class_balance(li, "y", "rid", neg_keep_pct=_CB_PCT)
    # revenue sums quantize to exact micro-units in DECIMAL(38,0): raw
    # double sums at sf0.1 magnitude (~2×10¹⁰) drift a ULP between engines
    # (r9 sf0.1 strict sweep); weight sums stay double — 1.0/10.0 weights
    # sum to exact integers far below 2^53
    # long interposition: compact-decimal fast path (see contract.q_tpch_q1
    # msum note, r11)
    msum = lambda c: F.round(  # noqa: E731
        F.sum(F.round(c * 1e6).cast("long").cast("decimal(38,0)")).cast("double")
        / 1e6,
        R,
    )
    truth = li.groupBy("y").agg(
        F.count(F.lit(1)).alias("true_n"),
        msum(F.col("l_extendedprice")).alias("true_rev"),
    )
    got = kept.groupBy("y").agg(
        F.count(F.lit(1)).alias("kept_n"),
        F.round(F.sum("weight"), R).alias("weighted_n"),
        msum(F.col("weight") * F.col("l_extendedprice")).alias("weighted_rev"),
    )
    return got.join(truth, "y").select(
        "y",
        "kept_n",
        (F.col("weighted_n") + F.lit(0.0)).alias("weighted_n"),
        (F.col("weighted_rev") + F.lit(0.0)).alias("weighted_rev"),
        "true_n",
        (F.col("true_rev") + F.lit(0.0)).alias("true_rev"),
    )


def _sql_class_balance() -> str:
    return f"""
WITH src AS (
  SELECT CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS rid,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
         l_extendedprice
  FROM lineitem),
kept AS (
  -- CAST AS DOUBLE: bare x.y literals are DECIMAL in DuckDB, and a DECIMAL
  -- sum output is not hash-safe under the driver's pandas fetch
  SELECT *, CASE WHEN y = 1 THEN CAST(1.0 AS DOUBLE)
            ELSE CAST({100.0 / _CB_PCT} AS DOUBLE) END AS weight
  FROM src
  WHERE y = 1
     OR CAST('0x' || substr(md5('bal:' || rid), 1, 6) AS BIGINT) % 100 < {_CB_PCT}),
truth AS (
  -- micro-unit HUGEINT sums: exact and order-independent at any sf
  -- (raw double sums at ~2e10 drift a ULP between engines)
  SELECT y, count(*) AS true_n,
         ROUND(CAST(sum(CAST(round(l_extendedprice * 1e6) AS HUGEINT))
                    AS DOUBLE) / 1e6, {R}) AS true_rev
  FROM src GROUP BY y),
got AS (
  SELECT y, count(*) AS kept_n, ROUND(sum(weight), {R}) AS weighted_n,
         ROUND(CAST(sum(CAST(round(weight * l_extendedprice * 1e6) AS HUGEINT))
                    AS DOUBLE) / 1e6, {R}) AS weighted_rev
  FROM kept GROUP BY y)
SELECT got.y, got.kept_n, got.weighted_n + 0 AS weighted_n,
       got.weighted_rev + 0 AS weighted_rev, truth.true_n,
       truth.true_rev + 0 AS true_rev
FROM got JOIN truth ON truth.y = got.y
"""


EXT10_QUERIES["class_balance"] = (q_class_balance, _sql_class_balance())

# ---------------------------------------------------------------------------
# Privacy audit: k-anonymity / l-diversity before release
# ---------------------------------------------------------------------------

_KA_K = 5
_KA_L = 2


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit of a customer-style release:
    quasi-identifiers = (nation, market segment), sensitive = account
    balance band. One quasi-key shuffle; the report is |class-sizes|-row."""
    from gridmet_etl_spark.operators.mlprep import k_anonymity_report

    cust = spark.read.parquet(_t(sf_dir, "customer"))
    rel = cust.select(
        "c_nationkey",
        "c_mktsegment",
        (F.floor(F.col("c_acctbal") / 1000)).cast("int").alias("bal_band"),
    )
    return k_anonymity_report(
        rel, ["c_nationkey", "c_mktsegment"], "bal_band", k=_KA_K, el=_KA_L
    )


def _sql_k_anonymity() -> str:
    return f"""
WITH rel AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(floor(c_acctbal / 1000) AS INT) AS bal_band
  FROM customer),
classes AS (
  SELECT c_nationkey, c_mktsegment, count(*) AS n,
         count(DISTINCT bal_band) AS l
  FROM rel GROUP BY c_nationkey, c_mktsegment)
-- CAST: DuckDB integer sums widen to HUGEINT — not hash-safe under the
-- driver's pandas fetch (float64 vs Spark int64)
SELECT n AS class_size, count(*) AS n_classes,
       CAST(sum(n) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN n < {_KA_K} THEN n ELSE 0 END) AS BIGINT)
         AS n_k_violating_rows,
       CAST(sum(CASE WHEN l < {_KA_L} THEN n ELSE 0 END) AS BIGINT)
         AS n_ldiv_violating_rows
FROM classes GROUP BY n
"""


EXT10_QUERIES["k_anonymity"] = (q_k_anonymity, _sql_k_anonymity())

# ---------------------------------------------------------------------------
# Qini uplift curve — the causal twin of lift_eval
# ---------------------------------------------------------------------------

_QINI_BINS = 10


def q_qini_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini curve on the experiment panel: targeting score = pre-period
    activity, outcome = post-period value, 50/50 md5 assignment. Reports
    cumulative incremental outcome per decile against the random-targeting
    diagonal — whether 'target the pre-period heavy users' buys anything
    INCREMENTAL, which lift_eval cannot answer."""
    from gridmet_etl_spark.operators.causal import hash_pct, qini_curve

    units = _causal_units(spark, sf_dir).withColumn(
        "t", (hash_pct(F.col("user_id"), "assign") < 50).cast("int")
    )
    return qini_curve(
        units, score_col="x", y_col="y", t_col="t", id_col="user_id",
        n_bins=_QINI_BINS, ndigits=R,
    )


def _sql_qini() -> str:
    return f"""
WITH {_SQL_CAUSAL_UNITS},
units AS (SELECT pu.*, {_SQL_ASSIGN_50} AS t FROM pu),
ranked AS (
  SELECT user_id, y, t,
         row_number() OVER (ORDER BY -x, user_id) AS rn,
         count(*) OVER () AS n_all
  FROM units),
binned AS (
  SELECT CAST(((rn - 1) * {_QINI_BINS}) // n_all AS INT) AS bin,
         count(*) AS n, sum(t) AS n_t,
         sum(CASE WHEN t = 1 THEN y ELSE 0 END) AS y_t,
         sum(CASE WHEN t = 0 THEN y ELSE 0 END) AS y_c
  FROM ranked GROUP BY 1),
cum AS (
  SELECT bin, n, n_t,
         sum(n) OVER w AS cn, sum(n_t) OVER w AS cnt,
         sum(y_t) OVER w AS cyt, sum(y_c) OVER w AS cyc
  FROM binned
  WINDOW w AS (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
q AS (SELECT bin, n, n_t, cn, cyt - cyc * cnt / (cn - cnt) AS qini FROM cum),
fin AS (SELECT qini AS q_final, cn AS n_all FROM q ORDER BY bin DESC LIMIT 1)
SELECT q.bin, q.n, CAST(q.n_t AS BIGINT) AS n_t,
       ROUND(q.qini, {R}) + 0 AS cum_qini,
       ROUND(fin.q_final * q.cn / fin.n_all, {R}) + 0 AS qini_random
FROM q, fin
"""


EXT10_QUERIES["qini_uplift"] = (q_qini_uplift, _sql_qini())

# ---------------------------------------------------------------------------
# Polygon geometry summary: shoelace area + true centroid (HOF, zero UDFs)
# ---------------------------------------------------------------------------


def q_polygon_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Area + centroid for the polygon fixture rings (the geopandas
    `.area`/`.centroid` the reference leans on, as codegen expressions).
    Reference parity: etl.py:322 needs feature bounds; helper.py:44-69
    builds centroid points for the nearest-donor join — this is the
    in-engine source for both."""
    import os

    from .contract import FIXDIR
    from gridmet_etl_spark.operators.spatial_weights import polygon_metrics

    polys = spark.read.parquet(os.path.join(FIXDIR, "polygons.parquet"))
    return polygon_metrics(polys, ndigits=R)


def _sql_polygon_metrics() -> str:
    import os

    from .contract import FIXDIR

    path = os.path.join(FIXDIR, "polygons.parquet")
    # DuckDB lists are 1-indexed; rings are open (wrap term closes them)
    cross = "list_transform(generate_series(1, len(xs) - 1), k -> xs[k] * ys[k + 1] - xs[k + 1] * ys[k])"
    wrap = "(xs[len(xs)] * ys[1] - xs[1] * ys[len(ys)])"
    cxs = "list_transform(generate_series(1, len(xs) - 1), k -> (xs[k] + xs[k + 1]) * (xs[k] * ys[k + 1] - xs[k + 1] * ys[k]))"
    cys = "list_transform(generate_series(1, len(xs) - 1), k -> (ys[k] + ys[k + 1]) * (xs[k] * ys[k + 1] - xs[k + 1] * ys[k]))"
    return f"""
WITH base AS (
  SELECT feature_id, len(xs) AS n_vertices,
         list_sum({cross}) + {wrap} AS two_a,
         list_sum({cxs}) + (xs[len(xs)] + xs[1]) * {wrap} AS cxs,
         list_sum({cys}) + (ys[len(ys)] + ys[1]) * {wrap} AS cys,
         list_sum(xs) / len(xs) AS mx,
         list_sum(ys) / len(ys) AS my
  FROM read_parquet('{path}'))
SELECT feature_id, CAST(n_vertices AS INT) AS n_vertices,
       ROUND(abs(two_a) / 2, {R}) + 0 AS area,
       ROUND(CASE WHEN abs(two_a) < 1e-12 THEN mx
                  ELSE cxs / (3.0 * two_a) END, {R}) + 0 AS cx,
       ROUND(CASE WHEN abs(two_a) < 1e-12 THEN my
                  ELSE cys / (3.0 * two_a) END, {R}) + 0 AS cy
FROM base
"""


EXT10_QUERIES["polygon_metrics"] = (q_polygon_metrics, _sql_polygon_metrics())

# ---------------------------------------------------------------------------
# DP count release (Laplace mechanism, seeded sampler)
# ---------------------------------------------------------------------------

_DP_EPS = 1.0


def q_dp_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε=1 Laplace count release of per-(event_type, day) activity — the
    k_anonymity sibling for aggregate publication. Seeded inverse-CDF
    noise → reproducible release, oracle-replayable; true counts NOT in
    the output (that would be the whole point lost) — the pytest checks
    calibration against truth instead."""
    from gridmet_etl_spark.operators.mlprep import dp_noisy_counts

    ev = spark.read.parquet(_t(sf_dir, "events")).select(
        "event_type", F.date_format(F.col("ts"), "yyyy-MM-dd").alias("day")
    )
    return dp_noisy_counts(ev, ["event_type", "day"], epsilon=_DP_EPS)


def _sql_dp_release() -> str:
    b = 1.0 / _DP_EPS
    return f"""
WITH counts AS (
  SELECT event_type, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
         count(*) AS n
  FROM events GROUP BY 1, 2),
keyed AS (
  SELECT event_type, day, n,
         CAST(CAST('0x' || substr(md5('dp:' || event_type || '|' || day), 1, 12)
              AS BIGINT) AS DOUBLE) / {float(1 << 48)} AS u
  FROM counts)
SELECT event_type, day,
       ROUND(n + (-{b}) * sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5)), {R}) + 0
         AS noisy_count
FROM keyed
"""


EXT10_QUERIES["dp_release"] = (q_dp_release, _sql_dp_release())

# ---------------------------------------------------------------------------
# Holt linear-trend forecast: unrolled level/trend recursion
# ---------------------------------------------------------------------------

_HOLT_STEPS = 30  # every SF's events table spans exactly 2024-01-01..-30
_HOLT_ALPHA = 0.3
_HOLT_BETA = 0.1
_HOLT_H = 7


def q_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day Holt linear-trend forecast of daily value per event type:
    one pivot shuffle, then the 29-step smoothing recursion as chained
    projections — the sequential-recurrence forecast windows can't
    express, unrolled at plan time. Inputs are rounded daily sums, so the
    recursion is bit-identical cross-engine."""
    from gridmet_etl_spark.operators.timeseries import holt_forecast

    ev = spark.read.parquet(_t(sf_dir, "events")).select(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")).alias(
            "day_idx"
        ),
        F.col("value").alias("y"),
    )
    return holt_forecast(
        ev, ["event_type"], n_steps=_HOLT_STEPS, alpha=_HOLT_ALPHA,
        beta=_HOLT_BETA, horizon=_HOLT_H, ndigits=R,
    )


def _sql_holt() -> str:
    a = _HOLT_ALPHA
    b = _HOLT_BETA
    one_a = repr(1 - a)  # the SAME python double Spark's F.lit(1 - a) ships
    one_b = repr(1 - b)
    ys = ",\n         ".join(
        f"ROUND(COALESCE(sum(CASE WHEN t = {k} THEN value END), 0), {R}) AS y{k}"
        for k in range(_HOLT_STEPS)
    )
    ctes = [
        f"""daily AS (
  SELECT event_type,
         datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS t, value
  FROM events)""",
        f"""wide AS (
  SELECT event_type,
         {ys}
  FROM daily GROUP BY event_type)""",
        "s1 AS (SELECT *, y0 AS l, y1 - y0 AS bb,"
        " CAST(0.0 AS DOUBLE) AS ape FROM wide)",
    ]
    step = 1
    for t in range(1, _HOLT_STEPS):
        prev, step = step, step + 1
        ctes.append(f"""s{step} AS (
  SELECT event_type, {", ".join(f"y{k}" for k in range(_HOLT_STEPS))},
         {a} * y{t} + {one_a} * (l + bb) AS l,
         {b} * (({a} * y{t} + {one_a} * (l + bb)) - l) + {one_b} * bb AS bb,
         ape + CASE WHEN abs(y{t}) + abs(l + bb) > 0
                    THEN 2.0 * abs(y{t} - (l + bb)) / (abs(y{t}) + abs(l + bb))
                    ELSE 0.0 END AS ape
  FROM s{prev})""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT event_type, CAST(g.h AS INT) AS h,
       ROUND(l + g.h * bb, {R}) + 0 AS forecast,
       ROUND(l, {R}) + 0 AS level,
       ROUND(bb, {R}) + 0 AS trend,
       ROUND(ape / {_HOLT_STEPS - 1}, {R}) + 0 AS smape_fit
FROM s{step}, generate_series(1, {_HOLT_H}) g(h)
"""
    )


EXT10_QUERIES["holt_forecast"] = (q_holt_forecast, _sql_holt())

# ---------------------------------------------------------------------------
# Classification report: per-class P/R/F1 + macro/micro
# ---------------------------------------------------------------------------


def q_f1_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 per class + MACRO/MICRO rows for the Rocchio
    nearest-centroid classifier on the labeled embeddings — composed from
    the same confusion relation centroid_classify exposes; all post-
    confusion math is |classes|²-bounded."""
    from gridmet_etl_spark.operators.mlprep import nearest_centroid
    from gridmet_etl_spark.operators.scoring import f1_report

    from .contract import _pq

    emb = _pq(spark, _t(sf_dir, "embeddings"))
    conf = nearest_centroid(emb, rank_round=R)
    return f1_report(conf, label_col="label", pred_col="assigned", n_col="n", ndigits=R)


def _sql_f1_report() -> str:
    from .contract_ext2 import SQL_CENTROID_CLASSIFY

    return f"""
WITH conf AS ({SQL_CENTROID_CLASSIFY}),
per_true AS (SELECT label AS c, sum(n) AS n_true FROM conf GROUP BY 1),
per_pred AS (SELECT assigned AS c, sum(n) AS n_pred FROM conf GROUP BY 1),
tp AS (SELECT label AS c, sum(n) AS tp FROM conf WHERE label = assigned GROUP BY 1),
base AS (
  SELECT COALESCE(pt.c, pp.c) AS c,
         COALESCE(pt.n_true, 0) AS n_true,
         COALESCE(pp.n_pred, 0) AS n_pred,
         COALESCE(t.tp, 0) AS tp
  FROM per_true pt FULL JOIN per_pred pp ON pp.c = pt.c
  LEFT JOIN tp t ON t.c = COALESCE(pt.c, pp.c)),
scored AS (
  SELECT CAST(c AS VARCHAR) AS class, n_true, n_pred,
         CASE WHEN n_pred > 0 THEN tp / CAST(n_pred AS DOUBLE) ELSE 0.0 END AS p,
         CASE WHEN n_true > 0 THEN tp / CAST(n_true AS DOUBLE) ELSE 0.0 END AS r
  FROM base),
f AS (
  SELECT class, n_true, n_pred, p, r,
         CASE WHEN p + r > 0 THEN 2 * p * r / (p + r) ELSE 0.0 END AS f1
  FROM scored),
micro AS (
  SELECT sum(n) AS tot,
         sum(CASE WHEN label = assigned THEN n ELSE 0 END) AS tp
  FROM conf)
-- CAST the sum-derived counts to BIGINT: DuckDB widens them to HUGEINT,
-- which is not hash-safe under the driver's pandas fetch
SELECT class, CAST(n_true AS BIGINT) AS n_true,
       CAST(n_pred AS BIGINT) AS n_pred,
       ROUND(p, {R}) + 0 AS precision, ROUND(r, {R}) + 0 AS recall,
       ROUND(f1, {R}) + 0 AS f1
FROM f
UNION ALL
SELECT 'MACRO', CAST(sum(n_true) AS BIGINT), CAST(sum(n_pred) AS BIGINT),
       ROUND(avg(p), {R}) + 0, ROUND(avg(r), {R}) + 0, ROUND(avg(f1), {R}) + 0
FROM f
UNION ALL
SELECT 'MICRO', CAST(tot AS BIGINT), CAST(tot AS BIGINT),
       ROUND(tp / CAST(tot AS DOUBLE), {R}) + 0,
       ROUND(tp / CAST(tot AS DOUBLE), {R}) + 0,
       ROUND(tp / CAST(tot AS DOUBLE), {R}) + 0
FROM micro
"""


EXT10_QUERIES["f1_report"] = (q_f1_report, _sql_f1_report())

# ---------------------------------------------------------------------------
# RSI (Cutler SMA variant): trailing-window momentum indicator
# ---------------------------------------------------------------------------

_RSI_PERIOD = 14


def q_rsi_indicator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-day RSI of daily value per event type (SMA variant — window
    algebra, no recursive smoothing): the momentum-indicator readout over
    the daily_ohlc family. Series-partitioned windows only."""
    from gridmet_etl_spark.operators.timeseries import rsi_sma

    ev = spark.read.parquet(_t(sf_dir, "events"))
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")).alias(
            "day_idx"
        ),
    ).agg(F.round(F.sum("value"), R).alias("y"))
    return rsi_sma(daily, ["event_type"], period=_RSI_PERIOD, ndigits=R)


def _sql_rsi() -> str:
    return f"""
WITH daily AS (
  SELECT event_type,
         datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day_idx,
         ROUND(sum(value), {R}) AS y
  FROM events GROUP BY 1, 2),
moves AS (
  SELECT event_type, day_idx AS idx, y,
         greatest(y - lag(y, 1) OVER w, 0.0) AS gain,
         greatest(-(y - lag(y, 1) OVER w), 0.0) AS loss,
         row_number() OVER w AS rn
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day_idx)),
scored AS (
  SELECT event_type, idx, y, rn,
         avg(gain) OVER wt AS ag, avg(loss) OVER wt AS al
  FROM moves
  WINDOW wt AS (PARTITION BY event_type ORDER BY idx
                ROWS BETWEEN {_RSI_PERIOD - 1} PRECEDING AND CURRENT ROW))
SELECT event_type, idx, ROUND(y, {R}) + 0 AS y,
       ROUND(CASE WHEN al = 0 THEN 100.0
                  WHEN ag = 0 THEN 0.0
                  ELSE 100.0 - 100.0 / (1.0 + ag / al) END, {R}) + 0 AS rsi
FROM scored WHERE rn > {_RSI_PERIOD}
"""


EXT10_QUERIES["rsi_indicator"] = (q_rsi_indicator, _sql_rsi())

# ---------------------------------------------------------------------------
# Gini / Lorenz: value concentration across units
# ---------------------------------------------------------------------------

_GINI_POINTS = 10


def q_gini_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration Lorenz curve + Gini across customers (order
    totals per customer): deciles of the ascending-ranked population with
    cumulative value shares, Gini from the exact rank identity (no
    pairwise join). The inequality readout for budget/quota design."""
    from gridmet_etl_spark.operators.stats import gini_lorenz

    orders = spark.read.parquet(_t(sf_dir, "orders"))
    per_cust = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), R).alias("y")
    )
    return gini_lorenz(per_cust, "y", "o_custkey", n_points=_GINI_POINTS, ndigits=R)


def _sql_gini() -> str:
    return f"""
WITH per_cust AS (
  SELECT o_custkey, ROUND(sum(o_totalprice), {R}) AS y
  FROM orders GROUP BY o_custkey),
ranked AS (
  SELECT y, row_number() OVER (ORDER BY y, o_custkey) AS rn FROM per_cust),
tot AS (
  SELECT count(*) AS n, sum(y) AS sy, sum(rn * y) AS srny FROM ranked),
binned AS (
  SELECT CAST(ceil(rn * {_GINI_POINTS} / CAST(tot.n AS DOUBLE)) AS INT) AS point,
         sum(y) AS py
  FROM ranked, tot GROUP BY 1),
cum AS (
  SELECT point, sum(py) OVER (ORDER BY point
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cy
  FROM binned)
SELECT cum.point,
       ROUND(cum.point / {float(_GINI_POINTS)}, {R}) + 0 AS pop_share,
       ROUND(cum.cy / tot.sy, {R}) + 0 AS cum_value_share,
       ROUND(2.0 * tot.srny / (tot.n * tot.sy) - (tot.n + 1) / CAST(tot.n AS DOUBLE),
             {R}) + 0 AS gini
FROM cum, tot
"""


EXT10_QUERIES["gini_lorenz"] = (q_gini_lorenz, _sql_gini())

# ---------------------------------------------------------------------------
# Log-rank test: the significance companion to kaplan_meier
# ---------------------------------------------------------------------------


def q_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Cox log-rank over a two-arm synthetic cohort (arm B's
    durations deliberately shifted shorter, same censoring rule as
    kaplan_meier) — O−E accumulation over the event-time grid, χ² with
    1 df. Time-grid-bounded range join for the at-risk sets."""
    from gridmet_etl_spark.operators.stats import logrank_test

    o = spark.read.parquet(_t(sf_dir, "orders")).select(
        F.when(F.col("o_orderkey") % 2 == 0, "A").otherwise("B").alias("grp"),
        F.when(
            F.col("o_orderkey") % 2 == 0, F.col("o_orderkey") % 60 + 1
        ).otherwise(F.col("o_orderkey") % 45 + 1).alias("dur"),
        (F.col("o_orderkey") % 4 != 0).cast("int").alias("ev"),
    )
    return logrank_test(o, "grp", "dur", "ev", group_a="A", ndigits=R)


def _sql_logrank() -> str:
    return f"""
WITH base AS (
  SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'A' ELSE 'B' END AS grp,
         CAST(CASE WHEN o_orderkey % 2 = 0 THEN o_orderkey % 60 + 1
                   ELSE o_orderkey % 45 + 1 END AS BIGINT) AS dur,
         CAST(o_orderkey % 4 <> 0 AS INT) AS ev
  FROM orders),
per AS (
  SELECT grp, dur, sum(ev) AS d, count(*) AS lv FROM base GROUP BY grp, dur),
times AS (
  SELECT dur AS t FROM per GROUP BY dur HAVING sum(d) > 0),
risk AS (
  SELECT times.t, per.grp, sum(per.lv) AS n_g
  FROM times JOIN per ON per.dur >= times.t
  GROUP BY times.t, per.grp),
cells AS (
  SELECT r.t,
         sum(CASE WHEN r.grp = 'A' THEN r.n_g ELSE 0 END) AS n1,
         sum(r.n_g) AS n,
         sum(CASE WHEN r.grp = 'A' THEN COALESCE(p.d, 0) ELSE 0 END) AS d1,
         sum(COALESCE(p.d, 0)) AS dd
  FROM risk r LEFT JOIN per p ON p.grp = r.grp AND p.dur = r.t
  GROUP BY r.t HAVING sum(r.n_g) > 1),
acc AS (
  SELECT sum(d1) AS o,
         sum(dd * (n1 / CAST(n AS DOUBLE))) AS e,
         sum(dd * (n1 / CAST(n AS DOUBLE)) * (1 - n1 / CAST(n AS DOUBLE))
             * (n - dd) / CAST(n - 1 AS DOUBLE)) AS v
  FROM cells),
sizes AS (SELECT grp, count(*) AS ng FROM base GROUP BY grp)
SELECT (SELECT ng FROM sizes WHERE grp = 'A') AS n_a,
       -- CAST: sum() widens to HUGEINT — not hash-safe (pandas fetch)
       (SELECT CAST(sum(ng) AS BIGINT) FROM sizes WHERE grp <> 'A') AS n_b,
       CAST(acc.o AS BIGINT) AS observed_a,
       ROUND(acc.e, {R}) + 0 AS expected_a,
       ROUND(acc.v, {R}) + 0 AS variance,
       ROUND((acc.o - acc.e) * (acc.o - acc.e) / acc.v, {R}) + 0 AS chi2
FROM acc
"""


EXT10_QUERIES["logrank_test"] = (q_logrank_test, _sql_logrank())

# ---------------------------------------------------------------------------
# Capture-recapture: estimated unseen corpus behind overlapping crawls
# ---------------------------------------------------------------------------


def q_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman population estimate per source pair over the same
    8-token-line digest units as source_overlap: how big the underlying
    corpus is — and how much NEITHER crawl captured — from two capture
    samples. Digest-relation shuffles only."""
    from .contract_ext9 import _LINE_W
    from gridmet_etl_spark.operators.dedup import capture_recapture

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    units = docs.select(
        "source",
        F.split(F.col("text"), " ").alias("_a"),
    ).select(
        "source",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(_a), {_LINE_W}),"
                f" st -> md5(array_join(slice(_a, st, {_LINE_W}), ' ')))"
            )
        ).alias("d"),
    )
    return capture_recapture(units, ndigits=R)


def _sql_capture_recapture() -> str:
    from .contract_ext9 import _LINE_W

    return f"""
WITH base AS (SELECT source, string_split(text, ' ') AS a FROM documents),
starts AS (
  -- series bound derived from len(a) via the unnest(list) form (this
  -- DuckDB build rejects lateral table-function bounds), matching Spark's
  -- sequence(1, size(_a)) — a fixed 4000 cap would silently diverge on
  -- any document longer than 4000 tokens
  SELECT source, a, unnest(generate_series(1, len(a), {_LINE_W})) AS st
  FROM base),
units AS (
  SELECT source, md5(array_to_string(a[st : st + {_LINE_W - 1}], ' ')) AS d
  FROM starts),
ds AS (SELECT DISTINCT source, d FROM units),
per AS (SELECT source, count(*) AS n FROM ds GROUP BY source),
shared AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
  FROM ds a JOIN ds b ON a.d = b.d AND a.source < b.source
  GROUP BY 1, 2),
pairs AS (
  SELECT pa.source AS source_a, pb.source AS source_b,
         pa.n AS n_a, pb.n AS n_b, COALESCE(s.n_shared, 0) AS n_shared
  FROM per pa JOIN per pb ON pa.source < pb.source
  LEFT JOIN shared s ON s.source_a = pa.source AND s.source_b = pb.source)
SELECT source_a, source_b, n_a, n_b, n_shared,
       n_a + n_b - n_shared AS n_union,
       CASE WHEN n_shared > 0
            THEN ROUND((n_a + 1) * (n_b + 1) / CAST(n_shared + 1 AS DOUBLE) - 1,
                       {R}) + 0 END AS est_population,
       CASE WHEN n_shared > 0
            THEN ROUND((n_a + 1) * (n_b + 1) / CAST(n_shared + 1 AS DOUBLE) - 1
                       - (n_a + n_b - n_shared), {R}) + 0 END AS est_unseen
FROM pairs
"""


EXT10_QUERIES["capture_recapture"] = (q_capture_recapture, _sql_capture_recapture())

# ---------------------------------------------------------------------------
# Welch's t-test: continuous-metric A/B significance
# ---------------------------------------------------------------------------


def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t on the experiment panel (post-period value, 50/50 md5
    arms): the continuous-means significance readout next to ab_test's
    proportion z and cuped_adjust's variance-reduced effect."""
    from gridmet_etl_spark.operators.causal import hash_pct
    from gridmet_etl_spark.operators.stats import welch_ttest

    units = _causal_units(spark, sf_dir).withColumn(
        "t", (hash_pct(F.col("user_id"), "assign") < 50).cast("int")
    )
    return welch_ttest(units, "y", "t", ndigits=R)


def _sql_welch() -> str:
    return f"""
WITH {_SQL_CAUSAL_UNITS},
units AS (SELECT pu.*, {_SQL_ASSIGN_50} AS t FROM pu),
g AS (
  SELECT count(CASE WHEN t = 1 THEN 1 END) AS n1,
         sum(CASE WHEN t = 1 THEN y END) AS s1,
         sum(CASE WHEN t = 1 THEN y * y END) AS q1,
         count(CASE WHEN t = 0 THEN 1 END) AS n2,
         sum(CASE WHEN t = 0 THEN y END) AS s2,
         sum(CASE WHEN t = 0 THEN y * y END) AS q2
  FROM units),
d AS (
  SELECT n1, n2, s1 / n1 AS m1, s2 / n2 AS m2,
         (q1 - s1 * s1 / n1) / (n1 - 1) AS v1,
         (q2 - s2 * s2 / n2) / (n2 - 1) AS v2
  FROM g)
SELECT n1 AS n_t, n2 AS n_c,
       ROUND(m1, {R}) + 0 AS mean_t, ROUND(m2, {R}) + 0 AS mean_c,
       ROUND(m1 - m2, {R}) + 0 AS diff,
       ROUND((m1 - m2) / sqrt(v1 / n1 + v2 / n2), {R}) + 0 AS t_stat,
       ROUND((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)
             / ((v1 / n1) * (v1 / n1) / (n1 - 1)
                + (v2 / n2) * (v2 / n2) / (n2 - 1)), {R}) + 0 AS df
FROM d
"""


EXT10_QUERIES["welch_ttest"] = (q_welch_ttest, _sql_welch())
