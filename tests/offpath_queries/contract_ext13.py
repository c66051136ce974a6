"""Round-8 contract entries: Kendall τ-b (tie-corrected ordinal
association), a deterministic two-sample permutation test, AP@k retrieval
evaluation, the inter-event-gap histogram behind sessionization timeouts,
degree assortativity, the Bloom-filter geometry sweep, Neyman sample
allocation, within-stratum propensity matching (ATT), and the Hill
tail-index estimator.

Reference parity note: engine-extension surface (the reference is a fixed
two-pipeline ETL, SURVEY §3); oracles are the contract.

Discipline (README "output-type discipline"): every oracle integer sum is
CAST(... AS BIGINT); permutation assignments and matching draws come from
48-bit md5 prefixes (replayable in any engine — no RNG anywhere);
extremeness/allocation decisions are made on exact-integer forms
(common-denominator cross-products, max-normalized e12 quantization,
largest-remainder seats); ln/pow chains round at 4 (the exp∘ln
convention), everything else at R.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .contract import R, _t

EXT13_QUERIES: dict = {}

# ---------------------------------------------------------------------------
# kendall_tau: tie-corrected τ-b over the same ordinal pair as ordinal_gamma
# ---------------------------------------------------------------------------


def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall τ-b between the quantity decile bucket and order priority —
    the tie-corrected companion to ordinal_gamma on the identical cell
    relation (operators/stats.py::kendall_tau_b): γ saturates on sparse
    tables, τ-b divides by the tie-adjusted pair count."""
    from gridmet_etl_spark.operators.stats import kendall_tau_b

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
    return kendall_tau_b(j, "qbucket", "prio")


SQL_KENDALL_TAU = f"""
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
xt AS (SELECT CAST(sum(t * (t - 1)) AS BIGINT) AS t2x
       FROM (SELECT CAST(sum(n) AS BIGINT) AS t FROM cells GROUP BY x)),
yt AS (SELECT CAST(sum(t * (t - 1)) AS BIGINT) AS t2y
       FROM (SELECT CAST(sum(n) AS BIGINT) AS t FROM cells GROUP BY y)),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS n_cells FROM cells)
SELECT n, n_cells,
       COALESCE(concordant, 0) AS concordant,
       COALESCE(discordant, 0) AS discordant,
       CAST(t2x // 2 AS BIGINT) AS n1_ties_x,
       CAST(t2y // 2 AS BIGINT) AS n2_ties_y,
       ROUND(CASE WHEN CAST(n * (n - 1) - t2x AS DOUBLE)
                       * CAST(n * (n - 1) - t2y AS DOUBLE) <= 0.0
             THEN 0.0
             ELSE 2.0 * CAST(COALESCE(concordant, 0)
                             - COALESCE(discordant, 0) AS DOUBLE)
                  / sqrt(CAST(n * (n - 1) - t2x AS DOUBLE)
                         * CAST(n * (n - 1) - t2y AS DOUBLE))
             END, {R}) + 0 AS tau_b
FROM acc, xt, yt, tot
"""


EXT13_QUERIES["kendall_tau"] = (q_kendall_tau, SQL_KENDALL_TAU)

# ---------------------------------------------------------------------------
# permutation_test: exact-inference mean-difference test, md5 permutations
# ---------------------------------------------------------------------------

_PERM_N = 48


def q_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation test of the returned-vs-kept quantity mean difference:
    48 deterministic md5 relabelings preserving group sizes exactly;
    extremeness decided on integer cross-products
    (operators/stats.py::permutation_test)."""
    from gridmet_etl_spark.operators.stats import permutation_test

    li = spark.read.parquet(_t(sf_dir, "lineitem")).select(
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("rid"),
        (F.col("l_returnflag") == "R").cast("int").alias("t"),
        F.col("l_quantity").cast("long").alias("v"),
    )
    return permutation_test(li, "rid", "t", "v", n_perm=_PERM_N)


SQL_PERMUTATION_TEST = f"""
WITH rows_ AS (
  SELECT l_orderkey * 8 + l_linenumber AS rid,
         CAST(l_returnflag = 'R' AS INT) AS t,
         CAST(l_quantity AS BIGINT) AS v
  FROM lineitem),
obs AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(t) AS BIGINT) AS n1,
         CAST(sum(v * t) AS BIGINT) AS s1, CAST(sum(v) AS BIGINT) AS s_tot
  FROM rows_),
perms AS (
  SELECT p.p, r.rid, r.v,
         CAST('0x' || substr(md5(r.rid || ':' || p.p), 1, 12) AS BIGINT) AS h
  FROM rows_ r, generate_series(0, {_PERM_N - 1}) p(p)),
ranked AS (
  SELECT p, v, row_number() OVER (PARTITION BY p ORDER BY h, rid) AS rn
  FROM perms),
per_p AS (
  SELECT p,
         CAST(sum(CASE WHEN rn <= (SELECT n1 FROM obs) THEN v END) AS BIGINT)
           AS s1p
  FROM ranked GROUP BY p),
acc AS (
  SELECT CAST(sum(CASE WHEN abs(s1p * (n - n1) - (s_tot - s1p) * n1)
                            >= abs(s1 * (n - n1) - (s_tot - s1) * n1)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
         any_value(n) AS n, any_value(n1) AS n1,
         any_value(s1) AS s1, any_value(s_tot) AS s_tot
  FROM per_p, obs)
SELECT n, n1, CAST({_PERM_N} AS INT) AS n_perm, n_extreme,
       ROUND(CAST(s1 AS DOUBLE) / n1
             - CAST(s_tot - s1 AS DOUBLE) / (n - n1), {R}) + 0 AS mean_diff,
       ROUND(CAST(1 + n_extreme AS DOUBLE) / (1 + {_PERM_N}), {R}) + 0
         AS p_value
FROM acc
"""


EXT13_QUERIES["permutation_test"] = (q_permutation_test, SQL_PERMUTATION_TEST)

# ---------------------------------------------------------------------------
# ap_at_k: uninterpolated average precision over the cosine top-10
# ---------------------------------------------------------------------------

_AP_EMB_DIM = 64
_AP_K = 10


def q_ap_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AP@10 per query over the cosine top-10 with same-label relevance —
    the precision-mass companion to mrr_eval/ndcg_eval on the identical
    ranking (operators/retrieval.py::average_precision_at_k); R = the
    query label's corpus frequency minus the query itself."""
    from gridmet_etl_spark.operators.retrieval import average_precision_at_k
    from gridmet_etl_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    hits = cosine_topk(emb, queries, k=_AP_K, rank_round=R)
    labels = emb.select("vec_id", "label")
    qlab = labels.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel")
    )
    lab_freq = labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("_lf")
    )
    rel = (
        hits.join(F.broadcast(qlab), "query_id")
        .join(
            F.broadcast(labels.withColumnRenamed("vec_id", "neighbor_id")),
            "neighbor_id",
        )
        .withColumn("rel", (F.col("label") == F.col("qlabel")).cast("int"))
        .join(
            F.broadcast(lab_freq.withColumnRenamed("label", "qlabel")), "qlabel"
        )
        .withColumn("n_rel_total", F.col("_lf") - 1)
    )
    return average_precision_at_k(rel, k=_AP_K, ndigits=R)


SQL_AP_AT_K = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec, label AS qlabel
           FROM embeddings WHERE vec_id < 20),
pairs AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         sum(CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_vec[i] AS DOUBLE)) AS dot,
         sqrt(sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) AS n_e,
         sqrt(sum(CAST(q.q_vec[i] AS DOUBLE) * CAST(q.q_vec[i] AS DOUBLE))) AS n_q
  FROM embeddings e, q, generate_series(1, {_AP_EMB_DIM}) g(i)
  WHERE e.vec_id <> q.query_id
  GROUP BY q.query_id, e.vec_id),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY ROUND(dot / (n_e * n_q), {R}) DESC,
                                     neighbor_id) AS rank
  FROM pairs),
hits AS (SELECT * FROM ranked WHERE rank <= {_AP_K}),
lab_freq AS (SELECT label, CAST(count(*) AS BIGINT) AS lf
             FROM embeddings GROUP BY label),
rel AS (
  SELECT h.query_id, h.rank,
         CAST(e.label = q.qlabel AS INT) AS rel,
         f.lf - 1 AS n_rel_total
  FROM hits h
  JOIN embeddings e ON e.vec_id = h.neighbor_id
  JOIN q ON q.query_id = h.query_id
  JOIN lab_freq f ON f.label = q.qlabel),
cum AS (
  SELECT query_id, rank, rel, n_rel_total,
         CAST(sum(rel) OVER (PARTITION BY query_id ORDER BY rank
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumrel
  FROM rel),
agg AS (
  SELECT query_id,
         CAST(sum(rel) AS BIGINT) AS n_rel_topk,
         CAST(any_value(n_rel_total) AS BIGINT) AS n_rel_total,
         CAST(sum(CASE WHEN rel = 1
                       THEN cumrel * CAST(1000000000 AS BIGINT) // rank
                       ELSE 0 END) AS BIGINT) AS ap_e9
  FROM cum GROUP BY query_id)
SELECT query_id, n_rel_topk, n_rel_total,
       ROUND(CASE WHEN least(n_rel_total, {_AP_K}) <= 0 THEN 0.0
             ELSE CAST(ap_e9 AS DOUBLE)
                  / (CAST(least(n_rel_total, {_AP_K}) AS DOUBLE) * 1e9)
             END, {R}) + 0 AS ap
FROM agg
"""


EXT13_QUERIES["ap_at_k"] = (q_ap_at_k, SQL_AP_AT_K)

# ---------------------------------------------------------------------------
# inter_event_gaps: the histogram behind every session-timeout choice
# ---------------------------------------------------------------------------

_GAP_THRESHOLDS = [1, 10, 60, 600, 3600, 86400]


def q_inter_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival histogram of the event stream (same-user consecutive
    gaps, exact microseconds, integer-second decade buckets) — the
    distribution the 30-minute sessionization folklore should be checked
    against (operators/funnel.py::inter_event_gaps)."""
    from gridmet_etl_spark.operators.funnel import inter_event_gaps
    from gridmet_etl_spark.sources.readers import read_events

    e = read_events(spark, _t(sf_dir, "events"))
    return inter_event_gaps(e, thresholds=_GAP_THRESHOLDS)


def _sql_gaps() -> str:
    th = _GAP_THRESHOLDS
    bucket_rows = ", ".join(
        f"({i}, {([0] + th)[i]}, {th[i] if i < len(th) else 'NULL'})"
        for i in range(len(th) + 1)
    )
    case = "CASE " + " ".join(
        f"WHEN gap <= {t * 1_000_000} THEN {i}" for i, t in enumerate(th)
    ) + f" ELSE {len(th)} END"
    return f"""
WITH gaps AS (
  SELECT epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                ORDER BY ts) AS gap
  FROM events),
g AS (SELECT gap FROM gaps WHERE gap IS NOT NULL),
counted AS (
  SELECT {case} AS bucket, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY 1),
brel(bucket, lo_exclusive_s, hi_inclusive_s) AS (VALUES {bucket_rows}),
tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM g)
SELECT CAST(b.bucket AS INT) AS bucket,
       CAST(b.lo_exclusive_s AS BIGINT) AS lo_exclusive_s,
       CAST(b.hi_inclusive_s AS BIGINT) AS hi_inclusive_s,
       COALESCE(c.n, 0) AS n,
       ROUND(CASE WHEN t > 0 THEN CAST(COALESCE(c.n, 0) AS DOUBLE) / t
             ELSE 0.0 END, {R}) + 0 AS pct
FROM brel b LEFT JOIN counted c ON c.bucket = b.bucket, tot
"""


EXT13_QUERIES["inter_event_gaps"] = (q_inter_event_gaps, _sql_gaps())

# ---------------------------------------------------------------------------
# degree_assortativity: hub-links-hub or hub-links-leaf, one number
# ---------------------------------------------------------------------------


def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the part–supplier bipartite graph (distinct
    lineitem (l_partkey, l_suppkey) edges): do well-connected parts source
    from well-connected suppliers?
    (operators/graph.py::degree_assortativity)."""
    from gridmet_etl_spark.operators.graph import degree_assortativity

    edges = (
        spark.read.parquet(_t(sf_dir, "lineitem"))
        .select(F.col("l_partkey").alias("src"), F.col("l_suppkey").alias("dst"))
        .distinct()
    )
    return degree_assortativity(edges)


SQL_DEGREE_ASSORTATIVITY = f"""
WITH e AS (SELECT DISTINCT l_partkey AS s, l_suppkey AS d FROM lineitem),
dsrc AS (SELECT s, CAST(count(*) AS BIGINT) AS dx FROM e GROUP BY s),
ddst AS (SELECT d, CAST(count(*) AS BIGINT) AS dy FROM e GROUP BY d),
j AS (SELECT dx, dy FROM e JOIN dsrc USING (s) JOIN ddst USING (d)),
acc AS (
  SELECT CAST(count(*) AS BIGINT) AS n_edges,
         sum(dx) AS sx, sum(dy) AS sy, sum(dx * dy) AS sxy,
         sum(dx * dx) AS sxx, sum(dy * dy) AS syy
  FROM j),
cnt AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM dsrc) AS n_src,
               (SELECT CAST(count(*) AS BIGINT) FROM ddst) AS n_dst)
SELECT n_edges, n_src, n_dst,
       ROUND(CASE WHEN CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <= 0.0
                    OR CAST(n_edges AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) <= 0.0
             THEN 0.0
             ELSE (CAST(n_edges AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / sqrt((CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * (CAST(n_edges AS DOUBLE) * CAST(syy AS DOUBLE)
                            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             END, {R}) + 0 AS r
FROM acc, cnt
"""


EXT13_QUERIES["degree_assortativity"] = (
    q_degree_assortativity,
    SQL_DEGREE_ASSORTATIVITY,
)

# ---------------------------------------------------------------------------
# bloom_fpr_sweep: measured vs analytic FPR per (m, k) geometry
# ---------------------------------------------------------------------------

_BLOOM_CONFIGS = ((16384, 3), (65536, 5), (262144, 7))


def q_bloom_fpr_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom geometry sweep on a parity split of the corpus: even doc_ids
    are members, odd doc_ids (minus exact dup fingerprints) are probes;
    per config the measured FPR sits next to the analytic
    (operators/decontam.py::bloom_fpr_sweep)."""
    from gridmet_etl_spark.operators.decontam import bloom_fpr_sweep

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    members = docs.filter(F.col("doc_id") % 2 == 0)
    probes = docs.filter(F.col("doc_id") % 2 == 1)
    return bloom_fpr_sweep(members, probes, configs=_BLOOM_CONFIGS)


def _sql_bloom_sweep() -> str:
    from .contract_ext import NORM

    norm = NORM.format(c="text")
    cfg_rows = ", ".join(f"({m}, {k})" for m, k in _BLOOM_CONFIGS)
    max_k = max(k for _, k in _BLOOM_CONFIGS)
    return f"""
WITH mem AS (SELECT DISTINCT md5({norm}) AS fp FROM documents
             WHERE doc_id % 2 = 0),
prb AS (SELECT fp FROM (SELECT DISTINCT md5({norm}) AS fp FROM documents
                        WHERE doc_id % 2 = 1) p
        WHERE NOT EXISTS (SELECT 1 FROM mem m WHERE m.fp = p.fp)),
cfg(m_bits, k_hashes) AS (VALUES {cfg_rows}),
mpos AS (
  SELECT DISTINCT c.m_bits, c.k_hashes,
         (CAST('0x' || substr(fp, 1, 12) AS BIGINT)
          + i.i * (2 * CAST('0x' || substr(fp, 13, 12) AS BIGINT) + 1))
         % c.m_bits AS pos
  FROM mem, cfg c, generate_series(0, {max_k - 1}) i(i)
  WHERE i.i < c.k_hashes),
ppos AS (
  SELECT c.m_bits, c.k_hashes, fp,
         (CAST('0x' || substr(fp, 1, 12) AS BIGINT)
          + i.i * (2 * CAST('0x' || substr(fp, 13, 12) AS BIGINT) + 1))
         % c.m_bits AS pos
  FROM prb, cfg c, generate_series(0, {max_k - 1}) i(i)
  WHERE i.i < c.k_hashes),
hit AS (
  SELECT p.m_bits, p.k_hashes, p.fp,
         CAST(count(*) AS BIGINT) AS k_cnt,
         CAST(sum(CASE WHEN m.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS hits
  FROM ppos p LEFT JOIN mpos m
    ON m.m_bits = p.m_bits AND m.k_hashes = p.k_hashes AND m.pos = p.pos
  GROUP BY p.m_bits, p.k_hashes, p.fp),
fpc AS (
  SELECT m_bits, k_hashes,
         CAST(sum(CASE WHEN hits = k_cnt THEN 1 ELSE 0 END) AS BIGINT)
           AS n_false_pos
  FROM hit GROUP BY m_bits, k_hashes),
nm AS (SELECT CAST(count(*) AS BIGINT) AS n_members FROM mem),
np AS (SELECT CAST(count(*) AS BIGINT) AS n_probes FROM prb)
SELECT CAST(c.m_bits AS BIGINT) AS m_bits, CAST(c.k_hashes AS INT) AS k_hashes,
       n_members, n_probes,
       COALESCE(f.n_false_pos, 0) AS n_false_pos,
       ROUND(CASE WHEN n_probes > 0
             THEN CAST(COALESCE(f.n_false_pos, 0) AS DOUBLE) / n_probes
             ELSE 0.0 END, {R}) + 0 AS fpr_measured,
       ROUND(power(1.0 - power(1.0 - 1.0 / CAST(c.m_bits AS DOUBLE),
                               CAST(c.k_hashes AS DOUBLE) * n_members),
                   CAST(c.k_hashes AS DOUBLE)), 4) + 0 AS fpr_analytic
FROM cfg c LEFT JOIN fpc f
  ON f.m_bits = c.m_bits AND f.k_hashes = c.k_hashes, nm, np
"""


EXT13_QUERIES["bloom_fpr_sweep"] = (q_bloom_fpr_sweep, _sql_bloom_sweep())

# ---------------------------------------------------------------------------
# neyman_alloc: minimum-variance sample allocation across strata
# ---------------------------------------------------------------------------

_NEYMAN_BUDGET = 10000


def q_neyman_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman allocation of a 10k-row sampling budget across the
    l_returnflag strata by N_h·σ_h of quantity — exact largest-remainder
    seats over max-normalized integer weights
    (operators/sampling.py::neyman_allocation)."""
    from gridmet_etl_spark.operators.sampling import neyman_allocation

    li = spark.read.parquet(_t(sf_dir, "lineitem")).select(
        "l_returnflag", F.col("l_quantity").cast("long").alias("qty")
    )
    return neyman_allocation(li, ["l_returnflag"], "qty", _NEYMAN_BUDGET)


SQL_NEYMAN_ALLOC = f"""
WITH per AS (
  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_h,
         sum(CAST(l_quantity AS BIGINT)) AS sv,
         sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS svv
  FROM lineitem GROUP BY l_returnflag),
sds AS (
  SELECT l_returnflag, n_h, sv,
         CASE WHEN n_h <= 1 THEN 0.0
         ELSE sqrt(greatest(
           (CAST(n_h AS DOUBLE) * CAST(svv AS DOUBLE)
            - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
           / (CAST(n_h AS DOUBLE) * (CAST(n_h AS DOUBLE) - 1.0)), 0.0))
         END AS sd
  FROM per),
ws AS (SELECT *, CAST(n_h AS DOUBLE) * sd AS w FROM sds),
wm AS (SELECT max(w) AS wmax FROM ws),
qs AS (
  SELECT l_returnflag, n_h, sv, sd,
         CASE WHEN wmax > 0.0
              THEN CAST(floor(w / wmax * 1e12) AS BIGINT)
              ELSE n_h END AS weight_e12
  FROM ws, wm),
tw AS (SELECT CAST(sum(weight_e12) AS BIGINT) AS tw FROM qs),
based AS (
  SELECT qs.*, CAST({_NEYMAN_BUDGET} AS BIGINT) * weight_e12 // tw AS base_quota,
         (CAST({_NEYMAN_BUDGET} AS BIGINT) * weight_e12) % tw AS rem
  FROM qs, tw),
short AS (SELECT CAST({_NEYMAN_BUDGET} - sum(base_quota) AS BIGINT) AS k
          FROM based),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY rem DESC, l_returnflag) AS rr
  FROM based)
SELECT l_returnflag, n_h,
       ROUND(CAST(sv AS DOUBLE) / CAST(n_h AS DOUBLE), {R}) + 0 AS mean,
       ROUND(sd, {R}) + 0 AS sd,
       weight_e12,
       CAST(base_quota AS BIGINT) AS base_quota,
       CAST(base_quota + CASE WHEN rr <= k THEN 1 ELSE 0 END AS BIGINT)
         AS alloc
FROM ranked, short
"""


EXT13_QUERIES["neyman_alloc"] = (q_neyman_alloc, SQL_NEYMAN_ALLOC)

# ---------------------------------------------------------------------------
# propensity_match_att: 1:1 within-stratum matched treatment effect
# ---------------------------------------------------------------------------


def q_propensity_match_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ATT of the md5-assigned 50/50 "treatment" on per-user event counts,
    1:1 matched within user_id%4 strata — the matching twin of ipw_ate
    (operators/causal.py::propensity_match_att). Under the null
    assignment ATT ≈ naive diff ≈ 0; the contract pins the exact matched
    arithmetic, not an effect."""
    from gridmet_etl_spark.operators.causal import hash_pct, propensity_match_att
    from gridmet_etl_spark.sources.readers import read_events

    e = read_events(spark, _t(sf_dir, "events"))
    users = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("y"))
    units = users.select(
        "user_id",
        "y",
        (hash_pct(F.col("user_id"), "assign") < 50).cast("int").alias("t"),
        F.pmod(F.col("user_id"), F.lit(4)).alias("stratum"),
    )
    return propensity_match_att(units)


SQL_PROPENSITY_MATCH = f"""
WITH users AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS y FROM events GROUP BY user_id),
units AS (
  SELECT user_id, y,
         CASE WHEN CAST('0x' || substr(md5('assign:' || CAST(user_id AS VARCHAR)), 1, 6)
                   AS BIGINT) % 100 < 50 THEN 1 ELSE 0 END AS t,
         user_id % 4 AS stratum
  FROM users),
ranked AS (
  SELECT stratum, t, y,
         row_number() OVER (
           PARTITION BY stratum, t
           ORDER BY CAST('0x' || substr(md5('match:' || CAST(user_id AS VARCHAR)), 1, 12)
                    AS BIGINT), user_id) AS rn
  FROM units),
tr AS (SELECT stratum, rn, y AS yt FROM ranked WHERE t = 1),
ct AS (SELECT stratum, rn, y AS yc FROM ranked WHERE t = 0),
pairs AS (SELECT yt, yc FROM tr JOIN ct USING (stratum, rn)),
acc AS (
  SELECT CAST(count(*) AS BIGINT) AS n_matched,
         CAST(sum(yt) AS BIGINT) AS syt, CAST(sum(yc) AS BIGINT) AS syc
  FROM pairs),
tot AS (
  SELECT CAST(sum(t) AS BIGINT) AS n_treated,
         CAST(sum(1 - t) AS BIGINT) AS n_control,
         CAST(sum(y * t) AS BIGINT) AS st_all,
         CAST(sum(y * (1 - t)) AS BIGINT) AS sc_all
  FROM units)
SELECT n_treated, n_control, n_matched,
       CAST(n_treated - n_matched AS BIGINT) AS n_unmatched_treated,
       ROUND(CASE WHEN n_matched > 0
             THEN CAST(syt - syc AS DOUBLE) / n_matched ELSE 0.0 END, {R}) + 0
         AS att,
       ROUND(CASE WHEN n_treated > 0 AND n_control > 0
             THEN CAST(st_all AS DOUBLE) / n_treated
                  - CAST(sc_all AS DOUBLE) / n_control
             ELSE 0.0 END, {R}) + 0 AS naive_diff
FROM acc, tot
"""


EXT13_QUERIES["propensity_match_att"] = (
    q_propensity_match_att,
    SQL_PROPENSITY_MATCH,
)

# ---------------------------------------------------------------------------
# hill_tail_index: how heavy is the document-length tail
# ---------------------------------------------------------------------------

_HILL_K = 100


def q_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index of document token counts (top-101 order statistics,
    floor-e6 ln terms) — the tail-weight number next to zipf_fit's full
    rank curve (operators/textops.py::hill_tail_index)."""
    from gridmet_etl_spark.operators.textops import hill_tail_index

    docs = spark.read.parquet(_t(sf_dir, "documents")).select(
        F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    return hill_tail_index(docs, "n_tokens", k=_HILL_K)


SQL_HILL_TAIL = f"""
WITH v AS (
  SELECT CAST(len(string_split(text, ' ')) AS DOUBLE) AS v FROM documents),
pos AS (SELECT v FROM v WHERE v > 0),
top AS (SELECT v FROM pos ORDER BY v DESC LIMIT {_HILL_K + 1}),
thr AS (SELECT min(v) AS thr FROM top),
terms AS (
  SELECT CAST(floor((ln(v) - ln(thr)) * 1e6) AS BIGINT) AS t_e6, thr
  FROM top, thr),
acc AS (
  SELECT CAST(sum(t_e6) AS BIGINT) AS s_e6, any_value(thr) AS thr,
         CAST(count(*) AS BIGINT) AS m
  FROM terms),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pos)
SELECT CAST(m - 1 AS INT) AS k, n,
       ROUND(thr, 4) + 0 AS threshold,
       ROUND(CASE WHEN m - 1 > 0
             THEN CAST(s_e6 AS DOUBLE) / 1e6 / CAST(m - 1 AS DOUBLE)
             ELSE 0.0 END, 4) + 0 AS hill_mean,
       ROUND(CASE WHEN m - 1 > 0
                  AND CAST(s_e6 AS DOUBLE) / 1e6 / CAST(m - 1 AS DOUBLE) > 0.0
             THEN 1.0 / (CAST(s_e6 AS DOUBLE) / 1e6 / CAST(m - 1 AS DOUBLE))
             ELSE 0.0 END, 4) + 0 AS alpha
FROM acc, n
"""


EXT13_QUERIES["hill_tail_index"] = (q_hill_tail_index, SQL_HILL_TAIL)

# ---------------------------------------------------------------------------
# mcnemar_test: paired classifier comparison on shared examples
# ---------------------------------------------------------------------------


def q_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar over two rule 'classifiers' predicting l_returnflag='R' on
    the same lineitem rows (A: quantity > 25, B: discount > 0.05) — only
    the discordant counts decide (operators/stats.py::mcnemar_test)."""
    from gridmet_etl_spark.operators.stats import mcnemar_test

    li = spark.read.parquet(_t(sf_dir, "lineitem")).select(
        (F.col("l_returnflag") == "R").alias("_y"),
        (F.col("l_quantity") > 25).alias("_pa"),
        (F.col("l_discount") > 0.05).alias("_pb"),
    ).select(
        (F.col("_pa") == F.col("_y")).alias("ca"),
        (F.col("_pb") == F.col("_y")).alias("cb"),
    )
    return mcnemar_test(li, "ca", "cb")


SQL_MCNEMAR = f"""
WITH p AS (
  SELECT ((l_quantity > 25) = (l_returnflag = 'R')) AS ca,
         ((l_discount > 0.05) = (l_returnflag = 'R')) AS cb
  FROM lineitem),
acc AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN ca AND cb THEN 1 ELSE 0 END) AS BIGINT)
           AS both_right,
         CAST(sum(CASE WHEN NOT ca AND NOT cb THEN 1 ELSE 0 END) AS BIGINT)
           AS both_wrong,
         CAST(sum(CASE WHEN ca AND NOT cb THEN 1 ELSE 0 END) AS BIGINT)
           AS a_only,
         CAST(sum(CASE WHEN NOT ca AND cb THEN 1 ELSE 0 END) AS BIGINT)
           AS b_only
  FROM p)
SELECT n, both_right, both_wrong, a_only, b_only,
       ROUND(CASE WHEN a_only + b_only = 0 THEN 0.0
             ELSE CAST((abs(a_only - b_only) - 1)
                       * (abs(a_only - b_only) - 1) AS DOUBLE)
                  / CAST(a_only + b_only AS DOUBLE)
             END, {R}) + 0 AS chi2
FROM acc
"""


EXT13_QUERIES["mcnemar_test"] = (q_mcnemar_test, SQL_MCNEMAR)

# ---------------------------------------------------------------------------
# cochran_q: k paired binary treatments across user blocks
# ---------------------------------------------------------------------------

_CQ_TYPES = ["view", "click", "purchase"]


def q_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q over (did the user view / click / purchase) across all
    users — the full user×type grid including zero rows (an absent pair
    IS information; operators/stats.py::cochran_q)."""
    from gridmet_etl_spark.operators.stats import cochran_q
    from gridmet_etl_spark.sources.readers import read_events

    e = read_events(spark, _t(sf_dir, "events"))
    users = e.select("user_id").distinct()
    types = spark.createDataFrame([(t,) for t in _CQ_TYPES], "event_type string")
    present = (
        e.filter(F.col("event_type").isin(_CQ_TYPES))
        .select("user_id", "event_type")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    grid = (
        users.crossJoin(F.broadcast(types))
        .join(present, ["user_id", "event_type"], "left")
        .na.fill({"hit": 0})
    )
    return cochran_q(grid, "user_id", "event_type", "hit")


def _sql_cochran() -> str:
    types = ", ".join(f"('{t}')" for t in _CQ_TYPES)
    inlist = ", ".join(f"'{t}'" for t in _CQ_TYPES)
    return f"""
WITH users AS (SELECT DISTINCT user_id FROM events),
types(event_type) AS (VALUES {types}),
present AS (
  SELECT DISTINCT user_id, event_type FROM events
  WHERE event_type IN ({inlist})),
grid AS (
  SELECT u.user_id, t.event_type,
         CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM users u CROSS JOIN types t
  LEFT JOIN present p
    ON p.user_id = u.user_id AND p.event_type = t.event_type),
rows_ AS (SELECT user_id, CAST(sum(hit) AS BIGINT) AS r FROM grid
          GROUP BY user_id),
r2 AS (SELECT CAST(count(*) AS BIGINT) AS n_blocks,
              CAST(sum(r * r) AS BIGINT) AS sr2,
              CAST(sum(r) AS BIGINT) AS t_grand FROM rows_),
cols AS (SELECT event_type, CAST(sum(hit) AS BIGINT) AS c FROM grid
         GROUP BY event_type),
c2 AS (SELECT CAST(count(*) AS BIGINT) AS k,
              CAST(sum(c * c) AS BIGINT) AS sc2 FROM cols)
SELECT n_blocks, CAST(k AS INT) AS k, t_grand,
       ROUND(CASE WHEN CAST(k * t_grand - sr2 AS DOUBLE) = 0.0 THEN 0.0
             ELSE CAST((k - 1) * (k * sc2 - t_grand * t_grand) AS DOUBLE)
                  / CAST(k * t_grand - sr2 AS DOUBLE)
             END, {R}) + 0 AS q
FROM r2, c2
"""


EXT13_QUERIES["cochran_q"] = (q_cochran_q, _sql_cochran())

# ---------------------------------------------------------------------------
# log_odds_words: Fightin' Words corpus comparison
# ---------------------------------------------------------------------------

_LOW_K = 20
_LOW_ALPHA = 0.5


def q_log_odds_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monroe log-odds z-scores for en vs non-en documents: the top-20
    most distinguishing words with the variance correction tf-idf lacks
    (operators/textops.py::log_odds_words)."""
    from gridmet_etl_spark.operators.textops import log_odds_words

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return log_odds_words(
        docs.filter(F.col("lang") == "en"),
        docs.filter(F.col("lang") != "en"),
        alpha=_LOW_ALPHA,
        k=_LOW_K,
    )


SQL_LOG_ODDS = f"""
WITH ta AS (
  SELECT token AS word, CAST(count(*) AS BIGINT) AS cnt_a
  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents
        WHERE lang = 'en')
  WHERE token <> '' GROUP BY token),
tb AS (
  SELECT token AS word, CAST(count(*) AS BIGINT) AS cnt_b
  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents
        WHERE lang <> 'en')
  WHERE token <> '' GROUP BY token),
vocab AS (
  SELECT COALESCE(ta.word, tb.word) AS word,
         COALESCE(cnt_a, 0) AS cnt_a, COALESCE(cnt_b, 0) AS cnt_b
  FROM ta FULL OUTER JOIN tb ON ta.word = tb.word),
tot AS (SELECT CAST(count(*) AS BIGINT) AS v,
               CAST(sum(cnt_a) AS BIGINT) AS n_a,
               CAST(sum(cnt_b) AS BIGINT) AS n_b FROM vocab),
scored AS (
  SELECT word, cnt_a, cnt_b,
         ROUND(
           ln((CAST(cnt_a AS DOUBLE) + {_LOW_ALPHA})
              / (CAST(n_a AS DOUBLE) + CAST(v AS DOUBLE) * {_LOW_ALPHA}
                 - CAST(cnt_a AS DOUBLE) - {_LOW_ALPHA}))
           - ln((CAST(cnt_b AS DOUBLE) + {_LOW_ALPHA})
                / (CAST(n_b AS DOUBLE) + CAST(v AS DOUBLE) * {_LOW_ALPHA}
                   - CAST(cnt_b AS DOUBLE) - {_LOW_ALPHA})), 4) + 0 AS delta,
         ROUND(
           (ln((CAST(cnt_a AS DOUBLE) + {_LOW_ALPHA})
               / (CAST(n_a AS DOUBLE) + CAST(v AS DOUBLE) * {_LOW_ALPHA}
                  - CAST(cnt_a AS DOUBLE) - {_LOW_ALPHA}))
            - ln((CAST(cnt_b AS DOUBLE) + {_LOW_ALPHA})
                 / (CAST(n_b AS DOUBLE) + CAST(v AS DOUBLE) * {_LOW_ALPHA}
                    - CAST(cnt_b AS DOUBLE) - {_LOW_ALPHA})))
           / sqrt(1.0 / (CAST(cnt_a AS DOUBLE) + {_LOW_ALPHA})
                  + 1.0 / (CAST(cnt_b AS DOUBLE) + {_LOW_ALPHA})), 4) + 0 AS z
  FROM vocab, tot)
SELECT word, cnt_a, cnt_b, delta, z,
       CAST(row_number() OVER (ORDER BY abs(z) DESC, word) AS INT) AS rank
FROM scored ORDER BY abs(z) DESC, word LIMIT {_LOW_K}
"""


EXT13_QUERIES["log_odds_words"] = (q_log_odds_words, SQL_LOG_ODDS)

# ---------------------------------------------------------------------------
# info_gain: entropy-based categorical feature screen
# ---------------------------------------------------------------------------

_IG_BUCKET = 100


def q_info_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information gain of (source, n_chars bucket) against the document
    language — max-normalized e12-quantized entropy terms
    (operators/mlprep.py::info_gain)."""
    from gridmet_etl_spark.operators.mlprep import info_gain

    docs = spark.read.parquet(_t(sf_dir, "documents")).select(
        "lang",
        "source",
        F.expr(f"CAST(n_chars div {_IG_BUCKET} AS INT)").alias("len_bucket"),
    )
    return info_gain(docs, "lang", ["source", "len_bucket"])


def _sql_info_gain() -> str:
    def hcond(feat_expr: str, fname: str) -> str:
        return f"""
cells_{fname} AS (
  SELECT {feat_expr} AS v, lang AS c, CAST(count(*) AS BIGINT) AS cvc
  FROM documents GROUP BY 1, 2),
vtot_{fname} AS (SELECT v, CAST(sum(cvc) AS BIGINT) AS nv
                 FROM cells_{fname} GROUP BY v),
term_{fname} AS (
  SELECT CAST(cvc AS DOUBLE)
         * ln(CAST(nv AS DOUBLE) / CAST(cvc AS DOUBLE)) AS t
  FROM cells_{fname} JOIN vtot_{fname} USING (v)),
tm_{fname} AS (SELECT max(t) AS tm FROM term_{fname}),
h_{fname} AS (
  SELECT CAST(sum(CASE WHEN tm > 0.0
                       THEN CAST(floor(t / tm * 1e12) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS q,
         any_value(tm) AS tm
  FROM term_{fname}, tm_{fname}),
nv_{fname} AS (SELECT CAST(count(*) AS BIGINT) AS n_values FROM vtot_{fname}),
hc_{fname} AS (
  SELECT CAST(q AS DOUBLE) / 1e12 * tm / (SELECT n FROM ntot) AS h_cond
  FROM h_{fname})"""

    return f"""
WITH ntot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
tcells AS (SELECT lang, CAST(count(*) AS BIGINT) AS cc FROM documents
           GROUP BY lang),
tterm AS (
  SELECT CAST(cc AS DOUBLE)
         * ln(CAST(n AS DOUBLE) / CAST(cc AS DOUBLE)) AS t
  FROM tcells, ntot),
ttm AS (SELECT max(t) AS tm FROM tterm),
ht AS (
  SELECT CAST(sum(CASE WHEN tm > 0.0
                       THEN CAST(floor(t / tm * 1e12) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS q,
         any_value(tm) AS tm
  FROM tterm, ttm),
htgt AS (SELECT CAST(q AS DOUBLE) / 1e12 * tm / (SELECT n FROM ntot)
           AS h_target FROM ht),
{hcond("source", "src")},
{hcond(f"CAST(n_chars // {_IG_BUCKET} AS INT)", "len")}
SELECT 'source' AS feature, (SELECT n_values FROM nv_src) AS n_values,
       ROUND((SELECT h_target FROM htgt), 4) + 0 AS h_target,
       ROUND((SELECT h_cond FROM hc_src), 4) + 0 AS h_cond,
       ROUND((SELECT h_target FROM htgt) - (SELECT h_cond FROM hc_src), 4) + 0
         AS info_gain
UNION ALL
SELECT 'len_bucket', (SELECT n_values FROM nv_len),
       ROUND((SELECT h_target FROM htgt), 4) + 0,
       ROUND((SELECT h_cond FROM hc_len), 4) + 0,
       ROUND((SELECT h_target FROM htgt) - (SELECT h_cond FROM hc_len), 4) + 0
"""


EXT13_QUERIES["info_gain"] = (q_info_gain, _sql_info_gain())

# ---------------------------------------------------------------------------
# runs_test: Wald–Wolfowitz randomness of the daily activity series
# ---------------------------------------------------------------------------


def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs test over the daily event-count series (above/below the exact
    mean, compared as integer cross-products so no float enters the
    flag): trending/clustered days reject randomness
    (operators/timeseries.py::runs_test)."""
    from gridmet_etl_spark.operators.timeseries import runs_test
    from gridmet_etl_spark.sources.readers import read_events

    e = read_events(spark, _t(sf_dir, "events"))
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("_nd"),
        F.sum("cnt").cast("long").alias("_tot"),
    )
    flagged = daily.crossJoin(F.broadcast(tot)).select(
        "day", (F.col("cnt") * F.col("_nd") > F.col("_tot")).alias("above")
    )
    return runs_test(flagged, "day", "above")


SQL_RUNS_TEST = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS nd,
               CAST(sum(cnt) AS BIGINT) AS t FROM daily),
flagged AS (
  SELECT day, CAST(cnt * nd > t AS INT) AS f FROM daily, tot),
runs AS (
  SELECT f, CASE WHEN f <> lag(f) OVER (ORDER BY day) THEN 1 ELSE 0 END
            AS chg
  FROM flagged),
acc AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(f) AS BIGINT) AS n_above,
         CAST(count(*) - sum(f) AS BIGINT) AS n_below,
         CAST(COALESCE(sum(chg), 0) + 1 AS BIGINT) AS runs
  FROM runs)
SELECT n, n_above, n_below, runs,
       ROUND(CASE WHEN n_above = 0 OR n_below = 0 OR n <= 1 THEN 0.0
             WHEN 2.0 * n_above * n_below
                  * (2.0 * n_above * n_below - CAST(n AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                     * (CAST(n AS DOUBLE) - 1.0)) <= 0.0 THEN 0.0
             ELSE (CAST(runs AS DOUBLE)
                   - (2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
                      / CAST(n AS DOUBLE) + 1.0))
                  / sqrt(2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
                         * (2.0 * CAST(n_above AS DOUBLE)
                            * CAST(n_below AS DOUBLE) - CAST(n AS DOUBLE))
                         / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                            * (CAST(n AS DOUBLE) - 1.0)))
             END, {R}) + 0 AS z
FROM acc
"""


EXT13_QUERIES["runs_test"] = (q_runs_test, SQL_RUNS_TEST)
