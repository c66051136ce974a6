"""Round-6 contract entries: training-run bookkeeping (sequence packing,
largest-remainder token-budget allocation), the train→eval contamination
audit, a Zipf-fit corpus fingerprint, and the Kish effective-sample-size
report for weighted data.

Reference parity note: engine-extension surface (the reference is a fixed
two-pipeline ETL, SURVEY §3); oracles are the contract.

Discipline (README "output-type discipline", round-6): every oracle
integer sum is CAST(... AS BIGINT) — DuckDB widens to HUGEINT, which the
driver's pandas fetch renders float64 vs Spark int64; every ratio output
is either an exact scaled integer (`x * 10000 div total`) or a double
whose inputs are exact integers combined in the SAME expression order on
both engines (order-dependent double sums are quantized to integers
BEFORE aggregation — zipf_fit's regression sums, weighted_ess's Σw/Σw²).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .contract import R, _t

EXT11_QUERIES: dict = {}

# ---------------------------------------------------------------------------
# sequence_packing: concat-and-chunk training-sequence report
# ---------------------------------------------------------------------------

_PACK_BUDGET = 2048


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (source-shard, pack) report of chunking the corpus into
    2048-token training sequences: docs touching each pack, boundary
    straddlers, pack fill. Pure integer window arithmetic — the loader's
    data layout answered from the catalog, no tokenizer in the loop."""
    from gridmet_etl_spark.operators.packing import sequence_packing

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return sequence_packing(docs, _PACK_BUDGET, shard_col="source")


SQL_SEQUENCE_PACKING = f"""
WITH base AS (
  SELECT source AS shard, doc_id AS id, len(string_split(text, ' ')) AS n
  FROM documents WHERE len(string_split(text, ' ')) > 0),
spans AS (
  SELECT shard, id, n,
         COALESCE(sum(n) OVER (PARTITION BY shard ORDER BY id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
  FROM base),
sp AS (
  -- CAST: the window sum s is HUGEINT; generate_series needs BIGINT
  SELECT shard, id, n, CAST(s AS BIGINT) AS s, CAST(s + n AS BIGINT) AS e,
         CAST(s // {_PACK_BUDGET} AS BIGINT) AS p0,
         CAST((s + n - 1) // {_PACK_BUDGET} AS BIGINT) AS p1
  FROM spans),
ex AS (
  SELECT shard, s, e, p0, p1, unnest(generate_series(p0, p1)) AS pack_id
  FROM sp)
SELECT shard, CAST(pack_id AS INT) AS pack_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN p1 > p0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boundary_docs,
       CAST(sum(least(e, (pack_id + 1) * {_PACK_BUDGET})
                - greatest(s, pack_id * {_PACK_BUDGET})) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN p0 = pack_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_started
FROM ex GROUP BY shard, pack_id
"""


EXT11_QUERIES["sequence_packing"] = (q_sequence_packing, SQL_SEQUENCE_PACKING)

# ---------------------------------------------------------------------------
# split_leakage_audit: train→eval contamination over 8-token line digests
# ---------------------------------------------------------------------------

_SL_LINE_W = 8  # same derived-line width as line_dedup / source_overlap


def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How contaminated are val/test against train under the standard
    hash split (deterministic_split 90/5/5): documents sharing ≥1
    8-token line digest with ANY train document, and the digest-level
    overlap — the leakage QA a decontamination pass is graded by."""
    from gridmet_etl_spark.operators.decontam import cross_split_leakage
    from gridmet_etl_spark.operators.sampling import deterministic_split

    docs = deterministic_split(spark.read.parquet(_t(sf_dir, "documents")))
    digests = docs.select(
        "split",
        "doc_id",
        F.split(F.col("text"), " ").alias("_a"),
    ).select(
        "split",
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(_a), {_SL_LINE_W}),"
                f" st -> md5(array_join(slice(_a, st, {_SL_LINE_W}), ' ')))"
            )
        ).alias("d"),
    )
    return cross_split_leakage(digests, train_split="train")


def _sql_split_leakage() -> str:
    from gridmet_etl_spark.operators.sampling import HASH_BUCKETS, sql_hash_bucket

    bucket = sql_hash_bucket("doc_id", "split")
    t_train = int(0.9 * HASH_BUCKETS)
    t_val = int(0.95 * HASH_BUCKETS)
    return f"""
WITH labeled AS (
  SELECT CASE WHEN {bucket} < {t_train} THEN 'train'
              WHEN {bucket} < {t_val} THEN 'val' ELSE 'test' END AS split,
         doc_id, string_split(text, ' ') AS a
  FROM documents),
starts AS (
  SELECT split, doc_id, a,
         unnest(generate_series(1, len(a), {_SL_LINE_W})) AS st
  FROM labeled),
units AS (
  SELECT DISTINCT split, doc_id,
         md5(array_to_string(a[st : st + {_SL_LINE_W - 1}], ' ')) AS d
  FROM starts),
train_d AS (SELECT DISTINCT d FROM units WHERE split = 'train'),
ev AS (SELECT * FROM units WHERE split <> 'train'),
docs_per AS (
  SELECT split, count(DISTINCT doc_id) AS n_docs,
         count(DISTINCT d) AS n_digests
  FROM ev GROUP BY split),
hits AS (SELECT ev.* FROM ev JOIN train_d USING (d)),
hit_per AS (
  SELECT split, count(DISTINCT doc_id) AS n_contaminated_docs,
         count(DISTINCT d) AS n_shared_digests
  FROM hits GROUP BY split)
SELECT d.split, d.n_docs,
       COALESCE(h.n_contaminated_docs, 0) AS n_contaminated_docs,
       COALESCE(h.n_contaminated_docs, 0) * 10000 // d.n_docs
         AS contaminated_docs_e4,
       d.n_digests,
       COALESCE(h.n_shared_digests, 0) AS n_shared_digests,
       COALESCE(h.n_shared_digests, 0) * 10000 // d.n_digests
         AS shared_digests_e4
FROM docs_per d LEFT JOIN hit_per h ON h.split = d.split
"""


EXT11_QUERIES["split_leakage_audit"] = (q_split_leakage_audit, _sql_split_leakage())

# ---------------------------------------------------------------------------
# zipf_fit: log-log OLS over the top-k vocabulary
# ---------------------------------------------------------------------------

_ZIPF_K = 200


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf slope/intercept/R² of the corpus vocabulary (top-200): the
    one-row corpus fingerprint — natural text sits near slope −1,
    templated/synthetic text much flatter. Regression sums run over
    e6-quantized integer points, so the fit is engine-exact."""
    from gridmet_etl_spark.operators.textops import zipf_fit

    return zipf_fit(spark.read.parquet(_t(sf_dir, "documents")), k=_ZIPF_K)


SQL_ZIPF_FIT = f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
tf AS (SELECT token, count(*) AS n FROM toks WHERE token <> '' GROUP BY token),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_types,
         CAST(sum(n) AS BIGINT) AS n_tokens
  FROM tf),
topk AS (
  SELECT n, row_number() OVER (ORDER BY n DESC, token) AS r FROM tf
  QUALIFY r <= {_ZIPF_K}),
pts AS (
  SELECT CAST(round(ln(CAST(r AS DOUBLE)) * 1e6) AS BIGINT) AS x,
         CAST(round(ln(CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS y
  FROM topk),
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
SELECT stats.n_types, stats.n_tokens, CAST(d.kk AS INT) AS k_used,
       ROUND(CASE WHEN dx = 0 THEN 0.0 ELSE dn / dx END, {R}) + 0 AS slope,
       ROUND((CAST(sy AS DOUBLE) / 1e6
              - (CASE WHEN dx = 0 THEN 0.0 ELSE dn / dx END)
                * CAST(sx AS DOUBLE) / 1e6) / kk, {R}) + 0
         AS intercept,
       ROUND(CASE WHEN dx = 0 OR dy = 0 THEN 0.0
             ELSE dn * dn / (dx * dy) END, {R}) + 0 AS r2
FROM d CROSS JOIN stats
"""


EXT11_QUERIES["zipf_fit"] = (q_zipf_fit, SQL_ZIPF_FIT)

# ---------------------------------------------------------------------------
# weighted_ess: Kish effective sample size / design effect per group
# ---------------------------------------------------------------------------


def q_weighted_ess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ESS = (Σw)²/Σw² and deff = n/ESS of order totalprice per priority
    class — how many equal-weight orders the spend-weighted view is worth
    (the variance-inflation readout for any weighted estimate). Weights
    quantize to cents before the sums, so both ratios are engine-exact."""
    from gridmet_etl_spark.operators.stats import effective_sample_size

    o = spark.read.parquet(_t(sf_dir, "orders"))
    return effective_sample_size(
        o.select(F.col("o_orderpriority").alias("grp"), "o_totalprice"),
        ["grp"],
        "o_totalprice",
    )


SQL_WEIGHTED_ESS = f"""
WITH q AS (
  SELECT o_orderpriority AS grp,
         CAST(round(o_totalprice * 100) AS BIGINT) AS wq
  FROM orders),
agg AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(wq) AS BIGINT) AS sum_w_cents,
         -- Σwq² exceeds int64 from sf0.1 up (n·(5×10⁷)²): keep DuckDB's
         -- HUGEINT accumulator and go straight to DOUBLE for the ratio,
         -- mirroring the Spark side's DECIMAL(38,0) internal sum
         CAST(sum(wq * wq) AS DOUBLE) AS sw2d
  FROM q GROUP BY grp)
SELECT grp, n, sum_w_cents,
       ROUND(CAST(sum_w_cents AS DOUBLE) * CAST(sum_w_cents AS DOUBLE)
             / sw2d, {R}) + 0 AS ess,
       ROUND(CAST(n AS DOUBLE)
             / (CAST(sum_w_cents AS DOUBLE) * CAST(sum_w_cents AS DOUBLE)
                / sw2d), {R}) + 0 AS deff
FROM agg
"""


EXT11_QUERIES["weighted_ess"] = (q_weighted_ess, SQL_WEIGHTED_ESS)

# ---------------------------------------------------------------------------
# token_budget_alloc: largest-remainder apportionment of a token budget
# ---------------------------------------------------------------------------

_ALLOC_BUDGET = 1_000_000


def q_token_budget_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apportion a 1M-token sampling budget across sources proportionally
    to their token mass, Hamilton largest-remainder style: Σ alloc equals
    the budget EXACTLY (naive floor under-fills, naive round over-fills)
    and every remainder comparison is exact integer arithmetic."""
    from gridmet_etl_spark.operators.packing import largest_remainder_alloc

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    weights = docs.groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), " "))).cast("long").alias("weight")
    )
    return largest_remainder_alloc(weights, _ALLOC_BUDGET, ["source"], "weight")


SQL_TOKEN_BUDGET_ALLOC = f"""
WITH w AS (
  SELECT source,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS weight
  FROM documents GROUP BY source),
tot AS (SELECT CAST(sum(weight) AS BIGINT) AS tw FROM w),
based AS (
  SELECT source, weight,
         CAST(({_ALLOC_BUDGET} * weight) // tw AS BIGINT) AS base_quota,
         ({_ALLOC_BUDGET} * weight) % tw AS rem
  FROM w, tot),
short AS (SELECT CAST({_ALLOC_BUDGET} - sum(base_quota) AS BIGINT) AS k FROM based),
ranked AS (
  SELECT *, CAST(row_number() OVER (ORDER BY rem DESC, source) AS INT)
            AS remainder_rank
  FROM based)
SELECT source, weight, base_quota, remainder_rank,
       CAST(CASE WHEN remainder_rank <= k THEN 1 ELSE 0 END AS BIGINT) AS extra,
       CAST(base_quota + CASE WHEN remainder_rank <= k THEN 1 ELSE 0 END
            AS BIGINT) AS alloc
FROM ranked, short
"""


EXT11_QUERIES["token_budget_alloc"] = (q_token_budget_alloc, SQL_TOKEN_BUDGET_ALLOC)

# ---------------------------------------------------------------------------
# lsh_band_sweep: measured S-curve precision/recall per (bands, rows) config
# ---------------------------------------------------------------------------

_SWEEP_CONFIGS = (1, 2, 4, 8, 16)
_SWEEP_T = 0.8
_SWEEP_SEEDS = 16


def q_lsh_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH design advisor: candidate-set precision/recall for EVERY
    (bands, rows-per-band) split of the same 16-hash signature matrix
    against the exact >= 0.8-Jaccard truth set on the bounded slice —
    lsh_recall generalized from one configuration to the whole S-curve
    sweep, with the theoretical (1/b)^(1/r) threshold carried per row."""
    from .contract_ext import _docs_par
    from gridmet_etl_spark.operators.dedup import lsh_band_sweep

    docs = _docs_par(spark, sf_dir).where(F.col("doc_id") < 300)
    return lsh_band_sweep(
        docs, configs=_SWEEP_CONFIGS, threshold=_SWEEP_T, n_seeds=_SWEEP_SEEDS
    )


def _sql_lsh_band_sweep() -> str:
    """Every CTE read more than once is MATERIALIZED: DuckDB would
    otherwise re-run the shingle self-join and the signatures for each
    banding config."""
    from .contract_ext import _SHINGLE_SQL

    parts = []
    for r in _SWEEP_CONFIGS:
        nb = -(-_SWEEP_SEEDS // r)
        thr = int(round((1.0 / nb) ** (1.0 / r) * 10_000))
        parts.append(f"""
SELECT CAST({r} AS INT) AS rows_per_band, CAST({nb} AS INT) AS n_bands,
       CAST({thr} AS BIGINT) AS thr_theory_e4,
       t.n_true, c.n_cand, h.n_hit,
       CAST(CASE WHEN c.n_cand > 0 THEN h.n_hit * 10000 // c.n_cand
            ELSE 0 END AS BIGINT) AS precision_e4,
       CAST(CASE WHEN t.n_true > 0 THEN h.n_hit * 10000 // t.n_true
            ELSE 0 END AS BIGINT) AS recall_e4
FROM (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM cands_{r}) c,
     (SELECT CAST(count(*) AS BIGINT) AS n_hit
      FROM (SELECT * FROM cands_{r} SEMI JOIN truth USING (doc_a, doc_b))) h,
     tcount t""")
        # noqa: W291
    bands = ",\n".join(
        f"""bands_{r} AS MATERIALIZED (
  SELECT doc_id, CAST(floor(seed / {r}) AS INT) AS band,
         md5(string_agg(mh, '|' ORDER BY seed)) AS band_key
  FROM sigs GROUP BY doc_id, CAST(floor(seed / {r}) AS INT)),
cands_{r} AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands_{r} a JOIN bands_{r} b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id)"""
        for r in _SWEEP_CONFIGS
    )
    union = "\nUNION ALL\n".join(parts)
    return f"""
WITH shingles AS MATERIALIZED ({_SHINGLE_SQL}),
sizes AS MATERIALIZED (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id),
truth AS MATERIALIZED (
  SELECT i.doc_a, i.doc_b FROM inter i
  JOIN sizes sa ON i.doc_a = sa.doc_id JOIN sizes sb ON i.doc_b = sb.doc_id
  WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter)
        >= {_SWEEP_T}),
tcount AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n_true FROM truth),
sigs AS MATERIALIZED (
  SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || sh)) AS mh
  FROM shingles, generate_series(0, {_SWEEP_SEEDS - 1}) s(seed)
  GROUP BY doc_id, seed),
{bands}
{union}
"""


EXT11_QUERIES["lsh_band_sweep"] = (q_lsh_band_sweep, _sql_lsh_band_sweep())

# ---------------------------------------------------------------------------
# ivf_nprobe_sweep: measured recall@k + scan cost per IVF probe depth
# ---------------------------------------------------------------------------

_IVF_SWEEP_PROBES = (1, 2, 4, 8, 16)
_IVF_SWEEP_CENTS = 16
_IVF_SWEEP_K = 10


def q_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN tuning advisor: recall@10 and rows-scanned for every IVF
    probe depth in ONE pass (truth ∩ probed-cells identity — no per-config
    rerank), centroids = the 16 lowest-id vectors so the oracle derives
    the identical index from the same table. lsh_band_sweep's twin on the
    embedding side."""
    from gridmet_etl_spark.operators.similarity import ivf_centroids, ivf_nprobe_sweep

    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    cents = ivf_centroids(emb, n_centroids=_IVF_SWEEP_CENTS)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_nprobe_sweep(
        emb, queries, cents, k=_IVF_SWEEP_K, probes=_IVF_SWEEP_PROBES,
        rank_round=R,
    )


def _sql_ivf_nprobe_sweep() -> str:
    from .contract_ext import _EMB_DIM

    h_cols = ",\n         ".join(
        f"CAST(sum(CASE WHEN probe_rank <= {p} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS h{p}"
        for p in _IVF_SWEEP_PROBES
    )
    s_cols = ",\n         ".join(
        f"CAST(sum(CASE WHEN probe_rank <= {p} THEN c_size ELSE 0 END)"
        f" AS BIGINT) AS s{p}"
        for p in _IVF_SWEEP_PROBES
    )
    parts = [
        f"""
SELECT CAST({p} AS INT) AS n_probe, nq.n_queries, hits.n_truth AS n_truth_pairs,
       hits.h{p} AS n_hit,
       CAST(CASE WHEN hits.n_truth > 0 THEN hits.h{p} * 10000 // hits.n_truth
            ELSE 0 END AS BIGINT) AS recall_e4,
       scans.s{p} AS n_scanned_rows
FROM hits, scans, nq"""
        for p in _IVF_SWEEP_PROBES
    ]
    union = "\nUNION ALL\n".join(parts)
    return f"""
WITH cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS c_vec
  FROM embeddings ORDER BY vec_id LIMIT {_IVF_SWEEP_CENTS}),
asim AS (
  SELECT e.vec_id, c.cid,
         ROUND(sum(CAST(e.embedding[i] AS DOUBLE) * CAST(c.c_vec[i] AS DOUBLE))
               / (sqrt(sum(CAST(e.embedding[i] AS DOUBLE)
                           * CAST(e.embedding[i] AS DOUBLE)))
                  * sqrt(sum(CAST(c.c_vec[i] AS DOUBLE)
                             * CAST(c.c_vec[i] AS DOUBLE)))), {R}) AS sim
  FROM embeddings e, cents c, generate_series(1, {_EMB_DIM}) g(i)
  GROUP BY e.vec_id, c.cid),
assign AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
    FROM asim) WHERE rn = 1),
sizes AS (SELECT cluster, CAST(count(*) AS BIGINT) AS c_size
          FROM assign GROUP BY cluster),
pr AS (
  SELECT vec_id AS query_id, cid AS cluster,
         row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid)
           AS probe_rank
  FROM asim WHERE vec_id < 5),
q AS (SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings
      WHERE vec_id < 5),
tpairs AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         sum(CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_vec[i] AS DOUBLE)) AS dot,
         sqrt(sum(CAST(e.embedding[i] AS DOUBLE)
                  * CAST(e.embedding[i] AS DOUBLE))) AS n_e,
         sqrt(sum(CAST(q.q_vec[i] AS DOUBLE)
                  * CAST(q.q_vec[i] AS DOUBLE))) AS n_q
  FROM embeddings e, q, generate_series(1, {_EMB_DIM}) g(i)
  WHERE e.vec_id <> q.query_id
  GROUP BY q.query_id, e.vec_id),
truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY ROUND(dot / (n_e * n_q), {R}) DESC,
                                       neighbor_id) AS rank
    FROM tpairs) WHERE rank <= {_IVF_SWEEP_K}),
tr AS (
  SELECT t.query_id, p.probe_rank
  FROM truth t
  JOIN assign a ON a.vec_id = t.neighbor_id
  JOIN pr p ON p.query_id = t.query_id AND p.cluster = a.cluster),
hits AS (
  SELECT CAST(count(*) AS BIGINT) AS n_truth,
         {h_cols}
  FROM tr),
scans AS (
  SELECT {s_cols}
  FROM pr JOIN sizes USING (cluster)),
nq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries FROM q)
{union}
"""


EXT11_QUERIES["ivf_nprobe_sweep"] = (q_ivf_nprobe_sweep, _sql_ivf_nprobe_sweep())

# ---------------------------------------------------------------------------
# cohen_kappa: chance-corrected agreement of the lang-ID heuristic vs gold
# ---------------------------------------------------------------------------


def q_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's κ of the n-gram lang-ID heuristic against the gold ``lang``
    label — accuracy corrected for chance agreement (the fair eval when
    one language dominates the corpus). Confusion-bounded arithmetic over
    one counting agg."""
    from gridmet_etl_spark.operators.stats import cohen_kappa
    from gridmet_etl_spark.operators.textops import lang_id

    docs = spark.read.parquet(_t(sf_dir, "documents")).select(
        "lang", lang_id("text").alias("lang_pred")
    )
    return cohen_kappa(docs, "lang", "lang_pred", ndigits=R)


def _sql_cohen_kappa() -> str:
    from .contract_ext import _sql_lang_id

    return f"""
WITH raters AS (
  SELECT lang AS a, {_sql_lang_id("text")} AS b FROM documents),
conf AS (SELECT a, b, count(*) AS n FROM raters GROUP BY a, b),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS n,
         CAST(sum(CASE WHEN a = b THEN n ELSE 0 END) AS BIGINT) AS n_agree
  FROM conf),
ma AS (SELECT a, CAST(sum(n) AS BIGINT) AS na FROM conf GROUP BY a),
mb AS (SELECT b, CAST(sum(n) AS BIGINT) AS nb FROM conf GROUP BY b),
pe_num AS (
  SELECT CAST(sum(ma.na * mb.nb) AS BIGINT) AS pe_num
  FROM ma JOIN mb ON mb.b = ma.a)
SELECT tot.n, tot.n_agree,
       ROUND(CAST(tot.n_agree AS DOUBLE) / tot.n, {R}) + 0 AS po,
       ROUND(CAST(pe_num.pe_num AS DOUBLE)
             / (CAST(tot.n AS DOUBLE) * CAST(tot.n AS DOUBLE)), {R}) + 0 AS pe,
       ROUND(CASE WHEN CAST(pe_num.pe_num AS DOUBLE)
                       / (CAST(tot.n AS DOUBLE) * CAST(tot.n AS DOUBLE)) = 1.0
                  THEN 1.0
             ELSE (CAST(tot.n_agree AS DOUBLE) / tot.n
                   - CAST(pe_num.pe_num AS DOUBLE)
                     / (CAST(tot.n AS DOUBLE) * CAST(tot.n AS DOUBLE)))
                  / (1 - CAST(pe_num.pe_num AS DOUBLE)
                         / (CAST(tot.n AS DOUBLE) * CAST(tot.n AS DOUBLE)))
             END, {R}) + 0 AS kappa
FROM tot, pe_num
"""


EXT11_QUERIES["cohen_kappa"] = (q_cohen_kappa, _sql_cohen_kappa())

# ---------------------------------------------------------------------------
# cv_folds: group-leakage-safe k-fold assignment report
# ---------------------------------------------------------------------------

_CV_K = 5


def q_cv_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GroupKFold over orders grouped by customer: all of a customer's
    orders share a fold (hash-deterministic — re-runs and new data never
    move a group), with the realized per-fold size and urgent-order
    balance the CV variance estimate depends on."""
    from gridmet_etl_spark.operators.sampling import group_kfold

    o = spark.read.parquet(_t(sf_dir, "orders")).select(
        "o_custkey", (F.col("o_orderpriority") == "1-URGENT").alias("y")
    )
    return group_kfold(o, "o_custkey", k=_CV_K, label_col="y")


def _sql_cv_folds() -> str:
    from gridmet_etl_spark.operators.sampling import sql_hash_bucket

    bucket = sql_hash_bucket("o_custkey", "fold")
    return f"""
WITH base AS (
  SELECT CAST(({bucket}) % {_CV_K} AS INT) AS fold, o_custkey,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
  FROM orders)
SELECT fold, CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_groups,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(y) AS BIGINT) AS n_pos,
       CAST(sum(y) * 10000 // count(*) AS BIGINT) AS pos_e4
FROM base GROUP BY fold
"""


EXT11_QUERIES["cv_folds"] = (q_cv_folds, _sql_cv_folds())

# ---------------------------------------------------------------------------
# novelty_curve: marginal new content per id-ordered corpus increment
# ---------------------------------------------------------------------------

_NV_BUCKETS = 10
_NV_LINE_W = 8


def q_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much of each 10%-increment of the corpus is content never seen
    in earlier increments (distinct 8-token line digests) — the measured
    is-the-next-crawl-worth-it curve."""
    from gridmet_etl_spark.operators.dedup import novelty_curve

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return novelty_curve(docs, n_buckets=_NV_BUCKETS, line_w=_NV_LINE_W)


def _sql_novelty_curve() -> str:
    return f"""
WITH mx AS (SELECT max(doc_id) AS m FROM documents),
based AS (
  SELECT doc_id, CAST((doc_id * {_NV_BUCKETS}) // (mx.m + 1) AS INT) AS bucket,
         string_split(text, ' ') AS a
  FROM documents, mx),
starts AS (
  SELECT doc_id, bucket, a,
         unnest(generate_series(1, len(a), {_NV_LINE_W})) AS st
  FROM based),
units AS (
  SELECT DISTINCT bucket,
         md5(array_to_string(a[st : st + {_NV_LINE_W - 1}], ' ')) AS d
  FROM starts),
first_b AS (SELECT d, min(bucket) AS fb FROM units GROUP BY d),
stats AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_digests
          FROM units GROUP BY bucket),
news AS (SELECT fb AS bucket, CAST(count(*) AS BIGINT) AS n_new_digests
         FROM first_b GROUP BY fb),
docs_per AS (
  SELECT bucket, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM (SELECT doc_id, CAST((doc_id * {_NV_BUCKETS}) // (mx.m + 1) AS INT)
          AS bucket FROM documents, mx)
  GROUP BY bucket)
SELECT d.bucket, d.n_docs, s.n_digests,
       COALESCE(n.n_new_digests, 0) AS n_new_digests,
       CAST(COALESCE(n.n_new_digests, 0) * 10000 // s.n_digests AS BIGINT)
         AS new_e4,
       CAST(sum(COALESCE(n.n_new_digests, 0))
            OVER (ORDER BY d.bucket) AS BIGINT) AS cum_new_digests
FROM docs_per d JOIN stats s ON s.bucket = d.bucket
LEFT JOIN news n ON n.bucket = d.bucket
"""


EXT11_QUERIES["novelty_curve"] = (q_novelty_curve, _sql_novelty_curve())

# ---------------------------------------------------------------------------
# truncation_report: what truncate-at-context-length would cost, per source
# ---------------------------------------------------------------------------

_TR_BUDGET = 256


def q_truncation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source cost of a hard truncate-at-256-tokens loader: documents
    over budget and tokens thrown away — the packing-vs-truncation
    decision numbers (sequence_packing's sibling readout)."""
    from gridmet_etl_spark.operators.packing import truncation_report

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return truncation_report(docs, _TR_BUDGET, shard_col="source")


SQL_TRUNCATION_REPORT = f"""
WITH base AS (
  SELECT source AS shard, len(string_split(text, ' ')) AS n FROM documents),
agg AS (
  SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN n > {_TR_BUDGET} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_over_budget,
         CAST(sum(greatest(n - {_TR_BUDGET}, 0)) AS BIGINT) AS tokens_lost
  FROM base GROUP BY shard)
SELECT shard, n_docs, n_tokens, n_over_budget,
       CAST(n_over_budget * 10000 // n_docs AS BIGINT) AS over_e4,
       tokens_lost,
       CAST(tokens_lost * 10000 // n_tokens AS BIGINT) AS lost_e4
FROM agg
"""


EXT11_QUERIES["truncation_report"] = (q_truncation_report, SQL_TRUNCATION_REPORT)

# ---------------------------------------------------------------------------
# source_jsd: Jensen–Shannon fingerprint distance between source pairs
# ---------------------------------------------------------------------------

_JSD_K = 100


def q_source_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSD between every source pair over the global top-100 vocabulary —
    which crawls speak the same register (the distance companion to the
    zipf_fit shape and the source_overlap content matrix). Per-token
    terms quantize to e12 integers before the sum, so the divergence is
    engine-exact."""
    from gridmet_etl_spark.operators.textops import source_jsd

    return source_jsd(
        spark.read.parquet(_t(sf_dir, "documents")), k=_JSD_K
    )


SQL_SOURCE_JSD = f"""
WITH toks AS (
  SELECT source AS src, unnest(string_split(text, ' ')) AS token
  FROM documents),
per_src AS (
  SELECT src, token, count(*) AS c FROM toks WHERE token <> ''
  GROUP BY src, token),
topk AS (
  SELECT token FROM (
    SELECT token, row_number() OVER (ORDER BY sum(c) DESC, token) AS r
    FROM per_src GROUP BY token) WHERE r <= {_JSD_K}),
kept AS (SELECT p.* FROM per_src p JOIN topk USING (token)),
totals AS (SELECT src, CAST(sum(c) AS BIGINT) AS t FROM kept GROUP BY src),
pair_rel AS (
  SELECT a.src AS sa, b.src AS sb FROM totals a, totals b WHERE a.src < b.src),
frame AS (SELECT sa, sb, token FROM pair_rel, topk),
joined AS (
  SELECT f.sa, f.sb, f.token,
         COALESCE(ka.c, 0) AS ca, ta.t AS ta,
         COALESCE(kb.c, 0) AS cb, tb.t AS tb
  FROM frame f
  LEFT JOIN kept ka ON ka.src = f.sa AND ka.token = f.token
  LEFT JOIN kept kb ON kb.src = f.sb AND kb.token = f.token
  JOIN totals ta ON ta.src = f.sa
  JOIN totals tb ON tb.src = f.sb),
terms AS (
  SELECT sa, sb,
         CASE WHEN ca > 0 AND cb > 0 THEN 1 ELSE 0 END AS shared,
         CAST(round((
           (CASE WHEN ca > 0 THEN (CAST(ca AS DOUBLE) / ta)
             * ln((CAST(ca AS DOUBLE) / ta)
                  / ((CAST(ca AS DOUBLE) / ta + CAST(cb AS DOUBLE) / tb) / 2))
             ELSE 0.0 END
           + CASE WHEN cb > 0 THEN (CAST(cb AS DOUBLE) / tb)
             * ln((CAST(cb AS DOUBLE) / tb)
                  / ((CAST(ca AS DOUBLE) / ta + CAST(cb AS DOUBLE) / tb) / 2))
             ELSE 0.0 END) / 2) * 1e12) AS BIGINT) AS q
  FROM joined)
SELECT sa AS source_a, sb AS source_b,
       CAST(sum(shared) AS BIGINT) AS n_shared_topk,
       ROUND(CAST(CAST(sum(q) AS BIGINT) AS DOUBLE) / 1e12, 6) + 0 AS jsd
FROM terms GROUP BY sa, sb
"""


EXT11_QUERIES["source_jsd"] = (q_source_jsd, SQL_SOURCE_JSD)

# ---------------------------------------------------------------------------
# source_entropy: per-source unigram diversity fingerprint
# ---------------------------------------------------------------------------


def q_source_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (and ln-vocab-normalized form) of each source's
    unigram distribution — the per-source diversity number completing the
    zipf_fit / source_jsd corpus-fingerprint trio. Vocabulary-sized
    shuffles only; e12-quantized terms keep it engine-exact."""
    from gridmet_etl_spark.operators.textops import source_entropy

    return source_entropy(spark.read.parquet(_t(sf_dir, "documents")))


SQL_SOURCE_ENTROPY = f"""
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
counts AS (
  SELECT source, token, count(*) AS c FROM toks WHERE token <> ''
  GROUP BY source, token),
totals AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS t,
         CAST(count(*) AS BIGINT) AS n_types
  FROM counts GROUP BY source),
per AS (
  SELECT c.source,
         CAST(sum(CAST(round(-(CAST(c.c AS DOUBLE) / t.t)
                             * ln(CAST(c.c AS DOUBLE) / t.t) * 1e12)
                       AS BIGINT)) AS BIGINT) AS h_e12
  FROM counts c JOIN totals t ON t.source = c.source
  GROUP BY c.source)
SELECT p.source, t.t AS n_tokens, t.n_types,
       ROUND(CAST(p.h_e12 AS DOUBLE) / 1e12, 6) + 0 AS entropy,
       ROUND(CASE WHEN t.n_types > 1
                  THEN (CAST(p.h_e12 AS DOUBLE) / 1e12)
                       / ln(CAST(t.n_types AS DOUBLE))
             ELSE 0.0 END, 6) + 0 AS norm_entropy
FROM per p JOIN totals t ON t.source = p.source
"""


EXT11_QUERIES["source_entropy"] = (q_source_entropy, SQL_SOURCE_ENTROPY)
