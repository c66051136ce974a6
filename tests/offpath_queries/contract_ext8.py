"""Round-5 contract entries: corpus-scale dedup shapes and mixture design —

- ``minhash_lsh_star``: star-expanded LSH candidates (dedup.py
  ``minhash_lsh_star``) — each doc pairs only with its bucket's min-id
  representative. The all-pairs bucket join is quadratic in bucket size
  and real corpora have hub buckets (the sf0.1 synthetic corpus has a
  1673-doc one); star edges are linear and span the SAME connected
  components, so dedup clustering is unchanged (pytest-proved in
  tests/test_round5.py against the all-pairs form).
- ``line_dedup``: C4/RefinedWeb-style corpus-wide duplicate-line removal
  with document reassembly (dedup.py ``line_dedup``). The synthetic docs
  are single-line, so the query derives deterministic 8-token lines
  row-locally in BOTH engines before deduping.
- ``mixture_weights``: temperature-α source mixture shares (sampling.py
  ``mixture_weights``) — the quota-setting step ahead of mixture_sample.
  α=0.5 runs via sqrt (IEEE correctly rounded ⇒ engine-bit-identical).

Reference parity note: these extend the training-data surface beyond the
reference ETL (SURVEY §2 extension rows); the reference has no dedup or
mixture stage (its corpus is a raster grid), so oracles are the contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .contract import R, _t
from .contract_ext import _SHINGLE_SQL
from gridmet_etl_spark.operators.dedup import N_MINHASH_SEEDS, ROWS_PER_BAND

EXT8_QUERIES: dict = {}


# ---------------------------------------------------------------------------
# minhash_lsh_star: bucket-linear LSH candidates (same components as all-pairs)
# ---------------------------------------------------------------------------


def q_minhash_lsh_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star candidates over the same bounded slice as ``minhash_lsh`` —
    the corpus-scale candidate form (bucket-linear, hub-bucket-proof)."""
    from gridmet_etl_spark.operators.dedup import minhash_lsh_star

    docs = spark.read.parquet(_t(sf_dir, "documents")).filter(F.col("doc_id") < 300)
    return minhash_lsh_star(docs).select("doc_a", "doc_b")


SQL_MINHASH_LSH_STAR = f"""
WITH shingles AS ({_SHINGLE_SQL}),
sigs AS (
  SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || sh)) AS mh
  FROM shingles, generate_series(0, {N_MINHASH_SEEDS - 1}) s(seed)
  GROUP BY doc_id, seed),
bands AS (
  SELECT doc_id, CAST(floor(seed / {ROWS_PER_BAND}) AS INT) AS band,
         md5(string_agg(mh, '|' ORDER BY seed)) AS band_key
  FROM sigs GROUP BY doc_id, CAST(floor(seed / {ROWS_PER_BAND}) AS INT)),
reps AS (
  SELECT band, band_key, min(doc_id) AS doc_a, count(*) AS n
  FROM bands GROUP BY band, band_key)
SELECT DISTINCT r.doc_a, b.doc_id AS doc_b
FROM bands b
JOIN reps r ON r.band = b.band AND r.band_key = b.band_key
WHERE r.n > 1 AND b.doc_id <> r.doc_a
"""


EXT8_QUERIES["minhash_lsh_star"] = (q_minhash_lsh_star, SQL_MINHASH_LSH_STAR)


# ---------------------------------------------------------------------------
# line_dedup: corpus-wide duplicate-line removal + reassembly
# ---------------------------------------------------------------------------

_LINE_W = 8  # tokens per derived line (synthetic docs are single-line)


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide line dedup over deterministic 8-token lines of every
    document: only a duplicated line's first (doc_id, line_no) occurrence
    survives; docs are reassembled from surviving lines. Line derivation
    is row-local slice arithmetic (identical in the oracle)."""
    from gridmet_etl_spark.operators.dedup import line_dedup

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    lines = docs.select(
        "doc_id",
        F.split(F.col("text"), " ").alias("_a"),
    ).select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(_a), {_LINE_W}),"
                f" st -> array_join(slice(_a, st, {_LINE_W}), ' '))"
            )
        ).alias("line_no", "line"),
    )
    return line_dedup(lines)


SQL_LINE_DEDUP = f"""
WITH base AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
starts AS (
  -- len(a)-bounded series via the unnest(list) form (this DuckDB build
  -- rejects lateral table-function bounds; a fixed 4000 cap would
  -- silently diverge on longer documents)
  SELECT doc_id, a, unnest(generate_series(1, len(a), {_LINE_W})) AS st
  FROM base),
lines AS (
  SELECT doc_id, CAST((st - 1) / {_LINE_W} AS INT) AS line_no,
         array_to_string(a[st : st + {_LINE_W - 1}], ' ') AS line
  FROM starts),
keyed AS (SELECT doc_id, line_no, md5(line) AS d FROM lines),
firsts AS (
  SELECT doc_id, line_no,
         row_number() OVER (PARTITION BY d ORDER BY doc_id, line_no) AS rn
  FROM keyed),
kept AS (
  SELECT l.doc_id, l.line_no, l.line
  FROM lines l JOIN firsts f
    ON f.doc_id = l.doc_id AND f.line_no = l.line_no AND f.rn = 1),
agg AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(line, chr(10) ORDER BY line_no) AS text
  FROM kept GROUP BY doc_id),
tot AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id)
SELECT t.doc_id, t.n_lines, coalesce(a.n_kept, 0) AS n_kept,
       coalesce(a.text, '') AS text
FROM tot t LEFT JOIN agg a ON a.doc_id = t.doc_id
"""


EXT8_QUERIES["line_dedup"] = (q_line_dedup, SQL_LINE_DEDUP)


# ---------------------------------------------------------------------------
# mixture_weights: temperature-α source mixture shares
# ---------------------------------------------------------------------------


def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token(char)-weighted per-source mixture shares at α=0.5 — the
    quota-setting companion to mixture_sample."""
    from gridmet_etl_spark.operators.sampling import mixture_weights

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return mixture_weights(docs, source_col="source", size_col="n_chars", ndigits=R)


SQL_MIXTURE_WEIGHTS = f"""
WITH per AS (
  SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS DOUBLE) AS sz
  FROM documents GROUP BY source),
tot AS (SELECT sum(sz) AS ts, sum(sqrt(sz)) AS tt FROM per)
SELECT source, n_docs, CAST(sz AS BIGINT) AS size,
       ROUND(sz / ts, {R}) + 0 AS share_raw,
       ROUND(sqrt(sz) / tt, {R}) + 0 AS share_temp
FROM per CROSS JOIN tot
"""


EXT8_QUERIES["mixture_weights"] = (q_mixture_weights, SQL_MIXTURE_WEIGHTS)


# ---------------------------------------------------------------------------
# jl_project: deterministic Johnson–Lindenstrauss projection (oracle-checkable)
# ---------------------------------------------------------------------------

_JL_M = 8
_JL_D = 64


def q_jl_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64→8-dim ±1/√m sign projection of every embedding — the row-local
    dimensionality-reduction front end for ANN/clustering; the md5-parity
    sign matrix lets the oracle replay the exact projection."""
    from gridmet_etl_spark.operators.linalg import jl_project

    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    return jl_project(emb, out_dim=_JL_M, in_dim=_JL_D)


SQL_JL_PROJECT = f"""
WITH idx AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding) AS x
  FROM embeddings),
proj AS (
  SELECT vec_id, j,
         ROUND(sum(x * CASE WHEN substr(md5('jl:' || (i - 1) || ':' || j), 1, 1) >= '8'
                            THEN 1.0 ELSE -1.0 END) / sqrt({_JL_M}.0), 4) + 0
           AS value
  FROM idx, generate_series(0, {_JL_M - 1}) s(j)
  GROUP BY vec_id, j)
SELECT vec_id, CAST(j AS INT) AS j, value FROM proj
"""


EXT8_QUERIES["jl_project"] = (q_jl_project, SQL_JL_PROJECT)


# ---------------------------------------------------------------------------
# tfidf_terms: per-document top-k characteristic terms
# ---------------------------------------------------------------------------

_TFIDF_K = 5


def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF·IDF terms per document (rounded-score ranking, token
    tie-break) — the keyword-fingerprint twin of bm25_topk."""
    from gridmet_etl_spark.operators.retrieval import tfidf_topk_terms

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return tfidf_topk_terms(docs, k=_TFIDF_K, ndigits=R)


SQL_TFIDF_TERMS = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
tf AS (
  SELECT doc_id, token, count(*) AS tf
  FROM toks WHERE token <> '' GROUP BY doc_id, token),
dfr AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf,
         ROUND(tf.tf * ln(n.n / CAST(dfr.df AS DOUBLE)), {R}) + 0 AS score
  FROM tf JOIN dfr ON dfr.token = tf.token CROSS JOIN n),
rk AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY score DESC, token) AS rnk
  FROM scored)
SELECT doc_id, token, tf, score, CAST(rnk AS INT) AS rnk
FROM rk WHERE rnk <= {_TFIDF_K}
"""


EXT8_QUERIES["tfidf_terms"] = (q_tfidf_terms, SQL_TFIDF_TERMS)


# ---------------------------------------------------------------------------
# cms_join_size: sketch-based join-cardinality estimation (AMS inner product)
# ---------------------------------------------------------------------------


def q_cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimate |orders ⋈ lineitem on orderkey| from two depth×width CMS
    counter tables — each side scanned once, the join never executed.
    Integer-exact and md5-deterministic, so the oracle replays the sketch."""
    from gridmet_etl_spark.operators.sketch import cms_join_size

    o = spark.read.parquet(_t(sf_dir, "orders")).select(
        F.col("o_orderkey").alias("jk")
    )
    li = spark.read.parquet(_t(sf_dir, "lineitem")).select(
        F.col("l_orderkey").alias("jk")
    )
    return cms_join_size(o, li, "jk")


SQL_CMS_JOIN_SIZE = """
WITH lk AS (SELECT CAST(o_orderkey AS VARCHAR) AS t FROM orders),
rk AS (SELECT CAST(l_orderkey AS VARCHAR) AS t FROM lineitem),
la AS (
  SELECT s.r AS row,
         CAST('0x' || substr(md5('r' || s.r || ':' || t), 1, 6) AS BIGINT) % 256
           AS bucket,
         count(*) AS cnt
  FROM lk, generate_series(0, 3) s(r) GROUP BY 1, 2),
rb AS (
  SELECT s.r AS row,
         CAST('0x' || substr(md5('r' || s.r || ':' || t), 1, 6) AS BIGINT) % 256
           AS bucket,
         count(*) AS cnt
  FROM rk, generate_series(0, 3) s(r) GROUP BY 1, 2),
ip AS (
  SELECT la.row, sum(la.cnt * rb.cnt) AS ipv
  FROM la JOIN rb ON la.row = rb.row AND la.bucket = rb.bucket
  GROUP BY la.row)
SELECT CAST(min(ipv) AS BIGINT) AS est_rows FROM ip
"""


EXT8_QUERIES["cms_join_size"] = (q_cms_join_size, SQL_CMS_JOIN_SIZE)


# ---------------------------------------------------------------------------
# bias_als: alternating bias-only ALS (Koren baseline predictor)
# ---------------------------------------------------------------------------

_ALS_REG = 5.0
_ALS_R = 4


def q_bias_als(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-bias table of the baseline predictor trained for 2 alternating
    rounds on (customer, part, quantity) ratings — full-precision
    intermediates (per-round rounding would QUANTIZE values onto the grid
    and make half-way boundaries common), output rounded once."""
    from gridmet_etl_spark.operators.recommend import bias_als

    o = spark.read.parquet(_t(sf_dir, "orders")).select("o_orderkey", "o_custkey")
    li = spark.read.parquet(_t(sf_dir, "lineitem")).select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    ratings = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_custkey").alias("user_id"),
        F.col("l_partkey").alias("item_id"),
        F.col("l_quantity").alias("rating"),
    )
    return bias_als(ratings, "user_id", "item_id", "rating", reg=_ALS_REG)


SQL_BIAS_ALS = f"""
WITH r AS (
  SELECT o_custkey AS u, l_partkey AS i, CAST(l_quantity AS DOUBLE) AS v
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
mu AS (SELECT avg(v) AS mu FROM r),
bu1 AS (
  SELECT u, sum(v - mu) / (count(*) + {_ALS_REG}) AS bu
  FROM r CROSS JOIN mu GROUP BY u),
bi1 AS (
  SELECT i, sum(v - mu - bu) / (count(*) + {_ALS_REG}) AS bi
  FROM r CROSS JOIN mu JOIN bu1 ON bu1.u = r.u GROUP BY i),
bu2 AS (
  SELECT r.u, sum(v - mu - bi) / (count(*) + {_ALS_REG}) AS bu
  FROM r CROSS JOIN mu JOIN bi1 ON bi1.i = r.i GROUP BY r.u),
bi2 AS (
  SELECT r.i, sum(v - mu - bu) / (count(*) + {_ALS_REG}) AS bi,
         count(*) AS n_ratings
  FROM r CROSS JOIN mu JOIN bu2 ON bu2.u = r.u GROUP BY r.i)
SELECT i AS item_id, ROUND(bi, {_ALS_R}) + 0 AS b_i, n_ratings FROM bi2
"""


EXT8_QUERIES["bias_als"] = (q_bias_als, SQL_BIAS_ALS)


# ---------------------------------------------------------------------------
# boilerplate_report: per-source line-duplication observability
# ---------------------------------------------------------------------------


def q_boilerplate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source line-granularity curation report: total lines, lines
    surviving corpus-wide line dedup, boilerplate rate (1 − kept/total,
    rounded), docs fully wiped. The line twin of ``dedup_report`` — run
    BEFORE committing to a line-dedup pass to see what it would remove."""
    from gridmet_etl_spark.operators.dedup import line_dedup

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    lines = docs.select(
        "doc_id",
        F.split(F.col("text"), " ").alias("_a"),
    ).select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(_a), {_LINE_W}),"
                f" st -> array_join(slice(_a, st, {_LINE_W}), ' '))"
            )
        ).alias("line_no", "line"),
    )
    ld = line_dedup(lines)
    per_doc = ld.join(docs.select("doc_id", "source"), "doc_id")
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_lines").alias("n_lines"),
        F.sum("n_kept").alias("n_kept"),
        (
            F.round(
                F.lit(1.0) - F.sum("n_kept") / F.sum("n_lines").cast("double"), R
            )
            + F.lit(0.0)
        ).alias("boilerplate_rate"),
        F.sum((F.col("n_kept") == 0).cast("int")).alias("n_wiped_docs"),
    )


def _sql_boilerplate_report() -> str:
    # reuse the line-dedup chain, then aggregate per source
    body = SQL_LINE_DEDUP.strip()
    assert body.startswith("WITH ")
    inner = body[len("WITH "):]
    # the final SELECT of SQL_LINE_DEDUP becomes a CTE named ld
    head, final = inner.rsplit("SELECT t.doc_id", 1)
    return f"""
WITH {head.rstrip().rstrip(',')},
ld AS (
SELECT t.doc_id{final}
)
SELECT d.source, count(*) AS n_docs,
       -- CAST: DuckDB integer sums widen to HUGEINT — not hash-safe under
       -- the driver's pandas fetch (float64 "88.0" vs Spark int64 "88")
       CAST(sum(ld.n_lines) AS BIGINT) AS n_lines,
       CAST(sum(ld.n_kept) AS BIGINT) AS n_kept,
       ROUND(1.0 - sum(ld.n_kept) / CAST(sum(ld.n_lines) AS DOUBLE), {R}) + 0
         AS boilerplate_rate,
       CAST(sum(CASE WHEN ld.n_kept = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_wiped_docs
FROM ld JOIN documents d ON d.doc_id = ld.doc_id
GROUP BY d.source
"""


EXT8_QUERIES["boilerplate_report"] = (q_boilerplate_report, _sql_boilerplate_report())
