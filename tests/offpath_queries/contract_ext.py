"""Extension-operator contract entries (training-data-pipeline surface):
text analysis, dedup, similarity search — each Spark query paired with a
DuckDB oracle wherever cross-engine determinism is achievable.

Parity techniques (see operator docstrings): md5-based hashing, MIN over hex
strings, hex→int via Spark ``conv`` ≡ DuckDB ``CAST('0x…' AS BIGINT)``,
ordered string_agg ≡ sorted-struct array_join, and rank-on-rounded-cosine so
float-sum order differences can't flip rankings.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gridmet_etl_spark.operators.dedup import (
    N_MINHASH_SEEDS,
    ROWS_PER_BAND,
    exact_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash,
)
from gridmet_etl_spark.operators.similarity import cosine_topk, cosine_topk_lsh, embedding_near_dups
from gridmet_etl_spark.operators.textops import LANG_MARKERS, LANG_ORDER, STOPWORDS, analyze_documents

R = 6


def _docs_par(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents table spread across cores. The sf fixture is ONE parquet
    file (one row group -> one scan task), which serializes every heavy
    per-row stage (shingle/minhash/regexp) onto a single core locally;
    production corpora have many splits and get this parallelism from the
    scan itself. The exchange moves the raw text exactly once."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return docs.repartition(spark.sparkContext.defaultParallelism)


def _t(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# ---------------------------------------------------------------------------
# SQL fragment generators — single source of truth for the heuristics, so the
# oracle can't drift from the Spark implementation.
# ---------------------------------------------------------------------------

NORM = "lower(trim(regexp_replace({c}, '\\s+', ' ', 'g')))"  # duckdb global flag


def _sql_token_hits(text_expr: str, words: list[str]) -> str:
    """DuckDB twin of textops._token_hits: count of whitespace tokens equal
    to any of ``words`` (multiplicity-preserving list_filter)."""
    in_list = ", ".join("'" + w.replace("'", "''") + "'" for w in sorted(set(words)))
    return (
        f"CAST(len(list_filter(string_split({text_expr}, ' '),"
        f" t -> t IN ({in_list}))) AS DOUBLE)"
    )


def _sql_lang_scores(text_expr: str) -> dict[str, str]:
    return {
        lang: _sql_token_hits(text_expr, markers) for lang, markers in LANG_MARKERS.items()
    }


def _sql_lang_id(text_expr: str) -> str:
    scores = _sql_lang_scores(text_expr)
    all_scores = ", ".join(scores[lang] for lang in LANG_ORDER)
    branches = "\n".join(
        f"WHEN {scores[lang]} >= greatest({all_scores}) THEN '{lang}'" for lang in LANG_ORDER
    )
    return f"CASE WHEN greatest({all_scores}) <= 0 THEN 'und' {branches} ELSE 'und' END"


def _sql_stop_ratio(text_expr: str) -> str:
    hits = _sql_token_hits(text_expr, STOPWORDS)
    return f"({hits}) / greatest(CAST(len(string_split({text_expr}, ' ')) AS DOUBLE), 1.0)"


def _sql_punct_ratio(text_expr: str) -> str:
    return (
        f"length(regexp_replace({text_expr}, '[^\\.,;:!\\?]', '', 'g'))"
        f" / greatest(length({text_expr}), 1)"
    )


def _sql_mean_word_len(text_expr: str) -> str:
    return (
        f"length(replace({text_expr}, ' ', ''))"
        f" / CAST(greatest(len(string_split({text_expr}, ' ')), 1) AS DOUBLE)"
    )


def _sql_quality(text_expr: str) -> str:
    n = f"CAST(len(string_split({text_expr}, ' ')) AS DOUBLE)"
    wl = _sql_mean_word_len(text_expr)
    return (
        f"0.3 * least({n} / 100.0, 1.0)"
        f" + 0.3 * (1.0 - least(abs(({wl}) - 4.7) / 4.7, 1.0))"
        f" + 0.2 * least(({_sql_stop_ratio(text_expr)}) * 5.0, 1.0)"
        f" + 0.2 * (1.0 - least(({_sql_punct_ratio(text_expr)}) * 10.0, 1.0))"
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


def q_text_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = analyze_documents(_docs_par(spark, sf_dir))
    return out.select(
        "doc_id",
        "n_tokens",
        "n_tokens_bpe",
        "lang_pred",
        F.round("quality", R).alias("quality"),
        F.round("stop_ratio", R).alias("stop_ratio"),
        F.round("mean_word_len", R).alias("mean_word_len"),
        "fingerprint",
    )


SQL_TEXT_ANALYSIS = f"""
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_tokens_bpe,
       {_sql_lang_id("text")} AS lang_pred,
       ROUND({_sql_quality("text")}, {R}) AS quality,
       ROUND({_sql_stop_ratio("text")}, {R}) AS stop_ratio,
       ROUND({_sql_mean_word_len("text")}, {R}) AS mean_word_len,
       md5({NORM.format(c="text")}) AS fingerprint
FROM documents
"""


# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return exact_dedup(docs).select("doc_id", "fingerprint", "n_dupes")


SQL_EXACT_DEDUP = f"""
WITH fp AS (
  SELECT doc_id, md5({NORM.format(c="text")}) AS fingerprint FROM documents),
ranked AS (
  SELECT doc_id, fingerprint,
         row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn,
         count(*) OVER (PARTITION BY fingerprint) AS n_dupes
  FROM fp)
SELECT doc_id, fingerprint, n_dupes FROM ranked WHERE rn = 1
"""

_SHINGLE_SQL = f"""
  SELECT DISTINCT doc_id, substr(t, i, 3) AS sh
  FROM (SELECT doc_id, {NORM.format(c="text")} AS t FROM documents WHERE doc_id < 300),
       generate_series(1, 2000) g(i)
  WHERE i <= greatest(length(t) - 2, 1)
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs ≥ 0.8 over a bounded corpus slice."""
    docs = spark.read.parquet(_t(sf_dir, "documents")).filter(F.col("doc_id") < 300)
    out = ngram_jaccard_pairs(docs, threshold=0.8)
    return out.select("doc_a", "doc_b", F.round("jaccard", R).alias("jaccard"))


SQL_NGRAM_JACCARD = f"""
WITH shingles AS ({_SHINGLE_SQL}),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT i.doc_a, i.doc_b,
       ROUND(CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter), {R}) AS jaccard
FROM inter i
JOIN sizes sa ON i.doc_a = sa.doc_id
JOIN sizes sb ON i.doc_b = sb.doc_id
WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter) >= 0.8
"""


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs over a bounded corpus slice (the full
    shingle→minhash→band→bucket-join pipeline, oracle-checked)."""
    docs = _docs_par(spark, sf_dir).filter(F.col("doc_id") < 300)
    return minhash_lsh_candidates(docs).select("doc_a", "doc_b")


SQL_MINHASH_LSH = f"""
WITH shingles AS ({_SHINGLE_SQL}),
sigs AS (
  SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || sh)) AS mh
  FROM shingles, generate_series(0, {N_MINHASH_SEEDS - 1}) s(seed)
  GROUP BY doc_id, seed),
bands AS (
  SELECT doc_id, CAST(floor(seed / {ROWS_PER_BAND}) AS INT) AS band,
         md5(string_agg(mh, '|' ORDER BY seed)) AS band_key
  FROM sigs GROUP BY doc_id, CAST(floor(seed / {ROWS_PER_BAND}) AS INT))
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_par(spark, sf_dir).filter(F.col("doc_id") < 500)
    return simhash(docs).select("doc_id", "simhash")


SQL_SIMHASH = """
WITH toks AS (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS tok
        FROM documents WHERE doc_id < 500)
  WHERE tok <> ''),
bits AS (
  SELECT doc_id, bit,
         sum(CASE WHEN substr(md5(CAST(bit AS VARCHAR) || ':' || tok), 1, 1) >= '8'
                  THEN 1 ELSE -1 END) AS s
  FROM toks, generate_series(0, 15) b(bit)
  GROUP BY doc_id, bit)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2.0, bit) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
"""


def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-ball near-dup pairs (≤ 3 bits) via the pigeonhole
    block join — exact within the bound (any pair within distance d shares
    one of d+1 signature blocks). The oracle states the plain all-pairs
    semantics; the Spark plan never enumerates all pairs."""
    from gridmet_etl_spark.operators.dedup import simhash_near_dups

    docs = spark.read.parquet(_t(sf_dir, "documents")).filter(F.col("doc_id") < 500)
    return simhash_near_dups(docs, max_hamming=3).select(
        "doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming")
    )


SQL_SIMHASH_NEAR_DUPS = (
    SQL_SIMHASH.replace(
        "SELECT doc_id,\n       CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2.0, bit) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash\nFROM bits GROUP BY doc_id",
        """sims AS (
  SELECT doc_id,
         sum(CASE WHEN s > 0 THEN CAST(pow(2.0, bit) AS BIGINT) ELSE 0 END) AS simhash
  FROM bits GROUP BY doc_id)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sims a JOIN sims b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""",
    ).replace(
        "  FROM toks, generate_series(0, 15) b(bit)\n  GROUP BY doc_id, bit)",
        "  FROM toks, generate_series(0, 15) b(bit)\n  GROUP BY doc_id, bit),",
    )
)


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_EMB_DIM = 64  # driver's embeddings table dimension (all sfs)


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk(emb, queries, k=10, rank_round=R)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine_sim", R).alias("cosine_sim"), "rank"
    )


SQL_COSINE_TOPK = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE vec_id < 5),
pairs AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         sum(CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_vec[i] AS DOUBLE)) AS dot,
         sqrt(sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) AS n_e,
         sqrt(sum(CAST(q.q_vec[i] AS DOUBLE) * CAST(q.q_vec[i] AS DOUBLE))) AS n_q
  FROM embeddings e, q, generate_series(1, {_EMB_DIM}) g(i)
  WHERE e.vec_id <> q.query_id
  GROUP BY q.query_id, e.vec_id),
ranked AS (
  SELECT query_id, neighbor_id, dot / (n_e * n_q) AS cosine_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY ROUND(dot / (n_e * n_q), {R}) DESC, neighbor_id) AS rank
  FROM pairs)
SELECT query_id, neighbor_id, ROUND(cosine_sim, {R}) AS cosine_sim, rank
FROM ranked WHERE rank <= 10
"""


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dups on corpus ∪ planted duplicates (ids +100000),
    LSH-bucketed; the oracle replicates bucketing + planting exactly."""
    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    planted = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.unionByName(planted)
    out = embedding_near_dups(corpus, threshold=0.99, dim=_EMB_DIM)
    return out.select("id_a", "id_b", F.round("cosine_sim", R).alias("cosine_sim"))


_SRP_BANDS = 6  # mirrors similarity.N_SRP_BANDS
_SRP_BAND_BITS = 16  # mirrors similarity.SRP_BAND_BITS


def _sql_srp_bucket(vec: str, n_planes: int = 8, plane_offset: int = 0) -> str:
    bits = []
    for p in range(n_planes):
        comp = (
            f"(CAST(CAST('0x' || substr(md5('{plane_offset + p}:' || CAST(g.i - 1 AS VARCHAR)), 1, 6) AS BIGINT)"
            f" AS DOUBLE) / 16777216.0 - 0.5)"
        )
        bits.append(
            f"CASE WHEN sum(CAST({vec}[i] AS DOUBLE) * {comp}) > 0 THEN {1 << p} ELSE 0 END"
        )
    return " + ".join(bits)


def _sql_embedding_near_dups() -> str:
    bucket_cols = ",\n         ".join(
        f"{_sql_srp_bucket('c.embedding', _SRP_BAND_BITS, b * _SRP_BAND_BITS)} AS bucket_{b}"
        for b in range(_SRP_BANDS)
    )
    band_union = "\n  UNION ALL\n  ".join(
        f"SELECT vec_id, {b} AS band, bucket_{b} AS bucket FROM bucketed"
        for b in range(_SRP_BANDS)
    )
    return f"""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id < 20),
bucketed AS (
  SELECT c.vec_id, any_value(c.embedding) AS embedding,
         {bucket_cols}
  FROM corpus c, generate_series(1, {_EMB_DIM}) g(i)
  GROUP BY c.vec_id),
bands AS (
  {band_union}),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
pairs AS (
  SELECT cand.id_a, cand.id_b,
         sum(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)) AS dot,
         sqrt(sum(CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))) AS n_a,
         sqrt(sum(CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) AS n_b
  FROM cand JOIN bucketed a ON cand.id_a = a.vec_id
            JOIN bucketed b ON cand.id_b = b.vec_id,
       generate_series(1, {_EMB_DIM}) g(i)
  GROUP BY cand.id_a, cand.id_b)
SELECT id_a, id_b, ROUND(dot / (n_a * n_b), {R}) AS cosine_sim
FROM pairs WHERE dot / (n_a * n_b) >= 0.99
"""


SQL_EMBEDDING_NEAR_DUPS = _sql_embedding_near_dups()


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic dedup on corpus ∪ planted duplicates:
    near-dup pairs → connected components → min-id canonical per cluster.
    Iterative min-label propagation on the Spark side; the oracle computes
    the same fixpoint as a DuckDB recursive CTE."""
    from gridmet_etl_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    planted = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.unionByName(planted)
    return semantic_dedup(corpus, threshold=0.99, dim=_EMB_DIM)


def _sql_semantic_dedup() -> str:
    bucket_cols = ",\n         ".join(
        f"{_sql_srp_bucket('c.embedding', _SRP_BAND_BITS, b * _SRP_BAND_BITS)} AS bucket_{b}"
        for b in range(_SRP_BANDS)
    )
    band_union = "\n  UNION ALL\n  ".join(
        f"SELECT vec_id, {b} AS band, bucket_{b} AS bucket FROM bucketed"
        for b in range(_SRP_BANDS)
    )
    # corpus, bucketed, bands, pairs and edges are each read more than
    # once, so they are MATERIALIZED rather than inlined at every reference
    return f"""
WITH RECURSIVE corpus AS MATERIALIZED (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id < 20),
bucketed AS MATERIALIZED (
  SELECT c.vec_id, any_value(c.embedding) AS embedding,
         {bucket_cols}
  FROM corpus c, generate_series(1, {_EMB_DIM}) g(i)
  GROUP BY c.vec_id),
bands AS MATERIALIZED (
  {band_union}),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
sims AS (
  SELECT cand.id_a, cand.id_b,
         sum(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)) AS dot,
         sqrt(sum(CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))) AS n_a,
         sqrt(sum(CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) AS n_b
  FROM cand JOIN bucketed a ON cand.id_a = a.vec_id
            JOIN bucketed b ON cand.id_b = b.vec_id,
       generate_series(1, {_EMB_DIM}) g(i)
  GROUP BY cand.id_a, cand.id_b),
pairs AS MATERIALIZED (
  SELECT id_a, id_b FROM sims WHERE dot / (n_a * n_b) >= 0.99),
edges AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
reach AS (
  SELECT src AS node, src AS lbl FROM edges
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
comp AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node)
SELECT cp.vec_id,
       COALESCE(c.cluster_id, cp.vec_id) AS cluster_id,
       COALESCE(c.cluster_id, cp.vec_id) = cp.vec_id AS is_canonical
FROM corpus cp LEFT JOIN comp c ON c.node = cp.vec_id
"""


SQL_SEMANTIC_DEDUP = _sql_semantic_dedup()


def q_cosine_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH ANN probed over the FULL Hamming cube (n_probes = n_planes+1):
    every bucket is reached exactly once, so the bucketed path must
    reproduce the exact brute-force top-k — the oracle checks the whole
    index machinery (bucketing, mask probing, bucket equi-join, rank).
    Partial-probe recall (the production trade-off) is pinned separately
    in test_similarity."""
    from gridmet_etl_spark.operators.similarity import N_LSH_PLANES

    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk_lsh(
        emb, queries, k=10, n_probes=N_LSH_PLANES + 1, rank_round=R
    )
    return out.select(
        "query_id", "neighbor_id", F.round("cosine_sim", R).alias("cosine_sim"), "rank"
    )


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (rolling k-gram hash + sliding-window min) on
    a bounded corpus slice — oracle-checked window-frame semantics."""
    from gridmet_etl_spark.operators.textops import winnow_fingerprints

    docs = spark.read.parquet(_t(sf_dir, "documents")).filter(F.col("doc_id") < 100)
    return winnow_fingerprints(docs, k=5, window=4).select("doc_id", "fp")


SQL_WINNOW_FINGERPRINTS = f"""
WITH grams AS (
  SELECT doc_id, i AS pos, md5(substr(t, i, 5)) AS h
  FROM (SELECT doc_id, {NORM.format(c="text")} AS t FROM documents WHERE doc_id < 100),
       generate_series(1, 2000) g(i)
  WHERE i <= greatest(length(t) - 4, 1))
SELECT DISTINCT doc_id,
       min(h) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
FROM grams
"""


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN through the REAL index path: lowest-id seeds → 3 rounds of
    Lloyd refinement (kmeans_refine) → cluster-join probe. Probes ALL 8
    clusters, which makes the result EXACTLY the brute-force top-k (cluster
    assignment partitions the corpus), so the exact-cosine oracle checks the
    whole index path end-to-end: assignment, probe ordering, cluster join,
    rank. The recall of partial probing (n_probe=4) is pinned separately in
    test_similarity against exact top-k."""
    from gridmet_etl_spark.operators.similarity import ivf_centroids, ivf_topk, kmeans_refine

    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    cents = kmeans_refine(emb, ivf_centroids(emb, n_centroids=8), n_iter=3)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_topk(emb, queries, cents, k=10, n_probe=8, rank_round=R)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine_sim", R).alias("cosine_sim"), "rank"
    )


def q_cosine_topk_np(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized exact brute-force top-k (numpy matmul per batch,
    per-batch candidate top-k, window merge) — same oracle as cosine_topk,
    ~3× its throughput at 400k vectors."""
    from gridmet_etl_spark.operators.similarity import cosine_topk_np

    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk_np(emb, queries, k=10, rank_round=R)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine_sim", R).alias("cosine_sim"), "rank"
    )


# ---------------------------------------------------------------------------
# Sampling / splitting / shard packing / dedup clustering
# ---------------------------------------------------------------------------

_SPLIT_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}


def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-bucket train/val/test split over the corpus."""
    from gridmet_etl_spark.operators.sampling import deterministic_split

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return deterministic_split(docs, _SPLIT_WEIGHTS).select("doc_id", "split")


def _sql_split_assign() -> str:
    from gridmet_etl_spark.operators.sampling import HASH_BUCKETS, sql_hash_bucket

    bucket = sql_hash_bucket("doc_id", "split")
    t_train = int(_SPLIT_WEIGHTS["train"] * HASH_BUCKETS)
    t_val = int((_SPLIT_WEIGHTS["train"] + _SPLIT_WEIGHTS["val"]) * HASH_BUCKETS)
    return f"""
SELECT doc_id,
       CASE WHEN {bucket} < {t_train} THEN 'train'
            WHEN {bucket} < {t_val} THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: 3 docs per (lang, source) stratum,
    ranked by hash-of-id."""
    from gridmet_etl_spark.operators.sampling import stratified_sample

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return stratified_sample(docs, ["lang", "source"], 3).select("doc_id", "lang", "source")


def _sql_stratified_sample() -> str:
    from gridmet_etl_spark.operators.sampling import sql_hash_bucket

    bucket = sql_hash_bucket("doc_id", "strat")
    return f"""
SELECT doc_id, lang, source FROM (
  SELECT doc_id, lang, source,
         row_number() OVER (PARTITION BY lang, source ORDER BY {bucket}, doc_id) AS rk
  FROM documents) WHERE rk <= 3
"""


_MIX = {"src0": 10, "src1": 5, "src2": 2}  # sources absent from the dict drop


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix sampling: fixed per-source quotas (10/5/2 docs from
    src0/src1/src2, everything else dropped), hash-ranked deterministic."""
    from gridmet_etl_spark.operators.sampling import mixture_sample

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return mixture_sample(docs, "source", _MIX).select("doc_id", "source")


def _sql_mixture_sample() -> str:
    from gridmet_etl_spark.operators.sampling import sql_hash_bucket

    bucket = sql_hash_bucket("doc_id", "mix")
    quota = "CASE source " + " ".join(
        f"WHEN '{s}' THEN {n}" for s, n in _MIX.items()
    ) + " END"
    return f"""
SELECT doc_id, source FROM (
  SELECT doc_id, source, {quota} AS q,
         row_number() OVER (PARTITION BY source ORDER BY {bucket}, doc_id) AS rk
  FROM documents) WHERE q IS NOT NULL AND rk <= q
"""


def q_shard_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing (2000 tokens/shard) in doc_id order, via
    the two-level prefix sum (group_width=100 exercises the multi-group
    offset path even at sf0.01)."""
    from gridmet_etl_spark.operators.sampling import pack_shards
    from gridmet_etl_spark.operators.textops import token_count

    docs = spark.read.parquet(_t(sf_dir, "documents")).select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    return pack_shards(docs, budget=2000, group_width=100)


SQL_SHARD_PACK = """
SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
       CAST(floor(COALESCE(SUM(len(string_split(text, ' ')))
                    OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) / 2000.0) AS BIGINT) AS shard
FROM documents
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster assignment: exact 3-gram Jaccard ≥ 0.8 pairs →
    connected components (iterative min-label propagation) → every doc gets
    its component-min cluster_id, singletons themselves. In production the
    pair stage is LSH-candidates→verify; here the exact pair set keeps the
    oracle deterministic."""
    from gridmet_etl_spark.operators.cluster import dedup_clusters

    docs = spark.read.parquet(_t(sf_dir, "documents")).filter(F.col("doc_id") < 300)
    pairs = ngram_jaccard_pairs(docs, threshold=0.8).select("doc_a", "doc_b")
    return dedup_clusters(pairs, docs)


# shingles, sizes, pairs and edges are each read more than once, so they
# are MATERIALIZED rather than inlined at every reference
SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE shingles AS MATERIALIZED ({_SHINGLE_SQL}),
sizes AS MATERIALIZED (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id),
pairs AS MATERIALIZED (
  SELECT i.doc_a, i.doc_b FROM inter i
  JOIN sizes sa ON i.doc_a = sa.doc_id
  JOIN sizes sb ON i.doc_b = sb.doc_id
  WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter) >= 0.8),
edges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs),
reach AS (
  SELECT src AS node, src AS lbl FROM edges
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
comp AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node)
SELECT d.doc_id,
       COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
       COALESCE(c.cluster_id, d.doc_id) = d.doc_id AS is_canonical
FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
WHERE d.doc_id < 300
"""


# ---------------------------------------------------------------------------
# Text cleaning, vocabulary, decontamination
# ---------------------------------------------------------------------------


def q_clean_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus cleaning pass over text augmented with synthetic URLs, emails,
    and a control char (so the scrub rules are actually exercised):
    control-strip → URL/email sentinels → whitespace collapse."""
    from gridmet_etl_spark.operators.textops import clean_text

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    aug = F.concat(
        F.col("text"),
        F.lit(" see https://ex.com/p?q="),
        F.col("doc_id").cast("string"),
        F.lit(" or u"),
        F.col("doc_id").cast("string"),
        F.lit("@ex.com  "),
        F.expr("char(7)"),
        F.lit(" end"),
    )
    return docs.select("doc_id", clean_text(aug).alias("clean"))


SQL_CLEAN_TEXT = r"""
SELECT doc_id,
       trim(regexp_replace(
         regexp_replace(
           regexp_replace(
             regexp_replace(
               text || ' see https://ex.com/p?q=' || CAST(doc_id AS VARCHAR)
                    || ' or u' || CAST(doc_id AS VARCHAR) || '@ex.com  '
                    || chr(7) || ' end',
               '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
             'https?://[^\s]+', '<URL>', 'g'),
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         '\s+', ' ', 'g')) AS clean
FROM documents
"""


def q_pii_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII surface scan over text augmented with synthetic identifiers (so
    the detectors actually fire): per-doc counts of emails, phone-shaped
    numbers, and SSN-shaped numbers — pure regexp_count, scan-speed."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    aug = F.concat(
        F.col("text"),
        F.lit(" contact u"),
        F.col("doc_id").cast("string"),
        F.lit("@ex.com or 555-01"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        F.lit("-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(" ssn 123-45-6789")).otherwise(F.lit("")),
    )
    email = F.regexp_count(aug, F.lit(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"))
    phone = F.regexp_count(aug, F.lit(r"\b\d{3}-\d{4}-\d{4}\b|\b\d{3}-\d{2}-\d{2}-\d{4}\b"))
    ssn = F.regexp_count(aug, F.lit(r"\b\d{3}-\d{2}-\d{4}\b"))
    return docs.select(
        "doc_id",
        email.alias("n_email"),
        phone.alias("n_phone"),
        ssn.alias("n_ssn"),
        ((email + phone + ssn) > 0).alias("has_pii"),
    )


SQL_PII_FLAGS = r"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact u' || CAST(doc_id AS VARCHAR) || '@ex.com or 555-01'
              || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || CASE WHEN doc_id % 3 = 0 THEN ' ssn 123-45-6789' ELSE '' END AS t
  FROM documents),
counts AS (
  SELECT doc_id,
         len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
         len(regexp_extract_all(t, '\b\d{3}-\d{4}-\d{4}\b|\b\d{3}-\d{2}-\d{2}-\d{4}\b')) AS n_phone,
         len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b')) AS n_ssn
  FROM aug)
SELECT doc_id, CAST(n_email AS INT) AS n_email, CAST(n_phone AS INT) AS n_phone,
       CAST(n_ssn AS INT) AS n_ssn, (n_email + n_phone + n_ssn) > 0 AS has_pii
FROM counts
"""


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-100 tokens by frequency (count desc, token
    asc) — partial-agg'd token counts + TakeOrderedAndProject."""
    from gridmet_etl_spark.operators.textops import vocab_topk

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return vocab_topk(docs, 100)


SQL_VOCAB_TOPK = """
SELECT token, count(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
WHERE token <> ''
GROUP BY token ORDER BY n DESC, token LIMIT 100
"""


def q_decontam_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact benchmark decontamination: train = doc_id < 400, synthetic
    'benchmark' = doc_id >= 400; flag via broadcast fingerprint semi join."""
    from gridmet_etl_spark.operators.decontam import decontaminate_exact

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    train = docs.filter(F.col("doc_id") < 400)
    ev = docs.filter(F.col("doc_id") >= 400)
    return decontaminate_exact(train, ev)


SQL_DECONTAM_EXACT = f"""
WITH ev AS (SELECT DISTINCT md5({NORM.format(c="text")}) AS fp
            FROM documents WHERE doc_id >= 400),
tr AS (SELECT doc_id, md5({NORM.format(c="text")}) AS fp
       FROM documents WHERE doc_id < 400)
SELECT tr.doc_id, (ev.fp IS NOT NULL) AS contaminated
FROM tr LEFT JOIN ev ON tr.fp = ev.fp
"""


def q_decontam_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy decontamination via shared winnowing fingerprints (k=5,
    window=4, flag at ≥ 3 shared): catches verbatim substrings ≥ 8 chars
    from the benchmark set inside training docs."""
    from gridmet_etl_spark.operators.decontam import decontaminate_fuzzy

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    train = docs.filter(F.col("doc_id") < 100)
    ev = docs.filter(F.col("doc_id") >= 400)
    return decontaminate_fuzzy(train, ev, min_shared=3)


def _sql_winnow_fps(pred: str) -> str:
    return f"""
  SELECT DISTINCT doc_id,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
  FROM (SELECT doc_id, i AS pos, md5(substr(t, i, 5)) AS h
        FROM (SELECT doc_id, {NORM.format(c="text")} AS t FROM documents WHERE {pred}),
             generate_series(1, 2000) g(i)
        WHERE i <= greatest(length(t) - 4, 1))
"""


SQL_DECONTAM_FUZZY = f"""
WITH evfp AS (SELECT DISTINCT fp FROM ({_sql_winnow_fps("doc_id >= 400")})),
trfp AS ({_sql_winnow_fps("doc_id < 100")}),
shared AS (
  SELECT doc_id, count(*) AS n_shared_fps
  FROM trfp WHERE fp IN (SELECT fp FROM evfp)
  GROUP BY doc_id)
SELECT d.doc_id, COALESCE(s.n_shared_fps, 0) AS n_shared_fps,
       COALESCE(s.n_shared_fps, 0) >= 3 AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id < 100) d
LEFT JOIN shared s ON d.doc_id = s.doc_id
"""


def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd-refined IVF assignment (3 rounds of spherical k-means over the
    lowest-id seeds, then nearest-centroid labels). The refinement is
    deterministic (lowest-id seeds, lowest-cid tie-breaks, empty clusters
    keep their centroid), so the oracle unrolls the same 3 Lloyd iterations
    as chained CTEs; the output is integer labels, robust to float-sum
    order. The numpy golden in test_similarity additionally pins values."""
    from gridmet_etl_spark.operators.similarity import ivf_assign, ivf_centroids, kmeans_refine

    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    cents = kmeans_refine(emb, ivf_centroids(emb, n_centroids=8), n_iter=3)
    return ivf_assign(emb, cents).select("vec_id", "cluster")


def _sql_kmeans_assign(n_centroids: int = 8, n_iter: int = 3, dim: int = _EMB_DIM) -> str:
    """Unrolled Lloyd refinement as chained CTEs (deterministic — mirrors
    kmeans_refine exactly: cosine argmax assignment with lowest-cid ties,
    per-dim mean recompute, empty clusters keep their previous centroid)."""

    def _assign(src: str, cents: str, out: str) -> str:
        return f"""
s_{out} AS (
  SELECT e.vec_id, c.cid,
         sum(CAST(e.embedding[i] AS DOUBLE) * c.c[i]) AS dot,
         sqrt(sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) AS nv,
         sqrt(sum(c.c[i] * c.c[i])) AS nc
  FROM {src} e, {cents} c, generate_series(1, {dim}) g(i)
  GROUP BY e.vec_id, c.cid),
{out} AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dot / (nv * nc) DESC, cid) AS rn
    FROM s_{out}) WHERE rn = 1)"""

    parts = [
        f"""e AS (SELECT vec_id, embedding FROM embeddings),
c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
  FROM (SELECT vec_id, embedding FROM e ORDER BY vec_id LIMIT {n_centroids}))"""
    ]
    for it in range(n_iter):
        parts.append(_assign("e", f"c{it}", f"a{it}"))
        parts.append(f"""
m{it} AS (
  SELECT a.cid, i, avg(CAST(e.embedding[i] AS DOUBLE)) AS m
  FROM a{it} a JOIN e USING (vec_id), generate_series(1, {dim}) g(i)
  GROUP BY a.cid, i),
c{it + 1} AS (
  SELECT p.cid, coalesce(n.c, p.c) AS c
  FROM c{it} p LEFT JOIN
       (SELECT cid, list(m ORDER BY i) AS c FROM m{it} GROUP BY cid) n
       USING (cid))""")
    parts.append(_assign("e", f"c{n_iter}", "final_assign"))
    return (
        "WITH " + ",".join(parts)
        + "\nSELECT vec_id, cid AS cluster FROM final_assign"
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters per doc: top-word / top-bigram /
    duplicate-5-gram fractions — all row-local array arithmetic (zero
    shuffle; the oracle's explode→group form is the clarity twin)."""
    from gridmet_etl_spark.operators.textops import repetition_stats

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    out = repetition_stats(docs)
    return out.select(
        "doc_id",
        "n_bigrams",
        F.round("top_word_frac", R).alias("top_word_frac"),
        F.round("top_bigram_frac", R).alias("top_bigram_frac"),
        F.round("dup_5gram_frac", R).alias("dup_5gram_frac"),
    )


SQL_REPETITION_STATS = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
g1 AS (SELECT doc_id, unnest(t) AS gram FROM toks),
c1 AS (SELECT doc_id, gram, count(*) AS c FROM g1 GROUP BY doc_id, gram),
s1 AS (SELECT doc_id, max(c) AS top, CAST(sum(c) AS BIGINT) AS n FROM c1 GROUP BY doc_id),
g2 AS (SELECT doc_id,
              unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                     i -> array_to_string(list_slice(t, i, i + 1), ' '))) AS gram
       FROM toks),
c2 AS (SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY doc_id, gram),
s2 AS (SELECT doc_id, max(c) AS top, CAST(sum(c) AS BIGINT) AS n FROM c2 GROUP BY doc_id),
g5 AS (SELECT doc_id,
              unnest(list_transform(range(1, greatest(len(t) - 4, 0) + 1),
                     i -> array_to_string(list_slice(t, i, i + 4), ' '))) AS gram
       FROM toks),
s5 AS (SELECT doc_id, count(*) AS n, count(DISTINCT gram) AS d FROM g5 GROUP BY doc_id)
SELECT tk.doc_id,
       COALESCE(s2.n, 0) AS n_bigrams,
       ROUND(COALESCE(s1.top * 1.0 / s1.n, 0.0), 6) AS top_word_frac,
       ROUND(COALESCE(s2.top * 1.0 / s2.n, 0.0), 6) AS top_bigram_frac,
       ROUND(COALESCE((s5.n - s5.d) * 1.0 / s5.n, 0.0), 6) AS dup_5gram_frac
FROM toks tk
LEFT JOIN s1 ON tk.doc_id = s1.doc_id
LEFT JOIN s2 ON tk.doc_id = s2.doc_id
LEFT JOIN s5 ON tk.doc_id = s5.doc_id
"""


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact dedup (Lee et al. granularity): 20-token windows,
    first corpus-wide occurrence kept, docs reassembled from surviving
    spans. Only span digests shuffle; text is recomputed row-locally."""
    from gridmet_etl_spark.operators.dedup import span_dedup

    docs = _docs_par(spark, sf_dir)
    return span_dedup(docs, span_tokens=20)


_SPAN_NORM = NORM.format(c="text")

SQL_SPAN_DEDUP = f"""
WITH toks AS (SELECT doc_id, string_split({_SPAN_NORM}, ' ') AS t FROM documents),
idx AS (SELECT doc_id, t, unnest(range(0, (len(t) - 1) // 20 + 1)) AS i FROM toks),
chunks AS (SELECT doc_id, i AS chunk_idx,
                  array_to_string(list_slice(t, i * 20 + 1, i * 20 + 20), ' ') AS chunk
           FROM idx),
ranked AS (SELECT doc_id, chunk_idx, chunk,
                  row_number() OVER (PARTITION BY md5(chunk)
                                     ORDER BY doc_id, chunk_idx) AS rn
           FROM chunks),
kept AS (SELECT doc_id, chunk_idx, chunk FROM ranked WHERE rn = 1),
agg AS (SELECT doc_id, count(*) AS n_kept,
               string_agg(chunk, ' ' ORDER BY chunk_idx) AS dtext
        FROM kept GROUP BY doc_id),
tot AS (SELECT doc_id, count(*) AS n_chunks FROM chunks GROUP BY doc_id)
SELECT t.doc_id, t.n_chunks, COALESCE(a.n_kept, 0) AS n_kept,
       t.n_chunks - COALESCE(a.n_kept, 0) AS n_dup_chunks,
       md5(COALESCE(a.dtext, '')) AS dedup_digest
FROM tot t LEFT JOIN agg a ON t.doc_id = a.doc_id
"""


def q_decontam_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination pre-screen vs its exact twin. The
    bloom bit positions are xxhash64 (engine-specific), so the hashed
    projection carries the EXACT flag plus the deterministic guarantee
    column no_false_negative = bloom_hit OR NOT contaminated (bloom
    filters cannot miss a true member, so it is always TRUE — the oracle
    states it as such); the false-positive rate is asserted in pytest."""
    from gridmet_etl_spark.operators.decontam import decontaminate_bloom, decontaminate_exact

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    train = docs.filter(F.col("doc_id") < 400)
    ev = docs.filter(F.col("doc_id") >= 400)
    exact = decontaminate_exact(train, ev)
    bloom = decontaminate_bloom(train, ev)
    return exact.join(bloom, "doc_id").select(
        "doc_id",
        "contaminated",
        (F.col("bloom_hit") | ~F.col("contaminated")).alias("no_false_negative"),
    )


SQL_DECONTAM_BLOOM = f"""
WITH ev AS (SELECT DISTINCT md5({NORM.format(c="text")}) AS fp
            FROM documents WHERE doc_id >= 400),
tr AS (SELECT doc_id, md5({NORM.format(c="text")}) AS fp
       FROM documents WHERE doc_id < 400)
SELECT tr.doc_id, (ev.fp IS NOT NULL) AS contaminated, TRUE AS no_false_negative
FROM tr LEFT JOIN ev ON tr.fp = ev.fp
"""


def q_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-BoW linear classifier scoring: the 'model' is a deterministic
    md5-derived weight per hash bucket, evaluated as pure codegen column
    arithmetic (exact integer sums until the final division — bit-stable
    across engines)."""
    from gridmet_etl_spark.operators.scoring import classifier_scores

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    out = classifier_scores(docs)
    # hash the EXACT integer numerator (logit = logit_milli/(1000·n)), not
    # the rounded logit: swi/(1000n) is a terminating decimal that can land
    # exactly on a round-half boundary, where Spark (BigDecimal HALF_UP)
    # and DuckDB (binary-value rounding) legitimately disagree — observed
    # at sf0.01 doc 247 (logit = -0.1260875). The sigmoid is transcendental
    # so its 6-decimal rounding has no such boundary mass.
    return out.select(
        "doc_id",
        "logit_milli",
        "n_tokens",
        F.round("score", R).alias("score"),
    )


SQL_CLASSIFIER_SCORE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
w AS (
  SELECT doc_id,
         CAST('0x' || substr(md5('w:' || CAST(
           CAST('0x' || substr(md5(tok), 1, 6) AS BIGINT) % 1024
         AS VARCHAR)), 1, 6) AS BIGINT) % 2001 - 1000 AS wi
  FROM toks WHERE tok <> ''),
agg AS (
  SELECT doc_id, CAST(sum(wi) AS BIGINT) AS swi, count(*) AS n
  FROM w GROUP BY doc_id)
SELECT doc_id,
       swi AS logit_milli,
       n AS n_tokens,
       ROUND(1.0 / (1.0 + exp(-(swi / (1000.0 * n)))), 6) AS score
FROM agg
"""


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM document scoring (add-1 smoothing, model trained on the
    same corpus): vocabulary-bounded count relations joined against the
    pre-aggregated per-doc gram multiset."""
    from gridmet_etl_spark.operators.scoring import bigram_lm_scores

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    out = bigram_lm_scores(docs)
    return out.select("doc_id", "n_bigrams", F.round("avg_logp", R).alias("avg_logp"))


SQL_LM_SCORE = """
WITH base AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t), 1))) AS i FROM base)
  WHERE t[i] <> '' AND t[i + 1] <> ''),
uni AS (
  SELECT tok AS w1, count(*) AS c1
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> '' GROUP BY tok),
big AS (SELECT w1, w2, count(*) AS c2 FROM grams GROUP BY w1, w2),
v AS (SELECT count(*) AS vocab FROM uni),
dg AS (SELECT doc_id, w1, w2, count(*) AS m FROM grams GROUP BY doc_id, w1, w2),
scored AS (
  SELECT dg.doc_id, ln((c2 + 1.0) / (c1 + 1.0 * vocab)) * m AS lp, m
  FROM dg JOIN big USING (w1, w2) JOIN uni USING (w1) CROSS JOIN v)
SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
       ROUND(sum(lp) / sum(m), 6) AS avg_logp
FROM scored GROUP BY doc_id
"""


_BLOCKLIST = ["site0.example.com", "cdn1.net"]


def q_domain_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/domain hygiene (RefinedWeb-style blocklist filter) over text
    augmented with synthetic links (the corpus has none): per-doc domain
    set, link count, blocklist flag. Domains sorted so the array→csv
    rendering is canonical in both engines."""
    from gridmet_etl_spark.operators.textops import domain_flags

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    aug = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" see https://site"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".Example.com/p?x=1 and http://cdn"),
            (F.col("doc_id") % 3).cast("string"),
            F.lit(".net/lib.js"),
        ),
    )
    out = domain_flags(aug, _BLOCKLIST)
    return out.select(
        "doc_id",
        F.array_join(F.array_sort("domains"), ",").alias("domains_csv"),
        F.col("n_links").cast("long").alias("n_links"),
        "blocklisted",
    )


SQL_DOMAIN_FLAGS = r"""
WITH aug AS (
  SELECT doc_id,
         text || ' see https://site' || CAST(doc_id % 7 AS VARCHAR)
              || '.Example.com/p?x=1 and http://cdn' || CAST(doc_id % 3 AS VARCHAR)
              || '.net/lib.js' AS t
  FROM documents),
d AS (
  SELECT doc_id,
         list_transform(regexp_extract_all(t, 'https?://([^/\s:?#]+)', 1),
                        x -> lower(x)) AS doms
  FROM aug)
SELECT doc_id,
       array_to_string(list_sort(list_distinct(doms)), ',') AS domains_csv,
       len(doms) AS n_links,
       len(list_intersect(list_distinct(doms),
           ['site0.example.com', 'cdn1.net'])) > 0 AS blocklisted
FROM d
"""


# ---------------------------------------------------------------------------
# Quality-filter rule sets (Gopher / C4) + TF-IDF + count-min sketch
# ---------------------------------------------------------------------------

_GOPHER_STOPS = "['the','be','to','of','and','that','have','with']"


def q_gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gridmet_etl_spark.operators.quality import gopher_flags

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    out = gopher_flags(docs)
    return out.select(
        "doc_id",
        "n_words",
        F.round("mean_word_len", R).alias("mean_word_len"),
        F.round("symbol_ratio", R).alias("symbol_ratio"),
        F.round("alpha_frac", R).alias("alpha_frac"),
        "stop_hits",
        "word_count_ok",
        "word_len_ok",
        "stop_ok",
        "gopher_pass",
    )


SQL_GOPHER_FILTERS = rf"""
WITH base AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '\S+')) AS n_words,
         length(regexp_replace(text, '\s+', '', 'g')) AS n_chars,
         len(regexp_extract_all(text, '#|\.\.\.')) AS n_symbols,
         len(list_filter(regexp_extract_all(text, '\S+'),
                         w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
         len(list_filter(regexp_extract_all(lower(text), '\S+'),
                         w -> list_contains({_GOPHER_STOPS}, w))) AS stop_hits
  FROM documents),
derived AS (
  SELECT doc_id, n_words,
         CASE WHEN n_words > 0 THEN CAST(n_chars AS DOUBLE) / n_words ELSE 0.0 END AS mwl,
         CASE WHEN n_words > 0 THEN CAST(n_symbols AS DOUBLE) / n_words ELSE 0.0 END AS sym,
         CASE WHEN n_words > 0 THEN CAST(n_alpha AS DOUBLE) / n_words ELSE 0.0 END AS alpha,
         stop_hits
  FROM base)
SELECT doc_id, n_words,
       ROUND(mwl, {R}) AS mean_word_len,
       ROUND(sym, {R}) AS symbol_ratio,
       ROUND(alpha, {R}) AS alpha_frac,
       stop_hits,
       (n_words >= 50 AND n_words <= 100000) AS word_count_ok,
       (mwl >= 3 AND mwl <= 10) AS word_len_ok,
       (stop_hits >= 2) AS stop_ok,
       (n_words >= 50 AND n_words <= 100000 AND mwl >= 3 AND mwl <= 10
        AND sym <= 0.1 AND alpha >= 0.8 AND stop_hits >= 2) AS gopher_pass
FROM derived
"""


def q_c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .contract import FIXDIR
    from gridmet_etl_spark.operators.quality import c4_clean

    pages = spark.read.parquet(os.path.join(FIXDIR, "webpages.parquet"))
    out = c4_clean(pages)
    return out.select(
        "page_id",
        "n_lines",
        "n_lines_kept",
        "n_sentences",
        "has_lorem",
        "has_brace",
        "c4_keep",
        F.md5("clean_body").alias("clean_fp"),
    )


def _sql_c4_filters() -> str:
    from .contract import FIXDIR

    return rf"""
WITH base AS (
  SELECT page_id, text, string_split(text, chr(10)) AS lines
  FROM read_parquet('{os.path.join(FIXDIR, "webpages.parquet")}')),
kept AS (
  SELECT page_id, text, lines,
         list_filter(lines, l -> regexp_matches(l, '[.!?"]$')
                     AND len(regexp_extract_all(l, '\S+')) >= 5) AS keep_lines
  FROM base),
clean AS (
  SELECT page_id, text, len(lines) AS n_lines, len(keep_lines) AS n_lines_kept,
         COALESCE(array_to_string(keep_lines, chr(10)), '') AS clean_body
  FROM kept)
SELECT page_id, n_lines, n_lines_kept,
       len(regexp_extract_all(clean_body, '[.!?]')) AS n_sentences,
       contains(lower(text), 'lorem ipsum') AS has_lorem,
       contains(text, '{{') AS has_brace,
       (len(regexp_extract_all(clean_body, '[.!?]')) >= 3
        AND NOT contains(lower(text), 'lorem ipsum')
        AND NOT contains(text, '{{')) AS c4_keep,
       md5(clean_body) AS clean_fp
FROM clean
"""


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gridmet_etl_spark.operators.textops import tfidf_topk

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return tfidf_topk(docs, k=5)


SQL_TFIDF_TOPK = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks WHERE term <> '' GROUP BY doc_id, term),
dfc AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfc.df,
         ROUND(tf.tf * (ln((1 + n.n_docs) / (1 + dfc.df)) + 1), {R}) AS tfidf
  FROM tf JOIN dfc USING (term) CROSS JOIN n),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
  FROM scored)
SELECT doc_id, term, tf, df, tfidf, rank FROM ranked WHERE rank <= 5
"""


def q_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gridmet_etl_spark.operators.sketch import cms_build, cms_estimate
    from gridmet_etl_spark.operators.textops import vocab_topk

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    sketch = cms_build(docs)
    top = vocab_topk(docs, k=20)
    return cms_estimate(top, sketch).select("token", "n", "est")


def _sql_cms_bucket(row_expr: str, token_expr: str) -> str:
    """DuckDB twin of sketch.cms_bucket: md5-prefix bucket, width 256."""
    return (
        f"CAST('0x' || substr(md5('r' || {row_expr} || ':' || {token_expr}), 1, 6)"
        f" AS BIGINT) % 256"
    )


SQL_CMS_COUNTS = f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
counts AS (
  SELECT token, count(*) AS n FROM toks WHERE token <> '' GROUP BY token),
top AS (
  SELECT token, n FROM counts ORDER BY n DESC, token LIMIT 20),
cells AS (
  SELECT r.r AS row, {_sql_cms_bucket("r.r", "counts.token")} AS bucket,
         sum(n) AS cnt
  FROM counts CROSS JOIN (VALUES (0),(1),(2),(3)) r(r)
  GROUP BY 1, 2),
probes AS (
  SELECT top.token, top.n, cells.cnt
  FROM top CROSS JOIN (VALUES (0),(1),(2),(3)) r(r)
  JOIN cells ON cells.row = r.r
            AND cells.bucket = {_sql_cms_bucket("r.r", "top.token")})
SELECT token, n, CAST(min(cnt) AS BIGINT) AS est
FROM probes GROUP BY token, n
"""


def q_rp_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gridmet_etl_spark.operators.similarity import RP_OUT_DIM, rp_project

    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    out = rp_project(emb)
    return out.select(
        "vec_id", *[F.round(f"rp{j}", R).alias(f"rp{j}") for j in range(RP_OUT_DIM)]
    )


def _sql_rp_project() -> str:
    from gridmet_etl_spark.operators.similarity import RP_OUT_DIM, _rp_sign_py

    comps = []
    for j in range(RP_OUT_DIM):
        # fold the identical ±1 sign literals into a CASE-free inline array
        signs = ",".join(str(_rp_sign_py(j, d)) for d in range(64))
        comps.append(
            f"ROUND(list_sum(list_transform(generate_series(1, len(embedding)),"
            f" i -> CAST(embedding[i] AS DOUBLE) * ([{signs}])[i]))"
            f" / sqrt({RP_OUT_DIM}), {R}) AS rp{j}"
        )
    cols = ",\n       ".join(comps)
    return f"SELECT vec_id,\n       {cols}\nFROM embeddings"


BM25_QUERY_TERMS = ["spark", "table", "hash", "merge", "window"]


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gridmet_etl_spark.operators.retrieval import bm25_topk

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return bm25_topk(docs, BM25_QUERY_TERMS, k=20)


def _sql_bm25_topk() -> str:
    from gridmet_etl_spark.operators.retrieval import BM25_B, BM25_K1

    terms = ", ".join(f"'{t}'" for t in sorted(BM25_QUERY_TERMS))
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
scored AS (
  SELECT tf.doc_id, dls.dl,
         ln(1 + (stats.n_docs - dfc.df + 0.5) / (dfc.df + 0.5))
           * CAST(tf.tf AS DOUBLE) * {BM25_K1 + 1.0}
           / (CAST(tf.tf AS DOUBLE)
              + {BM25_K1} * (1.0 - {BM25_B}
                 + {BM25_B} * dls.dl / (CAST(stats.sum_dl AS DOUBLE) / stats.n_docs))) AS s
  FROM tf JOIN dfc USING (term) JOIN dls USING (doc_id) CROSS JOIN stats)
SELECT doc_id, CAST(dl AS INTEGER) AS dl, count(*) AS n_matched,
       ROUND(sum(s), {R}) AS score
FROM scored GROUP BY doc_id, dl
ORDER BY score DESC, doc_id LIMIT 20
"""


def q_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gridmet_etl_spark.operators.retrieval import pmi_bigrams

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return pmi_bigrams(docs, min_count=5, k=20)


SQL_PMI_BIGRAMS = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
uni AS (
  SELECT term, count(*) AS c
  FROM toks, unnest(t) AS u(term) WHERE term <> '' GROUP BY 1),
n1s AS (SELECT sum(c) AS n1 FROM uni),
big AS (
  SELECT t[i] || ' ' || t[i + 1] AS bigram, count(*) AS c_xy
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
  GROUP BY 1 HAVING count(*) >= 5),
n2s AS (SELECT sum(greatest(len(t) - 1, 0)) AS n2 FROM toks)
SELECT b.bigram, b.c_xy, ux.c AS c_x, uy.c AS c_y,
       ROUND(ln((CAST(b.c_xy AS DOUBLE) / n2s.n2)
                / ((CAST(ux.c AS DOUBLE) / n1s.n1)
                   * (CAST(uy.c AS DOUBLE) / n1s.n1))), {R}) AS pmi
FROM big b
JOIN uni ux ON ux.term = split_part(b.bigram, ' ', 1)
JOIN uni uy ON uy.term = split_part(b.bigram, ' ', 2)
CROSS JOIN n1s CROSS JOIN n2s
ORDER BY pmi DESC, bigram LIMIT 20
"""


def q_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gridmet_etl_spark.operators.chunking import chunk_windows

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return chunk_windows(docs, window=32, stride=16)


SQL_CHUNK_WINDOWS = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
SELECT doc_id, CAST(start // 16 AS BIGINT) AS chunk_id,
       array_to_string(t[start + 1 : start + 32], ' ') AS chunk_text,
       CAST(len(t[start + 1 : start + 32]) AS BIGINT) AS n_tokens
FROM toks, unnest(generate_series(0, len(t) - 1, 16)) AS g(start)
"""


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gridmet_etl_spark.operators.sampling import weighted_sample

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return weighted_sample(docs, k=100)


def _sql_weighted_sample() -> str:
    from gridmet_etl_spark.operators.sampling import HASH_BUCKETS, sql_hash_bucket

    bucket = sql_hash_bucket("doc_id", "wrs")
    return f"""
SELECT doc_id, n_chars AS weight,
       ROUND(ln(({bucket} + 1) / {float(HASH_BUCKETS)}) / n_chars, {R}) + 0
         AS wrs_key
FROM documents
ORDER BY wrs_key DESC, doc_id LIMIT 100
"""


def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gridmet_etl_spark.operators.sampling import curriculum_order

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return curriculum_order(docs)


def _sql_curriculum_order() -> str:
    from gridmet_etl_spark.operators.sampling import CURRICULUM_THRESHOLDS, sql_hash_bucket

    t1, t2, t3 = CURRICULUM_THRESHOLDS
    return f"""
WITH d AS (
  SELECT doc_id,
         CAST(floor(length(text) * 1000 / len(string_split(text, ' '))) AS BIGINT)
           AS difficulty
  FROM documents)
SELECT doc_id, difficulty,
       CASE WHEN difficulty < {t1} THEN 0
            WHEN difficulty < {t2} THEN 1
            WHEN difficulty < {t3} THEN 2
            ELSE 3 END AS stage,
       {sql_hash_bucket("doc_id", "curr")} AS order_key
FROM d
"""


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gridmet_etl_spark.operators.retrieval import inverted_index

    return inverted_index(_docs_par(spark, sf_dir), min_df=5)


SQL_INVERTED_INDEX = """
WITH tf AS (
  SELECT term, doc_id, count(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
  WHERE term <> ''
  GROUP BY 1, 2)
SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf,
       string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id) AS postings
FROM tf GROUP BY term HAVING count(*) >= 5
"""


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level PageRank over a synthetic deterministic link layer on the
    webpages fixture (its text carries no URLs, so the query appends two
    arithmetic out-links per page — same trick as domain_flags)."""
    from .contract import FIXDIR
    from gridmet_etl_spark.operators.graph import link_graph, pagerank

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
    ranks = pagerank(link_graph(aug), damping=0.85, iters=5)
    n = F.lit(150)  # fixed display scale (same constant in the oracle)
    return ranks.select(
        "node", (F.round(F.col("rank") * n * 1000, R)).alias("rank_scaled")
    ).orderBy("node")


def _sql_pagerank(iters: int = 5, d: float = 0.85) -> str:
    from .contract import FIXDIR

    path = os.path.join(FIXDIR, "webpages.parquet")
    ctes = [
        rf"""aug AS (
  SELECT page_id,
         lower(regexp_extract(url, 'https?://([^/\s:?#]+)', 1)) AS src,
         text || ' see https://example' || CAST((page_id * 7 + 1) % 50 AS VARCHAR)
              || '.test/a and https://example' || CAST((page_id * 13 + 2) % 50 AS VARCHAR)
              || '.test/b' AS t
  FROM read_parquet('{path}'))""",
        r"""edges AS (
  SELECT DISTINCT src, u.dst
  FROM (SELECT src,
               list_transform(regexp_extract_all(t, 'https?://([^/\s:?#]+)', 1),
                              x -> lower(x)) AS dsts
        FROM aug) a, unnest(list_distinct(a.dsts)) AS u(dst)
  WHERE u.dst <> a.src AND a.src <> '')""",
        """nodes AS (
  SELECT src AS node FROM edges UNION SELECT dst FROM edges)""",
        """deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src)""",
        """ew AS (SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d USING (src))""",
        """nn AS (SELECT count(*) AS n FROM nodes)""",
        """pr0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn)""",
    ]
    for i in range(iters):
        ctes.append(f"""pr{i + 1} AS (
  SELECT n.node,
         (1 - {d}) / nn.n + {d} * COALESCE(c.s, 0.0) AS rank
  FROM nodes n CROSS JOIN nn
  LEFT JOIN (SELECT ew.dst AS node, sum(p.rank / ew.outdeg) AS s
             FROM pr{i} p JOIN ew ON ew.src = p.node
             GROUP BY ew.dst) c USING (node))""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node, ROUND(rank * 150 * 1000, {R}) AS rank_scaled"
        + f"\nFROM pr{iters} ORDER BY node"
    )


HIST_LO, HIST_HI, HIST_BINS = 0.0, 4000.0, 20


def q_histogram_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gridmet_etl_spark.operators.profile import histogram_fixed

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return histogram_fixed(
        docs, "n_chars", lo=HIST_LO, hi=HIST_HI, nbins=HIST_BINS, keys=("lang",)
    )


def _sql_histogram_docs() -> str:
    width = (HIST_HI - HIST_LO) / HIST_BINS
    return f"""
SELECT lang,
       CAST(least(greatest(floor((n_chars - {HIST_LO}) / {width}), 0),
                  {HIST_BINS - 1}) AS INTEGER) AS bin,
       count(*) AS n,
       -- CAST AS DOUBLE: the bare {width} literal is DECIMAL in DuckDB and
       -- decimal outputs are not hash-safe under the driver's pandas fetch
       CAST({HIST_LO} + CAST(least(greatest(floor((n_chars - {HIST_LO}) / {width}), 0),
                  {HIST_BINS - 1}) AS INTEGER) * {width} AS DOUBLE) AS bin_lo
FROM documents WHERE n_chars IS NOT NULL
GROUP BY 1, 2
"""


PROFILE_NUM_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
PROFILE_OTHER_COLS = ["l_returnflag", "l_shipdate"]


def q_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gridmet_etl_spark.operators.profile import data_profile

    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    return data_profile(li, PROFILE_NUM_COLS, PROFILE_OTHER_COLS)


def _sql_profile_lineitem() -> str:
    selects = []
    for c in PROFILE_NUM_COLS:
        selects.append(
            f"SELECT '{c}' AS \"column\", count(*) AS n,"
            f" count(*) - count({c}) AS n_null, count(DISTINCT {c}) AS n_distinct,"
            f" CAST(min({c}) AS DOUBLE) AS vmin, CAST(max({c}) AS DOUBLE) AS vmax"
            f" FROM lineitem"
        )
    for c in PROFILE_OTHER_COLS:
        selects.append(
            f"SELECT '{c}' AS \"column\", count(*) AS n,"
            f" count(*) - count({c}) AS n_null, count(DISTINCT {c}) AS n_distinct,"
            f" CAST(NULL AS DOUBLE) AS vmin, CAST(NULL AS DOUBLE) AS vmax"
            f" FROM lineitem"
        )
    return "\nUNION ALL\n".join(selects)


def q_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge: every 97th order gets a price bump + status 'U' (update
    path) and a shifted-key twin (insert path); additions avoid ROUND so the
    doubles stay bit-identical across engines."""
    from gridmet_etl_spark.operators.merge import upsert_by_key

    orders = spark.read.parquet(_t(sf_dir, "orders"))
    mod = (
        orders.where(F.col("o_orderkey") % 97 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1000.0))
        .withColumn("o_orderstatus", F.lit("U"))
    )
    ins = mod.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(1000000000))
    return upsert_by_key(orders, mod.unionByName(ins), ["o_orderkey"])


SQL_UPSERT_ORDERS = """
WITH m AS (
  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
         o_totalprice + 1000.0 AS o_totalprice, o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 97 = 0),
u AS (
  SELECT * FROM m
  UNION ALL
  SELECT o_orderkey + 1000000000, o_custkey, o_orderstatus, o_totalprice,
         o_orderdate, o_orderpriority
  FROM m)
SELECT * FROM u
UNION ALL
SELECT o.* FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM u WHERE u.o_orderkey = o.o_orderkey)
"""


# ---------------------------------------------------------------------------
# round 3: event-sequence analytics, graph, similarity joins, robust stats


def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view→click→purchase (earliest-completion semantics):
    chained per-user min-ts aggs, every shuffle keyed on user_id."""
    from gridmet_etl_spark.operators.funnel import funnel_conversion
    from gridmet_etl_spark.sources.readers import read_events

    e = read_events(spark, _t(sf_dir, "events"))
    return funnel_conversion(e, ["view", "click", "purchase"])


SQL_FUNNEL_STEPS = """
WITH ev AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
s1 AS (SELECT user_id, min(ts) AS t FROM ev WHERE event_type = 'view' GROUP BY user_id),
s2 AS (SELECT e.user_id, min(e.ts) AS t FROM ev e JOIN s1 ON e.user_id = s1.user_id
       WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY e.user_id),
s3 AS (SELECT e.user_id, min(e.ts) AS t FROM ev e JOIN s2 ON e.user_id = s2.user_id
       WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY e.user_id)
SELECT 1 AS step, 'view' AS step_name, count(*) AS n_users FROM s1
UNION ALL SELECT 2, 'click', count(*) FROM s2
UNION ALL SELECT 3, 'purchase', count(*) FROM s3
"""


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle (cohort = first-activity week)."""
    from gridmet_etl_spark.operators.funnel import retention_cohorts
    from gridmet_etl_spark.sources.readers import read_events

    return retention_cohorts(read_events(spark, _t(sf_dir, "events")))


SQL_RETENTION_COHORTS = """
WITH wk AS (SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS w FROM events),
first AS (SELECT user_id, min(w) AS cohort_week FROM wk GROUP BY user_id),
active AS (SELECT DISTINCT user_id, w AS active_week FROM wk)
SELECT cohort_week,
       CAST(date_diff('day', cohort_week, active_week) // 7 AS BIGINT) AS week_offset,
       count(DISTINCT a.user_id) AS n_users
FROM active a JOIN first f USING (user_id)
GROUP BY 1, 2
"""


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition matrix over each user's time-ordered event stream."""
    from gridmet_etl_spark.operators.funnel import event_transitions
    from gridmet_etl_spark.sources.readers import read_events

    return event_transitions(read_events(spark, _t(sf_dir, "events")))


SQL_EVENT_TRANSITIONS = """
WITH ev AS (SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
pairs AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
  FROM ev),
counts AS (
  SELECT from_type, to_type, count(*) AS n FROM pairs
  WHERE to_type IS NOT NULL GROUP BY from_type, to_type)
SELECT from_type, to_type, n,
       ROUND(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type), 6) AS p
FROM counts
"""


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the synthetic deterministic link graph
    (same link layer as pagerank), degree-oriented wedge join."""
    from .contract import FIXDIR
    from gridmet_etl_spark.operators.graph import link_graph, triangle_count

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
    return triangle_count(link_graph(aug))


def _sql_triangle_count() -> str:
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
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst),
tri AS (
  SELECT e1.a AS u, e1.b AS v, e2.b AS w
  FROM und e1
  JOIN und e2 ON e2.a = e1.b
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b)
SELECT node, count(*) AS n_triangles
FROM (SELECT unnest([u, v, w]) AS node FROM tri)
GROUP BY node
"""


def q_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard ≥ 0.8 set-similarity self-join over document token
    sets — prefix-filtered candidates (lossless), verified with array
    arithmetic. The brute-force oracle proves zero recall loss."""
    from gridmet_etl_spark.operators.simjoin import jaccard_join

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return jaccard_join(docs, threshold=0.8)


# Bounded oracle (r11): mirrors the Spark side's LOSSLESS prefix filter
# (operators/simjoin.py jaccard_join) instead of the all-pairs join that
# made this a quadratic-ORACLE whitelist entry in every sf0.1 sweep.
# Tokens are recoded to dense ints in the same global rarity order the
# Spark side uses (corpus frequency asc, token asc) — so the rarity
# prefix is just the first |s| - ceil(0.8|s|) + 1 elements of the
# int-sorted list; candidates equi-join on prefix tokens with the
# length-ratio prune; verification counts shared tokens via a token
# equi-join + GROUP BY (no per-pair list_intersect — string-list
# intersection on the ~6.5M sf0.1 candidates was the 160 s hot spot;
# this form runs ~64 s and every candidate shares ≥1 prefix token so the
# inner join loses nothing). Identical output to the brute-force form by
# the prefix-filter lemma (verified byte-identical at sf0.001/sf0.01).
SQL_JACCARD_JOIN = """
WITH d AS (
  SELECT doc_id,
         list_sort(list_distinct(list_filter(string_split(lower(text), ' '),
                                             t -> t <> ''))) AS s
  FROM documents),
d2 AS (SELECT doc_id, s, len(s) AS sz FROM d WHERE len(s) > 0),
tok AS (SELECT doc_id, sz, unnest(s) AS token FROM d2),
freq AS (SELECT token, count(*) AS n_global FROM tok GROUP BY token),
vocab AS MATERIALIZED (
  SELECT token, row_number() OVER (ORDER BY n_global, token) AS tid
  FROM freq),
itok AS MATERIALIZED (
  SELECT t.doc_id, t.sz, v.tid
  FROM tok t JOIN vocab v USING (token)),
di AS MATERIALIZED (
  SELECT doc_id, sz, list_sort(list(tid)) AS si
  FROM itok GROUP BY doc_id, sz),
pre AS (
  SELECT doc_id, sz,
         unnest(list_slice(si, 1, sz - CAST(ceil(0.8 * sz) AS BIGINT) + 1))
           AS tid
  FROM di),
cand AS MATERIALIZED (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM pre l JOIN pre r ON l.tid = r.tid AND l.doc_id < r.doc_id
  WHERE greatest(l.sz, r.sz) * 0.8 <= least(l.sz, r.sz)),
ic AS (
  SELECT c.a, c.b, any_value(c.sza) AS sza, any_value(c.szb) AS szb,
         count(*) AS i
  FROM (SELECT c.a, c.b, da.sz AS sza, db.sz AS szb
        FROM cand c
        JOIN di da ON da.doc_id = c.a
        JOIN di db ON db.doc_id = c.b) c
  JOIN itok ta ON ta.doc_id = c.a
  JOIN itok tb ON tb.doc_id = c.b AND tb.tid = ta.tid
  GROUP BY c.a, c.b)
SELECT a, b, ROUND(CAST(i AS DOUBLE) / (sza + szb - i), 6) AS jaccard
FROM ic WHERE CAST(i AS DOUBLE) / (sza + szb - i) >= 0.8
"""


def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked record linkage: part-name pairs within a brand block at
    levenshtein ≤ 3 (early-exit threshold form on the Spark side)."""
    from gridmet_etl_spark.operators.simjoin import fuzzy_join

    part = spark.read.parquet(_t(sf_dir, "part"))
    # single-file fixture -> one scan task; the brand side broadcasts, so
    # probe parallelism = left scan tasks. Spread the left side across
    # cores (production tables have many splits and skip this).
    left = part.repartition(spark.sparkContext.defaultParallelism)
    return fuzzy_join(left, part, "p_brand", "p_name", 3, "p_partkey")


SQL_FUZZY_JOIN = """
SELECT a.p_brand AS block, a.p_partkey AS a_id, b.p_partkey AS b_id,
       a.p_name AS a_name, b.p_name AS b_name,
       levenshtein(a.p_name, b.p_name) AS dist
FROM part a JOIN part b
  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 3
"""


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-event-type outlier summary (modified z-score on MAD)."""
    from gridmet_etl_spark.operators.normalize import mad_outliers
    from gridmet_etl_spark.sources.readers import read_events

    e = read_events(spark, _t(sf_dir, "events"))
    return mad_outliers(e, keys=("event_type",), value_col="value", k=3.5)


SQL_MAD_OUTLIERS = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med FROM events GROUP BY event_type),
mad AS (
  SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad,
         any_value(m.med) AS med
  FROM events e JOIN med m USING (event_type) GROUP BY e.event_type)
SELECT e.event_type, count(e.value) AS n,
       CAST(sum(CASE WHEN d.mad > 0 AND 0.6745 * abs(e.value - d.med) / d.mad > 3.5
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       ROUND(any_value(d.med), 6) AS med, ROUND(any_value(d.mad), 6) AS mad
FROM events e JOIN mad d USING (event_type)
GROUP BY e.event_type
"""


def q_ntile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-count binning of order totals: 8 ntiles, (o_totalprice,
    o_orderkey) tiebreak for deterministic membership."""
    from gridmet_etl_spark.operators.normalize import ntile_bins

    orders = spark.read.parquet(_t(sf_dir, "orders"))
    return ntile_bins(orders, "o_totalprice", "o_orderkey", n_bins=8)


SQL_NTILE_BINS = """
SELECT bin, count(*) AS n, ROUND(min(v), 6) AS lo, ROUND(max(v), 6) AS hi
FROM (SELECT o_totalprice AS v,
             ntile(8) OVER (ORDER BY o_totalprice, o_orderkey) AS bin
      FROM orders)
GROUP BY bin
"""


def q_percentile_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source length gate: keep docs at percent_rank ≥ 0.75 within
    their source (rank-based membership — reproducible across engines,
    unlike a filter against an interpolated percentile value)."""
    from gridmet_etl_spark.operators.quality import percentile_cut

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return percentile_cut(docs, keys=("source",), value_col="n_chars",
                          id_col="doc_id", cut=0.75)


SQL_PERCENTILE_CUT = """
SELECT doc_id, source, n_chars, ROUND(pr, 6) AS pr
FROM (SELECT doc_id, source, n_chars,
             percent_rank() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id) AS pr
      FROM documents)
WHERE pr >= 0.75
"""


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy per document (nats) — the
    row-local gibberish/boilerplate signal; pure expression chain."""
    from gridmet_etl_spark.operators.textops import char_entropy

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    # the sf fixture is ONE parquet file -> one scan task; spread the
    # row-local entropy compute across cores (production corpora have many
    # splits and skip this — the exchange carries the raw text once)
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return docs.select("doc_id", F.round(char_entropy("text"), 6).alias("h"))


SQL_CHAR_ENTROPY = """
WITH ch AS (
  SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents),
cnt AS (SELECT doc_id, c, count(*) AS n FROM ch GROUP BY doc_id, c),
tot AS (SELECT doc_id, sum(n) AS t FROM cnt GROUP BY doc_id)
SELECT c.doc_id,
       ROUND(-sum((CAST(n AS DOUBLE) / t) * ln(CAST(n AS DOUBLE) / t)) + 0.0, 6) AS h
FROM cnt c JOIN tot USING (doc_id)
GROUP BY c.doc_id
"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit diff across a CDC application: upsert_orders' output (plus a
    %101 delete) vs the base snapshot → added/removed/changed keys."""
    from gridmet_etl_spark.operators.merge import snapshot_diff, upsert_by_key

    orders = spark.read.parquet(_t(sf_dir, "orders"))
    mod = (
        orders.where(F.col("o_orderkey") % 97 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1000.0))
        .withColumn("o_orderstatus", F.lit("U"))
    )
    ins = mod.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(1000000000))
    new = upsert_by_key(orders, mod.unionByName(ins), ["o_orderkey"]).where(
        F.col("o_orderkey") % 101 != 0
    )
    return snapshot_diff(orders, new, ["o_orderkey"])


SQL_SNAPSHOT_DIFF = """
WITH m AS (
  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
         o_totalprice + 1000.0 AS o_totalprice, o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 97 = 0),
u AS (
  SELECT * FROM m
  UNION ALL
  SELECT o_orderkey + 1000000000, o_custkey, o_orderstatus, o_totalprice,
         o_orderdate, o_orderpriority
  FROM m),
upserted AS (
  SELECT * FROM u
  UNION ALL
  SELECT o.* FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM u WHERE u.o_orderkey = o.o_orderkey)),
new AS (SELECT * FROM upserted WHERE o_orderkey % 101 <> 0),
diff AS (
  SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
         CASE WHEN o.o_orderkey IS NULL THEN 'added'
              WHEN n.o_orderkey IS NULL THEN 'removed'
              WHEN NOT (o.o_custkey IS NOT DISTINCT FROM n.o_custkey
                    AND o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
                    AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
                    AND o.o_orderdate IS NOT DISTINCT FROM n.o_orderdate
                    AND o.o_orderpriority IS NOT DISTINCT FROM n.o_orderpriority)
              THEN 'changed' END AS change
  FROM orders o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey)
SELECT o_orderkey, change FROM diff WHERE change IS NOT NULL
"""


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton write-layout keys for the distinct grid cells — the
    clustering key that makes bbox predicates touch O(few) row groups."""
    from .contract import FIXDIR
    from gridmet_etl_spark.operators.scale import zorder_key
    from gridmet_etl_spark.sources.readers import read_grid

    grid = read_grid(spark, os.path.join(FIXDIR, "grid.parquet"))
    return (
        grid.select("i", "j").distinct().select("i", "j", zorder_key("i", "j").alias("zkey"))
    )


def _sql_zorder_layout(bits: int = 16) -> str:
    from .contract import FIXDIR

    path = os.path.join(FIXDIR, "grid.parquet")
    terms = " + ".join(
        f"(((i >> {b}) & 1) << {2 * b}) + (((j >> {b}) & 1) << {2 * b + 1})"
        for b in range(bits)
    )
    return f"""
SELECT i, j, CAST({terms} AS BIGINT) AS zkey
FROM (SELECT DISTINCT i, j FROM read_parquet('{path}'))
"""


def q_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact binary dedup: lowest-id keeper per payload digest; payload
    bytes never shuffle (digest projection only)."""
    from .contract import FX, _pq
    from gridmet_etl_spark.operators.multimodal import media_dedup

    return media_dedup(_pq(spark, FX["media"]))


def _sql_media_dedup() -> str:
    from .contract import FX

    return f"""
WITH d AS (
  SELECT media_id, kind, md5(hex(payload)) AS digest
  FROM read_parquet('{FX["media"]}')),
r AS (
  SELECT media_id, kind, digest,
         row_number() OVER (PARTITION BY digest ORDER BY media_id) AS rn,
         count(*) OVER (PARTITION BY digest) AS n_copies
  FROM d)
SELECT media_id, kind, digest, n_copies FROM r WHERE rn = 1
"""


def q_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-6h-window top-3 event types (batch twin of streaming_trending;
    per-window rank, window-partitioned — never global)."""
    from gridmet_etl_spark.sources.readers import read_events
    from gridmet_etl_spark.streaming.events import trending_topk

    e = read_events(spark, _t(sf_dir, "events"))
    return trending_topk(e, window="6 hours", k=3)


SQL_TRENDING_TOPK = """
WITH counts AS (
  SELECT time_bucket(INTERVAL '6 hours', ts) AS window_start, event_type,
         count(*) AS n
  FROM events GROUP BY 1, 2),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY window_start
                               ORDER BY n DESC, event_type) AS rank
  FROM counts)
SELECT window_start, event_type, n, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 3
"""


def q_topk_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source 'best k' curation gate: top-5 docs by length (windowed
    per group; deterministic id tie-break)."""
    from gridmet_etl_spark.operators.sampling import topk_per_group

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return topk_per_group(
        docs.select("doc_id", "source", "n_chars"),
        keys=("source",), order_col="n_chars", id_col="doc_id", k=5,
    )


SQL_TOPK_PER_SOURCE = """
SELECT doc_id, source, n_chars, CAST(rank AS INTEGER) AS rank
FROM (SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rank
      FROM documents)
WHERE rank <= 5
"""


def q_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell OLS climate trend (slope/intercept/Pearson r of value over
    epoch days) — native regr_* aggregates, one |series|-sized shuffle."""
    from .contract import FIXDIR
    from gridmet_etl_spark.operators.timeseries import trend_slope
    from gridmet_etl_spark.sources.readers import read_grid

    grid = read_grid(spark, os.path.join(FIXDIR, "grid.parquet"))
    return trend_slope(grid, keys=("var", "i", "j"))


def _sql_trend_slope() -> str:
    from .contract import FIXDIR

    path = os.path.join(FIXDIR, "grid.parquet")
    return f"""
SELECT var, i, j,
       ROUND(regr_slope(value, x), 6) AS slope,
       ROUND(regr_intercept(value, x), 6) AS intercept,
       ROUND(corr(value, x), 6) AS r,
       count(value) AS n_obs
FROM (SELECT var, i, j, value,
             CAST(date_diff('day', DATE '1970-01-01', time) AS DOUBLE) AS x
      FROM read_parquet('{path}'))
GROUP BY var, i, j
"""


def q_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell Pearson correlation between the tmmx and tmmn series —
    conditional-aggregation pairing (no self-join), two bounded shuffles."""
    from .contract import FIXDIR
    from gridmet_etl_spark.operators.timeseries import cross_correlation
    from gridmet_etl_spark.sources.readers import read_grid

    grid = read_grid(spark, os.path.join(FIXDIR, "grid.parquet"))
    return cross_correlation(grid, "tmmx", "tmmn", keys=("i", "j"))


def _sql_cross_correlation() -> str:
    from .contract import FIXDIR

    path = os.path.join(FIXDIR, "grid.parquet")
    return f"""
WITH paired AS (
  SELECT i, j, time,
         first(value) FILTER (WHERE var = 'tmmx') AS a,
         first(value) FILTER (WHERE var = 'tmmn') AS b
  FROM read_parquet('{path}')
  WHERE var IN ('tmmx', 'tmmn')
  GROUP BY i, j, time)
SELECT i, j, ROUND(corr(a, b), 6) AS r, count(*) AS n_obs
FROM paired WHERE a IS NOT NULL AND b IS NOT NULL
GROUP BY i, j
"""


def q_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token log-odds drift between the src0-src9 and src10-src19 halves
    of the corpus (the snapshot-drift monitor)."""
    from gridmet_etl_spark.operators.textops import token_drift

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    side = F.length("source") <= 4  # src0..src9 vs src10..src19
    return token_drift(docs, side, k=20)


SQL_TOKEN_DRIFT = """
WITH toks AS (
  SELECT length(source) <= 4 AS side, unnest(string_split(text, ' ')) AS token
  FROM documents),
t2 AS (SELECT side, token FROM toks WHERE token <> ''),
counts AS (
  SELECT token,
         CAST(sum(CASE WHEN side THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN side THEN 0 ELSE 1 END) AS BIGINT) AS n_b
  FROM t2 GROUP BY token),
totals AS (
  SELECT CAST(sum(CASE WHEN side THEN 1 ELSE 0 END) AS BIGINT) AS t_a,
         CAST(sum(CASE WHEN side THEN 0 ELSE 1 END) AS BIGINT) AS t_b
  FROM t2),
scored AS (
  SELECT token, n_a, n_b,
         ROUND(ln(((n_a + 1.0) / (t_a + 2.0)) / (1.0 - (n_a + 1.0) / (t_a + 2.0)))
             - ln(((n_b + 1.0) / (t_b + 2.0)) / (1.0 - (n_b + 1.0) / (t_b + 2.0))), 6) AS delta
  FROM counts CROSS JOIN totals)
SELECT token, n_a, n_b, delta FROM scored
ORDER BY abs(delta) DESC, token LIMIT 20
"""


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document (regex sentence/word/syllable
    proxies, row-local)."""
    from gridmet_etl_spark.operators.textops import flesch_reading_ease

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return docs.select(
        "doc_id", F.round(flesch_reading_ease("text"), 6).alias("flesch")
    )


SQL_READABILITY = """
WITH m AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS words_split,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS sentences,
         len(regexp_extract_all(lower(text), '[aeiouy]+')) AS vowel_groups
  FROM documents)
SELECT doc_id,
       ROUND(206.835
             - 1.015 * (CAST(greatest(words_split, 1) AS DOUBLE) / sentences)
             - 84.6 * (CAST(greatest(vowel_groups, greatest(words_split, 1)) AS DOUBLE)
                       / greatest(words_split, 1)), 6) AS flesch
FROM m
"""


def q_degree_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly heating/cooling degree days per cell from tmmx/tmmn (K→°C
    at the edge; conditional-agg pairing, no self-join)."""
    from .contract import FIXDIR
    from gridmet_etl_spark.operators.timeseries import degree_days
    from gridmet_etl_spark.sources.readers import read_grid

    grid = read_grid(spark, os.path.join(FIXDIR, "grid.parquet"))
    return degree_days(grid)


def _sql_degree_days() -> str:
    from .contract import FIXDIR

    path = os.path.join(FIXDIR, "grid.parquet")
    return f"""
WITH paired AS (
  SELECT i, j, time,
         first(value) FILTER (WHERE var = 'tmmx') AS tx,
         first(value) FILTER (WHERE var = 'tmmn') AS tn
  FROM read_parquet('{path}')
  WHERE var IN ('tmmx', 'tmmn')
  GROUP BY i, j, time),
daily AS (
  SELECT i, j, CAST(date_trunc('month', time) AS DATE) AS month,
         ((tx - 273.15) + (tn - 273.15)) / 2 AS t
  FROM paired WHERE tx IS NOT NULL AND tn IS NOT NULL)
SELECT i, j, month,
       ROUND(sum(greatest(18.3 - t, 0.0)), 6) AS hdd,
       ROUND(sum(greatest(t - 18.3, 0.0)), 6) AS cdd,
       count(*) AS n_days
FROM daily GROUP BY i, j, month
"""


def q_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof salted join on a deliberately hot key (l_partkey % 10 —
    ten keys carry the whole lineitem table), aggregated per key. The
    oracle is the PLAIN join+agg: salting must be invisible in the
    result."""
    from gridmet_etl_spark.operators.scale import salted_join

    li = spark.read.parquet(_t(sf_dir, "lineitem")).select(
        (F.col("l_partkey") % 10).alias("hot_key"), "l_extendedprice"
    )
    dim = spark.range(10).select(
        F.col("id").alias("hot_key"), (F.col("id") * 0.01 + 1.0).alias("rate")
    )
    joined = salted_join(li, dim, "hot_key", n_salts=16)
    return joined.groupBy("hot_key").agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.col("l_extendedprice") * F.col("rate")), 4).alias("adj_revenue"),
    )


SQL_SKEW_JOIN = """
SELECT l_partkey % 10 AS hot_key, count(*) AS n,
       ROUND(sum(l_extendedprice * ((l_partkey % 10) * 0.01 + 1.0)), 4) AS adj_revenue
FROM lineitem
GROUP BY l_partkey % 10
"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational set operations over two doc-id ranges' source sets:
    INTERSECT and EXCEPT tagged into one result (dedup semantics)."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    a = docs.where(F.col("doc_id") < 250).select("source")
    b = docs.where(F.col("doc_id") >= 250).select("source")
    both = a.intersect(b).select(F.lit("both").alias("op"), "source")
    only_a = a.subtract(b).select(F.lit("only_first").alias("op"), "source")
    return both.unionByName(only_a)


SQL_SET_OPS = """
SELECT 'both' AS op, source FROM
  (SELECT source FROM documents WHERE doc_id < 250
   INTERSECT
   SELECT source FROM documents WHERE doc_id >= 250)
UNION ALL
SELECT 'only_first', source FROM
  (SELECT DISTINCT source FROM documents WHERE doc_id < 250
   EXCEPT
   SELECT source FROM documents WHERE doc_id >= 250)
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (finer than cube/rollup): per (status,
    priority), per status, and grand total in ONE pass — Spark expands to
    a single Expand + aggregate, no re-scan per set."""
    spark.read.parquet(_t(sf_dir, "orders")).createOrReplaceTempView("_orders_gs")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n, ROUND(sum(o_totalprice), 4) AS revenue,
               grouping(o_orderstatus) AS g_status,
               grouping(o_orderpriority) AS g_prio
        FROM _orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
    """)


SQL_GROUPING_SETS = """
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n, ROUND(sum(o_totalprice), 4) AS revenue,
       CAST(grouping(o_orderstatus) AS INTEGER) AS g_status,
       CAST(grouping(o_orderpriority) AS INTEGER) AS g_prio
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
"""


def q_range_frame_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-DAY revenue per order priority using a RANGE frame over
    epoch days — unlike the ROWS frame (events_moving_avg), RANGE stays
    correct when days are missing: the frame is defined by the time VALUE,
    not the row offset."""
    from pyspark.sql import Window as W

    orders = spark.read.parquet(_t(sf_dir, "orders"))
    daily = orders.groupBy(
        "o_orderpriority", F.to_date("o_orderdate").alias("day")
    ).agg(F.sum("o_totalprice").alias("rev"))
    d = F.unix_date(F.col("day")).cast("long")
    w = (
        W.partitionBy("o_orderpriority")
        .orderBy(d)
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "o_orderpriority",
        "day",
        F.round("rev", 4).alias("rev"),
        F.round(F.sum("rev").over(w), 4).alias("rev_7d"),
    )


SQL_RANGE_FRAME_SUM = """
WITH daily AS (
  SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
         sum(o_totalprice) AS rev
  FROM orders GROUP BY 1, 2)
SELECT o_orderpriority, day, ROUND(rev, 4) AS rev,
       ROUND(sum(rev) OVER (PARTITION BY o_orderpriority
                            ORDER BY date_diff('day', DATE '1970-01-01', day)
                            RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS rev_7d
FROM daily
"""


def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted median price per return flag (RANGE-frame
    cumulative weights — tie-order-independent)."""
    from gridmet_etl_spark.operators.normalize import weighted_median

    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    return weighted_median(li, ["l_returnflag"], "l_extendedprice", "l_quantity")


SQL_WEIGHTED_MEDIAN = """
WITH c AS (
  SELECT l_returnflag, l_extendedprice AS v,
         sum(l_quantity) OVER (PARTITION BY l_returnflag
                               ORDER BY l_extendedprice) AS cw,
         sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tw
  FROM lineitem)
SELECT l_returnflag, min(v) AS wmedian, ROUND(any_value(tw), 6) AS total_w
FROM c WHERE cw >= tw / 2 GROUP BY l_returnflag
"""


def q_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: per user, seconds from first view to
    the first purchase after it; per-distribution count/mean/median
    (integer-second lags → exact sums, interpolation rounds at 6)."""
    from gridmet_etl_spark.sources.readers import read_events

    e = read_events(spark, _t(sf_dir, "events"))
    views = e.where(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t_view")
    )
    purch = e.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("t_buy")
    )
    lags = (
        views.join(purch, "user_id")
        .where(F.col("t_buy") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("t_buy").alias("t_first_buy"), F.first("t_view").alias("t_view"))
        .select(
            F.expr("timestampdiff(SECOND, t_view, t_first_buy)").alias("lag_s")
        )
    )
    return lags.agg(
        F.count("*").alias("n_converted"),
        F.round(F.avg("lag_s"), 6).alias("mean_lag_s"),
        F.round(F.percentile(F.col("lag_s").cast("double"), F.lit(0.5)), 6).alias("p50_lag_s"),
        F.round(F.percentile(F.col("lag_s").cast("double"), F.lit(0.9)), 6).alias("p90_lag_s"),
    )


SQL_CONVERSION_LAG = """
WITH ev AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
v AS (SELECT user_id, min(ts) AS t_view FROM ev WHERE event_type = 'view' GROUP BY user_id),
l AS (
  -- floored elapsed seconds (epoch_us // 1e6), matching Spark's
  -- timestampdiff(SECOND); date_diff('second') counts boundary
  -- CROSSINGS and disagrees by 1 on sub-second offsets
  SELECT e.user_id,
         (epoch_us(min(e.ts)) - epoch_us(v.t_view)) // 1000000 AS lag_s
  FROM ev e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'purchase' AND e.ts > v.t_view
  GROUP BY e.user_id, v.t_view)
SELECT count(*) AS n_converted,
       ROUND(avg(lag_s), 6) AS mean_lag_s,
       ROUND(quantile_cont(CAST(lag_s AS DOUBLE), 0.5), 6) AS p50_lag_s,
       ROUND(quantile_cont(CAST(lag_s AS DOUBLE), 0.9), 6) AS p90_lag_s
FROM l
"""


def q_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running distinct-user count by day — the window countDistinct Spark
    lacks, rewritten as first-seen day per user → daily new-user counts →
    cumulative sum over the bounded |days| relation (the scalable form:
    the corpus-sized work is one user-keyed min; only day-rows see a
    global window)."""
    from gridmet_etl_spark.sources.readers import read_events

    e = read_events(spark, _t(sf_dir, "events"))
    first_seen = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("day"))
    daily = first_seen.groupBy("day").agg(F.count("*").alias("new_users"))
    from pyspark.sql import Window as W

    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    return daily.select("day", "new_users", F.sum("new_users").over(w).alias("cum_users"))


SQL_CUMULATIVE_USERS = """
WITH fs AS (SELECT user_id, min(CAST(ts AS DATE)) AS day FROM events GROUP BY user_id),
daily AS (SELECT day, count(*) AS new_users FROM fs GROUP BY day)
SELECT day, new_users,
       CAST(sum(new_users) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
FROM daily
"""


def q_rebased_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index series: daily revenue per priority rebased to 100 at each
    partition's first day (first_value window — one sort per group)."""
    from pyspark.sql import Window as W

    orders = spark.read.parquet(_t(sf_dir, "orders"))
    daily = orders.groupBy(
        "o_orderpriority", F.to_date("o_orderdate").alias("day")
    ).agg(F.sum("o_totalprice").alias("rev"))
    w = W.partitionBy("o_orderpriority").orderBy("day")
    return daily.select(
        "o_orderpriority",
        "day",
        F.round("rev", 4).alias("rev"),
        F.round(F.lit(100.0) * F.col("rev") / F.first("rev").over(w), 6).alias("idx"),
    )


SQL_REBASED_SERIES = """
WITH daily AS (
  SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
         sum(o_totalprice) AS rev
  FROM orders GROUP BY 1, 2)
SELECT o_orderpriority, day, ROUND(rev, 4) AS rev,
       ROUND(100.0 * rev / first_value(rev) OVER (PARTITION BY o_orderpriority
                                                  ORDER BY day), 6) AS idx
FROM daily
"""


def q_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per cell — the grouped-map Arrow kernel with
    a full pairwise-slope SQL oracle."""
    from .contract import FIXDIR
    from gridmet_etl_spark.operators.timeseries import theilsen_trend
    from gridmet_etl_spark.sources.readers import read_grid

    grid = read_grid(spark, os.path.join(FIXDIR, "grid.parquet"))
    out = theilsen_trend(grid.where(F.col("var").isin("tmmx", "pr")))
    # cells with <2 valid observations have no pairwise slopes: the kernel
    # emits an n_pairs=0 marker row, the SQL group simply vanishes — align
    return out.where(F.col("n_pairs") > 0)


def _sql_theilsen_trend() -> str:
    from .contract import FIXDIR

    path = os.path.join(FIXDIR, "grid.parquet")
    return f"""
WITH s AS (
  SELECT var, i, j,
         CAST(date_diff('day', DATE '1970-01-01', time) AS DOUBLE) AS x,
         value AS v
  FROM read_parquet('{path}')
  WHERE var IN ('tmmx', 'pr') AND value IS NOT NULL),
pairs AS (
  SELECT a.var, a.i, a.j, (b.v - a.v) / (b.x - a.x) AS sl
  FROM s a JOIN s b
    ON a.var = b.var AND a.i = b.i AND a.j = b.j AND a.x < b.x)
SELECT var, i, j, ROUND(quantile_cont(sl, 0.5), 6) AS slope,
       count(*) AS n_pairs
FROM pairs GROUP BY var, i, j
"""


def q_props_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: parse the JSON props column into map<string,long>
    (from_json — codegen, no UDF), explode entries, aggregate per key."""
    from gridmet_etl_spark.sources.readers import read_events

    e = read_events(spark, _t(sf_dir, "events"))
    entries = e.select(
        "event_type",
        F.explode(F.from_json("props", "map<string,long>")).alias("key", "val"),
    )
    return entries.groupBy("key").agg(
        F.count("*").alias("n"),
        F.countDistinct("event_type").alias("n_types"),
        F.round(F.avg("val"), 6).alias("avg_val"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
    )


SQL_PROPS_MAP = """
WITH entries AS (
  SELECT event_type, u.key, CAST(props ->> u.key AS BIGINT) AS val
  FROM events, unnest(json_keys(props)) AS u(key))
SELECT key, count(*) AS n, count(DISTINCT event_type) AS n_types,
       ROUND(avg(val), 6) AS avg_val,
       min(val) AS min_val, max(val) AS max_val
FROM entries GROUP BY key
"""


def q_calendar_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine completeness check: per event type, generate the full
    day spine between the type's first and last day (``sequence`` +
    explode — row-local) and anti-count the missing days. The data-quality
    probe for incremental feeds (T2): a silent ingestion hole shows up as
    n_missing > 0."""
    from gridmet_etl_spark.sources.readers import read_events

    e = read_events(spark, _t(sf_dir, "events"))
    observed = e.groupBy("event_type").agg(
        F.min(F.to_date("ts")).alias("d0"),
        F.max(F.to_date("ts")).alias("d1"),
        F.countDistinct(F.to_date("ts")).alias("n_observed"),
    )
    return observed.select(
        "event_type",
        "d0",
        "d1",
        (F.datediff("d1", "d0") + 1).cast("long").alias("n_expected"),
        "n_observed",
        (F.datediff("d1", "d0") + 1 - F.col("n_observed")).cast("long").alias("n_missing"),
    )


SQL_CALENDAR_GAPS = """
SELECT event_type,
       min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1,
       CAST(date_diff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE))) + 1
            AS BIGINT) AS n_expected,
       count(DISTINCT CAST(ts AS DATE)) AS n_observed,
       CAST(date_diff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE))) + 1
            - count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_missing
FROM events GROUP BY event_type
"""


def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample proportion test: users split by id parity (the
    deterministic assignment), conversion = a heavy purchaser (≥14
    purchase events — the fixture's every user buys at least once, so
    plain any-purchase is degenerate p=1); per-arm rates plus the pooled
    two-proportion z — one user-keyed agg and a scalar combine. z is NULL
    if a degenerate pool ever makes se = 0 (guarded both engines)."""
    from gridmet_etl_spark.sources.readers import read_events

    e = read_events(spark, _t(sf_dir, "events"))
    users = e.groupBy("user_id").agg(
        (
            F.sum((F.col("event_type") == "purchase").cast("long")) >= 14
        ).cast("int").alias("converted")
    )
    arms = users.groupBy((F.col("user_id") % 2).alias("arm")).agg(
        F.count("*").alias("n"), F.sum("converted").alias("conv")
    )
    a = arms.where(F.col("arm") == 0).select(
        F.col("n").alias("n_a"), F.col("conv").alias("c_a")
    )
    b = arms.where(F.col("arm") == 1).select(
        F.col("n").alias("n_b"), F.col("conv").alias("c_b")
    )
    j = a.crossJoin(b)
    p_a = F.col("c_a") / F.col("n_a")
    p_b = F.col("c_b") / F.col("n_b")
    p_pool = (F.col("c_a") + F.col("c_b")) / (F.col("n_a") + F.col("n_b"))
    se = F.sqrt(p_pool * (1 - p_pool) * (1 / F.col("n_a") + 1 / F.col("n_b")))
    return j.select(
        "n_a", "c_a", "n_b", "c_b",
        F.round(p_a, 6).alias("rate_a"),
        F.round(p_b, 6).alias("rate_b"),
        F.when(se > 0, F.round((p_a - p_b) / se, 6)).alias("z"),
    )


SQL_AB_TEST = """
WITH users AS (
  SELECT user_id,
         CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
              THEN 1 ELSE 0 END AS converted
  FROM events GROUP BY user_id),
arms AS (
  SELECT user_id % 2 AS arm, count(*) AS n,
         CAST(sum(converted) AS BIGINT) AS conv
  FROM users GROUP BY user_id % 2),
j AS (
  SELECT a.n AS n_a, a.conv AS c_a, b.n AS n_b, b.conv AS c_b
  FROM (SELECT * FROM arms WHERE arm = 0) a,
       (SELECT * FROM arms WHERE arm = 1) b)
SELECT n_a, c_a, n_b, c_b,
       ROUND(CAST(c_a AS DOUBLE) / n_a, 6) AS rate_a,
       ROUND(CAST(c_b AS DOUBLE) / n_b, 6) AS rate_b,
       CASE WHEN c_a + c_b > 0 AND c_a + c_b < n_a + n_b THEN
         ROUND((CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
               / sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                      * (1 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                      * (1.0 / n_a + 1.0 / n_b)), 6)
       END AS z
FROM j
"""


def q_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline): parts not dominated on (price asc,
    size desc) — a correlated NOT EXISTS expressed as a left-anti
    inequality join. The dominating side prunes to the frontier
    candidates via broadcast; at scale the standard trick is a pre-filter
    on a coarse dominance grid before the anti-join."""
    part = spark.read.parquet(_t(sf_dir, "part"))
    p = part.select("p_partkey", "p_retailprice", "p_size")
    dom = p.select(
        F.col("p_retailprice").alias("d_price"), F.col("p_size").alias("d_size")
    )
    cond = (
        (F.col("d_price") <= F.col("p_retailprice"))
        & (F.col("d_size") >= F.col("p_size"))
        & (
            (F.col("d_price") < F.col("p_retailprice"))
            | (F.col("d_size") > F.col("p_size"))
        )
    )
    return p.join(F.broadcast(dom), cond, "left_anti").select(
        "p_partkey", F.round("p_retailprice", 4).alias("p_retailprice"), "p_size"
    )


SQL_SKYLINE_PARTS = """
SELECT p_partkey, ROUND(p_retailprice, 4) AS p_retailprice, p_size
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part d
  WHERE d.p_retailprice <= p.p_retailprice AND d.p_size >= p.p_size
    AND (d.p_retailprice < p.p_retailprice OR d.p_size > p.p_size))
"""


def q_dow_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly counts: remove each type's day-of-week
    mean from the daily revenue series, flag |residual| > 2σ (population σ
    of residuals) — the STL-lite monitor for weekly-periodic metrics."""
    from gridmet_etl_spark.sources.readers import read_events

    e = read_events(spark, _t(sf_dir, "events"))
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.sum("value").alias("v")
    )
    from pyspark.sql import Window as W

    w_dow = W.partitionBy("event_type", F.dayofweek("day"))
    w_all = W.partitionBy("event_type")
    resid = daily.withColumn("r", F.col("v") - F.avg("v").over(w_dow))
    scored = resid.withColumn("sigma", F.stddev_pop("r").over(w_all))
    return (
        scored.groupBy("event_type")
        .agg(
            F.count("*").alias("n_days"),
            F.sum((F.abs(F.col("r")) > 2 * F.col("sigma")).cast("long")).alias("n_anomalies"),
            F.round(F.first("sigma"), 6).alias("sigma"),
        )
    )


SQL_DOW_ANOMALY = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, sum(value) AS v
  FROM events GROUP BY 1, 2),
resid AS (
  SELECT event_type, day, v,
         v - avg(v) OVER (PARTITION BY event_type, dayofweek(day)) AS r
  FROM daily),
scored AS (
  SELECT event_type, r,
         stddev_pop(r) OVER (PARTITION BY event_type) AS sigma
  FROM resid)
SELECT event_type, count(*) AS n_days,
       CAST(sum(CASE WHEN abs(r) > 2 * sigma THEN 1 ELSE 0 END) AS BIGINT)
         AS n_anomalies,
       ROUND(any_value(sigma), 6) AS sigma
FROM scored GROUP BY event_type
"""


def q_rolling_actives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per day — windowed
    countDistinct doesn't exist, so each (user, day) presence SCATTERS to
    the 7 report days it supports (row-local explode of day offsets) and
    one groupBy counts distinct
    users per report day. Presence relation is |users|×|days| bounded;
    nothing corpus-sized shuffles twice."""
    from gridmet_etl_spark.sources.readers import read_events

    e = read_events(spark, _t(sf_dir, "events"))
    presence = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    bounds = e.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    scattered = presence.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("report_day"),
    )
    return (
        scattered.join(
            F.broadcast(bounds),
            (F.col("report_day") >= F.col("d0")) & (F.col("report_day") <= F.col("d1")),
        )
        .groupBy("report_day")
        .agg(F.countDistinct("user_id").alias("actives_7d"))
    )


SQL_ROLLING_ACTIVES = """
WITH presence AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
bounds AS (
  SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1 FROM events),
scattered AS (
  SELECT user_id, day + CAST(o.off AS INTEGER) AS report_day
  FROM presence, (SELECT unnest(generate_series(0, 6)) AS off) o)
SELECT s.report_day, count(DISTINCT s.user_id) AS actives_7d
FROM scattered s, bounds b
WHERE s.report_day BETWEEN b.d0 AND b.d1
GROUP BY s.report_day
"""


def q_benford_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals: observed vs expected
    digit frequencies and the chi-square contribution per digit — the
    classic synthetic/fabricated-data smell test (synthetic uniform data
    FAILS Benford, which is the point of the audit column)."""
    orders = spark.read.parquet(_t(sf_dir, "orders"))
    d = F.substring(F.abs(F.col("o_totalprice")).cast("string"), 1, 1).cast("int")
    digits = orders.select(d.alias("digit")).where(F.col("digit").between(1, 9))
    n_tot = digits.count()
    counts = digits.groupBy("digit").agg(F.count("*").alias("n"))
    expected = F.log10(1 + 1 / F.col("digit"))
    return counts.select(
        "digit",
        "n",
        F.round(F.col("n") / F.lit(float(n_tot)), 6).alias("observed_p"),
        F.round(expected, 6).alias("benford_p"),
        F.round(
            F.pow(F.col("n") - F.lit(float(n_tot)) * expected, 2)
            / (F.lit(float(n_tot)) * expected),
            6,
        ).alias("chi2_term"),
    )


SQL_BENFORD_CHECK = """
WITH digits AS (
  SELECT CAST(substr(CAST(abs(o_totalprice) AS VARCHAR), 1, 1) AS INTEGER) AS digit
  FROM orders),
d2 AS (SELECT digit FROM digits WHERE digit BETWEEN 1 AND 9),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM d2),
counts AS (SELECT digit, count(*) AS n FROM d2 GROUP BY digit)
SELECT digit, n,
       ROUND(n / t, 6) AS observed_p,
       ROUND(log10(1 + 1.0 / digit), 6) AS benford_p,
       ROUND(pow(n - t * log10(1 + 1.0 / digit), 2)
             / (t * log10(1 + 1.0 / digit)), 6) AS chi2_term
FROM counts, tot
"""


def q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding distribution stats (mean/std/min/max) — the
    feature-drift monitor between corpus snapshots; posexplode is
    row-local, the only shuffle carries dim-keyed partials (64 groups)."""
    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    comp = emb.select(F.posexplode("embedding").alias("dim", "x")).select(
        "dim", F.col("x").cast("double").alias("x")
    )
    return comp.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.round(F.avg("x"), 6).alias("mean"),
        F.round(F.stddev_pop("x"), 6).alias("std"),
        F.round(F.min("x"), 6).alias("vmin"),
        F.round(F.max("x"), 6).alias("vmax"),
    )


SQL_EMBEDDING_STATS = """
WITH comp AS (
  SELECT u.i - 1 AS dim, CAST(embedding[u.i] AS DOUBLE) AS x
  FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) u(i))
SELECT dim, count(*) AS n,
       ROUND(avg(x), 6) AS mean,
       ROUND(stddev_pop(x), 6) AS std,
       ROUND(min(x), 6) AS vmin, ROUND(max(x), 6) AS vmax
FROM comp GROUP BY dim
"""


def q_impute_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL imputation by per-series median (the simple alternative to
    gap_fill_linear's interpolation): broadcast group medians back, count
    the filled cells per series. Two-pass aggregate/broadcast shape —
    the fact table never shuffles."""
    from .contract import FIXDIR
    from gridmet_etl_spark.sources.readers import read_grid

    grid = read_grid(spark, os.path.join(FIXDIR, "grid.parquet"))
    med = grid.groupBy("var", "i", "j").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    filled = grid.join(F.broadcast(med), ["var", "i", "j"]).select(
        "var", "i", "j",
        F.col("value").isNull().cast("long").alias("was_null"),
        F.coalesce("value", "med").alias("v"),
    )
    return filled.groupBy("var", "i", "j").agg(
        F.sum("was_null").alias("n_filled"),
        F.round(F.avg("v"), 6).alias("mean_after"),
    )


def _sql_impute_median() -> str:
    from .contract import FIXDIR

    path = os.path.join(FIXDIR, "grid.parquet")
    return f"""
WITH g AS (SELECT var, i, j, value FROM read_parquet('{path}')),
med AS (
  SELECT var, i, j, quantile_cont(value, 0.5) AS med
  FROM g GROUP BY var, i, j)
SELECT g.var, g.i, g.j,
       CAST(sum(CASE WHEN g.value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_filled,
       ROUND(avg(coalesce(g.value, m.med)), 6) AS mean_after
FROM g JOIN med m ON g.var = m.var AND g.i = m.i AND g.j = m.j
GROUP BY g.var, g.i, g.j
"""


def q_cooccurrence_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket token co-occurrence: among the 50 globally most
    frequent tokens (count desc, token asc), the top-20 PAIRS by number
    of co-containing documents. Presence is semi-joined against the tiny
    broadcast vocabulary before any pair forms, so the pair explosion is
    C(50,2)-bounded per doc, not vocabulary-squared."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("token")
    ).where(F.col("token") != "")
    top = (
        tok.groupBy("token").agg(F.count("*").alias("df"))
        .orderBy(F.col("df").desc(), F.col("token"))
        .limit(50)
        .select("token")
    )
    present = tok.join(F.broadcast(top), "token")
    a = present.select("doc_id", F.col("token").alias("tok_a"))
    b = present.select("doc_id", F.col("token").alias("tok_b"))
    pairs = (
        a.join(b, "doc_id")
        .where(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count("*").alias("n_docs"))
    )
    return pairs.orderBy(
        F.col("n_docs").desc(), F.col("tok_a"), F.col("tok_b")
    ).limit(20)


SQL_COOCCURRENCE_TOPK = """
WITH tok AS (
  SELECT DISTINCT doc_id, u.token
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       unnest(list_distinct(t)) AS u(token)
  WHERE u.token <> ''),
top AS (
  SELECT token FROM (
    SELECT token, count(*) AS df FROM tok GROUP BY token
    ORDER BY df DESC, token LIMIT 50)),
present AS (SELECT t.doc_id, t.token FROM tok t JOIN top USING (token)),
pairs AS (
  SELECT a.token AS tok_a, b.token AS tok_b, count(*) AS n_docs
  FROM present a JOIN present b
    ON a.doc_id = b.doc_id AND a.token < b.token
  GROUP BY a.token, b.token)
SELECT tok_a, tok_b, n_docs FROM pairs
ORDER BY n_docs DESC, tok_a, tok_b LIMIT 20
"""


EXT_QUERIES = {
    "impute_median": (q_impute_median, _sql_impute_median()),
    "cooccurrence_topk": (q_cooccurrence_topk, SQL_COOCCURRENCE_TOPK),
    "rolling_actives": (q_rolling_actives, SQL_ROLLING_ACTIVES),
    "benford_check": (q_benford_check, SQL_BENFORD_CHECK),
    "embedding_stats": (q_embedding_stats, SQL_EMBEDDING_STATS),
    "ab_test": (q_ab_test, SQL_AB_TEST),
    "skyline_parts": (q_skyline_parts, SQL_SKYLINE_PARTS),
    "dow_anomaly": (q_dow_anomaly, SQL_DOW_ANOMALY),
    "props_map": (q_props_map, SQL_PROPS_MAP),
    "calendar_gaps": (q_calendar_gaps, SQL_CALENDAR_GAPS),
    "theilsen_trend": (q_theilsen_trend, _sql_theilsen_trend()),
    # pooled-ties (RANGE frame) variant; the tie-pinned lower-median twin
    # registers as "weighted_median" in contract_ext4 — distinct semantics,
    # distinct names, so neither shadows the other in the merged registry.
    "weighted_median_pooled": (q_weighted_median, SQL_WEIGHTED_MEDIAN),
    "conversion_lag": (q_conversion_lag, SQL_CONVERSION_LAG),
    "cumulative_users": (q_cumulative_users, SQL_CUMULATIVE_USERS),
    "rebased_series": (q_rebased_series, SQL_REBASED_SERIES),
    "range_frame_sum": (q_range_frame_sum, SQL_RANGE_FRAME_SUM),
    "skew_join": (q_skew_join, SQL_SKEW_JOIN),
    "set_ops": (q_set_ops, SQL_SET_OPS),
    "grouping_sets": (q_grouping_sets, SQL_GROUPING_SETS),
    "degree_days": (q_degree_days, _sql_degree_days()),
    "token_drift": (q_token_drift, SQL_TOKEN_DRIFT),
    "readability": (q_readability, SQL_READABILITY),
    "trend_slope": (q_trend_slope, _sql_trend_slope()),
    "cross_correlation": (q_cross_correlation, _sql_cross_correlation()),
    "topk_per_source": (q_topk_per_source, SQL_TOPK_PER_SOURCE),
    "trending_topk": (q_trending_topk, SQL_TRENDING_TOPK),
    "zorder_layout": (q_zorder_layout, _sql_zorder_layout()),
    "media_dedup": (q_media_dedup, _sql_media_dedup()),
    "funnel_steps": (q_funnel_steps, SQL_FUNNEL_STEPS),
    "retention_cohorts": (q_retention_cohorts, SQL_RETENTION_COHORTS),
    "event_transitions": (q_event_transitions, SQL_EVENT_TRANSITIONS),
    "triangle_count": (q_triangle_count, _sql_triangle_count()),
    "jaccard_join": (q_jaccard_join, SQL_JACCARD_JOIN),
    "fuzzy_join": (q_fuzzy_join, SQL_FUZZY_JOIN),
    "mad_outliers": (q_mad_outliers, SQL_MAD_OUTLIERS),
    "ntile_bins": (q_ntile_bins, SQL_NTILE_BINS),
    "percentile_cut": (q_percentile_cut, SQL_PERCENTILE_CUT),
    "char_entropy": (q_char_entropy, SQL_CHAR_ENTROPY),
    "snapshot_diff": (q_snapshot_diff, SQL_SNAPSHOT_DIFF),
    "inverted_index": (q_inverted_index, SQL_INVERTED_INDEX),
    "histogram_docs": (q_histogram_docs, _sql_histogram_docs()),
    "profile_lineitem": (q_profile_lineitem, _sql_profile_lineitem()),
    "upsert_orders": (q_upsert_orders, SQL_UPSERT_ORDERS),
    "pagerank": (q_pagerank, _sql_pagerank()),
    "bm25_topk": (q_bm25_topk, _sql_bm25_topk()),
    "pmi_bigrams": (q_pmi_bigrams, SQL_PMI_BIGRAMS),
    "chunk_windows": (q_chunk_windows, SQL_CHUNK_WINDOWS),
    "weighted_sample": (q_weighted_sample, _sql_weighted_sample()),
    "curriculum_order": (q_curriculum_order, _sql_curriculum_order()),
    "rp_project": (q_rp_project, _sql_rp_project()),
    "gopher_filters": (q_gopher_filters, SQL_GOPHER_FILTERS),
    "c4_filters": (q_c4_filters, _sql_c4_filters()),
    "tfidf_topk": (q_tfidf_topk, SQL_TFIDF_TOPK),
    "cms_counts": (q_cms_counts, SQL_CMS_COUNTS),
    "domain_flags": (q_domain_flags, SQL_DOMAIN_FLAGS),
    "repetition_stats": (q_repetition_stats, SQL_REPETITION_STATS),
    "classifier_score": (q_classifier_score, SQL_CLASSIFIER_SCORE),
    "lm_score": (q_lm_score, SQL_LM_SCORE),
    "semantic_dedup": (q_semantic_dedup, SQL_SEMANTIC_DEDUP),
    "span_dedup": (q_span_dedup, SQL_SPAN_DEDUP),
    "decontam_bloom": (q_decontam_bloom, SQL_DECONTAM_BLOOM),
    "text_analysis": (q_text_analysis, SQL_TEXT_ANALYSIS),
    "exact_dedup": (q_exact_dedup, SQL_EXACT_DEDUP),
    "ngram_jaccard": (q_ngram_jaccard, SQL_NGRAM_JACCARD),
    "minhash_lsh": (q_minhash_lsh, SQL_MINHASH_LSH),
    "simhash": (q_simhash, SQL_SIMHASH),
    "simhash_near_dups": (q_simhash_near_dups, SQL_SIMHASH_NEAR_DUPS),
    "cosine_topk": (q_cosine_topk, SQL_COSINE_TOPK),
    "cosine_topk_np": (q_cosine_topk_np, SQL_COSINE_TOPK),
    "embedding_near_dups": (q_embedding_near_dups, SQL_EMBEDDING_NEAR_DUPS),
    "cosine_topk_lsh": (q_cosine_topk_lsh, SQL_COSINE_TOPK),  # full-cube probe == exact
    "ivf_topk": (q_ivf_topk, SQL_COSINE_TOPK),  # exhaustive probe == exact
    "kmeans_assign": (q_kmeans_assign, _sql_kmeans_assign()),
    "winnow_fingerprints": (q_winnow_fingerprints, SQL_WINNOW_FINGERPRINTS),
    "split_assign": (q_split_assign, _sql_split_assign()),
    "stratified_sample": (q_stratified_sample, _sql_stratified_sample()),
    "mixture_sample": (q_mixture_sample, _sql_mixture_sample()),
    "shard_pack": (q_shard_pack, SQL_SHARD_PACK),
    "dedup_clusters": (q_dedup_clusters, SQL_DEDUP_CLUSTERS),
    "clean_text": (q_clean_text, SQL_CLEAN_TEXT),
    "vocab_topk": (q_vocab_topk, SQL_VOCAB_TOPK),
    "pii_flags": (q_pii_flags, SQL_PII_FLAGS),
    "decontam_exact": (q_decontam_exact, SQL_DECONTAM_EXACT),
    "decontam_fuzzy": (q_decontam_fuzzy, SQL_DECONTAM_FUZZY),
}
