"""Round-3 session-C contract entries: tokenizer training (distributed
BPE), embedding linear algebra (one-pass covariance), and an
entity-resolution flagship (block → fuzzy match → components → survivor).

Float discipline as contract.py: float aggregates rounded to R=6 (money to
2) in BOTH engines so cross-engine summation order cannot flip the hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .contract import _t

# ---------------------------------------------------------------------------
# bpe_merges: distributed byte-pair-encoding merge training
# ---------------------------------------------------------------------------

_BPE_K = 6


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 6 BPE merges learned from the documents corpus (word-type
    frequency weighting, greedy left-to-right application — see
    operators/bpe.py for the scale argument: one corpus-sized shuffle
    total, then vocab-bounded rounds with 1-row driver traffic each)."""
    from gridmet_etl_spark.operators.bpe import bpe_train

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return bpe_train(docs, k=_BPE_K)


def _sql_bpe_merges(k: int = _BPE_K) -> str:
    """The same k merge rounds unrolled as chained CTEs. Round i: count
    adjacent sentinel-wrapped symbol pairs weighted by word frequency,
    take the (count DESC, l, r) argmax, apply it with a literal replace
    (ANSI replace is left-to-right non-overlapping — identical greedy
    semantics to the Spark side). The round CTEs are MATERIALIZED: each
    s{i} feeds both p{i+1} and s{i+1}, so DuckDB's inlining would re-derive
    every earlier round twice per round (2^k scans of the corpus)."""
    parts = [
        r"""WITH words AS (
  SELECT w, count(*) AS freq FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
  ) WHERE regexp_matches(w, '^[a-z]+$') GROUP BY w
),
s0 AS MATERIALIZED (
  SELECT regexp_replace(w, '(.)', '<\1>', 'g') AS s, freq FROM words)"""
    ]
    for i in range(1, k + 1):
        parts.append(
            f"""p{i} AS MATERIALIZED (
  SELECT a[j] AS l, a[j+1] AS r, CAST(sum(freq) AS BIGINT) AS c
  FROM (SELECT string_split(s[2:-2], '><') AS a, freq FROM s{i - 1}),
       LATERAL (SELECT unnest(range(1, len(a))) AS j)
  GROUP BY l, r
),
b{i} AS MATERIALIZED (SELECT l, r, c FROM p{i} ORDER BY c DESC, l, r LIMIT 1),
s{i} AS MATERIALIZED (SELECT replace(s,
           (SELECT '<' || l || '><' || r || '>' FROM b{i}),
           (SELECT '<' || l || r || '>' FROM b{i})) AS s, freq FROM s{i - 1})"""
        )
    sel = "\nUNION ALL\n".join(
        f"SELECT {i} AS merge_rank, l AS left_sym, r AS right_sym,"
        f" c AS pair_count FROM b{i}"
        for i in range(1, k + 1)
    )
    return ",\n".join(parts) + "\n" + sel


SQL_BPE_MERGES = _sql_bpe_merges()


# ---------------------------------------------------------------------------
# embed_covariance: one-pass covariance matrix of the embedding column
# ---------------------------------------------------------------------------


def q_embed_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle population covariance of the 64-dim embedding column
    (1-based i <= j). One vectorized pass: per-partition numpy Gram
    partials, a #partitions × O(d²) exchange, and bounded broadcast joins
    for the mean/count — the corpus is never shuffled."""
    from gridmet_etl_spark.operators.linalg import embed_covariance

    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    return embed_covariance(emb, dim=64)


SQL_EMBED_COVARIANCE = """
WITH e AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings)
SELECT a.i AS i, b.i AS j, ROUND(covar_pop(a.x, b.x), 6) + 0 AS cov
FROM e a JOIN e b ON a.vec_id = b.vec_id AND b.i >= a.i
GROUP BY a.i, b.i
"""


# ---------------------------------------------------------------------------
# entity_resolution: block -> fuzzy match -> components -> survivorship
# ---------------------------------------------------------------------------

_ER_MAX_DIST = 3


def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end record linkage over the part table: brand-blocked
    levenshtein matching (≤ 3), min-label connected components, then
    golden-record election by max retail price (ties to lowest id).
    Output is one row per multi-member cluster. Every join is either
    block-keyed (the matcher shuffle) or cluster-keyed (election +
    rollup share one partitioning); the component loop is
    vocab-of-duplicates-sized, not table-sized."""
    from gridmet_etl_spark.operators.cluster import survivorship
    from gridmet_etl_spark.operators.simjoin import fuzzy_join

    part = spark.read.parquet(_t(sf_dir, "part"))
    # exact-name canonicalization BEFORE the fuzzy block join (the minhash
    # star discipline applied to record linkage): duplicate (brand, name)
    # rows — the dominant shape in any dedup-worthy catalog, and ×10 by
    # construction in the derived sf1 tables — link to their group's min-id
    # representative with distance-0 STAR edges (linear), and the
    # O(block²) levenshtein join runs over DISTINCT names only. Connected
    # components are provably identical: any qualifying pair (a, b)
    # remains connected via a—rep(a)—rep(b)—b, and every emitted edge is a
    # valid ≤max_dist pair. Measured: the ×10 part table fell from ratio
    # 21.6 (pairs grow ×100 with duplicated names) to near-linear.
    reps = part.groupBy("p_brand", "p_name").agg(
        F.min("p_partkey").alias("rep_id")
    )
    star = (
        part.join(reps, ["p_brand", "p_name"])
        .where(F.col("p_partkey") != F.col("rep_id"))
        .select(
            F.col("rep_id").alias("doc_a"), F.col("p_partkey").alias("doc_b")
        )
    )
    rep_rows = reps.select(
        F.col("rep_id").alias("p_partkey"), "p_brand", "p_name"
    )
    left = rep_rows.repartition(spark.sparkContext.defaultParallelism)
    fuzzy = fuzzy_join(
        left, rep_rows, "p_brand", "p_name", _ER_MAX_DIST, "p_partkey"
    ).select(F.col("a_id").alias("doc_a"), F.col("b_id").alias("doc_b"))
    pairs = star.unionByName(fuzzy)
    out = survivorship(
        pairs, part, id_col="p_partkey", quality_col="p_retailprice"
    )
    return out.where(F.col("n_members") >= 2).select(
        "cluster_id",
        "survivor_id",
        "n_members",
        F.round("total_quality", 2).alias("total_quality"),
    )


SQL_ENTITY_RESOLUTION = f"""
WITH RECURSIVE pairs AS (
  SELECT a.p_partkey AS doc_a, b.p_partkey AS doc_b
  FROM part a JOIN part b
    ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
  WHERE levenshtein(a.p_name, b.p_name) <= {_ER_MAX_DIST}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs),
reach AS (
  SELECT src AS node, src AS lbl FROM edges
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
comp AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node),
assign AS (
  SELECT p.p_partkey, COALESCE(c.cluster_id, p.p_partkey) AS cluster_id,
         p.p_retailprice
  FROM part p LEFT JOIN comp c ON c.node = p.p_partkey),
elect AS (
  SELECT cluster_id, p_partkey AS survivor_id,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY p_retailprice DESC, p_partkey) AS rn
  FROM assign)
SELECT a.cluster_id, e.survivor_id,
       count(*) AS n_members,
       ROUND(sum(a.p_retailprice), 2) AS total_quality
FROM assign a JOIN elect e ON e.cluster_id = a.cluster_id AND e.rn = 1
GROUP BY a.cluster_id, e.survivor_id
HAVING count(*) >= 2
"""


# ---------------------------------------------------------------------------
# lm_scores: corpus-trained interpolated bigram LM perplexity filter
# ---------------------------------------------------------------------------


def q_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality filter: every document scored by the average
    negative log-likelihood under a bigram LM trained on the corpus
    itself (see operators/lm.py — row-local n-gram derivation, vocab- and
    bigram-sized training shuffles, broadcast unigram join)."""
    from gridmet_etl_spark.operators.lm import bigram_lm_scores

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return bigram_lm_scores(docs, lam=0.8)


SQL_LM_SCORES = r"""
WITH toks AS (
  SELECT doc_id, a[i] AS w
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS a FROM documents),
       LATERAL (SELECT unnest(range(1, len(a)+1)) AS i)),
uni AS (SELECT w, count(*) AS cu FROM toks GROUP BY w),
tot AS (SELECT count(*) AS n_total FROM toks),
big AS (
  SELECT doc_id, a[i] AS w1, a[i+1] AS w2
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS a FROM documents),
       LATERAL (SELECT unnest(range(1, len(a))) AS i)
  WHERE len(a) >= 2),
bc AS (SELECT w1, w2, count(*) AS cb FROM big GROUP BY w1, w2)
SELECT s.doc_id, count(*) AS n_bigrams,
       ROUND(avg(-ln(0.8 * bc.cb / u1.cu + 0.2 * u2.cu / tot.n_total)), 6) AS nll
FROM big s JOIN bc USING (w1, w2)
JOIN uni u1 ON u1.w = s.w1 JOIN uni u2 ON u2.w = s.w2, tot
GROUP BY s.doc_id
"""


# ---------------------------------------------------------------------------
# containment_dups: asymmetric shingle containment (excerpt detection)
# ---------------------------------------------------------------------------


def q_containment_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-containment pairs (3-gram shingles, overlap ≥ 0.9 of the
    smaller set) over the bounded corpus slice — the excerpt/boilerplate
    detector Jaccard misses."""
    from gridmet_etl_spark.operators.dedup import containment_pairs

    docs = spark.read.parquet(_t(sf_dir, "documents")).where(F.col("doc_id") < 300)
    out = containment_pairs(docs, k=3, threshold=0.9)
    return out.select("doc_a", "doc_b", F.round("containment", 6).alias("containment"))


def _sql_containment_dups() -> str:
    from .contract_ext import _SHINGLE_SQL

    return f"""
WITH shingles AS ({_SHINGLE_SQL}),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT i.doc_a, i.doc_b,
       ROUND(CAST(i.n_inter AS DOUBLE) / least(sa.n_sh, sb.n_sh), 6) AS containment
FROM inter i
JOIN sizes sa ON i.doc_a = sa.doc_id
JOIN sizes sb ON i.doc_b = sb.doc_id
WHERE CAST(i.n_inter AS DOUBLE) / least(sa.n_sh, sb.n_sh) >= 0.9
"""


# ---------------------------------------------------------------------------
# quota_filter: per-source token-budget enforcement (batch twin of the
# transformWithStateInPandas streaming quota)
# ---------------------------------------------------------------------------

_QUOTA_BUDGET = 5_000


def q_quota_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-come-first-served token budget per source: running prefix sum
    in doc_id order, keep while the cumulative total stays within budget.
    The streaming twin (streaming/quota.py) holds one bigint of state per
    source and is asserted batch-equivalent in tests."""
    from gridmet_etl_spark.streaming.quota import quota_filter

    docs = spark.read.parquet(_t(sf_dir, "documents")).withColumn(
        "n_tokens", F.size(F.split(F.col("text"), " "))
    )
    return quota_filter(docs, budget=_QUOTA_BUDGET)


SQL_QUOTA_FILTER = f"""
WITH d AS (
  SELECT source, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents)
SELECT source, doc_id, n_tokens,
       CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_tokens,
       sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         <= {_QUOTA_BUDGET} AS kept
FROM d
"""


# ---------------------------------------------------------------------------
# minhash_estimate: sketch-based Jaccard estimation on LSH candidates
# ---------------------------------------------------------------------------


def q_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-agreement Jaccard estimates for the LSH candidate pairs
    (md5 oracle-parity path; |candidates|×n_seeds join, no shingle-set
    intersection)."""
    from .contract_ext import _docs_par
    from gridmet_etl_spark.operators.dedup import minhash_jaccard_estimate, minhash_lsh_candidates

    docs = _docs_par(spark, sf_dir).where(F.col("doc_id") < 300)
    cands = minhash_lsh_candidates(docs)
    out = minhash_jaccard_estimate(docs, cands)
    return out.select("doc_a", "doc_b", F.round("est", 6).alias("est"))


def _sql_minhash_estimate() -> str:
    from .contract_ext import _SHINGLE_SQL
    from gridmet_etl_spark.operators.dedup import N_MINHASH_SEEDS, ROWS_PER_BAND

    return f"""
WITH shingles AS ({_SHINGLE_SQL}),
sigs AS (
  SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || sh)) AS mh
  FROM shingles, generate_series(0, {N_MINHASH_SEEDS - 1}) s(seed)
  GROUP BY doc_id, seed),
bands AS (
  SELECT doc_id, CAST(floor(seed / {ROWS_PER_BAND}) AS INT) AS band,
         md5(string_agg(mh, '|' ORDER BY seed)) AS band_key
  FROM sigs GROUP BY doc_id, CAST(floor(seed / {ROWS_PER_BAND}) AS INT)),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id)
SELECT c.doc_a, c.doc_b,
       ROUND(avg(CASE WHEN sa.mh = sb.mh THEN 1.0 ELSE 0.0 END), 6) AS est
FROM cands c
JOIN sigs sa ON sa.doc_id = c.doc_a
JOIN sigs sb ON sb.doc_id = c.doc_b AND sb.seed = sa.seed
GROUP BY c.doc_a, c.doc_b
"""


# ---------------------------------------------------------------------------
# lsh_recall: index-quality evaluation of the LSH candidate generator
# ---------------------------------------------------------------------------

_RECALL_T = 0.8


def q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall/precision of MinHash-LSH candidates against the exact
    ≥ 0.8-Jaccard truth set on the bounded slice — the index-quality gate
    you run before trusting an LSH configuration at corpus scale. Both
    pair sets are md5-deterministic, so even this META-evaluation is
    oracle-checked."""
    from .contract_ext import _docs_par
    from gridmet_etl_spark.operators.dedup import minhash_lsh_candidates, ngram_jaccard_pairs

    docs = _docs_par(spark, sf_dir).where(F.col("doc_id") < 300)
    truth = ngram_jaccard_pairs(docs, threshold=_RECALL_T).select("doc_a", "doc_b")
    cands = minhash_lsh_candidates(docs).select("doc_a", "doc_b")
    hit = truth.join(cands, ["doc_a", "doc_b"], "left_semi")
    n_true = truth.count()  # driver scalars: 3 bounded counts, then 1 row
    n_cand = cands.count()
    n_hit = hit.count()
    return spark.createDataFrame(
        [
            (
                n_true,
                n_cand,
                n_hit,
                round(n_hit / n_true, 6) if n_true else None,
                round(n_hit / n_cand, 6) if n_cand else None,
            )
        ],
        "n_true bigint, n_cand bigint, n_hit bigint, recall double, precision double",
    )


def _sql_lsh_recall() -> str:
    """Every CTE read more than once is MATERIALIZED, not inlined at each
    reference."""
    from .contract_ext import _SHINGLE_SQL
    from gridmet_etl_spark.operators.dedup import N_MINHASH_SEEDS, ROWS_PER_BAND

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
  WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter) >= {_RECALL_T}),
sigs AS (
  SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || sh)) AS mh
  FROM shingles, generate_series(0, {N_MINHASH_SEEDS - 1}) s(seed)
  GROUP BY doc_id, seed),
bands AS MATERIALIZED (
  SELECT doc_id, CAST(floor(seed / {ROWS_PER_BAND}) AS INT) AS band,
         md5(string_agg(mh, '|' ORDER BY seed)) AS band_key
  FROM sigs GROUP BY doc_id, CAST(floor(seed / {ROWS_PER_BAND}) AS INT)),
cands AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
hit AS MATERIALIZED (SELECT * FROM truth SEMI JOIN cands USING (doc_a, doc_b))
SELECT (SELECT count(*) FROM truth) AS n_true,
       (SELECT count(*) FROM cands) AS n_cand,
       (SELECT count(*) FROM hit) AS n_hit,
       ROUND(CAST((SELECT count(*) FROM hit) AS DOUBLE)
             / (SELECT count(*) FROM truth), 6) AS recall,
       ROUND(CAST((SELECT count(*) FROM hit) AS DOUBLE)
             / (SELECT count(*) FROM cands), 6) AS precision
"""


# ---------------------------------------------------------------------------
# hard_negatives: contrastive mining over the labeled embeddings
# ---------------------------------------------------------------------------

from .contract_ext import _EMB_DIM  # noqa: E402

_HN_QUERIES = 20


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hardest negative per query: the most-cosine-similar vector with a
    DIFFERENT label — the pair-mining step of contrastive training. Query
    batch broadcasts; corpus is scanned once; rank on rounded similarity
    so float-sum order can't flip the argmax."""
    from .contract import R as _R
    from pyspark.sql import Window

    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    q = emb.where(F.col("vec_id") < _HN_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        F.col("label").alias("q_label"),
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            F.col("q_vec").cast("array<double>"),
            lambda x, y: x * y,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.zip_with(
                F.col(c).cast("array<double>"),
                F.col(c).cast("array<double>"),
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .where(F.col("label") != F.col("q_label"))
        .select(
            "query_id",
            F.col("vec_id").alias("negative_id"),
            F.round(dot / (nrm("embedding") * nrm("q_vec")), _R).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("negative_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("query_id", "negative_id", "sim")
    )


SQL_HARD_NEGATIVES = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS q_vec, label AS q_label
  FROM embeddings WHERE vec_id < {_HN_QUERIES}),
pairs AS (
  SELECT q.query_id, e.vec_id AS negative_id,
         ROUND(sum(CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_vec[i] AS DOUBLE))
               / (sqrt(sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
                  * sqrt(sum(CAST(q.q_vec[i] AS DOUBLE) * CAST(q.q_vec[i] AS DOUBLE)))), 6)
           AS sim
  FROM embeddings e, q, generate_series(1, {_EMB_DIM}) g(i)
  WHERE e.label <> q.q_label
  GROUP BY q.query_id, e.vec_id)
SELECT query_id, negative_id, sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, negative_id) AS rn
  FROM pairs) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# bpe_compression: tokenizer APPLY — learned merges over the whole corpus
# ---------------------------------------------------------------------------


def q_bpe_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train k merges, then tokenize the corpus with them (bpe_encode's
    scan-local k-replace pass) and report per-doc compression: char-level
    token count before vs subword count after. Proves the train+apply
    round trip end-to-end against an oracle that recomputes BOTH."""
    from gridmet_etl_spark.operators.bpe import bpe_encode, bpe_train

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    merges = [
        (r.left_sym, r.right_sym)
        for r in bpe_train(docs, k=_BPE_K).orderBy("merge_rank").collect()
    ]  # k rows — driver-bounded
    enc = bpe_encode(docs, merges)
    return enc.select(
        "doc_id",
        F.length(F.regexp_replace(F.lower(F.col("text")), "[^a-z]", "")).alias(
            "n_before"
        ),
        F.size("bpe_tokens").cast("long").alias("n_after"),
    )


def _sql_bpe_compression(k: int = _BPE_K) -> str:
    """The training CTE chain from SQL_BPE_MERGES, then the same k literal
    replaces applied to every (sentinel-wrapped) document, counting one
    token per '<'."""
    train = _sql_bpe_merges(k)
    train_ctes = train[: train.index("\nSELECT 1 AS merge_rank")]
    doc_parts = [
        r"""d0 AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(lower(text), '[^a-z ]', '', 'g'),
                        '([a-z])', '<\1>', 'g') AS s,
         len(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS n_before
  FROM documents)"""
    ]
    for i in range(1, k + 1):
        doc_parts.append(
            f"""d{i} AS (
  SELECT doc_id, replace(s,
           (SELECT '<' || l || '><' || r || '>' FROM b{i}),
           (SELECT '<' || l || r || '>' FROM b{i})) AS s, n_before FROM d{i - 1})"""
        )
    return (
        train_ctes
        + ",\n"
        + ",\n".join(doc_parts)
        + f"""
SELECT doc_id, CAST(n_before AS BIGINT) AS n_before,
       CAST(len(s) - len(replace(s, '<', '')) AS BIGINT) AS n_after
FROM d{k}
"""
    )


EXT3_QUERIES = {
    "quota_filter": (q_quota_filter, SQL_QUOTA_FILTER),
    "bpe_compression": (q_bpe_compression, _sql_bpe_compression()),
    "minhash_estimate": (q_minhash_estimate, _sql_minhash_estimate()),
    "lsh_recall": (q_lsh_recall, _sql_lsh_recall()),
    "hard_negatives": (q_hard_negatives, SQL_HARD_NEGATIVES),
    "bpe_merges": (q_bpe_merges, SQL_BPE_MERGES),
    "embed_covariance": (q_embed_covariance, SQL_EMBED_COVARIANCE),
    "entity_resolution": (q_entity_resolution, SQL_ENTITY_RESOLUTION),
    "lm_scores": (q_lm_scores, SQL_LM_SCORES),
    "containment_dups": (q_containment_dups, _sql_containment_dups()),
}
