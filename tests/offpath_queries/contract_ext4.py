"""Round-3 session-D contract entries: product-quantization ANN (codebook
training, write-time encoding, ADC search), HyperLogLog sketch rollup
tables, and operational depth added this session.

Float discipline as contract.py: float aggregates rounded to R=6 in BOTH
engines; ANN ranks order by the ROUNDED score with id tie-breaks so
cross-engine float noise cannot flip the hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .contract import R, _t

_EMB_DIM = 64
_PQ_M = 4
_PQ_KSUB = 8
_PQ_ITER = 2
_PQ_DSUB = _EMB_DIM // _PQ_M


# ---------------------------------------------------------------------------
# Product quantization: codes + ADC top-k
# ---------------------------------------------------------------------------


def _pq_books(spark: SparkSession, sf_dir: str):
    from gridmet_etl_spark.operators.pq import pq_refine, pq_seed_codebooks

    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    books = pq_refine(
        emb,
        pq_seed_codebooks(emb, m=_PQ_M, ksub=_PQ_KSUB, dim=_EMB_DIM),
        n_iter=_PQ_ITER,
    )
    return emb, books


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ index build: 2-round Lloyd per subspace from lowest-id seeds,
    then the write-time code assignment. Integer output — robust to
    float-sum order; the oracle unrolls the same rounds as CTEs keyed by
    the subspace id (operators/pq.py docstring has the scale argument:
    per-round shuffle and driver traffic are m*ksub*dsub rows)."""
    from gridmet_etl_spark.operators.pq import pq_encode

    emb, books = _pq_books(spark, sf_dir)
    return pq_encode(emb, books)


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance top-10 for the 5 lowest-id queries over the PQ
    codes: LUT entries rounded to 9, ADC sum rounded to R, ascending with
    neighbor-id ties — bit-stable across engines."""
    from gridmet_etl_spark.operators.pq import pq_adc_topk, pq_encode

    emb, books = _pq_books(spark, sf_dir)
    codes = pq_encode(emb, books)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_adc_topk(codes, queries, books, k=10, rank_round=R)


def _sql_pq_ctes(m: int = _PQ_M, ksub: int = _PQ_KSUB, n_iter: int = _PQ_ITER,
                 dsub: int = _PQ_DSUB) -> str:
    """Shared CTE chain: subvector relation, seeded codebooks, unrolled
    Lloyd rounds (L2 argmin, lowest-code ties, per-dim mean, empty cells
    keep their centroid), final assignment ``codes``. All m subspaces ride
    one chain — the subspace id is a key, mirroring the Spark job."""
    assign = lambda cents, out: f"""
s_{out} AS (
  SELECT t.vec_id, t.s, c.code,
         sum((t.v[j] - c.c[j]) * (t.v[j] - c.c[j])) AS dist
  FROM sub t, {cents} c, generate_series(1, {dsub}) g(j)
  WHERE c.s = t.s
  GROUP BY t.vec_id, t.s, c.code),
{out} AS (
  SELECT vec_id, s, code FROM (
    SELECT vec_id, s, code,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, code) AS rn
    FROM s_{out}) WHERE rn = 1)"""
    parts = [
        f"""e AS (SELECT vec_id, embedding FROM embeddings),
sub AS (
  SELECT vec_id, s,
         list_transform(list_slice(embedding, s * {dsub} + 1, s * {dsub} + {dsub}),
                        x -> CAST(x AS DOUBLE)) AS v
  FROM e, generate_series(0, {m - 1}) g(s)),
c0 AS (
  SELECT s, CAST(row_number() OVER (PARTITION BY s ORDER BY vec_id) - 1 AS INTEGER) AS code,
         v AS c
  FROM sub
  WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT {ksub}))"""
    ]
    for it in range(n_iter):
        parts.append(assign(f"c{it}", f"a{it}"))
        parts.append(f"""
m{it} AS (
  SELECT a.s, a.code, j, avg(t.v[j]) AS mu
  FROM a{it} a JOIN sub t ON a.vec_id = t.vec_id AND a.s = t.s,
       generate_series(1, {dsub}) g(j)
  GROUP BY a.s, a.code, j),
c{it + 1} AS (
  SELECT p.s, p.code, coalesce(n.c, p.c) AS c
  FROM c{it} p LEFT JOIN
       (SELECT s, code, list(mu ORDER BY j) AS c FROM m{it} GROUP BY s, code) n
       ON p.s = n.s AND p.code = n.code)""")
    parts.append(assign(f"c{n_iter}", "codes"))
    return "WITH " + ",".join(parts)


def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composition (the production vector-store shape): coarse
    cluster + PQ codes built in one write-time pass, queries probe
    clusters then ADC-score survivors. Probing ALL 8 clusters makes the
    result EXACTLY pq_adc_topk over the whole corpus — so the oracle is
    the same LUT/code-join SQL, and the recall/pruning behavior at
    n_probe < n_clusters is pinned in pytest."""
    from gridmet_etl_spark.operators.pq import ivfpq_topk, pq_index
    from gridmet_etl_spark.operators.similarity import ivf_centroids

    emb, books = _pq_books(spark, sf_dir)
    cents = ivf_centroids(emb, n_centroids=8)
    index = pq_index(emb, books, cents)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivfpq_topk(
        index, queries, books, cents, k=10, n_probe=8, rank_round=R
    )


def _sql_pq_codes(m: int = _PQ_M) -> str:
    cols = ",\n       ".join(
        f"CAST(max(CASE WHEN s = {s} THEN code END) AS INTEGER) AS code_{s}"
        for s in range(m)
    )
    return f"""{_sql_pq_ctes()},
wide AS (
  SELECT vec_id,
       {cols}
  FROM codes GROUP BY vec_id)
SELECT * FROM wide
"""


def _sql_pq_topk(k: int = 10) -> str:
    return f"""{_sql_pq_ctes()},
lut AS (
  SELECT q.vec_id AS query_id, c.s, c.code,
         ROUND(sum((q.v[j] - c.c[j]) * (q.v[j] - c.c[j])), 9) AS d
  FROM sub q, c{_PQ_ITER} c, generate_series(1, {_PQ_DSUB}) g(j)
  WHERE q.vec_id < 5 AND c.s = q.s
  GROUP BY q.vec_id, c.s, c.code),
scored AS (
  SELECT l.query_id, a.vec_id AS neighbor_id, ROUND(sum(l.d), {R}) AS adc_dist
  FROM codes a JOIN lut l ON a.s = l.s AND a.code = l.code
  WHERE a.vec_id <> l.query_id
  GROUP BY l.query_id, a.vec_id),
ranked AS (
  SELECT query_id, neighbor_id, adc_dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_dist, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, adc_dist, rank FROM ranked WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# HyperLogLog rollup tables
# ---------------------------------------------------------------------------


def q_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-rollup pattern: per-(event_type, day) HLL sketches of
    user_id built ONCE from the events scan, then merged up to event_type
    WITHOUT rescanning events — the pre-aggregation distinct counts cannot
    do with plain sums. Hashed projection: exact twin + within-5%% boolean
    (sketch bytes are engine-specific; the approx_aggs pattern)."""
    from gridmet_etl_spark.operators.sketch import hll_merge, hll_rollup

    ev = spark.read.parquet(_t(sf_dir, "events"))
    daily = hll_rollup(
        ev.withColumn("day", F.to_date("ts")), ["event_type", "day"], "user_id"
    )
    merged = hll_merge(daily, ["event_type"]).select("event_type", "approx_distinct")
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users"), F.count("*").alias("n_rows")
    )
    return (
        merged.join(exact, "event_type")
        .select(
            "event_type",
            "n_users",
            F.col("n_rows"),
            (
                F.abs(F.col("approx_distinct") - F.col("n_users"))
                <= 0.05 * F.col("n_users")
            ).alias("approx_ok"),
        )
    )


SQL_HLL_ROLLUP = """
SELECT event_type,
       count(DISTINCT user_id) AS n_users,
       count(*) AS n_rows,
       TRUE AS approx_ok
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# SCD2 point-in-time enrichment (warehouse flagship composition)
# ---------------------------------------------------------------------------


def q_scd2_pit_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup: signup events define each user's
    tier change log -> scd2_history compresses it to [valid_from,
    valid_to) intervals -> every purchase joins the tier version valid AT
    ITS OWN timestamp (the as-of semantics that prevents lookahead
    leakage in feature pipelines). Purchases before the first signup keep
    NULL. Plan: the history windows and the enrichment join all key on
    user_id — one partitioning reused end-to-end; per-user histories are
    tiny, so the interval predicate is a cheap post-join filter."""
    from gridmet_etl_spark.operators.scd import scd2_history
    from gridmet_etl_spark.sources.readers import read_events

    ev = read_events(spark, _t(sf_dir, "events"))
    changes = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", F.floor(F.col("value") / 100).cast("int").alias("tier")
    )
    hist = scd2_history(changes, ["user_id"], "tier", "ts")
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    return (
        facts.join(
            hist,
            (facts["user_id"] == hist["user_id"])
            & (facts["ts"] >= hist["valid_from"])
            & (hist["valid_to"].isNull() | (facts["ts"] < hist["valid_to"])),
            "left",
        )
        .select(
            "event_id",
            facts["user_id"],
            "tier",
            F.round(facts["value"], R).alias("value"),
        )
    )


SQL_SCD2_PIT_ENRICH = f"""
WITH changes AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
         CAST(floor(value / 100) AS INTEGER) AS tier
  FROM events WHERE event_type = 'signup'),
runs AS (
  SELECT user_id, ts, tier,
         lag(tier) OVER (PARTITION BY user_id ORDER BY ts, tier) AS prev
  FROM changes),
hist AS (
  SELECT user_id, tier, ts AS valid_from,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, tier) AS valid_to
  FROM (SELECT * FROM runs WHERE prev IS NULL OR tier <> prev)),
facts AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
  FROM events WHERE event_type = 'purchase')
SELECT f.event_id, f.user_id, h.tier, ROUND(f.value, {R}) AS value
FROM facts f LEFT JOIN hist h
  ON h.user_id = f.user_id AND f.ts >= h.valid_from
 AND (h.valid_to IS NULL OR f.ts < h.valid_to)
"""


# ---------------------------------------------------------------------------
# Time-weighted average (irregular series)
# ---------------------------------------------------------------------------


def q_twap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user-per-day time-weighted mean of event values (zero-order
    hold): the aggregate a plain avg gets wrong under irregular spacing.
    Single-observation days -> NULL twap."""
    from gridmet_etl_spark.operators.timeseries import time_weighted_avg
    from gridmet_etl_spark.sources.readers import read_events

    ev = read_events(spark, _t(sf_dir, "events")).withColumn(
        "day", F.to_date("ts")
    )
    return time_weighted_avg(ev, ["user_id", "day"])


SQL_TWAP_DAILY = """
WITH obs AS (
  SELECT user_id, CAST(ts AS DATE) AS day, CAST(ts AS TIMESTAMP) AS ts, value
  FROM events),
stepped AS (
  SELECT user_id, day, value,
         epoch_us(lead(ts) OVER w) - epoch_us(ts) AS dt
  FROM obs
  WINDOW w AS (PARTITION BY user_id, day ORDER BY ts, value))
SELECT user_id, day,
       ROUND(sum(value * dt) / sum(dt), 6) AS twap,
       count(*) AS n_obs
FROM stepped GROUP BY user_id, day
"""


# ---------------------------------------------------------------------------
# k-center coreset (diversity sampling / data pruning)
# ---------------------------------------------------------------------------

_KC_K = 6


def q_coreset_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset over the embeddings corpus: 6 farthest-
    point centers from the lowest-id seed, then every vector labeled with
    its nearest center and distance. The oracle unrolls the same greedy
    rounds as CTEs (argmax ties to lowest id, assignment ties to lowest
    center index)."""
    from gridmet_etl_spark.operators.similarity import kcenter_coreset

    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    return kcenter_coreset(emb, k=_KC_K)


def _sql_coreset_assign(k: int = _KC_K, dim: int = _EMB_DIM) -> str:
    """Unrolled greedy k-center: d_i = running min distance after center i;
    s_{i+1} = argmax d_i. Distances via the grouped generate_series sum,
    multiplication not power, mirroring the Spark expression."""
    parts = [
        f"""e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
s0 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1),
d0 AS (
  SELECT e.vec_id, e.v, sum((e.v[i] - c.v[i]) * (e.v[i] - c.v[i])) AS mind
  FROM e, s0 c, generate_series(1, {dim}) g(i)
  GROUP BY e.vec_id, e.v)"""
    ]
    for r in range(1, k):
        parts.append(f"""
s{r} AS (SELECT vec_id, v FROM d{r - 1} ORDER BY mind DESC, vec_id LIMIT 1),
d{r} AS (
  SELECT d.vec_id, d.v,
         least(d.mind, (SELECT sum((d.v[i] - c.v[i]) * (d.v[i] - c.v[i]))
                        FROM s{r} c, generate_series(1, {dim}) g(i))) AS mind
  FROM d{r - 1} d)""")
    centers = " UNION ALL ".join(
        f"SELECT {cid} AS cid, vec_id, v FROM s{cid}" for cid in range(k)
    )
    parts.append(f"""
centers AS ({centers}),
dists AS (
  SELECT e.vec_id, c.cid, c.vec_id AS center_id,
         sum((e.v[i] - c.v[i]) * (e.v[i] - c.v[i])) AS dist
  FROM e, centers c, generate_series(1, {dim}) g(i)
  GROUP BY e.vec_id, c.cid, c.vec_id),
best AS (
  SELECT vec_id, center_id, dist,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
  FROM dists)""")
    return (
        "WITH " + ",".join(parts)
        + """
SELECT vec_id, center_id, ROUND(dist, 6) AS center_dist
FROM best WHERE rn = 1
"""
    )


# ---------------------------------------------------------------------------
# HITS hubs/authorities over the synthetic link layer
# ---------------------------------------------------------------------------


def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact HITS (3 unnormalized rounds from all-ones hubs —
    proportional to normalized HITS per round, see graph.hits) over the
    same deterministic link layer as the pagerank query. Authority ranking
    is the curation signal PageRank misses: pages LINKED BY good hubs."""
    import os as _os

    from .contract import FIXDIR
    from gridmet_etl_spark.operators.graph import hits, link_graph

    pages = spark.read.parquet(_os.path.join(FIXDIR, "webpages.parquet"))
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
    return hits(link_graph(aug), iters=3).orderBy("node")


def _sql_hits(iters: int = 3) -> str:
    import os as _os

    from .contract import FIXDIR

    path = _os.path.join(FIXDIR, "webpages.parquet")
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
        """nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)""",
        """h0 AS (SELECT node, CAST(1 AS BIGINT) AS hub FROM nodes)""",
    ]
    for i in range(iters):
        ctes.append(f"""a{i + 1} AS (
  SELECT n.node, CAST(COALESCE(s.v, 0) AS BIGINT) AS auth
  FROM nodes n LEFT JOIN
       (SELECT e.dst AS node, sum(h.hub) AS v
        FROM h{i} h JOIN edges e ON e.src = h.node GROUP BY e.dst) s
       USING (node))""")
        ctes.append(f"""h{i + 1} AS (
  SELECT n.node, CAST(COALESCE(s.v, 0) AS BIGINT) AS hub
  FROM nodes n LEFT JOIN
       (SELECT e.src AS node, sum(a.auth) AS v
        FROM a{i + 1} a JOIN edges e ON e.dst = a.node GROUP BY e.src) s
       USING (node))""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT a.node, a.auth, h.hub FROM a{iters} a JOIN h{iters} h USING (node) ORDER BY a.node"
    )


# ---------------------------------------------------------------------------
# Exact weighted median
# ---------------------------------------------------------------------------


def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag: the robust central
    price where every unit sold counts, not every line item (the exact
    statistic percentile() cannot weight). Lower-median convention, ties
    pinned by (orderkey, linenumber)."""
    from gridmet_etl_spark.operators.stats import weighted_median

    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    out = weighted_median(
        li,
        ["l_returnflag"],
        "l_extendedprice",
        "l_quantity",
        tie_cols=("l_orderkey", "l_linenumber"),
    )
    return out.select(
        "l_returnflag",
        F.round("w_median", 2).alias("w_median"),
        F.round("total_weight", R).alias("total_weight"),
    )


SQL_WEIGHTED_MEDIAN = f"""
WITH flagged AS (
  SELECT l_returnflag, l_extendedprice, l_orderkey, l_linenumber,
         sum(l_quantity) OVER (PARTITION BY l_returnflag
                               ORDER BY l_extendedprice, l_orderkey, l_linenumber
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tw
  FROM lineitem),
crossing AS (
  SELECT l_returnflag, l_extendedprice, tw,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn
  FROM flagged WHERE cw * 2 >= tw)
SELECT l_returnflag, ROUND(l_extendedprice, 2) AS w_median,
       ROUND(tw, {R}) AS total_weight
FROM crossing WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Cohort LTV (cumulative revenue by cohort age)
# ---------------------------------------------------------------------------


def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lifetime-value curves: users cohorted by first-activity week,
    purchase revenue accumulated by weeks-since-cohort. Completes the
    cohort suite (retention_cohorts counts users; this follows the money).
    Plan: one user-keyed min-ts agg (broadcast back), one
    (cohort, age)-keyed partial agg, then a cumulative window over the
    |cohorts|×|ages| relation — bounded, never the events table."""
    from gridmet_etl_spark.sources.readers import read_events

    ev = read_events(spark, _t(sf_dir, "events"))
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    rev = (
        ev.where(F.col("event_type") == "purchase")
        .join(F.broadcast(first), "user_id")
        .select(
            "cohort_week",
            F.floor(
                F.datediff(F.col("ts").cast("date"), F.col("cohort_week")) / 7
            ).alias("age_week"),
            "value",
        )
        .groupBy("cohort_week", "age_week")
        .agg(F.sum("value").alias("_rev"), F.count("*").alias("n_purchases"))
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("age_week")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return rev.select(
        "cohort_week",
        "age_week",
        "n_purchases",
        F.round(F.sum("_rev").over(w), R).alias("cum_revenue"),
    )


SQL_COHORT_LTV = f"""
WITH first AS (
  SELECT user_id,
         CAST(date_trunc('week', min(CAST(ts AS TIMESTAMP))) AS DATE) AS cohort_week
  FROM events GROUP BY user_id),
rev AS (
  SELECT f.cohort_week,
         CAST(floor(date_diff('day', f.cohort_week, CAST(e.ts AS DATE)) / 7.0) AS BIGINT) AS age_week,
         sum(e.value) AS _rev, count(*) AS n_purchases
  FROM events e JOIN first f USING (user_id)
  WHERE e.event_type = 'purchase'
  GROUP BY f.cohort_week, age_week)
SELECT cohort_week, age_week, n_purchases,
       ROUND(sum(_rev) OVER (PARTITION BY cohort_week ORDER BY age_week
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), {R})
         AS cum_revenue
FROM rev
"""


# ---------------------------------------------------------------------------
# TextRank-style keyword extraction (word graph → integer HITS)
# ---------------------------------------------------------------------------

_TR_K = 20


def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-based keyword extraction (TextRank's shape, Mihalcea & Tarau
    2004): adjacent-word co-occurrence edges over the corpus (both
    directions, distinct), ranked by the integer-exact HITS iteration —
    words endorsed by well-connected neighbors win. Edge building is one
    codegen pass (split → zip-adjacent → explode); the graph is
    vocabulary-sized, so every iteration shuffle is tiny relative to the
    corpus. Top-20 by authority, ties to the word."""
    from gridmet_etl_spark.operators.graph import hits

    docs = spark.read.parquet(_t(sf_dir, "documents")).filter(F.col("doc_id") < 300)
    toks = docs.select(
        F.split(F.lower(F.regexp_replace("text", r"[^A-Za-z ]", " ")), r"\s+").alias("t")
    ).select(F.filter("t", lambda x: F.length(x) >= 3).alias("t"))
    pairs = toks.select(
        F.explode(
            F.arrays_zip(
                F.slice("t", 1, F.greatest(F.size("t") - 1, F.lit(0))),
                F.slice("t", 2, F.greatest(F.size("t") - 1, F.lit(0))),
            )
        ).alias("p")
    ).select(F.col("p.0").alias("src"), F.col("p.1").alias("dst"))
    edges = (
        pairs.where(F.col("src") != F.col("dst"))
        .union(pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    scored = hits(edges, iters=3)
    w = Window.orderBy(F.col("auth").desc(), F.col("node"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _TR_K)
        .select(F.col("node").alias("word"), "auth", "rank")
    )


def _sql_textrank(k: int = _TR_K, iters: int = 3) -> str:
    ctes = [
        r"""toks AS (
  SELECT list_filter(
           string_split_regex(lower(regexp_replace(text, '[^A-Za-z ]', ' ', 'g')), '\s+'),
           x -> length(x) >= 3) AS t
  FROM documents WHERE doc_id < 300)""",
        """rawp AS (
  SELECT t[i] AS src, t[i + 1] AS dst
  FROM toks, generate_series(1, 100000) g(i)
  WHERE i <= len(t) - 1)""",
        """edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM rawp WHERE src <> dst
    UNION ALL SELECT dst, src FROM rawp WHERE src <> dst))""",
        """nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)""",
        """h0 AS (SELECT node, CAST(1 AS BIGINT) AS hub FROM nodes)""",
    ]
    for i in range(iters):
        ctes.append(f"""a{i + 1} AS (
  SELECT n.node, CAST(COALESCE(s.v, 0) AS BIGINT) AS auth
  FROM nodes n LEFT JOIN
       (SELECT e.dst AS node, sum(h.hub) AS v
        FROM h{i} h JOIN edges e ON e.src = h.node GROUP BY e.dst) s
       USING (node))""")
        ctes.append(f"""h{i + 1} AS (
  SELECT n.node, CAST(COALESCE(s.v, 0) AS BIGINT) AS hub
  FROM nodes n LEFT JOIN
       (SELECT e.src AS node, sum(a.auth) AS v
        FROM a{i + 1} a JOIN edges e ON e.dst = a.node GROUP BY e.src) s
       USING (node))""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT node AS word, auth, rank FROM (
  SELECT node, auth, row_number() OVER (ORDER BY auth DESC, node) AS rank
  FROM a{iters})
WHERE rank <= {k}"""
    )


# ---------------------------------------------------------------------------
# PSI distribution drift
# ---------------------------------------------------------------------------

_PSI_BINS = 10
_PSI_W = 50.0


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index of each event type's value distribution
    against the 'view' baseline: fixed-width bins over [0, 500], add-one
    smoothing so empty bins stay defined, PSI = sum (p-q)·ln(p/q). The
    standard train/serve drift gate; two partial-agg passes over events
    (bin counts are |types|×bins rows) and a broadcast of the baseline."""
    ev = spark.read.parquet(_t(sf_dir, "events"))
    binned = ev.select(
        "event_type",
        F.least(F.floor(F.col("value") / _PSI_W), F.lit(_PSI_BINS - 1)).alias("bin"),
    )
    counts = binned.groupBy("event_type", "bin").agg(F.count("*").alias("c"))
    totals = binned.groupBy("event_type").agg(F.count("*").alias("n"))
    base = (
        counts.where(F.col("event_type") == "view")
        .select("bin", F.col("c").alias("cb"))
    )
    base_n = totals.where(F.col("event_type") == "view").select(
        F.col("n").alias("nb")
    )
    bins = spark.range(_PSI_BINS).select(F.col("id").alias("bin"))
    cur = (
        totals.where(F.col("event_type") != "view")
        .crossJoin(bins)
        .join(counts, ["event_type", "bin"], "left")
        .select("event_type", "bin", "n", F.coalesce("c", F.lit(0)).alias("cc"))
    )
    full = (
        cur.join(F.broadcast(base), "bin", "left")
        .crossJoin(F.broadcast(base_n))
        .select(
            "event_type",
            (
                (F.coalesce("cb", F.lit(0)) + 1)
                / (F.col("nb") + _PSI_BINS)
            ).alias("p"),
            ((F.col("cc") + 1) / (F.col("n") + _PSI_BINS)).alias("q"),
            "n",
        )
    )
    return full.groupBy("event_type").agg(
        F.round(F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))), R).alias("psi"),
        F.max("n").alias("n_rows"),
    )


SQL_PSI_DRIFT = f"""
WITH binned AS (
  SELECT event_type,
         least(CAST(floor(value / {_PSI_W}) AS BIGINT), {_PSI_BINS - 1}) AS bin
  FROM events),
counts AS (SELECT event_type, bin, count(*) AS c FROM binned GROUP BY event_type, bin),
totals AS (SELECT event_type, count(*) AS n FROM binned GROUP BY event_type),
base AS (SELECT bin, c AS cb FROM counts WHERE event_type = 'view'),
base_n AS (SELECT n AS nb FROM totals WHERE event_type = 'view'),
bins AS (SELECT range AS bin FROM range({_PSI_BINS})),
cur AS (
  SELECT t.event_type, b.bin, t.n, COALESCE(c.c, 0) AS cc
  FROM totals t CROSS JOIN bins b
  LEFT JOIN counts c ON c.event_type = t.event_type AND c.bin = b.bin
  WHERE t.event_type <> 'view'),
full_rel AS (
  SELECT cur.event_type,
         CAST(COALESCE(base.cb, 0) + 1 AS DOUBLE) / (base_n.nb + {_PSI_BINS}) AS p,
         CAST(cur.cc + 1 AS DOUBLE) / (cur.n + {_PSI_BINS}) AS q,
         cur.n
  FROM cur LEFT JOIN base USING (bin) CROSS JOIN base_n)
SELECT event_type,
       ROUND(sum((p - q) * ln(p / q)), {R}) AS psi,
       max(n) AS n_rows
FROM full_rel GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Native session windows (F.session_window)
# ---------------------------------------------------------------------------


def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's BUILT-IN session windows — the declarative twin of
    sessionize_batch's lag-window formulation and streaming/events.py's
    stateful sessionizer. Boundary semantics (pinned by
    test_session_window_native): an event at EXACTLY the previous window's
    end merges into it — i.e. a gap must EXCEED the timeout to split,
    identical to the lag form's `>` rule — and the reported window end is
    last event + gap. One user-keyed exchange (partial-agg session merge
    is Catalyst's MergingSessions operator)."""
    from gridmet_etl_spark.sources.readers import read_events

    ev = read_events(spark, _t(sf_dir, "events"))
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), R).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


SQL_SESSION_WINDOWS = f"""
WITH flagged AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
         CASE WHEN CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER w
                   > INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sessioned AS (
  SELECT user_id, ts, value,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sidx
  FROM flagged)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL '30 minutes' AS session_end,
       count(*) AS n_events, ROUND(sum(value), {R}) AS sum_value
FROM sessioned GROUP BY user_id, sidx
"""


# ---------------------------------------------------------------------------
# Retrieval quality: NDCG@k of cosine top-k against label relevance
# ---------------------------------------------------------------------------


def q_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the exact cosine retriever, binary relevance = neighbor
    shares the query's label. IDCG uses the corpus-ideal: min(#same-label
    vectors excluding the query, 10) ones in front. The eval completes the
    index-quality suite (lsh_recall measures candidate coverage, this
    measures RANKING quality). All ranking work is the cosine_topk plan;
    the eval itself is one broadcast label join + a per-query aggregate."""
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
    rel = (
        hits.join(F.broadcast(qlab), "query_id")
        .join(
            F.broadcast(labels.withColumnRenamed("vec_id", "neighbor_id")),
            "neighbor_id",
        )
        .withColumn("rel", (F.col("label") == F.col("qlabel")).cast("int"))
    )
    n_rel = (
        emb.alias("a")
        .join(F.broadcast(qlab), F.col("a.label") == F.col("qlabel"))
        .where(F.col("a.vec_id") != F.col("query_id"))
        .groupBy("query_id")
        .agg(F.count("*").alias("n_same"))
    )
    dcg = rel.groupBy("query_id").agg(
        F.sum(F.col("rel") / F.log2(F.col("rank") + 1)).alias("_dcg")
    )
    # ideal: the min(n_same, 10) relevant docs in front
    idcg = n_rel.select(
        "query_id",
        F.expr(
            "aggregate(sequence(1, int(least(n_same, 10))), 0.0d,"
            " (acc, i) -> acc + 1.0d / log2(i + 1))"
        ).alias("_idcg"),
    )
    return (
        dcg.join(idcg, "query_id")
        .select(
            "query_id",
            F.round("_dcg", R).alias("dcg"),
            F.round("_idcg", R).alias("idcg"),
            F.round(F.col("_dcg") / F.col("_idcg"), R).alias("ndcg"),
        )
    )


SQL_NDCG_EVAL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec, label AS qlabel
           FROM embeddings WHERE vec_id < 5),
pairs AS (
  SELECT q.query_id, q.qlabel, e.vec_id AS neighbor_id, e.label,
         sum(CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_vec[i] AS DOUBLE)) AS dot,
         sqrt(sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) AS n_e,
         sqrt(sum(CAST(q.q_vec[i] AS DOUBLE) * CAST(q.q_vec[i] AS DOUBLE))) AS n_q
  FROM embeddings e, q, generate_series(1, {_EMB_DIM}) g(i)
  WHERE e.vec_id <> q.query_id
  GROUP BY q.query_id, q.qlabel, e.vec_id, e.label),
ranked AS (
  SELECT query_id, qlabel, label,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY ROUND(dot / (n_e * n_q), {R}) DESC, neighbor_id) AS rank
  FROM pairs),
dcg AS (
  SELECT query_id,
         sum(CASE WHEN label = qlabel THEN 1.0 ELSE 0.0 END / log2(rank + 1)) AS _dcg
  FROM ranked WHERE rank <= 10 GROUP BY query_id),
nrel AS (
  SELECT q.query_id, count(*) AS n_same
  FROM embeddings e JOIN q ON e.label = q.qlabel AND e.vec_id <> q.query_id
  GROUP BY q.query_id),
idcg AS (
  SELECT n.query_id, sum(1.0 / log2(i + 1)) AS _idcg
  FROM nrel n, generate_series(1, 10) g(i)
  WHERE i <= least(n.n_same, 10)
  GROUP BY n.query_id)
SELECT d.query_id, ROUND(d._dcg, {R}) AS dcg, ROUND(i._idcg, {R}) AS idcg,
       ROUND(d._dcg / i._idcg, {R}) AS ndcg
FROM dcg d JOIN idcg i ON d.query_id = i.query_id
"""


# ---------------------------------------------------------------------------
# Multi-touch attribution credit
# ---------------------------------------------------------------------------


def q_multitouch_credit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each click distributes one unit of
    credit equally over the user's views in the 30 minutes before it
    (inclusive bounds mirror attribution_join); output is per-VIEW total
    credit and contributing-click count. Same bounded interval join as
    attribution_join, plus one view-keyed rollup."""
    from gridmet_etl_spark.sources.readers import read_events
    from gridmet_etl_spark.streaming.attribution import attribution_join

    ev = read_events(spark, _t(sf_dir, "events"))
    pairs = attribution_join(
        ev, left_type="view", right_type="click", within_minutes=30
    )
    per_click = pairs.groupBy("right_id").agg(
        F.count("*").alias("n_touch")
    )
    return (
        pairs.join(F.broadcast(per_click), "right_id")
        .groupBy(F.col("left_id").alias("view_id"))
        .agg(
            F.round(F.sum(1.0 / F.col("n_touch")), R).alias("credit"),
            F.count("*").alias("n_clicks"),
        )
    )


SQL_MULTITOUCH_CREDIT = f"""
WITH l AS (SELECT user_id, event_id AS left_id, CAST(ts AS TIMESTAMP) AS l_ts
           FROM events WHERE event_type = 'view'),
r AS (SELECT user_id, event_id AS right_id, CAST(ts AS TIMESTAMP) AS r_ts
      FROM events WHERE event_type = 'click'),
pairs AS (
  SELECT l.left_id, r.right_id
  FROM l JOIN r ON l.user_id = r.user_id
   AND r.r_ts >= l.l_ts AND r.r_ts <= l.l_ts + INTERVAL 30 MINUTES),
per_click AS (SELECT right_id, count(*) AS n_touch FROM pairs GROUP BY right_id)
SELECT p.left_id AS view_id,
       ROUND(sum(1.0 / pc.n_touch), {R}) AS credit,
       count(*) AS n_clicks
FROM pairs p JOIN per_click pc ON p.right_id = pc.right_id
GROUP BY p.left_id
"""


# ---------------------------------------------------------------------------
# Label-propagation communities
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 3


def q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous LPA over the 3-gram Jaccard >= 0.5
    similarity graph (denser than the 0.8 dedup graph, so communities are
    not just connected components): 3 fixed rounds, most-frequent neighbor
    label with lowest-label ties. Oracle unrolls the rounds."""
    from gridmet_etl_spark.operators.dedup import ngram_jaccard_pairs
    from gridmet_etl_spark.operators.graph import label_propagation

    docs = spark.read.parquet(_t(sf_dir, "documents")).filter(F.col("doc_id") < 300)
    pairs = ngram_jaccard_pairs(docs, threshold=0.5).select("doc_a", "doc_b")
    return label_propagation(pairs, n_rounds=_LPA_ROUNDS).select(
        F.col("node").alias("doc_id"), "community"
    )


def _sql_lpa_communities(n_rounds: int = _LPA_ROUNDS) -> str:
    """The CTEs read more than once are MATERIALIZED: DuckDB would
    otherwise inline the shingle self-join into every round."""
    from .contract_ext import _SHINGLE_SQL

    parts = [
        f"""shingles AS MATERIALIZED ({_SHINGLE_SQL}),
sizes AS MATERIALIZED (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id),
pairs AS MATERIALIZED (
  SELECT i.doc_a, i.doc_b FROM inter i
  JOIN sizes sa ON i.doc_a = sa.doc_id
  JOIN sizes sb ON i.doc_b = sb.doc_id
  WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter) >= 0.5),
edges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs),
l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS community FROM edges)"""
    ]
    for r in range(1, n_rounds + 1):
        mat = "MATERIALIZED " if r < n_rounds else ""
        parts.append(f"""
n{r} AS (
  SELECT e.src, l.community, count(*) AS n
  FROM edges e JOIN l{r - 1} l ON l.node = e.dst
  GROUP BY e.src, l.community),
t{r} AS (
  SELECT src AS node, community FROM (
    SELECT src, community,
           row_number() OVER (PARTITION BY src ORDER BY n DESC, community) AS rn
    FROM n{r}) WHERE rn = 1),
l{r} AS {mat}(
  SELECT l.node, coalesce(t.community, l.community) AS community
  FROM l{r - 1} l LEFT JOIN t{r} t USING (node))""")
    return (
        "WITH " + ",".join(parts)
        + f"\nSELECT node AS doc_id, community FROM l{n_rounds}"
    )


EXT4_QUERIES = {
    "pq_codes": (q_pq_codes, _sql_pq_codes()),
    "pq_topk": (q_pq_topk, _sql_pq_topk()),
    "hll_rollup": (q_hll_rollup, SQL_HLL_ROLLUP),
    "scd2_pit_enrich": (q_scd2_pit_enrich, SQL_SCD2_PIT_ENRICH),
    "twap_daily": (q_twap_daily, SQL_TWAP_DAILY),
    "coreset_assign": (q_coreset_assign, _sql_coreset_assign()),
    "ndcg_eval": (q_ndcg_eval, SQL_NDCG_EVAL),
    "multitouch_credit": (q_multitouch_credit, SQL_MULTITOUCH_CREDIT),
    "lpa_communities": (q_lpa_communities, _sql_lpa_communities()),
    "session_windows": (q_session_windows, SQL_SESSION_WINDOWS),
    "hits_scores": (q_hits_scores, _sql_hits()),
    "psi_drift": (q_psi_drift, SQL_PSI_DRIFT),
    "textrank_keywords": (q_textrank_keywords, _sql_textrank()),
    "cohort_ltv": (q_cohort_ltv, SQL_COHORT_LTV),
    "weighted_median": (q_weighted_median, SQL_WEIGHTED_MEDIAN),
    "ivfpq_topk": (q_ivfpq_topk, _sql_pq_topk()),  # exhaustive probe == pq_adc
}
