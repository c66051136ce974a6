"""Round-3 contract entries, session B: relational linear algebra and
graph/geo joins that previously had only pytest coverage or no oracle-able
form —

- ``pca_power``: top principal component by fixed-round power iteration
  over the one-pass covariance relation. `pca_components` (linalg.py) does
  the same job with a driver-side eigh, which no SQL engine can replay;
  the power-iteration form is pure relational algebra, so the DuckDB
  oracle unrolls the rounds CTE-for-CTE and the driver can hash-check the
  loadings.
- ``geo_knn``: exact radius-bounded k-nearest-neighbor join on synthetic
  lat/lon points (deterministic modular placement from c_custkey, so both
  engines derive bit-identical coordinates). The Spark side proves the 3×3
  cell-blocked join exact against the oracle's brute-force cross join —
  the blocking is the 100 TB path, the cross join is the sf0.01 referee.
- ``sssp_hops``: Bellman-Ford shortest paths (5 synchronous relaxation
  rounds, integer weights → exact arithmetic) over a deterministic
  2-out-regular graph on the customer keys; the oracle unrolls each
  relaxation as a min-join CTE.

Float discipline: pca_power pins its input (the covariance is rounded at
R=6 in both engines before iterating) and rounds outputs at R; geo_knn
ranks on the ROUNDED distance (transcendental results are ulp-fragile
across engines); sssp is integer-exact end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .contract import R, _t

EMB_DIM = 64
_PCA_ROUNDS = 3

_GEO_K = 3
_GEO_RADIUS_KM = 50.0
_GEO_CELL_DEG = 1.0

_SSSP_ROUNDS = 5
_SSSP_SEED = 1

# ---------------------------------------------------------------------------
# pca_power: top principal component via relational power iteration
# ---------------------------------------------------------------------------


def q_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top PC of the 64-dim embedding column: one-pass covariance (the
    only data-sized stage) then 3 relational matvec rounds — every
    iteration relation is d²-bounded, so the cost after the scan is
    independent of N."""
    from gridmet_etl_spark.operators.linalg import embed_covariance, power_iteration

    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    cov = embed_covariance(emb, dim=EMB_DIM, ndigits=R)
    return power_iteration(cov, dim=EMB_DIM, rounds=_PCA_ROUNDS, ndigits=R)


def _sql_pca_power() -> str:
    """Every CTE read more than once (the covariance chain and the last
    two iterates) is MATERIALIZED, not inlined at each reference."""
    matvec = (
        "SELECT c.i AS j, sum(c.cov * {v}.x) AS x\n"
        "  FROM c JOIN {v} ON c.j = {v}.j GROUP BY c.i"
    )
    rounds = ",\n".join(
        f"v{r + 1} AS {'MATERIALIZED ' if r + 1 >= _PCA_ROUNDS - 1 else ''}(\n"
        f"  {matvec.format(v=f'v{r}')})"
        for r in range(_PCA_ROUNDS)
    )
    last, prev = f"v{_PCA_ROUNDS}", f"v{_PCA_ROUNDS - 1}"
    return f"""
WITH e AS MATERIALIZED (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings),
cu AS MATERIALIZED (
  SELECT a.i AS i, b.i AS j, ROUND(covar_pop(a.x, b.x), {R}) + 0 AS cov
  FROM e a JOIN e b ON a.vec_id = b.vec_id AND b.i >= a.i
  GROUP BY a.i, b.i),
c AS MATERIALIZED (SELECT i, j, cov FROM cu
      UNION ALL
      SELECT j AS i, i AS j, cov FROM cu WHERE i <> j),
v0 AS (SELECT CAST(r.range AS INT) AS j, 1.0 AS x FROM range(1, {EMB_DIM + 1}) r),
{rounds},
dots AS (
  SELECT sum(p.x * q.x) AS num, sum(p.x * p.x) AS den
  FROM {prev} p JOIN {last} q ON p.j = q.j),
nrm AS (SELECT sqrt(sum(x * x)) AS nrm FROM {last}),
sgn AS (SELECT CASE WHEN x < 0 THEN -1.0 ELSE 1.0 END AS s
        FROM {last} ORDER BY abs(x) DESC, j LIMIT 1)
SELECT v.j AS i,
       ROUND(sgn.s * v.x / nrm.nrm, {R}) + 0 AS loading,
       ROUND(dots.num / dots.den, {R}) + 0 AS eig
FROM {last} v, nrm, sgn, dots
"""


SQL_PCA_POWER = _sql_pca_power()


# ---------------------------------------------------------------------------
# geo_knn: radius-bounded exact kNN join, cell-blocked vs brute force
# ---------------------------------------------------------------------------


def _geo_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic lat/lon per customer key via integer modular
    arithmetic — every double below is exactly representable/correctly
    rounded the same way in both engines, so coordinates are
    bit-identical."""
    return spark.read.parquet(_t(sf_dir, "customer")).select(
        F.col("c_custkey").alias("point_id"),
        (
            F.lit(30.0)
            + ((F.col("c_custkey") * 48271) % 100000) / F.lit(100000.0) * 15.0
        ).alias("lat"),
        (
            F.lit(-120.0)
            + ((F.col("c_custkey") * 69621) % 100000) / F.lit(100000.0) * 20.0
        ).alias("lon"),
    )


def q_geo_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 nearest neighbors within 50 km per point. The 1° cell side
    covers 50 km in both axes up to |lat| 55° (111.32·cos55 = 63.9 km), so
    the 3×3 blocked join is exact — verified against the oracle's
    all-pairs form."""
    from gridmet_etl_spark.operators.geo import geo_knn

    return geo_knn(
        _geo_points(spark, sf_dir),
        k=_GEO_K,
        radius_km=_GEO_RADIUS_KM,
        cell_deg=_GEO_CELL_DEG,
        max_abs_lat=55.0,
        rank_round=R,
    )


SQL_GEO_KNN = f"""
WITH p AS (
  SELECT c_custkey AS point_id,
         30.0 + ((c_custkey * 48271) % 100000) / 100000.0 * 15.0 AS lat,
         -120.0 + ((c_custkey * 69621) % 100000) / 100000.0 * 20.0 AS lon
  FROM customer),
d AS (
  SELECT a.point_id, b.point_id AS neighbor_id,
         ROUND(2.0 * 6371.0 * asin(sqrt(
             sin(radians(b.lat - a.lat) / 2) * sin(radians(b.lat - a.lat) / 2)
             + cos(radians(a.lat)) * cos(radians(b.lat))
               * sin(radians(b.lon - a.lon) / 2) * sin(radians(b.lon - a.lon) / 2)
         )), {R}) + 0 AS dist_km
  FROM p a JOIN p b ON a.point_id <> b.point_id),
r AS (
  SELECT point_id, neighbor_id, dist_km,
         row_number() OVER (PARTITION BY point_id
                            ORDER BY dist_km, neighbor_id) AS rnk
  FROM d WHERE dist_km <= {_GEO_RADIUS_KM})
SELECT point_id, neighbor_id, dist_km, CAST(rnk AS INT) AS rnk
FROM r WHERE rnk <= {_GEO_K}
"""


# ---------------------------------------------------------------------------
# sssp_hops: Bellman-Ford rounds over a deterministic weighted graph
# ---------------------------------------------------------------------------


def _sssp_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-out-regular weighted digraph on the customer keys: every node u
    links to (3u+7) mod mx + 1 with weight u%7+1 and to (5u+11) mod mx + 1
    with weight u%5+2 — integer arithmetic, identical in both engines."""
    cust = spark.read.parquet(_t(sf_dir, "customer")).select("c_custkey")
    mx = cust.agg(F.max("c_custkey").alias("mx"))
    base = cust.crossJoin(F.broadcast(mx))
    e1 = base.select(
        F.col("c_custkey").alias("src"),
        ((F.col("c_custkey") * 3 + 7) % F.col("mx") + 1).alias("dst"),
        (F.col("c_custkey") % 7 + 1).cast("long").alias("w"),
    )
    e2 = base.select(
        F.col("c_custkey").alias("src"),
        ((F.col("c_custkey") * 5 + 11) % F.col("mx") + 1).alias("dst"),
        (F.col("c_custkey") % 5 + 2).cast("long").alias("w"),
    )
    return e1.unionByName(e2)


def q_sssp_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ≤5-hop shortest distances from node 1 — five synchronous
    relaxation rounds, each an edge-keyed join + min partial-agg; the dist
    relation stays |reached-nodes|-sized throughout."""
    from gridmet_etl_spark.operators.graph import sssp

    seeds = spark.createDataFrame([(_SSSP_SEED,)], "node long")
    return sssp(_sssp_edges(spark, sf_dir), seeds, rounds=_SSSP_ROUNDS)


def _sql_sssp() -> str:
    relax = (
        "SELECT node, min(dist) AS dist FROM (\n"
        "    SELECT node, dist FROM {d}\n"
        "    UNION ALL\n"
        "    SELECT e.dst AS node, {d}.dist + e.w AS dist\n"
        "    FROM {d} JOIN e ON e.src = {d}.node) u\n"
        "  GROUP BY node"
    )
    rounds = ",\n".join(
        f"d{r + 1} AS (\n  {relax.format(d=f'd{r}')})" for r in range(_SSSP_ROUNDS)
    )
    return f"""
WITH n AS (SELECT max(c_custkey) AS mx FROM customer),
e AS (
  SELECT c_custkey AS src, (c_custkey * 3 + 7) % mx + 1 AS dst,
         CAST(c_custkey % 7 + 1 AS BIGINT) AS w
  FROM customer, n
  UNION ALL
  SELECT c_custkey, (c_custkey * 5 + 11) % mx + 1,
         CAST(c_custkey % 5 + 2 AS BIGINT)
  FROM customer, n),
d0 AS (SELECT CAST({_SSSP_SEED} AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist),
{rounds}
SELECT node, dist FROM d{_SSSP_ROUNDS}
"""


SQL_SSSP_HOPS = _sql_sssp()


EXT6_QUERIES: dict[str, tuple] = {
    "pca_power": (q_pca_power, SQL_PCA_POWER),
    "geo_knn": (q_geo_knn, SQL_GEO_KNN),
    "sssp_hops": (q_sssp_hops, SQL_SSSP_HOPS),
}
