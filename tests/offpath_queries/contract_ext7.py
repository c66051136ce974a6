"""Round-3 contract entries, session C: spatial interpolation, density
clustering, collaborative filtering, CDC materialization, mergeable
quantile rollups, and deterministic bootstrap inference —

- ``idw_interp``: inverse-distance-weighted station→target interpolation
  (geo.idw_interpolate) — the scattered-station twin of the reference's
  areal weighted mean. Spark runs the 3×3 cell-blocked join; the oracle
  referees with the brute-force cross join.
- ``dbscan_clusters``: exact DBSCAN (cluster.dbscan_geo) — ε-graph from
  the blocked radius join, cores by degree, components by min-label
  fixpoint (oracle: recursive CTE), borders to their nearest core.
- ``item_similarity``: item-item co-purchase cosine over lineitem baskets
  (recommend.item_cosine_topk) — pairs generated within orders only, so
  fan-out is bounded by basket size, never catalog².
- ``cdc_apply``: ordered change-log materialization onto the orders
  snapshot (scd.cdc_apply) — last-writer-wins via ONE max_by partial-agg
  (no log-wide window sort), deletes drop keys, inserts add them.
- ``hist_quantiles``: mergeable fixed-bin histogram rollup → interpolated
  quantiles (sketch.hist_rollup/hist_merge_quantiles) — the quantile twin
  of hll_rollup, except the estimator is plain arithmetic so the oracle
  hash-checks the ESTIMATE itself, not just a tolerance bit.
- ``bootstrap_ci``: percentile bootstrap CI for group means via the
  deterministic Poisson bootstrap (stats.bootstrap_ci) — md5-seeded
  Poisson(1) row weights, so a SQL engine replays every draw.

Float discipline: IDW weights come from the ROUNDED distance with a 10 m
zero-snap (1/d² on ulp-level distances would amplify reorder noise past
R=6); bootstrap replicate means round at R before the order statistics;
histogram interpolation is integer counts + one multiply/divide on
identical operands.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .contract import R, _t
from .contract_ext6 import _geo_points

_IDW_RADIUS = 50.0
_IDW_EPS = 0.01  # km; stations closer than 10 m snap to the target

_DBSCAN_EPS = 50.0
_DBSCAN_MINPTS = 3

_HIST_LO = 900.0
_HIST_HI = 105000.0
_HIST_BINS = 64
_HIST_QS = (0.25, 0.5, 0.75, 0.95)

_BOOT_B = 64
_BOOT_ALPHA = 0.05

# ---------------------------------------------------------------------------
# idw_interp: inverse-distance-weighted interpolation, blocked vs brute force
# ---------------------------------------------------------------------------


def _idw_stations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-keyed synthetic stations: geo_knn's modular coordinates
    plus a deterministic integer-derived observation value."""
    return _geo_points(spark, sf_dir).select(
        F.col("point_id").alias("station_id"),
        "lat",
        "lon",
        ((F.col("point_id") * 7919) % 1000 / F.lit(10.0)).alias("value"),
    )


def _idw_targets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-keyed target points on the same extent (offset multipliers
    so targets do not coincide with stations except by arithmetic luck —
    which the d=0 snap handles identically in both engines)."""
    return spark.read.parquet(_t(sf_dir, "supplier")).select(
        F.col("s_suppkey").alias("target_id"),
        (
            F.lit(30.0)
            + ((F.col("s_suppkey") * 50993) % 100000) / F.lit(100000.0) * 15.0
        ).alias("lat"),
        (
            F.lit(-120.0)
            + ((F.col("s_suppkey") * 73471) % 100000) / F.lit(100000.0) * 20.0
        ).alias("lon"),
    )


def q_idw_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDW estimate at every supplier target from customer stations within
    50 km. One cell-blocked equi join + one |targets|-keyed partial-agg
    shuffle — station count never enters the shuffle volume."""
    from gridmet_etl_spark.operators.geo import idw_interpolate

    return idw_interpolate(
        _idw_stations(spark, sf_dir),
        _idw_targets(spark, sf_dir),
        power=2,
        radius_km=_IDW_RADIUS,
        cell_deg=1.0,
        max_abs_lat=55.0,
        rank_round=R,
        out_round=R,
        zero_eps=_IDW_EPS,
    )


SQL_IDW_INTERP = f"""
WITH st AS (
  SELECT c_custkey AS station_id,
         30.0 + ((c_custkey * 48271) % 100000) / 100000.0 * 15.0 AS lat,
         -120.0 + ((c_custkey * 69621) % 100000) / 100000.0 * 20.0 AS lon,
         ((c_custkey * 7919) % 1000) / 10.0 AS v
  FROM customer),
tg AS (
  SELECT s_suppkey AS target_id,
         30.0 + ((s_suppkey * 50993) % 100000) / 100000.0 * 15.0 AS lat,
         -120.0 + ((s_suppkey * 73471) % 100000) / 100000.0 * 20.0 AS lon
  FROM supplier),
d AS (
  SELECT t.target_id, s.v,
         ROUND(2.0 * 6371.0 * asin(sqrt(
             sin(radians(s.lat - t.lat) / 2) * sin(radians(s.lat - t.lat) / 2)
             + cos(radians(t.lat)) * cos(radians(s.lat))
               * sin(radians(s.lon - t.lon) / 2) * sin(radians(s.lon - t.lon) / 2)
         )), {R}) + 0 AS d
  FROM tg t JOIN st s ON TRUE),
r AS (SELECT * FROM d WHERE d <= {_IDW_RADIUS}),
agg AS (
  SELECT target_id,
         count(*) AS n_stations,
         min(d) AS dmin,
         avg(CASE WHEN d < {_IDW_EPS} THEN v END) AS v0,
         sum(CASE WHEN d >= {_IDW_EPS} THEN v / (d * d) END) AS num,
         sum(CASE WHEN d >= {_IDW_EPS} THEN 1.0 / (d * d) END) AS den
  FROM r GROUP BY target_id)
SELECT target_id, CAST(n_stations AS BIGINT) AS n_stations,
       ROUND(CASE WHEN dmin < {_IDW_EPS} THEN v0 ELSE num / den END, {R}) + 0
         AS idw_value
FROM agg
"""


# ---------------------------------------------------------------------------
# dbscan_clusters: exact DBSCAN, blocked ε-graph vs recursive-CTE fixpoint
# ---------------------------------------------------------------------------


def q_dbscan_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN over the synthetic customer points: ε=50 km, min_pts=3.
    Core detection and border assignment are single partial-agg passes
    over the blocked pair relation; components iterate label-propagation
    rounds with checkpoint-pinned labels."""
    from gridmet_etl_spark.operators.cluster import dbscan_geo

    return dbscan_geo(
        _geo_points(spark, sf_dir),
        eps_km=_DBSCAN_EPS,
        min_pts=_DBSCAN_MINPTS,
        cell_deg=1.0,
        max_abs_lat=55.0,
    )


# Bounded oracle (r11, two fixes that retire the quadratic-ORACLE
# whitelist entry):
#
# 1. ε-graph: mirrors the Spark side's 1° grid-cell blocking
#    (operators/cluster.py dbscan_geo, cell_deg=1.0) instead of the
#    all-pairs join. Each point expands to its 3×3 cell neighborhood and
#    equi-joins home cells; LOSSLESS for dist ≤ ε=50 km because one cell
#    is ≥ 78 km in lon at the fixture's max |lat| (45°) and ≥ 110 km in
#    lat — any qualifying pair lands in adjacent cells, and each pair
#    matches exactly once (b's home cell is unique). Downstream CTEs only
#    consume nb (dist ≤ ε), identical to the brute-force relation.
#
# 2. Components: the old recursive CTE enumerated ALL (node,
#    reaching-core-label) pairs — |component|² state, which is what hit
#    the 240 s sweep watchdog once the ε-graph stopped dominating. It is
#    replaced by UNROLLED Borůvka-style label-graph contraction: each
#    round builds the graph BETWEEN current labels (one distinct edge per
#    touching label pair), maps every label to the min of its closed
#    label-neighborhood, flattens the label map through itself twice
#    (chains formed when the target label also merged the same round),
#    and composes it onto the node labeling. Every label with any
#    cross-label edge merges downward, so the label count per component
#    at least halves per round — convergence in ceil(log2(|core|))
#    rounds; _DBSCAN_CC_ROUNDS = 24 covers 2^24 cores, far beyond any
#    fixture. (Plain hook+compress propagation was tried first and
#    advances only ~1 hop/round once label plateaus form — it could not
#    cross the sf0.1 giant component's ~50-hop diameter.)
#    A FIXPOINT CERTIFICATE guards the unroll: if any ε-edge still joins
#    two different labels after the last round, `comp` and the final
#    SELECT are poisoned to 0 rows so the driver check fails LOUDLY
#    instead of certifying a wrong labeling. Invariants making the
#    fixpoint sufficient: labels start as node ids, only ever decrease,
#    and stay inside their component; each component's minimum label is
#    a fixpoint of the merge map, so at convergence every node carries
#    exactly min(component) — the old recursive CTE's semantics.
#    MATERIALIZED everywhere: DuckDB 1.0 inlines multiply-referenced
#    CTEs, which would otherwise re-evaluate the chain exponentially.
_DBSCAN_CC_ROUNDS = 24


def _dbscan_cc_ctes(rounds: int) -> tuple[str, str]:
    parts = []
    prev = "lab0"
    for i in range(1, rounds + 1):
        parts.append(
            f"le{i} AS MATERIALIZED (\n"
            f"  SELECT DISTINCT lu.lbl AS a, lv.lbl AS b\n"
            f"  FROM ce e\n"
            f"  JOIN {prev} lu ON lu.node = e.src\n"
            f"  JOIN {prev} lv ON lv.node = e.dst\n"
            f"  WHERE lu.lbl <> lv.lbl),\n"
            f"mg{i} AS MATERIALIZED (\n"
            f"  SELECT d.lbl AS old,\n"
            f"         least(d.lbl, coalesce(n.nl, d.lbl)) AS new\n"
            f"  FROM (SELECT DISTINCT lbl FROM {prev}) d\n"
            f"  LEFT JOIN (SELECT a AS lbl, min(b) AS nl\n"
            f"             FROM le{i} GROUP BY a) n ON n.lbl = d.lbl),\n"
            f"f{i} AS MATERIALIZED (\n"
            f"  SELECT x.old, y.new FROM mg{i} x JOIN mg{i} y ON y.old = x.new),\n"
            f"g{i} AS MATERIALIZED (\n"
            f"  SELECT x.old, y.new FROM f{i} x JOIN f{i} y ON y.old = x.new),\n"
            f"lab{i} AS MATERIALIZED (\n"
            f"  SELECT v.node, m.new AS lbl\n"
            f"  FROM {prev} v JOIN g{i} m ON m.old = v.lbl),\n"
        )
        prev = f"lab{i}"
    return "".join(parts), prev


_CC_CTES, _CC_FINAL = _dbscan_cc_ctes(_DBSCAN_CC_ROUNDS)

SQL_DBSCAN_CLUSTERS = f"""
WITH p AS MATERIALIZED (
  SELECT c_custkey AS point_id,
         30.0 + ((c_custkey * 48271) % 100000) / 100000.0 * 15.0 AS lat,
         -120.0 + ((c_custkey * 69621) % 100000) / 100000.0 * 20.0 AS lon
  FROM customer),
cells AS MATERIALIZED (
  SELECT point_id, lat, lon,
         CAST(floor(lon) AS BIGINT) AS cx, CAST(floor(lat) AS BIGINT) AS cy
  FROM p),
ex AS (
  SELECT c.point_id, c.lat, c.lon,
         c.cx + dxs.dx AS gx, c.cy + dys.dy AS gy
  FROM cells c, (VALUES (-1), (0), (1)) dxs(dx), (VALUES (-1), (0), (1)) dys(dy)),
d AS (
  SELECT a.point_id AS pa, b.point_id AS pb,
         ROUND(2.0 * 6371.0 * asin(sqrt(
             sin(radians(b.lat - a.lat) / 2) * sin(radians(b.lat - a.lat) / 2)
             + cos(radians(a.lat)) * cos(radians(b.lat))
               * sin(radians(b.lon - a.lon) / 2) * sin(radians(b.lon - a.lon) / 2)
         )), {R}) + 0 AS dist
  FROM ex a JOIN cells b
    ON a.gx = b.cx AND a.gy = b.cy AND a.point_id <> b.point_id),
nb AS MATERIALIZED (SELECT * FROM d WHERE dist <= {_DBSCAN_EPS}),
deg AS (SELECT pa AS point_id, count(*) AS nbrs FROM nb GROUP BY pa),
core AS MATERIALIZED (
  SELECT point_id FROM deg WHERE nbrs + 1 >= {_DBSCAN_MINPTS}),
ce AS MATERIALIZED (
  SELECT nb.pa AS src, nb.pb AS dst FROM nb
  JOIN core ca ON nb.pa = ca.point_id
  JOIN core cb ON nb.pb = cb.point_id),
lab0 AS MATERIALIZED (SELECT point_id AS node, point_id AS lbl FROM core),
{_CC_CTES}fx AS MATERIALIZED (
  SELECT count(*) AS changed
  FROM ce e
  JOIN {_CC_FINAL} lu ON lu.node = e.src
  JOIN {_CC_FINAL} lv ON lv.node = e.dst
  WHERE lv.lbl <> lu.lbl),
comp AS MATERIALIZED (
  SELECT node, lbl AS cluster_id FROM {_CC_FINAL}
  WHERE (SELECT changed FROM fx) = 0),
core_lab AS MATERIALIZED (
  SELECT c.point_id, k.cluster_id
  FROM core c JOIN comp k ON k.node = c.point_id),
border_cand AS (
  SELECT nb.pa AS point_id, cl.cluster_id,
         row_number() OVER (PARTITION BY nb.pa
                            ORDER BY nb.dist, nb.pb) AS rn
  FROM nb
  JOIN core_lab cl ON nb.pb = cl.point_id
  WHERE nb.pa NOT IN (SELECT point_id FROM core)),
border AS (SELECT point_id, cluster_id FROM border_cand WHERE rn = 1),
lab AS (
  SELECT point_id, cluster_id, 'core' AS role FROM core_lab
  UNION ALL
  SELECT point_id, cluster_id, 'border' FROM border)
SELECT p.point_id, l.cluster_id, coalesce(l.role, 'noise') AS role
FROM p LEFT JOIN lab l ON p.point_id = l.point_id
WHERE (SELECT changed FROM fx) = 0
"""


# ---------------------------------------------------------------------------
# item_similarity: co-purchase cosine top-k
# ---------------------------------------------------------------------------

_SIM_K = 5
_SIM_MINCOOC = 2
_SIM_MAXBASKET = 100


def q_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 co-purchase neighbors per part by basket cosine. Pairs only
    within orders (≤7 lines each), support-pruned at cooc ≥ 2 before the
    per-item window."""
    from gridmet_etl_spark.operators.recommend import item_cosine_topk

    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    return item_cosine_topk(
        li,
        basket_col="l_orderkey",
        item_col="l_partkey",
        k=_SIM_K,
        min_cooc=_SIM_MINCOOC,
        max_basket=_SIM_MAXBASKET,
        ndigits=R,
    )


SQL_ITEM_SIMILARITY = f"""
WITH inc AS (
  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
szok AS (
  SELECT b FROM inc GROUP BY b HAVING count(*) <= {_SIM_MAXBASKET}),
kept AS (SELECT inc.* FROM inc JOIN szok USING (b)),
marg AS (SELECT i, count(*) AS n FROM kept GROUP BY i),
cooc AS (
  SELECT a.i AS ia, b.i AS ib, count(*) AS cooc
  FROM kept a JOIN kept b ON a.b = b.b AND a.i < b.i
  GROUP BY a.i, b.i HAVING count(*) >= {_SIM_MINCOOC}),
sym AS (
  SELECT ia, ib, cooc FROM cooc
  UNION ALL SELECT ib, ia, cooc FROM cooc),
scored AS (
  SELECT s.ia, s.ib, s.cooc,
         ROUND(s.cooc / sqrt(CAST(ma.n AS DOUBLE) * mb.n), {R}) + 0 AS cosine
  FROM sym s JOIN marg ma ON s.ia = ma.i JOIN marg mb ON s.ib = mb.i),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY ia
                               ORDER BY cosine DESC, ib) AS rnk
  FROM scored)
SELECT ia AS item_id, ib AS other_id, cooc, cosine, CAST(rnk AS INT) AS rnk
FROM rk WHERE rnk <= {_SIM_K}
"""


# ---------------------------------------------------------------------------
# cdc_apply: ordered change-log materialization onto the orders snapshot
# ---------------------------------------------------------------------------


def _cdc_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic change log on the orders keys: every key
    ≡0 (mod 3) gets an update at seq 1 (+10%); every key ≡0 (mod 6) a
    second change at seq 2 — a delete when ≡0 (mod 12), else +20%; and
    keys ≡1 (mod 1000) insert a NEW key (base+10⁹) at seq 1. Prices stay
    UNROUNDED doubles: one IEEE multiply on identical operands is
    bit-equal across engines, while ROUND(x, 2) half-cases are not."""
    o = spark.read.parquet(_t(sf_dir, "orders")).select(
        "o_orderkey", F.col("o_totalprice").cast("double").alias("p")
    )
    u1 = o.where(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("key"),
        F.lit(1).alias("seq"),
        F.lit("U").alias("op"),
        (F.col("p") * 1.1).alias("o_totalprice"),
    )
    u2 = o.where(F.col("o_orderkey") % 6 == 0).select(
        F.col("o_orderkey").alias("key"),
        F.lit(2).alias("seq"),
        F.when(F.col("o_orderkey") % 12 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        (F.col("p") * 1.2).alias("o_totalprice"),
    )
    ins = o.where(F.col("o_orderkey") % 1000 == 1).select(
        (F.col("o_orderkey") + 1000000000).alias("key"),
        F.lit(1).alias("seq"),
        F.lit("I").alias("op"),
        (F.col("p") * 0.5).alias("o_totalprice"),
    )
    return u1.unionByName(u2).unionByName(ins)


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized orders state after the change log: one max_by
    partial-agg collapses the log to winners, one key join applies them;
    the snapshot side never shuffles when the delta broadcasts."""
    from gridmet_etl_spark.operators.scd import cdc_apply

    snap = spark.read.parquet(_t(sf_dir, "orders")).select(
        F.col("o_orderkey").alias("key"),
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )
    return cdc_apply(
        snap,
        _cdc_changelog(spark, sf_dir),
        key_cols=["key"],
        val_cols=["o_totalprice"],
        seq_col="seq",
        op_col="op",
    )


SQL_CDC_APPLY = """
WITH o AS (
  SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS p FROM orders),
log AS (
  SELECT o_orderkey AS key, 1 AS seq, 'U' AS op, p * 1.1 AS price
  FROM o WHERE o_orderkey % 3 = 0
  UNION ALL
  SELECT o_orderkey, 2,
         CASE WHEN o_orderkey % 12 = 0 THEN 'D' ELSE 'U' END,
         p * 1.2
  FROM o WHERE o_orderkey % 6 = 0
  UNION ALL
  SELECT o_orderkey + 1000000000, 1, 'I', p * 0.5
  FROM o WHERE o_orderkey % 1000 = 1),
winner AS (
  SELECT key, op, price FROM (
    SELECT *, row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
    FROM log) w
  WHERE rn = 1),
merged AS (
  SELECT coalesce(w.key, o.o_orderkey) AS key,
         w.op,
         CASE WHEN w.key IS NOT NULL THEN w.price ELSE o.p END AS o_totalprice
  FROM o FULL OUTER JOIN winner w ON o.o_orderkey = w.key)
SELECT key, o_totalprice FROM merged WHERE op IS NULL OR op <> 'D'
"""


# ---------------------------------------------------------------------------
# hist_quantiles: mergeable histogram rollup → interpolated quantiles
# ---------------------------------------------------------------------------


def q_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(returnflag,linestatus) histograms of l_extendedprice merged up
    to returnflag, then 4 interpolated quantiles per flag. After the one
    data-sized rollup pass everything operates on ≤ |keys|×64 count
    rows."""
    from gridmet_etl_spark.operators.sketch import hist_merge_quantiles, hist_rollup

    li = spark.read.parquet(_t(sf_dir, "lineitem")).select(
        "l_returnflag",
        "l_linestatus",
        F.col("l_extendedprice").cast("double").alias("price"),
    )
    roll = hist_rollup(
        li,
        ["l_returnflag", "l_linestatus"],
        "price",
        lo=_HIST_LO,
        hi=_HIST_HI,
        bins=_HIST_BINS,
    )
    return hist_merge_quantiles(
        roll,
        ["l_returnflag"],
        qs=list(_HIST_QS),
        lo=_HIST_LO,
        hi=_HIST_HI,
        bins=_HIST_BINS,
        ndigits=R,
    )


_HIST_W = (_HIST_HI - _HIST_LO) / _HIST_BINS

SQL_HIST_QUANTILES = f"""
WITH src AS (
  SELECT l_returnflag AS rf,
         CAST(l_extendedprice AS DOUBLE) AS price
  FROM lineitem WHERE l_extendedprice IS NOT NULL),
binned AS (
  SELECT rf,
         least({_HIST_BINS - 1},
               greatest(0, CAST(floor((price - {_HIST_LO}) / {_HIST_W!r}) AS INT)))
           AS bin,
         count(*) AS cnt
  FROM src GROUP BY rf, 2),
cum AS (
  SELECT rf, bin, cnt,
         sum(cnt) OVER (PARTITION BY rf ORDER BY bin) AS cum,
         sum(cnt) OVER (PARTITION BY rf) AS n
  FROM binned),
qs AS (SELECT unnest([{", ".join(str(q) for q in _HIST_QS)}]::DOUBLE[]) AS q),
exp AS (
  SELECT c.*, qs.q, qs.q * c.n AS r FROM cum c CROSS JOIN qs),
hit AS (
  SELECT rf, q, bin, cnt, cum, n, r,
         row_number() OVER (PARTITION BY rf, q ORDER BY bin) AS rn
  FROM exp WHERE cum >= r)
SELECT rf AS l_returnflag, q,
       ROUND({_HIST_LO} + (bin + greatest(0.0, (cnt + r - cum) / cnt))
             * {_HIST_W!r}, {R}) + 0 AS est
FROM hit WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# bootstrap_ci: deterministic Poisson-bootstrap mean CI
# ---------------------------------------------------------------------------


def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% percentile-bootstrap CI for mean l_quantity per returnflag,
    B=64 md5-seeded Poisson replicates. The B-way explode never shuffles;
    the only exchanges carry |groups|×B partial sums."""
    from gridmet_etl_spark.operators.stats import bootstrap_ci

    li = spark.read.parquet(_t(sf_dir, "lineitem")).select(
        "l_returnflag",
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("rid"),
        F.col("l_quantity").cast("double").alias("qty"),
    )
    return bootstrap_ci(
        li,
        ["l_returnflag"],
        val_col="qty",
        id_col="rid",
        n_boot=_BOOT_B,
        alpha=_BOOT_ALPHA,
        ndigits=R,
    )


def _sql_bootstrap() -> str:
    import math as _m

    from gridmet_etl_spark.operators.stats import POISSON1_CDF

    t = POISSON1_CDF
    lo_rank = max(1, _m.ceil(_BOOT_ALPHA / 2 * _BOOT_B))
    hi_rank = _m.ceil((1 - _BOOT_ALPHA / 2) * _BOOT_B)
    return f"""
WITH src AS (
  SELECT l_returnflag AS rf, l_orderkey * 8 + l_linenumber AS rid,
         CAST(l_quantity AS DOUBLE) AS x
  FROM lineitem),
b AS (SELECT unnest(range({_BOOT_B})) AS b),
drawn AS (
  SELECT rf, x, b.b,
         CAST(CAST('0x' || substr(md5(CAST(rid AS VARCHAR) || ':' ||
              CAST(b.b AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE)
           / 4294967296.0 AS u
  FROM src CROSS JOIN b),
wtd AS (
  SELECT rf, b, x,
         CASE WHEN u < {t[0]} THEN 0 WHEN u < {t[1]} THEN 1
              WHEN u < {t[2]} THEN 2 WHEN u < {t[3]} THEN 3
              WHEN u < {t[4]} THEN 4 ELSE 5 END AS w
  FROM drawn),
rep AS (
  SELECT rf, b, ROUND(sum(w * x) / sum(w), {R}) AS m
  FROM wtd GROUP BY rf, b HAVING sum(w) > 0),
ci AS (
  SELECT rf, list_sort(list(m)) AS ms FROM rep GROUP BY rf),
base AS (
  SELECT rf, ROUND(avg(x), {R}) + 0 AS mean_est FROM src GROUP BY rf)
SELECT base.rf AS l_returnflag, base.mean_est,
       ms[{lo_rank}] + 0 AS ci_lo, ms[{hi_rank}] + 0 AS ci_hi,
       {_BOOT_B} AS n_boot
FROM base JOIN ci ON base.rf = ci.rf
"""


SQL_BOOTSTRAP_CI = _sql_bootstrap()


EXT7_QUERIES: dict[str, tuple] = {
    "idw_interp": (q_idw_interp, SQL_IDW_INTERP),
    "dbscan_clusters": (q_dbscan_clusters, SQL_DBSCAN_CLUSTERS),
    "item_similarity": (q_item_similarity, SQL_ITEM_SIMILARITY),
    "cdc_apply": (q_cdc_apply, SQL_CDC_APPLY),
    "hist_quantiles": (q_hist_quantiles, SQL_HIST_QUANTILES),
    "bootstrap_ci": (q_bootstrap_ci, SQL_BOOTSTRAP_CI),
}


# ---------------------------------------------------------------------------
# logit_gd: relational logistic regression (unrolled full-batch GD)
# ---------------------------------------------------------------------------

_GD_LR = 1.0
_GD_ROUNDS = 3


def q_logit_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression of 'was returned' on (quantity, discount) over
    lineitem — 3 unrolled GD rounds, weights re-rounded at R each round so
    the oracle replays training bit-for-bit. Per round: one scan, one
    (k+2)-value scalar aggregate, zero driver collects."""
    from gridmet_etl_spark.operators.mlprep import logistic_gd

    li = spark.read.parquet(_t(sf_dir, "lineitem")).select(
        (F.col("l_quantity").cast("double") / 50.0).alias("x1"),
        (F.col("l_discount").cast("double") * 10.0).alias("x2"),
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
    )
    return logistic_gd(
        li, ["x1", "x2"], "y", lr=_GD_LR, rounds=_GD_ROUNDS, ndigits=R
    )


def _sql_logit_gd() -> str:
    rounds = []
    for r in range(_GD_ROUNDS):
        prev = f"w{r}"
        rounds.append(
            f"""g{r + 1} AS (
  SELECT avg(1.0/(1.0 + exp(-(w0 + w1*x1 + w2*x2))) - y) AS g0,
         avg((1.0/(1.0 + exp(-(w0 + w1*x1 + w2*x2))) - y) * x1) AS g1,
         avg((1.0/(1.0 + exp(-(w0 + w1*x1 + w2*x2))) - y) * x2) AS g2,
         first(w0) AS pw0, first(w1) AS pw1, first(w2) AS pw2
  FROM d, {prev}),
w{r + 1} AS (
  SELECT ROUND(pw0 - {_GD_LR} * g0, {R}) AS w0,
         ROUND(pw1 - {_GD_LR} * g1, {R}) AS w1,
         ROUND(pw2 - {_GD_LR} * g2, {R}) AS w2
  FROM g{r + 1})"""
        )
    last = f"w{_GD_ROUNDS}"
    body = ",\n".join(rounds)
    return f"""
WITH d AS (
  SELECT CAST(l_quantity AS DOUBLE) / 50.0 AS x1,
         CAST(l_discount AS DOUBLE) * 10.0 AS x2,
         CAST(l_returnflag = 'R' AS INT) AS y
  FROM lineitem),
w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2),
{body}
SELECT w0 + 0 AS w0, w1 + 0 AS w1, w2 + 0 AS w2,
       ROUND(-avg(y * ln(1.0/(1.0 + exp(-(w0 + w1*x1 + w2*x2))) + 1e-12)
                  + (1.0 - y) * ln(1.0 - 1.0/(1.0 + exp(-(w0 + w1*x1 + w2*x2))) + 1e-12)),
             {R}) + 0 AS log_loss,
       count(*) AS n
FROM d, {last}
GROUP BY w0, w1, w2
"""


SQL_LOGIT_GD = _sql_logit_gd()


# ---------------------------------------------------------------------------
# forecast_eval: naive / seasonal-naive backtest with sMAPE
# ---------------------------------------------------------------------------

_FC_SEASON = 7
_FC_TEST_DAYS = 28


def q_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest the two baseline forecasters on daily event counts per
    event_type: forecasts fetched by (series, day−offset) equi self-joins,
    scored with sMAPE over the trailing 28-day holdout."""
    from gridmet_etl_spark.operators.timeseries import forecast_backtest
    from gridmet_etl_spark.sources.readers import read_events

    e = read_events(spark, _t(sf_dir, "events"))
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    return forecast_backtest(
        daily,
        ["event_type"],
        "day",
        "cnt",
        season=_FC_SEASON,
        test_days=_FC_TEST_DAYS,
        ndigits=R,
    )


SQL_FORECAST_EVAL = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(count(*) AS DOUBLE) AS a
  FROM events GROUP BY event_type, CAST(ts AS DATE)),
mx AS (SELECT max(day) AS mxd FROM daily),
test AS (
  SELECT d.* FROM daily d, mx WHERE d.day > mxd - INTERVAL {_FC_TEST_DAYS} DAY),
scored AS (
  SELECT t.event_type, 'naive' AS model, t.a, s.a AS f
  FROM test t JOIN daily s
    ON s.event_type = t.event_type AND s.day + INTERVAL 1 DAY = t.day
  WHERE abs(s.a) + abs(t.a) > 0
  UNION ALL
  SELECT t.event_type, 'snaive', t.a, s.a
  FROM test t JOIN daily s
    ON s.event_type = t.event_type AND s.day + INTERVAL {_FC_SEASON} DAY = t.day
  WHERE abs(s.a) + abs(t.a) > 0)
SELECT event_type, model,
       ROUND(avg(2.0 * abs(f - a) / (abs(f) + abs(a))), {R}) + 0 AS smape,
       count(*) AS n_scored
FROM scored GROUP BY event_type, model
"""


EXT7_QUERIES.update(
    {
        "logit_gd": (q_logit_gd, SQL_LOGIT_GD),
        "forecast_eval": (q_forecast_eval, SQL_FORECAST_EVAL),
    }
)


# ---------------------------------------------------------------------------
# nb_language_id: multinomial Naive Bayes language identification
# ---------------------------------------------------------------------------


def q_nb_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train multinomial NB (add-one smoothing) on the 80% of documents
    with doc_id %% 5 != 0, predict ``lang`` for the held-out 20%. Train is
    two output-sized partial-agg shuffles; classify is one broadcast model
    join + per-doc argmax over |classes| rows."""
    from gridmet_etl_spark.operators.nbayes import nb_classify, nb_train

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    train = docs.where(F.col("doc_id") % 5 != 0)
    test = docs.where(F.col("doc_id") % 5 == 0)
    model, priors = nb_train(train, "lang")
    return nb_classify(test, model, priors, ndigits=R)


SQL_NB_LANGUAGE_ID = f"""
WITH train AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
test AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
tok AS (
  SELECT lang AS label, unnest(string_split(text, ' ')) AS token FROM train),
tokf AS (SELECT * FROM tok WHERE token <> ''),
vocab AS (SELECT DISTINCT token FROM tokf),
vs AS (SELECT count(*) AS v FROM vocab),
counts AS (
  SELECT label, token, count(*) AS ntc FROM tokf GROUP BY label, token),
ctot AS (SELECT label, sum(ntc) AS nc FROM counts GROUP BY label),
model AS (
  SELECT vocab.token, ctot.label,
         ln((coalesce(c.ntc, 0) + 1) / CAST(ctot.nc + vs.v AS DOUBLE)) AS logp
  FROM vocab CROSS JOIN ctot CROSS JOIN vs
  LEFT JOIN counts c ON c.token = vocab.token AND c.label = ctot.label),
pri AS (SELECT lang AS label, count(*) AS dc FROM train GROUP BY lang),
dt AS (SELECT sum(dc) AS dt FROM pri),
priors AS (SELECT label, ln(dc / CAST(dt AS DOUBLE)) AS logprior
           FROM pri CROSS JOIN dt),
ttok AS (
  SELECT doc_id, token, count(*) AS cnt FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM test)
  WHERE token <> '' GROUP BY doc_id, token),
contrib AS (
  SELECT t.doc_id, m.label, sum(t.cnt * m.logp) AS s
  FROM ttok t JOIN model m ON t.token = m.token
  GROUP BY t.doc_id, m.label),
scored AS (
  SELECT d.doc_id, p.label,
         ROUND(p.logprior + coalesce(c.s, 0.0), {R}) + 0 AS score
  FROM test d CROSS JOIN priors p
  LEFT JOIN contrib c ON c.doc_id = d.doc_id AND c.label = p.label),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, label) AS rn
  FROM scored)
SELECT doc_id, label AS pred_label, score FROM rk WHERE rn = 1
"""


EXT7_QUERIES.update(
    {
        "nb_language_id": (q_nb_language_id, SQL_NB_LANGUAGE_ID),
    }
)


# ---------------------------------------------------------------------------
# kaplan_meier: right-censored survival curves
# ---------------------------------------------------------------------------

# Rounding for the exp∘ln survival chain is R=4, not the house R=6: at
# sf0.01 one surviving fraction (0.36054449996660…) sits 3.3e-11 below the
# 0.3605445 half-way point, so ANY ulp-level engine/libm divergence flips
# the 6th digit (observed: driver r4 hash mismatch, locally bit-identical).
# At R=4 the closest output is 2.4e-7 from a boundary — 6 orders of
# magnitude of slack. Same discipline for the two sibling queries below.
_RKM = 4


def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KM retention curves per order priority over a synthetic cohort:
    duration = o_orderkey-derived integer days, ~25% right-censored. One
    per-time partial agg + a |times|-sized window per group — subject rows
    never globally sort."""
    from gridmet_etl_spark.operators.stats import kaplan_meier

    o = spark.read.parquet(_t(sf_dir, "orders")).select(
        F.col("o_orderpriority").alias("grp"),
        (F.col("o_orderkey") % 60 + 1).alias("dur"),
        (F.col("o_orderkey") % 4 != 0).cast("int").alias("ev"),
    )
    return kaplan_meier(o, ["grp"], "dur", "ev", ndigits=_RKM)


SQL_KAPLAN_MEIER = f"""
WITH base AS (
  SELECT o_orderpriority AS grp,
         CAST(o_orderkey % 60 + 1 AS BIGINT) AS t,
         CAST(o_orderkey % 4 <> 0 AS INT) AS e
  FROM orders),
per_t AS (
  SELECT grp, t, sum(e) AS d, count(*) AS lv
  FROM base GROUP BY grp, t),
cum AS (
  SELECT grp, t, d,
         sum(lv) OVER (PARTITION BY grp)
           - coalesce(sum(lv) OVER (PARTITION BY grp ORDER BY t
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n
  FROM per_t),
surv AS (
  SELECT grp, t, d, n,
         exp(sum(ln(greatest(1.0 - d / CAST(n AS DOUBLE), 1e-300)))
             OVER (PARTITION BY grp ORDER BY t)) AS s
  FROM cum)
-- CAST the sum-derived counts to BIGINT: DuckDB widens integer sums to
-- HUGEINT, which the driver's pandas fetch renders as float64 ("88.0")
-- while Spark emits int64 ("88") — the r4/r5 hash_match:false mechanism
SELECT grp, t, CAST(n AS BIGINT) AS n_risk, CAST(d AS BIGINT) AS d,
       ROUND(s, {_RKM}) + 0 AS surv
FROM surv WHERE d > 0
"""


EXT7_QUERIES.update(
    {
        "kaplan_meier": (q_kaplan_meier, SQL_KAPLAN_MEIER),
    }
)


# ---------------------------------------------------------------------------
# dsir_select: importance-resampling data selection (target-LM log-ratio)
# ---------------------------------------------------------------------------

_DSIR_K = 50


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 most src0-like documents by DSIR importance weight:
    unigram target/raw LM log-ratio with add-one smoothing over the shared
    vocab, length-normalized, ranked on the rounded score. The scoring
    model is one broadcastable (token, Δlogp) relation; the corpus scans
    once."""
    from gridmet_etl_spark.operators.select import dsir_select

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    target = docs.where(F.col("source") == "src0")
    return dsir_select(docs, target, k=_DSIR_K, ndigits=_RKM)


SQL_DSIR_SELECT = f"""
WITH ctok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
ctokf AS (SELECT * FROM ctok WHERE token <> ''),
ttokf AS (
  SELECT t.token FROM (
    SELECT unnest(string_split(text, ' ')) AS token
    FROM documents WHERE source = 'src0') t
  WHERE t.token <> ''),
rc AS (SELECT token, count(*) AS nr FROM ctokf GROUP BY token),
tc AS (SELECT token, count(*) AS nt FROM ttokf GROUP BY token),
vocab AS (SELECT token FROM rc UNION SELECT token FROM tc),
sz AS (
  SELECT (SELECT count(*) FROM vocab) AS v,
         (SELECT sum(nr) FROM rc) AS sr,
         (SELECT sum(nt) FROM tc) AS st),
model AS (
  SELECT vocab.token,
         ln((coalesce(tc.nt, 0) + 1) / CAST(sz.st + sz.v AS DOUBLE))
           - ln((coalesce(rc.nr, 0) + 1) / CAST(sz.sr + sz.v AS DOUBLE)) AS dlp
  FROM vocab CROSS JOIN sz
  LEFT JOIN rc ON rc.token = vocab.token
  LEFT JOIN tc ON tc.token = vocab.token),
per_doc AS (
  SELECT c._id AS doc_id, sum(c.cnt) AS n_tokens,
         ROUND(sum(c.cnt * m.dlp), {_RKM}) + 0 AS weight
  FROM (SELECT doc_id AS _id, token, count(*) AS cnt
        FROM ctokf GROUP BY doc_id, token) c
  JOIN model m ON m.token = c.token
  GROUP BY c._id),
full_corpus AS (
  -- CAST: sum()-derived n_tokens is HUGEINT in DuckDB (pandas-fetch float)
  SELECT d.doc_id,
         CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
         coalesce(p.weight, 0.0) AS weight
  FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id),
scored AS (
  SELECT doc_id, n_tokens, weight,
         ROUND(weight / greatest(n_tokens, 1), {_RKM}) + 0 AS sel_score
  FROM full_corpus),
rk AS (
  SELECT *, row_number() OVER (ORDER BY sel_score DESC, doc_id) AS rnk
  FROM scored)
SELECT doc_id, n_tokens, weight, sel_score, CAST(rnk AS INT) AS rnk
FROM rk WHERE rnk <= {_DSIR_K}
"""


EXT7_QUERIES.update(
    {
        "dsir_select": (q_dsir_select, SQL_DSIR_SELECT),
    }
)


# ---------------------------------------------------------------------------
# lift_eval: cumulative gains / lift deciles of the hashed classifier
# ---------------------------------------------------------------------------

_LIFT_BINS = 10


def q_lift_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift table of the hashed-BoW classifier logit against the
    English label: global_rank (no single-partition data window) → integer
    bin cut → n_bins-row cumulative window."""
    from gridmet_etl_spark.operators.scoring import classifier_scores, lift_curve

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    scored = classifier_scores(docs).join(
        docs.select("doc_id", (F.col("lang") == "en").alias("is_en")), "doc_id"
    )
    return lift_curve(
        scored, "is_en", "logit", "doc_id", n_bins=_LIFT_BINS, ndigits=_RKM
    )


SQL_LIFT_EVAL = f"""
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
  FROM w GROUP BY doc_id),
s AS (
  SELECT a.doc_id, swi / (1000.0 * n) AS score,
         CAST(d.lang = 'en' AS INT) AS y
  FROM agg a JOIN documents d ON d.doc_id = a.doc_id),
r AS (
  SELECT y, row_number() OVER (ORDER BY -score, doc_id) AS rn FROM s),
tot AS (SELECT count(*) AS n, sum(y) AS npos FROM s),
binned AS (
  SELECT ((rn - 1) * {_LIFT_BINS}) // n AS bin, count(*) AS cnt,
         sum(y) AS n_pos, first(n) AS n, first(npos) AS npos
  FROM r CROSS JOIN tot GROUP BY 1),
cum AS (
  SELECT bin, cnt, n_pos, n, npos,
         sum(cnt) OVER (ORDER BY bin) AS cn,
         sum(n_pos) OVER (ORDER BY bin) AS cp
  FROM binned)
SELECT CAST(bin AS INT) AS bin, cnt AS n, CAST(n_pos AS BIGINT) AS n_pos,
       ROUND(cp / CAST(npos AS DOUBLE), {_RKM}) + 0 AS cum_capture,
       ROUND((cp / CAST(cn AS DOUBLE)) / (npos / CAST(n AS DOUBLE)), {_RKM}) + 0
         AS cum_lift
FROM cum
"""


EXT7_QUERIES.update(
    {
        "lift_eval": (q_lift_eval, SQL_LIFT_EVAL),
    }
)


# ---------------------------------------------------------------------------
# mrr_eval: mean-reciprocal-rank of the exact cosine retriever
# ---------------------------------------------------------------------------


def q_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank of the first same-label neighbor in each query's
    cosine top-10 (the companion to ndcg_eval: NDCG grades the whole
    ranking, RR the time-to-first-hit). Eval = one broadcast label join +
    one query-keyed aggregate over the k-bounded hits."""
    from gridmet_etl_spark.operators.retrieval import mrr
    from gridmet_etl_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 20).select(
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
    return mrr(rel, ndigits=R)


_MRR_EMB_DIM = 64

SQL_MRR_EVAL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec, label AS qlabel
           FROM embeddings WHERE vec_id < 20),
pairs AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         sum(CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_vec[i] AS DOUBLE)) AS dot,
         sqrt(sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) AS n_e,
         sqrt(sum(CAST(q.q_vec[i] AS DOUBLE) * CAST(q.q_vec[i] AS DOUBLE))) AS n_q
  FROM embeddings e, q, generate_series(1, {_MRR_EMB_DIM}) g(i)
  WHERE e.vec_id <> q.query_id
  GROUP BY q.query_id, e.vec_id),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY ROUND(dot / (n_e * n_q), {R}) DESC,
                                     neighbor_id) AS rank
  FROM pairs),
hits AS (SELECT * FROM ranked WHERE rank <= 10),
rel AS (
  SELECT h.query_id, h.rank,
         CAST(e.label = q.qlabel AS INT) AS rel
  FROM hits h
  JOIN embeddings e ON e.vec_id = h.neighbor_id
  JOIN q ON q.query_id = h.query_id),
agg AS (
  SELECT query_id,
         min(CASE WHEN rel = 1 THEN rank END) AS first_rel_rank
  FROM rel GROUP BY query_id)
SELECT query_id, CAST(first_rel_rank AS INT) AS first_rel_rank,
       ROUND(coalesce(1.0 / first_rel_rank, 0.0), {R}) + 0 AS rr
FROM agg
"""


EXT7_QUERIES.update(
    {
        "mrr_eval": (q_mrr_eval, SQL_MRR_EVAL),
    }
)


# ---------------------------------------------------------------------------
# ppr_scores: personalized PageRank from a seed set (unrolled rounds)
# ---------------------------------------------------------------------------

_PPR_ROUNDS = 3
_PPR_DAMPING = 0.85
_PPR_SEEDS = (1, 2, 3)


def q_ppr_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPR over the deterministic 2-out-regular customer digraph, teleport
    set {1,2,3}, 3 rounds. The rank relation stays frontier-sized (only
    nodes within 3 hops of a seed); per-round ranks round at R so the
    unrolled oracle replays the iteration exactly."""
    from .contract_ext6 import _sssp_edges
    from gridmet_etl_spark.operators.graph import personalized_pagerank

    seeds = spark.createDataFrame([(s,) for s in _PPR_SEEDS], "node long")
    return personalized_pagerank(
        _sssp_edges(spark, sf_dir),
        seeds,
        damping=_PPR_DAMPING,
        iters=_PPR_ROUNDS,
        ndigits=R,
    )


def _sql_ppr() -> str:
    seeds = ", ".join(f"({s})" for s in _PPR_SEEDS)
    rounds = []
    for r in range(_PPR_ROUNDS):
        prev = f"r{r}"
        rounds.append(
            f"""c{r + 1} AS (
  SELECT e.dst AS node, sum({_PPR_DAMPING} * {prev}.ppr / e.outdeg) AS s
  FROM {prev} JOIN ew e ON e.src = {prev}.node
  GROUP BY e.dst),
r{r + 1} AS (
  SELECT coalesce(t.node, c.node) AS node,
         ROUND(coalesce(t.t, 0.0) + coalesce(c.s, 0.0), {R}) AS ppr
  FROM tele t FULL OUTER JOIN c{r + 1} c ON t.node = c.node)"""
        )
    body = ",\n".join(rounds)
    return f"""
WITH n AS (SELECT max(c_custkey) AS mx FROM customer),
edges AS (
  SELECT c_custkey AS src, (c_custkey * 3 + 7) % mx + 1 AS dst
  FROM customer, n
  UNION ALL
  SELECT c_custkey, (c_custkey * 5 + 11) % mx + 1
  FROM customer, n),
od AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
ew AS (SELECT e.src, e.dst, od.outdeg FROM edges e JOIN od ON od.src = e.src),
seeds(node) AS (VALUES {seeds}),
tele AS (
  SELECT CAST(node AS BIGINT) AS node,
         (1.0 - {_PPR_DAMPING}) / (SELECT count(*) FROM seeds) AS t
  FROM seeds),
r0 AS (SELECT node, ROUND(t, {R}) AS ppr FROM tele),
{body}
SELECT node, ppr + 0 AS ppr FROM r{_PPR_ROUNDS} WHERE ppr > 0
"""


SQL_PPR_SCORES = _sql_ppr()


EXT7_QUERIES.update(
    {
        "ppr_scores": (q_ppr_scores, SQL_PPR_SCORES),
    }
)
