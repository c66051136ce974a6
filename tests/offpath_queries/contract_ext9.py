"""Round-5 session-B contract entries: the planner-statistics layer and
its consumers — the ANALYZE-TABLE surface a 100 TB warehouse runs so
query planning (join order, layout choice, selectivity) is driven by
measured numbers, plus cross-source overlap observability and the
closed-form standardized ridge fit.

Reference parity note: the reference has no optimizer (SURVEY §4 — its
plan is the Python call order), so these are engine-extension surface in
the same sense as the training-data operators; oracles are the contract.

- ``mcv_stats``: per-column most-common-value tables (pg_stats style).
- ``equiheight_bins``: exact equi-height histogram bounds via the
  distributed global rank (never a single-partition sort).
- ``zone_map_prune``: zone-map (block-range) statistics under a
  shipdate-clustered layout + the skip-rate report for three predicates —
  the 'is this layout worth it for this workload' answer, computed from
  statistics alone (the fact table is never rescanned).
- ``join_order_advisor``: System-R uniform-NDV join-size estimates
  ranking the left-deep orders of customer ⋈ orders ⋈ lineitem.
- ``source_overlap``: cross-source shared-content matrix over dedup-line
  digests (which sources share boilerplate / are re-crawls).
- ``ridge_regression``: closed-form standardized ridge on the correlation
  scale (single aggregation pass, Cramer solve as column expressions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .contract import R, _t

EXT9_QUERIES: dict = {}


# ---------------------------------------------------------------------------
# mcv_stats: per-column most-common-value tables
# ---------------------------------------------------------------------------

_MCV_COLS = ["l_linestatus", "l_quantity", "l_returnflag", "l_suppkey"]
_MCV_K = 5


def q_mcv_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 values per lineitem column with occurrence fractions — the
    catalog MCV slot as a queryable relation. Values travel as strings so
    one relation carries mixed-typed columns."""
    from gridmet_etl_spark.operators.planner import mcv_stats

    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    return mcv_stats(li, _MCV_COLS, k=_MCV_K, ndigits=R)


def _sql_mcv() -> str:
    stacked = "\nUNION ALL\n".join(
        f"SELECT '{c}' AS \"column\", CAST({c} AS VARCHAR) AS value FROM lineitem"
        f" WHERE {c} IS NOT NULL"
        for c in _MCV_COLS
    )
    return f"""
WITH stacked AS ({stacked}),
counts AS (
  SELECT "column", value, count(*) AS n FROM stacked GROUP BY "column", value),
nn AS (SELECT "column", count(*) AS n_nonnull FROM stacked GROUP BY "column"),
rk AS (
  SELECT *, row_number() OVER (
    PARTITION BY "column" ORDER BY n DESC, value) AS rnk
  FROM counts)
SELECT rk."column", rk.value, rk.n,
       ROUND(rk.n / CAST(nn.n_nonnull AS DOUBLE), {R}) + 0 AS frac,
       CAST(rk.rnk AS INT) AS rnk
FROM rk JOIN nn ON nn."column" = rk."column"
WHERE rk.rnk <= {_MCV_K}
"""


EXT9_QUERIES["mcv_stats"] = (q_mcv_stats, _sql_mcv())


# ---------------------------------------------------------------------------
# equiheight_bins: exact equi-height histogram bounds
# ---------------------------------------------------------------------------

_EH_NB = 8


def q_equiheight_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-bucket exact equi-height histogram of l_extendedprice — the
    optimizer's height-balanced histogram (range selectivity = covered
    buckets / nb), ranked distributively."""
    from gridmet_etl_spark.operators.planner import equiheight_bounds

    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    return equiheight_bounds(li, "l_extendedprice", nb=_EH_NB)


SQL_EQUIHEIGHT = f"""
WITH nonnull AS (
  SELECT l_extendedprice AS v FROM lineitem WHERE l_extendedprice IS NOT NULL),
ranked AS (
  SELECT v, row_number() OVER (ORDER BY v) AS rn FROM nonnull),
tot AS (SELECT count(*) AS n_total FROM nonnull)
SELECT CAST(floor(((rn - 1) * {_EH_NB}) / n_total) AS INT) AS bucket,
       min(v) AS lo, max(v) AS hi, count(*) AS n_rows
FROM ranked CROSS JOIN tot
GROUP BY 1
"""


EXT9_QUERIES["equiheight_bins"] = (q_equiheight_bins, SQL_EQUIHEIGHT)


# ---------------------------------------------------------------------------
# zone_map_prune: zone-map stats + skip-rate report under a shipdate layout
# ---------------------------------------------------------------------------

_ZONE_ROWS = 4096
_ZONE_PREDS = [
    ("ship_h1_1996", "l_shipdate", "1996-01-01", "1996-06-30"),
    ("orderkey_band", "l_orderkey", 1000, 2000),
    ("partkey_band", "l_partkey", 0, 199),
]


def q_zone_map_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map skip report for a lineitem layout clustered on
    (l_shipdate, l_orderkey, l_linenumber), 4096-row zones: the clustered
    predicate prunes almost everything, the uncorrelated key bands prune
    ~nothing — the measured argument for sort/Z-order layout choices."""
    from gridmet_etl_spark.operators.planner import zone_map_stats, zone_prune_report

    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    zones = zone_map_stats(
        li,
        "l_shipdate",
        stat_cols=["l_shipdate", "l_orderkey", "l_partkey"],
        zone_rows=_ZONE_ROWS,
        tie_cols=["l_orderkey", "l_linenumber"],
    )
    return zone_prune_report(zones, _ZONE_PREDS, ndigits=R)


SQL_ZONE_PRUNE = f"""
WITH ranked AS (
  SELECT l_shipdate, l_orderkey, l_partkey,
         row_number() OVER (
           ORDER BY l_shipdate, l_orderkey, l_linenumber) AS rn
  FROM lineitem),
zones AS (
  SELECT CAST(floor((rn - 1) / {_ZONE_ROWS}) AS INT) AS zone,
         count(*) AS n_rows,
         min(l_shipdate) AS ship_min, max(l_shipdate) AS ship_max,
         min(l_orderkey) AS ok_min, max(l_orderkey) AS ok_max,
         min(l_partkey) AS pk_min, max(l_partkey) AS pk_max
  FROM ranked GROUP BY 1),
hits AS (
  SELECT 'ship_h1_1996' AS predicate, n_rows,
         (ship_max >= TIMESTAMP '1996-01-01'
          AND ship_min <= TIMESTAMP '1996-06-30') AS hit
  FROM zones
  UNION ALL
  SELECT 'orderkey_band', n_rows, (ok_max >= 1000 AND ok_min <= 2000)
  FROM zones
  UNION ALL
  SELECT 'partkey_band', n_rows, (pk_max >= 0 AND pk_min <= 199)
  FROM zones)
SELECT predicate,
       count(*) AS n_zones,
       -- CAST: DuckDB integer sums widen to HUGEINT, which the driver's
       -- pandas fetch renders as float64 vs Spark's int64 (hash poison)
       CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_zones_scanned,
       CAST(sum(CASE WHEN hit THEN n_rows ELSE 0 END) AS BIGINT) AS n_rows_scanned,
       ROUND(1.0 - sum(CASE WHEN hit THEN n_rows ELSE 0 END)
                   / CAST(sum(n_rows) AS DOUBLE), {R}) + 0 AS prune_frac
FROM hits GROUP BY predicate
"""


EXT9_QUERIES["zone_map_prune"] = (q_zone_map_prune, SQL_ZONE_PRUNE)


# ---------------------------------------------------------------------------
# join_order_advisor: stats-driven left-deep order choice
# ---------------------------------------------------------------------------


def q_join_order_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank the left-deep orders of customer ⋈ orders ⋈ lineitem from
    one-row stats aggregates (count + exact join-key NDV) with the
    System-R |R⋈S| = |R|·|S|/max(ndv) estimator — the join never runs."""
    from gridmet_etl_spark.operators.planner import join_chain_advisor

    cu = spark.read.parquet(_t(sf_dir, "customer"))
    o = spark.read.parquet(_t(sf_dir, "orders"))
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    return join_chain_advisor(
        cu, "c_custkey", o, "o_custkey", "o_orderkey", li, "l_orderkey",
        names=("customer", "orders", "lineitem"),
    )


SQL_JOIN_ADVISOR = """
WITH sa AS (
  SELECT count(*) AS n_a, count(DISTINCT c_custkey) AS ndv_a FROM customer),
sb AS (
  SELECT count(*) AS n_b, count(DISTINCT o_custkey) AS ndv_b_a,
         count(DISTINCT o_orderkey) AS ndv_b_c
  FROM orders),
sc AS (
  SELECT count(*) AS n_c, count(DISTINCT l_orderkey) AS ndv_c FROM lineitem),
s AS (SELECT * FROM sa CROSS JOIN sb CROSS JOIN sc),
ests AS (
  SELECT CAST(floor(n_a * n_b / greatest(ndv_a, ndv_b_a)) AS BIGINT) AS est_ab,
         CAST(floor(n_b * n_c / greatest(ndv_b_c, ndv_c)) AS BIGINT) AS est_bc,
         CAST(n_a * n_c AS BIGINT) AS est_ac,
         n_c, ndv_b_c, ndv_c
  FROM s),
fin AS (
  SELECT *,
         CAST(floor(est_ab * n_c / greatest(ndv_b_c, ndv_c)) AS BIGINT)
           AS est_final,
         least(est_ab, est_bc, est_ac) AS best
  FROM ests),
cands AS (
  SELECT 'customer*orders first' AS join_order, est_ab AS est_intermediate,
         est_final, best FROM fin
  UNION ALL
  SELECT 'orders*lineitem first', est_bc, est_final, best FROM fin
  UNION ALL
  SELECT 'customer*lineitem first (cross)', est_ac, est_final, best FROM fin)
SELECT join_order, est_intermediate, est_final,
       (est_intermediate = best) AS chosen
FROM cands
"""


EXT9_QUERIES["join_order_advisor"] = (q_join_order_advisor, SQL_JOIN_ADVISOR)


# ---------------------------------------------------------------------------
# source_overlap: cross-source shared-content matrix over dedup-line digests
# ---------------------------------------------------------------------------

_LINE_W = 8  # same derived-line width as line_dedup (single-line synthetic docs)


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which sources share content: distinct 8-token-line digests common to
    each source pair, with per-source digest counts and Jaccard — the
    re-crawl / shared-boilerplate detector (whole-doc fingerprints barely
    collide across the synthetic sources; lines do, as in real crawls)."""
    from gridmet_etl_spark.operators.dedup import source_overlap_from_digests

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
    return source_overlap_from_digests(units, ndigits=R)


SQL_SOURCE_OVERLAP = f"""
WITH base AS (SELECT source, string_split(text, ' ') AS a FROM documents),
starts AS (
  -- len(a)-bounded series via unnest(list) (no lateral table functions
  -- in this DuckDB build; a fixed cap would diverge on long documents)
  SELECT source, a, unnest(generate_series(1, len(a), {_LINE_W})) AS st
  FROM base),
units AS (
  SELECT source, md5(array_to_string(a[st : st + {_LINE_W - 1}], ' ')) AS d
  FROM starts),
ds AS (SELECT DISTINCT source, d FROM units),
per AS (SELECT source, count(*) AS n_digests FROM ds GROUP BY source),
shared AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
  FROM ds a JOIN ds b ON a.d = b.d AND a.source < b.source
  GROUP BY 1, 2)
SELECT s.source_a, s.source_b, s.n_shared,
       pa.n_digests AS n_a, pb.n_digests AS n_b,
       ROUND(s.n_shared
             / CAST(pa.n_digests + pb.n_digests - s.n_shared AS DOUBLE),
             {R}) + 0 AS jaccard
FROM shared s
JOIN per pa ON pa.source = s.source_a
JOIN per pb ON pb.source = s.source_b
"""


EXT9_QUERIES["source_overlap"] = (q_source_overlap, SQL_SOURCE_OVERLAP)


# ---------------------------------------------------------------------------
# ridge_regression: closed-form standardized ridge (correlation scale)
# ---------------------------------------------------------------------------

_RIDGE_REG = 0.1


def q_ridge_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized ridge of net revenue = extendedprice·(1−discount)·
    (1+tax) on (quantity, discount, tax): one aggregation pass (six
    rounded correlations), Cramer solve as column expressions — the
    label is a row-local derivation both engines share, so the fit finds
    the real discount/tax effects."""
    from gridmet_etl_spark.operators.mlprep import ridge_closed_form

    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    base = li.select(
        "l_quantity",
        "l_discount",
        "l_tax",
        (
            F.col("l_extendedprice")
            * (F.lit(1.0) - F.col("l_discount"))
            * (F.lit(1.0) + F.col("l_tax"))
        ).alias("rev"),
    )
    return ridge_closed_form(
        base, ["l_quantity", "l_discount", "l_tax"], "rev", reg=_RIDGE_REG, ndigits=R
    )


def _sql_ridge() -> str:
    lam = _RIDGE_REG
    # mirror ridge_closed_form's expression tree exactly: rounded
    # correlations in, pure deterministic double arithmetic through Cramer
    return f"""
WITH base AS (
  SELECT l_quantity AS x1, l_discount AS x2, l_tax AS x3,
         l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS y
  FROM lineitem),
g AS (
  SELECT count(*) AS n,
         ROUND(corr(x1, x2), {R}) + 0 AS r12,
         ROUND(corr(x1, x3), {R}) + 0 AS r13,
         ROUND(corr(x2, x3), {R}) + 0 AS r23,
         ROUND(corr(x1, y), {R}) + 0 AS r1y,
         ROUND(corr(x2, y), {R}) + 0 AS r2y,
         ROUND(corr(x3, y), {R}) + 0 AS r3y
  FROM base),
solved AS (
  -- CAST both addends to DOUBLE: a bare 0.1 literal is DECIMAL in DuckDB
  -- and decimal-exact a*a would diverge from Spark's double 1.1² at 1e-16
  SELECT n, r12, r13, r23, r1y, r2y, r3y,
         (CAST(1.0 AS DOUBLE) + CAST({lam} AS DOUBLE)) AS a
  FROM g),
dets AS (
  SELECT n,
         (a * (a * a - r23 * r23)
          - r12 * (r12 * a - r23 * r13)
          + r13 * (r12 * r23 - a * r13)) AS det,
         (r1y * (a * a - r23 * r23)
          - r12 * (r2y * a - r23 * r3y)
          + r13 * (r2y * r23 - a * r3y)) AS det1,
         (a * (r2y * a - r23 * r3y)
          - r1y * (r12 * a - r23 * r13)
          + r13 * (r12 * r3y - r2y * r13)) AS det2,
         (a * (a * r3y - r2y * r23)
          - r12 * (r12 * r3y - r2y * r13)
          + r1y * (r12 * r23 - a * r13)) AS det3
  FROM solved)
SELECT n,
       ROUND(det1 / det, {R}) + 0 AS b1,
       ROUND(det2 / det, {R}) + 0 AS b2,
       ROUND(det3 / det, {R}) + 0 AS b3
FROM dets
"""


EXT9_QUERIES["ridge_regression"] = (q_ridge_regression, _sql_ridge())


# ---------------------------------------------------------------------------
# selectivity_eval: histogram selectivity estimate vs measured, with q-error
# ---------------------------------------------------------------------------

_SEL_LO, _SEL_HI = 10_000.0, 30_000.0


def q_selectivity_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimate the selectivity of l_extendedprice ∈ [10k, 30k] from the
    8-bucket equi-height histogram (uniform-within-bucket), then measure
    the true count and report the q-error — the cardinality-estimation
    feedback loop a CBO needs to trust (or distrust) its own statistics."""
    from gridmet_etl_spark.operators.planner import equiheight_bounds, qerror, selectivity_estimate

    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    bounds = equiheight_bounds(li, "l_extendedprice", nb=_EH_NB)
    est = selectivity_estimate(bounds, _SEL_LO, _SEL_HI, ndigits=R)
    actual = li.agg(
        F.sum(
            F.col("l_extendedprice").between(_SEL_LO, _SEL_HI).cast("long")
        ).alias("actual_rows"),
        F.count(F.lit(1)).alias("n_total"),
    )
    return est.crossJoin(F.broadcast(actual)).select(
        "est_rows",
        "sel_est",
        "actual_rows",
        (F.round(F.col("actual_rows") / F.col("n_total").cast("double"), R) + F.lit(0.0)).alias(
            "sel_actual"
        ),
        qerror(F.col("est_rows"), F.col("actual_rows"), ndigits=R).alias("qerr"),
    )


SQL_SELECTIVITY = f"""
WITH nonnull AS (
  SELECT l_extendedprice AS v FROM lineitem WHERE l_extendedprice IS NOT NULL),
ranked AS (
  SELECT v, row_number() OVER (ORDER BY v) AS rn FROM nonnull),
tot AS (SELECT count(*) AS n_total FROM nonnull),
bounds AS (
  SELECT CAST(floor(((rn - 1) * {_EH_NB}) / n_total) AS INT) AS bucket,
         min(v) AS lo, max(v) AS hi, count(*) AS n_rows
  FROM ranked CROSS JOIN tot GROUP BY 1),
fr AS (
  SELECT n_rows,
         CASE
           WHEN hi <= {_SEL_HI} AND lo >= {_SEL_LO} THEN 1.0
           WHEN hi = lo THEN
             CASE WHEN lo >= {_SEL_LO} AND lo <= {_SEL_HI} THEN 1.0 ELSE 0.0 END
           ELSE greatest(0.0, least(1.0,
             (least({_SEL_HI}, hi) - greatest({_SEL_LO}, lo)) / (hi - lo)))
         END AS frac
  FROM bounds),
est AS (
  SELECT ROUND(sum(frac * n_rows), {R}) + 0 AS est_rows,
         ROUND(sum(frac * n_rows) / sum(n_rows), {R}) + 0 AS sel_est
  FROM fr),
act AS (
  -- CAST: sum() widens to HUGEINT in DuckDB — not hash-safe (pandas fetch)
  SELECT CAST(sum(CASE WHEN l_extendedprice BETWEEN {_SEL_LO} AND {_SEL_HI}
                  THEN 1 ELSE 0 END) AS BIGINT) AS actual_rows,
         count(*) AS n_total
  FROM lineitem)
SELECT e.est_rows, e.sel_est, a.actual_rows,
       ROUND(a.actual_rows / CAST(a.n_total AS DOUBLE), {R}) + 0 AS sel_actual,
       ROUND(greatest(greatest(e.est_rows, 1.0) / greatest(a.actual_rows, 1.0),
                      greatest(a.actual_rows, 1.0) / greatest(e.est_rows, 1.0)),
             {R}) + 0 AS qerr
FROM est e CROSS JOIN act a
"""


EXT9_QUERIES["selectivity_eval"] = (q_selectivity_eval, SQL_SELECTIVITY)


# ---------------------------------------------------------------------------
# join_qerror: advisor estimates validated against executed join counts
# ---------------------------------------------------------------------------


def q_join_qerror(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Close the advisor's loop: the uniform-NDV estimates for
    customer⋈orders and orders⋈lineitem next to the EXECUTED join counts
    and their q-errors. On clean FK data both q-errors should sit at 1.0 —
    that is the point of recording them (drift means stale stats)."""
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    o = spark.read.parquet(_t(sf_dir, "orders"))
    cu = spark.read.parquet(_t(sf_dir, "customer"))
    from gridmet_etl_spark.operators.planner import qerror

    sa = cu.agg(
        F.count(F.lit(1)).alias("n_a"), F.countDistinct("c_custkey").alias("ndv_a")
    )
    sb = o.agg(
        F.count(F.lit(1)).alias("n_b"),
        F.countDistinct("o_custkey").alias("ndv_b_a"),
        F.countDistinct("o_orderkey").alias("ndv_b_c"),
    )
    sc = li.agg(
        F.count(F.lit(1)).alias("n_c"), F.countDistinct("l_orderkey").alias("ndv_c")
    )
    act_ab = cu.join(o, cu.c_custkey == o.o_custkey).agg(
        F.count(F.lit(1)).alias("act_ab")
    )
    act_bc = o.join(li, o.o_orderkey == li.l_orderkey).agg(
        F.count(F.lit(1)).alias("act_bc")
    )
    stats = (
        sa.crossJoin(F.broadcast(sb))
        .crossJoin(F.broadcast(sc))
        .crossJoin(F.broadcast(act_ab))
        .crossJoin(F.broadcast(act_bc))
    )
    est_ab = F.floor(F.col("n_a") * F.col("n_b") / F.greatest("ndv_a", "ndv_b_a"))
    est_bc = F.floor(F.col("n_b") * F.col("n_c") / F.greatest("ndv_b_c", "ndv_c"))
    rows = F.array(
        F.struct(
            F.lit("customer*orders").alias("join_step"),
            est_ab.alias("est_rows"),
            F.col("act_ab").alias("actual_rows"),
        ),
        F.struct(
            F.lit("orders*lineitem").alias("join_step"),
            est_bc.alias("est_rows"),
            F.col("act_bc").alias("actual_rows"),
        ),
    )
    return (
        stats.select(F.explode(rows).alias("r"))
        .select("r.join_step", "r.est_rows", "r.actual_rows")
        .withColumn("qerr", qerror(F.col("est_rows"), F.col("actual_rows"), ndigits=R))
    )


SQL_JOIN_QERROR = f"""
WITH sa AS (
  SELECT count(*) AS n_a, count(DISTINCT c_custkey) AS ndv_a FROM customer),
sb AS (
  SELECT count(*) AS n_b, count(DISTINCT o_custkey) AS ndv_b_a,
         count(DISTINCT o_orderkey) AS ndv_b_c FROM orders),
sc AS (
  SELECT count(*) AS n_c, count(DISTINCT l_orderkey) AS ndv_c FROM lineitem),
aab AS (
  SELECT count(*) AS act_ab FROM customer JOIN orders ON c_custkey = o_custkey),
abc AS (
  SELECT count(*) AS act_bc FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
s AS (SELECT * FROM sa, sb, sc, aab, abc),
rows_ AS (
  SELECT 'customer*orders' AS join_step,
         CAST(floor(n_a * n_b / greatest(ndv_a, ndv_b_a)) AS BIGINT) AS est_rows,
         act_ab AS actual_rows
  FROM s
  UNION ALL
  SELECT 'orders*lineitem',
         CAST(floor(n_b * n_c / greatest(ndv_b_c, ndv_c)) AS BIGINT),
         act_bc
  FROM s)
SELECT join_step, est_rows, actual_rows,
       ROUND(greatest(greatest(est_rows, 1.0) / greatest(actual_rows, 1.0),
                      greatest(actual_rows, 1.0) / greatest(est_rows, 1.0)),
             {R}) + 0 AS qerr
FROM rows_
"""


EXT9_QUERIES["join_qerror"] = (q_join_qerror, SQL_JOIN_QERROR)


# ---------------------------------------------------------------------------
# layout_advisor: zone-map scores across candidate clustering keys
# ---------------------------------------------------------------------------

_LAYOUTS = ["l_orderkey", "l_partkey", "l_shipdate"]


def q_layout_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which clustering key should lineitem be written with, measured:
    zone-map prune rates for the 3-predicate workload under each candidate
    layout (one ranked pass per candidate), scored by mean prune rate —
    the shipdate layout wins its own predicate, the key layouts win
    theirs; the advisor quantifies the trade instead of guessing."""
    from gridmet_etl_spark.operators.planner import layout_advisor

    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    return layout_advisor(
        li,
        _LAYOUTS,
        _ZONE_PREDS,
        zone_rows=_ZONE_ROWS,
        tie_cols=["l_orderkey", "l_linenumber"],
        ndigits=R,
    )


def _sql_layout_advisor() -> str:
    chains = []
    for lc in _LAYOUTS:
        chains.append(f"""
SELECT '{lc}' AS layout, predicate, prune_frac FROM (
  WITH ranked AS (
    SELECT l_shipdate, l_orderkey, l_partkey,
           row_number() OVER (
             ORDER BY {lc}, l_orderkey, l_linenumber) AS rn
    FROM lineitem),
  zones AS (
    SELECT CAST(floor((rn - 1) / {_ZONE_ROWS}) AS INT) AS zone,
           count(*) AS n_rows,
           min(l_shipdate) AS ship_min, max(l_shipdate) AS ship_max,
           min(l_orderkey) AS ok_min, max(l_orderkey) AS ok_max,
           min(l_partkey) AS pk_min, max(l_partkey) AS pk_max
    FROM ranked GROUP BY 1),
  hits AS (
    SELECT 'ship_h1_1996' AS predicate, n_rows,
           (ship_max >= TIMESTAMP '1996-01-01'
            AND ship_min <= TIMESTAMP '1996-06-30') AS hit
    FROM zones
    UNION ALL
    SELECT 'orderkey_band', n_rows, (ok_max >= 1000 AND ok_min <= 2000)
    FROM zones
    UNION ALL
    SELECT 'partkey_band', n_rows, (pk_max >= 0 AND pk_min <= 199)
    FROM zones)
  SELECT predicate,
         ROUND(1.0 - sum(CASE WHEN hit THEN n_rows ELSE 0 END)
                     / CAST(sum(n_rows) AS DOUBLE), {R}) + 0 AS prune_frac
  FROM hits GROUP BY predicate)
""")
        # noqa: W291
    union = "\nUNION ALL\n".join(chains)
    return f"""
WITH allrep AS ({union}),
scored AS (
  SELECT layout, predicate, prune_frac,
         ROUND(avg(prune_frac) OVER (PARTITION BY layout), {R}) + 0
           AS layout_score
  FROM allrep),
best AS (
  SELECT layout_score AS bs, layout AS bl FROM scored
  ORDER BY layout_score DESC, layout DESC LIMIT 1)
SELECT s.layout, s.predicate, s.prune_frac, s.layout_score,
       (s.layout_score = b.bs AND s.layout = b.bl) AS chosen
FROM scored s CROSS JOIN best b
"""


EXT9_QUERIES["layout_advisor"] = (q_layout_advisor, _sql_layout_advisor())


# ---------------------------------------------------------------------------
# heavy_hitters_mg: mergeable Misra-Gries frequent-items fold
# ---------------------------------------------------------------------------

_MG_CAP = 12


def q_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy hitters over event user_ids, folded through 3
    deterministic slices (event_id mod 3) at capacity 12 — the O(capacity)
    frequent-items summary with its error bound (est ≤ true ≤ est_hi),
    exercising the summary merge that ``mg_fold`` applies per slice."""
    from gridmet_etl_spark.operators.sketch import mg_fold
    from gridmet_etl_spark.sources.readers import read_events

    e = read_events(spark, _t(sf_dir, "events"))
    slices = [e.filter(F.col("event_id") % 3 == i) for i in range(3)]
    return mg_fold(slices, "user_id", capacity=_MG_CAP)


def _sql_mg() -> str:
    cap1 = _MG_CAP + 1
    rounds = []
    prev = None
    for i in range(3):
        c = f"c{i}"
        rounds.append(
            f"{c} AS (SELECT user_id AS key, count(*) AS cnt FROM events"
            f" WHERE event_id % 3 = {i} GROUP BY 1)"
        )
        merged = (
            c
            if prev is None
            else f"(SELECT key, sum(cnt) AS cnt FROM"
            f" (SELECT * FROM {prev} UNION ALL SELECT * FROM {c}) GROUP BY key)"
        )
        rounds.append(f"m{i} AS (SELECT * FROM {merged})")
        rounds.append(
            f"s{i} AS (SELECT coalesce((SELECT cnt FROM"
            f" (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, key) AS rn"
            f" FROM m{i}) WHERE rn = {cap1}), 0) AS s)"
        )
        rounds.append(
            f"sum{i} AS (SELECT key, cnt - s AS cnt FROM m{i} CROSS JOIN s{i}"
            f" WHERE cnt > s)"
        )
        prev = f"sum{i}"
    body = ",\n".join(rounds)
    return f"""
WITH {body},
ded AS (
  SELECT CAST(s0.s + s1.s + s2.s AS BIGINT) AS deducted
  FROM s0, s1, s2),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM events)
-- CAST: the folded cnt is sum()-derived (HUGEINT) — not hash-safe raw
SELECT key, CAST(cnt AS BIGINT) AS est,
       CAST(cnt + deducted AS BIGINT) AS est_hi, n_total, deducted
FROM sum2 CROSS JOIN ded CROSS JOIN tot
"""


EXT9_QUERIES["heavy_hitters_mg"] = (q_heavy_hitters_mg, _sql_mg())
