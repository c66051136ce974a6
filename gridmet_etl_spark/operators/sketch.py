"""Mergeable sketches: count-min over token frequencies, HyperLogLog
rollup tables for distinct counts.

The sketch is a d x w matrix of counters; each of d hash rows maps a token
to one of w buckets and the estimate is min over rows of the bucket sum
(Cormode & Muthukrishnan 2005). Overestimates only, never under.

Built distributively: explode tokens -> per-(row,bucket) partial-agg sums.
The shuffle carries at most d*w rows per upstream partition (the map-side
combine collapses each partition to its touched cells), so sketch
construction is scan-dominated at any corpus size and the final sketch is
d*w rows total — it BROADCASTS to wherever estimates are needed.

Hashing is md5-prefix based (``conv(substr(md5('r<i>:'||token),1,6),16,10)
% w``) rather than xxhash64 so a DuckDB oracle can replicate the bucket
function bit-for-bit (same trick as operators/dedup.py minhash parity).
Production would swap in xxhash64 (same shape, one expression).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

CMS_DEPTH = 4
CMS_WIDTH = 256


def cms_bucket(token: Column, row: int, width: int = CMS_WIDTH) -> Column:
    """Deterministic, DuckDB-replicable bucket for one sketch row."""
    h = F.md5(F.concat(F.lit(f"r{row}:"), token))
    return F.conv(F.substring(h, 1, 6), 16, 10).cast("long") % width


def cms_build(
    docs: DataFrame,
    text_col: str = "text",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Build the sketch: one (row, bucket, cnt) tuple per non-empty cell.

    explode tokens -> posexplode the d bucket ids per token -> groupBy
    (row, bucket) sum. Partial aggregation bounds the shuffle at d*w rows
    per partition regardless of corpus size.
    """
    toks = docs.select(
        F.explode(F.split(F.col(text_col), " ")).alias("token")
    ).filter(F.col("token") != "")
    buckets = toks.select(
        F.posexplode(
            F.array(*[cms_bucket(F.col("token"), r, width) for r in range(depth)])
        ).alias("row", "bucket")
    )
    return buckets.groupBy("row", "bucket").agg(F.count("*").alias("cnt"))


def cms_estimate(
    tokens: DataFrame,
    sketch: DataFrame,
    token_col: str = "token",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Point-estimate each token's frequency from a built sketch.

    The sketch is <= d*w rows — broadcast it; the token side never
    shuffles (d broadcast left joins, one per sketch row, folded with
    ``least``). Returns the input plus an ``est`` column (min over rows of
    the matching cell; missing cell => 0).
    """
    out = tokens
    est_cols = []
    for r in range(depth):
        row_cells = sketch.filter(F.col("row") == r).select(
            F.col("bucket").alias(f"_b{r}"), F.col("cnt").alias(f"_c{r}")
        )
        out = out.join(
            F.broadcast(row_cells),
            cms_bucket(F.col(token_col), r, width) == F.col(f"_b{r}"),
            "left",
        )
        est_cols.append(F.coalesce(F.col(f"_c{r}"), F.lit(0)))
    return out.select(*tokens.columns, F.least(*est_cols).alias("est"))


# ---------------------------------------------------------------------------
# HyperLogLog rollup tables (Apache DataSketches HLL via Spark built-ins)
# ---------------------------------------------------------------------------
#
# The 100 TB pattern the reference's serial `nunique` cannot express: build
# per-fine-key sketch rows ONCE (e.g. distinct users per day), persist them,
# then answer every coarser distinct-count question (per week / month /
# event_type / global) by UNIONING SKETCHES — no rescan of the raw events,
# no re-shuffle of user ids. Distinct counts do not roll up with sum();
# sketches do with hll_union_agg. Each sketch is <= 2^lg_k registers
# (~4 KB at lg_k=12), so a year of daily rollups is |days|x|keys| rows of
# kilobytes — broadcastable — while the raw table is the 100 TB one.
#
# Spark's hll_sketch_agg/hll_union_agg/hll_sketch_estimate are the
# DataSketches HLL_4 implementation (JVM-side, codegen-friendly); the
# estimate is engine-specific, so contract queries pair it with the exact
# twin and hash the exact value + a within-tolerance boolean
# (the approx_aggs pattern in tests/offpath_queries/contract.py).

HLL_LG_K = 12


def hll_rollup(
    df: DataFrame,
    keys: list[str],
    col: str,
    lg_k: int = HLL_LG_K,
) -> DataFrame:
    """Per-key HLL sketch of ``col``: one binary sketch row per key group.
    ONE shuffle keyed by ``keys``, and hll_sketch_agg partially aggregates
    map-side, so the exchange carries |keys| x ~2^lg_k bytes — output-sized
    regardless of input rows."""
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(F.col(col), F.lit(lg_k)).alias("hll"),
        F.count("*").alias("n_rows"),
    )


def hll_merge(rollup: DataFrame, keys: list[str]) -> DataFrame:
    """Merge fine-grained sketch rows up to coarser ``keys`` and estimate.
    The input is the (tiny) rollup table, never the raw events: the shuffle
    is |coarse keys| sketch rows. ``approx_distinct`` is the DataSketches
    estimate; exact twins live in the caller's contract."""
    merged = rollup.groupBy(*keys).agg(
        F.hll_union_agg("hll").alias("hll"),
        F.sum("n_rows").alias("n_rows"),
    )
    return merged.withColumn(
        "approx_distinct", F.hll_sketch_estimate("hll").cast("long")
    )


# ---------------------------------------------------------------------------
# Mergeable fixed-bin histogram → quantile rollup tables
# ---------------------------------------------------------------------------
#
# The quantile twin of hll_rollup: exact quantiles do not roll up (a
# median of medians is not the median), but fixed-bin HISTOGRAMS do —
# bin counts add. Build per-fine-key histograms once (one partial-agg
# shuffle carrying ≤ |keys|×bins rows), persist them, then answer any
# coarser quantile question by SUMMING BINS — no rescan, no re-shuffle of
# the raw values. The estimate (linear interpolation inside the containing
# bin) is plain deterministic arithmetic, so unlike the HLL estimate a SQL
# oracle replays it bit-for-bit: contract queries hash the estimate itself.
# Accuracy is bounded by bin width (pytest pins the error vs exact
# percentile_cont); production picks bins to taste — counts are the only
# state, so width is a read-time choice when lo/hi are data bounds.

HIST_BINS = 64


def hist_rollup(
    df: DataFrame,
    keys: list[str],
    col: str,
    lo: float,
    hi: float,
    bins: int = HIST_BINS,
) -> DataFrame:
    """Per-key fixed-bin histogram of ``col`` over [lo, hi): one (keys,
    bin, cnt) row per non-empty cell. Values are clamped into the edge
    bins (the standard open-tail convention). ONE shuffle, partial-agg
    bounded at |keys|×bins rows per upstream partition."""
    width = (hi - lo) / bins
    b = F.least(
        F.lit(bins - 1),
        F.greatest(F.lit(0), F.floor((F.col(col) - lo) / width).cast("int")),
    )
    return (
        df.where(F.col(col).isNotNull())
        .groupBy(*keys, b.alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def hist_merge_quantiles(
    rollup: DataFrame,
    keys: list[str],
    qs: list[float],
    lo: float,
    hi: float,
    bins: int = HIST_BINS,
    ndigits: int = 6,
) -> DataFrame:
    """Merge fine-key histogram rows up to coarser ``keys`` and estimate
    the ``qs`` quantiles per coarse key by linear interpolation within the
    containing bin (continuous rank r = q·N; the bin where the running
    count first reaches r contributes its fraction of one bin width).

    Input is the rollup table (kilobytes per key), never raw data: the
    merge shuffle is |coarse keys|×bins rows and the quantile window sorts
    ≤ ``bins`` rows per key. Output: (*keys, q, est)."""
    width = (hi - lo) / bins
    merged = rollup.groupBy(*keys, "bin").agg(F.sum("cnt").alias("cnt"))
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy("bin")
    cum = merged.select(
        *keys,
        "bin",
        "cnt",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(
            Window.partitionBy(*keys)
            .orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("n"),
    )
    qcol = F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q")
    exp = cum.select(*keys, "bin", "cnt", "cum", "n", qcol).withColumn(
        "r", F.col("q") * F.col("n")
    )
    # the containing bin: first bin whose running count reaches r (for
    # q=0, r=0 falls in the first non-empty bin via the cum >= r test on
    # cum ≥ cnt ≥ 1 > 0)
    hit = exp.where(F.col("cum") >= F.col("r")).groupBy(*keys, "q").agg(
        F.min_by(
            F.struct("bin", "cnt", "cum"), F.col("bin")
        ).alias("_s"),
        F.first("n").alias("n"),
    )
    frac = (F.col("_s.cnt") + F.col("r") - F.col("_s.cum")) / F.col("_s.cnt")
    est = F.lit(lo) + (F.col("_s.bin") + F.greatest(F.lit(0.0), frac)) * F.lit(width)
    return hit.withColumn("r", F.col("q") * F.col("n")).select(
        *keys,
        "q",
        (F.round(est, ndigits) + F.lit(0.0)).alias("est"),
    )


def cms_build_keys(
    rel: DataFrame,
    key_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """CMS over an arbitrary key column (the token builder generalized):
    one (row, bucket, cnt) per non-empty cell, ≤ depth×width rows total
    after ONE partial-agg shuffle."""
    keys = rel.select(F.col(key_col).cast("string").alias("token")).filter(
        F.col("token").isNotNull()
    )
    buckets = keys.select(
        F.posexplode(
            F.array(*[cms_bucket(F.col("token"), r, width) for r in range(depth)])
        ).alias("row", "bucket")
    )
    return buckets.groupBy("row", "bucket").agg(F.count("*").alias("cnt"))


def cms_join_size(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Estimate |left ⋈ right on key| WITHOUT executing the join — the
    AMS/CMS inner-product estimator (Cormode & Muthukrishnan): the true
    join size is Σ_k fL(k)·fR(k), and each sketch row's inner product
    Σ_b L[r,b]·R[r,b] over-estimates it by hash-collision cross terms, so
    the MIN over the depth rows is the estimate. Integer-exact,
    deterministic (md5 buckets) — the oracle replays it bit-for-bit.

    The planner's use case at 100 TB: decide broadcast vs shuffle vs
    pre-aggregate for a fact×fact join by scanning each side ONCE into a
    depth×width counter table (two tiny shuffles), never materializing
    the join. Output: 1 row (est_rows BIGINT).

    r12 negative probe (kept the two-sided form): a side-tagged union
    through ONE exchange with two conditional count buffers per cell —
    which deletes the (row, bucket) sort-merge join — measured ~1.6×
    SLOWER paired at the 14M-key bench geometry (10.6 vs 6.1 s best).
    The cell domain there is nearly dense (14M keys vs 2²⁰×4 cells), so
    map-side partial aggregation barely collapses and the exchange
    volume IS the exploded relation; doubling the aggregation buffer
    (two counters instead of one) widens every partial row and shrinks
    how many entries the partial hash map holds before passing rows
    through — both effects swamp the saved join, whose inputs are only
    ~width×depth rows. The join stays."""
    la = cms_build_keys(left, key_col, depth, width)
    rb = cms_build_keys(right, key_col, depth, width)
    prods = (
        la.alias("l")
        .join(rb.alias("r"), ["row", "bucket"])
        .groupBy("row")
        .agg(F.sum(F.col("l.cnt") * F.col("r.cnt")).alias("_ip"))
    )
    return prods.agg(F.min("_ip").cast("long").alias("est_rows"))


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters: a mergeable frequent-items summary
# ---------------------------------------------------------------------------


def mg_counts(df: DataFrame, key_col: str) -> DataFrame:
    """Exact per-key counts of one slice — the map-side input to an MG
    merge (a plain partial-aggregated groupBy). Output: (key, cnt)."""
    return df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def mg_merge(
    summary: DataFrame | None,
    batch_counts: DataFrame,
    capacity: int,
) -> tuple[DataFrame, DataFrame]:
    """Merge a Misra-Gries summary (≤ ``capacity`` counters) with a new
    slice's exact counts, using the mergeable-summaries rule (Agarwal et
    al.): pointwise-sum the counters, find s = the (capacity+1)-th largest
    merged count, subtract s from every counter and keep the strictly
    positive ones — at most ``capacity`` survive, and every kept counter
    underestimates its true count by at most the cumulative Σs, which is
    ≤ n/(capacity+1) over any merge tree.

    Scale shape: the pointwise sum is a key-partial-agg (batch-sized, never
    history-sized); s comes from a TakeOrderedAndProject over capacity+1
    rows — NO data-sized global sort (the orderBy feeds a limit, so Spark
    plans per-partition top-(capacity+1) heaps + one bounded merge).

    Returns (new_summary(key, cnt), deduction(s) as a 1-row relation) —
    the caller accumulates Σs for the error bound."""
    merged = (
        summary.unionByName(batch_counts) if summary is not None else batch_counts
    )
    merged = merged.groupBy("key").agg(F.sum("cnt").alias("cnt"))
    top = merged.orderBy(F.col("cnt").desc(), F.col("key")).limit(capacity + 1)
    s_rel = top.agg(
        F.when(F.count(F.lit(1)) == capacity + 1, F.min("cnt"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("s")
    )
    new_summary = (
        merged.crossJoin(F.broadcast(s_rel))
        .where(F.col("cnt") > F.col("s"))
        .select("key", (F.col("cnt") - F.col("s")).alias("cnt"))
    )
    return new_summary, s_rel


def mg_fold(
    slices: list[DataFrame],
    key_col: str,
    capacity: int,
    ndigits: int = 6,
) -> DataFrame:
    """Fold a deterministic sequence of slices through MG merges and
    report the final summary with its error bound: (key, est, est_hi,
    n_total, deducted) where est ≤ true_count ≤ est + deducted for every
    key, and any key whose true count exceeds ``deducted`` is guaranteed
    present (the frequent-items guarantee). ``est_hi = est + deducted``.

    Merges run in slice order, so the summary depends only on the slice
    sequence: feeding the same slices one at a time (e.g. one per
    micro-batch) gives the same result."""
    summary: DataFrame | None = None
    deds = []
    totals = []
    for sl in slices:
        counts = mg_counts(sl, key_col)
        totals.append(sl.agg(F.count(F.lit(1)).alias("n")))
        summary, s_rel = mg_merge(summary, counts, capacity)
        deds.append(s_rel)
    ded = deds[0]
    for d in deds[1:]:
        ded = ded.unionByName(d)
    ded_tot = ded.agg(F.sum("s").cast("long").alias("deducted"))
    n_rel = totals[0]
    for t in totals[1:]:
        n_rel = n_rel.unionByName(t)
    n_tot = n_rel.agg(F.sum("n").cast("long").alias("n_total"))
    assert summary is not None
    return (
        summary.crossJoin(F.broadcast(ded_tot))
        .crossJoin(F.broadcast(n_tot))
        .select(
            "key",
            F.col("cnt").alias("est"),
            (F.col("cnt") + F.col("deducted")).alias("est_hi"),
            "n_total",
            "deducted",
        )
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) theta sketch: mergeable distinct counting WITH a
# set algebra — union AND intersection estimates, which HLL cannot give
# (HLL unions only; inclusion–exclusion on HLLs compounds error).
# ---------------------------------------------------------------------------

KMV_K = 256
KMV_SPACE = 1 << 48  # hash domain: 12 md5 hex chars = 48 uniform bits


def kmv_hash(key: Column) -> Column:
    """Deterministic 48-bit uniform hash a DuckDB oracle replays
    bit-for-bit (``CAST('0x'||substr(md5('kmv:'||key),1,12) AS BIGINT)``) —
    the same md5-prefix parity trick as cms_bucket/minhash. 48 bits keeps
    every value exactly representable as a double, so the single estimator
    division is IEEE-identical across engines. Production swap: xxhash64."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit("kmv:"), key.cast("string"))), 1, 12), 16, 10
    ).cast("long")


def kmv_build(
    rel: DataFrame, key_col: str, group_cols: list[str], k: int = KMV_K
) -> DataFrame:
    """Per-group KMV sketch: the k SMALLEST distinct hash values of the
    key. Output: (*group_cols, h, rn) with rn ∈ [1, k].

    Scale shape: ONE distinct shuffle on (group, h) — the raw keys never
    move twice and payloads never move at all — then the rank filter is
    Spark's WindowGroupLimit rewrite: per-partition bounded-k heaps on the
    map side, a k-row merge per group on the reduce side. State is ≤ k
    rows per group forever, and two sketches merge by union + re-rank
    (order-insensitive, replay-idempotent)."""
    from pyspark.sql.window import Window

    dist = rel.select(
        *group_cols, kmv_hash(F.col(key_col)).alias("h")
    ).distinct()
    w = Window.partitionBy(*group_cols).orderBy("h")
    return dist.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def kmv_estimate(
    sketch: DataFrame, group_cols: list[str], k: int = KMV_K, ndigits: int = 6
) -> DataFrame:
    """Distinct-count estimate per group: EXACT when the group kept fewer
    than k hashes (the sketch IS the distinct set), else the KMV estimator
    (k-1) / U(k) with U(k) = kth_min / SPACE (Bar-Yossef et al. 2002;
    unbiased, RSE ≈ 1/sqrt(k-2) ≈ 6.3% at k=256). Output:
    (*group_cols, n_kept, kth_hash, est_distinct)."""
    agg = sketch.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_kept"), F.max("h").alias("kth_hash")
    )
    est = F.when(
        F.col("n_kept") < k, F.col("n_kept").cast("double")
    ).otherwise(F.lit(float((k - 1) * KMV_SPACE)) / F.col("kth_hash"))
    return agg.select(
        *group_cols,
        "n_kept",
        "kth_hash",
        (F.round(est, ndigits) + F.lit(0.0)).alias("est_distinct"),
    )


def kmv_set_ops(
    sketch: DataFrame, group_col: str, k: int = KMV_K, ndigits: int = 6
) -> DataFrame:
    """Pairwise set algebra over per-group sketches: for every group pair
    a < b, estimate |A ∪ B|, |A ∩ B|, and Jaccard — computed from the
    k-row sketches ALONE (the corpus is never rescanned, the join never
    executed: the planner/observability use case at 100 TB).

    Union: merge the two hash sets, re-rank, apply the KMV estimator on
    the merged kth min. Intersection (theta-sketch rule): θ = min of the
    two groups' kth-min thresholds (SPACE when a group is exact, i.e. kept
    < k); count common hashes below θ; estimate = common · SPACE / θ —
    exact integers everywhere except one final division. Jaccard uses the
    union-k-sample form: common hashes INSIDE the union's k smallest
    (h ≤ u_kth) over u_kept — one sampling window for both numerator and
    denominator (a θ-window numerator would overestimate by ~|A∩B|/max).

    Output: (ga, gb, n_common, union_est, inter_est, jaccard_est)."""
    from pyspark.sql.window import Window

    groups = sketch.select(F.col(group_col)).distinct()
    meta = sketch.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_kept"), F.max("h").alias("kth")
    )
    theta_col = F.when(F.col("n_kept") < k, F.lit(KMV_SPACE)).otherwise(F.col("kth"))
    meta = meta.select(group_col, theta_col.alias("theta"), "n_kept")
    pairs = (
        groups.select(F.col(group_col).alias("ga"))
        .crossJoin(groups.select(F.col(group_col).alias("gb")))
        .filter(F.col("ga") < F.col("gb"))
    )
    # union sketch per pair: tag each pair's member hashes, distinct, re-rank
    a_side = sketch.select(F.col(group_col).alias("ga"), "h")
    b_side = sketch.select(F.col(group_col).alias("gb"), "h")
    u = (
        pairs.join(a_side, "ga")
        .select("ga", "gb", "h")
        .unionByName(pairs.join(b_side, "gb").select("ga", "gb", "h"))
        .distinct()
    )
    wu = Window.partitionBy("ga", "gb").orderBy("h")
    u_k = u.withColumn("rn", F.row_number().over(wu)).filter(F.col("rn") <= k)
    u_est = u_k.groupBy("ga", "gb").agg(
        F.count(F.lit(1)).alias("u_kept"), F.max("h").alias("u_kth")
    )
    # intersection: common hashes below the pair's theta
    ma = meta.select(
        F.col(group_col).alias("ga"), F.col("theta").alias("theta_a")
    )
    mb = meta.select(
        F.col(group_col).alias("gb"), F.col("theta").alias("theta_b")
    )
    common = (
        a_side.join(b_side, "h")
        .join(F.broadcast(ma), "ga")
        .join(F.broadcast(mb), "gb")
        .filter(
            (F.col("h") < F.col("theta_a")) & (F.col("h") < F.col("theta_b"))
        )
        .groupBy("ga", "gb")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    # Jaccard numerator: common hashes INSIDE the union's k-sample (h ≤
    # u_kth), NOT below θ — θ ≥ u_kth, so the θ-window numerator over the
    # u_kept denominator mixes two sampling windows and overestimates
    # (measured ~0.445 vs true 1/3 on the k=256 test fixture; the union
    # k-sample is a uniform sample of A∪B, of which the common fraction
    # is an unbiased Jaccard estimate — Beyer et al., "On Synopses for
    # Distinct-Value Estimation Under Multiset Operations", SIGMOD'07)
    common_u = (
        a_side.join(b_side, "h")
        .join(u_k.select("ga", "gb", "h"), ["ga", "gb", "h"], "left_semi")
        .groupBy("ga", "gb")
        .agg(F.count(F.lit(1)).alias("n_common_u"))
    )
    out = (
        pairs.join(F.broadcast(ma), "ga")
        .join(F.broadcast(mb), "gb")
        .join(u_est, ["ga", "gb"], "left")
        .join(common, ["ga", "gb"], "left")
        .join(common_u, ["ga", "gb"], "left")
        .na.fill({"n_common": 0, "n_common_u": 0})
    )
    theta = F.least(F.col("theta_a"), F.col("theta_b"))
    union_est = F.when(
        F.col("u_kept") < k, F.col("u_kept").cast("double")
    ).otherwise(F.lit(float((k - 1) * KMV_SPACE)) / F.col("u_kth"))
    inter_est = F.when(
        theta == KMV_SPACE, F.col("n_common").cast("double")
    ).otherwise(F.col("n_common") * F.lit(float(KMV_SPACE)) / theta)
    # KMV Jaccard: fraction of the union's bounded k-sample that is common
    jac = F.col("n_common_u") / F.col("u_kept")
    return out.select(
        "ga",
        "gb",
        "n_common",
        (F.round(union_est, ndigits) + F.lit(0.0)).alias("union_est"),
        (F.round(inter_est, ndigits) + F.lit(0.0)).alias("inter_est"),
        (F.round(jac, ndigits) + F.lit(0.0)).alias("jaccard_est"),
    )


def hdr_quantiles(
    df: DataFrame,
    value_col: str,
    qs: tuple = (0.5, 0.9, 0.99, 0.999),
    sub_bits: int = 4,
    ndigits: int = 6,
) -> DataFrame:
    """HDR-histogram quantile sketch: exponent-bucketed (power-of-2) with
    2^sub_bits linear sub-buckets per octave — guaranteed relative error
    ≤ 2^-(sub_bits+1) at ANY quantile, with a bucket id computed by EXACT
    integer arithmetic (e = bit_length(x) − 1 via the binary-string
    length, s = x·2^sub_bits >> e − 2^sub_bits), so the sketch is
    bit-identical across engines — the property a log-γ DDSketch cannot
    give (its bucket = ⌈log_γ x⌉ flips ±1 on an ULP at bucket edges).

    Values must be POSITIVE integers BELOW 2^49 (quantize at the
    caller; zero/negative rows are filtered out). The bound keeps
    x·2^sub_bits exactly representable through the double division —
    past it Spark's long multiply can wrap silently at 2^59 while DuckDB
    raises on BIGINT overflow, so the cross-engine guarantee ends there. Mergeable: the bucket relation
    is a sum-combinable histogram, the 100-TB path ships
    |octaves|·2^sub_bits ≤ ~1k rows per partial.

    Estimate = bucket midpoint 2^e·(1 + (s+0.5)/2^sub_bits) — one
    fixed-order double expression. Quantile pick: smallest bucket whose
    cumulative count reaches ⌈q·n⌉ (exact integers).

    Output per q: (q, n, bucket_e, bucket_s, est, rel_err_bound)."""
    m = 1 << sub_bits
    x = F.col(value_col).cast("long")
    base = df.filter(x > 0).select(x.alias("_x"))
    e = (F.length(F.bin(F.col("_x"))) - 1).cast("int")
    # s = floor(x * m / 2^e) - m: division by a power of two is exact in
    # binary floating point, so the double path equals the integer shift
    s = (
        F.floor(
            (F.col("_x") * m).cast("double")
            / F.pow(F.lit(2.0), F.col("_e").cast("double"))
        ).cast("int")
        - m
    )
    bucketed = base.withColumn("_e", e).withColumn("_s", s)
    hist = bucketed.groupBy("_e", "_s").agg(F.count(F.lit(1)).alias("_c"))
    w = Window.orderBy("_e", "_s").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "_e", "_s", F.sum("_c").over(w).cast("long").alias("_cum")
    )
    tot = base.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    qdf = None
    for q in qs:
        one = (
            cum.crossJoin(F.broadcast(tot))
            .filter(
                F.col("_cum")
                >= F.ceil(F.lit(float(q)) * F.col("_n")).cast("long")
            )
            .orderBy("_e", "_s")
            .limit(1)
            .select(
                F.lit(float(q)).alias("q"),
                F.col("_n").alias("n"),
                F.col("_e").alias("bucket_e"),
                F.col("_s").alias("bucket_s"),
            )
        )
        qdf = one if qdf is None else qdf.unionByName(one)
    est = F.pow(F.lit(2.0), F.col("bucket_e").cast("double")) * (
        1.0
        + (F.col("bucket_s").cast("double") + 0.5) / F.lit(float(m))
    )
    return qdf.select(
        "q",
        "n",
        "bucket_e",
        "bucket_s",
        (F.round(est, ndigits) + F.lit(0.0)).alias("est"),
        F.lit(round(1.0 / (2 * m), 6)).alias("rel_err_bound"),
    )
