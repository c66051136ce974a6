"""Gap-based batch sessionization with a hub-key segment-and-merge path.

The lag-window formulation (q_sessionize_batch in
tests/offpath_queries/contract.py, the batch twin of
streaming/events.py::sessionize — reference analogue: the daily-append
cycle detection in gridmet-etl's etl.py incremental mode) partitions by the
session key, so ONE task sorts a key's entire history. For hub keys (a bot
holding a double-digit share of a 12M-event stream) that is unbounded
per-task state — the same skew ``operators/asof.py::asof_join`` defends with
``bucket_seconds`` (VERDICT r7 item 3; extended to sessionize by r8 item 6).

``bucket_seconds`` here switches to the identical-output SEGMENT-AND-MERGE
plan:

1. LOCAL pass — the lag/new-session-flag window partitions by
   (key, ts-bucket): per-task work is one key-BUCKET, not one key.
   Within a bucket the previous row is the true previous event, so local
   break flags are exact; only each bucket's FIRST event defers its break
   decision.
2. SUMMARY pass — one row per (key, bucket): first/last event time and the
   local break count. A per-key window over THIS bounded relation
   (≤ horizon/bucket_seconds rows per key — the only per-key-serial work)
   resolves each bucket's boundary break (first_ts − previous bucket's
   last_ts > gap) and its cumulative session-index offset.
3. MERGE — join offsets back on (key, bucket), already the local pass's
   partitioning key; ``session_idx = offset + local_idx`` reproduces the
   unbucketed numbering exactly (property-tested, incl. sessions spanning
   many buckets and empty buckets between events).

Equal timestamps can never straddle a bucket boundary (bucket is a function
of ts), so tiebreak ordering stays a within-bucket concern and the bucketed
plan is bit-identical to the unbucketed one — not just equivalent up to
renumbering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def gap_sessionize(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
    order_cols: list[str] | None = None,
    bucket_seconds: int | None = None,
) -> DataFrame:
    """Annotate each event with its per-key gap-session index.

    ``session_idx`` counts breaks (event more than ``gap_seconds`` after its
    predecessor) before the event, per key, starting at 0 — the same
    numbering as a running sum over a new-session lag flag. Ordering within
    a key is (ts, *order_cols); pass a unique tiebreaker (e.g. event_id)
    when timestamps collide.

    ``bucket_seconds``: hub-key fallback (module docstring). Same output,
    per-task state bounded by one key-bucket; pick a bucket so a hub key's
    densest bucket fits a task comfortably (e.g. 86400 for bot traffic at
    ~10⁶ events/day).
    """
    order = [F.col(ts_col)] + [F.col(c) for c in (order_cols or [])]
    gap = F.expr(f"INTERVAL {int(gap_seconds)} SECONDS")

    if bucket_seconds is None:
        wo = Window.partitionBy(key_col).orderBy(*order)
        flagged = df.withColumn(
            "_new_s",
            F.when(F.col(ts_col) - F.lag(ts_col, 1).over(wo) > gap, 1).otherwise(0),
        )
        return flagged.withColumn(
            "session_idx",
            F.sum("_new_s").over(wo.rowsBetween(Window.unboundedPreceding, 0)),
        ).drop("_new_s")

    # --- segment-and-merge ---
    # bucket as a pure function of ts: equal timestamps share a bucket, so
    # tiebreak order never crosses the boundary. TIMESTAMP_NTZ rejects
    # unix_micros; CAST to TIMESTAMP first (a fixed shift — harmless for a
    # fixed-width partition of the time axis).
    ev = df.withColumn(
        "_bkt",
        F.floor(
            F.expr(f"unix_micros(CAST({ts_col} AS TIMESTAMP))")
            / F.lit(int(bucket_seconds) * 1_000_000)
        ),
    )
    wl = Window.partitionBy(key_col, "_bkt").orderBy(*order)
    local = ev.withColumn(
        "_new_s",
        F.when(F.col(ts_col) - F.lag(ts_col, 1).over(wl) > gap, 1).otherwise(0),
    ).withColumn(
        "_local_idx",
        F.sum("_new_s").over(wl.rowsBetween(Window.unboundedPreceding, 0)),
    )

    summary = local.groupBy(key_col, "_bkt").agg(
        F.min(ts_col).alias("_first_ts"),
        F.max(ts_col).alias("_last_ts"),
        F.sum("_new_s").alias("_local_breaks"),
    )
    ws = Window.partitionBy(key_col).orderBy("_bkt")
    bounded = summary.withColumn(
        "_boundary",
        F.when(F.lag("_last_ts", 1).over(ws).isNull(), F.lit(0))
        .when(F.col("_first_ts") - F.lag("_last_ts", 1).over(ws) > gap, F.lit(1))
        .otherwise(F.lit(0)),
    )
    offsets = bounded.withColumn(
        "_offset",
        F.col("_boundary")
        + F.coalesce(
            F.sum(F.col("_boundary") + F.col("_local_breaks")).over(
                ws.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select(key_col, "_bkt", "_offset")

    return (
        local.join(offsets, [key_col, "_bkt"])
        .withColumn("session_idx", F.col("_offset") + F.col("_local_idx"))
        .drop("_bkt", "_new_s", "_local_idx", "_offset")
    )


def session_rollup(
    sessions: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    round_digits: int = 6,
) -> DataFrame:
    """Per-session rollup over a ``gap_sessionize`` output: start/end,
    event count, value sum — a map-side-combinable hash aggregation, so a
    hub session never concentrates state the way a per-key sort does."""
    return sessions.groupBy(key_col, "session_idx").agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count("*").alias("n_events"),
        F.round(F.sum(value_col), round_digits).alias("sum_value"),
    )
