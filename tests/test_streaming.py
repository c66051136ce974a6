"""Structured-Streaming surface: AvailableNow drain equals batch semantics;
late-data watermark config; streaming dedup; T2 idempotent partition
overwrite."""

import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from gridmet_etl_spark.sources.readers import read_events
from gridmet_etl_spark.streaming.events import (
    incremental_append,
    run_available_now,
    stream_events,
    streaming_dedup,
    windowed_event_counts,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Stage the events table as a stream-source directory (micro-second ts,
    since the streaming schema uses TimestampType)."""
    d = tmp_path_factory.mktemp("events_src")
    df = read_events(spark, os.path.join(SF_DIR, "events.parquet"))
    df.write.mode("overwrite").parquet(str(d / "batch"))
    return str(d / "batch")


def test_windowed_counts_match_batch(spark, events_dir, tmp_path):
    stream = stream_events(spark, events_dir)
    agg = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    run_available_now(agg, out, ck)
    got = spark.read.parquet(out)

    batch = spark.read.parquet(events_dir)
    # append mode emits a window only once the watermark passes window_end:
    # final watermark = max(ts) - 2h, so compare the expired windows only
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    expected = (
        batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .filter(F.col("window_end") <= F.lit(max_ts) - F.expr("INTERVAL 2 HOURS"))
    )
    assert got.count() == expected.count()
    assert got.count() > 0
    e = expected.select(
        "window_start",
        "event_type",
        F.col("n_events").alias("exp_n"),
        F.col("sum_value").alias("exp_sum"),
    )
    j = got.join(e, ["window_start", "event_type"], "inner")
    assert j.count() == expected.count()
    mismatch = j.filter(
        (F.col("n_events") != F.col("exp_n")) | (F.abs(F.col("sum_value") - F.col("exp_sum")) > 1e-9)
    )
    assert mismatch.count() == 0


def test_streaming_dedup(spark, events_dir, tmp_path):
    stream = stream_events(spark, events_dir)
    deduped = streaming_dedup(stream)
    out = str(tmp_path / "out")
    run_available_now(deduped, out, str(tmp_path / "ck"))
    got = spark.read.parquet(out)
    n_src = spark.read.parquet(events_dir).select("event_id").distinct().count()
    assert got.count() == n_src
    assert got.select("event_id").distinct().count() == n_src


def test_sessionize_stateful(spark, events_dir, tmp_path):
    """applyInPandasWithState sessionization: sessions split on >gap
    inactivity; per-user event counts conserved across emitted sessions
    (final open sessions stay in state with AvailableNow)."""
    from gridmet_etl_spark.streaming.events import sessionize

    stream = stream_events(spark, events_dir)
    sessions = sessionize(stream, gap_minutes=30)
    out = str(tmp_path / "out")
    run_available_now(sessions, out, str(tmp_path / "ck"))
    got = spark.read.parquet(out)
    if got.count() == 0:
        # all sessions still open is impossible across 30-day fixture data
        raise AssertionError("no sessions emitted")
    pdf = got.toPandas()
    assert (pdf["session_end"] >= pdf["session_start"]).all()
    assert (pdf["n_events"] > 0).all()
    # gap property: consecutive sessions of one user are > 30 min apart
    one = pdf.sort_values("session_start").groupby("user_id")
    for _, g in one:
        if len(g) > 1:
            gaps = (
                g["session_start"].iloc[1:].values - g["session_end"].iloc[:-1].values
            )
            assert (gaps > np.timedelta64(30, "m")).all()
    # conservation: emitted sessions + state-held opens = all events
    batch = spark.read.parquet(events_dir)
    per_user_emitted = pdf.groupby("user_id")["n_events"].sum()
    per_user_total = batch.groupBy("user_id").count().toPandas().set_index("user_id")["count"]
    for uid, emitted in per_user_emitted.items():
        assert emitted <= per_user_total[uid]


def test_streaming_grid_ingestion_matches_batch(spark, fixdir, tmp_path, weights):
    """T2 streaming twin: grid slices arriving as files → per-batch weighted
    agg + partition overwrite ≡ the batch pipeline on the same data; a
    second drain of the same files is a no-op (exactly-once per date)."""
    from gridmet_etl_spark.operators.weighted_agg import weighted_mean_wide
    from gridmet_etl_spark.streaming.grid_stream import (
        incremental_weighted_agg,
        stream_grid,
    )

    grid = spark.read.parquet(os.path.join(fixdir, "grid.parquet"))
    # the hazardous arrival order: each VARIABLE of the same dates lands as
    # its own file, and maxFilesPerTrigger=2 forces them across micro-batches
    flat = str(tmp_path / "flat")
    for v in ["tmmx", "tmmn", "pr", "rmax", "rmin", "vs"]:
        grid.filter(F.col("var") == v).coalesce(1).write.mode("append").parquet(flat)

    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    variables = ["tmmx", "tmmn", "pr", "rmax", "rmin", "vs"]
    q = incremental_weighted_agg(
        stream_grid(spark, flat, max_files_per_trigger=2),
        weights, variables, out, ck, landing_dir=flat,
    )
    q.awaitTermination()
    got = spark.read.parquet(out)
    expected = weighted_mean_wide(grid, weights, variables, masked=True)
    assert got.count() == expected.count()
    j = got.select("feature_id", "time", F.col("tmmx").alias("g")).join(
        expected.select("feature_id", "time", F.col("tmmx").alias("e")),
        ["feature_id", "time"],
    )
    assert j.filter(F.abs(F.col("g") - F.col("e")) > 1e-9).count() == 0
    # re-drain: no new files → no change
    q2 = incremental_weighted_agg(
        stream_grid(spark, flat), weights, variables, out, ck, landing_dir=flat
    )
    q2.awaitTermination()
    assert spark.read.parquet(out).count() == expected.count()


def test_incremental_append_idempotent(spark, events_dir, tmp_path):
    """T2: re-writing the same date window must not duplicate rows."""
    out = str(tmp_path / "daily")
    df = spark.read.parquet(events_dir).withColumn("day", F.to_date("ts"))
    incremental_append(df, out)
    n1 = spark.read.parquet(out).count()
    incremental_append(df, out)  # idempotent re-run
    n2 = spark.read.parquet(out).count()
    assert n1 == n2 == df.count()
    # partial re-run replaces only its partitions
    one_day = df.filter(F.col("day") == df.agg(F.min("day")).collect()[0][0])
    incremental_append(one_day, out)
    assert spark.read.parquet(out).count() == n1


def test_stream_stream_attribution_matches_batch(spark, tmp_path):
    """Watermarked stream-stream join (view→click within 10 min) must emit
    exactly the batch twin's pairs after an AvailableNow drain."""
    from datetime import datetime, timedelta

    from pyspark.sql import types as T

    from gridmet_etl_spark.streaming.attribution import (
        attribution_join,
        streaming_attribution,
    )

    base = datetime(2024, 1, 1)
    rows = []
    eid = 0
    for u in range(5):
        for k in range(6):
            t = base + timedelta(minutes=3 * k + u)
            rows.append((eid, t, u, "view" if k % 2 == 0 else "click", 1.0))
            eid += 1
    # a click 30 min later: outside every view's horizon
    rows.append((eid, base + timedelta(minutes=60), 0, "click", 1.0))
    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ])
    batch_df = spark.createDataFrame(rows, schema)
    landing = str(tmp_path / "landing")
    batch_df.write.parquet(landing)

    stream = spark.readStream.schema(schema).parquet(landing)
    out_dir, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (
        streaming_attribution(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {(r.user_id, r.left_id, r.right_id) for r in spark.read.parquet(out_dir).collect()}
    expected = {(r.user_id, r.left_id, r.right_id) for r in attribution_join(batch_df).collect()}
    assert got == expected and len(expected) > 0
    # the 60-min click attributed to nothing
    assert not any(rid == eid for (_, _, rid) in got)


def test_attribution_lag_under_dst_session_zone(spark):
    """lag_seconds must be physically-elapsed time even when the session
    timezone has a DST transition inside the join horizon (VERDICT r3 §wrong
    item 2 / ADVICE r2). America/New_York springs forward 2024-03-10
    02:00→03:00: a view at 01:30 local and a click at 03:15 local are 45
    real minutes apart although the wall-clock difference reads 105 — the
    timestampdiff lag must say 2700 s and the 60-min horizon must match it."""
    from gridmet_etl_spark.streaming.attribution import attribution_join

    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df = spark.createDataFrame(
            [
                (1, "2024-03-10 01:30:00", 7, "view", 1.0),
                (2, "2024-03-10 03:15:00", 7, "click", 1.0),
            ],
            ["event_id", "ts_s", "user_id", "event_type", "value"],
        ).select(
            "event_id",
            F.to_timestamp("ts_s").alias("ts"),
            "user_id",
            "event_type",
            "value",
        )
        rows = attribution_join(df, within_minutes=60).collect()
        assert len(rows) == 1
        assert rows[0].lag_seconds == 45 * 60.0
        # fall-back transition (2024-11-03 02:00→01:00): 01:30→01:45 EST is
        # physically 105 min after 01:30 EDT-pre-transition only if the
        # parser picks the earlier offset; either way the lag must be
        # non-negative physical elapsed time, never a wall-clock subtraction
        df2 = spark.createDataFrame(
            [
                (1, "2024-11-03 00:30:00", 7, "view", 1.0),
                (2, "2024-11-03 01:15:00", 7, "click", 1.0),
            ],
            ["event_id", "ts_s", "user_id", "event_type", "value"],
        ).select(
            "event_id",
            F.to_timestamp("ts_s").alias("ts"),
            "user_id",
            "event_type",
            "value",
        )
        rows2 = attribution_join(df2, within_minutes=120).collect()
        assert len(rows2) == 1 and rows2[0].lag_seconds >= 45 * 60.0
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_streaming_trending_counts_match_batch(spark, events_dir, tmp_path):
    """streaming_trending (watermarked windowed counts) drains to the same
    per-window counts trending_topk ranks in batch (expired windows)."""
    from gridmet_etl_spark.streaming.events import streaming_trending, trending_topk

    stream = stream_events(spark, events_dir)
    agg = streaming_trending(stream, window="6 hours", watermark="12 hours")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    run_available_now(agg, out, ck)
    got = spark.read.parquet(out)
    assert got.count() > 0

    batch = spark.read.parquet(events_dir)
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    expected = (
        batch.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count("*").alias("exp_n"))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"), "event_type", "exp_n")
        .filter(F.col("window_end") <= F.lit(max_ts) - F.expr("INTERVAL 12 HOURS"))
    )
    j = got.join(expected, ["window_start", "event_type"])
    assert j.count() == expected.count()
    assert j.filter(F.col("n") != F.col("exp_n")).count() == 0

    # the batch twin ranks exactly these counts: top-1 of each expired
    # window agrees with a manual max over the drained counts
    from pyspark.sql import Window as W

    topk = trending_topk(batch, window="6 hours", k=1).withColumnRenamed("n", "bn")
    top_drained = (
        got.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("window_start").orderBy(F.col("n").desc(), F.col("event_type"))
            ),
        )
        .where(F.col("rn") == 1)
    )
    jj = top_drained.join(topk, ["window_start", "event_type"])
    assert jj.filter(F.col("n") != F.col("bn")).count() == 0
    assert jj.count() == top_drained.count()


def test_stream_static_enrichment_matches_batch(spark, events_dir, tmp_path):
    """Stream-static join: each micro-batch enriches against a static
    (broadcast) dimension — the standard dim-lookup pattern; drained
    result equals the batch join."""
    dim = spark.createDataFrame(
        [("view", 1.0), ("click", 2.0), ("purchase", 5.0), ("signup", 0.5),
         ("error", 0.0)],
        "event_type string, weight double",
    )
    stream = stream_events(spark, events_dir)
    enriched = stream.join(F.broadcast(dim), "event_type").select(
        "event_id", "event_type", (F.col("value") * F.col("weight")).alias("wv")
    )
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    run_available_now(enriched, out, ck)
    got = spark.read.parquet(out)

    batch = spark.read.parquet(events_dir).join(dim, "event_type").select(
        "event_id", (F.col("value") * F.col("weight")).alias("wv")
    )
    assert got.count() == batch.count()
    j = got.join(batch.withColumnRenamed("wv", "bwv"), "event_id")
    assert j.count() == batch.count()
    assert j.filter(F.abs(F.col("wv") - F.col("bwv")) > 1e-12).count() == 0


def test_streaming_threshold_alerts_match_batch(spark, events_dir, tmp_path):
    """streaming_threshold_alerts (applyInPandasWithState hysteresis) drains
    to EXACTLY the batch twin's below->above transition set per user."""
    from gridmet_etl_spark.streaming.alerts import (
        streaming_threshold_alerts,
        threshold_alerts,
    )

    thresh = 5.0
    stream = stream_events(spark, events_dir)
    alerts = streaming_threshold_alerts(
        stream, thresh, key_col="user_id", ts_col="ts", value_col="value"
    )
    out = str(tmp_path / "out")
    run_available_now(alerts, out, str(tmp_path / "ck"))
    got = {
        (r["key"], r["ts"], round(r["value"], 6))
        for r in spark.read.parquet(out).collect()
    }

    batch = spark.read.parquet(events_dir).select("user_id", "ts", "value")
    want = {
        (r["user_id"], r["ts"], round(r["value"], 6))
        for r in threshold_alerts(batch, ["user_id"], "ts", "value", thresh).collect()
    }
    assert len(want) > 0
    assert got == want


def test_streaming_quota_matches_batch(spark, tmp_path):
    """applyInPandasWithState quota (streaming_quota): per-source cumulative
    token state; AvailableNow drain over a static directory must equal the
    batch window-prefix-sum twin row-for-row."""
    from gridmet_etl_spark.streaming.quota import quota_filter, streaming_quota

    docs = (
        spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        .withColumn("n_tokens", F.size(F.split(F.col("text"), " ")))
        .select("source", "doc_id", "n_tokens")
    )
    src_dir = str(tmp_path / "docs_src")
    docs.write.mode("overwrite").parquet(src_dir)

    budget = 800  # small enough to bite on the sf0.001 corpus
    batch = {
        (r.source, r.doc_id): (r.n_tokens, r.cum_tokens, r.kept)
        for r in quota_filter(docs, budget=budget).collect()
    }

    stream = spark.readStream.schema(
        "source string, doc_id long, n_tokens long"
    ).parquet(src_dir)
    out_dir = str(tmp_path / "out")
    q = (
        streaming_quota(stream, budget=budget)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.source, r.doc_id): (r.n_tokens, r.cum_tokens, r.kept)
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got == batch
    # budget actually bites: some docs rejected, none over budget kept
    kept_tokens = {}
    for (src, _), (n, cum, kept) in got.items():
        if kept:
            kept_tokens[src] = max(kept_tokens.get(src, 0), cum)
    assert all(v <= budget for v in kept_tokens.values())
    assert any(not kept for (_, _, kept) in got.values())


def test_streaming_quota_state_across_batches(spark, tmp_path):
    """Quota state survives micro-batch boundaries: two arrival waves in
    doc_id order must produce the same decisions as the batch twin over
    the union."""
    import time as _time

    from gridmet_etl_spark.streaming.quota import quota_filter, streaming_quota

    rows1 = [("s", i, 300) for i in range(5)]          # 1500 tokens
    rows2 = [("s", 5 + i, 300) for i in range(5)]      # pushes past budget
    budget = 2000  # admits docs 0..5 (1800), rejects 6+ — decided in wave 2
    sdf1 = spark.createDataFrame(rows1, "source string, doc_id long, n_tokens long")
    sdf2 = spark.createDataFrame(rows2, "source string, doc_id long, n_tokens long")
    src = str(tmp_path / "landing")
    sdf1.coalesce(1).write.parquet(src + "/w1")
    _time.sleep(1.1)  # file-source orders by mod time — wave 1 first
    sdf2.coalesce(1).write.parquet(src + "/w2")

    stream = (
        spark.readStream.schema("source string, doc_id long, n_tokens long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    out_dir = str(tmp_path / "out")
    q = (
        streaming_quota(stream, budget=budget)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.doc_id: (r.cum_tokens, r.kept)
        for r in spark.read.parquet(out_dir).collect()
    }
    batch = {
        r.doc_id: (r.cum_tokens, r.kept)
        for r in quota_filter(sdf1.union(sdf2), budget=budget).collect()
    }
    assert got == batch
    assert got[6][1] is False and got[5][1] is True  # boundary in wave 2


def test_stream_stream_left_outer_attribution(spark, tmp_path):
    """Left-outer watermarked stream-stream join: matched pairs equal the
    inner join's; unmatched views are RELEASED WITH NULLs once the
    watermark clears their horizon (here: a final far-future event pushes
    the watermark past everything)."""
    from datetime import datetime, timedelta

    from pyspark.sql import types as T

    from gridmet_etl_spark.streaming.attribution import (
        attribution_join_outer,
        streaming_attribution,
    )

    base = datetime(2024, 1, 1)
    rows = [
        (0, base, 0, "view", 1.0),                              # converted
        (1, base + timedelta(minutes=5), 0, "click", 1.0),
        (2, base + timedelta(minutes=20), 1, "view", 1.0),      # never converts
        (3, base + timedelta(minutes=40), 2, "click", 1.0),     # clickonly
    ]
    # watermark pushers, delivered as LATER micro-batches: a NULL for an
    # expired left row is emitted in the batch AFTER the one that advanced
    # the watermark past its horizon, so each checkpoint-resumed drain
    # below feeds one pusher to trigger the next state flush
    # each pusher advances BOTH event-time columns: the global watermark is
    # the MIN across the two withWatermark branches, so a far-future view
    # alone leaves the click-side watermark (and thus state eviction) stuck
    pushers = [
        [(4, base + timedelta(hours=6), 3, "view", 1.0),
         (5, base + timedelta(hours=6), 3, "click", 1.0)],
        [(6, base + timedelta(hours=12), 3, "view", 1.0),
         (7, base + timedelta(hours=12), 3, "click", 1.0)],
    ]
    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ])
    batch_df = spark.createDataFrame(rows, schema)
    landing = str(tmp_path / "landing")
    batch_df.write.parquet(landing)

    stream = spark.readStream.schema(schema).parquet(landing)
    out_dir, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    def drain():
        q = (
            streaming_attribution(stream, how="left_outer")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    for extra in pushers:
        spark.createDataFrame(extra, schema).write.mode("append").parquet(landing)
        drain()
    got = {(r.user_id, r.left_id, r.right_id) for r in spark.read.parquet(out_dir).collect()}
    # converted view pairs with its click; the never-converted view 2 must
    # appear with a NULL right side (released by the watermark)
    assert (0, 0, 1) in got
    assert (1, 2, None) in got
    # batch twin agrees on the full multiset
    all_rows = rows + [r for p in pushers for r in p]
    expected = {
        (r.user_id, r.left_id, r.right_id)
        for r in attribution_join_outer(spark.createDataFrame(all_rows, schema)).collect()
    }
    # the final pusher's own rows may still be buffered (their horizon
    # has not expired) — compare on everything the stream has released
    assert got <= expected
    assert {(u, l, r) for (u, l, r) in expected if l not in (6,)} <= got


def test_streaming_page_hinkley_matches_batch(spark, events_dir, tmp_path):
    """streaming_page_hinkley (applyInPandasWithState running-mean drift)
    drains to EXACTLY the batch twin's alarm rows per user."""
    from gridmet_etl_spark.streaming.drift import (
        page_hinkley_keyed,
        streaming_page_hinkley,
    )

    lam = 3.0  # events 'value' is small; a low lambda guarantees alarms
    stream = stream_events(spark, events_dir)
    alarms = streaming_page_hinkley(
        stream, key_col="user_id", ts_col="ts", value_col="value", lam=lam
    )
    out = str(tmp_path / "out")
    run_available_now(alarms, out, str(tmp_path / "ck"))
    got = {
        (r["key"], r["ts"], round(r["value"], 6), r["ph"], r["excess"])
        for r in spark.read.parquet(out).collect()
    }

    batch = spark.read.parquet(events_dir).select("user_id", "ts", "value")
    want = {
        (r["user_id"], r["ts"], round(r["value"], 6), r["ph"], r["excess"])
        for r in page_hinkley_keyed(
            batch, ["user_id"], "ts", "value", lam=lam
        ).collect()
    }
    assert len(want) > 0
    assert got == want


def test_streaming_page_hinkley_state_across_batches(spark, events_dir, tmp_path):
    """The PH recurrence carries across micro-batches: a two-batch drain
    (maxFilesPerTrigger=1 over a two-file copy) equals the one-batch
    drain exactly."""
    from gridmet_etl_spark.streaming.drift import streaming_page_hinkley

    # split the source into two TIME-ORDERED files (early half first, late
    # half appended after) so AvailableNow runs >= 2 micro-batches that
    # respect stream order — a hash split would send old rows into batch 2
    # where the advanced watermark and applied-state skip drop them
    from gridmet_etl_spark.streaming.events import EVENTS_SCHEMA

    src = str(tmp_path / "src2")
    base = spark.read.parquet(events_dir)
    tsu = F.unix_micros(F.col("ts").cast("timestamp"))
    cut = base.agg(F.percentile_approx(tsu, 0.5)).collect()[0][0]
    base.filter(tsu <= cut).coalesce(1).write.mode("append").parquet(src)
    base.filter(tsu > cut).coalesce(1).write.mode("append").parquet(src)
    lam = 3.0
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    alarms = streaming_page_hinkley(
        stream, key_col="user_id", ts_col="ts", value_col="value", lam=lam
    )
    out = str(tmp_path / "out2")
    run_available_now(alarms, out, str(tmp_path / "ck2"))
    multi = {
        (r["key"], r["ts"], r["ph"]) for r in spark.read.parquet(out).collect()
    }

    stream1 = stream_events(spark, src)
    alarms1 = streaming_page_hinkley(
        stream1, key_col="user_id", ts_col="ts", value_col="value", lam=lam
    )
    out1 = str(tmp_path / "out1")
    run_available_now(alarms1, out1, str(tmp_path / "ck1"))
    single = {
        (r["key"], r["ts"], r["ph"])
        for r in spark.read.parquet(out1).collect()
    }
    assert len(single) > 0
    assert multi == single
