"""Streaming grid ingestion (T2's production form): new raster slices
landing as parquet files are discovered per micro-batch, aggregated through
the SAME single-shuffle weighted mean as the batch pipeline, and upserted
into the output via idempotent dynamic partition overwrite.

``foreachBatch`` is the right tool (not a stateful streaming agg): each
micro-batch holds complete (var, date) slices — gridMET publishes whole
days — so per-batch aggregation + partition overwrite gives exactly-once
output per date with zero streaming state. Late re-publishes of a date
simply overwrite that date's partition (same idempotence as
incremental_append).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.weighted_agg import weighted_mean_wide
from ..schemas import GRID_SCHEMA


def stream_grid(
    spark: SparkSession, landing_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = spark.readStream.schema(GRID_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(landing_dir)


def incremental_weighted_agg(
    grid_stream: DataFrame,
    weights: DataFrame,
    variables: list[str],
    out_dir: str,
    checkpoint: str,
    masked: bool = True,
    landing_dir: str | None = None,
):
    """Start the streaming job: per micro-batch, weighted-mean the affected
    dates and overwrite exactly the (time=) partitions they produce.
    Returns the StreamingQuery (caller awaits/stops).

    Aggregating ONLY the batch's rows would be wrong whenever one date's
    slice files arrive across micro-batches (gridMET publishes per-variable
    files): the later batch's partial aggregate would overwrite the earlier
    one. So the batch determines WHICH dates changed, and the aggregation
    re-reads those dates from ``landing_dir`` (the source of truth) —
    correct under any file-arrival order and idempotent under re-publish.
    ``landing_dir=None`` keeps the batch-only fast path for sources that
    guarantee whole-date batches.
    """

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        if landing_dir is not None:
            dates = [r.time for r in batch_df.select("time").distinct().collect()]
            src = spark.read.schema(GRID_SCHEMA).parquet(landing_dir).filter(
                F.col("time").isin(dates)
            )
        else:
            src = batch_df
        agg = weighted_mean_wide(src, weights, variables, masked=masked)
        agg.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
            "time"
        ).parquet(out_dir)

    return (
        grid_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
