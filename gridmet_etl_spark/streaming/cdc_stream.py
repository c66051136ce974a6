"""Continuously-materialized CDC table: the streaming twin of
``operators/scd.py::cdc_apply`` — each micro-batch of change rows
(op ∈ I/U/D ordered by a sequence column) upserts into a parquet state
table via ``foreachBatch``, keeping a queryable current-state snapshot of
a mutating source (the Debezium→lakehouse ingest loop).

Exactly-once without a transactional store, same contract as
``refresh.py``: a ``_last_batch`` marker makes replayed epochs no-ops, and
the state swap is write-temp + atomic rename. Cross-batch ordering is
LAST-WRITER-WINS BY ``seq_col``, not by arrival: the snapshot keeps each
key's highest applied seq (``_seq`` column), so a late-arriving change
with a lower seq than the already-applied one is correctly ignored — the
out-of-order-delivery case batch replays cannot fix.

Scale notes: per batch the log collapses to |changed keys| winners in one
max_by partial-agg (cdc_apply's shape); the state rewrite is the
portable-parquet tradeoff (a Delta/Iceberg MERGE makes it O(touched
files); the algebra is identical).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MARKER = "_last_batch"


def _read_marker(state_dir: str) -> int:
    p = os.path.join(state_dir, _MARKER)
    if not os.path.exists(p):
        return -1
    with open(p) as f:
        return int(f.read().strip())


def apply_cdc_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    key_cols: Sequence[str],
    val_cols: Sequence[str],
    seq_col: str = "seq",
    op_col: str = "op",
) -> bool:
    """One foreachBatch step: collapse the batch to per-key winners and
    upsert them into the parquet state. Returns False (no-op) for a
    replayed batch id. State schema: (*key_cols, *val_cols, _seq) where
    ``_seq`` is the applied change's sequence — the cross-batch
    last-writer-wins guard. Deletes are applied by dropping the key but
    RETAIN their seq via a tombstone row (NULL vals) so a late lower-seq
    update cannot resurrect a deleted key; tombstones compact away once
    ``seq_col`` ordering guarantees no earlier changes remain in flight
    (not automated here — a retention-window sweep in production)."""
    if batch_id <= _read_marker(state_dir):
        return False
    spark = batch_df.sparkSession
    keys = list(key_cols)
    vals = list(val_cols)
    winner = batch_df.groupBy(*keys).agg(
        F.max_by(
            F.struct(
                F.col(op_col).alias("_op"),
                *[F.col(v).alias(v) for v in vals],
                F.col(seq_col).alias("_seq"),
            ),
            F.col(seq_col),
        ).alias("_w")
    )
    data_dir = os.path.join(state_dir, "state")
    if os.path.exists(data_dir):
        cur = spark.read.parquet(data_dir)
    else:
        cur = None
    if cur is not None:
        snap = cur.select(
            *keys,
            *[F.col(v).alias(f"_s_{v}") for v in vals],
            F.col("_seq").alias("_s_seq"),
            F.col("_tomb").alias("_s_tomb"),
        )
        joined = snap.join(winner, keys, "full_outer")
    else:
        vtypes = {f.name: f.dataType for f in batch_df.schema.fields}
        joined = winner.select(
            *keys,
            *[F.lit(None).cast(vtypes[v]).alias(f"_s_{v}") for v in vals],
            F.lit(None).cast("long").alias("_s_seq"),
            F.lit(None).cast("boolean").alias("_s_tomb"),
            "_w",
        )
    # the change wins only if its seq exceeds the applied one
    change_wins = F.col("_w").isNotNull() & (
        F.col("_s_seq").isNull() | (F.col("_w._seq") > F.col("_s_seq"))
    )
    out = joined.select(
        *keys,
        *[
            F.when(change_wins, F.col(f"_w.{v}"))
            .otherwise(F.col(f"_s_{v}"))
            .alias(v)
            for v in vals
        ],
        F.when(change_wins, F.col("_w._seq"))
        .otherwise(F.col("_s_seq"))
        .cast("long")
        .alias("_seq"),
        F.when(change_wins, F.col("_w._op") == "D")
        .otherwise(F.coalesce(F.col("_s_tomb"), F.lit(False)))
        .alias("_tomb"),
    )
    tmp = os.path.join(state_dir, "_state_tmp")
    out.write.mode("overwrite").parquet(tmp)
    old = os.path.join(state_dir, "_state_old")
    if os.path.exists(data_dir):
        os.rename(data_dir, old)
    os.rename(tmp, data_dir)
    shutil.rmtree(old, ignore_errors=True)
    with open(os.path.join(state_dir, _MARKER), "w") as f:
        f.write(str(batch_id))
    return True


def read_current_state(spark, state_dir: str) -> DataFrame:
    """The live rows of the materialized table (tombstones filtered)."""
    return (
        spark.read.parquet(os.path.join(state_dir, "state"))
        .where(~F.col("_tomb"))
        .drop("_tomb")
    )

