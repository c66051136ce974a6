"""Manifest-committed JSONL sink — a Python DataSource WRITER with a real
two-phase commit, batch and streaming:

    spark.dataSource.register(ManifestJsonlSink)
    df.write.format("manifest_jsonl").mode("append")\
      .option("path", out_dir).save()                     # batch
    stream.writeStream.format("manifest_jsonl")\
      .option("path", out_dir).option("checkpointLocation", ckpt).start()

The commit protocol (what a plain distributed ``df.write.json`` cannot give
you):

- **Tasks stage, the driver publishes.** Each task writes
  ``_staging/<uuid>.jsonl`` and returns a commit message (file, rows,
  bytes). Only ``commit()`` on the driver moves staged files into the
  dataset and appends one line to ``_manifest.jsonl``; ``abort()`` deletes
  the strays. A reader that trusts the manifest NEVER sees a torn write —
  killed jobs leave only unreferenced staging files.
- **Streaming is idempotent per epoch.** The stream writer names its
  manifest entry by ``batchId``; a replayed micro-batch (failure between
  sink write and checkpoint advance) finds its batchId already published
  and re-publishes NOTHING — with a replayable source (event_source.py's
  ``readBetweenOffsets``) this is end-to-end exactly-once.
- **The manifest is the table.** ``read_manifest`` lists committed files
  and feeds them to ``spark.read.json(paths)`` — the poor man's
  transaction log, the same shape lakehouse formats formalize.

At 100 TB: staging/publish is one rename per task file (object stores: one
copy), the manifest append is driver-side and O(#files) — the data path
stays fully distributed. Boundary: ``path`` must be storage every task AND
the driver can reach (shared fs / fuse-mounted object store); local-mode
tests satisfy this trivially, a cluster deployment swaps the ``open``/
``os.rename`` calls for its object-store client behind the same protocol.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    DataSourceWriter,
    WriterCommitMessage,
)

FORMAT_NAME = "manifest_jsonl"


@dataclass
class _Staged(WriterCommitMessage):
    file: str
    rows: int
    bytes: int


def _stage_rows(path: str, iterator) -> _Staged:
    os.makedirs(os.path.join(path, "_staging"), exist_ok=True)
    name = f"{uuid.uuid4().hex}.jsonl"
    staged = os.path.join(path, "_staging", name)
    n = 0
    with open(staged, "w") as f:
        for row in iterator:
            f.write(json.dumps(row.asDict(), default=str) + "\n")
            n += 1
    return _Staged(file=name, rows=n, bytes=os.path.getsize(staged))


def _publish(path: str, messages, entry_extra: dict) -> None:
    committed = []
    for m in messages:
        if m is None or m.rows == 0:
            if m is not None:
                os.remove(os.path.join(path, "_staging", m.file))
            continue
        os.rename(
            os.path.join(path, "_staging", m.file), os.path.join(path, m.file)
        )
        committed.append({"file": m.file, "rows": m.rows, "bytes": m.bytes})
    entry = {"files": committed, **entry_extra}
    with open(os.path.join(path, "_manifest.jsonl"), "a") as f:
        f.write(json.dumps(entry) + "\n")


def _abort(path: str, messages) -> None:
    for m in messages:
        if m is not None:
            staged = os.path.join(path, "_staging", m.file)
            if os.path.exists(staged):
                os.remove(staged)


def read_manifest(path: str) -> list[dict]:
    """Committed manifest entries (empty for a dataset that never
    committed). Readers resolve data files ONLY through this."""
    mf = os.path.join(path, "_manifest.jsonl")
    if not os.path.exists(mf):
        return []
    with open(mf) as f:
        return [json.loads(line) for line in f if line.strip()]


def committed_files(path: str, version: int | None = None) -> list[str]:
    """Data files of the dataset — optionally AS OF ``version`` (the first
    ``version`` manifest entries). The append-only manifest makes every
    historical snapshot addressable as a prefix: time travel is a list
    slice, no file copies, no tombstones (the Iceberg/Delta snapshot idea
    reduced to its commit-log core)."""
    entries = read_manifest(path)
    if version is not None:
        entries = entries[:version]
    return [os.path.join(path, f["file"]) for e in entries for f in e["files"]]


def read_snapshot(spark, path: str, version: int | None = None, schema=None):
    """DataFrame over the committed data as of ``version`` (None = latest).
    An empty snapshot needs ``schema`` (there are no files to infer from).
    Readers never glob the directory — staged/aborted strays are
    invisible by construction."""
    files = committed_files(path, version)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if not files:
        if schema is None:
            raise ValueError("empty snapshot requires an explicit schema")
        return reader.json(spark.sparkContext.emptyRDD())
    return reader.json(files)


class _BatchWriter(DataSourceWriter):
    def __init__(self, options: dict):
        self._path = options["path"]

    def write(self, iterator):
        return _stage_rows(self._path, iterator)

    def commit(self, messages):
        _publish(self._path, messages, {"kind": "batch"})

    def abort(self, messages):
        _abort(self._path, messages)


class _StreamWriter(DataSourceStreamWriter):
    def __init__(self, options: dict):
        self._path = options["path"]

    def write(self, iterator):
        return _stage_rows(self._path, iterator)

    def commit(self, messages, batchId):  # noqa: N803 (Spark API name)
        if any(e.get("batch_id") == batchId for e in read_manifest(self._path)):
            _abort(self._path, messages)  # replayed epoch: already published
            return
        _publish(self._path, messages, {"kind": "stream", "batch_id": batchId})

    def abort(self, messages, batchId):  # noqa: N803 (Spark API name)
        _abort(self._path, messages)


class ManifestJsonlSink(DataSource):
    """``format("manifest_jsonl")`` — two-phase-commit JSONL dataset."""

    @classmethod
    def name(cls):
        return FORMAT_NAME

    def writer(self, schema, overwrite):
        if overwrite:
            raise NotImplementedError(
                "manifest_jsonl is append-only; compact/rewrite via a new path"
            )
        return _BatchWriter(self.options)

    def streamWriter(self, schema, overwrite):  # noqa: N802 (Spark API name)
        return _StreamWriter(self.options)
