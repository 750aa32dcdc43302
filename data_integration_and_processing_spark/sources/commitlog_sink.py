"""Custom Python STREAMING SINK (Spark 4 DataSourceStreamWriter): an
exactly-once commit-log sink on plain files.

The pair of sources/events_stream_source.py (the custom streaming SOURCE):
together they cover the full Python data-source streaming contract. The
sink's exactly-once recipe is the standard one every transactional sink
implements:

- tasks land their partition's rows under opaque ATTEMPT names (a retry or
  speculative duplicate can only add invisible attempt files);
- ``commit(messages, batchId)`` — driver-side, once per micro-batch —
  renames exactly the successful attempts into ``batch={batchId}/`` and
  publishes a ``_commits/{batchId}.json`` marker with a put-if-absent
  (``versioned.put_if_absent``): a marker is absent or complete, and a
  second commit of the same batch raises instead of replacing it;
- a REDELIVERED batch (checkpoint replay after a crash between sink commit
  and offset commit) finds its marker already present and discards the new
  attempts instead of doubling the batch — idempotent commit;
- readers consume only marker-listed batch directories, so a half-written
  batch is never visible.

CSV is the landing format here (stdlib-writable from rows without a JVM
round trip); the protocol is format-agnostic.
"""

from __future__ import annotations

import csv
import glob
import os
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import DataSource, DataSourceStreamWriter, WriterCommitMessage

from data_integration_and_processing_spark.sources.versioned import put_if_absent


@dataclass
class _AttemptFile(WriterCommitMessage):
    path: str
    n_rows: int


class CommitLogStreamWriter(DataSourceStreamWriter):
    def __init__(self, options: dict) -> None:
        self._dir = options.get("path")
        if not self._dir:
            raise ValueError("commitlog sink requires .option('path', ...)")

    def write(self, iterator) -> _AttemptFile:
        os.makedirs(f"{self._dir}/_attempts", exist_ok=True)
        path = f"{self._dir}/_attempts/{uuid.uuid4().hex}.csv"
        n = 0
        with open(path, "w", newline="") as f:
            w = csv.writer(f)
            for row in iterator:
                w.writerow(list(row))
                n += 1
        return _AttemptFile(path, n)

    def commit(self, messages, batchId: int) -> None:
        marker = f"{self._dir}/_commits/{batchId}.json"
        if os.path.exists(marker):
            # redelivered batch: already committed once — discard attempts
            for m in messages:
                if m is not None:
                    try:
                        os.remove(m.path)
                    except OSError:
                        pass
            return
        bdir = f"{self._dir}/batch={batchId}"
        os.makedirs(bdir, exist_ok=True)
        total = 0
        for i, m in enumerate(sorted((m for m in messages if m is not None), key=lambda x: x.path)):
            os.replace(m.path, f"{bdir}/part-{i:05d}.csv")
            total += m.n_rows
        put_if_absent(marker, {"batch_id": batchId, "n_rows": total})

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is not None:
                try:
                    os.remove(m.path)
                except OSError:
                    pass


def committed_batches(path: str) -> list[int]:
    return sorted(
        int(os.path.basename(p)[: -len(".json")]) for p in glob.glob(f"{path}/_commits/*.json")
    )


def read_committed(path: str) -> list[list[str]]:
    """All rows across committed batches (marker-listed dirs only)."""
    rows: list[list[str]] = []
    for b in committed_batches(path):
        for part in sorted(glob.glob(f"{path}/batch={b}/part-*.csv")):
            with open(part, newline="") as f:
                rows.extend(csv.reader(f))
    return rows


class CommitLogDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "commitlog"

    def streamWriter(self, schema, overwrite: bool) -> CommitLogStreamWriter:
        return CommitLogStreamWriter(self.options)
