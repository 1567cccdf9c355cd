"""True append-tailing streaming source (SURVEY.md §2.A S6) via the
Python Data Source API (Spark 4).

The reference tails live log files from persisted byte offsets
(hpcloud/tail with SeekInfo, internal/watcher/tail.go:15-35) and
assembles multi-line records, flushing a buffered record when the next
record-start line arrives (tail.go:57-114).  Spark's built-in file
sources treat files as immutable, so the batch/streaming pipelines
process rotated files whole; THIS source closes the remaining gap — sub-
hour latency on the file 1C is still appending to.

Semantics mirrored from the reference:
- per-file byte offsets, resumed across micro-batches AND restarts (the
  offset dict is the streaming offset, checkpointed by Spark — stronger
  than the reference's 30 s JSON flush, watcher.go:129-142)
- NUL scrub (tail.go:98-101)
- record completes only when the next record-start line arrives; the
  trailing partial record is NOT emitted — its start byte becomes the
  committed offset, so it is re-read (idempotently) until completed.
  ``emitTail=true`` flushes trailing records too (the 2 s idle-flush /
  shutdown analog, tail.go:64, 90-92)

Scale note: SimpleDataSourceStreamReader funnels rows through the driver
— appropriate for the tail of the CURRENT hour (one file per active 1C
process); the rotated-file bulk path stays on the distributed wholetext
reader.  This split (tiny live tail via driver, bulk via executors) is
the intended deployment shape.
"""

from __future__ import annotations

import fnmatch
import io
import os
from collections.abc import Iterator

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.types import StructType

from ..techlog.reader import assemble_records

SCHEMA = "filename string, record string"


def _read(path: str, start: int, stop: int) -> bytes:
    with open(path, "rb") as f:
        f.seek(start)
        return f.read(stop - start)


def _all_records(chunk: bytes) -> list[str]:
    """Every record of a RAW BYTE chunk, the open last one included."""
    return [rec.text for rec in assemble_records(io.BytesIO(chunk))]


def _complete_records(chunk: bytes) -> tuple[list[str], int]:
    """Assemble records from a RAW BYTE chunk.

    Returns (complete_records, bytes_consumed) where bytes_consumed stops
    at the start of the last (possibly incomplete) record — the tail.go
    buffer that waits for the next record-start line.

    Record assembly and offset accounting both stay in the BYTES domain:
    decoding happens only on the emitted record text.  (Decoding first
    would desync offsets — an invalid UTF-8 byte is 1 byte on disk but
    re-encodes as a 3-byte U+FFFD — and a committed offset must land on a
    real file position.)  Offsets always land on line starts, which are
    byte-exact regardless of encoding errors inside lines."""
    records = list(assemble_records(io.BytesIO(chunk)))
    if not records:
        return [], 0
    return [rec.text for rec in records[:-1]], records[-1].start


class TechlogTailReader(SimpleDataSourceStreamReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("techlog_tail requires option 'path'")
        self.glob = options.get("glob", "*.log")
        self.emit_tail = str(options.get("emittail", "false")).lower() == "true"

    def initialOffset(self) -> dict:
        return {"offsets": {}}

    def _files(self) -> list[str]:
        out = []
        for root, _dirs, names in os.walk(self.path):
            for n in names:
                if fnmatch.fnmatch(n, self.glob):
                    out.append(os.path.join(root, n))
        return sorted(out)  # mtime-sort analog (scan.go:143-153): stable order

    def _read_new(self, offsets: dict) -> tuple[list[tuple], dict]:
        rows: list[tuple] = []
        new_offsets = dict(offsets)
        for path in self._files():
            try:
                size = os.path.getsize(path)
            except OSError:
                continue
            start = int(offsets.get(path, 0))
            if size <= start:
                continue
            raw = _read(path, start, size)
            if self.emit_tail:
                records = _all_records(raw)
                new_offsets[path] = size
            else:
                # commit only up to the last COMPLETE record; the open one
                # is re-read next batch (idempotent partial-record seek).
                # consumed is already a byte offset — no re-encoding.
                records, consumed = _complete_records(raw)
                new_offsets[path] = start + consumed
            base = os.path.basename(path)
            rows.extend((base, r) for r in records)
        return rows, {"offsets": new_offsets}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        rows, end = self._read_new(start.get("offsets", {}))
        return iter(rows), end

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        # replay after failure: re-read the byte ranges [start, end) per
        # file; a committed range ends at a record boundary (or at the end
        # of the file under emitTail), so its last record is complete
        rows: list[tuple] = []
        s_off = start.get("offsets", {})
        e_off = end.get("offsets", {})
        for path, e in e_off.items():
            s = int(s_off.get(path, 0))
            e = int(e)
            if e <= s or not os.path.exists(path):
                continue
            base = os.path.basename(path)
            rows.extend((base, r) for r in _all_records(_read(path, s, e)))
        return iter(rows)

    def commit(self, end: dict) -> None:
        pass  # offsets live in the Spark checkpoint; nothing external


class TechlogTailDataSource(DataSource):
    """spark.readStream.format("techlog_tail").option("path", dir).load()"""

    @classmethod
    def name(cls) -> str:
        return "techlog_tail"

    def schema(self) -> str:
        return SCHEMA

    def simpleStreamReader(self, schema: StructType) -> TechlogTailReader:
        return TechlogTailReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(TechlogTailDataSource)
