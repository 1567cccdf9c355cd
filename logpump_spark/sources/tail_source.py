"""One byte-range record reader for 1C tech logs, bulk and live: the
``techlog_tail`` Python data source (SURVEY.md §2.A S6, S7).

The reference tails each live log from a persisted byte offset and
assembles multi-line records, flushing a record when the next
record-start line arrives (internal/watcher/tail.go:15-35, 57-114).
Here both reads plan ``ByteRange`` partitions that executors scan with
``reader.assemble_records``:

- ``spark.read.format("techlog_tail")`` cuts every file into
  ``chunkBytes`` ranges (default 64 MiB), so a multi-GB file becomes
  many tasks instead of the wholetext reader's one string per file;
- ``spark.readStream.format("techlog_tail")`` keeps one byte offset per
  file in the streaming offset log.  ``latestOffset`` moves each file's
  end to the start of its last record-start line, which holds back the
  record that may still grow (``emitTail=true`` moves it to the end of
  the file's last complete line instead, the flush-at-shutdown analog,
  tail.go:64, 90-92: the open record is flushed, a half-written line is
  not).
  ``partitions`` cuts the new bytes into the same ranges, so a replayed
  micro-batch recomputes them from the logged offsets.

Options: ``path`` (required), ``glob`` (default ``*.log``), ``emitTail``
and ``chunkBytes``.

Ownership rule: a range [start, end) owns the records whose start line
begins in [start, end).  Its scan seeks to ``start - 1`` and skips
through the first LF, so a line that begins exactly at ``start`` is
kept; the lines before its first record-start line continue the
previous range's record and are skipped; its last record is read past
``end`` up to the next record-start line.  The range that opens a span
(byte 0, or a file's committed offset in a micro-batch) reads from its
first byte and owns the lines before the first record-start line, as
``records_from_text`` keeps a headless preamble.  No read passes the
span's end, so bytes appended after planning never reach a batch.

Offsets stay in bytes: an invalid UTF-8 byte is 1 byte on disk but a
3-byte U+FFFD once decoded, so only record text is decoded.  Executors
open files directly (local FS, NFS, fuse mounts).
"""

from __future__ import annotations

import fnmatch
import os
from collections.abc import Iterator
from dataclasses import dataclass
from typing import BinaryIO

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from ..techlog.reader import assemble_records

SCHEMA = "filename string, record string"
CHUNK_BYTES = 64 * 1024 * 1024


@dataclass(frozen=True)
class ByteRange(InputPartition):
    """The range [start, end) of a file's span [lo, hi)."""

    path: str
    lo: int
    start: int
    end: int
    hi: int


def _line_start(f: BinaryIO, start: int, lo: int) -> int:
    """Seek ``f`` to its first line that begins at or after ``start``;
    the span's first byte ``lo`` counts as a line start."""
    if start == lo:
        f.seek(start)
        return start
    f.seek(start - 1)
    return start - 1 + len(f.readline())


def _lines(f: BinaryIO, pos: int, hi: int) -> Iterator[bytes]:
    """The lines of ``f`` from its position ``pos``, cut at byte ``hi``."""
    while pos < hi and (line := f.readline(hi - pos)):
        pos += len(line)
        yield line


def _scan(r: ByteRange) -> Iterator[tuple[str, str]]:
    """(filename, record) for every record that ``r`` owns."""
    name = os.path.basename(r.path)
    with open(r.path, "rb") as f:
        pos = _line_start(f, r.start, r.lo)
        for rec in assemble_records(_lines(f, pos, r.hi), pos):
            if rec.start >= r.end:
                break
            if rec.headed or r.start == r.lo:
                yield name, rec.text
            if rec.stop >= r.end:
                break


def _open_start(path: str, lo: int, hi: int) -> int:
    """Start of the last record-start line in [lo, hi), or ``lo``.

    Reads back from ``hi`` in growing windows, so a drain reads the open
    record rather than the whole file."""
    with open(path, "rb") as f:
        step = 1 << 16
        while True:
            a = max(lo, hi - step)
            pos = _line_start(f, a, lo)
            recs = assemble_records(_lines(f, pos, hi), pos)
            starts = [rec.start for rec in recs if rec.headed]
            if starts or a == lo:
                return starts[-1] if starts else lo
            step *= 4


def _line_end(path: str, lo: int, hi: int) -> int:
    """Just past the last LF in [lo, hi), or ``lo``: the end of the last
    complete line, so a line the writer is still on stays held back."""
    with open(path, "rb") as f:
        b = hi
        while b > lo:
            a = max(lo, b - (1 << 16))
            f.seek(a)
            nl = f.read(b - a).rfind(b"\n")
            if nl >= 0:
                return a + nl + 1
            b = a
    return lo


class _Reader:
    """The file walk and range cutter shared by the bulk and tail reads."""

    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("techlog_tail requires option 'path'")
        self.glob = options.get("glob", "*.log")
        self.emit_tail = str(options.get("emitTail", "false")).lower() == "true"
        self.chunk = int(options.get("chunkBytes", CHUNK_BYTES))
        if self.chunk <= 0:
            raise ValueError("techlog_tail option 'chunkBytes' must be positive")

    def _sizes(self) -> dict[str, int]:
        """Size of every file under ``path`` whose name matches ``glob``
        (the reference's recursive FilePattern walk, scan.go:115-142)."""
        sizes = {}
        for root, _dirs, names in os.walk(self.path):
            for n in fnmatch.filter(names, self.glob):
                p = os.path.join(root, n)
                try:
                    sizes[p] = os.path.getsize(p)
                except FileNotFoundError:  # removed since the walk listed it
                    pass
        return sizes

    def _cut(self, starts: dict, ends: dict) -> list[ByteRange]:
        """``chunk``-byte ranges of each file's span [starts, ends)."""
        out = []
        for path, hi in sorted(ends.items()):
            lo = int(starts.get(path, 0))
            out += [
                ByteRange(path, lo, a, min(a + self.chunk, hi), hi)
                for a in range(lo, hi, self.chunk)
            ]
        return out

    def read(self, partition: ByteRange | None) -> Iterator[tuple[str, str]]:
        # a batch read with no ranges still runs one task, on None
        return _scan(partition) if partition else iter(())


class _BulkReader(_Reader, DataSourceReader):
    def partitions(self) -> list[ByteRange]:
        return self._cut({}, self._sizes())


class _TailReader(_Reader, DataSourceStreamReader):
    def __init__(self, options: dict):
        super().__init__(options)
        self.ends: dict[str, int] = {}  # what latestOffset last returned

    def initialOffset(self) -> dict:
        return {"offsets": {}}

    def latestOffset(self) -> dict:
        for path, hi in self._sizes().items():
            lo = self.ends.get(path, 0)
            if hi > lo:
                self.ends[path] = (_line_end if self.emit_tail else _open_start)(path, lo, hi)
        return {"offsets": dict(self.ends)}

    def partitions(self, start: dict, end: dict) -> list[ByteRange]:
        return self._cut(start["offsets"], end["offsets"])


class TechlogTailDataSource(DataSource):
    """spark.read / spark.readStream .format("techlog_tail")
    .option("path", dir).load() -> DataFrame[filename, record]"""

    @classmethod
    def name(cls) -> str:
        return "techlog_tail"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema: StructType) -> _BulkReader:
        return _BulkReader(self.options)

    def streamReader(self, schema: StructType) -> _TailReader:
        return _TailReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(TechlogTailDataSource)
