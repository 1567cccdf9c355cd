"""Split-aware parallel reader for LARGE tech-log files.

``read_techlog`` (wholetext) gives one task per file and holds the whole
file as one JVM string — perfect for 1C's hourly rotation, but a
multi-GB file would serialize into a single task (and >2 GB breaks the
JVM string limit).  This reader parallelizes WITHIN a file by byte
ranges, the way Hadoop's TextInputFormat parallelizes lines, lifted to
multi-line records:

ownership rule: a range [start, end) owns every record whose RECORD-START
LINE begins inside it.  A scanner therefore:
1. seeks to ``start`` and (if start > 0) discards the partial line,
2. skips lines until the first record-start line (those lines belong to
   the previous range's open record),
3. assembles records, reading PAST ``end`` until the record that spans
   the boundary is closed by the next record-start line (or EOF).

Every record is produced exactly once, byte-identical to the wholetext
path (tests prove equality under adversarial chunk sizes that cut
mid-record and mid-line).  Record assembly itself is
``reader.assemble_records`` (shared with the tail source), run inside
mapInPandas (Arrow batches) — the per-range workload is I/O + regex,
and ranges are sized (default 64 MB) so a 100 GB file becomes ~1600
parallel tasks instead of one.

Executors open files directly (local FS / NFS / fuse mounts); for object
stores, mount or swap `open` for an fsspec filesystem — the range logic
is unchanged.
"""

from __future__ import annotations

import fnmatch
import os
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

from .reader import assemble_records

_SCHEMA = "filename string, record string"


def _scan_range(path: str, start: int, end: int) -> Iterator[str]:
    """Yield the records owned by [start, end) per the ownership rule."""
    with open(path, "rb") as f:
        f.seek(start)
        # the partial line belongs to the previous range
        pos = start + len(f.readline()) if start > 0 else 0
        for rec in assemble_records(f, pos):
            # strict '>': the next range seeks to `end` and discards its
            # first (assumed partial) line, so a record starting EXACTLY
            # at `end` must be owned here — same convention as Hadoop's
            # line-record readers
            if rec.start > end:
                break
            # range 0 owns the headless preamble; any other range's
            # headless lines continue the previous range's open record
            if rec.headed or start == 0:
                yield rec.text
            if rec.stop > end:
                break  # the next record belongs to the next range


def read_techlog_split(
    spark: SparkSession,
    path: str,
    glob: str = "*.log",
    chunk_bytes: int = 64 * 1024 * 1024,
) -> DataFrame:
    """-> DataFrame[filename, record], one task per ``chunk_bytes`` range.

    Drop-in replacement for read_techlog+records_from_text when files are
    huge; feed the result to ``parse_records`` unchanged.
    """
    ranges: list[tuple[str, str, int, int]] = []
    for root, _dirs, names in os.walk(path):
        for n in sorted(names):
            if not fnmatch.fnmatch(n, glob):
                continue
            p = os.path.join(root, n)
            size = os.path.getsize(p)
            s = 0
            while s < size or (size == 0 and s == 0):
                e = min(s + chunk_bytes, size)
                ranges.append((p, n, s, e))
                if e >= size:
                    break
                s = e

    rdf = spark.createDataFrame(
        ranges, "path string, filename string, start long, end long"
    )
    # spread ranges across the cluster regardless of how few files there are
    rdf = rdf.repartition(max(len(ranges), 1))

    def _gen(batches):
        import pandas as pd

        for pdf in batches:
            out_f: list[str] = []
            out_r: list[str] = []
            for path_, fname, s, e in zip(
                pdf["path"], pdf["filename"], pdf["start"], pdf["end"]
            ):
                for rec in _scan_range(path_, int(s), int(e)):
                    out_f.append(fname)
                    out_r.append(rec)
            yield pd.DataFrame({"filename": out_f, "record": out_r})

    return rdf.mapInPandas(_gen, _SCHEMA)
