"""Source + record assembly for 1C technology logs.

Reference behavior being reproduced:
- glob/recursive file discovery (internal/watcher/scan.go:115-142)
- NUL scrub with warning (internal/watcher/tail.go:98-101)
- multi-line record assembly: a line matching ``\\d{2}:\\d{2}\\.\\d{2,}.*-``
  starts a new record; all following lines up to the next match belong to
  it (internal/watcher/scan.go:16-21, internal/watcher/tail.go:102-105)

Spark-first design: 1C rotates log files hourly (filename = YYMMDDHH.log),
so instead of append-tailing (Spark file sources treat files as immutable)
we process rotated files WHOLE via the ``wholetext`` text source — one row
per file, then a regex split + posexplode assembles records inside the
executors.  Parallelism = one task per file; an hourly 1C log is at most a
few hundred MB, well within executor memory.  The streaming job
(streaming/job.py) builds on Spark's file source, which reads each path
once: lines appended to a file after it was read are not picked up.
The ``techlog_tail`` source (sources/tail_source.py) reads byte ranges
instead, for huge files and live tails, through ``assemble_records``.
"""

from __future__ import annotations

import re
from collections.abc import Iterable, Iterator
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameReader
from pyspark.sql.streaming import DataStreamReader

# A new record starts at any line CONTAINING time 'mm:ss.ff...' followed by
# a '-' later in the same line (Go regexp.MatchString is unanchored:
# internal/watcher/scan.go:16-21).
RECORD_START_LINE = r"[^\n]*\d{2}:\d{2}\.\d{2,}[^\n]*-"
# Split positions: line starts whose line matches RECORD_START_LINE.
# UNIX_LINES (d) makes LF the only line terminator, as in the Python
# assembler and the reference; plain (?m) would also start a line after
# a lone CR, U+0085, U+2028 or U+2029.
_SPLIT_REGEX = r"(?md)^(?=" + RECORD_START_LINE + r")"
# The same test for the Python assemblers, on one byte line.  A bytes
# pattern keeps \d to ASCII digits, as Java's and Go's \d are; a str
# pattern would also start records at non-ASCII digits.
RECORD_START = re.compile(RECORD_START_LINE.encode("ascii"))


class Record(NamedTuple):
    start: int  # byte offset of the record's first line
    stop: int  # byte offset just past its last line
    headed: bool  # False only for a headless first group of lines
    text: str


def assemble_records(lines: Iterable[bytes], pos: int = 0) -> Iterator[Record]:
    """Group byte lines into records: the Python twin of the wholetext
    split, and the reference's buffer/flush loop (tail.go:57-114).

    ``lines`` keep their LF terminators (a binary file, or
    ``io.BytesIO(chunk)``) and the first one starts at byte ``pos``.
    NUL bytes are scrubbed and terminators stripped per line; a line
    matching ``RECORD_START`` opens a new record, and lines before the
    first such line form one headless record.  A record is yielded as
    soon as the next one opens, so a caller can stop reading there; the
    last record is yielded at the end of ``lines``, although more lines
    could still extend it.  Empty records are dropped, as in
    ``records_from_text``.
    """
    buf: list[bytes] = []
    start, headed = pos, False
    for raw in lines:
        line = raw.replace(b"\x00", b"").rstrip(b"\r\n")
        if RECORD_START.match(line):
            if buf:
                text = b"\n".join(buf).decode("utf-8", errors="replace")
                if text:
                    yield Record(start, pos, headed, text)
            buf, start, headed = [], pos, True
        buf.append(line)
        pos += len(raw)
    text = b"\n".join(buf).decode("utf-8", errors="replace")
    if text:
        yield Record(start, pos, headed, text)


def load_whole_files(
    reader: DataFrameReader | DataStreamReader,
    path: str,
    glob: str = "*.log",
    recursive: bool = True,
) -> DataFrame:
    """``spark.read`` or ``spark.readStream`` -> one row per (filename,
    content).

    ``pathGlobFilter`` reproduces the reference's FilePattern glob
    (scan.go:116-120); ``recursiveFileLookup`` its directory walk.
    """
    df = (
        reader.format("text")
        .option("wholetext", "true")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", str(recursive).lower())
        .load(path)
    )
    return df.select(
        F.substring_index(F.input_file_name(), "/", -1).alias("filename"),
        F.col("value").alias("content"),
    )


def read_techlog(
    spark: SparkSession,
    path: str,
    glob: str = "*.log",
    recursive: bool = True,
) -> DataFrame:
    """Discover + read log files whole -> one row per (filename, content)."""
    return load_whole_files(spark.read, path, glob, recursive)


def records_from_text(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Assemble multi-line records from whole-file text.

    Equivalent to the reference's buffer/flush loop (tail.go:57-114):
    - scrub NUL bytes first (tail.go:98)
    - any content before the first record-start line is flushed as its own
      (headless) record, exactly like the Go buffer that accumulates lines
      before the first match
    - each record keeps interior newlines (multi-line SQL/Context);
      the trailing newline belongs to the line separator, not the record
      (Go joins buffered lines with '\\n' — parser.go:14)
    """
    # NUL scrub (tail.go:98) + CRLF normalization: 1C on Windows writes
    # \r\n; the reference's line reader hands records line-by-line without
    # terminators, so interior \r must not leak into record text
    # (assemble_records strips per line; this path normalizes up front)
    clean = F.regexp_replace(
        F.regexp_replace(F.col(content_col), "\x00", ""), "\r\n", "\n"
    )
    parts = F.split(clean, _SPLIT_REGEX)
    out = df.select("*", F.explode(parts).alias("record")).drop(content_col)
    record = F.regexp_replace(F.col("record"), r"\r?\n$", "")
    return (
        out.withColumn("record", record)
        .filter(F.length("record") > 0)
    )
