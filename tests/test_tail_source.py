"""The techlog_tail stream: byte-offset resume, partial-record
hold-back, growth across micro-batches, checkpoint restart, and new
bytes read on the executors in ``chunkBytes`` ranges."""

from __future__ import annotations

import os

import pytest
from pyspark.sql.datasource import CaseInsensitiveDict

from logpump_spark.sources.tail_source import TechlogTailDataSource, register

R1 = "07:15.123456-2500,DBMSSQL,0,Usr=ivanov,Sql='SELECT 1'"
R2_L1 = "07:16.000001-10,EXCP,3,Usr=petrov"
R2_L2 = "continuation line of record 2"
R3 = "07:17.000002-20,CALL,1,Usr=x"


def tail_reader(path, **options):
    """The stream reader Spark would build for ``options``."""
    source = TechlogTailDataSource(CaseInsensitiveDict(path=path, **options))
    return source.streamReader(None)


def read_batch(reader, start, end):
    """Plan the ranges between two offsets and read each, without Spark."""
    return [row for part in reader.partitions(start, end) for row in reader.read(part)]


def drain(reader, start):
    """One micro-batch: the latest offset, then the rows up to it."""
    end = reader.latestOffset()
    return read_batch(reader, start, end), end


def test_complete_records_holds_back_tail(tmp_path):
    p = tmp_path / "25052607.log"
    p.write_text(R1 + "\n" + R2_L1 + "\n" + R2_L2 + "\n", encoding="utf-8")
    rows, end = drain(tail_reader(str(tmp_path)), {"offsets": {}})
    # R1 completes when R2's start line arrives; R2 stays buffered
    assert rows == [("25052607.log", R1)]
    assert end["offsets"][str(p)] == len((R1 + "\n").encode("utf-8"))


def test_byte_offsets_survive_invalid_utf8(tmp_path):
    # an invalid UTF-8 byte is 1 byte on disk but would re-encode as a
    # 3-byte U+FFFD; offsets must stay in the bytes domain so the next
    # micro-batch resumes at a real file position (no mid-record reads)
    d = str(tmp_path)
    p = f"{d}/25052607.log"
    bad = "07:15.123456-5,CALL,1,Usr=".encode("utf-8") + b"\xff\xfe" + b"bad"
    with open(p, "wb") as f:
        f.write(bad + b"\n" + R2_L1.encode("utf-8") + b"\n")

    reader = tail_reader(d)
    rows1, off1 = drain(reader, {"offsets": {}})
    # record 1 (with replacement chars) completes when R2's start arrives
    assert len(rows1) == 1 and rows1[0][1].startswith("07:15.123456-5")
    # committed offset = byte length of record 1 + newline, NOT the
    # re-encoded length (which would be 4 bytes longer)
    assert off1["offsets"][p] == len(bad) + 1

    # growth resumes exactly at R2's start: R2 completes, no garbled reads
    with open(p, "ab") as f:
        f.write((R3 + "\n").encode("utf-8"))
    rows2, _ = drain(reader, off1)
    assert rows2 == [("25052607.log", R2_L1)]


def test_reader_resumes_from_byte_offset(tmp_path):
    d = str(tmp_path)
    p = f"{d}/25052607.log"
    with open(p, "w", encoding="utf-8") as f:
        f.write(R1 + "\n" + R2_L1 + "\n")

    reader = tail_reader(d)
    rows1, off1 = drain(reader, {"offsets": {}})
    assert rows1 == [("25052607.log", R1)]  # R2 incomplete -> held back

    # file grows: R2's continuation + R3's start line
    with open(p, "a", encoding="utf-8") as f:
        f.write(R2_L2 + "\n" + R3 + "\n")
    rows2, off2 = drain(reader, off1)
    assert rows2 == [("25052607.log", R2_L1 + "\n" + R2_L2)]
    # R3 still open; offset parked at R3's start
    with open(p, "rb") as f:
        raw = f.read()
    assert raw[off2["offsets"][p] :].decode() == R3 + "\n"

    # nothing new -> no rows, offset stable
    rows3, off3 = drain(reader, off2)
    assert rows3 == [] and off3 == off2

    # a new reader (a restarted query) resumes from the logged offset
    rows4, off4 = drain(tail_reader(d), off2)
    assert rows4 == [] and off4 == off2


def test_emit_tail_flushes_open_record(tmp_path):
    d = str(tmp_path)
    p = f"{d}/25052607.log"
    with open(p, "w", encoding="utf-8") as f:
        f.write(R1 + "\n" + R2_L1[:20])  # the writer is mid-line
    reader = tail_reader(d, emitTail="true")
    start = {"offsets": {}}
    end = reader.latestOffset()
    # the flush ends at the last complete line: the half-written line
    # stays held back instead of being cut into two records
    assert end["offsets"][p] == len((R1 + "\n").encode("utf-8"))

    # bytes appended after planning stay out, so a replay of the same
    # offsets reads the same
    with open(p, "a", encoding="utf-8") as f:
        f.write(R2_L1[20:] + "\n" + R2_L2 + "\n" + R3 + "\n")
    for _replay in range(2):
        rows = read_batch(reader, start, end)
        assert rows == [("25052607.log", R1)]

    # the next flush reads R2 whole, then the open record R3, whose
    # line is complete
    rows2, end2 = drain(reader, end)
    assert rows2 == [
        ("25052607.log", R2_L1 + "\n" + R2_L2),
        ("25052607.log", R3),
    ]
    assert end2["offsets"][p] == os.path.getsize(p)


def test_new_bytes_are_cut_into_ranges(tmp_path):
    # the executors assemble the records: a span of new bytes longer than
    # chunkBytes is planned as several partitions, and they read back
    # every complete record once
    d = str(tmp_path)
    records = [f"07:{i:02d}.000001-{i},CALL,1,Usr=u{i}" for i in range(40)]
    with open(f"{d}/25052607.log", "w", encoding="utf-8") as f:
        f.write("\n".join(records) + "\n")
    reader = tail_reader(d, chunkBytes="100")
    end = reader.latestOffset()
    parts = reader.partitions({"offsets": {}}, end)
    assert len(parts) > 1
    assert all(p.end - p.start <= 100 for p in parts)
    got = read_batch(reader, {"offsets": {}}, end)
    assert got == [("25052607.log", r) for r in records[:-1]]  # last one open
    with pytest.raises(ValueError, match="chunkBytes"):
        tail_reader(d, chunkBytes="0")


def test_open_record_longer_than_the_scan_window(tmp_path):
    # latestOffset reads back from the end of the file in growing
    # windows; an open record far longer than the first window still
    # ends the span at its own start line
    d = str(tmp_path)
    p = f"{d}/25052607.log"
    body = ("x" * 999 + "\n") * 300  # 300 KB of continuation lines
    with open(p, "w", encoding="utf-8") as f:
        f.write(R1 + "\n" + R2_L1 + "\n" + body)
    rows, end = drain(tail_reader(d), {"offsets": {}})
    assert rows == [("25052607.log", R1)]
    assert end["offsets"][p] == len(R1) + 1


def _stream_drain(spark, src, ckpt, out, chunk=None):
    stream = spark.readStream.format("techlog_tail").option("path", src)
    if chunk is not None:
        stream = stream.option("chunkBytes", str(chunk))
    q = (
        stream.load()
        .writeStream.foreachBatch(
            lambda df, _e: df.write.mode("append").parquet(out)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None


def test_streaming_tail_end_to_end(spark, tmp_path):
    src = str(tmp_path / "logs")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    p = f"{src}/25052607.log"
    with open(p, "w", encoding="utf-8") as f:
        f.write(R1 + "\n" + R2_L1 + "\n")

    register(spark)
    _stream_drain(spark, src, ckpt, out)
    got = sorted(r.record for r in spark.read.parquet(out).collect())
    assert got == [R1]

    # append across restarts: offsets come back from the CHECKPOINT
    with open(p, "a", encoding="utf-8") as f:
        f.write(R2_L2 + "\n" + R3 + "\n" + "59:59.999999-1,END,0,Usr=end\n")
    _stream_drain(spark, src, ckpt, out)
    got = sorted(r.record for r in spark.read.parquet(out).collect())
    # R1 exactly once (no re-emission), R2 assembled multi-line, R3 closed
    # by the END record start; END itself still open -> held back
    assert got == sorted([R1, R2_L1 + "\n" + R2_L2, R3])


def test_half_written_line_lands_once_after_growth(spark, tmp_path):
    # the first drain sees a last line cut mid-write (no LF, not yet a
    # record-start line); the writer then finishes it and appends more.
    # Every record lands exactly once, whole: no record holds the
    # partial bytes, on their own or as a continuation line.
    src = str(tmp_path / "logs")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    p = f"{src}/25052607.log"
    records = [f"07:{i:02d}.000001-{i},CALL,1,Usr=u{i}" for i in range(12)]
    records[3] += "\nsecond line of record 3"
    body = "".join(r + "\n" for r in records[:6])
    cut = 8  # '07:06.00': no '-' yet
    with open(p, "w", encoding="utf-8") as f:
        f.write(body + records[6][:cut])

    register(spark)
    _stream_drain(spark, src, ckpt, out, chunk=37)
    got = sorted(r.record for r in spark.read.parquet(out).collect())
    assert got == sorted(records[:5])  # record 5 waits for record 6's start

    with open(p, "a", encoding="utf-8") as f:
        f.write(records[6][cut:] + "\n" + "".join(r + "\n" for r in records[7:]))
    _stream_drain(spark, src, ckpt, out, chunk=37)
    got = [r.record for r in spark.read.parquet(out).collect()]
    assert sorted(got) == sorted(records[:11])  # record 11 is still open


def test_tail_then_parse_pipeline(spark, tmp_path):
    """The tailed stream feeds the SAME parse plan as the batch path."""
    from logpump_spark.techlog.parser import parse_records

    src = str(tmp_path / "logs2")
    os.makedirs(src)
    with open(f"{src}/25052607.log", "w", encoding="utf-8") as f:
        f.write(R1 + "\n" + R2_L1 + "\n" + R3 + "\n")

    register(spark)
    stream = spark.readStream.format("techlog_tail").option("path", src).load()
    entries = parse_records(stream)
    q = (
        entries.writeStream.format("memory")
        .queryName("tail_entries")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r.Component: r for r in spark.sql("SELECT * FROM tail_entries").collect()}
    assert rows["DBMSSQL"].SQL == "SELECT 1"
    assert rows["EXCP"].User == "petrov"
