"""The techlog_tail bulk read == the wholetext reader, under adversarial
chunk sizes that cut mid-record, mid-line, and exactly on boundaries."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import CaseInsensitiveDict

from logpump_spark.sources.tail_source import (
    ByteRange,
    TechlogTailDataSource,
    _scan,
    register,
)
from logpump_spark.techlog import parse_records, read_techlog, records_from_text

RECORDS = [
    "07:15.123456-2500,DBMSSQL,0,Usr=ivanov,Sql='SELECT * FROM T WHERE x=\\'y\\''",
    "07:16.000001-10,EXCP,3,Usr=petrov,Context='line one\nline two\nline three'",
    "07:17.000002-20,CALL,1,Usr=x",
    "07:18.999999-30,DBMSSQL,2,Usr=long,Sql='SELECT " + "a" * 500 + " FROM T'",
    "07:19.000000-40,END,0,Usr=final",
]


@pytest.fixture(scope="module")
def logdir(tmp_path_factory):
    d = tmp_path_factory.mktemp("split")
    (d / "25052607.log").write_text("\n".join(RECORDS) + "\n", encoding="utf-8")
    (d / "25052608.log").write_text(
        "headless preamble\n" + RECORDS[0] + "\n" + RECORDS[2] + "\n",
        encoding="utf-8",
    )
    return str(d)


def read_split(spark, path, chunk):
    register(spark)
    return (
        spark.read.format("techlog_tail")
        .option("path", path)
        .option("chunkBytes", str(chunk))
        .load()
    )


def _wholetext_records(spark, logdir):
    recs = records_from_text(read_techlog(spark, logdir))
    return sorted(map(tuple, recs.select("filename", "record").collect()))


@pytest.mark.parametrize("chunk", [7, 33, 64, 100, 517, 1 << 20])
def test_split_reader_equals_wholetext(spark, logdir, chunk):
    want = _wholetext_records(spark, logdir)
    got = sorted(map(tuple, read_split(spark, logdir, chunk).collect()))
    assert got == want, f"chunk={chunk}"


def test_every_small_chunk_equals_wholetext(spark, logdir):
    # every cut position, read in-process: the same ranges and scan as
    # the Spark read, without a task per range
    want = _wholetext_records(spark, logdir)
    for chunk in range(1, 130):
        bulk = TechlogTailDataSource(
            CaseInsensitiveDict(path=logdir, chunkBytes=str(chunk))
        ).reader(None)
        got = sorted(row for part in bulk.partitions() for row in bulk.read(part))
        assert got == want, f"chunk={chunk}"


def test_scan_range_boundary_on_line_start(tmp_path):
    # a range owns the records whose start line begins in [start, end):
    # a cut exactly at a record-start line gives that line to the range
    # that starts there, and the range before it ends at the cut
    p = str(tmp_path / "b.log")
    content = RECORDS[2] + "\n" + RECORDS[4] + "\n"
    with open(p, "w", encoding="utf-8") as f:
        f.write(content)
    cut = len((RECORDS[2] + "\n").encode())
    size = len(content.encode())
    first = [rec for _f, rec in _scan(ByteRange(p, 0, 0, cut, size))]
    second = [rec for _f, rec in _scan(ByteRange(p, 0, cut, size, size))]
    assert first == [RECORDS[2]]
    assert second == [RECORDS[4]]  # the range starting at the cut owns it


def test_split_parse_composition(spark, logdir):
    entries = parse_records(read_split(spark, logdir, 50))
    rows = entries.filter(F.col("Timestamp") == "25052607.log").collect()
    sqls = sorted(r.SQL for r in rows if r.Component == "DBMSSQL")
    assert sqls[0] == "SELECT * FROM T WHERE x='y'"
    excp = [r for r in rows if r.Component == "EXCP"][0]
    assert excp.Context == "line one\nline two\nline three"
    assert len(rows) == 5


def _assert_all_paths_agree(spark, d, records, chunk):
    # wholetext, the bulk read and the tail stream all give `records`
    d.mkdir()
    data = ("\n".join(records) + "\n").encode("utf-8")
    (d / "25052607.log").write_bytes(data)
    want = [("25052607.log", r) for r in records]

    assert _wholetext_records(spark, str(d)) == want
    got = read_split(spark, str(d), chunk).collect()
    assert sorted(map(tuple, got)) == want, f"chunk={chunk}"
    # the tail completes a record when the next one starts
    (d / "25052607.log").write_bytes(data + b"59:59.999999-1,END,0\n")
    tail = TechlogTailDataSource(
        CaseInsensitiveDict(path=str(d), chunkBytes=str(chunk))
    ).streamReader(None)
    end = tail.latestOffset()
    assert end["offsets"][str(d / "25052607.log")] == len(data)
    parts = tail.partitions({"offsets": {}}, end)
    assert [row for part in parts for row in tail.read(part)] == want


@pytest.mark.parametrize("chunk", [7, 33, 64, 1 << 20])
def test_non_ascii_digits_do_not_start_records(spark, tmp_path, chunk):
    # \d is ASCII-only in Java and Go: a continuation line written in
    # Arabic-Indic digits stays inside its record on every assembly path
    records = [
        "07:15.123456-2500,DBMSSQL,0,Usr=ivanov,Sql='SELECT 1\n١٢:٣٤.٥٦ - inner'",
        "07:16.000001-10,CALL,1,Usr=x",
    ]
    _assert_all_paths_agree(spark, tmp_path / "digits", records, chunk)


@pytest.mark.parametrize("chunk", [7, 33, 1 << 20])
def test_non_lf_line_separators_do_not_start_records(spark, tmp_path, chunk):
    # lines end at LF only: a lone CR, NEL, LINE SEPARATOR or PARAGRAPH
    # SEPARATOR before a timestamp stays inside its record on every
    # assembly path
    records = [
        f"07:1{i}.123456-{i},A,x{sep}tail 07:16.000000-2,B"
        for i, sep in enumerate(["\r", "\u0085", "\u2028", "\u2029"])
    ]
    _assert_all_paths_agree(spark, tmp_path / "seps", records, chunk)
