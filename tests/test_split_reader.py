"""Split-aware reader == wholetext reader, under adversarial chunk sizes
that cut mid-record, mid-line, and exactly on boundaries."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logpump_spark.sources.tail_source import _complete_records
from logpump_spark.techlog import parse_records, read_techlog, records_from_text
from logpump_spark.techlog.split_reader import _scan_range, read_techlog_split

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


def _wholetext_records(spark, logdir):
    recs = records_from_text(read_techlog(spark, logdir))
    return sorted(map(tuple, recs.select("filename", "record").collect()))


@pytest.mark.parametrize("chunk", [7, 33, 64, 100, 517, 1 << 20])
def test_split_reader_equals_wholetext(spark, logdir, chunk):
    want = _wholetext_records(spark, logdir)
    got = sorted(
        map(tuple, read_techlog_split(spark, logdir, chunk_bytes=chunk).collect())
    )
    assert got == want, f"chunk={chunk}"


def test_scan_range_boundary_on_line_start(tmp_path):
    # boundary exactly at a record-start line: owned by the crossing range
    p = str(tmp_path / "b.log")
    content = RECORDS[2] + "\n" + RECORDS[4] + "\n"
    with open(p, "w", encoding="utf-8") as f:
        f.write(content)
    cut = len((RECORDS[2] + "\n").encode())
    first = list(_scan_range(p, 0, cut))
    second = list(_scan_range(p, cut, len(content.encode())))
    assert first == [RECORDS[2], RECORDS[4]]  # crossing range owns the cut line
    assert second == []


def test_split_parse_composition(spark, logdir):
    entries = parse_records(read_techlog_split(spark, logdir, chunk_bytes=50))
    rows = entries.filter(F.col("Timestamp") == "25052607.log").collect()
    sqls = sorted(r.SQL for r in rows if r.Component == "DBMSSQL")
    assert sqls[0] == "SELECT * FROM T WHERE x='y'"
    excp = [r for r in rows if r.Component == "EXCP"][0]
    assert excp.Context == "line one\nline two\nline three"
    assert len(rows) == 5


def _assert_all_paths_agree(spark, d, records, chunk):
    # wholetext, the split reader and the tail source all give `records`
    d.mkdir()
    data = ("\n".join(records) + "\n").encode("utf-8")
    (d / "25052607.log").write_bytes(data)
    want = [("25052607.log", r) for r in records]

    assert _wholetext_records(spark, str(d)) == want
    got = read_techlog_split(spark, str(d), chunk_bytes=chunk).collect()
    assert sorted(map(tuple, got)) == want, f"chunk={chunk}"
    # the tail source completes a record when the next one starts
    done, consumed = _complete_records(data + b"59:59.999999-1,END,0\n")
    assert done == records and consumed == len(data)


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
