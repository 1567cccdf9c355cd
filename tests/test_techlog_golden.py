"""Golden tests for the 1C tech-log parse pipeline (SURVEY.md §5.2).

Inputs follow the grammar in FIXTURES.md §2; expected outputs replicate the
reference's behavior edge case by edge case, each citing the Go lines that
define it.
"""

from __future__ import annotations

import datetime as dt

import pytest

from logpump_spark.techlog import parse_records, read_techlog, records_from_text
from logpump_spark.techlog.pipeline import techlog_pipeline
from logpump_spark.techlog.transform import to_techlog_rows

FULL_RECORD = (
    "07:15.123456-2500,DBMSSQL,0,process=rphost,p:processName=srv01,"
    "OSThread=4242,t:clientID=17,t:applicationName=1CV8C,t:computerName=WS-01,"
    "t:connectID=33,SessionID=1001,Usr=ivanov,DBMS=DBMSSQL,DataBase=erp_prod,"
    "Trans=1,dbpid=5544,Rows=42,RowsAffected=0,"
    "Sql='SELECT * FROM _Document123 WHERE _Date >= 2025-05-26 07:00:00',"
    "Context='Документ.Продажа\nФорма.Запись()'"
)
NO_SQL_RECORD = "07:16.000001-10,EXCP,3,process=rphost,Usr=petrov,Event=Exception"
EDGE_RECORD = (
    "07:16.500000-999,CALL,1,SessionID=notanumber,Rows=,"
    "Sql='INSERT INTO T VALUES (\\'a\\',\\'b\\')'"
)
# strconv ErrRange saturation: Severity 300 -> 255 (u8), OSThread/duration
# > MaxUint32 -> 4294967295, Rows beyond int32 -> MaxInt32/MinInt32
OVERFLOW_RECORD = (
    "07:17.000001-5000000000,SCALL,300,OSThread=9999999999,"
    "Rows=2147483648,RowsAffected=-2147483649,Usr=ovf"
)


@pytest.fixture(scope="module")
def logdir(tmp_path_factory):
    d = tmp_path_factory.mktemp("techlog")
    (d / "25052607.log").write_text(
        FULL_RECORD + "\n" + NO_SQL_RECORD + "\n" + EDGE_RECORD + "\n"
        + OVERFLOW_RECORD + "\n",
        encoding="utf-8",
    )
    # rejection cases: bad filename (short), plus NUL bytes and BOM
    (d / "1.log").write_text(NO_SQL_RECORD + "\n", encoding="utf-8")
    (d / "250526xx.log").write_text(NO_SQL_RECORD + "\n", encoding="utf-8")
    (d / "25052608.log").write_text(
        "﻿07:20.1\x00234\x0056-77,CALL,2,Usr=nul\x00l\n", encoding="utf-8"
    )
    # not matching the glob: must be ignored
    (d / "ignore.txt").write_text("junk", encoding="utf-8")
    return str(d)


@pytest.fixture(scope="module")
def entries(spark, logdir):
    files = read_techlog(spark, logdir, glob="*.log")
    return parse_records(records_from_text(files)).cache()


def _one(entries, **eq):
    df = entries
    for k, v in eq.items():
        df = df.filter(df[k] == v)
    rows = df.collect()
    assert len(rows) == 1, f"expected 1 row for {eq}, got {len(rows)}"
    return rows[0]


def test_record_assembly_counts(entries):
    # 4 records in the main file (multi-line Context folds into record 1),
    # 1 each in the two bad-name files, 1 in the NUL/BOM file
    assert entries.count() == 7


def test_strconv_range_saturation(entries, spark, logdir):
    # Go strconv keeps the ErrRange value: ParseUint -> bit-size max,
    # ParseInt -> MaxInt32/MinInt32 by sign (parser.go:98-116 discards err)
    r = _one(entries, Component="SCALL")
    assert r.Severity == 255
    assert r.OSThread == 4294967295
    assert r.Rows == 2147483647
    assert r.RowsAffected == -2147483648
    # transform duration: '5000000000' > MaxUint32 saturates (transform.go:47-53)
    rows_df, _ = techlog_pipeline(spark, logdir)
    ovf = rows_df.filter(rows_df.User == "ovf").collect()
    assert len(ovf) == 1 and ovf[0].Duration == 4294967295


def test_full_record_fields(entries):
    r = _one(entries, Component="DBMSSQL", Timestamp="25052607.log")
    assert r.LogTimestamp == "07:15.123456-2500"
    assert r.Severity == 0
    assert r.Process == "rphost"
    assert r.ProcessName == "srv01"
    assert r.OSThread == 4242
    assert r.ClientID == 17
    assert r.ApplicationName == "1CV8C"
    assert r.ComputerName == "WS-01"
    assert r.ConnectID == 33
    assert r.SessionID == 1001
    assert r.User == "ivanov"
    assert r.DBMS == "DBMSSQL"
    assert r.Database == "erp_prod"
    assert r.Trans == 1
    assert r.DBPID == 5544
    assert r.Rows == 42
    assert r.RowsAffected == 0
    # timestamp literal scrubbed from SQL + trimmed (sql_extractor.go:14,25-27)
    assert r.SQL == "SELECT * FROM _Document123 WHERE _Date >="
    # multi-line Context to the LAST quote (context_extractor.go:12)
    assert r.Context == "Документ.Продажа\nФорма.Запись()"


def test_no_sql_record(entries):
    r = _one(entries, Component="EXCP", Timestamp="25052607.log")
    assert r.SQL == ""  # parser.go:53-54
    assert r.Context == ""
    assert r.EventType == "Exception"  # Event key -> EventType (parser.go:39)
    assert r.User == "petrov"
    assert r.Severity == 3


def test_silent_zero_and_escapes(entries):
    r = _one(entries, Component="CALL", Timestamp="25052607.log")
    assert r.SessionID == 0  # 'notanumber' -> 0 (parser.go:98-116)
    assert r.Rows == 0  # empty string -> 0
    # escaped quotes unescaped, escape byte dropped (sql_extractor.go:30-37)
    assert r.SQL == "INSERT INTO T VALUES ('a','b')"


def test_duplicate_key_last_wins(spark):
    # Go map assignment overwrites on duplicate keys (parser.go:84);
    # expressed conf-free via in-array dedup, so it must hold on a
    # vanilla session with the default EXCEPTION dedup policy
    df = spark.createDataFrame(
        [("07:18.000001-1,CALL,1,Usr=first,Trans=7,Usr=second", "25052607.log")],
        "record string, filename string",
    )
    r = parse_records(df).collect()[0]
    assert r.User == "second"
    assert r.Trans == 7


def test_nul_scrub_and_bom(entries):
    r = _one(entries, Timestamp="25052608.log")
    assert r.User == "null"  # NULs scrubbed (tail.go:98)
    # the BOM stays in LogTimestamp at the parse stage (Go TrimSpace does
    # not strip U+FEFF); the transform strips it (transform.go:29)
    assert r.LogTimestamp == "﻿07:20.123456-77"


def test_techlog_rows_and_rejects(spark, logdir):
    rows_df, rejects_df = techlog_pipeline(spark, logdir)
    rows = rows_df.collect()
    rejects = rejects_df.collect()

    # 5 valid (4 from main file + the BOM/NUL file); '1.log' is too short
    # (transform.go:17-18) and '250526xx.log' has a non-numeric hour
    # (transform.go:21-24)
    assert len(rows) == 5
    assert sorted(r.reject_reason for r in rejects) == ["bad_filename", "bad_hour"]
    # BOM/NUL file: hour 08 from filename, mm:ss from the (BOM-stripped) line
    bom_row = [r for r in rows if r.EventType == "CALL" and r.Duration == 77][0]
    assert bom_row.EventTime == dt.datetime(2025, 5, 26, 8, 7, 20, 123456)


def test_event_time_composition(spark, logdir):
    rows_df, _ = techlog_pipeline(spark, logdir)
    full = rows_df.filter(rows_df.EventType == "DBMSSQL").collect()[0]
    # filename 25052607.log -> date 2025-05-26, hour 07 (transform.go:16-24)
    assert full.EventDate == dt.date(2025, 5, 26)
    # LogTimestamp '07:15.123456-2500': mm=07 ss=15.123456 (transform.go:36)
    assert full.EventTime == dt.datetime(2025, 5, 26, 7, 7, 15, 123456)
    assert full.Duration == 2500
    assert full.ExceptionType is None and full.ErrorText is None
    assert full.SQLText.startswith("SELECT * FROM _Document123")
    assert full.ProcessName == "srv01"
    assert full.InfoBase == "erp_prod"


def test_rejected_short_fraction(spark, tmp_path):
    # fraction shorter than 6 digits fails Go's '.000000' layout ->
    # row rejected (transform.go:38-45)
    d = tmp_path / "frac"
    d.mkdir()
    (d / "25052607.log").write_text("07:15.123-5,CALL,1,Usr=x\n", encoding="utf-8")
    rows_df, rejects_df = techlog_pipeline(spark, str(d))
    assert rows_df.count() == 0
    rej = rejects_df.collect()
    assert len(rej) == 1 and rej[0].reject_reason == "bad_event_time"


def test_unterminated_quote(spark, tmp_path):
    # no closing quote: SQL = rest of record, Context empty
    # (sql_extractor.go:40-44)
    d = tmp_path / "unterm"
    d.mkdir()
    (d / "25052607.log").write_text(
        "07:15.123456-5,CALL,1,Usr=x,Sql='SELECT 1 FROM T\n", encoding="utf-8"
    )
    files = read_techlog(spark, str(d))
    entries = parse_records(records_from_text(files))
    r = entries.collect()[0]
    assert r.SQL == "SELECT 1 FROM T"
    assert r.Context == ""


def test_headless_prefix_lines(spark, tmp_path):
    # lines before the first record-start line form their own record
    # (tail.go buffer flushes on first match)
    d = tmp_path / "headless"
    d.mkdir()
    (d / "25052607.log").write_text(
        "garbage preamble\n07:15.123456-5,CALL,1,Usr=x\n", encoding="utf-8"
    )
    files = read_techlog(spark, str(d))
    entries = parse_records(records_from_text(files))
    # the headless record has no Component: it sorts first
    rows = sorted(entries.collect(), key=lambda r: r.Component or "")
    assert len(rows) == 2
    assert rows[0].LogTimestamp == "garbage preamble"
    assert rows[1].Component == "CALL"


def test_crlf_records(spark, tmp_path):
    # Windows 1C logs: CRLF line endings must not leak \r into any field
    d = tmp_path / "crlf"
    d.mkdir()
    (d / "25052607.log").write_bytes(
        b"07:15.123456-5,CALL,1,Usr=win,Context='line1\r\nline2'\r\n"
        b"07:16.123456-6,EXCP,2,Usr=next\r\n"
    )
    files = read_techlog(spark, str(d))
    entries = parse_records(records_from_text(files))
    rows = {r.Component: r for r in entries.collect()}
    assert rows["CALL"].Context == "line1\nline2"
    assert "\r" not in rows["CALL"].Context
    assert rows["EXCP"].User == "next"


def test_split_and_fused_projection_shapes_identical(spark, logdir):
    # r14: parse_records compiles as two codegen units by default (the
    # C2-storm plan-shape fix); the fused single-projection form stays
    # reachable via split_stages=False / the session conf — both shapes
    # must produce identical rows and schema on the golden corpus
    files = read_techlog(spark, logdir, glob="*.log")
    recs = records_from_text(files)
    split = parse_records(recs, split_stages=True).drop("InsertedAt")
    fused = parse_records(recs, split_stages=False).drop("InsertedAt")
    assert split.schema == fused.schema
    key = lambda r: (r["Timestamp"], r["LogTimestamp"], r["SessionID"])
    assert sorted(split.collect(), key=key) == sorted(fused.collect(), key=key)


def test_split_shape_survives_collidable_passthrough_columns(spark, logdir):
    # r15 (ADVICE r14): the split path's intermediates are now
    # __lp_-prefixed — a passthrough column that happens to carry one
    # of the OLD internal names (_m, _p, _sql...) must flow through the
    # split shape unharmed instead of raising an ambiguous-reference
    # AnalysisException only that shape would hit
    from pyspark.sql import functions as F

    files = read_techlog(spark, logdir, glob="*.log")
    recs = (
        records_from_text(files)
        .withColumn("_m", F.lit("keepme"))
        .withColumn("_sql", F.lit(7))
    )
    out = parse_records(recs, split_stages=True)
    assert "_m" in out.columns and "_sql" in out.columns
    row = out.select("_m", "_sql").first()
    assert (row["_m"], row["_sql"]) == ("keepme", 7)
