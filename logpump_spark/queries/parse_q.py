"""Oracle-checked queries for the 1C parse pipeline (SURVEY.md §2.B).

The driver's tables contain no 1C log text, so each query SYNTHESIZES a
deterministic tech-log record from the ``events`` table — with the same
printf in Spark and DuckDB — then exercises the real library expressions
from ``logpump_spark.techlog`` on the Spark side against hand-written
DuckDB regex/string equivalents on the oracle side.  Malformed variants
(bad severity / session / duration / filename) are woven in on modular
event ids so the silent-zero and rejection paths are covered, mirroring
the golden tests in tests/test_techlog_golden.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load
from ..techlog.parser import header_map, parse_int32, parse_uint, split_record, _U8_MAX, _U32_MAX
from ..techlog.reader import _SPLIT_REGEX

_N = 1500  # events subset: keep oracle SQL runtimes sane

# --- shared synthetic record construction ---------------------------------
# LogTimestamp mm:ss.ffffff-duration from ts + value; Component/Severity/kv
# from typed columns; SQL with an embedded (scrubbable) timestamp literal
# and escaped quotes; multi-line Context.
_FMT = (
    "%02d:%02d.%06d-%s,%s,%s,process=rphost,Usr=user%d,DataBase=db%d,"
    "SessionID=%s,Rows=%d,"
    "Sql='SELECT %d FROM T WHERE d >= 2024-01-15 10:30:00 AND name=\\'u%d\\'',"
    "Context='CTX.%s\nline2()'"
)


def _record_col():
    # NULL-input policy (a real corpus has NULLs; the fixtures don't):
    # every synthesized field coalesces to a fixed default BEFORE
    # formatting, identically in the oracle — Spark's format_string
    # renders Java's "null" for NULL args while DuckDB printf() NULLs
    # the whole string, so un-coalesced NULLs silently diverge.
    mm = F.minute("ts")
    # pmod, not %: negative epochs (pre-1970 logs) make % negative with
    # the dividend's sign in BOTH engines, then truncation vs floor
    # divergence scrambles the synthesized mm:ss — pin the nonnegative
    # within-minute offset
    sub_us = F.pmod(F.unix_micros(F.col("ts")), F.lit(60_000_000))
    ss = (sub_us / F.lit(1_000_000)).cast("long")
    us = sub_us % 1_000_000
    # overflow variants exercise the Go strconv ErrRange saturation:
    # duration > MaxUint32 -> 4294967295, severity > MaxUint8 -> 255,
    # session beyond int64 -> long-max (documented 64-bit divergence)
    dur = (
        F.when(F.col("event_id") % 5 == 0, F.lit("notnum"))
        .when(F.col("event_id") % 19 == 0, F.lit("5000000000"))
        .otherwise(
            F.floor(F.coalesce(F.col("value"), F.lit(0.0)) * 1000)
            .cast("long").cast("string")
        )
    )
    sev = (
        F.when(F.col("event_id") % 3 == 0, F.lit("xx"))
        .when(F.col("event_id") % 13 == 0, F.lit("300"))
        .otherwise((F.coalesce(F.col("user_id"), F.lit(0)) % 4).cast("string"))
    )
    sess = (
        F.when(F.col("event_id") % 11 == 0, F.lit("notanumber"))
        .when(F.col("event_id") % 17 == 0, F.lit("99999999999999999999"))
        .otherwise(F.col("event_id").cast("string"))
    )
    k = F.coalesce(
        F.get_json_object("props", "$.k").cast("long"), F.lit(0)
    )
    uid = F.coalesce(F.col("user_id"), F.lit(0))
    ety = F.coalesce(F.col("event_type"), F.lit("NONE"))
    return F.format_string(
        _FMT,
        mm,
        ss,
        us,
        dur,
        ety,
        sev,
        uid % 4,
        uid % 5,
        sess,
        k,
        F.col("event_id"),
        uid,
        ety,
    )


# DuckDB string literal: double every single quote; backslashes and the
# embedded newline pass through verbatim (DuckDB does not process backslash
# escapes in regular string literals)
_FMT_SQL_LIT = _FMT.replace("'", "''")

_RECORD_SQL = f"""printf(
  '{_FMT_SQL_LIT}',
  CAST(minute(ts) AS BIGINT),
  (((epoch_us(ts) % 60000000) + 60000000) % 60000000) // 1000000,
  ((epoch_us(ts) % 60000000) + 60000000) % 60000000 % 1000000,
  CASE WHEN event_id % 5 = 0 THEN 'notnum'
       WHEN event_id % 19 = 0 THEN '5000000000'
       ELSE CAST(CAST(FLOOR(COALESCE(value, 0.0) * 1000) AS BIGINT) AS VARCHAR) END,
  COALESCE(event_type, 'NONE'),
  CASE WHEN event_id % 3 = 0 THEN 'xx'
       WHEN event_id % 13 = 0 THEN '300'
       ELSE CAST(COALESCE(user_id, 0) % 4 AS VARCHAR) END,
  COALESCE(user_id, 0) % 4,
  COALESCE(user_id, 0) % 5,
  CASE WHEN event_id % 11 = 0 THEN 'notanumber'
       WHEN event_id % 17 = 0 THEN '99999999999999999999'
       ELSE CAST(event_id AS VARCHAR) END,
  COALESCE(CAST(json_extract_string(props, '$.k') AS BIGINT), 0),
  event_id,
  COALESCE(user_id, 0),
  COALESCE(event_type, 'NONE')
)"""


def _events_with_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "events")
        .filter(F.col("event_id") < _N)
        .withColumn("record", _record_col())
    )


def _full_entry(spark: SparkSession, sf_dir: str, cap: int | None) -> DataFrame:
    from ..techlog.parser import parse_records

    ev = load(spark, sf_dir, "events")
    if cap is not None:
        ev = ev.filter(F.col("event_id") < cap)
        df = ev.withColumn("record", _record_col()).withColumn(
            "filename", F.lit("25052607.log")
        )
    else:
        # The parse projection is regex-CPU-bound, and a compact parquet
        # scan can yield far fewer partitions than cores (sf0.1 events is
        # ONE 2 MB row group -> one task -> a single-core parse).  One
        # cheap round-robin shuffle of the raw rows fans the expensive
        # work out to every core; at cluster scale the same holds when a
        # record-assembly stage emits few/skewed partitions.
        #
        # The SECOND round-robin exchange splits record synthesis and the
        # parse into separate codegen stages: fused, they form one
        # enormous generated method whose C2 compile runs for tens of
        # seconds while every executor thread executes it interpreted
        # (cold runs measured 5-20x steady state); two half-size methods
        # compile promptly.  The shuffled synthetic records are ~50 MB at
        # sf0.1 — sub-second — against a worst-case minute of JIT stall.
        par = spark.sparkContext.defaultParallelism
        df = (
            ev.repartition(par)
            .withColumn("record", _record_col())
            .withColumn("filename", F.lit("25052607.log"))
            .select("event_id", "record", "filename")
            .repartition(par)
        )
    entries = parse_records(df, record_col="record", filename_col="filename")
    out = entries.select(
        "event_id",
        F.col("LogTimestamp").alias("log_ts"),
        F.col("Component").alias("component"),
        F.col("Severity").cast("long").alias("severity"),
        F.col("Process").alias("process"),
        F.col("User").alias("usr"),
        F.col("Database").alias("infobase"),
        F.col("SessionID").alias("session_id"),
        F.col("Rows").alias("rows_parsed"),
        F.col("RowsAffected").alias("rows_affected"),
        F.col("SQL").alias("sql_text"),
        F.col("Context").alias("context"),
        F.col("EventType").alias("event_name"),
        F.col("File").alias("file_field"),
        F.col("Level").alias("level_field"),
    )
    if cap is not None:
        # constant-bounded subset (event_id < cap): a global sort over
        # ~cap rows is free and gives deterministic debug output
        return out.orderBy("event_id")
    # uncapped = corpus-cardinality: a global orderBy here planned an
    # Exchange rangepartitioning + full Sort of every parsed 24-column
    # record — a whole extra shuffle+sort of the corpus at 100 TB for an
    # order the (order-insensitive) consumers never needed (r7 verdict
    # finding 1).  No ordering on the scaled path.
    return out


def parse_full_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8: the full record -> LogEntry projection through the REAL
    parse_records (parser.go:13-45), on synthetic records.  InsertedAt
    (current_timestamp, parser.go:42) is excluded — nondeterministic."""
    return _full_entry(spark, sf_dir, _N)


def parse_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 at scale: the same full parse projection over EVERY events row
    (no _N cap), so the benched parse cost moves with the sf dir —
    parse_full_entry keeps its fixed 1500-record subset for oracle-cost
    sanity; THIS id is the sf-proportional parse-throughput headline
    (file-level ingest throughput: perfbench/run.py --workload ingest_bulk)."""
    return _full_entry(spark, sf_dir, None)


def parse_header_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: positional header fields 0/1/2 (parser.go:68-79) via the real
    split_record + comma split."""
    df = _events_with_record(spark, sf_dir)
    header, _sql, _ctx = split_record(F.col("record"))
    parts = F.split(header, ",")
    return df.select(
        "event_id",
        F.trim(F.try_element_at(parts, F.lit(1))).alias("log_ts"),
        F.trim(F.try_element_at(parts, F.lit(2))).alias("component"),
        parse_uint(F.coalesce(F.trim(F.try_element_at(parts, F.lit(3))), F.lit("")), _U8_MAX).alias(
            "severity"
        ),
    ).orderBy("event_id")


def parse_kv_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: key=value map extraction with quote/space trim + silent-zero
    numerics (parser.go:80-86, :98-116) via the real header_map."""
    df = _events_with_record(spark, sf_dir)
    header, _sql, _ctx = split_record(F.col("record"))
    m = header_map(header)

    def hv(k: str):
        return F.coalesce(F.element_at(m, F.lit(k)), F.lit(""))

    return df.select(
        "event_id",
        hv("Usr").alias("usr"),
        hv("DataBase").alias("infobase"),
        hv("process").alias("process"),
        parse_uint(hv("SessionID"), (1 << 63) - 1).alias("session_id"),
        parse_int32(hv("Rows")).alias("rows_parsed"),
        hv("missing").alias("missing_key"),
    ).orderBy("event_id")


def parse_sql_quoted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4+P5: escape-aware quoted SQL extraction, backslash-dropping
    unescape, timestamp scrub, trim (sql_extractor.go:12-45)."""
    df = _events_with_record(spark, sf_dir)
    _header, sql, _ctx = split_record(F.col("record"))
    return df.select(
        "event_id",
        sql.alias("sql_text"),
        F.length(sql).alias("sql_len"),
    ).orderBy("event_id")


def parse_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: multi-line Context to the LAST quote (context_extractor.go:6-17)."""
    df = _events_with_record(spark, sf_dir)
    _header, _sql, ctx = split_record(F.col("record"))
    return df.select(
        "event_id",
        ctx.alias("context"),
        F.length(ctx).alias("context_len"),
    ).orderBy("event_id")


def xform_filename_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9: date + hour from the rotated-log filename 'YYMMDDHH.log'
    (transform.go:16-24); every 7th filename malformed -> NULLs."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_id") < _N)
    fname = F.when(F.col("event_id") % 7 == 0, F.lit("1.log")).otherwise(
        F.format_string(
            "%02d%02d%02d%02d.log",
            F.year("ts") % 100,
            F.month("ts"),
            F.dayofmonth("ts"),
            F.hour("ts"),
        )
    )
    df = ev.withColumn("filename", fname)
    ts = F.col("filename")
    date_str = F.concat(
        F.lit("20"), ts.substr(1, 2), F.lit("-"), ts.substr(3, 2), F.lit("-"), ts.substr(5, 2)
    )
    ok = F.length(ts) >= 8
    return df.select(
        "event_id",
        "filename",
        F.when(ok, date_str).alias("event_date_str"),
        F.when(ok, ts.substr(7, 2).try_cast("int")).alias("hour"),
    ).orderBy("event_id")


def xform_event_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10: event-time reconstruction: filename date+hour + first
    mm:ss.ffffff match of LogTimestamp (transform.go:27-45)."""
    df = _events_with_record(spark, sf_dir)
    fname = F.format_string(
        "%02d%02d%02d%02d.log",
        F.year("ts") % 100,
        F.month("ts"),
        F.dayofmonth("ts"),
        F.hour("ts"),
    )
    df = df.withColumn("filename", fname)
    header, _s, _c = split_record(F.col("record"))
    log_ts = F.trim(F.try_element_at(F.split(header, ","), F.lit(1)))
    match = F.regexp_extract(log_ts, r"\d{2}:\d{2}\.\d{1,6}", 0)
    match6 = match.rlike(r"^\d{2}:\d{2}\.\d{6}$")
    ts = F.col("filename")
    date_str = F.concat(
        F.lit("20"), ts.substr(1, 2), F.lit("-"), ts.substr(3, 2), F.lit("-"), ts.substr(5, 2)
    )
    hour = ts.substr(7, 2).try_cast("int")
    composed = F.concat(date_str, F.lit(" "), F.format_string("%02d", hour), F.lit(":"), match)
    event_time = F.when(
        match6, F.try_to_timestamp(composed, F.lit("yyyy-MM-dd HH:mm:ss.SSSSSS"))
    )
    return df.select("event_id", event_time.alias("event_time")).orderBy("event_id")


def xform_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11: duration = uint32 after the first '-', silent zero on garbage
    or overflow (transform.go:47-53); every 5th record has 'notnum'."""
    df = _events_with_record(spark, sf_dir)
    header, _s, _c = split_record(F.col("record"))
    log_ts = F.trim(F.try_element_at(F.split(header, ","), F.lit(1)))
    dash = F.instr(log_ts, "-")
    dur_str = F.when(dash > 0, log_ts.substr(dash + 1, F.length(log_ts)))
    duration = parse_uint(F.coalesce(dur_str, F.lit("")), _U32_MAX)
    return df.select("event_id", duration.alias("duration")).orderBy("event_id")


def filter_valid_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P15/R5: validity split with dead-letter reasons instead of the
    reference's silent row drop (clickhouse.go:91-95; SURVEY §7.3 #4)."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_id") < _N)
    fname = F.when(F.col("event_id") % 7 == 0, F.lit("1.log")).otherwise(
        F.when(F.col("event_id") % 7 == 1, F.lit("2024xxyy.log")).otherwise(
            F.format_string(
                "%02d%02d%02d%02d.log",
                F.year("ts") % 100,
                F.month("ts"),
                F.dayofmonth("ts"),
                F.hour("ts"),
            )
        )
    )
    ts = fname
    len_ok = F.length(ts) >= 8
    hour_ok = ts.substr(7, 2).rlike("^[+-]?[0-9]+$")
    date_ok = F.concat(
        F.lit("20"), ts.substr(1, 2), F.lit("-"), ts.substr(3, 2), F.lit("-"), ts.substr(5, 2)
    ).try_cast("date").isNotNull()
    reason = (
        F.when(~len_ok, F.lit("bad_filename"))
        .when(~hour_ok, F.lit("bad_hour"))
        .when(~date_ok, F.lit("bad_date"))
        .otherwise(F.lit("valid"))
    )
    return (
        ev.select(reason.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("status")
    )


def records_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: multi-line record assembly — two records and a headless preamble
    per synthetic file, split on the record-start regex (scan.go:16-21,
    tail.go:57-114) exactly as the reader does."""
    df = _events_with_record(spark, sf_dir)
    content = F.concat(
        F.lit("preamble line\n"),
        F.col("record"),
        F.lit("\n59:59.999999-1,SECOND,2,Usr=next\nrest of second"),
    )
    rec = F.posexplode(F.split(content, _SPLIT_REGEX))
    out = df.select("event_id", rec.alias("record_no", "rec"))
    return (
        out.withColumn("rec", F.regexp_replace(F.col("rec"), r"\r?\n$", ""))
        .filter(F.length("rec") > 0)
        .select(
            "event_id",
            "record_no",
            F.substring("rec", 1, 13).alias("rec_prefix"),
            F.length("rec").alias("rec_len"),
        )
        .orderBy("event_id", "record_no")
    )


# --- oracle SQL -------------------------------------------------------------

_BASE = f"""
WITH base AS (
  SELECT *, {_RECORD_SQL} AS record
  FROM events WHERE event_id < {_N}
),
split AS (
  SELECT *,
    CASE WHEN strpos(record, 'Sql=') > 0
         THEN substr(record, 1, strpos(record, 'Sql=') - 1)
         ELSE record END AS header
  FROM base
)
"""

# escape-aware quoted scan; backslash-dropping unescape; timestamp scrub
_SQL_EXTRACT = r"""trim(regexp_replace(regexp_replace(
    regexp_extract(record, '(?s)Sql=''((?:[^''\\]|\\.)*)''', 1),
    '\\(.)', '\1', 'g'),
    '\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}', '', 'g'))"""

# after-SQL remainder, then ,Context=' ... last quote (greedy)
_CTX_EXTRACT = r"""regexp_extract(
    regexp_extract(record, '(?s)Sql=''(?:[^''\\]|\\.)*''(.*)$', 1),
    '(?s),Context=''(.*)''', 1)"""

_PARSE_FULL_BODY = f"""
SELECT event_id,
  trim(string_split(header, ',')[1]) AS log_ts,
  trim(string_split(header, ',')[2]) AS component,
  CASE WHEN regexp_matches(trim(string_split(header, ',')[3]), '^[0-9]+$')
       THEN LEAST(COALESCE(TRY_CAST(trim(string_split(header, ',')[3]) AS BIGINT), 255), 255)
       ELSE 0 END AS severity,
  trim(regexp_extract(header, 'process=([^,]*)', 1), ' ''') AS process,
  trim(regexp_extract(header, 'Usr=([^,]*)', 1), ' ''') AS usr,
  trim(regexp_extract(header, 'DataBase=([^,]*)', 1), ' ''') AS infobase,
  CASE WHEN regexp_matches(trim(regexp_extract(header, 'SessionID=([^,]*)', 1), ' '''), '^[0-9]+$')
       THEN COALESCE(TRY_CAST(trim(regexp_extract(header, 'SessionID=([^,]*)', 1), ' ''') AS BIGINT), 9223372036854775807)
       ELSE 0 END AS session_id,
  CAST(CASE WHEN regexp_matches(trim(regexp_extract(header, 'Rows=([^,]*)', 1), ' '''), '^[+-]?[0-9]+$')
       THEN GREATEST(LEAST(COALESCE(TRY_CAST(trim(regexp_extract(header, 'Rows=([^,]*)', 1), ' ''') AS BIGINT),
              CASE WHEN trim(regexp_extract(header, 'Rows=([^,]*)', 1), ' ''') LIKE '-%' THEN -2147483648 ELSE 2147483647 END),
            2147483647), -2147483648)
       ELSE 0 END AS INT) AS rows_parsed,
  0 AS rows_affected,
  {_SQL_EXTRACT} AS sql_text,
  {_CTX_EXTRACT} AS context,
  '' AS event_name,
  '' AS file_field,
  '' AS level_field
FROM split ORDER BY event_id
"""

_PARSE_FULL_SQL = _BASE + _PARSE_FULL_BODY
# same projection, no row cap: the sf-proportional twin
_PARSE_SCALED_SQL = _BASE.replace(f"WHERE event_id < {_N}", "") + _PARSE_FULL_BODY

_PARSE_HEADER_SQL = _BASE + """
SELECT event_id,
  trim(string_split(header, ',')[1]) AS log_ts,
  trim(string_split(header, ',')[2]) AS component,
  CASE WHEN regexp_matches(trim(string_split(header, ',')[3]), '^[0-9]+$')
       THEN LEAST(COALESCE(TRY_CAST(trim(string_split(header, ',')[3]) AS BIGINT), 255), 255)
       ELSE 0 END AS severity
FROM split ORDER BY event_id
"""

_PARSE_KV_SQL = _BASE + """
SELECT event_id,
  trim(regexp_extract(header, 'Usr=([^,]*)', 1), ' ''') AS usr,
  trim(regexp_extract(header, 'DataBase=([^,]*)', 1), ' ''') AS infobase,
  trim(regexp_extract(header, 'process=([^,]*)', 1), ' ''') AS process,
  CASE WHEN regexp_matches(trim(regexp_extract(header, 'SessionID=([^,]*)', 1), ' '''), '^[0-9]+$')
       THEN COALESCE(TRY_CAST(trim(regexp_extract(header, 'SessionID=([^,]*)', 1), ' ''') AS BIGINT), 9223372036854775807)
       ELSE 0 END AS session_id,
  CAST(CASE WHEN regexp_matches(trim(regexp_extract(header, 'Rows=([^,]*)', 1), ' '''), '^[+-]?[0-9]+$')
       THEN GREATEST(LEAST(COALESCE(TRY_CAST(trim(regexp_extract(header, 'Rows=([^,]*)', 1), ' ''') AS BIGINT),
              CASE WHEN trim(regexp_extract(header, 'Rows=([^,]*)', 1), ' ''') LIKE '-%' THEN -2147483648 ELSE 2147483647 END),
            2147483647), -2147483648)
       ELSE 0 END AS INT) AS rows_parsed,
  '' AS missing_key
FROM split ORDER BY event_id
"""

_PARSE_SQL_SQL = _BASE + f"""
SELECT event_id,
  {_SQL_EXTRACT} AS sql_text,
  length({_SQL_EXTRACT}) AS sql_len
FROM split ORDER BY event_id
"""

_PARSE_CTX_SQL = _BASE + f"""
SELECT event_id,
  {_CTX_EXTRACT} AS context,
  length({_CTX_EXTRACT}) AS context_len
FROM split ORDER BY event_id
"""

_FNAME_SQL = """CASE WHEN event_id % 7 = 0 THEN '1.log'
      ELSE printf('%02d%02d%02d%02d.log',
                  CAST(year(ts) AS BIGINT) % 100, CAST(month(ts) AS BIGINT),
                  CAST(day(ts) AS BIGINT), CAST(hour(ts) AS BIGINT)) END"""

_XFORM_FNAME_SQL = f"""
WITH base AS (
  SELECT event_id, {_FNAME_SQL} AS filename FROM events WHERE event_id < {_N}
)
SELECT event_id, filename,
  CASE WHEN length(filename) >= 8
       THEN '20' || substr(filename,1,2) || '-' || substr(filename,3,2) || '-' || substr(filename,5,2)
       END AS event_date_str,
  CASE WHEN length(filename) >= 8
       THEN TRY_CAST(substr(filename,7,2) AS INT) END AS hour
FROM base ORDER BY event_id
"""

_XFORM_EVENT_TIME_SQL = _BASE + f"""
SELECT event_id,
  CASE WHEN regexp_matches(regexp_extract(trim(string_split(header, ',')[1]), '\\d{{2}}:\\d{{2}}\\.\\d{{1,6}}', 0), '^\\d{{2}}:\\d{{2}}\\.\\d{{6}}$')
       THEN TRY_CAST(
         '20' || substr(printf('%02d%02d%02d%02d.log', CAST(year(ts) AS BIGINT) % 100, CAST(month(ts) AS BIGINT), CAST(day(ts) AS BIGINT), CAST(hour(ts) AS BIGINT)),1,2)
         || '-' || substr(printf('%02d%02d%02d%02d.log', CAST(year(ts) AS BIGINT) % 100, CAST(month(ts) AS BIGINT), CAST(day(ts) AS BIGINT), CAST(hour(ts) AS BIGINT)),3,2)
         || '-' || substr(printf('%02d%02d%02d%02d.log', CAST(year(ts) AS BIGINT) % 100, CAST(month(ts) AS BIGINT), CAST(day(ts) AS BIGINT), CAST(hour(ts) AS BIGINT)),5,2)
         || printf(' %02d:', CAST(hour(ts) AS BIGINT))
         || regexp_extract(trim(string_split(header, ',')[1]), '\\d{{2}}:\\d{{2}}\\.\\d{{1,6}}', 0)
         AS TIMESTAMP)
       END AS event_time
FROM split ORDER BY event_id
"""

_XFORM_DURATION_SQL = _BASE + """
SELECT event_id,
  CASE WHEN strpos(trim(string_split(header, ',')[1]), '-') > 0
        AND regexp_matches(substr(trim(string_split(header, ',')[1]), strpos(trim(string_split(header, ',')[1]), '-') + 1), '^[0-9]+$')
       THEN LEAST(COALESCE(TRY_CAST(substr(trim(string_split(header, ',')[1]), strpos(trim(string_split(header, ',')[1]), '-') + 1) AS BIGINT), 4294967295), 4294967295)
       ELSE 0 END AS duration
FROM split ORDER BY event_id
"""

_FILTER_VALID_SQL = f"""
WITH base AS (
  SELECT event_id,
    CASE WHEN event_id % 7 = 0 THEN '1.log'
         WHEN event_id % 7 = 1 THEN '2024xxyy.log'
         ELSE printf('%02d%02d%02d%02d.log',
                     CAST(year(ts) AS BIGINT) % 100, CAST(month(ts) AS BIGINT),
                     CAST(day(ts) AS BIGINT), CAST(hour(ts) AS BIGINT)) END AS filename
  FROM events WHERE event_id < {_N}
)
SELECT status, COUNT(*) AS n FROM (
  SELECT CASE
    WHEN length(filename) < 8 THEN 'bad_filename'
    WHEN NOT regexp_matches(substr(filename, 7, 2), '^[+-]?[0-9]+$') THEN 'bad_hour'
    WHEN TRY_CAST('20' || substr(filename,1,2) || '-' || substr(filename,3,2) || '-' || substr(filename,5,2) AS DATE) IS NULL THEN 'bad_date'
    ELSE 'valid' END AS status
  FROM base
) GROUP BY status ORDER BY status
"""

# posexplode is 0-based: part 0 = headless preamble, 1 = the synthetic
# record, 2 = the trailing second record (no final newline)
_RECORDS_EXPLODE_SQL = _BASE + """
SELECT event_id, 0 AS record_no, 'preamble line' AS rec_prefix,
       length('preamble line') AS rec_len
FROM split
UNION ALL
SELECT event_id, 1 AS record_no, substr(record, 1, 13) AS rec_prefix,
       length(record) AS rec_len
FROM split
UNION ALL
SELECT event_id, 2 AS record_no, '59:59.999999-' AS rec_prefix,
       length('59:59.999999-1,SECOND,2,Usr=next' || chr(10) || 'rest of second') AS rec_len
FROM split
ORDER BY event_id, record_no
"""


SPARK_QUERIES = {
    "parse_full_entry": parse_full_entry,
    "parse_header_positional": parse_header_positional,
    "parse_kv_map": parse_kv_map,
    "parse_sql_quoted": parse_sql_quoted,
    "parse_context": parse_context,
    "xform_filename_date": xform_filename_date,
    "xform_event_time": xform_event_time,
    "xform_duration": xform_duration,
    "filter_valid_rows": filter_valid_rows,
    "records_explode": records_explode,
    "parse_scaled": parse_scaled,
}

ORACLE_SQL = {
    "parse_full_entry": _PARSE_FULL_SQL,
    "parse_header_positional": _PARSE_HEADER_SQL,
    "parse_kv_map": _PARSE_KV_SQL,
    "parse_sql_quoted": _PARSE_SQL_SQL,
    "parse_context": _PARSE_CTX_SQL,
    "xform_filename_date": _XFORM_FNAME_SQL,
    "xform_event_time": _XFORM_EVENT_TIME_SQL,
    "xform_duration": _XFORM_DURATION_SQL,
    "filter_valid_rows": _FILTER_VALID_SQL,
    "records_explode": _RECORDS_EXPLODE_SQL,
    "parse_scaled": _PARSE_SCALED_SQL,
}
