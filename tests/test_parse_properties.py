"""Property-based tests: the Column-expression parser vs a direct Python
model of the Go semantics (strconv grammar, ParseLogRecord splitting,
header key=value fields, extractSQL escape scan, extractContext
last-quote).

The Python models here are TEST ORACLES transliterating the documented
behavior of /root/reference/internal/parser/*.go for verification only —
the engine itself never executes them.
"""

from __future__ import annotations

import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from logpump_spark.techlog.parser import parse_int32, parse_uint, split_record

# ---------------------------------------------------------------------------
# Python models of the Go behavior
# ---------------------------------------------------------------------------

def go_parse_uint(s: str, max_value: int) -> int:
    # strconv.ParseUint: syntax error -> 0; range error -> bit-size max
    # (the reference discards the error and keeps the value)
    if not re.fullmatch(r"[0-9]+", s or ""):
        return 0
    n = int(s)
    return n if n <= max_value else max_value


def go_parse_int32(s: str) -> int:
    # strconv.ParseInt: syntax error -> 0; range error -> MaxInt32/MinInt32
    if not re.fullmatch(r"[+-]?[0-9]+", s or ""):
        return 0
    n = int(s)
    if n > 2**31 - 1:
        return 2**31 - 1
    if n < -(2**31):
        return -(2**31)
    return n


def go_extract_sql(s: str, quote: str) -> tuple[str, str]:
    out, i, in_escape = [], 0, False
    while i < len(s):
        c = s[i]
        if c == quote and not in_escape:
            sql = re.sub(r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}", "", "".join(out)).strip()
            return sql, s[i + 1 :]
        if c == "\\" and not in_escape:
            in_escape = True
        else:
            in_escape = False
            out.append(c)
        i += 1
    sql = re.sub(r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}", "", "".join(out)).strip()
    return sql, ""


def go_extract_context(s: str) -> str:
    idx = s.find(",Context='")
    if idx == -1:
        return ""
    ctx = s[idx + len(",Context='") :]
    end = ctx.rfind("'")
    return ctx if end == -1 else ctx[:end]


def go_header(header: str) -> dict[str, str]:
    # parser.go:68-96: skip the 3 positional fields, split each part at
    # its first '=', skip '=' at position 0, key trimmed of spaces, value
    # of spaces and single quotes; a map assignment, so the last
    # duplicate wins
    fields = {}
    for part in header.split(",")[3:]:
        eq = part.find("=")
        if eq <= 0:
            continue
        fields[part[:eq].strip(" ")] = part[eq + 1 :].strip(" '")
    return fields


def go_split_record(raw: str) -> tuple[str, str, str]:
    sql_idx = raw.find("Sql=")
    if sql_idx == -1:
        return raw, "", go_extract_context(raw)
    header = raw[:sql_idx]
    rest = raw[sql_idx + 4 :]
    if not rest:
        return header, "", ""
    quote, rest = rest[0], rest[1:]
    if quote not in ("'", '"'):
        # engine supports ' and " delimiters; Go would scan for any byte.
        # Restricted generators below keep the property space aligned.
        raise NotImplementedError
    sql, after = go_extract_sql(rest, quote)
    return header, sql, go_extract_context(after)


# ---------------------------------------------------------------------------
# Spark evaluation helper: run the Column expressions over a literal batch
# ---------------------------------------------------------------------------

def _eval_numeric(spark, values: list[str]):
    df = spark.createDataFrame([(v,) for v in values], "s string")
    rows = df.select(
        parse_uint(F.col("s"), 4_294_967_295).alias("u"),
        parse_int32(F.col("s")).alias("i"),
    ).collect()
    return [(r.u, r.i) for r in rows]


def _eval_split(spark, records: list[str]):
    df = spark.createDataFrame([(r,) for r in records], "record string")
    h, s, c = split_record(F.col("record"))
    return [
        (r.h, r.s, r.c)
        for r in df.select(h.alias("h"), s.alias("s"), c.alias("c")).collect()
    ]


num_strings = st.one_of(
    st.text(alphabet="0123456789+- x", max_size=24),
    st.integers(min_value=-(2**64), max_value=2**64).map(str),
)


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(num_strings, min_size=1, max_size=40))
def test_numeric_grammar_matches_go(spark, values):
    got = _eval_numeric(spark, values)
    want = [(go_parse_uint(v, 4_294_967_295), go_parse_int32(v)) for v in values]
    assert got == want


# record bodies: printable-ish text incl. commas, equals, quotes, escapes,
# newlines — the space split_record actually faces
body = st.text(
    alphabet=st.sampled_from(list("abcZ19 ,='\\\"\nФ.:-()")), max_size=60
)


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(body, min_size=1, max_size=25))
def test_split_record_matches_go(spark, bodies):
    records, want = [], []
    for b in bodies:
        try:
            want.append(go_split_record(b))
            records.append(b)
        except NotImplementedError:
            continue  # non-quote delimiter after Sql=: out of modeled space
    if not records:
        return
    got = _eval_split(spark, records)
    for rec, g, w in zip(records, got, want):
        assert g == w, f"record {rec!r}: spark={g} go={w}"


# ---------------------------------------------------------------------------
# The split (two-codegen-stage) and fused projection shapes of the FULL
# 24-field parse_records must agree on arbitrary record bodies, not just
# the golden corpus: same expressions over the same intermediates is the
# correctness argument for the split shape, so pin it property-style
# where the golden file can't reach (adversarial quoting, truncated
# headers, unicode, embedded newlines).


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(body, min_size=1, max_size=20))
def test_parse_records_split_and_fused_agree(spark, bodies):
    from logpump_spark.techlog.parser import parse_records

    df = spark.createDataFrame(
        [(b, f"f{i}.log") for i, b in enumerate(bodies)],
        "record string, filename string",
    )
    split = parse_records(df, split_stages=True).drop("InsertedAt")
    fused = parse_records(df, split_stages=False).drop("InsertedAt")
    assert split.schema == fused.schema
    key = lambda r: tuple(str(v) for v in r)
    assert sorted(split.collect(), key=key) == sorted(fused.collect(), key=key)


# ---------------------------------------------------------------------------
# Header fields: every header-valued LogEntry column of parse_records vs
# go_header, over headers with duplicate keys at random positions, empty
# values, keys padded with spaces and parts with no '=' or '=' first.

_U32 = 4_294_967_295
# LogEntry column -> (Go key, numeric model or None for the raw string)
_HEADER_COLS = {
    "Level": ("level", None),
    "Process": ("process", None),
    "ProcessName": ("p:processName", None),
    "OSThread": ("OSThread", lambda v: go_parse_uint(v, _U32)),
    "ClientID": ("t:clientID", lambda v: go_parse_uint(v, _U32)),
    "ApplicationName": ("t:applicationName", None),
    "ComputerName": ("t:computerName", None),
    "ConnectID": ("t:connectID", lambda v: go_parse_uint(v, _U32)),
    "SessionID": ("SessionID", lambda v: go_parse_uint(v, 2**63 - 1)),
    "User": ("Usr", None),
    "DBMS": ("DBMS", None),
    "Database": ("DataBase", None),
    "Trans": ("Trans", lambda v: go_parse_uint(v, _U32)),
    "DBPID": ("dbpid", lambda v: go_parse_uint(v, _U32)),
    "Rows": ("Rows", go_parse_int32),
    "RowsAffected": ("RowsAffected", go_parse_int32),
    "EventType": ("Event", None),
    "File": ("File", None),
}

_key = st.sampled_from([k for k, _ in _HEADER_COLS.values()] + ["x", "usr", "Usr2"])
_pad = st.sampled_from(["", " ", "  "])
_kv_part = st.builds(
    lambda a, k, b, v: f"{a}{k}{b}={v}",
    _pad, _key, _pad,
    st.text(alphabet=st.sampled_from(list("ab19 '=-+")), max_size=8),
)
_other_part = st.sampled_from(["", " ", "noeq", "=v", "= 1"])
headers = st.lists(st.one_of(_kv_part, _kv_part, _other_part), max_size=14)


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(headers, min_size=1, max_size=12))
def test_header_fields_match_go(spark, header_lists):
    from logpump_spark.techlog.parser import parse_records

    records = [",".join(["07:18.000001-1", "CALL", "1", *h]) for h in header_lists]
    df = spark.createDataFrame(
        [(r, f"{i}.log") for i, r in enumerate(records)],
        "record string, filename string",
    )
    want = []
    for r in records:
        fields = go_header(r)
        want.append({
            col: (model or (lambda v: v))(fields.get(key, ""))
            for col, (key, model) in _HEADER_COLS.items()
        })
    for split_stages in (False, True):
        got = parse_records(df, split_stages=split_stages).collect()
        got = sorted(got, key=lambda row: int(row["Timestamp"].split(".")[0]))
        for rec, g, w in zip(records, got, want):
            assert {c: g[c] for c in _HEADER_COLS} == w, f"record {rec!r} split={split_stages}"


# ---------------------------------------------------------------------------
# The full parse_records, both shapes, vs the models above: SQL, Context,
# the positional fields, every header-valued field and the numeric casts
# of whole records, built from headers with duplicate and malformed parts,
# a "'"- or '"'-quoted SQL with escapes, scrubbed timestamps, missing or
# early closing quotes, and Context with or without its closing quote;
# plus free-form bodies.

# a newline only inside a chunk: at the edge of the SQL, Go's TrimSpace
# drops it and the engine's trim does not (test_sql_edge_whitespace_...)
_sql_chunk = st.sampled_from(
    ["SELECT", " ", "a,b", "=", "\\'", '\\"', "\\\\", "\\x", "a\nb", "'", '"', "2025-05-26 07:18:00"]
)
_context = st.builds(
    lambda body, close, after: f",Context='{body}{close}{after}",
    st.text(alphabet=st.sampled_from(list("ab1 ,=\n'")), max_size=12),
    st.sampled_from(["", "'"]),
    st.sampled_from(["", ",x=1", "'"]),
)
_sql_part = st.builds(
    lambda q, chunks, closed, after: f",Sql={q}{''.join(chunks)}{q if closed else ''}{after}",
    st.sampled_from(["'", '"']),
    st.lists(_sql_chunk, max_size=8),
    st.booleans(),
    st.one_of(st.just(""), _context, st.just(",Rows=5")),
)
_record = st.builds(
    lambda ts, comp, sev, kv, tail: ",".join([ts, comp, sev, *kv]) + tail,
    st.sampled_from(["07:18.000001-1", " 07:18.5-20 ", ""]),
    st.sampled_from(["CALL", " DBMSSQL ", ""]),
    st.one_of(num_strings, st.sampled_from(["3", "255", "256", " 4 "])),
    headers,
    st.one_of(st.just(""), _sql_part, _context),
)


def _want_entry(rec: str) -> dict:
    header, sql, ctx = go_split_record(rec)
    parts = header.split(",")
    pos = [parts[i].strip(" ") if i < len(parts) else "" for i in range(3)]
    fields = go_header(header)
    want = {
        "LogTimestamp": pos[0],
        "Component": pos[1],
        "Severity": go_parse_uint(pos[2], 255),
        "SQL": sql,
        "Context": ctx,
    }
    for col, (key, model) in _HEADER_COLS.items():
        want[col] = (model or (lambda v: v))(fields.get(key, ""))
    return want


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.one_of(_record, _record, body), min_size=1, max_size=20))
def test_parse_records_match_go(spark, bodies):
    from logpump_spark.techlog.parser import parse_records

    records, want = [], []
    for b in bodies:
        try:
            want.append(_want_entry(b))
            records.append(b)
        except NotImplementedError:
            continue  # non-quote delimiter after Sql=: out of modeled space
    if not records:
        return
    df = spark.createDataFrame(
        [(r, f"{i}.log") for i, r in enumerate(records)],
        "record string, filename string",
    )
    for split_stages in (False, True):
        got = parse_records(df, split_stages=split_stages).collect()
        got = sorted(got, key=lambda row: int(row["Timestamp"].split(".")[0]))
        for rec, g, w in zip(records, got, want):
            assert {c: g[c] for c in w} == w, f"record {rec!r} split={split_stages}"


@pytest.mark.xfail(
    strict=True,
    reason="known divergence: Go's strings.TrimSpace (SURVEY.md §2.C) trims "
    "tabs and newlines from the SQL and the positional fields, F.trim only spaces",
)
def test_sql_edge_whitespace_trimmed_like_go(spark):
    from logpump_spark.techlog.parser import parse_records

    rec = "\t07:18.000001-1,CALL,1,Sql='\nSELECT 1\n'"
    df = spark.createDataFrame([(rec, "0.log")], "record string, filename string")
    row = parse_records(df).collect()[0]
    assert (row["LogTimestamp"], row["SQL"]) == ("07:18.000001-1", "SELECT 1")
