"""Record -> LogEntry parsing as pure Column expressions.

Faithful to /root/reference/internal/parser/*.go, field by field:

- record split at the first ``Sql=`` marker (parser.go:50-66); the char
  right after the marker is the quote delimiter
- escape-aware quoted SQL scan where a backslash escapes the next char AND
  is itself dropped from the output (sql_extractor.go:30-37: the escape
  byte is never written) — regex equivalent: capture ``(?:[^q\\]|\\.)*``
  then strip the backslashes with a second regexp_replace
- embedded ``YYYY-MM-DD HH:MM:SS`` literals scrubbed from SQL, then trim
  (sql_extractor.go:14, 25-27, 41-43); unterminated quote keeps the whole
  tail (sql_extractor.go:40-44)
- Context = substring after the first ``,Context='`` up to the LAST single
  quote; no closing quote keeps the whole tail (context_extractor.go:6-17)
- positional header: fields 0/1/2 are LogTimestamp/Component/Severity
  (space-trimmed); remaining comma parts split on the FIRST '=' with key
  space-trimmed and value trimmed of spaces AND single quotes
  (parser.go:68-88); duplicate keys: last wins (Go map overwrite)
- silent numeric parses: Go strconv with the error DISCARDED
  (parser.go:98-116).  Syntax errors yield 0 (Go returns 0 with
  ErrSyntax), but RANGE errors saturate: strconv.ParseUint returns the
  max value for the bit size on ErrRange, ParseInt returns MaxInt32 /
  MinInt32 by sign — and since the reference ignores the error, the
  saturated value is what lands in the row

No session conf is touched.  Go's last-duplicate-wins map overwrite
(parser.go:84) is a lookup in the REVERSED key array: its first hit is
the last duplicate, so there is no dedup pass and no map column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_U8_MAX = 255
_U32_MAX = 4_294_967_295
_I32_MIN, _I32_MAX = -2_147_483_648, 2_147_483_647


def parse_uint(s: Column, max_value: int) -> Column:
    """Go strconv.ParseUint(s, 10, bits) with the error discarded
    (parser.go:98-116): digits only, no sign, no spaces.  Syntax error
    -> 0; range overflow -> ``max_value`` (Go returns the bit-size max on
    ErrRange and the reference keeps that value).  A 64-bit caller passes
    ``(1 << 63) - 1``: values in [2^63, 2^64) don't fit a Spark long, so
    they saturate to long max instead of Go's MaxUint64 — documented
    divergence, unreachable for real 1C ids."""
    n = s.try_cast("long")
    digits = s.rlike("^[0-9]+$")
    in_range = n.isNotNull() & (n <= max_value)
    return (
        F.when(digits & in_range, n)
        .when(digits, F.lit(max_value))  # ErrRange (incl. > long max)
        .otherwise(F.lit(0))
        .cast("long")
    )


def parse_int32(s: Column) -> Column:
    """Go strconv.ParseInt(s, 10, 32) with the error discarded: optional
    sign; syntax error -> 0; range overflow saturates to MaxInt32 /
    MinInt32 by sign (Go's ErrRange value)."""
    n = s.try_cast("long")
    syntax = s.rlike("^[+-]?[0-9]+$")
    in_range = n.isNotNull() & (n >= _I32_MIN) & (n <= _I32_MAX)
    return (
        F.when(syntax & in_range, n)
        .when(syntax & s.startswith("-"), F.lit(_I32_MIN))
        .when(syntax, F.lit(_I32_MAX))
        .otherwise(F.lit(0))
        .cast("int")
    )


def _scrub_sql(sql: Column) -> Column:
    """Timestamp scrub + trim (sql_extractor.go:14, 25-27)."""
    return F.trim(
        F.regexp_replace(sql, r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}", "")
    )


def _unescape(s: Column) -> Column:
    """Drop escape backslashes: Go's scanner never writes the escape byte
    (sql_extractor.go:30-37)."""
    return F.regexp_replace(s, r"\\(.)", "$1")


# The parse steps.  Each takes its inputs as Columns, so the same step
# builds the inline helpers below (every input a full expression) and the
# stacked projections of parse_records (every input a column of the
# previous projection).


def _locate(rec: Column) -> tuple[Column, Column, Column, Column]:
    """-> (sql_idx, header_part, quote, rest) of ``rec``: the split at the
    first ``Sql=`` (parser.go:50-66).  ``sql_idx`` is
    1-based, 0 if absent; ``quote`` is the char right after the marker
    ('' at the end of the record) and ``rest`` what follows it."""
    sql_idx = F.instr(rec, "Sql=")
    has_sql = sql_idx > 0
    header_part = F.when(has_sql, rec.substr(F.lit(1), sql_idx - 1)).otherwise(rec)
    quote = rec.substr(sql_idx + F.lit(4), F.lit(1))
    rest = rec.substr(sql_idx + F.lit(5), F.length(rec))
    return sql_idx, header_part, quote, rest


_QUOTES = ("'", '"')  # the quote delimiters the SQL scan supports


def _sql_scan(rest: Column) -> dict[str, tuple[Column, Column]]:
    """Escape-aware scan of ``rest`` to the closing quote, per supported
    quote delimiter: ``{q: (closed, raw)}``, ``raw`` the SQL body before
    the first unescaped ``q``.  Any other delimiter falls back to "no
    closing quote" (``_sql_pick``)."""
    out = {}
    for q in _QUOTES:
        qe = "\\" + q
        # "unrolled loop" form [^q\]*(?:\.[^q\]*)* instead of the per-char
        # alternation (?:[^q\]|\.)* — same language, linear-time on Java's
        # backtracking regex engine instead of alternation-per-character
        body = r"[^" + qe + r"\\]*(?:\\.[^" + qe + r"\\]*)*"
        pat = r"(?s)^(" + body + r")" + qe
        out[q] = (rest.rlike(pat), F.regexp_extract(rest, pat, 1))
    return out


def _sql_pick(quote: Column, rest: Column, scan: dict[str, tuple[Column, Column]]) -> tuple[Column, Column]:
    """-> (raw_sql, after_sql): the scan of the record's own delimiter.
    The match is ^-anchored, so the remainder after the closing quote is
    POSITIONAL: rest = raw + quote + after.  Deriving it by substr instead
    of a second capture halves the regex runs per record.  Unterminated
    quote: the whole tail is SQL and nothing follows
    (sql_extractor.go:40-44)."""

    def pick(f, default: Column) -> Column:
        out = F
        for q, (closed, raw) in scan.items():
            out = out.when(quote == q, f(closed, raw))
        return out.otherwise(default)

    raw_sql = pick(lambda closed, raw: F.when(closed, raw).otherwise(rest), rest)
    after_sql = pick(
        lambda closed, raw: F.when(
            closed, rest.substr(F.length(raw) + F.lit(2), F.length(rest))
        ).otherwise(F.lit("")),
        F.lit(""),
    )
    return raw_sql, after_sql


def _sql_text(n: Column, sql_idx: Column, raw_sql: Column) -> Column:
    """Unescaped, scrubbed SQL; '' without a marker or when the record
    ends at it."""
    return F.when(
        (sql_idx > 0) & (n >= sql_idx + 4), _scrub_sql(_unescape(raw_sql))
    ).otherwise(F.lit(""))


def _context_source(rec: Column, sql_idx: Column, after_sql: Column) -> Column:
    """Context comes from the remainder after SQL, or the whole record
    when there is no Sql= marker (parser.go:53-54, :65)."""
    return F.when(sql_idx > 0, after_sql).otherwise(rec)


def _context_tail(ctx_source: Column) -> tuple[Column, Column]:
    """-> (ctx_idx, ctx_tail): the first ``,Context='`` (1-based, 0 if
    absent) and what follows it."""
    ctx_idx = F.instr(ctx_source, ",Context='")
    return ctx_idx, ctx_source.substr(ctx_idx + F.lit(10), F.length(ctx_source))


def _context_text(n: Column, sql_idx: Column, ctx_idx: Column, ctx_tail: Column) -> Column:
    """The tail up to its LAST quote (context_extractor.go:12); none ->
    whole tail.  Last-quote position via reverse+instr — one linear pass
    instead of the greedy (?s)^(.*)' regex."""
    last_q = F.length(ctx_tail) - F.instr(F.reverse(ctx_tail), "'") + 1
    ctx = F.when(
        ctx_tail.contains("'"), ctx_tail.substr(F.lit(1), last_q - 1)
    ).otherwise(ctx_tail)
    context_text = F.when(ctx_idx > 0, ctx).otherwise(F.lit(""))
    # Sql= at the very end of the record
    return F.when((sql_idx > 0) & (n < sql_idx + 4), F.lit("")).otherwise(context_text)


def _header_valid(parts: Column) -> Column:
    """The key=value comma parts 3.. (parser.go:80-86) in REVERSE order,
    without the ones whose first '=' is missing or at position 0 (Go:
    eq := strings.Index(part, "="); eq > 0, i.e. 1-based instr > 1)."""
    kv = F.slice(parts, 4, F.greatest(F.size(parts) - 3, F.lit(0)))
    return F.reverse(F.filter(kv, lambda p: F.instr(p, "=") > 1))


def _header_kv(valid: Column) -> tuple[Column, Column]:
    """-> (keys, values) of ``_header_valid`` parts: split at the first
    '=', key space-trimmed, value trimmed of spaces and single quotes."""
    keys = F.transform(valid, lambda p: F.trim(p.substr(F.lit(1), F.instr(p, "=") - 1)))
    values = F.transform(
        valid,
        lambda p: F.regexp_replace(
            F.regexp_replace(p.substr(F.instr(p, "=") + 1, F.length(p)), r"^[ ']+", ""),
            r"[ ']+$",
            "",
        ),
    )
    return keys, F.concat(F.array(F.lit("")), values)


def split_record(rec: Column) -> tuple[Column, Column, Column]:
    """-> (header_part, sql_text, context_text), per ParseLogRecord
    (parser.go:50-66), as inline expressions of ``rec``."""
    n = F.length(rec)
    sql_idx, header_part, quote, rest = _locate(rec)
    raw_sql, after_sql = _sql_pick(quote, rest, _sql_scan(rest))
    ctx_idx, ctx_tail = _context_tail(_context_source(rec, sql_idx, after_sql))
    return (
        header_part,
        _sql_text(n, sql_idx, raw_sql),
        _context_text(n, sql_idx, ctx_idx, ctx_tail),
    )


def header_fields(header_part: Column) -> tuple[Column, Column]:
    """-> (keys, values) of the header's key=value parts, both in REVERSE
    order (``_header_valid``, ``_header_kv``).  ``values`` leads with one
    extra '' that ``header_value`` reads for a missing key."""
    return _header_kv(_header_valid(F.split(header_part, ",")))


def header_value(fields: tuple[Column, Column], go_key: str) -> Column:
    """Header value of ``go_key`` or '' (parser.go:91-96) from
    ``header_fields``.  The keys are reversed, so the first hit is the
    LAST duplicate, the one a Go map overwrite keeps (parser.go:84).
    array_position is 0 on a miss, and the +1 that steps over the leading
    '' makes a miss read it: element_at raises on index 0."""
    keys, values = fields
    idx = (F.array_position(keys, go_key) + 1).cast("int")
    return F.coalesce(F.element_at(values, idx), F.lit(""))


# the Go keys of the 18 header-valued LogEntry fields, in _entry_cols order
_HEADER_KEYS = (
    "level", "process", "p:processName", "OSThread", "t:clientID",
    "t:applicationName", "t:computerName", "t:connectID", "SessionID", "Usr",
    "DBMS", "DataBase", "Trans", "dbpid", "Rows", "RowsAffected", "Event", "File",
)


def _entry_cols(
    hv: dict[str, Column], parts: Column, fn: Column, sql_text: Column, context_text: Column
) -> list[Column]:
    """The 24 LogEntry output expressions (models.go:8-34).  ``hv`` maps
    each of ``_HEADER_KEYS`` to its header value; ``parts`` = the header's
    comma parts, whose positional field ``pos(i)`` is trimmed or '' (Go
    guards each with a len(parts) check, parser.go:71-77 ->
    try_element_at, missing -> '')."""

    def pos(i: int) -> Column:
        return F.coalesce(F.trim(F.try_element_at(parts, F.lit(i))), F.lit(""))

    return [
        fn.alias("Timestamp"),  # filename (tail.go:77)
        pos(1).alias("LogTimestamp"),
        pos(2).alias("Component"),
        parse_uint(pos(3), _U8_MAX).cast("smallint").alias("Severity"),
        hv["level"].alias("Level"),
        hv["process"].alias("Process"),
        hv["p:processName"].alias("ProcessName"),
        parse_uint(hv["OSThread"], _U32_MAX).alias("OSThread"),
        parse_uint(hv["t:clientID"], _U32_MAX).alias("ClientID"),
        hv["t:applicationName"].alias("ApplicationName"),
        hv["t:computerName"].alias("ComputerName"),
        parse_uint(hv["t:connectID"], _U32_MAX).alias("ConnectID"),
        # ParseUint 64-bit; overflow saturates to long max (parse_uint)
        parse_uint(hv["SessionID"], (1 << 63) - 1).alias("SessionID"),
        hv["Usr"].alias("User"),
        hv["DBMS"].alias("DBMS"),
        hv["DataBase"].alias("Database"),
        parse_uint(hv["Trans"], _U32_MAX).alias("Trans"),
        parse_uint(hv["dbpid"], _U32_MAX).alias("DBPID"),
        sql_text.alias("SQL"),
        parse_int32(hv["Rows"]).alias("Rows"),
        parse_int32(hv["RowsAffected"]).alias("RowsAffected"),
        context_text.alias("Context"),
        hv["Event"].alias("EventType"),
        hv["File"].alias("File"),
        F.current_timestamp().alias("InsertedAt"),
    ]


def _lp(name: str) -> Column:
    """An intermediate of the stacked parse.  The __lp_ prefix keeps a
    passthrough column from colliding with it."""
    return F.col("__lp_" + name)


def parse_records(
    df: DataFrame,
    record_col: str = "record",
    filename_col: str = "filename",
    split_stages: bool | None = None,
) -> DataFrame:
    """records -> 24-field LogEntry DataFrame (models.go:8-34).

    Column types follow SURVEY.md §1.3 (unsigned Go ints -> long;
    InsertedAt = current_timestamp(), parser.go:42).

    The parse is a stack of projections, each computing one layer of
    ``__lp_`` intermediates once from the previous layer's columns
    (SCALING.md §7): (1) record length, ``Sql=`` index, header part,
    quote char, SQL tail; (2) the SQL scan of each quote kind, run only
    for that kind, and the header's comma parts; (3) SQL text, Context
    source, valid header parts; (4) Context tail, header keys and values;
    (5) Context text and the 18 header strings; (6) the 24 typed outputs.
    CollapseProject keeps a layer when the next one references one of its
    non-cheap columns more than once, which every layer here does.  Only
    layers 3 and 4 hold higher-order functions, which run outside
    whole-stage codegen; the rest, the 24-column projection included,
    are generated code.  Inlined, each output would carry its own copy of
    the record split, the SQL scan and the header arrays.

    ``split_stages`` adds one round-robin exchange before the last
    layer; both shapes give identical rows.  ``None`` picks it for a
    batch ``df`` and not for a streaming one, which would pay the
    exchange on every micro-batch (SCALING.md §10.7).  InsertedAt's
    timestamp is folded into the generated code as a literal, so the
    pump drops it before the sink to compile its classes once per process
    (``build_techlog_stream``; tests/test_codegen_reuse.py).
    """
    keep = [c for c in df.columns if c not in (record_col, filename_col)]
    if split_stages is None:
        split_stages = not df.isStreaming

    def layer(frame: DataFrame, carry: str, **new: Column) -> DataFrame:
        return frame.select(
            *keep, *(_lp(c) for c in carry.split()), *(v.alias("__lp_" + k) for k, v in new.items())
        )

    rec = F.col(record_col)
    sql_idx, header_part, quote, rest = _locate(rec)
    df = layer(
        df, "", fn=F.col(filename_col), rec=rec, n=F.length(rec),
        sql_idx=sql_idx, header=header_part, quote=quote, rest=rest,
    )
    scan = {}
    for i, (q, (closed, raw)) in enumerate(_sql_scan(_lp("rest")).items()):
        # guarded by the quote kind, so a record runs only its own
        # kind's regexes
        is_q = _lp("quote") == q
        scan[f"closed{i}"] = is_q & closed
        scan[f"raw{i}"] = F.when(is_q, raw).otherwise(F.lit(""))
    df = layer(
        df, "fn rec n sql_idx quote rest", parts=F.split(_lp("header"), ","), **scan
    )
    raw_sql, after_sql = _sql_pick(
        _lp("quote"), _lp("rest"),
        {q: (_lp(f"closed{i}"), _lp(f"raw{i}")) for i, q in enumerate(_QUOTES)},
    )
    df = layer(
        df, "fn n sql_idx parts",
        sql=_sql_text(_lp("n"), _lp("sql_idx"), raw_sql),
        ctx_source=_context_source(_lp("rec"), _lp("sql_idx"), after_sql),
        valid=_header_valid(_lp("parts")),
    )
    ctx_idx, ctx_tail = _context_tail(_lp("ctx_source"))
    keys, values = _header_kv(_lp("valid"))
    df = layer(
        df, "fn n sql_idx parts sql",
        ctx_idx=ctx_idx, ctx_tail=ctx_tail, keys=keys, values=values,
    )
    df = layer(
        df, "fn parts sql",
        ctx=_context_text(_lp("n"), _lp("sql_idx"), _lp("ctx_idx"), _lp("ctx_tail")),
        **{f"h{i}": header_value((_lp("keys"), _lp("values")), k) for i, k in enumerate(_HEADER_KEYS)},
    )
    if split_stages:
        try:
            par = df.sparkSession.sparkContext.defaultParallelism
        except Exception:  # Connect sessions expose no sparkContext
            # fall back to the session's shuffle width, not a literal: a
            # hardcoded width would underpartition the parse stage on a
            # large cluster driven through Connect
            par = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
        df = df.repartition(par)
    hv = {k: _lp(f"h{i}") for i, k in enumerate(_HEADER_KEYS)}
    return df.select(*keep, *_entry_cols(hv, _lp("parts"), _lp("fn"), _lp("sql"), _lp("ctx")))
