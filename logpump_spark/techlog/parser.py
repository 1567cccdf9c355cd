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


def split_record(rec: Column) -> tuple[Column, Column, Column]:
    """-> (header_part, sql_text, context_text), per ParseLogRecord
    (parser.go:50-66)."""
    sql_idx = F.instr(rec, "Sql=")  # first occurrence, 1-based, 0 if absent
    has_sql = sql_idx > 0
    header_part = F.when(has_sql, rec.substr(F.lit(1), sql_idx - 1)).otherwise(rec)

    quote = rec.substr(sql_idx + F.lit(4), F.lit(1))  # '' when at end of record
    rest = rec.substr(sql_idx + F.lit(5), F.length(rec))

    # Escape-aware scan to the closing quote.  The quote delimiter is
    # whatever char follows 'Sql=' (almost always '); supported explicitly
    # for ' and ", anything else falls back to "no closing quote" = rest.
    def _sql_and_after(q: str) -> tuple[Column, Column]:
        qe = "\\" + q
        # "unrolled loop" form [^q\]*(?:\.[^q\]*)* instead of the per-char
        # alternation (?:[^q\]|\.)* — same language, linear-time on Java's
        # backtracking regex engine instead of alternation-per-character
        body = r"[^" + qe + r"\\]*(?:\\.[^" + qe + r"\\]*)*"
        pat = r"(?s)^(" + body + r")" + qe
        # the match is ^-anchored, so the remainder after the closing
        # quote is POSITIONAL: rest = raw + quote + after.  Deriving it
        # by substr instead of a second capture halves the regex runs
        # per record (this scan is the ingest hot path).
        raw = F.regexp_extract(rest, pat, 1)
        after = rest.substr(F.length(raw) + F.lit(2), F.length(rest))
        closed = rest.rlike(pat)
        return (
            F.when(closed, raw).otherwise(rest),
            F.when(closed, after).otherwise(F.lit("")),
        )

    sq_sql, sq_after = _sql_and_after("'")
    dq_sql, dq_after = _sql_and_after('"')
    raw_sql = (
        F.when(quote == "'", sq_sql).when(quote == '"', dq_sql).otherwise(rest)
    )
    after_sql = (
        F.when(quote == "'", sq_after).when(quote == '"', dq_after).otherwise(F.lit(""))
    )

    sql_text = F.when(has_sql & (F.length(rec) >= sql_idx + 4), _scrub_sql(_unescape(raw_sql))).otherwise(F.lit(""))

    # Context comes from the remainder after SQL, or the whole record when
    # there is no Sql= marker (parser.go:53-54, :65)
    ctx_source = F.when(has_sql, after_sql).otherwise(rec)
    ctx_idx = F.instr(ctx_source, ",Context='")
    ctx_tail = ctx_source.substr(ctx_idx + F.lit(10), F.length(ctx_source))
    # to the LAST quote (context_extractor.go:12); none -> whole tail.
    # last-quote position via reverse+instr — one linear pass instead of
    # the greedy (?s)^(.*)' regex (full scan + backtrack per record)
    last_q = F.length(ctx_tail) - F.instr(F.reverse(ctx_tail), "'") + 1
    ctx = F.when(
        ctx_tail.contains("'"), ctx_tail.substr(F.lit(1), last_q - 1)
    ).otherwise(ctx_tail)
    context_text = F.when(ctx_idx > 0, ctx).otherwise(F.lit(""))
    # no-Sql= + empty-after-marker edge: Sql= at very end of record
    context_text = F.when(
        has_sql & (F.length(rec) < sql_idx + 4), F.lit("")
    ).otherwise(context_text)

    return header_part, sql_text, context_text


def header_fields(header_part: Column) -> tuple[Column, Column]:
    """-> (keys, values) of the key=value comma parts 3.. (parser.go:80-86),
    both in REVERSE order: first '=' splits, '=' at position 0 skipped,
    key space-trimmed, value trimmed of spaces and single quotes.
    ``values`` leads with one extra '' that ``header_value`` reads for a
    missing key."""
    parts = F.split(header_part, ",")
    kv = F.slice(parts, 4, F.greatest(F.size(parts) - 3, F.lit(0)))
    # Go: eq := strings.Index(part, "="); eq > 0  => at least one char
    # before the '=' (1-based instr > 1)
    valid = F.reverse(F.filter(kv, lambda p: F.instr(p, "=") > 1))
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


def header_value(fields: tuple[Column, Column], go_key: str) -> Column:
    """Header value of ``go_key`` or '' (parser.go:91-96) from
    ``header_fields``.  The keys are reversed, so the first hit is the
    LAST duplicate, the one a Go map overwrite keeps (parser.go:84).
    array_position is 0 on a miss, and the +1 that steps over the leading
    '' makes a miss read it: element_at raises on index 0."""
    keys, values = fields
    idx = (F.array_position(keys, go_key) + 1).cast("int")
    return F.coalesce(F.element_at(values, idx), F.lit(""))


def _entry_cols(
    hdr: tuple[Column, Column], parts: Column, fn: Column, sql_text: Column, context_text: Column
) -> list[Column]:
    """The 24 LogEntry output expressions (models.go:8-34), shared by the
    fused and split projection shapes.  ``hdr`` = ``header_fields``;
    ``parts`` = the header's comma parts, whose positional field ``pos(i)``
    is trimmed or '' (Go guards each with a len(parts) check,
    parser.go:71-77 -> try_element_at, missing -> '')."""

    def pos(i: int) -> Column:
        return F.coalesce(F.trim(F.try_element_at(parts, F.lit(i))), F.lit(""))

    return [
        fn.alias("Timestamp"),  # filename (tail.go:77)
        pos(1).alias("LogTimestamp"),
        pos(2).alias("Component"),
        parse_uint(pos(3), _U8_MAX).cast("smallint").alias("Severity"),
        header_value(hdr, "level").alias("Level"),
        header_value(hdr, "process").alias("Process"),
        header_value(hdr, "p:processName").alias("ProcessName"),
        parse_uint(header_value(hdr, "OSThread"), _U32_MAX).alias("OSThread"),
        parse_uint(header_value(hdr, "t:clientID"), _U32_MAX).alias("ClientID"),
        header_value(hdr, "t:applicationName").alias("ApplicationName"),
        header_value(hdr, "t:computerName").alias("ComputerName"),
        parse_uint(header_value(hdr, "t:connectID"), _U32_MAX).alias("ConnectID"),
        # ParseUint 64-bit; overflow saturates to long max (parse_uint)
        parse_uint(header_value(hdr, "SessionID"), (1 << 63) - 1).alias("SessionID"),
        header_value(hdr, "Usr").alias("User"),
        header_value(hdr, "DBMS").alias("DBMS"),
        header_value(hdr, "DataBase").alias("Database"),
        parse_uint(header_value(hdr, "Trans"), _U32_MAX).alias("Trans"),
        parse_uint(header_value(hdr, "dbpid"), _U32_MAX).alias("DBPID"),
        sql_text.alias("SQL"),
        parse_int32(header_value(hdr, "Rows")).alias("Rows"),
        parse_int32(header_value(hdr, "RowsAffected")).alias("RowsAffected"),
        context_text.alias("Context"),
        header_value(hdr, "Event").alias("EventType"),
        header_value(hdr, "File").alias("File"),
        F.current_timestamp().alias("InsertedAt"),
    ]


def parse_records(
    df: DataFrame,
    record_col: str = "record",
    filename_col: str = "filename",
    split_stages: bool | None = None,
) -> DataFrame:
    """records -> 24-field LogEntry DataFrame (models.go:8-34).

    Column types follow SURVEY.md §1.3 (unsigned Go ints -> long;
    InsertedAt = current_timestamp(), parser.go:42).

    ``split_stages`` picks the projection shape; both give identical
    rows.  Split puts the shared intermediates (header keys and values,
    positional parts, SQL tail, Context tail) behind one round-robin
    exchange, so the projection compiles as two half-size codegen units
    and avoids the parse-plane C2 compile storm (BASELINE.md).  Fused is
    one projection with no exchange.  ``None`` picks split for a batch
    ``df`` and fused for a streaming one: a long-lived pump pays the
    exchange on every micro-batch, but the storm only when a class is
    compiled (SCALING.md §10.3-10.4).  That is once per process only
    if no per-batch value reaches the generated code: InsertedAt's
    timestamp is folded in as a literal, so the pump drops it before
    the sink (``build_techlog_stream``; tests/test_codegen_reuse.py).
    """
    rec = F.col(record_col)
    header_part, sql_text, context_text = split_record(rec)
    parts = F.split(header_part, ",")
    keys, values = header_fields(header_part)
    keep = [c for c in df.columns if c not in (record_col, filename_col)]
    if split_stages is None:
        split_stages = not df.isStreaming
    if not split_stages:
        return df.select(
            *keep,
            *_entry_cols((keys, values), parts, F.col(filename_col), sql_text, context_text),
        )

    try:
        par = df.sparkSession.sparkContext.defaultParallelism
    except Exception:  # Connect sessions expose no sparkContext
        # fall back to the session's shuffle width, not a literal: a
        # hardcoded width would underpartition the parse stage on a
        # large cluster driven through Connect
        par = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
    # __lp_-prefixed intermediates so a passthrough column in `keep`
    # cannot collide and turn into an ambiguous-reference
    # AnalysisException that only the split shape would hit
    _fn, _k, _v, _p, _sql, _ctx = (
        "__lp_parse_fn",
        "__lp_parse_k",
        "__lp_parse_v",
        "__lp_parse_p",
        "__lp_parse_sql",
        "__lp_parse_ctx",
    )
    mid = df.select(
        *keep,
        F.col(filename_col).alias(_fn),
        keys.alias(_k),
        values.alias(_v),
        parts.alias(_p),
        sql_text.alias(_sql),
        context_text.alias(_ctx),
    ).repartition(par)
    return mid.select(
        *keep,
        *_entry_cols(
            (F.col(_k), F.col(_v)), F.col(_p), F.col(_fn), F.col(_sql), F.col(_ctx)
        ),
    )
