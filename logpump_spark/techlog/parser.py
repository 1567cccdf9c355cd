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

Everything stays in whole-stage codegen, and no session conf is touched:
Go's last-duplicate-wins map overwrite (parser.go:84) is expressed by
dropping earlier duplicates from the entries array before
map_from_entries, instead of mutating spark.sql.mapKeyDedupPolicy on a
possibly-shared session.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_U8_MAX = 255
_U32_MAX = 4_294_967_295
_I32_MIN, _I32_MAX = -2_147_483_648, 2_147_483_647

# keys projected out of the header map (parser.go:17-43); everything else
# is silently dropped, missing keys default to '' (parser.go:91-96)
HEADER_KEYS = {
    "Level": "level",
    "Process": "process",
    "ProcessName": "p:processName",
    "OSThread": "OSThread",
    "ClientID": "t:clientID",
    "ApplicationName": "t:applicationName",
    "ComputerName": "t:computerName",
    "ConnectID": "t:connectID",
    "SessionID": "SessionID",
    "User": "Usr",
    "DBMS": "DBMS",
    "Database": "DataBase",
    "Trans": "Trans",
    "DBPID": "dbpid",
    "EventType": "Event",
    "File": "File",
}


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


def header_map(header_part: Column) -> Column:
    """key=value pairs from comma parts 3.. (parser.go:80-86): key
    space-trimmed, value trimmed of spaces and single quotes, first '='
    splits, '=' at position 0 skipped, last duplicate wins."""
    parts = F.split(header_part, ",")
    kv = F.slice(parts, 4, F.greatest(F.size(parts) - 3, F.lit(0)))
    # Go: eq := strings.Index(part, "="); eq > 0  => at least one char
    # before the '=' (1-based instr > 1)
    valid = F.filter(kv, lambda p: F.instr(p, "=") > 1)
    entries = F.transform(
        valid,
        lambda p: F.struct(
            F.trim(p.substr(F.lit(1), F.instr(p, "=") - 1)).alias("key"),
            F.regexp_replace(
                F.regexp_replace(
                    p.substr(F.instr(p, "=") + 1, F.length(p)),
                    r"^[ ']+",
                    "",
                ),
                r"[ ']+$",
                "",
            ).alias("value"),
        ),
    )
    # Go map assignment overwrites on duplicate keys (parser.go:84):
    # keep only the LAST occurrence of each key.  Done in-expression (an
    # entry survives iff no later entry shares its key) so the default
    # EXCEPTION dedup policy never fires and no session conf is mutated.
    # O(k^2) over the ~16 header keys of one record — stays in codegen.
    last_wins = F.filter(
        entries,
        lambda e, i: ~F.exists(
            F.slice(entries, i + 2, F.size(entries)),
            lambda later: later["key"] == e["key"],
        ),
    )
    return F.map_from_entries(last_wins)


def _entry_cols(hv, pos, fn: Column, sql_text: Column, context_text: Column) -> list[Column]:
    """The 24 LogEntry output expressions (models.go:8-34) over accessor
    callables, so the fused and split projection shapes share one
    definition.  ``hv(go_key)`` = header value or '' (parser.go:91-96);
    ``pos(i)`` = trimmed positional field or '' (Go guards each with a
    len(parts) check, parser.go:71-77 -> try_element_at, missing -> '')."""
    return [
        fn.alias("Timestamp"),  # filename (tail.go:77)
        pos(1).alias("LogTimestamp"),
        pos(2).alias("Component"),
        parse_uint(pos(3), _U8_MAX).cast("smallint").alias("Severity"),
        hv("level").alias("Level"),
        hv("process").alias("Process"),
        hv("p:processName").alias("ProcessName"),
        parse_uint(hv("OSThread"), _U32_MAX).alias("OSThread"),
        parse_uint(hv("t:clientID"), _U32_MAX).alias("ClientID"),
        hv("t:applicationName").alias("ApplicationName"),
        hv("t:computerName").alias("ComputerName"),
        parse_uint(hv("t:connectID"), _U32_MAX).alias("ConnectID"),
        # ParseUint 64-bit; long covers 1C's realistic range, overflow -> 0
        parse_uint(hv("SessionID"), (1 << 63) - 1).alias("SessionID"),
        hv("Usr").alias("User"),
        hv("DBMS").alias("DBMS"),
        hv("DataBase").alias("Database"),
        parse_uint(hv("Trans"), _U32_MAX).alias("Trans"),
        parse_uint(hv("dbpid"), _U32_MAX).alias("DBPID"),
        sql_text.alias("SQL"),
        parse_int32(hv("Rows")).alias("Rows"),
        parse_int32(hv("RowsAffected")).alias("RowsAffected"),
        context_text.alias("Context"),
        hv("Event").alias("EventType"),
        hv("File").alias("File"),
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
    rows.  Split puts the shared intermediates (header map, positional
    parts, SQL tail, Context tail) behind one round-robin exchange, so
    the projection compiles as two half-size codegen units and avoids
    the parse-plane C2 compile storm (BASELINE.md).  Fused is one
    projection with no exchange.  ``None`` picks split for a batch
    ``df`` and fused for a streaming one: a long-lived pump pays the
    storm once per process, but the exchange on every micro-batch
    (SCALING.md §10.3-10.4).
    """
    rec = F.col(record_col)
    header_part, sql_text, context_text = split_record(rec)
    parts = F.split(header_part, ",")
    m = header_map(header_part)
    keep = [c for c in df.columns if c not in (record_col, filename_col)]
    if split_stages is None:
        split_stages = not df.isStreaming
    if not split_stages:
        def hv(go_key: str) -> Column:
            return F.coalesce(F.element_at(m, go_key), F.lit(""))

        def pos(i: int) -> Column:
            return F.coalesce(F.trim(F.try_element_at(parts, F.lit(i))), F.lit(""))

        return df.select(
            *keep, *_entry_cols(hv, pos, F.col(filename_col), sql_text, context_text)
        )

    try:
        par = df.sparkSession.sparkContext.defaultParallelism
    except Exception:  # Connect sessions expose no sparkContext
        # fall back to the session's shuffle width, not a literal — a
        # hardcoded 32 would underpartition the parse stage on a large
        # cluster driven through Connect (ADVICE r14)
        par = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
    # __lp_-prefixed intermediates so a passthrough column in `keep`
    # cannot collide and turn into an ambiguous-reference
    # AnalysisException that only the split shape would hit (ADVICE r14)
    _fn, _m, _p, _sql, _ctx = (
        "__lp_parse_fn",
        "__lp_parse_m",
        "__lp_parse_p",
        "__lp_parse_sql",
        "__lp_parse_ctx",
    )
    mid = df.select(
        *keep,
        F.col(filename_col).alias(_fn),
        m.alias(_m),
        parts.alias(_p),
        sql_text.alias(_sql),
        context_text.alias(_ctx),
    ).repartition(par)

    def hv(go_key: str) -> Column:
        return F.coalesce(F.element_at(F.col(_m), go_key), F.lit(""))

    def pos(i: int) -> Column:
        return F.coalesce(F.trim(F.try_element_at(F.col(_p), F.lit(i))), F.lit(""))

    return mid.select(
        *keep,
        *_entry_cols(hv, pos, F.col(_fn), F.col(_sql), F.col(_ctx)),
    )
