"""Byte-level assertion of the ClickHouse INSERT path against a stdlib
HTTP mock — the closest an offline sandbox gets to the reference's live
bulk INSERT (internal/clickhouseclient/clickhouse.go:63-128).  Fails if
the 16-column INSERT list, the TSV row encoding, or the auth/database
headers ever drift."""

from __future__ import annotations

import datetime as dt
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

from logpump_spark.config import ClickHouseConfig
from logpump_spark.sources.clickhouse import (
    TECHLOG_INSERT_COLUMNS,
    insert_statement,
    techlog_tsv_lines,
    write_techlog_http,
)

_RECEIVED: list[dict] = []
_FAIL_NEXT = [0]  # the next N POSTs are answered 500 and not recorded


class _Handler(BaseHTTPRequestHandler):
    def do_POST(self):  # noqa: N802 — stdlib handler contract
        length = int(self.headers.get("Content-Length", 0))
        body = self.rfile.read(length)
        if _FAIL_NEXT[0] > 0:
            _FAIL_NEXT[0] -= 1
            self.send_response(500)
            self.end_headers()
            return
        _RECEIVED.append(
            {
                "query": urllib.parse.parse_qs(
                    urllib.parse.urlparse(self.path).query
                ),
                "body": body,
                "user": self.headers.get("X-ClickHouse-User"),
                "key": self.headers.get("X-ClickHouse-Key"),
            }
        )
        self.send_response(200)
        self.end_headers()
        self.wfile.write(b"Ok.\n")

    def log_message(self, *a):  # keep pytest output clean
        pass


@pytest.fixture()
def mock_server():
    _RECEIVED.clear()
    _FAIL_NEXT[0] = 0
    srv = HTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _techlog_rows(spark):
    rows = [
        (
            dt.date(2025, 5, 26), dt.datetime(2025, 5, 26, 7, 52, 11, 123456),
            "DBMSSQL", 4521, "Admin", "prod_base", 77, 12, 3456,
            None, None, 'SELECT 1 WHERE x = "a\tb"', "10", "0",
            "Ctx\nline2", "rphost",
        ),
        (
            dt.date(2025, 5, 27), dt.datetime(2025, 5, 27, 8, 0, 0, 1),
            "EXCP", 0, None, "dev", 0, 0, 0,
            None, None, None, None, None, "back\\slash", "ragent",
        ),
    ]
    schema = (
        "EventDate date, EventTime timestamp, EventType string, Duration long, "
        "User string, InfoBase string, SessionID long, ClientID long, "
        "ConnectionID long, ExceptionType string, ErrorText string, "
        "SQLText string, Rows string, RowsAffected string, Context string, "
        "ProcessName string"
    )
    return spark.createDataFrame(rows, schema)


def test_insert_statement_pins_16_column_order():
    assert len(TECHLOG_INSERT_COLUMNS) == 16
    stmt = insert_statement("tech_logs")
    assert stmt == (
        "INSERT INTO tech_logs (EventDate, EventTime, EventType, Duration, "
        "User, InfoBase, SessionID, ClientID, ConnectionID, ExceptionType, "
        "ErrorText, SQLText, Rows, RowsAffected, Context, ProcessName) "
        "FORMAT TabSeparated"
    )


def test_tsv_serialization_is_byte_exact(spark):
    lines = sorted(
        r["line"] for r in techlog_tsv_lines(_techlog_rows(spark)).collect()
    )
    assert lines == [
        "2025-05-26\t2025-05-26 07:52:11.123456\tDBMSSQL\t4521\tAdmin\t"
        "prod_base\t77\t12\t3456\t\\N\t\\N\t"
        'SELECT 1 WHERE x = "a\\tb"\t10\t0\tCtx\\nline2\trphost',
        "2025-05-27\t2025-05-27 08:00:00.000001\tEXCP\t0\t\\N\tdev\t0\t0\t0\t"
        "\\N\t\\N\t\\N\t\\N\t\\N\tback\\\\slash\tragent",
    ]


def test_http_insert_round_trip(spark, mock_server):
    cfg = ClickHouseConfig(
        address=mock_server, username="u1", password="s3cret",
        database="logs_db", protocol="http",
    )
    df = _techlog_rows(spark).repartition(2)
    write_techlog_http(df, cfg, "tech_logs")

    assert _RECEIVED, "mock server saw no INSERT"
    got_lines = []
    for r in _RECEIVED:
        assert r["query"]["query"] == [insert_statement("tech_logs")]
        assert r["query"]["database"] == ["logs_db"]
        assert r["user"] == "u1" and r["key"] == "s3cret"
        body = r["body"].decode("utf-8")
        assert body.endswith("\n")
        got_lines += body.rstrip("\n").split("\n")
    expected = sorted(
        r["line"] for r in techlog_tsv_lines(_techlog_rows(spark)).collect()
    )
    assert sorted(got_lines) == expected


def test_streaming_job_inserts_over_http(spark, mock_server, tmp_path):
    """The reference's full data path, end-to-end: log file -> stream ->
    parse -> route -> per-table bulk INSERT over the ClickHouse wire
    format — against the mock server, with the routed table names and
    row payloads asserted."""
    import os

    from logpump_spark.streaming import build_techlog_stream
    from logpump_spark.streaming.job import run_stream

    d = {k: str(tmp_path / k) for k in ("in", "out", "ckpt")}
    os.makedirs(d["in"], exist_ok=True)
    with open(f"{d['in']}/25052607.log", "w", encoding="utf-8") as f:
        f.write(
            "07:15.123456-2500,DBMSSQL,0,Usr=ivanov,DataBase=erp,"
            "SessionID=7,Sql='SELECT 1'\n"
            "08:02.000001-10,EXCP,3,Usr=petrov,Event=Boom\n"
        )

    cfg = ClickHouseConfig(
        address=mock_server, username="u", password="p",
        database="logs", protocol="http",
    )
    writer = build_techlog_stream(
        spark,
        d["in"],
        d["out"],
        d["ckpt"],
        table_map={"EXCP": "errors", "DBMSSQL": "sql_log"},
        available_now=True,
        clickhouse_http=cfg,
    )
    run_stream(writer, timeout_seconds=120)

    assert _RECEIVED, "no INSERT reached the mock ClickHouse"
    by_table: dict[str, list[str]] = {}
    for r in _RECEIVED:
        stmt = r["query"]["query"][0]
        table = stmt.split("INSERT INTO ", 1)[1].split(" ", 1)[0]
        by_table.setdefault(table, []).extend(
            r["body"].decode("utf-8").rstrip("\n").split("\n")
        )
    assert set(by_table) == {"errors", "sql_log"}
    (sql_row,) = by_table["sql_log"]
    cells = sql_row.split("\t")
    assert cells[0] == "2025-05-26"            # EventDate from filename
    assert cells[2] == "DBMSSQL"               # EventType routed
    assert cells[4] == "ivanov" and cells[11] == "SELECT 1"
    (err_row,) = by_table["errors"]
    assert err_row.split("\t")[2] == "EXCP"


# ---------------------------------------------------------------------------
# Round 7: decode round-trip.  The byte assertions above pin the encoder
# output; this proves the escaping is REVERSIBLE — a ClickHouse-side TSV
# reader recovers exactly the source rows, even when one row carries a
# tab, newline, carriage return, backslash, NULL, and a microsecond
# timestamp simultaneously.  The decoder below implements the TabSeparated
# input rules ClickHouse documents (backslash escapes, \N for NULL) as an
# independent re-implementation — if encoder and decoder disagreed on any
# rule, the typed comparison would fail.


def _untsv_cell(cell: str):
    if cell == "\\N":
        return None
    out = []
    i = 0
    esc = {"t": "\t", "n": "\n", "r": "\r", "\\": "\\"}
    while i < len(cell):
        if cell[i] == "\\" and i + 1 < len(cell) and cell[i + 1] in esc:
            out.append(esc[cell[i + 1]])
            i += 2
        else:
            out.append(cell[i])
            i += 1
    return "".join(out)


def _decode_tsv_body(body: str) -> list[tuple]:
    """Parse a TabSeparated INSERT body back into typed TechLogRow
    tuples.  Splitting on raw \n / \t BEFORE unescaping is the point:
    if any cell leaked an unescaped separator, the per-line cell count
    would break and the test would fail on the assert below."""
    rows = []
    for line in body.rstrip("\n").split("\n"):
        cells = line.split("\t")
        assert len(cells) == len(TECHLOG_INSERT_COLUMNS), cells
        vals = [_untsv_cell(c) for c in cells]
        typed = []
        for name, v in zip(TECHLOG_INSERT_COLUMNS, vals):
            if v is None:
                typed.append(None)
            elif name == "EventDate":
                typed.append(dt.date.fromisoformat(v))
            elif name == "EventTime":
                typed.append(dt.datetime.strptime(v, "%Y-%m-%d %H:%M:%S.%f"))
            elif name in ("Duration", "SessionID", "ClientID", "ConnectionID"):
                typed.append(int(v))
            else:
                typed.append(v)
        rows.append(tuple(typed))
    return rows


def _everything_at_once_rows(spark):
    """One row exercising every escape hazard in the same record."""
    rows = [
        (
            dt.date(2025, 12, 31), dt.datetime(2025, 12, 31, 23, 59, 59, 999999),
            "TLOCK", 1, "tab\there", "nl\nthere", 1, 2, 3,
            None, "cr\rhere", "mix\t\n\\\rall", None, "7",
            "trailing backslash\\", "rphost",
        ),
        (
            dt.date(1969, 12, 30), dt.datetime(1969, 12, 30, 0, 0, 0, 1),
            "EXCP", 0, None, None, 0, 0, 0,
            "E\\N", None, None, None, None, "\\N literal, not null", "ragent",
        ),
    ]
    return spark.createDataFrame(rows, _techlog_rows(spark).schema)


def test_http_insert_decodes_back_to_source_rows(spark, mock_server):
    cfg = ClickHouseConfig(
        address=mock_server, username="u", password="p",
        database="logs", protocol="http",
    )
    src = _techlog_rows(spark).union(_everything_at_once_rows(spark))
    write_techlog_http(src.repartition(3), cfg, "tech_logs")

    decoded = []
    for r in _RECEIVED:
        decoded += _decode_tsv_body(r["body"].decode("utf-8"))

    expected = [
        tuple(row[c] for c in TECHLOG_INSERT_COLUMNS)
        for row in src.collect()
    ]
    assert len(decoded) == len(expected)
    assert sorted(decoded, key=repr) == sorted(expected, key=repr)


def test_tsv_roundtrip_fuzz_random_hazard_strings(spark):
    """Hypothesis fuzz of the TabSeparated wire format (r10): random
    unicode strings — biased toward the escape hazards (tab, newline,
    CR, backslash runs, literal "\\N", NULs, emoji/CJK) — placed in
    every string column, encoded by the production codegen projection
    (techlog_tsv_lines) and decoded by the raw-split-then-unescape
    parser above.  Any leaked separator breaks the per-line cell-count
    assert; any escape asymmetry breaks value equality."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from logpump_spark.sources.clickhouse import techlog_tsv_lines

    hazard = st.sampled_from(
        ["\t", "\n", "\r", "\\", "\\\\", "\\N", "\\n", "N", "\x00", "✓𝄞",
         "汉字", "tab\there", "trailing\\"]
    )
    cell = st.one_of(
        st.none(),
        st.text(max_size=12),
        st.builds(lambda a, b, c: a + b + c, hazard, st.text(max_size=6), hazard),
    )

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(st.lists(st.tuples(*[cell] * 10), min_size=1, max_size=8))
    def run(string_rows):
        rows = [
            (
                dt.date(2025, 1, 2),
                dt.datetime(2025, 1, 2, 3, 4, 5, 678901),
                s[0], 7, s[1], s[2], 1, 2, 3, s[3], s[4], s[5], s[6], s[7],
                s[8], s[9],
            )
            for s in string_rows
        ]
        df = spark.createDataFrame(rows, _techlog_rows(spark).schema)
        body = "".join(
            r.line + "\n" for r in techlog_tsv_lines(df).collect()
        )
        decoded = _decode_tsv_body(body) if body else []
        expected = [
            tuple(row[c] for c in TECHLOG_INSERT_COLUMNS) for row in df.collect()
        ]
        assert sorted(decoded, key=repr) == sorted(expected, key=repr)

    run()


# ---------------------------------------------------------------------------
# Routed INSERTs: every table of a frame goes out from one Spark job, each
# partition keeping one buffer per table under a shared byte cap.

_ROUTES = {"EXCP": "errors", "DBMSSQL": "sql_log"}  # CALL -> default


def _posts_by_table() -> list[tuple[str, list[str]]]:
    out = []
    for r in _RECEIVED:
        stmt = r["query"]["query"][0]
        table = stmt.split("INSERT INTO ", 1)[1].split(" ", 1)[0]
        assert stmt == insert_statement(table)
        out.append((table, r["body"].decode("utf-8").rstrip("\n").split("\n")))
    return out


def test_mixed_table_partition_posts_per_table_under_cap(spark, mock_server, monkeypatch):
    import logpump_spark.sources.clickhouse as ch
    from logpump_spark.streaming.job import table_routing_column

    cfg = ClickHouseConfig(
        address=mock_server, username="u", password="p",
        database="logs", protocol="http",
    )
    template = _techlog_rows(spark).collect()[0]
    rows = [
        template[:2] + (etype, 1000 + i) + template[4:]
        for i, etype in enumerate(["DBMSSQL", "EXCP", "CALL"] * 6)
    ]
    df = spark.createDataFrame(rows, _techlog_rows(spark).schema).coalesce(1)
    assert df.rdd.getNumPartitions() == 1
    line_bytes = max(len(r.line) + 1 for r in techlog_tsv_lines(df).collect())
    monkeypatch.setattr(ch, "MAX_POST_BYTES", 4 * line_bytes)
    write_techlog_http(df, cfg, table_routing_column(_ROUTES, "tech_log"))

    posts = _posts_by_table()
    got: list[str] = []
    for table, lines in posts:
        # each POST names one table and carries only that table's rows
        assert {_ROUTES.get(ln.split("\t")[2], "tech_log") for ln in lines} == {table}
        got += lines
    per_table = [t for t, _ in posts]
    assert set(per_table) == {"errors", "sql_log", "tech_log"}
    assert max(per_table.count(t) for t in set(per_table)) > 1
    # every row exactly once
    assert sorted(got) == sorted(r.line for r in techlog_tsv_lines(df).collect())


def test_stream_batch_with_http_sink_runs_three_jobs(spark, mock_server, tmp_path):
    """One micro-batch routed to three tables (the default among them),
    with the ClickHouse sink and a metrics listener attached, runs
    exactly three Spark jobs: parquet write, POST, dead-letter write."""
    import os
    import time
    import uuid

    from logpump_spark.streaming import build_techlog_stream
    from logpump_spark.streaming.job import run_stream
    from logpump_spark.streaming.metrics import TechLogMetricsListener

    sc = spark.sparkContext

    def last_job_id() -> int:
        # job ids are sequential: two markers bracket the jobs between them
        marker = f"marker-{uuid.uuid4().hex}"
        sc.setJobGroup(marker, marker)
        try:
            sc.parallelize([0], 1).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return max(sc.statusTracker().getJobIdsForGroup(marker))

    d = {k: str(tmp_path / k) for k in ("in", "out", "ckpt")}
    os.makedirs(d["in"])
    with open(f"{d['in']}/25052607.log", "w", encoding="utf-8") as f:
        f.write(
            "07:15.123456-2500,DBMSSQL,0,Usr=ivanov,Sql='SELECT 1'\n"
            "08:02.000001-10,EXCP,3,Usr=petrov,Event=Boom\n"
            "09:30.999999-42,CALL,1,Usr=sidorov\n"
        )
    cfg = ClickHouseConfig(
        address=mock_server, username="u", password="p",
        database="logs", protocol="http",
    )
    listener = TechLogMetricsListener().attach(spark)
    try:
        writer = build_techlog_stream(
            spark, d["in"], d["out"], d["ckpt"], table_map=_ROUTES,
            available_now=True, clickhouse_http=cfg,
        )
        j0 = last_job_id()
        run_stream(writer, timeout_seconds=120)
        n_jobs = last_job_id() - j0 - 1
        deadline = time.time() + 30
        while time.time() < deadline and not listener.batches:
            time.sleep(0.2)
    finally:
        listener.detach(spark)

    batches = [b for b in listener.batches if b["input_rows"] > 0]
    assert len(batches) == 1 and batches[0]["rejects"] == 0
    assert {t for t, _ in _posts_by_table()} == {"errors", "sql_log", "tech_log"}
    assert n_jobs == 3


def test_failed_post_fails_the_batch_and_the_replay_lands_it(spark, mock_server, tmp_path):
    """The sink's three writes run side by side.  A 500 on the first POST
    fails the micro-batch (whatever the other two writes did), and a
    second drain on the same checkpoint replays it: every row lands
    exactly once in parquet, every reject once in ``_rejects``, and every
    row at least once at the mock (the ClickHouse path is at-least-once)."""
    import os

    from logpump_spark.streaming import build_techlog_stream
    from logpump_spark.streaming.job import run_stream

    d = {k: str(tmp_path / k) for k in ("in", "out", "ckpt")}
    os.makedirs(d["in"])
    with open(f"{d['in']}/25052607.log", "w", encoding="utf-8") as f:
        f.write(
            "07:15.123456-2500,DBMSSQL,0,Usr=ivanov,Sql='SELECT 1'\n"
            "08:02.000001-10,EXCP,3,Usr=petrov,Event=Boom\n"
            "09:30.999999-42,CALL,1,Usr=sidorov\n"
        )
    with open(f"{d['in']}/bad.log", "w", encoding="utf-8") as f:
        f.write("10:00.000001-1,CALL,1,Usr=nodate\n")  # no date: dead letter
    cfg = ClickHouseConfig(
        address=mock_server, username="u", password="p",
        database="logs", protocol="http",
    )

    def drain() -> None:
        run_stream(build_techlog_stream(
            spark, d["in"], d["out"], d["ckpt"], table_map=_ROUTES,
            available_now=True, clickhouse_http=cfg,
        ), timeout_seconds=120)

    _FAIL_NEXT[0] = 1
    with pytest.raises(Exception):
        drain()
    assert _FAIL_NEXT[0] == 0
    drain()

    landed = spark.read.parquet(d["out"]).select("_table", "EventType", "User").collect()
    assert sorted(map(tuple, landed)) == [
        ("errors", "EXCP", "petrov"), ("sql_log", "DBMSSQL", "ivanov"),
        ("tech_log", "CALL", "sidorov"),
    ]
    rejects = spark.read.parquet(f"{d['out']}/_rejects")
    assert [r.reject_reason for r in rejects.collect()] == ["bad_filename"]
    at_mock = {
        (t, ln.split("\t")[2], ln.split("\t")[4]) for t, lines in _posts_by_table() for ln in lines
    }
    assert at_mock >= {tuple(r) for r in landed}
