"""ClickHouse sink over the HTTP interface (SURVEY.md §2.D R4).

The reference bulk-INSERTs columnar native-protocol blocks with LZ4
(internal/clickhouseclient/clickhouse.go:34-60, :79-125).  This writer
uses ClickHouse's public HTTP interface instead, which needs no jar:

    POST /?query=INSERT INTO t (cols...) FORMAT TabSeparated

with TSV rows as the body.  The 16-column INSERT list the reference
builds (clickhouse.go:80-83) is byte-tested offline against a stdlib
http.server mock (tests/test_clickhouse_http.py).

Scale shape: serialization is ONE codegen'd projection (escape +
concat_ws); the POST loop then iterates the serialized lines in Python,
one buffer per routed table, so every table of a micro-batch is inserted
by a single Spark job.  Each executor partition POSTs its own batches, so
insert parallelism = partition count, and a partition failure retries
with its Spark task.  TSV escaping follows the TabSeparated spec:
\\ -> \\\\, tab -> \\t, newline -> \\n, CR -> \\r, NULL -> \\N; Date as
yyyy-MM-dd; DateTime64(6) with 6 fraction digits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import ClickHouseConfig
from ..techlog.transform import TECHLOG_COLUMNS as TECHLOG_INSERT_COLUMNS


def insert_statement(table: str) -> str:
    """The reference's hard-coded 16-column INSERT list, HTTP form."""
    cols = ", ".join(TECHLOG_INSERT_COLUMNS)
    return f"INSERT INTO {table} ({cols}) FORMAT TabSeparated"


def _tsv_cell(name: str, dtype: T.DataType) -> Column:
    c = F.col(name)
    if isinstance(dtype, T.DateType):
        s = F.date_format(c, "yyyy-MM-dd")
    elif isinstance(dtype, T.TimestampType):
        s = F.date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")
    elif isinstance(dtype, T.StringType):
        # order matters: escape backslashes before introducing new ones
        s = c
        for raw, esc in (("\\", "\\\\"), ("\t", "\\t"), ("\n", "\\n"), ("\r", "\\r")):
            s = F.replace(s, F.lit(raw), F.lit(esc))
    else:
        s = c.cast("string")
    return F.coalesce(s, F.lit("\\N"))


def _tsv_line(rows: DataFrame) -> Column:
    dtypes = {f.name: f.dataType for f in rows.schema.fields}
    missing = [c for c in TECHLOG_INSERT_COLUMNS if c not in dtypes]
    if missing:
        raise ValueError(f"TechLogRow columns missing for INSERT: {missing}")
    cells = [_tsv_cell(c, dtypes[c]) for c in TECHLOG_INSERT_COLUMNS]
    return F.concat_ws("\t", *cells)


def techlog_tsv_lines(rows: DataFrame) -> DataFrame:
    """One `line` string column per TechLogRow, in INSERT column order —
    a single whole-stage-codegen projection."""
    return rows.select(_tsv_line(rows).alias("line"))


def write_techlog_http(
    rows: DataFrame,
    cfg: ClickHouseConfig,
    table: str | Column,
    insert_timeout_s: int = 60,
    max_post_bytes: int = 32 * 1024 * 1024,
) -> None:
    """Append TechLogRow rows via the ClickHouse HTTP interface, in ONE
    Spark job.  ``table`` is a table name, or a Column naming each row's
    table (``streaming.job.table_routing_column``): every table of the
    frame is then inserted by the same job, the reference's per-group
    INSERT loop (clickhouse.go:63-128) without a job per group.

    Each partition serializes its rows once and keeps one buffer per
    table; a buffer becomes one POST (reference semantics: 60 s insert
    timeout, clickhouse.go:77; batch-per-send, :79-125).  When the sum
    of a partition's buffers reaches ``max_post_bytes`` its largest
    buffer is sent early, so executor-Python memory stays bounded by one
    cap regardless of partition size or table count — a 500 MB partition
    becomes ~16 sequential 32 MB INSERTs, each an independent ClickHouse
    insert block.  ``urlopen`` raises ``HTTPError`` on any non-2xx, so a
    failed INSERT fails the Spark task and task retry re-sends (strictly
    stronger than the reference's drop-on-error)."""
    import urllib.parse

    address = cfg.address
    user, password = cfg.username, cfg.password
    database = cfg.database
    table_col = F.lit(table) if isinstance(table, str) else table

    def post_partition(it) -> None:
        import urllib.request

        def send(t: str, chunks: list[bytes]) -> None:
            q = urllib.parse.urlencode({"query": insert_statement(t), "database": database})
            req = urllib.request.Request(
                f"http://{address}/?{q}",
                data=b"".join(chunks),
                headers={
                    "X-ClickHouse-User": user,
                    "X-ClickHouse-Key": password,
                    "Content-Type": "text/tab-separated-values",
                },
                method="POST",
            )
            # raises urllib.error.HTTPError on non-2xx -> task retry
            with urllib.request.urlopen(req, timeout=insert_timeout_s):
                pass

        bufs: dict[str, list[bytes]] = {}
        sizes: dict[str, int] = {}
        total = 0
        for t, line in it:
            b = (line + "\n").encode("utf-8")
            bufs.setdefault(t, []).append(b)
            sizes[t] = sizes.get(t, 0) + len(b)
            total += len(b)
            if total >= max_post_bytes:
                big = max(sizes, key=sizes.get)
                send(big, bufs.pop(big))
                total -= sizes.pop(big)
        for t, chunks in bufs.items():
            send(t, chunks)

    rows.select(table_col.alias("_table"), _tsv_line(rows).alias("line")).foreachPartition(
        post_partition
    )
