"""Seeded 1C tech-log corpus generator with ground truth.

Every record is generated together with the sink row the pump must
produce from it (the 16 INSERT columns, as strings), or with the
``reject_reason`` the transform must assign to it.  The grammar follows
FIXTURES.md section 2: multi-line quoted SQL and Context, Cyrillic text,
CRLF files, ``Sql=`` backslash escapes with scrubbed date literals, and
silent-zero numeric casts.  Components cover four routed tables plus
unmapped Components that fall through to the default table.

A row's identity is its ``digest``: a hash of its 16 cells.  The mock
ClickHouse and the parquet check compute the same digest from what they
received, so a dropped or duplicated row shows as a multiset mismatch.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import time
from collections import Counter
from dataclasses import dataclass, field

TABLE_MAP = {"DBMSSQL": "sql_log", "EXCP": "errors", "CALL": "calls", "TLOCK": "locks"}
DEFAULT_TABLE = "tech_log"
UNMAPPED = ("CONN", "SCALL")
# weights per record kind; the two malformed kinds are ~1% together
_KINDS = (
    ("DBMSSQL", 30), ("EXCP", 12), ("CALL", 22), ("TLOCK", 14),
    ("CONN", 10), ("SCALL", 11), ("bad_event_time", 0.5), ("no_time_match", 0.5),
)
_USERS = ("ivanov", "petrov", "Сидоров", "Админ", "")
_BASES = ("erp_prod", "zup", "бухгалтерия", "")
_PROCS = ("rphost", "rmngr", "ragent")
_DOCS = ("Документ.Продажа", "Справочник.Номенклатура", "РегистрНакопления.Остатки")


def row_digest(cells) -> str:
    """Identity of one sink row: its 16 cells in INSERT order, NULL as a
    sentinel no string cell can hold."""
    h = hashlib.blake2b(digest_size=10)
    h.update("\x1f".join("\x00N" if c is None else c for c in cells).encode("utf-8"))
    return h.hexdigest()


@dataclass
class Truth:
    """Expected outcome of draining a corpus."""

    rows: dict[str, Counter] = field(default_factory=dict)  # table -> digests
    rejects: Counter = field(default_factory=Counter)  # reason -> count
    files: int = 0
    bytes: int = 0
    records: int = 0

    def add_row(self, table: str, cells: list) -> None:
        self.rows.setdefault(table, Counter())[row_digest(cells)] += 1

    def update(self, other: "Truth") -> None:
        for table, c in other.rows.items():
            self.rows.setdefault(table, Counter()).update(c)
        self.rejects.update(other.rejects)
        self.files += other.files
        self.bytes += other.bytes
        self.records += other.records

    @property
    def n_rows(self) -> int:
        return sum(sum(c.values()) for c in self.rows.values())


def _record(rng: random.Random, kind: str, date: str, hour: int, mmss: str, conn: int):
    """-> (record text, (table, cells) or None, reject reason or None)."""
    dur = rng.randrange(0, 5_000_000)
    if kind == "bad_event_time":
        # a 4-digit fraction still starts a record but fails Go's
        # exactly-six-digit time layout
        return f"{mmss[:-2]}-{dur},CALL,1,Usr=x,t:connectID={conn}", None, "bad_event_time"
    if kind == "no_time_match":
        # the record-start line matches later in the line, so the first
        # field holds no mm:ss time at all
        return f"garbage,CALL,1,Usr=x {mmss}-1,t:connectID={conn}", None, "no_time_match"
    user, base, proc = rng.choice(_USERS), rng.choice(_BASES), rng.choice(_PROCS)
    session = rng.randrange(0, 1 << 32)
    client = rng.randrange(0, 5000)
    rows_n, affected = rng.randrange(0, 100_000), rng.randrange(0, 50)
    head = (
        f"{mmss}-{dur},{kind},{rng.randrange(0, 6)},process={proc},"
        f"p:processName={proc},OSThread={rng.randrange(1000, 9999)},"
        f"t:clientID={client},t:applicationName=1CV8C,t:computerName=WS-{client % 40:02d},"
        f"t:connectID={conn},SessionID={session},Usr={user},DBMS=DBMSSQL,"
        f"DataBase={base},Trans=1,dbpid={rng.randrange(100, 9999)},"
    )
    sql, ctx = "", ""
    if kind == "DBMSSQL":
        doc = rng.randrange(1, 500)
        raw = (
            f"SELECT\n  T1._IDRRef,\n  T1._Fld{doc}\nFROM _Document{doc} T1\n"
            f"WHERE T1._Date >= 2025-05-26 07:00:00 AND T1._Posted = 0x01"
        )
        sql = raw.replace("2025-05-26 07:00:00", "").strip(" ")
        ctx = f"{rng.choice(_DOCS)}.Форма.Запись()\n{rng.choice(_DOCS)}.МодульОбъекта : {doc}"
        text = head + f"Rows={rows_n},RowsAffected={affected},Sql='{raw}',Context='{ctx}'"
    elif kind == "CALL":
        # escaped quotes inside Sql and silent-zero casts
        a, b = rng.randrange(100), rng.randrange(100)
        text = (
            head.replace(f"SessionID={session}", "SessionID=notanumber")
            + f"Rows=,Sql='INSERT INTO T VALUES (\\'a{a}\\',\\'b{b}\\')'"
        )
        session, rows_n, affected = 0, 0, 0
        sql = f"INSERT INTO T VALUES ('a{a}','b{b}')"
    elif kind == "TLOCK":
        text = head + f"Rows={rows_n},RowsAffected={affected},Sql='UPDATE _InfoRg{rows_n % 97} SET x = 1'"
        sql = f"UPDATE _InfoRg{rows_n % 97} SET x = 1"
    else:  # EXCP and the unmapped Components: no Sql= marker
        text = head + f"Rows={rows_n},RowsAffected={affected},Event=Exception"
    cells = [
        date, f"{date} {hour:02d}:{mmss}", kind, str(dur), user, base, str(session),
        str(client), str(conn), None, None, sql, str(rows_n), str(affected), ctx, proc,
    ]
    return text, (TABLE_MAP.get(kind, DEFAULT_TABLE), cells), None


def _pick_kind(rng: random.Random) -> str:
    return rng.choices([k for k, _ in _KINDS], weights=[w for _, w in _KINDS])[0]


def _write_file(path: str, records: list[str], crlf: bool) -> int:
    eol = "\r\n" if crlf else "\n"
    data = ("\n".join(records) + "\n").replace("\n", eol).encode("utf-8")
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def _usecs(rng: random.Random, n: int) -> list[int]:
    """n distinct sorted microsecond offsets within one hour."""
    return sorted(rng.sample(range(3_600_000_000), n))


def _mmss(us: int) -> str:
    return f"{us // 60_000_000:02d}:{us // 1_000_000 % 60:02d}.{us % 1_000_000:06d}"


def generate_bulk(out_dir: str, seed: int, n_records: int, n_files: int) -> Truth:
    """Rotated hourly files under per-process directories, as 1C writes
    them (``rphost_<pid>/YYMMDDHH.log``); at most 28 files, one per day.
    Every third file uses CRLF.
    Two extra small files are malformed as a whole (an invalid date and
    an invalid hour in the filename), so their records are rejected."""
    shutil.rmtree(out_dir, ignore_errors=True)
    rng = random.Random(seed)
    truth = Truth()
    per_file = n_records // n_files
    conn = 0
    for i in range(n_files):
        day, hour = 1 + i % 28, (7 + 5 * i) % 24
        date = f"2025-05-{day:02d}"
        name = f"2505{day:02d}{hour:02d}.log"
        d = os.path.join(out_dir, f"rphost_{1000 + i % 6}")
        os.makedirs(d, exist_ok=True)
        texts = []
        for us in _usecs(rng, per_file):
            conn += 1
            text, row, reason = _record(rng, _pick_kind(rng), date, hour, _mmss(us), conn)
            texts.append(text)
            if row:
                truth.add_row(*row)
            else:
                truth.rejects[reason] += 1
        truth.bytes += _write_file(os.path.join(d, name), texts, crlf=i % 3 == 2)
        truth.files += 1
        truth.records += len(texts)
    for name, reason in (("25139907.log", "bad_date"), ("250526xx.log", "bad_hour")):
        d = os.path.join(out_dir, "rphost_9999")
        os.makedirs(d, exist_ok=True)
        texts = []
        for us in _usecs(rng, 5):
            conn += 1
            texts.append(_record(rng, "EXCP", "2025-05-26", 7, _mmss(us), conn)[0])
        truth.rejects[reason] += len(texts)
        truth.bytes += _write_file(os.path.join(d, name), texts, crlf=False)
        truth.files += 1
        truth.records += len(texts)
    return truth


def live_file(rng: random.Random, due: float, n_records: int, first_conn: int):
    """One small complete log file due at wall-clock ``due`` (epoch s):
    the filename carries the due date and hour, and every record carries
    the due ``mm:ss.ffffff``, so a received row names the file it came
    from and when that file was due.
    -> (file name, text lines, truth, the rows' EventTime cell)."""
    tm = time.gmtime(due)
    us = int(round((due - int(due)) * 1e6))
    if us == 1_000_000:
        tm, us = time.gmtime(int(due) + 1), 0
    date = time.strftime("%Y-%m-%d", tm)
    mmss = f"{tm.tm_min:02d}:{tm.tm_sec:02d}.{us:06d}"
    truth = Truth(files=1)
    texts = []
    for k in range(n_records):
        kind = _pick_kind(rng)
        if kind in ("bad_event_time", "no_time_match"):
            kind = "EXCP"  # freshness needs every record of a live file to land
        text, row, _ = _record(rng, kind, date, tm.tm_hour, mmss, first_conn + k)
        texts.append(text)
        truth.add_row(*row)
    truth.records = len(texts)
    name = time.strftime("%y%m%d%H", tm) + f".{first_conn:08d}.log"
    return name, texts, truth, f"{date} {tm.tm_hour:02d}:{mmss}"
