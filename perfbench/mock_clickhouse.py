"""Stdlib mock of the ClickHouse HTTP INSERT interface, for the benchmark.

It accepts ``POST /?query=INSERT INTO <table> (...) FORMAT TabSeparated``
like the handler in tests/test_clickhouse_http.py.  Per POST it keeps the
receipt time, table and raw body and answers at once; bodies are decoded
only when a report is asked for, so the mock adds no decode time to the
pump's POSTs.  The report gives per table the multiset of row digests
(techlog_gen.row_digest), which checks delivery exactly once.

``inject`` deliberately corrupts delivery for the benchmark's own test:
``drop`` discards the next non-empty POST after answering 200, ``dup``
stores it twice.
"""

from __future__ import annotations

import threading
import time
import urllib.parse
from collections import Counter
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from .techlog_gen import row_digest

_ESC = {"t": "\t", "n": "\n", "r": "\r", "\\": "\\"}


def decode_cell(cell: str):
    """TabSeparated cell -> value (``\\N`` is NULL)."""
    if cell == "\\N":
        return None
    if "\\" not in cell:
        return cell
    out, i = [], 0
    while i < len(cell):
        if cell[i] == "\\" and i + 1 < len(cell) and cell[i + 1] in _ESC:
            out.append(_ESC[cell[i + 1]])
            i += 2
        else:
            out.append(cell[i])
            i += 1
    return "".join(out)


class MockClickHouse:
    def __init__(self) -> None:
        self.inject: str | None = None
        self._lock = threading.Lock()
        self._posts: list[tuple[float, str, bytes]] = []
        self._rejected_posts = 0
        mock = self

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self):  # noqa: N802 - stdlib handler contract
                body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
                received = time.time()
                query = urllib.parse.parse_qs(urllib.parse.urlparse(self.path).query)
                stmt = query.get("query", [""])[0]
                if not stmt.startswith("INSERT INTO "):
                    with mock._lock:
                        mock._rejected_posts += 1
                    self.send_response(400)
                    self.end_headers()
                    return
                mock._store(received, stmt.split()[2], body)
                self.send_response(200)
                self.end_headers()
                self.wfile.write(b"Ok.\n")

            def log_message(self, *a):
                pass

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._server.daemon_threads = True
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)

    @property
    def address(self) -> str:
        return f"127.0.0.1:{self._server.server_address[1]}"

    def start(self) -> "MockClickHouse":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=10)

    def _store(self, received: float, table: str, body: bytes) -> None:
        with self._lock:
            copies = 1
            if self.inject and body:
                copies = 0 if self.inject == "drop" else 2
                self.inject = None
            self._posts.extend([(received, table, body)] * copies)

    def arm(self, fault: str) -> None:
        with self._lock:
            self.inject = fault

    def reset(self) -> None:
        with self._lock:
            self._posts.clear()
            self._rejected_posts = 0

    def row_count(self) -> int:
        with self._lock:
            return sum(body.count(b"\n") for _, _, body in self._posts)

    def report(self) -> dict:
        """Decode every stored POST: per-table digest multisets, POST
        stats, and per EventTime the latest receipt time (a live file's
        rows all carry one EventTime, its due time)."""
        with self._lock:
            posts = list(self._posts)
            rejected = self._rejected_posts
        digests: dict[str, Counter] = {}
        last_seen: dict[str, float] = {}
        n_rows = n_bytes = bad = 0
        for received, table, body in posts:
            n_bytes += len(body)
            for line in body.decode("utf-8").split("\n")[:-1]:
                cells = [decode_cell(c) for c in line.split("\t")]
                if len(cells) != 16:
                    bad += 1
                    continue
                n_rows += 1
                digests.setdefault(table, Counter())[row_digest(cells)] += 1
                if last_seen.get(cells[1], 0.0) < received:
                    last_seen[cells[1]] = received
        return {
            "digests": digests,
            "last_seen": last_seen,
            "posts": len(posts),
            "rows": n_rows,
            "bytes": n_bytes,
            "bad_lines": bad,
            "failed_posts": rejected,
        }
