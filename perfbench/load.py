"""The load process: the mock ClickHouse plus the open-loop file generator.

It runs apart from the pump's process (``LoadProcess`` starts it as
``python3 -m perfbench.load <fd>``), so neither the mock's HTTP handling
nor the generator's schedule competes with the pump's Python driver for
its interpreter lock.  The pump process talks to it over a socket pair.
It is started with ``subprocess`` rather than ``multiprocessing``, whose
``spawn`` method leaves a resource-tracker process that outlives the
benchmark.

The generator publishes each live file at its due time by writing it to a
staging directory and renaming it into a watched directory, so the pump
never lists a half-written file.  It keeps its schedule whatever the pump
does (open loop) and records how late each publish ran.
"""

from __future__ import annotations

import os
import random
import socket
import subprocess
import sys
import threading
import time
from multiprocessing.connection import Connection

from .mock_clickhouse import MockClickHouse
from .techlog_gen import Truth, live_file


def _publish_schedule(p: dict, out: dict) -> None:
    rng = random.Random(p["seed"])
    truth = Truth()
    due_of: dict[str, float] = {}
    published: list[float] = []
    late_max = 0.0
    for k in range(p["files"]):
        due = p["t0"] + k / p["rate"]
        # ``first`` keeps file names unique across schedules on one stream
        name, texts, t, event_time = live_file(
            rng, due, p["records_per_file"], p["first"] + k * p["records_per_file"]
        )
        staged = os.path.join(p["staging"], name)
        with open(staged, "w", encoding="utf-8") as f:
            f.write("\n".join(texts) + "\n")
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        os.rename(staged, os.path.join(p["dirs"][k % len(p["dirs"])], name))
        now = time.time()
        late_max = max(late_max, now - due)
        published.append(now)
        due_of[event_time] = due
        truth.update(t)
    out.update(truth=truth, due_of=due_of, published=published, late_s_max=late_max)


def _main(conn) -> None:
    mock = MockClickHouse().start()
    conn.send(mock.address)
    live: dict = {}
    gen: threading.Thread | None = None
    while True:
        try:
            cmd, arg = conn.recv()
        except (EOFError, OSError):  # the pump process is gone
            cmd, arg = "stop", None
        if cmd == "reset":
            mock.reset()
            conn.send(None)
        elif cmd == "inject":
            mock.arm(arg)
            conn.send(None)
        elif cmd == "count":
            conn.send(mock.row_count())
        elif cmd == "report":
            conn.send(mock.report())
        elif cmd == "live":
            live.clear()
            gen = threading.Thread(target=_publish_schedule, args=(arg, live), daemon=True)
            gen.start()
            conn.send(None)
        elif cmd == "live_wait":
            gen.join()
            conn.send(dict(live))
        elif cmd == "stop":
            mock.stop()
            try:
                conn.send(None)
            except OSError:
                pass
            return


class LoadProcess:
    """Handle on the load process; use as a context manager."""

    def __init__(self) -> None:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        parent, child = socket.socketpair()
        self._proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.load", str(child.fileno())],
            pass_fds=(child.fileno(),), cwd=root,
        )
        child.close()
        self._conn = Connection(parent.detach())
        self.address = self._conn.recv()

    @property
    def pid(self) -> int:
        return self._proc.pid

    def call(self, cmd: str, arg=None):
        self._conn.send((cmd, arg))
        return self._conn.recv()

    def close(self) -> None:
        if self._proc.poll() is None:
            try:
                self.call("stop")
            except (EOFError, OSError):
                pass
        self._conn.close()
        try:
            self._proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self._proc.kill()
            self._proc.wait()

    def __enter__(self) -> "LoadProcess":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


if __name__ == "__main__":
    _main(Connection(int(sys.argv[1])))
