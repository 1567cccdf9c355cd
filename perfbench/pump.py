"""The pump workloads: ``ingest_bulk`` (closed loop, drains) and
``ingest_live`` (open loop, back-to-back micro-batches).

Both run the real ``streaming.job.build_techlog_stream`` into the parquet
sink and, over HTTP, into the mock ClickHouse in the load process.  All
checks read the sinks after the timed window closes.
"""

from __future__ import annotations

import datetime as dt
import os
import time
from collections import Counter

import pyarrow.parquet as pq

from . import harness
from .harness import median, pctl
from .techlog_gen import DEFAULT_TABLE, TABLE_MAP, Truth, generate_bulk, row_digest

INSERT_COLUMNS = (
    "EventDate EventTime EventType Duration User InfoBase SessionID ClientID "
    "ConnectionID ExceptionType ErrorText SQLText Rows RowsAffected Context "
    "ProcessName"
).split()
LANDED_READS = 5  # timed runs of the analyst reads; the median is reported
# Untimed drains of a smaller corpus before the measured ones.  After one
# warm-up drain, later drains in the same JVM still sped up by 10-15% (C2
# still compiling), even when that drain held twice the records; after two,
# they stayed within 4% of each other.
WARM_DRAINS = 2
LIVE_DIRS = 4  # watched per-process directories
LIVE_RECORDS = 4  # records per live file
# Files per second: about half of what the pump sustains on 4 cores, where
# a micro-batch costs about 6 s plus 0.05 s per small file.
LIVE_RATE = 10.0
# A nearest-rank p95 needs 200 samples to have ten beyond it.
LIVE_MIN_FILES = 200
LIVE_DRAIN_TIMEOUT_S = 60


def clickhouse_cfg(address: str):
    from logpump_spark.config import ClickHouseConfig

    return ClickHouseConfig(
        address=address, username="bench", password="bench", database="logs", protocol="http"
    )


def start_stream(spark, input_dirs, cfg, tag: str, available_now: bool):
    from logpump_spark.streaming.job import build_techlog_stream

    sink = os.path.join(harness.WORK, tag, "sink")
    writer = build_techlog_stream(
        spark, input_dirs, sink, os.path.join(harness.WORK, tag, "ckpt"),
        table_map=TABLE_MAP, default_table=DEFAULT_TABLE,
        trigger_seconds=0, available_now=available_now, clickhouse_http=cfg,
    )
    return writer.start(), sink


def drain(spark, corpus: str, cfg, tag: str):
    """One availableNow drain of ``corpus`` into both sinks.
    -> (wall seconds, the same net of steal, sink dir, progress events)."""

    def run():
        q, sink = start_stream(spark, corpus, cfg, tag, available_now=True)
        q.awaitTermination()
        return q, sink

    (q, sink), wall, net = harness.timed(run)
    if q.exception() is not None:
        raise RuntimeError(f"drain {tag} failed: {q.exception()}")
    return wall, net, sink, q.recentProgress


def _cell(name: str, v):
    if v is None:
        return None
    if name == "EventTime":
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, (dt.date, int)):
        return str(v)
    return v


def read_sink(sink: str):
    """Rows landed in the parquet sink, read with pyarrow (no Spark):
    -> ({table: digest multiset}, [(table, cells)], reject reasons)."""
    digests: dict[str, Counter] = {}
    rows: list[tuple[str, list]] = []
    rejects: Counter = Counter()
    for dirpath, _, files in os.walk(sink):
        parts = dict(
            p.split("=", 1) for p in os.path.relpath(dirpath, sink).split(os.sep) if "=" in p
        )
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            recs = pq.read_table(os.path.join(dirpath, fn)).to_pylist()
            if dirpath.startswith(os.path.join(sink, "_rejects")):
                rejects.update(r["reject_reason"] for r in recs)
                continue
            table = parts["_table"]
            for r in recs:
                r["EventDate"] = parts["EventDate"]
                cells = [_cell(c, r[c]) for c in INSERT_COLUMNS]
                digests.setdefault(table, Counter())[row_digest(cells)] += 1
                rows.append((table, cells))
    return digests, rows, rejects


def multiset_errors(expected: dict[str, Counter], got: dict[str, Counter]) -> int:
    """Rows missing plus rows extra (duplicated or foreign), all tables."""
    err = 0
    for t in set(expected) | set(got):
        e, g = expected.get(t, Counter()), got.get(t, Counter())
        err += sum((e - g).values()) + sum((g - e).values())
    return err


def check_delivery(truth: Truth, mock_report: dict, sink: str):
    """-> (attempted, failed, parquet rows).  An operation is one source
    row at one sink, or one expected reject."""
    got, rows, rejects = read_sink(sink)
    failed = (
        multiset_errors(truth.rows, mock_report["digests"])
        + multiset_errors(truth.rows, got)
        + sum(((truth.rejects - rejects) + (rejects - truth.rejects)).values())
        + mock_report["failed_posts"] + mock_report["bad_lines"]
    )
    return 2 * truth.n_rows + sum(truth.rejects.values()), failed, rows


# --- analyst reads over the landed parquet --------------------------------


def landed_reads(spark, sink: str, day: str, hour: int) -> dict:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.read.parquet(sink)
    start = dt.datetime.fromisoformat(f"{day} {hour:02d}:00:00")
    sliced = df.filter(
        (F.col("EventDate") == F.lit(day).cast("date"))
        & (F.col("EventTime") >= F.lit(start))
        & (F.col("EventTime") < F.lit(start + dt.timedelta(hours=1)))
    )
    time_slice = sliced.agg(F.count("*"), F.sum("Duration")).collect()[0]
    by_sql = df.filter(F.col("SQLText") != "").groupBy("_table", "SQLText").agg(
        F.sum("Duration").alias("d")
    )
    rank = F.row_number().over(Window.partitionBy("_table").orderBy(F.desc("d"), "SQLText"))
    top = by_sql.withColumn("r", rank).filter("r <= 3").collect()
    per_hour = (
        df.groupBy("_table", "EventDate", F.hour("EventTime").alias("h")).count().collect()
    )
    return {
        "time_slice": (time_slice[0], time_slice[1]),
        "top_sql": sorted((r["_table"], r["SQLText"], r["d"]) for r in top),
        "per_hour": sorted((r["_table"], str(r["EventDate"]), r["h"], r["count"]) for r in per_hour),
    }


def expected_reads(rows, day: str, hour: int) -> dict:
    sliced = [c for _, c in rows if c[0] == day and int(c[1][11:13]) == hour]
    sums: dict[tuple[str, str], int] = Counter()
    per_hour: Counter = Counter()
    for t, c in rows:
        if c[11]:
            sums[(t, c[11])] += int(c[3])
        per_hour[(t, c[0], int(c[1][11:13]))] += 1
    top = []
    for t in {t for t, _ in sums}:
        ranked = sorted(((-d, s) for (tt, s), d in sums.items() if tt == t))[:3]
        top += [(t, s, -nd) for nd, s in ranked]
    return {
        "time_slice": (len(sliced), sum(int(c[3]) for c in sliced) if sliced else None),
        "top_sql": sorted(top),
        "per_hour": sorted((t, d, h, n) for (t, d, h), n in per_hour.items()),
    }


# --- workloads -------------------------------------------------------------


def bulk_setup(seed: int, scale: dict):
    corpus = os.path.join(harness.WORK, "bulk_corpus")
    truth = generate_bulk(corpus, seed, scale["bulk_records"], scale["bulk_files"])
    return corpus, truth


def warm_pump(spark, load, seed: int, scale: dict) -> None:
    """JIT warmup: ``WARM_DRAINS`` drains of a layer-sized corpus through
    the same plan, so the parse projection's generated code is compiled,
    and its hot methods through C2, before timing (the parse-plane C2
    compile storm, BASELINE.md)."""
    corpus = os.path.join(harness.WORK, "warm_corpus")
    generate_bulk(corpus, seed + 3, scale["layer_records"], 6)
    for i in range(WARM_DRAINS):
        drain(spark, corpus, clickhouse_cfg(load.address), f"warm{i}")
        load.call("reset")


def run_bulk(spark, load, corpus: str, truth: Truth, seconds: float, out: dict,
             n_reads: int = LANDED_READS) -> None:
    cfg = clickhouse_cfg(load.address)
    jobs = harness.JobCounter(spark)

    def one_drain(i: int):
        load.call("reset")
        j0 = jobs.last_job_id()
        harness.quiesce(spark)
        wall, net, sink, progress = drain(spark, corpus, cfg, f"bulk{i}")
        n_jobs = jobs.last_job_id() - j0 - 1
        # the check runs between drains, outside their timed windows
        return (wall, net, sink, *check_delivery(truth, load.call("report"), sink),
                progress, n_jobs)

    drains = harness.repeat_for(seconds, one_drain)
    attempted, failed = sum(d[3] for d in drains), sum(d[4] for d in drains)
    sink, rows = drains[-1][2], drains[-1][5]
    n_files = sum(len(files) for _, _, files in os.walk(corpus))
    # the last drain's batches, for a traced run's streaming.job numbers;
    # every corpus file is there before the drain starts
    info = {"late_s_max": 0.0, "published": [0.0] * n_files,
            "progress": drains[-1][6], "jobs": drains[-1][7]}
    day, hour = rows[0][1][0], int(rows[0][1][1][11:13])
    expected = expected_reads(rows, day, hour)
    reads = []
    for i in range(1 + n_reads):
        harness.quiesce(spark)
        got, wall, net = harness.timed(lambda: landed_reads(spark, sink, day, hour))
        if i:  # the first run lists the sink and compiles the reads' code
            reads.append((wall, net))
        attempted += 3
        failed += sum(got[k] != expected[k] for k in expected)
    drain_s = median([d[1] for d in drains])
    out.update(
        attempted=attempted, failed=failed,
        primary_wall_s=median([d[0] for d in drains]), primary_s=drain_s,
        secondary_wall_s=median([w for w, _ in reads]), secondary_s=median([n for _, n in reads]),
        info=info,
        extra={
            "rows_per_s": (truth.n_rows / drain_s, "rows/s"),
            "mb_per_s": (truth.bytes / 1e6 / drain_s, "MB/s"),
            "drains": (len(drains), "count"),
        },
    )


class LivePump:
    """``build_techlog_stream`` running on watched per-process directories,
    fed by the load process's open-loop generator.  One stream serves the
    warm-up schedules and the measured one, as a long-lived pump would, so
    the measured batches run compiled code; ``truth`` accumulates every
    schedule, and the mock is never reset, so delivery is checked over
    all of them."""

    def __init__(self, spark, load, tag: str) -> None:
        logs = os.path.join(harness.WORK, tag, "logs")
        self.dirs = [os.path.join(logs, f"rphost_{3000 + i}") for i in range(LIVE_DIRS)]
        self.staging = os.path.join(harness.WORK, tag, "staging")
        for d in self.dirs + [self.staging]:
            os.makedirs(d)
        self.load, self.truth, self._first = load, Truth(), 1
        self.jobs = harness.JobCounter(spark)
        self.q, self.sink = start_stream(
            spark, logs, clickhouse_cfg(load.address), tag, available_now=False
        )

    def publish(self, seed: int, n_files: int, rate: float) -> dict:
        """Publish ``n_files`` at ``rate`` files/s, the first due 1 s from
        now, and wait until the mock holds every row published so far.
        -> the generator's record (due times, publish times, lateness)."""
        t0 = time.time() + 1.0
        self.load.call("live", {
            "seed": seed, "t0": t0, "rate": rate, "files": n_files,
            "records_per_file": LIVE_RECORDS, "dirs": self.dirs, "staging": self.staging,
            "first": self._first,
        })
        self._first += n_files * LIVE_RECORDS
        gen = self.load.call("live_wait")
        self.truth.update(gen["truth"])
        deadline = time.time() + LIVE_DRAIN_TIMEOUT_S
        while self.load.call("count") < self.truth.n_rows:
            if self.q.exception() is not None or time.time() > deadline:
                break
            time.sleep(0.05)
        return gen

    def warm(self, seed: int) -> None:
        """JIT warmup: one short schedule through this stream before the
        measured one."""
        self.publish(seed + 7919, 8, 20.0)

    def stop(self) -> None:
        if self.q.isActive:
            if self.q.exception() is None:
                self.q.processAllAvailable()
            self.q.stop()


def run_live(live: LivePump, seed: int, seconds: float, out: dict,
             min_files: int = LIVE_MIN_FILES, rate: float = LIVE_RATE) -> None:
    """Open loop: the load process publishes ``LIVE_RATE`` files/s into the
    watched directories for ``seconds``, or for as long as it takes to
    publish ``min_files``; the pump runs back-to-back micro-batches.
    Freshness of a file = the mock's receipt of its last row minus the
    file's due time."""
    n_files = max(min_files, int(rate * seconds))
    warm_batches = {p["batchId"] for p in live.q.recentProgress}
    j0 = live.jobs.last_job_id()
    gen = live.publish(seed, n_files, rate)
    live.stop()
    n_jobs = live.jobs.last_job_id() - j0 - 1
    progress = [p for p in live.q.recentProgress if p["batchId"] not in warm_batches]
    rep = live.load.call("report")
    attempted, failed, _ = check_delivery(live.truth, rep, live.sink)
    fresh = [
        rep["last_seen"][et] - due for et, due in gen["due_of"].items() if et in rep["last_seen"]
    ]
    failed += len(gen["due_of"]) - len(fresh)
    # freshness is a latency against the wall clock, with no net form
    out.update(
        attempted=attempted, failed=failed,
        primary_s=median(fresh), secondary_s=pctl(fresh, 0.95),
        info={
            "late_s_max": gen["late_s_max"], "published": gen["published"],
            "jobs": n_jobs, "progress": progress,
        },
        extra={
            "freshness_samples": (len(fresh), "count"),
            "generator_late_s_max": (gen["late_s_max"], "s"),
        },
    )
