"""The per-layer sweep of a traced run.

Each layer is timed from outside, by calling that layer's public function
on its own input, materialized to parquet first, and writing its output to
Spark's ``noop`` sink.  Subtracting truncated plans from each other does
not work here: parse noise is larger than the later layers' cost.

Batch-level numbers come from the public ``StreamingQueryProgress``
(``durationMs``); job, stage and task counts from ``statusTracker``.
"""

from __future__ import annotations

import datetime as dt
import os
import time

from . import harness, pump, registry
from .harness import median, pctl
from .techlog_gen import DEFAULT_TABLE, TABLE_MAP, generate_bulk

# The live probe of a query_registry traced run: enough files for a few
# batches, published faster than the live workload does; its freshness is
# not reported.  The probe is not warmed (a traced run must end within
# 180 s), so its first batch also compiles the parse code.
LIVE_PROBE_FILES = 12
LIVE_PROBE_RATE = 40.0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _files(path: str) -> tuple[int, int]:
    n = size = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def techlog_layers(spark, load, corpus: str, truth, tracer) -> dict:
    from pyspark.sql import functions as F

    from logpump_spark.sources.clickhouse import techlog_tsv_lines, write_techlog_http
    from logpump_spark.streaming.job import route_and_write, table_routing_column
    from logpump_spark.techlog.parser import parse_records
    from logpump_spark.techlog.reader import read_techlog, records_from_text
    from logpump_spark.techlog.transform import to_techlog_rows

    w = os.path.join(harness.WORK, "layers")
    pq = {k: os.path.join(w, k) for k in ("files", "records", "entries", "rows")}
    with tracer.span("materialize"):
        read_techlog(spark, corpus).write.parquet(pq["files"])
        records_from_text(spark.read.parquet(pq["files"])).write.parquet(pq["records"])
        # the streaming job parses with the fused projection; so does this
        parse_records(spark.read.parquet(pq["records"]), split_stages=False).write.parquet(
            pq["entries"]
        )
        to_techlog_rows(spark.read.parquet(pq["entries"]))[0].write.parquet(pq["rows"])
    m: dict = {}
    with tracer.span("techlog.reader"):
        m["techlog.reader.busy_s"] = _timed(
            lambda: _noop(records_from_text(spark.read.parquet(pq["files"])))
        )
    with tracer.span("techlog.parser"):
        m["techlog.parser.busy_s"] = _timed(
            lambda: _noop(parse_records(spark.read.parquet(pq["records"]), split_stages=False))
        )

    def transform():
        rows, rejects = to_techlog_rows(spark.read.parquet(pq["entries"]))
        _noop(rows)
        _noop(rejects)

    with tracer.span("techlog.transform"):
        m["techlog.transform.busy_s"] = _timed(transform)
    n_records = spark.read.parquet(pq["records"]).count()
    rows, rejects = to_techlog_rows(spark.read.parquet(pq["entries"]))
    n_valid, n_rej = rows.count(), rejects.count()
    m.update({
        "techlog.reader.bytes_in": truth.bytes,
        "techlog.reader.records_out": n_records,
        "techlog.parser.records_in": n_records,
        "techlog.transform.rows_valid": n_valid,
        "techlog.transform.rows_rejected": n_rej,
        "techlog.transform.valid_frac": n_valid / max(1, n_valid + n_rej),
    })
    routed_dir = os.path.join(w, "routed")
    with tracer.span("streaming.job.route_and_write"):
        m["streaming.job.route_write_s"] = _timed(lambda: route_and_write(
            spark.read.parquet(pq["rows"]), routed_dir, TABLE_MAP, DEFAULT_TABLE, epoch_id=0
        ))
    m["streaming.job.files_written"], m["streaming.job.bytes_written"] = _files(routed_dir)
    with tracer.span("sources.clickhouse.serialize"):
        m["sources.clickhouse.serialize_s"] = _timed(
            lambda: _noop(techlog_tsv_lines(spark.read.parquet(pq["rows"])))
        )
    cfg = pump.clickhouse_cfg(load.address)
    routed = spark.read.parquet(pq["rows"]).withColumn(
        "_table", table_routing_column(TABLE_MAP, DEFAULT_TABLE)
    )
    load.call("reset")
    with tracer.span("sources.clickhouse.post"):
        # serialize + POST per routed table, as the streaming sink does
        m["sources.clickhouse.post_s"] = _timed(lambda: [
            write_techlog_http(routed.filter(F.col("_table") == t).drop("_table"), cfg, t)
            for t in sorted(set(TABLE_MAP.values()) | {DEFAULT_TABLE})
        ])
    rep = load.call("report")
    load.call("reset")
    m.update({
        "sources.clickhouse.posts": rep["posts"],
        "sources.clickhouse.bytes": rep["bytes"],
        "sources.clickhouse.rows": rep["rows"],
        "sources.clickhouse.failed_posts": rep["failed_posts"] + rep["bad_lines"],
    })
    return m


def batch_layers(live: dict) -> dict:
    """streaming.job batch numbers from a live run's progress events."""
    prog = [p for p in live["progress"] if p["numInputRows"] > 0]
    trig = [p["durationMs"]["triggerExecution"] for p in prog]
    add = [p["durationMs"].get("addBatch", 0) for p in prog]
    published = sorted(live["published"])
    backlog, consumed = [], 0
    for p in prog:
        start = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        backlog.append(sum(t <= start for t in published) - consumed)
        consumed += p["numInputRows"]  # wholetext: one input row per file
    return {
        "streaming.job.batches": len(prog),
        "streaming.job.batch_p50_ms": median(trig),
        "streaming.job.batch_p95_ms": pctl(trig, 0.95),
        "streaming.job.add_batch_p50_ms": median(add),
        "streaming.job.jobs_per_batch": live["jobs"] / max(1, len(prog)),
        "streaming.job.backlog_files_max": max(backlog, default=0),
        "generator.late_s_max": live["late_s_max"],
    }


def query_layers(spark, passes: list[dict], tables: str, jobs, tracer) -> dict:
    from logpump_spark import tables as tbl

    queries, _ = registry._registry()
    t_load, load_jobs = 0.0, 0
    with tracer.span("tables.load"):
        for name in tbl.TABLE_NAMES:
            with jobs.group(f"load:{name}"):
                t_load += _timed(lambda: tbl.load(spark, tables, name))
            load_jobs += jobs.counts(f"load:{name}")[0]
    ok = [p for p in passes if None not in p.values()]
    last = len(passes) - 1
    cons = median([sum(c for c, _ in p.values()) for p in ok])
    exe = median([sum(e for _, e in p.values()) for p in ok])
    cj = ej = es = et = 0
    for name in registry.IDS:
        cj += jobs.counts(f"p{last}:construct:{name}")[0]
        j, s, t = jobs.counts(f"p{last}:execute:{name}")
        ej, es, et = ej + j, es + s, et + t
    m = {
        "tables.load_s": t_load,
        "tables.load_jobs": load_jobs,
        "queries.construct_s": cons,
        "queries.execute_s": exe,
        "queries.construct_jobs": cj,
        "queries.execute_jobs": ej,
        "queries.execute_stages": es,
        "queries.execute_tasks": et,
        "queries.construct_share": cons / (cons + exe),
    }
    for name in registry.IDS:
        key = f"queries.execute_s.{registry.module_of(queries[name])}"
        m[key] = m.get(key, 0.0) + median([p[name][1] for p in ok])
    return m


def layer_sweep(spark, load, workload: str, seed: int, scale: dict, tracer, out: dict) -> dict:
    """-> {metric: (value, unit)} for every per-layer metric.  An
    ``ingest_bulk`` run also drains the layer corpus at ``local[nproc]``
    and ``local[1]``, the parallelism baseline, into ``out["extra"]``."""
    jobs = harness.JobCounter(spark)
    m: dict = {
        "session.start_s": out["session_start_s"],
        "session.warmup_s": out["warmup_s"],
        "trace.primary_s": out["primary_s"],
        "env.steal_frac": out["steal_frac"],
    }
    with tracer.span("env.canary"):
        m["env.canary_s"] = harness.canary(spark)
    corpus = os.path.join(harness.WORK, "layer_corpus")
    truth = generate_bulk(corpus, seed + 1, scale["layer_records"], 6)
    with tracer.span("techlog"):
        m.update(techlog_layers(spark, load, corpus, truth, tracer))

    if "published" in out.get("info", {}):
        live = out["info"]
    else:
        with tracer.span("streaming.job.live"):
            probe: dict = {}
            live_pump = pump.LivePump(spark, load, "live_probe")
            pump.run_live(live_pump, seed + 2, 0, probe, min_files=LIVE_PROBE_FILES,
                          rate=LIVE_PROBE_RATE)
            live = probe["info"]
    m.update(batch_layers(live))

    if "passes" in out:
        passes, tables = out["passes"], os.path.join(harness.WORK, "tables")
    else:
        with tracer.span("queries.pass"):
            # smaller tables than the workload's, for the same 180 s limit
            (tables,) = registry.setup(seed, {"tables_sf": scale["probe_tables_sf"]})
            passes = [registry.run_pass(spark, tables, jobs, "p0")]
    with tracer.span("queries"):
        m.update(query_layers(spark, passes, tables, jobs, tracer))

    if workload == "ingest_bulk":
        out.setdefault("extra", {}).update(
            {k: (v, unit_of(k)) for k, v in baseline(spark, load, corpus, tracer, m).items()}
        )
    return {k: (v, unit_of(k)) for k, v in m.items()}


def baseline(spark, load, corpus: str, tracer, m: dict) -> dict:
    """The same drain at local[nproc] and local[1]; stops ``spark``."""
    cfg = pump.clickhouse_cfg(load.address)
    b: dict = {}
    with tracer.span("baseline.drain_local_n"):
        load.call("reset")
        b["baseline.drain_local_n_s"] = pump.drain(spark, corpus, cfg, "base_n")[0]
    spark.stop()
    spark = harness.start_session(1)
    with tracer.span("baseline.drain_local_1"):
        load.call("reset")
        b["baseline.drain_local_1_s"] = pump.drain(spark, corpus, cfg, "base_1")[0]
    spark.stop()
    b["baseline.speedup"] = b["baseline.drain_local_1_s"] / b["baseline.drain_local_n_s"]
    # how parse-bound a drain is: record assembly plus parse, each timed
    # on materialized input, over a whole drain of the same corpus
    b["techlog.parse_share"] = (
        m["techlog.reader.busy_s"] + m["techlog.parser.busy_s"]
    ) / b["baseline.drain_local_n_s"]
    return b


def unit_of(name: str) -> str:
    if name.endswith(("_s", "_s_max")) or ".execute_s." in name:
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith(("bytes", "bytes_in", "bytes_written")):
        return "bytes"
    if name.endswith(("_frac", "_share", "speedup")):
        return "ratio"
    return "count"
