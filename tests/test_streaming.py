"""Streaming smoke tests (SURVEY.md §5.3): file-drop -> micro-batch ->
partitioned sink; checkpoint restart -> no reprocessing; component
routing -> per-table directories; watermarked windows run in streaming
mode."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from logpump_spark.streaming import build_techlog_stream
from logpump_spark.streaming.job import run_stream
from logpump_spark.streaming.windows import tumbling_agg

RECORD_A = "07:15.123456-2500,DBMSSQL,0,Usr=ivanov,DataBase=erp,SessionID=7,Sql='SELECT 1'\n"
RECORD_B = "08:02.000001-10,EXCP,3,Usr=petrov,Event=Boom\n"
RECORD_C = "09:30.999999-42,CALL,1,Usr=sidorov\n"

TABLE_MAP = {"EXCP": "errors", "DBMSSQL": "sql_log"}


def _dirs(tmp_path):
    d = {k: str(tmp_path / k) for k in ("in", "out", "ckpt")}
    os.makedirs(d["in"], exist_ok=True)
    return d


def _run_once(spark, d):
    writer = build_techlog_stream(
        spark,
        d["in"],
        d["out"],
        d["ckpt"],
        table_map=TABLE_MAP,
        default_table="tech_log",
        available_now=True,
    )
    run_stream(writer, timeout_seconds=120)


def test_file_drop_to_partitioned_sink(spark, tmp_path):
    d = _dirs(tmp_path)
    with open(f"{d['in']}/25052607.log", "w", encoding="utf-8") as f:
        f.write(RECORD_A + RECORD_B)

    _run_once(spark, d)

    out = spark.read.parquet(d["out"])
    rows = {r.EventType: r for r in out.collect()}
    assert set(rows) == {"DBMSSQL", "EXCP"}
    # routing: component -> table directory (clickhouse.go:65-72)
    assert rows["DBMSSQL"]._table == "sql_log"
    assert rows["EXCP"]._table == "errors"
    # EventDate partition dirs exist (MergeTree PARTITION BY analog)
    assert os.path.isdir(f"{d['out']}/_table=sql_log/EventDate=2025-05-26")
    assert rows["DBMSSQL"].SQLText == "SELECT 1"


def test_checkpoint_no_reprocessing(spark, tmp_path):
    d = _dirs(tmp_path)
    with open(f"{d['in']}/25052607.log", "w", encoding="utf-8") as f:
        f.write(RECORD_A)
    _run_once(spark, d)

    # second file arrives; restart from the same checkpoint
    with open(f"{d['in']}/25052608.log", "w", encoding="utf-8") as f:
        f.write(RECORD_C)
    _run_once(spark, d)

    out = spark.read.parquet(d["out"])
    # file 1 processed exactly once across both runs (T1-T5: the
    # checkpoint's seen-files log replaces the reference's offset store)
    assert out.count() == 2
    assert out.filter(F.col("EventType") == "DBMSSQL").count() == 1
    assert out.filter(F.col("EventType") == "CALL").count() == 1


def test_default_table_and_rejects(spark, tmp_path):
    d = _dirs(tmp_path)
    with open(f"{d['in']}/25052607.log", "w", encoding="utf-8") as f:
        f.write(RECORD_C)  # CALL not in TABLE_MAP -> default table
    with open(f"{d['in']}/bad.log", "w", encoding="utf-8") as f:
        f.write(RECORD_A)  # filename too short for a date -> dead letter

    _run_once(spark, d)

    out = spark.read.parquet(d["out"])
    assert out.collect()[0]._table == "tech_log"
    rejects = spark.read.parquet(f"{d['out']}/_rejects")
    assert rejects.count() == 1
    assert rejects.collect()[0].reject_reason == "bad_filename"


def test_streaming_windowed_agg_with_watermark(spark, tmp_path):
    # windowed agg over a rate-like in-memory stream: watermark + tumbling
    # window in append mode — the late-data surface (§2.G)
    src = str(tmp_path / "events_in")
    os.makedirs(src)
    ev = spark.createDataFrame(
        [
            (1, "2024-01-01 00:05:00", "a", 1.0),
            (2, "2024-01-01 00:55:00", "a", 2.0),
            (3, "2024-01-01 01:10:00", "b", 3.0),
        ],
        "event_id long, ts_str string, event_type string, value double",
    ).withColumn("ts", F.col("ts_str").cast("timestamp"))
    ev.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    agg = tumbling_agg(stream, width="1 hour", watermark="10 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_agg")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    res = spark.sql("SELECT * FROM win_agg").collect()
    # append mode emits only windows closed by the watermark; with
    # availableNow over a finite source the final watermark closes the
    # first window (hour 0) but not hour 1
    starts = {str(r.window_start): r.n_events for r in res}
    assert starts.get("2024-01-01 00:00:00") == 2


def test_multi_directory_ingestion(spark, tmp_path):
    # LogDirectoryMap analog: two roots union into one stream
    d1, d2 = str(tmp_path / "r1"), str(tmp_path / "r2")
    out, ckpt = str(tmp_path / "out_m"), str(tmp_path / "ckpt_m")
    os.makedirs(d1)
    os.makedirs(d2)
    with open(f"{d1}/25052607.log", "w", encoding="utf-8") as f:
        f.write(RECORD_A)
    with open(f"{d2}/25052608.log", "w", encoding="utf-8") as f:
        f.write(RECORD_C)

    writer = build_techlog_stream(
        spark, [d1, d2], out, ckpt, table_map=TABLE_MAP, available_now=True
    )
    run_stream(writer, timeout_seconds=120)
    types = sorted(r.EventType for r in spark.read.parquet(out).collect())
    assert types == ["CALL", "DBMSSQL"]


def test_mtime_ordered_backfill(spark, tmp_path):
    # S2: a backfill over existing files must process oldest-mtime first
    # (the reference sorts its scan by mtime, scan.go:143-153; Spark's
    # file stream sorts by modification time with latestFirst=false).
    # mtimes are staggered AGAINST name order to prove it's mtime, not
    # name: the '09' file is oldest, '07' newest.
    import time as _time

    d = _dirs(tmp_path)
    names = ["25052609.log", "25052608.log", "25052607.log"]
    recs = [RECORD_A, RECORD_B, RECORD_C]  # DBMSSQL, EXCP, CALL
    now = _time.time()
    for i, (name, rec) in enumerate(zip(names, recs)):
        p = f"{d['in']}/{name}"
        with open(p, "w", encoding="utf-8") as f:
            f.write(rec)
        os.utime(p, (now - 3600 + i * 60, now - 3600 + i * 60))

    writer = build_techlog_stream(
        spark,
        d["in"],
        d["out"],
        d["ckpt"],
        table_map=TABLE_MAP,
        available_now=True,
        max_files_per_trigger=1,  # one file per micro-batch -> ordered epochs
    )
    run_stream(writer, timeout_seconds=180)

    out = spark.read.parquet(d["out"])
    epoch_by_type = {r.EventType: r._epoch for r in out.collect()}
    # oldest mtime (DBMSSQL in the '09' file) processed first
    assert epoch_by_type["DBMSSQL"] < epoch_by_type["EXCP"] < epoch_by_type["CALL"]


def test_compaction_reduces_files_preserves_rows(spark, tmp_path):
    from logpump_spark.streaming.job import compact_partitions

    d = _dirs(tmp_path)
    # three drains = three appends = several files per partition
    for i, rec in enumerate((RECORD_A, RECORD_B, RECORD_C)):
        with open(f"{d['in']}/2505260{i + 1}.log", "w", encoding="utf-8") as f:
            f.write(rec)
        _run_once(spark, d)

    before = spark.read.parquet(d["out"])
    rows_before = sorted(map(tuple, before.drop("_table", "_epoch").collect()))
    import glob as g

    pat = f"{d['out']}/_table=*/EventDate=*/_epoch=*/*.parquet"
    files_before = len(g.glob(pat))
    epochs_before = len(g.glob(f"{d['out']}/_table=*/EventDate=*/_epoch=*"))

    n = compact_partitions(spark, d["out"])
    assert n >= 1

    after = spark.read.parquet(d["out"])
    rows_after = sorted(map(tuple, after.drop("_table", "_epoch").collect()))
    files_after = len(g.glob(pat))
    epochs_after = len(g.glob(f"{d['out']}/_table=*/EventDate=*/_epoch=*"))
    assert rows_after == rows_before  # lossless rewrite
    assert files_after <= files_before
    # consumed epoch dirs are gone: one compaction epoch per partition
    assert epochs_after <= epochs_before

    # compaction rerun is a TRUE no-op on an already-compacted sink:
    # every group is a single negative compaction epoch, so nothing is
    # selected, nothing is rewritten, and no manifest is left behind
    assert compact_partitions(spark, d["out"]) == 0
    rows_rerun = sorted(
        map(tuple, spark.read.parquet(d["out"]).drop("_table", "_epoch").collect())
    )
    assert rows_rerun == rows_before
    assert not os.path.exists(f"{d['out']}/_compaction_manifest.json")


def _compaction_crash_setup(spark, d):
    """Three drains -> epochs 0/1/2 (one per component table); returns
    (rows_before, manifest) where manifest is what a compaction run would
    record before its rewrite."""
    import json

    from logpump_spark.streaming.job import compact_partitions  # noqa: F401

    for i, rec in enumerate((RECORD_A, RECORD_B, RECORD_C)):
        with open(f"{d['in']}/2505260{i + 1}.log", "w", encoding="utf-8") as f:
            f.write(rec)
        _run_once(spark, d)
    sink = spark.read.parquet(d["out"])
    rows_before = sorted(map(tuple, sink.drop("_table", "_epoch").collect()))
    epochs = [
        (r._table, str(r.EventDate), int(r._epoch))
        for r in sink.select("_table", "EventDate", "_epoch").distinct().collect()
    ]
    target = -(max(abs(e) for _, _, e in epochs) + 2)
    manifest = {"target_epoch": target, "consumed": sorted(epochs)}
    with open(f"{d['out']}/_compaction_manifest.json", "w", encoding="utf-8") as f:
        json.dump(manifest, f)
    return rows_before, manifest


def _land_new_epoch_and_recover(spark, d, rows_before):
    """Land a fresh streaming epoch AFTER the simulated crash, rerun
    compaction, and assert zero duplicate rows and clean final state."""
    from logpump_spark.streaming.job import compact_partitions

    new_rec = "10:45.000007-99,DBMSSQL,0,Usr=kuznetsov,DataBase=erp,SessionID=9\n"
    with open(f"{d['in']}/25052604.log", "w", encoding="utf-8") as f:
        f.write(new_rec)
    _run_once(spark, d)

    assert compact_partitions(spark, d["out"]) >= 1

    out = spark.read.parquet(d["out"])
    rows_after = sorted(map(tuple, out.drop("_table", "_epoch").collect()))
    assert len(rows_after) == len(rows_before) + 1  # no duplicates, no loss
    assert len(set(rows_after)) == len(rows_after)
    base = set(map(tuple, rows_before))
    assert base < set(rows_after)
    # clean final state: manifest gone, one compaction epoch per group
    assert not os.path.exists(f"{d['out']}/_compaction_manifest.json")
    per_group = (
        out.select("_table", "EventDate", "_epoch")
        .distinct()
        .groupBy("_table", "EventDate")
        .count()
        .collect()
    )
    assert all(r["count"] == 1 for r in per_group)
    epochs_left = {int(r._epoch) for r in out.select("_epoch").distinct().collect()}
    assert all(e < 0 for e in epochs_left)


def test_compaction_crash_before_target_write(spark, tmp_path):
    # Crash injected AFTER the manifest is persisted but BEFORE the
    # target epoch is written; a new streaming epoch lands before the
    # rerun.  Recovery must rewrite the target from the manifest's
    # consumed set only (NOT the new epoch) and end with no duplicates.
    d = _dirs(tmp_path)
    rows_before, _ = _compaction_crash_setup(spark, d)
    _land_new_epoch_and_recover(spark, d, rows_before)


def test_compaction_crash_between_write_and_deletes(spark, tmp_path):
    # Crash injected AFTER the target epoch landed but BEFORE the
    # consumed dirs were deleted — the exact duplication scenario of a
    # max-over-all-epochs target id: a rerun with a new epoch present
    # used to re-merge the orphaned target TOGETHER with its still-live
    # sources, duplicating every row.  With the manifest, recovery
    # finishes the recorded compaction (deletes only) first.
    d = _dirs(tmp_path)
    rows_before, manifest = _compaction_crash_setup(spark, d)
    sink = spark.read.parquet(d["out"])
    (
        sink.withColumn("_epoch", F.lit(manifest["target_epoch"]))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_table", "EventDate", "_epoch")
        .parquet(d["out"])
    )
    _land_new_epoch_and_recover(spark, d, rows_before)


def test_replay_idempotent_sink_and_rejects(spark, tmp_path):
    # a foreachBatch retry re-runs the SAME epoch id: both the main sink
    # and the dead-letter sink must not duplicate rows (the round-1
    # append-mode write did; the reference drops the batch instead,
    # batch.go:43-49)
    import datetime as dt

    from logpump_spark.streaming.job import route_and_write, write_rejects

    rows = spark.createDataFrame(
        [
            ("DBMSSQL", dt.date(2025, 5, 26), dt.datetime(2025, 5, 26, 7, 0, 0)),
            ("EXCP", dt.date(2025, 5, 26), dt.datetime(2025, 5, 26, 8, 0, 0)),
        ],
        "EventType string, EventDate date, EventTime timestamp",
    )
    out = str(tmp_path / "replay_out")
    route_and_write(rows, out, TABLE_MAP, epoch_id=3)
    route_and_write(rows, out, TABLE_MAP, epoch_id=3)  # replay
    assert spark.read.parquet(out).count() == 2

    rejects = spark.createDataFrame(
        [("bad.log", "xx", "bad_filename")],
        "Timestamp string, LogTimestamp string, reject_reason string",
    )
    write_rejects(rejects, out, epoch_id=3)
    write_rejects(rejects, out, epoch_id=3)  # replay
    assert spark.read.parquet(f"{out}/_rejects").count() == 1
    # a DIFFERENT epoch appends rather than clobbering earlier epochs
    route_and_write(rows, out, TABLE_MAP, epoch_id=4)
    write_rejects(rejects, out, epoch_id=4)
    assert spark.read.parquet(out).count() == 4
    assert spark.read.parquet(f"{out}/_rejects").count() == 2


def test_config_hot_reload_swaps_routing(spark, tmp_path):
    # S9 (scan.go:24-52): mtime change on the config file re-parses it and
    # swaps the routing map for SUBSEQUENT micro-batches, without restart
    d = _dirs(tmp_path)
    cfg_path = str(tmp_path / "config.yaml")

    def _write_cfg(default_table: str, excp_table: str) -> None:
        with open(cfg_path, "w", encoding="utf-8") as f:
            f.write(
                "LogDirectoryMap:\n"
                f"  main: {d['in']}\n"
                'FilePattern: "*.log"\n'
                "BatchSize: 100\n"
                "BatchInterval: 1\n"
                "ClickHouse:\n"
                "  Address: localhost:9000\n"
                "  Database: logs\n"
                f"  DefaultTable: {default_table}\n"
                "  TableMap:\n"
                f"    EXCP: {excp_table}\n"
            )

    def _run(path_suffix: str) -> None:
        writer = build_techlog_stream(
            spark,
            d["in"],
            d["out"],
            d["ckpt"],
            table_map={"never": "used"},  # superseded by the config file
            default_table="stale_default",
            available_now=True,
            config_path=cfg_path,
        )
        run_stream(writer, timeout_seconds=120)

    _write_cfg("tech_log_v1", "errors_v1")
    with open(f"{d['in']}/25052607.log", "w", encoding="utf-8") as f:
        f.write(RECORD_A + RECORD_B)
    _run("1")
    out = spark.read.parquet(d["out"])
    assert {r._table for r in out.collect()} == {"tech_log_v1", "errors_v1"}

    # rewrite the config (new mtime), drop a new file, resume the stream:
    # the new batch must route with the NEW map, old data stays put
    _write_cfg("tech_log_v2", "errors_v2")
    os.utime(cfg_path, (os.path.getmtime(cfg_path) + 5,) * 2)
    with open(f"{d['in']}/25052608.log", "w", encoding="utf-8") as f:
        f.write(RECORD_B + RECORD_C)
    _run("2")
    out = spark.read.parquet(d["out"])
    tables = {r._table for r in out.collect()}
    assert {"tech_log_v1", "errors_v1", "errors_v2", "tech_log_v2"} == tables


def test_config_hot_reload_bad_config_keeps_previous(spark, tmp_path):
    # a reload that fails validation must keep the stream on the previous
    # routing instead of crashing the sink
    d = _dirs(tmp_path)
    cfg_path = str(tmp_path / "config.yaml")
    with open(cfg_path, "w", encoding="utf-8") as f:
        f.write(
            "LogDirectoryMap:\n"
            f"  main: {d['in']}\n"
            'FilePattern: "*.log"\n'
            "BatchSize: 100\n"
            "BatchInterval: 1\n"
            "ClickHouse:\n"
            "  Address: localhost:9000\n"
            "  Database: logs\n"
            "  DefaultTable: good_table\n"
        )
    with open(f"{d['in']}/25052607.log", "w", encoding="utf-8") as f:
        f.write(RECORD_C)
    writer = build_techlog_stream(
        spark, d["in"], d["out"], d["ckpt"], available_now=True, config_path=cfg_path
    )
    run_stream(writer, timeout_seconds=120)

    # break the config (BatchSize invalid), then stream another file
    with open(cfg_path, "w", encoding="utf-8") as f:
        f.write("LogDirectoryMap:\n  main: x\nBatchSize: -1\n")
    os.utime(cfg_path, (os.path.getmtime(cfg_path) + 5,) * 2)
    with open(f"{d['in']}/25052608.log", "w", encoding="utf-8") as f:
        f.write(RECORD_A)
    writer = build_techlog_stream(
        spark, d["in"], d["out"], d["ckpt"], available_now=True, config_path=cfg_path
    )
    run_stream(writer, timeout_seconds=120)

    out = spark.read.parquet(d["out"])
    # first batch routed by the (then-valid) config; the restarted stream
    # falls back to its constructor defaults because the config no longer
    # validates — and keeps running instead of crashing
    assert {r._table for r in out.collect()} == {"good_table", "tech_log"}


def test_metrics_listener_two_batches(spark, tmp_path):
    # the logger.go analog: one structured record per micro-batch with
    # rows/sec, batch duration and reject counts
    import time as _time

    from logpump_spark.streaming.metrics import TechLogMetricsListener

    d = _dirs(tmp_path)
    with open(f"{d['in']}/25052607.log", "w", encoding="utf-8") as f:
        f.write(RECORD_A + RECORD_B)
    with open(f"{d['in']}/bad.log", "w", encoding="utf-8") as f:
        f.write(RECORD_C)  # filename too short for a date -> dead letter

    listener = TechLogMetricsListener().attach(spark)
    try:
        writer = build_techlog_stream(
            spark,
            d["in"],
            d["out"],
            d["ckpt"],
            table_map=TABLE_MAP,
            available_now=True,
            max_files_per_trigger=1,  # one file per micro-batch -> 2 batches
        )
        run_stream(writer, timeout_seconds=120)
        # progress events are delivered on the listener-bus thread
        deadline = _time.time() + 30
        while _time.time() < deadline and len(listener.batches) < 2:
            _time.sleep(0.2)
    finally:
        listener.detach(spark)

    batches = [b for b in listener.batches if b["input_rows"] > 0]
    assert len(batches) == 2
    assert {b["batch_id"] for b in batches} == {0, 1}
    # wholetext source: one input row per file
    assert all(b["input_rows"] == 1 for b in batches)
    assert all(b["batch_duration_ms"] > 0 for b in batches)
    assert all(b["rows_per_sec"] >= 0.0 for b in batches)
    # exactly one dead-letter row total, in the bad.log batch
    assert sorted(b["rejects"] for b in batches) == [0, 1]
    assert sorted(b["records"] for b in batches) == [1, 2]


def test_observed_counts_reach_progress_without_a_listener(spark, tmp_path):
    # the stream frame itself is observed, so the counts ride Spark's
    # progress channel whether or not anyone listens
    d = _dirs(tmp_path)
    with open(f"{d['in']}/25052607.log", "w", encoding="utf-8") as f:
        f.write(RECORD_A + RECORD_B)
    with open(f"{d['in']}/bad.log", "w", encoding="utf-8") as f:
        f.write(RECORD_C)  # filename too short for a date -> dead letter

    q = build_techlog_stream(
        spark, d["in"], d["out"], d["ckpt"], table_map=TABLE_MAP, available_now=True
    ).start()
    q.awaitTermination(120)

    observed = q.lastProgress["observedMetrics"]["techlog"]
    dead = spark.read.parquet(f"{d['out']}/_rejects").count()
    assert observed["rejects"] == dead == 1
    assert observed["records"] == 3


def test_reject_ratio_counts_records_not_files(spark, tmp_path):
    # the wholetext source reads one input row per FILE, so the ratio
    # must divide by the observed record count: 1 of 4 rejected stays
    # under 0.5, 3 of 4 crosses it
    import time as _time

    from logpump_spark.streaming.metrics import (
        AlertConfig,
        TechLogMetricsListener,
    )

    bad_fraction = "10:00.123-1,CALL,1,Usr=short\n"  # 3 digits: bad_event_time
    d = _dirs(tmp_path)
    with open(f"{d['in']}/25052607.log", "w", encoding="utf-8") as f:
        f.write(RECORD_A + RECORD_B + RECORD_C + bad_fraction)
    with open(f"{d['in']}/25052608.log", "w", encoding="utf-8") as f:
        f.write(RECORD_A + bad_fraction * 3)

    fired: list[dict] = []
    listener = TechLogMetricsListener(
        alerts=AlertConfig(max_reject_ratio=0.5, on_alert=fired.append)
    ).attach(spark)
    try:
        writer = build_techlog_stream(
            spark,
            d["in"],
            d["out"],
            d["ckpt"],
            table_map=TABLE_MAP,
            available_now=True,
            max_files_per_trigger=1,  # one file per micro-batch -> 2 batches
        )
        run_stream(writer, timeout_seconds=120)
        deadline = _time.time() + 30
        while _time.time() < deadline and len(listener.batches) < 2:
            _time.sleep(0.2)
    finally:
        listener.detach(spark)

    batches = [b for b in listener.batches if b["input_rows"] > 0]
    assert sorted((b["records"], b["rejects"]) for b in batches) == [(4, 1), (4, 3)]
    reasons = {
        r.reject_reason for r in spark.read.parquet(f"{d['out']}/_rejects").collect()
    }
    assert reasons == {"bad_event_time"}
    assert len(fired) == 1, fired
    assert fired[0]["reasons"] == ["reject_ratio"]
    assert fired[0]["batch"]["rejects"] == 3


def test_llm_quality_gate_streaming_equals_batch(spark, tmp_path):
    # the curation operators are plain Column logic, so the SAME
    # gopher_rules call runs unchanged on a streaming micro-batch and
    # must produce exactly the batch result — the streaming=batch
    # contract extended to the llmdata plane
    from logpump_spark.llmdata.quality import gopher_rules

    src = str(tmp_path / "docs_src")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.write.mode("overwrite").parquet(src)

    batch = {
        r.doc_id: (r.keep, r.n_words)
        for r in gopher_rules(spark.read.parquet(src)).collect()
    }

    stream = spark.readStream.schema(docs.schema).parquet(src)
    seen: dict = {}

    def sink(df, epoch_id):
        for r in gopher_rules(df).select("doc_id", "keep", "n_words").collect():
            seen[r.doc_id] = (r.keep, r.n_words)

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert seen == batch


def test_alert_hook_fires_once_on_bad_batch(spark, tmp_path):
    # the Sentry-hook analog (logger.go:100-136): a micro-batch whose
    # dead-letter count crosses the threshold invokes the callback
    # exactly once; healthy batches never do
    import time as _time

    from logpump_spark.streaming.metrics import (
        AlertConfig,
        TechLogMetricsListener,
    )

    d = _dirs(tmp_path)
    with open(f"{d['in']}/25052607.log", "w", encoding="utf-8") as f:
        f.write(RECORD_A + RECORD_B)  # healthy batch
    with open(f"{d['in']}/bad.log", "w", encoding="utf-8") as f:
        f.write(RECORD_C)  # filename too short for a date -> dead letter

    fired: list[dict] = []
    listener = TechLogMetricsListener(
        alerts=AlertConfig(max_rejects_per_batch=0, on_alert=fired.append)
    ).attach(spark)
    try:
        writer = build_techlog_stream(
            spark,
            d["in"],
            d["out"],
            d["ckpt"],
            table_map=TABLE_MAP,
            available_now=True,
            max_files_per_trigger=1,  # one file per micro-batch -> 2 batches
        )
        run_stream(writer, timeout_seconds=120)
        deadline = _time.time() + 30
        while _time.time() < deadline and len(listener.batches) < 2:
            _time.sleep(0.2)
    finally:
        listener.detach(spark)

    assert len(fired) == 1, fired
    assert fired[0]["reasons"] == ["rejects_per_batch"]
    assert fired[0]["batch"]["rejects"] == 1
    assert listener.alerts == fired


def test_timing_sketch_cells_merge_across_micro_batches(spark, tmp_path):
    # the quantileTiming mergeability claim: per-micro-batch (group, bin)
    # cells ADD up to exactly the batch cells — split the events over two
    # files, stream one file per trigger, accumulate by addition
    from collections import Counter

    from logpump_spark.queries.sketch_q import timing_bin
    from logpump_spark.tables import load

    ev = load(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "ev_src")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(f"{src}/a")
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(f"{src}/b")

    def cells(df):
        ms = F.floor(F.col("value") * 10).cast("long")
        return (
            df.select("event_type", timing_bin(ms).alias("b"))
            .groupBy("event_type", "b")
            .count()
        )

    union = spark.read.parquet(f"{src}/a", f"{src}/b")
    batch = Counter(
        {(r["event_type"], r["b"]): r["count"] for r in cells(union).collect()}
    )

    merged: Counter = Counter()
    n_batches = []

    def sink(df, epoch_id):
        rows = cells(df).collect()
        if rows:
            n_batches.append(epoch_id)
        for r in rows:
            merged[(r["event_type"], r["b"])] += r["count"]

    stream = (
        spark.readStream.schema(union.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    assert len(n_batches) >= 2, "expected at least two micro-batches"
    assert merged == batch


def test_stream_parse_plane_has_no_repartition(spark, tmp_path):
    # parse_records uses the split projection (one round-robin
    # exchange) for a batch frame, but the fused shape for a streaming
    # one (it reads df.isStreaming) — the storm the split avoids
    # amortizes once per process while the exchange would recur EVERY
    # micro-batch.  Pin the streaming plan exchange-free in the parse
    # region so a future edit to that choice fails here, with a
    # positive control proving the detector would see the exchange if
    # it came back.
    d = _dirs(tmp_path)
    writer = build_techlog_stream(
        spark, d["in"], d["out"], d["ckpt"],
        table_map=TABLE_MAP, default_table="tech_log", available_now=True,
    )
    plan = writer._df._jdf.queryExecution().analyzed().toString()
    assert "Repartition" not in plan, plan
    # positive control: the batch split shape DOES carry the exchange
    from logpump_spark.techlog.parser import parse_records

    batch = spark.createDataFrame(
        [("a,b", "f.log")], "record string, filename string"
    )
    split_plan = (
        parse_records(batch, split_stages=True)
        ._jdf.queryExecution().analyzed().toString()
    )
    assert "Repartition" in split_plan, split_plan
